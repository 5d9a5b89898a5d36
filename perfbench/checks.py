"""Reference checks for the graft benchmark, computed with DuckDB from the
plain parquet inputs the harness generated. None of them reads a graft
table: the harness dumps graft's outputs as plain parquet after the timed
phase, and each check compares a dump with the same result derived from
the inputs alone.

run(workload, record) -> {"ok", "failed_ops": [op seq...], "failures": [...]}
A failure names the check and the first line of what differed; a failure
that belongs to an operation (a read's result, a batch's verdicts, the
final table after the last write) fails that operation.
"""
import collections

import duckdb


def _cols(con, path):
    return [r[0] for r in con.execute(
        f"DESCRIBE SELECT * FROM read_parquet('{path}/*.parquet')").fetchall()]


def _fail(v, name, msg, seq=None):
    v["failures"].append({"check": name, "op": seq, "error": str(msg).splitlines()[0]})
    if seq is not None:
        v["failed_ops"].append(seq)


def _last(ops, cls):
    seqs = [o["seq"] for o in ops if o["cls"] == cls]
    return seqs[-1] if seqs else None


def ingest(con, rec, v):
    """Final row count and checksum, and every sampled read, equal the
    same query over the plain parquet batches appended so far."""
    f = rec["facts"]
    land = f"read_parquet('{f['landing']}/*/*.parquet', hive_partitioning = 1)"
    cols = _cols(con, f["final"])
    h = f"hash({', '.join(cols)})"
    per_b = {b: (n, s) for b, n, s in con.execute(
        f"SELECT b, count(*), sum({h}) FROM {land} GROUP BY b").fetchall()}
    mult = collections.Counter(f["applied"])
    want = (sum(m * per_b[b][0] for b, m in mult.items()),
            sum(m * per_b[b][1] for b, m in mult.items()))
    got = con.execute(f"SELECT count(*), coalesce(sum({h}), 0) FROM "
                      f"read_parquet('{f['final']}/*.parquet')").fetchone()
    v["final"] = {"rows": got[0], "expected_rows": want[0]}
    if tuple(got) != want:
        _fail(v, "ingest.final", f"final table rows/checksum {got} != reference {want}",
              _last(rec["ops"], "commit"))
    for s in f["scans"]:
        m = collections.Counter(f["applied"][:s["commits"]])
        rows = con.execute(
            f"SELECT b, count(*), coalesce(sum(l_linenumber), 0), coalesce(sum(l_partkey), 0) "
            f"FROM {land} WHERE l_orderkey BETWEEN {s['lo']} AND {s['hi']} GROUP BY b").fetchall()
        ref = [sum(m[row[0]] * row[1 + i] for row in rows) for i in range(3)]
        if list(s["result"]) != ref:
            _fail(v, "ingest.scan", f"read {s['lo']}..{s['hi']} after {s['commits']} commits: "
                  f"{s['result']} != reference {ref}", s["seq"])
    v["scans_checked"] = len(f["scans"])


def upsert(con, rec, v):
    """The final table equals a CDC apply of the same batches: per key
    the last change wins, a delete removes the key, keys never changed
    keep their base row."""
    f = rec["facts"]
    seq = ", ".join(f"({i}, {r})" for i, r in enumerate(f["applied"])) or "(0, -1)"
    cols = _cols(con, f["base"])
    sel = ", ".join(cols)
    con.execute(f"""CREATE OR REPLACE TEMP VIEW expected AS
        WITH applied(pos, r) AS (VALUES {seq}),
        ev AS (SELECT c.*, a.pos FROM read_parquet('{f['cdc']}/*/*.parquet',
                 hive_partitioning = 1) c JOIN applied a ON c.r = a.r),
        last AS (SELECT * FROM ev QUALIFY row_number() OVER
                 (PARTITION BY o_orderkey ORDER BY pos DESC) = 1)
        SELECT {sel} FROM read_parquet('{f['base']}/*.parquet')
          WHERE o_orderkey NOT IN (SELECT o_orderkey FROM last)
        UNION ALL SELECT {sel} FROM last WHERE op <> 'D'""")
    got = f"SELECT {sel} FROM read_parquet('{f['final']}/*.parquet')"
    extra = con.execute(f"SELECT count(*) FROM ({got} EXCEPT ALL SELECT * FROM expected)").fetchone()[0]
    miss = con.execute(f"SELECT count(*) FROM (SELECT * FROM expected EXCEPT ALL {got})").fetchone()[0]
    v["final"] = {"rows": con.execute(f"SELECT count(*) FROM ({got})").fetchone()[0],
                  "expected_rows": con.execute("SELECT count(*) FROM expected").fetchone()[0],
                  "unexpected": extra, "missing": miss}
    if extra or miss:
        _fail(v, "upsert.final", f"final table differs from the CDC apply: "
              f"{extra} unexpected rows, {miss} missing rows", _last(rec["ops"], "merge"))


# MinHash/LSH verdicts, as graft defines them: 3-word shingles of the
# lower-cased, space-split text; 64 permutations of the md5-derived
# shingle hash; 16 bands of 4; a near-dup is a state doc sharing a band
# whose signature agrees on at least half of the 64 positions.
SIGS = """
CREATE OR REPLACE TEMP TABLE sigs AS
WITH base AS (SELECT doc_id, part, string_split(lower(text), ' ') AS toks FROM docs),
sh AS (SELECT doc_id, part, list_transform(range(1, len(toks) - 1),
         i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2]) AS shingles
       FROM base WHERE len(toks) >= 3),
hs AS (SELECT doc_id, part, list_transform(shingles,
         s -> CAST(('0x' || substr(md5(s), 1, 8))::UBIGINT % 2147483647 AS BIGINT)) AS h
       FROM sh)
SELECT doc_id, part, list_transform(range(0, 64), i -> list_aggregate(
  list_transform(h, x -> ((2 * i + 1) * x + i + 1) % 2147483647), 'min')) AS sig
FROM hs;
CREATE OR REPLACE TEMP TABLE bands AS
SELECT doc_id, part, band, sig[band * 4 + 1] AS s0, sig[band * 4 + 2] AS s1,
       sig[band * 4 + 3] AS s2, sig[band * 4 + 4] AS s3
FROM sigs CROSS JOIN (SELECT unnest(range(0, 16)) AS band) b;
"""

VERDICTS = """
WITH cand AS (
  SELECT DISTINCT x.doc_id AS doc_b, y.doc_id AS doc_c
  FROM bands x JOIN bands y ON x.band = y.band AND x.s0 = y.s0
    AND x.s1 = y.s1 AND x.s2 = y.s2 AND x.s3 = y.s3
  WHERE x.part = {part} AND y.doc_id IN (SELECT doc_id FROM state)),
est AS (
  SELECT c.doc_b, c.doc_c, CAST(len(list_filter(range(1, 65),
    i -> a.sig[i] = b.sig[i])) AS DOUBLE) / 64 AS est
  FROM cand c JOIN sigs a ON a.doc_id = c.doc_b JOIN sigs b ON b.doc_id = c.doc_c),
ver AS (SELECT doc_b, count(DISTINCT doc_c) AS n, max(est) AS m
        FROM est WHERE est >= 0.5 GROUP BY 1)
SELECT d.doc_id, coalesce(v.n, 0) AS n_near_dups, round(v.m, 6) AS best_sim,
       (v.doc_b IS NOT NULL) AS is_near_dup
FROM docs d LEFT JOIN ver v ON v.doc_b = d.doc_id
WHERE d.part = {part} ORDER BY d.doc_id
"""


def neardup(con, rec, v):
    """Each batch's verdicts equal a sequential evaluation against the
    state as it stood: the initial corpus, plus each batch's admitted
    docs, minus each erase. Twins of erased docs must be admitted."""
    f = rec["facts"]
    batches = f["batches"]
    con.execute(f"""CREATE OR REPLACE TEMP TABLE docs AS
        SELECT doc_id, text, part FROM read_parquet('{f['docs']}/*/*.parquet',
        hive_partitioning = 1) WHERE part <= {batches}""")
    con.execute(SIGS)
    con.execute("CREATE OR REPLACE TEMP TABLE state AS "
                "SELECT doc_id FROM sigs WHERE part = 0")
    got = collections.defaultdict(list)
    for row in con.execute(
            f"SELECT batch_id, doc_id, n_near_dups, round(best_sim, 6), is_near_dup "
            f"FROM read_parquet('{f['final']}/*.parquet') ORDER BY batch_id, doc_id").fetchall():
        got[row[0]].append(tuple(row[1:]))
    erased_after = {e["after_batch"]: e["ids"] for e in f["erasures"]}
    # the recorded batches are the last ones; a wrong verdict of a
    # warm-up batch fails the last batch, the write that left the final
    # verdict table
    batch_ops = [o["seq"] for o in rec["ops"] if o["cls"] == "batch"]
    first_recorded = batches - len(batch_ops)
    flagged = total = 0
    for b in range(batches):
        want = [tuple(r) for r in con.execute(VERDICTS.format(part=b + 1)).fetchall()]
        total += len(want)
        flagged += sum(1 for r in want if r[3])
        seq = (batch_ops[b - first_recorded] if b >= first_recorded
               else _last(rec["ops"], "batch"))
        if got.get(b, []) != want:
            diff = sorted(set(got.get(b, [])) ^ set(want))
            _fail(v, "neardup.verdicts", f"batch {b}: {len(diff)} verdict rows differ, "
                  f"first {diff[0] if diff else None}", seq)
        if b - 1 in erased_after:
            twins = [r for r in got.get(b, []) if r[0] >= 2000000 and r[3]]
            if twins:
                _fail(v, "neardup.erased_twins",
                      f"batch {b}: {len(twins)} twins of erased docs flagged", seq)
        con.execute(f"""INSERT INTO state SELECT doc_id FROM docs WHERE part = {b + 1}
            AND doc_id NOT IN (SELECT doc_id FROM ({VERDICTS.format(part=b + 1)})
                               WHERE is_near_dup)""")
        if b in erased_after:
            ids = ", ".join(str(i) for i in erased_after[b]) or "-1"
            con.execute(f"DELETE FROM state WHERE doc_id IN ({ids})")
    v["batches_checked"] = batches
    v["reference_flag_ratio"] = flagged / total if total else 0.0


def run(workload, rec):
    v = {"ok": True, "failed_ops": [], "failures": []}
    con = duckdb.connect()
    con.execute("SET threads = 2")
    try:
        {"ingest": ingest, "upsert": upsert, "neardup": neardup}[workload](con, rec, v)
    except Exception as e:  # a check that cannot run is a failed check
        _fail(v, f"{workload}.check", f"{type(e).__name__}: {e}")
    finally:
        con.close()
    v["ok"] = not v["failures"]
    return v
