"""Output checks: every timed op's output against a reference computed
without the engine. A failed check counts the op as failed.

- query results: the first draw of each query against its DuckDB oracle
  over the same generated parquet (the harness fails any later draw that
  differs from the first, and any query without an oracle that returns
  no rows);
- MapReduce jobs: WordCount's distinct and total token counts and the
  inverted index's posting counts against DuckDB's own tokenization;
- lake reads: against the lake model (lake.py).
"""
import math
import os

import duckdb
import pyarrow.parquet as pq

import lake

# dd26's registry oracle compares all pairs of documents, which is
# quadratic; this one joins only pairs that share a shingle (any pair at
# Jaccard >= 0.5 shares one) and returns the same rows.
DD26_PAIRS_SHARING_A_SHINGLE = """WITH g AS (
  SELECT doc_id,
    CASE WHEN len(ws) >= 3
      THEN list_distinct(list_transform(range(1, len(ws) - 1),
             i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))
      ELSE [] END AS sh
  FROM (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ws
        FROM documents) t),
ne AS (SELECT * FROM g WHERE len(sh) > 0),
s AS (SELECT doc_id, unnest(sh) AS x FROM ne),
c AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS inter
      FROM s a JOIN s b ON a.x = b.x AND a.doc_id < b.doc_id GROUP BY 1, 2)
SELECT c.a_id, c.b_id, c.inter / (len(a.sh) + len(b.sh) - c.inter) AS jaccard
FROM c JOIN ne a ON a.doc_id = c.a_id JOIN ne b ON b.doc_id = c.b_id
WHERE c.inter / (len(a.sh) + len(b.sh) - c.inter) >= 0.5
ORDER BY a_id, b_id"""
ORACLE_OVERRIDES = {"dd26_dedup_minhash_lsh": DD26_PAIRS_SHARING_A_SHINGLE}

TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings"]


def _connect(data):
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    for t in TABLES:
        path = f"{data}/{t}.parquet"
        if os.path.isdir(path):
            path += "/*.parquet"
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    return con


def _norm(v):
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    if isinstance(v, list):
        return [_norm(x) for x in v]
    return v


def compare(con, sql, path):
    """None when the result at `path` equals the oracle's, else why not."""
    want = con.execute(sql).fetch_arrow_table()
    got = pq.read_table(path)
    wcols, gcols = sorted(want.column_names), sorted(got.column_names)
    if wcols != gcols:
        return f"columns differ: oracle={wcols} engine={gcols}"
    if want.num_rows != got.num_rows:
        return f"rows differ: oracle={want.num_rows} engine={got.num_rows}"
    for i, (w, g) in enumerate(zip(want.select(wcols).to_pylist(), got.select(gcols).to_pylist())):
        for c in wcols:
            if _norm(w[c]) != _norm(g[c]):
                return f"row {i} col {c}: oracle={w[c]!r} engine={g[c]!r}"
    return None


def _check_results(con, result, failed, notes):
    bad = set()
    oracled = 0
    for name, r in result.get("results", {}).items():
        if r["oracle"] is None:
            continue
        oracled += 1
        why = compare(con, ORACLE_OVERRIDES.get(name, r["oracle"]), r["path"])
        if why:
            bad.add(name)
            notes.append(f"{name}: {why}")
    for op in result["ops"]:
        if op["name"] in bad:
            failed.add(op["id"])
    return oracled


def _mapreduce_expected(con):
    words = "SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents"
    wc = con.execute(f"SELECT count(DISTINCT w), count(*) FROM ({words}) WHERE w <> ''").fetchone()
    ii = con.execute(f"SELECT count(DISTINCT w), count(*), sum(doc_id) FROM "
                     f"(SELECT DISTINCT doc_id, w FROM ({words}) WHERE w <> '')").fetchone()
    return {"core.MapReduce.runAssociative": [int(x) for x in wc],
            "core.MapReduce.run": [int(x) for x in ii]}


def check(workload, result, data, lake_state):
    """Returns (failed op ids, failure notes, what was checked)."""
    failed = {op["id"] for op in result["ops"] if not op["ok"]}
    notes = [f"op {op['id']} {op['name']}: {op['error']}" for op in result["ops"] if not op["ok"]]
    info = {}
    if lake_state is not None:
        plan, model = lake_state
        bad, why = lake.check(plan, model, result)
        failed |= bad - {-1}
        notes += why
        info["lake_reads_checked"] = sum(1 for op in result["ops"] if op["kind"] == "read")
    con = _connect(data)
    info["oracled_queries"] = _check_results(con, result, failed, notes)
    info["rows_only_queries"] = sum(1 for r in result.get("results", {}).values() if r["oracle"] is None)
    if workload == "scale_batch":
        want = _mapreduce_expected(con)
        info["mapreduce_expected"] = want
        for op in result["ops"]:
            if op["name"] in want and op["ok"] and op.get("out") != want[op["name"]]:
                failed.add(op["id"])
                notes.append(f"op {op['id']} {op['name']}: got {op.get('out')} want {want[op['name']]}")
    con.close()
    return failed, notes, info
