#!/usr/bin/env python3
"""Regenerate perfbench/expected.json, the fixed expected outputs.

    python3 perfbench/expect.py [scale]  (from the root of a checkout)

Records every dash_hot response and every pipeline_batch result once, checks
each against DuckDB before storing anything -- the dash_hot requests against
the generator's plain SQL (workloads.py), the pipeline queries against
`SparkEntry.oracleSql` -- and stores their digests under the data set's
name (sf0.1 or sf0.001). dash_adhoc needs no stored digests: its SQL runs
after each timed window. /cubes is schema metadata with no SQL equivalent; its digest
is stored unchecked.
"""
import base64
import hashlib
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import run as R  # noqa: E402


def record(workload, out, scale):
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                    "--seed", "1", "--seconds", "10", "--scale", scale, "--record", out],
                   check=False)
    with open(os.path.join(out, "record.json")) as f:
        return json.load(f)


# d22's oracle in SparkEntry compares every pair of surviving documents
# (12.5M pairs at sf0.1, hours in DuckDB). This statement gives the same
# Jaccard pairs from an inverted index over the same distinct 3-shingles:
# only pairs sharing a shingle are scored, and the shared count is the
# intersection size. expect.py at sf0.001 runs both and requires equality.
D22_SQL = """WITH RECURSIVE surv AS (SELECT doc_id, text FROM documents
  WHERE doc_id % 37 <> 0),
sh AS (SELECT doc_id,
  CASE WHEN len(string_split(text, ' ')) < 3 THEN []
  ELSE list_distinct(list_transform(
    range(1, len(string_split(text, ' ')) - 1),
    i -> array_to_string((string_split(text, ' '))[i:i+2], ' '))) END AS sh
  FROM surv),
tok AS (SELECT doc_id, len(sh) AS n, unnest(sh) AS s FROM sh WHERE len(sh) > 0),
inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i,
  ANY_VALUE(a.n) AS na, ANY_VALUE(b.n) AS nb
  FROM tok a JOIN tok b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
pairs AS (SELECT doc_a, doc_b FROM inter WHERE i / (na + nb - i) >= 0.5),
edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION ALL SELECT doc_b, doc_a FROM pairs),
reach(node, r) AS (
  SELECT doc_id, doc_id FROM surv
  UNION
  SELECT e.b, reach.r FROM reach JOIN edges e ON reach.node = e.a)
SELECT node AS doc_id, MIN(r) AS cluster_id
FROM reach GROUP BY node ORDER BY doc_id"""


def same_table(con, files, sql):
    """check_oracle.py's comparison: columns sorted by name, rows in order,
    values exactly equal."""
    spark = con.execute(f"SELECT * FROM read_parquet({files!r})").fetch_arrow_table()
    duck = con.execute(sql).fetch_arrow_table()
    cols = sorted(spark.column_names)
    if cols != sorted(duck.column_names):
        return f"columns {cols} vs {sorted(duck.column_names)}"
    a, b = spark.select(cols).to_pylist(), duck.select(cols).to_pylist()
    if len(a) != len(b):
        return f"{len(a)} rows vs {len(b)}"
    for i, (x, y) in enumerate(zip(a, b)):
        if x != y:
            return f"row {i}: {x} vs {y}"
    return None


def main():
    scale = sys.argv[1] if len(sys.argv) > 1 else "0.1"
    work = os.path.join(R.WORK, "expect", scale)
    bad = []
    hot = record("dash_hot", os.path.join(work, "dash_hot"), scale)
    oracle = R.Oracle(hot["data_dir"])
    reqs = hot["requests"]
    res = hot["result"]
    bodies = {b["req"]: base64.b64decode(b["body"]) for b in res["bodies"]}
    hot_digests = {}
    for i, r in enumerate(reqs):
        body = bodies[i]
        why = oracle.check(r, body) if r.get("check") else None
        if why:
            bad.append(f"dash_hot {r['id']}: {why}")
        hot_digests[r["id"]] = hashlib.sha256(body).hexdigest()
    pipe_dir = os.path.join(work, "pipeline_batch")
    pipe = record("pipeline_batch", pipe_dir, scale)
    pres = pipe["result"]
    sqls = dict(pres.get("oracle_sql", {}))
    if "d22_tombstone_delete" in sqls:
        if float(scale) <= 0.001:
            a = oracle.con.execute(sqls["d22_tombstone_delete"]).fetchall()
            if a != oracle.con.execute(D22_SQL).fetchall():
                bad.append("pipeline_batch d22_tombstone_delete: the inverted-index "
                           "statement differs from SparkEntry.oracleSql")
        sqls["d22_tombstone_delete"] = D22_SQL
    for n, sql in sqls.items():
        why = same_table(oracle.con, [os.path.join(pipe_dir, "parquet", n, f)
                                      for f in os.listdir(os.path.join(pipe_dir, "parquet", n))
                                      if f.endswith(".parquet")], sql)
        if why:
            bad.append(f"pipeline_batch {n}: {why}")
    missing = set(R.W.PIPELINE) - set(pres.get("oracle_sql", {}))
    bad += [f"pipeline_batch {n}: no oracle SQL" for n in sorted(missing)]
    for b in bad:
        print("MISMATCH:", b)
    if bad:
        sys.exit(1)
    path = os.path.join(HERE, "expected.json")
    expected = json.load(open(path)) if os.path.exists(path) else {}
    expected[hot["data_name"]] = {"dash_hot": hot_digests,
                                    "pipeline_batch": pres["digests"]}
    with open(path, "w") as f:
        json.dump(expected, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"wrote {len(hot_digests)} dash_hot and {len(pres['digests'])} pipeline digests")


if __name__ == "__main__":
    main()
