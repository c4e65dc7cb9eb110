#!/usr/bin/env python3
"""Record the DuckDB baseline for the headline queries (BASELINE.md).

Usage: python3 tools/bench_baseline.py <sfDir> <verifyOutDir> [q1,q2,...]
<verifyOutDir> must contain oracle_sql.json and headline.json from a full
graft.Verify run (the oracle SQL is the semantics-identical DuckDB twin of
each query; headline.json lists SparkEntry.headline). The optional third
argument replaces the headline list.
Per query: 3 runs in one warm process, best kept — the same best-of
policy as Bench.scala's steady-state number.
"""
import sys, os, json, time
import duckdb


def main():
    sfdir, outdir = sys.argv[1], sys.argv[2]
    if len(sys.argv) > 3:
        headline = sys.argv[3].split(",")
    else:
        headline = json.load(open(os.path.join(outdir, "headline.json")))
    oracles = json.load(open(os.path.join(outdir, "oracle_sql.json")))
    missing = [q for q in headline if q not in oracles]
    if missing:
        sys.exit(f"headline queries missing from oracle dump: {missing}")
    con = duckdb.connect()
    con.execute("SET threads TO 32")
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]:
        p = os.path.join(sfdir, f"{t}.parquet")
        if os.path.isdir(p):  # Spark-written table = directory of parts
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}/*.parquet')")
        elif os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    total = 0.0
    for name in headline:
        times = []
        for _ in range(3):
            t0 = time.time()
            con.execute(oracles[name]).fetchall()
            times.append(time.time() - t0)
        best = min(times)
        total += best
        print(f"{name:24s} best={best:7.3f}  runs={[round(x, 3) for x in times]}")
    print(f"{'total':24s} best={total:7.3f}")

if __name__ == "__main__":
    main()
