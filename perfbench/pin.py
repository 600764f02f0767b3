#!/usr/bin/env python3
"""Re-pin the row counts the benchmark checks query outputs against.

    python3 perfbench/pin.py sf0.01 [sf0.001 ...]

Run from the root of a checkout. For each corpus under perfbench/corpus/,
every query that has oracle SQL is pinned to the row count DuckDB returns
for that SQL; the others are pinned to the count graft returns at this
commit. Where DuckDB and graft disagree the script says so and exits 1,
writing nothing. Output: perfbench/pins/counts_<corpus>.json.
"""
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run as bench  # noqa: E402

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def main():
    classpath, graft_out = bench.build()
    deadline = bench.time.time() + 3600
    oracle = bench.oracle_sql(classpath, graft_out, deadline)
    bench.shutil.rmtree(os.path.join(bench.BUILD, "work", f"oracle-{os.getpid()}"),
                        ignore_errors=True)
    for name in sys.argv[1:]:
        corpus = os.path.join(bench.HERE, "corpus", name)
        work = os.path.join(bench.BUILD, "work", f"pin-{name}-{os.getpid()}")
        os.makedirs(work, exist_ok=True)
        qfile = os.path.join(work, "queries.txt")
        with open(qfile, "w") as f:
            f.write("\n".join(oracle["queries"]))
        _, res = bench.jvm(classpath, work, {
            "mode": "inventory", "passes": 0, "trace": 0, "queries": qfile,
            "corpus": corpus}, deadline)
        bench.shutil.rmtree(work, ignore_errors=True)
        spark = {o["name"]: o["rows"] for o in res["ops"] if o["pass"] == 0}
        errors = {o["name"]: o["error"] for o in res["ops"] if o["error"]}
        pins, bad = {}, []
        for q in oracle["queries"]:
            if q in errors:
                bad.append(f"{q}: graft failed: {errors[q]}")
                continue
            if q in oracle["oracle_sql"]:
                n = len(bench.duckdb_rows(oracle["oracle_sql"][q], corpus, TABLES)["rows"])
                if n != spark[q]:
                    bad.append(f"{q}: DuckDB {n} rows, graft {spark[q]}")
            else:
                n = spark[q]
            pins[q] = n
        if bad:
            print("\n".join(bad))
            sys.exit(1)
        out = os.path.join(bench.HERE, "pins", f"counts_{name}.json")
        os.makedirs(os.path.dirname(out), exist_ok=True)
        with open(out, "w") as f:
            json.dump(pins, f, indent=0, sort_keys=True)
            f.write("\n")
        print(f"{out}: {len(pins)} queries, "
              f"{sum(q in oracle['oracle_sql'] for q in pins)} from DuckDB")


if __name__ == "__main__":
    main()
