#!/usr/bin/env python3
"""Write perfbench/expected/answers.json from the DuckDB oracle.

    python3 perfbench/tools/make_expected.py

Builds the program, runs `perfbench.Record` to get the query sets with their
oracle SQL and the program's own answers, then recomputes each answer that
has oracle SQL in DuckDB over the committed tables, with the same view
set-up as scripts/local_verify.py. An answer without oracle SQL keeps the
program's recorded digest ("pinned"). Disagreements between the program and
DuckDB are printed. Needs the `duckdb` Python package.
"""
import json
import os
import shutil
import sys
import time

import duckdb

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, BENCH)
import build  # noqa: E402
import run  # noqa: E402
from benchlib.digest import csv_answer, typed_answer  # noqa: E402

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def record(data):
    """The program's query sets and answers, as perfbench.Record writes them."""
    classes = build.build()
    work = os.path.join(build.ROOT, ".bench_work", f"record-{os.getpid()}")
    os.makedirs(work)
    try:
        out = os.path.join(work, "recorded.json")
        rc = run.run_jvm(run.jvm("perfbench.Record", [data, work, out], classes, work),
                         time.monotonic() + 600)
        if rc != 0:
            sys.exit(f"perfbench.Record exited with {rc}")
        with open(out) as f:
            return json.load(f)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def main():
    data = os.path.join(BENCH, "data", "sf0.01")
    recorded = record(data)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    out, differ = {}, 0
    for workload, queries in sorted(recorded.items()):
        out[workload] = {}
        for name, q in sorted(queries.items()):
            entry = {"sql": q["sql"], "rows": q["rows"], "digest": q["digest"],
                     "source": "pinned"}
            if q["sql"] is not None:
                rel = con.execute(q["sql"])
                rows = rel.fetchall()
                if workload == "sql_analyst":
                    n, digest = csv_answer(rows)
                else:
                    n, digest = typed_answer([d[0] for d in rel.description], rows)
                entry.update(rows=n, digest=digest, source="duckdb")
                if (n, digest) != (q["rows"], q["digest"]):
                    differ += 1
                    print(f"DIFFER {workload}/{name}: program {q['rows']} {q['digest']}"
                          f" duckdb {n} {digest}", file=sys.stderr)
            out[workload][name] = entry
    path = os.path.join(BENCH, "expected", "answers.json")
    with open(path, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"wrote {path}: {sum(len(v) for v in out.values())} answers, {differ} differ")


if __name__ == "__main__":
    main()
