#!/usr/bin/env python3
"""Pin the analytics workload's query set and per-query row counts.

    python3 perfbench/pin.py

Run from the repository root after a change to the engine's query
inventory or to the generated corpus (perfbench/src/perfbench/Gen.scala).
It runs every candidate query twice, cold, on the generated sf0.1 corpus
(perfbench.Main pin), then derives row counts with DuckDB from
SparkEntry.oracleSql where an oracle exists, and rewrites
perfbench/pinned.json. A query is left out of the pass when it is excluded
by rule (module or name), fails, writes outside the checkout, returns a
different row count on its second run, or disagrees with its oracle.
"""
import json
import shutil
import sys

import duckdb

import run as launcher

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


def main():
    classes = launcher.build()
    work = launcher.BUILD / "pin"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    raw_path = work / "pin_raw.json"
    data = launcher.BUILD / "data"
    rc = launcher.java(classes, ["pin", "--out", str(raw_path), "--work", str(work),
                                 "--data", str(data)], work, 3000)
    if rc != 0:
        launcher.fail(f"pin JVM exited with {rc}")
    raw = json.loads(raw_path.read_text())
    sf = next(data.glob("*-sf0.1"))
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet/*.parquet')")
    queries, excluded = {}, {}
    for q, e in sorted(raw.items()):
        if "excluded" in e:
            excluded[q] = e["excluded"]
        elif "error" in e:
            excluded[q] = f"fails on the generated corpus: {e['error'][:160]}"
        elif "writes_outside" in e:
            excluded[q] = ("writes under /tmp (an engine-hard-coded scratch path), "
                           "outside the benchmark's checkout")
        elif e["rows"] != e["rows_again"]:
            excluded[q] = f"row count differs between runs ({e['rows']} vs {e['rows_again']})"
        else:
            entry = {"module": e["module"], "rows": e["rows"], "cost_s": round(e["cost_s"], 4)}
            if "oracle" in e:
                try:
                    n = con.execute(f"SELECT count(*) FROM ({e['oracle']}) AS o").fetchone()[0]
                except duckdb.Error as err:
                    excluded[q] = f"oracle fails in DuckDB on the generated corpus: {str(err)[:120]}"
                    continue
                if n != e["rows"]:
                    excluded[q] = f"engine returns {e['rows']} rows, DuckDB oracle {n}"
                    continue
                entry["pinned_by"] = "duckdb oracle"
            else:
                entry["pinned_by"] = "engine, two cold runs agree"
            queries[q] = entry
    out = {
        "generator": sf.name,
        "how": ("rows: DuckDB count of SparkEntry.oracleSql over the generated corpus where "
                "an oracle exists (and the engine agrees), else the engine's count, equal on "
                "two cold runs; cost_s: the first cold run's wall time on the machine that ran pin.py, "
                "used only to stratify the pass order. Regenerate with perfbench/pin.py."),
        "queries": queries,
        "excluded": excluded,
    }
    path = launcher.BENCH / "pinned.json"
    path.write_text(json.dumps(out, indent=1, sort_keys=True) + "\n")
    by_oracle = sum(1 for v in queries.values() if v["pinned_by"] == "duckdb oracle")
    print(f"pinned {len(queries)} queries ({by_oracle} by DuckDB oracle), "
          f"excluded {len(excluded)} -> {path}")
    shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
