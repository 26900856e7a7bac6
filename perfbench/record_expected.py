#!/usr/bin/env python3
"""Record the result fingerprints that the benchmark's output check uses.

    python3 perfbench/record_expected.py

Run from the root of a checkout, after a change to a query's result. For
each data set the benchmark reads, it runs every query of the workloads
that read it once, writes the results and their oracle SQL, compares each
with its DuckDB oracle the way tools/compare.py does (same canonical
ordering, exact values), and only when all of them match writes
perfbench/expected.txt: `<data set> <query> <rows> <hash>` per line.
"""
import json
import sys

import run

sys.path.insert(0, str(run.ROOT / "tools"))
import compare  # noqa: E402  (tools/compare.py, the repo's DuckDB gate)

# The data sets each query workload reads (run.SIZES); sf0.001 serves the
# quick test, which runs both.
DATA = {"sf0.1": ["dashboard_reads"], "sf0.01": ["analytics_heavy"],
        "sf0.001": ["dashboard_reads", "analytics_heavy"]}


def check(sf_dir, out_dir, queries):
    """The comparison of tools/compare.py over the tables this data set
    holds (it keeps only the tables its workloads read)."""
    con = compare.duckdb.connect()
    for t in compare.TABLES:
        if (sf_dir / f"{t}.parquet").exists():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    oracle = json.loads((out_dir / "oracle_sql.json").read_text())
    ok = True
    for q in queries:
        got = compare.canon(con.execute(f"SELECT * FROM '{out_dir}/{q}/*.parquet'").df())
        exp = compare.canon(con.execute(oracle[q]).df())
        try:
            assert list(got.columns) == list(exp.columns), "columns differ"
            assert len(got) == len(exp), "row counts differ"
            compare.pd.testing.assert_frame_equal(got, exp, check_dtype=False, check_exact=True)
            print(f"PASS {sf_dir.name} {q} ({len(got)} rows)")
        except AssertionError as ex:
            ok = False
            print(f"FAIL {sf_dir.name} {q}: {str(ex)[:300]}")
    return ok


def main():
    home = run.spark_home()
    out = run.build_dir()
    classes = run.build(out, home)
    lines = ["# <data set> <query> <rows> <hash>: written by record_expected.py after"
             " every result matched its DuckDB oracle"]
    for data, workloads in DATA.items():
        sf_dir = run.HERE / "data" / data
        res_dir = run.launch(out, classes, home, f"record-{data}", [
            "--workload", "record", "--data", str(sf_dir), "--queries", ",".join(workloads)])
        fps = json.loads((res_dir / "result.json").read_text())["fingerprints"]
        if not check(sf_dir, res_dir, list(fps)):
            run.fail(f"{data}: results differ from the DuckDB oracle; nothing recorded")
        lines += [f"{data} {q} {fps[q][0]} {fps[q][1]}" for q in sorted(fps)]
    (run.HERE / "expected.txt").write_text("\n".join(lines) + "\n")
    print(f"recorded {len(lines) - 1} fingerprints")


if __name__ == "__main__":
    main()
