#!/usr/bin/env python3
"""Pin the canonical output digest of every checked query operation.

    python3 perfbench/pin.py

Runs the harness once in pin mode (each operation's result written once,
no timing), digests every result in tools/check.py's canonical form and
cross-checks it against the DuckDB oracle (`SparkEntry.oracleSql`) over
the same sf0.1 tables with tools/check.py's `canon` and `cells_equal`.
Writes digests.json; exits non-zero if an oracle disagrees.
"""
import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import checks  # noqa: E402
import run  # noqa: E402


def oracle_verdict(con, sql, df):
    """tools/check.py's comparison of a Spark result with its oracle."""
    try:
        odf = con.execute(sql).fetchdf()
    except Exception as e:  # report, do not pin over it
        return f"error: {type(e).__name__}: {e}"
    (a_str, a_raw), (b_str, b_raw) = checks.canon(df), checks.canon(odf)
    if list(a_str.columns) != list(b_str.columns):
        return f"mismatch: columns {list(b_str.columns)} != {list(a_str.columns)}"
    if len(a_str) != len(b_str):
        return f"mismatch: {len(b_str)} oracle rows != {len(a_str)}"
    for i in range(len(a_raw)):
        if not all(checks.cells_equal(a_raw.iat[i, j], b_raw.iat[i, j])
                   for j in range(a_raw.shape[1])):
            return f"mismatch: {a_str.loc[i].to_dict()} != {b_str.loc[i].to_dict()}"
    return "match"


def main():
    cp = build.build(run.DATA, run.HEAP)
    work = os.path.join(build.build_dir(), "work", "pin")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    raw = run.launch(cp, work, ["--pin"], timeout=900)
    con = checks.duckdb.connect()
    for f in sorted(os.listdir(run.DATA)):
        con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM read_parquet('{run.DATA}/{f}')")
    pins, bad = {}, []
    for op in sorted(raw["checked"]):
        df = checks.result_frame(con, os.path.join(work, "results", op))
        sql = raw["oracle_sql"].get(op)
        verdict = oracle_verdict(con, sql, df) if sql else "none"
        pins[op] = {"digest": checks.digest(df), "rows": len(df), "oracle": verdict}
        print(f"{op:24s} {len(df):7d} rows  oracle: {verdict[:150]}")
        if verdict != "match" and verdict != "none":
            bad.append(op)
    missing = [s["name"] for s in raw["spans"] if s["error"]]
    with open(checks.DIGESTS, "w") as fh:
        json.dump(pins, fh, indent=1, sort_keys=True)
        fh.write("\n")
    shutil.rmtree(work, ignore_errors=True)
    if bad or missing:
        sys.exit(f"oracle disagreement: {bad}; failed: {missing}")


if __name__ == "__main__":
    main()
