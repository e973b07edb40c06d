"""DuckDB oracle and result comparison for the benchmark's output checks.

    python3 perfbench/oracle.py [--corrupt]

A child of the benchmark process. It reads one JSON request per line on
standard input and answers each with one JSON line on standard output:

  {"twins": [{"views": {name: parquet path or glob}, "queries": {name: sql}}]}
      Makes each view a DuckDB view over its parquet files (hive partition
      columns kept as strings), runs each query on its job's views and
      keeps the result under the query's name. Answers {"done": n}.
  {"compare": name, "path": dir}
      Compares the Spark result written as parquet under `dir` with the
      kept twin `name`, using tools/check.py's cmp_frames with the rows of
      both sides sorted first (a result is checked as a multiset of rows).
      Answers {"ok": bool, "msg": text}.

--corrupt spoils every kept twin (an extra column), so every comparison
fails; the benchmark's tests use it to show the checks are not vacuous.
"""
import glob
import json
import os
import sys
import time

import duckdb
import pandas as pd

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))
from check import cmp_frames, norm  # noqa: E402


def by_rows(df, by_value):
    """`df` with its columns in name order and its rows sorted, by their
    values or else by their printed values: the form both sides are
    compared in."""
    df = norm(df)
    if by_value:
        return df.sort_values(list(df.columns), kind="mergesort").reset_index(drop=True)
    keys = [tuple(str(v) for v in row) for row in df.itertuples(index=False)]
    order = sorted(range(len(df)), key=keys.__getitem__)
    return df.iloc[order].reset_index(drop=True)


def compare(spark_df, twin):
    """(ok, message) for a Spark result against its twin's result, or
    against the reason the twin could not be computed."""
    if isinstance(twin, str):
        return False, f"oracle twin failed: {twin}"
    try:
        a, b = by_rows(spark_df, True), by_rows(twin, True)
    except (TypeError, ValueError):  # values that do not order: arrays, structs
        a, b = by_rows(spark_df, False), by_rows(twin, False)
    return cmp_frames(a, b)


def read_result(path):
    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    if not files:
        raise FileNotFoundError(f"no parquet under {path}")
    return pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)


def run_twins(jobs, kept, corrupt):
    for job in jobs:
        con = duckdb.connect()
        con.execute("SET TimeZone = 'UTC'")
        con.execute("SET threads = 2")
        for name, path in job["views"].items():
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}', "
                        "hive_partitioning = true, hive_types_autocast = false)")
        for name, sql in job["queries"].items():
            t0 = time.time()
            try:
                df = con.execute(sql).fetchdf()
                if corrupt:
                    df["perfbench_corrupt"] = 0
                kept[name] = df
            except Exception as e:  # one broken twin must not hide the others
                kept[name] = f"{type(e).__name__}: {e}"[:300]
            print(f"[perfbench] oracle {name:<40} {time.time() - t0:8.3f} s", file=sys.stderr)
        con.close()
    return {"done": sum(len(j["queries"]) for j in jobs)}


def serve(requests, reply, corrupt=False):
    kept = {}
    for line in requests:
        req = json.loads(line)
        if "twins" in req:
            reply(run_twins(req["twins"], kept, corrupt))
        else:
            t0 = time.time()
            try:
                ok, msg = compare(read_result(req["path"]), kept.get(req["compare"], "no twin"))
            except Exception as e:
                ok, msg = False, f"compare threw {type(e).__name__}: {e}"
            print(f"[perfbench] compared {req['compare']:<38} {time.time() - t0:8.3f} s", file=sys.stderr)
            reply({"ok": bool(ok), "msg": msg[:300]})


def main(argv):
    def reply(obj):
        sys.stdout.write(json.dumps(obj) + "\n")
        sys.stdout.flush()
    serve(sys.stdin, reply, corrupt="--corrupt" in argv)


if __name__ == "__main__":
    main(sys.argv[1:])
