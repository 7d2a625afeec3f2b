"""Self-test of the correctness gate: a corrupted output row must fail it.

    python3 benchmark/selftest.py

Generates one small input, writes ``log_pipeline_full`` through
``registry.sink_queries()`` as the benchmark does, and checks that the gate
passes on the written output and fails on each of three corrupted copies:
one changed value, one dropped row, one duplicated row. Exits 0 only if
the gate behaves. Files stay under ``.bench_work/`` in the current
directory, which must be the root of a checkout.
"""

from __future__ import annotations

import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)


def main() -> int:
    from run import isolate, stop_spark

    root = os.getcwd()
    work = os.path.join(root, ".bench_work", f"selftest-{os.getpid()}")
    isolate(work, len(os.sched_getaffinity(0)))
    sys.path.insert(0, root)
    import pandas as pd
    from gate import compare, oracle_frame, read_parquet_dir

    from collector_spark import registry
    from collector_spark.session import get_spark

    subprocess.run(
        [sys.executable, os.path.join(HERE, "gen.py"), "tables", "--seed", "1",
         "--out", work, "--sets", "0:1", "--scale", "0.001"],
        check=True,
    )
    in_dir = os.path.join(work, "set000")
    registry.load_all()
    expected = oracle_frame(registry.driver_oracle_sql()["log_pipeline_full"], in_dir)
    spark = get_spark(app_name="bench-selftest")
    try:
        out = os.path.join(work, "out")
        registry.sink_queries()["log_pipeline_full"](spark, in_dir).write.parquet(out)
    finally:
        stop_spark(spark)
    actual = read_parquet_dir(out)

    changed = actual.copy()
    changed.loc[changed.index[len(changed) // 2], "content"] = "corrupted"
    cases = {
        "as written": (actual, True),
        "one value changed": (changed, False),
        "one row dropped": (actual.drop(actual.index[0]), False),
        "one row duplicated": (pd.concat([actual, actual.iloc[[0]]]), False),
    }
    ok = True
    for name, (frame, want) in cases.items():
        got = compare(frame, expected)
        good = got["ok"] is want
        ok &= good
        print(f"{'PASS' if good else 'FAIL'} {name}: gate ok={got['ok']}"
              f" mismatched_rows={got.get('mismatched_rows', 0)}")
    shutil.rmtree(work, ignore_errors=True)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
