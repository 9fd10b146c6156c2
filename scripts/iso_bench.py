#!/usr/bin/env python
"""Isolate one or more bench queries: same session/profile/timing as
bench.py (warm-up lap + best-of-3 on a noop sink), plus optional
explain("formatted") capture.

Usage:
  python scripts/iso_bench.py qid [qid ...] [--explain DIR] [--laps N]

Timing methodology matches bench.py exactly (every lap times fn()
plus the force), so numbers are comparable 1:1 with bench.py's
per-query entries.
"""
from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import _force  # noqa: E402
from duckdb_data_eng_proj_spark.queries import REGISTRY  # noqa: E402
from duckdb_data_eng_proj_spark.session import get_spark  # noqa: E402


def main() -> None:
    args = sys.argv[1:]
    explain_dir = None
    laps = 3
    if "--explain" in args:
        i = args.index("--explain")
        explain_dir = args[i + 1]
        del args[i : i + 2]
    if "--laps" in args:
        i = args.index("--laps")
        laps = int(args[i + 1])
        del args[i : i + 2]
    qids = args
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    latency = os.environ.get("SPARK_GRAFT_PROFILE", "latency") != "default"
    input_bytes = sum(
        os.path.getsize(os.path.join(sf_dir, f)) for f in os.listdir(sf_dir)
    )
    spark = get_spark(
        app_name="iso_bench", input_bytes=input_bytes, latency_profile=latency
    )
    spark.sparkContext.setLogLevel("ERROR")
    _force(REGISTRY["prj_star"].fn(spark, sf_dir))

    for qid in qids:
        spec = REGISTRY[qid]
        spark.sparkContext.setJobDescription(f"iso:{qid}")
        if explain_dir:
            os.makedirs(explain_dir, exist_ok=True)
            df = spec.fn(spark, sf_dir)
            with open(os.path.join(explain_dir, f"{qid}.txt"), "w") as fh:
                fh.write(df._sc._jvm.PythonSQLUtils.explainString(
                    df._jdf.queryExecution(), "formatted"))
        # warm-up lap (bench.py protocol)
        _force(spec.fn(spark, sf_dir))
        times = []
        for _ in range(laps):
            t0 = time.perf_counter()
            _force(spec.fn(spark, sf_dir))
            times.append(time.perf_counter() - t0)
        print(
            f"{qid}: best={min(times):.4f} laps="
            + ",".join(f"{t:.4f}" for t in times),
            flush=True,
        )


if __name__ == "__main__":
    main()
