"""Quiet repeated-median timing for named registry entries (round-14).

Like sweep_registry.py but runs each entry ``RUNS`` times (noop sink,
guide §1.4) and reports every run plus the median — the protocol the
round-13 verdict asked for on the sf1 outliers (a single sweep reading
on a churning box is not evidence; a repeated median in one session is).

Usage: python tools/measure_quiet.py [sf_dir] [out.json] name [name ...]
"""

from __future__ import annotations

import json
import statistics
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from jira_scraper_etl_spark import plans  # noqa: E402
from jira_scraper_etl_spark.seams import release_seams  # noqa: E402
from jira_scraper_etl_spark.session import get_spark  # noqa: E402

from bench import gc_quiesce  # noqa: E402

RUNS = 3


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else ".scratch/sf1"
    out_path = sys.argv[2] if len(sys.argv) > 2 else "/tmp/measure.json"
    names = sys.argv[3:]
    spark = get_spark("measure")
    spark.sparkContext.setLogLevel("ERROR")
    out: dict[str, dict] = {}
    for name in names:
        fn = plans.QUERIES[name].fn
        try:
            fn(spark, "/root/testdata/sf0.001").count()  # codegen warm
        except Exception as e:  # noqa: BLE001 — warm failure must be visible
            print(f"# warm {name}: {type(e).__name__}: {e}", file=sys.stderr)
        release_seams()
        gc_quiesce(spark)
        runs: list[float] = []
        for _ in range(RUNS):
            spark.sparkContext.setJobDescription(f"measure: {name}")
            t0 = time.perf_counter()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            runs.append(round(time.perf_counter() - t0, 3))
            spark.sparkContext.setJobDescription(None)
            release_seams()
            gc_quiesce(spark)
        out[name] = {"runs": runs,
                     "median": round(statistics.median(runs), 3)}
        print(f"# {name}: {out[name]}", file=sys.stderr)
        with open(out_path, "w") as f:
            json.dump(out, f, indent=1)
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
