"""Whole-registry per-entry Spark-side timing sweep (round-13).

For every registry entry: warm the plan at sf0.001 (codegen), then ONE
noop-sink-timed run (guide §1.4 — count() prunes several entries'
pipelines) at the target dir, releasing persist seams and draining the
GC/cleaner backlog between entries (bench.gc_quiesce) so entry A's
garbage is never billed to entry B.

Usage: python tools/sweep_registry.py [sf_dir] [out.json] [name ...]
Defaults: .scratch/sf1, /tmp/sweep.json, all entries.
"""

from __future__ import annotations

import json
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from jira_scraper_etl_spark import plans  # noqa: E402
from jira_scraper_etl_spark.seams import release_seams  # noqa: E402
from jira_scraper_etl_spark.session import get_spark  # noqa: E402

from bench import gc_quiesce  # noqa: E402


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else ".scratch/sf1"
    out_path = sys.argv[2] if len(sys.argv) > 2 else "/tmp/sweep.json"
    names = sys.argv[3:] or list(plans.QUERIES)
    spark = get_spark("sweep")
    spark.sparkContext.setLogLevel("ERROR")
    out: dict[str, float | str] = {}
    for name in names:
        fn = plans.QUERIES[name].fn
        try:
            fn(spark, "/root/testdata/sf0.001").count()
        except Exception as e:  # noqa: BLE001 — a silent mis-warm hides
            # cold-codegen time inside the timed run (ADVICE r13 #4)
            print(f"# warm {name}: {type(e).__name__}: {e}", file=sys.stderr)
        release_seams()
        gc_quiesce(spark, pause=0.4)
        spark.sparkContext.setJobDescription(f"sweep: {name}")
        t0 = time.perf_counter()
        try:
            df = fn(spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
        except Exception as e:
            out[name] = f"error: {type(e).__name__}: {str(e)[:120]}"
        else:
            out[name] = round(time.perf_counter() - t0, 3)
        spark.sparkContext.setJobDescription(None)
        print(f"# {name}: {out[name]}", file=sys.stderr)
        release_seams()
        with open(out_path, "w") as f:
            json.dump(out, f, indent=1)
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
