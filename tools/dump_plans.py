"""Dump .explain('formatted') for named registry entries to files.

Usage: python tools/dump_plans.py <out_dir> <suffix> name [name ...]
Writes <out_dir>/<name>_<suffix>.txt for each entry (sf0.1 plans —
plan SHAPE is SF-independent apart from fan-out/broadcast gates, and
sf0.1 is the driver's bench SF).
"""

from __future__ import annotations

import os
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from jira_scraper_etl_spark import plans  # noqa: E402
from jira_scraper_etl_spark.seams import release_seams  # noqa: E402
from jira_scraper_etl_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> int:
    out_dir, suffix = sys.argv[1], sys.argv[2]
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark("dump_plans")
    spark.sparkContext.setLogLevel("ERROR")
    for name in sys.argv[3:]:
        df = plans.QUERIES[name].fn(spark, SF_DIR)
        txt = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted")
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(txt)
        print(f"wrote {path} ({txt.count('Exchange')} Exchange refs)")
        release_seams()
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
