"""Capture `.explain("formatted")` output for named registry queries.

Usage: python tools/capture_plans.py <out_dir> <suffix> <query> [query ...]

Writes <out_dir>/<query>_<suffix>.txt for each query.  Plans are captured
at $SPARK_GRAFT_SF_DIR (default sf0.1 -- the driver's bench scale, so the
plan shape matches what the bench actually runs).  Plan capture is
analysis-only: no query executes, so this is safe to run alongside other
work (it is NOT a timing tool).

Streaming-twin queries (*_stream) EXECUTE their streaming drain inside the
query function before returning the read-back DataFrame, so their captured
plan covers only the final batch read-back, not the drain.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from odp_dynamic_data_pipeline_spark.queries import SPARK_QUERIES  # noqa: E402
from odp_dynamic_data_pipeline_spark.session import get_spark  # noqa: E402


def main() -> None:
    if len(sys.argv) < 4:
        raise SystemExit(__doc__)
    out_dir, suffix, names = sys.argv[1], sys.argv[2], sys.argv[3:]
    unknown = [n for n in names if n not in SPARK_QUERIES]
    if unknown:
        raise SystemExit(f"unknown queries: {unknown}")
    os.makedirs(out_dir, exist_ok=True)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = get_spark("capture_plans", master=f"local[{cpus}]")
    spark.sparkContext.setLogLevel("ERROR")
    for name in names:
        df = SPARK_QUERIES[name](spark, sf_dir)
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
        )
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"wrote {path} ({len(plan)} chars)")
    spark.stop()


if __name__ == "__main__":
    main()
