"""CLI pipeline runner -- the engine's equivalent of the reference's
``python src/main.py`` test driver (reference: src/main.py:37-42), plus the
TLB metrics job.

Usage:
    python -m odp_dynamic_data_pipeline_spark.plans PIPELINE.yaml \
        --hour 2024111612 --var data_dir=/data --var out_dir=/out \
        [--work-dir /work] [--tlb]
"""

from __future__ import annotations

import argparse

from odp_dynamic_data_pipeline_spark.plans.pipeline import load_pipeline
from odp_dynamic_data_pipeline_spark.session import get_spark


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("pipeline_yaml")
    ap.add_argument("--hour", default=None)
    ap.add_argument("--var", action="append", default=[], help="path var, k=v")
    ap.add_argument("--tlb", action="store_true", help="also run TLB metrics over the stage outputs")
    ap.add_argument("--master", default=None)
    ap.add_argument(
        "--work-dir", default=None,
        help="staging + checkpoint root for streaming stages, required when"
        " a stage streams; a stable path makes hourly re-runs incremental",
    )
    args = ap.parse_args()

    path_vars = dict(v.split("=", 1) for v in args.var)
    spark = get_spark("pipeline-run", master=args.master)
    pipe = load_pipeline(args.pipeline_yaml)
    outputs = pipe.run(spark, hour=args.hour, path_vars=path_vars, work_dir=args.work_dir)
    for name, df in outputs.items():
        print(f"stage {name}: {df.count()} rows")

    if args.tlb:
        from odp_dynamic_data_pipeline_spark.plans.tlb import tlb_metrics
        from odp_dynamic_data_pipeline_spark.sources.writers import write_keyed_object

        metrics = tlb_metrics(
            outputs["stage_1"], outputs["stage_2"], outputs["stage_3"]
        )
        keyed = write_keyed_object(metrics, "clientId")
        print(f"tlb_metrics: {len(keyed)} clients")
    spark.stop()


if __name__ == "__main__":
    main()
