"""End-to-end and per-layer benchmark of ``kartograph_spark.pipeline.run_pipeline``.

Run ``python3 perfbench/run.py --workload full_build --seed 1 --seconds 5
--trace 0`` from the repository root; see ``perfbench/README.md``.
"""
