"""Seeded end-to-end and per-layer benchmark for glm_ocr_spark.

Entry point: ``python3 perfbench/run.py --workload <name> --seed <n>
--seconds <s> --trace <0|1>`` from the repository root. See run.py.
"""
