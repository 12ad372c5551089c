"""Repository benchmark: drives ``ocr_spark.job.main`` on seeded inputs.

Run ``python3 perfbench/run.py --workload <name> --seed <n> --seconds <s>
--trace <0|1>`` from the repository root (see run.py).
"""
