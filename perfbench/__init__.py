"""Repository benchmark: four seeded workloads driven through the public
API of ``valico_spark``. Entry point: ``python3 perfbench/run.py``."""
