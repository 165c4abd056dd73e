"""Seeded benchmark for ceres_spark; entry point ``perfbench/run.py``."""
