"""Benchmark for the IoT monitoring engine; entry point ``perfbench/run.py``."""
