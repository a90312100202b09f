"""Extraction benchmark for surya_spark; entry point is perfbench/run.py."""
