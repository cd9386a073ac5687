"""Benchmark harness for lakeshack_spark (see ``perfbench/run.py``)."""
