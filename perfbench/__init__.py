"""The repository's benchmark: workloads, host probes and the Spark
event-log reader behind ``python3 perfbench/run.py``."""
