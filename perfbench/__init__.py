"""Fresh-process benchmark of spark-graft; entry point ``perfbench/run.py``."""
