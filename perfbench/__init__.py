"""The repository benchmark: three closed-loop workloads over a
generated sf0.1 corpus, run with ``python3 perfbench/run.py``."""
