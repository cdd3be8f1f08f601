"""The repo's benchmark: workloads, fixtures, tracing and the runner
(``python3 perfbench/run.py``).  See README.md in this directory."""
