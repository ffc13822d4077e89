"""The spark-sep benchmark: `python3 perfbench/run.py --workload NAME`.

See perfbench/README.md for the workloads, metrics and protocol."""
