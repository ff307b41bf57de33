"""osmgraft benchmark: seeded workloads, output checks and a traced per-layer run.

Entry point: ``python3 perfbench/run.py --workload <name> --seed <n>
--seconds <s> --trace <0|1>``. See ``perfbench/README.md``.
"""
