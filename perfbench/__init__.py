"""End-to-end benchmark of rtcdb_spark: read, kernel and ingest workloads.

Run it with ``python3 perfbench/run.py --workload <name> --seed <n>
--seconds <s> --trace <0|1>``; see ``run.py`` for what each workload does
and which metrics it prints.
"""
