"""Seeded end-to-end benchmark of the pet distributor: ingest, serve and
curate workloads, with a separate traced run for per-layer metrics.
Entry point: ``python3 perfbench/run.py --workload <name> --seed <n>``."""
