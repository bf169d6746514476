"""End-to-end benchmark of the ingest, serve, RAG and curate jobs.

Run ``python3 perfbench/run.py --workload <name> --seed <n> --seconds <s>
--trace <0|1>``; see ``perfbench/README.md``.
"""
