"""End-to-end and per-layer benchmark of the KPI stream and the LLM-curation
query set; run it with `python3 perfbench/run.py --help`."""
