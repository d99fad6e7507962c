#!/usr/bin/env python3
"""Check that the metric names and units run.py prints, and its workload
names, match BENCHMARK.json. Exit 1 and list the differences if not.

Usage, from the root of the repository:  python3 perfbench/check_schema.py
"""
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402

errs = run.schema_errors()
for e in errs:
    print(e)
print(f"{len(run.END_TO_END)} end-to-end and {len(run.PER_LAYER)} per-layer metrics, "
      f"{len(run.WORKLOADS)} workloads: " + ("MISMATCH" if errs else "match BENCHMARK.json"))
sys.exit(1 if errs else 0)
