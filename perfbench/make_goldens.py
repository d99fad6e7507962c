#!/usr/bin/env python3
"""Regenerate perfbench/goldens.json: the expected output of every operation.

Runs every workload twice, in two fresh JVMs with different seeds (so also
in different orders), and keeps a value only if both runs agree:
  - fixture tables: rows and order-insensitive row fingerprint,
  - queries: rows and sumhash of the harness fingerprint,
  - stagers: rows written and bytes of data files written.
It does not compare against an oracle; see README.md for how the committed
goldens were cross-checked against DuckDB.

Usage, from the root of the repository:

    python3 perfbench/make_goldens.py [workload ...]

With workload names, only those workloads are re-run and their values
merged into the existing file.
"""
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402


def values(rec):
    v = {"tables": dict(rec["tables"]), "queries": {}, "stagers": {}}
    for o in rec["ops"] + rec["staging"][-1]:
        if "error" in o:
            raise SystemExit(f"{o['op']} failed: {o['error']}")
    for o in rec["ops"]:
        v["queries"][o["op"]] = [o["rows"], o["sumhash"]]
    for o in rec["staging"][-1]:
        v["stagers"][o["op"]] = [rec["groups"].get(o["id"], 0), o["bytes"]]
    return v


def main():
    only = sys.argv[1:]
    out = {}
    if only:
        with open(run.GOLDENS) as f:
            out = json.load(f)
    for wl in only or sorted(run.WORKLOADS):
        sf = run.WORKLOADS[wl]["sf"]
        a, b = (values(run.run(wl, seed, 1, 0)[0]) for seed in (101, 202))
        if a != b:
            diff = [(k, n) for k in a for n in a[k] if a[k][n] != b[k].get(n)]
            raise SystemExit(f"{wl}: two fresh JVMs disagree on {diff}")
        g = out.setdefault(f"sf{sf}", {"tables": {}, "queries": {}, "stagers": {}})
        for k in g:
            g[k].update(a[k])
        run.log(f"{wl}: {len(a['queries'])} queries, {len(a['stagers'])} stagers agree")
    used = {q for w in run.WORKLOADS.values() for q in w["queries"]}
    for g in out.values():
        g["queries"] = {q: v for q, v in g["queries"].items() if q in used}
    with open(run.GOLDENS, "w") as f:
        f.write(render(out))


def render(goldens):
    """JSON with one table, query or stager per line."""
    parts = []
    for sf, g in sorted(goldens.items()):
        kinds = ",\n".join(
            f'  "{k}": {{\n' + ",\n".join(f"    {json.dumps(n)}: {json.dumps(v)}"
                                         for n, v in sorted(g[k].items())) + "\n  }"
            for k in sorted(g))
        parts.append(f'{json.dumps(sf)}: {{\n{kinds}\n}}')
    return "{" + ",\n".join(parts) + "}\n"


if __name__ == "__main__":
    main()
