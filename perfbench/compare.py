"""Compare two sets of benchmark results, refusing results from other hosts.

    python3 perfbench/compare.py BASE_DIR NEW_DIR

Each directory holds result records written by run.py (the *.json files of
.perfbench_work/results/). For each workload and metric it prints both
medians and their ratio. Results whose host records differ in any of
host.HOST_KEYS are not compared: the exit code is 2.
"""

from __future__ import annotations

import json
import pathlib
import statistics
import sys
from collections import defaultdict

ROOT = pathlib.Path(__file__).resolve().parent.parent


def _load(paths) -> list[dict]:
    return [json.loads(pathlib.Path(p).read_text()) for p in paths]


def _medians(records: list[dict]) -> dict[tuple[str, str], float]:
    vals = defaultdict(list)
    for r in records:
        for k, v in r.get("values", {}).items():
            vals[(r["workload"], k)].append(v)
    return {k: statistics.median(v) for k, v in vals.items()}


def compare(base_paths, new_paths) -> list[tuple]:
    from perfbench.host import HOST_KEYS

    base, new = _load(base_paths), _load(new_paths)
    hosts = {
        json.dumps({k: r["host"].get(k) for k in HOST_KEYS}, sort_keys=True)
        for r in base + new
    }
    if len(hosts) != 1:
        print("refusing to compare results from different hosts:", file=sys.stderr)
        for h in sorted(hosts):
            print("  " + h, file=sys.stderr)
        raise SystemExit(2)
    b, n = _medians(base), _medians(new)
    rows = [(wl, k, b[(wl, k)], n[(wl, k)]) for wl, k in sorted(set(b) & set(n))]
    for wl, k, bv, nv in rows:
        ratio = f"{nv / bv:.3f}" if bv else "-"
        print(f"{wl:12s} {k:48s} {bv:14.4f} {nv:14.4f} {ratio}")
    return rows


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    base, new = (sorted(pathlib.Path(d).glob("*.json")) for d in argv)
    compare(base, new)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
