"""In-memory spans around the benchmark's calls into each layer.

A span is (name, start, end, parent, run_id). Spans stay in memory and are
written once, when the run ends. With tracing off, ``span`` only yields and
``count`` never evaluates its argument, so the untraced run does the same
Spark work minus the counting jobs.
"""

from __future__ import annotations

import json
import re
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager

_SIZE = re.compile(r"([\d.]+) (B|KiB|MiB|GiB|TiB)")
_UNIT = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
# SQL plan metric names summed per span
SHUFFLE_METRIC = "shuffle bytes written"
SPILL_METRIC = "spill size"


def parse_size(text: str) -> float:
    """First size in a statusStore metric string. Multi-task metrics read
    'total (min, med, max ...)\\n<total> (<min>, ...)', so the first size
    is the total."""
    m = _SIZE.search(text)
    return float(m.group(1)) * _UNIT[m.group(2)] if m else 0.0


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.run_id = "setup"
        self.spans: list[dict] = []
        self.counts: dict[str, dict[str, float]] = defaultdict(dict)
        self.calls = 0  # layer calls made, traced or not
        self._stack: list[int] = []
        self._sql = spark._jsparkSession.sharedState().statusStore()

    def _executions(self) -> int:
        return int(self._sql.executionsCount())

    @contextmanager
    def span(self, name: str):
        self.calls += 1
        if not self.enabled:
            yield
            return
        rec = {
            "name": name,
            "run_id": self.run_id,
            "parent": self._stack[-1] if self._stack else None,
            "exec_from": self._executions(),
        }
        self._stack.append(len(self.spans))
        self.spans.append(rec)
        rec["start"] = time.perf_counter()
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            rec["exec_to"] = self._executions()
            self._stack.pop()

    def count(self, name: str, fn) -> None:
        """Record a count or ratio for the current run; ``fn`` runs only
        when tracing is on."""
        if self.enabled:
            self.counts[self.run_id][name] = float(fn())

    def _bytes(self, exec_from: int, exec_to: int) -> tuple[float, float]:
        shuffle = spill = 0.0
        if exec_to <= exec_from:
            return shuffle, spill
        execs = self._sql.executionsList(exec_from, exec_to - exec_from)
        for i in range(execs.size()):
            eid = execs.apply(i).executionId()
            values = self._sql.executionMetrics(eid)
            nodes = self._sql.planGraph(eid).allNodes()
            for n in range(nodes.size()):
                metrics = nodes.apply(n).metrics()
                for k in range(metrics.size()):
                    pm = metrics.apply(k)
                    if pm.name() not in (SHUFFLE_METRIC, SPILL_METRIC):
                        continue
                    v = values.get(pm.accumulatorId())
                    size = parse_size(v.get()) if v.isDefined() else 0.0
                    if pm.name() == SHUFFLE_METRIC:
                        shuffle += size
                    else:
                        spill += size
        return shuffle, spill

    def layer_table(self, run_ids: list[str]) -> dict[str, float]:
        """Per run: self time (span minus its children) and shuffle/spill
        bytes per layer name, plus the run's counts; then the median of
        each over ``run_ids``."""
        child_time: dict[int, float] = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child_time[s["parent"]] += s["end"] - s["start"]
        per_run: dict[str, dict[str, float]] = {r: defaultdict(float) for r in run_ids}
        for i, s in enumerate(self.spans):
            row = per_run.get(s["run_id"])
            if row is None:
                continue
            row[f"{s['name']}.s"] += s["end"] - s["start"] - child_time[i]
            shuffle, spill = self._bytes(s["exec_from"], s["exec_to"])
            if s["parent"] is None:  # a root span covers all jobs of its run
                row["spark.shuffle_bytes"] += shuffle
                row["spark.spill_bytes"] += spill
            else:
                row[f"{s['name']}.shuffle_bytes"] += shuffle
                row[f"{s['name']}.spill_bytes"] += spill
        for r in run_ids:
            per_run[r].update(self.counts.get(r, {}))
        keys = {k for row in per_run.values() for k in row}
        return {
            k: statistics.median(per_run[r].get(k, 0.0) for r in run_ids)
            for k in sorted(keys)
        }

    def write(self, path) -> None:
        """One JSON line per span; ``parent`` is the parent span's name."""
        with open(path, "w") as f:
            for s in self.spans:
                parent = self.spans[s["parent"]]["name"] if s["parent"] is not None else None
                f.write(json.dumps({
                    "name": s["name"], "start": s["start"], "end": s["end"],
                    "parent": parent, "run_id": s["run_id"],
                }) + "\n")
