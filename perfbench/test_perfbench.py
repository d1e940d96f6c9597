"""The benchmark's own tests; no Spark session needed.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
import time
import types

import pytest

from perfbench import inputs, parse, run
from perfbench.trace import Tracer, parse_size


def test_same_seed_same_inputs_other_seed_other_inputs():
    a = inputs.input_sha(*inputs.frontier_rows(1, 500))
    assert a == inputs.input_sha(*inputs.frontier_rows(1, 500))
    assert a != inputs.input_sha(*inputs.frontier_rows(2, 500))
    p = inputs.input_sha(inputs.parse_rows(1, 2))
    assert p == inputs.input_sha(inputs.parse_rows(1, 2))
    assert p != inputs.input_sha(inputs.parse_rows(2, 2))


def test_frontier_shape():
    frontier, seen = inputs.frontier_rows(3, 3000)
    assert len(frontier) == 3000
    new = inputs.expected_new(frontier, seen)
    # about a third of the frontier is already seen
    assert 0.25 < 1 - len(new) / len(frontier) < 0.42
    # messy spellings canonicalize onto fewer distinct URLs
    assert len({c for c, _ in new}) < len(new)


def test_every_named_metric_is_printed_with_its_unit():
    spec = run.metric_spec()
    ref = run.PROBE_REF_S
    passes = [{"s": 2.0, "cpu_s": 4.0, "probe_s": ref, "traced": False},
              {"s": 3.0, "cpu_s": 9.0, "probe_s": ref, "traced": True},
              {"s": 2.0, "cpu_s": 2.0, "probe_s": ref, "traced": False},
              {"s": 2.0, "cpu_s": 10.0, "probe_s": 2 * ref, "traced": False}]
    setup = {"s": 3.0, "cpu_s": 1.5, "probe_s": 3 * ref}
    e2e = run.end_to_end_values(setup, 100, passes)
    assert set(e2e) == {m["name"] for m in spec["end_to_end"]}
    # the median over the untraced passes of their CPU seconds at reference
    # speed: a pass that ran while the probe cost twice the reference
    # counts half its CPU time; the traced pass is left out
    assert e2e["items_per_cpu_s"] == pytest.approx(25.0)
    assert e2e["setup_s"] == pytest.approx(0.5)
    for kind in ("end_to_end", "per_layer"):
        printed = run.select_metrics(e2e, spec[kind])
        assert list(printed) == [m["name"] for m in spec[kind]]
        for m in spec[kind]:
            assert printed[m["name"]]["unit"] == m["unit"]
    assert any(m["name"] == "setup_s" and m["unit"] == "s" for m in spec["end_to_end"])


def test_speed_probe_samples_while_running():
    from perfbench import host

    probe = host.SpeedProbe(every_s=0.001).start()
    t0 = time.perf_counter()
    time.sleep(0.2)
    t1 = time.perf_counter()
    probe.stop()
    got = probe.window(t0, t1)
    assert len(got) >= 5 and all(c > 0 for c in got)
    assert probe.window(t1 + 1, t1 + 2) == []


def test_checker_rejects_a_dropped_row():
    pinned = {"binance|bbo": [3, 1000], "okx|bbo": [2, 40]}
    good = {"binance|bbo": [6, 2000], "okx|bbo": [4, 80]}
    assert parse.check_content(good, pinned, copies=2) == []
    dropped = {"binance|bbo": [5, 1700], "okx|bbo": [4, 80]}
    assert parse.check_content(dropped, pinned, copies=2)
    missing = {"binance|bbo": [6, 2000]}
    assert parse.check_content(missing, pinned, copies=2)


def test_conservation_rejects_a_lost_message():
    rows = inputs.parse_rows(1, 1)
    n_in, reached, unparsed = parse.expected_split(rows)
    assert sum(n_in.values()) == len(rows)
    assert parse.check_conservation(n_in, reached, unparsed) == []
    # a parse arm that drops one message: what reached the parse functions,
    # counted apart from the plain-Python split, is one short
    ex = next(iter(reached))
    dropped = dict(reached, **{ex: reached[ex] - 1})
    assert parse.check_conservation(n_in, dropped, unparsed)


def test_arms_follow_the_dispatch():
    assert parse.arms("parser.binance.parse_trade") == {"binance"}
    assert parse.arms("parser.api.parse_l2_snapshot") == {"binance", "bitfinex", "bitget"}
    assert "okex" in parse.arms("parser.api.parse_funding_rate")


def test_parse_size_reads_the_total():
    assert parse_size("0.0 B") == 0.0
    assert parse_size("total (min, med, max (stageId: taskId))\n2.0 KiB (1.0 KiB, ...)") == 2048.0


def _fake_spark():
    store = types.SimpleNamespace(executionsCount=lambda: 0)
    shared = types.SimpleNamespace(statusStore=lambda: store)
    return types.SimpleNamespace(
        _jsparkSession=types.SimpleNamespace(sharedState=lambda: shared)
    )


def test_self_time_excludes_children():
    tr = Tracer(_fake_spark(), enabled=True)
    tr.run_id = "pass1"
    with tr.span("root"):
        with tr.span("child"):
            pass
    root, child = tr.spans
    root.update(start=0.0, end=10.0)
    child.update(start=1.0, end=4.0)
    table = tr.layer_table(["pass1"])
    assert table["root.s"] == pytest.approx(7.0)
    assert table["child.s"] == pytest.approx(3.0)


def test_refuses_to_run_outside_a_checkout(tmp_path):
    shutil.copytree(run.ROOT / "perfbench", tmp_path / "perfbench")
    shutil.copy(run.ROOT / "BENCHMARK.json", tmp_path / "BENCHMARK.json")
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "crawl_fresh",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert p.returncode != 0
    assert p.stdout == ""


def test_compare_refuses_other_hosts(tmp_path):
    from perfbench import compare

    base = {"workload": "crawl_fresh", "host": {"nproc": 4, "mem_total_mb": 16000},
            "values": {"items_per_s": 10.0}}
    other = dict(base, host={"nproc": 32, "mem_total_mb": 16000})
    (tmp_path / "a.json").write_text(json.dumps(base))
    (tmp_path / "b.json").write_text(json.dumps(other))
    with pytest.raises(SystemExit):
        compare.compare([tmp_path / "a.json"], [tmp_path / "b.json"])
