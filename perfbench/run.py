"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload crawl_fresh --seed 1 --seconds 1 --trace 0

One client, closed loop: one driver process at local[nproc] runs one Spark
job at a time. A run starts the session, generates its inputs from
``--seed``, builds and runs one cold pass (together with the session start,
that is ``setup_s``), runs the workload's unmeasured ``warmup`` passes,
runs warm passes for ``--seconds`` (at least the workload's ``passes``),
and checks the outputs. A host-speed probe (host.SpeedProbe) runs
alongside from the session start to the last pass.
``--trace 0`` reports the end-to-end metrics of BENCHMARK.json,
``--trace 1`` its per-layer metrics, from passes that alternate between
untraced and traced. The full record (host, inputs fingerprint, checks,
every metric) lands in .perfbench_work/results/.
"""

from __future__ import annotations

import argparse
import json
import os
import pathlib
import shutil
import statistics
import sys
import time
import traceback

ROOT = pathlib.Path(__file__).resolve().parent.parent
WORK = ROOT / ".perfbench_work"
REQUIRED = (
    "BENCHMARK.json",
    "crypto_msg_parser_spark/__init__.py",
    "tests/fixtures/reference_fixtures.jsonl",
)
# a trace run needs an untraced pass besides its traced one
MIN_PASSES = {0: 1, 1: 2}


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=["crawl_fresh", "parse_mixed"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def metric_spec() -> dict:
    return json.loads((ROOT / "BENCHMARK.json").read_text())


def select_metrics(values: dict[str, float], specs: list[dict]) -> dict:
    """Every metric BENCHMARK.json names, with its unit. A layer this
    workload never calls reads 0."""
    return {
        s["name"]: {"value": float(values.get(s["name"], 0.0)), "unit": s["unit"]}
        for s in specs
    }


CODEGEN_CACHE_ENTRIES = 1000
# the probe's cost (host.SpeedProbe) on the reference host: the bounded
# metrics are CPU seconds as that host would have spent them
PROBE_REF_S = 0.00075


def at_ref_speed(cpu_s: float, probe_s: float) -> float:
    """``cpu_s`` spent while the speed probe cost ``probe_s`` (median), as
    CPU seconds at the reference probe cost."""
    return cpu_s * PROBE_REF_S / probe_s


def end_to_end_values(setup: dict, items: int, passes: list[dict]) -> dict[str, float]:
    """Both bounded metrics count CPU seconds of the whole process tree
    (driver, JVM, Python workers) at reference host speed: each window's
    CPU time is scaled by the speed probe's median cost in that window.
    The passes leave out the JIT compiler threads (host.jit_cpu_s), set-up
    keeps them. Unscaled and wall-clock figures are in the per-layer
    table."""
    plain = [p for p in passes if not p["traced"]]
    return {
        "setup_s": at_ref_speed(setup["cpu_s"], setup["probe_s"]),
        "items_per_cpu_s": items / statistics.median(
            at_ref_speed(p["cpu_s"], p["probe_s"]) for p in plain),
    }


def _session(work: pathlib.Path):
    from perfbench import host

    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    # workers import the package from the checkout, whatever their cwd
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = str(tmp)
    # the env var would override spark.local.dir
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ.setdefault("SPARK_DRIVER_MEM", host.driver_mem())
    from crypto_msg_parser_spark.session import get_spark

    spark = get_spark(
        "perfbench",
        cores=os.cpu_count(),
        extra_conf={
            # shuffle and spill on the checkout's disk, not tmpfs
            "spark.local.dir": str(work / "spark-local"),
            "spark.sql.warehouse.dir": str(work / "warehouse"),
            # compiler threads that never exit keep their CPU time
            # countable (host.jit_cpu_s)
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -XX:-UseDynamicNumberOfCompilerThreads",
            "spark.ui.showConsoleProgress": "false",
            # Spark's default of 100 generated classes is below a crawl
            # epoch's ~107, so every epoch compiled them all again, and
            # near a parse pass's count, where LRU order under concurrent
            # tasks decided per run whether a pass compiled 0 or ~28
            "spark.sql.codegen.cache.maxEntries": str(CODEGEN_CACHE_ENTRIES),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers)."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def _gc_s(spark) -> float:
    beans = spark.sparkContext._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(beans.get(i).getCollectionTime() for i in range(beans.size())) / 1000


def _codegen_compiles(spark) -> int:
    """Generated classes Spark has compiled so far (a codegen cache miss
    each)."""
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(metrics.METRIC_COMPILATION_TIME().getCount())


def _layer_values(tr, passes: list[dict], session_s: float) -> dict[str, float]:
    """Per-layer medians over the traced passes, plan build times from the
    setup pass, and the tracing overhead (traced minus untraced pass)."""
    traced = [f"pass{k}" for k, p in enumerate(passes) if p["traced"]]
    values = tr.layer_table(traced)
    for name, v in tr.layer_table(["setup"]).items():
        if name.endswith("#build.s"):
            values[name[: -len("#build.s")] + ".build_s"] = v
    values["session.get_spark.s"] = session_s
    values["trace.overhead_s"] = statistics.median(
        p["s"] for p in passes if p["traced"]
    ) - statistics.median(p["s"] for p in passes if not p["traced"])
    return values


def main(argv=None) -> int:
    args = parse_args(argv)
    missing = [f for f in REQUIRED if not (ROOT / f).is_file()]
    if missing:
        print(f"perfbench: not a checkout of the engine, missing {missing}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    from perfbench import host
    from perfbench.crawl import CrawlFresh
    from perfbench.parse import ParseMixed
    from perfbench.trace import Tracer

    spec = metric_spec()
    work = WORK / f"run-{os.getpid()}"
    record = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
              "host": host.host_record(), "loadavg_before": host.loadavg()}
    print(json.dumps({"host": record["host"]}), file=sys.stderr)

    me = os.getpid()
    probe = host.SpeedProbe().start()
    t0, cpu0 = time.perf_counter(), host.cpu_s(me)
    spark = _session(work)
    t1 = time.perf_counter()
    session_s, session_cpu_s = t1 - t0, host.cpu_s(me) - cpu0
    session_probes = probe.window(t0, t1)
    jvm_pid = spark.sparkContext._gateway.proc.pid
    tr = Tracer(spark, enabled=bool(args.trace))
    wl_cls = {"crawl_fresh": CrawlFresh, "parse_mixed": ParseMixed}[args.workload]
    raised, passes, checks, values = 0, [], {}, {}
    try:
        t = time.perf_counter()
        wl = wl_cls(spark, work, args.seed)  # input generation: not in setup_s
        record.update(input_sha=wl.input_sha, items=wl.items,
                      gen_s=time.perf_counter() - t)
        t, cpu0 = time.perf_counter(), host.cpu_s(me)
        wl.build(tr)
        wl.run(tr)
        t1 = time.perf_counter()
        probes = session_probes + probe.window(t, t1)
        setup = {"s": session_s + t1 - t,
                 "cpu_s": session_cpu_s + host.cpu_s(me) - cpu0 - sum(probes),
                 "probe_s": statistics.median(probes)}
        tr.run_id, tr.enabled = "warmup", False
        for _ in range(wl.warmup):
            wl.run(tr)

        deadline = time.perf_counter() + args.seconds
        while len(passes) < max(wl.passes, MIN_PASSES[args.trace]) or time.perf_counter() < deadline:
            k = len(passes)
            tr.run_id = f"pass{k}"
            # trace runs alternate untraced and traced passes
            tr.enabled = bool(args.trace) and k % 2 == 1
            gc0, cg0, t = _gc_s(spark), _codegen_compiles(spark), time.perf_counter()
            cpu0, jit0 = host.cpu_s(me), host.jit_cpu_s(me)
            wl.run(tr)
            jit_s = host.jit_cpu_s(me) - jit0
            t1 = time.perf_counter()
            probes = probe.window(t, t1)
            passes.append({"s": t1 - t, "traced": tr.enabled,
                           "cpu_s": host.cpu_s(me) - cpu0 - jit_s - sum(probes),
                           "jit_s": jit_s, "probe_s": statistics.median(probes),
                           "codegen_compiles": _codegen_compiles(spark) - cg0})
            tr.count("spark.gc_s", lambda: _gc_s(spark) - gc0)
        record["setup"] = setup
        values = end_to_end_values(setup, wl.items, passes)
        values.update({
            "peak_rss_mb": host.peak_rss_mb(jvm_pid),
            "wall.setup_s": setup["s"],
            "raw.setup_cpu_s": setup["cpu_s"],
            "host.probe_ms": 1000 * statistics.median(
                p["probe_s"] for p in passes if not p["traced"]),
            "spark.codegen_compiles": statistics.median(
                p["codegen_compiles"] for p in passes),
            "wall.items_per_s": wl.items / statistics.median(
                p["s"] for p in passes if not p["traced"]),
        })
        if args.trace:
            values.update(_layer_values(tr, passes, session_s))
        t = time.perf_counter()
        try:
            checks = wl.checks()
        except Exception:
            traceback.print_exc()
            checks = {"checks_completed": traceback.format_exc(limit=1)}
        record["checks_s"] = time.perf_counter() - t
    except Exception:
        traceback.print_exc()
        raised = 1
    finally:
        probe.stop()
        _stop(spark)
        shutil.rmtree(work, ignore_errors=True)

    failed = raised + sum(1 for v in checks.values() if v is not None)
    attempted = tr.calls + len(checks)
    record.update(loadavg_after=host.loadavg(), passes=passes, checks=checks,
                  attempted=attempted, failed=failed)
    if raised:
        print(json.dumps(record), file=sys.stderr)
        return 1
    record["values"] = values
    metrics = select_metrics(values, spec["per_layer" if args.trace else "end_to_end"])
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed,
              "metrics": metrics}

    results = WORK / "results"
    results.mkdir(parents=True, exist_ok=True)
    stem = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    (results / f"{stem}.json").write_text(json.dumps(record, indent=1))
    if args.trace:
        tr.write(results / f"{stem}.spans.jsonl")
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
