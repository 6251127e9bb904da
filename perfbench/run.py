"""Benchmark of the refine operators: one closed-loop client on ``local[4]``.

    python3 perfbench/run.py --workload serve-ivf --seed 1 --seconds 10 --trace 0

Builds the workload's state (repeated, for a set-up median), warms it,
then sends requests for ``--seconds`` seconds, checking every result
against a NumPy oracle. The last line of standard output is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics``. With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1``
they are the per-layer ones, from a run whose request cycles alternate
between traced and untraced, and the spans are written to
``perfbench/.work/traces/``.
The exit code is 0 only when every request was correct.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CORES = 4
#: set-up is repeated and its median reported, so one slow repetition
#: does not move ``setup_s``
SETUP_REPS = 3
#: a run that has not finished by then is aborted without a result
WATCHDOG_S = 170


class Aborted(Exception):
    pass


def _abort(signum, frame):
    raise Aborted(f"stopped by signal {signum} (the watchdog is {WATCHDOG_S} s)")


def _proc_tree(root: int) -> list[int]:
    """``root`` and all its live descendants."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", encoding="ascii", errors="replace") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def _peak_rss_mb() -> float:
    """Summed peak RSS (VmHWM) of this process, the JVM and the Python workers."""
    total_kb = 0
    for pid in _proc_tree(os.getpid()):
        try:
            with open(f"/proc/{pid}/status", encoding="ascii") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0


def _start_spark(work: str):
    from bandwidth_first_ann_refinement_precision_on_demand_in_vector_databases_spark.session import (
        get_spark,
    )

    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    # the JVMs and the Python workers inherit these: scratch stays in the
    # run's work directory and workers import the package from the checkout
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))
    spark = get_spark(
        app_name="perfbench",
        cpus=CORES,
        shuffle_partitions=2 * CORES,
        extra_conf={
            "spark.driver.memory": "2g",
            "spark.local.dir": local,
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            # Parquet's vectored reads bypass Hadoop's FileSystem
            # statistics, so Spark's input metrics would count only the
            # footers (22 KB reported for a 10.6 MB column read)
            "spark.hadoop.parquet.hadoop.vectored.io.enabled": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_spark(spark) -> None:
    """Stop the context, then the JVM, and wait for both to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)
    for pid in _proc_tree(os.getpid())[1:]:
        try:
            os.kill(pid, signal.SIGTERM)
            os.waitpid(pid, 0)
        except (ProcessLookupError, ChildProcessError):
            pass


def _median(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


def _tail(latencies_ms: list[float]) -> tuple[float, float]:
    """(value, percentile): the highest percentile with at least ten
    samples beyond it; the maximum when the run has ten or fewer."""
    ordered = sorted(latencies_ms)
    n = len(ordered)
    if n <= 10:
        return ordered[-1], 100.0
    return ordered[n - 11], 100.0 * (n - 10) / n


def _count_totals(wl) -> dict:
    """Refine counts summed over the sampled requests."""
    counts = wl.counts
    return {f: sum(getattr(c, f) for c in counts)
            for f in ("queries", "pairs", "seeds", "fetched", "returned")} | {
        "recall": sum(c.recall * c.queries for c in counts), "requests": len(counts)}


def end_to_end(wl, setup_s: float, peak_rss_mb: float) -> tuple[dict, str]:
    recs = wl.records
    b_red, b_full = wl.p.bytes_per_vec()
    t = _count_totals(wl)
    lat_ms = [r.latency_s * 1e3 for r in recs]
    metrics = {
        "setup_s": (setup_s, "s"),
        "qps": (sum(r.queries for r in recs) / sum(r.latency_s for r in recs), "query/s"),
        "latency_p50_ms": (_median(lat_ms), "ms"),
        "recall_at_k": (t["recall"] / t["queries"], "ratio"),
        "bytes_saving": (
            1.0 - (b_red * t["pairs"] + b_full * t["fetched"]) / (b_full * t["pairs"]), "ratio"),
    }
    # reported, not gated: a run has too few requests for a steady tail,
    # and peak RSS follows the JVM's heap sizing from run to run
    tail, pct = _tail(lat_ms)
    note = (f"latency tail p{pct:.1f} of n={len(lat_ms)} requests = {tail} ms; "
            f"peak RSS = {peak_rss_mb} MB; latencies ms = {[round(x) for x in lat_ms]}")
    return metrics, note


def per_layer(wl, tracer, peak_rss_mb: float) -> dict:
    recs = wl.records
    traced = [r for r in recs if r.span is not None]
    untraced = [r for r in recs if r.span is None]
    selfs = tracer.self_ms()
    setup = [s for s in tracer.spans if s.request == "setup"]

    def setup_s(name):
        return _median(s.wall_ms / 1e3 for s in setup if s.name == name)

    def req(fn):
        return _median(fn(r) for r in traced)

    def layer_self(rec, name):
        rid = rec.span.request
        return sum(selfs[s.id] for s in tracer.spans if s.request == rid and s.name == name)

    def qps(rs):
        return sum(r.queries for r in rs) / sum(r.latency_s for r in rs)

    b_red, b_full = wl.p.bytes_per_vec()
    t = _count_totals(wl)
    per_req = {f: t[f] / t["requests"] for f in ("pairs", "seeds", "fetched")}
    first, last = traced[0], traced[-1]
    between = max(recs.index(last) - recs.index(first), 1)
    appends = wl.appends
    m = {
        # set-up
        "session.boot_s": (setup_s("session.boot"), "s"),
        "sources.load_s": (setup_s("sources.load"), "s"),
        "operators.refine.prepare_s": (setup_s("operators.refine.prepare"), "s"),
        "operators.simsearch.ivf_build_s": (setup_s("operators.simsearch.ivf_build"), "s"),
        "spark.codegen_compiles": (sum(s.compiles for s in setup if s.parent is None), "count"),
        # phase-1 scan, per traced request
        "spark.executor_run_ms": (req(lambda r: r.span.spark["executor_run_ms"]), "ms"),
        "spark.executor_cpu_ms": (req(lambda r: r.span.spark["executor_cpu_ms"]), "ms"),
        "spark.busy_frac": (
            req(lambda r: r.span.spark["executor_run_ms"] / (CORES * r.span.wall_ms)), "ratio"),
        "spark.shuffle_write_bytes": (req(lambda r: r.span.spark["shuffle_write_bytes"]), "B"),
        "spark.shuffle_read_bytes": (req(lambda r: r.span.spark["shuffle_read_bytes"]), "B"),
        "spark.spill_bytes": (req(lambda r: r.span.spark["spill_bytes"]), "B"),
        # fixed cost per request
        "spark.request_ms": (req(lambda r: r.span.wall_ms), "ms"),
        "spark.driver_ms": (req(lambda r: r.span.spark["driver_ms"]), "ms"),
        "spark.driver_frac": (req(lambda r: r.span.spark["driver_ms"] / r.span.wall_ms), "ratio"),
        "spark.plan_ms": (req(lambda r: r.plan_ms), "ms"),
        "spark.jobs": (req(lambda r: r.span.spark["jobs"]), "count"),
        "spark.stages": (req(lambda r: r.span.spark["stages"]), "count"),
        "spark.tasks": (req(lambda r: r.span.spark["tasks"]), "count"),
        "spark.request_compiles": (req(lambda r: r.span.compiles), "count"),
        # self time of each layer a request passes through
        "sources.queries_self_ms": (req(lambda r: layer_self(r, "sources.queries")), "ms"),
        "operators.refine.call_self_ms": (req(lambda r: layer_self(r, wl.layer)), "ms"),
        "spark.collect_self_ms": (req(lambda r: layer_self(r, "spark.collect")), "ms"),
        "sources.read_self_ms": (req(lambda r: layer_self(r, "sources.read")), "ms"),
        "request.self_ms": (req(lambda r: layer_self(r, "request")), "ms"),
        # refine counts, per request
        "operators.refine.pairs": (per_req["pairs"], "count"),
        "operators.refine.seeds": (per_req["seeds"], "count"),
        "operators.refine.survivors": (per_req["fetched"] - per_req["seeds"], "count"),
        "operators.refine.fetched": (per_req["fetched"], "count"),
        "operators.refine.useful_fetch_ratio": (t["returned"] / t["fetched"], "ratio"),
        "operators.refine.fpr": ((t["fetched"] - t["returned"]) / t["pairs"], "ratio"),
        "operators.simsearch.candidates_per_query": (t["pairs"] / t["queries"], "count"),
        # bytes: the paper's model next to what Spark read
        "operators.refine.phase1_bytes_model": (b_red * per_req["pairs"], "B"),
        "operators.refine.phase2_bytes_model": (b_full * per_req["fetched"], "B"),
        "spark.input_bytes": (req(lambda r: r.span.file_bytes), "B"),
        "spark.stage_input_bytes": (req(lambda r: r.span.spark["input_bytes"]), "B"),
        "sources.read_files": (_median(r.read_files for r in recs), "count"),
        "sources.write_s": (_median(a.seconds for a in appends), "s"),
        "sources.bytes_written": (_median(a.bytes_written for a in appends), "B"),
        "sources.ingest_vps": (
            sum(a.vectors for a in appends) / sum(a.seconds for a in appends) if appends else 0.0,
            "vec/s"),
        "sources.stored_bytes_per_vec": (_median(a.stored_bytes_per_vec for a in appends), "B"),
        # memory, read after each traced request
        "process.peak_rss_mb": (peak_rss_mb, "MB"),
        "spark.gc_ms": (req(lambda r: r.span.gc_ms), "ms"),
        "spark.storage_mb": (last.storage[1], "MB"),
        "spark.cached_rdds": (last.storage[0], "count"),
        "spark.cached_rdds_per_request": ((last.storage[0] - first.storage[0]) / between, "count"),
        # tracing overhead
        "trace.qps_ratio": (qps(traced) / qps(untraced), "ratio"),
        "trace.requests": (len(traced), "count"),
    }
    return m


def measure(wl, tracer, boot_s: float, seconds: float, trace: bool):
    """Set the workload up ``SETUP_REPS`` times, warm it, serve it for
    ``seconds``; return (metrics, attempted, failed, note)."""
    builds = []
    for rep in range(SETUP_REPS):
        t = time.perf_counter()
        with tracer.span("setup.build"):
            wl.build(rep)
        builds.append(time.perf_counter() - t)
    with tracer.span("setup.warmup") as warm:
        wl.warm_up()
    setup_s = boot_s + _median(builds) + warm.wall_ms / 1e3
    if tracer.active:
        tracer.resolve("setup")

    attempted = len(wl.records)
    failed = sum(not r.ok for r in wl.records)
    wl.records.clear()
    wl.appends.clear()
    peak = _peak_rss_mb()
    deadline = time.perf_counter() + seconds
    step = 0
    # traced and untraced cycles alternate; a traced run needs one of each
    while step < (1 + trace) * wl.cycle_steps or time.perf_counter() < deadline:
        wl.step(traced=trace and (step // wl.cycle_steps) % 2 == 0)
        peak = max(peak, _peak_rss_mb())
        step += 1
    attempted += len(wl.records)
    failed += sum(not r.ok for r in wl.records)
    if trace:
        return per_layer(wl, tracer, peak), attempted, failed, ""
    metrics, note = end_to_end(wl, setup_s, peak)
    return metrics, attempted, failed, note


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # the package under test lives at the root of the checkout
    sys.path.insert(0, ROOT)
    try:
        from perfbench.workloads import WORKLOADS
    except ImportError as exc:
        print(f"perfbench: cannot import the package under test: {exc}", file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    from perfbench.trace import SparkProbe, Tracer

    # the watchdog and a termination both unwind through the clean-up below
    signal.signal(signal.SIGALRM, _abort)
    signal.signal(signal.SIGTERM, _abort)
    signal.alarm(WATCHDOG_S)
    work = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    spark = None
    try:
        tracer = Tracer()
        with tracer.span("session.boot") as boot:
            spark = _start_spark(work)
        if args.trace:
            tracer.attach(SparkProbe(spark))
        cls, params = WORKLOADS[args.workload]
        wl = cls(spark, tracer, work, args.seed, params)
        metrics, attempted, failed, note = measure(
            wl, tracer, boot.wall_ms / 1e3, args.seconds, bool(args.trace))
        if args.trace:
            path = os.path.join(HERE, ".work", "traces", f"{args.workload}-seed{args.seed}.json")
            tracer.dump(path, {"workload": args.workload, "seed": args.seed,
                               "params": vars(params), "metrics": metrics})
            note = f"spans written to {os.path.relpath(path, ROOT)}"
        signal.alarm(0)
    except Aborted as exc:
        print(f"perfbench: {exc}", file=sys.stderr)
        return 3
    finally:
        if spark is not None:
            _stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    print(note)
    for reason in wl.failures:
        print(f"FAILED: {reason}")
    for name, (value, unit) in metrics.items():
        print(f"{name} = {value} {unit}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {name: {"value": v, "unit": u} for name, (v, u) in metrics.items()},
    }))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
