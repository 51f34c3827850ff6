"""Lake benchmark entry point.

    python3 perfbench/run.py --workload lake_point_read --seed 1 --seconds 5 --trace 0

Run from the root of a checkout. Prints a report, then as its last line
one JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``
(the end-to-end metrics of ``BENCHMARK.json``, or with ``--trace 1`` its
per-layer metrics). Everything the run writes goes under ``.perfbench/``
in the checkout: the lake and Spark's scratch space in a per-run
directory removed at exit, and a record of the run (environment, samples,
and with tracing the spans) in ``.perfbench/runs/``.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
STATE = os.path.join(ROOT, ".perfbench")


def _parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["lake_ingest", "lake_point_read", "lake_scan"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return ap.parse_args(argv)


def _git_sha() -> str:
    try:
        out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    return out.stdout.strip() if out.returncode == 0 else "unknown"


def _vm_hwm_mb(pid: int | str) -> float:
    """Peak resident set of a process, from /proc."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for {pid}")


def _stop_spark() -> None:
    """Stop the session and the JVM behind it, and wait for the JVM."""
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    if sc is not None:
        sc.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits at end of its stdin
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _median(values):
    return statistics.median(values) if values else 0.0


def end_to_end(run, wl, stages) -> dict[str, tuple[float, str]]:
    """Set-up and operation cost in CPU time, not wall time: on a shared
    virtual machine a neighbour can stall the CPUs for minutes, which
    doubles wall times while the program does the same work (see README)."""
    cpu = run.cpu_samples[wl.kind]
    stored = sum(store.total_size() for store in run.stores.values())
    return {
        "setup_s": (stages["setup_cpu_s"] + stages["warmup_cpu_s"], "s"),
        "cpu_ms_per_op": (statistics.median(cpu) * 1000, "ms"),
        "bytes_per_input_byte": (stored / (run.input_bytes * len(run.stores)), "ratio"),
    }


# per-store metrics of every run: the stores of the workloads in
# BENCHMARK.json; a run that builds other stores reports those too
STORES = ("flat_store", "velocity_store", "temporal_store", "stream_flat_store")
LAYERS = ("session", "sources", "operators", "streaming", "plans", "spark")
WRITE_SPAN = re.compile(r"operators\.\w+\.(write|append)")


def per_layer(run, wl, rss_mb: float) -> dict[str, tuple[float, str]]:
    """Per-layer metrics from the spans of a traced run. Times are taken
    at boundaries every workload crosses; counts of layers a workload does
    not use read 0."""
    from perfbench.trace import inclusive_work, layer_self_times, self_times

    spans = run.tracer.spans
    own = self_times(spans)
    work = inclusive_work(spans)
    timed = [s for s in spans if s.phase == "timed"]

    def med(values, scale=1.0):
        return _median([v * scale for v in values])

    out: dict[str, tuple[float, str]] = {
        "session.peak_rss_mb": (rss_mb, "MB"),
        "session.get_spark_s": (
            med([s.seconds for s in spans if s.name == "session.get_spark"]), "s"),
        "sources.parse_ms": (
            med([s.seconds for s in spans if s.name == "sources.read_snapshot_dir"], 1000), "ms"),
        "operators.write_ms": (
            med([s.seconds for s in spans if WRITE_SPAN.fullmatch(s.name)], 1000), "ms"),
        "operators.build_ms": (
            med([own[s.id] for s in timed
                 if s.layer == "operators" and not WRITE_SPAN.fullmatch(s.name)], 1000), "ms"),
        "spark.exec_ms": (med([s.seconds for s in timed if s.layer == "spark"], 1000), "ms"),
    }
    n_ops = len([v for vs in run.traced_samples.values() for v in vs]) or 1
    for i, what in enumerate(("jobs", "stages", "tasks")):
        out[f"spark.{what}_per_op"] = (
            sum((s.jobs, s.stages, s.tasks)[i] for s in timed) / n_ops, "count")
    self_by_layer = layer_self_times(timed)
    total_self = sum(self_by_layer.values()) or 1.0
    for layer in LAYERS:
        out[f"{layer}.self_pct"] = (100.0 * self_by_layer.get(layer, 0.0) / total_self, "%")
    for store in dict.fromkeys([*STORES, *run.stores]):
        calls = [work[s.id] for s in spans
                 if s.name == f"operators.{store}.get_document" and s.phase == "timed"]
        out[f"operators.{store}.get_document.spark_jobs"] = (med([c[0] for c in calls]), "count")
        out[f"operators.{store}.get_document.spark_tasks"] = (med([c[2] for c in calls]), "count")
        lake = run.stores.get(store)
        files = size = 0
        if lake is not None:
            size = lake.total_size()
            files = sum(n.endswith(".parquet") for _, _, ns in os.walk(lake.path) for n in ns)
        out[f"operators.{store}.data_files"] = (files, "count")
        out[f"operators.{store}.bytes_per_input_byte"] = (size / run.input_bytes, "ratio")
    stream = [work[s.id] for s in timed if s.layer == "streaming"]
    out["streaming.spark_jobs_per_batch"] = (med([w[0] for w in stream]), "count")
    gates = [work[s.id] for s in timed if s.layer == "plans"]
    out["plans.spark_jobs_per_gate"] = (med([w[0] for w in gates]), "count")
    out["plans.spark_tasks_per_gate"] = (med([w[2] for w in gates]), "count")
    batch = run.samples.get("batch_read", [])
    if batch:  # lake_point_read only
        out["operators.flat_store.batch_read_docs_per_s"] = (wl.BATCH_KEYS / _median(batch), "1/s")
    traced = run.traced_samples.get(wl.kind, [])
    untraced = run.untraced_samples.get(wl.kind, [])
    overhead = (_median(traced) / _median(untraced) - 1) * 100 if traced and untraced else 0.0
    out["trace.overhead_pct"] = (overhead, "%")
    out["trace.spans"] = (len(spans), "count")
    return out


def span_table(run) -> list[str]:
    """Per span name in the timed region: calls, median inclusive and self
    milliseconds, Spark jobs and tasks per call."""
    from perfbench.trace import inclusive_work, self_times

    own = self_times(run.tracer.spans)
    work = inclusive_work(run.tracer.spans)
    by_name: dict[str, list] = {}
    for s in run.tracer.spans:
        if s.phase == "timed":
            by_name.setdefault(s.name, []).append(s)
    lines = [f"{'span':58} {'calls':>5} {'incl_ms':>9} {'self_ms':>9} {'jobs':>5} {'tasks':>6}"]
    for name, group in sorted(by_name.items()):
        lines.append(
            f"{name:58} {len(group):5d} {_median([s.seconds for s in group]) * 1000:9.1f} "
            f"{_median([own[s.id] for s in group]) * 1000:9.1f} "
            f"{_median([work[s.id][0] for s in group]):5.1f} {_median([work[s.id][2] for s in group]):6.1f}"
        )
    return lines


def main(argv=None) -> int:
    args = _parse_args(argv)
    # a terminated run still stops its JVM and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    os.environ["TZ"] = "UTC"
    time.tzset()
    os.makedirs(os.path.join(STATE, "work"), exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=os.path.join(STATE, "work"))
    os.environ["TMPDIR"] = work
    tempfile.tempdir = work
    sys.path.insert(0, ROOT)
    try:
        import pyspark

        from perfbench.stats import TAIL_BEYOND, tail
        from perfbench.workloads import run_workload

        cpus = min(os.cpu_count() or 1, 4)
        run, wl, stages = run_workload(
            args.workload, args.seed, args.seconds, bool(args.trace), work, cpus)
        jvm = run.spark._jvm
        env = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "cpus": cpus, "pyspark": pyspark.__version__,
            "java": jvm.System.getProperty("java.version"), "git_sha": _git_sha(),
        }
        # this process and its JVM child
        rss_mb = _vm_hwm_mb("self") + _vm_hwm_mb(jvm.java.lang.ProcessHandle.current().pid())
        metrics = per_layer(run, wl, rss_mb) if args.trace else end_to_end(run, wl, stages)
        table = span_table(run) if args.trace else []
    finally:
        if "pyspark" in sys.modules:
            _stop_spark()
        shutil.rmtree(work, ignore_errors=True)

    lat = run.samples[wl.kind]
    _, tail_pct = tail(lat)
    failed = len(run.failures)
    attempted = max(run.attempted, 1)
    record = {
        **env,
        "stages_s": stages,
        "samples_s": run.samples,
        "cpu_samples_s": run.cpu_samples,
        **{attr: getattr(wl, attr) for attr in ("query_samples", "store_samples", "stream_batch_ms")
           if hasattr(wl, attr)},
        "tail_percentile": tail_pct,
        "peak_rss_mb": rss_mb,
        "failed_ops_ratio": failed / attempted,
        "failures": run.failures,
        "metrics": {k: v for k, (v, _) in metrics.items()},
    }
    if args.trace:
        record["spans"] = run.tracer.to_json()
    runs_dir = os.path.join(STATE, "runs")
    os.makedirs(runs_dir, exist_ok=True)
    record_path = os.path.join(
        runs_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}-{int(time.time())}.json")
    with open(record_path, "w") as fh:
        json.dump(record, fh, indent=1)

    print(" ".join(f"{k}={env[k]}" for k in env))
    tail_note = (f"p{tail_pct:.0f} is the highest percentile with {TAIL_BEYOND} beyond it"
                 if tail_pct > 50 else f"no percentile above p50 has {TAIL_BEYOND} beyond it")
    print(f"samples: {len(lat)} x {wl.kind} ({tail_note}); "
          f"failed_ops_ratio = {failed / attempted:.4f} ({failed}/{attempted})")
    print(f"wall time: set-up {stages['setup_s'] + stages['warmup_s']:.1f} s, "
          f"latency p50 {statistics.median(lat) * 1000:.1f} ms, "
          f"throughput {run.units / sum(lat):.3f}/s, peak RSS {rss_mb:.0f} MB; "
          f"CPU time stolen by the hypervisor while measuring: "
          f"{stages['measure_steal_share']:.1%}")
    for line in run.failures[:10]:
        print(f"FAILED: {line.splitlines()[0]}")
    for line in table:
        print(line)
    for name, (value, unit) in metrics.items():
        print(f"{name:52} {value:14.4f} {unit}")
    print(f"run record: {os.path.relpath(record_path, ROOT)}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
