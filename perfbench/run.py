"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. The benchmark writes its inputs from
``--seed``, starts one local Spark session of ``nproc`` width, sets it up
once (session start, warm-up, store bootstrap), then runs units of the
workload for at least ``--seconds`` seconds (and at least the workload's
``min_units``), checking every output. The last line of standard output is one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
The line before it is a JSON report of sizes, input properties, load and
contention, per-op timings and failures.

Everything the run writes stays under ``.perfbench_work/`` (removed at
the end) and ``.perfbench_out/`` (span dumps of traced runs).
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import statistics
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "calculate_file_content_size_for_vector_db_spark"

DRIVER_MEMORY = "1g"  # the package default (16g) is the whole box; see README
# Other processes' busy CPUs above which a run is flagged contended. On a
# shared 4-core host quiet units read 0.00-0.08; units at 0.14 or more ran
# 20-40% slower.
CONTENDED_CPUS = 0.12


def per_layer_names() -> list[str]:
    names = [
        "session.start_s",
        "sources.scan_bytes", "sources.scan_s", "sources.extract_s", "sources.pages_out",
        "sources.extract_passes", "sources.sink_s",
        "chunk.busy_s", "chunk.chunks_out",
        "metrics.busy_s", "metrics.shuffle_bytes",
        "curation.gate_s", "curation.decontam_s", "curation.decontam_join_rows",
        "dedup.shingle_s", "dedup.candidate_pairs", "dedup.verified_pairs", "dedup.pair_yield",
        "dedup.planted_recall", "dedup.cc_rounds", "dedup.cc_jobs", "dedup.cc_s",
        "similarity.train_s", "similarity.query_candidates", "similarity.serve_jobs",
        "streaming.gate_s", "streaming.index_s", "streaming.card_s", "streaming.drift_s",
        "streaming.jobs_per_trigger", "streaming.files_written_per_trigger",
        "streaming.store_bytes_per_admitted_byte", "streaming.takedown_s", "streaming.admit_ratio",
    ]
    from tracing import SPARK_COUNTERS

    names += [f"spark.{c}" for c in SPARK_COUNTERS]
    names += ["trace.overhead_s"]
    return names


# ---------------------------------------------------------------------------
# Process tree: peak RSS and shutdown
# ---------------------------------------------------------------------------


def descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                s = f.read()
        except OSError:
            continue
        ppid = int(s[s.rindex(")") + 2 :].split()[1])
        children.setdefault(ppid, []).append(int(d))
    out, stack = [], [root]
    while stack:
        for c in children.get(stack.pop(), []):
            out.append(c)
            stack.append(c)
    return out


def tree_rss_bytes(root: int) -> int:
    """Resident memory of every descendant of ``root``: the Spark driver
    JVM and the Python workers it forks (the client process itself is
    excluded). Each process counts its proportional share (PSS) of the
    pages it shares, so the pages a forked worker shares with the Python
    daemon count once, however many workers are alive at the sample."""
    total = 0
    for pid in descendants(root):
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            pass
    return total


class RssSampler(threading.Thread):
    def __init__(self, interval: float = 0.1) -> None:
        super().__init__(daemon=True)
        self.interval = interval
        self.peak = 0
        self._stop_event = threading.Event()

    def run(self) -> None:
        while not self._stop_event.is_set():
            self.peak = max(self.peak, tree_rss_bytes(os.getpid()))
            self._stop_event.wait(self.interval)

    def stop(self) -> int:
        self._stop_event.set()
        self.join(timeout=10)
        return self.peak


def stop_jvm() -> None:
    """Stop the Spark session and its JVM, and wait for every process the
    run started to end."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:  # noqa: BLE001 - must not leave the JVM behind
                proc.kill()
                proc.wait(timeout=30)
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.time() + 30
    while descendants(os.getpid()) and time.time() < deadline:
        time.sleep(0.2)


# ---------------------------------------------------------------------------
# Environment
# ---------------------------------------------------------------------------


def pin_env(run_dir: str, ncpus: int, trace: bool) -> None:
    """Deployment settings the program reads, plus private temp and
    Spark-local directories inside the run directory."""
    import tempfile

    tmp = f"{run_dir}/tmp"
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = f"{run_dir}/spark-local"
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["SPARK_GRAFT_CPUS"] = str(ncpus)
    # Python workers import the package from the checkout root
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    conf = [
        "spark.ui.showConsoleProgress=false",
        f"spark.sql.warehouse.dir={run_dir}/warehouse",
    ]
    if trace:
        from tracing import event_log_conf

        os.makedirs(f"{run_dir}/eventlog")
        conf += event_log_conf(f"{run_dir}/eventlog")
    # every JVM of the run (the launcher and the driver) keeps its temp
    # files in the run directory and writes no hsperfdata
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    args = []
    for c in conf:
        args += ["--conf", c]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])


def start_session(ncpus: int):
    from calculate_file_content_size_for_vector_db_spark.session import get_spark

    spark = get_spark(app_name="perfbench", cpus=ncpus)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


# ---------------------------------------------------------------------------
# Run
# ---------------------------------------------------------------------------


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def run(args, run_dir: str, ncpus: int) -> tuple[dict, dict]:
    from bench import _ContentionMeter
    from tracing import EventLog, Layers, Tracer, attribute, find_event_log, wrapped
    from workloads import WORKLOADS, SpanView

    t_run = time.perf_counter()
    load_start = [round(x, 2) for x in os.getloadavg()]
    meter = _ContentionMeter()
    wl = WORKLOADS[args.workload](run_dir, args.seed, ncpus)
    t0 = time.perf_counter()
    wl.generate()
    gen_s = time.perf_counter() - t0

    trace = bool(args.trace)
    meter.sample()  # the contention window is set-up plus units
    t0 = time.perf_counter()
    spark = start_session(ncpus)
    session_s = time.perf_counter() - t0
    tracer = Tracer(spark, f"{args.workload}-{args.seed}", enabled=trace)
    with tracer.span("traced.setup"), wrapped(wl.trace_targets(Layers(tracer)) if trace else []):
        wl.setup(spark, tracer)
    setup_s = time.perf_counter() - t0

    ops, units, errors = [], [], []
    sampler = RssSampler()
    sampler.start()

    def one_unit(name: str):
        try:
            with tracer.span(name):
                u = wl.unit(tracer)
        except Exception:  # noqa: BLE001 - a failed unit is a failed op, reported below
            errors.append(traceback.format_exc())
            ops.append(("unit", 0.0, False, errors[-1].strip().splitlines()[-1]))
            return None
        ops.extend((o.kind, o.seconds, o.ok, o.detail) for o in u.ops)
        return u

    traced_units = []
    if not trace:
        t_end = time.perf_counter() + args.seconds
        while len(units) < wl.min_units or time.perf_counter() < t_end:
            u = one_unit("unit")
            if u is None:
                break
            units.append(u)
    else:
        for _ in range(wl.untraced_units_in_trace):
            u = one_unit("untraced.unit")
            if u is None:
                break
            units.append(u)
        with wrapped(wl.trace_targets(Layers(tracer))):
            u = one_unit("traced.unit")
            if u is not None:
                traced_units.append(u)
    ext_busy = meter.sample()
    peak_rss = sampler.stop()
    try:
        for o in wl.final_checks():
            ops.append((o.kind, o.seconds, o.ok, o.detail))
    except Exception:  # noqa: BLE001
        errors.append(traceback.format_exc())
        ops.append(("check", 0.0, False, errors[-1].strip().splitlines()[-1]))
    stop_jvm()

    stop_s = time.perf_counter()
    attempted = len(ops)
    failed = sum(1 for o in ops if not o[2])
    if not trace:
        metrics = end_to_end_metrics(setup_s, units, peak_rss)
    else:
        log = EventLog(find_event_log(f"{run_dir}/eventlog"))
        attribute(tracer, log)
        metrics = per_layer_metrics(wl.layer_metrics(SpanView(tracer), log), tracer,
                                    session_s, units, traced_units)
        os.makedirs(f"{ROOT}/.perfbench_out", exist_ok=True)
        tracer.write(f"{ROOT}/.perfbench_out/spans-{args.workload}-seed{args.seed}.json")

    report = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": int(trace),
        "ncpus": ncpus,
        "load_at_start": load_start,
        "ext_busy_cpus": ext_busy,
        "contended": ext_busy > CONTENDED_CPUS,
        "generate_s": round(gen_s, 3),
        "run_s": round(stop_s - t_run, 3),
        "setup_s": round(setup_s, 3),
        "session_start_s": round(session_s, 3),
        "unit_s": [round(u.seconds, 3) for u in units],
        "traced_unit_s": [round(u.seconds, 3) for u in traced_units],
        "ops": {k: [round(o[1], 3) for o in ops if o[0] == k] for k in ("trigger", "query", "takedown", "check")},
        "failures": [o[3] for o in ops if not o[2]][:10],
        "errors": [e.strip().splitlines()[-1] for e in errors],
        "inputs": wl.properties(),
    }
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    for e in errors:
        print(e, file=sys.stderr)
    return result, report


E2E_UNITS = {
    "setup_s": "s",
    "wall_s": "s",
    "text_mb_per_s": "MB/s",
    "docs_per_s": "docs/s",
    "trigger_p50_s": "s",
    "query_p50_s": "s",
    "peak_rss_mb": "MB",
}


def end_to_end_metrics(setup_s: float, units: list, peak_rss: int) -> dict:
    """name -> (value, unit) for the untraced run: the set-up time and
    medians over the units and the units' trigger and query calls. The
    throughputs divide a unit's input by the time of the calls that
    consume it (``Unit.input_s``)."""
    ops = [o for u in units for o in u.ops]
    values = {
        "setup_s": setup_s,
        "wall_s": median([u.seconds for u in units]),
        "text_mb_per_s": median([u.text_chars / 1e6 / u.input_s for u in units]),
        "docs_per_s": median([u.docs / u.input_s for u in units]),
        "trigger_p50_s": median([o.seconds for o in ops if o.kind == "trigger"]),
        "query_p50_s": median([o.seconds for o in ops if o.kind == "query"]),
        "peak_rss_mb": peak_rss / 1e6,
    }
    return {k: (values[k], E2E_UNITS[k]) for k in E2E_UNITS}


def per_layer_metrics(layer_values: dict, tracer, session_s: float, units: list,
                      traced_units: list) -> dict:
    """name -> (value, unit) for the traced run. Layers the workload does
    not run report 0."""
    from tracing import SPARK_COUNTERS
    from workloads import SpanView

    names = per_layer_names()
    unknown = set(layer_values) - set(names)
    if unknown:
        raise ValueError(f"layer metrics missing from per_layer_names(): {sorted(unknown)}")
    values = dict.fromkeys(names, 0.0)
    values.update(layer_values)
    values["session.start_s"] = session_s
    view = SpanView(tracer)
    unit_spans = [s for r in view.roots for s in view.subtree(r) if not s.name.startswith("trace.")]
    n = view.n_units()
    for c in SPARK_COUNTERS:
        values[f"spark.{c}"] = sum(s.counts.get(c, 0) for s in unit_spans) / n
    # the last untraced unit ran warm, as the traced one does
    values["trace.overhead_s"] = median([u.seconds for u in traced_units]) - (units[-1].seconds if units else 0.0)
    return {k: (v, unit_of(k)) for k, v in values.items()}


def unit_of(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_bytes"):
        return "bytes"
    if name in ("dedup.pair_yield", "dedup.planted_recall", "streaming.admit_ratio",
                "streaming.store_bytes_per_admitted_byte"):
        return "ratio"
    return "count"


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, PKG, "__init__.py")) or not os.path.isfile(
        os.path.join(ROOT, "bench.py")
    ):
        print(f"perfbench: no {PKG} package or bench.py under {ROOT}; run from a checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    # a terminated run still removes its directory (the JVM exits with us)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ncpus = len(os.sched_getaffinity(0))
    run_dir = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(f"{run_dir}/tmp")
    pin_env(run_dir, ncpus, bool(args.trace))
    try:
        result, report = run(args, run_dir, ncpus)
        report["tmp_left"] = len(os.listdir(f"{run_dir}/tmp"))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(report))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
