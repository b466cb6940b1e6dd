"""Tracing for the benchmark's traced run.

Spans are recorded from the benchmark's side of each layer boundary:

- eager layers (store faces, trainers, sinks) are wrapped by name at the
  module attribute their caller looks them up from;
- lazy layers (scan, extract, chunk, rollup, gates, LSH) are wrapped the
  same way and their output is forced with ``localCheckpoint`` inside the
  span, so the span covers that layer's own work.

Every span sets its own Spark job group, so the event log (enabled only in
the traced run, uncompressed and not rolled) attributes jobs, stages and
tasks to the innermost span that launched them. Spans are kept in memory
and written out when the run ends.
"""

from __future__ import annotations

import contextlib
import importlib
import itertools
import json
import os
import time
from dataclasses import dataclass, field

PKG = "calculate_file_content_size_for_vector_db_spark"

SPARK_COUNTERS = (
    "jobs",
    "stages",
    "tasks",
    "driver_gap_s",
    "gc_s",
    "spill_bytes",
    "shuffle_write_bytes",
    "task_failures",
)


@dataclass
class Span:
    name: str
    span_id: str
    parent: str | None
    run_id: str
    start: float
    end: float = 0.0
    counts: dict = field(default_factory=dict)

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]

    def as_dict(self) -> dict:
        return {
            "name": self.name,
            "id": self.span_id,
            "parent": self.parent,
            "run_id": self.run_id,
            "start": self.start,
            "end": self.end,
            "counts": self.counts,
        }


class Tracer:
    """Span recorder bound to one SparkContext. ``enabled=False`` makes
    every method a pass-through so untraced code paths share the calls."""

    def __init__(self, spark, run_id: str, enabled: bool = True) -> None:
        self.spark = spark
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._ids = itertools.count()

    @property
    def current(self) -> Span | None:
        return self._stack[-1] if self._stack else None

    def _set_group(self, span: Span | None) -> None:
        self.spark.sparkContext.setLocalProperty(
            "spark.jobGroup.id", span.span_id if span else None
        )

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        parent = self.current
        s = Span(name, f"{self.run_id}:{next(self._ids)}", parent.span_id if parent else None,
                 self.run_id, time.time())
        self.spans.append(s)
        self._stack.append(s)
        self._set_group(s)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            self._set_group(self.current)

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump([s.as_dict() for s in self.spans], fh)


def _force(df):
    return df.localCheckpoint(eager=True)


class Layers:
    """Wrapper factories for the layer boundaries. Each returns a
    function ``orig -> wrapper`` that records one span per call."""

    def __init__(self, tracer: Tracer) -> None:
        self.t = tracer

    def _record(self, span: Span, df, pair_cols: tuple[str, str] | None = None) -> None:
        # row counts run after the layer's span closed, under their own
        # span, so they stay out of the layer's time and Spark counters
        with self.t.span("trace.count"):
            span.counts["rows_out"] = df.count()
            if pair_cols:
                span.counts["pairs"] = [tuple(r) for r in df.select(*pair_cols).collect()]

    def eager(self, name: str):
        def factory(orig):
            def wrapper(*args, **kwargs):
                with self.t.span(name):
                    return orig(*args, **kwargs)

            return wrapper

        return factory

    def lazy(self, name: str):
        """Force the returned DataFrame inside the span."""

        def factory(orig):
            def wrapper(*args, **kwargs):
                with self.t.span(name) as s:
                    out = _force(orig(*args, **kwargs))
                self._record(s, out)
                return out

            return wrapper

        return factory

    def _shingles(self, df, text_col: str, key: str):
        from calculate_file_content_size_for_vector_db_spark.operators.dedup import shingle_sets

        with self.t.span("dedup.shingle") as s:
            sh = _force(shingle_sets(df, text_col, key))
        self._record(s, sh)
        return sh

    def lsh(self, name: str):
        """``minhash_lsh_pairs``: the shingle sets are built through the
        function's own ``shingles_df`` hook under a child span, so
        shingling and the band join + verify are timed apart."""

        def factory(orig):
            def wrapper(df, threshold=0.5, text_col="text", key="doc_id", max_bucket_size=None,
                        bands_df=None, shingles_df=None):
                with self.t.span(name) as s:
                    if shingles_df is None:
                        shingles_df = self._shingles(df, text_col, key)
                    out = _force(orig(df, threshold, text_col, key, max_bucket_size=max_bucket_size,
                                      bands_df=bands_df, shingles_df=shingles_df))
                self._record(s, out, ("a_id", "b_id"))
                return out

            return wrapper

        return factory

    def lsh_incremental(self, name: str):
        """``incremental_neardup_pairs`` with the batch shingle sets built
        through its ``batch_shingles`` hook under a child span."""

        def factory(orig):
            def wrapper(batch, corpus_bands, corpus_shingles, threshold=0.5, text_col="text",
                        key="doc_id", max_bucket_size=None, batch_bands=None, batch_shingles=None):
                with self.t.span(name) as s:
                    if batch_shingles is None:
                        batch_shingles = self._shingles(batch, text_col, key)
                    out = _force(orig(batch, corpus_bands, corpus_shingles, threshold, text_col, key,
                                      max_bucket_size=max_bucket_size, batch_bands=batch_bands,
                                      batch_shingles=batch_shingles))
                self._record(s, out, ("corpus_id", "new_id"))
                return out

            return wrapper

        return factory

    def cc(self, name: str):
        """``star_components``: one ``localCheckpoint`` per round plus two
        for the edge and node sets, so rounds = checkpoints - 2."""

        def factory(orig):
            def wrapper(edges, *args, **kwargs):
                cls = type(edges)  # the concrete (classic) DataFrame class
                real = cls.localCheckpoint
                calls = [0]

                def counting(self_df, *a, **kw):
                    calls[0] += 1
                    return real(self_df, *a, **kw)

                with self.t.span(name) as s:
                    cls.localCheckpoint = counting
                    try:
                        out = orig(edges, *args, **kwargs)
                    finally:
                        cls.localCheckpoint = real
                    out = _force(out)
                s.counts["cc_rounds"] = max(0, calls[0] - 2)
                self._record(s, out)
                return out

            return wrapper

        return factory


@contextlib.contextmanager
def wrapped(targets: list[tuple[str, str, object]]):
    """Patch ``module.attr`` with ``factory(original)`` for each
    (module, attr, factory) — the module being the one the caller looks
    the name up from — and restore the originals on exit."""
    saved = []
    try:
        for mod_name, attr, factory in targets:
            mod = importlib.import_module(f"{PKG}.{mod_name}")
            orig = getattr(mod, attr)
            saved.append((mod, attr, orig))
            setattr(mod, attr, factory(orig))
        yield
    finally:
        for mod, attr, orig in reversed(saved):
            setattr(mod, attr, orig)


# ---------------------------------------------------------------------------
# Event log
# ---------------------------------------------------------------------------


def event_log_conf(log_dir: str) -> list[str]:
    """spark-submit ``--conf`` arguments for an uncompressed, unrolled
    event log."""
    return [
        "spark.eventLog.enabled=true",
        f"spark.eventLog.dir=file://{log_dir}",
        "spark.eventLog.compress=false",
        "spark.eventLog.rolling.enabled=false",
    ]


@dataclass
class Task:
    stage: int
    launch: float
    finish: float
    failed: bool
    gc_s: float
    spill_bytes: int
    shuffle_write_bytes: int
    bytes_read: int


class EventLog:
    """Jobs, stages, tasks and SQL join metrics from one event log file."""

    def __init__(self, path: str) -> None:
        self.job_group: dict[int, str | None] = {}
        self.job_exec: dict[int, int | None] = {}
        self.job_stages: dict[int, list[int]] = {}
        self.tasks: list[Task] = []
        self.stage_attempts: dict[int, int] = {}
        self.stage_scopes: dict[int, list[str]] = {}
        self.acc_values: dict[int, int] = {}
        self.exec_join_accs: dict[int, set[tuple[int, int]]] = {}
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event", "")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    jid = ev["Job ID"]
                    self.job_group[jid] = props.get("spark.jobGroup.id")
                    ex = props.get("spark.sql.execution.id")
                    self.job_exec[jid] = int(ex) if ex is not None else None
                    self.job_stages[jid] = list(ev.get("Stage IDs", []))
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    sid = info["Stage ID"]
                    self.stage_attempts[sid] = self.stage_attempts.get(sid, 0) + 1
                    self.stage_scopes[sid] = _scope_names(info)
                    for acc in info.get("Accumulables", []):
                        try:
                            self.acc_values[acc["ID"]] = max(
                                self.acc_values.get(acc["ID"], 0), int(acc["Value"])
                            )
                        except (KeyError, TypeError, ValueError):
                            pass
                elif kind == "SparkListenerTaskEnd":
                    info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    im = m.get("Input Metrics") or {}
                    self.tasks.append(
                        Task(
                            stage=ev["Stage ID"],
                            launch=info["Launch Time"] / 1000.0,
                            finish=info["Finish Time"] / 1000.0,
                            failed=bool(info.get("Failed")) or ev.get("Task End Reason", {}).get("Reason") != "Success",
                            gc_s=m.get("JVM GC Time", 0) / 1000.0,
                            spill_bytes=m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                            shuffle_write_bytes=sw.get("Shuffle Bytes Written", 0),
                            bytes_read=im.get("Bytes Read", 0),
                        )
                    )
                elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
                    "SparkListenerSQLAdaptiveExecutionUpdate"
                ):
                    self.exec_join_accs.setdefault(ev["executionId"], set()).update(
                        _join_row_accs(ev.get("sparkPlanInfo") or {})[0]
                    )
        self.stage_tasks: dict[int, list[Task]] = {}
        for t in self.tasks:
            self.stage_tasks.setdefault(t.stage, []).append(t)

    def jobs_of(self, span_id: str) -> list[int]:
        return [j for j, g in self.job_group.items() if g == span_id]

    def span_counts(self, span: Span, child_intervals: list[tuple[float, float]]) -> dict:
        jobs = self.jobs_of(span.span_id)
        stages = sorted({s for j in jobs for s in self.job_stages[j] if s in self.stage_attempts})
        tasks = [t for s in stages for t in self.stage_tasks.get(s, [])]
        self_wall = (span.end - span.start) - sum(b - a for a, b in child_intervals)
        busy = _union_len(
            [(max(t.launch, span.start), min(t.finish, span.end)) for t in tasks],
            exclude=child_intervals,
        )
        return {
            "jobs": len(jobs),
            "stages": len(stages),
            "tasks": len(tasks),
            "driver_gap_s": max(0.0, self_wall - busy),
            "gc_s": sum(t.gc_s for t in tasks),
            "spill_bytes": sum(t.spill_bytes for t in tasks),
            "shuffle_write_bytes": sum(t.shuffle_write_bytes for t in tasks),
            "task_failures": sum(t.failed for t in tasks),
            "bytes_read": sum(t.bytes_read for t in tasks),
        }

    def join_rows(self, span: Span) -> list[tuple[int, int]]:
        """(output rows, joins below it) of every join operator that ran in
        the SQL executions of the span's jobs."""
        execs = {self.job_exec[j] for j in self.jobs_of(span.span_id)} - {None}
        accs = set().union(*(self.exec_join_accs.get(e, set()) for e in execs))
        return sorted((self.acc_values[a], below) for a, below in accs if a in self.acc_values)

    def stages_with_scope(self, span: Span, scope: str) -> int:
        """Completed stages of the span's jobs that ran an operator whose
        scope name contains ``scope``."""
        return sum(
            1
            for j in self.jobs_of(span.span_id)
            for s in self.job_stages[j]
            if any(scope in n for n in self.stage_scopes.get(s, []))
        )


def _scope_names(stage_info: dict) -> list[str]:
    names = []
    for rdd in stage_info.get("RDD Info", []):
        scope = rdd.get("Scope")
        if scope:
            try:
                names.append(json.loads(scope).get("name", ""))
            except ValueError:
                pass
        names.append(rdd.get("Name", ""))
    return names


def _join_row_accs(node: dict) -> tuple[set[tuple[int, int]], int]:
    """((accumulator id, joins below), ...) for the output-row metric of
    every join under ``node``, and the number of joins in its subtree."""
    out: set[tuple[int, int]] = set()
    below = 0
    for child in node.get("children", []):
        accs, n = _join_row_accs(child)
        out |= accs
        below += n
    if "Join" in node.get("nodeName", ""):
        for m in node.get("metrics", []):
            if m.get("name") == "number of output rows":
                out.add((m["accumulatorId"], below))
        below += 1
    return out, below


def _union_len(intervals, exclude=()) -> float:
    """Length of the union of ``intervals`` minus the parts inside any
    ``exclude`` interval."""
    pts = sorted((a, b) for a, b in intervals if b > a)
    merged: list[list[float]] = []
    for a, b in pts:
        if merged and a <= merged[-1][1]:
            merged[-1][1] = max(merged[-1][1], b)
        else:
            merged.append([a, b])
    total = sum(b - a for a, b in merged)
    for ea, eb in exclude:
        total -= sum(max(0.0, min(b, eb) - max(a, ea)) for a, b in merged)
    return max(0.0, total)


def attribute(tracer: Tracer, log: EventLog) -> None:
    """Fill each span's Spark counters from the event log (self jobs only:
    a job belongs to the innermost span that launched it)."""
    children: dict[str, list[tuple[float, float]]] = {}
    for s in tracer.spans:
        if s.parent:
            children.setdefault(s.parent, []).append((s.start, s.end))
    for s in tracer.spans:
        s.counts.update(log.span_counts(s, children.get(s.span_id, [])))
        s.counts["join_rows"] = log.join_rows(s)


def find_event_log(log_dir: str) -> str:
    files = [os.path.join(log_dir, f) for f in os.listdir(log_dir)]
    files = [f for f in files if os.path.isfile(f) and not f.endswith(".inprogress")]
    if not files:
        raise RuntimeError(f"no finished event log in {log_dir}")
    return max(files, key=os.path.getmtime)
