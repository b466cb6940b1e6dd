"""The benchmark's workloads.

Each workload is a closed loop with one client: it issues its next call
only after the previous one returned. A workload

- writes its inputs from the seed (``generate``, not timed);
- sets up (``setup``, timed as ``setup_s`` with the session start):
  a checked warm-up ``cli.main`` and queries for ``pdf_sizing``; nothing
  more for the one-shot batch job ``curation_batch``, whose first unit is
  what a user of the job waits for; the store bootstrap and a warm-up
  serve batch for the long-running ``ingest_serve``;
- runs units of work (``unit``): one ``trigger`` call (the write or batch
  side) and one or more ``query`` calls (the read side), plus a
  ``takedown`` on ``ingest_serve``;
- checks every call's output against values from the generator, a
  driver-side Python evaluation or the DuckDB oracle, and counts each
  mismatch as a failed operation;
- in the traced run, turns its spans into per-layer metrics.
"""

from __future__ import annotations

import contextlib
import io
import os
import random
import shutil
import time
from dataclasses import dataclass, field

import checks
import gen
from tracing import EventLog, Layers, Span, Tracer


@dataclass
class Op:
    kind: str  # trigger | query | takedown | check
    seconds: float
    ok: bool
    detail: str = ""


@dataclass
class Unit:
    seconds: float
    docs: int
    text_chars: int
    ops: list[Op] = field(default_factory=list)
    input_s: float = 0.0  # time of the calls that consume the unit's docs (the throughputs' base)


def timed(fn, *args, **kwargs):
    t0 = time.perf_counter()
    out = fn(*args, **kwargs)
    return out, time.perf_counter() - t0


class SpanView:
    """Queries over a finished tracer: spans by name prefix, restricted
    to the subtrees of the traced units."""

    def __init__(self, tracer: Tracer, root: str = "traced.unit") -> None:
        self.all = tracer.spans
        self.by_id = {s.span_id: s for s in self.all}
        kids: dict[str, float] = {}
        for s in self.all:
            if s.parent:
                kids[s.parent] = kids.get(s.parent, 0.0) + (s.end - s.start)
        self.kid_time = kids
        self.roots = [s for s in self.all if s.name == root]

    def under(self, root_name: str, prefix: str) -> list[Span]:
        out = []
        for s in self.all:
            if not s.name.startswith(prefix):
                continue
            p = s.parent
            while p:
                if self.by_id[p].name.startswith(root_name):
                    out.append(s)
                    break
                p = self.by_id[p].parent
        return out

    def subtree(self, root: Span) -> list[Span]:
        """``root`` and every span nested under it."""
        out, ids = [root], {root.span_id}
        for s in self.all:
            if s.parent in ids:
                out.append(s)
                ids.add(s.span_id)
        return out

    def units(self, prefix: str) -> list[Span]:
        return self.under("traced.unit", prefix)

    def self_s(self, spans: list[Span]) -> float:
        return sum((s.end - s.start) - self.kid_time.get(s.span_id, 0.0) for s in spans)

    @staticmethod
    def total(spans: list[Span], key: str) -> float:
        return sum(s.counts.get(key, 0) for s in spans)

    def n_units(self) -> int:
        return max(1, len(self.roots))


class Workload:
    name = ""
    # units per untraced run, at least (and at least --seconds): units take
    # 9-27 s on 4 cores, and the series of runs has a fixed time budget
    min_units = 1
    # untraced units before the traced one in a traced run; the last is
    # the base of ``trace.overhead_s``, so it must run warm as the traced
    # one does (set-up warms ``pdf_sizing`` and ``ingest_serve``)
    untraced_units_in_trace = 1

    def __init__(self, run_dir: str, seed: int, ncpus: int) -> None:
        self.run_dir = run_dir
        self.seed = seed
        self.ncpus = ncpus
        self.data = f"{run_dir}/data"
        self.spark = None

    def generate(self) -> None:
        raise NotImplementedError

    def setup(self, spark, tracer: Tracer) -> None:
        self.spark = spark

    def unit(self, tracer: Tracer) -> Unit:
        raise NotImplementedError

    def final_checks(self) -> list[Op]:
        return []

    def trace_targets(self, layers: Layers) -> list:
        return []

    def layer_metrics(self, view: SpanView, log: EventLog) -> dict:
        return {}

    def properties(self) -> dict:
        return {}


# ---------------------------------------------------------------------------
# pdf_sizing
# ---------------------------------------------------------------------------


class PdfSizing(Workload):
    """The paper's job: ``cli.main`` over generated PDF folders, one CSV
    per folder (trigger), then a metadata-only ``scan_files`` pass that
    counts the same folders' files and bytes without extraction (query).
    Set-up warms the session, so the timed units are warm calls: a first
    ``cli.main`` takes about 3x a warm one, and its time swings with how
    fast the JIT warms."""

    name = "pdf_sizing"
    EXTRACT_SCOPE = "MapInPandas"  # operator scope of the extraction stage in the event log
    QUERIES_PER_UNIT = 12  # a warm query is ~0.3 s; twelve per unit steady its median
    WARMUP_QUERIES = 3  # the first query of a session takes ~2x a warm one
    N_FILES = 150
    N_FOLDERS = 2

    def generate(self) -> None:
        self.manifest = gen.write_pdfs(f"{self.data}/pdf", self.seed, self.N_FILES, self.N_FOLDERS)
        self.expected = checks.expected_pdf_summary(self.manifest)

    def _cli(self, folders: list[str], out_dir: str) -> None:
        from calculate_file_content_size_for_vector_db_spark import cli

        shutil.rmtree(out_dir, ignore_errors=True)
        os.makedirs(out_dir)
        argv = folders + ["--parallelism", str(self.ncpus), "--output-dir", out_dir]
        with contextlib.redirect_stdout(io.StringIO()):
            rc = cli.main(argv)
        if rc != 0:
            raise RuntimeError(f"cli.main returned {rc}")

    def _metadata_scan(self) -> dict:
        from pyspark.sql import functions as F

        from calculate_file_content_size_for_vector_db_spark.sources.io import scan_files

        rows = (
            scan_files(self.spark, *self.manifest["folders"], with_content=False)
            .groupBy(F.regexp_extract("path", r"/(folder\d+)/[^/]*$", 1).alias("folder"))
            .agg(F.count("*").alias("files"), F.sum("length").alias("bytes"))
            .collect()
        )
        return {r.folder: (r.files, r["bytes"]) for r in rows}

    def _trigger(self, tracer: Tracer, span: str, folders: list[str]) -> Op:
        out_dir = f"{self.run_dir}/out"
        with tracer.span(span):
            _, t_trig = timed(self._cli, folders, out_dir)
        csvs = checks.read_cli_csvs(out_dir, folders)
        err = checks.check_pdf_summary(csvs, {f: self.expected[f] for f in folders})
        return Op("trigger", t_trig, not err, "; ".join(err))

    def setup(self, spark, tracer: Tracer) -> None:
        """Warm-up, checked: ``cli.main`` over the first folder, then a few
        queries. Most of a first call's time is JIT, code generation and
        Python worker start, which one folder pays as well as all of them."""
        self.spark = spark
        warm = [self._trigger(tracer, "setup.cli", self.manifest["folders"][:1])]
        warm += [self._query(tracer) for _ in range(self.WARMUP_QUERIES)]
        self.warmup_ops = [Op("check", o.seconds, o.ok, o.detail) for o in warm]

    def _query(self, tracer: Tracer) -> Op:
        with tracer.span("query.metadata_scan"):
            meta, t_q = timed(self._metadata_scan)
        err = checks.check_pdf_metadata(meta, self.expected)
        return Op("query", t_q, not err, "; ".join(err))

    def unit(self, tracer: Tracer) -> Unit:
        ops = [self._trigger(tracer, "cli.main", self.manifest["folders"])]
        t_trig = ops[0].seconds
        ops += [self._query(tracer) for _ in range(self.QUERIES_PER_UNIT)]
        return Unit(
            sum(o.seconds for o in ops),
            docs=len(self.manifest["files"]),
            text_chars=self.manifest["properties"]["text_chars"],
            ops=ops,
            input_s=t_trig,
        )

    def final_checks(self) -> list[Op]:
        """Pages per folder through ``extract_pages`` (the CLI's summary
        CSV has no page column)."""
        from calculate_file_content_size_for_vector_db_spark.sources.extract import extract_pages
        from calculate_file_content_size_for_vector_db_spark.sources.io import scan_files

        t0 = time.perf_counter()
        got = {f: extract_pages(scan_files(self.spark, f)).count() for f in self.manifest["folders"]}
        err = checks.check_pdf_pages(got, self.expected)
        return self.warmup_ops + [Op("check", time.perf_counter() - t0, not err, "; ".join(err))]

    def trace_targets(self, layers: Layers) -> list:
        return [
            ("sources.io", "scan_files", layers.lazy("sources.scan")),
            ("sources.extract", "extract_pages", layers.lazy("sources.extract")),
            ("operators.chunk", "chunk_recursive", layers.lazy("chunk.split")),
            ("operators.metrics", "rollup_summary", layers.lazy("metrics.rollup")),
            ("sources.io", "write_csv", layers.eager("sources.sink")),
        ]

    def layer_metrics(self, view: SpanView, log: EventLog) -> dict:
        n = view.n_units()
        untraced = [s for s in view.all if s.name == "untraced.unit"]
        passes = [
            sum(log.stages_with_scope(s, self.EXTRACT_SCOPE) for s in view.subtree(u))
            for u in untraced
        ]
        scan = view.under("cli.main", "sources.scan")
        extract, chunk, rollup = view.units("sources.extract"), view.units("chunk."), view.units("metrics.")
        return {
            "sources.scan_bytes": view.total(scan, "bytes_read") / n,
            "sources.scan_s": view.self_s(scan) / n,
            "sources.extract_s": view.self_s(extract) / n,
            "sources.pages_out": view.total(extract, "rows_out") / n,
            "sources.extract_passes": sum(passes) / len(passes) / self.N_FOLDERS if passes else 0.0,
            "sources.sink_s": view.self_s(view.units("sources.sink")) / n,
            "chunk.busy_s": view.self_s(chunk) / n,
            "chunk.chunks_out": view.total(chunk, "rows_out") / n,
            "metrics.busy_s": view.self_s(rollup) / n,
            "metrics.shuffle_bytes": view.total(rollup, "shuffle_write_bytes") / n,
        }

    def properties(self) -> dict:
        return {
            "sizes": {"files": self.N_FILES + 1, "folders": self.N_FOLDERS,
                      "big_file_pages": gen.big_file_pages(self.N_FILES)},
            "measured": self.manifest["properties"],
        }


# ---------------------------------------------------------------------------
# curation_batch
# ---------------------------------------------------------------------------


def dedup_metrics(view: SpanView, planted: list, texts: dict) -> dict:
    """Shingling, candidate and verified pairs, and planted recall over
    the traced units' ``dedup.lsh*`` spans. Distinct candidate pairs are
    the output of the first verify join: the join with exactly one join
    (the band join) below it."""
    n = view.n_units()
    lsh = view.units("dedup.lsh")
    cand = sum(max([r for r, below in s.counts.get("join_rows", []) if below == 1] or [0]) for s in lsh)
    verified = view.total(lsh, "rows_out")
    found = {tuple(sorted(p)) for s in lsh for p in s.counts.get("pairs", [])}
    eligible = [(a, b) for a, b in planted if gen.jaccard(texts[a], texts[b]) >= 0.5]
    hits = sum(tuple(sorted((a, b))) in found for a, b in eligible)
    return {
        "dedup.shingle_s": view.self_s(view.units("dedup.shingle")) / n,
        "dedup.candidate_pairs": cand / n,
        "dedup.verified_pairs": verified / n,
        "dedup.pair_yield": verified / cand if cand else 0.0,
        "dedup.planted_recall": hits / len(eligible) if eligible else 0.0,
    }


class CurationBatch(Workload):
    """Batch LLM-data curation: the registered ``curation_pipeline``
    (trigger) and ``dedup_clusters_star`` (query) on one generated
    ``documents``/``embeddings`` directory, each checked against its
    DuckDB ``oracle_sql()``."""

    name = "curation_batch"
    untraced_units_in_trace = 2  # no warm-up in set-up: the first unit warms the session
    N_DOCS = 800
    QUERIES = ("curation_pipeline", "dedup_clusters_star")

    def generate(self) -> None:
        self.manifest = gen.write_curation(f"{self.data}/cur", self.seed, self.N_DOCS)
        self.oracle = {q: checks.oracle_hash(f"{self.data}/cur", q) for q in self.QUERIES}

    def _run(self, query: str, sf_dir: str):
        from calculate_file_content_size_for_vector_db_spark.entry_queries import REGISTRY

        return REGISTRY[query].fn(self.spark, sf_dir).collect()

    def unit(self, tracer: Tracer) -> Unit:
        ops = []
        for kind, q in zip(("trigger", "query"), self.QUERIES):
            with tracer.span(f"entry.{q}"):
                rows, t = timed(self._run, q, f"{self.data}/cur")
            got = checks.rows_hash(rows)
            ok = got == self.oracle[q]
            ops.append(Op(kind, t, ok, "" if ok else f"{q}: hash {got[:12]} != oracle {self.oracle[q][:12]}"))
        # both calls read the whole corpus: the unit's docs are done when both are
        t = sum(o.seconds for o in ops)
        return Unit(t, docs=self.N_DOCS, text_chars=self.manifest["properties"]["text_bytes"], ops=ops, input_s=t)

    def trace_targets(self, layers: Layers) -> list:
        return [
            ("operators.textstats", "lang_id", layers.lazy("curation.lang_gate")),
            ("operators.textstats", "quality_score", layers.lazy("curation.quality_gate")),
            ("operators.curation", "decontaminate", layers.lazy("curation.decontam")),
            ("operators.dedup", "minhash_lsh_pairs", layers.lsh("dedup.lsh")),
            ("operators.dedup", "star_components", layers.cc("dedup.cc")),
        ]

    def layer_metrics(self, view: SpanView, log: EventLog) -> dict:
        import pyarrow.parquet as pq

        n = view.n_units()
        decontam, cc = view.units("curation.decontam"), view.units("dedup.cc")
        t = pq.read_table(f"{self.data}/cur/documents.parquet", columns=["doc_id", "text"])
        texts = dict(zip(t.column("doc_id").to_pylist(), t.column("text").to_pylist()))
        out = {
            "curation.gate_s": view.self_s(view.units("curation.lang_gate") + view.units("curation.quality_gate")) / n,
            "curation.decontam_s": view.self_s(decontam) / n,
            "curation.decontam_join_rows": sum(max([r for r, _ in s.counts.get("join_rows", [])] or [0]) for s in decontam) / n,
            "dedup.cc_rounds": view.total(cc, "cc_rounds") / n,
            "dedup.cc_jobs": view.total(cc, "jobs") / n,
            "dedup.cc_s": view.self_s(cc) / n,
        }
        out.update(dedup_metrics(view, self.manifest["planted"], texts))
        return out

    def properties(self) -> dict:
        return {"sizes": {"docs": self.N_DOCS}, "measured": self.manifest["properties"]}


# ---------------------------------------------------------------------------
# ingest_serve
# ---------------------------------------------------------------------------


class IngestServe(Workload):
    """The daily write path beside the read path, on one store. Set-up
    bootstraps the store with ``composed_ingest_batch`` and warms the
    serve path with one batch; each unit is one step of the day: a
    trigger of new documents (trigger), one serve batch of ``topk_ivf``
    queries against the stored IVF index (query) and one
    ``takedown_store_batch`` delete."""

    name = "ingest_serve"
    N_BOOT = 300
    BATCH = 200
    MAX_STEPS = 4  # generated trigger batches; an untraced run takes one step, a traced run two
    N_QUERIES = 50
    K = 10
    TAKEDOWN_IDS = 10

    def generate(self) -> None:
        self.manifest = gen.write_ingest(f"{self.data}/ing", self.seed, self.N_BOOT, self.MAX_STEPS, self.BATCH)
        texts = self.manifest["texts"]
        self.step_text = [sum(len(texts[i]) for i in st["ids"]) for st in self.manifest["steps"]]
        self.rng = random.Random(self.seed)
        self.trigger_stats: list[dict] = []
        self.planted_outcomes: list[tuple[int, int, bool]] = []

    def setup(self, spark, tracer: Tracer) -> None:
        from calculate_file_content_size_for_vector_db_spark.streaming.composed import composed_ingest_batch

        self.spark = spark
        self.store = f"{self.run_dir}/store"
        composed_ingest_batch(spark.read.parquet(f"{self.data}/ing/boot.parquet"), 0, self.store)
        warm = spark.createDataFrame([(i,) for i in range(self.N_QUERIES)], "vec_id long")
        self._serve(warm)
        self.step = 0
        self.admitted: set[int] | None = None

    def _ids(self, sub: str, col: str) -> list[int]:
        return [r[0] for r in self.spark.read.parquet(f"{self.store}/{sub}").select(col).collect()]

    def _cells(self) -> dict[int, int]:
        rows = self.spark.read.parquet(f"{self.store}/index/assign").select("vec_id", "cell").collect()
        return {r.vec_id: r.cell for r in rows}

    def _serve(self, queries):
        from pyspark.sql import functions as F

        from calculate_file_content_size_for_vector_db_spark.operators.similarity import topk_ivf

        read = self.spark.read.parquet
        emb = read(f"{self.store}/admitted").select(F.col("doc_id").alias("vec_id"), "embedding")
        return topk_ivf(
            emb, queries, k=self.K,
            assign=read(f"{self.store}/index/assign"),
            centroids=read(f"{self.store}/index/centroids"),
        ).collect()

    def _check_store(self) -> list[str]:
        return checks.check_store(self._ids("admitted", "doc_id"), self._ids("index/assign", "vec_id"), self.admitted)

    def unit(self, tracer: Tracer) -> Unit:
        from calculate_file_content_size_for_vector_db_spark.streaming.composed import composed_ingest_batch
        from calculate_file_content_size_for_vector_db_spark.streaming.takedown import takedown_store_batch

        if self.admitted is None:
            self.admitted = set(self._ids("admitted", "doc_id"))
        if self.step >= self.MAX_STEPS:
            raise RuntimeError("ingest_serve ran out of generated trigger batches")
        step, spark = self.step, self.spark
        self.step += 1
        info = self.manifest["steps"][step]
        batch = spark.read.parquet(f"{self.data}/ing/step_{step:04d}.parquet")
        before = checks.dir_stats(self.store)
        with tracer.span("streaming.trigger"):
            _, t_trig = timed(composed_ingest_batch, batch, step + 1, self.store)
        # checks and the next call's inputs are prepared between timed calls
        after = checks.dir_stats(self.store)
        new = set(self._ids("admitted", "doc_id")) - self.admitted
        err = checks.check_admission(new, info["ids"], info["planted"], self.admitted)
        self.planted_outcomes += [(a, b, b not in new) for a, b in info["planted"]
                                  if a in self.admitted and b in info["ids"]]
        self.admitted |= new
        err += self._check_store()
        texts = self.manifest["texts"]
        self.trigger_stats.append({
            "attempted": len(info["ids"]), "admitted": len(new),
            "admitted_bytes": sum(len(texts[i]) for i in new),
            "files": after[0] - before[0], "bytes": after[1] - before[1],
        })
        ops = [Op("trigger", t_trig, not err, "; ".join(err))]

        qids = self.rng.sample(sorted(self.admitted), self.N_QUERIES)
        queries = spark.createDataFrame([(q,) for q in qids], "vec_id long")
        with tracer.span("similarity.serve"):
            rows, t_q = timed(self._serve, queries)
        err = checks.check_serve(rows, qids, self._cells(), self.K)
        ops.append(Op("query", t_q, not err, "; ".join(err)))

        ids = self.rng.sample(sorted(self.admitted), self.TAKEDOWN_IDS)
        req = spark.createDataFrame([(i,) for i in ids], "doc_id long")
        with tracer.span("streaming.takedown"):
            _, t_td = timed(takedown_store_batch, req, step + 1, self.store)
        self.admitted -= set(ids)
        err = self._check_store()
        ops.append(Op("takedown", t_td, not err, "; ".join(err)))
        return Unit(sum(o.seconds for o in ops), docs=len(info["ids"]), text_chars=self.step_text[step], ops=ops,
                    input_s=t_trig)

    def trace_targets(self, layers: Layers) -> list:
        return [
            ("streaming.composed", "gate_batch", layers.eager("streaming.gate")),
            ("streaming.composed", "maintain_index_batch", layers.eager("streaming.index")),
            ("streaming.composed", "append_card_partials", layers.eager("streaming.card")),
            ("streaming.composed", "append_drift_marginals", layers.eager("streaming.drift")),
            ("streaming.neardup", "incremental_neardup_pairs", layers.lsh_incremental("dedup.lsh_incremental")),
            ("streaming.neardup", "minhash_lsh_pairs", layers.lsh("dedup.lsh")),
            ("streaming.index_maintenance", "ivf_centroids", layers.lazy("similarity.train")),
        ]

    def layer_metrics(self, view: SpanView, log: EventLog) -> dict:
        trig = view.units("streaming.trigger")
        n = max(1, len(trig))
        serve = view.units("similarity.serve")
        takedown = view.units("streaming.takedown")
        stats = self.trigger_stats[-len(trig):] if trig else []
        attempted = sum(s["attempted"] for s in stats)
        adm_bytes = sum(s["admitted_bytes"] for s in stats)
        face = lambda p: view.self_s(view.units(p)) / n  # noqa: E731
        out = {
            "similarity.train_s": view.self_s(view.under("traced.setup", "similarity.train")),
            "similarity.query_candidates": sum(max([r for r, _ in s.counts.get("join_rows", [])] or [0]) for s in serve)
            / max(1, len(serve)) / self.N_QUERIES,
            "similarity.serve_jobs": view.total(serve, "jobs") / max(1, len(serve)),
            "streaming.gate_s": face("streaming.gate"),
            "streaming.index_s": face("streaming.index"),
            "streaming.card_s": face("streaming.card"),
            "streaming.drift_s": face("streaming.drift"),
            "streaming.jobs_per_trigger": sum(
                s.counts.get("jobs", 0) for t in trig for s in view.subtree(t) if not s.name.startswith("trace.")
            ) / n,
            "streaming.files_written_per_trigger": sum(s["files"] for s in stats) / n,
            "streaming.store_bytes_per_admitted_byte": sum(s["bytes"] for s in stats) / adm_bytes if adm_bytes else 0.0,
            "streaming.takedown_s": sum(s.end - s.start for s in takedown) / max(1, len(takedown)),
            "streaming.admit_ratio": sum(s["admitted"] for s in stats) / attempted if attempted else 0.0,
        }
        out.update(dedup_metrics(view, [], {}))
        out["dedup.planted_recall"] = self.gate_recall()
        return out

    def gate_recall(self) -> float:
        """Share of planted near-duplicates of a stored document (exact
        Jaccard >= 0.5) that the gate rejected."""
        texts = self.manifest["texts"]
        eligible = [rej for a, b, rej in self.planted_outcomes if gen.jaccard(texts[a], texts[b]) >= 0.5]
        return sum(eligible) / len(eligible) if eligible else 0.0

    def properties(self) -> dict:
        return {
            "sizes": {"boot_docs": self.N_BOOT, "batch_docs": self.BATCH, "queries": self.N_QUERIES,
                      "k": self.K, "takedown_ids": self.TAKEDOWN_IDS},
            "measured": self.manifest["properties"],
        }


WORKLOADS = {w.name: w for w in (PdfSizing, CurationBatch, IngestServe)}
