"""The benchmark's own tests (no Spark session needed):

    python3 -m pytest perfbench -q

- the generator is deterministic per seed;
- each correctness check accepts a correct output and rejects a
  deliberately corrupted one;
- the metric and workload names the benchmark prints equal those in
  BENCHMARK.json.
"""

from __future__ import annotations

import copy
import hashlib
import json
import os
import sys
from collections import namedtuple

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import checks  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402
from tracing import EventLog, Tracer  # noqa: E402
from workloads import WORKLOADS, CurationBatch, IngestServe, Op, PdfSizing, SpanView, Unit  # noqa: E402

BENCHMARK = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))


def _digest(path: str) -> str:
    h = hashlib.sha256()
    for root, _, files in sorted(os.walk(path)):
        for f in sorted(files):
            h.update(f.encode())
            with open(os.path.join(root, f), "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


# ---------------------------------------------------------------------------
# generator
# ---------------------------------------------------------------------------


def test_generator_is_deterministic_per_seed(tmp_path):
    def write(sub: str, seed: int):
        d = tmp_path / sub
        m = (
            gen.write_pdfs(f"{d}/pdf", seed, 5, 2, big_file=False),
            gen.write_curation(f"{d}/cur", seed, 200),
            gen.write_ingest(f"{d}/ing", seed, 100, 2, 20),
        )
        return _digest(str(d)), json.dumps([x["properties"] for x in m], sort_keys=True)

    assert write("a", 7) == write("b", 7)
    assert write("c", 8)[0] != write("a", 7)[0]


def test_generator_plants_the_stated_properties(tmp_path):
    m = gen.write_curation(str(tmp_path), 3, 1000)
    p = m["properties"]
    assert p["dup_share"] == 0.3
    assert p["planted_jaccard_ge_0.5_share"] > 0.9
    assert 0.75 < p["lang_en_share"] < 0.9
    pdf = gen.write_pdfs(str(tmp_path / "pdf"), 3, 5, 2)
    assert len(pdf["files"][-1]["pages"]) == gen.big_file_pages(5)
    big = gen.write_pdfs(str(tmp_path / "big"), 3, 150, 2)["properties"]
    assert big["pages_max"] == gen.big_file_pages(150) == 165
    assert 0.1 < big["big_file_page_share"] < 0.35
    assert 5.0 <= pdf["properties"]["bytes_per_char_min"] <= pdf["properties"]["bytes_per_char_max"] <= 20.0


def test_padding_is_invisible_to_the_extractor(tmp_path):
    from calculate_file_content_size_for_vector_db_spark.sources.extract import extract_pdf_text

    m = gen.write_pdfs(str(tmp_path), 5, 3, 1, big_file=False)
    for f in m["files"]:
        with open(f["path"], "rb") as fh:
            data = fh.read()
        assert len(data) == f["bytes"]
        assert extract_pdf_text(data) == f["pages"]


# ---------------------------------------------------------------------------
# checks reject corrupted outputs
# ---------------------------------------------------------------------------


def test_preprocess_golden():
    assert checks.preprocess("A\n\n\nB \\uAbCd C") == "a b  c"


def _cli_rows(expected: dict) -> dict:
    """What a correct CLI run writes: one row per file plus SUM TOTAL."""
    out = {}
    for folder, e in expected.items():
        rows = [
            {"filename": name, "file_size": str(s), "chunks": str(c), "text_size": str(t),
             "ratio": str(round(s / t, 6))}
            for name, (s, c, t) in e["rows"].items()
        ]
        rows.append({"filename": "SUM TOTAL", "file_size": str(e["file_size"]), "chunks": str(e["chunks"]),
                     "text_size": str(e["text_size"]), "ratio": str(round(e["file_size"] / e["text_size"], 6))})
        out[folder] = rows
    return out


def test_pdf_checks_reject_corruption(tmp_path):
    m = gen.write_pdfs(str(tmp_path), 11, 6, 2, big_file=False)
    expected = checks.expected_pdf_summary(m)
    good = _cli_rows(expected)
    assert checks.check_pdf_summary(good, expected) == []
    folder = m["folders"][0]
    for field in ("file_size", "chunks", "text_size"):
        bad = copy.deepcopy(good)
        bad[folder][-1][field] = str(int(bad[folder][-1][field]) + 1)
        assert checks.check_pdf_summary(bad, expected)
    bad = copy.deepcopy(good)
    bad[folder][0]["chunks"] = str(int(bad[folder][0]["chunks"]) + 1)
    assert checks.check_pdf_summary(bad, expected)
    bad = copy.deepcopy(good)
    del bad[folder][0]
    assert checks.check_pdf_summary(bad, expected)

    meta = {os.path.basename(f): (e["files"], e["file_size"]) for f, e in expected.items()}
    assert checks.check_pdf_metadata(meta, expected) == []
    meta[os.path.basename(folder)] = (expected[folder]["files"], expected[folder]["file_size"] - 1)
    assert checks.check_pdf_metadata(meta, expected)

    pages = {f: e["pages"] for f, e in expected.items()}
    assert checks.check_pdf_pages(pages, expected) == []
    pages[folder] += 1
    assert checks.check_pdf_pages(pages, expected)


def test_expected_summary_counts_chunks_per_page():
    manifest = {
        "folders": ["/x/folder0"],
        "files": [{"folder": "/x/folder0", "path": "/x/folder0/a.pdf", "bytes": 100,
                   "pages": ["word " * 300, "Short\n\nPage"]}],
    }
    e = checks.expected_pdf_summary(manifest)["/x/folder0"]
    # 1,500 chars split at 1,200 on spaces -> 2 chunks; the short page -> 1
    assert (e["files"], e["pages"], e["chunks"]) == (1, 2, 3)
    # 300 four-letter words with the 298 spaces inside the two chunks, then
    # the preprocessed short page
    assert e["text_size"] == 300 * 4 + 298 + len("short page")


def test_rows_hash_rejects_corruption():
    rows = [{"doc_id": i, "cluster_id": i // 2 * 2} for i in range(10)]
    assert checks.rows_hash(rows) == checks.rows_hash(list(reversed(rows)))
    assert checks.rows_hash([{"x": 0.1234564}]) == checks.rows_hash([{"x": 0.1234561}])
    bad = copy.deepcopy(rows)
    bad[3]["cluster_id"] = 0
    assert checks.rows_hash(bad) != checks.rows_hash(rows)
    assert checks.rows_hash(rows[:-1]) != checks.rows_hash(rows)


def test_admission_and_store_checks_reject_corruption():
    batch = list(range(100, 110))
    planted = [(1, 105), (2, 107)]
    assert checks.check_admission(set(batch) - {105}, batch, planted, {1, 2}) == []
    assert checks.check_admission(set(batch) - {104}, batch, planted, {1, 2})  # false rejection
    assert checks.check_admission(set(batch) | {999}, batch, planted, {1, 2})  # foreign id
    stored = {1, 2, 3}
    assert checks.check_store([1, 2, 3], [3, 2, 1], stored) == []
    assert checks.check_store([1, 2, 3, 3], [1, 2, 3], stored)  # duplicate row
    assert checks.check_store([1, 2], [1, 2, 3], stored)  # missing admitted row
    assert checks.check_store([1, 2, 3], [1, 2, 3, 4], stored)  # purged id left in the index


def test_serve_check_rejects_corruption():
    R = namedtuple("R", "query_id neighbor_id cosine rank")
    cells = {i: i % 2 for i in range(8)}  # cell 0: 0,2,4,6; cell 1: 1,3,5,7
    good = [R(0, 2, 0.9, 1), R(0, 4, 0.8, 2), R(0, 6, 0.7, 3), R(1, 3, 0.9, 1), R(1, 5, 0.8, 2)]
    assert checks.check_serve(good, [0, 1], cells, k=2)  # query 0 returned 3 > k
    good = [r for r in good if not (r.query_id == 0 and r.rank == 3)]
    assert checks.check_serve(good, [0, 1], cells, k=2) == []
    assert checks.check_serve(good, [0, 1], cells, k=5)  # the whole cell is 3 rows, not 2
    bad = good[:-1] + [R(1, 2, 0.8, 2)]  # neighbour from another cell
    assert checks.check_serve(bad, [0, 1], cells, k=2)


# ---------------------------------------------------------------------------
# printed names equal BENCHMARK.json
# ---------------------------------------------------------------------------


def test_end_to_end_names_and_units_match_benchmark_json():
    ops = [Op("trigger", 1.0, True), Op("query", 0.5, True)]
    units = [Unit(2.0, 10, 1000, ops, input_s=1.0), Unit(3.0, 10, 1000, ops, input_s=1.0)]
    metrics = run.end_to_end_metrics(2.0, units, 10**9)
    assert {k: u for k, (_, u) in metrics.items()} == {m["name"]: m["unit"] for m in BENCHMARK["end_to_end"]}
    assert all(v > 0 for v, _ in metrics.values())


def _layer_values(wl, tmp_path) -> dict:
    log = tmp_path / "eventlog"
    log.write_text("")
    tracer = Tracer(None, "t")
    return wl.layer_metrics(SpanView(tracer), EventLog(str(log)))


def test_per_layer_names_and_units_match_benchmark_json(tmp_path, monkeypatch):
    want = {m["name"]: m["unit"] for m in BENCHMARK["per_layer"]}
    assert {n: run.unit_of(n) for n in run.per_layer_names()} == want
    monkeypatch.setattr(PdfSizing, "N_FILES", 3)
    monkeypatch.setattr(CurationBatch, "N_DOCS", 60)
    monkeypatch.setattr(IngestServe, "MAX_STEPS", 1)
    monkeypatch.setattr(IngestServe, "N_BOOT", 50)
    for name, cls in WORKLOADS.items():
        wl = cls(str(tmp_path / name), 1, 4)
        wl.generate()
        metrics = run.per_layer_metrics(_layer_values(wl, tmp_path), Tracer(None, "t"), 1.0, [], [])
        assert {k: u for k, (_, u) in metrics.items()} == want


def test_listed_workloads_are_the_benchmarks_workloads():
    assert [w["name"] for w in BENCHMARK["workloads"]] == list(WORKLOADS)
