"""Correctness checks for the benchmark's outputs.

Each check returns a list of problems (empty means the output is
correct); the workloads count a non-empty list as a failed operation.
Expected values come from the generator's manifest, from a driver-side
Python evaluation of the split and preprocessing rules, or from the
registered DuckDB oracle SQL — never from the program's own output.
"""

from __future__ import annotations

import csv
import glob
import hashlib
import json
import math
import os
import re

from calculate_file_content_size_for_vector_db_spark.cli import folder_to_csv_name
from calculate_file_content_size_for_vector_db_spark.operators.chunk import (
    DEFAULT_CHUNK_SIZE,
    split_text_recursive,
)
from calculate_file_content_size_for_vector_db_spark.operators.metrics import SUM_TOTAL_LABEL

def preprocess(text: str) -> str:
    """The reference's preprocessing rule (pdf_reader.py:390-403), in
    Python's regex engine rather than Spark's."""
    text = re.sub(r"\n{2,}", "\n", text)
    text = re.sub(r"\n+", " ", text)
    text = re.sub(r"\\u[0-9a-fA-F]{4}", "", text)
    return text.lower()


# ---------------------------------------------------------------------------
# pdf_sizing
# ---------------------------------------------------------------------------


def expected_pdf_summary(manifest: dict) -> dict:
    """folder -> files, pages, file bytes, chunks, text size and the
    per-file rows, from the generated pages."""
    out = {
        f: {"files": 0, "pages": 0, "file_size": 0, "chunks": 0, "text_size": 0, "rows": {}}
        for f in manifest["folders"]
    }
    for f in manifest["files"]:
        chunks = [c for p in f["pages"] for c in split_text_recursive(p, DEFAULT_CHUNK_SIZE, 0)]
        text_size = sum(len(preprocess(c)) for c in chunks)
        e = out[f["folder"]]
        e["files"] += 1
        e["pages"] += len(f["pages"])
        e["file_size"] += f["bytes"]
        e["chunks"] += len(chunks)
        e["text_size"] += text_size
        e["rows"][os.path.basename(f["path"])] = (f["bytes"], len(chunks), text_size)
    return out


def read_cli_csvs(out_dir: str, folders: list[str]) -> dict:
    """folder -> list of CSV rows the CLI wrote for it."""
    out = {}
    for folder in folders:
        rows = []
        for part in sorted(glob.glob(f"{out_dir}/{folder_to_csv_name(folder)}.d/part-*.csv")):
            with open(part, newline="") as fh:
                rows.extend(csv.DictReader(fh))
        out[folder] = rows
    return out


def check_pdf_summary(csvs: dict, expected: dict) -> list[str]:
    problems = []
    for folder, e in expected.items():
        rows = csvs.get(folder, [])
        total = [r for r in rows if r["filename"] == SUM_TOTAL_LABEL]
        files = {r["filename"]: r for r in rows if r["filename"] != SUM_TOTAL_LABEL}
        name = os.path.basename(folder)
        if len(total) != 1:
            problems.append(f"{name}: {len(total)} SUM TOTAL rows")
            continue
        t = total[0]
        got = (len(files), int(t["file_size"]), int(t["chunks"]), int(t["text_size"]))
        want = (e["files"], e["file_size"], e["chunks"], e["text_size"])
        if got != want:
            problems.append(f"{name}: total (files, bytes, chunks, text) {got} != {want}")
        if not math.isclose(float(t["ratio"]), e["file_size"] / e["text_size"], abs_tol=1e-6):
            problems.append(f"{name}: total ratio {t['ratio']}")
        for fname, (size, chunks, text) in e["rows"].items():
            r = files.get(fname)
            if r is None or (int(r["file_size"]), int(r["chunks"]), int(r["text_size"])) != (size, chunks, text):
                problems.append(f"{name}/{fname}: row {r} != {(size, chunks, text)}")
                break
    return problems


def check_pdf_metadata(meta: dict, expected: dict) -> list[str]:
    """``meta``: folder basename -> (files, bytes) from the metadata scan."""
    problems = []
    for folder, e in expected.items():
        name = os.path.basename(folder)
        got = tuple(meta.get(name, (0, 0)))
        if got != (e["files"], e["file_size"]):
            problems.append(f"{name}: metadata (files, bytes) {got} != {(e['files'], e['file_size'])}")
    return problems


def check_pdf_pages(got: dict, expected: dict) -> list[str]:
    return [
        f"{os.path.basename(f)}: pages {got.get(f)} != {e['pages']}"
        for f, e in expected.items()
        if got.get(f) != e["pages"]
    ]


# ---------------------------------------------------------------------------
# curation_batch
# ---------------------------------------------------------------------------


def _norm(v):
    if isinstance(v, bool) or v is None:
        return v
    if isinstance(v, float):
        return None if math.isnan(v) else round(v, 6)
    if isinstance(v, (list, tuple)):
        return [_norm(x) for x in v]
    if hasattr(v, "item"):  # numpy scalars
        return _norm(v.item())
    if isinstance(v, int):
        return int(v)
    return str(v)


def rows_hash(rows) -> str:
    """Order-insensitive hash of a result: columns sorted by name,
    doubles rounded to 6 decimals (both engines round to that grid)."""
    dicts = [r.asDict() if hasattr(r, "asDict") else dict(r) for r in rows]
    canon = sorted(json.dumps([[k, _norm(d[k])] for k in sorted(d)]) for d in dicts)
    return hashlib.sha256("\n".join(canon).encode()).hexdigest()


ORACLE_CACHE = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                            ".perfbench_out", "oracle")


def oracle_hash(sf_dir: str, query: str) -> str:
    """Hash of the registered DuckDB oracle for ``query`` over the
    generated ``documents``/``embeddings`` tables, computed once per
    input and oracle text and cached under ``ORACLE_CACHE``."""
    from calculate_file_content_size_for_vector_db_spark.entry_queries import REGISTRY

    sql = REGISTRY[query].oracle
    key = hashlib.sha256(sql.encode())
    for t in ("documents", "embeddings"):
        with open(f"{sf_dir}/{t}.parquet", "rb") as fh:
            key.update(fh.read())
    cached = os.path.join(ORACLE_CACHE, f"{query}-{key.hexdigest()[:24]}")
    if os.path.exists(cached):
        with open(cached) as fh:
            return fh.read().strip()
    digest = _oracle_hash(sf_dir, sql)
    os.makedirs(ORACLE_CACHE, exist_ok=True)
    with open(cached, "w") as fh:
        fh.write(digest)
    return digest


def _oracle_hash(sf_dir: str, sql: str) -> str:
    import duckdb

    con = duckdb.connect()
    try:
        for t in ("documents", "embeddings"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
        cur = con.execute(sql)
        names = [d[0] for d in cur.description]
        return rows_hash([dict(zip(names, r)) for r in cur.fetchall()])
    finally:
        con.close()


# ---------------------------------------------------------------------------
# ingest_serve
# ---------------------------------------------------------------------------


def dir_stats(path: str) -> tuple[int, int]:
    """(files, bytes) under ``path``."""
    n = size = 0
    for root, _, files in os.walk(path):
        for f in files:
            n += 1
            size += os.path.getsize(os.path.join(root, f))
    return n, size


def check_admission(new: set, batch_ids: list, planted: list, stored_before: set) -> list[str]:
    """Admitted plus rejected equals attempted, and only planted
    near-duplicates are rejected."""
    problems = []
    batch = set(batch_ids)
    if new - batch:
        problems.append(f"{len(new - batch)} admitted ids are not in the trigger batch")
    rejected = batch - new
    if len(new & batch) + len(rejected) != len(batch_ids):
        problems.append(f"admitted {len(new & batch)} + rejected {len(rejected)} != attempted {len(batch_ids)}")
    dups = {d for _, d in planted}
    false = rejected - dups
    if false:
        problems.append(f"{len(false)} rejected ids are not planted near-duplicates, e.g. {sorted(false)[:3]}")
    if new & stored_before:
        problems.append("a stored id was admitted again")
    return problems


def check_store(admitted_rows: list, assign_rows: list, expected: set) -> list[str]:
    """Stored ``admitted`` and ``index/assign`` rows both equal
    cumulative admissions minus takedowns."""
    problems = []
    for name, rows in (("admitted", admitted_rows), ("index/assign", assign_rows)):
        if len(rows) != len(set(rows)):
            problems.append(f"{name}: {len(rows) - len(set(rows))} duplicate rows")
        if set(rows) != expected:
            problems.append(
                f"{name}: {len(set(rows) - expected)} unexpected, {len(expected - set(rows))} missing ids"
            )
    return problems


def check_serve(rows, qids: list, cells: dict, k: int) -> list[str]:
    """Each query returns k neighbours from its own cell, or the whole
    cell (minus the query) when the cell holds fewer."""
    size: dict[int, int] = {}
    for c in cells.values():
        size[c] = size.get(c, 0) + 1
    got: dict[int, list] = {q: [] for q in qids}
    problems = []
    for r in rows:
        if r.query_id not in got:
            problems.append(f"result for unknown query {r.query_id}")
            break
        got[r.query_id].append(r)
    for q in qids:
        want = min(k, size.get(cells.get(q), 0) - 1)
        rs = got[q]
        if len(rs) != want:
            problems.append(f"query {q}: {len(rs)} rows != {want}")
            break
        if any(r.neighbor_id == q or cells.get(r.neighbor_id) != cells[q] for r in rs):
            problems.append(f"query {q}: neighbour outside its cell or itself")
            break
        if sorted(r.rank for r in rs) != list(range(1, want + 1)):
            problems.append(f"query {q}: ranks {sorted(r.rank for r in rs)}")
            break
    return problems
