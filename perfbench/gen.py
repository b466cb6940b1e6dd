"""Seeded input generator for the benchmark workloads.

Every input the program sees is written here from ``--seed``: PDF
folders for ``pdf_sizing``, a ``documents``/``embeddings`` parquet
directory for ``curation_batch`` and per-trigger batch files for
``ingest_serve``. The same seed gives byte-identical files. Each writer
returns a manifest (planted duplicate pairs, per-file pages and bytes,
and the measured share of every input property it was asked to plant)
that the correctness checks and the report read; the program never
receives it.
"""

from __future__ import annotations

import math
import os
import random
from dataclasses import dataclass, field
from statistics import NormalDist

import pyarrow as pa
import pyarrow.parquet as pq

from calculate_file_content_size_for_vector_db_spark.operators.textstats import LANG_MARKERS
from calculate_file_content_size_for_vector_db_spark.sources.extract import make_simple_pdf

EMB_DIM = 64
N_CENTERS = 16
NGRAM = 3  # operators.dedup.NGRAM, the shingle width the planted pairs are measured with

_SYLLABLES = [c + v for c in "bdfgkmnprstvz" for v in "aeiou"]
_MARKERS = {w for ws in LANG_MARKERS.values() for w in ws}


def vocabulary(n: int = 4000) -> list[str]:
    """A fixed vocabulary of pronounceable pseudo-words (independent of
    the seed), excluding every language-marker word so that only the
    inserted stopwords decide the language gate."""
    rng = random.Random(12345)
    words: list[str] = []
    seen: set[str] = set()
    while len(words) < n:
        w = "".join(rng.choice(_SYLLABLES) for _ in range(rng.randint(2, 4)))
        if w not in seen and w not in _MARKERS:
            seen.add(w)
            words.append(w)
    return words


VOCAB = vocabulary()


def lognormal_sizes(rng: random.Random, n: int, median: float, sigma: float, lo: int, hi: int) -> list[int]:
    """``n`` sizes at the evenly spaced quantiles of a clipped lognormal,
    in seeded random order: every seed gets the same multiset of sizes
    (so the same amount of work) and a different assignment."""
    dist = NormalDist(math.log(median), sigma)
    sizes = [max(lo, min(hi, int(math.exp(dist.inv_cdf((i + 0.5) / n))))) for i in range(n)]
    rng.shuffle(sizes)
    return sizes


def shuffled_labels(rng: random.Random, n: int, shares: tuple[tuple[str, float], ...]) -> list[str]:
    """``n`` labels with each label's exact share, in seeded random order."""
    out: list[str] = []
    for label, share in shares:
        out += [label] * int(round(n * share))
    out = (out + [shares[0][0]] * n)[:n]
    rng.shuffle(out)
    return out


def shingle_set(text: str, n: int = NGRAM) -> set[str]:
    toks = text.split()
    return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}


def jaccard(a: str, b: str) -> float:
    sa, sb = shingle_set(a), shingle_set(b)
    return len(sa & sb) / len(sa | sb) if sa or sb else 0.0


def quantile(values: list[float], q: float) -> float:
    s = sorted(values)
    return s[min(len(s) - 1, int(q * len(s)))] if s else 0.0


# ---------------------------------------------------------------------------
# Plain-text corpora (curation_batch, ingest_serve)
# ---------------------------------------------------------------------------

LANG_SHARES = (("en", 0.82), ("de", 0.06), ("es", 0.06), ("fr", 0.06))
LOW_QUALITY_SHARE = 0.08
STOPWORD_RATE = 0.3
MUTATE_RATE = 0.05


@dataclass
class Corpus:
    doc_ids: list[int] = field(default_factory=list)
    texts: list[str] = field(default_factory=list)
    langs: list[str] = field(default_factory=list)
    sources: list[str] = field(default_factory=list)
    vectors: list[list[float]] = field(default_factory=list)
    planted: list[tuple[int, int]] = field(default_factory=list)  # (source id, duplicate id)
    low_quality: int = 0


def _doc_tokens(rng: random.Random, n_words: int, lang: str) -> list[str]:
    """Content words with stopwords of ``lang`` sprinkled in, never two
    stopwords in a row, so every 3-gram holds at least two content words
    and the LSH bands stay selective."""
    markers = LANG_MARKERS[lang]
    out: list[str] = []
    while len(out) < n_words:
        if out and out[-1] not in markers and rng.random() < STOPWORD_RATE:
            out.append(rng.choice(markers))
        else:
            out.append(rng.choice(VOCAB))
    return out


def _mutate(rng: random.Random, text: str) -> str:
    toks = text.split()
    k = max(1, int(len(toks) * MUTATE_RATE))
    for i in rng.sample(range(len(toks)), min(k, len(toks))):
        toks[i] = rng.choice(VOCAB)
    return " ".join(toks)


def _vector(rng: random.Random, centers: list[list[float]]) -> list[float]:
    c = centers[rng.randrange(len(centers))]
    return [x + rng.gauss(0.0, 0.35) for x in c]


def _near(rng: random.Random, v: list[float]) -> list[float]:
    return [x + rng.gauss(0.0, 0.05) for x in v]


def _centers(rng: random.Random) -> list[list[float]]:
    return [[rng.gauss(0.0, 1.0) for _ in range(EMB_DIM)] for _ in range(N_CENTERS)]


def make_corpus(
    rng: random.Random,
    n_docs: int,
    dup_share: float,
    words_median: float,
    words_sigma: float,
    words_cap: int,
    first_id: int = 0,
    dup_pool: Corpus | None = None,
    in_batch_dups: int = 0,
    centers: list[list[float]] | None = None,
) -> Corpus:
    """``n_docs`` documents; a ``dup_share`` of them are near-duplicates
    (about 5% of words substituted) of an original. Without ``dup_pool``
    the duplicated originals are spread evenly over the length ranks, so
    every seed duplicates the same amount of text; with a pool, sources
    are drawn from the pool (earlier documents), except the last
    ``in_batch_dups`` duplicates, which copy an earlier member of this
    corpus."""
    centers = centers or _centers(rng)
    n_dups = int(round(n_docs * dup_share))
    slots = sorted(rng.sample(range(n_docs // 10, n_docs), n_dups))
    local = set(slots[-in_batch_dups:]) if in_batch_dups else set()
    originals = [i for i in range(n_docs) if i not in set(slots)]
    lengths = lognormal_sizes(rng, len(originals), words_median, words_sigma, 8, words_cap)
    langs = shuffled_labels(rng, len(originals), LANG_SHARES)
    low_quality = set(rng.sample(originals, int(round(len(originals) * LOW_QUALITY_SHARE))))
    ids = [first_id + i for i in range(n_docs)]
    texts: list[str] = [""] * n_docs
    doc_langs: list[str] = [""] * n_docs
    vectors: list[list[float]] = [[] for _ in range(n_docs)]
    c = Corpus()
    for i, n_words, lang in zip(originals, lengths, langs):
        toks = _doc_tokens(rng, n_words, lang)
        if i in low_quality:
            toks = [t + "?!" for t in toks]
            c.low_quality += 1
        texts[i], doc_langs[i], vectors[i] = " ".join(toks), lang, _vector(rng, centers)
    by_len = sorted(originals, key=lambda i: (len(texts[i].split()), i))
    spread_sources = [by_len[int((j + 0.5) * len(by_len) / n_dups)] for j in range(n_dups)]
    rng.shuffle(spread_sources)
    for i in slots:
        if i in local:
            j = rng.choice([o for o in originals if o < i])
            src = (ids[j], texts[j], doc_langs[j], vectors[j])
        elif dup_pool is not None:
            j = rng.randrange(len(dup_pool.doc_ids))
            src = (dup_pool.doc_ids[j], dup_pool.texts[j], dup_pool.langs[j], dup_pool.vectors[j])
        else:
            j = spread_sources.pop()
            src = (ids[j], texts[j], doc_langs[j], vectors[j])
        texts[i], doc_langs[i], vectors[i] = _mutate(rng, src[1]), src[2], _near(rng, src[3])
        c.planted.append((src[0], ids[i]))
    c.doc_ids, c.texts, c.langs, c.vectors = ids, texts, doc_langs, vectors
    c.sources = [f"src{rng.randrange(8)}" for _ in range(n_docs)]
    return c


def corpus_properties(c: Corpus, texts_by_id: dict[int, str] | None = None) -> dict:
    """Measured shares of the planted input properties."""
    words = [len(t.split()) for t in c.texts]
    by_id = texts_by_id or dict(zip(c.doc_ids, c.texts))
    js = [jaccard(by_id[a], by_id[b]) for a, b in c.planted]
    n = max(1, len(c.texts))
    return {
        "docs": len(c.texts),
        "words_p50": quantile(words, 0.5),
        "words_p99": quantile(words, 0.99),
        "words_max": max(words, default=0),
        "sum_words_sq": sum(w * w for w in words),
        "dup_share": round(len(c.planted) / n, 4),
        "planted_jaccard_min": round(min(js, default=0.0), 4),
        "planted_jaccard_ge_0.5_share": round(sum(j >= 0.5 for j in js) / max(1, len(js)), 4),
        "lang_en_share": round(sum(lang == "en" for lang in c.langs) / n, 4),
        "low_quality_share": round(c.low_quality / n, 4),
        "text_bytes": sum(len(t) for t in c.texts),
    }


def _table(c: Corpus, with_vectors: bool) -> pa.Table:
    cols = {
        "doc_id": pa.array(c.doc_ids, pa.int64()),
        "text": pa.array(c.texts, pa.string()),
        "lang": pa.array(c.langs, pa.string()),
        "source": pa.array(c.sources, pa.string()),
    }
    if with_vectors:
        cols["embedding"] = pa.array(c.vectors, pa.list_(pa.float32()))
    else:
        cols["n_chars"] = pa.array([len(t) for t in c.texts], pa.int64())
    return pa.table(cols)


def write_curation(out_dir: str, seed: int, n_docs: int) -> dict:
    """``documents.parquet`` + ``embeddings.parquet`` in the fixture
    schema (FIXTURES.md) for the registered batch-curation queries."""
    rng = random.Random(seed)
    c = make_corpus(rng, n_docs, dup_share=0.3, words_median=40, words_sigma=0.7, words_cap=400)
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(_table(c, with_vectors=False), f"{out_dir}/documents.parquet")
    emb = pa.table(
        {
            "vec_id": pa.array(c.doc_ids, pa.int64()),
            "embedding": pa.array(c.vectors, pa.list_(pa.float32())),
            "label": pa.array([i % 10 for i in c.doc_ids], pa.int32()),
        }
    )
    pq.write_table(emb, f"{out_dir}/embeddings.parquet")
    return {"planted": c.planted, "properties": corpus_properties(c)}


def write_ingest(out_dir: str, seed: int, n_boot: int, n_steps: int, batch: int) -> dict:
    """One bootstrap batch and ``n_steps`` trigger batches of the
    composed ingest face's input schema (doc_id, text, lang, source,
    embedding). Each trigger batch holds about 25% near-duplicates of
    earlier documents, a few of them of its own members."""
    rng = random.Random(seed)
    centers = _centers(rng)
    kw = dict(words_median=40, words_sigma=0.7, words_cap=300, centers=centers)
    boot = make_corpus(rng, n_boot, dup_share=0.1, **kw)
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(_table(boot, with_vectors=True), f"{out_dir}/boot.parquet")
    pool = Corpus(doc_ids=list(boot.doc_ids), texts=list(boot.texts), langs=list(boot.langs),
                  vectors=list(boot.vectors))
    texts = dict(zip(boot.doc_ids, boot.texts))
    steps = []
    all_step = Corpus()
    for s in range(n_steps):
        b = make_corpus(rng, batch, dup_share=0.25, first_id=n_boot + s * batch,
                        dup_pool=pool, in_batch_dups=3, **kw)
        pq.write_table(_table(b, with_vectors=True), f"{out_dir}/step_{s:04d}.parquet")
        texts.update(zip(b.doc_ids, b.texts))
        steps.append({"ids": b.doc_ids, "planted": b.planted})
        for name in ("doc_ids", "texts", "langs", "vectors"):
            getattr(pool, name).extend(getattr(b, name))
        for name in ("doc_ids", "texts", "langs", "planted"):
            getattr(all_step, name).extend(getattr(b, name))
        all_step.low_quality += b.low_quality
    return {
        "steps": steps,
        "texts": texts,
        "properties": {"boot": corpus_properties(boot), "steps": corpus_properties(all_step, texts)},
    }


# ---------------------------------------------------------------------------
# PDF folders (pdf_sizing)
# ---------------------------------------------------------------------------

# The reference README's skew: one 1,652-page file among about 1,500 short
# ones. Smaller inputs scale the big file with the file count, so it keeps
# the share of pages, text and bytes it has at that size (about a fifth).
BIG_FILE_PAGES = 1652
BIG_FILE_AMONG = 1500


def big_file_pages(n_files: int) -> int:
    return max(1, round(BIG_FILE_PAGES * n_files / BIG_FILE_AMONG))

_PAD_LINE = b"% padding 0123456789 0123456789 0123456789 0123456789 0123456789\n"


def _page_text(rng: random.Random, n_chars: int) -> str:
    """Sentences and paragraphs (\\n and \\n\\n breaks, capitals, an
    occasional literal backslash-u escape) so the recursive splitter and
    the preprocessing chain both have work to do."""
    parts: list[str] = []
    size = 0
    while size < n_chars:
        sent = [rng.choice(VOCAB) for _ in range(rng.randint(6, 16))]
        sent[0] = sent[0].capitalize()
        if rng.random() < 0.03:
            sent.append("\\u00e9")
        s = " ".join(sent) + "."
        brk = rng.random()
        s += "\n\n" if brk < 0.1 else ("\n" if brk < 0.35 else " ")
        parts.append(s)
        size += len(s)
    return "".join(parts).rstrip()


def _pad(data: bytes, target: int) -> bytes:
    """Append PDF comment lines after %%EOF until the file reaches
    ``target`` bytes; the text extractors ignore comments."""
    missing = target - len(data)
    if missing <= 0:
        return data
    reps, rest = divmod(missing, len(_PAD_LINE))
    return data + _PAD_LINE * reps + (b"%" + b"p" * (rest - 2) + b"\n" if rest >= 2 else b"\n" * rest)


def write_pdfs(out_dir: str, seed: int, n_files: int, n_folders: int, big_file: bool = True) -> dict:
    """``n_files`` PDFs over ``n_folders`` folders. Pages per file are
    lognormal; one extra file has ``big_file_pages(n_files)`` pages. Each
    file is padded to 5-20x its text characters."""
    rng = random.Random(seed)
    folders = [f"{out_dir}/folder{k}" for k in range(n_folders)]
    for f in folders:
        os.makedirs(f, exist_ok=True)
    files = []
    page_counts = lognormal_sizes(rng, n_files, 3, 0.9, 1, 60) + ([big_file_pages(n_files)] if big_file else [])
    page_chars = iter(lognormal_sizes(rng, sum(page_counts), 900, 0.5, 80, 4000))
    ratios = [5.0 + 15.0 * (i + 0.5) / n_files for i in range(n_files)]
    rng.shuffle(ratios)
    ratios += [12.5] if big_file else []  # the big file carries most bytes: keep its ratio fixed
    for i, (n_pages, ratio) in enumerate(zip(page_counts, ratios)):
        pages = [_page_text(rng, next(page_chars)) for _ in range(n_pages)]
        raw = make_simple_pdf(pages)
        text_chars = sum(len(p) for p in pages)
        data = _pad(raw, int(ratio * text_chars))
        folder = folders[i % n_folders]
        path = f"{folder}/doc{i:05d}.pdf"
        with open(path, "wb") as fh:
            fh.write(data)
        files.append({"folder": folder, "path": path, "pages": pages, "bytes": len(data)})
    text_chars = [sum(len(p) for p in f["pages"]) for f in files]
    pages_n = [len(f["pages"]) for f in files]
    big = {}
    if big_file:  # the big file is the last one written
        big = {
            "big_file_page_share": round(pages_n[-1] / sum(pages_n), 4),
            "big_file_char_share": round(text_chars[-1] / sum(text_chars), 4),
            "big_file_byte_share": round(files[-1]["bytes"] / sum(f["bytes"] for f in files), 4),
        }
    return {
        "folders": folders,
        "files": files,
        "properties": {
            "files": len(files),
            "pages": sum(pages_n),
            "pages_p50": quantile(pages_n, 0.5),
            "pages_max": max(pages_n),
            "text_chars": sum(text_chars),
            "file_bytes": sum(f["bytes"] for f in files),
            "bytes_per_char_min": round(min(f["bytes"] / c for f, c in zip(files, text_chars)), 3),
            "bytes_per_char_max": round(max(f["bytes"] / c for f, c in zip(files, text_chars)), 3),
            "bytes_per_char_total": round(sum(f["bytes"] for f in files) / sum(text_chars), 3),
            **big,
        },
    }
