"""Seeded benchmark inputs, cached under ``perfbench/.cache`` and verified
by content digest.

Every input is a directory of parquet files written with pyarrow (never
Spark), so the same seed and size give byte-identical files.  The
directory holds ``input.json`` recording the generator parameters and the
sha256 of every file; a cached directory is reused only if every file
still hashes to what was recorded.

Pipeline inputs are built from ``quality_filter.corpus.generate_pages``:
``base`` rows are generated and each is fanned out ``replicate`` times
under distinct urls (``<url>#r<k>``).  Replicas carry the same content, so
the pipeline oracle only scores the base rows and every replica inherits
its status.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import shutil

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

CACHE = os.path.join(os.path.dirname(os.path.abspath(__file__)), ".cache")

# the classes the native gate drops, and the minority of clean rows
# mixed in so the model and the keep path still see work
GATE_CLASSES = ("repetitive", "symbol_spam", "stuffing", "short")
GATE_CLEAN_SHARE = 0.2

# vocabulary, language mix, source count and near-duplicate rate of the
# testdata ``documents`` table (TESTDATA.md)
DOC_VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
DOC_LANGS = ("en", "zh", "es", "fr", "de")
DOC_LANG_WEIGHTS = (41, 15, 15, 15, 14)
DOC_SOURCES = 20
DOC_DUP_RATE = 0.05


def sha256_file(path: str) -> str:
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for block in iter(lambda: f.read(1 << 20), b""):
            h.update(block)
    return h.hexdigest()


class Input:
    """A built input directory and its recorded description."""

    def __init__(self, path: str, meta: dict) -> None:
        self.path = path
        self.meta = meta

    @property
    def digest(self) -> str:
        return self.meta["digest"]

    @property
    def rows(self) -> int:
        return self.meta["rows"]

    def frame(self, name: str = "base") -> pd.DataFrame:
        return pd.read_parquet(os.path.join(self.path, f"{name}.parquet"))


def _digest_files(path: str) -> dict[str, str]:
    out = {}
    for root, _, files in os.walk(path):
        for fn in files:
            if fn.endswith(".parquet"):
                full = os.path.join(root, fn)
                out[os.path.relpath(full, path)] = sha256_file(full)
    return dict(sorted(out.items()))


def _cached(kind: str, params: dict, build) -> Input:
    """Build ``kind`` with ``params`` once; reuse only on a digest match."""
    key = hashlib.sha256(json.dumps([kind, params], sort_keys=True).encode()).hexdigest()[:16]
    path = os.path.join(CACHE, f"{kind}-{key}")
    meta_path = os.path.join(path, "input.json")
    if os.path.exists(meta_path):
        with open(meta_path, encoding="utf-8") as f:
            meta = json.load(f)
        if meta.get("params") == params and _digest_files(path) == meta["files"]:
            return Input(path, meta)
    shutil.rmtree(path, ignore_errors=True)
    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    rows = build(tmp)
    files = _digest_files(tmp)
    meta = {
        "kind": kind,
        "params": params,
        "rows": rows,
        "files": files,
        "digest": hashlib.sha256(json.dumps(files, sort_keys=True).encode()).hexdigest(),
    }
    with open(os.path.join(tmp, "input.json"), "w", encoding="utf-8") as f:
        json.dump(meta, f, indent=1, sort_keys=True)
    os.replace(tmp, path)
    return Input(path, meta)


def _pages_table(pdf: pd.DataFrame) -> pa.Table:
    schema = pa.schema(
        [
            pa.field("url", pa.string(), nullable=False),
            pa.field("warc_ts", pa.timestamp("us")),
            pa.field("html", pa.binary()),
            pa.field("text", pa.string()),
            pa.field("lang", pa.string()),
        ]
    )
    pdf = pdf.assign(warc_ts=pdf["warc_ts"].astype("datetime64[us]"))
    return pa.Table.from_pandas(pdf[schema.names], schema=schema, preserve_index=False)


def _replicate(base: pd.DataFrame, replicate: int) -> pd.DataFrame:
    reps = []
    for k in range(replicate):
        r = base.copy()
        r["url"] = r["url"] + f"#r{k}"
        reps.append(r)
    return pd.concat(reps, ignore_index=True)


def _write_split(table: pa.Table, outdir: str, files: int) -> None:
    """``files`` parquet files, row i in file i % files, so a scan reads
    them as ``files`` tasks of near-equal size."""
    os.makedirs(outdir, exist_ok=True)
    idx = np.arange(table.num_rows)
    for i in range(files):
        pq.write_table(table.take(pa.array(idx[idx % files == i])),
                       os.path.join(outdir, f"part-{i:03d}.parquet"))


def html_pages(seed: int, base: int, replicate: int, files: int) -> Input:
    """Default-mix generated pages (mostly HTML), fanned out ``replicate``
    times and laid out as ``files`` parquet files."""
    params = {"seed": seed, "base": base, "replicate": replicate, "files": files,
              "generator": "corpus.generate_pages", "days": 8}

    def build(d: str) -> int:
        from quality_filter.corpus import generate_pages

        pdf = generate_pages(base, seed=seed).drop(columns=["cls"])
        pq.write_table(_pages_table(pdf), os.path.join(d, "base.parquet"))
        full = _pages_table(_replicate(pdf, replicate))
        _write_split(full, os.path.join(d, "pages"), files)
        return full.num_rows

    return _cached("html_pages", params, build)


def gate_text_pages(seed: int, base: int, replicate: int, days: int, files: int) -> Input:
    """Gate-heavy pre-extracted text pages, day-partitioned.

    Rows come from ``generate_pages`` restricted to GATE_CLASSES plus a
    GATE_CLEAN_SHARE of ``clean`` rows; html is replaced by its extracted
    text, so extraction is bypassed.  The day-partitioned copy is written
    by ``io.pages.write_pages_partitioned``'s hive layout
    (``warc_dt=YYYY-MM-DD/``) with ``files`` files per day."""
    params = {"seed": seed, "base": base, "replicate": replicate, "days": days,
              "files": files, "generator": "corpus.generate_pages",
              "classes": list(GATE_CLASSES), "clean_share": GATE_CLEAN_SHARE}

    def build(d: str) -> int:
        from quality_filter.corpus import generate_pages
        from quality_filter.text.extraction import extract_text_from_bytes

        pdf = generate_pages(base * 4, seed=seed, days=days)
        gate = pdf[pdf["cls"].isin(GATE_CLASSES)]
        n_gate = min(len(gate), round(base * (1 - GATE_CLEAN_SHARE)))
        clean = pdf[pdf["cls"] == "clean"].head(base - n_gate)
        pdf = pd.concat([gate.head(n_gate), clean]).sort_index().drop(columns=["cls"])
        text = [
            t if isinstance(t, str) else extract_text_from_bytes(h)
            for t, h in zip(pdf["text"], pdf["html"])
        ]
        pdf = pdf.assign(text=text, html=None).reset_index(drop=True)
        pq.write_table(_pages_table(pdf), os.path.join(d, "base.parquet"))
        full = _replicate(pdf, replicate)
        day = full["warc_ts"].dt.strftime("%Y-%m-%d")
        for dt in sorted(day.unique()):
            _write_split(_pages_table(full[day == dt]),
                         os.path.join(d, "pages", f"warc_dt={dt}"), files)
        return len(full)

    return _cached("gate_text_pages", params, build)


def documents(seed: int, n_docs: int) -> Input:
    """A ``documents`` table shaped like the testdata one:
    10-100 words from a 31-word vocabulary, a fixed language mix,
    ``src<id % 20>`` sources and DOC_DUP_RATE near-duplicates (an earlier
    doc's text plus `` dup``)."""
    params = {"seed": seed, "n_docs": n_docs, "vocab": len(DOC_VOCAB),
              "sources": DOC_SOURCES, "dup_rate": DOC_DUP_RATE}

    def build(d: str) -> int:
        rnd = random.Random(seed)
        langs = rnd.choices(DOC_LANGS, weights=DOC_LANG_WEIGHTS, k=n_docs)
        texts: list[str] = []
        for i in range(n_docs):
            if i > 20 and rnd.random() < DOC_DUP_RATE:
                texts.append(texts[rnd.randrange(i)] + " dup")
            else:
                texts.append(" ".join(rnd.choices(DOC_VOCAB, k=rnd.randint(10, 100))))
        df = pd.DataFrame(
            {
                "doc_id": np.arange(n_docs, dtype=np.int64),
                "text": texts,
                "lang": langs,
                "source": [f"src{i % DOC_SOURCES}" for i in range(n_docs)],
                "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
            }
        )
        pq.write_table(pa.Table.from_pandas(df, preserve_index=False),
                       os.path.join(d, "documents.parquet"))
        return n_docs

    return _cached("documents", params, build)
