"""Seeded input generator, cached on disk by (kind, size, seed).

Everything the engine reads is a file made here from
``datagen.write_pages_dataset`` / ``augment_with_recrawls`` and
``sources.warc.encode_warc``. The reference near-duplicate pairs are
recomputed independently in pure Python (5-token shingles, exact Jaccard),
so the checks never trust the engine's own kernels.

Generation time is printed to stderr when a cache entry is built and is
never part of a workload metric.
"""

from __future__ import annotations

import itertools
import os
import shutil
import sys
import time
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SHINGLE_K = 5
JACCARD_MIN = 0.7
WARC_ARCHIVES = 16
RECRAWL_RATE = 0.3


def shingles(text: str) -> set[tuple[str, ...]]:
    toks = text.split()
    return set(zip(*(toks[i:] for i in range(SHINGLE_K))))


def jaccard(a: set, b: set) -> float:
    inter = len(a & b)
    union = len(a) + len(b) - inter
    return inter / union if union else 0.0


def reference_pairs(texts: list[str], group_ids: np.ndarray) -> np.ndarray:
    """(a, b) doc-id pairs, a < b, inside one planted group, with exact
    5-shingle Jaccard >= 0.7. Doc ids are row positions (datagen's)."""
    order = np.argsort(group_ids, kind="stable")
    bounds = np.flatnonzero(np.diff(group_ids[order])) + 1
    out: list[tuple[int, int]] = []
    for members in np.split(order, bounds):
        if len(members) < 2:
            continue
        sets = {int(d): shingles(texts[d]) for d in members}
        for a, b in itertools.combinations(sorted(sets), 2):
            if jaccard(sets[a], sets[b]) >= JACCARD_MIN:
                out.append((a, b))
    return np.array(out, dtype=np.int64).reshape(-1, 2)


def _build(final: str, make) -> str:
    """Build a cache entry in a temp dir, then rename it into place."""
    if os.path.isdir(final):
        return final
    tmp = final + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    t0 = time.time()
    make(tmp)
    os.rename(tmp, final)
    print(f"# generated {os.path.basename(final)} in {time.time() - t0:.1f}s", file=sys.stderr)
    return final


def corpus(cache: str, n_docs: int, seed: int, warm_docs: int, stream_batches: int = 0) -> str:
    """pages.parquet + truth_groups.parquet (datagen), ref_pairs.npy, a
    warm-up slice warm.parquet, and optionally the corpus split by
    ``doc_id % stream_batches`` into batch-K.parquet micro-batch files
    plus the warm-up slice halved into warm-0/warm-1.parquet."""
    from neural_locality_sensitive_hashing_spark.datagen import write_pages_dataset

    def make(d: str) -> None:
        pages_path, truth_path = write_pages_dataset(d, n_docs, seed)
        pages = pq.read_table(pages_path)
        truth = pq.read_table(truth_path)
        texts = pages.column("text").to_pylist()
        gids = truth.column("group_id").to_numpy()
        np.save(os.path.join(d, "ref_pairs.npy"), reference_pairs(texts, gids))
        pq.write_table(pages.slice(0, warm_docs), os.path.join(d, "warm.parquet"))
        if stream_batches:
            half = warm_docs // 2
            pq.write_table(pages.slice(0, half), os.path.join(d, "warm-0.parquet"))
            pq.write_table(pages.slice(half, half), os.path.join(d, "warm-1.parquet"))
        ids = pages.column("doc_id").to_numpy()
        for k in range(stream_batches):
            part = pages.filter(pa.array(ids % stream_batches == k))
            pq.write_table(part, os.path.join(d, f"batch-{k}.parquet"))

    name = f"corpus-n{n_docs}-s{seed}" + (f"-b{stream_batches}" if stream_batches else "")
    return _build(os.path.join(cache, name), make)


def _write_archive(path: str, pages: pa.Table, rows: np.ndarray) -> None:
    from neural_locality_sensitive_hashing_spark.sources.warc import encode_warc

    part = pages.take(pa.array(rows))
    recs = (
        {"url": u, "date": t, "html": h}
        for u, t, h in zip(
            part.column("url").to_pylist(),
            part.column("warc_ts").to_pylist(),
            part.column("html").to_pylist(),
        )
    )
    with open(path, "wb") as fh:
        fh.write(encode_warc(recs, gzip_members=True))


def crawl(cache: str, corpus_dir: str, seed: int) -> str:
    """The corpus plus RECRAWL_RATE recrawl variants, encoded round-robin
    into WARC_ARCHIVES gzip-member WARC archives under archives/, with a
    copy of the first archive under warm/ for the warm-up pass."""
    from neural_locality_sensitive_hashing_spark.datagen import augment_with_recrawls

    def make(d: str) -> None:
        pages = pq.read_table(os.path.join(corpus_dir, "pages.parquet"))
        aug = augment_with_recrawls(pages, RECRAWL_RATE, seed)
        arch = os.path.join(d, "archives")
        os.makedirs(arch)
        rows = np.arange(aug.num_rows)
        for k in range(WARC_ARCHIVES):
            _write_archive(os.path.join(arch, f"part-{k:02d}.warc.gz"), aug, rows[k::WARC_ARCHIVES])
        os.makedirs(os.path.join(d, "warm"))
        shutil.copyfile(
            os.path.join(arch, "part-00.warc.gz"), os.path.join(d, "warm", "part-00.warc.gz")
        )

    return _build(os.path.join(cache, "crawl-" + os.path.basename(corpus_dir)), make)


def count_wet_records(wet_dir: str) -> int:
    """WET conversion records in the written archives, counted from the
    raw bytes (gzip members decompressed here, not by the engine)."""
    n = 0
    for f in sorted(os.listdir(wet_dir)):
        if not f.startswith("part-"):
            continue
        with open(os.path.join(wet_dir, f), "rb") as fh:
            buf = fh.read()
        while buf:
            d = zlib.decompressobj(31)
            n += d.decompress(buf).count(b"WARC-Type: conversion\r\n")
            buf = d.unused_data
    return n
