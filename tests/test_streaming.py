"""Incremental (Structured Streaming) dedup == batch dedup on the union."""

from __future__ import annotations

import os

from neural_locality_sensitive_hashing_spark.config import DedupConfig
from neural_locality_sensitive_hashing_spark.operators.dedup import minhash_dup_pairs
from neural_locality_sensitive_hashing_spark.streaming.incremental import run_incremental

CFG = DedupConfig()


def test_incremental_equals_batch(spark, pages_1k, tmp_path):
    pages_path, _ = pages_1k
    pages = spark.read.parquet(pages_path)

    # split the corpus into 3 "crawl" files arriving over time
    input_dir = str(tmp_path / "incoming")
    os.makedirs(input_dir)
    n = pages.count()
    parts = [
        pages.where(f"doc_id % 3 = {i}").coalesce(1) for i in range(3)
    ]
    for i, part in enumerate(parts):
        part.write.parquet(f"{input_dir}/batch_{i}.parquet")
    # flatten: file source wants files, parquet dirs-of-dirs are fine too
    dedup = run_incremental(spark, f"{input_dir}/*", str(tmp_path / "state"), CFG)

    streamed = {(r.a, r.b) for r in dedup.dup_pairs().collect()}
    batch = {(r.a, r.b) for r in minhash_dup_pairs(pages, CFG).collect()}
    missing = batch - streamed
    extra = streamed - batch
    assert not missing, f"streaming missed pairs: {list(missing)[:5]}"
    assert not extra, f"streaming invented pairs: {list(extra)[:5]}"
    assert n == 1000

    # truly incremental: every pair verified in batch k touches a doc of
    # batch k (doc_id % 3 == k by construction) — no old×old rescans
    tagged = dedup.dup_pairs_with_batch().collect()
    assert len(tagged) > 0
    for r in tagged:
        assert r.a % 3 == r.batch_id or r.b % 3 == r.batch_id, (
            f"pair ({r.a},{r.b}) re-emitted by batch {r.batch_id} "
            "without a new endpoint"
        )


def test_store_partition_pruning(spark, pages_1k, tmp_path):
    """Per-batch store reads scale with the batch's bucket/id coverage,
    not total store size: the partitioned stores prune directories."""
    from pyspark.sql import functions as F

    from neural_locality_sensitive_hashing_spark.operators.candidates import (
        candidate_pairs_two_sided,
    )
    from neural_locality_sensitive_hashing_spark.operators.dedup import (
        banded_signatures_fused,
        explode_fused_bands,
    )

    pages_path, _ = pages_1k
    pages = spark.read.parquet(pages_path)
    input_dir = str(tmp_path / "incoming")
    os.makedirs(input_dir)
    for i in range(3):
        pages.where(f"doc_id % 3 = {i}").coalesce(1).write.parquet(
            f"{input_dir}/b{i}.parquet"
        )
    dedup = run_incremental(spark, f"{input_dir}/*", str(tmp_path / "state"), CFG)

    # a 1-doc probe touches <= 32 buckets -> <= 32 of 64 band partitions
    probe = banded_signatures_fused(pages.where("doc_id = 999"), CFG)
    probe_bands = explode_fused_bands(probe)
    full_bands = spark.read.parquet(dedup.band_store)
    pruned_bands = dedup.probe_band_store(probe_bands)
    n_full, n_pruned = full_bands.count(), pruned_bands.count()
    assert n_pruned < 0.7 * n_full, f"band pruning ineffective: {n_pruned}/{n_full}"

    # pruning loses no collision: candidates equal vs the unpruned store
    cfull = {
        (r.a, r.b)
        for r in candidate_pairs_two_sided(
            probe_bands, full_bands.select("band", "bucket", "doc_id"), CFG
        ).collect()
    }
    cpruned = {
        (r.a, r.b)
        for r in candidate_pairs_two_sided(probe_bands, pruned_bands, CFG).collect()
    }
    assert cfull == cpruned

    # signature gather: 2 ids -> <= 2 of 16 id partitions
    ids = spark.createDataFrame([(7,), (23,)], "doc_id long")
    full_sigs = spark.read.parquet(dedup.sig_store).count()
    pruned_sigs = dedup.gather_old_sets(ids)
    assert pruned_sigs.count() <= 0.3 * full_sigs
    got = {r.doc_id for r in pruned_sigs.where(F.col("doc_id").isin([7, 23])).collect()}
    assert got == {7, 23}


def test_state_dir_with_full_signatures_is_refused(spark, tmp_path):
    """A state dir whose signature store still holds the full ``sig``
    column has band buckets of a retired hash family: the deduper refuses
    it before any Spark job runs, instead of probing it."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    import pytest

    from neural_locality_sensitive_hashing_spark.streaming.incremental import (
        IncrementalDeduper,
    )

    part = tmp_path / "state" / "signatures" / "id_pfx=3"
    part.mkdir(parents=True)
    pq.write_table(
        pa.table({"doc_id": [3], "sh": [b"\x00" * 8], "sig": [[1, 2, 3, 4]]}),
        str(part / "part-00000.parquet"),
    )
    sc = spark.sparkContext
    sc.setJobGroup("refuse-old-state", "refuse-old-state")
    try:
        with pytest.raises(ValueError, match="retired band-hash family"):
            IncrementalDeduper(spark, CFG, str(tmp_path / "state"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup("refuse-old-state")) == []

    # the store layout the deduper writes itself is accepted on resume
    fresh = str(tmp_path / "fresh")
    dedup = IncrementalDeduper(spark, CFG, fresh)
    dedup.process_batch(
        spark.createDataFrame([(1, "a b c d e f"), (2, "a b c d e f")], "doc_id long, text string"),
        0,
    )
    IncrementalDeduper(spark, CFG, fresh)
    assert {(r.a, r.b) for r in dedup.dup_pairs().collect()} == {(1, 2)}


def test_incremental_overcap_bucket_cluster_equivalence(spark, tmp_path):
    """Over-cap buckets: pair SETS may differ from batch (rank-dependent
    chain+tree vs new×all) but cluster assignments must agree."""
    from neural_locality_sensitive_hashing_spark.operators.connected_components import (
        connected_components,
    )

    cfg = DedupConfig(bucket_pair_cap=8)
    boiler = " ".join(f"tok{i}" for i in range(60))
    rows = [(i, f"http://x/{i}", None, None, boiler, "en") for i in range(40)]
    pages = spark.createDataFrame(
        rows, "doc_id long, url string, warc_ts timestamp, html binary, text string, lang string"
    )
    input_dir = str(tmp_path / "incoming")
    os.makedirs(input_dir)
    for i in range(2):
        pages.where(f"doc_id % 2 = {i}").coalesce(1).write.parquet(
            f"{input_dir}/b{i}.parquet"
        )
    dedup = run_incremental(spark, f"{input_dir}/*", str(tmp_path / "state"), cfg)

    inc_labels = {
        r.doc_id: r.cluster_id
        for r in connected_components(dedup.dup_pairs()).collect()
    }
    bat_labels = {
        r.doc_id: r.cluster_id
        for r in connected_components(minhash_dup_pairs(pages, cfg)).collect()
    }
    assert inc_labels == bat_labels
    assert len(set(inc_labels.values())) == 1  # all 40 identical docs: one cluster


def test_store_compaction_bounds_files_and_preserves_output(spark, pages_1k, tmp_path):
    """compact_stores() collapses per-batch small files to one per partition
    directory, leaves the pair set bit-identical, keeps pruning working, and
    a subsequent batch appends cleanly on top of the compacted layout."""
    import glob

    from neural_locality_sensitive_hashing_spark.streaming.incremental import (
        IncrementalDeduper,
    )

    pages_path, _ = pages_1k
    pages = spark.read.parquet(pages_path)
    dedup = IncrementalDeduper(spark, CFG, str(tmp_path / "state"))

    # drive 3 batches directly (same path foreachBatch takes)
    for i in range(3):
        dedup.process_batch(pages.where(f"doc_id % 4 = {i}"), i)

    def data_files(store):
        return [
            f for f in glob.glob(f"{store}/**/*.parquet", recursive=True)
            if os.path.basename(f).startswith("part-")
        ]

    def files_per_dir(store):
        per = {}
        for f in data_files(store):
            per.setdefault(os.path.dirname(f), 0)
            per[os.path.dirname(f)] += 1
        return per

    before_pairs = sorted(
        (r.a, r.b, r.jaccard) for r in dedup.dup_pairs().collect()
    )
    n_before = len(data_files(dedup.band_store))
    assert max(files_per_dir(dedup.band_store).values()) >= 3  # one per batch

    dedup.compact_stores()

    # bounded: exactly one data file per partition directory, fewer overall
    for store in (dedup.band_store, dedup.sig_store, dedup.pair_store):
        per = files_per_dir(store)
        assert per and all(n == 1 for n in per.values()), per
    assert len(data_files(dedup.band_store)) < n_before
    # the pair store is hash-partitioned (pair_pfx = pmod(a, P)) so the
    # compaction rewrite is P parallel per-directory tasks, never a single
    # coalesce(1) over the whole accumulated pair set
    assert len(files_per_dir(dedup.pair_store)) >= 2, (
        files_per_dir(dedup.pair_store)
    )

    # outputs unchanged and pruning still sound after the rewrite
    after_pairs = sorted((r.a, r.b, r.jaccard) for r in dedup.dup_pairs().collect())
    assert after_pairs == before_pairs
    got = {
        r.doc_id
        for r in dedup.gather_old_sets(
            spark.createDataFrame([(4,), (9,)], "doc_id long")
        ).collect()
        if r.doc_id in (4, 9)
    }
    assert got == {4, 9}

    # the stream keeps going: batch 3 appends onto the compacted stores
    dedup.process_batch(pages.where("doc_id % 4 = 3"), 3)
    from neural_locality_sensitive_hashing_spark.operators.dedup import (
        minhash_dup_pairs as _mdp,
    )

    streamed = {(r.a, r.b) for r in dedup.dup_pairs().collect()}
    batch = {(r.a, r.b) for r in _mdp(pages, CFG).collect()}
    assert streamed == batch


def test_compaction_crash_window_recovers(spark, pages_1k, tmp_path):
    """A kill between the two compaction renames leaves the store under
    <path>.compact.old; recover_store (invoked by every store read and by
    the next compaction) restores it — no silent empty-store restart."""
    from neural_locality_sensitive_hashing_spark.streaming.incremental import (
        IncrementalDeduper,
    )

    pages_path, _ = pages_1k
    pages = spark.read.parquet(pages_path)
    dedup = IncrementalDeduper(spark, CFG, str(tmp_path / "state"))
    dedup.process_batch(pages.where("doc_id % 4 = 0"), 0)

    n_sigs = spark.read.parquet(dedup.sig_store).count()
    assert n_sigs > 0
    # simulate the crash window: store renamed away, swap never completed
    os.rename(dedup.sig_store, dedup.sig_store + ".compact.old")
    got = dedup.gather_old_sets(spark.createDataFrame([(0,), (4,)], "doc_id long"))
    assert got is not None, "store not recovered from .compact.old"
    assert spark.read.parquet(dedup.sig_store).count() == n_sigs
    # and compaction itself also heals before rewriting
    os.rename(dedup.band_store, dedup.band_store + ".compact.old")
    dedup.compact_stores()
    assert spark.read.parquet(dedup.band_store).count() > 0
    # dup_pairs() reads route through the same recovery (a crash between
    # the pair-store renames must not strand the accumulated pairs)
    n_pairs = dedup.dup_pairs().count()
    os.rename(dedup.pair_store, dedup.pair_store + ".compact.old")
    assert dedup.dup_pairs().count() == n_pairs


def test_flat_pair_store_migrates_on_resume(spark, pages_1k, tmp_path):
    """A dup-pair store written by the pre-partitioned layout (flat
    part-files, no pair_pfx column) is rewritten once into the
    partitioned layout when a deduper resumes over the state_dir — new
    appends, reads, and per-partition compaction all work on top."""
    import glob

    from neural_locality_sensitive_hashing_spark.streaming.incremental import (
        IncrementalDeduper,
    )

    pages_path, _ = pages_1k
    pages = spark.read.parquet(pages_path)
    state = tmp_path / "state"
    dedup = IncrementalDeduper(spark, CFG, str(state))
    dedup.process_batch(pages.where("doc_id % 2 = 0"), 0)
    before = sorted((r.a, r.b) for r in dedup.dup_pairs().collect())

    # simulate the legacy layout: flatten the store (drop pair_pfx dirs)
    legacy = spark.read.parquet(dedup.pair_store).drop("pair_pfx")
    flat = str(tmp_path / "flat_pairs")
    legacy.coalesce(1).write.parquet(flat)
    import shutil as _sh

    _sh.rmtree(dedup.pair_store)
    _sh.move(flat, dedup.pair_store)
    assert any(
        f.startswith("part-") for f in os.listdir(dedup.pair_store)
    )

    # resume: constructor migrates; batch 1 appends partitioned on top
    dedup2 = IncrementalDeduper(spark, CFG, str(state))
    assert not any(
        f.startswith("part-") for f in os.listdir(dedup2.pair_store)
    )
    assert sorted((r.a, r.b) for r in dedup2.dup_pairs().collect()) == before
    dedup2.process_batch(pages.where("doc_id % 2 = 1"), 1)
    dedup2.compact_stores()
    per_dir: dict[str, int] = {}
    for f in glob.glob(f"{dedup2.pair_store}/**/*.parquet", recursive=True):
        if os.path.basename(f).startswith("part-"):
            per_dir[os.path.dirname(f)] = per_dir.get(os.path.dirname(f), 0) + 1
    assert per_dir and all(n == 1 for n in per_dir.values()), per_dir
    from neural_locality_sensitive_hashing_spark.operators.dedup import (
        minhash_dup_pairs as _mdp,
    )

    assert {(r.a, r.b) for r in dedup2.dup_pairs().collect()} == {
        (r.a, r.b) for r in _mdp(pages, CFG).collect()
    }


def test_compact_every_auto_trigger(spark, pages_1k, tmp_path):
    """compact_every=2 compacts after batches 1 and 3 (0-indexed ids 1, 3):
    after batch 3 every store partition dir holds exactly one data file."""
    import glob

    from neural_locality_sensitive_hashing_spark.streaming.incremental import (
        IncrementalDeduper,
    )

    pages_path, _ = pages_1k
    pages = spark.read.parquet(pages_path)
    dedup = IncrementalDeduper(
        spark, CFG, str(tmp_path / "state"), compact_every=2
    )
    for i in range(4):
        dedup.process_batch(pages.where(f"doc_id % 4 = {i}"), i)

    per_dir: dict[str, int] = {}
    for f in glob.glob(f"{dedup.band_store}/**/*.parquet", recursive=True):
        if os.path.basename(f).startswith("part-"):
            per_dir[os.path.dirname(f)] = per_dir.get(os.path.dirname(f), 0) + 1
    assert per_dir and all(n == 1 for n in per_dir.values()), per_dir

    from neural_locality_sensitive_hashing_spark.operators.dedup import (
        minhash_dup_pairs as _mdp,
    )

    streamed = {(r.a, r.b) for r in dedup.dup_pairs().collect()}
    batch = {(r.a, r.b) for r in _mdp(pages, CFG).collect()}
    assert streamed == batch


def test_dup_pairs_readable_when_early_batches_verify_nothing(spark, tmp_path):
    """A batch that verifies ZERO dup pairs appends an empty frame to a
    fresh pair store, leaving a _SUCCESS-only directory; the store readers
    must treat that as an empty store (and later batches must append into
    it normally) instead of failing with unable-to-infer-schema."""
    from pyspark.sql import functions as F

    from neural_locality_sensitive_hashing_spark.streaming.incremental import (
        IncrementalDeduper,
    )

    vocab = [f"tok{i:03d}" for i in range(400)]
    uniq = [
        (i, " ".join(vocab[(i * 17 + j * 13) % 400] for j in range(40)))
        for i in range(20)
    ]
    dup_a = (100, " ".join(vocab[:60]))
    dup_b = (101, " ".join(vocab[:60]))
    docs = spark.createDataFrame(uniq + [dup_a, dup_b], "doc_id long, text string")

    dedup = IncrementalDeduper(spark, CFG, str(tmp_path / "state"))
    # batch 0: unique docs only -> zero verified pairs -> empty pair store
    dedup.process_batch(docs.where(F.col("doc_id") < 100), 0)
    assert dedup._read_store(dedup.pair_store) is None  # empty, not broken
    # batch 1: the dup pair arrives; store append + read must both work
    dedup.process_batch(docs.where(F.col("doc_id") >= 100), 1)
    got = {(r.a, r.b) for r in dedup.dup_pairs().collect()}
    assert got == {(100, 101)}
