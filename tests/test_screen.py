"""Two-tier verify screen: recall/precision vs the exact path, threshold
math, 4-byte shingle equivalence, determinism."""

from __future__ import annotations

import pytest

from neural_locality_sensitive_hashing_spark.config import DedupConfig
from neural_locality_sensitive_hashing_spark.operators.dedup import minhash_dup_pairs
from neural_locality_sensitive_hashing_spark.operators.verify import screen_counts


def test_screen_counts_math():
    cfg = DedupConfig(verify_screen=True)  # tau=0.7, P=64, 3/2 sigmas
    reject_below, accept_at = screen_counts(cfg)
    # sigma = sqrt(0.7*0.3/64) = 0.0573 -> lo = 0.528, hi = 0.8146
    assert reject_below == 34
    assert accept_at == 53
    # degenerate taus stay in [0, P]
    lo, hi = screen_counts(DedupConfig(verify_screen=True, jaccard_threshold=0.99))
    assert 0 <= lo <= hi <= 64


def _pair_set(df):
    return {(r["a"], r["b"]) for r in df.select("a", "b").collect()}


@pytest.fixture(scope="module")
def pages(spark, tmp_path_factory):
    from neural_locality_sensitive_hashing_spark.datagen import write_pages_dataset

    out = tmp_path_factory.mktemp("webtext_screen")
    pages_path, _ = write_pages_dataset(str(out), 4000, seed=7)
    return spark.read.parquet(pages_path)


def test_screened_recall_precision_vs_exact(spark, pages):
    """The north rule's recall >= 0.99 must hold for the screened verify
    measured against the exact pipeline at the same shingle/signature
    config (the screen is the only difference)."""
    exact = _pair_set(minhash_dup_pairs(pages, DedupConfig()))
    spark.catalog.clearCache()
    screened = _pair_set(
        minhash_dup_pairs(pages, DedupConfig(verify_screen=True))
    )
    spark.catalog.clearCache()
    assert exact, "fixture must contain planted duplicates"
    recall = len(exact & screened) / len(exact)
    precision = len(exact & screened) / len(screened)
    assert recall >= 0.99, f"screen recall {recall:.4f} < 0.99"
    assert precision >= 0.99, f"screen precision {precision:.4f} < 0.99"


def test_shingle32_pairs_equal(spark, pages):
    """Truncating shingle hashes to 32 bits perturbs Jaccard by
    O(|A||B|/2^32) — at test scale the verified pair set is identical."""
    full = _pair_set(minhash_dup_pairs(pages, DedupConfig()))
    spark.catalog.clearCache()
    narrow = _pair_set(
        minhash_dup_pairs(pages, DedupConfig(shingle_hash_bytes=4))
    )
    spark.catalog.clearCache()
    assert full == narrow


def test_screened_deterministic(spark, pages):
    cfg = DedupConfig(verify_screen=True, shingle_hash_bytes=4)
    a = _pair_set(minhash_dup_pairs(pages, cfg))
    spark.catalog.clearCache()
    b = _pair_set(minhash_dup_pairs(pages, cfg))
    spark.catalog.clearCache()
    assert a == b


def test_bcast_verify_equals_join_verify(spark, pages):
    """The r10 size-gated broadcast verify must emit the exact same
    (a, b, jaccard) rows as the join-based verify — same kernel math over
    the same sets, different physical data movement."""
    from neural_locality_sensitive_hashing_spark.operators.candidates import (
        candidate_pairs,
    )
    from neural_locality_sensitive_hashing_spark.operators.dedup import (
        banded_signatures_fused,
        explode_fused_bands,
    )
    from neural_locality_sensitive_hashing_spark.operators.verify import (
        jaccard_verify,
        jaccard_verify_bcast,
    )

    cfg = DedupConfig(shingle_hash_bytes=4)
    sigs = banded_signatures_fused(pages, cfg).persist()
    cands = candidate_pairs(explode_fused_bands(sigs), cfg).persist()
    sets_df = sigs.select("doc_id", "sh")
    join_rows = {
        (r["a"], r["b"], r["jaccard"])
        for r in jaccard_verify(cands, sets_df, cfg).collect()
    }
    bcast_rows = {
        (r["a"], r["b"], r["jaccard"])
        for r in jaccard_verify_bcast(cands, sets_df, cfg).collect()
    }
    spark.catalog.clearCache()
    assert join_rows, "fixture must contain planted duplicates"
    assert bcast_rows == join_rows


@pytest.mark.parametrize("missing", [15, 99], ids=["between", "past_end"])
def test_bcast_verify_missing_id_raises(spark, missing):
    """A candidate id absent from the broadcast set table fails the job
    loudly instead of being scored against a neighbour's set: 15 falls
    between the present ids 10 and 20 (its insertion point is doc 20's
    row), 99 falls past the last one."""
    import numpy as np

    from neural_locality_sensitive_hashing_spark.operators.verify import jaccard_verify_bcast

    cfg = DedupConfig()
    same = np.arange(1, 6, dtype="<u8").tobytes()
    sets = spark.createDataFrame(
        [(10, same), (20, same), (30, same)], "doc_id long, sh binary"
    )
    ok = spark.createDataFrame([(10, 20)], "a long, b long")
    assert [tuple(r) for r in jaccard_verify_bcast(ok, sets, cfg).collect()] == [(10, 20, 1.0)]
    bad = spark.createDataFrame([(10, missing)], "a long, b long")
    with pytest.raises(Exception, match=rf"missing from the broadcast set table: \[{missing}\]"):
        jaccard_verify_bcast(bad, sets, cfg).collect()
