"""MinHash determinism + accuracy (golden style of the reference's tests)."""

from __future__ import annotations

import numpy as np

from neural_locality_sensitive_hashing_spark.config import DedupConfig
from neural_locality_sensitive_hashing_spark.functions.minhash import (
    band_hashes_numpy,
    estimate_jaccard,
    minhash_numpy,
    minhash_params,
    shingle_hashes_python,
)
from neural_locality_sensitive_hashing_spark.operators.dedup import banded_signatures_fused

CFG = DedupConfig(num_perm=32, num_bands=8, rows_per_band=4, verify_screen=True, screen_perms=16)


def _golden(text: str | None) -> tuple[bytes, list[int], bytes]:
    """(sh, bands, sigp) of one text from the single-set numpy references."""
    sh = shingle_hashes_python(text, CFG.shingle_k, {})
    sig = minhash_numpy(sh.view(np.int64), *minhash_params(CFG.num_perm, CFG.minhash_seed))
    bands = band_hashes_numpy(sig.view(np.uint64)[None, :], CFG.num_bands, CFG.rows_per_band)
    sigp = sig[: CFG.screen_perms].astype(np.uint32).tobytes()
    return sh.view(np.int64).tobytes(), bands[0].tolist(), sigp


def _fused(spark, texts: list[str | None]) -> dict[int, tuple[bytes, list[int], bytes]]:
    df = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    return {
        r.doc_id: (bytes(r.sh), list(r.bands), bytes(r.sigp))
        for r in banded_signatures_fused(df, CFG).collect()
    }


def test_params_deterministic():
    a1, b1 = minhash_params(128, 42)
    a2, b2 = minhash_params(128, 42)
    assert (a1 == a2).all() and (b1 == b2).all()
    assert (a1 % 2 == 1).all()  # bijections mod 2^64


def test_udf_matches_numpy_reference(spark):
    """Golden test of the fused kernel: its shingle set, bands and screen
    prefix equal band_hashes_numpy(minhash_numpy(shingle_hashes_python))
    for every row of a multi-row Arrow batch."""
    rng = np.random.default_rng(7)
    vocab = [f"w{i}" for i in range(300)]
    texts = [" ".join(rng.choice(vocab, size=rng.integers(1, 60))) for _ in range(20)]
    texts.append(texts[0])  # an identical doc collides in every band
    got = _fused(spark, texts)
    for i, t in enumerate(texts):
        assert got[i] == _golden(t), f"row {i}"
    assert got[len(texts) - 1][1] == got[0][1]


def test_null_and_empty(spark):
    """Null and empty text are one shingle (the empty token's hash), the
    same as the single-set reference, not a null row."""
    got = _fused(spark, [None, "", "five"])
    assert got[0] == got[1] == _golden("")
    assert got[2] == _golden("five")
    assert len(got[0][1]) == CFG.num_bands


def test_estimate_accuracy():
    """Identical sets -> 1.0; disjoint -> ~0; half-overlap -> ~0.33 (J=1/3)."""
    rng = np.random.default_rng(0)
    a, b = minhash_params(256, 42)
    s1 = rng.integers(0, 2**62, 1000, dtype=np.int64)
    s2 = np.concatenate([s1[:500], rng.integers(0, 2**62, 500, dtype=np.int64)])
    sig1 = minhash_numpy(s1, a, b)
    sig1b = minhash_numpy(s1, a, b)
    sig2 = minhash_numpy(s2, a, b)
    assert estimate_jaccard(sig1, sig1b) == 1.0
    est = estimate_jaccard(sig1, sig2)
    true_j = 500 / 1500
    assert abs(est - true_j) < 0.12
