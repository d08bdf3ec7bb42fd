"""MinHash signatures and LSH band hashes in one batched, vectorized
pandas UDF.

The reference hashes a full corpus in 4096-row batches through its encoder
(``nlsh/indexer.py:40-54``); the Spark analogue is one Arrow batch at a time
through a numpy kernel. Signature definition (frozen for determinism):

    sig[j] = min over shingle-hashes h of  (A[j] * h + B[j])  mod 2^64

with A odd (a bijection on Z_2^64, so uniform inputs stay uniform) and
(A, B) drawn once from ``default_rng(seed)``. The per-batch inner loop is
``num_perm`` vectorized passes using ``np.minimum.reduceat`` over the
concatenated shingle arrays — no per-row Python.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql.functions import pandas_udf


def minhash_params(num_perm: int, seed: int) -> tuple[np.ndarray, np.ndarray]:
    """Deterministic (A, B) permutation parameters (uint64)."""
    rng = np.random.default_rng(seed)
    a = rng.integers(1, 2**63, size=num_perm, dtype=np.uint64) * 2 + 1  # odd
    b = rng.integers(0, 2**63, size=num_perm, dtype=np.uint64)
    return a, b


def minhash_numpy(shingle_hashes: np.ndarray, a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Reference single-set implementation (tests + driver-side use)."""
    h = np.asarray(shingle_hashes, dtype=np.int64).view(np.uint64)
    # wraparound mod 2^64 is intentional
    with np.errstate(over="ignore"):
        vals = a[:, None] * h[None, :] + b[:, None]
    return vals.min(axis=1).view(np.int64)


def _rotl7(x: np.ndarray) -> np.ndarray:
    return (x << np.uint64(7)) | (x >> np.uint64(57))


def shingle_hashes_python(text: str, k: int, cache: dict) -> np.ndarray:
    """tokens -> distinct k-gram rolling rot-xor hash set (uint64).

    Same structure as functions.text.shingle_set (token hash, rotl-7 xor
    fold, whole-doc fallback for short docs) with blake2b as the token
    hash — set *sizes* (hence Jaccard) agree with the native path whp.
    """
    toks = text.split() if text else []
    n = len(toks)

    def th(t: str) -> int:
        v = cache.get(t)
        if v is None:
            import hashlib

            v = int.from_bytes(
                hashlib.blake2b(t.encode("utf-8"), digest_size=8).digest(), "little"
            )
            cache[t] = v
        return v

    if n == 0:
        return np.array([np.uint64(th(""))], dtype=np.uint64)
    if n < k:
        return np.array([np.uint64(th(" ".join(toks)))], dtype=np.uint64)
    h = np.fromiter((th(t) for t in toks), dtype=np.uint64, count=n)
    m = n - k + 1
    acc = h[:m].copy()
    for i in range(1, k):
        acc = _rotl7(acc) ^ h[i : i + m]
    return np.unique(acc)


def gram_hashes_python(text: str, k: int, cache: dict) -> np.ndarray:
    """tokens -> POSITIONAL k-gram rolling rot-xor hashes (uint64, one per
    gram start, order preserved, duplicates kept) — shingle_hashes_python
    minus the final unique; same token hash (memoized blake2b) and fold,
    so a doc's distinct set of these IS its shingle_hashes_python set."""
    toks = text.split() if text else []
    n = len(toks)

    def th(t: str) -> int:
        v = cache.get(t)
        if v is None:
            import hashlib

            v = int.from_bytes(
                hashlib.blake2b(t.encode("utf-8"), digest_size=8).digest(), "little"
            )
            cache[t] = v
        return v

    if n == 0:
        return np.array([np.uint64(th(""))], dtype=np.uint64)
    if n < k:
        return np.array([np.uint64(th(" ".join(toks)))], dtype=np.uint64)
    h = np.fromiter((th(t) for t in toks), dtype=np.uint64, count=n)
    m = n - k + 1
    acc = h[:m].copy()
    for i in range(1, k):
        acc = _rotl7(acc) ^ h[i : i + m]
    return acc


def make_gram_hash_text_udf(k: int, distinct: bool = True):
    """Fused Arrow kernel: text -> array<bigint> k-gram hashes, replacing
    the interpreted native chain (tokens -> zip_with rolling xxhash64
    fold) for SET-SEMANTIC consumers: the hash family differs (memoized
    blake2b token hashes + the same rot-xor fold) but every downstream
    use — candidate equi-joins, intersection/union sizes, distinct
    counts — depends only on cross-doc gram equality, which both
    families decide identically up to the engine's accepted 2^-64
    collision class. ``distinct=True`` returns the sorted unique set
    (shingle_set semantics), ``distinct=False`` the positional stream
    (gram-position consumers)."""
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import ArrayType, LongType

    @pandas_udf(ArrayType(LongType()))
    def gram_hashes(texts: pd.Series) -> pd.Series:
        cache: dict = {}
        out = []
        for t in texts:
            if t is None:
                out.append(None)
            elif distinct:
                out.append(shingle_hashes_python(t, k, cache).view(np.int64))
            else:
                out.append(gram_hashes_python(t, k, cache).view(np.int64))
        return pd.Series(out)

    return gram_hashes


def band_hashes_numpy(sigs: np.ndarray, num_bands: int, rows_per_band: int) -> np.ndarray:
    """(n, num_perm) uint64 signatures -> (n, num_bands) int64 band-bucket
    hashes: rotl7-xor-multiply fold of each band's rows with the band index
    mixed in (identical docs collide per band; different bands never
    collide with each other). The engine's one band-hash family: banding
    only needs consistency, not a specific hash."""
    n = sigs.shape[0]
    b = sigs.reshape(n, num_bands, rows_per_band)
    mult = np.uint64(0x9E3779B97F4A7C15)
    with np.errstate(over="ignore"):
        acc = np.full((n, num_bands), np.uint64(0x243F6A8885A308D3))
        for r in range(rows_per_band):
            acc = (acc ^ b[:, :, r]) * mult
            acc = (acc << np.uint64(7)) | (acc >> np.uint64(57))
        acc = acc ^ (np.arange(num_bands, dtype=np.uint64) << np.uint64(1))
        acc = acc * mult
    return acc.view(np.int64)


def make_shingle_sig_udf(
    k: int,
    num_perm: int,
    seed: int,
    num_bands: int,
    rows_per_band: int,
    sig_prefix_perms: int = 0,
    shingle_hash_bytes: int = 8,
):
    """Fused text -> struct(sh binary, bands array<long>[, sigp binary])
    pandas UDF.

    ``sig_prefix_perms`` > 0 adds a ``sigp`` binary column: the first P
    minhash values truncated to uint32 LE (4 B/slot) — the verify screen's
    estimator payload, ~5x lighter than the shingle set.
    ``shingle_hash_bytes=4`` stores ``sh`` as truncated uint32 (sorted,
    re-uniqued): halves the exact-verify gather bytes; Jaccard
    perturbation is O(|A||B|/2^32) per pair.

    One Arrow pass does tokenize + shingle + MinHash + banding entirely
    in the Python worker (numpy): measured ~2.5x less total CPU than the
    native higher-order-function shingle path at 32 local threads, because
    interpreted zip_with/transform expressions allocate per-element garbage
    that stalls the shared JVM heap — worker processes have no shared GC.
    The 1 KB/doc signature never leaves the worker: only its band hashes
    (``band_hashes_numpy``) and optional prefix do. Token hashes are
    memoized per batch (Zipfian text -> high hit rate).
    """
    a_params, b_params = minhash_params(num_perm, seed)
    out_schema = "sh binary, bands array<long>"
    if sig_prefix_perms:
        out_schema += ", sigp binary"

    @pandas_udf(out_schema)
    def shingle_sig(texts: pd.Series) -> pd.DataFrame:
        cache: dict = {}
        sets = [shingle_hashes_python(t, k, cache) for t in texts]
        flat = np.concatenate(sets) if sets else np.empty(0, dtype=np.uint64)
        lens = np.fromiter((len(s) for s in sets), dtype=np.int64, count=len(sets))
        starts = np.zeros(len(sets), dtype=np.int64)
        if len(sets) > 1:
            np.cumsum(lens[:-1], out=starts[1:])
        sigs = np.empty((len(sets), num_perm), dtype=np.uint64)
        if len(flat):
            with np.errstate(over="ignore"):
                for j in range(num_perm):
                    v = a_params[j] * flat + b_params[j]
                    sigs[:, j] = np.minimum.reduceat(v, starts)
        # sh ships as raw little-endian int64 bytes (sorted): a binary
        # column shuffles and Arrow-transfers at ~1/3 the cost of
        # array<long> (no per-element offsets/validity) — verify is the
        # pipeline's biggest data mover
        if shingle_hash_bytes == 4:
            sh_col = [
                np.unique((s >> np.uint64(32)).astype(np.uint32)).tobytes()
                for s in sets
            ]
        else:
            sh_col = [s.view(np.int64).tobytes() for s in sets]
        bands = band_hashes_numpy(sigs, num_bands, rows_per_band)
        cols = {"sh": sh_col, "bands": [bands[i] for i in range(len(sets))]}
        if sig_prefix_perms:
            pref = sigs[:, :sig_prefix_perms].astype(np.uint32)  # low 32 bits
            cols["sigp"] = [pref[i].tobytes() for i in range(len(sets))]
        return pd.DataFrame(cols)

    return shingle_sig


def shingle_bytes_to_array(b: bytes | None) -> np.ndarray:
    """Decode the binary shingle-set representation (sorted int64 LE)."""
    if b is None:
        return np.empty(0, dtype=np.int64)
    return np.frombuffer(b, dtype="<i8")


def estimate_jaccard(sig_a: np.ndarray, sig_b: np.ndarray) -> float:
    """MinHash Jaccard estimate = fraction of agreeing signature slots."""
    a = np.asarray(sig_a)
    b = np.asarray(sig_b)
    return float((a == b).mean())
