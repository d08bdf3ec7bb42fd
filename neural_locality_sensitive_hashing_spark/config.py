"""Engine configuration.

Mirrors the reference's canonical knobs (hash_size=12 → 4096 buckets,
K=10, multi-probe count — ``main.py:268-366`` of the reference) re-expressed
for the MinHash-LSH dedup pipeline: 128 permutations split into 32 bands x
4 rows. S-curve: P(collide) = 1 - (1 - j^r)^b → at the verify threshold
j=0.7 the miss probability is (1-0.7^4)^32 ≈ 1.5e-4, comfortably inside the
dup-pair recall ≥ 0.99 target; at j=0.5 the false-candidate rate is ~87%
*among genuinely similar pairs only* — random web pairs (j≈0) almost never
collide, and the exact-Jaccard verify removes sub-threshold survivors.
This matches the reference's "near neighbors collide, far points don't"
objective (``nlsh/trainers/proposed.py:96-118``) with the balance knob
moved from a learned loss to the (b, r) split.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class DedupConfig:
    # shingling
    shingle_k: int = 5  # tokens per shingle

    # MinHash
    num_perm: int = 128
    minhash_seed: int = 42

    # LSH banding: num_bands * rows_per_band must equal num_perm
    num_bands: int = 32
    rows_per_band: int = 4

    # verification
    jaccard_threshold: float = 0.7

    # two-tier verify screen (the 100 TB bytes-cut): candidate pairs are
    # first screened on a `screen_perms`-slot MinHash-prefix estimate
    # (4 B/slot) — est < tau - screen_reject_sigmas*sigma rejects,
    # est >= tau + screen_accept_sigmas*sigma accepts with the estimate as
    # the reported jaccard, and only the middle band gathers full shingle
    # sets for exact Jaccard. sigma = sqrt(tau*(1-tau)/screen_perms).
    # Deterministic (pure function of the signatures) but NOT exact at the
    # margins: binomial miss probability at J == tau is ~1e-3 (see
    # verify.screen_counts) — inside the >=0.99 dup-pair recall budget.
    # Off by default so oracle-checked queries stay exactly equal to the
    # exact-threshold SQL. Measured (tools/shuffle_bytes.py, 250k synthetic
    # docs): the screen's second exchange cancels its byte cut when shingle
    # sets are small (~1.2 KB, only ~5x the prefix) — enable it for corpora
    # whose sets dwarf the 256 B prefix (real web pages, 5-10 KB/set).
    verify_screen: bool = False
    screen_perms: int = 64
    screen_reject_sigmas: float = 3.0
    screen_accept_sigmas: float = 2.0

    # shingle hash width (bytes of the binary `sh` representation): 8 =
    # full 64-bit (exact, oracle-replayable); 4 = truncated 32-bit —
    # halves the verify gather bytes; per-pair Jaccard perturbation is
    # O(|A||B|/2^32) ≈ 1e-5 for web pages (cross-doc accidental matches)
    shingle_hash_bytes: int = 8

    # exact-verify physical strategy gate (r10, guide §3.2/§8 "decide with
    # small rows, broadcast what fits"): corpora at or under this many
    # docs verify candidate pairs against a BROADCAST (id -> shingle-set)
    # table inside one mapInArrow — the two per-pair gather joins (which
    # ship the full sets per candidate through Arrow) disappear. Sized so
    # the flat set table stays ~100s of MB per Python worker (~700 B/doc
    # web text); 0 disables. Past the gate the join-based verify shape is
    # unchanged — the values are identical either way (same kernel math).
    # The floor is the measured crossover: the broadcast build pays two
    # fixed driver-side jobs (count + set-table collect, ~0.15 s), which
    # outweigh the join savings on corpora where the whole verify is
    # overhead-bound (interleaved A/B at 5k docs: 1.79 vs 1.71 s median
    # against the join path; at 50k docs: 4.4 vs 6.6 s FOR it).
    verify_broadcast_min_docs: int = 16_000
    verify_broadcast_max_docs: int = 300_000

    # SimHash secondary verifier (64-bit codes)
    simhash_hamming_max: int = 3

    # skew handling: buckets larger than this emit a sorted chain of
    # consecutive pairs instead of all O(n^2) pairs (connectivity-preserving)
    bucket_pair_cap: int = 256

    # connected components
    max_cc_iterations: int = 50

    # suffix-array long-repeat pass
    long_repeat_min_tokens: int = 64

    def __post_init__(self) -> None:
        if self.num_bands * self.rows_per_band != self.num_perm:
            raise ValueError(
                f"num_bands({self.num_bands}) * rows_per_band({self.rows_per_band})"
                f" != num_perm({self.num_perm})"
            )
        if self.verify_screen and self.screen_perms > self.num_perm:
            raise ValueError(
                f"screen_perms({self.screen_perms}) > num_perm({self.num_perm})"
            )
        if self.shingle_hash_bytes not in (4, 8):
            raise ValueError("shingle_hash_bytes must be 4 or 8")

    @property
    def lsh_s_curve_threshold(self) -> float:
        """Jaccard at which collision probability = 50% for this banding."""
        return (1.0 / self.num_bands) ** (1.0 / self.rows_per_band)
