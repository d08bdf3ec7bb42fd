"""End-to-end dedup pipelines (SURVEY.md §3 E2 Spark re-expression):

    pages -> fused shingle/MinHash/band kernel -> band explode
          -> bucket self-join -> exact-Jaccard verify -> union-find
          -> clusters -> keep-list

plus the cheap exact (fingerprint groupBy) and SimHash variants.

The MinHash chain is composed in exactly one place, ``minhash_stages``,
under the stage names of ``MINHASH_STAGES``; a caller-supplied hook
decides how each stage is held (the checkpointed pipeline writes a
snapshot, the query path persists the signatures and leaves the rest
lazy, the job CLI persists and counts). ``verify_pairs`` is the one
place that picks the verify strategy.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, Observation, Window
from pyspark.sql import functions as F

from neural_locality_sensitive_hashing_spark.config import DedupConfig
from neural_locality_sensitive_hashing_spark.functions import text as T
from neural_locality_sensitive_hashing_spark.functions.minhash import make_shingle_sig_udf
from neural_locality_sensitive_hashing_spark.functions.simhash import simhash_udf
from neural_locality_sensitive_hashing_spark.operators.candidates import candidate_pairs
from neural_locality_sensitive_hashing_spark.operators.connected_components import (
    clusters_with_singletons,
    connected_components,
)
from neural_locality_sensitive_hashing_spark.operators.verify import (
    jaccard_verify,
    jaccard_verify_bcast,
    jaccard_verify_screened,
    simhash_verify,
)
from neural_locality_sensitive_hashing_spark.partitioning import fan_out

MINHASH_STAGES = ("signatures", "cand_pairs", "dup_pairs", "clusters", "keep_list")

# hold(stage, compute, observation) -> (held frame, committed rows or None):
# runs ``compute`` (which already attached ``observation`` when it is set)
# and returns the frame downstream stages read
StageHold = Callable[
    [str, Callable[[], DataFrame], Observation | None], tuple[DataFrame, int | None]
]


def shingle_documents(
    docs: DataFrame,
    cfg: DedupConfig,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """-> (doc_id, sh) narrow projection. Column pruning happens here: only
    (id, text) are read from the source; `html` never crosses a shuffle."""
    return docs.select(
        F.col(id_col).alias("doc_id"),
        T.shingle_set(F.col(text_col), cfg.shingle_k).alias("sh"),
    )


def banded_signatures_fused(
    docs: DataFrame,
    cfg: DedupConfig,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """docs -> (doc_id, sh, bands[, sigp]) with the LSH banding fused INTO
    the Arrow kernel: the 1 KB/doc signature never leaves the Python
    worker, and no interpreted per-band hash expressions run in the JVM.
    ``sigp`` (the verify screen's signature prefix) is emitted only with
    ``cfg.verify_screen``. The engine's only signature + banding path."""
    docs = fan_out(docs)
    udf = make_shingle_sig_udf(
        cfg.shingle_k, cfg.num_perm, cfg.minhash_seed,
        num_bands=cfg.num_bands, rows_per_band=cfg.rows_per_band,
        sig_prefix_perms=cfg.screen_perms if cfg.verify_screen else 0,
        shingle_hash_bytes=cfg.shingle_hash_bytes,
    )
    cols = ["doc_id", F.col("s.sh").alias("sh"), F.col("s.bands").alias("bands")]
    if cfg.verify_screen:
        cols.append(F.col("s.sigp").alias("sigp"))
    return docs.select(
        F.col(id_col).alias("doc_id"), udf(F.col(text_col)).alias("s")
    ).select(*cols)


def explode_fused_bands(banded: DataFrame) -> DataFrame:
    """(doc_id, bands) -> (doc_id, band, bucket) for candidate_pairs."""
    return banded.select(
        "doc_id", F.posexplode("bands").alias("band", "bucket")
    )


def verify_pairs(
    cands: DataFrame,
    sigs: DataFrame,
    cfg: DedupConfig,
    n_docs: int | None = None,
) -> DataFrame:
    """(a, b) candidates × (doc_id, sh[, sigp]) signatures -> (a, b,
    jaccard): the one verify strategy selector.

    ``cfg.verify_screen`` takes the two-tier screen. Otherwise corpora of
    ``verify_broadcast_min_docs < n_docs <= verify_broadcast_max_docs``
    verify against a broadcast set table (r10, guide §3.2/§8: the gather
    joins shipped the full sets per candidate pair through Arrow, ~1 KB per
    pair) and the rest take the gather joins; the jaccard values are
    identical either way and both bounds are measured crossovers
    (config.py). ``n_docs`` is the signatures' row count: a checkpointed
    caller has it from the stage record; when it is None it is counted on
    ``sigs`` (persisted by the caller, so the count prepays the cache every
    downstream consumer reads)."""
    if cfg.verify_screen:
        return jaccard_verify_screened(cands, sigs.select("doc_id", "sh", "sigp"), cfg)
    sets = sigs.select("doc_id", "sh")
    if cfg.verify_broadcast_max_docs:
        if n_docs is None:
            n_docs = sigs.count()
        if cfg.verify_broadcast_min_docs < n_docs <= cfg.verify_broadcast_max_docs:
            return jaccard_verify_bcast(cands, sets, cfg)
    return jaccard_verify(cands, sets, cfg)


def keep_list(clusters: DataFrame) -> DataFrame:
    """(doc_id, cluster_id) -> (doc_id, n_docs_represented): one
    representative per cluster, the table a training pipeline ships.
    Survivors are the doc_id == cluster_id rows (the union-find labels a
    cluster by its min doc_id), so one size aggregate over the clusters
    is all it costs — no shuffle of pairs or corpus."""
    sizes = clusters.groupBy("cluster_id").agg(F.count("*").alias("n_docs_represented"))
    return (
        clusters.where(F.col("doc_id") == F.col("cluster_id"))
        .join(sizes, "cluster_id")
        .select("doc_id", "n_docs_represented")
    )


def minhash_stages(
    docs: DataFrame,
    cfg: DedupConfig,
    hold: StageHold,
    until: str = "keep_list",
    observe: bool = False,
    extra_pairs: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> dict[str, DataFrame]:
    """The MinHash chain, composed once: ``MINHASH_STAGES`` up to and
    including ``until``, each held by ``hold`` -> {stage: held frame}.

    ``observe`` attaches the per-band skew figures to the candidate pass
    and ``avg_jaccard`` to the verify, for a ``hold`` that runs one action
    per stage and reads them back (the checkpointed pipeline).
    ``extra_pairs`` (a, b) from another verifier merge into dup_pairs with
    jaccard 1.0, so they feed the same union-find.
    """
    held: dict[str, DataFrame] = {}
    rows: dict[str, int | None] = {}
    band_obs = Observation() if observe else None
    jaccard_obs = Observation() if observe else None

    def dup_pairs() -> DataFrame:
        dups = verify_pairs(held["cand_pairs"], held["signatures"], cfg, rows["signatures"])
        if extra_pairs is not None:
            dups = dups.unionByName(
                extra_pairs.select("a", "b", F.lit(1.0).alias("jaccard"))
            ).dropDuplicates(["a", "b"])
        if jaccard_obs is not None:
            dups = dups.observe(jaccard_obs, F.avg("jaccard").alias("avg_jaccard"))
        return dups

    def clusters() -> DataFrame:
        labels = connected_components(held["dup_pairs"], cfg.max_cc_iterations)
        return clusters_with_singletons(labels, held["signatures"])

    computes = {
        "signatures": lambda: banded_signatures_fused(docs, cfg, id_col, text_col),
        "cand_pairs": lambda: candidate_pairs(
            explode_fused_bands(held["signatures"]), cfg, band_obs
        ),
        "dup_pairs": dup_pairs,
        "clusters": clusters,
        "keep_list": lambda: keep_list(held["clusters"]),
    }
    observations = {"cand_pairs": band_obs, "dup_pairs": jaccard_obs}
    for stage in MINHASH_STAGES[: MINHASH_STAGES.index(until) + 1]:
        held[stage], rows[stage] = hold(stage, computes[stage], observations.get(stage))
    return held


def _persist_signatures(
    stage: str, compute: Callable[[], DataFrame], observation: Observation | None
) -> tuple[DataFrame, None]:
    """The query path's hold: ``signatures`` is persisted because banding,
    the verify and the singleton fill-in all read it; every other stage
    stays lazy. The returned frames are lazy, so the cache must outlive
    the call: callers that materialize the result and loop (benchmarks,
    streaming) release it via ``spark.catalog.clearCache()`` — bench.py
    does exactly that between queries."""
    df = compute()
    return (df.persist() if stage == "signatures" else df), None


def minhash_dup_pairs(
    docs: DataFrame,
    cfg: DedupConfig,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Full candidate-generation + verification -> (a, b, jaccard)."""
    return minhash_stages(
        docs, cfg, _persist_signatures, "dup_pairs", id_col=id_col, text_col=text_col
    )["dup_pairs"]


def minhash_dedup_clusters(
    docs: DataFrame,
    cfg: DedupConfig,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """-> (doc_id, cluster_id) over ALL docs (singletons label themselves)."""
    return minhash_stages(
        docs, cfg, _persist_signatures, "clusters", id_col=id_col, text_col=text_col
    )["clusters"]


def minhash_keep_list(
    docs: DataFrame,
    cfg: DedupConfig,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """-> (doc_id, n_docs_represented), one row per near-dup cluster."""
    return minhash_stages(
        docs, cfg, _persist_signatures, id_col=id_col, text_col=text_col
    )["keep_list"]


def exact_dup_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact duplicates via fingerprint equi-join -> (a, b). No O(n²):
    group on the 128-bit fingerprint, self-join within groups."""
    fp = docs.select(
        F.col(id_col).alias("doc_id"), T.fingerprint_md5(F.col(text_col)).alias("fp")
    )
    l = fp.alias("l")
    r = fp.alias("r")
    return (
        l.join(r, "fp")
        .where(F.col("l.doc_id") < F.col("r.doc_id"))
        .select(F.col("l.doc_id").alias("a"), F.col("r.doc_id").alias("b"))
    )


def exact_dedup_clusters(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """-> (doc_id, cluster_id = min doc_id sharing the fingerprint).
    One shuffle (window over fp) — no join, no union-find needed since
    exact-duplicate equality is already transitive."""
    fp = docs.select(
        F.col(id_col).alias("doc_id"), T.fingerprint_md5(F.col(text_col)).alias("fp")
    )
    w = Window.partitionBy("fp")
    return fp.select("doc_id", F.min("doc_id").over(w).alias("cluster_id"))


def simhash_dup_pairs(
    docs: DataFrame,
    cfg: DedupConfig,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """SimHash near-dup pairs: band the 64-bit code into 4×16-bit chunks
    (any pair within Hamming distance <= 3 shares at least one exact chunk
    — pigeonhole), bucket self-join per chunk, verify with bit_count.
    -> (a, b, hamming)."""
    codes = fan_out(docs).select(
        F.col(id_col).alias("doc_id"),
        simhash_udf(T.shingle_set(F.col(text_col), cfg.shingle_k)).alias("simhash"),
    ).persist()
    chunks = codes.select(
        "doc_id",
        F.posexplode(
            F.expr(
                "transform(sequence(0, 3), c -> shiftrightunsigned(simhash, c * 16) & 65535)"
            )
        ).alias("band", "bucket"),
    )
    cands = candidate_pairs(chunks, cfg)
    return simhash_verify(cands, codes, cfg)
