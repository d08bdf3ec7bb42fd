"""Bucket-grouped candidate-pair generation with skew control.

This is the Spark realization of the reference's inverted index + probe
(``nlsh/indexer.py:6-96``): the bucket→rows dict is never materialized —
grouping on (band, bucket) *is* the index probe (SURVEY.md §2.3 J2).

Skew: the reference *trains* bucket balance into its hash function
(``nlsh/trainers/proposed.py:101-118``) and monitors size dispersion
(``nlsh/trainers/base.py:87-90``). At Spark scale, boilerplate pages create
mega-buckets where the all-pairs self-join is O(n²); buckets larger than
``bucket_pair_cap`` instead emit a sorted *chain + binary-tree* of pairs —
connectivity-preserving for union-find (every member still links to the
component) at O(n) pairs and O(log n) component diameter — and the drop is
observable via ``bucket_stats``, never silent.

Physical strategy: ONE hash-partitioned exchange —
    groupBy(band, bucket) -> sorted member array -> emit pairs natively
    (all-pairs / chain+tree as array expressions) -> explode.
    No sort, no join, no persist; the only per-row memory bound is the
    largest bucket's member array (8 B/doc — a 10^7-member boilerplate
    bucket is an 80 MB row; at 10^12-doc scale one would bound it further
    with a two-level salt-chain: chain within (bucket, salt) shards, then
    chain the shard minima — same connectivity, rows capped at
    bucket_size/n_salt). It replaced the round-1 window rank + self-join
    plan, which measured as the worst-scaling stage (window sort +
    self-join = two exchanges + a sort vs one agg exchange).

Band buckets come from the fused signature kernel
(``operators.dedup.banded_signatures_fused`` + ``explode_fused_bands``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation, Window
from pyspark.sql import functions as F

from neural_locality_sensitive_hashing_spark.config import DedupConfig


def _all_pairs(ids: Column, s: Column) -> Column:
    """Sorted member array -> array<struct<a,b>> of all C(s,2) pairs, a<b."""
    return F.flatten(
        F.transform(
            F.sequence(F.lit(1), s - 1),
            lambda i: F.transform(
                F.slice(ids, i + 1, s - i),
                lambda x: F.struct(
                    F.element_at(ids, i).alias("a"), x.alias("b")
                ),
            ),
        )
    )


def _chain_tree_pairs(ids: Column, s: Column) -> Column:
    """Sorted member array -> O(s) connectivity-preserving pairs:
    chain (i, i+1) keeps locally-adjacent (most-likely-to-verify) pairs;
    tree (i//2, i) caps the component diameter at O(log s) so union-find
    converges in logarithmically many rounds even for a mega-bucket (a
    chain alone would need O(s) label-propagation rounds — fatal at 10^12
    docs). Identical pair set to the round-1 rank-join construction."""
    chain = F.zip_with(
        F.slice(ids, 1, s - 1),
        F.slice(ids, 2, s - 1),
        lambda x, y: F.struct(x.alias("a"), y.alias("b")),
    )
    tree = F.transform(
        F.sequence(F.lit(2), s),
        lambda i: F.struct(
            F.element_at(ids, F.floor(i / 2).cast("int")).alias("a"),
            F.element_at(ids, i).alias("b"),
        ),
    )
    return F.concat(chain, tree)


def candidate_pairs(
    bands: DataFrame,
    cfg: DedupConfig,
    observation: Observation | None = None,
) -> DataFrame:
    """(doc_id, band, bucket) -> distinct candidate (a, b) with a < b.

    One exchange: hash-agg to sorted member arrays, emit pairs natively.

    CASE branches are evaluated lazily per row, so a mega-bucket never
    materializes its O(s²) all-pairs array — only the O(s) chain+tree.

    With ``observation``, the per-band skew figures ride the same pass
    over the multi-member buckets: a size-1 bucket adds 0 to
    ``pair_mass``, and a band without one has ``max_bucket`` 1, so the
    values equal ``bucket_stats``' on any non-empty input.
    """
    cap = cfg.bucket_pair_cap
    grouped = (
        bands.groupBy("band", "bucket")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ids"))
        .where(F.size("ids") >= 2)
    )
    ids = F.col("ids")
    s = F.size(ids)
    if observation is not None:
        grouped = grouped.observe(observation, *_band_skew(s, cfg.num_bands))
    pairs_arr = F.when(s <= cap, _all_pairs(ids, s)).otherwise(_chain_tree_pairs(ids, s))
    return (
        grouped.select(F.explode(pairs_arr).alias("p"))
        .select(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .dropDuplicates(["a", "b"])
    )


def _band_skew(s: Column, num_bands: int) -> list[Column]:
    """Per-band max bucket size and pair mass over (band, ids) rows, the
    size taken as bigint so the pair mass cannot overflow int."""
    n = s.cast("long")
    exprs = []
    for b in range(num_bands):
        in_band = F.col("band") == b
        exprs.append(
            F.coalesce(F.max(F.when(in_band, n)), F.lit(1)).alias(f"band_{b:02d}_max_bucket")
        )
        exprs.append(
            F.coalesce(F.sum(F.when(in_band, n * (n - 1) / 2)), F.lit(0.0)).alias(
                f"band_{b:02d}_pair_mass"
            )
        )
    return exprs


def candidate_pairs_two_sided(
    left_bands: DataFrame,
    right_bands: DataFrame,
    cfg: DedupConfig,
) -> DataFrame:
    """left×right candidate pairs: (a, b) with a < b, a from either side.

    The streaming increment's new×all probe (and any query-vs-corpus J1
    join): an equi-join on (band, bucket) between two band tables — never
    the all-accumulated self-join.

    Skew: AQE skew-join only SPLITS oversized partitions, it does not
    reduce pair count — a degenerate (boilerplate) bucket in the
    accumulated store would otherwise emit O(new_in_bucket × old_bucket)
    pairs, growing without bound as the store grows. The right (corpus)
    side is therefore capped at ``bucket_pair_cap`` members per
    (band, bucket) via a rank filter on doc_id: every probe links to the
    same lowest-id anchor members, which the batch path's chain+tree
    already connected among themselves — connectivity is preserved, pair
    count per probe is bounded. (Caveat, mirrored from the batch cap: a
    true dup whose only collision is an over-cap bucket verifies only if
    it also matches an anchor — boilerplate buckets are mutually similar,
    so this holds in practice and is the same trade the batch path makes.)
    """
    w = Window.partitionBy("band", "bucket").orderBy("doc_id")
    r = (
        right_bands.select("band", "bucket", "doc_id")
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= cfg.bucket_pair_cap)
        .select("band", "bucket", F.col("doc_id").alias("r_id"))
    )
    l = left_bands.select("band", "bucket", F.col("doc_id").alias("l_id"))
    return (
        l.join(r, ["band", "bucket"])
        .where(F.col("l_id") != F.col("r_id"))
        .select(
            F.least("l_id", "r_id").alias("a"),
            F.greatest("l_id", "r_id").alias("b"),
        )
        .dropDuplicates(["a", "b"])
    )


def bucket_stats(bands: DataFrame) -> DataFrame:
    """Skew monitor — Spark analogue of the reference's index-size logging
    (``nlsh/trainers/base.py:87-90``): bucket count, size stddev/max, and
    total candidate-pair mass per band."""
    return (
        bands.groupBy("band", "bucket")
        .agg(F.count("*").alias("bucket_size"))
        .groupBy("band")
        .agg(
            F.count("*").alias("n_buckets"),
            F.max("bucket_size").alias("max_bucket"),
            F.round(F.stddev("bucket_size"), 4).alias("std_bucket"),
            F.sum(F.expr("bucket_size * (bucket_size - 1) / 2")).alias("pair_mass"),
        )
    )
