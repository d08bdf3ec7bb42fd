"""Incremental (streaming) near-duplicate detection.

The batch pipeline's stages are idempotent over snapshot tables, which makes
incremental dedup a `foreachBatch` refinement (SURVEY.md §2.10): for each
micro-batch of newly crawled pages,

    1. signature and band the new docs (the batch path's fused kernel),
    2. candidate-generate new×new (grouped self-join with skew capping)
       PLUS new×old via an equi-join of the new bands against the
       accumulated BAND STORE — old×old is never rescanned; per-batch
       work is O(new×new + new-band probes), not O(total²),
    3. exact-verify and append to the dup_pairs store (tagged batch_id),
    4. append new signatures and new bands to their stores.

State lives in parquet stores (Iceberg-style append tables), not in Spark's
operator state — so the stream can restart from its checkpoint.

State-store layout (the per-batch scan bound): all three stores are
hash-partitioned on disk (columns, then partition column) —

    bands/      (band, bucket, doc_id)     pfx      = pmod(bucket, band_store_parts)
    signatures/ (doc_id, sh)               id_pfx   = pmod(doc_id, sig_store_parts)
    dup_pairs/  (a, b, jaccard, batch_id)  pair_pfx = pmod(a, pair_store_parts)

and every probe/gather first collects the small set of partition values it
can touch (≤ store_parts values, driver-side) and reads the store with an
`isin` filter on the partition column, so the parquet source PRUNES
DIRECTORIES: per-batch input rows from the stores scale with the batch's
bucket/id coverage, not with total store size (asserted in
tests/test_streaming.py). At 10^12-doc scale the same layout maps to
Iceberg partition buckets; ``compact_parquet_store`` is the periodic
maintenance action (Iceberg's `rewrite_data_files`) that collapses the
per-batch small files inside each partition — wire it with
``compact_every`` or call ``IncrementalDeduper.compact_stores()``.

Equivalence contract vs a batch run over the union of all inputs:
*identical pair set for buckets below ``bucket_pair_cap``* (each pair is
emitted exactly once — by the batch that contributes its later doc). For
over-cap buckets the batch pipeline emits rank-dependent chain+tree pairs
while the increment emits new×anchor collisions (the two-sided cap keeps
the old side bounded), so pair SETS differ there; both preserve bucket
connectivity, so cluster assignments agree (test_streaming.py asserts
pair-set equality below cap and cluster-level equivalence with a planted
over-cap bucket).
"""

from __future__ import annotations

import os
import shutil

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from neural_locality_sensitive_hashing_spark.config import DedupConfig
from neural_locality_sensitive_hashing_spark.operators.candidates import (
    candidate_pairs,
    candidate_pairs_two_sided,
)
from neural_locality_sensitive_hashing_spark.operators.dedup import (
    banded_signatures_fused,
    explode_fused_bands,
)
from neural_locality_sensitive_hashing_spark.operators.verify import jaccard_verify

PAGES_SCHEMA = (
    "doc_id bigint, url string, warc_ts timestamp, html binary, text string, lang string"
)


def compact_parquet_store(
    spark: SparkSession,
    path: str,
    partition_col: str | None = None,
    max_records_per_file: int | None = None,
) -> None:
    """Rewrite a parquet append-store so each partition directory holds ONE
    data file (the Iceberg `rewrite_data_files` maintenance action, done
    with plain parquet): append-per-batch stores accumulate one small file
    per batch per partition, and at ~10^5 batches the FILE COUNT — listing,
    footers, task scheduling — becomes the scan bound, not the bytes.

    Rewrites into a sibling temp dir, then swaps directories. A crash
    can land in the window between the two renames (store missing, data
    intact under ``<path>.compact.old``); ``recover_store`` — called here
    and by every store read — completes the swap, so the data is never
    stranded. Call between triggers — foreachBatch is serialized, so
    batch K+1 never races the swap.  ``partition_col`` keeps the
    hash-pruning layout unchanged: a partition value maps to exactly one
    shuffle task, so `repartition(col) → partitionBy(col)` yields exactly
    one file per directory.  On a real cluster set
    ``max_records_per_file`` so a hot partition still splits into
    executor-memory-sized files.
    """
    recover_store(path)
    if not os.path.exists(path) or not _has_parquet_data(path):
        return
    df = spark.read.parquet(path)
    writer = df.repartition(F.col(partition_col)).write if partition_col else (
        df.coalesce(1).write
    )
    if max_records_per_file:
        writer = writer.option("maxRecordsPerFile", max_records_per_file)
    if partition_col:
        writer = writer.partitionBy(partition_col)
    _swap_rewrite(path, lambda tmp: writer.mode("overwrite").parquet(tmp))


def _swap_rewrite(path: str, write_tmp) -> None:
    """THE crash-safe store rewrite protocol, in one place: write the new
    layout into ``<path>.compact.tmp``, then double-rename through
    ``<path>.compact.old``. A crash between the renames is healed by
    ``recover_store`` (paired naming — keep them in sync). Shared by
    compaction and the flat-pair-store migration so the swap ordering is
    defined exactly once."""
    tmp, old = path + ".compact.tmp", path + ".compact.old"
    for leftover in (tmp, old):
        if os.path.exists(leftover):
            shutil.rmtree(leftover)
    write_tmp(tmp)
    os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old)


def _has_parquet_data(path: str) -> bool:
    """True iff the store directory holds at least one parquet data file.
    Walk stops at the first hit, so on a populated store this touches one
    partition directory; only a genuinely empty store pays a full walk."""
    for _root, _dirs, files in os.walk(path):
        if any(f.endswith(".parquet") for f in files):
            return True
    return False


def recover_store(path: str) -> None:
    """Complete an interrupted compaction swap: if the store path is
    missing but ``<path>.compact.old`` survived (crash between the two
    renames), restore it — the old data is valid, only the swap was
    lost. The next compaction retries the rewrite."""
    old = path + ".compact.old"
    if not os.path.exists(path) and os.path.exists(old):
        os.rename(old, path)


class IncrementalDeduper:
    """foreachBatch sink: maintains signature + band + dup-pair stores."""

    def __init__(
        self,
        spark: SparkSession,
        cfg: DedupConfig,
        state_dir: str,
        band_store_parts: int = 64,
        sig_store_parts: int = 16,
        pair_store_parts: int = 16,
        compact_every: int | None = None,
        compact_max_records_per_file: int | None = None,
    ):
        self.spark = spark
        self.cfg = cfg
        self.band_store_parts = band_store_parts
        self.sig_store_parts = sig_store_parts
        self.pair_store_parts = pair_store_parts
        self.compact_every = compact_every
        self.compact_max_records_per_file = compact_max_records_per_file
        self.sig_store = os.path.join(state_dir, "signatures")
        self.band_store = os.path.join(state_dir, "bands")
        self.pair_store = os.path.join(state_dir, "dup_pairs")
        self._check_signature_store()
        # resuming over a state_dir written by the pre-partitioned layout:
        # rewrite the flat pair store once before any append or read
        self._migrate_flat_pair_store()

    def _check_signature_store(self) -> None:
        """Refuse a state dir written before the stream switched to the
        fused band kernel: its signature store carries the full ``sig``
        column and its band store holds buckets of a retired band-hash
        family, so new×old probes would silently find nothing. Read off
        one part file's footer with pyarrow — no Spark job."""
        recover_store(self.sig_store)
        part = next(
            (
                os.path.join(root, f)
                for root, _, files in os.walk(self.sig_store)
                for f in files
                if f.endswith(".parquet")
            ),
            None,
        )
        if part is not None and "sig" in pq.read_schema(part).names:
            raise ValueError(
                f"{self.sig_store} holds full MinHash signatures (a 'sig' "
                "column): the state dir was written with a retired band-hash "
                "family, so its band store cannot be probed — rebuild it from "
                "the source pages into a fresh state dir"
            )

    def compact_stores(self) -> None:
        """Maintenance: collapse each store partition's per-batch small
        files into one, layout (and therefore directory pruning) unchanged.
        Runs automatically every ``compact_every`` batches when set.

        All three stores — including dup_pairs, hash-partitioned on
        ``pair_pfx = pmod(a, pair_store_parts)`` — compact PER PARTITION
        (one shuffle task per partition value), never through a single
        ``coalesce(1)`` task: at 10^9 accumulated pairs a whole-store
        single-task rewrite is a serial bottleneck, while P parallel
        per-directory rewrites are bounded by the hottest partition.
        ``compact_max_records_per_file`` caps file size so a hot
        partition still splits into executor-memory-sized files."""
        mrpf = self.compact_max_records_per_file
        compact_parquet_store(self.spark, self.band_store, "pfx", mrpf)
        compact_parquet_store(self.spark, self.sig_store, "id_pfx", mrpf)
        compact_parquet_store(self.spark, self.pair_store, "pair_pfx", mrpf)

    def _read_store(self, path: str) -> DataFrame | None:
        recover_store(path)  # heal an interrupted compaction swap
        if not os.path.exists(path) or not _has_parquet_data(path):
            # second disjunct: a store "created" only by empty appends
            # (e.g. the pair store after batches that verified zero dups)
            # holds just _SUCCESS markers — reading it would fail with
            # unable-to-infer-schema, and semantically it IS empty.
            return None
        return self.spark.read.parquet(path)

    def _migrate_flat_pair_store(self) -> None:
        """One-time layout migration: a dup-pair store written by the
        pre-partitioned version holds flat part-files with no pair_pfx
        column. Appending partitioned data into it would leave files at
        two directory depths (Spark refuses the read: conflicting
        directory structures), and per-partition compaction would fail on
        the missing column — so on resume, rewrite the flat store once
        into the partitioned layout (same swap machinery as compaction,
        crash-safe)."""
        recover_store(self.pair_store)
        if not os.path.exists(self.pair_store):
            return
        has_flat = any(
            f.startswith("part-") for f in os.listdir(self.pair_store)
        )
        if not has_flat:
            return
        df = self.spark.read.parquet(self.pair_store).withColumn(
            "pair_pfx", F.pmod(F.col("a"), F.lit(self.pair_store_parts))
        )
        _swap_rewrite(
            self.pair_store,
            lambda tmp: df.repartition("pair_pfx")
            .write.mode("overwrite")
            .partitionBy("pair_pfx")
            .parquet(tmp),
        )

    # -- pruned store readers -------------------------------------------------

    def probe_band_store(self, new_bands: DataFrame) -> DataFrame | None:
        """Band-store rows that can possibly collide with ``new_bands``:
        collects the batch's distinct bucket prefixes (≤ band_store_parts
        values) and reads only those partitions — matching (band, bucket)
        rows always share the prefix (pfx is a function of bucket), so
        pruning never drops a collision."""
        store = self._read_store(self.band_store)
        if store is None:
            return None
        pfx = [
            r[0]
            for r in new_bands.select(
                F.pmod(F.col("bucket"), F.lit(self.band_store_parts)).alias("pfx")
            )
            .distinct()
            .collect()
        ]
        return store.where(F.col("pfx").isin(pfx)).select("band", "bucket", "doc_id")

    def gather_old_sets(self, ids: DataFrame) -> DataFrame | None:
        """Signature-store rows for the given (doc_id) frame only: collects
        the candidates' distinct id prefixes and prunes the store scan."""
        store = self._read_store(self.sig_store)
        if store is None:
            return None
        pfx = [
            r[0]
            for r in ids.select(
                F.pmod(F.col("doc_id"), F.lit(self.sig_store_parts)).alias("id_pfx")
            )
            .distinct()
            .collect()
        ]
        return store.where(F.col("id_pfx").isin(pfx)).select("doc_id", "sh")

    def process_batch(self, new_pages: DataFrame, batch_id: int) -> None:
        cfg = self.cfg
        new_sigs = banded_signatures_fused(new_pages, cfg).persist()
        new_bands = explode_fused_bands(new_sigs).persist()

        # new×new with the full skew-capped machinery ...
        cands = candidate_pairs(new_bands, cfg)
        # ... plus new×old: probe the PRUNED band store — the only work
        # touching earlier batches is this equi-join over the partitions
        # the new buckets hash into; no old×old candidate is regenerated.
        old_bands = self.probe_band_store(new_bands)
        if old_bands is not None:
            cands = cands.unionByName(
                candidate_pairs_two_sided(new_bands, old_bands, cfg)
            ).dropDuplicates(["a", "b"])
        cands = cands.persist()

        all_sets = new_sigs.select("doc_id", "sh")
        old_ids = (
            cands.select(F.col("a").alias("doc_id"))
            .unionByName(cands.select(F.col("b").alias("doc_id")))
            .join(new_sigs.select("doc_id"), "doc_id", "left_anti")
        )
        old_sets = self.gather_old_sets(old_ids)
        if old_sets is not None:
            all_sets = all_sets.unionByName(old_sets)

        dups = jaccard_verify(cands, all_sets, cfg)
        (
            dups.select("a", "b", "jaccard")
            .withColumn("batch_id", F.lit(int(batch_id)))
            .withColumn(
                "pair_pfx", F.pmod(F.col("a"), F.lit(self.pair_store_parts))
            )
            .repartition("pair_pfx")
            .write.mode("append")
            .partitionBy("pair_pfx")
            .parquet(self.pair_store)
        )
        (
            new_bands.withColumn(
                "pfx", F.pmod(F.col("bucket"), F.lit(self.band_store_parts))
            )
            .repartition("pfx")
            .write.mode("append")
            .partitionBy("pfx")
            .parquet(self.band_store)
        )
        (
            new_sigs.select("doc_id", "sh")
            .withColumn(
                "id_pfx", F.pmod(F.col("doc_id"), F.lit(self.sig_store_parts))
            )
            .repartition("id_pfx")
            .write.mode("append")
            .partitionBy("id_pfx")
            .parquet(self.sig_store)
        )
        cands.unpersist()
        new_bands.unpersist()
        new_sigs.unpersist()
        if self.compact_every and (int(batch_id) + 1) % self.compact_every == 0:
            self.compact_stores()

    def dup_pairs(self) -> DataFrame:
        # _read_store heals an interrupted compaction swap before reading —
        # every store read must route through it, or a crash between the
        # compaction renames leaves dup_pairs() failing on a missing path
        # while the data sits intact under <path>.compact.old.
        store = self._read_store(self.pair_store)
        if store is None:
            raise FileNotFoundError(self.pair_store)
        return store.select("a", "b", "jaccard").dropDuplicates(["a", "b"])

    def dup_pairs_with_batch(self) -> DataFrame:
        store = self._read_store(self.pair_store)
        if store is None:
            raise FileNotFoundError(self.pair_store)
        return store.select("a", "b", "jaccard", "batch_id")


def run_incremental(
    spark: SparkSession,
    input_dir: str,
    state_dir: str,
    cfg: DedupConfig | None = None,
) -> IncrementalDeduper:
    """Drain all available files from input_dir through the incremental
    pipeline (Trigger.AvailableNow) and return the deduper for inspection."""
    cfg = cfg or DedupConfig()
    dedup = IncrementalDeduper(spark, cfg, state_dir)
    stream = (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(input_dir)
    )
    q = (
        stream.writeStream.foreachBatch(dedup.process_batch)
        .option("checkpointLocation", os.path.join(state_dir, "_stream_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return dedup
