"""The resumable dedup pipeline (SURVEY.md §7 stages 1+3+4).

Stages (each one an idempotent checkpoint table):

    signatures   : pages -> (doc_id, sh, sig, simhash)
    cand_pairs   : band-explode + bucket self-join (+ SimHash chunks)
    dup_pairs    : exact-Jaccard verified pairs (+ SimHash Hamming pairs
                   + suffix long-repeat pairs when enabled); with
                   cfg.verify_screen the two-tier MinHash-prefix screen
                   verifies instead (clear accepts report est-Jaccard,
                   only the uncertainty band gathers full shingle sets)
    clusters     : union-find fixpoint over dup_pairs, singletons included
    keep_list    : the SHIPPED table — one representative per cluster
                   (doc_id == cluster_id) + docs-represented count;
                   derived from the clusters checkpoint, so a resume
                   after a dropped keep_list restores from clusters
                   without recomputing pairs or the union-find

Bookkeeping: a computed stage costs its one snapshot write. Each stage's
row count and the aggregates observed on its write (avg Jaccard on
dup_pairs, per-band skew on cand_pairs) land in its ``_meta.json`` record,
and the run's metrics record is built from those records with no Spark job.

Resume semantics (the reference's cache-the-expensive-intermediate pattern,
``precompute.py:89-97``, generalized): each stage's fingerprint is a hash of
(engine version, config, input token, upstream fingerprint). A rerun reuses
every stage whose fingerprint matches and recomputes from the first miss —
so a job killed after `cand_pairs` resumes at `dup_pairs`, and a config
change (e.g. new threshold) invalidates exactly the stages downstream of
the change.
"""

from __future__ import annotations

import hashlib
import json
import time
from dataclasses import asdict, dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from neural_locality_sensitive_hashing_spark.config import DedupConfig
from neural_locality_sensitive_hashing_spark.functions.simhash import simhash_udf
from neural_locality_sensitive_hashing_spark.operators.candidates import (
    bucket_stats,
    candidate_pairs,
    explode_bands,
)
from neural_locality_sensitive_hashing_spark.operators.connected_components import (
    clusters_with_singletons,
    connected_components,
)
from neural_locality_sensitive_hashing_spark.functions.minhash import make_sig_prefix_udf
from neural_locality_sensitive_hashing_spark.operators.dedup import signatures_fused
from neural_locality_sensitive_hashing_spark.operators.verify import (
    jaccard_verify,
    jaccard_verify_screened,
)
from neural_locality_sensitive_hashing_spark.sources.checkpoint import CheckpointCatalog


@dataclass
class StageReport:
    """One stage's record: ``rows`` and ``observed`` are the snapshot's
    committed row count and observed aggregates (``_meta.json``), whether
    the stage ran or was served from its checkpoint."""

    stage: str
    cached: bool
    rows: int
    wall_sec: float
    observed: dict = field(default_factory=dict)


@dataclass
class PipelineReport:
    stages: list[StageReport] = field(default_factory=list)

    def cached_stages(self) -> set[str]:
        return {s.stage for s in self.stages if s.cached}

    def stage(self, name: str) -> StageReport:
        return next(s for s in self.stages if s.stage == name)


class DedupPipeline:
    """Checkpointed pages -> clusters pipeline."""

    STAGES = ["signatures", "cand_pairs", "dup_pairs", "clusters", "keep_list"]

    def __init__(
        self,
        spark: SparkSession,
        cfg: DedupConfig,
        checkpoint_dir: str,
        input_token: str,
    ):
        self.spark = spark
        self.cfg = cfg
        self.catalog = CheckpointCatalog(spark, checkpoint_dir)
        self.input_token = input_token
        self._fps = self._fingerprints()

    def _fingerprints(self) -> dict[str, str]:
        cfg_d = asdict(self.cfg)
        fps: dict[str, str] = {}
        upstream = hashlib.sha256(
            json.dumps({"input": self.input_token, "cfg": cfg_d}, sort_keys=True).encode()
        ).hexdigest()
        for stage in self.STAGES:
            upstream = hashlib.sha256(f"{upstream}/{stage}/v1".encode()).hexdigest()
            fps[stage] = upstream[:24]
        return fps

    def _stage(
        self,
        name: str,
        compute,
        report: PipelineReport,
        observation: Observation | None = None,
    ) -> DataFrame:
        """Serve the stage from its checkpoint or compute and write it
        (one Spark job, which also feeds ``observation`` when ``compute``
        attached it). Either way the report takes rows and observed
        values from the snapshot's record, never from a count job."""
        t0 = time.time()
        fp = self._fps[name]
        cached = self.catalog.has_snapshot(name, fp)
        if cached:
            df = self.catalog.read_snapshot(name)
        else:
            df = self.catalog.write_snapshot(compute(), name, fp, observation)
        meta = self.catalog.snapshot_meta(name)
        report.stages.append(
            StageReport(
                name, cached, meta["rows"], round(time.time() - t0, 3),
                meta.get("observed", {}),
            )
        )
        return df

    def run(self, pages: DataFrame) -> tuple[DataFrame, PipelineReport]:
        report = PipelineReport()
        cfg = self.cfg

        def compute_signatures() -> DataFrame:
            sigs = signatures_fused(pages, cfg)
            if cfg.shingle_hash_bytes == 8:
                # the SimHash contract is defined over 64-bit shingle
                # hashes; with the 4-byte scale gather the column is
                # meaningless (and the kernel would reject the buffer)
                sigs = sigs.withColumn("simhash", simhash_udf(F.col("sh")))
            if cfg.verify_screen:
                # the screen's uint32 estimator prefix, derived from the
                # full signature so the stage stays one Arrow pass; lands
                # in the checkpoint (config is part of the fingerprint, so
                # toggling the screen invalidates downstream stages)
                sigs = sigs.withColumn(
                    "sigp", make_sig_prefix_udf(cfg.screen_perms)(F.col("sig"))
                )
            return sigs

        signatures = self._stage("signatures", compute_signatures, report)

        # the per-band skew figures ride the candidate write; the windowed
        # strategy has no grouped frame to observe, so the metrics step
        # falls back to bucket_stats for it
        band_obs = Observation() if cfg.pair_strategy != "windowed" else None

        def compute_cands() -> DataFrame:
            bands = explode_bands(signatures, cfg)
            return candidate_pairs(bands, cfg, band_obs)

        cands = self._stage("cand_pairs", compute_cands, report, band_obs)

        jaccard_obs = Observation()

        def compute_dups() -> DataFrame:
            if cfg.verify_screen:
                dups = jaccard_verify_screened(
                    cands, signatures.select("doc_id", "sh", "sigp"), cfg
                )
            else:
                dups = jaccard_verify(cands, signatures.select("doc_id", "sh"), cfg)
            return dups.observe(jaccard_obs, F.avg("jaccard").alias("avg_jaccard"))

        dups = self._stage("dup_pairs", compute_dups, report, jaccard_obs)

        def compute_clusters() -> DataFrame:
            labels = connected_components(dups, cfg.max_cc_iterations)
            return clusters_with_singletons(labels, signatures, "doc_id")

        clusters = self._stage("clusters", compute_clusters, report)

        def compute_keep_list() -> DataFrame:
            # one size aggregate over the CLUSTERS CHECKPOINT — survivors
            # are the doc_id == cluster_id rows (the union-find labels
            # clusters by min doc_id), no shuffle of pairs or corpus
            sizes = clusters.groupBy("cluster_id").agg(
                F.count("*").alias("n_docs_represented")
            )
            return (
                clusters.where(F.col("doc_id") == F.col("cluster_id"))
                .join(sizes, "cluster_id")
                .select("doc_id", "n_docs_represented")
            )

        self._stage("keep_list", compute_keep_list, report)

        # S8 metrics sink: one quality/efficiency row set per run, next to
        # the per-file lineage (the reference logs recall/query_size/
        # bucket stats every eval — nlsh/trainers/base.py:87-108). The
        # record is built from the stage records and written on the
        # driver: no Spark job. A fully-cached resume recomputes nothing,
        # so it also re-logs nothing: the run_id (clusters fingerprint)
        # already has its rows.
        if all(s.cached for s in report.stages):
            return clusters, report
        self.catalog.write_metrics(
            self.metrics_record(report, signatures, dups), run_id=self._fps["clusters"]
        )
        return clusters, report

    def metrics_record(
        self, report: PipelineReport, signatures: DataFrame, dups: DataFrame
    ) -> dict[str, float]:
        """The run's metrics, built from the stage records with no Spark
        job: counts are the snapshots' committed rows (``n_clusters`` is
        keep_list's, one survivor per cluster), ``avg_jaccard`` and the
        per-band skew figures were observed on the dup_pairs and
        cand_pairs writes. A value missing from its record (windowed
        pairs, or a snapshot written without observations) falls back to
        one aggregate job over the snapshot for just that value."""
        n_docs = report.stage("signatures").rows
        dup_obs = report.stage("dup_pairs").observed
        if "avg_jaccard" in dup_obs:
            avg_j = dup_obs["avg_jaccard"]
        else:
            avg_j = dups.agg(F.avg("jaccard")).first()[0]
        metrics = {
            "n_docs": float(n_docs),
            "dup_pairs": float(report.stage("dup_pairs").rows),
            "avg_jaccard": float(avg_j or 0.0),
            "n_clusters": float(report.stage("keep_list").rows),
            "candidate_pairs": float(report.stage("cand_pairs").rows),
            "wall_sec": round(sum(s.wall_sec for s in report.stages), 3),
        }
        if n_docs == 0:  # no bands, so no per-band rows (as bucket_stats)
            return metrics
        # per-band candidate fan-out (bucket_stats pair_mass): makes skew
        # drift auditable across runs — a band whose pair_mass balloons is
        # the one a boilerplate template landed in
        band_keys = [
            f"band_{b:02d}_{k}" for b in range(self.cfg.num_bands)
            for k in ("pair_mass", "max_bucket")
        ]
        band_obs = report.stage("cand_pairs").observed
        if all(k in band_obs for k in band_keys):
            metrics.update((k, float(band_obs[k])) for k in band_keys)
            return metrics
        for row in bucket_stats(explode_bands(signatures, self.cfg)).collect():
            band = int(row["band"])
            metrics[f"band_{band:02d}_pair_mass"] = float(row["pair_mass"])
            metrics[f"band_{band:02d}_max_bucket"] = float(row["max_bucket"])
        return metrics

    # -- resume helpers -------------------------------------------------------

    def drop_from(self, stage: str) -> None:
        """Simulate a mid-pipeline kill: drop this stage and everything after."""
        idx = self.STAGES.index(stage)
        for s in self.STAGES[idx:]:
            self.catalog.drop_snapshot(s)
