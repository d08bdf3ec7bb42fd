"""The resumable dedup pipeline (SURVEY.md §7 stages 1+3+4).

Stages (each one an idempotent checkpoint table), composed by
``operators.dedup.minhash_stages`` — the same chain the queries and the
job CLI run:

    signatures   : pages -> (doc_id, sh, bands[, sigp]) from the fused
                   shingle/MinHash/band kernel (sigp only with
                   cfg.verify_screen)
    cand_pairs   : band explode + bucket self-join -> (a, b)
    dup_pairs    : verified (a, b, jaccard) from ``verify_pairs``: exact
                   Jaccard through the gather joins or, inside the
                   doc-count gate, a broadcast set table; with
                   cfg.verify_screen the two-tier MinHash-prefix screen
                   (clear accepts report est-Jaccard, only the
                   uncertainty band gathers full shingle sets)
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
from neural_locality_sensitive_hashing_spark.operators.candidates import bucket_stats
from neural_locality_sensitive_hashing_spark.operators.dedup import (
    MINHASH_STAGES,
    explode_fused_bands,
    minhash_stages,
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

    STAGES = list(MINHASH_STAGES)

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
            # v2: signatures hold fused band hashes, not the full signature
            upstream = hashlib.sha256(f"{upstream}/{stage}/v2".encode()).hexdigest()
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

        def hold(name, compute, observation):
            df = self._stage(name, compute, report, observation)
            return df, report.stage(name).rows

        held = minhash_stages(pages, self.cfg, hold, observe=True)
        clusters = held["clusters"]

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
            self.metrics_record(report, held["signatures"], held["dup_pairs"]),
            run_id=self._fps["clusters"],
        )
        return clusters, report

    def metrics_record(
        self, report: PipelineReport, signatures: DataFrame, dups: DataFrame
    ) -> dict[str, float]:
        """The run's metrics, built from the stage records with no Spark
        job: counts are the snapshots' committed rows (``n_clusters`` is
        keep_list's, one survivor per cluster), ``avg_jaccard`` and the
        per-band skew figures were observed on the dup_pairs and
        cand_pairs writes. A value missing from its record (a snapshot
        written without observations) falls back to one aggregate job
        over the snapshot for just that value."""
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
        for row in bucket_stats(explode_fused_bands(signatures)).collect():
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
