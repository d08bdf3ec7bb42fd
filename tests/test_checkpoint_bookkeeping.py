"""Checkpoint bookkeeping: a stage costs its snapshot write, the run's
metrics record costs no Spark job, and both stay equal to the values the
counts and aggregates over the snapshots give."""

from __future__ import annotations

import contextlib
import json
import os
import subprocess
import sys
import threading
import uuid

import pytest
from pyspark.sql import functions as F

from neural_locality_sensitive_hashing_spark.config import DedupConfig
from neural_locality_sensitive_hashing_spark.operators.candidates import (
    bucket_stats,
    explode_bands,
)
from neural_locality_sensitive_hashing_spark.plans.pipeline import DedupPipeline
from neural_locality_sensitive_hashing_spark.sources.checkpoint import CheckpointCatalog

CFGS = {
    "exact": DedupConfig(),
    "screened": DedupConfig(verify_screen=True),
}


@contextlib.contextmanager
def _jobs(spark):
    """Collects the ids of the Spark jobs the block submits."""
    sc = spark.sparkContext
    group = f"bookkeeping-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    ids: list[int] = []
    try:
        yield ids
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        ids.extend(sc.statusTracker().getJobIdsForGroup(group))


def _run_bounded(fn, *args, timeout_s: float = 300.0):
    """Run ``fn`` in a thread; fail instead of hanging the suite when it
    blocks (an Observation waited on but never fed does)."""
    out: dict = {}

    def target():
        try:
            out["value"] = fn(*args)
        except Exception as e:  # re-raised in the caller
            out["error"] = e

    t = threading.Thread(target=target, daemon=True)
    t.start()
    t.join(timeout_s)
    assert not t.is_alive(), f"{fn.__name__} still blocked after {timeout_s} s"
    if "error" in out:
        raise out["error"]
    return out["value"]


def _logged(catalog: CheckpointCatalog) -> dict[str, float]:
    rows = catalog.metrics().collect()
    logged = {r.metric: r.value for r in rows}
    assert len(logged) == len(rows), "a metric was logged twice"
    return logged


def _old_way(catalog: CheckpointCatalog, cfg: DedupConfig) -> dict[str, float]:
    """The metrics as counts and aggregates over the snapshots."""
    sigs = catalog.read_snapshot("signatures")
    dups = catalog.read_snapshot("dup_pairs")
    want = {
        "n_docs": float(sigs.count()),
        "dup_pairs": float(dups.count()),
        "avg_jaccard": float(dups.agg(F.avg("jaccard")).first()[0] or 0.0),
        "n_clusters": float(
            catalog.read_snapshot("clusters").select("cluster_id").distinct().count()
        ),
        "candidate_pairs": float(catalog.read_snapshot("cand_pairs").count()),
    }
    for row in bucket_stats(explode_bands(sigs, cfg)).collect():
        want[f"band_{row.band:02d}_pair_mass"] = float(row.pair_mass)
        want[f"band_{row.band:02d}_max_bucket"] = float(row.max_bucket)
    return want


def _assert_metrics_equal(got: dict, want: dict) -> None:
    assert set(got) == set(want) | {"wall_sec"}
    for k, v in want.items():
        if k == "avg_jaccard":
            assert got[k] == pytest.approx(v, rel=1e-12, abs=0.0)
        else:
            assert got[k] == v, k


@pytest.fixture(scope="module", params=sorted(CFGS))
def piped(request, spark, pages_1k, tmp_path_factory):
    cfg = CFGS[request.param]
    pages = spark.read.parquet(pages_1k[0])
    ckpt = str(tmp_path_factory.mktemp(f"bookkeeping_{request.param}"))
    pipe = DedupPipeline(spark, cfg, ckpt, input_token="pages_1k")
    _, report = pipe.run(pages)
    return pipe, pages, report


def test_metrics_equal_aggregates_over_snapshots(piped):
    pipe, _, _ = piped
    got = _logged(pipe.catalog)
    assert len(got) == 6 + 2 * pipe.cfg.num_bands
    _assert_metrics_equal(got, _old_way(pipe.catalog, pipe.cfg))


def test_metrics_step_submits_no_job(spark, piped, tmp_path):
    pipe, _, report = piped
    sigs = pipe.catalog.read_snapshot("signatures")
    dups = pipe.catalog.read_snapshot("dup_pairs")
    with _jobs(spark) as jobs:
        record = pipe.metrics_record(report, sigs, dups)
        CheckpointCatalog(spark, str(tmp_path)).write_metrics(record, run_id="probe")
    assert jobs == []
    assert record == _logged(pipe.catalog)


def test_stage_records_and_lineage_match_snapshots(piped):
    pipe, _, report = piped
    lineage = pipe.catalog.lineage()
    for s in report.stages:
        meta = pipe.catalog.snapshot_meta(s.stage)
        n = pipe.catalog.read_snapshot(s.stage).count()
        assert s.rows == meta["rows"] == n
        files = lineage.where(
            (F.col("stage") == s.stage) & (F.col("fingerprint") == meta["fingerprint"])
        ).collect()
        assert sum(r.rows for r in files) == n
        data = os.path.join(pipe.catalog.base, s.stage, "data")
        parts = [f for f in os.listdir(data) if f.startswith("part-")]
        assert sorted(r.partition_id for r in files) == sorted(int(f[5:10]) for f in parts)


def test_cached_stages_report_committed_rows(piped):
    pipe, pages, report = piped
    _, again = pipe.run(pages)
    assert again.cached_stages() == set(DedupPipeline.STAGES)
    assert [s.rows for s in again.stages] == [s.rows for s in report.stages]
    assert [s.observed for s in again.stages] == [s.observed for s in report.stages]


def test_resume_rewrites_one_record_per_snapshot_and_run(piped):
    pipe, pages, _ = piped
    before = _logged(pipe.catalog)
    pipe.drop_from("clusters")
    _, rep = pipe.run(pages)
    assert rep.cached_stages() == {"signatures", "cand_pairs", "dup_pairs"}
    after = _logged(pipe.catalog)
    assert len(after) == len(before)
    fp = pipe.catalog.snapshot_meta("clusters")["fingerprint"]
    total = (
        pipe.catalog.lineage()
        .where((F.col("stage") == "clusters") & (F.col("fingerprint") == fp))
        .agg(F.sum("rows"))
        .first()[0]
    )
    assert total == pages.count()


def test_unobserved_records_fall_back_to_aggregates(piped):
    """Records without observed values (written before observations rode
    the writes) must not block the resume; the missing values come from
    one aggregate job each and equal the observed ones."""
    pipe, pages, _ = piped
    before = _logged(pipe.catalog)
    for stage in DedupPipeline.STAGES:
        path = os.path.join(pipe.catalog.base, stage, "_meta.json")
        with open(path) as f:
            meta = json.load(f)
        meta.pop("observed", None)
        with open(path, "w") as f:
            json.dump(meta, f)
    pipe.drop_from("clusters")
    _, rep = _run_bounded(pipe.run, pages)
    assert rep.stage("cand_pairs").observed == {}
    assert rep.stage("dup_pairs").observed == {}
    after = _logged(pipe.catalog)
    before.pop("wall_sec")
    _assert_metrics_equal(after, before)


def test_windowed_strategy_falls_back_to_bucket_stats(spark, pages_1k, tmp_path):
    """The windowed pair strategy has no grouped frame to observe."""
    cfg = DedupConfig(pair_strategy="windowed")
    pages = spark.read.parquet(pages_1k[0])
    pipe = DedupPipeline(spark, cfg, str(tmp_path), input_token="pages_1k")
    _, rep = _run_bounded(pipe.run, pages)
    assert rep.stage("cand_pairs").observed == {}
    _assert_metrics_equal(_logged(pipe.catalog), _old_way(pipe.catalog, cfg))


def test_write_snapshot_runs_only_the_write(spark, tmp_path):
    df = spark.range(5000).groupBy((F.col("id") % 13).alias("k")).agg(
        F.count("*").alias("n")
    )
    with _jobs(spark) as plain:
        df.write.parquet(str(tmp_path / "plain"))
    cat = CheckpointCatalog(spark, str(tmp_path / "ckpt"))
    with _jobs(spark) as snap:
        out = cat.write_snapshot(df, "agg", "fp1")
    assert len(snap) <= len(plain)
    assert out.schema == spark.read.parquet(str(tmp_path / "plain")).schema
    assert cat.snapshot_meta("agg")["rows"] == 13 == out.count()
    assert cat.lineage().agg(F.sum("rows")).first()[0] == 13


def test_empty_stage(spark, tmp_path):
    cat = CheckpointCatalog(spark, str(tmp_path))
    out = cat.write_snapshot(spark.range(0), "empty", "fp0")
    assert out.count() == 0
    assert cat.snapshot_meta("empty")["rows"] == 0
    assert sum(r.rows for r in cat.lineage().collect()) == 0


def test_spark_written_parts_read_with_driver_written(spark, tmp_path):
    """A catalog dir holding lineage/metrics parts appended by Spark jobs
    reads back together with the driver-written files."""
    base = str(tmp_path)
    spark.createDataFrame(
        [("old", 0, 5, "fpo", 12)],
        "stage string, partition_id int, rows bigint, fingerprint string, wall_ms int",
    ).write.mode("append").parquet(os.path.join(base, "_lineage"))
    spark.createDataFrame(
        [("run_old", "n_docs", 5.0)], "run_id string, metric string, value double"
    ).write.mode("append").parquet(os.path.join(base, "_metrics"))

    cat = CheckpointCatalog(spark, base)
    cat.write_snapshot(spark.range(7), "new", "fpn")
    cat.write_metrics({"n_docs": 7.0}, run_id="run_new")

    lineage = cat.lineage()
    assert dict(lineage.dtypes) == {
        "stage": "string", "partition_id": "int", "rows": "bigint",
        "fingerprint": "string", "wall_ms": "int",
    }
    sums = {
        (r.stage, r.fingerprint): r.n
        for r in lineage.groupBy("stage", "fingerprint").agg(F.sum("rows").alias("n")).collect()
    }
    assert sums == {("old", "fpo"): 5, ("new", "fpn"): 7}
    metrics = cat.metrics()
    assert dict(metrics.dtypes) == {"run_id": "string", "metric": "string", "value": "double"}
    assert sorted(tuple(r) for r in metrics.collect()) == [
        ("run_new", "n_docs", 7.0), ("run_old", "n_docs", 5.0)
    ]


def test_job_tool_checkpoint_mode_reports_stage_counts(spark, pages_1k, tmp_path):
    """tools/run_dedup_job.py --checkpoint-dir reports pair and cluster
    counts from the stage records, fresh and fully resumed alike."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    ckpt = str(tmp_path / "ckpt")
    reports = []
    for i in range(2):
        out = tmp_path / f"report{i}.json"
        subprocess.run(
            [sys.executable, os.path.join(repo, "tools", "run_dedup_job.py"),
             "--pages", pages_1k[0], "--checkpoint-dir", ckpt,
             "--shuffle-partitions", "8", "--json-out", str(out)],
            check=True, cwd=repo, timeout=420,
            stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
            env={**os.environ, "SPARK_GRAFT_CPUS": "8", "PYTHONPATH": repo},
        )
        reports.append(json.loads(out.read_text()))
    fresh, resumed = reports
    assert resumed["resumed_stages"] == sorted(DedupPipeline.STAGES)
    cat = CheckpointCatalog(spark, ckpt)
    assert fresh["candidate_pairs"] == cat.read_snapshot("cand_pairs").count() > 0
    assert fresh["dup_pairs"] == cat.read_snapshot("dup_pairs").count() > 0
    assert fresh["clusters"] == (
        cat.read_snapshot("clusters").select("cluster_id").distinct().count()
    )
    for key in ("candidate_pairs", "dup_pairs", "clusters"):
        assert resumed[key] == fresh[key]
    assert {s: v["rows"] for s, v in resumed["stages"].items()} == {
        s: v["rows"] for s, v in fresh["stages"].items()
    }
