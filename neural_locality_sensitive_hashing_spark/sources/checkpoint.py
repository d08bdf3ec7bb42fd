"""Checkpoint catalog: per-stage snapshot tables + per-file lineage.

The reference caches its expensive intermediate (self-kNN) to a file and
reloads it if present (``precompute.py:89-97``, ``nlsh/data.py:41-44``);
here every pipeline stage writes an idempotent snapshot table keyed by a
content fingerprint, so a killed job resumes at the first missing stage
and completed stages are never recomputed.

Storage is parquet directories with a ``_meta.json`` sidecar (an
Iceberg-style snapshot: fingerprint, schema, row count, commit time — the
sandbox has no Iceberg runtime jar; when one is available the same writer
API maps to ``df.writeTo(...).createOrReplace()``, gated in
``write_snapshot``). A snapshot costs its parquet write and no other Spark
job: the row count and the lineage come from the written part files'
parquet footers, read on the driver, and aggregates the caller observed on
the written frame (``df.observe``) are kept in ``_meta.json`` under
``observed``.

Lineage: one row per written part file (stage, partition_id, rows,
fingerprint, wall_ms), ``partition_id`` being the write task's partition
number. Lineage and ``_metrics`` rows are small parquet files written on
the driver, one file per (stage, fingerprint) and one per run_id,
overwritten in place, so rewriting a snapshot or re-logging a run never
duplicates its record. Spark reads each table as one directory, parts
written by Spark jobs included.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import time
from urllib.parse import quote

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql.types import StructType

_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"
_PART_FILE = re.compile(r"part-(\d+)-")
_LINEAGE_SCHEMA = pa.schema([
    ("stage", pa.string()),
    ("partition_id", pa.int32()),
    ("rows", pa.int64()),
    ("fingerprint", pa.string()),
    ("wall_ms", pa.int32()),
])
_METRICS_SCHEMA = pa.schema([
    ("run_id", pa.string()),
    ("metric", pa.string()),
    ("value", pa.float64()),
])


def _meta_path(base: str, stage: str) -> str:
    return os.path.join(base, stage, "_meta.json")


def _data_path(base: str, stage: str) -> str:
    return os.path.join(base, stage, "data")


def _write_table(table_dir: str, name: str, table: pa.Table) -> None:
    """Write one driver-side parquet file, replacing any file of that
    name atomically: the temp file is dot-prefixed, which Spark's readers
    skip."""
    os.makedirs(table_dir, exist_ok=True)
    final = os.path.join(table_dir, quote(name, safe="") + ".parquet")
    tmp = os.path.join(table_dir, "." + os.path.basename(final) + ".tmp")
    pq.write_table(table, tmp)
    os.replace(tmp, final)


class CheckpointCatalog:
    """Filesystem-backed stage snapshot catalog with lineage metrics."""

    def __init__(
        self,
        spark: SparkSession,
        base_dir: str,
        iceberg_table_prefix: str | None = None,
    ):
        """``iceberg_table_prefix`` (e.g. ``"cat.db"``) switches snapshot
        writes to the Iceberg DataFrameWriterV2 path:
        ``df.writeTo(f"{prefix}.{stage}").createOrReplace()``. Requires an
        Iceberg runtime jar + a configured ``spark.sql.catalog.<cat>``;
        absent those, write_snapshot raises a clean RuntimeError instead of
        a deep Spark stack. Default (None) keeps the parquet + _meta.json
        sidecar layout."""
        self.spark = spark
        self.base = base_dir
        self.iceberg_table_prefix = iceberg_table_prefix
        os.makedirs(base_dir, exist_ok=True)

    # -- snapshots ----------------------------------------------------------

    def snapshot_meta(self, stage: str) -> dict | None:
        """The stage's ``_meta.json`` record, or None when it is missing
        or unreadable."""
        try:
            with open(_meta_path(self.base, stage)) as f:
                return json.load(f)
        except (OSError, json.JSONDecodeError):
            return None

    def has_snapshot(self, stage: str, fingerprint: str) -> bool:
        meta = self.snapshot_meta(stage)
        return (
            meta is not None
            and meta.get("fingerprint") == fingerprint
            and meta.get("committed") is True
        )

    def read_snapshot(self, stage: str) -> DataFrame:
        return self.spark.read.parquet(_data_path(self.base, stage))

    def write_snapshot(
        self,
        df: DataFrame,
        stage: str,
        fingerprint: str,
        observation: Observation | None = None,
    ) -> DataFrame:
        """Write stage output + meta + lineage; returns a re-read of the
        snapshot (so downstream reads columnar parquet and the upstream
        lineage is cut — the checkpoint role in the fixpoint loop).

        The parquet write is the only Spark job. The row count, the
        schema and the lineage (one row per written part file) come from
        the part files' footers. ``observation`` must ride ``df`` (an
        ``Observation`` passed to ``df.observe`` on the written frame or
        upstream of it): the write feeds it, and its values are stored in
        ``_meta.json`` under ``observed``."""
        t0 = time.time()
        if self.iceberg_table_prefix is not None:
            table = f"{self.iceberg_table_prefix}.{stage}"
            try:
                df.writeTo(table).using("iceberg").createOrReplace()
            except Exception as e:  # missing jar / unconfigured catalog
                raise RuntimeError(
                    f"Iceberg snapshot write to {table!r} failed — the "
                    "Iceberg runtime jar and spark.sql.catalog."
                    f"{self.iceberg_table_prefix.split('.')[0]} must be "
                    "configured; unset iceberg_table_prefix to use the "
                    "parquet sidecar layout"
                ) from e
        stage_dir = os.path.join(self.base, stage)
        if os.path.exists(stage_dir):
            shutil.rmtree(stage_dir)
        data = _data_path(self.base, stage)
        df.write.mode("overwrite").parquet(data)

        parts = sorted(f for f in os.listdir(data) if _PART_FILE.match(f))
        footers = [pq.read_metadata(os.path.join(data, f)) for f in parts]
        # the schema Spark stored in the footer is the one it would infer;
        # passing it skips the inference job a plain re-read would run
        schema = StructType.fromJson(
            json.loads(footers[0].metadata[_SPARK_SCHEMA_KEY])
        )
        out = self.spark.read.schema(schema).parquet(data)
        wall_ms = int((time.time() - t0) * 1000)
        lineage = pa.table(
            {
                "stage": [stage] * len(parts),
                "partition_id": [int(_PART_FILE.match(f).group(1)) for f in parts],
                "rows": [m.num_rows for m in footers],
                "fingerprint": [fingerprint] * len(parts),
                "wall_ms": [wall_ms] * len(parts),
            },
            schema=_LINEAGE_SCHEMA,
        )
        _write_table(
            os.path.join(self.base, "_lineage"), f"lineage-{stage}-{fingerprint}", lineage
        )

        meta = {
            "stage": stage,
            "fingerprint": fingerprint,
            "rows": sum(m.num_rows for m in footers),
            "schema": schema.jsonValue(),
            "wall_ms": int((time.time() - t0) * 1000),
            "committed": True,
        }
        if observation is not None:
            meta["observed"] = observation.get
        with open(_meta_path(self.base, stage), "w") as f:
            json.dump(meta, f)
        return out

    def drop_snapshot(self, stage: str) -> None:
        stage_dir = os.path.join(self.base, stage)
        if os.path.exists(stage_dir):
            shutil.rmtree(stage_dir)

    def write_bucketed_table(
        self, df: DataFrame, table: str, bucket_col: str, n_buckets: int = 32
    ) -> DataFrame:
        """Persist a snapshot as a BUCKETED catalog table (hash-bucketed +
        sorted by ``bucket_col``): any later equi-join on that column
        scans the table co-located — Spark shuffles only the other side
        (verified by plan assertion in tests/test_bucketed_join.py). This
        is the 100 TB pattern for repeatedly-probed state (signature /
        band stores): pay the partitioning once at write, never again per
        query. Maps 1:1 onto Iceberg ``bucket(n, col)`` partition
        transforms."""
        (
            df.write.mode("overwrite")
            .bucketBy(n_buckets, bucket_col)
            .sortBy(bucket_col)
            .option("path", os.path.join(self.base, f"_table_{table}"))
            .saveAsTable(table)
        )
        return self.spark.table(table)

    def lineage(self) -> DataFrame | None:
        p = os.path.join(self.base, "_lineage")
        if not os.path.exists(p):
            return None
        return self.spark.read.parquet(p)

    # -- metrics (S8: the reference's logger.log(name, value, step) sink,
    #    ``nlsh/loggers.py:6-97``, as a table next to lineage) --

    def write_metrics(self, metrics: dict[str, float], run_id: str) -> None:
        """One run's record: a driver-side file named by ``run_id``,
        replaced when the run logs again."""
        table = pa.table(
            {
                "run_id": [run_id] * len(metrics),
                "metric": list(metrics),
                "value": [float(v) for v in metrics.values()],
            },
            schema=_METRICS_SCHEMA,
        )
        _write_table(os.path.join(self.base, "_metrics"), f"metrics-{run_id}", table)

    def metrics(self) -> DataFrame | None:
        p = os.path.join(self.base, "_metrics")
        if not os.path.exists(p):
            return None
        return self.spark.read.parquet(p)
