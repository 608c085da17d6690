"""Checkpoint manifest — resumable runs with per-bucket lineage + metrics.

The reference re-scans a whole music collection every `cmd/check` run
(cmd/check/main.go:77-99). At 10^12 turns a full re-scan is unaffordable,
so each run records, per deterministic conv_id bucket: row counts,
violation counts, a status, and the input snapshot identity. ``--resume``
anti-joins completed buckets out of the scan — the Iceberg-native analog of
"only parse files we haven't seen". On a real Iceberg deployment the
``snapshot_id`` column pins lineage to the exact table snapshot validated.
"""

from __future__ import annotations

import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from tag_spark.session import local_frame

MANIFEST_SCHEMA = T.StructType(
    [
        T.StructField("run_id", T.StringType(), False),
        T.StructField("bucket_id", T.IntegerType(), False),
        T.StructField("status", T.StringType(), False),  # done
        T.StructField("rows_checked", T.LongType(), False),
        T.StructField("violations_error", T.LongType(), False),
        T.StructField("violations_warn", T.LongType(), False),
        T.StructField("snapshot_id", T.StringType(), True),
        T.StructField("finished_at", T.TimestampType(), False),
    ]
)


class CheckpointManifest:
    def __init__(self, spark: SparkSession, path: str, snapshot_id: str | None = None):
        self.spark = spark
        self.path = path
        self.snapshot_id = snapshot_id

    # ------------------------------------------------------------------
    def read(self) -> DataFrame:
        try:
            return self.spark.read.schema(MANIFEST_SCHEMA).parquet(self.path)
        except Exception:
            return local_frame(self.spark, [], MANIFEST_SCHEMA)

    def completed_buckets(self, snapshot_id: str | None = None) -> list[int]:
        """Buckets recorded done — optionally ONLY under the given input
        snapshot. A resume against a table whose snapshot changed since the
        manifest was written (append/overwrite/compaction) must re-validate
        everything: buckets recorded under another (or no) snapshot don't
        count. Pass the current ``table_snapshot(...)`` / Iceberg snapshot
        id to enforce that; None keeps the unpinned behavior."""
        done = self.read().filter(F.col("status") == "done")
        if snapshot_id is not None:
            done = done.filter(F.col("snapshot_id") == F.lit(snapshot_id))
        rows = done.select("bucket_id").distinct().collect()
        return sorted(r["bucket_id"] for r in rows)

    def filter_pending(
        self, df: DataFrame, conv_col: str = "conv_id", n_buckets: int | None = None, bucket_fn=None, snapshot_id: str | None = None
    ) -> DataFrame:
        """Drop rows whose bucket already completed. Broadcast anti-join on
        the tiny completed-bucket set — prunes at the scan via the pushed
        bucket predicate when the table is bucket-partitioned.

        ``bucket_fn(col_name, n) -> Column`` must be the SAME bucketing the
        suite that recorded the manifest used (e.g. generic_suites.mod_bucket)
        or resume would skip/re-validate the wrong rows."""
        from tag_spark.operators.suite import bucket_expr
        from tag_spark.schema import N_BUCKETS

        done = self.completed_buckets(snapshot_id=snapshot_id)
        if not done:
            return df
        b = (bucket_fn or bucket_expr)(conv_col, n_buckets or N_BUCKETS)
        return df.filter(~b.isin(done))

    # ------------------------------------------------------------------
    def record_run(self, result, run_id: str | None = None) -> str:
        """Append per-bucket lineage + metrics derived from the verdict
        matrix (one tiny DataFrame — no extra pass over the fact table)."""
        run_id = run_id or uuid.uuid4().hex
        finished = time.strftime("%Y-%m-%d %H:%M:%S", time.gmtime())
        sev_err = F.when(F.col("verdict") == "FAIL", F.col("rows_violating")).otherwise(F.lit(0))
        sev_warn = F.when(F.col("verdict") == "WARN", F.col("rows_violating")).otherwise(F.lit(0))
        entry = (
            result.verdicts.groupBy("bucket_id")
            .agg(
                F.max("rows_checked").alias("rows_checked"),
                F.sum(sev_err).alias("violations_error"),
                F.sum(sev_warn).alias("violations_warn"),
            )
            .select(
                F.lit(run_id).alias("run_id"),
                F.col("bucket_id").cast("int"),
                F.lit("done").alias("status"),
                F.col("rows_checked").cast("long"),
                F.col("violations_error").cast("long"),
                F.col("violations_warn").cast("long"),
                F.lit(self.snapshot_id).cast("string").alias("snapshot_id"),
                F.to_timestamp(F.lit(finished)).alias("finished_at"),
            )
        )
        entry.write.mode("append").parquet(self.path)
        return run_id
