"""Distribution-drift checks: PSI + KS over fixed-layout histograms.

No reference analog (dhowden/tag has no drift concept) — this is the
north_star addition: compare turn-length and ts histograms of the current
table against a stored baseline snapshot. The heavy part (histogramming)
is a single Catalyst hash aggregate whose output is bounded by the bucket
count, so the PSI/KS math itself runs on tiny frames (numpy driver-side,
never on the fact table).

Bucket layout is FIXED by (lo, hi, n_buckets) so PSI is deterministic and
baselines written at one scale compare cleanly at another (FIXTURES.md §4).
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from tag_spark.session import local_frame

HIST_SCHEMA = T.StructType(
    [
        T.StructField("metric", T.StringType(), False),
        T.StructField("bucket", T.IntegerType(), False),
        T.StructField("lo", T.DoubleType(), False),
        T.StructField("hi", T.DoubleType(), False),
        T.StructField("count", T.LongType(), False),
    ]
)

DRIFT_SCHEMA = T.StructType(
    [
        T.StructField("metric", T.StringType(), False),
        T.StructField("psi", T.DoubleType(), False),
        T.StructField("ks", T.DoubleType(), False),
        T.StructField("n_base", T.LongType(), False),
        T.StructField("n_cur", T.LongType(), False),
        T.StructField("drifted", T.BooleanType(), False),
    ]
)

# conventional PSI interpretation: <0.1 stable, 0.1-0.25 moderate, >0.25 drifted
DEFAULT_PSI_THRESHOLD = 0.25


def histogram(df: DataFrame, expr: Column, metric: str, lo: float, hi: float, n_buckets: int = 32) -> DataFrame:
    """Fixed-layout histogram of a numeric expression. Out-of-range values
    clamp into the edge buckets (so adversarial rows count, never vanish).
    One partial+final hash aggregate; output ≤ n_buckets rows."""
    w = (hi - lo) / n_buckets
    x = expr.cast("double")
    # NB: greatest()/least() IGNORE nulls in Spark (greatest(null,0)==0), so
    # null inputs must be gated explicitly or they silently join bucket 0
    clamped = F.least(F.greatest(F.floor((x - F.lit(lo)) / F.lit(w)), F.lit(0)), F.lit(n_buckets - 1))
    bucket = F.when(x.isNotNull(), clamped).cast("int")
    out = (
        df.select(bucket.alias("bucket"))
        .where(F.col("bucket").isNotNull())
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("count"))
    )
    return out.select(
        F.lit(metric).alias("metric"),
        F.col("bucket"),
        (F.lit(lo) + F.col("bucket") * F.lit(w)).alias("lo"),
        (F.lit(lo) + (F.col("bucket") + 1) * F.lit(w)).alias("hi"),
        F.col("count").cast("long").alias("count"),
    )


def multi_histogram(df: DataFrame, specs: list[tuple[str, Column, float, float, int]]) -> DataFrame:
    """Histogram MANY metrics in ONE scan and ONE aggregate: the bucket
    columns for every metric are projected once, then GROUPING SETS
    ((b_m0), (b_m1), ...) computes all marginal histograms in a single
    hash-aggregate pass (output is linear — Σ n_buckets rows — unlike a
    cross-bucket groupBy, and the input is never widened like an explode
    would). A union of per-metric histogram() calls re-scans the fact table
    per metric; an exploded (metric, bucket) stream doubles the aggregate
    input per metric — both measured slower. Per-metric NULL independence
    falls out: a row with a null metric value lands in that metric's
    null-bucket output row, which is dropped, without affecting its other
    metrics."""
    n = len(specs)
    buckets = []
    cells_cap = 1
    for metric, expr, lo, hi, n_buckets in specs:
        w = (hi - lo) / n_buckets
        x = expr.cast("double")
        clamped = F.least(F.greatest(F.floor((x - F.lit(lo)) / F.lit(w)), F.lit(0)), F.lit(n_buckets - 1))
        buckets.append(F.when(x.isNotNull(), clamped).cast("int").alias(f"__b{len(buckets)}"))
        cells_cap *= n_buckets + 1  # +1: the null-bucket group
    sel = df.select(*buckets)
    gcols = [F.col(f"__b{i}") for i in range(n)]
    if cells_cap <= 65_536:
        # pre-aggregate the CROSS-bucket cells first (bounded by
        # Π(n_buckets_i+1) — tiny for the usual 2-4 metric specs), then run
        # GROUPING SETS over the cells: the fact table passes through ONE
        # hash aggregate with no Expand, instead of Expand amplifying every
        # row n× before the aggregate (guide §2.3 — aggregate before you
        # shuffle). Marginal counts are identical: summing cell counts per
        # single-column group equals counting rows per group, null cells
        # included, so per-metric NULL independence is preserved.
        cells = sel.groupBy(*gcols).agg(F.count(F.lit(1)).alias("__cn"))
        gs = cells.groupingSets([[c] for c in gcols], *gcols).agg(
            F.sum("__cn").alias("count"), F.grouping_id().alias("__gid")
        )
    else:
        gs = sel.groupingSets([[c] for c in gcols], *gcols).agg(
            F.count(F.lit(1)).alias("count"), F.grouping_id().alias("__gid")
        )
    # grouping_id bit for column i is 0 when that column is grouped: the
    # set {__bi} has gid = (2^n - 1) & ~(1 << (n-1-i)). Metric identity,
    # bucket and edges all decode from gid in ONE projection — a per-metric
    # filter+union would duplicate the whole scan+aggregate per branch
    # (measured: the optimizer does not reuse the shared subplan).
    metric_c = bucket_c = lo_c = w_c = None
    for i, (metric, _, lo, hi, n_buckets) in enumerate(specs):
        gid = ((1 << n) - 1) & ~(1 << (n - 1 - i))
        cond = F.col("__gid") == gid
        w = (hi - lo) / n_buckets

        def chain(prev, value):
            return F.when(cond, value) if prev is None else prev.when(cond, value)

        metric_c = chain(metric_c, F.lit(metric))
        bucket_c = chain(bucket_c, F.col(f"__b{i}"))
        lo_c = chain(lo_c, F.lit(lo))
        w_c = chain(w_c, F.lit(w))
    return (
        gs.select(
            metric_c.alias("metric"),
            bucket_c.alias("bucket"),
            (lo_c + bucket_c * w_c).alias("lo"),
            (lo_c + (bucket_c + 1) * w_c).alias("hi"),
            F.col("count").cast("long").alias("count"),
        )
        .where(F.col("bucket").isNotNull())
    )


def transcript_baseline(df: DataFrame, text_cap: int = 20_000) -> DataFrame:
    """The two north_star metrics: turn-length and ts-hour histograms —
    both from ONE scan of the fact table."""
    return multi_histogram(
        df,
        [
            ("text_len", F.length("text"), 0.0, float(text_cap), 40),
            ("ts_hour", F.hour("ts"), 0.0, 24.0, 24),
        ],
    )


def _collect_hists(hist: DataFrame) -> dict[str, dict[int, int]]:
    """ALL metrics in one job — per-metric filter+collect would re-run the
    (fact-table-sized) histogram plan once per metric."""
    out: dict[str, dict[int, int]] = {}
    for r in hist.select("metric", "bucket", "count").collect():
        out.setdefault(r["metric"], {})[r["bucket"]] = r["count"]
    return out


def psi_ks(base: dict[int, int], cur: dict[int, int], eps: float = 1e-6) -> tuple[float, float, int, int]:
    """PSI = Σ (p-q)·ln(p/q); KS = max |CDF_p - CDF_q|. Pure python on ≤
    n_buckets entries."""
    buckets = sorted(set(base) | set(cur))
    nb, nc = sum(base.values()), sum(cur.values())
    psi = 0.0
    ks = 0.0
    cb = cc = 0.0
    for b in buckets:
        p = max(base.get(b, 0) / max(nb, 1), eps)
        q = max(cur.get(b, 0) / max(nc, 1), eps)
        psi += (q - p) * math.log(q / p)
        cb += base.get(b, 0) / max(nb, 1)
        cc += cur.get(b, 0) / max(nc, 1)
        ks = max(ks, abs(cb - cc))
    return psi, ks, nb, nc


def drift_check(
    spark: SparkSession,
    baseline_hist: DataFrame,
    current_hist: DataFrame,
    psi_threshold: float = DEFAULT_PSI_THRESHOLD,
) -> DataFrame:
    """Compare two histogram frames metric-by-metric → one drift verdict row
    per metric. Exactly ONE job: the two histogram frames are unioned with
    a side tag and collected together, so their (fact-table-sized) subplans
    run as one Spark job — the second scan's tasks back-fill the cores the
    first scan's tail leaves idle, and one action's scheduling overhead is
    paid instead of two (guide §2.6). Per-metric collects would multiply
    full scans. The PSI/KS math runs on ≤ n_buckets entries driver-side."""
    tagged = baseline_hist.select(F.lit(0).alias("__side"), "metric", "bucket", "count").unionByName(
        current_hist.select(F.lit(1).alias("__side"), "metric", "bucket", "count")
    )
    base_all: dict[str, dict[int, int]] = {}
    cur_all: dict[str, dict[int, int]] = {}
    for r in tagged.collect():
        out_side = base_all if r["__side"] == 0 else cur_all
        out_side.setdefault(r["metric"], {})[r["bucket"]] = r["count"]
    out = []
    for m in sorted(set(base_all) | set(cur_all)):
        psi, ks, nb, nc = psi_ks(base_all.get(m, {}), cur_all.get(m, {}))
        out.append((m, float(psi), float(ks), nb, nc, bool(psi > psi_threshold)))
    return local_frame(spark, out, DRIFT_SCHEMA)
