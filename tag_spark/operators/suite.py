"""ValidationSuite — compiles a list of check specs into ONE Spark job.

Physical shape (SURVEY.md §4 target: ≤2 shuffles per run):

    parquet/Iceberg scan  (column-pruned: only referenced columns are read)
      └─ broadcast-hash joins for RefIntegrity dims      (no shuffle)
          └─ ONE exchange: hashpartition(conv_id)        (the only big shuffle)
              └─ window exprs for Unique/Contiguous/Monotonic
                  └─ fused select: array of per-check violation structs
                      └─ explode_outer → violations
    verdicts = tiny agg over violations  ⨯  per-bucket row counts

Violation output is deterministically ordered by (check_id, conv_id,
turn_idx) so fixtures are byte-for-byte stable at any parallelism — the
anti-lesson of the reference's nondeterministic Go map iteration
(id3v1.go:121, SURVEY.md §2.6).
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from tag_spark.functions.hashing import turn_sha1
from tag_spark.operators.checks import (
    Check,
    Conditional,
    ContiguousIndex,
    InRange,
    LengthMax,
    Monotonic,
    NonEmpty,
    NotNull,
    RefIntegrity,
    RegexDisallow,
    SEV_ERROR,
    SEV_WARN,
    Unique,
    WindowCheck,
)
from tag_spark.schema import N_BUCKETS

# element type of the compact fail arrays (needed to type empty literals)
_FAIL_ARR_TYPE = "array<struct<check_id:string,severity:string,column:string,reason:string>>"


@dataclass
class ValidationResult:
    violations: DataFrame  # VIOLATION_SCHEMA + bucket_id
    verdicts: DataFrame  # VERDICT_SCHEMA
    bucket_counts: DataFrame  # (bucket_id, rows_checked)


def bucket_expr(col: str = "conv_id", n_buckets: int = N_BUCKETS):
    """Deterministic logical partition id: stable across parallelism levels,
    unlike spark_partition_id()."""
    return F.pmod(F.xxhash64(F.col(col)), F.lit(n_buckets)).cast("int")


class ValidationSuite:
    def __init__(
        self,
        checks: list[Check],
        n_buckets: int = N_BUCKETS,
        key_cols: tuple[str, str] = ("conv_id", "turn_idx"),
        hash_col: str = "text",
        bucket_fn=None,
    ):
        """``key_cols`` = (group key, within-group order key) — (conv_id,
        turn_idx) for transcripts, (user_id, event_id) for event streams.
        ``bucket_fn(col_name, n) -> Column`` overrides the deterministic
        logical-partition expression (default: pmod(xxhash64(key), n))."""
        ids = [c.check_id for c in checks]
        if len(ids) != len(set(ids)):
            raise ValueError(f"duplicate check_id in suite: {ids}")
        self.checks = checks
        self.n_buckets = n_buckets
        self.key_cols = key_cols
        self.hash_col = hash_col
        self.bucket_fn = bucket_fn or bucket_expr

    # ------------------------------------------------------------------
    def violations(self, df: DataFrame, shuffle_for_windows: bool = True, carry_cols: tuple[str, ...] = ()) -> DataFrame:
        """All violation rows in one fused plan (unordered — order at write).

        Two-stage shape, chosen for 100 TB inputs:
          stage 1 (map-side, pre-shuffle): broadcast dim joins, ALL row-level
            predicates + their reason strings, the canonical text hash, and
            the bucket id. Wide payload columns (text) are then DROPPED.
          stage 2 (post-exchange on the conv key): only the lean columns the
            window checks reference travel through the shuffle — never the
            text payload. Window predicates + row fails explode together.
        Window checks may reference the virtual column ``__sha1`` (e.g. as a
        deterministic Unique rank tie-break) instead of the payload column.
        """
        conv_col, idx_col = self.key_cols

        ref_checks = [c for c in self.checks if isinstance(c, RefIntegrity)]
        window_checks = [c for c in self.checks if isinstance(c, WindowCheck)]
        row_checks = [c for c in self.checks if not isinstance(c, WindowCheck)]

        # screen-then-confirm uniqueness: Unique(screen=...) checks run a
        # lightweight distinct-count screen FIRST (eager — one agg job) and
        # drop out of the windowed plan when the table is duplicate-free, so
        # a clean table never pays their row exchange. They stay in
        # self.checks, so the verdict matrix still reports them (PASS).
        screened = [c for c in window_checks if isinstance(c, Unique) and c.screen]
        if screened:
            clean = self._screen_clean(df, screened)
            window_checks = [c for c in window_checks if c not in clean]

        work = df
        for c in ref_checks:
            work = c.prejoin(work)

        def fails_array(checks: list[Check]) -> Column:
            # a row passes only when the predicate is literally TRUE: a NULL
            # predicate (e.g. Conditional's `then` over NULL operands) is a
            # violation, not a silent pass — matching SQL-oracle
            # NOT coalesce(pred, FALSE).
            # COMPACT fail array with no lambda: concat of per-check
            # conditional single-element arrays. An all-pass row yields an
            # empty array — instead of n_checks null struct slots (~8 B/slot
            # of UnsafeArrayData, most of the per-row shuffle payload on
            # clean tables). Deliberately NOT F.filter/array_compact: any
            # lambda-bearing collection op is CodegenFallback, which drags
            # the whole fail-struct subtree (predicates, reason concats,
            # regexes) into interpreted eval — measured 2.2x on the
            # no-shuffle bucketed suite.
            parts = [
                F.when(F.coalesce(c.predicate(work), F.lit(False)), F.array().cast(_FAIL_ARR_TYPE)).otherwise(
                    F.array(
                        F.struct(
                            F.lit(c.check_id).alias("check_id"),
                            F.lit(c.severity).alias("severity"),
                            (F.lit(c.column) if c.column else F.lit(None)).cast("string").alias("column"),
                            c.reason().alias("reason"),
                        )
                    )
                )
                for c in checks
            ]
            return parts[0] if len(parts) == 1 else F.concat(*parts)

        # columns the window stage still needs after stage 1
        lean_cols: set[str] = set(carry_cols)
        for c in window_checks:
            lean_cols |= {col for col in c.referenced_cols() if col != "__sha1"}
        lean_cols -= {conv_col, idx_col}

        # __sha1 travels as BINARY (20 bytes) through the exchange and the
        # window sort — half the hex string's 40 bytes; binary and hex sort
        # identically (hex encoding is byte-order-preserving), and only the
        # (small) violating output pays the hex re-encode. The row-fail
        # array is COMPACTED (nulls dropped) before the shuffle: an
        # all-pass row then ships an empty array instead of n_checks null
        # struct slots (~8 B/slot of UnsafeArrayData), which is most of the
        # per-row shuffle payload on clean tables (guide §2.3).
        stage1 = work.select(
            F.col(conv_col),
            F.col(idx_col),
            *[F.col(c) for c in sorted(lean_cols)],
            F.unhex(turn_sha1(conv_col, idx_col, self.hash_col)).alias("__sha1"),
            self.bucket_fn(conv_col, self.n_buckets).alias("bucket_id"),
            fails_array(row_checks).alias("__rowfails"),
        )

        if window_checks and shuffle_for_windows:
            stage1 = stage1.repartition(F.col(conv_col))

        # window expressions must be projected BEFORE the generator consumes
        # them (Spark can't evaluate windows inside explode's child expr).
        # Each check's distinct window expressions are projected ONCE by
        # name (window_cols): Catalyst extracts one evaluated column per
        # OCCURRENCE of a raw window expression (no dedup), so embedding
        # them in predicate+reason evaluated e.g. 6 identical lag()s per
        # row; the named projection collapses that to one per expression.
        carries = [F.col(c) for c in carry_cols]
        if window_checks:
            wcols: dict = {}
            for c in window_checks:
                wcols.update(c.window_cols())
            src = stage1.select("*", *[e.alias(n) for n, e in wcols.items()]) if wcols else stage1
            stage2 = src.select(
                F.col(conv_col),
                F.col(idx_col),
                *carries,
                F.col("__sha1"),
                F.col("bucket_id"),
                F.concat(F.col("__rowfails"), fails_array(window_checks)).alias("__fails"),
            )
        else:
            stage2 = stage1.withColumnRenamed("__rowfails", "__fails")

        exploded = (
            stage2.select(
                F.col(conv_col),
                F.col(idx_col),
                *carries,
                F.col("__sha1"),
                F.col("bucket_id"),
                # __fails is already compact (fails_array) — explode of an
                # empty array emits no rows, exactly the old filter+explode
                F.explode(F.col("__fails")).alias("__f"),
            )
            .select(
                F.col("__f.check_id").alias("check_id"),
                F.col("__f.severity").alias("severity"),
                F.col(conv_col).alias("conv_id"),
                F.col(idx_col).alias("turn_idx"),
                F.col("__f.column").alias("column"),
                F.col("__f.reason").alias("reason"),
                F.lower(F.hex(F.col("__sha1"))).alias("text_sha1"),
                F.col("bucket_id"),
                *carries,
            )
        )
        return exploded

    # ------------------------------------------------------------------
    @staticmethod
    def _screen_clean(df: DataFrame, screened: list[Unique]) -> set:
        """One aggregate job screening every screened Unique at once.
        'exact' compares count vs countDistinct (NULL keys sentineled so
        they group like the window does) — exact, partial-aggregated, no
        row shuffle. 'hll' uses approx_count_distinct and treats the table
        as clean when the approximation is within 3·rsd of the row count —
        can miss low duplicate rates (advisory; see checks.Unique)."""
        aggs = []
        for i, c in enumerate(screened):
            key = F.concat_ws("\x1f", *[F.coalesce(F.col(k).cast("string"), F.lit("<null>")) for k in c.keys])
            if c.screen == "exact":
                aggs.append(F.countDistinct(key).alias(f"d{i}"))
            elif c.screen == "hll":
                aggs.append(F.approx_count_distinct(key, c.screen_rsd).alias(f"d{i}"))
            else:
                raise ValueError(f"unknown screen mode {c.screen!r} on {c.check_id}")
        row = df.agg(F.count(F.lit(1)).alias("n"), *aggs).first()
        clean = set()
        for i, c in enumerate(screened):
            threshold = row["n"] if c.screen == "exact" else row["n"] * (1 - 3 * c.screen_rsd)
            if row[f"d{i}"] >= threshold:
                clean.add(c)
        return clean

    # ------------------------------------------------------------------
    def run(self, df: DataFrame) -> ValidationResult:
        """Violations are persisted (MEMORY_AND_DISK, small relative to
        input) and materialized once; the per-bucket row counts come from
        a SEPARATE column-pruned scan of the key column (assemble's
        default). The previous shape rode the counts along as n_buckets+1
        observed metrics on the violations job — but CollectMetrics
        evaluates its aggregates as imperative per-row expressions OUTSIDE
        whole-stage codegen, and the measured cost was ~2.2 s at 58 M rows
        versus 0.4 s for the pruned groupBy scan (which also handles
        out-of-range buckets from sign-preserving bucket fns natively,
        with none of the observed-metrics-node-eliminated fallback
        machinery)."""
        violations = self.violations(df).persist(StorageLevel.MEMORY_AND_DISK)
        violations.count()  # one action: materializes the cache
        return self.assemble(df, violations)

    def assemble(
        self,
        df: DataFrame,
        violations: DataFrame,
        extra_checks: dict[str, str] | None = None,
        bucket_counts: DataFrame | None = None,
    ) -> ValidationResult:
        """Build the verdict matrix from an (already computed) violation
        frame — lets callers mix in externally-produced violations (e.g. the
        salted ordering path) and still get one coherent matrix.
        ``extra_checks`` maps external check_id -> severity. Without
        ``bucket_counts``, the per-bucket row counts cost one column-pruned
        scan of df. That n_buckets-row result is kept in one partition, so
        the verdict matrix and record_run's manifest entry run as single
        tasks (one manifest file per run), and persisted, so the first
        verdict action fills the cache and later ones (record_run) do not
        scan df again."""
        conv_col = self.key_cols[0]
        if bucket_counts is None:
            bucket_counts = (
                df.groupBy(self.bucket_fn(conv_col, self.n_buckets).alias("bucket_id"))
                .agg(F.count(F.lit(1)).alias("rows_checked"))
                .coalesce(1)
                .persist(StorageLevel.MEMORY_AND_DISK)
            )

        sev = {c.check_id: c.severity for c in self.checks}
        for cid, s in (extra_checks or {}).items():
            sev.setdefault(cid, s)
        sev_map = F.create_map(*[x for cid, s in sev.items() for x in (F.lit(cid), F.lit(s))])

        vcounts = violations.groupBy("bucket_id", "check_id").agg(F.count(F.lit(1)).alias("rows_violating"))

        # full matrix: every (bucket present in data) x (check in suite),
        # exploded from a literal array of check ids — no cross join
        matrix = bucket_counts.select(
            "bucket_id", "rows_checked", F.explode(F.array(*[F.lit(cid) for cid in sev])).alias("check_id")
        )
        verdicts = (
            matrix.join(vcounts, ["bucket_id", "check_id"], "left")
            .withColumn("rows_violating", F.coalesce(F.col("rows_violating"), F.lit(0)).cast("long"))
            .withColumn(
                "verdict",
                F.when(F.col("rows_violating") == 0, F.lit("PASS"))
                .when(sev_map[F.col("check_id")] == SEV_WARN, F.lit("WARN"))
                .otherwise(F.lit("FAIL")),
            )
            .select("bucket_id", "check_id", "verdict", F.col("rows_checked").cast("long").alias("rows_checked"), "rows_violating")
        )
        return ValidationResult(violations=violations, verdicts=verdicts, bucket_counts=bucket_counts)

    # ------------------------------------------------------------------
    @staticmethod
    def stable_violations(violations: DataFrame) -> DataFrame:
        """Deterministic global order for fixture writes. Violation sets are
        small relative to input; a global sort here is fine (never applied to
        the fact table)."""
        return violations.orderBy("check_id", "conv_id", "turn_idx", "reason")


# ---------------------------------------------------------------------------


def default_transcript_suite(dim_role: DataFrame, dim_tool: DataFrame, text_cap: int = 16_384) -> ValidationSuite:
    """The full constraint suite for transcript tables — each check cites the
    reference behavior it re-expresses (SURVEY.md §2)."""
    return ValidationSuite(
        checks=[
            # required fields (structural header errors are abort-class)
            NotNull("turn_idx_not_null", SEV_ERROR, col="turn_idx"),
            NotNull("role_not_null", SEV_ERROR, col="role"),
            NotNull("ts_not_null", SEV_ERROR, col="ts"),
            NotNull("text_not_null", SEV_ERROR, col="text"),
            # tolerated anomalies -> warn (padding-skip class, id3v2.go:277-280)
            NonEmpty("text_nonempty", SEV_WARN, col="text"),
            RegexDisallow("text_no_nul", SEV_WARN, col="text", pattern="\x00"),
            # bounds (genre-index bounds / year parsing / alloc cap analogs)
            InRange("turn_idx_nonneg", SEV_ERROR, col="turn_idx", lo=0),
            InRange("ts_in_epoch_range", SEV_ERROR, col="ts", lo="1970-01-01 00:00:00", hi="2100-01-01 00:00:00"),
            LengthMax("text_max_len", SEV_ERROR, col="text", max_len=text_cap),
            # cross-field conditional (flag-consistency analog, id3v2.go:282-321)
            Conditional("tool_requires_assistant", SEV_ERROR, when_sql="tool is not null", then_sql="role = 'assistant'"),
            # vocabulary referential checks (validID3Frame analog)
            RefIntegrity("role_in_vocab", SEV_ERROR, col="role", dim=dim_role, allow_null=True),
            RefIntegrity("tool_in_vocab", SEV_ERROR, col="tool", dim=dim_tool, allow_null=True),
            # set-level: one conv_id shuffle AND one sort shared by all three
            # — every window's required ordering is a prefix of
            # (conv_id, turn_idx, ts, __sha1), so Spark plans a single Sort;
            # the extended orderBy also makes duplicate-turn_idx tie handling
            # deterministic (plain orderBy(turn_idx) leaves lag() ambiguous)
            Unique("unique_turn", SEV_ERROR, keys=("conv_id", "turn_idx")),
            ContiguousIndex("turn_contiguous", SEV_ERROR, order_by=("turn_idx", "ts", "__sha1")),
            Monotonic("ts_monotone", SEV_ERROR, col="ts", order_by=("turn_idx", "ts", "__sha1")),
        ]
    )


def union_violations(frames: list[DataFrame]) -> DataFrame:
    return reduce(lambda a, b: a.unionByName(b), frames)
