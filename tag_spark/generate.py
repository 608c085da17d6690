"""Deterministic, fully-distributed synthetic transcript generator.

Mirrors the reference's fixture design (tag_test.go:55-72: a "with_tags"
corpus of fully-valid records vs "without_tags" edge records; encoding
variants id3v1_test.go:16-29; adversarial fuzz inputs sum_test.go:8-40)
as seeded *populations* of conversations (FIXTURES.md §1).

Everything is computed from ``xxhash64(conv_seq, seed)`` style expressions —
no Python randomness, no driver-side loops — so the same (n_convs, seed)
produces byte-identical data at any parallelism and any scale factor, and
the generator itself scales to 10^12 turns on a cluster.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from tag_spark.schema import DEFAULT_ROLES, DEFAULT_TOOLS
from tag_spark.session import local_frame

# Deterministic plant classes keyed by pmod(hash(conv), 100) — fraction of
# conversations per population (FIXTURES.md §1 row populations).
PLANT_EMPTY_EDGE = list(range(0, 5))  # 5%: single-turn, empty text
PLANT_ENCODING = list(range(5, 10))  # 5%: CJK / emoji / NUL text (valid-ish)
PLANT_UNKNOWN_ROLE = 10
PLANT_UNKNOWN_TOOL = 11
PLANT_DUP_TURN = 12
PLANT_TURN_GAP = 13
PLANT_TS_REGRESS = 14
PLANT_NULL_TEXT = 15
PLANT_TOOL_ON_USER = 16
PLANT_TS_RANGE = 17
PLANT_NEG_IDX = 18
PLANT_OVERSIZE = 19

_WORDS = [
    "scan", "filter", "join", "window", "agg", "hash", "merge", "sort",
    "batch", "row", "column", "table", "query", "plan", "stage", "task",
    "shuffle", "bucket", "digest", "verdict", "turn", "tool", "role", "text",
]

_BASE_EPOCH = 1704067200  # 2024-01-01T00:00:00Z — fixed, never wall-clock


def _h(*cols: Column | str | int) -> Column:
    lit_cols = [F.lit(c) if not isinstance(c, Column) else c for c in cols]
    return F.xxhash64(*lit_cols)


def generate_transcripts(
    spark: SparkSession,
    n_convs: int = 1000,
    seed: int = 42,
    plants: bool = True,
) -> DataFrame:
    """Return a transcripts DataFrame with TRANSCRIPT_SCHEMA.

    ~6.5 turns/conversation on average, one "hot" conversation holding ~1%
    of all turns (skew-handling test, FIXTURES.md §1), and deterministic
    violation plants when ``plants=True``.
    """
    words = F.array(*[F.lit(w) for w in _WORDS])
    tools = F.array(*[F.lit(t) for t in DEFAULT_TOOLS])

    convs = spark.range(0, n_convs, 1).select(F.col("id").alias("conv_seq"))
    convs = convs.withColumn("plant", F.pmod(_h(F.col("conv_seq"), "plant", seed), F.lit(100)).cast("int"))

    hot_turns = max(20, int(n_convs * 6.5 * 0.01))
    n_turns = (
        F.when(F.col("conv_seq") == 0, F.lit(hot_turns))
        .when(F.col("plant").isin(PLANT_EMPTY_EDGE), F.lit(1))
        .otherwise((F.lit(2) + F.pmod(_h(F.col("conv_seq"), "size", seed), F.lit(9))).cast("int"))
    )
    convs = convs.withColumn("n_turns", n_turns)
    convs = convs.withColumn("conv_id", F.format_string("conv-%08d", F.col("conv_seq")))

    turns = convs.select(
        "conv_seq",
        "conv_id",
        "plant",
        F.explode(F.sequence(F.lit(0), F.col("n_turns") - 1)).alias("turn_idx"),
    )

    # roles: turn 0 = system, then alternate user/assistant (valid dialog shape)
    role = (
        F.when(F.col("turn_idx") == 0, F.lit("system"))
        .when(F.pmod(F.col("turn_idx"), F.lit(2)) == 1, F.lit("user"))
        .otherwise(F.lit("assistant"))
    )

    # deterministic pseudo-text: 5..24 hash-picked words per turn — built with
    # a higher-order transform, no Python per-row code.
    n_words = (F.lit(5) + F.pmod(_h(F.col("conv_seq"), F.col("turn_idx"), "nw", seed), F.lit(20))).cast("int")
    text = F.array_join(
        F.transform(
            F.sequence(F.lit(1), n_words),
            lambda i: F.element_at(
                words,
                (F.pmod(_h(F.col("conv_seq"), F.col("turn_idx"), i, seed), F.lit(len(_WORDS))) + 1).cast("int"),
            ),
        ),
        " ",
    )

    tool = F.when(
        (role == "assistant") & (F.pmod(_h(F.col("conv_seq"), F.col("turn_idx"), "t?", seed), F.lit(3)) == 0),
        F.element_at(tools, (F.pmod(_h(F.col("conv_seq"), F.col("turn_idx"), "t", seed), F.lit(len(DEFAULT_TOOLS))) + 1).cast("int")),
    ).otherwise(F.lit(None).cast("string"))

    # ts: conversation base + 60s per turn + <60s jitter => strictly monotone
    ts = F.timestamp_seconds(
        F.lit(_BASE_EPOCH)
        + F.col("conv_seq") * 3600
        + F.col("turn_idx").cast("long") * 60
        + F.pmod(_h(F.col("conv_seq"), F.col("turn_idx"), "j", seed), F.lit(50))
    )

    df = turns.select(
        "conv_seq",
        "conv_id",
        "plant",
        F.col("turn_idx").cast("int").alias("turn_idx"),
        role.alias("role"),
        text.alias("text"),
        tool.alias("tool"),
        ts.alias("ts"),
    )

    # population overlays -----------------------------------------------------
    is_enc = F.col("plant").isin(PLANT_ENCODING)
    enc_pick = F.pmod(_h(F.col("conv_seq"), F.col("turn_idx"), "e", seed), F.lit(3))
    df = df.withColumn(
        "text",
        F.when(F.col("plant").isin(PLANT_EMPTY_EDGE), F.lit(""))
        .when(is_enc & (enc_pick == 0), F.concat(F.col("text"), F.lit(" 你好世界 🚀𝔘𝔫𝔦")))
        .when(is_enc & (enc_pick == 1), F.concat(F.col("text"), F.lit("\x00trailing")))
        .otherwise(F.col("text")),
    )

    if plants:
        at1 = F.col("turn_idx") == 1
        df = (
            df.withColumn("role", F.when((F.col("plant") == PLANT_UNKNOWN_ROLE) & at1, F.lit("robot")).otherwise(F.col("role")))
            .withColumn("tool", F.when((F.col("plant") == PLANT_UNKNOWN_TOOL) & (F.col("turn_idx") == 2), F.lit("frobnicate")).otherwise(F.col("tool")))
            .withColumn("tool", F.when((F.col("plant") == PLANT_TOOL_ON_USER) & at1, F.lit("bash")).otherwise(F.col("tool")))
            .withColumn("text", F.when((F.col("plant") == PLANT_NULL_TEXT) & at1, F.lit(None).cast("string")).otherwise(F.col("text")))
            .withColumn("text", F.when((F.col("plant") == PLANT_OVERSIZE) & at1, F.rpad(F.col("text"), 20_000, "x")).otherwise(F.col("text")))
            .withColumn("turn_idx", F.when((F.col("plant") == PLANT_TURN_GAP) & (F.col("turn_idx") >= 2), F.col("turn_idx") + 3).otherwise(F.col("turn_idx")))
            .withColumn("turn_idx", F.when((F.col("plant") == PLANT_NEG_IDX) & at1, F.lit(-1)).otherwise(F.col("turn_idx")))
            .withColumn("ts", F.when((F.col("plant") == PLANT_TS_REGRESS) & (F.col("turn_idx") == 2), F.col("ts") - F.expr("INTERVAL 1 HOUR")).otherwise(F.col("ts")))
            .withColumn(
                "ts",
                F.when((F.col("plant") == PLANT_TS_RANGE) & at1, F.to_timestamp(F.lit("1969-07-20 00:00:00")))
                .when((F.col("plant") == PLANT_TS_RANGE) & (F.col("turn_idx") == 2), F.to_timestamp(F.lit("9999-01-01 00:00:00")))
                .otherwise(F.col("ts")),
            )
        )
        # duplicate-turn plant: re-emit turn 1 of affected conversations
        dups = df.filter((F.col("plant") == PLANT_DUP_TURN) & (F.col("turn_idx") == 1)).withColumn(
            "text", F.concat(F.col("text"), F.lit(" (dup)"))
        )
        df = df.unionByName(dups)

    return df.select("conv_id", "turn_idx", "role", "text", "tool", "ts")


def write_transcripts(spark: SparkSession, path: str, n_convs: int, seed: int = 42, plants: bool = True) -> None:
    """Materialize to parquet, bucket-partitioned the way a 10^12-turn Iceberg
    table would be (hash of conv_id), so downstream reads can prune."""
    df = generate_transcripts(spark, n_convs=n_convs, seed=seed, plants=plants)
    df.repartition(F.pmod(F.xxhash64("conv_id"), F.lit(32))).write.mode("overwrite").parquet(path)


def dim_role(spark: SparkSession) -> DataFrame:
    return local_frame(spark, [(r,) for r in DEFAULT_ROLES], "role string")


def dim_tool(spark: SparkSession) -> DataFrame:
    return local_frame(spark, [(t,) for t in DEFAULT_TOOLS], "tool string")
