import datetime as dt

from pyspark.sql import functions as F
from pyspark.sql import types as T

from nvimagecodec_spark.operators.lww import lww_dedupe, lww_dedupe_window

SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
        T.StructField("lsn", T.LongType()),
        T.StructField("commit_ts", T.TimestampType()),
        T.StructField("src_file", T.StringType()),
        T.StructField("src_offset", T.LongType()),
        T.StructField("payload", T.StringType()),
    ]
)

TS = dt.datetime(2025, 1, 1)


def _rows():
    return [
        ("a", 1, 10, TS, "f1", 1, "old"),
        ("a", 1, 20, TS, "f1", 2, "new"),          # wins on lsn
        ("a", 2, 5, TS, "f1", 3, "only"),
        ("b", 1, 7, TS, "f2", 1, "tie-lo"),
        ("b", 1, 7, dt.datetime(2025, 1, 2), "f2", 2, "tie-hi"),  # wins on commit_ts
        ("c", 1, 3, TS, None, None, "null-ord"),   # null tiebreaks must not poison
        ("c", 1, 3, TS, "f3", 1, "has-ord"),       # wins: non-null > null floor
    ]


def test_lww_winner(spark):
    df = spark.createDataFrame(_rows(), SCHEMA)
    got = {(r["conv_id"], r["turn_idx"]): r["payload"] for r in lww_dedupe(df).collect()}
    assert got == {
        ("a", 1): "new",
        ("a", 2): "only",
        ("b", 1): "tie-hi",
        ("c", 1): "has-ord",
    }


def _skewed(spark, n=50_000, hot_frac=0.4):
    """n events, hot_frac of them on ONE (conv, turn) key."""
    return spark.range(n).select(
        F.when(F.col("id") < int(n * hot_frac), F.lit("conv-hot"))
        .otherwise(F.concat(F.lit("conv-"), (F.col("id") % 5000).cast("string")))
        .alias("conv_id"),
        F.lit(0).cast("int").alias("turn_idx"),
        F.col("id").alias("lsn"),
        F.lit(TS).alias("commit_ts"),
        F.lit("f").alias("src_file"),
        F.col("id").alias("src_offset"),
        F.sha2(F.col("id").cast("string"), 256).alias("payload"),
    )


def test_agg_and_window_agree(spark):
    """The combinable agg and the window formulation pick the same winner
    per key, on the tie-break fixture and on a 40%-hot-key epoch."""
    for df in (spark.createDataFrame(_rows(), SCHEMA), _skewed(spark)):
        a = sorted(map(tuple, lww_dedupe(df).select(*SCHEMA.names).collect()))
        b = sorted(map(tuple, lww_dedupe_window(df).select(*SCHEMA.names).collect()))
        assert a == b


def test_partial_aggregation_in_plan(spark):
    """The scale property: LWW must show a map-side partial aggregate
    before the exchange (a window formulation would not)."""
    df = spark.createDataFrame(_rows(), SCHEMA)
    plan = lww_dedupe(df)._jdf.queryExecution().executedPlan().toString()
    assert "partial_max" in plan, plan
