"""The epoch plan's job layout and the sink's file schema: every job of a
streaming drain runs in the query's job group, a one-partition frame is
coalesced by a plan check that runs no job, and bucket files are read and
bucketed with the table's declared types, not the types a batch happened
to carry."""

from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType

from tests.test_streaming_restart import make_feed
from tiflow_spark.sinks.cow_table import CowTable


def _next_job_id(spark) -> int:
    return int(spark.sparkContext._jsc.sc().dagScheduler().nextJobId())


def test_drain_jobs_carry_the_query_job_group(spark, tmp_path):
    """A job launched from a thread the streaming query did not start has
    no job group, so cancelling the query would not reach it. Every job in
    a run_available_now drain's job-id range must carry the group."""
    feed = make_feed(spark, tmp_path, max_files_per_trigger=3)
    first = _next_job_id(spark)
    feed.run_available_now()
    end = _next_job_id(spark)
    assert len(feed.batch_log) >= 2 and end > first
    ungrouped = set(spark.sparkContext.statusTracker().getJobIdsForGroup(None))
    assert not ungrouped & set(range(first, end))


ROWS = (
    "op STRING, commit_ts LONG, start_ts LONG, source_partition INT, "
    "conv_id STRING, turn_idx INT, text STRING, n LONG"
)


def test_reads_return_the_declared_column_types(spark, tmp_path):
    """A batch whose ``n`` is LONG merges into a table that declares ``n``
    INT: the files are written as INT, and snapshot and the change feed
    return INT."""
    table = CowTable(
        spark, str(tmp_path / "t"), n_buckets=2, data_schema={"text": "string", "n": "int"}
    )
    table.merge(
        spark.createDataFrame(
            [("I", 10, 9, 0, "a", 0, "a0", 1), ("I", 10, 9, 0, "b", 0, "b0", 2)], ROWS
        ),
        batch_id=0,
    )
    table.merge(
        spark.createDataFrame([("U", 20, 19, 0, "a", 0, "a1", 3)], ROWS), batch_id=1
    )
    snap = table.snapshot()
    cdf = table.changes_between(0, 1)
    assert snap.schema["n"].dataType == IntegerType()
    assert cdf.schema["n"].dataType == IntegerType()
    assert {r["conv_id"]: r["n"] for r in snap.collect()} == {"a": 3, "b": 2}
    assert [(r["op"], r["conv_id"], r["n"]) for r in cdf.collect()] == [("I", "a", 3)]


def test_wide_key_type_rows_land_in_their_buckets(spark, tmp_path):
    """A batch whose ``turn_idx`` is LONG merges into a table that declares
    it INT. xxhash64 hashes the two widths differently, so the buckets the
    merge records must come from the cast keys it writes: every row is in
    the snapshot."""
    wide = ROWS.replace("turn_idx INT", "turn_idx LONG")
    table = CowTable(spark, str(tmp_path / "t"), n_buckets=8, data_schema={"text": "string"})
    batch = spark.createDataFrame(
        [("I", 10, 9, 0, "c", t, f"t{t}", 0) for t in range(24)], wide
    ).drop("n")
    moved = batch.filter(
        F.pmod(F.xxhash64("conv_id", "turn_idx"), F.lit(8))
        != F.pmod(F.xxhash64("conv_id", F.col("turn_idx").cast("int")), F.lit(8))
    )
    assert moved.count() > 0
    table.merge(batch, batch_id=0)
    snap = table.snapshot()
    assert snap.schema["turn_idx"].dataType == IntegerType()
    assert sorted(r["turn_idx"] for r in snap.collect()) == list(range(24))


def test_single_stage_reads_the_partition_count_from_the_plan(spark, tmp_path):
    """single_stage coalesces a one-partition frame, whatever its column
    names, and leaves a multi-partition frame and a frame whose plan holds
    an exchange as they are, without running a job to find out."""
    from tiflow_spark.operators.frontier import single_stage

    path = str(tmp_path / "one")
    spark.createDataFrame(
        [(1, "a"), (2, "b")], "AdaptiveSparkPlan INT, Exchange STRING"
    ).coalesce(1).write.parquet(path)
    one = spark.read.parquet(path)
    assert single_stage(one) is not one
    assert single_stage(one).rdd.getNumPartitions() == 1

    many = spark.range(0, 100, 1, 4)
    assert single_stage(many) is many

    shuffled = spark.range(0, 100, 1, 1).groupBy((F.col("id") % 3).alias("k")).count()
    cached = shuffled.persist()
    try:
        first = _next_job_id(spark)
        assert single_stage(shuffled) is shuffled
        projected = cached.select("k")
        assert single_stage(projected) is projected
        assert _next_job_id(spark) == first
    finally:
        cached.unpersist()
