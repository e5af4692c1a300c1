"""Scale-posture tests: date-partitioned lake layout with verified partition
pruning, and salted aggregation for heavy-hitter keys."""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import functions as F

from mobsos_event_log_generator_spark.operators.skew import salted_group_count, salted_sum
from mobsos_event_log_generator_spark.sources.lake import (
    prune_to_date_range,
    read_events_partitioned,
    write_events_partitioned,
)
from mobsos_event_log_generator_spark.sources.parquet import load_table


def test_partitioned_write_and_pruning(spark, tmp_path):
    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    path = str(tmp_path / "lake")
    write_events_partitioned(ev, path, ts_col="ts", case_col="user_id")

    back = read_events_partitioned(spark, path)
    assert back.count() == ev.count()

    pruned = prune_to_date_range(back, datetime(2024, 1, 10), datetime(2024, 1, 12, 23, 59, 59))
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    scan = next(ln for ln in plan.splitlines() if "FileScan parquet" in ln)
    # The date predicate must appear as PartitionFilters (plan-time pruning),
    # not just a post-scan filter.
    assert "PartitionFilters" in scan
    assert "event_date" in scan.split("PartitionFilters")[1][:200]
    # Semantics preserved vs plain ts-range on the unpartitioned table
    want = ev.filter(
        (F.col("ts") >= F.lit(datetime(2024, 1, 10))) & (F.col("ts") <= F.lit(datetime(2024, 1, 12, 23, 59, 59)))
    ).count()
    assert pruned.count() == want


def test_partition_pruning_reduces_files_read(spark, tmp_path):
    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    path = str(tmp_path / "lake")
    write_events_partitioned(ev, path, ts_col="ts")
    back = read_events_partitioned(spark, path)
    one_day = prune_to_date_range(back, datetime(2024, 1, 5), datetime(2024, 1, 5, 23, 59, 59))
    # numFiles in the scan metadata: one day's partition only
    all_days = back.select("event_date").distinct().count()
    assert all_days > 5
    from datetime import date

    # partition values are read back typed (DATE)
    assert one_day.select("event_date").distinct().collect()[0][0] == date(2024, 1, 5)


def test_salted_count_matches_plain(spark):
    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    plain = {(r["user_id"],): r["cnt"] for r in ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("cnt")).collect()}
    salted = {(r["user_id"],): r["n"] for r in salted_group_count(ev, ["user_id"]).collect()}
    assert plain == salted


def test_salted_sum_matches_plain(spark):
    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    plain = {r["user_id"]: round(r["s"], 6) for r in ev.groupBy("user_id").agg(F.sum("value").alias("s")).collect()}
    salted = {r["user_id"]: round(r["total"], 6) for r in salted_sum(ev, ["user_id"], "value").collect()}
    assert plain == salted


def test_detect_heavy_hitters_finds_planted_hot_key(spark):
    from mobsos_event_log_generator_spark.operators.skew import detect_heavy_hitters

    # 40k rows: key 7 owns half of them, everything else is uniform over 10k keys
    hot = spark.range(20_000).select(F.lit(7).alias("k"))
    cold = spark.range(20_000).select((F.col("id") % 10_000 + 100).alias("k"))
    df = hot.unionByName(cold)
    found = detect_heavy_hitters(df, ["k"], threshold_fraction=0.01, sample_fraction=0.5, min_sample_rows=1_000)
    assert (7,) in found
    assert len(found) <= 3  # nothing cold crosses 1%

    # below the minimum sample size nothing is reported
    assert detect_heavy_hitters(df.limit(100), ["k"], sample_fraction=0.5) == []


def test_adaptive_group_count_matches_plain(spark):
    from mobsos_event_log_generator_spark.operators.skew import adaptive_group_count

    hot = spark.range(20_000).select(F.lit(7).alias("k"))
    cold = spark.range(20_000).select((F.col("id") % 113 + 100).alias("k"))
    df = hot.unionByName(cold)
    plain = {r["k"]: r["cnt"] for r in df.groupBy("k").agg(F.count(F.lit(1)).alias("cnt")).collect()}
    adaptive = {
        r["k"]: r["n"]
        for r in adaptive_group_count(
            df, ["k"], threshold_fraction=0.01, sample_fraction=0.5, min_sample_rows=1_000
        ).collect()
    }
    assert plain == adaptive


def test_schema_evolution_merge_read(spark, tmp_path):
    """Additive schema evolution across partitions: late-added columns
    surface as NULL on early partitions under mergeSchema."""
    from mobsos_event_log_generator_spark.sources.lake import read_events_partitioned

    base = str(tmp_path / "evolved")
    v1 = spark.createDataFrame(
        [(1, datetime(2024, 1, 1, 10), "u1")], "event_id long, ts timestamp, user_id string"
    )
    v1.withColumn("event_date", F.date_format("ts", "yyyy-MM-dd")).write.partitionBy(
        "event_date"
    ).parquet(base)
    v2 = spark.createDataFrame(
        [(2, datetime(2024, 1, 2, 10), "u2", "mobile")],
        "event_id long, ts timestamp, user_id string, channel string",
    )
    v2.withColumn("event_date", F.date_format("ts", "yyyy-MM-dd")).write.mode("append").partitionBy(
        "event_date"
    ).parquet(base)

    merged = read_events_partitioned(spark, base, merge_schema=True)
    assert "channel" in merged.columns
    rows = {r["event_id"]: r for r in merged.collect()}
    assert rows[1]["channel"] is None   # pre-evolution partition -> NULL
    assert rows[2]["channel"] == "mobile"
    # without merging, the picked footer may omit the late column entirely
    plain = read_events_partitioned(spark, base)
    assert plain.count() == 2


def test_upsert_partitions_replaces_only_touched_days(spark, tmp_path):
    from mobsos_event_log_generator_spark.sources.lake import upsert_partitions

    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    path = str(tmp_path / "lake")
    write_events_partitioned(ev, path, ts_col="ts")
    total = ev.count()

    # Re-land Jan 5 with values doubled (a correction slice).
    day = ev.filter(F.to_date("ts") == F.lit("2024-01-05"))
    n_day = day.count()
    assert n_day > 0
    upsert_partitions(day.withColumn("value", F.col("value") * 2), path, ts_col="ts")

    back = read_events_partitioned(spark, path)
    assert back.count() == total  # other partitions untouched, day replaced not appended
    doubled = back.filter(F.col("event_date") == "2024-01-05")
    orig_sum = day.agg(F.sum("value")).first()[0]
    new_sum = doubled.agg(F.sum("value")).first()[0]
    assert abs(new_sum - 2 * orig_sum) < 1e-6
    # Idempotent replay: landing the same slice again changes nothing.
    upsert_partitions(day.withColumn("value", F.col("value") * 2), path, ts_col="ts")
    assert read_events_partitioned(spark, path).count() == total


def test_compact_partition_preserves_rows_and_shrinks_files(spark, tmp_path):
    import os

    from mobsos_event_log_generator_spark.sources.lake import compact_partition

    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    # Force many small files in one partition.
    path = str(tmp_path / "lake")
    (
        ev.filter(F.to_date("ts") == F.lit("2024-01-05"))
        .withColumn("event_date", F.date_format("ts", "yyyy-MM-dd"))
        .repartition(8)
        .write.partitionBy("event_date")
        .parquet(path)
    )
    part_dir = os.path.join(path, "event_date=2024-01-05")
    files_before = [f for f in os.listdir(part_dir) if f.endswith(".parquet")]
    assert len(files_before) == 8
    want = spark.read.parquet(part_dir).count()

    n = compact_partition(spark, path, "2024-01-05", target_files=1)
    assert n == want
    files_after = [f for f in os.listdir(part_dir) if f.endswith(".parquet")]
    assert len(files_after) == 1
    assert spark.read.parquet(part_dir).count() == want


def test_compact_staging_dir_invisible_to_readers(spark, tmp_path):
    """A crashed compaction (staged write landed, swap never happened) must
    not change what table readers see: the dot-prefixed staging dir is
    ignored by Spark's file listing, so rows are never double-counted and a
    dead job leaves no phantom partition."""
    import os

    from mobsos_event_log_generator_spark.sources.lake import read_events_partitioned

    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    path = str(tmp_path / "lake")
    day = ev.filter(F.to_date("ts") == F.lit("2024-01-05")).withColumn(
        "event_date", F.date_format("ts", "yyyy-MM-dd")
    )
    day.write.partitionBy("event_date").parquet(path)
    total = read_events_partitioned(spark, path).count()

    # Simulate the crash window: staged copy exists alongside the partition.
    staged = os.path.join(path, ".compact_tmp_event_date=2024-01-05")
    day.drop("event_date").coalesce(1).write.parquet(staged)
    assert read_events_partitioned(spark, path).count() == total  # no double count
    parts = {
        str(r["event_date"])
        for r in read_events_partitioned(spark, path).select("event_date").distinct().collect()
    }
    assert parts == {"2024-01-05"}  # no phantom partition value


def test_zorder_layout_tightens_minmax_on_both_dims(spark, tmp_path):
    """Z-order layout vs time-sorted layout: per-file user_id ranges must be
    dramatically tighter under z-order (that range tightness IS the
    data-skipping win — a user_id predicate can prune most files), while
    remaining useful on ts."""
    import pyarrow.parquet as pq
    from mobsos_event_log_generator_spark.sources.lake import interleave_bits, zorder_layout

    n = 4096
    df = spark.range(n).selectExpr(
        "id AS event_id",
        "CAST(id % 64 AS BIGINT) AS user_id",          # users cycle: time-sort spreads them
        "CAST(id * 1000 AS BIGINT) AS ts_us",
    )
    span = 2**8 - 1
    z = df.selectExpr(
        "*",
        f"(user_id * {span}) div 63 AS zx",
        f"(ts_us * {span}) div {(n - 1) * 1000} AS zy",
    ).select("event_id", "user_id", "ts_us",
             interleave_bits(F.col("zx"), F.col("zy"), 8).alias("zvalue"))

    zdir, tdir = str(tmp_path / "zorder"), str(tmp_path / "bytime")
    zorder_layout(z, "zvalue", zdir, num_files=16)
    (z.repartitionByRange(16, F.col("ts_us")).sortWithinPartitions("ts_us")
       .write.mode("overwrite").parquet(tdir))

    import glob

    def ranges(d, name):
        out = []
        for f in sorted(glob.glob(d + "/*.parquet")):
            md = pq.read_metadata(f)
            los, his = [], []
            for i in range(md.num_row_groups):
                rg = md.row_group(i)
                for c in range(rg.num_columns):
                    col = rg.column(c)
                    if col.path_in_schema == name and col.statistics is not None:
                        los.append(col.statistics.min)
                        his.append(col.statistics.max)
            if los:
                out.append(max(his) - min(los))
        return out

    z_user = ranges(zdir, "user_id")
    t_user = ranges(tdir, "user_id")
    assert z_user and t_user
    # time-sorted files see nearly ALL users (range ~63); z-ordered files see
    # a contiguous slice of the user space
    assert sum(z_user) / len(z_user) < 0.5 * sum(t_user) / len(t_user)


def test_load_table_plan_memo_is_per_session_and_bounded(spark, sf_dir):
    from mobsos_event_log_generator_spark.sources.parquet import KNOWN_TABLES, _memo_table

    first = load_table(spark, sf_dir, "nation")
    assert load_table(spark, sf_dir, "nation") is first
    other = spark.newSession()
    theirs = load_table(other, sf_dir, "nation")
    assert theirs is not first and theirs.sparkSession is other
    maxsize = _memo_table.cache_info().maxsize
    assert maxsize is not None and maxsize > len(KNOWN_TABLES)
