"""Layout-operator tests: bucketed joins must be Exchange-free; salted
aggregation must equal the direct aggregate."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from modal_vector_db_spark.harness import load
from modal_vector_db_spark.operators.layout import salted_agg, write_bucketed
from modal_vector_db_spark.plans.inspect import executed_plan, shuffle_count
from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def bucketed_tables(spark):
    write_bucketed(load(spark, SF_DIR, "orders"), "orders_b", "o_orderkey")
    write_bucketed(load(spark, SF_DIR, "lineitem"), "lineitem_b", "l_orderkey")
    yield
    spark.sql("DROP TABLE IF EXISTS orders_b")
    spark.sql("DROP TABLE IF EXISTS lineitem_b")


def test_bucketed_join_no_shuffle(spark, bucketed_tables):
    """Co-bucketed fact-fact join: the join itself must not Exchange either
    side (the shuffle was pre-paid at write time)."""
    # Disable broadcast so the join can't cheat its way out of the check.
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = (
            spark.table("lineitem_b")
            .join(
                spark.table("orders_b"),
                F.col("l_orderkey") == F.col("o_orderkey"),
            )
            .select("l_orderkey", "o_totalprice", "l_quantity")
        )
        j.collect()
        plan = executed_plan(j)
        assert "SortMergeJoin" in plan
        assert shuffle_count(j) == 0, plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))


def test_salted_agg_equals_direct(spark):
    li = load(spark, SF_DIR, "lineitem")
    got = salted_agg(
        li,
        ["l_returnflag"],
        {
            "n": ("count", "l_orderkey"),
            "total_qty": ("sum", "l_quantity"),
            "min_price": ("min", "l_extendedprice"),
            "max_price": ("max", "l_extendedprice"),
        },
    ).toPandas().set_index("l_returnflag").sort_index()
    want = (
        li.groupBy("l_returnflag")
        .agg(
            F.count("l_orderkey").alias("n"),
            F.sum("l_quantity").alias("total_qty"),
            F.min("l_extendedprice").alias("min_price"),
            F.max("l_extendedprice").alias("max_price"),
        )
        .toPandas()
        .set_index("l_returnflag")
        .sort_index()
    )
    assert (got["n"] == want["n"]).all()
    assert abs(got["total_qty"] - want["total_qty"]).max() < 1e-6
    assert (got["min_price"] == want["min_price"]).all()
    assert (got["max_price"] == want["max_price"]).all()


def test_salted_agg_rejects_non_algebraic(spark):
    li = load(spark, SF_DIR, "lineitem")
    with pytest.raises(ValueError):
        salted_agg(li, ["l_returnflag"], {"m": ("median", "l_quantity")})


def test_write_training_shards_budget_and_completeness(spark, tmp_path):
    """Every doc lands in exactly one shard; within each shard, every doc's
    PRIOR token sum is under the budget (the streaming-pack invariant), so
    a shard only exceeds the budget by its final straddling doc."""
    from pyspark.sql import functions as F

    from modal_vector_db_spark.functions.text import token_count
    from modal_vector_db_spark.harness import load
    from modal_vector_db_spark.operators.layout import write_training_shards
    from tests.conftest import SF_DIR

    docs = load(spark, SF_DIR, "documents").select("doc_id", "text")
    out = str(tmp_path / "shards")
    write_training_shards(docs, out, tokens_per_shard=512, buckets=8)
    back = spark.read.parquet(out)
    assert back.count() == docs.count()
    assert back.select("doc_id").distinct().count() == docs.count()
    per_doc = back.select(
        "shard", "doc_id", token_count("text").alias("tokens")
    ).toPandas()
    for shard, grp in per_doc.groupby("shard"):
        grp = grp.sort_values("doc_id")
        prior = grp["tokens"].cumsum() - grp["tokens"]
        assert (prior < 512).all(), (shard, prior.max())
    # parallelism knob: shards spread across the 8 buckets
    assert per_doc["shard"].str.split("_").str[0].nunique() == 8


def test_time_partitioned_scan_prunes_directories(spark, tmp_path):
    """A one-day range over a day-partitioned events layout must (a) prune
    at the partition level — the FileScan reads a strict subset of the
    day directories — and (b) return exactly the rows the equivalent
    unpartitioned ts-filter returns."""
    import os

    from modal_vector_db_spark.operators.layout import (
        time_range_scan,
        write_time_partitioned,
    )

    ev = load(spark, SF_DIR, "events").select("event_id", "user_id", "ts", "value")
    path = str(tmp_path / "ev_by_day")
    write_time_partitioned(ev, path, ts_col="ts", granularity="day")
    n_days = len([d for d in os.listdir(path) if d.startswith("p_bucket=")])
    assert n_days > 3

    lo, hi = ev.agg(F.min("ts"), F.max("ts")).head()
    start = lo.strftime("%Y-%m-%d 00:00:00")
    end = (lo + (hi - lo) / 4).strftime("%Y-%m-%d 00:00:00")

    scan = time_range_scan(spark, path, "ts", start, end, "day")
    scan.collect()
    plan = executed_plan(scan).split("== Initial Plan ==")[0]
    assert "PartitionFilters: [" in plan and "p_bucket" in plan

    expected = ev.filter(
        (F.col("ts") >= F.lit(start).cast("timestamp"))
        & (F.col("ts") < F.lit(end).cast("timestamp"))
    )
    assert scan.count() == expected.count()
    assert scan.select(F.sum("event_id")).head()[0] == expected.select(F.sum("event_id")).head()[0]

    # pruning really happened: the scan touched fewer partition dirs than exist
    import re as _re

    m = _re.search(r"partition count: (\d+)", plan)
    if m:  # plan-format dependent; the PartitionFilters assert above is the contract
        assert int(m.group(1)) < n_days


def test_zorder_key_interleaves_bits(spark):
    from modal_vector_db_spark.operators.layout import zorder_key

    df = spark.createDataFrame([(2, 1), (0, 0), (3, 3)], ["x", "y"])
    out = df.select(zorder_key([F.col("x"), F.col("y")], bits=2).alias("z")).collect()
    # x=0b10,y=0b01 -> x1 y1 x0 y0 = 0b1001 = 9; (0,0)->0; (3,3)->0b1111=15
    assert [r["z"] for r in out] == [9, 0, 15]


def test_zorder_key_rejects_long_overflow(spark):
    from modal_vector_db_spark.operators.layout import zorder_key

    with pytest.raises(ValueError):
        zorder_key([F.col("x")] * 4, bits=16)


def test_zorder_prunes_both_dimensions(spark, tmp_path):
    """The scale claim, measured: after Z-ordering on (x, y), a point filter
    on EITHER column admits a minority of files by footer stats, while a
    linear sort only prunes its leading column."""
    from modal_vector_db_spark.operators.layout import file_stats_pruned, write_zordered

    n = 40_000
    df = (
        spark.range(n)
        .withColumn("x", (F.col("id") * 2654435761) % 10_000)  # decorrelated uniforms
        .withColumn("y", (F.col("id") * 40503) % 10_000)
    )
    linear = str(tmp_path / "linear")
    zordered = str(tmp_path / "zorder")
    df.repartitionByRange(16, "x").sortWithinPartitions("x").write.parquet(linear)
    write_zordered(df, zordered, ["x", "y"])

    probe = 5_000
    lin_y, lin_total = file_stats_pruned(linear, "y", probe)
    z_x, z_total_x = file_stats_pruned(zordered, "x", probe)
    z_y, z_total = file_stats_pruned(zordered, "y", probe)
    assert lin_total == 16 and z_total == 16
    # linear layout cannot prune the non-leading column
    assert lin_y >= 15
    # z-order prunes BOTH columns to a minority of files
    assert z_x <= z_total_x // 2, f"x admits {z_x}/{z_total_x}"
    assert z_y <= z_total // 2, f"y admits {z_y}/{z_total}"

    # and the clustered copy is lossless
    assert spark.read.parquet(zordered).count() == n
    got = spark.read.parquet(zordered).filter(F.col("y") == probe).count()
    want = df.filter(F.col("y") == probe).count()
    assert got == want
