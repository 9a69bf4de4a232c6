"""Round-13 optimization pins: internals changed for performance must keep
their contracts — (1) the streaming dedup arm's in-stream complete-mode
rollup equals the batch rollup over the survivors, (2) manifest_column_min
is the metadata twin of a real MIN() and refuses to answer when it cannot
be exact."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from modal_vector_db_spark.harness import load
from modal_vector_db_spark.streaming import events as SE
from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def replay_files(spark, tmp_path_factory):
    """Events fixture with planted replays (same event_id, ts + 1 min) —
    the streaming_windows dedup-arm feed shape."""
    path = str(tmp_path_factory.mktemp("replay_stream"))
    ev = load(spark, SF_DIR, "events")
    ev.union(
        ev.filter(F.col("event_id") % 7 == 0).withColumn(
            "ts", F.col("ts") + F.expr("INTERVAL 1 MINUTE")
        )
    ).repartition(4).write.mode("overwrite").parquet(path)
    return path


def _rollup(df):
    return df.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum(F.col("value").cast("decimal(18,4)")).cast("double"), 4).alias(
            "sum_value"
        ),
    )


def test_instream_dedup_rollup_equals_batch(spark, replay_files, tmp_path):
    """The complete-mode chained agg (dedup → groupBy inside ONE streaming
    query, the round-13 streaming_windows shape) must emit exactly the
    batch rollup over the deduped feed.  Replays differ only in ts, which
    the rollup never reads, so the aggregate is copy-independent."""
    stream = _rollup(
        SE.dedup_within_watermark(
            SE.read_event_stream(spark, replay_files).select(
                "event_id", "ts", "event_type", "value"
            )
        )
    )
    got = SE.run_to_memory(
        stream, "dedup_rollup_r13", str(tmp_path / "cp"), output_mode="complete"
    ).toPandas()

    batch = _rollup(
        spark.read.parquet(replay_files).dropDuplicates(["event_id"])
    ).toPandas()
    key = ["event_type"]
    got_s = got.sort_values(key).reset_index(drop=True)
    batch_s = batch.sort_values(key).reset_index(drop=True)
    assert len(got_s) == len(batch_s)
    assert got_s.equals(batch_s[got_s.columns])


def test_roundtrip_result_arm_matches_engine_query(spark):
    """engine_roundtrip's S7 arm converts the prepared k=25 DataFrame to
    Result rows INLINE (plan-cache optimization) instead of calling
    VectorDB.query's default collect path per invocation — this pins the
    two against each other so a regression in engine.query's Result
    materialization (metadata parsing, distance handling, ordering) still
    flips a test even though the flagship arm no longer exercises it."""
    import json

    from modal_vector_db_spark.engine import Result
    from modal_vector_db_spark.queries.engine_queries import (
        _RT_QUERY_TEXT,
        _roundtrip_db,
    )

    db = _roundtrip_db(spark, SF_DIR)
    # the real engine path: default (non-DataFrame) collect to Result rows
    engine_results = db.query(_RT_QUERY_TEXT, k=25)
    assert all(isinstance(r, Result) for r in engine_results)
    # the arm's inline conversion over the same prepared plan
    res_df = db.query(_RT_QUERY_TEXT, k=25, as_dataframe=True)
    inline_results = [
        Result(id=r["id"], metadata=json.loads(r["metadata"]), distance=r["distance"])
        for r in res_df.collect()
    ]
    assert inline_results == engine_results


def test_manifest_column_min_matches_scan(spark, tmp_path):
    from modal_vector_db_spark.sources import versioned as vcat

    wh = str(tmp_path / "wh")
    df = spark.range(10).select(
        F.col("id"),
        F.concat(F.lit("2024-01-0"), ((F.col("id") % 3) + 1).cast("string")).alias(
            "p_bucket"
        ),
    )
    vcat.append(
        df.repartition("p_bucket"), "t", wh, partition_by=["p_bucket"], stats_cols=[]
    )
    assert vcat.manifest_column_min("t", "p_bucket", wh) == "2024-01-01"
    # matches the real scan (Spark type-infers the partition dir as DATE;
    # the manifest records the path STRING — compare canonically)
    real = vcat.read_table(spark, "t", wh).agg(F.min("p_bucket")).head()[0]
    assert vcat.manifest_column_min("t", "p_bucket", wh) == str(real)


def test_manifest_column_min_refuses_when_not_exact(spark, tmp_path):
    from modal_vector_db_spark.sources import versioned as vcat

    wh = str(tmp_path / "wh2")
    df = spark.range(5).select(
        F.col("id"), F.lit("2024-02-02").alias("p_bucket")
    )
    # stats_cols=None: no stats recorded → must return None (fallback path)
    vcat.append(df, "nostats", wh, partition_by=["p_bucket"], stats_cols=None)
    assert vcat.manifest_column_min("nostats", "p_bucket", wh) is None
    # unknown column → None
    vcat.append(
        spark.range(5).select("id", F.lit("x").alias("p_bucket")),
        "known",
        wh,
        partition_by=["p_bucket"],
        stats_cols=[],
    )
    assert vcat.manifest_column_min("known", "nosuchcol", wh) is None
    # a version carrying tombstones → None (mask could hide the min file)
    ids = spark.range(2).select(F.col("id"))
    v, n = vcat.tombstone(ids, "known", wh, id_col="id")
    assert v is not None and n == 2
    assert vcat.manifest_column_min("known", "p_bucket", wh) is None


def test_static_chain_broadcasts_contribs(spark, monkeypatch):
    """The statically-planned small-graph chain must keep its broadcast
    shape for the contributions -> nodes join: the pre-hint plan degraded
    to SortMergeJoin(node, dst) with a double exchange + two sorts per
    iteration.  (The ew -> ranks join's strategy is left to the planner:
    its estimate profile differs per edge source, and the rank-side hint
    was measured slower on the fixture.)  Pinned via the env-gated
    chain-plan evidence hook."""
    import re

    from modal_vector_db_spark.operators import pagerank as PR

    monkeypatch.setenv("SPARK_GRAFT_PR_PLAN_DUMP", "1")
    # the static chain is the precondition: a low ambient
    # SPARK_GRAFT_PR_STATIC_MAX (read at import) must not flip it off
    monkeypatch.setattr(PR, "_STATIC_CHAIN_MAX_NODES", 200_000)
    edges = [(i, (i + 1) % 30) for i in range(30)] + [(i, i % 5) for i in range(30)]
    df = spark.createDataFrame(edges, "src long, dst long")
    out = PR.pagerank(df, iters=5, materialize=True)
    try:
        assert out.count() == 30
        plan = PR.LAST_CHAIN_PLAN
        assert plan is not None
        # every contribs join is a broadcast left-outer, never a sort-merge
        assert not re.search(r"SortMergeJoin \[node#\d+L?\], \[dst#\d+L?\]", plan)
        assert len(re.findall(
            r"BroadcastHashJoin \[node#\d+L?\], \[dst#\d+L?\], LeftOuter", plan
        )) == 5
    finally:
        from modal_vector_db_spark.plans.checkpoints import release_local_checkpoint

        release_local_checkpoint(out)
