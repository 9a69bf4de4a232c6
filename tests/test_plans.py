"""Physical-plan quality gates — the scale contract (SURVEY §4.2).

A query that silently de-optimizes (pushdown blocked, fact-table shuffle
reintroduced, top-k becoming a global sort) would still pass correctness;
these tests pin the plan shape that survives 100 TB.
"""

from __future__ import annotations

import pytest

import modal_vector_db_spark.queries.relational_queries as R
import modal_vector_db_spark.queries.relational_queries2 as R2
import modal_vector_db_spark.queries.vector_queries as V
from modal_vector_db_spark.plans import (
    broadcast_hint_sources,
    broadcast_join_count,
    has_partial_window_group_limit,
    has_pushed_data_filters,
    nested_loop_join_count,
    scan_columns,
    sort_merge_join_count,
    uses_take_ordered,
    window_group_limit_count,
)
from tests.conftest import SF_DIR


def test_knn_is_takeordered_not_global_sort(spark):
    """ORDER BY distance LIMIT k must plan as a bounded-heap top-k."""
    df = V.knn_exact(spark, SF_DIR)
    assert uses_take_ordered(df)


def test_knn_scan_prunes_columns(spark):
    """KNN must read only (vec_id, embedding) — not label."""
    df = V.knn_exact(spark, SF_DIR)
    cols = scan_columns(df)
    assert cols, "no parquet scan found"
    assert all(set(c) <= {"vec_id", "embedding"} for c in cols), cols


def test_filtered_knn_pushes_predicate(spark):
    df = V.knn_filtered(spark, SF_DIR)
    assert has_pushed_data_filters(df)


def test_q6_pushdown_and_pruning(spark):
    df = R.q6_revenue_forecast(spark, SF_DIR)
    assert has_pushed_data_filters(df)
    cols = scan_columns(df)
    assert all(
        set(c) <= {"l_quantity", "l_extendedprice", "l_discount", "l_shipdate"} for c in cols
    ), cols


def test_q3_broadcasts_dims_no_fact_shuffle_join(spark):
    """The lineitem fact must join via broadcast, not sort-merge."""
    df = R.q3_shipping_priority(spark, SF_DIR)
    assert broadcast_join_count(df) >= 2
    assert sort_merge_join_count(df) == 0


def test_q5_star_join_all_broadcast(spark):
    df = R.q5_local_supplier_volume(spark, SF_DIR)
    assert broadcast_join_count(df) >= 4
    assert sort_merge_join_count(df) == 0


#: Explicit-broadcast-hint policy: hints allowed ONLY on fixed-cardinality
#: dims (nation/region) or highly-filtered part; anything derived from
#: orders/customer/lineitem/supplier (or an all-keys aggregate) must leave
#: the strategy to Catalyst/AQE, which still broadcasts at small SF (the
#: BroadcastHashJoin assertions above) but degrades gracefully at 100×.
_HINT_POLICY = [
    (R.q3_shipping_priority, 0),
    (R.q5_local_supplier_volume, 2),  # nation, region
    (R2.q7_volume_shipping, 2),  # nation ×2 roles
    (R2.q10_returned_items, 1),  # nation
    (R2.q12_priority_by_status, 0),
    (R2.q14_promo_revenue, 0),
    (R2.q17_small_quantity_revenue, 1),  # brand-filtered part
    (R2.q18_large_volume_customers, 0),
    # q14/q17/q19 are bare functions since the q_scalar_aggregates fold
    # (round 9) — no registry wrapper, hence no __wrapped__
    (R2.q19_disjunctive_predicates, 0),  # part unfiltered — no hint
    (R.join_broadcast_part, 1),  # size-filtered part (~4%)
    (R2.subquery_coverage.__wrapped__, 2),  # nation ×2 arms; scalar aggs unhinted
    (R.join_coverage.__wrapped__, 5),  # bcast-arm part + q8 nation ×2 roles + region + q9 nation
]

_HINTABLE = {"nation", "region", "part"}


@pytest.mark.parametrize("fn,max_hints", _HINT_POLICY, ids=lambda p: getattr(p, "__name__", p))
def test_broadcast_hints_only_on_dims(spark, fn, max_hints):
    df = fn(spark, SF_DIR)
    hints = broadcast_hint_sources(df)
    assert len(hints) <= max_hints, f"{fn.__name__}: unexpected broadcast hints {hints}"
    assert all(h in _HINTABLE for h in hints), f"{fn.__name__}: fact-side hint {hints}"


def test_fact_joins_still_broadcast_via_size_stats(spark):
    """Dropping the hints must not regress small-SF plans to sort-merge:
    Catalyst's size estimates still pick broadcast for every join here."""
    for fn in (R2.q10_returned_items, R2.q18_large_volume_customers):
        df = fn(spark, SF_DIR)
        assert sort_merge_join_count(df) == 0, fn.__name__


def test_topk_multi_uses_window_group_limit(spark):
    """Grouped top-k must plan with WindowGroupLimit (Spark 3.5+): each
    input partition keeps only its local top-k per query BEFORE the
    shuffle — partitions×Q×k rows move, not corpus×Q.  The Partial-mode
    instance is the one that bounds shuffle volume, so it is asserted
    explicitly (a rank() rewrite or a non-limit filter shape would drop
    it silently)."""
    df = V.ann_topk_multi(spark, SF_DIR)
    assert window_group_limit_count(df) >= 1
    assert has_partial_window_group_limit(df)


def test_range_join_is_hash_join_not_nested_loop(spark):
    """The binned range join must plan as an equi hash join on the bin key;
    a raw theta join would degenerate to BroadcastNestedLoopJoin —
    O(|events|·|windows|) at scale."""
    import modal_vector_db_spark.queries.events_queries as EV

    df = EV.events_range_join.__wrapped__(spark, SF_DIR)
    assert nested_loop_join_count(df) == 0


def test_scale_out_preserves_pushdown_and_pruning(spark):
    """The small-file repartition must not block scan-level optimization."""
    from pyspark.sql import functions as F

    from modal_vector_db_spark.harness import load, scale_out

    df = scale_out(load(spark, SF_DIR, "embeddings")).filter(F.col("label") == 3).select("vec_id")
    assert has_pushed_data_filters(df)
    cols = scan_columns(df)
    assert cols and all(set(c) <= {"vec_id", "label"} for c in cols), cols


def test_quota_arm_uses_window_group_limit(spark):
    """The per-domain quality quota must plan as a grouped top-k
    (WindowGroupLimit, partial below the exchange) — not a full per-source
    sort of the corpus."""
    import modal_vector_db_spark.queries.pipeline_queries as P

    df = P.data_sampling_mix.__wrapped__(spark, SF_DIR)
    assert window_group_limit_count(df) >= 1


def test_touched_file_discovery_scan_is_column_pruned(spark, tmp_path):
    """The file-pruned mutation path's match scan must read ONLY the
    predicate's column (metadata), never the embedding vectors — at 100 TB
    the embedding column IS most of the table, and reading it during a
    takedown's touched-file discovery would turn the pruned mutation back
    into a full-table read."""
    from pyspark.sql import functions as F

    from modal_vector_db_spark.engine import VectorDB
    from modal_vector_db_spark.operators.filters import compile_filters
    from modal_vector_db_spark.sources import catalog

    wh = str(tmp_path / "wh_plan")
    db = VectorDB(spark, "planprobe", embedding_dim=64, warehouse=wh, create_new_table=True)
    db.insert([{"n": i, "grp": "a" if i % 2 else "b"} for i in range(50)], embed_field="n")
    files, _ = catalog._leaf_files("planprobe", wh)
    pred = ~F.coalesce(compile_filters({"grp": "a"}), F.lit(False))
    df = (
        catalog._read_rels(spark, "planprobe", wh, files)
        .filter(pred)
        .select(F.input_file_name().alias("_f"))
        .distinct()
    )
    cols = scan_columns(df)
    assert cols, "no parquet scan found"
    assert all(set(c) <= {"metadata"} for c in cols), cols


def test_batched_ivf_prunes_partitions_and_bounds_topk(spark, tmp_path):
    """query_batch(use_index=True) must plan as: cluster_id partition
    pruning on the indexed base scan (PartitionFilters carries the isin) + a
    Partial-mode WindowGroupLimit bounding the per-query top-k before the
    exchange — the same two properties that make the single-query index
    path scale, in one batched job."""
    from modal_vector_db_spark.engine import VectorDB
    from modal_vector_db_spark.plans.inspect import executed_plan

    wh = str(tmp_path / "wh_bivf")
    db = VectorDB(spark, "bivf", embedding_dim=16, warehouse=wh, create_new_table=True)
    db.insert([{"n": i} for i in range(60)], embed_field="n")
    db.create_index(num_clusters=6)
    df = db.query_batch(["3", "41"], k=4, use_index=True, nprobe=2)
    assert has_partial_window_group_limit(df)
    plan = executed_plan(df)
    import re

    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "cluster_id" in m.group(1), "no cluster_id partition pruning"


def test_facade_single_query_plans_take_ordered_batch_plans_window_limit(spark, tmp_path):
    """The facade's single-query calls plan their top-k as a bounded-heap
    TakeOrderedAndProject and its batch calls as a WindowGroupLimit, and the
    split is deliberate: routing Q=1 through the batch operators was slower
    every time (5k rows, dim 64, default IVF, 4 cores, 20 alternating
    reps, medians) — ``query_hybrid_batch([t])`` 1838 ms vs
    ``query_hybrid(t)`` 1176 ms, ``query_batch([v])`` 690 ms vs
    ``query(v)`` 389 ms, ``query_batch([v], use_index=True)`` 640 ms vs
    ``query(v, use_index=True)`` 253 ms."""
    from modal_vector_db_spark.engine import VectorDB

    db = VectorDB(spark, "shapes", embedding_dim=16, warehouse=str(tmp_path / "wh_shapes"),
                  create_new_table=True)
    db.insert([{"text": f"doc {i} topic {i % 5}", "n": i} for i in range(60)], embed_field="text")
    db.create_index(num_clusters=4)
    single = {
        "query": db.query("doc 3", k=4, as_dataframe=True),
        "query(use_index)": db.query("doc 3", k=4, use_index=True, nprobe=2, as_dataframe=True),
        "query_hybrid": db.query_hybrid("doc 3", k=4, as_dataframe=True),
    }
    for name, df in single.items():
        assert uses_take_ordered(df), name
        assert window_group_limit_count(df) == 0, name
    batch = {
        "query_batch": db.query_batch(["doc 3", "doc 41"], k=4),
        "query_hybrid_batch": db.query_hybrid_batch(["doc 3", "doc 41"], k=4),
    }
    for name, df in batch.items():
        assert window_group_limit_count(df) >= 1, name
