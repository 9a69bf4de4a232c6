"""Invariant tests for the training-data pipeline ops (sampling/mixing,
sequence packing) beyond the DuckDB oracle parity the driver checks."""

from __future__ import annotations

from pyspark.sql import functions as F

from modal_vector_db_spark.harness import load
from modal_vector_db_spark.queries.pipeline_queries import (
    data_sampling_mix,
    hash_pct,
    text_pack_sequences,
)
from tests.conftest import SF_DIR


import pytest

# Long-tail suite (round-13): deselected by default via pytest.ini (-m "not slow");
# run everything with  python -m pytest tests/ -m "" -q
pytestmark = pytest.mark.slow


def test_hash_pct_deterministic_and_uniformish(spark):
    """Same key ⇒ same bucket on every evaluation; buckets roughly uniform
    (all percentiles populated over 500 keys)."""
    docs = load(spark, SF_DIR, "documents").select("doc_id")
    a = docs.select(hash_pct("doc_id").alias("p")).collect()
    b = docs.select(hash_pct("doc_id").alias("p")).collect()
    assert [r["p"] for r in a] == [r["p"] for r in b]
    vals = {r["p"] for r in a}
    assert all(0 <= v < 100 for v in vals)
    assert len(vals) > 60  # 500 draws over 100 buckets: near-full coverage


def test_sampling_rates_within_tolerance(spark):
    """Each stratum's realized rate tracks its configured rate (±10pp at
    fixture size — the estimator is exact-in-expectation, not rand())."""
    emb = load(spark, SF_DIR, "embeddings")
    totals = {r["label"]: r["n"] for r in emb.groupBy("label").count().withColumnRenamed("count", "n").collect()}
    mix = data_sampling_mix(spark, SF_DIR)
    got = {int(r["key"]): r["n"] for r in mix.filter(F.col("kind") == "stratified").collect()}
    for label, n_total in totals.items():
        want = (10 + label * 5) / 100
        realized = got.get(label, 0) / n_total
        assert abs(realized - want) < 0.10, (label, realized, want)


def test_pack_sequences_budget_invariant(spark):
    """Every pack's starting offset is a multiple of the budget, pack ids
    are contiguous per bucket, and no document is lost or duplicated."""
    docs = load(spark, SF_DIR, "documents")
    packs = text_pack_sequences(spark, SF_DIR).collect()
    assert sum(r["n_docs"] for r in packs) == docs.count()
    by_bucket: dict[int, list] = {}
    for r in packs:
        by_bucket.setdefault(r["bucket"], []).append(r["pack_id"])
    for bucket, ids in by_bucket.items():
        ids.sort()
        assert ids == list(range(len(ids))), (bucket, ids)  # contiguous from 0
    # all docs appear in exactly one (bucket, pack): counts already equal, and
    # buckets partition doc_id space by construction (doc_id % 32)
    assert set(by_bucket) == set(range(32))


def test_end_to_end_corpus_pipeline(spark, tmp_path):
    """The full corpus-construction chain composes: plant dups → near-dup
    dedup (keep-one) → benchmark decontamination → deterministic sample →
    token-budget shard export.  Each stage shrinks (or keeps) the corpus;
    the planted structure is removed exactly; the export is complete."""
    from pyspark.sql import functions as F

    from modal_vector_db_spark.harness import load
    from modal_vector_db_spark.operators.dedup import (
        decontaminate,
        deduplicate,
        minhash_lsh_pairs,
    )
    from modal_vector_db_spark.operators.layout import write_training_shards
    from modal_vector_db_spark.queries.pipeline_queries import hash_pct
    from tests.conftest import SF_DIR

    docs = load(spark, SF_DIR, "documents").select("doc_id", "text")
    n0 = docs.count()

    # stage 0: plant exact copies (the crawl's duplicates)
    plant = docs.filter(F.col("doc_id") % 10 == 0)
    corpus = docs.union(plant.select((F.col("doc_id") + 100000).alias("doc_id"), "text"))

    # stage 1: near-dup dedup, keep cluster minima
    pairs = minhash_lsh_pairs(corpus, "doc_id", "text", threshold=0.9)
    deduped = deduplicate(corpus, pairs, "doc_id")
    n1 = deduped.count()
    assert deduped.filter(F.col("doc_id") >= 100000).count() == 0  # copies die
    assert n1 <= n0

    # stage 2: decontaminate against an "eval set" (prefixes of every 31st doc)
    bench = docs.filter(F.col("doc_id") % 31 == 0).select(
        F.substring("text", 1, 120).alias("text")
    )
    clean = decontaminate(deduped, bench, "doc_id", "text")
    n2 = clean.count()
    assert n2 < n1  # the leaked source docs are dropped

    # stage 3: deterministic 70% sample (reproducible: same rows both times)
    sampled = clean.filter(hash_pct("doc_id") < 70)
    ids_a = sorted(r["doc_id"] for r in sampled.select("doc_id").collect())
    ids_b = sorted(r["doc_id"] for r in sampled.select("doc_id").collect())
    assert ids_a == ids_b and 0 < len(ids_a) < n2

    # stage 4: shard export — complete and budget-bounded
    out = str(tmp_path / "shards")
    write_training_shards(sampled, out, tokens_per_shard=1024, buckets=4)
    back = spark.read.parquet(out)
    assert back.count() == len(ids_a)
    assert sorted(r["doc_id"] for r in back.select("doc_id").collect()) == ids_a


def test_pipeline_demo_end_to_end(spark, tmp_path):
    """The composed training-data pipeline (tools/pipeline_demo.py):
    dedup -> decontaminate -> quality gate -> shard export -> versioned
    snapshot.  Counts must be monotone non-increasing through the filters,
    eval-slice docs must be gone, shards must exist and hold exactly the
    gated rows, and the snapshot must answer counts from its manifest."""
    import os
    import sys

    sys.path.insert(
        0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")
    )
    from pipeline_demo import run_pipeline

    from modal_vector_db_spark.sources import versioned as vcat
    from tests.conftest import SF_DIR

    out = str(tmp_path / "pipe")
    stats = run_pipeline(spark, SF_DIR, out)
    # crawl front-end: every planted page walked + extracted, URLs are
    # the dedup key (all distinct here), and the hub pages hold >10x the
    # uniform share of rank mass (10 hubs out of 300 pages)
    assert stats["crawl_pages"] == stats["crawl_urls"] == 300
    assert stats["crawl_rank_top10_mass"] > 10 * (10 / 300) * 0.85
    assert (
        stats["input_docs"]
        > stats["after_admission"]  # the simulated prior corpus (every
        # 5th doc) must actually be anti-joined out — strict
        >= stats["after_dedup"]
        >= stats["after_decontamination"]
        >= stats["after_quality_gate"]
        == stats["snapshot_rows"]
        > 0
    )
    # image-dedup leg: planted gradients repeat every 100 ids, so with
    # >100 sampled images near-dups MUST exist and unique <= 100-ish
    assert stats["image_near_dups_dropped"] > 0
    assert 0 < stats["unique_images"] <= stats["thumbnails"]
    assert stats["unique_images"] + stats["image_near_dups_dropped"] == min(
        500, stats["after_quality_gate"]
    )
    # video leg: 100 docs x 3-frame AVIs sampled 1-in-2 -> 2 frames/doc
    assert stats["video_frames_sampled"] == 2 * min(
        100, stats["after_quality_gate"]
    )
    assert stats["n_shards"] >= 1
    # the media leg must actually produce thumbnails: every planted
    # gradient has pixel range 102 >= the gate's 8, so the count equals
    # the (capped) gated-doc count — a silently-dead leg cannot pass
    assert stats["thumbnails"] == min(500, stats["after_quality_gate"])
    # shards hold exactly the snapshot rows
    shard_rows = spark.read.parquet(os.path.join(out, "shards")).count()
    assert shard_rows == stats["after_quality_gate"]
    # decontamination removed eval-slice docs (doc_id % 97 == 0, the
    # planted benchmark) — strictly fewer survive than entered (docs with
    # < min_hits distinct shingles legitimately pass, so "fewer", not
    # "zero", is the fixture-independent property; on the current fixture
    # it IS zero)
    import pyspark.sql.functions as F

    final = vcat.read_table(spark, "corpus_final", out)
    n_eval_in = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet")).filter(
        F.col("doc_id") % 97 == 0
    ).count()
    n_eval_out = final.filter((final["doc_id"] % 97) == 0).count()
    assert n_eval_in > 0 and n_eval_out < n_eval_in
    assert vcat.manifest_row_count("corpus_final", out) == stats["snapshot_rows"]


def test_dsir_weights_rank_target_like_docs(spark):
    """DSIR importance weights (Xie et al. 2023): docs sharing the TARGET
    set's n-gram distribution must outrank raw-pool-like docs, repeated
    n-grams count as occurrences (multinomial features), and tokenless
    docs produce no weight row."""
    from pyspark.sql import functions as F

    from modal_vector_db_spark.operators.selection import dsir_log_weights

    rows = (
        [(i, "alpha beta gamma delta", 1) for i in range(20)]      # target
        + [(100 + i, "foo bar baz qux", 0) for i in range(20)]     # raw
        + [(200, "alpha beta gamma delta", 0)]                     # target-LIKE raw doc
        + [(201, "foo bar baz qux", 0)]                            # raw-like
        + [(202, "", 0)]                                           # tokenless
    )
    df = spark.createDataFrame(rows, "doc_id long, text string, is_t int")
    w = dsir_log_weights(
        df, "doc_id", "text", F.col("is_t") == 1, buckets=256
    )
    got = {r["doc_id"]: r["log_weight"] for r in w.collect()}
    assert 202 not in got  # nothing to weigh
    assert got[200] > 0 > got[201]  # target-like above, raw-like below
    # occurrence semantics: doubling the target phrase doubles the weight
    df2 = spark.createDataFrame(
        rows + [(300, "alpha beta gamma delta alpha beta gamma delta", 0)],
        "doc_id long, text string, is_t int",
    )
    got2 = {
        r["doc_id"]: r["log_weight"]
        for r in dsir_log_weights(
            df2, "doc_id", "text", F.col("is_t") == 1, buckets=256
        ).collect()
    }
    # doc 300 has 2x doc 200's unigrams + the bridging bigram; strictly more
    assert got2[300] > 1.8 * got2[200]


def test_dsir_sql_twin_is_bit_identical(spark):
    """The DuckDB twin reproduces the hashed feature space, smoothing, and
    per-doc sums to 6dp on real fixture text."""
    import duckdb
    from pyspark.sql import functions as F

    from modal_vector_db_spark.operators.selection import (
        dsir_log_weights,
        dsir_log_weights_sql,
    )
    from tests.conftest import SF_DIR

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "text", "lang"
    )
    sp = {
        r["doc_id"]: round(r["log_weight"], 6)
        for r in dsir_log_weights(
            docs, "doc_id", "text", F.col("lang") == "en", buckets=128
        ).collect()
    }
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{SF_DIR}/documents.parquet')"
    )
    du = dict(
        con.execute(
            "SELECT doc_id, round(log_weight, 6) FROM ("
            + dsir_log_weights_sql(
                "documents", "doc_id", "text", "lang = 'en'", buckets=128
            )
            + ")"
        ).fetchall()
    )
    assert len(sp) == len(du) > 0
    assert all(sp[k] == du[k] for k in sp)
