"""Hybrid retrieval (BM25 + RRF) operator contract."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from modal_vector_db_spark.operators.hybrid import bm25_scores, rrf_fuse


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "spark merge window filter scan"),
        (1, "spark spark spark merge merge"),
        (2, "filter scan table row value"),
        (3, "window window window window window"),
        (4, "spark"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_bm25_only_matching_docs(docs):
    out = bm25_scores(docs, ["spark", "merge", "window"]).collect()
    ids = {r["doc_id"] for r in out}
    assert ids == {0, 1, 3, 4}  # doc 2 has no query term


def test_bm25_tf_monotone(spark):
    # Same doc length, same single term: more occurrences => higher score.
    df = spark.createDataFrame(
        [(0, "spark pad pad pad"), (1, "spark spark pad pad"), (2, "x y z w")],
        ["doc_id", "text"],
    )
    scores = {r["doc_id"]: r["score"] for r in bm25_scores(df, ["spark"]).collect()}
    assert scores[1] > scores[0] > 0


def test_bm25_idf_rare_term_wins(spark):
    # "rare" appears in 1 doc, "common" in all: the rare-term doc outranks
    # an equal-tf common-term doc.
    df = spark.createDataFrame(
        [(0, "rare common pad"), (1, "common pad pad"), (2, "common pad pad")],
        ["doc_id", "text"],
    )
    scores = {r["doc_id"]: r["score"] for r in bm25_scores(df, ["rare", "common"]).collect()}
    assert scores[0] > scores[1]


def test_rrf_fuses_both_channels(spark):
    lex = spark.createDataFrame([(1, 9.0), (2, 5.0), (3, 1.0)], ["doc_id", "score"])
    vec = spark.createDataFrame([(2, 0.1), (4, 0.2)], ["doc_id", "distance"])
    out = rrf_fuse(lex, vec, top_n=10, k=10).collect()
    got = {r["doc_id"]: r["score"] for r in out}
    # doc 2: lex rank 2 + vec rank 1
    assert got[2] == pytest.approx(1 / 62 + 1 / 61, abs=1e-6)
    # doc 1: lex only, rank 1
    assert got[1] == pytest.approx(1 / 61, abs=1e-6)
    # doc 4: vec only, rank 2
    assert got[4] == pytest.approx(1 / 62, abs=1e-6)
    # both-channel doc dominates single-channel docs
    assert out[0]["doc_id"] == 2


def test_rrf_k_bounds_output(spark):
    lex = spark.createDataFrame([(i, float(100 - i)) for i in range(20)], ["doc_id", "score"])
    vec = spark.createDataFrame([(i, float(i)) for i in range(20)], ["doc_id", "distance"])
    assert rrf_fuse(lex, vec, top_n=5, k=3).count() == 3


def test_rrf_plan_is_bounded(spark):
    # Each channel must reach the rank window through a LIMIT (TakeOrdered /
    # Limit), never ranking the full input.
    lex = spark.createDataFrame([(i, float(i)) for i in range(100)], ["doc_id", "score"])
    vec = spark.createDataFrame([(i, float(i)) for i in range(100)], ["doc_id", "distance"])
    plan = rrf_fuse(lex, vec)._jdf.queryExecution().executedPlan().toString()
    assert "Window" in plan
    assert "TakeOrderedAndProject" in plan or "Limit" in plan


def _bm25_py(corpus: dict[int, str], terms: list[str], k1=1.2, b=0.75) -> dict[int, float]:
    """Independent scalar-Python BM25 (same whitespace tokenization)."""
    import math

    dls = {d: float(len(t.split(" "))) for d, t in corpus.items()}
    n = float(len(corpus))
    avgdl = sum(dls.values()) / n
    tfs = {
        d: {w: t.split(" ").count(w) for w in set(terms)} for d, t in corpus.items()
    }
    dfs = {w: float(sum(1 for d in corpus if tfs[d][w] > 0)) for w in set(terms)}
    out = {}
    for d in corpus:
        s = 0.0
        for w in set(terms):
            tf = float(tfs[d][w])
            if tf == 0:
                continue
            idf = math.log((n - dfs[w] + 0.5) / (dfs[w] + 0.5) + 1)
            s += idf * tf * (k1 + 1) / (tf + k1 * ((1 - b) + b * dls[d] / avgdl))
        if s > 0:
            out[d] = round(s, 6)
    return out


@pytest.mark.slow
def test_bm25_matches_python_reference(spark):
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    vocab = ["spark", "merge", "window", "scan", "row", "agg", "pad"]

    @settings(
        max_examples=15,
        deadline=None,
        suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
    )
    @given(
        docs=st.lists(
            st.lists(st.sampled_from(vocab), min_size=1, max_size=12).map(" ".join),
            min_size=2,
            max_size=8,
        ),
        terms=st.lists(st.sampled_from(vocab[:4]), min_size=1, max_size=3, unique=True),
    )
    def run(docs, terms):
        corpus = dict(enumerate(docs))
        want = _bm25_py(corpus, terms)
        got = {
            r["doc_id"]: round(r["score"], 6)
            for r in bm25_scores(
                spark.createDataFrame(list(corpus.items()), ["doc_id", "text"]), terms
            ).collect()
        }
        assert set(got) == set(want)
        for d in want:
            assert got[d] == pytest.approx(want[d], abs=2e-6), (d, got[d], want[d])

    run()


@pytest.mark.slow
def test_hybrid_batch_filters_match_single(spark, tmp_path):
    """query_hybrid_batch(filters=) — the batch path applies the same DSL
    to BOTH channels for every query, per-query rows bit-identical to the
    filtered single path, on all three vector channels (scan / IVF /
    graph)."""
    import uuid as _uuid

    from modal_vector_db_spark.engine import VectorDB

    db = VectorDB(
        spark, f"hbf_{_uuid.uuid4().hex[:6]}", embedding_dim=32,
        warehouse=str(tmp_path / "whbf"), create_new_table=True,
    )
    db.insert(
        [{"text": f"doc {i} topic {i % 6}", "n": i, "grp": i % 3}
         for i in range(180)],
        embed_field="text",
    )
    db.create_index(num_clusters=4)
    db.create_graph_index(calibrate=False)
    flt = {"grp": 1}
    qs = ["doc 7 topic 1", "doc 100 topic 4"]
    for kw in (
        {},
        {"use_index": True, "nprobe": 4},
        {"use_graph_index": True, "nprobe": 4, "ef_search": 4096},
    ):
        batch = db.query_hybrid_batch(qs, k=5, filters=flt, **kw).collect()
        per_q = {}
        for r in batch:
            per_q.setdefault(r["q_id"], []).append(
                (round(r["distance"], 9), r["id"])
            )
        for qi, q in enumerate(qs):
            single = db.query_hybrid(q, k=5, filters=flt, **kw)
            assert sorted(per_q.get(qi, [])) == sorted(
                (round(r.distance, 9), r.id) for r in single
            ), (kw, qi)
        # every returned row satisfies the filter
        import json as _json
        assert all(_json.loads(r["metadata"])["grp"] == 1 for r in batch), kw
    import pytest as _pytest
    with _pytest.raises(ValueError, match="cannot apply filters"):
        db.query_hybrid_batch(qs, k=3, filters=flt, use_text_index=True)


def _bm25_explode_shape(docs, terms):
    """The scan path's earlier shape — explode every token, aggregate tf by
    (doc, term), df over that, and join ``dl`` back by id — kept here as the
    reference the one-projection :func:`bm25_scores` must reproduce."""
    from modal_vector_db_spark.operators.hybrid import _POSTING_COLS, _bm25_contrib

    split = F.split(F.col("text"), " ")
    toks = docs.select("doc_id", F.explode(split).alias("term")).filter(
        F.col("term").isin(list(terms))
    )
    dl = docs.select("doc_id", F.size(split).cast("double").alias("dl"))
    stats = dl.agg(F.count(F.lit(1)).cast("double").alias("n"), F.avg("dl").alias("avgdl"))
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).cast("double").alias("tf"))
    dfreq = tf.groupBy("term").agg(F.countDistinct("doc_id").cast("double").alias("df"))
    return (
        tf.join(F.broadcast(dfreq), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(F.round(F.sum(_bm25_contrib(*map(F.col, _POSTING_COLS))), 6).alias("score"))
    )


def test_bm25_one_projection_matches_explode_shape(spark):
    rows = [
        (0, "spark merge window filter scan"),
        (1, "spark spark spark merge merge"),
        (2, None),  # no tokens, but still one of the n documents
        (3, "window  window"),  # an empty token counts toward dl
        (4, ""),
        (5, "Spark MERGE spark"),  # case is the caller's business
        (6, "scan table row value"),
        (7, "merge"),
    ]
    docs = spark.createDataFrame(rows, "doc_id int, text string")
    for terms in (
        ["spark", "merge", "window"],
        ["spark", "spark", "merge"],  # a repeated term scores once
        ["spark", "absent"],  # a term in no document
        ["absent"],
        ["Spark", "MERGE"],
        [""],
    ):
        got = sorted(map(tuple, bm25_scores(docs, terms).collect()))
        want = sorted(map(tuple, _bm25_explode_shape(docs, terms).collect()))
        assert got == want, terms
    # the NULL text is in n: dropping it changes the idf, hence the scores
    with_null = dict(map(tuple, bm25_scores(docs, ["merge"]).collect()))
    without = dict(
        map(tuple, bm25_scores(docs.filter(F.col("text").isNotNull()), ["merge"]).collect())
    )
    assert with_null.keys() == without.keys() and with_null != without
    # no terms, no rows (and no error)
    assert bm25_scores(docs, []).collect() == []
    # each row is a document: a copy stored under the same id scores, and
    # counts toward n and df, exactly like the same text under a new id
    copy = spark.createDataFrame([(1, rows[1][1])], "doc_id int, text string")
    relabeled = spark.createDataFrame([(8, rows[1][1])], "doc_id int, text string")
    for terms in (["spark", "merge"], ["spark", "absent"]):
        got = sorted(map(tuple, bm25_scores(docs.union(copy), terms).collect()))
        want = sorted(
            (1 if i == 8 else i, s)
            for i, s in map(tuple, bm25_scores(docs.union(relabeled), terms).collect())
        )
        assert got == want and [i for i, _ in got].count(1) == 2, terms
