"""End-to-end parity with the reference's demo/acceptance flow
(``vdb.py:73-104``): bulk insert with precomputed vectors → incremental
insert with ``embed_field`` → num_rows → plain KNN → filtered KNN — run on
the reference's own pokemon.json (898 nested-JSON records) with the
deterministic hashing embedder, cross-checked against DuckDB computing the
same distances over the same ids."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from tests.conftest import POKEMON, require_pokemon


@pytest.fixture(scope="module")
def records():
    require_pokemon()
    with open(POKEMON) as f:
        return json.load(f)


@pytest.fixture(scope="module")
def vdb(spark, tmp_path_factory, records):
    from modal_vector_db_spark.embedders import get_embedder
    from modal_vector_db_spark.engine import VectorDB

    wh = str(tmp_path_factory.mktemp("demo_wh"))
    db = VectorDB(
        spark,
        "pokemon",
        embedder_name="HashingEmbedder",
        embedding_dim=64,
        create_new_table=True,
        warehouse=wh,
    )
    emb = get_embedder("HashingEmbedder", dim=64)
    half = len(records) // 2
    # first half: precomputed vectors (vdb.py:83,87 — client-side batch embed)
    vecs = [emb.embed(r["description"]) for r in records[:half]]
    db.insert(records[:half], embeddings=vecs)
    # second half: engine-side embed of metadata[embed_field] (vdb.py:92)
    db.insert(records[half:], embed_field="description")
    return db


def test_num_rows_after_both_inserts(vdb, records):
    assert vdb.num_rows() == len(records)  # vdb.py:88,93


def test_double_insert_is_noop(vdb, records):
    vdb.insert(records[:50], embed_field="description")
    assert vdb.num_rows() == len(records)  # ON CONFLICT DO NOTHING (S5)


def _oracle_topk(vdb, records, query_text, k, pred=None):
    """Recompute top-k driver-side with numpy over the same embedder —
    an engine-independent oracle for the demo flow."""
    import numpy as np

    from modal_vector_db_spark.embedders import get_embedder
    from modal_vector_db_spark.schema import json_to_uuid

    emb = get_embedder("HashingEmbedder", dim=64)
    q = np.asarray(emb.embed(query_text), dtype=np.float64)
    scored = []
    for r in records:
        if pred and not pred(r):
            continue
        v = np.asarray(emb.embed(r["description"]), dtype=np.float64)
        cos = float(v @ q / (np.linalg.norm(v) * np.linalg.norm(q)))
        scored.append((json_to_uuid(r), 1.0 - cos))
    scored.sort(key=lambda t: (t[1], t[0]))
    return scored[:k]


def test_plain_knn_matches_oracle(vdb, records):
    got = vdb.query("psychic", k=3)  # vdb.py:96
    want = _oracle_topk(vdb, records, "psychic", 3)
    assert [r.id for r in got] == [i for i, _ in want]
    for r, (_, d) in zip(got, want):
        assert abs(r.distance - d) < 1e-6


def test_filtered_knn_matches_oracle(vdb, records):
    filters = {"base.Attack": (">", 50), "type": ("contains", "Flying")}  # vdb.py:102
    got = vdb.query("rainbow", k=3, filters=filters)
    want = _oracle_topk(
        vdb,
        records,
        "rainbow",
        3,
        # missing JSON paths are NULL → non-matching in the engine; mirror
        # that with defaulting gets (pokemon.json rows are heterogeneous)
        pred=lambda r: r.get("base", {}).get("Attack", 0) > 50
        and "Flying" in r.get("type", []),
    )
    assert [r.id for r in got] == [i for i, _ in want]
    for r in got:
        assert r.metadata["base"]["Attack"] > 50
        assert "Flying" in r.metadata["type"]
