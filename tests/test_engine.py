"""End-to-end VectorDB facade tests — the reference demo flow
(``vdb.py:73-104``) on hermetic fixtures with the deterministic
HashingEmbedder."""

from __future__ import annotations

import json

import numpy as np
import pytest

from modal_vector_db_spark.embedders import HashingEmbedder, get_embedder
from modal_vector_db_spark.engine import Result, VectorDB
from modal_vector_db_spark.schema import json_to_uuid


@pytest.fixture()
def vdb(spark, tmp_path):
    return VectorDB(
        spark,
        "testdb",
        embedder_name="HashingEmbedder",
        embedding_dim=16,
        create_new_table=True,
        warehouse=str(tmp_path),
    )


METAS = [
    {"name": "bulbasaur", "type": ["Grass", "Poison"], "base": {"Attack": 49}},
    {"name": "charizard", "type": ["Fire", "Flying"], "base": {"Attack": 84}},
    {"name": "pidgey", "type": ["Normal", "Flying"], "base": {"Attack": 45}},
]


def test_insert_and_num_rows(vdb):
    vdb.insert(METAS)
    assert vdb.num_rows() == 3


def test_insert_idempotent(vdb):
    """Double insert of same content ⇒ same row count (S5 semantics,
    duckvdb.py:57-61: PK = content hash, conflicts skipped)."""
    vdb.insert(METAS)
    vdb.insert(METAS)
    assert vdb.num_rows() == 3
    vdb.insert(METAS + [{"name": "mew"}])
    assert vdb.num_rows() == 4


def test_insert_precomputed_embeddings(vdb):
    vecs = [np.arange(16, dtype=np.float32) + i for i in range(3)]
    vdb.insert(METAS, embeddings=vecs)
    assert vdb.num_rows() == 3


def test_query_returns_results(vdb):
    vdb.insert(METAS, embed_field="name")
    res = vdb.query("charizard", k=2)
    assert len(res) == 2
    assert isinstance(res[0], Result)
    # HashingEmbedder is deterministic: querying an inserted name must rank
    # that row first with ~zero distance.
    assert res[0].metadata["name"] == "charizard"
    assert abs(res[0].distance) < 1e-6


def test_query_filtered(vdb):
    vdb.insert(METAS, embed_field="name")
    res = vdb.query("charizard", k=5, filters={"type": ("contains", "Flying")})
    names = {r.metadata["name"] for r in res}
    assert names == {"charizard", "pidgey"}
    res2 = vdb.query("charizard", k=5, filters={"base.Attack": (">", 50)})
    assert {r.metadata["name"] for r in res2} == {"charizard"}


def test_query_as_dataframe_schema(vdb):
    vdb.insert(METAS)
    df = vdb.query("x", k=2, as_dataframe=True)
    assert [f.name for f in df.schema.fields] == ["id", "metadata", "distance"]


def test_uuid5_parity_with_reference_semantics():
    """id = uuid5(NAMESPACE_DNS, json.dumps(meta, sort_keys=True)) —
    utils.py:6-9 exactly."""
    import uuid

    meta = {"b": 1, "a": [1, 2]}
    expected = str(uuid.uuid5(uuid.NAMESPACE_DNS, json.dumps(meta, sort_keys=True)))
    assert json_to_uuid(meta) == expected
    # key order must not matter
    assert json_to_uuid({"a": [1, 2], "b": 1}) == expected


def test_embedder_registry():
    e = get_embedder("HashingEmbedder", dim=8)
    assert e.get_dimensions() == 8
    v = e.embed("hello")
    assert v.shape == (8,)
    assert abs(float(np.linalg.norm(v)) - 1.0) < 1e-5
    assert np.allclose(v, e.embed("hello"))
    with pytest.raises(ValueError, match="Unknown embedder"):
        get_embedder("NopeEmbedder")


def test_load_from_parquet(vdb, spark, tmp_path):
    vecs = [np.arange(16, dtype=np.float32) + i for i in range(3)]
    vdb.insert(METAS, embeddings=vecs)
    src = str(tmp_path / "dump")
    vdb.items().write.parquet(src)
    vdb2 = VectorDB(
        spark, "testdb2", embedding_dim=16, warehouse=str(tmp_path), create_new_table=True
    )
    vdb2.load_from_parquet(src, build_index=False)
    assert vdb2.num_rows() == 3


def test_indexed_query_matches_exact(spark, tmp_path):
    """create_index → query(use_index=True): full-probe IVF equals the exact
    path; partial probe returns valid (possibly approximate) neighbors."""
    wh = str(tmp_path / "wh_ivf")
    db = VectorDB(
        spark, "ivfdb", embedding_dim=16, warehouse=wh, create_new_table=True
    )
    metas = [{"n": i} for i in range(60)]
    db.insert(metas, embed_field="n")
    with pytest.raises(ValueError, match="no index"):
        db.query("5", k=3, use_index=True)
    db.create_index(num_clusters=4)
    exact = db.query("5", k=5)
    full_probe = db.query("5", k=5, use_index=True, nprobe=4)
    assert [r.id for r in full_probe] == [r.id for r in exact]
    partial = db.query("5", k=5, use_index=True, nprobe=2)
    assert 0 < len(partial) <= 5
    exact_ids = {r.id for r in exact}
    assert len({r.id for r in partial} & exact_ids) >= 3  # decent recall


def test_json_file_source(spark):
    """S3: the reference's JSON-file ingestion (vdb.py:79) as a Spark
    source — multiLine JSON array → DataFrame of nested structs."""
    df = spark.read.json("/root/reference/data/pokemon.json", multiLine=True)
    assert df.count() == 898
    # nested access works directly on the inferred schema
    from pyspark.sql import functions as F

    flying = df.filter(F.array_contains("type", "Flying")).count()
    assert flying > 0


@pytest.mark.slow
def test_insert_idempotency_property(spark, tmp_path):
    """SURVEY §5.2 item 3: randomized insert batches — double insert of any
    batch (and any overlap pattern) never changes num_rows; uuid5 content
    ids make equal dicts collide exactly."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    meta = st.fixed_dictionaries(
        {
            "a": st.integers(min_value=0, max_value=5),
            "b": st.sampled_from(["x", "y", "z"]),
        }
    )

    @settings(
        max_examples=10,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(batch1=st.lists(meta, min_size=1, max_size=8), batch2=st.lists(meta, max_size=8))
    def run(batch1, batch2):
        import uuid

        wh = str(tmp_path / f"wh_{uuid.uuid4().hex[:8]}")
        db = VectorDB(spark, "prop", embedding_dim=8, warehouse=wh, create_new_table=True)
        db.insert(batch1, embed_field="b")
        n1 = db.num_rows()
        distinct1 = len({json.dumps(m, sort_keys=True) for m in batch1})
        assert n1 == distinct1
        db.insert(batch1, embed_field="b")          # exact replay → no-op
        assert db.num_rows() == n1
        db.insert(batch2, embed_field="b")          # overlap merges by content
        want = len({json.dumps(m, sort_keys=True) for m in batch1 + batch2})
        assert db.num_rows() == want

    run()


def test_indexed_query_with_filters(spark, tmp_path):
    """Filters compose with the IVF probe: metadata predicate applies inside
    the probed partitions (same WHERE-before-topk slot as the exact path)."""
    wh = str(tmp_path / "wh_ivf_f")
    db = VectorDB(spark, "ivffdb", embedding_dim=16, warehouse=wh, create_new_table=True)
    db.insert([{"n": i, "grp": "even" if i % 2 == 0 else "odd"} for i in range(60)],
              embed_field="n")
    db.create_index(num_clusters=4)
    got = db.query("8", k=5, filters={"grp": "even"}, use_index=True, nprobe=4)
    exact = db.query("8", k=5, filters={"grp": "even"})
    assert [r.id for r in got] == [r.id for r in exact]
    assert all(r.metadata["grp"] == "even" for r in got)


def test_insert_rejects_wrong_dim(spark, tmp_path):
    db = VectorDB(spark, "dimchk", embedding_dim=8,
                  warehouse=str(tmp_path / "whd"), create_new_table=True)
    with pytest.raises(ValueError, match="dim"):
        db.insert([{"a": 1}], embeddings=[np.zeros(16, dtype=np.float32)])


def test_merge_mode_without_delta_raises_cleanly(spark, tmp_path):
    """write_mode='merge' on an env without delta-spark must fail with a
    NotImplementedError NAMING the missing dep — at insert time, not with
    an opaque ImportError from inside the write path."""
    try:
        import delta  # noqa: F401

        pytest.skip("delta-spark present: covered by test_merge_mode_concurrent_idempotency")
    except ImportError:
        pass
    db = VectorDB(spark, "mergedb", embedding_dim=8,
                  warehouse=str(tmp_path / "whm"), create_new_table=True,
                  write_mode="merge")
    with pytest.raises(NotImplementedError, match="delta-spark"):
        db.insert([{"a": 1}], embed_field="a")


def test_merge_mode_rejects_unknown_mode(spark, tmp_path):
    with pytest.raises(ValueError, match="write_mode"):
        VectorDB(spark, "badmode", warehouse=str(tmp_path / "whb"), write_mode="upsert")


def test_merge_mode_concurrent_idempotency(spark, tmp_path):
    """Delta MERGE semantics (runs only when delta-spark is importable):
    two overlapping batches written through write_mode='merge' must merge
    by id — the ON CONFLICT DO NOTHING contract under the ACID path."""
    pytest.importorskip("delta", reason="delta-spark not installed in this env")
    db = VectorDB(spark, "mergedb2", embedding_dim=8,
                  warehouse=str(tmp_path / "whm2"), create_new_table=True,
                  write_mode="merge")
    b1 = [{"n": i} for i in range(20)]
    b2 = [{"n": i} for i in range(10, 30)]  # overlaps b1 on 10..19
    db.insert(b1, embed_field="n")
    db.insert(b2, embed_field="n")
    from delta.tables import DeltaTable
    from modal_vector_db_spark.sources import catalog as C

    merged = DeltaTable.forPath(spark, C.db_path("mergedb2", str(tmp_path / "whm2"))).toDF()
    assert merged.count() == 30
    assert merged.select("id").distinct().count() == 30


@pytest.mark.slow
def test_compact_merges_small_files(spark, tmp_path):
    """20 single-row insert batches fragment the table to ~20 files;
    compact() rewrites to the target count with identical contents."""
    from modal_vector_db_spark.sources import catalog as C

    wh = str(tmp_path / "whc")
    db = VectorDB(spark, "fragdb", embedding_dim=8, warehouse=wh, create_new_table=True)
    for i in range(20):
        db.insert([{"n": i}], embed_field="n")
    n_before, total = C.table_file_stats("fragdb", wh)
    assert n_before >= 20
    before = {r["id"] for r in db.items().collect()}

    new_files = C.compact(spark, "fragdb", wh, target_file_bytes=max(total, 1))
    n_after, _ = C.table_file_stats("fragdb", wh)
    assert n_after == new_files == 1
    assert {r["id"] for r in db.items().collect()} == before
    # the write path keeps working on the compacted layout
    db.insert([{"n": 99}], embed_field="n")
    assert db.num_rows() == 21


def test_profile_and_dup_rate(spark, tmp_path):
    """profile(): one row per column, exact row/null counts, id NDV ~= rows
    (idempotent insert keeps content unique); est_dup_rate ~0 on a clean
    table and 0.0 on a missing one."""
    wh = str(tmp_path / "whp")
    db = VectorDB(spark, "profdb", embedding_dim=8, warehouse=wh, create_new_table=True)
    assert db.est_dup_rate() == 0.0  # no table yet
    db.insert([{"n": i} for i in range(50)], embed_field="n")
    db.insert([{"n": i} for i in range(25)], embed_field="n")  # replay: no-op
    prof = {r["column"]: r for r in db.profile().collect()}
    assert set(prof) == {"id", "metadata"}
    assert prof["id"]["n_rows"] == 50 and prof["id"]["n_nulls"] == 0
    assert abs(prof["id"]["approx_ndv"] - 50) <= 3
    assert db.est_dup_rate() < 0.02


def test_ivf_pq_compressed_query(spark, tmp_path):
    """IVF+PQ path: codes stored beside cluster_id; compressed query = ADC
    candidates + exact refine.  On this small table with full probe and a
    generous refine factor, the compressed result must equal the exact one;
    filters still apply at refine."""
    wh = str(tmp_path / "wh_pq")
    db = VectorDB(spark, "pqdb", embedding_dim=16, warehouse=wh, create_new_table=True)
    db.insert(
        [{"n": i, "grp": "even" if i % 2 == 0 else "odd"} for i in range(80)],
        embed_field="n",
    )
    db.create_index(num_clusters=4, pq_m=4)

    got = db.query("8", k=5, use_index=True, nprobe=4, compressed=True, refine_factor=16)
    exact = db.query("8", k=5)
    assert [r.id for r in got] == [r.id for r in exact]

    flt = db.query("8", k=3, filters={"grp": "odd"}, use_index=True, nprobe=4,
                   compressed=True, refine_factor=27)
    assert all(r.metadata["grp"] == "odd" for r in flt)

    with pytest.raises(ValueError, match="use_index"):
        db.query("8", compressed=True)


def test_pq_filter_pushdown_prefilters_candidates(spark, tmp_path):
    """Round-4 fix: filters apply to the probed-partition scan BEFORE ADC
    candidate selection.  Construct the adversarial case — the filter
    selects rows the unfiltered ADC top-(k·refine_factor) completely
    excludes — and verify the compressed query still returns k rows
    identical to the exact path's filtered answer (pre-fix: zero rows,
    because the unfiltered candidate budget was spent on non-matching
    rows)."""
    import numpy as np

    wh = str(tmp_path / "wh_pqf")
    db = VectorDB(spark, "pqfdb", embedding_dim=8, warehouse=wh, create_new_table=True)
    rng = np.random.default_rng(7)
    metas, embs = [], []
    for i in range(40):  # 'com' rows: tightly packed around e1 (the query)
        v = np.zeros(8)
        v[0], v[1:] = 1.0, rng.normal(0, 0.01, 7)
        metas.append({"n": i, "grp": "com"})
        embs.append(v)
    for i in range(8):  # 'rare' rows: orthogonal direction — far from q
        v = np.zeros(8)
        v[3], v[4] = 1.0, 0.05 * i
        v[5:] = rng.normal(0, 0.01, 3)
        metas.append({"n": 100 + i, "grp": "rare"})
        embs.append(v)
    db.insert(metas, embeddings=embs)
    db.create_index(num_clusters=2, pq_m=4)

    q = [1.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0]
    # adversarial setup holds: the unfiltered candidate budget (k·rf = 12)
    # is consumed entirely by 'com' rows
    unf = db.query(q, k=3, use_index=True, nprobe=2, compressed=True, refine_factor=4)
    assert all(r.metadata["grp"] == "com" for r in unf)

    exact = db.query(q, k=3, filters={"grp": "rare"})
    got = db.query(
        q, k=3, filters={"grp": "rare"},
        use_index=True, nprobe=2, compressed=True, refine_factor=4,
    )
    assert len(got) == 3
    assert [r.id for r in got] == [r.id for r in exact]


def test_query_hybrid_lexical_rescue(spark, tmp_path):
    """A doc whose TEXT matches the query exactly must surface in the fused
    top-k even when the hashing embedder ranks other docs closer, and a doc
    present in neither channel's top must not."""
    db = VectorDB(
        spark,
        "hybriddb",
        embedder_name="HashingEmbedder",
        embedding_dim=16,
        create_new_table=True,
        warehouse=str(tmp_path),
    )
    metas = [{"text": "tuning catalyst shuffle partitions", "i": 0}] + [
        {"text": f"unrelated filler document number {i}", "i": i} for i in range(1, 12)
    ]
    db.insert(metas, embed_field="text")
    res = db.query_hybrid("tuning catalyst shuffle", k=3)
    assert res, "hybrid query returned nothing"
    # fused score is descending-better and sorted
    scores = [r.distance for r in res]
    assert scores == sorted(scores, reverse=True)
    assert res[0].metadata["i"] == 0  # the lexical exact match wins RRF
    # filters restrict both channels
    resf = db.query_hybrid("tuning catalyst shuffle", k=5, filters={"i": 3})
    assert all(r.metadata["i"] == 3 for r in resf)
    with pytest.raises(ValueError):
        db.query_hybrid("   ")


def test_query_hybrid_vector_only_docs(spark, tmp_path):
    """Docs without the text field still rank through the vector channel."""
    db = VectorDB(
        spark,
        "hybriddb2",
        embedder_name="HashingEmbedder",
        embedding_dim=16,
        create_new_table=True,
        warehouse=str(tmp_path),
    )
    db.insert([{"name": f"item {i}"} for i in range(6)], embed_field="name")
    res = db.query_hybrid("item 3", k=4)
    assert len(res) == 4


def test_delete_by_filters(spark, tmp_path):
    """Copy-on-write delete: matching rows removed, null-predicate rows
    kept, empty filters rejected, queries keep working afterwards."""
    db = VectorDB(
        spark,
        "deldb",
        embedder_name="HashingEmbedder",
        embedding_dim=16,
        create_new_table=True,
        warehouse=str(tmp_path),
    )
    metas = [{"name": f"doc {i}", "lang": "en" if i % 2 else "de", "i": i} for i in range(6)]
    metas.append({"name": "no lang field"})  # predicate on 'lang' is NULL here
    db.insert(metas, embed_field="name")
    assert db.num_rows() == 7

    removed = db.delete({"lang": "de"})  # i in {0, 2, 4}
    assert removed == 3
    assert db.num_rows() == 4
    # the null-predicate row survived
    langs = [r.metadata.get("lang") for r in db.query("doc", k=10)]
    assert "de" not in langs and None in [l for l in langs]

    assert db.delete({"lang": "fr"}) == 0  # no match, no change
    assert db.num_rows() == 4

    with pytest.raises(ValueError):
        db.delete({})

    # delete is idempotent-safe and the table stays fully queryable
    assert len(db.query("doc 1", k=2)) == 2


def test_sql_escape_hatch(spark, tmp_path):
    db = VectorDB(
        spark,
        "sqldb",
        embedder_name="HashingEmbedder",
        embedding_dim=16,
        create_new_table=True,
        warehouse=str(tmp_path),
    )
    db.insert(
        [{"name": f"doc {i}", "lang": "en" if i % 2 else "de"} for i in range(8)],
        embed_field="name",
    )
    n = db.sql(
        f"SELECT count(*) AS n FROM {db.name} "
        "WHERE get_json_object(metadata, '$.lang') = 'en'"
    ).head()["n"]
    assert n == 4


def _mk(spark, tmp_path, name):
    return VectorDB(
        spark,
        name,
        embedder_name="HashingEmbedder",
        embedding_dim=16,
        create_new_table=True,
        warehouse=str(tmp_path),
    )


def test_update_metadata_only_preserves_embedding(spark, tmp_path):
    """Metadata-only patch: rows re-keyed (content-addressed id), embedding
    untouched, null-predicate rows unmatched, bad args rejected."""
    db = _mk(spark, tmp_path, "upddb")
    metas = [{"name": f"doc {i}", "lang": "en" if i % 2 else "de", "i": i} for i in range(6)]
    metas.append({"name": "no lang field"})
    db.insert(metas, embed_field="name")
    before = {
        json.loads(r["metadata"])["name"]: (r["id"], r["embedding"])
        for r in db.items().collect()
    }

    n = db.update({"lang": "de"}, {"lang": "de-DE", "reviewed": True})  # i in {0,2,4}
    assert n == 3
    assert db.num_rows() == 7  # re-keyed, not removed
    after = {
        json.loads(r["metadata"])["name"]: (r["id"], r["embedding"], json.loads(r["metadata"]))
        for r in db.items().collect()
    }
    for i in range(6):
        name = f"doc {i}"
        aid, avec, am = after[name]
        bid, bvec = before[name]
        assert avec == bvec  # embedding preserved in all cases
        if i % 2 == 0:
            assert am["lang"] == "de-DE" and am["reviewed"] is True
            assert aid != bid  # content changed => id changed
            assert aid == json_to_uuid(am)  # and is the content hash
        else:
            assert am["lang"] == "en" and "reviewed" not in am
            assert aid == bid
    # the null-predicate row was not matched
    assert "reviewed" not in after["no lang field"][2]

    # key removal via None
    assert db.update({"lang": "de-DE"}, {"reviewed": None}) == 3
    assert all(
        "reviewed" not in json.loads(r["metadata"]) for r in db.items().collect()
    )

    assert db.update({"lang": "zz"}, {"x": 1}) == 0
    with pytest.raises(ValueError):
        db.update({}, {"x": 1})
    with pytest.raises(ValueError):
        db.update({"lang": "en"}, {})


def test_update_reembed(spark, tmp_path):
    db = _mk(spark, tmp_path, "upddb2")
    db.insert([{"name": "alpha", "v": 1}, {"name": "beta", "v": 2}], embed_field="name")
    assert db.update({"name": "alpha"}, {"name": "gamma"}, embed_field="name") == 1
    rows = {json.loads(r["metadata"])["name"]: r["embedding"] for r in db.items().collect()}
    emb = get_embedder("HashingEmbedder", dim=16)
    assert np.allclose(rows["gamma"], emb.embed("gamma"), atol=1e-6)
    assert np.allclose(rows["beta"], emb.embed("beta"), atol=1e-6)


def test_update_collision_collapses(spark, tmp_path):
    """Patching a row into content identical to an existing row collapses
    the two — the insert path's ON CONFLICT DO NOTHING rule."""
    db = _mk(spark, tmp_path, "upddb3")
    db.insert([{"name": "x", "grp": "a"}, {"name": "x", "grp": "b"}], embed_field="name")
    assert db.num_rows() == 2
    assert db.update({"grp": "b"}, {"grp": "a"}) == 1
    assert db.num_rows() == 1
    (row,) = db.items().collect()
    assert json.loads(row["metadata"]) == {"name": "x", "grp": "a"}


@pytest.mark.slow
def test_delete_and_update_keep_index_in_sync(spark, tmp_path):
    """use_index=True queries must see copy-on-write deletes/updates — the
    IVF layout is rewritten in the same call."""
    db = _mk(spark, tmp_path, "upddb4")
    db.insert(
        [{"name": f"item {i}", "odd": bool(i % 2)} for i in range(40)],
        embed_field="name",
    )
    db.create_index(num_clusters=4)

    assert db.delete({"odd": True}) == 20
    res = db.query("item 7", k=40, use_index=True, nprobe=4)
    names = {r.metadata["name"] for r in res}
    assert names and all(not int(n.split()[1]) % 2 for n in names)

    assert db.update({"odd": False}, {"status": "kept"}) == 20
    res = db.query("item 2", k=20, use_index=True, nprobe=4)
    assert res and all(r.metadata.get("status") == "kept" for r in res)
    # index table row count tracks the base table through both rewrites
    from modal_vector_db_spark.sources import catalog as cat

    assert (
        cat.read_table(spark, "upddb4__ivf", str(tmp_path)).count() == db.num_rows() == 20
    )


def test_insert_df_bulk_ingest(spark, tmp_path):
    """DataFrame-native ingest: same content ids as the list path (any JSON
    key order), idempotent against it, embedder fan-out when no embedding
    column, dim validation when there is one."""
    db = _mk(spark, tmp_path, "dfdb")
    db.insert([{"name": "doc 0", "i": 0}], embed_field="name")

    # same content, DIFFERENT key order, via the df path -> dedups to 1 row
    src = spark.createDataFrame(
        [('{"i": 0, "name": "doc 0"}',), ('{"name": "doc 1", "i": 1}',)],
        "metadata string",
    )
    db.insert_df(src, embed_field="name")
    assert db.num_rows() == 2
    # replay the df path: fully idempotent
    db.insert_df(src, embed_field="name")
    assert db.num_rows() == 2
    # embedder fan-out matches the driver-side embedder
    emb = get_embedder("HashingEmbedder", dim=16)
    rows = {json.loads(r["metadata"])["name"]: r for r in db.items().collect()}
    assert np.allclose(rows["doc 1"]["embedding"], emb.embed("doc 1"), atol=1e-6)
    assert rows["doc 1"]["id"] == json_to_uuid({"name": "doc 1", "i": 1})

    # precomputed-embedding column path
    vec = [float(x) for x in range(16)]
    src2 = spark.createDataFrame(
        [('{"name": "doc 2"}', vec)], "metadata string, embedding array<float>"
    )
    db.insert_df(src2)
    assert db.num_rows() == 3
    assert rows is not None

    # wrong dim fails the write
    bad = spark.createDataFrame(
        [('{"name": "doc 3"}', [1.0, 2.0])], "metadata string, embedding array<float>"
    )
    with pytest.raises(Exception, match="dim"):
        db.insert_df(bad)
    assert db.num_rows() == 3

    # NULL embedding fails the write just as loudly
    nulls = spark.createDataFrame(
        [('{"name": "doc 4"}', None)], "metadata string, embedding array<float>"
    )
    with pytest.raises(Exception, match="NULL"):
        db.insert_df(nulls)
    assert db.num_rows() == 3

    with pytest.raises(ValueError, match="metadata"):
        db.insert_df(spark.createDataFrame([("x",)], "nope string"))


@pytest.mark.slow
def test_insert_after_pq_index_visible_to_compressed_query(spark, tmp_path):
    """Rows inserted AFTER create_index(pq_m=...) must carry pq codes in the
    __ivf layout — otherwise NULL ADC distances rank them last and they are
    silently invisible to compressed queries until a rebuild."""
    db = _mk(spark, tmp_path, "pqins")
    db.insert([{"n": i} for i in range(60)], embed_field="n")
    db.create_index(num_clusters=4, pq_m=4)

    db.insert([{"n": 999, "fresh": True}], embed_field="n")
    from modal_vector_db_spark.sources import catalog as cat

    ivf = cat.read_table(spark, "pqins__ivf", str(tmp_path))
    fresh = ivf.filter("get_json_object(metadata, '$.fresh') = 'true'").collect()
    assert len(fresh) == 1 and fresh[0]["pq_code"] is not None

    got = db.query("999", k=1, use_index=True, nprobe=4, compressed=True,
                   refine_factor=64)
    assert got and got[0].metadata.get("n") == 999


def test_explain_surfaces_plan_quality(vdb):
    vdb.insert(METAS, embed_field="name")
    plan = vdb.explain("charizard", k=2)
    assert "TakeOrderedAndProject" in plan  # bounded-heap top-k
    assert "Sort" not in plan.split("TakeOrderedAndProject")[0]
    planf = vdb.explain("charizard", k=2, filters={"name": "pidgey"})
    assert "Filter" in planf


def test_list_tables_catalog_surface(spark, tmp_path):
    from modal_vector_db_spark.sources import catalog as cat

    wh = str(tmp_path)
    a = _mk(spark, tmp_path, "tbl_a")
    a.insert([{"n": i} for i in range(12)], embed_field="n")
    a.create_index(num_clusters=2)
    v = VectorDB(spark, "tbl_v", embedding_dim=16, create_new_table=True,
                 warehouse=wh, versioned=True)
    v.insert([{"n": 2}], embed_field="n")

    listing = {t["name"]: t["kind"] for t in cat.list_tables(wh)}
    assert listing["tbl_a"] == "plain"
    assert listing["tbl_v"] == "versioned"
    assert listing["tbl_a__ivf"] == "derived"
    assert listing["tbl_a__ivf_centroids"] == "derived"
    assert cat.list_tables(str(tmp_path / "nope")) == []


def test_query_batch_matches_single_queries(spark, tmp_path):
    """One-job batched KNN: each q_id's rows equal the single-query path,
    strings and raw vectors mix, filters apply."""
    db = _mk(spark, tmp_path, "batchdb")
    db.insert([{"n": i, "odd": bool(i % 2)} for i in range(30)], embed_field="n")

    vec7 = db._embedder.embed("7")
    res = db.query_batch(["3", vec7, "11"], k=5).collect()
    by_q = {}
    for r in res:
        by_q.setdefault(r["q_id"], []).append(r)
    assert set(by_q) == {0, 1, 2} and all(len(v) == 5 for v in by_q.values())
    for q_id, text in ((0, "3"), (1, "7"), (2, "11")):
        single = db.query(text, k=5)
        got = sorted(by_q[q_id], key=lambda r: (r["distance"], r["id"]))
        assert [r["id"] for r in got] == [s.id for s in single]

    flt = db.query_batch(["4"], k=30, filters={"odd": True}).collect()
    assert flt and all(json.loads(r["metadata"])["odd"] for r in flt)

    with pytest.raises(ValueError):
        db.query_batch([])


def test_reembed_model_migration(spark, tmp_path):
    """reembed(): every vector recomputed with the new embedder/dim in one
    atomic replace — ids/metadata unchanged, stale-geometry index dropped,
    subsequent queries embed in the new space, idempotent inserts still
    dedup against the migrated table."""
    from modal_vector_db_spark.embedders import get_embedder

    wh = str(tmp_path / "wh_re")
    db = VectorDB(spark, "redb", embedding_dim=16, warehouse=wh, create_new_table=True)
    metas = [{"n": i, "text": f"doc number {i}"} for i in range(30)]
    db.insert(metas, embed_field="text")
    db.create_index(num_clusters=4)
    ids_before = sorted(r["id"] for r in db.items().select("id").collect())

    assert db.reembed(embedding_dim=32, embed_field="text") == 30

    rows = db.items().collect()
    assert sorted(r["id"] for r in rows) == ids_before          # no re-keying
    assert all(len(r["embedding"]) == 32 for r in rows)
    # vectors match the registry embedder applied to the SAME text
    emb = get_embedder("HashingEmbedder", dim=32)
    by_id = {r["id"]: r for r in rows}
    import json as _json

    probe = rows[0]
    want = [float(x) for x in emb.embed(_json.loads(probe["metadata"])["text"])]
    assert [round(v, 5) for v in probe["embedding"]] == [round(v, 5) for v in want]
    # stale-geometry index is gone; queries work in the new space
    with pytest.raises(ValueError, match="no index"):
        db.query("doc number 3", k=3, use_index=True)
    got = db.query("doc number 3", k=3)
    assert len(got) == 3 and got[0].metadata["n"] == 3
    # content idempotency survives the migration
    db.insert(metas, embed_field="text")
    assert db.num_rows() == 30


def test_reembed_versioned_is_a_commit(spark, tmp_path):
    db = VectorDB(
        spark, "redbv", embedding_dim=16, warehouse=str(tmp_path / "wh_rev"),
        create_new_table=True, versioned=True,
    )
    db.insert([{"n": i} for i in range(10)], embed_field="n")
    v_before = db.history()[-1]["version"]
    assert db.reembed(embedding_dim=24) == 10
    # the migration is itself a version: old vectors remain time-travelable
    old = db.read_version(v_before).collect()
    new = db.items().collect()
    assert all(len(r["embedding"]) == 16 for r in old)
    assert all(len(r["embedding"]) == 24 for r in new)
    assert db.num_rows() == 10


def test_config_sidecar_rejects_mismatched_handle(spark, tmp_path):
    """A handle whose embedder config disagrees with the table's recorded
    one fails FAST at construction (zip_with over different-length arrays
    would otherwise NULL every distance silently)."""
    wh = str(tmp_path / "wh_meta")
    db = VectorDB(spark, "metadb", embedding_dim=16, warehouse=wh, create_new_table=True)
    db.insert([{"n": i} for i in range(5)], embed_field="n")

    # matching handle: fine
    again = VectorDB(spark, "metadb", embedding_dim=16, warehouse=wh)
    assert again.num_rows() == 5
    # mismatched dim or embedder: rejected with the recorded config named
    with pytest.raises(ValueError, match=r"dim=16"):
        VectorDB(spark, "metadb", embedding_dim=32, warehouse=wh)
    # reembed() migrates the table AND the recorded config
    assert db.reembed(embedding_dim=32) == 5
    migrated = VectorDB(spark, "metadb", embedding_dim=32, warehouse=wh)
    assert len(migrated.query("3", k=2)) == 2
    with pytest.raises(ValueError, match=r"dim=32"):
        VectorDB(spark, "metadb", embedding_dim=16, warehouse=wh)
    # create_new_table resets the config with the table
    fresh = VectorDB(spark, "metadb", embedding_dim=8, warehouse=wh, create_new_table=True)
    fresh.insert([{"n": 1}])
    assert fresh.num_rows() == 1


@pytest.mark.slow
def test_query_batch_indexed_matches_per_query(spark, tmp_path):
    """query_batch(use_index=True): the batched partition-pruned IVF path
    returns, per q_id, exactly what the single-query indexed path returns
    (full probe == exact); filters compose; missing index raises."""
    wh = str(tmp_path / "wh_qbi")
    db = VectorDB(spark, "qbidx", embedding_dim=16, warehouse=wh, create_new_table=True)
    db.insert([{"n": i, "grp": "even" if i % 2 == 0 else "odd"} for i in range(60)],
              embed_field="n")
    with pytest.raises(ValueError, match="no index"):
        db.query_batch(["5"], use_index=True)
    db.create_index(num_clusters=4)

    queries = ["5", "41", [0.25] * 16]
    batched = db.query_batch(queries, k=4, use_index=True, nprobe=4)
    rows = batched.collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r["q_id"], []).append(r)
    for i, q in enumerate(queries):
        single = db.query(q, k=4, use_index=True, nprobe=4)
        # compare as SETS: top-k selection is on unrounded distance in both
        # plans (identical + deterministic), but the batch output's
        # 6-decimal display rounding could permute near-ties in an ordered
        # comparison
        assert len(by_q[i]) == 4
        assert {r["id"] for r in by_q[i]} == {s.id for s in single}, f"q{i}"

    flt = db.query_batch(["5"], k=3, filters={"grp": "odd"}, use_index=True, nprobe=4)
    import json as _json

    assert all(
        _json.loads(r["metadata"])["grp"] == "odd" for r in flt.collect()
    )
    single_flt = db.query("5", k=3, filters={"grp": "odd"}, use_index=True, nprobe=4)
    assert sorted(r["id"] for r in flt.collect()) == sorted(s.id for s in single_flt)


@pytest.fixture(scope="module")
def graph_db(spark, tmp_path_factory):
    db = VectorDB(spark, "emptybatch", embedding_dim=16, create_new_table=True,
                  warehouse=str(tmp_path_factory.mktemp("wh_emptybatch")))
    db.insert([{"text": f"doc {i}", "n": i} for i in range(40)], embed_field="text")
    db.create_index(num_clusters=4)
    db.create_graph_index(calibrate=False)
    return db


@pytest.mark.parametrize("method", ["query_batch", "query_hybrid_batch", "query_graph_batch"])
def test_batch_methods_reject_empty_batch(graph_db, method, monkeypatch):
    """Every batch read method rejects an empty batch with the same error,
    before any I/O (no index load, epoch check or corpus read)."""

    def no_io(*a, **kw):
        raise AssertionError("I/O before the empty-batch check")

    for attr in ("_load_ivf", "_check_graph_epoch", "_filtered_source"):
        monkeypatch.setattr(graph_db, attr, no_io)
    with pytest.raises(ValueError, match=f"^{method} needs at least one query$"):
        getattr(graph_db, method)([])
