"""Round-9 engine review findings, pinned: stale-index drop on bulk
load, query/bulk-load dim validation, table-level id_fields identity,
and maintenance-op ledger marks."""

from __future__ import annotations

import json
import uuid

import pytest

from modal_vector_db_spark.engine import VectorDB


# Long-tail suite (round-13): deselected by default via pytest.ini (-m "not slow");
# run everything with  python -m pytest tests/ -m "" -q
pytestmark = pytest.mark.slow


def _db(spark, tmp_path, **kw):
    wh = str(tmp_path / f"wh_{uuid.uuid4().hex[:8]}")
    kw.setdefault("embedding_dim", 8)
    return VectorDB(spark, "revt", warehouse=wh, create_new_table=True, **kw)


def _metas(lo, hi, **extra):
    return [{"text": f"doc number {i}", "n": i, **extra} for i in range(lo, hi)]


def test_query_vector_dim_validated(spark, tmp_path):
    db = _db(spark, tmp_path)
    db.insert(_metas(0, 5))
    with pytest.raises(ValueError, match="dim 4"):
        db.query([0.1] * 4)
    with pytest.raises(ValueError, match="dim 4"):
        db.query_batch([[0.1] * 4])
    assert len(db.query([0.1] * 8, k=2)) == 2  # right dim still works


def test_load_from_parquet_validates_dim_and_drops_stale_index(spark, tmp_path):
    db = _db(spark, tmp_path)
    db.insert(_metas(0, 40))
    db.create_index(num_clusters=2)
    assert len(db.query("doc number 3", k=2, use_index=True)) == 2

    # wrong-dim corpus refuses to load
    bad = str(tmp_path / "bad.parquet")
    spark.createDataFrame(
        [("x", "{}", [0.1] * 4)], "id string, metadata string, embedding array<float>"
    ).write.parquet(bad)
    with pytest.raises(ValueError, match="dim"):
        db.load_from_parquet(bad)

    # same-row-count overwrite with build_index=False: the OLD index must
    # be gone, not silently served
    good = str(tmp_path / "good.parquet")
    db.items().write.parquet(good)  # 40 rows, same count as the indexed set
    db.load_from_parquet(good, build_index=False)
    with pytest.raises(Exception, match="[Ii]ndex"):
        db.query("doc number 3", k=2, use_index=True)
    assert len(db.query("doc number 3", k=2)) == 2  # exact path fine


def test_id_fields_table_identity(spark, tmp_path):
    db = _db(spark, tmp_path, id_fields=("url", "text"))
    db.insert([{"url": "u1", "text": "a", "date": "d1"}])
    # same identity subset, different volatile field -> dedups
    db.insert([{"url": "u1", "text": "a", "date": "d2"}])
    assert db.num_rows() == 1
    # update patches a NON-identity field: the id must stay the subset
    # hash, so re-inserting the same content still dedups
    db.update({"url": "u1"}, {"quality": "high"})
    db.insert([{"url": "u1", "text": "a", "date": "d3"}])
    assert db.num_rows() == 1
    (m,) = [json.loads(r["metadata"]) for r in db.items().collect()]
    assert m["quality"] == "high"  # the patch survived the dedup

    # a handle with a DIFFERENT identity declaration is refused (at
    # construction — the sidecar check runs before any write can land)
    wh = db.warehouse
    with pytest.raises(ValueError, match="id_fields"):
        VectorDB(spark, "revt", warehouse=wh, embedding_dim=8)
    # and an explicit insert_df conflict is refused
    df = spark.createDataFrame([('{"url":"u3","text":"c"}',)], "metadata string")
    with pytest.raises(ValueError, match="conflicts"):
        db.insert_df(df, embed_field="text", id_fields=("url",))


def test_maintenance_ops_keep_text_ledger_contiguous(spark, tmp_path):
    """compact / declare_stats_fields commit base versions; the text-index
    snapshot ledger must absorb them or synced_through stalls forever and
    no future verified pair is recorded (review finding)."""
    db = _db(spark, tmp_path, versioned=True)
    db.insert(_metas(0, 20))
    db.create_text_index()
    db.compact()
    db.declare_stats_fields(["n"])
    db.insert(_metas(20, 30))  # the post-maintenance sync must verify
    meta = db._read_text_meta()
    from modal_vector_db_spark.sources import versioned as vcat

    head = vcat.current_version("revt", db.warehouse)
    assert meta is not None and str(head) in meta.get("history", {}), (
        head,
        meta and meta.get("synced_through"),
    )
    # verified-pair time travel still works at the new head
    hits = db.query_hybrid("doc number 21", k=2, version=head, use_text_index=True)
    assert len(hits) == 2


def test_id_fields_promotion_on_undeclared_table(spark, tmp_path):
    """Review finding: a subset-keyed insert_df on an UNDECLARED table let
    two identity schemes coexist (crawl ingest keyed on a subset, plain
    inserts on the whole document; update() re-keyed whole-doc).  Now the
    first subset-keyed ingest on an EMPTY table PROMOTES the subset to the
    persisted table declaration; on a table already holding
    whole-document-keyed rows the narrowing is refused."""
    db = _db(spark, tmp_path)  # no id_fields declared
    df = spark.createDataFrame(
        [('{"url":"u1","text":"a","date":"d1"}',)], "metadata string"
    )
    db.insert_df(df, embed_field="text", id_fields=("url", "text"))
    assert db.id_fields == ("url", "text")
    # promotion persisted to the sidecar: an undeclared fresh handle is
    # refused, a matching one dedups a re-crawl under a new date
    with pytest.raises(ValueError, match="id_fields"):
        VectorDB(spark, "revt", warehouse=db.warehouse, embedding_dim=8)
    db2 = VectorDB(
        spark, "revt", warehouse=db.warehouse, embedding_dim=8,
        id_fields=("url", "text"),
    )
    df2 = spark.createDataFrame(
        [('{"url":"u1","text":"a","date":"d2"}',)], "metadata string"
    )
    db2.insert_df(df2, embed_field="text")
    assert db2.num_rows() == 1

    # narrowing refused once whole-doc-keyed rows exist
    db3 = _db(spark, tmp_path)
    db3.insert([{"url": "u9", "text": "z"}])
    with pytest.raises(ValueError, match="whole-document"):
        db3.insert_df(df, embed_field="text", id_fields=("url",))


def test_nprobe_calibrated_from_measured_curve(spark, tmp_path):
    """create_index derives the default nprobe from the index's own
    recall-vs-scan curve (persisted sidecar); query(use_index=True)
    without an explicit nprobe consumes it; explicit values still win;
    calibrate=False falls back to the legacy constant."""
    import glob

    db = _db(spark, tmp_path)
    db.insert(_metas(0, 200))
    db.create_index(num_clusters=8)
    (calib_path,) = glob.glob(
        str(tmp_path / "**" / "*__calib.json"), recursive=True
    )
    calib = json.load(open(calib_path))
    sweep = [row["nprobe"] for row in calib["curve"]]
    assert sweep == [1, 2, 4, 8]
    recalls = [row["recall"] for row in calib["curve"]]
    assert recalls == sorted(recalls) and recalls[-1] == 1.0  # full probe
    assert calib["default_nprobe"] in sweep
    # the smallest sweep point reaching the target, by definition
    assert calib["default_nprobe"] == min(
        p for p, r in zip(sweep, recalls) if r >= calib["target_recall"]
    )
    assert db._resolve_nprobe(None) == calib["default_nprobe"]
    assert db._resolve_nprobe(3) == 3  # explicit wins
    assert len(db.query("doc number 7", k=5, use_index=True)) == 5

    db.create_index(num_clusters=8, calibrate=False)
    assert not glob.glob(str(tmp_path / "**" / "*__calib.json"), recursive=True)
    assert db._resolve_nprobe(None) == 4  # legacy fallback
