"""Index-organized storage: an indexed table keeps ONE copy of its rows.

``create_index`` rewrites the base table with each row's ``cluster_id``;
no ``<name>__ivf`` copy is ever written, so inserts, updates and deletes
have nothing to keep in step.  These tests pin that contract on both
catalogs: indexed reads at full probe equal the exact read after every
kind of write, a probe never serves a deleted row, a version of the table
is a version of its index, and the versioned layout keeps exact reads at
one Spark job."""

from __future__ import annotations

import os
import uuid

import pytest

from modal_vector_db_spark.engine import VectorDB
from modal_vector_db_spark.sources import catalog
from modal_vector_db_spark.sources import versioned as vcat
from tests.conftest import jobs_in_group

K = 4


def _db(spark, tmp_path, versioned: bool) -> VectorDB:
    name = f"sc_{'v' if versioned else 'p'}_{uuid.uuid4().hex[:6]}"
    db = VectorDB(
        spark, name, embedding_dim=16, warehouse=str(tmp_path / "wh"),
        create_new_table=True, versioned=versioned,
    )
    db.insert(
        [{"text": f"doc {i} topic {i % 5}", "n": i} for i in range(60)],
        embed_field="text",
    )
    return db


def _rows(results):
    return [(r.id, round(r.distance, 6)) for r in results]


def _full_probe_equals_exact(db, query: str, clusters: int) -> None:
    exact = db.query(query, k=K)
    assert exact
    assert _rows(db.query(query, k=K, use_index=True, nprobe=clusters)) == _rows(exact)


@pytest.mark.parametrize("versioned", [False, True], ids=["plain", "versioned"])
def test_writes_keep_one_copy_and_full_probe_exact(spark, tmp_path, versioned):
    db = _db(spark, tmp_path, versioned)
    db.create_index(num_clusters=4, calibrate=False)
    db.insert(
        [{"text": f"new doc {i} topic {i % 5}", "n": 100 + i} for i in range(12)],
        embed_field="text",
    )
    assert db.update({"n": 7}, {"tag": "patched"}, embed_field="text") == 1
    gone = {r.id for r in db.query("doc 3 topic 3", k=60) if r.metadata["n"] in (3, 101)}
    assert db.delete({"n": ("in", [3, 101])}) == 2
    assert not os.path.exists(catalog.db_path(db.name + "__ivf", db.warehouse))
    assert db.num_rows() == 60 + 12 - 2
    for q in ("doc 3 topic 3", "new doc 1 topic 1", "doc 7 topic 2"):
        _full_probe_equals_exact(db, q, 4)
    # a deleted row (masked on the versioned table, rewritten away on the
    # plain one) is never served by a probe
    served = {r.id for r in db.query("doc 3 topic 3", k=80, use_index=True, nprobe=4)}
    assert gone and not served & gone
    assert db.index_stats()["rows"] >= db.num_rows()


def test_versioned_tombstone_is_applied_to_probes(spark, tmp_path):
    db = _db(spark, tmp_path, True)
    db.create_index(num_clusters=4, calibrate=False)
    victim = db.query("doc 9 topic 4", k=1)[0].id
    assert db.delete({"n": 9}) == 1
    m = vcat._read_manifest(db.name, db.warehouse, vcat.current_version(db.name, db.warehouse))
    assert m.get("tombstones")  # merge-on-read: the file still holds the row
    served = {r.id for r in db.query("doc 9 topic 4", k=60, use_index=True, nprobe=4)}
    assert victim not in served


def test_indexed_time_travel_starts_at_the_index_commit(spark, tmp_path):
    db = _db(spark, tmp_path, True)
    before = vcat.current_version(db.name, db.warehouse)
    db.create_index(num_clusters=4, calibrate=False)
    indexed = vcat.current_version(db.name, db.warehouse)
    db.insert([{"text": "late doc topic 1", "n": 500}], embed_field="text")
    with pytest.raises(ValueError, match="no verified index snapshot"):
        db.query("doc 1 topic 1", k=K, version=before, use_index=True)
    got = db.query("doc 1 topic 1", k=K, version=indexed, use_index=True, nprobe=4)
    assert _rows(got) == _rows(db.query("doc 1 topic 1", k=K, version=indexed))
    assert all(r.metadata["n"] != 500 for r in db.query("late doc", k=80, version=indexed,
                                                           use_index=True, nprobe=4))
    assert db.index_stats()["time_travel_versions"] == [indexed, indexed + 1]


def test_versioned_exact_query_stays_one_job_after_inserts(spark, tmp_path):
    """The versioned base keeps cluster_id in-file, so inserts add one file
    each; a per-cluster directory layout would add up to num_clusters per
    insert and cross Spark's parallel-listing threshold (32 paths) soon."""
    db = _db(spark, tmp_path, True)
    db.create_index(num_clusters=8, calibrate=False)
    for b in range(3):
        db.insert(
            [{"text": f"batch {b} doc {i}", "n": 1000 + 10 * b + i} for i in range(8)],
            embed_field="text",
        )
    qv = [0.1] * 16
    db.query(qv, k=K)  # warm-up
    _, jobs = jobs_in_group(spark, lambda: db.query(qv, k=K))
    assert len(jobs) == 1
