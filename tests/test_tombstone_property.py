"""Randomized equivalence walk for merge-on-read deletes: a seeded
sequence of inserts / MoR deletes / eager deletes / folds / rollbacks
applied to TWIN tables — one always-eager, one threshold-MoR — must
leave the two logically identical at every step.  The strongest form of
the "byte-equal to eager" contract: not one pinned scenario, but any
interleaving the engine's public surface can produce."""

from __future__ import annotations

import uuid as _uuid

import numpy as np
import pytest

from modal_vector_db_spark.engine import VectorDB
from modal_vector_db_spark.sources import versioned as vcat


# Long-tail suite (round-13): deselected by default via pytest.ini (-m "not slow");
# run everything with  python -m pytest tests/ -m "" -q
pytestmark = pytest.mark.slow


def _ids(db):
    return sorted(r["id"] for r in db.items().select("id").collect())


def _mk(spark, tmp_path, tag):
    return VectorDB(
        spark, f"walk_{tag}_{_uuid.uuid4().hex[:6]}", embedding_dim=8,
        warehouse=str(tmp_path), create_new_table=True, versioned=True,
    )


@pytest.mark.parametrize("seed", [3, 11])
def test_random_walk_mor_equals_eager(spark, tmp_path, seed):
    rng = np.random.default_rng(seed)
    a = _mk(spark, tmp_path, "mor")   # MoR-defaulting twin
    b = _mk(spark, tmp_path, "eag")   # forced-eager twin
    b._TOMBSTONE_MAX_IDS = 0
    next_n = 0
    live: set[int] = set()
    checkpoints: list[int] = []  # versions to time-travel back to

    def insert(k):
        nonlocal next_n
        batch = [{"n": next_n + i, "text": f"w {next_n + i}"} for i in range(k)]
        next_n += k
        for db in (a, b):
            db.insert(batch, embed_field="text")
        live.update(m["n"] for m in batch)

    insert(30)
    for step in range(8):
        op = rng.choice(["insert", "mor_delete", "eager_delete", "fold", "reinsert"])
        if op == "insert":
            insert(int(rng.integers(3, 10)))
        elif op in ("mor_delete", "eager_delete") and live:
            k = int(rng.integers(1, min(6, len(live)) + 1))
            victims = sorted(rng.choice(sorted(live), size=k, replace=False).tolist())
            filt = {"n": ("in", victims)}
            a._TOMBSTONE_MAX_IDS = VectorDB._TOMBSTONE_MAX_IDS if op == "mor_delete" else 0
            ra = a.delete(filt)
            rb = b.delete(filt)
            assert ra == rb == k, (step, op, victims)
            live.difference_update(victims)
        elif op == "fold":
            a._fold_tombstones()  # no-op when no mask; b never has one
        elif op == "reinsert" and (next_n - len(live)) > 0:
            # resurrect one previously-deleted row: content-id re-add
            dead = sorted(set(range(next_n)) - live)
            n = int(rng.choice(dead))
            for db in (a, b):
                db.insert([{"n": n, "text": f"w {n}"}], embed_field="text")
            live.add(n)
        # invariant after every step: logical views identical
        assert a.num_rows() == b.num_rows() == len(live), (step, op)
        assert _ids(a) == _ids(b), (step, op)
        checkpoints.append(vcat.current_version(a.name, a.warehouse))

    # a query and a filtered query agree at the end state
    qa = a.query("w 7", k=5)
    qb = b.query("w 7", k=5)
    assert [(r.id, round(r.distance, 9)) for r in qa] == [
        (r.id, round(r.distance, 9)) for r in qb
    ]
    # and the MoR twin's own history is self-consistent: every version's
    # manifest count equals its masked read
    for v in checkpoints[-3:]:
        m = vcat.manifest_row_count(a.name, a.warehouse, version=v)
        assert m == a.read_version(v).count()


def test_indexed_time_travel_across_tombstone_commits(spark, tmp_path):
    """query(version=N, use_index=True) composes with the mask: the stamp
    history records verified pairs for tombstone commits (__ivf shrank
    for real, base shrank logically — totals agree), and both the pre-
    and post-delete versions serve indexed results equal to their exact
    scans."""
    db = _mk(spark, tmp_path, "tt")
    db.insert([{"n": i, "text": f"d {i}"} for i in range(60)], embed_field="text")
    db.create_index(num_clusters=3, calibrate=False)
    v_pre = vcat.current_version(db.name, db.warehouse)
    assert db.delete({"n": ("in", [5, 6, 7])}) == 3
    v_post = vcat.current_version(db.name, db.warehouse)
    assert v_post == v_pre + 1
    # one more insert so the head moves past the tombstone commit and the
    # stamp history gains the post-delete pair
    db.insert([{"n": 100, "text": "d 100"}], embed_field="text")

    tt = set(db.index_stats()["time_travel_versions"])
    assert v_post in tt
    for v in sorted(tt & {v_pre, v_post}):
        exact = db.query("d 6", k=8, version=v)
        idx = db.query("d 6", k=8, version=v, use_index=True, nprobe=3)
        assert [r.id for r in idx] == [r.id for r in exact], v
    # the post-delete snapshot must not contain the masked rows
    post = db.query("d 6", k=8, version=v_post, use_index=True, nprobe=3)
    assert all(r.metadata["n"] not in (5, 6, 7) for r in post)
    # the pre-delete snapshot (if servable) must contain them
    if v_pre in tt:
        pre = db.query("d 6", k=8, version=v_pre, use_index=True, nprobe=3)
        assert any(r.metadata["n"] == 6 for r in pre)
