"""Versioned text-index snapshots (round-6 verdict item #2).

The sidecar keeps a writer-recorded LEDGER of verified (base version →
postings version, n, dl_sum) pairs: ``query_hybrid(version=N,
use_text_index=True)`` serves the recorded pair byte-equal to the scan path
at N.  Soundness is contiguity-based (``synced_through`` + ``pending``), not
totals-based — postings rows are per-(doc, term), so unlike the __ivf stamp
no after-the-fact totals check can verify a pairing; every race that would
make an entry unverifiable must FAIL CLOSED to "no entry" instead.
"""

from __future__ import annotations

import pytest

from modal_vector_db_spark.engine import VectorDB
from modal_vector_db_spark.sources import versioned as vcat


# Long-tail suite (round-13): deselected by default via pytest.ini (-m "not slow");
# run everything with  python -m pytest tests/ -m "" -q
pytestmark = pytest.mark.slow


def _db(spark, tmp_path, name, rows=12):
    db = VectorDB(
        spark, name, embedding_dim=16, warehouse=str(tmp_path),
        create_new_table=True, versioned=True,
    )
    db.insert(
        [{"text": f"alpha bravo doc{i} token{i % 3}", "n": i} for i in range(rows)],
        embed_field="text",
    )
    return db


def _scores(res):
    return [(r.id, r.distance) for r in res]


def test_time_travel_hybrid_serves_verified_pairs(spark, tmp_path):
    """Every insert commit gets a ledger entry; index reads at EACH version
    are byte-equal to the scan path at that version (scores included —
    calibration stats are the historical ones, not the head's)."""
    db = _db(spark, tmp_path, "vtt")
    db.create_text_index(text_field="text")
    db.insert([{"text": "alpha charlie newdoc1", "n": 100}], embed_field="text")
    db.insert([{"text": "bravo delta newdoc2", "n": 101}], embed_field="text")
    head = vcat.current_version(db.name, db.warehouse)
    meta = db._read_text_meta()
    assert meta["synced_through"] == head
    # entries exist for the index-build version and both later commits
    assert {int(k) for k in meta["history"]} >= {head - 2, head - 1, head}
    for v in (head - 2, head - 1, head):
        scan = db.query_hybrid("alpha bravo", k=5, version=v)
        idx = db.query_hybrid("alpha bravo", k=5, version=v, use_text_index=True)
        assert _scores(idx) == _scores(scan), v
    # head read (version omitted) still serves the live index
    assert _scores(db.query_hybrid("alpha bravo", k=5, use_text_index=True)) == _scores(
        db.query_hybrid("alpha bravo", k=5)
    )


def test_mutations_record_new_pairs_and_history_stays_valid(spark, tmp_path):
    """Takedown delete and relabel update keep the index incrementally AND
    extend the ledger; older versions keep serving their own snapshots
    (immutable postings manifests)."""
    db = _db(spark, tmp_path, "vmut")
    db.create_text_index(text_field="text")
    v_built = vcat.current_version(db.name, db.warehouse)
    assert db.delete({"n": 3}) == 1
    assert db.update({"n": 5}, {"text": "alpha zulu patched"}, embed_field="text") == 1
    head = vcat.current_version(db.name, db.warehouse)
    meta = db._read_text_meta()
    assert meta.get("text_mutation_pending") is None
    assert meta["synced_through"] == head
    for v in (v_built, head - 1, head):
        scan = db.query_hybrid("alpha bravo", k=8, version=v)
        idx = db.query_hybrid("alpha bravo", k=8, version=v, use_text_index=True)
        assert _scores(idx) == _scores(scan), v
    # the deleted doc ranks at v_built but not at head — real time travel
    ids_old = {r.id for r in db.query_hybrid("doc3", k=3, version=v_built, use_text_index=True)}
    ids_new = {r.id for r in db.query_hybrid("doc3", k=3, use_text_index=True)}
    assert ids_old != ids_new


def test_missing_sync_stalls_ledger_fail_closed(spark, tmp_path, monkeypatch):
    """A crashed insert (base committed, postings sync never ran) makes that
    version — and every LATER version — unverifiable: the contiguous prefix
    stalls, so no new ledger entries appear (wrong entries would be worse).
    A rebuild opens a clean verified generation."""
    db = _db(spark, tmp_path, "vgap")
    db.create_text_index(text_field="text")
    monkeypatch.setattr(
        VectorDB, "_sync_text_index_for_append", lambda self, b, base_version=None: None
    )
    db.insert([{"text": "alpha gap lostdoc", "n": 200}], embed_field="text")
    monkeypatch.undo()
    v_gap = vcat.current_version(db.name, db.warehouse)
    db.insert([{"text": "alpha after afterdoc", "n": 201}], embed_field="text")
    v_after = vcat.current_version(db.name, db.warehouse)
    meta = db._read_text_meta()
    assert meta["synced_through"] == v_gap - 1
    # pending now maps base version -> that sync's own postings commit
    assert set(meta["pending"]) == {str(v_after)}
    assert meta["pending"][str(v_after)] is not None
    for v in (v_gap, v_after):
        with pytest.raises(ValueError, match="no verified text-index snapshot"):
            db.query_hybrid("alpha", k=3, version=v, use_text_index=True)
    # pre-gap versions still serve
    assert str(v_gap - 1) in meta["history"]
    scan = db.query_hybrid("alpha", k=3, version=v_gap - 1)
    idx = db.query_hybrid("alpha", k=3, version=v_gap - 1, use_text_index=True)
    assert _scores(idx) == _scores(scan)
    # rebuild = the recovery point: head becomes verified again
    db.create_text_index(text_field="text")
    meta = db._read_text_meta()
    assert meta["synced_through"] == v_after
    idx = db.query_hybrid("alpha", k=3, version=v_after, use_text_index=True)
    scan = db.query_hybrid("alpha", k=3, version=v_after)
    assert _scores(idx) == _scores(scan)


def test_raced_mutation_window_fails_closed(spark, tmp_path, monkeypatch):
    """A crash between update()'s postings shrink and its base commit leaks
    text_mutation_pending: head indexed reads redirect to the LAST verified
    pair (pre-mutation snapshot — agrees with the scan, half-shrunk
    postings invisible), explicit version reads keep serving their entries,
    and NO ledger entry is ever recorded for the never-committed version."""
    db = _db(spark, tmp_path, "vrace")
    db.create_text_index(text_field="text")
    head_before = vcat.current_version(db.name, db.warehouse)
    hist_before = dict(db._read_text_meta()["history"])

    real_replace = vcat.replace_where

    def crash_base(spark_, name, *a, **k):
        if name == db.name:
            raise RuntimeError("simulated crash before the base commit")
        return real_replace(spark_, name, *a, **k)

    monkeypatch.setattr(vcat, "replace_where", crash_base)
    monkeypatch.setattr(
        VectorDB, "_drop_text_index", lambda self: None
    )
    with pytest.raises(RuntimeError, match="simulated crash"):
        db.update({"n": 5}, {"text": "alpha zulu patched"}, embed_field="text")
    monkeypatch.undo()

    meta = db._read_text_meta()
    assert int(meta.get("text_mutation_pending") or 0) >= 1  # window leaked open
    assert meta["history"] == hist_before  # fail closed: nothing recorded
    # head indexed read = last verified pair = pre-mutation state = scan
    scan = db.query_hybrid("alpha bravo", k=5)
    idx = db.query_hybrid("alpha bravo", k=5, use_text_index=True)
    assert _scores(idx) == _scores(scan)
    # the shrunk HEAD postings are NOT what gets served: a query for the
    # doomed doc's own term still finds it through the pinned pair (the
    # half-shrunk head postings have no doc5 row at all)
    idx_doc5 = db.query_hybrid("doc5", k=3, use_text_index=True)
    assert any("doc5" in str(r.metadata) for r in idx_doc5)
    # explicit version read still works
    idx_v = db.query_hybrid(
        "alpha bravo", k=5, version=head_before, use_text_index=True
    )
    assert _scores(idx_v) == _scores(scan)
    # with no verified pair for the head, the head read fails LOUDLY
    import json as _json

    sidecar = db._text_meta_path()
    with open(sidecar) as f:
        saved = _json.load(f)
    stripped = dict(saved)
    stripped["history"] = {}
    db._write_text_meta(stripped)
    with pytest.raises(ValueError, match="mutation window is open"):
        db.query_hybrid("alpha bravo", k=5, use_text_index=True)
    db._write_text_meta(saved)
    # rebuild clears the leaked window and re-verifies the head
    db.create_text_index(text_field="text")
    meta = db._read_text_meta()
    assert meta.get("text_mutation_pending") is None
    assert meta["synced_through"] == vcat.current_version(db.name, db.warehouse)


def test_raced_writer_poisons_instead_of_guessing(spark, tmp_path, monkeypatch):
    """If another commit lands between a mutation's base commit and its
    window close, 'whose postings are these' is no longer provable: the
    finalizer must POISON tracking (synced_through=None, no entry), never
    record a guessed pair."""
    db = _db(spark, tmp_path, "vpoisn")
    db.create_text_index(text_field="text")

    real_end = VectorDB._end_text_mutation

    def end_with_race(self, expected_version, n_dec, dl_dec, pv=None):
        # a writer races past before the window closes
        self.insert([{"text": "alpha raced racer", "n": 300}], embed_field="text")
        return real_end(self, expected_version, n_dec, dl_dec, pv)

    monkeypatch.setattr(VectorDB, "_end_text_mutation", end_with_race)
    db.delete({"n": 3})
    monkeypatch.undo()
    meta = db._read_text_meta()
    assert meta["synced_through"] is None  # poisoned, not guessed
    head = vcat.current_version(db.name, db.warehouse)
    with pytest.raises(ValueError, match="no verified text-index snapshot"):
        db.query_hybrid("alpha", k=3, version=head, use_text_index=True)
    # head (version omitted) still serves live postings — only the
    # VERIFIED-snapshot surface is withdrawn
    scan = db.query_hybrid("alpha bravo", k=5)
    idx = db.query_hybrid("alpha bravo", k=5, use_text_index=True)
    assert _scores(idx) == _scores(scan)


def test_vacuum_prunes_text_ledger(spark, tmp_path):
    db = _db(spark, tmp_path, "vvac")
    db.create_text_index(text_field="text")
    for i in range(4):
        db.insert([{"text": f"alpha extra{i}", "n": 400 + i}], embed_field="text")
    head = vcat.current_version(db.name, db.warehouse)
    old = head - 3
    assert str(old) in db._read_text_meta()["history"]
    db.vacuum(keep_versions=1, orphan_grace_s=0.0)
    meta = db._read_text_meta()
    assert str(old) not in meta["history"]
    assert str(head) in meta["history"]
    with pytest.raises(ValueError, match="no verified text-index snapshot"):
        db.query_hybrid("alpha", k=3, version=old, use_text_index=True)
    scan = db.query_hybrid("alpha", k=3, version=head)
    idx = db.query_hybrid("alpha", k=3, version=head, use_text_index=True)
    assert _scores(idx) == _scores(scan)


def test_reembed_marks_head_pair(spark, tmp_path):
    """A model migration keeps ids+text, so the head postings stay exactly
    valid — the new commit gets a ledger entry without any postings write."""
    db = _db(spark, tmp_path, "vremb")
    db.create_text_index(text_field="text")
    db.reembed(embedding_dim=32)
    head = vcat.current_version(db.name, db.warehouse)
    meta = db._read_text_meta()
    assert meta["synced_through"] == head
    assert str(head) in meta["history"]
    scan = db.query_hybrid("alpha bravo", k=5, version=head)
    idx = db.query_hybrid("alpha bravo", k=5, version=head, use_text_index=True)
    assert _scores(idx) == _scores(scan)


def test_ledger_invariant_under_random_mutation_sequence(spark, tmp_path):
    """Property check across a seeded random op sequence (insert / takedown
    delete / relabel update / reembed): after EVERY op, EVERY ledger entry
    (v -> postings_v, n, dl_sum) must satisfy

      postings@postings_v's doc-id set == base@v's textful doc-id set
      n == |that set|

    — the exactness contract the whole time-travel surface rests on.  Ops
    run through the public facade only; no protocol internals are touched."""
    import random

    db = _db(spark, tmp_path, "vprop", rows=10)
    db.create_text_index(text_field="text")
    rng = random.Random(42)
    next_n = 1000

    for step in range(8):
        op = rng.choice(["insert", "delete", "update", "reembed"])
        if op == "insert":
            db.insert(
                [{"text": f"alpha step{step} tok{next_n}", "n": next_n}],
                embed_field="text",
            )
            next_n += 1
        elif op == "delete":
            db.delete({"n": rng.randrange(0, 10)})
        elif op == "update":
            db.update(
                {"n": rng.randrange(0, 10)},
                {"text": f"alpha patched step{step}", "n": next_n},
                embed_field="text",
            )
            next_n += 1
        else:
            db.reembed(embedding_dim=16)

        meta = db._read_text_meta()
        assert meta is not None, op
        for v_str, (pv, n, dl_sum) in meta.get("history", {}).items():
            v = int(v_str)
            base_ids = {
                r["id"]
                for r in db._text_docs(
                    vcat.read_table(spark, db.name, db.warehouse, version=v), "text"
                )
                .select("id")
                .collect()
            }
            post_ids = {
                r["id"]
                for r in vcat.read_table(
                    spark, db.name + "__text", db.warehouse, version=int(pv)
                )
                .select("id")
                .distinct()
                .collect()
            }
            assert post_ids == base_ids, (step, op, v)
            assert int(n) == len(base_ids), (step, op, v)
        # the head must stay queryable through BOTH paths whenever a pair
        # exists for it (single-writer sequence: it always should, except
        # right after ops that drop the index)
        head = vcat.current_version(db.name, db.warehouse)
        if str(head) in meta.get("history", {}):
            a = db.query_hybrid("alpha", k=5, version=head)
            b = db.query_hybrid("alpha", k=5, version=head, use_text_index=True)
            assert _scores(a) == _scores(b), (step, op)


def test_mark_records_own_postings_version_not_racers(spark, tmp_path, monkeypatch):
    """Round-7 fix for the round-6 TOCTOU (verdict #1): a concurrent CAS
    writer C commits base v+1 AND lands its postings append BETWEEN the
    mark's base-head read and its recording.  The old mark then read
    ``current_version(__text)`` — C's postings version — and recorded a
    pair whose postings include C's base-(v+1) docs: indexed reads at v
    silently deviated from the scan path.  The fix threads each sync's
    OWN postings commit version through the mark (pending maps base
    version → postings version; the recorded pv is the prefix max), so
    the entry for v must be A's postings version — byte-equal to scan."""
    import json as _json
    import uuid as _uuid

    from modal_vector_db_spark.operators.hybrid import build_text_postings

    db = _db(spark, tmp_path, "vtoctou")
    db.create_text_index(text_field="text")
    meta0 = db._read_text_meta()

    # C's raw commits, prepared up front: one base row + its postings.
    # (In the live race C's engine-level sync would BLOCK on the sidecar
    # lock A holds — the raw appends model exactly the pre-lock window.)
    base_df = vcat.read_table(spark, db.name, db.warehouse)
    donor = base_df.limit(1).collect()[0]
    c_meta = _json.dumps({"text": "alpha intruder zig", "n": 999})
    c_base = spark.createDataFrame(
        [(str(_uuid.uuid4()), c_meta, list(donor["embedding"]))], base_df.schema
    )
    c_postings = build_text_postings(
        db._text_docs(c_base, "text"), id_col="id", text_col="text",
        buckets=meta0["buckets"],
    ).localCheckpoint(eager=True)

    state = {"armed": False, "fired": False}
    real_cv = vcat.current_version

    def cv(name, warehouse=None):
        v = real_cv(name, warehouse)
        if state["armed"] and not state["fired"] and name == db.name:
            state["fired"] = True  # guard BEFORE the recursive appends
            vcat.append(c_base, db.name, db.warehouse)
            vcat.append(
                c_postings, db.name + "__text", db.warehouse,
                partition_by=["bucket"], stats_cols=[],
            )
        return v

    real_mark = VectorDB._text_ledger_mark

    def mark(self, meta, v, pv=None):
        state["armed"] = True
        try:
            return real_mark(self, meta, v, pv)
        finally:
            state["armed"] = False

    monkeypatch.setattr(vcat, "current_version", cv)
    monkeypatch.setattr(VectorDB, "_text_ledger_mark", mark)
    db.insert([{"text": "alpha omega adoc", "n": 500}], embed_field="text")
    monkeypatch.undo()
    assert state["fired"], "the injected race never ran — test is vacuous"

    v_a = vcat.current_version(db.name, db.warehouse) - 1  # A's commit; C took +1
    meta = db._read_text_meta()
    ent = meta.get("history", {}).get(str(v_a))
    if ent is not None:
        # recorded pv must hold EXACTLY base@v_a's textful docs (no C doc)
        base_ids = {
            r["id"]
            for r in db._text_docs(
                vcat.read_table(spark, db.name, db.warehouse, version=v_a), "text"
            ).select("id").collect()
        }
        post_ids = {
            r["id"]
            for r in vcat.read_table(
                spark, db.name + "__text", db.warehouse, version=int(ent[0])
            ).select("id").distinct().collect()
        }
        assert post_ids == base_ids
        scan = db.query_hybrid("alpha", k=8, version=v_a)
        idx = db.query_hybrid("alpha", k=8, version=v_a, use_text_index=True)
        assert _scores(idx) == _scores(scan)
    # C's commit never synced (raw appends): it must NOT have an entry
    assert str(v_a + 1) not in meta.get("history", {})


def test_shrink_uses_antijoin_past_isin_cap(spark, tmp_path, monkeypatch):
    """Past ``_TEXT_ISIN_MAX`` the postings shrink must drop doomed ids via
    a broadcast anti-join, not an N-literal ``isin`` (at the 100k sync cap
    an InSet is a 100k-node expression tree serialized to every task) —
    round-6 verdict #2.  The plan of the staged replacement frame is the
    proof: a LeftAnti join, no IN/INSET."""
    db = _db(spark, tmp_path, "vanti")
    db.create_text_index(text_field="text")
    monkeypatch.setattr(VectorDB, "_TEXT_ISIN_MAX", 2)
    captured = {}
    real_rf = vcat.replace_files

    def spy(df, name, touched, *a, **k):
        if name == db.name + "__text":
            captured["plan"] = df._jdf.queryExecution().toString()
        return real_rf(df, name, touched, *a, **k)

    monkeypatch.setattr(vcat, "replace_files", spy)
    removed = db.delete({"n": ("<", 4)})
    monkeypatch.undo()
    assert removed == 4
    plan = captured["plan"]
    assert "LeftAnti" in plan
    assert "INSET" not in plan and " IN (" not in plan
    # semantics unchanged: the ledger recorded the delete's own commit
    head = vcat.current_version(db.name, db.warehouse)
    meta = db._read_text_meta()
    assert meta["synced_through"] == head
    scan = db.query_hybrid("alpha bravo", k=5, version=head)
    idx = db.query_hybrid("alpha bravo", k=5, version=head, use_text_index=True)
    assert _scores(idx) == _scores(scan)


def test_ledger_invariant_under_two_thread_interleavings(spark, tmp_path, monkeypatch):
    """Adversarial generalization of the random-sequence property test
    (round-6 verdict #6): TWO writer threads race real CAS inserts /
    takedown deletes / relabel updates while injected delays widen the
    windows around the ledger mark's reads.  Invariant after every round:
    every recorded (base, pv) pair satisfies postings@pv's doc-id set ==
    base@base's textful doc-id set (the byte-equality precondition) —
    entries may be MISSING (fail closed), never wrong.  Stable across 50
    seeded rounds."""
    import random
    import threading
    import time

    db1 = _db(spark, tmp_path, "vthreads", rows=8)
    db1.create_text_index(text_field="text")
    db2 = VectorDB(
        spark, "vthreads", embedding_dim=16, warehouse=str(tmp_path),
        versioned=True,
    )

    # delay injection: widen the pre-lock and in-mark windows
    real_mark = VectorDB._text_ledger_mark
    real_cv = vcat.current_version
    dly = random.Random(7)
    dlock = threading.Lock()

    def jitter(p=0.3, hi=0.008):
        with dlock:
            r, d = dly.random(), dly.uniform(0.0, hi)
        if r < p:
            time.sleep(d)

    def mark(self, meta, v, pv=None):
        jitter(0.5)
        return real_mark(self, meta, v, pv)

    def cv(name, warehouse=None):
        v = real_cv(name, warehouse)
        jitter(0.2, 0.004)
        return v

    monkeypatch.setattr(VectorDB, "_text_ledger_mark", mark)
    monkeypatch.setattr(vcat, "current_version", cv)

    verified: set[tuple] = set()
    next_n = [10_000]

    def run_op(db, rng_seed, errs):
        rng = random.Random(rng_seed)
        try:
            op = rng.choice(["insert", "insert", "insert", "delete", "update"])
            if op == "insert":
                n = next_n[0]
                next_n[0] += 1  # benign race: uniqueness only needs distinct texts
                db.insert(
                    [{"text": f"alpha mixed tok{n} s{rng_seed}", "n": n}],
                    embed_field="text",
                )
            elif op == "delete":
                db.delete({"n": rng.randrange(0, 8)})
            else:
                n = next_n[0]
                next_n[0] += 1
                db.update(
                    {"n": rng.randrange(0, 8)},
                    {"text": f"alpha patched tok{n}", "n": n},
                    embed_field="text",
                )
        except vcat.ConcurrentWriteError:
            pass  # replace-shaped op lost its OCC race: legal, caller retries
        except Exception as e:  # noqa: BLE001 — surface in the main thread
            if "FILE_NOT_EXIST" in str(e) or "does not exist" in str(e):
                # the OTHER thread's failed mutation dropped the text index
                # (rebuild-loudly recovery rmtree) while this op was reading
                # it — the documented loud failure; this op is retryable
                return
            errs.append(e)

    for seed in range(50):
        errs: list = []
        t1 = threading.Thread(target=run_op, args=(db1, 2 * seed, errs))
        t2 = threading.Thread(target=run_op, args=(db2, 2 * seed + 1, errs))
        t1.start(); t2.start(); t1.join(); t2.join()
        assert not errs, (seed, errs)

        meta = db1._read_text_meta()
        if meta is None:
            # a lost-race delete/update dropped the index (rebuild-loudly
            # contract) — rebuild and continue racing
            db1.create_text_index(text_field="text")
            meta = db1._read_text_meta()
        for v_str, (pv, n, _dl) in meta.get("history", {}).items():
            key = (v_str, int(pv), int(n))
            if key in verified:
                continue
            base_ids = {
                r["id"]
                for r in db1._text_docs(
                    vcat.read_table(spark, db1.name, db1.warehouse, version=int(v_str)),
                    "text",
                ).select("id").collect()
            }
            post_ids = {
                r["id"]
                for r in vcat.read_table(
                    spark, db1.name + "__text", db1.warehouse, version=int(pv)
                ).select("id").distinct().collect()
            }
            assert post_ids == base_ids, (seed, v_str, pv)
            assert int(n) == len(base_ids), (seed, v_str)
            verified.add(key)
        # bound history growth (and exercise the locked ledger prune)
        if seed % 5 == 4:
            db1.vacuum(keep_versions=3, orphan_grace_s=3600.0)
    monkeypatch.undo()


def test_update_to_textless_patch_records_shrunk_postings(spark, tmp_path):
    """Regression (round-7 review find): an update whose patch REMOVES the
    text field re-adds zero postings, so the re-add sync marks (v, None)
    and advances the prefix past v — the finalizer's (v, pv_shrink) must
    still reach max_pv, or the recorded pair points at PRE-shrink postings
    that contain the re-keyed doc and the indexed read silently deviates
    from the scan path at v."""
    db = _db(spark, tmp_path, "vtxless")
    db.create_text_index(text_field="text")
    # relabel doc n=4 to a TEXTLESS row (patch removes the text key)
    assert db.update({"n": 4}, {"text": None, "n": 400}) == 1
    head = vcat.current_version(db.name, db.warehouse)
    meta = db._read_text_meta()
    assert meta["synced_through"] == head
    ent = meta.get("history", {}).get(str(head))
    assert ent is not None
    # the recorded postings version must EXCLUDE the shrunk doc
    base_ids = {
        r["id"]
        for r in db._text_docs(
            vcat.read_table(spark, db.name, db.warehouse, version=head), "text"
        ).select("id").collect()
    }
    post_ids = {
        r["id"]
        for r in vcat.read_table(
            spark, db.name + "__text", db.warehouse, version=int(ent[0])
        ).select("id").distinct().collect()
    }
    assert post_ids == base_ids
    # and byte-equality of the read paths at the recorded version
    scan = db.query_hybrid("alpha doc4", k=8, version=head)
    idx = db.query_hybrid("alpha doc4", k=8, version=head, use_text_index=True)
    assert _scores(idx) == _scores(scan)
