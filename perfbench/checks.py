"""Output checks. Each returns a list of problems; an empty list means the
output is correct. A non-empty list counts as one failed check."""

from __future__ import annotations

from perfbench.corpus import TOL, Corpus, content_id

#: the lowest mean recall@10 over a set of IVF queries. At the calibrated
#: nprobe the measured mean is 0.97-0.995 over 256 queries, yet about 1% of
#: single queries miss entirely (recall 0). A floor of 0.5 lets a mean over as
#: few as two queries absorb one such miss; a path that returns the wrong
#: neighbours (recall near 0) still fails.
RECALL_FLOOR = 0.5


def check_exact(rows: list[tuple[str, float]], corpus: Corpus, qvec, k: int, filters=None) -> list[str]:
    """Exact top-k: the ids of numpy's top-k in (distance, id) order, with
    distances within TOL. Only rows tied within TOL may trade places."""
    want = corpus.topk(qvec, k, filters)
    problems = check_distances(rows, corpus, qvec)
    if len(rows) != min(k, len(want)):
        return problems + [f"expected {min(k, len(want))} rows, got {len(rows)}"]
    for pos, ((gid, gd), (wid, wd)) in enumerate(zip(rows, want)):
        if gid != wid and abs(gd - wd) > TOL:
            problems.append(f"rank {pos}: got {gid} at {gd:.6f}, expected {wid} at {wd:.6f}")
    return problems


def check_distances(rows: list[tuple[str, float]], corpus: Corpus, qvec) -> list[str]:
    """Rows are distinct corpus ids, in ascending distance, each distance
    equal to numpy's for that id (any approximate top-k must pass this)."""
    problems = []
    d = corpus.distances(qvec)
    seen = set()
    prev = -1.0
    for gid, gd in rows:
        r = corpus.row(gid)
        if r is None:
            problems.append(f"id {gid} is not in the table")
            continue
        if gid in seen:
            problems.append(f"id {gid} returned twice")
        seen.add(gid)
        if abs(gd - d[r]) > TOL:
            problems.append(f"id {gid}: distance {gd:.6f}, numpy says {d[r]:.6f}")
        if gd < prev - TOL:
            problems.append(f"id {gid}: distances not ascending")
        prev = gd
    return problems


def recall(rows: list[tuple[str, float]], corpus: Corpus, qvec, k: int) -> float:
    want = {i for i, _ in corpus.topk(qvec, k)[:k]}
    return len(want & {i for i, _ in rows}) / max(len(want), 1)


def check_ann(rows: list[tuple[str, float]], corpus: Corpus, qvec, k: int) -> tuple[list[str], float]:
    """An approximate top-k: exactly k rows that pass ``check_distances``.
    Returns the problems and the recall against the exact top-k."""
    problems = check_distances(rows, corpus, qvec)
    if len(rows) != k:
        problems.append(f"expected {k} rows, got {len(rows)}")
    return problems, recall(rows, corpus, qvec, k)


def check_mean_recall(recalls: list[float], k: int) -> list[str]:
    """The mean recall@k of a set of IVF queries is at least ``RECALL_FLOOR``."""
    mean = sum(recalls) / len(recalls)
    return [] if mean >= RECALL_FLOOR else [f"mean recall@{k} {mean:.3f} over {len(recalls)} queries is below {RECALL_FLOOR}"]


def check_hybrid(rows: list[tuple[str, float]], corpus: Corpus, k: int) -> list[str]:
    """Fused results: k distinct corpus ids in descending score."""
    problems = []
    if len(rows) != k:
        problems.append(f"expected {k} rows, got {len(rows)}")
    ids = [i for i, _ in rows]
    if len(set(ids)) != len(ids):
        problems.append("duplicate ids")
    problems += [f"id {i} is not in the table" for i in ids if corpus.row(i) is None]
    scores = [s for _, s in rows]
    if scores != sorted(scores, reverse=True):
        problems.append("scores not descending")
    return problems


class TableModel:
    """Read-your-writes model of a mutable table: what every read after a
    write must see."""

    def __init__(self) -> None:
        self.rows: dict[str, tuple[dict, object]] = {}

    def insert(self, docs: list[tuple[str, dict, object]]) -> int:
        """Apply an insert; returns how many rows were new (re-sent
        duplicates add nothing)."""
        new = [d for d in docs if d[0] not in self.rows]
        self.rows.update((i, (m, v)) for i, m, v in new)
        return len(new)

    def delete(self, ids: list[str]) -> None:
        for i in ids:
            del self.rows[i]

    def update(self, old_id: str, patch: dict) -> str:
        """Apply a metadata patch; the row is re-keyed by its new content."""
        meta, vec = self.rows.pop(old_id)
        meta = {**meta, **patch}
        new_id = content_id(meta)
        self.rows[new_id] = (meta, vec)
        return new_id

    def corpus(self) -> Corpus:
        ids = list(self.rows)
        return Corpus(ids, [self.rows[i][0] for i in ids], [self.rows[i][1] for i in ids])

    def check_count(self, n: int) -> list[str]:
        return [] if n == len(self.rows) else [f"num_rows {n}, model says {len(self.rows)}"]

    def check_rows(self, rows: list[tuple[str, dict]]) -> list[str]:
        """Every (id, metadata) a read returned is a live row with its
        latest metadata: deleted ids stay gone and patches are visible."""
        problems = []
        for i, meta in rows:
            if i not in self.rows:
                problems.append(f"id {i} is deleted or unknown but visible")
            elif self.rows[i][0] != meta:
                problems.append(f"id {i} reads {meta}, expected {self.rows[i][0]}")
        return problems
