from __future__ import annotations

import os
import sys
import uuid

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()

# The reference demo's 898-record nested-JSON dataset (FIXTURES.md). It is
# not part of the repository, so the tests that read it skip where it is
# absent and run unchanged wherever it exists.
POKEMON = "/root/reference/data/pokemon.json"
HAVE_POKEMON = os.path.exists(POKEMON)
POKEMON_MISSING = f"reference dataset {POKEMON} is absent"
needs_pokemon = pytest.mark.skipif(not HAVE_POKEMON, reason=POKEMON_MISSING)


def require_pokemon():
    """Skip the calling fixture's tests where the reference dataset is absent."""
    if not HAVE_POKEMON:
        pytest.skip(POKEMON_MISSING)


@pytest.fixture(scope="session")
def spark():
    from modal_vector_db_spark.session import get_spark

    s = get_spark("tests", shuffle_partitions=8)
    yield s


def jobs_in_group(spark, fn):
    """Run ``fn`` under a fresh job group; return (result, its job ids)."""
    sc = spark.sparkContext
    gid = f"jobs-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(gid, gid)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, list(sc.statusTracker().getJobIdsForGroup(gid))


def executed_plans(spark, fn):
    """Run ``fn``; return the physical plan text of every SQL execution it
    ran, from the session's SQL status store.  Executions are picked by
    ``executionId``, not by count offset: the store keeps at most
    ``spark.sql.ui.retainedExecutions`` entries, so once it is full the
    count stops growing while old entries are evicted."""
    store = spark._jsparkSession.sharedState().statusStore()
    last = store.executionsList(max(int(store.executionsCount()) - 1, 0), 1)
    seen = last.apply(0).executionId() if last.size() else -1
    fn()
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    runs = store.executionsList(0, 1 << 20)
    plans = []
    for i in reversed(range(runs.size())):  # ascending executionId
        run = runs.apply(i)
        if run.executionId() <= seen:
            break
        plans.append(run.physicalPlanDescription())
    return plans[::-1]


@pytest.fixture(scope="session")
def duck():
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')")
    yield con
    con.close()


def canon(v):
    if v is None:
        return None
    if isinstance(v, float) and v != v:  # NaN (duckdb NULLs surface as NaN)
        return None
    if isinstance(v, bool):
        return v
    if isinstance(v, (int, float)):
        return float(v)
    return v


def normalize(pdf):
    pdf = pdf[sorted(pdf.columns)]
    rows = [tuple(canon(v) for v in row) for row in pdf.itertuples(index=False, name=None)]
    return sorted(rows, key=repr)


def assert_frames_match(sdf_pandas, odf_pandas, name=""):
    assert len(sdf_pandas) == len(odf_pandas), (
        f"{name}: rowcount spark={len(sdf_pandas)} duck={len(odf_pandas)}"
    )
    assert sorted(c.lower() for c in sdf_pandas.columns) == sorted(
        c.lower() for c in odf_pandas.columns
    ), f"{name}: column mismatch"
    sn, on = normalize(sdf_pandas), normalize(odf_pandas)
    assert sn == on, f"{name}: value mismatch; first diff: " + str(
        next(((a, b) for a, b in zip(sn, on) if a != b), None)
    )
