"""Filter-compiler branch coverage (SURVEY §2.2.1) against the reference's
own demo dataset (pokemon.json, 898 nested-JSON records) with DuckDB as the
semantic oracle where the reference semantics are well-defined."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from modal_vector_db_spark.operators.filters import (
    compile_filters,
    compile_where,
    filters_to_duckdb_sql,
)
from tests.conftest import POKEMON, require_pokemon


@pytest.fixture(scope="module")
def meta_df(spark):
    require_pokemon()
    with open(POKEMON) as f:
        records = json.load(f)
    rows = [(json.dumps(r),) for r in records]
    return spark.createDataFrame(rows, "metadata string").cache()


def _ids(df):
    return sorted(
        json.loads(r["metadata"])["id"] for r in df.select("metadata").collect()
    )


def _oracle_ids(filters):
    import duckdb

    con = duckdb.connect()
    with open(POKEMON) as f:
        records = json.load(f)
    con.execute("CREATE TABLE m (metadata JSON)")
    con.executemany("INSERT INTO m VALUES (?)", [(json.dumps(r),) for r in records])
    where = filters_to_duckdb_sql(filters)
    rows = con.execute(
        f"SELECT json_extract(metadata, 'id')::INT FROM m WHERE {where}"
    ).fetchall()
    return sorted(r[0] for r in rows)


BRANCH_CASES = [
    {"base.Attack": (">", 150)},                       # dotted path + theta (duckvdb.py:66-75)
    {"base.Attack": (">=", 150)},
    {"base.Attack": ("<", 20)},
    {"base.Attack": ("<=", 20)},
    {"base.Attack": ("!=", 49)},
    {"id": 1},                                          # bare numeric eq (duckvdb.py:99)
    {"species": "Seed Pokémon"},                        # string eq — intended semantics (ref bug #2 fixed)
    {"type": ("contains", "Flying")},                   # list_contains (duckvdb.py:80-89)
    {"type": ["Grass", "Poison"]},                      # bare-list semantic eq (ref bug #3 fixed)
    {"type": ("=", ["Fire", "Flying"])},                # tuple-list semantic eq
    {"base.Attack": (">", 50), "type": ("contains", "Flying")},  # conjunction (duckvdb.py:101)
    {},                                                  # empty → 1=1 (duckvdb.py:106)
    {"name.english": "Pikachu"},                         # nested string path
    {"base.Speed": (">", 100), "base.HP": ("<", 60)},
    # boolean combinators (round-5 extension: $or / $and / $not)
    {"$or": [{"base.Attack": (">", 150)}, {"base.Speed": (">", 150)}]},
    {"$not": {"type": ("contains", "Flying")}},
    {"$not": {"nope.deep": (">", 1)}},                   # NULL sub-pred: 3VL, still unmatched
    {"$or": [{"$not": {"base.HP": (">", 40)}}, {"species": "Seed Pokémon"}],
     "base.Attack": (">", 30)},                          # mixed nesting + plain term
    {"$and": [{"base.Speed": (">", 100)}, {"$or": [{"type": ("contains", "Fire")}, {"type": ("contains", "Water")}]}]},
    # round-12 extension: ("in", [...]) and ("between", (lo, hi)) on paths
    {"species": ("in", ["Seed Pokémon", "Flame Pokémon"])},
    {"id": ("in", [1, 4, 7, 9999])},
    {"base.HP": ("in", [45, 60.0])},
    {"base.Attack": ("between", (40, 60))},
    {"base.Attack": ("between", [40, 60])},           # list bounds accepted
    {"species": ("between", ("Flame Pokémon", "Seed Pokémon"))},
    {"nope.deep": ("in", [1, 2])},                     # missing path → NULL → no match
    {"nope.deep": ("between", (0, 9))},
    {"$not": {"id": ("in", [1, 2, 3])}},               # 3VL under NOT
    {"base.Speed": ("between", (100, 120)), "type": ("contains", "Fire")},
]


@pytest.mark.parametrize("filters", BRANCH_CASES, ids=[str(c) for c in BRANCH_CASES])
def test_filter_branch_matches_duckdb(meta_df, filters):
    got = _ids(meta_df.filter(compile_filters(filters)))
    want = _oracle_ids(filters)
    assert got == want, f"{filters}: spark={len(got)} duck={len(want)}"


def test_filter_demo_query(meta_df):
    """The exact filter of the reference demo (vdb.py:102)."""
    got = _ids(
        meta_df.filter(
            compile_filters({"base.Attack": (">", 50), "type": ("contains", "Flying")})
        )
    )
    assert len(got) > 0
    want = _oracle_ids({"base.Attack": (">", 50), "type": ("contains", "Flying")})
    assert got == want


def test_unsupported_operator_rejected(spark):
    """Reference splices arbitrary op strings into SQL (injection, §8 bug #1);
    we whitelist."""
    with pytest.raises(ValueError, match="unsupported filter operator"):
        compile_filters({"id": ("; DROP TABLE items;--", 1)})


def test_missing_path_is_null_not_error(meta_df):
    assert _ids(meta_df.filter(compile_filters({"nope.deep": (">", 1)}))) == []


def test_in_between_shapes_validated(meta_df):
    """in/between validate operand shapes at the API boundary, and an
    empty in-list compiles to match-nothing on both engines."""
    with pytest.raises(ValueError, match="'in' takes a list"):
        compile_filters({"id": ("in", 5)})
    with pytest.raises(ValueError, match="'in' takes a list"):
        filters_to_duckdb_sql({"id": ("in", 5)})
    with pytest.raises(ValueError, match="'between' takes"):
        compile_filters({"id": ("between", (1, 2, 3))})
    with pytest.raises(ValueError, match="'between' takes"):
        filters_to_duckdb_sql({"id": ("between", 7)})
    assert _ids(meta_df.filter(compile_filters({"id": ("in", [])}))) == []
    assert _oracle_ids({"id": ("in", [])}) == []


def test_combinator_shapes_rejected(spark):
    """$-combinators validate their clause shapes at the API boundary."""
    with pytest.raises(ValueError, match=r"\$or takes a non-empty list"):
        compile_filters({"$or": []})
    with pytest.raises(ValueError, match=r"\$or takes a non-empty list"):
        compile_filters({"$or": {"id": 1}})
    with pytest.raises(ValueError, match=r"\$not takes a filter dict"):
        compile_filters({"$not": [{"id": 1}]})
    with pytest.raises(ValueError, match="unsupported filter combinator"):
        compile_filters({"$xor": [{"id": 1}]})
    with pytest.raises(ValueError, match="unsupported filter combinator"):
        filters_to_duckdb_sql({"$xor": [{"id": 1}]})


def test_not_with_empty_subfilter(meta_df):
    """$not over the empty (match-all) filter matches nothing — on both
    engines."""
    assert _ids(meta_df.filter(compile_filters({"$not": {}}))) == []
    assert _oracle_ids({"$not": {}}) == []


def test_dsl2_field_op(spark):
    """DSL #2 (utils.py:11-60): field__op over top-level columns."""
    df = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)], "k int, s string, v double"
    )
    def ks(filters):
        return sorted(r["k"] for r in df.filter(compile_where(filters)).collect())

    assert ks({"v__gt": 15}) == [2, 3]
    assert ks({"v__gte": 20}) == [2, 3]
    assert ks({"v__lt": 15}) == [1]
    assert ks({"v__lte": 20}) == [1, 2]
    assert ks({"s__in": ["a", "c"]}) == [1, 3]
    assert ks({"v__between": (15, 25)}) == [2]
    assert ks({"k": 2}) == [2]           # default eq (utils.py:31)
    assert ks({}) == [1, 2, 3]           # empty → match all (utils.py:20)
    with pytest.raises(ValueError):
        ks({"k__regex": "x"})


# ---------------------------------------------------------------------------
# Property-based: randomized filter dicts must match DuckDB on every draw
# (SURVEY §5.2 item 3)
# ---------------------------------------------------------------------------
try:
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    _NUM_PATHS = ["base.HP", "base.Attack", "base.Defense", "base.Speed", "id"]
    _STR_PATHS = ["species", "name.english", "profile.gender"]
    _THETA = st.sampled_from([">", ">=", "<", "<=", "!=", "="])

    _num_term = st.tuples(
        st.sampled_from(_NUM_PATHS),
        st.one_of(
            st.integers(min_value=-5, max_value=200),
            st.tuples(_THETA, st.integers(min_value=-5, max_value=200)),
            # float probes: the DSL types the cast by the PROBE (not data)
            st.tuples(_THETA, st.integers(min_value=-10, max_value=400).map(lambda n: n / 2.0)),
        ),
    )
    _str_term = st.tuples(
        st.sampled_from(_STR_PATHS),
        st.sampled_from(["Seed Pokémon", "Pikachu", "Flame Pokémon", "nope", "50%:50%"]),
    )
    _contains_term = st.tuples(
        st.just("type"),
        st.tuples(st.just("contains"), st.sampled_from(["Grass", "Flying", "Fire", "Nope"])),
    )
    _TYPES = ["Grass", "Poison", "Fire", "Flying", "Water", "Nope"]
    _list_term = st.tuples(
        st.just("type"),
        st.one_of(
            st.lists(st.sampled_from(_TYPES), min_size=1, max_size=2),  # bare-list eq
            st.tuples(st.just("="), st.lists(st.sampled_from(_TYPES), min_size=1, max_size=2)),
        ),
    )
    _like_term = st.tuples(
        st.sampled_from(_STR_PATHS),
        st.tuples(st.just("like"), st.sampled_from(["%Pok%", "Seed%", "%mon", "P_kachu", "zz%"])),
    )
    _missing_term = st.tuples(
        st.sampled_from(["nope.deep", "base.Nope"]),
        st.tuples(_THETA, st.integers(min_value=0, max_value=10)),
    )
    # round-12: ("in", [...]) / ("between", (lo, hi)) on paths — empty
    # in-lists included (must compile to match-nothing on both engines)
    _in_term = st.tuples(
        st.sampled_from(_NUM_PATHS),
        st.tuples(
            st.just("in"),
            st.lists(st.integers(min_value=-5, max_value=200), min_size=0, max_size=4),
        ),
    )
    _str_in_term = st.tuples(
        st.sampled_from(_STR_PATHS),
        st.tuples(
            st.just("in"),
            st.lists(
                st.sampled_from(["Seed Pokémon", "Pikachu", "nope", "50%:50%"]),
                min_size=0,
                max_size=3,
            ),
        ),
    )
    _between_term = st.tuples(
        st.sampled_from(_NUM_PATHS),
        st.tuples(
            st.just("between"),
            st.tuples(
                st.integers(min_value=-5, max_value=150),
                st.integers(min_value=-5, max_value=250),
            ),
        ),
    )

    _flat_filters = st.lists(
        st.one_of(
            _num_term, _str_term, _contains_term, _list_term, _like_term,
            _missing_term, _in_term, _str_in_term, _between_term,
        ),
        min_size=0,
        max_size=3,
    ).map(dict)

    def _mix_comb(base: dict, comb: dict) -> dict:
        d = dict(base)
        d.update(comb)
        return d

    def _bool_strategy(leaf):
        """Recursive $or/$and/$not combinator dicts over ``leaf`` filter
        dicts, optionally mixed with plain terms at the same level."""
        return st.recursive(
            leaf,
            lambda kids: st.builds(
                _mix_comb,
                leaf,
                st.one_of(
                    st.builds(lambda xs: {"$or": xs}, st.lists(kids, min_size=1, max_size=3)),
                    st.builds(lambda xs: {"$and": xs}, st.lists(kids, min_size=1, max_size=2)),
                    st.builds(lambda x: {"$not": x}, kids),
                ),
            ),
            max_leaves=5,
        )

    _filters = st.one_of(_flat_filters, _bool_strategy(_flat_filters))

    @pytest.mark.slow
    @settings(
        max_examples=40,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(filters=_filters)
    def test_random_filters_match_duckdb(meta_df, filters):
        """Every DSL #1 branch drawn at random must agree with the
        ``filters_to_duckdb_sql`` transliteration executed by DuckDB —
        the randomized generalization of BRANCH_CASES (round-2 verdict
        item 9: the fixed branch list can't catch cross-branch coercion
        bugs; random conjunctions can)."""
        got = _ids(meta_df.filter(compile_filters(filters)))
        want = _oracle_ids(filters)
        assert got == want, filters

    # -- DSL #2 randomized parity ------------------------------------------
    _DSL2_ROWS = [(k, "s%d" % (k % 7), (k * 13 % 101) / 2.0) for k in range(60)]

    _dsl2_term = st.one_of(
        st.tuples(st.just("v__gt"), st.integers(-5, 55)),
        st.tuples(st.just("v__gte"), st.integers(-5, 55)),
        st.tuples(st.just("v__lt"), st.integers(-5, 55)),
        st.tuples(st.just("v__lte"), st.integers(-5, 55)),
        st.tuples(st.just("k"), st.integers(-2, 65)),  # default __eq
        st.tuples(st.just("s__in"), st.lists(st.sampled_from(["s0", "s3", "s6", "zz"]), min_size=1, max_size=3)),
        st.tuples(st.just("k__between"), st.tuples(st.integers(0, 30), st.integers(30, 65))),
    )
    _dsl2_filters = st.lists(_dsl2_term, min_size=0, max_size=3).map(dict)

    def _dsl2_where_sql(filters):
        """Independent DuckDB transliteration of DSL #2 for the oracle."""
        if not filters:
            return "1=1"
        parts = []
        for key, value in filters.items():
            field, _, op = key.partition("__")
            op = op or "eq"
            if op == "in":
                lits = ", ".join(f"'{v}'" for v in value)
                parts.append(f"{field} IN ({lits})")
            elif op == "between":
                parts.append(f"{field} BETWEEN {value[0]} AND {value[1]}")
            else:
                sql_op = {"eq": "=", "gt": ">", "gte": ">=", "lt": "<", "lte": "<="}[op]
                parts.append(f"{field} {sql_op} {value!r}")
        return " AND ".join(parts)

    # -- dual-JSON-column × full theta/probe-type matrix -------------------
    # Round-4 item 9: the pokemon-based suite draws only over `metadata`;
    # this one runs every _THETA_OPS × probe-type cell (int/float/bool/str
    # probes, the _typed coercion matrix) and the tuple/list branches of
    # filters_to_duckdb_sql over BOTH a `metadata` and a `props` JSON
    # column (compile_filters(metadata=...) / metadata_expr=... parameter
    # paths), on synthetic docs with negatives, quotes, unicode and empty
    # arrays.

    def _dualdoc(i, s):
        r = (i * 37 + s * 101) % 211
        return {
            "num": r - 20,
            "fnum": ((i * 7 + s * 13) % 50) / 4.0,
            "flag": (i + s) % 2 == 0,
            "tag": ["alpha", "beta", "o'hara", "Pokémon", "zz"][(i + s) % 5],
            "arr": [["a", "b"], ["b"], ["c", "a"], []][(i + s) % 4],
            "nested": {"v": (i * 3 + s) % 17},
        }

    _DUAL_ROWS = [
        (i, json.dumps(_dualdoc(i, 0)), json.dumps(_dualdoc(i, 1)))
        for i in range(120)
    ]

    _ALL_THETA = st.sampled_from([">", ">=", "<", "<=", "!=", "=", "=="])
    _ASCII_TAGS = ["alpha", "beta", "zz", "nope"]

    _dual_term = st.one_of(
        # int probes: bare eq + every theta op
        st.tuples(st.sampled_from(["num", "nested.v"]),
                  st.one_of(st.integers(-25, 195),
                            st.tuples(_ALL_THETA, st.integers(-25, 195)))),
        # float probes (exact quarters) against int and float data
        st.tuples(st.sampled_from(["num", "fnum"]),
                  st.tuples(_ALL_THETA, st.integers(-20, 60).map(lambda n: n / 4.0))),
        # bool probes: bare eq + theta tuple (the branch the round-4 fix
        # added to filters_to_duckdb_sql)
        st.tuples(st.just("flag"),
                  st.one_of(st.booleans(), st.tuples(_ALL_THETA, st.booleans()))),
        # str probes: bare eq (incl. quote/unicode), theta over ASCII, like
        st.tuples(st.just("tag"),
                  st.one_of(st.sampled_from(["alpha", "o'hara", "Pokémon", "nope"]),
                            st.tuples(_ALL_THETA, st.sampled_from(_ASCII_TAGS)),
                            st.tuples(st.just("like"),
                                      st.sampled_from(["%a%", "z_", "Pok%", "%mon", "%"])))),
        # array branches: contains, bare-list eq, tuple-list eq
        st.tuples(st.just("arr"),
                  st.one_of(st.tuples(st.just("contains"), st.sampled_from(["a", "b", "c", "x"])),
                            st.lists(st.sampled_from(["a", "b", "c"]), min_size=1, max_size=2),
                            st.tuples(st.just("="),
                                      st.lists(st.sampled_from(["a", "b", "c"]), min_size=1, max_size=2)))),
        # missing path: NULL must never match
        st.tuples(st.just("missing.path"), st.tuples(_ALL_THETA, st.integers(0, 9))),
    )
    _dual_flat = st.lists(_dual_term, min_size=0, max_size=3).map(dict)
    _dual_filters = st.one_of(_dual_flat, _bool_strategy(_dual_flat))

    @pytest.mark.slow
    @settings(
        max_examples=60,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(col=st.sampled_from(["metadata", "props"]), filters=_dual_filters)
    def test_random_filters_both_json_columns_match_duckdb(spark, col, filters):
        import duckdb

        df = spark.createDataFrame(_DUAL_ROWS, "id int, metadata string, props string")
        got = sorted(
            r["id"] for r in df.filter(compile_filters(filters, metadata=col)).collect()
        )
        con = duckdb.connect()
        con.execute("CREATE TABLE d (id INT, metadata JSON, props JSON)")
        con.executemany("INSERT INTO d VALUES (?, ?, ?)", _DUAL_ROWS)
        where = filters_to_duckdb_sql(filters, metadata_expr=col)
        want = sorted(r[0] for r in con.execute(f"SELECT id FROM d WHERE {where}").fetchall())
        assert got == want, (col, filters, where)

    @pytest.mark.slow
    @settings(
        max_examples=40,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(filters=_dsl2_filters)
    def test_random_dsl2_matches_duckdb(spark, filters):
        import duckdb

        df = spark.createDataFrame(_DSL2_ROWS, "k int, s string, v double")
        got = sorted(r["k"] for r in df.filter(compile_where(filters)).collect())
        con = duckdb.connect()
        con.execute("CREATE TABLE t (k INT, s VARCHAR, v DOUBLE)")
        con.executemany("INSERT INTO t VALUES (?, ?, ?)", _DSL2_ROWS)
        want = sorted(
            r[0] for r in con.execute(f"SELECT k FROM t WHERE {_dsl2_where_sql(filters)}").fetchall()
        )
        assert got == want, filters

except ImportError:  # pragma: no cover
    pass
