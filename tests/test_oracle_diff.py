"""Differential suite: every registered query's Spark result must
EXACTLY equal its DuckDB oracle (column names, row count, values) —
a strictly stronger local version of the driver's order-insensitive
value-hash gate, so passing here implies passing there.
"""

from __future__ import annotations

import math

import pandas as pd
import pytest

from map_reduce_showcase_spark.plans import REGISTRY
from map_reduce_showcase_spark.plans.registry import _load_all

_load_all()

SQL_CHECKED = sorted(n for n, s in REGISTRY.items() if s.oracle is not None)
ROWS_ONLY = sorted(n for n, s in REGISTRY.items() if s.oracle is None)


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    """Sort columns by name and rows by a type-stable repr key (both
    engines produce identical values → identical keys → identical
    order), so positional comparison is order-insensitive."""
    df = df[sorted(df.columns)].copy()
    if len(df):
        keys = pd.DataFrame(
            {c: df[c].map(lambda v: repr(_coerce(v))) for c in df.columns}
        )
        order = keys.sort_values(by=list(keys.columns), kind="mergesort").index
        df = df.loc[order]
    return df.reset_index(drop=True)


def _values_equal(a, b) -> bool:
    if a is b:
        return True
    if pd.isna(a) and pd.isna(b):
        return True
    if isinstance(a, float) and isinstance(b, float):
        return a == b or (math.isnan(a) and math.isnan(b))
    return a == b


@pytest.mark.parametrize("name", SQL_CHECKED)
def test_query_matches_oracle(name, spark, oracle, sf_dir):
    spec = REGISTRY[name]
    got = _normalize(spec.builder(spark, sf_dir).toPandas())
    want = _normalize(oracle.execute(spec.oracle).fetchdf())

    assert list(got.columns) == list(want.columns), (
        f"{name}: column mismatch spark={list(got.columns)} oracle={list(want.columns)}"
    )
    assert len(got) == len(want), f"{name}: rowcount spark={len(got)} oracle={len(want)}"
    # vacuity guard: a 0-row result hash-matches its oracle trivially
    # — the schema is proven but the query's logic never executed on
    # a row. Queries that may legitimately be empty at small SF must say so
    # with an explicit may_be_empty tag.
    if "may_be_empty" not in spec.tags:
        assert len(got) > 0, (
            f"{name}: 0 rows at this SF — vacuously green; fix the slice "
            f"or tag the spec may_be_empty"
        )
    for col in got.columns:
        gk, wk = got[col].dtype.kind, want[col].dtype.kind
        # int-vs-float dtype crossings hash differently in the
        # driver (repr '2328' != '2328.0') even when values compare
        # equal — e.g. DuckDB returns SUM(BIGINT) as HUGEINT→float64
        assert not ("f" in (gk, wk) and {gk, wk} & {"i", "u"}), (
            f"{name}.{col}: int/float dtype crossing spark={got[col].dtype} oracle={want[col].dtype}"
        )
    for col in got.columns:
        gv, wv = got[col].tolist(), want[col].tolist()
        bad = [
            (i, a, b)
            for i, (a, b) in enumerate(zip(gv, wv))
            if not _values_equal(_coerce(a), _coerce(b))
        ]
        assert not bad, f"{name}.{col}: first diffs {bad[:5]}"


def _coerce(v):
    """Fold engine-representation differences that the driver's hash
    also folds (numpy scalars → python, Decimal → float)."""
    import decimal

    import numpy as np

    if isinstance(v, np.generic):
        v = v.item()
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, pd.Timestamp):
        v = v.to_pydatetime().replace(tzinfo=None)
    return v


@pytest.mark.parametrize("name", ROWS_ONLY)
def test_rows_only_queries_run(name, spark, sf_dir):
    """Non-SQL-expressible queries must at least run and return a
    stable schema — and rows, unless tagged may_be_empty (the same
    vacuity guard the oracle-checked side gets)."""
    spec = REGISTRY[name]
    df = spec.builder(spark, sf_dir)
    assert df.columns, name
    n = df.count()
    if "may_be_empty" not in spec.tags:
        assert n > 0, f"{name}: 0 rows — vacuous; fix the slice or tag may_be_empty"


def test_harness_record_encoding_matches_driver(spark, oracle, sf_dir):
    """``check_query`` records: match fields are ``None`` ("not
    evaluated") for rows-only and errored entries, and booleans ONLY
    when the comparison actually ran — so a consumer filtering on
    ``rows_match == False`` sees real failures, never a rows-only
    query."""
    import sys

    sys.path.insert(0, str(__import__("pathlib").Path(__file__).parent.parent / "tools"))
    from drive_contract import check_query

    one_row = lambda s, sf: s.range(1).selectExpr("id AS n")  # noqa: E731

    # rows-only: no oracle → Nones + status, no failure
    rec, why = check_query("ro", one_row, None, (), spark, oracle, sf_dir)
    assert why is None and rec["status"] == "rows_only"
    assert (rec["rows_match"], rec["schema_match"], rec["hash_match"]) == (
        None,
        None,
        None,
    )
    # spark error: Nones + err
    def boom(s, sf):
        raise RuntimeError("kaput")

    rec, why = check_query("err", boom, "SELECT 1", (), spark, oracle, sf_dir)
    assert why and rec["err"].startswith("spark err") and rec["rows_match"] is None
    # vacuous untagged 0-row: Nones + err (gate), tagged: rows-only ok
    empty = lambda s, sf: s.range(0).selectExpr("id AS n")  # noqa: E731
    rec, why = check_query("vac", empty, None, (), spark, oracle, sf_dir)
    assert why and "vacuous" in rec["err"] and rec["hash_match"] is None
    rec, why = check_query("vac_ok", empty, None, ("may_be_empty",), spark, oracle, sf_dir)
    assert why is None and rec["status"] == "rows_only"
    # real comparison: booleans; mismatch keeps hash_match None
    rec, why = check_query("ok", one_row, "SELECT 5 AS n", (), spark, oracle, sf_dir)
    assert rec["rows_match"] is True and rec["schema_match"] is True
    assert rec["hash_match"] is False and why == "value hash mismatch"
    rec, why = check_query(
        "rows_diff", one_row, "SELECT 0 AS n UNION ALL SELECT 1", (), spark, oracle, sf_dir
    )
    assert rec["rows_match"] is False and rec["hash_match"] is None


def test_eviction_census_rows_only_record_is_pinned(spark, oracle, sf_dir):
    """The eviction query's rows-only record asserts the deterministic
    census shape (2 rows, one running + one final group, evicted-users
    bounded by running-users), not a bare count — a real check without
    a SQL oracle."""
    import sys

    sys.path.insert(
        0, str(__import__("pathlib").Path(__file__).parent.parent / "tools")
    )
    from drive_contract import SF, _check_eviction_census, check_query

    name = "streaming_sessions_timeout_eviction"
    # the pin is value-anchored against the oracle con — the RUNNING census's n_users must equal DuckDB's
    # COUNT(DISTINCT user_id) (== the oracle-green twin's row count),
    # so the healthy frame here must carry the fixture's real count
    nd = oracle.execute("SELECT COUNT(DISTINCT user_id) FROM events").fetchone()[0]
    good = lambda s, sf: s.createDataFrame(  # noqa: E731
        [(False, 3 * nd, nd), (True, 7, 7)],
        "is_final boolean, n_rows long, n_users long",
    )
    # the pin applies at the default SF only — the
    # builders here ignore sf, so pass SF to engage it
    rec, why = check_query(name, good, None, (), spark, oracle, SF)
    assert why is None
    assert rec["status"] == "rows_only_pinned" and rec["pinned_ok"] is True
    # match fields stay None — pinned is not an oracle comparison
    assert (rec["rows_match"], rec["schema_match"], rec["hash_match"]) == (
        None,
        None,
        None,
    )

    bad = lambda s, sf: s.createDataFrame(  # noqa: E731
        [(False, 40, 12)], "is_final boolean, n_rows long, n_users long"
    )
    rec, why = check_query(name, bad, None, (), spark, oracle, SF)
    assert why and "pinned expectation failed" in rec["err"]
    assert rec["pinned_ok"] is False

    # at a NON-default --sf-dir the pin is skipped (the census is
    # documented as 1-2 rows in general): the same 1-row frame is a
    # healthy rows-only record, not a false failure
    rec, why = check_query(name, bad, None, (), spark, oracle, sf_dir)
    assert why is None and rec["status"] == "rows_only"

    # a checker CRASH (schema changed under it) fails the entry, not
    # the whole run
    renamed = lambda s, sf: s.createDataFrame(  # noqa: E731
        [(False, 40, 12), (True, 7, 7)], "done boolean, n_rows long, n_users long"
    )
    rec, why = check_query(name, renamed, None, (), spark, oracle, SF)
    assert why and "checker raised" in rec["err"]
    assert rec["pinned_ok"] is False

    # the checker itself, over the failure shapes
    import pandas as pd

    mk = lambda rows: pd.DataFrame(  # noqa: E731
        rows, columns=["is_final", "n_rows", "n_users"]
    )
    assert _check_eviction_census(mk([(False, 4, 2), (True, 2, 2)])) is None
    assert "exactly 2 rows" in _check_eviction_census(mk([(False, 4, 2)]))
    assert "one running + one final" in _check_eviction_census(
        mk([(False, 4, 2), (False, 2, 2)])
    )
    assert "n_rows >= n_users >= 1" in _check_eviction_census(
        mk([(False, 1, 2), (True, 2, 2)])
    )
    assert "more evicted users" in _check_eviction_census(
        mk([(False, 4, 2), (True, 5, 5)])
    )
    # cross-entry value anchor: with a con, the
    # running census must equal COUNT(DISTINCT user_id) — the row
    # count the twin streaming_eviction_final_state's oracle proves.
    # The shape-only checks above pass con=None and stay shape-only.
    ok = mk([(False, 3 * nd, nd), (True, 2, 2)])
    assert _check_eviction_census(ok, oracle) is None
    drifted = mk([(False, 3 * nd, nd + 1), (True, 2, 2)])
    why = _check_eviction_census(drifted, oracle)
    assert why and "COUNT(DISTINCT user_id)" in why
    # the equality is over the RUNNING census only — the final census
    # legitimately undercounts (no flush sentinels in this replay)
    under_final = mk([(False, 3 * nd, nd), (True, nd - 1, nd - 1)])
    assert _check_eviction_census(under_final, oracle) is None
