"""Contract check for ``__spark_entry__.py``: an entry smoke test,
then every registered query against its DuckDB oracle.

Usage: ``python tools/drive_contract.py [--sf-dir DIR] [--driver-mem MEM]``.

Builds a plain ``local[8]`` SparkSession (only the UTC time zone set,
not the package's tuned ``get_spark()``), runs ``entry(spark)`` as a
smoke test (it must return rows), then runs every ``queries()`` entry
at ``--sf-dir`` and compares it with its ``oracle_sql()`` twin run by
DuckDB over views of the same parquet files: row count, sorted column
names and an order-insensitive value hash. Queries without an oracle
are checked for rows (and, for the ones in ``PINNED_ROWS_ONLY``, for a
pinned shape). Exits 1 if any query fails.

Importable: the per-query comparison lives in :func:`check_query`
(``perfbench/checks.py`` reuses it). Rows-only and errored records
carry ``None`` match fields, not ``False``, so a consumer filtering on
``rows_match == False`` sees only real comparison failures.
"""
import argparse
import decimal
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np
import pandas as pd

SF = "/root/testdata/sf0.01"
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def coerce(v):
    if isinstance(v, np.generic):
        v = v.item()
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, pd.Timestamp):
        v = v.to_pydatetime().replace(tzinfo=None)
    return v


def value_hash(df: pd.DataFrame):
    cols = sorted(df.columns)
    rows = sorted(
        tuple(repr(coerce(v)) for v in row)
        for row in df[cols].itertuples(index=False, name=None)
    )
    return hash(tuple(rows))


def _check_eviction_census(df: pd.DataFrame, con=None):
    """Pinned expectation for ``streaming_sessions_timeout_eviction``.
    The replay fixture is deterministic, so the rows-only record
    asserts the census SHAPE instead of a bare count: 2 rows (one
    running, one final), both groups populated, and the evicted-user
    census bounded by the running one (every evicted user emitted at
    least one non-final update before its timeout fired). Returns a
    failure reason or None.

    The pin is also VALUE-anchored: the RUNNING census's ``n_users``
    must equal DuckDB's ``COUNT(DISTINCT user_id)`` over events, which
    is the row count the oracle-checked twin
    ``streaming_eviction_final_state`` proves (its oracle is ``GROUP BY
    user_id``). The equality cannot hold for the FINAL census: the
    census replay has no flush sentinels (that is the twin's addition),
    so users whose last events sit within ``gap`` of the replay's max
    ts end the stream un-evicted. Every user does emit a non-final
    update in the batch its events arrive (``streaming/stateful.py``:
    the data path always yields an ``is_final=False`` row), so the
    running census is the batch-invariant side of the equality; the
    final census stays bounded by it (asserted above)."""
    if len(df) != 2:
        return f"eviction census expected exactly 2 rows, got {len(df)}"
    by_final = {bool(r.is_final): r for r in df.itertuples(index=False)}
    if set(by_final) != {True, False}:
        return f"expected one running + one final group, got {sorted(set(by_final))}"
    for flag, r in by_final.items():
        if not (r.n_rows >= r.n_users >= 1):
            return (
                f"is_final={flag}: expected n_rows >= n_users >= 1, "
                f"got n_rows={r.n_rows} n_users={r.n_users}"
            )
    if by_final[True].n_users > by_final[False].n_users:
        return (
            f"more evicted users ({by_final[True].n_users}) than users "
            f"with running updates ({by_final[False].n_users})"
        )
    if con is not None:
        n_distinct = con.execute(
            "SELECT COUNT(DISTINCT user_id) FROM events"
        ).fetchone()[0]
        if by_final[False].n_users != n_distinct:
            return (
                f"running census n_users={by_final[False].n_users} != "
                f"COUNT(DISTINCT user_id)={n_distinct} (the twin "
                f"streaming_eviction_final_state's proven row count)"
            )
    return None


#: rows-only queries with a deterministic fixture get a PINNED shape
#: assertion instead of a bare row count. The pins describe the
#: DEFAULT-SF fixture only and are skipped at other ``--sf-dir``s: the
#: eviction census is 1-2 rows in general (a dataset whose final
#: watermark never passes any timeout legitimately emits no final
#: row), so the 2-row pin would fail a healthy run at another scale.
PINNED_ROWS_ONLY = {
    "streaming_sessions_timeout_eviction": _check_eviction_census,
}


def check_query(name, fn, oracle_sql, tags, spark, con, sf=SF):
    """Run one registered query against its oracle and return its
    record. Match fields start as ``None`` ("not evaluated") and only
    become booleans when the corresponding comparison actually ran, so
    rows-only and errored entries can't be misread as triple failures.
    Returns (record, failure_reason_or_None)."""
    rec = {
        "rows_match": None,
        "schema_match": None,
        "hash_match": None,
        "spark_rows": None,
        "oracle_rows": None,
        "status": "checked",
        "err": None,
    }
    try:
        got = fn(spark, sf).toPandas()
    except Exception as exc:
        rec["err"] = f"spark err {type(exc).__name__}: {exc}"[:300]
        return rec, rec["err"]
    rec["spark_rows"] = len(got)
    # vacuity gate: a 0-row frame hash-matches trivially (schema
    # proven, logic never executed on a row). Queries whose emptiness
    # is semantically legitimate must carry the may_be_empty tag.
    if len(got) == 0 and "may_be_empty" not in tags:
        rec["err"] = "vacuous: 0 rows without may_be_empty tag"
        return rec, rec["err"]
    if oracle_sql is None:
        # realpath-normalized: a trailing slash or any other alias of
        # the default SF still applies the pin
        at_default_sf = os.path.realpath(sf) == os.path.realpath(SF)
        pinned = PINNED_ROWS_ONLY.get(name) if at_default_sf else None
        if name in PINNED_ROWS_ONLY and not at_default_sf:
            print(
                f"note: {name} has a PINNED_ROWS_ONLY checker but runs "
                f"unpinned at non-default sf {sf!r}",
                file=sys.stderr,
            )
        if pinned is None:
            rec["status"] = "rows_only"
            return rec, None
        # failure-isolated like every other comparison: a checker
        # crash (e.g. the query's schema changed under it) fails THIS
        # entry, not the whole run
        try:
            why = pinned(got, con)
        except Exception as exc:  # noqa: BLE001
            why = f"checker raised {type(exc).__name__}: {exc}"[:250]
        rec["status"] = "rows_only_pinned"
        rec["pinned_ok"] = why is None
        if why is not None:
            rec["err"] = f"pinned expectation failed: {why}"[:300]
        return rec, rec["err"]
    try:
        want = con.execute(oracle_sql).fetchdf()
    except Exception as exc:
        rec["err"] = f"oracle err {type(exc).__name__}: {exc}"[:300]
        return rec, rec["err"]
    rec["oracle_rows"] = len(want)
    rec["rows_match"] = len(got) == len(want)
    rec["schema_match"] = sorted(got.columns) == sorted(want.columns)
    if rec["rows_match"] and rec["schema_match"]:
        rec["hash_match"] = value_hash(got) == value_hash(want)
    if not rec["rows_match"]:
        return rec, f"rowcount {len(got)} vs {len(want)}"
    if not rec["schema_match"]:
        return rec, f"cols {sorted(got.columns)} vs {sorted(want.columns)}"
    if not rec["hash_match"]:
        return rec, "value hash mismatch"
    return rec, None


def main() -> int:
    import duckdb
    from pyspark.sql import SparkSession

    import __spark_entry__ as E
    from map_reduce_showcase_spark.plans import REGISTRY

    ap = argparse.ArgumentParser()
    ap.add_argument(
        "--sf-dir",
        default=SF,
        help="testdata directory for both Spark and the DuckDB views "
        "(default: sf0.01; use sf0.1 for a 10x-scale "
        "re-validation — slower, mostly on the DuckDB oracle side)",
    )
    ap.add_argument(
        "--driver-mem",
        default=None,
        help="spark.driver.memory override. Default None = a plain "
        "session's 1g, enough at sf0.01. A full run at --sf-dir sf0.1 "
        "starves a 1g heap partway through (the JVM dies and every "
        "later query fails with ConnectionRefused); use 12g there.",
    )
    args = ap.parse_args()
    sf_dir = args.sf_dir

    builder = SparkSession.builder.master("local[8]").config(
        "spark.sql.session.timeZone", "UTC"
    )
    if args.driver_mem:
        builder = builder.config("spark.driver.memory", args.driver_mem)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    # 1. entry smoke
    r = E.entry(spark).collect()
    assert len(r) > 0, "entry() returned no rows"
    print(f"entry OK: {len(r)} rows")

    # 2. per-query differential
    queries = E.queries()
    oracles = E.oracle_sql()
    fails = []
    t0 = time.time()
    for i, (name, fn) in enumerate(queries.items()):
        rec, why = check_query(
            name, fn, oracles.get(name), REGISTRY[name].tags, spark, con, sf=sf_dir
        )
        if why:
            fails.append((name, why))
        elif rec["status"] == "rows_only_pinned":
            print(
                f"{i:3d} {name}: rows-only {rec['spark_rows']} "
                f"(pinned shape OK)"
            )
        elif rec["status"] == "rows_only":
            print(f"{i:3d} {name}: rows-only {rec['spark_rows']}")

    print(f"\n{len(queries)} queries in {time.time()-t0:.0f}s; {len(fails)} failures")
    for name, why in fails:
        print(f"FAIL {name}: {why}")
    return 1 if fails else 0


if __name__ == "__main__":
    sys.exit(main())
