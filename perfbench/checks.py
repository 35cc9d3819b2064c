"""Output checks, run outside the timed passes.

* Registry queries are compared with their ``oracle_sql`` run by
  DuckDB on the same generated files, through the repository's own
  contract check (``tools/drive_contract.py``): the vacuity
  gate, row count, column names and its order-insensitive value hash.
* ``mapreduce_jobs`` outputs are compared with DuckDB twins computed
  over the same text files and tables.
"""

from __future__ import annotations

import glob
import os
import types

import duckdb
import pandas as pd
import pyarrow as pa

from tools import drive_contract

value_hash = drive_contract.value_hash


def frame(columns: list[str], rows) -> pd.DataFrame:
    """Collected Spark rows as the pandas frame the contract check hashes."""
    return pd.DataFrame.from_records([tuple(r) for r in rows], columns=columns)


def check_query(con, name: str, spec, got: pd.DataFrame, inputs: str) -> str | None:
    """None when the collected result matches the query's oracle, else the reason."""
    collected = types.SimpleNamespace(toPandas=lambda: got)
    _rec, why = drive_contract.check_query(
        name, lambda *_: collected, spec.oracle, spec.tags, None, con, sf=inputs
    )
    return why


def connect(inputs: str) -> duckdb.DuckDBPyConnection:
    """DuckDB with one view per generated parquet table."""
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for path in sorted(glob.glob(os.path.join(inputs, "*.parquet"))):
        name = os.path.basename(path)[: -len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{path}'")
    return con


# --- mapreduce_jobs twins ------------------------------------------------


def _lines(path: str) -> list[str]:
    """Rust ``str::lines`` semantics: a trailing newline adds no line."""
    with open(path, encoding="utf-8") as fh:
        text = fh.read()
    if text.endswith("\n"):
        text = text[:-1]
    return text.split("\n") if text else []


def _text_table(files: list[str]) -> pa.Table:
    paths, nos, lines = [], [], []
    for f in files:
        for i, line in enumerate(_lines(f), 1):
            paths.append(os.path.basename(f))
            nos.append(i)
            lines.append(line)
    return pa.table({"path": paths, "line_no": nos, "line": lines})


def mapreduce_twins(doc_files: list[str], edge_files: list[str], term: str) -> dict[str, str]:
    """Expected reference-format outputs of wc, grep and vertex-degree."""
    con = duckdb.connect()
    docs = _text_table(doc_files)
    edges = _text_table(edge_files)
    contents = pa.table(
        {"content": [open(f, encoding="utf-8").read() for f in doc_files]}
    )
    con.register("docs", docs)
    con.register("edges", edges)
    con.register("contents", contents)
    wc = con.execute(
        r"""
        SELECT word, COUNT(*) AS cnt FROM (
          SELECT unnest(regexp_split_to_array(lower(content), '[^\p{L}]+')) AS word
          FROM contents)
        WHERE length(word) > 0 GROUP BY word
        """
    ).fetchall()
    grep = con.execute(
        "SELECT path, line_no, line FROM docs WHERE contains(line, ?)", [term]
    ).fetchall()
    degree = con.execute(
        """
        SELECT v, COUNT(*) FROM (
          SELECT CAST(split_part(trim(line), ' ', 1) AS UBIGINT) AS v FROM edges
          UNION ALL
          SELECT CAST(split_part(trim(line), ' ', 2) AS UBIGINT) AS v FROM edges)
        GROUP BY v
        """
    ).fetchall()
    con.close()
    out_grep = []
    current = None
    for path, no, line in sorted(grep, key=lambda r: (r[0], r[1])):
        if path != current:
            current = path
            out_grep.append(f"{path}:\n")
        out_grep.append(f"\t{no}: {line}\n")
    return {
        "wc": "".join(f"{c}\t{w}\n" for w, c in sorted(wc, key=lambda r: (r[1], r[0]))),
        "grep": "".join(out_grep),
        "vertex-degree": "".join(f"{v}\t{d}\n" for v, d in sorted(degree)),
    }


def check_written(con, input_table: str, written_glob: str, key: str, hive: bool = False) -> str | None:
    """A written copy must hold exactly the input's rows (count and key
    sum), read back by DuckDB from the files on disk."""
    want = con.execute(f"SELECT COUNT(*), SUM({key}) FROM {input_table}").fetchone()
    try:
        got = con.execute(
            f"SELECT COUNT(*), SUM({key}) FROM read_parquet('{written_glob}', "
            f"hive_partitioning = {str(hive).lower()})"
        ).fetchone()
    except duckdb.Error as exc:
        return f"read-back failed: {exc}"[:200]
    if got != want:
        return f"written (count, sum {key}) {got} vs input {want}"
    return None
