"""Job-submission façade: the reference's client API, Spark-backed.

The reference's entire query surface is
``submit(app, files, output_dir, n_reduce, args) → poll → process``
(``proto/coordinator.proto:26-32``, ``src/client.rs:31-115``). This
module reproduces that exact contract so a reference user can port
their scripts 1:1:

* app registry with the same three names (``wc``, ``grep``,
  ``vertex-degree``) and the same unknown-app error behavior
  (submit-time validation, ``src/coordinator/mod.rs:198-201``),
* ``n_reduce`` → number of output files (``mr-out``-equivalent,
  one per partition — ``src/worker/mod.rs:138-144``),
* ``args`` → the app's parameters (grep's ``--term``,
  ``src/app/grep.rs:18-34``),
* ``process_output`` → the app's exact human-readable format.

Each submit runs its plan once: with ``output_dir`` the plan is the
write and the output is formatted from the written files by
:func:`process_job`; without it, one ``collect()``. The plans carry
no sort — each app's formatter applies the reference's presentation
order to the collected rows — and vertex-degree's malformed-line check
is an expression inside the degree plan, not a separate pass.

Everything in between — scheduling, shuffle, retries, barriers — is
Spark's driver/executors (SURVEY.md §2.3: C1-C10 map to built-ins).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.errors.exceptions.captured import CapturedException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..sources.sinks import write_n_files
from ..sources.text import read_lines_with_path, read_whole_files
from .mapreduce import (
    format_grep,
    format_vertex_degree,
    format_word_count,
    grep_lines,
    parse_edge_lines,
    vertex_degree,
    word_count,
)

APPS = ("wc", "grep", "vertex-degree")

#: Each app's output-file schema: submit writes its rows in this shape
#: and process reads them back with it (no footer-inference job).
OUTPUT_SCHEMAS = {
    "wc": "word string, cnt bigint",
    "grep": "path string, line_no int, line string",
    "vertex-degree": "vertex bigint, degree bigint",
}

#: Each app's ``process_output``; every one orders the rows itself.
_FORMATS = {
    "wc": format_word_count,
    "grep": format_grep,
    "vertex-degree": format_vertex_degree,
}

#: The error a malformed edge line raises inside the vertex-degree plan
#: (reference: a fatal task failure, ``src/vertex_degree.rs:26-27``).
MALFORMED_EDGE = "vertex-degree: malformed edge line"


@dataclass
class JobResult:
    """What the reference's poll+process yields: the result rows and
    the formatted output string."""

    df: DataFrame
    output: str
    output_dir: str | None = None
    n_output_files: int = field(default=0)


def submit_job(
    spark: SparkSession,
    app: str,
    files: list[str],
    output_dir: str | None = None,
    n_reduce: int = 5,
    args: list[str] | None = None,
) -> JobResult:
    """Run one reference-style job to completion (the Spark action IS
    submit+poll — blocking, with retries and stage barriers inside).

    Unknown ``app`` or an empty ``files`` raises ValueError at submit
    time, matching the coordinator's InvalidArgument; so does a
    malformed vertex-degree edge line, when the job runs.

    With ``output_dir``, the plan runs once as the ``n_reduce``-file
    write, and ``output``/``df`` come from reading those files back
    through :func:`process_job`. Without it, the plan runs once as a
    ``collect()``."""
    _check_app(app)
    if not files:
        raise ValueError(f"{app}: no input files")
    df = _plan(spark, app, files, args or []).to(StructType.fromDDL(OUTPUT_SCHEMAS[app]))
    try:
        if output_dir is None:
            return JobResult(df=df, output=_FORMATS[app](df.collect()))
        n_files = write_n_files(df, output_dir, n_reduce, by_col=df.columns[0])
    except CapturedException as exc:
        if MALFORMED_EDGE in str(exc):
            raise ValueError(MALFORMED_EDGE) from exc
        raise
    res = process_job(spark, app, output_dir)
    res.n_output_files = n_files
    return res


def process_job(spark: SparkSession, app: str, output_dir: str) -> JobResult:
    """The reference's SEPARATE ``process`` invocation: re-read the
    job's output files from disk in a second client run and format
    them (``src/client.rs:66-93``, ``src/bin/client.rs:155-162``) —
    no recomputation, only read-back + format. ``submit_job`` with an
    ``output_dir`` formats through here too, so both give the same
    bytes.

    Files are the parquet ``write_n_files`` wrote (the engine's
    ``mr-out-*`` equivalent; SURVEY.md §1.4 maps F11's
    length-delimited codec to parquet), read with the app's
    :data:`OUTPUT_SCHEMAS` entry. Hash-partitioned files carry no
    global order; each app's formatter re-sorts the rows, as the
    reference's process step does (``src/app/wc.rs:60-66``,
    ``src/app/grep.rs:64-78``)."""
    _check_app(app)
    df = spark.read.schema(OUTPUT_SCHEMAS[app]).parquet(output_dir)
    return JobResult(df=df, output=_FORMATS[app](df.collect()), output_dir=output_dir)


def _check_app(app: str) -> None:
    if app not in APPS:
        raise ValueError(f"unknown app {app!r}; known: {APPS}")


def _plan(spark: SparkSession, app: str, files: list[str], args: list[str]) -> DataFrame:
    """The app's result rows as one unsorted plan."""
    if app == "wc":
        return word_count(read_whole_files(spark, files), "content")
    if app == "grep":
        return grep_lines(read_lines_with_path(spark, files), _parse_term(args))
    edges = parse_edge_lines(read_lines_with_path(spark, files).select("line"))
    # every row's src passes through the check, so one malformed line
    # fails the task that reads it, and with it the job
    checked = F.when(edges.valid, edges.src).otherwise(F.raise_error(MALFORMED_EDGE))
    return vertex_degree(edges.select(checked.alias("src"), "dst"), "src", "dst")


def _parse_term(args: list[str]) -> str:
    """grep's clap-style ``--term <t>`` parsing (src/app/grep.rs:25-34)."""
    for i, a in enumerate(args):
        if a == "--term" and i + 1 < len(args):
            return args[i + 1]
        if a.startswith("--term="):
            return a.split("=", 1)[1]
    raise ValueError("grep requires --term <substring>")
