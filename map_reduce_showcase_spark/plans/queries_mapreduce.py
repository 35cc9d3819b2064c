"""Reference-app parity queries over the standard catalog.

The three reference applications (SURVEY.md §2.2) run here against
the ``documents`` / ``lineitem`` tables so the DuckDB oracle can
verify them; the golden-text tests in ``tests/test_parity_apps.py``
additionally run them on the reference's own ``data/`` fixtures with
the reference's exact output formatting.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.mapreduce import grep_lines, vertex_degree, word_count
from .registry import register, t

GREP_TERM = "spark"


@register(
    "wc_word_count",
    oracle="""
    SELECT word, count(*) AS cnt
    FROM (
      SELECT unnest(string_split_regex(lower(text), '[^\\p{L}]+')) AS word
      FROM documents
    )
    WHERE word <> ''
    GROUP BY word
    """,
    tags=("parity", "wc", "aggregation"),
)
def wc_word_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word count (reference ``wc``, ``src/app/wc.rs``) over documents.

    Scan → explode(split) → hash-agg with map-side partial combine.
    The reference shuffled one KV per token (``src/app/wc.rs:25``);
    this plan shuffles one row per (partition, distinct word)."""
    return word_count(t(spark, sf_dir, "documents"), "text")


@register(
    "grep_docs",
    oracle=f"""
    SELECT doc_id, source, text AS line,
           CAST(len(string_split(text, '{GREP_TERM}')) - 1 AS BIGINT) AS n_matches
    FROM documents
    WHERE contains(text, '{GREP_TERM}')
    """,
    tags=("parity", "grep", "filter"),
)
def grep_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """grep (reference ``src/app/grep.rs``): substring filter (not
    regex) with per-line match counts. Documents are single-line, so
    doc granularity == line granularity here; the multi-line path is
    exercised on the reference's gutenberg fixtures in tests.

    The ``contains`` predicate is pushed into the parquet scan —
    the reference read 100% of every file before filtering."""
    docs = t(spark, sf_dir, "documents")
    return docs.filter(F.col("text").contains(GREP_TERM)).select(
        "doc_id",
        "source",
        F.col("text").alias("line"),
        (F.size(F.split(F.col("text"), GREP_TERM, -1)) - 1).cast("long").alias("n_matches"),
    )


@register(
    "vertex_degree_lineitem",
    oracle="""
    SELECT vertex, count(*) AS degree
    FROM (
      SELECT l_partkey AS vertex FROM lineitem
      UNION ALL
      SELECT l_suppkey AS vertex FROM lineitem
    )
    GROUP BY vertex
    """,
    tags=("parity", "vertex-degree", "aggregation"),
)
def vertex_degree_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """vertex-degree (``src/app/vertex_degree.rs``) on the lineitem
    part↔supplier edge list: explode both endpoints, count per vertex
    (self-loop/duplicate semantics identical to the reference)."""
    return vertex_degree(t(spark, sf_dir, "lineitem"), "l_partkey", "l_suppkey")


@register(
    "grep_docs_lines",
    oracle=f"""
    WITH s AS (
      SELECT doc_id, string_split(text, ' ') AS arr FROM documents
    ), e AS (
      SELECT doc_id,
             unnest(arr) AS token,
             unnest(generate_series(1, len(arr))) AS pos
      FROM s
    )
    SELECT doc_id, CAST(pos AS INT) AS pos, token
    FROM e
    WHERE contains(token, '{GREP_TERM}')
    """,
    tags=("parity", "grep", "explode"),
)
def grep_docs_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """grep's positional form: posexplode to (unit, 1-based position)
    then substring-filter — the exact shape of the reference's
    ``lines().enumerate().filter(contains)`` map fn
    (``src/app/grep.rs:37-46``), using tokens as the line unit since
    catalog documents are single-line."""
    docs = t(spark, sf_dir, "documents")
    return (
        docs.select(
            "doc_id",
            F.posexplode(F.split(F.col("text"), " ", -1)).alias("pos0", "token"),
        )
        .filter(F.col("token").contains(GREP_TERM))
        .select("doc_id", (F.col("pos0") + 1).cast("int").alias("pos"), "token")
    )


@register(
    "grep_docs_packed",
    oracle=f"""
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_matches,
           to_json(list(struct_pack(line_no := doc_id, line := text)
                        ORDER BY doc_id)) AS matches_json
    FROM documents
    WHERE contains(text, '{GREP_TERM}')
    GROUP BY source
    """,
    tags=("parity", "grep", "nested-agg"),
)
def grep_docs_packed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """grep G4's packed per-file aggregation
    (``src/app/grep.rs:64-78``: per-file sort + list packing): group
    matches by file (``source``), pack an ORDERED array of
    (line_no, line) structs — the per-key ordered-event-list shape.
    The ArrayType(Struct) aggregate is real
    (``sort_array(collect_list(struct(...)))``, map-side partial);
    it is serialized with ``to_json`` only for the oracle's value
    hash, which Spark and DuckDB render byte-identically (verified
    incl. escapes/unicode). Scale: one shuffle on the group key;
    per-group arrays are bounded by per-file match counts — for
    pathological hot files, cap with slice() or spill to a sorted
    sink instead of one giant row."""
    docs = t(spark, sf_dir, "documents")
    return (
        docs.filter(F.col("text").contains(GREP_TERM))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_matches"),
            F.sort_array(
                F.collect_list(
                    F.struct(
                        F.col("doc_id").alias("line_no"),
                        F.col("text").alias("line"),
                    )
                )
            ).alias("matches"),
        )
        .select("source", "n_matches", F.to_json("matches").alias("matches_json"))
    )


@register(
    "process_readback_wc",
    oracle="""
    SELECT word, count(*) AS cnt
    FROM (
      SELECT unnest(string_split_regex(lower(text), '[^\\p{L}]+')) AS word
      FROM documents
    )
    WHERE word <> ''
    GROUP BY word
    """,
    tags=("parity", "wc", "sink", "readback"),
)
def process_readback_wc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's full two-command workflow driven end-to-end:
    wc over documents → ``write_n_files`` (the ``mr-out-*``
    equivalent, hash-partitioned on the word like
    ``ihash(key) % n_reduce``) → a SECOND read of those files off
    disk (``process``, ``src/client.rs:66-93``) — the returned rows
    come from the written files, not the in-session DataFrame, so
    the oracle hash certifies the sink+source round-trip, not just
    the aggregation. Each call writes a fresh dir under the
    session's scratch, so a later call never replaces the files an
    earlier frame reads."""
    import uuid

    from ..session import scratch_dir
    from ..sources.sinks import write_n_files

    out_dir = scratch_dir(spark, f"readback_wc_{uuid.uuid4().hex}")
    write_n_files(
        word_count(t(spark, sf_dir, "documents"), "text"),
        out_dir,
        n=5,  # the reference client's default n_reduce
        by_col="word",
    )
    return spark.read.parquet(out_dir)


@register(
    "wc_reference_file_roundtrip",
    oracle="""
    SELECT word, count(*) AS cnt
    FROM (
      SELECT unnest(string_split_regex(lower(text), '[^\\p{L}]+')) AS word
      FROM documents
    )
    WHERE word <> ''
    GROUP BY word
    """,
    tags=("parity", "wc", "interop", "lengthdelim"),
)
def wc_reference_file_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F11 interop through the DRIVER surface: compute wc, write the
    counts as reference-framed ``mr-out-*`` files (u32-BE packets,
    BE-u64 values — the reference's exact on-disk format), read them
    back through the ``lengthdelim`` Python Data Source, and decode.
    The result must hash-equal plain ``wc_word_count`` — proving the
    byte round trip loses nothing. This is the migration path a
    reference user walks in BOTH directions (their old files into
    this engine; this engine's output into their old ``mr-client
    process``), registered so the oracle sweep checks it. Each call
    writes a fresh dir under the session's scratch."""
    import uuid

    from pyspark.sql.functions import (
        col,
        conv,
        decode,
        encode,
        hex as hex_,
        lpad,
        unhex,
    )

    from ..session import scratch_dir
    from ..sources.lengthdelim import (
        LengthDelimitedDataSource,
        write_n_files_reference_format,
    )

    try:
        spark.dataSource.register(LengthDelimitedDataSource)
    except Exception:
        pass  # already registered in this session

    wc = word_count(t(spark, sf_dir, "documents"), "text")
    kv = wc.select(
        encode(col("word"), "UTF-8").alias("key"),
        unhex(lpad(hex_(col("cnt")), 16, "0")).alias("value"),
    )
    out = scratch_dir(spark, f"refout_{uuid.uuid4().hex}")
    write_n_files_reference_format(kv, out, n_reduce=4)
    back = spark.read.format("lengthdelim").load(out)
    return back.select(
        decode(col("key"), "UTF-8").alias("word"),
        conv(hex_(col("value")), 16, 10).cast("bigint").alias("cnt"),
    )
