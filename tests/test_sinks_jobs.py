"""Sink layouts + the reference-style job façade, end-to-end."""

from __future__ import annotations

import glob
import tempfile

import pytest
from pyspark.sql import functions as F

from map_reduce_showcase_spark.operators.jobs import submit_job
from map_reduce_showcase_spark.sources.sinks import (
    write_bucketed,
    write_n_files,
    write_partitioned,
)
from map_reduce_showcase_spark.sources.tables import load_table
from tests.test_parity_apps import ALPHABET, EDGES


def test_write_partitioned_prunes(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    with tempfile.TemporaryDirectory() as d:
        write_partitioned(docs, f"{d}/docs", "lang")
        langs = glob.glob(f"{d}/docs/lang=*")
        assert len(langs) == docs.select("lang").distinct().count()
        back = spark.read.parquet(f"{d}/docs").filter(F.col("lang") == "en")
        # partition pruning: only the lang=en directory is scanned
        plan = back._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
            back._jdf.queryExecution(), "formatted"
        )
        assert back.count() == docs.filter(F.col("lang") == "en").count()
        assert "PartitionFilters" in plan


def test_write_n_files_reference_contract(spark, sf_dir):
    """Reference F7: n_reduce output files, hash-distributed by key."""
    wc = load_table(spark, sf_dir, "documents").select(
        F.explode(F.split("text", " ")).alias("word")
    )
    with tempfile.TemporaryDirectory() as d:
        write_n_files(wc, f"{d}/out", 5, by_col="word")
        files = glob.glob(f"{d}/out/part-*")
        assert len(files) == 5
        assert spark.read.parquet(f"{d}/out").count() == wc.count()


def test_bucketed_join_has_no_shuffle(spark, sf_dir):
    """Bucket both join sides on the key → the join plans with zero
    Exchange operators (the 100 TB fact-fact join strategy)."""
    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem")
    write_bucketed(o.select("o_orderkey", "o_totalprice"), "t_orders_b", "o_orderkey", 8)
    write_bucketed(l.select("l_orderkey", "l_quantity"), "t_lineitem_b", "l_orderkey", 8)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # the test data is broadcast-sized; disable broadcast so the
        # planner exercises the bucketed shuffle-free path under test
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        ob, lb = spark.table("t_orders_b"), spark.table("t_lineitem_b")
        joined = ob.join(lb, ob.o_orderkey == lb.l_orderkey)
        plan = joined._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
            joined._jdf.queryExecution(), "formatted"
        )
        assert "Exchange" not in plan, "bucketed join must not shuffle"
        assert "Bucketed: true" in plan
        assert joined.count() == o.join(l, o.o_orderkey == l.l_orderkey).count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS t_orders_b")
        spark.sql("DROP TABLE IF EXISTS t_lineitem_b")


def test_csv_json_round_trip(spark, sf_dir):
    nat = load_table(spark, sf_dir, "nation")
    with tempfile.TemporaryDirectory() as d:
        nat.write.mode("overwrite").option("header", True).csv(f"{d}/csv")
        nat.write.mode("overwrite").json(f"{d}/json")
        csv_back = spark.read.option("header", True).option("inferSchema", True).csv(f"{d}/csv")
        json_back = spark.read.json(f"{d}/json")
        assert sorted(r["n_name"] for r in csv_back.collect()) == sorted(
            r["n_name"] for r in nat.collect()
        )
        assert json_back.count() == nat.count()


def test_job_facade_wc(spark):
    res = submit_job(spark, "wc", ALPHABET, n_reduce=3)
    assert res.output.endswith("\tz\n") or "\ta\n" in res.output
    assert res.df.columns == ["word", "cnt"]


def test_job_facade_grep_args(spark):
    res = submit_job(spark, "grep", ALPHABET, args=["--term", "a"])
    assert "letters1.txt:" in res.output
    with pytest.raises(ValueError, match="--term"):
        submit_job(spark, "grep", ALPHABET, args=[])


def test_job_facade_vertex_degree_with_output(spark):
    with tempfile.TemporaryDirectory() as d:
        res = submit_job(
            spark, "vertex-degree", EDGES, output_dir=f"{d}/out", n_reduce=4
        )
        assert res.n_output_files == 4
        assert len(glob.glob(f"{d}/out/part-*")) == 4
        assert res.output.splitlines()[0].startswith("0\t")


def test_job_facade_unknown_app(spark):
    with pytest.raises(ValueError, match="unknown app"):
        submit_job(spark, "nope", ALPHABET)


def test_cli_submit_wc(spark, capsys):
    """mr-client parity: the CLI prints the app's formatted output,
    byte-identical to the golden wc expectation.
    (Re-uses the active session via getOrCreate.)"""
    from map_reduce_showcase_spark.cli import main
    from tests.test_parity_apps import _expected_wc

    rc = main(["submit", "--app", "wc", "--files", *ALPHABET, "--num-reduce", "2"])
    out = capsys.readouterr().out
    assert rc == 0
    assert out == _expected_wc(ALPHABET)


def test_cli_flags_after_args_are_app_args(spark, tmp_path, capsys):
    """Flags placed after --args belong to the app; client flags
    before --args still parse (the REMAINDER-swallowing trap)."""
    from map_reduce_showcase_spark.cli import main

    out_dir = str(tmp_path / "out")
    rc = main(
        ["submit", "--app", "grep", "--files", *ALPHABET,
         "--output-dir", out_dir, "--num-reduce", "2",
         "--args", "--term", "a"]
    )
    assert rc == 0
    assert glob.glob(f"{out_dir}/part-*"), "client --output-dir must be honored"
    assert "letters1.txt:" in capsys.readouterr().out


def test_cli_grep_missing_term_errors(spark, capsys):
    from map_reduce_showcase_spark.cli import main

    rc = main(["submit", "--app", "grep", "--files", *ALPHABET])
    assert rc == 2
    assert "--term" in capsys.readouterr().err


@pytest.mark.parametrize(
    ("app", "args"),
    [("wc", []), ("grep", ["--term", "a"]), ("vertex-degree", [])],
)
def test_process_readback_matches_submit(spark, tmp_path, app, args):
    """Reference two-command parity (src/client.rs:66-93): a SECOND
    invocation that only re-reads the submit's output files must
    format byte-identically to the in-session path — the round trip
    through hash-partitioned files loses row order, so this also
    proves process re-establishes presentation order per app."""
    from map_reduce_showcase_spark.operators.jobs import process_job

    files = EDGES if app == "vertex-degree" else ALPHABET
    out_dir = str(tmp_path / "out")
    submitted = submit_job(
        spark, app, files, output_dir=out_dir, n_reduce=4, args=args
    )
    processed = process_job(spark, app, out_dir)
    assert processed.output == submitted.output
    assert processed.output  # non-trivial golden


@pytest.mark.parametrize("name", ["process_readback_wc", "wc_reference_file_roundtrip"])
def test_file_roundtrip_rebuild_keeps_earlier_frame(spark, oracle, sf_dir, name):
    """A file round-trip query reads back files it wrote; building it
    a second time must not replace the files a frame built earlier
    reads. The first frame, collected after the rebuild, still equals
    the oracle."""
    from map_reduce_showcase_spark.plans.registry import REGISTRY, _load_all

    _load_all()
    spec = REGISTRY[name]
    first = spec.builder(spark, sf_dir)
    spec.builder(spark, sf_dir)
    got = sorted(tuple(r) for r in first.collect())
    assert got and got == sorted(oracle.execute(spec.oracle).fetchall())


def test_cli_process_subcommand(spark, tmp_path, capsys):
    from map_reduce_showcase_spark.cli import main

    out_dir = str(tmp_path / "out")
    rc = main(["submit", "--app", "wc", "--files", *ALPHABET,
               "--output-dir", out_dir, "--num-reduce", "2"])
    assert rc == 0
    first = capsys.readouterr().out
    rc = main(["process", "--app", "wc", "--output-dir", out_dir])
    captured = capsys.readouterr()
    assert rc == 0
    assert captured.out == first
    assert "wrote" not in captured.err  # process writes nothing


def test_process_unknown_app(spark):
    from map_reduce_showcase_spark.operators.jobs import process_job

    with pytest.raises(ValueError, match="unknown app"):
        process_job(spark, "nope", "/tmp/nowhere")


def test_orc_round_trip_with_pushdown(spark, sf_dir):
    """ORC as a second columnar source format: write the orders
    table as ORC, read it back, and verify both value fidelity and
    that predicate pushdown reaches the ORC scan (searchArguments
    in the plan) — the property that makes a source format viable
    at 100 TB."""
    orders = load_table(spark, sf_dir, "orders")
    with tempfile.TemporaryDirectory() as d:
        orders.write.mode("overwrite").orc(f"{d}/orc")
        back = spark.read.orc(f"{d}/orc")
        assert back.count() == orders.count()
        assert back.schema == orders.schema
        got = back.filter(back.o_orderkey == 42).collect()
        want = orders.filter(orders.o_orderkey == 42).collect()
        assert got == want
        plan = back.filter(back.o_totalprice > 100000.0)._jdf.queryExecution().toString()
        assert "PushedFilters: [" in plan and "o_totalprice" in plan


def test_dynamic_partition_pruning_fires(spark, sf_dir, tmp_path):
    """Dynamic partition pruning — the runtime complement of static
    partition pruning, and the reason hive-partitioned fact layouts
    pay off on dim-filtered joins at 100 TB: the dim side's filter
    result prunes fact PARTITIONS at runtime (a dynamicpruning
    subquery in the fact scan's PartitionFilters), so the fact
    never reads partitions the join cannot match."""
    from pyspark.sql import functions as F

    from map_reduce_showcase_spark.sources.sinks import write_partitioned

    ev = load_table(spark, sf_dir, "events").withColumn("day", F.to_date("ts"))
    write_partitioned(ev, str(tmp_path / "events_p"), "day")
    fact = spark.read.parquet(str(tmp_path / "events_p"))
    fact.select("day").distinct().limit(2).withColumn(
        "flag", F.lit(1)
    ).write.mode("overwrite").parquet(str(tmp_path / "dim"))
    dim = spark.read.parquet(str(tmp_path / "dim")).filter(F.col("flag") == 1)
    j = fact.join(dim, "day").groupBy("day").agg(F.count(F.lit(1)).alias("n"))
    plan = j._jdf.queryExecution().toString()  # noqa: SLF001
    assert "dynamicpruning" in plan.lower(), "DPP must reach the fact scan"


def test_corrupt_record_modes(spark, tmp_path):
    """Source robustness semantics at the ingest boundary: PERMISSIVE
    quarantines malformed rows into _corrupt_record (the 100 TB
    default — one bad row must not kill a million-file job),
    FAILFAST surfaces them as errors (the integrity-gate mode)."""
    import pytest as _pytest

    p = tmp_path / "mixed.json"
    p.write_text('{"a": 1}\n{"a": 2}\nNOT-JSON\n{"a": 3}\n')
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    schema = StructType(
        [
            StructField("a", LongType()),
            StructField("_corrupt_record", StringType()),
        ]
    )
    ok = spark.read.schema(schema).option("mode", "PERMISSIVE").json(str(p))
    rows = ok.cache().collect()
    try:
        assert len(rows) == 4
        bad = [r for r in rows if r["_corrupt_record"] is not None]
        assert len(bad) == 1 and bad[0]["_corrupt_record"] == "NOT-JSON"
        strict = (
            spark.read.schema("a BIGINT").option("mode", "FAILFAST").json(str(p))
        )
        with _pytest.raises(Exception, match="(?i)malformed|failfast"):
            strict.collect()
    finally:
        ok.unpersist()


def test_compact_small_files(spark, sf_dir, tmp_path):
    """64 tiny files compact to the metadata-derived target count
    with row-exact fidelity."""
    from pyspark.sql import functions as F

    from map_reduce_showcase_spark.sources.sinks import compact_small_files

    orders = load_table(spark, sf_dir, "orders")
    src = str(tmp_path / "storm")
    orders.repartition(64).write.mode("overwrite").parquet(src)
    assert len([f for f in (tmp_path / "storm").glob("*.parquet")]) == 64
    dst = str(tmp_path / "compacted")
    n = compact_small_files(spark, src, dst, target_file_bytes=1 << 30)
    assert n == 1
    assert len([f for f in (tmp_path / "compacted").glob("*.parquet")]) == 1
    back = spark.read.parquet(dst)
    assert back.count() == orders.count()
    assert back.agg(F.sum("o_orderkey")).first()[0] == orders.agg(
        F.sum("o_orderkey")
    ).first()[0]


def test_bucket_pruning_on_point_lookup(spark, sf_dir):
    """Bucket pruning: an equality filter on the bucket column must
    scan ONE bucket, not all of them (SelectedBucketsCount 1 out of
    8 in the scan node) — the point-lookup payoff of the bucketed
    layout, on top of its shuffle-free joins.

    Planner nuance worth pinning: Spark's autoBucketedScan DISABLES
    the bucketed read when the query has no exchange to avoid — it
    does not account for pruning — so a pruning-only workload must
    turn it off (`spark.sql.sources.bucketing.autoBucketedScan
    .enabled=false`) or the point lookup silently scans every
    bucket ('Bucketed: false (disabled by query planner)')."""
    o = load_table(spark, sf_dir, "orders")
    write_bucketed(
        o.select("o_orderkey", "o_totalprice"), "t_orders_bp", "o_orderkey", 8
    )
    key = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    prev = spark.conf.get(key)
    try:
        spark.conf.set(key, "false")
        df = spark.table("t_orders_bp").filter("o_orderkey = 42")
        plan = df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
            df._jdf.queryExecution(), "formatted"
        )
        assert "SelectedBucketsCount: 1 out of 8" in plan, plan[:500]
        assert df.count() == o.filter("o_orderkey = 42").count()
    finally:
        spark.conf.set(key, prev)
        spark.sql("DROP TABLE IF EXISTS t_orders_bp")


def test_zorder_layout_prunes_files_on_both_dimensions(spark, sf_dir, tmp_path):
    """Cash in the Z-order claim: actually WRITE lineitem in Morton
    order (repartitionByRange(zvalue) + sortWithinPartitions — the
    recipe layout_zorder_clustering's docstring prescribes) and
    verify a 2-D box predicate touches FEWER FILES than the same
    data written in arbitrary (orderkey) order. File count is
    measured with input_file_name() under the filter — exactly the
    min/max-stat pruning a lakehouse Z-order buys, demonstrated on
    plain parquet."""
    from pyspark.sql import functions as F

    from map_reduce_showcase_spark.plans.queries_relational import _morton_sql

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_quantity"
    )
    z = F.expr(_morton_sql("l_partkey", "l_suppkey"))
    n_files = 16
    (
        li.withColumn("_z", z)
        .repartitionByRange(n_files, "_z")
        .sortWithinPartitions("_z")
        .drop("_z")
        .write.mode("overwrite")
        .parquet(str(tmp_path / "zordered"))
    )
    li.repartitionByRange(n_files, "l_orderkey").write.mode("overwrite").parquet(
        str(tmp_path / "plain")
    )

    # scale-relative 2-D box (~10% of each dimension) so the test
    # holds at any SF's key ranges
    pmax, smax = li.agg(F.max("l_partkey"), F.max("l_suppkey")).first()
    box = (
        F.col("l_partkey").between(int(pmax * 0.05), int(pmax * 0.15))
    ) & (F.col("l_suppkey").between(int(smax * 0.1), int(smax * 0.3)))

    def files_touched(path: str) -> int:
        return (
            spark.read.parquet(path)
            .filter(box)
            .select(F.input_file_name().alias("f"))
            .distinct()
            .count()
        )

    n_z = files_touched(str(tmp_path / "zordered"))
    n_plain = files_touched(str(tmp_path / "plain"))
    # same rows either way
    assert (
        spark.read.parquet(str(tmp_path / "zordered")).filter(box).count()
        == spark.read.parquet(str(tmp_path / "plain")).filter(box).count()
    )
    assert n_z < n_plain, (
        f"z-ordered layout must localize the 2-D box: touched {n_z} vs {n_plain}"
    )


def test_lengthdelim_datasource_reads_reference_format(spark, tmp_path):
    """Interop with the reference's on-disk format via the Spark 4
    Python Data Source API: write wc output in the reference's exact
    framing (u32-BE length prefix, key/value packets alternating,
    BE-u64 counts — src/codec/mod.rs:88-93 + src/app/wc.rs:25), read
    it back with spark.read.format('lengthdelim'), and recover the
    identical word counts. One input partition per file — the
    reference's own parallelism unit (one file per reduce task)."""
    import struct

    from map_reduce_showcase_spark.operators.mapreduce import word_count
    from map_reduce_showcase_spark.sources.lengthdelim import (
        LengthDelimitedDataSource,
        read_kv_pairs,
        write_kv_pairs,
    )
    from map_reduce_showcase_spark.sources.text import read_whole_files

    spark.dataSource.register(LengthDelimitedDataSource)

    wc = word_count(read_whole_files(spark, ALPHABET), "content")
    expected = {r["word"]: r["cnt"] for r in wc.collect()}
    # shard the counts over 3 reference-style output files
    items = sorted(expected.items())
    for i in range(3):
        write_kv_pairs(
            str(tmp_path / f"mr-out-{i}"),
            [
                (w.encode(), struct.pack(">Q", c))
                for w, c in items[i::3]
            ],
        )
    # byte-level round trip
    k, v = next(read_kv_pairs(str(tmp_path / "mr-out-0")))
    assert struct.unpack(">Q", v)[0] == expected[k.decode()]

    df = spark.read.format("lengthdelim").load(str(tmp_path))
    assert df.rdd.getNumPartitions() == 3
    got = {
        r["word"]: r["cnt"]
        for r in df.select(
            F.decode("key", "UTF-8").alias("word"),
            F.conv(F.hex("value"), 16, 10).cast("bigint").alias("cnt"),
        ).collect()
    }
    assert got == expected


def test_reference_format_write_read_round_trip(spark, tmp_path):
    """Bidirectional interop: wc results written as reference-framed
    mr-out files (hash-partitioned on the key, one file per reduce
    partition, empty partitions still get a file — the reference
    writes one per task unconditionally), then read back through the
    lengthdelim source and byte-decoded to the identical counts."""
    import struct

    from map_reduce_showcase_spark.operators.mapreduce import word_count
    from map_reduce_showcase_spark.sources.lengthdelim import (
        LengthDelimitedDataSource,
        write_n_files_reference_format,
    )
    from map_reduce_showcase_spark.sources.text import read_whole_files

    spark.dataSource.register(LengthDelimitedDataSource)
    wc = word_count(read_whole_files(spark, ALPHABET), "content")
    expected = {r["word"]: r["cnt"] for r in wc.collect()}

    kv = wc.select(
        F.encode(F.col("word"), "UTF-8").alias("key"),
        F.unhex(F.lpad(F.hex(F.col("cnt")), 16, "0")).alias("value"),
    )
    out = str(tmp_path / "refout")
    n = write_n_files_reference_format(kv, out, n_reduce=4)
    assert n == 4
    assert sorted(glob.glob(f"{out}/mr-out-*")) == [
        f"{out}/mr-out-{i}" for i in range(4)
    ]

    back = spark.read.format("lengthdelim").load(out)
    # one input partition per mr-out file (the reference's own
    # parallelism unit) — including any EMPTY files the writer owed
    # for empty reduce partitions
    assert back.rdd.getNumPartitions() == 4
    got = {
        r["word"]: r["cnt"]
        for r in back.select(
            F.decode("key", "UTF-8").alias("word"),
            F.conv(F.hex("value"), 16, 10).cast("bigint").alias("cnt"),
        ).collect()
    }
    assert got == expected
    # value framing is the reference's BE u64 exactly
    from map_reduce_showcase_spark.sources.lengthdelim import read_kv_pairs

    k, v = next(p for i in range(4) for p in read_kv_pairs(f"{out}/mr-out-{i}"))
    assert len(v) == 8 and struct.unpack(">Q", v)[0] == expected[k.decode()]


def test_lengthdelim_is_local_only(spark, tmp_path, monkeypatch):
    """Both sides of the lengthdelim interop take local paths only: a
    ``file:`` URI works like its path, and any other scheme raises a
    ValueError naming it, where the writer used to create a local
    directory called ``viewfs:`` and the reader to return zero rows."""
    import os

    from map_reduce_showcase_spark.sources.lengthdelim import (
        LengthDelimitedDataSource,
        write_n_files_reference_format,
    )

    spark.dataSource.register(LengthDelimitedDataSource)
    monkeypatch.chdir(tmp_path)
    kv = spark.createDataFrame([(b"k", b"v")], "key binary, value binary")
    with pytest.raises(ValueError, match="'viewfs'"):
        write_n_files_reference_format(kv, "viewfs:///data/x", 4)
    assert not os.path.exists("viewfs:")
    with pytest.raises(Exception, match="'viewfs'"):
        spark.read.format("lengthdelim").load("viewfs:///data/x").collect()

    out = tmp_path / "out"
    assert write_n_files_reference_format(kv, f"file://{out}", 2) == 2
    assert sorted(os.listdir(out)) == ["mr-out-0", "mr-out-1"]
    back = spark.read.format("lengthdelim").load(f"file://{out}").collect()
    assert [(bytes(r["key"]), bytes(r["value"])) for r in back] == [(b"k", b"v")]


def test_compact_preserves_hive_partitioning(spark, sf_dir, tmp_path):
    """Compacting a hive-partitioned directory must keep the layout
    (partition dirs survive, values pruneable) while reducing file
    count — a flat rewrite would silently drop the layout readers
    prune on."""
    from map_reduce_showcase_spark.sources.sinks import compact_small_files

    docs = load_table(spark, sf_dir, "documents")
    src = str(tmp_path / "p_storm")
    docs.repartition(16).write.mode("overwrite").partitionBy("lang").parquet(src)
    n_before = len(glob.glob(f"{src}/lang=*/part-*"))
    dst = str(tmp_path / "p_compacted")
    compact_small_files(
        spark, src, dst, target_file_bytes=1 << 30, partition_by=("lang",)
    )
    langs_src = {p.split("lang=")[-1] for p in glob.glob(f"{src}/lang=*")}
    langs_dst = {p.split("lang=")[-1] for p in glob.glob(f"{dst}/lang=*")}
    assert langs_dst == langs_src, "partition directories must survive"
    n_after = len(glob.glob(f"{dst}/lang=*/part-*"))
    assert n_after < n_before
    back = spark.read.parquet(dst)
    assert back.count() == docs.count()
    assert (
        back.filter(F.col("lang") == "en").count()
        == docs.filter(F.col("lang") == "en").count()
    )


def test_writers_on_viewfs_mount(spark, sf_dir, tmp_path):
    """The writers go through the Hadoop FS API, so they work on a
    non-local filesystem: here a ``viewfs://`` mount of ``tmp_path``
    (Hadoop's client-side mount table). The mount table is named for
    this run alone, so the FileSystem cache cannot serve a stale
    mount."""
    import uuid

    from map_reduce_showcase_spark.operators.jobs import process_job
    from map_reduce_showcase_spark.sources.sinks import compact_small_files

    mt = f"graft{uuid.uuid4().hex[:12]}"
    key = f"fs.viewfs.mounttable.{mt}.link./data"
    hconf = spark.sparkContext._jsc.hadoopConfiguration()  # noqa: SLF001
    hconf.set(key, f"file://{tmp_path}")
    root = f"viewfs://{mt}/data"
    table = f"t_docs_{mt}"
    try:
        local = submit_job(
            spark, "wc", ALPHABET, output_dir=str(tmp_path / "wc_local"), n_reduce=3
        )
        mounted = submit_job(spark, "wc", ALPHABET, output_dir=f"{root}/wc", n_reduce=3)
        assert mounted.output and mounted.output == local.output
        assert mounted.n_output_files == local.n_output_files
        assert len(glob.glob(f"{tmp_path}/wc/part-*")) == mounted.n_output_files
        assert process_job(spark, "wc", f"{root}/wc").output == local.output

        docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars", "lang")
        want = sorted(docs.collect())
        assert want

        def back(path):
            return sorted(spark.read.parquet(path).select(*docs.columns).collect())

        write_partitioned(docs, f"{root}/part", "lang")
        assert glob.glob(f"{tmp_path}/part/lang=*")
        assert back(f"{root}/part") == want
        compact_small_files(spark, f"{root}/part", f"{root}/compact", partition_by=("lang",))
        assert glob.glob(f"{tmp_path}/compact/lang=*")
        assert back(f"{root}/compact") == want
        write_bucketed(docs, table, "doc_id", 4, path=f"{root}/bucketed")
        assert glob.glob(f"{tmp_path}/bucketed/part-*")
        assert sorted(spark.table(table).select(*docs.columns).collect()) == want
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")
        hconf.unset(key)
