"""S12 format breadth: csv/json round-trips preserve data under an
explicit schema; sink disciplines (overwrite / append / idempotent
dynamic-partition-overwrite) behave per SURVEY.md §2.1 S8/S9 and fix
the §1.5 double-insert hazard."""

from __future__ import annotations

from pyspark.sql import functions as F

from zoom_spark.io import (
    load_table,
    read_csv,
    read_json,
    write_append,
    write_csv,
    write_idempotent_partition,
    write_json,
    write_overwrite,
)

SF_DIR = "/root/testdata/sf0.001"


def _sample(spark):
    return load_table(spark, SF_DIR, "supplier").orderBy("s_suppkey")


def _collected(df):
    return [tuple(r) for r in df.orderBy("s_suppkey").collect()]


def test_csv_round_trip(spark, tmp_path):
    src = _sample(spark)
    path = str(tmp_path / "supplier_csv")
    write_csv(src, path)
    back = read_csv(spark, path, schema=src.schema)
    assert back.schema == src.schema
    assert _collected(back) == _collected(src)


def test_json_round_trip(spark, tmp_path):
    src = _sample(spark)
    path = str(tmp_path / "supplier_json")
    write_json(src, path)
    back = read_json(spark, path, schema=src.schema)
    assert _collected(back) == _collected(src)


def test_csv_inference_without_schema(spark, tmp_path):
    src = _sample(spark)
    path = str(tmp_path / "supplier_csv2")
    write_csv(src, path)
    back = read_csv(spark, path)
    assert back.count() == src.count()
    assert set(back.columns) == set(src.columns)


def test_overwrite_resets_append_accumulates(spark, tmp_path):
    src = _sample(spark)
    path = str(tmp_path / "sink")
    n = src.count()
    write_overwrite(src, path)
    write_append(src, path)
    assert spark.read.parquet(path).count() == 2 * n
    write_overwrite(src, path)
    assert spark.read.parquet(path).count() == n


def test_idempotent_partition_overwrite_under_retry(spark, tmp_path):
    """A retried load of the same partition must not double-insert
    (the reference's §1.5 hazard: retry re-appends committed pages)."""
    src = _sample(spark).withColumn(
        "load_date", F.lit("2026-01-01")
    )
    path = str(tmp_path / "inc_sink")
    n = src.count()
    write_idempotent_partition(src, path, "load_date")
    # simulate tenacity retry re-running the same load
    write_idempotent_partition(src, path, "load_date")
    assert spark.read.parquet(path).count() == n
    # a different load date lands alongside, not over, the first
    nxt = src.withColumn("load_date", F.lit("2026-01-02"))
    write_idempotent_partition(nxt, path, "load_date")
    assert spark.read.parquet(path).count() == 2 * n


def test_jdbc_reader_constructs(spark):
    """No JDBC driver in the container: assert the reader is built
    with partitioned-scan options without triggering a connection."""
    from zoom_spark.io import read_jdbc

    try:
        read_jdbc(
            spark,
            "jdbc:postgresql://localhost:5/nope",
            "t",
            partition_column="id",
            lower_bound=0,
            upper_bound=100,
            num_partitions=4,
        )
    except Exception as e:  # noqa: BLE001
        # connection/driver failure is expected; option-plumbing errors
        # (IllegalArgument on bounds) are not
        assert "IllegalArgument" not in type(e).__name__


def test_elapsed_decorator_logs_and_passes_through(caplog):
    import logging

    from zoom_spark.timing import elapsed, format_elapsed

    @elapsed
    def add(a, b):
        return a + b

    with caplog.at_level(logging.INFO, logger="zoom_spark.timing"):
        assert add(2, 3) == 5
    assert any("add completed in" in r.message for r in caplog.records)
    assert format_elapsed(1.5) == "1.50 seconds"
    assert format_elapsed(61.5) == "1 minutes 1.50 seconds"


def test_orc_round_trip(spark, tmp_path):
    """ORC is the second columnar format Spark ships natively; the
    engine's writers/readers must round-trip schema and values."""
    from pyspark.sql import functions as F

    from zoom_spark.io import load_table

    src = load_table(spark, SF_DIR, "nation")
    path = str(tmp_path / "nation_orc")
    src.write.format("orc").mode("overwrite").save(path)
    back = spark.read.format("orc").load(path)
    assert back.schema == src.schema
    assert back.subtract(src).count() == 0
    assert src.subtract(back).count() == 0


def test_join_strategy_hints_are_honored(spark):
    """Join hints (BROADCAST / MERGE / SHUFFLE_HASH) must reach the
    physical plan — the manual override lane when statistics mislead
    the optimizer at scale."""
    from pyspark.sql import functions as F

    from zoom_spark.io import load_table

    c = load_table(spark, SF_DIR, "customer")
    o = load_table(spark, SF_DIR, "orders")

    def plan_of(df):
        return df._jdf.queryExecution().executedPlan().toString()

    merged = o.join(c.hint("merge"), o.o_custkey == c.c_custkey)
    assert "SortMergeJoin" in plan_of(merged)
    hashed = o.join(c.hint("shuffle_hash"), o.o_custkey == c.c_custkey)
    assert "ShuffledHashJoin" in plan_of(hashed)
    bcast = o.join(c.hint("broadcast"), o.o_custkey == c.c_custkey)
    assert "BroadcastHashJoin" in plan_of(bcast)


def test_cached_intermediate_reused_across_actions(spark):
    """persist(): an expensive intermediate feeding several outputs
    must scan its input once; the second consumer reads
    InMemoryRelation."""
    from pyspark.sql import functions as F

    from zoom_spark.io import load_table

    li = load_table(spark, SF_DIR, "lineitem")
    per_order = (
        li.groupBy("l_orderkey").agg(F.sum("l_quantity").alias("qty")).persist()
    )
    try:
        n = per_order.count()  # materialize
        top = per_order.orderBy(F.col("qty").desc()).limit(5)
        assert "InMemoryTableScan" in top._jdf.queryExecution().executedPlan().toString()
        assert top.count() == 5 and n > 0
    finally:
        per_order.unpersist()


def test_permissive_json_isolates_corrupt_records(spark, tmp_path):
    """PERMISSIVE JSON parsing (S15 analog): corrupt rows land in
    _corrupt_record with NULLs elsewhere; FAILFAST raises; DROPMALFORMED
    silently drops — the engine exposes all three."""
    import pyspark

    p = tmp_path / "mixed.json"
    p.write_text(
        '{"id": 1, "v": 10.5}\n'
        "{this is not json}\n"
        '{"id": 3, "v": 2.25}\n'
    )
    schema = "id bigint, v double, _corrupt_record string"
    df = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(str(p))
    ).cache()
    assert df.count() == 3
    bad = df.where(F.col("_corrupt_record").isNotNull())
    assert bad.count() == 1
    assert bad.first().id is None
    good_ids = sorted(
        r.id for r in df.where(F.col("_corrupt_record").isNull()).collect()
    )
    assert good_ids == [1, 3]
    df.unpersist()

    dropped = (
        spark.read.schema("id bigint, v double")
        .option("mode", "DROPMALFORMED")
        .json(str(p))
    )
    assert dropped.count() == 2
    import pytest as _pytest

    with _pytest.raises(Exception):
        spark.read.schema("id bigint, v double").option(
            "mode", "FAILFAST"
        ).json(str(p)).collect()


def test_pandas_api_reindex_matches_conform(spark):
    """pandas API on Spark runs the reference's LITERAL conformance
    call — users.reindex(columns=contract) (/root/reference/main.py:65)
    — distributed. It must agree with the engine's conform_schema
    projection (P1): same columns, same order, same null-fill."""
    import pyspark.pandas as ps

    from zoom_spark.io import load_table
    from zoom_spark.operators.conform import conform_schema

    contract = [
        ("c_custkey", "bigint"),
        ("c_name", "string"),
        ("c_mktsegment", "string"),
        ("missing_col", "string"),  # not in source -> nulls
    ]
    sdf = load_table(spark, SF_DIR, "customer")
    via_engine = conform_schema(sdf, contract)

    psdf = sdf.pandas_api()
    via_ps = psdf.reindex(columns=[c for c, _ in contract]).to_spark()

    assert via_ps.columns == via_engine.columns
    # null-fill: the engine uses typed SQL NULL; pandas semantics fill
    # NaN — both are "missing" in their own convention
    assert via_engine.where(F.col("missing_col").isNotNull()).count() == 0
    ps_missing = via_ps.where(
        F.col("missing_col").isNotNull()
        & ~F.isnan(F.col("missing_col").cast("double"))
    )
    assert ps_missing.count() == 0
    a = via_engine.select("c_custkey", "c_name", "c_mktsegment")
    b = via_ps.select("c_custkey", "c_name", "c_mktsegment")
    assert a.subtract(b).count() == 0 and b.subtract(a).count() == 0


def test_sql_ddl_lifecycle_matches_reference_drop_then_load(spark):
    """SQL DDL surface (S9/S10 in SQL form): the reference's
    drop_table + recreate-on-load cycle (/root/reference/main.py:38-46)
    as CREATE TABLE AS / INSERT INTO / DROP TABLE IF EXISTS over the
    session catalog, with existence probes between steps."""
    import os
    import shutil
    from urllib.parse import urlparse

    from zoom_spark.io import load_table

    spark.sql("DROP TABLE IF EXISTS zoom_users_ddl")
    # a dropped table's directory can survive a previous session's
    # in-memory catalog; CREATE refuses to reuse the location
    warehouse = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    shutil.rmtree(os.path.join(warehouse, "zoom_users_ddl"), ignore_errors=True)
    assert not spark.catalog.tableExists("zoom_users_ddl")

    load_table(spark, SF_DIR, "customer").createOrReplaceTempView("cust_src")
    spark.sql(
        """
        CREATE TABLE zoom_users_ddl AS
        SELECT c_custkey AS user_id, c_name AS user_name FROM cust_src
        WHERE c_custkey <= 50
        """
    )
    assert spark.catalog.tableExists("zoom_users_ddl")
    src = load_table(spark, SF_DIR, "customer")
    n1 = spark.sql("SELECT count(*) c FROM zoom_users_ddl").first().c
    assert n1 == src.where(F.col("c_custkey") <= 50).count()

    spark.sql(
        """
        INSERT INTO zoom_users_ddl
        SELECT c_custkey, c_name FROM cust_src
        WHERE c_custkey > 50 AND c_custkey <= 60
        """
    )
    n_ins = src.where(
        (F.col("c_custkey") > 50) & (F.col("c_custkey") <= 60)
    ).count()
    assert (
        spark.sql("SELECT count(*) c FROM zoom_users_ddl").first().c == n1 + n_ins
    )

    # drop-then-reload resets the schema (reference main.py:39 docstring)
    spark.sql("DROP TABLE IF EXISTS zoom_users_ddl")
    assert not spark.catalog.tableExists("zoom_users_ddl")


def test_observe_metrics_piggyback_on_one_pass(spark):
    """df.observe() collects QA metrics (row count, null count, sum)
    as a side effect of the SAME action that produces the result — at
    100 TB this replaces a second full validation scan. The listener-
    free Observation API works in batch."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from tests.conftest import SF_DIR
    from zoom_spark.io import load_table

    obs = Observation("qa")
    orders = load_table(spark, SF_DIR, "orders")
    observed = orders.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("sum_price"),
        F.count(F.when(F.col("o_custkey").isNull(), 1)).alias("null_cust"),
    )
    n_written = observed.where(F.col("o_totalprice") > 0).count()
    got = obs.get
    assert got["n_rows"] == orders.count()
    assert got["null_cust"] == 0
    assert n_written <= got["n_rows"]
    exact = orders.agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
    ).collect()[0][0]
    assert got["sum_price"] == exact


def test_from_xml_struct_extraction(spark):
    """Spark 4 native XML: from_xml parses nested payloads into
    structs (the config/feed ingestion path); parity vs a driver-side
    expectation on deterministic synthesized XML."""
    from pyspark.sql import functions as F

    rows = [(i, f"<rec><id>{i}</id><tag>t{i % 3}</tag><v>{i * 10}</v></rec>")
            for i in range(50)]
    df = spark.createDataFrame(rows, ["k", "xml"])
    parsed = df.select(
        "k",
        F.from_xml("xml", "id INT, tag STRING, v INT").alias("s"),
    ).select("k", "s.id", "s.tag", "s.v")
    got = {r.k: (r.id, r.tag, r.v) for r in parsed.collect()}
    assert got == {i: (i, f"t{i % 3}", i * 10) for i in range(50)}


def test_csv_malformed_row_quarantine(spark, tmp_path):
    """PERMISSIVE CSV read with columnNameOfCorruptRecord: malformed
    rows survive as quarantined raw text (queryable for retry) while
    good rows parse; DROPMALFORMED silently keeps only the good ones.
    The file-ingest twin of decode_media(permissive=True)."""
    from pyspark.sql import functions as F

    from zoom_spark.io import read_csv

    p = tmp_path / "dirty.csv"
    p.write_text("a,b\n1,x\nnot-an-int,y\n3,z\n")
    schema = "a INT, b STRING, _corrupt STRING"
    df = read_csv(
        spark, str(p), schema=schema,
        mode="PERMISSIVE", columnNameOfCorruptRecord="_corrupt",
    ).cache()
    assert df.count() == 3
    bad = df.where(F.col("_corrupt").isNotNull()).collect()
    assert len(bad) == 1 and "not-an-int" in bad[0]["_corrupt"]
    assert {r.a for r in df.where(F.col("_corrupt").isNull()).collect()} == {1, 3}
    df.unpersist()
    dropped = read_csv(
        spark, str(p), schema="a INT, b STRING", mode="DROPMALFORMED"
    )
    assert {r.a for r in dropped.collect()} == {1, 3}


def test_spread_scan_spreads_single_split_scan(spark):
    """r13: a single-split scan is round-robin-spread to the session's
    parallelism so heavy map-side projections downstream parallelize;
    rows are unchanged."""
    from zoom_spark.io import spread_scan

    base = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    assert base.rdd.getNumPartitions() < spark.sparkContext.defaultParallelism
    spread = spread_scan(base)
    assert (
        spread.rdd.getNumPartitions()
        == spark.sparkContext.defaultParallelism
    )
    assert sorted(r["doc_id"] for r in spread.collect()) == sorted(
        r["doc_id"] for r in base.collect()
    )


def test_spread_scan_noop_on_parallel_input(spark):
    """The 100 TB contract: an input already at >= target partitions is
    returned untouched (no extra exchange)."""
    from zoom_spark.io import spread_scan

    n = spark.sparkContext.defaultParallelism
    wide = load_table(spark, SF_DIR, "documents").repartition(n + 4)
    assert spread_scan(wide) is wide
