"""Read planning cost is independent of table history: ``read`` and
``scan`` open every flat data file with one explicit-schema read (the
schema planned on the driver from the footers) and ship every pending
delete entry as one driver-built local relation, so planning launches
no Spark job, however many commits a read touches. Values are checked
against a pandas replay; type-promoted history, encrypted files,
renamed keys, positional deletes and a table root the parquet reader
percent-escapes keep their results."""

from __future__ import annotations

import os
import uuid

import pandas as pd
from pyspark.sql import functions as F

from apache_iceberg_exploration_spark.sources.lakehouse import (
    LakehouseTable,
)
from apache_iceberg_exploration_spark.streaming import (
    lakehouse_sink as S,
)

KEY = bytes(range(16))


def _commit(root, rows, keys=None):
    """One sink commit, driver-simulated: a plain append, or with
    ``keys`` an upsert (its rows replace earlier rows on the same
    keys through a pending equality-delete entry)."""
    files, stats, _ = S.write_task_files(rows, root)
    eq_delete = None
    if keys:
        kf, _ = S._write_one_file(
            [{k: r[k] for k in keys} for r in rows],
            os.path.join(root, "data", f"stream-keys-{uuid.uuid4().hex[:8]}"),
        )
        eq_delete = ([kf], keys)
    return S._commit_append(
        root, files, stats, {"test_batch": 1}, eq_delete=eq_delete
    )


def _jobs(spark, fn):
    """Spark jobs launched while ``fn`` runs (counted by job group)."""
    sc = spark.sparkContext
    group = f"probe-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "read planning probe")
    try:
        df = fn()
    finally:
        sc.setJobGroup("after-probe", "")
    return len(sc.statusTracker().getJobIdsForGroup(group)), df


def _frame(df, cols):
    return (
        df.select(*cols)
        .toPandas()
        .sort_values(cols[0])
        .reset_index(drop=True)
    )


def test_planning_jobs_flat_in_pending_commits(spark, tmp_path):
    root = str(tmp_path / "t")
    state: dict[int, str] = {}
    for i in range(6):
        rows = [{"k": j, "v": f"a{i}-{j}"} for j in range(i * 50, i * 50 + 50)]
        _commit(root, rows)
        state.update({r["k"]: r["v"] for r in rows})
    counts = {}
    for u in range(4):
        rows = [{"k": j, "v": f"u{u}-{j}"} for j in range(u * 40, u * 40 + 60)]
        _commit(root, rows, keys=["k"])
        state.update({r["k"]: r["v"] for r in rows})
        t = LakehouseTable(spark, root)
        pending = len(t._read_manifest(t.current_version())["delete_files"])
        assert pending == u + 1
        n_read, df = _jobs(spark, t.read)
        n_scan, sc = _jobs(spark, lambda: t.scan(where={"k": (25, 175)}))
        counts[pending] = (n_read, n_scan)
        want = pd.DataFrame(sorted(state.items()), columns=["k", "v"])
        pd.testing.assert_frame_equal(
            _frame(df, ["k", "v"]), want, check_dtype=False
        )
        pd.testing.assert_frame_equal(
            _frame(sc, ["k", "v"]),
            want[want.k.between(25, 175)].reset_index(drop=True),
            check_dtype=False,
        )
    assert counts[1] == counts[4] == (0, 0), counts


def test_many_snapshot_dirs_pending_deletes(spark, tmp_path):
    """More data files than a literal file → seq map holds: the scan
    takes its seqs from a broadcast relation instead, with the same
    rows."""
    root = str(tmp_path / "t")
    state: dict[int, str] = {}
    for i in range(70):
        rows = [{"k": j, "v": f"a{i}-{j}"} for j in range(i * 5, i * 5 + 5)]
        _commit(root, rows)
        state.update({r["k"]: r["v"] for r in rows})
    for u in range(2):
        rows = [{"k": j, "v": f"u{u}-{j}"} for j in range(u * 97, u * 97 + 160)]
        _commit(root, rows, keys=["k"])
        state.update({r["k"]: r["v"] for r in rows})
    t = LakehouseTable(spark, root)
    out = t.read()
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "__seq_file" in plan  # the join arm, not the literal map
    want = pd.DataFrame(sorted(state.items()), columns=["k", "v"])
    pd.testing.assert_frame_equal(
        _frame(out, ["k", "v"]), want, check_dtype=False
    )
    pd.testing.assert_frame_equal(
        _frame(t.scan(where={"k": (100, 300)}), ["k", "v"]),
        want[want.k.between(100, 300)].reset_index(drop=True),
        check_dtype=False,
    )


def test_type_promoted_history_with_pending_deletes(spark, tmp_path):
    """int → long across commits: one read with the promoted type,
    still exact under pending equality deletes."""
    t = LakehouseTable(spark, str(tmp_path / "t"))
    t.append(
        spark.range(10).select(
            F.col("id").cast("int").alias("k"),
            F.col("id").cast("int").alias("v"),
        )
    )
    t.delete_where_mor(F.col("k") == 3, keys=["k"])
    t.append(
        spark.range(10, 14).select(
            F.col("id").cast("int").alias("k"),
            (F.col("id") + F.lit(2**40)).alias("v"),
        )
    )
    t.delete_where_mor(F.col("k").isin(5, 12), keys=["k"])
    out = t.read()
    assert dict(out.dtypes)["v"] == "bigint"
    want = {k: k for k in range(10)} | {k: k + 2**40 for k in range(10, 14)}
    for k in (3, 5, 12):
        del want[k]
    assert {r.k: r.v for r in out.collect()} == want


def test_encrypted_table_pending_deletes(spark, tmp_path):
    rows = [{"k": i, "v": i * 10} for i in range(40)]
    got = {}
    for name, key in (("enc", KEY), ("plain", None)):
        t = LakehouseTable(spark, str(tmp_path / name), encryption_key=key)
        if key is not None:
            t.enable_encryption(key)
        t.append(spark.createDataFrame(rows[:20]))
        t.delete_where_mor(F.col("k") == 3, keys=["k"])
        t.append(spark.createDataFrame(rows[20:]))
        t.delete_where_mor(F.col("k").isin(7, 31), keys=["k"])
        t.delete_where_pos(F.col("k") == 25)
        got[name] = sorted(map(tuple, t.read().select("k", "v").collect()))
    assert got["enc"] == got["plain"]
    assert [k for k, _ in got["plain"]] == [
        k for k in range(40) if k not in (3, 7, 25, 31)
    ]


def test_rename_after_pending_delete_and_positional_delete(spark, tmp_path):
    t = LakehouseTable(spark, str(tmp_path / "t"))
    t.append(spark.createDataFrame([{"k": i, "v": i} for i in range(30)]))
    t.delete_where_mor(F.col("k") <= 4, keys=["k"])
    t.append(spark.createDataFrame([{"k": i, "v": -i} for i in range(30, 40)]))
    t.delete_where_mor(F.col("k") == 33, keys=["k"])
    t.rename_column("k", "id")
    # the condition sees the declared (renamed) columns
    t.delete_where_pos(F.col("id").isin(10, 35))
    out = t.read()
    assert out.columns == ["id", "v"]
    want = {i: i for i in range(5, 30)} | {i: -i for i in range(30, 40)}
    for i in (10, 33, 35):
        del want[i]
    assert {r.id: r.v for r in out.collect()} == want
    # the coalescer reads the same delete relation: values unchanged
    t.coalesce_equality_deletes_to_dv()
    assert {r.id: r.v for r in t.read().collect()} == want


# a table root Hadoop percent-escapes in _metadata.file_path (space, %)
# next to characters it leaves alone (+, é)
ODD = "sp ace+x%yé"


def test_escaped_root_dv_lineage_defaults_and_seq(spark, tmp_path):
    t = LakehouseTable(spark, str(tmp_path / ODD / "t"))
    t.append(spark.createDataFrame([(i, i) for i in range(20)], "k long, v long"))
    t.add_column("d", "long", default=7)
    t.append(
        spark.createDataFrame(
            [(i, i, 100 + i) for i in range(20, 25)], "k long, v long, d long"
        )
    )
    t.delete_where_mor(F.col("k").isin(3, 21), keys=["k"])
    # appended after the equality delete: its higher seq survives it
    t.append(spark.createDataFrame([(3, -3, -1)], "k long, v long, d long"))
    t.delete_where_dv(F.col("k").isin(5, 6))
    want = pd.DataFrame(
        [(k, k, 7) for k in range(20) if k not in (3, 5, 6)]
        + [(k, k, 100 + k) for k in (20, 22, 23, 24)]
        + [(3, -3, -1)],
        columns=["k", "v", "d"],
    ).sort_values("k").reset_index(drop=True)
    out = t.read(with_lineage=True)
    pd.testing.assert_frame_equal(
        _frame(out, ["k", "v", "d"]), want, check_dtype=False
    )
    ids = [r._row_id for r in out.select("_row_id").collect()]
    assert None not in ids and len(set(ids)) == len(want)


def test_escaped_root_dsv2_reads_position_deletes(spark, tmp_path):
    from apache_iceberg_exploration_spark.streaming.lakehouse_source import (
        make_lakehouse_batch_source,
    )

    t = LakehouseTable(spark, str(tmp_path / ODD / "t"))
    t.append(spark.createDataFrame([(i, i) for i in range(10)], "k long, v long"))
    t.delete_where_pos(F.col("k").isin(2, 7))
    assert t.count_rows() == 8
    spark.dataSource.register(make_lakehouse_batch_source())
    df = spark.read.format("lakehouse").option("path", t.path).load()
    assert sorted(r.k for r in df.collect()) == [0, 1, 3, 4, 5, 6, 8, 9]


def test_escaped_root_rewrite_position_delete_files(spark, tmp_path):
    t = LakehouseTable(spark, str(tmp_path / ODD / "t"))
    t.append(spark.createDataFrame([(i, i) for i in range(10)], "k long, v long"))
    t.delete_where_pos(F.col("k").isin(3, 4))
    t.rewrite_position_delete_files()
    assert not t._read_manifest(t.current_version())["delete_files"]
    assert sorted(r.k for r in t.read().collect()) == [0, 1, 2, 5, 6, 7, 8, 9]


def test_encrypted_position_delete_maintenance(spark, tmp_path):
    t = LakehouseTable(spark, str(tmp_path / ODD / "t"), encryption_key=KEY)
    t.enable_encryption(KEY)
    t.append(spark.createDataFrame([(i, i) for i in range(10)], "k long, v long"))
    t.delete_where_pos(F.col("k") == 1)
    t.coalesce_deletes_to_dv()
    assert sorted(r.k for r in t.read().collect()) == [0, *range(2, 10)]
    t.delete_where_pos(F.col("k") == 8)
    t.rewrite_position_delete_files()
    assert sorted(r.k for r in t.read().collect()) == [0, *range(2, 8), 9]


def test_planned_schema_matches_schema_merge(spark, tmp_path):
    from pyspark.sql import types as T

    def check(t, want=None):
        files = t._read_manifest(t.current_version())["files"]
        [(planned, read)] = LakehouseTable._physical_reads(files)
        assert sorted(read) == sorted(files)
        if want is None:  # Spark's own footer merge (one job)
            want = (
                spark.read.option("mergeSchema", True).parquet(*files).schema
            )
        # field for field: the merge's column order follows Spark's file
        # listing, and the scan selects by name
        by_name = lambda st: sorted(st.fields, key=lambda f: f.name)  # noqa: E731
        assert by_name(planned) == by_name(want)

    spark_t = LakehouseTable(spark, str(tmp_path / "spark"))
    spark_t.append(
        spark.range(3).selectExpr(
            "id AS k",
            "CAST(id AS DECIMAL(10,2)) AS dec",
            "DATE'2024-01-01' AS dt",
            "TIMESTAMP'2024-01-01 00:00:00' AS ts",
            "array(id) AS arr",
            "map('a', id) AS m",
            "named_struct('x', id, 'y', 'z') AS st",
        )
    )
    spark_t.append(spark.range(3).selectExpr("id AS k", "'new' AS extra"))
    check(spark_t)

    sink_root = str(tmp_path / "sink")
    _commit(sink_root, [{"k": 1, "v": "a", "f": 0.5, "b": True}])
    _commit(sink_root, [{"k": 2, "v": "b", "f": 2.5, "b": False}])
    check(LakehouseTable(spark, sink_root))
    # a column all NULL in one sink file is pyarrow type null, which
    # the vectorized reader cannot read as the other files' type: that
    # file is read apart without it
    _commit(sink_root, [{"k": 3, "v": None, "f": 1.5, "b": None}])
    sink = LakehouseTable(spark, sink_root)
    reads = LakehouseTable._physical_reads(
        sink._read_manifest(sink.current_version())["files"]
    )
    assert [sorted(sch.names) for sch, _ in reads] == [
        ["b", "f", "k", "v"],
        ["f", "k"],
    ]
    assert sorted(map(tuple, sink.read().collect())) == [
        (1, "a", 0.5, True),
        (2, "b", 2.5, False),
        (3, None, 1.5, None),
    ]

    variant_t = LakehouseTable(spark, str(tmp_path / "variant"))
    variant_t.append(
        spark.range(4).selectExpr("id AS k", "parse_json('{\"a\": 1}') AS p"),
        variant_shred={"p": {"a": ("$.a", "int")}},
    )
    check(variant_t)

    # int → long history: Spark's footer merge refuses it; the plan
    # takes the promoted type
    promoted = LakehouseTable(spark, str(tmp_path / "promoted"))
    promoted.append(spark.range(3).selectExpr("CAST(id AS INT) AS k"))
    promoted.append(spark.range(3).selectExpr("id AS k"))
    check(promoted, T.StructType([T.StructField("k", T.LongType())]))
    assert sorted(r.k for r in promoted.read().collect()) == [0, 0, 1, 1, 2, 2]
