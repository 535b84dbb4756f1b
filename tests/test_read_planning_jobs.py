"""Read planning cost is independent of table history: ``read`` and
``scan`` open every flat data file with one schema-merging read and ship
every pending delete entry as one driver-built local relation, so the
Spark jobs launched while planning do not grow with the number of
commits a read touches. Values are checked against a pandas replay, and
the fallbacks (type-promoted history, encrypted files, renamed keys,
positional deletes) keep their results."""

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
    assert counts[1] == counts[4], counts


def test_many_snapshot_dirs_pending_deletes(spark, tmp_path):
    """More snapshot dirs than a literal dir → seq map holds: the
    merged scan takes its seqs from a broadcast relation instead, with
    the same rows."""
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
    assert "__seq_dir" in plan  # the join arm, not the literal map
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
    """int → long across commits: the merged read refuses the mixed
    physical types and the scan falls back to one read per seq, still
    exact under pending equality deletes."""
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
    t.delete_where_pos(F.col("k").isin(10, 35))
    t.rename_column("k", "id")
    out = t.read()
    assert out.columns == ["id", "v"]
    want = {i: i for i in range(5, 30)} | {i: -i for i in range(30, 40)}
    for i in (10, 33, 35):
        del want[i]
    assert {r.id: r.v for r in out.collect()} == want
    # the coalescer reads the same delete relation: values unchanged
    t.coalesce_equality_deletes_to_dv()
    assert {r.id: r.v for r in t.read().collect()} == want
