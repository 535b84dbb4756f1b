"""Streaming UPSERT sink (VERDICT r8 #1): the lakehouse_sink's
``mode=upsert`` commits each micro-batch as data files PLUS one
equality-delete entry over the batch's keys — the Flink-into-Iceberg
write shape — so a keyed CDC stream replays to exact latest-state with
no driver-side MERGE. The read side (batch, DSv2, CDC emission) has
handled equality deletes since r7; this closes the write loop.

Reference parity: the reference's pipeline recomputes whole daily
partitions (etl.py:59-95 delete-then-rewrite); upsert commits replace
that with O(batch) incremental writes."""

from __future__ import annotations

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from apache_iceberg_exploration_spark.sources.lakehouse import (
    LakehouseTable,
)
from apache_iceberg_exploration_spark.streaming._wait import (
    await_or_raise,
)
from apache_iceberg_exploration_spark.streaming.lakehouse_sink import (
    make_lakehouse_stream_sink,
)
from apache_iceberg_exploration_spark.streaming.lakehouse_source import (
    make_lakehouse_stream_dist_source,
)


def _run_upsert_stream(spark, src_root, dst_root, cp, runs=1, **sink_opts):
    """Drive the upsert pipeline: ``runs`` source commits drain as
    ``runs`` micro-batches of ONE continuous-trigger query
    (_drain_commits — upsert order across batches follows source commit
    order, exactly the semantics the old one-availableNow-query-per-run
    loop gave; the port cut ~2.4 s of query startup per removed run).
    ``runs=1`` keeps the plain availableNow path so that machinery
    stays covered."""
    if runs > 1:
        from apache_iceberg_exploration_spark.operators.upsert import (
            _drain_commits,
        )

        _drain_commits(
            spark,
            src_root,
            dst_root,
            cp,
            runs,
            mode="upsert",
            **sink_opts,
        )
        return
    spark.dataSource.register(make_lakehouse_stream_dist_source())
    spark.dataSource.register(make_lakehouse_stream_sink())
    stream = (
        spark.readStream.format("lakehouse_stream_dist")
        .option("path", src_root)
        .option("maxVersionsPerTrigger", "1")
        .load()
    )
    w = (
        stream.writeStream.format("lakehouse_sink")
        .option("path", dst_root)
        .option("checkpointLocation", cp)
        .option("mode", "upsert")
    )
    for k, v in sink_opts.items():
        w = w.option(k, v)
    q = w.trigger(availableNow=True).start()
    await_or_raise(q, 300)


def _gen(spark, gen: int, keys: list[int]):
    return spark.createDataFrame(
        [Row(k=k, val=f"g{gen}-{k}", gen=gen) for k in keys]
    ).repartition(2, "k")


def test_upsert_latest_state(spark, tmp_path):
    src = LakehouseTable(spark, str(tmp_path / "src"))
    src.append(_gen(spark, 1, list(range(10))))
    src.append(_gen(spark, 2, [2, 3, 5, 12]))
    src.append(_gen(spark, 3, [3, 7, 12, 20]))
    _run_upsert_stream(
        spark,
        src.path,
        str(tmp_path / "dst"),
        str(tmp_path / "cp"),
        runs=3,
        upsertKeys="k",
    )
    dst = LakehouseTable(spark, str(tmp_path / "dst"))
    got = {r["k"]: (r["val"], r["gen"]) for r in dst.read().collect()}
    want = {k: (f"g1-{k}", 1) for k in range(10)}
    want.update({k: (f"g2-{k}", 2) for k in [2, 3, 5, 12]})
    want.update({k: (f"g3-{k}", 3) for k in [3, 7, 12, 20]})
    assert got == want
    # one equality entry per upsert batch AFTER the first commit
    m = dst._read_manifest(dst.current_version())
    eq = [e for e in m.get("delete_files", []) if not e.get("pos")]
    assert len(eq) == 2 and all(e["keys"] == ["k"] for e in eq)
    assert m["operation"] == "streaming-upsert"
    # count_rows falls back to the exact scan under equality entries
    assert dst.count_rows() == len(want)


def test_upsert_tombstones_delete(spark, tmp_path):
    src = LakehouseTable(spark, str(tmp_path / "src"))
    src.append(
        spark.createDataFrame(
            [
                Row(k=k, val=f"g1-{k}", __deleted=False)
                for k in range(8)
            ]
        ).repartition(2, "k")
    )
    src.append(
        spark.createDataFrame(
            [
                Row(k=1, val="g2-1", __deleted=False),
                Row(k=4, val=None, __deleted=True),
                Row(k=6, val=None, __deleted=True),
                Row(k=9, val="g2-9", __deleted=False),
            ]
        ).repartition(2, "k")
    )
    _run_upsert_stream(
        spark,
        src.path,
        str(tmp_path / "dst"),
        str(tmp_path / "cp"),
        runs=2,
        upsertKeys="k",
        deleteColumn="__deleted",
    )
    dst = LakehouseTable(spark, str(tmp_path / "dst"))
    # the tombstone column never lands in the table
    assert set(dst.read().columns) == {"k", "val"}
    got = {r["k"]: r["val"] for r in dst.read().collect()}
    want = {k: f"g1-{k}" for k in range(8) if k not in (1, 4, 6)}
    want.update({1: "g2-1", 9: "g2-9"})
    assert got == want


def test_upsert_replay_is_exactly_once(spark, tmp_path):
    """Restarting from the same checkpoint replays no batch: the HWM in
    the commit summary detects the replay and drops the files (both
    data AND key files)."""
    src = LakehouseTable(spark, str(tmp_path / "src"))
    src.append(_gen(spark, 1, [0, 1, 2]))
    src.append(_gen(spark, 2, [1, 3]))
    dst_root, cp = str(tmp_path / "dst"), str(tmp_path / "cp")
    _run_upsert_stream(
        spark, src.path, dst_root, cp, runs=2, upsertKeys="k"
    )
    dst = LakehouseTable(spark, dst_root)
    v1 = dst.current_version()
    rows1 = sorted(map(tuple, dst.read().collect()))
    # second run, same checkpoint: no new source commits, no new batch
    _run_upsert_stream(spark, src.path, dst_root, cp, upsertKeys="k")
    assert dst.current_version() == v1
    assert sorted(map(tuple, dst.read().collect())) == rows1


def test_upsert_duplicate_key_in_batch_fails_loudly(spark, tmp_path):
    src = LakehouseTable(spark, str(tmp_path / "src"))
    dup = spark.createDataFrame(
        [Row(k=5, val="a", gen=1), Row(k=5, val="b", gen=1)]
    ).coalesce(1)
    src.append(dup)
    with pytest.raises(Exception, match="duplicate key"):
        _run_upsert_stream(
            spark,
            src.path,
            str(tmp_path / "dst"),
            str(tmp_path / "cp"),
            upsertKeys="k",
        )


def test_upsert_requires_keys_and_known_columns(spark, tmp_path):
    spark.dataSource.register(make_lakehouse_stream_sink())
    src = LakehouseTable(spark, str(tmp_path / "src"))
    src.append(_gen(spark, 1, [0]))
    spark.dataSource.register(make_lakehouse_stream_dist_source())
    stream = (
        spark.readStream.format("lakehouse_stream_dist")
        .option("path", src.path)
        .load()
    )
    for opts, msg in [
        ({"mode": "upsert"}, "requires upsertKeys"),
        ({"upsertKeys": "k"}, "requires mode=upsert"),
        (
            {"mode": "upsert", "upsertKeys": "nope"},
            "not in the stream schema",
        ),
        (
            {
                "mode": "upsert",
                "upsertKeys": "k",
                "deleteColumn": "k",
            },
            "cannot be a key column",
        ),
    ]:
        w = (
            stream.writeStream.format("lakehouse_sink")
            .option("path", str(tmp_path / "d2"))
            .option("checkpointLocation", str(tmp_path / "c2"))
        )
        for k, v in opts.items():
            w = w.option(k, v)
        with pytest.raises(Exception, match=msg):
            q = w.trigger(availableNow=True).start()
            await_or_raise(q, 60)


def test_upsert_then_compaction_preserves_state(spark, tmp_path):
    """rewrite_data_files after upserts materializes the pending
    equality deletes away; latest-state survives byte-identically and
    the delete entries are gone."""
    src = LakehouseTable(spark, str(tmp_path / "src"))
    src.append(_gen(spark, 1, list(range(6))))
    src.append(_gen(spark, 2, [0, 2, 4, 6]))
    dst_root = str(tmp_path / "dst")
    _run_upsert_stream(
        spark,
        src.path,
        dst_root,
        str(tmp_path / "cp"),
        runs=2,
        upsertKeys="k",
    )
    dst = LakehouseTable(spark, dst_root)
    before = sorted(map(tuple, dst.read().collect()))
    dst.rewrite_data_files()
    after = sorted(map(tuple, dst.read().collect()))
    assert before == after
    m = dst._read_manifest(dst.current_version())
    assert not m.get("delete_files")
    # post-compaction the metadata count is exact again
    assert dst.count_rows() == len(after)


def _upsert_fixture(spark, tmp_path):
    """Two-generation keyed CDC stream upserted into dst: k=1 updated,
    k=2 tombstoned, k=9 fresh."""
    src = LakehouseTable(spark, str(tmp_path / "src"))
    src.append(
        spark.createDataFrame(
            [Row(k=k, val=f"g1-{k}", __deleted=False) for k in range(4)]
        ).repartition(2, "k")
    )
    src.append(
        spark.createDataFrame(
            [
                Row(k=1, val="g2-1", __deleted=False),  # update
                Row(k=2, val=None, __deleted=True),  # delete
                Row(k=9, val="g2-9", __deleted=False),  # fresh insert
            ]
        ).repartition(2, "k")
    )
    dst_root = str(tmp_path / "dst")
    _run_upsert_stream(
        spark,
        src.path,
        dst_root,
        str(tmp_path / "cp"),
        runs=2,
        upsertKeys="k",
        deleteColumn="__deleted",
    )
    return dst_root


def test_upsert_cdc_emits_update_pairs(spark, tmp_path):
    """The streaming CDC feed over an upsert table pairs each upserted
    key's old and new rows as update_preimage/update_postimage (Delta
    CDF MERGE shape) inside the one upsert commit; fresh keys are
    inserts, tombstoned keys are deletes."""
    from apache_iceberg_exploration_spark.streaming.lakehouse_source import (
        _cdc_rows,
    )

    dst_root = _upsert_fixture(spark, tmp_path)
    dst = LakehouseTable(spark, dst_root)
    v = dst.current_version()
    rows = _cdc_rows(dst_root, v - 1, v, ["k", "val"])
    by_type: dict = {}
    for r in rows:
        by_type.setdefault(r[2], []).append((r[0], r[1]))
    assert sorted(by_type.get("update_preimage", [])) == [(1, "g1-1")]
    assert sorted(by_type.get("update_postimage", [])) == [(1, "g2-1")]
    assert sorted(by_type.get("delete", [])) == [(2, "g1-2")]
    assert sorted(by_type.get("insert", [])) == [(9, "g2-9")]
    # full replay: 4 initial inserts + the four change rows above
    assert len(_cdc_rows(dst_root, 0, v, ["k", "val"])) == 8


def test_upsert_cdc_row_lineage_pairs_span_ids(spark, tmp_path):
    """rowLineage CDC over an upsert commit: the pair is keyed by the
    UPSERT KEY — the postimage is a new physical row, so its _row_id
    differs from the preimage's (unlike update_where_mor, which
    preserves identity). Documented contract, pinned here."""
    from apache_iceberg_exploration_spark.streaming.lakehouse_source import (
        _cdc_rows,
    )

    dst_root = _upsert_fixture(spark, tmp_path)
    dst = LakehouseTable(spark, dst_root)
    v = dst.current_version()
    rows = _cdc_rows(dst_root, v - 1, v, ["k", "val"], row_level=True)
    # (k, val, _row_id, _change_type, v, ts)
    pre = [r for r in rows if r[3] == "update_preimage"]
    post = [r for r in rows if r[3] == "update_postimage"]
    assert [(r[0], r[1]) for r in pre] == [(1, "g1-1")]
    assert [(r[0], r[1]) for r in post] == [(1, "g2-1")]
    assert pre[0][2] != post[0][2]  # identity changes across the upsert
    assert {r[3] for r in rows if r[0] == 2} == {"delete"}
    assert {r[3] for r in rows if r[0] == 9} == {"insert"}


def test_validate_upsert_keys_catches_cross_task_duplicates(
    spark, tmp_path
):
    """validateUpsertKeys=true: a key duplicated across TASKS (stream
    not key-partitioned) fails the batch at commit — the per-task check
    alone cannot see it."""
    src = LakehouseTable(spark, str(tmp_path / "src"))
    # duplicate k=5 forced into DIFFERENT partitions: round-robin over
    # a 2-row frame puts one row in each task
    dup = spark.createDataFrame(
        [Row(k=5, val="a", gen=1), Row(k=5, val="b", gen=1)]
    ).repartition(2)
    src.append(dup)
    with pytest.raises(Exception, match="ACROSS tasks"):
        _run_upsert_stream(
            spark,
            src.path,
            str(tmp_path / "dst"),
            str(tmp_path / "cp"),
            upsertKeys="k",
            validateUpsertKeys="true",
        )
    # nothing was committed — the batch aborted pre-publish
    dst = LakehouseTable(spark, str(tmp_path / "dst"))
    assert dst.current_version() == 0


def test_drain_commits_one_query_n_batches(spark, tmp_path):
    """_drain_commits (optimization r11): ONE continuous-trigger
    streaming query drains N source versions as N separate sink
    commits — identical commit structure to N availableNow runs (the
    semantics every upsert query's oracle hash depends on), without
    N query startups. Pins: (a) one commit per source version, (b) the
    per-commit equality-delete entry count (one per post-first commit),
    (c) exact latest-state, (d) the engine commit log holds exactly N
    batch entries (one query, N micro-batches — not one merged batch)."""
    import os

    from apache_iceberg_exploration_spark.operators.upsert import (
        _drain_commits,
    )

    src = LakehouseTable(spark, str(tmp_path / "src"))
    src.append(_gen(spark, 1, list(range(10))))
    src.append(_gen(spark, 2, [2, 3, 5, 12]))
    src.append(_gen(spark, 3, [3, 7, 12, 20]))
    _drain_commits(
        spark,
        src.path,
        str(tmp_path / "dst"),
        str(tmp_path / "cp"),
        3,
        mode="upsert",
        upsertKeys="k",
    )
    dst = LakehouseTable(spark, str(tmp_path / "dst"))
    assert dst.current_version() == 3  # one sink commit per version
    got = {r["k"]: (r["val"], r["gen"]) for r in dst.read().collect()}
    want = {k: (f"g1-{k}", 1) for k in range(10)}
    want.update({k: (f"g2-{k}", 2) for k in [2, 5]})
    want.update({k: (f"g3-{k}", 3) for k in [3, 7, 12, 20]})
    assert got == want
    eq_entries = [
        d
        for d in dst._read_manifest(3).get("delete_files", [])
        if not d.get("pos")
    ]
    assert len(eq_entries) == 2  # first commit has nothing to delete
    commits = [
        f
        for f in os.listdir(str(tmp_path / "cp" / "commits"))
        if f.isdigit()
    ]
    assert sorted(commits) == ["0", "1", "2"]  # 3 micro-batches, 1 query


class _StopFails:
    """Stub streaming query whose stop() raises."""

    def __init__(self):
        self.stops = 0

    def stop(self):
        self.stops += 1
        raise RuntimeError("stop failed")


def test_drain_commits_stop_failure_after_success_raises(monkeypatch):
    """A failing stop() on the success path is reported, not swallowed."""
    from apache_iceberg_exploration_spark.operators import upsert as U

    q = _StopFails()
    monkeypatch.setattr(U, "_start_drain", lambda *a, **k: (q, "cdir", 0))
    monkeypatch.setattr(U, "_await_commit", lambda *a, **k: None)
    with pytest.raises(RuntimeError, match="stop failed"):
        U._drain_commits(None, "src", "dst", "cp", 2)
    assert q.stops == 1


def test_drain_commits_stop_failure_keeps_await_error(monkeypatch):
    """When the wait fails, a failing stop() must not mask its error."""
    from apache_iceberg_exploration_spark.operators import upsert as U

    def _timeout(*a, **k):
        raise TimeoutError("batch never committed")

    q = _StopFails()
    monkeypatch.setattr(U, "_start_drain", lambda *a, **k: (q, "cdir", 0))
    monkeypatch.setattr(U, "_await_commit", _timeout)
    with pytest.raises(TimeoutError, match="never committed"):
        U._drain_commits(None, "src", "dst", "cp", 2)
    assert q.stops == 1
