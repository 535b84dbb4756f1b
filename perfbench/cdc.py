"""cdc_upsert_mor: writes beside reads on one merge-on-read table.

One Structured Streaming query drains keyed change batches from a
source lakehouse table into a target through the upsert sink
(``mode=upsert``: equality deletes, tombstones via ``deleteColumn``).
After each batch an aggregate runs on the target, and after every
second batch a range scan or a point lookup (alternately). A round is
``BATCHES`` change batches and their reads, then ``rewrite_data_files``
and ``expire_snapshots``; so every round starts with no pending deletes
and one snapshot, whatever the speed, and its reads meet 1 to
``BATCHES`` pending upsert commits.
"""

from __future__ import annotations

import time

from . import checks, gen
from .harness import Written, pending_deletes, sample_table, tree_bytes

INITIAL_KEYS = 20_000
BATCH_SIZE = 2_000
BATCHES = 5
RANGE_WIDTH = 1_000
VISIBLE_TIMEOUT_S = 60.0


def run(r) -> None:
    spark = r.start_session()
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from apache_iceberg_exploration_spark.sources.lakehouse import LakehouseTable
    from apache_iceberg_exploration_spark.streaming.lakehouse_sink import (
        make_lakehouse_stream_sink,
    )
    from apache_iceberg_exploration_spark.streaming.lakehouse_source import (
        make_lakehouse_stream_dist_source,
    )

    tr = r.tracer
    schema = T.StructType([
        T.StructField("k", T.LongType()),
        T.StructField("v", T.LongType()),
        T.StructField("deleted", T.BooleanType()),
    ])
    changes = gen.ChangeStream(r.seed, INITIAL_KEYS, BATCH_SIZE)
    replay = checks.Replay()
    src = LakehouseTable(spark, r.path("warehouse", "src"))
    dst = LakehouseTable(spark, r.path("warehouse", "dst"))
    src_written, dst_written = Written(src.path), Written(dst.path)

    def commit(batch):
        src.append(spark.createDataFrame(batch, schema).coalesce(2))

    def wait_visible(version: int, q) -> None:
        deadline = time.monotonic() + VISIBLE_TIMEOUT_S
        polls = 0
        while dst.current_version() < version:
            polls += 1
            if polls % 100 == 0:
                ex = q.exception()
                if ex is not None:
                    raise ex
                if time.monotonic() > deadline:
                    raise TimeoutError(f"target did not reach v{version}")
            time.sleep(0.005)

    # initial load: the change stream's first commit holds every key
    first = changes.initial()
    commit(first)
    replay.apply(first)
    spark.dataSource.register(make_lakehouse_stream_dist_source())
    spark.dataSource.register(make_lakehouse_stream_sink())
    with tr.span("streaming.query_start") as s:
        q = (
            spark.readStream.format("lakehouse_stream_dist")
            .option("path", src.path)
            .option("maxVersionsPerTrigger", "1")
            .load()
            .writeStream.format("lakehouse_sink")
            .option("path", dst.path)
            .option("checkpointLocation", r.path("checkpoint"))
            .option("mode", "upsert")
            .option("upsertKeys", "k")
            .option("deleteColumn", "deleted")
            .trigger(processingTime="0 seconds")
            .start()
        )
        wait_visible(1, q)
    tr.sample("streaming.query_start_s", s.dur, setup=True)

    def aggregate_check():
        with r.op("read", "bench.read.aggregate"):
            df = dst.read()
            with tr.span("sources.lakehouse.read_action"):
                row = df.agg(F.count("*"), F.sum("v")).first()
        r.check(checks.check_state, row[0], row[1] or 0, replay)

    def range_check():
        lo, hi = changes.key_range(RANGE_WIDTH)
        with r.op("read", "bench.read.range"):
            df = dst.scan(where={"k": (lo, hi)})
            with tr.span("sources.lakehouse.read_action"):
                got = df.select("k").toPandas()["k"]
        r.check(checks.check_ids, f"range [{lo}, {hi}]", got,
                replay.keys_in(lo, hi))

    def point_check():
        k = changes.point_key()
        with r.op("read", "bench.read.point"):
            df = dst.scan(where={"k": (k, k)})
            with tr.span("sources.lakehouse.read_action"):
                rows = df.collect()
        want = [(k, int(replay.val[k]))] if replay.live[k] else []
        r.check(checks.check_equal, f"lookup {k}",
                [(x["k"], x["v"]) for x in rows], want)

    def progress_sample(batch_id: int) -> None:
        """addBatch and trigger durations of one micro-batch, from the
        query's progress reports (posted just after the sink commit)."""
        deadline = time.monotonic() + 5
        while time.monotonic() < deadline:
            for p in q.recentProgress:
                if p.batchId == batch_id:
                    tr.sample("streaming.add_batch_ms", p.durationMs.get("addBatch", 0))
                    tr.sample("streaming.trigger_ms",
                              p.durationMs.get("triggerExecution", 0))
                    return
            time.sleep(0.01)

    batch_id = 0  # micro-batch id of the latest source commit

    def one_batch(b: int) -> int:
        """One change batch through the query, then its reads; returns
        the rows committed to the source."""
        nonlocal batch_id
        batch = changes.next_batch()
        batch_id += 1
        v0 = dst.current_version()
        with r.op("other", "bench.write.change_batch"):
            commit(batch)
            committed = time.perf_counter()
            wait_visible(v0 + 1, q)
        visible_s = time.perf_counter() - committed
        replay.apply(batch)
        if r.timed:
            r.writes.append(visible_s)
        if tr.enabled:
            tr.sample("streaming.commit_to_visible_s", visible_s)
            tr.sample("sources.lakehouse.write_amplification",
                      dst_written.new_bytes() / max(1, src_written.new_bytes()))
            progress_sample(batch_id)
            sample_table(tr, dst)
        aggregate_check()
        if b % 2 == 1:
            (range_check if b % 4 == 1 else point_check)()
        return len(batch)

    def maintain() -> None:
        with r.op("other", "bench.write.maintenance"):
            dst.rewrite_data_files()
            dst.expire_snapshots(keep_last=1)
        r.check(checks.check_equal, "pending deletes after compaction",
                pending_deletes(dst.snapshots()[-1]), 0)
        aggregate_check()
        range_check()

    # warm-up: every read kind once on the initial load, so the rounds
    # do not pay the first compilation of the read paths
    aggregate_check()
    range_check()
    point_check()
    src_written.new_bytes()  # from here on, count what the rounds write
    dst_written.new_bytes()

    def timed_round(i: int) -> int:
        rows = sum(one_batch(b) for b in range(BATCHES))
        if tr.enabled:
            tr.sample("streaming.batches", BATCHES)
            tr.sample("sources.lakehouse.metadata_bytes",
                      tree_bytes(dst.path, only="snapshots"))
        maintain()
        return rows

    r.timed_rounds(timed_round)
    r.finish(tree_bytes(dst.path))
    q.stop()

