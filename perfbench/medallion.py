"""medallion_incremental: the paper's own artifact.

Document batches arrive in increasing ``doc_id`` order and each goes
through ``pipeline.lakehouse_medallion`` (bronze append, keyed dedup
over bronze, silver ``merge_into``, gold ``overwrite``). A consumer
then reads gold, bronze at the previous version, and a silver range;
those three reads are one consumer read.

Set-up lands the first ``HISTORY - 2`` batches straight in bronze (the
initial load of what the extract delivered earlier: one bronze append
each), runs the pipeline on the next two (its first-overwrite and
first-merge paths, which also warms the JIT up), and keeps a copy of
the warehouse. Every round puts that copy back and runs the pipeline on
batch ``HISTORY + 1``, so every round meets the same table history
(``HISTORY`` bronze commits) however fast the program is.
"""

from __future__ import annotations

import shutil

from . import checks, gen
from .harness import Written, sample_table, tree_bytes

HISTORY = 10
BATCH_SIZE = 2000
RANGE_WIDTH = 400


def run(r) -> None:
    spark = r.start_session()
    from pyspark.sql import functions as F

    from apache_iceberg_exploration_spark import pipeline
    from apache_iceberg_exploration_spark.sources.catalog import LakehouseCatalog
    from apache_iceberg_exploration_spark.sources.io import load_table

    tr = r.tracer
    n_batches = HISTORY + 1
    batches = gen.medallion_batches(r.seed, n_batches, BATCH_SIZE)
    ranges = gen.medallion_ranges(r.seed, batches, RANGE_WIDTH)
    expected = checks.medallion_expected(batches)
    dirs = [r.path("inputs", f"b{i}") for i in range(n_batches)]
    in_bytes = [gen.write_documents(b, d) for b, d in zip(batches, dirs)]
    wh = r.path("warehouse", "tables")
    base = r.path("base")

    def one_batch(i: int) -> None:
        want = expected[i]
        with r.op("write", "bench.write.batch"):
            with tr.span("pipeline.lakehouse_medallion"):
                t = pipeline.lakehouse_medallion(spark, dirs[i], wh)
        bronze, silver, gold = t["bronze"], t["silver"], t["gold"]

        lo, hi = ranges[i]
        with r.op("read", "bench.read.consumer"):
            df = gold.read()
            with tr.span("sources.lakehouse.read_action"):
                got = df.toPandas()
            df = bronze.read(bronze.current_version() - 1)
            with tr.span("sources.lakehouse.read_action"):
                prev = df.agg(F.count("*"), F.sum("doc_id")).first()
            df = silver.scan(where={"doc_id": (lo, hi)})
            with tr.span("sources.lakehouse.read_action"):
                ids = df.select("doc_id").toPandas()["doc_id"]
        r.check(checks.check_gold, got, want["gold"])
        r.check(checks.check_equal, "bronze at previous version",
                (prev[0], int(prev[1])), want["prev_bronze"])
        r.check(checks.check_ids, "silver range",
                ids, checks.ids_in(want["silver_ids"], lo, hi))
        r.check(checks.check_equal, "bronze rows",
                bronze.count_rows(), want["bronze_rows"])
        r.check(checks.check_equal, "silver rows",
                silver.count_rows(), len(want["silver_ids"]))
        if tr.enabled:
            sample_table(tr, silver)

    bronze = LakehouseCatalog(spark, wh).table("my_catalog.bronze.documents")
    for i in range(HISTORY - 2):
        bronze.append(load_table(spark, dirs[i], "documents"))
        r.check(checks.check_equal, "bronze rows",
                bronze.count_rows(), expected[i]["bronze_rows"])
    for i in range(HISTORY - 2, HISTORY):
        one_batch(i)
    shutil.copytree(wh, base)
    written = Written(wh)

    def restore(_i: int) -> None:
        shutil.rmtree(wh)
        shutil.copytree(base, wh)
        written.seen.clear()
        written.new_bytes()  # the history's files are not the round's

    def timed_round(_i: int) -> int:
        one_batch(HISTORY)
        if tr.enabled:
            tr.sample("sources.lakehouse.metadata_bytes",
                      tree_bytes(wh, only="snapshots"))
            tr.sample("sources.lakehouse.write_amplification",
                      written.new_bytes() / in_bytes[HISTORY])
        return BATCH_SIZE

    r.timed_rounds(timed_round, before=restore)
    r.finish(tree_bytes(wh))
