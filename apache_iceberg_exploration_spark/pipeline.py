"""Medallion pipeline over lakehouse tables (O1, SURVEY.md §3.1).

The reference chains bronze→silver→gold through /tmp parquet files +
Airflow XCom (etl.py:45-96) and deletes bronze before silver reads it
(the etl.py:59/65 delete-before-read bug). Here every layer hand-off is a
committed lakehouse snapshot:

  bronze  raw ingest, append-mode (incremental batches accumulate)
  silver  keyed dedup of all of bronze, overwrite (a full mirror)
  gold    aggregate, overwrite (small derived table)

Bronze appends are cheap fast-appends; silver is rewritten whole, since
a text re-sent under a lower id can retire a row of any earlier batch
(a full-sync merge would rewrite every file too, after a join with the
old silver); gold is tiny.
"""

from __future__ import annotations

from pyspark.sql import SparkSession, Window
from pyspark.sql import functions as F

from .sources.catalog import LakehouseCatalog
from .sources.io import load_table
from .sources.lakehouse import LakehouseTable


def lakehouse_medallion(
    spark: SparkSession, sf_dir: str, warehouse: str
) -> dict[str, LakehouseTable]:
    """Run the full pipeline; returns the three layer tables, addressed
    through the catalog exactly as the reference addresses its layers
    (``my_catalog.bronze.iceberg`` etc., etl.py:49,72,90)."""
    cat = LakehouseCatalog(spark, warehouse)
    bronze = cat.table("my_catalog.bronze.documents")
    silver = cat.table("my_catalog.silver.documents")
    gold = cat.table("my_catalog.gold.doc_stats")

    # bronze: raw append (the incremental extract lands here)
    docs = load_table(spark, sf_dir, "documents")
    bronze.append(docs)

    # silver: deterministic keyed dedup of everything bronze holds —
    # mirrored in full, so a text re-sent under a lower doc_id replaces
    # its earlier row instead of sitting beside it
    w = Window.partitionBy("text").orderBy("doc_id")
    deduped = (
        bronze.read()
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    silver.overwrite(deduped)

    # gold: the reference's count-per-group audit (etl.py:86) generalized
    stats = (
        silver.read()
        .groupBy("lang", "source")
        .agg(
            F.count("*").alias("total_count"),
            F.round(F.avg("n_chars"), 2).alias("avg_chars"),
        )
    )
    gold.overwrite(stats)
    return {"bronze": bronze, "silver": silver, "gold": gold}
