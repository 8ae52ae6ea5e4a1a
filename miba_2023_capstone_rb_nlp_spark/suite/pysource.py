"""Suite entry for the custom Python Data Source connector
(sources/pysource.py): the Spark-4 DataSource V2 surface the reference
covers with bespoke scrapers (`link_extractor.py`), exercised through
the same oracle gate as every relational operator.

The source generates rows purely from md5 of the row index, so the
DuckDB oracle re-derives the IDENTICAL dataset from generate_series —
the driver hash proves the whole connector path (schema declaration,
partition planning, per-split generators, Arrow hand-off) row-exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from miba_2023_capstone_rb_nlp_spark.sources.pysource import (
    SeededLinksDataSource,
)
from miba_2023_capstone_rb_nlp_spark.suite import register

_N = 2000
_PYSOURCE_ORACLE = f"""
WITH g AS (SELECT unnest(generate_series(0, {_N - 1})) AS i),
d AS (
  SELECT i,
         CAST(('0x' || substr(md5('link:' || CAST(i AS VARCHAR)), 1, 15))
              AS BIGINT) AS h
  FROM g
)
SELECT CASE h % 3 WHEN 0 THEN 'Google' WHEN 1 THEN 'Bing'
       ELSE 'Yahoo' END AS engine,
       CAST(count(*) AS BIGINT) AS n_links,
       CAST(min(h) AS BIGINT) AS min_h,
       CAST(max(h) AS BIGINT) AS max_h,
       CAST(sum(h % 1000003) AS BIGINT) AS sum_hm
FROM d GROUP BY 1
"""


@register("custom_pysource_links", oracle=_PYSOURCE_ORACLE)
def q_custom_pysource_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read the registered Python data source and profile it per
    engine. (sf_dir is unused: the connector IS the data.)

    Plan: the scan parallelizes over the reader's partitions() splits
    (8 here; one task per split at any cluster size), rows transfer
    as Arrow batches, and the per-engine profile is a 3-group partial
    agg. Filter pushdown (engine equality/IN → source-side skip, the
    Spark 4.1 pushFilters contract) is pinned by
    tests/test_sources.py::TestPythonDataSource — this entry reads
    unfiltered so the oracle covers every generated row, and it does
    so through the conf-free base reader (no ``pushdown`` option):
    a pushFilters-implementing reader requires
    spark.sql.python.filterPushdown.enabled at EXECUTION time, which
    would couple this entry's lazy plan to session-conf lifetime."""
    spark.dataSource.register(SeededLinksDataSource)
    df = (
        spark.read.format("seeded_links")
        .option("n", _N)
        .option("parts", 8)
        .load()
    )
    return df.groupBy("engine").agg(
        F.count(F.lit(1)).alias("n_links"),
        F.min("h").alias("min_h"),
        F.max("h").alias("max_h"),
        F.sum(F.col("h") % 1000003).alias("sum_hm"),
    )
