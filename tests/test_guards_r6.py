"""Round-6 guard/parity fixes, executable:

- part_affinity_topk's basket cap (VERDICT r5 "what's wrong" #1): the
  orderkey self-join refuses oversized baskets instead of documenting
  the assumption.
- brand_price_regression's zero-denominator groups (ADVICE r5 #1):
  constant-quantity or n=1 brands must yield NULL in BOTH engines.
- bpe_encode_stats on a corpus admitting fewer than k merges
  (ADVICE r5 #2): the oracle's LEFT JOIN keeps one row per doc.
- catalog's UTC pin warns (not silently flips) a non-UTC session
  (VERDICT r5 "what's wrong" #2).
- suite-level persists release when the next entry is invoked
  (ADVICE r5 #3).
"""

from __future__ import annotations

import os
import warnings

import duckdb
import pytest

from miba_2023_capstone_rb_nlp_spark import catalog, suite
from tests.parity import compare

SUITE = suite.load_suite()


def _write(spark, tmp_path, name: str, df) -> str:
    df.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(str(tmp_path), f"{name}.parquet")
    )
    return str(tmp_path)


def test_affinity_basket_guard_trips(spark, tmp_path):
    n = 1_001
    li = spark.createDataFrame(
        [(1, i) for i in range(n)], "l_orderkey bigint, l_partkey bigint"
    )
    sf_dir = _write(spark, tmp_path, "lineitem", li)
    with pytest.raises(ValueError, match="largest basket"):
        SUITE["part_affinity_topk"].fn(spark, sf_dir)


def test_affinity_guard_passes_bounded_baskets(spark, tmp_path):
    li = spark.createDataFrame(
        [(o, p) for o in range(4) for p in range(3)],
        "l_orderkey bigint, l_partkey bigint",
    )
    sf_dir = _write(spark, tmp_path, "lineitem", li)
    out = SUITE["part_affinity_topk"].fn(spark, sf_dir)
    assert out.count() > 0


def test_brand_regression_degenerate_groups_null_parity(spark, tmp_path):
    # brand A: constant quantity (den=0), brand B: well-posed,
    # brand C: single row (den=0) — NULL slope/intercept/r² both sides
    li = spark.createDataFrame(
        [
            (1, 5.0, 100.0),
            (1, 5.0, 110.0),
            (2, 1.0, 10.0),
            (2, 2.0, 22.0),
            (2, 3.0, 29.0),
            (3, 7.0, 70.0),
        ],
        "l_partkey bigint, l_quantity double, l_extendedprice double",
    )
    part = spark.createDataFrame(
        [(1, "A"), (2, "B"), (3, "C")], "p_partkey bigint, p_brand string"
    )
    sf_dir = _write(spark, tmp_path, "lineitem", li)
    _write(spark, tmp_path, "part", part)
    con = duckdb.connect()
    for t in ("lineitem", "part"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{sf_dir}/{t}.parquet/*.parquet')"
        )
    spark_df = SUITE["brand_price_regression"].fn(spark, sf_dir)
    oracle = con.sql(SUITE["brand_price_regression"].oracle).df()
    compare(spark_df, oracle, "brand_price_regression/degenerate")
    rows = {r["brand"]: r for r in spark_df.collect()}
    assert rows["A"]["slope"] is None and rows["C"]["r2"] is None
    assert rows["B"]["slope"] is not None


def test_bpe_degenerate_corpus_parity(spark, tmp_path):
    # corpus admits 2 merges, not _BPE_N_MERGES=5: rounds 3-5 learn
    # nothing, and the encode oracle must still emit one row per doc
    docs = spark.createDataFrame(
        [(1, "ab ab ab"), (2, "ab cd"), (3, "cd cd")],
        "doc_id bigint, text string",
    )
    sf_dir = _write(spark, tmp_path, "documents", docs)
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf_dir}/documents.parquet/*.parquet')"
    )
    for name in ("bpe_merge_learn", "bpe_encode_stats"):
        spark_df = SUITE[name].fn(spark, sf_dir)
        oracle = con.sql(SUITE[name].oracle).df()
        compare(spark_df, oracle, f"{name}/degenerate")
    enc = SUITE["bpe_encode_stats"].fn(spark, sf_dir)
    assert enc.count() == 3  # one row per doc despite missing merges


def test_tz_override_warns_not_silent(spark, monkeypatch):
    # _TZ_WARNED is a warn-once memo keyed by (session, tz); another
    # test may already have consumed the America/New_York warning on
    # the shared session — reset it so this test is order-independent
    # (ADVICE r6 #2)
    monkeypatch.setattr(catalog, "_TZ_WARNED", set())
    prev = spark.conf.get("spark.sql.session.timeZone", None)
    try:
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        with pytest.warns(UserWarning, match="timeZone=UTC"):
            catalog.table(spark, "/root/testdata/sf0.001", "region")
        assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
        # UTC → UTC is silent
        with warnings.catch_warnings():
            warnings.simplefilter("error")
            catalog.table(spark, "/root/testdata/sf0.001", "region")
    finally:
        if prev is not None:
            spark.conf.set("spark.sql.session.timeZone", prev)


def test_suite_persists_release_on_next_entry(spark):
    sf = "/root/testdata/sf0.001"
    df = SUITE["prefix_jaccard_pairs"].fn(spark, sf)
    assert len(suite._LIVE_PERSISTS) >= 1
    tracked = list(suite._LIVE_PERSISTS)
    df.count()  # materialize: the caches fill
    # re-invoking the SAME entry must NOT release — the fresh
    # persist dedups in CacheManager
    SUITE["prefix_jaccard_pairs"].fn(spark, sf)
    assert len(suite._LIVE_PERSISTS) > len(tracked)
    assert all(t.storageLevel.useMemory for t in tracked)
    # a DIFFERENT entry releases everything tracked so far
    SUITE["lang_id"].fn(spark, sf)
    assert suite._LIVE_PERSISTS == []
    assert all(not t.storageLevel.useMemory for t in tracked)
