"""Query suite: every implemented operator from SURVEY.md §2 gets a
named entry pairing a PySpark plan-builder with an equivalent ANSI-SQL
oracle (run by DuckDB on the same parquet). ``__spark_entry__.py``
exposes this registry to the driver, in the order ``_driver_order``
computes from the committed ``CORRECTNESS_rNN.json`` artifacts.

Conventions (driver contract):
  - spark fn signature: (SparkSession, sf_dir) -> DataFrame
  - every computed column aliased IDENTICALLY in spark + SQL
  - floats rounded at the query boundary so the order-insensitive
    value hash is engine-deterministic
  - flat output schemas (no nested structs) where an oracle exists
  - materialize each result before building the next query: invoking
    a different entry releases the previous entry's tracked persists
    (see persist_tracked below). Results stay correct either way, but
    a plan-all-then-run consumer recomputes the persisted subtrees.
"""

from __future__ import annotations

import glob
import json
import os
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession


@dataclass(frozen=True)
class Query:
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # None → driver records rows-only check


REGISTRY: dict[str, Query] = {}

# Suite-level persist lifecycle: entry builders that
# .persist() an intermediate can't unpersist it themselves — the
# entry returns a LAZY DataFrame, so the cache must outlive the
# builder call. Instead they register through persist_tracked(), and
# every registered query releases the PREVIOUS entry's persists when
# a DIFFERENT entry is invoked: a sequential sweep (the driver's,
# bench's, or the verify skill's) holds at most one entry's cache at
# a time instead of leaking one corpus-scale subtree per persisted
# entry for the session's lifetime. Re-invoking the SAME entry keeps
# its caches: the fresh persist of the identical plan dedups in
# Spark's CacheManager. bench.py clearCache()es before every rep, so
# its reps never read a cache an earlier rep filled.
_LIVE_PERSISTS: list[DataFrame] = []
_CURRENT_ENTRY: list[str] = []  # 1-element mutable cell


def persist_tracked(df: DataFrame, level=None) -> DataFrame:
    from pyspark import StorageLevel

    out = df.persist(level or StorageLevel.MEMORY_AND_DISK)
    _LIVE_PERSISTS.append(out)
    return out


def release_persisted() -> None:
    while _LIVE_PERSISTS:
        df = _LIVE_PERSISTS.pop()
        try:
            df.unpersist(blocking=False)
        except Exception:
            # a stopped session has nothing to unpersist; the cache
            # dies with the session either way
            pass


def register(name: str, oracle: str | None = None):
    def deco(fn):
        if name in REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")

        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            # release the previous entry's tracked caches — by the
            # time a sweep asks for the NEXT query, the prior result
            # has been materialized (and unpersisting an un-run plan
            # merely recomputes; it can't corrupt results)
            if _CURRENT_ENTRY != [name]:
                release_persisted()
                _CURRENT_ENTRY[:] = [name]
            return fn(spark, sf_dir)

        wrapped.__name__ = fn.__name__
        wrapped.__doc__ = fn.__doc__
        wrapped.__wrapped__ = fn
        REGISTRY[name] = Query(fn=wrapped, oracle=oracle)
        return fn

    return deco


_MODULES = (
    "flagship",
    "relational",
    "cleaning",
    "ner",
    "multimodal",
    "streaming_live",
    "text",
    "sampling",
    "curation",
    "retrieval",
    "packing",
    "dedup",
    "similarity",
    "events",
    "temporal",
    "topics",
    "graph",
    "ml",
    "pysource",
)


def _correctness_artifacts() -> dict[int, dict[str, dict]]:
    """Round number → rows of every ``CORRECTNESS_rNN.json`` in the
    repository root (the package directory's parent). Empty when none
    is present; a malformed artifact raises."""
    package_dir = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    root = os.path.dirname(package_dir)
    artifacts = {}
    for path in glob.glob(os.path.join(root, "CORRECTNESS_r*.json")):
        rnd = int(os.path.basename(path)[len("CORRECTNESS_r"):-len(".json")])
        with open(path) as f:
            artifacts[rnd] = json.load(f)
    return artifacts


def _driver_order(
    names: list[str], artifacts: dict[int, dict[str, dict]]
) -> list[str]:
    """The flagship first, then every other entry by the last round in
    which the driver saw it fully green (hash, rows and schema all
    match), oldest first; never green counts as round 0 and ties keep
    ``names`` order. The driver checks only a head window of the
    registry each round, so this sort rotates the stalest entries into
    that window and each artifact pushes its greens to the tail."""
    last_green: dict[str, int] = {}
    for rnd, rows in artifacts.items():
        for name, row in rows.items():
            if row["hash_match"] and row["rows_match"] and row["schema_match"]:
                last_green[name] = max(rnd, last_green.get(name, 0))
    return sorted(
        names, key=lambda n: (n != "cluster_viz_summary", last_green.get(n, 0))
    )


def load_suite() -> dict[str, Query]:
    """Import all suite modules (side effect: they register), then
    order the registry by ``_driver_order`` over the committed
    correctness artifacts.

    Import errors are NOT swallowed: a module that fails to import is
    only tolerated when the missing module is an optional third-party
    dependency — a broken intra-package import must fail loudly, not
    silently shrink the checked suite.
    """
    for mod in _MODULES:
        fq = f"miba_2023_capstone_rb_nlp_spark.suite.{mod}"
        try:
            __import__(fq)
        except ModuleNotFoundError as e:
            if (e.name or "").startswith("miba_2023_capstone_rb_nlp_spark"):
                raise
            # optional third-party dep genuinely absent in this env
        # any other ImportError propagates
    order = _driver_order(list(REGISTRY), _correctness_artifacts())
    return {name: REGISTRY[name] for name in order}
