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

# Suite-level persist lifecycle (ADVICE r5 #3): entry builders that
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
# (spark, key, prior value or None) saved by set_conf_tracked
_LIVE_CONF_RESTORES: list[tuple[SparkSession, str, str | None]] = []


def persist_tracked(df: DataFrame, level=None) -> DataFrame:
    from pyspark import StorageLevel

    out = df.persist(level or StorageLevel.MEMORY_AND_DISK)
    _LIVE_PERSISTS.append(out)
    return out


def _conf_explicitly_set(spark: SparkSession, key: str) -> bool | None:
    """True/False iff the key is/isn't EXPLICITLY set on this session
    (as opposed to merely resolving to its built-in default) — the
    set-vs-default probe RuntimeConfig doesn't expose.

    ``spark.conf.get(key, sentinel)`` cannot serve here: the default
    argument is VALIDATED against the conf entry's type (a string
    sentinel throws INVALID_CONF_VALUE on typed confs), so the probe
    goes through the JVM ``SQLConf.contains`` bridge instead — a
    private API, absent under Spark Connect, hence the ``None``
    (unknown) return for the caller to fall back on."""
    try:
        return bool(spark._jsparkSession.sessionState().conf().contains(key))
    except Exception:
        return None


def set_conf_tracked(spark: SparkSession, key: str, value: str) -> None:
    """Set a session conf an entry's LAZY plan needs at execution
    time, restoring the prior value on the same lifecycle as
    persist_tracked (ADVICE r8 #1): a plain try/finally would restore
    before the caller materializes the returned DataFrame, so the
    restore instead fires when a DIFFERENT entry is next invoked — by
    which point the sweep has collected this entry's result.

    Caveat (review r9 finding #1): unlike an unpersisted cache — which
    merely recomputes — a plan whose EXECUTION depends on a tracked
    conf errors if materialized after the restore, so entries must not
    make execution depend on one (the connector entry reads through a
    conf-free reader for exactly this reason). Use this only for confs
    that tune execution, never ones that gate it.

    Unset-capture (VERDICT r10 #6, closing ADVICE r9 #2 properly): a
    default-valued key that was never explicitly set is restored to
    TRULY-UNSET, not re-set to its default string — a later consumer
    distinguishing set-vs-default sees unchanged state. The probe is
    ``_conf_explicitly_set``; where that bridge is unavailable
    (Connect), restore degrades to by-value — same effective value,
    the documented pre-r11 behavior."""
    try:
        prior: str | None = spark.conf.get(key)
    except Exception:  # unset key without a default: Spark raises
        prior = None
    if prior is not None and _conf_explicitly_set(spark, key) is False:
        # the value came from the built-in default, not a set()
        prior = None
    _LIVE_CONF_RESTORES.append((spark, key, prior))
    spark.conf.set(key, value)


def release_persisted() -> None:
    while _LIVE_PERSISTS:
        df = _LIVE_PERSISTS.pop()
        try:
            df.unpersist(blocking=False)
        except Exception:
            # a stopped session has nothing to unpersist (ADVICE r9
            # #1: an unguarded raise here would skip the conf-restore
            # loop below, leaking tracked confs into the next entry);
            # the cache dies with the session either way
            pass
    while _LIVE_CONF_RESTORES:
        spark, key, prior = _LIVE_CONF_RESTORES.pop()
        try:
            if prior is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, prior)
        except Exception as e:
            # a stopped session has nothing to restore onto; any
            # OTHER failure means the conf is leaking into subsequent
            # entries — surface it instead of swallowing silently
            # (review r9 finding #2)
            try:
                stopped = spark.sparkContext._jsc is None
            except Exception:
                stopped = True
            if not stopped:
                import warnings

                warnings.warn(
                    f"tracked conf restore failed for {key!r}: {e!r} — "
                    "the session keeps the entry-scoped value",
                    stacklevel=2,
                )


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
