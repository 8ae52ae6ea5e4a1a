#!/usr/bin/env python
"""Time the suite's registry entries at $SPARK_GRAFT_SF_DIR (default:
the sf0.1 testdata, see SF_DIR) and print ONE JSON line:
{"metric", "value" (total sec), "unit", "queries", "sf", "noisy"}.

    python bench.py [entry,...]

With no argument every ``load_suite()`` entry runs, in registry order;
a comma-separated list runs only those entries (an unknown name exits
non-zero). Invariants:

- Each rep materialises the entry's full result through the noop sink
  (no driver collect), so it measures the distributed plan, not
  toPandas.
- Every rep is preceded, outside the timed region, by
  ``spark.catalog.clearCache()`` and a driver GC, so each rep pays the
  entry's full cost: a cache an entry persists in rep 1 is gone before
  rep 2.
- Each entry's time is its best of REPS reps. Every rep lands in the
  ``bench_detail_sf*.json`` sidecar with the spread of the post-warmup
  reps, the effective parallelism of the session and the list of
  entries folded out of the stdout line.
- The JSON line is the absolute last stdout line and stays within
  LINE_BUDGET chars: entries at the end of the run order fold into one
  "_folded" total until it fits.

Cross-commit regression gating is ``perfbench/run.py``'s job (fresh
JVMs, per-rep wall and CPU time); an entry-level A/B is this script
run alternately from two checkouts."""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from miba_2023_capstone_rb_nlp_spark.session import get_spark  # noqa: E402
from miba_2023_capstone_rb_nlp_spark.suite import load_suite  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
# the first rep pays codegen compilation; reps 2..4 give three
# post-warmup samples for the spread
REPS = 4

# The driver records only the LAST 2000 chars of stdout. Keep the line
# under that window: compact separators, 2-decimal timings and, only
# if still too long, the entries at the end of the run order folded
# into one FOLD_KEY total regardless of their cost. In registry order
# those are the most recently green entries.
LINE_BUDGET = 1900

# a leading underscore cannot collide with a registry entry name
FOLD_KEY = "_folded"

# an entry whose 3 post-warmup reps spread wider than this is "noisy"
NOISY_SPREAD = 1.3


def _proc_stat_snapshot() -> list[int] | None:
    """Cumulative CPU jiffies from /proc/stat's aggregate line
    (user nice system idle iowait irq softirq steal ...), or None
    where the file doesn't exist (non-Linux)."""
    try:
        with open("/proc/stat") as f:
            return list(map(int, f.readline().split()[1:]))
    except (OSError, ValueError):
        return None


def host_window_stats(start: list[int] | None, end: list[int] | None,
                      sc) -> dict:
    """Host and session facts over the run window: the session's
    effective parallelism and master, the 1-minute load average, and
    steal%/idle% from the /proc/stat deltas. Missing or malformed
    snapshots leave out the steal/idle keys."""
    out: dict = {
        "defaultParallelism": sc.defaultParallelism,
        "master": sc.master,
    }
    try:
        out["loadavg_1m"] = round(os.getloadavg()[0], 2)
    except (OSError, AttributeError):
        pass
    if start and end and len(start) >= 8 and len(end) >= 8:
        d = [e - s for s, e in zip(start, end)]
        tot = sum(d)
        if tot > 0:
            out["steal_pct"] = round(100.0 * d[7] / tot, 2)
            out["idle_pct"] = round(100.0 * d[3] / tot, 2)
    return out


def quiet_spread_of(rs: list[float]) -> float | None:
    """max/min of the 3 fastest post-warmup reps; None with fewer than
    2 post-warmup reps (the first rep pays one-time codegen)."""
    quiet = sorted(rs[1:])[:3]
    if len(quiet) >= 2 and min(quiet) > 0:
        return round(max(quiet) / min(quiet), 2)
    return None


def time_entry(spark, q, sf_dir: str) -> list[float]:
    """REPS timed noop-sink materialisations of ``q``. Each rep starts
    from an empty cache: clearCache() plus a driver GC (so
    ContextCleaner reclaims shuffle state) run before it, outside the
    timed region."""
    reps = []
    for _ in range(REPS):
        spark.catalog.clearCache()
        spark.sparkContext._jvm.System.gc()
        t0 = time.perf_counter()
        q.fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        reps.append(time.perf_counter() - t0)
    return reps


def encode_line(timings: dict[str, float], sf_val: float | str,
                n_noisy: int = 0) -> tuple[str, list[str]]:
    """The stdout JSON line and the entries folded out of it, last in
    ``timings`` order first. Folded time still counts in "value"."""
    def dump(qs: dict[str, float]) -> str:
        return json.dumps(
            {
                "metric": "suite_total_runtime",
                "value": round(sum(timings.values()), 2),
                "unit": "sec",
                "queries": {k: round(v, 2) for k, v in sorted(qs.items())},
                "sf": sf_val,
                "noisy": n_noisy,
            },
            separators=(",", ":"),
        )

    assert FOLD_KEY not in timings, f"registry entry shadows {FOLD_KEY!r}"
    qs = dict(timings)
    line = dump(qs)
    folded: list[str] = []
    fold_order = list(reversed(timings))
    while len(line) > LINE_BUDGET and fold_order:
        folded.append(fold_order.pop(0))
        qs.pop(folded[-1])
        qs[FOLD_KEY] = sum(timings[k] for k in folded)
        line = dump(qs)
    if len(line) > LINE_BUDGET:
        print(
            f"warning: bench line still {len(line)} chars > {LINE_BUDGET} "
            "after folding every entry; driver tail window may truncate it",
            file=sys.stderr,
        )
    return line, folded


def _warm_jvm(spark) -> None:
    """Pay one-time per-JVM costs before the first entry: codegen,
    the parquet reader, shuffle/AQE, broadcast exchange, window exec
    and the Python worker pool."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    spark.range(1_000_000).selectExpr("sum(id)").collect()
    region = spark.read.parquet(os.path.join(SF_DIR, "region.parquet"))
    nation = spark.read.parquet(os.path.join(SF_DIR, "nation.parquet"))
    (
        nation.join(F.broadcast(region),
                    nation["n_regionkey"] == region["r_regionkey"])
        .groupBy("r_name")
        .count()
        .withColumn(
            "rk",
            F.row_number().over(Window.partitionBy(F.lit(1)).orderBy("count")),
        )
        .write.format("noop").mode("overwrite").save()
    )
    nation.mapInPandas(lambda it: it, schema=nation.schema).write.format(
        "noop"
    ).mode("overwrite").save()


def main() -> None:
    suite = load_suite()
    names = list(suite)
    if len(sys.argv) > 1:
        names = [n for n in sys.argv[1].split(",") if n]
        unknown = [n for n in names if n not in suite]
        if unknown:
            sys.exit(f"bench.py: unknown entry {', '.join(unknown)}")
    host_t0 = _proc_stat_snapshot()
    spark = get_spark(app_name="miba-bench")
    spark.sparkContext.setLogLevel("ERROR")
    _warm_jvm(spark)
    timings: dict[str, float] = {}
    details: dict[str, dict] = {}
    for name in names:
        reps = time_entry(spark, suite[name], SF_DIR)
        quiet_spread = quiet_spread_of(reps)
        timings[name] = round(min(reps), 3)
        details[name] = {
            "best": timings[name],
            "reps": [round(r, 3) for r in reps],
            "quiet_spread": quiet_spread,
            "noisy": quiet_spread is not None and quiet_spread > NOISY_SPREAD,
        }
    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    try:
        sf_val: float | str = float(sf)
    except ValueError:
        sf_val = sf
    n_noisy = sum(d["noisy"] for d in details.values())
    line, folded = encode_line(timings, sf_val, n_noisy)
    sidecar = {
        "sf": sf_val,
        "total": round(sum(timings.values()), 2),
        "host": host_window_stats(host_t0, _proc_stat_snapshot(),
                                  spark.sparkContext),
        "folded": folded,
        "queries": details,
    }
    # every entry's reps, including the folded ones; a failed write
    # must not cost the run its stdout line
    path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                        f"bench_detail_sf{sf_val}.json")
    try:
        with open(path, "w") as f:
            json.dump(sidecar, f, indent=1, sort_keys=True)
            f.write("\n")
    except OSError as e:
        print(f"sidecar write failed: {e!r}", file=sys.stderr)
    # stop Spark BEFORE printing: the JSON line must be the absolute
    # last stdout line so the driver's tail window contains it
    spark.stop()
    print(line, flush=True)


if __name__ == "__main__":
    main()
