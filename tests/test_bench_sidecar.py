"""bench.py's timing and artifact contract: every rep starts from an
empty cache, the stdout line stays under the driver's tail window by
folding (and the sidecar names what was folded), and the sidecar's
host block records the session's effective parallelism."""

from __future__ import annotations

import json

import pytest

import bench
from miba_2023_capstone_rb_nlp_spark.suite import Query
from tests.conftest import SF_TEST_DIR


def test_encode_line_folds_tail_first_and_counts_noisy():
    timings = {f"q{i:03d}": 0.5 for i in range(200)}
    line, folded = bench.encode_line(timings, 0.1, n_noisy=3)
    assert len(line) <= bench.LINE_BUDGET
    payload = json.loads(line)
    assert set(payload) == {"metric", "value", "unit", "queries", "sf", "noisy"}
    assert payload["noisy"] == 3
    assert payload["value"] == round(sum(timings.values()), 2)
    # folding sacrifices the LAST names, keeps the head
    assert "q000" in payload["queries"]
    assert bench.FOLD_KEY in payload["queries"]
    # the folded bucket carries the evicted entries' total time
    kept = sum(
        v for k, v in payload["queries"].items() if k != bench.FOLD_KEY
    )
    assert abs(kept + payload["queries"][bench.FOLD_KEY] - payload["value"]) < 0.1
    # the folded list is exactly the names missing from the line, tail
    # first, and together with the named entries covers every entry
    assert folded == sorted(folded, reverse=True)
    assert folded[0] == "q199"
    named = set(payload["queries"]) - {bench.FOLD_KEY}
    assert named.isdisjoint(folded)
    assert named | set(folded) == set(timings)
    # a line that fits folds nothing
    small_line, none_folded = bench.encode_line({"a": 1.0}, 0.1)
    assert none_folded == [] and bench.FOLD_KEY not in small_line


def test_spread_metrics_contract():
    """The spread of the 3 fastest post-warmup reps: the first rep
    (codegen warmup) is excluded, and fewer than 2 post-warmup reps
    give no metric."""
    assert bench.quiet_spread_of([5.0, 1.0]) is None
    assert bench.quiet_spread_of([9.0, 1.0, 1.2]) == 1.2
    assert bench.quiet_spread_of([1.0, 1.0, 4.0, 1.0]) == 4.0
    # the 3 FASTEST post-warmup reps, not the last 3
    assert bench.quiet_spread_of([2.0, 1.0, 9.0, 1.1, 1.05]) == 1.1


def test_host_window_stats_from_proc_stat_deltas(spark):
    """steal/idle come from cumulative /proc/stat jiffies over the run
    window; the session's effective parallelism and master are read
    from the SparkContext. Missing or malformed snapshots drop only
    the steal/idle keys."""
    sc = spark.sparkContext
    start = [100, 0, 50, 800, 0, 0, 0, 50]
    end = [1100, 0, 150, 1300, 0, 0, 0, 450]
    # deltas: user 1000, system 100, idle 500, steal 400 → total 2000
    out = bench.host_window_stats(start, end, sc)
    assert out["steal_pct"] == 20.0
    assert out["idle_pct"] == 25.0
    assert out["loadavg_1m"] >= 0
    assert out["defaultParallelism"] == sc.defaultParallelism == 4
    assert out["master"] == sc.master == "local[4]"
    assert "cpus" not in out
    for bad in (None, [1, 2, 3]):
        degraded = bench.host_window_stats(bad, end, sc)
        assert "steal_pct" not in degraded
        assert degraded["defaultParallelism"] == 4
    # the live snapshot reader parses this host's real /proc/stat
    snap = bench._proc_stat_snapshot()
    assert snap is None or (len(snap) >= 8 and all(
        isinstance(v, int) for v in snap
    ))


def test_time_entry_clears_caches_before_every_rep(spark):
    """A cache an entry fills in one rep must be gone when the next
    rep calls the entry: the fake entry persists its result (the noop
    write then materialises it) and, at call time, asserts that no
    RDD is persisted beyond what the session held before timing began
    (RDDs other tests localCheckpoint are not cleared by clearCache)."""
    def persistent_ids() -> set[int]:
        return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())

    spark.catalog.clearCache()
    before = persistent_ids()
    calls = []

    def fake(spark_, sf_dir):
        assert sf_dir == SF_TEST_DIR
        assert persistent_ids() <= before, f"cache left over at rep {len(calls) + 1}"
        calls.append(1)
        return spark_.range(1000).selectExpr("id % 7 AS k").persist()

    reps = bench.time_entry(spark, Query(fn=fake, oracle=None), SF_TEST_DIR)
    assert len(reps) == len(calls) == bench.REPS
    assert all(r > 0 for r in reps)
    # the last rep's cache was really filled, so the check had teeth
    assert persistent_ids() - before
    spark.catalog.clearCache()


def test_unknown_entry_exits_naming_it(monkeypatch):
    monkeypatch.setattr("sys.argv", ["bench.py", "no_such_entry"])
    with pytest.raises(SystemExit) as exc:
        bench.main()
    assert "no_such_entry" in str(exc.value.code)
