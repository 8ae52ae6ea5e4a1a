"""Benchmark of the reference news flow and a registry query mix.

    python3 perfbench/run.py --workload news --seed 1 --seconds 10 --trace 0

Run from the repository root. One process, one client (the analyst)
in a closed loop: each rep starts when the previous one returned, on
``local[N]`` with N = ``SPARK_GRAFT_CPUS`` or the usable cores. Every
rep pays the full cost: Spark's caches are cleared, the pipeline gets
a fresh ``data_dir`` and ``execute`` runs with ``overwrite=True``.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` turns on
Spark's event log, wraps each layer call in a span and prints the
per-layer metrics. The last stdout line is the JSON result; the line
before it lists the metrics and the environment for a reader. Inputs,
outputs and event logs live under ``.perfbench/work-<pid>`` in the
working directory and are removed at exit; the result record and the
span sidecar stay in ``.perfbench/results``. See ``perfbench/METHOD.md``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
import urllib.parse
import urllib.request
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "miba_2023_capstone_rb_nlp_spark"
N_MED = 2  # medoids per cluster, the WordWizard default
MIX_SF = 0.01  # scale factor of the query_mix tables
OP_TIMEOUT_S = 150.0  # per rep; past it every Spark job is cancelled
RUN_LIMIT_S = 150.0  # no rep starts once the run is this old

# Registry entries of query_mix, in run order (see METHOD.md).
MIX_ENTRIES = (
    "market_share_q8", "orders_upsert_merge", "kmeans_clusters",
    "quality_representative_dedup",
    "exact_dedup", "knn_ivf_multiprobe", "bm25_topk", "trade_hops_recursive",
    "bpe_token_stats", "events_tumbling_streaming", "cluster_viz_summary",
)
MIX_GROUPS = ("relational", "ml", "curation", "dedup", "similarity", "retrieval",
              "graph", "text", "streaming_live", "flagship")
WIZARD_STEPS = ("create_sentence_embeddings", "cluster_embeddings", "entitiy_recognition",
                "summarize_medoids", "find_sentiment", "topic_modelling",
                "reduce_demensionality")
EXECUTOR_CALLS = {  # name executor.py looks up at call time -> span name
    "get_all_links": "sources.links.get_all_links",
    "fetch_content": "sources.content.fetch_content",
    "assemble_articles": "operators.pipeline.assemble_articles",
    "clean_articles": "operators.cleaning.clean_articles",
}


@dataclass(frozen=True)
class News:
    """The reference flow: query -> links -> pages -> clean -> WordWizard."""
    pages: int  # article pages on the site
    max_articles: int  # per engine, as PipelineExecutor.execute takes it
    k: int | None  # None: the MVP default, a silhouette sweep over k


@dataclass(frozen=True)
class Mix:
    """One pass over registry entries, each materialised via ``noop``."""


WORKLOADS = {
    "news": News(pages=300, max_articles=100, k=5),
    "query_mix": Mix(),
    # Not in BENCHMARK.json (a run outlasts its budget there); kept for
    # one-off traced profiles of the sweep and of ingest at scale.
    "news_sweep": News(pages=300, max_articles=100, k=None),
    "news_bulk": News(pages=5000, max_articles=1700, k=5),
}


# --- per-layer metric names ---------------------------------------------------

def per_layer_names() -> list[str]:
    """Every per-layer metric a traced run prints (BENCHMARK.json)."""
    def fan(prefix, fields):
        return [f"{prefix}.{f}" for f in fields]

    names = fan("run", ("jobs", "driver_only_s", "exec_cpu_s", "gc_s", "shuffle_mb",
                        "python_udf_s"))
    names += fan("executor.execute", ("wall_s", "self_s", "jobs", "driver_only_s",
                                      "exec_cpu_s", "shuffle_mb", "python_udf_s"))
    names += [f"{span}.wall_s" for span in EXECUTOR_CALLS.values()]
    names += fan("sources.links", ("links_returned", "unique_ratio", "search_requests"))
    names += fan("sources.content", ("fetches_per_page", "failed_fetches"))
    names += ["operators.cleaning.keep_ratio", "executor.parquet_mb_written"]
    names += fan("wizard.cluster_embeddings", ("wall_s", "self_s", "jobs", "driver_only_s",
                                               "exec_cpu_s"))
    names += fan("wizard.reduce_demensionality", ("wall_s", "jobs", "driver_only_s"))
    names += fan("wizard.viz_summary", ("wall_s", "jobs", "driver_only_s", "exec_cpu_s",
                                        "shuffle_mb", "python_udf_s"))
    names += [f"wizard.{s}.wall_s" for s in WIZARD_STEPS
              if s not in ("cluster_embeddings", "reduce_demensionality")]
    for g in MIX_GROUPS:
        names += fan(f"suite.{g}", ("wall_s", "jobs", "driver_only_s", "exec_cpu_s",
                                    "shuffle_mb"))
    names += [f"entry.{e}.wall_s" for e in MIX_ENTRIES]
    names.append("trace.overhead_ratio")
    return names


UNITS = {"jobs": "count", "links_returned": "count", "search_requests": "count",
         "failed_fetches": "count", "unique_ratio": "ratio", "fetches_per_page": "ratio",
         "keep_ratio": "ratio", "overhead_ratio": "ratio", "shuffle_mb": "MB",
         "parquet_mb_written": "MB"}


def unit_of(name: str) -> str:
    return UNITS.get(name.rsplit(".", 1)[1], "s")


# --- environment --------------------------------------------------------------


def prepare_environment(work: str) -> int:
    """Make the package importable here and in Spark's Python workers
    (started from another directory every ``mapInPandas`` task failed
    with ModuleNotFoundError) and keep Spark's scratch under ``work``.
    Returns the core count for the master string."""
    sys.path[:0] = [ROOT, HERE]
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    return int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))


def start_spark(work: str, cores: int, trace: bool):
    from miba_2023_capstone_rb_nlp_spark.session import get_spark

    conf = {"spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false"}
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": "file://" + log_dir,
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "true",
                     "spark.eventLog.rolling.maxFileSize": "128m"})
    spark = get_spark(app_name="perfbench", master=f"local[{cores}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for its JVM, which exits on EOF from
    this process."""
    jvm = spark.sparkContext._gateway.proc
    spark.stop()
    jvm.stdin.close()
    jvm.wait(timeout=60)


def environment(spark, args, cores: int, wl) -> dict:
    from gen import DOCS

    system = spark.sparkContext._jvm.java.lang.System
    return {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "nproc": len(os.sched_getaffinity(0)),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "master": spark.sparkContext.master,
        "defaultParallelism": spark.sparkContext.defaultParallelism,
        "cores_used": cores,
        "sf": MIX_SF if isinstance(wl, Mix) else None,
        "docs": DOCS if isinstance(wl, News) else None,
        "spark": spark.version,
        "java": f"{system.getProperty('java.vm.name')} {system.getProperty('java.version')}",
        "python": platform.python_version(),
    }


# --- the workloads -------------------------------------------------------------


class Deadline:
    """Cancel every Spark job if one rep runs past ``seconds``."""

    def __init__(self, spark, seconds: float):
        self.sc = spark.sparkContext
        self.seconds = seconds
        self.fired = False

    @contextlib.contextmanager
    def __call__(self):
        self.fired = False
        timer = threading.Timer(self.seconds, self._fire)
        timer.start()
        try:
            yield
        finally:
            timer.cancel()
            timer.join()

    def _fire(self):
        self.fired = True
        self.sc.cancelAllJobs()


class PageServer:
    """The news site, served by ``pageserver.py`` in its own process."""

    def __init__(self, seed: int, wl: News):
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "pageserver.py"), "--seed", str(seed),
             "--pages", str(wl.pages), "--per-engine", str(wl.max_articles)],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True)
        line = self.proc.stdout.readline().split()
        if len(line) != 2 or line[0] != "PORT":
            self.close()
            raise RuntimeError("page server did not start")
        self.base = f"http://127.0.0.1:{line[1]}"

    def fetcher(self, url: str, timeout: float = 10.0) -> str:
        """The sources' HTTP layer: engine URLs go to this server."""
        import pages

        u = urllib.parse.urlsplit(url)
        target = f"{self.base}/{pages.ENGINE_PATHS[u.netloc].lower()}{u.path}?{u.query}"
        with urllib.request.urlopen(target, timeout=timeout) as resp:  # noqa: S310
            return resp.read().decode("utf-8")

    def stats(self) -> dict:
        with urllib.request.urlopen(self.base + "/stats", timeout=10) as resp:  # noqa: S310
            return json.loads(resp.read())

    def close(self) -> None:
        self.proc.stdin.close()
        self.proc.terminate()
        try:
            self.proc.wait(timeout=10)
        except subprocess.TimeoutExpired:
            self.proc.kill()
            self.proc.wait()


class NewsRun:
    """One rep: the MVP flow from the query string to the
    ``viz_summary`` rows on the driver. One operation per rep."""

    def __init__(self, spark, wl: News, seed: int, work: str, tracer):
        import checks
        from gen import build_site

        self.spark, self.wl, self.work, self.tracer = spark, wl, work, tracer
        self.site = build_site(seed, wl.pages, wl.max_articles)
        self.expected_rows = checks.expected_clean_rows(self.site, wl.max_articles)
        self.corpus = set(self.site.texts)
        self.server = PageServer(seed, wl)
        self.server_pids = {self.server.proc.pid}
        self.clean_hashes: set[str] = set()
        self.engines: dict[str, str] = {}  # link -> engine kept, first rep
        self.engine_changes: list[int] = []  # per rep, vs the first rep
        self.reps = 0
        self.counters: list[dict[str, float]] = []

    def close(self) -> None:
        self.server.close()

    def warm_up(self) -> tuple[float, list[str]]:
        """One untimed rep; returns its wall time and failures."""
        return self.rep(traced=False)

    def rep(self, traced: bool) -> tuple[float, list[str]]:
        """One rep; returns its wall time and its broken checks."""
        import checks
        from pages import QUERY

        from miba_2023_capstone_rb_nlp_spark import executor
        from miba_2023_capstone_rb_nlp_spark.sources.links import (
            BingNewsSource, GoogleNewsSource, YahooNewsSource)
        from miba_2023_capstone_rb_nlp_spark.wizard import WordWizard

        self.reps += 1
        data_dir = os.path.join(self.work, f"data-{self.reps}")
        sources = [cls(self.server.fetcher, polite=False)
                   for cls in (GoogleNewsSource, BingNewsSource, YahooNewsSource)]
        tr = self.tracer if traced else None
        before = self.server.stats()
        self.spark.catalog.clearCache()
        t0 = time.perf_counter()
        with _span(tr, "run"):
            with _span(tr, "executor.execute"), _wrapped_executor(tr, sources) as links:
                clean = executor.PipelineExecutor(self.spark, data_dir, sources).execute(
                    QUERY, self.wl.max_articles, overwrite=True)
            wiz = WordWizard(clean, interest="paragraph")
            for step in WIZARD_STEPS:
                kw = {"k": self.wl.k, "n_med": N_MED} if step == "cluster_embeddings" else {}
                with _span(tr, f"wizard.{step}"):
                    getattr(wiz, step)(**kw)
            with _span(tr, "wizard.viz_summary"):
                rows = [r.asDict() for r in wiz.viz_summary().collect()]
        wall = time.perf_counter() - t0
        after = self.server.stats()

        raw_path, clean_path = executor.PipelineExecutor(self.spark, data_dir)._paths(
            QUERY, self.wl.max_articles)
        df = checks.read_clean(clean_path)
        n_clean = len(df)
        self.clean_hashes.add(checks.clean_hash(df))
        kept = dict(zip(df["link"], df["engine"]))
        self.engines = self.engines or kept
        self.engine_changes.append(sum(self.engines.get(k) != v for k, v in kept.items()))
        problems = checks.viz_problems(rows, n_clean, self.wl.k, N_MED, self.corpus)
        problems += checks.engine_problems(df, self.site, self.wl.max_articles)
        if n_clean != self.expected_rows:
            problems.append(f"clean rows {n_clean} != expected {self.expected_rows}")
        if len(self.clean_hashes) > 1:
            problems.append("clean table differs between reps")
        if traced:
            gets = after["article"] - before["article"]
            misses = after["article_404"] - before["article_404"]
            self.counters.append({
                "sources.links.links_returned": links["returned"],
                "sources.links.unique_ratio": links["unique"] / max(1, links["returned"]),
                "sources.links.search_requests": after["search"] - before["search"],
                "sources.content.fetches_per_page": (gets + misses) / max(1, links["unique"]),
                "sources.content.failed_fetches": misses,
                "operators.cleaning.keep_ratio": n_clean / max(1, _parquet_rows(raw_path)),
                "executor.parquet_mb_written": (_du(raw_path) + _du(clean_path)) / 1e6,
            })
        shutil.rmtree(data_dir, ignore_errors=True)
        return wall, problems


class MixRun:
    """One rep: one pass over the entries, each written to ``noop``
    after clearing Spark's caches. One operation per entry."""

    def __init__(self, spark, wl: Mix, seed: int, work: str, tracer):
        from gen import write_tables

        self.spark, self.tracer = spark, tracer
        self.sf_dir = os.path.join(work, f"sf{MIX_SF}-seed{seed}")
        write_tables(self.sf_dir, seed, MIX_SF)
        self.server_pids: set[int] = set()
        self.suite = None
        self.counters: list[dict[str, float]] = []

    def close(self) -> None:
        """Nothing to release: the tables go with the work dir."""

    def warm_up(self) -> tuple[float, list[str]]:
        """Load the registry, then run every entry once to pandas and
        compare it with its DuckDB oracle. Returns the Spark-side
        seconds and the failures."""
        import checks
        from miba_2023_capstone_rb_nlp_spark.suite import load_suite
        from tests.parity import duckdb_conn

        t0 = time.perf_counter()
        self.suite = load_suite()
        spark_s = time.perf_counter() - t0
        problems = []
        con = duckdb_conn(self.sf_dir)
        try:
            for name in MIX_ENTRIES:
                self.spark.catalog.clearCache()
                try:
                    t = time.perf_counter()
                    got = self.suite[name].fn(self.spark, self.sf_dir).toPandas()
                    spark_s += time.perf_counter() - t
                    want = con.execute(self.suite[name].oracle).df()
                    if checks.frame_hash(got) != checks.frame_hash(want):
                        problems.append(f"{name}: differs from its oracle")
                except Exception as e:  # noqa: BLE001 — a failing entry is a result
                    problems.append(f"{name}: {type(e).__name__}: {e}"[:300])
        finally:
            con.close()
        return spark_s, problems

    def rep(self, traced: bool) -> tuple[float, list[str]]:
        tr = self.tracer if traced else None
        problems: list[str] = []
        t0 = time.perf_counter()
        with _span(tr, "run"):
            for name in MIX_ENTRIES:
                self.spark.catalog.clearCache()
                try:
                    with _span(tr, f"entry.{name}"):
                        (self.suite[name].fn(self.spark, self.sf_dir)
                         .write.format("noop").mode("overwrite").save())
                except Exception as e:  # noqa: BLE001 — a failing entry is a result
                    problems.append(f"{name}: {type(e).__name__}: {e}"[:300])
        return time.perf_counter() - t0, problems

    def group_of(self, entry: str) -> str:
        return self.suite[entry].fn.__wrapped__.__module__.rsplit(".", 1)[1]


def _span(tracer, name):
    return tracer.span(name) if tracer is not None else contextlib.nullcontext()


@contextlib.contextmanager
def _wrapped_executor(tracer, sources):
    """Span the four calls ``execute`` makes by rebinding the names the
    executor module looks them up by, and count the links the sources
    return. Yields the counts, filled in on exit."""
    counts = {"returned": 0, "unique": 0}
    if tracer is None:
        yield counts
        return
    from miba_2023_capstone_rb_nlp_spark import executor

    saved = {n: getattr(executor, n) for n in EXECUTOR_CALLS}
    links: list[str] = []
    for s in sources:
        def counted(*a, _orig=s.get_links, **kw):
            out = _orig(*a, **kw)
            links.extend(r["se_link"] for r in out)
            return out
        s.get_links = counted
    try:
        for name, span in EXECUTOR_CALLS.items():
            setattr(executor, name, tracer.wrap(span, saved[name]))
        yield counts
    finally:
        for name, fn in saved.items():
            setattr(executor, name, fn)
        counts.update(returned=len(links), unique=len(set(links)))


def _du(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs)


def _parquet_rows(path: str) -> int:
    import pyarrow.parquet as pq

    return sum(pq.ParquetFile(os.path.join(d, f)).metadata.num_rows
               for d, _, fs in os.walk(path) for f in fs if f.endswith(".parquet"))


# --- metrics ---------------------------------------------------------------------


def layer_metrics(spans, prof: dict[int, dict], runner) -> dict[str, float]:
    """Median over traced reps of each span's figures, keyed
    ``<span name>.<field>``; query-mix groups sum their entries."""
    per_rep = []
    for root in (s for s in spans if s.name == "run"):
        rep: dict[str, float] = {}
        for s in spans:
            if s.id != root.id and not _under(spans, s, root.id):
                continue
            keys = [s.name]
            if s.name.startswith("entry."):
                keys.append("suite." + runner.group_of(s.name[len("entry."):]))
            for key in keys:
                for f, v in prof[s.id].items():
                    rep[f"{key}.{f}"] = rep.get(f"{key}.{f}", 0.0) + v
        per_rep.append(rep)
    per_rep = [r | c for r, c in zip(per_rep, runner.counters)] if runner.counters else per_rep
    keys = {k for rep in per_rep for k in rep}
    return {k: statistics.median(rep.get(k, 0.0) for rep in per_rep) for k in keys}


def _under(spans, s, root_id: int) -> bool:
    while s.parent is not None:
        if s.parent == root_id:
            return True
        s = spans[s.parent]
    return False


def largest_self(spans, layer: dict[str, float]) -> str | None:
    """The span directly under ``run`` with the largest self time."""
    top = {s.name for s in spans if s.parent is not None and spans[s.parent].name == "run"}
    return max(top, key=lambda n: layer.get(f"{n}.self_s", 0.0), default=None)


# --- main --------------------------------------------------------------------------


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # run the cleanup in finally blocks on SIGTERM too
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: package {PACKAGE!r} not found in {ROOT}", file=sys.stderr)
        return 2
    work = os.path.join(os.getcwd(), ".perfbench", f"work-{os.getpid()}")
    results = os.path.join(os.getcwd(), ".perfbench", "results")
    os.makedirs(work)
    os.makedirs(results, exist_ok=True)
    try:
        return run(args, work, results)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run(args, work: str, results: str) -> int:
    t_start = time.perf_counter()
    cores = prepare_environment(work)
    import procs
    from spans import Tracer, profile, write_sidecar

    wl = WORKLOADS[args.workload]
    traced = bool(args.trace)
    me = os.getpid()
    host0 = procs.host_cpu()
    attempted = failed = 0
    notes: list[str] = []

    def record(n_ops: int, problems: list[str]) -> None:
        nonlocal attempted, failed
        attempted += n_ops
        failed += min(n_ops, len(problems))
        notes.extend(problems)

    ops_per_rep = len(MIX_ENTRIES) if isinstance(wl, Mix) else 1
    # set-up: session, first touch, one untimed warm-up rep; the
    # benchmark's own input generation and oracle work are not counted
    t = time.perf_counter()
    spark = start_spark(work, cores, traced)
    spark.range(1).count()  # first touch: JVM, scheduler, codegen
    setup_s = time.perf_counter() - t
    runner = None
    try:
        tracer = Tracer(spark.sparkContext)
        runner = (NewsRun if isinstance(wl, News) else MixRun)(spark, wl, args.seed, work, tracer)
        deadline = Deadline(spark, OP_TIMEOUT_S)
        t_warm = time.perf_counter()
        try:
            with deadline():
                warm_s, problems = runner.warm_up()
            if deadline.fired:
                problems.append(f"warm-up timed out after {OP_TIMEOUT_S:.0f} s")
        except Exception as e:  # noqa: BLE001 — a failing warm-up is a result
            warm_s = time.perf_counter() - t_warm
            problems = [f"warm-up: {type(e).__name__}: {e}"[:300]] * ops_per_rep
        setup_s += warm_s
        record(ops_per_rep, problems)

        # measured reps, untraced; a traced run alternates untraced, traced
        walls, cpus, traced_walls = [], [], []
        t_meas = time.perf_counter()
        while True:
            for trace_this in ((False, True) if traced else (False,)):
                c0 = procs.cpu_seconds(procs.tree(me, exclude=runner.server_pids))
                t_rep = time.perf_counter()
                try:
                    with deadline():
                        wall, problems = runner.rep(traced=trace_this)
                    if deadline.fired:
                        problems.append(f"timed out after {OP_TIMEOUT_S:.0f} s")
                except Exception as e:  # noqa: BLE001 — a failing rep is a result
                    wall = time.perf_counter() - t_rep
                    problems = [f"{type(e).__name__}: {e}"[:300]] * ops_per_rep
                c1 = procs.cpu_seconds(procs.tree(me, exclude=runner.server_pids))
                record(ops_per_rep, problems)
                if trace_this:
                    traced_walls.append(wall)
                else:
                    walls.append(wall)
                    cpus.append(c1 - c0)
            if (time.perf_counter() - t_meas >= args.seconds
                    or time.perf_counter() - t_start > RUN_LIMIT_S):
                break
        rss = procs.peak_rss_by_process(procs.tree(me, exclude=runner.server_pids))
        env = environment(spark, args, cores, wl)
    finally:
        if runner is not None:
            runner.close()
        stop_spark(spark)
    env.update(procs.host_shares(host0, procs.host_cpu()))
    env["reps"] = len(walls)
    env["peak_rss_mb_by_process"] = rss
    if isinstance(runner, NewsRun):
        env["dedup_engine_changes"] = runner.engine_changes

    if traced:
        prof = profile(tracer.spans, os.path.join(work, "eventlog"))
        layer = layer_metrics(tracer.spans, prof, runner)
        layer["trace.overhead_ratio"] = statistics.median(traced_walls) / statistics.median(walls)
        env["largest_self_s"] = largest_self(tracer.spans, layer)
        sidecar = os.path.join(results, f"{args.workload}-seed{args.seed}-spans.json")
        write_sidecar(sidecar, tracer.spans, prof)
        env["spans_sidecar"] = sidecar
        metrics = {n: {"value": float(layer.get(n, 0.0)), "unit": unit_of(n)}
                   for n in per_layer_names()}
    else:
        metrics = {  # rep_s: one rep's wall time (pipeline_s on news, mix_s on query_mix)
            "rep_s": {"value": statistics.median(walls), "unit": "s"},
            "setup_s": {"value": setup_s, "unit": "s"},
            "cpu_s": {"value": statistics.median(cpus), "unit": "s"},
        }
    fail_ratio = failed / max(1, attempted)
    correct = failed == 0
    record_path = os.path.join(results, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(record_path, "w", encoding="utf-8") as fh:
        json.dump({"env": env, "walls": walls, "traced_walls": traced_walls, "cpus": cpus,
                   "peak_rss_mb": sum(rss.values()), "fail_ratio": fail_ratio,
                   "failures": notes, "metrics": metrics},
                  fh, indent=1)
    for note in notes:
        print(f"perfbench: FAILED {note}", file=sys.stderr)
    # peak_rss_mb is shown, not gated: the JVM's peak RSS alone ranged
    # 2.0-2.9 GB over ten news runs on 4 cores (heap sizing by the GC)
    shown = {k: v for k, v in metrics.items() if v["value"] or not traced}
    shown["peak_rss_mb"] = {"value": sum(rss.values()), "unit": "MB"}
    alias = {"rep_s": "pipeline_s" if isinstance(wl, News) else "mix_s"}
    print("perfbench:", " ".join(f"{alias.get(k, k)}={v['value']:.4g}{v['unit']}"
                                 for k, v in shown.items()),
          f"fail_ratio={fail_ratio:.4g}ratio", "env=" + json.dumps(env))
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
