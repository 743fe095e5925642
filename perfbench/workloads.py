"""The benchmark's workloads and the metrics they report.

Two workloads, each driven by one closed-loop client on ``local[4]``
through the package's public entry points:

* ``build`` — the write path.  The session's first full build of a
  materialized page corpus (``build_index``), then ``delete_by_query``
  of a rare term and a full ``compact_index`` on that index.  After every write a long-lived
  ``LocalSearcher`` reloads and its counts are checked; on the compacted
  index it answers a burst of the query mix.  It never runs the
  distributed query path.
* ``search`` — the read path.  A seeded query mix over an index built in
  set-up, first through ``IndexSearcher`` (distributed), then through a
  long-lived ``LocalSearcher`` (cached path) and through a fresh
  ``LocalSearcher`` per query (uncached path).  It runs no measured build
  and no maintenance.

Every workload reports every end-to-end metric (``END_TO_END``); the
traced run reports every per-layer metric (``PER_LAYER``), with 0 for a
layer the workload does not run.
"""

from __future__ import annotations

import os
import statistics
import sys
import time
from collections import defaultdict

import numpy as np

import inputs
from tracing import task_skew
from hail_elasticsearch_pipelines_spark.functions.tokenize import py_tokenize
from hail_elasticsearch_pipelines_spark.layout import load_manifest, table_path
from hail_elasticsearch_pipelines_spark.operators.bm25 import IndexSearcher
from hail_elasticsearch_pipelines_spark.operators.index_build import build_index
from hail_elasticsearch_pipelines_spark.operators.serve import LocalSearcher
from hail_elasticsearch_pipelines_spark.oracle import OracleIndex
from hail_elasticsearch_pipelines_spark.plans.maintenance import compact_index, delete_by_query

# -- sizes (fixed: a run's work does not depend on the machine) ----------
N_TERM_BUCKETS = 4
BUILD_DOCS = 3000  # pages per full build (plus ~2% re-crawl rows)
BUILD_DOCS_PER_PART = 750  # 4 segments: one partial-index task per core
SEARCH_DOCS = 2000
SEARCH_DOCS_PER_PART = 250  # 8 segments, below IndexSearcher's 128-segment prune gate
MIX_SIZE = 200  # distinct queries in a mix
DIST_WARMUP = 2  # distributed queries in set-up (the first one is cold)
DIST_QUERIES = 10  # distributed queries measured
LOCAL_PASSES = 5  # passes of the long-lived searcher over the mix, 2 distributed queries apart
COLD_MIN = 41  # fresh-searcher queries: 20 beyond the median
BURST_ROUNDS = 5  # bursts of the mix after compaction
ORACLE_CHECKS = 8  # queries compared with oracle.OracleIndex

END_TO_END = {
    "setup_s": "s",
    "spark_ops_s": "s",
    "local_search_p50_ms": "ms",
    "local_search_p90_ms": "ms",
    "index_bytes_per_doc": "B",
}

MAINT_OPS = ("dbq", "compact")
PER_LAYER = {
    "build.wall_s": "s",
    "build.docs.wall_s": "s",
    "build.docs.python_s": "s",
    "build.docs.udf_passes": "count",
    "build.docs.shuffle_bytes": "B",
    "build.partials.wall_s": "s",
    "build.partials.python_s": "s",
    "build.partials.shuffle_bytes": "B",
    "build.partials.task_skew": "ratio",
    "build.publish.wall_s": "s",
    "build.merge.python_s": "s",
    "build.merge.shuffle_bytes": "B",
    "build.publish.termdict_s": "s",
    "build.spark_jobs": "count",
    "codecs.bytes_per_posting": "B",
    "codecs.decode_calls_per_query": "count",
    "codecs.decode_ms_per_query": "ms",
    "bm25.open_ms": "ms",
    "bm25.plan_ms": "ms",
    "bm25.collect_ms": "ms",
    "bm25.jobs_per_query": "count",
    "bm25.stages_per_query": "count",
    "bm25.tasks_per_query": "count",
    "bm25.python_ms_per_query": "ms",
    "bm25.python_start_ms_per_query": "ms",
    "bm25.input_bytes_per_query": "B",
    "serve.cold_query_ms": "ms",
    "serve.open_ms": "ms",
    "serve.dfs_ms": "ms",
    "serve.scan_ms": "ms",
    "serve.rows_cache_hit_ratio": "ratio",
    "serve.kernel_ms": "ms",
    "serve.segments_skipped_ratio": "ratio",
    "serve.reload_ms": "ms",
    **{
        f"maint.{op}.{m}": u
        for op in MAINT_OPS
        for m, u in (
            ("wall_s", "s"),
            ("spark_jobs", "count"),
            ("python_s", "s"),
            ("shuffle_bytes", "B"),
            ("bytes_written", "B"),
        )
    },
    "spark.jobs": "count",
    "spark.tasks": "count",
    "spark.python_worker_start_s": "s",
    "spark.gc_s": "s",
    "trace.spark_ops_s": "s",
}


class Run:
    """State of one benchmark run: session, tracer, samples, failures."""

    def __init__(self, spark, tracer, work: str, seed: int, t0: float):
        self.spark = spark
        self.tracer = tracer
        self.work = work
        self.seed = seed
        self.t0 = t0
        self.setup_s: float | None = None
        self.attempted = 0
        self.failures: dict[str, str] = {}  # op label -> first failed check
        self.samples: dict[str, list[float]] = defaultdict(list)
        self.values: dict[str, float] = {}
        self.info: dict[str, object] = {}

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def log(self, msg: str) -> None:
        print(f"[{time.perf_counter() - self.t0:7.2f}s] {msg}", file=sys.stderr, flush=True)

    def setup_done(self) -> None:
        self.setup_s = time.perf_counter() - self.t0
        self.log("set-up done")

    def op(self, label: str) -> str:
        self.attempted += 1
        return label

    def check(self, ok: bool, label: str, what: str) -> None:
        if not ok and label not in self.failures:
            self.failures[label] = what

    @property
    def failed(self) -> int:
        return len(self.failures)


# -- timing -------------------------------------------------------------
class Clock:
    """Wall time of one timed region."""

    def __enter__(self):
        self.wall = time.perf_counter()
        return self

    def __exit__(self, *exc):
        self.wall = time.perf_counter() - self.wall


# -- query execution ----------------------------------------------------
def dist_plan(s: IndexSearcher, q: inputs.Query):
    if q.kind == "bool":
        return s.search_bool(q.text, k=q.k)
    if q.kind == "phrase":
        return s.search_phrase(list(q.terms), k=q.k)
    return s.search(list(q.terms), q.mode, q.k)


def dist_queries(mix: list) -> list:
    """The measured distributed queries: the first of each shape in mix
    order, in the mix's shares (1 bool, 1 phrase, 8 plain of 10), so
    seeds differ in terms, not in how many costly shapes they time."""
    want = {"bool": DIST_QUERIES // 10, "phrase": DIST_QUERIES // 10}
    want["search"] = DIST_QUERIES - 2 * (DIST_QUERIES // 10)
    out = []
    for q in mix:
        if want[q.kind]:
            want[q.kind] -= 1
            out.append(q)
    return out


def local_query(ls: LocalSearcher, q: inputs.Query, algo: str = "auto") -> list:
    if q.kind == "bool":
        return ls.search_bool(q.text, k=q.k)
    if q.kind == "phrase":
        return ls.search_phrase(list(q.terms), k=q.k)
    return ls.search(list(q.terms), q.mode, q.k, algo=algo)


def timed_local(run: Run, ls: LocalSearcher, q: inputs.Query, label: str):
    """One local query; returns (Clock, result or None on error)."""
    run.op(label)
    res = None
    with Clock() as clock:
        try:
            with run.tracer.span("serve.query", op=True, spark=False):
                res = local_query(ls, q)
        except Exception as e:  # noqa: BLE001 — a failed query is counted, the run goes on
            run.check(False, label, f"{type(e).__name__}: {e}")
    return clock, res


def cold_pass(run: Run, index_dir: str, mix, expect: dict) -> None:
    """Fresh ``LocalSearcher`` per query: open + query, nothing cached."""
    tr = run.tracer
    for i in range(COLD_MIN):
        q = mix[i % len(mix)]
        label = run.op(f"cold#{i} {q.label()}")
        before = dict(tr.counters)
        with Clock() as clock, tr.span("serve.cold_query", op=True, spark=False):
            with tr.span("serve.open", spark=False):
                ls = LocalSearcher(index_dir)
            res = local_query(ls, q)
        run.samples["local_cold_s"].append(clock.wall)
        if tr.enabled:
            for key in ("codecs.decode.calls", "codecs.decode.ms", "serve.dfs.ms", "serve.scan.ms", "serve.kernel.ms"):
                run.samples[f"cold.{key}"].append(tr.counters[key] - before.get(key, 0.0))
        if q in expect:
            run.check(res == expect[q], label, "fresh searcher differs from the long-lived one")


def exhaustive_checks(run: Run, ls: LocalSearcher, expect: dict, where: str) -> None:
    """Every plain top-k query answered since the last refresh must equal
    the same query with ``algo="exhaustive"`` (no pruning)."""
    for q, res in expect.items():
        if q.kind != "search":
            continue
        label = run.op(f"{where} exhaustive {q.label()}")
        got = local_query(ls, q, algo="exhaustive")
        run.check(got == res, label, f"algo='auto' gave {_first_diff(res, got)}")


def _first_diff(a: list, b: list) -> str:
    for i, (x, y) in enumerate(zip(a, b)):
        if x != y:
            return f"{x} at rank {i}, algo='exhaustive' {y} (of {len(a)} vs {len(b)} hits)"
    return f"{len(a)} hits, algo='exhaustive' {len(b)}"


def index_bytes(index_dir: str) -> int:
    """Bytes of the tables the current manifest publishes."""
    m = load_manifest(index_dir)
    total = 0
    for name in m["tables"]:
        root = table_path(index_dir, name, m)
        for dirpath, _dirs, files in os.walk(root):
            total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    return total


# -- search -------------------------------------------------------------
def search_workload(run: Run) -> None:
    spark, tr = run.spark, run.tracer
    pdf = inputs.gen_pages(inputs.doc_offset(run.seed), SEARCH_DOCS)
    pages = run.path("pages.parquet")
    inputs.write_parquet(pdf, pages, spark.sparkContext.defaultParallelism)
    texts = inputs.live_docs(pdf)
    mix = inputs.query_mix(run.seed, MIX_SIZE, texts)
    idx = run.path("index")
    run.log("inputs ready")
    with tr.span("setup.build", op=True):
        manifest = build_index(
            spark, spark.read.parquet(pages), idx,
            docs_per_part=SEARCH_DOCS_PER_PART, seg_group=1, n_term_buckets=N_TERM_BUCKETS,
        )
    with tr.span("bm25.open", op=True):
        searcher = IndexSearcher(spark, idx)
    run.log("index built")
    for q in inputs.query_mix(run.seed, DIST_WARMUP, texts, stream=2):
        dist_plan(searcher, q).collect()
    run.log("distributed searcher warm")
    ls = LocalSearcher(idx)
    warm = {q: local_query(ls, q) for q in mix}  # fills the searcher's caches
    run.setup_done()

    def dist_query(i: int, q: inputs.Query) -> None:
        label = run.op(f"dist#{i} {q.label()}")
        with Clock() as clock, tr.span("bm25.query", op=True):
            t0 = time.perf_counter()
            with tr.span("bm25.plan"):
                df = dist_plan(searcher, q)
            t1 = time.perf_counter()
            with tr.span("bm25.collect"):
                rows = [(r["doc_id"], r["score"]) for r in df.collect()]
            t2 = time.perf_counter()
        run.samples["spark_ops"].append(clock.wall)
        run.samples["bm25.plan_s"].append(t1 - t0)
        run.samples["bm25.collect_s"].append(t2 - t1)
        run.check(rows == warm[q], label, "distributed result differs from LocalSearcher")

    n_segments = manifest["metrics"]["n_segments"]
    best: dict = {}

    def local_pass(p: int) -> None:
        for i, q in enumerate(warm):
            label = f"local#{p}.{i} {q.label()}"
            clock, res = timed_local(run, ls, q, label)
            best[q] = min(best.get(q, clock.wall), clock.wall)
            run.check(res == warm[q], label, "repeated query gave another result")
            if q.kind == "search":
                run.samples["segments_skipped"].append(ls.last_segments_skipped / n_segments)

    # closed loop over the distributed queries (IndexSearcher) and the
    # long-lived LocalSearcher (the cached path).  Each distinct local
    # query runs once per pass and keeps its best time; the passes are
    # spread between the distributed queries, so the best time drops
    # both one-off stalls and the host's slow spells of a few seconds,
    # but not a slow search.
    before = dict(tr.counters)
    dist = dist_queries(mix)
    for p, chunk in enumerate(np.array_split(np.arange(len(dist)), LOCAL_PASSES)):
        local_pass(p)
        for i in chunk:
            dist_query(int(i), dist[i])
    run.samples["local_s"] = list(best.values())
    if tr.enabled:
        hits = tr.counters["serve.rows_hits"] - before.get("serve.rows_hits", 0)
        lookups = tr.counters["serve.rows_lookups"] - before.get("serve.rows_lookups", 0)
        run.values["serve.rows_cache_hit_ratio"] = hits / lookups if lookups else 0.0
    run.log("distributed and local passes done")
    # local, fresh searcher per query: the uncached path
    cold_pass(run, idx, mix, warm)
    run.log("cold pass done")
    exhaustive_checks(run, ls, warm, "search")
    run.values["index_bytes_per_doc"] = index_bytes(idx) / manifest["globals"]["n_docs"]
    run.values["codecs.bytes_per_posting"] = (
        manifest["metrics"]["bytes_compressed"] / manifest["metrics"]["postings_emitted"]
    )
    if tr.enabled:  # searcher open, repeated for a median
        for _ in range(4):
            with tr.span("bm25.open", op=True):
                IndexSearcher(spark, idx)


# -- build --------------------------------------------------------------
class LiveCorpus:
    """What the index under maintenance should hold, kept in Python: token
    sets of the live docs, so expected counts follow every write."""

    def __init__(self, texts: list[str]):
        self.docs = [set(py_tokenize(t)) for t in texts]

    def delete_matching(self, term: str) -> None:
        self.docs = [d for d in self.docs if term not in d]

    def count(self, term: str) -> int:
        return sum(term in d for d in self.docs)


def build_workload(run: Run) -> None:
    spark, tr = run.spark, run.tracer
    pdf = inputs.gen_pages(inputs.doc_offset(run.seed), BUILD_DOCS)
    pages = run.path("pages.parquet")
    inputs.write_parquet(pdf, pages, spark.sparkContext.defaultParallelism)
    texts = inputs.live_docs(pdf)
    mix = inputs.query_mix(run.seed, MIX_SIZE, texts)
    run.setup_done()

    # the session's first build: what a batch build job pays
    body_dir = run.path("index")
    label = run.op("build")
    with Clock() as clock, tr.span("build.body", op=True):
        manifest = build_index(
            spark, spark.read.parquet(pages), body_dir,
            docs_per_part=BUILD_DOCS_PER_PART, seg_group=1, n_term_buckets=N_TERM_BUCKETS,
        )
    run.samples["spark_ops"].append(clock.wall)
    run.log("build done")
    run.check(manifest["globals"]["n_docs"] == len(texts), label, "n_docs != distinct urls")
    run.values["codecs.bytes_per_posting"] = (
        manifest["metrics"]["bytes_compressed"] / manifest["metrics"]["postings_emitted"]
    )
    # rank- and score-identical to the single-process oracle
    oracle = OracleIndex(dict(enumerate(texts)))
    ls = LocalSearcher(body_dir)
    for q in [q for q in mix if q.kind == "search"][:ORACLE_CHECKS]:
        label = run.op(f"oracle {q.label()}")
        run.check(local_query(ls, q) == oracle.topk(list(q.terms), q.mode, q.k), label, "differs from OracleIndex")

    # the writes, each followed by a refresh and count checks.  Top-k
    # queries run only on the compacted generation: while tombstones are
    # on disk, df counts the dead postings but n_docs does not, so the
    # idf of a term in nearly every doc goes negative and the engine's
    # pruned top-k (algo="auto") differs from algo="exhaustive"
    # (README: known engine defect).
    live = LiveCorpus(texts)
    probes = [q.terms[0] for q in mix if q.kind == "search" and not q.terms[0].startswith("zz")][:3]
    rare = sorted(t for t in oracle.postings if t.startswith("term") and 2 <= oracle.df(t) <= len(texts) // 100)
    dbq_term = rare[int(np.random.default_rng([run.seed, 4]).integers(len(rare)))]
    writes = (
        ("dbq", lambda: delete_by_query(spark, body_dir, dbq_term), lambda: live.delete_matching(dbq_term)),
        ("compact", lambda: compact_index(spark, body_dir, factor=2), lambda: None),
    )
    for name, write, expect in writes:
        label = run.op(f"write {name}")
        with Clock() as clock, tr.span(f"maint.{name}", op=True):
            write()
        run.samples["spark_ops"].append(clock.wall)
        run.log(f"{name} done")
        expect()
        with Clock() as refresh, tr.span("serve.reload", op=True, spark=False):
            run.check(ls.reload(), label, "reload saw no new generation")
        run.samples["serve.reload_s"].append(refresh.wall)
        run.check(ls.n_docs == len(live.docs), label, f"n_docs {ls.n_docs} != {len(live.docs)}")
        for term in (*probes, dbq_term):
            got, want = ls.search_count([term]), live.count(term)
            run.check(got == want, label, f"search_count({term}) {got} != {want}")

    # bursts of the mix on the compacted generation, each on a searcher
    # with empty caches: the one reloaded after compaction, then fresh
    # ones.  The first query of a burst pays its refresh; each distinct
    # query keeps its best burst.  A share of the exhaustive checks runs
    # after each burst, which spreads the bursts over more time, so the
    # best burst drops the host's slow spells of a second or two.
    results, best = {}, {}
    for r in range(BURST_ROUNDS):
        if r:
            with Clock() as refresh:
                ls = LocalSearcher(body_dir)
        for i, q in enumerate(mix):
            label = f"burst#{r}.{i} {q.label()}"
            clock, res = timed_local(run, ls, q, label)
            wall = clock.wall + (refresh.wall if i == 0 else 0.0)
            best[q] = min(best.get(q, wall), wall)
            run.check(res == results.setdefault(q, res), label, "another burst gave another result")
        exhaustive_checks(run, ls, dict(list(results.items())[r::BURST_ROUNDS]), "after compact")
    run.samples["local_s"] = list(best.values())
    run.log("bursts done")
    run.values["index_bytes_per_doc"] = index_bytes(body_dir) / ls.n_docs


WORKLOADS = {"build": build_workload, "search": search_workload}


# -- metrics ------------------------------------------------------------
def _pct(xs: list[float], q: float) -> float:
    return float(np.percentile(np.asarray(xs), q, method="linear"))


def end_to_end(run: Run) -> dict[str, tuple[float, int]]:
    """name -> (value, sample count)."""
    s = run.samples
    return {
        "setup_s": (run.setup_s, 1),
        "spark_ops_s": (sum(s["spark_ops"]), len(s["spark_ops"])),
        "local_search_p50_ms": (_pct(s["local_s"], 50) * 1e3, len(s["local_s"])),
        "local_search_p90_ms": (_pct(s["local_s"], 90) * 1e3, len(s["local_s"])),
        "index_bytes_per_doc": (run.values["index_bytes_per_doc"], 1),
    }


def per_layer(run: Run, totals: dict) -> dict[str, float]:
    """Every per-layer metric; 0 where the workload does not run the layer."""
    tr, s, v = run.tracer, run.samples, run.values
    out = {name: 0.0 for name in PER_LAYER}
    med = lambda xs: float(statistics.median(xs)) if xs else 0.0  # noqa: E731

    build = next(iter(tr.named("build.body")), None)
    if build:
        sub = tr.subtree(build)

        def stage(name: str) -> tuple[float, dict]:
            spans = [x for x in sub if x["name"] == name]
            return sum(x["end"] - x["start"] for x in spans), tr.spark_totals(*spans)

        (docs_s, docs), (parts_s, parts), (pub_s, pub) = (
            stage("build.docs"), stage("build.partials"), stage("build.publish")
        )
        out.update({
            "build.wall_s": build["end"] - build["start"],
            "build.docs.wall_s": docs_s,
            "build.docs.python_s": docs["python_ms"] / 1e3,
            "build.docs.udf_passes": len(docs["python_stages"]),
            "build.docs.shuffle_bytes": docs["shuffle_bytes"],
            "build.partials.wall_s": parts_s,
            "build.partials.python_s": parts["python_ms"] / 1e3,
            "build.partials.shuffle_bytes": parts["shuffle_bytes"],
            "build.partials.task_skew": task_skew(parts),
            "build.publish.wall_s": pub_s,
            "build.merge.python_s": pub["python_ms"] / 1e3,
            "build.merge.shuffle_bytes": pub["shuffle_bytes"],
            "build.publish.termdict_s": stage("build.publish.termdict")[0],
            "build.spark_jobs": tr.spark_totals(build)["jobs"],
        })
    out["codecs.bytes_per_posting"] = v.get("codecs.bytes_per_posting", 0.0)
    out["codecs.decode_calls_per_query"] = med(s["cold.codecs.decode.calls"])
    out["codecs.decode_ms_per_query"] = med(s["cold.codecs.decode.ms"])

    queries = tr.named("bm25.query")
    if queries:
        tots = [tr.spark_totals(q) for q in queries]
        out.update({
            "bm25.open_ms": med([(x["end"] - x["start"]) * 1e3 for x in tr.named("bm25.open")]),
            "bm25.plan_ms": med(s["bm25.plan_s"]) * 1e3,
            "bm25.collect_ms": med(s["bm25.collect_s"]) * 1e3,
            "bm25.jobs_per_query": med([t["jobs"] for t in tots]),
            "bm25.stages_per_query": med([t["stages"] for t in tots]),
            "bm25.tasks_per_query": med([t["tasks"] for t in tots]),
            "bm25.python_ms_per_query": med([t["python_ms"] for t in tots]),
            "bm25.python_start_ms_per_query": med([t["python_start_ms"] for t in tots]),
            "bm25.input_bytes_per_query": med([t["input_bytes"] for t in tots]),
        })
    out.update({
        "serve.cold_query_ms": med(s["local_cold_s"]) * 1e3,
        "serve.open_ms": med([(x["end"] - x["start"]) * 1e3 for x in tr.named("serve.open")]),
        "serve.dfs_ms": med(s["cold.serve.dfs.ms"]),
        "serve.scan_ms": med(s["cold.serve.scan.ms"]),
        "serve.kernel_ms": med(s["cold.serve.kernel.ms"]),
        "serve.rows_cache_hit_ratio": v.get("serve.rows_cache_hit_ratio", 0.0),
        "serve.segments_skipped_ratio": float(np.mean(s["segments_skipped"])) if s["segments_skipped"] else 0.0,
        "serve.reload_ms": med(s["serve.reload_s"]) * 1e3,
    })

    for op in MAINT_OPS:
        spans = tr.named(f"maint.{op}")
        if not spans:
            continue
        g = tr.spark_totals(spans[0])
        out.update({
            f"maint.{op}.wall_s": spans[0]["end"] - spans[0]["start"],
            f"maint.{op}.spark_jobs": g["jobs"],
            f"maint.{op}.python_s": g["python_ms"] / 1e3,
            f"maint.{op}.shuffle_bytes": g["shuffle_bytes"],
            f"maint.{op}.bytes_written": g["output_bytes"],
        })

    out.update({
        "spark.jobs": totals["n_jobs"],
        "spark.tasks": totals["n_tasks"],
        "spark.python_worker_start_s": totals["python_start_ms"] / 1e3,
        "spark.gc_s": totals["gc_ms"] / 1e3,
        "trace.spark_ops_s": sum(s["spark_ops"]),
    })
    return {k: float(x) for k, x in out.items()}


