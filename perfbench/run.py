#!/usr/bin/env python3
"""Benchmark of the engine's serving and write paths, measured from outside.

    python3 perfbench/run.py --workload search_selective --seed 1 --seconds 10 --trace 0

One client drives the engine in a closed loop (the next request is sent when
the previous one has returned) through ``session.get_spark`` at
``local[nproc]``, over a 1,000-file corpus generated from ``--seed``. Set-up
is Spark start, a warm-up ``build_index`` on 40 files (it takes the JVM's
cold start), the corpus write, the timed ``build_index`` and a few warm-up
reads. Each run then makes one ``bulk`` request and ``--seconds`` of
reads:

- ``search_selective``: ``topk`` over 1, 2 or 3 low-df words, never
  repeated, so every query misses the term memo and pays the
  dictionary-lookup job; the Spark job floor and driver planning dominate.
  The bulk follows the window.
- ``bulk_dsl``: the bulk (re-indexed, new and deleted files) comes first.
  The reads are a ``topk`` and a ``match`` body over the written files'
  marker words (read-your-writes), then ``bool`` bodies with
  must/should/must_not and a keyword range. The publish is a new index
  version, so the reads start with cold caches.

Every timed result is checked after the window against a brute-force BM25
over the benchmark's own copy of the documents (``oracle.py``). The last
line of standard output is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``: the end-to-end metrics with ``--trace 0``, the
per-layer metrics from spans around each layer call with ``--trace 1``.
The two lines before it record the host (CPU steal and load over the
window) and the run (set-up parts, per-request latencies, how many reads lie
beyond ``query_tail_ms``, their 75th percentile). Traced runs also write
their spans to ``.perfbench_work/spans-<workload>-<seed>.json``.
"""

from __future__ import annotations

import argparse
import itertools
import json
import os
import shutil
import statistics
import sys
import time
from dataclasses import dataclass, field

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import corpus as C  # noqa: E402
from perfbench import oracle  # noqa: E402
from perfbench import trace as T  # noqa: E402

WORKLOADS = ("search_selective", "bulk_dsl")
N_FILES = 1000
K = 10
# a small index's layout: one term bucket, one checkpoint batch
BUILD = dict(content_col="content", id_col="doc_id",
             meta_cols=("doc_id", "repo", "lang"), tokenizer="standard",
             n_buckets=1, shard_size=1024, n_ckpt_batches=1)
BULK = dict(content_col="content", id_col="doc_id",
            meta_cols=("doc_id", "repo", "lang"))
WARM_FILES = 40  # untimed first build that takes the JVM's cold start
BATCH = (12, 8, 5)  # re-indexed, new and deleted files per bulk request
# warm-up reads (topk, bodies). Read latency falls steeply over a fresh
# JVM's first ~10 requests of a kind; topk is flat after that, bool bodies
# keep falling ~5% per 10 requests for a minute, too long to wait out
WARMUP = {"search_selective": (10, 0), "bulk_dsl": (1, 10)}
TAIL_PCT = 75  # query_tail_ms is this percentile of the timed reads


@dataclass
class Op:
    """One timed request and what the post-hoc check needs."""

    rid: int
    kind: str  # "topk" | "dsl" | "bulk"
    arg: object  # query string, request body, or bulk lines
    epoch: int  # oracle epoch (bulks applied) the request was served at
    version: str | None  # published index version it was served from
    window: bool  # inside the timed window
    t0: float = 0.0
    t_plan: float = 0.0  # end of the lazy call (reads only)
    t1: float = 0.0
    rows: list = field(default_factory=list)
    error: str | None = None
    k: int = K
    after_bulk: bool = False  # first read after a bulk
    expect_ids: set | None = None  # read-your-writes: exactly these ids
    cpu_s: float = 0.0
    tokenize_us: float = 0.0
    resolve_ms: float = 0.0
    bulk_bytes: int = 0

    @property
    def ms(self) -> float:
        return (self.t1 - self.t0) * 1e3


def _percentile(xs: list[float], pct: int) -> float:
    """``pct``-th percentile, interpolated between samples the way
    ``statistics.quantiles`` does; the one sample if there is only one."""
    if len(xs) < 2:
        return xs[0]
    return statistics.quantiles(xs, n=100, method="inclusive")[pct - 1]


class Bench:
    def __init__(self, args):
        self.args = args
        self.workload = args.workload
        self.work = os.path.join(ROOT, ".perfbench_work",
                                 f"{args.workload}-{args.seed}-{os.getpid()}")
        self.root = os.path.join(self.work, "index")
        self.ops: list[Op] = []
        self.spark = None

    # ---- set-up -------------------------------------------------------------

    def generate(self) -> None:
        """Corpus, oracle model and request streams: the benchmark's own
        work, done before set-up is timed."""
        from es_indexer_spark.analysis.tokenizer import tokenize_one

        self.tokenize = lambda s: tokenize_one(s, "standard")
        self.corpus = C.make_corpus(self.args.seed, self.args.files)
        self.model = oracle.Model(self.tokenize)
        for r in self.corpus.rows:
            self.model.add(r["doc_id"], r["repo"], r["content"])
        df = C.df_table([set(d.tf) for d in self.model.docs])
        n = len(self.model.docs)
        mid = sorted(t for t, d in df.items()
                     if 0.04 * n <= d <= 0.2 * n and t not in C.STOPS)
        n_top, n_bod = WARMUP[self.workload]
        # warm-up and timed requests come from one stream each, so they are
        # disjoint; the selective stream never repeats a word
        self.sel_stream = C.selective_queries(self.args.seed, df)
        self.warm_topk = list(itertools.islice(self.sel_stream, n_top))
        self.body_stream = C.bool_bodies(self.args.seed, mid, self.corpus.repos)
        self.warm_bodies = list(itertools.islice(self.body_stream, n_bod))

    def start(self) -> None:
        os.makedirs(os.path.join(self.work, "tmp"), exist_ok=True)
        local = os.path.join(self.work, "spark-local")
        # every file the run writes stays inside the checkout, on one
        # filesystem: Spark scratch, JVM and Python temp files
        os.environ["SPARK_LOCAL_DIRS"] = local
        os.environ["TMPDIR"] = os.path.join(self.work, "tmp")
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
        from es_indexer_spark.session import get_spark

        self.spark = get_spark(
            "perfbench", master=f"local[{self.nproc}]",
            extra_conf={
                "spark.local.dir": local,
                "spark.ui.showConsoleProgress": "false",
                "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
                "spark.driver.extraJavaOptions":
                    f"-Djava.io.tmpdir={os.path.join(self.work, 'tmp')}",
            })
        # the engine's deliberate WindowExec warnings would bury the output
        self.spark.sparkContext.setLogLevel("ERROR")
        self.tracer = T.Tracer(self.spark, self.args.trace)
        self.jvm_pid = self.spark.sparkContext._gateway.proc.pid

    @property
    def nproc(self) -> int:
        return len(os.sched_getaffinity(0))

    def build(self) -> None:
        from es_indexer_spark.index.builder import build_index

        # an untimed build of a few files first: the first build in a JVM
        # pays ~10 s of JIT, codegen and Python-worker start whatever its
        # size, which build_files_per_s would otherwise mostly measure
        warm = os.path.join(self.work, "warm.parquet")
        C.write_parquet(self.corpus.rows[:WARM_FILES], warm)
        t0 = time.perf_counter()
        build_index(self.spark, self.spark.read.parquet(warm),
                    os.path.join(self.work, "warm-index"), resume=False, **BUILD)
        self.warm_build_s = time.perf_counter() - t0
        path = os.path.join(self.work, "corpus.parquet")
        self.content_bytes = C.write_parquet(self.corpus.rows, path)
        t0 = time.perf_counter()
        with self.tracer.span(0, "index.builder.build_index"):
            self.vdir0 = build_index(self.spark, self.spark.read.parquet(path),
                                     self.root, resume=False, **BUILD)
        self.build_s = time.perf_counter() - t0
        self.tracer.harvest()

    def warm_up(self) -> list[float]:
        from es_indexer_spark.query.dsl import search
        from es_indexer_spark.query.engine import topk

        out = []
        for q in self.warm_topk:
            t = time.perf_counter()
            topk(self.spark, self.root, q, k=K).collect()
            out.append((time.perf_counter() - t) * 1e3)
        for b in self.warm_bodies:
            t = time.perf_counter()
            search(self.spark, self.root, b).collect()
            out.append((time.perf_counter() - t) * 1e3)
        return out

    # ---- requests -----------------------------------------------------------

    def _read(self, kind: str, arg, window: bool, k: int = K,
              expect_ids: set | None = None) -> Op:
        from es_indexer_spark.index import catalog
        from es_indexer_spark.query.dsl import search
        from es_indexer_spark.query.engine import topk

        op = Op(len(self.ops) + 1, kind, arg, self.model.epoch,
                catalog.current_version(self.root), window, k=k,
                expect_ids=expect_ids)
        op.after_bulk = bool(self.ops) and self.ops[-1].kind == "bulk"
        layer = "query.engine" if kind == "topk" else "query.dsl"
        if self.tracer.enabled:
            t = time.perf_counter()
            self.tokenize(_text(arg))
            op.tokenize_us = (time.perf_counter() - t) * 1e6
            t = time.perf_counter()
            catalog.read_stats(catalog.resolve(self.root))
            op.resolve_ms = (time.perf_counter() - t) * 1e3
            cpu0 = T.tree_cpu_s(os.getpid())
        try:
            op.t0 = time.perf_counter()
            with self.tracer.span(op.rid, f"{layer}.plan"):
                frame = (topk(self.spark, self.root, arg, k=k) if kind == "topk"
                         else search(self.spark, self.root, arg))
            op.t_plan = time.perf_counter()
            with self.tracer.span(op.rid, f"{layer}.exec"):
                rows = frame.select("docid", "score").collect()
            op.t1 = time.perf_counter()
            op.rows = [(r["docid"], r["score"]) for r in rows]
        except Exception as e:  # a failed request counts, the loop goes on
            op.t1 = time.perf_counter()
            op.error = f"{type(e).__name__}: {e}"[:300]
        if self.tracer.enabled:
            op.cpu_s = T.tree_cpu_s(os.getpid()) - cpu0
            self.tracer.harvest()
        self.ops.append(op)
        return op

    def _bulk(self, window: bool) -> Op:
        from es_indexer_spark.index.bulk import bulk

        lines, docs, deletes = C.bulk_batch(self.corpus, list(self.model.live),
                                            *BATCH)
        op = Op(len(self.ops) + 1, "bulk", lines, self.model.epoch, None, window)
        op.bulk_bytes = sum(len(d["content"].encode()) for d in docs)
        delta = os.path.join(self.work, f"delta-{op.rid}")
        if self.tracer.enabled:
            cpu0 = T.tree_cpu_s(os.getpid())
        try:
            op.t0 = time.perf_counter()
            with self.tracer.span(op.rid, "index.bulk.bulk"):
                res = bulk(self.spark, self.root, lines, work_dir=delta, **BULK)
            op.t1 = time.perf_counter()
            bad = [i for i in res["items"] if i["status"] != "ok"]
            if res["errors"] or len(res["items"]) != len(docs) + len(deletes):
                op.error = f"bulk items failed: {bad[:2]}"
        except Exception as e:
            op.t1 = time.perf_counter()
            op.error = f"{type(e).__name__}: {e}"[:300]
        if self.tracer.enabled:
            op.cpu_s = T.tree_cpu_s(os.getpid()) - cpu0
            self.tracer.harvest()
        shutil.rmtree(delta, ignore_errors=True)
        self.ops.append(op)
        self.model.apply_bulk(docs, deletes)
        # read-your-writes: the written files' marker words must find
        # exactly the re-indexed and new files, and none of the deleted
        written = {d["doc_id"] for d in docs}
        marks = " ".join(C.marker(i) for i in sorted(written | set(deletes)))
        n = len(written) + len(deletes)
        self._read("topk", marks, window, k=n, expect_ids=written)
        self._read("dsl", {"query": {"match": {"content": marks}}, "size": n},
                   window, k=n, expect_ids=written)
        return op

    def run_window(self) -> None:
        """The timed window: ``--seconds`` of reads, one client, closed
        loop. On ``bulk_dsl`` the reads start when a bulk request returns;
        on ``search_selective`` the bulk follows the window."""
        seconds = self.args.seconds
        tick0 = T.cpu_ticks()
        t_start = time.perf_counter()
        if self.workload == "bulk_dsl":
            t_start = self._bulk(True).t1
            while time.perf_counter() - t_start < seconds:
                self._read("dsl", next(self.body_stream), True)
        else:
            while time.perf_counter() - t_start < seconds:
                self._read("topk", next(self.sel_stream), True)
        self.window_s = time.perf_counter() - t_start
        tick1 = T.cpu_ticks()
        self.steal_pct = 100.0 * (tick1[1] - tick0[1]) / max(1, tick1[0] - tick0[0])
        self.load1 = T.load1()
        self.index_bytes = _dir_bytes(self._vdir())
        self.live_content = sum(d.nbytes for d in self.model.live.values())
        if self.workload == "search_selective":
            self._bulk(False)

    def _vdir(self) -> str:
        from es_indexer_spark.index import catalog

        return catalog.resolve(self.root)

    # ---- checking (after the timed window) ---------------------------------

    def check(self) -> list[str]:
        """One reason per failed request; every timed read is compared with
        the oracle at the epoch it was served from."""
        import pyarrow.parquet as pq

        id_maps: dict[str, dict[int, int]] = {}
        reasons = []
        for op in self.ops:
            why = op.error
            if why is None and op.kind != "bulk":
                if op.version not in id_maps:
                    t = pq.read_table(os.path.join(self.root, op.version, "docs"),
                                      columns=["docid", "doc_id"])
                    id_maps[op.version] = dict(zip(t["docid"].to_pylist(),
                                                   t["doc_id"].to_pylist()))
                ids = id_maps[op.version]
                got = [(ids.get(d), s) for d, s in op.rows]
                if op.kind == "topk":
                    want, k = self.model.match(op.epoch, op.arg), op.k
                else:
                    want, k = self.model.body(op.epoch, op.arg), op.arg.get("size", 10)
                why = oracle.compare(got, want, k)
                if why is None and op.expect_ids is not None \
                        and {d for d, _ in got} != op.expect_ids:
                    why = "read-your-writes: written ids not found exactly"
            if why is not None:
                reasons.append(f"op {op.rid} {op.kind}: {why}")
        return reasons

    # ---- metrics ------------------------------------------------------------

    def end_to_end(self) -> tuple[dict, dict]:
        reads = [op for op in self.ops if op.window and op.kind != "bulk"]
        bulks = [op for op in self.ops if op.kind == "bulk"]
        lat = [op.ms for op in reads]
        tail = _percentile(lat, TAIL_PCT)
        m = {
            "setup_s": (self.setup_s, "s"),
            "build_files_per_s": (self.args.files / self.build_s, "files/s"),
            "index_bytes_per_content_byte": (
                self.index_bytes / self.live_content, "ratio"),
            "query_p50_ms": (statistics.median(lat), "ms"),
            "query_tail_ms": (tail, "ms"),
            "bulk_p50_ms": (statistics.median(op.ms for op in bulks), "ms"),
            "driver_peak_rss_mb": (T.peak_rss_mb(os.getpid()), "MB"),
        }
        info = {"reads": len(reads), "bulks": len(bulks),
                "tail_percentile": TAIL_PCT,
                "tail_beyond": sum(x > tail for x in lat)}
        return m, info

    def per_layer(self) -> dict:
        import pyarrow.parquet as pq
        from es_indexer_spark.index import catalog

        spans: dict[int, dict[str, T.Span]] = {}
        for s in self.tracer.spans:
            spans.setdefault(s.rid, {})[s.name.rsplit(".", 1)[-1]] = s
        med = statistics.median

        def jobs(op):
            return [j for s in spans[op.rid].values() for j in s.jobs]

        def covered(op):
            """Milliseconds of the request during which a Spark job ran."""
            ss = spans[op.rid].values()
            return T.covered_ms(jobs(op), min(s.t0 for s in ss),
                                max(s.t1 for s in ss))

        reads = [op for op in self.ops if op.kind != "bulk" and op.error is None]
        window_reads = [op for op in reads if op.window]
        topks = [op for op in reads if op.kind == "topk"]
        bodies = [op for op in reads if op.kind == "dsl"]
        bulks = [op for op in self.ops if op.kind == "bulk" and op.error is None]
        m: dict[str, tuple[float, str]] = {}

        def put(name, values, unit, agg=med):
            m[name] = (float(agg(values)) if values else 0.0, unit)

        # analysis, catalog
        put("analysis.tokenize_us", [op.tokenize_us for op in reads], "us")
        put("index.catalog.resolve_ms", [op.resolve_ms for op in reads], "ms")
        # builder: the initial build's stage manifests
        st = {s: catalog.ckpt_read(self.vdir0, s) for s in
              ("docs", "dict", "_PUBLISHED")}
        posts = [catalog.ckpt_read(self.vdir0, f"postings_batch_{i}")
                 for i in range(BUILD["n_ckpt_batches"])]
        stage_s = {"docs": st["docs"]["elapsed_sec"],
                   "postings": sum(p["elapsed_sec"] for p in posts),
                   "dict": st["dict"]["elapsed_sec"]}
        for k_, v in stage_s.items():
            m[f"index.builder.{k_}_s"] = (v, "s")
        m["index.builder.finalize_s"] = (self.build_s - sum(stage_s.values()), "s")
        m["index.builder.bytes_per_posting"] = (
            _dir_bytes(self.vdir0) / st["_PUBLISHED"]["postings_emitted"], "B")
        build_span = spans[0]["build_index"]
        m["index.builder.spark_jobs"] = (len(build_span.jobs), "count")
        # engine and dsl: plan = the lazy call, exec = .collect()
        for layer, ops in (("query.engine", topks), ("query.dsl", bodies)):
            put(f"{layer}.plan_ms", [(op.t_plan - op.t0) * 1e3 for op in ops], "ms")
            put(f"{layer}.exec_ms", [(op.t1 - op.t_plan) * 1e3 for op in ops], "ms")
        # plan jobs by the engine function that submitted them
        put("query.engine.dict_jobs", [
            sum(j.function == "_dict_lookup" for j in spans[op.rid]["plan"].jobs)
            for op in topks], "count")
        put("query.engine.probe_jobs", [
            sum(j.layer == "query.engine" and j.function == "topk"
                for j in spans[op.rid]["plan"].jobs) for op in topks], "count")
        dicts: dict[str, dict[str, int]] = {}
        sum_df = []
        for op in topks:
            if op.version not in dicts:
                t = pq.read_table(os.path.join(self.root, op.version, "dict"),
                                  columns=["term", "df"])
                dicts[op.version] = dict(zip(t["term"].to_pylist(),
                                             t["df"].to_pylist()))
            d = dicts[op.version]
            sum_df.append(sum(d.get(w, 0) for w in set(self.tokenize(_text(op.arg)))))
        put("query.engine.sum_df", sum_df, "postings")
        after = [op.ms for op in reads if op.after_bulk]
        put("query.first_after_bulk_ms", after, "ms")
        # spark, per read in the timed window
        put("spark.jobs_per_op", [len(jobs(op)) for op in window_reads], "count")
        put("spark.stages_per_op",
            [sum(j.stages for j in jobs(op)) for op in window_reads], "count")
        put("spark.tasks_per_op",
            [sum(j.tasks for j in jobs(op)) for op in window_reads], "count")
        put("spark.job_wall_ms", [covered(op) for op in window_reads], "ms")
        put("spark.outside_jobs_ms",
            [op.ms - covered(op) for op in window_reads], "ms")
        for name, attr, unit in (("exec_run_ms", "run_ms", "ms"),
                                 ("exec_cpu_ms", "cpu_ms", "ms"),
                                 ("input_bytes", "input_bytes", "B"),
                                 ("shuffle_bytes", "shuffle_bytes", "B")):
            put(f"spark.{name}",
                [sum(getattr(j, attr) for j in jobs(op)) for op in window_reads],
                unit)
        run = sum(j.run_ms for op in window_reads for j in jobs(op))
        cpu = sum(j.cpu_ms for op in window_reads for j in jobs(op))
        m["spark.exec_cpu_share"] = (cpu / run if run else 0.0, "ratio")
        window_ops = [op for op in self.ops if op.window and op.error is None]
        all_jobs = [j for op in window_ops for j in jobs(op)]
        m["spark.jobs_total"] = (len(all_jobs), "count")
        m["spark.tasks_total"] = (sum(j.tasks for j in all_jobs), "count")
        m["spark.exec_cpu_ms_total"] = (sum(j.cpu_ms for j in all_jobs), "ms")
        m["spark.job_wall_ms_total"] = (sum(covered(op) for op in window_ops), "ms")
        # bulk: request to return, after the atomic publish
        put("index.bulk.spark_jobs", [len(jobs(op)) for op in bulks], "count")
        put("index.bulk.output_bytes",
            [sum(j.output_bytes for j in jobs(op)) for op in bulks], "B")
        put("index.bulk.write_amp",
            [sum(j.output_bytes for j in jobs(op)) / op.bulk_bytes
             for op in bulks], "ratio")
        put("index.bulk.self_ms",
            [spans[op.rid]["bulk"].self_ms() for op in bulks], "ms")
        m["index.tombstones.live_share"] = (self.live_share(), "ratio")
        # process
        put("proc.cpu_ms_per_op", [op.cpu_s * 1e3 for op in window_reads], "ms")
        m["proc.jvm_peak_rss_mb"] = (T.peak_rss_mb(self.jvm_pid), "MB")
        put("trace.query_p50_ms", [op.ms for op in window_reads], "ms")
        return m

    def live_share(self) -> float:
        """Live documents over stored documents in the published version,
        read from the index files."""
        import pyarrow.parquet as pq

        vdir = self._vdir()
        docs = pq.read_table(os.path.join(vdir, "docs"), columns=["docid"]).num_rows
        tomb = os.path.join(vdir, "_tombstones")
        dead = (len(set(pq.read_table(tomb, columns=["docid"])["docid"].to_pylist()))
                if os.path.isdir(tomb) else 0)
        return (docs - dead) / docs

    def dump_spans(self) -> str:
        """Write every span, with its jobs and self time, beside the work
        dirs; they outlive the run for a look at where time went."""
        import dataclasses

        path = os.path.join(os.path.dirname(self.work),
                            f"spans-{self.workload}-{self.args.seed}.json")
        with open(path, "w") as f:
            json.dump([{**dataclasses.asdict(s), "self_ms": s.self_ms()}
                       for s in self.tracer.spans], f)
        return os.path.relpath(path, ROOT)

    # ---- lifetime -----------------------------------------------------------

    def stop(self) -> None:
        """Stop Spark and the JVM it runs in, wait for every child process
        to end, and remove the work dir."""
        if self.spark is not None:
            from pyspark import SparkContext

            gw = SparkContext._gateway
            try:
                self.spark.stop()
            finally:
                if gw is not None:
                    gw.shutdown()
                    gw.proc.stdin.close()  # the JVM exits at end of stdin
                    gw.proc.wait(timeout=60)
                deadline = time.time() + 30
                while T.descendants(os.getpid()) and time.time() < deadline:
                    time.sleep(0.1)
        shutil.rmtree(self.work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(self.work))
        except OSError:
            pass  # not empty: other runs' dirs or span files


def _text(arg) -> str:
    """The words a request analyses: the query string, or every ``match``
    value in a body."""
    if isinstance(arg, str):
        return arg
    if isinstance(arg, dict):
        return " ".join(_text(v) for k, v in arg.items() if k != "range")
    if isinstance(arg, list):
        return " ".join(_text(v) for v in arg)
    return ""


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--files", type=int, default=N_FILES,
                    help="corpus size (smaller for the smoke test)")
    args = ap.parse_args(argv)

    import pyarrow
    import pyspark

    import es_indexer_spark

    if not os.path.abspath(es_indexer_spark.__file__).startswith(ROOT + os.sep):
        raise SystemExit(f"es_indexer_spark is not the checkout's own: "
                         f"{es_indexer_spark.__file__}")

    b = Bench(args)
    try:
        b.generate()
        t0 = time.perf_counter()
        b.start()
        spark_s = time.perf_counter() - t0
        b.build()
        t1 = time.perf_counter()
        warm_ms = b.warm_up()
        b.setup_s = time.perf_counter() - t0
        warm_s = time.perf_counter() - t1
        b.run_window()
        reasons = b.check()
        metrics, info = b.end_to_end()
        if args.trace:
            metrics = b.per_layer()
            spans_path = b.dump_spans()
        host = {
            "nproc": b.nproc, "mem_total_mb": round(T.mem_total_mb()),
            "slots": b.spark.sparkContext.defaultParallelism,
            "spark": pyspark.__version__, "pyarrow": pyarrow.__version__,
            "python": sys.version.split()[0], "files": args.files,
            "content_bytes": b.content_bytes, "seed": args.seed,
            "workload": args.workload, "trace": args.trace,
            "steal_pct": round(b.steal_pct, 3), "load1": b.load1,
            "window_s": round(b.window_s, 3),
        }
    finally:
        b.stop()
    print(json.dumps({"host": host}))
    print(json.dumps({"run": {**info, "spark_start_s": round(spark_s, 3),
                              "warm_build_s": round(b.warm_build_s, 3),
                              "build_s": round(b.build_s, 3),
                              "warmup_s": round(warm_s, 3),
                              "warmup_ms": [round(x) for x in warm_ms],
                              "spans": spans_path if args.trace else None,
                              "ops": [(op.kind[0], round(op.ms)) for op in b.ops],
                              "failed": reasons[:5]}}))
    print(json.dumps({
        "correct": not reasons,
        "attempted": len(b.ops),
        "failed": len(reasons),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
