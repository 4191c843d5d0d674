"""The benchmark's phases and metrics; `run.py` is the command line.

A run sets up (Spark, index build, loads), times the first op on a fresh
handle, runs the closed-loop window, then checks every answer against
`oracle.OracleIndex`. With tracing it also runs the fixed check set and
one ingest cycle, and derives per-layer metrics from the trace, the
Spark event log, the build manifests and the index files.
"""

from __future__ import annotations

import gc
import json
import os
import resource
import subprocess
import sys
import time
import traceback
from typing import NamedTuple

import pandas as pd
from pyspark import SparkContext

from idxbench import check, stats, trace, workload
from text_indexing_and_retrieval_system_spark import engine
from text_indexing_and_retrieval_system_spark.engine import InvertedIndex
from text_indexing_and_retrieval_system_spark.operators.index_build import IndexBuildConfig
from text_indexing_and_retrieval_system_spark.oracle import OracleIndex
from text_indexing_and_retrieval_system_spark.session import get_spark, warm_python_workers
from text_indexing_and_retrieval_system_spark.sources.transcripts import TRANSCRIPT_SCHEMA_DDL
from text_indexing_and_retrieval_system_spark.streaming import incremental

K = 50
N_TURNS = 7500  # ~1.2k conversations; the <=2-ULP idf drift shows at this size
N_ADD_TURNS = 1200  # appended by the ingest cycle (~200 conversations)
N_LOADS = 2  # fresh handles per run: medians of their load and first op
CHECK_SET = 256  # queries in the fixed inexact-answer check set
BATCH = 64
CORES = 4
MIN_OPS = 12  # the window runs --seconds and at least this many ops


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def _cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def cpu_shares(a: list[int], b: list[int]) -> tuple[float, float]:
    """(busy, steal) shares of CPU time between two /proc/stat samples."""
    d = [y - x for x, y in zip(a, b)]
    total = sum(d[:8]) or 1
    return 1 - (d[3] + d[4]) / total, d[7] / total


def python_gauge_ms() -> float:
    """Median time of a fixed pure-Python loop. Interactive ops are
    single-threaded Python work, and a shared host can slow them by a
    third without showing CPU steal; this shows how fast the host ran
    Python at the time."""
    ts = []
    for _ in range(5):
        t0 = time.perf_counter()
        sum(i * i for i in range(200_000))
        ts.append(time.perf_counter() - t0)
    return 1e3 * stats.median(ts)


def host_snapshot() -> dict:
    """Load average, CPU busy and steal shares over a short sample, and
    the Python speed gauge."""
    a = _cpu_times()
    time.sleep(0.2)
    b = _cpu_times()
    busy, steal = cpu_shares(a, b)
    return {
        "cores": os.cpu_count(),
        "load1": os.getloadavg()[0],
        "cpu_busy": busy,
        "steal": steal,
        "python_gauge_ms": python_gauge_ms(),
        "cpu_times": b,
    }


def rss_mb() -> float:
    with open("/proc/self/status") as f:
        for line in f:
            if line.startswith("VmRSS:"):
                return int(line.split()[1]) / 1024
    return 0.0


def jvm_hwm_mb(spark) -> float:
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    if proc is None:
        return 0.0
    with open(f"/proc/{proc.pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def stop_spark(spark) -> None:
    """Stop Spark and wait for the JVM (and with it the Python workers)."""
    gw = spark.sparkContext._gateway
    spark.stop()
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except Exception as e:  # the gateway may already be gone
        log(f"gateway shutdown: {e!r}")
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


class Op(NamedTuple):
    seconds: float
    queries: int
    root: object  # the traced span tree, or None
    t0: float  # epoch seconds, to match the Spark event log
    t1: float
    prune: dict | None  # `last_prune_stats` when the op set them


class Bench:
    def __init__(self, args, work: str):
        self.args, self.work = args, work
        self.trace = bool(args.trace)
        self.idx_dir = os.path.join(work, "index")
        self.failed = self.attempted = 0
        self.failures: list[str] = []
        self.sent: set[str] = set()  # every query sent so far, for the repeat share
        self.corpus = workload.make_corpus(N_TURNS, args.seed)
        self.oracle = OracleIndex.build(workload.with_doc_ids(self.corpus))
        self.expect = check.Expectations(self.oracle, K)
        self.pools = workload.frequency_pools(self.oracle)
        if args.workload == "interactive":
            # 40 queries of each of the 15 template shapes, and 8 phrases
            self.shapes = workload.queries_by_shape(self.pools, 40, args.seed)
            self.stream = workload.InteractiveStream(
                self.shapes,
                workload.phrase_queries(self.corpus, 8, args.seed, self.oracle.cfg),
                args.seed,
            )
        else:
            self.stream = workload.BatchStream(self.pools, args.seed, BATCH)

    # ------------------------------------------------------------ ops

    def op(self, h, arg):
        """One client op; returns [(query, docs, scores)]."""
        if self.args.workload == "interactive":
            r = h.search_collect(arg, k=K)
            return [(arg, r.docs, r.scores)]
        res = h.search_batch(arg, k=K)
        return [(q, res[q].docs, res[q].scores) for q in arg]

    def verify(self, answers, expect=None) -> tuple[bool, int]:
        """Gate one op's answers; returns (ok, number of inexact answers)."""
        expect = expect or self.expect
        get = expect.search if self.args.workload == "interactive" else expect.disjunction
        ok, inexact = True, 0
        for q, docs, scores in answers:
            v = check.compare(docs, scores, get(q), K)
            if not v.ok:
                ok = False
                if len(self.failures) < 5:
                    self.failures.append(f"{q!r}: {v.reason}")
            elif not v.exact:
                inexact += 1
        self.attempted += 1
        self.failed += 0 if ok else 1
        return ok, inexact

    def timed_op(self, h, arg, traced: bool):
        """Run one op; returns (answers or None, seconds, root span)."""
        root = None
        self.sent.update([arg] if isinstance(arg, str) else arg)
        t0 = time.perf_counter()
        try:
            if traced:
                self.rec.begin_op(trace.UNCLAIMED)
            try:
                out = self.op(h, arg)
            finally:
                if traced:
                    root = self.rec.end_op()
        except Exception as e:  # a failed op is counted, and the loop goes on
            log(traceback.format_exc())
            out = None
            self.attempted += 1
            self.failed += 1
            if len(self.failures) < 5:
                self.failures.append(f"{arg!r}: {e!r}")
        return out, time.perf_counter() - t0, root

    # ---------------------------------------------------------- phases

    def setup(self):
        conf = {
            # no jvmstat file in the system temp dir either
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.work}/tmp -XX:-UsePerfData",
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
        }
        if self.trace:
            self.event_dir = os.path.join(self.work, "eventlog")
            os.makedirs(self.event_dir)
            conf["spark.eventLog.enabled"] = "true"
            conf["spark.eventLog.compress"] = "false"
            conf["spark.eventLog.rolling.enabled"] = "false"
            conf["spark.eventLog.dir"] = "file://" + self.event_dir
        t0 = time.perf_counter()
        self.spark = get_spark(
            app_name="idxbench", master=f"local[{CORES}]", extra_conf=conf
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        warm_python_workers(self.spark, build_path=False)
        self.spark_s = time.perf_counter() - t0
        self.rec = trace.Recorder()
        if self.trace:
            trace.install(self.rec, type(self.spark.range(1)))
        tdf = self.spark.createDataFrame(self.corpus, TRANSCRIPT_SCHEMA_DDL)
        t0 = time.perf_counter()
        self.build_window = (trace.epoch(t0), None)
        engine.build(
            self.spark,
            tdf,
            self.idx_dir,
            # the chunked two-level shape: 2 stage-1 chunks + stage-5 compaction
            IndexBuildConfig(n_segment_chunks=2, chunk_min_convs=0),
            input_desc=f"idxbench-seed{self.args.seed}",
        )
        t1 = time.perf_counter()
        self.build_s = t1 - t0
        self.build_window = (self.build_window[0], trace.epoch(t1))
        # the first op on each fresh handle pays whatever the handle loads
        # lazily (lexicon, block preload, convmap). On `interactive` it is
        # a one-term query, so it loads all of that whatever the seed. The
        # first handle's op also pays the JVM's first touch of the read
        # path, so the median of two is steadier than the first op alone. On
        # `batch` these ops double as warm-up: batch latency keeps falling
        # over the first batches of a process.
        interactive = self.args.workload == "interactive"
        self.load_s, self.cold_ops_s = [], []
        for j in range(N_LOADS):
            t0 = time.perf_counter()
            h = engine.load(self.spark, self.idx_dir)
            self.load_s.append(time.perf_counter() - t0)
            first = self.shapes[0][j] if interactive else self.stream.next()
            out, dt, _ = self.timed_op(h, first, False)
            self.cold_ops_s.append(dt)
            if out is not None:
                self.verify(out)
        self.cold_s = stats.median(self.cold_ops_s)
        # on `interactive`, one untimed query of each of the other 14
        # template shapes fills the last handle's remaining one-off caches
        # (e.g. the doc universe for NOT)
        for q in [shape[0] for shape in self.shapes[1:]] if interactive else ():
            out, _, _ = self.timed_op(h, q, False)
            if out is not None:
                self.verify(out)
        self.handle = h
        self.index_bytes = {
            name: trace.dir_bytes(os.path.join(self.idx_dir, name))
            for name in ("", "postings", "lexicon", "docs")
        }

    def window(self):
        """The closed loop: back-to-back ops on a warm handle for
        `--seconds`, and for at least MIN_OPS ops, so that the median rests
        on more than a handful of samples when ops are slow (`batch`). With
        tracing, ops are traced in alternating runs, so traced and
        untraced ops see the same mix: runs of 8 on `interactive`, whose
        every 8th op is a phrase, and single ops on `batch`."""

        self.ops: list[Op] = []
        self.answers = []
        self.repeats = self.window_queries = 0
        log_path = os.environ.get("TIRS_KERNEL_TIMELOG", "")
        # the executor decode log also holds the set-up's batches
        log_start = os.path.getsize(log_path) if os.path.exists(log_path) else 0
        deadline = time.perf_counter() + self.args.seconds
        i = 0
        h = self.handle
        run = workload.InteractiveStream.PHRASE_EVERY if self.args.workload == "interactive" else 1
        while time.perf_counter() < deadline or len(self.ops) < MIN_OPS:
            arg = self.stream.next()
            qs = [arg] if isinstance(arg, str) else arg
            self.repeats += sum(q in self.sent for q in qs)
            self.window_queries += len(qs)
            traced = self.trace and (i // run) % 2 == 0
            prune0 = h.__dict__.get("last_prune_stats")
            t_start = time.perf_counter()
            out, dt, root = self.timed_op(h, arg, traced)
            prune = h.__dict__.get("last_prune_stats")
            self.ops.append(Op(
                dt, len(out or ()), root, trace.epoch(t_start), trace.epoch(t_start + dt),
                prune if prune is not prune0 else None,
            ))
            self.answers.append(out)
            i += 1
        self.exec_decode_s = 0.0
        if os.path.exists(log_path):  # per-group executor decode seconds
            with open(log_path) as f:
                f.seek(log_start)
                self.exec_decode_s = sum(float(line.split(",")[2]) for line in f)

    def verify_window(self):
        for out in self.answers:
            if out is not None:
                self.verify(out)

    def check_set(self) -> int:
        """The fixed check set (same queries whatever the run length):
        inexact answers among those that pass the gate."""

        qs = workload.template_queries(self.pools, CHECK_SET, self.args.seed + 7919)
        if self.args.workload == "batch":
            qs = [qs[i : i + BATCH] for i in range(0, len(qs), BATCH)]
        inexact = 0
        for arg in qs:
            out, _, _ = self.timed_op(self.handle, arg, False)
            if out is not None:
                inexact += self.verify(out)[1]
        return inexact

    def ingest_cycle(self) -> dict:
        """add_documents -> refresh_postings -> reload -> one checked op,
        checked against an oracle rebuilt over base + appended turns."""


        added = workload.make_corpus(
            N_ADD_TURNS, self.args.seed, first_conv=self.corpus["conv_id"].nunique()
        )
        adf = self.spark.createDataFrame(added, TRANSCRIPT_SCHEMA_DDL)
        t0 = time.perf_counter()
        incremental.add_documents(self.spark, self.idx_dir, adf)
        t1 = time.perf_counter()
        incremental.refresh_postings(self.spark, self.idx_dir)
        t2 = time.perf_counter()
        self.handle.reload()
        t3 = time.perf_counter()
        out, first_s, _ = self.timed_op(self.handle, self.stream.next(), False)
        oracle = OracleIndex.build(workload.with_doc_ids(pd.concat([self.corpus, added], ignore_index=True)))
        if out is not None:
            self.verify(out, check.Expectations(oracle, K))
        return {
            "add_s": t1 - t0,
            "refresh_s": t2 - t1,
            "reload_s": t3 - t2,
            "turns": len(added),
            "read_after_write_s": (t3 - t2) + first_s,
        }


def end_to_end(b: Bench) -> dict:
    lat = [o.seconds for o in b.ops]
    n_q = sum(o.queries for o in b.ops)
    tail, label, n = stats.tail(lat)
    b.tail_info = {"label": label, "n": n}
    text_bytes = int(b.corpus["text"].str.len().sum())
    return {
        "setup_s": (b.spark_s + b.build_s + stats.median(b.load_s), "s"),
        "op_p50_ms": (1e3 * stats.median(lat), "ms"),
        "op_tail_ms": (1e3 * tail, "ms"),
        "queries_per_s": (n_q / sum(lat), "1/s"),
        "cold_op_s": (b.cold_s, "s"),
        "index_bytes_per_text_byte": (b.index_bytes[""] / text_bytes, "ratio"),
    }


def per_layer(b: Bench, jobs, ingest: dict, inexact: int) -> dict:
    traced = [o for o in b.ops if o.root is not None]
    plain = [o for o in b.ops if o.root is None]
    nt = max(len(traced), 1)
    layer_ms: dict[str, float] = {}
    for o in traced:
        for layer, s in trace.layer_self_times(o.root).items():
            layer_ms[layer] = layer_ms.get(layer, 0.0) + 1e3 * s
    traced_ms = 1e3 * sum(o.seconds for o in traced)
    ms = lambda layer: layer_ms.get(layer, 0.0) / nt  # noqa: E731
    op_jobs = [trace.jobs_within(jobs, o.t0, o.t1) for o in b.ops]
    all_op_jobs = [j for js in op_jobs for j in js]
    n_ops = max(len(b.ops), 1)
    busy = sum(trace.busy_window(js) for js in op_jobs)
    total_blocks = sum(o.prune["blocks_total"] for o in b.ops if o.prune)
    decoded = sum(o.prune["blocks_decoded"] for o in b.ops if o.prune)
    build_jobs = trace.jobs_within(jobs, *b.build_window)
    stages = trace.build_stages(b.idx_dir)

    def per_op(attr):
        return sum(getattr(j, attr) for j in all_op_jobs) / n_ops

    m = {
        "query_parser.parse_ms": (ms("query_parser.parse"), "ms"),
        "normalize.query_ms": (ms("normalize.query"), "ms"),
        "engine.lexicon_ms": (ms("engine.lexicon"), "ms"),
        "engine.block_cache_ms": (ms("engine.block_cache"), "ms"),
        "engine.preload_ms": (ms("engine.preload"), "ms"),
        "engine.id_resolution_ms": (ms("engine.id_resolution"), "ms"),
        "engine.fetch_plan_ms": (ms("engine.fetch_plan"), "ms"),
        "engine.plan_ms": (ms("engine.plan"), "ms"),
        "engine.topk_merge_ms": (ms("engine.topk_merge"), "ms"),
        # the op span minus every wrapped layer: the engine's own glue
        # code, plus whatever a missing wrapper leaves out
        "engine.self_ms": (ms(trace.UNCLAIMED), "ms"),
        "codec.decode_ms": (ms("codec.decode"), "ms"),
        "wand.score_ms": (ms("wand.score"), "ms"),
        "wand.plan_ms": (ms("wand.plan"), "ms"),
        "wand.merge_ms": (ms("wand.merge"), "ms"),
        "spark.wait_ms": (ms("spark.wait"), "ms"),
        "engine.block_fetch_terms": (b.rec.counts.get("block_fetch_terms", 0) / nt, "count"),
        "spark.jobs_per_op": (len(all_op_jobs) / n_ops, "count"),
        "spark.task_s": (per_op("task_s"), "s"),
        "spark.task_cpu_s": (per_op("cpu_s"), "s"),
        "spark.deserialize_s": (per_op("deser_s"), "s"),
        "spark.gc_s": (per_op("gc_s"), "s"),
        "spark.idle_core_s": ((CORES * busy - sum(j.task_busy_s for j in all_op_jobs)) / n_ops, "s"),
        "spark.input_bytes": (per_op("input_bytes"), "bytes"),
        "wand.executor_decode_s": (b.exec_decode_s / n_ops, "s"),
        "wand.blocks_decoded_ratio": (decoded / total_blocks if total_blocks else 0.0, "ratio"),
        "build_turns_per_s": (len(b.corpus) / b.build_s, "1/s"),
        "driver_peak_rss_mb": (b.rss_mb, "MB"),
        **{f"build.stage{i}_s": (stages[f"stage{i}"], "s") for i in range(6)},
        "build.stage_overlap": (stages["overlap"], "ratio"),
        "spark.shuffle_write_bytes": (sum(j.shuffle_write for j in build_jobs), "bytes"),
        "spark.shuffle_read_bytes": (sum(j.shuffle_read for j in build_jobs), "bytes"),
        "incremental.add_s": (ingest["add_s"], "s"),
        "incremental.refresh_s": (ingest["refresh_s"], "s"),
        "engine.reload_s": (ingest["reload_s"], "s"),
        "update_turns_per_s": (ingest["turns"] / (ingest["add_s"] + ingest["refresh_s"]), "1/s"),
        "read_after_write_s": (ingest["read_after_write_s"], "s"),
        **{f"index.{n}_bytes": (b.index_bytes[n], "bytes") for n in ("postings", "lexicon", "docs")},
        "inexact_answers": (inexact, "count"),
        "trace.coverage": (
            1 - layer_ms.get(trace.UNCLAIMED, 0.0) / traced_ms if traced else 0.0, "ratio"
        ),
        "trace.overhead_ratio": (
            stats.median([o.seconds for o in traced]) / stats.median([o.seconds for o in plain])
            if traced and plain else 0.0,
            "ratio",
        ),
    }
    return m


def run(args, work: str) -> dict:
    host0 = host_snapshot()
    t0 = time.perf_counter()
    b = Bench(args, work)
    # the corpus and oracle are the benchmark's, not the engine's: keep the
    # collector from rescanning their ~0.2M objects inside timed ops
    gc.freeze()
    phases = {"inputs": time.perf_counter() - t0}
    rss0 = rss_mb()
    try:
        b.setup()
        phases["setup_and_cold_op"] = time.perf_counter() - t0 - sum(phases.values())
        b.window()
        phases["window"] = time.perf_counter() - t0 - sum(phases.values())
        # driver footprint: the JVM's high-water mark plus what the Python
        # driver grew by after the benchmark's own corpus and oracle existed
        peak_py = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
        rss = {"python_growth": max(peak_py - rss0, 0.0), "jvm_hwm": jvm_hwm_mb(b.spark)}
        b.rss_mb = sum(rss.values())
        b.verify_window()
        inexact, ingest = 0, {}
        if b.trace:
            inexact = b.check_set()
            ingest = b.ingest_cycle()
        result_e2e = None if b.trace else end_to_end(b)
        phases["checks"] = time.perf_counter() - t0 - sum(phases.values())
    finally:
        if getattr(b, "spark", None) is not None:
            stop_spark(b.spark)
    phases["stop"] = time.perf_counter() - t0 - sum(phases.values())
    host1 = host_snapshot()
    busy_run, steal_run = cpu_shares(host0["cpu_times"], host1["cpu_times"])
    record = {
        "workload": args.workload,
        "seed": args.seed,
        **{f"host_{k}": v for k, v in host0.items() if k != "cpu_times"},
        "load1_after": host1["load1"],
        "python_gauge_ms_after": host1["python_gauge_ms"],
        "cpu_busy_during_run": busy_run,
        "steal_during_run": steal_run,
        "corpus_turns": len(b.corpus),
        "corpus_text_bytes": int(b.corpus["text"].str.len().sum()),
        "corpus_digest": workload.corpus_digest(b.corpus),
        "index_total_df": sum(len(d) for d in b.oracle.postings.values()),
        "bulk_preload_max_df": InvertedIndex.BULK_PRELOAD_MAX_DF,
        "spark_s": b.spark_s,
        "build_s": b.build_s,
        "load_s": b.load_s,
        "cold_ops_s": b.cold_ops_s,
        "phases_s": phases,
        "driver_rss_mb": rss,
        "ops": len(b.ops),
        # share of the window's queries that were sent before in the run
        # (the engine caches per-query state, so repeats are faster)
        "repeat_share": b.repeats / max(b.window_queries, 1),
        "op_tail": getattr(b, "tail_info", None),
        "failures": b.failures,
    }
    print(json.dumps(record))
    # load1 lags by a minute (it still holds a previous run), so the
    # warning goes by the CPU busy share sampled at start
    if host0["cpu_busy"] > 0.25 or host0["steal"] > 0.05:
        log(f"WARNING: host is busy at start (cpu {host0['cpu_busy']:.0%}, steal "
            f"{host0['steal']:.1%}, load1 {host0['load1']:.2f}); figures may be contaminated")
    if b.trace:
        jobs = trace.read_event_log(b.event_dir)
        metrics = per_layer(b, jobs, ingest, inexact)
    else:
        metrics = result_e2e
    return {
        "correct": b.failed == 0,
        "attempted": b.attempted,
        "failed": b.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
