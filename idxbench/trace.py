"""Per-layer tracing from outside the engine.

Spans are recorded by wrapping the engine's module-level functions and
methods at layer boundaries (the engine itself is not instrumented).
Each wrapper checks `Recorder.active`, so the same process can time ops
with tracing on and off and report the overhead. What the program leaves
behind anyway is read after the run: the Spark event log (task metrics,
jobs), the build manifests and the index files.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import threading
import time
from dataclasses import dataclass, field

# label of an op's root span: its self time is the part of the op that
# no wrapped layer claimed
UNCLAIMED = "op"

# epoch seconds = perf_counter() + _EPOCH, so spans line up with the
# millisecond timestamps of the Spark event log
_EPOCH = time.time() - time.perf_counter()


@dataclass
class Span:
    layer: str
    t0: float
    t1: float = 0.0
    children: list = field(default_factory=list)


def covered(intervals) -> float:
    """Length of the union of (start, end) intervals: overlapping parts
    count once."""
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        a = max(a, end)
        if b > a:
            total += b - a
            end = b
    return total


def self_time(span: Span) -> float:
    """Span duration minus the part of it covered by its children
    (children may overlap each other, e.g. threads)."""
    return (span.t1 - span.t0) - covered(
        (max(c.t0, span.t0), min(c.t1, span.t1)) for c in span.children
    )


class Recorder:
    """Span trees per op. `begin_op()` opens the root span, whose self
    time is what no wrapped layer claimed; wrapped calls nest
    under the innermost open span of their thread, or under the root when
    they run on another thread (the build's stage thread pool)."""

    def __init__(self):
        self.active = False
        self.ops: list[Span] = []
        self.counts: dict[str, float] = {}
        self._root: Span | None = None
        self._local = threading.local()

    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def start(self, layer: str) -> Span:
        st = self._stack()
        parent = st[-1] if st else self._root
        s = Span(layer, time.perf_counter())
        if parent is not None:
            parent.children.append(s)
        st.append(s)
        return s

    def end(self, s: Span) -> None:
        s.t1 = time.perf_counter()
        self._stack().pop()

    def begin_op(self, layer: str) -> Span:
        self._root = self.start(layer)
        self.active = True
        return self._root

    def end_op(self) -> Span:
        self.active = False
        root, self._root = self._root, None
        self.end(root)
        self.ops.append(root)
        return root

    def count(self, name: str, n: float) -> None:
        if self.active:
            self.counts[name] = self.counts.get(name, 0) + n


def layer_self_times(root: Span) -> dict[str, float]:
    out: dict[str, float] = {}
    stack = [root]
    while stack:
        s = stack.pop()
        out[s.layer] = out.get(s.layer, 0.0) + self_time(s)
        stack.extend(s.children)
    return out


def epoch(t: float) -> float:
    return t + _EPOCH


def wrap(rec: Recorder, owner, name: str, layer: str, counter=None) -> None:
    """Replace `owner.name` by a span-recording wrapper; `counter(args,
    kwargs)` optionally returns (count name, amount)."""
    fn = getattr(owner, name)

    @functools.wraps(fn)
    def traced(*args, **kwargs):
        if not rec.active:
            return fn(*args, **kwargs)
        if counter is not None:
            rec.count(*counter(args, kwargs))
        s = rec.start(layer)
        try:
            return fn(*args, **kwargs)
        finally:
            rec.end(s)

    setattr(owner, name, traced)


def install(rec: Recorder, dataframe_cls) -> None:
    """Wrap the layer boundaries the engine's query paths cross."""
    from text_indexing_and_retrieval_system_spark import engine
    from text_indexing_and_retrieval_system_spark.functions import codec, normalize
    from text_indexing_and_retrieval_system_spark.operators import query_parser, wand

    wrap(rec, query_parser, "parse", "query_parser.parse")
    for mod in (normalize, engine):  # engine imported the name directly
        wrap(rec, mod, "normalize_query_terms", "normalize.query")
    wrap(rec, normalize, "prime_query_norm_cache", "normalize.query")
    ix = engine.InvertedIndex
    wrap(rec, ix, "lexicon_for", "engine.lexicon")
    wrap(rec, ix, "_blocks_pdf_for", "engine.block_cache")
    wrap(rec, ix, "_maybe_bulk_load_blocks", "engine.preload")
    wrap(rec, ix, "_doc_ids_for", "engine.id_resolution")
    wrap(  # builds the fetch plan and counts the terms sent
        rec, ix, "blocks_for", "engine.fetch_plan",
        counter=lambda a, kw: ("block_fetch_terms", len(a[1])),
    )
    # query planning: scoring terms, strategy choice, per-term idf
    # metadata and the normalized boolean tree
    for name in ("_query_tokens", "_resolve_strategy", "_term_meta"):
        wrap(rec, ix, name, "engine.plan")
    wrap(rec, wand, "normalize_tree", "engine.plan")
    # driver top-k cut plus the doc id lookup nested in it
    wrap(rec, ix, "_finalize_topk", "engine.topk_merge")
    for name in ("unpack_postings", "unpack_postings_batch", "unpack_positions"):
        wrap(rec, codec, name, "codec.decode")
    for name in ("score_bucket_pruned", "boolean_score_bucket"):
        wrap(rec, wand, name, "wand.score")
    for name in ("topk_disjunctive", "topk_disjunctive_batch", "boolean_topk"):
        wrap(rec, wand, name, "wand.plan")
    for name in ("merge_query_topk_driver", "merge_query_topk"):
        wrap(rec, wand, name, "wand.merge")
    # every driver-side Spark action the engine takes goes through these
    for name in ("toPandas", "collect", "count"):
        wrap(rec, dataframe_cls, name, "spark.wait")


# ------------------------------------------------------------------ spark


@dataclass
class JobStats:
    t0: float  # epoch seconds
    t1: float
    task_s: float = 0.0
    cpu_s: float = 0.0
    deser_s: float = 0.0
    gc_s: float = 0.0
    input_bytes: int = 0
    shuffle_read: int = 0
    shuffle_write: int = 0
    task_busy_s: float = 0.0


def read_event_log(log_dir: str) -> list[JobStats]:
    """Jobs with their task metrics, from a Spark event log directory."""
    files = sorted(p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p))
    jobs: dict[int, JobStats] = {}
    stage_job: dict[int, int] = {}
    tasks: list[dict] = []
    for path in files:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jobs[ev["Job ID"]] = JobStats(ev["Submission Time"] / 1e3, 0.0)
                    for sid in ev["Stage IDs"]:
                        stage_job[sid] = ev["Job ID"]
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]].t1 = ev["Completion Time"] / 1e3
                elif kind == "SparkListenerTaskEnd":
                    tasks.append(ev)
    for ev in tasks:
        j = jobs.get(stage_job.get(ev.get("Stage ID")))
        m = ev.get("Task Metrics") or {}
        info = ev.get("Task Info") or {}
        if j is None or not m:
            continue
        j.task_s += m.get("Executor Run Time", 0) / 1e3
        j.cpu_s += m.get("Executor CPU Time", 0) / 1e9
        j.deser_s += m.get("Executor Deserialize Time", 0) / 1e3
        j.gc_s += m.get("JVM GC Time", 0) / 1e3
        j.input_bytes += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
        sr = m.get("Shuffle Read Metrics") or {}
        j.shuffle_read += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
        j.shuffle_write += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
        j.task_busy_s += max(info.get("Finish Time", 0) - info.get("Launch Time", 0), 0) / 1e3
    return [j for j in jobs.values() if j.t1 > 0]


def jobs_within(jobs: list[JobStats], t0: float, t1: float) -> list[JobStats]:
    """Jobs submitted inside the epoch window [t0, t1]."""
    return [j for j in jobs if t0 <= j.t0 <= t1]


def busy_window(jobs: list[JobStats]) -> float:
    """Wall seconds during which at least one of `jobs` ran."""
    return covered((j.t0, j.t1) for j in jobs)


# ------------------------------------------------------------ build/index


def build_stages(index_dir: str) -> dict[str, float]:
    """Per-stage seconds summed over chunks, and the overlap factor
    (stage seconds over build wall; >1 when stages ran concurrently),
    from the build's `_manifests/*.json`."""
    out = {f"stage{i}": 0.0 for i in range(6)}
    wall = None
    for path in glob.glob(os.path.join(index_dir, "_manifests", "*.json")):
        with open(path) as f:
            m = json.load(f)
        unit = m.get("unit", "")
        if unit == "build":
            wall = m.get("seconds_total")
        elif unit.startswith("stage") and unit[5:6].isdigit():
            out[f"stage{unit[5]}"] += float(m.get("seconds", 0.0))
    out["overlap"] = sum(out.values()) / wall if wall else 0.0
    return out


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    return total
