"""Traced run: wrappers around the public calls into each layer, and the
fold of Spark's event log by the tag each wrapper sets.

Each wrapper times its call and, when it owns a tag, sets the Spark job
group as a thread-local property for the length of the call and restores
the caller's afterwards.  PySpark pins each Python thread to a JVM
thread, so a tag set inside a wrapper that runs on one of CrawlJob's
commit-pool threads marks exactly the jobs that call submits; the
innermost wrapper wins.  Nothing in ``zeno_spark`` is edited: the
wrappers replace attributes on its classes and modules in the worker
process only, and only when the run is traced.
"""

from __future__ import annotations

import functools
import glob
import json
import threading
import time
from collections import defaultdict

_GROUP = "spark.jobGroup.id"

# lazy plan builders the round driver calls through plans.crawl's module
# namespace; their summed wall is driver time spent building plans
PLAN_BUILDERS = (
    "apply_admission", "schedulable", "politeness_schedule", "fetch_meta",
    "split_results", "mark_payload_revisits", "attach_sink_payloads",
    "to_fetched_rows", "extract_candidates", "redirect_candidates",
    "sitespecific_candidates", "backoff_retry_rows",
)
DEDUP_BUILDERS = (
    "in_batch_dedupe", "dedupe_against_seen", "merge_bloom_index",
    "build_bloom_index",
)


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[tuple[str, float, float]] = []
        self._lock = threading.Lock()
        self._local = threading.local()

    def _record(self, name: str, t0: float, t1: float) -> None:
        with self._lock:
            self.spans.append((name, t0, t1))

    def wrap(self, owner, attr: str, name, tag: bool = True,
             outermost: str | None = None) -> None:
        """Replace ``owner.attr`` with a timed (and, if ``tag``, job-group
        tagged) call.  ``name`` is a string or a function of the call's
        first argument.  ``outermost`` names a nesting group: only the
        outermost call of that group on a thread is timed."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            label = name(args[0]) if callable(name) else name
            depth_key = outermost or label
            depth = getattr(tracer._local, depth_key, 0)
            if outermost and depth:
                return orig(*args, **kwargs)
            setattr(tracer._local, depth_key, depth + 1)
            prev = tracer.sc.getLocalProperty(_GROUP) if tag else None
            if tag:
                tracer.sc.setLocalProperty(_GROUP, label)
            t0 = time.time()
            try:
                return orig(*args, **kwargs)
            finally:
                t1 = time.time()
                if tag:
                    tracer.sc.setLocalProperty(_GROUP, prev)
                setattr(tracer._local, depth_key, depth)
                tracer._record(label, t0, t1)

        setattr(owner, attr, traced)

    def install_crawl(self) -> None:
        from zeno_spark import catalog
        from zeno_spark.operators import dedup, logfile
        from zeno_spark.plans import crawl

        job = crawl.CrawlJob
        self.wrap(job, "seed", "crawl.seed")
        self.wrap(job, "run_round", "crawl.round")
        self.wrap(job, "pending_frontier", "crawl.pending_frontier", tag=False)
        self.wrap(job, "_update_bloom", "crawl.update_bloom")
        tbl = catalog.SnapshotTable
        self.wrap(tbl, "append", lambda t: f"catalog.append.{t.name}")
        self.wrap(tbl, "rewrite", lambda t: f"catalog.rewrite.{t.name}")
        self.wrap(tbl, "read", "catalog.read", tag=False)
        for fn in PLAN_BUILDERS:
            self.wrap(crawl, fn, "crawl.plan_build", tag=False,
                      outermost="crawl.plan_build")
        for fn in DEDUP_BUILDERS:
            self.wrap(dedup, fn, "crawl.plan_build", tag=False,
                      outermost="crawl.plan_build")
        self._wrap_stage_timer(logfile.StageTimer)

    def _wrap_stage_timer(self, cls) -> None:
        """Record each StageTimer stage as a wall span ``stage.<name>``
        (the round_end record keeps only the summed seconds)."""
        orig = cls.stage
        tracer = self

        @functools.wraps(orig)
        def stage(timer, name):
            inner = orig(timer, name)

            class _Span:
                def __enter__(self):
                    self.t0 = time.time()
                    return inner.__enter__()

                def __exit__(self, *exc):
                    try:
                        return inner.__exit__(*exc)
                    finally:
                        tracer._record(f"stage.{name}", self.t0, time.time())

            return _Span()

        cls.stage = stage

    def tagged(self, label: str):
        """Context manager form for calls the benchmark makes itself."""
        tracer = self

        class _Ctx:
            def __enter__(self):
                self.prev = tracer.sc.getLocalProperty(_GROUP)
                tracer.sc.setLocalProperty(_GROUP, label)
                self.t0 = time.time()

            def __exit__(self, *exc):
                tracer.sc.setLocalProperty(_GROUP, self.prev)
                tracer._record(label, self.t0, time.time())
                return False

        return _Ctx()

    def spans_of(self, name: str) -> list[tuple[float, float]]:
        return [(a, b) for n, a, b in self.spans if n == name]


def fold_event_log(log_dir: str, t0: float = 0.0,
                   t1: float = float("inf")) -> dict:
    """Per-tag task metrics from an uncompressed, non-rolling event log,
    over the jobs submitted in [t0, t1].
    Returns {"tags": {tag: {...}}, "jobs": [(submit_s, tag)], "tasks":
    [(launch_s, finish_s, run_s, gc_s)]}.  A stage is credited to the first job
    that lists it; jobs with no group are tagged ``untagged``."""
    files = glob.glob(f"{log_dir}/*")
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, got {files}")
    stage_tag: dict[int, str] = {}
    jobs: list[tuple[float, str]] = []
    tasks: list[tuple[float, float, float, float]] = []
    tags: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    with open(files[0]) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                submit = ev["Submission Time"] / 1000.0
                if not t0 <= submit <= t1:
                    continue
                tag = (ev.get("Properties") or {}).get(_GROUP) or "untagged"
                jobs.append((submit, tag))
                tags[tag]["jobs"] += 1
                for sid in ev["Stage IDs"]:
                    stage_tag.setdefault(sid, tag)
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics")
                if not m or ev["Stage ID"] not in stage_tag:
                    continue
                t = tags[stage_tag[ev["Stage ID"]]]
                run_s = m["Executor Run Time"] / 1000.0
                gc_s = m["JVM GC Time"] / 1000.0
                t["run_s"] += run_s
                t["cpu_s"] += m["Executor CPU Time"] / 1e9
                t["gc_s"] += gc_s
                t["shuffle_write_mb"] += (
                    m["Shuffle Write Metrics"]["Shuffle Bytes Written"] / 1e6)
                t["spill_mb"] += (m["Memory Bytes Spilled"]
                                  + m["Disk Bytes Spilled"]) / 1e6
                t["tasks"] += 1
                info = ev["Task Info"]
                tasks.append((info["Launch Time"] / 1000.0,
                              info["Finish Time"] / 1000.0, run_s, gc_s))
    return {"tags": {k: dict(v) for k, v in tags.items()},
            "jobs": jobs, "tasks": tasks}
