"""One run of a workload, in a fresh process.

Usage: python3 perfbench/worker.py <config.json>

Started by ``perfbench/run.py`` once per run, so every run pays its own
JVM start and no state carries from one run to the next.  The worker
starts Spark, loads the inputs the parent generated (and, for the dedup
queries, warms up with one untimed pass over them), then repeats the
timed unit -- one crawl job, or one pass over the dedup queries -- until
``seconds`` of timed work is measured.  It reads back what the
correctness check needs after each unit, outside its timed window, and
writes one JSON result next to its config.  Set-up is measured from the
moment the parent spawned this process to the start of the first timed
unit, warm-up included.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import statistics
import sys
import time
from contextlib import nullcontext
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

from perfbench.proctree import Sampler  # noqa: E402

DEDUP_QUERIES = ("dedup_jaccard", "dedup_embedding", "embedding_clusters")
CRAWL_TAGS = (
    "crawl.seed", "crawl.round", "crawl.update_bloom",
    "catalog.append.fetched", "catalog.append.seen",
    "catalog.append.frontier", "catalog.append.claimed",
    "catalog.append.metrics", "catalog.rewrite.bloom",
)


def _spark(cfg: dict, name: str, **kw):
    from zeno_spark.session import get_spark

    extra = None
    if cfg["trace"]:
        log_dir = os.path.join(cfg["rep_dir"], "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        extra = {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{log_dir}",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        }
    return get_spark(name, cores=cfg["cores"],
                     shuffle_partitions=cfg["cores"], extra_conf=extra, **kw)


def _window(spans, t0: float, t1: float):
    return [(a, b) for a, b in spans if a >= t0 and b <= t1]


def _round_log(log_path: str) -> tuple[list[float], list[dict]]:
    """(per-round walls, round_end records) from the crawl's own
    round_start/round_end log records."""
    starts, walls, ends = {}, [], []
    with open(log_path) as fh:
        for rec in map(json.loads, fh):
            if rec["event"] == "round_start":
                starts[rec["round"]] = rec["ts"]
            elif rec["event"] == "round_end":
                walls.append(rec["ts"] - starts[rec["round"]])
                ends.append(rec)
    return walls, ends


def _more_units(cfg: dict, units: list[dict]) -> bool:
    """Another timed unit while it brings the measured time nearer to
    ``seconds`` (less than half a unit would be left over otherwise) and
    it still ends before the run's deadline."""
    walls = [u["wall_s"] for u in units]
    if not walls:
        return True
    mean = sum(walls) / len(walls)
    return (sum(walls) + mean / 2 < cfg["seconds"]
            and time.time() + max(walls) < cfg["deadline"])


def run_crawl(cfg: dict, sampler: Sampler) -> dict:
    from pyspark.sql import functions as F

    from zeno_spark.config import CrawlConfig
    from zeno_spark.plans.crawl import CrawlJob

    spark = _spark(cfg, "perfbench_crawl", aqe=False)
    d = cfg["input_dir"]
    pages = spark.read.parquet(f"{d}/pages.parquet")
    links = spark.read.parquet(f"{d}/links.parquet").cache()
    pages.count()
    links.count()
    seeds = spark.read.parquet(f"{d}/seeds.parquet")
    crawl_cfg = CrawlConfig(**cfg["crawl_cfg"])

    # no warm-up: a cold crawl job is what a crawl pays, and a warm-up
    # crawl would cost as much as the timed one without steadying it
    tracer = None
    if cfg["trace"]:
        from perfbench.trace import Tracer

        tracer = Tracer(spark)
        tracer.install_crawl()

    units: list[dict] = []
    t_setup = None
    while _more_units(cfg, units):
        warehouse = os.path.join(cfg["rep_dir"], f"warehouse{len(units)}")
        job = CrawlJob(spark, warehouse, pages, links, crawl_cfg)
        r0 = sampler.read()
        t_setup = t_setup or r0.t
        stats = job.run(seeds=seeds, max_rounds=crawl_cfg.max_rounds)
        r1 = sampler.read()

        round_walls, round_ends = _round_log(
            os.path.join(warehouse, "_logs", "crawl.jsonl"))
        fetched = job.fetched.read().select(
            "round", "url", "type", "hop", "revisit").collect()
        unit = {
            "wall_s": r1.t - r0.t,
            "cpu_s": r1.cpu - r0.cpu,
            "steal_s": r1.steal - r0.steal,
            "peak_rss_mb": max(sampler.peak_pss(r0.t, r1.t), r0.pss,
                               r1.pss) / 1e6,
            "round_walls": round_walls,
            "rounds": [s.__dict__ for s in stats],
            "fetched": [[r.round, r.url, r.type, r.hop] for r in fetched],
            "revisits": [[r.round, r.url] for r in fetched if r.revisit],
            "seen": [r.url for r in job.seen.read().select("url").collect()],
            "payload_mb": (job.metrics.read().agg(F.sum("payload_bytes"))
                           .collect()[0][0] or 0) / 1e6,
            "window": (r0, r1),
            "round_ends": round_ends,
        }
        units.append(unit)
        # the next unit starts from a clean warehouse; this one's state is
        # read back above
        shutil.rmtree(warehouse, ignore_errors=True)
    links.unpersist()
    spark.stop()
    for unit in units:
        r0, r1 = unit.pop("window")
        round_ends = unit.pop("round_ends")
        if tracer is not None:
            unit["layers"] = crawl_layers(cfg, tracer, sampler, unit, r0, r1,
                                          round_ends)
    return {"setup_s": t_setup - cfg["t_spawn"], "warmup_s": 0.0,
            "units": units}


def crawl_layers(cfg, tracer, sampler, unit, r0, r1, round_recs) -> dict:
    """Per-layer metrics of one traced crawl (see perfbench/README.md for
    which end-to-end metric each should move)."""
    from perfbench.trace import fold_event_log

    t0, t1 = r0.t, r1.t

    def wall(name: str) -> float:
        return sum(b - a for a, b in _window(tracer.spans_of(name), t0, t1))

    ev = fold_event_log(os.path.join(cfg["rep_dir"], "eventlog"), t0, t1)
    stats = unit["rounds"]
    scheduled = sum(s["scheduled"] for s in stats)
    discovered = sum(s["discovered"] for s in stats)
    stage_sum = sum(v for r in round_recs for k, v in r.items()
                    if k.startswith("t_"))
    round_spans = _window(tracer.spans_of("crawl.round"), t0, t1)
    jobs_in_rounds = sum(1 for ts, _ in ev["jobs"]
                         if any(a <= ts <= b for a, b in round_spans))
    run_in_window = sum(t[2] for t in ev["tasks"] if t[0] >= t0 and t[1] <= t1)
    layers = {
        "crawl.stage.fetch_s": sum(r.get("t_fetch", 0) for r in round_recs),
        "crawl.stage.sink_commit_s": sum(r.get("t_sink_commit", 0)
                                         for r in round_recs),
        "crawl.stage.state_commit_s": sum(r.get("t_state_commit", 0)
                                          for r in round_recs),
        "crawl.stage.totals_s": sum(r.get("t_totals", 0) for r in round_recs),
        "fetch.python_cpu_s": sampler.python_cpu_in(
            _window(tracer.spans_of("stage.fetch"), t0, t1)),
        "fetch.ok_ratio": (sum(s["fetched_ok"] for s in stats) / scheduled
                           if scheduled else 0.0),
        "fetch.payload_mb": unit["payload_mb"],
        "dedup.keep_ratio": (sum(s["new_after_dedup"] for s in stats)
                             / discovered if discovered else 0.0),
        "crawl.seed_s": wall("crawl.seed"),
        "crawl.update_bloom_s": wall("crawl.update_bloom"),
        "crawl.pending_frontier_s": wall("crawl.pending_frontier"),
        "crawl.plan_build_s": wall("crawl.plan_build"),
        "crawl.round_s": statistics.median(unit["round_walls"]),
        "crawl.stage_gap_s": sum(b - a for a, b in round_spans) - stage_sum,
        "crawl.spark_jobs_per_round": (jobs_in_rounds / len(round_spans)
                                       if round_spans else 0.0),
        "crawl.executor_busy_frac": run_in_window / ((t1 - t0) * cfg["cores"]),
        "catalog.read_s": wall("catalog.read"),
        "catalog.rewrite_s.bloom": wall("catalog.rewrite.bloom"),
    }
    for table in ("fetched", "seen", "frontier", "claimed", "metrics"):
        layers[f"catalog.append_s.{table}"] = wall(f"catalog.append.{table}")
    for tag in CRAWL_TAGS:
        m = ev["tags"].get(tag, {})
        for k in ("run_s", "cpu_s", "gc_s", "shuffle_write_mb", "spill_mb",
                  "jobs"):
            layers[f"spark.{tag}.{k}"] = m.get(k, 0.0)
    layers.update(runtime_layers(ev, r0, r1))
    return layers


def runtime_layers(ev: dict, r0, r1) -> dict:
    tasks = [t for t in ev["tasks"] if t[0] >= r0.t and t[1] <= r1.t]
    return {
        "runtime.jvm_cpu_s": r1.jvm_cpu - r0.jvm_cpu,
        "runtime.python_worker_cpu_s": r1.python_cpu - r0.python_cpu,
        "runtime.driver_cpu_s": r1.driver_cpu - r0.driver_cpu,
        "runtime.executor_run_s": sum(t[2] for t in tasks),
        "runtime.gc_s": sum(t[3] for t in tasks),
    }


def run_dedup(cfg: dict, sampler: Sampler) -> dict:
    import __spark_entry__ as entrymod

    spark = _spark(cfg, "perfbench_dedup")
    qs = entrymod.queries()

    def one_pass(out_dir: str, tracer=None) -> tuple[dict, dict]:
        outputs = {q: os.path.join(out_dir, q) for q in DEDUP_QUERIES}
        walls = {}
        for q in DEDUP_QUERIES:
            t = time.time()
            # building the plan runs jobs too (the iterative operators
            # check convergence eagerly), so the tag spans the call and
            # the write
            with tracer.tagged(f"datapipe.{q}") if tracer else nullcontext():
                qs[q](spark, cfg["input_dir"]).write.mode(
                    "overwrite").parquet(outputs[q])
            walls[q] = time.time() - t
        return walls, outputs

    # warm-up: one untimed pass over the same queries and tables.  A cold
    # pass spends most of its time in JIT and code generation (the JVM
    # burns several times the executors' run time), which swings with
    # whatever else the host runs
    t_warm = time.time()
    one_pass(os.path.join(cfg["rep_dir"], "out", "warmup"))
    warmup_s = time.time() - t_warm

    tracer = None
    if cfg["trace"]:
        from perfbench.trace import Tracer

        tracer = Tracer(spark)
    units: list[dict] = []
    t_setup = None
    while _more_units(cfg, units):
        r0 = sampler.read()
        t_setup = t_setup or r0.t
        walls, outputs = one_pass(
            os.path.join(cfg["rep_dir"], "out", f"pass{len(units)}"), tracer)
        r1 = sampler.read()
        units.append({
            "wall_s": r1.t - r0.t,
            "cpu_s": r1.cpu - r0.cpu,
            "steal_s": r1.steal - r0.steal,
            "peak_rss_mb": max(sampler.peak_pss(r0.t, r1.t), r0.pss,
                               r1.pss) / 1e6,
            "query_walls": walls,
            "outputs": outputs,
            "window": (r0, r1),
        })
    spark.stop()
    for unit in units:
        r0, r1 = unit.pop("window")
        if tracer is not None:
            unit["layers"] = dedup_layers(cfg, unit, r0, r1)
    return {"setup_s": t_setup - cfg["t_spawn"], "warmup_s": warmup_s,
            "units": units}


def dedup_layers(cfg: dict, unit: dict, r0, r1) -> dict:
    import pyarrow.parquet as pq

    from perfbench.trace import fold_event_log

    ev = fold_event_log(os.path.join(cfg["rep_dir"], "eventlog"), r0.t, r1.t)
    layers = runtime_layers(ev, r0, r1)
    for q in DEDUP_QUERIES:
        m = ev["tags"].get(f"datapipe.{q}", {})
        layers[f"datapipe.{q}.wall_s"] = unit["query_walls"][q]
        for k in ("run_s", "cpu_s", "shuffle_write_mb", "spill_mb"):
            layers[f"datapipe.{q}.{k}"] = m.get(k, 0.0)
        layers[f"datapipe.{q}.output_rows"] = sum(
            pq.read_metadata(f).num_rows
            for f in glob.glob(f"{unit['outputs'][q]}/*.parquet"))
    return layers


def main() -> int:
    with open(sys.argv[1]) as fh:
        cfg = json.load(fh)
    run = run_crawl if cfg["workload"].startswith("crawl") else run_dedup
    with Sampler(period=0.1 if cfg["trace"] else 1.0) as sampler:
        out = run(cfg, sampler)
    tmp = os.path.join(cfg["rep_dir"], "result.json.tmp")
    with open(tmp, "w") as fh:
        json.dump(out, fh)
    os.replace(tmp, os.path.join(cfg["rep_dir"], "result.json"))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
