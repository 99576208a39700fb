"""Repository benchmark: one workload, one seed, closed loop.

Usage:
    python3 perfbench/run.py --workload crawl_wide --seed 1 --seconds 10 --trace 0

Runs the workload in one fresh worker process: set-up (with a warm-up
pass for the dedup queries), then timed units (one crawl job, or one pass over the dedup queries, at
a time, with nothing else running) until at least ``--seconds`` of timed
work is measured.  Then checks every unit's output against the oracle,
prints each metric by name with its unit (medians over the units), and
prints one JSON line last:

    {"correct": true, "attempted": 1, "failed": 0, "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` runs with
the layer wrappers and Spark's event log on and reports the per-layer
metrics, plus the tracing overhead against the untraced runs recorded
in this checkout.  Exits non-zero when a correctness check fails or the
worker does not complete.  Everything it writes goes under perfbench/work/.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
WORK = ROOT / "perfbench" / "work"

WORKLOADS = {
    "crawl_wide": {
        "shape": {"n_pages": 800, "n_hosts": 80, "img_dims": [96, 256]},
        "crawl_cfg": {"max_hops": 4, "per_host_budget": 256,
                      "host_salt_buckets": 8, "bloom_prefilter": True,
                      "max_rounds": 1, "compact_every": 0},
    },
    "dedup_batch": {"shape": {"n_docs": 300, "n_embs": 200}},
}
# operations per timed unit, for attempted/failed
OPS = {"crawl_wide": 1, "dedup_batch": 3}
# metric names and units are defined once, in BENCHMARK.json
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
E2E = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
PER_LAYER = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
# the worker starts no timed unit that could end past this, and is killed
# at it
RUN_DEADLINE_S = 150.0


def box_size() -> tuple[int, int]:
    """(cores, driver memory MB) from this machine: half the cores the
    process may run on, and a quarter of available memory capped at
    2 GB, so the JVM, its Python workers and the OS page cache fit on a
    machine shared with other work.  The other half is for what runs
    beside the task threads -- the driver, the JVM's JIT and GC threads,
    the Python UDF workers: on a 4-vCPU VM, local[4] made the crawl
    slower than local[2] (wall 39.0 vs 33.5 s, CPU 129 vs 106 s,
    medians of six interleaved runs each): it measured the scheduler."""
    cores = max(1, len(os.sched_getaffinity(0)) // 2)
    avail_kb = 0
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemAvailable:"):
                avail_kb = int(line.split()[1])
    mem_mb = max(1024, min(2048, avail_kb // 4096))
    return cores, mem_mb


def program_present() -> bool:
    return ((ROOT / "zeno_spark" / "plans" / "crawl.py").is_file()
            and (ROOT / "__spark_entry__.py").is_file())


def spawn_worker(cfg: dict, timeout: float, mem_mb: int) -> dict | None:
    """Run the worker; None if it failed, was killed or timed out (the
    run then reports no result and is never retried)."""
    rep_dir = Path(cfg["rep_dir"])
    rep_dir.mkdir(parents=True)
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in [env.get("PYTHONPATH")] if p])
    env["PYSPARK_PYTHON"] = sys.executable
    env["ZENO_DRIVER_MEM"] = f"{mem_mb}m"
    # keep every scratch file of the JVM and the Python workers inside
    # the run directory
    tmp = rep_dir / "tmp"
    tmp.mkdir()
    env["SPARK_LOCAL_DIRS"] = str(rep_dir / "spark-local")
    env["TMPDIR"] = str(tmp)
    env["SPARK_SUBMIT_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    cfg["t_spawn"] = time.time()
    (rep_dir / "config.json").write_text(json.dumps(cfg))
    with open(rep_dir / "worker.log", "w") as log:
        proc = subprocess.Popen(
            [sys.executable, str(ROOT / "perfbench" / "worker.py"),
             str(rep_dir / "config.json")],
            cwd=rep_dir, env=env, stdout=log, stderr=subprocess.STDOUT,
            start_new_session=True)
        try:
            rc = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            rc = None
        finally:
            # the JVM and its Python workers share the worker's session
            try:
                os.killpg(proc.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            proc.wait()
    result = rep_dir / "result.json"
    if rc != 0 or not result.exists():
        print(f"worker failed (rc={rc}); log: {rep_dir / 'worker.log'}")
        return None
    return json.loads(result.read_text())


def e2e_metrics(workload: str, result: dict) -> tuple[dict, dict]:
    """(metric -> value, metric -> note): set-up once per run, every other
    metric the median over the run's timed units."""
    shape = WORKLOADS[workload]["shape"]
    units = result["units"]
    per_unit = {k: [u[k] for u in units]
                for k in ("wall_s", "peak_rss_mb", "cpu_s")}
    per_unit["pages_per_s"] = []
    for u in units:
        if workload == "dedup_batch":
            # each document is read by the jaccard query and each
            # embedding by both embedding queries
            pages = shape["n_docs"] + 2 * shape["n_embs"]
        else:
            pages = sum(s["fetched_ok"] for s in u["rounds"])
        per_unit["pages_per_s"].append(pages / u["wall_s"])
    values = {k: statistics.median(v) for k, v in per_unit.items()}
    unit = "crawl" if workload != "dedup_batch" else "query pass"
    notes = {k: f"median of {len(v)} {unit}(s), max {max(v):.4g}"
             for k, v in per_unit.items()}
    values["setup_s"] = result["setup_s"]
    notes["setup_s"] = f"incl. warm-up {result['warmup_s']:.2f} s"
    return values, notes


def check(workload: str, seed: int, input_dir: str, units: list[dict]) -> list[str]:
    from perfbench import checks

    if workload == "dedup_batch":
        return [e for u in units
                for e in checks.check_queries(input_dir, u["outputs"])]
    wl = WORKLOADS[workload]
    oracle = checks.crawl_oracle_answer(input_dir, seed, wl["shape"],
                                        wl["crawl_cfg"])
    return [e for u in units for e in checks.check_crawl(u, oracle)]


def overhead_lines(workload: str, seed: int, traced: dict) -> list[str]:
    """Traced minus untraced end-to-end metrics, against the untraced
    run of the same seed recorded in this checkout, else the median of
    all recorded untraced runs of the workload."""
    path = WORK / "results" / f"{workload}.jsonl"
    runs = []
    if path.exists():
        runs = [json.loads(line) for line in path.read_text().splitlines()]
    if not runs:
        return ["tracing overhead: no untraced run of this workload is "
                "recorded in this checkout; run with --trace 0 first"]
    same = [r for r in runs if r["seed"] == seed]
    base_runs, basis = ((same[-1:], f"untraced run of seed {seed}") if same
                        else (runs, f"median of {len(runs)} untraced runs"))
    lines = [f"tracing overhead (traced - untraced, vs {basis}):"]
    for name, unit in E2E.items():
        base = statistics.median(r["metrics"][name] for r in base_runs)
        diff = traced[name] - base
        lines.append(f"  {name:<14} {traced[name]:12.4f} - {base:12.4f} "
                     f"= {diff:+.4f} {unit} ({diff / base:+.1%})")
    return lines


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a terminated run still kills its worker's process group (see
    # spawn_worker's finally)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not program_present():
        print(f"zeno_spark is not in {ROOT}; nothing to measure",
              file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    from perfbench import inputs

    t_start = time.time()
    wl = WORKLOADS[args.workload]
    cores, mem_mb = box_size()
    base_cfg = {"workload": args.workload, "seed": args.seed,
                "shape": wl["shape"], "trace": args.trace, "cores": cores,
                "gen_s": 0.0}
    if args.workload == "dedup_batch":
        input_dir, base_cfg["gen_s"] = inputs.prepare_dedup_tables(
            str(WORK), wl["shape"])
    else:
        input_dir, base_cfg["gen_s"] = inputs.prepare_crawl_corpus(
            str(WORK), args.seed, wl["shape"], n_files=cores)
        base_cfg["crawl_cfg"] = wl["crawl_cfg"]
    base_cfg["input_dir"] = input_dir

    run_dir = WORK / "runs" / args.workload
    shutil.rmtree(run_dir, ignore_errors=True)
    cfg = dict(base_cfg, rep_dir=str(run_dir), seconds=args.seconds,
               deadline=t_start + RUN_DEADLINE_S)
    result = spawn_worker(
        cfg, timeout=max(RUN_DEADLINE_S - (time.time() - t_start), 10.0),
        mem_mb=mem_mb)
    if result is None:
        return 1
    units = result["units"]
    attempted = OPS[args.workload] * len(units)
    failed = 0

    errors = check(args.workload, args.seed, input_dir, units)
    correct = not errors
    print(f"workload {args.workload}  seed {args.seed}  local[{cores}]  "
          f"driver {mem_mb} MB  timed units {len(units)}  "
          f"input generation {base_cfg['gen_s']:.2f} s (not a metric)")
    for e in errors:
        print(f"CORRECTNESS MISMATCH  {e}")
    values, notes = e2e_metrics(args.workload, result)
    # step walls are context: a run has one crawl round or three
    # different queries per unit, too few for a median or a tail
    if args.workload == "dedup_batch":
        for q in units[0]["query_walls"]:
            walls = [u["query_walls"][q] for u in units]
            print(f"  query {q:<22} {statistics.median(walls):10.4f} s")
    else:
        walls = [w for u in units for w in u["round_walls"]]
        print(f"  round walls (n={len(walls)}) "
              + " ".join(f"{w:.4f}" for w in walls) + " s")
    print(f"failed_frac {failed}/{attempted}  cpu steal during timed work "
          f"{statistics.median(u['steal_s'] for u in units):.2f} s "
          f"(machine-wide, context only)")
    for name, unit in E2E.items():
        print(f"  {name:<14} {values[name]:12.4f} {unit:<5} {notes[name]}")

    if args.trace:
        print("per-layer metrics (traced run; 0 where the workload does "
              "not run the layer):")
        undeclared = set(units[0]["layers"]) - set(PER_LAYER)
        if undeclared:
            raise SystemExit(f"metrics missing from BENCHMARK.json: "
                             f"{sorted(undeclared)}")
        metrics = {}
        for name, unit in PER_LAYER.items():
            ran = name in units[0]["layers"]
            value = (statistics.median(u["layers"][name] for u in units)
                     if ran else 0.0)
            metrics[name] = {"value": value, "unit": unit}
            print(f"  {name:<44} {value:14.4f} {unit:<5}"
                  f"{'' if ran else ' (not run)'}")
        for line in overhead_lines(args.workload, args.seed, values):
            print(line)
    else:
        results = WORK / "results"
        results.mkdir(parents=True, exist_ok=True)
        with open(results / f"{args.workload}.jsonl", "a") as fh:
            fh.write(json.dumps({"seed": args.seed, "metrics": values}) + "\n")
        metrics = {name: {"value": values[name], "unit": unit}
                   for name, unit in E2E.items()}
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    raise SystemExit(main())
