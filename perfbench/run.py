"""Benchmark entry point: one workload, one seed, one run.

    python3 perfbench/run.py --workload er_hot_hosts --seed 1 --seconds 10 --trace 0

Run from the root of a source checkout. Load is a closed loop: one
client process runs one job at a time on ``local[<cores>]``. The run
sets up (session, inputs, truth, warm-up jobs), then starts jobs one
after another until ``--seconds`` have passed, checking every job's
output outside its timed region. ``--trace 0`` reports the end-to-end
metrics of BENCHMARK.json; ``--trace 1`` runs the same window and then
one traced job, and reports the per-layer metrics. The last line of
standard output is the result object; the line before it holds the
details (settings, every job's timings and gate values).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback
from statistics import median

T_START = time.perf_counter()
BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)


def host_settings(work: str) -> dict:
    """Engine settings sized to the host it runs on, and every scratch
    location inside the checkout's work dir."""
    cores = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_kb = int(next(ln for ln in f if ln.startswith("MemTotal:")).split()[1])
    # a quarter of RAM, at most 4 GiB: the inputs are tens of MB, and the
    # machine's memory is shared with other tenants
    driver_mb = min(4096, mem_kb // 1024 // 4)
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    env = {
        "SASSY_DRIVER_MEM": f"{driver_mb}m",
        "SASSY_LOCAL_DIR": local,
        "SPARK_LOCAL_DIRS": local,
        "SASSY_SCRATCH_DIR": os.path.join(work, "scratch"),
        "SASSY_WAREHOUSE_DIR": os.path.join(work, "warehouse"),
        # no hsperfdata files in /tmp, neither from the Spark JVM nor
        # from the launcher JVM that spark-submit runs first
        "SASSY_JVM_FLAGS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "SPARK_LAUNCHER_OPTS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "TMPDIR": tmp,
    }
    return {"cores": cores, "host_mem_mb": mem_kb // 1024, "env": env}


def kernel_probe(sample, min_s: float = 1.0) -> dict:
    """Single-process kernel throughput on the workload's own strings:
    banded global distance in scorer-sized chunks, and semiglobal search
    of every pattern against every sampled text."""
    from sassy_spark.kernel import myers

    (a, b, k), (pats, texts) = sample
    order = sorted(range(len(a)), key=lambda i: len(b[i]))
    a = [a[i] for i in order]
    b = [b[i] for i in order]
    k = k[order]
    done, t = 0, time.perf_counter()
    while True:
        for lo in range(0, len(a), 512):
            myers.banded_edit_distances(a[lo:lo + 512], b[lo:lo + 512], k[lo:lo + 512])
        done += len(a)
        banded_s = time.perf_counter() - t
        if banded_s >= min_s or not a:
            break
    lane_p = [p for p in pats for _ in texts]
    lane_t = [x for _ in pats for x in texts]
    lane_mb = sum(len(x) for x in lane_t) / 1e6
    mb, t = 0.0, time.perf_counter()
    while True:
        myers.semiglobal_search(lane_p, lane_t, 3, mode="local_minima")
        mb += lane_mb
        sg_s = time.perf_counter() - t
        if sg_s >= min_s:
            break
    return {
        "kernel.banded.pairs_per_s": done / banded_s if banded_s else 0.0,
        "kernel.semiglobal.mb_per_s": mb / sg_s,
    }


E2E_UNITS = {
    "setup_s": "s", "job_s": "s", "pages_per_s": "1/s",
    "pairs_scored_per_s": "1/s", "search_mb_per_s": "MB/s",
    "pair_f1": "ratio",
}

LAYERS = ("pages", "blocking", "candidates", "scoring", "cluster",
          "checkpoint", "search")

# every per-layer metric, with its unit; a layer a workload does not run
# reports 0 for its metrics
PER_LAYER_UNITS = {
    "pages.gen_s": "s", "pages.rows": "count", "pages.text_mb": "MB",
    "blocking.busy_s": "s", "blocking.keys": "count",
    "blocking.keys_per_page": "ratio", "blocking.overcap_blocks": "count",
    "candidates.busy_s": "s", "candidates.pairs": "count",
    "candidates.pairs_per_page": "ratio", "candidates.shuffle_mb": "MB",
    "scoring.busy_s": "s", "scoring.pairs": "count",
    "scoring.match_ratio": "ratio", "scoring.shuffle_mb": "MB",
    "scoring.kernel_share": "ratio",
    "kernel.banded.pairs_per_s": "1/s", "kernel.semiglobal.mb_per_s": "MB/s",
    "cluster.busy_s": "s", "cluster.edges": "count", "cluster.entities": "count",
    "checkpoint.busy_s": "s", "checkpoint.resume_s": "s",
    "checkpoint.bytes": "bytes", "checkpoint.files": "count",
    "checkpoint.rewritten_on_resume": "count",
    "search.busy_s": "s", "search.matches": "count",
    "search.pattern_text_mb": "MB",
    "trace.overhead_s": "s", "engine.peak_rss_mb": "MB",
    **{f"{n}.{c}": "count" for n in LAYERS for c in ("tasks", "failed_tasks")},
}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size factor (the self-tests use a tiny one)")
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "sassy_spark")):
        print(f"perfbench: no sassy_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, BENCH_DIR)

    work = os.path.join(BENCH_DIR, "_work", f"run-{os.getpid()}")
    host = host_settings(work)
    os.environ.update(host["env"])
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in [os.environ.get("PYTHONPATH")] if p]
    )

    from pyspark import SparkContext

    from sassy_spark import build_spark
    from tracing import Tracer, peak_rss_mb
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    spark = build_spark(
        app_name=f"perfbench-{args.workload}",
        cores=host["cores"],
        extra={"spark.ui.showConsoleProgress": "false"},
    )
    session_s = time.perf_counter() - T_START
    try:
        tr = Tracer(spark.sparkContext)
        wl = WORKLOADS[args.workload](spark, args.seed, args.scale, work)
        with tr.layer("pages", "setup"):
            inputs = wl.prepare()
        gen_s = tr.busy_s("pages")

        jobs: list[dict] = []

        def run_job(phase: str) -> None:
            rec = {"phase": phase, "ok": False}
            try:
                res = wl.job(warmup=phase == "warmup")
                rec.update({k: v for k, v in res.items()
                            if isinstance(v, (int, float))})
                gate = wl.check(res)
                rec.update(gate)
            except Exception:  # noqa: BLE001 — a failed job is counted, not fatal
                traceback.print_exc()
            jobs.append(rec)

        for _ in range(wl.WARMUP_JOBS):
            run_job("warmup")
        setup_s = time.perf_counter() - T_START
        # read now: a long window can push the set-up jobs out of the
        # status store's retention
        tr.wait_for_listeners()
        pages_tasks = tr.tasks("pages")

        deadline = time.perf_counter() + args.seconds
        while True:
            run_job("timed")
            if time.perf_counter() >= deadline:
                break
        timed = [j for j in jobs if j["phase"] == "timed" and j["ok"]]

        if not timed:
            print("perfbench: no timed job passed its gates", file=sys.stderr)
            return 1
        job_s = median([j["job_s"] for j in timed])
        e2e = {
            "setup_s": setup_s,
            "job_s": job_s,
            "pages_per_s": median([j["pages"] / j["job_s"] for j in timed]),
            "pairs_scored_per_s": median([j["pairs"] / j["job_s"] for j in timed]),
            "search_mb_per_s": median([j["text_mb"] / j["job_s"] for j in timed]),
            "pair_f1": median([j["f1"] for j in timed]),
        }
        metrics = {k: (v, E2E_UNITS[k]) for k, v in e2e.items()}

        if args.trace:
            layer = wl.traced(tr)
            job_layers = layer.pop("_job_layers")
            layer.update(kernel_probe(wl.kernel_sample()))
            tr.wait_for_listeners()
            per = dict.fromkeys(PER_LAYER_UNITS, 0.0)
            per.update({"pages.gen_s": gen_s, "pages.rows": inputs["rows"],
                        "pages.text_mb": inputs["text_mb"]})
            for name in LAYERS:
                counts = pages_tasks if name == "pages" else tr.tasks(name)
                per[f"{name}.tasks"] = counts["tasks"]
                per[f"{name}.failed_tasks"] = counts["failed_tasks"]
                if name in ("candidates", "scoring"):
                    per[f"{name}.shuffle_mb"] = counts["shuffle_mb"]
            for name in ("blocking", "candidates", "scoring", "cluster", "search"):
                per[f"{name}.busy_s"] = tr.busy_s(name, "traced")
            per.update(layer)
            rate = per["kernel.banded.pairs_per_s"]
            if per["scoring.pairs"] and rate:
                per["scoring.kernel_share"] = per["scoring.pairs"] / rate / (
                    per["scoring.busy_s"] * host["cores"]
                )
            per["trace.overhead_s"] = (
                sum(tr.busy_s(n, "traced") for n in job_layers) - job_s
            )
            per["engine.peak_rss_mb"] = peak_rss_mb()
            unknown = set(per) - set(PER_LAYER_UNITS)
            if unknown:
                raise KeyError(f"metrics without a unit: {sorted(unknown)}")
            metrics = {k: (float(v), PER_LAYER_UNITS[k]) for k, v in per.items()}
            tr.write(os.path.join(BENCH_DIR, "_work", "spans",
                                  f"{args.workload}-seed{args.seed}.jsonl"))
    finally:
        gateway = SparkContext._gateway
        spark.stop()
        if gateway is not None:
            gateway.shutdown()
            gateway.proc.stdin.close()
            gateway.proc.wait(timeout=60)
        shutil.rmtree(work, ignore_errors=True)

    failed = sum(1 for j in jobs if not j["ok"])
    detail = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "cores": host["cores"], "host_mem_mb": host["host_mem_mb"],
        "engine_mem": host["env"]["SASSY_DRIVER_MEM"],
        "session_s": session_s, "gen_s": gen_s, "setup_s": setup_s,
        "inputs": inputs,
        "timed_jobs": len(timed), "failed_frac": failed / len(jobs),
        "jobs": jobs,
    }
    print(json.dumps(detail))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(jobs),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
