"""Job-level profile of run_dedup via Spark event logs — and, when run
at two parallelism levels, the COMPUTED executor-scaling counterfactual.

Runs the EXACT bench workload (warm-up + timed warm run of
``dedup.pipeline.run_dedup``) with ``spark.eventLog.enabled``, then
parses the event log to report, for every Spark job of the timed run:
wall clock, summed task time, effective parallelism (task_time / wall),
and the driver-side gap since the previous job. Jobs whose effective
parallelism is far below the core count — and the gaps — are the
non-scaling time that caps the local[8] → local[32] efficiency.

Counterfactual (round-3 verdict item 1a, now a reproducible artifact
instead of prose): on ONE shared-memory VM every added local core
shares the same DRAM channels, so per-phase task-seconds INFLATE with
the core count on identical work — that inflation is a property of the
host, not of the plan. N → 4N *executors* on a real cluster each bring
their own sockets and memory channels, so the executor-scaling model
holds per-phase task-seconds at their low-core (least-contended) values:

    T_model(hi) = task_sum(lo) / hi_cores + overhead(hi)
    eff_cf      = T_warm(lo) / (T_model(hi) * hi_cores / lo_cores)

where overhead(hi) is the measured low-occupancy driver/serial time of
the hi-core run (occupancy bins at <= hi/4 concurrent tasks — time NOT
explained by task work, which the model already counts). Both the
measured local efficiency and the counterfactual are emitted; --json
writes the whole thing (inputs included) as an artifact that bench.py
embeds in the per-round bench line.

Usage: python BENCH/profile_jobs.py [--n-docs 500000] [--cores 4,16]
       [--json BENCH/counterfactual.json]
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def run(cores: int, path: str, evdir: str, warm_runs: int = 1) -> list:
    from dedup.config import DEFAULT_CONFIG
    from dedup.pipeline import run_dedup
    from dedup.session import get_spark

    spark = get_spark(
        app_name=f"profile-jobs-{cores}",
        master=f"local[{cores}]",
        shuffle_partitions=64,
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{evdir}",
        },
    )

    def once():
        from dedup.pipeline import job_desc

        pages = spark.read.parquet(path)
        t0 = time.perf_counter()
        res = run_dedup(pages, DEFAULT_CONFIG)
        with job_desc(spark, "dedup: clusters distinct (harness)"):
            res.clusters.select("cluster_id").distinct().count()
        dt = time.perf_counter() - t0
        for df in (res.docs, res.signatures, res.edges):
            df.unpersist()
        spark.catalog.clearCache()
        return dt

    once()  # warm-up
    spark.sparkContext._jvm.System.gc()  # reclaim warm-up shuffle files
    time.sleep(2)
    # BEST-OF-N warm draws (same discipline as bench.py): the shared VM
    # swings ±2× run-to-run; each draw gets its own t_mark so parse()
    # can slice the event log per draw and keep only the best one's jobs
    draws = []
    for _ in range(warm_runs):
        t_mark = time.time() * 1000  # ms epoch: this draw's job window
        warm = once()
        draws.append((t_mark, warm))
        spark.sparkContext._jvm.System.gc()
        time.sleep(1)
    spark.stop()
    return draws


def _event_files(evdir: str) -> list[str]:
    """Spark 4 rolling logs are DIRECTORIES (eventlog_v2_*/events_*);
    single-file logs also occur. Return all event files, oldest first."""
    out = []
    for p in sorted(glob.glob(os.path.join(evdir, "*")), key=os.path.getmtime):
        if os.path.isdir(p):
            out.extend(
                sorted(glob.glob(os.path.join(p, "events_*")), key=os.path.getmtime)
            )
        elif os.path.basename(p).startswith((".", "appstatus")):
            continue
        else:
            out.append(p)
    return out


def _open_events(path: str):
    """Event files may be zstd-compressed (rolling log default). Use
    pyarrow's bundled zstd (no `zstd` binary on this host)."""
    if path.endswith(".zstd"):
        import io

        import pyarrow as pa

        with pa.input_stream(path, compression="zstd") as s:
            return io.StringIO(s.read().decode())
    return open(path)


def parse(
    evdir: str, t_mark: float, cores: int, warm: float, t_end: float = float("inf")
) -> dict:
    logs = _event_files(evdir)
    jobs: dict[int, dict] = {}
    stage_names: dict[int, str] = {}
    task_time: dict[int, float] = {}  # per stage, ms
    stage_metrics: dict[int, dict] = {}  # per stage: cpu/gc/shufW ms, bytes
    stage_jobs: dict[int, int] = {}
    task_spans: list[tuple[float, float]] = []  # (launch_ms, finish_ms)
    def lines():
        for p in logs:
            with _open_events(p) as f:
                yield from f

    for line in lines():
        if True:
            try:
                ev = json.loads(line)
            except json.JSONDecodeError:
                continue
            e = ev.get("Event")
            if e == "SparkListenerJobStart":
                jid = ev["Job ID"]
                jobs[jid] = {
                    "start": ev["Submission Time"],
                    "desc": (ev.get("Properties") or {}).get(
                        "spark.job.description", ""
                    )[:90],
                    "stages": [s["Stage ID"] for s in ev["Stage Infos"]],
                }
                for s in ev["Stage Infos"]:
                    stage_names[s["Stage ID"]] = s["Stage Name"].split("\n")[0][:70]
                    stage_jobs[s["Stage ID"]] = jid
            elif e == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["end"] = ev["Completion Time"]
            elif e == "SparkListenerTaskEnd":
                sid = ev["Stage ID"]
                info = ev.get("Task Info", {})
                task_time[sid] = task_time.get(sid, 0.0) + (
                    info.get("Finish Time", 0) - info.get("Launch Time", 0)
                )
                task_spans.append(
                    (info.get("Launch Time", 0), info.get("Finish Time", 0))
                )
                m = ev.get("Task Metrics") or {}
                d = stage_metrics.setdefault(
                    sid, dict(cpu=0.0, gc=0.0, sw=0.0, sw_b=0, sr_b=0)
                )
                d["cpu"] += m.get("Executor CPU Time", 0) / 1e6
                d["gc"] += m.get("JVM GC Time", 0)
                d["sw"] += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Write Time", 0
                ) / 1e6
                d["sw_b"] += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                )
                sr = m.get("Shuffle Read Metrics") or {}
                d["sr_b"] += sr.get("Local Bytes Read", 0) + sr.get(
                    "Remote Bytes Read", 0
                )

    timed = {
        j: v
        for j, v in jobs.items()
        if t_mark <= v.get("start", 0) < t_end and "end" in v
    }
    print(f"\n=== cores={cores} warm_total={warm:.1f}s  jobs(timed run)={len(timed)}")

    # --- per-description rollup (descriptions set by dedup.pipeline) ---
    by_desc: dict[str, list] = {}
    for jid, v in sorted(timed.items()):
        d = v["desc"] or "(none)"
        wall = (v["end"] - v["start"]) / 1000
        tt = sum(task_time.get(s, 0.0) for s in v["stages"]) / 1000
        by_desc.setdefault(d, [0.0, 0.0, 0, dict(cpu=0.0, gc=0.0, sw=0.0, sw_b=0, sr_b=0)])
        by_desc[d][0] += wall
        by_desc[d][1] += tt
        by_desc[d][2] += 1
        for s in v["stages"]:
            if s in stage_metrics:
                for k, val in stage_metrics[s].items():
                    by_desc[d][3][k] += val
    for d, (wall, tt, n, m) in sorted(by_desc.items(), key=lambda kv: -kv[1][0]):
        # "other" = task time neither on JVM CPU, in GC, nor writing
        # shuffle — for mapInArrow stages that is Python-worker time; for
        # joins it is shuffle-fetch/spill/lock waiting. The split is what
        # distinguishes bandwidth saturation from idle cores.
        other = tt - (m["cpu"] + m["gc"] + m["sw"]) / 1000
        print(
            f"  {wall:7.2f}s wall  {tt:8.1f}s task∑  par {tt/max(wall,.01):5.1f}  "
            f"jobs {n:3d}  [cpu {m['cpu']/1000:6.1f}s gc {m['gc']/1000:5.1f}s "
            f"shufW {m['sw']/1000:5.1f}s other {other:6.1f}s "
            f"shW {m['sw_b']/1e9:5.2f}GB shR {m['sr_b']/1e9:5.2f}GB]  {d}"
        )

    # --- unlabeled jobs: name them by callsite so "(none)" rollup rows
    # are attributable (open-thread item: ~3 task-s of unlabeled work) ---
    unl = [(jid, v) for jid, v in sorted(timed.items()) if not v["desc"]]
    if unl:
        print("  unlabeled jobs (stage callsites):")
        for jid, v in unl:
            names = {stage_names.get(s, "?") for s in v["stages"]}
            tt = sum(task_time.get(s, 0.0) for s in v["stages"]) / 1000
            print(f"    job {jid}: {tt:6.1f}s task∑  {sorted(names)}")

    # --- core-occupancy timeline over the timed run: the time spent at
    # ≤1 running task is the true serial (Amdahl) component ---
    t0 = min(v["start"] for v in timed.values())
    t1 = max(v["end"] for v in timed.values())
    span = (t1 - t0) / 1000
    n_bins = max(int(span * 10), 1)
    occ = [0.0] * n_bins
    for ls, fs in task_spans:
        if fs <= t0 or ls >= t1:
            continue
        b0 = max(int((ls - t0) / 1000 * 10), 0)
        b1 = min(int((fs - t0) / 1000 * 10), n_bins - 1)
        for b in range(b0, b1 + 1):
            occ[b] += 1
    idle = sum(1 for o in occ if o < 0.5) / 10
    serial = sum(1 for o in occ if 0.5 <= o <= 1.5) / 10
    low = sum(1 for o in occ if 1.5 < o <= cores / 4) / 10
    mid = sum(1 for o in occ if cores / 4 < o <= cores * 0.75) / 10
    full = sum(1 for o in occ if o > cores * 0.75) / 10
    print(
        f"--- span={span:.1f}s  occupancy: idle(<1 task)={idle:.1f}s  "
        f"serial(~1)={serial:.1f}s  low(≤{cores//4})={low:.1f}s  "
        f"mid={mid:.1f}s  full(>{int(cores*0.75)})={full:.1f}s"
    )
    return {
        "cores": cores,
        "warm_s": round(warm, 2),
        "span_s": round(span, 1),
        "task_sum_s": round(sum(v[1] for v in by_desc.values()), 1),
        "phases": {
            d: {"wall_s": round(w, 2), "task_s": round(tt, 1)}
            for d, (w, tt, n, m) in by_desc.items()
        },
        "occupancy_s": {
            "idle": round(idle, 1), "serial": round(serial, 1),
            "low": round(low, 1), "mid": round(mid, 1), "full": round(full, 1),
        },
    }


def counterfactual(lo: dict, hi: dict) -> dict:
    """Executor-scaling model from two same-session profile runs (see
    module docstring): measured local efficiency vs the efficiency with
    per-phase task-seconds held at their lo-core values — what N → 4N
    executors (each with its own DRAM channels) deliver."""
    ratio = hi["cores"] / lo["cores"]
    measured = lo["warm_s"] / (hi["warm_s"] * ratio)
    occ = hi["occupancy_s"]
    # the overhead term is a BRACKET, not a point: low-occupancy bins
    # (2..cores/4 running tasks) are partially parallel — charging them
    # entirely as overhead double-counts their task work (conservative,
    # lower bound on efficiency); ignoring their idleness undercounts
    # the driver/straggler tail (optimistic, upper bound). The true
    # executor-scaling value lies between.
    oh_cons = occ["idle"] + occ["serial"] + occ["low"]
    oh_opt = occ["idle"] + occ["serial"]

    def eff(overhead: float) -> tuple[float, float]:
        t_model = lo["task_sum_s"] / hi["cores"] + overhead
        return round(lo["warm_s"] / (t_model * ratio), 3), round(t_model, 2)

    cf_cons, tm_cons = eff(oh_cons)
    cf_opt, tm_opt = eff(oh_opt)
    inflation = {
        d: round(hi["phases"][d]["task_s"] / p["task_s"], 2)
        for d, p in lo["phases"].items()
        if d in hi["phases"] and p["task_s"] > 1.0
    }
    return {
        "pair": f"local[{lo['cores']}]->local[{hi['cores']}]",
        "measured_efficiency": round(measured, 3),
        "counterfactual_efficiency": cf_cons,
        "counterfactual_efficiency_optimistic": cf_opt,
        "model": {
            "t_lo_warm_s": lo["warm_s"],
            "t_hi_warm_s": hi["warm_s"],
            "task_sum_lo_s": lo["task_sum_s"],
            "task_sum_hi_s": hi["task_sum_s"],
            "overhead_hi_s": round(oh_cons, 1),
            "overhead_hi_opt_s": round(oh_opt, 1),
            "t_hi_model_s": tm_cons,
            "t_hi_model_opt_s": tm_opt,
        },
        "phase_task_inflation": inflation,
    }


def _host_probe() -> dict:
    """Same-day host evidence (CLAUDE.md protocol): touched-buffer
    memcpy (< 20 ms = healthy window) + loadavg."""
    import numpy as np

    a = np.ones(64 * 1024 * 1024 // 8, dtype=np.float64)
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        a.copy()
        best = min(best, time.perf_counter() - t0)
    return {
        "memcpy_ms": round(best * 1000, 1),
        "load1": round(os.getloadavg()[0], 1),
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--n-docs", type=int, default=500_000)
    ap.add_argument("--cores", default="32")
    ap.add_argument("--json", help="write results (+ counterfactual when 2 levels) here")
    ap.add_argument("--warm-runs", type=int, default=1)
    args = ap.parse_args()
    path = os.path.join("/tmp", f"bench_pages_{args.n_docs}")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        # /tmp is cleared between sessions — regenerate the cached corpus
        sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
        from bench_scaling import make_input

        make_input(args.n_docs)
    probe_before = _host_probe()
    results = []
    for c in args.cores.split(","):
        evdir = f"/tmp/spark-events-{c}"
        if os.path.isdir(evdir):
            import shutil

            shutil.rmtree(evdir)
        os.makedirs(evdir)
        draws = run(int(c), path, evdir, warm_runs=args.warm_runs)
        bounds = [m for m, _ in draws[1:]] + [float("inf")]
        parsed = [
            parse(evdir, m, int(c), w, t_end=e)
            for (m, w), e in zip(draws, bounds)
        ]
        best = min(parsed, key=lambda r: r["warm_s"])
        best["warm_draws"] = sorted(round(w, 2) for _, w in draws)
        results.append(best)
    out = {
        "n_docs": args.n_docs,
        "measured_at": time.strftime("%Y-%m-%d %H:%M UTC", time.gmtime()),
        "host_before": probe_before,
        "host_after": _host_probe(),
        "levels": results,
        "regenerate": (
            f"python BENCH/profile_jobs.py --n-docs {args.n_docs} "
            f"--cores {args.cores} --warm-runs {args.warm_runs} "
            "--json BENCH/counterfactual.json"
        ),
    }
    if len(results) == 2:
        lo, hi = sorted(results, key=lambda r: r["cores"])
        out["counterfactual"] = counterfactual(lo, hi)
        print(json.dumps(out["counterfactual"]))
    if args.json:
        with open(args.json, "w") as f:
            json.dump(out, f, indent=1)


if __name__ == "__main__":
    main()
