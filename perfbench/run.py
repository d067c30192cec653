#!/usr/bin/env python3
"""The repo's benchmark: seeded workloads at local[nproc].

    python3 perfbench/run.py --workload crawl_mixed --seed 1 --seconds 15 --trace 0

Run from the repository root. One run builds a fresh Spark session with
`engine.session.build_session` (timed as setup_s), prepares the seeded
input (untimed; the costly parts are cached under .perfbench/cache), runs
two warm-up iterations of the workload, then timed iterations for about
`--seconds` (at least three); docs_per_s is the median over the timed
ones. Every
iteration's output goes through the correctness gate; a failed check
exits non-zero without a result. The last stdout line is the result
JSON; earlier `#` lines carry the input facts, the raw iteration walls
and the host label.

`--trace 1` prints the per-layer metrics instead. It first runs the
untraced benchmark in a child process (for the tracing overhead) and
times build_session without its warmup in another, then repeats the
workload with Spark's event log on, spans around the engine calls, the
lazy layers forced on their own, and a single-process kernel pass.
Workloads and metrics are listed in BENCHMARK.json; the layer map and
the metric definitions are in perfbench/layers.json.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shlex
import shutil
import statistics
import subprocess
import sys
import time
from types import SimpleNamespace

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# iterations run before the timed window opens: the first is cold, and the
# second still runs about 10% slower than the later ones on both workloads
WARMUP = 2
# the timed window runs for --seconds but never takes fewer iterations
MIN_TIMED = 3


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=["crawl_mixed", "dedup_curation"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--size", choices=["full", "tiny"], default="full")
    p.add_argument("--setup-only", action="store_true",
                   help="only time build_session (used by --trace 1)")
    return p.parse_args(argv)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def loadavg() -> list[float]:
    with open("/proc/loadavg") as fh:
        return [float(x) for x in fh.read().split()[:3]]


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the machine so far: on a VM, steal is
    time its CPUs were ready to run but the host ran something else."""
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:]]
    return ticks[7], sum(ticks)


def configure_env(run_dir: str, trace: bool) -> None:
    """Keep every file the run writes inside the checkout: temp files,
    Spark's local dirs and (traced run only) the event log. Left alone,
    build_session would put the local dirs (shuffle and spill files) on
    /dev/shm; layers.json ("environment") gives the measured effect."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    conf = {"spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            "spark.ui.showConsoleProgress": "false"}
    if trace:
        events = os.path.join(run_dir, "events")
        os.makedirs(events)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.dir": "file://" + events})
    args = [a for k, v in conf.items() for a in ("--conf", f"{k}={v}")]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])


def start_session():
    from horizon_ocr_python_spark.engine.session import build_session

    t0 = time.perf_counter()
    spark = build_session(master=f"local[{nproc()}]", app_name="perfbench")
    setup_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    return spark, setup_s


def stop_session(spark) -> None:
    """Stop Spark, end the JVM and wait for every process it started."""
    import instruments as tr
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        try:
            gw.shutdown()
        except Exception:  # noqa: BLE001 - the JVM may already be gone
            pass
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on stdin EOF
        proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None
    deadline = time.time() + 30
    while tr.descendants() and time.time() < deadline:
        time.sleep(0.1)
    if tr.descendants():
        raise RuntimeError(f"processes still running: {tr.descendants()}")


def measure(args, run_dir: str, cache) -> dict:
    """One benchmark run in this process; returns raw figures."""
    import inputs
    import instruments as tr
    from workloads import WORKLOADS

    spark, setup_s = start_session()
    try:
        spans = tr.Spans(spark.sparkContext)
        if args.trace:
            from horizon_ocr_python_spark.engine import checkpoint
            spans.wrap(checkpoint, "commit_snapshot")
        ctx = SimpleNamespace(spark=spark, run_dir=run_dir, cache=cache,
                              seed=args.seed, size=args.size, spans=spans)
        wl = WORKLOADS[args.workload](ctx)
        wl.prepare()

        walls, docs, attempted, failed, rss = [], [], 0, 0, 0.0
        k = 0
        while (k < WARMUP + MIN_TIMED
               or time.perf_counter() - t_start < args.seconds):
            if k == WARMUP:
                t_start = time.perf_counter()
            wl.reset(k)
            spans.iteration = k
            t0 = time.perf_counter()
            n = wl.iterate(k)
            walls.append(time.perf_counter() - t0)
            spans.iteration = None
            docs.append(n)
            rss = max(rss, tr.peak_worker_rss_mb())
            a, f = wl.after(k)
            attempted += a
            failed += f
            k += 1
        out = {"setup_s": setup_s, "walls": walls, "docs": docs,
               "attempted": attempted, "failed": failed, "rss": rss,
               "stored": wl.stored_bytes_per_doc()}
        if args.trace:
            out["forced"] = wl.force_layers()
            out["kernel"] = tr.kernel_pass(wl.kernel_sample())
            out["spans"] = spans.items
            out["iters"] = wl.iters
    finally:
        stop_session(spark)
    inputs.info(f"{args.workload}: {WARMUP} warm-up and {len(walls) - WARMUP} "
                f"timed iterations of {docs[0]} docs, walls "
                + " ".join(f"{w:.2f}" for w in walls))
    return out


def docs_per_s(raw: dict) -> float:
    """Median over the timed iterations."""
    return statistics.median(n / w for n, w in zip(raw["docs"][WARMUP:],
                                                   raw["walls"][WARMUP:]))


def end_to_end(raw: dict) -> dict:
    return {
        "docs_per_s": (docs_per_s(raw), "docs/s"),
        "setup_s": (raw["setup_s"], "s"),
        "peak_worker_rss_mb": (raw["rss"], "MB"),
        "stored_bytes_per_doc": (raw["stored"], "B/doc"),
    }


def iteration_layers(k, raw: dict, log: dict) -> dict:
    """Per-layer figures of one span group (timed iteration k, or the
    traced run's recrawl pass) from its spans and Spark stages."""
    import instruments as tr
    from workloads import dedup_ops

    spans = raw["spans"]
    top = [s for s in spans if s["iter"] == k and s["parent"] is None]
    named = {s["name"]: s for s in top}
    m = {}
    if "run_extraction" in named:
        everything = set().union(
            *(tr.span_descendants(spans, s["id"]) for s in top))
        m["checkpoint.written_mb"] = sum(
            t["output"] for st in tr.stages_in(log, everything)
            for t in st["tasks"]) / 1e6
        ids = tr.span_descendants(spans, named["run_extraction"]["id"])
        stages = tr.stages_in(log, ids)
        ext = [st for st in stages if "MapInPandas" in st["scopes"]]
        runs = [t["run_s"] for st in ext for t in st["tasks"]]
        info = raw["iters"][k]
        m.update({
            "partitioning.shuffle_write_mb": sum(
                t["shuffle_write"] for st in stages for t in st["tasks"]) / 1e6,
            "partitioning.task_skew": max(runs) / max(statistics.median(runs),
                                                      1e-3),
            "extract.task_s": sum(runs),
            "extract.kernel_s": info["kernel_s"],
            "extract.outside_kernel_s": sum(runs) - info["kernel_s"],
            "extract.python_sent_mb": sum(
                st["acc"]["data sent to Python workers"] for st in ext) / 1e6,
            "extract.python_received_mb": sum(
                st["acc"]["data returned from Python workers"]
                for st in ext) / 1e6,
            "extract.gc_s": sum(t["gc_s"] for st in ext for t in st["tasks"]),
            "checkpoint.skipped_share": 1 - info["extracted"] / info["input"],
        })
        commit = next(s for s in spans if s["id"] in ids
                      and s["name"] == "checkpoint.commit_snapshot")
        m["checkpoint.commit_s"] = commit["wall_s"] - tr.busy_s(
            tr.stages_in(log, tr.span_descendants(spans, commit["id"])))
    for name in ("compact", "read_table"):
        if name in named:
            m[f"checkpoint.{name}_s"] = named[name]["wall_s"]

    ops = [s for s in top if s["name"] in dict(dedup_ops())]
    if ops:
        for s in ops:
            m[f"operators.{s['name']}_s"] = s["wall_s"]
        stages = tr.stages_in(log, set().union(
            *(tr.span_descendants(spans, s["id"]) for s in ops)))
        pairs = [st for st in stages if "MapInPandas" in st["scopes"]]
        wall = sum(s["wall_s"] for s in ops)
        m.update({
            "operators.stage_wall_share": tr.busy_s(stages) / wall,
            "operators.task_core_share": sum(
                t["run_s"] for st in stages for t in st["tasks"])
            / (wall * nproc()),
            "operators.bucket_pairs_s": sum(
                t["run_s"] for st in pairs for t in st["tasks"]),
            "operators.max_rows_per_python_call": max(
                t["records_read"] for st in pairs for t in st["tasks"]),
            "operators.shuffle_write_mb": sum(
                t["shuffle_write"] for st in stages for t in st["tasks"]) / 1e6,
            "operators.spill_mb": sum(
                t["spill"] for st in stages for t in st["tasks"]) / 1e6,
        })
    return m


def per_layer(raw: dict, log: dict, untraced: dict, cold_setup_s: float,
              names: list[str]) -> dict:
    """Every per-layer metric of BENCHMARK.json; a layer the workload does
    not run reports 0."""
    timed = range(WARMUP, len(raw["walls"]))
    rows = [iteration_layers(k, raw, log) for k in timed]
    m = {key: statistics.fmean(r.get(key, 0.0) for r in rows)
         for key in set().union(*rows)}
    if "recrawl" in raw["iters"]:
        rec = iteration_layers("recrawl", raw, log)
        for key in ("checkpoint.skipped_share", "checkpoint.compact_s",
                    "checkpoint.read_table_s"):
            m[key] = rec[key]
    m.update(raw["forced"])
    m.update(raw["kernel"])
    traced = docs_per_s(raw)
    top = sum(s["wall_s"] for s in raw["spans"]
              if isinstance(s["iter"], int) and s["parent"] is None)
    m.update({
        "session.warmup_s": untraced["setup_s"] - cold_setup_s,
        "session.first_run_s": raw["walls"][0],
        "trace.docs_per_s": traced,
        "trace.untraced_docs_per_s": untraced["docs_per_s"],
        "trace.overhead_share": 1 - traced / untraced["docs_per_s"],
        "trace.span_coverage": top / sum(raw["walls"]),
    })
    return {n: m.get(n, 0.0) for n in names}


def child(args, *extra, env=None) -> dict:
    """Run this script in a child process; returns its result JSON."""
    cmd = [sys.executable, os.path.abspath(__file__),
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--size", args.size, *extra]
    res = subprocess.run(cmd, cwd=ROOT, env={**os.environ, **(env or {})},
                         stdout=subprocess.PIPE, text=True, timeout=170)
    if res.returncode:
        raise RuntimeError(f"child {' '.join(extra)} exited {res.returncode}")
    return json.loads(res.stdout.strip().splitlines()[-1])


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "horizon_ocr_python_spark")):
        print("error: horizon_ocr_python_spark/ not found next to perfbench/",
              file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    for p in (ROOT, HERE):
        if p not in sys.path:
            sys.path.insert(0, p)

    import inputs
    import workloads

    work = os.path.join(ROOT, ".perfbench")
    cache = inputs.Cache(ROOT, work)
    if not args.setup_only:
        workloads.build_all(cache, args.size)
    untraced = cold = None
    if args.trace:  # before this process starts its own JVM
        untraced = {k: v["value"] for k, v in child(
            args, "--trace", "0")["metrics"].items()}
        cold = child(args, "--setup-only",
                     env={"HSP_WARM_PYTHON": "0"})["metrics"]["setup_s"]["value"]

    run_dir = os.path.join(work, f"run-{os.getpid()}")
    os.makedirs(run_dir)
    load_before, ticks_before = loadavg(), cpu_ticks()
    try:
        configure_env(run_dir, bool(args.trace))
        if args.setup_only:
            spark, setup_s = start_session()
            stop_session(spark)
            print(json.dumps({"correct": True, "attempted": 1, "failed": 0,
                              "metrics": {"setup_s": {"value": setup_s,
                                                      "unit": "s"}}}))
            return 0
        raw = measure(args, run_dir, cache)
        if args.trace:
            import instruments as tr
            log = tr.read_event_log(os.path.join(run_dir, "events"))
            names = [m["name"] for m in spec["per_layer"]]
            units = {m["name"]: m["unit"] for m in spec["per_layer"]}
            values = per_layer(raw, log, untraced, cold, names)
            metrics = {n: (values[n], units[n]) for n in names}
        else:
            metrics = end_to_end(raw)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    import pyspark
    host = {"nproc": nproc(), "loadavg_before": load_before,
            "loadavg_after": loadavg(),
            "steal_share": steal_share(ticks_before),
            "spark": pyspark.__version__, "java": java_version(),
            "python": platform.python_version()}
    print("# host " + json.dumps(host))
    print(json.dumps({
        "correct": True, "attempted": raw["attempted"], "failed": raw["failed"],
        "metrics": {n: {"value": v, "unit": u} for n, (v, u) in metrics.items()},
    }))
    return 0


def steal_share(before: tuple[int, int]) -> float:
    (s0, t0), (s1, t1) = before, cpu_ticks()
    return round((s1 - s0) / max(1, t1 - t0), 4)


def java_version() -> str:
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    res = subprocess.run([java, "-version"], stderr=subprocess.PIPE,
                         stdout=subprocess.DEVNULL, text=True)
    return res.stderr.splitlines()[0] if res.stderr else "unknown"


if __name__ == "__main__":
    sys.exit(main())
