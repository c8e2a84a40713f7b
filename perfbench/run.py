#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload {build_bulk,query_mix,ingest_mixed}
                             --seed N --seconds S --trace {0,1}

Run from the root of a checkout. It starts one Spark session on
``local[<cpus>]`` through ``session.get_spark`` (master and app name only),
runs the workload, checks its results, and prints one JSON object as the
last line of standard output::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones of BENCHMARK.json;
with ``--trace 1`` they are the per-layer ones, and the spans go to
``.perfbench_out/``. The line before it is a JSON object with the run's
environment and every named figure of the workload, each timing with its
sample count. All files stay inside the checkout: scratch space (index
output, Spark local dirs, temp files) lives in ``.perfbench_work/`` and is
deleted when the run ends.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import sys
import time

T_START = time.perf_counter()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
OUT = os.path.join(ROOT, ".perfbench_out")
MIN_FREE_BYTES = 2 << 30  # refuse to start below this much free space


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True,
                   choices=("build_bulk", "query_mix", "ingest_mixed"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--corrupt-one", action="store_true",
                   help="self-test: alter one checked result; the run must "
                        "then report failed > 0")
    return p.parse_args(argv)


def prepare_dirs() -> None:
    """Fresh scratch space inside the checkout, on a filesystem with room."""
    if os.path.exists(WORK):
        print(f"perfbench: removing stale {WORK} left by an earlier run",
              file=sys.stderr)
        shutil.rmtree(WORK)
    st = os.statvfs(ROOT)
    free = st.f_bavail * st.f_frsize
    if free < MIN_FREE_BYTES:
        raise SystemExit(
            f"perfbench: only {free >> 20} MiB free under {ROOT}; "
            f"need {MIN_FREE_BYTES >> 20} MiB"
        )
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(WORK, d))
    os.makedirs(OUT, exist_ok=True)
    # Spark, the JVM and Python temp files go to the checkout, not /tmp
    tmp = os.path.join(WORK, "tmp")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false "
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData' "
        "pyspark-shell"
    )
    import tempfile

    tempfile.tempdir = tmp


def filesystem_of(path: str) -> dict:
    """Mount point, type and dirty-page flush policy of ``path``."""
    best = ("", "?")
    with open("/proc/mounts") as fh:
        for line in fh:
            parts = line.split()
            mnt, fstype = parts[1], parts[2]
            if path.startswith(mnt) and len(mnt) > len(best[0]):
                best = (mnt, fstype)
    out = {"mount": best[0], "type": best[1]}
    if best[1] == "tmpfs":
        out["flush"] = "none: tmpfs pages live in memory"
    else:
        vm = {}
        for k in ("dirty_ratio", "dirty_background_ratio",
                  "dirty_expire_centisecs", "dirty_writeback_centisecs"):
            try:
                with open(f"/proc/sys/vm/{k}") as fh:
                    vm[k] = int(fh.read())
            except OSError:
                pass
        out["flush"] = ("page cache write-back, no fsync from Spark's local "
                        "filesystem writer")
        out["vm"] = vm
    return out


def environment(spark) -> dict:
    mem_kb = 0
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "mem_total_mb": mem_kb // 1024,
        "spark": spark.version,
        "python": sys.version.split()[0],
        "work_fs": filesystem_of(WORK),
        "note": "latencies are this host's, on local[nproc], "
                "not those of any particular device",
    }


def cpu_jiffies() -> list[int]:
    """Host-wide CPU time counters of /proc/stat (user .. steal)."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:9]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests in between;
    a run with a high share was slowed by its neighbours."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if sum(d) else 0.0


def jvm_process():
    from pyspark import SparkContext

    return getattr(SparkContext._gateway, "proc", None)


def peak_rss_mb(spark) -> float:
    """JVM VmHWM plus the max RSS of this process (the Spark driver)."""
    jvm_kb = 0
    proc = jvm_process()
    if proc is not None:
        with open(f"/proc/{proc.pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    jvm_kb = int(line.split()[1])
    self_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (jvm_kb + self_kb) / 1024


def shutdown(spark) -> None:
    """Stop Spark and wait for the JVM (and the Python workers it forked)."""
    from pyspark import SparkContext

    proc = jvm_process()
    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def end_to_end(run, setup_s: float) -> dict:
    h = run.headline
    return {
        "p50_s": {"value": h["p50_s"], "unit": "s"},
        "items_per_s": {"value": h["items_per_s"], "unit": "1/s"},
        "index_bytes_per_text_byte": {
            "value": h["index_bytes_per_text_byte"], "unit": "ratio"},
        "setup_s": {"value": setup_s, "unit": "s"},
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    # import the engine first: without it there is nothing to set up
    sys.path.insert(0, ROOT)
    from perfbench import layers
    from perfbench import workloads as wl
    from perfbench.tracer import Tracer
    from solr_sematic_importer_spark.session import get_spark

    prepare_dirs()

    tracer = Tracer(enabled=bool(args.trace))
    tracer.record("phase.start", T_START, time.perf_counter())
    workload = wl.WORKLOADS[args.workload]()
    spark = None
    try:
        with tracer.span("phase.setup"):
            with tracer.span(wl.GET_SPARK):
                spark = get_spark(
                    app_name=f"perfbench-{args.workload}",
                    master=f"local[{len(os.sched_getaffinity(0))}]",
                )
            spark.sparkContext.setLogLevel("ERROR")
            tracer.attach(spark)
            run = wl.Run(spark, tracer, args.seed, args.seconds,
                         os.path.join(WORK, "data"), args.corrupt_one)
            state = workload.setup(run)
        setup_s = time.perf_counter() - T_START
        cpu0 = cpu_jiffies()
        with tracer.span("phase.window"):
            workload.window(run, state)
        run.figures["window_cpu_steal_share"] = steal_share(cpu0, cpu_jiffies())
        with tracer.span("phase.check"):
            workload.check(run, state)
        run.figures["peak_rss_mb"] = peak_rss_mb(spark)
        extra = {}
        if args.trace:
            with tracer.span("phase.extra_layers"):
                blocks = run.handles[-1].postings_blocks
                extra = layers.micro(run, state["corpus"], workload.profile, blocks)
                extra.update(layers.cover_missing(run, state["corpus"]))
            with tracer.span("phase.trace_readout"):
                tracer.finish(spark)
        env = environment(spark)
    finally:
        t_stop = time.perf_counter()
        if spark is not None:
            shutdown(spark)
        shutil.rmtree(WORK, ignore_errors=True)
        tracer.record("phase.shutdown", t_stop, time.perf_counter())
    wall = time.perf_counter() - T_START

    metrics = end_to_end(run, setup_s)
    figures = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "env": env, "wall_s": wall,
        "error_rate": run.failed / run.attempted if run.attempted else None,
        **run.figures,
    }
    # the untraced run to compare with must have had the same inputs
    last_untraced = os.path.join(
        OUT, f"last-untraced-{args.workload}-seed{args.seed}.json")
    if args.trace:
        per_layer = layers.collect(run, extra)
        figures["trace"] = write_spans(args, tracer, wall, metrics, last_untraced)
        out_metrics = {k: {"value": v, "unit": layers.metric_unit(k)}
                       for k, v in per_layer.items()}
    else:
        with open(last_untraced, "w") as fh:
            json.dump(metrics, fh)
        out_metrics = metrics
    print(json.dumps(figures, default=str))
    print(json.dumps({
        "correct": run.attempted > 0 and run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": out_metrics,
    }))
    return 0


def write_spans(args, tracer, wall: float, metrics: dict, last_untraced: str) -> dict:
    """Spans to .perfbench_out/; returns the summary printed with the run."""
    self_t = tracer.self_times()
    top = [sp for sp in tracer.spans if sp.parent is None]
    summary = {
        "spans": len(tracer.spans),
        "wall_s": wall,
        # self times of all spans sum to the time the top-level spans
        # cover; the rest of the wall is this bookkeeping
        "self_s": sum(self_t.values()),
        "phase_own_s": {sp.name: self_t[sp.sid] for sp in top},
    }
    summary["self_share_of_wall"] = summary["self_s"] / wall
    if os.path.exists(last_untraced):
        with open(last_untraced) as fh:
            untraced = json.load(fh)
        summary["overhead_vs_last_untraced"] = {
            k: metrics[k]["value"] - untraced[k]["value"]
            for k in metrics if k in untraced
        }
    path = os.path.join(OUT, f"spans-{args.workload}-seed{args.seed}.json")
    with open(path, "w") as fh:
        json.dump({"summary": summary,
                   "spans": [dict(sp.as_dict(), self_s=self_t[sp.sid])
                             for sp in tracer.spans]}, fh, default=str)
    summary["file"] = os.path.relpath(path, ROOT)
    return summary


if __name__ == "__main__":
    sys.exit(main())
