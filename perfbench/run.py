#!/usr/bin/env python3
"""CDC-engine benchmark.

One workload, one fresh process, on local[nproc]:

    python3 perfbench/run.py --workload bulk_replay --seed 1 --seconds 6 --trace 0

prints a readable metric table (value, unit, sample count), then as its
LAST stdout line one JSON object ``{"correct", "attempted", "failed",
"metrics"}``: the end-to-end metrics of BENCHMARK.json with ``--trace 0``,
its per-layer metrics with ``--trace 1``. ``--out FILE`` also writes every
sample, both metric sets and the host stamp to FILE.

    python3 perfbench/run.py --workload all --seed 1

runs every workload untraced and then traced, each in its own child
process, and prints every metric with its unit and sample count and the
tracing overhead per workload. See README.md in this directory.
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
import tempfile
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
DEFAULT_SECONDS = 6
WORKLOAD_NAMES = ["bulk_replay", "trickle_serve"]

# Printed beside the end-to-end metrics of BENCHMARK.json but not bounded
# there: a bounded metric must exist, non-zero, on every workload, and
# only trickle_serve looks up, maintains and drains; too few commits fit
# in a run for a tail above the median; peak RSS swings with GC timing
# and Python-worker churn, and even the loop's median RSS varied by up
# to 21% (quartile spread) between runs on a 4-core host; the error rate
# of a correct run is 0; the cold first set-up carries the JVM launch,
# which swings too much for a bound (setup_s is the median of the
# set-ups instead).
REPORT_ONLY_UNITS = {
    "setup_cold_s": "s",
    "commit_tail_s": "s",
    "lookup_p50_s": "s",
    "lookup_tail_s": "s",
    "maintain_p50_s": "s",
    "drain_p50_s": "s",
    "loop_rss_mb": "MB",
    "peak_rss_mb": "MB",
    "error_rate": "ratio",
}


def load_spec() -> dict:
    """BENCHMARK.json: the metric names and units this run must emit."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _prepare_env(workdir: str) -> None:
    """Keep every file Spark and its Python workers write inside the run's
    workdir, and let the workers import the engine from this checkout."""
    for sub in ("spark-local", "tmp"):
        os.makedirs(os.path.join(workdir, sub), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(workdir, "spark-local")
    os.environ["TMPDIR"] = os.path.join(workdir, "tmp")
    tempfile.tempdir = None  # re-read TMPDIR
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )


def stop_processes() -> None:
    """Stop the JVM that pyspark launched, and wait until it and every
    other process this one started (the JVM's Python workers, probe
    workers) has ended. Left alone, the JVM exits only after this process
    does, when it sees its stdin close, and its workers after it."""
    import hoststamp

    tree = hoststamp.descendants(os.getpid())
    from pyspark import SparkContext

    gateway, SparkContext._gateway, SparkContext._jvm = SparkContext._gateway, None, None
    proc = getattr(gateway, "proc", None)
    if proc is not None and proc.stdin is not None:
        proc.stdin.close()  # the JVM exits at EOF on its stdin
    hoststamp.reap(tree)


def _median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def end_to_end(run, rss) -> dict:
    """Metric name -> (value, samples, note), bounded and report-only."""
    from spans import tail

    s = run.samples
    commit = s["commit_s"]
    ctail, cpct = tail(commit)
    out = {
        "setup_s": (_median(s["setup_s"]), len(s["setup_s"]), "median of set-ups"),
        "setup_cold_s": (s["setup_s"][0], 1, "first set-up: JVM launch, cold codegen"),
        "events_per_s": (run.events / run.clock.elapsed, len(commit),
                         f"{run.events} events / {run.clock.elapsed:.2f} s timed"),
        "commit_p50_s": (_median(commit), len(commit), "apply_batch wall"),
        "stored_bytes_per_row": (run.stored_bytes_per_row, 1, "live bytes / live rows"),
        "loop_rss_mb": (*rss.median_mb(run.loop_t0, run.loop_t1),
                        "median process-tree RSS in the timed loop"),
        "commit_tail_s": (ctail, len(commit), f"p{cpct:g}, 10 samples beyond"
                          if cpct < 100 else "max: fewer than 11 samples"),
        "peak_rss_mb": (rss.peak_mb, rss.samples, "process tree, whole run"),
        "error_rate": (run.failed / run.attempted, run.attempted, f"{run.failed} failed"),
    }
    for name, key in (("lookup_p50_s", "lookup_s"), ("maintain_p50_s", "maintain_s"),
                      ("drain_p50_s", "drain_s")):
        if s.get(key):
            out[name] = (_median(s[key]), len(s[key]), "")
    if s.get("lookup_s"):
        v, pct = tail(s["lookup_s"])
        out["lookup_tail_s"] = (v, len(s["lookup_s"]), f"p{pct:g}")
    return out


def per_layer(run, stamp: dict, names) -> dict:
    """Every per-layer metric of BENCHMARK.json; 0 where the workload does
    not exercise the layer. Per-commit and per-drain values are medians
    over the timed loop; session starts come from the set-ups."""
    from spans import attribute_jobs, coverage, read_event_logs, uncovered

    m = dict.fromkeys(names, 0.0)
    spans = run.tracer.spans
    m["session.start_s"] = _median([sp.dur for sp in spans if sp.name == "session.start"])
    loop = [sp for sp in spans if run.loop_t0 <= sp.start and sp.end <= run.loop_t1]

    def durs(name):
        return [sp.dur for sp in loop if sp.name == name]

    m["feed.list_s"] = _median(durs("feed.list"))
    m["feed.read_batch_s"] = _median(durs("feed.read_batch"))
    m["driver.apply_s"] = _median(durs("driver.apply_batch"))
    m["table.maintain_s"] = _median(durs("table.maintain"))
    for name, vals in run.layer.items():
        m[name] = _median(vals)

    groups = attribute_jobs(read_event_logs(run.path("eventlog")))
    per: dict[str, list[float]] = {}
    for sp in loop:
        g = groups.get(sp.attrs.get("job_group")) if sp.name == "driver.apply_batch" else None
        if g is None:
            continue
        for name, value in (
            ("apply_jobs", g.jobs), ("apply_tasks", g.tasks),
            ("apply_executor_cpu_s", g.executor_cpu_s), ("apply_gc_s", g.gc_s),
            ("apply_shuffle_read_bytes", g.shuffle_read_bytes),
            ("apply_shuffle_write_bytes", g.shuffle_write_bytes),
            ("apply_spill_bytes", g.spill_bytes), ("apply_task_skew", g.task_skew()),
            ("apply_driver_s", uncovered(sp, g.job_intervals)),
        ):
            per.setdefault(f"driver.{name}", []).append(value)
    for name, vals in per.items():
        m[name] = _median(vals)

    m["cdc_source.drain_s"] = _median(run.samples.get("drain_s", []))
    for name, key in (("latest_offset_ms", "latestOffset"), ("planning_ms", "queryPlanning"),
                      ("add_batch_ms", "addBatch")):
        m[f"cdc_source.{name}"] = _median(
            [sum(p.get("durationMs", {}).get(key, 0) for p in d["progress"]) for d in run.drains]
        )
    m["cdc_source.rows"] = _median(
        [sum(p.get("numInputRows", 0) for p in d["progress"]) for d in run.drains]
    )
    stream = [groups[d["run_id"]] for d in run.drains if d["run_id"] in groups]
    m["cdc_source.tasks"] = _median([g.tasks for g in stream])
    m["cdc_source.executor_cpu_s"] = _median([g.executor_cpu_s for g in stream])

    m["host.nproc"] = stamp["nproc"]
    m["host.membw_gbps_pre"] = stamp["membw_gbps_pre"]
    m["host.membw_gbps_post"] = stamp["membw_gbps_post"]
    m["host.load1"] = stamp["load1_pre"]
    m["trace.coverage"] = coverage(spans, run.loop_t0, run.loop_t1)
    return m


def run_one(args) -> int:
    spec = load_spec()
    e2e_units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layer_units = {m["name"]: m["unit"] for m in spec["per_layer"]}
    sys.path[:0] = [HERE, ROOT]
    import bench
    import hoststamp
    from workloads import WORKLOADS, Run

    hoststamp.adopt_orphans()
    n = hoststamp.nproc()
    workdir = os.path.join(WORK_ROOT, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(workdir, ignore_errors=True)
    os.makedirs(workdir)
    try:
        _prepare_env(workdir)
        stamp = {
            "workload": args.workload,
            "seed": args.seed,
            "seconds": args.seconds,
            "trace": args.trace,
            "nproc": n,
            "master": f"local[{n}]",
            "git_commit": hoststamp.git_commit(ROOT),
            **hoststamp.versions(),
            "load1_pre": hoststamp.load1(),
            "membw_gbps_pre": bench.membw_probe(n),
        }
        run = Run(args.workload, args.seed, args.seconds, bool(args.trace), workdir, n,
                  os.path.join(WORK_ROOT, "inputs"))
        with hoststamp.RssSampler() as rss:
            try:
                WORKLOADS[args.workload](run)
            finally:
                run.stop()
        stamp["membw_gbps_post"] = bench.membw_probe(n)
        stamp["load1_post"] = hoststamp.load1()
        run.log("session stopped, host probed")
        e2e = end_to_end(run, rss)
        layer = per_layer(run, stamp, layer_units) if args.trace else None
    finally:
        stop_processes()
        shutil.rmtree(workdir, ignore_errors=True)

    print(f"# {args.workload} seed={args.seed} trace={args.trace} master=local[{n}] "
          f"pyspark={stamp['pyspark']} pyarrow={stamp['pyarrow']} "
          f"commit={stamp['git_commit']} membw={stamp['membw_gbps_pre']:.1f}->"
          f"{stamp['membw_gbps_post']:.1f} GB/s load1={stamp['load1_pre']:.2f}->"
          f"{stamp['load1_post']:.2f}")
    units = {**e2e_units, **REPORT_ONLY_UNITS}
    for name, (value, count, note) in e2e.items():
        print(f"{name:24s} {value:14.4f} {units[name]:6s} n={count:<4d} {note}")
    for name, value in (layer or {}).items():
        print(f"{name:36s} {value:14.4f} {layer_units[name]}")
    for f in run.failures:
        print(f"FAILED: {f}")

    metrics = (
        {k: {"value": layer[k], "unit": u} for k, u in layer_units.items()}
        if args.trace
        else {k: {"value": e2e[k][0], "unit": u} for k, u in e2e_units.items()}
    )
    result = {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
    }
    if args.out:
        with open(args.out, "w") as f:
            json.dump({
                "stamp": stamp,
                "result": result,
                "end_to_end": {k: {"value": v, "unit": units[k], "samples": c, "note": note}
                               for k, (v, c, note) in e2e.items()},
                "per_layer": layer,
                "samples": run.samples,
            }, f, indent=1)
    print(json.dumps(result), flush=True)
    return 0


def run_all(args) -> int:
    """Every workload untraced then traced, each in a fresh process."""
    sys.path.insert(0, HERE)
    import hoststamp

    hoststamp.adopt_orphans()
    os.makedirs(WORK_ROOT, exist_ok=True)
    report = {}
    for w in WORKLOAD_NAMES:
        for trace in (0, 1):
            fd, out = tempfile.mkstemp(prefix=f"{w}-{trace}-", suffix=".json", dir=WORK_ROOT)
            os.close(fd)
            try:
                cmd = [sys.executable, os.path.abspath(__file__), "--workload", w,
                       "--seed", str(args.seed), "--seconds", str(args.seconds),
                       "--trace", str(trace), "--out", out]
                proc = subprocess.run(cmd, capture_output=True, text=True, timeout=900)
                print(proc.stdout, end="")
                if proc.returncode != 0:
                    sys.stderr.write(proc.stderr[-4000:])
                    return proc.returncode
                with open(out) as f:
                    report[(w, trace)] = json.load(f)
            finally:
                os.remove(out)
                hoststamp.reap(hoststamp.descendants(os.getpid()))
    print("\n# tracing overhead: traced minus untraced, as a share of untraced")
    summary = {}
    for w in WORKLOAD_NAMES:
        plain, traced = report[(w, 0)], report[(w, 1)]
        over = {}
        for name, m in plain["end_to_end"].items():
            t = traced["end_to_end"][name]["value"]
            over[name] = (t - m["value"]) / m["value"] if m["value"] else 0.0
        print(f"{w:14s} " + "  ".join(f"{k} {v:+.1%}" for k, v in over.items()
                                      if k in ("events_per_s", "commit_p50_s", "setup_s")))
        summary[w] = {"correct": plain["result"]["correct"] and traced["result"]["correct"],
                      "end_to_end": plain["end_to_end"], "per_layer": traced["per_layer"],
                      "trace_overhead": over}
    print(json.dumps(summary))
    return 0 if all(v["correct"] for v in summary.values()) else 1


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES + ["all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=DEFAULT_SECONDS)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out", help="also write the full result here")
    args = ap.parse_args(argv)
    # a terminated run still stops Spark and removes its workdir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if args.workload == "all":
        return run_all(args)
    try:
        return run_one(args)
    except Exception:
        traceback.print_exc()
        return 1


if __name__ == "__main__":
    sys.exit(main())
