#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload {stateful_replay,live_ingest,batch_ledger}
        --seed N --seconds S --trace {0,1} --cores K

Run from the repository root. One process, one Spark JVM on local[K].
The last line of stdout is one JSON object:
{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}
with the end-to-end metrics (--trace 0) or the per-layer metrics
(--trace 1). Per-run detail goes to perfbench/_out/: a ledger for every
run, and for a traced run the spans and the per-layer self-time table.
"""

from __future__ import annotations

import time

T_PROC0 = time.time()  # set-up time counts from process start

import argparse  # noqa: E402
import fcntl  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "kafka_streams_in_action_spark"


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _units(spec: dict, key: str) -> dict[str, str]:
    return {m["name"]: m["unit"] for m in spec[key]}


# The metric each workload's tracing overhead is computed on, and whether
# a larger value is worse.
HEADLINE = {"stateful_replay": ("throughput_rps", False),
            "live_ingest": ("latency_p50_ms", True),
            "batch_ledger": ("latency_p50_ms", True)}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=sorted(HEADLINE))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, required=True,
                    help="Spark task threads, local[K] (BENCHMARK.json fixes it)")
    ap.add_argument("--data", default=os.path.join(HERE, "data", "sf0.01"),
                    help="directory of the input parquet tables")
    ap.add_argument("--corrupt", type=int, choices=(0, 1), default=0,
                    help="corrupt one timed output (smoke test of the check)")
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: package {PACKAGE!r} not found under {ROOT}",
              file=sys.stderr)
        return 2
    spec = _spec()

    out = os.path.join(HERE, "_out")
    os.makedirs(out, exist_ok=True)
    # Two benchmark processes at once distort each other; refuse to overlap.
    lock = open(os.path.join(out, ".lock"), "w")
    try:
        fcntl.flock(lock, fcntl.LOCK_EX | fcntl.LOCK_NB)
    except BlockingIOError:
        print("perfbench: another benchmark run holds the lock",
              file=sys.stderr)
        return 3

    # Every file the run writes (Python and JVM temp files, checkpoints,
    # staged sources, shuffle) stays under the checkout.
    work = os.path.join(HERE, "_work")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    # spark-submit's launcher JVM would otherwise write /tmp/hsperfdata_*
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    import tempfile
    tempfile.tempdir = None
    sys.path.insert(0, ROOT)

    from perfbench import harness as H
    from perfbench import workloads as W

    tracer = H.Tracer(bool(args.trace))
    rss = H.RssSampler()
    ctx = None
    try:
        with tracer.span("run", workload=args.workload, seed=args.seed):
            t0 = time.perf_counter()
            spark = H.start_spark(args.cores, work)
            session_ms = (time.perf_counter() - t0) * 1000.0
            listener = H.make_listener()
            spark.streams.addListener(listener)
            rss.sample()
            ctx = W.Ctx(spark, args.cores, os.path.abspath(args.data), work,
                        args.seed, args.seconds, bool(args.trace), tracer,
                        listener, rss, bool(args.corrupt), T_PROC0)
            with tracer.span("workload", workload=args.workload):
                res = W.WORKLOADS[args.workload](ctx)
            res["e2e"]["peak_rss_mb"] = rss.peak_mb
            res["layer"]["session.start_ms"] = session_ms
            if args.trace:
                res["layer"].update(_local1(ctx, args, W, H))
    finally:
        # on success and on failure: stop the JVM and wait for every
        # process of the run before removing its files
        if ctx is not None:
            H.stop_spark(ctx.spark, rss.pids)
        shutil.rmtree(work, ignore_errors=True)

    tag = f"{args.workload}_seed{args.seed}"
    name, worse_up = HEADLINE[args.workload]
    # the untraced reference for the tracing overhead: same workload, data
    # and core count
    last = os.path.join(out, f"untraced_{args.workload}_"
                        f"{os.path.basename(os.path.abspath(args.data))}_"
                        f"k{args.cores}.json")
    if args.trace:
        units = _units(spec, "per_layer")
        base = None
        if os.path.exists(last):
            with open(last) as f:
                base = json.load(f).get(name)
        traced = res["e2e"][name]
        ovh = 0.0
        if base:
            ovh = ((traced - base) if worse_up else (base - traced)) / base
        res["layer"]["trace.overhead_pct"] = ovh * 100.0
        table = tracer.self_times()
        tracer.write(os.path.join(out, f"trace_{tag}.json"),
                     {"per_layer": res["layer"], "e2e_traced": res["e2e"],
                      "e2e_untraced_headline": base})
        _print_table(res["layer"], table, units)
        metrics = {k: res["layer"].get(k, 0.0) for k in units}
    else:
        units = _units(spec, "end_to_end")
        metrics = {k: res["e2e"][k] for k in units}
        with open(last, "w") as f:
            json.dump(res["e2e"], f)
    with open(os.path.join(out, f"ledger_{tag}_trace{args.trace}.json"),
              "w") as f:
        json.dump({"e2e": res["e2e"], "layer": res["layer"],
                   "ledger": ctx.ledger}, f, indent=1, default=str)

    print(json.dumps({
        "correct": bool(res["correct"]),
        "attempted": int(res["attempted"]),
        "failed": int(res["failed"]),
        "metrics": {k: {"value": float(v), "unit": units[k]}
                    for k, v in metrics.items()},
    }))
    return 0


def _local1(ctx, args, W, H) -> dict:
    """Single-threaded baseline: one pass of the same workload on a fresh
    local[1] context in the same JVM (traced runs only; per-layer data)."""
    ctx.spark.stop()
    ctx.spark = H.start_spark(1, ctx.work)
    ctx.listener = H.make_listener()
    ctx.spark.streams.addListener(ctx.listener)
    ctx.trace = False
    out = {}
    with ctx.tracer.span("local1"):
        if args.workload == "live_ingest":
            out["local1.latency_p50_ms"] = W.live_local1_p50(ctx)
        else:
            names = W.TWINS if args.workload == "stateful_replay" else W.LEDGER
            out["local1.pass_s"] = W.one_pass_s(ctx, names)
    return out


def _print_table(layer: dict, spans: dict, units: dict) -> None:
    print("# per-layer metrics", file=sys.stderr)
    for k in sorted(units):
        print(f"#   {k:44s} {layer.get(k, 0.0):14.3f} {units[k]}",
              file=sys.stderr)
    print("# span self time (ms)", file=sys.stderr)
    for k, row in sorted(spans.items(), key=lambda kv: -kv[1]["self_ms"]):
        print(f"#   {k:20s} n={row['count']:5d} total={row['total_ms']:11.1f}"
              f" self={row['self_ms']:11.1f}", file=sys.stderr)


if __name__ == "__main__":
    sys.exit(main())
