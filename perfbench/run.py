"""Repository benchmark: the ``build`` and ``serve`` workloads.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 10 --trace 0

Run from the repository root. Prints the workload's metrics by name with
their units, then one JSON line with ``correct``, ``attempted``,
``failed`` and ``metrics``: the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.workloads import WORKLOADS  # noqa: E402

E2E = {
    "setup_s": "s", "first_op_s": "s", "op_p50_ms": "ms",
    "throughput_per_s": "1/s", "peak_rss_mb": "MB",
}
# Corpus size in pages.
PAGES = 10_000


def parse(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--pages", type=int, default=PAGES,
                   help="corpus size override (the self-test uses a tiny one)")
    return p.parse_args(argv)


def table(run, args, env) -> list[str]:
    from perfbench.workloads import LAYER_METRICS

    out = [f"perfbench workload={args.workload} seed={args.seed} "
           f"seconds={args.seconds} trace={args.trace} pages={args.pages}"]
    out += [f"env {k}={v}" for k, v in env.items() if k != "PYTHONPATH"]
    out.append(f"host cpu steal during the run: {run.steal:.1%} of all cpu time")
    out.append(f"ops attempted={run.attempted} failed={run.failed} "
               f"known_defect={run.known_failed} "
               f"failed_frac={run.failed / max(run.attempted, 1):.4f}")
    out += [f"  fail: {p.splitlines()[0][:300]}" for p in run.problems[:20]]
    out.append("setup steps (name, s since setup start):")
    out += [f"  {k:<22} {v:>14.4f}" for k, v in run.steps]
    out.append("end-to-end (generic name, value, unit):")
    for k, unit in E2E.items():
        out.append(f"  {k:<22} {run.e2e.get(k, float('nan')):>14.4f} {unit}")
    out.append("peak_rss_mb by program (peak of each, MB): " + ", ".join(
        f"{k}={v:.1f}" for k, v in sorted(run.rss_by_kind.items())))
    out.append("end-to-end (workload name, value, unit, samples):")
    for k, (v, unit, n) in run.named.items():
        shown = f"{v:>14.4f}" if v is not None else f"{'n/a (<100)':>14}"
        out.append(f"  {k:<22} {shown} {unit:<8} n={n}")
    if run.traced:
        out.append("per-layer (name, value, unit, samples, base):")
        for k, unit in LAYER_METRICS.items():
            v, n, base = run.layer[k]
            out.append(f"  {k:<28} {v:>14.4f} {unit:<8} n={n} {base}")
        out.append("span self time (name, count, total s, self s):")
        for name, d in sorted(run.tracer.self_times().items()):
            out.append(f"  {name:<28} {d['n']:>5} {d['total_s']:>10.3f} {d['self_s']:>10.3f}")
    return out


def main(argv=None) -> int:
    args = parse(argv)
    if not os.path.isdir(os.path.join(ROOT, "kafka_es_spark")):
        print(f"perfbench: no kafka_es_spark package under {ROOT}", file=sys.stderr)
        return 2
    from perfbench.env import pin_env, start_spark, stop_spark
    from perfbench.inputs import cached_inputs
    from perfbench.trace import RssSampler, cpu_times, steal_share
    from perfbench.workloads import LAYER_METRICS, Run

    run_dir = os.path.join(ROOT, ".bench_run", f"{args.workload}-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".bench_out")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(out_dir, exist_ok=True)
    env = pin_env(run_dir)
    # a terminated run still stops Spark and removes its run dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    conf, event_dir = {}, None
    if args.trace:
        event_dir = os.path.join(run_dir, "events")
        os.makedirs(event_dir)
        conf = {"spark.eventLog.enabled": "true", "spark.eventLog.dir": event_dir,
                "spark.eventLog.compress": "false"}
    rss = RssSampler(0.25)
    spark = None
    try:
        # made by a separate process on a checkout's first run, before
        # setup_s starts and before the memory sampler starts
        corpus, index = cached_inputs(ROOT, args.pages, with_index=args.workload == "serve")
        if index is not None:  # a private copy: traced serve runs append to it
            shutil.copytree(index, os.path.join(run_dir, "idx"))
            index = os.path.join(run_dir, "idx")
        t0, cpu0 = time.perf_counter(), cpu_times()
        rss.start()
        spark = start_spark(f"perfbench-{args.workload}", env, conf)
        run = Run(spark, args, run_dir, int(env["SPARK_GRAFT_CPUS"]), t0, event_dir,
                  corpus, index)
        WORKLOADS[args.workload](run)
    finally:
        if spark is not None:
            stop_spark(spark)
        peak = rss.stop()
        shutil.rmtree(run_dir, ignore_errors=True)
    run.e2e["peak_rss_mb"] = peak
    run.steal = steal_share(cpu0, cpu_times())
    run.rss_by_kind = dict(rss.peak_by_kind)

    tag = f"{args.workload}-{args.seed}-{args.seconds}-{args.pages}"
    last = os.path.join(out_dir, f"untraced-{tag}.json")
    lines = table(run, args, env)
    if args.trace:
        run.tracer.write(os.path.join(out_dir, f"spans-{tag}.jsonl"))
        if os.path.exists(last):
            with open(last) as f:
                ref = json.load(f)
            lines.append("tracing overhead (traced - untraced, same seed):")
            for k, unit in E2E.items():
                lines.append(f"  {k:<22} {run.e2e[k] - ref[k]:>+14.4f} {unit}")
            for k, (v, unit, _) in run.named.items():
                if v is not None and ref.get(k) is not None:
                    lines.append(f"  {k:<22} {v - ref[k]:>+14.4f} {unit}")
        else:
            lines.append("tracing overhead: run the same seed with --trace 0 first")
        metrics = {k: {"value": run.layer[k][0], "unit": u} for k, u in LAYER_METRICS.items()}
    else:
        with open(last, "w") as f:
            json.dump({**run.e2e, **{k: v[0] for k, v in run.named.items()}}, f)
        metrics = {k: {"value": run.e2e[k], "unit": u} for k, u in E2E.items()}
    print("\n".join(lines))
    print(json.dumps({
        "correct": run.failed == run.known_failed,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
