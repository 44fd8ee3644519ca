"""Benchmark entry point.

    python3 perfbench/run.py --workload extract --seed 1 --seconds 20 --trace 0

Builds a seeded input for the workload, runs its operations in a closed
loop for ``--seconds`` seconds on ``local[nproc]``, checks every output
and prints the named metrics.  The last line of standard output is one
JSON object: ``{"correct", "attempted", "failed", "metrics"}``.  With
``--trace 0`` the metrics are the gated end-to-end metrics; with
``--trace 1`` they are the per-layer metrics of a separate traced run,
which also writes its spans to ``perfbench/out/``.

Exits non-zero without a result when the package is missing.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "full_lattice_search_spark"


def parse_args(argv=None) -> argparse.Namespace:
    from perfbench import spec

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(spec.WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--trace-out", default=None,
                   help="trace JSON path (default perfbench/out/...)")
    return p.parse_args(argv)


def _summary_line(name: str, value, unit: str, n=None, note: str = "") -> str:
    v = "n/a" if value is None else f"{value:.6g}"
    extra = f" n={n}" if n is not None else ""
    return f"# {name:<28} {v:>12} {unit:<10}{extra} {note}".rstrip()


def measure(wl, runner, seconds: float, paired: bool) -> dict:
    """Closed loop until ``seconds`` have passed.  ``paired`` runs each
    operation twice, untraced and traced, alternating which goes first
    (at least two pairs, so each order occurs), and returns the summed
    times of each side."""
    sides = {"untraced": 0.0, "traced": 0.0}
    deadline = time.perf_counter() + seconds
    k = 0
    while time.perf_counter() < deadline or (paired and k < 2):
        if not paired:
            wl.step(runner, traced=False)
            continue
        op = wl.next_op()
        for traced in ((False, True) if k % 2 == 0 else (True, False)):
            n0 = len(runner.seconds[wl.primary])
            wl.step(runner, op, traced=traced)
            if len(runner.seconds[wl.primary]) > n0:
                sides["traced" if traced else "untraced"] += \
                    runner.seconds[wl.primary][-1]
        k += 1
    return sides


def main(argv=None) -> int:
    sys.path.insert(0, ROOT)
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: package {PACKAGE} not found under {ROOT}",
              file=sys.stderr)
        return 2
    args = parse_args(argv)

    from perfbench import spec, stats
    from perfbench.ops import OpRunner
    from perfbench.session import BenchSession
    from perfbench.trace import Tracer
    from perfbench.workloads import WORKLOAD_CLASSES

    with BenchSession(ROOT) as bs:
        wl = WORKLOAD_CLASSES[args.workload](bs, args.seed)
        # set-up is repeated only where setup_s is reported
        setup = wl.setup(1 if args.trace else spec.SETUP_REPEATS)
        setup_s = (bs.start_s + statistics.median(setup["materialize_s"])
                   + setup["warmup_s"])
        wl.prepare_checks()
        tracer = Tracer() if args.trace else None
        runner = OpRunner(bs.spark, tracer, cpu_clock=bs.engine_cpu_s)
        gc0 = bs.jvm_gc_s()
        # a traced run spends half its time on the paired stream and the
        # rest on the layer sweep
        sides = measure(wl, runner, args.seconds / (2 if args.trace else 1),
                        paired=bool(args.trace))
        gc_s = bs.jvm_gc_s() - gc0
        e2e = wl.end_to_end(runner)
        layer = {}
        if args.trace:
            from perfbench.layers import sweep

            layer = sweep(bs, wl, runner, args.seed)
            layer["trace.overhead_ratio"] = sides["traced"] / sides["untraced"]
            own = runner.stats[wl.primary]
            n = max(1, len(own))
            layer["spark.executor_cpu_s"] = sum(s.executor_cpu_s for s in own) / n
            layer["spark.gc_s"] = gc_s / max(1, len(runner.seconds[wl.primary]))
            layer["spark.python_init_s"] = sum(
                sum(s.python("").get(k, 0.0) for k in ("boot_s", "init_s"))
                for s in own) / n
            layer["spark.shuffle_bytes"] = sum(
                s.shuffle_write_bytes for s in own) / n
            layer["spark.tasks"] = sum(s.tasks for s in own) / n
        peak_rss = bs.peak_rss_mb()

    attempted, failed = runner.attempted, runner.failed
    secs = runner.seconds[wl.primary]
    print(f"# workload={args.workload} seed={args.seed} seconds={args.seconds}"
          f" trace={args.trace} load={spec.LOAD_MODEL}"
          f" cpus={bs.cpus} heap_mb={bs.heap_mb} offheap_mb={bs.offheap_mb}")
    print(f"# input: {wl.n_docs} docs, mega_every="
          f"{spec.CORPUS['mega_every']}, seed {args.seed}")
    print(_summary_line("setup_s", setup_s, "s", len(setup["materialize_s"]),
                        f"(session {bs.start_s:.3g} s, warm-up "
                        f"{setup['warmup_s']:.3g} s)"))
    print(_summary_line("ops_failed_frac", failed / max(1, attempted),
                        "ratio", attempted))
    print(_summary_line("peak_rss_mb", peak_rss, "MB"))
    pct = stats.reportable_percentiles(secs) if secs else {}
    for name, value in e2e.items():
        unit = spec.REPORTED.get(name, spec.END_TO_END.get(name, ("",)))[0]
        print(_summary_line(name, value, unit, len(secs)))
    if args.workload == "search":
        print(_summary_line("search_p90_s", pct.get("p90"), "s", len(secs),
                            "(needs >= 100 samples)" if "p90" not in pct
                            else ""))
        for shape, lat in sorted(wl.latencies.items()):
            print(_summary_line(f"search_p50_s[{shape}]",
                                statistics.median(lat), "s", len(lat)))
    for err in runner.errors[:20]:
        print(f"# FAILED {err}")

    if args.trace:
        for name in spec.PER_LAYER:
            unit = spec.PER_LAYER[name][0]
            print(_summary_line(name, layer.get(name), unit))
        out = args.trace_out or os.path.join(
            ROOT, "perfbench", "out",
            f"trace-{args.workload}-seed{args.seed}.json")
        os.makedirs(os.path.dirname(out), exist_ok=True)
        with open(out, "w") as f:
            json.dump({
                "workload": args.workload, "seed": args.seed,
                "seconds": args.seconds, "load_model": spec.LOAD_MODEL,
                "metrics": layer, "end_to_end": e2e,
                "errors": runner.errors, "spans": tracer.dump(),
            }, f, indent=1, default=str)
        print(f"# trace written to {os.path.relpath(out, ROOT)}")
        metrics = {
            name: {"value": layer[name], "unit": spec.PER_LAYER[name][0]}
            for name in spec.PER_LAYER if layer.get(name) is not None
        }
    else:
        values = {"setup_s": setup_s, "peak_rss_mb": peak_rss, **e2e}
        metrics = {
            name: {"value": values[name], "unit": spec.END_TO_END[name][0]}
            for name in spec.END_TO_END
        }
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
