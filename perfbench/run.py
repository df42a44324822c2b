"""Benchmark entry point: one workload, one seed, one closed-loop run.

    python3 perfbench/run.py --workload customer_etl --seed 1 --seconds 15 --trace 0

Starts one ``local[nproc]`` Spark session, builds the workload's inputs
and fixtures from the seed, warms up, then runs whole passes of the
workload's fixed operation sequence with one client: ``--seconds``
divided by the workload's ``pass_seconds`` (the share of the budget one
pass is given), rounded, at least one. A 10-second budget gives one pass
of each workload (one ~12-16 s daily run, six ~1.5 s llm_curation
calls, sixteen lakehouse_ingest operations in ~5 s, on 4 vCPUs): every
run of a workload takes the same samples, and a whole run, set-up
included, takes 30-45 s. Every
output is checked outside the timed region. The last line of stdout is
one JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``
(the end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``). A traced run also writes its spans, with parent links
and self time, to ``.perfbench_work/spans-<workload>-seed<n>.json``.

Run from the repository root; it reads and writes only inside it.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import sys
import time
from pathlib import Path

import gen
import harness
import metrics

WORKLOADS = ("customer_etl", "llm_curation", "lakehouse_ingest")


def _workload(name: str):
    if name == "customer_etl":
        from w_customer_etl import CustomerEtl as cls
    elif name == "llm_curation":
        from w_llm_curation import LlmCuration as cls
    else:
        from w_lakehouse_ingest import LakehouseIngest as cls
    return cls


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="input size; 'tiny' is for the smoke tests")
    ap.add_argument("--out", type=Path, default=None,
                    help="also save the result, labelled, as a JSON file in this "
                         "directory (input to compare.py)")
    return ap.parse_args(argv)


def run(spark, args, session_s: float) -> dict:
    """Set up, warm up and measure one workload; returns the result
    object (the last stdout line)."""
    try:
        return _measure(spark, args, session_s)
    finally:
        shutil.rmtree(gen.WORK / f"{args.workload}-seed{args.seed}-{args.size}",
                      ignore_errors=True)


def _measure(spark, args, session_s: float) -> dict:
    tracer = harness.Tracer(spark, enabled=False)
    w = _workload(args.workload)(spark, tracer, args.seed, args.size)
    pids = (harness.jvm_pid(spark), os.getpid())
    t0 = time.perf_counter()
    w.setup()
    warm = harness.closed_loop(w, w.warmup_passes, tracer, pids=pids)
    setup_wall_s = session_s + time.perf_counter() - t0
    setup_cpu_s = harness.cpu_s(pids)
    # The ground truth held for the checks is long-lived: keep the
    # cyclic collector from walking it during timed operations.
    gc.collect()
    gc.freeze()
    # A traced run measures at least four passes, half of them traced,
    # so the two wall times give the tracing overhead.
    passes = max(4 if args.trace else 1, round(args.seconds / w.pass_seconds))
    loop = harness.closed_loop(w, passes, tracer, alternate_trace=bool(args.trace),
                               pids=pids)
    gc.unfreeze()
    attempted = loop.attempted + warm.attempted
    failed = loop.failed + warm.failed
    for err in warm.errors + loop.errors:
        print(f"FAILED: {err}", file=sys.stderr)

    # End-to-end figures come from the untraced passes only.
    plain = [i for i, t in enumerate(loop.op_traced) if not t]
    lat = [loop.latencies[i] for i in plain]
    cpu = [loop.cpu[i] for i in plain]
    pass_wall = [x for x, t in zip(loop.pass_walls, loop.pass_traced) if not t]
    pass_cpu = [x for x, t in zip(loop.pass_cpu, loop.pass_traced) if not t]
    cpu_tail, cpu_p, n = harness.tail(cpu)
    wall_tail, wall_p, _ = harness.tail(lat)
    e2e = {
        "setup_s": setup_cpu_s,
        "cpu_s": harness.med(pass_cpu),
        "op_cpu_p50_s": harness.med(cpu),
        "op_cpu_tail_s": cpu_tail,
        "peak_rss_mb": harness.peak_rss_mb(spark),
    }
    wall = {
        "setup_wall_s": setup_wall_s,
        "wall_s": harness.med(pass_wall),
        "rows_per_s": w.input_rows / harness.med(pass_wall),
        "op_p50_s": harness.med(lat),
        "op_tail_s": wall_tail,
        "host.steal_share": loop.steal,
    }
    error_rate = failed / attempted
    print(f"# {args.workload} seed={args.seed} passes={len(pass_wall)} ops={n} "
          f"op_cpu_tail_s=p{cpu_p:.1f} op_tail_s=p{wall_p:.1f} over n={n} "
          f"error_rate={error_rate:.4f} ({failed}/{attempted})")
    if n <= 20:
        print("# latencies_s: " + " ".join(f"{loop.kinds[i]}={loop.latencies[i]:.3f}"
                                           for i in plain))
    extra = w.metrics(loop)
    for k, v in sorted(extra.items()):
        print(f"# {k} = {v:.6g}")
    units = {name: unit for name, unit, *_ in metrics.END_TO_END + metrics.PER_LAYER}
    for k, v in {**e2e, **wall}.items():
        print(f"# {k} = {v:.6g} {units[k]}")
    if args.trace:
        values = _per_layer(tracer, w, loop, session_s, {**wall, **extra}, error_rate)
        span_file = gen.WORK / f"spans-{args.workload}-seed{args.seed}.json"
        tracer.write(span_file)
        print(f"# spans: {len(tracer.spans)} written to {span_file}")
        print(f"# tracing overhead: {values['trace.overhead_s']:+.4f} s per pass "
              "(traced minus untraced wall_s)")
    else:
        values = e2e
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()},
    }


def _per_layer(tracer, w, loop, session_s, extra, error_rate) -> dict:
    values = dict.fromkeys((name for name, *_ in metrics.PER_LAYER), 0.0)
    values["session.start_s"] = session_s
    for name, span in metrics.SPAN_TIMES.items():
        values[name] = harness.med(tracer.per_op(span))
    values["sources.parquet.bytes_written"] = harness.med(
        tracer.per_op("sources.parquet.write", "bytes_written"))
    for layer in metrics.LAYERS:
        for k, v in tracer.layer_counts(layer).items():
            values[f"{layer}.{k}"] = v
    values.update({k: v for k, v in extra.items() if k in values})  # wall + workload figures
    if hasattr(w, "layer_counts"):
        values.update(w.layer_counts())
    traced = [x for x, t in zip(loop.pass_walls, loop.pass_traced) if t]
    plain = [x for x, t in zip(loop.pass_walls, loop.pass_traced) if not t]
    values["trace.overhead_s"] = harness.med(traced) - harness.med(plain)
    values["error_rate"] = error_rate
    return values


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (gen.ROOT / "pandas_analysis_with_postgres_spark" / "__init__.py").is_file():
        print(f"error: the program is not in {gen.ROOT}; run from a full checkout",
              file=sys.stderr)
        return 2
    harness.configure_env(gen.WORK, harness.nproc())
    sys.path.insert(0, str(gen.ROOT))
    t0 = time.perf_counter()
    from pandas_analysis_with_postgres_spark.session import get_spark

    spark = get_spark("perfbench")
    session_s = time.perf_counter() - t0
    try:
        result = run(spark, args, session_s)
    finally:
        harness.stop_session(spark)
    if args.out is not None:
        args.out.mkdir(parents=True, exist_ok=True)
        name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
        (args.out / name).write_text(json.dumps(
            {"workload": args.workload, "seed": args.seed, "trace": args.trace,
             "seconds": args.seconds, "result": result}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
