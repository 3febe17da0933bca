#!/usr/bin/env python3
"""Product-path benchmark for claimskg_generator_spark.

    python3 perfbench/run.py --workload claims_build --seed 1 --seconds 10 --trace 0

Runs one workload on the unchanged package from the checkout root: set-up
(repeated, median reported), then timed operations, each output checked
outside the timed window.  A batch build is one cold build per process;
the serving workload warms up, then runs rounds until ``--seconds`` of
round time and at least three rounds.  ``--trace 1`` adds one traced pass and
reports per-layer metrics instead of the end-to-end ones.  A summary table
goes to stdout; the last stdout line is the JSON result.  See README.md.
"""

import argparse
import json
import os
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TRACE_DIR = ".perfbench_traces"

# (name, unit) of the end-to-end metrics every workload reports
END_TO_END = [
    ("setup_s", "s"),
    ("wall_s", "s"),
    ("peak_rss_mb", "MB"),
    ("ok_frac", "frac"),
]

LAYERS = [
    "sources.claims", "operators.ratings_join", "operators.row_triples",
    "operators.mentions", "operators.keywords", "plans.pipeline",
    "plans.checkpoints", "operators.views", "operators.reconcile",
    "sources.codesynth", "operators.code_kg", "sources.snapshot_table",
    "operators.sparql", "operators.bgp", "operators.sparql_update",
]
LAYER_COUNTERS = [("busy_s", "s"), ("rows_in", "rows"), ("rows_out", "rows"),
                  ("tasks", "count"), ("tasks_failed", "count")]
# per-layer metrics beyond the counters every layer has
LAYER_EXTRAS = [
    ("plans.pipeline.plan_build_s", "s"),
    ("plans.pipeline.dedup_s", "s"),
    ("plans.pipeline.sink_s", "s"),
    ("plans.pipeline.dedup_keep_frac", "frac"),
    ("plans.pipeline.scaling_eff_1to4", "frac"),
    ("plans.checkpoints.write_s", "s"),
    ("operators.mentions.kept_frac", "frac"),
    ("operators.keywords.thesaurus_hit_frac", "frac"),
    ("operators.reconcile.candidate_pairs", "pairs"),
    ("operators.reconcile.sameas_edges", "edges"),
    ("operators.reconcile.pair_yield", "frac"),
    ("operators.code_kg.triples_s", "s"),
    ("operators.code_kg.materialize_s", "s"),
    ("sources.snapshot_table.append_s", "s"),
    ("sources.snapshot_table.read_s", "s"),
    ("sources.snapshot_table.kept_file_frac", "frac"),
    ("operators.sparql.plan_s", "s"),
    ("operators.sparql.exec_s", "s"),
    ("trace.total_s", "s"),
    ("trace.self_sum_s", "s"),
    ("trace.overhead_s", "s"),
    ("host.sha256_mb_per_s", "MB/s"),
]
PER_LAYER = ([(f"{layer}.{c}", u) for layer in LAYERS
              for c, u in LAYER_COUNTERS] + LAYER_EXTRAS)


def quartiles(values):
    """(q1, median, q3) as statistics.quantiles gives them."""
    if len(values) == 1:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def tail_percentile(values):
    """The highest percentile up to p90 with at least ten samples beyond
    it, as (percentile, value); None when there are fewer than 20."""
    n = len(values)
    if n < 20:
        return None
    p = min(90, int(100 * (1 - 10 / n)))
    return p, statistics.quantiles(values, n=100)[p - 1]


def summarize(name, unit, values, out):
    q1, med, q3 = quartiles(values)
    out.append(f"  {name:<22} {unit:<10} median {med:12.4f}  "
               f"q1 {q1:12.4f}  q3 {q3:12.4f}  n {len(values)}")


def log(t_start: float, what: str) -> None:
    print(f"perfbench: {time.perf_counter() - t_start:7.1f}s {what}",
          file=sys.stderr, flush=True)


def run(args) -> int:
    t_start = time.perf_counter()
    sys.path.insert(0, ROOT)
    import harness
    from tracing import Tracer
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of "
              f"{sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    scratch = harness.Scratch(ROOT)
    spark = None
    sampler = None
    try:
        host_mb_s = harness.sha256_mb_per_s()
        spark = harness.start_session(ROOT, scratch)
        sampler = harness.RssSampler().start()
        log(t_start, "session started")
        wl = WORKLOADS[args.workload](spark, scratch, args.seed)

        setup_s = []
        for _ in range(wl.setup_repeats):
            t0 = time.perf_counter()
            wl.setup()
            setup_s.append(time.perf_counter() - t0)
        checked = []  # (kind, ok) of every checked operation
        setup_ok = wl.check_setup()
        if setup_ok is not None:
            checked.append(("publish", setup_ok))
        log(t_start, "set-up done")
        wl.warm_up()
        log(t_start, "warm-up done")
        wl.restore()
        harness.drop_cached_state(spark)

        ops = []
        measured = 0.0
        peak_rss = 0.0
        while wl.more(ops, measured, args.seconds):
            harness.assert_no_cached_state(spark)
            sampler.reset()
            cpu0 = harness.descendants_cpu_s(os.getpid())
            try:
                op = wl.op()
            except Exception:
                traceback.print_exc()
                checked.append(("error", False))
                break
            op.cpu_s = harness.descendants_cpu_s(os.getpid()) - cpu0
            peak_rss = max(peak_rss, sampler.read())
            measured += op.wall_s
            ops.append(op)
            try:
                wl.check(op)  # outside the timed window
            except Exception:
                traceback.print_exc()
                for r in op.requests:
                    r.ok = False
            wl.cleanup(op)
            harness.drop_cached_state(spark)
        log(t_start, "timed operations done")
        checked += [(r.kind, r.ok) for op in ops for r in op.requests]

        lines = [f"# perfbench {args.workload} seed={args.seed} "
                 f"seconds={args.seconds} ops={len(ops)} "
                 f"host_sha256={host_mb_s:.1f}MB/s"]
        walls = [op.wall_s for op in ops] or [float("nan")]
        wall = wl.wall_s(ops) if ops else float("nan")
        summarize("setup_s", "s", setup_s, lines)
        summarize("op_wall_s", "s", walls, lines)
        lines.append(f"  {'wall_s':<22} {'s':<10} {wall:.4f}")
        cpus = [op.cpu_s for op in ops] or [float("nan")]
        summarize("cpu_s", "s", cpus, lines)
        if wl.batch:
            units = wl.units()
            summarize("rows_per_s", "rows/s",
                      [units["rows"] / w for w in walls], lines)
            summarize("triples_per_s", "triples/s",
                      [units["triples"] / w for w in walls], lines)
        else:
            reads = [r.latency_s for op in ops for r in op.requests
                     if r.kind != "update"]
            updates = [r.latency_s for op in ops for r in op.requests
                       if r.kind == "update"]
            summarize("query_p50_s", "s", reads, lines)
            tail = tail_percentile(reads)
            if tail:
                lines.append(f"  query_p{tail[0]}_s            s          "
                             f"{tail[1]:.4f} (n {len(reads)})")
            else:
                lines.append(f"  query_p90_s: too few queries "
                             f"(n {len(reads)}) for a tail percentile")
            summarize("queries_per_s", "queries/s",
                      [sum(r.kind != "update" for r in op.requests) / op.wall_s
                       for op in ops], lines)
            summarize("update_p50_s", "s", updates, lines)
        failed = sum(not ok for _, ok in checked)
        summarize("peak_rss_mb", "MB", [peak_rss], lines)
        summarize("failed_frac", "frac", [failed / max(len(checked), 1)],
                  lines)

        if not args.trace:
            values = {
                "setup_s": statistics.median(setup_s),
                "wall_s": wall,
                "peak_rss_mb": peak_rss,
                "ok_frac": 1 - failed / max(len(checked), 1),
            }
            metrics = {n: {"value": values[n], "unit": u}
                       for n, u in END_TO_END}
        else:
            tracer = Tracer(spark, f"{args.workload}-{args.seed}")
            extra = wl.traced(tracer)
            log(t_start, "traced pass done")
            checked.append(("traced", extra.pop("traced_ok")))
            # builds compare with a warm untraced build; the serving pass
            # re-publishes, then runs one round
            untraced = extra.pop("untraced_s", None)
            if untraced is None:
                untraced = statistics.median(setup_s) + wall
            harness.drop_cached_state(spark)
            values = tracer.layer_metrics(LAYERS)
            values.update(extra)
            values["trace.total_s"] = tracer.total_s()
            values["trace.self_sum_s"] = sum(sp.self_s for sp in tracer.spans)
            values["trace.overhead_s"] = tracer.total_s() - untraced
            values["host.sha256_mb_per_s"] = host_mb_s
            if wl.batch:
                # diagnostic only: the same build at local[1], in the same
                # JVM (heap and temp dir stay as first launched)
                spark.stop()
                spark = harness.start_session(ROOT, scratch, 1)
                wl.spark = spark
                op = wl.op()
                wl.check(op)
                wl.cleanup(op)
                checked += [(r.kind, r.ok) for r in op.requests]
                values["plans.pipeline.scaling_eff_1to4"] = (
                    op.wall_s / (harness.CORES * untraced))
            os.makedirs(os.path.join(ROOT, TRACE_DIR), exist_ok=True)
            trace_path = os.path.join(
                ROOT, TRACE_DIR, f"{args.workload}-seed{args.seed}.json")
            tracer.dump(trace_path)
            lines.append(f"# spans: {trace_path}")
            for name, unit in PER_LAYER:
                v = values.get(name, 0.0)
                if v:
                    lines.append(f"  {name:<44} {unit:<6} {v:.4f}")
            metrics = {n: {"value": values.get(n, 0.0), "unit": u}
                       for n, u in PER_LAYER}
            failed = sum(not ok for _, ok in checked)

        log(t_start, "done")
        print("\n".join(lines))
        print(json.dumps({"correct": failed == 0, "attempted": len(checked),
                          "failed": failed, "metrics": metrics}))
        return 0
    finally:
        if sampler is not None:
            sampler.stop()
        if spark is not None:
            harness.stop_session(spark)
        scratch.close()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "claimskg_generator_spark",
                                       "__init__.py")):
        print("perfbench: run from a checkout holding the "
              "claimskg_generator_spark package", file=sys.stderr)
        return 2
    return run(args)


if __name__ == "__main__":
    sys.exit(main())
