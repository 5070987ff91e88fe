"""CDC ingest benchmark.

    python3 perfbench/run.py --workload bulk_load --seed 1 --seconds 15 --trace 0

Run from the root of a checkout of this repository. Workloads are described
in `perfbench/workloads.py`; their rationale and the metrics' units and
bounds are in `BENCHMARK.json`; `MOVES` below maps each per-layer metric to
the end-to-end metric it should move.

The run pins its environment: Spark `local[<cores>]` with as many shuffle
partitions as cores, no console progress bars, and all scratch (lake
tables, landed inputs, Spark local dirs, JVM temp files) in
`.bench_scratch/` under the checkout, removed at exit. `--trace 0` prints
every end-to-end metric; `--trace 1` runs the same workload with staged,
span-traced writes, prints the per-layer metrics and writes the spans to
`.bench_traces/<workload>-seed<seed>.json`. The last line of standard
output is one JSON object: correct, attempted, failed, metrics.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Per-layer metric -> the end-to-end metric (and workload) it should move.
MOVES = {
    "pipeline.jobs_per_batch": "batch_p50_s on steady_upsert; barely "
                               "throughput_eps on bulk_load",
    "pipeline.stages_per_batch": "batch_p50_s on steady_upsert",
    "pipeline.tasks_per_batch": "batch_p50_s on steady_upsert",
    "pipeline.shuffle_write_bytes": "throughput_eps on bulk_load",
    "checkpoint.lineage_s": "batch_p50_s on steady_upsert",
    "registry.collect_s": "batch_p50_s on steady_upsert",
    "decode.s": "throughput_eps on bulk_load; not steady_upsert",
    "decode.rows_out": "throughput_eps on bulk_load",
    "fold.s": "throughput_eps on bulk_load",
    "fold.rows_in": "throughput_eps on bulk_load",
    "fold.keys_out": "throughput_eps on bulk_load",
    "fold.useful_share": "throughput_eps on bulk_load",
    "lake.merge_fast_s": "throughput_eps on bulk_load",
    "lake.merge_delta_s": "batch_p50_s on steady_upsert",
    "lake.merge_hybrid_s": "trace.batch_max_s on steady_upsert",
    "lake.merge_cow_s": "trace.batch_max_s on steady_upsert",
    "lake.compactions": "trace.batch_max_s on steady_upsert; read latencies",
    "lake.compact_merge_s": "trace.batch_max_s on steady_upsert",
    "lake.delta_files_max": "batch_p50_s, changelog_read_p50_s, scan_s "
                            "and point_read_p50_s on steady_upsert",
    "lake.commit_s": "batch_p50_s on steady_upsert",
    "lake.metadata_bytes": "batch_p50_s on steady_upsert",
    "lake.bytes_written": "storage_amp and throughput_eps",
    "lake.write_amp": "storage_amp and throughput_eps",
    "lake.read_scan_nodes": "point_read_p50_s",
    "stats.bytes_scanned_frac": "point_read_p50_s",
    "lake.where_scan_nodes": "scan_s",
    "stats.where_bytes_scanned_frac": "scan_s",
    "lake.changelog_buckets": "changelog_read_p50_s",
    "lake.read_keys100_s": "point_read_p50_s (same read path, 100 keys)",
    "trace.staged_batch_s": "none: staged write, for tracing overhead",
    "trace.apply_batch_s": "batch_p50_s (same write, untraced)",
    "trace.overhead_s": "none: tracing overhead",
    "trace.batch_max_s": "none: slowest write, staged or not (on "
                         "steady_upsert, the compaction stall)",
    "trace.glue_s": "none: benchmark glue inside a staged write",
}


def start_spark(scratch: str):
    from mariadb_cdc_spark.session import get_spark

    cores = len(os.sched_getaffinity(0))
    tmp = os.path.join(scratch, "tmp")
    os.makedirs(tmp)
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(scratch, "spark-local"),
            "spark.driver.memory": "2g",
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            # landed inputs are small; finer splits keep every core busy
            "spark.sql.files.maxPartitionBytes": str(8 << 20),
            "spark.sql.files.openCostInBytes": str(1 << 20),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway JVM exits at end of input
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def end_to_end(run, setup_s: float) -> tuple[dict, dict]:
    from perfbench.probes import median, tail

    s = run.samples
    point_tail, pct = tail(s["point"])
    out = {
        "setup_s": setup_s,
        "throughput_eps": run.events_applied / max(run.apply_s, 1e-9),
        "batch_p50_s": median(s["batch"]),
        "point_read_p50_s": median(s["point"]),
        "changelog_read_p50_s": median(s["changelog"]),
        "scan_s": median(s["scan"]),
        "storage_amp": run.live_ratio,
        "success_rate": 1 - run.failed / max(run.attempted, 1),
    }
    notes = {
        "batch_p50_s": f"n={len(s['batch'])}, max "
                       f"{max(s['batch'], default=0):.3f} s, compactions "
                       f"{len(run.layer['lake.compactions'])}",
        "point_read_p50_s": f"n={len(s['point'])}, tail p{pct} "
                            f"{point_tail:.3f} s",
        "changelog_read_p50_s": f"n={len(s['changelog'])}",
        "scan_s": f"p50 n={len(s['scan'])}",
        "setup_s": f"p50 n={len(s['setup'])}",
    }
    return out, notes


def per_layer(run) -> tuple[dict, dict]:
    from perfbench.probes import median

    lay = run.layer
    med = {k: median(v) for k, v in lay.items()}
    staged = run.samples["trace.staged_batch"]
    applied = lay["trace.apply_batch_s"]
    self_s = run.tracer.self_times()
    n_staged = max(len(staged), 1)
    out = {
        "pipeline.jobs_per_batch": med.get("pipeline.jobs"),
        "pipeline.stages_per_batch": med.get("pipeline.stages"),
        "pipeline.tasks_per_batch": med.get("pipeline.tasks"),
        "pipeline.shuffle_write_bytes": med.get("pipeline.shuffle_write_bytes"),
        "checkpoint.lineage_s": med.get("checkpoint.lineage_s"),
        "registry.collect_s": med.get("registry.collect_s"),
        "decode.s": med.get("decode.s"),
        "decode.rows_out": med.get("decode.rows_out"),
        "fold.s": med.get("fold.s"),
        "fold.rows_in": med.get("fold.rows_in"),
        "fold.keys_out": med.get("fold.keys_out"),
        "fold.useful_share": sum(lay["fold.keys_out"])
        / max(sum(lay["fold.rows_in"]), 1),
        "lake.merge_fast_s": med.get("lake.merge_fast_s", 0.0),
        "lake.merge_delta_s": med.get("lake.merge_delta_s", 0.0),
        "lake.merge_hybrid_s": med.get("lake.merge_hybrid_s", 0.0),
        "lake.merge_cow_s": med.get("lake.merge_cow_s", 0.0),
        "lake.compactions": len(lay["lake.compactions"]),
        "lake.compact_merge_s": med.get("lake.compact_merge_s", 0.0),
        "lake.delta_files_max": max(lay["lake.delta_files_max"], default=0),
        "lake.commit_s": med.get("lake.commit_s"),
        "lake.metadata_bytes": med.get("lake.metadata_bytes"),
        "lake.bytes_written": med.get("lake.bytes_written"),
        "lake.write_amp": sum(lay["lake.bytes_written"])
        / max(sum(lay["lake.image_bytes"]), 1),
        "lake.read_scan_nodes": med.get("lake.read_scan_nodes"),
        "stats.bytes_scanned_frac": med.get("stats.bytes_scanned_frac"),
        "lake.where_scan_nodes": med.get("lake.where_scan_nodes"),
        "stats.where_bytes_scanned_frac":
            med.get("stats.where_bytes_scanned_frac"),
        "lake.changelog_buckets": med.get("lake.changelog_buckets"),
        "lake.read_keys100_s": median(run.samples["keys100"]),
        "trace.staged_batch_s": median(staged),
        "trace.apply_batch_s": median(applied),
        "trace.overhead_s": median(staged) - median(applied),
        "trace.batch_max_s": max(staged + applied, default=None),
        "trace.glue_s": self_s.get("trace.staged_batch", 0.0) / n_staged,
    }
    notes = {
        "trace.overhead_s": f"staged n={len(staged)} "
                            f"apply_batch n={len(applied)}",
        "lake.compact_merge_s": f"n={len(lay['lake.compact_merge_s'])}",
    }
    return out, notes


def main(argv=None) -> int:
    t_start = time.perf_counter()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=30)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "mariadb_cdc_spark")):
        print(f"perfbench: engine package mariadb_cdc_spark not found "
              f"under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    scratch = os.path.join(ROOT, ".bench_scratch", f"run-{os.getpid()}")
    os.makedirs(scratch)
    os.environ["TMPDIR"] = os.path.join(scratch, "tmp")
    spark = None
    try:
        spark = start_spark(scratch)
        print(f"session up after {time.perf_counter() - t_start:.1f} s")
        run = workloads.Run(spark, scratch, args.seed, args.seconds,
                            bool(args.trace))
        workloads.WORKLOADS[args.workload](run)
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(scratch, ignore_errors=True)

    from perfbench.probes import median

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        declared = json.load(f)
    setup_s = median(run.samples["setup"])
    if args.trace:
        values, notes = per_layer(run)
        units = {m["name"]: m["unit"] for m in declared["per_layer"]}
        trace_path = os.path.join(
            ROOT, ".bench_traces", f"{args.workload}-seed{args.seed}.json")
        run.tracer.dump(trace_path)
        print(f"spans: {trace_path}")
        for name, secs in sorted(run.tracer.self_times().items()):
            print(f"self {name:32s} {secs:10.3f} s")
    else:
        values, notes = end_to_end(run, setup_s)
        units = {m["name"]: m["unit"] for m in declared["end_to_end"]}
    if set(values) != set(units):
        raise SystemExit(f"perfbench: metrics {sorted(set(values) ^ set(units))}"
                         " differ from BENCHMARK.json")
    metrics = {}
    for name, value in values.items():
        if value is None or math.isnan(value):
            # an operation kind without samples: only failures can cause
            # it in an end-to-end run; a layer the workload never touched
            # reads 0
            if not args.trace:
                run.fail(f"no samples for {name}")
            value, notes[name] = 0.0, "no samples"
        metrics[name] = {"value": float(value), "unit": units[name]}
        note = notes.get(name, "")
        if args.trace:
            note = f"{note} -> {MOVES[name]}".strip()
        print(f"{name:32s} {value:14.6g} {units[name]:8s} {note}")
    for kind, xs in sorted(run.samples.items()):
        print(f"samples {kind:20s} " + " ".join(f"{x:.3f}" for x in xs))
    for p in run.problems:
        print(f"problem: {p}")
    print(f"run wall time {time.perf_counter() - t_start:.1f} s")
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
