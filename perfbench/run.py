#!/usr/bin/env python3
"""Benchmark entry point for glm_ocr_spark.

    python3 perfbench/run.py --workload chat_mixed --seed 1 \\
        --seconds 8 --trace 0

Run from the repository root. Inputs are generated from --seed (cached
under .perfbench_work/), a local[nproc] session is set up three times (the
median is setup_s), untimed passes warm the JVM's JIT, then passes run
in a closed loop for --seconds (at least three; one for curate). Every
pass's output is checked; a failed check exits 1 without a result. The
end-to-end throughput and CPU metrics are reported at a reference host
speed (ref_rows_per_s, ref_cpu_ms_per_row; see workloads.end_to_end),
next to the raw rows_per_s and cpu_ms_per_row. The last stdout line is
one JSON object:

    {"correct": true, "attempted": N, "failed": F, "metrics": {...}}

--trace 0 reports the end-to-end metrics, --trace 1 the per-layer metrics
of a separate traced run (Spark ablation phases, REST/SQL metrics, an
in-process kernel pass with timing wrappers). Lines before the last one
are a human-readable table of every metric measured, with its unit, and
one "record" JSON line: the run environment (nproc, SPARK_GRAFT_CPUS,
versions, git commit, co-tenant Spark JVMs), the input's property counts
and the check summaries. Traced runs write their spans to
.perfbench_work/traces/.

Workloads (see inputs.py for the generators):
  chat_mixed   gen.py's production turn mix through
               snapshot.run_with_snapshots: small-n kernel path,
               mapInArrow boundary, snapshot sink.
  dense_pages  80-300-block layout pages through pipeline.run: numpy
               geometry path, range-repartitioned sorted write.
  curate       seeded corpus through exact_dedup, dedup_keep_first,
               ngram_jaccard_pairs, embedding_neardup_pairs,
               semantic_dedup and curation_pipeline: the operator layer.
               A run takes ~80 s on 4 cores, most of it fixed per-query
               planning, so BENCHMARK.json does not list it; run it by
               name.
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
WORKLOADS = ("chat_mixed", "dense_pages", "curate")

# name -> unit; BENCHMARK.json lists the same names (checked by the
# self-tests)
END_TO_END = {
    "ref_rows_per_s": "1/s",
    "ref_cpu_ms_per_row": "ms",
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "ok_frac": "frac",
}
PER_LAYER = {
    "sources.scan_s": "s",
    "sources.input_bytes": "B",
    "pipeline.boundary_s": "s",
    "pipeline.py_run_s": "s",
    "pipeline.bytes_to_py": "B",
    "pipeline.bytes_from_py": "B",
    "pipeline.py_init_s": "s",
    "pipeline.dead_letters": "count",
    "pipeline.parallel_eff": "frac",
    "pipeline.sink_s": "s",
    "pipeline.shuffle_write_bytes": "B",
    "pipeline.output_bytes_per_row": "B",
    "kernel.turn_us": "us",
    "kernel.turn_tail_us": "us",
    "kernel.segment_us": "us",
    "kernel.geometry_small_us": "us",
    "kernel.geometry_numpy_us": "us",
    "kernel.recognize_us": "us",
    "kernel.format_us": "us",
    "kernel.finalize_us": "us",
    "kernel.other_us": "us",
    "kernel.spark_s": "s",
    "kernel.single_thread_turns_per_s": "1/s",
    "kernel.trace_overhead_frac": "frac",
    "kernel.fast_path_frac": "frac",
    "kernel.small_n_frac": "frac",
    "kernel.blocks_in": "count",
    "kernel.blocks_out": "count",
    "kernel.survivor_ratio": "frac",
    "kernel.empty_frac": "frac",
    "kernel.tool_skip_frac": "frac",
    "snapshot.commit_s": "s",
    "snapshot.commits": "count",
    "spark.task_p50_s": "s",
    "spark.task_max_s": "s",
    "spark.cpu_frac": "frac",
    "spark.spill_bytes": "B",
    "spark.gc_s": "s",
    "operators.dedup.exact_s": "s",
    "operators.dedup.keep_first_s": "s",
    "operators.dedup.ngram_jaccard_s": "s",
    "operators.similarity.neardup_s": "s",
    "operators.similarity.semdedup_s": "s",
    "operators.curation.pipeline_s": "s",
    "operators.shuffle_write_bytes": "B",
    "operators.dedup.candidate_pairs": "count",
    "operators.dedup.verified_pairs": "count",
    "operators.dedup.candidate_precision": "frac",
    "operators.dedup.max_shingle_freq": "count",
    "operators.similarity.candidate_pairs": "count",
    "operators.similarity.max_cell": "count",
    "trace.pass_wall_s": "s",
    "trace.split_residual_s": "s",
    "trace.overhead_frac": "frac",
}


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _isolate_temp(work: str) -> None:
    """Keep every temp file of the JVM and the Python workers inside the
    checkout (they inherit this process's environment)."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)


def _shutdown(spark) -> None:
    """Stop the session and the JVM, and wait until every process this
    run started has exited."""
    from pyspark import SparkContext

    from perfbench.probes import tree_pids

    started = tree_pids(os.getpid())[1:]
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if spark is not None:
        spark.stop()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - TimeoutExpired: force it
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.monotonic() + 30
    while True:
        alive = [p for p in started if os.path.exists(f"/proc/{p}")]
        if not alive:
            return
        if time.monotonic() > deadline:
            for p in alive:
                try:
                    os.kill(p, signal.SIGKILL)
                except OSError:
                    pass
            deadline = time.monotonic() + 30
        time.sleep(0.1)


def _table(values: dict, units: dict) -> list[str]:
    return [f"{k:<40} {values[k]:>16.6g} {units[k]}" for k in units
            if k in values]


def main(argv=None) -> int:
    args = _parse(argv)
    sys.path.insert(0, ROOT)
    try:
        import glm_ocr_spark.pipeline  # noqa: F401
        import tests.oracle  # noqa: F401
        import tools.quietbox  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the program is not importable from {ROOT}: {e}",
              file=sys.stderr)
        return 2

    from perfbench import expected, inputs, probes, workloads
    from perfbench.trace import Tracer

    work = os.path.join(ROOT, ".perfbench_work")
    _isolate_temp(work)
    nproc = len(os.sched_getaffinity(0))
    cotenant_before = probes.env_record(ROOT)["cotenant_spark_jvms"]
    t0 = time.perf_counter()
    entry = inputs.materialize(args.workload, args.seed,
                               os.path.join(work, "inputs"))
    gen_s = time.perf_counter() - t0
    run_dir = os.path.join(work, f"run-{os.getpid()}")
    os.makedirs(run_dir, exist_ok=True)
    spark = None
    try:
        spark, st = workloads.setup(nproc)
        ctx = workloads.Context(args.workload, args.seed, spark, entry,
                                run_dir, nproc)
        if args.trace:
            ctx.tracer = Tracer()
            fn = (workloads.traced_curate if args.workload == "curate"
                  else workloads.traced_extraction)
            res = fn(ctx, args.seconds, st)
            m = res["metrics"]
            e2e = {"setup_s": st["setup_s"],
                   "rows_per_s": ctx.rows() / m["trace.pass_wall_s"]}
            attempted = ctx.rows() * res["rounds"]
            failed = m.get("pipeline.dead_letters", 0) * res["rounds"]
            metrics = {k: float(m.get(k, 0.0)) for k in PER_LAYER}
            os.makedirs(os.path.join(work, "traces"), exist_ok=True)
            ctx.tracer.dump(os.path.join(
                work, "traces", f"{args.workload}-s{args.seed}.json"))
        else:
            res = workloads.end_to_end(ctx, args.seconds)
            e2e = {**res, "setup_s": st["setup_s"],
                   "ok_frac": 1.0 - res["error_frac"]}
            attempted, failed = res["attempted"], res["failed"]
            metrics = {k: float(e2e[k]) for k in END_TO_END}
        workloads.check_seed_digest(ctx)
        env = probes.env_record(ROOT, spark)
    except expected.CheckFailed as e:
        print(f"perfbench: output check failed: {e}", file=sys.stderr)
        return 1
    finally:
        _shutdown(spark)
        shutil.rmtree(run_dir, ignore_errors=True)

    env["cotenant_spark_jvms"] = max(env["cotenant_spark_jvms"],
                                     cotenant_before)
    if env["cotenant_spark_jvms"]:
        print("perfbench: WARNING: another Spark JVM was live during this "
              "run; its numbers are marked cotenant", file=sys.stderr)
    record = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "seconds": args.seconds, "cotenant": bool(env["cotenant_spark_jvms"]),
        "env": env, "input_props": entry["props"], "input_gen_s": gen_s,
        "setup": st, "checks": ctx.checks,
        "result": {k: v for k, v in res.items() if k != "metrics"},
    }
    print(f"# perfbench {args.workload} seed={args.seed} trace={args.trace}")
    print("record " + json.dumps(record, default=str))
    e2e.setdefault("error_frac", failed / attempted if attempted else 0.0)
    for line in _table(e2e, {**END_TO_END, "rows_per_s": "1/s",
                             "cpu_ms_per_row": "ms", "host_wall_s": "s",
                             "host_cpu_s": "s",
                             "error_frac": "frac",
                             "tree_peak_rss_mb": "MB"}):
        print(line)
    if args.trace:
        for line in _table(metrics, PER_LAYER):
            print(line)
    print(json.dumps({
        "correct": True, "attempted": int(attempted), "failed": int(failed),
        "metrics": {k: {"value": v, "unit": (PER_LAYER if args.trace
                                             else END_TO_END)[k]}
                    for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
