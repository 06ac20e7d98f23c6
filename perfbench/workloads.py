"""The three workloads: one pass each through the program's public entry
points, their output checks, and the traced run's per-layer split.

Every pass is closed-loop: the next starts only after the previous one
has committed its output, on one local[nproc] session driven from this
process. Untraced passes run the entry point exactly as a user would;
the traced run adds Spark ablation phases, REST/SQL metric capture and an
in-process kernel pass with timing wrappers.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import random
import shutil
import time

from perfbench import expected, probes
from perfbench.inputs import BENCH_SOURCE
from perfbench.trace import Tracer, self_time_by_name

_now = time.perf_counter

# kernel layer -> functions extract_turn reaches through module attributes
KERNEL_LAYERS = {
    "segment": [("glm_ocr_spark.kernel.extract", "segment_rows"),
                ("glm_ocr_spark.kernel.extract", "segment")],
    "geometry_small": [("glm_ocr_spark.kernel.geometry_py",
                        "survivors_small")],
    "geometry_numpy": [("glm_ocr_spark.kernel.geometry", n) for n in (
        "nms", "filter_oversized_images", "apply_merge_modes",
        "xy_cut_order", "unclip", "clamp_and_validate")],
    "recognize": [("glm_ocr_spark.kernel.extract", "recognize")],
    "format": [("glm_ocr_spark.kernel.extract", n) for n in (
        "format_content", "merge_formula_numbers", "merge_text_blocks",
        "format_bullet_points")],
    "finalize": [("glm_ocr_spark.kernel.extract", "finalize_page")],
}
KERNEL_SAMPLE = {"chat_mixed": 4000, "dense_pages": 60}
# Untimed warm-up passes and the least timed passes per run. The JVM's
# JIT-compiled scan, Arrow and write paths keep getting faster over the
# first ~120k rows (on 4 cores a chat_mixed pass's JVM CPU falls ~4x), and
# how fast differs from JVM to JVM, so timing those passes would measure
# the compile queue. dense_pages does little JVM work per row and is flat
# after its first pass. A curate pass is mostly fixed per-query planning
# (~30 s on a fresh JVM, ~16 s warm, on 4 cores), so it gets one of each.
WARM_PASSES = {"chat_mixed": 6, "dense_pages": 2, "curate": 1}
MIN_PASSES = {"chat_mixed": 3, "dense_pages": 3, "curate": 1}
ORACLE_SAMPLE = {"chat_mixed": 300, "dense_pages": 6}


class Context:
    """Per-run state shared by passes and checks."""

    def __init__(self, workload, seed, spark, entry, work, nproc):
        self.workload, self.seed, self.spark = workload, seed, spark
        self.entry, self.work, self.nproc = entry, work, nproc
        self.con = expected.duck(nproc)
        self.digests: list[str] = []
        self.checks: dict = {}
        self.tracer: Tracer | None = None
        self._input_summary = None

    @property
    def input_dir(self):
        return os.path.join(self.entry["dir"], "input")

    def input_files(self) -> list[str]:
        return sorted(glob.glob(os.path.join(self.input_dir, "*.parquet")))

    def input_bytes(self) -> int:
        """On-disk bytes of the input tables."""
        return sum(os.path.getsize(f) for f in glob.glob(
            os.path.join(self.entry["dir"], "*", "*.parquet")))

    def rows(self) -> int:
        if self.workload == "curate":
            return self.entry["props"]["docs"]
        return self.entry["props"].get("turns") or self.entry["props"]["pages"]

    def input_summary(self) -> dict:
        if self._input_summary is None:
            self._input_summary = expected.table_summary(
                self.con, self.input_files(), ("conv_id", "turn_idx"))
        return self._input_summary

    def sample_turns(self, salt: str, k: int) -> dict:
        """A seeded sample of k input turns: {key: (text, tool)}."""
        keys = expected.read_rows(self.con, self.input_files(),
                                  ("conv_id", "turn_idx"))
        keys.sort()
        pick = random.Random(f"{self.seed}:{salt}").sample(
            keys, min(k, len(keys)))
        rows = expected.fetch_rows(self.con, self.input_files(), pick,
                                   ("conv_id", "turn_idx", "text", "tool"))
        return {key: rows[key][2:] for key in pick}


# --------------------------------------------------------------- sessions

def new_session(nproc: int):
    from glm_ocr_spark.pipeline import get_spark

    spark = get_spark(app="perfbench", master=f"local[{nproc}]",
                      extra_conf={"spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def warm_workers(spark, nproc: int) -> None:
    """One task per core that imports the extraction and operator modules,
    so every reusable Python worker is forked and warm."""
    def body(batches):
        import time as _t

        import glm_ocr_spark.operators.similarity  # noqa: F401
        import glm_ocr_spark.pipeline  # noqa: F401

        _t.sleep(0.05)  # keep the tasks overlapping: one worker per core
        yield from batches

    (spark.range(0, nproc, 1, nproc).mapInArrow(body, "id long")
     .write.format("noop").mode("overwrite").save())


def setup(nproc: int, reps: int = 3):
    """Session plus warm workers, `reps` times; the first launches the
    JVM, the rest restart the context inside it. Returns the last session
    and the times."""
    spark, total, py_init = None, [], []
    for _ in range(reps):
        if spark is not None:
            spark.stop()
        t0 = _now()
        spark = new_session(nproc)
        t1 = _now()
        warm_workers(spark, nproc)
        t2 = _now()
        total.append(t2 - t0)
        py_init.append(t2 - t1)
    return spark, {"setup_s": probes.median(total), "setup_each_s": total,
                   "py_init_s": probes.median(py_init)}


# ------------------------------------------------------------------ passes

def _pass_dir(ctx: Context, tag) -> str:
    d = os.path.join(ctx.work, f"pass-{tag}")
    shutil.rmtree(d, ignore_errors=True)
    return d


def run_pass(ctx: Context, tag):
    """One pass of the workload's entry point into a fresh output
    location. Returns the output location."""
    out = _pass_dir(ctx, tag)
    spark = ctx.spark
    if ctx.workload == "chat_mixed":
        from glm_ocr_spark.snapshot import run_with_snapshots

        run_with_snapshots(spark, spark.read.parquet(ctx.input_dir), out)
    elif ctx.workload == "dense_pages":
        from glm_ocr_spark.pipeline import run

        run(spark, ctx.input_dir, out)
    else:
        docs = spark.read.parquet(os.path.join(ctx.entry["dir"], "docs"))
        emb = spark.read.parquet(os.path.join(ctx.entry["dir"], "emb"))
        for name, build in curate_operators():
            # building the plan runs jobs too (connected components
            # iterates eagerly), so the span covers build and write
            with (ctx.tracer.span(f"operators.{name}") if ctx.tracer
                  else contextlib.nullcontext()):
                build(docs, emb).write.mode("overwrite").parquet(
                    os.path.join(out, name))
        from glm_ocr_spark.operators.dedup import release_persisted

        release_persisted()
    return out


def curate_operators():
    from glm_ocr_spark.operators import curation, dedup, similarity

    return [
        ("dedup.exact", lambda d, e: dedup.exact_dedup(d)),
        ("dedup.keep_first", lambda d, e: dedup.dedup_keep_first(d)),
        ("dedup.ngram_jaccard",
         lambda d, e: dedup.ngram_jaccard_pairs(d, n=3, threshold=0.8)),
        ("similarity.neardup",
         lambda d, e: similarity.embedding_neardup_pairs(e, threshold=0.9)),
        ("similarity.semdedup",
         lambda d, e: similarity.semantic_dedup(e, threshold=0.9)),
        ("curation.pipeline",
         lambda d, e: curation.curation_pipeline(d, [BENCH_SOURCE])),
    ]


def output_files(ctx: Context, out: str) -> list[str]:
    """The pass's committed parquet files: for snapshots, the ones the
    newest manifest lists; for a plain write, the output directory."""
    if ctx.workload == "chat_mixed":
        ids = [int(f[len("manifest-"):-len(".json")])
               for f in os.listdir(out) if f.startswith("manifest-")]
        expected.require(bool(ids), "no snapshot manifest committed")
        with open(os.path.join(out, f"manifest-{max(ids):012d}.json")) as f:
            m = json.load(f)
        return sorted(p for b in m["buckets"].values() for p in b["files"])
    return sorted(glob.glob(os.path.join(out, "*.parquet")))


def check_pass(ctx: Context, out: str) -> dict:
    """Check one pass's output; raises expected.CheckFailed. The oracle
    sample runs on the first checked pass; the digest on every pass and
    must repeat exactly, within the run and across runs of one seed."""
    if ctx.workload == "curate":
        res = {}
        cols = {"exact": ("content_hash", "n_copies", "keeper_id"),
                "keep_first": ("doc_id",),
                "ngram": ("id1", "id2", "jaccard"),
                "neardup": ("id1", "id2", "cos_sim"),
                "semdedup": ("vec_id", "cell"),
                "curation": ("doc_id", "lang", "source", "n_words")}
        dirs = dict(zip(cols, (n for n, _ in curate_operators())))
        for key, names in cols.items():
            files = sorted(glob.glob(
                os.path.join(out, dirs[key], "*.parquet")))
            rows = expected.read_rows(ctx.con, files, names)
            res[key] = [r[0] for r in rows] if len(names) == 1 else rows
        summary = expected.check_curate(res, ctx.entry["expected"])
        digest = expected.row_digest(
            (k, *r) if isinstance(r, tuple) else (k, r)
            for k, rows in res.items() for r in rows)
        dead = 0
    else:
        files = output_files(ctx, out)
        oracle = {} if ctx.digests else ctx.sample_turns(
            "oracle", ORACLE_SAMPLE[ctx.workload])
        summary = expected.check_extraction(
            ctx.con, files, ctx.input_summary(), oracle)
        dead = summary["dead_letters"]
        digest = summary.pop("digest")
        summary["output_bytes"] = sum(os.path.getsize(f) for f in files)
    ctx.digests.append(digest)
    expected.require(digest == ctx.digests[0],
                     f"output digest {digest} != {ctx.digests[0]} of the "
                     "first pass of this run")
    ctx.checks = {**summary, "digest": digest}
    shutil.rmtree(out, ignore_errors=True)
    return {"dead_letters": dead, **summary}


def check_seed_digest(ctx: Context) -> None:
    """The digest must repeat for the seed across runs: the first run of a
    seed records it next to the cached inputs, later runs compare."""
    path = os.path.join(ctx.entry["dir"], "digest.json")
    if os.path.exists(path):
        with open(path) as f:
            want = json.load(f)["digest"]
        expected.require(ctx.digests[0] == want,
                         f"output digest {ctx.digests[0]} != {want} recorded "
                         f"by an earlier run of seed {ctx.seed}")
    else:
        with open(path, "w") as f:
            json.dump({"digest": ctx.digests[0]}, f)


# ---------------------------------------------------------- end to end

def warm_up(ctx: Context, host=None) -> None:
    """WARM_PASSES checked passes, each followed by a host probe when
    `host` is a list to append to."""
    for w in range(WARM_PASSES[ctx.workload]):
        check_pass(ctx, run_pass(ctx, f"warm{w}"))
        if host is not None:
            host.append(probes.host_probe(ctx.nproc))


def end_to_end(ctx: Context, seconds: float) -> dict:
    """Closed loop of passes for `seconds` (at least MIN_PASSES) after
    WARM_PASSES untimed ones. Per pass: wall, process-tree CPU, peak RSS;
    every pass's output is checked outside its timing, and a host probe
    follows every pass (warm ones too).

    rows_per_s and cpu_ms_per_row are as measured; ref_rows_per_s scales
    the first by the run's median probe wall against
    probes.HOST_REF_WALL_S, ref_cpu_ms_per_row the second by the median
    probe CPU time against probes.HOST_REF_CPU_S, so that a co-tenant
    slowing the whole host moves the program and the probe alike and
    cancels out (wall for wall, which CPU steal stretches, and CPU for
    CPU). The probe's code is fixed, so a change to the program moves only
    the program's side."""
    root = os.getpid()
    min_passes = MIN_PASSES[ctx.workload]
    host = []
    t_warm = _now()
    warm_up(ctx, host)
    t_warm = _now() - t_warm
    n = ctx.rows()
    walls, cpus, jvm_cpus, peaks, worker_peaks, check_s = ([], [], [], [],
                                                          [], [])
    attempted = failed = dead = 0
    errors = []
    deadline = _now() + seconds
    k = 0
    while k < min_passes or _now() < deadline:
        cpu0 = probes.tree_cpu_split(root)
        t0 = _now()
        try:
            with probes.RssPeak(root) as rss:
                out = run_pass(ctx, k)
        except Exception as e:  # noqa: BLE001 - a failed pass is counted
            errors.append(f"{type(e).__name__}: {str(e)[:300]}")
            attempted += n
            failed += n
            k += 1
            continue
        wall = _now() - t0
        cpu1 = probes.tree_cpu_split(root)
        jvm_cpus.append(cpu1["jvm"] - cpu0["jvm"])
        cpu = sum(cpu1.values()) - sum(cpu0.values())
        t_check = _now()
        d = check_pass(ctx, out)["dead_letters"]
        check_s.append(_now() - t_check)
        host.append(probes.host_probe(ctx.nproc))
        attempted += n
        failed += d
        dead += d
        walls.append(wall)
        cpus.append(cpu)
        peaks.append(rss.peak)
        worker_peaks.append(rss.worker_peak)
        k += 1
    rps = probes.median([n / w for w in walls]) if walls else 0.0
    cpu_ms = probes.median([c * 1e3 / n for c in cpus]) if cpus else 0.0
    host_wall = probes.median([w for w, _ in host])
    host_cpu = probes.median([c for _, c in host])
    return {
        "passes": k, "rows_per_pass": n, "attempted": attempted,
        "failed": failed, "dead_letters": dead, "pass_errors": errors,
        "pass_wall_s": walls, "pass_cpu_s": cpus,
        "pass_jvm_cpu_s": jvm_cpus, "check_s": check_s,
        "warm_pass_s": t_warm, "host": host,
        "rows_per_s": rps, "cpu_ms_per_row": cpu_ms,
        "host_wall_s": host_wall, "host_cpu_s": host_cpu,
        "ref_rows_per_s": rps * host_wall / probes.HOST_REF_WALL_S,
        "ref_cpu_ms_per_row": cpu_ms * probes.HOST_REF_CPU_S / host_cpu,
        # The whole tree's peak is dominated by the JVM, whose RSS follows
        # G1's heap sizing and off-heap buffer reuse from pass to pass (it
        # spread 40% across seeds on 4 cores); the Python workers' peak
        # repeats, so that is the end-to-end memory metric and the tree's
        # is recorded.
        "tree_peak_rss_mb": max(peaks) / 2 ** 20 if peaks else 0.0,
        "peak_rss_mb": max(worker_peaks) / 2 ** 20 if peaks else 0.0,
        "error_frac": failed / attempted if attempted else 1.0,
    }


# ------------------------------------------------------------- traced run

def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _stub_body(batches):
    """mapInArrow body with the extraction output schema that forwards
    the key columns and emits nulls: the boundary without the kernel."""
    import pyarrow as pa

    spans_type = pa.list_(pa.struct([
        ("start", pa.int32()), ("end", pa.int32()), ("label", pa.string())]))
    names = ["conv_id", "turn_idx", "role", "extracted_text", "markdown",
             "json", "spans", "n_blocks", "error"]
    types = [pa.string(), pa.string(), pa.string(), spans_type, pa.int32(),
             pa.string()]
    for b in batches:
        n = b.num_rows
        yield pa.RecordBatch.from_arrays(
            [b.column(0), b.column(1), b.column(2)]
            + [pa.nulls(n, t) for t in types], names=names)


def _phase(ctx, rest, name, fn) -> dict:
    mark = rest.mark()
    with ctx.tracer.span(f"phase.{name}", group=ctx.tracer.new_group()):
        t0 = _now()
        out = fn()
        wall = _now() - t0
    return {"wall_s": wall, "out": out, **rest.since(mark)}


def _median_of(dicts: list[dict], key: str) -> float:
    return probes.median([d[key] for d in dicts])


def traced_extraction(ctx: Context, seconds: float, e2e_setup: dict) -> dict:
    """Ablation phases (scan-only noop, stub-body mapInArrow, extract +
    noop, full job) in rounds, each round also running one untraced full
    pass, on the same input and session; then the in-process kernel
    pass."""
    from glm_ocr_spark import pipeline

    spark, tr = ctx.spark, ctx.tracer
    rest = probes.SparkRest(spark)
    warm_up(ctx)
    n = ctx.rows()
    cols = ["conv_id", "turn_idx", "role", "text", "tool"]

    def full_traced():
        tr.wrap("glm_ocr_spark.pipeline", "extract_transcripts",
                "pipeline.plan")
        tr.wrap("glm_ocr_spark.snapshot", "SnapshotStore.commit",
                "snapshot.commit")
        try:
            with tr.span("pass.full"):
                return run_pass(ctx, "traced")
        finally:
            tr.unwrap_all()

    rounds: dict[str, list] = {"scan": [], "stub": [], "extract": [],
                               "full": [], "untraced": []}
    deadline = _now() + seconds
    r = 0
    while r < 1 or _now() < deadline:
        df = spark.read.parquet(ctx.input_dir)
        rounds["scan"].append(_phase(ctx, rest, "scan", lambda: _noop(df)))
        rounds["stub"].append(_phase(ctx, rest, "stub", lambda: _noop(
            df.select(*cols).mapInArrow(
                _stub_body, schema=pipeline.EXTRACTED_SCHEMA))))
        rounds["extract"].append(_phase(
            ctx, rest, "extract",
            lambda: _noop(pipeline.extract_transcripts(df))))
        full = _phase(ctx, rest, "full", full_traced)
        dead = check_pass(ctx, full.pop("out"))["dead_letters"]
        rounds["full"].append({**full, "dead_letters": dead})
        t0 = _now()
        out = run_pass(ctx, f"untraced{r}")
        rounds["untraced"].append({"wall_s": _now() - t0})
        check_pass(ctx, out)
        r += 1

    med = {k: _median_of(v, "wall_s") for k, v in rounds.items()}
    commits = [(s[5] - s[4]) / 1e9 for s in tr.spans
               if s[3] == "snapshot.commit"]
    kern = kernel_pass(ctx)
    full = rounds["full"]
    untraced_rps = n / med["untraced"]
    split = {
        "sources.scan_s": med["scan"],
        "pipeline.boundary_s": med["stub"] - med["scan"],
        "kernel.spark_s": med["extract"] - med["stub"],
        "pipeline.sink_s": med["full"] - med["extract"],
    }
    m = {
        **split,
        "sources.input_bytes": ctx.input_bytes(),
        "pipeline.py_run_s": _median_of(rounds["extract"], "py_run_s"),
        "pipeline.bytes_to_py": _median_of(rounds["extract"], "bytes_to_py"),
        "pipeline.bytes_from_py": _median_of(rounds["extract"],
                                             "bytes_from_py"),
        "pipeline.py_init_s": e2e_setup["py_init_s"],
        "pipeline.dead_letters": max(f["dead_letters"] for f in full),
        "pipeline.parallel_eff": untraced_rps / (
            ctx.nproc * kern["kernel.single_thread_turns_per_s"]),
        "pipeline.shuffle_write_bytes": _median_of(full,
                                                   "shuffle_write_bytes"),
        "pipeline.output_bytes_per_row": ctx.checks["output_bytes"] / n,
        "snapshot.commit_s": probes.median(commits) if commits else 0.0,
        "snapshot.commits": len(commits) / len(full),
        **_spark_layer(full),
        **kern,
        "trace.pass_wall_s": med["untraced"],
        "trace.split_residual_s": med["untraced"] - sum(split.values()),
        "trace.overhead_frac": 1 - med["untraced"] / med["full"],
    }
    return {"metrics": m, "phases_s": med, "rounds": r,
            "kernel_absent": tr.absent}


def _spark_layer(stage_diffs: list[dict]) -> dict:
    return {f"spark.{k}": _median_of(stage_diffs, k) for k in (
        "task_p50_s", "task_max_s", "cpu_frac", "spill_bytes", "gc_s")}


def kernel_pass(ctx: Context) -> dict:
    """Single-thread kernel over a seeded sample of the input turns, once
    plain (turns/s, for parallel efficiency) and once with every kernel
    layer wrapped (self time per layer per turn, path counters). Tool
    turns are skipped before the kernel, as the pipeline does."""
    from glm_ocr_spark.kernel import extract as kx

    turns = list(ctx.sample_turns("kernel",
                                  KERNEL_SAMPLE[ctx.workload]).values())
    work = [t for t, tool in turns if not tool]
    plain_s = []
    for _ in range(3):
        t0 = _now()
        for text in work:
            kx.extract_turn(text)
        plain_s.append(_now() - t0)

    tr = Tracer()
    counts = {"fast": 0, "segment_calls": 0, "blocks_in": 0, "small": 0}

    def seen_rows(res):
        counts["segment_calls"] += 1
        if res is not None:
            counts["fast"] += 1
            counts["blocks_in"] += len(res[2])

    def seen_blocks(res):
        counts["blocks_in"] += len(res[2])

    def seen_small(_res):
        counts["small"] += 1

    for layer, targets in KERNEL_LAYERS.items():
        for module, attr in targets:
            observe = {"segment_rows": seen_rows, "segment": seen_blocks,
                       "survivors_small": seen_small}.get(attr)
            tr.wrap(module, attr, layer, observe)
    numpy_turns = empty = blocks_out = 0
    turn_us = []
    try:
        t0 = _now()
        for i, text in enumerate(work):
            mark = len(tr.spans)
            with tr.span("turn", group=i + 1):
                out = kx.extract_turn(text)
            turn_us.append((tr.spans[-1][5] - tr.spans[-1][4]) / 1e3)
            numpy_turns += any(s[3] == "geometry_numpy"
                               for s in tr.spans[mark:])
            blocks_out += out["n_blocks"]
            empty += out["n_blocks"] == 0
        traced_s = _now() - t0
    finally:
        tr.unwrap_all()
    ctx.tracer.spans.extend(
        (s[0] + 10**9, s[1] + 10**9 if s[1] else 0, s[2], f"kernel.{s[3]}",
         s[4], s[5]) for s in tr.spans)
    ctx.tracer.absent.extend(tr.absent)
    selfs = self_time_by_name(tr.spans)
    nk = max(1, len(work))
    plain = probes.median(plain_s)
    tail = probes.tail_percentile(len(turn_us))
    m = {f"kernel.{layer}_us": selfs.get(layer, 0) / 1e3 / nk
         for layer in KERNEL_LAYERS}
    m.update({
        "kernel.turn_us": sum(turn_us) / nk,
        "kernel.turn_tail_us":
            probes.percentile(turn_us, tail) if tail else 0.0,
        "kernel.other_us": selfs.get("turn", 0) / 1e3 / nk,
        "kernel.single_thread_turns_per_s": len(work) / plain,
        "kernel.trace_overhead_frac": 1 - plain / traced_s,
        "kernel.fast_path_frac":
            counts["fast"] / max(1, counts["segment_calls"]),
        "kernel.small_n_frac":
            counts["small"] / max(1, counts["small"] + numpy_turns),
        "kernel.blocks_in": counts["blocks_in"],
        "kernel.blocks_out": blocks_out,
        "kernel.survivor_ratio": blocks_out / max(1, counts["blocks_in"]),
        "kernel.empty_frac": empty / nk,
        "kernel.tool_skip_frac": (len(turns) - len(work)) / max(1, len(turns)),
    })
    ctx.checks["kernel_tail_percentile"] = tail
    return m


def traced_curate(ctx: Context, seconds: float, e2e_setup: dict) -> dict:
    """Untraced and traced passes alternately for `seconds` (at least one
    of each); per-operator wall from spans around each call, Spark stage
    metrics diffed per traced pass; then the candidate/verify counts from
    extra jobs outside every timed span."""
    from glm_ocr_spark.operators import dedup, similarity

    spark, tr = ctx.spark, ctx.tracer
    rest = probes.SparkRest(spark)
    warm_up(ctx)
    n = ctx.rows()
    traced, untraced = [], []
    deadline = _now() + seconds
    r = 0
    while r < 1 or _now() < deadline:
        t0 = _now()
        out = run_pass(ctx, f"untraced{r}")
        untraced.append(_now() - t0)
        check_pass(ctx, out)
        mark = rest.mark()
        start = len(tr.spans)
        with tr.span("pass.full", group=tr.new_group()):
            t0 = _now()
            out = run_pass(ctx, f"traced{r}")
            wall = _now() - t0
        ops = {s[3]: (s[5] - s[4]) / 1e9 for s in tr.spans[start:]}
        traced.append({"wall_s": wall, **ops, **rest.since(mark)})
        check_pass(ctx, out)
        r += 1
    m = {f"operators.{name}_s": _median_of(traced, f"operators.{name}")
         for name, _ in curate_operators()}
    docs = spark.read.parquet(os.path.join(ctx.entry["dir"], "docs"))
    emb = spark.read.parquet(os.path.join(ctx.entry["dir"], "emb"))
    cands = dedup.minhash_band_candidates(docs).count()
    verified = dedup.minhash_lsh_pairs(docs).count()
    dedup.release_persisted()
    bands, planes = similarity.neardup_params(0.9)
    emb_cands = similarity.neardup_band_candidates(emb, bands, planes).count()
    cent = similarity.train_ivf_centroids(emb, similarity.IVF_CELLS)
    cells = (emb.select(similarity.ivf_cell_udf(cent)("embedding")
                        .alias("cell")).groupBy("cell").count().collect())
    med_untraced = probes.median(untraced)
    m.update({
        "operators.shuffle_write_bytes": _median_of(traced,
                                                    "shuffle_write_bytes"),
        "operators.dedup.candidate_pairs": cands,
        "operators.dedup.verified_pairs": verified,
        "operators.dedup.candidate_precision": verified / max(1, cands),
        "operators.dedup.max_shingle_freq":
            ctx.entry["props"]["max_shingle_freq"],
        "operators.similarity.candidate_pairs": emb_cands,
        "operators.similarity.max_cell": max(c["count"] for c in cells),
        "pipeline.py_run_s": _median_of(traced, "py_run_s"),
        "pipeline.bytes_to_py": _median_of(traced, "bytes_to_py"),
        "pipeline.bytes_from_py": _median_of(traced, "bytes_from_py"),
        "pipeline.py_init_s": e2e_setup["py_init_s"],
        "sources.input_bytes": ctx.input_bytes(),
        **_spark_layer(traced),
        "trace.pass_wall_s": med_untraced,
        "trace.split_residual_s": med_untraced - sum(
            m[f"operators.{name}_s"] for name, _ in curate_operators()),
        "trace.overhead_frac": 1 - med_untraced / _median_of(traced, "wall_s"),
    })
    return {"metrics": m, "rounds": r, "kernel_absent": []}
