"""Self-tests for the benchmark's own derivations.

    python3 -m pytest perfbench -q

No Spark session is started; the tests cover percentile choice, self time
from nested spans, the output digests, the per-phase metric diffs, the
exact-pair computations the curate checks rely on, and the generators.
"""

from __future__ import annotations

import itertools
import json
import os
import random
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import expected, inputs, probes  # noqa: E402
from perfbench.trace import Tracer, self_time_by_name, self_times  # noqa: E402


# ------------------------------------------------------------- percentile

def test_tail_percentile_needs_ten_samples_beyond():
    assert probes.tail_percentile(19) is None
    assert probes.tail_percentile(20) == 50
    assert probes.tail_percentile(99) == 50
    assert probes.tail_percentile(100) == 90
    assert probes.tail_percentile(199) == 90
    assert probes.tail_percentile(200) == 95
    assert probes.tail_percentile(1000) == 99
    assert probes.tail_percentile(9999) == 99
    assert probes.tail_percentile(10000) == 99.9


def test_host_probe_times_children_and_reaps_them():
    wall, cpu = probes.host_probe(2, loops=100_000, mem_loops=20_000)
    assert wall > 0 and 0 < cpu <= wall * 2
    assert probes.tree_pids(os.getpid()) == [os.getpid()]


def test_percentile_is_nearest_rank():
    xs = list(range(1, 101))
    random.Random(0).shuffle(xs)
    assert probes.percentile(xs, 50) == 50
    assert probes.percentile(xs, 90) == 90
    assert probes.percentile(xs, 100) == 100
    n = 1000
    p = probes.tail_percentile(n)
    vals = list(range(n))
    assert sum(v > probes.percentile(vals, p) for v in vals) >= 10


# -------------------------------------------------------------- self time

def test_self_time_from_nested_spans():
    # (id, parent, group, name, start, end)
    spans = [
        (1, 0, 1, "turn", 0, 100),
        (2, 1, 1, "segment", 10, 30),
        (3, 1, 1, "format", 40, 70),
        (4, 3, 1, "recognize", 45, 55),
        (5, 3, 1, "recognize", 50, 60),   # overlaps its sibling
        (6, 1, 1, "finalize", 95, 120),   # runs past its parent: clipped
    ]
    st = self_times(spans)
    assert st[2] == 20
    assert st[4] == 10 and st[5] == 10
    assert st[3] == 30 - 15            # children cover [45, 60)
    assert st[1] == 100 - (20 + 30 + 5)
    assert self_time_by_name(spans)["recognize"] == 20


def test_tracer_wrap_records_nested_spans_and_restores():
    import perfbench.probes as mod

    orig = mod.median
    tr = Tracer()
    assert tr.wrap("perfbench.probes", "median", "median")
    assert not tr.wrap("perfbench.probes", "no_such_function", "x")
    assert tr.absent == ["perfbench.probes.no_such_function"]
    with tr.span("outer", group=tr.new_group()):
        assert mod.median([3, 1, 2]) == 2
    tr.unwrap_all()
    assert mod.median is orig
    (inner, outer) = tr.spans
    assert inner[3] == "median" and inner[1] == outer[0]
    assert inner[2] == outer[2] == 1


# ---------------------------------------------------------------- digests

def test_row_digest_is_order_insensitive_and_exact():
    rows = [("c1", 0, "a", [{"start": 0, "end": 3, "label": "t"}], None),
            ("c1", 1, "b", [], "err"), ("c2", 0, "c", [], None)]
    d = expected.row_digest(rows)
    assert expected.row_digest(reversed(rows)) == d
    assert expected.row_digest(rows[:2]) != d
    assert expected.row_digest(rows + rows[:1]) != d
    changed = [rows[0], ("c1", 1, "B", [], "err"), rows[2]]
    assert expected.row_digest(changed) != d


def test_table_summary_digest_ignores_file_split_and_order(tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    t = pa.table({"conv_id": ["a", "a", "b", "c"],
                  "turn_idx": pa.array([0, 1, 0, 0], pa.int32()),
                  "text": ["x", "y", None, "z"]})
    pq.write_table(t, tmp_path / "one.parquet")
    pq.write_table(t.slice(2), tmp_path / "p0.parquet")
    pq.write_table(t.slice(0, 2).take([1, 0]), tmp_path / "p1.parquet")
    pq.write_table(t.slice(0, 3), tmp_path / "short.parquet")
    con = expected.duck(1)
    cols = ("conv_id", "turn_idx", "text")
    one = expected.table_summary(con, [str(tmp_path / "one.parquet")], cols)
    two = expected.table_summary(
        con, [str(tmp_path / "p0.parquet"), str(tmp_path / "p1.parquet")],
        cols)
    short = expected.table_summary(
        con, [str(tmp_path / "short.parquet")], cols)
    assert one == two
    assert one["rows"] == one["keys"] == 4
    assert short["digest"] != one["digest"]
    assert short["key_sum"] != one["key_sum"]


# ------------------------------------------------------- per-phase diffs

def test_stage_diff_counts_only_new_stages():
    stages = [
        {"stageId": 0, "attemptId": 0, "executorRunTime": 1000,
         "executorCpuTime": 900_000_000, "jvmGcTime": 50,
         "shuffleWriteBytes": 7, "memoryBytesSpilled": 0,
         "diskBytesSpilled": 0},
        {"stageId": 1, "attemptId": 0, "executorRunTime": 2000,
         "executorCpuTime": 500_000_000, "jvmGcTime": 100,
         "shuffleWriteBytes": 11, "memoryBytesSpilled": 3,
         "diskBytesSpilled": 4},
        {"stageId": 1, "attemptId": 1, "executorRunTime": 2000,
         "executorCpuTime": 1_500_000_000, "jvmGcTime": 0,
         "shuffleWriteBytes": 13, "memoryBytesSpilled": 0,
         "diskBytesSpilled": 0},
    ]
    tasks = {(0, 0): [1000], (1, 0): [300, 100, 200], (1, 1): [400, 2000]}
    d = probes.diff_stage_metrics({(0, 0)}, stages, tasks)
    assert d["stages"] == 2 and d["tasks"] == 5
    assert d["shuffle_write_bytes"] == 24
    assert d["spill_bytes"] == 7
    assert d["gc_s"] == 0.1
    assert d["cpu_frac"] == 0.5
    assert d["task_p50_s"] == 0.3 and d["task_max_s"] == 2.0
    empty = probes.diff_stage_metrics({(0, 0), (1, 0), (1, 1)}, stages, tasks)
    assert empty["stages"] == 0 and empty["task_max_s"] == 0.0


def test_sql_diff_parses_and_skips_earlier_executions():
    def ex(i, sent, ran):
        return {"id": i, "nodes": [{"metrics": [
            {"name": "data sent to Python workers", "value": sent},
            {"name": "time to run Python workers", "value": ran},
            {"name": "number of output rows", "value": "5"}]}]}

    execs = [ex(0, "1.0 GiB", "9 s"),
             ex(1, "total (min, med, max (stageId: taskId))\n2.0 MiB "
                   "(1 KiB, 1 KiB, 1 KiB (stage 1.0: task 2))",
                "total (min, med, max (stageId: taskId))\n1.5 s (0 ms, "
                "1 ms, 2 ms (stage 1.0: task 3))"),
             ex(2, "512 B", "250 ms")]
    d = probes.diff_sql_metrics({0}, execs)
    assert d["bytes_to_py"] == 2 * 2 ** 20 + 512
    assert d["py_run_s"] == 1.75
    assert d["bytes_from_py"] == 0.0
    assert probes.parse_metric("1,234") == 1234
    assert probes.parse_metric("n/a") is None


# ------------------------------------------------------ exact computations

def _brute_jaccard(sets, t):
    out = {}
    for i, j in itertools.combinations(sorted(sets), 2):
        a, b = sets[i], sets[j]
        jac = len(a & b) / len(a | b)
        if jac >= t:
            out[(i, j)] = jac
    return out


def test_prefix_filter_jaccard_matches_brute_force():
    r = random.Random(7)
    for t in (0.5, 0.8, 0.3):
        sets = {i: frozenset(r.sample(range(40), r.randrange(1, 12)))
                for i in range(120)}
        sets[200] = sets[3]          # exact copy
        sets[201] = frozenset(list(sets[5])[:-1] + [999])
        assert expected.jaccard_pairs(sets, t) == _brute_jaccard(sets, t)


def test_components_losers_and_cosine_pairs():
    import numpy as np

    assert expected.components_losers(range(6), [(1, 4), (4, 5), (2, 3)]) \
        == {3, 4, 5}
    x = np.array([[1, 0], [0.99, 0.01], [0, 1], [-1, 0]], dtype=np.float32)
    got = expected.cosine_pairs(x, 0.9, block=3)
    assert set(got) == {(0, 1)}


def test_curation_expected_follows_stage_order():
    words = [f"w{i}" for i in range(40)]
    bench = " ".join(words)
    docs = [
        (0, bench, "en", "bench", 0),
        (1, " ".join(words[:12] + [f"x{i}" for i in range(30)]), "en", "s", 0),
        (2, " ".join(f"c{i}" for i in range(35)), "en", "s", 0),
        (3, " ".join(f"C{i}" for i in range(35)), "en", "s", 0),
        (4, " ".join(f"d{i}" for i in range(10)), "en", "s", 0),
    ]
    docs += [(10 + k, " ".join(f"q{k}_{i}" for i in range(32)), "en", "t", 0)
             for k in range(7)]
    got = expected.curation_expected(docs, "bench", quota=5)
    assert [d[0] for d in got] == [2, 10, 11, 12, 13, 14]


# ------------------------------------------------------------- generators

def test_chat_generator_is_gen_py_under_seed_42():
    from glm_ocr_spark.data import gen

    for c in (0, 1, 5, 97):
        conv_id = gen.conv_id_of(c)
        assert inputs.chat_conv_turns(42, c) == gen.n_turns(c)
        for t in (0, 1, 2, 3, 4, 8, 13):
            assert inputs.chat_turn_payload(42, conv_id, t) == \
                gen.gen_turn_payload(conv_id, t)


def test_generators_are_seeded_and_sized():
    a, pa_ = inputs.gen_chat_mixed(3, 500)
    b, _ = inputs.gen_chat_mixed(3, 500)
    c, _ = inputs.gen_chat_mixed(4, 500)
    assert a == b and a != c and len(a) == 500
    assert pa_["tool_turns"] + pa_["annotated_turns"] + pa_["plain_turns"] \
        == 500
    rows, props = inputs.gen_dense_pages(1, 6)
    assert props["pages_over_small_n"] == 6
    assert props["ordered_pages"] + props["xycut_pages"] == 6
    docs, emb, planted, props = inputs.gen_curate(1, 400)
    assert len(docs) == len(emb) == 400
    assert props["planted_pairs"] == len(planted)
    exp = expected.curate_expected(docs, emb, planted)
    # every planted copy is an exact Jaccard >= 0.8 and cosine >= 0.9 pair
    assert {tuple(p) for p in exp["planted"]} <= \
        {(i, j) for i, j, _ in exp["ngram_pairs"]}
    assert {tuple(p) for p in exp["planted"]} <= \
        {(i, j) for i, j, _ in exp["emb_pairs"]}


# ---------------------------------------------------------- BENCHMARK.json

def test_benchmark_json_matches_run_py():
    from perfbench import run

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {w["name"] for w in spec["workloads"]} <= set(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
