"""Contract of the batch job `pipeline.run`: the written rows, the output
file layout, one kernel pass per input row, and the key-column casts of
`extract_transcripts` (bigint `turn_idx` accepted in range, loud outside,
ANSI casts on or off)."""

import datetime as dt
import glob
import json
import os
import time
import urllib.request

import pyarrow.parquet as pq
import pytest

from glm_ocr_spark.data.gen import gen_turn_payload
from glm_ocr_spark.pipeline import extract_transcripts, run

COLS = ("conv_id", "turn_idx", "role", "extracted_text", "markdown", "json",
        "spans", "n_blocks", "error")
# one conversation longer than 64 turns (three salt blocks), two short ones
CONVS = {"conv-long": 150, "conv-a": 12, "conv-b": 5}
SCHEMA = ("conv_id string, turn_idx {}, role string, text string, "
          "tool string, ts timestamp")


def _rows(convs=CONVS):
    ts = dt.datetime(2026, 1, 1)
    return [(cid, t, *gen_turn_payload(cid, t), ts)
            for cid, n in convs.items() for t in range(n)]


def _write_input(spark, path, turn_type="int", rows=None):
    df = spark.createDataFrame(rows or _rows(), SCHEMA.format(turn_type))
    df.repartition(4).write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)


def _key(row):
    d = row.asDict(recursive=True) if hasattr(row, "asDict") else row
    spans = tuple((s["start"], s["end"], s["label"]) for s in d["spans"] or ())
    return tuple(spans if c == "spans" else d[c] for c in COLS)


def _written(path):
    """{part file: [row tuple, ...]} in file order."""
    out = {}
    for f in sorted(glob.glob(os.path.join(path, "*.parquet"))):
        out[f] = [_key(r) for r in pq.read_table(f).to_pylist()]
    return out


def _sql_executions(spark):
    """The session's SQL executions, from its REST API on localhost."""
    sc = spark.sparkContext
    port = sc.uiWebUrl.rsplit(":", 1)[1]
    url = (f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}"
           "/sql?details=true&planDescription=false&offset=0&length=100000")
    with urllib.request.urlopen(url, timeout=30) as r:
        return json.load(r)


def _node_output_rows(spark, before, node_name, timeout=30.0):
    """Sum of `number of output rows` over `node_name` nodes of the SQL
    executions whose ids are not in `before`, once all have completed."""
    deadline = time.monotonic() + timeout
    while True:
        new = [e for e in _sql_executions(spark) if e["id"] not in before]
        done = new and all(e.get("status") != "RUNNING" for e in new)
        if done or time.monotonic() > deadline:
            break
        time.sleep(0.2)
    nodes = [n for e in new for n in e.get("nodes", [])
             if n.get("nodeName") == node_name]
    assert nodes, f"no {node_name} node in the new SQL executions"
    return sum(int(m["value"].replace(",", ""))
               for n in nodes for m in n.get("metrics", [])
               if m.get("name") == "number of output rows")


def test_run_layout_rows_and_single_kernel_pass(spark, tmp_path):
    inp, out = str(tmp_path / "in"), str(tmp_path / "out")
    df = _write_input(spark, inp)
    n_in = df.count()
    want = sorted(_key(r) for r in extract_transcripts(df).collect())

    before = {e["id"] for e in _sql_executions(spark)}
    # no coalescing: several files, so the block-to-file check is not vacuous
    coalesce = "spark.sql.adaptive.coalescePartitions.enabled"
    old = spark.conf.get(coalesce)
    spark.conf.set(coalesce, "false")
    try:
        run(spark, inp, out)
    finally:
        spark.conf.set(coalesce, old)
    # the kernel runs once per input row: no sampling pass re-runs it
    assert _node_output_rows(spark, before, "MapInArrow") == n_in

    files = _written(out)
    assert len([f for f, rows in files.items() if rows]) > 1
    got = [r for rows in files.values() for r in rows]
    assert sorted(got) == want

    block_files = {}
    for f, rows in files.items():
        keys = [(r[0], r[1]) for r in rows]
        assert keys == sorted(keys), f"{f} not sorted by (conv_id, turn_idx)"
        for cid, t in keys:
            block_files.setdefault((cid, t // 64), set()).add(f)
    assert {k for k in block_files if k[0] == "conv-long"} == \
        {("conv-long", 0), ("conv-long", 1), ("conv-long", 2)}
    for blk, fs in block_files.items():
        assert len(fs) == 1, f"block {blk} split over {sorted(fs)}"


def test_bigint_turn_idx_in_range_matches_int(spark, tmp_path):
    as_int = _write_input(spark, str(tmp_path / "int"))
    as_big = _write_input(spark, str(tmp_path / "big"), "bigint")
    assert dict(as_big.dtypes)["turn_idx"] == "bigint"

    ext_big = extract_transcripts(as_big)
    assert dict(ext_big.dtypes)["turn_idx"] == "int"
    want = sorted(_key(r) for r in extract_transcripts(as_int).collect())
    assert sorted(_key(r) for r in ext_big.collect()) == want

    run(spark, str(tmp_path / "big"), str(tmp_path / "out"))
    got = [r for rows in _written(str(tmp_path / "out")).values()
           for r in rows]
    assert sorted(got) == want


def test_bigint_turn_idx_out_of_range_fails_loud(spark, tmp_path):
    rows = _rows({"conv-a": 3})
    rows.append(("conv-a", 2**31, *gen_turn_payload("conv-a", 1), rows[0][-1]))
    path = str(tmp_path / "big")
    df = _write_input(spark, path, "bigint", rows)
    loud = (r"turn_idx 2147483648 is outside the int range "
            r"\[-2147483648, 2147483647\]")
    # with ANSI casts off a bare cast would wrap the key silently
    ansi = spark.conf.get("spark.sql.ansi.enabled")
    try:
        for mode in ("true", "false"):
            spark.conf.set("spark.sql.ansi.enabled", mode)
            with pytest.raises(Exception, match=loud):
                extract_transcripts(df).collect()
            with pytest.raises(Exception, match=loud):
                run(spark, path, str(tmp_path / f"out-{mode}"))
    finally:
        spark.conf.set("spark.sql.ansi.enabled", ansi)


def test_int_turn_idx_plan_has_no_range_guard(spark, tmp_path, capsys):
    """An int32 key needs no guard: its plan stays the plain projection."""
    for turn_type, guarded in (("int", False), ("bigint", True)):
        df = _write_input(spark, str(tmp_path / turn_type), turn_type)
        capsys.readouterr()
        extract_transcripts(df).explain()
        assert ("raise_error" in capsys.readouterr().out) is guarded
