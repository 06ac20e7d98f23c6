"""End-to-end correctness gate: per-turn text+span equality between the
vectorized kernel / Spark pipeline and the independent single-node oracle
(BASELINE.json north_rule: "matching the reference's extracted text/spans per
turn (per-turn text equality under stable turn ordering)")."""

import random

import pytest

from glm_ocr_spark.config import LABEL2ID, SCORE_THRESHOLD
from glm_ocr_spark.data import gen
from glm_ocr_spark.data.gen import (
    conv_id_of,
    gen_turn_payload,
    n_conversations,
    n_turns,
    transcripts_df,
)
from glm_ocr_spark.kernel.extract import extract_turn
from glm_ocr_spark.kernel.geometry_py import SMALL_N
from tests.oracle import oracle_extract_turn

FIELDS = ("extracted_text", "markdown", "json", "spans", "n_blocks")


def _dense_page(seed: int, ordered: bool) -> tuple[str, int]:
    """A seeded layout page of 65-300 blocks over the score threshold, so
    extract_turn takes the numpy geometry path: gen.py's block templates
    stacked in 100-px bands, about a third of the blocks followed by a
    shifted near-duplicate (same or another label, so both NMS thresholds
    and the containment modes fire), on every other page a page-sized
    image (the oversize filter), emitted shuffled, with model order or
    without it (XY-cut). Returns (payload, blocks over the threshold)."""
    r = random.Random(f"dense:{seed}")
    target = r.randrange(65, 301)
    labels = list(LABEL2ID)
    specs: list = []
    passing = band = 0
    while passing < target:
        for label, score, bbox, content in r.choice(gen._TEMPLATES)(
                r, band * 100 + 2, (band + 1) * 100 - 2):
            new = [(label, score, bbox, content)]
            if r.random() < 0.35:
                dx, dy = r.randint(-12, 12), r.randint(-6, 6)
                new.append((label if r.random() < 0.6 else r.choice(labels),
                            round(r.uniform(0.3, 1.0), 2),
                            (bbox[0] + dx, bbox[1] + dy, bbox[2] + dx,
                             bbox[3] + dy), "dup " + content))
            specs.extend(new)
            passing += sum(s[1] >= SCORE_THRESHOLD for s in new)
        band += 1
    if r.random() < 0.5:  # a page-sized image for the oversize filter
        specs.append(("image", 0.9, (0, 0, 1000, band * 100 - r.randint(0, 5)),
                      ""))
    emit = list(enumerate(specs, start=1))
    r.shuffle(emit)
    parts = [f'<page w="1000" h="{band * 100}"/>']
    for order, (label, score, bbox, content) in emit:
        order_attr = f' order="{order}"' if ordered else ""
        parts.append(
            f'<block label="{label}" score="{score}" '
            f'bbox="{",".join(str(int(v)) for v in bbox)}"{order_attr}>'
            f"{content}</block>")
    return "\n".join(parts), passing


def _oracle_for(conv_id: str, turn_idx: int):
    _, text, tool = gen_turn_payload(conv_id, turn_idx)
    return oracle_extract_turn(text, tool)


class TestKernelVsOracle:
    """Kernel-level equality over a broad deterministic corpus (no Spark)."""

    def test_full_sf0001_corpus(self):
        mismatches = []
        for c in range(n_conversations(0.001)):
            cid = conv_id_of(c)
            for t in range(min(n_turns(c), 60)):
                role, text, tool = gen_turn_payload(cid, t)
                if tool:
                    continue
                k = extract_turn(text)
                o = oracle_extract_turn(text, tool)
                for f in FIELDS:
                    if k[f] != o[f]:
                        mismatches.append((cid, t, f, k[f], o[f]))
                        break
        assert not mismatches, f"{len(mismatches)} mismatches, first: " \
                               f"{mismatches[0][:3]}"

    @pytest.mark.parametrize("seed", range(16))
    def test_dense_pages_above_small_n(self, seed):
        """Pages over SMALL_N blocks (the numpy geometry path), half in
        model order and half XY-cut, byte-equal to the oracle."""
        payload, passing = _dense_page(seed, ordered=seed % 2 == 0)
        assert passing > SMALL_N
        k = extract_turn(payload)
        o = oracle_extract_turn(payload, "")
        assert k["n_blocks"] > 0
        for f in FIELDS:
            assert k[f] == o[f], (seed, f)

    def test_empty_and_null_payloads(self):
        assert extract_turn("") == extract_turn(None)
        assert extract_turn("")["json"] == "[[]]"

    def test_malformed_annotations_never_raise(self):
        # one bad row must not kill a 100 TB job: malformed score/order/bbox
        # fall back to defaults (score 1.0, order missing -> XY-cut, full page)
        cases = [
            '<block label="text" score="abc" bbox="0,0,10">x</block>',
            '<block label="text" score="0.9" bbox="broken">unclosed',
            '<block label="nosuchlabel" score="0.9" bbox="0,0,10,10" '
            'order="x">x</block>',
        ]
        for payload in cases:
            k = extract_turn(payload)
            o = oracle_extract_turn(payload, "")
            assert k["json"] == o["json"], payload

    def test_unstructured_payload_single_block(self):
        r = extract_turn("just a bare paragraph of text")
        assert r["n_blocks"] == 1
        assert r["extracted_text"] == "just a bare paragraph of text"
        assert r["spans"] == [(0, 29, "text")]


@pytest.mark.usefixtures("spark")
class TestSparkVsOracle:
    """Distributed pipeline equality: Spark mapInArrow output must match the
    oracle row-for-row under stable (conv_id, turn_idx) ordering."""

    def test_extract_pipeline_sf0001_sample(self, spark):
        from glm_ocr_spark.pipeline import extract_transcripts

        df = transcripts_df(spark, 0.001, num_partitions=8)
        sample = df.filter("turn_idx < 30")
        out = (
            extract_transcripts(sample)
            .orderBy("conv_id", "turn_idx")
            .collect()
        )
        assert len(out) > 0
        bad = 0
        for row in out:
            o = _oracle_for(row["conv_id"], row["turn_idx"])
            got_spans = [(s["start"], s["end"], s["label"]) for s in row["spans"]]
            if (row["extracted_text"] != o["extracted_text"]
                    or row["markdown"] != o["markdown"]
                    or row["json"] != o["json"]
                    or got_spans != o["spans"]
                    or row["n_blocks"] != o["n_blocks"]):
                bad += 1
                if bad == 1:
                    first = (row["conv_id"], row["turn_idx"])
            assert bad == 0, f"first mismatch at {first}"

    def test_ordering_stable(self, spark):
        from glm_ocr_spark.pipeline import extract_transcripts

        df = transcripts_df(spark, 0.001, num_partitions=4).filter("turn_idx < 5")
        out = extract_transcripts(df).orderBy("conv_id", "turn_idx")
        keys = [(r["conv_id"], r["turn_idx"]) for r in out.collect()]
        assert keys == sorted(keys)
        assert len(set(keys)) == len(keys)

    def test_tool_turns_skipped(self, spark):
        from glm_ocr_spark.pipeline import extract_transcripts

        df = transcripts_df(spark, 0.001, num_partitions=4).filter(
            "turn_idx = 3 AND turn_idx % 5 = 3"
        )
        rows = extract_transcripts(df).collect()
        assert len(rows) > 0
        for r in rows:
            assert r["extracted_text"] is None
            assert r["n_blocks"] == 0

    def test_no_shuffle_in_plan(self, spark):
        """The extraction itself must be a narrow map: no Exchange operator
        (north rule: shuffle bounded by map-side scoring)."""
        from glm_ocr_spark.pipeline import extract_transcripts

        df = transcripts_df(spark, 0.001, num_partitions=4)
        plan = extract_transcripts(df)._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan
