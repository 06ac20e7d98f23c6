"""Equivalence of the two geometry implementations: the pure-Python
`geometry_py.survivors_small` (pages of <= SMALL_N blocks) and the numpy
`geometry.survivors` (above) must return the same survivors, spans
included, on randomized box sets (degenerate, inverted, overlapping,
out-of-page geometry), for both reading-order modes and across the
ExtractConfig knobs they read."""

import random
import re

import pytest

from glm_ocr_spark.config import ID2LABEL, LABEL2ID
from glm_ocr_spark.kernel import geometry as geo
from glm_ocr_spark.kernel import geometry_py as gpy
from glm_ocr_spark.kernel.extract import ExtractConfig, extract_turn

IMG = LABEL2ID["image"]

# (config, page_w, page_h); the landscape page uses the other oversize
# threshold
CASES = {
    "default": (ExtractConfig(), 1000.0, 1000.0),
    "nms_off": (ExtractConfig(nms_enabled=False), 1000.0, 1000.0),
    "unclip": (ExtractConfig(unclip_ratio=(2.0, 1.5)), 1000.0, 1000.0),
    "unclip_per_class": (ExtractConfig(
        unclip_ratio={22: (2.0, 1.5), 7: (0.5, 3.0)}), 1000.0, 1000.0),
    "merge_none": (ExtractConfig(merge_modes={}), 1000.0, 1000.0),
    "merge_union": (ExtractConfig(merge_modes={22: "union"}), 1000.0, 1000.0),
    "landscape": (ExtractConfig(), 1200.0, 800.0),
}


def random_rows(rng, n):
    rows = []
    for _ in range(n):
        cls = rng.choice([0, 5, 7, 11, 14, 18, 20, 21, 22])
        score = rng.choice([0.31, 0.5, 0.55, 0.7, 0.7, 0.9, 0.95, 1.0])
        x1 = rng.uniform(-50, 1050)
        y1 = rng.uniform(-50, 1050)
        # mix of normal, degenerate, inverted boxes
        kind = rng.random()
        if kind < 0.8:
            x2, y2 = x1 + rng.uniform(0, 900), y1 + rng.uniform(0, 400)
        elif kind < 0.9:
            x2, y2 = x1, y1  # degenerate
        else:
            x2, y2 = x1 - rng.uniform(1, 200), y1 - rng.uniform(1, 100)
        order = float(rng.randint(1, n + 3))
        rows.append((float(cls), score, x1, y1, x2, y2, order))
    return rows


def both(rows, case="default", has_order=True):
    """(survivors_small, geometry.survivors) on the same page."""
    config, page_w, page_h = CASES[case]
    spans = [(i * 10, i * 10 + 5) for i in range(len(rows))]
    return tuple(
        fn(list(rows), list(spans), config, IMG, page_w, page_h, has_order)
        for fn in (gpy.survivors_small, geo.survivors))


def _grid():
    # the default config keeps its plain "<order>-<seed>" id
    for case in CASES:
        for seed in range(40):
            for use_order in (True, False):
                tail = "" if case == "default" else f"-{case}"
                yield pytest.param(use_order, seed, case,
                                   id=f"{use_order}-{seed}{tail}")


@pytest.mark.parametrize("use_order,seed,case", _grid())
def test_paths_equivalent(use_order, seed, case):
    rng = random.Random(seed)
    small, numpy_ = both(random_rows(rng, rng.randint(1, 30)), case,
                         use_order)
    assert small == numpy_, (case, seed, use_order)


def test_large_n_equivalent():
    # above SMALL_N: extract_turn takes the numpy path here, and the
    # pure-Python one must still agree
    rows = random_rows(random.Random(123), 120)
    for case in CASES:
        for has_order in (True, False):
            small, numpy_ = both(rows, case, has_order)
            assert small, (case, has_order)
            assert small == numpy_, (case, has_order)


def test_infinite_coords_agree():
    rows = [
        (22.0, 0.9, 0.0, 0.0, float("inf"), 100.0, 1.0),
        (22.0, 0.8, 10.0, 10.0, 500.0, 90.0, 2.0),
    ]
    for case in CASES:
        for has_order in (True, False):
            small, numpy_ = both(rows, case, has_order)
            assert small == numpy_, (case, has_order)


def _payload(rows):
    return "\n".join(
        f'<block label="{ID2LABEL[int(r[0])]}" score="{r[1]}" '
        f'bbox="{r[2]!r},{r[3]!r},{r[4]!r},{r[5]!r}" order="{int(r[6])}">'
        f"block {i} " + "word " * (i % 4) + "</block>"
        for i, r in enumerate(rows))


@pytest.mark.parametrize("seed", range(40))
@pytest.mark.parametrize("use_order", [True, False])
def test_fused(seed, use_order, monkeypatch):
    """The whole kernel gives the same five fields whichever geometry path
    extract_turn dispatches to (SMALL_N lowered to 0 forces numpy)."""
    rng = random.Random(seed + 7000)
    rows = random_rows(rng, rng.randint(1, 30))
    payload = _payload(rows)
    if not use_order:
        payload = re.sub(r' order="\d+"', "", payload)
    small = extract_turn(payload)
    monkeypatch.setattr(gpy, "SMALL_N", 0)
    assert extract_turn(payload) == small, (seed, use_order)
