"""Seeded input generators for the three workloads, cached per seed.

Every input is a pure function of ``--seed``. Generation runs in the
benchmark's own process, single-threaded, before any timing starts, and
its result is cached under the work directory so a repeated seed pays it
once. Each generator also returns the input's property counts (tool-turn
share, pages over SMALL_N, planted pairs, ...) so a run can show which
code paths its input exercises.

chat_mixed  gen.py's production mix under the given seed: the same
            templates and the same per-turn distribution (70% annotated
            layout pages, 30% plain DOM, every 5th turn a tool turn, every
            97th conversation a 1,500-turn one). With seed 42 it is
            byte-equal to ``gen.gen_turn_payload``.
dense_pages block-dense layout pages: 80-300 blocks above the score
            threshold on every page, so every page takes the numpy
            geometry path (> SMALL_N); half carry an ``order`` attribute
            (sort) and half do not (XY-cut).
curate      documents from a high-entropy vocabulary with planted exact and
            near duplicates, a boilerplate sentence shared by a stated
            share of docs (hot shingles), one dominant source, a benchmark
            source with contaminated copies, and one embedding per doc with
            planted near-duplicate vectors.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import random
import shutil
import uuid

# Bump when a generator changes, so stale caches are never reused.
INPUT_VERSION = 1

CHAT_TURNS = 20_000
DENSE_PAGES = 300
CURATE_DOCS = 2_000
N_FILES = 16

_EPOCH = dt.datetime(2026, 1, 1, tzinfo=dt.timezone.utc)


def transcript_schema():
    import pyarrow as pa

    # the input_hint schema: turn_idx is int32 (a bigint turn_idx is a
    # known boundary defect, tested elsewhere, not benchmarked)
    return pa.schema([
        ("conv_id", pa.string()),
        ("turn_idx", pa.int32()),
        ("role", pa.string()),
        ("text", pa.string()),
        ("tool", pa.string()),
        ("ts", pa.timestamp("us", tz="UTC")),
    ])


# ------------------------------------------------------------ chat_mixed

def chat_turn_payload(seed: int, conv_id: str, turn_idx: int):
    """(role, text, tool) for one turn: gen.gen_turn_payload with the seed
    as an argument instead of the module constant."""
    from glm_ocr_spark.data import gen

    r = random.Random(f"{seed}:{conv_id}:{turn_idx}")
    if turn_idx == 0:
        return "system", "<p>You are a helpful assistant.</p>", ""
    if turn_idx % 5 == 3:
        return ("tool", gen._tool_payload(r),
                r.choice(["search", "browser", "sql", "calc"]))
    role = "user" if turn_idx % 2 == 1 else "assistant"
    if r.random() < 0.7:
        return role, gen._annotated_payload(r), ""
    return role, gen._plain_payload(r), ""


def chat_conv_turns(seed: int, conv_idx: int) -> int:
    from glm_ocr_spark.data import gen

    if conv_idx % gen.HEAVY_EVERY == 0:
        return gen.HEAVY_TURNS
    return 20 + random.Random(f"{seed}:nturns:{conv_idx}").randrange(180)


def gen_chat_mixed(seed: int, n_turns: int = CHAT_TURNS):
    """Conversations in gen.py order until exactly `n_turns` turns (the
    last conversation is cut), so every seed does the same row count."""
    from glm_ocr_spark.data import gen

    rows = []
    props = {"turns": 0, "tool_turns": 0, "annotated_turns": 0,
             "plain_turns": 0, "heavy_conversations": 0, "conversations": 0}
    c = 0
    while len(rows) < n_turns:
        conv_id = gen.conv_id_of(c)
        nt = min(chat_conv_turns(seed, c), n_turns - len(rows))
        props["conversations"] += 1
        if nt >= gen.HEAVY_TURNS:
            props["heavy_conversations"] += 1
        for t in range(nt):
            role, text, tool = chat_turn_payload(seed, conv_id, t)
            if tool:
                props["tool_turns"] += 1
            elif text.startswith("<page"):
                props["annotated_turns"] += 1
            else:
                props["plain_turns"] += 1
            rows.append((conv_id, t, role, text, tool,
                         _EPOCH + dt.timedelta(minutes=c, seconds=13 * t)))
        c += 1
    props["turns"] = len(rows)
    props["input_text_bytes"] = sum(len(r[3].encode()) for r in rows)
    return rows, props


# ----------------------------------------------------------- dense_pages

def dense_page_payload(r: random.Random) -> tuple[str, int, bool]:
    """One block-dense layout page built from gen.py's block templates,
    stacked in 100-px bands on a tall page until 80-300 blocks pass the
    score threshold. Returns (payload, blocks over threshold, ordered)."""
    from glm_ocr_spark.config import SCORE_THRESHOLD
    from glm_ocr_spark.data import gen

    target = r.randrange(80, 301)
    specs: list = []
    passing = 0
    band = 0
    while passing < target:
        t = r.choice(gen._TEMPLATES)
        new = t(r, band * 100 + 2, (band + 1) * 100 - 2)
        specs.extend(new)
        passing += sum(1 for s in new if s[1] >= SCORE_THRESHOLD)
        band += 1
    ordered = r.random() < 0.5
    emit = list(enumerate(specs, start=1))
    r.shuffle(emit)
    parts = [f'<page w="1000" h="{band * 100}"/>']
    for order, (label, score, bbox, content) in emit:
        bbox_s = ",".join(str(int(v)) for v in bbox)
        order_attr = f' order="{order}"' if ordered else ""
        parts.append(
            f'<block label="{label}" score="{score}" bbox="{bbox_s}"'
            f"{order_attr}>{content}</block>")
    return "\n".join(parts), passing, ordered


def gen_dense_pages(seed: int, n_pages: int = DENSE_PAGES):
    from glm_ocr_spark.kernel.geometry_py import SMALL_N

    rows = []
    props = {"pages": 0, "pages_over_small_n": 0, "ordered_pages": 0,
             "xycut_pages": 0, "blocks_over_threshold": 0}
    for i in range(n_pages):
        r = random.Random(f"{seed}:dense:{i}")
        text, passing, ordered = dense_page_payload(r)
        props["pages_over_small_n"] += passing > SMALL_N
        props["ordered_pages" if ordered else "xycut_pages"] += 1
        props["blocks_over_threshold"] += passing
        conv = i // 50
        rows.append((f"dense{conv:05d}", i % 50, "assistant", text, "",
                     _EPOCH + dt.timedelta(minutes=conv, seconds=i % 50)))
    props["pages"] = len(rows)
    props["input_text_bytes"] = sum(len(r[3].encode()) for r in rows)
    return rows, props


# ---------------------------------------------------------------- curate

BENCH_SOURCE = "benchsrc"
DOMINANT_SOURCE = "src000"
N_SOURCES = 50
DOMINANT_SHARE = 0.4
BOILERPLATE_SHARE = 0.04
SHORT_SHARE = 0.1
BENCH_SHARE = 0.01
CONTAMINATED_SHARE = 0.01
EXACT_DUP_SHARE = 0.02
NEAR_DUP_SHARE = 0.03
EMB_DIM = 64
EMB_NOISE = 0.005
LANGS = ("en", "fr", "es", "zh", "de")


def _vocabulary(r: random.Random, size: int = 30_000) -> list[str]:
    letters = "abcdefghijklmnopqrstuvwxyz"
    words: set[str] = set()
    while len(words) < size:
        n = r.randrange(4, 10)
        words.add("".join(r.choice(letters) for _ in range(n)))
    return sorted(words)


def gen_curate(seed: int, n_docs: int = CURATE_DOCS):
    """(doc rows, embedding matrix, props). Planted structure:
    exact copies (case-changed, so only normalisation makes them equal),
    one-word-replacement near dups of long docs, a 12-word boilerplate
    sentence in BOILERPLATE_SHARE of docs, a 20-word benchmark passage
    copied into CONTAMINATED_SHARE of docs, DOMINANT_SHARE of docs in one
    source. Copies and near dups get their base doc's embedding plus
    small noise (cosine > 0.99); all other embeddings are independent."""
    import numpy as np

    r = random.Random(f"{seed}:curate")
    rng = np.random.default_rng(random.Random(f"{seed}:emb").getrandbits(63))
    vocab = _vocabulary(r)
    boiler = " ".join(r.choice(vocab) for _ in range(12))
    n_bench = max(2, int(n_docs * BENCH_SHARE))
    emb = rng.standard_normal((n_docs, EMB_DIM)).astype(np.float32)
    docs = []
    props = {"docs": n_docs, "bench_docs": n_bench, "boilerplate_docs": 0,
             "contaminated_docs": 0, "exact_copies": 0, "near_dups": 0,
             "short_docs": 0, "dominant_source_docs": 0}
    planted = []  # (base doc_id, copy doc_id)
    for i in range(n_docs):
        if i < n_bench:
            source = BENCH_SOURCE
        elif r.random() < DOMINANT_SHARE:
            source = DOMINANT_SOURCE
        else:
            source = f"src{r.randrange(1, N_SOURCES):03d}"
        lang = r.choice(LANGS)
        roll = r.random()
        base = r.randrange(n_bench, i) if i > n_bench + 10 else None
        base_doc = docs[base] if base is not None else None
        if base_doc is not None and roll < EXACT_DUP_SHARE:
            text = base_doc[1].upper()
            props["exact_copies"] += 1
            planted.append((base, i))
        elif (base_doc is not None and roll < EXACT_DUP_SHARE + NEAR_DUP_SHARE
              and len(base_doc[1].split(" ")) >= 60):
            words = base_doc[1].split(" ")
            k = r.randrange(3, len(words) - 3)
            words[k] = r.choice(vocab)
            text = " ".join(words)
            props["near_dups"] += 1
            planted.append((base, i))
        else:
            base = None
            short = r.random() < SHORT_SHARE and source != BENCH_SOURCE
            n_words = r.randrange(10, 30) if short else r.randrange(40, 121)
            props["short_docs"] += short
            words = [r.choice(vocab) for _ in range(n_words)]
            if r.random() < CONTAMINATED_SHARE and source != BENCH_SOURCE:
                src_words = docs[r.randrange(n_bench)][1].split(" ")
                k = r.randrange(0, max(1, len(src_words) - 20))
                words[len(words) // 2:len(words) // 2] = src_words[k:k + 20]
                props["contaminated_docs"] += 1
            text = " ".join(words)
            if r.random() < BOILERPLATE_SHARE:
                text = text + " " + boiler
                props["boilerplate_docs"] += 1
        if base is not None:
            emb[i] = emb[base] + rng.standard_normal(EMB_DIM).astype(
                np.float32) * np.float32(EMB_NOISE) * np.linalg.norm(emb[base])
        props["dominant_source_docs"] += source == DOMINANT_SOURCE
        docs.append((i, text, lang, source, len(text)))
    props["planted_pairs"] = len(planted)
    props["input_text_bytes"] = sum(len(d[1].encode()) for d in docs)
    return docs, emb, planted, props


# ---------------------------------------------------------------- cache

def _write_table(table, out_dir: str, n_files: int = N_FILES) -> None:
    """Split into `n_files` parquet files of several row groups each, the
    shape a Spark-written table has, so scans split across all cores."""
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    n = table.num_rows
    step = -(-n // n_files)
    for k in range(n_files):
        part = table.slice(k * step, step)
        if part.num_rows == 0:
            break
        pq.write_table(part, os.path.join(out_dir, f"part-{k:05d}.parquet"),
                       row_group_size=max(1, -(-part.num_rows // 4)))


def _transcript_table(rows):
    import pyarrow as pa

    cols = list(zip(*rows))
    return pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, transcript_schema())],
        schema=transcript_schema())


def materialize(workload: str, seed: int, cache_root: str) -> dict:
    """Generate (or reuse) the inputs for one (workload, seed). Returns
    the cache entry: {"dir", "props", "expected" (curate only)}."""
    import pyarrow as pa

    size = {"chat_mixed": CHAT_TURNS, "dense_pages": DENSE_PAGES,
            "curate": CURATE_DOCS}[workload]
    d = os.path.join(cache_root,
                     f"{workload}-s{seed}-n{size}-v{INPUT_VERSION}")
    meta = os.path.join(d, "meta.json")
    if os.path.exists(meta):
        with open(meta, encoding="utf-8") as f:
            return {"dir": d, **json.load(f)}
    tmp = f"{d}.tmp-{uuid.uuid4().hex[:8]}"
    if workload == "chat_mixed":
        rows, props = gen_chat_mixed(seed, size)
        _write_table(_transcript_table(rows), os.path.join(tmp, "input"))
        extra = {}
    elif workload == "dense_pages":
        rows, props = gen_dense_pages(seed, size)
        _write_table(_transcript_table(rows), os.path.join(tmp, "input"))
        extra = {}
    else:
        from perfbench import expected

        docs, emb, planted, props = gen_curate(seed, size)
        cols = list(zip(*docs))
        _write_table(pa.table({
            "doc_id": pa.array(cols[0], pa.int64()),
            "text": pa.array(cols[1], pa.string()),
            "lang": pa.array(cols[2], pa.string()),
            "source": pa.array(cols[3], pa.string()),
            "n_chars": pa.array(cols[4], pa.int64()),
        }), os.path.join(tmp, "docs"))
        _write_table(pa.table({
            "vec_id": pa.array(cols[0], pa.int64()),
            "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        }), os.path.join(tmp, "emb"))
        extra = {"expected": expected.curate_expected(docs, emb, planted)}
        props["max_shingle_freq"] = extra["expected"]["max_shingle_freq"]
    os.makedirs(tmp, exist_ok=True)
    with open(os.path.join(tmp, "meta.json"), "w", encoding="utf-8") as f:
        json.dump({"props": props, **extra}, f)
    if os.path.exists(d):
        shutil.rmtree(d)
    os.replace(tmp, d)
    with open(meta, encoding="utf-8") as f:
        return {"dir": d, **json.load(f)}
