"""Output checks: independent expected results and their comparison.

Nothing here calls the code under test. Extraction output is compared
byte-for-byte against ``tests/oracle.py`` on a seeded sample of turns and
summarised by an order-insensitive digest. Curation output is compared
against exact results computed here from the generated corpus: exact
Jaccard pairs by prefix filtering (Bayardo et al., "Scaling up all pairs
similarity search", WWW 2007), exact cosine pairs by blocked matmul, and
plain-Python twins of the quality floor, decontamination, fingerprint
dedup and source quota.

A failed check raises CheckFailed; run.py exits non-zero on it and never
folds it into a metric.
"""

from __future__ import annotations

import hashlib
import math
import re
from collections import Counter, defaultdict

_WS = re.compile(r"\s+", re.ASCII)
_MASK = (1 << 128) - 1


class CheckFailed(Exception):
    pass


def require(ok: bool, what: str) -> None:
    if not ok:
        raise CheckFailed(what)


# ----------------------------------------------------------------- digest

def row_digest(rows) -> str:
    """Order-insensitive digest of an iterable of row tuples: the sum of
    per-row 128-bit hashes mod 2^128. Row order and partitioning do not
    change it; any changed, missing or duplicated row does. Rows hold
    str, int, float, None, lists and Arrow structs read as dicts (keys in
    schema order), whose repr is deterministic."""
    total = 0
    blake = hashlib.blake2b
    for row in rows:
        h = blake(repr(row).encode("utf-8"), digest_size=16).digest()
        total += int.from_bytes(h, "big")
    return f"{total & _MASK:032x}"


# ------------------------------------------------------- extraction checks

EXTRACT_COLUMNS = ("conv_id", "turn_idx", "role", "extracted_text",
                   "markdown", "json", "spans", "n_blocks", "error")


def duck(threads: int):
    """A DuckDB connection: the independent parquet reader for checks."""
    import duckdb

    con = duckdb.connect()
    con.execute(f"SET threads TO {int(threads)}")
    return con


def table_summary(con, files: list[str], columns) -> dict:
    """Row count, distinct (conv_id, turn_idx) keys, non-null `error`
    count (when present), the order-insensitive sum of key hashes, and
    the digest: the sum of whole-row hashes mod 2^128."""
    cols = ", ".join(columns)
    err = "count(error)" if "error" in columns else "0"
    n, keys, dead, key_sum, row_sum = con.execute(
        f"SELECT count(*), count(DISTINCT (conv_id, turn_idx)), {err}, "
        "sum(hash(conv_id, turn_idx)::HUGEINT), "
        f"sum(hash({cols})::HUGEINT) "
        "FROM read_parquet(?, hive_partitioning = false)", [files]).fetchone()
    return {"rows": n, "keys": keys, "dead_letters": dead,
            "key_sum": int(key_sum or 0) & _MASK,
            "digest": f"{int(row_sum or 0) & _MASK:032x}"}


def read_rows(con, files: list[str], columns) -> list[tuple]:
    return con.execute(
        f"SELECT {', '.join(columns)} FROM read_parquet(?, "
        "hive_partitioning = false)", [files]).fetchall()


def fetch_rows(con, files: list[str], keys: list, columns) -> dict:
    """{(conv_id, turn_idx): row} for the given keys."""
    if not keys:
        return {}
    con.execute("CREATE OR REPLACE TEMP TABLE pick "
                "(conv_id VARCHAR, turn_idx INTEGER)")
    con.executemany("INSERT INTO pick VALUES (?, ?)", keys)
    rows = con.execute(
        f"SELECT {', '.join(columns)} FROM read_parquet(?, "
        "hive_partitioning = false) t JOIN pick USING (conv_id, turn_idx)",
        [files]).fetchall()
    return {(r[0], r[1]): r for r in rows}


def check_extraction(con, out_files: list[str], inp: dict,
                     oracle: dict) -> dict:
    """Rows in == rows out, one output row per input key and the same key
    set, and byte equality with tests/oracle.py on the `oracle` sample
    {(conv_id, turn_idx): (text, tool)}. `inp` is the input's
    table_summary."""
    from tests.oracle import oracle_extract_turn

    got = table_summary(con, out_files, EXTRACT_COLUMNS)
    require(got["rows"] == inp["rows"],
            f"rows in {inp['rows']} != rows out {got['rows']}")
    require(got["keys"] == got["rows"], "duplicate output keys")
    require(got["key_sum"] == inp["key_sum"], "output keys != input keys")
    rows = fetch_rows(con, out_files, list(oracle), EXTRACT_COLUMNS)
    for key, (text, tool) in oracle.items():
        want = oracle_extract_turn(text, tool)
        row = dict(zip(EXTRACT_COLUMNS, rows[key]))
        spans = [(s["start"], s["end"], s["label"])
                 for s in row["spans"] or []]
        require(row["error"] is None, f"{key}: dead-lettered: {row['error']}")
        require({"extracted_text": row["extracted_text"],
                 "markdown": row["markdown"], "json": row["json"],
                 "spans": spans, "n_blocks": row["n_blocks"]}
                == {**want, "spans": [tuple(s) for s in want["spans"]]},
                f"{key}: output differs from tests/oracle.py")
    return {"rows_out": got["rows"], "dead_letters": got["dead_letters"],
            "oracle_checked": len(oracle), "digest": got["digest"]}


# ---------------------------------------------------------- curate: text

def norm_text(text: str) -> str:
    """trim (spaces only) -> collapse ASCII whitespace -> lower."""
    return _WS.sub(" ", text.strip(" ")).lower()


def shingles(text: str, n: int = 3) -> frozenset:
    words = norm_text(text).split(" ")
    if len(words) < n:
        return frozenset([norm_text(text)])
    return frozenset(" ".join(words[i:i + n])
                     for i in range(len(words) - n + 1))


def real_words(text: str) -> list[str]:
    return [w for w in norm_text(text).split(" ") if w]


def jaccard_pairs(sets: dict, t: float) -> dict:
    """Every pair (i < j) with Jaccard >= t, exactly. Prefix filter: under
    one global token order (rarest first), two sets with J >= t share a
    token within each one's first |x| - ceil(t|x|) + 1 tokens, so only
    pairs sharing a prefix token are verified — hot tokens sort last and
    rarely enter a prefix."""
    df = Counter(tok for s in sets.values() for tok in s)
    index: dict = defaultdict(list)
    out = {}
    for j in sorted(sets):
        toks = sorted(sets[j], key=lambda tok: (df[tok], tok))
        need = math.ceil(t * len(toks) - 1e-9)
        cands = set()
        for tok in toks[:len(toks) - need + 1]:
            cands.update(index[tok])
            index[tok].append(j)
        for i in cands:
            a, b = sets[i], sets[j]
            common = len(a & b)
            jac = common / (len(a) + len(b) - common)
            if jac >= t:
                out[(i, j)] = jac
    return out


def components_losers(ids, pairs) -> set:
    """Non-keepers of the connected components of `pairs` (keeper = min
    id), by union-find."""
    parent = {i: i for i in ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for i, j in pairs:
        a, b = find(i), find(j)
        if a != b:
            parent[max(a, b)] = min(a, b)
    return {i for i in ids if find(i) != i}


def cosine_pairs(emb, t: float, block: int = 1024) -> dict:
    """Every pair (i < j) with cosine >= t, by blocked float64 matmul."""
    import numpy as np

    x = np.asarray(emb, dtype=np.float64)
    n = len(x)
    norms = np.linalg.norm(x, axis=1)
    out = {}
    for s in range(0, n, block):
        sims = (x[s:s + block] @ x.T) / np.outer(norms[s:s + block], norms)
        ii, jj = np.nonzero(sims >= t)
        for i, j in zip(ii.tolist(), jj.tolist()):
            if s + i < j:
                out[(s + i, j)] = float(sims[i, j])
    return out


def curation_expected(docs, bench_source: str, min_words: int = 30,
                      max_overlap: int = 2, quota: int = 5, n: int = 5):
    """Plain-Python twin of curation_pipeline's stated stage order:
    quality floor, decontamination, fingerprint dedup, per-source quota.
    Returns sorted [doc_id, lang, source, n_words]."""
    def grams(words):
        return {" ".join(words[k:k + n]) for k in range(len(words) - n + 1)}

    bench = set()
    for d in docs:
        if d[3] == bench_source:
            bench |= grams(real_words(d[1]))
    seen_fp = set()
    per_source: dict = defaultdict(int)
    out = []
    for doc_id, text, lang, source, _ in sorted(docs):
        if source == bench_source:
            continue
        words = real_words(text)
        if len(words) < min_words or len(grams(words) & bench) > max_overlap:
            continue
        fp = hashlib.md5(norm_text(text).encode("utf-8")).hexdigest()
        if fp in seen_fp:
            continue
        seen_fp.add(fp)
        if per_source[source] < quota:
            per_source[source] += 1
            out.append([doc_id, lang, source, len(words)])
    return out


def curate_expected(docs, emb, planted) -> dict:
    """Exact results for every operator of the curate chain."""
    ids = [d[0] for d in docs]
    sh = {d[0]: shingles(d[1]) for d in docs}
    df = Counter(tok for s in sh.values() for tok in s)
    groups: dict = {}
    for doc_id, text, *_ in docs:
        h = hashlib.md5(norm_text(text).encode("utf-8")).hexdigest()
        cnt, keeper = groups.get(h, (0, doc_id))
        groups[h] = (cnt + 1, min(keeper, doc_id))
    from perfbench.inputs import BENCH_SOURCE

    j05 = jaccard_pairs(sh, 0.5)
    j08 = {k: v for k, v in j05.items() if v >= 0.8}
    cos = cosine_pairs(emb, 0.9)
    return {
        "exact_digest": row_digest(
            (h, c, k) for h, (c, k) in groups.items()),
        "exact_groups": len(groups),
        "keep_first_losers": sorted(components_losers(ids, j05)),
        "ngram_pairs": sorted([i, j, v] for (i, j), v in j08.items()),
        "emb_pairs": sorted([i, j, v] for (i, j), v in cos.items()),
        "curation": curation_expected(docs, BENCH_SOURCE),
        "planted": sorted([a, b] for a, b in planted),
        "max_shingle_freq": max(df.values()),
        "n_docs": len(docs),
    }


def _pairs_match(got, want, tol: float, what: str) -> None:
    g = {(int(a), int(b)): float(v) for a, b, v in got}
    w = {(a, b): v for a, b, v in want}
    require(len(g) == len(got), f"{what}: duplicate pairs in output")
    missing, extra = w.keys() - g.keys(), g.keys() - w.keys()
    require(not missing and not extra,
            f"{what}: {len(missing)} exact pairs missing, {len(extra)} "
            f"reported pairs not in the exact set")
    bad = [k for k in w if abs(g[k] - w[k]) > tol]
    require(not bad, f"{what}: {len(bad)} pair scores differ, e.g. {bad[:3]}")


def check_curate(results: dict, exp: dict) -> dict:
    """Compare one pass's collected operator outputs with the exact
    expectations. `results` holds plain lists read back from the pass's
    written output."""
    n = exp["n_docs"]
    planted = {tuple(p) for p in exp["planted"]}

    exact = results["exact"]
    require(row_digest(exact) == exp["exact_digest"],
            f"exact_dedup: {len(exact)} groups, expected "
            f"{exp['exact_groups']}, or group contents differ")

    losers = set(exp["keep_first_losers"])
    kept = results["keep_first"]
    require(len(kept) == len(set(kept)), "dedup_keep_first: duplicate ids")
    require(set(kept) == set(range(n)) - losers,
            f"dedup_keep_first: {len(kept)} survivors, "
            f"exact {n - len(losers)}")

    ngram = results["ngram"]
    require(all(v >= 0.8 for _, _, v in ngram),
            "ngram_jaccard_pairs: pair below threshold")
    found = {(a, b) for a, b, _ in ngram}
    require(planted <= found, "ngram_jaccard_pairs: planted pair missing")
    _pairs_match(ngram, exp["ngram_pairs"], 2e-6, "ngram_jaccard_pairs")

    emb = results["neardup"]
    require(all(v >= 0.9 for _, _, v in emb),
            "embedding_neardup_pairs: pair below threshold")
    require(planted <= {(a, b) for a, b, _ in emb},
            "embedding_neardup_pairs: planted pair missing")
    _pairs_match(emb, exp["emb_pairs"], 2e-6, "embedding_neardup_pairs")

    # SemDeDup drops j iff an earlier id in j's cell is within the
    # threshold. Cells of dropped ids are not in the output, so check what
    # the survivors pin down: each dropped id has an exact earlier
    # partner, and no two survivors within the threshold share a cell.
    sem = dict(results["semdedup"])
    require(len(sem) == len(results["semdedup"]), "semantic_dedup: dup ids")
    partnered = {j for _, j, _ in exp["emb_pairs"]}
    dropped = set(range(n)) - sem.keys()
    require(dropped <= partnered,
            "semantic_dedup: dropped an id with no earlier partner >= 0.9")
    clash = [(i, j) for i, j, _ in exp["emb_pairs"]
             if i in sem and j in sem and sem[i] == sem[j]]
    require(not clash,
            f"semantic_dedup: kept near-dup pair in one cell {clash[:3]}")

    cur = sorted(list(r) for r in results["curation"])
    require(cur == exp["curation"],
            f"curation_pipeline: {len(cur)} rows, "
            f"exact {len(exp['curation'])}")
    return {"survivors": len(kept), "ngram_pairs": len(ngram),
            "neardup_pairs": len(emb), "semdedup_survivors": len(sem),
            "semdedup_partnered_survivors": len(partnered) - len(dropped),
            "curation_rows": len(cur)}
