"""Correctness oracles, independent of the engine: numpy top-k, a
pure-Python shingle Jaccard and the registry's DuckDB oracles."""

from __future__ import annotations

import os
import re
from collections import defaultdict

import numpy as np

TOL = 2e-6  # two units in the 6th decimal the engine rounds distances to


# --- top-k --------------------------------------------------------------------

def numpy_topk(vectors: np.ndarray, keys: list[str], queries: np.ndarray,
               k: int, mask_values=None, want=None) -> list[list[tuple]]:
    """Exact L2 top-k per query as (key, distance) with the engine's
    rounding (6 decimals) and tiebreak (distance, then key). With
    ``mask_values``/``want``, only rows whose value equals the query's
    ``want`` value are eligible (the filtered search)."""
    X = vectors.astype(np.float64)
    xx = (X * X).sum(1)
    out = []
    for i, q in enumerate(queries.astype(np.float64)):
        approx = xx - 2.0 * (X @ q)
        if mask_values is not None:
            approx = np.where(mask_values == want[i], approx, np.inf)
        cand = np.argpartition(approx, k + 32)[: k + 32]
        cand = cand[np.isfinite(approx[cand])]
        d = np.round(np.sqrt(((X[cand] - q) ** 2).sum(1)), 6)
        ranked = sorted(zip(d.tolist(), (keys[j] for j in cand)))
        out.append([(key, dist) for dist, key in ranked[:k]])
    return out


def topk_ok(rows: list[tuple], want: list[tuple], vectors: np.ndarray,
            q: np.ndarray, key_index, allowed=None) -> bool:
    """A returned top-k is correct when it has k distinct keys, each
    reported distance is that key's true distance, every key passes
    the filter, and the distance list equals the exact one (so only a
    genuine tie may swap keys)."""
    if len(rows) != len(want) or len({r[0] for r in rows}) != len(rows):
        return False
    qd = q.astype(np.float64)
    for (key, dist), (_, wd) in zip(rows, want):
        idx = key_index(key)
        if idx is None or (allowed is not None and not allowed(idx)):
            return False
        true = float(np.sqrt(((vectors[idx].astype(np.float64) - qd) ** 2).sum()))
        if abs(true - dist) > TOL or abs(dist - wd) > TOL:
            return False
    return True


def recall(rows: list[tuple], want: list[tuple]) -> float:
    return len({r[0] for r in rows} & {w[0] for w in want}) / max(len(want), 1)


# --- ingest -----------------------------------------------------------------

def ingest_snapshot(got: list[dict], state: dict, texts: dict, embed):
    """Yield (ok, message): the collection snapshot (rows of key, tags,
    ts, embedding) equals the pure-Python model ``state`` (key -> (op,
    event time offset, tags); see gen.apply_events): same live keys,
    and each row's tags, event time and embedding of its object text."""
    from gen import _EPOCH

    want = {k: v for k, v in state.items() if v[0] == "put"}
    keys = {r["key"] for r in got}
    yield (keys == set(want),
           f"ingest snapshot: {sorted(keys - set(want))[:5]} present but deleted "
           f"or never put, {sorted(set(want) - keys)[:5]} missing")
    epoch = int(_EPOCH.timestamp())
    bad = [r["key"] for r in got if r["key"] in want and (
        dict(r["tags"] or {}) != want[r["key"]][2]
        or r["ts"] != epoch + want[r["key"]][1]
        or not np.array_equal(np.asarray(r["embedding"], np.float32),
                              np.asarray(embed(texts[r["key"]]), np.float32)))]
    yield not bad, f"ingest snapshot: rows differ from the model for {bad[:5]}"


# --- curation -----------------------------------------------------------------

def _normalize(text: str) -> str:
    t = re.sub(r"[^a-z0-9\s]", " ", text.lower())
    return re.sub(r"\s+", " ", t).strip()


def shingles(text: str, n: int = 3) -> frozenset:
    """Word n-gram set, the same definition as operators.dedup.shingles."""
    toks = _normalize(text).split(" ")
    if len(toks) < n:
        return frozenset([" ".join(toks)])
    return frozenset(" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1))


def jaccard(a: frozenset, b: frozenset) -> float:
    return len(a & b) / max(len(a | b), 1)


def curation(corpus, kept_rows, threshold: float = 0.8):
    """Yield (ok, message) checks of a curation output: every dropped
    doc has a kept partner with Jaccard >= threshold, no two kept docs
    are exact duplicates, and every generated exact copy is dropped."""
    texts = dict(zip(corpus.doc_ids.tolist(), corpus.texts))
    kept = {r["doc_id"] for r in kept_rows}
    sh = {d: shingles(t) for d, t in texts.items()}
    index = defaultdict(set)
    for d in kept:
        for s in sh[d]:
            index[s].add(d)
    orphans = []
    for d in sorted(set(texts) - kept):
        cands = set().union(*(index.get(s, set()) for s in sh[d])) if sh[d] else set()
        if not any(jaccard(sh[d], sh[c]) >= threshold for c in cands):
            orphans.append(d)
    yield (not orphans,
           f"curation: {len(orphans)} dropped docs without a kept near-duplicate "
           f"partner, e.g. {orphans[:5]}")
    norm = defaultdict(list)
    for d in kept:
        norm[_normalize(texts[d])].append(d)
    dups = [ids for ids in norm.values() if len(ids) > 1]
    yield (not dups, f"curation: kept exact duplicates {dups[:3]}")
    leaked = [d for d, kind in zip(corpus.doc_ids.tolist(), corpus.kind)
              if kind == "exact" and d in kept]
    yield (not leaked, f"curation: exact copies kept {leaked[:5]}")


def verified_pairs(corpus, pairs, threshold: float = 0.8) -> int:
    texts = dict(zip(corpus.doc_ids.tolist(), corpus.texts))
    return sum(1 for a, b in pairs
               if jaccard(shingles(texts[a]), shingles(texts[b])) >= threshold)


# --- registry -----------------------------------------------------------------

def registry_vs_oracle(columns: list[str], srows: list[tuple], tables_dir: str,
                       name: str) -> tuple[bool, str]:
    """A registry query's collected columns and rows against its DuckDB
    oracle over the same parquet files, compared with the registry's
    own canonicalization."""
    import duckdb

    from python_vectordbapp_ceph_spark.queries import ORACLES
    from python_vectordbapp_ceph_spark.queries._compare import canon

    con = duckdb.connect()
    try:
        for f in sorted(os.listdir(tables_dir)):
            if f.endswith(".parquet"):
                con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM "
                            f"read_parquet('{os.path.join(tables_dir, f)}')")
        cur = con.execute(ORACLES[name])
        ocols = [d[0] for d in cur.description]
        orows = [tuple(r) for r in cur.fetchall()]
    finally:
        con.close()
    ok = canon(columns, srows) == canon(ocols, orows)
    return ok, (f"registry {name}: {len(srows)} rows differ from its oracle "
                f"({len(orows)} rows)")
