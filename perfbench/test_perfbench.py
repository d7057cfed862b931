"""Tests of the benchmark itself (no Spark): generators are seeded,
metric names match BENCHMARK.json, and the correctness checks reject
planted wrong answers.

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402
import run as bench  # noqa: E402
import spans  # noqa: E402
import wl_query  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9_.-]+$")


def _spec() -> dict:
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        return json.load(f)


def _digest_dir(d: str) -> dict[str, str]:
    return {f: hashlib.sha256(open(os.path.join(d, f), "rb").read()).hexdigest()
            for f in sorted(os.listdir(d)) if os.path.isfile(os.path.join(d, f))}


# --- generators ---------------------------------------------------------------

def test_notification_stream_is_seeded():
    a = gen.notification_stream(7, 4)
    b = gen.notification_stream(7, 4)
    c = gen.notification_stream(8, 4)
    assert [f.body for f in a.files] == [f.body for f in b.files]
    assert a.texts == b.texts
    assert [f.body for f in a.files] != [f.body for f in c.files]


def test_notification_stream_shape():
    s = gen.notification_stream(3, 6)
    state: dict = {}
    for f in s.files:
        assert len(f.events) >= 200
        last = f.events[-1]
        assert last[0] == f.probe_key and last[1] == "put"
        assert state.get(f.probe_key, ("delete",))[0] != "put"
        assert sum(1 for e in f.events if e[0] == f.probe_key) == 1
        state = gen.apply_events(state, f.events)
    deletes = sum(1 for f in s.files for e in f.events if e[1] == "delete")
    total = sum(len(f.events) for f in s.files)
    assert 0.05 < deletes / total < 0.2


def test_delete_wins_a_tie():
    st = gen.apply_events({}, [("k", "delete", 5, {}), ("k", "put", 5, {})])
    assert st["k"][0] == "delete"
    st = gen.apply_events({}, [("k", "put", 5, {}), ("k", "delete", 5, {})])
    assert st["k"][0] == "delete"
    st = gen.apply_events(st, [("k", "put", 6, {"c": "1"})])
    assert st["k"] == ("put", 6, {"c": "1"})


def test_file_generators_are_byte_identical(tmp_path):
    for seed, sub in ((5, "a"), (5, "b"), (6, "c")):
        d = tmp_path / sub
        d.mkdir()
        gen.write_vector_set(gen.vector_set(seed, n=300, dim=8, n_clusters=4),
                             str(d / "vectors.parquet"))
        gen.write_corpus(seed, gen.curation_corpus(seed, 200), str(d / "corpus"))
        gen.write_registry_tables(seed, str(d / "tables"), n_docs=50, n_orders=100)
    a, b, c = (_digest_dir(str(tmp_path / s)) for s in "abc")
    for sub in ("corpus", "tables"):
        assert _digest_dir(str(tmp_path / "a" / sub)) == _digest_dir(str(tmp_path / "b" / sub))
        assert _digest_dir(str(tmp_path / "a" / sub)) != _digest_dir(str(tmp_path / "c" / sub))
    assert a["vectors.parquet"] == b["vectors.parquet"] != c["vectors.parquet"]


def test_corpus_dup_shares():
    c = gen.curation_corpus(11, 1000)
    assert c.kind.count("exact") == 100 and c.kind.count("near") == 100
    for d, kind in zip(c.doc_ids.tolist(), c.kind):
        if kind == "orig":
            continue
        o = int(c.origin[d])
        assert o < d
        j = check.jaccard(check.shingles(c.texts[d]), check.shingles(c.texts[o]))
        assert j == 1.0 if kind == "exact" else 0.8 <= j < 1.0


# --- metric names -------------------------------------------------------------

def test_benchmark_json_names():
    raw = _spec()
    spec = bench.load_spec()
    assert list(raw) == ["command", "paths", "run_seconds", "workloads",
                         "end_to_end", "per_layer"]
    names = (spec["workloads"] + list(spec["end_to_end"])
             + list(spec["per_layer"]))
    assert len(names) == len(set(names))
    for n in names:
        assert NAME.match(n) and len(n) <= 64, n
    assert spec["workloads"] == ["ingest", "query"]
    assert spec["end_to_end"]["setup_s"] == "s"
    assert max(m["bound"] for m in raw["end_to_end"]) == next(
        m["bound"] for m in raw["end_to_end"] if m["name"] == "setup_s") <= 0.25
    for q in wl_query.REGISTRY:
        assert f"registry.{q}.wall_s" in spec["per_layer"]
    for c in spans.COUNTERS:
        assert f"spark.{c}" in spec["per_layer"]


def test_printed_info_names_are_well_formed():
    """Names of the info lines (``run.note``) and per-layer keys the
    workloads set; an f-string field counts as one name character."""
    pat = re.compile(r'(?:run\.note\(|pl\[)f?"([^"]+)"')
    found = []
    for mod in ("wl_ingest.py", "wl_query.py"):
        with open(os.path.join(HERE, mod)) as f:
            found += pat.findall(f.read())
    assert len(found) > 20
    for name in found:
        assert NAME.match(re.sub(r"\{[^}]*\}", "x", name)), name
    for mod in ("wl_ingest.py", "wl_query.py"):
        with open(os.path.join(HERE, mod)) as f:
            for name in re.findall(r'pl\["([^"{]+)"\]', f.read()):
                assert name in bench.load_spec()["per_layer"], name


# --- planted wrong answers ----------------------------------------------------

def _search_case():
    vs = gen.vector_set(2, n=500, dim=16, n_clusters=4, n_queries=3)
    truth = check.numpy_topk(vs.vectors, vs.keys, vs.queries, 10)
    index = {k: i for i, k in enumerate(vs.keys)}.get
    return vs, truth, index


def test_correct_topk_passes():
    vs, truth, index = _search_case()
    for i in range(3):
        assert check.topk_ok(truth[i], truth[i], vs.vectors, vs.queries[i], index)


@pytest.mark.parametrize("plant", ["swap_key", "drop_row", "duplicate", "farther"])
def test_planted_wrong_topk_fails(plant):
    vs, truth, index = _search_case()
    rows = list(truth[0])
    if plant == "swap_key":      # right distance, wrong key
        rows[3] = (rows[4][0], rows[3][1])
        rows[4] = (truth[0][3][0], rows[4][1])
    elif plant == "drop_row":
        rows = rows[:-1]
    elif plant == "duplicate":
        rows[5] = rows[4]
    else:                        # a farther row replaces the 10th
        full = check.numpy_topk(vs.vectors, vs.keys, vs.queries[:1], 11)[0]
        rows[9] = full[10]
    assert not check.topk_ok(rows, truth[0], vs.vectors, vs.queries[0], index)


def test_filtered_topk_rejects_a_row_outside_the_filter():
    vs, truth, index = _search_case()
    want = check.numpy_topk(vs.vectors, vs.keys, vs.queries, 10,
                            mask_values=vs.tag_c, want=vs.query_tags)[0]
    allowed = lambda j: vs.tag_c[j] == vs.query_tags[0]  # noqa: E731
    assert check.topk_ok(want, want, vs.vectors, vs.queries[0], index, allowed)
    assert not check.topk_ok(truth[0], want, vs.vectors, vs.queries[0], index, allowed)


def _snapshot_case():
    s = gen.notification_stream(4, 3)
    state: dict = {}
    for f in s.files:
        state = gen.apply_events(state, f.events)
    epoch = int(gen._EPOCH.timestamp())  # noqa: SLF001
    embed = lambda t: np.frombuffer(  # noqa: E731
        hashlib.sha256(t.encode()).digest(), np.uint8).astype(np.float32)
    rows = [{"key": k, "tags": v[2], "ts": epoch + v[1],
             "embedding": embed(s.texts[k])}
            for k, v in state.items() if v[0] == "put"]
    return s, state, rows, embed


def test_model_snapshot_passes():
    s, state, rows, embed = _snapshot_case()
    assert all(ok for ok, _ in check.ingest_snapshot(rows, state, s.texts, embed))


def test_resurrected_deleted_key_fails():
    s, state, rows, embed = _snapshot_case()
    dead = next(k for k, v in state.items() if v[0] == "delete")
    rows.append({"key": dead, "tags": {}, "ts": 0, "embedding": embed(s.texts[dead])})
    assert not all(ok for ok, _ in check.ingest_snapshot(rows, state, s.texts, embed))


def test_stale_row_fails():
    s, state, rows, embed = _snapshot_case()
    rows[0] = dict(rows[0], ts=rows[0]["ts"] - 1)
    assert not all(ok for ok, _ in check.ingest_snapshot(rows, state, s.texts, embed))


def test_curation_check_rejects_kept_duplicate_and_orphan_drop():
    c = gen.curation_corpus(9, 300)
    ids = c.doc_ids.tolist()
    right = [{"doc_id": d} for d, k in zip(ids, c.kind) if k == "orig"]
    assert all(ok for ok, _ in check.curation(c, right))
    exact = next(d for d, k in zip(ids, c.kind) if k == "exact")
    assert not all(ok for ok, _ in check.curation(c, right + [{"doc_id": exact}]))
    orphan = right[1:]  # drops an original that has no kept near-duplicate
    assert not all(ok for ok, _ in check.curation(c, orphan))
