"""Seeded input generators. Pure numpy/pyarrow: the same seed gives
byte-identical files, and nothing here touches Spark.

Every generator draws from ``np.random.default_rng([seed, STREAM])``
with its own stream number, so changing one input family never shifts
another's draws. ``HELD_OUT_SEED`` is reserved: tune on any other seed,
then confirm a claimed gain on it.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field
from datetime import datetime, timedelta, timezone

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HELD_OUT_SEED = 20_261_017

# notification stream: records per file, object key space, event mix
EVENTS_PER_FILE = 200
# At 400 keys the change log first compacts around the 9th batch, after
# a 10 s ingest run has ended, so only the traced run, which feeds
# batches until one compacts, sees a compaction. With 40 keys
# compaction fired every third batch, but the median then depended on
# which kinds of batch a run caught and varied 23% between runs.
N_KEYS = 400
DELETE_SHARE = 0.1
TIE_SHARE = 0.03
ZIPF_A = 1.1
RECORDS_PER_MESSAGE = 10
# vector set: Gaussian spread around each centre (queries: half of it)
SPREAD = 0.35
# curation corpus: shares of exact and one-word-substituted copies
EXACT_DUP_SHARE = 0.10
NEAR_DUP_SHARE = 0.10
CORPUS_EMB_DIM = 64
N_CUSTOMERS = 600

BUCKET = "bench-docs"
_EPOCH = datetime(2026, 1, 1, tzinfo=timezone.utc)

# English-marked vocabulary: the curation pipeline keeps lang_id == "en"
# and quality >= 0.2, so every generated document must pass both (no
# punctuation, English markers and stopwords present).
_VOCAB = (
    "the and of is with a to in it data table query scan join merge batch "
    "window vector spark stream index key value row column filter group "
    "order sort hash shard cache block page log node graph edge token "
    "model train test split score rank fast slow big small line part "
    "customer supplier region nation price ship date year month week day"
).split()


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.default_rng([int(seed), stream])


def _words(rng: np.random.Generator, n: int) -> list[str]:
    return [_VOCAB[i] for i in rng.integers(len(_VOCAB), size=n)]


def _write_parquet(table: pa.Table, path: str) -> None:
    # fixed writer settings: no timestamps or library versions that
    # change between runs leak into the bytes beyond pyarrow's own
    pq.write_table(table, path, compression="snappy", use_dictionary=True,
                   write_statistics=True)


# --- ingest: S3 bucket-notification stream ---------------------------------

@dataclass
class NotificationFile:
    """One notification file (one streaming micro-batch)."""

    body: bytes                       # newline-delimited S3 event messages
    events: list[tuple]               # (key, op, event_time_s, tags)
    probe_key: str                    # PUT last in this file, not live before


@dataclass
class NotificationStream:
    texts: dict[str, str]             # object key -> object text
    files: list[NotificationFile] = field(default_factory=list)


def _event_time(t: int) -> str:
    return (_EPOCH + timedelta(seconds=t)).strftime("%Y-%m-%dT%H:%M:%S.000Z")


def notification_stream(seed: int, n_files: int) -> NotificationStream:
    """S3 notifications over a Zipf-skewed space of ``N_KEYS`` keys,
    ``EVENTS_PER_FILE`` records per file.

    About ``DELETE_SHARE`` of events are ``ObjectRemoved:Delete``;
    about ``TIE_SHARE`` are PUT/DELETE pairs for one key at one
    timestamp (delete must win). Each file ends with a PUT of a key
    that is not live before the file and appears nowhere else in it:
    the read-your-write probe for that batch."""
    rng = _rng(seed, 1)
    keys = [f"docs/obj-{i:05d}.txt" for i in range(N_KEYS)]
    texts = {
        k: f"object {i} " + " ".join(_words(rng, 24))
        for i, k in enumerate(keys)
    }
    weights = 1.0 / np.arange(1, N_KEYS + 1) ** ZIPF_A
    weights = weights[rng.permutation(N_KEYS)]
    weights /= weights.sum()
    state: dict = {}
    out = NotificationStream(texts=texts)
    t = 0
    for _ in range(n_files):
        events: list[tuple] = []
        while len(events) < EVENTS_PER_FILE - 1:
            key = keys[rng.choice(N_KEYS, p=weights)]
            tags = {"c": str(int(rng.integers(10))), "src": BUCKET}
            if rng.random() < TIE_SHARE:
                pair = [(key, "put", t, tags), (key, "delete", t, tags)]
                if rng.random() < 0.5:
                    pair.reverse()
                events.extend(pair)
            else:
                op = "delete" if rng.random() < DELETE_SHARE else "put"
                events.append((key, op, t, tags))
            t += 1
        touched = {e[0] for e in events}
        fresh = [k for k in keys
                 if state.get(k, ("delete",))[0] != "put" and k not in touched]
        if fresh:
            probe = fresh[int(rng.integers(len(fresh)))]
        else:  # every key is live or touched: the probe is a new object
            probe = f"docs/new-{t:07d}.txt"
            texts[probe] = f"object new {t} " + " ".join(_words(rng, 24))
        events.append((probe, "put", t, {"c": "probe", "src": BUCKET}))
        t += 1
        state = apply_events(state, events)
        lines = []
        for i in range(0, len(events), RECORDS_PER_MESSAGE):
            recs = [
                {
                    "eventName": ("ObjectCreated:Put" if op == "put"
                                  else "ObjectRemoved:Delete"),
                    "eventTime": _event_time(ts),
                    "s3": {"bucket": {"name": BUCKET},
                           "object": {"key": key, "tags": tg}},
                }
                for key, op, ts, tg in events[i:i + RECORDS_PER_MESSAGE]
            ]
            lines.append(json.dumps({"Records": recs}, sort_keys=True,
                                    separators=(",", ":")))
        out.files.append(NotificationFile(
            body=("\n".join(lines) + "\n").encode(), events=events,
            probe_key=probe,
        ))
    return out


def write_objects(stream: NotificationStream, path: str) -> None:
    """The object store stand-in: (key, text) for every object."""
    keys = sorted(stream.texts)
    _write_parquet(pa.table({"key": keys, "text": [stream.texts[k] for k in keys]}),
                   path)


def apply_events(state: dict, events: list[tuple]) -> dict:
    """The reference webhook's outcome for one micro-batch, in pure
    Python: the last event per key wins, and on equal event times a
    DELETE beats a PUT. ``state`` maps key -> (op, time_s, tags)."""
    last: dict[str, tuple] = {}
    for key, op, ts, tags in events:
        rank = (ts, op == "delete")
        if key not in last or rank > last[key][0]:
            last[key] = (rank, op, ts, tags)
    state = dict(state)
    for key, (_, op, ts, tags) in last.items():
        state[key] = (op, ts, tags)
    return state


# --- search: clustered vector set and its queries ---------------------------

@dataclass
class VectorSet:
    keys: list[str]
    vectors: np.ndarray               # (n, dim) float32
    tag_c: np.ndarray                 # (n,) int, ~10% per value
    queries: np.ndarray               # (n_queries, dim) float32
    query_tags: np.ndarray            # (n_queries,) int filter values


def vector_set(seed: int, n: int, dim: int, n_clusters: int = 64,
               n_queries: int = 64) -> VectorSet:
    """``n`` float32 vectors around ``n_clusters`` Gaussian centres;
    queries are drawn near the centres."""
    rng = _rng(seed, 2)
    centres = rng.normal(size=(n_clusters, dim)).astype(np.float32)
    member = rng.integers(n_clusters, size=n)
    vecs = (centres[member]
            + rng.normal(scale=SPREAD, size=(n, dim))).astype(np.float32)
    qc = rng.integers(n_clusters, size=n_queries)
    queries = (centres[qc] + rng.normal(scale=SPREAD / 2,
                                        size=(n_queries, dim))).astype(np.float32)
    return VectorSet(
        keys=[f"v{i:06d}" for i in range(n)],
        vectors=vecs,
        tag_c=rng.integers(10, size=n),
        queries=queries,
        query_tags=rng.integers(10, size=n_queries),
    )


def write_vector_set(vs: VectorSet, path: str) -> None:
    """The collection's upsert input: (key, url, embedding, tags)."""
    dim = vs.vectors.shape[1]
    emb = pa.FixedSizeListArray.from_arrays(
        pa.array(vs.vectors.reshape(-1), type=pa.float32()), dim
    ).cast(pa.list_(pa.float32()))
    tags = pa.array(
        [[("c", str(int(c)))] for c in vs.tag_c],
        type=pa.map_(pa.string(), pa.string()),
    )
    _write_parquet(pa.table({
        "key": vs.keys,
        "url": [f"http://rgw/{BUCKET}/{k}" for k in vs.keys],
        "embedding": emb,
        "tags": tags,
    }), path)


# --- curation corpus and the registry tables --------------------------------

@dataclass
class Corpus:
    doc_ids: np.ndarray
    texts: list[str]
    origin: np.ndarray                # doc_id of the original (self if original)
    kind: list[str]                   # "orig" | "exact" | "near"


def curation_corpus(seed: int, n_docs: int) -> Corpus:
    """Originals of 40-70 random words, then exact copies and
    one-word-substituted near copies (3-shingle Jaccard ~0.85 against
    their original, below 0.8 between two copies of one original).
    Copies always get larger ids than their original, so the
    keep-min survivor rule keeps the original."""
    rng = _rng(seed, 3)
    n_exact = int(round(n_docs * EXACT_DUP_SHARE))
    n_near = int(round(n_docs * NEAR_DUP_SHARE))
    n_orig = n_docs - n_exact - n_near
    texts, origin, kind = [], [], []
    for i in range(n_orig):
        # leading English markers keep lang_id == "en" for every doc
        texts.append("the data of " + " ".join(_words(rng, int(rng.integers(40, 71)))))
        origin.append(i)
        kind.append("orig")
    for _ in range(n_exact):
        src = int(rng.integers(n_orig))
        texts.append(texts[src])
        origin.append(src)
        kind.append("exact")
    for _ in range(n_near):
        src = int(rng.integers(n_orig))
        toks = texts[src].split(" ")
        pos = int(rng.integers(3, len(toks)))
        toks[pos] = "variant" + str(int(rng.integers(1_000_000)))
        texts.append(" ".join(toks))
        origin.append(src)
        kind.append("near")
    return Corpus(np.arange(n_docs, dtype=np.int64), texts,
                  np.asarray(origin, dtype=np.int64), kind)


def write_corpus(seed: int, corpus: Corpus, out_dir: str) -> None:
    """``documents`` and ``embeddings`` (one parquet file each, with the
    columns ``io.load_table`` reads) for the curation pipeline."""
    rng = _rng(seed, 4)
    os.makedirs(out_dir, exist_ok=True)
    n = len(corpus.texts)
    _write_parquet(pa.table({
        "doc_id": pa.array(corpus.doc_ids, pa.int64()),
        "text": corpus.texts,
        "lang": ["en"] * n,
        "source": [f"src{int(s)}" for s in rng.integers(20, size=n)],
        "n_chars": pa.array([len(t) for t in corpus.texts], pa.int64()),
    }), os.path.join(out_dir, "documents.parquet"))
    emb = rng.normal(size=(n, CORPUS_EMB_DIM)).astype(np.float32)
    _write_parquet(pa.table({
        "vec_id": pa.array(corpus.doc_ids, pa.int64()),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(emb.reshape(-1), type=pa.float32()), CORPUS_EMB_DIM
        ).cast(pa.list_(pa.float32())),
        "label": pa.array(rng.integers(10, size=n), pa.int32()),
    }), os.path.join(out_dir, "embeddings.parquet"))


def write_registry_tables(seed: int, out_dir: str, n_docs: int = 300,
                          n_orders: int = 6_000) -> None:
    """``orders`` and a small ``documents`` table for the registry
    queries (their DuckDB oracles include a recursive closure over the
    document similarity graph, so the table stays small)."""
    write_corpus(seed, curation_corpus(seed + 1, n_docs), out_dir)
    rng = _rng(seed, 5)
    days = rng.integers(0, 365 * 6, size=n_orders)
    dates = (np.datetime64("1995-01-01") + days).astype("datetime64[us]")
    prio = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    _write_parquet(pa.table({
        "o_orderkey": pa.array(np.arange(n_orders), pa.int64()),
        "o_custkey": pa.array(rng.integers(N_CUSTOMERS, size=n_orders), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(3, size=n_orders)],
        "o_totalprice": pa.array(
            np.round(rng.uniform(1_000, 500_000, size=n_orders), 2), pa.float64()
        ),
        "o_orderdate": pa.array(dates, pa.timestamp("us")),
        "o_orderpriority": [prio[i] for i in rng.integers(5, size=n_orders)],
    }), os.path.join(out_dir, "orders.parquet"))
