"""Seeded input generator for the benchmark workloads.

Everything here is NumPy + pyarrow on the driver: the program under test only
ever sees the parquet files written here. The same (seed, sizes) always gives
byte-identical files, and each generator also returns the facts the
correctness checks compare the program's output against (computed
independently of Spark).

Schemas follow the repository's sf0.1 test data:

* events(event_id long, ts timestamp[us], user_id long, event_type string,
  value double, props string)
* documents(doc_id long, text string, lang string, source string,
  n_chars long)
* embeddings(vec_id long, embedding array<float>, label int)
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = np.array(["click", "view", "purchase", "signup", "error"])
LANGS = np.array(["en", "de", "es", "fr", "zh"])
LANG_P = np.array([0.4, 0.15, 0.15, 0.15, 0.15])
START_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
SPAN_US = 30 * 86_400 * 1_000_000


@dataclass(frozen=True)
class Sizes:
    """Input sizes of one workload (rows)."""

    events: int = 0
    users: int = 0
    docs: int = 0
    vocab: int = 0
    vectors: int = 0
    dim: int = 64


def _zipf_weights(n: int, s: float) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1, dtype=np.float64) ** s
    return w / w.sum()


def _write(table: pa.Table, path: str) -> None:
    # fixed row-group size and codec: the written bytes depend on the data only
    pq.write_table(table, path, compression="snappy", row_group_size=1 << 20)


def gen_events(rng: np.random.Generator, n: int, n_users: int, path: str) -> dict:
    """Events with Zipf-skewed rows per user (the top user holds ~1/ln(n_users)
    of all rows), microsecond timestamps uniform over 30 days."""
    user = rng.choice(n_users, size=n, p=_zipf_weights(n_users, 1.0)).astype(np.int64)
    ts = START_US + rng.integers(0, SPAN_US, size=n, dtype=np.int64)
    etype = EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), size=n)]
    value = np.round(rng.lognormal(3.0, 1.0, size=n), 2)
    props = np.char.add(
        np.char.add('{"k": ', rng.integers(0, 100, size=n).astype(str)), "}"
    )
    _write(
        pa.table({
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array(ts, type=pa.timestamp("us")),
            "user_id": pa.array(user),
            "event_type": pa.array(etype.astype(object), type=pa.string()),
            "value": pa.array(value),
            "props": pa.array(props.astype(object), type=pa.string()),
        }),
        path,
    )
    # facts for the checks, from NumPy only
    key = np.unique(user * SPAN_US * 2 + (ts - START_US))  # distinct (user, ts)
    return {
        "events": n,
        "clicks": int((etype == "click").sum()),
        "dedup_rows": int(key.size),
    }


def _word(i: int) -> str:
    # deterministic pronounceable token per vocabulary rank
    cons, vow = "bcdfghklmnprstvz", "aeiou"
    out = []
    i += 1
    while i:
        i, r = divmod(i, 80)
        out.append(cons[r % 16] + vow[r // 16])
    return "".join(out)


def gen_documents(rng: np.random.Generator, n: int, vocab: int, path: str) -> dict:
    """Documents over a Zipf vocabulary, with planted exact duplicates (a
    copy of an earlier doc) and near duplicates (one word replaced in a copy,
    word-3-gram Jaccard well above 0.8). Planted docs never copy a planted
    doc, so every exact-duplicate pair is a distinct 2-element group."""
    words = np.array([_word(i) for i in range(vocab)], dtype=object)
    p = _zipf_weights(vocab, 1.0)
    lens = rng.integers(40, 121, size=n)
    toks = rng.choice(vocab, size=int(lens.sum()), p=p)
    bounds = np.concatenate([[0], np.cumsum(lens)])
    texts = [" ".join(words[toks[bounds[i]:bounds[i + 1]]]) for i in range(n)]

    n_exact, n_near = n // 40, n // 40
    planted = rng.choice(np.arange(n // 2, n), size=n_exact + n_near, replace=False)
    sources = rng.choice(n // 2, size=n_exact + n_near, replace=False)
    exact_pairs = []
    for dst, src in zip(planted[:n_exact], sources[:n_exact]):
        texts[dst] = texts[src]
        exact_pairs.append((int(src), int(dst)))
    for dst, src in zip(planted[n_exact:], sources[n_exact:]):
        w = texts[src].split(" ")
        j = int(rng.integers(0, len(w)))
        w[j] = words[int(rng.integers(0, vocab))] + "x"  # a word not in vocab
        texts[dst] = " ".join(w)

    lang = LANGS[rng.choice(len(LANGS), size=n, p=LANG_P)]
    source = np.char.add("src", (np.arange(n) % 20).astype(str))
    _write(
        pa.table({
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts, type=pa.string()),
            "lang": pa.array(lang.astype(object), type=pa.string()),
            "source": pa.array(source.astype(object), type=pa.string()),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }),
        path,
    )
    return {"docs": n, "exact_pairs": sorted(exact_pairs)}


def gen_embeddings(rng: np.random.Generator, n: int, dim: int, path: str) -> dict:
    """Unit-norm float32 vectors around 16 Gaussian cluster centres."""
    k = 16
    centres = rng.normal(size=(k, dim))
    label = rng.integers(0, k, size=n).astype(np.int32)
    x = centres[label] + 0.6 * rng.normal(size=(n, dim))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    _write(
        pa.table({
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.array(list(x), type=pa.list_(pa.float32())),
            "label": pa.array(label),
        }),
        path,
    )
    return {"vectors": n}


def generate(seed: int, sizes: Sizes, out_dir: str) -> dict:
    """Write every input ``sizes`` asks for under ``out_dir``; return the
    check facts keyed by input name. One ``SeedSequence`` child stream per
    input, so resizing one input leaves the others' bytes unchanged."""
    os.makedirs(out_dir, exist_ok=True)
    ev_ss, doc_ss, emb_ss = np.random.SeedSequence(seed).spawn(3)
    facts: dict = {}
    if sizes.events:
        facts["events"] = gen_events(
            np.random.default_rng(ev_ss), sizes.events, sizes.users,
            os.path.join(out_dir, "events.parquet"),
        )
    if sizes.docs:
        facts["documents"] = gen_documents(
            np.random.default_rng(doc_ss), sizes.docs, sizes.vocab,
            os.path.join(out_dir, "documents.parquet"),
        )
    if sizes.vectors:
        facts["embeddings"] = gen_embeddings(
            np.random.default_rng(emb_ss), sizes.vectors, sizes.dim,
            os.path.join(out_dir, "embeddings.parquet"),
        )
    return facts
