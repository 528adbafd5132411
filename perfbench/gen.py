"""Seeded input generator for the benchmark: numpy + pyarrow, no Spark.

Every table is written with the physical parquet schema of the engine's
harness tables (``events``, ``documents``, ``customer``), so the program
reads the generated files exactly as it reads its own test data. The
same seed always yields identical tables; each generator also
returns the knobs-of-the-data that shape the work (users x events per
user, planted duplicate shares, keys touched per commit), which the
benchmark records next to its metrics.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: physical schemas of the harness tables the workloads read
SCHEMAS = {
    "events": pa.schema(
        [
            ("event_id", pa.int64()),
            ("ts", pa.timestamp("us")),
            ("user_id", pa.int64()),
            ("event_type", pa.string()),
            ("value", pa.float64()),
            ("props", pa.string()),
        ]
    ),
    "documents": pa.schema(
        [
            ("doc_id", pa.int64()),
            ("text", pa.string()),
            ("lang", pa.string()),
            ("source", pa.string()),
            ("n_chars", pa.int64()),
        ]
    ),
    "customer": pa.schema(
        [
            ("c_custkey", pa.int64()),
            ("c_name", pa.string()),
            ("c_nationkey", pa.int32()),
            ("c_acctbal", pa.float64()),
            ("c_mktsegment", pa.string()),
        ]
    ),
}

EVENT_TYPES = ("signup", "purchase", "view", "click", "error")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
LANGS = ("en", "zh", "es", "fr", "de")
LANG_WEIGHTS = (0.41, 0.15, 0.15, 0.15, 0.14)
#: the quality filter's stopword list: documents carry them so the
#: Gopher keep/drop verdict is a real mix, not all-drop
STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")
_EPOCH_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00 UTC
_DAY_US = 86_400_000_000

# knobs-of-the-data, recorded in every manifest
#: ``events``: users; frequent users (short gaps, mostly label 1) and
#: their share, which sets the label prevalence; events per user
N_USERS = 1500
FREQUENT_SHARE = 0.2
FREQUENT_EVENTS = (100, 140)
OTHER_EVENTS = (40, 60)
DAYS = 30
#: ``documents``: corpus size, planted exact / near duplicate shares,
#: synthetic vocabulary size, words per document, stopword rate
N_DOCS = 5000
EXACT_DUP_SHARE = 0.05
NEAR_DUP_SHARE = 0.05
VOCAB_SIZE = 6000
WORDS_PER_DOC = (40, 120)
STOPWORD_RATE = 0.12
#: ``customer``: keyed rows, and the fraction of keys each commit touches
N_CUSTOMERS = 15000
TOUCHED_FRACTION = 0.01


def _rng(seed: int, stream: str) -> np.random.Generator:
    """Independent stream per table, so adding a table never shifts
    another table's draws for the same seed."""
    tag = int.from_bytes(stream.encode(), "little") % (1 << 32)
    return np.random.default_rng([int(seed), tag])


def _write(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)


def gen_events(path: str, seed: int) -> dict:
    """``events`` for the readmission workflow. Users are either
    frequent (many events over ``DAYS``, short gaps, mostly label 1)
    or not (longer gaps, mostly label 0), so ``FREQUENT_SHARE`` sets
    the label prevalence. Rows are in timestamp order with dense
    ``event_id``s, like the harness table."""
    rng = _rng(seed, "events")
    frequent = rng.random(N_USERS) < FREQUENT_SHARE
    lo = np.where(frequent, FREQUENT_EVENTS[0], OTHER_EVENTS[0])
    hi = np.where(frequent, FREQUENT_EVENTS[1], OTHER_EVENTS[1])
    per_user = rng.integers(lo, hi + 1)
    user_id = np.repeat(np.arange(N_USERS, dtype=np.int64), per_user)
    n = int(user_id.size)
    ts = _EPOCH_US + rng.integers(0, DAYS * _DAY_US, n)
    order = np.lexsort((user_id, ts))
    user_id, ts = user_id[order], ts[order]
    types = np.array(EVENT_TYPES, dtype=object)[rng.integers(0, len(EVENT_TYPES), n)]
    value = np.round(rng.exponential(50.0, n), 2)
    props = [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]
    table = pa.table(
        {
            "event_id": np.arange(n, dtype=np.int64),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": user_id,
            "event_type": pa.array(types, pa.string()),
            "value": value,
            "props": pa.array(props, pa.string()),
        },
        schema=SCHEMAS["events"],
    )
    _write(table, path)
    return {
        "rows": n,
        "users": N_USERS,
        "events_per_user": round(n / N_USERS, 2),
        "frequent_user_share": FREQUENT_SHARE,
        "days": DAYS,
    }


def _vocabulary(rng: np.random.Generator, size: int) -> list[str]:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words: set[str] = set()
    out: list[str] = []
    while len(out) < size:
        w = "".join(rng.choice(letters, int(rng.integers(4, 10))))
        if w not in words and w not in STOPWORDS:
            words.add(w)
            out.append(w)
    return out


def gen_documents(path: str, seed: int) -> dict:
    """``documents`` for the text-curation chain. Base documents draw
    words from a Zipf-weighted synthetic vocabulary mixed with
    stopwords. The last ``EXACT_DUP_SHARE`` + ``NEAR_DUP_SHARE`` of the
    corpus are planted copies of distinct base documents: exact copies,
    or copies with about one content word in 40 replaced (3-shingle
    Jaccard similarity well above 0.7). Planted copies always carry a
    higher ``doc_id`` than their source, so a min-id dedup keeps the
    source. Returns the knobs plus the planted ground truth."""
    rng = _rng(seed, "documents")
    vocab = np.array(_vocabulary(rng, VOCAB_SIZE), dtype=object)
    weights = 1.0 / (np.arange(VOCAB_SIZE) + 10.0)
    weights /= weights.sum()
    n_exact = int(round(N_DOCS * EXACT_DUP_SHARE))
    n_near = int(round(N_DOCS * NEAR_DUP_SHARE))
    n_base = N_DOCS - n_exact - n_near

    def words(k: int) -> list[str]:
        ws = vocab[rng.choice(VOCAB_SIZE, k, p=weights)]
        stop = rng.random(k) < STOPWORD_RATE
        ws[stop] = np.array(STOPWORDS, dtype=object)[
            rng.integers(0, len(STOPWORDS), int(stop.sum()))
        ]
        return list(ws)

    texts = [
        " ".join(words(int(rng.integers(WORDS_PER_DOC[0], WORDS_PER_DOC[1] + 1))))
        for _ in range(n_base)
    ]
    sources = rng.choice(n_base, n_exact + n_near, replace=False)
    exact, near = {}, {}
    for j, src in enumerate(sources):
        doc_id = n_base + j
        toks = texts[src].split(" ")
        if j < n_exact:
            exact[doc_id] = int(src)
        else:
            content = [i for i, t in enumerate(toks) if t not in STOPWORDS]
            n_sub = max(1, len(toks) // 40)
            for i in rng.choice(content, n_sub, replace=False):
                toks[i] = vocab[int(rng.integers(VOCAB_SIZE // 2, VOCAB_SIZE))]
            near[doc_id] = int(src)
        texts.append(" ".join(toks))
    langs = np.array(LANGS, dtype=object)[rng.choice(len(LANGS), N_DOCS, p=LANG_WEIGHTS)]
    table = pa.table(
        {
            "doc_id": np.arange(N_DOCS, dtype=np.int64),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(langs, pa.string()),
            "source": pa.array([f"src{i % 20}" for i in range(N_DOCS)], pa.string()),
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        },
        schema=SCHEMAS["documents"],
    )
    _write(table, path)
    return {
        "rows": N_DOCS,
        "exact_dup_share": EXACT_DUP_SHARE,
        "near_dup_share": NEAR_DUP_SHARE,
        "vocab_size": VOCAB_SIZE,
        "words_per_doc": list(WORDS_PER_DOC),
        "exact_dups": {str(k): v for k, v in exact.items()},
        "near_dups": {str(k): v for k, v in near.items()},
    }


def gen_customer(path: str, seed: int) -> dict:
    """Keyed ``customer`` table for the lakehouse write path; the
    benchmark touches ``TOUCHED_FRACTION`` of the keys per commit."""
    rng = _rng(seed, "customer")
    keys = np.arange(N_CUSTOMERS, dtype=np.int64)
    table = pa.table(
        {
            "c_custkey": keys,
            "c_name": pa.array([f"Customer#{k:09d}" for k in keys], pa.string()),
            "c_nationkey": rng.integers(0, 25, N_CUSTOMERS).astype(np.int32),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, N_CUSTOMERS), 2),
            "c_mktsegment": pa.array(
                np.array(SEGMENTS, dtype=object)[rng.integers(0, len(SEGMENTS), N_CUSTOMERS)],
                pa.string(),
            ),
        },
        schema=SCHEMAS["customer"],
    )
    _write(table, path)
    return {
        "rows": N_CUSTOMERS,
        "touched_fraction": TOUCHED_FRACTION,
        "keys_per_commit": max(1, int(round(N_CUSTOMERS * TOUCHED_FRACTION))),
    }


#: workload -> (table, generator)
GENERATORS = {
    "readmit": ("events", gen_events),
    "text_curation": ("documents", gen_documents),
    "lakehouse_cdc": ("customer", gen_customer),
}


def generate(out_dir: str, workload: str, seed: int) -> dict:
    """Write one workload's inputs under ``out_dir`` and return its
    manifest (also saved as ``out_dir/manifest.json``)."""
    if workload not in GENERATORS:
        raise ValueError(f"unknown workload {workload!r}")
    table, fn = GENERATORS[workload]
    info = {table: fn(os.path.join(out_dir, f"{table}.parquet"), seed)}
    manifest = {"workload": workload, "seed": seed, "tables": info}
    with open(os.path.join(out_dir, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    return manifest
