"""Seeded input generation for the benchmark workloads.

Every table has the column names and types of the engine's testdata schema
(``catalog.TABLES``), so the program reads the generated files through its own
``load_table``. The same seed always gives byte-identical inputs. The standing
data of a workload (the event stream, the corpus) is the same for every seed,
as a fixed dataset is; the seed draws what a run asks of it (landmarks and
PPR seeds, the day's batch and probe vectors). So a different seed changes
values, not the amount of work.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import checks

# Sizes and shapes follow the shared sf0.1 testdata, whose events are 100,000
# rows of 1,500 users over 30 days, user, event type and time uniform
# (about 139 events an hour, 27.5 users per (hour, event type) bucket), and
# whose documents are 5,000 texts of 10-100 words from a 31-word vocabulary,
# 5% of them edited copies (``dup`` appended).
SF01_EVENTS = 100_000
SF01_DAYS = 30
# Seed of the standing data, which does not change with the run's seed.
STANDING_SEED = 42

# Co-occurrence graph: sf0.1's users at sf0.1's event rate, over a window of
# EVENT_DAYS days instead of 30, so a pass fits the run budget. Bucket
# occupancy, and so each bucket's clique, is sf0.1's; the edge count is
# about half of sf0.1's 789,433.
EVENT_USERS = 1_500
EVENT_DAYS = 10
EVENT_ROWS = SF01_EVENTS * EVENT_DAYS // SF01_DAYS
LANDMARKS = 3
PPR_SEEDS = 5

# Words per generated document, and the near-duplicate rule of the
# program's cluster labelling (its n-gram Jaccard threshold and shingle
# document-frequency cap as a share of the corpus).
DOC_WORDS = (10, 100)
JACC_TAU = 0.04
DF_FRAC = 0.02

# Daily ingest: sf0.1's corpus (documents and embeddings) as the standing
# state, plus one day's batch: 1% new documents, 5% new vectors and the
# day's probe vectors.
INGEST_BASE_DOCS = 5_000
INGEST_BASE_COPIES = 250
INGEST_BATCH_DOCS = 50
INGEST_BATCH_COPIES = 12
INGEST_BASE_VECS = 2_000
INGEST_BATCH_VECS = 100
INGEST_QUERIES = 20
VEC_DIM = 64
VEC_LABELS = 10

WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ("en", "zh", "de", "fr", "es")
LANG_P = (0.41, 0.15, 0.14, 0.15, 0.15)
EVENT_TYPES = ("signup", "click", "error", "view", "purchase")

_DAY_US = 86_400 * 1_000_000


def _ts(start: dt.date, days: np.ndarray) -> pa.Array:
    """Timezone-free timestamps ``days`` (float) after midnight of ``start``."""
    base = (start - dt.date(1970, 1, 1)).days * _DAY_US
    return pa.array(base + (days * _DAY_US).astype(np.int64), pa.timestamp("us"))


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def write_events(out_dir: str, seed: int) -> dict[str, int]:
    rng = np.random.default_rng([STANDING_SEED, 2])
    n = EVENT_ROWS
    days = np.sort(rng.uniform(0, EVENT_DAYS, n))
    _write(out_dir, "events", {
        "event_id": np.arange(n, dtype=np.int64),
        "ts": _ts(dt.date(2024, 1, 1), days),
        "user_id": rng.integers(0, EVENT_USERS, n),
        "event_type": rng.choice(EVENT_TYPES, n),
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })
    picks = np.random.default_rng([seed, 2]).permutation(EVENT_USERS)
    _write(out_dir, "landmarks", {"id": np.sort(picks[:LANDMARKS]).astype(np.int64)})
    _write(out_dir, "ppr_seeds", {"id": np.sort(picks[LANDMARKS:LANDMARKS + PPR_SEEDS]).astype(np.int64)})
    return {"events": n, "landmarks": LANDMARKS, "ppr_seeds": PPR_SEEDS}


def random_text(rng: np.random.Generator) -> str:
    k = int(rng.integers(DOC_WORDS[0], DOC_WORDS[1] + 1))
    return " ".join(WORDS[i] for i in rng.integers(0, len(WORDS), k))


def edited_copy(rng: np.random.Generator, text: str) -> str:
    """A near-duplicate: a few words replaced, the last dropped, ``dup``
    appended."""
    words = text.split()
    for _ in range(int(rng.integers(1, 4))):
        words[int(rng.integers(0, len(words)))] = WORDS[int(rng.integers(0, len(WORDS)))]
    return " ".join(words[:-1] + ["dup"])


def make_corpus(rng: np.random.Generator, n: int, n_copies: int) -> list[str]:
    """``n`` documents: random originals, ``n_copies`` of which get one
    edited copy later in the list. As in sf0.1, short unrelated documents
    can also reach the Jaccard threshold by chance, and such chance pairs
    chain into larger clusters."""
    originals = [random_text(rng) for _ in range(n - n_copies)]
    copied = rng.choice(len(originals), n_copies, replace=False)
    return originals + [edited_copy(rng, originals[i]) for i in copied]


def _documents(rng: np.random.Generator, ids: np.ndarray, texts: list[str]) -> dict:
    return {
        "doc_id": ids.astype(np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, len(ids), p=LANG_P),
        "source": [f"src{s}" for s in rng.integers(0, 20, len(ids))],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def _vectors(rng: np.random.Generator, centers: np.ndarray, n: int) -> tuple[np.ndarray, np.ndarray]:
    labels = rng.integers(0, len(centers), n)
    vecs = centers[labels] + rng.normal(0.0, 0.08, (n, centers.shape[1]))
    return vecs.astype(np.float32), labels.astype(np.int32)


def _embeddings(ids: np.ndarray, vecs: np.ndarray, labels: np.ndarray) -> dict:
    flat = pa.array(vecs.reshape(-1), pa.float32())
    offsets = pa.array(np.arange(0, vecs.size + 1, vecs.shape[1], dtype=np.int32))
    return {
        "vec_id": ids.astype(np.int64),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
        "label": labels,
    }


def write_ingest(out_dir: str, seed: int) -> dict[str, int]:
    """Standing corpus (``documents``, ``embeddings``), yesterday's
    near-duplicate labelling of it (``standing_labels``: union-find over the
    exact pairs, which is what the program's ``cluster_labels`` computes),
    and, drawn by the seed, one day's batch (``batch_documents``,
    ``batch_embeddings``) and the day's probe vectors (``queries``).
    Some batch documents copy standing ones, as a daily crawl re-fetches
    pages it has seen."""
    rng = np.random.default_rng([STANDING_SEED, 4])
    base = make_corpus(rng, INGEST_BASE_DOCS, INGEST_BASE_COPIES)
    _write(out_dir, "documents", _documents(rng, np.arange(INGEST_BASE_DOCS), base))
    docs = dict(enumerate(base))
    pairs = checks.jaccard_pairs(docs, JACC_TAU, DF_FRAC * len(docs))
    labels = checks.union_find_labels(docs, pairs)
    _write(out_dir, "standing_labels", {
        "doc": np.array(list(labels), dtype=np.int64),
        "cluster": np.array(list(labels.values()), dtype=np.int64),
    })
    centers = rng.normal(0.0, 1.0, (VEC_LABELS, VEC_DIM)) / np.sqrt(VEC_DIM)
    vecs, labels = _vectors(rng, centers, INGEST_BASE_VECS)
    _write(out_dir, "embeddings", _embeddings(np.arange(INGEST_BASE_VECS), vecs, labels))
    rng = np.random.default_rng([seed, 4])
    # Re-fetched pages: copies of originals that already sit in a
    # near-duplicate cluster, so each touched cluster grows.
    n_orig = INGEST_BASE_DOCS - INGEST_BASE_COPIES
    paired = sorted({a for a, b in pairs if a < n_orig})
    texts = [edited_copy(rng, base[i])
             for i in rng.choice(paired, INGEST_BATCH_COPIES, replace=False)]
    texts += [random_text(rng) for _ in range(INGEST_BATCH_DOCS - INGEST_BATCH_COPIES)]
    ids = np.arange(INGEST_BASE_DOCS, INGEST_BASE_DOCS + INGEST_BATCH_DOCS)
    _write(out_dir, "batch_documents", _documents(rng, ids, texts))
    vecs, labels = _vectors(rng, centers, INGEST_BATCH_VECS)
    ids = np.arange(INGEST_BASE_VECS, INGEST_BASE_VECS + INGEST_BATCH_VECS)
    _write(out_dir, "batch_embeddings", _embeddings(ids, vecs, labels))
    qv, ql = _vectors(rng, centers, INGEST_QUERIES)
    _write(out_dir, "queries", _embeddings(np.arange(10**6, 10**6 + INGEST_QUERIES), qv, ql))
    return {
        "documents": INGEST_BASE_DOCS,
        "embeddings": INGEST_BASE_VECS,
        "batch_documents": INGEST_BATCH_DOCS,
        "batch_embeddings": INGEST_BATCH_VECS,
        "queries": INGEST_QUERIES,
    }


WRITERS = {
    "fraud_graph": write_events,
    "daily_ingest": write_ingest,
}
