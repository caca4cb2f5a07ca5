"""Seeded input generator for the benchmark.

Writes `events`, `documents` and `embeddings` parquet files with the schemas
graft's queries read (see TESTDATA.md):

  events      event_id int64, ts timestamp[us], user_id int64,
              event_type string, value double, props string
  documents   doc_id int64, text string, lang string, source string,
              n_chars int64
  embeddings  vec_id int64, embedding list<float>, label int32

The distributions follow the sf0.1 corpus: `ts` spans January 2024 (so the
export window ExportQueries.T1..T2 falls inside), five event types, an
exponential `value`, a 30-word vocabulary with 10-100 words per document,
5% near-duplicate documents (`<text of another doc> dup`), a 41% English
language mix, 20 sources, and unit-norm 64-d float embeddings with ten
labels. `doc_id` stays below 1,000,000 because the dedup corpus offsets
copies by 1e6 and 2e6.

The same seed and sizes always give byte-identical files.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
LANGS = ["en", "zh", "de", "es", "fr"]
LANG_P = [0.41, 0.15, 0.14, 0.15, 0.15]
JAN_2024_US = 1704067200 * 1_000_000      # 2024-01-01T00:00:00Z
MONTH_US = 30 * 86400 * 1_000_000         # events span Jan 1 .. Jan 31
DIM = 64


def events(rng, n_cells, n_users):
    ts = np.sort(JAN_2024_US + rng.integers(0, MONTH_US, n_cells))
    return pa.table({
        "event_id": pa.array(np.arange(n_cells, dtype=np.int64)),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_cells, dtype=np.int64)),
        "event_type": pa.array([EVENT_TYPES[i] for i in rng.integers(0, 5, n_cells)]),
        "value": pa.array(np.round(rng.exponential(50.0, n_cells), 2)),
        "props": pa.array(['{"k": %d}' % k for k in rng.integers(0, 100, n_cells)]),
    })


def documents(rng, n_docs):
    assert n_docs < 1_000_000, "doc_id must stay below the dedup corpus offsets"
    texts = [" ".join(VOCAB[w] for w in rng.integers(0, len(VOCAB), rng.integers(10, 101)))
             for _ in range(n_docs)]
    # 5% near-duplicates: another document's text plus a marker word
    for d in rng.choice(n_docs, size=n_docs // 20, replace=False):
        texts[d] = texts[rng.integers(0, n_docs)] + " dup"
    doc_id = np.arange(n_docs, dtype=np.int64)
    return pa.table({
        "doc_id": pa.array(doc_id),
        "text": pa.array(texts),
        "lang": pa.array([LANGS[i] for i in rng.choice(5, size=n_docs, p=LANG_P)]),
        "source": pa.array(["src%d" % (d % 20) for d in doc_id]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def embeddings(rng, n_vecs):
    label = rng.integers(0, 10, n_vecs).astype(np.int32)
    centers = rng.normal(0.0, 1.0, (10, DIM))
    x = rng.normal(0.0, 1.0, (n_vecs, DIM)) + 0.5 * centers[label]
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n_vecs, dtype=np.int64)),
        "embedding": pa.array(list(x), type=pa.list_(pa.float32())),
        "label": pa.array(label),
    })


def generate(outdir, seed, cells, users, docs, vecs):
    os.makedirs(outdir, exist_ok=True)
    # one independent stream per table: resizing one table leaves the others unchanged
    r_ev, r_doc, r_emb = (np.random.default_rng([seed, i]) for i in range(3))
    pq.write_table(events(r_ev, cells, users), os.path.join(outdir, "events.parquet"))
    pq.write_table(documents(r_doc, docs), os.path.join(outdir, "documents.parquet"))
    pq.write_table(embeddings(r_emb, vecs), os.path.join(outdir, "embeddings.parquet"))

