"""Load generator: materializes every workload input before any Spark
process starts.

The inputs are a pure function of (seed, size), written with numpy and
pyarrow under ``.perfbench/data`` in the checkout, so every process of one
run reads the same files. The system under test only sees the files.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from common import DATA_DIR

# The curation corpus has the shape of the package's parquet ``documents``
# test table (sf0.1: 5,000 docs), measured with DuckDB:
#   - words drawn uniformly from these 30, 10..99 per document (uniform);
#   - 5% of the documents, at random positions, are a copy of another random
#     document with " dup" appended (near-duplicates at Hamming distance ~0);
#   - lang: en 41.2%, zh 15.1%, es 14.9%, fr 14.8%, de 14.0%, independent of
#     the text; source = "src" || doc_id % 20; n_chars = length(text).
WORDS = np.asarray(
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window".split()
)
WORDS_PER_DOC = (10, 100)  # numpy's half-open [low, high)
DUP_FRAC = 0.05
LANGS = np.asarray(["en", "zh", "es", "fr", "de"])
LANG_WEIGHTS = np.asarray([0.412, 0.151, 0.149, 0.148, 0.140])
F1_SCHEMA = pa.schema(
    [("doc_id", pa.string()), ("tokens", pa.list_(pa.int32())), ("n_tok", pa.int32()), ("source", pa.string())]
)


def _fresh(path: str) -> bool:
    """True when ``path`` already holds a completed input; otherwise drop
    every other input of the same kind so the data directory stays bounded."""
    if os.path.exists(os.path.join(path, "_COMPLETE")):
        return True
    kind = os.path.basename(path).split("-", 1)[0]
    os.makedirs(DATA_DIR, exist_ok=True)
    for name in os.listdir(DATA_DIR):
        if name.split("-", 1)[0] == kind:
            shutil.rmtree(os.path.join(DATA_DIR, name), ignore_errors=True)
    return False


def _mark(path: str) -> None:
    with open(os.path.join(path, "_COMPLETE"), "w") as fh:
        fh.write("ok\n")


def sequences(seed: int, rows: int, files: int) -> str:
    """F1 token sequences with the full payload, for the pipeline workload.
    Each file holds a contiguous id range built by the same numpy batch
    function ``generate_sequences`` runs inside Spark, so the table is
    identical to the one Spark would generate, without starting Spark."""
    from loongcollector_spark.sources.synthetic import _gen_batch

    path = os.path.join(DATA_DIR, f"f1-s{seed}-n{rows}-f{files}")
    if _fresh(path):
        return path
    os.makedirs(path, exist_ok=True)
    bounds = np.linspace(0, rows, files + 1).astype(np.int64)
    for k in range(files):
        batch = _gen_batch(np.arange(bounds[k], bounds[k + 1], dtype=np.int64), seed)
        table = pa.Table.from_pandas(batch, schema=F1_SCHEMA, preserve_index=False)
        pq.write_table(table, os.path.join(path, f"part-{k:05d}.parquet"))
    _mark(path)
    return path


def documents(seed: int, docs: int, files: int) -> str:
    """A ``documents`` table with the schema and the measured shape of the
    package's parquet test table (see WORDS above), written with pyarrow
    (no Spark involved) as ``files`` parts of a ``documents.parquet``
    directory, so the scan runs on every core."""
    path = os.path.join(DATA_DIR, f"docs-s{seed}-n{docs}-f{files}")
    if _fresh(path):
        return path
    table_dir = os.path.join(path, "documents.parquet")
    os.makedirs(table_dir, exist_ok=True)
    rng = np.random.default_rng(seed)

    n_words = rng.integers(*WORDS_PER_DOC, size=docs)
    texts = [" ".join(WORDS[rng.integers(0, len(WORDS), size=k)]) for k in n_words]
    dups = rng.choice(docs, size=int(docs * DUP_FRAC), replace=False)
    for i in dups:
        texts[i] = texts[int(rng.integers(0, docs))] + " dup"
    doc_id = np.arange(docs, dtype=np.int64)
    table = pa.table(
        {
            "doc_id": pa.array(doc_id),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(LANGS[rng.choice(len(LANGS), size=docs, p=LANG_WEIGHTS)]),
            "source": pa.array([f"src{i % 20}" for i in doc_id]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )
    bounds = np.linspace(0, docs, files + 1).astype(np.int64)
    for k in range(files):
        part = table.slice(bounds[k], bounds[k + 1] - bounds[k])
        pq.write_table(part, os.path.join(table_dir, f"part-{k:05d}.parquet"))
    _mark(path)
    return path
