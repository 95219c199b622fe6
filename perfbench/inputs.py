"""Seeded input generators. The same seed always writes the same files, and
the engine under test reads nothing but these files."""

from __future__ import annotations

import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

from scrubah_pii_spark.sources.synth import generate_rows

# word pool of the engine's documents table: 30 common words plus the rare
# "dup" marker; 31 words keeps the Jaccard query on its bitmask path
VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ("en", "es", "zh", "de", "fr")
LANG_WEIGHTS = (41, 15, 15, 14, 15)
NULL_TEXT_SHARE = 0.25


def flagship_rows(n_base: int, seed: int) -> list:
    """Webpage rows from the engine's own synthetic generator (Zipf hosts,
    ~8% injected duplicates, warc_ts over 2023-2025). A seeded quarter of
    the rows loses its text, so those documents go through html extraction."""
    rows = generate_rows(n_base, seed=seed)
    rng = random.Random(seed ^ 0x5EED)
    for r in rows:
        if rng.random() < NULL_TEXT_SHARE:
            r["text"] = None
    return rows


def write_webpages(rows: list, path: str, n_files: int = 1) -> None:
    """Write webpage rows as n_files parquet files under the directory path
    (one file per chunk, so a file stream sees n_files arrivals)."""
    os.makedirs(path, exist_ok=True)
    per = -(-len(rows) // n_files)
    for i in range(n_files):
        chunk = rows[i * per:(i + 1) * per]
        table = pa.table({
            "url": [r["url"] for r in chunk],
            "warc_ts": pa.array([r["warc_ts"] for r in chunk], pa.timestamp("us")),
            "html": pa.array([r["html"] for r in chunk], pa.binary()),
            "text": pa.array([r["text"] for r in chunk], pa.string()),
            "lang": [r["lang"] for r in chunk],
        })
        # several row groups per file, so one file still splits across cores
        pq.write_table(table, os.path.join(path, f"part-{i:04d}.parquet"),
                       row_group_size=max(1, len(chunk) // 8))


def write_documents(n_docs: int, seed: int, sf_dir: str) -> None:
    """documents.parquet in the engine's sf layout: doc_id, text (10-100
    words from VOCAB), lang (5 languages), source (20), n_chars. About 3%
    of docs copy an earlier doc, half of those with an appended marker, so
    the dedup queries have work to find."""
    rng = random.Random(seed)
    texts = []
    for _ in range(n_docs):
        if len(texts) > 10 and rng.random() < 0.03:
            text = texts[rng.randrange(len(texts))]
            if rng.random() < 0.5:
                text += " dup dup"
        else:
            text = " ".join(rng.choice(VOCAB) for _ in range(rng.randint(10, 100)))
        texts.append(text)
    os.makedirs(sf_dir, exist_ok=True)
    pq.write_table(
        pa.table({
            "doc_id": pa.array(range(n_docs), pa.int64()),
            "text": texts,
            "lang": rng.choices(LANGS, LANG_WEIGHTS, k=n_docs),
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }),
        os.path.join(sf_dir, "documents.parquet"),
        row_group_size=max(1, n_docs // 4),
    )
