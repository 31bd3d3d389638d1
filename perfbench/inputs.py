"""Seeded inputs. The same seed gives byte-identical files; the program
under test sees only the files.

* Transcripts: `gen_conversation` from the repository's fixture, with the
  conversation index offset by the seed, so every seed draws fresh rng
  streams while the mega-conversation share stays the same. The turn
  count is cut to exactly TRANSCRIPT_TURNS, so seeds differ in content,
  not in size.
* Corpus: keyword-soup documents shaped like the shared `documents`
  table (the same 30-word vocabulary, 10-100 words each, a rare "dup"
  token), arranged as the neighbour-concat line corpus that
  `__spark_entry__._line_corpus` derives (doc i = text_i + "\\n" +
  text_{i+1}), with a share of exact duplicate documents and a seeded
  row permutation. Needles are seeded 5-7 word substrings of the corpus,
  absent canaries, and `_PIPELINE_NEEDLES`, deduplicated, because
  `contamination_scan_join` rejects duplicate needles.
"""

from __future__ import annotations

import math
from pathlib import Path

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

TRANSCRIPT_TURNS = 20_000
CORPUS_DOCS = 1_500
NEEDLE_SHARE = 0.1  # corpus-substring needles per document
CANARIES = 20  # needles that match nothing
DUP_DOC_SHARE = 0.01  # documents that repeat another document exactly
VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()

_CONV_STRIDE = 2_000  # > conversations per input, so seeds never overlap


def _write_files(table: pa.Table, out_dir: Path, n_files: int) -> None:
    out_dir.mkdir(parents=True, exist_ok=True)
    step = math.ceil(table.num_rows / n_files)
    for i in range(n_files):
        pq.write_table(table.slice(i * step, step), out_dir / f"part-{i:05d}.parquet")


def transcripts(seed: int, out_dir: Path, n_files: int) -> int:
    """Write exactly TRANSCRIPT_TURNS turns as `n_files` parquet files;
    returns the turn count."""
    from langid_py_spark.fixtures.transcripts import gen_conversation, is_mega

    first = (seed % 100_000) * _CONV_STRIDE
    parts, n = [], 0
    conv_i = first
    while n < TRANSCRIPT_TURNS:
        conv = gen_conversation(conv_i, is_mega(conv_i))
        parts.append(conv.head(TRANSCRIPT_TURNS - n))
        n += len(parts[-1])
        conv_i += 1
    df = pd.concat(parts, ignore_index=True)
    table = pa.Table.from_pandas(df, preserve_index=False)
    # Spark reads TIMESTAMP(NANOS) as illegal and a non-UTC-adjusted one
    # as timestamp_ntz; the fixture schema is a plain `timestamp`
    ts = table.schema.get_field_index("ts")
    table = table.set_column(
        ts, "ts", table.column("ts").cast(pa.timestamp("us", tz="UTC"))
    )
    _write_files(table, out_dir, n_files)
    return len(df)


def _soup(rng: np.random.Generator) -> str:
    words = list(rng.choice(VOCAB, int(rng.integers(10, 101))))
    if rng.random() < 0.05:
        words.insert(int(rng.integers(0, len(words))), "dup")
    return " ".join(words)


def corpus(seed: int, out_dir: Path, n_files: int) -> tuple[int, list[str]]:
    """Write the line corpus (doc_id bigint, text string) as `n_files`
    parquet files; returns (document count, sorted unique needles)."""
    from __spark_entry__ import _PIPELINE_NEEDLES

    rng = np.random.default_rng(seed)
    texts = [_soup(rng) for _ in range(CORPUS_DOCS + 1)]
    docs = [texts[i] + "\n" + texts[i + 1] for i in range(CORPUS_DOCS)]
    for i in rng.choice(CORPUS_DOCS, int(CORPUS_DOCS * DUP_DOC_SHARE), replace=False):
        docs[i] = docs[int(rng.integers(0, CORPUS_DOCS))]
    order = rng.permutation(CORPUS_DOCS)
    table = pa.table(
        {
            "doc_id": pa.array(order, pa.int64()),
            "text": pa.array([docs[i] for i in order], pa.string()),
        }
    )
    _write_files(table, out_dir, n_files)

    needles = set(_PIPELINE_NEEDLES)
    for _ in range(int(CORPUS_DOCS * NEEDLE_SHARE)):
        words = texts[int(rng.integers(0, len(texts)))].split(" ")
        k = int(rng.integers(5, 8))
        start = int(rng.integers(0, max(1, len(words) - k)))
        needles.add(" ".join(words[start : start + k]))
    needles.update(f"zzz-canary-{seed}-{i}" for i in range(CANARIES))
    return CORPUS_DOCS, sorted(needles)
