"""Seeded generator of a text corpus plus streaming micro-batches.

Documents draw tokens from a Zipf-distributed synthetic vocabulary.
Every curation gate has rows to remove: a share of documents is too
short, a share is repetitive, some are exact copies, and about a
quarter are near-duplicate edits (a few tokens swapped) of an earlier
document. The micro-batches repeat the recipe, and their edits also
copy documents of the base corpus and of earlier batches, so the
streaming near-dedup rejects rows against the signature store.

Rows match ``streaming.ingest.DOCS_SCHEMA``: (doc_id, text, lang,
source, n_chars). Files are written with pyarrow, so generating them
needs no Spark.
"""

from __future__ import annotations

import itertools
import os
import random
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.parquet as pq

SCHEMA = pa.schema(
    [
        pa.field("doc_id", pa.int64(), nullable=False),
        pa.field("text", pa.string()),
        pa.field("lang", pa.string()),
        pa.field("source", pa.string()),
        pa.field("n_chars", pa.int64()),
    ]
)
SOURCES = ("web", "forum", "news", "wiki")
BATCH_ID_BASE = 10_000_000
BATCH_ID_STRIDE = 1_000_000


@dataclass(frozen=True)
class CorpusScale:
    docs: int = 2_500
    vocab: int = 5_000
    batches: int = 8
    batch_docs: int = 200
    near_dup: float = 0.25
    exact_copy: float = 0.02
    too_short: float = 0.03
    repetitive: float = 0.03


def vocabulary(rng: random.Random, n: int) -> list[str]:
    syll = [c + v for c in "bcdfghjklmnprstvz" for v in "aeiou"]
    words: set[str] = set()
    while len(words) < n:
        words.add("".join(rng.choices(syll, k=rng.randint(1, 4))))
    return sorted(words)


class _DocMaker:
    def __init__(self, rng: random.Random, scale: CorpusScale):
        self.rng = rng
        self.scale = scale
        self.vocab = vocabulary(rng, scale.vocab)
        self.cum = list(
            itertools.accumulate(1.0 / (r + 1) ** 1.1 for r in range(scale.vocab))
        )

    def words(self, k: int) -> list[str]:
        return self.rng.choices(self.vocab, cum_weights=self.cum, k=k)

    def edit(self, text: str) -> str:
        toks = text.split(" ")
        for _ in range(max(1, len(toks) // 20)):
            toks[self.rng.randrange(len(toks))] = self.words(1)[0]
        return " ".join(toks)

    def make(self, n: int, first_id: int, pool: list[str]) -> list[dict]:
        """n documents with ids first_id..; near-dups and copies draw on
        ``pool`` (earlier normal texts), which grows as docs are made."""
        s, rng = self.scale, self.rng
        rows = []
        for i in range(n):
            r = rng.random()
            if r < s.too_short:
                text = " ".join(self.words(rng.randint(2, 8)))
            elif r < s.too_short + s.repetitive:
                text = " ".join(rng.choices(self.words(4), k=rng.randint(30, 60)))
            elif pool and r < s.too_short + s.repetitive + s.exact_copy:
                text = rng.choice(pool)
            elif pool and r < s.too_short + s.repetitive + s.exact_copy + s.near_dup:
                text = self.edit(rng.choice(pool))
            else:
                text = " ".join(self.words(rng.randint(30, 120)))
                pool.append(text)
            rows.append(
                {
                    "doc_id": first_id + i,
                    "text": text,
                    "lang": "pt" if rng.random() < 0.7 else "en",
                    "source": rng.choice(SOURCES),
                    "n_chars": len(text),
                }
            )
        return rows


def generate(out_dir: str, seed: int, scale: CorpusScale = CorpusScale()):
    """Write the base corpus and the micro-batch files under ``out_dir``.

    Returns (corpus_path, [batch_path, ...], {doc_id: text}) where the
    map covers every generated document (for the survivor checks).
    """
    rng = random.Random(seed)
    maker = _DocMaker(rng, scale)
    os.makedirs(out_dir, exist_ok=True)
    pool: list[str] = []
    corpus = maker.make(scale.docs, 1, pool)
    corpus_path = os.path.join(out_dir, "corpus.parquet")
    pq.write_table(pa.Table.from_pylist(corpus, SCHEMA), corpus_path)
    texts = {r["doc_id"]: r["text"] for r in corpus}
    batch_paths = []
    for b in range(scale.batches):
        rows = maker.make(scale.batch_docs, BATCH_ID_BASE + b * BATCH_ID_STRIDE, pool)
        path = os.path.join(out_dir, f"batch_{b:03d}.parquet")
        pq.write_table(pa.Table.from_pylist(rows, SCHEMA), path)
        batch_paths.append(path)
        texts.update((r["doc_id"], r["text"]) for r in rows)
    return corpus_path, batch_paths, texts
