"""Seeded input generator: writes the ``documents.parquet`` the program reads.

Schema and distributions follow the sf test corpus the repo's gates were
written against (doc_id, text, lang, source, n_chars; ~41 % ``en``, word-bag
text over a 31-word vocabulary, 8-100 words per document), except that
``doc_id``s are scattered over [0, 2**20) instead of dense, so no stage can
lean on a contiguous id range.  Page content is synthesized by the program
from (doc_id, source, lang); ``text`` feeds the dedup operators.

A ``dup_share`` of the documents are planted near-duplicates: a copy of a
distinct original document of at least ``DUP_MIN_WORDS`` words with exactly
one word replaced.  One substitution changes at most 3 of the >= 38 word
3-gram shingles, so every planted pair has Jaccard >= 35/41 = 0.85, above
the 0.8 threshold, where 8 bands x 2 rows of MinHash miss a pair with
probability (1 - 0.85**2)**8 < 4e-5.  Each original is copied at most once,
so no two copies of one original (two edits apart, Jaccard down to 0.73)
sit near the threshold.  The planted pairs give LSH verification real work
and make every seed's duplicate structure the same.
"""

from __future__ import annotations

import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("a agg batch big column customer data dup fast filter group hash "
         "join key line merge order part query row scan slow small sort "
         "spark stream table the value vector window").split()
LANGS = (("en", 0.41), ("zh", 0.15), ("es", 0.15), ("fr", 0.15),
         ("de", 0.14))
N_SOURCES = 20
ID_SPACE = 1 << 20
DUP_MIN_WORDS = 40


def make_documents(seed: int, n_docs: int, dup_share: float) -> dict:
    """Column dict for ``n_docs`` documents, a pure function of the args."""
    rng = random.Random(seed)
    ids = rng.sample(range(ID_SPACE), n_docs)
    n_dups = round(n_docs * dup_share)
    texts: list[str] = []
    for _ in range(n_docs - n_dups):
        texts.append(" ".join(rng.choice(WORDS)
                              for _ in range(rng.randint(8, 100))))
    long_docs = [t for t in texts if len(t.split()) >= DUP_MIN_WORDS]
    for original in rng.sample(long_docs, n_dups):
        words = original.split()
        i = rng.randrange(len(words))
        words[i] = rng.choice([w for w in WORDS if w != words[i]])
        texts.append(" ".join(words))
    # duplicates must not sit next to their originals in id or row order
    rng.shuffle(texts)
    langs = rng.choices([lang for lang, _ in LANGS],
                        weights=[w for _, w in LANGS], k=n_docs)
    return {
        "doc_id": ids,
        "text": texts,
        "lang": langs,
        "source": [f"src{d % N_SOURCES}" for d in ids],
        "n_chars": [len(t) for t in texts],
    }


def write_documents(out_dir: str, seed: int, n_docs: int,
                    dup_share: float) -> dict:
    """Write ``out_dir/documents.parquet``; return the input description
    recorded in every result."""
    cols = make_documents(seed, n_docs, dup_share)
    os.makedirs(out_dir, exist_ok=True)
    table = pa.table({
        "doc_id": pa.array(cols["doc_id"], pa.int64()),
        "text": pa.array(cols["text"], pa.string()),
        "lang": pa.array(cols["lang"], pa.string()),
        "source": pa.array(cols["source"], pa.string()),
        "n_chars": pa.array(cols["n_chars"], pa.int64()),
    })
    pq.write_table(table, os.path.join(out_dir, "documents.parquet"))
    langs = cols["lang"]
    return {
        "seed": seed,
        "docs": n_docs,
        "en_share": round(langs.count("en") / n_docs, 4),
        "lang_mix": {lang: langs.count(lang) for lang, _ in LANGS},
        "doc_id_min": min(cols["doc_id"]),
        "doc_id_max": max(cols["doc_id"]),
        "dup_share": round(round(n_docs * dup_share) / n_docs, 4),
    }
