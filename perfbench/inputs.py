"""Seeded benchmark inputs, written as parquet before any job runs.

Every input is a pure function of the workload seed: the ER records come
from ``fixtures.make_fixture`` (the repo's own generator, with its gold
clusters), the documents from ``make_documents`` below, shaped like the
sf0.1 sample corpus that ``bench.py``'s corpus_pipeline leaf reads. Both
are written with pyarrow, so no Spark job runs while inputs are made.
"""

from __future__ import annotations

import random

import pyarrow as pa
import pyarrow.parquet as pq

RECORD_COLUMNS = ["repo", "path", "commit", "lang", "content"]


def write_er_records(path: str, seed: int, n_entities: int, max_files: int = 3):
    """Write the fixture's file-level records to ``path``; return the
    fixture's gold rows ``[(string, count, group)]``."""
    from fixtures.make_fixtures import make_fixture

    fx = make_fixture(seed=seed, n_entities=n_entities, max_files=max_files)
    cols = list(zip(*fx.repo_files))
    pq.write_table(
        pa.table({c: list(v) for c, v in zip(RECORD_COLUMNS, cols)}), path
    )
    return fx.gold


# The shape of the sf0.1 sample corpus (``documents.parquet``, 5,000 rows),
# measured from it: every text is 10-100 words drawn uniformly from these
# 30 words ("the" and "a" are the only language markers), 8 rows (0.16%)
# are exact copies of another row and 250 (5%) are another row with " dup"
# appended. Its funnel under the corpus workload's flags is 5000 -> 4992
# (exact dedup) -> 4756 (near dedup and filters).
_VOCAB = [
    "a", "agg", "batch", "big", "column", "customer", "data", "fast",
    "filter", "group", "hash", "join", "key", "line", "merge", "order",
    "part", "query", "row", "scan", "slow", "small", "sort", "spark",
    "stream", "table", "the", "value", "vector", "window",
]
EXACT_SHARE = 8 / 5000
NEAR_SHARE = 250 / 5000
_LANG_WEIGHTS = [("en", 41), ("de", 14), ("fr", 15), ("es", 15), ("zh", 15)]
N_SOURCES = 20


def make_documents(seed: int, n_docs: int) -> list[dict]:
    """``n_docs`` rows shaped like the sample corpus (see above): columns
    ``doc_id``, ``text``, ``lang`` (a label the job ignores and
    recomputes), ``source`` and ``n_chars``. Copies are placed at random
    positions, so survivors (minimum id per cluster) are not always the
    originals."""
    rng = random.Random(seed)
    n_exact = round(n_docs * EXACT_SHARE)
    n_near = round(n_docs * NEAR_SHARE)
    originals = [
        " ".join(rng.choice(_VOCAB) for _ in range(rng.randint(10, 100)))
        for _ in range(n_docs - n_exact - n_near)
    ]
    texts = (
        originals
        + [t + " dup" for t in rng.sample(originals, n_near)]
        + rng.sample(originals, n_exact)
    )
    rng.shuffle(texts)
    langs = [lang for lang, w in _LANG_WEIGHTS for _ in range(w)]
    return [
        {"doc_id": i, "text": t, "lang": rng.choice(langs),
         "source": f"src{i % N_SOURCES}", "n_chars": len(t)}
        for i, t in enumerate(texts)
    ]


def write_documents(path: str, docs: list[dict]) -> None:
    pq.write_table(
        pa.Table.from_pylist(docs, schema=pa.schema([
            ("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
            ("source", pa.string()), ("n_chars", pa.int64()),
        ])),
        path,
    )
