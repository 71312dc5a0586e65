"""The fixed document corpus of the ``corpus_dedup`` workload and its
expected query results.

The corpus has the shape of the engine's ``documents`` fixture: words
drawn from a 30-word vocabulary, 10 to 99 words per document, and about
5% near-duplicates (an earlier document with `` dup`` appended). It is
generated from a fixed seed; the run seed only orders the ops.

The DuckDB oracles of these queries take about ten seconds on this
corpus, too long to run on every benchmark start, so their result
digests are stored in ``corpus_expected.json`` together with the digest
of the corpus they were computed on. ``python3 perfbench/corpus.py`` recomputes
them from ``__spark_entry__.oracle_sql()``.
"""

from __future__ import annotations

import json
import os
import sys
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from stats import digest, frame_rows

#: Two near-duplicate detectors of similar cost (about 1.5 s each on a
#: 4-core host): Arrow kernels in Python workers, and for the SimHash one a
#: swap_cache persist. ``corpus_release_end_to_end`` (8-10 s a call, 28 s
#: the first) and ``dedup_threshold_sensitivity`` (5-9 s, 17 s the first)
#: are left out: with a session started per run they do not fit the run
#: budget, and mixed with second-scale ops they make the run's median and
#: p75 jump between queries.
QUERIES = (
    "minhash_lsh_pairs",
    "simhash_hamming_neardup",
)
CORPUS_SEED = 7
N_DOCS = 1000
EXPECTED = Path(__file__).with_name("corpus_expected.json")

_VOCAB = (
    "join hash row batch scan column customer filter small slow merge order vector "
    "line table data agg value key stream window a spark part group big sort query fast the"
).split()
_LANGS = ("en", "zh", "de", "fr", "es")


def corpus_table(seed: int = CORPUS_SEED, n: int = N_DOCS) -> pa.Table:
    rng = np.random.default_rng(seed)
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(_VOCAB, size=int(rng.integers(10, 100)))))
    langs = [_LANGS[0] if rng.random() < 0.44 else _LANGS[int(rng.integers(1, 5))] for _ in range(n)]
    return pa.table(
        {
            "doc_id": pa.array(range(n), pa.int64()),
            "text": texts,
            "lang": langs,
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def table_digest(t: pa.Table) -> str:
    return digest(t.column_names, [tuple(r.values()) for r in t.to_pylist()])


def write_corpus(out_dir: str) -> str:
    """Write ``documents.parquet`` into ``out_dir``; returns its content digest."""
    os.makedirs(out_dir, exist_ok=True)
    t = corpus_table()
    pq.write_table(t, os.path.join(out_dir, "documents.parquet"))
    return table_digest(t)


def load_expected() -> dict:
    with open(EXPECTED) as f:
        return json.load(f)


def _refresh(work_dir: str) -> None:
    import duckdb

    sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
    import __spark_entry__ as entry

    corpus_digest = write_corpus(work_dir)
    oracles = entry.oracle_sql()
    con = duckdb.connect()
    con.sql(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{work_dir}/documents.parquet')")
    results = {}
    for q in QUERIES:
        rel = con.sql(oracles[q])
        pdf = rel.df()
        results[q] = {"digest": digest(rel.columns, frame_rows(pdf)), "rows": len(pdf)}
        print(q, results[q], flush=True)
    out = {"corpus_seed": CORPUS_SEED, "n_docs": N_DOCS, "corpus_digest": corpus_digest, "results": results}
    EXPECTED.write_text(json.dumps(out, indent=1) + "\n")


if __name__ == "__main__":
    _refresh(str(Path(__file__).resolve().parents[1] / ".perfbench_work" / "oracle"))
