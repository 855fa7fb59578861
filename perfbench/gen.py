"""Seeded synthetic inputs for the benchmark workloads.

Two families:

* ``write_fixture_tables`` writes the tables the ``SparkEntry`` query
  entries of ``pipeline_replay`` read (documents, embeddings) with the
  schemas and shapes of the project's test data: a 30-word text vocabulary
  with ~5% planted near-duplicate documents (a copy plus a marker word),
  unit-norm 64-d embeddings.
* ``write_span_tables`` writes the two interval tables of ``sweep_large``:
  heavy-tailed (Pareto) span lengths plus 1% domain-scale spans, a key
  column and an integer payload.

The same seed always gives byte-identical values.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("join hash row batch scan column customer filter small slow merge "
         "order vector line table data agg value key stream window a spark "
         "part group big sort query fast the").split()
LANGS = np.array(["en", "zh", "es", "de", "fr"])
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]

SPAN_DOMAIN = 1_000_000_000            # integer ticks; spans are [start, stop)


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy")


def _documents(rng, n: int) -> pa.Table:
    words = np.array(WORDS)
    texts = []
    for i in range(n):
        # ~5% planted near-duplicates (an earlier document plus a marker
        # word), a few exact copies; the rest independent 10..100-word docs
        r = rng.random()
        if i > 10 and r < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 10 and r < 0.052:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            texts.append(" ".join(words[rng.integers(0, len(words), size=int(rng.integers(10, 101)))]))
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype="int64")),
        "text": pa.array(texts),
        "lang": pa.array(LANGS[rng.choice(5, size=n, p=LANG_P)]),
        "source": pa.array(np.char.add("src", (np.arange(n) % 20).astype(str))),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype="int64")),
    })


def _embeddings(rng, n: int, dim: int = 64) -> pa.Table:
    v = rng.normal(0.0, 1.0, size=(n, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype("float32")
    offsets = np.arange(0, n * dim + 1, dim, dtype="int32")
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype="int64")),
        "embedding": pa.ListArray.from_arrays(pa.array(offsets), pa.array(v.ravel())),
        "label": pa.array(rng.integers(0, 10, size=n).astype("int32")),
    })


def fixture_rows(sf: float) -> dict:
    """Row counts of the fixture tables at scale factor ``sf``."""
    return {
        "documents": max(int(50_000 * sf), 500),
        "embeddings": max(int(200_000 * sf), 500),
    }


def write_fixture_tables(out_dir: str, seed: int, sf: float, tables) -> None:
    os.makedirs(out_dir, exist_ok=True)
    rows = fixture_rows(sf)
    # one independent stream per table: adding a table never shifts another
    rngs = {t: np.random.default_rng([seed, i]) for i, t in enumerate(
        ["events", "orders", "part", "lineitem", "documents", "embeddings"])}
    makers = {
        "documents": lambda: _documents(rngs["documents"], rows["documents"]),
        "embeddings": lambda: _embeddings(rngs["embeddings"], rows["embeddings"]),
    }
    for t in tables:
        _write(makers[t](), os.path.join(out_dir, f"{t}.parquet"))


def _spans(rng, n: int, keys: int) -> pa.Table:
    start = rng.integers(0, SPAN_DOMAIN, size=n)
    # Pareto(1.5) lengths with a 2 000-tick floor, capped at 1% of the
    # domain, plus domain-scale spans (20%..100% of the domain)
    length = np.minimum((rng.pareto(1.5, size=n) + 1.0) * 2_000, SPAN_DOMAIN // 100)
    # exactly 1% domain-scale spans: their count sets most of the join's
    # pair count, so it must not vary from seed to seed
    giant = rng.permutation(n) < round(0.01 * n)
    length = np.where(giant, rng.integers(SPAN_DOMAIN // 5, SPAN_DOMAIN, size=n), length)
    stop = np.minimum(start + length.astype("int64"), SPAN_DOMAIN + SPAN_DOMAIN // 100)
    span = pa.StructArray.from_arrays(
        [pa.array(start.astype("int64")), pa.array(stop.astype("int64"))], ["start", "stop"])
    return pa.table({
        "k": pa.array(rng.integers(0, keys, size=n).astype("int64")),
        "x": pa.array(rng.integers(0, 1000, size=n).astype("int64")),
        "span": span,
    })


SPAN_FILES = 8


def write_span_tables(out_dir: str, seed: int, n: int, keys: int) -> None:
    """Each table is a directory of SPAN_FILES parquet files, so Spark reads
    it as that many partitions."""
    for i, name in enumerate(["spans_a", "spans_b"]):
        t = _spans(np.random.default_rng([seed, 100 + i]), n, keys)
        os.makedirs(os.path.join(out_dir, name), exist_ok=True)
        step = -(-n // SPAN_FILES)
        for j in range(SPAN_FILES):
            _write(t.slice(j * step, step), os.path.join(out_dir, name, f"part-{j}.parquet"))
