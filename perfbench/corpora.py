"""Seeded benchmark inputs.

The seed picks a row-id window: ``[seed·n, seed·n + n)`` (seed taken
modulo ``WINDOWS``). Every row is a pure function of its row id, so
the same seed gives byte-identical inputs on any partitioning.

* webtext rows come from ``sources.corpus.gen_rows`` (HTML + text,
  links, duplicate rows), the engine's own deterministic generator;
* Zipf rows follow the shape of ``sources.corpus.zipf_corpus_df``
  (text only, html NULL, ``w00000…`` tokens drawn Zipf(s=1) over a
  synthetic vocabulary). That function always starts at row 0, so the
  window is generated here with the same per-row rule.
"""

from __future__ import annotations

import datetime as dt

import numpy as np
import pandas as pd

WINDOWS = 4096
ZIPF_SEED = 7919  # per-row rng base of the Zipf rows
ZIPF_VOCAB = 20_000
ZIPF_LEN = (20, 40)
_TS0 = dt.datetime(2024, 1, 1)


def window(seed: int, n: int) -> tuple[int, int]:
    start = (seed % WINDOWS) * n
    return start, start + n


def zipf_row(rid: int, cdf: np.ndarray) -> dict:
    rng = np.random.RandomState((ZIPF_SEED * 1_000_003 + rid) % (2**31 - 1))
    n = int(rng.randint(ZIPF_LEN[0], ZIPF_LEN[1] + 1))
    ids = np.searchsorted(cdf, rng.rand(n))
    return {
        "url": f"https://zipf{rid % 8}.example/page{rid}",
        "warc_ts": _TS0 + dt.timedelta(seconds=rid),
        "html": None,
        "text": " ".join(f"w{i:05d}" for i in ids),
        "lang": "en",
    }


def zipf_cdf(vocab: int = ZIPF_VOCAB) -> np.ndarray:
    p = 1.0 / np.arange(1, vocab + 1, dtype=np.float64)
    return np.cumsum(p / p.sum())


def docs_frame(spark, kind: str, seed: int, n: int, partitions: int):
    """The workload's input docs as a DataFrame in the engine's
    ``DOCS_SCHEMA`` shape (generation runs in Spark's Python
    workers)."""
    from searchengine_spark.schemas import DOCS_SCHEMA
    from searchengine_spark.sources.corpus import gen_rows

    start, stop = window(seed, n)

    def gen(batches):
        cdf = zipf_cdf() if kind == "zipf" else None
        for pdf in batches:
            ids = pdf["id"].tolist()
            if kind == "zipf":
                rows = [zipf_row(int(r), cdf) for r in ids]
            else:
                rows = gen_rows(ids)
            yield pd.DataFrame(rows)

    return spark.range(start, stop, numPartitions=partitions).mapInPandas(
        gen, schema=DOCS_SCHEMA
    )


def sample_texts(kind: str, seed: int, n: int, k: int, rng) -> list[str]:
    """Texts of k seeded rows of the window, generated on the driver
    (phrase requests quote word pairs that really occur)."""
    from searchengine_spark.sources.corpus import gen_rows

    start, stop = window(seed, n)
    ids = sorted(rng.sample(range(start, stop), min(k, n)))
    if kind == "zipf":
        cdf = zipf_cdf()
        return [zipf_row(r, cdf)["text"] for r in ids]
    return [row["text"] for row in gen_rows(ids)]
