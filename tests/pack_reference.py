"""Reference pack kernel: the per-group numpy kernel the packed index
was built with before the batched kernel (index/segments._pack_sorted)
replaced it, kept verbatim as the specification the kernel tests
compare against, row for row and byte for byte."""

from __future__ import annotations

import numpy as np
import pandas as pd

from searchengine_spark.index import varbyte as vb
from searchengine_spark.operators.fielded import FIELD_B_BODY, FIELD_B_TITLE

BLOCK = 128


def bm25_scores_np(
    tfs: np.ndarray, doclens: np.ndarray, df: int, n_docs: int, avgdl: float,
    k1: float = 1.2, b: float = 0.75,
) -> np.ndarray:
    """Vectorized BM25 per-posting scores — float64, same arithmetic as
    operators.search.bm25_score_py (kept in lockstep)."""
    idf = np.log(1.0 + (n_docs - df + 0.5) / (df + 0.5))
    tf = tfs.astype(np.float64)
    norm = tf + k1 * (1.0 - b + b * doclens.astype(np.float64) / avgdl)
    return idf * tf * (1.0 + k1) / norm


def _field_norm_np(tfs: np.ndarray, lens: np.ndarray, avg: float,
                   b: float) -> np.ndarray:
    """tf / (1 - b + b·len/avg): one field's normalized tf, weight-free
    (query-time weights multiply OUTSIDE — operators/fielded
    .field_norm_tf documents why that keeps w·max sound bitwise).
    avg == 0 (a corpus with no titles at all) degenerates to
    tf / (1 - b): every len is 0 there, so the b·len/avg term is 0."""
    t = tfs.astype(np.float64)
    if avg > 0.0:
        return t / (1.0 - b + b * lens.astype(np.float64) / avg)
    return t / (1.0 - b)


def pack_arrays(
    term, shard: int, doc_ids, tfs, doclens, ttfs, tlens, df_term: int,
    n_docs: int, avgdl: float, run_id: int, avgtl: float,
) -> dict:
    """One (term, shard) group as RAW numpy arrays → one packed segment
    row as a plain dict."""
    order = np.argsort(doc_ids, kind="stable")
    doc_ids = doc_ids[order].astype(np.int64)
    tfs = tfs[order].astype(np.int64)
    doclens = doclens[order].astype(np.int64)
    ttfs = ttfs[order].astype(np.int64)
    tlens = tlens[order].astype(np.int64)
    scores = bm25_scores_np(tfs, doclens, df_term, n_docs, avgdl)
    bnorm = _field_norm_np(tfs, doclens, avgdl, FIELD_B_BODY)
    tnorm = _field_norm_np(ttfs, tlens, avgtl, FIELD_B_TITLE)
    n = len(doc_ids)
    n_blocks = -(-n // BLOCK)
    starts = np.arange(n_blocks, dtype=np.int64) * BLOCK
    # block stats vectorized: reduceat segments exactly at block
    # starts (the trailing partial block is reduceat's natural tail),
    # fancy-index for each block's last docID — the per-block Python
    # loops this replaces were ~25× slower and ran 4× per group
    block_last = doc_ids[np.minimum(starts + BLOCK, n) - 1].tolist()
    block_max = np.maximum.reduceat(scores, starts).tolist() if n else []
    block_bn = np.maximum.reduceat(bnorm, starts).tolist() if n else []
    block_tn = np.maximum.reduceat(tnorm, starts).tolist() if n else []

    # per-block byte offsets into each varbyte stream (lazy decode);
    # lengths computed once per stream and reused by the encoder
    u = vb.to_u64(doc_ids)
    gaps = np.empty_like(u)
    if n:
        gaps[0] = u[0]
        gaps[1:] = u[1:] - u[:-1]
    enc = {}
    offs = {}
    for key, vals in (
        ("ids", gaps), ("tfs", tfs.astype(np.uint64)),
        ("dls", doclens.astype(np.uint64)),
        ("ttf", ttfs.astype(np.uint64)), ("tls", tlens.astype(np.uint64)),
    ):
        lens = vb.varbyte_lengths(vals)
        cum = np.concatenate(([0], np.cumsum(lens)))
        offs[key] = cum[starts].tolist()
        enc[key] = vb.varbyte_encode(vals, nbytes=lens)

    return {
        "term": term,
        "shard": int(shard),
        "run_id": run_id,
        "n_docs": n,
        "df": df_term,
        "doc_ids": enc["ids"],
        "tfs": enc["tfs"],
        "doclens": enc["dls"],
        "block_last_doc": block_last,
        "block_max_score": block_max,
        "block_off_ids": offs["ids"],
        "block_off_tfs": offs["tfs"],
        "block_off_dls": offs["dls"],
        "tfs_title": enc["ttf"],
        "title_lens": enc["tls"],
        "block_off_ttf": offs["ttf"],
        "block_off_tls": offs["tls"],
        "block_max_bnorm": block_bn,
        "block_max_tnorm": block_tn,
        "avgtl": float(avgtl),
    }


def pack_group(pdf: pd.DataFrame, n_docs: int, avgdl: float, run_id: int,
               avgtl: float = 0.0) -> pd.DataFrame:
    """One (term, shard) group of (doc_id, tf, doclen, df[, ttf, tlen])
    → one packed segment row (applyInPandas shape)."""
    n = len(pdf)
    if "ttf" in pdf.columns:
        ttfs = pdf["ttf"].to_numpy()
        tlens = pdf["tlen"].to_numpy()
    else:
        ttfs = np.zeros(n, dtype=np.int64)
        tlens = np.zeros(n, dtype=np.int64)
    row = pack_arrays(
        pdf["term"].iloc[0], int(pdf["shard"].iloc[0]),
        pdf["doc_id"].to_numpy(), pdf["tf"].to_numpy(),
        pdf["doclen"].to_numpy(), ttfs, tlens,
        int(pdf["df"].iloc[0]), n_docs, avgdl, run_id, avgtl,
    )
    return pd.DataFrame([row])
