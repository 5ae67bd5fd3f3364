"""The batched pack kernel (index/segments._pack_sorted) against the
per-group reference kernel (tests/pack_reference.py): every packed
segment row — varbyte streams, block offsets, block maxima, df, avgtl
— must be identical, row for row, whatever the group sizes and value
ranges, whether the groups arrive one at a time (_pack_group) or all
together in one sorted batch (the bulk path)."""

import numpy as np
import pandas as pd
import pyarrow as pa
from hypothesis import given, settings
from hypothesis import strategies as st

from searchengine_spark.index import segments as SG
from tests import pack_reference as R

I64 = np.iinfo(np.int64)
_SIZES = st.one_of(
    st.sampled_from([1, 127, 128, 129, 256, 300, 517]),
    st.integers(1, 400),
)


@st.composite
def _groups(draw):
    """1–6 (term, shard) groups: distinct doc_ids per group (extremes
    and negatives included), tf/doclen reaching multi-byte varbyte,
    title fields all-zero or not."""
    n_groups = draw(st.integers(1, 6))
    seed = draw(st.integers(0, 2**32 - 1))
    titled = draw(st.booleans())
    rng = np.random.default_rng(seed)
    groups = []
    for g in range(n_groups):
        n = draw(_SIZES)
        pool = np.concatenate([
            rng.integers(I64.min, I64.max, size=n, dtype=np.int64),
            np.array([I64.min, I64.max, -1, 0, 1], dtype=np.int64),
        ])
        ids = rng.permutation(np.unique(pool))[:n]
        tf = rng.integers(1, draw(st.sampled_from([3, 200, 70_000])), len(ids))
        doclen = tf + rng.integers(0, draw(st.sampled_from([5, 400, 10**7])),
                                   len(ids))
        ttf = rng.integers(0, 3, len(ids)) if titled else np.zeros(len(ids), int)
        tlen = ttf + (rng.integers(0, 300, len(ids)) if titled else 0)
        groups.append(pd.DataFrame({
            # terms chosen so string order ≠ group index order
            "term": f"t{draw(st.integers(0, 3))}", "shard": g,
            "doc_id": ids, "tf": tf, "doclen": doclen,
            "df": int(draw(st.integers(1, 5000))),
            "ttf": ttf, "tlen": tlen,
        }))
    return groups


_CONSTS = st.tuples(
    st.integers(5000, 10**9),
    st.floats(1.0, 5000.0),
    st.sampled_from([0.0, 0.7, 3.25, 41.0]),
)


def _reference_rows(groups, n_docs, avgdl, avgtl):
    return [
        R.pack_group(g, n_docs, avgdl, 3, avgtl=avgtl).iloc[0].to_dict()
        for g in groups
    ]


@given(_groups(), _CONSTS)
@settings(max_examples=60, deadline=None)
def test_one_group_kernel_equals_reference(groups, consts):
    n_docs, avgdl, avgtl = consts
    got = [
        SG._pack_group(g, n_docs, avgdl, 3, avgtl=avgtl).iloc[0].to_dict()
        for g in groups
    ]
    assert got == _reference_rows(groups, n_docs, avgdl, avgtl)


@given(_groups(), _CONSTS)
@settings(max_examples=60, deadline=None)
def test_batch_kernel_equals_reference(groups, consts):
    """All groups in ONE key-sorted batch, in the pack shuffle layout."""
    n_docs, avgdl, avgtl = consts
    groups = sorted(groups, key=lambda g: (g["term"].iat[0], g["shard"].iat[0]))
    rows = pd.concat(
        [g.sort_values("doc_id") for g in groups], ignore_index=True
    )
    lim = np.int64(1) << np.int64(31)
    batch = pa.RecordBatch.from_pydict({
        "term": pa.array(rows["term"], pa.string()),
        "shard": pa.array(rows["shard"], pa.int32()),
        "doc_id": pa.array(rows["doc_id"], pa.int64()),
        "df": pa.array(rows["df"], pa.int64()),
        "tfx": pa.array(rows["tf"].to_numpy(np.int64) * lim + rows["ttf"]),
        "dlx": pa.array(rows["doclen"].to_numpy(np.int64) * lim + rows["tlen"]),
    })
    got = SG._pack_sorted(batch, n_docs, avgdl, 3, avgtl).to_pylist()
    assert got == _reference_rows(groups, n_docs, avgdl, avgtl)
