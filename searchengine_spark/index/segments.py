"""Packed index build: postings → compressed, block-max segments.

The north rule's "salted-hash-partitioned (term-sharded, skew-aware
for stopword-heavy terms) posting-list construction": the unit of
storage is the (term, shard) segment, where

    shard = pmod(hash(doc_id), n_shards)

is a single GLOBAL doc-space hash partitioning. This is simultaneously
the salt for skew (a 98%-DF term's posting list splits evenly across
all shards — no single applyInPandas group ever exceeds ~corpus/
n_shards postings) and the alignment that makes query-time conjunctive
intersection shard-local (every doc lives in exactly one shard for
every term).

Per segment we store docIDs delta-gap + varbyte compressed, tfs and
doclens varbyte compressed, and per-block (128 postings) metadata:
last docID (skip pointer) and the exact max float64 BM25 score
(WAND upper bound — computed from the true per-posting scores, so it
can never underestimate).

Sizing at 10^12 docs: n_shards chosen so corpus/n_shards ≈ 64k docs
per shard → the hottest (term, shard) group decodes to ≤64k postings,
bounded executor memory regardless of term skew. Written partitioned
by shard bucket with term-sorted row groups → parquet min/max stats
prune query scans to the touched terms.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema

from ..operators.fielded import FIELD_B_BODY, FIELD_B_TITLE
from ..operators.postings import IndexTables
from ..operators.search import bm25_score_py
from ..schemas import INDEX_SEGMENTS_SCHEMA
from . import varbyte as vb

BLOCK = 128
DEFAULT_DOCS_PER_SHARD = 65536


def n_shards_for(
    n_docs: int,
    docs_per_shard: int = DEFAULT_DOCS_PER_SHARD,
    min_parallelism: int = 1,
) -> int:
    """Shard count = max(corpus/docs_per_shard, cluster parallelism).
    The first term bounds per-group memory at huge N; the second keeps
    the pack kernel, the segment write, and the per-shard WAND query
    kernel parallel even when the corpus is smaller than
    cores × docs_per_shard (otherwise a small build collapses to ONE
    task and scaling dies)."""
    return max(1, -(-n_docs // docs_per_shard), min_parallelism)


def bm25_scores_np(
    tfs: np.ndarray, doclens: np.ndarray, df: int | np.ndarray, n_docs: int,
    avgdl: float, k1: float = 1.2, b: float = 0.75,
) -> np.ndarray:
    """Vectorized BM25 per-posting scores — float64, same arithmetic as
    operators.search.bm25_score_py (kept in lockstep). `df` is the
    term's df, or one df per posting."""
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


_SEGMENTS_ARROW = to_arrow_schema(INDEX_SEGMENTS_SCHEMA)
_LIST_I32 = _SEGMENTS_ARROW.field("block_off_ids").type
_LIST_I64 = _SEGMENTS_ARROW.field("block_last_doc").type
_LIST_F64 = _SEGMENTS_ARROW.field("block_max_score").type
_LIM = np.int64(1) << np.int64(31)


def _group_starts(terms: pa.Array, shards: np.ndarray) -> np.ndarray:
    """Row indices where a (term, shard) group starts in non-empty
    key-sorted rows — row 0 included; one vectorized change-point
    scan."""
    n = len(shards)
    ne = pc.not_equal(terms.slice(1), terms.slice(0, n - 1))
    change = ne.to_numpy(zero_copy_only=False) | (shards[1:] != shards[:-1])
    return np.concatenate(([0], np.flatnonzero(change) + 1))


def _offsets32(cum: np.ndarray) -> pa.Buffer:
    """int64 byte/element offsets → the int32 buffer Arrow's binary and
    list layouts take (Spark's BinaryType/ArrayType are the 32-bit
    forms); a stream past 2 GiB would wrap silently, so refuse it."""
    if cum.size and int(cum[-1]) > np.iinfo(np.int32).max:
        raise ValueError("packed batch exceeds 2 GiB in one stream")
    return pa.py_buffer(cum.astype(np.int32))


def _pack_sorted(rows: pa.RecordBatch, n_docs: int, avgdl: float,
                 run_id: int, avgtl: float) -> pa.RecordBatch:
    """Every (term, shard) group of `rows` → one packed segment row per
    group, in ONE vectorized pass — the single pack kernel.

    `rows` is the pack shuffle layout (term, shard, doc_id, df, tfx,
    dlx; see pack_segments_frame), sorted by (term, shard, doc_id) and
    holding only COMPLETE groups. No Python runs per group: scores and
    field norms are computed over the whole batch, block maxima come
    from one reduceat over the block starts, docID gaps reset at each
    group start, and each varbyte stream is encoded once — the group
    and per-block byte offsets fall out of its cumulative byte lengths,
    and the output columns are Arrow arrays built on those offsets. A
    group's df is its first row's (df is per term, so every row agrees).
    """
    terms = rows.column("term")
    shards = rows.column("shard").to_numpy()
    gstart = _group_starts(terms, shards)
    n = rows.num_rows
    n_groups = gstart.size
    gsize = np.diff(np.append(gstart, n))
    doc_ids = rows.column("doc_id").to_numpy()
    df = rows.column("df").to_numpy()[gstart]
    tfx = rows.column("tfx").to_numpy()
    dlx = rows.column("dlx").to_numpy()
    tfs, ttfs = tfx >> 31, tfx & (_LIM - 1)
    doclens, tlens = dlx >> 31, dlx & (_LIM - 1)

    scores = bm25_scores_np(tfs, doclens, np.repeat(df, gsize), n_docs, avgdl)
    bnorm = _field_norm_np(tfs, doclens, avgdl, FIELD_B_BODY)
    tnorm = _field_norm_np(ttfs, tlens, avgtl, FIELD_B_TITLE)

    # blocks: BLOCK postings from each group start, the last one partial;
    # block starts are increasing and tile the batch, so reduceat over
    # them is exactly the per-block max
    nblk = -(-gsize // BLOCK)
    blk_cum = np.concatenate(([0], np.cumsum(nblk)))
    bgroup = np.repeat(np.arange(n_groups), nblk)
    bstart = gstart[bgroup] + (
        np.arange(blk_cum[-1]) - blk_cum[bgroup]
    ) * BLOCK
    bend = np.minimum(bstart + BLOCK, (gstart + gsize)[bgroup])
    blk_offsets = _offsets32(blk_cum)

    def per_block(values: np.ndarray, typ: pa.DataType) -> pa.Array:
        return pa.Array.from_buffers(
            typ, n_groups, [None, blk_offsets],
            children=[pa.array(values, type=typ.value_type)],
        )

    u = vb.to_u64(doc_ids)
    gaps = np.empty_like(u)
    gaps[1:] = u[1:] - u[:-1]  # wraps across group starts; reset below
    gaps[gstart] = u[gstart]
    streams = {}
    for key, vals in (
        ("ids", gaps), ("tfs", tfs.astype(np.uint64)),
        ("dls", doclens.astype(np.uint64)),
        ("ttf", ttfs.astype(np.uint64)), ("tls", tlens.astype(np.uint64)),
    ):
        lens = vb.varbyte_lengths(vals)
        cum = np.concatenate(([0], np.cumsum(lens)))
        data = pa.py_buffer(vb.varbyte_encode(vals, nbytes=lens))
        encoded = pa.Array.from_buffers(
            pa.binary(), n_groups,
            [None, _offsets32(cum[np.append(gstart, n)]), data],
        )
        offs = per_block(cum[bstart] - cum[gstart[bgroup]], _LIST_I32)
        streams[key] = (encoded, offs)

    cols = {
        "term": terms.take(pa.array(gstart)),
        "shard": pa.array(shards[gstart], pa.int32()),
        "run_id": pa.array(np.full(n_groups, run_id, dtype=np.int32)),
        "n_docs": pa.array(gsize.astype(np.int32)),
        "df": pa.array(df.astype(np.int64)),
        "doc_ids": streams["ids"][0],
        "tfs": streams["tfs"][0],
        "doclens": streams["dls"][0],
        "block_last_doc": per_block(doc_ids[bend - 1], _LIST_I64),
        "block_max_score": per_block(
            np.maximum.reduceat(scores, bstart), _LIST_F64),
        "block_off_ids": streams["ids"][1],
        "block_off_tfs": streams["tfs"][1],
        "block_off_dls": streams["dls"][1],
        "tfs_title": streams["ttf"][0],
        "title_lens": streams["tls"][0],
        "block_off_ttf": streams["ttf"][1],
        "block_off_tls": streams["tls"][1],
        "block_max_bnorm": per_block(
            np.maximum.reduceat(bnorm, bstart), _LIST_F64),
        "block_max_tnorm": per_block(
            np.maximum.reduceat(tnorm, bstart), _LIST_F64),
        "avgtl": pa.array(np.full(n_groups, float(avgtl))),
    }
    return pa.RecordBatch.from_arrays(
        [cols[f.name] for f in _SEGMENTS_ARROW], schema=_SEGMENTS_ARROW
    )


def _pack_group(pdf: pd.DataFrame, n_docs: int, avgdl: float, run_id: int,
                avgtl: float = 0.0) -> pd.DataFrame:
    """One (term, shard) group of (doc_id, tf, doclen, df[, ttf, tlen])
    → one packed segment row: the one-group case of _pack_sorted
    (applyInPandas shape — the multi-run merge and the kernel tests;
    the bulk pack path is pack_segments_frame). ttf/tlen (title-field
    tf and title length, absent → zeros) feed the per-field TF layer
    that serves BM25F."""
    pdf = pdf.sort_values("doc_id", kind="stable")
    n = len(pdf)
    fielded = "ttf" in pdf.columns
    ttf = pdf["ttf"].to_numpy(np.int64) if fielded else np.zeros(n, np.int64)
    tlen = pdf["tlen"].to_numpy(np.int64) if fielded else np.zeros(n, np.int64)
    rows = pa.RecordBatch.from_pydict({
        "term": pa.array([pdf["term"].iloc[0]] * n, pa.string()),
        "shard": pa.array(np.full(n, int(pdf["shard"].iloc[0]), np.int32)),
        "doc_id": pa.array(pdf["doc_id"].to_numpy(np.int64)),
        "df": pa.array(np.full(n, int(pdf["df"].iloc[0]), np.int64)),
        "tfx": pa.array(pdf["tf"].to_numpy(np.int64) * _LIM + ttf),
        "dlx": pa.array(pdf["doclen"].to_numpy(np.int64) * _LIM + tlen),
    })
    return pd.DataFrame(
        _pack_sorted(rows, n_docs, avgdl, run_id, avgtl).to_pylist()
    )


def _concat(chunks: list[pa.RecordBatch]) -> pa.RecordBatch:
    """Record batches of one schema → one contiguous batch."""
    if len(chunks) == 1:
        return chunks[0]
    return pa.Table.from_batches(chunks).combine_chunks().to_batches()[0]


def pack_segments_frame(
    enriched: DataFrame,
    n_docs: int,
    avgdl: float,
    run_id: int,
    avgtl: float,
) -> DataFrame:
    """Bulk pack: (term, shard, doc_id, tf, doclen, df, ttf, tlen) →
    packed segment rows, at most one output Arrow batch per input batch.

    groupBy(term, shard).applyInPandas pays a fixed ~1 ms pandas/Arrow
    round-trip PER GROUP, and even a per-group numpy kernel pays
    ~160 µs of call overhead — at a Zipf dictionary most groups hold a
    single posting, so that overhead IS the pack time. Here ONE hash
    repartition on (term, shard) + an in-partition sort co-locate each
    group, and a mapInArrow pass hands every complete group of a batch
    to _pack_sorted at once: no Python runs per group.

    Correctness of the stitching: a (term, shard) group never spans
    partitions (hash partitioning on exactly that key), but CAN span
    consecutive Arrow batches of one partition — the walker packs each
    batch up to its last group start and carries the trailing
    (possibly incomplete) group forward as a LIST of chunks, joined
    once with the next batch's complete groups (or at iterator end).
    Every row is copied O(1) times even when one group spans many
    batches.

    Shuffle width: the two field-layer ints ride PACKED into the body
    ints (tfx = tf·2³¹ + ttf, dlx = doclen·2³¹ + tlen — exact while
    tf/doclen < 2³¹ and 0 ≤ ttf ≤ tf, 0 ≤ tlen ≤ doclen, which the
    extraction invariant guarantees: title text ⊆ body text), so the
    exchange and the Arrow hop into Python carry the SAME six columns
    the field-free r4 layout did; the kernel splits with two shifts."""

    def run(batches):
        pending: list[pa.RecordBatch] = []  # rows not yet packed
        for rb in batches:
            if not rb.num_rows:
                continue
            starts = _group_starts(
                rb.column("term"), rb.column("shard").to_numpy()
            )
            cut = int(starts[-1])
            if cut == 0 and pending:
                last = pending[-1]
                if (
                    rb.column("term")[0].as_py()
                    == last.column("term")[-1].as_py()
                    and rb.column("shard")[0].as_py()
                    == last.column("shard")[-1].as_py()
                ):
                    pending.append(rb)  # the open group continues
                    continue
            if cut or pending:
                yield _pack_sorted(
                    _concat(pending + [rb.slice(0, cut)]),
                    n_docs, avgdl, run_id, avgtl,
                )
            pending = [rb.slice(cut)]
        if pending:
            yield _pack_sorted(_concat(pending), n_docs, avgdl, run_id, avgtl)

    # in-partition sort groups rows; the partitioner guarantees group
    # locality. The sort is the same work applyInPandas' group shuffle
    # did implicitly — no extra pass. doc_id rides as a THIRD sort key:
    # the kernel needs each group's postings in docID order, and the
    # Tungsten sort adds the key for near-free.
    lim = F.lit(1 << 31).cast("long")
    has_field = "ttf" in enriched.columns
    ttf_col = (
        F.coalesce(F.col("ttf"), F.lit(0)).cast("long")
        if has_field else F.lit(0).cast("long")
    )
    tlen_col = (
        F.coalesce(F.col("tlen"), F.lit(0)).cast("long")
        if has_field else F.lit(0).cast("long")
    )
    packed_in = enriched.select(
        "term", "shard", "doc_id", "df",
        (F.col("tf").cast("long") * lim + ttf_col).alias("tfx"),
        (F.col("doclen").cast("long") * lim + tlen_col).alias("dlx"),
    )
    return (
        packed_in.repartition("term", "shard")
        .sortWithinPartitions("term", "shard", "doc_id")
        .mapInArrow(run, schema=INDEX_SEGMENTS_SCHEMA)
    )


def title_field_side(doc_meta: DataFrame) -> DataFrame:
    """(doc_id, title) → (doc_id, tmap map<term,tf>, tlen): the
    title-field term counts, analyzed with the SAME analyzer as the
    index body (term_counts_udf — lemmatize + stop-filter), as a
    per-doc MAP. The map rides ONE doc_id join into the postings
    frame and is projected away (element_at) before the expensive
    (term, shard) pack shuffle — no (doc_id, term) join of the
    corpus-sized postings frame is ever needed (titles are a handful
    of terms per doc)."""
    from ..functions.udfs import term_counts_udf

    tc = term_counts_udf(F.coalesce(F.col("title"), F.lit("")))
    return doc_meta.select("doc_id", tc.alias("tc")).select(
        "doc_id",
        F.map_from_arrays("tc.terms", "tc.tfs").alias("tmap"),
        F.aggregate("tc.tfs", F.lit(0), lambda a, x: a + x)
        .cast("long").alias("tlen"),
    )


def _title_side_from_pairs(
    title_tf: DataFrame, title_len: DataFrame
) -> DataFrame:
    """Adapter: explicit (doc_id, term, ttf) + (doc_id, tlen) frames →
    the (doc_id, tmap, tlen) shape build_segments joins. For corpora
    whose title field is defined by the CALLER's analyzer (e.g. the
    whitespace-tokenized contract tables) instead of the HTML
    pipeline's lemmatizer."""
    maps = title_tf.groupBy("doc_id").agg(
        F.map_from_entries(
            F.collect_list(F.struct("term", F.col("ttf").cast("int")))
        ).alias("tmap")
    )
    return title_len.select("doc_id", F.col("tlen").cast("long")).join(
        maps, "doc_id", "left"
    )


def _with_title_cols(enriched: DataFrame, title_side: DataFrame | None):
    """Left-join the per-doc title map and extract this posting row's
    title tf natively (element_at) — zeros when the corpus has no
    title data."""
    if title_side is None:
        return enriched.withColumn(
            "ttf", F.lit(0)
        ).withColumn("tlen", F.lit(0).cast("long"))
    return (
        enriched.join(title_side, "doc_id", "left")
        .withColumn(
            "ttf",
            F.coalesce(F.element_at(F.col("tmap"), F.col("term")), F.lit(0)),
        )
        .withColumn("tlen", F.coalesce(F.col("tlen"), F.lit(0).cast("long")))
        .drop("tmap")
    )


def _avgtl_of(title_side: DataFrame | None, n_docs: int) -> float:
    """Corpus avg title length = Σ tlen / n_docs — docs without a
    title count as length 0 (they are real documents of the corpus;
    the packed convention, mirrored by every oracle twin)."""
    if title_side is None or n_docs == 0:
        return 0.0
    s = title_side.agg(F.sum("tlen").alias("s")).collect()[0]["s"]
    return float(s or 0) / n_docs


def build_segments(
    index: IndexTables,
    n_docs: int,
    avgdl: float,
    n_shards: int | None = None,
    run_id: int = 0,
    title_tf: DataFrame | None = None,
    title_len: DataFrame | None = None,
    avgtl: float | None = None,
) -> DataFrame:
    """postings + stats → packed index_segments DataFrame.

    The per-field TF layer (BM25F serving) is derived from
    doc_stats.title by default (same analyzer as the body), or from
    explicit (title_tf, title_len) frames. `avgtl` (corpus avg title
    length) is computed here with one small aggregation when not
    passed — at production scale pass it precomputed alongside
    n_docs/avgdl so this stays a pure transform."""
    if n_shards is None:
        par = index.postings.sparkSession.sparkContext.defaultParallelism
        n_shards = n_shards_for(n_docs, min_parallelism=par)
    enriched, avgtl = enrich_postings(
        index, n_docs, n_shards, title_tf, title_len, avgtl
    )
    return pack_segments_frame(enriched, n_docs, avgdl, run_id, avgtl)


def enrich_postings(
    index: IndexTables,
    n_docs: int,
    n_shards: int,
    title_tf: DataFrame | None = None,
    title_len: DataFrame | None = None,
    avgtl: float | None = None,
) -> tuple[DataFrame, float]:
    """postings → the pack input (term, shard, doc_id, tf, doclen, df,
    ttf, tlen) plus the corpus avgtl — the enrichment every full build
    (build_segments, manifest.build_packed_resumable) shares; see
    build_segments for the title-field sources."""
    # In-row fast path: a materialize_index-built index already carries
    # the field layer (postings.ttf from the single extraction pass,
    # doc_stats.tlen from the doclen aggregation) — the title data then
    # rides the doc_id join the body stats take anyway. No second title
    # analysis, no tmap join: at 2.4M docs the title_field_side path
    # cost two extra full-corpus passes inside the pack stage.
    in_row = (
        title_tf is None
        and "ttf" in index.postings.columns
        and "tlen" in index.doc_stats.columns
    )
    if title_tf is not None:
        if title_len is None:
            raise ValueError("title_tf needs title_len")
        title_side = _title_side_from_pairs(title_tf, title_len)
    elif in_row or "title" not in index.doc_stats.columns:
        title_side = None
    else:
        title_side = title_field_side(
            index.doc_stats.select("doc_id", "title")
        )
    if avgtl is None:
        if in_row:
            s = index.doc_stats.agg(F.sum("tlen").alias("s")).collect()[0]["s"]
            avgtl = float(s or 0) / n_docs if n_docs else 0.0
        else:
            avgtl = _avgtl_of(title_side, n_docs)
    # Fastest path: postings that carry their doc lengths IN-ROW
    # (explode_term_counts emits doclen/tlen per posting — known
    # before the explode) need NO doc-side join at all; the only
    # remaining join is the tiny term_stats df lookup. The doc_stats
    # join below is a sort-merge of the FULL posting stream on doc_id
    # — a second corpus-scale shuffle inside the pack stage — kept
    # only for indexes whose postings predate the in-row layout.
    lengths_in_row = "doclen" in index.postings.columns and (
        not in_row or "tlen" in index.postings.columns
    )
    if lengths_in_row:
        enriched = index.postings.join(
            index.term_stats.select("term", "df"), "term"
        )
    else:
        doc_cols = ["doc_id", "doclen"] + (["tlen"] if in_row else [])
        enriched = (
            index.postings
            .join(index.doc_stats.select(*doc_cols), "doc_id")
            .join(index.term_stats.select("term", "df"), "term")
        )
    if not in_row:
        enriched = _with_title_cols(enriched, title_side)
    enriched = enriched.withColumn(
        "shard", F.pmod(F.hash("doc_id"), F.lit(n_shards)).cast("int")
    )
    return enriched, avgtl


def write_by_shard(frame: DataFrame, path: str, mode: str) -> None:
    """The one writer of every shard-partitioned index layer (packed and
    positional segments, bulk, delta, resumable and repacked):
    partition by shard, rows term-sorted within each file so parquet
    min/max column stats prune query-term scans. `shard` leads the sort
    because partitionBy's planned write requires that ordering — a sort
    on `term` alone is replaced by one on `shard`, and the files come
    out in shuffle order (their bytes then depend on upstream
    partitioning too)."""
    (
        frame.repartition("shard")
        .sortWithinPartitions("shard", "term")
        .write.mode(mode)
        .partitionBy("shard")
        .parquet(path)
    )


def write_segments(segments: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Write packed segments under `path` (write_by_shard layout)."""
    write_by_shard(segments, path, mode)


def unpack_segment(row) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(doc_ids, tfs, doclens) from a segment row (dict-like)."""
    return (
        vb.delta_decode_ids(bytes(row["doc_ids"])),
        vb.decode_ints(bytes(row["tfs"])),
        vb.decode_ints(bytes(row["doclens"])),
    )


def unpack_segment_titles(row, n: int) -> tuple[np.ndarray, np.ndarray]:
    """(title_tfs, title_lens) from a segment row — zeros for rows
    packed before the field layer existed (nullable columns)."""
    ttf = row["tfs_title"] if "tfs_title" in row else None
    if ttf is None:
        z = np.zeros(n, dtype=np.int64)
        return z, z.copy()
    return (
        vb.decode_ints(bytes(ttf)),
        vb.decode_ints(bytes(row["title_lens"])),
    )


def delta_segments(
    delta_prepared: DataFrame,
    term_stats: DataFrame,
    n_docs: int,
    avgdl: float,
    n_shards: int,
    run_id: int,
    avgtl: float = 0.0,
) -> DataFrame:
    """Incremental update (reference I1, single-page reindex
    IndexingService.java:71-95): a small batch of new/changed docs →
    packed segments tagged with a NEW run_id, appended alongside the
    base run. Query-time _TermList merges runs last-wins (upsert), so
    updated docs take effect without rewriting the base index;
    index.refresh.refresh_and_repack compacts when runs accumulate.

    df/doclen statistics for the delta reuse the BASE corpus stats
    (n_docs, avgdl, term df) — the standard approximation for small
    deltas; index.refresh.refresh_and_repack re-aggregates exactly
    (idempotent, no ±1 mutation — SURVEY §3.3) and closes the window."""
    from ..operators.postings import explode_term_counts

    postings = explode_term_counts(delta_prepared)
    in_row = "ttf" in postings.columns  # aligned ttfs rode the explode
    # explode_term_counts emits doclen (and tlen when fielded) per
    # posting row — known before the explode — so the delta needs no
    # doc-side join either; the field layer (avgtl = BASE corpus
    # constant, same approximation family as n_docs/avgdl; exact at
    # compaction) rides in-row when the prepared frame carries ttfs.
    title_side = (
        title_field_side(delta_prepared.select("doc_id", "title"))
        if not in_row and "title" in delta_prepared.columns else None
    )
    enriched = (
        postings
        .join(term_stats.select("term", "df"), "term", "left")
        .fillna(1, subset=["df"])  # unseen term: df ≥ 1 once this doc lands
    )
    if not in_row:
        enriched = _with_title_cols(enriched, title_side)
    enriched = enriched.withColumn(
        "shard", F.pmod(F.hash("doc_id"), F.lit(n_shards)).cast("int")
    )
    return pack_segments_frame(enriched, n_docs, avgdl, run_id, avgtl)


def write_delta_run(
    spark,
    delta_prepared: DataFrame,
    index_base: str,
    term_stats: DataFrame,
    n_docs: int,
    avgdl: float,
    n_shards: int,
    run_id: int,
    avgtl: float = 0.0,
) -> None:
    """Append one delta run: packed segments (delta_segments) PLUS the
    delta docs' meta rows (doc_id, url, site, doclen, run_id) to
    idx/doc_meta_runs — the breadcrumb refresh_and_repack needs to
    rebuild doc_stats exactly (url/site are not recoverable from
    packed postings). Both writes are appends; the run becomes visible
    to queries via last-run-wins merge immediately.

    `delta_prepared` is persisted across the two writes: its lineage
    contains the extract/tokenize UDFs (the hottest Python path), which
    would otherwise run a second time just to derive the meta doclens.

    Crash/replay safety: segments are appended FIRST - a crash before
    the meta append leaves orphan segment rows that are inert (the
    refresh supersede is keyed on the META run, not the postings), and
    an at-least-once replay re-appends value-identical rows that every
    consumer dedups (index.refresh.current_postings /
    _doc_meta_resolved; the read-time merge)."""
    from ..operators.postings import doclen_from_counts

    delta_prepared = delta_prepared.persist()
    try:
        delta = delta_segments(
            delta_prepared, term_stats, n_docs=n_docs, avgdl=avgdl,
            n_shards=n_shards, run_id=run_id, avgtl=avgtl,
        )
        write_by_shard(delta, f"{index_base}/segments", "append")
        title = (
            F.col("title") if "title" in delta_prepared.columns
            else F.lit(None).cast("string")
        ).alias("title")
        meta = delta_prepared.select(
            "doc_id", "url", "site", title,
            doclen_from_counts(delta_prepared).alias("doclen"),
            F.lit(run_id).cast("int").alias("run_id"),
            F.lit(False).alias("deleted"),
        )
        meta.write.mode("append").parquet(f"{index_base}/idx/doc_meta_runs")
    finally:
        delta_prepared.unpersist()


def write_tombstones(
    spark, doc_ids: list[int], index_base: str, run_id: int
) -> int:
    """Delete documents (reference analog: the reindex path's
    delete-old-postings step, IndexingService.java:152, promoted to a
    first-class operation — takedowns/opt-outs at corpus scale).

    Appends tombstone meta rows (deleted=True) tagged with `run_id`;
    doc-level last-wins makes the tombstone authoritative at the next
    refresh_and_repack, which drops the docs' postings and meta and
    re-aggregates stats exactly. Until then queries still see the doc
    (documented staleness window, same as delta-run stats). A doc
    re-landed by a LATER delta run supersedes its tombstone; a
    tombstone TIED with a live run wins (deleted-wins tie-break in the
    meta resolution), so passing run_id >= the doc's latest run always
    deletes. Returns the number of tombstones written (ids not in the
    index are no-ops)."""
    from .manifest import fs_exists

    def _tcol(df):
        col = F.col("title") if "title" in df.columns else F.lit(None)
        return col.cast("string").alias("title")

    ids = spark.createDataFrame([(int(d),) for d in doc_ids], "doc_id long")
    base_meta = spark.read.parquet(f"{index_base}/idx/doc_stats")
    meta = base_meta.select("doc_id", "url", "site", _tcol(base_meta))
    # docs landed by un-refreshed deltas are deletable too; explicit
    # existence check — a read failure on an existing dir must
    # propagate, not silently no-op the deletions
    delta_path = f"{index_base}/idx/doc_meta_runs"
    if fs_exists(spark, delta_path):
        raw = spark.read.parquet(delta_path)
        meta = meta.unionByName(
            raw.select("doc_id", "url", "site", _tcol(raw))
        )
    known = meta.dropDuplicates(["doc_id"]).join(F.broadcast(ids), "doc_id")
    rows = known.select(
        "doc_id", "url", "site", "title",
        F.lit(0).cast("long").alias("doclen"),
        F.lit(run_id).cast("int").alias("run_id"),
        F.lit(True).alias("deleted"),
    ).persist()  # count + write = two actions; one metadata scan
    try:
        n = rows.count()
        if n:
            rows.write.mode("append").parquet(
                f"{index_base}/idx/doc_meta_runs"
            )
    finally:
        rows.unpersist()
    return n


def merge_runs(segments: DataFrame, n_docs: int, avgdl: float, run_id: int = 0) -> DataFrame:
    """Multi-pass sorted posting merge (north rule): k-way merge all
    runs of each (term, shard) into a single fresh run. Incremental
    builds append runs with increasing run_id. NOTE: compaction no
    longer calls this — scripts/compact.py runs
    index.refresh.refresh_and_repack (DOC-level supersede + exact
    stats); this kernel remains the (term, shard)-level read-time
    merge semantics only.
    Later runs win on duplicate doc_id (upsert semantics, I1)."""

    def _merge(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("run_id")
        parts = []
        for _, row in pdf.iterrows():
            ids, tfs, dls = unpack_segment(row)
            ttfs, tls = unpack_segment_titles(row, len(ids))
            parts.append(
                pd.DataFrame(
                    {"doc_id": ids, "tf": tfs, "doclen": dls,
                     "ttf": ttfs, "tlen": tls,
                     "run_id": row["run_id"]}
                )
            )
        allp = pd.concat(parts, ignore_index=True)
        # last run wins per doc_id (MERGE/upsert)
        allp = allp.sort_values(["doc_id", "run_id"]).drop_duplicates(
            "doc_id", keep="last"
        )
        allp["term"] = pdf["term"].iloc[0]
        allp["shard"] = pdf["shard"].iloc[0]
        # df from the HIGHEST run deterministically (after sort) - an
        # arbitrary row could pick a delta run's fillna(1) placeholder
        # over the base-exact df and change block-max scores run-to-run
        allp["df"] = pdf["df"].iloc[-1]
        # avgtl likewise from the highest run (a corpus constant rider)
        a_tl = pdf["avgtl"].iloc[-1] if "avgtl" in pdf.columns else None
        return _pack_group(
            allp, n_docs, avgdl, run_id,
            avgtl=float(a_tl) if a_tl is not None and a_tl == a_tl else 0.0,
        )

    return segments.groupBy("term", "shard").applyInPandas(
        _merge, schema=INDEX_SEGMENTS_SCHEMA
    )
