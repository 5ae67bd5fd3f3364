"""Every writer of a shard-partitioned index layer leaves each parquet
file term-sorted — the order the parquet min/max term pruning relies
on: the bulk write, a delta-run append, the refresh repack, the
positional writes and the resumable build.

AQE partition coalescing is off here: a small build otherwise packs in
ONE task, whose output happens to arrive term-sorted whatever the
writer does; at scale many tasks feed each shard file."""

import glob

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from searchengine_spark.index.manifest import build_packed_resumable
from searchengine_spark.index.positional import (
    build_positional_segments,
    write_positional_segments,
)
from searchengine_spark.index.refresh import refresh_and_repack
from searchengine_spark.index.segments import (
    build_segments,
    write_delta_run,
    write_segments,
)
from searchengine_spark.operators.postings import (
    build_index,
    prepare_docs,
    prepare_docs_counts,
    read_index,
    write_index,
)
from searchengine_spark.operators.search import corpus_constants
from searchengine_spark.sources.corpus import corpus_df

N_SHARDS = 3


def _assert_files_term_sorted(path):
    files = glob.glob(f"{path}/**/*.parquet", recursive=True)
    assert files, path
    for f in files:
        terms = pq.read_table(f, columns=["term"]).column("term").to_pylist()
        assert terms == sorted(terms), f


@pytest.fixture
def uncoalesced(spark):
    key = "spark.sql.adaptive.coalescePartitions.enabled"
    prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    yield
    spark.conf.set(key, prev)


def test_every_layer_writer_leaves_term_sorted_files(
    spark, tmp_path, uncoalesced
):
    base = str(tmp_path / "idx")
    docs = corpus_df(spark, 120)
    write_index(build_index(docs, use_html=True), f"{base}/idx")
    idx = read_index(spark, f"{base}/idx")
    n, avgdl = corpus_constants(idx.doc_stats)
    write_segments(build_segments(idx, n, avgdl, n_shards=N_SHARDS),
                   f"{base}/segments")
    _assert_files_term_sorted(f"{base}/segments")

    def lemmas(d):
        return prepare_docs(d, use_html=True).select("doc_id", "lemmas")

    write_positional_segments(
        build_positional_segments(lemmas(docs), N_SHARDS), f"{base}/possegs"
    )
    _assert_files_term_sorted(f"{base}/possegs")

    delta = corpus_df(spark, 140).join(docs.select("url"), "url", "left_anti")
    write_delta_run(
        spark, prepare_docs_counts(delta, use_html=True), base,
        idx.term_stats, n_docs=n, avgdl=avgdl, n_shards=N_SHARDS, run_id=1,
    )
    write_positional_segments(
        build_positional_segments(lemmas(delta), N_SHARDS, run_id=1),
        f"{base}/possegs", mode="append",
    )
    assert spark.read.parquet(f"{base}/segments").filter(
        F.col("run_id") == 1
    ).count() > 0
    _assert_files_term_sorted(f"{base}/segments")
    _assert_files_term_sorted(f"{base}/possegs")

    resumable = str(tmp_path / "resumable")
    build_packed_resumable(spark, idx, resumable, n, avgdl,
                           n_shards=N_SHARDS, n_groups=2)
    _assert_files_term_sorted(f"{resumable}/segments")

    refresh_and_repack(spark, base)
    _assert_files_term_sorted(f"{base}/segments")
    _assert_files_term_sorted(f"{base}/possegs")
