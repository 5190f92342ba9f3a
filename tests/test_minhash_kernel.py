"""Parity pin: the vectorized md5 MinHash kernel must equal the pure
column-algebra formulation bit-for-bit — including the ASCII packed-key
fast path, the non-ASCII slow path, empty and shorter-than-k documents,
and NULL text (coalesced to '')."""

from __future__ import annotations

import pytest

from nfl_feature_store_spark.operators.dedup import (
    _minhash_signature_md5_expr,
    minhash_signature,
)

CORPUS = [
    (0, "the quick brown fox jumps over the lazy dog"),
    (1, "the quick brown fox jumps over the lazy cat"),
    (2, ""),                      # empty -> single '' shingle
    (3, None),                    # NULL -> coalesced to ''
    (4, "ab"),                    # shorter than k -> whole text is the gram
    (5, "abcde"),                 # exactly k
    (6, "AbCdE FgHiJ"),           # lowercasing happens before shingling
    (7, "naïve café déjà vu — franchise"),   # non-ASCII slow path
    (8, "日本語のテキストです、五文字のシングル"),  # multi-byte slow path
    (9, "the quick brown fox jumps over the lazy dog"),  # exact dup of 0
]


@pytest.fixture(scope="module")
def corpus_df(spark):
    return spark.createDataFrame(CORPUS, "doc_id int, text string")


def _collect(df):
    return {r["id"]: list(r["sig"]) for r in df.collect()}


def test_kernel_matches_expr_formulation(spark, corpus_df):
    expr = _collect(_minhash_signature_md5_expr(corpus_df, "doc_id", "text", 16, 5))
    kern = _collect(minhash_signature(corpus_df, "doc_id", "text", 16, 5))
    assert kern == expr


def test_kernel_matches_expr_other_shapes(spark, corpus_df):
    # different num_hashes / shingle_k exercise the seed strings and the
    # short-doc boundary at a different k
    expr = _collect(_minhash_signature_md5_expr(corpus_df, "doc_id", "text", 8, 3))
    kern = _collect(minhash_signature(corpus_df, "doc_id", "text", 8, 3))
    assert kern == expr


def test_kernel_k_above_packed_limit_falls_back(spark, corpus_df):
    # k > 8 bytes cannot use the packed-uint64 fast path; the slow path
    # must still agree with the expression form
    expr = _collect(_minhash_signature_md5_expr(corpus_df, "doc_id", "text", 4, 9))
    kern = _collect(minhash_signature(corpus_df, "doc_id", "text", 4, 9))
    assert kern == expr


def test_winnow_table_matches_expr(spark, corpus_df):
    """winnow_fingerprints_table (md5 kernel) must equal the column-expr
    form element-for-element, including array_distinct's first-occurrence
    order, short/empty docs and the non-ASCII slow path."""
    from pyspark.sql import functions as F

    from nfl_feature_store_spark.functions.text import (
        winnow_fingerprints,
        winnow_fingerprints_table,
    )

    for k, w in ((8, 4), (5, 3), (9, 4)):
        expr = {
            r["doc_id"]: list(r["fps"])
            for r in corpus_df.select(
                "doc_id", winnow_fingerprints("text", k=k, w=w).alias("fps")
            ).collect()
        }
        kern = {
            r["doc_id"]: list(r["fps"])
            for r in winnow_fingerprints_table(
                corpus_df, "doc_id", "text", k=k, w=w
            ).collect()
        }
        assert kern == expr, f"k={k} w={w}"


# every shape the fast path packs specially: empty, shorter than k, exactly
# k (k=5 for MinHash and for the first winnowing shape), fewer grams than a
# window, repeated grams within and across documents
ASCII_DOCS = [
    "the quick brown fox jumps over the lazy dog",
    "",
    "ab",
    "abcde",
    "abcdef",
    "aaaaaaaaaaaaaaaaaaaa",
    "the quick brown fox",
    "x",
    "abcdefgh",
    "the lazy dog naps; the quick fox jumps over the lazy dog again",
]


def _run(kernel, docs):
    import pyarrow as pa

    batch = pa.RecordBatch.from_arrays(
        [pa.array(range(len(docs)), pa.int32()), pa.array(docs, pa.string())], ["id", "__t"]
    )
    (out,) = list(kernel([batch]))
    return dict(zip(out.column(0).to_pylist(), out.column(1).to_pylist()))


@pytest.mark.parametrize("k,w", [(5, 3), (8, 4), (3, 2), (1, 1)])
def test_kernel_fast_and_slow_paths_agree(k, w):
    """Spark-free: both md5 kernels on the same documents, once as an
    all-ASCII batch (packed-key fast path) and once with a non-ASCII
    document added (per-document slow path), must agree on every shared
    document."""
    from nfl_feature_store_spark.functions.text import _winnow_md5_kernel
    from nfl_feature_store_spark.operators.dedup import _md5_minhash_kernel

    slow_docs = ASCII_DOCS + ["naïve café"]
    for kernel in (_md5_minhash_kernel(16, k), _winnow_md5_kernel(k, w)):
        fast = _run(kernel, ASCII_DOCS)
        slow = _run(kernel, slow_docs)
        assert len(slow) == len(slow_docs)
        assert fast == {d: slow[d] for d in fast}


def test_kernel_batch_of_a_million_digests():
    """A batch whose output holds over 2**20 digests stays one Arrow array
    (pyarrow splits a numpy string conversion that large into chunks, which
    ListArray.from_arrays rejects); every document here is the same, so
    every output row must be too."""
    from nfl_feature_store_spark.functions.text import _winnow_md5_kernel
    from nfl_feature_store_spark.operators.dedup import _md5_minhash_kernel

    docs = ["abcdefghijklmnopqrstuvwxyz"] * 2**16
    for kernel, per_doc in ((_md5_minhash_kernel(16, 5), 16), (_winnow_md5_kernel(1, 1), 26)):
        out = _run(kernel, docs)
        assert len(out) == len(docs)
        assert len(out[0]) == per_doc
        assert all(v == out[0] for v in out.values())
