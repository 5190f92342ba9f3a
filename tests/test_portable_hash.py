"""Portable md5 hash family (operators/dedup.py docstring): Spark and
DuckDB must agree BIT-FOR-BIT on MinHash signatures, SimHash fingerprints,
LSH candidate pairs and winnowing fingerprints — the property that upgrades
q30/q31/q40/q44 from rows-only to full value-hash oracles in the driver
contract. This test replays the driver's comparison in miniature."""

from __future__ import annotations

import duckdb
import pandas as pd
import pytest
from pyspark.sql import functions as F

from nfl_feature_store_spark.functions.text import winnow_fingerprints
from nfl_feature_store_spark.operators.dedup import (
    minhash_lsh_candidates,
    minhash_signature,
    simhash,
    simhash_near_pairs,
)

DOCS = [
    (0, "the quick brown fox jumps over the lazy dog"),
    (1, "the quick brown fox jumps over the lazy dog!"),  # near-dup of 0
    (2, "pack my box with five dozen liquor jugs"),
    (3, "pack my box with five dozen liquor jugs today"),  # near-dup of 2
    (4, ""),
    (5, "a"),
    (6, "lorem ipsum dolor sit amet consectetur adipiscing elit"),
    (7, "completely different content about spark window functions"),
    (8, "the quick brown fox jumps over the lazy dog"),  # exact dup of 0
] + [(10 + i, f"filler document number {i} with shared trailing phrase xyz") for i in range(20)]


@pytest.fixture(scope="module")
def docs_sdf(spark):
    pdf = pd.DataFrame(DOCS, columns=["doc_id", "text"])
    return spark.createDataFrame(pdf)


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    con.register("documents", pd.DataFrame(DOCS, columns=["doc_id", "text"]))
    return con


def _cmp(spark_pdf: pd.DataFrame, duck_pdf: pd.DataFrame, key):
    a = spark_pdf.sort_values(key).reset_index(drop=True)
    b = duck_pdf.sort_values(key).reset_index(drop=True)
    assert len(a) == len(b), (len(a), len(b))
    pd.testing.assert_frame_equal(a, b[a.columns], check_dtype=False)


def test_minhash_signature_parity(docs_sdf, duck):
    got = minhash_signature(docs_sdf, "doc_id", "text").toPandas()
    exp = duck.sql(
        """
        WITH d AS (SELECT doc_id AS id, lower(coalesce(text,'')) AS t FROM documents),
        sh AS (SELECT id, list_distinct(list_transform(range(1, greatest(length(t)-4,1)+1),
                                                       i -> substring(t,i,5))) AS s FROM d)
        SELECT id, list_transform(range(0,16),
                                  j -> list_min(list_transform(s, x -> md5(x || '#' || j::VARCHAR)))) AS sig
        FROM sh
        """
    ).df()
    got["sig"] = got["sig"].apply(list)
    exp["sig"] = exp["sig"].apply(list)
    _cmp(got, exp, ["id"])


def test_simhash_parity(docs_sdf, duck):
    got = simhash(docs_sdf, "doc_id", "text").toPandas()
    exp = duck.sql(
        """
        WITH d AS (SELECT doc_id, list_filter(regexp_split_to_array(lower(coalesce(text,'')), '\\s+'),
                                              t -> t != '') AS toks FROM documents),
        h AS (SELECT doc_id, toks, list_transform(toks, t -> md5_number_lower(t)) AS hs FROM d),
        v AS (SELECT doc_id, toks, list_transform(range(0,64), i ->
                 coalesce(list_sum(list_transform(hs, x -> CASE WHEN (x >> i) & 1 = 1 THEN 1 ELSE -1 END)), 0)) AS votes
              FROM h),
        f AS (SELECT doc_id, toks, coalesce(list_sum(list_transform(range(0,64), i ->
                 CASE WHEN votes[i+1] > 0 THEN (1::HUGEINT << i) ELSE 0::HUGEINT END)), 0::HUGEINT) AS fp
              FROM v)
        SELECT doc_id,
               CAST(fp - CASE WHEN fp >= 9223372036854775808::HUGEINT
                              THEN 18446744073709551616::HUGEINT ELSE 0::HUGEINT END AS BIGINT) AS simhash64,
               len(toks)::INTEGER AS n_tokens
        FROM f
        """
    ).df()
    _cmp(got, exp, ["doc_id"])


def test_simhash_md5_finds_planted_dups(docs_sdf):
    fps = simhash(docs_sdf, "doc_id", "text").select("doc_id", "simhash64")
    pairs = simhash_near_pairs(fps, id_col="doc_id", max_hamming=16, prefix_bits=8).toPandas()
    found = set(map(tuple, pairs[["id_a", "id_b"]].to_numpy()))
    assert (0, 8) in found  # exact dup: hamming 0, guaranteed bucketed
    assert (0, 1) in found or (2, 3) in found  # near-dups within probing reach


def test_lsh_candidates_parity(docs_sdf, duck):
    got = minhash_lsh_candidates(docs_sdf, "doc_id", "text").toPandas()
    exp = duck.sql(
        """
        WITH d AS (SELECT doc_id, lower(coalesce(text,'')) AS t FROM documents),
        sh AS (SELECT doc_id, list_distinct(list_transform(range(1, greatest(length(t)-4,1)+1),
                                                           i -> substring(t,i,5))) AS s FROM d),
        sig AS (SELECT doc_id, list_transform(range(0,16),
                        j -> list_min(list_transform(s, x -> md5(x || '#' || j::VARCHAR)))) AS sig FROM sh),
        bnd AS (SELECT doc_id, sig, r.b AS band,
                       md5(array_to_string(sig[r.b*4+1 : r.b*4+4], '|')) AS bucket
                FROM sig, range(0,4) r(b)),
        p AS (SELECT DISTINCT a.doc_id AS id_a, c.doc_id AS id_b, a.sig AS sa, c.sig AS sc
              FROM bnd a JOIN bnd c ON a.band = c.band AND a.bucket = c.bucket AND a.doc_id < c.doc_id)
        SELECT id_a, id_b,
               coalesce(list_sum(list_transform(range(1,17), i -> CASE WHEN sa[i] = sc[i] THEN 1 ELSE 0 END)), 0) / 16.0 AS est_jaccard
        FROM p
        """
    ).df()
    _cmp(got, exp, ["id_a", "id_b"])
    found = set(map(tuple, got[["id_a", "id_b"]].to_numpy()))
    assert (0, 8) in found  # exact dup always agrees on every band


def test_winnow_parity(docs_sdf, duck):
    got = (
        docs_sdf.select(
            "doc_id", winnow_fingerprints("text", k=8, w=4).alias("fps")
        )
        .select(
            "doc_id",
            F.size("fps").cast("long").alias("n_fingerprints"),
            F.md5(F.array_join(F.array_sort("fps"), ",")).alias("fp_digest"),
        )
        .toPandas()
    )
    exp = duck.sql(
        """
        WITH d AS (SELECT doc_id, lower(coalesce(text,'')) AS t FROM documents),
        g AS (SELECT doc_id, list_transform(range(1, greatest(length(t)-7,1)+1),
                                            i -> md5(substring(t,i,8))) AS hs FROM d),
        m AS (SELECT doc_id, list_distinct(list_transform(range(1, greatest(len(hs)-3,1)+1),
                                                          i -> list_min(hs[i : i+3]))) AS fps FROM g)
        SELECT doc_id, len(fps)::BIGINT AS n_fingerprints,
               md5(array_to_string(list_sort(fps), ',')) AS fp_digest
        FROM m
        """
    ).df()
    _cmp(got, exp, ["doc_id"])


def test_winnow_md5_shared_substring_guarantee(docs_sdf):
    """Schleimer guarantee holds under the md5 family too: docs sharing a
    substring of length >= k + w - 1 = 11 share a fingerprint."""
    rows = (
        docs_sdf.filter(F.col("doc_id").isin(0, 1))
        .select("doc_id", winnow_fingerprints("text", k=8, w=4).alias("fps"))
        .toPandas()
    )
    a, b = (set(rows[rows.doc_id == i]["fps"].iloc[0]) for i in (0, 1))
    assert a & b
