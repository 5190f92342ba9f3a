"""Approximate-retrieval verification (round-1 VERDICT #3: lsh_topk and
simhash_near_pairs shipped untested):

* lsh_topk recall@10 against the q25-style brute-force cosine baseline on a
  clustered embedding set — recall must clear a floor and be tunable via
  ``bits`` (fewer bits = bigger buckets = higher recall).
* simhash_near_pairs must recover planted near-duplicates (2 tokens changed
  out of 80) and nothing else on a well-separated corpus.

Everything here is deterministic: the hyperplanes (xxhash64) and token
hashes (md5) are column expressions and the data is seeded, so thresholds
are stable pins, not statistical hopes.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from nfl_feature_store_spark.operators.dedup import simhash, simhash_near_pairs
from nfl_feature_store_spark.operators.similarity import cosine_topk, lsh_topk


@pytest.fixture(scope="module")
def clustered_embeddings(spark):
    rng = np.random.default_rng(17)
    centers = rng.normal(0, 1, (8, 16))
    pts = [centers[i % 8] + rng.normal(0, 0.25, 16) for i in range(400)]
    emb = pd.DataFrame(
        {"vec_id": np.arange(400), "embedding": [p.astype("float32").tolist() for p in pts]}
    )
    return spark.createDataFrame(emb).cache()


def _recalls(exact: pd.DataFrame, approx: pd.DataFrame) -> list[float]:
    out = []
    for qid, g in exact.groupby("qid"):
        e, a = set(g.neighbor_id), set(approx[approx.qid == qid].neighbor_id)
        out.append(len(e & a) / len(e))
    return out


def test_lsh_topk_recall_vs_bruteforce(spark, clustered_embeddings):
    sdf = clustered_embeddings
    q = sdf.filter("vec_id < 20").selectExpr("vec_id as qid", "embedding")
    exact = cosine_topk(sdf, q, k=10).toPandas()
    assert exact.groupby("qid").size().eq(10).all()

    approx4 = lsh_topk(sdf, q, k=10, bits=4).toPandas()
    rec4 = _recalls(exact, approx4)
    # measured 0.77 mean on this fixture; pin a floor with margin
    assert float(np.mean(rec4)) >= 0.7

    # recall is tunable: fewer bits => bigger buckets => higher recall
    approx2 = lsh_topk(sdf, q, k=10, bits=2).toPandas()
    approx6 = lsh_topk(sdf, q, k=10, bits=6).toPandas()
    assert float(np.mean(_recalls(exact, approx2))) > float(np.mean(_recalls(exact, approx6)))

    # scores are EXACT cosines (only the candidate set is approximate): every
    # (qid, neighbor) the approximate path shares with the exact path agrees
    merged = approx4.merge(exact, on=["qid", "neighbor_id"], suffixes=("_a", "_e"))
    np.testing.assert_allclose(merged["cosine_a"], merged["cosine_e"], rtol=1e-12)

    # multi-probe recovers across-one-hyperplane misses: strictly more recall
    # at the same bits, with candidate volume only (1 + probes)x
    probed = lsh_topk(sdf, q, k=10, bits=6, probes=6).toPandas()
    assert float(np.mean(_recalls(exact, probed))) > float(np.mean(_recalls(exact, approx6)))
    assert probed.groupby(["qid", "neighbor_id"]).size().max() == 1  # deduped


def test_simhash_near_pairs_finds_planted_dups(spark):
    words = [f"w{i}" for i in range(500)]
    rng = np.random.default_rng(23)
    docs, planted = [], []
    for d in range(30):
        docs.append((d, " ".join(rng.choice(words, 80))))
    for j in range(8):
        toks = docs[j][1].split()
        toks[3], toks[40] = "changed", "also"  # 2/80 tokens differ
        docs.append((100 + j, " ".join(toks)))
        planted.append((j, 100 + j))
    ddf = spark.createDataFrame(pd.DataFrame(docs, columns=["doc_id", "text"]))

    fps = simhash(ddf, "doc_id", "text").select("doc_id", "simhash64")
    pairs = simhash_near_pairs(fps, id_col="doc_id", max_hamming=10, prefix_bits=4).toPandas()

    got = set(zip(pairs.id_a, pairs.id_b))
    assert got == set(planted)  # all 8 planted near-dups, zero false pairs
    assert (pairs["hamming"] <= 10).all()
    assert (pairs["hamming"] >= 0).all()


def test_simhash_multi_table_catches_prefix_window_flips(spark):
    """Round-2 VERDICT #4: a single prefix table misses near-dups whose
    differing bit falls inside the prefix window. With 4 rotated tables the
    windows are disjoint, so ANY pair at hamming < 4 must be bucketed
    together — including flips inside table 0's own top-16-bit window."""
    base = np.int64(0x1234_5678_9ABC_DEF0)  # fixed 64-bit pattern
    rows, expected = [(0, int(base))], set()
    # flip one bit inside EACH table's prefix window (tables rotate by 16):
    # windows are bits [48..63], [32..47], [16..31], [0..15]
    for t, bit in enumerate([60, 40, 20, 5]):
        rows.append((t + 1, int(base ^ np.int64(1 << bit))))
        expected.add((0, t + 1))
    fps = spark.createDataFrame(
        pd.DataFrame(rows, columns=["doc_id", "simhash64"]),
        schema="doc_id long, simhash64 long",
    )
    pairs = simhash_near_pairs(fps, id_col="doc_id", max_hamming=1, prefix_bits=16).toPandas()
    got = set(zip(pairs.id_a, pairs.id_b))
    assert expected <= got, f"missed planted single-bit flips: {expected - got}"
    # pairs among the variants themselves (hamming 2) are excluded by the filter
    assert (pairs["hamming"] <= 1).all()
    # no duplicate pairs despite multi-table probing
    assert pairs.groupby(["id_a", "id_b"]).size().max() == 1

    # overlapping windows would void the guarantee — rejected loudly
    with pytest.raises(ValueError, match="prefix_bits"):
        simhash_near_pairs(fps, id_col="doc_id", prefix_bits=32, n_tables=4)


def test_ivf_fit_input_is_corpus_size_independent(spark):
    """Round-2 VERDICT #2: the KMeans quantizer must fit on a bounded sample.
    The fit-input row count stays ~fit_sample_rows as the corpus quadruples."""
    from nfl_feature_store_spark.operators.similarity import _quantizer_fit_input

    def corpus(n):
        return spark.range(n).selectExpr("id AS cid", "array(cast(id AS double)) AS features")

    small = _quantizer_fit_input(corpus(1000), 200, seed=7).count()
    big = _quantizer_fit_input(corpus(4000), 200, seed=7).count()
    assert 120 <= small <= 320
    assert 120 <= big <= 320  # 4x the corpus, same bounded fit input

    # corpora at or under the budget pass through whole; None disables sampling
    assert _quantizer_fit_input(corpus(150), 200, seed=7).count() == 150
    assert _quantizer_fit_input(corpus(1000), None, seed=7).count() == 1000
    with pytest.raises(ValueError):
        _quantizer_fit_input(corpus(10), 0, seed=7)


def test_composite_rank_matches_pandas(spark):
    """Tie semantics of the composite: sub-ranks are method='max' descending;
    the composite is method='max' ascending on the weighted mean."""
    from nfl_feature_store_spark.operators.rank import composite_rank

    pdf = pd.DataFrame(
        {
            "period": ["p1"] * 6 + ["p2"] * 3,
            "m1": [10.0, 10.0, 7.0, 5.0, 5.0, 1.0, 3.0, 2.0, 1.0],
            "m2": [1.0, 2.0, 3.0, 4.0, 4.0, 6.0, 9.0, 8.0, 7.0],
        }
    )
    got = (
        composite_rank(
            spark.createDataFrame(pdf), ["m1", "m2"], ["period"], descending=True, keep_mean=True
        )
        .toPandas()
        .sort_values(["period", "m1", "m2"])
        .reset_index(drop=True)
    )
    r1 = pdf.groupby("period")["m1"].rank(method="max", ascending=False)
    r2 = pdf.groupby("period")["m2"].rank(method="max", ascending=False)
    pdf["mean_rank"] = (r1 + r2) / 2
    pdf["composite_rank"] = (
        pdf.groupby("period")["mean_rank"].rank(method="max", ascending=True).astype("int64")
    )
    exp = pdf.sort_values(["period", "m1", "m2"]).reset_index(drop=True)
    np.testing.assert_allclose(got["mean_rank"], exp["mean_rank"])
    assert got["composite_rank"].tolist() == exp["composite_rank"].tolist()


def test_bpe_token_count_hand_cases(spark):
    from nfl_feature_store_spark.functions.text import bpe_token_count_expr

    cases = [
        ("hello world", 2),        # "hello", " world"
        ("don't stop", 3),         # "don", "'t", " stop"
        ("abc 123", 2),            # "abc", " 123"
        ("hi!!", 2),               # "hi", "!!"
        ("   ", 1),                # lone whitespace run
        ("a\x0b b", 3),            # vertical tab: explicit ws class keeps Java/RE2 parity
        ("", 0),
        (None, 0),
    ]
    pdf = pd.DataFrame({"text": [c[0] for c in cases]})
    got = (
        spark.createDataFrame(pdf)
        .select(bpe_token_count_expr("text").alias("n"))
        .toPandas()["n"]
        .tolist()
    )
    assert got == [c[1] for c in cases]


def test_winnow_shared_substring_guarantee(spark):
    """Winnowing (k=8, w=4) guarantees: two documents sharing a substring of
    length >= k + w - 1 = 11 share at least one fingerprint; dissimilar
    random docs share none."""
    from pyspark.sql import functions as F

    from nfl_feature_store_spark.functions.text import winnow_fingerprints

    rng = np.random.default_rng(31)
    alphabet = list("abcdefghijklmnopqrstuvwxyz ")
    shared = "the quick brown fox jumps"  # 25 chars >> 11
    docs = [
        (0, "".join(rng.choice(alphabet, 60)) + shared + "".join(rng.choice(alphabet, 60))),
        (1, "".join(rng.choice(alphabet, 80)) + shared),
        (2, "".join(rng.choice(alphabet, 200))),  # unrelated
        (3, "".join(rng.choice(alphabet, 200))),  # unrelated
    ]
    sdf = spark.createDataFrame(pd.DataFrame(docs, columns=["doc_id", "text"]))
    fps = sdf.select("doc_id", winnow_fingerprints("text", k=8, w=4).alias("fps")).toPandas()
    sets = {r.doc_id: set(r.fps) for r in fps.itertuples()}
    assert sets[0] & sets[1], "docs sharing a >=11-char substring must share a fingerprint"
    assert not (sets[2] & sets[3]), "unrelated random docs should share nothing"
    # fingerprints are a sketch: far fewer than characters
    assert all(0 < len(s) < 200 for s in sets.values())


def test_ivf_topk_recall_vs_bruteforce(spark, clustered_embeddings):
    """IVF with n_centroids = true cluster count and n_probe=2 on an
    8-cluster fixture: the coarse quantizer should recover the clusters, so
    recall beats the 4-bit LSH floor; probing more centroids helps."""
    from nfl_feature_store_spark.operators.similarity import ivf_topk

    sdf = clustered_embeddings
    q = sdf.filter("vec_id < 20").selectExpr("vec_id as qid", "embedding")
    exact = cosine_topk(sdf, q, k=10).toPandas()

    ivf2 = ivf_topk(sdf, q, k=10, n_centroids=8, n_probe=2).toPandas()
    r2 = float(np.mean(_recalls(exact, ivf2)))
    assert r2 >= 0.8

    ivf1 = ivf_topk(sdf, q, k=10, n_centroids=8, n_probe=1).toPandas()
    r1 = float(np.mean(_recalls(exact, ivf1)))
    assert r2 >= r1  # more probes never hurt

    # exact-cosine contract on shared pairs
    merged = ivf2.merge(exact, on=["qid", "neighbor_id"], suffixes=("_a", "_e"))
    np.testing.assert_allclose(merged["cosine_a"], merged["cosine_e"], rtol=1e-12)


def test_recall_floors_on_sf001_corpus(spark):
    """Round-4 VERDICT item 7: measured recall@k for the q39/q47 parameter
    choices against the UNCAPPED exact baseline on the real sf0.01
    embeddings — near-isotropic noise, ANN's adversarial regime (full table
    in BENCH/BASELINE.md). Floors sit under the measured values with margin;
    the ordering pins (IVF > multiprobe-LSH > plain LSH at these params, and
    more probes > fewer) are the load-bearing claims."""
    from pyspark.sql import functions as F

    from nfl_feature_store_spark.functions.ann_constants import IVF_CENTROIDS_K16_DIM64
    from nfl_feature_store_spark.operators.similarity import ivf_topk

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 50).select(F.col("vec_id").alias("qid"), "embedding")
    exact = cosine_topk(emb, q, k=3).toPandas()

    lsh = lsh_topk(emb, q, k=3, bits=4).toPandas()
    lsh_mp = lsh_topk(emb, q, k=3, bits=4, probes=2).toPandas()
    ivf4 = ivf_topk(emb, q, k=3, n_probe=4, centroids=IVF_CENTROIDS_K16_DIM64).toPandas()
    ivf8 = ivf_topk(emb, q, k=3, n_probe=8, centroids=IVF_CENTROIDS_K16_DIM64).toPandas()

    r_lsh = float(np.mean(_recalls(exact, lsh)))
    r_mp = float(np.mean(_recalls(exact, lsh_mp)))
    r_ivf4 = float(np.mean(_recalls(exact, ivf4)))
    r_ivf8 = float(np.mean(_recalls(exact, ivf8)))

    # measured 0.093 / 0.300 / 0.713 / 0.927 — deterministic pipeline, but
    # keep margin for future testdata regeneration
    assert r_lsh >= 0.05
    assert r_mp >= 0.20
    assert r_ivf4 >= 0.60
    assert r_ivf8 >= 0.80
    # orderings: multiprobe recovers hyperplane near-misses; the
    # data-adaptive quantizer beats random hyperplanes on unclustered data
    assert r_mp > r_lsh
    assert r_ivf4 > r_mp
    assert r_ivf8 > r_ivf4
