"""Deduplication operators for training-data pipelines.

Four tiers, all shuffle-conscious:

* exact: hash-groupBy on a normalized-text fingerprint (md5) — one shuffle.
* MinHash + LSH: shingle → k minhashes → b bands → bucket self-join; only
  documents sharing a band bucket are compared, so the candidate join is
  linear in bucket occupancy, not quadratic in corpus size — THE scale path
  for near-dup at 10^12 docs.
* SimHash: 64-bit token-vote fingerprint; near-dups have small Hamming
  distance; bucketable by fingerprint prefix.
* embedding cosine near-dup: see operators/similarity.py.

One hash family, md5, PORTABLE: every hashed operator is computable
bit-identically in other engines (DuckDB, Trino, ...), so each has a
full value-hash oracle in the registry (q30/q31/q40/q44/q53/q56):

* string tier: md5 hex digests compare lexicographically in unsigned
  numeric order (fixed-width lowercase hex), so MinHash minima and LSH
  band buckets need no integer conversion at all.
* int64 tier (SimHash bit votes): the low 8 digest bytes little-endian —
  exactly DuckDB's ``md5_number_lower`` — reproduced JVM-side as
  ``conv(reversed-hex-pairs, 16, 10)`` with a two's-complement fold to
  signed bigint. Bits 0..63 of the signed value equal the unsigned bits,
  so vote extraction ``(h >> i) & 1`` agrees across engines.

An md5 call costs about a microsecond, so the gram-heavy operators
(MinHash, winnowing) hash each DISTINCT gram once in a vectorized Arrow
kernel (functions/md5_grams.py) instead of once per gram instance.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from nfl_feature_store_spark.plans.layout import spread

#: SQL fragment: unsigned decimal(20,0) value of md5(t)'s low 8 bytes
#: little-endian (== DuckDB md5_number_lower(t)); `t` is the lambda var.
#: The digest is BOUND as a one-element-array lambda variable (__mh) so md5
#: runs ONCE per value: a repeated non-lambda subexpression inside a
#: higher-order lambda has no common-subexpression elimination and would be
#: re-evaluated per reference — the naive spelling paid 8 md5 calls here
#: (16 after the signed fold below) per token (guide §4 / functions/text.py
#: winnow_fingerprints note; same trap, same fix).
_MD5_LOWER64_U = (
    "element_at(transform(array(md5(t)), __mh -> "
    "cast(conv(concat(substring(__mh,31,2),substring(__mh,29,2),"
    "substring(__mh,27,2),substring(__mh,25,2),substring(__mh,23,2),"
    "substring(__mh,21,2),substring(__mh,19,2),substring(__mh,17,2)),"
    "16,10) as decimal(20,0))), 1)"
)
#: same value folded to signed bigint (two's complement); the unsigned value
#: is likewise bound once (__mu) instead of being evaluated twice
MD5_LOWER64_SQL = (
    f"element_at(transform(array({_MD5_LOWER64_U}), __mu -> "
    "cast(__mu - (case when __mu >= 9223372036854775808 "
    "then cast(18446744073709551616 as decimal(21,0)) else cast(0 as decimal(21,0)) end) as bigint)), 1)"
)


def md5_low64_unsigned_sql(expr: str) -> str:
    """SQL fragment: unsigned decimal(20,0) value of md5(expr)'s low 8 bytes
    little-endian — the portable bucket hash (== DuckDB
    ``md5_number_lower(expr)``) used by sampling/split/packing operators.
    ``expr`` must be a SQL string expression."""
    return _MD5_LOWER64_U.replace("md5(t)", f"md5({expr})")


def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Keep the lowest id per normalized-text fingerprint."""
    from nfl_feature_store_spark.functions.text import doc_fingerprint

    src = spread(df.select(F.col(id_col), F.col(text_col)), id_col)
    fp = src.select(F.col(id_col), doc_fingerprint(text_col).alias("fingerprint"))
    return fp.groupBy("fingerprint").agg(
        F.min(id_col).alias("keep_id"), F.count("*").alias("n_copies")
    )


def _shingles(text_col: str, k: int = 5):
    """Distinct k-gram character shingles of the lowercased text.

    NULL text coalesces to '' (one empty shingle) so NULL and empty
    documents fingerprint identically — matching the oracle SQL's
    coalesce and winnow_fingerprints' convention (round-4 advice).

    The lowered text is BOUND as a one-element-array lambda variable so it
    is computed once per document: referencing ``lower(coalesce(text, ''))``
    from inside the per-shingle lambda re-evaluates it per element — an
    O(len²) copy cost per document (the same trap winnow_fingerprints
    documents; measured: the fix cut the q53 sf0.1 signature stage ~3x)."""
    t0 = f"lower(coalesce({text_col}, ''))"
    return F.array_distinct(
        F.expr(
            f"element_at(transform(array({t0}), t -> "
            f"transform(sequence(1, greatest(length(t) - {k - 1}, 1)),"
            f" i -> substring(t, i, {k}))), 1)"
        )
    )


def minhash_signature(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 16,
    shingle_k: int = 5,
) -> DataFrame:
    """(id, sig) — per-document MinHash signature, array<string> of md5 hex
    digests (lexicographic order == unsigned numeric order).

    minhash_j(doc) = min over shingles s of md5(s || '#' || j).

    md5 is ~µs-expensive and shingle instances repeat massively across
    documents (measured 10.3M instances over 2,059 DISTINCT shingles on the
    10x corpus — and min over a multiset equals min over its distinct
    values), so the signature runs as a vectorized ``mapInArrow`` kernel
    (guide §4.2) that md5-hashes each partition's DISTINCT shingles once
    and reduces per-document minima over integer ranks: per-instance cost
    drops from 16 md5 calls (~16 µs) to a handful of vectorized integer
    ops. No extra shuffle — the kernel rides the same spread partitioning,
    one output row per input row. (A join-back-the-hash-table formulation
    was measured 4x SLOWER than inline: carrying 16 hex digests per
    exploded instance through a join materializes ~0.5 KB/instance — the
    kernel keeps instances as 8-byte keys and only ever materializes
    digests per distinct shingle.) :func:`_minhash_signature_md5_expr` is
    the column-algebra reference the kernel is pinned against.
    """
    # spread a low-parallelism scan BEFORE the heavy per-row compute so the
    # work uses every core (plans/layout.py — no-op at scale)
    src = spread(df.select(F.col(id_col).alias("id"), F.col(text_col)), "id")
    # JVM lowers/coalesces ONCE (locale-exact with every other lower() in
    # the engine); the kernel sees ready-to-shingle text
    lowered = src.select(
        "id", F.expr(f"lower(coalesce({text_col}, ''))").alias("__t")
    )
    return lowered.mapInArrow(
        _md5_minhash_kernel(num_hashes, shingle_k),
        schema="id {}, sig array<string>".format(df.schema[id_col].dataType.simpleString()),
    )


def _minhash_signature_md5_expr(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 16,
    shingle_k: int = 5,
) -> DataFrame:
    """Pure-column-algebra md5 MinHash — the reference formulation the
    kernel is parity-pinned against (tests/test_minhash_kernel.py). 16 md5
    calls per shingle INSTANCE, so only for verification, not production."""
    per_seed = [
        f"transform(__sh, s -> md5(concat(s, '#', '{j}')))" for j in range(num_hashes)
    ]
    sig = F.array(*[F.array_min(F.expr(e)) for e in per_seed])
    src = spread(df.select(F.col(id_col).alias("id"), F.col(text_col)), "id")
    return (
        src.select("id", _shingles(text_col, shingle_k).alias("__sh"))
        .select("id", sig.alias("sig"))
    )


def _md5_minhash_kernel(num_hashes: int, k: int):
    """Arrow kernel: (id, __t lowered text) -> (id, sig array<string>).

    ASCII fast path (functions/md5_grams.py): md5 each DISTINCT shingle of
    the batch under the ``num_hashes`` seeds, rank the digests per seed,
    take per-document min-rank via ``np.minimum.reduceat`` and map ranks
    back to digests. Non-ASCII batches take a per-document dict-cached slow
    path (same shingling rule on CHARACTERS, as substring() slices chars).
    """
    suffixes = [f"#{j}".encode() for j in range(num_hashes)]

    def kernel(batches):
        import hashlib

        import numpy as np
        import pyarrow as pa

        from nfl_feature_store_spark.functions import md5_grams

        for b in batches:
            n = b.num_rows
            if n == 0:
                continue
            txt = b.column("__t")
            buf, offs = md5_grams.text_bytes(txt)
            if md5_grams.fast_path_ok(buf, k):
                keys, starts = md5_grams.gram_keys(buf, offs, k)
                inv, dig = md5_grams.distinct_digests(keys, k, suffixes)
                sig = np.empty((n, num_hashes), dtype="S32")
                for j in range(num_hashes):
                    rank, ordered = md5_grams.digest_ranks(dig[:, j])
                    sig[:, j] = ordered[np.minimum.reduceat(rank[inv], starts)]
                flat = sig.reshape(-1)
            else:
                # slow path: per-doc char-shingling with a task-local memo
                memo: dict[str, list[str]] = {}
                flat = []
                for d in range(n):
                    t = txt[d].as_py()
                    nw = max(len(t) - (k - 1), 1)
                    grams = {t[i : i + k] for i in range(nw)}
                    per_seed = [None] * num_hashes
                    for g in grams:
                        hs = memo.get(g)
                        if hs is None:
                            gb = g.encode("utf-8")
                            hs = [hashlib.md5(gb + s).hexdigest() for s in suffixes]
                            memo[g] = hs
                        for j in range(num_hashes):
                            if per_seed[j] is None or hs[j] < per_seed[j]:
                                per_seed[j] = hs[j]
                    flat.extend(per_seed)
            sig_arr = md5_grams.string_lists(flat, np.full(n, num_hashes))
            yield pa.RecordBatch.from_arrays([b.column("id"), sig_arr], ["id", "sig"])

    return kernel


def lsh_bands(sigs: DataFrame, num_hashes: int, bands: int) -> DataFrame:
    """(id, sig, band, bucket): each MinHash signature once per LSH band. A
    band's bucket is the md5 of its hex minhashes joined by '|' — fixed-width
    hex holds no '|', so the key is unambiguous and portable."""
    rows = num_hashes // bands
    band_cols = [
        F.struct(
            F.lit(b).alias("band"),
            F.md5(F.array_join(F.slice("sig", b * rows + 1, rows), "|")).alias("bucket"),
        )
        for b in range(bands)
    ]
    return sigs.select("id", "sig", F.explode(F.array(*band_cols)).alias("bb")).select(
        "id", "sig", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket")
    )


def matching_minhashes(a: Column, b: Column) -> Column:
    """Number of positions at which two signatures agree."""
    return F.size(F.arrays_zip(a, b)) - F.size(
        F.filter(F.arrays_zip(a.alias("x"), b.alias("y")), lambda s: s["x"] != s["y"])
    )


def minhash_lsh_candidates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_k: int = 5,
) -> DataFrame:
    """Near-dup candidate pairs via banded LSH over MinHash signatures.

    Documents agreeing on ALL rows of any band land in the same bucket;
    the self-join happens per bucket (groupBy bucket → pair expansion), so
    cost is sum over buckets of |bucket|^2 — bounded by hot-bucket size, and
    salted AQE handles stragglers. Returns distinct (id_a < id_b) pairs with
    the fraction of matching minhashes as an estimated Jaccard.
    """
    exploded = lsh_bands(
        minhash_signature(df, id_col, text_col, num_hashes, shingle_k), num_hashes, bands
    )
    a = exploded.alias("a")
    b = exploded.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            matching_minhashes(F.col("a.sig"), F.col("b.sig")).alias("n_match"),
        )
        .distinct()
    )
    return pairs.select(
        "id_a", "id_b", (F.col("n_match") / F.lit(num_hashes)).alias("est_jaccard")
    )


def simhash(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """64-bit SimHash per document: whitespace tokens vote per bit position
    of their 64-bit hash; fingerprint bit = sign of the vote sum.

    Pure column algebra (aggregate over the token array with a 64-element
    vote vector) — no explode, no shuffle, no UDF. The token hash is the
    portable md5-low-64 family (module docstring): bit extraction
    ``(h >> i) & 1`` is unaffected by the signed fold because arithmetic vs
    logical shift only differ in the discarded high bits.
    """
    # NULL text coalesces to '' (0 tokens, all-zero votes -> fingerprint 0,
    # n_tokens 0) so Spark and the DuckDB oracle agree on NULL semantics
    # (round-4 advice: previously NULL text yielded NULL simhash64 here but
    # 0 in the coalescing oracle)
    df = spread(df.select(F.col(id_col), F.col(text_col)), id_col)
    src = f"coalesce({text_col}, '')"
    tokens = F.expr(f"filter(split(lower({src}), '\\\\s+'), t -> t != '')")
    votes = F.expr(
        """
        aggregate(
          transform(filter(split(lower(SRC), '\\\\s+'), t -> t != ''), t -> TOKHASH),
          array_repeat(0L, 64),
          (acc, h) -> zip_with(acc, sequence(0, 63),
                               (a, i) -> a + CASE WHEN (shiftright(h, i) & 1L) = 1L THEN 1L ELSE -1L END)
        )
        """.replace("SRC", src).replace("TOKHASH", MD5_LOWER64_SQL)
    )
    bits = F.expr(
        "aggregate(zip_with(__votes, sequence(0, 63), (v, i) -> CASE WHEN v > 0 THEN shiftleft(1L, cast(i AS int)) ELSE 0L END),"
        " 0L, (acc, x) -> acc | x)"
    )
    out = df.select(F.col(id_col), tokens.alias("__toks"), votes.alias("__votes"))
    return out.select(F.col(id_col), bits.alias("simhash64"), F.size("__toks").alias("n_tokens"))


def simhash_near_pairs(
    fingerprints: DataFrame,
    id_col: str = "doc_id",
    max_hamming: int = 3,
    prefix_bits: int = 16,
    n_tables: int = 4,
) -> DataFrame:
    """Candidate near-dup pairs among SimHash fingerprints, multi-table probed.

    A single prefix table misses any near-dup whose differing bit falls inside
    the prefix window, so ``n_tables`` rotated views of the fingerprint are
    probed: table *t* buckets on the top ``prefix_bits`` of the fingerprint
    rotated left by ``t * (64 // n_tables)``. The windows are then disjoint
    (``prefix_bits <= 64 // n_tables`` enforced), so a pair at Hamming
    distance *h* can spoil at most *h* windows — every pair with
    ``h < n_tables`` is GUARANTEED to share a bucket in some table. Candidates
    are unioned across tables and deduplicated; each table's self-join stays a
    bucketed equi-join (cost Σ|bucket|² per table, never all-pairs).
    """
    step = 64 // n_tables
    if prefix_bits > step:
        raise ValueError(
            f"prefix_bits={prefix_bits} > 64//n_tables={step}: rotated prefix windows "
            f"would overlap and void the hamming<{n_tables} candidate guarantee"
        )

    def bucket(t: int) -> F.Column:
        s = t * step
        fp = F.col("simhash64")
        rot = fp if s == 0 else F.shiftleft(fp, s).bitwiseOR(F.shiftrightunsigned(fp, 64 - s))
        return F.shiftrightunsigned(rot, 64 - prefix_bits)

    tables = F.array(
        *[F.struct(F.lit(t).alias("tbl"), bucket(t).alias("bkt")) for t in range(n_tables)]
    )
    probed = fingerprints.select(
        F.col(id_col), F.col("simhash64"), F.explode(tables).alias("p")
    ).select(id_col, "simhash64", F.col("p.tbl").alias("tbl"), F.col("p.bkt").alias("bkt"))
    a = probed.alias("a")
    b = probed.alias("b")
    ham = F.bit_count(F.col("a.simhash64").bitwiseXOR(F.col("b.simhash64")))
    return (
        a.join(
            b,
            (F.col("a.tbl") == F.col("b.tbl"))
            & (F.col("a.bkt") == F.col("b.bkt"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            ham.alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )
