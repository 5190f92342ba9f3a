"""Text-analysis column expressions for large-scale training-data pipelines.

All pure ``pyspark.sql.functions`` column algebra (JVM-side, codegen'd,
SQL-oracle-able) — no UDFs. These extend the reference's scalar-function
surface (SURVEY.md §2.8: ratio guards, linear scores, conditional fills) to
the document/text domain.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# tiny distinctive-stopword inventories for the n-gram/heuristic language ID
_LANG_MARKERS = {
    "en": ["the", "and", "of", "is", "that"],
    "es": ["el", "la", "los", "que", "y"],
    "fr": ["le", "les", "des", "est", "une"],
    "de": ["der", "die", "und", "ist", "nicht"],
}


def token_count_expr(col: Column | str) -> Column:
    """Whitespace token count; 0 for empty/blank text."""
    c = F.coalesce(F.col(col) if isinstance(col, str) else col, F.lit(""))
    return (
        F.when(F.length(F.trim(c)) == 0, F.lit(0))
        .otherwise(F.size(F.split(F.trim(c), r"\s+")))
        .cast("int")
    )


def _marker_hits(c: Column, words: list[str]) -> Column:
    """Count marker-word occurrences via regexp_count on word boundaries."""
    pat = r"\b(" + "|".join(words) + r")\b"
    return F.regexp_count(F.lower(c), F.lit(pat))


def lang_id_expr(col: Column | str) -> Column:
    """Heuristic language ID: argmax of distinctive-stopword hit counts.

    Deterministic tie-break: language code ascending; 'und' when no marker
    hits at all.
    """
    c = F.coalesce(F.col(col) if isinstance(col, str) else col, F.lit(""))
    entries = sorted(_LANG_MARKERS.items())
    # bind all marker counts as ONE struct lambda variable: the when-chain
    # below references every score several times, and a non-lambda-variable
    # subexpression inside an expression tree is re-evaluated per reference
    # — binding makes each regexp_count run exactly once per row
    scores = F.struct(*[_marker_hits(c, words).alias(lang) for lang, words in entries])

    def pick(s):
        best = F.lit(entries[0][0])
        best_score = s[entries[0][0]]
        for lang, _ in entries[1:]:
            cond = s[lang] > best_score
            best = F.when(cond, F.lit(lang)).otherwise(best)
            best_score = F.when(cond, s[lang]).otherwise(best_score)
        return F.when(best_score > 0, best).otherwise(F.lit("und"))

    return F.element_at(F.transform(F.array(scores), pick), 1)


def quality_score_exprs(col: Column | str) -> dict[str, Column]:
    """Document-quality signals: length, punctuation ratio, stopword ratio,
    alpha ratio, and a composite [0,1] score (linear form like the
    reference's fantasy-points formula, src/pumps/player_game.py:538-548)."""
    c = F.coalesce(F.col(col) if isinstance(col, str) else col, F.lit(""))
    n = F.length(c).cast("double")
    tokens = token_count_expr(c).cast("double")
    punct = F.regexp_count(c, F.lit(r"[\.,;:!\?]")).cast("double")
    alpha = F.regexp_count(c, F.lit(r"[A-Za-z]")).cast("double")
    stop = _marker_hits(c, _LANG_MARKERS["en"]).cast("double")
    safe = F.when(n > 0, n).otherwise(F.lit(None))
    punct_ratio = F.coalesce(punct / safe, F.lit(0.0))
    alpha_ratio = F.coalesce(alpha / safe, F.lit(0.0))
    stop_ratio = F.coalesce(stop / F.when(tokens > 0, tokens), F.lit(0.0))
    composite = F.least(
        F.lit(1.0),
        F.greatest(
            F.lit(0.0),
            0.4 * alpha_ratio
            + 0.4 * F.least(stop_ratio * 5.0, F.lit(1.0))
            + 0.2 * (1.0 - F.least(punct_ratio * 10.0, F.lit(1.0))),
        ),
    )
    return {
        "n_chars_q": n.cast("long"),
        "n_tokens": tokens.cast("long"),
        "punct_ratio": punct_ratio,
        "alpha_ratio": alpha_ratio,
        "stopword_ratio": stop_ratio,
        "quality_score": composite,
    }


# GPT-2-style pretokenizer alternation, restricted to constructs both Java
# regex (Spark) and RE2 (DuckDB) support — no lookahead, so trailing-space
# handling is folded into the whitespace branch, and whitespace is an
# EXPLICIT class (Java's \s includes \x0B, RE2's does not — an engine-parity
# trap). Counting matches of this alternation approximates BPE pretoken
# counts without a vocab.
_WS = r" \t\n\r\f\x0B"
BPE_ISH_PATTERN = (
    r"'(?:s|t|re|ve|m|ll|d)| ?\p{L}+| ?\p{N}+| ?[^" + _WS + r"\p{L}\p{N}]+|[" + _WS + r"]+"
)


def bpe_token_count_expr(col: Column | str) -> Column:
    """BPE-ish token count: matches of the GPT-2 pretokenizer alternation
    (vocab-free upper bound on real BPE token counts; the merge step only
    ever reduces counts). Pure regexp_count — engine-portable, so the q43
    oracle runs the SAME pattern in DuckDB."""
    c = F.coalesce(F.col(col) if isinstance(col, str) else col, F.lit(""))
    return F.regexp_count(c, F.lit(BPE_ISH_PATTERN)).cast("int")


def winnow_fingerprints(col: Column | str, k: int = 8, w: int = 4) -> Column:
    """Winnowing document fingerprints (Schleimer et al.'s rolling-hash
    selection): hash every k-gram, take the min hash of each window of ``w``
    consecutive k-gram hashes, dedupe. Two documents sharing a substring of
    length >= k + w - 1 are guaranteed to share a fingerprint — the standard
    local-similarity sketch for plagiarism/near-dup detection.

    Pure higher-order column algebra (transform + slice + array_min), no
    explode, no UDF. Grams hash with md5 and the result is array<string>
    of hex digests: lexicographic min == unsigned numeric min, identical in
    DuckDB, so the operator has a full value-hash oracle (q44; module
    docstring of operators/dedup.py). This is the reference formulation the
    :func:`winnow_fingerprints_table` kernel is parity-pinned against.

    Evaluation-count discipline (round-6): a non-lambda-variable
    subexpression referenced inside a higher-order lambda is RE-EVALUATED
    per element — the original formulation referenced the whole gram-hash
    array from the window lambda and the lowered text from the gram lambda,
    making the fingerprint O(len²) hash calls per document (measured: q44
    ran minutes at sf1.0 where document text is long). Each stage is
    therefore bound as a one-element-array lambda variable so the text is
    lowered once and every gram is hashed once; cost is back to
    O(len·w) array ops + O(len) hash calls."""
    raw = F.coalesce(F.col(col) if isinstance(col, str) else col, F.lit(""))

    def windows_of(h):  # h: bound gram-hash array (evaluated once)
        n_windows = F.greatest(F.size(h) - F.lit(w - 1), F.lit(1))
        return F.transform(
            F.sequence(F.lit(1), n_windows), lambda i: F.array_min(F.slice(h, i, w))
        )

    def mins_of(t):  # t: bound lowered text (evaluated once)
        n_grams = F.greatest(F.length(t) - F.lit(k - 1), F.lit(1))
        hashes = F.transform(
            F.sequence(F.lit(1), n_grams), lambda i: F.md5(t.substr(i, F.lit(k)))
        )
        return F.element_at(F.transform(F.array(hashes), windows_of), 1)

    mins = F.element_at(F.transform(F.array(F.lower(raw)), mins_of), 1)
    return F.array_distinct(mins)


def winnow_fingerprints_table(
    df,
    id_col: str,
    text_col: str,
    k: int = 8,
    w: int = 4,
    out_col: str = "fps",
):
    """(id, fps) — table-level winnowing as a vectorized md5 kernel.

    The column-expression form (:func:`winnow_fingerprints`) pays one
    interpreted md5 call per k-gram INSTANCE plus a per-window array
    allocation; on long documents that dominated q44 (measured 14.5s for
    5k docs x ~4.8k chars). This runs a ``mapInArrow`` kernel instead on
    the md5 gram core the MinHash kernel shares (functions/md5_grams.py):
    md5 only the DISTINCT grams per batch, take window minima over integer
    digest-ranks with shifted ``np.minimum`` chains, and dedupe per
    document in first-occurrence order — exactly ``array_distinct``'s
    order, so outputs are identical element-for-element (parity-pinned in
    tests/test_minhash_kernel.py). Non-ASCII batches or k > 8 take a
    memoized per-document slow path with the same semantics.
    """
    from pyspark.sql import functions as F

    from nfl_feature_store_spark.plans.layout import spread

    src = spread(df.select(F.col(id_col), F.col(text_col)), id_col)
    lowered = src.select(
        F.col(id_col).alias("id"), F.expr(f"lower(coalesce({text_col}, ''))").alias("__t")
    )
    id_type = df.schema[id_col].dataType.simpleString()
    out = lowered.mapInArrow(
        _winnow_md5_kernel(k, w),
        schema=f"id {id_type}, fps array<string>",
    )
    return out.withColumnRenamed("id", id_col).withColumnRenamed("fps", out_col)


def _winnow_md5_kernel(k: int, w: int):
    """Arrow kernel: (id, __t lowered text) -> (id, fps array<string>)."""

    def _slow_doc(t: str, memo: dict, md5) -> list[str]:
        ng = max(len(t) - (k - 1), 1)
        hs = []
        for i in range(ng):
            g = t[i : i + k]
            h = memo.get(g)
            if h is None:
                h = md5(g.encode("utf-8")).hexdigest()
                memo[g] = h
            hs.append(h)
        nw = max(ng - (w - 1), 1)
        seen: dict[str, None] = {}
        for j in range(nw):
            seen.setdefault(min(hs[j : j + w]))
        return list(seen)

    def kernel(batches):
        import hashlib

        import numpy as np
        import pyarrow as pa

        from nfl_feature_store_spark.functions import md5_grams

        md5 = hashlib.md5
        memo: dict[str, str] = {}
        for b in batches:
            n = b.num_rows
            if n == 0:
                continue
            txt = b.column("__t")
            buf, offs = md5_grams.text_bytes(txt)
            if md5_grams.fast_path_ok(buf, k):
                keys, starts = md5_grams.gram_keys(buf, offs, k)
                inv, dig = md5_grams.distinct_digests(keys, k, [b""])
                rank, ordered = md5_grams.digest_ranks(dig[:, 0])
                fr = rank[inv]
                # window minima over w consecutive gram ranks, each window
                # clipped to its own document's grams
                grams = np.diff(starts, append=len(fr))
                doc = np.repeat(np.arange(n), grams)
                wm = fr.copy()
                for s in range(1, w):
                    nxt = np.where(doc[s:] == doc[:-s], fr[s:], len(ordered))
                    np.minimum(wm[:-s], nxt, out=wm[:-s])
                # a document's windows start at its first max(grams-(w-1), 1) grams
                nw = np.maximum(grams - (w - 1), 1)
                mins = wm[md5_grams.spans(starts, nw)]
                wdoc = np.repeat(np.arange(n), nw)
                # dedupe per document in first-occurrence order
                _, first = np.unique(wdoc * len(ordered) + mins, return_index=True)
                first.sort()
                flat, counts = ordered[mins[first]], np.bincount(wdoc[first], minlength=n)
            else:
                flat, counts = [], np.empty(n, dtype=np.int64)
                for d in range(n):
                    fps = _slow_doc(txt[d].as_py(), memo, md5)
                    counts[d] = len(fps)
                    flat.extend(fps)
            fp_arr = md5_grams.string_lists(flat, counts)
            yield pa.RecordBatch.from_arrays([b.column("id"), fp_arr], ["id", "fps"])

    return kernel


def doc_fingerprint(col: Column | str) -> Column:
    """Deterministic document fingerprint: md5 of whitespace-normalized,
    lowercased text. Engine-portable (identical in DuckDB) and stable across
    partitionings — the dedup key for exact near-identical collapse."""
    c = F.coalesce(F.col(col) if isinstance(col, str) else col, F.lit(""))
    return F.md5(F.regexp_replace(F.lower(F.trim(c)), r"\s+", " "))
