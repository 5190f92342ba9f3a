"""The md5 k-gram core shared by the two vectorized text kernels: MinHash
signatures (operators/dedup.py) and winnowing fingerprints
(functions/text.py).

Both kernels read lowered, NULL-coalesced text and split each document into
k-character grams exactly as their column expressions do:
``greatest(length(t) - (k - 1), 1)`` grams starting at every character, so
a text shorter than k (the empty one too) is its own single gram. Each gram
is hashed as ``md5(gram || suffix)`` and compared as its lowercase hex
digest, which orders like Spark's and DuckDB's string comparison.

Gram instances repeat massively across documents, so the ASCII fast path
hashes each batch's DISTINCT grams once: every gram is packed into a
uint64 key (k <= 8 bytes), ``np.unique`` finds the distinct keys, and the
kernels reduce over integer digest ranks instead of strings. Text with a
non-ASCII byte, or k > 8, takes each kernel's per-document slow path.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pyarrow as pa

#: a full gram is k ASCII bytes (< 0x80); a short gram of L < k bytes
#: carries this byte at position L, so the two never share a key
_SHORT_MARK = 0x80


def text_bytes(txt: pa.Array) -> tuple[np.ndarray, np.ndarray]:
    """``(buf, offs)``: the UTF-8 bytes of a string array, zero-padded by 8
    bytes so a gram read may run past the last document, and its ``n + 1``
    offsets into ``buf``."""
    txt = txt.cast(pa.large_string())
    offs = np.frombuffer(txt.buffers()[1], dtype=np.int64)[txt.offset : txt.offset + len(txt) + 1]
    data = np.frombuffer(txt.buffers()[2] or b"", dtype=np.uint8)
    buf = np.zeros(offs[-1] - offs[0] + 8, dtype=np.uint8)
    buf[:-8] = data[offs[0] : offs[-1]]
    return buf, offs - offs[0]


def fast_path_ok(buf: np.ndarray, k: int) -> bool:
    """Whether every gram packs into a uint64 key: ASCII text and k <= 8."""
    return k <= 8 and bool((buf < 0x80).all())


def spans(starts: np.ndarray, counts: np.ndarray) -> np.ndarray:
    """The index ranges ``starts[d] + arange(counts[d])``, concatenated."""
    begin = np.concatenate(([0], np.cumsum(counts)[:-1]))
    return np.repeat(starts - begin, counts) + np.arange(int(counts.sum()))


def gram_keys(buf: np.ndarray, offs: np.ndarray, k: int) -> tuple[np.ndarray, np.ndarray]:
    """``(keys, starts)``: every gram of every document as a uint64 key
    (byte i at bits 8i..8i+7), documents in order, and the index of each
    document's first gram in ``keys``."""
    lens = np.diff(offs)
    counts = np.maximum(lens - (k - 1), 1)
    pos = spans(offs[:-1], counts)
    starts = np.concatenate(([0], np.cumsum(counts)[:-1]))
    keys = np.zeros(len(pos), dtype=np.uint64)
    for i in range(k):
        keys |= buf[pos + i].astype(np.uint64) << np.uint64(8 * i)
    short = np.nonzero(lens < k)[0]
    if short.size:
        at, bits = starts[short], (8 * lens[short]).astype(np.uint64)
        one = np.uint64(1)
        keys[at] = (keys[at] & ((one << bits) - one)) | (np.uint64(_SHORT_MARK) << bits)
    return keys, starts


def distinct_digests(
    keys: np.ndarray, k: int, suffixes: list[bytes]
) -> tuple[np.ndarray, np.ndarray]:
    """``(inv, dig)``: ``dig[u, j]`` is the hex md5 of distinct gram ``u``
    followed by ``suffixes[j]``, and ``inv`` maps each key to its row."""
    uniq, inv = np.unique(keys, return_inverse=True)
    mark = bytes([_SHORT_MARK])
    grams = [row.tobytes().partition(mark)[0] for row in uniq[:, None].view(np.uint8)[:, :k]]
    md5 = hashlib.md5
    hexes = [md5(g + s).hexdigest() for g in grams for s in suffixes]
    return inv, np.array(hexes, dtype="S32").reshape(len(grams), len(suffixes))


def digest_ranks(dig: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """``(rank, ordered)``: each digest's position in ascending order, and
    the digests in that order, so ``ordered[rank] == dig``."""
    order = np.argsort(dig, kind="stable")
    rank = np.empty(len(dig), dtype=np.int64)
    rank[order] = np.arange(len(dig))
    return rank, dig[order]


def string_lists(digests, counts: np.ndarray) -> pa.ListArray:
    """One ``list<string>`` per document: ``counts[d]`` consecutive hex
    ``digests`` (``str`` or ``S32``) for document ``d``. Every digest is 32
    bytes, so the string values are the array's own buffer."""
    digests = np.ascontiguousarray(digests, dtype="S32")
    n = len(digests)
    values = pa.StringArray.from_buffers(
        n, pa.py_buffer(np.arange(0, 32 * n + 1, 32, dtype=np.int32)), pa.py_buffer(digests)
    )
    offsets = np.concatenate(([0], np.cumsum(counts)))
    return pa.ListArray.from_arrays(pa.array(offsets, type=pa.int32()), values)
