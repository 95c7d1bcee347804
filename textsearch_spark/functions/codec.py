"""Delta + variable-byte posting-block codec with block-max metadata.

The reference keeps postings as in-memory docID-sorted adjacency lists
(src/bm25invfile.jl:61-71,133-139). At 10^12-file scale the north rule
requires compressed docID runs: this codec packs a docID-sorted block of
postings into a binary blob —

    [n | len(doc_stream) | len(tf_stream)]  (vbyte header)
    doc_stream: vbyte(delta(doc_ids))       (first value absolute)
    tf_stream:  vbyte(tf)
    dl_stream:  vbyte(doclen)               (doc length stored inline so
                                             scoring never needs a random
                                             doclens lookup at query time)

All encode/decode paths are vectorized numpy over Arrow batches — no
per-row Python.
"""

from __future__ import annotations

import numpy as np


def vbyte_encode(values: np.ndarray) -> bytes:
    """Little-endian 7-bit varint encoding; continuation bit 0x80 on all
    but the last byte of each value. Vectorized over the whole array."""
    v = np.ascontiguousarray(values, dtype=np.uint64)
    n = len(v)
    if n == 0:
        return b""
    nb = np.ones(n, dtype=np.int64)
    t = v >> np.uint64(7)
    while t.any():
        nb += (t > 0).astype(np.int64)
        t >>= np.uint64(7)
    ends = np.cumsum(nb)
    starts = ends - nb
    out = np.zeros(int(ends[-1]), dtype=np.uint8)
    rem = v.copy()
    alive = np.arange(n)
    k = 0
    while len(alive):
        idx = starts[alive] + k
        byte = (rem[alive] & np.uint64(0x7F)).astype(np.uint8)
        last = k == (nb[alive] - 1)
        out[idx] = byte | np.where(last, 0, 0x80).astype(np.uint8)
        rem[alive] >>= np.uint64(7)
        alive = alive[~last]
        k += 1
    return out.tobytes()


def _assemble(b: np.ndarray, ends: np.ndarray) -> np.ndarray:
    """Values of the varints in ``b`` whose last bytes sit at ``ends``
    (ascending; each varint starts one byte after the previous end).
    The one varint decoder: every decode path calls it."""
    n = len(ends)
    if n == 0:
        return np.empty(0, dtype=np.uint64)
    starts = np.empty(n, dtype=np.int64)
    starts[0] = 0
    starts[1:] = ends[:-1] + 1
    lens = ends - starts + 1
    vals = np.zeros(n, dtype=np.uint64)
    alive = np.arange(n)
    k = 0
    while len(alive):
        vals[alive] |= (b[starts[alive] + k] & 0x7F).astype(np.uint64) << np.uint64(7 * k)
        k += 1
        alive = alive[lens[alive] > k]
    return vals


def vbyte_decode(buf: bytes, offset: int = 0, count: int | None = None,
                 end: int | None = None):
    """Decode varints from ``buf[offset:end]``; returns
    (values, end_offset). When ``count`` is given, decodes exactly that
    many values and raises ``ValueError`` if the stream holds fewer —
    a truncated/corrupt stream must fail loudly, not return short
    arrays that silently mis-score downstream."""
    n_bytes = -1 if end is None else max(0, end - offset)
    b = np.frombuffer(buf, dtype=np.uint8, offset=offset, count=n_bytes)
    ends = np.flatnonzero(b < 0x80)
    if count is not None:
        ends = ends[:count]
        if len(ends) != count:
            raise ValueError(
                f"truncated varint stream: expected {count} values, "
                f"found {len(ends)} (blob corrupt or cut short)")
    if len(ends) == 0:
        return np.empty(0, dtype=np.uint64), offset
    return _assemble(b, ends), offset + int(ends[-1]) + 1


def encode_block(doc_ids: np.ndarray, tfs: np.ndarray, doclens: np.ndarray) -> bytes:
    """Encode one docID-sorted posting block (n == 0 is valid and
    round-trips to empty arrays)."""
    doc_ids = np.asarray(doc_ids, dtype=np.uint64)
    n = len(doc_ids)
    # diff with prepend=0 already yields deltas[0] == doc_ids[0], and
    # handles the empty block (the old explicit deltas[0] assignment
    # crashed on n == 0)
    deltas = np.diff(doc_ids, prepend=np.uint64(0))
    doc_stream = vbyte_encode(deltas)
    tf_stream = vbyte_encode(np.asarray(tfs, dtype=np.uint64))
    dl_stream = vbyte_encode(np.asarray(doclens, dtype=np.uint64))
    header = vbyte_encode(np.array([n, len(doc_stream), len(tf_stream)], dtype=np.uint64))
    return header + doc_stream + tf_stream + dl_stream


def decode_blocks(blobs):
    """Decode a sequence of blobs in ONE vectorized pass.

    Every blob is 3 + 3n back-to-back varints (header, then the doc,
    tf and doclen streams), so one continuation-bit scan over the
    joined buffer decodes all of them: per-blob varint offsets come
    from ``searchsorted`` and doc ids from one segmented cumsum — no
    per-blob Python work beyond the ``join``.

    Returns ``(seg_start, n, doc_ids, tfs, doclens)``: blob ``i``'s
    postings are ``doc_ids[seg_start[i]:seg_start[i] + n[i]]`` (same
    for ``tfs``/``doclens``, uint64). Raises ``ValueError`` when a blob
    is cut mid-varint, or its varint count or doc/tf stream byte
    lengths disagree with its header — a corrupt blob must fail loudly,
    never return short arrays that silently mis-score."""
    nb = len(blobs)
    if nb == 0:
        empty = np.empty(0, dtype=np.uint64)
        return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.int64), empty, empty, empty
    lens = np.fromiter(map(len, blobs), dtype=np.int64, count=nb)
    buf = np.frombuffer(b"".join(blobs), dtype=np.uint8)
    blob_end = np.cumsum(lens)
    blob_start = blob_end - lens
    # a blob whose last byte continues would fuse its tail varint with
    # the next blob's first one; with every last byte a terminator, the
    # varints of blob i are exactly those ending inside its byte range
    if (lens == 0).any() or (buf[blob_end - 1] >= 0x80).any():
        raise ValueError("blob empty or cut mid-varint (corrupt or truncated)")
    ends = np.flatnonzero(buf < 0x80)
    vals = _assemble(buf, ends)
    first = np.searchsorted(ends, blob_start)
    count = np.searchsorted(ends, blob_end) - first
    if (count < 3).any():
        raise ValueError("blob shorter than its 3-varint header (corrupt or truncated)")
    n_u, count_u = vals[first], count.astype(np.uint64)
    # the first test keeps 3n + 3 from wrapping on a corrupt huge n
    bad = (n_u > count_u) | (np.uint64(3) * n_u + np.uint64(3) != count_u)
    if bad.any():
        i = int(np.flatnonzero(bad)[0])
        raise ValueError(
            f"blob {i}: header says {int(n_u[i])} postings but it holds "
            f"{int(count[i])} varints (corrupt or truncated)")
    n = n_u.astype(np.int64)
    hdr_end = ends[first + 2]
    doc_end = ends[first + 2 + n]
    if ((vals[first + 1] != (doc_end - hdr_end).astype(np.uint64)).any()
            or (vals[first + 2] != (ends[first + 2 + 2 * n] - doc_end).astype(np.uint64)).any()):
        raise ValueError("blob stream lengths disagree with its header (corrupt)")
    seg_start = np.cumsum(n) - n
    total = int(n.sum())
    # posting j of blob i: its delta is varint first[i] + 3 + (j - seg_start[i])
    n_rep = np.repeat(n, n)
    idx = np.arange(total, dtype=np.int64) + np.repeat(first + 3 - seg_start, n)
    deltas = vals[idx]
    tfs = vals[idx + n_rep]
    doclens = vals[idx + 2 * n_rep]
    # segmented cumsum: running total minus the total before the blob
    # (uint64 wraparound cancels in the subtraction)
    cs = np.cumsum(deltas, dtype=np.uint64)
    before = np.concatenate((np.zeros(1, dtype=np.uint64), cs))[seg_start]
    doc_ids = cs - np.repeat(before, n)
    return seg_start, n, doc_ids, tfs, doclens


def decode_block(blob: bytes):
    """Returns (doc_ids, tfs, doclens) as uint64 arrays — one blob
    through :func:`decode_blocks`. Raises ``ValueError`` on a
    truncated/corrupt blob."""
    _, _, doc_ids, tfs, doclens = decode_blocks([blob])
    return doc_ids, tfs, doclens
