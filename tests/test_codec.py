"""Codec roundtrip properties (pure numpy, no Spark)."""

import itertools

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from textsearch_spark.functions.codec import (
    decode_block,
    decode_blocks,
    encode_block,
    vbyte_decode,
    vbyte_encode,
)


@given(st.lists(st.integers(min_value=0, max_value=2**56 - 1), max_size=300))
@settings(max_examples=200, deadline=None)
def test_vbyte_roundtrip(values):
    buf = vbyte_encode(np.array(values, dtype=np.uint64))
    out, end = vbyte_decode(buf)
    assert list(out) == values
    assert end == len(buf)


def test_vbyte_empty():
    assert vbyte_encode(np.array([], dtype=np.uint64)) == b""
    out, end = vbyte_decode(b"")
    assert len(out) == 0 and end == 0


@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=2**40),
            st.integers(min_value=1, max_value=100_000),
            st.integers(min_value=1, max_value=1_000_000),
        ),
        min_size=1,
        max_size=500,
        unique_by=lambda t: t[0],
    )
)
@settings(max_examples=100, deadline=None)
def test_block_roundtrip(entries):
    entries.sort()
    docs = np.array([e[0] for e in entries], dtype=np.uint64)
    tfs = np.array([e[1] for e in entries], dtype=np.uint64)
    dls = np.array([e[2] for e in entries], dtype=np.uint64)
    blob = encode_block(docs, tfs, dls)
    d, t, l = decode_block(blob)
    assert (d == docs).all() and (t == tfs).all() and (l == dls).all()


def test_block_compresses_dense_runs():
    docs = np.arange(100_000, 104_096, dtype=np.uint64)
    tfs = np.ones(len(docs), dtype=np.uint64)
    dls = np.full(len(docs), 120, dtype=np.uint64)
    blob = encode_block(docs, tfs, dls)
    # dense run: 1-byte deltas + 1-byte tf + 1-byte doclen ~= 3 bytes/post
    assert len(blob) < len(docs) * 4


def _ref_varints(buf: bytes):
    """Byte-at-a-time varint reader, independent of the codec's
    vectorized decoder: [(value, offset just past it)]."""
    out, v, shift = [], 0, 0
    for pos, byte in enumerate(buf):
        v |= (byte & 0x7F) << shift
        shift += 7
        if byte < 0x80:
            out.append((v, pos + 1))
            v, shift = 0, 0
    return out


def _ref_decode(blob: bytes):
    """Per-blob reference decode: (doc ids, tfs, doclens) lists."""
    vals = [v for v, _ in _ref_varints(blob)]
    n = vals[0]
    body = vals[3:]
    assert len(body) == 3 * n
    return list(itertools.accumulate(body[:n])), body[n:2 * n], body[2 * n:]


# doc ids up to just under 2**64 and tf/doclen values up to 2**63 + a
# little exercise the 9- and 10-byte varints; sizes mix n=0, n=1 and
# larger blocks in one batch
_big = st.one_of(st.integers(0, 300), st.integers(2**63 - 1000, 2**63 + 1000))
_block = st.lists(
    st.tuples(st.one_of(st.integers(0, 5000), st.integers(2**63 - 5000, 2**64 - 1)),
              _big, _big),
    max_size=40, unique_by=lambda t: t[0])


def _encode(entries):
    entries = sorted(entries)
    cols = [np.array([e[i] for e in entries], dtype=np.uint64) for i in range(3)]
    return encode_block(*cols)


@given(st.lists(_block, max_size=12))
@settings(max_examples=200, deadline=None)
def test_decode_blocks_matches_per_blob_reference(blocks):
    blobs = [_encode(b) for b in blocks]
    seg, n, docs, tfs, dls = decode_blocks(blobs)
    assert len(seg) == len(n) == len(blobs)
    assert len(docs) == len(tfs) == len(dls) == sum(len(b) for b in blocks)
    for i, blob in enumerate(blobs):
        rd, rt, rl = _ref_decode(blob)
        s = slice(int(seg[i]), int(seg[i] + n[i]))
        assert docs[s].tolist() == rd and tfs[s].tolist() == rt and dls[s].tolist() == rl
        d1, t1, l1 = decode_block(blob)
        assert d1.tolist() == rd and t1.tolist() == rt and l1.tolist() == rl


@given(st.lists(_block, min_size=1, max_size=6), st.data())
@settings(max_examples=200, deadline=None)
def test_decode_blocks_rejects_truncated_or_corrupt(blocks, data):
    blobs = [_encode(b) for b in blocks]
    i = data.draw(st.integers(0, len(blobs) - 1))
    blob = blobs[i]
    (n, _), (dlen, _), (tlen, hdr_len) = _ref_varints(blob)[:3]
    kind = data.draw(st.sampled_from(["truncate", "extra", "count", "doc_len"]))
    if kind == "truncate":
        bad = blob[:data.draw(st.integers(0, len(blob) - 1))]
    elif kind == "extra":
        bad = blob + b"\x01"
    elif kind == "count":
        bad = vbyte_encode(np.array([n + 1, dlen, tlen], dtype=np.uint64)) + blob[hdr_len:]
    else:
        bad = vbyte_encode(np.array([n, dlen + 1, tlen], dtype=np.uint64)) + blob[hdr_len:]
    with pytest.raises(ValueError):
        decode_blocks(blobs[:i] + [bad] + blobs[i + 1:])


def test_decode_blocks_empty_batch():
    seg, n, docs, tfs, dls = decode_blocks([])
    assert len(seg) == len(n) == len(docs) == len(tfs) == len(dls) == 0
