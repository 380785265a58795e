"""Round-trip property tests for the postings block codecs.

Modeled on the reference's BasePostingsFormatTestCase pattern
(`test-framework/.../BasePostingsFormatTestCase.java:102-126`): random
monotone docID lists at boundary sizes × freq distributions, assert
encode/decode identity. Seeded via hypothesis + fixed numpy seeds.
"""

import numpy as np
import pytest

from lucene_solr_spark.functions.codec import (
    BLOCK_SIZE, decode_block, decode_block_payloads, encode_block_payloads,
    encode_for, encode_pfor, encode_vbyte_tail, vbyte_decode, vbyte_encode,
)
from lucene_solr_spark.functions.impacts import dominates, skyline

SIZES = [1, 2, 127, 128]
rng = np.random.default_rng(42)


def test_vbyte_roundtrip():
    vals = np.array([0, 1, 127, 128, 129, 16383, 16384, 2**31 - 1, 2**40])
    assert np.array_equal(vbyte_decode(vbyte_encode(vals), len(vals)), vals)


def test_vbyte_decode_one_byte_values_and_prefixes():
    small = np.array([0, 1, 5, 127, 3], dtype=np.int64)
    assert np.array_equal(vbyte_decode(vbyte_encode(small), 5), small)
    # decode only the first `count` values of a longer stream
    mixed = np.array([1, 2, 300, 4, 70000, 6], dtype=np.int64)
    buf = vbyte_encode(mixed)
    for count in range(1, len(mixed) + 1):
        assert np.array_equal(vbyte_decode(buf, count), mixed[:count])


@pytest.mark.parametrize("dist", ["all1", "zipf", "maxint", "mixed"])
def test_for_pfor_roundtrip_full_block(dist):
    for _ in range(20):
        if dist == "all1":
            v = np.ones(BLOCK_SIZE, dtype=np.int64)
        elif dist == "zipf":
            v = rng.zipf(1.5, BLOCK_SIZE).astype(np.int64)
        elif dist == "maxint":
            v = np.full(BLOCK_SIZE, 2**31 - 1, dtype=np.int64)
        else:
            v = rng.integers(1, 100, BLOCK_SIZE)
            v[rng.integers(0, BLOCK_SIZE, 3)] = 2**30  # force exceptions
        for enc in (encode_for, encode_pfor):
            blob = enc(v)
            np.testing.assert_array_equal(decode_block(blob, BLOCK_SIZE), v)


def test_pfor_exceptions_shrink_payload():
    v = np.ones(BLOCK_SIZE, dtype=np.int64)
    v[[3, 77, 127]] = [2**20, 2**19, 2**18]
    pfor, plain = encode_pfor(v), encode_for(v)
    np.testing.assert_array_equal(decode_block(pfor, BLOCK_SIZE), v)
    assert len(pfor) < len(plain)


def test_const_block_is_tiny():
    v = np.ones(BLOCK_SIZE, dtype=np.int64)
    assert len(encode_for(v)) <= 3
    assert len(encode_pfor(v)) <= 3


@pytest.mark.parametrize("n", [1, 2, 5, 127, 128, 129, 256, 259, 1000, 100_000])
def test_posting_list_roundtrip(n):
    docs = np.sort(rng.choice(10 * n + 10, size=n, replace=False)).astype(np.int64)
    freqs = rng.zipf(1.3, n).astype(np.int64)
    base = -1  # Lucene block base semantics: delta from previous last doc
    prev_last = base
    out_docs, out_freqs = [], []
    for s in range(0, n, BLOCK_SIZE):
        blk_docs = docs[s:s + BLOCK_SIZE]
        blk_freqs = freqs[s:s + BLOCK_SIZE]
        db, fb = encode_block_payloads(blk_docs, blk_freqs, prev_last)
        dd, ff = decode_block_payloads(db, fb, len(blk_docs), prev_last)
        out_docs.append(dd)
        out_freqs.append(ff)
        prev_last = int(blk_docs[-1])
    np.testing.assert_array_equal(np.concatenate(out_docs), docs)
    np.testing.assert_array_equal(np.concatenate(out_freqs), freqs)


def test_skyline_properties():
    for _ in range(50):
        f = rng.integers(1, 1000, 64)
        n = rng.integers(0, 256, 64)
        sf, sn = skyline(f, n)
        assert dominates(sf, sn, f, n)
        # frontier is strictly increasing in both coords
        assert np.all(np.diff(sn) > 0)
        assert np.all(np.diff(sf) > 0)
        # every skyline point is an actual point
        pts = set(zip(f.tolist(), (n & 0xFF).tolist()))
        assert all((a, b) in pts for a, b in zip(sf.tolist(), sn.tolist()))
