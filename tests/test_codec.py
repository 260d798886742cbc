"""Posting codec round-trips (the reference's analogous serialization test is
the CBOR+LZ4 round-trip, /root/reference/components/index/types/references_test.go)."""

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from ipfs_search_spark.functions.codec import (
    decode_block, encode_blocks, varbyte_decode, varbyte_encode,
)


@given(st.lists(st.integers(min_value=0, max_value=2**64 - 1), max_size=500))
@settings(max_examples=200, deadline=None)
def test_varbyte_roundtrip(vals):
    arr = np.array(vals, dtype=np.uint64)
    assert (varbyte_decode(varbyte_encode(arr), len(vals)) == arr).all()


def test_varbyte_empty():
    assert varbyte_encode(np.empty(0, dtype=np.uint64)) == b""
    assert varbyte_decode(b"").size == 0


def test_varbyte_compact():
    small = np.arange(1000, dtype=np.uint64)
    assert len(varbyte_encode(small)) < 2 * 1000  # ≤2 bytes/value under 16384


@pytest.mark.parametrize("n", [1, 127, 128, 129, 1000])
def test_block_roundtrip(n):
    rng = np.random.default_rng(n)
    ids = np.unique(rng.integers(-2**63, 2**63 - 1, size=n, dtype=np.int64))
    order = np.argsort(ids.view(np.uint64))
    ids = ids[order]
    tfs = rng.integers(1, 100, size=ids.size, dtype=np.int64)
    dls = rng.integers(1, 1000, size=ids.size, dtype=np.int64)
    blocks = encode_blocks(ids, tfs, dls, block_size=128)
    assert len(blocks) == -(-ids.size // 128)
    di, dt, dd = zip(*(decode_block(b) for b in blocks))
    assert (np.concatenate(di) == ids).all()
    assert (np.concatenate(dt) == tfs).all()
    assert (np.concatenate(dd) == dls).all()
    for b, bt in zip(blocks, dt):
        assert b["max_tf"] == bt.max()
        assert b["n"] == bt.size


def test_blockmax_metadata():
    ids = np.arange(300, dtype=np.int64)
    tfs = np.ones(300, dtype=np.int64)
    tfs[5] = 50  # spike in block 0
    dls = np.full(300, 100, dtype=np.int64)
    blocks = encode_blocks(ids, tfs, dls, block_size=128)
    assert blocks[0]["max_tf"] == 50
    assert blocks[1]["max_tf"] == 1
    assert blocks[0]["min_dl"] == 100
    from ipfs_search_spark.functions.codec import tfnorm
    assert tfnorm(blocks[0]["max_tf"], blocks[0]["min_dl"], 100.0) > \
        tfnorm(blocks[1]["max_tf"], blocks[1]["min_dl"], 100.0)


@given(st.lists(st.lists(st.integers(min_value=0, max_value=2**31 - 1),
                         min_size=1, max_size=12),
                min_size=1, max_size=60))
@settings(max_examples=150, deadline=None)
def test_positions_roundtrip(per_posting):
    """Positional payload (per-posting delta + varbyte, chain restart at
    each posting boundary) round-trips for arbitrary ascending position
    lists — the codec behind phrase queries."""
    from ipfs_search_spark.functions.codec import (
        decode_positions, encode_positions,
    )
    per_posting = [sorted(set(p)) for p in per_posting]
    tfs = np.array([len(p) for p in per_posting], dtype=np.int64)
    flat = np.array([x for p in per_posting for x in p], dtype=np.int64)
    got = decode_positions(encode_positions(flat, tfs), tfs)
    assert (got == flat).all()


@given(st.integers(min_value=1, max_value=400),
       st.sampled_from([4, 16, 128]))
@settings(max_examples=60, deadline=None)
def test_positional_block_roundtrip(n, block_size):
    """encode_blocks/decode_block_positions round-trip with the positional
    payload attached, across block-size boundaries."""
    from ipfs_search_spark.functions.codec import decode_block_positions
    rng = np.random.default_rng(n * 31 + block_size)
    ids = np.unique(rng.integers(-2**63, 2**63 - 1, size=n, dtype=np.int64))
    ids = ids[np.argsort(ids.view(np.uint64))]
    tfs = rng.integers(1, 6, size=ids.size, dtype=np.int64)
    dls = rng.integers(1, 500, size=ids.size, dtype=np.int64)
    pos = np.concatenate([np.sort(rng.choice(10_000, size=t, replace=False))
                          for t in tfs]).astype(np.int64)
    blocks = encode_blocks(ids, tfs, dls, positions=pos,
                           block_size=block_size)
    ids_l, tfs_l, pos_l = [], [], []
    for blk in blocks:
        i, t, _ = decode_block(blk)
        ids_l.append(i)
        tfs_l.append(t)
        pos_l.append(decode_block_positions(blk, t))
    assert (np.concatenate(ids_l) == ids).all()
    assert (np.concatenate(tfs_l) == tfs).all()
    assert (np.concatenate(pos_l) == pos).all()


@given(st.integers(min_value=1, max_value=60),
       st.sampled_from([4, 16, 128]),
       st.integers(min_value=0, max_value=10_000))
@settings(max_examples=60, deadline=None)
def test_encode_blocks_bulk_bit_identical(n_terms, block_size, seed):
    """encode_blocks_bulk (one varbyte pass per payload over a whole
    bucket×shard cell) must be byte-identical to per-term encode_blocks —
    the single-shuffle build's fast path vs the reference formulation."""
    from ipfs_search_spark.functions.codec import encode_blocks_bulk
    rng = np.random.default_rng(seed * 7 + n_terms)
    seg_n = rng.integers(1, 4 * block_size, size=n_terms)
    bounds = np.zeros(n_terms + 1, dtype=np.int64)
    np.cumsum(seg_n, out=bounds[1:])
    ids = np.empty(int(bounds[-1]), dtype=np.int64)
    for s, e in zip(bounds[:-1], bounds[1:]):
        u = np.unique(rng.integers(0, 2**64, size=2 * (e - s),
                                   dtype=np.uint64))[:e - s]
        while u.size < e - s:
            u = np.unique(np.concatenate(
                [u, rng.integers(0, 2**64, size=e - s, dtype=np.uint64)]
            ))[:e - s]
        ids[s:e] = np.sort(u).view(np.int64)
    tfs = rng.integers(1, 9, size=ids.size, dtype=np.int64)
    dls = rng.integers(1, 3000, size=ids.size, dtype=np.int64)
    ref = [encode_blocks(ids[s:e], tfs[s:e], dls[s:e],
                         block_size=block_size)
           for s, e in zip(bounds[:-1], bounds[1:])]
    got = encode_blocks_bulk(bounds, ids, tfs, dls, block_size=block_size)
    assert len(ref) == len(got)
    for rb, gb in zip(ref, got):
        assert rb == gb


@given(st.integers(min_value=1, max_value=40),
       st.sampled_from([4, 16, 128]),
       st.integers(min_value=0, max_value=10_000))
@settings(max_examples=40, deadline=None)
def test_encode_blocks_bulk_positional_bit_identical(n_terms, block_size,
                                                     seed):
    """Positional variant: one global delta chain (restarting per posting)
    sliced at block boundaries must equal per-term encode_blocks with the
    per-term positional payload."""
    from ipfs_search_spark.functions.codec import encode_blocks_bulk
    rng = np.random.default_rng(seed * 13 + n_terms)
    seg_n = rng.integers(1, 3 * block_size, size=n_terms)
    bounds = np.zeros(n_terms + 1, dtype=np.int64)
    np.cumsum(seg_n, out=bounds[1:])
    n = int(bounds[-1])
    ids = np.empty(n, dtype=np.int64)
    for s, e in zip(bounds[:-1], bounds[1:]):
        u = np.unique(rng.integers(0, 2**64, size=3 * (e - s),
                                   dtype=np.uint64))[:e - s]
        while u.size < e - s:
            u = np.unique(np.concatenate(
                [u, rng.integers(0, 2**64, size=e - s, dtype=np.uint64)]
            ))[:e - s]
        ids[s:e] = np.sort(u).view(np.int64)
    tfs = rng.integers(1, 5, size=n, dtype=np.int64)
    dls = rng.integers(1, 900, size=n, dtype=np.int64)
    pos = np.concatenate(
        [np.sort(rng.choice(20_000, size=t, replace=False)) for t in tfs]
    ).astype(np.int64)
    ep = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(tfs, out=ep[1:])
    ref = [encode_blocks(ids[s:e], tfs[s:e], dls[s:e],
                         positions=pos[ep[s]:ep[e]], block_size=block_size)
           for s, e in zip(bounds[:-1], bounds[1:])]
    got = encode_blocks_bulk(bounds, ids, tfs, dls, positions=pos,
                             block_size=block_size)
    for rb, gb in zip(ref, got):
        assert rb == gb


@given(st.lists(st.integers(min_value=1, max_value=300), min_size=1,
                max_size=12),
       st.sampled_from([1, 4, 16, 128]),
       st.booleans(),
       st.integers(min_value=0, max_value=10_000))
@settings(max_examples=60, deadline=None)
def test_decode_blocks_equals_per_block_decode(term_sizes, block_size,
                                               positions, seed):
    """decode_blocks over the blocks of several terms in one call (ids
    across the whole signed range, so unsigned order puts negatives last;
    block_size 1 makes every block a 1-posting block) equals the
    concatenated per-block decode_block / decode_block_positions output."""
    from ipfs_search_spark.functions.codec import (
        decode_block_positions, decode_blocks,
    )
    rng = np.random.default_rng(seed)
    blocks = []
    for n in term_sizes:
        ids = np.unique(rng.integers(-2**63, 2**63 - 1, size=n,
                                     dtype=np.int64))
        ids = ids[np.argsort(ids.view(np.uint64))]
        tfs = rng.integers(1, 6, size=ids.size, dtype=np.int64)
        dls = rng.integers(1, 5000, size=ids.size, dtype=np.int64)
        pos = (np.concatenate([np.sort(rng.choice(3000, size=t,
                                                  replace=False))
                               for t in tfs]).astype(np.int64)
               if positions else None)
        blocks += encode_blocks(ids, tfs, dls, positions=pos,
                                block_size=block_size)
    want = [decode_block(b) for b in blocks]
    ids, tfs, dls, pos = decode_blocks(blocks, positions=positions)
    for got, col in zip((ids, tfs, dls), zip(*want)):
        assert got.dtype == np.int64
        assert (got == np.concatenate(col)).all()
    if positions:
        assert (pos == np.concatenate(
            [decode_block_positions(b, w[1])
             for b, w in zip(blocks, want)])).all()
    else:
        assert pos is None


def test_decode_blocks_edges():
    """No blocks decodes to empty arrays; asking for positions of a
    block written without them raises, as decode_block_positions does."""
    from ipfs_search_spark.functions.codec import decode_blocks
    ids, tfs, dls, pos = decode_blocks([])
    assert ids.size == tfs.size == dls.size == 0 and pos is None
    blocks = encode_blocks(np.array([-5, 7], dtype=np.int64),
                           np.array([1, 2], dtype=np.int64),
                           np.array([3, 4], dtype=np.int64))
    with pytest.raises(ValueError, match="no positional payload"):
        decode_blocks(blocks, positions=True)
