"""Posting-list codec: docID delta + variable-byte, block-max metadata.

The reference gets its posting format from Lucene inside OpenSearch (it never
implements one — /root/reference delegates via docs/indices/files.json). This
module is our from-scratch equivalent: numpy-vectorized (no per-row Python)
encode/decode used inside applyInPandas/mapInPandas workers.

Format, per (term, shard):
  blocks: list of (first_doc_id:int64, n:int32, max_tf:int32,
                   min_dl:int32, doc_ids:bytes, tfs:bytes, dls:bytes)
  - doc_ids ordered by their UNSIGNED 64-bit value (so deltas are
    non-negative even for negative xxhash64 ids); first gap is 0 relative to
    first_doc_id; varbyte(LEB128)-encoded gaps.
  - tfs / dls varbyte-encoded as-is (small positive ints).
  - (max_tf, min_dl) is the block-max metadata: tfnorm is increasing in tf
    and decreasing in dl, so tfnorm(max_tf, min_dl, avgdl) bounds every
    member's tf-normalization for ANY avgdl — the bound is computed at query
    time with the CURRENT corpus stats, which keeps it valid under
    incremental segment appends (a stored tfnorm would go stale as avgdl
    drifts; Lucene stores per-doc norms for the same reason). dls ride in
    the postings so scoring needs NO join back to the documents table.

Block size 128 (BLOCK_SIZE) like Lucene's.
"""

from __future__ import annotations

import numpy as np

from ipfs_search_spark import BLOCK_SIZE, BM25_B, BM25_K1

_MAX_VB_LEN = 10  # ceil(64/7)


def varbyte_encode_arr(vals: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """LEB128-encode a uint64 array; returns (bytes-as-uint8-array,
    per-value byte counts) so callers can slice per-range payloads out of
    ONE encode pass (encode_blocks_bulk). Fully vectorized."""
    v = np.ascontiguousarray(vals, dtype=np.uint64)
    if v.size == 0:
        return np.empty(0, dtype=np.uint8), np.empty(0, dtype=np.int64)
    nbytes = np.ones(v.size, dtype=np.int64)
    shifted = v >> np.uint64(7)
    while shifted.any():
        nbytes += (shifted > 0).astype(np.int64)
        shifted >>= np.uint64(7)
    total = int(nbytes.sum())
    out = np.empty(total, dtype=np.uint8)
    starts = np.zeros(v.size, dtype=np.int64)
    np.cumsum(nbytes[:-1], out=starts[1:])
    for j in range(_MAX_VB_LEN):
        mask = nbytes > j
        if not mask.any():
            break
        pos = starts[mask] + j
        chunk = (v[mask] >> np.uint64(7 * j)).astype(np.uint64) & np.uint64(0x7F)
        cont = (nbytes[mask] > j + 1).astype(np.uint8) << 7
        out[pos] = chunk.astype(np.uint8) | cont
    return out, nbytes


def varbyte_encode(vals: np.ndarray) -> bytes:
    """LEB128-encode a uint64 array, fully vectorized (bounded 10-pass loop
    over byte slots, each pass a vector op)."""
    return varbyte_encode_arr(vals)[0].tobytes()


def varbyte_decode(buf: bytes, n: int | None = None) -> np.ndarray:
    """Decode LEB128 bytes → uint64 array, vectorized via reduce-by-segment."""
    b = np.frombuffer(buf, dtype=np.uint8)
    if b.size == 0:
        return np.empty(0, dtype=np.uint64)
    is_last = (b & 0x80) == 0
    ends = np.flatnonzero(is_last)
    starts = np.empty(ends.size, dtype=np.int64)
    starts[0] = 0
    starts[1:] = ends[:-1] + 1
    vals = np.zeros(ends.size, dtype=np.uint64)
    for j in range(_MAX_VB_LEN):
        pos = starts + j
        mask = pos <= ends
        if not mask.any():
            break
        vals[mask] |= (b[pos[mask]].astype(np.uint64) & np.uint64(0x7F)) << np.uint64(7 * j)
    if n is not None and vals.size != n:
        raise ValueError(f"decoded {vals.size} values, expected {n}")
    return vals


def tfnorm(tf, dl, avgdl: float,
           k1: float = BM25_K1, b: float = BM25_B):
    """BM25 tf normalization, float64, same op order as the oracle
    (oracle.py): tf / (tf + k1*(1 - b + b*dl/avgdl)). Elementwise on numpy
    arrays or python scalars. tfnorm is increasing in tf and decreasing in
    dl, so tfnorm(max_tf, min_dl, avgdl) is a block's upper bound (block-max)
    — the same float expression as its postings' scores."""
    tf64 = np.asarray(tf, dtype=np.float64)
    denom = k1 * (1.0 - b + b * np.asarray(dl, dtype=np.float64) / avgdl)
    return tf64 / (tf64 + denom)


def _element_permutation(tfs: np.ndarray, order: np.ndarray) -> np.ndarray:
    """Element-level gather indices that reorder a flat per-posting payload
    (lengths = tfs) by the posting permutation `order`. Vectorized."""
    starts = np.zeros(tfs.size, dtype=np.int64)
    np.cumsum(tfs[:-1], out=starts[1:])
    tfs_o = tfs[order]
    out_starts = np.zeros(tfs_o.size, dtype=np.int64)
    np.cumsum(tfs_o[:-1], out=out_starts[1:])
    total = int(tfs.sum())
    # within-posting offsets 0..tf-1 in output order
    offs = np.arange(total, dtype=np.int64) - np.repeat(out_starts, tfs_o)
    return np.repeat(starts[order], tfs_o) + offs


def encode_positions(positions: np.ndarray, tfs: np.ndarray) -> bytes:
    """Encode a flat positions payload (each posting's positions ascending,
    concatenated in posting order; lengths = tfs) as per-posting
    delta + varbyte. The decoder recovers boundaries from the block's tfs."""
    pos = np.ascontiguousarray(positions, dtype=np.int64)
    if pos.size == 0:
        return b""
    deltas = np.empty(pos.size, dtype=np.int64)
    deltas[0] = pos[0]
    np.subtract(pos[1:], pos[:-1], out=deltas[1:])
    starts = np.zeros(tfs.size, dtype=np.int64)
    np.cumsum(tfs[:-1], out=starts[1:])
    deltas[starts] = pos[starts]  # delta chain restarts at each posting
    return varbyte_encode(deltas.astype(np.uint64))


def decode_positions(buf: bytes, tfs: np.ndarray) -> np.ndarray:
    """Inverse of encode_positions → flat int64 positions (lengths = tfs)."""
    deltas = varbyte_decode(bytes(buf)).astype(np.int64)
    if deltas.size == 0:
        return deltas
    cs = np.cumsum(deltas)
    starts = np.zeros(tfs.size, dtype=np.int64)
    np.cumsum(tfs[:-1], out=starts[1:])
    base = np.empty(tfs.size, dtype=np.int64)
    base[0] = 0
    base[1:] = cs[starts[1:] - 1]
    return cs - np.repeat(base, tfs)


def encode_blocks(doc_ids: np.ndarray, tfs: np.ndarray, dls: np.ndarray,
                  positions: np.ndarray | None = None,
                  block_size: int = BLOCK_SIZE) -> list[dict]:
    """Encode one (term, shard) posting list, pre-sorted by unsigned doc_id.

    Returns a list of block dicts (FIXTURES.md §4 layout, with the
    avgdl-independent (max_tf, min_dl) bound instead of a stored score
    hint — see module docstring). `positions` (optional) is the flat
    term-position payload for the positional index (the reference's
    `term_vector: with_positions_offsets`,
    /root/reference/docs/indices/files.json:93): per posting, ascending
    token indexes, concatenated in posting order, total length = sum(tfs)."""
    u = doc_ids.astype(np.int64).view(np.uint64)
    if u.size and not (u[:-1] <= u[1:]).all():
        order = np.argsort(u, kind="stable")
        if positions is not None:
            positions = positions[_element_permutation(
                tfs.astype(np.int64), order)]
        u, tfs, dls = u[order], tfs[order], dls[order]
    el_bounds = np.zeros(u.size + 1, dtype=np.int64)
    if u.size:
        np.cumsum(tfs, out=el_bounds[1:])
    blocks = []
    for s in range(0, u.size, block_size):
        e = min(s + block_size, u.size)
        ids = u[s:e]
        gaps = np.empty(ids.size, dtype=np.uint64)
        gaps[0] = 0
        np.subtract(ids[1:], ids[:-1], out=gaps[1:])
        blocks.append({
            "first_doc_id": int(ids[0].view(np.int64) if hasattr(ids[0], "view")
                                else np.uint64(ids[0]).view(np.int64)),
            "n": int(e - s),
            "max_tf": int(tfs[s:e].max()),
            "min_dl": int(dls[s:e].min()),
            "doc_ids": varbyte_encode(gaps),
            "tfs": varbyte_encode(tfs[s:e].astype(np.uint64)),
            "dls": varbyte_encode(dls[s:e].astype(np.uint64)),
            "pos": (encode_positions(
                positions[el_bounds[s]:el_bounds[e]], tfs[s:e])
                if positions is not None else None),
        })
    return blocks


def encode_blocks_bulk(bounds: np.ndarray, doc_ids: np.ndarray,
                       tfs: np.ndarray, dls: np.ndarray,
                       positions: np.ndarray | None = None,
                       block_size: int = BLOCK_SIZE) -> list[list[dict]]:
    """Encode MANY terms' posting lists in one vectorized pass.

    bounds: int64 array of term segment boundaries (len T+1) over the
    posting arrays, which are sorted by (term, unsigned doc_id) — exactly
    _make_encoder's layout. Equivalent to [encode_blocks(slice_i) for each
    term i] byte-for-byte (asserted by tests), but each varbyte payload is
    encoded with ONE call over the whole cell instead of one call per
    block per payload: profiling showed those ~3×blocks tiny varbyte
    calls were 83% of the encoder's CPU.

    positions (optional): the cell's flat positional payload in posting
    order (per-posting lengths = tfs). The positional delta chain restarts
    at every POSTING, and blocks begin at posting boundaries, so the
    per-block byte ranges of one global encode are byte-identical to
    per-block encode_positions calls."""
    n = doc_ids.size
    if n == 0:
        return [[] for _ in range(bounds.size - 1)]
    u = doc_ids.astype(np.int64).view(np.uint64)
    seg_n = bounds[1:] - bounds[:-1]
    nblocks = -(-seg_n // block_size)
    total_blocks = int(nblocks.sum())
    # start index of every block: term start + block ordinal * block_size.
    # Blocks tile [0, n) contiguously (a term's last block ends where the
    # next term starts), so ufunc.reduceat over bstarts gives block aggs.
    block_base = np.zeros(nblocks.size, dtype=np.int64)
    np.cumsum(nblocks[:-1], out=block_base[1:])
    ords = np.arange(total_blocks, dtype=np.int64) - \
        np.repeat(block_base, nblocks)
    bstarts = np.repeat(bounds[:-1], nblocks) + ords * block_size
    bends = np.minimum(bstarts + block_size, np.repeat(bounds[1:], nblocks))
    gaps = np.empty(n, dtype=np.uint64)
    gaps[0] = 0
    np.subtract(u[1:], u[:-1], out=gaps[1:])
    gaps[bstarts] = 0
    buf_ids, nb_ids = varbyte_encode_arr(gaps)
    buf_tfs, nb_tfs = varbyte_encode_arr(tfs.astype(np.uint64))
    buf_dls, nb_dls = varbyte_encode_arr(dls.astype(np.uint64))
    offs = []
    for nb in (nb_ids, nb_tfs, nb_dls):
        o = np.zeros(n + 1, dtype=np.int64)
        np.cumsum(nb, out=o[1:])
        offs.append(o)
    o_ids, o_tfs, o_dls = offs
    max_tf = np.maximum.reduceat(tfs, bstarts)
    min_dl = np.minimum.reduceat(dls, bstarts)
    first_ids = doc_ids.astype(np.int64)[bstarts]
    b_ids = buf_ids.tobytes()
    b_tfs = buf_tfs.tobytes()
    b_dls = buf_dls.tobytes()
    if positions is not None:
        pos = np.ascontiguousarray(positions, dtype=np.int64)
        deltas = np.empty(pos.size, dtype=np.int64)
        if pos.size:
            deltas[0] = pos[0]
            np.subtract(pos[1:], pos[:-1], out=deltas[1:])
        pstarts = np.zeros(n, dtype=np.int64)
        np.cumsum(tfs[:-1], out=pstarts[1:])
        deltas[pstarts] = pos[pstarts]  # chain restarts at each posting
        buf_pos, nb_pos = varbyte_encode_arr(deltas.astype(np.uint64))
        o_pos = np.zeros(pos.size + 1, dtype=np.int64)
        np.cumsum(nb_pos, out=o_pos[1:])
        # element index at each posting boundary (len n+1)
        ep = np.zeros(n + 1, dtype=np.int64)
        np.cumsum(tfs, out=ep[1:])
        b_pos = buf_pos.tobytes()
    out: list[list[dict]] = []
    b = 0
    for t in range(nblocks.size):
        blocks = []
        for _ in range(int(nblocks[t])):
            s, e = int(bstarts[b]), int(bends[b])
            blocks.append({
                "first_doc_id": int(first_ids[b]),
                "n": int(e - s),
                "max_tf": int(max_tf[b]),
                "min_dl": int(min_dl[b]),
                "doc_ids": b_ids[o_ids[s]:o_ids[e]],
                "tfs": b_tfs[o_tfs[s]:o_tfs[e]],
                "dls": b_dls[o_dls[s]:o_dls[e]],
                "pos": (b_pos[o_pos[ep[s]]:o_pos[ep[e]]]
                        if positions is not None else None),
            })
            b += 1
        out.append(blocks)
    return out


def decode_block_positions(block, tfs: np.ndarray) -> np.ndarray:
    """Positional payload of a block (requires its decoded tfs) → flat int64
    positions, per-posting lengths = tfs. Raises if the block was built
    without positions (non-positional index)."""
    return decode_blocks_positions([block], tfs)


def decode_blocks_positions(blocks, tfs: np.ndarray) -> np.ndarray:
    """decode_block_positions over many blocks in one varbyte pass: tfs are
    the blocks' decoded tfs, concatenated in block order."""
    if any(b["pos"] is None for b in blocks):
        raise ValueError("block has no positional payload "
                         "(index built with positions=False)")
    return decode_positions(b"".join(b["pos"] for b in blocks), tfs)


def decode_blocks(blocks, positions: bool = False):
    """Decode MANY blocks (dicts or Rows, any mix of terms) in one
    vectorized pass → flat (doc_ids, tfs, dls, positions) int64 arrays in
    block order; positions is None unless requested. Equal to concatenating
    decode_block / decode_block_positions per block, but each payload is
    ONE varbyte_decode over the concatenated bytes: the doc_id gaps then
    take one segmented cumsum seeded by each block's first_doc_id, and the
    position deltas one cumsum restarting at each posting."""
    ns = np.fromiter((b["n"] for b in blocks), np.int64, len(blocks))
    firsts = np.fromiter((b["first_doc_id"] for b in blocks), np.int64,
                         len(blocks))
    total = int(ns.sum())

    def field(name):
        return varbyte_decode(b"".join(b[name] for b in blocks), total)

    gaps = field("doc_ids")
    starts = np.zeros(ns.size, dtype=np.int64)
    np.cumsum(ns[:-1], out=starts[1:])
    # uint64 arithmetic wraps mod 2**64, so seeding each block's first gap
    # (0 on disk) with its first_doc_id and subtracting the running sum
    # before the block restores unsigned ids exactly
    gaps[starts] += firsts.view(np.uint64)
    cs = np.cumsum(gaps, dtype=np.uint64)
    before = np.zeros(ns.size, dtype=np.uint64)
    before[1:] = cs[starts[1:] - 1]
    ids = (cs - np.repeat(before, ns)).view(np.int64)
    tfs = field("tfs").astype(np.int64)
    dls = field("dls").astype(np.int64)
    pos = decode_blocks_positions(blocks, tfs) if positions else None
    return ids, tfs, dls, pos


def decode_block(block) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """block (dict or Row) → (doc_ids int64, tfs int64, dls int64)."""
    first = np.uint64(np.int64(block["first_doc_id"]).view(np.uint64)
                      if isinstance(block["first_doc_id"], np.int64)
                      else np.array(block["first_doc_id"], dtype=np.int64).view(np.uint64))
    n = block["n"]
    gaps = varbyte_decode(bytes(block["doc_ids"]), n)
    ids = np.cumsum(gaps, dtype=np.uint64) + first
    tfs = varbyte_decode(bytes(block["tfs"]), n).astype(np.int64)
    dls = varbyte_decode(bytes(block["dls"]), n).astype(np.int64)
    return ids.view(np.int64), tfs, dls
