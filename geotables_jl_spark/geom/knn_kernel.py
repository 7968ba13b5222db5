"""Vectorized kNN scoring kernel (Arrow batches + numpy) for the
broadcast-right map round of ``knn_pairs``.

Why Python here at all (the repo's rule is JVM-first): the per-row
"score ~65 candidates, sort, slice k" step has no codegen-friendly Spark
expression — higher-order functions (``transform``/``array_sort``) are
CodegenFallback and measured 6.7–92 s per 4M rows on local[16],
10–25× the budget. This kernel does
the same work fully vectorized: the 10^12-row left stream ships ONLY
(lid, lx, ly, cell) — 32 bytes/row — through Arrow, all candidate data
lives in a numpy broadcast on each worker, and every batch is processed
with whole-batch matrix ops (padded neighborhood gather, argpartition
top-k with an exact tie fallback), never a per-row or per-group Python
loop. Results go back as Arrow LIST columns (one row per left row, built
zero-copy from flat arrays + offsets) so the JVM fans out pairs with a
codegen ``posexplode`` instead of Arrow shipping k× duplicated rows.

Determinism: right points are sorted by rid once; the offset-exploded
neighbor index preserves that order inside every neighborhood, so ties
on distance resolve by ascending rid — the same (dist, rid) order the
JVM rounds and the DuckDB oracle use. Distances are
``sqrt(dx*dx + dy*dy)`` (each op IEEE correctly-rounded) so all three
engines agree bit-for-bit.
"""

from __future__ import annotations

import numpy as np

_MASK32 = np.int64((1 << 32) - 1)


def pack_cells_np(cx: np.ndarray, cy: np.ndarray) -> np.ndarray:
    """Bit-identical twin of ``geom.cells.pack_cell`` (JVM): mask the
    int64 cell coords to 32 bits, pack into one long. numpy int64
    arithmetic wraps two's-complement exactly like a Java long."""
    with np.errstate(over="ignore"):
        return ((cx & _MASK32) << np.int64(32)) | (cy & _MASK32)


class RightIndex:
    """Right-side points, rid-sorted, shipped to workers via
    ``sc.broadcast`` as plain numpy (~32 B/point). Workers derive the
    per-radius neighbor index lazily (``NeighborIndex``)."""

    def __init__(self, rid: np.ndarray, rx: np.ndarray, ry: np.ndarray, cell_size: float):
        order = np.argsort(rid, kind="stable")
        self.cell_size = float(cell_size)
        self.rid = np.ascontiguousarray(rid[order])
        self.rx = np.ascontiguousarray(rx[order])
        self.ry = np.ascontiguousarray(ry[order])


class NeighborIndex:
    """cell → slice of point indices whose (2r+1)² block contains the
    cell. Built VECTORIZED (offset explode + lexsort), no per-cell
    Python: n2·(2r+1)² int64 entries, ~0.1 s for 100k points at r=1."""

    def __init__(self, base: RightIndex, radius: int):
        s = base.cell_size
        cx = np.floor(base.rx / s).astype(np.int64)
        cy = np.floor(base.ry / s).astype(np.int64)
        r = int(radius)
        w = 2 * r + 1
        offs = np.arange(-r, r + 1, dtype=np.int64)
        # all (cx+i, cy+j) combos, point-major; point idx is rid-ordered,
        # and the stable lexsort keeps that order inside each target cell
        tx = np.repeat((cx[:, None] + offs[None, :]).reshape(-1), w)
        ty = np.tile((cy[:, None] + offs[None, :]).reshape(len(cy), w), (1, w)).reshape(-1)
        tgt = pack_cells_np(tx, ty)
        idx = np.repeat(np.arange(len(cx), dtype=np.int64), w * w)
        o = np.lexsort((idx, tgt))
        # int32 point indices: halves gather traffic (the kernel is memory
        # -bandwidth-bound under full-machine concurrency; chunk_budget is
        # sized so the per-chunk matrices stay L3-resident — measured 2.5×
        # on 16 concurrent workers vs a 4M budget)
        self.point_idx = idx[o].astype(np.int32)
        tgt = tgt[o]
        self.keys, self.starts = np.unique(tgt, return_index=True)
        self.ends = np.append(self.starts[1:], len(tgt))

    def lookup(self, cells: np.ndarray):
        """(starts, counts) per query cell; count 0 when no right point
        is within the block."""
        if not len(self.keys):
            z = np.zeros(len(cells), dtype=np.int64)
            return z, z
        pos = np.searchsorted(self.keys, cells)
        pos_c = np.minimum(pos, len(self.keys) - 1)
        ok = self.keys[pos_c] == cells
        starts = np.where(ok, self.starts[pos_c], 0)
        counts = np.where(ok, self.ends[pos_c] - self.starts[pos_c], 0)
        return starts.astype(np.int64), counts.astype(np.int64)


# worker-global neighbor-index memo (workers are reused across batches).
# Keyed per radius so the base round AND its escalation radius stay
# cached together — the escalation path runs on a few rows of nearly
# every batch, and rebuilding its index per batch would dominate.
_NI_CACHE: dict = {"base_id": None, "by_radius": {}}


def _neighbor_index(base: RightIndex, radius: int) -> NeighborIndex:
    if _NI_CACHE["base_id"] != id(base):
        _NI_CACHE["base_id"] = id(base)
        _NI_CACHE["by_radius"] = {}
    by_r = _NI_CACHE["by_radius"]
    ni = by_r.get(int(radius))
    if ni is None:
        ni = by_r[int(radius)] = NeighborIndex(base, radius)
    return ni


def _topk_tie_exact(d: np.ndarray, kk: int):
    """Row-wise top-kk of the padded distance matrix ``d`` ordered by
    (dist, column position) — column position IS rid order. argpartition
    (O(m)) + tiny per-row sort; rows whose k-th distance ties with an
    excluded element fall back to a full stable argsort (exact, rare —
    needs duplicate distances exactly at the boundary)."""
    b, m = d.shape
    if kk >= m:
        top = np.argsort(d, axis=1, kind="stable")[:, :kk]
        return top, np.take_along_axis(d, top, axis=1)
    part = np.argpartition(d, kk - 1, axis=1)[:, :kk]
    # order the selected by (dist, pos): pos-sort first, stable dist-sort
    o1 = np.argsort(part, axis=1)
    part = np.take_along_axis(part, o1, axis=1)
    dp = np.take_along_axis(d, part, axis=1)
    o2 = np.argsort(dp, axis=1, kind="stable")
    part = np.take_along_axis(part, o2, axis=1)
    dp = np.take_along_axis(dp, o2, axis=1)
    # boundary-tie check: an excluded element equal to the kth distance
    # could have a smaller pos (rid) than an included tie. Resolve by
    # sorting ONLY the ≤-kth candidates of each affected row (kk + tie
    # group, typically a handful) — a full-row argsort here was the
    # dominant cost on lattice-like data where exact ties are pervasive.
    kth = dp[:, kk - 1]
    n_le = (d <= kth[:, None]).sum(axis=1)
    bad = np.nonzero(n_le > kk)[0]
    if len(bad) and m <= max(8 * kk, 512):
        # narrow rows (padded neighborhood path): vectorized full sort of
        # the affected rows is cheaper than any per-row bookkeeping
        full = np.argsort(d[bad], axis=1, kind="stable")[:, :kk]
        part[bad] = full
        dp[bad] = np.take_along_axis(d[bad], full, axis=1)
    else:
        for r in bad:
            dr = d[r]
            cand = np.nonzero(dr <= kth[r])[0]  # position-ascending
            o = np.argsort(dr[cand], kind="stable")[:kk]  # stable ⇒ pos order in ties
            sel = cand[o]
            part[r] = sel
            dp[r] = dr[sel]
    return part, dp


def score_batch(
    lid: np.ndarray,
    lx: np.ndarray,
    ly: np.ndarray,
    lcell: np.ndarray,
    index: RightIndex,
    radius: int,
    k: int,
    chunk_budget: int = 262_144,
):
    """One Arrow batch → per-left-row top-k as flat values + offsets.

    Returns (cols, offsets, rid_values, dist_values): ``cols`` is a dict
    of per-row columns (lid, lx, ly, cnt, kth) in output row order,
    ``offsets`` the int32 list offsets (len = rows+1), and the values the
    flattened top-k — ready for zero-copy Arrow ListArray assembly. Every
    input row produces exactly one output row (complete accounting);
    cnt=0 rows have empty lists.

    Rows are processed in count-sorted chunks padded to the chunk max
    (bounded working set: cache-resident under concurrency, and a skewed
    hot cell can't blow the matrix budget).
    """
    ni = _neighbor_index(index, radius)
    n = len(lid)
    starts, counts = ni.lookup(lcell)

    order = np.argsort(counts, kind="stable")
    cs = np.maximum(counts[order], 1)
    row_parts, kth_parts, ridv_parts, distv_parts, lens_parts = [], [], [], [], []

    i = 0
    while i < n:
        # counts are sorted ascending, so rows×max = (j-i)·cs[j-1] is
        # nondecreasing in j → the chunk boundary is a binary search with
        # an O(1) predicate. (The r2 version materialized the whole
        # product array per chunk — O(n·chunks) worst case when hot rows
        # force one-row chunks; ADVICE r2.)
        lo, hi = i + 1, n
        while lo < hi:
            mid = (lo + hi + 1) // 2
            if (mid - i) * int(cs[mid - 1]) <= chunk_budget:
                lo = mid
            else:
                hi = mid - 1
        j = lo
        rows = order[i:j]
        i = j
        cnts = counts[rows]
        mmax = max(int(cnts[-1]), 1)
        if cnts[-1] == 0:  # count-sorted: all-zero chunk
            row_parts.append(rows)
            kth_parts.append(np.full(len(rows), np.nan))
            lens_parts.append(np.zeros(len(rows), np.int64))
            ridv_parts.append(np.empty(0, np.int64))
            distv_parts.append(np.empty(0))
            continue
        b = len(rows)
        pad = np.arange(mmax, dtype=np.int64)[None, :]
        mask = pad < cnts[:, None]
        gidx = np.where(mask, starts[rows][:, None] + pad, 0)
        pidx = ni.point_idx[gidx]  # b×m point idx
        dx = lx[rows][:, None] - index.rx[pidx]
        dy = ly[rows][:, None] - index.ry[pidx]
        d = np.sqrt(dx * dx + dy * dy)
        d[~mask] = np.inf
        kk = min(k, int(cnts[-1]))
        top, dist_mat = _topk_tie_exact(d, kk)
        rid_mat = index.rid[np.take_along_axis(pidx, top, axis=1)]
        lens = np.minimum(cnts, k)
        keep = pad[:, :kk] < lens[:, None]  # drop pad/beyond-cnt slots
        row_parts.append(rows)
        kth_pos = np.maximum(lens, 1) - 1
        kth = np.where(cnts > 0, dist_mat[np.arange(b), np.minimum(kth_pos, kk - 1)], np.nan)
        kth_parts.append(kth)
        lens_parts.append(lens)
        ridv_parts.append(rid_mat[keep])
        distv_parts.append(dist_mat[keep])

    rows_all = np.concatenate(row_parts) if row_parts else np.empty(0, np.int64)
    lens_all = np.concatenate(lens_parts) if lens_parts else np.empty(0, np.int64)
    offsets = np.zeros(len(rows_all) + 1, dtype=np.int32)
    offsets[1:] = np.cumsum(lens_all).astype(np.int32)
    cols = {
        "__lid": lid[rows_all],
        "__lx": lx[rows_all],
        "__ly": ly[rows_all],
        "__cnt": counts[rows_all],
        "__kth": np.concatenate(kth_parts) if kth_parts else np.empty(0),
    }
    ridv = np.concatenate(ridv_parts) if ridv_parts else np.empty(0, np.int64)
    distv = np.concatenate(distv_parts) if distv_parts else np.empty(0)
    return cols, offsets, ridv, distv


# escalation index stays bounded: n2·(2·3r+1)² entries beyond this →
# skip the indexed retry and brute-force the (tiny) tail directly
_ESCALATE_MAX_ENTRIES = 30_000_000

# below this many (bad_rows × n2) distance evals, brute-force beats the
# indexed retry outright: with round-1 sizing ~99.9% certify, so a batch
# has ~0.1% bad rows and building a (2·3r+1)²-entry neighbor index (a
# multi-second lexsort per worker at n2=100k) would dominate the whole
# job — measured 0.3 s warm vs 10 s cold per batch, i.e. the index build
# WAS the round-2 kNN regression before this gate existed
_BRUTE_DIRECT_MAX = 64_000_000


def _ragged_arange(lens: np.ndarray) -> np.ndarray:
    ends = np.cumsum(lens)
    starts = ends - lens
    return np.arange(int(ends[-1]) if len(ends) else 0, dtype=np.int64) - np.repeat(starts, lens)


def _brute_rows(lx: np.ndarray, ly: np.ndarray, index: RightIndex, k: int, chunk_budget: int):
    """Exact top-k for a (tiny) set of rows against ALL right points.
    Column position is rid order (index arrays are rid-sorted), so ties
    resolve identically to the indexed path. Returns (lens, kth, ridv,
    distv) with rows in input order."""
    n2 = len(index.rid)
    nb = len(lx)
    kk = min(k, n2)
    step = max(1, chunk_budget // max(n2, 1))
    lens = np.full(nb, kk, dtype=np.int64)
    kth = np.empty(nb)
    ridv_parts, distv_parts = [], []
    for i in range(0, nb, step):
        dx = lx[i : i + step, None] - index.rx[None, :]
        dy = ly[i : i + step, None] - index.ry[None, :]
        d = np.sqrt(dx * dx + dy * dy)
        top, dp = _topk_tie_exact(d, kk)
        kth[i : i + step] = dp[:, -1]
        ridv_parts.append(index.rid[top].reshape(-1))
        distv_parts.append(dp.reshape(-1))
    ridv = np.concatenate(ridv_parts) if ridv_parts else np.empty(0, np.int64)
    distv = np.concatenate(distv_parts) if distv_parts else np.empty(0)
    return lens, kth, ridv, distv


def score_batch_exact(
    lid: np.ndarray,
    lx: np.ndarray,
    ly: np.ndarray,
    lcell: np.ndarray,
    index: RightIndex,
    radius: int,
    k: int,
    chunk_budget: int = 262_144,
):
    """EXACT one-pass kNN: the radius-r indexed pass certifies the bulk
    (kth ≤ r·cell ⇒ no point outside the block can beat it), uncertified
    rows retry at radius·3 IN-KERNEL (the broadcast index is already on
    this worker), and the residue is brute-forced against the full right
    side. No driver rounds, no persisted intermediates, no shuffle — the
    whole job is a single map over the left stream, which is what makes
    kNN throughput scale linearly with executors (the north rule).

    Same return shape as ``score_batch``; every input row yields exactly
    one output row with its true top-min(k, n2) neighbors.
    """
    n = len(lid)
    n2 = len(index.rid)
    if n2 == 0 or n == 0:
        return (
            {
                "__lid": lid,
                "__lx": lx,
                "__ly": ly,
                "__cnt": np.zeros(n, np.int64),
                "__kth": np.full(n, np.nan),
            },
            np.zeros(n + 1, np.int32),
            np.empty(0, np.int64),
            np.empty(0),
        )

    cols, offsets, ridv, distv = score_batch(lid, lx, ly, lcell, index, radius, k, chunk_budget)
    # score_batch emits rows in count-sorted order (rows_all = perm).
    # Matching back by lid would be wrong (dup lids allowed), so rebuild
    # the permutation exactly as score_batch derives it: stable argsort
    # of the per-row neighborhood counts.
    ni = _neighbor_index(index, radius)
    _, counts = ni.lookup(lcell)
    perm = np.argsort(counts, kind="stable")
    lens1 = np.diff(offsets).astype(np.int64)
    guarantee = float(radius) * index.cell_size
    cnt1 = cols["__cnt"]
    kth1 = cols["__kth"]
    cert = ((cnt1 >= k) & ~np.isnan(kth1) & (kth1 <= guarantee)) | (cnt1 >= n2)
    if cert.all():
        return cols, offsets, ridv, distv

    bad = np.nonzero(~cert)[0]  # positions in score_batch output order
    bad_in = perm[bad]  # positions in input order
    sub_lens = np.zeros(len(bad), np.int64)
    sub_kth = np.full(len(bad), np.nan)
    r2 = radius * 3
    tried_escalate = (
        len(bad) * n2 > _BRUTE_DIRECT_MAX
        and n2 * (2 * r2 + 1) ** 2 <= _ESCALATE_MAX_ENTRIES
    )
    still = np.arange(len(bad))
    if tried_escalate:
        c2, o2, rv2, dv2 = score_batch(
            lid[bad_in], lx[bad_in], ly[bad_in], lcell[bad_in], index, r2, k, chunk_budget
        )
        _, counts2 = _neighbor_index(index, r2).lookup(lcell[bad_in])
        perm2 = np.argsort(counts2, kind="stable")
        g2 = float(r2) * index.cell_size
        cert2 = ((c2["__cnt"] >= k) & ~np.isnan(c2["__kth"]) & (c2["__kth"] <= g2)) | (
            c2["__cnt"] >= n2
        )
        l2 = np.diff(o2).astype(np.int64)
        # scatter certified retry results into the bad-row slots
        ok2 = np.nonzero(cert2)[0]
        tgt = perm2[ok2]  # positions within `bad`
        sub_lens[tgt] = l2[ok2]
        sub_kth[tgt] = c2["__kth"][ok2]
        # values for certified rows, reordered to tgt order
        v_off = np.zeros(len(l2) + 1, np.int64)
        v_off[1:] = np.cumsum(l2)
        pos2 = np.repeat(v_off[ok2], l2[ok2]) + _ragged_arange(l2[ok2])
        esc_ridv, esc_distv = rv2[pos2], dv2[pos2]
        still = perm2[np.nonzero(~cert2)[0]]
    else:
        esc_ridv = np.empty(0, np.int64)
        esc_distv = np.empty(0)
        ok2 = np.empty(0, np.int64)
        tgt = np.empty(0, np.int64)
        l2 = np.empty(0, np.int64)
    if len(still):
        bl, bk, brv, bdv = _brute_rows(lx[bad_in[still]], ly[bad_in[still]], index, k, chunk_budget)
        sub_lens[still] = bl
        sub_kth[still] = bk
    else:
        brv, bdv = np.empty(0, np.int64), np.empty(0)

    # ---- splice: final output in INPUT row order
    lens_f = np.empty(n, np.int64)
    kth_f = np.empty(n)
    cnt_f = np.empty(n, np.int64)
    ok1 = np.nonzero(cert)[0]
    lens_f[perm[ok1]] = lens1[ok1]
    kth_f[perm[ok1]] = kth1[ok1]
    cnt_f[perm[ok1]] = cnt1[ok1]
    lens_f[bad_in] = sub_lens
    kth_f[bad_in] = sub_kth
    cnt_f[bad_in] = np.maximum(sub_lens, cnt1[bad])  # ≥ what any pass saw
    off_f = np.zeros(n + 1, np.int64)
    off_f[1:] = np.cumsum(lens_f)
    ridv_f = np.empty(int(off_f[-1]), np.int64)
    distv_f = np.empty(int(off_f[-1]))

    def _scatter(dst_rows, src_vals_r, src_vals_d, src_lens):
        if not len(dst_rows):
            return
        pos = np.repeat(off_f[dst_rows], src_lens) + _ragged_arange(src_lens)
        ridv_f[pos] = src_vals_r
        distv_f[pos] = src_vals_d

    # pass-1 certified values
    pos1 = np.repeat(offsets[:-1].astype(np.int64)[ok1], lens1[ok1]) + _ragged_arange(lens1[ok1])
    _scatter(perm[ok1], ridv[pos1], distv[pos1], lens1[ok1])
    # escalation-certified values (already in tgt order)
    if len(tgt):
        _scatter(bad_in[tgt], esc_ridv, esc_distv, l2[ok2])
    # brute-forced tail
    if len(still):
        _scatter(bad_in[still], brv, bdv, sub_lens[still])

    cols_f = {"__lid": lid, "__lx": lx, "__ly": ly, "__cnt": cnt_f, "__kth": kth_f}
    return cols_f, off_f.astype(np.int32), ridv_f, distv_f
