"""Numpy-vectorized similarity kernels: the whole Arrow batch in lock-step.

The scalar kernels in ``kernels.py`` are bit-parallel over CHARACTERS but
still loop per PAIR in Python — at 10^12-candidate scale that loop would
be the flagship's dominant cost. These kernels run the same recurrences
with the BATCH as the vector lane: every pair advances one character per
step, all pairs at once, in numpy uint64 ops. Cost per Arrow batch =
O(max_len) vector ops instead of O(sum_len) Python bytecode.

Semantics are BIT-EXACT with kernels.py (differential-tested in
tests/test_batch_kernels.py): Allison-Dix/Hyyro bit-parallel LCS for the
InDel ratio, greedy-window Jaro with half-transposition counting, and the
fuzzywuzzy token_set_ratio construction.

Two structural tricks keep the constant factor down:
- padding steps are IDENTITY: the position-mask table has no entry for the
  '\\0' pad char, so lanes whose string already ended just recirculate
  their state — no per-step active masking needed;
- the hot path is specialized for strings <= 64 chars (one uint64 word per
  lane — normalized titles live here); longer rows go through the
  multiword variant (manual carry/borrow propagation) up to MAX_VEC_LEN,
  beyond which (or for non-ASCII) a row falls back to the scalar kernel.
"""

from __future__ import annotations

import numpy as np

from . import kernels

MAX_VEC_LEN = 256  # beyond this a row is scored by the scalar kernel

_POP8 = np.array([bin(i).count("1") for i in range(256)], dtype=np.uint16)
# _LOW[k] = lowest k bits set (k in 0..64)
_LOW = np.zeros(65, dtype=np.uint64)
_LOW[:64] = (np.uint64(1) << np.arange(64, dtype=np.uint64)) - np.uint64(1)
_LOW[64] = np.uint64(0xFFFFFFFFFFFFFFFF)
_ONE = np.uint64(1)
_ZERO = np.uint64(0)


def _popcount(x: np.ndarray) -> np.ndarray:
    """Elementwise-row popcount: works on (n,) or (n, W) uint64."""
    flat = _POP8[x.view(np.uint8)]
    return flat.reshape(x.shape[0], -1).sum(axis=1).astype(np.int64)


def _codes(strs: list[str], L: int) -> np.ndarray:
    """(n, L) uint8 matrix of char codes, '\\0'-padded (inputs are ASCII)."""
    n = len(strs)
    if L == 0:
        return np.zeros((n, 0), dtype=np.uint8)
    buf = "".join(s.ljust(L, "\0") for s in strs).encode("latin-1")
    return np.frombuffer(buf, dtype=np.uint8).reshape(n, L)


# Reused position-mask buffers: Arrow batches arrive in uniform sizes, so
# the (n, 128) uint64 pm matrix (10 MB at 10k rows) is recycled instead of
# re-allocated per batch — fresh calloc pages would be first-touch page
# faults on every batch in every one of the 32 python workers (measured
# pathological on this host), while fill(0) on a warm buffer is one cheap
# write pass. Workers are single-threaded; calls within one UDF invocation
# are sequential, so one buffer per shape suffices.
_PM_BUF: dict[tuple, np.ndarray] = {}


def _zeroed(shape: tuple) -> np.ndarray:
    buf = _PM_BUF.get(shape)
    if buf is None:
        if len(_PM_BUF) > 16:  # varied shapes: don't hoard
            _PM_BUF.clear()
        buf = np.zeros(shape, dtype=np.uint64)
        _PM_BUF[shape] = buf
    else:
        buf.fill(0)
    return buf


def _build_pm1(codes: np.ndarray) -> np.ndarray:
    """(n, 128) uint64: PM[i, c] = bitmask of positions of char c in row i.

    One fancy gather|scatter per COLUMN — (row, code) pairs are unique
    within a column, so ``|=`` needs no or-reduce — instead of a slow
    element-wise ``ufunc.at`` over the whole matrix. Pad char 0 is zeroed
    afterwards so ended lanes recirculate their state."""
    n, L = codes.shape
    pm = _zeroed((n, 128))
    if L == 0:
        return pm
    rows = np.arange(n)
    for j in range(min(L, 64)):
        c = codes[:, j]
        pm[rows, c] |= _ONE << np.uint64(j)
    pm[:, 0] = _ZERO
    return pm


def _build_pmw(codes: np.ndarray, W: int) -> np.ndarray:
    """(n, 128, W) multiword position masks (column-loop scatter)."""
    n, L = codes.shape
    pm = _zeroed((n, 128, W))
    if L == 0:
        return pm
    rows = np.arange(n)
    for j in range(min(L, W * 64)):
        c = codes[:, j]
        pm[rows, c, j >> 6] |= _ONE << np.uint64(j & 63)
    pm[:, 0, :] = _ZERO
    return pm


def _mw_add(x: np.ndarray, y: np.ndarray) -> np.ndarray:
    out = np.empty_like(x)
    carry = np.zeros(x.shape[0], dtype=np.uint64)
    for w in range(x.shape[1]):
        s = x[:, w] + y[:, w] + carry
        carry = ((s < x[:, w]) | ((carry == _ONE) & (s == x[:, w]))).astype(np.uint64)
        out[:, w] = s
    return out


def _mw_sub(x: np.ndarray, y: np.ndarray) -> np.ndarray:
    out = np.empty_like(x)
    borrow = np.zeros(x.shape[0], dtype=np.uint64)
    for w in range(x.shape[1]):
        d = x[:, w] - y[:, w] - borrow
        borrow = (
            (x[:, w] < y[:, w]) | ((borrow == _ONE) & (x[:, w] == y[:, w]))
        ).astype(np.uint64)
        out[:, w] = d
    return out


# ---------------------------------------------------------------------------
# LCS / InDel
# ---------------------------------------------------------------------------

def _lcs_w1(codes_a: np.ndarray, la: np.ndarray, codes_b: np.ndarray) -> np.ndarray:
    """Single-word Allison-Dix LCS (la <= 64 per row, pre-swapped shorter)."""
    n = codes_a.shape[0]
    pm = _build_pm1(codes_a)
    mask = _LOW[la]
    v = mask.copy()
    rows = np.arange(n)
    for j in range(codes_b.shape[1]):
        u = v & pm[rows, codes_b[:, j]]
        v = ((v + u) | (v - u)) & mask
    return la - _popcount(v)


def _lcs_ww(
    codes_a: np.ndarray, la: np.ndarray, codes_b: np.ndarray, W: int
) -> np.ndarray:
    n = codes_a.shape[0]
    pm = _build_pmw(codes_a, W)
    mask = np.empty((n, W), dtype=np.uint64)
    for w in range(W):
        mask[:, w] = _LOW[np.clip(la - 64 * w, 0, 64)]
    v = mask.copy()
    rows = np.arange(n)
    for j in range(codes_b.shape[1]):
        u = v & pm[rows, codes_b[:, j]]
        v = (_mw_add(v, u) | _mw_sub(v, u)) & mask
    return la - _popcount(v)


def _len_arr(lst: list[str]) -> np.ndarray:
    return np.fromiter((len(s) for s in lst), np.int64, len(lst))


def _lcs_from_arrays(
    A: np.ndarray, la0: np.ndarray, B: np.ndarray, lb0: np.ndarray
) -> np.ndarray:
    """LCS lengths from shared equal-width code matrices (handles the
    shorter-side swap and the 1-word/multiword lane split)."""
    n = A.shape[0]
    swap = la0 > lb0
    if swap.any():
        A_sw = np.where(swap[:, None], B, A)
        B_sw = np.where(swap[:, None], A, B)
    else:
        A_sw, B_sw = A, B
    la = np.where(swap, lb0, la0)
    lb = np.where(swap, la0, lb0)
    max_la = int(la.max()) if n else 0
    lcs = np.zeros(n, dtype=np.int64)
    if max_la > 0:
        B_t = B_sw[:, : int(lb.max())]
        if max_la <= 64:
            lcs = _lcs_w1(A_sw, la, B_t)
        else:
            # split lanes: <=64-char shorter strings stay on the 1-word path
            short = la <= 64
            si = np.nonzero(short)[0]
            if len(si):
                lcs[si] = _lcs_w1(A_sw[si], la[si], B_t[si])
            li = np.nonzero(~short)[0]
            if len(li):
                W = (max_la + 63) // 64
                lcs[li] = _lcs_ww(A_sw[li], la[li], B_t[li], W)
    return lcs


def _indel_from_arrays(
    A: np.ndarray, la0: np.ndarray, B: np.ndarray, lb0: np.ndarray
) -> np.ndarray:
    """fuzz.ratio from shared equal-width code matrices."""
    lcs = _lcs_from_arrays(A, la0, B, lb0)
    total = (la0 + lb0).astype(np.float64)
    dist = (la0 + lb0 - 2 * lcs).astype(np.float64)
    with np.errstate(divide="ignore", invalid="ignore"):
        r = 100.0 * (1.0 - dist / total)
    return np.where(total == 0.0, 100.0, r)


def lcs_batch(a_list: list[str], b_list: list[str]) -> np.ndarray:
    """LCS lengths with per-row scalar fallback (non-ASCII / over-length)."""
    n = len(a_list)
    out = np.zeros(n, dtype=np.int64)
    if n == 0:
        return out
    vec_mask = [_vec_ok(a_list[i]) and _vec_ok(b_list[i]) for i in range(n)]
    if all(vec_mask):
        la, lb = _len_arr(a_list), _len_arr(b_list)
        L = int(max(la.max(), lb.max()))
        return _lcs_from_arrays(_codes(a_list, L), la, _codes(b_list, L), lb)
    vec_idx = [i for i in range(n) if vec_mask[i]]
    for i in range(n):
        if not vec_mask[i]:
            out[i] = kernels.lcs_length(a_list[i], b_list[i])
    if vec_idx:
        sa = [a_list[i] for i in vec_idx]
        sb = [b_list[i] for i in vec_idx]
        out[vec_idx] = lcs_batch(sa, sb)
    return out


def indel_ratio_batch(a_list: list[str], b_list: list[str]) -> np.ndarray:
    """Vector fuzz.ratio over ASCII string pairs (<= MAX_VEC_LEN)."""
    n = len(a_list)
    if n == 0:
        return np.empty(0, dtype=np.float64)
    la0, lb0 = _len_arr(a_list), _len_arr(b_list)
    L = int(max(la0.max(), lb0.max()))
    return _indel_from_arrays(_codes(a_list, L), la0, _codes(b_list, L), lb0)


# ---------------------------------------------------------------------------
# Jaro-Winkler
# ---------------------------------------------------------------------------

def _jaro_core_w1(
    codes_a: np.ndarray,
    la: np.ndarray,
    codes_b: np.ndarray,
    lb: np.ndarray,
) -> tuple[np.ndarray, np.ndarray]:
    """(matches, transpositions*2) with one uint64 word (lb <= 64)."""
    n, La = codes_a.shape
    window = np.maximum(np.maximum(la, lb) // 2 - 1, 0)
    pm = _build_pm1(codes_b)
    taken = np.zeros(n, dtype=np.uint64)
    # all window masks precomputed in one vector op: step i allows b bits
    # [max(i-w,0), min(i+w+1, lb)) — la may exceed 64 (only lb is bounded),
    # so clamp for _LOW indexing
    steps = np.arange(La)
    lom = np.clip(steps[:, None] - window[None, :], 0, 64)
    him = np.minimum(steps[:, None] + window[None, :] + 1, lb[None, :])
    wmask = _LOW[him] & ~_LOW[lom]  # (La, n)
    low_mat = np.zeros((n, La), dtype=np.uint64)
    rows = np.arange(n)
    for i in range(La):
        cand = pm[rows, codes_a[:, i]] & wmask[i] & ~taken
        low = cand & (~cand + _ONE)
        taken |= low
        low_mat[:, i] = low
    matched = low_mat != _ZERO
    matches = matched.sum(axis=1)
    if La == 0 or codes_b.shape[1] == 0:
        return matches, np.zeros(n, dtype=np.int64)
    # index extraction deferred out of the loop: one exact float64 log2 pass
    midx = np.full((n, La), -1, dtype=np.int64)
    midx[matched] = np.log2(low_mat[matched].astype(np.float64)).astype(np.int64)
    sentinel = np.int64(1) << 40
    sorted_m = np.sort(np.where(matched, midx, sentinel), axis=1)
    order = np.argsort(~matched, axis=1, kind="stable")  # valid first, a-order
    compact = np.take_along_axis(midx, order, axis=1)
    safe_c = np.where(compact >= 0, compact, 0)
    safe_s = np.where(sorted_m < sentinel, sorted_m, 0)
    ca = codes_b[rows[:, None], safe_c]
    cs = codes_b[rows[:, None], safe_s]
    validpos = steps[None, :] < matches[:, None]
    t2 = ((ca != cs) & validpos).sum(axis=1)
    return matches, t2


def _jaro_core_ww(
    codes_a: np.ndarray,
    la: np.ndarray,
    codes_b: np.ndarray,
    lb: np.ndarray,
    W: int,
) -> tuple[np.ndarray, np.ndarray]:
    n, La = codes_a.shape
    window = np.maximum(np.maximum(la, lb) // 2 - 1, 0)
    pm = _build_pmw(codes_b, W)
    taken = np.zeros((n, W), dtype=np.uint64)
    midx = np.full((n, La), -1, dtype=np.int64)
    rows = np.arange(n)
    for i in range(La):
        lo = np.clip(i - window, 0, None)
        hi = np.minimum(i + window + 1, lb)
        pmg = pm[rows, codes_a[:, i]]
        wm = np.empty((n, W), dtype=np.uint64)
        for w in range(W):
            wm[:, w] = _LOW[np.clip(hi - 64 * w, 0, 64)] & ~_LOW[
                np.clip(lo - 64 * w, 0, 64)
            ]
        cand = pmg & wm & ~taken
        nz = cand != _ZERO
        matched = nz.any(axis=1)
        firstw = np.argmax(nz, axis=1)
        cw = cand[rows, firstw]
        low = cw & (~cw + _ONE)
        bidx = np.zeros(n, dtype=np.int64)
        pos = low != _ZERO
        bidx[pos] = np.log2(low[pos].astype(np.float64)).astype(np.int64)
        taken[rows, firstw] |= low
        midx[:, i] = np.where(matched, firstw * 64 + bidx, -1)
    matches = (midx >= 0).sum(axis=1)
    if La == 0 or codes_b.shape[1] == 0:
        return matches, np.zeros(n, dtype=np.int64)
    sentinel = np.int64(1) << 40
    sorted_m = np.sort(np.where(midx >= 0, midx, sentinel), axis=1)
    order = np.argsort(midx < 0, axis=1, kind="stable")
    compact = np.take_along_axis(midx, order, axis=1)
    safe_c = np.where(compact >= 0, compact, 0)
    safe_s = np.where(sorted_m < sentinel, sorted_m, 0)
    ca = codes_b[rows[:, None], safe_c]
    cs = codes_b[rows[:, None], safe_s]
    validpos = np.arange(La)[None, :] < matches[:, None]
    t2 = ((ca != cs) & validpos).sum(axis=1)
    return matches, t2


def _jw_from_parts(
    matches: np.ndarray,
    t2: np.ndarray,
    la: np.ndarray,
    lb: np.ndarray,
    prefix: np.ndarray,
) -> np.ndarray:
    m = matches.astype(np.float64)
    t = t2 / 2.0
    la_f = la.astype(np.float64)
    lb_f = lb.astype(np.float64)
    with np.errstate(divide="ignore", invalid="ignore"):
        j = (m / la_f + m / lb_f + (m - t) / m) / 3.0
    j = np.where(matches == 0, 0.0, j)
    j = np.where((la == 0) & (lb == 0), 1.0, j)
    j = np.where(j > 0.7, j + prefix * 0.1 * (1.0 - j), j)
    return 100.0 * j


def _common_prefix4(
    codes_a: np.ndarray, la: np.ndarray, codes_b: np.ndarray, lb: np.ndarray
) -> np.ndarray:
    P = min(4, codes_a.shape[1], codes_b.shape[1])
    n = codes_a.shape[0]
    if P == 0:
        return np.zeros(n, dtype=np.float64)
    both = np.minimum(np.minimum(la, lb), P)
    eq = (codes_a[:, :P] == codes_b[:, :P]) & (np.arange(P)[None, :] < both[:, None])
    return np.cumprod(eq, axis=1).sum(axis=1).astype(np.float64)


def _jw_from_arrays(
    A: np.ndarray, la: np.ndarray, B: np.ndarray, lb: np.ndarray
) -> np.ndarray:
    """Jaro-Winkler from shared code matrices (widths may exceed lengths)."""
    n = A.shape[0]
    prefix = _common_prefix4(A, la, B, lb)
    La = int(la.max()) if n else 0
    A_t = A[:, :La]
    out = np.empty(n, dtype=np.float64)
    short = lb <= 64
    if short.all():
        matches, t2 = _jaro_core_w1(A_t, la, B, lb)
        return _jw_from_parts(matches, t2, la, lb, prefix)
    si = np.nonzero(short)[0]
    if len(si):
        m_s, t_s = _jaro_core_w1(
            A_t[si][:, : max(1, int(la[si].max()))], la[si], B[si], lb[si]
        )
        out[si] = _jw_from_parts(m_s, t_s, la[si], lb[si], prefix[si])
    li = np.nonzero(~short)[0]
    if len(li):
        W = (int(lb[li].max()) + 63) // 64
        m_l, t_l = _jaro_core_ww(A_t[li], la[li], B[li], lb[li], W)
        out[li] = _jw_from_parts(m_l, t_l, la[li], lb[li], prefix[li])
    return out


def jaro_winkler_batch(a_list: list[str], b_list: list[str]) -> np.ndarray:
    """Vector Jaro-Winkler x100, bit-exact with kernels.jaro_winkler."""
    n = len(a_list)
    if n == 0:
        return np.empty(0, dtype=np.float64)
    la, lb = _len_arr(a_list), _len_arr(b_list)
    L = int(max(la.max(), lb.max()))
    return _jw_from_arrays(_codes(a_list, L), la, _codes(b_list, L), lb)


# ---------------------------------------------------------------------------
# token_set_ratio + dispatch
# ---------------------------------------------------------------------------

def _vec_ok(s: str) -> bool:
    # NUL is the pad char of the code matrices, so a literal '\0' in the
    # input must take the scalar lane (caught by the NUL differential test)
    return len(s) <= MAX_VEC_LEN and s.isascii() and "\0" not in s


def dispatch_pairs(a_list, b_list, batch_fn, scalar_fn, vec_mask=None) -> np.ndarray:
    """Run batch_fn on vectorizable rows, scalar_fn on the rest."""
    n = len(a_list)
    if vec_mask is None:
        vec_mask = [_vec_ok(a_list[i]) and _vec_ok(b_list[i]) for i in range(n)]
    if all(vec_mask):
        return batch_fn(a_list, b_list)
    out = np.empty(n, dtype=np.float64)
    vec_idx = [i for i in range(n) if vec_mask[i]]
    for i in range(n):
        if not vec_mask[i]:
            out[i] = scalar_fn(a_list[i], b_list[i])
    if vec_idx:
        out[vec_idx] = batch_fn(
            [a_list[i] for i in vec_idx], [b_list[i] for i in vec_idx]
        )
    return out


def token_set_ratio_batch(a_list: list[str], b_list: list[str]) -> np.ndarray:
    """Vector token_set_ratio: per-pair set algebra is O(#tokens) Python;
    the only superlinear piece (the s1-vs-s2 InDel) is batched.

    Prefix shortcut: s1 and s2 share the prefix ``s_inter + ' '`` whenever
    the intersection is non-empty, and LCS(P+x, P+y) = |P| + LCS(x, y), so
    the batched DP runs only over the (short) disjoint-token strings —
    bit-exact with kernels.token_set_ratio, which DPs the full s1/s2."""
    n = len(a_list)
    out = np.empty(n, dtype=np.float64)
    need_i: list[int] = []
    need_a: list[str] = []
    need_b: list[str] = []
    need_lp: list[int] = []
    need_tot: list[int] = []
    for i in range(n):
        ta = set(a_list[i].split())
        tb = set(b_list[i].split())
        if not ta and not tb:
            out[i] = 100.0
            continue
        inter = sorted(ta & tb)
        diff_ab = sorted(ta - tb)
        diff_ba = sorted(tb - ta)
        if inter and (not diff_ab or not diff_ba):
            out[i] = 100.0
            continue
        li = sum(len(t) for t in inter) + max(len(inter) - 1, 0)
        dab = " ".join(diff_ab)
        dba = " ".join(diff_ba)
        lp = li + 1 if inter else 0  # shared "inter + ' '" prefix of s1/s2
        l1 = lp + len(dab) if inter else len(dab)
        l2 = lp + len(dba) if inter else len(dba)
        r1 = 100.0 * (2.0 * li) / (li + l1) if (li + l1) else 100.0
        r2 = 100.0 * (2.0 * li) / (li + l2) if (li + l2) else 100.0
        out[i] = max(r1, r2)
        need_i.append(i)
        need_a.append(dab)
        need_b.append(dba)
        need_lp.append(lp)
        need_tot.append(l1 + l2)
    if need_i:
        lcs = np.asarray(need_lp, dtype=np.int64) + lcs_batch(need_a, need_b)
        tot = np.asarray(need_tot, dtype=np.float64)
        dist = tot - 2.0 * lcs
        dp = 100.0 * (1.0 - dist / tot)  # tot > 0 in this branch
        ii = np.array(need_i)
        out[ii] = np.maximum(out[ii], dp)
    return out


def sim_triple_batch(
    a_list: list[str | None], b_list: list[str | None]
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(indel, jw, tsr) arrays for a batch of pairs — the vector twin of
    kernels.sim_triple_py, with per-row scalar fallback for non-ASCII or
    over-length strings."""
    av = [x or "" for x in a_list]
    bv = [y or "" for y in b_list]
    n = len(av)
    vec_mask = [_vec_ok(av[i]) and _vec_ok(bv[i]) for i in range(n)]
    if n and all(vec_mask):
        # hot path: one shared pair of code matrices feeds both kernels
        la, lb = _len_arr(av), _len_arr(bv)
        L = int(max(la.max(), lb.max()))
        A, B = _codes(av, L), _codes(bv, L)
        indel = _indel_from_arrays(A, la, B, lb)
        jw = _jw_from_arrays(A, la, B, lb)
    else:
        indel = dispatch_pairs(
            av, bv, indel_ratio_batch, kernels.indel_ratio, vec_mask
        )
        jw = dispatch_pairs(
            av, bv, jaro_winkler_batch, kernels.jaro_winkler, vec_mask
        )
    tsr = token_set_ratio_batch(av, bv)
    return indel, jw, tsr
