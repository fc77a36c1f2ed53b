"""Deterministic hashing kernels: MinHash, SimHash, n-gram shingles.

Used by title-band blocking (north_rule) and the dedup operator family.
All seeds are fixed constants -> bit-identical output across runs, executors
and cluster sizes (a hard requirement for blocking keys: the same title must
land in the same band on every executor).

numpy-vectorized across the tokens of one value; the pandas-UDF wrappers in
``udfs.py`` loop over rows of an Arrow batch (no Spark row-at-a-time UDFs).
"""

from __future__ import annotations

import hashlib
import re

import numpy as np

# ASCII-only whitespace split: Python's str.split() treats Unicode
# whitespace (NBSP, thin space, ...) as separators. The class is the
# EXACT RE2 '\s' set ([\t\n\f\r ]) spelled out: Python re.ASCII '\s' and
# Java '\s' additionally match \x0b, so only the explicit class keeps
# Python tokenization, Spark-native splits, and the DuckDB oracles
# byte-exact on control characters too.
_ASCII_WS = re.compile(r"[ \t\n\f\r]+")

# MinHash signature length: every LSH family and the Jaccard estimate use 64
NUM_PERM = 64
# bound on the (NUM_PERM, tokens) intermediate of minhash_signatures_batch
_CHUNK_TOKENS = 200_000


def ascii_split(text: str) -> list[str]:
    return [t for t in _ASCII_WS.split(text) if t]

_MERSENNE = np.uint64((1 << 61) - 1)
_MAXH = np.uint64((1 << 32) - 1)


def md5_u64(token: str) -> int:
    """Lower 64 bits of md5 (little-endian of digest bytes 8..16).

    Chosen because it equals DuckDB's ``md5_number_lower(token)``, so every
    LSH key family built on it is independently recomputable in plain SQL
    (the driver's correctness oracle)."""
    return int.from_bytes(hashlib.md5(token.encode("utf-8")).digest()[8:16], "little")


def _perm_params(num_perm: int, seed: int = 42) -> tuple[np.ndarray, np.ndarray]:
    rng = np.random.RandomState(seed)
    a = rng.randint(1, (1 << 31) - 1, size=num_perm).astype(np.uint64)
    b = rng.randint(0, (1 << 31) - 1, size=num_perm).astype(np.uint64)
    return a, b


_PERM_CACHE: dict[tuple[int, int], tuple[np.ndarray, np.ndarray]] = {}


def _perms(num_perm: int, seed: int = 42) -> tuple[np.ndarray, np.ndarray]:
    key = (num_perm, seed)
    if key not in _PERM_CACHE:
        _PERM_CACHE[key] = _perm_params(num_perm, seed)
    return _PERM_CACHE[key]


# Per-worker memo: token -> 32-bit hash. Char n-grams and stop-word shingles
# repeat massively across a corpus, and Spark reuses Python workers across
# Arrow batches, so the md5 cost amortizes to a dict hit. Bounded: cleared
# when it exceeds ~2M entries (worst case a few hundred MB, typical far less).
_H32_MEMO: dict[str, int] = {}
_H32_MEMO_MAX = 2_000_000


def token_hashes(tokens: list[str]) -> np.ndarray:
    """Stable 32-bit hashes of tokens (md5 lower-64 masked to 32 bits —
    ``md5_number_lower(t) & 0xFFFFFFFF`` in DuckDB)."""
    memo = _H32_MEMO
    out = np.empty(len(tokens), dtype=np.uint64)
    for i, t in enumerate(tokens):
        h = memo.get(t)
        if h is None:
            if len(memo) >= _H32_MEMO_MAX:
                memo.clear()
            h = memo[t] = md5_u64(t) & 0xFFFFFFFF
        out[i] = h
    return out


def shingles(text: str, k: int = 3) -> list[str]:
    """Word k-shingles of normalized text (k=3 default; shorter texts -> whole
    text). ASCII-whitespace tokenization (see ascii_split)."""
    toks = ascii_split(text)
    if len(toks) < k:
        return [" ".join(toks)] if toks else []
    return [" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)]


def char_ngrams(text: str, n: int = 3) -> list[str]:
    if len(text) < n:
        return [text] if text else []
    return [text[i : i + n] for i in range(len(text) - n + 1)]


def minhash_signature(tokens: list[str], seed: int = 42) -> np.ndarray:
    """NUM_PERM 32-bit minhash values; empty input -> all MAXH sentinel."""
    if not tokens:
        return np.full(NUM_PERM, _MAXH, dtype=np.uint64)
    h = token_hashes(tokens)  # (n,)
    a, b = _perms(NUM_PERM, seed)  # (p,)
    # (p, n) universal hash: ((a*h + b) mod mersenne) & 32-bit
    vals = (a[:, None] * h[None, :] + b[:, None]) % _MERSENNE
    return (vals & _MAXH).min(axis=1)


def minhash_bands(tokens: list[str], bands: int = 16, seed: int = 42) -> list[str]:
    """LSH band keys: signature split into ``bands`` rows-per-band groups,
    each band rendered as ``b{i}:{v0-v1-...}`` (decimal join — longer than a
    hash of the band bytes but recomputable in SQL via string_agg, which is
    what lets the driver oracle the whole LSH family).

    Empty token list -> NO bands (``[]``), not sentinel bands: the all-MAXH
    signature would otherwise emit ``bands`` identical keys for every
    token-less doc (e.g. tab-only text whose normalization collapses to a
    single space), cross-pairing all of them as near-dup candidates. A doc
    with no tokens carries no signal and belongs in no bucket."""
    if not tokens:
        return []
    sig = minhash_signature(tokens, seed=seed)
    r = NUM_PERM // bands
    out = []
    for i in range(bands):
        band = sig[i * r : (i + 1) * r]
        out.append(f"b{i}:" + "-".join(str(int(v)) for v in band))
    return out


def minhash_signatures_batch(token_lists: list[list[str]], seed: int = 42) -> np.ndarray:
    """(n_docs, NUM_PERM) uint64 minhash matrix for a whole batch of
    tokenized docs in a few large numpy ops — bit-identical to calling
    :func:`minhash_signature` per doc (same perms, same universal hash,
    segmented min instead of a per-doc ``.min``), but without the per-doc
    numpy dispatch overhead that dominated the banding UDF (measured ~10x
    on Arrow-sized batches). Empty docs get the all-``_MAXH`` sentinel row.

    ``_CHUNK_TOKENS`` bounds the (NUM_PERM, total_tokens) intermediate to
    ~NUM_PERM * chunk * 8 bytes (100 MB) regardless of batch size; chunks
    split on doc boundaries so segments never straddle.
    """
    n = len(token_lists)
    out = np.full((n, NUM_PERM), _MAXH, dtype=np.uint64)
    a, b = _perms(NUM_PERM, seed)
    i = 0
    while i < n:
        j = i
        total = 0
        idx: list[int] = []
        while j < n and (total == 0 or total + len(token_lists[j]) <= _CHUNK_TOKENS):
            if token_lists[j]:
                idx.append(j)
                total += len(token_lists[j])
            j += 1
        if idx:
            flat: list[str] = []
            starts = np.empty(len(idx), dtype=np.intp)
            for k, d in enumerate(idx):
                starts[k] = len(flat)
                flat.extend(token_lists[d])
            h = token_hashes(flat)  # (total,)
            # corpus tokens repeat heavily (stop shingles, char n-grams from
            # a small alphabet: ~10x duplication measured at sf0.1), and the
            # universal-hash line was the kernel's hot spot — so compute the
            # (p, n_distinct) matrix once and GATHER per occurrence instead
            # of re-doing mul+add+mod per duplicate (guide §1.2 "per-task
            # work": 5.5x on the kernel, bit-identical since the per-token
            # values are exactly the ones the dense form would produce).
            hu, inv = np.unique(h, return_inverse=True)
            vu = (a[:, None] * hu[None, :] + b[:, None]) % _MERSENNE
            vu &= _MAXH
            vals = vu[:, inv]  # (p, total)
            mins = np.minimum.reduceat(vals, starts, axis=1)  # (p, len(idx))
            out[idx, :] = mins.T
        i = j
    return out


def minhash_bands_batch(
    token_lists: list[list[str]], bands: int = 16, seed: int = 42
) -> list[list[str]]:
    """Batch twin of :func:`minhash_bands`: same band-key strings, one
    vectorized signature pass for the whole batch. Token-less docs get
    ``[]`` (no bands), matching the scalar function."""
    sigs = minhash_signatures_batch(token_lists, seed=seed)
    r = NUM_PERM // bands
    rows = sigs.tolist()  # C-level uint64 -> Python int conversion
    out: list[list[str]] = []
    for d, toks in enumerate(token_lists):
        if not toks:
            out.append([])
            continue
        row = rows[d]
        out.append(
            [
                f"b{i}:" + "-".join(map(str, row[i * r : (i + 1) * r]))
                for i in range(bands)
            ]
        )
    return out


def simhash64(tokens: list[str]) -> int:
    """64-bit SimHash over md5-lower-64 token hashes (signed int64 for Spark).

    Vectorized: one (n_tokens, 64) bit matrix via unpackbits instead of a
    per-token Python bit loop; duplicate tokens weight by count as before.
    Bit j of the code is set iff sum over tokens of (+1 if bit j of the
    token hash else -1) is > 0 — recomputable in SQL from md5_number_lower."""
    if not tokens:
        return 0
    h = np.fromiter((md5_u64(t) for t in tokens), dtype=np.uint64, count=len(tokens))
    # little-endian byte view -> (n, 64) bit matrix with column j = bit j
    bits = np.unpackbits(h.view(np.uint8).reshape(-1, 8), axis=1, bitorder="little")
    acc = 2 * bits.sum(axis=0, dtype=np.int64) - len(tokens)
    out = int.from_bytes(np.packbits(acc > 0, bitorder="little").tobytes(), "little")
    # wrap to signed int64
    return out - (1 << 64) if out >= (1 << 63) else out


def jaccard(a: set[str], b: set[str]) -> float:
    if not a and not b:
        return 1.0
    u = len(a | b)
    return len(a & b) / u if u else 0.0
