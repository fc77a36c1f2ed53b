"""Vectorized pandas UDFs (Arrow-batched) — the ONLY Python crossings.

Per ``input_hint``: "vectorized pandas/Arrow UDFs (no per-row Python)
throughout". Each UDF receives whole Arrow batches as pandas Series; the
similarity scorers run the batch through the numpy lock-step kernels
(``batch_kernels.py`` — every pair advances one character per step, all
pairs at once, bit-exact with the scalar oracles in ``kernels.py``).
Everything that CAN stay native (regex normalize steps, url parsing, array
ops) is native in ``native.py`` — these UDFs cover only ascii-fold
transliteration and the similarity scorers.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import hashing, kernels


def _ascii_mask(filled: pd.Series):
    """Vectorized pure-ASCII row mask (pyarrow C kernel, no per-row Python).

    At corpus scale most rows are already ASCII, so the fold/normalize UDFs
    split each Arrow batch on this mask: ASCII rows take a vectorized
    pandas ``.str`` lane (the fold is the identity for them), and only the
    non-ASCII remainder pays the per-string Python transliteration — the
    same dispatch discipline as ``batch_kernels.dispatch_pairs``.
    """
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    arr = pa.Array.from_pandas(filled, type=pa.string())
    return np.asarray(pc.string_is_ascii(arr).fill_null(False))


# Python's re ``\s``, restricted to ASCII code points, is exactly
# [ \t\n\x0b\x0c\r\x1c-\x1f] — spelled out so the RE2-backed pyarrow lane
# (which would read ``\s`` as only [\t\n\f\r ]) matches the scalar kernel
# bit-for-bit on the pure-ASCII rows it handles. Differential-tested.
_RE2_NON_ALNUM = r"[^a-z0-9 \t\n\x0b\x0c\r\x1c-\x1f]"
_RE2_WS_RUN = r"[ \t\n\x0b\x0c\r\x1c-\x1f]+"


def _normalize_text_batch(s: pd.Series) -> pd.Series:
    """Batch normalize_text: a pyarrow/RE2 vector lane for pure-ASCII rows.

    ascii_fold is the identity on ASCII, so those rows reduce to lower +
    drop-non-alnum + collapse-ws + trim — four pyarrow C kernels over the
    whole batch, zero Python frames. (A pandas ``.str`` variant was tried
    first and measured 0.9x — it still runs Python ``re`` per element; the
    RE2 kernels are the actual win.) Only the non-ASCII remainder pays the
    per-string Python transliteration. Bit-parity with the scalar kernel is
    pytest-enforced, hypothesis included.
    """
    import pyarrow as pa
    import pyarrow.compute as pc

    filled = s.fillna("")
    mask = _ascii_mask(filled)
    if not mask.any():
        return filled.map(kernels.normalize_text)

    def _vec(series: pd.Series) -> pd.Series:
        arr = pa.Array.from_pandas(series, type=pa.string())
        arr = pc.utf8_lower(arr)
        arr = pc.replace_substring_regex(arr, pattern=_RE2_NON_ALNUM, replacement="")
        arr = pc.replace_substring_regex(arr, pattern=_RE2_WS_RUN, replacement=" ")
        return pc.utf8_trim(arr, characters=" ").to_pandas()

    if mask.all():
        vals = _vec(filled)
        vals.index = s.index
        return vals
    out = pd.Series(index=s.index, dtype=object)
    out[mask] = _vec(filled[mask]).to_numpy()
    rem = ~mask
    out[rem] = filled[rem].map(kernels.normalize_text)
    return out


@F.pandas_udf(T.StringType())
def norm_text_udf(s: pd.Series) -> pd.Series:
    """Reference normalize_text (check_landing_page...py:16-27)."""
    return _normalize_text_batch(s)


def _ascii_fold_batch(s: pd.Series) -> pd.Series:
    # ascii_fold is the identity on pure-ASCII rows: an all-ASCII batch
    # returns as-is with zero per-row work. Mixed batches fall back to the
    # scalar map — its own isascii() short-circuit already makes ASCII rows
    # ~0.5us each, and a copy+masked-assign variant measured SLOWER.
    notna = s.notna().to_numpy()
    if (_ascii_mask(s.fillna("")) | ~notna).all():
        return s
    return s.map(lambda x: kernels.ascii_fold(x) if x is not None else None)


@F.pandas_udf(T.StringType())
def ascii_fold_udf(s: pd.Series) -> pd.Series:
    return _ascii_fold_batch(s)


@F.pandas_udf(T.DoubleType())
def indel_ratio_udf(a: pd.Series, b: pd.Series) -> pd.Series:
    """rapidfuzz fuzz.ratio parity (check_landing_page...py:163-164,232-233)."""
    from . import batch_kernels

    return pd.Series(
        batch_kernels.dispatch_pairs(
            [x or "" for x in a], [y or "" for y in b],
            batch_kernels.indel_ratio_batch, kernels.indel_ratio,
        ),
        index=a.index, dtype="float64",
    )


@F.pandas_udf(T.DoubleType())
def jaro_winkler_udf(a: pd.Series, b: pd.Series) -> pd.Series:
    from . import batch_kernels

    return pd.Series(
        batch_kernels.dispatch_pairs(
            [x or "" for x in a], [y or "" for y in b],
            batch_kernels.jaro_winkler_batch, kernels.jaro_winkler,
        ),
        index=a.index, dtype="float64",
    )


_SIM_STRUCT = T.StructType(
    [
        T.StructField("indel", T.DoubleType()),
        T.StructField("jw", T.DoubleType()),
        T.StructField("tsr", T.DoubleType()),
    ]
)


@F.pandas_udf(_SIM_STRUCT)
def sim_features_udf(a: pd.Series, b: pd.Series) -> pd.DataFrame:
    """All three similarity features in ONE Arrow crossing (the scoring hot
    path serializes each title pair once instead of three times).

    Two batch-level optimizations for blocked candidate pairs:
    - equal-string fast path (identical normalized titles are the most
      common case inside ISSN/band blocks),
    - per-batch memo: band families repeat the same (a, b) title pair many
      times across different doc pairs — score each distinct pair once."""
    import numpy as np

    from . import batch_kernels

    n = len(a)
    indel = np.full(n, 100.0)
    jw = np.full(n, 100.0)
    tsr = np.full(n, 100.0)
    # distinct non-equal pairs only (equal pairs short-circuit to 100);
    # the whole distinct set is then scored in one numpy lock-step pass
    seen: dict[tuple, int] = {}
    da: list = []
    db: list = []
    rows: list[int] = []
    didx: list[int] = []
    for i, (x, y) in enumerate(zip(a, b)):
        if x == y:
            continue
        key = (x, y)
        j = seen.get(key)
        if j is None:
            j = seen[key] = len(da)
            da.append(x)
            db.append(y)
        rows.append(i)
        didx.append(j)
    if da:
        vi, vj, vt = batch_kernels.sim_triple_batch(da, db)
        ri = np.asarray(rows)
        di = np.asarray(didx)
        indel[ri] = vi[di]
        jw[ri] = vj[di]
        tsr[ri] = vt[di]
    return pd.DataFrame({"indel": indel, "jw": jw, "tsr": tsr}, index=a.index)


def make_minhash_bands_udf(
    bands: int = 16,
    shingle_k: int = 3,
    seed: int = 42,
    tokenizer: str = "shingle",
):
    """MinHash LSH band keys over normalized text (north_rule title blocking).

    ``tokenizer``: 'shingle' = word k-shingles (catches token-level edits),
    'char' = character k-grams (catches letter-level typos; word shingles
    miss those because one letter flips k whole shingles). The blocker ORs
    both families. Deterministic seeds -> identical bands on every executor.
    """
    tok = (
        (lambda t: hashing.shingles(t, k=shingle_k))
        if tokenizer == "shingle"
        else (lambda t: hashing.char_ngrams(t, n=shingle_k))
    )

    @F.pandas_udf(T.ArrayType(T.StringType()))
    def _udf(s: pd.Series) -> pd.Series:
        # tokenized batch -> ONE vectorized signature pass (bit-identical to
        # the per-doc minhash_bands; differential-tested)
        token_lists = [tok(text) if text else [] for text in s]
        return pd.Series(
            hashing.minhash_bands_batch(token_lists, bands=bands, seed=seed),
            index=s.index,
        )

    return _udf


def make_minhash_signature_udf():
    """Full minhash SIGNATURE (array of NUM_PERM 32-bit values over word
    3-shingles, seed 42) of normalized text — the committed representation
    that enables verify-free Jaccard estimates
    (``dedup.minhash_jaccard_estimates``): est = fraction of equal slots.
    Same shingling/perms as ``make_minhash_bands_udf``, so
    bands and signatures derived from one committed table never disagree.
    Token-less docs get the all-sentinel signature (they emit no bands, so
    no candidate pair ever reads it)."""

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def _udf(s: pd.Series) -> pd.Series:
        token_lists = [hashing.shingles(t or "") for t in s]
        sigs = hashing.minhash_signatures_batch(token_lists)
        return pd.Series(sigs.astype("int64").tolist(), index=s.index)

    return _udf


def make_hyperplane_bucket_udf(planes):
    """Arrow-batched sign-bit bucket pass for hyperplane LSH.

    BIT-EXACT with the higher-order-function formulation it replaces
    (``aggregate(zip_with(...))`` left fold from 0.0): each plane dot
    accumulates with the SAME left-to-right IEEE double additions —
    ``acc = acc + float64(v_j) * p_j`` one dimension at a time, vectorized
    across the batch rows, never ``np.dot`` (whose pairwise summation order
    could flip a sign bit; the driver hash is bit-sensitive). Null
    embedding rows keep the old semantics: bucket '' (concat_ws over
    all-null bits).
    """
    import numpy as np

    P = np.asarray(planes, dtype=np.float64)  # (n_planes, dim)

    @F.pandas_udf(T.StringType())
    def _udf(vs: pd.Series) -> pd.Series:
        mask = vs.notna().to_numpy()
        buckets = np.full(len(vs), "", dtype=object)
        if mask.any():
            V = np.stack(vs[mask].to_numpy()).astype(np.float64)  # (m, dim)
            if V.shape[1] != P.shape[1]:
                # same fail-fast contract as the operators' column-level
                # guard: a wrong-width vector must never silently collapse
                # buckets (ragged batches already fail in np.stack above)
                raise ValueError(
                    f"embedding length != dim={P.shape[1]}: {V.shape[1]}"
                )
            m = V.shape[0]
            bits = np.empty((P.shape[0], m), dtype=bool)
            for i in range(P.shape[0]):
                acc = np.zeros(m)
                for j in range(P.shape[1]):
                    acc += V[:, j] * P[i, j]  # sequential fold, HOF order
                bits[i] = acc > 0
            chars = np.where(bits, "1", "0")
            buckets[mask] = ["".join(row) for row in chars.T]
        return pd.Series(buckets, index=vs.index)

    return _udf


@F.pandas_udf(T.DoubleType())
def seq_norm_udf(a: pd.Series) -> pd.Series:
    """sqrt of the left-to-right squared-sum fold — Arrow-batched twin of
    the interpreted ``aggregate(zip_with(v, v))`` norm (same sequential
    addition order, one dimension at a time across the batch, so the
    doubles are bit-identical). Replaces the per-row interpreted HOF in
    the ANN scoring paths (guide §4.2)."""
    import numpy as np

    mask = a.notna().to_numpy()
    out = np.full(len(a), np.nan)
    if mask.any():
        A = np.stack(a[mask].to_numpy()).astype(np.float64)
        acc = np.zeros(A.shape[0])
        for j in range(A.shape[1]):
            acc += A[:, j] * A[:, j]
        out[mask] = np.sqrt(acc)
    return pd.Series(out).where(pd.Series(mask))


@F.pandas_udf(T.DoubleType())
def seq_dot_udf(a: pd.Series, b: pd.Series) -> pd.Series:
    """Pairwise dot product with the HOF fold's exact addition order (see
    ``make_hyperplane_bucket_udf``); one Arrow crossing per batch."""
    import numpy as np

    mask = (a.notna() & b.notna()).to_numpy()
    out = np.full(len(a), np.nan)
    if mask.any():
        A = np.stack(a[mask].to_numpy()).astype(np.float64)
        B = np.stack(b[mask].to_numpy()).astype(np.float64)
        acc = np.zeros(A.shape[0])
        for j in range(A.shape[1]):
            acc += A[:, j] * B[:, j]
        out[mask] = acc
    return pd.Series(out).where(pd.Series(mask))


@F.pandas_udf(T.ArrayType(T.StringType()))
def norm_nonempty_array_udf(arr: pd.Series) -> pd.Series:
    """[norm(x) for x in arr if x], then drop empties — the affiliation
    normalization of check_landing_page...py:209-213 (both filters)."""

    def one(a):
        if a is None:
            return []
        normed = [kernels.normalize_text(x) for x in a if x]
        return [x for x in normed if x]

    return arr.map(one)


@F.pandas_udf(T.DoubleType())
def max_indel_over_array_udf(q: pd.Series, arr: pd.Series) -> pd.Series:
    """max(fuzz.ratio(q, x) for x in arr), 0.0 on empty — the institution
    score loop of check_landing_page...py:230-241. The (query, candidate)
    pairs are flattened and scored in one numpy lock-step pass, then
    max-reduced back per row."""
    import numpy as np

    from . import batch_kernels

    n = len(q)
    out = np.zeros(n, dtype=np.float64)
    fa: list = []
    fb: list = []
    rows: list[int] = []
    for i, (query, cands) in enumerate(zip(q, arr)):
        if not query or cands is None or len(cands) == 0:
            continue
        for c in cands:
            fa.append(query)
            fb.append(c)
            rows.append(i)
    if fa:
        vals = batch_kernels.dispatch_pairs(
            [x or "" for x in fa],
            [y or "" for y in fb],
            batch_kernels.indel_ratio_batch,
            kernels.indel_ratio,
        )
        np.maximum.at(out, np.asarray(rows), vals)
    return pd.Series(out, index=q.index, dtype="float64")


@F.pandas_udf(T.LongType())
def simhash_udf(s: pd.Series) -> pd.Series:
    # ASCII-ws tokenization keeps the DuckDB oracle ('\s+' under RE2)
    # byte-exact on non-ASCII input
    return s.map(lambda x: hashing.simhash64(hashing.ascii_split(x)) if x else 0).astype(
        "int64"
    )
