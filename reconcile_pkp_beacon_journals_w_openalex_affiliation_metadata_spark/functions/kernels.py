"""Pure-Python/numpy scalar kernels (no Spark imports).

These are the batch bodies of the vectorized pandas UDFs in ``udfs.py`` and
the oracles for unit/property tests. Semantics follow the reference:

- ``normalize_text``  check_landing_page_author_affiliation_parsing_against_openalex.py:16-27
  (unidecode -> ASCII, lowercase, strip non [a-z0-9\\s], collapse whitespace)
- ``indel_ratio``     rapidfuzz ``fuzz.ratio`` = normalized InDel similarity
  x100 (InDel = Levenshtein with substitutions disallowed = len_a + len_b -
  2*LCS), used at check_landing_page...py:163-164,232-233. Implemented with
  the Allison-Dix / Hyyro bit-parallel LCS on Python big ints.
- ``jaro_winkler`` / ``token_set_ratio``  north_rule scoring features,
  published algorithms (Winkler 1990; fuzzywuzzy/rapidfuzz token_set).

``ascii_fold`` replaces the ``unidecode`` dependency (not installed here):
per-char table fold (Latin non-decomposables, Greek/Cyrillic ALA-LC, kana
romaji, frequent-range Han pinyin — see ``cjk.py``) with NFKD decomposition
+ combining-mark strip as the fallback. For Latin/Greek/Cyrillic input it
agrees with unidecode; kana agree with unidecode's per-char romaji scheme;
Han characters agree on the ``cjk.HAN_PINYIN`` frequent range ('中' ->
'Zhong ', which SURVIVES the normalize regex — unidecode emits alphanumeric
pinyin, it does not drop CJK) and characters outside that table are dropped
(documented divergence; unidecode ships the full CJK range).
"""

from __future__ import annotations

import re
import unicodedata

# Characters that NFKD does not decompose, mapped as unidecode does.
# Latin letters first; Greek and Cyrillic follow the standard ALA-LC
# romanizations that unidecode's tables implement (Text::Unidecode x03/x04).
_FOLD_TABLE = {
    # Latin (no NFKD decomposition)
    "\u00d8": "O", "\u00f8": "o",
    "\u00c6": "AE", "\u00e6": "ae",
    "\u0152": "OE", "\u0153": "oe",
    "\u00df": "ss",
    "\u00d0": "D", "\u00f0": "d",
    "\u00de": "Th", "\u00fe": "th",
    "\u0110": "D", "\u0111": "d",
    "\u0141": "L", "\u0142": "l",
    "\u0126": "H", "\u0127": "h",
    "\u0166": "T", "\u0167": "t",
    "\u0131": "i",
    "\u0138": "k",
    "\u014a": "NG", "\u014b": "ng",
    # punctuation / symbols
    "\u2018": "'", "\u2019": "'",
    "\u201c": '"', "\u201d": '"',
    "\u2013": "-", "\u2014": "-",
    "\u00b7": "*",
    "\u00d7": "x",
    # Greek -> ALA-LC (accented forms NFKD-decompose to these bases first)
    "\u0391": "A", "\u0392": "B", "\u0393": "G", "\u0394": "D",
    "\u0395": "E", "\u0396": "Z", "\u0397": "E", "\u0398": "Th",
    "\u0399": "I", "\u039a": "K", "\u039b": "L", "\u039c": "M",
    "\u039d": "N", "\u039e": "X", "\u039f": "O", "\u03a0": "P",
    "\u03a1": "R", "\u03a3": "S", "\u03a4": "T", "\u03a5": "U",
    "\u03a6": "Ph", "\u03a7": "Kh", "\u03a8": "Ps", "\u03a9": "O",
    "\u03b1": "a", "\u03b2": "b", "\u03b3": "g", "\u03b4": "d",
    "\u03b5": "e", "\u03b6": "z", "\u03b7": "e", "\u03b8": "th",
    "\u03b9": "i", "\u03ba": "k", "\u03bb": "l", "\u03bc": "m",
    "\u03bd": "n", "\u03be": "x", "\u03bf": "o", "\u03c0": "p",
    "\u03c1": "r", "\u03c3": "s", "\u03c2": "s", "\u03c4": "t",
    "\u03c5": "u", "\u03c6": "ph", "\u03c7": "kh", "\u03c8": "ps",
    "\u03c9": "o",
    # Cyrillic -> ALA-LC
    "\u0410": "A", "\u0411": "B", "\u0412": "V", "\u0413": "G",
    "\u0414": "D", "\u0415": "E", "\u0416": "Zh", "\u0417": "Z",
    "\u0418": "I", "\u0419": "I", "\u041a": "K", "\u041b": "L",
    "\u041c": "M", "\u041d": "N", "\u041e": "O", "\u041f": "P",
    "\u0420": "R", "\u0421": "S", "\u0422": "T", "\u0423": "U",
    "\u0424": "F", "\u0425": "Kh", "\u0426": "Ts", "\u0427": "Ch",
    "\u0428": "Sh", "\u0429": "Shch", "\u042a": "'", "\u042b": "Y",
    "\u042c": "'", "\u042d": "E", "\u042e": "Iu", "\u042f": "Ia",
    "\u0430": "a", "\u0431": "b", "\u0432": "v", "\u0433": "g",
    "\u0434": "d", "\u0435": "e", "\u0436": "zh", "\u0437": "z",
    "\u0438": "i", "\u0439": "i", "\u043a": "k", "\u043b": "l",
    "\u043c": "m", "\u043d": "n", "\u043e": "o", "\u043f": "p",
    "\u0440": "r", "\u0441": "s", "\u0442": "t", "\u0443": "u",
    "\u0444": "f", "\u0445": "kh", "\u0446": "ts", "\u0447": "ch",
    "\u0448": "sh", "\u0449": "shch", "\u044a": "'", "\u044b": "y",
    "\u044c": "'", "\u044d": "e", "\u044e": "iu", "\u044f": "ia",
    # Ukrainian / Belarusian / Serbian extras
    "\u0404": "Ie", "\u0454": "ie", "\u0406": "I", "\u0456": "i",
    "\u0407": "I", "\u0457": "i", "\u0490": "G", "\u0491": "g",
    "\u040e": "U", "\u045e": "u", "\u0402": "Dj", "\u0452": "dj",
    "\u0409": "Lj", "\u0459": "lj", "\u040a": "Nj", "\u045a": "nj",
    "\u040f": "Dz", "\u045f": "dz",
    "\u040b": "C", "\u045b": "c", "\u0403": "G", "\u0453": "g",
    "\u040c": "K", "\u045c": "k", "\u0405": "Dz", "\u0455": "dz",
}

# kana romaji + frequent-range Han pinyin (unidecode output format)
from .cjk import CJK_TABLE as _CJK_TABLE  # noqa: E402

_FOLD_TABLE.update(_CJK_TABLE)


def ascii_fold(s: str) -> str:
    """Transliterate to ASCII (unidecode stand-in for Latin, Greek,
    Cyrillic, kana, and frequent-range Han).

    Table fold FIRST, per original character, then NFKD as the fallback for
    unmapped chars (decomposing accented letters to base + combining marks,
    expanding compatibility forms like ellipsis or NBSP, dropping the
    marks). Table-first matters for kana: NFKD decomposes voiced kana
    ('ga' が) into base + combining dakuten, which would mis-fold to 'ka'.
    NFKD output is re-looked-up in the table (so halfwidth katakana
    decompose to katakana and then romanize). Unmapped non-ASCII chars are
    dropped, as documented in SURVEY risk (a)."""
    if not s:
        return s or ""
    if s.isascii():  # fast path: the dominant case in Latin-script corpora
        return s
    out = []
    for c in s:
        if ord(c) < 128:
            out.append(c)
            continue
        m = _FOLD_TABLE.get(c)
        if m is not None:
            out.append(m)
            continue
        for d in unicodedata.normalize("NFKD", c):
            if ord(d) < 128:
                out.append(d)
            elif not unicodedata.combining(d):
                out.append(_FOLD_TABLE.get(d, ""))
    return "".join(out)


_NON_ALNUM_RX = re.compile(r"[^a-z0-9\s]")
_WS_RX = re.compile(r"\s+")


def normalize_text(s: str | None) -> str:
    """Reference normalize: ascii-fold, lower, drop non-alnum, collapse ws.

    Mirrors check_landing_page...py:16-27 exactly (unidecode -> lower ->
    re.sub(r'[^a-z0-9\\s]','') -> ' '.join(split())).
    """
    if s is None:
        return ""
    s = ascii_fold(s).lower()
    s = _NON_ALNUM_RX.sub("", s)
    return _WS_RX.sub(" ", s).strip()


# ---------------------------------------------------------------------------
# InDel ratio (rapidfuzz fuzz.ratio semantics)
# ---------------------------------------------------------------------------

def lcs_length(a: str, b: str) -> int:
    """Bit-parallel LCS length (Allison-Dix; Hyyro 2004) on big ints."""
    la, lb = len(a), len(b)
    if la == 0 or lb == 0:
        return 0
    if la > lb:  # build the bitmask over the shorter string
        a, b, la, lb = b, a, lb, la
    pm: dict[str, int] = {}
    bit = 1
    for c in a:
        pm[c] = pm.get(c, 0) | bit
        bit <<= 1
    mask = (1 << la) - 1
    v = mask
    for c in b:
        u = v & pm.get(c, 0)
        v = ((v + u) | (v - u)) & mask
    # LCS = number of zero bits in v within the mask
    return la - bin(v).count("1")


def indel_distance(a: str, b: str) -> int:
    return len(a) + len(b) - 2 * lcs_length(a, b)


def indel_ratio(a: str | None, b: str | None) -> float:
    """rapidfuzz ``fuzz.ratio``: 100 * (1 - InDel/(|a|+|b|)); 100.0 if both empty."""
    a = a or ""
    b = b or ""
    total = len(a) + len(b)
    if total == 0:
        return 100.0
    return 100.0 * (1.0 - indel_distance(a, b) / total)


# ---------------------------------------------------------------------------
# Jaro-Winkler (Winkler 1990), returned on a 0..100 scale
# ---------------------------------------------------------------------------

def jaro(a: str, b: str) -> float:
    la, lb = len(a), len(b)
    if la == 0 and lb == 0:
        return 1.0
    if la == 0 or lb == 0:
        return 0.0
    window = max(la, lb) // 2 - 1
    if window < 0:
        window = 0
    # bit-parallel greedy window matching (the rapidfuzz approach): position
    # masks per char of b; candidates = pm[c] & window & ~taken; take lowest.
    pm: dict[str, int] = {}
    bit = 1
    for c in b:
        pm[c] = pm.get(c, 0) | bit
        bit <<= 1
    taken = 0
    a_match_idx = []
    get = pm.get
    for i, ca in enumerate(a):
        lo = i - window if i > window else 0
        hi = i + window + 1
        if hi > lb:
            hi = lb
        cand = get(ca, 0) & ((1 << hi) - (1 << lo)) & ~taken
        if cand:
            low = cand & -cand
            taken |= low
            a_match_idx.append(low.bit_length() - 1)
    matches = len(a_match_idx)
    if matches == 0:
        return 0.0
    # transpositions: matched chars in a-order vs matched chars in b-order
    in_b_order = sorted(a_match_idx)
    t = sum(1 for x, y in zip(a_match_idx, in_b_order) if b[x] != b[y]) / 2.0
    m = float(matches)
    return (m / la + m / lb + (m - t) / m) / 3.0


def jaro_winkler(a: str | None, b: str | None) -> float:
    """Jaro-Winkler similarity x100 (prefix boost up to 4 chars)."""
    a = a or ""
    b = b or ""
    j = jaro(a, b)
    if j > 0.7:
        prefix = 0
        for ca, cb in zip(a[:4], b[:4]):
            if ca == cb:
                prefix += 1
            else:
                break
        j += prefix * 0.1 * (1.0 - j)
    return 100.0 * j


# ---------------------------------------------------------------------------
# token_set_ratio (fuzzywuzzy/rapidfuzz published algorithm)
# ---------------------------------------------------------------------------


def token_set_ratio(a: str | None, b: str | None) -> float:
    ta = set((a or "").split())
    tb = set((b or "").split())
    if not ta and not tb:
        return 100.0
    inter = sorted(ta & tb)
    diff_ab = sorted(ta - tb)
    diff_ba = sorted(tb - ta)
    s_inter = " ".join(inter)
    s1 = (s_inter + " " + " ".join(diff_ab)).strip()
    s2 = (s_inter + " " + " ".join(diff_ba)).strip()
    if inter and (not diff_ab or not diff_ba):
        return 100.0
    # s_inter is a PREFIX of s1 and of s2, so LCS(s_inter, sX) == len(s_inter)
    # exactly -> those two ratios have the closed form 200*li/(li+lX); only
    # the s1-vs-s2 comparison needs the real DP.
    li, l1, l2 = len(s_inter), len(s1), len(s2)
    r1 = 100.0 * (2.0 * li) / (li + l1) if (li + l1) else 100.0
    r2 = 100.0 * (2.0 * li) / (li + l2) if (li + l2) else 100.0
    return max(r1, r2, indel_ratio(s1, s2))


def sim_triple_py(a: str | None, b: str | None) -> tuple[float, float, float]:
    """(indel, jw, tsr) via the pure-Python kernels — the parity oracle."""
    return (indel_ratio(a, b), jaro_winkler(a, b), token_set_ratio(a, b))
