"""Unit + property tests for the scalar kernels (SURVEY.md §5.1, §5.5)."""

from __future__ import annotations

import string

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from reconcile_pkp_beacon_journals_w_openalex_affiliation_metadata_spark.functions import (
    hashing,
    kernels,
)


# --- oracles -----------------------------------------------------------------

def hamming64(x: int, y: int) -> int:
    """Bit distance between two signed 64-bit codes."""
    return bin((x ^ y) & ((1 << 64) - 1)).count("1")


def lcs_dp(a: str, b: str) -> int:
    """O(nm) DP oracle for LCS length."""
    m, n = len(a), len(b)
    prev = [0] * (n + 1)
    for i in range(1, m + 1):
        cur = [0] * (n + 1)
        for j in range(1, n + 1):
            cur[j] = prev[j - 1] + 1 if a[i - 1] == b[j - 1] else max(prev[j], cur[j - 1])
        prev = cur
    return prev[n]


# --- normalize_text (ref check_landing_page...py:16-27) ----------------------

@pytest.mark.parametrize(
    "raw,expected",
    [
        ("  Hello,  World! ", "hello world"),
        ("Łukasz Gołębiewski", "lukasz golebiewski"),
        ("Universidad de São Paulo", "universidad de sao paulo"),
        ("Müller-Lüdenscheidt", "mullerludenscheidt"),
        ("ØREBRO æ œ ß", "orebro ae oe ss"),
        ("Café “quoted” – dash", "cafe quoted dash"),
        ("", ""),
        (None, ""),
        ("123 ABC!@#", "123 abc"),
        ("a\t\nb   c", "a b c"),
    ],
)
def test_normalize_text(raw, expected):
    assert kernels.normalize_text(raw) == expected


@given(st.text(max_size=80))
@settings(max_examples=200, deadline=None)
def test_normalize_idempotent(s):
    once = kernels.normalize_text(s)
    assert kernels.normalize_text(once) == once
    assert all(c in string.ascii_lowercase + string.digits + " " for c in once)


# --- InDel ratio (rapidfuzz fuzz.ratio parity) --------------------------------

@pytest.mark.parametrize(
    "a,b,expected",
    [
        ("", "", 100.0),
        ("abc", "", 0.0),
        ("abc", "abc", 100.0),
        ("abcd", "abce", 75.0),   # indel dist 2, total 8 -> 100*(1-2/8)
        ("ab", "ba", 50.0),       # LCS 1 -> dist 2, total 4
        ("kitten", "sitting", 100 * (1 - 5 / 13)),  # LCS 4 -> dist 13-8=5
    ],
)
def test_indel_ratio_known(a, b, expected):
    assert kernels.indel_ratio(a, b) == pytest.approx(expected)


@given(st.text(alphabet="abcdef ", max_size=40), st.text(alphabet="abcdef ", max_size=40))
@settings(max_examples=300, deadline=None)
def test_lcs_bitparallel_matches_dp(a, b):
    assert kernels.lcs_length(a, b) == lcs_dp(a, b)


@given(st.text(max_size=30), st.text(max_size=30))
@settings(max_examples=200, deadline=None)
def test_indel_ratio_properties(a, b):
    r = kernels.indel_ratio(a, b)
    assert 0.0 <= r <= 100.0
    assert r == pytest.approx(kernels.indel_ratio(b, a))  # symmetry
    assert kernels.indel_ratio(a, a) == 100.0


# --- Jaro-Winkler -------------------------------------------------------------

@pytest.mark.parametrize(
    "a,b,expected",
    [
        ("MARTHA", "MARHTA", 96.11),
        ("DIXON", "DICKSONX", 81.33),
        ("DWAYNE", "DUANE", 84.0),
        ("abc", "abc", 100.0),
        ("", "", 100.0),
        ("abc", "", 0.0),
    ],
)
def test_jaro_winkler_known(a, b, expected):
    assert kernels.jaro_winkler(a, b) == pytest.approx(expected, abs=0.01)


@given(st.text(max_size=25), st.text(max_size=25))
@settings(max_examples=200, deadline=None)
def test_jw_bounds_symmetry(a, b):
    r = kernels.jaro_winkler(a, b)
    assert 0.0 <= r <= 100.0 + 1e-9
    assert r == pytest.approx(kernels.jaro_winkler(b, a))


# --- token_set_ratio ----------------------------------------------------------

def test_token_set_ratio_reorder_invariant():
    assert kernels.token_set_ratio("journal of fish biology", "biology of fish journal") == 100.0


def test_token_set_ratio_subset():
    # one side's tokens are a subset of the other's -> 100 (fuzzywuzzy semantics)
    assert kernels.token_set_ratio("fish biology", "journal of fish biology") == 100.0


def test_token_set_ratio_disjoint_low():
    assert kernels.token_set_ratio("aaa bbb", "ccc ddd") < 50.0


@given(st.text(alphabet="ab c", max_size=30), st.text(alphabet="ab c", max_size=30))
@settings(max_examples=150, deadline=None)
def test_token_set_bounds(a, b):
    r = kernels.token_set_ratio(a, b)
    assert 0.0 <= r <= 100.0
    assert r == pytest.approx(kernels.token_set_ratio(b, a))


# --- hashing ------------------------------------------------------------------

def test_minhash_deterministic():
    toks = ["journal", "of", "fish", "biology"]
    s1 = hashing.minhash_signature(toks)
    s2 = hashing.minhash_signature(list(toks))
    assert (s1 == s2).all()


def test_minhash_bands_similarity():
    a = hashing.shingles("the international journal of applied fish biology research")
    b = hashing.shingles("the international journal of applied fish biology science")
    c = hashing.shingles("annals of pure mathematics quarterly review board proceedings")
    ba, bb, bc = (set(hashing.minhash_bands(x)) for x in (a, b, c))
    assert ba & bb  # near-duplicates share >=1 band
    assert not ba & bc  # unrelated titles share none


def test_simhash_near_duplicates_close():
    a = hashing.simhash64("the quick brown fox jumps over the lazy dog".split())
    b = hashing.simhash64("the quick brown fox jumps over the lazy cat".split())
    c = hashing.simhash64("entirely different words appear in this sentence here".split())
    assert hamming64(a, b) < hamming64(a, c)


def test_shingles():
    assert hashing.shingles("a b c d", 3) == ["a b c", "b c d"]
    assert hashing.shingles("a b", 3) == ["a b"]
    assert hashing.shingles("", 3) == []


def test_jaccard():
    assert hashing.jaccard(set(), set()) == 1.0
    assert hashing.jaccard({"a"}, {"a", "b"}) == 0.5


# --- F1 transliteration beyond Latin (VERDICT r1 task 4) ---------------------

GOLDEN_TRANSLIT = [
    # Greek (ALA-LC, accents decompose then fold)
    ("Ελληνικά", "Ellenika"),
    ("Θεσσαλονίκη", "Thessalonike"),
    ("Μελέτη της φυσικής", "Melete tes phusikes"),
    ("ΨΥΧΟΛΟΓΙΑ", "PsUKhOLOGIA"),
    ("τέλος ςσ", "telos ss"),
    # Cyrillic (ALA-LC)
    ("Москва", "Moskva"),
    ("Юрий Гагарин", "Iurii Gagarin"),
    ("Щедрин", "Shchedrin"),
    ("Объём", "Ob'em"),
    ("Київ", "Kiiv"),
    ("Ђорђе Џаџић", "Djordje Dzadzic"),
    # Latin-Extended A/B via NFKD + table
    ("Łódź–Kraków", "Lodz-Krakow"),
    ("København Ålborg", "Kobenhavn Alborg"),
    ("Đterritório Þing", "Dterritorio Thing"),
    ("Săo Tomé și Príncipe", "Sao Tome si Principe"),
    # mixed scripts in one string
    ("Journal of Φυσική and Физика", "Journal of Phusike and Fizika"),
]


def test_ascii_fold_non_latin_golden():
    for src, want in GOLDEN_TRANSLIT:
        assert kernels.ascii_fold(src) == want, (src, kernels.ascii_fold(src), want)


def test_ascii_fold_agreement_rate_documented():
    """Coverage metric over the three target scripts: every Greek and
    Cyrillic (core Russian + uk/be/sr extras) letter and every Latin-1 /
    Latin-Extended-A letter folds to a non-empty ASCII string."""
    import unicodedata

    def covered(ch):
        out = kernels.ascii_fold(ch)
        return out != "" and out.isascii()

    greek = [chr(c) for c in range(0x0391, 0x03CA)
             if unicodedata.category(chr(c)).startswith("L")]
    cyr = [chr(c) for c in range(0x0410, 0x0450)]
    lat1 = [chr(c) for c in list(range(0x00C0, 0x00D7)) + list(range(0x00D8, 0x00F7))
            + list(range(0x00F8, 0x0100))]
    latA = [chr(c) for c in range(0x0100, 0x0180)]
    for name, letters in [("greek", greek), ("cyrillic", cyr),
                          ("latin1", lat1), ("latinA", latA)]:
        misses = [c for c in letters if not covered(c)]
        assert not misses, (name, misses)


GOLDEN_CJK = [
    # Han -> pinyin, unidecode output format (title-case + trailing space),
    # so normalize_text yields comparable tokens — NOT empty strings
    ("中国科学院", "Zhong Guo Ke Xue Yuan "),
    ("北京大学", "Bei Jing Da Xue "),
    ("王伟", "Wang Wei "),
    ("陳大文", "Chen Da Wen "),
    ("東京", "Dong Jing "),  # kanji romanize by Mandarin pinyin, like unidecode
    # kana -> per-char romaji (unidecode's naive scheme: きゃ -> kiya)
    ("やまだ たろう", "yamada tarou"),
    ("ヤマダ・タロウ", "yamada tarou"),
    ("がぎぐげご", "gagigugego"),  # voiced kana need table-BEFORE-NFKD
    ("キョウト", "kiyouto"),
    ("ｱｲｳ", "aiu"),  # halfwidth katakana: NFKD -> katakana -> romaji
]


def test_ascii_fold_cjk_golden():
    for src, want in GOLDEN_CJK:
        assert kernels.ascii_fold(src) == want, (src, kernels.ascii_fold(src), want)
    # end-to-end through the reference normalize chain: a CJK author must
    # normalize to non-empty comparable text (kernels.py r2 wrongly claimed
    # the regex drops CJK — unidecode emits alphanumeric pinyin)
    assert kernels.normalize_text("王伟 (北京大学)") == "wang wei bei jing da xue"
    assert kernels.normalize_text("山田太郎") == "shan tian tai lang"


def test_ascii_fold_han_coverage_rate_documented():
    """Stated coverage: kana are COMPLETE (every standard hiragana/katakana
    folds); Han covers the curated frequent range (surnames + institution /
    place / given-name chars) and DROPS chars outside it — a documented
    divergence from unidecode, which ships the full CJK range."""
    from reconcile_pkp_beacon_journals_w_openalex_affiliation_metadata_spark.functions.cjk import (
        HAN_PINYIN,
        KANA,
    )

    kana = [chr(c) for c in list(range(0x3041, 0x3097)) + list(range(0x30A1, 0x30F7))]
    misses = [c for c in kana if not kernels.ascii_fold(c)]
    assert not misses, misses

    # every table entry round-trips through the full normalize chain
    for c, pinyin in HAN_PINYIN.items():
        assert kernels.ascii_fold(c) == pinyin
        assert kernels.normalize_text(c) == pinyin.strip().lower()
    assert len(HAN_PINYIN) >= 400  # frequent-range size floor
    assert len(KANA) >= 170

    # documented divergence: an uncovered Han char folds to ''
    assert kernels.ascii_fold("龘") == ""  # 龘, outside the table


# The ~250 characters that dominate running Chinese text (public corpus-
# frequency list membership, descending rank) — the frequency-weighted
# sample the r3 verdict asked the coverage claim to be measured on.
_HAN_FREQ_TOP = (
    "的一是不了人我在有他这中大来上国个到说们为子和你地出道也时年得"
    "就那要下以生会自着去之过家学对可她里后小么心多天而能好都然没日"
    "于起还发成事只作当想看文无开手十用主行方又如前所本见经头面公同"
    "三已老从动两长知民样现分将外但身些与高意进把法此实回二理美点月"
    "明其种声全工己话儿者向情部正名定女问力机给等几很业最间新什打便"
    "位因重被走电四第门相次东政海口使教西再平真听世气信北少关并内加"
    "化由却代军产入先山五太水万市眼体别处总才场师书比住员九笑性通目"
    "华报立马命张活难神数件安表原车白应路期叫死常提感金何更反题必该"
    "论交果"
)
# the documented heteronym exclusions (cross-syllable readings; a wrong
# syllable would be worse than a drop — cjk.py policy)
_HAN_HETERONYM_EXCLUSIONS = set("了地得着长行还都重便什么")


def test_ascii_fold_han_frequency_weighted_agreement_rate():
    """STATED RATE (r3 verdict item 5): of the ~250 most frequent
    running-text Han characters (an UNWEIGHTED rate over that top-frequency
    SET — not token-weighted: the 12 excluded heteronyms are high-rank, so
    a token-weighted rate would be lower), ascii_fold emits non-empty
    unidecode-format pinyin for >= 95%, and every miss is one of the 12
    documented heteronym exclusions, not an un-triaged gap."""
    covered = [c for c in _HAN_FREQ_TOP if kernels.ascii_fold(c)]
    missing = [c for c in _HAN_FREQ_TOP if not kernels.ascii_fold(c)]
    rate = len(covered) / len(_HAN_FREQ_TOP)
    assert rate >= 0.95, (rate, missing)
    assert set(missing) <= _HAN_HETERONYM_EXCLUSIONS, missing
    # and every covered char is in the exact unidecode output shape
    for c in covered:
        out = kernels.ascii_fold(c)
        assert out.endswith(" ") and out[:1].isupper() and out.isascii(), (c, out)

    # TOKEN-FREQUENCY-WEIGHTED rate (r4 verdict task #4). The sandbox has
    # no downloadable corpus counts, so the weight is the Zipf 1/rank proxy
    # over the same public descending-rank list — running-text character
    # frequencies are approximately Zipfian, and 1/rank is deterministic
    # and fully stated (no invented counts). This makes the high-rank
    # heteronym exclusions (了 at rank 5 alone carries ~3% of the mass)
    # count at their true weight instead of 1/250th each.
    weights = {c: 1.0 / (i + 1) for i, c in enumerate(_HAN_FREQ_TOP)}
    total_w = sum(weights.values())
    covered_w = sum(weights[c] for c in covered)
    weighted_rate = covered_w / total_w
    print(
        f"\nHan fold agreement over top-{len(_HAN_FREQ_TOP)} running-text "
        f"chars: unweighted {rate:.3f}, Zipf-1/rank-weighted "
        f"{weighted_rate:.3f} (misses = documented heteronym exclusions: "
        f"{''.join(missing)})"
    )
    # the weighted rate is NECESSARILY below the unweighted one (exclusions
    # are high-rank by design); assert the honest floor
    assert weighted_rate >= 0.90, (weighted_rate, missing)
    assert weighted_rate <= rate


def test_ascii_fold_unidecode_differential():
    """True agreement vs the reference's own library, when available (not in
    this sandbox — auto-skips; runs green on hosts with unidecode)."""
    unidecode = pytest.importorskip("unidecode")

    sample = _HAN_FREQ_TOP + "".join(
        sorted(
            __import__(
                "reconcile_pkp_beacon_journals_w_openalex_affiliation_metadata_spark.functions.cjk",
                fromlist=["HAN_PINYIN"],
            ).HAN_PINYIN
        )
    )
    agree = miss = 0
    diverge = []
    for c in sample:
        ours = kernels.ascii_fold(c)
        theirs = unidecode.unidecode(c)
        if not ours:
            miss += 1  # documented drop
        elif ours == theirs:
            agree += 1
        else:
            diverge.append((c, ours, theirs))
    # covered chars must agree char-for-char with unidecode
    assert not diverge, diverge[:20]
    assert agree / (agree + miss) >= 0.9


FROZEN_PAIRS = [
    ("regional studies in applied fish biology", "regional studies in applied fish bioolgy"),
    ("journal of marine science", "marine science journal"),
    ("acta physica sinica", "acta phisica sinica"),
    ("", ""),
    ("", "nonempty"),
    ("same title exactly", "same title exactly"),
    ("a", "b"),
    ("the quick brown fox", "the quick brown fox jumps"),
    ("x" * 200, "x" * 199 + "y"),
    ("word reorder test case", "case test reorder word"),
    (None, "null left"),
    ("null right", None),
]


def test_sim_triple_dispatch_and_oracle():
    """kernels.sim_triple_py, the pure-Python oracle of the scoring kernels,
    returns three ratios in [0, 100] on the frozen corpus."""
    for a, b in FROZEN_PAIRS:
        got = kernels.sim_triple_py(a, b)
        assert len(got) == 3 and all(0.0 <= v <= 100.0 for v in got)


# --- batch ASCII fast-path parity (r3 verdict item 4) -----------------------

_BATCH_SAMPLES = [
    None, "", "  ", "\x0b\t mixed WS \x0c", "Plain ASCII Title 42!",
    "Café au Lait", "Überstraße", "ΑΒΓ αβγ", "Москва",
    "こんにちは世界", "中文标题", "ＦＵＬＬｗｉｄｔｈ", "a b…c",
    "ASCII-only but [punct] & (stuff) 99%", "ガギグゲゴ voiced kana",
]


def test_normalize_batch_matches_scalar_on_samples():
    import pandas as pd

    from reconcile_pkp_beacon_journals_w_openalex_affiliation_metadata_spark.functions import (
        kernels as K,
        udfs,
    )

    s = pd.Series(_BATCH_SAMPLES, dtype=object)
    got = udfs._normalize_text_batch(s)
    want = s.map(lambda x: K.normalize_text(x) if x is not None else "")
    assert list(got) == list(want)
    # all-ASCII batch takes the pure-vector lane; must still match
    asc = pd.Series(["A b", "", "  x ", None, "Q!@# 9"], dtype=object)
    assert list(udfs._normalize_text_batch(asc)) == list(
        asc.map(lambda x: K.normalize_text(x) if x is not None else "")
    )


def test_ascii_fold_batch_matches_scalar_on_samples():
    import pandas as pd

    from reconcile_pkp_beacon_journals_w_openalex_affiliation_metadata_spark.functions import (
        kernels as K,
        udfs,
    )

    s = pd.Series(_BATCH_SAMPLES, dtype=object)
    got = udfs._ascii_fold_batch(s)
    want = s.map(lambda x: K.ascii_fold(x) if x is not None else None)
    assert list(got) == list(want)


@given(st.lists(st.one_of(st.none(), st.text(max_size=40)), max_size=50))
@settings(max_examples=200, deadline=None)
def test_batch_lanes_differential_random(xs):
    import pandas as pd

    from reconcile_pkp_beacon_journals_w_openalex_affiliation_metadata_spark.functions import (
        kernels as K,
        udfs,
    )

    s = pd.Series(xs, dtype=object)
    assert list(udfs._normalize_text_batch(s)) == [
        K.normalize_text(x) if x is not None else "" for x in xs
    ]
    assert list(udfs._ascii_fold_batch(s)) == [
        K.ascii_fold(x) if x is not None else None for x in xs
    ]
