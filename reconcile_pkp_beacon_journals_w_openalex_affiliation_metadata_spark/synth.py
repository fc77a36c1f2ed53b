"""Deterministic synthetic corpus generator (seeded; no external data).

Produces the ``input_hint`` documents table (interleaved text+media spans)
plus the side tables and labeled ground truth needed by the linkage fixtures
(FIXTURES.md §1-§5). Every edge case the reference exercises is emitted:
accents/diacritics (unidecode path, check_landing_page...py:16-27), case/
punctuation-only diffs (:197-201), empty institutions (:215-228), near-tie
authorships (:163-169), raw_author_name fallback (:155-158), DOI prefix
variants (:93-98; parse_record_data_from_files.py:105-113), URL port/scheme
variants (main.rs:239-243), hot publishers (~20% of docs) for the skew-split
path, and whitespace-only affiliation arrays (main.rs:263-286).

Only ``random.Random(seed)`` is used — bit-identical output across runs.
"""

from __future__ import annotations

import random
from dataclasses import dataclass, field

_ADJ = [
    "Applied", "Theoretical", "Clinical", "Computational", "Experimental",
    "International", "Regional", "Modern", "Comparative", "Interdisciplinary",
    "Quantitative", "Tropical", "Molecular", "Social", "Historical",
]
_REGION = [
    "African", "Andean", "Asian", "Baltic", "Brazilian", "Caribbean",
    "Central European", "East African", "Iberian", "Indonesian",
    "Latin American", "Mediterranean", "Nordic", "Pacific", "Philippine",
    "Polish", "Czech", "Swedish", "Ugandan", "Chilean",
]
_MOD = [
    "Advances in", "Annals of", "Archives of", "Bulletin of", "Chronicles of",
    "Contributions to", "Current Topics in", "Debates in", "Developments in",
    "Essays on", "Frontiers of", "Insights into", "Inquiries into",
    "Perspectives on", "Proceedings in", "Progress in", "Readings in",
    "Research in", "Studies in", "Transactions on", "Trends in", "Findings in",
    "Explorations in", "Horizons in", "Foundations of", "Reviews of",
    "Dialogues on", "Notes on", "Papers in", "Themes in",
]
_NOUN = [
    "Fish Biology", "Materials Science", "Public Health", "Linguistics",
    "Marine Ecology", "Data Engineering", "Plant Pathology", "Economics",
    "Astrophysics", "Veterinary Medicine", "Soil Chemistry", "Education",
    "Neuroscience", "Agronomy", "Archaeology", "Statistics", "Oncology",
    "Microbiology", "Hydrology", "Philosophy",
]
_SUFFIX = ["", " Review", " Letters", " Quarterly", " Bulletin", " Reports"]
_PUBLISHERS = [
    ("Universidad de São Paulo Press", "usp.br", "BR"),
    ("Makerere University Press", "mak.ac.ug", "UG"),
    ("Universitas Gadjah Mada", "ugm.ac.id", "ID"),
    ("Charles University Press", "cuni.cz", "CZ"),
    ("University of the Philippines", "up.edu.ph", "PH"),
    ("Göteborgs Universitet", "gu.se", "SE"),
    ("Uniwersytet Łódzki", "uni.lodz.pl", "PL"),
    ("Pontificia Universidad Católica", "puc.cl", "CL"),
]
# the hot publisher: owns ~20% of journals (skew-split exercise)
_HOT_PUBLISHER = ("Mega Open Publishing Consortium", "megaopen.org", "US")

_FIRST = [
    "Maria", "José", "Anna", "Łukasz", "Chinwe", "Putri", "Søren", "François",
    "Beatriz", "Ahmed", "Ingrid", "Tomáš", "Lucía", "Kwame", "Petra", "Diego",
]
_LAST = [
    "Silva", "Gołębiewski", "Müller", "Okafor", "Wijaya", "Jensen", "Dubois",
    "Fernández", "Novák", "Johansson", "Mensah", "Costa", "Kowalski", "Brown",
]
_AFFIL_TMPL = [
    "Department of {f}, {u}",
    "Institute of {f}, {u}",
    "{u}, Faculty of {f}",
    "Center for {f} Research, {u}",
]
_FIELDS = ["Biology", "Chemistry", "Physics", "History", "Medicine", "Engineering"]
_UNIS = [
    "Universidad de São Paulo", "Makerere University", "Universitas Gadjah Mada",
    "Charles University", "Göteborgs Universitet", "Uniwersytet Łódzki",
    "University of the Philippines", "Pontificia Universidad Católica",
]

_ACCENT_MAP = {"a": "á", "e": "é", "i": "í", "o": "ø", "u": "ü", "c": "ç", "n": "ñ", "s": "š"}

OAI_SUFFIXES = ["/journal/index.php/index/oai", "/index.php/index/oai", "/oai"]


@dataclass
class Corpus:
    documents: list[dict] = field(default_factory=list)
    pkp_journals: list[dict] = field(default_factory=list)
    openalex_works: list[dict] = field(default_factory=list)
    landing_pairs: list[dict] = field(default_factory=list)
    labeled_pairs: list[dict] = field(default_factory=list)


# share of journals with OpenAlex copies, share of journals under the hot
# publisher, chance of a media span after each text span, authors per page
MATCH_RATE = 0.72
HOT_SHARE = 0.2
MEDIA_RATE = 0.4
N_AUTHORS_MAX = 4


def _accentify(rng: random.Random, s: str) -> str:
    chars = list(s)
    idxs = [i for i, c in enumerate(chars) if c in _ACCENT_MAP]
    rng.shuffle(idxs)
    for i in idxs[:2]:
        chars[i] = _ACCENT_MAP[chars[i]]
    return "".join(chars)


def _typo(rng: random.Random, s: str) -> str:
    if len(s) < 6:
        return s
    # swap two adjacent letters inside a word (never the first char: JW prefix)
    idxs = [i for i in range(2, len(s) - 1) if s[i].isalpha() and s[i + 1].isalpha()]
    if not idxs:
        return s
    i = rng.choice(idxs)
    return s[:i] + s[i + 1] + s[i] + s[i + 2 :]


def _token_shuffle(rng: random.Random, s: str) -> str:
    toks = s.split()
    if len(toks) < 3:
        return s
    i = rng.randrange(len(toks) - 1)
    toks[i], toks[i + 1] = toks[i + 1], toks[i]
    return " ".join(toks)


def _punct_case(rng: random.Random, s: str) -> str:
    s = s.upper() if rng.random() < 0.5 else s.title()
    return s + rng.choice([".", " (Online)", ",", ":"])


def _perturb_title(rng: random.Random, title: str) -> str:
    kind = rng.random()
    if kind < 0.30:
        return _accentify(rng, title)
    if kind < 0.55:
        return _typo(rng, title)
    if kind < 0.75:
        return _token_shuffle(rng, title)
    if kind < 0.90:
        return _punct_case(rng, title)
    return title  # identical


def _issn(rng: random.Random) -> str:
    body = "".join(str(rng.randrange(10)) for _ in range(7))
    check = rng.choice("0123456789X")
    return f"{body[:4]}-{body[4:]}{check}"


def _doc(doc_id: str, fields: list[tuple[str, str]], rng: random.Random) -> dict:
    """Serialize record fields into the interleaved span layout.

    Text spans carry 'KEY: value' lines; media spans carry only media_ref —
    mirrors the reference's HTML-page + page-image interleaving
    (parse_landing_page_html.py:51-97; vlm_text_extractor.py:402-549).
    """
    spans = []
    off = 0
    for key, value in fields:
        spans.append({"kind": "text", "text": f"{key}: {value}", "media_ref": "", "offset": off})
        off += 1
        if rng.random() < MEDIA_RATE:
            spans.append(
                {
                    "kind": "media",
                    "text": "",
                    "media_ref": f"img://{doc_id}/{off}",
                    "offset": off,
                }
            )
            off += 1
    return {"doc_id": doc_id, "spans": spans}


def generate(
    seed: int = 42,
    n_journals: int = 200,
    oa_copies: int = 1,
) -> Corpus:
    rng = random.Random(seed)
    out = Corpus()

    titles_seen: set[str] = set()
    journals = []
    for j in range(n_journals):
        # ~1M-combination title space (region x mod x adj x noun x suffix)
        # keeps titles distinct at 10^5+ journals so candidate-pair volume
        # stays linear in corpus size; a deterministic series token is the
        # last-resort disambiguator
        for _attempt in range(8):
            title = (
                f"{rng.choice(_REGION)} {rng.choice(_MOD)} "
                f"{rng.choice(_ADJ)} {rng.choice(_NOUN)}{rng.choice(_SUFFIX)}"
            )
            if title not in titles_seen:
                break
        else:
            title = f"{title}, Series {j}"
        titles_seen.add(title)
        pub, domain, country = (
            _HOT_PUBLISHER if rng.random() < HOT_SHARE else rng.choice(_PUBLISHERS)
        )
        r = rng.random()
        issn = None if r < 0.10 else ("BAD-ISSN" if r < 0.14 else _issn(rng))
        jid = f"J{j:05d}"
        slug = f"jrnl{j}"
        base_url = f"https://journals.{domain}/index.php/{slug}"
        oai_url = base_url + rng.choice(OAI_SUFFIXES)
        journals.append(
            {
                "journal_id": jid,
                "title": title,
                "issn": issn,
                "publisher": pub,
                "domain": domain,
                "country": country,
                "base_url": base_url,
                "oai_url": oai_url,
            }
        )
        out.pkp_journals.append(
            {
                "journal_id": jid,
                "oai_url": oai_url,
                "issn": issn,
                "title": title,
                "publisher": pub,
                "country": country,
            }
        )

    # --- OpenAlex-like source records: matches + distractors ------------------
    for j, jr in enumerate(journals):
        # PKP-side document
        pkp_fields = [
            ("TITLE", jr["title"]),
            ("ISSN", jr["issn"] or ""),
            ("PUBLISHER", jr["publisher"]),
            ("COUNTRY", jr["country"]),
            ("URL", jr["oai_url"]),
        ]
        out.documents.append(_doc(f"pkp:{jr['journal_id']}", pkp_fields, rng))

        n_copies = oa_copies if rng.random() < MATCH_RATE else 0
        for copy in range(n_copies):
            oid = f"S{j:05d}" if copy == 0 else f"S{j:05d}c{copy}"
            # matched OpenAlex record: perturbed title, same or missing ISSN
            r = rng.random()
            oissn = jr["issn"] if (jr["issn"] and r < 0.8) else None
            otitle = _perturb_title(rng, jr["title"])
            # same host, sometimes with explicit default port / http scheme
            u = jr["base_url"]
            ur = rng.random()
            if ur < 0.15:
                u = u.replace("https://", "https://", 1).replace(
                    f"journals.{jr['domain']}", f"journals.{jr['domain']}:443", 1
                )
            elif ur < 0.25:
                u = "http://" + u[len("https://") :]
            oa_fields = [
                ("TITLE", otitle),
                ("ISSN", oissn or ""),
                ("PUBLISHER", jr["publisher"]),
                ("COUNTRY", jr["country"]),
                ("URL", u + f"/article/view/{rng.randrange(1000)}"),
            ]
            out.documents.append(_doc(f"oa:{oid}", oa_fields, rng))
            out.labeled_pairs.append(
                {
                    "left_id": f"pkp:{jr['journal_id']}",
                    "right_id": f"oa:{oid}",
                    "blocking_key": (
                        f"issn:{(oissn or '').replace('-', '')}"
                        if oissn
                        else f"domain:{jr['domain']}"
                    ),
                    "is_match": True,
                }
            )

    # negative labeled pairs: same hot-publisher domain, different journals.
    # Guard: skip near-identical titles — a subset/high-similarity title pair
    # is genuinely ambiguous and would mislabel the ground truth.
    from .functions.kernels import indel_ratio, normalize_text

    hot = [jr for jr in journals if jr["domain"] == _HOT_PUBLISHER[1]]
    for _ in range(min(len(hot) * 2, n_journals)):
        a, b = rng.sample(hot, 2)
        na, nb = normalize_text(a["title"]), normalize_text(b["title"])
        ta, tb = set(na.split()), set(nb.split())
        if ta <= tb or tb <= ta or indel_ratio(na, nb) >= 70.0:
            continue
        out.labeled_pairs.append(
            {
                "left_id": f"pkp:{a['journal_id']}",
                "right_id": f"pkp:{b['journal_id']}",
                "blocking_key": f"domain:{_HOT_PUBLISHER[1]}",
                "is_match": False,
            }
        )

    # --- nested OpenAlex works + landing rows (author/affiliation scoring) ----
    for w in range(n_journals // 2):
        jr = journals[rng.randrange(len(journals))]
        wid = f"https://openalex.org/W{w + 1000000}"
        doi = f"10.{rng.randrange(1000, 99999)}/{jr['journal_id'].lower()}.{w}"
        doi_variant = rng.random()
        doi_in_work = (
            f"https://doi.org/{doi}"
            if doi_variant < 0.5
            else (f"doi:{doi}" if doi_variant < 0.6 else doi)
        )
        n_auth = rng.randrange(1, N_AUTHORS_MAX + 1)
        authorships = []
        landing_rows = []
        for k in range(n_auth):
            name = f"{rng.choice(_FIRST)} {rng.choice(_LAST)}"
            affil = rng.choice(_AFFIL_TMPL).format(f=rng.choice(_FIELDS), u=rng.choice(_UNIS))
            use_display_only = rng.random() < 0.12  # raw empty -> display fallback
            authorships.append(
                {
                    "raw_author_name": "" if use_display_only else name,
                    "author": {"display_name": name},
                    "raw_affiliation_strings": (
                        ["   "] if rng.random() < 0.05 else [affil]
                    ),
                }
            )
            # landing-page side: perturbed copies of the same names
            pr = rng.random()
            l_name = (
                _accentify(rng, name) if pr < 0.25
                else (_typo(rng, name) if pr < 0.45 else (_punct_case(rng, name) if pr < 0.6 else name))
            )
            l_affil = "" if rng.random() < 0.10 else (
                _accentify(rng, affil) if rng.random() < 0.3 else affil
            )
            landing_rows.append(
                {
                    "RelativeFilePath": f"{jr['domain']}/{doi.replace('/', '_')}.html",
                    "DOI": doi if rng.random() < 0.9 else f"https://doi.org/{doi}",
                    "Author": l_name,
                    "Institution": l_affil,
                    "Source": rng.choice(["meta", "ul.authors", "meta;ul.authors"]),
                }
            )
        # a few malformed-DOI landing rows (dropped by P3)
        if rng.random() < 0.05:
            landing_rows.append(
                {
                    "RelativeFilePath": "bad/row.html",
                    "DOI": "not-a-doi",
                    "Author": "X Y",
                    "Institution": "Z",
                    "Source": "meta",
                }
            )
        out.landing_pairs.extend(landing_rows)

        # filter-reason edge cases for P4/P5 (main.rs:86-101)
        er = rng.random()
        locations = [{"landing_page_url": jr["base_url"] + f"/article/view/{w}"}]
        if er < 0.06:
            locations = None  # no locations
        elif er < 0.10:
            locations = [{"landing_page_url": None}]  # no landing url
        elif er < 0.13:
            locations = [{"landing_page_url": "::not a url::"}]  # unparseable
        elif er < 0.20:
            locations = [{"landing_page_url": "https://elsewhere.example.com/x"}]  # no match
        auth = authorships
        if 0.20 <= er < 0.24:
            auth = None  # no authorships
        elif 0.24 <= er < 0.27:
            auth = [
                {
                    "raw_author_name": "A B",
                    "author": {"display_name": "A B"},
                    "raw_affiliation_strings": ["  ", ""],
                }
            ]  # all-empty affils
        out.openalex_works.append(
            {
                "id": wid,
                "doi": None if er > 0.95 else doi_in_work,
                "primary_location": {
                    "landing_page_url": locations[0]["landing_page_url"] if locations else None,
                    "pdf_url": None,
                    "doi": doi_in_work,
                },
                "best_oa_location": {
                    "landing_page_url": jr["base_url"] + f"/article/download/{w}",
                    "pdf_url": jr["base_url"] + f"/article/download/{w}.pdf",
                    "doi": None,
                },
                "locations": locations,
                "authorships": auth,
            }
        )

    return out
