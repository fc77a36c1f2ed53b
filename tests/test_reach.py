"""Reach guard: every public top-level name of the package has a caller
outside ``tests/``.

A caller is a reference from ``__spark_entry__.py`` (the registry queries),
``bench.py``, ``tools/``, ``perfbench/`` or the package itself, other than
the name's own definition. A reference is any identifier that spells the
name: a load, an attribute or an imported alias. Docstrings and comments
do not count. Matching by spelling over-approximates reach (two modules may
share a name), so a name the scan flags has no reference in code at all.
Names that stay without a caller are listed in ``ALLOWED`` with the reason.

Pure ``ast``; no Spark session. Run: ``python -m pytest tests/test_reach.py``.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PKG = ROOT / "reconcile_pkp_beacon_journals_w_openalex_affiliation_metadata_spark"
CALLERS = (ROOT / "__spark_entry__.py", ROOT / "bench.py", ROOT / "tools", ROOT / "perfbench", PKG)

_REFERENCE_HELPER = (
    "reference-stage helper with tests but no caller; it gets a caller the "
    "oracle gate or a job exercises, or is deleted with its tests (ROADMAP item 7)"
)
_INLINE_TWIN = (
    "operator with tests whose registry query runs the same Spark pattern "
    "inline; the query calls it, or it is deleted with its tests (ROADMAP item 7)"
)
_SCALAR_ORACLE = "scalar reference the tests compare its vectorized kernel against"
_FIXTURE_SCHEMA = "schema the test fixtures build their input frames with"

# qualified name (module path under the package, then the name) -> reason
ALLOWED = {
    "__version__": "package metadata, read by installers and users, not by code",
    "schemas.PKP_JOURNALS": _FIXTURE_SCHEMA,
    "schemas.OPENALEX_WORKS": _FIXTURE_SCHEMA,
    "schemas.LANDING_PAIRS": _FIXTURE_SCHEMA,
    "functions.hashing.minhash_bands": _SCALAR_ORACLE,
    "functions.kernels.sim_triple_py": _SCALAR_ORACLE,
    "operators.similarity_search.brute_force_topk": _INLINE_TWIN,
    "operators.similarity_search.cosine": _INLINE_TWIN,
    "operators.stats.rollup_stats": _INLINE_TWIN,
    "sources.readers.read_csv": _REFERENCE_HELPER,
    "sources.readers.read_jsonl": _REFERENCE_HELPER,
    "sources.readers.read_whole_files": _REFERENCE_HELPER,
    "sources.readers.with_deterministic_file_order": _REFERENCE_HELPER,
    "sources.sinks.write_one_file_per_record": _REFERENCE_HELPER,
    "operators.corpus_filter.write_partitioned": _REFERENCE_HELPER,
    "operators.fetch.fetch_urls": _REFERENCE_HELPER,
    "operators.html_extract.html_parse_stats": _REFERENCE_HELPER,
    "operators.multimodal.attach_extracted_text": _REFERENCE_HELPER,
    "operators.scoring_ref.compare_landing_to_works": _REFERENCE_HELPER,
    "operators.stats.overall_stats": _REFERENCE_HELPER,
    "operators.stats.per_doi_stats": _REFERENCE_HELPER,
    "functions.native.epoch_ms_to_compact_utc": _REFERENCE_HELPER,
    "functions.native.content_type_is": _REFERENCE_HELPER,
    "functions.native.sanitize_filename": _REFERENCE_HELPER,
    "functions.native.openalex_wid": _REFERENCE_HELPER,
}


def _py_files(paths) -> list[Path]:
    out = []
    for p in paths:
        out.extend([p] if p.is_file() else sorted(p.rglob("*.py")))
    return out


def _module_name(path: Path) -> str:
    parts = list(path.relative_to(PKG).with_suffix("").parts)
    if parts[-1] == "__init__":
        parts.pop()
    return ".".join(parts)


def _defined(stmt: ast.stmt) -> list[str]:
    if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
        return [stmt.name]
    targets = stmt.targets if isinstance(stmt, ast.Assign) else [getattr(stmt, "target", None)]
    return [t.id for t in targets if isinstance(t, ast.Name)]


def _is_public(name: str) -> bool:
    return not name.startswith("_") or (name.startswith("__") and name.endswith("__"))


def _identifiers(node: ast.AST) -> set[str]:
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Load):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias):
            out.add(n.name.rsplit(".", 1)[-1])
    return out


def unreached_names() -> tuple[set[str], set[str]]:
    """(every public top-level name, those without a caller), qualified."""
    defs: dict[tuple[Path, int], list[str]] = {}  # (file, stmt index) -> qualified names
    refs: dict[str, set[tuple[Path, int]]] = {}  # identifier -> where it is used
    for path in _py_files(CALLERS):
        tree = ast.parse(path.read_text(encoding="utf-8"), filename=str(path))
        for i, stmt in enumerate(tree.body):
            if PKG in path.parents:
                names = [n for n in _defined(stmt) if _is_public(n)]
                if names:
                    mod = _module_name(path)
                    defs[(path, i)] = [f"{mod}.{n}" if mod else n for n in names]
            for ident in _identifiers(stmt):
                refs.setdefault(ident, set()).add((path, i))
    public, unreached = set(), set()
    for site, names in defs.items():
        for qual in names:
            public.add(qual)
            if not refs.get(qual.rsplit(".", 1)[-1], set()) - {site}:
                unreached.add(qual)
    return public, unreached


def test_every_public_name_has_a_caller_outside_tests():
    public, unreached = unreached_names()
    # the scan sees the engine: the flagship entry points are public and reached
    assert {"plans.reconcile.reconcile", "operators.pairs.candidate_pairs"} <= public - unreached
    missing = sorted(unreached - set(ALLOWED))
    assert not missing, (
        "public names no job, query, tool or benchmark reaches (give each a "
        f"caller, delete it, or allow it in ALLOWED with a reason): {missing}"
    )


def test_allowlist_names_exist_and_are_still_unreached():
    public, unreached = unreached_names()
    assert all(reason.strip() for reason in ALLOWED.values())
    stale = sorted(set(ALLOWED) - unreached)
    assert not stale, (
        f"ALLOWED entries that are gone or now have a caller; drop them: "
        f"{[(n, 'reached' if n in public else 'gone') for n in stale]}"
    )
