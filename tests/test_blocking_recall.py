"""Blocking recall property (SURVEY.md §5.5): pairs similar enough to score
as matches must (almost always) share a title-band blocking key — otherwise
the blocker silently caps the scorer's recall."""

from __future__ import annotations

import random

from reconcile_pkp_beacon_journals_w_openalex_affiliation_metadata_spark import synth
from reconcile_pkp_beacon_journals_w_openalex_affiliation_metadata_spark.functions import (
    hashing,
    kernels,
)


def _bands(title: str) -> set[str]:
    """Union of both LSH families, as blocking.blocking_keys builds them."""
    norm = kernels.normalize_text(title)
    word = {
        "band:" + b
        for b in hashing.minhash_bands(hashing.shingles(norm), bands=16)
    }
    char = {
        "cband:" + b
        for b in hashing.minhash_bands(
            hashing.char_ngrams(norm, 4), bands=8, seed=137
        )
    }
    return word | char


def test_band_recall_on_perturbed_titles():
    rng = random.Random(7)
    total = 0
    recalled = 0
    for i in range(300):
        title = (
            f"{rng.choice(synth._REGION)} {rng.choice(synth._MOD)} "
            f"{rng.choice(synth._ADJ)} {rng.choice(synth._NOUN)}{rng.choice(synth._SUFFIX)}"
        )
        other = synth._perturb_title(rng, title)
        na, nb = kernels.normalize_text(title), kernels.normalize_text(other)
        # only pairs the scorer would confidently match are in scope
        if kernels.indel_ratio(na, nb) < 90.0:
            continue
        total += 1
        if _bands(title) & _bands(other):
            recalled += 1
    assert total > 150
    assert recalled / total >= 0.90, f"band recall {recalled}/{total}"


def test_bands_do_not_collide_for_unrelated_titles():
    rng = random.Random(11)
    collisions = 0
    for _ in range(200):
        t1 = (
            f"{rng.choice(synth._REGION)} {rng.choice(synth._MOD)} "
            f"{rng.choice(synth._ADJ)} {rng.choice(synth._NOUN)}"
        )
        t2 = (
            f"{rng.choice(synth._REGION)} {rng.choice(synth._MOD)} "
            f"{rng.choice(synth._ADJ)} {rng.choice(synth._NOUN)}"
        )
        if kernels.normalize_text(t1) == kernels.normalize_text(t2):
            continue
        if kernels.indel_ratio(
            kernels.normalize_text(t1), kernels.normalize_text(t2)
        ) > 75.0:
            continue  # genuinely similar — allowed to collide
        if _bands(t1) & _bands(t2):
            collisions += 1
    # dissimilar titles almost never share a band (precision of the blocker)
    assert collisions <= 6, f"{collisions} spurious band collisions"
