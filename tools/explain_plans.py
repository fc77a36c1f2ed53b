"""Dump physical plans for the load-bearing queries to PLANS.md so plan
quality (pushdown, broadcast, codegen spans, Arrow eval placement) is
reviewable — the `.explain("formatted")` discipline.

Usage: python tools/explain_plans.py [sf_dir]
"""

from __future__ import annotations

import contextlib
import io
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry_mod  # noqa: E402
from reconcile_pkp_beacon_journals_w_openalex_affiliation_metadata_spark.session import (  # noqa: E402
    get_spark,
)

SHOW = [
    "p1_project_filter",       # expect: PushedFilters + pruned ReadSchema
    "j1_broadcast_semi",       # expect: BroadcastHashJoin LeftSemi
    "j3_top1_per_group",       # expect: single shuffle + Window
    "a10_grouping_sets_rollup",  # expect: Expand + partial/final HashAggregate
    "x1_reconcile_flagship",   # expect: ArrowEvalPython only where UDFs live
    "x2_minhash_lsh_pairs",    # expect: one Exchange(band), the count
                               # Window as the cap, an ObjectHashAggregate
                               # collecting each band's ids on the same
                               # partitioning and two Generates expanding
                               # the pairs; no join, one banding
                               # ArrowEvalPython, no persists
    "x7_embedding_near_dup",   # expect: bucket-bit ArrowEvalPython, one
                               # Exchange(bucket) and one per-bucket kernel
                               # (FlatMapGroupsInPandas); no join
    "f20_html_extract",        # expect: one ArrowEvalPython + one merge shuffle
    "x8_block_skew_profile",   # expect: one agg pair over the keys, no join
    "x9_ann_ivf_topk",         # expect: closure-matrix ArrowEvalPython pickers,
                               # one per input (corpus, queries) and no
                               # isnotnull filter over a picker output;
                               # one hash join on cell id, window top-k
    "x10_delta_candidate_pairs",  # expect: two key joins (new x all, old x
                               # new) + one dedup shuffle; no old x old join
    "x11_delta_minhash_pairs", # expect: x2's shape over the _new-tagged
                               # old + new union (one banding
                               # ArrowEvalPython per side — the query bands
                               # the old side inline; production reads a
                               # committed table); no join, no InMemory scan
    "x12_delta_simhash_pairs",  # expect: one Exchange(bk) over the
                               # _new-tagged old + new block rows, an
                               # ObjectHashAggregate collecting new and old
                               # members, two Generates expanding new x new
                               # + new x old, then the Hamming Filter; no
                               # join, no InMemory scan, one simhash
                               # ArrowEvalPython per side
    "x13_delta_ngram_jaccard",  # expect: the x11 delta-candidate shape +
                               # two text joins + ONE verify ArrowEvalPython
                               # over candidate rows only
    "x14_minhash_jaccard_estimate",  # expect: x2's candidate shape + two
                               # hinted SortMergeJoins attaching the
                               # signatures, whose exchanges AQE reuses at
                               # runtime (one signature ArrowEvalPython);
                               # no InMemory scan
    "t11_sequence_packing_slices",  # expect: one Window (stratum sum) +
                               # Generate (explode) — all codegen, no UDF
    "x15_ivf_insert_topk",     # expect: union of old assignments + the new
                               # batch's map-only picker, each picker once
                               # with no isnotnull filter over its output;
                               # one cell hash join
    "x16_delta_embedding_near_dup",  # expect: bucket bits for the new
                               # side only, union with the old keys, one
                               # per-bucket kernel that emits only pairs
                               # touching a new row; no join
    "t12_near_dup_groups",     # expect: LSH candidate shape feeding the CC
                               # rounds' checkpointed scans + one roll-up
                               # HashAggregate (r4-verdict item: in the list)
    "t13_dedup_decisions",     # expect: same CC labels, a Filter + Project
                               # — NO per-cluster collect_list anywhere
    "t14_pack_materialize",    # expect: one Window + Generate + ONE
                               # (stratum, pack) HashAggregate; no UDF
    "t15_repetition_metrics",  # expect: Generate over zip_with + two
                               # partial/final HashAggregates, all codegen
    "t16_decontamination",     # expect: BroadcastHashJoin probe (bench
                               # side broadcast) — the corpus never shuffles
                               # until the tiny per-doc rollup
    "x17_blocking_family_quality",  # expect: the candidate join once +
                               # family/pair HashAggregates, no extra join
    "t18_pii_redaction",       # expect: pure Project of regexp ops inside
                               # one WholeStageCodegen span, no shuffle
                               # before the final sort
    "o7_token_budget_sample",  # expect: one Window on the stratum key +
                               # Filter; no global sort before the cut
    "x20_delta_materialize_packs",  # expect: batch-only window + broadcast
                               # totals join + Union with the O(#strata)
                               # trailing packs; slices cut inside the
                               # transform (no full-array duplication)
]


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark(app_name="explain", cores=4, shuffle_partitions=8)
    qs = entry_mod.queries()
    out = ["# PLANS — physical plans of the headline queries\n"]
    out.append(
        f"Generated by tools/explain_plans.py on {os.path.basename(sf_dir)}; "
        "`<sf>` in scan locations stands for that directory.\n"
    )
    for name in SHOW:
        df = qs[name](spark, sf_dir)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        plan = buf.getvalue().replace(sf_dir, "<sf>")
        out.append(f"\n## {name}\n\n```\n{plan}\n```\n")
    with open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md"), "w") as f:
        f.write("".join(out))
    print("wrote PLANS.md")


if __name__ == "__main__":
    main()
