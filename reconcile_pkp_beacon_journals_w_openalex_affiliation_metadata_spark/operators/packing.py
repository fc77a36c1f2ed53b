"""Sequence packing for LLM-pretraining pipelines.

Docs are concatenated in deterministic (stratum, doc_id) order and cut into
fixed ``pack_size``-token packs; a doc that crosses a pack boundary is SPLIT
into one coverage row per (doc, pack) overlap. ``pack_slices`` emits the
coverage table (who contributes which in-doc token range to which pack);
``materialize_packs`` emits the actual per-pack ordered token concatenation —
the tensor-shaped deliverable a pretraining data loader consumes.
``delta_pack_slices`` / ``delta_materialize_packs`` are the O(batch)
incremental twins (committed corpus never rescanned). Every API reads a
(doc_id, source, text) frame: ``source`` is the stratum.

Scale shape: one shuffle on the stratum key for the running-sum window, a
row-local explode whose fan-out is 1 + n_tokens/pack_size per doc, and (for
materialization) one groupBy on (stratum, pack_id) whose state per key is
bounded by pack_size tokens — no driver loops, no UDFs. On the
materialization path the per-pack token slice is cut INSIDE the transform
that builds the pack range, so each exploded row carries only its own
<= pack_size tokens (exploding first and slicing after would duplicate the
document's full token array once per covered pack — O(n_tokens^2/pack_size)
churn for long docs). Tokenization here is the whitespace splitter shared
with the t1/t3 text metrics; swap ``_tokens`` for a real tokenizer column
upstream and the packing math is unchanged — including for tokenizers that
can emit ZERO tokens for a non-empty doc (such docs are filtered before the
pack-range math, which would otherwise generate a descending phantom range).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _tokens():
    return F.split(F.trim(F.col("text")), "[ \t\n\f\r]+")


def _packed(
    docs: DataFrame, carry_tokens: bool, stratum_totals: DataFrame | None = None
) -> DataFrame:
    """[id, stratum, (toks), n_tokens, tok_before] — the running-sum frame
    shared by every packing API. ``stratum_totals`` (delta mode) offsets
    each stratum's running sum by the committed stream length."""
    w = Window.partitionBy("source").orderBy("doc_id")
    cols = [F.col("doc_id"), F.col("source")]
    if carry_tokens:
        cols.append(_tokens().alias("toks"))
        base = docs.select(*cols).withColumn(
            "n_tokens", F.size("toks").cast("long")
        )
    else:
        cols.append(F.size(_tokens()).cast("long").alias("n_tokens"))
        base = docs.select(*cols)
    # a zero-token doc contributes nothing and must not reach the pack-range
    # math (sequence(first_p, last_p) with last_p < first_p would generate a
    # DESCENDING phantom range); unreachable under the whitespace splitter
    # (split of any string yields >= 1 element) but real under pluggable
    # tokenizers
    base = base.where(F.col("n_tokens") > 0)
    offset = F.lit(0).cast("long")
    if stratum_totals is not None:
        base = base.join(
            F.broadcast(stratum_totals), "source", "left"
        ).withColumn("tok_total", F.coalesce(F.col("tok_total"), F.lit(0)))
        offset = F.col("tok_total")
    packed = base.withColumn(
        "tok_before", offset + F.sum("n_tokens").over(w) - F.col("n_tokens")
    )
    return packed.drop("tok_total") if stratum_totals is not None else packed


def _pack_range(pack_size: int):
    first_p = F.floor(F.col("tok_before") / pack_size)
    last_p = F.floor(
        (F.col("tok_before") + F.col("n_tokens") - 1) / pack_size
    )
    return first_p, last_p


def _slice_rows(packed: DataFrame, pack_size: int) -> DataFrame:
    """Count-only coverage rows (no token payload): explode the pack range,
    then derive the slice arithmetic per row."""
    first_p, last_p = _pack_range(pack_size)
    cov = packed.withColumn("pack_id", F.explode(F.sequence(first_p, last_p)))
    start_g = F.greatest(F.col("pack_id") * pack_size, F.col("tok_before"))
    end_g = F.least(
        (F.col("pack_id") + 1) * pack_size,
        F.col("tok_before") + F.col("n_tokens"),
    )
    return cov.select(
        "doc_id", "source",
        F.col("pack_id").cast("long").alias("pack_id"),
        (start_g - F.col("tok_before")).cast("long").alias("slice_start"),
        (end_g - start_g).cast("long").alias("slice_len"),
        (start_g - F.col("pack_id") * pack_size).cast("long").alias("pack_offset"),
    )


def _token_slice_rows(packed: DataFrame, pack_size: int) -> DataFrame:
    """(stratum, pack_id, pack_offset, slice_toks) with the slice cut
    INSIDE the pack-range transform: each exploded row carries only its own
    <= pack_size tokens, keeping per-doc work O(n_tokens)."""
    first_p, last_p = _pack_range(pack_size)

    def mk(pid):
        start_g = F.greatest(pid * pack_size, F.col("tok_before"))
        end_g = F.least(
            (pid + 1) * pack_size, F.col("tok_before") + F.col("n_tokens")
        )
        return F.struct(
            pid.cast("long").alias("pack_id"),
            (start_g - pid * pack_size).cast("long").alias("pack_offset"),
            F.slice(
                "toks",
                (start_g - F.col("tok_before") + 1).cast("int"),
                (end_g - start_g).cast("int"),
            ).alias("slice_toks"),
        )

    parts = F.transform(F.sequence(first_p, last_p), mk)
    return packed.select("source", F.explode(parts).alias("pk")).select(
        "source",
        F.col("pk.pack_id").alias("pack_id"),
        F.col("pk.pack_offset").alias("pack_offset"),
        F.col("pk.slice_toks").alias("slice_toks"),
    )


def _assemble_packs(slices: DataFrame) -> DataFrame:
    parts = F.sort_array(F.collect_list(F.struct("pack_offset", "slice_toks")))
    return (
        slices.groupBy("source", "pack_id")
        .agg(F.flatten(parts.getField("slice_toks")).alias("pack_toks"))
        .select(
            "source", "pack_id",
            F.concat_ws(" ", "pack_toks").alias("pack_text"),
            F.size("pack_toks").cast("long").alias("pack_len"),
        )
    )


def pack_slices(docs: DataFrame, pack_size: int = 256) -> DataFrame:
    """Coverage table: one row per (doc, pack) overlap.

    Columns: id, stratum, pack_id, slice_start/slice_len (the in-doc token
    range this row contributes), pack_offset (where it lands in the pack).
    Invariants (pytest-asserted): per doc the slices tile [0, n_tokens)
    contiguously; per (stratum, pack) the offsets tile [0, pack_size)
    gaplessly and every pack is exactly full except the last per stratum.
    """
    return _slice_rows(_packed(docs, False), pack_size)


def materialize_packs(docs: DataFrame, pack_size: int = 256) -> DataFrame:
    """Per-pack ordered concatenation — the actual pretraining deliverable.

    One row per (stratum, pack_id) with ``pack_text`` (the pack's tokens in
    stream order, space-joined) and ``pack_len`` (token count; == pack_size
    for every pack except the trailing pack of each stratum). The slice
    structs are assembled per pack with ``sort_array`` on pack_offset —
    groupBy state is bounded by pack_size tokens per key regardless of
    corpus size, so a 10^12-doc corpus packs with one bounded shuffle.
    Tokens are carried through the window (no second join back to the
    documents table).
    """
    return _assemble_packs(_token_slice_rows(_packed(docs, True), pack_size))


def stratum_token_totals(docs: DataFrame) -> DataFrame:
    """(stratum, tok_total) — the committed stream length per stratum; the
    only state ``delta_pack_slices`` needs from a 10^12-doc corpus."""
    return docs.groupBy("source").agg(
        F.sum(F.size(_tokens()).cast("long")).alias("tok_total")
    )


def delta_pack_slices(
    new_docs: DataFrame,
    stratum_totals: DataFrame,
    pack_size: int = 256,
) -> DataFrame:
    """O(batch) incremental packing: coverage rows for an APPENDED batch.

    ``stratum_totals`` is the committed per-stratum token total (from
    :func:`stratum_token_totals`, a one-row-per-stratum table a catalog
    keeps alongside the pack manifest). Contract: the batch is an APPEND —
    every new doc sorts after all committed docs of its stratum in the
    ``doc_id`` order (the t10/t11 stream order). Under that contract the
    new docs' running sums simply start at the committed total, so the
    emitted rows equal the full rebuild's rows for exactly the new docs
    (pytest-gated), and the trailing partial pack of the committed stream
    is naturally topped up by the first new slice. The committed corpus is
    never rescanned: one window over the batch plus a broadcast join
    against the #strata-row totals table.

    New strata (no committed total) start at offset 0.
    """
    return _slice_rows(_packed(new_docs, False, stratum_totals), pack_size)


def delta_materialize_packs(
    new_docs: DataFrame,
    stratum_totals: DataFrame,
    trailing_packs: DataFrame,
    pack_size: int = 256,
) -> DataFrame:
    """O(batch) incremental pack MATERIALIZATION: the affected packs only.

    Inputs beyond the batch: ``stratum_totals`` (one number per stratum,
    see :func:`stratum_token_totals`) and ``trailing_packs`` — the LAST
    committed pack per stratum in the t14 shape (stratum, pack_id,
    pack_text), i.e. O(#strata) rows read back from the committed
    manifest, never the corpus. Emits every pack whose pack_id >= the
    stratum's trailing pack id (the trailing pack re-emitted topped-up
    with the batch's first tokens — a full trailing pack is re-emitted
    byte-identical) plus all packs of brand-new strata; committed packs
    below the trailing id are untouched. Union with those = the full
    rebuild's manifest (pytest-gated). Consumer applies it as a
    replace-by-(stratum, pack_id) upsert — the same batch-replace shape as
    the catalog's append protocol.
    """
    new_slices = _token_slice_rows(_packed(new_docs, True, stratum_totals), pack_size)
    # the committed trailing pack participates as a pseudo-slice at offset 0
    trail_slices = trailing_packs.select(
        F.col("source"),
        F.col("pack_id").cast("long").alias("pack_id"),
        F.lit(0).cast("long").alias("pack_offset"),
        F.split(F.col("pack_text"), " ").alias("slice_toks"),
    )
    return _assemble_packs(new_slices.unionByName(trail_slices))
