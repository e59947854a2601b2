"""Conversation assembly: turn table -> one row per conversation.

The reference assembles documents from ordered tagged-line fragments
(wos2xlsx.py:21-64: group lines by (doc, tag), join, pivot).  The transcript
analogue concatenates turns under a stable ``turn_idx`` ordering.

Shuffle-safety: ``collect_list`` order is NOT deterministic after a shuffle,
so we always ``sort_array(collect_list(struct(turn_idx, ...)))`` — the struct
sorts lexicographically by field order, turn_idx first (SURVEY.md §7.4 #3).
Ties on duplicate (conv_id, turn_idx) fall back to (role, text, tool), which
keeps the result deterministic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

#: separator between turns in the assembled document
TURN_SEP = "\n"


def assemble_docs(
    turns: DataFrame,
    include_roles_tools: bool = False,
    duplicate_keys: Observation | None = None,
) -> DataFrame:
    """(conv_id, turn_idx, text[, role, tool]) -> one row per conv_id with
    ``doc``, the turn texts joined in turn order (and ``roles``/``tools``
    with ``include_roles_tools``).  Only those fields enter the aggregate,
    so the map-side partial aggregates and the shuffle carry exactly what
    downstream needs.

    ``duplicate_keys`` observes ``duplicate_turn_keys``: the number of
    (conv_id, turn_idx) keys appearing more than once.  ``turn_idx`` is the
    contract's order key (input_hint: dense, stable); duplicates still
    assemble deterministically (the sort falls back to the remaining
    fields) but per-turn identity becomes ambiguous, so the count is
    surfaced instead of failing silently — on the aggregate this function
    already runs, no extra scan.
    """
    # sort key = (turn_idx, role, text, tool) ALWAYS, so a duplicate-turn_idx
    # corpus assembles the same doc with or without roles/tools requested
    # (a lean (turn_idx, text) struct would break ties text-first).  role/tool
    # ride the shuffle even in the lean path: a few bytes next to the text.
    # A minimal (conv_id, turn_idx, text) frame — e.g. a foreachBatch
    # source without role/tool — still assembles: missing columns enter
    # the struct as '' so the sort key degrades to (turn_idx, text) and
    # the roles/tools outputs (if requested) are empty strings (r4 review:
    # the unconditional column refs broke the documented lean shape).
    have = set(turns.columns)
    role = (F.col("role") if "role" in have else F.lit("")).alias("role")
    tool = (F.col("tool") if "tool" in have else F.lit("")).alias("tool")
    agg = turns.groupBy("conv_id").agg(
        F.sort_array(
            F.collect_list(F.struct(F.col("turn_idx").alias("turn_idx"), role,
                                    F.col("text").alias("text"), tool))
        ).alias("_t")
    )
    if duplicate_keys is not None:
        # the array is sorted on turn_idx: a repeated key sits right after
        # its first occurrence, and each repeated key counts once
        idx = F.col("_t.turn_idx")
        repeated = F.filter(idx, lambda x, i: x == F.get(idx, i - 1))
        agg = agg.observe(
            duplicate_keys,
            F.coalesce(F.sum(F.size(F.array_distinct(repeated))), F.lit(0))
            .alias("duplicate_turn_keys"),
        )
    # field extraction over the struct array (GetArrayStructFields) is
    # codegen-native; transform()/filter() lambdas are HigherOrderFunctions
    # (CodegenFallback -> interpreted path).  concat_ws skips null elements
    # and array_remove drops empty strings.
    out = agg.withColumn("doc", F.array_join(F.col("_t.text"), TURN_SEP))
    if include_roles_tools:
        out = out.withColumn(
            "roles", F.array_join(F.col("_t.role"), " ")
        ).withColumn(
            "tools", F.concat_ws(" ", F.array_remove(F.col("_t.tool"), ""))
        )
    return out.drop("_t")

