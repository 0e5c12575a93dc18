"""Stage 4 — RE subject-oriented packing.

C3 pair generation + K3/K4 solid-marker packing (reference
run_re.py:286-355, kernels.subject_instances). Implemented as a *cogrouped*
map: turns and the NER stage's mentions are co-partitioned by ``conv_id`` and
joined in-process per conversation — one shuffle each side, no row blow-up
before packing. The subject×object pair explosion (the skew the north rule
targets) happens inside the kernel bounded by ``max_pair_length_re`` per
packed row, so group output size is capped by construction.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from ..config import PipelineConfig
from ..kernels import context_window, subject_instances
from ..pipeline.spanpack import _conv_index_from_rows


def _mentions_by_turn(mentions_pdf: pd.DataFrame, word_off: int = 0,
                      with_label: bool = True):
    """Ascending-(turn, start, end[, label]) mention groups —
    ``[(turn_idx, [(start, end, label), ...]), ...]`` — built from ONE
    vectorized sort over the batch's column arrays plus boundary slicing,
    replacing the per-row itertuples bucketing + per-turn list sorts the
    staged packers carried (round-4 VERDICT item #9). ``word_off`` shifts
    coords to index-local space (segmented paths); subtracting a constant
    preserves the sort order, so the grouping is order-identical to the
    old per-turn ``ments.sort()``."""
    keys = ["turn_idx", "start", "end"] + (["label"] if with_label else [])
    mp = mentions_pdf.sort_values(keys, kind="stable")
    t = mp["turn_idx"].to_numpy()
    s = (mp["start"].to_numpy().astype(np.int64) - word_off).tolist()
    e = (mp["end"].to_numpy().astype(np.int64) - word_off).tolist()
    ments = (list(zip(s, e, mp["label"].tolist())) if with_label
             else list(zip(s, e)))
    out = []
    start_i = 0
    for c in np.flatnonzero(np.diff(t)).tolist() + [len(t) - 1]:
        out.append((int(t[start_i]), ments[start_i:c + 1]))
        start_i = c + 1
    return out

PACKED_RE_SCHEMA = (
    "conv_id string, turn_idx int, group_id int, "
    "sub_s int, sub_e int, sub_label string, sub_surface string, "
    "sub_win_s int, sub_win_e int, "
    "o_left array<int>, o_right array<int>, o_label array<string>, "
    "o_ws array<int>, o_we array<int>, o_surface array<string>, "
    "window array<string>"
)


def make_repack_fn(cfg: PipelineConfig):
    budget = cfg.budget_re()
    need_tokens = cfg.needs_spliced_tokens()

    def repack(key, turns_pdf: pd.DataFrame, mentions_pdf: pd.DataFrame) -> pd.DataFrame:
        cols = ["conv_id", "turn_idx", "group_id", "sub_s", "sub_e", "sub_label",
                "sub_surface", "sub_win_s", "sub_win_e", "o_left", "o_right",
                "o_label", "o_ws", "o_we", "o_surface", "window"]
        if mentions_pdf.empty or turns_pdf.empty:
            return pd.DataFrame(columns=cols)
        turns_pdf, idx = _conv_index_from_rows(turns_pdf)
        cid = key[0]
        # mention rows per sentence ordinal, sorted like the reference sink
        # (run_acener.py:777 item.sort())
        tid_to_ord = {int(t): n for n, t in enumerate(turns_pdf["turn_idx"])}
        rows = []
        for tid, ments in _mentions_by_turn(mentions_pdf):
            n = tid_to_ord[tid]
            win = context_window(idx, n, budget, truncate=True,
                                 materialize=need_tokens)
            for gid, inst in enumerate(subject_instances(idx, n, win, ments, cfg)):
                sub_surface = " ".join(idx.words[inst.sub_word[0]: inst.sub_word[1] + 1])
                rows.append(
                    (
                        cid, tid, gid, inst.sub_word[0], inst.sub_word[1],
                        inst.sub_label, sub_surface,
                        inst.sub_win[0], inst.sub_win[1],
                        [o[0] for o in inst.objects], [o[1] for o in inst.objects],
                        [o[2] for o in inst.objects], [o[3] for o in inst.objects],
                        [o[4] for o in inst.objects],
                        [" ".join(idx.words[o[3]: o[4] + 1]) for o in inst.objects],
                        inst.tokens if need_tokens else [],
                    )
                )
        return pd.DataFrame(rows, columns=cols)

    return repack


def _pruned_repack_inputs(turns_tok: DataFrame, mentions: DataFrame,
                          cfg: PipelineConfig):
    """Project both cogroup sides down to what the repack kernel reads —
    the subword strings (the widest turn column) ship only when a
    tensor/splice head actually consumes window content."""
    turn_cols = ["conv_id", "turn_idx", "words", "sw_counts"]
    if cfg.needs_spliced_tokens():
        turn_cols.append("subwords")
    return (turns_tok.select(*turn_cols),
            mentions.select("conv_id", "turn_idx", "start", "end", "label"))


def repack_re(turns_tok: DataFrame, mentions: DataFrame, cfg: PipelineConfig) -> DataFrame:
    turns_pruned, mentions_pruned = _pruned_repack_inputs(turns_tok, mentions, cfg)
    return (
        turns_pruned.groupBy("conv_id")
        .cogroup(mentions_pruned.groupBy("conv_id"))
        .applyInPandas(make_repack_fn(cfg), schema=PACKED_RE_SCHEMA)
    )


def _segmented_repack_inputs(turns_tok: DataFrame, mentions: DataFrame,
                             budget: int, seg_turns: int):
    """Segment-replicated turns + center-segment-keyed mentions — the
    shared cogroup inputs of every segmented RE packer."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from .spanpack import segment_assign

    assigned = segment_assign(turns_tok, budget, seg_turns)
    # independent derivation of each turn's center segment (reusing the
    # `assigned` plan here would be an ambiguous self-join in the cogroup)
    w = W.partitionBy("conv_id").orderBy("turn_idx")
    seg_of_turn = turns_tok.select(
        "conv_id", "turn_idx",
        ((F.row_number().over(w) - 1) / F.lit(seg_turns)).cast("int").alias("seg_id"),
    )
    m_seg = mentions.join(seg_of_turn, ["conv_id", "turn_idx"])
    return assigned, m_seg


def repack_re_segmented(
    turns_tok: DataFrame, mentions: DataFrame, cfg: PipelineConfig,
    seg_turns: int = 64,
) -> DataFrame:
    """Segmented subject packing (unbounded-conversation path, see
    spanpack.spanpack_ner_segmented). Turns replicate into reachable
    segments; mentions cogroup by their turn's center segment; windows use
    full-conversation context totals so packing is bit-identical to the
    per-conversation cogroup."""
    budget = cfg.budget_re()
    assigned, m_seg = _segmented_repack_inputs(turns_tok, mentions, budget,
                                               seg_turns)

    def repack(key, turns_pdf: pd.DataFrame, mentions_pdf: pd.DataFrame) -> pd.DataFrame:
        cols = ["conv_id", "turn_idx", "group_id", "sub_s", "sub_e", "sub_label",
                "sub_surface", "sub_win_s", "sub_win_e", "o_left", "o_right",
                "o_label", "o_ws", "o_we", "o_surface", "window"]
        if mentions_pdf.empty or turns_pdf.empty:
            return pd.DataFrame(columns=cols)
        turns_pdf = turns_pdf.sort_values("turn_idx").reset_index(drop=True)
        _, idx = _conv_index_from_rows(
            turns_pdf[["conv_id", "turn_idx", "words", "subwords", "sw_counts"]]
        )
        cid = key[0]
        word_off = int(turns_pdf["word_off"].iloc[0])
        tid_to_ord = {int(t): n for n, t in enumerate(turns_pdf["turn_idx"])}
        rows = []
        for tid, ments in _mentions_by_turn(mentions_pdf, word_off):
            n = tid_to_ord[tid]
            win = context_window(
                idx, n, budget, truncate=True,
                left_total=int(turns_pdf["cum_start"].iloc[n]),
                right_total=int(turns_pdf["conv_total"].iloc[n]
                                - turns_pdf["cum_end"].iloc[n]),
            )
            for gid, inst in enumerate(subject_instances(idx, n, win, ments, cfg)):
                sub_surface = " ".join(
                    idx.words[inst.sub_word[0]: inst.sub_word[1] + 1]
                )
                rows.append(
                    (
                        cid, tid, gid,
                        inst.sub_word[0] + word_off, inst.sub_word[1] + word_off,
                        inst.sub_label, sub_surface,
                        inst.sub_win[0], inst.sub_win[1],
                        [o[0] for o in inst.objects], [o[1] for o in inst.objects],
                        [o[2] for o in inst.objects],
                        [o[3] + word_off for o in inst.objects],
                        [o[4] + word_off for o in inst.objects],
                        [" ".join(idx.words[o[3]: o[4] + 1]) for o in inst.objects],
                        inst.tokens if cfg.needs_spliced_tokens() else [],
                    )
                )
        return pd.DataFrame(rows, columns=cols)

    return (
        assigned.groupBy("conv_id", "seg_id")
        .cogroup(m_seg.groupBy("conv_id", "seg_id"))
        .applyInPandas(repack, schema=PACKED_RE_SCHEMA)
    )
