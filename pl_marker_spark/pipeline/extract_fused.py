"""Single-pass extraction: mentions AND triples from ONE grouped map per
conversation — the plan run_extraction picks for every config
``runner.single_pass_eligible`` accepts, DEFAULT_CONFIG included.

The mentions a conversation produces are consumed by that same
conversation's RE decode *in-process*, so there is no packed_ner table, no
scored-pair table, and the extraction writes exactly one table (a
``kind``-discriminated union of mention and triple rows) after reading the
corpus once. At 10^12 turns that is the difference between several full
passes over the token arrays and one.

Semantics equal the general plan's staged chain (spanpack_ner → infer_ner
→ suppress_mentions, repack_re → infer_pairs → fuse_and_decode →
suppress_triples): the NER half is ``ner.iter_fused_ner_conv``
(conversation-level word scan + gazetteer pass + per-turn O3) and the RE
half scores and fuses each turn's pairs with ``rel.fuse_suppress_turn``
over the same sorted per-turn mention lists the staged chain would read.
Both plans are equality-tested against run_oracle in test_variants.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame

from ..config import PipelineConfig

EXTRACT_SCHEMA = (
    "conv_id string, turn_idx int, kind string, "
    "start int, end int, label string, score double, "
    "s1 int, e1 int, s2 int, e2 int, pred string, m1_ner string, m2_ner string"
)

MENTION_COLS = ["conv_id", "turn_idx", "start", "end", "label", "score"]
TRIPLE_COLS = ["conv_id", "turn_idx", "s1", "e1", "s2", "e2", "pred",
               "score", "m1_ner", "m2_ner"]


def _decode_turn(idx, n: int, win, ments, cfg: PipelineConfig, transform,
                 use_ner: bool):
    """One turn's conversation-local RE decode with the surrogate head: pack
    subject instances, score every (subject, object) pair, then
    fuse+suppress (O4/O5/O6, rel.fuse_suppress_turn). Returns the kept rows
    (score, m1, m2, label_idx, m1_ner, m2_ner)."""
    from ..kernels import subject_instances
    from ..surrogate import aux_obj_ner, re_logits_for_pair
    from .rel import fuse_suppress_turn

    pair_scores: dict[tuple, tuple[list[float], str]] = {}
    for inst in subject_instances(idx, n, win, ments, cfg):
        sub_surface = " ".join(
            idx.words[inst.sub_word[0] : inst.sub_word[1] + 1])
        for _l, _r, olabel, ows, owe in inst.objects:
            osurf = " ".join(idx.words[ows : owe + 1])
            v = re_logits_for_pair(sub_surface, osurf)
            pair_scores[(inst.sub_word, (ows, owe))] = (
                transform(v) if transform else v,
                olabel if use_ner else aux_obj_ner(osurf))
    return fuse_suppress_turn(pair_scores, cfg)


def extract_single_pass(turns_tok: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """turns_tok -> kind-discriminated union of mention ('m') and triple
    ('t') rows, one grouped map per conversation."""
    from ..world import NER_LABELS, REL_LABELS
    from .rel import _score_transform

    maxlen = cfg.max_mention_ori_length
    family = cfg.tokenizer_family
    overlap_any = cfg.overlap_any
    budget_re = cfg.budget_re()
    use_ner = cfg.use_ner_results
    transform = _score_transform(cfg)

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        from ..kernels import context_window
        from .ner import iter_fused_ner_conv
        from .spanpack import _conv_index_from_rows

        def frame(ment_rows, trip_rows, cid=None):
            """Column-array emit (rel.py flat-emit discipline, round-3
            VERDICT item #9): the mention block then the triple block,
            each column built once — no per-row dict appends."""
            nm, nt = len(ment_rows), len(trip_rows)
            mt = list(zip(*ment_rows)) if nm else [[]] * 5
            tt = list(zip(*trip_rows)) if nt else [[]] * 9
            i32 = lambda m_vals, t_vals: pd.array(
                list(m_vals) + list(t_vals), dtype="Int32")
            nulls_m = [None] * nm
            nulls_t = [None] * nt
            return pd.DataFrame({
                "conv_id": pd.Series([cid] * (nm + nt), dtype="object"),
                "turn_idx": pd.Series(
                    np.fromiter(mt[0], dtype=np.int32, count=nm).tolist()
                    + list(tt[0]), dtype="int32"),
                "kind": pd.Series(["m"] * nm + ["t"] * nt, dtype="object"),
                "start": i32(mt[1], nulls_t),
                "end": i32(mt[2], nulls_t),
                "label": pd.Series(list(mt[3]) + nulls_t, dtype="object"),
                "score": pd.array(list(mt[4]) + list(tt[6]), dtype="Float64"),
                "s1": i32(nulls_m, tt[1]),
                "e1": i32(nulls_m, tt[2]),
                "s2": i32(nulls_m, tt[3]),
                "e2": i32(nulls_m, tt[4]),
                "pred": pd.Series(nulls_m + list(tt[5]), dtype="object"),
                "m1_ner": pd.Series(nulls_m + list(tt[7]), dtype="object"),
                "m2_ner": pd.Series(nulls_m + list(tt[8]), dtype="object"),
            })

        if pdf.empty:
            return frame([], [])
        pdf, idx = _conv_index_from_rows(pdf)
        cid = pdf["conv_id"].iloc[0]
        turn_ids = pdf["turn_idx"].to_numpy()

        # ---- NER half (ner.iter_fused_ner_conv) -------------------------
        ment_rows: list[tuple] = []          # (tid, si, ei, lab, prob)
        by_turn: dict[int, list[tuple[int, int, str]]] = {}
        for _n, tid, si, ei, li, prob in iter_fused_ner_conv(
                idx, turn_ids, family, maxlen, overlap_any):
            lab = NER_LABELS[li]
            ment_rows.append((tid, si, ei, lab, prob))
            by_turn.setdefault(tid, []).append((si, ei, lab))

        # ---- RE half (_decode_turn) --------------------------------------
        trip_rows: list[tuple] = []  # (tid, s1, e1, s2, e2, pred, score, n1, n2)
        tid_to_ord = {int(t): n for n, t in enumerate(turn_ids)}
        for tid, ments in sorted(by_turn.items()):
            ments.sort()
            n = tid_to_ord[tid]
            win = context_window(idx, n, budget_re, truncate=True,
                                 materialize=False)
            trip_rows.extend(
                (tid, m1[0], m1[1], m2[0], m2[1], REL_LABELS[pred],
                 float(score), n1, n2)
                for score, m1, m2, pred, n1, n2 in _decode_turn(
                    idx, n, win, ments, cfg, transform, use_ner))
        return frame(ment_rows, trip_rows, cid)

    pruned = turns_tok.select(
        "conv_id", "turn_idx", "words", "subwords", "sw_counts")
    return pruned.groupBy("conv_id").applyInPandas(run, schema=EXTRACT_SCHEMA)


def split_extract(ext: DataFrame):
    """union table -> (mentions, triples_raw) views; the ``kind`` predicate
    pushes down to the parquet scan."""
    from pyspark.sql import functions as F

    mentions = ext.filter(F.col("kind") == "m").select(*MENTION_COLS)
    triples_raw = ext.filter(F.col("kind") == "t").select(
        "conv_id", "turn_idx", "s1", "e1", "s2", "e2", "pred",
        "score", "m1_ner", "m2_ner")
    return mentions, triples_raw
