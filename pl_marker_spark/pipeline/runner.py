"""End-to-end pipeline driver: transcripts → … → triples (+ graph stages).

Extraction runs one of two plans, picked from the config by
``single_pass_eligible`` (each node a checkpoint table, SURVEY.md §7).

Single-pass (surrogate head, whole conversations, default packing,
bidirectional RE decode — DEFAULT_CONFIG):

    transcripts ─▶ turns_tok ─▶ extract ─▶ (mentions, triples_raw)
                                      ─▶ triples / mentions_refined

General (every other config; tensor heads batch across conversations):

    transcripts ─▶ turns_tok ─▶ packed_ner ─▶ span_scores ─▶ mentions
         │                                                      │
         └──────────────────────▶ packed_re ◀───────────────────┘
                                      │
                     pair_scores ─▶ triples_raw ─▶ triples / mentions_refined

packed_ner / packed_re use the segmented packers when ``segment_turns > 0``;
the levitated-pair variant swaps packed_re/pair_scores for its own chain;
``eval_unidirect`` decodes pair_scores without fusion.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..config import PipelineConfig
from ..checkpoint import CheckpointStore
from .assemble import assemble
from .ner import infer_ner, suppress_mentions
from .rel import (
    decode_unidirect,
    fuse_and_decode,
    infer_pairs,
    refine_types,
    suppress_triples,
)
from .repack import repack_re, repack_re_segmented
from .spanpack import spanpack_ner, spanpack_ner_segmented


def single_pass_eligible(cfg: PipelineConfig) -> bool:
    """Whether run_extraction takes the single-pass plan
    (extract_fused.extract_single_pass). That plan scores with the
    surrogate head one whole conversation at a time and decodes RE
    bidirectionally, so it excludes tensor heads and tensor assembly (the
    general plan batches their packed groups across conversations),
    ``segment_turns``, the packing-reorder knobs (they change only the
    staged packing they exist to exercise) and the unidirect and
    levitated-pair ablations."""
    return (
        cfg.model == "surrogate"
        and not cfg.assemble_tensors
        and cfg.segment_turns == 0
        and not (cfg.shuffle or cfg.group_sort or cfg.group_edge)
        and not cfg.eval_unidirect
        and not cfg.levitated_pairs
    )


def run_extraction(
    spark: SparkSession,
    transcripts: DataFrame,
    cfg: PipelineConfig,
    store: CheckpointStore | None = None,
    granularity: str = "fine",
) -> dict[str, DataFrame]:
    """Run transcripts → triples. With a CheckpointStore each stage is
    materialized + resumable; without one the plan stays lazy end-to-end.
    The plan follows from the config (single_pass_eligible); stages the
    chosen plan does not run are None in the result.

    granularity: "fine" checkpoints every intermediate (best resume
    resolution, used by tests); "coarse" parquet-checkpoints only the
    north-rule-mandated stage boundaries (span-pack → packed_ner, NER →
    mentions, RE → triples, or the single-pass extract table; link/
    canonicalize are in build_graph), pins multi-consumer intermediates in
    memory, and leaves single-consumer stages lazy — the production/bench
    configuration (round-1 VERDICT item #3: every extra parquet barrier is
    serial driver floor).

    Coarse materialization choices and why:
    - turns_tok (parquet): consumed by span-pack, RE repack and graph
      surfaces — at 10^6-turn scale the words+subwords arrays are too big
      to pin on-heap (a localCheckpoint here cost ~2x e2e at 32 threads /
      8 GB heap via eviction+GC churn — measured, BENCH.md round 2);
    - pair_scores (parquet): fuse_and_decode self-joins it — left lazy,
      the RE inference UDF runs twice (once per join branch, and twice the
      whole upstream repack); parquet materializes inference exactly once
      and doubles as the resumable RE-scores stage;
    - triples_raw (memory): small (one row per kept pair) and consumed by
      both refine_types outputs."""
    fine = granularity == "fine"
    coarse_parquet = {"packed_ner", "mentions", "triples", "turns_tok",
                      "pair_scores", "extract"}
    coarse_mem = {"triples_raw"}

    def ck(name: str, build, bucket_by: list[str] | None = None):
        if store is None:
            return build()
        if fine:
            return store.stage(name, build)
        if name in coarse_parquet:
            # bucketed stage boundaries only in the production (coarse)
            # profile: every conversation-keyed consumer then reads the
            # scan's own partitioning instead of re-shuffling the stage
            return store.stage(name, build, bucket_by=bucket_by)
        if name in coarse_mem:
            return build().localCheckpoint()
        return build()

    turns_tok = ck("turns_tok",
                   lambda: assemble(transcripts, cfg.tokenizer_family),
                   bucket_by=["conv_id"])
    packed_ner = span_scores = packed_re = pair_scores = None
    if single_pass_eligible(cfg):
        # mentions AND triples from ONE pass over the (bucketed) corpus —
        # each conversation's mentions feed its RE decode in-process, so
        # extraction reads the token arrays exactly once and writes exactly
        # one table. The union table stays a plain parquet sink: measured
        # both ways (VERDICT r3 item #8), partitionBy("kind") lost ~3 s e2e
        # at 20k convs (dynamic-partition commit + partition discovery on
        # every re-read outweigh pruning 2 values), and two sinks would
        # need a second pass over the token arrays.
        from .extract_fused import extract_single_pass, split_extract

        ext = ck("extract", lambda: extract_single_pass(turns_tok, cfg))
        mentions, triples_raw = split_extract(ext)
    else:
        seg = cfg.segment_turns
        packed_ner = ck("packed_ner", lambda: (
            spanpack_ner_segmented(turns_tok, cfg, seg) if seg > 0
            else spanpack_ner(turns_tok, cfg)))
        span_scores = ck("span_scores", lambda: infer_ner(packed_ner, cfg))
        mentions = ck("mentions", lambda: suppress_mentions(span_scores, cfg),
                      bucket_by=["conv_id"])
        if cfg.levitated_pairs:
            # C4 all-pairs levitated variant (run_levitatedpair.py:282-322):
            # forward-only decode, shared O6/O7 downstream
            from .levpair import (
                decode_levitated,
                repack_levitated,
                repack_levitated_segmented,
            )

            pack, pack_seg, score = (repack_levitated,
                                     repack_levitated_segmented,
                                     decode_levitated)
        else:
            pack, pack_seg, score = repack_re, repack_re_segmented, infer_pairs
        packed_re = ck("packed_re", lambda: (
            pack_seg(turns_tok, mentions, cfg, seg) if seg > 0
            else pack(turns_tok, mentions, cfg)))
        pair_scores = ck("pair_scores", lambda: score(packed_re, cfg))
        if cfg.levitated_pairs:
            decoded = pair_scores
        elif cfg.eval_unidirect:
            decoded = decode_unidirect(pair_scores, mentions)
        else:
            decoded = fuse_and_decode(pair_scores)
        triples_raw = ck("triples_raw", lambda: suppress_triples(decoded))

    # one refine_types build: the shared refined-type map is pinned lazily
    # so the triples and mentions_refined outputs don't recompute it
    triples_df, refined_df = refine_types(
        triples_raw, mentions,
        materialize=(
            (lambda df: df.localCheckpoint(eager=False))
            if store is not None else None
        ),
    )
    triples = ck("triples", lambda: triples_df)
    mentions_refined = ck("mentions_refined", lambda: refined_df)
    return {
        "turns_tok": turns_tok,
        "packed_ner": packed_ner,
        "span_scores": span_scores,
        "mentions": mentions,
        "packed_re": packed_re,
        "pair_scores": pair_scores,
        "triples_raw": triples_raw,
        "triples": triples,
        "mentions_refined": mentions_refined,
    }


def run_full_pipeline(
    spark: SparkSession,
    transcripts: DataFrame,
    cfg: PipelineConfig,
    store: CheckpointStore | None = None,
    granularity: str = "fine",
) -> dict[str, DataFrame]:
    """Extraction + entity linking + canonicalization + graph materialize."""
    from .graph import build_graph

    out = run_extraction(spark, transcripts, cfg, store, granularity)
    if store is None:
        ck = None
    elif granularity == "fine":
        ck = store.stage
    else:
        # coarse: persist intermediates in memory, checkpoint only the
        # link / canonicalize / graph stage boundaries
        coarse_names = {"sim_edges", "entity_assign", "nodes", "edges"}

        def ck(name, build):
            if name in coarse_names:
                return store.stage(name, build)
            return build().localCheckpoint()

    g = build_graph(out["mentions_refined"], out["triples"], out["turns_tok"], ck=ck)
    out.update(g)
    return out


def run_with_eval(
    spark: SparkSession,
    transcripts: DataFrame,
    gold_mentions: DataFrame,
    gold_relations: DataFrame,
    cfg: PipelineConfig,
    store: CheckpointStore | None = None,
    granularity: str = "fine",
) -> dict[str, DataFrame]:
    """Full pipeline + the reference's eval (O8-O11) into a ``metrics``
    checkpoint table — the engine equivalent of results.json (S7)."""
    from .scoring import metrics_table, ner_metrics, re_metrics

    out = run_full_pipeline(spark, transcripts, cfg, store, granularity)

    def build_metrics():
        span_scores = out["span_scores"]
        if span_scores is None:
            # the single-pass plan suppresses in-process and keeps no
            # pre-suppression scores; ner_f1_overlap needs them
            span_scores = infer_ner(spanpack_ner(out["turns_tok"], cfg), cfg)
        rows = ner_metrics(out["mentions"], span_scores, gold_mentions)
        rows.update(re_metrics(out["triples"], gold_relations, gold_mentions))
        rows["n_triples"] = float(out["triples"].count())
        rows["n_mentions"] = float(out["mentions"].count())
        rows["n_nodes"] = float(out["nodes"].count())
        rows["n_edges"] = float(out["edges"].count())
        return metrics_table(spark, rows, stage="eval")

    if store is not None:
        out["metrics"] = store.stage("metrics", build_metrics)
    else:
        out["metrics"] = build_metrics()
    return out
