#!/usr/bin/env python
"""spark-submit entry point for the KG-construction pipeline.

Usage (cluster):
    spark-submit --py-files pl_marker_spark.zip run_pipeline.py \
        --input iceberg_catalog.db.transcripts --output /warehouse/kg \
        --checkpoint-dir /warehouse/kg/_ck

Usage (sandbox / synthetic):
    python run_pipeline.py --synthetic-convs 500 --output /tmp/kg_out

The input must have the transcript shape
(conv_id string, turn_idx int, role string, text string, tool string,
 ts timestamp). Every stage checkpoints to --checkpoint-dir and resumes
idempotently; final graph tables land under --output.
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser()
    src = ap.add_mutually_exclusive_group(required=True)
    src.add_argument("--input", help="parquet path or table of transcripts")
    src.add_argument("--synthetic-convs", type=int,
                     help="generate N synthetic conversations instead")
    ap.add_argument("--output", required=True)
    ap.add_argument("--checkpoint-dir", default=None)
    ap.add_argument("--max-seq-length", type=int, default=256)
    ap.add_argument("--max-pair-length-ner", type=int, default=256)
    ap.add_argument("--max-pair-length-re", type=int, default=32)
    ap.add_argument("--use-aux-ner", action="store_true",
                    help="use the aux object-NER head instead of carried labels")
    ap.add_argument("--eval-unidirect", action="store_true",
                    help="ablation: decode raw forward logits, no fusion")
    ap.add_argument("--use-typemarker", action="store_true",
                    help="typed solid subject markers")
    ap.add_argument("--model", choices=("surrogate", "packed_linear", "hf"),
                    default="surrogate",
                    help="registered head: gazetteer surrogate, the "
                         "tensor-consuming packed linear head, or real "
                         "checkpoint weights via the torch-free safetensors "
                         "loader + NumpyBertEncoder (models.py)")
    ap.add_argument("--model-checkpoint",
                    help="model=hf: base dir holding ner/ and re/ checkpoint "
                         "subdirs (model.safetensors + config.json each); "
                         "omit to use the generated reference checkpoint")
    ap.add_argument("--ner-feature",
                    choices=("marker_text4", "span2", "marker2", "bilinear"),
                    default="marker_text4",
                    help="I3 NER head ablation family (packed_linear): 4H "
                         "marker+text concat (BertForSpanMarkerNER, the "
                         "shipped head), span-only 2H, marker-only 2H, or "
                         "the bilinear head (BertForSpanMarkerBiNER)")
    ap.add_argument("--att-left", action="store_true",
                    help="K6 ablation: start markers of a packed RE group "
                         "attend to each other (run_re.py:420-424)")
    ap.add_argument("--att-right", action="store_true",
                    help="K6 ablation: end markers attend to each other")
    ap.add_argument("--use-full-layer", type=int, default=-1,
                    help="switch the encoder to the 1-D full attention mask "
                         "at this layer (tensor models; -1 = packed 2D mask "
                         "throughout)")
    ap.add_argument("--with-eval", action="store_true",
                    help="score vs synthetic gold and write a metrics table "
                         "(synthetic input only)")
    ap.add_argument("--granularity", choices=("fine", "coarse"), default="fine")
    ap.add_argument("--segment-turns", type=int, default=0,
                    help=">0: segmented window assembly for unbounded "
                         "conversations (exact)")
    args = ap.parse_args(argv)

    from pl_marker_spark import synth
    from pl_marker_spark.checkpoint import CheckpointStore
    from pl_marker_spark.config import PipelineConfig
    from pl_marker_spark.pipeline.runner import run_full_pipeline
    from pl_marker_spark.session import get_spark

    spark = get_spark(app="pl-marker-kg")
    cfg = PipelineConfig(
        max_seq_length_ner=args.max_seq_length,
        max_seq_length_re=args.max_seq_length,
        max_pair_length_ner=args.max_pair_length_ner,
        max_pair_length_re=args.max_pair_length_re,
        use_ner_results=not args.use_aux_ner,
        eval_unidirect=args.eval_unidirect,
        use_typemarker=args.use_typemarker,
        segment_turns=args.segment_turns,
        model=args.model,
        ner_feature=args.ner_feature,
        att_left=args.att_left,
        att_right=args.att_right,
        use_full_layer=args.use_full_layer,
    )
    if args.model == "hf":
        ckdir = args.model_checkpoint
        if not ckdir:
            from pl_marker_spark.models import ensure_reference_checkpoint

            ckdir = ensure_reference_checkpoint()
        from dataclasses import replace as _r

        cfg = _r(cfg, checkpoint_dir=ckdir)
    if args.input:
        if args.input.endswith((".json", ".jsonl")):
            # S1: the reference's jsonline doc format ingests directly
            # (sources.read_reference_jsonl) — point this at an existing
            # SciERC/ACE prep file
            from pl_marker_spark.sources import read_reference_jsonl

            transcripts = read_reference_jsonl(spark, args.input)
        else:
            transcripts = (
                spark.read.table(args.input)
                if "." in args.input and "/" not in args.input
                else spark.read.parquet(args.input)
            )
    else:
        transcripts = synth.transcripts_df(spark, args.synthetic_convs)

    from pl_marker_spark.checkpoint import run_fingerprint

    ckdir = args.checkpoint_dir or f"{args.output}/_ck"
    identity = args.input or f"synthetic:{args.synthetic_convs}"
    store = CheckpointStore(
        spark, ckdir, run_id=f"run{int(time.time())}",
        fingerprint=run_fingerprint(cfg, identity),
    )
    t0 = time.time()
    if args.with_eval and args.synthetic_convs:
        from pl_marker_spark.pipeline.runner import run_with_eval

        out = run_with_eval(
            spark, transcripts,
            synth.gold_mentions_df(spark, args.synthetic_convs),
            synth.gold_relations_df(spark, args.synthetic_convs),
            cfg, store, args.granularity,
        )
    else:
        out = run_full_pipeline(spark, transcripts, cfg, store, args.granularity)
    for table in ("mentions", "triples", "nodes", "edges"):
        out[table].write.mode("overwrite").parquet(f"{args.output}/{table}")
    summary = {
        "seconds": round(time.time() - t0, 2),
        "stages": store.events,
    }
    if "metrics" in out:
        out["metrics"].write.mode("overwrite").parquet(f"{args.output}/metrics")
        summary["metrics"] = {
            r["key"]: r["value"] for r in out["metrics"].collect()
        }
    print(json.dumps(summary))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
