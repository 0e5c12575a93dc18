"""Segmented window assembly (unbounded-conversation scale path) must equal
the per-conversation computation exactly — including on the planted
400-turn heavy-tail conversation."""

from pl_marker_spark import synth
from pl_marker_spark.config import DEFAULT_CONFIG
from pl_marker_spark.pipeline.assemble import assemble
from pl_marker_spark.pipeline.ner import infer_ner, suppress_mentions
from pl_marker_spark.pipeline.spanpack import spanpack_ner, spanpack_ner_segmented


def _packed_set(df):
    # slim row form: span coordinates live in (sent_off, n_words, word_off)
    return {
        (r.conv_id, r.turn_idx, r.group_id, tuple(r.window), r.example_l,
         r.sent_off, r.n_words, r.word_off)
        for r in df.collect()
    }


def test_segmented_equals_unsegmented(spark):
    # conv 0 has 400 turns -> many segments; small seg_turns stresses margins
    turns_tok = assemble(synth.transcripts_df(spark, 6)).localCheckpoint()
    base = spanpack_ner(turns_tok, DEFAULT_CONFIG)
    seg = spanpack_ner_segmented(turns_tok, DEFAULT_CONFIG, seg_turns=16)
    assert _packed_set(seg) == _packed_set(base)

    m_base = {
        (r.conv_id, r.turn_idx, r.start, r.end, r.label, round(r.score, 9))
        for r in suppress_mentions(infer_ner(base, DEFAULT_CONFIG), DEFAULT_CONFIG).collect()
    }
    m_seg = {
        (r.conv_id, r.turn_idx, r.start, r.end, r.label, round(r.score, 9))
        for r in suppress_mentions(infer_ner(seg, DEFAULT_CONFIG), DEFAULT_CONFIG).collect()
    }
    assert m_seg == m_base and len(m_base) > 100


def test_full_pipeline_segmented_equals_default(spark):
    from dataclasses import replace
    from pl_marker_spark.pipeline.runner import run_extraction

    t = synth.transcripts_df(spark, 6)
    base = run_extraction(spark, t, DEFAULT_CONFIG)
    seg = run_extraction(spark, t, replace(DEFAULT_CONFIG, segment_turns=16))

    def triples(df):
        return {
            (r.conv_id, r.turn_idx, r.s1, r.e1, r.s2, r.e2, r.pred,
             round(r.score, 9), r.subj_type, r.obj_type)
            for r in df.collect()
        }

    assert triples(seg["triples"]) == triples(base["triples"])
    # the heavy-tail conversation actually split into many segments
    segs = seg["packed_ner"].filter("conv_id = 'c00000000'").select(
        "turn_idx").distinct().count()
    assert segs == 400


def test_segmented_grouped_decode(spark):
    """Config matrix: one-turn segments (every window crosses segment
    margins) on the general plan must equal the single-pass plan, whose RE
    half is the conversation-local grouped decode — mentions and triples."""
    from dataclasses import replace
    from pl_marker_spark.pipeline.runner import run_extraction

    t = synth.transcripts_df(spark, 6)
    base = run_extraction(spark, t, DEFAULT_CONFIG)
    seg = run_extraction(spark, t, replace(DEFAULT_CONFIG, segment_turns=1))

    def mentions(df):
        return {
            (r.conv_id, r.turn_idx, r.start, r.end, r.label, round(r.score, 9))
            for r in df.collect()
        }

    def triples(df):
        return {
            (r.conv_id, r.turn_idx, r.s1, r.e1, r.s2, r.e2, r.pred,
             round(r.score, 9), r.subj_type, r.obj_type)
            for r in df.collect()
        }

    assert mentions(seg["mentions"]) == mentions(base["mentions"])
    got, ref = triples(seg["triples"]), triples(base["triples"])
    assert got == ref and len(ref) > 50


def test_segmented_levpair(spark):
    """Config matrix: segment_turns × levitated_pairs must equal the
    unsegmented C4 variant exactly (round-2 VERDICT item #5: segmented
    corpora must not silently lose the variant profile)."""
    from dataclasses import replace
    from pl_marker_spark.pipeline.runner import run_extraction

    t = synth.transcripts_df(spark, 6)
    base = run_extraction(spark, t, replace(DEFAULT_CONFIG, levitated_pairs=True))
    seg = run_extraction(
        spark, t,
        replace(DEFAULT_CONFIG, levitated_pairs=True, segment_turns=16))

    def triples(df):
        return {
            (r.conv_id, r.turn_idx, r.s1, r.e1, r.s2, r.e2, r.pred,
             round(r.score, 9), r.subj_type, r.obj_type)
            for r in df.collect()
        }

    got, ref = triples(seg["triples"]), triples(base["triples"])
    assert got == ref and len(ref) > 30
