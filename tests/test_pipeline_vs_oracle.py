"""The correctness gate: the Spark pipeline must match the single-process
reference-semantics oracle triple-for-triple (P/R = 1.0 on the deterministic
surrogate — BASELINE.md operative target)."""

import pytest

from pl_marker_spark import synth
from pl_marker_spark.config import DEFAULT_CONFIG
from pl_marker_spark.oracle_ref import oracle_metrics, run_oracle
from pl_marker_spark.pipeline.ner import infer_ner
from pl_marker_spark.pipeline.runner import run_extraction
from pl_marker_spark.pipeline.spanpack import spanpack_ner

N_CONVS = 30


@pytest.fixture(scope="module")
def corpus():
    return synth.local_corpus(N_CONVS)


@pytest.fixture(scope="module")
def oracle(corpus):
    return run_oracle(corpus[0], DEFAULT_CONFIG)


@pytest.fixture(scope="module")
def spark_out(spark, corpus):
    transcripts = synth.transcripts_df(spark, N_CONVS)
    out = run_extraction(spark, transcripts, DEFAULT_CONFIG)
    return out


def _round(x, nd=9):
    return round(x, nd)


def test_mentions_match(spark_out, oracle):
    got = {
        (r.conv_id, r.turn_idx, r.start, r.end, r.label, _round(r.score))
        for r in spark_out["mentions"].collect()
    }
    want = {(c, t, s, e, l, _round(p)) for c, t, s, e, l, p in oracle["mentions"]}
    assert got == want
    assert len(got) > 50


def test_raw_span_scores_match(spark_out, oracle):
    # the single-pass plan keeps no pre-suppression scores: score the
    # staged packing of the same tokens
    span_scores = infer_ner(spanpack_ner(spark_out["turns_tok"], DEFAULT_CONFIG),
                            DEFAULT_CONFIG)
    got = {
        (r.conv_id, r.turn_idx, r.start, r.end, r.label, _round(r.score))
        for r in span_scores.collect()
    }
    want = {(c, t, s, e, l, _round(p)) for c, t, s, e, l, p in oracle["raw"]}
    assert got == want


def test_triples_match(spark_out, oracle):
    got = {
        (r.conv_id, r.turn_idx, r.s1, r.e1, r.s2, r.e2, r.pred, _round(r.score),
         r.subj_type, r.obj_type)
        for r in spark_out["triples"].collect()
    }
    want = {
        (c, t, s1, e1, s2, e2, p, _round(sc), n1, n2)
        for c, t, s1, e1, s2, e2, p, sc, n1, n2 in oracle["triples"]
    }
    assert got == want
    assert len(got) > 20


def test_refined_mentions_match(spark_out, oracle):
    got = {
        (r.conv_id, r.turn_idx, r.start, r.end, r.label)
        for r in spark_out["mentions_refined"].collect()
    }
    want = {(c, t, s, e, l) for c, t, s, e, l in oracle["refined"]}
    assert got == want


def test_text_equality_invariant(spark, spark_out, corpus):
    """Per-turn text equality under stable ordering (BASELINE.json
    input_hint): every stage table carrying text preserves it exactly."""
    orig = {(r[0], r[1]): r[3] for r in corpus[0]}
    for r in spark_out["turns_tok"].select("conv_id", "turn_idx", "text").collect():
        assert orig[(r.conv_id, r.turn_idx)] == r.text
    assert spark_out["turns_tok"].count() == len(corpus[0])


def test_oracle_gold_agreement(corpus, oracle):
    """Surrogate extraction vs planted gold: P/R >= 0.95 (north rule)."""
    turns, gms, grs = corpus
    gold_types = {(c, t, s, e): l for c, t, s, e, l in gms}
    m = oracle_metrics(
        oracle["mentions"], oracle["raw"], oracle["triples"], gms, grs, gold_types
    )
    assert m["ner_precision"] >= 0.95 and m["ner_recall"] >= 0.95
    assert m["re_precision"] >= 0.95 and m["re_recall"] >= 0.95
