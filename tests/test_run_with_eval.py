"""run_with_eval writes a metrics checkpoint matching the oracle's numbers
and includes triple/graph counts (S7 / north-rule metrics)."""

from pl_marker_spark import synth
from pl_marker_spark.checkpoint import CheckpointStore
from pl_marker_spark.config import DEFAULT_CONFIG
from pl_marker_spark.oracle_ref import oracle_metrics, run_oracle
from pl_marker_spark.pipeline.runner import run_with_eval

N = 10


def test_run_with_eval_metrics(spark, tmp_path_factory):
    base = str(tmp_path_factory.mktemp("eval_ck"))
    store = CheckpointStore(spark, base, "eval")
    out = run_with_eval(
        spark,
        synth.transcripts_df(spark, N),
        synth.gold_mentions_df(spark, N),
        synth.gold_relations_df(spark, N),
        DEFAULT_CONFIG,
        store,
        granularity="coarse",
    )
    got = {r.key: r.value for r in out["metrics"].collect()}

    corpus = synth.local_corpus(N)
    oracle = run_oracle(corpus[0], DEFAULT_CONFIG)
    gold_types = {(c, t, s, e): l for c, t, s, e, l in corpus[1]}
    want = oracle_metrics(
        oracle["mentions"], oracle["raw"], oracle["triples"],
        corpus[1], corpus[2], gold_types,
    )
    for k in ("ner_f1", "ner_f1_overlap", "re_f1", "re_f1_with_ner",
              "re_tot_pred", "re_cor"):
        assert abs(got[k] - want[k]) < 1e-9, k
    assert got["n_triples"] == len(oracle["triples"])
    assert got["n_nodes"] > 0 and got["n_edges"] > 0
    assert store.is_complete("metrics")
