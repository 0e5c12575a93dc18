#!/usr/bin/env python
"""Extra benchmarks for optimization work (round 6) — NOT the driver
contract (`bench.py` is frozen; guide §1.4 noop-sink isolation lives
here). Reproduces individual bench legs so a change can be timed without
a full bench run.

    python bench_extra.py vec100k      # the 100k-vector ANN family
    python bench_extra.py graph400k    # the 400k-edge graph family
    python bench_extra.py catalog NAME [NAME...]   # sf-scale legs
    python bench_extra.py e2e          # flagship pipeline, 1 rep
"""
from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time


def main() -> None:
    what = sys.argv[1] if len(sys.argv) > 1 else "vec100k"
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from pyspark.sql import functions as F

    from pl_marker_spark.session import get_spark

    spark = get_spark(app=f"bench-extra-{what}")
    spark.sparkContext.setLogLevel("ERROR")
    timings: dict[str, float] = {}

    def leg(name):
        spark.sparkContext.setJobDescription(name)

        class _T:
            def __enter__(self):
                self.t0 = time.time()
                return self

            def __exit__(self, *a):
                timings[name] = round(time.time() - self.t0, 3)
                spark.sparkContext.setJobDescription(None)

        return _T()

    if what == "vec100k":
        from pl_marker_spark.ann_ivf import ivf_sq_topk, ivf_topk, semdedup
        from pl_marker_spark.pq import ivf_pq_topk, pq_ann_topk

        n_vec, dim = 100_000, 64
        ivf_dir = tempfile.mkdtemp(prefix="plm_ivf100k_x_")
        try:
            dims = F.sequence(F.lit(0), F.lit(dim - 1))
            vec = F.transform(dims, lambda d: (
                (F.xxhash64(F.col("id") * dim + d) % 10007).cast("double")
                / 10007.0 - 0.5).cast("float"))
            spark.range(n_vec).select(
                F.col("id").alias("vec_id"), vec.alias("embedding")
            ).write.mode("overwrite").parquet(f"{ivf_dir}/embeddings.parquet")
            k100 = 316
            with leg("ann_ivf_100k"):
                n = ivf_topk(spark, ivf_dir, k_cells=k100, nprobe=4,
                             lloyd_rounds=1, n_queries=64).count()
            print("ivf rows", n)
            with leg("ann_ivf_sq_100k"):
                n = ivf_sq_topk(spark, ivf_dir, k_cells=k100, nprobe=4,
                                n_queries=64).count()
            print("ivf_sq rows", n)
            with leg("ann_pq_100k"):
                n = pq_ann_topk(spark, ivf_dir, m_pq=16, n_queries=64).count()
            print("pq rows", n)
            with leg("ann_ivf_pq_100k"):
                n = ivf_pq_topk(spark, ivf_dir, k_cells=k100, nprobe=4,
                                m_pq=16, n_queries=64).count()
            print("ivf_pq rows", n)
            with leg("semdedup_100k"):
                n_keep = semdedup(spark, ivf_dir, k_cells=k100, tau=0.95) \
                    .agg(F.sum("keep")).collect()[0][0]
            assert n_keep == n_vec, n_keep
        finally:
            shutil.rmtree(ivf_dir, ignore_errors=True)

    elif what == "catalog":
        from pl_marker_spark import queries_catalog

        qs = queries_catalog.queries()
        for name in sys.argv[2:]:
            with leg(name):
                qs[name](spark, sf_dir).write.format("noop") \
                    .mode("overwrite").save()

    elif what == "graph400k":
        run_graph400k(spark, timings, leg)

    elif what == "e2e":
        from pl_marker_spark import synth
        from pl_marker_spark.checkpoint import CheckpointStore
        from pl_marker_spark.config import DEFAULT_CONFIG
        from pl_marker_spark.pipeline.runner import run_full_pipeline

        sf = 0.1
        n_convs = max(50, int(200000 * sf))
        workdir = tempfile.mkdtemp(prefix="plm_bx_")
        try:
            tdir = f"{workdir}/transcripts"
            synth.transcripts_df(spark, n_convs).write.parquet(tdir)
            transcripts = spark.read.parquet(tdir)
            store = CheckpointStore(spark, f"{workdir}/ck", run_id="bx")
            with leg("kg_pipeline_e2e"):
                out = run_full_pipeline(spark, transcripts, DEFAULT_CONFIG, store,
                                        granularity="coarse")
                n_triples = out["triples"].count()
                n_edges = out["edges"].count()
            print("triples", n_triples, "edges", n_edges)
        finally:
            shutil.rmtree(workdir, ignore_errors=True)

    print(json.dumps({"bench_extra": what, "queries": timings,
                      "total": round(sum(timings.values()), 3)}))
    spark.stop()


def run_graph400k(spark, timings, leg) -> None:
    from pyspark.sql import functions as F

    from pl_marker_spark.graphops import (hits as hits_kernel,
                                          label_propagation, pagerank,
                                          symmetrize)
    from pl_marker_spark.pipeline.cc import (connected_components,
                                             incremental_components)

    n_nodes, ring = 200_000, 1000
    base = spark.range(n_nodes).select(
        F.col("id").alias("src"),
        ((F.col("id") - F.col("id") % ring)
         + (F.col("id") + 1) % ring).alias("dst"))
    chords = spark.range(n_nodes).select(
        F.col("id").alias("src"),
        ((F.col("id") - F.col("id") % ring)
         + (F.col("id") * 7 + 3) % ring).alias("dst"))
    edges = base.union(chords)
    with leg("cc_star_400k"):
        comp = connected_components(edges, local_threshold=0)
        n_comp = comp.select("component").distinct().count()
    assert n_comp == n_nodes // ring, n_comp
    assign = comp.localCheckpoint()
    delta = spark.range(100).select(
        (F.col("id") * 2 * ring).alias("src"),
        ((F.col("id") * 2 + 1) * ring).alias("dst"))
    with leg("cc_incremental_400k"):
        inc = incremental_components(assign, delta, local_threshold=0)
        n_comp_inc = inc.select("component").distinct().count()
    assert n_comp_inc == n_nodes // ring // 2, n_comp_inc

    pr_nodes = spark.range(n_nodes).select(F.col("id").alias("node"))
    pr_und = symmetrize(edges, "src", "dst")
    for iters in (2, 6):
        with leg(f"pagerank_400k_i{iters}"):
            pagerank(pr_nodes, pr_und, iters=iters).write.format("noop") \
                .mode("overwrite").save()
    for rounds in (2, 6):
        with leg(f"labelprop_400k_r{rounds}"):
            lab = label_propagation(pr_und, rounds=rounds, a="a", b="b")
            lab.select("label").distinct().count()

    aa_n = 200_000
    hedges = spark.range(aa_n // 2).select(
        (F.col("id") * 2).alias("src_id"),
        (F.col("id") * 2 + 1).alias("dst_id")
    ).union(spark.range(aa_n // 2).select(
        (F.col("id") * 2).alias("src_id"),
        ((F.col("id") * 2 + 3) % aa_n).alias("dst_id")))
    hnodes = spark.range(aa_n).select(F.col("id").alias("node"))
    with leg("hits_400k"):
        hh = hits_kernel(hnodes, hedges, iters=3)
        hh.agg(F.count("*"), F.sum("h"), F.sum("a")).collect()


if __name__ == "__main__":
    main()
