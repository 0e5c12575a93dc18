#!/usr/bin/env python
"""Benchmark harness (driver contract).

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:
{"metric": ..., "value": <total sec>, "unit": "sec",
 "queries": {name: sec, ...}, "sf": ..., "triples": N,
 "triples_per_sec": ..., "turns_per_sec": ...}

The flagship entry is the full KG pipeline (transcripts → packed markers →
mentions → fused triples → graph) with per-stage checkpoints, exactly as it
would run under spark-submit; the remaining entries are the heavy catalog
operators over the driver's parquet tables.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = 0.1
    for part in sf_dir.replace("/", " ").split():
        if part.startswith("sf"):
            try:
                sf = float(part[2:])
            except ValueError:
                pass

    from pl_marker_spark import queries_catalog, synth
    from pl_marker_spark.checkpoint import CheckpointStore
    from pl_marker_spark.config import DEFAULT_CONFIG
    from pl_marker_spark.pipeline.runner import run_full_pipeline
    from pl_marker_spark.session import get_spark

    spark = get_spark(app="pl-marker-bench")
    spark.sparkContext.setLogLevel("ERROR")

    timings: dict[str, float] = {}
    extras: dict[str, float] = {}

    def spin_probe() -> float:
        """Single-thread ambient probe: seconds for a fixed 5M-iteration
        loop. The host shares CPUs with invisible neighbors (loadavg can
        read 8-12 with an empty process table); recording the probe before
        and after the flagship run lets a reader tell a plan regression
        from a neighbor burst (BENCH.md round-4 'ambient-load confound')."""
        t0 = time.time()
        x = 0
        for i in range(5_000_000):
            x += i * i
        return round(time.time() - t0, 3)

    extras["ambient_spin_before"] = spin_probe()
    extras["ambient_load_before"] = round(os.getloadavg()[0], 2)

    # best-of-N (round-4 VERDICT item #4): the host shares CPUs with
    # invisible neighbors, and round 4's official artifact was captured in
    # a loadavg-11 window — a single rep makes the official record hostage
    # to one bad window. Each timed entry runs N reps and records the MIN
    # (per-rep probes preserved for the e2e flagship so a reader can still
    # see the ambient trail).
    reps = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "2")))
    # SPARK_GRAFT_BENCH_SECTIONS: comma list of {e2e,catalog,graph400k,
    # vec100k} (default all). scaling.py pins "e2e" — its legs compare the
    # flagship pipeline, and the at-scale side entries would triple leg
    # wall time without informing the ratio.
    sections = set(os.environ.get(
        "SPARK_GRAFT_BENCH_SECTIONS", "e2e,catalog,graph400k,vec100k"
    ).split(","))

    # --- flagship: end-to-end KG pipeline over a transcripts table ---------
    # input materialization is untimed (the pipeline's job starts at an
    # existing table, like the reference's eval over a fixed file); the
    # timed section is read → extract → link → canonicalize → graph with
    # the production (coarse) checkpoint granularity.
    # big enough that compute, not stage orchestration, dominates at 32 cores
    # (sf0.1 -> 20k convs ≈ 180k turns; scaling.py overrides higher)
    n_convs = int(os.environ.get("SPARK_GRAFT_CONVS", "0")) or max(50, int(200000 * sf))
    workdir = tempfile.mkdtemp(prefix="plm_bench_")
    if "e2e" not in sections:
        raise SystemExit("bench.py: the e2e section is the headline metric "
                         "and cannot be skipped")
    try:
        tdir = f"{workdir}/transcripts"
        synth.transcripts_df(spark, n_convs).write.parquet(tdir)
        transcripts = spark.read.parquet(tdir)
        e2e_reps: list[float] = []
        for rep in range(reps):
            # a fresh store per rep: resume would otherwise skip every stage
            store = CheckpointStore(spark, f"{workdir}/ck{rep}",
                                    run_id=f"bench{rep}")
            t0 = time.time()
            out = run_full_pipeline(spark, transcripts, DEFAULT_CONFIG, store,
                                    granularity="coarse")
            n_triples = out["triples"].count()
            n_edges = out["edges"].count()
            dt = time.time() - t0
            e2e_reps.append(round(dt, 3))
            extras[f"ambient_spin_after_e2e_rep{rep}"] = spin_probe()
            extras[f"ambient_load_after_e2e_rep{rep}"] = round(
                os.getloadavg()[0], 2)
        n_turns = out["turns_tok"].count()
        dt = min(e2e_reps)
        timings["kg_pipeline_e2e"] = dt
        extras["kg_pipeline_e2e_reps"] = e2e_reps
        extras["triples"] = n_triples
        extras["graph_edges"] = n_edges
        extras["turns"] = n_turns
        extras["n_convs"] = n_convs
        extras["triples_per_sec"] = round(n_triples / dt, 2)
        extras["turns_per_sec"] = round(n_turns / dt, 2)

        # distant-supervision RE-example generation over the at-scale
        # outputs (one conv/turn-keyed join + per-conv window cumsum +
        # slice/flatten marker algebra; no explode — output rows ==
        # triples). Times the training-data payoff leg of the KG.
        t0 = time.time()
        n_ex = queries_catalog.re_examples_from(
            out["triples"], out["turns_tok"]).count()
        timings["kg_re_examples_at_scale"] = round(time.time() - t0, 3)
        extras["re_examples_rows"] = n_ex

        # N-Triples interchange export over the at-scale graph (map-only
        # string assembly over nodes/edges; the serialization a triple
        # store ingests).
        t0 = time.time()
        nt = queries_catalog.ntriples_from(out["nodes"], out["edges"])
        nt.write.format("noop").mode("overwrite").save()
        timings["kg_export_ntriples_at_scale"] = round(time.time() - t0, 3)

        # … and the re-ingest direction: persist the serialization as text
        # (untimed — that's the export consumer's storage), then time
        # sources.read_ntriples + graph reconstruction over the files.
        # The reconstructed edge count is asserted against the graph's
        # in-bench (exporter emits one statement per aggregated edge and
        # synthetic predicates are IRI-safe, so the set round-trips
        # exactly).
        from pyspark.sql import functions as F

        from pl_marker_spark.sources import graph_from_ntriples, read_ntriples

        ntdir = f"{workdir}/ntriples"
        (nt.filter(F.col("kind") != "rejected_token")
           .select("line").write.mode("overwrite").text(ntdir))
        t0 = time.time()
        lines = spark.read.text(ntdir).withColumnRenamed("value", "line")
        rt_nodes, rt_edges = graph_from_ntriples(
            read_ntriples(spark, lines))
        n_nodes_rt = rt_nodes.count()
        n_edges_rt = rt_edges.count()
        timings["kg_read_ntriples_at_scale"] = round(time.time() - t0, 3)
        extras["ntriples_roundtrip_nodes"] = n_nodes_rt
        extras["ntriples_roundtrip_edges"] = n_edges_rt
        assert n_edges_rt == n_edges, (n_edges_rt, n_edges)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)

    # --- heavy catalog operators over the sf tables -------------------------
    qs = queries_catalog.queries()
    catalog_names = () if "catalog" not in sections else (
        "c1_span_enum", "k1_pack_groups", "p4_prefix_sum",
        "minhash_neardup", "dedup_exact", "jaccard_neardup",
        "ann_cosine_topk", "ann_ivf_topk", "fingerprint",
        # round-4 analytics family (graph/sketch/OLAP/range join;
        # kg_entity_pagerank is excluded — it re-runs the full KG
        # pipeline, which is already the flagship timing)
        "graph_triangles", "hll_registers", "cms_freq",
        "rollup_revenue", "window_running", "range_join_counts",
        # round-4 training-example assembly + LM-quality family
        "doc_chunk", "seq_pack", "lm_xent_bucket",
        "mixture_weights", "semdedup", "vocab_build", "oov_rate",
        "epoch_shuffle",
        # round-5 additions: graph k-core + LPA communities, Lee-et-al
        # span merging, containment, A-ES sampling, bloom probe
        "graph_kcore", "graph_labelprop", "dup_span_merge",
        "containment_neardup", "weighted_sample", "bloom_member",
        # round-5 session-2 additions: histogram quantile sketch,
        # PMI collocations, bigram-LM quality scoring
        "hist_quantile", "pmi_pairs", "bigram_lm_ce",
        # round-5 session-3 additions: JSD source drift, Zipf head fit,
        # int8 SQ asymmetric search + the IVF,SQ8 composed index
        "jsd_drift", "zipf_slope", "sq_ann_topk", "ivf_sq_topk",
        # round-5 session-4 additions: PQ ADC search (LUT scan over
        # integer codes), cohort retention rollup, Kneser-Ney bigram LM
        # (the KG materialization rows kg_mention_entity/alias/
        # provenance/conf are excluded like kg_entity_pagerank — they
        # re-run the full KG pipeline, already the flagship timing)
        "pq_ann_topk", "retention_cohorts", "kneser_ney_bigram")
    for name in catalog_names:
        best = None
        for _ in range(reps):
            t0 = time.time()
            df = qs[name](spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            dt = time.time() - t0
            best = dt if best is None else min(best, dt)
        timings[name] = round(best, 3)

    if "catalog" in sections:
        # round-5 tokenizer family, timed over the REAL sf corpus (the
        # catalog twins use the pinned 36-doc corpus, which would measure
        # driver-loop overhead, not the corpus-scale collapse/encode):
        # train = 1 corpus->word-table shuffle + 12 vocab-sized pair aggs;
        # encode = zero-shuffle scan with the merges baked into the plan.
        from pl_marker_spark.bpe import bpe_encode_df, bpe_train_merges

        docs_bpe = spark.read.parquet(f"{sf_dir}/documents.parquet")
        best_t = best_e = None
        for _ in range(reps):
            t0 = time.time()
            merges = bpe_train_merges(docs_bpe, num_merges=12)
            dt = time.time() - t0
            best_t = dt if best_t is None else min(best_t, dt)
            t0 = time.time()
            bpe_encode_df(docs_bpe, merges).write.format("noop").mode(
                "overwrite").save()
            dt = time.time() - t0
            best_e = dt if best_e is None else min(best_e, dt)
        timings["bpe_train_sf"] = round(best_t, 3)
        timings["bpe_encode_sf"] = round(best_e, 3)

        # unigram-LM tokenizer over the same real corpus: train = 1
        # corpus collapse + seed explode + 2 Arrow-batched EM rounds over
        # the vocab-sized word table; encode = distinct-word Viterbi +
        # broadcast dictionary join (corpus side scan+posexplode only).
        from pl_marker_spark.unigram import (
            unigram_encode_df, unigram_train_pieces)

        best_t = best_e = None
        for _ in range(reps):
            t0 = time.time()
            pieces = unigram_train_pieces(docs_bpe)
            dt = time.time() - t0
            best_t = dt if best_t is None else min(best_t, dt)
            t0 = time.time()
            unigram_encode_df(docs_bpe, pieces).write.format("noop").mode(
                "overwrite").save()
            dt = time.time() - t0
            best_e = dt if best_e is None else min(best_e, dt)
        timings["unigram_train_sf"] = round(best_t, 3)
        timings["unigram_encode_sf"] = round(best_e, 3)

        # WordPiece over the same real corpus: train = BPE's plan shape
        # with the likelihood argmax (per merge: pair agg + symbol agg,
        # both vocab-sized); encode = distinct-word greedy scan +
        # broadcast dictionary join (corpus side scan+posexplode only).
        from pl_marker_spark.wordpiece import (
            wordpiece_encode_df, wordpiece_train_merges, wordpiece_vocab)

        best_t = best_e = None
        for _ in range(reps):
            t0 = time.time()
            wp_merges = wordpiece_train_merges(docs_bpe, num_merges=12)
            dt = time.time() - t0
            best_t = dt if best_t is None else min(best_t, dt)
            wp_vocab = wordpiece_vocab(docs_bpe, wp_merges)
            t0 = time.time()
            wordpiece_encode_df(docs_bpe, wp_vocab).write.format("noop") \
                .mode("overwrite").save()
            dt = time.time() - t0
            best_e = dt if best_e is None else min(best_e, dt)
        timings["wordpiece_train_sf"] = round(best_t, 3)
        timings["wordpiece_encode_sf"] = round(best_e, 3)

    if "graph400k" in sections:
        # --- at-scale CC branch (round-3 VERDICT item #4): the kg corpus'
        # similarity graph is tiny (hundreds of edges → driver union-find), so
        # the alternating-star branch that runs at TRUE graph scale gets its
        # own timed entry here: a deterministic 400k-edge graph (200 ring
        # components × 1000 nodes + in-ring chords), local_threshold=0 forces
        # the distributed path, and the component count is asserted so a
        # wrong merge fails the bench loudly. -------------------------------
        from pyspark.sql import functions as F

        from pl_marker_spark.pipeline.cc import connected_components

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
        t0 = time.time()
        comp = connected_components(edges, local_threshold=0)
        n_comp = comp.select("component").distinct().count()
        timings["cc_star_400k"] = round(time.time() - t0, 3)
        assert n_comp == n_nodes // ring, f"cc_star_400k merged wrong: {n_comp}"
        extras["cc_star_components"] = n_comp

        # --- Incremental canonicalization at graph scale (round-5 session
        # 14): fold a 100-edge delta (bridging ring 2k to ring 2k+1) into
        # the 200-component assignment above WITHOUT re-shuffling the 400k
        # historical edges — the star-forest input is 200k rows + 100
        # delta edges. Closed form: exactly 100 merged components, each
        # labeled by the min of its two ring minima. The leg's wall time
        # vs cc_star_400k IS the incremental claim (fold ≪ recompute). --
        from pl_marker_spark.pipeline.cc import incremental_components

        assign = comp.localCheckpoint()
        delta = spark.range(100).select(
            (F.col("id") * 2 * ring).alias("src"),
            ((F.col("id") * 2 + 1) * ring).alias("dst"))
        t0 = time.time()
        inc = incremental_components(assign, delta, local_threshold=0)
        n_comp_inc = inc.select("component").distinct().count()
        timings["cc_incremental_400k"] = round(time.time() - t0, 3)
        assert n_comp_inc == n_nodes // ring // 2, \
            f"cc_incremental_400k merged wrong: {n_comp_inc}"
        extras["cc_incremental_components"] = n_comp_inc

        # --- PageRank at graph scale (round-4 VERDICT item #3): the kg corpus'
        # entity graph is a few hundred edges, so the lineage-checkpoint
        # behavior only shows at a real |E|. Reuse the 400k-edge ring graph
        # and time 2 vs 6 iterations: with adj_deg materialized once and ranks
        # checkpointed every 2 iterations, per-iteration wall time is flat, so
        # t(6) ≈ 3·t(2) minus the shared setup — the ratio is recorded for the
        # reader. ----------------------------------------------------------
        from pl_marker_spark.graphops import pagerank, symmetrize

        pr_nodes = spark.range(n_nodes).select(F.col("id").alias("node"))
        pr_und = symmetrize(edges, "src", "dst")
        pr_times = {}
        for iters in (2, 6):
            t0 = time.time()
            pagerank(pr_nodes, pr_und, iters=iters).write.format("noop") \
                .mode("overwrite").save()
            pr_times[iters] = round(time.time() - t0, 3)
        timings["pagerank_400k_i2"] = pr_times[2]
        timings["pagerank_400k_i6"] = pr_times[6]
        extras["pagerank_per_iter_ratio"] = round(pr_times[6] / pr_times[2], 3)

        # --- Label propagation at graph scale (round 5): same 400k-edge
        # ring graph, 2 vs 6 rounds — with the edge list materialized once
        # and labels re-checkpointed per round, the r6/r2 ratio stays near
        # the flat-iteration bound like pagerank's. Sanity: every ring is
        # one near-clique community family, so the label count must land
        # well below the node count (a broken vote would leave ~1 label
        # per node). -------------------------------------------------------
        from pl_marker_spark.graphops import label_propagation

        lpa_times = {}
        for rounds in (2, 6):
            t0 = time.time()
            lab = label_propagation(pr_und, rounds=rounds, a="a", b="b")
            n_labels = lab.select("label").distinct().count()
            lpa_times[rounds] = round(time.time() - t0, 3)
        timings["labelprop_400k_r2"] = lpa_times[2]
        timings["labelprop_400k_r6"] = lpa_times[6]
        extras["labelprop_per_round_ratio"] = round(
            lpa_times[6] / lpa_times[2], 3)
        extras["labelprop_400k_labels"] = n_labels

        # --- Adamic-Adar link prediction at graph scale (round-5 session
        # 4): the kg entity graph is a few hundred edges, so the wedge-join
        # shape gets a bounded-degree 400k-edge cycle (n=200k nodes, chords
        # i±1 and i±2 → degree 4 everywhere — the degree-bounded regime the
        # docstring's hub-orientation note is about). Exact closed form
        # asserted: predicted non-edges are precisely the distance-3 and
        # distance-4 pairs (2n rows), n_common summing to 3n, every term
        # floor(1e6/ln 4). --------------------------------------------------
        from pl_marker_spark.graphops import adamic_adar

        aa_n = 200_000
        cyc = spark.range(aa_n).select(
            F.col("id").alias("src"), ((F.col("id") + 1) % aa_n).alias("dst")
        ).union(spark.range(aa_n).select(
            F.col("id").alias("src"), ((F.col("id") + 2) % aa_n).alias("dst")))
        t0 = time.time()
        aa = adamic_adar(symmetrize(cyc, "src", "dst"))
        row = aa.agg(F.count("*").alias("c"), F.sum("n_common").alias("s"),
                     F.min("aa_micro").alias("lo"),
                     F.max("aa_micro").alias("hi")).collect()[0]
        timings["aa_ring_400k"] = round(time.time() - t0, 3)
        import math as _math
        term = _math.floor(1e6 / _math.log(4))
        assert (row.c, row.s, row.lo, row.hi) == (
            2 * aa_n, 3 * aa_n, term, 2 * term), f"aa_ring_400k wrong: {row}"
        extras["aa_ring_400k_pairs"] = row.c
        assert n_labels < n_nodes // 2, f"labelprop degenerate: {n_labels}"

        # --- Transitive redundancy at graph scale (round-5 session 13):
        # same ±1/±2 directed cycle, one predicate. Closed form: every
        # (i, i+2) edge is redundant with EXACTLY one witness (the chain
        # i → i+1 → i+2); no (i, i+1) edge is (out-fan of i+2 starts at
        # i+3) — so aa_n rows, witness sum aa_n. A wrong wedge filter or
        # a dropped join-back key fails loudly. ---------------------------
        from pl_marker_spark.graphops import redundant_edges

        t0 = time.time()
        red = redundant_edges(
            cyc.select(F.col("src").alias("src_id"),
                       F.col("dst").alias("dst_id"), F.lit("P").alias("pred")),
            same_pred=True)
        rrow = red.agg(F.count("*").alias("c"),
                       F.sum("n_witness").alias("s")).collect()[0]
        timings["redundant_400k"] = round(time.time() - t0, 3)
        assert (rrow.c, rrow.s) == (aa_n, aa_n), f"redundant_400k: {rrow}"
        extras["redundant_400k_edges"] = rrow.c

        # --- AMIE 2-hop rule mining at graph scale (round-5 session 14):
        # same ±1/±2 cycle with the +1 edges labeled A and the +2 edges B.
        # Closed form: the ONLY supported rule is A(x,y) ∧ A(y,z) ⇒ B(x,z)
        # — every chain i → i+1 → i+2 is closed by the B chord — with
        # body = support = pca = aa_n and both confidences exactly 1.0;
        # A∘B / B∘A / B∘B bodies all land on (i, i+3/i+4) non-edges, so a
        # fabricated rule or a lost body binding fails loudly. ------------
        from pl_marker_spark.graphops import rule_mine_2hop

        t0 = time.time()
        rules = rule_mine_2hop(
            cyc.select(F.col("src").alias("src_id"),
                       F.col("dst").alias("dst_id"),
                       F.when(F.pmod(F.col("dst") - F.col("src"), aa_n) == 1,
                              "A").otherwise("B").alias("pred"))).collect()
        timings["rules2hop_400k"] = round(time.time() - t0, 3)
        assert len(rules) == 1, f"rules2hop_400k fabricated: {rules}"
        ru = rules[0]
        assert (ru.p1, ru.p2, ru.p3, ru.body_pairs, ru.support, ru.pca_body,
                ru.conf_std, ru.conf_pca) == (
            "A", "A", "B", aa_n, aa_n, aa_n, 1.0, 1.0), f"wrong: {ru}"
        extras["rules2hop_400k_support"] = ru.support

        # --- Community detection + modularity at graph scale (round-5
        # session 14): 40k disjoint 5-cliques (200k nodes / 400k edges).
        # LPA converges in one round (every node sees its whole clique →
        # smallest-id tie-break = clique min), so the closed form is exact:
        # 40k communities of 5 nodes, 10 within-edges and degree mass 20
        # each, every Newman term round(10/4e5 − (20/8e5)², 6) = 2.5e-5. --
        from pl_marker_spark.graphops import community_modularity

        n_cliq = 40_000
        pairs = [(j, k) for j in range(5) for k in range(j + 1, 5)]
        cliq = spark.range(n_cliq).select(
            (F.col("id") * 5).alias("base"),
            F.explode(F.array(*[
                F.struct(F.lit(j).alias("j"), F.lit(k).alias("k"))
                for j, k in pairs])).alias("p")
        ).select((F.col("base") + F.col("p.j")).alias("src_id"),
                 (F.col("base") + F.col("p.k")).alias("dst_id"))
        t0 = time.time()
        crow = community_modularity(cliq).agg(
            F.count("*").alias("c"), F.min("n_nodes").alias("nlo"),
            F.max("n_nodes").alias("nhi"), F.min("within_edges").alias("wlo"),
            F.max("within_edges").alias("whi"),
            F.min("degree_sum").alias("dlo"), F.max("degree_sum").alias("dhi"),
            F.min("modularity").alias("mlo"), F.max("modularity").alias("mhi"),
        ).collect()[0]
        timings["communities_400k"] = round(time.time() - t0, 3)
        assert (crow.c, crow.nlo, crow.nhi, crow.wlo, crow.whi, crow.dlo,
                crow.dhi, crow.mlo, crow.mhi) == (
            n_cliq, 5, 5, 10, 10, 20, 20, 0.000025, 0.000025), \
            f"communities_400k wrong: {crow}"
        extras["communities_400k"] = crow.c

        # --- BGP matching at graph scale (round-5 session 8): the kg
        # corpus' entity graph binds the cyclic pattern ~25 times, so the
        # conjunctive-query join shape gets a deterministic typed graph
        # with a closed-form answer. bgp_n = 240k nodes typed by residue
        # (id%3: 0=PER, 1=ORG, 2=GPE); every PER p has ORG-AFF→p+1 and
        # PHYS→p+2, every 4th PER a second ORG-AFF→p+4 (star fan-out
        # actually exercised), and GEN-AFF (p+1)→(p+2) exists for
        # alternating PERs (the closing edge fires on exactly half the
        # base bindings). Expected exactly: bindings = PERs + PERs/4
        # = bgp_n/3 + bgp_n/12, closed = bgp_n/6. ------------------------
        from pl_marker_spark.graphops import bgp_person_org_place

        bgp_n = 240_000
        ids = spark.range(bgp_n).select(F.col("id"))
        pers = ids.filter(F.col("id") % 3 == 0)
        bgp_edges = (
            pers.select(F.col("id").alias("src_id"),
                        ((F.col("id") + 1) % bgp_n).alias("dst_id"),
                        F.lit("ORG-AFF").alias("pred"))
            .union(pers.select(F.col("id"),
                               ((F.col("id") + 2) % bgp_n),
                               F.lit("PHYS")))
            .union(pers.filter(F.col("id") % 12 == 0)
                   .select(F.col("id"), ((F.col("id") + 4) % bgp_n),
                           F.lit("ORG-AFF")))
            .union(pers.filter((F.col("id") / 3).cast("long") % 2 == 0)
                   .select(((F.col("id") + 1) % bgp_n),
                           ((F.col("id") + 2) % bgp_n),
                           F.lit("GEN-AFF")))
        ).withColumn("weight", F.lit(1))
        bgp_nodes = ids.select(
            F.col("id").alias("entity_id"),
            F.concat(F.lit("e"), F.col("id")).alias("canonical_name"),
            F.element_at(F.array(F.lit("PER"), F.lit("ORG"), F.lit("GPE")),
                         (F.col("id") % 3 + 1).cast("int")).alias("type"))
        t0 = time.time()
        b = bgp_person_org_place(bgp_edges, bgp_nodes)
        brow = b.agg(F.count("*").alias("c"),
                     F.sum("closed").alias("cl")).collect()[0]
        timings["bgp_400k"] = round(time.time() - t0, 3)
        assert (brow.c, brow.cl) == (bgp_n // 3 + bgp_n // 12, bgp_n // 6), \
            f"bgp_400k wrong: {brow}"
        extras["bgp_400k_bindings"] = brow.c

        # --- DESCRIBE-style entity cards at graph scale (round-5 session
        # 10): the group-concat serving shape (broadcast name attach + one
        # collect_list groupBy) over the same 240k-node typed graph.
        # Closed form: card holders = every PER (bgp_n/3) + the GEN-AFF
        # source ORGs (alternating PERs' p+1 → bgp_n/6); facts = 80k
        # ORG-AFF + 80k PHYS + 20k extra ORG-AFF + 40k GEN-AFF = 220k;
        # only the every-12th PERs hold 3 facts. --------------------------
        from pl_marker_spark.graphops import entity_cards

        t0 = time.time()
        cards = entity_cards(bgp_edges, bgp_nodes)
        crow = cards.agg(
            F.count("*").alias("c"), F.sum("n_facts").alias("s"),
            F.max("n_facts").alias("m"),
            F.sum((F.col("n_facts") == 3).cast("long")).alias("n3"),
        ).collect()[0]
        timings["card_240k"] = round(time.time() - t0, 3)
        assert (crow.c, crow.s, crow.m, crow.n3) == (
            bgp_n // 3 + bgp_n // 6, 220_000, 3, bgp_n // 12), \
            f"card_240k wrong: {crow}"
        extras["card_240k_cards"] = crow.c

        # --- Property-path reachability at graph scale (round-5 session
        # 8): reuse the AA bounded-degree 400k-edge cycle (i→i+1, i→i+2).
        # Closed form: within 3 hops node i reaches exactly i+1..i+6 with
        # min-hops ⌈d/2⌉ — 2 pairs per level → 6n pairs total, 2n per
        # hop level, all asserted. ----------------------------------------
        from pl_marker_spark.graphops import bounded_reachability

        t0 = time.time()
        reach = bounded_reachability(
            cyc.select(F.col("src").alias("src_id"),
                       F.col("dst").alias("dst_id")), max_hops=3)
        per_level = {r.hops: r.c for r in reach.groupBy("hops").agg(
            F.count("*").alias("c")).collect()}
        timings["reach_400k"] = round(time.time() - t0, 3)
        assert per_level == {1: 2 * aa_n, 2: 2 * aa_n, 3: 2 * aa_n}, \
            f"reach_400k wrong: {per_level}"
        extras["reach_400k_pairs"] = sum(per_level.values())

        # --- Bottleneck best-chain at graph scale (round-5 session 9):
        # same i→i+1 / i→i+2 cycle, but weighted — +1 edges carry weight 1,
        # +2 edges weight 5 — so the (max, min) semiring actually has to
        # choose chains (a plain reachability would not notice the
        # weights). Closed form within 3 hops: distance d ∈ {2,4,6} is
        # covered by an all-(+2) chain → support 5 at hops d/2; distance
        # d ∈ {1,3,5} forces at least one +1 edge → support 1 at hops
        # ⌈d/2⌉. So: 6n pairs, 2n per hop level, support sums to 18n,
        # and exactly 3n pairs achieve support 5 — all asserted. The
        # delta frontier must also CONVERGE: weaker level-3 candidates
        # (e.g. +1+1+1 onto a support-5 incumbent) die in the
        # improvement filter. -----------------------------------------
        from pl_marker_spark.graphops import bottleneck_paths

        wcyc = spark.range(aa_n).select(
            F.col("id").alias("src_id"),
            ((F.col("id") + 1) % aa_n).alias("dst_id"),
            F.lit(1).alias("weight")
        ).union(spark.range(aa_n).select(
            F.col("id").alias("src_id"),
            ((F.col("id") + 2) % aa_n).alias("dst_id"),
            F.lit(5).alias("weight")))
        t0 = time.time()
        bp = bottleneck_paths(wcyc, max_hops=3)
        brow2 = bp.agg(
            F.count("*").alias("c"), F.sum("best_support").alias("s"),
            F.sum(F.when(F.col("best_support") == 5, 1).otherwise(0))
             .alias("n5")).collect()[0]
        per_hop = {r.hops: r.c for r in bp.groupBy("hops").agg(
            F.count("*").alias("c")).collect()}
        timings["bottleneck_400k"] = round(time.time() - t0, 3)
        assert (brow2.c, brow2.s, brow2.n5) == (
            6 * aa_n, 18 * aa_n, 3 * aa_n), f"bottleneck_400k: {brow2}"
        assert per_hop == {1: 2 * aa_n, 2: 2 * aa_n, 3: 2 * aa_n}, \
            f"bottleneck_400k hops wrong: {per_hop}"
        extras["bottleneck_400k_pairs"] = brow2.c

        # --- Min-cost cheapest chains at graph scale (round-5 session
        # 11): the (min, +) dual on the same cycle, re-priced so the
        # semiring has real choices — +1 edges cost 3, +2 edges cost 2.
        # Closed form within 3 hops (a · (+1) edges + b · (+2) edges,
        # a+2b = d, a+b ≤ 3, cost 3a+2b): d=1→(3,h1), d=2→(2,h1: the
        # single +2 edge beats the 6-cost 2-hop — the improvement filter
        # must kill the costlier candidate), d=3→(5,h2), d=4→(4,h2),
        # d=5→(7,h3), d=6→(6,h3). So 6n pairs, cost sum 27n, 2n pairs
        # per hop level — all asserted. -----------------------------------
        from pl_marker_spark.graphops import min_cost_paths

        ccyc = spark.range(aa_n).select(
            F.col("id").alias("src_id"),
            ((F.col("id") + 1) % aa_n).alias("dst_id"),
            F.lit(3).alias("cost")
        ).union(spark.range(aa_n).select(
            F.col("id").alias("src_id"),
            ((F.col("id") + 2) % aa_n).alias("dst_id"),
            F.lit(2).alias("cost")))
        t0 = time.time()
        mc = min_cost_paths(ccyc, max_hops=3)
        mrow = mc.agg(
            F.count("*").alias("c"),
            F.sum("min_cost").alias("s")).collect()[0]
        mc_hops = {r.hops: r.c for r in mc.groupBy("hops").agg(
            F.count("*").alias("c")).collect()}
        timings["mincost_400k"] = round(time.time() - t0, 3)
        assert (mrow.c, mrow.s) == (6 * aa_n, 27 * aa_n), \
            f"mincost_400k wrong: {mrow}"
        assert mc_hops == {1: 2 * aa_n, 2: 2 * aa_n, 3: 2 * aa_n}, \
            f"mincost_400k hops wrong: {mc_hops}"
        extras["mincost_400k_pairs"] = mrow.c

        # --- HITS at graph scale (round-5 session 11): a direction-
        # sensitive closed form — even i → i+1 and i+3 (odd targets only),
        # so evens are pure hubs (out-deg 2, in-deg 0) and odds pure
        # authorities (in-deg 2, out-deg 0). Unnormalized integer
        # recurrence after 3 iterations: evens (h=64, a=0), odds (h=0,
        # a=32) — a swapped join direction or a lost spine row fails the
        # assert loudly. --------------------------------------------------
        from pl_marker_spark.graphops import hits as hits_kernel

        hedges = spark.range(aa_n // 2).select(
            (F.col("id") * 2).alias("src_id"),
            (F.col("id") * 2 + 1).alias("dst_id")
        ).union(spark.range(aa_n // 2).select(
            (F.col("id") * 2).alias("src_id"),
            ((F.col("id") * 2 + 3) % aa_n).alias("dst_id")))
        hnodes = spark.range(aa_n).select(F.col("id").alias("node"))
        t0 = time.time()
        hh = hits_kernel(hnodes, hedges, iters=3)
        hrow = hh.agg(
            F.count("*").alias("c"), F.sum("h").alias("sh"),
            F.sum("a").alias("sa"), F.max("h").alias("mh"),
            F.max("a").alias("ma")).collect()[0]
        timings["hits_400k"] = round(time.time() - t0, 3)
        assert (hrow.c, hrow.sh, hrow.sa, hrow.mh, hrow.ma) == (
            aa_n, 64 * aa_n // 2, 32 * aa_n // 2, 64, 32), \
            f"hits_400k wrong: {hrow}"
        extras["hits_400k_nodes"] = hrow.c

        # --- Random-walk corpus at graph scale (round-5 session 9): the
        # next-hop table + 4 assembly joins over the symmetrized cycle
        # (degree 4 everywhere). The md5-argmin choices are opaque by
        # design, but the SHAPE is closed-form: the table is exactly
        # walk_len·n rows (one winner per (step, node)), every node
        # starts a walk, and the long-format corpus is 5n rows with n
        # distinct walk ids per step. ----------------------------------
        from pl_marker_spark.graphops import next_hop_table

        t0 = time.time()
        nxt = next_hop_table(
            cyc.select(F.col("src").alias("src_id"),
                       F.col("dst").alias("dst_id")),
            walk_len=4).localCheckpoint()
        n_tab = nxt.count()
        cur = nxt.filter(F.col("step") == 1).select(
            F.col("cur").alias("walk_id"), F.col("cur"))
        n_walk_rows = cur.count()  # level 0 = starts
        for k in range(1, 5):
            cur = (cur.join(nxt.filter(F.col("step") == k), "cur")
                   .select("walk_id", F.col("nxt").alias("cur")))
            n_walk_rows += cur.count()
        timings["walks_400k"] = round(time.time() - t0, 3)
        assert n_tab == 4 * aa_n, f"walks_400k table wrong: {n_tab}"
        assert n_walk_rows == 5 * aa_n, f"walks_400k corpus wrong: {n_walk_rows}"
        extras["walks_400k_rows"] = n_walk_rows

        # --- Local clustering coefficient at graph scale (round-5
        # session 9): on the symmetrized cycle every node has degree 4
        # and sits in exactly 3 triangles ({i,i+1,i+2} shifted), so the
        # coefficient is uniformly 2·3/(4·3) = 0.5 — n rows, sum n_tri
        # = 3n, min = max = 0.5, all asserted. Drives the same
        # materialized-wedge triangle kernel + degree aggregate as
        # kg_clustering. ------------------------------------------------
        from pl_marker_spark.graphops import triangle_counts

        und_c = symmetrize(cyc, "src", "dst").localCheckpoint()
        t0 = time.time()
        adj_c = und_c.unionByName(
            und_c.select(F.col("b").alias("a"), F.col("a").alias("b")))
        deg_c = adj_c.groupBy("a").agg(F.count("*").alias("degree"))
        lcc = (deg_c.filter(F.col("degree") >= 2)
               .join(triangle_counts(und_c, a="a", b="b")
                     .select(F.col("node").alias("a"), "n_tri"), "a", "left")
               .fillna(0, ["n_tri"])
               .select("a", "degree", "n_tri",
                       F.round(F.lit(2.0) * F.col("n_tri")
                               / (F.col("degree") * (F.col("degree") - 1)),
                               6).alias("clustering")))
        crow = lcc.agg(
            F.count("*").alias("c"), F.sum("n_tri").alias("s"),
            F.min("clustering").alias("lo"),
            F.max("clustering").alias("hi")).collect()[0]
        timings["clustering_400k"] = round(time.time() - t0, 3)
        assert (crow.c, crow.s, crow.lo, crow.hi) == (
            aa_n, 3 * aa_n, 0.5, 0.5), f"clustering_400k wrong: {crow}"
        extras["clustering_400k_nodes"] = crow.c

        # --- Neighbor-set Jaccard at graph scale (round-5 session 9):
        # on the ±1/±2 cycle exactly the distance-1..4 pairs share a
        # neighbor — per src: d1 (2 common, union 6, edge), d2 (1, 7,
        # edge), d3 (2, 6, non-edge), d4 (1, 7, non-edge) → 4n pairs,
        # Σ n_common = 6n, 2n edges, jaccard ∈ {1/3, 1/7} only. -------
        from pl_marker_spark.graphops import neighbor_jaccard

        t0 = time.time()
        nj = neighbor_jaccard(
            cyc.select(F.col("src").alias("src_id"),
                       F.col("dst").alias("dst_id")))
        jrow = nj.agg(
            F.count("*").alias("c"), F.sum("n_common").alias("s"),
            F.sum("is_edge").alias("ne"),
            F.countDistinct("jaccard").alias("nj")).collect()[0]
        timings["jaccard_graph_400k"] = round(time.time() - t0, 3)
        assert (jrow.c, jrow.s, jrow.ne, jrow.nj) == (
            4 * aa_n, 6 * aa_n, 2 * aa_n, 2), f"jaccard_graph_400k: {jrow}"
        extras["jaccard_graph_400k_pairs"] = jrow.c

        # --- Personalized PageRank at graph scale (round-5 session 9):
        # seeds on the degree-4 cycle are ids 0..4 (tie → id asc); the
        # exact integer recurrence is independently re-computed driver-
        # side on the seeds' sparse ±6 neighborhoods (3 iterations never
        # reach further) and the full (rows, Σ ppr_micro) fingerprint
        # must match. ---------------------------------------------------
        from pl_marker_spark.graphops import personalized_pagerank

        t0 = time.time()
        ppr = personalized_pagerank(
            cyc.select(F.col("src").alias("src_id"),
                       F.col("dst").alias("dst_id")),
            n_seeds=5, iters=3)
        prow = ppr.agg(F.count("*").alias("c"),
                       F.sum("ppr_micro").alias("s")).collect()[0]
        timings["ppr_400k"] = round(time.time() - t0, 3)
        exp_rows, exp_sum = 0, 0
        for seed in range(5):
            r = {seed: 1_000_000}
            for _ in range(3):
                nr = {seed: 150_000}
                for u, m in r.items():
                    for v in (u - 2, u - 1, u + 1, u + 2):
                        nr[v] = nr.get(v, 0) + (85 * m) // 400
                r = {k: v for k, v in nr.items() if v > 0}
            exp_rows += len(r)
            exp_sum += sum(r.values())
        assert (prow.c, prow.s) == (exp_rows, exp_sum), \
            f"ppr_400k wrong: {prow} vs {(exp_rows, exp_sum)}"
        extras["ppr_400k_rows"] = prow.c

    if "vec100k" in sections:
        # --- IVF / SemDeDup at 100k vectors (round-4 VERDICT item #8): the sf
        # embeddings table is 2,000 vectors — constant-overhead territory for
        # the quantizer. Generate 100k deterministic 64-dim vectors (pure JVM
        # expression, no Python/RNG), k_cells ∝ √N, and time the probe-scan
        # and the within-cell O(N²/K) pair scan at a size where they dominate.
        from pyspark.sql import functions as F

        from pl_marker_spark.ann_ivf import ivf_topk, semdedup

        n_vec, dim = 100_000, 64
        ivf_dir = tempfile.mkdtemp(prefix="plm_ivf100k_")
        try:
            dims = F.sequence(F.lit(0), F.lit(dim - 1))
            vec = F.transform(dims, lambda d: (
                (F.xxhash64(F.col("id") * dim + d) % 10007).cast("double")
                / 10007.0 - 0.5).cast("float"))
            spark.range(n_vec).select(
                F.col("id").alias("vec_id"), vec.alias("embedding")
            ).write.parquet(f"{ivf_dir}/embeddings.parquet")
            k100 = 316  # ≈ √100k
            t0 = time.time()
            topk = ivf_topk(spark, ivf_dir, k_cells=k100, nprobe=4,
                            lloyd_rounds=1, n_queries=64)
            n_topk = topk.count()
            timings["ann_ivf_100k"] = round(time.time() - t0, 3)
            extras["ann_ivf_100k_rows"] = n_topk
            # recall@10 vs the exact brute-force top-k for the same queries
            # (untimed: it exists to grade the IVF answer, not the plan)
            from pl_marker_spark.ann_ivf import _dot, _unit
            from pyspark.sql import Window as W

            ev = spark.read.parquet(f"{ivf_dir}/embeddings.parquet").select(
                "vec_id",
                _unit(F.transform("embedding",
                                  lambda x: x.cast("double"))).alias("uv"))
            qv = ev.filter(F.col("vec_id") < 64).select(
                F.col("vec_id").alias("q_id"), F.col("uv").alias("qv"))
            bf = (
                qv.crossJoin(ev)
                .filter(F.col("q_id") != F.col("vec_id"))
                .select("q_id", "vec_id",
                        _dot(F.col("qv"), F.col("uv")).alias("sim"))
                .withColumn("rk", F.row_number().over(
                    W.partitionBy("q_id").orderBy(F.desc("sim"), "vec_id")))
                .filter(F.col("rk") <= 10)
                .select("q_id", "vec_id")
            )
            n_hit = topk.select("q_id", "vec_id").join(bf, ["q_id", "vec_id"]) \
                .count()
            extras["ann_ivf_100k_recall_at_10"] = round(n_hit / n_topk, 4)
            # IVF,SQ8 composed at the same N: identical probe set, int8
            # inverted-list payload — the timing shows the scan-side cost
            # and the recall shows quantization is rank-neutral here
            from pl_marker_spark.ann_ivf import ivf_sq_topk

            t0 = time.time()
            topk_sq = ivf_sq_topk(spark, ivf_dir, k_cells=k100, nprobe=4,
                                  n_queries=64)
            n_topk_sq = topk_sq.count()
            timings["ann_ivf_sq_100k"] = round(time.time() - t0, 3)
            n_hit_sq = (topk_sq.select("q_id", "vec_id")
                        .join(bf, ["q_id", "vec_id"]).count())
            extras["ann_ivf_sq_100k_recall_at_10"] = round(
                n_hit_sq / n_topk_sq, 4)

            # PQ ADC at the same N: the corpus scan touches only integer
            # codes via the broadcast (m, code) LUT join — the timing is
            # dominated by codebook train + encode (two narrow passes).
            # Code bits must scale with log2(N): the 16-bit pinned twin
            # profile has a 65k code space ≈ the corpus size, and top-10
            # ranking collapses into code-collision ties (measured 0.03
            # recall at 100k) — so the scale profile is M=16 (64-bit
            # codes, still 8x smaller than float64), the same sizing rule
            # FAISS applies (m grows with the corpus, not the dim).
            from pl_marker_spark.pq import pq_ann_topk

            t0 = time.time()
            topk_pq = pq_ann_topk(spark, ivf_dir, m_pq=16, n_queries=64)
            n_topk_pq = topk_pq.count()
            timings["ann_pq_100k"] = round(time.time() - t0, 3)
            n_hit_pq = (topk_pq.select("q_id", "vec_id")
                        .join(bf, ["q_id", "vec_id"]).count())
            extras["ann_pq_100k_recall_at_10"] = round(
                n_hit_pq / n_topk_pq, 4)

            # IVF,PQ composed at the same N: identical probe set, integer
            # PQ codes (64-bit, same sizing rule as above) in the
            # inverted lists — the FAISS billion-vector index shape
            # end-to-end
            from pl_marker_spark.pq import ivf_pq_topk

            t0 = time.time()
            topk_ivfpq = ivf_pq_topk(spark, ivf_dir, k_cells=k100,
                                     nprobe=4, m_pq=16, n_queries=64)
            n_topk_ivfpq = topk_ivfpq.count()
            timings["ann_ivf_pq_100k"] = round(time.time() - t0, 3)
            n_hit_ivfpq = (topk_ivfpq.select("q_id", "vec_id")
                           .join(bf, ["q_id", "vec_id"]).count())
            extras["ann_ivf_pq_100k_recall_at_10"] = round(
                n_hit_ivfpq / n_topk_ivfpq, 4)

            t0 = time.time()
            sem = semdedup(spark, ivf_dir, k_cells=k100, tau=0.95)
            n_keep = sem.agg(F.sum("keep")).collect()[0][0]
            timings["semdedup_100k"] = round(time.time() - t0, 3)
            # near-uniform random directions have no τ=0.95 neighbors: every
            # vector keeps — a wrong pair scan shows up as dropped vectors
            assert n_keep == n_vec, f"semdedup_100k dropped: {n_vec - n_keep}"
            extras["semdedup_100k_keep"] = n_keep
        finally:
            shutil.rmtree(ivf_dir, ignore_errors=True)

    total = round(sum(timings.values()), 3)
    result = {
        "metric": "kg-pipeline+catalog wall time",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        **extras,
    }
    prev = _latest_round_bench()
    if prev is not None:
        # the driver wraps the bench line under "parsed"
        prev_q = prev.get("parsed", prev).get("queries", {})
        result["prev_round"] = prev["_round"]
        result["deltas_vs_prev"] = {
            q: round(t - prev_q[q], 3) for q, t in timings.items() if q in prev_q
        }
    print(json.dumps(result))
    spark.stop()


def _latest_round_bench() -> dict | None:
    """Latest driver-recorded BENCH_r{N}.json, for per-query regression
    deltas (which queries got slower since last round is then a one-line
    answer in BENCH_r{N+1}.json)."""
    import glob
    import re

    best, best_n = None, -1
    here = os.path.dirname(os.path.abspath(__file__))
    for p in glob.glob(os.path.join(here, "BENCH_r*.json")):
        m = re.search(r"BENCH_r(\d+)\.json$", p)
        if not m:
            continue
        n = int(m.group(1))
        if n > best_n:
            best, best_n = p, n
    if best is None:
        return None
    try:
        with open(best) as f:
            rec = json.load(f)
        rec["_round"] = best_n
        return rec
    except (OSError, json.JSONDecodeError):
        return None


if __name__ == "__main__":
    sys.exit(main())
