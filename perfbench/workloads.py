"""Seeded inputs, timed operations and correctness checks of the benchmark
workloads.

Every workload follows one protocol:

- ``generate()`` writes the seeded inputs as parquet files under the work
  directory, before the Spark session exists; the program only ever sees
  these files;
- ``open(spark)`` binds the input tables to the session;
- ``op(spark, tag, tracer)`` runs one operation through the program's
  public entry point and returns an :class:`Op`; ``tracer`` is None on an
  untraced operation;
- ``check(spark, op)`` compares one operation's outputs with an
  independent reference and returns a list of mismatch descriptions.
"""

from __future__ import annotations

import inspect
import itertools
import os
import random
import shutil
import time
from dataclasses import dataclass, field, replace

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from pl_marker_spark.checkpoint import CheckpointStore
from pl_marker_spark.config import DEFAULT_CONFIG
from pl_marker_spark.oracle_graph import graph_oracle
from pl_marker_spark.oracle_ref import run_oracle
from pl_marker_spark.pipeline.cc import connected_components
from pl_marker_spark.synth import conv_name, gen_conv
from pl_marker_spark.tokenizer import split_words
from pl_marker_spark.world import FILLER_WORDS, GAZETTEER, REL_TABLE

from tracing import STAGE_LAYER, TracedStore, dir_stats

# the production profile: fused NER decode, grouped RE decode
CFG = replace(DEFAULT_CONFIG, ner_decode="fused", re_decode="grouped")

# conversation-index window per seed; index 0 is synth's planted 400-turn
# conversation and joins every seed's window, so conversation-length skew
# is always present
CONV_WINDOW = 1_000_000
# synth draws 2% of conversations with 60-120 turns, the rest with 3-12
LONG_TURNS = 60
TRANSCRIPT_COLS = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
# the stages run_full_pipeline's coarse profile checkpoints in build_graph;
# the rest it pins in memory
GRAPH_CHECKPOINTS = ("sim_edges", "entity_assign", "nodes", "edges")
# the edge count above which connected_components leaves its driver
# union-find for the distributed star rounds
CC_LOCAL_LIMIT = inspect.signature(
    connected_components).parameters["local_threshold"].default
LABELS = sorted(set(GAZETTEER.values()))
PREDICATES = sorted(set(REL_TABLE.values()))
# the extraction tables build_graph reads, in the pipeline's column types
_INT = pa.int32()
MENTION_SCHEMA = pa.schema([
    ("conv_id", pa.string()), ("turn_idx", _INT), ("start", _INT), ("end", _INT),
    ("label", pa.string()), ("score", pa.float64())])
TRIPLE_SCHEMA = pa.schema([
    ("conv_id", pa.string()), ("turn_idx", _INT), ("s1", _INT), ("e1", _INT),
    ("s2", _INT), ("e2", _INT), ("pred", pa.string()), ("score", pa.float64()),
    ("subj_type", pa.string()), ("obj_type", pa.string())])
TURN_SCHEMA = pa.schema([
    ("conv_id", pa.string()), ("turn_idx", _INT), ("words", pa.list_(pa.string()))])


@dataclass
class Op:
    """One timed operation: wall time, triples it produced or resolved,
    per-stage row counts, and what the checks and the trace need."""

    wall_s: float
    triples: int
    rows: dict[str, int]
    outputs: dict = field(default_factory=dict)
    # per micro-batch, streaming only
    batch_latency_s: list[float] = field(default_factory=list)
    add_batch_s: list[float] = field(default_factory=list)


def conv_window(seed: int, n_convs: int, n_long: int, n_relations: int) -> list[int]:
    """Conversation indices of a seed: the planted long conversation, the
    first ``n_long`` long (60+ turn) conversations of a window no other seed
    shares, and short ones from the same window, ``n_convs`` in all, picked
    so the corpus holds ``n_relations`` gold relations (within 2).

    The pipeline's cost follows the conversation count and the long ones,
    and its triple count follows the gold relations, so fixing all three
    gives every seed the same amount of work."""
    window = range(1 + seed * CONV_WINDOW, 1 + (seed + 1) * CONV_WINDOW)
    shape: dict[int, tuple[int, int]] = {}

    def turns_relations(i: int) -> tuple[int, int]:
        if i not in shape:
            turns, _mentions, relations = gen_conv(i)
            shape[i] = (len(turns), len(relations))
        return shape[i]

    longs = list(itertools.islice(
        (i for i in window if turns_relations(i)[0] >= LONG_TURNS), n_long))
    n_short = n_convs - 1 - n_long
    rate = (n_relations - sum(turns_relations(i)[1] for i in [0, *longs])) / n_short
    shorts, got = [], 0
    for i in window:
        if len(shorts) == n_short:
            return [0, *sorted(longs + shorts)]
        turns, relations = turns_relations(i)
        if turns < LONG_TURNS and abs(got + relations - rate * (len(shorts) + 1)) <= 2:
            shorts.append(i)
            got += relations
    raise ValueError(f"seed {seed}'s window cannot fill {n_convs} conversations")


def write_transcripts(path: str, conv_idx: list[int]) -> list[tuple]:
    """Writes the conversations as one parquet file in the pipeline's
    transcript schema; returns the turn rows for the reference."""
    rows = [r for i in conv_idx for r in gen_conv(i)[0]]
    pdf = pd.DataFrame(rows, columns=TRANSCRIPT_COLS)
    pdf["turn_idx"] = pdf["turn_idx"].astype("int32")
    pdf["ts"] = pd.to_datetime(pdf["ts"], unit="s", utc=True)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pdf.to_parquet(path, coerce_timestamps="us", allow_truncated_timestamps=True,
                   index=False)
    return rows


def parquet_rows(path: str) -> int:
    """Row count of a parquet directory from its footers (no Spark job)."""
    n = 0
    for root, _dirs, files in os.walk(path):
        for fn in files:
            if fn.endswith(".parquet"):
                n += pq.ParquetFile(os.path.join(root, fn)).metadata.num_rows
    return n


def graph_tables(g: dict) -> dict[str, list[tuple]]:
    """nodes / edges / mention_entity as sorted tuples; edge score sums
    compare at 6 decimals, because a Spark sum adds in partition order."""
    return {
        "nodes": sorted(
            tuple(r) for r in g["nodes"].select(
                "entity_id", "canonical_name", "type", "n_mentions",
                "n_surfaces").collect()),
        "edges": sorted(
            (r.src_id, r.dst_id, r.pred, r.weight, round(r.score_sum, 6))
            for r in g["edges"].collect()),
        "mention_entity": sorted(
            tuple(r) for r in g["mention_entity"].select(
                "conv_id", "turn_idx", "start", "end", "label", "surface",
                "entity_id").collect()),
    }


def oracle_tables(o: dict) -> dict[str, list[tuple]]:
    return {
        "nodes": sorted(o["nodes"]),
        "edges": sorted((s, d, p, w, round(x, 6)) for s, d, p, w, x in o["edges"]),
        "mention_entity": sorted(o["mention_entity"]),
    }


def diff(name: str, got, want) -> list[str]:
    got, want = set(got), set(want)
    if got == want:
        return []
    return [f"{name}: {len(got - want)} unexpected, {len(want - got)} missing "
            f"(e.g. {sorted(got ^ want)[:1]})"]


def coarse_ck(store: CheckpointStore, tracer=None, op=None):
    """The ``ck`` callback run_full_pipeline builds for its coarse profile,
    recording one span per stage when traced."""

    def ck(name, build):
        def run():
            if name in GRAPH_CHECKPOINTS:
                return store.stage(name, build)
            return build().localCheckpoint()

        if tracer is None:
            return run()
        with tracer.span(name, STAGE_LAYER.get(name, name), op,
                         checkpointed=name in GRAPH_CHECKPOINTS):
            return run()

    return ck


class Workload:
    name = ""

    def __init__(self, seed: int, work: str):
        self.seed = seed
        self.work = work
        self.input_dir = os.path.join(work, "input")

    def input_bytes(self) -> int:
        return dir_stats(self.input_dir)[0]

    def store(self, spark, tag, tracer):
        base = os.path.join(self.work, "ck", str(tag))
        if tracer is None:
            return CheckpointStore(spark, base, run_id=str(tag))
        return TracedStore(spark, base, run_id=str(tag), tracer=tracer, op=tag)

    def discard(self, op: Op) -> None:
        """Frees an operation's on-disk outputs once it is no longer needed."""
        base = op.outputs.get("dir")
        if base:
            shutil.rmtree(base, ignore_errors=True)


class BatchExtract(Workload):
    name = "batch_extract"
    n_convs, n_long, n_relations = 300, 6, 1780  # ~3,100 turns
    # conversations compared with the extraction reference: the planted
    # long one plus a seeded sample
    n_sample = 8

    def generate(self):
        self.convs = conv_window(self.seed, self.n_convs, self.n_long,
                                 self.n_relations)
        self.turn_rows = write_transcripts(
            os.path.join(self.input_dir, "transcripts", "part-0.parquet"),
            self.convs)

    def open(self, spark):
        self.transcripts = spark.read.parquet(
            os.path.join(self.input_dir, "transcripts"))

    def op(self, spark, tag, tracer=None) -> Op:
        from pl_marker_spark.pipeline.runner import run_full_pipeline

        store = self.store(spark, tag, tracer)
        t0 = time.perf_counter()
        out = run_full_pipeline(spark, self.transcripts, CFG, store,
                                granularity="coarse")
        wall = time.perf_counter() - t0
        rows = {e["stage"]: e["rows"] for e in store.events}
        out["dir"] = store.base
        out["store"] = store
        return Op(wall, rows["triples"], rows, out)

    def check(self, spark, op: Op) -> list[str]:
        from pyspark.sql import functions as F

        out = op.outputs
        rng = random.Random(f"perfbench/{self.name}/{self.seed}")
        sample = [conv_name(i) for i in
                  [0, *rng.sample(self.convs[1:], self.n_sample)]]
        ref = run_oracle([r for r in self.turn_rows if r[0] in sample], CFG)
        in_sample = F.col("conv_id").isin(sample)
        errors = diff(
            "mentions",
            ((r.conv_id, r.turn_idx, r.start, r.end, r.label, round(r.score, 9))
             for r in out["mentions"].filter(in_sample).collect()),
            ((c, t, s, e, lab, round(p, 9)) for c, t, s, e, lab, p in ref["mentions"]))
        errors += diff(
            "triples",
            ((r.conv_id, r.turn_idx, r.s1, r.e1, r.s2, r.e2, r.pred,
              round(r.score, 9), r.subj_type, r.obj_type)
             for r in out["triples"].filter(in_sample).collect()),
            ((c, t, s1, e1, s2, e2, p, round(sc, 9), n1, n2)
             for c, t, s1, e1, s2, e2, p, sc, n1, n2 in ref["triples"]))
        # the graph half against its reference, fed this run's extraction
        refined = [tuple(r) for r in out["mentions_refined"].select(
            "conv_id", "turn_idx", "start", "end", "label").collect()]
        triples = [tuple(r) for r in out["triples"].select(
            "conv_id", "turn_idx", "s1", "e1", "s2", "e2", "pred", "score",
            "subj_type", "obj_type").collect()]
        words = {(r[0], r[1]): split_words(r[3]) for r in self.turn_rows}
        want = oracle_tables(graph_oracle(refined, triples, words))
        got = graph_tables(out)
        for name in ("nodes", "edges"):
            errors += diff(name, got[name], want[name])
        return errors


class CanonVocab(Workload):
    name = "canon_vocab"
    # fixed sizes keep every seed the same amount of work
    n_surfaces = 6_000
    n_triples = 2_800
    # norm-identical variants of one name: ~hot^2/2 similarity edges in one
    # LSH bucket, enough to pass CC's driver union-find limit
    hot = 480

    def generate(self):
        rng = random.Random(f"perfbench/{self.name}/{self.seed}")
        surfaces = alias_vocabulary(rng, self.n_surfaces, self.hot)
        self.refined, self.triples, self.words = extraction_tables(
            rng, surfaces, self.n_triples)
        d = self.input_dir
        write_table(f"{d}/mentions_refined", self.refined, MENTION_SCHEMA)
        write_table(f"{d}/triples", self.triples, TRIPLE_SCHEMA)
        write_table(f"{d}/turns_tok", [(c, t, w) for (c, t), w in self.words.items()],
                    TURN_SCHEMA)

    def open(self, spark):
        d = self.input_dir
        self.mentions_df = spark.read.parquet(f"{d}/mentions_refined")
        self.triples_df = spark.read.parquet(f"{d}/triples")
        self.turns_df = spark.read.parquet(f"{d}/turns_tok")

    def op(self, spark, tag, tracer=None) -> Op:
        from pl_marker_spark.pipeline.graph import build_graph

        store = self.store(spark, tag, None)
        ck = coarse_ck(store, tracer, tag)
        t0 = time.perf_counter()
        g = build_graph(self.mentions_df, self.triples_df, self.turns_df, ck=ck)
        wall = time.perf_counter() - t0
        rows = {e["stage"]: e["rows"] for e in store.events}
        g["dir"] = store.base
        g["store"] = store
        return Op(wall, len(self.triples), rows, g)

    def check(self, spark, op: Op) -> list[str]:
        want = oracle_tables(graph_oracle(
            [r[:5] for r in self.refined], self.triples, self.words))
        got = graph_tables(op.outputs)
        errors = []
        for name in ("nodes", "edges", "mention_entity"):
            errors += diff(name, got[name], want[name])
        return errors


class StreamIngest(Workload):
    name = "stream_ingest"
    n_batches = 3
    n_convs, n_long, n_relations = 120, 2, 720  # ~1,300 turns

    def generate(self):
        self.convs = conv_window(self.seed, self.n_convs, self.n_long,
                                 self.n_relations)
        self.turn_rows = []
        self.stream_dir = os.path.join(self.input_dir, "stream")
        per_batch = -(-len(self.convs) // self.n_batches)
        for b in range(self.n_batches):
            part = self.convs[b * per_batch:(b + 1) * per_batch]
            self.turn_rows += write_transcripts(
                os.path.join(self.stream_dir, f"batch-{b:03d}.parquet"), part)

    def open(self, spark):
        pass

    def op(self, spark, tag, tracer=None) -> Op:
        from pl_marker_spark.streaming import stream_kg_graph

        out_dir = os.path.join(self.work, "stream", str(tag))
        t0 = time.perf_counter()
        q = stream_kg_graph(spark, self.stream_dir, out_dir, CFG)
        q.awaitTermination(150)
        wall = time.perf_counter() - t0
        if q.isActive:
            q.stop()
            raise TimeoutError(f"stream {tag} still running after 150 s")
        if q.exception() is not None:
            raise RuntimeError(f"stream {tag} failed: {q.exception()}")
        progress = [p for p in q.recentProgress if p["numInputRows"] > 0]
        if len(progress) != self.n_batches:
            raise RuntimeError(f"stream {tag} ran {len(progress)} micro-batches, "
                               f"expected {self.n_batches}")
        if tracer is not None:
            # the query runs its micro-batches, and the jobs they start,
            # under a job group named after its run id
            tracer.record("stream", "streaming", tag, t0, t0 + wall, [str(q.runId)])
        latency = [p["durationMs"]["triggerExecution"] / 1000 for p in progress]
        add_batch = [p["durationMs"].get("addBatch", 0) / 1000 for p in progress]
        n_triples = sum(parquet_rows(os.path.join(out_dir, f"triples_b{p['batchId']}"))
                        for p in progress)
        return Op(wall, n_triples, {"triples": n_triples}, {"dir": out_dir},
                  latency, add_batch)

    def check(self, spark, op: Op) -> list[str]:
        from pl_marker_spark.pipeline.graph import build_graph
        from pl_marker_spark.pipeline.runner import run_extraction
        from pl_marker_spark.streaming import read_kg_state

        got = graph_tables(read_kg_state(spark, op.outputs["dir"]))
        out = run_extraction(spark, spark.read.parquet(self.stream_dir), CFG)
        want = graph_tables(build_graph(out["mentions_refined"], out["triples"],
                                        out["turns_tok"]))
        errors = []
        for name in ("nodes", "edges", "mention_entity"):
            errors += diff(name, got[name], want[name])
        return errors


WORKLOADS = {w.name: w for w in (BatchExtract, CanonVocab, StreamIngest)}


# --- the alias vocabulary of canon_vocab -----------------------------------

_SYLLABLES = [c + v for c in "bcdfghjklmnprstvz" for v in "aeiou"]


def _name(rng) -> list[str]:
    return ["".join(rng.choice(_SYLLABLES) for _ in range(rng.randint(2, 3))).capitalize()
            for _ in range(rng.randint(1, 3))]


def _norm_variant(rng, words: list[str]) -> list[str]:
    """Same normalized surface (case and attached punctuation only)."""
    out = []
    for w in words:
        w = "".join(c.upper() if rng.random() < 0.3 else c.lower() for c in w)
        if rng.random() < 0.2:
            w += rng.choice(".,'")
        out.append(w)
    return out


def _typo_variant(rng, words: list[str]) -> list[str]:
    """One character substituted in one word."""
    out = list(words)
    i = rng.randrange(len(out))
    j = rng.randrange(len(out[i]))
    out[i] = out[i][:j] + rng.choice("aeiouklmnrst") + out[i][j + 1:]
    return out


def alias_vocabulary(rng, n_surfaces: int, hot: int) -> list[tuple[str, list[str]]]:
    """``n_surfaces`` distinct (label, surface words): base names,
    norm-identical case and punctuation variants, one-character typo
    variants, and one hot cluster of ``hot`` norm-identical variants of a
    single name."""
    seen: set[tuple[str, str]] = set()
    out: list[tuple[str, list[str]]] = []

    def add(label, words):
        key = (label, " ".join(words))
        if key not in seen:
            seen.add(key)
            out.append((label, words))

    while len(out) < n_surfaces - hot:
        label = rng.choice(LABELS)
        base = _name(rng)
        add(label, base)
        r = rng.random()
        if r < 0.3:
            for _ in range(rng.randint(1, 3)):
                add(label, _norm_variant(rng, base))
        elif r < 0.5:
            add(label, _typo_variant(rng, base))
    del out[n_surfaces - hot:]
    # a fixed shape (three words of three syllables) keeps the hot bucket's
    # shingle sets, and so its cost, the same for every seed
    label = rng.choice(LABELS)
    base = ["".join(rng.choice(_SYLLABLES) for _ in range(3)).capitalize()
            for _ in range(3)]
    while len(out) < n_surfaces:
        add(label, _norm_variant(rng, base))
    return out


def extraction_tables(rng, surfaces, max_triples: int):
    """Lays the surfaces out as mentions in conversations of filler words.

    Returns refined mentions ``(conv, turn, start, end, label, score)``, up
    to ``max_triples`` triples ``(conv, turn, s1, e1, s2, e2, pred, score,
    subj_type, obj_type)`` between mentions of one turn, and
    ``{(conv, turn): words}``.
    Offsets are conversation-level word indices, as the pipeline's."""
    mentions = [s for s in surfaces for _ in range(1 + int(rng.expovariate(1.0)))]
    rng.shuffle(mentions)
    refined, triples, words_of = [], [], {}
    conv, turn, offset, k = 0, 0, 0, 0
    conv_len = rng.randint(4, 10)
    while k < len(mentions):
        cid = f"v{conv:07d}"
        words, spans = [], []
        for _ in range(rng.randint(1, 3)):
            if k == len(mentions):
                break
            words += rng.sample(FILLER_WORDS, rng.randint(1, 4))
            label, ws = mentions[k]
            k += 1
            s = offset + len(words)
            words += ws
            spans.append((s, s + len(ws) - 1, label))
        words += rng.sample(FILLER_WORDS, rng.randint(1, 3)) + ["."]
        words_of[(cid, turn)] = words
        for s, e, label in spans:
            refined.append((cid, turn, s, e, label, round(rng.uniform(0.5, 1.0), 6)))
        for i, (s1, e1, l1) in enumerate(spans):
            for s2, e2, l2 in spans[i + 1:]:
                if rng.random() < 0.5 and len(triples) < max_triples:
                    triples.append((cid, turn, s1, e1, s2, e2, rng.choice(PREDICATES),
                                    round(rng.uniform(0.3, 1.0), 6), l1, l2))
        offset += len(words)
        turn += 1
        if turn == conv_len:
            conv, turn, offset = conv + 1, 0, 0
            conv_len = rng.randint(4, 10)
    return refined, triples, words_of


def write_table(path: str, rows: list[tuple], schema: pa.Schema) -> None:
    cols = list(zip(*rows))
    table = pa.Table.from_arrays(
        [pa.array(c, f.type) for c, f in zip(cols, schema)], schema=schema)
    os.makedirs(path, exist_ok=True)
    pq.write_table(table, os.path.join(path, "part-0.parquet"))
