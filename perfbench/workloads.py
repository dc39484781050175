"""The benchmark's workloads.

Each workload makes its inputs from the seed, runs one closed-loop client
whose operations each have a timed write part and a timed read part, and
checks the program's answers against ``ckg_spark.oracle_ref``, the
single-process pandas reference that shares no code with the Spark
operators. Checks run outside the timed parts.

- ``build_full``: one ``run_pipeline(..., graph_table_dir=...)`` into empty
  directories per operation, then the ``edge_counts_by_pred`` catalog query
  over the committed graph tables. Extraction, linking, materialization,
  the lineage stage commits and the graph-table appends do the work.
- ``sync_ticks``: a transcript snapshot table seeded once, with one
  history tick; each operation appends a 5,000-turn delta and runs
  ``canon.sync_graph`` with 50 new identity edges (the driver-tier
  canonicalizer), then reads the merged graph with
  ``canon.read_graph_edges(comention=True)`` through the same catalog
  query. Fixed per-job cost, manifest growth and merge-on-read
  cost do the work; extraction throughput barely matters.
"""

from __future__ import annotations

import os
import random
import shutil

import pandas as pd

from ckg_spark import oracle_ref
from ckg_spark.datagen import gen_transcripts
from ckg_spark.plans import canon as C
from ckg_spark.plans import table as T
from ckg_spark.plans.pipeline import run_pipeline
from ckg_spark.queries.catalog import run_query
from ckg_spark.vocab import build_vocab, vocab_to_spark

# entity count of the vocabulary every workload draws from (the size the
# frozen bench.py corpus uses)
N_ENTITIES = 200
QUERY = "edge_counts_by_pred"


def _corpus(n_turns: int, vocab, seed: int) -> pd.DataFrame:
    """Exactly ``n_turns`` rows, so every run does the same amount of
    work (the generator overshoots by up to one conversation)."""
    return gen_transcripts(n_turns, vocab=vocab, seed=seed).head(n_turns)


def _union_find(pairs) -> dict[str, str]:
    """ident -> lexicographically smallest ident of its component."""
    parent: dict[str, str] = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in list(parent)}


def _triples(rows) -> list[tuple]:
    return sorted((r[0], r[1], r[2], float(r[3])) for r in rows)


def query_edge_counts(spark, nodes, edges) -> dict[str, int]:
    """The read every operation makes: the ``edge_counts_by_pred`` catalog
    query over a graph, executed."""
    return {r["pred"]: r["n"] for r in
            run_query(spark, QUERY, nodes, edges).collect()}


def _pred_counts(triples: pd.DataFrame) -> dict[str, int]:
    return {k: int(v) for k, v in triples.groupby("pred").size().items()}


def mention_triples(linked: pd.DataFrame, canonical: dict) -> pd.DataFrame:
    """The MENTIONED_IN_TURN and CO_MENTIONED_WITH triples (subj, pred, obj,
    score) of ``oracle_ref.oracle_triples``, from the oracle's linked
    mentions: the same rules, grouped with pandas instead of per-group
    Python loops, so the oracle of a growing table is a few seconds
    cheaper per check. The smoke test pins it to ``oracle_triples``."""
    m = linked.assign(cid=[canonical.get(x, x) for x in linked["ident"]])
    turn = m["conv_id"].astype(str) + ":" + m["turn_idx"].astype(str)
    mit = (m.assign(obj=turn)
           .groupby(["cid", "obj", "entity_type"]).size()
           .reset_index(name="score")
           .rename(columns={"cid": "subj"}))
    per_turn = m.assign(obj=turn)[["obj", "cid"]].drop_duplicates()
    pairs = per_turn.merge(per_turn, on="obj")
    pairs = pairs[pairs["cid_x"] < pairs["cid_y"]]
    com = (pairs.groupby(["cid_x", "cid_y"]).size().reset_index(name="score")
           .rename(columns={"cid_x": "subj", "cid_y": "obj"}))
    out = pd.concat([mit.assign(pred="MENTIONED_IN_TURN"),
                     com.assign(pred="CO_MENTIONED_WITH")], ignore_index=True)
    out["score"] = out["score"].astype(float)
    return out[["subj", "pred", "obj", "score"]]


class BuildFull:
    """Full KG build of one corpus per operation."""

    name = "build_full"
    # a read takes about 1 s, mostly per-job cost, and a single one per
    # run spread 0.3 over seven seeds; the median of three is steadier
    reads_per_op = 3
    sizes = {"full": 20_000, "tiny": 400}

    def __init__(self, spark, work: str, seed: int, scale: str):
        self.spark, self.work, self.seed = spark, work, seed
        self.n_turns = self.sizes[scale]
        self.graph_dir = None
        self.oracle = None

    def prepare(self, rep: int) -> None:
        self.vocab = build_vocab(n_entities=N_ENTITIES, seed=self.seed)
        self.corpus = _corpus(self.n_turns, self.vocab, self.seed)
        path = os.path.join(self.work, f"input{rep}")
        # one file per core, so the extraction scan runs in parallel
        self.spark.createDataFrame(self.corpus).repartition(4) \
            .write.parquet(path)
        self.transcripts = self.spark.read.parquet(path)
        self.vocab_tables = vocab_to_spark(self.spark, self.vocab)

    def warm_up(self) -> None:
        # one discarded build of the corpus's first quarter: the first
        # execution of each plan pays class loading, code generation and
        # JIT compilation, whatever the input size
        path = os.path.join(self.work, "input_warm")
        self.spark.createDataFrame(self.corpus.head(self.n_turns // 4)) \
            .repartition(4).write.parquet(path)
        self.graph_dir = os.path.join(self.work, "build-1", "graph")
        run_pipeline(self.spark, self.spark.read.parquet(path),
                     self.vocab_tables, os.path.join(self.work, "build-1",
                                                     "stages"),
                     graph_table_dir=self.graph_dir)

    def stage(self, i: int) -> None:
        shutil.rmtree(os.path.join(self.work, f"build{i - 1}"))

    def write(self, i: int) -> int:
        out = os.path.join(self.work, f"build{i}")
        self.graph_dir = out + "/graph"
        run_pipeline(self.spark, self.transcripts, self.vocab_tables,
                     out + "/stages", graph_table_dir=self.graph_dir)
        return T.read_manifest(self.graph_dir + "/edges")["row_count"]

    def read(self, i: int) -> dict[str, int]:
        nodes = T.read(self.spark, self.graph_dir + "/nodes")
        edges = T.read(self.spark, self.graph_dir + "/edges")
        return query_edge_counts(self.spark, nodes, edges)

    def _oracle(self) -> pd.DataFrame:
        """Oracle triples of the corpus: the vocabulary-level ones
        (MAPS_TO, HAS_PARENT) from ``oracle_triples`` itself, the mention
        ones grouped from the oracle's own extraction and linking."""
        if self.oracle is None:
            vocab_level = oracle_ref.oracle_triples(self.corpus.head(0),
                                                    self.vocab)
            linked = oracle_ref.oracle_link(
                oracle_ref.oracle_extract(self.corpus, self.vocab),
                self.vocab)
            self.oracle = pd.concat([
                vocab_level[["subj", "pred", "obj", "score"]],
                mention_triples(linked, self.vocab.canonical)],
                ignore_index=True)
        return self.oracle

    def verify(self, i: int, result: dict[str, int]) -> bool:
        return result == _pred_counts(self._oracle())

    def verify_final(self) -> bool:
        got = T.read(self.spark, self.graph_dir + "/edges").select(
            "subj", "pred", "obj", "score").collect()
        want = self._oracle()[["subj", "pred", "obj", "score"]]
        return _triples(got) == _triples(want.itertuples(index=False))

    def graph_tables(self) -> list[str]:
        return [self.graph_dir + "/edges", self.graph_dir + "/nodes"]


class SyncTicks:
    """Incremental sync ticks over a growing transcript snapshot table.

    Each tick has the shape of a tick measured on this code: a 5,000-turn
    delta and 50 new identity edges. Set-up runs ``history`` ticks of the
    same shape before the timed ones, so every timed tick and read runs
    against a table with that many more appended deltas, edge-table
    snapshots and remap-log commits behind it."""

    name = "sync_ticks"
    reads_per_op = 1
    # (snapshot turns, turns per tick, ticks of history made in set-up)
    sizes = {"full": (5_000, 5_000, 1), "tiny": (300, 100, 1)}
    EDGES_PER_TICK = 50
    # of a tick's identity edges, this many join two vocabulary idents (a
    # merge: canonical ids change and the remap log grows); the others
    # attach a new ontology's ident to a vocabulary ident (a new xref: the
    # mapping grows, no canonical id changes, since "ZXO:" sorts last)
    MERGES_PER_TICK = 2

    def __init__(self, spark, work: str, seed: int, scale: str):
        self.spark, self.work, self.seed = spark, work, seed
        self.seed_turns, self.delta_turns, self.history = self.sizes[scale]

    def prepare(self, rep: int) -> None:
        self.vocab = build_vocab(n_entities=N_ENTITIES, seed=self.seed)
        self.vocab_tables = vocab_to_spark(self.spark, self.vocab)
        self.idents = sorted(set(self.vocab.aliases["ident"]))
        self.chunks = [_corpus(self.seed_turns, self.vocab, self.seed)]
        self.linked = []
        self.folded = [tuple(p) for p in self.vocab.identity_edges[
            ["ident_a", "ident_b"]].itertuples(index=False)]
        # identity edges folded once tick t has run: folded[:n_folded[t+1]]
        self.n_folded = [len(self.folded)]
        base = os.path.join(self.work, f"sync{rep}")
        self.tdir, self.edir, self.mdir = (base + "/transcripts",
                                           base + "/edges", base + "/mapping")
        T.append(self.spark.createDataFrame(self.chunks[0]), self.tdir)
        # the catalog query reads only the edges view
        self.nodes = self.spark.createDataFrame([], "id string, label string")

    def warm_up(self) -> None:
        # the first sync registers every vocab ident and folds the
        # vocabulary's own identity edges; the history ticks then build
        # the manifests and remap log the timed ticks start from
        C.sync_graph(self.spark, self.tdir, self.vocab_tables, self.edir,
                     self.mdir, identity_edges=self.vocab_tables[
                         "identity_edges"])
        for i in range(-self.history, 0):
            self.stage(i)
            self.write(i)

    def stage(self, i: int) -> None:
        t = self.history + i  # tick number; timed operation i is tick t
        rng = random.Random(f"{self.seed}:{t}")
        self.chunks.append(_corpus(self.delta_turns, self.vocab,
                                   self.seed * 1000 + t + 1))
        edges = [tuple(rng.sample(self.idents, 2))
                 for _ in range(self.MERGES_PER_TICK)]
        edges += [(rng.choice(self.idents), f"ZXO:{t:04d}{j:03d}")
                  for j in range(self.EDGES_PER_TICK - self.MERGES_PER_TICK)]
        self.folded += edges
        self.n_folded.append(len(self.folded))
        self.delta_df = self.spark.createDataFrame(self.chunks[-1])
        self.edges_df = self.spark.createDataFrame(
            edges, "ident_a string, ident_b string")

    def write(self, i: int) -> int:
        T.append(self.delta_df, self.tdir)
        report = C.sync_graph(self.spark, self.tdir, self.vocab_tables,
                              self.edir, self.mdir,
                              identity_edges=self.edges_df)
        return report.n_edges

    def read(self, i: int) -> dict[str, int]:
        edges = C.read_graph_edges(self.spark, self.edir, self.mdir,
                                   comention=True)
        return query_edge_counts(self.spark, self.nodes, edges)

    def _oracle(self, i: int) -> pd.DataFrame:
        """Batch recompute over the table as timed tick ``i`` left it,
        under the canonical map of every identity edge folded up to that
        tick. Extraction and linking are the oracle's, once per chunk."""
        t = self.history + i
        while len(self.linked) < t + 2:
            chunk = self.chunks[len(self.linked)]
            self.linked.append(oracle_ref.oracle_link(
                oracle_ref.oracle_extract(chunk, self.vocab), self.vocab))
        canonical = _union_find(self.folded[:self.n_folded[t + 1]])
        return mention_triples(pd.concat(self.linked[:t + 2],
                                         ignore_index=True), canonical)

    def verify(self, i: int, result: dict[str, int]) -> bool:
        return result == _pred_counts(self._oracle(i))

    def verify_final(self) -> bool:
        got = C.read_graph_edges(self.spark, self.edir, self.mdir,
                                 comention=True).select(
            "subj", "pred", "obj", "score").collect()
        want = self._oracle(len(self.chunks) - 2 - self.history)
        return _triples(got) == _triples(want.itertuples(index=False))

    def graph_tables(self) -> list[str]:
        return [self.edir]


WORKLOADS = {w.name: w for w in (BuildFull, SyncTicks)}
