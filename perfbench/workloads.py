"""The three workloads: what one pass runs and how its outputs are checked.

A pass is the job a user runs, committed through ``SnapshotCatalog`` into a
fresh catalog. With tracing off it is the plain composition of the public
functions; with tracing on the same calls run one layer at a time with each
layer's output pinned at its boundary (see layers.py).

Every pass is followed by the same list of operations (its commits and
its output checks), so a run attempts whole rounds and the share of failed
operations does not depend on how many passes fit in a run.
"""

from __future__ import annotations

import os
import shutil
from collections import defaultdict

import numpy as np
import pandas as pd

from graphrag_mrkr_2_spark.config import DEFAULT_CONFIG
from graphrag_mrkr_2_spark.functions.embeddings import pseudo_embed_many
from graphrag_mrkr_2_spark.functions.reference_pipeline import run_reference_pipeline
from graphrag_mrkr_2_spark.operators.communities import (
    detect_communities,
    normalize_edge_weights,
    project_edges,
)
from graphrag_mrkr_2_spark.operators.resolution import entity_mapping
from graphrag_mrkr_2_spark.operators.similarity import (
    chunk_similarity_edges_grams,
    with_embeddings,
)
from graphrag_mrkr_2_spark.operators.triples import (
    MENTION_SCHEMA,
    build_edges,
    build_nodes,
    build_triples,
    canonicalize,
)
from graphrag_mrkr_2_spark.plans.pipeline import run_kg_pipeline
from graphrag_mrkr_2_spark.sources.catalog import SnapshotCatalog
from graphrag_mrkr_2_spark.streaming.ingest import compact_stream_batches, start_kg_stream

import inputs
import oracles
import procstat

CFG = DEFAULT_CONFIG
GATES = dict(
    importance_threshold=CFG.extraction.importance_score_threshold,
    strength_threshold=CFG.extraction.strength_threshold,
)
# the graph workload's modularity may trail the planted partition's by this much
MODULARITY_TOLERANCE = 0.02
# fixed (seed-independent) input of the community-layout operation
LAYOUT_DOCS, LAYOUT_SEED = 600, 7
# an increment takes ~8 s; a run must end within 180 s
STREAM_TIMEOUT_S = 90


class Workload:
    name = ""
    docs = 0  # input documents per pass

    def __init__(self, spark, work_dir: str, seed: int, tracer) -> None:
        self.spark = spark
        self.work = work_dir
        self.seed = seed
        self.t = tracer
        self.info: dict[str, str] = {}  # figures of the last check, printed

    # -- shared steps ----------------------------------------------------------

    def commit(self, cat: SnapshotCatalog, name: str, df) -> dict:
        with self.t.layer("catalog") as span:
            manifest = cat.write(name, df)
            if span:
                span.commits += 1
                span.rows_out += manifest["row_count"]
        return manifest

    def downstream(self, cat: SnapshotCatalog) -> None:
        """ER over the committed nodes and communities over the committed
        edges (crawl and graph run the same tail)."""
        t = self.t
        with t.layer("resolution") as span:
            mapping = t.materialize(span, entity_mapping(cat.read("nodes")))
        t.count_rows(span, mapping)
        self.commit(cat, "entity_mapping", mapping)
        with t.layer("communities") as span:
            weighted = normalize_edge_weights(
                cat.read("edges"), min_edge_weight=CFG.clustering.min_edge_weight
            )
            membership = t.materialize(
                span,
                detect_communities(
                    project_edges(weighted, "source_id", "target_id"),
                    resolution=CFG.clustering.resolution,
                ),
            )
        t.count_rows(span, membership)
        self.commit(cat, "communities", membership)

    def graph_tables(self, mentions):
        """canonicalize → nodes/edges/triples, one layer each when traced."""
        t = self.t
        with t.layer("canonicalize") as span:
            ents, rels = t.materialize(span, *canonicalize(mentions, **GATES))
        t.count_rows(span, ents, rels)
        with t.layer("graph_tables") as span:
            nodes, edges = t.materialize(span, build_nodes(ents), build_edges(rels))
            triples = t.materialize(span, build_triples(edges))
        t.count_rows(span, nodes, edges, triples)
        return nodes, edges, triples

    def community_checks(self, cat: SnapshotCatalog) -> list[tuple[str, str | None]]:
        edges = cat.read("edges").select("source_id", "target_id", "strength").collect()
        proj: dict[tuple, float] = {}
        for s, d, w in edges:
            if s != d:
                key = (min(s, d), max(s, d))
                proj[key] = max(proj.get(key, 0.0), w)
        mem = cat.read("communities").select("node", "community_id").collect()
        comm = dict(mem)
        endpoints = {n for k in proj for n in k}
        one_each = (
            None if len(comm) == len(mem) and set(comm) == endpoints
            else f"{len(mem)} rows for {len(comm)} nodes; {len(endpoints)} endpoints"
        )
        comp = oracles.components(proj)
        spans: dict = defaultdict(set)
        for n, c in comm.items():
            spans[c].add(comp.get(n))
        bad = sum(1 for v in spans.values() if len(v) > 1)
        within = None if bad == 0 else f"{bad} communities span two components"
        self.projected, self.membership = proj, comm
        return [("one_community_per_node", one_each), ("communities_within_components", within)]

    def warm_up(self) -> None:
        """One untimed pass, so JIT compilation, generated code and the
        Python workers are in place before timing."""
        self.drop(self.run_pass(-1)["root"])

    def new_catalog(self, pass_no: int) -> tuple[SnapshotCatalog, str]:
        root = os.path.join(self.work, f"pass-{pass_no:03d}")
        return SnapshotCatalog(self.spark, os.path.join(root, "catalog")), root

    @staticmethod
    def drop(root: str) -> None:
        shutil.rmtree(root, ignore_errors=True)


class Crawl(Workload):
    """Batch job over synthetic Common-Crawl-style pages staged as parquet."""

    name = "crawl"
    docs = 320
    files = 8

    def stage(self) -> None:
        self.pages_dir = os.path.join(self.work, "pages")
        inputs.stage_pages(self.spark, self.pages_dir, self.docs, self.seed, self.files)
        docs = inputs.reference_docs(self.docs, self.seed)
        self.ref_triples, _ = run_reference_pipeline(docs, **GATES)
        self.ref_similar = _similarity_pairs(docs)

    def warm_up(self) -> None:
        """One untimed pass over the first staged file (1/8 of the pages):
        every code path of a full pass at a fraction of the extraction."""
        self.drop(self.run_pass(-1, inputs.page_files(self.pages_dir)[0])["root"])

    def run_pass(self, pass_no: int, pages: str | None = None) -> dict:
        t = self.t
        cat, root = self.new_catalog(pass_no)
        res = run_kg_pipeline(self.spark.read.parquet(pages or self.pages_dir))
        if t.enabled:
            with t.layer("extract") as span:
                mentions = t.materialize(span, res.mentions)
            t.count_rows(span, mentions)
            with t.layer("chunks") as span:
                chunks = t.materialize(span, res.chunks)
            t.count_rows(span, chunks)
            nodes, edges, triples = self.graph_tables(mentions)
        else:
            chunks, nodes, edges, triples = res.chunks, res.nodes, res.edges, res.triples
        for name, df in (("chunks", chunks), ("nodes", nodes), ("edges", edges),
                         ("triples", triples)):
            self.commit(cat, name, df)
        res.mentions.unpersist()
        self.downstream(cat)
        with t.layer("similarity") as span:
            sim = t.materialize(
                span,
                chunk_similarity_edges_grams(
                    with_embeddings(cat.read("chunks")),
                    threshold=CFG.similarity.similarity_threshold,
                    max_connections=CFG.similarity.max_similarity_connections,
                ),
            )
        t.count_rows(span, sim)
        self.commit(cat, "chunk_similarity", sim)
        return {"cat": cat, "root": root, "commits": 7, "increments": []}

    def check(self, out: dict) -> list[tuple[str, str | None]]:
        cat = out["cat"]
        got = {tuple(r) for r in cat.read("triples").select("subj", "pred", "obj").collect()}
        triples = None if got == self.ref_triples else (
            f"{len(got - self.ref_triples)} extra / {len(self.ref_triples - got)} missing triples"
        )
        sim = {
            (r.document_id, r.id1, r.id2): (r.score, r.rank)
            for r in cat.read("chunk_similarity").collect()
        }
        similar = _compare_similarity(sim, self.ref_similar)
        return [("triples_equal_reference", triples), *self.community_checks(cat),
                ("similarity_edges_equal_reference", similar)]


class Graph(Workload):
    """Downstream KG job over a generated mention table (no HTML)."""

    name = "graph"
    docs = 1500

    def stage(self) -> None:
        self.truth = inputs.generate_mentions(self.docs, self.seed)
        self.mentions_dir = os.path.join(self.work, "mentions")
        self.spark.createDataFrame(self.truth.frame, MENTION_SCHEMA).write.parquet(
            self.mentions_dir
        )
        self.ref_triples, self.ref_names = oracles.sequential_graph(
            inputs.per_doc_chunks(self.truth.frame), **GATES
        )
        self.layout_edges = layout_edges()
        self.layout_base = self._layout_membership(0)

    def _layout_membership(self, layout: int) -> dict:
        """Communities of the fixed edge list in physical layout ``layout``:
        0 = sorted by (src, dst); 1 = the same rows in reverse order."""
        pdf = self.layout_edges if layout == 0 else self.layout_edges.iloc[::-1]
        df = self.spark.createDataFrame(pdf.reset_index(drop=True), "src string, dst string, weight double")
        return dict(detect_communities(df).select("node", "community_id").collect())

    def run_pass(self, pass_no: int) -> dict:
        cat, root = self.new_catalog(pass_no)
        mentions = self.spark.read.parquet(self.mentions_dir)
        if self.t.enabled:
            nodes, edges, triples = self.graph_tables(mentions)
        else:
            ents, rels = canonicalize(mentions, **GATES)
            nodes, edges = build_nodes(ents), build_edges(rels)
            triples = build_triples(edges)
        for name, df in (("nodes", nodes), ("edges", edges), ("triples", triples)):
            self.commit(cat, name, df)
        self.downstream(cat)
        return {"cat": cat, "root": root, "commits": 5, "increments": []}

    def check(self, out: dict) -> list[tuple[str, str | None]]:
        cat = out["cat"]
        got_triples = {tuple(r) for r in cat.read("triples").select("subj", "pred", "obj").collect()}
        nodes = cat.read("nodes").select("name", "entity_id").collect()
        names = {r.name for r in nodes}
        eq = None
        if got_triples != self.ref_triples or names != self.ref_names:
            eq = (f"triples {len(got_triples ^ self.ref_triples)} differ, "
                  f"names {len(names ^ self.ref_names)} differ")
        # pairwise ER precision/recall against the planted aliases
        canon = dict(cat.read("entity_mapping").select("entity_id", "canonical_id").collect())
        name_of = {r.entity_id: r.name for r in nodes}
        groups = {name_of[e]: c for e, c in canon.items()}
        truth = {p for p in self.truth.alias_pairs if p <= names}
        precision, recall = oracles.pair_precision_recall(groups, truth)
        er = None if min(precision, recall) >= 0.95 else f"P={precision:.3f} R={recall:.3f}"
        self.info["er_precision_recall"] = f"P={precision:.4f} R={recall:.4f} ({len(truth)} planted pairs)"
        checks = [("graph_equals_sequential", eq), ("er_precision_recall", er)]
        checks += self.community_checks(cat)
        # modularity of the Leiden partition against the planted one
        ids_to_cluster = {
            r.entity_id: self.truth.cluster_of[r.name] for r in nodes
            if r.name in self.truth.cluster_of
        }
        edges = [(s, d, w) for (s, d), w in self.projected.items()]
        q = oracles.modularity(edges, self.membership)
        planted = oracles.modularity(edges, ids_to_cluster)
        mod = None if q >= planted - MODULARITY_TOLERANCE else f"Q={q:.4f} planted={planted:.4f}"
        checks.append(("modularity_vs_planted", mod))
        self.info["modularity"] = f"leiden={q:.4f} planted={planted:.4f}"
        self.info["kg_size"] = f"{len(nodes)} nodes, {len(edges)} projected edges"
        # known fault: membership depends on the physical order of the edges
        moved = self._layout_membership(1)
        diff = _membership_distance(self.layout_base, moved)
        checks.append(("communities_layout_invariant",
                       None if diff == 0 else f"{diff} nodes assigned differently"))
        return checks


class Stream(Workload):
    """Page files land one at a time; each is ingested by an availableNow
    streaming run, then the batches are compacted and committed."""

    name = "stream"
    docs = 100
    files = 2

    def stage(self) -> None:
        self.pages_dir = os.path.join(self.work, "pages")
        inputs.stage_pages(self.spark, self.pages_dir, self.docs, self.seed, self.files)
        self.files_in = inputs.page_files(self.pages_dir)
        self.pages_per_file = [
            self.spark.read.parquet(f).count() for f in self.files_in
        ]
        self._batch_reference()

    def warm_up(self) -> None:
        """None beyond stage(): its batch reference run already ran the
        extraction, canonicalize and graph-table operators once."""

    def _batch_reference(self) -> None:
        """The batch job over the same pages, kept for the checks."""
        batch = run_kg_pipeline(self.spark.read.parquet(self.pages_dir))
        edges = [r.asDict() for r in batch.edges.collect()]
        self.ref = {
            "nodes": [r.asDict() for r in batch.nodes.collect()],
            "edges": edges,
            # build_triples is the distinct (subj, rel_type, obj) of edges
            "triples": [
                {"subj": s, "pred": p, "obj": o}
                for s, p, o in {(e["subj"], e["rel_type"], e["obj"]) for e in edges}
            ],
        }
        batch.mentions.unpersist()
        self.edge_columns = batch.edges.columns

    def run_pass(self, pass_no: int) -> dict:
        t = self.t
        cat, root = self.new_catalog(pass_no)
        src = os.path.join(root, "landing")
        os.makedirs(src)
        increments = []
        for f, pages in zip(self.files_in, self.pages_per_file):
            meter = procstat.Meter()
            os.link(f, os.path.join(src, os.path.basename(f)))
            with t.layer("ingest") as span:
                query = start_kg_stream(self.spark, src, cat.root, os.path.join(root, "ckpt"))
                if not query.awaitTermination(STREAM_TIMEOUT_S):
                    query.stop()
                    raise TimeoutError(f"increment not committed in {STREAM_TIMEOUT_S} s")
                if span:
                    span.pages += pages
                    span.rows_out += _batch_rows(cat)
            increments.append(meter.stop().unstolen())
        with t.layer("compact") as span:
            tables = compact_stream_batches(self.spark, cat.root)
            tables = dict(zip(("nodes", "edges", "triples"), t.materialize(
                span, tables["nodes"], tables["edges"], tables["triples"])))
        t.count_rows(span, *tables.values())
        for name, df in tables.items():
            self.commit(cat, name, df)
        return {"cat": cat, "root": root, "commits": 3 + 2 * len(increments),
                "increments": increments}

    def check(self, out: dict) -> list[tuple[str, str | None]]:
        cat = out["cat"]
        got = {n: [r.asDict() for r in cat.read(n).collect()] for n in ("nodes", "edges", "triples")}
        ref = self.ref
        node_cols = list(ref["nodes"][0])
        nodes = oracles.rows_equal(got["nodes"], ref["nodes"], ("name",), node_cols)
        have = set(got["edges"][0]) if got["edges"] else set()
        missing = [c for c in self.edge_columns if c not in have]
        schema = None if not missing else f"missing columns {missing}"
        shared = [c for c in self.edge_columns if c in have]
        edges = oracles.rows_equal(got["edges"], ref["edges"], ("subj", "obj", "rel_type"), shared)
        triples = oracles.rows_equal(got["triples"], ref["triples"], ("subj", "pred", "obj"), ())
        return [("nodes_equal_batch", nodes), ("edges_have_batch_schema", schema),
                ("edges_equal_batch_on_shared_columns", edges), ("triples_equal_batch", triples)]


WORKLOADS = {w.name: w for w in (Crawl, Graph, Stream)}


# -- helpers -------------------------------------------------------------------


def layout_edges() -> pd.DataFrame:
    """A fixed weighted edge list (src < dst) from a mention table generated
    with a constant seed, built with plain pandas: the input of the
    community-layout operation and of the Leiden kernel timing."""
    frame = inputs.generate_mentions(LAYOUT_DOCS, LAYOUT_SEED).frame
    rels = frame[(frame.kind == "relationship") & (frame.strength >= GATES["strength_threshold"])]
    a = np.minimum(rels.name.to_numpy(), rels.target.to_numpy())
    b = np.maximum(rels.name.to_numpy(), rels.target.to_numpy())
    df = pd.DataFrame({"src": a, "dst": b, "weight": rels.strength.to_numpy()})
    df = df[df.src != df.dst].groupby(["src", "dst"], as_index=False)["weight"].sum()
    return df.sort_values(["src", "dst"], ignore_index=True)


def _batch_rows(cat: SnapshotCatalog) -> int:
    """Rows in the newest per-batch node and edge snapshots."""
    total = 0
    for prefix in ("nodes_batches", "edges_batches"):
        base = os.path.join(cat.root, prefix)
        if os.path.isdir(base):
            newest = sorted(os.listdir(base))[-1]
            total += cat.current_snapshot(f"{prefix}/{newest}")["row_count"]
    return total


def _similarity_pairs(docs, threshold=None, k=None) -> dict:
    """Within-document SIMILAR_TO edges computed directly: cosine of the
    pseudo-embeddings, per-source top-k at or above the threshold (ties by
    id), then undirected with the best score and the lowest rank."""
    threshold = CFG.similarity.similarity_threshold if threshold is None else threshold
    k = CFG.similarity.max_similarity_connections if k is None else k
    best: dict[tuple, tuple[float, int]] = {}
    for doc, chunks in docs:
        if len(chunks) < 2:
            continue
        ids = [c for c, _ in chunks]
        vec = pseudo_embed_many([t for _, t in chunks]).astype(np.float64)
        vec /= np.maximum(np.linalg.norm(vec, axis=1), 1e-300)[:, None]
        sims = vec @ vec.T
        for i in range(len(ids)):
            others = sorted((j for j in range(len(ids)) if j != i), key=lambda j: (-sims[i, j], ids[j]))
            picked = [j for j in others if sims[i, j] >= threshold][:k]
            for rank, j in enumerate(picked, 1):
                key = (doc, min(ids[i], ids[j]), max(ids[i], ids[j]))
                score, r = best.get(key, (-2.0, rank))
                best[key] = (max(score, float(sims[i, j])), min(r, rank))
    return best


def _compare_similarity(got: dict, want: dict) -> str | None:
    if got.keys() != want.keys():
        return f"{len(got.keys() - want.keys())} extra / {len(want.keys() - got.keys())} missing edges"
    for key, (score, rank) in want.items():
        g_score, g_rank = got[key]
        if abs(g_score - score) > 1e-6 or g_rank != rank:
            return f"edge {key}: {got[key]} != {(score, rank)}"
    return None


def _membership_distance(a: dict, b: dict) -> int:
    """Nodes whose co-members differ between two partitions."""
    def groups(m):
        g = defaultdict(set)
        for n, c in m.items():
            g[c].add(n)
        return {n: frozenset(g[c]) for n, c in m.items()}

    ga, gb = groups(a), groups(b)
    return sum(1 for n in set(ga) | set(gb) if ga.get(n) != gb.get(n))
