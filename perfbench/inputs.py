"""Seeded benchmark inputs: crawl pages and a generated mention table.

Everything here is a pure function of the seed, so the same ``--seed``
gives byte-identical inputs on every run.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

from graphrag_mrkr_2_spark.functions.chunking import assign_text_units
from graphrag_mrkr_2_spark.functions.extraction import RELATION_TYPE_SUGGESTIONS
from graphrag_mrkr_2_spark.functions.html_text import HtmlHeadingChunker
from graphrag_mrkr_2_spark.functions.normalize import (
    DEFAULT_ENTITY_TYPES,
    extractor_normalize_name,
    is_low_value_entity,
    normalize_entity_type,
)
from graphrag_mrkr_2_spark.functions.quality import should_embed_chunk
from graphrag_mrkr_2_spark.operators.extract import document_id_for_url
from graphrag_mrkr_2_spark.operators.triples import MENTION_SCHEMA
from graphrag_mrkr_2_spark.sources.pages import generate_pages, make_page

# -- crawl pages ---------------------------------------------------------------


def stage_pages(spark, out_dir: str, n_pages: int, seed: int, files: int) -> None:
    """Write ``n_pages`` synthetic pages as ``files`` parquet files (one per
    generator partition, so the file layout is a function of the seed too)."""
    generate_pages(spark, n_pages, seed=seed, partitions=files).write.mode(
        "overwrite"
    ).parquet(out_dir)


def page_files(pages_dir: str) -> list[str]:
    """The staged part files in generator order (part-00000, part-00001...)."""
    return sorted(
        os.path.join(pages_dir, f)
        for f in os.listdir(pages_dir)
        if f.startswith("part-") and f.endswith(".parquet")
    )


def reference_docs(n_pages: int, seed: int) -> list[tuple[str, list[tuple[str, str]]]]:
    """(doc_id, [(chunk_id, text)]) per page through the pure chunk/filter
    functions — the input of ``run_reference_pipeline``."""
    chunker = HtmlHeadingChunker()
    docs = []
    for i in range(n_pages):
        page = make_page(i, seed)
        doc_id = document_id_for_url(page["url"])
        pieces = chunker.chunk_html(page["html"].decode())
        units = assign_text_units(doc_id, page["text"], [p["text"] for p in pieces])
        docs.append(
            (
                doc_id,
                [(u["chunk_id"], u["content"]) for u in units if should_embed_chunk(u["content"])[0]],
            )
        )
    return docs


# -- graph mentions -------------------------------------------------------------

_SYLLABLES = [
    "ka", "lo", "mi", "ver", "tan", "dro", "qui", "zel", "por", "nix", "sa",
    "bel", "cor", "fen", "gri", "hol", "jus", "kem", "lum", "mor", "nal",
    "osk", "pra", "rin", "sul", "tev", "ulm", "vax", "wen", "yor", "zan",
    "bri", "cas", "del", "eru", "fal", "gor", "hab", "ist", "jor",
]
# types that survive the extractor's type normalization unchanged
_TYPES = [t for t in DEFAULT_ENTITY_TYPES if normalize_entity_type(t) == t and t != "CONCEPT"]
_REL_TYPES = [r for r in RELATION_TYPE_SUGGESTIONS if r != "RELATED_TO"]
# a planted alias is a near-duplicate: well above entity_mapping's 0.8 gate
ALIAS_MIN_JACCARD = 0.85


@dataclass
class MentionSet:
    """A generated extraction output plus the ground truth planted in it."""

    frame: pd.DataFrame  # MENTION_SCHEMA rows, document-contiguous
    cluster_of: dict[str, int]  # entity name (base or alias) -> planted cluster
    alias_pairs: set[frozenset] = field(default_factory=set)  # {base, alias}


def _word(rng: np.random.Generator) -> str:
    k = int(rng.integers(3, 5))
    w = "".join(_SYLLABLES[int(i)] for i in rng.integers(0, len(_SYLLABLES), k))
    return w.capitalize()


def _vocabulary(rng: np.random.Generator, size: int) -> list[str]:
    """``size`` distinct three-word names, each a fixed point of the
    extractor's name normalization and not a low-value name."""
    names: list[str] = []
    seen: set[str] = set()
    while len(names) < size:
        name = " ".join(_word(rng) for _ in range(3))
        if name.upper() in seen or extractor_normalize_name(name) != name:
            continue
        if is_low_value_entity(name, "PRODUCT", 1.0):
            continue
        seen.add(name.upper())
        names.append(name)
    return names


def _grams(name: str) -> set[str]:
    padded = f" {name.strip().lower()} "
    return {padded[i : i + 3] for i in range(max(len(padded) - 2, 1))}


def gram_jaccard(a: str, b: str) -> float:
    """Jaccard of padded lower-case character 3-gram sets (the measure the
    program's entity resolution gates on)."""
    ga, gb = _grams(a), _grams(b)
    return len(ga & gb) / len(ga | gb)


def _alias(name: str, rng: np.random.Generator) -> str:
    """A near-duplicate spelling: a plural 's' or a hyphen for a space."""
    if rng.random() < 0.5:
        return name + "s"
    words = name.split(" ")
    k = int(rng.integers(0, len(words) - 1))
    return " ".join(words[:k] + [words[k] + "-" + words[k + 1]] + words[k + 2 :])


def generate_mentions(n_docs: int, seed: int) -> MentionSet:
    """An extraction-output table whose KG grows with ``n_docs``.

    - open vocabulary (3 names per document) with Zipf(1.1) frequencies
      inside planted clusters of 12 entities; each chunk draws from one
      cluster, with a 10% chance per mention of a cross-cluster entity;
    - about 15% of entities have a near-duplicate alias (3-gram Jaccard
      >= ALIAS_MIN_JACCARD) used by 30% of their mentions (the ER ground
      truth);
    - per-mention importance in [0.30, 1.00] (the extractor's low-value
      filter removes anything below 0.30 before this table exists) and
      strength in [0.20, 1.00], i.e. on both sides of the 0.4 gate;
    - one entity per (name, type) per chunk, as the extractor's per-chunk
      dedup guarantees.
    """
    rng = np.random.default_rng(seed)
    n_entities = max(24, 3 * n_docs)
    names = _vocabulary(rng, n_entities)
    cluster_size = 12
    n_clusters = (n_entities + cluster_size - 1) // cluster_size
    etype = {n: _TYPES[int(rng.integers(0, len(_TYPES)))] for n in names}
    base_imp = {n: float(rng.uniform(0.3, 1.0)) for n in names}
    alias_of: dict[str, str] = {}
    taken = {n.upper() for n in names}
    for n in names:
        if rng.random() < 0.15:
            a = _alias(n, rng)
            if (
                a.upper() not in taken
                and extractor_normalize_name(a) == a
                and gram_jaccard(n, a) >= ALIAS_MIN_JACCARD
            ):
                alias_of[n] = a
                taken.add(a.upper())
    cluster_of = {n: i // cluster_size for i, n in enumerate(names)}
    for n, a in alias_of.items():
        cluster_of[a] = cluster_of[n]
    within = np.arange(1, cluster_size + 1, dtype=float) ** -1.1
    within_cdf = np.cumsum(within) / within.sum()
    clusters_p = np.arange(1, n_clusters + 1, dtype=float) ** -0.6
    clusters_cdf = np.cumsum(clusters_p) / clusters_p.sum()

    cols: dict[str, list] = {f.name: [] for f in MENTION_SCHEMA.fields}

    def emit(kind, chunk_id, doc_id, name, typ, target, desc, imp, strength):
        for key, v in zip(
            cols,
            (kind, chunk_id, doc_id, name, typ, target, desc, imp, strength, [chunk_id]),
        ):
            cols[key].append(v)

    base_of = {a: n for n, a in alias_of.items()}
    used_alias: set[str] = set()
    for d in range(n_docs):
        doc_id = f"doc-{seed}-{d:07d}"
        for c in range(int(rng.integers(2, 5))):
            chunk_id = f"{doc_id}-c{c}"
            cl = min(int(np.searchsorted(clusters_cdf, rng.random())), n_clusters - 1)
            members = names[cl * cluster_size : (cl + 1) * cluster_size]
            picked: list[str] = []
            for _ in range(int(rng.integers(3, 8))):
                if rng.random() < 0.1:
                    ent = names[int(rng.integers(0, n_entities))]
                else:
                    k = int(np.searchsorted(within_cdf, rng.random()))
                    ent = members[min(k, len(members) - 1)]
                if ent in alias_of and rng.random() < 0.3:
                    ent = alias_of[ent]
                    used_alias.add(ent)
                if ent not in picked:
                    picked.append(ent)
            for ent in picked:
                base = base_of.get(ent, ent)
                imp = round(min(1.0, max(0.3, base_imp[base] + rng.normal(0.0, 0.1))), 2)
                emit("entity", chunk_id, doc_id, ent, etype[base], None,
                     f"{ent} description", imp, None)
            for a, b in zip(picked, picked[1:]):
                rel = _REL_TYPES[int(rng.integers(0, len(_REL_TYPES)))]
                strength = round(float(rng.uniform(0.2, 1.0)), 2)
                emit("relationship", chunk_id, doc_id, a, rel, b, f"{a} {rel} {b}",
                     None, strength)
    frame = pd.DataFrame(cols)
    frame["importance"] = frame["importance"].astype("float64")
    frame["strength"] = frame["strength"].astype("float64")
    pairs = {frozenset((n, a)) for n, a in alias_of.items() if a in used_alias}
    return MentionSet(frame, cluster_of, pairs)


def per_doc_chunks(frame: pd.DataFrame):
    """Regroup a mention frame into the per-chunk (entities, relationships)
    dicts the sequential extractor emits, per document, in table order."""
    docs: dict[str, dict[str, tuple[list, list]]] = {}
    for r in frame.itertuples(index=False):
        chunks = docs.setdefault(r.document_id, {})
        ents, rels = chunks.setdefault(r.chunk_id, ([], []))
        if r.kind == "entity":
            ents.append(
                {
                    "name": r.name,
                    "type": r.type,
                    "description": r.description,
                    "importance_score": r.importance,
                    "source_chunks": list(r.source_chunks),
                }
            )
        else:
            rels.append(
                {
                    "source_entity": r.name,
                    "target_entity": r.target,
                    "relationship_type": r.type,
                    "description": r.description,
                    "strength": r.strength,
                    "source_chunks": list(r.source_chunks),
                }
            )
    return [(doc, list(chunks.values())) for doc, chunks in docs.items()]
