"""Single-thread timings of the step functions inside the fused Python stage.

The fused stage is one mapInPandas call, so the event log cannot split it.
Calling the same ``functions.*`` steps on a fixed page sample in this process
gives microseconds per page for each step without tracing inside the stage.
"""

from __future__ import annotations

import time

from graphrag_mrkr_2_spark.functions.charsets import to_text
from graphrag_mrkr_2_spark.functions.chunking import assign_text_units
from graphrag_mrkr_2_spark.functions.extraction import extract_chunk_with_gleaning
from graphrag_mrkr_2_spark.functions.html_text import HtmlHeadingChunker
from graphrag_mrkr_2_spark.functions.leiden import leiden_communities
from graphrag_mrkr_2_spark.functions.mock_llm import mock_llm_response
from graphrag_mrkr_2_spark.functions.quality import should_embed_chunk
from graphrag_mrkr_2_spark.operators.extract import document_id_for_url
from graphrag_mrkr_2_spark.sources.pages import make_page

SAMPLE_PAGES, SAMPLE_SEED, REPEATS = 40, 42, 5


def _median(values):
    values = sorted(values)
    return values[len(values) // 2]


def kernel_timings(leiden_edges: list[tuple[str, str, float]]) -> dict[str, float]:
    cfg_chunker = HtmlHeadingChunker()
    pages = [make_page(i, SAMPLE_SEED) for i in range(SAMPLE_PAGES)]
    steps = {"html_chunk": [], "text_units": [], "filter": [], "extract": []}
    for _ in range(REPEATS):
        spent = dict.fromkeys(steps, 0.0)
        for p in pages:
            doc_id = document_id_for_url(p["url"])
            t0 = time.perf_counter()
            pieces = cfg_chunker.chunk_html(to_text(p["html"]))
            t1 = time.perf_counter()
            units = assign_text_units(doc_id, p["text"], [x["text"] for x in pieces])
            t2 = time.perf_counter()
            kept = [u for u in units if should_embed_chunk(u["content"])[0]]
            t3 = time.perf_counter()
            for u in kept:
                extract_chunk_with_gleaning(u["content"], u["chunk_id"], mock_llm_response, 1)
            t4 = time.perf_counter()
            spent["html_chunk"] += t1 - t0
            spent["text_units"] += t2 - t1
            spent["filter"] += t3 - t2
            spent["extract"] += t4 - t3
        for k, v in spent.items():
            steps[k].append(v * 1e6 / len(pages))
    out = {f"kernels.{k}_us": _median(v) for k, v in steps.items()}
    leiden = []
    for _ in range(3):
        t0 = time.perf_counter()
        leiden_communities(leiden_edges)
        leiden.append((time.perf_counter() - t0) * 1e6 / len(leiden_edges))
    out["kernels.leiden_us"] = _median(leiden)
    return out
