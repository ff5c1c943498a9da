"""The three closed-loop workloads.

A pass runs every query of a workload once, and the flagship twice, in
a seed-shuffled order (``pass_order``): construction (``QUERIES[name]``),
planning (``queryExecution``) and the action. ``registry`` and ``doc_ladder`` go through ``get_spark`` to the
``noop`` sink, which computes every column; ``feature_job`` takes the
``jobs/run_features.py`` path, a plain builder session plus ``tune()``
writing parquet with an ``Observation`` row count.
"""

from __future__ import annotations

import random
from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    session: str  # "get_spark" or "tune"
    sink: str  # "noop" or "parquet"
    queries: tuple[str, ...]
    # a warm pass on a 4-core host: sets how many passes fill --seconds
    pass_s: float
    copies: int = 1
    tables: tuple[str, ...] = ("documents",)


FLAGSHIP = "tscan_doc_features"


def pass_order(rng: random.Random, queries: tuple[str, ...]) -> list[str]:
    """One pass's order: every query once and the flagship twice.

    ``flagship_docs_per_s`` rests on this one query, so it gets twice the
    samples, spread over the run. Its two executions are never back to
    back, in the pass or across the boundary to the next pass: run right
    after itself it took up to 30% less time.
    """
    while True:
        order = rng.sample(queries + (FLAGSHIP,), len(queries) + 1)
        at = [i for i, q in enumerate(order) if q == FLAGSHIP]
        if at[0] > 0 and at[1] < len(order) - 1 and at[1] - at[0] > 1:
            return order


# A systematic sample of the 118-query registry: every 14th name in
# sorted order, placed so that it includes the flagship
# (``sorted(QUERIES)[13::14]``). Of the steps 10 to 20 through the
# flagship, 14 gave the cheapest sample by cold construction time, which
# keeps a run within its budget. A literal list, so that queries added to
# the registry later do not change what this workload measures.
REGISTRY_SAMPLE = (
    "decontaminate_ngram",
    "docs_tokenized",
    "multimodal_frame_sample",
    "parse_tree_depth",
    "rel_revenue_by_nation",
    "similarity_lsh_topk",
    FLAGSHIP,
    "tscan_staph_bands",
)

# The queries built on the ``operators.dedup`` and ``operators.curation``
# modules: the ``dedup.*`` per-layer metrics sum over these.
DEDUP_QUERIES = (
    "decontaminate_ngram",
    "dedup_clusters",
    "source_overlap_matrix",
)

WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            name="registry",
            why="fixed per-query cost: construction, Catalyst and jobs launched during build,"
            " over an 8-query sample of the registry at sf0.01",
            session="get_spark",
            sink="noop",
            queries=REGISTRY_SAMPLE,
            pass_s=5.4,
            tables=("documents", "embeddings", "customer", "nation", "orders"),
        ),
        Workload(
            name="doc_ladder",
            why="execution: scan plus codegen annotation ladder, broadcast lexicon joins,"
            " aggregation shuffles and Arrow kernels over 1,000 documents",
            session="get_spark",
            sink="noop",
            queries=(
                "tscan_word_features",
                "tscan_sentence_features",
                FLAGSHIP,
                "doc_mtld",
                "multiword_matches",
            ),
            pass_s=4.2,
            copies=2,
        ),
        Workload(
            name="feature_job",
            why="the production path: plain session plus tune(), parquet writes beside"
            " reads and shuffle-heavy dedup set algebra",
            session="tune",
            sink="parquet",
            queries=(
                FLAGSHIP,
                "dedup_clusters",
                "decontaminate_ngram",
                "source_overlap_matrix",
            ),
            pass_s=8.6,
        ),
    )
}
