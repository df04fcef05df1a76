"""The benchmark's workloads: fixed query lists and their seeded order.

Each batch workload names its queries here, with the family used to
interleave them, so that moving a query between operator modules cannot
change what a workload runs. The seed fixes only the order: families are
spread evenly over a pass, so a burst of machine load lands on several
families instead of one alphabetical block.
"""

from __future__ import annotations

import random

#: sf0.1 relational and analytic queries, timed cold: the fixed
#: per-query cost (Python build, Catalyst, job scheduling) dominates.
OLAP: dict[str, str] = {
    "q_topk": "relational", "q_join_3way": "relational",
    "q_agg_group": "relational", "q_except_all": "relational",
    "q_agg_percentile": "advanced", "q_agg_stats": "advanced",
    "q_tpch_q9": "tpch", "q_tpch_q13": "tpch", "q_tpch_q21": "tpch",
    "q_tpch_q3": "analytics",
    "q_funnel": "events", "q_events_markov": "events",
    "q_tpch_q6": "scalar", "q_map_funcs": "scalar",
    "q_ts_gapfill": "timeseries", "q_udf_scalar": "udf",
}

#: sf0.1 LLM-pipeline queries; the shared dedup cache is kept across the
#: queries of a pass, as a curation pipeline would use it. Queries that
#: share a cached intermediate form one family, listed in pipeline order
#: (the minhash signatures, then the pairs, then both CC loops over
#: them): the seed interleaves the families but keeps that order, so the
#: same query pays for the shared build on every seed.
LLM_PIPELINE: dict[str, str] = {
    "q_dedup_minhash": "minhash", "q_dedup_minhash_pairs": "minhash",
    "q_dedup_clusters": "minhash", "q_dedup_clusters_largestar": "minhash",
    "q_graph_pagerank": "graph", "q_curate_pipeline": "curation",
    "q_text_quality": "text", "q_multimodal_decode_png": "multimodal",
}

#: execution-bound queries on the 10x rolled proxy, timed cold; funnel and
#: dau_wau pass the 8 MB persist_if_big floor there.
SCALE_PROXY: dict[str, str] = {
    "q_agg_group": "relational", "q_tpch_q9": "tpch",
    "q_funnel": "events", "q_events_dau_wau": "events",
}

BATCH: dict[str, dict[str, str]] = {
    "olap": OLAP, "llm_pipeline": LLM_PIPELINE, "scale_proxy": SCALE_PROXY,
}
#: batch workloads that clear the shared cache after every query; the
#: others keep it for a pass and run each family in its listed order
COLD_PER_QUERY = {"olap", "scale_proxy"}
WORKLOADS = (*BATCH, "stream_ingest")

#: the wall of one pass (one drain pair on stream_ingest) on 4 cores of
#: an AMD EPYC host, which turns ``--seconds`` into a number of passes
PASS_S: dict[str, float] = {
    "olap": 7.0, "llm_pipeline": 10.0, "scale_proxy": 6.0,
    "stream_ingest": 7.0,
}
#: the first pass after the warm-up still runs on a warming JIT: on olap
#: and scale_proxy it took up to 18% longer than the second, by a
#: different share on every run
MIN_PASSES = 2


def passes_for(workload: str, seconds: float) -> int:
    """How many passes a run times: as many as fill ``seconds`` on the
    reference host, and at least ``MIN_PASSES``. The count does not
    depend on how fast the passes of this run happen to be, so a slow
    spell on the machine cannot change which passes the median is over."""
    return max(MIN_PASSES, round(seconds / PASS_S[workload]))


def interleaved_order(families: dict[str, str], rng: random.Random,
                      shuffle_within: bool = True) -> list[str]:
    """Seeded order that spreads every family evenly over the pass.

    Query i of a family of size n gets the position (i + u) / n for a
    uniform u, so each family's queries sit one per 1/n of the pass at a
    random offset; sorting by position interleaves the families. With
    ``shuffle_within`` off, each family keeps its listed order."""
    by_family: dict[str, list[str]] = {}
    for name in families:
        by_family.setdefault(families[name], []).append(name)
    keyed = []
    for fam in sorted(by_family):
        names = by_family[fam]
        if shuffle_within:
            names.sort()
            rng.shuffle(names)
        u = rng.random()
        keyed += [((i + u) / len(names), rng.random(), n)
                  for i, n in enumerate(names)]
    return [n for *_, n in sorted(keyed)]
