"""The benchmark's workloads.

Each workload has a full query list, as the workload is defined (every
member of its modules or families), and the run list that the timed runs
use. The run list is a fixed subset of the full list, sized so that one run
(the set-up, a cold pass, and the warm-up and measured cycles of warm
passes) fits the run budget on a 4-core host; `run.py --full` runs the full
list instead.
"""
import dataclasses

import inputs

# Members of the five memo families graft.Bench lists (graph adjacency,
# Lloyd lattice, classifier, LSH pairs, fused retrieval).
MEMO_FAMILIES = {
    "graph_adjacency": [
        "graph_pagerank", "graph_ppr", "graph_triangles", "graph_jaccard",
        "graph_components", "graph_bfs", "graph_walk", "graph_kcore",
        "graph_degree_dist", "graph_2hop", "graph_assortativity", "graph_sssp",
        "graph_label_propagation"],
    "lloyd_lattice": [
        "llm_kmeans", "llm_kmeans_twolevel", "llm_semdedup", "llm_ann_ivf",
        "llm_ann_ivf_kmeans", "llm_ann_ivf_incremental", "llm_ann_ivf_incremental_recall",
        "llm_ann_ivf_rebalance", "llm_ann_ivf_rebalance_recall", "llm_ann_ivf_delete",
        "llm_ann_graph", "llm_ann_graph_sweep", "llm_ann_graph_filtered",
        "llm_ann_graph_delete", "llm_ann_graph_incremental"],
    "classifier": [
        "llm_quality_classifier", "llm_quality_gate", "llm_quality_calibration",
        "llm_quality_holdout", "llm_uncertainty_sample"],
    "lsh_pairs": [
        "llm_dedup_near", "llm_dedup_cluster", "llm_dedup_near_recall",
        "llm_cross_split_leakage"],
    "fused_retrieval": ["llm_hybrid_rrf", "llm_rag_pack", "llm_retrieval_metrics"],
}

PERSISTED_ANN = ["llm_ann_graph_persisted", "llm_ann_graph_persisted_filtered",
                 "llm_ann_index_persisted", "llm_ann_store_asof"]
LAKEHOUSE = ["sink_merge_occ", "sink_merge_occ_serializable", "maintenance_compact_occ",
             "sink_wap", "scan_secondary_index", "scan_index_refresh", "scan_time_travel",
             "scan_time_travel_asof", "maintenance_vacuum"]
SCALED = ["graph_pagerank", "graph_triangles", "llm_kmeans_twolevel", "llm_dedup_near"]

# The staging graft.Bench does untimed before its passes; a workload's
# set-up pays the part its queries depend on.
BENCH_STAGING = ["join_bucketed", "join_dpp", "scan_partitioned", "stream_output_modes"]


@dataclasses.dataclass
class Workload:
    name: str
    queries: list
    tier: str  # "base" or "clone10"
    warmup_cycles: int = 2
    measured_cycles: int = 2
    full: bool = False

    @property
    def cycle(self):
        """Warm orders per cycle: one rotation per query, so every query
        runs first once per cycle; a full list runs a single warm order."""
        return 1 if self.full else len(self.queries)

    @property
    def staging(self):
        return [q for q in BENCH_STAGING if q in self.queries]

    def input_dir(self, seed, log):
        """(input dir, generator seconds, oracle cache key)."""
        if self.tier == "clone10":
            d, gen_s = inputs.clone_dir(seed, log)
            return d, gen_s, inputs.clone_content_key()
        return inputs.base_dir(), 0.0, None


def _full(name, cat):
    mods = cat["modules"]
    if name == "relational":
        return mods["Filters"] + mods["Joins"] + mods["Aggregates"]
    if name == "llm_iterative":
        return [q for fam in MEMO_FAMILIES.values() for q in fam]
    if name == "stream_write":
        return mods["StreamIO"] + PERSISTED_ANN + LAKEHOUSE
    return list(SCALED)


# Run lists: a fixed subset of each full list, chosen per workload for the
# layer the workload stands for (see README.md).
RUN_LISTS = {
    "relational": [
        "filter_compound", "filter_subquery", "join_inner_hash", "join_broadcast",
        "q3_shipping_priority", "join_eliminate_autorewrite", "agg_hash",
        "agg_distinct_autorewrite"],
    "llm_iterative": ["llm_hybrid_rrf", "llm_rag_pack"],
    "stream_write": ["stream_dedup_within_wm", "sink_merge_occ"],
    "scaled_compute": ["graph_triangles", "llm_dedup_near"],
}

# name -> (input tier, warm-up cycles, measured cycles). Warm passes keep
# getting faster as the JIT goes on compiling, and how fast they do follows
# the host's speed, so passes measured on that slope swing from run to run.
# llm_iterative's passes are driver code that the JIT takes about eight
# passes to settle (3.4 s falling to about 2.2 s over passes 1-8, then about 1 %
# a pass), so it warms up for four cycles; stream_write's passes are flat
# after the first two but vary more from pass to pass, so it measures more.
# Both runs take about a minute on a 4-core host.
WORKLOADS = {
    "relational": ("base", 2, 2),
    "llm_iterative": ("base", 4, 4),
    "stream_write": ("base", 1, 4),
    "scaled_compute": ("clone10", 2, 2),
}


def get(name, cat, full=False):
    everything = _full(name, cat)
    missing = [q for q in everything if q not in cat["queries"]]
    if missing:
        raise KeyError(f"{name}: queries not in the registry: {missing}")
    tier, warmup, measured = WORKLOADS[name]
    if full:  # a cold pass and three warm passes, each of the whole list
        warmup, measured = 1, 2
    return Workload(name, everything if full else list(RUN_LISTS[name]), tier,
                    warmup_cycles=warmup, measured_cycles=measured, full=full)
