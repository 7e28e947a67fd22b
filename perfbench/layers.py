"""Per-layer metrics of a traced run, from its spans and Spark event log.

Every metric is emitted on every workload; a layer a workload does not
run reports zeros.  ``layer_map.json`` says which end-to-end metric each
of them should move, on which workload.
"""

from __future__ import annotations

import statistics

from perfbench.trace import LAYERS, GroupStats, Span, layer_of_group, self_times, union_length

GENERIC = (
    ("wall_s", "s"),
    ("self_s", "s"),
    ("task_s", "s"),
    ("jobs", "count"),
    ("shuffle_mb", "MB"),
    ("spill_mb", "MB"),
    ("gc_s", "s"),
    ("task_skew", "ratio"),
    ("rows_out", "count"),
)

SPECIFIC = (
    ("mentions.segments_per_task_s", "1/s"),
    ("mentions.mentions_out", "count"),
    ("mentions.triples_out", "count"),
    ("linking.nodes", "count"),
    ("linking.candidate_pairs", "count"),
    ("linking.verified_edges", "count"),
    ("linking.verify_yield", "ratio"),
    ("linking.capped_blocks", "count"),
    ("linking.max_block", "count"),
    ("linking.components", "count"),
    ("linking.cc_path", "flag"),
    ("linking.spark_route", "flag"),
    ("graph.metadata_wall_s", "s"),
    ("sinks.write_s", "s"),
    ("sinks.read_s", "s"),
    ("sinks.bytes_mb", "MB"),
    ("sinks.files", "count"),
    ("sinks.write_amp", "ratio"),
    ("pipeline.overlap_s", "s"),
    ("pipeline.resume_jobs", "count"),
    ("incremental.batch_jobs", "count"),
    ("incremental.link_s", "s"),
    ("incremental.extract_s", "s"),
    ("incremental.state_nodes", "count"),
    ("incremental.remaps", "count"),
    ("incremental.compact_task_s", "s"),
    ("graphq.khop_jobs", "count"),
    ("graphq.khop_frontier_rows", "count"),
    ("graphq.pagerank_task_s", "s"),
    ("graphq.khop_p50_s", "s"),
    ("graphq.analytic_s", "s"),
    ("session.start_s", "s"),
    ("session.warmup_s", "s"),
    ("trace.wall_s", "s"),
    ("trace.self_sum_s", "s"),
    ("trace.bookkeeping_s", "s"),
    ("trace.unattributed_task_s", "s"),
)

PER_LAYER = tuple((f"{layer}.{m}", u) for layer in LAYERS for m, u in GENERIC) + SPECIFIC


def _group_span(group: str | None) -> int | None:
    if not group or "|" not in group:
        return None
    try:
        return int(group.split("|", 1)[1])
    except ValueError:
        return None


def _under(spans: list[Span]) -> dict[int, set[int]]:
    """span id → ids of the span and all its ancestors."""
    by_id = {s.id: s for s in spans}
    out: dict[int, set[int]] = {}
    for s in spans:
        chain, cur = set(), s
        while cur is not None:
            chain.add(cur.id)
            cur = by_id.get(cur.parent) if cur.parent is not None else None
        out[s.id] = chain
    return out


def _subtree_stats(groups: dict, ancestry: dict[int, set[int]], roots: set[int]) -> GroupStats:
    total = GroupStats()
    for g, st in groups.items():
        sid = _group_span(g)
        if sid is not None and ancestry.get(sid, set()) & roots:
            total.merge(st)
    return total


def compute(spans: list[Span], groups: dict, counts: dict, bookkeeping_s: float) -> dict[str, float]:
    """``counts`` carries what the workload measured outside the spans:
    row counts of the produced tables, linking counts, session times,
    files and bytes on disk, and ``unattributed_task_s``."""
    selfs = self_times(spans)
    ancestry = _under(spans)
    out: dict[str, float] = {}

    per_layer: dict[str, GroupStats] = {layer: GroupStats() for layer in LAYERS}
    for g, st in groups.items():
        layer = layer_of_group(g)
        if layer in per_layer:
            per_layer[layer].merge(st)

    for layer in LAYERS:
        mine = [s for s in spans if s.layer == layer]
        st = per_layer[layer]
        out[f"{layer}.wall_s"] = union_length([(s.start, s.end) for s in mine])
        out[f"{layer}.self_s"] = sum(selfs[s.id] for s in mine)
        out[f"{layer}.task_s"] = st.task_s
        out[f"{layer}.jobs"] = st.jobs
        out[f"{layer}.shuffle_mb"] = st.shuffle_write_mb
        out[f"{layer}.spill_mb"] = st.spill_mb
        out[f"{layer}.gc_s"] = st.gc_s
        out[f"{layer}.task_skew"] = st.task_skew
        out[f"{layer}.rows_out"] = st.output_rows
    out["session.wall_s"] = out["session.self_s"] = counts["session.start_s"] + counts["session.warmup_s"]

    def named(*names):
        return [s for s in spans if s.name in names]

    seg_in = counts.get("segments", 0)
    out["mentions.segments_per_task_s"] = seg_in / per_layer["mentions"].task_s if per_layer["mentions"].task_s else 0.0
    out["mentions.mentions_out"] = counts.get("mentions", 0)
    out["mentions.triples_out"] = counts.get("triples", 0)

    for k in ("nodes", "candidate_pairs", "verified_edges", "capped_blocks", "max_block", "components", "cc_path"):
        out[f"linking.{k}"] = counts.get(f"linking.{k}", 0)
    cand = out["linking.candidate_pairs"]
    out["linking.verify_yield"] = out["linking.verified_edges"] / cand if cand else 0.0
    out["linking.spark_route"] = 1 if named("linking.candidate_pairs", "linking.verified_edges") else 0

    meta = [s for s in spans if s.name == "graph.conversation_metadata_kg" or s.detail in ("metadata_nodes", "metadata_edges")]
    out["graph.metadata_wall_s"] = union_length([(s.start, s.end) for s in meta])

    writes = named("sinks.write", "sinks.append_batch")
    out["sinks.write_s"] = union_length([(s.start, s.end) for s in writes])
    out["sinks.read_s"] = union_length([(s.start, s.end) for s in named("sinks.read")])
    traced = [st for g, st in groups.items() if _group_span(g) is not None]
    out["sinks.bytes_mb"] = sum(st.output_mb for st in traced)
    out["sinks.files"] = counts.get("files", 0)
    out["sinks.write_amp"] = out["sinks.bytes_mb"] / counts["input_mb"] if counts.get("input_mb") else 0.0

    builds = named("pipeline.run_pipeline")
    fresh = [s for s in builds if s.detail != "resume"]
    resumed = {s.id for s in builds if s.detail == "resume"}
    fresh_ids = {s.id for s in fresh}
    stage_self = sum(selfs[s.id] for s in spans if ancestry[s.id] & fresh_ids)
    out["pipeline.overlap_s"] = stage_self - sum(s.duration for s in fresh) if fresh else 0.0
    out["pipeline.resume_jobs"] = _subtree_stats(groups, ancestry, resumed).jobs / len(resumed) if resumed else 0.0

    batches = named("incremental.process_kg_batch")
    n_batches = len(batches)
    out["incremental.batch_jobs"] = (
        _subtree_stats(groups, ancestry, {s.id for s in batches}).jobs / n_batches if n_batches else 0.0
    )
    out["incremental.link_s"] = sum(s.duration for s in named("incremental.update_canonical_state"))
    # segmentation and extraction run inside process_kg_batch itself
    # (its localCheckpoints), so they are the micro-batch's self time
    out["incremental.extract_s"] = sum(selfs[s.id] for s in batches)
    out["incremental.state_nodes"] = counts.get("incremental.state_nodes", 0)
    out["incremental.remaps"] = counts.get("incremental.remaps", 0)
    out["incremental.compact_task_s"] = _subtree_stats(
        groups, ancestry, {s.id for s in named("incremental.compact_kg")}
    ).task_s

    khops = named("graphq.k_hop")
    out["graphq.khop_jobs"] = _subtree_stats(groups, ancestry, {s.id for s in khops}).jobs / len(khops) if khops else 0.0
    rows = counts.get("khop_rows", [])
    out["graphq.khop_frontier_rows"] = statistics.median(rows) if rows else 0.0
    out["graphq.pagerank_task_s"] = _subtree_stats(groups, ancestry, {s.id for s in named("graphq.pagerank")}).task_s
    out["graphq.khop_p50_s"] = counts.get("khop_p50_s", 0.0)
    out["graphq.analytic_s"] = counts.get("analytic_s", 0.0)

    out["session.start_s"] = counts["session.start_s"]
    out["session.warmup_s"] = counts["session.warmup_s"]
    top = [s for s in spans if s.parent is None]
    out["trace.wall_s"] = sum(s.duration for s in top)
    out["trace.self_sum_s"] = sum(selfs.values())
    out["trace.bookkeeping_s"] = bookkeeping_s
    out["trace.unattributed_task_s"] = counts.get("unattributed_task_s", 0.0)
    return out
