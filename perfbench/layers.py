"""Per-layer metrics of a traced run, derived from its spans.

Span names are ``<layer>.<step>`` (see workloads.py).  A metric is taken
from each traced pass and reported as the median over those passes; a
layer that a workload does not call reads 0.  ``spark.*`` comes from the
untraced passes of the same run (one job group per pass, read after the
pass's timer stopped), so the checkpoints the traced passes add do not
distort it.
"""

from __future__ import annotations

import statistics
from collections import defaultdict

from tracer import descendants, driver_time, inclusive, inclusive_sql

#: (name, unit) of every per-layer metric, in report order.
PER_LAYER = [
    ("session.start_s", "s"),
    ("jvm.peak_rss_mb", "MiB"),
    ("sources.scan_s", "s"),
    ("sources.files_kept", "count"),
    ("sources.files_total", "count"),
    ("sources.rows_read", "rows"),
    ("sources.bytes_read", "bytes"),
    ("sources.commit_s", "s"),
    ("sources.commit_jobs", "count"),
    ("gridding.build_s", "s"),
    ("gridding.exec_s", "s"),
    ("gridding.shuffle_write_bytes", "bytes"),
    ("gridding.cells_out", "count"),
    ("stencils.exec_s", "s"),
    ("stencils.tasks", "count"),
    ("stencils.shuffle_write_bytes", "bytes"),
    ("stencils.python_start_s", "s"),
    ("stencils.python_run_s", "s"),
    ("stencils.halo_rows", "rows"),
    ("stencils.core_cells", "count"),
    ("stencils.halo_factor", "ratio"),
    ("kernels.busy_s", "s"),
    ("joins.pip_rect_s", "s"),
    ("joins.pip_rtree_build_s", "s"),
    ("joins.pip_rtree_exec_s", "s"),
    ("joins.pip_rtree_python_run_s", "s"),
    ("joins.pip_pairs", "count"),
    ("joins.zonal_exec_s", "s"),
    ("joins.knn_build_s", "s"),
    ("joins.knn_exec_s", "s"),
    ("joins.knn_candidates_per_query", "ratio"),
    ("joins.profile_exec_s", "s"),
    ("joins.profile_rows", "rows"),
    ("flow.fill_build_s", "s"),
    ("flow.fill_jobs", "count"),
    ("flow.pointer_double_jobs", "count"),
    ("flow.d8_exec_s", "s"),
    ("flow.sweeps_python_run_s", "s"),
    ("flow.driver_s", "s"),
    ("pages.extract_s", "s"),
    ("pages.python_run_s", "s"),
    ("dedup.shingle_s", "s"),
    ("dedup.minhash_s", "s"),
    ("dedup.candidate_pairs", "count"),
    ("dedup.verified_pairs", "count"),
    ("dedup.candidate_precision", "ratio"),
    ("dedup.components_build_s", "s"),
    ("dedup.components_jobs", "count"),
    ("spark.jobs", "count"),
    ("spark.stages", "count"),
    ("spark.tasks", "count"),
    ("spark.shuffle_write_bytes", "bytes"),
    ("spark.spill_bytes", "bytes"),
    ("spark.executor_run_s", "s"),
    ("spark.driver_s", "s"),
    ("trace_overhead_s", "s"),
]

_PY_RUN = "time to run Python workers"
_PY_START = "time to start Python workers"
#: spans whose work is the tiled stencil engine (D8 runs through it too)
_STENCIL_SPANS = ("stencils.exec", "flow.d8")


def _pass_metrics(spans: list[dict], root: dict, wl) -> dict[str, float]:
    by = defaultdict(list)
    for s in descendants(spans, root):
        by[s["name"]].append(s)

    def wall(*names):
        return sum(s["wall_s"] for n in names for s in by[n])

    def incl(key, *names):
        return sum(inclusive(spans, s, key) for n in names for s in by[n])

    def attr(key, *names):
        return sum(s.get(key, 0) for n in names for s in by[n])

    def sql(metric, *names):
        return sum(inclusive_sql(spans, s, metric) for n in names for s in by[n])

    st = _STENCIL_SPANS
    m = {
        "sources.scan_s": wall("sources.scan"),
        "sources.files_kept": attr("files_kept", "sources.scan"),
        "sources.files_total": attr("files_total", "sources.scan"),
        "sources.rows_read": incl("input_rows", "sources.scan"),
        "sources.bytes_read": incl("input_bytes", "sources.scan"),
        "gridding.build_s": wall("gridding.build"),
        "gridding.exec_s": wall("gridding.exec"),
        "gridding.shuffle_write_bytes": incl("shuffle_write_bytes", "gridding.exec"),
        "gridding.cells_out": attr("rows", "gridding.exec"),
        "stencils.exec_s": wall(*st),
        "stencils.tasks": incl("tasks", *st),
        "stencils.shuffle_write_bytes": incl("shuffle_write_bytes", *st),
        "stencils.python_start_s": sql(f"FlatMapGroupsInArrow/{_PY_START}", *st),
        "stencils.python_run_s": sql(f"FlatMapGroupsInArrow/{_PY_RUN}", *st),
        # rows written into the tile exchange: every cell once per tile
        # window that needs it, plus one anchor row per tile
        "stencils.halo_rows": sql("Exchange/shuffle records written", *st),
        "joins.pip_rect_s": wall("joins.pip_rect"),
        "joins.pip_rtree_build_s": wall("joins.pip_rtree_build"),
        "joins.pip_rtree_exec_s": wall("joins.pip_rtree_exec"),
        "joins.pip_rtree_python_run_s": sql(
            f"MapInPandas/{_PY_RUN}", "joins.pip_rtree_exec"),
        "joins.pip_pairs": attr("rows", "joins.pip_rtree_exec"),
        "joins.zonal_exec_s": wall("joins.zonal"),
        "joins.knn_build_s": wall("joins.knn_build"),
        "joins.knn_exec_s": wall("joins.knn_exec"),
        "joins.profile_exec_s": wall("joins.profile"),
        "joins.profile_rows": attr("rows", "joins.profile"),
        "flow.fill_build_s": wall("flow.fill"),
        "flow.fill_jobs": incl("jobs", "flow.fill"),
        "flow.pointer_double_jobs": incl("jobs", "flow.pointer_double"),
        "flow.d8_exec_s": wall("flow.d8"),
        # the per-basin sweeps run in flow_metrics' own executions; the
        # fill rounds' grouped-map stages belong to the flow.fill span
        "flow.sweeps_python_run_s": sum(
            s.get("sql", {}).get(f"FlatMapGroupsInPandas/{_PY_RUN}", 0.0)
            for s in by["flow.metrics"]),
        "flow.driver_s": sum(driver_time(spans, s) for s in by["flow.metrics"]),
        "pages.extract_s": wall("pages.extract"),
        "pages.python_run_s": sql(f"ArrowEvalPython/{_PY_RUN}", "pages.extract"),
        "dedup.shingle_s": wall("dedup.shingle"),
        "dedup.minhash_s": wall("dedup.minhash"),
        "dedup.candidate_pairs": attr("rows", "dedup.candidates"),
        "dedup.verified_pairs": attr("rows", "dedup.verify"),
        "dedup.components_build_s": wall("dedup.components"),
        "dedup.components_jobs": incl("jobs", "dedup.components"),
    }
    m["stencils.core_cells"] = attr("core_cells", "stencils.exec", "flow.metrics")
    m["stencils.halo_factor"] = (
        m["stencils.halo_rows"] / m["stencils.core_cells"]
        if m["stencils.core_cells"] else 0.0)
    n_queries = getattr(wl, "N_GPS", 0)
    m["joins.knn_candidates_per_query"] = (
        sql("BroadcastHashJoin/number of output rows", "joins.knn_build")
        / n_queries if n_queries else 0.0)
    m["dedup.candidate_precision"] = (
        m["dedup.verified_pairs"] / m["dedup.candidate_pairs"]
        if m["dedup.candidate_pairs"] else 0.0)
    return m


def per_layer_metrics(bench, base_spans, pass_spans, untraced, traced):
    """{name: (value, unit)} for every metric in PER_LAYER."""
    spans = bench.tracer.spans
    wl = bench.wl
    per_pass = [_pass_metrics(spans, root, wl) for root in pass_spans]
    out = dict.fromkeys((name for name, _ in PER_LAYER), 0.0)
    if per_pass:
        out.update({k: statistics.median(d[k] for d in per_pass) for k in per_pass[0]})

    # the set-up commit: the one manifest write of a run
    commit = next(s for s in spans if s["name"] == "sources.commit")
    out["sources.commit_s"] = commit["wall_s"]
    out["sources.commit_jobs"] = inclusive(spans, commit, "jobs")
    out["session.start_s"] = bench.session_start_s
    out["jvm.peak_rss_mb"] = bench.rss_mib
    out["kernels.busy_s"] = statistics.median(
        wl.kernel_busy(bench.inputs) for _ in range(3))
    for key in ("jobs", "stages", "tasks", "shuffle_write_bytes",
                "spill_bytes", "executor_run_s"):
        out[f"spark.{key}"] = statistics.median(
            inclusive(spans, s, key) for s in base_spans) if base_spans else 0.0
    out["spark.driver_s"] = statistics.median(
        driver_time(spans, s) for s in base_spans) if base_spans else 0.0
    # each traced pass minus the untraced pass run just before it
    diffs = [t - u for u, t in zip(untraced, traced)
             if u is not None and t is not None]
    out["trace_overhead_s"] = statistics.median(diffs) if diffs else 0.0
    return {name: (float(out[name]), unit) for name, unit in PER_LAYER}
