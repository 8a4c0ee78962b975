"""Metric names, units and the per-layer roll-up.

End-to-end metrics (untraced runs) apply to every workload, because each
run prints every one of them:

- ``setup_s``: JVM and session start, Python worker spin-up and the
  workload's untimed warm-up operation.
- ``op_s``: median wall time of one operation: ``KGPipeline.run`` on
  kg_small; on curate_catalog ``CurationPipeline.run`` plus one pass over
  the catalog queries (each from ``spark_fn`` through ``collect``). The
  work in one operation is fixed for a seed (committed triples, input
  documents), so a throughput would only restate ``op_s``; the host record
  gives the work per operation, and the paper's triples/s for kg_small is
  ``items / op_s``.
Failed operations are reported through the result's ``attempted`` and
``failed`` counts.

Per-layer metrics (traced runs), and the end-to-end metric and workload
each should move:

- ``pipeline.<stage>.{wall_s,outside_job_s,jobs}``, ``pipeline.run_s``,
  ``pipeline.outside_stage_s``: the four KG stages plus driver time outside
  any stage; their walls add up to ``pipeline.run_s``. Outside-job time is
  driver time the cores wait on. ``op_s`` on kg_small.
- ``tag.fused.*``: the fused extract∘tag stage; ``python_s`` is task time
  minus JVM CPU. ``op_s`` on kg_small; no effect on curate_catalog.
- ``canon.map.*``: dimension-sized; no measurable move expected.
- ``link.triples.*``: ``busy_cores`` is task time ÷ stage wall. The largest
  share of ``op_s`` on kg_small.
- ``materialize.graph.*``: ``merge_s`` is time in ``Table`` commits.
  ``op_s`` on kg_small.
- ``lakehouse.*``: ``Table`` commits, reads (driver side only: reads are
  lazy) and ``row_count`` calls; bytes and files committed under the
  warehouse, and ``write_amp`` = committed bytes ÷ input bytes. ``op_s`` on
  kg_small and curate_catalog.
- ``curate.<stage>.*`` and ``curate.count_s`` (Spark jobs of the curation
  run outside every stage, i.e. the per-stage ``count()``). ``op_s`` on
  curate_catalog; no effect on kg_small.
- ``query.<name>.wall_s``: ``op_s`` on curate_catalog. The fixpoint queries
  (ancestors, k-core) and the connected-components ones (neardup
  clusters, canon, curate neardup) move together under a shared fixpoint
  or union-find change.
- ``jvm.peak_rss_mb``: high-water resident memory (``VmHWM``) of the Spark
  JVM over the whole run, the figure to watch against the 16g default heap
  cap. It is not an end-to-end metric because G1 heap growth makes it vary
  by a third between runs of one workload. ``jvm.{gc_s,tasks_failed}``:
  every throughput.
- ``trace.overhead.op_s``: traced minus untraced, measured in
  the same run. Set-up is shared by both kinds of operation, so ``setup_s``
  has no in-run overhead to report.

A layer a workload does not run reports 0.
"""

from __future__ import annotations

import statistics

from spans import Span, Usage, outside_job_s

END_TO_END = [
    ("setup_s", "s", "lower", 0.25),
    ("op_s", "s", "lower", 0.25),
]

KG_STAGES = ["tag", "canon", "link", "materialize"]
CURATE_STAGES = ["exact_dedup", "pii", "span_dedup", "quality", "lm", "neardup", "split_pack"]
# The catalog queries' list lives here, not in bench.py, so an
# edit there cannot change the workload. All 43 bench.HEADLINE queries on
# sf0.001 take ~50 s per warm pass on 4 vCPUs, too long to repeat in a run.
# The queries are there for fixpoint and union-find changes, and six
# HEADLINE queries run those code paths (ops.graph's transitive_closure,
# k_core or closeness BFS, or canon.cc.connected_components, also under
# ops.wgcna). Measured warm cost on a loaded 4-vCPU host, s per query:
# q_kg_ancestors 0.9, q_neardup_clusters 1.6, q_graph_kcore 1.8,
# q_graph_closeness 3.0, q_wgcna_soft_threshold 4.5, q_wgcna_modules 5.0.
# The three cheapest (one per code path: closure, peeling, CC) are kept,
# ~4.3 s per pass; the rest would more than double a run.
QUERIES = [
    "q_graph_kcore",
    "q_neardup_clusters",
    "q_kg_ancestors",
]

_UNITS = {
    "s": "s", "b": "B", "jobs": "count", "tasks": "count", "rows_out": "count",
    "calls": "count", "files_written": "count", "busy_cores": "cores",
    "max_median_task": "ratio", "write_amp": "ratio",
    "tasks_failed": "count", "mb": "MB",
}
_HIGHER = {"busy_cores", "rows_out"}


def _unit(name: str) -> str:
    last = name.rsplit(".", 1)[-1]
    if last in _UNITS:
        return _UNITS[last]
    return _UNITS[last.rsplit("_", 1)[-1]]


def per_layer_names() -> list[str]:
    names = ["pipeline.run_s", "pipeline.outside_stage_s"]
    names += [f"pipeline.{s}.{c}" for s in KG_STAGES for c in ("wall_s", "outside_job_s", "jobs")]
    names += [
        f"tag.fused.{c}"
        for c in ("task_s", "jvm_cpu_s", "python_s", "tasks", "max_median_task", "rows_out")
    ]
    names += ["canon.map.task_s", "canon.map.rows_out"]
    names += [
        f"link.triples.{c}"
        for c in (
            "task_s", "busy_cores", "shuffle_write_b", "shuffle_read_b",
            "fetch_wait_s", "spill_b", "max_median_task", "rows_out",
        )
    ]
    names += [f"materialize.graph.{c}" for c in ("busy_cores", "merge_s", "rows_out")]
    names += [
        f"lakehouse.{c}"
        for c in (
            "commit_s", "read_s", "row_count_s", "row_count_calls", "bytes_written_b",
            "files_written", "write_amp",
        )
    ]
    names += [
        f"curate.{s}.{c}"
        for s in CURATE_STAGES
        for c in ("wall_s", "task_s", "busy_cores", "shuffle_write_b", "spill_b", "rows_out")
    ]
    names += ["curate.count_s"]
    names += [f"query.{q}.wall_s" for q in QUERIES]
    names += ["jvm.peak_rss_mb", "jvm.gc_s", "jvm.tasks_failed"]
    names += ["trace.overhead.op_s"]
    return names


def per_layer_spec() -> list[tuple[str, str, str]]:
    return [
        (n, _unit(n), "higher" if n.rsplit(".", 1)[-1] in _HIGHER else "lower")
        for n in per_layer_names()
    ]


def result(ops, setup_s: float, peak_rss_mb: float, trace: bool) -> dict:
    """The run's result line. Metrics come from operations that passed
    their checks: untraced ones for the end-to-end metrics, traced ones
    (medians) for the per-layer metrics."""
    good = [op for op in ops if not op.failed]
    untraced = [op for op in good if not op.traced]
    traced = [op for op in good if op.traced]
    if not untraced or (trace and not traced):
        raise ValueError("no operation of the needed kind passed its checks")

    def e2e(sample) -> dict:
        return {
            "setup_s": setup_s,
            "op_s": statistics.median(op.wall_s for op in sample),
        }

    if trace:
        values = {n: statistics.median(op.layer[n] for op in traced) for n in per_layer_names()}
        plain, with_trace = e2e(untraced), e2e(traced)
        values["trace.overhead.op_s"] = with_trace["op_s"] - plain["op_s"]
        values["jvm.peak_rss_mb"] = peak_rss_mb
        spec = [(n, u) for n, u, _ in per_layer_spec()]
    else:
        values = e2e(untraced)
        spec = [(n, u) for n, u, _, _ in END_TO_END]
    failed = sum(op.failed for op in ops)
    return {
        "correct": failed == 0,
        "attempted": sum(op.attempted for op in ops),
        "failed": failed,
        "metrics": {n: {"value": values[n], "unit": u} for n, u in spec},
    }


def layer_values(spans: list[Span], usage: dict[int, Usage], stage_rows: dict[str, int],
                 wh_bytes: int, wh_files: int, input_bytes: int) -> dict[str, float]:
    """Per-layer metrics of one traced operation; names absent from the
    operation's spans stay 0."""
    out = dict.fromkeys(per_layer_names(), 0.0)
    by_name: dict[str, list[Span]] = {}
    for s in spans:
        by_name.setdefault(s.name, []).append(s)
    root = spans[0] if spans else None

    def total(name: str) -> float:
        return sum(s.wall_s for s in by_name.get(name, []))

    def jobs_and_outside(name: str) -> tuple[int, float]:
        ss = by_name.get(name, [])
        return (
            sum(usage[s.id].jobs for s in ss),
            sum(outside_job_s(s, usage[s.id]) for s in ss),
        )

    def merged(name: str) -> Usage:
        u = Usage()
        for s in by_name.get(name, []):
            v = usage[s.id]
            for f in ("tasks", "task_s", "jvm_cpu_s", "shuffle_write_b", "shuffle_read_b",
                      "fetch_wait_s", "spill_b"):
                setattr(u, f, getattr(u, f) + getattr(v, f))
            u.stage_task_s.update(v.stage_task_s)
        return u

    if root is not None and root.name == "pipeline.run":
        out["pipeline.run_s"] = root.wall_s
        stage_sum = 0.0
        for st in KG_STAGES:
            wall = total("stage:" + st)
            jobs, outside = jobs_and_outside("stage:" + st)
            out[f"pipeline.{st}.wall_s"] = wall
            out[f"pipeline.{st}.jobs"] = jobs
            out[f"pipeline.{st}.outside_job_s"] = outside
            stage_sum += wall
        out["pipeline.outside_stage_s"] = root.wall_s - stage_sum

        tag = merged("stage:tag")
        out.update({
            "tag.fused.task_s": tag.task_s,
            "tag.fused.jvm_cpu_s": tag.jvm_cpu_s,
            "tag.fused.python_s": tag.task_s - tag.jvm_cpu_s,
            "tag.fused.tasks": tag.tasks,
            "tag.fused.max_median_task": tag.max_median_task,
            "tag.fused.rows_out": stage_rows.get("tag", 0),
            "canon.map.task_s": merged("stage:canon").task_s,
            "canon.map.rows_out": stage_rows.get("canon", 0),
        })
        link, link_wall = merged("stage:link"), total("stage:link")
        out.update({
            "link.triples.task_s": link.task_s,
            "link.triples.busy_cores": link.task_s / link_wall if link_wall else 0.0,
            "link.triples.shuffle_write_b": link.shuffle_write_b,
            "link.triples.shuffle_read_b": link.shuffle_read_b,
            "link.triples.fetch_wait_s": link.fetch_wait_s,
            "link.triples.spill_b": link.spill_b,
            "link.triples.max_median_task": link.max_median_task,
            "link.triples.rows_out": stage_rows.get("link", 0),
        })
        mat, mat_wall = merged("stage:materialize"), total("stage:materialize")
        merge_s = sum(
            s.wall_s for s in by_name.get("lakehouse.commit", [])
            if spans[s.parent].name == "stage:materialize"
        )
        out.update({
            "materialize.graph.busy_cores": mat.task_s / mat_wall if mat_wall else 0.0,
            "materialize.graph.merge_s": merge_s,
            "materialize.graph.rows_out": stage_rows.get("materialize", 0),
        })

    if root is not None and root.name == "curate.run":
        in_stages = 0.0
        for st in CURATE_STAGES:
            u, wall = merged("stage:curate_" + st), total("stage:curate_" + st)
            out.update({
                f"curate.{st}.wall_s": wall,
                f"curate.{st}.task_s": u.task_s,
                f"curate.{st}.busy_cores": u.task_s / wall if wall else 0.0,
                f"curate.{st}.shuffle_write_b": u.shuffle_write_b,
                f"curate.{st}.spill_b": u.spill_b,
                f"curate.{st}.rows_out": stage_rows.get("curate_" + st, 0),
            })
            in_stages += sum(
                b - a for s in by_name.get("stage:curate_" + st, [])
                for a, b in usage[s.id].job_intervals
            )
        out["curate.count_s"] = (
            sum(b - a for a, b in usage[root.id].job_intervals) - in_stages
        )

    for q in QUERIES:
        out[f"query.{q}.wall_s"] = total("query:" + q)

    out["lakehouse.commit_s"] = total("lakehouse.commit")
    out["lakehouse.read_s"] = total("lakehouse.read")
    out["lakehouse.row_count_s"] = total("lakehouse.row_count")
    out["lakehouse.row_count_calls"] = len(by_name.get("lakehouse.row_count", []))
    out["lakehouse.bytes_written_b"] = wh_bytes
    out["lakehouse.files_written"] = wh_files
    out["lakehouse.write_amp"] = wh_bytes / input_bytes if input_bytes else 0.0

    tops = [s for s in spans if s.parent is None]
    out["jvm.gc_s"] = sum(usage[s.id].gc_s for s in tops)
    out["jvm.tasks_failed"] = sum(usage[s.id].tasks_failed for s in tops)
    return out
