"""The traced run's per-layer ledger: metric names, units and values.

Span names are the engine's module names. Every metric is reported on
every workload; a layer a workload does not run reads 0 (``facts`` runs no
``tables.*`` span, and on ``warehouse`` the operator spans only build lazy
plans, so their jobs are counted under ``tables.bucket``).
"""

from __future__ import annotations

from .eventlog import GroupStats
from .spans import Span, self_time

SPANS = (
    "extraction.statements", "extraction.mentions", "linking.link",
    "pipeline.triples", "canonicalize.nodes", "canonicalize.edges",
    "tables.bucket", "tables.commit", "tables.finalize",
)
PER_SPAN = {
    "wall_s": "s",
    "cpu_s_per_mtriple": "CPU-s/Mtriple",
    "shuffle_bytes_per_triple": "B/triple",
    "spill_bytes": "B",
    "gc_s": "s",
    "py_s": "s",
    "jobs": "count",
    "task_skew": "ratio",
    "core_util": "ratio",
    "rows_out": "count",
}
RATIOS = {
    "extraction.gate_hit_rate": "ratio",
    "linking.link_rate": "ratio",
    "pipeline.claim_fanout": "ratio",
    "pipeline.dedup_ratio": "ratio",
    "facts.scan_amplification": "ratio",
    "tables.scan_amplification": "ratio",
    "tables.bytes_per_triple": "B/triple",
}
TRACE = {
    "trace.untraced_build_s": "s",
    "trace.traced_build_s": "s",
    "trace.overhead_s": "s",
}
# peak RSS (VmHWM) of the two processes, filled in by run.py
MEMORY = {
    "jvm.peak_rss_mb": "MB",
    "python.peak_rss_mb": "MB",
}


def units() -> dict[str, str]:
    out = {f"{s}.{m}": u for s in SPANS for m, u in PER_SPAN.items()}
    out.update(RATIOS)
    out.update(TRACE)
    out.update(MEMORY)
    return out


def _ratio(num: float, den: float) -> float:
    return num / den if den else 0.0


def ledger(spans: list[Span], groups: dict, rows: dict, *, n_triples: int,
           cores: int, transcript_bytes: int, written_bytes: int,
           untraced_build_s: float, traced_build_s: float) -> dict:
    """Per-layer metrics from the spans, the event log's per-group task
    metrics and the row counts the traced run collected."""
    m: dict[str, float] = {}
    mtriples = n_triples / 1e6
    for name in SPANS:
        g = groups.get(name) or GroupStats()
        wall = self_time(spans, name)
        m[f"{name}.wall_s"] = wall
        m[f"{name}.cpu_s_per_mtriple"] = _ratio(g.cpu_ns / 1e9, mtriples)
        m[f"{name}.shuffle_bytes_per_triple"] = _ratio(
            g.shuffle_write_bytes, n_triples)
        m[f"{name}.spill_bytes"] = g.spill_bytes
        m[f"{name}.gc_s"] = g.gc_ms / 1000
        m[f"{name}.py_s"] = g.py_ms / 1000
        m[f"{name}.jobs"] = g.jobs
        m[f"{name}.task_skew"] = g.task_skew
        m[f"{name}.core_util"] = _ratio(g.run_ms / 1000, cores * wall)
        m[f"{name}.rows_out"] = rows.get(name, 0)

    m["extraction.gate_hit_rate"] = _ratio(
        rows.get("extraction.mentions", 0),
        2 * rows.get("extraction.statements", 0))
    m["linking.link_rate"] = _ratio(rows.get("linking.link", 0),
                                    rows.get("extraction.mentions", 0))
    m["pipeline.claim_fanout"] = _ratio(rows.get("claim_triples", 0),
                                        rows.get("extraction.statements", 0))
    m["pipeline.dedup_ratio"] = _ratio(
        rows.get("pipeline.triples", 0),
        rows.get("statement_triples", 0) + rows.get("claim_triples", 0))
    sink_in = sum(g.input_bytes for k, g in groups.items()
                  if k and k.startswith("sink."))
    m["facts.scan_amplification"] = _ratio(sink_in, transcript_bytes)
    bucket = groups.get("tables.bucket") or GroupStats()
    m["tables.scan_amplification"] = _ratio(bucket.input_bytes,
                                            transcript_bytes)
    m["tables.bytes_per_triple"] = _ratio(written_bytes, n_triples)
    m["trace.untraced_build_s"] = untraced_build_s
    m["trace.traced_build_s"] = traced_build_s
    m["trace.overhead_s"] = traced_build_s - untraced_build_s
    return m
