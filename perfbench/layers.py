"""Per-layer metrics of the traced run, measured from outside the engine.

``instrument`` wraps the public entry points of each layer with span
recorders for the traced window; ``layer_metrics`` turns the spans, the
operations' job groups, the event log, disk samples and the driver log
into the per-layer metrics BENCHMARK.json lists. Every metric is
reported on every workload; a layer a workload does not use reads 0.
"""

from __future__ import annotations

import os
import re

from perfbench import eventlog, stats
from perfbench.spans import Tracer, ms_excluding, outermost

# the modules of analytics_sf01's queries
OPERATOR_MODULES = ("relational", "dedup", "similarity", "text", "temporal", "nonparam", "graph",
                    "multimodal", "udfs", "curation")
COMMIT_METHODS = {
    "insert_into": "insert",
    "update_where": "update",
    "delete_from": "delete",
    "merge_into": "merge",
    "compact_table": "compact",
    "expire_snapshots": "expire",
}
STATEMENT_CLASSES = ("insert", "update", "delete", "merge", "call")
_WRITE_RE = re.compile(r"^\s*(insert|update|delete|merge)\b", re.I)
# log4j console lines ("yy/MM/dd HH:mm:ss ERROR ...") and PySpark's JSON
# log records
_ERROR_RE = re.compile(r'^\d\d/\d\d/\d\d \d\d:\d\d:\d\d ERROR |"level": "ERROR"')


def _statement_class(query: str) -> str:
    word = query.strip().split(None, 1)[0].lower() if query.strip() else ""
    return word if word in STATEMENT_CLASSES else "other"


def instrument(tracer: Tracer) -> None:
    """Wrap each layer's public functions with span recorders."""
    from sample_emr_on_eks_fgac_iceberg_spark import engine, policy, sql_frontend
    from sample_emr_on_eks_fgac_iceberg_spark.sources import (
        iceberg_manifests,
        iceberg_metadata,
        warehouse,
    )

    tracer.wrap(engine.FgacEngine, "session_for", "policy.session_for")
    tracer.wrap(policy.SecureSession, "sql", "policy.sql",
                lambda self, q, *a, **k: {"write": bool(_WRITE_RE.match(q))})
    tracer.wrap(policy.SecureSession, "writeStream_into", "streaming.drain",
                result_attrs=lambda q: {"batches": len(q.recentProgress)})
    tracer.wrap(policy.PolicyStore, "authorize", "policy.authorize")
    tracer.wrap(warehouse.Warehouse, "read_table", "warehouse.read_table")
    for method, kind in COMMIT_METHODS.items():
        tracer.wrap(warehouse.Warehouse, method, f"warehouse.commit.{kind}")
    # imported at call time by the warehouse, so the module attribute is
    # what each commit calls
    tracer.wrap(iceberg_metadata, "emit_metadata", "warehouse.metadata_emit")
    tracer.wrap(iceberg_manifests, "emit_manifests", "warehouse.metadata_emit")
    tracer.wrap(sql_frontend.SqlFrontend, "execute", "sql_frontend.execute",
                lambda self, q, *a, **k: {"cls": _statement_class(q)})


def _is_data(root: str, path: str) -> bool:
    return f"{os.sep}data" in os.path.dirname(path)[len(root):]


def disk_files(root: str) -> dict[str, tuple[int, int]]:
    """Every file under a warehouse root: path -> (size, mtime_ns)."""
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            st = os.stat(os.path.join(d, f))
            out[os.path.join(d, f)] = (st.st_size, st.st_mtime_ns)
    return out


def disk_usage(root: str) -> dict[str, int]:
    """Bytes under a warehouse root: table data files vs. everything
    else (metadata, manifests, commit markers)."""
    out = {"data": 0, "metadata": 0}
    for path, (size, _) in disk_files(root).items():
        out["data" if _is_data(root, path) else "metadata"] += size
    return out


def bytes_written(before: dict, after: dict, root: str) -> dict[str, int]:
    """Bytes of the files a commit created or rewrote (new, or changed
    in size or mtime), data vs. the rest; files it removed do not count."""
    out = {"data": 0, "metadata": 0}
    for path, (size, mtime) in after.items():
        if before.get(path) != (size, mtime):
            out["data" if _is_data(root, path) else "metadata"] += size
    return out


def _med(values) -> float:
    values = list(values)
    return stats.median(values) if values else 0.0


def _mean(values) -> float:
    values = list(values)
    return sum(values) / len(values) if values else 0.0


def layer_metrics(run, ops, tracer: Tracer, event_log: str | None, disk: dict,
                  error_lines: int, overhead_pct: float) -> dict[str, tuple[float, str]]:
    m: dict[str, tuple[float, str]] = {}
    ok = [o for o in ops if o.ok]
    n_ops = max(len(ops), 1)

    m["session.build_ms"] = (run.setup["session_ms"], "ms")
    m["session.warmup_ms"] = (run.setup["warmup_ms"], "ms")

    # operators: registry queries (the ops that carry a module)
    q = [o for o in ok if o.module]
    build, exe = sum(o.build_ms for o in q), sum(o.exec_ms for o in q)
    m["operators.build_ms"] = (_med(o.build_ms for o in q), "ms")
    m["operators.build_jobs"] = (_mean(o.jobs.get("build", 0) for o in q), "count")
    m["operators.build_share"] = (build / (build + exe) if q else 0.0, "ratio")
    m["operators.exec_ms"] = (_med(o.exec_ms for o in q), "ms")
    m["operators.exec_jobs"] = (_mean(o.jobs.get("execute", 0) for o in q), "count")
    for mod in OPERATOR_MODULES:
        kinds = {o.kind for o in q if o.module == mod}
        total = sum(_med(o.ms for o in q if o.kind == k) for k in kinds)
        m[f"operators.{mod}.ms"] = (total, "ms")
    planned = [o.plan for o in ok if o.plan]
    m["plan.ms"] = (_med(p["ms"] for p in planned), "ms")
    m["plan.exchanges"] = (_mean(p["exchanges"] for p in planned), "count")
    m["plan.checkpoint_barriers"] = (_mean(p["barriers"] for p in planned), "count")

    # event log: summed over each op's job groups, averaged per op
    per_op = dict.fromkeys(eventlog.KEYS, 0.0)
    if event_log:
        groups = eventlog.parse_file(event_log)
        ids = {o.id for o in ops}
        for g, vals in groups.items():
            if g and g.rsplit("/", 1)[0] in ids:
                for k in eventlog.KEYS:
                    per_op[k] += vals[k]
    for key, name, unit in (
        ("scan_bytes", "scan.bytes", "bytes"),
        ("scan_records", "scan.records", "count"),
        ("scan_files", "scan.files", "count"),
        ("shuffle_write_bytes", "exchange.shuffle_write_bytes", "bytes"),
        ("shuffle_read_bytes", "exchange.shuffle_read_bytes", "bytes"),
        ("fetch_wait_ms", "exchange.fetch_wait_ms", "ms"),
        ("tasks", "exec.tasks", "count"),
        ("task_run_ms", "exec.task_run_ms", "ms"),
        ("gc_ms", "exec.gc_ms", "ms"),
        ("spill_bytes", "exec.spill_bytes", "bytes"),
        ("python_exec_ms", "python.exec_ms", "ms"),
        ("python_bytes_sent", "python.bytes_sent", "bytes"),
        ("python_bytes_received", "python.bytes_received", "bytes"),
    ):
        m[name] = (per_op[key] / n_ops, unit)

    # spans
    spans = tracer.spans
    by_id = {s.id: s for s in spans}
    kids = tracer.children()
    named = lambda n: [s for s in spans if s.name == n]  # noqa: E731
    sql_spans = named("policy.sql")
    m["policy.session_for_ms"] = (_med(s.ms for s in named("policy.session_for")), "ms")
    m["policy.sql_ms"] = (_med(s.ms for s in sql_spans
                               if not s.attrs["write"] and "error" not in s.attrs), "ms")
    auth = named("policy.authorize")
    m["policy.authorize_calls"] = (len(auth) / n_ops, "count")
    m["policy.authorize_ms"] = (_med(s.ms for s in auth), "ms")
    m["policy.deny_ms"] = (_med(s.ms for s in sql_spans
                                if s.attrs.get("error") == "AccessDeniedException"), "ms")
    m["policy.write_auth_ms"] = (_med(
        ms_excluding(s, kids, tracer, "sql_frontend.execute")
        for s in sql_spans if s.attrs["write"]), "ms")
    reads = outermost(spans, "warehouse.read_table", by_id)
    m["warehouse.read_table_ms"] = (_med(s.ms for s in reads), "ms")
    m["warehouse.read_table_calls"] = (len(reads) / n_ops, "count")
    for kind in COMMIT_METHODS.values():
        m[f"warehouse.commit_ms.{kind}"] = (_med(
            s.ms for s in outermost(spans, f"warehouse.commit.{kind}", by_id)), "ms")
    m["warehouse.metadata_emit_ms"] = (_med(
        s.ms for s in outermost(spans, "warehouse.metadata_emit", by_id)), "ms")
    m["warehouse.files_live"] = (disk.get("files_live", 0), "count")
    m["warehouse.snapshots"] = (disk.get("snapshots", 0), "count")
    m["warehouse.metadata_bytes"] = (disk.get("metadata_bytes", 0), "bytes")
    m["warehouse.data_bytes_written"] = (_mean(disk.get("data_written", ())), "bytes")
    m["warehouse.metadata_bytes_written"] = (_mean(disk.get("metadata_written", ())), "bytes")
    fe = named("sql_frontend.execute")
    m["sql_frontend.execute_ms"] = (_med(s.ms for s in fe), "ms")
    for cls in STATEMENT_CLASSES:
        m[f"sql_frontend.self_ms.{cls}"] = (_med(
            ms_excluding(s, kids, tracer, "warehouse.")
            for s in fe if s.attrs["cls"] == cls), "ms")
    drains = named("streaming.drain")
    m["streaming.drain_ms"] = (_med(s.ms for s in drains), "ms")
    m["streaming.batches"] = (_mean(s.attrs.get("batches", 0) for s in drains), "count")

    m["spark.jobs_per_op"] = (_mean(sum(o.jobs.values()) for o in ops), "count")
    m["spark.error_log_lines"] = (error_lines, "count")
    m["trace.overhead_pct"] = (overhead_pct, "%")
    return m


def count_error_lines(path: str) -> int:
    with open(path, errors="replace") as f:
        return sum(1 for line in f if _ERROR_RE.search(line))
