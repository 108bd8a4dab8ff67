"""Per-layer metrics of a traced run, from its spans and Spark event log.

Only spans of the timed section count: those under a ``setup`` or
``warmup`` span are left out. A workload that does not reach a layer reports 0 for it.
"""

from __future__ import annotations

from perfbench import eventlog
from perfbench.host import median
from perfbench.spans import GROUP_PREFIX, self_times, subtree_ids

# name -> unit, in report order
PER_LAYER = {
    "streaming.ingest_batch.s": "s",
    "streaming.ingest_batch.jobs": "count",
    "streaming.ingest_batch.stages": "count",
    "streaming.ingest_batch.tasks": "count",
    "ingest.dedupe_against_ledger.s": "s",
    "ingest.coerce_json.s": "s",
    "ingest.dead_letters.rows": "count",
    "ingest.dlq_commit.s": "s",
    "table.writer.stage_dataframe.s": "s",
    "table.writer.stage_dataframe.jobs": "count",
    "table.writer.stage_dataframe.files": "count",
    "table.writer.stage_dataframe.bytes": "B",
    "table.format.commit.s": "s",
    "table.format.commit.attempts": "count",
    "table.format.snapshot.s": "s",
    "table.format.snapshot.calls": "count",
    "maintenance.optimize.bounds_s": "s",
    "maintenance.optimize.write_s": "s",
    "maintenance.optimize.stats_s": "s",
    "maintenance.optimize.commit_s": "s",
    "maintenance.optimize.jobs": "count",
    "maintenance.optimize.files_rewritten": "count",
    "maintenance.optimize.files_written": "count",
    "maintenance.merge.s": "s",
    "maintenance.merge.jobs": "count",
    "maintenance.merge.touched_files": "count",
    "maintenance.merge.untouched_files": "count",
    "maintenance.merge.rows_written_per_source_row": "ratio",
    "maintenance.expire.s": "s",
    "maintenance.gc.s": "s",
    "maintenance.gc.jobs": "count",
    "maintenance.gc.deleted": "count",
    "plans.pruning.prune_files.s": "s",
    "plans.pruning.files_kept_frac": "ratio",
    "table.scan.read.s": "s",
    "table.scan.rows_scanned_per_row_returned": "ratio",
    "lookup.range.s": "s",
    "sources.table_batch.s": "s",
    "sources.table_batch.tasks": "count",
    **{f"spark.{k}": u for k, u in (
        ("jobs", "count"),
        ("tasks", "count"),
        ("executor_run_s", "s"),
        ("executor_cpu_s", "s"),
        ("gc_s", "s"),
        ("shuffle_write_bytes", "B"),
        ("spill_bytes", "B"),
        ("max_task_share", "ratio"),
    )},
}

# span name -> fields reported as the median over its calls: wall (s) or
# a Spark count including the span's descendants
_TIMED = {
    "streaming.ingest_batch": ("s", "jobs", "stages", "tasks"),
    "ingest.dedupe_against_ledger": ("s",),
    "ingest.coerce_json": ("s",),
    "table.writer.stage_dataframe": ("s", "jobs"),
    "table.format.commit": ("s",),
    "table.format.snapshot": ("s",),
    "maintenance.optimize": ("jobs",),
    "maintenance.merge": ("s", "jobs"),
    "maintenance.expire": ("s",),
    "maintenance.gc": ("s", "jobs"),
    "plans.pruning.prune_files": ("s",),
    "table.scan.read": ("s",),
    "lookup.range": ("s",),
    "sources.table_batch": ("s", "tasks"),
}


def _timed_spans(spans: list[dict]) -> list[dict]:
    by_id = {s["id"]: s for s in spans}
    out = []
    for s in spans:
        p, in_setup = s, False
        while p is not None:
            if p["name"] in ("setup", "warmup"):
                in_setup = True
                break
            p = by_id.get(p["parent"]) if p["parent"] is not None else None
        if not in_setup:
            out.append(s)
    return out


def span_report(spans: list[dict], jobs: dict, stages: dict) -> list[dict]:
    """Every span with its self time and its Spark numbers, own jobs only
    and including its descendants'."""
    selfs = self_times(spans)
    tree = subtree_ids(spans)
    rows = []
    for s in spans:
        rows.append(
            {
                "id": s["id"],
                "name": s["name"],
                "parent": s["parent"],
                "start_s": s["start"],
                "dur_s": s["end"] - s["start"],
                "self_s": selfs[s["id"]],
                "attrs": s["attrs"],
                "spark_self": eventlog.group_totals(jobs, stages, [f"{GROUP_PREFIX}{s['id']}"]),
                "spark": eventlog.group_totals(
                    jobs, stages, [f"{GROUP_PREFIX}{i}" for i in tree[s["id"]]]
                ),
            }
        )
    return rows


def per_layer(report: list[dict], jobs: dict, stages: dict, workload_layer: dict) -> dict:
    timed = _timed_spans(report)
    timed_ids = {r["id"] for r in timed}
    by_name: dict[str, list[dict]] = {}
    for r in timed:
        by_name.setdefault(r["name"], []).append(r)
    out = dict.fromkeys(PER_LAYER, 0.0)

    for name, fields in _TIMED.items():
        rs = by_name.get(name, [])
        if not rs:
            continue
        for fld in fields:
            vals = [r["dur_s"] if fld == "s" else r["spark"][fld] for r in rs]
            out[f"{name}.{fld}"] = median(vals)

    def total(name, attr):
        return sum(r["attrs"].get(attr, 0) for r in by_name.get(name, []))

    out["table.writer.stage_dataframe.files"] = total("table.writer.stage_dataframe", "files")
    out["table.writer.stage_dataframe.bytes"] = total("table.writer.stage_dataframe", "bytes")
    commits = by_name.get("table.format.commit", [])
    if commits:
        attempts = total("table.format.commit", "attempts")
        out["table.format.commit.attempts"] = attempts / len(commits)
    out["table.format.snapshot.calls"] = len(by_name.get("table.format.snapshot", []))

    children: dict[int, list[dict]] = {}
    for r in timed:
        if r["parent"] is not None:
            children.setdefault(r["parent"], []).append(r)

    def descendants(r):
        stack = list(children.get(r["id"], ()))
        while stack:
            c = stack.pop()
            yield c
            stack.extend(children.get(c["id"], ()))

    batches = by_name.get("streaming.ingest_batch", [])
    if batches:
        out["ingest.dlq_commit.s"] = median(
            [sum(c["dur_s"] for c in descendants(b) if c["name"].startswith("ingest.dlq."))
             for b in batches]
        )
    prunes = by_name.get("plans.pruning.prune_files", [])
    files_in = sum(r["attrs"]["files_in"] for r in prunes)
    if files_in:
        out["plans.pruning.files_kept_frac"] = (
            sum(r["attrs"]["files_kept"] for r in prunes) / files_in
        )
    reads = by_name.get("table.scan.read", [])
    returned = sum(r["attrs"].get("rows", 0) for r in reads)
    if returned:
        scanned = sum(
            c["attrs"]["rows_kept"]
            for r in reads
            for c in descendants(r)
            if c["name"] == "plans.pruning.prune_files"
        )
        out["table.scan.rows_scanned_per_row_returned"] = scanned / returned

    whole = eventlog.group_totals(jobs, stages, [f"{GROUP_PREFIX}{i}" for i in timed_ids])
    for k in PER_LAYER:
        if k.startswith("spark."):
            out[k] = whole[k[len("spark."):]]

    for k, v in workload_layer.items():
        out[k] = v
    return out
