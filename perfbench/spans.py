"""In-memory spans for the traced run.

A span is one call into a layer: name, start, end, parent and a few
counts. Spans stay in memory and are written out once, when the run ends.
While a span is open, every Spark job the thread launches carries the
span's id as its job group, so the event log can be split per span
(``perfbench/eventlog.py``).

The library itself is not modified: ``install_wrappers`` replaces a few
of its functions with timing wrappers for the length of a traced run.
"""

from __future__ import annotations

import functools
import time
from contextlib import contextmanager

GROUP_PREFIX = "perfbench-span-"


class Tracer:
    def __init__(self, spark_context=None):
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._sc = spark_context

    def _set_group(self, sid: int | None) -> None:
        if self._sc is None:
            return
        if sid is None:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
            self._sc.setLocalProperty("spark.job.description", None)
        else:
            self._sc.setJobGroup(f"{GROUP_PREFIX}{sid}", self.spans[sid]["name"])

    @property
    def current(self) -> dict | None:
        return self.spans[self._stack[-1]] if self._stack else None

    @contextmanager
    def span(self, name: str, **attrs):
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
            "end": None,
            "attrs": dict(attrs),
        }
        self.spans.append(rec)
        self._stack.append(sid)
        self._set_group(sid)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)


class NullTracer:
    """Stands in for ``Tracer`` in the untraced run: spans cost nothing."""

    spans: tuple = ()
    current = None

    @contextmanager
    def span(self, name: str, **attrs):
        yield {"attrs": {}}


def self_times(spans: list[dict]) -> dict[int, float]:
    """Each span's duration minus the part of it its children cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        covered, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in sorted(children.get(s["id"], ())):
            lo, hi = max(lo, s["start"]), min(hi, s["end"])
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


def subtree_ids(spans: list[dict]) -> dict[int, list[int]]:
    """Span id -> ids of the span and all its descendants."""
    kids: dict[int, list[int]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append(s["id"])
    out = {}
    for s in spans:
        ids, stack = [], [s["id"]]
        while stack:
            i = stack.pop()
            ids.append(i)
            stack.extend(kids.get(i, ()))
        out[s["id"]] = ids
    return out


def install_wrappers(tracer: Tracer, dlq_roots: set[str]):
    """Time the library's inner calls from outside; returns an undo function.

    Wrapped: ``dedupe_against_ledger``, ``coerce_json`` and
    ``stage_dataframe`` as the ingest pipeline binds them,
    ``stage_dataframe`` in the writer module, ``Table.commit`` (with CAS
    attempts counted), ``Table.snapshot`` and ``prune_files``. Writes to a
    dead-letter table are named ``ingest.dlq.*`` so they stay apart from
    the data path."""
    from kafka_delta_ingest_spark.plans import pruning
    from kafka_delta_ingest_spark.streaming import micro_batch
    from kafka_delta_ingest_spark.table import format as table_format
    from kafka_delta_ingest_spark.table import writer

    Table = table_format.Table
    undo: list[tuple[object, str, object]] = []

    def patch(owner, attr, make):
        orig = getattr(owner, attr)
        undo.append((owner, attr, orig))
        setattr(owner, attr, functools.wraps(orig)(make(orig)))

    def is_dlq(table) -> bool:
        return getattr(table, "root", None) in dlq_roots

    def plain(name):
        def make(orig):
            def wrapper(*a, **kw):
                with tracer.span(name):
                    return orig(*a, **kw)

            return wrapper

        return make

    def stage(orig):
        def wrapper(spark, table, *a, **kw):
            name = "ingest.dlq.stage_dataframe" if is_dlq(table) else "table.writer.stage_dataframe"
            with tracer.span(name) as rec:
                out = orig(spark, table, *a, **kw)
                adds = out[1]
                rec["attrs"]["files"] = len(adds)
                rec["attrs"]["bytes"] = sum(fe.size for fe in adds)
                return out

        return wrapper

    def commit(orig):
        def wrapper(self, *a, **kw):
            name = "ingest.dlq.commit" if is_dlq(self) else "table.format.commit"
            with tracer.span(name, attempts=0):
                return orig(self, *a, **kw)

        return wrapper

    def cas_write(orig):
        def wrapper(self, *a, **kw):
            cur = tracer.current
            if cur is not None and "attempts" in cur["attrs"]:
                cur["attrs"]["attempts"] += 1
            return orig(self, *a, **kw)

        return wrapper

    def prune(orig):
        def wrapper(files, *a, **kw):
            files = list(files)
            with tracer.span("plans.pruning.prune_files") as rec:
                kept = orig(files, *a, **kw)
                rec["attrs"].update(
                    files_in=len(files),
                    files_kept=len(kept),
                    rows_kept=sum(fe.num_records for fe in kept),
                )
                return kept

        return wrapper

    patch(micro_batch, "dedupe_against_ledger", plain("ingest.dedupe_against_ledger"))
    patch(micro_batch, "coerce_json", plain("ingest.coerce_json"))
    patch(micro_batch, "stage_dataframe", stage)
    patch(writer, "stage_dataframe", stage)
    patch(Table, "commit", commit)
    patch(Table, "_atomic_write_version", cas_write)
    patch(Table, "snapshot", plain("table.format.snapshot"))
    patch(pruning, "prune_files", prune)

    def restore() -> None:
        for owner, attr, orig in reversed(undo):
            setattr(owner, attr, orig)

    return restore
