"""What a workload receives (``Ctx``) and how it counts its calls (``Ops``)."""

from __future__ import annotations

import time
from dataclasses import dataclass, field


@dataclass
class Ctx:
    spark: object
    run: object  # harness.Run
    tracer: object  # spans.Tracer or spans.NullTracer
    seed: int
    seconds: int
    scale: float = 1.0
    # roots of dead-letter tables: the traced run names their writes apart
    dlq_roots: set = field(default_factory=set)


class Ops:
    """Counts timed calls and the ones that raised or failed their check.

    ``timed`` returns the call's result and wall seconds; an exception
    marks the call failed and propagates (the run cannot go on from an
    unknown table state). ``check`` marks the most recent call failed
    when its output is wrong; a call counts as failed at most once."""

    def __init__(self):
        self.attempted = 0
        self._failed: set[int] = set()
        self.errors: list[str] = []

    @property
    def failed(self) -> int:
        return len(self._failed)

    def timed(self, fn):
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            out = fn()
        except Exception as e:
            self._failed.add(self.attempted)
            self.errors.append(f"call {self.attempted} raised {e!r}")
            raise
        return out, time.perf_counter() - t0

    def check(self, ok: bool, what: str) -> bool:
        if not ok:
            self._failed.add(self.attempted)
            self.errors.append(f"call {self.attempted}: {what}")
        return ok


def logical_bytes(doc_id: str, n_tok: int, source: str) -> int:
    """The user's bytes in one tokens row: the key and source text plus
    4 bytes per token and 4 for ``n_tok`` — the denominator of
    ``write_bytes_per_user_byte``."""
    return len(doc_id) + 4 * n_tok + 4 + len(source)


def logical_bytes_col():
    """``logical_bytes`` as a Spark column over a tokens-schema frame."""
    from pyspark.sql import functions as F

    return (
        F.length("doc_id") + F.lit(4) * F.col("n_tok") + F.lit(4) + F.length("source")
    ).cast("long")
