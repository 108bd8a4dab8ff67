"""End-to-end and per-layer benchmark of the ingest → maintain → read loop.

Run ``python3 perfbench/run.py --workload {ingest,maintain}`` from
the repository root; see ``perfbench/README.md`` for the metrics.
"""
