"""The benchmark's workloads: which requests one pass issues, on what data.

A request is a registry query name plus how it is issued:

- ``read``: ``QUERIES[name](spark, data_dir)`` built, then run to the
  noop sink.
- ``write``: a registry query that persists a store or a published table
  as part of building its frame (the ``*_roundtrip`` / append / publish
  queries), issued like a read. Its stored bytes are what it leaves in
  the benchmark's temp and scratch dirs.
- ``write`` with ``partition_by``: the query's frame goes through
  ``sources.writers.write_parquet`` instead of the noop sink, optionally
  after collecting a ``plans.dq.constraint_report`` over it.

``inputs`` names the tables a write reads, whose parquet bytes are the
denominator of ``stored_bytes_per_input_byte``.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass


@dataclass(frozen=True)
class Request:
    name: str
    kind: str = "read"
    inputs: tuple[str, ...] = ()
    partition_by: tuple[str, ...] | None = None
    # builds the plans.dq constraints checked before the write
    dq: Callable[[], list[tuple]] | None = None


@dataclass(frozen=True)
class Workload:
    name: str
    sf: float
    requests: tuple[Request, ...]
    # (module, kind) pairs built in setup, see run.build_store
    stores: tuple[tuple[str, str], ...] = ()


def _fact_constraints():
    from pyspark.sql import functions as F

    return [
        ("cicid_complete", "completeness", "cicid", 1.0),
        ("entry_month_valid", "satisfies", F.col("entry_month").between(1, 12), 1.0),
    ]


STAR_READS = (
    "top_nations_by_orders",
    "pricing_summary",
    "fact_denormalize",
    "tpch_q2_min_cost_supplier",
    "tpch_q5_local_supplier_volume",
    "tpch_q7_nation_trade_volume",
    "tpch_q9_profit_by_nation_year",
    "tpch_q21_waiting_suppliers",
)

SERVE_READS = (
    "knn_ivf_served",
    "retrieval_hybrid_rrf",
    "dedup_incremental_status_served",
    "bpe_encode_served",
)


def workloads() -> dict[str, Workload]:
    star = Workload(
        "star_etl",
        sf=0.02,
        requests=tuple(Request(q) for q in STAR_READS)
        + (
            Request(
                "immigration_etl_fact",
                kind="write",
                inputs=("orders",),
                partition_by=("entry_year", "entry_month"),
                dq=_fact_constraints,
            ),
            Request("publish_version_diff", kind="write", inputs=("orders",)),
        ),
    )
    serve = Workload(
        "store_serve",
        sf=0.02,
        requests=tuple(Request(q) for q in SERVE_READS)
        + (
            Request("embeddings_stream_index_append", kind="write", inputs=("embeddings",)),
        ),
        stores=(
            ("vectors", "flat"),
            ("dedupstore", "dedup"),
            ("pretrain", "bpe"),
        ),
    )
    return {w.name: w for w in (star, serve)}
