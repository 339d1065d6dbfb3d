"""The benchmark's named workloads: which registry keys run, in which
order, on which generated inputs.

Each key list is a subset of its family, sized so that one warm pass
takes about ten seconds on a 4-core host: a run must fit its set-up, a
cold pass, two warm passes and the oracle check in about a minute.
Between them the two workloads call builders of every engine module
that layers.MODULES reports on.
"""

from __future__ import annotations

from dataclasses import dataclass


# Scale factor of one copy of the inputs (gen.table_rows): 60k lineitem
# rows, 10k events.
SF = 0.01


@dataclass(frozen=True)
class Workload:
    name: str
    keys: tuple[str, ...]
    copies: int = 1  # decorrelated copies of the base (gen.generate)
    scratch_per_pass: bool = False  # empty SPARK_GRAFT_SCRATCH for every pass


WORKLOADS = {
    w.name: w
    for w in (
        # Iterative loops, each run round by round to convergence or to
        # its round cap: k-core peeling (graph), k-means (similarity),
        # logistic-regression gradient descent (features) and duplicate
        # clusters by connected components (dedup). Eager per-round
        # jobs and driver build dominate, so job and stage counts set
        # the wall time.
        Workload(
            "loops",
            (
                "graph_k_core",
                "ml_kmeans_converged",
                "ml_logistic_regression_gd",
                "dedup_cluster_cc",
            ),
        ),
        # The reference's record dataflow over a two-file landing zone:
        # extract, verify (the Arrow Python UDF of jwt_verify), parse,
        # validate and enrich the records, transform the documents
        # (text quality, image-hash dedup), then load: a copy-on-write
        # MERGE committed to a transaction log, skipped when its commit
        # marker exists (so every pass gets an empty scratch dir), and a
        # CDC apply; last, a report over the landed line items (the
        # TPC-H Q1 pricing summary). The only workload that writes.
        Workload(
            "etl_ingest",
            (
                "qs_extract",
                "jwt_verify",
                "json_body_parse",
                "validate_numeric_reject",
                "join_broadcast_lookup",
                "text_quality_gopher",
                "multimodal_phash_dedup",
                "sink_txn_log_merge",
                "cdc_apply_changes",
                "sql_tpch_q1_shape",
            ),
            copies=2,
            scratch_per_pass=True,
        ),
    )
}
