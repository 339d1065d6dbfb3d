"""Linearity audits for the two r10-new iterative operators at N×
scale (r10 verdict item 7):
alongside `scale_experiment.py`'s wall-clock ratios, count the
INTERMEDIATE volumes that would betray a super-linear plan — wall
clock on fixed cores saturates; these counts cannot.

- graph_label_propagation: the replica grows ORDERS 100× over the
  SAME part catalog (orderkeys shift, partkeys don't — parts are the
  dimension), so the measured shape is the more-traffic-same-catalog
  regime: pre-distinct pair volume (the edge-BUILD exchange) must grow
  100×, while the DISTINCT edge set saturates (the qualifying pairs
  already all appear at 1×) and therefore per-round label-join volume
  (= 2·|edges|) and max degree stay CONSTANT — i.e. only the one-time
  edge build pays for data growth; the iterative rounds do not. A
  node-growth regime (shifted partkeys) would instead scale edges
  linearly with disjoint-copy structure, linear by construction.
- cdc_stream_apply: table rows, per-batch compacted delta rows, and
  the per-batch rewrite volume (untouched + applied = rows written per
  micro-batch). All must scale linearly with copies; the per-batch
  window must stay delta-sized (it runs over the batch, not the
  table).

Usage: python tools/r11_scale_audit.py [--copies 100]
Prints one JSON line per operator: {"op": ..., base: {...}, scaled: {...},
ratios: {...}}.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

BASE_SF = "/root/testdata/sf0.1"


def lpa_metrics(spark, sf_dir: str) -> dict:
    from etl_8x8_spark.operators.graph import _TRI_MIN_QTY
    from etl_8x8_spark.sources.readers import load_table

    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_quantity") >= _TRI_MIN_QTY)
        .select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p"))
        .distinct()
    )
    a, b = li.alias("a"), li.alias("b")
    pre = a.join(
        b, (F.col("a.o") == F.col("b.o")) & (F.col("a.p") < F.col("b.p"))
    ).select(F.col("a.p").alias("u"), F.col("b.p").alias("v"))
    pre_distinct_pairs = pre.count()
    edges = pre.distinct().persist()
    n_edges = edges.count()
    deg = (
        edges.select(F.col("u").alias("n"))
        .unionAll(edges.select(F.col("v").alias("n")))
        .groupBy("n")
        .agg(F.count("*").alias("d"))
        .persist()
    )
    n_nodes = deg.count()
    max_deg = deg.agg(F.max("d")).first()[0]
    edges.unpersist()
    deg.unpersist()
    return {
        # one-time edge-build exchange: rows entering the distinct
        "edge_build_pairs": pre_distinct_pairs,
        "edges": n_edges,
        "nodes": n_nodes,
        "max_degree": int(max_deg),
        # per-round label-join output = one (node,label) candidate per
        # directed edge — the exchange volume each LPA round shuffles
        "round_join_rows": 2 * n_edges,
    }


def cdc_metrics(spark, sf_dir: str) -> dict:
    from etl_8x8_spark.operators.cdc import _CH_D, _CH_I, _CH_U1, _CH_U2
    from etl_8x8_spark.sources.readers import load_table

    old = load_table(spark, sf_dir, "orders").select("o_orderkey").persist()
    table_rows = old.count()

    def keys(residue: int) -> int:
        return old.filter(F.col("o_orderkey") % residue == 0).count()

    b1 = keys(_CH_U1) + keys(_CH_I)  # seq-1 updates + inserts
    b2 = keys(_CH_U2)
    b3 = keys(_CH_D)
    ins = keys(_CH_I)
    # rewrite volume per batch: untouched + applied survivors
    rw1 = table_rows - keys(_CH_U1) + b1  # inserts add rows
    t1 = table_rows + ins
    rw2 = t1 - b2 + b2
    rw3 = t1 - b3
    old.unpersist()
    return {
        "table_rows": table_rows,
        "batch_delta_rows": [b1, b2, b3],
        "batch_rewrite_rows": [rw1, rw2, rw3],
    }


def ratios(base: dict, scaled: dict) -> dict:
    out = {}
    for k, v in base.items():
        s = scaled[k]
        if isinstance(v, list):
            out[k] = [
                round(sv / bv, 1) if bv else None for bv, sv in zip(v, s)
            ]
        elif v:
            out[k] = round(s / v, 1)
        else:
            out[k] = None
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--copies", type=int, default=100)
    args = ap.parse_args()

    from etl_8x8_spark.session import get_spark
    from tools.scale_experiment import build_replica

    spark = get_spark(
        "r11_scale_audit",
        cpus="32",
        shuffle_partitions=min(max(32, 8 * args.copies), 256),
    )
    replica = build_replica(spark, args.copies)

    for op, fn in (("graph_label_propagation", lpa_metrics),
                   ("cdc_stream_apply", cdc_metrics)):
        base = fn(spark, BASE_SF)
        scaled = fn(spark, replica)
        print(
            json.dumps(
                {
                    "op": op,
                    "copies": args.copies,
                    "base": base,
                    "scaled": scaled,
                    "ratios": ratios(base, scaled),
                }
            ),
            flush=True,
        )


if __name__ == "__main__":
    main()
