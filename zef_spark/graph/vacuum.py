"""History retention for the eternal graph: `vacuum` compacts away
closed validity intervals older than a horizon — the Delta VACUUM /
Datomic-excision analogue for the bitemporal tables.

The eternal graph is append-only; at 100 TB years of closed SCD-2
rows dominate storage and (partition/row-group pruning aside) scan
planning. Vacuuming drops every interval row whose `valid_to_tx`
closed at or before the horizon tx: frames AT OR AFTER the horizon
read identically (their interval filter `valid_from <= t < valid_to`
can never match a row closed before the horizon), while time travel
to BEFORE the horizon becomes unavailable — the documented, loud
trade (`GraphSlice` construction below the horizon raises).

Plan shape: one predicate-only rewrite per table (no shuffle, no
join); on token-partitioned storage the rewrite prunes per partition
and untouched partitions are byte-identical.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from .graph import Graph


def vacuum(g: Graph, before_tx: int) -> Graph:
    """Drop rows whose validity CLOSED at or before `before_tx`.
    Open rows and rows closing after the horizon survive. The txs
    dimension keeps tx rows >= the horizon (plus the latest earlier
    tx so `at(time)` below-horizon resolution fails loudly rather
    than silently mis-binding). Returns a new Graph carrying a
    `vacuum_horizon` marker enforced by frame construction."""
    keep = (F.col("valid_to_tx").isNull()
            | (F.col("valid_to_tx") > before_tx))
    # attr_values history uses assigned/superseded interval names
    keep_av = (F.col("superseded_at_tx").isNull()
               | (F.col("superseded_at_tx") > before_tx))
    out = Graph(
        g.nodes.where(keep),
        g.edges.where(keep),
        g.attr_values.where(keep_av),
        g.txs.where(F.col("tx_id") >= before_tx),
        tags=(g.tags.where(keep) if g.tags is not None
              and "valid_to_tx" in g.tags.columns else g.tags))
    out.vacuum_horizon = before_tx
    out.schema_validator = g.schema_validator
    # the surviving rows keep their ids, VRTs and single assignment
    out.catalog = g.catalog
    return out


def vacuum_stats(g: Graph, before_tx: int) -> dict:
    """Row counts the vacuum would reclaim per table (dry run)."""
    dead = (F.col("valid_to_tx").isNotNull()
            & (F.col("valid_to_tx") <= before_tx))
    dead_av = (F.col("superseded_at_tx").isNotNull()
               & (F.col("superseded_at_tx") <= before_tx))
    return {
        "nodes": g.nodes.where(dead).count(),
        "edges": g.edges.where(dead).count(),
        "attr_values": g.attr_values.where(dead_av).count(),
    }
