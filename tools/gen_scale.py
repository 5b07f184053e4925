"""Deterministic scale-up fixture generator (r08 verdict order #1).

Produces sfN-sized parquet from the driver's sf0.1 fixtures by
replicating each fact table K times into DISJOINT key spaces, so the
empirical scaling curve of every headline query can be measured
beyond sf0.1 (the container has no network, so DuckDB's `tpch`
dbgen extension cannot be installed; this generator preserves the
driver fixtures' exact schemas and per-key distributions instead).

Construction per table (replica r = 0..K-1; r=0 is the original):
- region / nation: copied once — TPC-H dimensions are SF-invariant.
- customer / supplier / part / orders / lineitem / events: every id
  and foreign key shifts by r·10^9 (disjoint key spaces, int64-safe),
  so each replica is an independent shard with the SAME join fan-outs
  and per-key distributions as sf0.1 — exactly how larger TPC-H SFs
  behave (more customers, same orders-per-customer). Name-like
  strings get a replica suffix so string-keyed cardinalities scale
  with the data rather than collapsing into 10-way duplicates.
- documents: doc_id shifts; the TEXT gets a per-replica WORD
  BIJECTION — every word maps to a length-preserving md5-derived
  token keyed by (word, replica). Same word → same token within a
  replica, so every within-replica similarity relation survives
  (both members of a near-dup pair transform identically, word runs
  and byte offsets preserved), while NO word shares bytes across
  replicas — cross-replica shingle Jaccard collapses to ~0 and the
  near-dup workload scales K× linearly. The r09 first cut suffixed
  only ~30% of the vocabulary with "~r": cross-replica copies of a
  doc then shared most 5-byte shingles (measured avg J=0.645, some
  byte-identical), creating C(K,2)·n_docs artificial pairs — a
  QUADRATIC pair structure that showed up as α≈2 on the minhash
  scaling curve at sf5. Full substitution removes the class.
  (Truncated-md5 collisions can merge two same-length short words
  within a replica — rare, and only nudges within-replica Jaccard
  up; the oracle verifies whatever the corpus actually contains.)
- embeddings: vec_id shifts; the vector gets a CYCLIC DIMENSION
  ROTATION by r — a permutation is orthogonal, so all within-replica
  cosines are preserved exactly and cross-replica cosines decorrelate.

Usage: python tools/gen_scale.py <K> <out_dir> [src_dir]
  e.g.  python tools/gen_scale.py 10 /root/repo/.scale/sf1
"""

from __future__ import annotations

import os
import sys

# the checkout this tool sits in
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame, functions as F

SHIFT = 1_000_000_000  # disjoint id bands; K·1e9 « 2^63



def _replicas(df: DataFrame, k: int) -> DataFrame:
    """Cross join with a replica index column __r (0..k-1)."""
    spark = df.sparkSession
    r = spark.range(k).select(F.col("id").cast("int").alias("__r"))
    return df.crossJoin(F.broadcast(r))


def _shift(col: str):
    return (F.col(col) + F.col("__r").cast("long") * SHIFT).alias(col)


def _suffix(col: str):
    """Replica-tagged string (replica 0 keeps the original value)."""
    return (F.when(F.col("__r") == 0, F.col(col))
            .otherwise(F.concat(F.col(col), F.lit("_r"),
                                F.col("__r").cast("string")))
            .alias(col))


def gen(spark, k: int, out_dir: str,
        src_dir: str = "/root/testdata/sf0.1") -> None:
    os.makedirs(out_dir, exist_ok=True)
    rd = lambda t: spark.read.parquet(f"{src_dir}/{t}.parquet")

    def wr(df: DataFrame, t: str, n_files: int):
        (df.repartition(n_files)
         .write.mode("overwrite").parquet(f"{out_dir}/{t}.parquet"))

    # dimensions: SF-invariant
    for t in ("region", "nation"):
        wr(rd(t), t, 1)

    c = _replicas(rd("customer"), k)
    wr(c.select(_shift("c_custkey"), _suffix("c_name"), "c_nationkey",
                "c_acctbal", "c_mktsegment"), "customer", max(1, k // 2))

    s = _replicas(rd("supplier"), k)
    wr(s.select(_shift("s_suppkey"), _suffix("s_name"), "s_nationkey",
                "s_acctbal"), "supplier", 1)

    p = _replicas(rd("part"), k)
    wr(p.select(_shift("p_partkey"), _suffix("p_name"), "p_brand",
                "p_type", "p_size", "p_retailprice"), "part",
       max(1, k // 2))

    o = _replicas(rd("orders"), k)
    wr(o.select(_shift("o_orderkey"), _shift("o_custkey"),
                "o_orderstatus", "o_totalprice", "o_orderdate",
                "o_orderpriority"), "orders", 2 * k)

    li = _replicas(rd("lineitem"), k)
    wr(li.select(_shift("l_orderkey"), _shift("l_partkey"),
                 _shift("l_suppkey"), "l_linenumber", "l_quantity",
                 "l_extendedprice", "l_discount", "l_tax",
                 "l_returnflag", "l_linestatus", "l_shipdate"),
       "lineitem", 4 * k)

    ev = _replicas(rd("events"), k)
    wr(ev.select(_shift("event_id"), "ts", _shift("user_id"),
                 "event_type", "value", "props"), "events", 2 * k)

    # documents: per-replica full-vocabulary word bijection (see
    # module docstring) — length-preserving md5 rename keyed by
    # (word, replica); replica 0 keeps the original text
    d = _replicas(rd("documents"), k)
    tagged = F.when(
        F.col("__r") == 0, F.col("text")
    ).otherwise(F.array_join(F.transform(
        F.split(F.col("text"), " "),
        lambda w: F.when(F.length(w) == 0, w).otherwise(
            F.substring(
                F.concat(F.md5(F.concat(
                    w, F.lit("|"), F.col("__r").cast("string"))),
                         F.md5(w)),
                F.lit(1), F.length(w)))), " "))
    wr(d.select(_shift("doc_id"), tagged.alias("text"), "lang",
                "source",
                F.length(tagged).cast("long").alias("n_chars")),
       "documents", max(1, k // 2))

    # embeddings: cyclic dimension rotation by replica index
    e = _replicas(rd("embeddings"), k)
    dim = len(rd("embeddings").select("embedding").first()[0])
    rot = F.when(F.col("__r") == 0, F.col("embedding")).otherwise(
        F.concat(
            F.slice(F.col("embedding"), F.col("__r") + 1,
                    F.lit(dim) - F.col("__r")),
            F.slice(F.col("embedding"), F.lit(1), F.col("__r"))))
    wr(e.select(_shift("vec_id"), rot.alias("embedding"), "label"),
       "embeddings", max(1, k // 4))


def main():
    from zef_spark import get_spark
    k = int(sys.argv[1])
    out_dir = sys.argv[2]
    src = sys.argv[3] if len(sys.argv) > 3 else "/root/testdata/sf0.1"
    spark = get_spark("gen_scale")
    spark.sparkContext.setLogLevel("ERROR")
    gen(spark, k, out_dir, src)
    for t in ("region", "nation", "customer", "supplier", "part",
              "orders", "lineitem", "events", "documents",
              "embeddings"):
        n = spark.read.parquet(f"{out_dir}/{t}.parquet").count()
        print(f"{t:12s} {n:>12,d}")


if __name__ == "__main__":
    main()
