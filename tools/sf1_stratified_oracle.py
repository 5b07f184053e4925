"""Stratified / decomposed sf1 oracles for the three rows whose plain
DuckDB replays are intractable on this host (r10 VERDICT order #1):

- p_fuzzy_supplier_pairs   — oracle is DELIBERATELY all-pairs
  levenshtein (10k x 10k at sf1, >70 min single-node). Stratified:
  restrict the LEFT pair member to a deterministic stratum
  (k1 % S == s) on BOTH sides — each stratum is an EXACT all-pairs
  proof over 1/S of the pair space (uniform deterministic coverage;
  running all S strata composes to the full all-pairs proof).
- p_minhash_lsh_pairs      — oracle is exact all-pairs shingle
  Jaccard; the co-shingle pair intermediate OOMs at 70-90 GB RSS.
  Same stratification on id_a (the pair min-id): 1/S the
  intermediate per stratum, exact within the stratum.
- p_minhash_dedup_pipeline / p_leakage_safe_split (downstream) —
  given pair recall (above), the remaining unproven sf1 semantics
  are components → representative-keep → hash-bucket split. Verified
  EXACTLY at full sf1: the engine's pair list (2.5k rows at sf1) is
  exported and DuckDB independently replays the recursive-CTE
  reachability + representative + md5 bucket split over it, compared
  against the engine's end-to-end outputs. Combined with the stratum
  pair proofs this covers the composed plans with stated bounds.

Usage:
  python tools/sf1_stratified_oracle.py [sf_dir] \
      [--strata S] [--pick 0,1,...] [--check fuzzy,minhash,downstream]

Writes one PASS/FAIL line per check; exit 1 on any FAIL.
"""

from __future__ import annotations

import argparse
import os
import sys
import tempfile
import time

# the checkout this tool sits in
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

MINHASH_STRATUM_CTE = """
sh AS (
  SELECT doc_id,
    LIST_DISTINCT(LIST_TRANSFORM(
      GENERATE_SERIES(1, LEN(text)-4),
      i -> (ORD(text[i])*4362470401 + ORD(text[i+1])*16974593 +
            ORD(text[i+2])*66049 + ORD(text[i+3])*257 + ORD(text[i+4]))
           % 2147483647)) AS hs
  FROM documents WHERE LEN(COALESCE(text,'')) >= 5
), sizes AS (SELECT doc_id, LEN(hs) AS n FROM sh),
posting AS (SELECT doc_id, UNNEST(hs) AS h FROM sh),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS ni
  FROM posting a JOIN posting b USING (h)
  WHERE a.doc_id % {S} = {s} AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), mh_pairs AS (
  SELECT id_a, id_b
  FROM inter JOIN sizes sa ON sa.doc_id = id_a
             JOIN sizes sb ON sb.doc_id = id_b
  WHERE ni/(sa.n + sb.n - ni) >= 0.4
)
SELECT id_a, id_b FROM mh_pairs ORDER BY id_a, id_b
"""


def duck(sf_dir: str):
    import duckdb
    con = duckdb.connect()
    for t in ("supplier", "documents"):
        p = f"{sf_dir}/{t}.parquet"
        if os.path.isdir(p):
            p = f"{p}/*.parquet"
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    return con


def report(name: str, ok: bool, detail: str) -> bool:
    print(f"  {name:48s} {'PASS' if ok else 'FAIL'} {detail}",
          flush=True)
    return ok


def check_fuzzy(spark, con, sf_dir, S, picks) -> bool:
    from pyspark.sql import functions as F
    from zef_spark.pipeline.joins import fuzzy_join
    sup = spark.read.parquet(f"{sf_dir}/supplier.parquet") \
        .select("s_suppkey", "s_name")
    t0 = time.time()
    pairs = (fuzzy_join(sup, sup, "s_name", max_distance=2,
                        keep=["s_suppkey"])
             .where(F.col("s_suppkey_l") < F.col("s_suppkey_r"))
             .select(F.col("s_suppkey_l").alias("k1"),
                     F.col("s_suppkey_r").alias("k2"),
                     F.col("distance").cast("long").alias("d")))
    eng = {(r["k1"], r["k2"], r["d"]) for r in pairs.collect()}
    t_eng = time.time() - t0
    ok = True
    for s in picks:
        want = {(r[0], r[1], r[2]) for r in con.execute(f"""
            SELECT a.s_suppkey AS k1, b.s_suppkey AS k2,
                   levenshtein(a.s_name, b.s_name) AS d
            FROM supplier a JOIN supplier b
              ON a.s_suppkey < b.s_suppkey
            WHERE a.s_suppkey % {S} = {s}
              AND levenshtein(a.s_name, b.s_name) <= 2
        """).fetchall()}
        got = {p for p in eng if p[0] % S == s}
        ok &= report(
            f"p_fuzzy_supplier_pairs stratum {s}/{S}", got == want,
            f"({len(got)} pairs, engine {t_eng:.1f}s)"
            + ("" if got == want else
               f" missing={len(want - got)} extra={len(got - want)}"))
    return ok


def check_minhash(spark, con, sf_dir, S, picks) -> bool:
    from zef_spark.pipeline.dedup import minhash_lsh_pairs
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    t0 = time.time()
    pairs = minhash_lsh_pairs(docs, "text", "doc_id", num_perm=60,
                              bands=12, jaccard_threshold=0.4)
    eng = {(r["id_a"], r["id_b"]) for r in
           pairs.select("id_a", "id_b").collect()}
    t_eng = time.time() - t0
    ok = True
    for s in picks:
        t1 = time.time()
        want = {(r[0], r[1]) for r in con.execute(
            "WITH " + MINHASH_STRATUM_CTE.format(S=S, s=s)).fetchall()}
        got = {p for p in eng if p[0] % S == s}
        ok &= report(
            f"p_minhash_lsh_pairs stratum {s}/{S}", got == want,
            f"({len(got)} pairs, engine {t_eng:.1f}s, "
            f"oracle {time.time() - t1:.1f}s)"
            + ("" if got == want else
               f" missing={len(want - got)} extra={len(got - want)}"))
    return ok


def check_downstream(spark, con, sf_dir) -> bool:
    """Full-sf1 EXACT check of components/representative/split given
    the engine's pair list (pair recall proven by the strata above)."""
    import __spark_entry__ as e
    from zef_spark.pipeline.dedup import minhash_lsh_pairs
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pairs = minhash_lsh_pairs(docs, "text", "doc_id", num_perm=60,
                              bands=12, jaccard_threshold=0.4)
    with tempfile.TemporaryDirectory(prefix="sf1_pairs_") as d:
        pairs.select("id_a", "id_b").write.mode("overwrite") \
            .parquet(f"{d}/pairs")
        con.execute(f"CREATE VIEW eng_pairs AS SELECT * "
                    f"FROM '{d}/pairs/*.parquet'")
        base = """
        WITH RECURSIVE edges AS (
          SELECT id_a AS a, id_b AS b FROM eng_pairs
          UNION SELECT id_b, id_a FROM eng_pairs
        ), walk(id, lbl) AS (
          SELECT a, a FROM edges
          UNION
          SELECT e.a, w.lbl FROM edges e JOIN walk w ON w.id = e.b
        ), rep AS (SELECT id, MIN(lbl) AS cluster FROM walk GROUP BY id)
        """
        ok = True
        # dedup pipeline: drop everything but each cluster's min id
        t0 = time.time()
        want = con.execute(base + """
          , dropped AS (SELECT id FROM rep WHERE id > cluster)
          SELECT doc_id, lang FROM documents
          WHERE doc_id NOT IN (SELECT id FROM dropped)
          ORDER BY doc_id""").fetchall()
        got = [(r["doc_id"], r["lang"]) for r in
               e.QUERIES["p_minhash_dedup_pipeline"](spark, sf_dir)
               .collect()]
        ok &= report("p_minhash_dedup_pipeline sf1 (given pairs)",
                     got == [tuple(w) for w in want],
                     f"({len(got)} rows kept, {time.time() - t0:.1f}s)")
        # leakage-safe split: cluster-keyed md5 bucket assignment
        t0 = time.time()
        want = con.execute(base + """
          , keyed AS (
            SELECT d.doc_id, COALESCE(r.cluster, d.doc_id) AS split_key
            FROM documents d LEFT JOIN rep r ON r.id = d.doc_id
          ), b AS (
            SELECT doc_id, split_key,
              ('0x' || SUBSTR(MD5(CAST(split_key AS VARCHAR)
                                  || 'split_v1'), 1, 15))::BIGINT
              % 1000000 AS bkt
            FROM keyed)
          SELECT doc_id, split_key,
            CASE WHEN bkt < 800000 THEN 'train'
                 WHEN bkt < 900000 THEN 'val' ELSE 'test' END AS split
          FROM b ORDER BY doc_id""").fetchall()
        got = [(r["doc_id"], r["split_key"], r["split"]) for r in
               e.QUERIES["p_leakage_safe_split"](spark, sf_dir)
               .collect()]
        ok &= report("p_leakage_safe_split sf1 (given pairs)",
                     got == [tuple(w) for w in want],
                     f"({len(got)} rows, {time.time() - t0:.1f}s)")
    return ok


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("sf_dir", nargs="?", default="/root/repo/.scale/sf1")
    ap.add_argument("--strata", type=int, default=16)
    ap.add_argument("--pick", default="0,7,13")
    ap.add_argument("--check", default="fuzzy,minhash,downstream")
    args = ap.parse_args()
    picks = [int(x) for x in args.pick.split(",") if x != ""]
    from zef_spark.session import get_spark
    spark = get_spark()
    con = duck(args.sf_dir)
    ok = True
    checks = args.check.split(",")
    if "fuzzy" in checks:
        ok &= check_fuzzy(spark, con, args.sf_dir, args.strata, picks)
    if "minhash" in checks:
        ok &= check_minhash(spark, con, args.sf_dir, args.strata, picks)
    if "downstream" in checks:
        ok &= check_downstream(spark, con, args.sf_dir)
    print("ALL PASS" if ok else "FAILURES", flush=True)
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
