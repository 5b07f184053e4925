"""Corpus-construction operators for training-data pipelines:
clustering near-duplicates, deterministic sampling, sequence packing,
TF-IDF. All set-oriented DataFrame plans; the only iteration
(connected components) is min-label propagation with per-round
localCheckpoint — O(component diameter) rounds, the right regime for
near-dup graphs whose components are dense, shallow template
families. (For adversarial long-chain graphs the alternating
large-star/small-star formulation — Kiveris et al., "Connected
Components in MapReduce and Beyond", SoCC'14 — converges in
O(log^2 n) rounds; swap the loop body if that shape ever dominates.)

Extends the reference's wrangling surface
(python/zef/core/op_implementations/data_wrangling.py) the same way
pipeline/dedup.py does — operators the reference's users need at
corpus scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def dup_clusters(pairs: DataFrame, a_col: str = "id_a",
                 b_col: str = "id_b", max_rounds: int = 20) -> DataFrame:
    """(id, cluster) connected components over an undirected pair
    list — turns near-dup PAIRS (minhash/simhash/ngram output) into
    dedup GROUPS (keep min-id per cluster). cluster = min id reachable.

    Implementation: min-label propagation to convergence. Each round
    joins the current labels across the edge list and keeps the
    smaller label; rounds are O(diameter) for the propagation form —
    near-dup clusters are dense and shallow (template families), so
    convergence is 2-4 rounds in practice. localCheckpoint per round
    truncates lineage so the plan doesn't grow superlinearly. The
    driver holds only the one-row convergence count per round."""
    edges = (pairs.select(F.col(a_col).alias("a"), F.col(b_col).alias("b"))
             .where(F.col("a") != F.col("b")))
    # undirected: both directions once. LAZY checkpoint: the bounded
    # LogicalRDD exists at construction (later rounds build on it, not
    # on the growing pair-generation tree) but it materializes inside
    # round 1's convergence job instead of an extra eager job here.
    sym = (edges.unionByName(edges.select(F.col("b").alias("a"),
                                          F.col("a").alias("b")))
           .distinct().localCheckpoint(eager=False))
    labels = (sym.select(F.col("a").alias("id"))
              .distinct()
              .withColumn("cluster", F.col("id")))
    for _ in range(max_rounds):
        # candidate label for each node: min over neighbours' labels
        nbr = (sym.join(labels.withColumnRenamed("id", "b")
                        .withColumnRenamed("cluster", "nbr_cluster"), "b")
               .groupBy("a").agg(F.min("nbr_cluster").alias("nbr_min")))
        # carry the previous label through the round so ONE action per
        # round (count() of a filter of the lazily cut frame) both
        # materializes the checkpoint and answers convergence, with no
        # old-vs-new join. Measured: count() runs every partition, so no
        # backfill job follows; the former limit(1).count() launched
        # the same jobs (65 on an 8-node chain).
        new_pair = (labels.join(nbr.withColumnRenamed("a", "id"),
                                "id", "left")
                    .select("id", F.col("cluster").alias("__old"),
                            F.least(
                                F.col("cluster"),
                                F.coalesce(F.col("nbr_min"),
                                           F.col("cluster")))
                            .alias("cluster"))
                    .localCheckpoint(eager=False))
        changed = (new_pair.where(F.col("cluster") != F.col("__old"))
                   .count())
        labels = new_pair.select("id", "cluster")
        if changed == 0:
            break
    return labels


def dedup_keep_representative(df: DataFrame, pairs: DataFrame,
                              id_col: str = "doc_id") -> DataFrame:
    """Drop every near-duplicate except the min-id representative of
    its cluster: df minus (cluster members - cluster mins)."""
    clusters = dup_clusters(pairs)
    drop = clusters.where(F.col("id") != F.col("cluster")) \
        .select(F.col("id").alias(id_col))
    return df.join(drop, id_col, "left_anti")


def hash_sample(df: DataFrame, rate_num: int, rate_den: int,
                key_col: str, salt: str = "",
                method: str = "xxhash64") -> DataFrame:
    """Deterministic hash sampling: keep rows where
    pmod(hash(key || salt), rate_den) < rate_num. Unlike df.sample(),
    the decision is a pure function of the key — stable across runs/
    partitions/engines (reproducible corpus snapshots), and consistent
    across TABLES sharing the key (sample docs and their embeddings
    together with the same salt). method='xxhash64' (fast, JVM) or
    'md5' (bit-portable to any engine with md5, like fingerprint)."""
    if method == "md5":
        h = F.pmod(
            F.conv(F.substring(
                F.md5(F.concat(F.col(key_col).cast("string"),
                               F.lit(salt))), 1, 15), 16, 10)
            .cast("long"), F.lit(rate_den))
    else:
        h = F.pmod(F.xxhash64(F.col(key_col).cast("string"),
                              F.lit(salt)), F.lit(rate_den))
    return df.where(h < rate_num)


def stratified_hash_sample(df: DataFrame, key_col: str,
                           strata_col: str,
                           rates: dict[str, tuple[int, int]],
                           default: tuple[int, int] | None = None,
                           method: str = "xxhash64") -> DataFrame:
    """Per-stratum deterministic sampling (e.g. language rebalancing:
    keep 1/1 of 'de', 1/10 of 'en'). `rates` maps stratum value →
    (num, den); strata not listed keep `default` (or are dropped).
    method='xxhash64' (fast, JVM) or 'md5' (bit-portable to any
    engine with md5) — same pair as hash_sample; both are pure
    functions of (key, strata_col), so the kept set is stable across
    runs/partitions and consistent across tables sharing the key."""
    if method == "md5":
        hv = F.conv(F.substring(
            F.md5(F.concat(F.col(key_col).cast("string"),
                           F.lit(strata_col))), 1, 15), 16, 10) \
            .cast("long")
    else:
        hv = F.xxhash64(F.col(key_col).cast("string"),
                        F.lit(strata_col))
    h = lambda den: F.pmod(hv, F.lit(den))  # noqa: E731
    cond = F.lit(False)
    for value, (num, den) in rates.items():
        cond = cond | ((F.col(strata_col) == value) & (h(den) < num))
    if default is not None:
        num, den = default
        known = F.col(strata_col).isin(list(rates))
        cond = cond | (~known & (h(den) < num))
    return df.where(cond)


def _md5_rank(key_col: str, salt: str):
    """64-bit-portable deterministic rank: first 15 hex digits of
    md5(key||salt) as a long — bit-identical in any engine with md5
    (same expression family as hash_sample's method='md5')."""
    return F.conv(F.substring(
        F.md5(F.concat(F.col(key_col).cast("string"), F.lit(salt))),
        1, 15), 16, 10).cast("long")


def mixture_sample(df: DataFrame, strata_col: str, key_col: str,
                   weights: dict[str, float], total: int,
                   salt: str = "", exact: bool = False) -> DataFrame:
    """Sample a corpus to a target domain MIXTURE: stratum s gets
    floor(total * w_s / Σw) rows (capped by availability), chosen
    deterministically by md5 rank of the key — reproducible across
    runs and engines, and consistent across tables sharing the key.
    Strata not in `weights` are dropped.

    exact=False (the 100 TB path): two bounded passes — a count
    aggregate per stratum (domains ≪ rows), then a row-local keep
    decision `rank % c_s < n_s`; no data-row shuffle at all, per-
    stratum counts land within sampling noise of the target.
    exact=True: per-stratum row_number over the rank gives exact
    allocations, but each stratum sorts in ONE task — use it when
    every stratum fits a worker (report/validation scale), not on a
    5 TB domain."""
    wsum = float(sum(weights.values())) or 1.0
    alloc = {s: int(total * (w / wsum)) for s, w in weights.items()}
    rank = _md5_rank(key_col, salt)
    kept = df.where(F.col(strata_col).isin(list(weights)))
    n_col = F.lit(None).cast("long")
    for s, n in alloc.items():
        n_col = F.when(F.col(strata_col) == s, F.lit(n)).otherwise(n_col)
    if exact:
        from pyspark.sql import Window
        w = Window.partitionBy(strata_col).orderBy(rank, F.col(key_col))
        return (kept.withColumn("__rn", F.row_number().over(w))
                .where(F.col("__rn") <= n_col).drop("__rn"))
    counts = {r[0]: r[1] for r in
              kept.groupBy(strata_col).count().collect()}
    c_col = F.lit(None).cast("long")
    for s in alloc:
        c_col = F.when(F.col(strata_col) == s,
                       F.lit(counts.get(s, 0))).otherwise(c_col)
    # keep iff rank mod c_s < n_s: a pure row-local decision hitting
    # n_s/c_s of the stratum in expectation (exact under rank
    # uniformity), zero shuffle of data rows
    return kept.where(F.pmod(rank, F.greatest(c_col, F.lit(1)))
                      < F.least(n_col, c_col))


def split_corpus(df: DataFrame, key_col: str,
                 fracs: dict[str, float], salt: str = "",
                 out_col: str = "split") -> DataFrame:
    """Deterministic train/val/test assignment: the md5 rank of the
    key modulo 1e6 lands in cumulative-fraction buckets, so the split
    is a pure function of (key, salt) — reproducible across runs and
    engines, consistent across tables sharing the key (a doc and its
    embeddings land in the same split), and row-local (zero shuffle;
    at 100 TB it pipelines with the scan). Fractions are normalized;
    bucket edges are floor(cum·1e6), so every row gets exactly one
    label."""
    DEN = 1_000_000
    total = float(sum(fracs.values())) or 1.0
    bucket = F.pmod(_md5_rank(key_col, salt), F.lit(DEN))
    cum = 0.0
    expr = None
    edges = []
    for name, frac in fracs.items():
        cum += frac / total
        edges.append((name, int(cum * DEN)))
    # last edge is DEN by construction (cum == 1.0 after normalize)
    edges[-1] = (edges[-1][0], DEN)
    for name, hi in edges:
        cond = bucket < hi
        expr = F.when(cond, name) if expr is None else \
            expr.when(cond, name)
    return df.withColumn(out_col, expr)


def pack_sequences(df: DataFrame, id_col: str, tokens_col: str,
                   context_len: int,
                   order_col: str | None = None,
                   shard_col: str | None = None) -> DataFrame:
    """Assign documents to fixed-size training context windows:
    (id, n_tokens, pack_id, pack_offset) where pack_id groups docs
    whose cumulative token count fits the window (cumsum-bin packing —
    the streaming-order packing used for LM batch construction; docs
    longer than context_len get their own pack).

    `shard_col=None` packs over ONE total order; since r11 that
    global cumulative sum runs on the range-partitioned two-phase
    prefix engine (distkit global_cumsum) instead of a keyless
    single-partition window — identical values ((order, id) total
    order), fully partitioned plan, so even the "global" mode holds
    at scale. Pass `shard_col` to pack within shards instead: the
    window becomes partitionBy(shard).orderBy(order), a normal
    hash-partitioned shuffle with per-shard parallelism, and pack_id
    is made globally unique by offsetting each shard's local ids with
    the exclusive prefix-sum of per-shard pack counts (a broadcast of
    |shards| rows — tiny)."""
    from pyspark.sql import Window
    order = order_col or id_col
    n = F.least(F.col(tokens_col).cast("long"), F.lit(context_len))
    base = df.select(
        *([F.col(shard_col)] if shard_col else []),
        F.col(id_col), F.col(tokens_col).cast("long").alias("n_tokens"))
    if shard_col is None:
        from .distkit import global_cumsum
        n_base = F.least(F.col("n_tokens"), F.lit(context_len))
        return (global_cumsum(base, [order, id_col], n_base, "__cum")
                # GREATEST(..., 0): zero-token docs BEFORE the first
                # real token have cum=0 and would floor to pack -1
                .withColumn("pack_id",
                            F.greatest(
                                F.floor((F.col("__cum") - 1)
                                        / context_len), F.lit(0)))
                .withColumn("pack_offset",
                            (F.col("__cum") - n_base) % context_len)
                .drop("__cum"))
    w = Window.partitionBy(shard_col).orderBy(order) \
              .rowsBetween(Window.unboundedPreceding, 0)
    local = (base.withColumn("__cum", F.sum(n).over(w))
             # same GREATEST clamp as the global mode: a shard whose
             # leading docs have zero tokens would otherwise span
             # packs -1..m, making __n_packs off by one and COLLIDING
             # the next shard's first global pack id
             .withColumn("__local_pack",
                         F.greatest(
                             F.floor((F.col("__cum") - 1)
                                     / context_len), F.lit(0)))
             .withColumn("pack_offset",
                         (F.col("__cum") - n) % context_len)
             .drop("__cum"))
    counts = (local.groupBy(shard_col)
              .agg((F.max("__local_pack") + 1).alias("__n_packs")))
    offs = counts.withColumn(
        "__pack_base",
        F.coalesce(
            F.sum("__n_packs").over(
                Window.orderBy(shard_col)
                .rowsBetween(Window.unboundedPreceding, -1)),
            F.lit(0))).drop("__n_packs")
    return (local.join(F.broadcast(offs), shard_col)
            .withColumn("pack_id",
                        F.col("__pack_base") + F.col("__local_pack"))
            .drop("__local_pack", "__pack_base"))


def tf_idf(df: DataFrame, id_col: str, text_col: str,
           min_df: int = 1, top_k: int | None = None) -> DataFrame:
    """(id, token, tf, df, tf_idf) — classic smoothed
    ln(1 + N/df) weighting over \\W+ tokens. Two shuffles: token
    explode → (token) df-count, then per-doc weighting; `top_k` keeps
    the k highest-weighted tokens per doc (window, one more shuffle).
    The corpus size N enters as a 1-row broadcast crossJoin (same
    pattern as text.unigram_logprob) — no eager driver collect, so
    the whole thing stays a single lazy plan."""
    toks = F.explode(F.filter(F.split(F.lower(F.col(text_col)),
                                      r"\W+"), lambda t: t != ""))
    posting = (df.select(F.col(id_col), toks.alias("token"))
               .groupBy(id_col, "token")
               .agg(F.count(F.lit(1)).alias("tf")))
    n_docs = df.agg(F.count(F.lit(1)).cast("double").alias("__n_docs"))
    dfreq = (posting.groupBy("token")
             .agg(F.count(F.lit(1)).alias("df"))
             .where(F.col("df") >= min_df))
    out = (posting.join(dfreq, "token")
           .crossJoin(F.broadcast(n_docs))
           .withColumn("tf_idf",
                       F.round(F.col("tf") *
                               F.log(1.0 + F.col("__n_docs") /
                                     F.col("df")), 6))
           .drop("__n_docs"))
    if top_k is not None:
        from pyspark.sql import Window
        w = Window.partitionBy(id_col).orderBy(
            F.col("tf_idf").desc(), "token")
        out = (out.withColumn("__rk", F.row_number().over(w))
               .where(F.col("__rk") <= top_k).drop("__rk"))
    return out.select(id_col, "token", "tf", "df", "tf_idf")


def domain_stats(df: DataFrame, source_col: str = "source",
                 size_col: str = "n_chars",
                 lang_col: str = "lang") -> DataFrame:
    """Per-source corpus profile (doc count, char volume, language
    spread) — the first report a curation run produces. One hash agg
    keyed by source; at 100 TB the source key is the natural
    low-cardinality partitioner (domains ≪ docs), so this stays a
    single map-side-combined shuffle."""
    return (df.groupBy(source_col).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(size_col).alias("total_chars"),
        F.round(F.avg(size_col), 2).alias("avg_chars"),
        F.countDistinct(lang_col).alias("n_langs")))


def weighted_sample(df: DataFrame, weight_col: str, k: int,
                    key_col: str, salt: str = "",
                    by: str | list[str] | None = None) -> DataFrame:
    """Deterministic weighted sampling without replacement (top-k by
    importance): implements the Efraimidis-Spirtsos exponential-jitter
    scheme with a HASH uniform instead of rand() — priority
    -ln(u)/w with u = md5(key||salt) mapped to (0,1). Inclusion
    probabilities match weighted sampling without replacement, yet the
    draw is a pure function of (key, salt): reproducible across runs,
    engines, and co-sampled tables, exactly like hash_sample.

    Global form (by=None) is a TakeOrdered top-k — no full sort; the
    grouped form is one shuffle on `by` + row_number. Rows with
    non-positive weight are excluded (they have zero inclusion mass).
    """
    # u in (0,1]: (h + 1) / 2^60 over the first 15 md5 hex chars;
    # -ln(u)/w as the sort key, smallest first
    h = F.conv(F.substring(
        F.md5(F.concat(F.col(key_col).cast("string"), F.lit(salt))),
        1, 15), 16, 10).cast("double")
    u = (h + F.lit(1.0)) / F.lit(float(2 ** 60))
    pri = -F.log(u) / F.col(weight_col).cast("double")
    out = (df.where(F.col(weight_col) > 0)
           .withColumn("__pri", pri))
    if by is None:
        return out.orderBy("__pri").limit(k).drop("__pri")
    from pyspark.sql import Window
    by = [by] if isinstance(by, str) else list(by)
    w = Window.partitionBy(*by).orderBy("__pri")
    return (out.withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") <= k).drop("__pri", "__rn"))


from .._registry import register_op  # noqa: E402


@register_op("weighted_sample", "df")
def _weighted_sample(df, weight_col, k, key_col, salt="", by=None):
    return weighted_sample(df, weight_col, k, key_col, salt, by)


def bm25(df: DataFrame, id_col: str, text_col: str,
         query_terms: list[str], k1: float = 1.2, b: float = 0.75,
         digits: int = 6) -> DataFrame:
    """(id, n_matched, score) — Okapi BM25 of each document against a
    fixed bag of query terms (Robertson & Zaragoza 2009):

        score(d) = Σ_t  ln(1 + (N - df_t + 0.5)/(df_t + 0.5))
                        · tf · (k1+1) / (tf + k1·(1 - b + b·dl/avgdl))

    Plan shape (the search-index scoring pass, run corpus-wide):
    one explode → posting agg keyed by (doc, token), FILTERED to the
    query terms before any shuffle (the posting that reaches the agg
    is |terms|-bounded per doc, not vocabulary-sized); per-term df
    and the corpus totals (N, avgdl) ride in as broadcast 1-row /
    |terms|-row sides — zero driver collects, one lazy plan. Only
    docs matching ≥1 term survive (score of the rest is 0).

    Terms are matched case-insensitively: documents tokenize
    lowercased, so the query bag is lowercased here too (a
    mixed-case term would otherwise silently score zero).

    r12 (guide §1.2/§2.4, "remove shuffles outright"): with a BOUNDED
    query bag (the search case — every caller passes a handful of
    terms) the posting list is unnecessary: per-term tf is a native
    array expression per document (dl − |array_remove(toks, t)|), so
    the whole query runs with ZERO data shuffles — one narrow per-doc
    pass (id, dl, tf per term; persisted), ONE 1-row aggregate
    producing N/avgdl/df_t together, broadcast back, and a row-local
    score assembly. The former plan paid a (doc, token) hash-agg
    exchange, a df re-agg, and a token broadcast join. Values are
    identical: the same per-(doc,term) idf·norm products are summed
    per doc (proven bit-equal vs the posting path and strict against
    the oracle). Unbounded term lists (> 32) keep the posting plan."""
    if not query_terms:
        raise ValueError("bm25: query_terms must be a non-empty list")
    # dedupe after lowercasing: the posting path collapsed duplicate
    # terms via its (doc, token) group key; the per-term columns must
    # not count a repeated term twice
    query_terms = list(dict.fromkeys(t.lower() for t in query_terms))
    toks = F.filter(F.split(F.lower(F.col(text_col)), r"\W+"),
                    lambda t: t != "")
    from pyspark import StorageLevel
    if len(query_terms) > 32:
        return _bm25_posting(df, id_col, text_col, query_terms,
                             k1, b, digits, toks)
    k = len(query_terms)
    # (measured, guide §1: no spread_scan here — the tokenize+tf
    # kernel is 0.17 s single-task at sf0.1, so a round-robin
    # repartition only added a shuffle + a stage: 0.55 s → 0.79 s.
    # At warehouse scale many row groups parallelize the scan anyway.)
    # stage the token array in its own projection: CollapseProject
    # keeps non-cheap aliases referenced more than once staged, so
    # the regex tokenization runs ONCE per row, not once per term
    tokenized = df.select(F.col(id_col), toks.alias("__toks"))
    tf_cols = [
        (F.size("__toks")
         - F.size(F.array_remove("__toks", t))).alias(f"__tf{i}")
        for i, t in enumerate(query_terms)]
    base = (tokenized.select(
        F.col(id_col), F.size("__toks").alias("dl"), *tf_cols)
        .persist(StorageLevel.MEMORY_AND_DISK))
    totals = base.agg(
        F.count(F.lit(1)).cast("double").alias("__n"),
        F.avg("dl").alias("__avgdl"),
        *[F.sum((F.col(f"__tf{i}") > 0).cast("long"))
          .alias(f"__df{i}") for i in range(k)])

    def idf(i):
        d = F.col(f"__df{i}")
        return F.log(F.lit(1.0) + (F.col("__n") - d + 0.5)
                     / (d + 0.5))

    def norm(i):
        tf = F.col(f"__tf{i}")
        return (tf * (k1 + 1.0)
                / (tf + k1 * (1.0 - b + b * F.col("dl")
                              / F.col("__avgdl"))))

    matched = None
    score = None
    for i in range(k):
        hit = F.col(f"__tf{i}") > 0
        m_i = hit.cast("int")
        s_i = F.when(hit, idf(i) * norm(i)).otherwise(0.0)
        matched = m_i if matched is None else matched + m_i
        score = s_i if score is None else score + s_i
    return (base.crossJoin(F.broadcast(totals))
            .where(matched > 0)
            .select(F.col(id_col),
                    matched.cast("long").alias("n_matched"),
                    F.round(score, digits).alias("score")))


def _bm25_posting(df: DataFrame, id_col: str, text_col: str,
                  query_terms: list[str], k1: float, b: float,
                  digits: int, toks) -> DataFrame:
    """Posting-list BM25 (the pre-r12 plan) for unbounded term lists:
    one explode → (doc, token) agg filtered to the query terms before
    any shuffle; df/totals ride in as broadcast sides."""
    from pyspark import StorageLevel
    base = (df.select(
        F.col(id_col),
        F.size(toks).alias("dl"),
        F.filter(toks, lambda t: t.isin(*query_terms))
        .alias("__qtoks"))
        .persist(StorageLevel.MEMORY_AND_DISK))
    totals = base.agg(F.count(F.lit(1)).cast("double").alias("__n"),
                      F.avg("dl").alias("__avgdl"))
    posting = (base.select(
        F.col(id_col), F.col("dl"),
        F.explode("__qtoks").alias("token"))
        .groupBy(id_col, "dl", "token")
        .agg(F.count(F.lit(1)).alias("tf")))
    dfreq = (posting.groupBy("token")
             .agg(F.count(F.lit(1)).alias("df")))
    idf = F.log(F.lit(1.0) + (F.col("__n") - F.col("df") + 0.5)
                / (F.col("df") + 0.5))
    norm = (F.col("tf") * (k1 + 1.0)
            / (F.col("tf") + k1 * (1.0 - b + b * F.col("dl")
                                   / F.col("__avgdl"))))
    return (posting.join(F.broadcast(dfreq), "token")
            .crossJoin(F.broadcast(totals))
            .groupBy(id_col)
            .agg(F.count(F.lit(1)).alias("n_matched"),
                 F.round(F.sum(idf * norm), digits).alias("score")))


def filter_funnel(df: DataFrame,
                  stages: list[tuple[str, "F.Column"]]) -> DataFrame:
    """(stage_idx, stage, n_docs) — survivor counts through a chain of
    curation filters, where each stage's predicate is applied ON TOP
    of all previous ones (the standard corpus-curation funnel report).

    ONE scan, zero joins: every stage count is a conditional
    aggregate of the cumulative AND of predicates, so a 10-stage
    funnel over 100 TB costs exactly one pass — not 10 filtered
    counts. The wide 1-row aggregate is unpivoted row-locally via
    explode-of-structs (Column literals, so a stage name with quotes
    can't break or inject into any SQL string)."""
    aggs = [F.count(F.lit(1)).alias("n_0")]
    acc = F.lit(True)
    for i, (_, pred) in enumerate(stages, start=1):
        acc = acc & pred
        aggs.append(F.sum(F.when(acc, 1).otherwise(0))
                    .cast("long").alias(f"n_{i}"))
    wide = df.agg(*aggs)
    names = ["input"] + [n for n, _ in stages]
    rows = F.explode(F.array(*[
        F.struct(F.lit(i).alias("stage_idx"),
                 F.lit(n).alias("stage"),
                 F.col(f"n_{i}").alias("n_docs"))
        for i, n in enumerate(names)])).alias("r")
    return wide.select(rows).select("r.*")


@register_op("bm25", "df")
def _bm25(df, id_col, text_col, query_terms, k1=1.2, b=0.75):
    return bm25(df, id_col, text_col, query_terms, k1, b)


@register_op("filter_funnel", "df")
def _filter_funnel(df, stages):
    return filter_funnel(df, stages)


def epoch_shuffle(df: DataFrame, key_col: str, epoch: int,
                  out_col: str = "epoch_pos") -> DataFrame:
    """Deterministic training-epoch shuffle: a dense position per row
    from the md5 rank of (key, epoch) — every epoch is a DIFFERENT
    but fully reproducible permutation (the standard between-epoch
    reshuffle of a pretraining dataloader, engine-portable so a
    restarted job or a different engine replays the same order).

    Plan (r11, de-scale-trapped): the dense position comes from the
    range-partitioned two-phase prefix engine (distkit
    global_row_number — repartitionByRange on the hash, per-range
    local row_number, ≤n_ranges broadcast offsets), NEVER a keyless
    window: the r08-r10 global `Window.orderBy(hash)` put every row
    on one task (found by the r11 keyless-window sweep). Values are
    identical (same total order, (hash, key) ties). A bonus at 100 TB:
    the output comes back range-partitioned BY the shuffled order —
    exactly the layout a training dataloader reads sequentially."""
    from .distkit import global_row_number
    h = F.md5(F.concat(F.col(key_col).cast("string"),
                       F.lit(f":epoch{epoch}")))
    return global_row_number(
        df.withColumn("__h", h), ["__h", key_col], out_col
    ).drop("__h")


@register_op("epoch_shuffle", "df")
def _epoch_shuffle(df, key_col, epoch, out_col="epoch_pos"):
    return epoch_shuffle(df, key_col, epoch, out_col)


def tfidf_topterms(df: DataFrame, id_col: str, text_col: str,
                   k: int = 3, digits: int = 6) -> DataFrame:
    """(id, term, rank, score) — each document's top-k terms by
    TF-IDF (tf · ln(N/df), the keyword-extraction baseline every
    search/labeling pipeline starts from). Plan: one (doc, token)
    posting agg → document frequencies as a second agg over the
    posting (vocabulary-sized, broadcastable) → row_number window
    per doc ordered by (score desc, term) so ties are
    deterministic. N rides in as a 1-row broadcast; nothing driver-
    side, nothing quadratic."""
    from pyspark.sql import Window
    toks = F.filter(F.split(F.lower(F.col(text_col)), r"\W+"),
                    lambda t: t != "")
    posting = (df.select(F.col(id_col),
                         F.explode(toks).alias("term"))
               .groupBy(id_col, "term")
               .agg(F.count(F.lit(1)).alias("tf")))
    dfreq = posting.groupBy("term").agg(
        F.count(F.lit(1)).alias("df"))
    n = df.agg(F.count(F.lit(1)).cast("double").alias("__n"))
    score = F.col("tf") * F.log(F.col("__n") / F.col("df"))
    w = (Window.partitionBy(id_col)
         .orderBy(F.desc("__score"), F.asc("term")))
    return (posting.join(dfreq, "term")
            .crossJoin(F.broadcast(n))
            .withColumn("__score", score)
            .withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select(id_col, "term", "rank",
                    F.round("__score", digits).alias("score")))


@register_op("tfidf_topterms", "df")
def _tfidf_topterms_op(df, *args, **kw):
    return tfidf_topterms(df, *args, **kw)


def leakage_safe_split(df: DataFrame, pairs: DataFrame, key_col: str,
                       fracs: dict[str, float], salt: str = "",
                       out_col: str = "split") -> DataFrame:
    """Train/val/test assignment in which near-duplicate documents
    can NEVER straddle a split boundary — the benchmark-leakage
    failure mode of a naive per-doc hash split (a test doc's
    near-copy in train inflates eval). The split key is the row's
    dedup-cluster representative (``dup_clusters`` min-id over the
    near-dup ``pairs``; rows in no cluster key on themselves), fed
    through the same md5-bucket assignment as ``split_corpus`` — so
    singleton rows get bit-identical labels to a plain split and
    whole clusters move together.

    Scale: one broadcast-or-shuffle join of df against the cluster
    table (|clusters| ≤ |near-dup rows|, typically ≪ |corpus|), then
    the row-local md5 bucket; the component computation itself is
    min-label propagation over the PAIR list only (dup_clusters —
    never touches payloads). Adds (out_col, split_key) columns."""
    clusters = dup_clusters(pairs).withColumnRenamed("id", "__cid")
    keyed = (df.join(clusters, df[key_col] == F.col("__cid"), "left")
             .drop("__cid")
             .withColumn("__skey",
                         F.coalesce(F.col("cluster"), F.col(key_col)))
             .drop("cluster"))
    return (split_corpus(keyed, "__skey", fracs, salt, out_col)
            .withColumnRenamed("__skey", "split_key"))


@register_op("leakage_safe_split", "df")
def _leakage_safe_split_op(df, pairs, *args, **kw):
    return leakage_safe_split(df, pairs, *args, **kw)


def negative_sample(positives: DataFrame, user_col: str,
                    item_col: str, k: int = 4,
                    vocab: DataFrame | None = None,
                    salt: str = "neg_v1") -> DataFrame:
    """(user, item, neg_item, neg_no, is_accidental_positive) — the
    contrastive-training pair generator: for every positive
    (user, item) row, k DETERMINISTIC negatives drawn uniformly from
    the item vocabulary by the bit-portable md5 idiom (draw j =
    vocab[md5(user:item:j:salt) mod |V|]) — reproducible across
    runs/engines, no RNG state, and any engine with md5 replays the
    exact draws. Accidental hits of the user's true positives are
    FLAGGED, not dropped (dropping would make output multiplicity
    data-dependent; filter on the flag if desired — the standard
    'sampled softmax with replacement' posture).

    Plan: vocabulary indexing is ONE row_number over the item
    dimension (vocab-sized — a dimension table, not the fact table);
    the k draws explode row-locally; negatives resolve by a hash
    join on the index (broadcast when the vocab fits); the flag is
    one left-semi-shaped join against the positives keyed by
    (user, item). Nothing quadratic, nothing user×vocab."""
    from pyspark.sql import Window
    spark = positives.sparkSession
    v = (vocab if vocab is not None
         else positives.select(F.col(item_col)).distinct())
    v = v.select(F.col(item_col).alias("__item"))
    # dense 0-based index over the (bounded) item dimension
    idx = (v.withColumn(
        "__idx", F.row_number().over(Window.orderBy("__item")) - 1))
    V = idx.count()  # control-plane scalar (dimension cardinality)
    if V == 0:
        # pmod(x, 0) is NULL → the join would silently return an
        # EMPTY frame; an empty vocabulary is caller error (r07
        # ADVICE).
        raise ValueError("negative_sample: empty item vocabulary — "
                         "nothing to draw negatives from")
    draws = F.array(*[
        F.struct(
            F.lit(j).alias("neg_no"),
            F.pmod(F.conv(F.substring(F.md5(F.concat(
                F.col(user_col).cast("string"), F.lit(":"),
                F.col(item_col).cast("string"), F.lit(f":{j}"),
                F.lit(salt))), 1, 15), 16, 10).cast("long"),
                F.lit(V)).alias("__idx"))
        for j in range(k)])
    exploded = (positives.select(
        F.col(user_col), F.col(item_col),
        F.explode(draws).alias("__d"))
        .select(user_col, item_col, "__d.neg_no", "__d.__idx"))
    # broadcast only when the vocab actually fits (r07 ADVICE: an
    # unconditional broadcast of a large item vocabulary OOMs
    # executors); past the threshold let AQE pick the join strategy.
    idx_side = F.broadcast(idx) if V <= 5_000_000 else idx
    resolved = (exploded.join(idx_side, "__idx")
                .withColumnRenamed("__item", "neg_item")
                .drop("__idx"))
    pos_keys = (positives.select(
        F.col(user_col), F.col(item_col).alias("neg_item"))
        .distinct().withColumn("__hit", F.lit(True)))
    return (resolved.join(pos_keys, [user_col, "neg_item"], "left")
            .withColumn("is_accidental_positive",
                        F.coalesce(F.col("__hit"), F.lit(False)))
            .drop("__hit"))


@register_op("negative_sample", "df")
def _negative_sample_op(df, *args, **kw):
    return negative_sample(df, *args, **kw)


def chunk_text(df: DataFrame, id_col: str, text_col: str,
               chunk_tokens: int = 128, overlap: int = 32) -> DataFrame:
    """(id, chunk_id, n_tokens, chunk) — the RAG/embedding-prep
    chunker: split each document into windows of ``chunk_tokens``
    whitespace tokens with ``overlap`` tokens carried between
    consecutive chunks (stride = chunk_tokens − overlap). The last
    chunk may be short; a document shorter than one window yields
    exactly one chunk; empty/NULL docs yield none. chunk_id is the
    0-based window index — (id, chunk_id) is the stable chunk key
    downstream embedding/indexing joins on.

    Tokenization is the plain whitespace split (NOT \\W+): chunk text
    must reassemble into the original byte content, so punctuation
    stays attached and chunks rejoin with single spaces.

    Plan: entirely ROW-LOCAL (split → sequence → transform/slice →
    explode) — no shuffle, no UDF; embarrassingly parallel at any
    corpus size. Chunk count per doc is ceil((n−overlap)/stride), so
    output rows ≈ input tokens / stride — linear in corpus bytes."""
    if overlap >= chunk_tokens:
        raise ValueError(
            f"overlap ({overlap}) must be < chunk_tokens "
            f"({chunk_tokens}) or the chunker cannot advance")
    stride = int(chunk_tokens) - int(overlap)
    toks = F.filter(F.split(F.col(text_col), r"\s+"),
                    lambda t: F.length(t) > 0)
    base = (df.where(F.col(text_col).isNotNull())
            .select(F.col(id_col), toks.alias("__ts"))
            .where(F.size("__ts") > 0))
    n = F.size("__ts")
    # window starts: 0, stride, 2·stride, … while start < n, but
    # never a window that adds no NEW token (start ≥ n − overlap
    # stops, except the first window) — sequence is 1-based here
    n_chunks = F.greatest(
        F.lit(1),
        F.ceil((n - F.lit(int(overlap)))
               / F.lit(float(stride))).cast("int"))
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.struct(
            i.alias("chunk_id"),
            F.slice(F.col("__ts"), i * stride + 1,
                    F.lit(int(chunk_tokens))).alias("__w")))
    out = (base.select(F.col(id_col),
                       F.explode(chunks).alias("__c"))
           .select(F.col(id_col),
                   F.col("__c.chunk_id").alias("chunk_id"),
                   F.size("__c.__w").alias("n_tokens"),
                   F.array_join("__c.__w", " ").alias("chunk")))
    return out


@register_op("chunk_text", "df")
def _chunk_text_op(df, *args, **kw):
    return chunk_text(df, *args, **kw)


def sample_k_per_group(df: DataFrame, by, k: int,
                       key_col: str, salt: str = "") -> DataFrame:
    """The first ``k`` rows of every group under the deterministic
    md5 order — the exact-quota companion to the rate-based
    stratified_sample: 'give me AT MOST k docs per language', stable
    across runs/partitions/engines (the order is a pure function of
    (key, salt), so reruns and resumes pick the SAME rows, and a
    second table sharing key_col + salt picks consistent partners).
    Keys must be unique per row (the md5 rank ties only on equal
    keys); pass a different salt to draw an independent quota.

    Relationship to ``weighted_sample``: this is semantically its
    unit-weight special case (Efraimidis-Spirtsos priority −ln(u)/1
    orders by u, i.e. by the hash), kept as its own face for the
    TOTAL-ORDER guarantee — the explicit (md5, key) tie-break makes
    the draw deterministic even under hash collisions, which the
    float-priority path cannot promise.

    Plan: ONE group-keyed window shuffle (row_number over the md5
    order), filter rank ≤ k — no sampling UDF, no second scan. The
    per-group sort is the shuffle's own; k does not affect shuffle
    size (a TOP-K per group at scale would add a partial windowed
    prune, which AQE does not yet do — acceptable: the full group
    had to shuffle for an exact quota anyway)."""
    from pyspark.sql import Window
    keys = [by] if isinstance(by, str) else list(by)
    rnk = F.md5(F.concat(F.col(key_col).cast("string"),
                         F.lit(str(salt))))
    w = Window.partitionBy(*keys).orderBy(rnk, F.col(key_col))
    return (df.withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") <= int(k)).drop("__rn"))


@register_op("sample_k_per_group", "df")
def _sample_k_op(df, *args, **kw):
    return sample_k_per_group(df, *args, **kw)
