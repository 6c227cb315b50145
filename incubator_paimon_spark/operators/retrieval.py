"""Lexical retrieval over the documents table: BM25 scoring/search.

Okapi BM25 with the Lucene idf variant (Robertson & Zaragoza 2009; the
`(N - df + 0.5)/(df + 0.5)` log form with +1 to keep idf positive). The
corpus statistics the formula needs (N, average doc length, per-term
document frequency) are ONE aggregate pass — |terms| + 2 counters,
map-side combined, collected to the driver as scalars (control-plane
sized at any corpus scale). Scoring is then a pure Column projection
over the scan (tf per query term via `filter`/`size` on the token
array — JVM-side, zero shuffle), and top-k is Spark's
TakeOrderedAndProject, so a BM25 search over 100 TB of documents costs
one stats pass + one scan.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .text import quantize, words


def bm25_corpus_stats(df: DataFrame, text_col: str,
                      query_terms: list[str]) -> tuple[int, float, dict]:
    """(N, avgdl, {term: df}) in one aggregate pass; terms are matched
    lowercase whole-token and the returned dict is keyed lowercase."""
    terms = [t.lower() for t in query_terms]
    ws = F.transform(words(F.col(text_col)), lambda w: F.lower(w))
    aggs = [F.count(F.lit(1)).alias("n"),
            F.avg(F.size(ws)).alias("avgdl")]
    for i, t in enumerate(terms):
        aggs.append(F.sum(F.array_contains(ws, t).cast("int"))
                     .alias(f"df{i}"))
    row = df.agg(*aggs).collect()[0]
    return (row["n"], float(row["avgdl"] or 0.0),
            {t: row[f"df{i}"] or 0 for i, t in enumerate(terms)})


def _term_eq(t: str):
    # closure factory: a defaulted lambda param would be taken as the
    # HOF's (element, index) second argument
    return lambda w: w == t


def bm25_search(df: DataFrame, text_col: str, id_col: str,
                query_terms: list[str], k: int = 10,
                k1: float = 1.2, b: float = 0.75,
                materialize: bool = True) -> DataFrame:
    """Top-k documents by BM25: (id, score). Deterministic ties by id.

    One tokenize pass per row, total (r15): the corpus is projected once
    to (id, dl, per-term tf) — the word array let-bound in its own
    projection so each tf filter reads a bound column — and that slim
    relation is persisted; the stats aggregate (N, avgdl, per-term df =
    Σ tf>0, identical values to bm25_corpus_stats) and the scoring
    projection both read it. The pre-r15 shape re-evaluated the
    tokenize ~20× per row (once per term per tf, duplicated again
    between the pushed Filter and the Project — r15 plan audit) across
    TWO corpus passes. Scores are bit-identical: same tf/dl/df/N/avgdl
    values, same per-occurrence left-to-right float addition order.
    The top-k result (≤k rows) is materialized eagerly so the slim
    relation releases before returning (the semdedup checkpoint
    pattern); materialize=False returns the lazy scoring pipeline for
    plan inspection and leaves the per-doc persist PINNED — the caller
    owns releasing it."""
    from pyspark import StorageLevel

    from .text import bind

    terms: list[str] = []
    for t in query_terms:
        t = t.lower()
        if t not in terms:
            terms.append(t)
    ws = F.transform(words(F.col(text_col)), lambda w: F.lower(w))
    per_term = bind(ws, lambda wl: F.struct(
        F.size(wl).alias("dl"),
        *[F.size(F.filter(wl, _term_eq(t))).alias(f"tf{i}")
          for i, t in enumerate(terms)]))
    per_doc = (df.select(F.col(id_col).alias("id"), per_term.alias("pt"))
                 .select("id", "pt.*")
                 .persist(StorageLevel.MEMORY_AND_DISK))
    try:
        row = per_doc.agg(
            F.count(F.lit(1)).alias("n"), F.avg("dl").alias("avgdl"),
            *[F.sum((F.col(f"tf{i}") > 0).cast("int")).alias(f"df{i}")
              for i in range(len(terms))]).collect()[0]
        n, avgdl = row["n"], float(row["avgdl"] or 0.0)
        dfs = {t: row[f"df{i}"] or 0 for i, t in enumerate(terms)}
        score = F.lit(0.0)
        for t in query_terms:  # per OCCURRENCE, in query order — same
            t = t.lower()      # float addition order as pre-r15
            idf = math.log(1.0 + (n - dfs[t] + 0.5) / (dfs[t] + 0.5))
            tf = F.col(f"tf{terms.index(t)}").cast("double")
            denom = tf + k1 * (1.0 - b + b * F.col("dl").cast("double")
                               / F.lit(avgdl if avgdl else 1.0))
            score = score + F.lit(idf) * tf * (k1 + 1.0) / denom
        out = (per_doc.select("id", quantize(score, 4).alias("score"))
                      .filter(F.col("score") > 0)
                      .orderBy(F.col("score").desc(), F.col("id"))
                      .limit(k))
        if not materialize:
            return out  # persist deliberately left pinned (caller owns)
        out = out.localCheckpoint(eager=True)
    except BaseException:
        per_doc.unpersist()  # a failed action must not pin the cache
        raise
    per_doc.unpersist()
    return out


# ----------------------------------------------------------------------
def rrf_fuse(rankings: list[tuple[DataFrame, str]], k: int = 10,
             rrf_k: int = 60) -> DataFrame:
    """Reciprocal-rank fusion (Cormack, Clarke & Buettcher 2009) of
    already-truncated ranked lists. Each input is (df, score_col) where
    df has columns (id, score_col) and holds AT MOST the caller's
    per-ranker top-N — the ranks are recomputed here with a
    deterministic (score desc, id) row_number so fusion never depends
    on a DataFrame's (unstable) physical order.

    Returns (id, rrf_score, rank_0..rank_{m-1}); absent-from-a-list ids
    contribute nothing for that list (the standard RRF convention).

    Scale: the inputs are top-N lists (control-plane sized) — the
    single-partition row_number windows here are over ≤N rows each; the
    corpus-sized work happened inside the upstream searches."""
    from pyspark.sql import Window as W

    fused = None
    rank_cols = []
    for i, (df, score_col) in enumerate(rankings):
        w = W.orderBy(F.col(score_col).desc(), F.col("id"))
        r = df.select("id", F.row_number().over(w).alias(f"rank_{i}"))
        rank_cols.append(f"rank_{i}")
        fused = r if fused is None else fused.join(r, "id", "full")
    score = None
    for rc in rank_cols:
        term = F.coalesce(1.0 / (F.lit(rrf_k) + F.col(rc)), F.lit(0.0))
        score = term if score is None else score + term
    return (fused.select("id", quantize(score, 6).alias("rrf_score"),
                         *rank_cols)
                 .orderBy(F.col("rrf_score").desc(), F.col("id"))
                 .limit(k))


def hybrid_search(docs: DataFrame, embeddings: DataFrame, text_col: str,
                  id_col: str, vec_col: str, vec_id_col: str,
                  query_terms: list[str], query_vec: list[float],
                  k: int = 10, k_each: int = 20,
                  rrf_k: int = 60) -> DataFrame:
    """Hybrid retrieval: RRF fusion of BM25 (lexical) and exact-cosine
    (semantic) top-k_each lists — the standard curation / eval-set
    mining shape. Returns (id, rrf_score, rank_0=lexical,
    rank_1=semantic).

    The two searches are the engine's proven scale shapes (BM25 =
    stats pass + scoring projection + TakeOrdered; cosine = scan +
    TakeOrdered; swap in quantized/IVF variants for bigger corpora);
    fusion itself touches ≤ 2·k_each rows. `id_col` and `vec_id_col`
    must identify the same documents."""
    from .similarity import cosine_topk

    lex = bm25_search(docs, text_col, id_col, query_terms, k=k_each)
    sem = (cosine_topk(embeddings, vec_col, query_vec, k_each,
                       id_col=vec_id_col)
           .select(F.col(vec_id_col).alias("id"), "cosine"))
    return rrf_fuse([(lex, "score"), (sem, "cosine")], k=k, rrf_k=rrf_k)


# ----------------------------------------------------------------------
# Maintained BM25 postings index: lexical search whose per-query cost is
# O(postings of the query terms), not O(corpus)
# ----------------------------------------------------------------------
OPT_TERM_BUCKETS = "bm25-index.term-buckets"


def _term_bucket(term, buckets: int):
    from .dedup import h32
    return (h32(term) % buckets).cast("int")


def bm25_index_rows(df: DataFrame, text_col: str, id_col: str,
                    term_buckets: int = 64) -> DataFrame:
    """Postings rows for a batch of documents:
    (term_bucket, term, id, tf, dl) — one row per distinct (term, doc).
    dl rides along so scoring needs no doc-table join."""
    ws = F.transform(words(F.col(text_col)), lambda w: F.lower(w))
    return (df.select(F.col(id_col).alias("id"), F.size(ws).alias("dl"),
                      F.explode(ws).alias("term"))
              .groupBy("term", "id", "dl")
              .agg(F.count(F.lit(1)).alias("tf"))
              .select(_term_bucket(F.col("term"), term_buckets)
                      .alias("term_bucket"), "term", "id", "tf", "dl"))


def build_bm25_index(spark, catalog, name: str, df: DataFrame,
                     text_col: str, id_col: str,
                     term_buckets: int = 64):
    """Persist the corpus's postings as an engine PK table PARTITIONED
    by hash(term) % term_buckets, plus a sibling aggregation-engine
    stats table (sum of doc count / total length). The physical layout
    IS the inverted index: a search reads only its query terms'
    partitions (manifest-level pruning — the ivf_table_search idea
    applied to lexical retrieval), so BM25 over a 100 TB corpus stops
    paying the O(corpus) stats aggregate per query and touches
    |terms|/term_buckets of the postings. Returns
    (postings_table, stats_table)."""
    rows = bm25_index_rows(df, text_col, id_col, term_buckets)
    t_p = catalog.create_table(
        name, rows.schema, partition_keys=["term_bucket"],
        primary_keys=["term_bucket", "term", "id"],
        options={OPT_TERM_BUCKETS: str(term_buckets)})
    t_p.write(spark, rows)
    import pyspark.sql.types as T
    s_schema = T.StructType([T.StructField("k", T.StringType()),
                             T.StructField("n_docs", T.LongType()),
                             T.StructField("total_dl", T.LongType())])
    t_s = catalog.create_table(
        f"{name}_stats", s_schema, primary_keys=["k"],
        options={"bucket": "1", "merge-engine": "aggregation",
                 "fields.n_docs.aggregate-function": "sum",
                 "fields.total_dl.aggregate-function": "sum"})
    ws = F.transform(words(F.col(text_col)), lambda w: F.lower(w))
    t_s.write(spark, df.agg(F.lit("corpus").alias("k"),
                            F.count(F.lit(1)).alias("n_docs"),
                            F.sum(F.size(ws)).alias("total_dl")))
    return t_p, t_s


def update_bm25_index(spark, postings_table, stats_table,
                      df_batch: DataFrame, text_col: str, id_col: str):
    """Commit one ingest batch: upsert its postings (PK dedupe replaces
    re-ingested docs' rows) and add its count/length deltas to the
    stats table (sum aggregator folds them on read)."""
    buckets = int((postings_table.schema.options or {})[OPT_TERM_BUCKETS])
    postings_table.write(spark, bm25_index_rows(df_batch, text_col,
                                                id_col, buckets))
    ws = F.transform(words(F.col(text_col)), lambda w: F.lower(w))
    stats_table.write(spark, df_batch.agg(
        F.lit("corpus").alias("k"), F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(ws)).alias("total_dl")))


def bm25_search_indexed(spark, postings_table, stats_table,
                        query_terms: list[str], k: int = 10,
                        k1: float = 1.2, b: float = 0.75,
                        source_table=None,
                        consumer_id: str | None = None) -> DataFrame:
    """Top-k BM25 over the postings index: identical results to
    `bm25_search` over the full corpus (a document scoring 0 contains
    no query term, hence has no posting for any of them — exactly the
    rows the index read never produces).

    Cost shape: one 1-row stats read, one partition-pruned postings
    read (≤ |terms| of `term_buckets` partitions, verifiable via
    `new_scan().plan(...)` entry counts), one ≤|terms|-row df
    aggregate, and a (id → score) sum whose shuffle carries only
    matching docs. The corpus itself is never scanned.

    Passing `source_table` arms the staleness guard (r8 verdict #7): a
    foreign-process writer's commits leave the index lagging with no
    in-process hook to heal it — the guard compares the sync consumer
    against the source's latest snapshot and warns/fails per the
    postings table's ``index.staleness-check`` option."""
    import math

    from ..predicate import P
    if source_table is not None:
        from .sync import check_index_current
        check_index_current(
            source_table,
            consumer_id or f"index:{postings_table.name}",
            (postings_table.schema.options or {})
            .get("index.staleness-check", "warn"))

    buckets = int((postings_table.schema.options or {})[OPT_TERM_BUCKETS])
    terms = [t.lower() for t in query_terms]
    if not terms:
        # bm25_search([]) scores everything 0 and filters it out —
        # mirror that instead of crashing on an empty agg (r8 review)
        import pyspark.sql.types as T
        id_type = next(f.dataType for f in
                       postings_table.schema.spark_schema().fields
                       if f.name == "id")
        return spark.createDataFrame(
            [], T.StructType([T.StructField("id", id_type),
                              T.StructField("score", T.DoubleType())]))
    srows = stats_table.read(spark).collect()
    if not srows or not srows[0]["n_docs"]:
        # empty / never-committed index: no documents, no results
        import pyspark.sql.types as T
        id_type = next(f.dataType for f in
                       postings_table.schema.spark_schema().fields
                       if f.name == "id")
        return spark.createDataFrame(
            [], T.StructType([T.StructField("id", id_type),
                              T.StructField("score", T.DoubleType())]))
    srow = srows[0]
    n, avgdl = srow["n_docs"], (srow["total_dl"] or 0) / max(srow["n_docs"], 1)

    from pyspark import StorageLevel

    from .dedup import _h32_py
    tb = sorted({_h32_py(t) % buckets for t in terms})
    # the pruned postings feed TWO actions (per-term df counts, then the
    # score sum) — persist the ≤|query-term postings| rows so the
    # partition-pruned engine scan runs once, not twice (r15); released
    # after the ≤k-row result materializes eagerly
    post = postings_table.read(
        spark, predicate=P.isin("term_bucket", list(tb))) \
        .filter(F.col("term").isin(terms)) \
        .persist(StorageLevel.MEMORY_AND_DISK)
    try:
        return _bm25_score_indexed(post, terms, k, k1, b, n, avgdl)
    finally:
        post.unpersist()


def _bm25_score_indexed(post, terms, k, k1, b, n, avgdl):
    import math

    dfs = {r["term"]: r["df"] for r in
           post.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
               .collect()}
    # one pivoted sum per query-term OCCURRENCE (duplicated terms score
    # twice in bm25_search's loop), then add in term order: bit-for-bit
    # the same left-to-right float addition as the full-scan scorer —
    # a single groupBy sum would add contributions in shuffle order and
    # could differ in the last ulp
    tf = F.col("tf").cast("double")
    denom = tf + k1 * (1.0 - b + b * F.col("dl").cast("double")
                       / F.lit(avgdl if avgdl else 1.0))
    aggs = []
    for i, t in enumerate(terms):
        d = dfs.get(t, 0)
        idf = math.log(1.0 + (n - d + 0.5) / (d + 0.5))
        contrib = F.when(F.col("term") == t,
                         F.lit(idf) * tf * (k1 + 1.0) / denom)
        aggs.append(F.sum(contrib).alias(f"c{i}"))
    g = post.groupBy("id").agg(*aggs)
    score = F.lit(0.0)
    for i in range(len(terms)):
        score = score + F.coalesce(F.col(f"c{i}"), F.lit(0.0))
    return (g.select("id", quantize(score, 4).alias("score"))
             .filter(F.col("score") > 0)
             .orderBy(F.col("score").desc(), F.col("id"))
             .limit(k).localCheckpoint(eager=True))


def sync_bm25_index(spark, source_table, postings_table, stats_table,
                    text_col: str, id_col: str,
                    consumer_id: str | None = None, **kw) -> int:
    """Advance the postings index to the source table's latest snapshot
    by replaying its changelog. Unlike `update_bm25_index` (append-only
    ingest), this handles UPDATES and DELETES: a changed document's
    stale postings — terms its new text no longer contains — are
    retracted with -D rows (the postings PK (term, id) varies with
    content, so upserts alone would strand them), and the stats table
    receives NET deltas (negative for shrinkage; the sum aggregator
    folds either sign). Progress = a consumer on the source table."""
    from ..types import DELETE, INSERT, ROW_KIND
    from .sync import replay_changelog

    buckets = int((postings_table.schema.options or {})[OPT_TERM_BUCKETS])
    cid = consumer_id or f"index:{postings_table.name}"

    def apply(adds, removes, sid):
        up = bm25_index_rows(adds, text_col, id_col, buckets)
        old = bm25_index_rows(removes, text_col, id_col, buckets)
        stale = (old.join(up.select("term", "id"), ["term", "id"],
                          "left_anti")
                    .withColumn(ROW_KIND, F.lit(DELETE)))
        # identifier = source snapshot id: crash-replay is a no-op
        # commit, so the sum-aggregator stats can never double-count
        postings_table.write(
            spark, up.withColumn(ROW_KIND, F.lit(INSERT))
                     .unionByName(stale), commit_identifier=sid)
        ws = F.transform(words(F.col(text_col)), lambda w: F.lower(w))
        a = adds.agg(F.count(F.lit(1)), F.sum(F.size(ws))).collect()[0]
        r = removes.agg(F.count(F.lit(1)), F.sum(F.size(ws))).collect()[0]
        stats_table.write(spark, spark.createDataFrame(
            [("corpus", (a[0] or 0) - (r[0] or 0),
              (a[1] or 0) - (r[1] or 0))],
            stats_table.schema.spark_schema()), commit_identifier=sid)

    return replay_changelog(spark, source_table, cid, apply, **kw)


def hybrid_search_indexed(spark, postings_table, stats_table,
                          ivf_index_table, ivf_centroids_table,
                          query_terms: list[str],
                          query_vec: list[float], k: int = 10,
                          k_each: int = 20, rrf_k: int = 60,
                          nprobe: int | None = None,
                          vec_col: str = "embedding",
                          vec_id_col: str = "vec_id",
                          source_table=None,
                          consumer_id: str | None = None,
                          vec_source_table=None,
                          vec_consumer_id: str | None = None) -> DataFrame:
    """Hybrid retrieval where BOTH rankers run off maintained index
    tables: BM25 over the term-bucket-pruned postings index + ANN over
    the centroid-partitioned IVF table, fused with RRF. At
    nprobe=all this returns exactly `hybrid_search`'s result while
    touching only |query terms| postings partitions + nprobe IVF
    partitions — the per-query cost no longer scales with the corpus
    on either modality.

    Staleness guard (r9 verdict #1): `source_table` guards the BM25
    leg's postings index, `vec_source_table` the IVF leg — the two
    legs usually track DIFFERENT sources (documents vs embeddings), so
    each arms independently; mode comes from each index table's
    ``index.staleness-check`` option."""
    from .similarity import ivf_search_table

    # nprobe=None flows through to _probe_ids' no-limit path (exact
    # parity) — no extra count job, one centroids read (r8 review)
    lex = bm25_search_indexed(spark, postings_table, stats_table,
                              query_terms, k=k_each,
                              source_table=source_table,
                              consumer_id=consumer_id)
    sem = (ivf_search_table(spark, ivf_index_table, ivf_centroids_table,
                            vec_col, query_vec, k_each, nprobe=nprobe,
                            id_col=vec_id_col,
                            source_table=vec_source_table,
                            consumer_id=vec_consumer_id)
           .select(F.col(vec_id_col).alias("id"), "cosine"))
    return rrf_fuse([(lex, "score"), (sem, "cosine")], k=k, rrf_k=rrf_k)
