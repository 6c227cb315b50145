"""Physical-plan shape assertions: the scale properties the operators
advertise (shuffle counts, broadcast sides, pushed filters) are part of
their contract — a refactor that silently adds an exchange or drops a
parquet pushdown would still pass value-level tests but regress 100× at
cluster scale. These tests pin the plan, not the numbers.
"""

from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


def test_text_stats_are_scan_projections(spark):
    """repetition_stats / chunk_documents / quality exprs: ZERO exchanges —
    pure per-row work that must run at scan speed."""
    from incubator_paimon_spark.operators import text as TX
    d = _docs(spark)
    assert _plan(TX.repetition_stats(d, "text", "doc_id")).count("Exchange") == 0
    assert _plan(TX.chunk_documents(d, "text", "doc_id")).count("Exchange") == 0
    assert _plan(d.select(TX.quality_score(F.col("text")))).count("Exchange") == 0


def test_asof_join_single_exchange(spark):
    """union+window as-of join: exactly ONE shuffle (the window's key
    partitioning) and no nested-loop join anywhere."""
    from incubator_paimon_spark.operators.temporal import asof_join
    e = spark.read.parquet(f"{SF}/events.parquet")
    left = e.filter("event_type = 'purchase'").select("event_id", "user_id",
                                                      "ts", "value")
    right = e.filter("event_type = 'click'").select("user_id", "ts", "value")
    p = _plan(asof_join(left, right, ["user_id"], "ts", "ts",
                        right_cols=["value"]))
    assert p.count("Exchange") == 1
    assert "BroadcastNestedLoop" not in p and "CartesianProduct" not in p


def test_contamination_broadcasts_eval_side(spark):
    """the eval-set n-gram probe must be a broadcast hash join — a shuffled
    join here would exchange the exploded corpus n-grams."""
    from incubator_paimon_spark.operators import dedup as D
    d = _docs(spark)
    p = _plan(D.ngram_contamination(d, d.filter("doc_id % 20 = 0"),
                                    "text", "doc_id", n=5))
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_exact_dedup_single_shuffle(spark):
    from incubator_paimon_spark.operators import dedup as D
    p = _plan(D.exact_duplicates(_docs(spark), "text", "doc_id"))
    # one hash aggregate exchange on the 16-byte key; AQE may add a read
    # stage but never a second hash partitioning
    assert p.count("Exchange hashpartitioning") == 1


def test_parquet_filter_and_projection_pushdown(spark):
    """host-scan surface: predicate + column pruning must reach the parquet
    reader (PushedFilters + a narrow ReadSchema)."""
    d = spark.read.parquet(f"{SF}/lineitem.parquet")
    q = d.filter(F.col("l_orderkey") == 1).select("l_orderkey", "l_quantity")
    p = _plan(q)
    assert "PushedFilters: [IsNotNull(l_orderkey), EqualTo(l_orderkey,1)]" in p
    rs = [line for line in p.splitlines() if "ReadSchema" in line][0]
    assert "l_extendedprice" not in rs and "l_comment" not in rs


def test_pk_read_prunes_through_merge(spark, catalog):
    """projection pushdown THROUGH the merge-on-read window: reading two
    columns of a PK table must not scan every column."""
    cust = spark.read.parquet(f"{SF}/customer.parquet")
    t = catalog.create_table("ps.pk", cust.schema,
                             primary_keys=["c_custkey"],
                             options={"bucket": "2"})
    t.write(spark, cust)
    p = _plan(t.read(spark, projection=["c_custkey", "c_acctbal"]))
    rs = [line for line in p.splitlines() if "ReadSchema" in line]
    assert rs and all("c_comment" not in line and "c_address" not in line
                      for line in rs)


def test_knn_broadcasts_query_side(spark):
    from incubator_paimon_spark.operators import similarity as S
    e = spark.read.parquet(f"{SF}/embeddings.parquet")
    p = _plan(S.knn_join(e, e.limit(3), "embedding", k=2,
                         left_id="vec_id", right_id="vec_id"))
    assert "BroadcastNestedLoop" in p or "BroadcastHashJoin" in p \
        or "BroadcastExchange" in p


def test_minhash_lsh_join_is_bucketed(spark):
    """LSH candidates are formed inside (band, bucket-hash) buckets —
    never a cartesian/nested-loop over the corpus: the banded rows are
    hash-partitioned on those keys, and the signature kernel runs once
    (no second signature subtree feeding a self-join)."""
    from incubator_paimon_spark.operators import dedup as D
    p = _plan(D.minhash_lsh_pairs(_docs(spark), "text", "doc_id",
                                  num_hashes=16, bands=4))
    assert "CartesianProduct" not in p and "BroadcastNestedLoop" not in p
    assert "hashpartitioning(band#" in p
    assert p.count("minhash_sign(") == 1


def test_embedding_lsh_join_is_bucketed(spark):
    from incubator_paimon_spark.operators import dedup as D
    e = spark.read.parquet(f"{SF}/embeddings.parquet")
    p = _plan(D.embedding_near_dups(e, "embedding", "vec_id", dim=64))
    assert "CartesianProduct" not in p and "BroadcastNestedLoop" not in p


def test_span_dedup_no_cartesian_and_hash_keyed(spark):
    """duplicate-span removal joins on the 8-byte window hash and the doc
    id only — never a cartesian/nested-loop, and the raw text never rides
    an exchange (only word arrays pre-shuffle, hashes and positions
    through the shuffles)."""
    from incubator_paimon_spark.operators import dedup as D
    p = _plan(D.remove_duplicate_spans(_docs(spark), "text", "doc_id",
                                       span_words=10))
    assert "CartesianProduct" not in p and "BroadcastNestedLoop" not in p
    # every hash-partitioned exchange is keyed by hash or doc id, not text
    for line in p.splitlines():
        if "Exchange hashpartitioning" in line:
            assert "text#" not in line, line


def test_streaming_neardup_projection_is_staged(spark):
    """the claims projection must reference the STAGED signature column
    (one minhash evaluation), not inline the shingle pipeline once per
    hash function — the inlined form measured 25x slower per micro-batch
    (95 s vs 4 s at sf0.01)."""
    from incubator_paimon_spark.streaming.stateful import (
        streaming_neardup_claims)
    d = _docs(spark)
    claims = streaming_neardup_claims(d, "text", "doc_id")
    # analyzed logical plan: the md5-shingle pipeline appears in ONE
    # projection only (the __hs stage); the optimizer must not have
    # collapsed it into 16 copies
    plan = claims._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("split(trim(text") <= 2, \
        "shingle pipeline duplicated — staging collapsed"


def test_crosscorpus_neardup_joins_on_band_keys(spark):
    """cross-corpus LSH joins on (band, bucket-hash) only — no cartesian
    or nested-loop; the corpus text never appears in an exchange key."""
    from incubator_paimon_spark.operators import dedup as D
    d = _docs(spark)
    p = _plan(D.minhash_lsh_pairs_between(
        d.filter("doc_id % 10 = 0"), d.filter("doc_id % 10 <> 0"),
        "text", "doc_id"))
    assert "CartesianProduct" not in p and "BroadcastNestedLoop" not in p
    for line in p.splitlines():
        if "Exchange hashpartitioning" in line:
            assert "text#" not in line, line


def test_bm25_is_zero_shuffle_takeordered(spark):
    """BM25 (r15 shape): ONE tokenize pass into the persisted per-doc
    (id, dl, tf…) projection; scoring reads that cache — no exchange
    anywhere, top-k via TakeOrdered. materialize=False exposes the lazy
    scoring pipeline (the default returns a checkpointed ≤k-row local
    scan, same hygiene as semdedup)."""
    from incubator_paimon_spark.operators.retrieval import bm25_search
    lazy = bm25_search(_docs(spark), "text", "doc_id",
                       ["merge", "vector"], k=5, materialize=False)
    p = _plan(lazy)
    try:
        assert "Exchange" not in p, p
        assert "TakeOrderedAndProject" in p
        assert "InMemoryTableScan" in p  # scoring reads the slim cache
        pm = _plan(bm25_search(_docs(spark), "text", "doc_id",
                               ["merge", "vector"], k=5))
        assert "Scan ExistingRDD" in pm  # lineage-free, cache released
    finally:
        spark.catalog.clearCache()  # release materialize=False's persist


def test_line_stats_is_zero_shuffle(spark):
    from incubator_paimon_spark.operators.text import line_stats
    p = _plan(line_stats(_docs(spark), "text", "doc_id"))
    assert "Exchange" not in p, p


def test_semdedup_one_exchange_grouped_verdict(spark):
    """semdedup (r15 shape): the whole post-assignment stage is ONE
    exchange on centroid_id into the grouped-arrow verdict
    (FlatMapGroupsInArrow) — no per-cluster self-join, no distinct, no
    final verdict join, no persisted assignment (the pre-r15 shape had
    3 exchanges + an InMemoryRelation). No Cartesian anywhere."""
    from incubator_paimon_spark.operators.similarity import semdedup
    e = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet")
    # materialize=False exposes the LAZY pipeline — the default returns
    # a checkpointed scan whose plan hides the interior (r8 hygiene)
    lazy = semdedup(e, "embedding", "vec_id", num_centroids=4,
                    threshold=0.4, dim=64, materialize=False)
    p = _plan(lazy)
    assert "CartesianProduct" not in p
    assert "Join" not in p
    assert "FlatMapGroupsInArrow" in p
    exchanges = [line for line in p.splitlines() if "Exchange" in line]
    assert len(exchanges) == 1, p
    assert "centroid_id#" in exchanges[0], exchanges[0]
    # the DEFAULT (materialized) result is a lineage-free local scan
    pm = _plan(semdedup(e, "embedding", "vec_id", num_centroids=4,
                        threshold=0.4, dim=64))
    assert "Scan ExistingRDD" in pm


def test_cap_per_group_two_bounded_windows(spark):
    """cap_per_group: exactly the two window exchanges (salted
    sub-group, then group) and nothing else — no joins, no aggregates;
    the salt keys phase 1 so a mega-domain never lands in one task."""
    from incubator_paimon_spark.operators.sampling import cap_per_group
    d = _docs(spark)
    p = _plan(cap_per_group(d, "source", "doc_id", 10,
                            order_col="n_chars", salt=16))
    assert p.count("Exchange hashpartitioning") == 2
    assert "Join" not in p and "CartesianProduct" not in p
    # phase-1 partitioning must include the salt key alongside the
    # group column (the whole point of the two-phase shape) — Spark
    # projects the pmod into a _w0 window key before the exchange
    ex_lines = [ln for ln in p.splitlines()
                if "Exchange hashpartitioning" in ln]
    assert any("source#" in ln and "_w0#" in ln for ln in ex_lines), ex_lines
    # salt=1 collapses to the single plain window
    p1 = _plan(cap_per_group(d, "source", "doc_id", 10,
                             order_col="n_chars", salt=1))
    assert p1.count("Exchange hashpartitioning") == 1
