"""Maintained MinHash signature index (operators/dedup_index.py):
index-backed candidate pairs must be bit-identical to the from-scratch
signature pass, and sync must track the source table's changelog
(adds, updates, deletes) through the consumer protocol."""

import pytest
from pyspark.sql import functions as F

from incubator_paimon_spark.operators import dedup as D
from incubator_paimon_spark.operators import dedup_index as DI

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


def _pairs(df):
    return {tuple(r) for r in df.collect()}


def test_index_backed_pairs_match_from_scratch(spark, catalog, docs):
    new = docs.filter(F.col("doc_id") % 10 == 0)
    base = docs.filter(F.col("doc_id") % 10 != 0)
    scratch = D.minhash_lsh_pairs_between(new, base, "text", "doc_id",
                                          num_hashes=16, bands=4,
                                          min_est_jaccard=0.5)
    t = DI.build_minhash_index(spark, catalog, "db.idx", base,
                               "text", "doc_id")
    bi = DI.read_minhash_index(spark, t, 16, 4, 3)
    indexed = D.minhash_lsh_pairs_between(new, None, "text", "doc_id",
                                          num_hashes=16, bands=4,
                                          min_est_jaccard=0.5,
                                          base_index=bi)
    assert _pairs(indexed) == _pairs(scratch)


def test_param_mismatch_is_loud(spark, catalog, docs):
    t = DI.build_minhash_index(spark, catalog, "db.idx8", docs,
                               "text", "doc_id", num_hashes=8, bands=4)
    with pytest.raises(ValueError, match="num_hashes=8"):
        DI.read_minhash_index(spark, t, num_hashes=16)
    # a non-index table is rejected outright
    plain = catalog.create_table("db.plain", docs.schema)
    with pytest.raises(ValueError, match="not a minhash index"):
        DI.index_params(plain)


def test_sync_tracks_adds_updates_deletes(spark, catalog, docs):
    """Three source commits after the initial build — pure adds, then a
    mixed update+delete commit — replayed through sync must leave the
    index identical to re-signing the final corpus state."""
    src = catalog.create_table(
        "db.docs_src", docs.select("doc_id", "text").schema,
        primary_keys=["doc_id"], options={"bucket": "2"})
    d2 = docs.select("doc_id", "text")
    src.write(spark, d2.filter(F.col("doc_id") % 2 == 0))
    idx = DI.build_minhash_index(spark, catalog, "db.docs_idx",
                                 src.read(spark), "text", "doc_id")
    cid = "index:docs_idx"
    src.write_consumer(cid, src.snapshots.latest().id)

    src.write(spark, d2.filter(F.col("doc_id") % 2 == 1))  # adds
    upd = (d2.filter(F.col("doc_id") % 7 == 0)
             .withColumn("text", F.concat(F.col("text"), F.lit(" v2")))
             .withColumn("_row_kind", F.lit("+I")))
    dels = (d2.filter(F.col("doc_id") % 11 == 0)
              .join(upd.select("doc_id"), "doc_id", "left_anti")
              .withColumn("_row_kind", F.lit("-D")))
    src.write(spark, upd.unionByName(dels))  # update + delete

    applied = DI.sync_minhash_index(spark, src, idx, consumer_id=cid)
    assert applied == 2
    # consumer advanced: a second sync is a no-op
    assert DI.sync_minhash_index(spark, src, idx, consumer_id=cid) == 0
    assert src.read_consumer(cid) == src.snapshots.latest().id

    fresh = DI.minhash_index_rows(src.read(spark), "text", "doc_id")
    synced = DI.read_minhash_index(spark, idx)
    cols = ["id", "band", "bh", "sig"]
    assert ({tuple(map(str, r)) for r in synced.select(cols).collect()}
            == {tuple(map(str, r)) for r in fresh.select(cols).collect()})


def test_lazy_nightly_cost_is_index_scan_not_signature_pass(spark, catalog,
                                                           docs):
    """The point of the index: the base side of an index-backed query
    plan contains NO md5/shingle expressions — only the index scan.
    (The r7 probe put ~all of the 386 s cross-corpus cost in the base
    signature pass; this pins its absence.)"""
    base = docs.filter(F.col("doc_id") % 10 != 0)
    t = DI.build_minhash_index(spark, catalog, "db.idx_plan", base,
                               "text", "doc_id")
    bi = DI.read_minhash_index(spark, t, 16, 4, 3)
    new = docs.filter(F.col("doc_id") % 10 == 0).limit(10)
    q = D.minhash_lsh_pairs_between(new, None, "text", "doc_id",
                                    base_index=bi)
    plan = q._jdf.queryExecution().optimizedPlan().toString()
    unindexed = D.minhash_lsh_pairs_between(new, base, "text", "doc_id")
    uplan = unindexed._jdf.queryExecution().optimizedPlan().toString()
    # the signature pass shows up as the MinHash kernel's MapInArrow
    # node; the indexed plan keeps exactly the NEW side's (one pass),
    # while the unindexed plan carries both sides' — strictly more
    assert 0 < plan.count("minhash_sign(") < uplan.count("minhash_sign(")


def test_expiration_respects_lagging_index_consumer(spark, catalog, docs):
    """The index's consumer on the source table pins snapshot retention
    (ConsumerManager semantics): aggressive expiration while the index
    lags expires NOTHING it still needs, sync converges afterward, and
    once the consumer advances the same expiration reclaims the old
    snapshots."""
    import time as _t
    d = docs.select("doc_id", "text")
    src = catalog.create_table("db.exp_src", d.schema,
                               primary_keys=["doc_id"],
                               options={"bucket": "2"})
    src.write(spark, d.filter(F.col("doc_id") % 4 == 0))
    idx = DI.build_minhash_index(spark, catalog, "db.exp_idx",
                                 src.read(spark), "text", "doc_id")
    cid = "index:exp"
    src.write_consumer(cid, src.snapshots.latest().id)
    for m in (1, 2, 3):  # three more commits the index hasn't seen
        src.write(spark, d.filter(F.col("doc_id") % 4 == m))

    future = int(_t.time() * 1000) + 10_000
    expired = src.expire_snapshots(retain_max=1, retain_min=1,
                                   older_than_ms=future)
    # the lagging consumer (at snapshot 1) pins everything it needs
    assert expired == 0
    assert DI.sync_minhash_index(spark, src, idx, consumer_id=cid) == 3
    fresh = DI.minhash_index_rows(src.read(spark), "text", "doc_id")
    assert ({tuple(map(str, r)) for r in
             DI.read_minhash_index(spark, idx).collect()}
            == {tuple(map(str, r)) for r in
                fresh.select("id", "sig", "band", "bh").collect()})
    # consumer advanced: the same expiration now reclaims history
    assert src.expire_snapshots(retain_max=1, retain_min=1,
                                older_than_ms=future) > 0


def test_streaming_ingest_auto_syncs_index(spark, catalog, docs):
    """End-to-end streaming composition: a structured-streaming sink
    commits into the source table (exactly-once foreachBatch) and
    auto_sync's post-commit hook keeps the signature index current —
    no explicit sync anywhere."""
    import shutil
    import tempfile

    from incubator_paimon_spark.datasource import register
    from incubator_paimon_spark.operators.sync import auto_sync
    from incubator_paimon_spark.streaming.sink import write_stream
    register(spark)

    d = docs.select("doc_id", "text")
    tgt = catalog.create_table("db.st_tgt", d.schema,
                               primary_keys=["doc_id"],
                               options={"bucket": "2"})
    tgt.write(spark, d.filter(F.col("doc_id") % 2 == 0))
    idx = DI.build_minhash_index(spark, catalog, "db.st_idx",
                                 tgt.read(spark), "text", "doc_id")
    cid = "index:st"
    tgt.write_consumer(cid, tgt.snapshots.latest().id)
    auto_sync(spark, tgt, "mh",
              lambda s: DI.sync_minhash_index(s, tgt, idx,
                                              consumer_id=cid))

    staging = catalog.create_table("db.st_src", d.schema)
    staging.write(spark, d.filter(F.col("doc_id") % 2 == 1))
    ck = tempfile.mkdtemp(prefix="pmn_idx_ck_")
    try:
        st = (spark.readStream.format("paimon")
              .option("scan.mode", "earliest").load(staging.path))
        q = write_stream(tgt, st, ck, trigger_once=True)
        q.awaitTermination(180)
    finally:
        shutil.rmtree(ck, ignore_errors=True)

    # the stream's commit already synced the index through the hook
    assert tgt.read_consumer(cid) == tgt.snapshots.latest().id
    fresh = DI.minhash_index_rows(tgt.read(spark), "text", "doc_id")
    assert ({tuple(map(str, r)) for r in
             DI.read_minhash_index(spark, idx).collect()}
            == {tuple(map(str, r)) for r in
                fresh.select("id", "sig", "band", "bh").collect()})
