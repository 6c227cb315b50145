"""Custom stateful streaming operators via ``applyInPandasWithState``.

Spark's built-in streaming covers windowed aggregation and stream-stream
joins; two shapes a training-data ingest pipeline needs are missing and
require per-key state that survives micro-batch boundaries:

- **sessionize**: gap-based session assembly (the streaming counterpart of
  the batch lag/cumsum sessionization in ``__spark_entry__.q_events_sessions``).
  A session that spans two micro-batches must be ONE session — that is
  exactly the state the operator carries.
- **streaming_dedup**: emit only the first-ever row per key across the
  stream's lifetime — the streaming analogue of the ``first-row`` merge
  engine (reference: paimon-core/.../mergetree/compact/aggregate/
  FirstRowMergeFunction.java via our ``merge_engines.py:54``), for feeding
  an append sink without re-ingesting re-delivered documents.

Scale notes (100 TB / 1000-executor):
- State lives in the Spark state store keyed by the group columns; use the
  RocksDB state store provider for key counts beyond executor heap
  (``spark.sql.streaming.stateStore.providerClass``).
- The per-group work below is vectorized numpy over the micro-batch's
  Arrow-delivered rows — no per-row Python.
- Group-by keys shuffle once per micro-batch (the same exchange any
  stateful operator pays); skewed users can be pre-salted upstream if one
  key dominates a batch.

End-of-stream flushing: in ``availableNow`` back-fills there is no "later"
batch to time out open sessions, so ``sessionize`` accepts a ``flush_col``
— a boolean column marking sentinel rows (one per key, stamped after every
real event) whose arrival closes and emits the key's open session. For
continuous streams pass ``timeout_ms`` instead: processing-time timeout
flushes idle keys' open sessions.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import types as T

__all__ = ["sessionize", "streaming_dedup", "streaming_neardup_claims",
           "neardup_keep"]


def _ts_us(series: pd.Series):
    """datetime64[ns|us] -> int64 microseconds (numpy array)."""
    return series.to_numpy(dtype="datetime64[us]").astype("int64")


def sessionize(df: DataFrame, user_col: str = "user_id", ts_col: str = "ts",
               value_col: str | None = None, gap_minutes: float = 30.0,
               flush_col: str | None = None,
               timeout_ms: int | None = None) -> DataFrame:
    """Gap-based sessionization of a streaming DataFrame.

    Emits one row per CLOSED session: ``(user_col, sess_start, sess_end,
    n_events[, sess_value])``. A session closes when a later event for the
    same key arrives more than ``gap_minutes`` after the session's last
    event, when a ``flush_col`` sentinel row arrives, or (with
    ``timeout_ms``) when the key stays idle past the processing-time
    timeout. Events inside one micro-batch are sorted by ``ts_col`` before
    gap detection, so intra-batch disorder is tolerated; cross-batch
    disorder is not (feed batches in event-time order, or pre-sort with a
    watermark upstream).
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    import numpy as np

    gap_us = int(gap_minutes * 60 * 1_000_000)
    in_fields = {f.name: f for f in df.schema.fields}
    ts_type = in_fields[ts_col].dataType
    out_fields = [
        T.StructField(user_col, in_fields[user_col].dataType),
        T.StructField("sess_start", ts_type),
        T.StructField("sess_end", ts_type),
        T.StructField("n_events", T.LongType()),
    ]
    if value_col is not None:
        out_fields.append(T.StructField("sess_value", T.DoubleType()))
    out_schema = T.StructType(out_fields)
    # open-session state: (start_us, last_us, n, vsum)
    state_schema = T.StructType([
        T.StructField("start", T.LongType()),
        T.StructField("last", T.LongType()),
        T.StructField("n", T.LongType()),
        T.StructField("vsum", T.DoubleType()),
    ])

    def _emit(key, starts, ends, ns, vsums):
        cols = {
            user_col: [key[0]] * len(starts),
            "sess_start": pd.to_datetime(np.asarray(starts, dtype="int64"),
                                         unit="us"),
            "sess_end": pd.to_datetime(np.asarray(ends, dtype="int64"),
                                       unit="us"),
            "n_events": np.asarray(ns, dtype="int64"),
        }
        if value_col is not None:
            cols["sess_value"] = np.asarray(vsums, dtype="float64")
        return pd.DataFrame(cols)

    def fn(key, pdfs: Iterator[pd.DataFrame],
           state: "GroupState") -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            if state.exists:
                start, last, n, vsum = state.get
                state.remove()
                yield _emit(key, [start], [last], [n], [vsum])
            return
        parts = [p for p in pdfs if len(p)]
        if not parts:
            return
        batch = pd.concat(parts, ignore_index=True)
        flush = False
        if flush_col is not None and len(batch):
            mask = batch[flush_col].fillna(False).astype(bool)
            flush = bool(mask.any())
            batch = batch[~mask]
        batch = batch.sort_values(ts_col, kind="stable")
        ts = _ts_us(batch[ts_col])
        vals = (batch[value_col].to_numpy(dtype="float64")
                if value_col is not None else np.zeros(len(batch)))

        if state.exists:
            start0, last0, n0, vsum0 = state.get
        else:
            start0 = last0 = None
            n0, vsum0 = 0, 0.0

        starts, ends, ns, vsums = [], [], [], []
        open_sess = None  # (start, last, n, vsum)
        if len(ts):
            prev = np.empty_like(ts)
            prev[1:] = ts[:-1]
            prev[0] = last0 if last0 is not None else np.iinfo("int64").min // 2
            new_sess = (ts - prev) > gap_us
            grp = np.cumsum(new_sess)  # group 0 continues the carried session
            # per-group bounds via the sorted-run structure (no pandas groupby)
            bounds = np.flatnonzero(np.concatenate(([True], grp[1:] != grp[:-1])))
            bounds = np.append(bounds, len(ts))
            if last0 is not None and not new_sess[0]:
                # group 0 extends the carried open session
                carried = (start0, None, n0, vsum0)
            else:
                if last0 is not None:
                    # carried session closed by the batch's first event
                    starts.append(start0); ends.append(last0)
                    ns.append(n0); vsums.append(vsum0)
                carried = None
            for i in range(len(bounds) - 1):
                lo, hi = bounds[i], bounds[i + 1]
                s, e = int(ts[lo]), int(ts[hi - 1])
                n = hi - lo
                v = float(np.nansum(vals[lo:hi]))
                if i == 0 and carried is not None:
                    s, n, v = carried[0], carried[2] + n, carried[3] + v
                if hi == len(ts):
                    open_sess = (s, e, n, v)
                else:
                    starts.append(s); ends.append(e); ns.append(n); vsums.append(v)
        elif last0 is not None:
            open_sess = (start0, last0, n0, vsum0)

        if flush and open_sess is not None:
            starts.append(open_sess[0]); ends.append(open_sess[1])
            ns.append(open_sess[2]); vsums.append(open_sess[3])
            open_sess = None

        if open_sess is not None:
            state.update(open_sess)
            if timeout_ms is not None:
                state.setTimeoutDuration(timeout_ms)
        elif state.exists:
            state.remove()

        if starts:
            yield _emit(key, starts, ends, ns, vsums)

    conf = (GroupStateTimeout.ProcessingTimeTimeout if timeout_ms is not None
            else GroupStateTimeout.NoTimeout)
    return (df.groupBy(user_col)
              .applyInPandasWithState(fn, out_schema, state_schema,
                                      "append", conf))


def streaming_dedup(df: DataFrame, key_cols: list[str],
                    order_col: str | None = None) -> DataFrame:
    """First-ever row per key across the stream's lifetime.

    Within a micro-batch, ties resolve to the minimum ``order_col`` row
    (arbitrary-but-deterministic first row when ``order_col`` is None and
    the batch is sorted upstream); across micro-batches, arrival order wins
    — the same contract as the ``first-row`` merge engine without a
    sequence field (``merge_engines.py:54``). State is one marker per
    distinct key: use the RocksDB state store for corpus-scale key counts.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = df.schema
    state_schema = T.StructType([T.StructField("seen", T.ByteType())])
    names = [f.name for f in df.schema.fields]

    def fn(key, pdfs: Iterator[pd.DataFrame],
           state: "GroupState") -> Iterator[pd.DataFrame]:
        if state.exists:
            for _ in pdfs:  # drain; key already emitted in a prior batch
                pass
            return
        first = None
        for pdf in pdfs:
            if not len(pdf):
                continue
            cand = (pdf.sort_values(order_col, kind="stable").iloc[[0]]
                    if order_col is not None else pdf.iloc[[0]])
            if first is None:
                first = cand
            elif order_col is not None:
                both = pd.concat([first, cand], ignore_index=True)
                first = both.sort_values(order_col, kind="stable").iloc[[0]]
        if first is not None:
            state.update((1,))
            yield first[names]

    return (df.groupBy(*key_cols)
              .applyInPandasWithState(fn, out_schema, state_schema,
                                      "append", GroupStateTimeout.NoTimeout))


def streaming_neardup_claims(df: DataFrame, text_col: str, id_col: str,
                             num_hashes: int = 16, bands: int = 4,
                             shingle_n: int = 3,
                             order_col: str | None = None,
                             state_buckets: int = 1024) -> DataFrame:
    """Streaming NEAR-duplicate suppression, phase 1: banded-MinHash
    claims. Dedup-on-ingest is what a training-data pipeline actually
    wants (don't land near-copies in the corpus at all); batch
    `dedup_clusters` can only do it retroactively.

    Each document's MinHash signature is split into `bands` band hashes
    (identical construction to `operators.dedup.minhash_lsh_pairs`, so
    streaming and batch agree on what "near-duplicate" means). Band
    hashes key the state store: per band bucket, the FIRST document ever
    seen (ordered by (`order_col`, id) inside a micro-batch — the same
    order every band group sees, so verdicts are consistent) claims the
    bucket; every later document in that bucket, in this batch or any
    later one, gets `__fresh = false` for that band.

    Emits one row per (document x band): all input columns plus
    `__band` / `__fresh`. Feed batches of the result to `neardup_keep`
    (foreachBatch) for the per-document verdict — a document is kept iff
    EVERY band was fresh. This is the streaming analogue of
    dedup_clusters' keep-the-cluster-head: any band collision with any
    earlier document (kept or suppressed) suppresses, i.e. clusters
    close transitively exactly like the batch connected-components pass.
    The two-phase shape exists because the verdict is an aggregation
    ACROSS state keys, and Spark's Python API does not allow a second
    stateful operator (or an un-watermarked aggregation) behind
    applyInPandasWithState in append mode.

    Scale notes: state is keyed by `state_buckets` COARSE buckets
    (band-hash mod buckets), each holding the set of band hashes it has
    seen — NOT by the exact band hash. Exact-hash keys would mean one
    Python group invocation per distinct hash per batch (~45 ms each,
    measured), which dominates at every scale because such groups never
    hold more than a handful of rows; bucketing caps the per-batch
    Python-call count at `state_buckets` while keeping the work
    set-membership checks over vectorizable batches. Size it so
    per-bucket state stays small: buckets ≈ expected corpus size / 1e3
    (each bucket's state is its hash list, re-read and re-written every
    batch that touches it; 1e3 hashes ≈ 33 KB). Use the RocksDB state
    store provider for corpus-scale totals. The only shuffle is the
    bucket-key exchange every stateful operator pays. Project the
    payload down to what the sink needs before calling — each payload
    column rides the shuffle `bands` times.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from ..operators.dedup import minhash_band_rows

    # one signature pass per document (the Arrow kernel batch LSH uses),
    # then `bands` rows per document carrying the whole input row
    signed = minhash_band_rows(
        df.select("*", F.col(text_col).alias("__text")), num_hashes, bands,
        shingle_n, ("__sig", "__band", "__bh"))
    ordc = order_col if order_col is not None else id_col
    bkey = F.concat_ws("|", F.col("__band"), F.col("__bh"))
    tagged = (signed.select("*", bkey.alias("__bkey"),
                            F.pmod(F.xxhash64(bkey), F.lit(state_buckets))
                             .alias("__bucket"))
                    .drop("__sig", "__bh"))

    in_names = [c for c in tagged.columns
                if c not in ("__bkey", "__bucket")]
    out_schema = T.StructType(
        [f for f in tagged.schema.fields
         if f.name not in ("__bkey", "__bucket")]
        + [T.StructField("__fresh", T.BooleanType())])
    state_schema = T.StructType(
        [T.StructField("seen", T.ArrayType(T.StringType()))])

    def fn(key, pdfs: Iterator[pd.DataFrame],
           state: "GroupState") -> Iterator[pd.DataFrame]:
        parts = [p for p in pdfs if len(p)]
        if not parts:
            return
        by = [ordc, id_col] if ordc != id_col else [id_col]
        batch = pd.concat(parts, ignore_index=True) \
                  .sort_values(by, kind="stable")
        seen = set(state.get[0]) if state.exists else set()
        n_before = len(seen)
        fresh = []
        for bk in batch["__bkey"]:
            fresh.append(bk not in seen)
            seen.add(bk)
        if len(seen) != n_before:
            state.update((list(seen),))
        out = batch[in_names].copy()
        out["__fresh"] = fresh
        yield out

    return (tagged.groupBy("__bucket")
                  .applyInPandasWithState(fn, out_schema, state_schema,
                                          "append",
                                          GroupStateTimeout.NoTimeout))


def neardup_keep(claims, id_col: str):
    """Phase 2 (run inside foreachBatch on streaming_neardup_claims
    output): one row per KEPT document — every band fresh. Payload
    columns are restored via first() (identical across a document's
    band rows)."""
    from pyspark.sql import functions as F

    payload = [c for c in claims.columns
               if c not in (id_col, "__band", "__fresh")]
    return (claims.groupBy(id_col)
                  .agg(F.min("__fresh").alias("__keep"),
                       *[F.first(c).alias(c) for c in payload])
                  .filter(F.col("__keep"))
                  .drop("__keep"))
