"""Seeded input generators, one per workload.

Every generator draws from ``numpy.random.default_rng([seed, stream])`` and
nothing else, so one seed always yields the same inputs. Each one also
records what it planted (hot keys, operation shares, duplicate groups) so
the oracle can check the engine's output without re-deriving the plan.
The engine only ever sees the pandas frames these produce.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np
import pandas as pd

ROW_KIND = "_row_kind"

# ---------------------------------------------------------------------------
# TPC-H-shaped columns (schemas match the sf0.1 `orders` / `lineitem` files)

ORDER_STATUS = np.array(["O", "F", "P"])
ORDER_PRIORITY = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM",
                           "4-NOT SPECIFIED", "5-LOW"])
RETURN_FLAG = np.array(["A", "N", "R"])
LINE_STATUS = np.array(["O", "F"])
DAY = np.timedelta64(1, "D")
EPOCH_1992 = np.datetime64("1992-01-01", "us")


def orders_frame(rng: np.random.Generator, keys: np.ndarray) -> pd.DataFrame:
    n = len(keys)
    return pd.DataFrame({
        "o_orderkey": keys.astype("int64"),
        "o_custkey": rng.integers(1, 15_000, n, dtype="int64"),
        "o_orderstatus": ORDER_STATUS[rng.integers(0, 3, n)],
        "o_totalprice": np.round(rng.uniform(850.0, 550_000.0, n), 2),
        "o_orderdate": EPOCH_1992 + rng.integers(0, 2400, n) * DAY,
        "o_orderpriority": ORDER_PRIORITY[rng.integers(0, 5, n)],
    })


def lineitem_values(rng: np.random.Generator, n: int) -> dict:
    """Non-key lineitem columns. Quantities are whole numbers so that sums
    are exact in double precision whatever order Spark adds them in."""
    qty = rng.integers(1, 51, n).astype("float64")
    return {
        "l_partkey": rng.integers(1, 20_000, n, dtype="int64"),
        "l_suppkey": rng.integers(1, 1_000, n, dtype="int64"),
        "l_quantity": qty,
        "l_extendedprice": qty * rng.integers(900, 2_000, n),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": RETURN_FLAG[rng.integers(0, 3, n)],
        "l_linestatus": LINE_STATUS[rng.integers(0, 2, n)],
        "l_shipdate": EPOCH_1992 + rng.integers(0, 2500, n) * DAY,
    }


# ---------------------------------------------------------------------------
# cdc_upsert


@dataclass
class CdcPlan:
    """What the CDC generator planted, for the oracle and the report."""
    base_rows: int
    batch_rows: int
    update_share: float
    insert_share: float
    delete_share: float
    hot_share_of_updates: float
    hot_keys: np.ndarray
    batches: int = 0
    kinds: dict = field(default_factory=lambda: {"+U": 0, "+I": 0, "-D": 0})


class CdcGenerator:
    """Upsert batches against an `orders` table keyed on `o_orderkey`.

    Each batch holds `batch_rows` distinct keys: updates of live keys (a
    fifth of them drawn from a fixed hot set of 1 % of the base keys, so
    about half the hot set changes per batch), inserts of
    fresh keys, and `-D` deletes of live keys outside the hot set, so hot
    keys are never deleted and keep taking updates."""

    def __init__(self, seed: int, base_rows: int = 150_000,
                 batch_rows: int = 5_000, update_share: float = 0.7,
                 insert_share: float = 0.2, hot_share_of_updates: float = 0.2):
        self.rng = np.random.default_rng([seed, 1])
        self.base_keys = np.arange(base_rows, dtype="int64")
        hot = self.rng.choice(base_rows, max(1, base_rows // 100), replace=False)
        self.plan = CdcPlan(
            base_rows=base_rows, batch_rows=batch_rows,
            update_share=update_share, insert_share=insert_share,
            delete_share=round(1.0 - update_share - insert_share, 6),
            hot_share_of_updates=hot_share_of_updates,
            hot_keys=np.sort(hot).astype("int64"))
        self._alive = np.ones(base_rows, dtype=bool)
        self._hot_mask = np.zeros(base_rows, dtype=bool)
        self._hot_mask[hot] = True
        self._next_key = base_rows

    def base(self) -> pd.DataFrame:
        return orders_frame(self.rng, self.base_keys)

    def next_batch(self) -> pd.DataFrame:
        p, rng = self.plan, self.rng
        n_upd = int(round(p.batch_rows * p.update_share))
        n_ins = int(round(p.batch_rows * p.insert_share))
        n_del = p.batch_rows - n_upd - n_ins
        n_hot = min(int(round(n_upd * p.hot_share_of_updates)), len(p.hot_keys))
        hot_upd = rng.choice(p.hot_keys, n_hot, replace=False)
        cold = np.flatnonzero(self._alive & ~self._hot_mask)
        cold_pick = rng.choice(cold, (n_upd - n_hot) + n_del, replace=False)
        cold_upd, deletes = cold_pick[:n_upd - n_hot], cold_pick[n_upd - n_hot:]
        inserts = np.arange(self._next_key, self._next_key + n_ins, dtype="int64")
        self._next_key += n_ins
        self._alive[deletes] = False
        self._alive = np.concatenate([self._alive, np.ones(n_ins, dtype=bool)])
        self._hot_mask = np.concatenate([self._hot_mask, np.zeros(n_ins, dtype=bool)])

        keys = np.concatenate([hot_upd, cold_upd, inserts, deletes]).astype("int64")
        kinds = np.array(["+U"] * n_upd + ["+I"] * n_ins + ["-D"] * n_del)
        order = rng.permutation(len(keys))
        frame = orders_frame(rng, keys[order])
        frame[ROW_KIND] = kinds[order]
        p.batches += 1
        p.kinds["+U"] += n_upd
        p.kinds["+I"] += n_ins
        p.kinds["-D"] += n_del
        return frame

    def lookup_keys(self, n: int = 100) -> list[int]:
        """A point-lookup batch drawn from the hot set."""
        return [int(k) for k in self.rng.choice(self.plan.hot_keys, n, replace=False)]


# ---------------------------------------------------------------------------
# lake_read

LAKE_OPS = ("full_count", "projected_agg", "time_travel", "incremental",
            "pruned", "lookup_hot", "lookup_uniform")
LINES_PER_ORDER = 4


@dataclass
class LakeOp:
    kind: str
    keys: list | None = None        # lookup keys: [(orderkey, linenumber)]
    eq_key: tuple | None = None     # pruned: full-PK equality
    key_range: tuple | None = None  # pruned: [lo, hi) on l_orderkey


class LakeGenerator:
    """`lineitem` written as key-shifted replicas plus two overlapping
    update commits, and a seeded schedule of read operations over it.

    Snapshot layout: replica r is snapshot r + 1; the update commits are
    snapshots `replicas + 1` and `replicas + 2`."""

    def __init__(self, seed: int, rows_per_replica: int = 40_000,
                 replicas: int = 4, update_rows: int = 8_000,
                 lookup_batch: int = 100, lookup_batches_per_round: int = 2):
        self.rng = np.random.default_rng([seed, 2])
        self.replicas = replicas
        self.lookup_batch = lookup_batch
        self.lookup_batches_per_round = lookup_batches_per_round
        n = rows_per_replica
        self.orders_per_replica = -(-n // LINES_PER_ORDER)
        base = pd.DataFrame({
            "l_orderkey": (np.arange(n) // LINES_PER_ORDER).astype("int64"),
            "l_linenumber": (np.arange(n) % LINES_PER_ORDER + 1).astype("int32"),
            **lineitem_values(self.rng, n)})
        self.replica_frames = []
        for r in range(replicas):
            f = base.copy()
            f["l_orderkey"] += r * self.orders_per_replica
            self.replica_frames.append(f)
        all_keys = pd.concat([f[["l_orderkey", "l_linenumber"]]
                              for f in self.replica_frames], ignore_index=True)
        self.all_keys = all_keys.to_numpy()
        total = len(all_keys)
        # two update commits that overlap each other: the second rewrites
        # half of the first one's keys plus fresh ones
        first = self.rng.choice(total, update_rows, replace=False)
        rest = np.setdiff1d(np.arange(total), first)
        second = np.concatenate([
            self.rng.choice(first, update_rows // 2, replace=False),
            self.rng.choice(rest, update_rows - update_rows // 2, replace=False)])
        self.update_frames = []
        for idx in (first, second):
            keys = self.all_keys[np.sort(idx)]
            self.update_frames.append(pd.DataFrame({
                "l_orderkey": keys[:, 0].astype("int64"),
                "l_linenumber": keys[:, 1].astype("int32"),
                **lineitem_values(self.rng, len(idx))}))
        # hot keys: 1 % of all keys, all inside the newest replica, so they
        # live in few files and stay cached while uniform lookups evict
        last = self.replica_frames[-1]
        pick = self.rng.choice(len(last), max(1, total // 100), replace=False)
        self.hot_keys = last[["l_orderkey", "l_linenumber"]].to_numpy()[pick]

    @property
    def total_rows(self) -> int:
        return len(self.all_keys)

    def commits(self) -> list[pd.DataFrame]:
        return self.replica_frames + self.update_frames

    def next_round(self) -> list[LakeOp]:
        """The seven operation kinds once each, lookups repeated, in seeded
        order."""
        rng = self.rng
        ops = []
        for kind in LAKE_OPS:
            if kind.startswith("lookup"):
                src = self.hot_keys if kind == "lookup_hot" else self.all_keys
                for _ in range(self.lookup_batches_per_round):
                    pick = rng.choice(len(src), self.lookup_batch, replace=False)
                    ops.append(LakeOp(kind, keys=[tuple(map(int, k)) for k in src[pick]]))
            elif kind == "pruned":
                if rng.random() < 0.5:
                    k = self.all_keys[rng.integers(len(self.all_keys))]
                    ops.append(LakeOp(kind, eq_key=(int(k[0]), int(k[1]))))
                else:
                    lo = int(rng.integers(0, self.orders_per_replica * self.replicas - 50))
                    ops.append(LakeOp(kind, key_range=(lo, lo + 50)))
            else:
                ops.append(LakeOp(kind))
        return [ops[i] for i in rng.permutation(len(ops))]


# ---------------------------------------------------------------------------
# dedup_pipeline

SEGMENT_WORDS = 20


@dataclass
class CorpusPlan:
    """Planted structure: `groups` maps every doc id to its duplicate
    group (exact copies and near-copies of one source share a group)."""
    docs: int
    base_docs: int
    exact_copies: int
    near_copies: int
    boilerplate_docs: int
    groups: dict


class CorpusGenerator:
    """A document corpus with planted exact copies, near-copies (one seeded
    word drop each, two to three per source, so each source forms a
    clique) and shared 20-word boilerplate openings that segment dedup
    removes.

    One drop in a 120-180 word doc keeps a copy's 3-shingle Jaccard near
    0.96 to its source and 0.93 to a sibling."""

    def __init__(self, seed: int, base_docs: int = 1_000, vocab: int = 5_000,
                 min_words: int = 120, max_words: int = 180,
                 exact_sources: int = 150, near_sources: int = 150,
                 boilerplate_share: float = 0.3, boilerplates: int = 8):
        rng = np.random.default_rng([seed, 3])
        words = np.array([f"w{i}" for i in range(vocab)])
        bp = [" ".join(words[rng.integers(0, vocab, SEGMENT_WORDS)])
              for _ in range(boilerplates)]
        texts, parent = [], []
        n_bp = 0
        for _ in range(base_docs):
            body = " ".join(words[rng.integers(0, vocab,
                                               rng.integers(min_words, max_words + 1))])
            if rng.random() < boilerplate_share:
                body = bp[rng.integers(boilerplates)] + " " + body
                n_bp += 1
            texts.append(body)
            parent.append(-1)
        exact = rng.choice(base_docs, exact_sources, replace=False)
        n_exact = 0
        for src in exact:
            for _ in range(rng.integers(1, 4)):
                texts.append(texts[src])
                parent.append(int(src))
                n_exact += 1
        near = rng.choice(base_docs, near_sources, replace=False)
        n_near = 0
        for src in near:
            for _ in range(rng.integers(2, 4)):
                w = texts[src].split(" ")
                del w[rng.integers(len(w))]
                texts.append(" ".join(w))
                parent.append(int(src))
                n_near += 1
        # ids are a permutation, so the surviving copy is not always the source
        ids = rng.permutation(len(texts)).astype("int64")
        root = [i if p < 0 else p for i, p in enumerate(parent)]
        self.frame = pd.DataFrame({"doc_id": ids, "text": texts})
        self.plan = CorpusPlan(
            docs=len(texts), base_docs=base_docs, exact_copies=n_exact,
            near_copies=n_near, boilerplate_docs=n_bp,
            groups={int(ids[i]): int(root[i]) for i in range(len(texts))})
