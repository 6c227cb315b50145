"""Reference answers computed with pandas from the generated inputs alone.

Nothing here imports the engine: each function folds or aggregates the
frames the generators produced, so a wrong engine result cannot leak into
the expected one.
"""

from __future__ import annotations

from collections import defaultdict

import numpy as np
import pandas as pd

from perfbench.gen import LINES_PER_ORDER, ROW_KIND, SEGMENT_WORDS

ORDER_KEY = "o_orderkey"
RETRACT = ("-U", "-D")


# ---------------------------------------------------------------------------
# cdc_upsert: last-writer-wins fold


class OrdersState:
    """Live `orders` rows keyed by `o_orderkey`; a batch replaces the rows
    of every key it names and drops the keys it deletes."""

    def __init__(self, base: pd.DataFrame):
        self.rows = base.set_index(ORDER_KEY)

    def apply(self, batch: pd.DataFrame) -> None:
        self.rows = self.rows.drop(index=batch[ORDER_KEY], errors="ignore")
        adds = batch[~batch[ROW_KIND].isin(RETRACT)].drop(columns=[ROW_KIND])
        self.rows = pd.concat([self.rows, adds.set_index(ORDER_KEY)])

    def apply_changelog(self, changes: pd.DataFrame) -> None:
        """Replay one snapshot's changelog: retractions first, then the
        additions that replace them."""
        gone = changes.loc[changes[ROW_KIND].isin(RETRACT), ORDER_KEY]
        self.rows = self.rows.drop(index=gone, errors="ignore")
        adds = changes[~changes[ROW_KIND].isin(RETRACT)].drop(columns=[ROW_KIND])
        self.rows = pd.concat([self.rows.drop(index=adds[ORDER_KEY], errors="ignore"),
                               adds.set_index(ORDER_KEY)])

    def frame(self) -> pd.DataFrame:
        return self.rows.reset_index().sort_values(ORDER_KEY, ignore_index=True)


def frames_equal(got: pd.DataFrame, want: pd.DataFrame, key: str) -> str | None:
    """None when equal (same columns, rows and values after sorting by
    `key`), else a one-line reason."""
    cols = list(want.columns)
    if sorted(got.columns) != sorted(cols):
        return f"columns {sorted(got.columns)} != {sorted(cols)}"
    if len(got) != len(want):
        return f"{len(got)} rows != {len(want)}"
    g = got[cols].sort_values(key, ignore_index=True)
    w = want[cols].sort_values(key, ignore_index=True)
    for c in cols:
        a, b = g[c].to_numpy(), w[c].to_numpy()
        if np.issubdtype(a.dtype, np.datetime64) or np.issubdtype(b.dtype, np.datetime64):
            a = pd.to_datetime(g[c]).to_numpy("datetime64[us]")
            b = pd.to_datetime(w[c]).to_numpy("datetime64[us]")
        bad = ~(a == b)
        if bad.any():
            i = int(np.flatnonzero(bad)[0])
            return f"{c} differs at {key}={g[key].iloc[i]}: {a[i]!r} != {b[i]!r}"
    return None


# ---------------------------------------------------------------------------
# lake_read


def lake_key(orderkey, linenumber):
    return np.asarray(orderkey, dtype="int64") * (LINES_PER_ORDER + 1) + np.asarray(linenumber)


class LakeAnswers:
    """Expected results of every lake_read operation kind."""

    def __init__(self, commits: list[pd.DataFrame], replicas: int):
        state = pd.concat(commits, ignore_index=True)
        state["_k"] = lake_key(state["l_orderkey"], state["l_linenumber"])
        # later commits come later in the concat, so keep="last" is the
        # last writer
        self.state = state.drop_duplicates("_k", keep="last").set_index("_k")
        self.snapshot1 = commits[0]
        upd = pd.concat(commits[replicas:], ignore_index=True)
        upd["_k"] = lake_key(upd["l_orderkey"], upd["l_linenumber"])
        self.incremental = upd.drop_duplicates("_k", keep="last")
        self.projected = (self.state.groupby("l_returnflag")["l_quantity"].sum()
                          .sort_index().to_dict())
        self.by_orderkey = self.state.sort_values("l_orderkey")

    def full_count(self) -> int:
        return len(self.state)

    def count_and_sum(self, frame: pd.DataFrame) -> tuple[int, float]:
        return len(frame), float(frame["l_quantity"].sum())

    def pruned(self, eq_key=None, key_range=None) -> tuple[int, float]:
        if eq_key is not None:
            k = int(lake_key(*eq_key))
            rows = self.state.loc[[k]] if k in self.state.index else self.state.iloc[:0]
        else:
            lo, hi = key_range
            ok = self.by_orderkey["l_orderkey"]
            rows = self.by_orderkey[(ok >= lo) & (ok < hi)]
        return self.count_and_sum(rows)

    def lookup(self, keys) -> list[tuple | None]:
        idx = lake_key([k[0] for k in keys], [k[1] for k in keys])
        out = []
        for k in idx:
            if k in self.state.index:
                r = self.state.loc[k]
                out.append((float(r["l_quantity"]), float(r["l_extendedprice"]),
                            r["l_returnflag"]))
            else:
                out.append(None)
        return out


# ---------------------------------------------------------------------------
# dedup_pipeline


def exact_groups(corpus: pd.DataFrame) -> dict[int, int]:
    """keep_id -> dup_count for every text that occurs more than once."""
    g = corpus.groupby("text")["doc_id"].agg(["min", "count"])
    g = g[g["count"] > 1]
    return {int(k): int(c) for k, c in zip(g["min"], g["count"])}


def survivors(groups: dict[int, int]) -> set[int]:
    """The min doc id of every planted duplicate group: one survivor per
    group, and every unduplicated doc survives alone."""
    best: dict[int, int] = {}
    for doc, root in groups.items():
        if root not in best or doc < best[root]:
            best[root] = doc
    return set(best.values())


def clean_segments(docs: pd.DataFrame, max_doc_freq: int = 2) -> pd.DataFrame:
    """Word-window boilerplate removal: split each doc into consecutive
    `SEGMENT_WORDS`-word segments, drop every segment that occurs in more
    than `max_doc_freq` docs, rejoin the rest in order."""
    segs = {int(i): [" ".join(w[j:j + SEGMENT_WORDS])
                     for j in range(0, len(w), SEGMENT_WORDS)]
            for i, w in zip(docs["doc_id"], (t.split() for t in docs["text"]))}
    freq: dict[str, int] = defaultdict(int)
    for s in segs.values():
        for seg in set(s):
            freq[seg] += 1
    rows = []
    for i, s in segs.items():
        keep = [seg for seg in s if freq[seg] <= max_doc_freq]
        rows.append((i, " ".join(keep), len(keep), len(s) - len(keep)))
    return pd.DataFrame(rows, columns=["id", "clean_text", "kept_segments",
                                       "removed_segments"])
