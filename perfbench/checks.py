"""Output checks against generator truth, the output digest, and the
deliberate corruption used by ``--corrupt`` to show the checks bite.

Each check returns a list of problems; an empty list means the output is
correct.  A non-empty list counts the operation as failed.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd

from perfbench.inputs import seed_of, tight_mask


def digest(df: pd.DataFrame, key: str = "doc_id", val: str = "cluster_id") -> str:
    """Order-free digest of (key, value) rows: equal outputs, equal digest."""
    a = df[[key, val]].astype("int64").sort_values([key, val]).to_numpy()
    return hashlib.sha256(np.ascontiguousarray(a).tobytes()).hexdigest()[:16]


def _ids_once(df: pd.DataFrame, expect: set[int], key: str = "doc_id") -> list[str]:
    ids = df[key].astype("int64")
    out = []
    if ids.duplicated().any():
        out.append(f"{int(ids.duplicated().sum())} ids assigned more than once")
    got = set(ids.tolist())
    if got - expect:
        out.append(f"{len(got - expect)} unexpected ids, e.g. {sorted(got - expect)[:3]}")
    if expect - got:
        out.append(f"{len(expect - got)} ids missing, e.g. {sorted(expect - got)[:3]}")
    return out


def check_assignments(assign: pd.DataFrame, truth: pd.DataFrame,
                      min_len: int) -> list[str]:
    """Dedup output (doc_id, cluster_id) over the docs in ``truth``:

    - every doc at or above ``min_len`` is assigned exactly once, and no
      other doc is;
    - exact dups and tight near-dups share their seed's cluster whenever
      the seed is assigned;
    - the boilerplate (hot) group is one cluster.
    """
    problems = _ids_once(assign, set(truth.loc[truth["text_len"] >= min_len,
                                                "doc_id"].astype(int)))
    cluster = dict(zip(assign["doc_id"].astype(int), assign["cluster_id"].astype(int)))
    seeds = seed_of(truth)
    split = 0
    for doc, c in truth.loc[tight_mask(truth), ["doc_id", "truth_cluster"]].itertuples(
            index=False):
        s = seeds.get(int(c))
        if s in cluster and int(doc) in cluster and cluster[int(doc)] != cluster[s]:
            split += 1
    if split:
        problems.append(f"{split} exact/tight near-dups not in their seed's cluster")
    hot = {cluster[i] for i in truth.loc[truth["kind"] == "hot", "doc_id"].astype(int)
           if i in cluster}
    if len(hot) > 1:
        problems.append(f"boilerplate group split into {len(hot)} clusters")
    return problems


def check_queries(res: pd.DataFrame, query_ids: list[int], truth: pd.DataFrame,
                  state_cluster: dict[int, int]) -> list[str]:
    """assign_or_novel output (query_id, rep_id, dist, is_novel):

    - every query is answered exactly once;
    - exact/tight near-dup queries of state docs are not novel, and their
      representative is their seed's current cluster;
    - queries of fresh singletons are novel.
    """
    problems = _ids_once(res, set(query_ids), key="query_id")
    t = truth.set_index("doc_id").loc[query_ids]
    seeds = seed_of(truth)
    r = res.set_index("query_id")
    wrong = 0
    for q, row in t.iterrows():
        if q not in r.index:
            continue
        got = r.loc[q]
        if row["kind"] == "singleton":
            wrong += not bool(got["is_novel"])
        else:
            want = state_cluster.get(seeds.get(int(row["truth_cluster"]), -1))
            wrong += bool(got["is_novel"]) or want is None or int(got["rep_id"]) != want
    if wrong:
        problems.append(f"{wrong} queries answered wrongly")
    return problems


def corrupt(df: pd.DataFrame, victim: int, mode: str, key: str = "doc_id",
            val: str = "cluster_id") -> pd.DataFrame:
    """A deliberately wrong copy of ``df``: ``mode="move"`` puts the
    ``victim`` row into another existing cluster, ``mode="drop"`` removes it."""
    if mode == "drop":
        return df[df[key] != victim].reset_index(drop=True)
    out = df.copy()
    row = out[key] == victim
    current = out.loc[row, val].iloc[0]
    others = out.loc[out[val].notna() & (out[val] != current), val]
    out.loc[row, val] = others.iloc[0] if len(others) else current + 1
    if "is_novel" in out:
        out.loc[row, "is_novel"] = False
    return out
