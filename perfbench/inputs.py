"""Seeded benchmark inputs, generated once and cached on disk.

Every input is a pure function of (workload, seed, size): documents come
from ``fixtures.webtext.generate_doc``, and the stream's split into base,
batches and queries from a numpy generator seeded the same way.  Inputs
are written under ``<work>/inputs/<workload>-s<seed>-<size hash>/`` and
reused by later runs, so generation never sits inside a timing and two
commits benchmarked with the same seed read the same bytes.

The program under test only ever sees the data files (``corpus.parquet``,
``base.parquet``, ``batch_*.parquet``, ``queries_*.parquet``).  The
generator truth the checks compare against lives next to them in
``truth.parquet`` and is read by the benchmark alone.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
from dataclasses import asdict, dataclass
from pathlib import Path

import numpy as np
import pandas as pd

from rabbittclust_spark.fixtures.webtext import WebtextParams, generate_doc

# Near-dups generated at or below this token-mutation rate must land in their
# seed's cluster (rates above it straddle the d=0.05 threshold by design).
TIGHT_RATE = 0.15
# Every hot (boilerplate) group stays at least this multiple of max_posting,
# so the posting cap always fires and no run sits on the cap cliff.
HOT_MARGIN = 1.25


def _key(workload: str, seed: int, size: dict) -> str:
    h = hashlib.sha1(json.dumps(size, sort_keys=True).encode()).hexdigest()[:10]
    return f"{workload}-s{seed}-{h}"


def _cached(work: Path, workload: str, seed: int, size: dict, build) -> Path:
    """Return the cache directory for (workload, seed, size), building it
    with ``build(tmp_dir)`` on a miss.  The directory is renamed into place
    only when complete, so an interrupted build is never reused."""
    final = work / "inputs" / _key(workload, seed, size)
    if (final / "DONE").exists():
        return final
    tmp = final.with_name(final.name + f".tmp{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    build(tmp)
    (tmp / "DONE").write_text(json.dumps(size, sort_keys=True))
    shutil.rmtree(final, ignore_errors=True)
    tmp.rename(final)
    return final


def _truth_row(d: dict) -> dict:
    return {"doc_id": d["doc_id"], "kind": d["kind"],
            "truth_cluster": d["truth_cluster"],
            "mutation_rate": d["mutation_rate"], "text_len": len(d["text"])}


def seed_of(truth: pd.DataFrame) -> dict[int, int]:
    """truth_cluster -> doc_id of the cluster's seed document."""
    seeds = truth[truth["kind"] == "seed"]
    return dict(zip(seeds["truth_cluster"].astype(int), seeds["doc_id"].astype(int)))


def tight_mask(truth: pd.DataFrame) -> pd.Series:
    """Docs that must share their seed's cluster: exact dups and near-dups
    generated at mutation rate <= TIGHT_RATE."""
    return (truth["kind"] == "exact") | (
        (truth["kind"] == "near") & (truth["mutation_rate"] <= TIGHT_RATE))


# ------------------------------------------------------------------ crawl

@dataclass(frozen=True)
class CrawlSize:
    clusters: int = 10      # near-dup / exact / containment clusters
    members: int = 20       # docs per cluster (seed included)
    singletons: int = 20
    short: int = 6          # below min_len: must not be assigned
    hot: int = 130          # one boilerplate group
    max_posting: int = 100  # the pipeline's posting cap for this corpus
    # seed-document length in tokens: narrower than the fixture's 300-1500,
    # which lets a ten-cluster corpus's text volume (and the work per
    # operation) vary ~10% from seed to seed
    min_tokens: int = 600
    max_tokens: int = 900

    def params(self, seed: int) -> WebtextParams:
        return WebtextParams(seed=seed, num_clusters=self.clusters,
                             members_per_cluster=self.members,
                             num_singletons=self.singletons,
                             num_short=self.short, hot_cluster_size=self.hot,
                             min_doc_tokens=self.min_tokens,
                             max_doc_tokens=self.max_tokens)


def crawl_inputs(work: Path, seed: int, size: CrawlSize) -> Path:
    """One single-file crawl: corpus.parquet (doc_id, url, html, lang)."""
    if size.hot < HOT_MARGIN * size.max_posting:
        raise ValueError("crawl hot group sits too close to max_posting")

    def build(d: Path) -> None:
        p = size.params(seed)
        docs = [generate_doc(i, p) for i in range(p.num_docs)]
        pd.DataFrame([{k: x[k] for k in ("doc_id", "url", "html", "lang")}
                      for x in docs]).to_parquet(d / "corpus.parquet", index=False)
        pd.DataFrame([_truth_row(x) for x in docs]).to_parquet(
            d / "truth.parquet", index=False)

    return _cached(work, "crawl_batch", seed, asdict(size), build)


# ----------------------------------------------------------------- stream

# per-kind document counts: the base state, every appended batch, and every
# query set.  Batches are stratified by the generator's document kind, so
# each append carries the same mix (boilerplate docs included: a batch with
# hot docs costs ~2x one without, so the mix must not vary between batches).
STREAM_BASE = {"near": 30, "exact": 6, "containment": 6, "singleton": 20,
               "short": 4, "hot": 130}
STREAM_BATCH = {"near": 6, "exact": 1, "containment": 1, "singleton": 4,
                "short": 1, "hot": 3}
STREAM_QUERY = {"tight": 8, "singleton": 4}


@dataclass(frozen=True)
class StreamSize:
    clusters: int = 40
    members: int = 10
    singletons: int = 200
    short: int = 40
    hot: int = 280
    batches: int = 24       # appended batches prepared (runs use fewer)
    queries: int = 8        # query sets prepared, used round-robin
    max_posting: int = 100
    min_tokens: int = 600   # seed-document length, as in CrawlSize
    max_tokens: int = 900

    def params(self, seed: int) -> WebtextParams:
        return WebtextParams(seed=seed, num_clusters=self.clusters,
                             members_per_cluster=self.members,
                             num_singletons=self.singletons,
                             num_short=self.short, hot_cluster_size=self.hot,
                             min_doc_tokens=self.min_tokens,
                             max_doc_tokens=self.max_tokens)


def stream_inputs(work: Path, seed: int, size: StreamSize) -> Path:
    """Base state docs, stratified append batches and query sets, all as
    (doc_id, text) parquet files."""
    if STREAM_BASE["hot"] < HOT_MARGIN * size.max_posting:
        raise ValueError("stream hot group sits too close to max_posting")

    def build(d: Path) -> None:
        p = size.params(seed)
        docs = {i: generate_doc(i, p) for i in range(p.num_docs)}
        truth = pd.DataFrame([_truth_row(x) for x in docs.values()])
        rng = np.random.default_rng([seed, 7])
        pool: dict[str, list[int]] = {}
        for kind, ids in truth.groupby("kind")["doc_id"]:
            pool[str(kind)] = [int(i) for i in rng.permutation(ids.to_numpy())]
        tight = set(truth.loc[tight_mask(truth), "doc_id"].astype(int))
        pool["tight"] = [i for i in pool["near"] + pool["exact"] if i in tight]
        used: set[int] = set()

        def take(kind: str, n: int) -> list[int]:
            # "tight" query docs are drawn from the near/exact pools: skip
            # ids already handed out under either name
            out = []
            while len(out) < n:
                if not pool[kind]:
                    raise ValueError(f"stream corpus too small for its {kind!r} docs")
                i = pool[kind].pop(0)
                if i not in used:
                    used.add(i)
                    out.append(i)
            return out

        def write(name: str, ids: list[int]) -> None:
            pd.DataFrame({"doc_id": ids,
                          "text": [docs[i]["text"] for i in ids]}).to_parquet(
                d / name, index=False)

        queries = [[i for k, n in STREAM_QUERY.items() for i in take(k, n)]
                   for _ in range(size.queries)]
        base = list(pool.pop("seed"))
        base += [i for k, n in STREAM_BASE.items() for i in take(k, n)]
        batches = [[i for k, n in STREAM_BATCH.items() for i in take(k, n)]
                   for _ in range(size.batches)]
        write("base.parquet", sorted(base))
        for j, ids in enumerate(batches):
            write(f"batch_{j:03d}.parquet", ids)
        for j, ids in enumerate(queries):
            write(f"queries_{j:03d}.parquet", ids)
        truth.to_parquet(d / "truth.parquet", index=False)

    return _cached(work, "stream_append_query", seed, asdict(size), build)
