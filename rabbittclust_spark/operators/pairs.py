"""Candidate-pair generation + distance evaluation -> edges DataFrame.

Every posting self-join of the engine goes through ``posting_pairs``: the
DataFrame form of the reference's inverted-index posting-list self-join +
epoch-stamped intersection counting (src/MST.cpp:399-575,
src/SketchInfo.h:59-161).  It owns the hot-key cap (the --max-posting analog,
src/dbscan.cpp:95-220, with logged counts), star escalation, the src < dst
orientation, the optional pre-aggregate prune and the one aggregate.  It
serves two shapes:

- *candidate*, then exact verify: hot keys are ESCALATED via anchor-star
  candidates (cfg.hot_hash_mode, see _apply_posting_cap), and the caller
  verifies exactly — ``array_intersect`` of the bottom-s sketches here,
  hamming for SimHash, ``zip_with`` agreement for WMinHash.  Star recovery
  relies on CC transitivity through an anchor: it is lossless for hot groups
  whose members are near-dups of an anchor (the boilerplate case the cap
  exists for); a pair sharing ONLY hot hashes whose members both fail exact
  verification against every anchor is still lost, exactly like drop mode.
- *counting*, drop mode: the per-pair count of shared keys IS the
  intersection (src/MST.cpp:428-487) — index mode, n-gram Jaccard,
  substring containment and the token-graph family.  Hot keys are dropped
  like the reference, which underestimates ``common``.

The MinHash edges come in three modes (``cfg.pair_mode``):

**probe** (default): each doc's bottom-``probe_hashes`` sketch values are
its probes; docs sharing a probe (at least ``min_probe_common`` of them) are
candidates, verified with an exact JVM-side ``array_intersect`` of the
bottom-s sketches (see pair_counts_probe).  The same builder serves the
incremental append: given ``settled`` sketches (docs whose pairs among
themselves are known — the reference's start index, src/MST.cpp:391-400),
it builds only the pairs touching a doc of ``sketches``.

**index** (reference-parity): counting shape over every sketch hash.
Pruning predicates are applied in reference order: size-ratio before the
aggregate consumer (src/MST.cpp:504-512), common-count lower bound as HAVING
(src/greedy.cpp:649-653).

**banded** (scale path): join on LSH band keys from the k-permutation
signature — O(candidate pairs) instead of O(sum posting^2) — then verify each
candidate with an exact JVM-side ``array_intersect`` of the bottom-s sketches
(the reference's sorted-array merge intersection, src/greedy.cpp:39-67).

All modes end in the same Mash/containment distance column expressions and a
``dist <= threshold`` filter, producing ``edges(src, dst, dist)``.
"""

from __future__ import annotations

import logging

from collections.abc import Callable
from functools import partial

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from rabbittclust_spark.config import PipelineConfig
from rabbittclust_spark.functions.distances import (
    common_lower_bound_expr,
    containment_distance_expr,
    greedy_containment_distance_expr,
    jaccard_expr,
    mash_distance_expr,
    size_ratio_pred,
)

_LOG = logging.getLogger(__name__)

# above this many hot keys the hot set stays a DataFrame (parquet-backed
# shuffle joins) instead of a collect()+broadcast local relation: the hot
# count is bounded by total_postings/cap, which at 1e9 docs x 1000-hash
# sketches / 2000 can reach ~1e7 rows — too much to ship through the driver
# on every edges build.  Below the limit the broadcast path is strictly
# cheaper (one tiny collect, no extra shuffle on the anti-join).
HOT_KEY_COLLECT_LIMIT = 100_000

# anchors per hot key for star escalation.  An anchor that is NOT a near-dup
# of the group (an unrelated doc that merely shares the hot key — common for
# weak keys like few-bit LSH buckets) fails exact verification against every
# member and would silently drop the entire group from the results; k
# independent pseudo-random anchors make that failure mode require k rogue
# picks in a row.  Candidate volume on hot keys is k*p instead of p — still
# O(p), never O(p^2).
STAR_ANCHORS = 3


def _oriented(x: Column, y: Column, vx: Column | None = None,
              vy: Column | None = None) -> list[Column]:
    """src = the smaller, dst = the larger of two doc ids, and with values
    v1 = src's, v2 = dst's."""
    cols = [F.least(x, y).alias("src"), F.greatest(x, y).alias("dst")]
    if vx is not None:
        cols += [F.when(x < y, vx).otherwise(vy).alias("v1"),
                 F.when(x < y, vy).otherwise(vx).alias("v2")]
    return cols


def _apply_posting_cap(postings: DataFrame, keys: str | list[str],
                       cfg: PipelineConfig, label: str, allow_star: bool = True,
                       doc_col: str = "doc_id", value: str | None = None,
                       touching: str | None = None
                       ) -> tuple[DataFrame, DataFrame | None]:
    """--max-posting analog with accounting and optional escalation.

    Splits posting rows into cold (below-cap) and hot (above-cap) groups of
    ``keys`` (one column name or a list: the join's real group).  The
    reference silently drops hot hashes from its index
    (src/dbscan.cpp:95-220); here the dropped/escalated key and posting
    counts are always LOGGED, and with ``cfg.hot_hash_mode == "star"`` hot
    keys are escalated instead of lost: every posting of a hot key is paired
    with up to STAR_ANCHORS anchors, the members minimizing a salted hash of
    their id — O(p) extra candidates per hot key instead of the O(p^2)
    explosion — and those candidates flow through the same exact
    verification as everything else.  For hot groups of true near-duplicates
    the anchor links verify and connected components recovers the full group
    (no recall loss; tested with a hot-key fixture), versus drop mode's
    silent loss of pairs that only share capped hashes.  Caveat (see module
    docstring): a hot-only pair whose members are NOT near-dups of an anchor
    stays lost — the guarantee covers mutual near-dup groups, not arbitrary
    hot pairs.

    Returns (cold_postings, star_candidates(src, dst[, v1, v2]) | None):
    each anchor carries its per-doc ``value``, so a star pair has both.
    ``touching`` names a boolean posting column that anchors carry the same
    way; a star pair is then kept only when either end has it set.
    """
    if cfg.max_posting is None:
        return postings, None
    keys = [keys] if isinstance(keys, str) else list(keys)

    counts = postings.groupBy(*keys).agg(F.count("*").alias("_pl"))
    hot_counts = counts.where(F.col("_pl") > cfg.max_posting)
    # ONE job decides both the common case (nothing hot -> empty collect)
    # and the normal hot case (keys + counts in the same collect, bounded
    # by the limit) — this path runs on EVERY posting-pair build, so its
    # cost must stay at a single aggregation; only an adversarial
    # above-limit hot set pays extra jobs
    hot_rows = hot_counts.limit(HOT_KEY_COLLECT_LIMIT + 1).collect()
    if not hot_rows:
        return postings, None
    if cfg.strict_no_cap:
        worst = max(int(r["_pl"]) for r in hot_rows)
        raise RuntimeError(
            f"strict_no_cap [{label}]: {len(hot_rows)} posting group(s) "
            f"exceed max_posting={cfg.max_posting} (largest={worst}). This "
            f"path's cross-engine oracle twin has no cap, so its "
            f"equivalence assumption ('cap never fires at gate scale') no "
            f"longer holds — raise max_posting in the oracle config or "
            f"re-derive the twin, rather than debugging a value mismatch.")
    star_mode = allow_star and cfg.hot_hash_mode == "star"
    if len(hot_rows) <= HOT_KEY_COLLECT_LIMIT:
        # small hot set (the measured reality: 13 keys at 1M docs):
        # broadcast a local relation — no extra shuffle, no second job
        n_hot = len(hot_rows)
        n_post = sum(int(r["_pl"]) for r in hot_rows)
        # from a pandas frame the set is an Arrow-built LocalRelation that
        # stays in the JVM; a list of tuples would be a pickled-row RDD
        # whose scan runs Python tasks.  A null key never joins, so it is
        # left out (pandas would turn a null long into NaN)
        import pandas as pd
        hot = F.broadcast(postings.sparkSession.createDataFrame(
            pd.DataFrame([tuple(r[k] for k in keys) for r in hot_rows
                          if all(r[k] is not None for k in keys)],
                         columns=keys),
            schema=counts.select(*keys).schema))
    else:
        # adversarial hot set: true totals for the log, then keep the key
        # table distributed — parquet-materialize it (both the anti-join
        # and the star join re-read it) and let the joins shuffle; never
        # ship millions of rows via the driver
        agg = hot_counts.agg(
            F.count("*").alias("nh"),
            F.coalesce(F.sum("_pl"), F.lit(0)).alias("np")).collect()[0]
        n_hot, n_post = int(agg["nh"]), int(agg["np"])
        from rabbittclust_spark.sources.tables import materialize
        hot = materialize(hot_counts.select(*keys), "hot_keys")
    _LOG.warning(
        "max_posting=%d [%s]: %d hot keys covering %d postings %s",
        cfg.max_posting, label, n_hot, n_post,
        "escalated via anchor-star candidates" if star_mode
        else "DROPPED (reference --max-posting behavior)")
    cold = postings.join(hot, keys, "left_anti")
    if not star_mode:
        return cold, None
    hot_postings = postings.join(hot, keys)
    # STAR_ANCHORS pseudo-random anchors per hot key: anchor i = the member
    # minimizing a salt-i hash of its id.  min(struct) is a map-side
    # combinable aggregate (no per-key sort, no single-task skew on a huge
    # hot group); salted hashes are deterministic, so results are stable.
    # Min-ID anchoring was measured failing here: when an unrelated low-id
    # doc shares the hot key, it captures the anchor role and exact verify
    # kills every star pair, silently dropping the genuine dup group.
    val = [] if value is None else [F.col(value).alias("v")]
    if touching is not None:
        val.append(F.col(touching).alias("t"))
    anchors = hot_postings.groupBy(*keys).agg(*[
        F.min(F.struct(F.xxhash64(doc_col, F.lit(i)).alias("h"),
                       F.col(doc_col).alias("d"), *val)).alias(f"_a{i}")
        for i in range(STAR_ANCHORS)])
    anchors = anchors.select(*keys, F.explode(F.array_distinct(F.array(*[
        F.col(f"_a{i}").dropFields("h") for i in range(STAR_ANCHORS)])))
        .alias("_anchor"))
    doc, anchor = F.col(doc_col), F.col("_anchor.d")
    values = [] if value is None else [F.col(value), F.col("_anchor.v")]
    star = hot_postings.join(anchors, keys).where(doc != anchor)
    if touching is not None:
        star = star.where(F.col(touching) | F.col("_anchor.t"))
    return cold, star.select(*_oriented(doc, anchor, *values)).distinct()


def posting_pairs(postings: DataFrame, keys: str | list[str],
                  cfg: PipelineConfig, label: str, *, star: bool = True,
                  prune: tuple[str, Callable[[Column, Column], Column]]
                  | None = None,
                  settled: DataFrame | None = None) -> DataFrame:
    """(doc_id, *keys[, value]) posting rows -> one row per doc pair sharing
    a key: (src, dst, common, star[, v1, v2]) with src < dst.

    ``common`` counts the
    shared COLD keys (``cfg.max_posting`` groups; drop-mode semantics, like
    the reference's capped index).  ``star`` marks a pair that is an anchor
    candidate of a hot key; it is only ever true when ``star`` is passed
    and ``cfg.hot_hash_mode == "star"`` (see _apply_posting_cap), and such
    a pair needs an exact verify.

    ``prune=(value, pred)`` names a per-doc column and a predicate over two
    docs' values: cold join rows failing ``pred(a, b)`` are pruned before
    the aggregate (the size-ratio prune, src/MST.cpp:504-512; the SimHash
    hamming bound), and every pair, star pairs included, returns src's and
    dst's values as v1 and v2.

    ``settled`` is the append form (the reference's start index,
    src/MST.cpp:391-400): posting rows of docs whose pairs among themselves
    are already known.  The cap counts both sides; only pairs touching a
    doc of ``postings`` are built: a flag ``_new`` marks those docs, and a
    star pair keeps the pair when its doc or its anchor carries it.

    Candidate callers ``.select("src", "dst")``: Catalyst then prunes the
    aggregate to a plain distinct over cold pairs ∪ star pairs (one shuffle).
    """
    keys = [keys] if isinstance(keys, str) else list(keys)
    value, pred = prune if prune is not None else (None, None)
    rows = postings
    if settled is not None:
        rows = settled.withColumn("_new", F.lit(False)).unionByName(
            postings.withColumn("_new", F.lit(True)))
    cold, star_pairs = _apply_posting_cap(
        rows, keys, cfg, label, allow_star=star, value=value,
        touching=None if settled is None else "_new")
    a = cold.where("_new") if settled is not None else cold
    ida, idb = F.col("a.doc_id"), F.col("b.doc_id")
    joined = a.alias("a").join(
        cold.alias("b"), [F.col(f"a.{k}") == F.col(f"b.{k}") for k in keys])
    if settled is None:
        joined = joined.where(ida < idb)
    else:
        # a new x new pair is met from both sides: keep its a < b
        # orientation; a new x settled pair is met once, in either order
        joined = joined.where((ida < idb)
                              | (~F.col("b._new") & (ida != idb)))
    values = ()
    if value is not None:
        values = F.col(f"a.{value}"), F.col(f"b.{value}")
        joined = joined.where(pred(*values))
    # one aggregate dedups or counts: `common` counts the marker, which only
    # the cold rows carry
    pairs = joined.select(*_oriented(ida, idb, *values), F.lit(1).alias("_m"))
    aggs = [F.count("_m").alias("common")] + [
        F.max(c).alias(c) for c in ("v1", "v2") if value is not None]
    if star_pairs is None:
        return (pairs.groupBy("src", "dst").agg(*aggs)
                .withColumn("star", F.lit(False)))
    pairs = pairs.withColumn("star", F.lit(False)).unionByName(
        star_pairs.withColumn("star", F.lit(True)), allowMissingColumns=True)
    return pairs.groupBy("src", "dst").agg(*aggs, F.max("star").alias("star"))


def pair_counts_index(sketches: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """Inverted-index pair generation: (src, dst, n1, n2, common).

    src < dst dedup mirrors the reference's j<i convention
    (src/MST.cpp:446-455).  Index mode aggregates shared-hash COUNTS, so
    star escalation (which yields candidates, not counts) cannot apply
    here — hot hashes are dropped exactly like the reference.
    """
    postings = sketches.select(F.explode("sig").alias("h"), "doc_id", "n")
    pairs = posting_pairs(postings, "h", cfg, "index", star=False, prune=(
        "n", partial(size_ratio_pred, max_ratio=cfg.max_size_ratio())))
    # HAVING common >= lower bound (src/greedy.cpp:649-653)
    return pairs.where(
        F.col("common") >= common_lower_bound_expr(F.col("v1"), F.col("v2"), cfg.jaccard_min())
    ).select("src", "dst", F.col("v1").alias("n1"), F.col("v2").alias("n2"),
             "common")


def pair_counts_probe(sketches: DataFrame, cfg: PipelineConfig,
                      settled: DataFrame | None = None) -> DataFrame:
    """Probe-subset candidate generation + exact verification (scale path #2).

    Candidates = pairs sharing >= 1 of each doc's bottom-``probe_hashes``
    sketch values (the sketch array is sorted ascending, so a slice is the
    bottom-B subset).  For a pair with true sketch Jaccard J the miss
    probability is ~(1-J)^B — at B=32 and the d=0.05 boundary (J=0.212)
    that is 4.9e-4, inside the recall>=0.99 budget (real dup pairs sit well
    above the boundary: J=0.4 -> 8.6e-8).  With ``cfg.min_probe_common > 1``
    a candidate must share that many cold probes (or be a star candidate).
    Verification computes the EXACT intersection count via JVM
    array_intersect (the reference's sorted-array merge intersection,
    src/greedy.cpp:39-67), so distances are identical to index mode; only
    candidate discovery is probabilistic.

    ``settled`` is the append form (the reference's start index,
    src/MST.cpp:391-400): sketches of docs whose pairs among themselves are
    already known.  Only pairs touching a doc of ``sketches`` are built; the
    posting cap counts postings and verification reads sketches over
    ``sketches`` and ``settled`` together.

    Scale rationale: posting rows shrink s/B-fold (31x at defaults), and the
    heavy work moves from the skewed posting join to the per-pair verify
    join, which parallelizes by pair with no hot keys.
    """
    b = int(cfg.probe_hashes)

    def probes(sk: DataFrame) -> DataFrame:
        return sk.select(F.col("doc_id"), F.col("n"),
                         F.explode(F.slice("sig", 1, b)).alias("h"))

    # r9: the sketch barrier is a few small files at bench scale, so the
    # posting explode + broadcast-hash self-join + pair dedup would inherit
    # 1-2 partitions and run serial (measured: the banded twin's candidate
    # build was ~5 s of an 8 s wall); spread the compact sketch rows BEFORE
    # the explode (file-count gated — a many-file barrier at scale passes
    # through untouched)
    from rabbittclust_spark.operators.sketch import _spread_for_cpu_kernel
    sketches = sketches.select("doc_id", "n", "sig")
    docs = sketches
    if settled is not None:
        settled = settled.select("doc_id", "n", "sig")
        docs = settled.unionByName(sketches)
    pairs = posting_pairs(
        probes(_spread_for_cpu_kernel(sketches)), "h", cfg,
        "probe" if settled is None else "append",
        prune=("n", partial(size_ratio_pred, max_ratio=cfg.max_size_ratio())),
        settled=None if settled is None else probes(settled))
    if cfg.min_probe_common > 1:
        # scale lever for common-phrase-dense corpora (see config.py): most
        # ACCIDENTAL candidates share exactly one probe hash, while real dup
        # pairs share many — the count is a map-side-combinable 16-byte-row
        # aggregate, vastly cheaper than shipping two full sketches per
        # candidate through the verify join it gates.  Star candidates skip
        # the gate (and the size-ratio prune), which is safe: ratio-violating
        # pairs mathematically cannot pass the common-count/threshold filters
        pairs = pairs.where((F.col("common") >= cfg.min_probe_common)
                            | F.col("star"))
    cand = pairs.select("src", "dst")
    from rabbittclust_spark.sources.tables import materialize
    if settled is None:
        # materialize the candidate set: splits the query at its natural
        # barrier, on the batch build only.  perfbench seed 1, local[4] on a
        # shared 4-vCPU VM, with and without it interleaved in one Spark app
        # after warm-up: a stream_append_query append took 3.89 s with it vs
        # 3.76 s without (13 pairs, slower in 10) and 4.27 vs 4.17 s (11
        # pairs, slower in 7), so the append goes without; a crawl_batch
        # pipeline op took 5.45 vs 5.76 s (8 pairs, faster in 7), 6.99 vs
        # 6.75 s (8 pairs, faster in 2) and 5.53 vs 5.54 s (12 pairs, faster
        # in 4): no steady cost there, and perfbench times the split halves
        # as pairs.cand_s and pairs.verify_s.  (r9: wide=True was
        # A/B-measured NET-NEGATIVE here — the verify join ships sig arrays,
        # and 32-way SHJ over tiny inputs costs more than the parallelism
        # buys; see OPTIMIZATION_r09.md "wide flag placement")
        cand = materialize(cand, "cand")
    joined = verify_join(cand, docs)
    # barrier AFTER computing `common`: project-collapse would otherwise
    # inline the array_intersect expression into every downstream reference
    # (jaccard, distance, filters) — observed ~20x re-evaluation per row.
    # Behind the barrier it is a scalar column evaluated exactly once.
    joined = materialize(
        joined, "pair_counts" if settled is None else "append_pair_counts")
    return joined.where(
        F.col("common") >= common_lower_bound_expr(F.col("n1"), F.col("n2"), cfg.jaccard_min())
    )


def verify_join(cand: DataFrame, sketches: DataFrame) -> DataFrame:
    """(src, dst) candidates x sketches -> (src, dst, n1, n2, common) with
    the EXACT sketch intersection (src/greedy.cpp:39-67 merge intersection,
    as JVM array_intersect).

    shuffle_hash hints on BOTH sides: never sort-merge or broadcast rows
    carrying the (large) sig arrays — SMJ would sort ~8KB payload rows and
    AQE must not broadcast the array-carrying intermediate of the first
    join (observed: that choice stalls the plan); SHJ streams the wide side
    and builds on the per-partition slice of the sketch table.  The plan
    shape is asserted in tests/test_plans.py against THIS function."""
    s = sketches.select("doc_id", "n", "sig").hint("shuffle_hash")
    return (
        cand.hint("shuffle_hash")
        .join(s.withColumnRenamed("doc_id", "src")
               .withColumnRenamed("n", "n1")
               .withColumnRenamed("sig", "sig1"), "src")
        .hint("shuffle_hash")
        .join(s.withColumnRenamed("doc_id", "dst")
               .withColumnRenamed("n", "n2")
               .withColumnRenamed("sig", "sig2"), "dst")
        .select("src", "dst", "n1", "n2",
                F.size(F.array_intersect("sig1", "sig2")).alias("common"))
    )


def candidate_pairs_banded(bands: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """Banded-LSH candidate pairs: (src, dst), distinct.

    bands = (doc_id, band_keys array<long>).  Hot-band cap = --max-posting
    analog applied to band keys.
    """
    # spread before the explode — see pair_counts_probe (r9)
    from rabbittclust_spark.operators.sketch import _spread_for_cpu_kernel
    exploded = _spread_for_cpu_kernel(bands).select(
        F.col("doc_id"), F.explode("band_keys").alias("bk"))
    return posting_pairs(exploded, "bk", cfg, "banded").select("src", "dst")


def pair_counts_banded(sketches: DataFrame, bands: DataFrame,
                       cfg: PipelineConfig) -> DataFrame:
    """Verify banded candidates with exact sketch intersection:
    (src, dst, n1, n2, common) via JVM array_intersect
    (reference merge-intersection, src/greedy.cpp:39-67,73-99)."""
    cand = candidate_pairs_banded(bands, cfg)
    # r9: same natural barrier as probe mode — the band-candidate dedup is a
    # lightweight pair-dedup reduce (wide pays, like the LSH candidate
    # barrier), and splitting it from the array_intersect verify keeps the
    # verify join's inputs parquet-backed instead of a fused composed plan
    from rabbittclust_spark.sources.tables import materialize
    cand = materialize(cand, "cand", wide=True)
    joined = verify_join(cand, sketches).where(
        size_ratio_pred(F.col("n1"), F.col("n2"), cfg.max_size_ratio()))
    joined = materialize(joined, "pair_counts")  # see pair_counts_probe
    return joined.where(
        F.col("common") >= common_lower_bound_expr(F.col("n1"), F.col("n2"), cfg.jaccard_min())
    )


def edges_from_pair_counts(pairs: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """(src, dst, n1, n2, common) -> edges(src, dst, dist) with dist <= threshold.

    Distance = Mash (src/MST.cpp:520-528) or containment/AAF
    (src/MST.cpp:529-540) per config.
    """
    j = jaccard_expr(F.col("common"), F.col("n1"), F.col("n2"))
    if cfg.containment:
        if cfg.containment_variant == "greedy":
            # greedy-path variant: Mash transform of the containment ratio
            # (src/greedy.cpp:1245-1259, 2771-2788)
            dist = greedy_containment_distance_expr(
                F.col("common"), F.col("n1"), F.col("n2"), cfg.distance_k)
        else:
            dist = containment_distance_expr(
                F.col("common"), F.col("n1"), F.col("n2"), cfg.distance_k)
    else:
        dist = mash_distance_expr(j, cfg.distance_k)
    return (
        pairs.withColumn("dist", dist)
        .where(F.col("dist") <= cfg.threshold)  # forest cut (src/MST.cpp:77-85)
        .select("src", "dst", "dist")
    )


def build_edges(sketches: DataFrame, cfg: PipelineConfig,
                bands: DataFrame | None = None) -> DataFrame:
    """sketches (+bands in banded mode) -> thresholded edges(src, dst, dist)."""
    if cfg.pair_mode == "banded":
        if bands is None:
            raise ValueError("banded pair_mode requires a bands DataFrame")
        pairs = pair_counts_banded(sketches, bands, cfg)
    elif cfg.pair_mode == "probe":
        pairs = pair_counts_probe(sketches, cfg)
    else:
        pairs = pair_counts_index(sketches, cfg)
    return edges_from_pair_counts(pairs, cfg)
