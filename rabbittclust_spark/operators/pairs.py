"""Candidate-pair generation + distance evaluation -> edges DataFrame.

Three modes (``cfg.pair_mode``):

**probe** (default): each doc's bottom-``probe_hashes`` sketch values are
its probes; docs sharing a probe (at least ``min_probe_common`` of them) are
candidates, verified with an exact JVM-side ``array_intersect`` of the
bottom-s sketches (see pair_counts_probe).  The same builder serves the
incremental append: given ``settled`` sketches (docs whose pairs among
themselves are known — the reference's start index, src/MST.cpp:391-400),
it builds only the pairs touching a doc of ``sketches``.

**index** (reference-parity): explode sketch hash values and self-join on the
hash — the DataFrame form of the reference's inverted-index posting-list
self-join + epoch-stamped intersection counting (src/MST.cpp:399-575,
src/SketchInfo.h:59-161).  groupBy(src,dst).count() IS the per-pair
intersection count (src/MST.cpp:428-487).  Pruning predicates are applied in
reference order: size-ratio before the aggregate consumer
(src/MST.cpp:504-512), common-count lower bound as HAVING
(src/greedy.cpp:649-653).  Hot-hash skew is handled by the --max-posting
analog (src/dbscan.cpp:95-220) with logged counts; in probe/banded modes hot
keys can additionally be ESCALATED via anchor-star candidates instead of
dropped (cfg.hot_hash_mode, see _apply_posting_cap).  Star recovery relies on
CC transitivity through the anchor: it is lossless for hot groups whose
members are mutual near-dups of the anchor (the boilerplate case the cap
exists for); a pair sharing ONLY hot hashes whose members both fail exact
verification against the anchor is still lost, exactly like drop mode.

**banded** (scale path): join on LSH band keys from the k-permutation
signature — O(candidate pairs) instead of O(sum posting^2) — then verify each
candidate with an exact JVM-side ``array_intersect`` of the bottom-s sketches
(the reference's sorted-array merge intersection, src/greedy.cpp:39-67).

All modes end in the same Mash/containment distance column expressions and a
``dist <= threshold`` filter, producing ``edges(src, dst, dist)``.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame
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


def _apply_posting_cap(postings: DataFrame, key: str, cfg: PipelineConfig,
                       label: str, allow_star: bool = True,
                       doc_col: str = "doc_id"
                       ) -> tuple[DataFrame, DataFrame | None]:
    """--max-posting analog with accounting and optional escalation.

    Splits posting rows into cold (below-cap) and hot (above-cap) keys.  The
    reference silently drops hot hashes from its index
    (src/dbscan.cpp:95-220); here the dropped/escalated key and posting
    counts are always LOGGED, and with ``cfg.hot_hash_mode == "star"`` hot
    keys are escalated instead of lost: every posting of a hot key is paired
    with the key's minimum doc_id (anchor) — O(p) extra candidates per hot
    key instead of the O(p^2) explosion — and those candidates flow through
    the same exact array_intersect verification as everything else.  For hot
    groups of true near-duplicates the anchor links verify and connected
    components recovers the full group (no recall loss; tested with a
    hot-key fixture), versus drop mode's silent loss of pairs that only
    share capped hashes.  Caveat (see module docstring): a hot-only pair
    whose members are NOT both near-dups of the anchor stays lost — the
    guarantee covers mutual near-dup groups, not arbitrary hot pairs.

    Returns (cold_postings, star_candidates(src, dst) | None).
    """
    if cfg.max_posting is None:
        return postings, None

    counts = postings.groupBy(key).agg(F.count("*").alias("_pl"))
    hot_counts = counts.where(F.col("_pl") > cfg.max_posting)
    # ONE job decides both the common case (nothing hot -> empty collect)
    # and the normal hot case (keys + counts in the same collect, bounded
    # by the limit) — this path runs on EVERY probe/index/banded build, so
    # its cost must stay at a single aggregation; only an adversarial
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
        hot = F.broadcast(postings.sparkSession.createDataFrame(
            [(r[key],) for r in hot_rows], schema=counts.select(key).schema))
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
        hot = materialize(hot_counts.select(key), "hot_keys")
    _LOG.warning(
        "max_posting=%d [%s]: %d hot keys covering %d postings %s",
        cfg.max_posting, label, n_hot, n_post,
        "escalated via anchor-star candidates" if star_mode
        else "DROPPED (reference --max-posting behavior)")
    cold = postings.join(hot, key, "left_anti")
    if not star_mode:
        return cold, None
    hot_postings = postings.join(hot, key)
    # STAR_ANCHORS pseudo-random anchors per hot key: anchor i = the member
    # minimizing a salt-i hash of its id.  min(struct) is a map-side
    # combinable aggregate (no per-key sort, no single-task skew on a huge
    # hot group); salted hashes are deterministic, so results are stable.
    # Min-ID anchoring was measured failing here: when an unrelated low-id
    # doc shares the hot key, it captures the anchor role and exact verify
    # kills every star pair, silently dropping the genuine dup group.
    anchors = hot_postings.groupBy(key).agg(*[
        F.min(F.struct(F.xxhash64(doc_col, F.lit(i)).alias("h"),
                       F.col(doc_col).alias("d"))).alias(f"_a{i}")
        for i in range(STAR_ANCHORS)])
    anchors = anchors.select(
        key, F.explode(F.array_distinct(F.array(
            *[F.col(f"_a{i}.d") for i in range(STAR_ANCHORS)]))).alias("_anchor"))
    star = (
        hot_postings.join(anchors, key)
        .where(F.col(doc_col) != F.col("_anchor"))
        .select(F.least(doc_col, "_anchor").alias("src"),
                F.greatest(doc_col, "_anchor").alias("dst"))
        .distinct()
    )
    return cold, star


def explode_postings(sketches: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """sketches(doc_id, n, sig) -> postings(h, doc_id, n).

    The lazily-fused DataFrame form of the reference's pipelined
    sketch+index build (src/SketchInfo.cpp:1216-1229).
    """
    postings = sketches.select(
        F.explode("sig").alias("h"), F.col("doc_id"), F.col("n")
    )
    # --max-posting analog (src/dbscan.cpp:95-220) with logged counts.
    # Index mode aggregates shared-hash COUNTS, so star escalation (which
    # yields candidates, not counts) cannot apply here — hot hashes are
    # dropped exactly like the reference; probe/banded modes escalate.
    postings, _ = _apply_posting_cap(postings, "h", cfg, "index",
                                     allow_star=False)
    return postings


def pair_counts_index(sketches: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """Inverted-index pair generation: (src, dst, n1, n2, common).

    src < dst dedup mirrors the reference's j<i convention
    (src/MST.cpp:446-455).
    """
    p = explode_postings(sketches, cfg)
    a = p.alias("a")
    b = p.alias("b")
    joined = (
        a.join(b, F.col("a.h") == F.col("b.h"))
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("src"),
            F.col("b.doc_id").alias("dst"),
            F.col("a.n").alias("n1"),
            F.col("b.n").alias("n2"),
        )
    )
    # size-ratio pruning BEFORE the aggregate (src/MST.cpp:504-512); Catalyst
    # pushes this below the shuffle for the groupBy.
    joined = joined.where(size_ratio_pred(F.col("n1"), F.col("n2"), cfg.max_size_ratio()))
    pairs = joined.groupBy("src", "dst", "n1", "n2").agg(F.count("*").alias("common"))
    # HAVING common >= lower bound (src/greedy.cpp:649-653)
    return pairs.where(
        F.col("common") >= common_lower_bound_expr(F.col("n1"), F.col("n2"), cfg.jaccard_min())
    )


def pair_counts_probe(sketches: DataFrame, cfg: PipelineConfig,
                      settled: DataFrame | None = None) -> DataFrame:
    """Probe-subset candidate generation + exact verification (scale path #2).

    Candidates = pairs sharing >= 1 of each doc's bottom-``probe_hashes``
    sketch values (the sketch array is sorted ascending, so a slice is the
    bottom-B subset).  For a pair with true sketch Jaccard J the miss
    probability is ~(1-J)^B — at B=32 and the d=0.05 boundary (J=0.212)
    that is 4.9e-4, inside the recall>=0.99 budget (real dup pairs sit well
    above the boundary: J=0.4 -> 8.6e-8).  With ``cfg.min_probe_common > 1``
    a candidate must share that many cold probes.  Verification computes the
    EXACT intersection count via JVM array_intersect (the reference's
    sorted-array merge intersection, src/greedy.cpp:39-67), so distances are
    identical to index mode; only candidate discovery is probabilistic.

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

    def probes(sk: DataFrame, new: bool) -> DataFrame:
        return sk.select(F.col("doc_id"), F.col("n"), F.lit(new).alias("new"),
                         F.explode(F.slice("sig", 1, b)).alias("h"))

    # r9: the sketch barrier is a few small files at bench scale, so the
    # posting explode + broadcast-hash self-join + pair dedup would inherit
    # 1-2 partitions and run serial (measured: the banded twin's candidate
    # build was ~5 s of an 8 s wall); spread the compact sketch rows BEFORE
    # the explode (file-count gated — a many-file barrier at scale passes
    # through untouched)
    from rabbittclust_spark.operators.sketch import _spread_for_cpu_kernel
    sketches = sketches.select("doc_id", "n", "sig")
    probed = probes(_spread_for_cpu_kernel(sketches), True)
    docs = sketches
    if settled is not None:
        probed = probes(settled, False).unionByName(probed)
        docs = settled.select("doc_id", "n", "sig").unionByName(sketches)
    probed, star = _apply_posting_cap(
        probed, "h", cfg, "probe" if settled is None else "append")
    pa, pb = probed.where("new").alias("a"), probed.alias("b")
    matched = (
        pa.join(pb, F.col("a.h") == F.col("b.h"))
        # one row per (pair, shared probe): a new x new pair is met from both
        # sides, so keep only its a < b orientation.  With settled=None every
        # row is new and this folds to a.doc_id < b.doc_id
        .where((F.col("a.doc_id") < F.col("b.doc_id"))
               | (~F.col("b.new") & (F.col("a.doc_id") != F.col("b.doc_id"))))
        .where(size_ratio_pred(F.col("a.n"), F.col("b.n"), cfg.max_size_ratio()))
        .select(F.least(F.col("a.doc_id"), F.col("b.doc_id")).alias("src"),
                F.greatest(F.col("a.doc_id"), F.col("b.doc_id")).alias("dst"))
    )
    if cfg.min_probe_common > 1:
        # scale lever for common-phrase-dense corpora (see config.py): most
        # ACCIDENTAL candidates share exactly one probe hash, while real dup
        # pairs share many — the count is a map-side-combinable 16-byte-row
        # aggregate, vastly cheaper than shipping two full sketches per
        # candidate through the verify join it gates
        matched = (matched.groupBy("src", "dst")
                   .agg(F.count("*").alias("_pc"))
                   .where(F.col("_pc") >= cfg.min_probe_common)
                   .select("src", "dst"))
    if star is None:
        cand = matched if cfg.min_probe_common > 1 else matched.distinct()
    else:
        if settled is not None:
            # settled x settled pairs are already known: keep the star
            # candidates touching >= 1 new doc
            new_ids = sketches.select("doc_id")
            star = (star.join(new_ids.withColumnRenamed("doc_id", "src"),
                              "src", "left_semi")
                    .unionByName(star.join(
                        new_ids.withColumnRenamed("doc_id", "dst"),
                        "dst", "left_semi")))
        # escalated hot-hash candidates verify exactly like the others; the
        # size-ratio pred is skipped for them, which is safe — ratio-violating
        # pairs mathematically cannot pass the common-count/threshold filters.
        # r9: ONE distinct over the union (see candidate_pairs_banded) —
        # identical pair set, one shuffle instead of two when the cap escalates
        cand = matched.union(star).distinct()
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
    exploded, star = _apply_posting_cap(exploded, "bk", cfg, "banded")
    a = exploded.alias("a")
    b = exploded.alias("b")
    cand = (
        a.join(b, F.col("a.bk") == F.col("b.bk"))
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("src"), F.col("b.doc_id").alias("dst"))
    )
    # r9: ONE distinct over raw-pairs ∪ star — distinct(A ∪ B) ==
    # distinct(distinct(A) ∪ B), and the fused form shuffles the raw pair
    # set once instead of raw + deduped (the md5-token twin's hot-band case
    # re-shuffled ~1.6M deduped pairs a second time).  star=None keeps the
    # exact previous plan.
    if star is not None:
        cand = cand.union(star)
    return cand.distinct()


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
