"""High-level deduplication suite over a documents DataFrame.

Five dup-detection families, all ending in the same edges -> connected
components -> assignments machinery:

- exact            hash(text) groupBy (pre-collapse; also hot-band defusal #1,
                   SURVEY.md §7 "what's hard")
- MinHash + LSH    the flagship pipeline (reference parity semantics); its
                   stage graph (flagship_stages) is defined once here and
                   run in memory, persisted (plans/pipeline.py) or timed
- SimHash          Charikar blocks as LSH keys, Hamming verify
- n-gram Jaccard   token-shingle set similarity (SQL-expressible; oracle-checked)
- embedding cosine see operators/ann.py

The SimHash, n-gram and weighted-MinHash pairs come from the one posting
self-join (pairs.posting_pairs); each family keeps only its own exact
verification or count-based score.
"""

from __future__ import annotations

import dataclasses
import sys

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from rabbittclust_spark.config import PipelineConfig
from rabbittclust_spark.functions.simhash import simhash_block_exprs
# flagship_stages calls several of these through ``ops`` (default: this
# module), so an import that looks unused here may still be load-bearing
from rabbittclust_spark.operators.components import connected_components
from rabbittclust_spark.operators.pairs import build_edges, posting_pairs
from rabbittclust_spark.operators.postprocess import assignments_from_components
from rabbittclust_spark.operators.sketch import (
    sketch_minhash,
    sketch_minhash_bands,
    sketch_simhash,
)


def exact_dedup(docs: DataFrame, id_col: str = "doc_id",
                text_col: str = "text") -> DataFrame:
    """Exact duplicate groups: (doc_id, canonical_id = min doc_id of the
    identical-text group) — min-over-window on md5(text).

    r9 (guide §2.4 "remove shuffles outright"): ONE hash-partition exchange
    of 40-byte (doc_id, h) rows replaces the previous materialize + groupBy
    + null-safe join-back (one parquet round-trip plus two shuffles).  NULL
    texts hash to NULL, and window PARTITION BY groups NULL keys together —
    exactly the eqNullSafe join-back semantics.  The text column itself is
    never shuffled (hashing happens before the exchange)."""
    from pyspark.sql import Window

    h = docs.select(
        F.col(id_col).cast("long").alias("doc_id"),
        F.md5(F.col(text_col)).alias("h"),
    )
    w = Window.partitionBy("h")
    return h.select("doc_id", F.min("doc_id").over(w).alias("canonical_id"))


def flagship_stages(base: DataFrame, cfg: PipelineConfig, run_stage,
                    ops=None) -> dict[str, DataFrame]:
    """The flagship stage graph, the one definition every caller runs:
    exact_groups -> sketches -> edges -> membership -> assignments.

    ``base`` is the (doc_id long, text) input.  Each stage is a named
    compute thunk handed to ``run_stage(name, reads, compute)``, which
    returns the DataFrame later stages read; ``reads`` names the stages the
    thunk reads, "docs" standing for ``base``.  The runner decides what a
    stage costs: minhash_dedup writes temp-parquet barriers, the persistent
    pipeline (plans/pipeline.py) writes resumable stage tables,
    tools/stage_profile.py times each stage.

    The thunks look their operators up on ``ops`` when they run (default:
    this module), so a caller can route the calls through names of its own
    module: plans/pipeline.py passes itself, and the spans perfbench's
    tracer wraps around ``plans.pipeline.build_edges`` etc. keep firing.
    """
    ops = ops if ops is not None else sys.modules[__name__]
    out: dict[str, DataFrame] = {}

    def _exact_groups():
        if cfg.exact_prededup:
            return ops.exact_dedup(base)
        return base.select("doc_id", F.col("doc_id").alias("canonical_id"))

    def _sketches():
        # the kernel's spread gate is the only repartition: it counts the
        # exact_groups files with the text scan's, and that table stays a
        # few files wherever the text is a single-file scan
        canon = base
        if cfg.exact_prededup:
            canon = base.join(
                out["exact_groups"]
                .where(F.col("doc_id") == F.col("canonical_id"))
                .select("doc_id"), "doc_id")
        if cfg.pair_mode == "banded":
            # fused kernel: ONE shingling pass yields the bottom-s sketch and
            # the band keys, so the edges stage never re-shingles
            return ops.sketch_minhash_bands(canon, cfg)
        return ops.sketch_minhash(canon, cfg)

    def _edges():
        sk = out["sketches"]
        bands = (sk.select("doc_id", "band_keys")
                 if cfg.pair_mode == "banded" else None)
        return ops.build_edges(sk.select("doc_id", "len", "n", "sig"), cfg,
                               bands=bands)

    def _assignments():
        # node universe = the sketch table: identical to "canon docs above
        # min_len" but never re-derives `base` (an extract-UDF base would
        # otherwise re-execute here)
        canon_assign = ops.assignments_from_components(
            out["sketches"].select("doc_id"), out["membership"])
        # propagate cluster ids back through the exact-dup mapping; docs
        # below min_len have no sketch and drop out, as the reference's
        # minLen filter drops them
        return (
            out["exact_groups"]
            .join(canon_assign.withColumnRenamed("doc_id", "canonical_id"),
                  "canonical_id")
            .select("doc_id", "cluster_id",
                    (F.col("doc_id") == F.col("cluster_id")).alias("is_rep"))
        )

    out["exact_groups"] = run_stage("exact_groups", ("docs",), _exact_groups)
    out["sketches"] = run_stage("sketches", ("docs", "exact_groups"),
                                _sketches)
    out["edges"] = run_stage("edges", ("sketches",), _edges)
    out["membership"] = run_stage(
        "membership", ("edges",),
        lambda: ops.connected_components(out["edges"]))
    out["assignments"] = run_stage(
        "assignments", ("membership", "exact_groups", "sketches"),
        _assignments)
    return out


def minhash_dedup(docs: DataFrame, cfg: PipelineConfig,
                  id_col: str = "doc_id", text_col: str = "text",
                  sketch_df: DataFrame | None = None) -> dict[str, DataFrame]:
    """The flagship pipeline: docs -> assignments at cfg.threshold.

    Runs flagship_stages in memory (SURVEY.md §7 minimum slice): exact
    pre-collapse (the identity map when cfg.exact_prededup is off) ->
    bottom-s MinHash sketch -> candidate pairs (index/probe/banded mode) ->
    Mash distance -> threshold filter -> large-star/small-star CC ->
    assignments with singletons.  Returns every stage's DataFrame (in
    banded mode the sketches table carries band_keys, as the pipeline's
    stage table does).

    The exact_groups and sketches stages are written once as temp-parquet
    barriers (sources.tables.materialize), so the expensive UDF/join lineage
    executes exactly once even though the candidate build, CC and the final
    assignment join consume them in several actions.  The other stages stay
    lazy: build_edges and connected_components write their own barriers or
    collect, and the edges plan ends in a narrow distance filter over the
    pair_counts barrier that CC's single limited collect executes once.

    ``sketch_df`` swaps in a precomputed sketch table for the default
    rolling-shingle kernel — (doc_id, len, n, sig array<long>) with sig
    sorted ascending, plus a band_keys array column when
    cfg.pair_mode == "banded".  The candidate/verify/threshold/CC path is
    hash-agnostic (any sorted signature array), which is what lets the
    driver oracle run this exact operator over an SQL-expressible md5-token
    bottom-s MinHash (same recipe as simhash_edges' hook) while production
    keeps the rolling shingle hash.  The caller owns pre-collapse
    consistency: when cfg.exact_prededup is on, sketch_df must cover
    exactly the canonical docs at or above cfg.min_len.
    """
    from rabbittclust_spark.sources.tables import materialize

    if (sketch_df is not None and cfg.pair_mode == "banded"
            and "band_keys" not in sketch_df.columns):
        raise ValueError(
            "banded pair_mode with sketch_df requires a band_keys column")

    def run_stage(name, reads, compute):
        if name not in ("exact_groups", "sketches"):
            return compute()
        use_given = name == "sketches" and sketch_df is not None
        return materialize(sketch_df if use_given else compute(), name)

    base = docs.select(F.col(id_col).cast("long").alias("doc_id"),
                       F.col(text_col).alias("text"))
    return flagship_stages(base, cfg, run_stage)


def simhash_edges(docs: DataFrame, cfg: PipelineConfig,
                  id_col: str = "doc_id", text_col: str = "text",
                  sketch_df: DataFrame | None = None) -> DataFrame:
    """SimHash near-dup edges: (src, dst, hamming) with hamming <=
    cfg.simhash_hamming_max.

    Candidate generation: split each 64-bit fingerprint into
    (hamming_max + 1) blocks; by pigeonhole every qualifying pair shares at
    least one block, so recall is 1.0.  Verification: JVM-side
    bit_count(xor) — no Python in the hot path after sketching.

    ``sketch_df`` swaps in a precomputed (doc_id, simhash long) table for
    the default rolling-shingle sketch — the block/cap/verify path is
    hash-agnostic (any 64-bit fingerprint), which is what lets the driver
    oracle run this exact operator over an SQL-expressible md5-token
    SimHash while production keeps the rolling shingle hash.
    """
    from rabbittclust_spark.sources.tables import materialize as _mat

    num_blocks = cfg.simhash_hamming_max + 1
    # barrier before the self-join: both join branches would otherwise
    # re-execute the sketch UDF (see minhash_dedup)
    sh = _mat(sketch_df if sketch_df is not None
              else sketch_simhash(docs, cfg, id_col=id_col, text_col=text_col),
              "simhash")

    # block keys as pure shift/mask column expressions — zero Python after
    # the sketch UDF (parity with functions.simhash.simhash_blocks is tested).
    # r9: spread the barrier read-back before the explode so the block
    # self-join doesn't inherit a 1-2 file scan (see pairs.pair_counts_probe)
    from rabbittclust_spark.operators.sketch import _spread_for_cpu_kernel
    keyed = _spread_for_cpu_kernel(sh).select(
        "doc_id", "simhash",
        F.explode(simhash_block_exprs(F.col("simhash"), num_blocks)).alias("bk"))

    def hamming(x, y):
        return F.bit_count(x.bitwiseXOR(y))

    # block-key skew cap: a block value shared by p docs (identical
    # boilerplate fingerprint regions at web scale) emits ~p^2/2 join rows;
    # posting_pairs escalates it to anchor-star candidates — the pigeonhole
    # recall-1.0 guarantee survives for hot groups whose members are within
    # hamming_max of an anchor (the identical/near-identical fingerprint case
    # the cap exists for), recovered transitively by the CC consumer.  The
    # hamming bound prunes the block-join rows before the pair dedup (most
    # candidates fail it), and verifies every pair, star pairs included,
    # from the fingerprints the pairs carry
    pairs = posting_pairs(
        keyed, "bk", cfg, "simhash",
        prune=("simhash",
               lambda x, y: hamming(x, y) <= cfg.simhash_hamming_max))
    return (pairs.select("src", "dst", hamming(F.col("v1"), F.col("v2"))
                         .alias("hamming"))
            .where(F.col("hamming") <= cfg.simhash_hamming_max))


def simhash_dedup(docs: DataFrame, cfg: PipelineConfig,
                  id_col: str = "doc_id", text_col: str = "text",
                  sketch_df: DataFrame | None = None) -> DataFrame:
    """SimHash dedup assignments: (doc_id, cluster_id, is_rep)."""
    edges = simhash_edges(docs, cfg, id_col=id_col, text_col=text_col,
                          sketch_df=sketch_df)
    membership = connected_components(edges)
    base = docs.select(F.col(id_col).cast("long").alias("doc_id"),
                       F.col(text_col).alias("text"))
    return assignments_from_components(
        base.filter(F.length("text") >= cfg.min_len), membership
    )


def token_ngrams(df: DataFrame, n: int, id_col: str = "doc_id",
                 text_col: str = "text") -> DataFrame:
    """(doc_id, gram) distinct word n-grams, pure column expressions
    (split -> transform(sequence) -> array_distinct -> explode)."""
    toks = F.split(F.col(text_col), " ")
    # guard: sequence(0, -1) in Spark descends, so gate on size >= n
    grams = F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - n),
            lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return df.select(
        F.col(id_col).cast("long").alias("doc_id"),
        F.explode(F.array_distinct(grams)).alias("gram"),
    )


def ngram_jaccard_pairs(docs: DataFrame, n: int = 3, min_jaccard: float = 0.2,
                        block_col: str | None = None, id_col: str = "doc_id",
                        text_col: str = "text",
                        max_posting: int | None = 2_000) -> DataFrame:
    """Token n-gram Jaccard similar pairs: (src, dst, common, jaccard).

    Entirely JVM-side (no UDFs).  ``block_col`` restricts comparisons to a
    blocking key (at web scale: a cheap pre-filter such as source/host/lang);
    None compares all pairs (tests only).
    """
    cols = [id_col, text_col] + ([block_col] if block_col else [])
    # r9: gram construction (split + transform + array_distinct + explode)
    # is CPU-bound and inherits scan partitioning — a single-file corpus
    # would build every gram on one core (guide §2.6); the spread is
    # file-count-gated so many-split scans at scale pass through untouched
    from rabbittclust_spark.operators.sketch import _spread_for_cpu_kernel
    base = _spread_for_cpu_kernel(docs.select(*cols))
    g = token_ngrams(base, n, id_col=id_col, text_col=text_col)
    if block_col:
        g = g.join(base.select(F.col(id_col).cast("long").alias("doc_id"),
                               F.col(block_col).alias("_blk")), "doc_id")
        join_cond = ["gram", "_blk"]
    else:
        join_cond = ["gram"]
    # one text pass: the cap's count job and BOTH self-join branches read
    # the gram table from parquet instead of re-running tokenization
    from rabbittclust_spark.sources.tables import materialize as _mat
    g = _mat(g, "ngrams")
    # per-doc sizes from the UNCAPPED gram table: the cap below may only
    # shrink the intersection (`common`), never the denominator — dropping
    # hot grams from |A| and |B| as well would let two boilerplate-heavy
    # docs report near-1.0 jaccard from a tiny cold-gram tail (a
    # false-positive dup pair), the opposite of the precision-safe
    # underestimate the capped reference index guarantees
    sizes = g.groupBy("doc_id").agg(F.count("*").alias("n_grams"))
    # hot-gram cap per join group (reference --max-posting semantics, drop
    # mode — this is a COUNTING join, so star escalation cannot apply;
    # dropped grams underestimate `common` for pairs sharing them, exactly
    # like the reference's capped inverted index).  Never fires at oracle
    # scale.
    pairs = posting_pairs(
        g, join_cond, dataclasses.replace(PipelineConfig(),
                                          max_posting=max_posting),
        "ngram", star=False)
    j = F.col("common") / (F.col("na") + F.col("nb") - F.col("common"))
    out = (
        pairs.join(sizes.withColumnRenamed("doc_id", "src")
                        .withColumnRenamed("n_grams", "na"), "src")
        .join(sizes.withColumnRenamed("doc_id", "dst")
                   .withColumnRenamed("n_grams", "nb"), "dst")
        # filter on the UNROUNDED jaccard (matches the DuckDB oracle, which
        # also filters unrounded); round only for output
        .where(j >= min_jaccard)
        .withColumn("jaccard", F.round(j, 6))
        .select("src", "dst", "common", "jaccard")
    )
    return out


def wminhash_pairs(docs: DataFrame, cfg: PipelineConfig, num_samples: int = 128,
                   min_wjaccard: float = 0.2, id_col: str = "doc_id",
                   text_col: str = "text",
                   sketch_df: DataFrame | None = None) -> DataFrame:
    """Weighted-MinHash similar pairs: (src, dst, agree, wjaccard_est).

    Positional posting join: explode (position, key) and equi-join — sig[p]
    collides iff the ICWS samples agree, so the group count estimates
    weighted Jaccard.  Same inverted-index shape as every other signature
    family (skew handled identically).

    ``sketch_df`` swaps in a precomputed (doc_id, sig array<long>) table
    (sig length must equal num_samples) for the default ICWS kernel — the
    positional-posting/cap/star/agree path is sample-agnostic, which is
    what lets the driver oracle run this exact operator over an
    SQL-expressible positional md5 MinHash (the sketch_df recipe of
    minhash_dedup/simhash_edges) while production keeps ICWS."""
    from rabbittclust_spark.operators.sketch import (
        _spread_for_cpu_kernel,
        sketch_wminhash,
    )
    from rabbittclust_spark.sources.tables import materialize as _mat

    sk = _mat(sketch_df if sketch_df is not None
              else sketch_wminhash(docs, cfg, num_samples=num_samples,
                                   id_col=id_col, text_col=text_col),
              "wminhash")
    # r9: spread the barrier read-back before the explode (see
    # pairs.pair_counts_probe)
    post = _spread_for_cpu_kernel(sk).select(
        "doc_id", F.posexplode("sig").alias("pos", "key"))
    # hot-(pos,key) cap: identical/boilerplate docs agree at EVERY position,
    # so one (pos, sample) group of p docs emits ~p^2/2 join rows.  The
    # counted agreement runs in drop semantics (it underestimates for pairs
    # sharing capped positions, like the reference's capped index), but hot
    # keys ALSO emit anchor-star candidates whose agreement is computed
    # EXACTLY from the full signatures below — without that, a group of
    # more than max_posting near-identical docs has every position hot,
    # loses every posting row, and silently reports zero pairs (the recall
    # cliff the MinHash path's escalation already guards against).
    pairs = posting_pairs(post, ["pos", "key"], cfg, "wminhash")
    # exact sig-zip agreement for star candidates: positional equality over
    # the two full signatures (JVM zip_with, no Python); it is >= the capped
    # count, which stays the agreement of every other pair
    sigs = sk.select("doc_id", "sig")
    star_pairs = (
        pairs.where("star")
        .join(sigs.toDF("src", "_s1"), "src")
        .join(sigs.toDF("dst", "_s2"), "dst")
        .select("src", "dst",
                F.size(F.filter(F.zip_with("_s1", "_s2", lambda x, y: x == y),
                                lambda m: m)).alias("agree")))
    pairs = (pairs.where(~F.col("star"))
             .select("src", "dst", F.col("common").alias("agree"))
             .unionByName(star_pairs))
    est = F.col("agree") / F.lit(float(num_samples))
    return (pairs.where(est >= min_wjaccard)
            .select("src", "dst", "agree", F.round(est, 6).alias("wjaccard_est")))
