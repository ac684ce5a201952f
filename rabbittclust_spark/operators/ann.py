"""Similarity search over embedding columns (array<float>).

- brute-force cosine top-k: correctness baseline; broadcast the (small) query
  set against the corpus, JVM-side zip_with/aggregate dot products, ranking
  window for top-k.
- LSH-bucketed cosine (random hyperplane / sign-random-projection): the scale
  path — bucket by sign-pattern key, compare only within bucket (multi-probe
  via multiple independent tables).
- embedding near-dup pairs: cosine >= tau edges, feeding the same connected-
  components machinery as the text dedup paths.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from rabbittclust_spark.functions.distances import cosine_expr
from rabbittclust_spark.functions.hashing import splitmix64
from rabbittclust_spark.sources.tables import empty_frame


def _prep(embeddings: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    return embeddings.select(
        F.col(id_col).cast("long").alias("vec_id"),
        F.col(vec_col).cast("array<double>").alias("vec"),
    )


def brute_force_topk(corpus: DataFrame, queries: DataFrame, k: int = 5,
                     id_col: str = "vec_id", vec_col: str = "embedding",
                     round_dp: int | None = 6) -> DataFrame:
    """Exact cosine top-k: (query_id, neighbor_id, cos, rank), self excluded.

    The query side is broadcast — at scale the corpus stays partitioned and
    never shuffles; each task scans its corpus slice against all queries.
    Ties broken by neighbor_id for determinism.
    """
    from rabbittclust_spark.operators.sketch import _spread_for_cpu_kernel

    # r9: spread the few-file corpus scan (the broadcast-nested-loop stream
    # side otherwise scores every (corpus, query) pair on one core) and
    # fold each side's norm once per VECTOR instead of once per pair — the
    # expression tree matches cosine_expr exactly, so cos is bit-identical.
    c = _spread_for_cpu_kernel(_prep(corpus, id_col, vec_col)) \
        .withColumn("_nc", _norm_expr(F.col("vec")))
    q = _prep(queries, id_col, vec_col).select(
        F.col("vec_id").alias("query_id"), F.col("vec").alias("qvec"),
        _norm_expr(F.col("vec")).alias("_nq"))
    joined = c.join(F.broadcast(q), F.col("vec_id") != F.col("query_id"))
    dot = F.aggregate(F.zip_with(F.col("vec"), F.col("qvec"),
                                 lambda x, y: x * y),
                      F.lit(0.0), lambda acc, x: acc + x)
    cos = F.when((F.col("_nc") > 0) & (F.col("_nq") > 0),
                 dot / (F.col("_nc") * F.col("_nq"))).otherwise(F.lit(0.0))
    scored = joined.select("query_id", F.col("vec_id").alias("neighbor_id"),
                           cos.alias("cos"))
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(),
                                               F.col("neighbor_id").asc())
    out = (scored.withColumn("rank", F.row_number().over(w))
           .where(F.col("rank") <= k))
    if round_dp is not None:
        out = out.withColumn("cos", F.round("cos", round_dp))
    return out.select("query_id", "neighbor_id", "cos", "rank")


def _norm_expr(col) -> "F.Column":
    """sqrt of the left-to-right sum-of-squares fold — EXACTLY the na/nb
    sub-expression of functions.distances.cosine_expr, factored out so it
    can be evaluated once per vector instead of once per candidate pair."""
    return F.sqrt(F.aggregate(col, F.lit(0.0), lambda acc, x: acc + x * x))


def _verify_cosine(cand: DataFrame, e: DataFrame, tau: float,
                   round_dp: int | None) -> DataFrame:
    """(src, dst) candidates -> (src, dst, cos) with cos >= tau: join the
    vectors back and score with the JVM-side cosine fold (shared verify tail
    of every bucketed candidate path).

    r9 (guide §2.3/§1.2): per-vector norms are folded ONCE on each join
    input (N vectors) instead of per candidate row (~N * bucket pairs); the
    dot product is the only remaining per-pair fold.  The norm expression
    and the final when/divide tree are identical to cosine_expr, so `cos`
    is bit-for-bit unchanged."""
    en = e.select("vec_id", "vec", _norm_expr(F.col("vec")).alias("_n"))
    joined = (cand
              .join(en.select(F.col("vec_id").alias("src"),
                              F.col("vec").alias("va"),
                              F.col("_n").alias("na")), "src")
              .join(en.select(F.col("vec_id").alias("dst"),
                              F.col("vec").alias("vb"),
                              F.col("_n").alias("nb")), "dst"))
    dot = F.aggregate(F.zip_with(F.col("va"), F.col("vb"),
                                 lambda x, y: x * y),
                      F.lit(0.0), lambda acc, x: acc + x)
    cos = F.when((F.col("na") > 0) & (F.col("nb") > 0),
                 dot / (F.col("na") * F.col("nb"))).otherwise(F.lit(0.0))
    out = joined.select("src", "dst", cos.alias("cos")).where(F.col("cos") >= tau)
    if round_dp is not None:
        out = out.withColumn("cos", F.round("cos", round_dp))
    return out


def embedding_neardup_pairs(embeddings: DataFrame, tau: float = 0.95,
                            id_col: str = "vec_id", vec_col: str = "embedding",
                            use_lsh: bool = False,
                            num_planes: int | None = None,
                            num_tables: int = 4, seed: int = 7,
                            round_dp: int | None = 6) -> DataFrame:
    """Near-duplicate embedding pairs: (src, dst, cos) with cos >= tau.

    use_lsh=False: all-pairs (tests / small corpora).
    use_lsh=True: delegates to :func:`embedding_neardup_lsh` — ONE hardened
    LSH code path (auto-sized planes by default, capped buckets with
    anchor-star escalation).  The pre-r5 inline branch kept a fixed
    num_planes=16 and an uncapped bucket self-join next to the hardened
    entrypoint — exactly the O(N^2 / 2^planes) shape the auto-sizing work
    exists to prevent, waiting for whoever found this wrapper first.
    """
    e = _prep(embeddings, id_col, vec_col)
    if use_lsh:
        dim_row = e.select(F.size("vec").alias("d")).first()
        if dim_row is None:
            return e.sparkSession.createDataFrame(
                [], "src long, dst long, cos double")
        return embedding_neardup_lsh(
            e, tau=tau, dim=int(dim_row["d"]), num_planes=num_planes,
            num_tables=num_tables, seed=seed, round_dp=round_dp,
            id_col="vec_id", vec_col="vec")
    a = e.select(F.col("vec_id").alias("src"), F.col("vec").alias("va"))
    b = e.select(F.col("vec_id").alias("dst"), F.col("vec").alias("vb"))
    cand = a.join(b, F.col("src") < F.col("dst"))
    cos = cosine_expr(F.col("va"), F.col("vb"))
    out = cand.select("src", "dst", cos.alias("cos")).where(F.col("cos") >= tau)
    if round_dp is not None:
        out = out.withColumn("cos", F.round("cos", round_dp))
    return out


def sparse_srp_index_pairs(dim: int, num_planes: int, num_tables: int,
                           seed: int = 7) -> list[list[tuple[int, int]]]:
    """Deterministic sparse random-hyperplane spec: for each (table, plane)
    a coordinate pair (i, j) — the hyperplane is e_i - e_j, so the hash bit
    is sign(v[i] - v[j]).  A genuine SRP-LSH family whose keys are pure
    comparisons, computable as column expressions AND as plain SQL (the
    DuckDB oracle reproduces the bucketing bit-for-bit)."""
    rng = np.random.default_rng(seed)
    tables = []
    for _ in range(num_tables):
        planes = []
        for _ in range(num_planes):
            i = int(rng.integers(0, dim))
            j = int(rng.integers(0, dim - 1))
            if j >= i:
                j += 1
            planes.append((i, j))
        tables.append(planes)
    return tables


def sparse_srp_bucket_keys(vectors: DataFrame, dim: int, num_planes: int = 4,
                           num_tables: int = 8, seed: int = 7,
                           multiprobe: int = 0) -> DataFrame:
    """(vec_id, bucket) keys for the sparse SRP family — num_tables rows per
    vector (times 1+multiprobe), entirely JVM-side column expressions (no
    UDF).  Bucket = (table_index << 32) | bit-packed sign pattern.

    ``multiprobe`` > 0 additionally emits the keys with each of the first
    ``multiprobe`` bits flipped — probing neighboring buckets lifts recall
    at fixed table count (candidates grow ~(1+multiprobe)x); joining probed
    keys against exact keys covers every pair within Hamming distance 1 of
    the flipped bits (XOR symmetry)."""
    tables = sparse_srp_index_pairs(dim, num_planes, num_tables, seed)
    keys = []
    for t, planes in enumerate(tables):
        key = F.lit(t << 32).cast("long")
        for p, (i, j) in enumerate(planes):
            bit = (F.element_at("vec", i + 1) > F.element_at("vec", j + 1)) \
                .cast("long")
            key = key + F.shiftleft(bit, p)
        keys.append(key)
        for p in range(min(multiprobe, num_planes)):
            keys.append(key.bitwiseXOR(F.lit(1 << p)))
    return vectors.select("vec_id", F.explode(F.array(*keys)).alias("bucket"))


def sparse_srp_bucket_keys_kernel(vectors: DataFrame, dim: int,
                                  num_planes: int = 4, num_tables: int = 8,
                                  seed: int = 7,
                                  multiprobe: int = 0) -> DataFrame:
    """Arrow/numpy twin of :func:`sparse_srp_bucket_keys` producing
    bit-identical (vec_id, bucket) rows.  The column-expression path builds
    num_tables*(1+multiprobe) keys of num_planes comparisons each; past
    ~64 total key expressions Spark's whole-stage codegen overflows the
    64 KB JVM method limit and falls back to interpreted evaluation
    (observed 'Code grows beyond 64 KB' at num_planes=11, tables=8,
    multiprobe=2).  This kernel evaluates the same comparisons as one
    vectorized numpy pass per Arrow batch — use it when
    num_tables * (1 + min(multiprobe, num_planes)) * num_planes is large
    (embedding_neardup_lsh switches automatically)."""
    tables = sparse_srp_index_pairs(dim, num_planes, num_tables, seed)
    n_probe = min(multiprobe, num_planes)

    def gen(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            vecs = np.asarray(
                [np.asarray(v, dtype=np.float64) for v in pdf["vec"]])
            ids = pdf["vec_id"].to_numpy()
            out_ids, out_keys = [], []
            for t, planes in enumerate(tables):
                key = np.full(len(pdf), t << 32, dtype=np.int64)
                for p, (i, j) in enumerate(planes):
                    key += (vecs[:, i] > vecs[:, j]).astype(np.int64) << p
                out_ids.append(ids); out_keys.append(key)
                for p in range(n_probe):
                    out_ids.append(ids)
                    out_keys.append(key ^ np.int64(1 << p))
            yield pd.DataFrame({"vec_id": np.concatenate(out_ids),
                                "bucket": np.concatenate(out_keys)})

    return vectors.select("vec_id", "vec").mapInPandas(
        gen, schema="vec_id long, bucket long")


def auto_planes(n_vectors: int, target_bucket: int = 64,
                min_planes: int = 4, max_planes: int = 24) -> int:
    """num_planes sized to the corpus: aggregate candidate volume is
    ~N * num_tables * bucket_size / 2 with bucket_size ~= N / 2^planes on
    mostly-dissimilar data, so planes = ceil(log2(N / target_bucket)) keeps
    per-vector comparisons ~constant (target_bucket * tables) as N grows —
    the knob that keeps the LSH path linear instead of
    O(N^2 / 2^planes).  At 100k vectors -> 11 planes; at 1e9 -> 24."""
    import math
    if n_vectors <= target_bucket:
        return min_planes
    return max(min_planes,
               min(max_planes, math.ceil(math.log2(n_vectors / target_bucket))))


def _apply_bucket_cap(keyed: DataFrame, max_bucket: int | None,
                      star: bool = True
                      ) -> tuple[DataFrame, DataFrame | None]:
    """The LSH analog of the posting cap (operators/pairs._apply_posting_cap,
    same join-output-budget sizing: a bucket of b vectors emits ~b^2/2
    candidate rows, so max_bucket=2000 bounds the worst bucket at ~2M).
    On mostly-dissimilar corpora the sign patterns distribute uniformly, so
    at N >> 2^num_planes * max_bucket EVERY bucket is over budget — cap +
    star keeps candidate volume O(N * tables) instead of O(N^2 / 2^planes)
    (measured: 101k random 64-d vectors at num_planes=8 emit 160M candidate
    rows and spill >50 GB through the vector-payload verify join).
    Hot buckets escalate via anchor-star exactly like hot hashes: each of
    up to STAR_ANCHORS salted-hash anchors links to every member, exact
    cosine verify decides, CC consumers recover dense near-dup groups
    transitively.  Dropped/escalated
    bucket counts are logged — no silent caps."""
    if max_bucket is None:
        return keyed, None
    import dataclasses

    from rabbittclust_spark.config import PipelineConfig
    from rabbittclust_spark.operators.pairs import _apply_posting_cap

    # delegate to the shared posting-cap machinery (same aggregate-first
    # accounting, same HOT_KEY_COLLECT_LIMIT guard against collecting an
    # adversarially large hot set to the driver)
    cfg = dataclasses.replace(PipelineConfig(), max_posting=max_bucket,
                              hot_hash_mode="star" if star else "drop")
    return _apply_posting_cap(keyed, "bucket", cfg, "ann-bucket",
                              allow_star=star, doc_col="vec_id")


def embedding_neardup_lsh(embeddings: DataFrame, tau: float, dim: int,
                          num_planes: int | None = None, num_tables: int = 8,
                          seed: int = 7, id_col: str = "vec_id",
                          vec_col: str = "embedding",
                          round_dp: int | None = 6,
                          multiprobe: int = 0,
                          max_bucket: int | None = 2_000) -> DataFrame:
    """Near-dup pairs via sparse-SRP bucketed candidates + cosine verify:
    (src, dst, cos) with cos >= tau, src < dst.  The scale path: only
    within-bucket pairs are scored (O(candidates), never O(N^2)); recall is
    the standard LSH trade-off (>= 0.99 for high-similarity pairs at these
    defaults, measured in tests/test_ann.py; multiprobe > 0 probes
    neighboring buckets for more recall at ~(1+multiprobe)x candidates).

    ``num_planes=None`` (the default) sizes the tables to the corpus via
    :func:`auto_planes` (one count job).  A FIXED plane count is the
    measured scale failure mode: candidate volume is O(N^2 / 2^planes), and
    with the bucket cap saving the job from death a mis-sized table
    escalates every bucket to anchor-star — pair-list consumers then
    silently lose member-member pairs inside hot buckets.  Auto-sizing
    keeps buckets near ``target_bucket`` so the cap only fires on genuine
    boilerplate cliques (tests/test_ann.py pins pair-list recall at a
    cap-firing scale).  Pass an explicit int only when mirroring a fixed
    external configuration (the DuckDB oracle does).

    ``max_bucket`` (finite by default) caps oversized buckets with logged
    anchor-star escalation — see _apply_bucket_cap; it never fires at the
    driver-oracle scale, so the DuckDB twin mirrors the uncapped plan."""
    from rabbittclust_spark.operators.sketch import _spread_for_cpu_kernel

    # r9: the bucket-key Generate, the candidate broadcast-hash self-join
    # and the verify joins all inherit the scan's partitioning — spread a
    # few-file scan so they parallelize (no-op for many-split scans)
    e = _spread_for_cpu_kernel(_prep(embeddings, id_col, vec_col))
    if num_planes is None:
        num_planes = auto_planes(e.count())
    # past ~64 key expressions whole-stage codegen overflows the 64 KB JVM
    # method limit and the expr path runs interpreted — switch to the
    # bit-identical numpy kernel (equality pinned in tests/test_ann.py)
    _keys = (sparse_srp_bucket_keys_kernel
             if num_tables * num_planes * (1 + min(multiprobe, num_planes))
             > 64 else sparse_srp_bucket_keys)
    keyed = _keys(e, dim, num_planes=num_planes,
                  num_tables=num_tables, seed=seed)
    keyed, star = _apply_bucket_cap(keyed, max_bucket)
    if multiprobe > 0:
        probed = _keys(e, dim, num_planes=num_planes,
                       num_tables=num_tables, seed=seed,
                       multiprobe=multiprobe)
        probed, _ = _apply_bucket_cap(probed, max_bucket, star=False)
        a, b = probed.alias("a"), keyed.alias("b")
    else:
        a, b = keyed.alias("a"), keyed.alias("b")
    cand = (a.join(b, F.col("a.bucket") == F.col("b.bucket"))
            .where(F.col("a.vec_id") < F.col("b.vec_id"))
            .select(F.col("a.vec_id").alias("src"),
                    F.col("b.vec_id").alias("dst")))
    # r9: one fused distinct over raw-pairs ∪ star (identical set, one fewer
    # shuffle when the bucket cap escalates — see pairs.posting_pairs)
    if star is not None:
        cand = cand.union(star)
    cand = cand.distinct()
    # r9 barrier (guide §2.2): the candidate dedup's post-shuffle side is
    # small in BYTES but each surviving row costs a 64-element cosine fold
    # downstream — materialize with the wide flag so the dedup runs on all
    # cores and the verify becomes a parallel map over the barrier files
    # (measured 4.1 s -> ~1.9 s for the declared LSH slot at sf0.1)
    from rabbittclust_spark.sources.tables import materialize
    cand = materialize(cand, "ann_cand", wide=True)
    return _verify_cosine(cand, e, tau, round_dp)


def lsh_topk(corpus: DataFrame, queries: DataFrame, k: int = 5,
             dim: int | None = None, num_planes: int | None = None,
             num_tables: int = 8, seed: int = 7, multiprobe: int = 2,
             id_col: str = "vec_id", vec_col: str = "embedding",
             round_dp: int | None = 6) -> DataFrame:
    """Approximate cosine top-k via sparse-SRP buckets — the scale path for
    brute_force_topk: queries probe (multiprobe) bucket keys against the
    corpus's exact keys, only within-bucket candidates are scored, then a
    per-query ranking window.  Returns (query_id, neighbor_id, cos, rank);
    neighbors sharing no bucket are unreachable (the LSH trade-off — top-1
    recall on high-similarity neighbors is tested in tests/test_ann.py).

    ``num_planes=None`` sizes the tables to the corpus via
    :func:`auto_planes` (one count job) — per-query candidate volume is
    ~tables * (1+multiprobe) * N/2^planes, so a fixed plane count degrades
    to a linear scan per query as the corpus grows."""
    c = _prep(corpus, id_col, vec_col)
    q = _prep(queries, id_col, vec_col)
    if dim is None:
        row = c.select(F.size("vec").alias("d")).first()
        if row is None:
            return corpus.sparkSession.createDataFrame(
                [], "query_id long, neighbor_id long, cos double, rank int")
        dim = row["d"]
    if num_planes is None:
        num_planes = auto_planes(c.count())
    _keys = (sparse_srp_bucket_keys_kernel
             if num_tables * num_planes * (1 + min(multiprobe, num_planes))
             > 64 else sparse_srp_bucket_keys)
    keys_c = _keys(c, dim, num_planes=num_planes,
                   num_tables=num_tables, seed=seed)
    keys_q = _keys(q, dim, num_planes=num_planes,
                   num_tables=num_tables, seed=seed,
                   multiprobe=multiprobe) \
        .withColumnRenamed("vec_id", "query_id")
    cand = (keys_q.join(keys_c, "bucket")
            .where(F.col("query_id") != F.col("vec_id"))
            .select("query_id", F.col("vec_id").alias("neighbor_id"))
            .distinct()
            .join(q.select(F.col("vec_id").alias("query_id"),
                           F.col("vec").alias("qvec")), "query_id")
            .join(c.select(F.col("vec_id").alias("neighbor_id"),
                           F.col("vec").alias("nvec")), "neighbor_id"))
    cos = cosine_expr(F.col("nvec"), F.col("qvec"))
    scored = cand.select("query_id", "neighbor_id", cos.alias("cos"))
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(),
                                               F.col("neighbor_id").asc())
    out = (scored.withColumn("rank", F.row_number().over(w))
           .where(F.col("rank") <= k))
    if round_dp is not None:
        out = out.withColumn("cos", F.round("cos", round_dp))
    return out.select("query_id", "neighbor_id", "cos", "rank")


def srp_bucket_keys(vectors: DataFrame, num_planes: int = 16,
                    num_tables: int = 4, seed: int = 7) -> DataFrame:
    """Sign-random-projection bucket keys: (vec_id, bucket) — num_tables rows
    per vector.  Hyperplanes are derived from a fixed seed so keys are
    deterministic across workers; the dot products run as a vectorized
    pandas UDF (Arrow batches)."""
    from pyspark.sql.functions import pandas_udf

    dim_row = vectors.select(F.size("vec").alias("d")).first()
    if dim_row is None:
        return empty_frame(vectors.sparkSession, "vec_id long, bucket long")
    dim = dim_row["d"]
    rng = np.random.default_rng(seed)
    planes = rng.standard_normal((num_tables, num_planes, dim))

    @pandas_udf("array<long>")
    def bucket_udf(vecs: pd.Series) -> pd.Series:
        mat = np.vstack(vecs.to_numpy())  # (n, dim)
        keys = []
        signs_all = []
        for t in range(num_tables):
            proj = mat @ planes[t].T  # (n, num_planes)
            bits = (proj > 0).astype(np.uint64)
            key = np.zeros(len(mat), dtype=np.uint64)
            for p in range(num_planes):
                key |= bits[:, p] << np.uint64(p)
            # mix table index into the key so tables don't collide
            signs_all.append(splitmix64(key + np.uint64(t << 32)).astype(np.int64))
        keys = np.stack(signs_all, axis=1)
        return pd.Series(list(keys))

    return vectors.select("vec_id", F.explode(bucket_udf("vec")).alias("bucket"))


def _kmeans_centroids(sample: np.ndarray, nlist: int, seed: int = 7,
                      iters: int = 12) -> np.ndarray:
    """Deterministic spherical k-means on a driver-side SAMPLE: k-means++
    seeding from a fixed generator, then ``iters`` Lloyd rounds with
    L2-normalized centroids (cosine geometry).  The sample is bounded by
    the caller, so this is O(sample * nlist) driver work — the centroids
    are the only state shipped to executors (a tiny broadcast)."""
    rng = np.random.default_rng(seed)
    n = len(sample)
    if n == 0:
        # empty sample (e.g. a degenerate sampled read) — empty centroid
        # set; ivf_topk/ivf_index already handle cents.size == 0
        return np.zeros((0, sample.shape[1] if sample.ndim == 2 else 0))
    norms = np.linalg.norm(sample, axis=1, keepdims=True)
    x = sample / np.maximum(norms, 1e-12)
    # k-means++ seeding; `chosen` keeps rng.choice from re-picking an
    # already-selected point (float fuzz can leave d2 > 0 at a chosen
    # index), which would yield duplicate centroids and permanently empty
    # IVF lists
    chosen = np.zeros(n, dtype=bool)
    idx = [int(rng.integers(n))]
    chosen[idx[0]] = True
    d2 = np.full(n, np.inf)
    for _ in range(1, min(nlist, n)):
        d2 = np.minimum(d2, 1.0 - x @ x[idx[-1]])
        probs = np.maximum(d2, 0)
        probs[chosen] = 0.0
        s = probs.sum()
        if s <= 0:
            rest = np.flatnonzero(~chosen)
            nxt = int(rest[rng.integers(len(rest))])
        else:
            nxt = int(rng.choice(n, p=probs / s))
            if chosen[nxt]:
                nxt = int(np.flatnonzero(~chosen)[0])
        idx.append(nxt)
        chosen[nxt] = True
    c = x[idx].copy()
    for _ in range(iters):
        assign = np.argmax(x @ c.T, axis=1)
        for j in range(nlist):
            members = x[assign == j]
            if len(members):
                m = members.sum(axis=0)
                nm = np.linalg.norm(m)
                if nm > 0:
                    c[j] = m / nm
    return c


def ivf_index(corpus: DataFrame, nlist: int | None = None, seed: int = 7,
              sample_cap: int = 20_000, id_col: str = "vec_id",
              vec_col: str = "embedding",
              centroids: np.ndarray | None = None
              ) -> tuple[DataFrame, np.ndarray]:
    """IVF (inverted-file) index: (assignments(vec_id, list_id), centroids).

    The OTHER standard ANN scale path next to SRP-LSH: centroids are
    learned on a bounded driver-side sample (deterministic seed), then
    every corpus vector is assigned to its nearest centroid in a single
    narrow mapInPandas pass — no shuffle; the posting lists ARE the
    (vec_id, list_id) table, ready for an equi-join probe.  ``nlist=None``
    sizes the list count to ~sqrt(N) (the usual IVF-flat rule), the same
    corpus-adaptive sizing philosophy as auto_planes.

    ``centroids`` supplies a FIXED coarse quantizer and skips the learning
    step entirely (no count, no sample) — the driver oracle uses this to
    make the whole assignment+probe pipeline SQL-expressible with the
    centroids baked in as a literal table; it is also the natural API for
    re-using a quantizer across incremental batches."""
    e = _prep(corpus, id_col, vec_col)
    if centroids is not None:
        cents = np.ascontiguousarray(centroids, dtype=np.float64)
        if cents.size == 0:
            empty = e.sparkSession.createDataFrame(
                [], "vec_id long, list_id int")
            return empty, np.zeros((0, 0))
    else:
        n = e.count()
        if n == 0:
            empty = e.sparkSession.createDataFrame(
                [], "vec_id long, list_id int")
            return empty, np.zeros((0, 0))
        if nlist is None:
            import math
            nlist = max(1, min(4096, int(math.isqrt(n))))
        frac = min(1.0, sample_cap / max(n, 1))
        pdf = (e.sample(fraction=frac, seed=seed).limit(sample_cap).toPandas()
               if frac < 1.0 else e.toPandas())
        sample = np.asarray([np.asarray(v, dtype=np.float64)
                             for v in pdf["vec"]])
        if len(sample) == 0:
            empty = e.sparkSession.createDataFrame(
                [], "vec_id long, list_id int")
            return empty, np.zeros((0, 0))
        nlist = min(nlist, len(sample))
        cents = _kmeans_centroids(sample, nlist, seed=seed)

    def assign(batches):
        for b in batches:
            if len(b) == 0:
                continue
            vecs = np.asarray([np.asarray(v, dtype=np.float64)
                               for v in b["vec"]])
            # UNNORMALIZED inner product: argmax over centroids is
            # scale-invariant (the per-vector norm is one positive factor
            # across all centroids), and skipping the divide keeps the
            # scored floats in the same space as the SQL oracle's
            # list_inner_product on raw vectors (ADVICE r5: the normalized
            # detour could flip near-tie centroid assignments per engine)
            yield pd.DataFrame({
                "vec_id": b["vec_id"],
                "list_id": np.argmax(vecs @ cents.T, axis=1).astype(np.int32),
            })

    lists = e.select("vec_id", "vec").mapInPandas(
        assign, schema="vec_id long, list_id int")
    return lists, cents


def ivf_topk(corpus: DataFrame, queries: DataFrame, k: int = 5,
             nlist: int | None = None, nprobe: int = 4, seed: int = 7,
             id_col: str = "vec_id", vec_col: str = "embedding",
             round_dp: int | None = 6,
             centroids: np.ndarray | None = None) -> DataFrame:
    """Approximate cosine top-k via IVF-flat probe: queries visit their
    ``nprobe`` nearest centroid lists; only vectors in those lists are
    scored exactly, then a per-query ranking window — candidates per query
    are ~nprobe/nlist of the corpus instead of all of it.  Returns
    (query_id, neighbor_id, cos, rank), self excluded; recall vs the
    brute-force baseline is pinned in tests/test_ann.py.

    Scale shape: the probe is a plain equi-join on list_id (no cartesian,
    no skewed key unless the corpus is one dense ball — nlist ~ sqrt(N)
    keeps lists near sqrt(N) rows), and the centroid table never leaves
    the driver except as a closure broadcast."""
    c = _prep(corpus, id_col, vec_col)
    lists, cents = ivf_index(corpus, nlist=nlist, seed=seed,
                             id_col=id_col, vec_col=vec_col,
                             centroids=centroids)
    if cents.size == 0:
        return corpus.sparkSession.createDataFrame(
            [], "query_id long, neighbor_id long, cos double, rank int")
    q = _prep(queries, id_col, vec_col)
    nprobe = min(nprobe, len(cents))

    def probe(batches):
        for b in batches:
            if len(b) == 0:
                continue
            vecs = np.asarray([np.asarray(v, dtype=np.float64)
                               for v in b["vec"]])
            # unnormalized inner product — same ranking (positive per-query
            # scale factor), same float space as the SQL oracle (ADVICE r5)
            sims = vecs @ cents.T
            # stable sort: probe-list ties (equidistant centroids) resolve
            # to the lowest list_id, matching the SQL oracle's ORDER BY
            top = np.argsort(-sims, axis=1, kind="stable")[:, :nprobe]
            yield pd.DataFrame({
                "query_id": np.repeat(b["vec_id"].to_numpy(), nprobe),
                "list_id": top.reshape(-1).astype(np.int32),
            })

    q_lists = q.select("vec_id", "vec").mapInPandas(
        probe, schema="query_id long, list_id int")
    cand = (q_lists.join(lists, "list_id")
            .where(F.col("query_id") != F.col("vec_id"))
            .select("query_id", F.col("vec_id").alias("neighbor_id"))
            .distinct()
            .join(q.select(F.col("vec_id").alias("query_id"),
                           F.col("vec").alias("qvec")), "query_id")
            .join(c.select(F.col("vec_id").alias("neighbor_id"),
                           F.col("vec").alias("nvec")), "neighbor_id"))
    cos = cosine_expr(F.col("nvec"), F.col("qvec"))
    scored = cand.select("query_id", "neighbor_id", cos.alias("cos"))
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(),
                                               F.col("neighbor_id").asc())
    out = (scored.withColumn("rank", F.row_number().over(w))
           .where(F.col("rank") <= k))
    if round_dp is not None:
        out = out.withColumn("cos", F.round("cos", round_dp))
    return out.select("query_id", "neighbor_id", "cos", "rank")
