"""Pipeline configuration.

Mirrors the reference CLI surface (reference: src/main.cpp:113-254) as a frozen
dataclass.  Derived quantities (size ratio bound, minimum Jaccard, minimum
common count) reproduce the reference's pruning math:

- max size ratio      R = 2*e^{d*k} - 1              (src/MST.cpp:26-37)
- jaccard_min         x = e^{-d*k}; j = x/(2-x)      (src/greedy.cpp:652-653)
- common-count bound  ceil(j*(n1+n2)/(1+j))          (src/greedy.cpp:649-653)
- max resolvable d    -1/k * ln(2j/(1+j)), j=1/s     (src/sub_command.cpp:2346-2366)
"""

from __future__ import annotations

import hashlib
import json
import math
from dataclasses import asdict, dataclass, field


@dataclass(frozen=True)
class PipelineConfig:
    # --- sketching (reference: -k / -s / -c, src/main.cpp:81-83,312,344) ---
    shingle_k: int = 21           # char k-shingle width  (ref kmerSize=21)
    sketch_size: int = 1000       # bottom-s sketch size  (ref sketchSize=1000)
    containment: bool = False     # AAF/containment mode  (ref -c path)
    containment_variant: str = "aaf"  # distance form in containment mode:
                                  # "aaf" = -(1/k)*ln(c)  (src/MST.cpp:529-540)
                                  # "greedy" = -(1/k)*ln(2c/(1+c))
                                  #   (src/greedy.cpp:1245-1259, 2771-2788)
    contain_compress: int = 1000  # sketch size = len/contain_compress, min 100
    min_sketch_size: int = 100    # ref SketchInfo.cpp:705 (max(..., 100))
    lowercase: bool = False       # optional normalization before shingling

    # --- clustering threshold (reference: -d, src/main.cpp:296,527) ---
    threshold: float = 0.05
    mash_k: int | None = None     # k used in Mash distance; default = shingle_k

    # --- filters (reference: -m minLen, src/main.cpp:89) ---
    min_len: int = 100            # webtext default (genomes used 10_000)

    # --- candidate generation ---
    pair_mode: str = "probe"      # "probe" (bottom-B probe join + exact
                                  #  verify — the scale DEFAULT; assignments
                                  #  parity-tested identical to index mode)
                                  #  | "index" (reference-parity inverted
                                  #  index, src/MST.cpp:399-575)
                                  #  | "banded" (k-perm LSH bands)
    probe_hashes: int = 32        # B for probe mode; pair miss prob (1-J)^B:
                                  # at the d=0.05 boundary (J=0.212) that is
                                  # 4.9e-4 — inside the recall>=0.99 budget
                                  # with 31x smaller postings than full-sig
    min_probe_common: int = 1     # candidates must share >= this many of the
                                  # bottom-B probe hashes before the exact
                                  # verify join.  1 (default) = exact
                                  # index-mode parity.  2 is the scale lever
                                  # for common-phrase-dense corpora: most
                                  # accidental candidates share exactly one
                                  # probe hash, and the verify join ships two
                                  # full sketches per candidate — at the
                                  # d=0.05 boundary (J=0.212, B=32) the extra
                                  # miss is P[Binom(32,.212)<=1] ~= 5e-3,
                                  # and for real dup pairs (J>=0.3) <= 1.3e-4,
                                  # inside the recall>=0.99 budget
    max_posting: int | None = 2_000  # cap posting-list length (ref
                                    # --max-posting, src/dbscan.cpp:95-220;
                                    # the reference ships it disabled).
                                    # Finite BY DEFAULT, and sized by the
                                    # JOIN-OUTPUT budget, not posting length:
                                    # a key with posting p emits ~p^2/2 join
                                    # rows, so the cap bounds the worst key
                                    # to ~2M rows (20k would permit 2x10^8 —
                                    # measured blowing 60 GB of shuffle on a
                                    # 1M-doc corpus whose boilerplate hashes
                                    # sat just under that cap).  Recall: with
                                    # hot_hash_mode="star" capped keys
                                    # escalate to O(p) anchor candidates —
                                    # lossless for mutual near-dup groups
                                    # (tests/test_hot_keys.py) — and a true
                                    # near-dup pair shares ~J*B of its
                                    # bottom-B probes, so losing the hot
                                    # subset alone almost never loses the
                                    # pair. None = unlimited.
    strict_no_cap: bool = False   # raise instead of capping when any posting
                                  # group exceeds max_posting.  For harness
                                  # paths whose cross-engine oracle twin has
                                  # no cap (the md5-sketch driver slots): the
                                  # equivalence claim is "the cap never fires
                                  # at this scale", and this flag turns that
                                  # measured assumption into an executable
                                  # guard — if the driver corpus grows a hot
                                  # key, the gate fails with an attributable
                                  # cap-fired error instead of a value-hash
                                  # mismatch (ADVICE r7 #1).  Never set on
                                  # production paths: capping IS the behavior.
    hot_hash_mode: str = "star"   # what happens to postings above max_posting:
                                  # "star" = escalate via anchor-star candidate
                                  # pairs (STAR_ANCHORS salted-hash anchors
                                  # each linked to every other posting, O(p)
                                  # extra candidates, exact verify downstream
                                  # — recovers CC recall for hot near-dup
                                  # groups) | "drop" = reference
                                  # behavior (silently skip the hash).  Either
                                  # way the dropped/escalated hash and doc
                                  # counts are logged (no silent caps).
    # banded mode parameters (k-permutation positional signature)
    perm_count: int = 128
    rows_per_band: int = 2
    # exact-duplicate pre-collapse before sketching (hot-band defusal #1)
    exact_prededup: bool = True

    # --- postprocess (reference: --dedup-dist / --reps-per-cluster) ---
    dedup_dist: float | None = None
    reps_per_cluster: int = 1

    # --- communities over the persisted similarity graph (the reference's
    # clust-leiden pregraph surface, src/leiden.cpp:474-746: persist the
    # weighted graph once, re-run community detection at a new resolution
    # without recomputing pairs) ---
    community_resolution: float | None = None  # None = no communities stage
    community_knn: int | None = None           # per-node k-NN edge cap (--knn)
    community_max_iter: int = 20
    community_levels: int = 1     # >1 = multi-level Louvain coarsening
                                  # (reference community_multilevel backend,
                                  #  src/leiden.cpp:295-471)

    # --- determinism (reference seeds 23 / 348842630, src/SketchInfo.cpp:88-94) ---
    hash_seed: int = 23
    perm_seed: int = 348842630

    # --- FracMinHash / KSSD analog (ref --drlevel, src/main.cpp:159) ---
    frac_scale: int = 64          # keep hash iff h < 2^64/frac_scale
                                  # (ref drlevel=3 => 1/4096 sampling for genomes;
                                  #  webtext docs are shorter, default denser)

    # --- simhash (64-bit fingerprints, functions/simhash.py) ---
    simhash_hamming_max: int = 3  # near-dup if hamming distance <= this

    def __post_init__(self) -> None:
        if self.pair_mode not in ("index", "probe", "banded"):
            raise ValueError(
                f"pair_mode must be 'index', 'probe', or 'banded', got {self.pair_mode!r}")
        if self.perm_count % self.rows_per_band != 0:
            raise ValueError("perm_count must be divisible by rows_per_band")
        if self.containment_variant not in ("aaf", "greedy"):
            raise ValueError(
                f"containment_variant must be 'aaf' or 'greedy', "
                f"got {self.containment_variant!r}")
        if self.hot_hash_mode not in ("star", "drop"):
            raise ValueError(
                f"hot_hash_mode must be 'star' or 'drop', got {self.hot_hash_mode!r}")
        if self.community_knn is not None and self.community_knn < 1:
            raise ValueError("community_knn must be >= 1")
        if self.min_probe_common < 1:
            raise ValueError("min_probe_common must be >= 1")
        if self.simhash_hamming_max < 1:
            # num_blocks = hamming_max + 1 must be >= 2 so the pigeonhole
            # block keys fit int64 (functions/simhash.simhash_blocks)
            raise ValueError("simhash_hamming_max must be >= 1")
        maxd = self.max_resolvable_distance()
        if self.threshold > maxd:
            # reference rejects -d beyond sketch resolution (src/sub_command.cpp:2346-2366)
            raise ValueError(
                f"threshold {self.threshold} exceeds max resolvable distance "
                f"{maxd:.4f} for sketch_size={self.sketch_size}, k={self.distance_k}"
            )

    # ------------------------------------------------------------------ derived
    @property
    def distance_k(self) -> int:
        return self.mash_k if self.mash_k is not None else self.shingle_k

    @property
    def num_bands(self) -> int:
        return self.perm_count // self.rows_per_band

    def max_size_ratio(self) -> float:
        """R = 2*e^{d*k} - 1 (src/MST.cpp:26-37): pairs with
        max(n1,n2) > R*min(n1,n2) cannot be within distance d."""
        return 2.0 * math.exp(self.threshold * self.distance_k) - 1.0

    def jaccard_min(self) -> float:
        """Minimum Jaccard for distance <= d (src/greedy.cpp:652-653)."""
        x = math.exp(-self.threshold * self.distance_k)
        return x / (2.0 - x)

    def max_resolvable_distance(self) -> float:
        """Largest distance resolvable by a size-s sketch
        (src/sub_command.cpp:2346-2366): j = 1/s."""
        j = 1.0 / self.sketch_size
        return -1.0 / self.distance_k * math.log(2.0 * j / (1.0 + j))

    # ------------------------------------------------------------------ identity
    def to_dict(self) -> dict:
        return asdict(self)

    def config_hash(self) -> str:
        """Stable hash for checkpoint-validity checks (plans/pipeline.py)."""
        blob = json.dumps(self.to_dict(), sort_keys=True).encode()
        return hashlib.sha256(blob).hexdigest()[:16]

    def stage_hash(self, stage: str) -> str:
        """Stable hash over only the config fields STAGE's computation reads.

        This is what makes the pipeline's resume surface match the
        reference's: --presketched (src/main.cpp:616-641) reuses sketches
        under a new -d because the sketch files don't depend on the
        threshold, and clust-leiden's pregraph (src/leiden.cpp:474-746)
        reuses the persisted similarity graph under a new resolution.
        Hashing the FULL config would invalidate every stage on any knob
        change; hashing per-stage-relevant fields reuses everything
        upstream of the knob.  Unknown stages fall back to the full hash
        (safe: over-invalidation, never staleness)."""
        fields = _STAGE_FIELDS.get(stage)
        if fields is None:
            return self.config_hash()
        d: dict = {f: getattr(self, f) for f in fields}
        if stage == "sketches":
            # probe and index modes share one sketch layout; banded adds
            # band_keys to the stage table — only THAT distinction matters
            d["sketch_layout"] = "banded" if self.pair_mode == "banded" else "flat"
        blob = json.dumps(d, sort_keys=True).encode()
        return hashlib.sha256(blob).hexdigest()[:16]


# Config fields each DedupPipeline stage actually reads (upstream data
# dependencies are tracked separately via manifest input ids).  Keep in sync
# with the stage thunks of operators/dedup.flagship_stages and the pipeline's
# own stages in plans/pipeline.py; a field listed too broadly costs a
# spurious recompute, a field MISSING here serves stale results — when in
# doubt, include it.
_STAGE_FIELDS: dict[str, tuple[str, ...]] = {
    "extracted": (),
    "exact_groups": ("exact_prededup",),
    "sketches": ("shingle_k", "sketch_size", "containment", "contain_compress",
                 "min_sketch_size", "lowercase", "hash_seed", "min_len",
                 "perm_count", "rows_per_band", "perm_seed", "exact_prededup"),
    "edges": ("threshold", "mash_k", "shingle_k", "pair_mode", "probe_hashes",
              "min_probe_common", "max_posting", "hot_hash_mode",
              "containment", "containment_variant", "perm_count",
              "rows_per_band"),
    "membership": (),
    "assignments": (),
    "dedup_groups": ("dedup_dist",),
    "reps": ("reps_per_cluster",),
    "communities": ("community_resolution", "community_knn",
                    "community_max_iter", "community_levels"),
}
