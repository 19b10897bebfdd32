"""Deduplication operators (SURVEY.md §2 C): exact, n-gram Jaccard,
MinHash/LSH, SimHash, embedding-cosine, and transitive clustering
(connected components) — the LLM-corpus dedup toolkit.

Scale design: every variant avoids the O(n²) all-pairs trap.
* exact     — one hash-aggregate on md5(normalized text);
* jaccard   — inverted-index join on shingles (pairs only materialize
              for docs sharing ≥1 shingle), then per-pair counting;
* minhash   — fixed-width signature per doc (one pass), LSH banding
              turns candidate generation into an equi-join on band
              keys — THE shuffle-friendly near-dup path at 100 TB;
* simhash   — 32-bit sketch per doc; hamming-ball candidate pairs via
              band equi-join on 8-bit chunks (pigeonhole: hamming≤3
              ⇒ some chunk equal).

Hash functions are md5-based so the DuckDB oracle computes the exact
same signatures (both engines implement standard md5; min over hex
strings is a total order both agree on).
"""

from __future__ import annotations

import math
import warnings

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from hematite_spark.functions import norm_text as _norm_text
from hematite_spark.io import load_table, table_bytes
from hematite_spark.queries._shared import release_checkpoint

N_MINHASH = 8  # permutations; LSH bands of 2 → 4 bands
# dedup_semantic: target vectors per coarse cell; k = max(8, n // this)
# in BOTH engines (shared definition, exact count both sides)
_SEM_TARGET_CELL = 250
# above this estimated vector count the assignment switches from the
# column-expression fold to the cogrouped numpy argmin (same argmin
# semantics; see dedup_semantic)
_SEM_GEMM_MIN_VECS = 8 * _SEM_TARGET_CELL
# above this EXACT vector count (in-plan count(*), identical in both
# engines — never the bytes estimate, because this switch changes
# SEMANTICS, not just implementation) the coarse assignment routes
# through ceil(sqrt(k)) super-centroids (VERDICT r10 item 1: the flat
# n×k argmin with k = n/250 is Θ(n²d/250) work and O(n·d/250) per-task
# centroid memory — measured 2.36 wall-doubling at ×128). Sits 8×
# above the GEMM kick-in's bytes-estimate (±2×) so the fold path can
# never straddle it: est ≤ 2000 ⇒ n ≲ 4000 ≪ 16000 ⇒ s = 1 ⇒ routed
# semantics ≡ exact argmin, which is what the fold computes.
_SEM_ROUTE_MIN_VECS = 16_000


def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by content hash: groups of byte-identical
    (whitespace-normalized) docs; keeper = min doc_id (first-wins).
    One shuffle on the 128-bit hash; at 100 TB this is the cheapest
    dedup pass and always runs first to shrink the near-dup input."""
    docs = load_table(spark, "documents", sf_dir)
    return (
        docs.select("doc_id", F.md5(_norm_text()).alias("fp"))
        .groupBy("fp")
        .agg(F.min("doc_id").alias("keeper_doc_id"), F.count("*").alias("n_copies"))
        .where(F.col("n_copies") > 1)
        .orderBy("keeper_doc_id")
    )


DEDUP_EXACT_SQL = """
SELECT fp, min(doc_id) AS keeper_doc_id, count(*) AS n_copies
FROM (SELECT doc_id, md5(regexp_replace(trim(text), '\\s+', ' ', 'g')) AS fp FROM documents)
GROUP BY fp
HAVING count(*) > 1
ORDER BY keeper_doc_id
"""


def dedup_normalized_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalization-robust exact dedup (the CCNet-style 'fuzzy exact'
    pass): lowercase, strip every non-alphanumeric character, collapse
    whitespace, THEN hash — so docs differing only in case, punctuation
    or spacing collapse into one group. Sits between dedup_exact
    (byte-identical) and the MinHash near-dup funnel: it is still one
    shuffle on a 128-bit digest (agg state is O(groups), no pair join),
    but typically removes 2-5x more than the byte-exact pass on web
    text. n_raw_variants counts distinct RAW fingerprints inside each
    normalized group — the docs only this pass can catch.

    100 TB: identical shape to dedup_exact — hash groupBy with map-side
    partial aggregation; the digest (16 bytes) is all that shuffles."""
    docs = load_table(spark, "documents", sf_dir)
    normed = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), r"[^a-z0-9\s]+", ""), r"\s+", " "
        )
    )
    return (
        docs.select(
            "doc_id",
            F.md5(normed).alias("fp"),
            F.md5(_norm_text()).alias("raw_fp"),
        )
        .groupBy("fp")
        .agg(
            F.min("doc_id").alias("keeper_doc_id"),
            F.count("*").cast("bigint").alias("n_copies"),
            F.countDistinct("raw_fp").cast("bigint").alias("n_raw_variants"),
        )
        .where(F.col("n_copies") > 1)
        .orderBy("keeper_doc_id")
    )


DEDUP_NORMALIZED_SQL = r"""
SELECT fp, min(doc_id) AS keeper_doc_id, count(*)::BIGINT AS n_copies,
       count(DISTINCT raw_fp)::BIGINT AS n_raw_variants
FROM (
  SELECT doc_id,
         md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\s]+', '', 'g'), '\s+', ' ', 'g'))) AS fp,
         md5(regexp_replace(trim(text), '\s+', ' ', 'g')) AS raw_fp
  FROM documents)
GROUP BY fp
HAVING count(*) > 1
ORDER BY keeper_doc_id
"""


def _shingles_df(spark: SparkSession, sf_dir: str, k: int = 3) -> DataFrame:
    """Distinct word-k-gram shingles per doc, via explode — the
    inverted-index build. Shingling is pure column algebra
    (split → transform over an index sequence → explode)."""
    # single-row-group inputs scan as one task; spread the (CPU-heavy)
    # shingling across cores first. Explicit partition count — a
    # keyed repartition of this tiny table gets coalesced back to one
    # partition by AQE, defeating the point. Conditional: a cluster
    # source that is already ≥cores-wide skips the exchange entirely
    # (a gratuitous full shuffle of the corpus at 100 TB otherwise).
    n_parts = max(spark.sparkContext.defaultParallelism, 8)
    docs = load_table(spark, "documents", sf_dir)
    if docs.rdd.getNumPartitions() < n_parts:
        docs = docs.repartition(n_parts)
    # indexed get() beats slice+concat_ws ~4× (no subarray allocation);
    # get() is null on out-of-range like the oracle's 1-based w[i],
    # so <k-word docs yield a null shingle in both engines.
    expr = "transform(sequence(0, greatest(size(w) - {km1} - 1, 0)), i -> {concat})".format(
        km1=k - 1,
        concat="concat(" + ", ' ', ".join(f"get(w, i + {j})" for j in range(k)) + ")",
    )
    return (
        docs.withColumn("w", F.split(_norm_text(), " "))
        .select("doc_id", F.explode(F.array_distinct(F.expr(expr))).alias("sh"))
    )


_SHINGLES_CTE = """
WITH shingles AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(generate_series(1, greatest(len(w) - 2, 1)),
                               i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS sh
  FROM (SELECT doc_id, string_split(regexp_replace(trim(text), '\\s+', ' ', 'g'), ' ') AS w
        FROM documents)
)
"""


def _coshingle_common(sh: DataFrame, sf_dir: str, sh_b: DataFrame | None = None) -> DataFrame:
    """Per-pair co-shingle counts ``(doc_a, doc_b, common)`` with
    doc_a < doc_b from an inverted-index frame ``(doc_id, sh)`` — the
    exact-ground-truth kernel shared by the Jaccard/containment/LSH
    audit entries. Pairs only materialize for co-shingled docs (the
    join shuffles on the shingle key; hot shingles are the skew risk,
    split by AQE at runtime).

    ``sh_b``: optional distinct b-side frame (same schema). The
    candidate-bounded audit entries pass the a-side filtered to
    candidate doc_a docs and the b-side to candidate doc_b docs
    (VERDICT r11 item 1) — pair (x, y) with x < y still materializes
    iff x is on the a-side and y on the b-side, exactly the
    orientation LSH candidates carry.

    The pair aggregate runs BEHIND an explicit bytes-scaled
    hash(doc_a, doc_b) exchange: co-shingled pairs are dominated by
    docs sharing only 1-2 shingles, so map-side partial aggregation
    over the join output builds nearly-dedup-nothing hash maps that
    spill to sort at replica scale — the same measured cliff the
    basket-pair family had (recsys._basket_pairs; basket_lift_rules
    went from a 5.0× to a 1.90× wall-doubling at ×128 with this
    shape). Pair GENERATION stays in the streaming join — a
    collect_set-per-shingle array variant would materialize a hot
    shingle's whole |s|²/2 pair block in one row, an OOM on
    boilerplate shingles, so it is NOT used here (unlike baskets,
    which are orderline-bounded at ≤ 7 items)."""
    est_sh = table_bytes("documents", sf_dir) // 3  # ≈ shingle rows
    default_width = int(sh.sparkSession.conf.get("spark.sql.shuffle.partitions", "32"))
    # pair rows run a small multiple of shingle rows in a near-dup
    # corpus; target ≤ ~1M pair rows per reducer (order of magnitude)
    n_parts = min(4096, -(-est_sh * 4 // 1_000_000))
    # The self-JOIN's own exchange+sort scales too (VERDICT r9 item 1:
    # round 9 widened only the pair AGGREGATE, and the ×128 probe still
    # measured 2.42-2.71 wall-doublings on this family — each of the
    # session-default sort tasks was sorting the replicated shingle
    # table and spilling). Target ~2M shingle rows per sort task; both
    # aliases share one repartition subtree, so ReuseExchange ships the
    # corpus across the wire once. Trade-off, documented: an explicit
    # REPARTITION_BY_COL exchange is not eligible for AQE skew-join
    # splitting the way an ENSURE_REQUIREMENTS one is — at kick-in
    # scale the width matters more than the split (hot boilerplate
    # shingles are bounded per corpus slice), and below kick-in the
    # stock plan (with skew splitting) stands.
    join_parts = min(4096, -(-est_sh // 2_000_000))
    if join_parts > default_width:
        sh = sh.repartition(join_parts, "sh")
        if sh_b is not None:
            sh_b = sh_b.repartition(join_parts, "sh")
    a = sh.alias("a")
    b = (sh if sh_b is None else sh_b).alias("b")
    pairs = a.join(
        b, (F.col("a.sh") == F.col("b.sh")) & (F.col("a.doc_id") < F.col("b.doc_id"))
    ).select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
    # bench-scale inputs keep the stock partial→exchange→final plan:
    # below the width heuristic's kick-in the per-task maps are small
    # and partial aggregation is net-positive (+~1 s at sf0.1 when the
    # exchange is unconditional — measured against the morning bench)
    if n_parts > default_width:
        pairs = pairs.repartition(n_parts, "doc_a", "doc_b")
    return pairs.groupBy("doc_a", "doc_b").agg(F.count("*").alias("common"))


# Above this many candidate PAIRS the candidate-doc semi-filters stop
# hinting F.broadcast and fall back to a shuffled left-semi join: an
# adversarial dup-mass corpus must not materialize an unbounded
# distinct on the driver. The doc lists are ≤ 2·pairs 8-byte keys, so
# the gate bounds the broadcast at ~80 MB — comfortably inside
# executor/driver memory — while every probed scale (x256 candidates
# ≈ 184k) stays far below it, keeping the deterministic
# broadcast-probe plan the hint exists for (AQE raced plan
# adaptation: see dedup_lsh_verified). The pair count comes from the
# candidate checkpoint's own job (_cand_checkpoint), never a job of
# its own.
_CAND_BC_MAX_PAIRS = 5_000_000


def _counted_checkpoint(df: DataFrame) -> tuple[DataFrame, int]:
    """``(df.localCheckpoint(), its row count)``: the count is an
    Observation on the checkpoint's own job, so a size gate after a
    checkpoint costs no second job."""
    rows = Observation()
    cp = df.observe(rows, F.count(F.lit(1)).alias("n")).localCheckpoint()
    return cp, rows.get["n"]


def _cand_checkpoint(cands: DataFrame) -> tuple[DataFrame, bool]:
    """``cands`` localCheckpointed, with the broadcast hint of its
    candidate-doc semi-filters (see _CAND_BC_MAX_PAIRS)."""
    cp, rows = _counted_checkpoint(cands)
    return cp, rows <= _CAND_BC_MAX_PAIRS


def _cand_doc_semi(sh: DataFrame, cands: DataFrame, col: str, hint_broadcast: bool) -> DataFrame:
    """``sh`` LEFT-SEMI filtered to the docs appearing in ``cands.col``
    — the candidate-bounding kernel (see dedup_lsh_verified):
    downstream joins then carry O(candidate docs × shingles/doc),
    proportional to actual near-duplicate mass, never O(corpus
    shingles). Broadcast hint is size-gated (see _CAND_BC_MAX_PAIRS)."""
    docs = cands.select(F.col(col).alias("doc_id")).distinct()
    if hint_broadcast:
        docs = F.broadcast(docs)
    return sh.join(docs, "doc_id", "left_semi")


def _cand_union_shingles(sh: DataFrame, cands: DataFrame, hint_broadcast: bool) -> DataFrame:
    """``sh`` LEFT-SEMI filtered to the docs appearing on EITHER side
    of ``cands`` — the bounded frame the audit entries checkpoint
    INSTEAD of the full exploded shingle scan (corpus × k-grams, the
    widest frame those queries would ever hold). This frame is
    O(candidate-doc shingles) — proportional to actual near-dup mass —
    and deriving the per-side filters from it is byte-identical set
    algebra: (sh ⋉ (A∪B)) ⋉ A = sh ⋉ A."""
    docs = (
        cands.select(F.col("doc_a").alias("doc_id"))
        .unionByName(cands.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    if hint_broadcast:
        docs = F.broadcast(docs)
    return sh.join(docs, "doc_id", "left_semi")


def _cand_bounded_truth(sh: DataFrame, cands: DataFrame, sf_dir: str, hint: bool) -> DataFrame:
    """Exact shingle Jaccard ``(doc_a, doc_b, jac)`` for (at least)
    every pair in ``cands`` — the truth side of the LSH audit family,
    CANDIDATE-BOUNDED: running the co-shingle pair join over the FULL
    shingle table and then left-joining down to candidates computes
    and discards every non-candidate pair's common count. Both shingle
    sides are first semi-filtered to candidate docs (doc-level filter,
    so per-doc shingle sizes and per-pair common counts are UNCHANGED
    for every candidate pair — callers that left-join from the
    candidate set get byte-identical output by construction; extra
    pairs among candidate docs that never banded together are
    discarded by that join).

    ``cands`` and ``hint`` come from _cand_checkpoint (``cands`` fans
    out to both semi-filters)."""
    sh_a = _cand_doc_semi(sh, cands, "doc_a", hint)
    sh_b = _cand_doc_semi(sh, cands, "doc_b", hint)
    sizes_a = sh_a.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    sizes_b = sh_b.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    common = _coshingle_common(sh_a, sf_dir, sh_b)
    ja, jb = sizes_a.alias("ja"), sizes_b.alias("jb")
    return (
        common.join(ja, F.col("doc_a") == F.col("ja.doc_id"))
        .join(jb, F.col("doc_b") == F.col("jb.doc_id"))
        .select(
            "doc_a",
            "doc_b",
            (F.col("common") / (F.col("ja.n_sh") + F.col("jb.n_sh") - F.col("common"))).alias(
                "jac"
            ),
        )
    )


def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs by word-3-gram Jaccard ≥ 0.6, via the inverted
    index: join docs on shared shingles, count common per pair, then
    |A∪B| = |A|+|B|-common. Only co-shingled pairs ever materialize;
    the join shuffles on the shingle key so hot shingles are the skew
    risk — AQE skew-join splits those at runtime."""
    # localCheckpoint (not cache): materialized once for the self-join
    # + sizes branches, and released with the plan — cache() would pin
    # storage for the session lifetime across catalog runs
    sh = _shingles_df(spark, sf_dir).localCheckpoint()
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    common = _coshingle_common(sh, sf_dir)
    sa, sb = sizes.alias("sa"), sizes.alias("sb")
    return (
        common.join(sa, F.col("doc_a") == F.col("sa.doc_id"))
        .join(sb, F.col("doc_b") == F.col("sb.doc_id"))
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.col("common") / (F.col("sa.n_sh") + F.col("sb.n_sh") - F.col("common")), 4
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= 0.6)
        .orderBy("doc_a", "doc_b")
    )


DEDUP_JACCARD_SQL = (
    _SHINGLES_CTE
    + """
, sizes AS (SELECT doc_id, count(*) AS n_sh FROM shingles GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
  FROM shingles a JOIN shingles b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id)
SELECT doc_a, doc_b,
       round(common / CAST(sa.n_sh + sb.n_sh - common AS DOUBLE), 4) AS jaccard
FROM common
JOIN sizes sa ON doc_a = sa.doc_id
JOIN sizes sb ON doc_b = sb.doc_id
WHERE round(common / CAST(sa.n_sh + sb.n_sh - common AS DOUBLE), 4) >= 0.6
ORDER BY doc_a, doc_b
"""
)


# above this estimated doc count the minhash lanes widen from 16-bit
# slices of one md5 to 32-bit seed-keyed independent md5s (see
# _minhash_sig_aggs). VERDICT r10 item 2: at the fixed 16-bit width,
# band-collision candidates measured growing 2.76× per corpus doubling
# (dedup_lsh_verified / lsh_precision_recall) — with m shingles per doc
# the min of m uniform 16-bit draws concentrates near 0 (E[min] ≈
# 2^16/(m+1)), so two UNRELATED long docs collide on a lane with
# p ≈ m/2^16 and on a 2-lane band with p ≈ (m/2^16)² — an n²-growth
# accidental-candidate term that dominates once n²·(m/2^16)² rivals
# the true near-dup mass. Widening to 32-bit lanes divides the
# accidental band rate by 2^32: negligible until ~10M docs per corpus
# slice for m ~ 10³ (and the md5 has 128 bits of headroom to widen
# again — lsh_parameter_sweep / lsh_band_auc are the calibration
# entries that would justify the next step). True near-dups are
# unaffected: they collide because the SAME shingle attains the min,
# which is width-independent. Below the kick-in the stock 16-bit plan
# stands byte-identical (the driver's sf0.01 gate always takes it).
_MINHASH_WIDE_DOCS = 60_000
_MINHASH_WIDE_HEX = 8


def _minhash_wide(sf_dir: str) -> bool:
    """Bytes-derived kick-in (plan-build-safe, same heuristic family
    as _SIMHASH_WIDE_DOCS): ~119 bytes/doc in this corpus."""
    return table_bytes("documents", sf_dir) // 119 > _MINHASH_WIDE_DOCS


def _minhash_sigs_from(sh: DataFrame, wide: bool) -> DataFrame:
    """(doc_id, mh0..mh7) from a shingle frame ``(doc_id, sh)``.
    Stock: slice ONE md5 per shingle into 8 independent 16-bit (4-hex)
    lanes — 8× less hashing than per-permutation digests, same minhash
    property. Wide: 8 seed-keyed md5s, 8 hex (32 bits) each — 8× the
    hash work in the signature pass (JVM-side, codegen; the pass is
    scan-bound, not the scale bottleneck) for a 2^-32 accidental
    lane-collision rate. Fixed-width lowercase hex compares
    lexicographically = numerically, so min(string) is min(hash) in
    both engines."""
    if wide:
        # TWO digests per shingle, not eight (round 11: the first wide
        # cut keyed one md5 per lane — 8 concat+md5 string allocations
        # per shingle row — and the ×128 probe measured the alloc/GC
        # churn pushing dedup_lsh_verified 61.7 → 113.6 s). md5 is 128
        # bits = exactly 4 lanes of 32; lanes 0-3 slice md5(sh) (the
        # same digest the stock path uses), lanes 4-7 slice a single
        # prefix-keyed second digest. Disjoint bit ranges of one
        # digest are as independent as the stock path's 8 disjoint
        # 16-bit slices — the same assumption, wider.
        sh = sh.select(
            "doc_id",
            F.md5("sh").alias("h0"),
            F.md5(F.concat(F.lit("mhw:"), F.col("sh"))).alias("h1"),
        )
        aggs = [
            F.min(
                F.substring(
                    "h0" if seed < 4 else "h1",
                    1 + _MINHASH_WIDE_HEX * (seed % 4),
                    _MINHASH_WIDE_HEX,
                )
            ).alias(f"mh{seed}")
            for seed in range(N_MINHASH)
        ]
        return sh.groupBy("doc_id").agg(*aggs)
    sh = sh.withColumn("h", F.md5("sh"))
    aggs = [
        F.min(F.substring("h", 1 + 4 * seed, 4)).alias(f"mh{seed}")
        for seed in range(N_MINHASH)
    ]
    return sh.groupBy("doc_id").agg(*aggs)


def _minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, mh0..mh7) minhash signatures; lane width adapts to the
    corpus (see _MINHASH_WIDE_DOCS). One explode + one hash-aggregate;
    signature width is constant per plan, so the shuffle carries
    O(docs) rows, not O(shingles)."""
    return _minhash_sigs_from(_shingles_df(spark, sf_dir), _minhash_wide(sf_dir))


_MINHASH_AGGS = ",\n         ".join(
    f"min(substring(md5(sh), {1 + 4 * seed}, 4)) AS mh{seed}" for seed in range(N_MINHASH)
)
# wide-lane oracle aggregates — interpolated from the same constants as
# the DataFrame path (the engine's established shared-constant pattern:
# REC_HITRATE_SQL, DEDUP_SEMANTIC_SQL) so the forced-adaptive tests can
# re-derive every minhash oracle above kick-in
_MINHASH_AGGS_WIDE = ",\n         ".join(
    (
        f"min(substring(md5(sh), {1 + _MINHASH_WIDE_HEX * (seed % 4)}, {_MINHASH_WIDE_HEX})) AS mh{seed}"
        if seed < 4
        else f"min(substring(md5('mhw:' || sh), {1 + _MINHASH_WIDE_HEX * (seed % 4)}, {_MINHASH_WIDE_HEX})) AS mh{seed}"
    )
    for seed in range(N_MINHASH)
)
_MINHASH_CTE = (
    _SHINGLES_CTE
    + f"""
, sigs AS (
  SELECT doc_id, {_MINHASH_AGGS}
  FROM shingles GROUP BY doc_id)
"""
)
_MINHASH_CTE_WIDE = _MINHASH_CTE.replace(_MINHASH_AGGS, _MINHASH_AGGS_WIDE)


def dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash near-dup groups: docs sharing the FULL 8-hash signature
    (≈ Jaccard ~1 with high probability). Constant-width signatures →
    the groupBy shuffles O(n) rows regardless of doc length."""
    sigs = _minhash_signatures(spark, sf_dir)
    sig_cols = [f"mh{i}" for i in range(N_MINHASH)]
    return (
        sigs.groupBy(*sig_cols)
        .agg(F.min("doc_id").alias("keeper_doc_id"), F.count("*").alias("n_members"))
        .where(F.col("n_members") > 1)
        .select("keeper_doc_id", "n_members")
        .orderBy("keeper_doc_id")
    )


DEDUP_MINHASH_SQL = (
    _MINHASH_CTE
    + f"""
SELECT keeper_doc_id, n_members
FROM (
  SELECT min(doc_id) AS keeper_doc_id, count(*) AS n_members
  FROM sigs GROUP BY {", ".join(f"mh{i}" for i in range(N_MINHASH))})
WHERE n_members > 1
ORDER BY keeper_doc_id
"""
)


def lsh_candidate_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH banding: 4 bands × 2 rows. A pair is a candidate if
    any band matches — candidate generation is an equi-join on band
    keys (a pure shuffle join, no similarity math until the verify
    step). Returns candidate pairs with their matching-band count,
    ordered; downstream, dedup_ngram_jaccard-style verification prunes
    false positives."""
    return _lsh_candidates(spark, sf_dir).orderBy("doc_a", "doc_b")


def _lsh_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lsh_candidate_pairs unordered — what every internal consumer
    reads (none of them uses the order)."""
    return _lsh_candidates_from(_minhash_signatures(spark, sf_dir))


def _band_stack(sigs: DataFrame, b: int = N_MINHASH // 2, r: int = 2) -> DataFrame:
    """One row per document and LSH band: ``(…, band, h)`` with
    ``h = md5(mh_{r·band} || '|' || … )`` over the band's ``r`` lanes —
    the oracle's band key. Every column of ``sigs`` other than the
    lanes rides along. A null lane (a doc too short to shingle) gives
    a null ``h``, which equi-joins with nothing, as in the oracle;
    concat_ws would fold them all to md5('') and explode into an O(n²)
    short-doc clique."""
    keep = [c for c in sigs.columns if not c.startswith("mh")]
    lanes = (" || '|' || ".join(f"mh{r * i + j}" for j in range(r)) for i in range(b))
    bands = ", ".join(f"struct({i} AS band, md5({ln}) AS h)" for i, ln in enumerate(lanes))
    return sigs.selectExpr(*keep, f"inline(array({bands}))")


def _lsh_candidates_from(sigs: DataFrame, b: int = N_MINHASH // 2, r: int = 2) -> DataFrame:
    """(doc_a, doc_b, n_bands) — the b×r banding funnel over a
    signature frame, unordered and distinct on (doc_a, doc_b): ONE
    self-join of the band stack on (band, h). Both join sides are the
    same plan, so Spark computes the signature exchange once and
    reuses it (ReusedExchange) — no materialization of the bands is
    needed. The audit entries feed it signatures derived from their
    own shingle scan, so one run shingles the corpus once for both
    the banding and the exact-Jaccard truth side."""
    st = _band_stack(sigs, b, r)
    a, c = st.alias("a"), st.alias("c")
    on = (
        (F.col("a.band") == F.col("c.band"))
        & (F.col("a.h") == F.col("c.h"))
        & (F.col("a.doc_id") < F.col("c.doc_id"))
    )
    return (
        a.join(c, on)
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("c.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("n_bands"))
    )


_LSH_BANDS = " UNION ALL ".join(
    f"""SELECT a.doc_id AS doc_a, c.doc_id AS doc_b
       FROM bands a JOIN bands c ON a.band{b} = c.band{b} AND a.doc_id < c.doc_id"""
    for b in range(N_MINHASH // 2)
)
LSH_CANDIDATES_SQL = (
    _MINHASH_CTE
    + f"""
, bands AS (
  SELECT doc_id,
         {", ".join(f"md5(mh{2*b} || '|' || mh{2*b+1}) AS band{b}" for b in range(N_MINHASH // 2))}
  FROM sigs)
SELECT doc_a, doc_b, count(*) AS n_bands
FROM ({_LSH_BANDS})
GROUP BY doc_a, doc_b
ORDER BY doc_a, doc_b
"""
)


_SIMHASH_BITS = 32  # sketch width; 8-bit chunks × 4 bands below
# above this estimated doc count the simhash banding switches from
# 4×8-bit equality bands to 2×16-bit hamming-≤1 multiprobe bands
# (identical output, 256× more buckets — see dedup_simhash_band)
_SIMHASH_WIDE_DOCS = 60_000


def _simhash_sketch_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, simhash) — 32-bit SimHash sketch per doc. Bit b of the
    sketch = sign of Σ_words (±1 per word's bit b); per-word 32-bit
    hash from the first 8 hex chars of md5. Pure column arithmetic on
    conv(md5), no UDF — one explode + one hash-aggregate per doc.
    32 bits (not 16) so the banded chunks below carry 8 bits each —
    256 distinct values per band key, which is what makes the band
    equi-join prune (a 4-bit chunk key would put ~n/16 docs in every
    bucket and the 'candidates' would be a thinly sliced cross
    join)."""
    docs = load_table(spark, "documents", sf_dir)
    words = F.array_distinct(F.split(_norm_text(), " "))
    exploded = docs.select("doc_id", F.explode(words).alias("word"))
    # the 32 sign columns and the packed sketch are parsed SQL strings
    # (round 13, the linear_probe_gd treatment): the loop-built
    # when/shiftright Column chains cost ~400 py4j round-trips per
    # build; the parsed trees are identical (same CASE/shift/& tree,
    # same left-assoc 0 + t0 + ... sum the Python `sum()` built), so
    # plans, values and the oracle are unchanged.
    h_sql = "CAST(conv(substring(md5(word), 1, 8), 16, 10) AS BIGINT)"
    with_bits = exploded.select(
        "doc_id",
        *[
            F.expr(f"CASE WHEN (shiftright({h_sql}, {b}) & 1) = 1 THEN 1 ELSE -1 END AS b{b}")
            for b in range(_SIMHASH_BITS)
        ],
    )
    summed = with_bits.groupBy("doc_id").agg(
        *[F.sum(f"b{b}").alias(f"s{b}") for b in range(_SIMHASH_BITS)]
    )
    pack = " + ".join(
        f"(CASE WHEN s{b} > 0 THEN 1 ELSE 0 END) * {1 << b}" for b in range(_SIMHASH_BITS)
    )
    return summed.select(
        "doc_id", F.expr(f"CAST((0 + {pack}) AS BIGINT) AS simhash")
    )


def _simhash_sketch64_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, w0, w1) — 64-bit SimHash sketch as two 32-bit words
    (two bigints rather than one 64-bit value: conv() of 16 hex chars
    overflows signed long, and two words keep every shift/mask inside
    non-negative 32-bit range in BOTH engines). w0 is bit-for-bit the
    32-bit sketch _simhash_sketch_df emits (first 8 hex chars of each
    word's md5); w1 extends it with hex chars 9-16 of the SAME digest
    — one explode, one hash-aggregate, 64 sign sums."""
    docs = load_table(spark, "documents", sf_dir)
    words = F.array_distinct(F.split(_norm_text(), " "))
    exploded = docs.select("doc_id", F.explode(words).alias("word"))
    # parsed expression strings for the 64 sign columns + two packed
    # words — the same round-13 py4j-chatter cut as the 32-bit sketch
    # above (~800 driver round-trips per build removed); identical
    # trees, identical values.
    h_sql = lambda start: (  # noqa: E731
        f"CAST(conv(substring(md5(word), {start}, 8), 16, 10) AS BIGINT)"
    )
    with_bits = exploded.select(
        "doc_id",
        *[
            F.expr(
                f"CASE WHEN (shiftright({h_sql(1 if b < _SIMHASH_BITS else 9)},"
                f" {b % _SIMHASH_BITS}) & 1) = 1 THEN 1 ELSE -1 END AS b{b}"
            )
            for b in range(2 * _SIMHASH_BITS)
        ],
    )
    summed = with_bits.groupBy("doc_id").agg(
        *[F.sum(f"b{b}").alias(f"s{b}") for b in range(2 * _SIMHASH_BITS)]
    )
    word = lambda w: "0 + " + " + ".join(  # noqa: E731
        f"(CASE WHEN s{w * _SIMHASH_BITS + b} > 0 THEN 1 ELSE 0 END) * {1 << b}"
        for b in range(_SIMHASH_BITS)
    )
    return summed.select(
        "doc_id",
        F.expr(f"CAST(({word(0)}) AS BIGINT) AS w0"),
        F.expr(f"CAST(({word(1)}) AS BIGINT) AS w1"),
    )


# Above this estimated doc count dedup_simhash_band's SKETCH widens to
# 64 bits with Manku-style block banding (round 12; the ×256 probe
# measured the 2×16 multiprobe tier at a 2.37 wall-doubling by 1.5M
# docs — any banding of a FIXED 32-bit sketch saturates by birthday
# collision once n rivals 2^16·target_occupancy, so past here the
# sketch itself must widen; the in-code note always named this as the
# deployment answer, the probe moved it from prose to a tier). The
# near-dup RELATION above the kick-in is hamming ≤ 3 of 64 bits —
# stricter, fewer false merges, the right precision at that corpus
# size — mirrored by the forced-adaptive oracle test the way the
# minhash wide lanes are; below it the stock plans stand
# byte-identical (driver sf0.01 gate, bench sf0.1, ×64 probes).
_SIMHASH64_DOCS = 500_000
# 6 blocks over the 64-bit sketch, 11/11/10 bits per 32-bit word; a
# hamming-≤3 pair leaves ≥3 blocks untouched, so SOME 3-block combo
# matches exactly — key = 3 packed block values, C(6,3) = 20 tables
# (Manku, Jain & Das Sarma, WWW'07 — public algorithm).
_SIMHASH64_BLOCKS = [(0, 0, 11), (0, 11, 11), (0, 22, 10), (1, 0, 11), (1, 11, 11), (1, 22, 10)]


def dedup_lsh_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full production near-dup funnel in one operator: LSH band
    candidates (lsh_candidate_pairs) VERIFIED with exact word-3-gram
    Jaccard, keeping pairs ≥ 0.5. This is the scalable two-stage
    shape: the expensive exact similarity runs only on the O(near-dups)
    candidate set the banding emits, never on the full co-shingled
    pair space dedup_ngram_jaccard scores (at 100 TB the difference is
    the job completing or not — hot shingles make the unbanded join's
    pair count quadratic in the hottest key).

    Both verify joins are candidate-bounded ON BOTH SIDES: a full
    shingle b-side, sort-merge-joined on (doc_id, sh), sorts every
    corpus shingle row to serve a few candidate pairs (at ×128: 256M
    rows for 92k pairs, and that sort was the measured wall-doubling).
    Each side is first LEFT-SEMI filtered to the docs that actually
    appear in a candidate pair — a 1-column distinct small enough to
    broadcast at any near-dup-realistic scale — so every downstream
    shuffle carries O(candidate docs × shingles/doc), proportional to
    actual near-duplicate mass, never O(corpus shingles)."""
    # candidates feed the join AND both semi-filters + their size
    # aggregates — materialize the band pipeline once
    cands, hint = _cand_checkpoint(_lsh_candidates(spark, sf_dir))
    sh = _shingles_df(spark, sf_dir).localCheckpoint()
    # explicit broadcast: the doc lists are ≤ 2·|candidate pairs| 8-byte
    # keys — broadcastable whenever the pair list itself is a sane LSH
    # output. Left to AQE the semi join raced plan adaptation: reps
    # where the shingle side's exchange was scheduled before the
    # distinct stage finished sort-merge-joined 256M rows (x128 walls
    # 24–42 s across reps); the hint makes the broadcast-probe plan
    # deterministic. Above _CAND_BC_MAX_PAIRS candidate pairs the hint
    # is dropped and the semi join shuffles.
    sh_a = _cand_doc_semi(sh, cands, "doc_a", hint)
    sh_b = _cand_doc_semi(sh, cands, "doc_b", hint)
    # per-doc shingle counts, also only for candidate docs (the
    # |A∪B| denominator needs no one else)
    sizes_a = sh_a.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    sizes_b = sh_b.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    # Width: the semi-filtered sides are O(candidate docs ×
    # shingles/doc); the corpus-bytes heuristic stays as a CEILING
    # (plan-build-safe — candidate counts would need a job) for the
    # 100 TB case where near-dup mass tracks corpus size, and is a
    # harmless over-partition when candidates are sparse.
    est_sh = table_bytes("documents", sf_dir) // 3
    default_width = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    jp = min(4096, -(-est_sh // 2_000_000))
    scaled = jp > default_width
    a, b = sh_a.alias("a"), sh_b.alias("b")
    if scaled:
        a = sh_a.repartition(jp, "doc_id").alias("a")
    j1 = cands.join(a, F.col("doc_a") == F.col("a.doc_id")).select(
        "doc_a", "doc_b", "n_bands", F.col("a.sh").alias("a_sh")
    )
    if scaled:
        j1 = j1.repartition(jp, "doc_b", "a_sh")
    common = (
        j1.join(b, (F.col("doc_b") == F.col("b.doc_id")) & (F.col("a_sh") == F.col("b.sh")))
        .groupBy("doc_a", "doc_b", "n_bands")
        .agg(F.count("*").alias("common"))
    )
    sa, sb = sizes_a.alias("sa"), sizes_b.alias("sb")
    return (
        common.join(sa, F.col("doc_a") == F.col("sa.doc_id"))
        .join(sb, F.col("doc_b") == F.col("sb.doc_id"))
        .select(
            "doc_a",
            "doc_b",
            "n_bands",
            F.round(
                F.col("common") / (F.col("sa.n_sh") + F.col("sb.n_sh") - F.col("common")), 4
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= 0.5)
        .orderBy("doc_a", "doc_b")
    )


DEDUP_LSH_VERIFIED_SQL = (
    _MINHASH_CTE
    + f"""
, bands AS (
  SELECT doc_id,
         {", ".join(f"md5(mh{2*b} || '|' || mh{2*b+1}) AS band{b}" for b in range(N_MINHASH // 2))}
  FROM sigs)
, cands AS (
  SELECT doc_a, doc_b, count(*) AS n_bands
  FROM ({_LSH_BANDS})
  GROUP BY doc_a, doc_b)
, sizes AS (SELECT doc_id, count(*) AS n_sh FROM shingles GROUP BY doc_id)
, common AS (
  SELECT c.doc_a, c.doc_b, c.n_bands, count(*) AS common
  FROM cands c
  JOIN shingles a ON c.doc_a = a.doc_id
  JOIN shingles b ON c.doc_b = b.doc_id AND a.sh = b.sh
  GROUP BY c.doc_a, c.doc_b, c.n_bands)
SELECT doc_a, doc_b, n_bands,
       round(common / CAST(sa.n_sh + sb.n_sh - common AS DOUBLE), 4) AS jaccard
FROM common
JOIN sizes sa ON doc_a = sa.doc_id
JOIN sizes sb ON doc_b = sb.doc_id
WHERE round(common / CAST(sa.n_sh + sb.n_sh - common AS DOUBLE), 4) >= 0.5
ORDER BY doc_a, doc_b
"""
)


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash: 32-bit content sketch from per-word md5 bits.
    Groups docs by identical sketch (hamming-0 buckets);
    dedup_simhash_band extends this to hamming≤3 candidates via
    pigeonhole banding over 8-bit chunks."""
    sketch = _simhash_sketch_df(spark, sf_dir)
    return (
        sketch.groupBy("simhash")
        .agg(F.min("doc_id").alias("keeper_doc_id"), F.count("*").alias("n_members"))
        .where(F.col("n_members") > 1)
        .orderBy("keeper_doc_id")
    )


_SIMHASH_SKETCH_CTE = """
WITH exploded AS (
  SELECT DISTINCT doc_id, word
  FROM (SELECT doc_id, unnest(string_split(regexp_replace(trim(text), '\\s+', ' ', 'g'), ' ')) AS word
        FROM documents)
), hashed AS (
  SELECT doc_id,
         """ + "\n       + ".join(
    f"CAST(strpos('0123456789abcdef', md5(word)[{i + 1}]) - 1 AS BIGINT) * {16 ** (7 - i)}"
    for i in range(8)
) + """ AS h
  FROM exploded
), bits AS (
  SELECT doc_id,
         """ + ",\n         ".join(
    f"CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END AS b{b}" for b in range(_SIMHASH_BITS)
) + """
  FROM hashed
), summed AS (
  SELECT doc_id, """ + ", ".join(f"sum(b{b}) AS s{b}" for b in range(_SIMHASH_BITS)) + """
  FROM bits GROUP BY doc_id
), sketch AS (
  SELECT doc_id,
         CAST(""" + " + ".join(
    f"(CASE WHEN s{b} > 0 THEN {1 << b} ELSE 0 END)" for b in range(_SIMHASH_BITS)
) + """ AS BIGINT) AS simhash
  FROM summed)
"""

DEDUP_SIMHASH_SQL = (
    _SIMHASH_SKETCH_CTE
    + """
SELECT simhash, min(doc_id) AS keeper_doc_id, count(*) AS n_members
FROM sketch
GROUP BY simhash
HAVING count(*) > 1
ORDER BY keeper_doc_id
"""
)


def dedup_simhash_band(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hamming-k SimHash candidates via pigeonhole banding: split the
    32-bit sketch into 4 chunks of 8 bits; any pair with hamming ≤ 3
    differs in ≤3 bit positions, which touch ≤3 chunks — so at least
    one chunk is IDENTICAL. Candidate generation is therefore a union
    of 4 equi-joins on (chunk value), never an all-pairs cross — the
    same banding trick as MinHash-LSH, applied to hamming space. Each
    candidate is then verified exactly with bit_count(xor) ≤ 3.

    The 8-bit chunk key (256 values) is what makes each band join
    prune — near-identical docs agree on whole chunks, unrelated docs
    collide on a given chunk with p≈1/256 per band. The key width,
    and past _SIMHASH64_DOCS the SKETCH width, adapt to the corpus
    (three tiers: 4×8 equality → 2×16 hamming-≤1 multiprobe → 64-bit
    sketch with C(6,3) Manku block tables; the third tier's stricter
    hamming-≤3-of-64 relation is the precision a corpus of millions
    of docs needs, verified by the forced-adaptive oracle test). At
    100 TB the chunk value is the shuffle key; hot
    chunks (boilerplate-dominated sketches) are the skew risk,
    handled by AQE skew-join. Parallels the reference's content-hash
    uniqueness declaration (reference src/db.rs:11-17) generalized to
    near-identity."""
    est_docs = table_bytes("documents", sf_dir) // 119  # ~bytes/doc here
    if est_docs > _SIMHASH64_DOCS:
        # Third tier (round 12): 64-bit sketch, hamming ≤ 3, exact
        # recall via C(6,3)=20 block-combination tables — see
        # _SIMHASH64_DOCS. Accidental occupancy is n/2^32 per 3-block
        # key, so candidate mass stays ~n·20 at any probed scale.
        from itertools import combinations

        sk = _simhash_sketch64_df(spark, sf_dir)
        blk = lambda w, off, width: (  # noqa: E731
            F.shiftright(F.col(f"w{w}"), off).bitwiseAND(F.lit((1 << width) - 1))
        )
        sk = sk.select(
            "doc_id",
            "w0",
            "w1",
            *[
                blk(*_SIMHASH64_BLOCKS[j]).alias(f"blk{j}")
                for j in range(len(_SIMHASH64_BLOCKS))
            ],
        ).localCheckpoint()
        # CANONICAL-COMBO OWNERSHIP (round 12, from an x256 profile: a
        # dup-dense corpus's hamming-0 pairs match in all 20 tables —
        # 461M pre-dedup rows for ~23M distinct pairs — and the
        # cross-table dedup aggregate was the wall). Each pair is
        # emitted ONLY by the lexicographically FIRST all-equal block
        # combo: every branch filters on the 6 block-equality bits it
        # already has in the joined row (pure codegen booleans), the
        # 20 branches become DISJOINT by construction, and the dedup
        # groupBy disappears — the union IS the answer, 20× less
        # shuffle on exactly the corpora where near-dups are densest.
        frames64 = []
        combos = list(combinations(range(len(_SIMHASH64_BLOCKS)), 3))
        eq = lambda m: F.col(f"a.blk{m}") == F.col(f"b.blk{m}")  # noqa: E731
        for ci, (i, j, k) in enumerate(combos):
            key = (
                F.col(f"blk{i}") * F.lit(1 << 22)
                + F.col(f"blk{j}") * F.lit(1 << 11)
                + F.col(f"blk{k}")
            )
            a = sk.withColumn("bandkey", key).alias("a")
            b = sk.withColumn("bandkey", key).alias("b")
            joined = a.join(
                b,
                (F.col("a.bandkey") == F.col("b.bandkey"))
                & (F.col("a.doc_id") < F.col("b.doc_id")),
            )
            for (i2, j2, k2) in combos[:ci]:
                joined = joined.where(~(eq(i2) & eq(j2) & eq(k2)))
            frames64.append(
                joined.select(
                    F.col("a.doc_id").alias("doc_a"),
                    F.col("b.doc_id").alias("doc_b"),
                    (
                        F.bit_count(F.col("a.w0").bitwiseXOR(F.col("b.w0")))
                        + F.bit_count(F.col("a.w1").bitwiseXOR(F.col("b.w1")))
                    )
                    .cast("bigint")
                    .alias("hamming"),
                )
            )
        allp = frames64[0]
        for fr in frames64[1:]:
            allp = allp.unionByName(fr)
        return allp.where(F.col("hamming") <= 3).orderBy("doc_a", "doc_b")
    sketch = _simhash_sketch_df(spark, sf_dir).localCheckpoint()
    # Band-key width ADAPTS to corpus size (round 10; the ×128 probe
    # measured a 2.68 wall-doubling — a genuine WORKLOAD quadratic:
    # 8-bit chunk keys give 256 buckets, bucket occupancy grows
    # linearly with the corpus, and the band-join candidate volume
    # n²/256 with it, 3.2B pairs at ×128). Above the kick-in the
    # banding switches to 2 chunks × 16 bits with a hamming-≤1
    # multiprobe per chunk (Norouzi et al.'s multi-index hashing,
    # public knowledge; the same multiprobe shape as
    # dedup_embedding_cosine): a pair within hamming 3 of the 32-bit
    # sketch has, by pigeonhole over 2 chunks, SOME chunk within
    # hamming ⌊3/2⌋ = 1, so probing each doc's own 16-bit chunk value
    # plus its 16 one-bit flips recovers every qualifying pair —
    # EXACT recall, identical output, 256× more buckets (65 536), and
    # the probe fan-out (17 keys × 2 chunks) is linear. The final
    # pair set is band-scheme-independent (exact hamming ≤ 3 verify),
    # so the oracle keeps its 4×8 formulation and the switch rides
    # the bytes heuristic with no plan-build job. The quadratic tail
    # of THIS tier was measured at 2.37 by the ×256 probe (1.5M docs
    # — birthday collisions on 65 536 buckets), so past
    # _SIMHASH64_DOCS the sketch itself widens to 64 bits with Manku
    # block banding (the branch above); at bench scales the stock 4×8
    # equality plan stands byte-identical.
    frames = []
    if est_docs <= _SIMHASH_WIDE_DOCS:
        # 4 chunk columns, 8 bits each — equality bands
        chunks = sketch.select(
            "doc_id",
            "simhash",
            *[
                F.shiftright(F.col("simhash"), 8 * c).bitwiseAND(F.lit(255)).alias(f"c{c}")
                for c in range(4)
            ],
        )
        for c in range(4):
            a, b = chunks.alias("a"), chunks.alias("b")
            frames.append(
                a.join(b, (F.col(f"a.c{c}") == F.col(f"b.c{c}")) & (F.col("a.doc_id") < F.col("b.doc_id")))
                .select(
                    F.col("a.doc_id").alias("doc_a"),
                    F.col("b.doc_id").alias("doc_b"),
                    F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
                    .cast("bigint")
                    .alias("hamming"),
                )
            )
    else:
        # 2 chunk columns, 16 bits each — hamming-≤1 multiprobe bands
        chunks = sketch.select(
            "doc_id",
            "simhash",
            *[
                F.shiftright(F.col("simhash"), 16 * c)
                .bitwiseAND(F.lit(65535))
                .alias(f"c{c}")
                for c in range(2)
            ],
        )
        for c in range(2):
            probes = chunks.select(
                "doc_id",
                "simhash",
                F.explode(
                    F.expr(
                        f"concat(array(c{c}), "
                        f"transform(sequence(0, 15), i -> c{c} ^ shiftleft(1L, i)))"
                    )
                ).alias("probe"),
            )
            a, b = probes.alias("a"), chunks.alias("b")
            frames.append(
                a.join(b, (F.col("a.probe") == F.col(f"b.c{c}")) & (F.col("a.doc_id") < F.col("b.doc_id")))
                .select(
                    F.col("a.doc_id").alias("doc_a"),
                    F.col("b.doc_id").alias("doc_b"),
                    F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
                    .cast("bigint")
                    .alias("hamming"),
                )
            )
    allpairs = frames[0]
    for fr in frames[1:]:
        allpairs = allpairs.unionByName(fr)
    return (
        allpairs.where(F.col("hamming") <= 3)
        .groupBy("doc_a", "doc_b")
        .agg(F.min("hamming").alias("hamming"))
        .orderBy("doc_a", "doc_b")
    )


_SIMHASH_BAND_JOINS = " UNION ALL ".join(
    f"""SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
              CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
       FROM chunks a JOIN chunks b ON a.c{c} = b.c{c} AND a.doc_id < b.doc_id"""
    for c in range(4)
)
DEDUP_SIMHASH_BAND_SQL = (
    _SIMHASH_SKETCH_CTE
    + f"""
, chunks AS (
  SELECT doc_id, simhash,
         {", ".join(f"(simhash >> {8 * c}) & 255 AS c{c}" for c in range(4))}
  FROM sketch)
SELECT doc_a, doc_b, min(hamming) AS hamming
FROM ({_SIMHASH_BAND_JOINS})
WHERE hamming <= 3
GROUP BY doc_a, doc_b
ORDER BY doc_a, doc_b
"""
)


# Forced-adaptive oracle for the 64-bit tier (test-only — the driver's
# sf0.01 gate always takes the stock 4×8 plan, whose oracle is
# DEDUP_SIMHASH_BAND_SQL): band-scheme-independent ALL-PAIRS
# formulation, valid because the 20 block tables have EXACT recall for
# hamming ≤ 3 — any scheme with exact recall yields the same verified
# set. All-pairs is fine at forced-test scale (sf0.001, 200 docs).
DEDUP_SIMHASH64_ORACLE_SQL = (
    """
WITH exploded AS (
  SELECT DISTINCT doc_id, word
  FROM (SELECT doc_id, unnest(string_split(regexp_replace(trim(text), '\\s+', ' ', 'g'), ' ')) AS word
        FROM documents)
), hashed AS (
  SELECT doc_id,
         """
    + "\n       + ".join(
        f"CAST(strpos('0123456789abcdef', md5(word)[{i + 1}]) - 1 AS BIGINT) * {16 ** (7 - i)}"
        for i in range(8)
    )
    + """ AS h0,
         """
    + "\n       + ".join(
        f"CAST(strpos('0123456789abcdef', md5(word)[{i + 9}]) - 1 AS BIGINT) * {16 ** (7 - i)}"
        for i in range(8)
    )
    + """ AS h1
  FROM exploded
), bits AS (
  SELECT doc_id,
         """
    + ",\n         ".join(
        f"CASE WHEN (h{b // _SIMHASH_BITS} >> {b % _SIMHASH_BITS}) & 1 = 1 THEN 1 ELSE -1 END AS b{b}"
        for b in range(2 * _SIMHASH_BITS)
    )
    + """
  FROM hashed
), summed AS (
  SELECT doc_id, """
    + ", ".join(f"sum(b{b}) AS s{b}" for b in range(2 * _SIMHASH_BITS))
    + """
  FROM bits GROUP BY doc_id
), sketch AS (
  SELECT doc_id,
         """
    + " + ".join(
        f"(CASE WHEN s{b} > 0 THEN {1 << b} ELSE 0 END)" for b in range(_SIMHASH_BITS)
    )
    + """ AS w0,
         """
    + " + ".join(
        f"(CASE WHEN s{b + _SIMHASH_BITS} > 0 THEN {1 << b} ELSE 0 END)"
        for b in range(_SIMHASH_BITS)
    )
    + """ AS w1
  FROM summed)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.w0, b.w0)) + bit_count(xor(a.w1, b.w1)) AS BIGINT) AS hamming
FROM sketch a JOIN sketch b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.w0, b.w0)) + bit_count(xor(a.w1, b.w1)) <= 3
ORDER BY doc_a, doc_b
"""
)


_EMB_TABLES = 4  # hash tables (table t's planes start at component t*stride)
_EMB_STRIDE = 16  # component offset between consecutive tables
_EMB_DIM = _EMB_TABLES * _EMB_STRIDE  # 64-dim corpus; planes wrap mod this
# Per-table plane CAP. Round 12 (the ×256 probe caught it at a 4.08
# wall-doubling): the cap used to be 16 — the stride — so past
# n·(b0+1)/64 ≈ 2^16 the adaptive code width SATURATED and bucket
# occupancy grew linearly with n again (pairs quadratically: ×128
# 49.8 s → ×256 203.2 s). Planes beyond the stride now WRAP into the
# neighboring tables' component ranges (plane i of table t reads
# component (t·16 + i) mod 64), so the code keeps widening to 48
# distinct sign planes per table — saturation moves past 2^48·64/(b0+1)
# ≈ 10^14 vectors per slice. Trade-off, documented: for b > 16 the
# tables share components, so their agreements are no longer fully
# independent (recall per extra doubling degrades toward the
# single-table curve); the hamming-1 multiprobe still recovers every
# single-plane straddle in every table, and b ≤ 16 (every scale up to
# ~2.6M vectors — the driver gate, the bench, and the ×64/×128 probes)
# is bit-for-bit the old behavior, no kick-in switch needed: the
# count-derived b IS the adaptivity.
_EMB_MAX_BITS = 48
_EMB_TARGET_BLOCK = 64.0  # aim blocks at ~this many vectors


def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup: pair docs whose embeddings' cosine
    ≥ 0.42, candidates from SCALE-ADAPTIVE multi-table random-
    hyperplane LSH: each of 4 hash tables buckets by the signs of b
    components (table t's plane i reads component (t·16+i) mod 64 —
    past the 16-component stride the planes WRAP into the neighboring
    tables' ranges, so the code width keeps growing with n instead of
    saturating; see _EMB_MAX_BITS for the ×256 doubling this fixed),
    where
    b = min(48, max(4, ⌈log2(n·(b₀+1) / 64)⌉)), b₀ = max(4, ⌈log2(n/64)⌉),
    is derived from the corpus count INSIDE the plan (a broadcast
    1-row aggregate gating each bit's CASE) — the (b₀+1) term absorbs
    the hamming-1 multiprobe fan-out into the code width (sizing b
    against n alone leaves ~(b+1)·64 candidates per vector: the
    n·log n blow-up SCALE_SLOPE_XL64 measured at 149× on 64× data),
    so bucket cardinality GROWS with the corpus and the per-table
    PROBED pair space stays ~n·64, never Σblock². A fixed-width bucket key is the
    quadratic trap tools/scale_slope.py caught in fuzzy_match_parts;
    this is the dense-vector version of the same fix, and the
    n-adaptive b applies to every sign-bucket blocker in the family.
    Multiple tables restore the recall a longer code costs (candidate
    if ANY table agrees — the banding idea on dense vectors), and each
    table additionally probes its HAMMING-1 neighborhood: every vector
    also looks up the b buckets that differ in exactly one sign bit
    (multiprobe LSH), so a near-duplicate pair straddling a single
    hyperplane in every table is still found. Probe fan-out is b+1
    keys per vector per table, already paid for by the widened code. Verdict per duplicate: keep the
    most-similar lower doc_id.

    `embeddings.vec_id` aligns with `documents.doc_id`; arithmetic is
    float64 left-folds (see similarity module) so Spark and DuckDB
    agree bit-for-bit before rounding."""
    from hematite_spark.functions import dbl as _dbl, dot as _dot, l2_norm as _norm

    emb = load_table(spark, "embeddings", sf_dir)
    ev = _dbl("embedding")
    # Code width sized against the PROBED pair space, not the raw
    # bucket: multiprobe fans each vector out to b+1 keys, so the
    # naive b0 = log2(n/64) leaves (b0+1)·64 candidates per vector —
    # the n·log n blow-up SCALE_SLOPE_XL64 measured at 149× on 64×
    # data. Solve 2^b ≥ n·(b0+1)/64 instead (one fixed-point step),
    # capped at the 48-plane per-table budget (_EMB_MAX_BITS).
    n = F.count("*")
    b0 = F.greatest(
        F.lit(4), F.ceil(F.log2(n / F.lit(_EMB_TARGET_BLOCK))).cast("int")
    )
    bstats = emb.agg(
        F.least(
            F.lit(_EMB_MAX_BITS),
            F.greatest(
                F.lit(4),
                F.ceil(
                    F.log2(n * (b0 + 1) / F.lit(_EMB_TARGET_BLOCK))
                ).cast("int"),
            ),
        ).alias("b")
    )
    base = emb.select(F.col("vec_id").alias("doc_id"), ev.alias("ev")).crossJoin(
        F.broadcast(bstats)
    )
    # norm hoisted to a scalar column once per vector — the verify
    # join then scores each candidate with one dot fold + a scalar
    # divide (bit-identical values to the naive per-pair norms)
    v = base.withColumn("nrm", _norm(F.col("ev"))).select(
        "doc_id",
        "ev",
        "nrm",
        "b",
        *[
            sum(
                F.when(
                    (F.lit(i) < F.col("b"))
                    & (
                        F.element_at(
                            F.col("ev"), (t * _EMB_STRIDE + i) % _EMB_DIM + 1
                        )
                        >= 0
                    ),
                    F.lit(1 << i),
                ).otherwise(F.lit(0))
                for i in range(_EMB_MAX_BITS)
            )
            .cast("bigint")
            .alias(f"bkt{t}")
            for t in range(_EMB_TABLES)
        ],
    ).localCheckpoint()  # bucketed once; feeds all table joins
    # VERIFY INSIDE THE BAND JOIN (round 12): the old shape generated
    # thin candidate pairs, deduped them, then re-joined BOTH vector
    # sides to score — so every candidate row (the accidental mass,
    # ~n·(b₀+1)·64 pairs by the width design) crossed two exchanges
    # carrying a 550 B embedding; at ×256 that was a 52 GB shuffle
    # that filled the probe host's disk. The band join's inputs
    # already hold both embeddings, so the cosine is computed IN the
    # join's own projection (whole-stage codegen, one dot fold) and
    # the ≥ 0.42 filter runs before anything is exchanged: only
    # verified near-dup pairs — true near-dup mass, not candidate
    # mass — ever leave the join. A pair colliding in several tables
    # re-computes one 64-mult fold per collision (≤ 4: probe keys are
    # distinct within a table), orders of magnitude cheaper than
    # shipping arrays per candidate; the cross-table dedup input is
    # now verified pairs only, so the round-10 bytes-scaled dedup and
    # fat-row exchanges are unnecessary and removed. Filter-then-
    # dedup equals the oracle's dedup-then-filter row-for-row (the
    # rounded cosine is identical in every branch).
    cand = None
    for t in range(_EMB_TABLES):
        # multiprobe: each vector's own bucket plus its b hamming-1
        # flips; the probe list is the equi-join key, so candidates
        # within hamming ≤1 of any table's signature are recovered
        # without widening the bucket itself
        probes = v.select(
            F.col("doc_id"),
            F.col("ev"),
            F.col("nrm"),
            F.expr(
                f"explode(concat(array(bkt{t}), "
                f"transform(sequence(0, b - 1), i -> bkt{t} ^ shiftleft(1L, i))))"
            ).alias("probe"),
        )
        a, b = probes.alias("a"), v.alias("b")
        pt = (
            a.join(
                b,
                (F.col("a.probe") == F.col(f"b.bkt{t}"))
                & (F.col("a.doc_id") < F.col("b.doc_id")),
            )
            .select(
                F.col("a.doc_id").alias("keep_doc"),
                F.col("b.doc_id").alias("drop_doc"),
                F.round(
                    _dot(F.col("a.ev"), F.col("b.ev")) / (F.col("a.nrm") * F.col("b.nrm")), 6
                ).alias("cosine"),
            )
            .where(F.col("cosine") >= 0.42)
        )
        cand = pt if cand is None else cand.unionByName(pt)
    pairs = cand.dropDuplicates(["keep_doc", "drop_doc"])
    from pyspark.sql import Window as W

    w = W.partitionBy("drop_doc").orderBy(F.col("cosine").desc(), F.col("keep_doc"))
    return (
        pairs.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("drop_doc", "keep_doc", "cosine")
        .orderBy("drop_doc")
    )


def _emb_bucket_sql(t: int) -> str:
    terms = " + ".join(
        f"(CASE WHEN {i} < b AND ev[{(t * _EMB_STRIDE + i) % _EMB_DIM + 1}] >= 0"
        f" THEN {1 << i} ELSE 0 END)"
        for i in range(_EMB_MAX_BITS)
    )
    return f"CAST({terms} AS BIGINT) AS bkt{t}"


DEDUP_EMBEDDING_SQL = f"""
WITH n0 AS (
  SELECT CAST(count(*) AS DOUBLE) AS n,
         greatest(4, CAST(ceil(log2(count(*) / {_EMB_TARGET_BLOCK})) AS INT)) AS b0
  FROM embeddings),
bs AS (
  SELECT least({_EMB_MAX_BITS},
               greatest(4, CAST(ceil(log2(n * (b0 + 1) / {_EMB_TARGET_BLOCK})) AS INT))) AS b
  FROM n0),
v AS (
  SELECT vec_id AS doc_id, ev, b,
         sqrt(list_reduce(list_transform(ev, x -> x * x), (acc, x) -> acc + x)) AS nrm,
         {", ".join(_emb_bucket_sql(t) for t in range(_EMB_TABLES))}
  FROM (SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings), bs
), cand AS (
  {" UNION ".join(
      f'''SELECT a.doc_id AS keep_doc, b.doc_id AS drop_doc
      FROM (SELECT doc_id,
                   unnest(list_prepend(bkt{t},
                          list_transform(range(0, b), i -> xor(bkt{t}, 1::BIGINT << i)))) AS probe
            FROM v) a
      JOIN v b ON a.probe = b.bkt{t} AND a.doc_id < b.doc_id'''
      for t in range(_EMB_TABLES))}
), pairs AS (
  SELECT keep_doc, drop_doc,
         round(list_reduce(list_transform(list_zip(ea.ev, eb.ev), p -> p[1] * p[2]), (acc, x) -> acc + x)
               / (ea.nrm * eb.nrm), 6) AS cosine
  FROM cand
  JOIN v ea ON cand.keep_doc = ea.doc_id
  JOIN v eb ON cand.drop_doc = eb.doc_id
)
SELECT drop_doc, keep_doc, cosine
FROM (SELECT *, row_number() OVER (PARTITION BY drop_doc ORDER BY cosine DESC, keep_doc) AS rn
      FROM pairs WHERE cosine >= 0.42)
WHERE rn = 1
ORDER BY drop_doc
"""


# above this many symmetric edges, connected components runs as
# distributed star contraction; below, driver-side union-find (the
# graph is node-count-bounded by 2×edges, so this bounds driver memory)
_CC_DRIVER_MAX = 2_000_000


def _stats_cut(df: DataFrame, tmps: list | None = None) -> DataFrame:
    """localCheckpoint + COST-ESTIMATE RESET for iterative dataflow.

    Dataset.localCheckpoint rewrites the new LogicalRDD leaf's stats
    from the ORIGIN plan (ExistingRDD.rewriteStatsAndConstraints), so
    sizeInBytes estimates COMPOUND across supersteps: every join
    multiplies them, the digits of the BigInteger estimate roughly
    triple per round, and after ~10 checkpointed rounds the driver
    spends minutes in BigInteger.multiply inside stats estimation —
    the ×64 probe caught entity_resolution_pipeline's planning (not
    execution!) hanging exactly there (jstack: Thread-3 RUNNABLE in
    SizeInBytesOnlyStatsPlanVisitor.visitJoin → multiplyToomCook3,
    991 s CPU, called from Dataset.localCheckpoint). Re-wrapping the
    checkpointed InternalRow RDD in a fresh Dataset drops the origin
    stats (leaf reverts to the defaultSizeInBytes sentinel), so each
    superstep's estimate is bounded by ONE round's joins; runtime
    join planning is unaffected because AQE re-plans from the real
    materialized sizes anyway. Falls back to the plain checkpoint if
    the internal constructor ever disappears.

    ``tmps``: optional list the raw checkpointed frame is appended to
    so iterative callers can release the PREVIOUS superstep's blocks
    once the next one materializes (round-13 lifecycle; the wrapped
    frame's own plan no longer exposes the persisted RDD, so the
    handle must be captured here)."""
    cp = df.localCheckpoint()
    if tmps is not None:
        tmps.append(cp)
    try:
        jdf = cp._jdf  # classic-only internals; guarded below
        wrapped = cp.sparkSession._jsparkSession.internalCreateDataFrame(
            jdf.queryExecution().toRdd(), jdf.schema(), False
        )
        global _STATS_CUT_INTERNAL_OK
        _STATS_CUT_INTERNAL_OK = True
        return DataFrame(wrapped, cp.sparkSession)
    except Exception as exc:  # pragma: no cover - connect/API-drift fallback
        # ADVICE r8: the silent fallback would quietly reinstate the
        # compounding-stats planner hang this function exists to fix
        # (PySpark upgrade renaming _jdf, or Spark Connect where there
        # is no JVM handle at all). Warn ONCE so a probe/bench run that
        # suddenly goes super-linear has its cause in the log, and so
        # the pin test (tests/test_queries.py::
        # test_stats_cut_internal_path_taken_on_classic_spark)
        # fails loudly if the internal constructor drifts.
        global _STATS_CUT_WARNED
        if not _STATS_CUT_WARNED:
            _STATS_CUT_WARNED = True
            warnings.warn(
                "hematite_spark: _stats_cut fell back to plain "
                f"localCheckpoint ({type(exc).__name__}: {exc}); iterative "
                "queries may hit compounding Catalyst size estimates — "
                "check PySpark classic-mode internals "
                "(DataFrame._jdf / SparkSession.internalCreateDataFrame)",
                RuntimeWarning,
                stacklevel=2,
            )
        return cp


_STATS_CUT_WARNED = False
# _stats_cut took the internal (stats-dropping) path at least once this
# process; the pin test asserts this goes True on classic PySpark.
_STATS_CUT_INTERNAL_OK = False


def _cc_star_round(
    g: DataFrame, large: bool, cut: bool = True, tmps: list | None = None
) -> DataFrame:
    """One star operation of the alternating large-star/small-star
    connected-components algorithm (Kiveris et al., "Connected
    Components in MapReduce and Beyond" — public knowledge) over the
    SYMMETRIC edge list ``g``. For each node u with minimum
    m = min(Γ(u) ∪ {u}): large-star connects every STRICTLY LARGER
    neighbor to m; small-star connects every smaller-or-equal
    neighbor and u itself to m. Self-loops drop, the result is
    re-symmetrized and deduplicated, and the edge count stays
    bounded by the input's. Returns the new symmetric edge list.

    ``cut=False`` skips the per-round materialization so a full
    large+small cycle runs as ONE job (VERDICT r9 item 5): the
    small-star consumes the large-star output twice (the min
    aggregate and the adjacency join), but both subtrees end in the
    same dropDuplicates exchange, so ReuseExchange computes the
    large-star's shuffles once — cheaper than a localCheckpoint
    round-trip per star round when the per-cycle cost is job/stage
    latency, not data (the ×64/×128 probes measured ~160 s FLAT for
    entity_resolution_pipeline: fixed superstep overhead). The
    stats-compounding risk _stats_cut exists for stays bounded at
    two rounds of joins per cut."""
    m = (
        g.groupBy("doc_a")
        .agg(F.min("doc_b").alias("mn"))
        .select("doc_a", F.least(F.col("doc_a"), F.col("mn")).alias("m"))
    )
    adj = g.join(m, "doc_a")
    if large:
        em = adj.where(F.col("doc_b") > F.col("doc_a")).select(
            F.col("doc_b").alias("u"), F.col("m").alias("v")
        )
    else:
        em = (
            adj.where(F.col("doc_b") <= F.col("doc_a"))
            .select(F.col("doc_b").alias("u"), F.col("m").alias("v"))
            .unionByName(
                m.select(F.col("doc_a").alias("u"), F.col("m").alias("v"))
            )
        )
    und = em.where(F.col("u") != F.col("v"))
    sym = und.unionByName(und.select(F.col("v").alias("u"), F.col("u").alias("v")))
    out = sym.select(F.col("u").alias("doc_a"), F.col("v").alias("doc_b")).dropDuplicates(
        ["doc_a", "doc_b"]
    )
    return _stats_cut(out, tmps) if cut else out


def _cc_propagate(edges: DataFrame) -> DataFrame:
    """Distributed connected components via alternating large-star /
    small-star rounds — O(log² n) rounds worst case, ~2·log n in
    practice, INDEPENDENT of how node ids are laid out along chains.

    Round-8 history (why not something simpler): plain neighbor-min
    label propagation converges in graph-DIAMETER rounds, and the
    ×64 probe's replica-chained same-name part records (path
    clusters of diameter ~10⁴) drove entity_resolution_pipeline to
    100+ rounds before crashing Catalyst stats estimation
    ("BigInteger would overflow supported range"). Two candidate
    fixes MEASURED INSUFFICIENT before this one: (a) pointer
    jumping — the jump only teleports when the pointed-to node
    already knows a better label, and a not-yet-informed local
    minimum mid-chain reduces it to +2 ranks per round (observed
    constant label-sum delta for 25+ rounds); (b) quotient-graph
    contraction by current labels — on a monotone-id path the
    quotient is the same path shifted by two, 100 rounds for a
    200-node path (regression test). The star algorithm's potential
    argument does not depend on id layout, which is exactly what
    the adversarial sorted-neighborhood chains need.

    Convergence: the edge set is a fixpoint of a full
    large+small cycle once every component is a star centered at
    its minimum; detected by an order-insensitive signature of
    count + two independent bounded hash sums (raw id sums/products
    overflow BIGINT under ANSI mode at replicated-key scales —
    pmod(xxhash64, 2²⁶) keeps the sum within long range up to ~10¹¹
    edges). Returns (node, label) for every node appearing in
    ``edges``, label = component minimum — identical to the driver
    union-find path's output."""
    g = edges
    prev = None
    _m = F.lit(1 << 26)
    # ADVICE r8/r9: bound the fixpoint loop. The algorithm's proven
    # worst case is O(log² n) full cycles (~2·log n in practice); a
    # signature collision (count + two 26-bit hash sums agreeing on
    # different edge sets) or a regression in the star rounds must
    # fail loudly, not spin inside a query build. The edge count of
    # round 1 upper-bounds every later round's, so size the cap from
    # it — QUADRATICALLY, so the cap is provably above the theoretical
    # bound, not just the observed one (ADVICE r9: the old linear
    # 4·⌈log₂ e⌉+8 could spuriously kill a legitimately slow-converging
    # pathological graph): 4·⌈log₂ e⌉² + 8 is ≥ 4× the O(log² n) bound
    # and still ~40× the observed rounds on the adversarial
    # 200-node-path regression test.
    cap = None
    rounds = 0
    cps: list[DataFrame] = []
    while True:
        # one materialization per CYCLE, not per star round (VERDICT r9
        # item 5): the large-star output stays lazy and the small-star
        # round's checkpoint job computes both rounds' shuffles at once
        g = _cc_star_round(g, large=True, cut=False)
        g = _cc_star_round(g, large=False, tmps=cps)
        # the previous cycle's checkpoint blocks are dead as soon as
        # this cycle's materialized (round-13 lifecycle: a 10-cycle
        # contraction otherwise retains every intermediate edge list)
        if len(cps) > 1:
            release_checkpoint(cps.pop(0))
        sig = tuple(
            g.agg(
                F.count(F.lit(1)),
                F.sum(F.pmod(F.xxhash64("doc_a", "doc_b"), _m)),
                F.sum(F.pmod(F.xxhash64("doc_b", F.lit(7), "doc_a"), _m)),
            ).first()
        )
        if sig == prev:
            break
        rounds += 1
        if cap is None:
            # sig[0] = current symmetric edge count (post-round-1, so an
            # upper bound for all subsequent rounds)
            cap = 4 * math.ceil(math.log2(max(int(sig[0] or 0), 2))) ** 2 + 8
        if rounds > cap:
            raise RuntimeError(
                "connected-components star contraction did not reach a "
                f"fixpoint in {rounds} cycles (cap {cap}; last signature "
                f"{sig}) — algorithmic regression or signature collision"
            )
        prev = sig
    return (
        g.groupBy(F.col("doc_a").alias("node"))
        .agg(F.min("doc_b").alias("mn"))
        .select("node", F.least(F.col("node"), F.col("mn")).alias("label"))
    )


def _cc_labels(spark: SparkSession, pairs: DataFrame) -> DataFrame:
    """Per-node component labels ``(node, label = min member id)`` over
    a pair graph ``(doc_a, doc_b)`` — the one connected-components
    labeller. Size-adaptive, the same policy Catalyst applies to join
    sides: a near-dup graph is a tiny fraction of the corpus (only
    near-dup docs appear), so when it fits on the driver (≤
    _CC_DRIVER_MAX symmetric edges, counted by the edge checkpoint's
    own job) a path-compressed, union-by-min union-find solves it in
    one pass — supersteps' per-job latency would dominate otherwise.
    Above it the distributed star contraction (_cc_propagate) runs;
    both compute the minimum node id per component."""
    edges, n_edges = _counted_checkpoint(
        pairs.unionByName(pairs.select(F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b")))
    )  # materialize ONCE — supersteps must not recompute the pair build
    if n_edges <= _CC_DRIVER_MAX:
        parent: dict[int, int] = {}

        def find(x: int) -> int:
            root = x
            while parent.setdefault(root, root) != root:
                root = parent[root]
            while parent[x] != root:  # path compression
                parent[x], x = root, parent[x]
            return root

        for a, b in edges.collect():
            ra, rb = find(a), find(b)
            if ra != rb:
                lo, hi = (ra, rb) if ra < rb else (rb, ra)
                parent[hi] = lo  # union by min → root = min doc_id
        rows = sorted((node, find(node)) for node in parent)
        release_checkpoint(edges)  # labels live on the driver now
        return spark.createDataFrame(rows, "node bigint, label bigint")
    labels = _cc_propagate(edges)
    # the contraction ran to its fixpoint eagerly; labels reads only
    # the final cycle's checkpoint, so the input edge blocks are dead
    release_checkpoint(edges)
    return labels


def dedup_connected_components(
    spark: SparkSession, sf_dir: str, pairs: DataFrame | None = None
) -> DataFrame:
    """Transitive near-dup clusters: connected components over the
    LSH candidate-pair graph — the step that turns pairwise candidates
    into actual dedup decisions (one keeper per cluster, even when
    A~B~C but A≁C directly). Clusters are _cc_labels' labels grouped:
    keeper = the component minimum.

    The distributed path (_cc_propagate) is iterative star
    contraction, O(log² n) rounds robust to adversarial id layouts
    along chains; each round is keyed joins + one aggregate — the
    Pregel pattern on DataFrames — and lineage is cut per iteration
    (localCheckpoint + stats reset) so plans don't nest. Near-dup
    graphs are overwhelmingly tiny components, so the driver
    union-find takes them at any probed scale.

    The oracle computes the same fixpoint as a recursive CTE —
    checking an iterative distributed algorithm against a declarative
    one.

    `pairs` lets callers that already computed the candidate graph
    (corpus_pipeline) pass it in, so the LSH build — the expensive
    stage — runs once, not once per consumer."""
    if pairs is None:
        pairs = _lsh_candidates(spark, sf_dir).select("doc_a", "doc_b")
    return (
        _cc_labels(spark, pairs)
        .groupBy("label")
        .agg(F.count("*").alias("n_members"), F.max("node").alias("max_doc_id"))
        .where(F.col("n_members") > 1)
        .select(F.col("label").alias("cluster_keeper"), "n_members", "max_doc_id")
        .orderBy("cluster_keeper")
    )


DEDUP_CC_SQL = (
    _MINHASH_CTE.replace("WITH shingles", "WITH RECURSIVE shingles", 1)
    + f"""
, bands AS (
  SELECT doc_id,
         {", ".join(f"md5(mh{2*b} || '|' || mh{2*b+1}) AS band{b}" for b in range(N_MINHASH // 2))}
  FROM sigs)
, pairs AS (
  SELECT doc_a, doc_b FROM ({_LSH_BANDS}) GROUP BY doc_a, doc_b)
, edges AS (
  SELECT doc_a AS s, doc_b AS d FROM pairs
  UNION ALL
  SELECT doc_b AS s, doc_a AS d FROM pairs)
, reach(node, label) AS (
  SELECT DISTINCT s, s FROM edges
  UNION
  SELECT e.d, r.label FROM reach r JOIN edges e ON r.node = e.s)
, assign AS (
  SELECT node, min(label) AS label FROM reach GROUP BY node)
SELECT label AS cluster_keeper, count(*) AS n_members, max(node) AS max_doc_id
FROM assign
GROUP BY label
HAVING count(*) > 1
ORDER BY cluster_keeper
"""
)


def dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic dedup (the SemDeDup recipe): coarse-cluster the
    embedding space with the same deterministic 8-centroid quantizer
    as ann_ivf_kmeans_assign, then prune near-duplicates WITHIN each
    cluster — a doc is dropped when a lower-id doc in its cell has
    cosine ≥ 0.3 with it; the verdict row names its best keeper.
    Complements the sign-bucket blocking of dedup_embedding_cosine:
    learned cells adapt to the data distribution, so at 100 TB the
    cell id doubles as the partition key and pruning is an
    embarrassingly parallel per-partition job after ONE broadcast
    assignment pass (centroids are O(k)); the in-cell pair join is
    an equi-join on the cell, never a cross-corpus explosion.

    The in-cell scoring runs as BLOCKED MATRIX MATH per cell
    (Arrow-batched applyInPandas → float64 numpy GEMM), not a
    per-pair expression fold: within-cluster all-pairs cosine IS a
    dense matmul, and one BLAS call per cell beats interpreted
    per-element folds by orders of magnitude — the same reason
    production SemDeDup scores clusters on GPUs. Column blocks bound
    memory to O(cell × block), and each cell is an independent task.
    Cosines are rounded to 6 before thresholding; assignment
    distances are rounded to 6 before the argmin in BOTH engines
    (ADVICE r10: numpy's pairwise summation and the oracle's left
    fold differ ~1e-14 on unit-scale values — rounding 8 orders above
    the drift turns every fp-adjacent near-tie into an exact tie the
    deterministic centroid_id tiebreak owns)."""
    import pandas as pd
    from pyspark.sql import Window as W
    from pyspark.sql import types as T

    from hematite_spark.functions import dbl as _dbl

    emb = load_table(spark, "embeddings", sf_dir)
    # k ADAPTS to corpus size, k = max(8, n // target-cell) (round 10:
    # the ×128 interleaved probe measured a 3.63 wall-doubling / 145×
    # ratio — with 8 FIXED centroids, cells grow n/8 and the in-cell
    # GEMM (n/8)², a workload quadratic. SemDeDup's own recipe sizes
    # the coarse clustering to the corpus; with cells pinned at ~250
    # vectors the total GEMM work is n·cell = linear.) Above
    # _SEM_ROUTE_MIN_VECS the ASSIGNMENT becomes two-level (VERDICT
    # r10 item 1 — the flat n×k argmin is Θ(n²d/250) once k ∝ n):
    # route each vector to its nearest of s = ceil(sqrt(k))
    # super-centroids, then argmin over only the centroids routed to
    # that super-cell — O(n·√k·d) work and O(√k·d) task memory. Both
    # k and s come from one in-plan count (lazy, broadcast 1-row
    # frame) so the oracle reproduces them exactly: count(*) is
    # identical in both engines, and below the route kick-in s = 1
    # makes routing the identity (one super-cell holding every
    # centroid ⇒ the argmin is global — the exact semantics the fold
    # path computes). The asymptote is n^1.5 in the worst case (k ∝
    # n); past ~15M vectors per corpus slice a third routing level
    # (same rule applied to the supers) brings it to n·log n — not
    # needed at any probed scale, where routing work is ≪ the linear
    # scan+GEMM floor.
    n = F.count("*")
    k_expr = F.greatest(F.lit(8), F.floor(n / _SEM_TARGET_CELL)).cast("long")
    kdf = emb.agg(
        k_expr.alias("k"),
        F.when(n > _SEM_ROUTE_MIN_VECS, F.ceil(F.sqrt(k_expr.cast("double"))))
        .otherwise(F.lit(1))
        .cast("long")
        .alias("s"),
    )
    cents = (
        emb.crossJoin(F.broadcast(kdf))
        .where(F.col("vec_id") < F.col("k"))
        .select(F.col("vec_id").alias("centroid_id"), _dbl("embedding").alias("cv"), "s")
    )
    vecs = emb.select("vec_id", _dbl("embedding").alias("ev"))
    est_vecs = table_bytes("embeddings", sf_dir) // 400  # ~bytes/row here
    if est_vecs <= _SEM_GEMM_MIN_VECS:
        # Small corpus (k stays at its 8 floor, s = 1 ⇒ routing is the
        # identity): assignment as a column-expression fold +
        # MIN-STRUCT aggregate. min(struct(d, centroid_id)) is exactly
        # the old (d ASC, centroid_id ASC) row_number tiebreak; the
        # broadcast nested-loop emits each vector's k rows
        # consecutively so map-side partials collapse them in place,
        # and the fat ev array stays OUT of the n×k stream (re-joined
        # after by vec_id). round-6 on the fold matches the oracle's
        # round-6 on list_reduce — same quantity, same rounding, so
        # the compare is exact at every tie. The path the driver's
        # small-sf correctness gate always takes.
        diff = F.zip_with(F.col("ev"), F.col("cv"), lambda x, y: (x - y) * (x - y))
        dist = F.round(F.aggregate(diff, F.lit(0.0), lambda acc, x: acc + x), 6)
        assigned_ids = (
            vecs.crossJoin(F.broadcast(cents))
            .select("vec_id", dist.alias("d"), "centroid_id")
            .groupBy("vec_id")
            .agg(F.min(F.struct("d", "centroid_id")).alias("m"))
            .select("vec_id", F.col("m.centroid_id").alias("centroid_id"))
        )
    else:
        # Large corpus: VECTORIZED numpy argmin inside cogrouped
        # applyInPandas (round 10 — the n×k zip_with fold billed
        # 126.7 s of the entry's 149 s at ×128), now TWO-LEVEL
        # (round 11). Three cogroup stages, all through the same
        # kernel: (1) route every centroid to its nearest super
        # (k×s — tiny); (2) route every vector to its nearest
        # OCCUPIED super (n×s; occupied-only so near-identical
        # super pairs — where rounding sends super σ' to cell σ but
        # strictly-nearer vectors still pick σ' — cannot strand a
        # vector in an empty cell: an inner-join row loss both
        # engines would otherwise share); (3) argmin within the
        # routed super-cell (n×~√k). Right sides replicate via a
        # lazy crossJoin with spark.range — no driver collect, plan
        # build stays job-free. Per-task centroid memory is O(√k·d).
        # Distances are _np_round6 (half-away-from-zero, matching
        # F.round and the oracle exactly — ADVICE r11) before argmin;
        # centroids
        # sorted so argmin's first-minimum IS the lowest-id tiebreak
        # — identical to the fold and the oracle's row_number at
        # every tie, including the rounding-created ones. The
        # forced-routing unit test drives THIS path against the
        # re-derived DuckDB oracle end-to-end.
        def _argmin_stage(left, right, keys: list, lid: str, rid: str):
            """left: keys + (id, lv); right: keys + (rid, rv) →
            (lid, rid) nearest-by-rounded-L2², ties to lowest rid."""

            def fn(l: pd.DataFrame, r: pd.DataFrame) -> pd.DataFrame:
                import numpy as np

                if l.empty or r.empty:
                    return pd.DataFrame({lid: [], rid: []}).astype(
                        {lid: "int64", rid: "int64"}
                    )
                r = r.sort_values(rid).reset_index(drop=True)
                C = np.array(r["rv"].tolist(), dtype=np.float64)
                r_ids = r[rid].to_numpy()
                V = np.array(l["lv"].tolist(), dtype=np.float64)
                out = np.empty(len(V), dtype=np.int64)
                step = max(1, (64 << 20) // max(1, C.shape[0] * C.shape[1] * 8))
                for i in range(0, len(V), step):
                    d2 = _np_round6(
                        ((V[i : i + step, None, :] - C[None, :, :]) ** 2).sum(axis=2)
                    )
                    out[i : i + step] = r_ids[np.argmin(d2, axis=1)]
                return pd.DataFrame({lid: l["id"].to_numpy(), rid: out})

            return (
                left.groupBy(*keys)
                .cogroup(right.groupBy(*keys))
                .applyInPandas(fn, f"{lid} long, {rid} long")
            )

        G_ROUTE, G_CELL = 64, 16
        supers = cents.where(F.col("centroid_id") < F.col("s")).select(
            F.col("centroid_id").alias("super_id"), F.col("cv").alias("rv")
        )
        # (1) centroid → super (k rows; 8 groups is plenty)
        c_left = cents.select(
            F.pmod("centroid_id", F.lit(8)).cast("int").alias("g"),
            F.col("centroid_id").alias("id"),
            F.col("cv").alias("lv"),
        )
        c_right = supers.crossJoin(spark.range(8).select(F.col("id").cast("int").alias("g")))
        c_route = _argmin_stage(c_left, c_right, ["g"], "centroid_id", "super_id")
        # (2) vector → occupied super
        occupied = supers.join(c_route.select("super_id").distinct(), "super_id")
        v_left = vecs.select(
            F.pmod("vec_id", F.lit(G_ROUTE)).cast("int").alias("g"),
            F.col("vec_id").alias("id"),
            F.col("ev").alias("lv"),
        )
        v_right = occupied.crossJoin(
            spark.range(G_ROUTE).select(F.col("id").cast("int").alias("g"))
        )
        v_route = _argmin_stage(v_left, v_right, ["g"], "vec_id", "super_id")
        # (3) argmin within the routed super-cell
        a_left = v_route.join(vecs, "vec_id").select(
            "super_id",
            F.pmod("vec_id", F.lit(G_CELL)).cast("int").alias("g"),
            F.col("vec_id").alias("id"),
            F.col("ev").alias("lv"),
        )
        a_right = (
            c_route.join(cents.drop("s"), "centroid_id")
            .select("super_id", "centroid_id", F.col("cv").alias("rv"))
            .crossJoin(spark.range(G_CELL).select(F.col("id").cast("int").alias("g")))
        )
        assigned_ids = _argmin_stage(
            a_left, a_right, ["super_id", "g"], "vec_id", "centroid_id"
        )
    assigned = assigned_ids.join(vecs, "vec_id").select("centroid_id", "vec_id", "ev")

    out_schema = T.StructType(
        [
            T.StructField("drop_vec", T.LongType()),
            T.StructField("keep_vec", T.LongType()),
            T.StructField("centroid_id", T.LongType()),
            T.StructField("cosine", T.DoubleType()),
        ]
    )

    def prune_cell(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        pdf = pdf.sort_values("vec_id").reset_index(drop=True)
        ids = pdf["vec_id"].to_numpy()
        cid = int(pdf["centroid_id"].iloc[0])
        E = np.array(pdf["ev"].tolist(), dtype=np.float64)
        nrm = np.sqrt((E * E).sum(axis=1))
        out = []
        block = 2048  # memory: O(cell × block) per GEMM tile
        for j0 in range(0, len(ids), block):
            j1 = min(j0 + block, len(ids))
            # cosines of ALL vectors vs this column block
            C = _np_round6((E @ E[j0:j1].T) / np.outer(nrm, nrm[j0:j1]))
            for j in range(j0, j1):
                cand = C[:j, j - j0]  # only lower-id partners (i < j)
                hits = np.nonzero(cand >= 0.3)[0]
                if len(hits):
                    # best keeper: max cosine, tie → lowest id (ids are
                    # ascending, argmax returns the first maximum)
                    best = hits[np.argmax(cand[hits])]
                    out.append((int(ids[j]), int(ids[best]), cid, float(cand[best])))
        return pd.DataFrame(out, columns=["drop_vec", "keep_vec", "centroid_id", "cosine"])

    return (
        assigned.groupBy("centroid_id")
        .applyInPandas(prune_cell, schema=out_schema)
        .orderBy("drop_vec")
    )


def _np_round6(a):
    """round-6 matching Spark F.round and DuckDB round() — HALF AWAY
    FROM ZERO. np.round is half-to-even (banker's), which was a
    residual divergence channel on exact 1e-6 midpoints between the
    numpy kernels and both engines' fold/oracle paths (ADVICE r11).
    copysign keeps negatives (cosines) rounding away from zero too."""
    import numpy as np

    return np.copysign(np.floor(np.abs(a) * 1e6 + 0.5) / 1e6, a)


def _sem_d2(a: str, b: str) -> str:
    """Rounded squared-L2 between two DOUBLE[] columns — the ONE
    assignment distance both engines order by (round-6 ≫ the ~1e-14
    summation-order drift, so fp-adjacent near-ties become exact ties
    owned by the id tiebreak; see dedup_semantic)."""
    return (
        f"round(list_reduce(list_transform(list_zip({a}, {b}), "
        "p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)) * "
        "(CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))), "
        "(acc, x) -> acc + x), 6)"
    )


# two-level routed assignment, mirroring dedup_semantic exactly: k and
# s from the same count(*) rule, centroid→super and vector→super
# routing with the same rounded distance + lowest-id tiebreak, and the
# final argmin restricted to the routed super-cell. s = 1 below the
# route kick-in makes every routing CTE the identity, so the driver's
# small-sf gate exercises the exact-argmin semantics unchanged.
DEDUP_SEMANTIC_SQL = f"""
WITH p AS (
  SELECT greatest(8, count(*) // {_SEM_TARGET_CELL}) AS k,
         CASE WHEN count(*) > {_SEM_ROUTE_MIN_VECS}
              THEN CAST(ceil(sqrt(greatest(8, count(*) // {_SEM_TARGET_CELL}))) AS BIGINT)
              ELSE 1 END AS s
  FROM embeddings),
c AS (SELECT vec_id AS centroid_id, embedding::DOUBLE[] AS cv FROM embeddings
      WHERE vec_id < (SELECT k FROM p)),
sc AS (SELECT vec_id AS super_id, embedding::DOUBLE[] AS sv FROM embeddings
       WHERE vec_id < (SELECT s FROM p)),
v AS (SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings),
c_route AS (
  SELECT centroid_id, cv, super_id
  FROM (SELECT c.centroid_id, c.cv, sc.super_id,
               row_number() OVER (PARTITION BY c.centroid_id
                                  ORDER BY {_sem_d2("c.cv", "sc.sv")}, sc.super_id) AS rn
        FROM c CROSS JOIN sc)
  WHERE rn = 1),
occ AS (SELECT super_id, sv FROM sc
        WHERE super_id IN (SELECT DISTINCT super_id FROM c_route)),
v_route AS (
  SELECT vec_id, ev, super_id
  FROM (SELECT v.vec_id, v.ev, occ.super_id,
               row_number() OVER (PARTITION BY v.vec_id
                                  ORDER BY {_sem_d2("v.ev", "occ.sv")}, occ.super_id) AS rn
        FROM v CROSS JOIN occ)
  WHERE rn = 1),
assigned AS (
  SELECT vec_id, ev, centroid_id
  FROM (SELECT vr.vec_id, vr.ev, cr.centroid_id,
               row_number() OVER (PARTITION BY vr.vec_id
                                  ORDER BY {_sem_d2("vr.ev", "cr.cv")}, cr.centroid_id) AS rn
        FROM v_route vr JOIN c_route cr ON vr.super_id = cr.super_id)
  WHERE rn = 1),
pairs AS (
  SELECT a.centroid_id AS centroid_id, a.vec_id AS keep_vec, b.vec_id AS drop_vec,
         round({{dot}} / ({{norm_a}} * {{norm_b}}), 6) AS cosine
  FROM assigned a JOIN assigned b
    ON a.centroid_id = b.centroid_id AND a.vec_id < b.vec_id)
SELECT drop_vec, keep_vec, centroid_id, cosine
FROM (SELECT *, row_number() OVER (PARTITION BY drop_vec ORDER BY cosine DESC, keep_vec) AS rn
      FROM pairs WHERE cosine >= 0.3)
WHERE rn = 1
ORDER BY drop_vec
""".format(
    dot="list_reduce(list_transform(list_zip(a.ev, b.ev), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), (acc, x) -> acc + x)",
    norm_a="sqrt(list_reduce(list_transform(a.ev, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (acc, x) -> acc + x))",
    norm_b="sqrt(list_reduce(list_transform(b.ev, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (acc, x) -> acc + x))",
)


def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental (delta) dedup — the production shape for a corpus
    that grows: a new batch (docs whose split-hash ≥ 80, reusing the
    split_train_test membership rule) is deduplicated against the
    ALREADY-ACCEPTED corpus (hash < 80) AND against itself, via the
    same MinHash band keys as dedup_lsh_candidates. Per flagged
    incoming doc: its lowest-id matching partner on each side and the
    distinct-partner count — what an ingest job needs to decide
    drop/keep and to wire provenance.

    Scale: the accepted corpus' band table is the big side but it is
    NEVER rebuilt — in production it's a materialized index keyed by
    band (here both sides derive from one signature pass for oracle
    parity). The batch's band stack is one equi-join on (band, h)
    against the whole stack — O(batch) probe rows against the
    band-bucketed index; at 100 TB the index is bucketed/partitioned
    BY the band key, so the probe is a partition-pruned lookup, and
    batch-vs-batch dedup stays O(batch). An accepted partner matches
    on any band; an incoming one only when it has the lower doc_id.
    No similarity math at all until a downstream verify (the
    dedup_lsh_verified funnel applies unchanged)."""
    from hematite_spark.queries.sampling import _hash_pct

    sigs = _minhash_signatures(spark, sf_dir).withColumn("hp", _hash_pct(F.col("doc_id")))
    st = _band_stack(sigs)
    i, e = st.where(F.col("hp") >= 80).alias("i"), st.alias("e")
    existing = F.col("e.hp") < 80
    on = (
        (F.col("i.band") == F.col("e.band"))
        & (F.col("i.h") == F.col("e.h"))
        & (existing | ((F.col("e.hp") >= 80) & (F.col("e.doc_id") < F.col("i.doc_id"))))
    )
    matches = i.join(e, on).select(
        F.col("i.doc_id").alias("doc_id"),
        F.col("e.doc_id").alias("partner"),
        existing.alias("existing"),
    )
    return (
        matches.groupBy("doc_id")
        .agg(
            F.min(F.when(F.col("existing"), F.col("partner"))).alias("min_existing_match"),
            F.min(F.when(~F.col("existing"), F.col("partner"))).alias("min_incoming_match"),
            F.countDistinct("partner").alias("n_partners"),
        )
        .orderBy("doc_id")
    )


def _incr_sql() -> str:
    from hematite_spark.queries.sampling import _DUCK_HASH_PCT

    hp = _DUCK_HASH_PCT.format(k="doc_id::VARCHAR")
    band_defs = ", ".join(
        f"md5(mh{2*b} || '|' || mh{2*b+1}) AS band{b}" for b in range(N_MINHASH // 2)
    )
    unions = " UNION ALL ".join(
        f"""SELECT i.doc_id, e.doc_id AS partner, 'existing' AS match_type
           FROM incoming i JOIN existing e ON i.band{b} = e.band{b}
           UNION ALL
           SELECT i.doc_id, j.doc_id, 'incoming'
           FROM incoming i JOIN incoming j ON i.band{b} = j.band{b} AND j.doc_id < i.doc_id"""
        for b in range(N_MINHASH // 2)
    )
    return (
        _MINHASH_CTE
        + f"""
, bands AS (SELECT doc_id, {hp} AS hp, {band_defs} FROM sigs)
, existing AS (SELECT * FROM bands WHERE hp < 80)
, incoming AS (SELECT * FROM bands WHERE hp >= 80)
SELECT doc_id,
       min(CASE WHEN match_type = 'existing' THEN partner END) AS min_existing_match,
       min(CASE WHEN match_type = 'incoming' THEN partner END) AS min_incoming_match,
       count(DISTINCT partner) AS n_partners
FROM ({unions})
GROUP BY doc_id
ORDER BY doc_id
"""
    )


DEDUP_INCREMENTAL_SQL = _incr_sql()


def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment dedup: C(A,B) = |A∩B| / min(|A|,|B|)
    over word-3-gram sets. Jaccard misses subset duplicates — a doc
    quoted wholesale inside a longer doc scores low Jaccard but
    containment ≈ 1 — and subset inclusion is the dominant dup mode
    in crawled training data (boilerplate-wrapped articles, quoted
    posts). Flags pairs where containment ≥ 0.8; the jaccard column
    is kept to show what the symmetric metric would have said.

    Same inverted-index shape as dedup_ngram_jaccard — pairs only
    materialize for co-shingled docs, shuffle key is the shingle —
    so the scale story is identical: no all-pairs, AQE handles hot
    shingles."""
    sh = _shingles_df(spark, sf_dir).localCheckpoint()
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    common = _coshingle_common(sh, sf_dir)
    sa, sb = sizes.alias("sa"), sizes.alias("sb")
    return (
        common.join(sa, F.col("doc_a") == F.col("sa.doc_id"))
        .join(sb, F.col("doc_b") == F.col("sb.doc_id"))
        .select(
            "doc_a",
            "doc_b",
            F.col("common"),
            F.round(
                F.col("common") / F.least(F.col("sa.n_sh"), F.col("sb.n_sh")), 4
            ).alias("containment"),
            F.round(
                F.col("common") / (F.col("sa.n_sh") + F.col("sb.n_sh") - F.col("common")), 4
            ).alias("jaccard"),
        )
        .where(F.col("containment") >= 0.8)
        .orderBy("doc_a", "doc_b")
    )


DEDUP_CONTAINMENT_SQL = (
    _SHINGLES_CTE
    + """
, sizes AS (SELECT doc_id, count(*) AS n_sh FROM shingles GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
  FROM shingles a JOIN shingles b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id)
SELECT doc_a, doc_b, common,
       round(common / CAST(least(sa.n_sh, sb.n_sh) AS DOUBLE), 4) AS containment,
       round(common / CAST(sa.n_sh + sb.n_sh - common AS DOUBLE), 4) AS jaccard
FROM common
JOIN sizes sa ON doc_a = sa.doc_id
JOIN sizes sb ON doc_b = sb.doc_id
WHERE round(common / CAST(least(sa.n_sh, sb.n_sh) AS DOUBLE), 4) >= 0.8
ORDER BY doc_a, doc_b
"""
)


def dedup_cluster_density(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-graph quality audit: triangle count and global
    clustering coefficient of the LSH candidate graph. Near-dup
    clusters should be near-cliques (every member resembles every
    member); a candidate graph with many wedges but few triangles is
    dominated by hub false positives (a hot band key chaining
    unrelated docs), and its transitive closure would over-merge.
    This is the metric that catches that BEFORE connected components
    commits to the clusters.

    Mechanics: triangles = edges⋈edges⋈edges with a<b<c — three
    equi-joins on node keys, never enumerating non-edges; wedges =
    Σ d(d−1)/2 from one degree aggregate. At 100 TB both are keyed
    shuffles on the candidate graph, which is orders of magnitude
    smaller than the corpus (only near-dup docs have edges)."""
    pairs = _lsh_candidates(spark, sf_dir).select("doc_a", "doc_b").localCheckpoint()
    e1, e2, e3 = pairs.alias("e1"), pairs.alias("e2"), pairs.alias("e3")
    tri = (
        e1.join(e2, F.col("e1.doc_b") == F.col("e2.doc_a"))
        .join(
            e3,
            (F.col("e3.doc_a") == F.col("e1.doc_a")) & (F.col("e3.doc_b") == F.col("e2.doc_b")),
        )
        .agg(F.count("*").alias("n_triangles"))
    )
    degstats = (
        pairs.select(F.col("doc_a").alias("node"))
        .unionByName(pairs.select(F.col("doc_b").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("d"))
        .agg(
            F.count("*").alias("n_nodes"),
            F.sum((F.col("d") * (F.col("d") - 1) / 2).cast("bigint")).alias("n_wedges"),
        )
    )
    n_edges = pairs.agg(F.count("*").alias("n_edges"))
    # three 1-row aggregates composed broadcast-side — no driver
    # round-trip, the whole audit is one lazy plan
    return (
        n_edges.crossJoin(F.broadcast(degstats))
        .crossJoin(F.broadcast(tri))
        .select(
            "n_edges",
            "n_nodes",
            "n_triangles",
            "n_wedges",
            F.when(
                F.col("n_wedges") > 0,
                F.round(F.lit(3.0) * F.col("n_triangles") / F.col("n_wedges"), 4),
            )
            .otherwise(F.lit(0.0))
            .alias("global_cc"),
        )
    )


DEDUP_DENSITY_SQL = (
    _MINHASH_CTE
    + f"""
, bands AS (
  SELECT doc_id,
         {", ".join(f"md5(mh{2*b} || '|' || mh{2*b+1}) AS band{b}" for b in range(N_MINHASH // 2))}
  FROM sigs)
, pairs AS (
  SELECT doc_a, doc_b FROM ({_LSH_BANDS}) GROUP BY doc_a, doc_b)
, tri AS (
  SELECT count(*) AS n_triangles
  FROM pairs e1
  JOIN pairs e2 ON e1.doc_b = e2.doc_a
  JOIN pairs e3 ON e3.doc_a = e1.doc_a AND e3.doc_b = e2.doc_b)
, deg AS (
  SELECT node, count(*) AS d
  FROM (SELECT doc_a AS node FROM pairs UNION ALL SELECT doc_b FROM pairs)
  GROUP BY node)
, degstats AS (
  SELECT count(*) AS n_nodes,
         CAST(sum(CAST(d * (d - 1) / 2 AS BIGINT)) AS BIGINT) AS n_wedges
  FROM deg)
SELECT (SELECT count(*) FROM pairs) AS n_edges,
       n_nodes, n_triangles, n_wedges,
       CASE WHEN n_wedges > 0 THEN round(3.0 * n_triangles / n_wedges, 4) ELSE 0.0 END AS global_cc
FROM degstats, tri
"""
)


def minhash_jaccard_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-accuracy calibration: for every LSH candidate pair,
    the MinHash ESTIMATE of Jaccard (fraction of the 8 signature
    slots that agree) bucketed against the EXACT shingle Jaccard —
    the audit that tells you whether the banding thresholds are
    honest before you trust them corpus-wide. A well-calibrated
    sketch shows avg_exact rising monotonically with the estimate
    bucket; a flat table means hash collisions dominate and the
    signature needs more slots.

    Cost shape: candidate pairs only (the LSH output, never
    all-pairs); the exact-Jaccard verify is CANDIDATE-BOUNDED on both
    shingle sides (the left join makes the bounding byte-identical by
    construction), and the calibration rollup is O(9) rows. At 100 TB
    you run this on a sampled slice of candidates — the operator is
    the contract.

    One shingle definition feeds everything: the signatures
    (checkpointed — the NARROW O(docs) × 8 frame, consumed by the band
    funnel and by both sides of the estimate join) and the truth side,
    which checkpoints only the candidate-doc-bounded shingles
    (_cand_union_shingles); the corpus-wide exploded shingle frame is
    never materialized."""
    sh_all = _shingles_df(spark, sf_dir)
    sigs = _minhash_sigs_from(sh_all, _minhash_wide(sf_dir)).localCheckpoint()
    cand, hint = _cand_checkpoint(_lsh_candidates_from(sigs).select("doc_a", "doc_b"))
    sa, sb = sigs.alias("sa"), sigs.alias("sb")
    agree = sum(
        F.when(F.col(f"sa.mh{i}") == F.col(f"sb.mh{i}"), 1).otherwise(0) for i in range(N_MINHASH)
    )
    est = (
        cand.join(sa, F.col("doc_a") == F.col("sa.doc_id"))
        .join(sb, F.col("doc_b") == F.col("sb.doc_id"))
        .select("doc_a", "doc_b", agree.cast("bigint").alias("n_agree"))
    )
    sh = sh_all.where(F.col("sh").isNotNull())
    sh_cd = _cand_union_shingles(sh, cand, hint).localCheckpoint()
    exact = _cand_bounded_truth(sh_cd, cand, sf_dir, hint)
    return (
        est.join(exact, ["doc_a", "doc_b"], "left")
        .select("n_agree", F.coalesce(F.col("jac"), F.lit(0.0)).alias("jac"))
        .groupBy("n_agree")
        .agg(
            F.count("*").alias("n_pairs"),
            F.round(F.avg("jac"), 4).alias("avg_exact_jaccard"),
            F.round(F.avg(F.abs(F.col("n_agree") / N_MINHASH - F.col("jac"))), 4).alias(
                "mean_abs_err"
            ),
        )
        .orderBy("n_agree")
    )


MINHASH_AUDIT_SQL = (
    _MINHASH_CTE
    + f"""
, bands AS (
  SELECT doc_id,
         {", ".join(f"md5(mh{2*b} || '|' || mh{2*b+1}) AS band{b}" for b in range(N_MINHASH // 2))}
  FROM sigs)
, pairs AS (
  SELECT doc_a, doc_b FROM ({_LSH_BANDS}) GROUP BY doc_a, doc_b)
, est AS (
  SELECT doc_a, doc_b,
         ({" + ".join(f"(CASE WHEN sa.mh{i} = sb.mh{i} THEN 1 ELSE 0 END)" for i in range(N_MINHASH))})
           AS n_agree
  FROM pairs JOIN sigs sa ON doc_a = sa.doc_id JOIN sigs sb ON doc_b = sb.doc_id)
, shn AS (SELECT * FROM shingles WHERE sh IS NOT NULL)
, sizes AS (SELECT doc_id, count(*) AS n_sh FROM shn GROUP BY doc_id)
, common AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
  FROM shn a JOIN shn b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id)
, exact AS (
  SELECT doc_a, doc_b, common / CAST(ja.n_sh + jb.n_sh - common AS DOUBLE) AS jac
  FROM common
  JOIN sizes ja ON doc_a = ja.doc_id
  JOIN sizes jb ON doc_b = jb.doc_id)
SELECT CAST(n_agree AS BIGINT) AS n_agree, count(*) AS n_pairs,
       round(avg(coalesce(jac, 0.0)), 4) AS avg_exact_jaccard,
       round(avg(abs(n_agree / {N_MINHASH}.0 - coalesce(jac, 0.0))), 4) AS mean_abs_err
FROM est LEFT JOIN exact USING (doc_a, doc_b)
GROUP BY n_agree
ORDER BY n_agree
"""
)


def dedup_keeper_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup DECISION step — the output a pipeline actually acts
    on: for every doc in a near-dup cluster (LSH candidates → connected
    components), elect one keeper by quality (longest text wins, ties
    to the lowest doc_id) and emit per-doc verdicts. Downstream, the
    training set is `WHERE is_keeper` — so this is the last hop of the
    funnel corpus_pipeline runs end-to-end.

    The election is one window over the cluster label (first_value on
    (n_chars DESC, doc_id)); clusters are near-dup-sized, never
    corpus-sized, so the window partitions are tiny no matter the
    corpus. Oracle replays the same fixpoint as a recursive CTE."""
    from pyspark.sql import Window as W

    labels = _cc_labels(spark, _lsh_candidates(spark, sf_dir).select("doc_a", "doc_b"))
    docs = load_table(spark, "documents", sf_dir).select("doc_id", "n_chars")
    joined = labels.join(docs, labels.node == docs.doc_id).select(
        F.col("label").alias("cluster"), "doc_id", "n_chars"
    )
    w = W.partitionBy("cluster").orderBy(F.col("n_chars").desc(), "doc_id")
    return (
        joined.withColumn("keeper_id", F.first("doc_id").over(w))
        .withColumn("is_keeper", F.col("doc_id") == F.col("keeper_id"))
        .orderBy("cluster", "doc_id")
    )


DEDUP_KEEPER_SQL = (
    _MINHASH_CTE.replace("WITH shingles", "WITH RECURSIVE shingles", 1)
    + f"""
, bands AS (
  SELECT doc_id,
         {", ".join(f"md5(mh{2*b} || '|' || mh{2*b+1}) AS band{b}" for b in range(N_MINHASH // 2))}
  FROM sigs)
, pairs AS (
  SELECT doc_a, doc_b FROM ({_LSH_BANDS}) GROUP BY doc_a, doc_b)
, edges AS (
  SELECT doc_a AS s, doc_b AS d FROM pairs
  UNION ALL
  SELECT doc_b AS s, doc_a AS d FROM pairs)
, reach(node, label) AS (
  SELECT DISTINCT s, s FROM edges
  UNION
  SELECT e.d, r.label FROM reach r JOIN edges e ON r.node = e.s)
, assign AS (
  SELECT node, min(label) AS label FROM reach GROUP BY node)
SELECT cluster, doc_id, n_chars, keeper_id, doc_id = keeper_id AS is_keeper
FROM (
  SELECT a.label AS cluster, a.node AS doc_id, d.n_chars,
         first_value(a.node) OVER (PARTITION BY a.label ORDER BY d.n_chars DESC, a.node) AS keeper_id
  FROM assign a JOIN documents d ON a.node = d.doc_id)
ORDER BY cluster, doc_id
"""
)


def graph_degree_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree histogram of the LSH candidate graph — the other half of
    the over-merge audit dedup_cluster_density starts: a heavy-tailed
    degree distribution means some band key turned into a near-clique
    (boilerplate shingles, template docs) and connected components
    would fuse unrelated documents through it. Reading this BEFORE
    committing cluster decisions is how large dedup runs catch the
    '1M docs in one cluster' failure early.

    Two vocabulary-scale hash aggregates over the pair list (degree
    per node → nodes per degree); the expensive part — the candidate
    graph — is the same build every dedup consumer shares."""
    pairs = _lsh_candidates(spark, sf_dir)
    nodes = pairs.select(F.col("doc_a").alias("node")).unionByName(
        pairs.select(F.col("doc_b").alias("node"))
    )
    deg = nodes.groupBy("node").agg(F.count("*").alias("degree"))
    return (
        deg.groupBy("degree")
        .agg(F.count("*").alias("n_nodes"), F.min("node").alias("min_node"))
        .orderBy("degree")
    )


GRAPH_DEGREE_SQL = (
    _MINHASH_CTE
    + f"""
, bands AS (
  SELECT doc_id,
         {", ".join(f"md5(mh{2*b} || '|' || mh{2*b+1}) AS band{b}" for b in range(N_MINHASH // 2))}
  FROM sigs)
, pairs AS (
  SELECT doc_a, doc_b FROM ({_LSH_BANDS}) GROUP BY doc_a, doc_b)
, nodes AS (
  SELECT doc_a AS node FROM pairs UNION ALL SELECT doc_b AS node FROM pairs)
, deg AS (
  SELECT node, count(*) AS degree FROM nodes GROUP BY node)
SELECT degree, count(*) AS n_nodes, min(node) AS min_node
FROM deg
GROUP BY degree
ORDER BY degree
"""
)


_LSH_SWEEP_CONFIGS = ((8, 1), (4, 2), (2, 4))  # (bands, rows) over 8 minhashes


def lsh_parameter_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH banding trade-off table — candidate-pair volume for every
    (bands × rows) split of the SAME 8 minhashes, beside each config's
    s-curve midpoint (the similarity where match probability is 50%:
    s50 = (1/b)^(1/r)). 8×1 floods candidates (high recall, low
    precision), 2×4 starves them; this one table is how the banding
    choice stops being folklore — run it on a corpus sample, pick the
    row whose s50 matches the dedup threshold, and the candidate count
    IS the verify-stage cost forecast.

    All three configs share one signature build (localCheckpoint);
    each config is the band-stack self-join the production path uses
    (_lsh_candidates_from), never an all-pairs comparison."""
    sigs = _minhash_signatures(spark, sf_dir).localCheckpoint()
    out = None
    for b, r in _LSH_SWEEP_CONFIGS:
        row = _lsh_candidates_from(sigs, b, r).agg(
            F.lit(f"{b}x{r}").alias("config"),
            F.lit(b).cast("bigint").alias("n_bands"),
            F.lit(r).cast("bigint").alias("rows_per_band"),
            F.count("*").alias("n_candidate_pairs"),
            F.lit(round((1.0 / b) ** (1.0 / r), 4)).alias("s50"),
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy("n_bands")


def _lsh_sweep_sql() -> str:
    parts = []
    for b, r in _LSH_SWEEP_CONFIGS:
        band_exprs = ", ".join(
            "md5(" + " || '|' || ".join(f"mh{r * i + j}" for j in range(r)) + f") AS band{i}"
            for i in range(b)
        )
        joins = " UNION ALL ".join(
            f"SELECT a.doc_id AS doc_a, c.doc_id AS doc_b FROM bands_{b}x{r} a "
            f"JOIN bands_{b}x{r} c ON a.band{i} = c.band{i} AND a.doc_id < c.doc_id"
            for i in range(b)
        )
        parts.append(
            f", bands_{b}x{r} AS (SELECT doc_id, {band_exprs} FROM sigs)"
            f", pairs_{b}x{r} AS (SELECT DISTINCT doc_a, doc_b FROM ({joins}))"
        )
    selects = " UNION ALL ".join(
        f"SELECT '{b}x{r}' AS config, CAST({b} AS BIGINT) AS n_bands,"
        f" CAST({r} AS BIGINT) AS rows_per_band,"
        f" (SELECT count(*) FROM pairs_{b}x{r}) AS n_candidate_pairs,"
        f" CAST({round((1.0 / b) ** (1.0 / r), 4)} AS DOUBLE) AS s50"
        for b, r in _LSH_SWEEP_CONFIGS
    )
    return _MINHASH_CTE + "".join(parts) + f"\nSELECT * FROM ({selects}) ORDER BY n_bands"


LSH_SWEEP_SQL = _lsh_sweep_sql()


def minhash_signature_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-signature contract for the MinHash index: a
    per-SOURCE corpus signature (elementwise min over every doc's
    shingle hashes) computed two ways — directly, and by min-merging
    per-(source, doc_id-parity-half) partial signatures — must agree
    hash-for-hash, because min is associative/commutative. This is
    the property that lets a 100 TB pipeline maintain corpus-level
    signatures incrementally: new shards produce partial signatures
    and the index merge is an elementwise min, never a rebuild
    (same contract family as agg_incremental_merge).

    Output per source: halves merged, how many of the 8 hash lanes
    agree (contract: all 8), and the merged signature's first lane for
    value-checking.

    Lane width: FIXED stock 16-bit lanes by design (ADVICE r11) — the
    merge contract (min is associative/commutative) is width-agnostic,
    so nothing here needs the _minhash_wide adaptive switch, and a
    fixed width keeps sig_lane0 a stable cross-engine value check at
    every scale; this entry audits MERGEABILITY, not collision rates
    (lsh_parameter_sweep / lsh_band_auc own those)."""
    docs = load_table(spark, "documents", sf_dir).select("doc_id", "source")
    sh = _shingles_df(spark, sf_dir).withColumn("h", F.md5("sh")).join(docs, "doc_id")
    lanes = [F.substring("h", 1 + 4 * i, 4) for i in range(N_MINHASH)]
    # partial signatures per (source, half) → min-merge per source
    partial = sh.withColumn("half", F.col("doc_id") % 2).groupBy("source", "half").agg(
        *[F.min(lanes[i]).alias(f"p{i}") for i in range(N_MINHASH)]
    )
    merged = partial.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_halves"),
        *[F.min(f"p{i}").alias(f"m{i}") for i in range(N_MINHASH)],
    )
    direct = sh.groupBy("source").agg(
        *[F.min(lanes[i]).alias(f"d{i}") for i in range(N_MINHASH)]
    )
    agree = sum(
        F.when(F.col(f"m{i}") == F.col(f"d{i}"), 1).otherwise(0) for i in range(N_MINHASH)
    )
    return (
        merged.join(direct, "source")
        .select(
            "source",
            "n_halves",
            agree.cast("bigint").alias("lanes_agree"),
            F.col("m0").alias("sig_lane0"),
        )
        .orderBy("source")
    )


_SIG_MERGE_LANES = ", ".join(f"min(substring(md5(sh), {1 + 4 * i}, 4))" for i in range(N_MINHASH))

MINHASH_SIG_MERGE_SQL = (
    _SHINGLES_CTE
    + f"""
, sh AS (
  SELECT s.doc_id, s.sh, d.source, s.doc_id % 2 AS half
  FROM shingles s JOIN documents d USING (doc_id)),
partial AS (
  SELECT source, half, {", ".join(f"min(substring(md5(sh), {1 + 4 * i}, 4)) AS p{i}" for i in range(N_MINHASH))}
  FROM sh GROUP BY source, half),
merged AS (
  SELECT source, count(*)::BIGINT AS n_halves,
         {", ".join(f"min(p{i}) AS m{i}" for i in range(N_MINHASH))}
  FROM partial GROUP BY source),
direct AS (
  SELECT source, {", ".join(f"min(substring(md5(sh), {1 + 4 * i}, 4)) AS d{i}" for i in range(N_MINHASH))}
  FROM sh GROUP BY source)
SELECT source, n_halves,
       ({" + ".join(f"CASE WHEN m{i} = d{i} THEN 1 ELSE 0 END" for i in range(N_MINHASH))})::BIGINT AS lanes_agree,
       m0 AS sig_lane0
FROM merged JOIN direct USING (source)
ORDER BY source
"""
)


def lsh_precision_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LSH index's quality CONTRACT as a catalog entry: compare
    the 4×2 band candidate set against exact-Jaccard ≥ 0.5 ground
    truth (computed via the inverted index — feasible at audit scale,
    and on a sample at 100 TB) and report TP/FP/FN + precision/
    recall. This is the number that justifies the banding config in
    production; lsh_parameter_sweep picks the config, this entry
    audits the chosen one.

    Scale: ONE checkpointed shingle scan feeds both sides (ground
    truth and the minhash/band candidate build — the corpus is never
    shingled twice); both are candidate-bounded joins (shingle / band
    keys); the metric join is pair-keyed; the final report is three
    1-row aggregates broadcast-composed."""
    sh = _shingles_df(spark, sf_dir).localCheckpoint()
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    common = _coshingle_common(sh, sf_dir)
    sa, sb = sizes.alias("sa"), sizes.alias("sb")
    truth = (
        common.join(sa, F.col("doc_a") == F.col("sa.doc_id"))
        .join(sb, F.col("doc_b") == F.col("sb.doc_id"))
        .where(
            F.col("common") / (F.col("sa.n_sh") + F.col("sb.n_sh") - F.col("common")) >= 0.5
        )
        .select("doc_a", "doc_b")
    )
    # candidate pairs from the SAME shingle scan; lane width adapts
    # with the corpus like every band consumer
    cand = _lsh_candidates_from(_minhash_sigs_from(sh, _minhash_wide(sf_dir))).select("doc_a", "doc_b")
    tp = truth.join(cand, ["doc_a", "doc_b"]).agg(F.count("*").alias("tp"))
    nt = truth.agg(F.count("*").alias("n_truth"))
    nc = cand.agg(F.count("*").alias("n_candidates"))
    return (
        nt.crossJoin(F.broadcast(nc))
        .crossJoin(F.broadcast(tp))
        .select(
            F.col("n_truth").cast("bigint").alias("n_truth"),
            F.col("n_candidates").cast("bigint").alias("n_candidates"),
            F.col("tp").cast("bigint").alias("tp"),
            (F.col("n_candidates") - F.col("tp")).cast("bigint").alias("fp"),
            (F.col("n_truth") - F.col("tp")).cast("bigint").alias("fn"),
            # zero-guard (round-3 advisor): an empty candidate or truth
            # set is a degenerate-but-legal banding outcome — report an
            # explicit 0.0, not NULL
            F.when(F.col("n_candidates") > 0, F.round(F.col("tp") / F.col("n_candidates"), 6))
            .otherwise(F.lit(0.0))
            .alias("precision"),
            F.when(F.col("n_truth") > 0, F.round(F.col("tp") / F.col("n_truth"), 6))
            .otherwise(F.lit(0.0))
            .alias("recall"),
        )
    )


LSH_PR_SQL = (
    _MINHASH_CTE
    + f"""
, bands AS (
  SELECT doc_id,
         {", ".join(f"md5(mh{2*b} || '|' || mh{2*b+1}) AS band{b}" for b in range(N_MINHASH // 2))}
  FROM sigs),
cand AS (
  SELECT DISTINCT doc_a, doc_b FROM ({_LSH_BANDS})),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM shingles GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
  FROM shingles a JOIN shingles b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id),
truth AS (
  SELECT doc_a, doc_b
  FROM common
  JOIN sizes sa ON doc_a = sa.doc_id
  JOIN sizes sb ON doc_b = sb.doc_id
  WHERE common / CAST(sa.n_sh + sb.n_sh - common AS DOUBLE) >= 0.5),
m AS (
  SELECT (SELECT count(*) FROM truth) AS n_truth,
         (SELECT count(*) FROM cand) AS n_candidates,
         (SELECT count(*) FROM truth JOIN cand USING (doc_a, doc_b)) AS tp)
SELECT n_truth::BIGINT AS n_truth, n_candidates::BIGINT AS n_candidates, tp::BIGINT AS tp,
       (n_candidates - tp)::BIGINT AS fp, (n_truth - tp)::BIGINT AS fn,
       coalesce(round(tp / CAST(nullif(n_candidates, 0) AS DOUBLE), 6), 0.0) AS precision,
       coalesce(round(tp / CAST(nullif(n_truth, 0) AS DOUBLE), 6), 0.0) AS recall
FROM m
"""
)


def graph_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction on the LSH candidate graph: score NON-edges by
    common-neighbor count and neighbor-set Jaccard (the classical
    two-hop heuristics) — in a dedup pipeline these are the pairs a
    band config *almost* caught: high-scoring non-edges are where a
    human reviews the banding threshold or an extra band is added.
    Top-20 predicted links.

    Scale: the two-hop join is edge ⋈ edge on the shared endpoint —
    cost Σ deg(v)², the standard triangle/path-counting bound, so the
    hub treatment from graph_degree_distribution (cap or sample
    super-nodes) is the guard; existing edges are removed by an
    anti-join on the pair key; the per-node degree table is O(nodes) —
    NOT broadcast-hinted (round-3 advisor: at 100 TB the node count
    exceeds broadcast limits), so it joins as a node-keyed equi-join
    and AQE may still choose broadcast when the measured size allows."""
    edges = _lsh_candidates(spark, sf_dir).select("doc_a", "doc_b").localCheckpoint()
    # undirected adjacency (both directions) for the two-hop walk
    adj = edges.unionByName(
        edges.select(F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b"))
    )
    deg = adj.groupBy("doc_a").agg(F.count("*").alias("deg")).withColumnRenamed("doc_a", "node")
    l, r = adj.alias("l"), adj.alias("r")
    two_hop = (
        l.join(r, F.col("l.doc_b") == F.col("r.doc_a"))
        .where(F.col("l.doc_a") < F.col("r.doc_b"))
        .groupBy(F.col("l.doc_a").alias("doc_a"), F.col("r.doc_b").alias("doc_b"))
        .agg(F.count("*").alias("common_neighbors"))
    )
    preds = two_hop.join(edges, ["doc_a", "doc_b"], "left_anti")
    da, db = deg.alias("da"), deg.alias("db")
    return (
        preds.join(da, F.col("doc_a") == F.col("da.node"))
        .join(db, F.col("doc_b") == F.col("db.node"))
        .select(
            "doc_a",
            "doc_b",
            F.col("common_neighbors").cast("bigint").alias("common_neighbors"),
            F.round(
                F.col("common_neighbors")
                / (F.col("da.deg") + F.col("db.deg") - F.col("common_neighbors")),
                6,
            ).alias("neighbor_jaccard"),
        )
        .orderBy(F.col("common_neighbors").desc(), F.col("neighbor_jaccard").desc(), "doc_a", "doc_b")
        .limit(20)
    )


LINK_PREDICTION_SQL = (
    _MINHASH_CTE
    + f"""
, bands AS (
  SELECT doc_id,
         {", ".join(f"md5(mh{2*b} || '|' || mh{2*b+1}) AS band{b}" for b in range(N_MINHASH // 2))}
  FROM sigs),
edges AS (
  SELECT doc_a, doc_b FROM ({_LSH_BANDS}) GROUP BY doc_a, doc_b),
adj AS (
  SELECT doc_a, doc_b FROM edges
  UNION ALL
  SELECT doc_b AS doc_a, doc_a AS doc_b FROM edges),
deg AS (SELECT doc_a AS node, count(*) AS deg FROM adj GROUP BY doc_a),
two_hop AS (
  SELECT l.doc_a AS doc_a, r.doc_b AS doc_b, count(*) AS common_neighbors
  FROM adj l JOIN adj r ON l.doc_b = r.doc_a
  WHERE l.doc_a < r.doc_b
  GROUP BY l.doc_a, r.doc_b),
preds AS (
  SELECT t.* FROM two_hop t
  ANTI JOIN edges e ON t.doc_a = e.doc_a AND t.doc_b = e.doc_b)
SELECT p.doc_a, p.doc_b, common_neighbors::BIGINT AS common_neighbors,
       round(common_neighbors / CAST(da.deg + db.deg - common_neighbors AS DOUBLE), 6) AS neighbor_jaccard
FROM preds p
JOIN deg da ON p.doc_a = da.node
JOIN deg db ON p.doc_b = db.node
ORDER BY common_neighbors DESC, neighbor_jaccard DESC, doc_a, doc_b
LIMIT 20
"""
)


def source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Provenance audit at SOURCE granularity: for every source pair,
    the containment |shared distinct shingles| / |smaller side's
    shingles| — the "who scraped whom" matrix that catches mirror
    sites and re-crawls before doc-level dedup spends effort on them.
    Top-20 most-overlapping pairs.

    Scale: the join key is the shingle (the inverted index again) but
    over DISTINCT (source, shingle) — vocabulary × sources, far
    smaller than the doc-level pair space; per-source sizes are an
    O(sources) broadcast."""
    docs = load_table(spark, "documents", sf_dir).select("doc_id", "source")
    src_sh = (
        _shingles_df(spark, sf_dir)
        .join(docs, "doc_id")
        .select("source", "sh")
        .distinct()
        .localCheckpoint()
    )
    sizes = src_sh.groupBy("source").agg(F.count("*").alias("n_sh"))
    a, b = src_sh.alias("a"), src_sh.alias("b")
    common = (
        a.join(b, (F.col("a.sh") == F.col("b.sh")) & (F.col("a.source") < F.col("b.source")))
        .groupBy(F.col("a.source").alias("source_a"), F.col("b.source").alias("source_b"))
        .agg(F.count("*").alias("common"))
    )
    sa, sb = sizes.alias("sa"), sizes.alias("sb")
    return (
        common.join(F.broadcast(sa), F.col("source_a") == F.col("sa.source"))
        .join(F.broadcast(sb), F.col("source_b") == F.col("sb.source"))
        .select(
            "source_a",
            "source_b",
            F.col("common").cast("bigint").alias("common_shingles"),
            F.round(F.col("common") / F.least(F.col("sa.n_sh"), F.col("sb.n_sh")), 6).alias(
                "containment"
            ),
        )
        .orderBy(F.col("containment").desc(), "source_a", "source_b")
        .limit(20)
    )


SOURCE_OVERLAP_SQL = (
    _SHINGLES_CTE
    + """
, src_sh AS (
  SELECT DISTINCT d.source, s.sh
  FROM shingles s JOIN documents d USING (doc_id)),
sizes AS (SELECT source, count(*) AS n_sh FROM src_sh GROUP BY source),
common AS (
  SELECT a.source AS source_a, b.source AS source_b, count(*) AS common
  FROM src_sh a JOIN src_sh b ON a.sh = b.sh AND a.source < b.source
  GROUP BY a.source, b.source)
SELECT source_a, source_b, common::BIGINT AS common_shingles,
       round(common / CAST(least(sa.n_sh, sb.n_sh) AS DOUBLE), 6) AS containment
FROM common
JOIN sizes sa ON source_a = sa.source
JOIN sizes sb ON source_b = sb.source
ORDER BY containment DESC, source_a, source_b
LIMIT 20
"""
)


def lsh_band_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How well does matching-band COUNT rank true duplicates among
    LSH candidates? AUC of n_bands (1..4) against exact-Jaccard ≥ 0.5
    truth, computed as the tie-corrected Mann–Whitney U — and because
    the score takes only 4 values, U is a 4×4 cross-product of the
    per-score positive/negative COUNTS: two tiny aggregates and a
    16-row join, no rank window, no global sort at ANY scale. The
    companion to lsh_precision_recall: that entry grades the
    candidate SET, this one grades the candidate ORDERING (can we
    verify high-band pairs first and early-exit?).

    One shingle definition feeds BOTH the banding funnel and the
    truth side, and the corpus-wide exploded shingle frame is never
    materialized: the signature build consumes the shingle scan
    streaming, and the truth side checkpoints only the
    CANDIDATE-DOC-bounded shingles (near-dup mass, not corpus mass;
    byte-identical per _cand_union_shingles). Every intermediate
    checkpoint is released the moment `dist` materializes — after that
    eager 4-row checkpoint the returned plan reads nothing else. Cost:
    the corpus is shingled twice per run (once into signatures, once
    into the bounded truth frame) — at 100 TB a second streaming scan
    beats materializing 3× the corpus to executor storage."""
    sh = _shingles_df(spark, sf_dir)
    cand, hint = _cand_checkpoint(_lsh_candidates_from(_minhash_sigs_from(sh, _minhash_wide(sf_dir))))
    sh_cd = _cand_union_shingles(sh, cand, hint).localCheckpoint()
    # exact-Jaccard truth CANDIDATE-BOUNDED on both shingle sides — the
    # left join from cand below makes the bounding byte-identical by
    # construction
    truth = _cand_bounded_truth(sh_cd, cand, sf_dir, hint).select(
        "doc_a", "doc_b", (F.col("jac") >= 0.5).alias("is_dup")
    )
    labeled = cand.join(truth, ["doc_a", "doc_b"], "left").select(
        "n_bands", F.coalesce(F.col("is_dup"), F.lit(False)).alias("is_dup")
    )
    dist = labeled.groupBy("n_bands").agg(
        F.sum(F.when(F.col("is_dup"), 1).otherwise(0)).alias("pos"),
        F.sum(F.when(F.col("is_dup"), 0).otherwise(1)).alias("neg"),
    ).localCheckpoint()
    release_checkpoint(sh_cd, cand)  # dist is the only live frame now
    p, n = dist.alias("p"), dist.alias("n")
    u = p.crossJoin(F.broadcast(n)).agg(
        F.sum(
            F.when(F.col("p.n_bands") > F.col("n.n_bands"), F.col("p.pos") * F.col("n.neg"))
            .when(F.col("p.n_bands") == F.col("n.n_bands"), 0.5 * F.col("p.pos") * F.col("n.neg"))
            .otherwise(F.lit(0.0))
        ).alias("u")
    )
    tot = dist.agg(F.sum("pos").alias("n_pos"), F.sum("neg").alias("n_neg"))
    return (
        tot.crossJoin(F.broadcast(u))
        .select(
            F.col("n_pos").cast("bigint").alias("n_pos"),
            F.col("n_neg").cast("bigint").alias("n_neg"),
            F.round(F.col("u") / (F.col("n_pos") * F.col("n_neg")), 6).alias("auc"),
        )
    )


LSH_AUC_SQL = (
    _MINHASH_CTE
    + f"""
, bands AS (
  SELECT doc_id,
         {", ".join(f"md5(mh{2*b} || '|' || mh{2*b+1}) AS band{b}" for b in range(N_MINHASH // 2))}
  FROM sigs),
cand AS (
  SELECT doc_a, doc_b, count(*) AS n_bands
  FROM ({_LSH_BANDS}) GROUP BY doc_a, doc_b),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM shingles GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
  FROM shingles a JOIN shingles b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id),
truth AS (
  SELECT doc_a, doc_b,
         common / CAST(sa.n_sh + sb.n_sh - common AS DOUBLE) >= 0.5 AS is_dup
  FROM common
  JOIN sizes sa ON doc_a = sa.doc_id
  JOIN sizes sb ON doc_b = sb.doc_id),
labeled AS (
  SELECT n_bands, coalesce(is_dup, false) AS is_dup
  FROM cand LEFT JOIN truth USING (doc_a, doc_b)),
dist AS (
  SELECT n_bands,
         sum(CASE WHEN is_dup THEN 1 ELSE 0 END) AS pos,
         sum(CASE WHEN is_dup THEN 0 ELSE 1 END) AS neg
  FROM labeled GROUP BY n_bands),
u AS (
  SELECT sum(CASE WHEN p.n_bands > n.n_bands THEN p.pos * n.neg
                  WHEN p.n_bands = n.n_bands THEN 0.5 * p.pos * n.neg
                  ELSE 0.0 END) AS u
  FROM dist p CROSS JOIN dist n),
tot AS (SELECT sum(pos) AS n_pos, sum(neg) AS n_neg FROM dist)
SELECT n_pos::BIGINT AS n_pos, n_neg::BIGINT AS n_neg,
       round(u / (n_pos * n_neg), 6) AS auc
FROM tot, u
"""
)


def minhash_bbit_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """b-bit minwise hashing (b = 1): keep only the LOWEST bit of
    each 16-bit minhash lane — a 16× smaller signature — and audit
    what that costs: for every LSH candidate pair, the 1-bit
    similarity estimate 2·(bit-agreement − ½) (the b=1 unbiasing for
    a ~uniform value distribution) against the exact shingle Jaccard.
    Reports pair count, mean absolute estimation error, and both
    means — the storage/accuracy trade table for signature sizing.

    Audited pair set: LSH candidate pairs with exact Jaccard ≥ 0.3.

    Lane width: the b=1 bit is taken from the STOCK 16-bit lane by
    definition — b-bit estimation is width-specific (the lane is the
    thing being truncated), so these lanes intentionally do NOT widen
    with _minhash_wide; only the candidate GENERATION adapts.

    Scale: the bit extraction is free (same signature build); the
    exact-Jaccard truth and the bit lookups are candidate-bounded on
    every side; the report is a 1-row aggregate. One shingle scan
    feeds the candidate funnel (streaming, never materialized
    corpus-wide), and the truth and b-bit-lane sides all read ONE
    checkpointed CANDIDATE-DOC-bounded shingle frame (byte-identical
    per _cand_union_shingles; the per-side semi-filters re-apply on
    top)."""
    sh = _shingles_df(spark, sf_dir)
    cand, hint = _cand_checkpoint(
        _lsh_candidates_from(_minhash_sigs_from(sh, _minhash_wide(sf_dir))).select("doc_a", "doc_b")
    )
    sh_cd = _cand_union_shingles(sh, cand, hint).localCheckpoint()
    # full 16-bit lanes AND their low bits from one aggregate, built
    # only for docs that appear in a candidate pair
    lanes = lambda side: (  # noqa: E731
        _cand_doc_semi(sh_cd, cand, side, hint)
        .withColumn("h", F.md5("sh"))
        .groupBy("doc_id")
        .agg(*[F.min(F.substring("h", 1 + 4 * s, 4)).alias(f"mh{s}") for s in range(N_MINHASH)])
    )
    bit = lambda s: F.conv(F.substring(F.col(f"mh{s}"), 4, 1), 16, 10).cast("long") % 2  # noqa: E731
    jac = (
        _cand_bounded_truth(sh_cd, cand, sf_dir, hint)
        .join(cand, ["doc_a", "doc_b"], "left_semi")  # exact candidate pairs
        .select("doc_a", "doc_b", F.col("jac").alias("jaccard"))
        .where(F.col("jaccard") >= 0.3)  # audit the candidate-similar region
    )
    ga = lanes("doc_a").select(
        F.col("doc_id").alias("doc_a"), *[bit(s).alias(f"ba{s}") for s in range(N_MINHASH)]
    )
    gb = lanes("doc_b").select(
        F.col("doc_id").alias("doc_b"), *[bit(s).alias(f"bb{s}") for s in range(N_MINHASH)]
    )
    agree = sum(
        F.when(F.col(f"ba{s}") == F.col(f"bb{s}"), 1).otherwise(0) for s in range(N_MINHASH)
    ) / float(N_MINHASH)
    est = 2.0 * (agree - 0.5)
    return (
        jac.join(ga, "doc_a")
        .join(gb, "doc_b")
        .select("jaccard", est.alias("est"))
        .agg(
            F.count("*").cast("bigint").alias("n_pairs"),
            F.round(F.avg("jaccard"), 6).alias("mean_exact_jaccard"),
            F.round(F.avg("est"), 6).alias("mean_bbit_estimate"),
            F.round(F.avg(F.abs(F.col("est") - F.col("jaccard"))), 6).alias("mean_abs_err"),
        )
    )


_BBIT_BIT = "(strpos('0123456789abcdef', substring(mh{s}, 4, 1)) - 1) % 2"

# NOTE the deliberate two-signature structure: `sigs` (from
# _MINHASH_CTE) feeds ONLY candidate generation, so it tracks the
# adaptive lane width, while `bsigs` re-derives the STOCK 16-bit lanes
# with textually distinct aggregates (substr, not substring) — the
# forced-wide test's _MINHASH_AGGS→_MINHASH_AGGS_WIDE swap must widen
# the candidates and leave the b-bit lanes alone, mirroring the
# DataFrame path exactly (b-bit estimation is width-specific).
MINHASH_BBIT_SQL = (
    _MINHASH_CTE
    + f"""
, bands AS (
  SELECT doc_id,
         {", ".join(f"md5(mh{2*b} || '|' || mh{2*b+1}) AS band{b}" for b in range(N_MINHASH // 2))}
  FROM sigs),
cand AS (
  SELECT doc_a, doc_b FROM ({_LSH_BANDS}) GROUP BY doc_a, doc_b),
bsigs AS (
  SELECT doc_id,
         {", ".join(f"min(substr(md5(sh), {1 + 4 * s}, 4)) AS mh{s}" for s in range(N_MINHASH))}
  FROM shingles GROUP BY doc_id),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM shingles GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
  FROM shingles a JOIN shingles b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id),
jac AS (
  SELECT doc_a, doc_b,
         common / CAST(sa.n_sh + sb.n_sh - common AS DOUBLE) AS jaccard
  FROM common
  JOIN sizes sa ON doc_a = sa.doc_id
  JOIN sizes sb ON doc_b = sb.doc_id
  JOIN cand USING (doc_a, doc_b)
  WHERE common / CAST(sa.n_sh + sb.n_sh - common AS DOUBLE) >= 0.3),
bits AS (
  SELECT doc_id, {", ".join(f"({_BBIT_BIT.format(s=s)}) AS b{s}" for s in range(N_MINHASH))}
  FROM bsigs),
paired AS (
  SELECT jaccard,
         2.0 * (({" + ".join(f"CASE WHEN ga.b{s} = gb.b{s} THEN 1 ELSE 0 END" for s in range(N_MINHASH))})
                / {float(N_MINHASH)} - 0.5) AS est
  FROM jac
  JOIN bits ga ON jac.doc_a = ga.doc_id
  JOIN bits gb ON jac.doc_b = gb.doc_id)
SELECT count(*)::BIGINT AS n_pairs,
       round(avg(jaccard), 6) AS mean_exact_jaccard,
       round(avg(est), 6) AS mean_bbit_estimate,
       round(avg(abs(est - jaccard)), 6) AS mean_abs_err
FROM paired
"""
)


def dedup_affix_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Affix-splice audit: per source, how many ordered document
    pairs have one doc's last-4-token suffix exactly equal to another
    doc's first-4-token prefix — the contamination signature of
    spliced/concatenated corpora (a train doc that ends where an eval
    doc begins) and of chunking bugs that split one document across
    two rows. Affixes are md5-keyed, so candidates materialize ONLY
    via the equi-join on the affix hash — never an all-pairs scan;
    pair counts attribute to the prefix-side (head) doc's source.

    100 TB: two map-only projections (head hash, tail hash) + one
    equi-join on a 32-hex key + a per-source count; the per-source
    docs_checked denominator rides the same single corpus scan."""
    docs = load_table(spark, "documents", sf_dir)
    w = F.split(_norm_text(), " ")
    base = docs.select("doc_id", "source", w.alias("w")).where(F.size("w") >= 8)
    heads = base.select(
        "doc_id",
        "source",
        F.md5(F.concat_ws(" ", F.slice("w", 1, 4))).alias("h"),
    )
    tails = base.select(
        F.col("doc_id").alias("tail_doc"),
        F.md5(F.concat_ws(" ", F.slice("w", -4, 4))).alias("h"),
    )
    pairs = tails.join(heads, "h").where(F.col("tail_doc") != F.col("doc_id"))
    per_source = pairs.groupBy("source").agg(
        F.count(F.lit(1)).alias("splice_pairs")
    )
    checked = base.groupBy("source").agg(F.count(F.lit(1)).alias("docs_checked"))
    return (
        checked.join(per_source, "source", "left")
        .select(
            "source",
            "docs_checked",
            F.coalesce("splice_pairs", F.lit(0)).alias("splice_pairs"),
        )
        .orderBy("source")
    )


AFFIX_OVERLAP_SQL = """
WITH base AS (
  SELECT doc_id, source,
         string_split(regexp_replace(trim(text), '\\s+', ' ', 'g'), ' ') AS w
  FROM documents),
ok AS (SELECT * FROM base WHERE len(w) >= 8),
heads AS (
  SELECT doc_id, source, md5(array_to_string(w[1:4], ' ')) AS h FROM ok),
tails AS (
  SELECT doc_id AS tail_doc, md5(array_to_string(w[-4:], ' ')) AS h FROM ok),
pairs AS (
  SELECT heads.source FROM tails JOIN heads USING (h)
  WHERE tail_doc <> heads.doc_id),
per_source AS (
  SELECT source, count(*) AS splice_pairs FROM pairs GROUP BY source),
checked AS (
  SELECT source, count(*) AS docs_checked FROM ok GROUP BY source)
SELECT c.source,
       CAST(c.docs_checked AS BIGINT) AS docs_checked,
       CAST(coalesce(p.splice_pairs, 0) AS BIGINT) AS splice_pairs
FROM checked c LEFT JOIN per_source p ON c.source = p.source
ORDER BY c.source
"""
