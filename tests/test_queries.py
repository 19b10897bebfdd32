"""Every catalog query hash-matches its DuckDB oracle at sf0.001 —
the same comparison the driver runs at sf0.01 (tools/check_oracle.py
runs that scale locally)."""

import pytest

import __spark_entry__ as entrymod
from hematite_spark.oracle import compare, duck_connection
from tests.conftest import SF_DIR

QUERIES = entrymod.queries()
ORACLES = entrymod.oracle_sql()


@pytest.fixture(scope="module")
def duck():
    con = duck_connection(SF_DIR)
    yield con
    con.close()


def test_catalog_is_consistent():
    # every oracle key must have a query; queries without oracle are
    # allowed (rows-only check) but should be rare
    assert set(ORACLES) <= set(QUERIES)


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_matches_oracle(spark, duck, name):
    df = QUERIES[name](spark, SF_DIR)
    if name not in ORACLES:
        assert df.count() >= 0  # rows-only check
        return
    mismatch = compare(df, duck, ORACLES[name])
    assert mismatch is None, f"{name}: {mismatch}"


def test_approx_distinct_error_bound(spark):
    """agg_approx_distinct is a contract query (each engine checks
    its own HLL against its own exact counts); assert the contract
    booleans hold, plus a tighter 4-sigma check on the raw rsd=0.02
    sketch against the exact counts."""
    from pyspark.sql import functions as F
    from hematite_spark.io import load_table
    from hematite_spark.queries.udf import agg_approx_distinct

    contract = agg_approx_distinct(spark, SF_DIR).collect()
    assert contract
    for r in contract:
        assert r.parts_within_bound and r.orders_within_bound, r
    li = load_table(spark, "lineitem", SF_DIR)
    rows = (
        li.groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_partkey").alias("parts"),
            F.countDistinct("l_orderkey").alias("orders"),
            F.approx_count_distinct("l_partkey", rsd=0.02).alias("approx_parts"),
            F.approx_count_distinct("l_orderkey", rsd=0.02).alias("approx_orders"),
        )
        .collect()
    )
    assert {r.l_returnflag for r in rows} == {r.l_returnflag for r in contract}
    for r in rows:
        # rsd=0.02 sketch; allow 4 sigma
        assert abs(r.approx_parts - r.parts) <= max(0.08 * r.parts, 2)
        assert abs(r.approx_orders - r.orders) <= max(0.08 * r.orders, 2)


def test_approx_percentile_rank_error_bound(spark):
    """agg_approx_percentiles is a contract query (each engine
    rank-checks its own sketch); assert the contract booleans hold,
    plus the tighter documented ±1/accuracy rank-error contract:
    each raw estimate must lie between the exact quantiles at q∓eps,
    with eps covering the sketch's error plus the discrete rank
    granularity of small groups."""
    from pyspark.sql import functions as F
    from hematite_spark.io import load_table
    from hematite_spark.queries.udf import agg_approx_percentiles

    contract = {r.o_orderstatus: r for r in agg_approx_percentiles(spark, SF_DIR).collect()}
    assert contract
    for status, r in contract.items():
        assert r.median_within_bound and r.p90_within_bound, (status, r)
    orders = load_table(spark, "orders", SF_DIR)
    approx = {
        r.o_orderstatus: r
        for r in orders.groupBy("o_orderstatus")
        .agg(
            F.approx_percentile("o_totalprice", F.lit(0.5), F.lit(1000)).alias("approx_median"),
            F.approx_percentile("o_totalprice", F.lit(0.9), F.lit(1000)).alias("approx_p90"),
            F.count("*").alias("n_orders"),
        )
        .collect()
    }
    assert set(approx) == set(contract)
    bounds = {}
    for status, r in approx.items():
        eps = max(1.0 / 1000, 2.0 / r.n_orders)
        row = (
            orders.where(F.col("o_orderstatus") == status)
            .agg(
                F.percentile("o_totalprice", F.lit(max(0.5 - eps, 0.0))).alias("med_lo"),
                F.percentile("o_totalprice", F.lit(min(0.5 + eps, 1.0))).alias("med_hi"),
                F.percentile("o_totalprice", F.lit(max(0.9 - eps, 0.0))).alias("p90_lo"),
                F.percentile("o_totalprice", F.lit(min(0.9 + eps, 1.0))).alias("p90_hi"),
            )
            .first()
        )
        bounds[status] = row
    for status, a in approx.items():
        b = bounds[status]
        assert b.med_lo <= a.approx_median <= b.med_hi, (status, a.approx_median, b)
        assert b.p90_lo <= a.approx_p90 <= b.p90_hi, (status, a.approx_p90, b)


def test_ivf_search_recall_vs_brute_force(spark):
    """IVF quality gate: probing 2 of 8 cells must still recover a
    meaningful share of the exact top-10 (the query's own cell holds
    its nearest neighbors by construction), and every IVF result must
    carry the same cosine the brute-force path computed for it."""
    from hematite_spark.queries.similarity import ann_brute_force, ann_ivf_search

    exact = {r.vec_id: r.cosine for r in ann_brute_force(spark, SF_DIR).collect()}
    ivf = {r.vec_id: r.cosine for r in ann_ivf_search(spark, SF_DIR).collect()}
    assert len(ivf) == 10
    overlap = set(exact) & set(ivf)
    assert len(overlap) >= 5, f"recall {len(overlap)}/10 too low: {sorted(ivf)}"
    for vid in overlap:
        assert abs(exact[vid] - ivf[vid]) < 1e-9  # same scoring, same values


def test_pq_adc_ranking_tracks_exact_distance(spark):
    """PQ quality gate: within the returned candidates, the
    approx-distance top-10 must share at least half of the
    exact-euclidean top-10, approx must underestimate-or-match only
    within quantization error (monotone enough to rank), and the
    query itself must sit at distance zero in both metrics."""
    from hematite_spark.queries.similarity import ann_pq_adc

    rows = ann_pq_adc(spark, SF_DIR).collect()
    assert rows[0].vec_id == 0 and rows[0].approx_dist == 0.0 and rows[0].exact_dist == 0.0
    by_approx = [r.vec_id for r in rows[:10]]
    by_exact = [r.vec_id for r in sorted(rows, key=lambda r: (r.exact_dist, r.vec_id))[:10]]
    overlap = set(by_approx) & set(by_exact)
    # an 8-centroid × 4-subspace codebook is deliberately coarse at
    # this corpus size; the gate pins "ranks, not random" (random
    # overlap of two 10-sets from ~40 candidates ≈ 2.5)
    assert len(overlap) >= 3, f"PQ ranking overlap {len(overlap)}/10 too low"


def test_multiprobe_recall_dominates_single_probe(spark):
    """Multi-probe quality gate: probing the query's sign bucket plus
    its hamming-1 shell (5/16 cells) must recover at least as much of
    the exact top-10 as any smaller probe set could, and every score
    it reports must equal the brute-force cosine for that vector."""
    from hematite_spark.queries.similarity import ann_brute_force, ann_ivf_multiprobe

    exact = {r.vec_id: r.cosine for r in ann_brute_force(spark, SF_DIR).collect()}
    multi = {r.vec_id: r.cosine for r in ann_ivf_multiprobe(spark, SF_DIR).collect()}
    assert len(multi) == 10
    overlap = set(exact) & set(multi)
    assert len(overlap) >= 5, f"multi-probe recall {len(overlap)}/10 too low"
    for vid in overlap:
        assert abs(exact[vid] - multi[vid]) < 1e-9


def test_lsh_verified_pairs_are_exact_jaccard(spark):
    """The two-stage funnel's output must agree with the unbanded
    exact operator wherever both report a pair, and may only MISS
    pairs (LSH false negatives) — never invent them."""
    from hematite_spark.queries.dedup import dedup_lsh_verified, dedup_ngram_jaccard

    exact = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in dedup_ngram_jaccard(spark, SF_DIR).collect()
        if r.jaccard >= 0.6
    }
    funnel = {(r.doc_a, r.doc_b): r.jaccard for r in dedup_lsh_verified(spark, SF_DIR).collect()}
    for pair, j in funnel.items():
        if j >= 0.6:
            assert pair in exact and abs(exact[pair] - j) < 1e-9
    high = {p for p, j in exact.items() if j >= 0.8}
    if high:
        found = {p for p, j in funnel.items() if p in high}
        assert len(found) / len(high) >= 0.9


def test_lsh_recall_against_ground_truth(spark):
    """Approximate-operator quality gate: MinHash-LSH banding must
    recover (nearly) all true near-dup pairs. Ground truth = the
    exact n-gram Jaccard >= 0.6 pairs; candidates = LSH band matches.
    With 4 bands x 2 rows, P(candidate | J) = 1-(1-J^2)^4 — ~0.97 at
    J=0.8 — so high-Jaccard pairs must essentially all be found."""
    from hematite_spark.queries.dedup import dedup_ngram_jaccard, lsh_candidate_pairs

    true_pairs = {
        (r.doc_a, r.doc_b): r.jaccard for r in dedup_ngram_jaccard(spark, SF_DIR).collect()
    }
    cands = {(r.doc_a, r.doc_b) for r in lsh_candidate_pairs(spark, SF_DIR).collect()}
    high = {p for p, j in true_pairs.items() if j >= 0.8}
    if high:
        recall_high = len(high & cands) / len(high)
        assert recall_high >= 0.9, f"high-J recall {recall_high}"
    if true_pairs:
        recall_all = len(set(true_pairs) & cands) / len(true_pairs)
        assert recall_all >= 0.5, f"overall recall {recall_all}"


def test_embedding_cosine_dedup_recall_vs_exact(spark):
    """Approximate-operator quality gate (VERDICT r4 item 3): the
    multi-table sign-bucket blocker with hamming-1 multiprobe must
    recover >= 0.75 of the docs that exact all-pairs cosine flags as
    duplicates (cosine >= 0.42 against some lower doc_id). Before the
    multiprobe addition the measured multi-table recall was 0.50."""
    from pyspark.sql import functions as F

    from hematite_spark.functions import dbl, dot, l2_norm
    from hematite_spark.queries.dedup import dedup_embedding_cosine
    from hematite_spark.queries.relational import load_table

    emb = load_table(spark, "embeddings", SF_DIR).select(
        F.col("vec_id").alias("doc_id"), dbl("embedding").alias("ev")
    ).withColumn("nrm", l2_norm(F.col("ev")))
    a, b = emb.alias("a"), emb.alias("b")
    exact = (
        a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
        .where(
            F.round(
                dot(F.col("a.ev"), F.col("b.ev")) / (F.col("a.nrm") * F.col("b.nrm")), 6
            )
            >= 0.42
        )
        .select(F.col("b.doc_id").alias("drop_doc"))
        .distinct()
    )
    exact_drops = {r.drop_doc for r in exact.collect()}
    found_drops = {r.drop_doc for r in dedup_embedding_cosine(spark, SF_DIR).collect()}
    assert exact_drops, "fixture should contain near-duplicate embeddings"
    recall = len(found_drops & exact_drops) / len(exact_drops)
    assert recall >= 0.75, f"duplicate-doc recall {recall:.3f} < 0.75"


def test_cc_distributed_path_matches_driver_path(spark, monkeypatch):
    """dedup_connected_components picks driver-side union-find for
    small candidate graphs; force the distributed label-propagation
    path and require identical clusters."""
    from hematite_spark.queries import dedup

    small = dedup.dedup_connected_components(spark, SF_DIR).collect()
    monkeypatch.setattr(dedup, "_CC_DRIVER_MAX", -1)
    dist = dedup.dedup_connected_components(spark, SF_DIR).collect()
    assert sorted(map(tuple, small)) == sorted(map(tuple, dist))
    assert len(small) > 0  # non-trivial at sf0.001


def test_cc_pointer_jumping_handles_deep_paths(spark, monkeypatch):
    """A path graph of 200 nodes has diameter 199: plain neighbor-min
    label propagation needs ~199 supersteps (the x64 probe caught
    entity_resolution_pipeline doing exactly this on replica-chained
    same-name records); the large-star/small-star algorithm must
    converge in O(log n) star rounds with the correct component
    minimum everywhere. The MONOTONE id layout here also regresses
    the round-8 rejected alternatives: pointer jumping crawls at +2
    ranks/round once the chain's local minimum is uninformed, and
    label-contraction merely shifts the quotient path by two."""
    from hematite_spark.queries import dedup

    n = 200
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(1, n)], "doc_a bigint, doc_b bigint"
    )
    monkeypatch.setattr(dedup, "_CC_DRIVER_MAX", -1)
    calls = 0
    orig = dedup._cc_star_round

    def counting(g, large, cut=True, tmps=None):
        nonlocal calls
        calls += 1
        return orig(g, large, cut, tmps)

    monkeypatch.setattr(dedup, "_cc_star_round", counting)
    labels = dedup._cc_labels(spark, pairs).collect()
    assert len(labels) == n
    assert all(r.label == 1 for r in labels)
    # ~2 log2(200) full large+small cycles expected; 40 star rounds is
    # generous headroom, ~199 would be the diameter-bound bug
    assert calls <= 40, f"{calls} star rounds for a 200-node path"


# Every catalog entry that rides the LSH candidate kernel or the CC
# labeller: their size gates read the checkpoint's own row count.
_LSH_FAMILY = (
    "dedup_lsh_candidates",
    "dedup_lsh_verified",
    "dedup_connected_components",
    "dedup_incremental",
    "dedup_cluster_density",
    "dedup_keeper_selection",
    "graph_degree_distribution",
    "graph_link_prediction",
    "minhash_jaccard_audit",
    "minhash_bbit_estimate",
    "lsh_precision_recall",
    "lsh_band_auc",
    "lsh_parameter_sweep",
    "corpus_pipeline",
    "entity_resolution_pipeline",
)


def test_lsh_family_runs_no_count_job(spark, monkeypatch):
    """The broadcast and driver-union-find gates count their frame
    through an Observation on the checkpoint's own job: no entry of
    the LSH / connected-components family calls DataFrame.count, at
    build time or in its noop write."""
    def no_count(self):
        raise AssertionError("DataFrame.count called")

    monkeypatch.setattr(type(spark.range(1)), "count", no_count)
    for name in _LSH_FAMILY:
        QUERIES[name](spark, SF_DIR).write.format("noop").mode("overwrite").save()


def test_lsh_band_join_is_one_reused_self_join(spark):
    """The banding funnel is ONE self-join of the band stack on
    (band, h): after a noop write, the final plan holds exactly one
    join, keyed on (band, h), and one of its sides is a ReusedExchange
    of an exchange on the other side — the band stack is computed once
    without a checkpoint."""
    import re

    from hematite_spark.queries import dedup

    df = dedup._lsh_candidates_from(dedup._minhash_signatures(spark, SF_DIR))
    df.write.format("noop").mode("overwrite").save()
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    runs = spark._jsparkSession.sharedState().statusStore().executionsList()
    plan = runs.apply(runs.size() - 1).physicalPlanDescription()
    final = plan.split("== Final Plan ==")[1].split("== Initial Plan ==")[0]
    joins = re.findall(r"\b\w+Join\b[^(\n]*\((\d+)\)", final)
    assert len(joins) == 1, final
    details = plan.split(f"\n({joins[0]}) ", 1)[1]
    assert re.match(r"\w+Join.*\nLeft keys \[2\]: \[band#\d+, h#\d+\]", details), details[:300]
    reused = re.findall(r"ReusedExchange \[Reuses operator id: (\d+)\]", plan)
    assert reused and f"Exchange ({reused[0]})" in final, final


def test_release_checkpoint_warns_once_on_failure(spark, monkeypatch):
    """A release whose RDD accessor fails (here: a frame that is no
    checkpoint) is not silent: one RuntimeWarning per process. None is
    skipped without a warning."""
    import warnings as _w

    from hematite_spark.queries import _shared

    monkeypatch.setattr(_shared, "_RELEASE_WARNED", False, raising=False)
    with _w.catch_warnings(record=True) as seen:
        _w.simplefilter("always")
        _shared.release_checkpoint(None)
        _shared.release_checkpoint(spark.range(3))
        _shared.release_checkpoint(spark.range(3))
    assert [w.category for w in seen] == [RuntimeWarning]


def test_stats_cut_internal_path_taken_on_classic_spark(spark):
    """_stats_cut's whole point is dropping the checkpoint's origin
    stats via SparkSession.internalCreateDataFrame (a classic-mode
    internal). If that API drifts in a PySpark upgrade, the silent
    fallback would reinstate the compounding-stats planner hang the
    ×64 probe found — so pin that the internal path is actually taken
    (ADVICE r8 / VERDICT r8 item 3)."""
    import warnings as _w

    from hematite_spark.queries import dedup

    df = spark.range(8).selectExpr("id as doc_a", "id + 1 as doc_b")
    with _w.catch_warnings():
        _w.simplefilter("error", RuntimeWarning)  # fallback warn → fail
        out = dedup._stats_cut(df)
    assert dedup._STATS_CUT_INTERNAL_OK, (
        "internalCreateDataFrame path not taken — PySpark internals "
        "drifted; iterative CC/ER queries will compound size stats"
    )
    assert out.count() == 8
    # the re-wrapped leaf must carry the default size sentinel, not the
    # origin plan's (tiny, compounding) estimate
    stats_bytes = int(
        out._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    )
    assert stats_bytes > 1 << 40, (
        f"checkpointed leaf kept origin stats ({stats_bytes} bytes) — "
        "stats cut no longer effective"
    )


def test_stats_cut_fallback_warns_once(spark, monkeypatch):
    """If the internal constructor breaks, the fallback must emit ONE
    RuntimeWarning (not stay silent — ADVICE r8)."""
    import warnings as _w

    from hematite_spark.queries import dedup

    monkeypatch.setattr(dedup, "_STATS_CUT_WARNED", False)
    real_df = dedup.DataFrame

    def raising_ctor(*a, **k):
        raise AttributeError("simulated internal-API drift")

    monkeypatch.setattr(dedup, "DataFrame", raising_ctor)
    df = spark.range(4).selectExpr("id as doc_a", "id + 1 as doc_b")
    with pytest.warns(RuntimeWarning, match="localCheckpoint"):
        out = dedup._stats_cut(df)
    assert out.count() == 4  # plain checkpoint still returned
    monkeypatch.setattr(dedup, "DataFrame", real_df)
    # second fallback in the same process must NOT warn again
    monkeypatch.setattr(dedup, "DataFrame", raising_ctor)
    with _w.catch_warnings():
        _w.simplefilter("error", RuntimeWarning)
        dedup._stats_cut(df)


def test_cc_propagate_raises_on_non_convergence(spark, monkeypatch):
    """ADVICE r8: _cc_propagate's fixpoint loop is bounded — a star
    round that never converges (simulated by perturbing doc_b each
    call) must raise with diagnostics, not spin forever."""
    from pyspark.sql import functions as F

    from hematite_spark.queries import dedup

    def never_converges(g, large, cut=True, tmps=None):
        return g.select("doc_a", (F.col("doc_b") + 1).alias("doc_b"))

    monkeypatch.setattr(dedup, "_cc_star_round", never_converges)
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5)], "doc_a bigint, doc_b bigint"
    )
    with pytest.raises(RuntimeError, match="fixpoint"):
        dedup._cc_propagate(edges)


def test_lsh_no_spurious_pairs_for_short_docs(spark, tmp_path):
    """Docs too short to shingle (<3 words) have all-NULL minhash
    signatures; their band keys must be NULL (join with nothing), not
    a shared md5('') clique. Regression for concat_ws vs concat."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from hematite_spark.queries.dedup import lsh_candidate_pairs

    rows = {
        "doc_id": [1, 2, 3, 4],
        "text": ["hi", "yo", 
                 "the quick brown fox jumps over the lazy dog today",
                 "the quick brown fox jumps over the lazy dog today"],
        "lang": ["en"] * 4,
        "source": ["t"] * 4,
        "n_chars": [2, 2, 49, 49],
    }
    pq.write_table(pa.table(rows), str(tmp_path / "documents.parquet"))
    pairs = {(r.doc_a, r.doc_b) for r in lsh_candidate_pairs(spark, str(tmp_path)).collect()}
    assert (1, 2) not in pairs  # short docs must NOT pair up
    assert (3, 4) in pairs  # identical long docs must


def test_approx_quantile_bins_error_bound(spark):
    """quantile_bins_approx has no oracle (GK sketches are
    engine-specific); pin its contract instead: 10 bins, every value
    binned, each bin within 25% of the exact decile size, and bin
    boundaries monotone."""
    from hematite_spark.queries.advanced import quantile_bins_approx
    from hematite_spark.io import load_table

    rows = quantile_bins_approx(spark, SF_DIR).collect()
    n = load_table(spark, "lineitem", SF_DIR).count()
    assert [r.bin for r in rows] == list(range(10))
    assert sum(r.n_rows for r in rows) == n
    for r in rows:
        assert abs(r.n_rows - n / 10) <= 0.25 * n / 10, (r.bin, r.n_rows, n / 10)
    los = [r.lo for r in rows]
    assert los == sorted(los)


def test_lsh_precision_recall_contract(spark):
    """The 4x2 banding must recall nearly all exact-Jaccard >= 0.5
    pairs (the s-curve puts them well above the band-match knee) with
    non-degenerate precision; tp is bounded by both sides."""
    from hematite_spark.queries.dedup import lsh_precision_recall

    r = lsh_precision_recall(spark, SF_DIR).collect()[0]
    assert r.tp <= r.n_truth and r.tp <= r.n_candidates
    assert r.recall >= 0.9, r
    assert r.precision > 0, r


def test_lsh_band_auc_contract(spark):
    """Band count must rank true duplicates at least as well as
    chance (AUC >= 0.5) over the candidate set."""
    from hematite_spark.queries.dedup import lsh_band_auc

    r = lsh_band_auc(spark, SF_DIR).collect()[0]
    assert r.n_pos > 0 and r.n_neg > 0
    assert 0.5 <= r.auc <= 1.0, r


def test_matryoshka_overlap_monotone(spark):
    """At d=64 the truncated ranking IS the full ranking (overlap 10,
    and it delivers the best possible true cosine); shorter prefixes
    are bounded by it. (Strict monotonicity across prefixes only holds
    for MRL-trained embeddings, not the synthetic random ones.)"""
    from hematite_spark.queries.similarity import matryoshka_truncation

    rows = {r.trunc_dim: r for r in matryoshka_truncation(spark, SF_DIR).collect()}
    assert rows[64].overlap_at_10 == 10
    best = rows[64].avg_full_cosine
    for d in (8, 16, 32):
        assert 0 <= rows[d].overlap_at_10 <= 10
        assert rows[d].avg_full_cosine <= best + 1e-9, (d, rows[d])


def test_jl_projection_distortion_concentrates(spark):
    """Rademacher 64->16 must preserve pair distances in expectation:
    mean ratio near 1, spread bounded (JL concentration)."""
    from hematite_spark.queries.similarity import jl_random_projection

    r = jl_random_projection(spark, SF_DIR).collect()[0]
    assert 0.85 < r.avg_ratio < 1.15, r
    assert r.stddev_ratio < 0.3, r
    assert r.min_ratio > 0.3 and r.max_ratio < 2.0, r


def test_quantized_recall_bounded_by_exact(spark):
    """The int8 selection can never deliver better true cosine than
    the exact selection, and int8 should preserve most of top-10."""
    from hematite_spark.queries.similarity import quantized_ann_recall

    r = quantized_ann_recall(spark, SF_DIR).collect()[0]
    assert r.avg_true_cos_quant <= r.avg_true_cos_exact + 1e-9
    assert r.overlap_at_10 >= 8, r


def test_minhash_signature_merge_all_lanes_agree(spark):
    """Mergeability contract: min-merged partial signatures must equal
    the directly computed signature in every lane, for every source."""
    from hematite_spark.queries.dedup import minhash_signature_merge

    for r in minhash_signature_merge(spark, SF_DIR).collect():
        assert r.lanes_agree == 8, r


def test_zone_map_clustered_beats_hash(spark):
    """Zone maps must make the date-clustered layout skip strictly
    more files than the hash layout for a date predicate."""
    from hematite_spark.queries.advanced import zone_map_pruning_audit

    rows = {r.layout: r for r in zone_map_pruning_audit(spark, SF_DIR).collect()}
    assert rows["clustered_by_date"].skip_fraction > rows["hash_layout"].skip_fraction
    assert rows["clustered_by_date"].skip_fraction >= 0.8
    # at sf0.001 a handful of ~5-row hash files can happen to miss the
    # month entirely; the layout still skips far less than clustering
    assert rows["hash_layout"].skip_fraction <= 0.5


def test_curriculum_phases_ordered_by_quality(spark):
    """Walking the shrunk-quality ranking, phase labels must be
    non-decreasing and quality non-increasing."""
    from hematite_spark.queries.sampling import curriculum_phase_assignment

    rows = sorted(
        curriculum_phase_assignment(spark, SF_DIR).collect(), key=lambda r: r.cum_token_share
    )
    assert all(a.phase <= b.phase for a, b in zip(rows, rows[1:]))
    assert all(a.shrunk_q >= b.shrunk_q for a, b in zip(rows, rows[1:]))


def test_rrf_fusion_bounds(spark):
    """RRF scores must equal the sum of the two rank contributions and
    be bounded by the best possible (rank 1 in both lists)."""
    from hematite_spark.queries.retrieval import rrf_fusion

    rows = rrf_fusion(spark, SF_DIR).collect()
    assert rows, "fusion must return results"
    best = 2.0 / 61
    for r in rows:
        assert r.rrf <= best + 1e-9
        expected = (1.0 / (60 + r.bm25_rank) if r.bm25_rank else 0.0) + (
            1.0 / (60 + r.cos_rank) if r.cos_rank else 0.0
        )
        assert abs(r.rrf - round(expected, 6)) < 1e-9, r


def test_kmv_merge_contract(spark):
    """Mergeability contract: the kth-minimum hash from union-merged
    per-half partials must equal the directly computed kth minimum for
    every event type, and the estimate must be a sane distinct-count
    proxy (within 4x either way at these tiny scales)."""
    from hematite_spark.queries.udf import kmv_sketch_merge

    rows = kmv_sketch_merge(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert r.merge_agrees, r
        assert r.kth_direct == r.kth_merged
        assert r.est_distinct > 0
        assert r.est_distinct / r.exact_users < 4 and r.exact_users / r.est_distinct < 4, r


def test_cms_merge_contract(spark):
    """CMS mergeability + one-sided error: partials merged by
    cell-wise sum must equal the directly-built sketch cell-for-cell,
    and the point estimate for the heaviest user per type must never
    underestimate its exact count."""
    from hematite_spark.queries.udf import cms_sketch_merge

    rows = cms_sketch_merge(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert r.cells_mismatch == 0, r
        assert r.never_underestimates, r
        assert r.cms_est >= r.exact_cnt, r
        assert r.n_cells <= 4 * 32, r


def test_mlm_masking_rates(spark):
    """Hash-space thresholds must produce ~15% masking with the
    80/10/10 corruption split, and the accounting must be exact
    (n_masked = mask_token + random + keep)."""
    from hematite_spark.queries.text import mlm_masking_plan

    rows = mlm_masking_plan(spark, SF_DIR).collect()
    n = sum(r.n_tokens for r in rows)
    m = sum(r.n_masked for r in rows)
    mt = sum(r.n_mask_token for r in rows)
    rd = sum(r.n_random for r in rows)
    kp = sum(r.n_keep for r in rows)
    assert m == mt + rd + kp
    assert 0.10 < m / n < 0.20, (m, n)
    assert 0.7 < mt / m < 0.9, (mt, m)


def test_ivfpq_shortlist_recall(spark):
    """The IVFPQ cascade's top-10 must share most of its members with
    exact brute-force top-10 restricted to the probed cells — PQ with
    8 codes per subspace is coarse, but the exact rerank of a 50-row
    shortlist recovers ranking quality; and approx_dist must be
    non-negative."""
    from hematite_spark.queries.similarity import ann_ivf_search, ann_ivfpq_search

    pq_top = ann_ivfpq_search(spark, SF_DIR).collect()
    assert len(pq_top) == 10
    assert all(r.approx_dist >= 0 for r in pq_top)
    # ann_ivf_search = exact scoring over the same probed cells
    exact_top = {r.vec_id for r in ann_ivf_search(spark, SF_DIR).collect()}
    overlap = len({r.vec_id for r in pq_top} & exact_top)
    assert overlap >= 6, (overlap, pq_top)


def test_knn_graph_contract(spark):
    """Every node keeps at most k=3 neighbors, reciprocal count is
    bounded by k_found, and cosines are valid."""
    from hematite_spark.queries.similarity import knn_graph_build

    rows = knn_graph_build(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert 1 <= r.k_found <= 3
        assert 0 <= r.n_reciprocal <= r.k_found
        assert -1.000001 <= r.mean_cosine <= r.best_cosine <= 1.000001


def test_eval_coverage_bounds(spark):
    """Coverage fractions live in [0, 1] and covered counts are
    bounded by totals; the synthetic corpus's shared vocabulary should
    put micro coverage well above zero."""
    from hematite_spark.queries.text import eval_ngram_coverage

    rows = eval_ngram_coverage(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert 0 <= r.n_covered <= r.n_eval_ngrams
        assert 0.0 <= r.coverage_micro <= 1.0 and 0.0 <= r.coverage_macro <= 1.0
    assert sum(r.n_covered for r in rows) > 0


def test_domain_cap_contract(spark):
    """Cap accounting: kept <= 30 per source, kept+dropped = docs,
    char share in (0, 1]."""
    from hematite_spark.queries.sampling import domain_cap_sampling

    rows = domain_cap_sampling(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert r.n_kept <= 30 and r.n_kept + r.n_dropped == r.n_docs
        assert 0 < r.kept_char_share <= 1.0


def test_hubness_histogram_complete(spark):
    """Every vector lands in exactly one in-degree bin (shares sum to
    1, node counts sum to the corpus size)."""
    from hematite_spark.queries.similarity import hubness_audit
    from hematite_spark.io import load_table

    rows = hubness_audit(spark, SF_DIR).collect()
    n_total = load_table(spark, "embeddings", SF_DIR).count()
    assert sum(r.n_nodes for r in rows) == n_total
    assert abs(sum(r.share for r in rows) - 1.0) < 1e-4
    assert all(r.in_degree >= 0 for r in rows)


def test_ivf_cell_balance_partition(spark):
    """Cells partition the corpus; actions follow the ratio rule."""
    from hematite_spark.queries.similarity import ivf_cell_balance_audit
    from hematite_spark.io import load_table

    rows = ivf_cell_balance_audit(spark, SF_DIR).collect()
    n_total = load_table(spark, "embeddings", SF_DIR).count()
    assert sum(r.n_vectors for r in rows) == n_total
    for r in rows:
        if r.ratio_to_avg > 2.0:
            assert r.action == "split"
        elif r.ratio_to_avg < 0.25:
            assert r.action == "merge"
        else:
            assert r.action == "ok"


def test_label_propagation_conserves_seeds(spark):
    """Seeds never change labels (every seeded node counts under its
    own label), total nodes are conserved, and propagation strictly
    reduces the unlabeled pool vs the 20% seeding."""
    from hematite_spark.queries.similarity import label_propagation_step
    from hematite_spark.io import load_table

    rows = label_propagation_step(spark, SF_DIR).collect()
    emb = load_table(spark, "embeddings", SF_DIR)
    n_total = emb.count()
    n_seeds = emb.where("vec_id % 5 = 0").count()
    assert sum(r.n_nodes for r in rows) == n_total
    assert sum(r.n_seeded for r in rows) == n_seeds
    unlabeled = next((r.n_nodes for r in rows if r.final_label == -1), 0)
    assert unlabeled < n_total - n_seeds
    assert sum(r.n_propagated for r in rows if r.final_label >= 0) > 0


def test_source_data_card_consistency(spark):
    """The card must agree with the operators it composes: doc totals
    match the corpus, dup rate in [0,1), top-lang share in (0,1],
    langs >= 1."""
    from hematite_spark.queries.text import source_data_card
    from hematite_spark.io import load_table

    rows = source_data_card(spark, SF_DIR).collect()
    docs = load_table(spark, "documents", SF_DIR)
    assert sum(r.n_docs for r in rows) == docs.count()
    for r in rows:
        assert 0 <= r.exact_dup_rate < 1
        assert 0 < r.top_lang_share <= 1
        assert r.n_langs >= 1 and r.total_tokens > 0


def test_quantizer_migration_partitions_corpus(spark):
    """Every vector lands in exactly one (old, new) cell pair; shares
    sum to 1; cells come from the right centroid id ranges."""
    from hematite_spark.queries.similarity import quantizer_migration_matrix
    from hematite_spark.io import load_table

    rows = quantizer_migration_matrix(spark, SF_DIR).collect()
    n_total = load_table(spark, "embeddings", SF_DIR).count()
    assert sum(r.n_vectors for r in rows) == n_total
    assert abs(sum(r.share for r in rows) - 1.0) < 1e-4
    for r in rows:
        assert 0 <= r.cell_old < 8 and 8 <= r.cell_new < 16


def test_dp_noisy_counts_mechanism(spark):
    """The Laplace release must perturb without destroying utility:
    every |noise| within the 99.5% tail bound column's claim, noisy
    counts within ±11 of exact (scale 2 → bound ≈10.6), and at least
    one type actually perturbed (noise is not degenerate zero)."""
    from hematite_spark.queries.advanced import dp_noisy_counts

    rows = dp_noisy_counts(spark, SF_DIR).collect()
    assert len(rows) == 5
    assert all(r.within_bound for r in rows)
    assert all(abs(r.noisy_cnt - r.exact_cnt) <= 11 for r in rows)
    assert any(r.noisy_cnt != r.exact_cnt for r in rows)


def test_calibration_ece_accounting(spark):
    """ECE must equal the n-weighted mean of per-bin gaps, every bin's
    frac_positive in [0,1], and bin populations cover all events."""
    from hematite_spark.queries.advanced import score_calibration_ece

    rows = score_calibration_ece(spark, SF_DIR).collect()
    n = sum(r.n for r in rows)
    ece = sum(r.n * r.gap for r in rows) / n
    assert abs(rows[0].ece - round(ece, 6)) < 2e-6
    for r in rows:
        assert 0.0 <= r.frac_positive <= 1.0
        assert abs(r.gap - round(abs(r.mean_score - r.frac_positive), 6)) < 2e-6


def test_hnsw_layers_geometric(spark):
    """Level census: level 0 holds the vast majority (p=1/16), counts
    strictly decrease by level, and cum_share reaches 1.0 at level 0."""
    from hematite_spark.queries.similarity import hnsw_layer_assign

    rows = {r.level: r for r in hnsw_layer_assign(spark, SF_DIR).collect()}
    assert 0 in rows
    assert rows[0].cum_share == 1.0
    assert all(r.decay_ok for r in rows.values())
    levels = sorted(rows)
    for a, b in zip(levels, levels[1:]):
        assert rows[b].n_nodes < rows[a].n_nodes


def test_gazetteer_matches_are_exact(spark):
    """Every gazetteer entity present in the corpus is found, doc_freq
    ≤ mentions, and docs_share in (0, 1]."""
    from hematite_spark.queries.text import gazetteer_entity_match

    rows = gazetteer_entity_match(spark, SF_DIR).collect()
    assert {r.entity for r in rows} >= {"customer", "table", "spark", "query"}
    for r in rows:
        assert r.doc_freq <= r.mentions
        assert 0.0 < r.docs_share <= 1.0


def test_skipgram_plan_distributions(spark):
    """p_neg sums to ~1 over the vocab, frequent tokens get keep_p < 1
    (subsampled), rare tokens keep_p == 1, and pair counts are
    consistent (total centers == total contexts)."""
    from hematite_spark.queries.text import skipgram_sampling_plan

    rows = skipgram_sampling_plan(spark, SF_DIR).collect()
    assert abs(sum(r.p_neg for r in rows) - 1.0) < 1e-3
    assert sum(r.n_center for r in rows) == sum(r.n_context for r in rows)
    top = max(rows, key=lambda r: r.n_tok)
    assert top.keep_p < 1.0


def test_pii_luhn_separates_candidates(spark):
    """The detector must find every injected class (the fixture hits a
    known doc slice), and Luhn-valid cards must be a strict subset of
    candidates (the 16-digit fixture is mostly checksum-invalid)."""
    from hematite_spark.queries.text import pii_scan_documents

    rows = pii_scan_documents(spark, SF_DIR).collect()
    tot = lambda c: sum(getattr(r, c) for r in rows)
    assert tot("n_emails") > 0
    assert tot("n_phones") > 0
    assert tot("n_ipv4") > 0
    assert tot("n_card_candidates") > 0
    assert tot("n_cards_luhn_valid") < tot("n_card_candidates")
    for r in rows:
        assert r.docs_with_pii <= r.n_docs


def test_hnsw_search_recall_vs_brute_force(spark):
    """Two-layer navigation quality gate (tightened per VERDICT r4
    item 5): the ef=16 beam chosen by hnsw_ef_sweep (query cell's
    hamming-2 ball ∪ entry cell's hamming-1 ball) must recover ≥8 of
    the exact top-10, and every reported cosine must equal the
    brute-force value for that vector."""
    from hematite_spark.queries.similarity import ann_brute_force, hnsw_two_layer_search

    exact = {r.vec_id: r.cosine for r in ann_brute_force(spark, SF_DIR).collect()}
    hnsw = {r.vec_id: r.cosine for r in hnsw_two_layer_search(spark, SF_DIR).collect()}
    assert len(hnsw) == 10
    overlap = set(exact) & set(hnsw)
    assert len(overlap) >= 8, f"hnsw recall {len(overlap)}/10 too low"
    for vid in overlap:
        assert abs(exact[vid] - hnsw[vid]) < 1e-9


def test_hnsw_ef_sweep_curve(spark):
    """The ef sweep's recall@10 must be monotone non-decreasing in ef
    (prefix probe sets nest), reach 1.0 at ef=21 (the probe list
    saturates the 16-cell space), and hold ≥0.8 at the chosen
    production beam ef=16 — the quantitative basis for the ≥8/10
    gate on hnsw_two_layer_search."""
    from hematite_spark.queries.similarity import hnsw_ef_sweep

    rows = sorted(hnsw_ef_sweep(spark, SF_DIR).collect(), key=lambda r: r.ef)
    assert [r.ef for r in rows] == [1, 2, 6, 10, 16, 21]
    recalls = [r.recall_at_10 for r in rows]
    assert recalls == sorted(recalls), f"recall not monotone: {recalls}"
    by_ef = {r.ef: r for r in rows}
    assert by_ef[21].recall_at_10 == 1.0
    assert by_ef[21].cells_probed == 16
    assert by_ef[16].recall_at_10 >= 0.8, f"ef=16 recall {by_ef[16].recall_at_10}"
    for r in rows:
        assert r.n_candidates <= by_ef[21].n_candidates


def test_kcenter_covers_all_vectors(spark):
    """Coverage contract: 4 distinct seeds, every vector assigned to
    exactly one cell (populations sum to corpus size), each cell's
    radius bounds its mean, and vec_id 0 anchors the traversal."""
    from hematite_spark.io import load_table
    from hematite_spark.queries.similarity import kcenter_coreset_seed

    rows = kcenter_coreset_seed(spark, SF_DIR).collect()
    assert len(rows) == 4
    assert 0 in {r.seed_id for r in rows}
    n = load_table(spark, "embeddings", SF_DIR).count()
    assert sum(r.n_assigned for r in rows) == n
    for r in rows:
        assert r.mean_dist <= r.cell_radius + 1e-9


def test_cdc_chunks_reconstruct_docs(spark):
    """Accounting: chunk token totals must reproduce corpus token
    totals per source, mean width near the modulus 8, and the dup
    rate in [0, 1)."""
    from pyspark.sql import functions as F
    from hematite_spark.functions import words
    from hematite_spark.io import load_table
    from hematite_spark.queries.text import cdc_chunk_boundaries

    rows = cdc_chunk_boundaries(spark, SF_DIR).collect()
    docs = load_table(spark, "documents", SF_DIR)
    toks = {
        r.source: r.n
        for r in docs.groupBy("source").agg(F.sum(F.size(words())).alias("n")).collect()
    }
    for r in rows:
        assert abs(r.mean_chunk_tokens * r.n_chunks - toks[r.source]) < 0.5 * r.n_chunks
        assert 2.0 < r.mean_chunk_tokens < 32.0
        assert 0.0 <= r.dup_chunk_rate < 1.0


def test_rag_context_budget_respected(spark):
    """Greedy packing contract: included chunks are a rank prefix,
    their token total is ≤ 96, the first excluded chunk would
    overflow, and ranks are dense from 1."""
    from hematite_spark.queries.retrieval import rag_context_assembly

    rows = rag_context_assembly(spark, SF_DIR).collect()
    assert [r.rank for r in rows] == list(range(1, len(rows) + 1))
    included = [r for r in rows if r.included]
    excluded = [r for r in rows if not r.included]
    assert included and included[-1].cum_tokens <= 96
    if excluded:
        assert excluded[0].rank == included[-1].rank + 1
        assert excluded[0].cum_tokens > 96


def test_snapshot_diff_append_only_invariants(spark):
    """Append-only log ⇒ removed must be structurally zero for every
    type, and between the cutoffs at least some keys changed (the
    tiny sf0.001 slice has every key active in both windows, so
    added may legitimately be 0 there)."""
    from hematite_spark.queries.advanced import snapshot_diff_events

    rows = snapshot_diff_events(spark, SF_DIR).collect()
    assert len(rows) == 5
    assert all(r.n_removed == 0 for r in rows)
    assert sum(r.n_changed for r in rows) > 0
    assert all(r.n_added + r.n_changed + r.n_unchanged > 0 for r in rows)


def test_consistent_hash_moves_only_to_new_shard(spark):
    """The ring's reason to exist: adding shard 4 moves ~1/5 of keys,
    every move lands on the new shard, and no shard is emptied."""
    from hematite_spark.queries.advanced import consistent_hash_rebalance

    rows = consistent_hash_rebalance(spark, SF_DIR).collect()
    assert {r.shard_before for r in rows} == {0, 1, 2, 3}
    total = sum(r.n_keys for r in rows)
    moved = sum(r.n_moved for r in rows)
    assert all(r.n_moved_not_to_new == 0 for r in rows)
    assert 0.05 < moved / total < 0.45  # ≈1/5 up to vnode variance
    assert all(r.n_keys > r.n_moved for r in rows)


def test_url_canonicalization_collapses_variants(spark):
    """The canonicalizer must collapse cosmetic variants (canonical
    strictly fewer than raw per source) down to the 8-page space."""
    from hematite_spark.queries.text import url_canonicalize_dedup

    rows = url_canonicalize_dedup(spark, SF_DIR).collect()
    for r in rows:
        assert r.distinct_canonical <= 8
        assert r.distinct_canonical <= r.distinct_raw
        assert r.max_group_size >= 1
    assert any(r.distinct_canonical < r.distinct_raw for r in rows)


def test_kneser_ney_probability_axioms(spark):
    """KN decomposition sanity: p_kn = p_ml_disc + λ·p_cont within
    rounding, every probability in (0, 1], and the discounted ML term
    strictly below the raw ML estimate."""
    from hematite_spark.queries.text import kneser_ney_bigram

    rows = kneser_ney_bigram(spark, SF_DIR).collect()
    assert len(rows) == 20
    for r in rows:
        assert 0.0 < r.p_kn <= 1.0
        assert 0.0 < r.p_cont <= 1.0
        assert abs(r.p_kn - (r.p_ml_disc + r.lambda_w1 * r.p_cont)) < 5e-6, r


def test_category_projection_covers_all_streams(spark):
    """Category totals must tile the store: stream counts sum to the
    distinct-user count, event counts to the log size, and every
    checkpoint equals its feed length."""
    from pyspark.sql import functions as F
    from hematite_spark.io import load_table
    from hematite_spark.queries.eventstore import es_category_projection

    rows = es_category_projection(spark, SF_DIR).collect()
    ev = load_table(spark, "events", SF_DIR)
    assert sum(r.n_events for r in rows) == ev.count()
    assert sum(r.n_streams for r in rows) == ev.select("user_id").distinct().count()
    for r in rows:
        assert r.checkpoint_position == r.n_events


def test_bloom_fpr_within_theory(spark):
    """No false negatives by construction; measured FPR must sit near
    the (1-e^{-kn/m})^k theory (within 2x + slack, as the audit
    column itself pins)."""
    from hematite_spark.queries.udf import bloom_fpr_audit

    r = bloom_fpr_audit(spark, SF_DIR).first()
    assert r.within_2x, r
    assert r.n_bits_set <= 1024
    assert 0.0 <= r.measured_fpr <= 1.0


def test_forget_cascade_is_transitive(spark):
    """Blast radius sanity: purge fractions in (0,1), lineitem purge
    implies orders purge implies customer purge (no orphan hops)."""
    from hematite_spark.queries.advanced import forget_cascade_audit

    rows = {r.table_name: r for r in forget_cascade_audit(spark, SF_DIR).collect()}
    assert set(rows) == {"customer", "orders", "lineitem"}
    assert rows["customer"].n_purge > 0
    for r in rows.values():
        assert 0.0 < r.purge_frac < 1.0, r


def test_gmm_em_separates_components(spark):
    """EM-step sanity: mixture weights in (0,1) and sum to 1, the two
    component means stay ordered (μ1 < μ2 from the 25/75 init), and
    sigmas are positive."""
    from hematite_spark.queries.advanced import gmm_em_step

    rows = gmm_em_step(spark, SF_DIR).collect()
    assert len(rows) == 5
    for r in rows:
        assert 0.0 < r.pi1 < 1.0
        assert r.mu1 < r.mu2, r
        assert r.sigma1 > 0 and r.sigma2 > 0


def test_kaplan_meier_monotone_with_censoring(spark):
    """Survival must start ≤1, be non-increasing, the risk set must
    shrink monotonically, and censored users must be counted (the
    whole point vs a naive conversion curve)."""
    from hematite_spark.queries.advanced import kaplan_meier_conversion

    rows = kaplan_meier_conversion(spark, SF_DIR).collect()
    assert rows
    surv = [r.survival for r in rows]
    assert all(a >= b - 1e-9 for a, b in zip(surv, surv[1:]))
    risks = [r.n_at_risk for r in rows]
    assert all(a >= b for a, b in zip(risks, risks[1:]))
    assert sum(r.n_censored for r in rows) >= 0
    assert all(0.0 <= r.hazard <= 1.0 for r in rows)


def test_quantile_normalization_converges_sources(spark):
    """After mapping onto the global grid, per-source means must be
    closer together than before (batch effect removed)."""
    import statistics

    from hematite_spark.queries.text import quantile_normalize_quality

    rows = quantile_normalize_quality(spark, SF_DIR).collect()
    before = [r.mean_before for r in rows]
    after = [r.mean_after for r in rows]
    if len(rows) > 1:
        assert statistics.pstdev(after) <= statistics.pstdev(before) * 1.5
    for r in rows:
        assert r.n_docs > 0


def test_cusum_stat_is_scale_free(spark):
    """The normalized statistic must be finite and non-negative, the
    changepoint day inside the observation window, and the flag
    consistent with the threshold."""
    from hematite_spark.queries.advanced import cusum_changepoint

    rows = cusum_changepoint(spark, SF_DIR).collect()
    assert len(rows) == 5
    for r in rows:
        assert r.cusum_stat >= 0
        assert r.shift_detected == (r.cusum_stat > 1.36)
        assert r.n_days > 20  # January observation window


def test_ips_estimates_bounded_and_consistent(spark):
    """With rewards in [0,1], SNIPS must stay in [0,1]; the sum of
    each action's matched rows is the log size; ESS never exceeds the
    matched count scaled by weight spread (≤ n_total)."""
    from hematite_spark.io import load_table
    from hematite_spark.queries.advanced import ips_offline_eval

    rows = ips_offline_eval(spark, SF_DIR).collect()
    n_log = load_table(spark, "events", SF_DIR).count()
    assert sum(r.n_matched for r in rows) == n_log
    for r in rows:
        assert 0.0 <= r.snips_value <= 1.0, r
        assert r.ips_value >= 0.0
        assert 0 < r.ess <= n_log + 1


def test_plsa_topics_are_distributions(spark):
    """Per-topic top-5 exists for all 3 topics, probabilities in
    (0,1), ranks dense 1..5, and topic mass concentrated (top-5 of a
    ~40-word vocab holds >5/40 of the mass)."""
    from hematite_spark.queries.text import plsa_em_step

    rows = plsa_em_step(spark, SF_DIR).collect()
    assert len(rows) == 15
    by_topic = {}
    for r in rows:
        by_topic.setdefault(r.topic, []).append(r)
        assert 0.0 < r.p_w_z < 1.0
    for t, rs in by_topic.items():
        assert [r.rnk for r in rs] == [1, 2, 3, 4, 5]
        assert sum(r.p_w_z for r in rs) > 0.125


def test_simpsons_audit_slope_consistency(spark):
    """Cohort counts must be 4 per type; the flag fires only on a
    genuine sign contradiction between pooled and majority-cohort
    slopes."""
    from hematite_spark.queries.advanced import simpsons_paradox_audit

    rows = simpsons_paradox_audit(spark, SF_DIR).collect()
    assert len(rows) == 5
    for r in rows:
        assert r.n_cohorts == 4
        majority_up = r.n_cohorts_up * 2 > r.n_cohorts
        majority_down = r.n_cohorts_up * 2 < r.n_cohorts
        if r.paradox_flag:
            assert (r.pooled_slope > 0 and majority_down) or (
                r.pooled_slope < 0 and majority_up
            )


def test_cuped_reduces_variance_unbiased(spark):
    """CUPED must not move the mean materially (covariate centered)
    and must not inflate variance; arms partition the users."""
    from hematite_spark.queries.advanced import cuped_adjustment

    rows = cuped_adjustment(spark, SF_DIR).collect()
    assert len(rows) == 2
    for r in rows:
        assert r.cuped_var <= r.raw_var * 1.05, r
        assert abs(r.cuped_mean - r.raw_mean) < 3.0, r
        assert r.var_reduction > -0.05


def test_er_pipeline_recovers_name_groups(spark):
    """With a ≤2-edit threshold, entities must tile the catalog
    (records sum to the part count), each entity elects exactly one
    canonical record, and the closure must NOT merge everything into
    one blob (entities ≈ distinct names)."""
    from pyspark.sql import functions as F
    from hematite_spark.io import load_table
    from hematite_spark.queries.advanced import entity_resolution_pipeline

    rows = entity_resolution_pipeline(spark, SF_DIR).collect()
    part = load_table(spark, "part", SF_DIR)
    n_parts = part.count()
    n_names = part.select("p_name").distinct().count()
    assert sum(r.n_records for r in rows) == n_parts
    for r in rows:
        assert r.n_canonical == r.n_entities
    n_entities = sum(r.n_entities for r in rows)
    assert n_entities <= n_names
    assert n_entities >= max(2, n_names // 2)


def test_speculative_acceptance_bounds(spark):
    """Acceptance in (0,1); expected tokens/step in (1, 5) for k=4 and
    consistent with the geometric-series formula."""
    from hematite_spark.queries.text import speculative_draft_acceptance

    rows = speculative_draft_acceptance(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        a = r.acceptance_rate
        assert 0.0 < a < 1.0
        assert 1.0 < r.expected_tokens_per_step < 5.0
        assert abs(r.expected_tokens_per_step - (1 - a**5) / (1 - a)) < 5e-5


def test_k_anonymity_rows_tile(spark):
    """Bucket rows must sum to the corpus; violations only in the
    sub-k buckets; suppression fractions consistent."""
    from hematite_spark.io import load_table
    from hematite_spark.queries.advanced import k_anonymity_audit

    rows = k_anonymity_audit(spark, SF_DIR).collect()
    n = load_table(spark, "documents", SF_DIR).count()
    assert sum(r.n_rows_in_bucket for r in rows) == n
    for r in rows:
        if r.size_bucket in ("5-19", "20+"):
            assert r.n_rows_violating == 0
        else:
            assert r.n_rows_violating == r.n_rows_in_bucket


def test_srm_no_mismatch_on_hash_split(spark):
    """A clean user-hash split must NOT trip the guardrail (the modulo
    split is near-50/50 by construction) and counts must be plausible."""
    from hematite_spark.queries.advanced import srm_check

    rows = srm_check(spark, SF_DIR).collect()
    assert len(rows) == 5
    for r in rows:
        assert r.n_a > 0 and r.n_b > 0
        assert r.srm_detected == (r.chi2 > 3.841)


def test_rolling_backtest_folds_complete(spark):
    """3 folds × 5 types, MAE non-negative, and |bias| ≤ MAE (bias is
    the signed version of the same residuals)."""
    from hematite_spark.queries.advanced import rolling_origin_backtest

    rows = rolling_origin_backtest(spark, SF_DIR).collect()
    assert len(rows) == 15
    for r in rows:
        assert r.mae >= 0.0
        assert abs(r.bias) <= r.mae + 1e-9


def test_bradley_terry_strengths_normalize(spark):
    """Strengths sum to ~1, ranks dense, and the rank order agrees
    with raw win rate direction (more wins per match → stronger)."""
    from hematite_spark.queries.advanced import bradley_terry_step

    rows = bradley_terry_step(spark, SF_DIR).collect()
    assert len(rows) == 5
    assert abs(sum(r.bt_strength for r in rows) - 1.0) < 1e-3
    assert [r.rank for r in rows] == [1, 2, 3, 4, 5]
    rates = [(r.wins / r.matches, r.rank) for r in rows]
    best = max(rates)[1]
    assert best == 1


def test_benford_digits_complete(spark):
    """All nine leading digits present, shares sum to 1, Benford
    expectations sum to 1, and the flag matches the statistic."""
    from hematite_spark.queries.advanced import benford_audit

    rows = benford_audit(spark, SF_DIR).collect()
    assert [r.digit for r in rows] == list(range(1, 10))
    assert abs(sum(r.observed_share for r in rows) - 1.0) < 1e-3
    assert abs(sum(r.benford_share for r in rows) - 1.0) < 1e-3
    for r in rows:
        assert r.deviates == (r.chi2_total > 15.507)


def test_ndcg_orders_variants_sanely(spark):
    """NDCG in [0,1]; a variant that returns more of the exact top-10
    can't have NDCG 0; multiprobe within the wider hnsw beam implies
    hnsw overlap ≥ multiprobe overlap (superset probe sets)."""
    from hematite_spark.queries.similarity import retrieval_ndcg_audit

    rows = {r.variant: r for r in retrieval_ndcg_audit(spark, SF_DIR).collect()}
    assert set(rows) == {"ivf", "multiprobe", "hnsw"}
    for r in rows.values():
        assert 0.0 <= r.ndcg_at_10 <= 1.0
        assert (r.overlap == 0) == (r.ndcg_at_10 == 0.0)
    assert rows["hnsw"].overlap >= rows["multiprobe"].overlap


def test_did_nets_out_common_trend(spark):
    """The four cells must be populated, SE positive, and the DiD
    estimate must equal the cell arithmetic exactly."""
    from hematite_spark.queries.advanced import diff_in_diff

    r = diff_in_diff(spark, SF_DIR).first()
    est = (r.treated_post - r.treated_pre) - (r.control_post - r.control_pre)
    assert abs(r.did_estimate - round(est, 6)) < 5e-6
    assert r.std_error > 0
    assert r.significant == (abs(r.did_estimate) > 1.96 * r.std_error)


def test_encoding_advisor_recommendations(spark):
    """Low-cardinality enums must get RUN_LENGTH/DICTIONARY, the key
    column PLAIN-or-DICTIONARY consistent with its ratio, and dict
    bits strictly below plain bits wherever dictionary is advised."""
    from hematite_spark.queries.advanced import encoding_advisor

    rows = {r.column_name: r for r in encoding_advisor(spark, SF_DIR).collect()}
    assert rows["o_orderstatus"].recommendation in ("RUN_LENGTH", "DICTIONARY")
    for r in rows.values():
        if r.recommendation == "DICTIONARY":
            assert r.dict_bits_per_value < r.plain_bits_per_value
        lo, hi = (
            (0, 0.001)
            if r.recommendation == "RUN_LENGTH"
            else (0.001, 0.1)
            if r.recommendation == "DICTIONARY"
            else (0.1, 1.01)
        )
        assert lo <= r.ndv_ratio <= hi or r.recommendation == "RUN_LENGTH"


def test_kmv_setops_contract(spark):
    """Sketch set-algebra contract: union/intersection estimates
    within their stated factors, and inter ≤ union (both exact and
    estimated)."""
    from hematite_spark.queries.udf import kmv_set_operations

    r = kmv_set_operations(spark, SF_DIR).first()
    assert r.union_ok and r.inter_ok, r
    assert r.exact_inter <= r.exact_union
    assert r.inter_est <= r.union_est + 1e-6


def test_ks_detects_known_shift(spark):
    """D in [0,1]; the flag agrees with the threshold comparison; and
    identical-distribution pairs (if any) stay under threshold far
    more often than not."""
    from hematite_spark.queries.advanced import ks_two_sample

    rows = ks_two_sample(spark, SF_DIR).collect()
    assert len(rows) == 4  # vs the view baseline
    for r in rows:
        assert 0.0 <= r.ks_d <= 1.0
        assert r.drift_detected == (r.ks_d > r.threshold_95)
        assert r.threshold_95 > 0


def test_adstock_window_bounded(spark):
    """Correlations in [-1,1]; n_days spans the January window; the
    flag agrees with the comparison."""
    from hematite_spark.queries.advanced import adstock_transform

    rows = adstock_transform(spark, SF_DIR).collect()
    assert len(rows) == 4
    for r in rows:
        for c in (r.corr_raw, r.corr_adstock):
            assert -1.0 <= c <= 1.0
        assert r.n_days >= 25
        assert r.carryover_helps == (r.corr_adstock > r.corr_raw)


def test_feature_hashing_dedup_property(spark):
    """Identical texts embed identically (the contract column), and
    norms are positive wherever docs exist."""
    from hematite_spark.queries.text import feature_hashing_embed

    rows = feature_hashing_embed(spark, SF_DIR).collect()
    for r in rows:
        assert r.dedup_consistent
        assert r.mean_l2 > 0
        assert r.distinct_embeddings <= r.n_docs


def test_fellegi_sunter_weights_separate(spark):
    """For the name field — the one that defines candidate matches —
    m must exceed u (positive match weight); probabilities in [0,1]."""
    from hematite_spark.queries.advanced import fellegi_sunter_em_step

    rows = {r.field: r for r in fellegi_sunter_em_step(spark, SF_DIR).collect()}
    assert set(rows) == {"name", "brand", "size"}
    for r in rows.values():
        assert 0.0 <= r.m_prob <= 1.0 and 0.0 <= r.u_prob <= 1.0
    assert rows["name"].m_prob > rows["name"].u_prob
    assert rows["name"].match_weight > 0


def test_geo_grid_blocking_is_lossless_locally(spark):
    """The 9-cell probe must find every ε-pair (brute-force check at
    sf0.001 scale), and the audit columns must be internally
    consistent (matches ≤ candidates, cells ≤ points)."""
    import itertools

    from hematite_spark.queries.advanced import geo_grid_neighbor_join
    from hematite_spark.io import load_table
    from pyspark.sql import functions as F

    r = geo_grid_neighbor_join(spark, SF_DIR).first()
    assert r.n_matches <= r.n_candidate_pairs
    assert r.n_cells <= r.n_points
    # brute-force ground truth on the same deterministic coordinates
    uids = [
        x.user_id
        for x in load_table(spark, "events", SF_DIR).select("user_id").distinct().collect()
    ]
    import hashlib

    def coord(salt, uid):
        return int(hashlib.md5(f"{salt}{uid}".encode()).hexdigest()[:4], 16) / 65536.0 * 100.0

    pts = [(coord("gx:", u), coord("gy:", u)) for u in uids]
    brute = sum(
        1
        for (x1, y1), (x2, y2) in itertools.combinations(pts, 2)
        if (x1 - x2) ** 2 + (y1 - y2) ** 2 <= 1.0
    )
    assert r.n_matches == brute


def test_control_chart_limits_bracket_center(spark):
    """UCL > center > LCL for every type, and breaches are a small
    minority of days (the process is in control by construction)."""
    from hematite_spark.queries.advanced import control_chart_xbar

    rows = control_chart_xbar(spark, SF_DIR).collect()
    assert len(rows) == 5
    for r in rows:
        assert r.lcl < r.center < r.ucl
        assert r.n_breaches <= r.n_days // 3


def test_luhn_expression_against_reference_impl(spark):
    """The higher-order-array Luhn used by pii_scan_documents must
    agree with a reference Python implementation on 400 generated
    numbers: 200 with the correct check digit appended, 200 with it
    deliberately broken."""
    from pyspark.sql import functions as F

    def luhn_check_digit(body: str) -> int:
        digits = [int(c) for c in body][::-1]
        total = 0
        for i, d in enumerate(digits):
            if i % 2 == 0:  # positions 1,3,5... from the right of the BODY
                d *= 2
                if d > 9:
                    d -= 9
            total += d
        return (10 - total % 10) % 10

    rows = []
    for i in range(200):
        body = str(7100 + i * 37).zfill(15)
        good = body + str(luhn_check_digit(body))
        bad = body + str((luhn_check_digit(body) + 5) % 10)
        rows.append((good, True))
        rows.append((bad, False))
    df = spark.createDataFrame(rows, "card string, expected boolean")
    got = df.select(
        "expected",
        F.expr(
            """aggregate(transform(split(reverse(card), ''), (ch, i) ->
                 CASE WHEN i % 2 = 1
                      THEN IF(int(ch) * 2 > 9, int(ch) * 2 - 9, int(ch) * 2)
                      ELSE int(ch) END),
               0, (a, x) -> a + x) % 10 = 0"""
        ).alias("got"),
    ).collect()
    for r in got:
        assert r.got == r.expected


def test_rec_hitrate_bounded_and_beats_nothing(spark):
    """Hit rate in [0,1]; every evaluated customer counted once."""
    from hematite_spark.queries.advanced import rec_hitrate_eval

    r = rec_hitrate_eval(spark, SF_DIR).first()
    assert r.n_customers > 0
    assert 0 <= r.n_hits <= r.n_customers
    assert abs(r.hit_rate_at_3 - round(r.n_hits / r.n_customers, 6)) < 1e-9


def test_watermark_false_positive_contract(spark):
    """Unwatermarked corpus against the CALIBRATED null: no doc may
    cross the z>4 detection line and per-source mean z stays near 0
    (the calibration is the point — against the naive fair-coin null
    this corpus's lumpy 40-word vocabulary produced z>4 false
    positives)."""
    from hematite_spark.queries.text import watermark_greenlist_detect

    rows = watermark_greenlist_detect(spark, SF_DIR).collect()
    for r in rows:
        assert r.clean_corpus and r.n_detected == 0
        assert abs(r.mean_z) < 1.0


def test_canary_split_is_hygienic(spark):
    """Unique-per-doc canaries can never straddle splits; counts tile
    the corpus."""
    from hematite_spark.io import load_table
    from hematite_spark.queries.text import canary_leakage_audit

    rows = canary_leakage_audit(spark, SF_DIR).collect()
    n = load_table(spark, "documents", SF_DIR).count()
    assert sum(r.n_docs for r in rows) == n
    for r in rows:
        assert r.split_hygienic and r.n_leaked == 0


def test_raking_hits_type_margins_exactly(spark):
    """After the type pass, type margins are exact (err ≈ 0); cohort
    margins drift but stay small; weights positive."""
    from hematite_spark.queries.advanced import raking_ipf_step

    rows = raking_ipf_step(spark, SF_DIR).collect()
    assert len(rows) == 4
    for r in rows:
        assert r.max_type_margin_err < 1e-6
        assert r.max_cohort_margin_err < 0.25
        assert 0 < r.min_weight <= r.max_weight


def test_hill_alpha_positive(spark):
    """Tail index positive and the verdict consistent; k respected."""
    from hematite_spark.queries.advanced import hill_tail_index

    rows = hill_tail_index(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert r.hill_alpha > 0
        assert r.k_used <= 100
        assert r.finite_variance == (r.hill_alpha > 2.0)


def test_shapley_efficiency_axiom(spark):
    """Additivity (efficiency) must hold exactly: Σφ = v(grand)−v(∅),
    as the audit column asserts; 3 channels reported."""
    from hematite_spark.queries.advanced import shapley_attribution_3

    rows = shapley_attribution_3(spark, SF_DIR).collect()
    assert len(rows) == 3
    assert all(r.additivity_ok for r in rows)
    assert abs(sum(r.shapley for r in rows) - rows[0].total_effect) < 5e-6


def test_huber_bounds_outlier_influence(spark):
    """Down-weighted fraction in (0,1); both slopes finite; the shift
    column is the absolute difference."""
    from hematite_spark.queries.advanced import huber_irls_step

    rows = huber_irls_step(spark, SF_DIR).collect()
    assert len(rows) == 5
    for r in rows:
        assert 0.0 < r.downweighted_frac < 1.0
        assert abs(r.slope_shift - round(abs(r.slope_huber - r.slope_ols), 6)) < 2e-6


def test_covariate_balance_on_hash_split(spark):
    """A hash split of iid users must balance every covariate."""
    from hematite_spark.queries.advanced import covariate_balance_smd

    rows = covariate_balance_smd(spark, SF_DIR).collect()
    assert {r.covariate for r in rows} == {"mean_value", "n_events", "active_days"}
    for r in rows:
        assert r.balanced == (abs(r.smd) < 0.1)


def test_qte_deciles_monotone_in_quantile(spark):
    """Per-arm quantile grids must be monotone in the percentile and
    the qte column exactly their difference."""
    from hematite_spark.queries.advanced import quantile_treatment_effect

    rows = quantile_treatment_effect(spark, SF_DIR).collect()
    assert [r.percentile for r in rows] == list(range(10, 100, 10))
    for a, b in zip(rows, rows[1:]):
        assert b.control_q >= a.control_q
        assert b.treated_q >= a.treated_q
    for r in rows:
        assert abs(r.qte - round(r.treated_q - r.control_q, 6)) < 2e-6


def test_conformal_coverage_guarantee(spark):
    """Split-conformal's finite-sample guarantee: empirical coverage
    on the held-out test split ≥ 1−α−slack for every type, and q̂
    positive."""
    from hematite_spark.queries.advanced import conformal_interval_coverage

    rows = conformal_interval_coverage(spark, SF_DIR).collect()
    assert len(rows) == 5
    for r in rows:
        assert r.coverage_ok, r
        assert r.qhat > 0
        assert r.n_cal > 0 and r.n_test > 0


def test_kappa_below_raw_agreement(spark):
    """κ must discount chance: κ ≤ observed agreement, κ ∈ [-1, 1],
    band consistent with value."""
    from hematite_spark.queries.text import judge_agreement_kappa

    rows = judge_agreement_kappa(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert -1.0 <= r.kappa <= 1.0
        assert r.kappa <= r.observed_agreement + 1e-9
        want = "substantial" if r.kappa > 0.6 else "fair" if r.kappa > 0.2 else "slight"
        assert r.band == want


def test_conformance_fitness_accounting(spark):
    """Fitness = allowed transition mass / total; error transitions
    always allowed; fitness in (0,1]."""
    from hematite_spark.queries.advanced import process_conformance_audit

    rows = process_conformance_audit(spark, SF_DIR).collect()
    total = sum(r.n_observed for r in rows)
    allowed = sum(r.n_observed for r in rows if r.allowed)
    assert abs(rows[0].fitness - round(allowed / total, 6)) < 1e-9
    for r in rows:
        if "error" in (r.from_type, r.to_type):
            assert r.allowed


def test_vptree_cells_tile_and_balance(spark):
    """4 cells, populations tile the corpus, median splits keep the
    balance ratio modest (< 2)."""
    from hematite_spark.io import load_table
    from hematite_spark.queries.similarity import vptree_partition_audit

    rows = vptree_partition_audit(spark, SF_DIR).collect()
    assert len(rows) == 4
    n = load_table(spark, "embeddings", SF_DIR).count()
    assert sum(r.n_vectors for r in rows) == n
    assert rows[0].balance_ratio < 2.0
    for r in rows:
        assert r.min_d <= r.max_d


def test_mutual_information_nonneg_and_orders(spark):
    """MI ≥ 0 for every feature; the value decile (directly derived
    from nothing label-related) still ≥ the parity feature only if
    the data says so — just assert internal consistency and bounds."""
    from hematite_spark.queries.advanced import mutual_information_screen

    rows = mutual_information_screen(spark, SF_DIR).collect()
    assert {r.feature for r in rows} == {"value_decile", "hour_of_day", "day_parity"}
    for r in rows:
        assert r.mutual_info >= -1e-9
        assert 0.0 <= r.uncertainty_coef + 1e-9
        assert r.admit == (r.uncertainty_coef > 0.001)


def test_boosting_stump_reduces_sse(spark):
    """The chosen stump never increases SSE (var_explained ≥ 0) and
    its threshold is one of the candidates."""
    from hematite_spark.queries.advanced import boosting_stump_step

    rows = boosting_stump_step(spark, SF_DIR).collect()
    assert len(rows) == 5
    for r in rows:
        assert r.var_explained >= -1e-9
        assert r.split_day in {3 * i for i in range(1, 10)}


def test_prefix_cache_accounting(spark):
    """Hit rate in [0,1); distinct prefixes ≤ docs; tokens saved
    = (docs − distinct) × 8 exactly."""
    from hematite_spark.queries.text import prefix_cache_savings

    rows = prefix_cache_savings(spark, SF_DIR).collect()
    for r in rows:
        assert 0.0 <= r.cache_hit_rate < 1.0
        assert r.distinct_prefixes <= r.n_docs
        assert r.prefill_tokens_saved == (r.n_docs - r.distinct_prefixes) * 8


def test_retention_plan_tiles_log(spark):
    """Keep + expire partitions tile the observation window; expire
    ages all exceed the 20-day TTL, keep ages do not."""
    from hematite_spark.queries.advanced import retention_ttl_plan

    rows = {r.status: r for r in retention_ttl_plan(spark, SF_DIR).collect()}
    assert "keep" in rows
    assert rows["keep"].min_age_days >= 0 and rows["keep"].max_age_days <= 20
    if "expire" in rows:
        assert rows["expire"].min_age_days > 20


def test_oov_audit_consistency(spark):
    """OOV rate = n_oov/n_tokens; fallback expansion ≥ 1 only when
    OOV tokens are longer than 1 char; rates in [0,1)."""
    from hematite_spark.queries.text import vocab_oov_audit

    rows = vocab_oov_audit(spark, SF_DIR).collect()
    for r in rows:
        assert abs(r.oov_rate - round(r.n_oov / r.n_tokens, 6)) < 1e-9
        assert 0.0 <= r.oov_rate < 1.0
        assert r.fallback_expansion >= 1.0 or r.n_oov == 0


def test_margin_sample_budget(spark):
    """Label share in [0,1]; counts consistent; mean margin
    non-negative."""
    from hematite_spark.queries.text import uncertainty_margin_sample

    rows = uncertainty_margin_sample(spark, SF_DIR).collect()
    for r in rows:
        assert 0.0 <= r.label_share <= 1.0
        assert abs(r.label_share - round(r.n_to_label / r.n_docs, 6)) < 1e-9
        assert r.mean_margin >= 0.0


def test_durbin_watson_range_and_verdict(spark):
    """DW lives in [0,4]; verdict bands agree with the statistic."""
    from hematite_spark.queries.advanced import durbin_watson_audit

    rows = durbin_watson_audit(spark, SF_DIR).collect()
    assert len(rows) == 5
    for r in rows:
        assert 0.0 <= r.dw <= 4.0
        want = (
            "positive_autocorr" if r.dw < 1.5
            else "negative_autocorr" if r.dw > 2.5
            else "independent"
        )
        assert r.verdict == want


def test_triangle_clustering_coeff_bounded(spark, tmp_path):
    """A lone triangle has transitivity exactly 1.0 (3 wedges from
    Σ C(deg,2), 1 triangle) — regression pin for the round-6 wedge
    undercount that counted only middle-id-centered wedges and
    inflated the coefficient ~3× (a lone triangle scored 3.0)."""
    import pandas as pd

    from hematite_spark.queries.advanced import graph_triangle_count

    rows = [
        {"l_orderkey": ok, "l_partkey": p}
        for ok in (1, 2)
        for p in (10, 20, 30)
    ]
    pd.DataFrame(rows).to_parquet(tmp_path / "lineitem.parquet")
    r = graph_triangle_count(spark, str(tmp_path)).collect()[0]
    assert (r.n_edges, r.n_wedges, r.n_triangles) == (3, 3, 1)
    assert r.clustering_coeff == 1.0


def test_triangle_empty_graph_zero_not_null(spark, tmp_path):
    """An edgeless graph (no part pair co-occurs in >=2 orders) keeps
    n_wedges=0 and clustering_coeff=0.0 — the coalesce added in round
    8 (ADVICE r7) after F.sum over the empty deg table silently turned
    both columns NULL/nullable."""
    import pandas as pd

    from hematite_spark.queries.advanced import graph_triangle_count

    rows = [{"l_orderkey": ok, "l_partkey": ok * 10} for ok in (1, 2, 3)]
    pd.DataFrame(rows).to_parquet(tmp_path / "lineitem.parquet")
    r = graph_triangle_count(spark, str(tmp_path)).collect()[0]
    assert (r.n_edges, r.n_wedges, r.n_triangles) == (0, 0, 0)
    assert r.clustering_coeff == 0.0


def test_triangle_degree_oriented_hub(spark, tmp_path):
    """Round-9 degree-orientation pin: a hub (part 1 in every order)
    plus one rim edge. The (deg,id) total order must open the
    triangle's wedge at its LOWEST-degree corner and close it with
    the consistently-oriented rim edge — an orientation mismatch
    between wedge ordering and edge direction double-counts or
    drops triangles. Graph: edges {1-10, 1-20, 1-30, 10-20} (each
    supported by 2 orders), degrees 3/2/2/1 → 4 edges, 5 wedges,
    1 triangle, transitivity 0.6."""
    import pandas as pd

    from hematite_spark.queries.advanced import graph_triangle_count

    rows = []
    for ok in (1, 2):  # two identical orders → support 2 everywhere
        for p in (1, 10, 20):
            rows.append({"l_orderkey": ok, "l_partkey": p})
    for ok in (3, 4):  # parts 1 and 30 co-occur twice
        for p in (1, 30):
            rows.append({"l_orderkey": ok, "l_partkey": p})
    pd.DataFrame(rows).to_parquet(tmp_path / "lineitem.parquet")
    r = graph_triangle_count(spark, str(tmp_path)).collect()[0]
    assert (r.n_edges, r.n_wedges, r.n_triangles) == (4, 5, 1)
    assert r.clustering_coeff == 0.6


def test_quantile_bins_distributed_ntile_uneven(spark, tmp_path):
    """Round-9 pin for the distributed exact-ntile rewrite: the
    closed-form bucket formula over (range-partition offset + local
    row_number) must reproduce true ntile semantics when n is not a
    multiple of the bucket count — the first n%10 buckets take
    ⌈n/10⌉ rows — and degenerate to one-row buckets when n < 10.
    13 rows → sizes (2,2,2,1,1,1,1,1,1,1) with the 2-row buckets on
    the LOWEST prices; 7 rows → buckets 1..7 of one row each."""
    import pandas as pd

    from hematite_spark.queries.advanced import quantile_bins_price

    def build(n):
        pd.DataFrame(
            {
                "l_extendedprice": [float(100 + i) for i in range(n)],
                "l_orderkey": list(range(n)),
                "l_linenumber": [1] * n,
            }
        ).to_parquet(tmp_path / "lineitem.parquet")
        return {
            r.bin: (r.n_rows, r.lo, r.hi)
            for r in quantile_bins_price(spark, str(tmp_path)).collect()
        }

    bins13 = build(13)
    assert [bins13[b][0] for b in range(1, 11)] == [2, 2, 2, 1, 1, 1, 1, 1, 1, 1]
    assert bins13[1][1:] == (100.0, 101.0) and bins13[10][1:] == (112.0, 112.0)
    bins7 = build(7)
    assert sorted(bins7) == [1, 2, 3, 4, 5, 6, 7]
    assert all(bins7[b][0] == 1 for b in bins7)


def test_capture_recapture_drops_short_docs(spark, tmp_path):
    """Docs with <3 normalized tokens emit no shingles in EITHER
    engine (concat_ws skips NULLs, so an ungated Spark transform
    would fabricate 1-/2-token shingles the DuckDB twin drops as
    NULL) — parity asserted on a corpus built to trip the old bug."""
    import duckdb
    import pandas as pd

    from hematite_spark.oracle import compare
    from hematite_spark.queries.text import (
        CAPTURE_RECAPTURE_SQL,
        capture_recapture_vocab,
    )

    docs = pd.DataFrame(
        {
            "doc_id": [1, 2, 3, 4],
            "text": [
                "alpha beta gamma delta",
                "tiny",
                "two words",
                "alpha beta gamma",
            ],
            "lang": ["en"] * 4,
            "source": ["src0", "src1", "src11", "src12"],
            "n_chars": [22, 4, 9, 16],
        }
    )
    docs.to_parquet(tmp_path / "documents.parquet")
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{tmp_path}/documents.parquet'"
    )
    df = capture_recapture_vocab(spark, str(tmp_path))
    assert compare(df, con, CAPTURE_RECAPTURE_SQL) is None
    r = df.collect()[0]
    # capture A (src0) holds 2 shingles of doc 1; capture B (src12)
    # holds doc 4's single shingle, which overlaps A; the 1- and
    # 2-token docs contribute nothing.
    assert (r.n_a, r.n_b, r.overlap) == (2, 1, 1)


def test_rec_hitrate_sql_caps_interpolated_from_constants():
    """ADVICE r9: the oracle SQL's train-history and top-M caps are
    f-string-interpolated from the same constants the DataFrame path
    uses, so changing either constant cannot silently diverge the two
    engines."""
    from hematite_spark.queries import recsys

    assert f"rn <= {1 + recsys._REC_TRAIN_CAP}" in recsys.REC_HITRATE_SQL
    assert f"nbr_rank <= {recsys._REC_TOP_M}" in recsys.REC_HITRATE_SQL


def test_simhash_wide_banding_identical_output(spark, monkeypatch):
    """The 2×16-bit multiprobe banding (corpus-adaptive path for large
    inputs) must emit EXACTLY the stock 4×8 equality banding's pairs:
    recall is pigeonhole-exact both ways and the hamming-≤3 verify is
    band-scheme-independent."""
    from hematite_spark.queries import dedup

    stock = dedup.dedup_simhash_band(spark, SF_DIR).collect()
    monkeypatch.setattr(dedup, "_SIMHASH_WIDE_DOCS", -1)  # force wide
    wide = dedup.dedup_simhash_band(spark, SF_DIR).collect()
    assert sorted(map(tuple, stock)) == sorted(map(tuple, wide))
    assert len(stock) > 0  # fixture has near-dup docs


def test_simhash64_tier_matches_allpairs_oracle(spark, duck, monkeypatch):
    """The 64-bit sketch tier (round 12 — the ×256 probe measured the
    2×16 multiprobe banding at a 2.37 doubling by 1.5M docs; any
    banding of a fixed 32-bit sketch saturates by birthday collision)
    must match a band-scheme-INDEPENDENT all-pairs DuckDB oracle over
    the same 64-bit sketch: the 20 Manku block tables have exact
    recall for hamming ≤ 3, so all-pairs and banded sets are equal by
    construction — any divergence is a sketch or banding bug."""
    from hematite_spark.oracle import compare as _compare
    from hematite_spark.queries import dedup

    monkeypatch.setattr(dedup, "_SIMHASH64_DOCS", -1)  # force the 64-bit tier
    df = dedup.dedup_simhash_band(spark, SF_DIR)
    mismatch = _compare(df, duck, dedup.DEDUP_SIMHASH64_ORACLE_SQL)
    assert not mismatch, mismatch
    assert df.count() > 0  # fixture still has hamming<=3-of-64 near-dups


def test_minhash_wide_lanes_match_rederived_oracle(spark, duck, monkeypatch):
    """The 32-bit seed-keyed minhash lanes (corpus-adaptive path for
    large inputs — VERDICT r10 item 2: fixed 16-bit lanes let
    accidental band collisions grow n²·(m/2^16)²) must match the
    DuckDB oracle re-derived with the SAME wide-lane aggregates,
    value-for-value, for EVERY catalog entry whose plan rides
    _minhash_signatures (ADVICE r11 medium: the adaptive switch flips
    all consumers at once, so covering only two left the other
    thirteen unverified above kick-in). The entry set is discovered
    from the committed oracles themselves — any future consumer whose
    oracle embeds the stock aggregates is picked up automatically —
    and pinned to a floor so a refactor that silently drops the
    aggregates from the oracles cannot hollow the test out.
    minhash_bbit_estimate's b-bit lanes deliberately DON'T widen
    (width-specific by definition); its oracle keeps them in a
    textually distinct `bsigs` CTE the swap cannot touch, so it
    belongs in this loop like everyone else."""
    import __spark_entry__ as entrymod
    from hematite_spark.oracle import compare as _compare
    from hematite_spark.queries import dedup

    oracles = entrymod.oracle_sql()
    consumers = sorted(k for k, v in oracles.items() if dedup._MINHASH_AGGS in v)
    assert len(consumers) >= 15, f"adaptive-minhash consumer set shrank: {consumers}"
    monkeypatch.setattr(dedup, "_MINHASH_WIDE_DOCS", -1)  # force wide lanes
    for name in consumers:
        sql = oracles[name]
        wide_sql = sql.replace(dedup._MINHASH_AGGS, dedup._MINHASH_AGGS_WIDE)
        assert wide_sql != sql  # the aggs swap must actually hit
        mismatch = _compare(QUERIES[name](spark, SF_DIR), duck, wide_sql)
        assert not mismatch, f"{name}: {mismatch}"


def test_minhash_stock_lanes_below_kickin(spark, sf_dir_arg=None):
    """Below the kick-in the signature plan must be the stock
    single-md5 16-bit slicing — the driver's sf0.01 gate and the
    bench's sf0.1 runs stay byte-identical to rounds ≤ 10."""
    from hematite_spark.queries import dedup

    assert not dedup._minhash_wide(SF_DIR)
    stock = dedup._minhash_sigs_from(dedup._shingles_df(spark, SF_DIR), False)
    auto = dedup._minhash_signatures(spark, SF_DIR)
    import re

    plan = lambda df: re.sub(
        r"#\d+", "#", df._jdf.queryExecution().optimizedPlan().toString()
    )
    assert plan(auto) == plan(stock)  # identical stock plan (mod expr ids)


def test_cand_broadcast_gate_fallback(spark, duck, monkeypatch):
    """VERDICT r11 item 4: the candidate-doc semi-filter broadcasts
    are size-gated. Force the gate shut (_CAND_BC_MAX_PAIRS = -1) and
    require (a) no broadcast hint survives into the logical plan —
    an adversarial dup-mass corpus can no longer materialize an
    unbounded distinct on the driver — and (b) the shuffled-semi-join
    fallback still matches the oracle value-for-value."""
    from hematite_spark.oracle import compare as _compare
    from hematite_spark.queries import dedup

    hints = lambda df: df._jdf.queryExecution().analyzed().toString().count(  # noqa: E731
        "ResolvedHint"
    )
    # the gate lives in ONE place — check it at the source: the
    # semi-filter hints of _cand_bounded_truth (each filtered side
    # appears twice in the plan: sizes + pair join → 4 hints) must
    # vanish when the gate shuts
    cand, hint = dedup._cand_checkpoint(
        dedup.lsh_candidate_pairs(spark, SF_DIR).select("doc_a", "doc_b")
    )
    sh = dedup._shingles_df(spark, SF_DIR).localCheckpoint()
    assert hints(dedup._cand_bounded_truth(sh, cand, SF_DIR, hint)) == 4
    # whole-entry hint counts with the gate OPEN (lsh_band_auc is
    # omitted here: its truth side hides behind the eager dist
    # localCheckpoint, so the final plan shows only its two O(4)-row
    # dist-frame broadcasts either way — the helper check above and
    # the oracle compare below are its coverage)
    cases = (
        (dedup.dedup_lsh_verified, dedup.DEDUP_LSH_VERIFIED_SQL, 4),
        (dedup.minhash_jaccard_audit, dedup.MINHASH_AUDIT_SQL, 4),
        (dedup.minhash_bbit_estimate, dedup.MINHASH_BBIT_SQL, 6),
    )
    for fn, _sql, n_open in cases:
        assert hints(fn(spark, SF_DIR)) == n_open, f"{fn.__name__}: gate open but no hint"
    monkeypatch.setattr(dedup, "_CAND_BC_MAX_PAIRS", -1)  # force fallback
    _, hint = dedup._cand_checkpoint(cand)
    assert hints(dedup._cand_bounded_truth(sh, cand, SF_DIR, hint)) == 0
    for fn, sql, _n_open in cases + ((dedup.lsh_band_auc, dedup.LSH_AUC_SQL, None),):
        df = fn(spark, SF_DIR)
        if _n_open is not None:
            assert hints(df) == 0, f"{fn.__name__}: broadcast hint survived the gate"
        mismatch = _compare(df, duck, sql)
        assert not mismatch, f"{fn.__name__}: {mismatch}"


def test_semantic_dedup_adaptive_k_matches_oracle(spark, duck, monkeypatch):
    """dedup_semantic's coarse-cluster count k = max(8, n // cell) is
    corpus-adaptive (round 10 — fixed k=8 made the in-cell GEMM a
    workload quadratic at replica scale). Force the adaptive branch
    (cell target below n) and require the DuckDB oracle, re-derived
    with the same cell target, to match value-for-value."""
    from hematite_spark.oracle import compare
    from hematite_spark.queries import dedup

    monkeypatch.setattr(dedup, "_SEM_TARGET_CELL", 20)  # n=200 at sf0.001 -> k=10
    monkeypatch.setattr(dedup, "_SEM_GEMM_MIN_VECS", 0)  # force the numpy path
    df = dedup.dedup_semantic(spark, SF_DIR)
    sql = dedup.DEDUP_SEMANTIC_SQL.replace(
        f"// {250}", f"// {dedup._SEM_TARGET_CELL}"
    )
    assert sql != dedup.DEDUP_SEMANTIC_SQL
    mismatch = compare(df, duck, sql)
    assert not mismatch, mismatch


def test_semantic_dedup_routed_assignment_matches_oracle(spark, duck, monkeypatch):
    """The two-level routed assignment (VERDICT r10 item 1 — the flat
    n×k argmin is quadratic once k ∝ n) must match the DuckDB oracle
    re-derived with the SAME routing rule: force the numpy path AND
    the route kick-in so s = ceil(sqrt(k)) = 4 super-cells partition
    the k = 10 centroids, and require value-for-value equality."""
    from hematite_spark.oracle import compare
    from hematite_spark.queries import dedup

    monkeypatch.setattr(dedup, "_SEM_TARGET_CELL", 20)  # n=200 -> k=10
    monkeypatch.setattr(dedup, "_SEM_GEMM_MIN_VECS", 0)  # force the numpy path
    monkeypatch.setattr(dedup, "_SEM_ROUTE_MIN_VECS", 0)  # force routing: s=4
    df = dedup.dedup_semantic(spark, SF_DIR)
    sql = (
        dedup.DEDUP_SEMANTIC_SQL.replace(f"// {250}", f"// {dedup._SEM_TARGET_CELL}")
        .replace(f"> {16_000}", f"> {dedup._SEM_ROUTE_MIN_VECS}")
    )
    assert f"> {dedup._SEM_ROUTE_MIN_VECS}" in sql and sql != dedup.DEDUP_SEMANTIC_SQL
    mismatch = compare(df, duck, sql)
    assert not mismatch, mismatch
