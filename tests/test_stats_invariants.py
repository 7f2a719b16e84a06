"""Invariants for the round-6 statistical screens: bounds and
definitional identities that hold on ANY input.  Value parity vs
DuckDB is the driver contract's job — all of these are fully oracled.
"""
from __future__ import annotations

import math

from causality_between_elements_based_on_time_series_data_spark.plans.queries_causality import (
    anova_oneway_value_by_type,
    ks_two_sample_test,
    poisson_rate_change,
)
from causality_between_elements_based_on_time_series_data_spark.plans.queries_llm import (
    ann_recall_audit,
    rag_retrieval_eval,
)


def test_anova_f_nonnegative_and_df_consistent(spark, sf_dir):
    r = anova_oneway_value_by_type(spark, sf_dir).collect()[0]
    assert r.n_groups >= 2
    assert r.n_obs > r.n_groups
    assert r.ms_between >= 0 and r.ms_within > 0
    assert r.f_stat >= 0
    assert abs(r.f_stat - r.ms_between / r.ms_within) < 0.01


def test_ks_stat_is_a_probability_gap(spark, sf_dir):
    r = ks_two_sample_test(spark, sf_dir).collect()[0]
    assert 0.0 <= r.ks_stat <= 1.0
    assert r.n_a > 0 and r.n_b > 0
    assert r.ks_over_crit_5pct >= 0


def test_poisson_rates_reconstruct_counts(spark, sf_dir):
    rows = poisson_rate_change(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.n_pre >= 0 and r.n_post >= 0
        assert r.rate_pre_per_h >= 0 and r.rate_post_per_h >= 0
        assert math.isfinite(r.z_stat)
        # direction of z agrees with direction of the rate change
        if r.rate_post_per_h > r.rate_pre_per_h:
            assert r.z_stat > 0
        elif r.rate_post_per_h < r.rate_pre_per_h:
            assert r.z_stat < 0


def test_retrieval_metrics_bounded(spark, sf_dir):
    r = ann_recall_audit(spark, sf_dir).collect()[0]
    assert 0.0 <= r.recall_at_3 <= 1.0
    assert 0.0 <= r.top1_agreement <= 1.0
    g = rag_retrieval_eval(spark, sf_dir).collect()[0]
    assert 0.0 <= g.hit_at_1 <= g.hit_at_3 <= 1.0
    # MRR@3 is bounded by hit@3 (each hit contributes at most 1/1)
    # and at least hit@3 / 3 (worst rank)
    assert g.hit_at_3 / 3 - 1e-9 <= g.mrr_at_3 <= g.hit_at_3 + 1e-9


def test_det_expr_matches_numpy():
    import numpy as np

    from causality_between_elements_based_on_time_series_data_spark.plans.queries_causality import (
        _DET2_RESTR,
        _DET3_REGS,
        _DET3_RESTR,
        _DET4_FULL,
    )

    rng = np.random.RandomState(7)
    for _ in range(25):
        a, b, c, d, e, f = rng.uniform(-0.6, 0.6, 6)
        env = {"a": a, "b": b, "c": c, "d": d, "e": e, "f": f}
        m4 = np.array(
            [[1, a, b, c], [a, 1, d, e], [b, d, 1, f], [c, e, f, 1]]
        )
        m3 = np.array([[1, d, e], [d, 1, f], [e, f, 1]])
        m3r = np.array([[1, a, c], [a, 1, e], [c, e, 1]])
        assert abs(eval(_DET4_FULL, {}, env) - np.linalg.det(m4)) < 1e-10
        assert abs(eval(_DET3_REGS, {}, env) - np.linalg.det(m3)) < 1e-10
        assert abs(eval(_DET3_RESTR, {}, env) - np.linalg.det(m3r)) < 1e-10
        assert abs(eval(_DET2_RESTR, {}, env) - (1 - e * e)) < 1e-12


def test_conditional_granger_bounded_by_marginal(spark, sf_dir):
    from causality_between_elements_based_on_time_series_data_spark.plans.queries_causality import (
        conditional_granger_screen,
    )

    rows = conditional_granger_screen(spark, sf_dir).collect()
    # the sf0.001 grid can be too sparse for any triple to clear the
    # n>=12 / non-collinear guards — an empty screen is correct there
    for r in rows:
        assert r.robust_edge in (0, 1)
        assert r.robust_edge == int(r.min_f_stat > 6.63)
        assert r.n_conditions >= 1


def test_aipw_outcome_models_match_numpy_lstsq(spark, sf_dir):
    """The AIPW per-arm OLS outcome models use the same adjugate SQL
    text on both engines (shared-text oracle) — this pins the math
    against numpy.linalg.lstsq on the identical design, independently
    of either engine's formula."""
    import numpy as np
    import pytest
    from pyspark.sql import functions as F

    from causality_between_elements_based_on_time_series_data_spark.plans.queries_causality import (
        aipw_doubly_robust_effect,
    )
    from causality_between_elements_based_on_time_series_data_spark.sources.catalog import (
        load_table,
    )

    ev = load_table(spark, sf_dir, "events")
    feat = (
        ev.groupBy("user_id", F.date_trunc("day", "ts").alias("day"))
        .agg(
            F.round(
                F.log(
                    1
                    + F.sum(
                        F.when(F.col("event_type") == "view", 1).otherwise(0)
                    )
                ),
                6,
            ).alias("f1"),
            F.round(
                F.coalesce(
                    F.avg(
                        F.when(F.col("event_type") == "view", F.col("value"))
                    ),
                    F.lit(0.0),
                ),
                6,
            ).alias("f2"),
            F.max(F.when(F.col("event_type") == "click", 1).otherwise(0))
            .cast("int")
            .alias("y"),
            F.coalesce(
                F.sum(
                    F.when(F.col("event_type") == "purchase", F.col("value"))
                ),
                F.lit(0.0),
            ).alias("o"),
        )
        .collect()
    )
    X = np.array([[1.0, r.f1, r.f2] for r in feat])
    o = np.array([r.o for r in feat])
    y = np.array([r.y for r in feat])
    b1, *_ = np.linalg.lstsq(X[y == 1], o[y == 1], rcond=None)
    b0, *_ = np.linalg.lstsq(X[y == 0], o[y == 0], rcond=None)
    np_outcome_ate = float(np.mean(X @ b1 - X @ b0))

    q = aipw_doubly_robust_effect(spark, sf_dir).first()
    assert q.outcome_model_ate == pytest.approx(np_outcome_ate, abs=5e-3)


def test_msprt_lambda_matches_numpy_replay(spark, sf_dir):
    """The mSPRT likelihood-ratio formula is shared SQL text between
    engines — replay the whole statistic stream in pure numpy from
    the raw user-day observations and pin the final day's log-Lambda
    and the always-valid p."""
    import math

    import numpy as np
    import pytest
    from pyspark.sql import functions as F

    from causality_between_elements_based_on_time_series_data_spark.plans.queries_causality import (
        msprt_always_valid_test,
    )
    from causality_between_elements_based_on_time_series_data_spark.sources.catalog import (
        load_table,
    )

    ev = load_table(spark, sf_dir, "events")
    obs = (
        ev.groupBy(
            (F.col("user_id") % 2).cast("int").alias("arm"),
            "user_id",
            F.date_trunc("day", "ts").alias("day"),
        )
        .agg(F.round(F.sum("value"), 6).alias("x"))
        .collect()
    )
    days = sorted({r.day for r in obs})
    tau2 = 1e4
    lambdas = {}
    for d in days:
        a = np.array([r.x for r in obs if r.arm == 1 and r.day <= d])
        b = np.array([r.x for r in obs if r.arm == 0 and r.day <= d])
        if len(a) < 2 or len(b) < 2:
            continue
        na, nb = len(a), len(b)
        delta = a.mean() - b.mean()
        ssa = ((a - a.mean()) ** 2).sum()
        ssb = ((b - b.mean()) ** 2).sum()
        vn = max((ssa + ssb) / (na + nb - 2), 1e-12) * (1 / na + 1 / nb)
        lam = math.sqrt(vn / (vn + tau2)) * math.exp(
            min(delta * delta * tau2 / (2 * vn * (vn + tau2)), 50.0)
        )
        lambdas[d] = lam
    assert lambdas, "fixture too small for the mSPRT stream"
    running = []
    mx = 0.0
    for d in sorted(lambdas):
        mx = max(mx, lambdas[d])
        running.append((d, lambdas[d], min(1.0, 1.0 / mx)))

    rows = sorted(
        msprt_always_valid_test(spark, sf_dir).collect(), key=lambda r: r.day
    )
    assert len(rows) == len(running)
    last_q, (last_d, last_lam, last_p) = rows[-1], running[-1]
    assert last_q.day == last_d
    assert last_q.log_lambda == pytest.approx(math.log(last_lam), abs=1e-3)
    assert last_q.always_valid_p == pytest.approx(last_p, abs=1e-3)


def test_dsir_ess_bounds(spark, sf_dir):
    """ESS is at most n (equality iff uniform weights) and at least 1
    (one doc holds the max-normalized weight 1000 per language)."""
    from causality_between_elements_based_on_time_series_data_spark.plans.queries_llm import (
        dsir_effective_sample_size,
    )

    rows = dsir_effective_sample_size(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 1.0 <= r.ess_docs <= r.n_docs + 1e-6, r
        assert 0.0 < r.ess_frac <= 1.0 + 1e-9, r
        # the max-normalized weight 1000 is always present
        assert r.weight_mass_milli >= 1000, r


def test_contrastive_labels_partition_the_jaccard_range(spark, sf_dir):
    """Positives pool to >= 0.8 Jaccard, hard negatives to < 0.5 —
    the pooled statistic must respect its own label cut."""
    from causality_between_elements_based_on_time_series_data_spark.plans.queries_llm import (
        contrastive_pair_mining,
    )

    rows = contrastive_pair_mining(spark, sf_dir).collect()
    labels = {r.label for r in rows}
    assert labels <= {"positive", "hard_negative"}
    for r in rows:
        assert r.n_pairs > 0
        if r.label == "positive":
            assert r.pooled_jaccard >= 0.8 - 1e-9, r
        else:
            # pooled over pairs each < 0.5 stays < 0.5
            assert r.pooled_jaccard < 0.5, r


def test_contamination_matrix_is_canonicalized(spark, sf_dir):
    """Source pairs are unordered-canonical (lo <= hi) and every cell
    counts at least one verified pair."""
    from causality_between_elements_based_on_time_series_data_spark.plans.queries_llm import (
        cross_source_contamination_matrix,
    )

    rows = cross_source_contamination_matrix(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.src_lo <= r.src_hi, r
        assert r.n_pairs > 0, r


def test_sq8_adc_topk_is_ranked_and_nonnegative(spark, sf_dir):
    """ADC is a sum of squares (>= 0) and ranks are contiguous and
    distance-monotone per query."""
    from causality_between_elements_based_on_time_series_data_spark.plans.queries_llm import (
        ann_sq8_ivf_topk,
    )

    rows = ann_sq8_ivf_topk(spark, sf_dir).collect()
    assert rows
    byq = {}
    for r in rows:
        assert r.adc_nano >= 0, r
        byq.setdefault(r.qid, []).append((r.rn, r.adc_nano))
    for q, rs in byq.items():
        rs.sort()
        assert [rn for rn, _ in rs] == list(range(1, len(rs) + 1)), (q, rs)
        assert all(
            rs[i][1] <= rs[i + 1][1] for i in range(len(rs) - 1)
        ), (q, rs)


def test_sq8_quantizer_edges(spark):
    """The SQ8 kernel on a hand-built corpus: a constant dimension
    (mx == mn) codes to 0 and adds nothing to the round-trip SSE, a
    dimension's maximum codes to 255, and ``_sq8_ranges`` keeps
    mns/mxs aligned by dimension however the rows are partitioned.
    Dimension 0 is constant 0.5; dimension k >= 1 takes the values
    k + 0.25 * (i % 4), which round-trip exactly (codes 0, 85, 170,
    255), so every row's SSE must be exactly 0."""
    from pyspark.sql import functions as F

    from causality_between_elements_based_on_time_series_data_spark.plans.queries_llm import (
        _RP_DIM,
        _sq8_code_from_ranges,
        _sq8_ranges,
        _sq8_roundtrip_sse,
    )

    rows = [
        (i, i // 8, [0.5] + [k + 0.25 * (i % 4) for k in range(1, _RP_DIM)])
        for i in range(16)
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, cl long, embedding array<float>"
    ).repartition(8)
    mns = [0.5] + [float(k) for k in range(1, _RP_DIM)]
    mxs = [0.5] + [k + 0.75 for k in range(1, _RP_DIM)]
    (g,) = _sq8_ranges(df).collect()
    assert (list(g.mns), list(g.mxs)) == (mns, mxs)
    for r in _sq8_ranges(df, "cl").collect():
        assert (list(r.mns), list(r.mxs)) == (mns, mxs), r.cl
    out = (
        df.crossJoin(F.broadcast(_sq8_ranges(df)))
        .select(
            "vec_id",
            _sq8_code_from_ranges().alias("codes"),
            _sq8_roundtrip_sse().alias("sse"),
        )
        .collect()
    )
    assert len(out) == 16
    for r in out:
        assert r.codes == [0] + [85 * (r.vec_id % 4)] * (_RP_DIM - 1), r
        assert r.sse == 0, r


def test_sq8_recall_audit_floor(spark, sf_dir):
    """Rollout-gate floor (VERDICT r12 #2): the quantized tier must
    keep recall@3 / top-1 agreement vs the exact-L2 baseline above
    the fixture floor (measured 0.8 / 0.6 after the multi-probe fix
    this audit forced — single-probe sat at the 0.07 pruning
    ceiling), recall can never exceed the list ceiling, and the
    ceiling-to-recall gap (pure quantization loss) stays small
    (measured zero on the fixture)."""
    from causality_between_elements_based_on_time_series_data_spark.plans.queries_llm import (
        sq8_recall_audit,
    )

    row = sq8_recall_audit(spark, sf_dir).collect()[0]
    assert row.n_queries > 0
    assert row.recall_at_3 >= 0.4, row
    assert row.top1_agreement >= 0.3, row
    assert row.recall_at_3 <= row.list_recall_ceiling + 1e-9, row
    assert row.list_recall_ceiling - row.recall_at_3 <= 0.2, row


def test_sq8_cluster_ranges_reduce_error(spark, sf_dir):
    """Per-cluster [min,max] ranges must reduce reconstruction MSE vs
    the global ranges for EVERY label (measured ~40% on the fixture;
    assert strict improvement and a conservative 10% floor on the
    corpus-wide aggregate)."""
    from causality_between_elements_based_on_time_series_data_spark.plans.queries_llm import (
        sq8_cluster_range_refinement,
    )

    rows = sq8_cluster_range_refinement(spark, sf_dir).collect()
    assert rows
    for r in rows:
        # <= per label: a label whose clusters span the full global
        # per-dim ranges legitimately improves by exactly zero — the
        # strict 10% floor lives on the corpus-wide aggregate only
        # (ADVICE r13: a fixture regen must not fail this without a
        # code defect)
        assert r.mse_cluster <= r.mse_global, r
        assert r.improvement_pct >= 0, r
    total_g = sum(r.mse_global * r.n_vecs for r in rows)
    total_c = sum(r.mse_cluster * r.n_vecs for r in rows)
    assert total_c < 0.9 * total_g, (total_c, total_g)


def test_sq8pc_recall_holds_the_ceiling(spark, sf_dir):
    """Adoption criterion for per-cluster ranges (round 13): recall
    must sit AT the list ceiling (zero quantization loss) — the error
    side of the pair is test_sq8_cluster_ranges_reduce_error."""
    from causality_between_elements_based_on_time_series_data_spark.plans.queries_llm import (
        sq8pc_recall_audit,
    )

    row = sq8pc_recall_audit(spark, sf_dir).collect()[0]
    assert row.recall_at_3 >= 0.4, row
    assert row.recall_at_3 <= row.list_recall_ceiling + 1e-9, row
    assert row.list_recall_ceiling - row.recall_at_3 <= 0.2, row


def test_ann_fold_heals_stale_range_damage(spark, sf_dir):
    """ann_index_segment_lifecycle: segment vectors quantized against
    the stale v1 ranges must show (a) real drift — at least one
    clamped vector per label on the fixture — and (b) the fold
    restoring segment reconstruction error to the refreshed-range
    level (measured ~100x better than the stale-range live path;
    gate at a conservative strict inequality per label)."""
    from causality_between_elements_based_on_time_series_data_spark.plans.queries_llm import (
        ann_index_segment_lifecycle,
    )

    rows = ann_index_segment_lifecycle(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.n_segments == 4, r
        assert r.n_index_vecs > 0 and r.n_segment_vecs > 0, r
        assert r.n_oob_segment >= 1, r
        assert r.mse_folded_segment < r.mse_live_segment, r


def test_subsplit_tier_is_bit_identical_and_rebalances(spark, sf_dir):
    """ann_sq8pc_subsplit_topk: fanning probes to both children of a
    split list makes the candidate set — and therefore recall — equal
    BY IDENTITY to the unsplit tier (gate the equality, not a recall
    audit), while ivf_subsplit_skew_report must show the actuator
    actually rebalancing: at least one list split, max child occupancy
    strictly below max parent occupancy, and the posting mass above
    the (fixed, before-mean) threshold strictly reduced."""
    from causality_between_elements_based_on_time_series_data_spark.plans.queries_llm import (
        ann_sq8pc_ivf_topk,
        ann_sq8pc_subsplit_topk,
        ivf_subsplit_skew_report,
    )

    a = sorted(map(tuple, ann_sq8pc_ivf_topk(spark, sf_dir).collect()))
    b = sorted(map(tuple, ann_sq8pc_subsplit_topk(spark, sf_dir).collect()))
    assert a == b and len(a) > 0

    r = ivf_subsplit_skew_report(spark, sf_dir).collect()[0]
    assert r.n_split >= 1, r
    assert r.n_lists_after > r.n_lists_before, r
    assert r.max_occ_after < r.max_occ_before, r
    assert r.over_mass_after < r.split_mass, r


def test_segmented_probe_ranking_survives_stale_ranges(spark, sf_dir):
    """ann_sq8pc_segmented_probe vs the monolithic persisted tier:
    segment codes carry stale v1 ranges (measured ~100x the folded
    reconstruction error in ann_index_segment_lifecycle), but the
    RANKING damage must stay small — measured top-1 agreement 5/5 at
    sf0.001 and 19/20 at sf0.1, top-3 overlap 1.0 / 0.95; gate at a
    conservative 0.8 floor on both.  This is the precision half of
    the fold decision: the lifecycle's error report says WHEN ranges
    drifted, this pins that between folds the probe still answers."""
    from causality_between_elements_based_on_time_series_data_spark.plans.queries_llm import (
        ann_sq8pc_persisted_topk,
        ann_sq8pc_segmented_probe,
    )

    mono3: dict = {}
    mono1: dict = {}
    for r in ann_sq8pc_persisted_topk(spark, sf_dir).collect():
        mono3.setdefault(r.qid, set()).add(r.nid)
        if r.rn == 1:
            mono1[r.qid] = r.nid
    seg3: dict = {}
    seg1: dict = {}
    for r in ann_sq8pc_segmented_probe(spark, sf_dir).collect():
        seg3.setdefault(r.qid, set()).add(r.nid)
        if r.rn == 1:
            seg1[r.qid] = r.nid
    qs = sorted(set(mono1) & set(seg1))
    assert qs
    top1 = sum(1 for q in qs if mono1[q] == seg1[q]) / len(qs)
    top3 = sum(len(mono3[q] & seg3[q]) for q in qs) / (3.0 * len(qs))
    assert top1 >= 0.8, (top1, qs)
    assert top3 >= 0.8, top3


def test_seg_recall_audit_floor_and_decomposition(spark, sf_dir):
    """ann_seg_recall_audit (round 15): the between-folds read path's
    user-facing gate — recall@3 of the v1+K-segments answer vs the
    exact L2 baseline can never exceed the v1 list ceiling, the
    staleness decomposition must reconcile, and stale ranges must not
    eat rankings (measured quant_stale_loss = 0.0 at sf0.01 AND
    sf0.1: recall sits exactly on the pruning ceiling — gate at a
    conservative 0.05)."""
    from causality_between_elements_based_on_time_series_data_spark.plans.queries_llm import (
        ann_seg_recall_audit,
    )

    r = ann_seg_recall_audit(spark, sf_dir).collect()[0]
    assert r.n_queries >= 5
    assert r.recall_at_3 <= r.list_recall_ceiling + 1e-9, r
    assert (
        abs(r.quant_stale_loss - (r.list_recall_ceiling - r.recall_at_3))
        <= 2e-4
    ), r
    assert r.recall_at_3 >= 0.5, r  # fixture floor (0.5333 measured)
    assert r.quant_stale_loss <= 0.05, r


def test_fold_policy_report_consistency(spark, sf_dir):
    """ann_fold_policy_report (round 15): the verdict's inputs must
    reconcile with the lifecycle audit's own accounting (same
    persisted artifacts, same oob rule), read-amp must be K+1, and at
    the LSM budget (K = _LSM_FOLD_K segments) the verdict is
    deterministically fold=true with the budget reason."""
    from causality_between_elements_based_on_time_series_data_spark.plans.queries_llm import (
        _LSM_FOLD_K,
        ann_fold_policy_report,
        ann_index_segment_lifecycle,
    )

    p = ann_fold_policy_report(spark, sf_dir).collect()[0]
    lc = ann_index_segment_lifecycle(spark, sf_dir).collect()
    assert p.n_oob_segment == sum(r.n_oob_segment for r in lc), (p, lc)
    assert p.n_segment_vecs == sum(r.n_segment_vecs for r in lc)
    assert p.n_index_vecs == sum(r.n_index_vecs for r in lc)
    assert p.n_segments == _LSM_FOLD_K
    assert p.probe_read_amp == p.n_segments + 1
    assert bool(p.should_fold) is True
    assert p.reason == "k_segments_at_budget"


def test_probe_budget_curve_monotone(spark, sf_dir):
    """ann_probe_budget_curve (round 15): recall and candidate volume
    must both be non-decreasing in the probe budget (each budget adds
    whole lists to the candidate set), and the full-budget row must
    equal sq8pc_recall_audit's recall (same probes, same quantizer —
    the curve is the audit refined by budget)."""
    from causality_between_elements_based_on_time_series_data_spark.plans.queries_llm import (
        ann_probe_budget_curve,
        sq8pc_recall_audit,
    )

    rows = ann_probe_budget_curve(spark, sf_dir).collect()
    assert len(rows) >= 4
    assert [r.budget for r in rows] == list(
        range(1, len(rows) + 1)
    )
    for a, b in zip(rows, rows[1:]):
        assert b.recall_at_3 >= a.recall_at_3 - 1e-9, (a, b)
        assert b.avg_candidates >= a.avg_candidates, (a, b)
    audit = sq8pc_recall_audit(spark, sf_dir).collect()[0]
    assert abs(rows[-1].recall_at_3 - audit.recall_at_3) <= 1e-4, (
        rows[-1],
        audit,
    )


def test_dedup_fold_policy_consistency(spark, sf_dir):
    """dedup_fold_policy_report (round 15): inputs must reconcile with
    the lifecycle audit's own per-band accounting (same persisted
    artifacts, same K-way merge), and at the LSM budget the verdict
    is deterministically fold=true."""
    from causality_between_elements_based_on_time_series_data_spark.plans.queries_llm import (
        _LSM_FOLD_K,
        dedup_fold_policy_report,
        dedup_index_segment_lifecycle,
    )

    p = dedup_fold_policy_report(spark, sf_dir).collect()[0]
    lc = dedup_index_segment_lifecycle(spark, sf_dir).collect()
    assert p.n_index_postings == sum(r.n_post_index for r in lc)
    assert p.n_segment_postings == sum(r.n_post_segments for r in lc)
    assert p.n_hot_buckets == sum(r.n_hot_buckets for r in lc)
    assert p.n_segments == _LSM_FOLD_K
    assert p.probe_read_amp == p.n_segments + 1
    assert bool(p.should_fold) is True
    assert p.reason == "k_segments_at_budget"


def test_cdc_dominates_fixed_under_shifts(spark, sf_dir):
    """multimodal_cdc_shift_robustness (round 15): both chunkers must
    cover every payload byte exactly once, and content-defined
    chunking must recover an order of magnitude more of the shifted
    twins' overlap than fixed 32-byte chunks (measured ~0.42 vs
    ~0.028 saved fraction at sf0.001/sf0.01/sf0.1 — gate at 5x and a
    0.25 absolute floor)."""
    from causality_between_elements_based_on_time_series_data_spark.plans.queries_llm import (
        multimodal_cdc_shift_robustness,
    )

    rows = {
        r.variant: r
        for r in multimodal_cdc_shift_robustness(spark, sf_dir).collect()
    }
    assert set(rows) == {"cdc", "fixed32"}
    assert (
        rows["cdc"].chunk_bytes_total == rows["fixed32"].chunk_bytes_total
    ), rows
    assert rows["cdc"].saved_frac >= 0.25, rows
    assert rows["cdc"].saved_frac > 5 * rows["fixed32"].saved_frac, rows


def test_chunk_dedup_estimate_mass_conservation(spark, sf_dir):
    """multimodal_chunk_dedup_estimate (round 15): per-source chunk
    byte mass must sum to the corpus payload byte mass (chunking
    covers every byte exactly once), and the near-dup-bearing fixture
    must show a strictly positive CAS saving."""
    from pyspark.sql import functions as F

    from causality_between_elements_based_on_time_series_data_spark.plans.queries_llm import (
        multimodal_chunk_dedup_estimate,
    )
    from causality_between_elements_based_on_time_series_data_spark.sources.catalog import (
        load_table,
    )

    rows = multimodal_chunk_dedup_estimate(spark, sf_dir).collect()
    corpus_bytes = (
        load_table(spark, sf_dir, "documents")
        .agg(F.sum(F.length(F.encode("text", "UTF-8"))))
        .collect()[0][0]
    )
    assert sum(r.chunk_bytes_total for r in rows) == corpus_bytes
    assert sum(r.n_dup_chunks for r in rows) > 0
    for r in rows:
        assert r.bytes_saved_cas <= r.chunk_bytes_total


def test_modality_router_feeds_the_decoder(spark, sf_dir):
    """multimodal_modality_router (round 15): the router's 'raw-rgb'
    predicate is the decoder's own precondition, so every payload it
    routes there must decode WITHOUT error — and the mixed corpus
    must split exactly |docs| / |docs| between the modalities (the
    text fixture contains no RAWRGB-magic payloads)."""
    from pyspark.sql import functions as F

    from causality_between_elements_based_on_time_series_data_spark.operators.multimodal import (
        decode_raw_rgb,
        to_raw_rgb_media,
    )
    from causality_between_elements_based_on_time_series_data_spark.plans.queries_llm import (
        multimodal_modality_router,
    )
    from causality_between_elements_based_on_time_series_data_spark.sources.catalog import (
        load_table,
    )

    rows = {r.modality: r for r in multimodal_modality_router(spark, sf_dir).collect()}
    n_docs = load_table(spark, sf_dir, "documents").count()
    assert rows["raw-rgb"].n_payloads == n_docs, rows
    assert rows["opaque"].n_payloads == n_docs, rows
    assert abs(rows["raw-rgb"].share - 0.5) < 1e-9
    # everything routed to the decoder decodes (the router predicate
    # IS the decoder precondition)
    media = to_raw_rgb_media(load_table(spark, sf_dir, "documents"))
    routed = media.filter(
        (F.length("payload") >= 8)
        & F.expr("substring(payload, 1, 2) = X'5247'")
        & F.expr("substring(payload, 7, 1) = X'03'")
    )
    decoded = decode_raw_rgb(routed)
    assert decoded.count() == n_docs  # no ValueError raised map-side
