"""Invariants for the second round-4 session-2 wave: TPC-H additions,
experimentation designs, and the remaining statistics/graph/text ops.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from quantum_rag_data_pipeline_spark.queries import QUERIES


def test_q6_revenue_subset_of_unfiltered(spark, sf_dir):
    r = QUERIES["tpch_q6_forecast_revenue"](spark, sf_dir).first()
    assert r.revenue >= 0 and r.n_lines >= 0


def test_q7_directions_and_years(spark, sf_dir):
    rows = QUERIES["tpch_q7_volume_shipping"](spark, sf_dir).collect()
    assert len(rows) <= 4  # 2 directions x 2 ship years
    for r in rows:
        assert r.l_year in (1995, 1996)
        assert {r.supp_nation, r.cust_nation} == {"NATION_3", "NATION_7"}
        assert r.revenue > 0


def test_q8_share_is_a_fraction_of_total(spark, sf_dir):
    for r in QUERIES["tpch_q8_market_share"](spark, sf_dir).collect():
        assert 0.0 <= r.mkt_share <= 1.0
        assert r.nation_volume <= r.total_volume + 1e-6


def test_q13_histogram_covers_all_customers(spark, sf_dir):
    rows = QUERIES["tpch_q13_customer_distribution"](spark, sf_dir).collect()
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    n_cust = cust.count()
    assert sum(r.custdist for r in rows) == n_cust
    # The Q13 trick under test: zero-order customers must SURVIVE the left
    # join. Recompute the expected 0-bucket independently (customers with no
    # non-urgent orders at all) and pin the histogram's 0-bucket to it —
    # round-4 advice: the old any/all disjunction here was a tautology.
    o = spark.read.parquet(f"{sf_dir}/orders.parquet").filter(
        F.col("o_orderpriority") != "1-URGENT"
    )
    n_zero_expected = cust.join(
        o, cust["c_custkey"] == o["o_custkey"], "left_anti"
    ).count()
    zero_bucket = sum(r.custdist for r in rows if r.c_count == 0)
    assert zero_bucket == n_zero_expected


def test_q14_promo_pct_bounded(spark, sf_dir):
    r = QUERIES["tpch_q14_promo_effect"](spark, sf_dir).first()
    assert 0.0 <= r.promo_revenue_pct <= 100.0


def test_dp_noise_bounded_and_utility(spark, sf_dir):
    rows = QUERIES["dp_noisy_histogram"](spark, sf_dir).collect()
    for r in rows:
        err = abs(r.noisy_count - r.true_count)
        # Laplace(1) noise from u in [5e-7, 1-5e-7]: |noise| <= ln(1e6) ~ 13.8
        assert err <= 14.6
    # median error should be around ln(2)≈0.69 — assert loose utility
    errs = sorted(abs(r.noisy_count - r.true_count) for r in rows)
    assert errs[len(errs) // 2] <= 3.0


def test_wilcoxon_w_in_range(spark, sf_dir):
    r = QUERIES["wilcoxon_signed_rank"](spark, sf_dir).first()
    assert 0.0 <= r.w_plus <= r.n_pairs * (r.n_pairs + 1) / 2


def test_runs_count_bounded(spark, sf_dir):
    r = QUERIES["runs_test_randomness"](spark, sf_dir).first()
    assert 1 <= r.runs <= r.n_up + r.n_down
    # runs can exceed 2*min+1 never
    assert r.runs <= 2 * min(r.n_up, r.n_down) + 1


def test_permutation_entropy_bounds(spark, sf_dir):
    r = QUERIES["permutation_entropy"](spark, sf_dir).first()
    assert 1 <= r.n_patterns_seen <= 6
    assert 0.0 <= r.normalized <= 1.0 + 1e-6


def test_skipgram_pmi_count_floor(spark, sf_dir):
    rows = QUERIES["skipgram_cooccurrence_pmi"](spark, sf_dir).collect()
    assert len(rows) <= 15
    for r in rows:
        assert r.n_cooccur >= 20


def test_heaps_beta_sublinear(spark, sf_dir):
    r = QUERIES["heaps_law_vocab_growth"](spark, sf_dir).first()
    assert r.vocabulary <= r.corpus_tokens
    # the synthetic corpus has a tiny closed vocabulary, which saturates
    # (beta -> 0 once every word has been seen); natural text sits ~0.5
    assert 0.0 <= r.heaps_beta < 1.0
    assert r.heaps_k > 0


def test_mahalanobis_nonnegative_sorted(spark, sf_dir):
    rows = QUERIES["mahalanobis_outliers_2d"](spark, sf_dir).collect()
    vals = [r.mahalanobis_sq for r in rows]
    assert all(v >= 0 for v in vals)
    assert vals == sorted(vals, reverse=True)


def test_did_is_difference_of_differences(spark, sf_dir):
    r = QUERIES["difference_in_differences"](spark, sf_dir).first()
    manual = (r.treated_post - r.treated_pre) - (r.control_post - r.control_pre)
    assert abs(r.did_estimate - manual) <= 2e-6


def test_cuped_identities(spark, sf_dir):
    r = QUERIES["cuped_variance_reduction"](spark, sf_dir).first()
    assert 0.0 <= r.rho_sq <= 1.0 + 1e-9
    assert abs((1.0 - r.rho_sq) - r.variance_ratio_after_cuped) <= 2e-6
    assert r.var_y >= 0


def test_sprt_trajectory_consistent(spark, sf_dir):
    rows = sorted(QUERIES["sprt_sequential_test"](spark, sf_dir).collect(),
                  key=lambda r: r.day)
    a = 2.944439
    for r in rows:
        if r.decision == "accept_h1":
            assert r.cum_llr >= a - 1e-3
        elif r.decision == "accept_h0":
            assert r.cum_llr <= -a + 1e-3
        else:
            assert -a - 1e-3 < r.cum_llr < a + 1e-3
        assert 0 <= r.purchases <= r.trials


def test_eb_shrinkage_pulls_toward_center(spark, sf_dir):
    rows = QUERIES["empirical_bayes_shrinkage"](spark, sf_dir).collect()
    for r in rows:
        assert 0.0 <= r.shrunk_rate <= 1.0
        # shrinkage moves BETWEEN raw and somewhere — never past the raw
        # rate on the far side (posterior mean is a convex combination)
        lo, hi = sorted((r.raw_rate, r.shrunk_rate))
        assert hi - lo <= max(r.raw_rate, 1 - r.raw_rate)


def test_fd_profile_exact_fd_on_nation(spark, sf_dir):
    rows = {r.tbl: r for r in QUERIES["functional_dependency_profile"](spark, sf_dir).collect()}
    assert rows["nation"].holds_exactly  # nationkey -> regionkey by schema
    assert rows["nation"].n_violations == 0
    for r in rows.values():
        assert 0.0 < r.fd_strength <= 1.0
        assert r.holds_exactly == (r.n_violations == 0)


def test_fd_profile_empty_table_emits_no_row(spark, sf_dir, tmp_path):
    """An empty table contributes no candidate row, as in the oracle's
    GROUP BY; the other candidates match the oracle."""
    import os

    import duckdb
    import pyarrow.parquet as pq

    from quantum_rag_data_pipeline_spark.queries import ORACLE

    src = os.path.abspath(sf_dir)
    for t in ("customer", "orders", "lineitem", "events"):
        os.symlink(f"{src}/{t}.parquet", tmp_path / f"{t}.parquet")
    pq.write_table(pq.read_table(f"{src}/nation.parquet").slice(0, 0),
                   tmp_path / "nation.parquet")
    got = sorted(tuple(r) for r in
                 QUERIES["functional_dependency_profile"](spark, str(tmp_path)).collect())
    con = duckdb.connect()
    for t in ("nation", "customer", "orders", "lineitem", "events"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{tmp_path}/{t}.parquet')")
    want = sorted(con.execute(ORACLE["functional_dependency_profile"]).fetchall())
    assert [r[0] for r in got] == ["customer", "events", "lineitem", "orders"]
    assert got == want


def test_elasticity_r2_bounded(spark, sf_dir):
    r = QUERIES["price_elasticity_loglog"](spark, sf_dir).first()
    assert 0.0 <= r.r_squared <= 1.0 + 1e-9
    assert r.n_parts > 0


def test_rd_effect_is_limit_difference(spark, sf_dir):
    r = QUERIES["regression_discontinuity_local"](spark, sf_dir).first()
    assert abs(r.rd_effect - (r.limit_above - r.limit_below)) <= 2e-6
    assert r.n_above > 0 and r.n_below > 0


def test_simpson_scopes_present(spark, sf_dir):
    rows = {r.scope: r for r in QUERIES["simpsons_paradox_detector"](spark, sf_dir).collect()}
    assert "pooled" in rows and len(rows) == 4
    for r in rows.values():
        assert 0.0 <= r.purchase_rate_clicky <= 1.0
        assert 0.0 <= r.purchase_rate_other <= 1.0
        assert r.clicky_wins == (r.rate_diff > 0)


def test_rich_club_monotone_membership(spark, sf_dir):
    rows = sorted(QUERIES["rich_club_coefficient"](spark, sf_dir).collect(),
                  key=lambda r: r.k)
    prev = None
    for r in rows:
        assert 0.0 <= r.phi <= 1.0 + 1e-9
        assert r.club_edges <= r.club_size * (r.club_size - 1) // 2
        if prev is not None:
            assert r.club_size <= prev  # higher k -> smaller club
        prev = r.club_size


def test_burrows_delta_nonnegative_sorted(spark, sf_dir):
    rows = QUERIES["burrows_delta_stylometry"](spark, sf_dir).collect()
    vals = [r.burrows_delta for r in rows]
    assert all(v >= 0 for v in vals)
    assert vals == sorted(vals)
    assert all(r.src1 < r.src2 for r in rows)
