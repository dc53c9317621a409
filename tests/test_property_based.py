"""Property-based spot checks (SURVEY.md §5.2-4, hypothesis): the engine
never throws on malformed inputs, and permissive-cast/flatten semantics
match a pure-Python model of the reference code."""

import math

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from quantum_rag_data_pipeline_spark.operators.projection import permissive_double
from quantum_rag_data_pipeline_spark.sources.ercot import envelope_rows

# cells the ERCOT envelope can carry: numbers, numeric strings, junk,
# nulls (reference src/main.py:74-79 drops unparseable per-cell)
cell = st.one_of(
    st.none(),
    st.integers(min_value=-10**9, max_value=10**9),
    st.floats(allow_nan=False, allow_infinity=False, width=32),
    st.floats(allow_nan=False, allow_infinity=False, width=32).map(lambda v: f"{v!r}"),
    st.text(alphabet="abcN/A-_ ", max_size=8),
)


def python_model_extract(records, idx):
    """Pure-python model of reference src/main.py:74-91."""
    vals = []
    for rec in records:
        if len(rec) <= idx:
            continue
        try:
            v = float(rec[idx]) if rec[idx] is not None else None
        except (ValueError, TypeError):
            continue
        if v is not None:
            vals.append(v)
    return vals


@settings(max_examples=20, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(data=st.lists(st.lists(cell, max_size=4), min_size=0, max_size=25))
def test_permissive_cast_matches_reference_model(spark, data):
    env = {"fields": [{"name": f"c{i}"} for i in range(4)], "data": data}
    df = spark.createDataFrame(envelope_rows(env), "field string, value string")
    for i in range(4):
        got = sorted(
            r["v"] for r in df.filter(F.col("field") == f"c{i}")
            .select(permissive_double("value").alias("v")).collect()
            if r["v"] is not None
        )
        want = sorted(python_model_extract(data, i))
        assert len(got) == len(want)
        for g, w in zip(got, want):
            assert math.isclose(g, w, rel_tol=1e-6, abs_tol=1e-9)


nested_item = st.fixed_dictionaries({
    "dataId": st.one_of(st.none(), st.text(alphabet="abc123", min_size=1, max_size=6)),
    "efficiency": st.one_of(
        st.none(),
        st.fixed_dictionaries({"value": st.one_of(st.none(), st.text(alphabet="0123456789.x", max_size=6)),
                               "unit": st.just("lm/W")}),
    ),
    "seller": st.one_of(
        st.none(),
        st.fixed_dictionaries({"username": st.one_of(st.none(), st.text(max_size=5)),
                               "feedbackScore": st.one_of(st.none(), st.integers(0, 10**6)),
                               "feedbackPercentage": st.just("99")}),
    ),
})


@settings(max_examples=15, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(items=st.lists(nested_item, min_size=0, max_size=10))
def test_kv_flatten_never_throws_and_rejects_null_ids(spark, items):
    from quantum_rag_data_pipeline_spark.sinks.kv import flatten_kv_items

    schema = ("dataId string, "
              "efficiency struct<value: string, unit: string>, "
              "seller struct<username: string, feedbackScore: bigint, feedbackPercentage: string>")
    rows = [
        (
            it["dataId"],
            (it["efficiency"]["value"], it["efficiency"]["unit"]) if it["efficiency"] else None,
            (it["seller"]["username"], it["seller"]["feedbackScore"],
             it["seller"]["feedbackPercentage"]) if it["seller"] else None,
        )
        for it in items
    ]
    df = spark.createDataFrame(rows, schema)
    out = flatten_kv_items(df).collect()
    n_valid = sum(1 for it in items if it["dataId"] is not None)
    assert len(out) == n_valid
    for r in out:
        assert r["dataId"] is not None
        assert r["efficiency_value"] is not None  # coerced, 0 fallback


def test_split_int64_sum_reconstruction_property():
    """The split-int64 exact-sum trick (corr_matrix_lineitem, round 5):
    for any int64 values on the grid, 2^25·Σ(x div 2^25) + Σ(x mod 2^25)
    must equal Σx exactly — the identity the fast aggregate relies on."""
    from hypothesis import given, settings, strategies as st

    SPLIT = 1 << 25

    @settings(max_examples=200, deadline=None)
    @given(st.lists(st.integers(min_value=0, max_value=10**16), max_size=50))
    def check(xs):
        hi = sum(x // SPLIT for x in xs)
        lo = sum(x % SPLIT for x in xs)
        assert SPLIT * hi + lo == sum(xs)
        # and both halves stay inside int64 headroom at corpus row counts
        assert lo <= len(xs) * SPLIT
        assert hi <= len(xs) * (10**16 // SPLIT + 1)

    check()


def test_int_srp_bucket_determinism_property():
    """int_srp_buckets_udf's kernel: floor-snap + Knuth-hash ±1 planes.
    Property: bucket ids are invariant to the accumulation ORDER of the
    integer projection (associativity is the cross-engine guarantee) and
    to float noise below the 1e-6 grid."""
    import numpy as np
    from hypothesis import given, settings, strategies as st

    D, P, T = 8, 4, 2
    idx = np.arange(T * P * D, dtype=np.int64).reshape(T, P, D)
    signs = np.where((idx * 2654435761) % 4294967296 >= 2147483648, 1, -1
                     ).astype(np.int64)

    def buckets(V):
        Q = np.floor(np.asarray(V) * 1_000_000 + 0.5).astype(np.int64)
        out = []
        for t in range(T):
            bits = (Q @ signs[t].T >= 0).astype(np.int64)
            out.append(bits @ (1 << np.arange(P, dtype=np.int64)))
        return np.stack(out, axis=1)

    @settings(max_examples=100, deadline=None)
    @given(st.lists(st.lists(st.floats(-1, 1, allow_nan=False, width=32),
                             min_size=D, max_size=D), min_size=1, max_size=8))
    def check(vecs):
        V = np.array(vecs, dtype=np.float64)
        b1 = buckets(V)
        # reversed-dimension accumulation: same integer sums -> same signs
        Q = np.floor(V * 1_000_000 + 0.5).astype(np.int64)
        for t in range(T):
            proj_rev = (Q[:, ::-1] @ signs[t][:, ::-1].T)
            bits = (proj_rev >= 0).astype(np.int64)
            b_rev = bits @ (1 << np.arange(P, dtype=np.int64))
            assert (b_rev == b1[:, t]).all()
        # sub-grid noise cannot flip a bucket unless it crosses the
        # floor boundary — nudge by 1e-9 away from .5 boundaries
        frac = np.modf(V * 1_000_000 + 0.5)[0]
        safe = (np.abs(frac - 0.5) > 1e-3).all() and (frac > 1e-3).all() \
            and (frac < 1 - 1e-3).all()
        if safe:
            b2 = buckets(V + 1e-10)
            assert (b2 == b1).all()

    check()


# --- round-12: window-count mutuality == reverse-key-join mutuality -----
# knn_graph_mutual was rewritten from a reversed self-join (which lost
# exchange reuse and ran the BLAS candidates stage twice) to a count over
# the unordered pair key. The rewrite's correctness argument — on a
# DISTINCT directed edge set with src != dst, count==2 within
# (least, greatest) iff both directions exist — is checked here against
# the join formulation on arbitrary random edge sets, not just kNN output.

edge_sets = st.lists(
    st.tuples(st.integers(min_value=0, max_value=12),
              st.integers(min_value=0, max_value=12)),
    min_size=0, max_size=40,
).map(lambda es: sorted({(a, b) for a, b in es if a != b}))


@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(edges=edge_sets)
def test_window_count_mutuality_equals_reverse_join(spark, edges):
    if not edges:
        return
    from pyspark.sql.window import Window

    df = spark.createDataFrame(edges, "src long, dst long")
    pw = Window.partitionBy(F.least("src", "dst"), F.greatest("src", "dst"))
    via_window = {
        (r.src, r.dst): r.m
        for r in df.select(
            "src", "dst", (F.count(F.lit(1)).over(pw) == 2).alias("m")
        ).collect()
    }
    rev = df.select(F.col("dst").alias("src"), F.col("src").alias("dst"),
                    F.lit(True).alias("_m"))
    via_join = {
        (r.src, r.dst): r.m
        for r in df.join(rev, ["src", "dst"], "left")
        .select("src", "dst", F.coalesce("_m", F.lit(False)).alias("m"))
        .collect()
    }
    assert via_window == via_join
