"""Jaro-Winkler scoring kernel: the vectorized batch path must agree
with the scalar textbook implementation AND with DuckDB's independent
``jaro_winkler_similarity`` (the driver's oracle for the ``scoring``
query)."""

import random

import numpy as np
import pytest

from polars_iptools_spark.plans.scoring import (
    jaro,
    jaro_winkler,
    jaro_winkler_batch,
)


def _random_pairs(n=3000, seed=7):
    rnd = random.Random(seed)
    alph = "abcdefgXYZ /._-"
    pairs = []
    for _ in range(n):
        l1, l2 = rnd.randrange(0, 30), rnd.randrange(0, 30)
        a = "".join(rnd.choice(alph) for _ in range(l1))
        b = "".join(rnd.choice(alph) for _ in range(l2))
        r = rnd.random()
        if r < 0.3:  # near-duplicate
            b = a[: max(0, l1 - 2)] + "".join(rnd.choice(alph) for _ in range(2))
        elif r < 0.4:
            b = a
        pairs.append((a, b))
    return pairs


def test_batch_matches_scalar():
    pairs = _random_pairs()
    av = np.array([p[0] for p in pairs], dtype=object)
    bv = np.array([p[1] for p in pairs], dtype=object)
    got = jaro_winkler_batch(av, bv)
    for i, (a, b) in enumerate(pairs):
        assert abs(jaro_winkler(a, b) - got[i]) < 1e-12, (a, b)


def test_batch_matches_duckdb():
    duckdb = pytest.importorskip("duckdb")
    pairs = _random_pairs(seed=11)
    av = np.array([p[0] for p in pairs], dtype=object)
    bv = np.array([p[1] for p in pairs], dtype=object)
    got = jaro_winkler_batch(av, bv)
    con = duckdb.connect()
    con.execute("CREATE TABLE t(i INT, a VARCHAR, b VARCHAR)")
    con.executemany(
        "INSERT INTO t VALUES (?,?,?)", [(i, a, b) for i, (a, b) in enumerate(pairs)]
    )
    duck = con.execute(
        "SELECT jaro_winkler_similarity(a,b) FROM t ORDER BY i"
    ).fetchall()
    for i, (d,) in enumerate(duck):
        assert abs(d - got[i]) < 1e-9, (pairs[i], d, got[i])


def test_nulls_and_edge_content():
    av = np.array([None, "abc", None, "", "a\x00b", "日本語テスト"], dtype=object)
    bv = np.array(["x", None, None, "", "ab", "日本語のテスト"], dtype=object)
    got = jaro_winkler_batch(av, bv)
    assert got[0] == got[1] == got[2] == 0.0
    assert got[3] == 0.0  # both-empty -> 0.0 (DuckDB convention)
    assert abs(got[4] - jaro_winkler("a\x00b", "ab")) < 1e-12
    assert abs(got[5] - jaro_winkler("日本語テスト", "日本語のテスト")) < 1e-12


def test_nul_bytes_do_not_collide_pairs():
    # regression: string-concat pair keys collapsed ('b','b') with
    # ('','bb') because pandas concat drops NUL separators
    av = np.array(["b", ""], dtype=object)
    bv = np.array(["b", "bb"], dtype=object)
    got = jaro_winkler_batch(av, bv)
    assert got[0] == 1.0
    assert got[1] == jaro_winkler("", "bb") == 0.0


def test_winkler_boost_gated_at_0_7():
    # shared 4-char prefix but low jaro: boost must NOT apply
    a, b = "abcdzzzzzzzzzzzzzzzz", "abcdqqqqqqqqqqqqqqqqqqqqqqqq"
    j = jaro(a, b)
    assert j <= 0.7
    assert jaro_winkler(a, b) == j
    got = jaro_winkler_batch(
        np.array([a], dtype=object), np.array([b], dtype=object)
    )
    assert got[0] == j
    # high-jaro prefix pair: boost applies
    a2, b2 = "martha", "marhta"
    assert jaro_winkler(a2, b2) > jaro(a2, b2)


def test_identical_strings_fast_path():
    av = np.array(["same/path.py"] * 5 + ["x"], dtype=object)
    bv = np.array(["same/path.py"] * 5 + ["y"], dtype=object)
    got = jaro_winkler_batch(av, bv)
    assert (got[:5] == 1.0).all()
    assert got[5] == 0.0


def test_jw_eq_gated_matches_udf(spark):
    """The JVM equality gate (_jw_eq_gated) must be value-identical to
    the raw UDF on every class of input: equal non-empty, equal empty,
    unequal, one/both null — only the Arrow crossing changes."""
    from pyspark.sql import functions as F

    from polars_iptools_spark.plans.scoring import (
        _jw_eq_gated,
        jaro_winkler_udf,
    )

    rows = [
        ("org1/repo", "org1/repo"),
        ("", ""),
        ("src/a/main.py", "src/a/util.py"),
        ("abc", None),
        (None, None),
        ("x", ""),
        ("path/with space", "path/with space"),
    ] + [(a, b) for a, b in _random_pairs(200, seed=13)]
    df = spark.createDataFrame(rows, "a string, b string")
    got = df.select(
        _jw_eq_gated(F.col("a"), F.col("b")).alias("gated"),
        jaro_winkler_udf(F.col("a"), F.col("b")).alias("raw"),
    ).collect()
    for r in got:
        assert r.gated == pytest.approx(r.raw, abs=1e-12), r


def test_hot_candidates_eq_shortcircuit_matches_generic(spark):
    """r07: when w_ip*0.5 + w_path + w_repo <= threshold the ip bound
    is decided by equality alone and hot_candidates skips the per-pair
    ip Levenshtein.  The fast path must keep the output (rows AND the
    materialized ip_sim / lev_path columns) identical to the generic
    bound — asserted by comparing against weights that force the
    generic path at a threshold where both select the same rows, and
    by pinning that unequal-IP pairs can never survive the default
    weights."""
    from pyspark.sql import functions as F

    from polars_iptools_spark.plans.scoring import hot_candidates

    rows = []
    for i in range(50):
        ip_a = f"10.0.0.{i % 7}"
        ip_b = ip_a if i % 3 else f"10.0.1.{i % 7}"
        rows.append(
            (i, 1000 + i, ip_a, ip_b, f"src/m{i % 5}/h{i}.py", f"src/m{i % 5}/h{i}_v2.py")
        )
    pairs = spark.createDataFrame(
        rows, "rid_a long, rid_b long, ip_a string, ip_b string, path_a string, path_b string"
    )
    # default weights (0.6, 0.25, 0.15): 0.6*0.5+0.40 = 0.70 <= 0.72 -> fast path
    fast = hot_candidates(pairs, threshold=0.72)
    plan = fast._jdf.queryExecution().executedPlan().toString()
    assert "levenshtein(ip_a" not in plan, "ip Levenshtein not short-circuited"
    # generic path via weights failing the inequality (0.9*0.5+0.1 = 0.55 > 0.4
    # threshold) would diverge; instead force the generic expression with the
    # same default weights by nudging the threshold below the cap
    generic = hot_candidates(pairs, threshold=0.699)
    # at threshold 0.699 the generic bound admits unequal-IP pairs iff their
    # lev bound reaches it; equal-IP rows must be identical in both outputs
    fast_rows = {
        (r.rid_a, r.rid_b, r.ip_sim, round(r.lev_path, 9)) for r in fast.collect()
    }
    gen_eq_rows = {
        (r.rid_a, r.rid_b, r.ip_sim, round(r.lev_path, 9))
        for r in generic.where(F.col("ip_a") == F.col("ip_b")).collect()
    }
    assert fast_rows == gen_eq_rows
    # and no unequal-IP pair survives the fast path
    assert fast.where(F.col("ip_a") != F.col("ip_b")).count() == 0


def _generic_hot_candidates(pairs, weights, threshold):
    """The score bound of ``hot_candidates`` without the equality
    short-circuit: the per-pair ip Levenshtein always runs."""
    from pyspark.sql import functions as F

    from polars_iptools_spark.plans.scoring import levenshtein_sim

    w_ip, w_path, w_repo = weights
    ip_sim = F.when(F.col("ip_a") == F.col("ip_b"), F.lit(1.0)).otherwise(
        0.5 * levenshtein_sim(F.col("ip_a"), F.col("ip_b"))
    )
    lev_path = F.when(F.col("path_a") == F.col("path_b"), F.lit(1.0)).otherwise(
        levenshtein_sim(F.col("path_a"), F.col("path_b"))
    )
    return (
        pairs.withColumn("ip_sim", ip_sim)
        .where(w_ip * F.col("ip_sim") + (w_path + w_repo) >= threshold)
        .withColumn("lev_path", lev_path)
        .where(
            w_ip * F.col("ip_sim")
            + w_path * (0.5 + 0.5 * F.col("lev_path"))
            + w_repo
            >= threshold
        )
    )


@pytest.mark.parametrize(
    "weights,threshold",
    [
        # w_ip == 0 with w_path + w_repo == threshold: the boundary where
        # equality alone would drop pairs the generic bound keeps
        ((0.0, 0.5, 0.25), 0.75),
        ((0.0, 0.5, 0.25), 0.5),
        ((0.0, 0.75, 0.25), 1.0),
        # short-circuit taken: w_ip*0.5 + w_path + w_repo <= threshold
        ((0.5, 0.25, 0.25), 0.75),
        ((0.5, 0.25, 0.25), 1.0),
        ((0.25, 0.5, 0.125), 0.75),
        # generic path
        ((0.5, 0.25, 0.25), 0.5),
        ((0.25, 0.5, 0.25), 0.75),
    ],
)
def test_hot_candidates_weight_sweep_matches_generic(spark, weights, threshold):
    """Whichever form hot_candidates picks for the ip bound, it returns
    exactly the rows (and ip_sim / lev_path values) of the generic
    bound, including at the w_ip == 0 boundary."""
    from polars_iptools_spark.plans.scoring import hot_candidates

    rows = []
    for i in range(40):
        ip_a = f"10.0.0.{i % 7}"
        ip_b = ip_a if i % 3 else f"10.0.1.{i % 7}"
        path_b = f"src/m{i % 5}/h{i}.py" if i % 4 == 0 else f"src/m{i % 5}/h{i}_v2.py"
        rows.append((i, 1000 + i, ip_a, ip_b, f"src/m{i % 5}/h{i}.py", path_b))
    pairs = spark.createDataFrame(
        rows, "rid_a long, rid_b long, ip_a string, ip_b string, path_a string, path_b string"
    )

    def key(df):
        return sorted(
            (r.rid_a, r.rid_b, r.ip_sim, round(r.lev_path, 9)) for r in df.collect()
        )

    got = key(hot_candidates(pairs, weights=weights, threshold=threshold))
    assert got == key(_generic_hot_candidates(pairs, weights, threshold))
    assert got, "sweep case selects no rows"
