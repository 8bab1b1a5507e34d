"""u-estimation and EM training (SURVEY.md §2.4 A10/A11)."""

import random

import pytest
from pyspark.sql import functions as F

from person_linkage_case_study_spark.functions.similarity import (
    jaro_winkler_similarity,
)
from person_linkage_case_study_spark.operators.estimation import (
    estimate_m_em,
    estimate_m_two_sessions,
    estimate_u,
    lambda_from_expected_match_rate,
)
from person_linkage_case_study_spark.operators.gamma import (
    banded_comparison,
    exact_comparison,
    jw_comparison,
)
from person_linkage_case_study_spark.operators.sampling import hash_sample
from person_linkage_case_study_spark.operators.scoring import LinkageModel


def test_estimate_u_proportions(spark):
    # left/right share the value 'x' in ~10% of rows: u[exact gamma=1] ≈ 0.1^... small
    left = spark.createDataFrame(
        [(("x" if i % 10 == 0 else f"l{i}"),) for i in range(200)], ["v"]
    )
    right = spark.createDataFrame(
        [(("x" if i % 10 == 0 else f"r{i}"),) for i in range(200)], ["v"]
    )
    comps = [exact_comparison("v")]
    estimate_u(left, right, comps, max_pairs=1e6, seed=7)
    u = comps[0].u
    assert len(u) == 2
    # P(random pair agrees) = 0.1 * 0.1 = 0.01
    assert u[1] == pytest.approx(0.01, rel=0.5)
    assert u[0] == pytest.approx(0.99, rel=0.05)


def test_em_recovers_m_on_planted_data(spark):
    """Plant matched pairs (same id => name agrees 90%) among non-matches;
    EM with fixed u/λ should push m[1] toward ~0.9."""
    import random

    rng = random.Random(5)
    n = 400
    rows_l, rows_r = [], []
    for i in range(n):
        blk = i % 20
        name = f"name{i}"
        rows_l.append((blk, name, i))
        # matched partner agrees on name with p=0.9
        rname = name if rng.random() < 0.9 else f"other{i}"
        rows_r.append((blk, rname, i))
    left = spark.createDataFrame(rows_l, ["blk", "name", "lid"])
    right = spark.createDataFrame(rows_r, ["blk", "name", "rid"])

    comp = exact_comparison("name")
    # u from seeded random sampling first (the reference's order of
    # operations: estimate_u_using_random_sampling, then EM with u fixed)
    estimate_u(left, right, [comp], max_pairs=1e6, seed=3)
    assert comp.u[1] < 0.01  # names almost never agree at random
    model = LinkageModel([comp], lambda_prior=1 / 20)  # 1 match per 20-pair block
    estimate_m_em(left, right, ["blk"], model)
    assert model.comparisons[0].m[1] == pytest.approx(0.9, abs=0.08)


def test_lambda_prior():
    lam = lambda_from_expected_match_rate(1000, 1000, 900)
    assert lam == pytest.approx(9e-4)


def _python_gamma(comp, l, r) -> int:
    """The gamma ``Comparison.compile`` assigns, in plain Python."""
    if l is None or r is None:
        return -1
    levels = [lv for lv in comp.levels if lv.kind != "null"]
    for i, lv in enumerate(levels):
        if (
            lv.kind == "else"
            or (lv.kind == "exact" and l == r)
            or (
                lv.kind == "jaro_winkler"
                and jaro_winkler_similarity(l, r) >= lv.threshold
            )
            or (lv.kind == "banded" and abs(l - r) <= lv.band)
        ):
            return len(levels) - 1 - i
    return 0


def test_estimation_layout_invariant(spark):
    """u and m do not depend on the partition layout (shuffle partitions
    1 or 8, inputs in 1 or 4 partitions), and u equals a pure-Python
    count over the same hash samples scored with the scalar
    Jaro-Winkler."""
    rng = random.Random(11)
    firsts = ["MARTHA", "MARHTA", "MARTA", "JOHN", "JON", "JOHAN", "ANN", "ANNA"]
    lasts = ["SMITH", "SMYTH", "SMITHE", "JONES", "JONAS", "BROWN", "BRAUN"]

    def rows(prefix, n):
        return [
            (
                f"{prefix}{i}",
                rng.choice(firsts + [None]),
                rng.choice(lasts),
                rng.randint(1950, 1965),
            )
            for i in range(n)
        ]

    rows_l, rows_r = rows("l", 120), rows("r", 150)
    schema = "id string, first string, last string, year int"
    fractions, seed = (0.5, 0.6), 21

    def comparisons():
        return [
            jw_comparison("first"),
            jw_comparison("last"),
            banded_comparison("year", band=2),
        ]

    results = []
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        for shuffle, parts in [(1, 1), (1, 4), (8, 1), (8, 4)]:
            spark.conf.set("spark.sql.shuffle.partitions", str(shuffle))
            left = spark.createDataFrame(rows_l, schema).repartition(parts)
            right = spark.createDataFrame(rows_r, schema).repartition(parts)
            comps = estimate_u(
                left, right, comparisons(), seed=seed,
                sample_keys=(["id"], ["id"]), sample_fractions=fractions,
            )
            model = estimate_m_two_sessions(
                left, right, [["first", "last"], ["year"]],
                LinkageModel(comps, lambda_prior=0.01),
            )
            results.append([(c.u, c.m) for c in model.comparisons])
        sample_l = hash_sample(left, ["id"], fractions[0], seed).collect()
        sample_r = hash_sample(right, ["id"], fractions[1], seed + 1).collect()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    assert all(r == results[0] for r in results[1:])

    assert sample_l and sample_r
    for comp, (u, _) in zip(comparisons(), results[0]):
        counts = [0] * comp.n_gamma_levels()
        valid = 0
        for a in sample_l:
            for b in sample_r:
                g = _python_gamma(comp, a[comp.col], b[comp.col])
                if g >= 0:
                    counts[g] += 1
                    valid += 1
        assert u == [max(n / valid, 1e-9) for n in counts], comp.col
