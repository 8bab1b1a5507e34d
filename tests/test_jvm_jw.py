"""Native JVM Jaro-Winkler must match the pandas UDF (and thus DuckDB)."""

import random
import string

import pytest
from pyspark.sql import functions as F

from person_linkage_case_study_spark.functions.similarity import (
    JVM_JW_NAME,
    ensure_jvm_jw,
    jaro_winkler_similarity,
    jaro_winkler_udf,
)


#: name pairs whose Jaro-Winkler lands on (or one ulp under) the 0.9 and
#: 0.75 gamma thresholds — where an engine that rounds differently would
#: flip a gamma level
NEAR_THRESHOLD = [
    ("ANDERSEN", "ANDERSHR"),  # 0.9
    ("ABCDEFGHIJ", "ABCDE"),  # 0.9
    ("ALEX", "ASLEFX"),  # 0.8999999999999999
    ("ALEXANDER", "AENDER"),  # 0.8999999999999999
    ("ANDERSON", "PETERSON"),  # 0.75
    ("ALEX", "POLLEX"),  # 0.75
    ("ALEXANDRA", "REXANDRN"),  # 0.75
]


def test_jvm_jw_matches_python(spark):
    """The JVM UDF, the pandas UDF and the scalar reference give the SAME
    double (exact ==, not approx): that is what lets ``add_gammas``
    default to the JVM UDF without moving any gamma."""
    if not ensure_jvm_jw(spark):
        pytest.skip("sparklinkage.jar not on classpath (run jvm/build.sh)")
    rng = random.Random(4)
    rows = [
        (
            "".join(rng.choice("ABCDE") for _ in range(rng.randint(0, 10))),
            "".join(rng.choice(string.ascii_uppercase) for _ in range(rng.randint(0, 12))),
        )
        for _ in range(500)
    ] + [("MARTHA", "MARHTA"), ("", ""), ("A", "")] + NEAR_THRESHOLD
    near = [jaro_winkler_similarity(a, b) for a, b in NEAR_THRESHOLD]
    assert all(min(abs(v - 0.9), abs(v - 0.75)) < 1e-9 for v in near)
    df = spark.createDataFrame(rows, "a string, b string")
    got = df.select(
        "a",
        "b",
        F.call_udf(JVM_JW_NAME, "a", "b").alias("jvm"),
        jaro_winkler_udf(F.col("a"), F.col("b")).alias("pandas"),
    ).collect()
    assert len(got) == len(rows)
    for r in got:
        want = jaro_winkler_similarity(r["a"], r["b"])
        assert r["jvm"] == want and r["pandas"] == want, (r["a"], r["b"])


def test_auto_strategy_gamma_parity(spark):
    """add_gammas' Jaro-Winkler gammas (JVM UDF when the jar is there,
    pandas UDF otherwise) equal the gammas the scalar reference gives,
    row for row, knife-edge names included."""
    from person_linkage_case_study_spark.operators.gamma import (
        add_gammas,
        jw_comparison,
    )

    rows = [("SMITH", "SMYTH"), ("SMITH", "SMITH"), (None, "X"), ("AB", "ZZ")]
    rows += NEAR_THRESHOLD
    pairs = spark.createDataFrame(rows, "name_l string, name_r string")
    comp = jw_comparison("name")  # null, exact, JW >= 0.9, JW >= 0.75, else

    def want_gamma(l, r) -> int:
        if l is None or r is None:
            return -1
        if l == r:
            return 3
        jw = jaro_winkler_similarity(l, r)
        return 2 if jw >= 0.9 else 1 if jw >= 0.75 else 0

    got = add_gammas(pairs, [comp]).collect()
    assert [(r["name_l"], r["name_r"], r["gamma_name"]) for r in got] == [
        (l, r, want_gamma(l, r)) for l, r in rows
    ]
