"""``pvs_small_sample``: the PVS cascade on a small_sample-shaped world.

Set-up synthesizes the world (``plans.small_sample``), writes it to
parquet and builds the notebook-02 reference files. One timed iteration is
notebook 03 through the package's public calls: preprocess, u/m/λ
estimation, the cascade driven module by module and pass by pass through
``PersonLinkageCascade``, then the PIK attach. Accuracy scoring
(notebook 04) runs after the timer stops and feeds the output checks.

The passes are few and small, so plan building, the cascade's eager
count jobs and its per-pass checkpoints set the wall, not pair kernels.
"""

from __future__ import annotations

import dataclasses
import os

from pyspark.sql import functions as F

from person_linkage_case_study_spark.operators.estimation import (
    estimate_m_two_sessions,
    estimate_u,
    probability_two_random_records_match,
)
from person_linkage_case_study_spark.operators.gamma import (
    banded_comparison,
    exact_comparison,
    jw_comparison,
)
from person_linkage_case_study_spark.operators.scoring import LinkageModel
from person_linkage_case_study_spark.plans.accuracy import (
    accuracy_report,
    pik_simulant_pairs,
)
from person_linkage_case_study_spark.plans.cascade import (
    CascadeConfig,
    PersonLinkageCascade,
    default_cascade_config,
)
from person_linkage_case_study_spark.plans.hhcomp import (
    add_pseudo_household_id,
    build_hhcomp_reference_file,
)
from person_linkage_case_study_spark.plans.preprocess import (
    preprocess_census,
    preprocess_reference_file,
)
from person_linkage_case_study_spark.plans.reference_files import (
    build_geobase_reference_file,
    build_name_dob_reference_file,
    dedupe_alternates,
    ground_truth_sidecar,
    mint_pik_crosswalk,
)
from person_linkage_case_study_spark.plans.small_sample import synthesize_small_sample

NAME = "pvs_small_sample"
N_SIMULANTS = {"full": 2_000, "tiny": 1_000}
U_PAIRS = 1e6
# the geosearch passes that find links on this world: the geokey pass
# (most pairs and links) and the name-and-birth-year pass
PASSES = {"geosearch": ["geokey", "name and birth year"]}

# invariants for a seed with no recorded golden. The accuracy floor is the
# one tests/test_small_sample_parity.py sets for the full cascade; its
# coverage band (0.87-0.93) is for all 15 passes, and geosearch alone
# covers about 0.82 of this world, so the band here is +-3 points around that.
COVERAGE_BAND = (0.79, 0.85)
MIN_ACCURACY_DEF1 = 0.99
# accuracy_def1 is a ratio of exact counts; the tolerance only absorbs
# float formatting in goldens.json
ACCURACY_TOLERANCE = 1e-9


def cascade_config() -> CascadeConfig:
    """``default_cascade_config()`` restricted to :data:`PASSES`, in its
    own module and pass order."""
    modules = [
        dataclasses.replace(m, passes=[p for p in m.passes if p.name in PASSES[m.name]])
        for m in default_cascade_config().modules
        if m.name in PASSES
    ]
    return CascadeConfig(modules)


def comparisons():
    return [
        jw_comparison("first_name_15"),
        jw_comparison("last_name_12"),
        exact_comparison("middle_initial"),
        banded_comparison("day_of_birth", band=5),
        banded_comparison("month_of_birth", band=3),
        banded_comparison("year_of_birth", band=5),
        exact_comparison("geokey"),
    ]


def _materialize(spark, work: str, name: str, df):
    path = os.path.join(work, name)
    df.write.parquet(path)
    return spark.read.parquet(path)


def build_reference_files(spark, work: str, ssa, tax_addresses, source_truth) -> dict:
    """Notebook 02: reference files from the administrative transactions."""
    alt_names = dedupe_alternates(ssa, ["ssn", "first_name", "middle_name", "last_name"])
    alt_dobs = dedupe_alternates(ssa, ["ssn", "date_of_birth"])
    crosswalk = mint_pik_crosswalk(ssa.select("ssn"))
    name_dob = _materialize(
        spark, work, "name_dob",
        build_name_dob_reference_file(alt_names, alt_dobs, crosswalk),
    )
    geobase = build_geobase_reference_file(name_dob, tax_addresses)
    dates_of_death = (
        ssa.filter(F.col("date_of_death").isNotNull())
        .select("ssn", F.to_date("date_of_death").alias("date_of_death"))
        .distinct()
        .join(crosswalk, on="ssn")
        .select("pik", "date_of_death")
    )
    ref_truth = ground_truth_sidecar(name_dob, source_truth)
    return {
        "name_dob": name_dob,
        "geobase": _materialize(spark, work, "geobase", geobase),
        "dates_of_death": _materialize(spark, work, "dates_of_death", dates_of_death),
        "pik_simulants": _materialize(
            spark, work, "pik_simulants",
            pik_simulant_pairs(ref_truth, name_dob.select("record_id", "pik")),
        ),
    }


def setup(probe, work: str, seed: int, scale: str) -> dict:
    spark = probe.spark
    data = synthesize_small_sample(spark, n_simulants=N_SIMULANTS[scale], seed=seed)
    st = {k: _materialize(spark, work, k, data[k]) for k in ["census_raw", "census_ground_truth"]}
    st["fake_names"] = data["fake_names"]  # a local three-row frame
    st.update(
        probe.call(
            "plans.reference_files", build_reference_files, spark, work,
            data["ssa_numident"], data["tax_addresses"], data["source_truth"],
        )
    )
    return st


def iteration(probe, st: dict) -> dict:
    """Notebook 03, one public call per timed operation. Only geosearch
    runs, so only the geobase reference file is preprocessed; the HHComp
    reference file is built from geosearch's confirmed PIKs, as the
    hhcompsearch module would build it, but its passes do not run."""
    spark, call = probe.spark, probe.call
    census_pre = call(
        "plans.preprocess",
        lambda: preprocess_census(
            st["census_raw"], st["fake_names"], dob_format="MM/dd/yyyy"
        ).localCheckpoint(),
    )
    geobase_pre = call(
        "plans.preprocess",
        lambda: preprocess_reference_file(
            st["geobase"], has_address=True, dob_format="yyyyMMdd"
        ).localCheckpoint(),
    )

    comps = comparisons()
    call(
        "operators.estimation", estimate_u, census_pre, geobase_pre, comps,
        max_pairs=U_PAIRS, sample_keys=(["record_id"], ["record_id"]),
    )
    model = LinkageModel(comps)
    call(
        "operators.estimation", estimate_m_two_sessions, census_pre, geobase_pre,
        [["first_name_15", "last_name_12"],
         ["day_of_birth", "month_of_birth", "year_of_birth"]],
        model,
    )
    census = call("plans.hhcomp", add_pseudo_household_id, census_pre)
    model.lambda_prior = call(
        "operators.estimation", probability_two_random_records_match,
        census, geobase_pre,
    )

    cascade = call(
        "plans.cascade.init", PersonLinkageCascade, spark, census,
        {"geobase_reference_file": geobase_pre}, model,
        dates_of_death=st["dates_of_death"],
    )
    if probe.trace:
        build = cascade.build_pass_links
        cascade.build_pass_links = lambda *a, **k: call(
            "plans.cascade.build_pass_links", build, *a, **k
        )
    for mod in cascade_config().modules:
        call("plans.cascade.start_module", cascade.start_module, mod)
        for p in mod.passes:
            call("plans.cascade.run_matching_pass", cascade.run_matching_pass, p)
        call("plans.cascade.confirm_piks", cascade.confirm_piks)
    call(
        "plans.hhcomp",
        lambda: build_hhcomp_reference_file(
            census, geobase_pre, cascade.confirmed_piks
        ).localCheckpoint(),
    )
    piked = call(
        "plans.cascade.attach_piks",
        lambda: cascade.attach_piks(st["census_raw"].select("record_id")).localCheckpoint(),
    )
    return {"cascade": cascade, "piked": piked}


def pass_counts(out: dict) -> list[list[int]]:
    return [[s.n_pairs_estimated, s.n_links] for s in out["cascade"].stats]


def observe(probe, st: dict, out: dict) -> dict:
    """The outputs the checks compare (notebook 04 scoring included)."""
    report = probe.call(
        "plans.accuracy", accuracy_report,
        out["piked"], st["census_ground_truth"], st["pik_simulants"],
    )
    return {
        "n_piked": report.n_piked,
        "n_records": report.n_records,
        "pik_coverage": report.piked_proportion,
        "pik_accuracy": report.accuracy_def1,
        "passes": pass_counts(out),
    }


def signature(out: dict) -> list[list[int]]:
    return pass_counts(out)


def expected(st: dict, golden: dict | None) -> dict | None:
    return golden


def check(probe, observed: dict, golden: dict | None) -> None:
    if golden is not None:
        for key in ("n_piked", "n_records", "passes"):
            probe.check(
                f"{NAME}.{key}", observed[key] == golden[key],
                f"got {observed[key]}, golden {golden[key]}",
            )
        probe.check(
            f"{NAME}.pik_accuracy",
            abs(observed["pik_accuracy"] - golden["pik_accuracy"]) <= ACCURACY_TOLERANCE,
            f"got {observed['pik_accuracy']}, golden {golden['pik_accuracy']}",
        )
        return
    lo, hi = COVERAGE_BAND
    probe.check(
        f"{NAME}.pik_coverage", lo <= observed["pik_coverage"] <= hi,
        f"{observed['pik_coverage']:.4f} outside [{lo}, {hi}]",
    )
    probe.check(
        f"{NAME}.pik_accuracy", observed["pik_accuracy"] >= MIN_ACCURACY_DEF1,
        f"{observed['pik_accuracy']:.4f} < {MIN_ACCURACY_DEF1}",
    )
    probe.check(
        f"{NAME}.passes", all(0 <= links <= pairs for pairs, links in observed["passes"]),
        f"pass (pairs, links) out of order: {observed['passes']}",
    )
