"""Numeric-kernel invariants (mirrors reference MathUtilsTest, SURVEY §5):
multinomial samples sum to size, vary across iterations, degenerate case."""

import subprocess
import sys
from pathlib import Path

import numpy as np

from platform_etl_openfda_faers_spark.operators.montecarlo import (
    _critical_value,
    _drug_seed,
    _llr_matrix,
)


def test_multinomial_samples_sum_to_size():
    rng = np.random.default_rng(1)
    x = rng.multinomial(100, np.array([0.2, 0.3, 0.5]), size=50)
    assert (x.sum(axis=1) == 100).all()


def test_multinomial_varies_across_iterations():
    rng = np.random.default_rng(1)
    x = rng.multinomial(100, np.array([0.2, 0.3, 0.5]), size=50)
    assert len({tuple(r) for r in x}) > 1


def test_multinomial_degenerate_single_option():
    rng = np.random.default_rng(1)
    x = rng.multinomial(7, np.array([1.0]), size=10)
    assert (x == 7).all()


def test_critical_value_deterministic_per_seed():
    n_i = np.array([50.0, 30.0, 20.0, 10.0])
    a = _critical_value(40, n_i, 200, 100, 0.95, _drug_seed(42, "CHEMBL1"))
    b = _critical_value(40, n_i, 200, 100, 0.95, _drug_seed(42, "CHEMBL1"))
    c = _critical_value(40, n_i, 200, 100, 0.95, _drug_seed(42, "CHEMBL2"))
    assert a == b
    assert a != c  # independent stream per drug


def test_critical_value_positive_and_monotone_in_percentile():
    n_i = np.array([50.0, 30.0, 20.0, 10.0])
    lo = _critical_value(40, n_i, 200, 200, 0.50, _drug_seed(42, "X"))
    hi = _critical_value(40, n_i, 200, 200, 0.99, _drug_seed(42, "X"))
    assert 0 < lo <= hi


def test_critical_value_handles_zero_cells():
    # a reaction with tiny base count produces X=0 cells -> NaN/Inf zeroed
    n_i = np.array([1.0, 199.0])
    v = _critical_value(5, n_i, 200, 100, 0.95, _drug_seed(42, "X"))
    assert np.isfinite(v)


def test_critical_value_golden_pinned():
    """Golden regression gate for the seeded kernel: faers_significant is
    rows-only at the oracle (stochastic MC has no SQL twin), so a silent
    kernel regression could hide behind the row-count check.  The per-drug
    hash-derived RNG streams are partition-layout independent, making these
    exact values stable across any execution plan — if one changes, the
    KERNEL changed (NumPy multinomial law, LLR formula, percentile rule, or
    the seed derivation), which must be a deliberate, documented act."""
    cases = [
        ("CHEMBL25", 40, [50.0, 30.0, 20.0, 10.0], 200, 9.50118118820643),
        ("CHEMBL1201", 12, [5.0, 90.0, 33.0], 150, 3.0933407966261157),
        ("X", 5, [1.0, 199.0], 200, 0.0),
    ]
    for drug, n_j, n_i, total, expect in cases:
        got = _critical_value(
            n_j, np.array(n_i), total, 100, 0.95, _drug_seed(42, drug)
        )
        assert got == expect, (drug, got, expect)


def test_critical_values_dataframe_golden_pinned(spark):
    """Same golden gate one level up, through the grouped UDF path:
    locks the sorted-reaction n_i assembly (A4), per-drug seeding through
    the UDF, and the Python-worker plumbing.  CHEMBL25's value deliberately differs
    from the kernel-only golden above because the pipeline sorts reactions
    alphabetically before building n_i — pinning both catches a regression
    in either half."""
    from platform_etl_openfda_faers_spark.operators.montecarlo import (
        critical_values,
    )

    rows = [
        ("CHEMBL25", "NAUSEA", 20, 40, 50, 200),
        ("CHEMBL25", "HEADACHE", 10, 40, 30, 200),
        ("CHEMBL25", "RASH", 6, 40, 20, 200),
        ("CHEMBL25", "FATIGUE", 4, 40, 10, 200),
        ("CHEMBL1201", "NAUSEA", 4, 12, 5, 150),
        ("CHEMBL1201", "DIZZINESS", 6, 12, 90, 150),
        ("CHEMBL1201", "RASH", 2, 12, 33, 150),
    ]
    df = spark.createDataFrame(
        rows,
        ["chembl_id", "reaction_reactionmeddrapt", "A",
         "uniq_report_ids_by_drug", "uniq_report_ids_by_reaction",
         "uniq_reports_total"],
    )
    got = {
        r.chembl_id: r.critval
        for r in critical_values(df, permutations=100, seed=42).collect()
    }
    assert got == {
        "CHEMBL25": 8.218699724625111,
        "CHEMBL1201": 3.0933407966261157,
    }, got


def _llr_matrix_expression(x, y, z, big_n):
    """The LLR as one NumPy expression (a temporary per operation): the
    form ``_llr_matrix`` evaluates in place, kept as its law."""
    with np.errstate(divide="ignore", invalid="ignore"):
        llrs = (
            x * (np.log(x) - np.log(y))
            + (z - x) * (np.log(z - x) - np.log(big_n - y))
            - z * np.log(z)
            + z * np.log(big_n)
        )
    llrs[~np.isfinite(llrs)] = 0.0
    return llrs


def test_llr_matrix_in_place_is_bit_identical_to_expression():
    """Zero cells (ln 0), full cells (z - x = 0) and wide rows included."""
    rng = np.random.default_rng(2024)
    for _ in range(300):
        k = int(rng.integers(1, 60))
        y = rng.integers(1, 500, size=k).astype(np.float64)
        n_j = int(rng.integers(1, 200))
        big_n = float(y.sum() + rng.integers(n_j, 1000))
        x = rng.multinomial(n_j, y / y.sum(), size=int(rng.integers(1, 80)))
        x = x.astype(np.float64)
        want = _llr_matrix_expression(x.copy(), y, float(n_j), big_n)
        got = _llr_matrix(x.copy(), y, float(n_j), big_n)
        assert got.shape == want.shape
        assert np.array_equal(got.view(np.uint64), want.view(np.uint64))


def test_montecarlo_import_keeps_workers_lean():
    """A Python worker unpickling the critical-value UDF imports this
    module; with one worker per core, pandas + pyarrow (~109 MiB each)
    would show up in the run's peak RSS.  A fresh interpreter importing
    it must load neither."""
    code = (
        "import sys\n"
        "import platform_etl_openfda_faers_spark.operators.montecarlo\n"
        "print(sorted(m for m in ('pandas', 'pyarrow') if m in sys.modules))\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code],
        cwd=Path(__file__).resolve().parent.parent,
        capture_output=True, text=True, check=True,
    )
    assert out.stdout.strip() == "[]", out.stdout
