"""Hard gate: no oracled query may output a list/struct/map column.

A pandas canonicalizer sorts results with sort_values, which crashes on
list-typed cells. Serialize array outputs to
strings (array_to_string / F.array_join) in BOTH projections instead. This
static DuckDB DESCRIBE sweep catches the whole class at authoring time with
no Spark session.
"""

from __future__ import annotations

import os

import pytest

from data_integration_and_processing_spark.queries import catalog
from data_integration_and_processing_spark.queries.oracle_lint import (
    complex_oracle_outputs,
    date_oracle_outputs,
    decimal_percentile_orderings,
    is_complex_type,
    negative_zero_frame_columns,
    negative_zero_oracle_outputs,
)

SF_DIR = os.environ.get("SPARK_GRAFT_LINT_SF_DIR", "/root/testdata/sf0.001")


@pytest.mark.skipif(not os.path.isdir(SF_DIR), reason="testdata not present")
def test_no_complex_output_columns_in_any_oracle():
    catalog._load()
    oracles = {s.name: s.oracle for s in catalog._REGISTRY.values() if s.oracle is not None}
    bad = complex_oracle_outputs(oracles, SF_DIR)
    assert bad == {}, (
        "oracled queries with list/struct/map output columns (driver canon "
        f"crashes on these — serialize to strings on both sides): {bad}"
    )


def test_is_complex_type_markers():
    assert is_complex_type("BIGINT[]")
    assert is_complex_type("TINYINT[3]")
    assert is_complex_type("STRUCT(a INTEGER)")
    assert is_complex_type("MAP(VARCHAR, BIGINT)")
    # dtype-divergence classes: uncast DuckDB aggregates
    assert is_complex_type("HUGEINT")
    assert is_complex_type("DECIMAL(12,2)")
    assert not is_complex_type("VARCHAR")
    assert not is_complex_type("BIGINT")
    assert not is_complex_type("DOUBLE")
    assert not is_complex_type("TIMESTAMP")


@pytest.mark.skipif(not os.path.isdir(SF_DIR), reason="testdata not present")
def test_no_negative_zero_in_any_oracle_output():
    """Fourth canon-divergence class: DuckDB round() keeps the
    IEEE sign bit, Spark F.round strips it, and the driver's repr canon
    renders -0.0 vs 0.0 differently. Execute every oracle at sf0.001 and
    reject any signed-zero cell — normalize with `round(...) + 0`."""
    catalog._load()
    oracles = {s.name: s.oracle for s in catalog._REGISTRY.values() if s.oracle is not None}
    bad = negative_zero_oracle_outputs(oracles, SF_DIR)
    assert bad == {}, (
        "oracles emitting IEEE -0.0 (driver canon renders it differently "
        f"from Spark's +0.0 — add `+ 0` to the round()/arithmetic): {bad}"
    )


@pytest.mark.skipif(not os.path.isdir(SF_DIR), reason="testdata not present")
def test_negative_zero_sweep_flags_a_probe():
    # the DOUBLE path is the one that keeps the sign bit (DECIMAL round
    # normalizes it) — the temporal_event_deltas shape
    bad = negative_zero_oracle_outputs(
        {
            "probe": "SELECT round(CAST(-0.0000001 AS DOUBLE), 3) AS z",
            "clean": "SELECT round(CAST(-0.0000001 AS DOUBLE), 3) + 0 AS z",
        },
        SF_DIR,
    )
    assert bad == {"probe": ["z"]}


def test_negative_zero_frame_columns_detects_sign_bit():
    import pandas as pd

    pdf = pd.DataFrame({"a": [0.0, 1.5], "b": [-0.0, 2.0], "c": [1, 2], "d": ["x", "y"]})
    assert negative_zero_frame_columns(pdf) == ["b"]


@pytest.mark.skipif(not os.path.isdir(SF_DIR), reason="testdata not present")
def test_no_decimal_percentile_orderings_in_any_oracle():
    """Fifth canon-divergence class:
    DuckDB percentile_cont over a DECIMAL ORDER BY returns the interpolated
    boundary rounded to the decimal's scale (rounding mode build-dependent)
    while Spark interpolates in DOUBLE — strict comparisons at the grain flip
    between engines. INTEGER/BIGINT orderings round identically under an input-typed build, so every
    percentile site's ORDER BY expression must now probe to DOUBLE/FLOAT
    (allowlist, not blocklist); fix = CAST(... AS DOUBLE) on BOTH sides.
    ``__unparsed__`` entries mean the probe could not resolve a site's CTE
    context — also a failure (the lint must see every site)."""
    catalog._load()
    oracles = {s.name: s.oracle for s in catalog._REGISTRY.values() if s.oracle is not None}
    bad = decimal_percentile_orderings(oracles, SF_DIR)
    assert bad == {}, (
        "percentile_cont/disc over a non-DOUBLE ORDER BY (build-dependent "
        f"boundary rounding — interpolate in DOUBLE on both engines): {bad}"
    )


@pytest.mark.skipif(not os.path.isdir(SF_DIR), reason="testdata not present")
def test_decimal_percentile_probe_flags_the_rfm_shape():
    """Seeded negative: the rfm shape (DECIMAL monetary inside a
    CTE, percentile in a second CTE) must be flagged, and the DOUBLE-cast
    fix must clear it — proving the probe resolves CTE context correctly."""
    bad_sql = """
    WITH cust AS (
        SELECT o_custkey, sum(CAST(o_totalprice AS DECIMAL(18,2))) AS monetary
        FROM orders GROUP BY o_custkey
    )
    SELECT round(CAST(percentile_cont(0.25) WITHIN GROUP (ORDER BY monetary) AS DOUBLE), 6) AS m25
    FROM cust
    """
    fixed_sql = bad_sql.replace("ORDER BY monetary", "ORDER BY CAST(monetary AS DOUBLE)")
    # BIGINT orderings (date_diff / count(*))
    # must ALSO be flagged — the widened allowlist admits only DOUBLE/FLOAT
    bigint_sql = """
    WITH cust AS (SELECT o_custkey, count(*) AS frequency FROM orders GROUP BY o_custkey)
    SELECT percentile_cont(0.5) WITHIN GROUP (ORDER BY frequency) AS f50 FROM cust
    """
    bad = decimal_percentile_orderings(
        {"probe": bad_sql, "clean": fixed_sql, "probe_int": bigint_sql}, SF_DIR
    )
    assert set(bad) == {"probe", "probe_int"}
    assert "DECIMAL" in bad["probe"][0]
    assert "BIGINT" in bad["probe_int"][0]


@pytest.mark.skipif(not os.path.isdir(SF_DIR), reason="testdata not present")
def test_no_new_date_output_columns_in_any_oracle():
    """Sixth class: bare DATE output columns materialize as
    datetime.date vs datetime64 between engines under some canons. Existing
    DATE emitters hash-match and are allowlisted; NEW oracles must cast
    DATE outputs to VARCHAR on both sides."""
    catalog._load()
    oracles = {s.name: s.oracle for s in catalog._REGISTRY.values() if s.oracle is not None}
    bad = date_oracle_outputs(oracles, SF_DIR)
    assert bad == {}, (
        f"non-allowlisted oracles with bare DATE output columns (cast to "
        f"VARCHAR in BOTH engines): {bad}"
    )


@pytest.mark.skipif(not os.path.isdir(SF_DIR), reason="testdata not present")
def test_date_output_sweep_flags_a_probe():
    bad = date_oracle_outputs(
        {
            "probe": "SELECT CAST(o_orderdate AS DATE) AS d FROM orders LIMIT 1",
            "clean": "SELECT CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS d FROM orders LIMIT 1",
        },
        SF_DIR,
    )
    assert bad == {"probe": ["d DATE"]}


@pytest.mark.skipif(not os.path.isdir(SF_DIR), reason="testdata not present")
def test_sweep_flags_an_array_output():
    bad = complex_oracle_outputs(
        {"probe": "SELECT r_regionkey, list(r_name) AS names FROM region GROUP BY 1"},
        SF_DIR,
    )
    assert "probe" in bad and any("names" in c for c in bad["probe"])


ROUND_SF_DIR = os.environ.get("SPARK_GRAFT_ROUND_LINT_SF_DIR", "/root/testdata/sf0.01")


@pytest.mark.skipif(not os.path.isdir(ROUND_SF_DIR), reason="testdata not present")
def test_no_round_tie_risk_in_any_oracle():
    """Fifth canon-divergence class:
    round(<double expr>, k) on a hashed column diverges between engines when
    the exact value lands on a round-half tie at decimal k+1 (Spark HALF_UP
    on the decimal expansion vs DuckDB binary rounding). Flag criterion is
    the judge's: any aliased round(., k) output whose magnitude reaches
    10^(9-k) at the driver's SF. Fixes: quotient shapes -> exact
    integer-micro `div`; exact-decimal-grid or deterministic-binary64 shapes
    -> ROUND_TIE_ALLOWLIST with the justification recorded."""
    from data_integration_and_processing_spark.queries.oracle_lint import (
        round_tie_risk_columns,
    )

    catalog._load()
    oracles = {s.name: s.oracle for s in catalog._REGISTRY.values() if s.oracle is not None}
    bad = round_tie_risk_columns(oracles, ROUND_SF_DIR)
    assert bad == {}, (
        "hashed round(.,k) columns that can reach a cross-engine round-half "
        f"tie (convert to integer-micro div or justify in the allowlist): {bad}"
    )


@pytest.mark.skipif(not os.path.isdir(ROUND_SF_DIR), reason="testdata not present")
def test_round_tie_sweep_flags_a_probe():
    from data_integration_and_processing_spark.queries.oracle_lint import (
        round_tie_risk_columns,
    )

    bad = round_tie_risk_columns(
        {
            # the rfm shape: >=1e4-magnitude money quotient rounded at 6
            "probe": "SELECT round(68570553.99 / 32, 6) AS avg_monetary",
            # the temporal_stl_lite shape: a rational
            # quotient is flagged at ANY magnitude — no bar
            "small": "SELECT round(1.0 / 3, 6) AS tiny",
            # ... but a site whose value passes through an irrationalizing
            # function cannot sit exactly on a decimal tie -> not flagged
            "irr": "SELECT round(sqrt(2.0) / 3, 6) AS root",
            # and a non-quotient below the magnitude bar stays clean
            "plain": "SELECT round(1.5 + 0.25, 6) AS s",
        },
        ROUND_SF_DIR,
    )
    assert "probe" in bad and "small" in bad, bad
    assert "irr" not in bad and "plain" not in bad, bad
    assert "QUOTIENT" in bad["probe"][0]
    assert "sub-bar" in bad["small"][0]
