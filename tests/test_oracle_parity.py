"""Every workload query vs its DuckDB oracle — the driver's t2 gate,
run at sf0.001 (fast, per-test) and sf0.01 (the driver's actual scale).
"""

from __future__ import annotations

import pytest

import etl_demos_spark.workload_ext  # noqa: F401  (populates REGISTRY)
from etl_demos_spark.workload import REGISTRY
from tests.conftest import SF_DIR, SF_DIR_MED
from tests.parity import compare
from tests.test_reference_fixtures import REF_DATA

# q_bank_mart's query and oracle both read the reference CSV fixtures,
# not the generated tables
_REFERENCE_ONLY = {"q_bank_mart"}
_REFERENCE_ABSENT = not (REF_DATA / "customers.csv").exists()
_needs_reference = pytest.mark.skipif(
    _REFERENCE_ABSENT, reason="reference fixtures not present"
)


def _params(names):
    return [
        pytest.param(n, marks=_needs_reference) if n in _REFERENCE_ONLY else n
        for n in names
    ]


ORACLE_QUERIES = sorted(n for n, e in REGISTRY.items() if e.oracle is not None)
ROWS_ONLY_QUERIES = sorted(n for n, e in REGISTRY.items() if e.oracle is None)


@pytest.mark.parametrize("name", _params(ORACLE_QUERIES))
def test_parity_small(spark, duck, name):
    e = REGISTRY[name]
    ok, msg = compare(e.fn(spark, SF_DIR), duck.sql(e.oracle))
    assert ok, f"{name}: {msg}"


@pytest.mark.slow
@pytest.mark.parametrize("name", _params(ORACLE_QUERIES))
def test_parity_medium(spark, duck_med, name):
    e = REGISTRY[name]
    ok, msg = compare(e.fn(spark, SF_DIR_MED), duck_med.sql(e.oracle))
    assert ok, f"{name}: {msg}"


@pytest.mark.parametrize("name", ROWS_ONLY_QUERIES)
def test_rows_only_runs(spark, name):
    """Queries without SQL-expressible oracles must still run and return a
    stable schema (the driver's weaker rows-only check)."""
    df = REGISTRY[name].fn(spark, SF_DIR)
    assert df.count() >= 0
    assert len(df.columns) > 0


def test_entry_smoke(spark):
    import __spark_entry__ as ent

    df = ent.entry(spark)
    assert df.count() > 0
    assert set(ent.oracle_sql()) <= set(ent.queries())


def test_driver_window_slots_all_carry_oracles():
    """The fixed registration order (workload.py _LATE): every one of
    the first 50 slots (the external check window) must hold an
    oracle-paired query, and _LATE must only name registered
    queries."""
    from etl_demos_spark.workload import _LATE, ordered_names

    names = ordered_names()
    assert len(names) >= 50
    rows_only = {n for n, e in REGISTRY.items() if e.oracle is None}
    window = names[:50]
    assert not (set(window) & rows_only), set(window) & rows_only
    assert set(_LATE) <= set(REGISTRY), set(_LATE) - set(REGISTRY)


def test_window_schemas_are_driver_canonicalizable(spark):
    """The driver canonicalizes results by sorting RAW pandas cells —
    a top-level Array/Map/Struct column crashes its canon with
    `unhashable type: numpy.ndarray` (exactly how q_image_features
    burned its first driver slot in r05 while the more forgiving local
    mirror, tests/parity.py, tuple-normalized and stayed green). This
    lint closes that divergence: every in-window query's result schema
    must be scalar-only at the top level. Out-of-window queries may
    return arrays (the local mirror handles them), so only the 50
    window slots are asserted; a slot whose inputs are absent here is
    skipped."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    from etl_demos_spark.workload import ordered_names

    offenders = {}
    for name in ordered_names()[:50]:
        if _REFERENCE_ABSENT and name in _REFERENCE_ONLY:
            continue
        df = REGISTRY[name].fn(spark, SF_DIR)
        bad = [
            f.name
            for f in df.schema.fields
            if isinstance(f.dataType, (ArrayType, MapType, StructType))
        ]
        if bad:
            offenders[name] = bad
    assert not offenders, f"non-scalar top-level columns in window slots: {offenders}"
