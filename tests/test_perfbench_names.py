"""The benchmark's traced runs wrap each ETL operator by replacing the
attribute of that name on ``dw_etl_spark.plans.star_schema``. A name
the plans module no longer imports makes ``--trace 1`` fail with
AttributeError before any work runs."""

from __future__ import annotations

from dw_etl_spark.plans import star_schema
from perfbench.metrics import BUILDERS, OPERATORS


def test_every_traced_operator_is_a_star_schema_attribute():
    missing = [
        name
        for names in OPERATORS.values()
        for name in names
        if not callable(getattr(star_schema, name, None))
    ]
    assert not missing, missing


def test_every_traced_plan_and_source_is_a_star_schema_attribute():
    names = ["build_star_schema", "read_table", *[f"build_{b}" for b in BUILDERS]]
    missing = [n for n in names if not callable(getattr(star_schema, n, None))]
    assert not missing, missing
