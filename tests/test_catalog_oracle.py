"""t2 rehearsal: every catalog query vs its DuckDB oracle at sf0.01."""

from __future__ import annotations

import pytest

from automotive_data_pipeline_demo_spark.plans.catalog import CATALOG
from tests.oracle_harness import compare, duckdb_conn


@pytest.fixture(scope="module")
def con(sf_dir):
    c = duckdb_conn(sf_dir)
    yield c
    c.close()


@pytest.mark.parametrize("spec", CATALOG, ids=[s.name for s in CATALOG])
def test_oracle_match(spec, spark, sf_dir, con):
    df = spec.build(spark, sf_dir)
    # the external driver's canonicalizer (pandas sort_values over every
    # column) dies on unhashable cells — array/map/struct outputs must be
    # rendered to strings per the catalog determinism rule (x_text_postings
    # was driver-red for a round on exactly this while passing locally)
    for f in df.schema.fields:
        assert f.dataType.typeName() not in ("array", "map", "struct"), (
            f"{spec.name}: column {f.name} is {f.dataType.simpleString()} — "
            "render it to a string/digest for the driver"
        )
    spark_pdf = df.toPandas()
    oracle_pdf = con.execute(spec.oracle).fetchdf()
    problems = compare(spark_pdf, oracle_pdf)
    assert not problems, f"{spec.name}: " + "; ".join(problems)

