"""The four dimension seeds plan as JVM-side ``LocalRelation``s that keep
their declared schema: a broadcast of one never starts a Python worker."""

from __future__ import annotations

import pytest

from hdb_resale_price_data_pipeline_spark import schemas, seeds

SEEDS = {
    "town_district": (seeds.TOWN_DISTRICT_ROWS, schemas.TOWN_DISTRICT_SCHEMA),
    "district_code": (seeds.DISTRICT_CODE_ROWS, schemas.DISTRICT_CODE_SCHEMA),
    "district_region": (seeds.DISTRICT_REGION_ROWS, schemas.DISTRICT_REGION_SCHEMA),
    "agency": (seeds.AGENCY_ROWS, schemas.AGENCY_SCHEMA),
}


@pytest.mark.core
@pytest.mark.parametrize("name", sorted(SEEDS))
def test_seed_is_local_relation_with_declared_schema(spark, name):
    rows, schema = SEEDS[name]
    df = getattr(seeds, name)(spark)
    assert df.schema == schema  # StructType equality includes nullability
    assert [tuple(r) for r in df.collect()] == rows
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert plan.startswith("LocalRelation"), plan
    assert "LogicalRDD" not in plan
