"""Historical-transactions pipeline (SURVEY.md §3.1).

Reference: jobs/spark/historical_data_transformation.py:82-126. Raw
data.gov.sg resale CSVs (10 conformed string columns) → cleaned,
dim-enriched, typed 17-column table.

Deviations (documented, SURVEY.md §4):
- errors re-raise instead of ``sys.exit(1)`` swallowing them;
- the whole transform is one ``select`` composition — Catalyst collapses
  it to a single projection over the scan, so the job stays a
  shuffle-free map pipeline with three broadcast joins (§3.3).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import col

from ..functions.dates import LEASE_YEARS, month_string_to_date
from ..operators.enrich import enrich
from ..schemas import HISTORICAL_COLUMNS

SQM_TO_SQFT = 3.28084 * 3.28084


def conform_historical(df: DataFrame) -> DataFrame:
    """Casing, renames, unit conversion, date derivations
    (historical_data_transformation.py:29-54)."""
    df = df.withColumnsRenamed(
        {"flat_model": "model", "resale_price": "price", "lease_commence_date": "top"}
    ).withColumns(
        {
            "general_location": F.initcap(col("town")),
            "street_name": F.initcap(col("street_name")),
            # '4 Room' → '4 Rooms'; 'Multi Generation' → 'Multi-generation'
            "property_type": F.regexp_replace(
                F.regexp_replace(F.initcap(col("flat_type")), "Room", "Rooms"),
                "Multi G",
                "Multi-g",
            ),
            "total_floor_area": F.round(col("floor_area_sqm") * SQM_TO_SQFT).cast("int"),
            "date_of_sale": month_string_to_date(col("month")),
        }
    )
    return df.withColumns(
        {
            "year": F.year("date_of_sale"),
            "month": F.month("date_of_sale"),
            "remaining_lease": LEASE_YEARS
            - (F.year("date_of_sale") - col("top")).cast("int"),
        }
    )


def enrich_districts(
    df: DataFrame,
    town_district: DataFrame,
    district_code: DataFrame,
    district_region: DataFrame,
) -> DataFrame:
    """Three broadcast left joins (J1-J3,
    historical_data_transformation.py:59-63,102-104): town→district on a
    case-normalized key, district→zone on the *de-duplicated* sector
    table (81 rows → district grain; joining raw would fan out ×~3),
    district→region."""
    df = df.withColumn("general_location", F.lower("general_location"))
    df = enrich(
        df,
        town_district.withColumn("general_location", F.lower("general_location")),
        on="general_location",
    )
    # initcap lower-cases the letter after '/' — restore 'Kallang/Whampoa'
    df = df.withColumn(
        "general_location",
        F.regexp_replace(F.initcap("general_location"), r"/w", "/W"),
    )
    df = enrich(df, district_code, on="district", dim_project=["district", "zone"], dim_distinct=True)
    df = enrich(df, district_region, on="district")
    return df


def historical_pipeline(
    raw: DataFrame,
    town_district: DataFrame,
    district_code: DataFrame,
    district_region: DataFrame,
) -> DataFrame:
    """Full pipeline: conform → enrich → type → canonical 17 columns."""
    df = conform_historical(raw)
    df = enrich_districts(df, town_district, district_code, district_region)
    ints = {"district", "floor_area_sqm", "top", "price"}
    return df.select(
        [col(c).cast("int").alias(c) if c in ints else col(c) for c in HISTORICAL_COLUMNS]
    )
