"""SRX-listings pipeline (SURVEY.md §3.2).

Reference: jobs/spark/srx_transformation.py:116-167. Raw scraped listing
JSON (31 string fields, FIXTURES.md §2) → conformed 27-column listing
layout.

Deviations:
- injected ``as_of_year`` replaces the driver clock
  (srx_transformation.py:86);
- the bedrooms UDF (srx_transformation.py:68-83) runs as a native
  Column expression by default (identical semantics incl. the
  stringify-then-cast NULL path); ``use_pandas_udf=True`` switches to
  the Arrow-vectorized variant to exercise the UDF surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import col

from ..functions.bedrooms import clean_bedrooms_expr, clean_bedrooms_pandas_udf
from ..functions.cleaning import (
    facilities_count,
    furnishing_category,
    money_to_int,
    normalize_missing_strings,
    pack_additional_info,
    postal_sector,
    psf_to_int,
    strip_emoji_and_newlines,
    strip_non_ascii,
    title_case_location,
)
from ..functions.dates import LEASE_YEARS
from ..operators.enrich import enrich
from ..plans.historical import SQM_TO_SQFT

_DROP_COLS = [
    "asking",
    "date_listed",
    "developer",
    "tenancy_status",
    "tenure",
    "psf",
    "floor_level",
    "floor_size_psf",
    "address",
    "size",
    "num_bedroom",
    "num_bathroom",
    "facilities",
    "schools",
    "shopping_mall/markets",
    "train_stations",
    "postal_sector",
    "description",
]


def conform_srx(df: DataFrame, as_of_year: int, use_pandas_udf: bool = False) -> DataFrame:
    bedrooms_clean = clean_bedrooms_pandas_udf if use_pandas_udf else clean_bedrooms_expr
    floor_area_sqm = F.trim(F.split(col("size"), "sqm").getItem(0)).cast("int")
    floor = F.lower(col("floor_level"))
    df = df.withColumnsRenamed(
        {"built_year": "top", "property_name": "street_name", "hdb_town": "general_location"}
    ).withColumns(
        {
            # 'CEA: R123456A / L3008022J' carries both licence numbers
            "agency_id": F.regexp_extract(col("agent_id"), r"(L\d{7}[A-Z])", 1),
            "agent_id": F.regexp_extract(col("agent_id"), r"(R\d{6}[A-Z])", 1),
            "agent_phone_num": F.split(col("agent_phone_num"), ":").getItem(1).cast("int"),
            "agent_name": strip_non_ascii(col("agent_name")),
            "post_code": F.regexp_extract(col("address"), r"\((\d+)\)", 1),
            "location": F.split(col("address"), " \\(").getItem(0),
            "description": strip_emoji_and_newlines(col("description")),
            "facilities_num": facilities_count(col("facilities")),
            "furnish": furnishing_category(col("furnish"), "not furnished"),
            "price": money_to_int(col("price")),
            "price_psf": psf_to_int(col("psf")),
            "floor_area_sqm": floor_area_sqm,
            "total_floor_area": F.round(floor_area_sqm * SQM_TO_SQFT).cast("int"),
            "property_type": F.trim(F.split(col("property_type"), "HDB").getItem(1)),
            "floor": F.when(floor == "mid", "middle").otherwise(floor),
            "street_name": F.initcap(col("street_name")),
            "bedrooms": bedrooms_clean(col("bedrooms")).cast("int"),
            "remaining_lease": LEASE_YEARS - (F.lit(as_of_year) - col("top")).cast("int"),
        }
    )
    return df.withColumns(
        {
            "location": title_case_location(col("location")),
            "postal_sector": postal_sector(col("post_code")),
            "additional_information": pack_additional_info(
                facilities=col("facilities"),
                schools=col("schools"),
                **{"shopping_malls/markets": col("shopping_mall/markets")},
                train_stations=col("train_stations"),
                description=col("description"),
            ),
        }
    )


def srx_pipeline(
    raw: DataFrame,
    district_code: DataFrame,
    district_region: DataFrame,
    agency: DataFrame,
    as_of_year: int,
    use_pandas_udf: bool = False,
) -> DataFrame:
    df = normalize_missing_strings(raw)
    df = conform_srx(df, as_of_year, use_pandas_udf)
    # J6-J8 (srx_transformation.py:146-148)
    df = enrich(df, district_code, on="postal_sector")
    df = enrich(df, district_region, on="district")
    df = enrich(df, agency, on="agency_id")
    df = normalize_missing_strings(df.drop(*_DROP_COLS))
    return df.withColumns({c: col(c).cast("int") for c in ("bathrooms", "top")})
