"""Propnex-listings pipeline (SURVEY.md §3.2).

Reference: jobs/spark/propnex_transformation.py:104-157. Raw scraped
listing JSON (25 string fields, FIXTURES.md §1) → conformed 27-column
listing layout.

Deviation: the driver-clock ``datetime.today().year`` baked into
remaining_lease (propnex_transformation.py:72) is replaced by an
injected ``as_of_year`` (SURVEY.md §4 hazard 2).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import col

from ..functions.cleaning import (
    facilities_count,
    furnishing_category,
    money_to_int,
    normalize_missing_strings,
    pack_additional_info,
    postal_sector,
    strip_emoji_and_newlines,
    title_case_location,
)
from ..functions.dates import LEASE_YEARS
from ..operators.enrich import enrich

PROPNEX_AGENCY = "PROPNEX REALTY PTE. LTD."
PROPNEX_AGENCY_ID = "L3008022J"

_DROP_COLS = [
    "floor_area_sqft",
    "listing_type",
    "property_group",
    "street_town_district",
    "tenure",
    "furnishing",
    "facilities",
    "agent_email",
    "postal_sector",
    "description",
    "district_new",
]


def conform_propnex(df: DataFrame, as_of_year: int) -> DataFrame:
    """Per-column cleanups (propnex_transformation.py:13-99) as two
    ``withColumns`` steps: the second reads what the first rewrote."""
    df = df.withColumns(
        {
            "agent_email": F.lower(col("agent_email")),
            "agent_id": F.substring_index(col("agent_id"), "#", -1),
            "agent_phone_num": F.substring_index(col("agent_phone_num"), " ", -1).cast("int"),
            "description": strip_emoji_and_newlines(col("description")),
            "floor_area_sqm": F.regexp_extract(col("floor_area_sqft"), r"\((\d+)\s*sqm\)", 1),
            "price": money_to_int(col("price")),
            "furnish": furnishing_category(col("furnishing"), "unfurnished"),
            # 'street\ntown (D16)' → town
            "general_location": F.split(
                F.split(col("street_town_district"), "\\n").getItem(1), " \\("
            ).getItem(0),
            "facilities_num": facilities_count(col("facilities")),
            "location": title_case_location(col("location")),
            "district": F.substring_index(col("district"), "D", -1).cast("int"),
            "floor": F.lower(F.split(col("floor"), " ").getItem(0)),
        }
    )
    # agency derived from the agent email domain (propnex has no
    # scraped agency column, propnex_transformation.py:65-69)
    is_propnex = col("agent_email").contains("propnex.com")
    return df.withColumns(
        {
            "price_psf": F.round(col("price") / col("total_floor_area")).cast("int"),
            # a bare '(D16)' second line means the town was missing → NULL
            "general_location": F.when(col("general_location").startswith("(D"), None).otherwise(
                col("general_location")
            ),
            # a purely-numeric location (block number only) falls back to
            # the street name (propnex_transformation.py:53-54)
            "location": F.when(
                F.trim(col("location")).rlike(r"^\d+$"), F.initcap(col("street_name"))
            ).otherwise(col("location")),
            "street_name": F.initcap(col("street_name")),
            "agency": F.when(is_propnex, PROPNEX_AGENCY).otherwise(None),
            "agency_id": F.when(is_propnex, PROPNEX_AGENCY_ID).otherwise(None),
            "remaining_lease": LEASE_YEARS - (F.lit(as_of_year) - col("top")).cast("int"),
            "additional_information": pack_additional_info(
                agent_email=col("agent_email"),
                facilities=col("facilities"),
                description=col("description"),
            ),
            "postal_sector": postal_sector(col("post_code")),
        }
    )


def propnex_pipeline(
    raw: DataFrame,
    district_code: DataFrame,
    district_region: DataFrame,
    as_of_year: int,
) -> DataFrame:
    df = normalize_missing_strings(raw)
    df = conform_propnex(df, as_of_year)
    # postal-sector join overwrites the scraped district (J4-J5,
    # propnex_transformation.py:128-132)
    df = enrich(
        df,
        district_code.select(
            col("district").alias("district_new"), "postal_sector", "zone"
        ),
        on="postal_sector",
    )
    df = df.withColumn("district", col("district_new"))
    df = enrich(df, district_region, on="district")
    # propnex never scrapes these; conformed layout still carries them
    df = (
        df.withColumns(
            {"property_type": F.lit(None).cast("string"), "model": F.lit(None).cast("string")}
        )
        .withColumnsRenamed({"num_bedroom": "bedrooms", "num_bathroom": "bathrooms"})
        .drop(*_DROP_COLS)
    )
    df = normalize_missing_strings(df)
    ints = ("bathrooms", "bedrooms", "top", "total_floor_area", "floor_area_sqm")
    return df.withColumns({c: col(c).cast("int") for c in ints})
