"""Seeded raw inputs for the ``daily_dag`` workload.

One call writes a historical CSV snapshot (the data.gov.sg download is a
full snapshot, so every day re-reads the same files) and one pair of
propnex/srx listing JSON files per day. Rows come from the row builders in
``sources/synthetic.py``, so the reference shapes survive: multi-vintage
CSV (later vintages add ``remaining_lease``), ``'None'`` strings, emoji
descriptions and cross-source ``(location, price)`` duplicates.

The generator also predicts what each day must load, so answers can be
checked without trusting the engine's own counters.
"""

from __future__ import annotations

import json
import os
import random

from hdb_resale_price_data_pipeline_spark.sources.synthetic import (
    _FLAT_TYPES,
    _MODELS,
    _STOREYS,
    _TOWNS,
    _propnex_row,
    _srx_row,
)

CSV_ROWS = 20_000
CSV_VINTAGES = 4
LISTINGS_PER_PORTAL = 10_000
DUP_SHARE = 0.10
_BASE_COLS = (
    "month,town,flat_type,block,street_name,storey_range,floor_area_sqm,"
    "flat_model,lease_commence_date,resale_price"
)
# A generated set is complete once this marker exists; a run that dies
# half-way through generation leaves no marker and is regenerated.
_DONE = "inputs.json"


def _listing_key(i: int, town: str, price: int) -> tuple:
    """Identity the merge dedups on, in generator terms: both builders
    derive the cleaned location from ``i`` and the town."""
    return (100 + i % 800, town, i % 90 + 1, price)


def _write_csvs(d: str, rng: random.Random) -> None:
    os.makedirs(d, exist_ok=True)
    per = CSV_ROWS // CSV_VINTAGES
    for v in range(CSV_VINTAGES):
        extra = v >= CSV_VINTAGES // 2
        lines = [_BASE_COLS + (",remaining_lease" if extra else "")]
        for j in range(per):
            i = rng.randrange(1_000_000)
            town, _ = rng.choice(_TOWNS)
            row = [
                f"{2015 + v}-{j % 12 + 1:02d}",
                town,
                rng.choice(_FLAT_TYPES),
                str(100 + i % 800),
                f"{town} STREET {i % 90 + 1}",
                rng.choice(_STOREYS),
                str(rng.randrange(60, 170)),
                rng.choice(_MODELS),
                str(rng.randrange(1970, 2015)),
                str(rng.randrange(250_000, 950_000)),
            ]
            if extra:
                row.append(f"{rng.randrange(50, 95)} years")
            lines.append(",".join(row))
        with open(os.path.join(d, f"resale_{2015 + v}.csv"), "w") as f:
            f.write("\n".join(lines) + "\n")


def _write_day(d: str, day: int, rng: random.Random) -> dict:
    """One day's listings. Ids are disjoint across days, so every day is
    data the session has not seen."""
    os.makedirs(d, exist_ok=True)
    n = LISTINGS_PER_PORTAL
    base = 2_000_000 * (day + 1)
    ids = rng.sample(range(base, base + 1_000_000), 2 * n)
    listings = [
        (i, *rng.choice(_TOWNS), rng.randrange(300_000, 1_200_000, 1_000)) for i in ids
    ]
    n_dup = int(n * DUP_SHARE)
    # the first n_dup srx rows list the same flats as propnex rows: same
    # cleaned (location, price), different null counts
    srx_listings = listings[:n_dup] + listings[n + n_dup:]
    propnex = [_propnex_row(*row) for row in listings[:n]]
    srx = [_srx_row(*row) for row in srx_listings]
    keys = {_listing_key(i, town, price) for i, town, _, price in listings[:n] + srx_listings}
    rng.shuffle(srx)
    paths = {"propnex": os.path.join(d, "propnex.json"), "srx": os.path.join(d, "srx.json")}
    for name, rows in (("propnex", propnex), ("srx", srx)):
        with open(paths[name], "w") as f:
            json.dump(rows, f, indent=1)
    return {**paths, "rows_in": 2 * n, "scraped_rows": len(keys)}


def generate(out_dir: str, seed: int, days: int) -> dict:
    """Write (or reuse) the inputs for ``seed`` and return their manifest:
    the CSV dir, per-day JSON paths and the predicted loaded row counts."""
    manifest_path = os.path.join(out_dir, _DONE)
    if os.path.exists(manifest_path):
        with open(manifest_path) as f:
            manifest = json.load(f)
        if len(manifest["days"]) >= days:
            return manifest
    rng = random.Random(seed)
    csv_dir = os.path.join(out_dir, "historical_csv")
    _write_csvs(csv_dir, rng)
    day_list = [_write_day(os.path.join(out_dir, f"day{k}"), k, rng) for k in range(days)]
    input_bytes = sum(os.path.getsize(os.path.join(csv_dir, f)) for f in os.listdir(csv_dir))
    manifest = {
        "csv_dir": csv_dir,
        "csv_bytes": input_bytes,
        "historical_rows": CSV_ROWS,
        "days": day_list,
    }
    for day in day_list:
        day["json_bytes"] = os.path.getsize(day["propnex"]) + os.path.getsize(day["srx"])
    with open(manifest_path, "w") as f:
        json.dump(manifest, f)
    return manifest
