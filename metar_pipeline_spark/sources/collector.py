"""METAR collection source — the S1 REST poller, Spark-first.

The reference's collector (/root/reference/src/collector/main.py) does
one HTTP GET per cycle for 20 ICAO stations (main.py:53-69), then
normalizes each nested JSON document to a flat 30-field dict in a Python
loop (`normalize_metar`, main.py:86-172) before inserting into Mongo
(main.py:184-186).

Here the HTTP fetch stays a driver-side callable (it is inherently not a
Catalyst concern — ~20 tiny rows per 30-min cycle, SURVEY.md §2.1 S1),
but ALL normalization moves into one declarative wide projection:
``from_json`` against an explicit StructType (PERMISSIVE → missing keys
become NULL, ≡ dict.get chains / Postgres ``->>``), struct-field access
(≡ `_get_nested`, main.py:72-83), `element_at` with size guard
(≡ coordinate extraction, main.py:104-109), `coalesce`
(≡ ``raw_text or raw``, main.py:115) and literal audit columns
(main.py:168-169). The projection is distributed, codegen'd, and — the
real win — identical whether the input is 20 rows from the poller or
10^9 rows replayed from a bronze archive.

Unlike the reference, a fetch error FAILS the batch (the reference
swallows exceptions and exits 0, main.py:191-195 — SURVEY.md §3.1 flags
this as a bug not to replicate).
"""

from __future__ import annotations

import json
from collections.abc import Callable, Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from metar_pipeline_spark.io import local_frame
from metar_pipeline_spark.schemas import (
    METAR_NESTED_SCHEMA,
    RUS_TOP20_ICAO,
)

# Type of the injectable fetcher: icao list -> list of raw JSON document
# strings (the decoded METAR payloads the CheckWX-style API returns in
# payload["data"]). Production wires an HTTP client here; tests inject a
# deterministic fake.
Fetcher = Callable[[Iterable[str]], list[str]]


def raw_to_bronze(spark: SparkSession, raw_docs: list[str]) -> DataFrame:
    """Raw JSON document strings → bronze DataFrame (id, payload,
    inserted_at) ≡ public.metar_raw_json
    (/root/reference/src/etl/mongo_to_postgres.py:58-64). The id is a
    content hash of the payload (the reference uses the Mongo ObjectId;
    a content address is deterministic and replay-safe). The documents
    enter the engine as a JVM-local relation (``io.local_frame``), so
    no Python worker runs per batch."""
    df = local_frame(spark, [(d,) for d in raw_docs], "payload string")
    return df.select(
        F.md5("payload").alias("id"),
        "payload",
        F.current_timestamp().alias("inserted_at"),
    )


def normalize_bronze(bronze: DataFrame) -> DataFrame:
    """Bronze (payload JSON string) → flat typed observations.

    One wide select replacing the reference's normalize_metar Python
    loop (/root/reference/src/collector/main.py:86-172). PERMISSIVE
    from_json ⇒ missing/corrupt fields → NULL (SURVEY.md §1.2).
    """
    m = F.from_json("payload", METAR_NESTED_SCHEMA, {"mode": "PERMISSIVE"})
    coords = m["station"]["geometry"]["coordinates"]
    return bronze.select(
        "id",
        m["icao"].alias("icao"),
        m["observed"].cast("timestamp").alias("observed"),
        m["flight_category"].alias("flight_category"),
        m["temperature"]["celsius"].alias("temperature_c"),
        m["dewpoint"]["celsius"].alias("dewpoint_c"),
        m["wind"]["degrees"].alias("wind_dir_deg"),
        m["wind"]["speed_kts"].alias("wind_speed_kt"),
        m["wind"]["gust_kts"].alias("wind_gust_kt"),
        m["visibility"]["meters_float"].alias("visibility_m"),
        m["barometer"]["hpa"].alias("barometer_hpa"),
        m["humidity"]["percent"].alias("humidity_percent"),
        m["station"]["name"].alias("station_name"),
        m["station"]["location"].alias("station_location"),
        # GeoJSON [lon, lat] with length guard (main.py:104-109)
        F.when(F.size(coords) >= 2, F.element_at(coords, 1)).alias(
            "station_lon"
        ),
        F.when(F.size(coords) >= 2, F.element_at(coords, 2)).alias(
            "station_lat"
        ),
        # raw_text or raw fallback (main.py:115)
        F.coalesce(m["raw_text"], m["raw"]).alias("raw_text"),
        F.lit("checkwx").alias("source"),  # main.py:168
        "inserted_at",
    )


def collect_once(
    spark: SparkSession,
    fetcher: Fetcher,
    icaos: list[str] | None = None,
) -> DataFrame:
    """One collection cycle: fetch → bronze → normalized flat frame.

    ≡ collect_and_store_once (/root/reference/src/collector/main.py:175-188),
    minus the sinks — callers append the result to bronze/silver tables
    (io/merge modules)."""
    docs = fetcher(icaos or RUS_TOP20_ICAO)
    return normalize_bronze(raw_to_bronze(spark, docs))


def http_fetcher(
    base_url: str | None = None,
    api_key: str | None = None,
    timeout_s: float = 15.0,
    session=None,
) -> Fetcher:
    """Concrete HTTP ``Fetcher`` — the runnable twin of the reference's
    ``fetch_metar_decoded`` (/root/reference/src/collector/main.py:53-69):
    one GET of ``{base_url}/{icao_csv}/decoded`` with the ``X-API-Key``
    header, a 15 s timeout, and ``raise_for_status`` (a fetch error
    FAILS the batch — the module docstring's deliberate deviation from
    the reference's swallow-and-exit-0). Returns the decoded documents
    of ``payload["data"]`` re-serialized to JSON strings, the Fetcher
    contract raw_to_bronze consumes.

    Config mirrors the reference's env surface: ``CHECKWX_BASE_URL``
    (default the public CheckWX endpoint, main.py:13) and
    ``CHECKWX_API_KEY`` (required, main.py:19-20). ``session`` injects
    a requests-compatible object for tests; the import is deferred so
    offline deployments never need the dependency.
    """
    import os

    base = base_url or os.getenv(
        "CHECKWX_BASE_URL", "https://api.checkwx.com/metar"
    )
    key = api_key or os.getenv("CHECKWX_API_KEY")
    if not key:
        raise RuntimeError("CHECKWX_API_KEY not configured")

    def fetch(icaos: Iterable[str]) -> list[str]:
        http = session
        if http is None:
            import requests  # deferred: only the live path needs it

            http = requests
        url = f"{base}/{','.join(icaos)}/decoded"
        resp = http.get(
            url, headers={"X-API-Key": key}, timeout=timeout_s
        )
        resp.raise_for_status()
        payload = resp.json()
        return [json.dumps(d) for d in payload.get("data", [])]

    return fetch


def fake_fetcher(seed_docs: list[dict]) -> Fetcher:
    """Deterministic fetcher for tests: serves the given nested docs."""

    def fetch(icaos: Iterable[str]) -> list[str]:
        wanted = set(icaos)
        return [
            json.dumps(d)
            for d in seed_docs
            if d.get("icao") in wanted or not wanted
        ]

    return fetch
