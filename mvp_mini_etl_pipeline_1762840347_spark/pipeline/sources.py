"""Extract layer (SURVEY §2.1): HTTP JSON scans with static-fallback
failover, reproducing the reference's source semantics Spark-first.

Reference behaviors re-created (citations into /root/reference):
* S1  HTTP JSON scan with env-overridable URL and `results=500`
      batch  (src/lib/users.js:1-63)
* S2  multi-endpoint parallel scan, per-endpoint fail-soft to empty
      (src/lib/spacex.js:7-13)
* S3/S4 static fallback datasets (users.js:81-111, spacex.js:82-115)
* S7  failover chain live -> fallback with provenance columns
      (`fallback_used`, `source_url`, `fetched_at`)
      (users.js:40-62)

Design: HTTP extraction is a *driver-side landing step* -- fetch the
payload, land it, then everything downstream is DataFrames.  At scale
the landing step is replaced by `spark.read.json` over already-landed
payload files (same schema, same normalizer); the enrichment /
normalization layer is shared and is where the engine semantics live.

Landing goes through `io.local_frame`: the payload becomes a JVM
`LocalRelation` (Arrow-encoded, as Spark Connect clients send rows),
not a pickled Python RDD.  The payload is already in driver memory, so
nothing is lost, and every job over the extracted frame -- the row
count, the metrics aggregate, the CSV/JSON export -- is a JVM-only
`LocalTableScan` instead of a Python-worker task.  The rows still pass
Spark's own verifier first, so what lands (and what falls back) is
exactly what Spark's `createDataFrame` with the same schema would
accept: an int postcode lands as its string, a float age is rejected.
Users carry their payload index as `ingest_idx`, as launches do, so
order and the `user-<idx>` id never depend on how the relation is
partitioned.
"""

from __future__ import annotations

import json
import os
import urllib.request
from dataclasses import dataclass
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.js import full_name, js_str_or
from ..io import local_frame

USERS_API_ENV = "RANDOM_USER_API_URL"
USERS_API_DEFAULT = "https://randomuser.me/api/?results=500"

# Explicit source schema -- the engine never infers (SURVEY §1.3).
RAW_USER_SCHEMA = T.StructType(
    [
        T.StructField("login", T.StructType([T.StructField("uuid", T.StringType())])),
        T.StructField(
            "name",
            T.StructType(
                [
                    T.StructField("first", T.StringType()),
                    T.StructField("last", T.StringType()),
                ]
            ),
        ),
        T.StructField("email", T.StringType()),
        T.StructField("phone", T.StringType()),
        T.StructField("cell", T.StringType()),
        T.StructField(
            "location",
            T.StructType(
                [
                    T.StructField("city", T.StringType()),
                    T.StructField("state", T.StringType()),
                    T.StructField("country", T.StringType()),
                    T.StructField("postcode", T.StringType()),
                ]
            ),
        ),
        T.StructField(
            "dob",
            T.StructType(
                [
                    T.StructField("date", T.StringType()),
                    T.StructField("age", T.IntegerType()),
                ]
            ),
        ),
        T.StructField(
            "registered", T.StructType([T.StructField("date", T.StringType())])
        ),
        T.StructField("gender", T.StringType()),
        T.StructField("nat", T.StringType()),
        T.StructField(
            "picture", T.StructType([T.StructField("large", T.StringType())])
        ),
    ]
)

# A users payload lands as (user, payload index) pairs.  Each user is
# verified as a nested RAW_USER_SCHEMA struct, so it is accepted exactly
# when it would be as a top-level RAW_USER_SCHEMA row, whatever its
# shape (dict, list, or something else the API sends).
LANDED_USER_SCHEMA = T.StructType(
    [
        T.StructField("user", RAW_USER_SCHEMA),
        T.StructField("ingest_idx", T.LongType()),
    ]
)

ENRICHED_USER_SCHEMA = T.StructType(
    [
        T.StructField("id", T.StringType()),
        T.StructField("name", T.StringType()),
        T.StructField("email", T.StringType()),
        T.StructField("phone", T.StringType()),
        T.StructField("cell", T.StringType()),
        T.StructField(
            "location",
            T.StructType(
                [
                    T.StructField("city", T.StringType()),
                    T.StructField("state", T.StringType()),
                    T.StructField("country", T.StringType()),
                    T.StructField("postcode", T.StringType()),
                ]
            ),
        ),
        T.StructField("dob", T.StringType()),
        T.StructField("age", T.IntegerType()),
        T.StructField("registered", T.StringType()),
        T.StructField("gender", T.StringType()),
        T.StructField("nat", T.StringType()),
        T.StructField("picture", T.StringType()),
        T.StructField("valid", T.BooleanType()),
        T.StructField("ingest_idx", T.LongType()),
    ]
)

# Static fallback rows (S3 semantics: 3 demo users, one invalid with
# empty email to exercise the validity filter -- see FIXTURES.md §A1).
FALLBACK_USERS = [
    ("demo-1", "John Doe", "john.doe@example.com", "555-0100", "US", "New York", True),
    ("demo-2", "Jane Smith", "jane.smith@example.com", "555-0101", "GB", "London", True),
    ("demo-3", "Bob Johnson", "", "555-0102", "FR", "Paris", False),
]


@dataclass
class ExtractResult:
    """Source read + provenance (S7: fallbackUsed/sourceUrl/fetchedAt)."""

    df: DataFrame
    fallback_used: bool
    source_url: str
    fetched_at: str


def _now_iso() -> str:
    return datetime.now(timezone.utc).strftime("%Y-%m-%dT%H:%M:%S.%f")[:-3] + "Z"


def fallback_users_df(spark: SparkSession) -> DataFrame:
    """S3: static demo dataset in the enriched shape."""
    rows = [
        {
            "id": uid,
            "name": name,
            "email": email,
            "phone": phone,
            "cell": phone,
            "location": {"city": city, "state": None, "country": nat, "postcode": None},
            "dob": None,
            "age": 30 + i,
            "registered": None,
            "gender": None,
            "nat": nat,
            "picture": None,
            "valid": valid,
            "ingest_idx": i,
        }
        for i, (uid, name, email, phone, nat, city, valid) in enumerate(FALLBACK_USERS)
    ]
    return local_frame(spark, rows, ENRICHED_USER_SCHEMA)


def enrich_users(raw: DataFrame) -> DataFrame:
    """P1 enrichment projection (reference src/lib/users.js:16-35):
    flatten/rename with JS-falsy defaults, synthesized `user-<idx>` id,
    trimmed full name, rebuilt location struct, literal valid=true.
    `raw` carries the payload index as `ingest_idx` (see
    `LANDED_USER_SCHEMA`), the explicit ingest order the
    order-dependent operators need."""
    idx = F.col("ingest_idx")
    return raw.select(
        js_str_or(F.col("login.uuid"), F.concat(F.lit("user-"), idx.cast("string"))).alias("id"),
        full_name(F.col("name.first"), F.col("name.last")).alias("name"),
        js_str_or(F.col("email"), F.lit("")).alias("email"),
        js_str_or(F.col("phone"), F.lit("")).alias("phone"),
        js_str_or(F.col("cell"), F.lit("")).alias("cell"),
        F.struct(
            js_str_or(F.col("location.city"), F.lit("")).alias("city"),
            js_str_or(F.col("location.state"), F.lit("")).alias("state"),
            js_str_or(F.col("location.country"), F.lit("")).alias("country"),
            js_str_or(F.col("location.postcode").cast("string"), F.lit("")).alias(
                "postcode"
            ),
        ).alias("location"),
        F.col("dob.date").alias("dob"),
        F.coalesce(F.col("dob.age"), F.lit(0)).alias("age"),
        F.col("registered.date").alias("registered"),
        js_str_or(F.col("gender"), F.lit("")).alias("gender"),
        js_str_or(F.col("nat"), F.lit("")).alias("nat"),
        F.col("picture.large").alias("picture"),
        F.lit(True).alias("valid"),
        idx,
    )


def _fetch_json(url: str, timeout: float) -> dict:
    req = urllib.request.Request(url, headers={"User-Agent": "mini-etl-spark/0.1"})
    with urllib.request.urlopen(req, timeout=timeout) as resp:  # noqa: S310
        return json.load(resp)


def load_users(
    spark: SparkSession, url: str | None = None, timeout: float = 10.0
) -> ExtractResult:
    """S1+S7: live HTTP JSON scan with failover to the static dataset.

    Mirrors the reference flow (users.js:5-62): fetch -> unwrap
    `results` -> non-empty assertion -> enrichment projection; any
    failure falls back to the demo rows with `fallback_used=True`.
    """
    src = url or os.environ.get(USERS_API_ENV) or USERS_API_DEFAULT
    try:
        payload = _fetch_json(src, timeout)
        results = payload.get("results") or []
        if not results:
            raise ValueError("users API returned no results")
        landed = local_frame(
            spark, [(u, i) for i, u in enumerate(results)], LANDED_USER_SCHEMA
        )
        users = enrich_users(landed.select("user.*", "ingest_idx"))
        return ExtractResult(users, False, src, _now_iso())
    except Exception:
        return ExtractResult(fallback_users_df(spark), True, src, _now_iso())


# ---------------------------------------------------------------------------
# Launches source (S2 multi-endpoint scan -> S4 static fallback)
# ---------------------------------------------------------------------------
SPACEX_API_ENV = "SPACEX_API_URL"
SPACEX_API_DEFAULT = "https://api.spacexdata.com/v5"

# Raw launch shape as the reference's fallbackLaunches() emits it
# (spacex.js:82-115): rocket/launchpad are display strings, payloads
# an empty id list -- the enrichment joins (J1-J3) upgrade these to
# structs when dimension data is available.
RAW_LAUNCH_SCHEMA = T.StructType(
    [
        T.StructField("id", T.StringType()),
        T.StructField("name", T.StringType()),
        T.StructField("date_utc", T.StringType()),
        T.StructField("success", T.BooleanType()),
        T.StructField("upcoming", T.BooleanType()),
        T.StructField("rocket", T.StringType()),
        T.StructField("launchpad", T.StringType()),
        T.StructField("payloads", T.ArrayType(T.StringType())),
        T.StructField("ingest_idx", T.LongType()),
    ]
)

# S4: the reference's 3 demo launches (spacex.js:82-115) -- the
# de-facto fixtures for P4/P5 truthy filters and P8 CASE status.
FALLBACK_LAUNCHES = [
    ("demo-1", "Demo Mission Alpha", "2025-01-12T14:30:00.000Z",
     True, False, "Falcon 9", "LC-39A"),
    ("demo-2", "Demo Mission Beta", "2025-02-02T09:45:00.000Z",
     False, False, "Falcon 9", "SLC-40"),
    ("demo-3", "Demo Mission Gamma", "2025-03-05T18:00:00.000Z",
     False, True, "Starship", "Starbase"),
]


def fallback_launches_df(spark: SparkSession) -> DataFrame:
    """S4: static demo launches in the raw source shape."""
    rows = [
        {
            "id": lid,
            "name": name,
            "date_utc": date_utc,
            "success": success,
            "upcoming": upcoming,
            "rocket": rocket,
            "launchpad": launchpad,
            "payloads": [],
            "ingest_idx": i,
        }
        for i, (lid, name, date_utc, success, upcoming, rocket, launchpad)
        in enumerate(FALLBACK_LAUNCHES)
    ]
    return local_frame(spark, rows, RAW_LAUNCH_SCHEMA)


def build_launch_metrics(launches: DataFrame) -> dict:
    """Launch metrics record (reference spacex.js:67-80 buildMetrics):
    one aggregate pass -- total/success/upcoming counts and the last
    mission by explicit ingest order ('N/A' on empty input).  The
    reference's hard-coded duration_sec:95 is NOT reproduced; callers
    measure real durations (see runner.py)."""
    row = (
        launches.agg(
            F.count("*").alias("rows_in"),
            F.count(F.when(F.col("success"), 1)).alias("rows_out"),
            F.count(F.when(F.col("upcoming"), 1)).alias("upcoming"),
            F.max_by("name", "ingest_idx").alias("last_mission"),
        )
        .collect()[0]
        .asDict()
    )
    row["dedup_removed"] = row["rows_in"] - row["rows_out"]
    row["last_mission"] = row["last_mission"] or "N/A"
    return row


def load_launches(
    spark: SparkSession, base_url: str | None = None, timeout: float = 10.0
) -> ExtractResult:
    """S2+S4+S7: multi-endpoint fail-soft scan with static failover.

    Mirrors the reference flow (spacex.js:1-65): past + upcoming
    launches fetched fail-soft (each endpoint independently falls back
    to []), concatenated in source order; zero combined rows triggers
    the S4 demo dataset, with provenance recorded either way."""
    base = base_url or os.environ.get(SPACEX_API_ENV) or SPACEX_API_DEFAULT
    rows: list[dict] = []
    for endpoint in ("launches/past", "launches/upcoming"):
        try:
            payload = _fetch_json(f"{base}/{endpoint}", timeout)
            if isinstance(payload, list):
                rows.extend(payload)
        except Exception:
            pass  # S2: per-endpoint fail-soft
    if rows:
        launches = local_frame(
            spark,
            [
                {
                    "id": r.get("id"),
                    "name": r.get("name"),
                    "date_utc": r.get("date_utc"),
                    "success": r.get("success"),
                    "upcoming": r.get("upcoming"),
                    "rocket": r.get("rocket"),
                    "launchpad": r.get("launchpad"),
                    "payloads": r.get("payloads") or [],
                    "ingest_idx": i,
                }
                for i, r in enumerate(rows)
            ],
            RAW_LAUNCH_SCHEMA,
        )
        return ExtractResult(launches, False, base, _now_iso())
    return ExtractResult(fallback_launches_df(spark), True, base, _now_iso())


def load_json_sources_failsoft(
    spark: SparkSession, urls: dict[str, str], timeout: float = 10.0
) -> dict[str, DataFrame]:
    """S2: multi-endpoint scan, each endpoint fail-soft to an empty
    DataFrame (reference spacex.js:7-13 `catch(() => [])`).  Spark
    parallelizes the downstream reads; the fetch itself is a landing
    step."""
    out: dict[str, DataFrame] = {}
    for name, url in urls.items():
        try:
            payload = _fetch_json(url, timeout)
            rows = payload if isinstance(payload, list) else [payload]
            if not rows:
                raise ValueError("empty")
            out[name] = local_frame(spark, rows)
        except Exception:
            out[name] = local_frame(spark, [], T.StructType([]))
    return out
