"""Golden end-to-end pipeline test (SURVEY §5.3): extract(fixture) ->
transform -> load over the reference-derived fallback rows, asserting
the exact metrics record the reference's buildMetrics implies
(FIXTURES.md §A1: rows_in=3, rows_out=2, dedup_removed=1,
countries=3, last_record='Bob Johnson')."""

from __future__ import annotations

import csv
import glob

import pytest

from mvp_mini_etl_pipeline_1762840347_spark.pipeline.runner import (
    build_metrics,
    run_pipeline,
)
from mvp_mini_etl_pipeline_1762840347_spark.pipeline.sinks import (
    preview_json,
    users_export_projection,
    write_csv,
)
from mvp_mini_etl_pipeline_1762840347_spark.pipeline.sources import (
    FALLBACK_USERS,
    ExtractResult,
    fallback_users_df,
)


def _fixture_extract(spark):
    return ExtractResult(fallback_users_df(spark), True, "fixture://users", "t0")


def test_metrics_golden(spark):
    m = build_metrics(fallback_users_df(spark))
    assert m["rows_in"] == 3
    assert m["rows_out"] == 2  # Bob Johnson: valid=false AND email=''
    assert m["dedup_removed"] == 1
    assert m["countries"] == 3  # US, GB, FR
    assert m["last_record"] == "Bob Johnson"


def test_run_pipeline_stages_and_log(spark, tmp_path):
    run = run_pipeline(spark, out_dir=str(tmp_path), extract_fn=_fixture_extract)
    assert run.stages == {"extract": "done", "transform": "done", "load": "done"}
    assert run.fallback_used is True
    assert run.metrics["rows_out"] == 2
    assert run.metrics["duration_sec"] > 0
    stages_logged = [s for _, s, _ in run.log]
    assert stages_logged == ["Extract", "Transform", "Load"]
    assert "Fetched 3 records" in run.log[0][2]
    # restart (ST3) is idempotent
    rerun = run_pipeline(spark, out_dir=str(tmp_path), extract_fn=_fixture_extract)
    assert rerun.metrics["rows_out"] == run.metrics["rows_out"]


def test_csv_export_quoting(spark, tmp_path):
    """K1: quote-all, '' for null, location as "city, country"."""
    out = write_csv(
        users_export_projection(fallback_users_df(spark)),
        str(tmp_path),
        stamped=False,
    )
    files = glob.glob(f"{out}/*.csv")
    assert files
    text = "".join(open(f).read() for f in sorted(files))
    assert '"id","name","email","phone","location","age","gender","country"' in text
    assert '"New York, US"' in text  # formatted location column
    assert '""' in text  # empty email / gender cells stay quoted-empty
    rows = list(csv.DictReader(text.splitlines()))
    assert {r["name"] for r in rows} >= {"John Doe", "Jane Smith"}


def test_preview_json(spark):
    previews = preview_json(fallback_users_df(spark), n=2)
    assert len(previews) == 2
    assert '"name":"John Doe"' in previews[0]


# ---------------------------------------------------------------------------
# S4: launches failover chain (reference spacex.js:51-65,82-115)
# ---------------------------------------------------------------------------
def test_launches_fallback_golden(spark):
    from mvp_mini_etl_pipeline_1762840347_spark.pipeline.sources import (
        build_launch_metrics,
        fallback_launches_df,
        load_launches,
    )

    # Unreachable base URL -> both endpoints fail soft -> S4 fallback.
    ext = load_launches(spark, base_url="http://127.0.0.1:1/nope", timeout=0.2)
    assert ext.fallback_used is True
    rows = ext.df.orderBy("ingest_idx").collect()
    assert [r.name for r in rows] == [
        "Demo Mission Alpha", "Demo Mission Beta", "Demo Mission Gamma",
    ]
    assert [r.success for r in rows] == [True, False, False]
    assert [r.upcoming for r in rows] == [False, False, True]
    assert all(r.payloads == [] for r in rows)

    # buildMetrics golden values over the demo rows (spacex.js:67-80).
    m = build_launch_metrics(fallback_launches_df(spark))
    assert m["rows_in"] == 3
    assert m["rows_out"] == 1          # only Alpha succeeded
    assert m["dedup_removed"] == 2
    assert m["upcoming"] == 1
    assert m["last_mission"] == "Demo Mission Gamma"


def test_launch_metrics_empty_input(spark):
    from mvp_mini_etl_pipeline_1762840347_spark.pipeline.sources import (
        build_launch_metrics,
        fallback_launches_df,
    )

    empty = fallback_launches_df(spark).filter("ingest_idx < 0")
    m = build_launch_metrics(empty)
    assert m["rows_in"] == 0
    assert m["last_mission"] == "N/A"


# ---------------------------------------------------------------------------
# S1/P1: users extract acceptance rules and payload-index ids
# ---------------------------------------------------------------------------
def _user(i: int) -> dict:
    """One user in the randomuser.me page shape (users.js:16-35)."""
    return {
        "login": {"uuid": f"uuid-{i:04d}"},
        "name": {"first": f"First{i}", "last": f"Last{i}"},
        "email": f"user{i}@example.com",
        "phone": f"555-{i:04d}",
        "cell": f"556-{i:04d}",
        "location": {"city": "Cork", "state": "", "country": "Ireland", "postcode": "T12"},
        "dob": {"date": "1990-01-01T00:00:00.000Z", "age": 30},
        "registered": {"date": "2015-06-01T00:00:00.000Z"},
        "gender": "female",
        "nat": "IE",
        "picture": {"large": f"https://example.invalid/{i}.jpg"},
    }


def _extract(spark, monkeypatch, users: list[dict]):
    from mvp_mini_etl_pipeline_1762840347_spark.pipeline import sources

    monkeypatch.setattr(sources, "_fetch_json", lambda url, timeout: {"results": users})
    return sources.load_users(spark, url="fixture://users")


def test_users_int_postcode_lands_as_string(spark, monkeypatch):
    """Some randomuser nationalities send numeric postcodes.  Spark's
    row conversion turns a value in a string field into its string, so
    the page lands instead of falling back."""
    users = [_user(i) for i in range(3)]
    users[1]["location"]["postcode"] = 12345
    ext = _extract(spark, monkeypatch, users)
    assert ext.fallback_used is False
    rows = ext.df.orderBy("ingest_idx").collect()
    assert [r.location.postcode for r in rows] == ["T12", "12345", "T12"]


@pytest.mark.parametrize("age", [30.0, "30"])
def test_users_non_integer_age_falls_back(spark, monkeypatch, age):
    """`dob.age` is an integer field: a float or a numeric string is
    rejected by Spark's verifier, so the extract takes the fallback."""
    users = [_user(i) for i in range(3)]
    users[2]["dob"]["age"] = age
    ext = _extract(spark, monkeypatch, users)
    assert ext.fallback_used is True
    assert ext.df.count() == len(FALLBACK_USERS)


def test_users_missing_and_extra_keys_land_as_nulls(spark, monkeypatch):
    """A missing key lands as null (then the JS-falsy defaults apply);
    an unknown key is ignored.  Neither triggers the fallback."""
    users = [_user(i) for i in range(2)]
    for key in ("phone", "dob", "picture"):
        del users[1][key]
    users[1]["location"] = {"city": "Faro"}
    users[1]["extra"] = {"nested": [1, 2]}
    ext = _extract(spark, monkeypatch, users)
    assert ext.fallback_used is False
    row = ext.df.filter("name = 'First1 Last1'").collect()[0]
    assert (row.phone, row.dob, row.age, row.picture) == ("", None, 0, None)
    assert row.location.asDict() == {"city": "Faro", "state": "", "country": "", "postcode": ""}


def test_user_without_uuid_gets_payload_index_id(spark, monkeypatch):
    """P1 (users.js:16-35): a user with no `login.uuid` gets
    `user-${idx}` from its payload index, and `ingest_idx` is that
    index, however the landed frame is partitioned."""
    users = [_user(i) for i in range(200)]
    users[130]["login"] = {}
    ext = _extract(spark, monkeypatch, users)
    assert ext.fallback_used is False
    row = ext.df.filter("name = 'First130 Last130'").collect()[0]
    assert (row.id, row.ingest_idx) == ("user-130", 130)
    ids = ext.df.orderBy("ingest_idx").select("id", "ingest_idx").collect()
    assert [r.ingest_idx for r in ids] == list(range(200))
    assert build_metrics(ext.df)["last_record"] == "First199 Last199"
