"""Loopback HTTP fixture for the pipeline's extract step.

Serves seeded payloads in the shapes the two source APIs return:

* ``/api/?results=500`` -- a randomuser.me page of ``USERS`` users;
* ``/v5/launches/past`` and ``/v5/launches/upcoming`` -- SpaceX v5
  launch lists.

The pipeline reads them through ``RANDOM_USER_API_URL`` and
``SPACEX_API_URL`` (``env()`` builds both), so the extract never
leaves the host.  ``expected()`` gives the metrics record and counts a
correct pipeline run must report for the same seed.
"""

from __future__ import annotations

import json
import random
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

USERS = 500  # the reference's own results=500 page
FIRST = ("Ana", "Ben", "Chloe", "Dev", "Emil", "Fay", "Gus", "Hana", "Ivo", "Jia")
LAST = ("Kerr", "Lund", "Moss", "Nagy", "Ortiz", "Park", "Quinn", "Roy", "Sato", "Toth")
NATS = ("AU", "BR", "CA", "DE", "DK", "ES", "FR", "GB", "IE", "NL", "NZ", "US")
CITIES = ("Aarhus", "Bristol", "Cork", "Dunedin", "Essen", "Faro", "Gent")


def users(seed: int) -> list[dict]:
    """The users page: about 8% have no email and so fail validation;
    about 5% have an empty ``nat`` and fall back to the location's
    country."""
    rng = random.Random(f"users-{seed}")
    out = []
    for i in range(USERS):
        first, last = rng.choice(FIRST), rng.choice(LAST)
        nat = rng.choice(NATS)
        out.append({
            "login": {"uuid": f"u-{seed}-{i:04d}"},
            "name": {"first": first, "last": last},
            "email": "" if rng.random() < 0.08 else f"{first}.{last}{i}@example.com".lower(),
            "phone": f"555-{rng.randrange(10**4):04d}",
            "cell": f"556-{rng.randrange(10**4):04d}",
            "location": {
                "city": rng.choice(CITIES),
                "state": "",
                "country": f"Country-{nat}",
                "postcode": str(rng.randrange(10**5)),
            },
            "dob": {"date": "1990-01-01T00:00:00.000Z", "age": rng.randrange(18, 80)},
            "registered": {"date": "2015-06-01T00:00:00.000Z"},
            "gender": rng.choice(("female", "male")),
            "nat": "" if rng.random() < 0.05 else nat,
            "picture": {"large": f"https://example.invalid/p/{i}.jpg"},
        })
    return out


def launches(seed: int) -> dict[str, list[dict]]:
    rng = random.Random(f"launches-{seed}")
    out: dict[str, list[dict]] = {"past": [], "upcoming": []}
    for kind, n in (("past", rng.randrange(80, 120)), ("upcoming", rng.randrange(10, 30))):
        for i in range(n):
            out[kind].append({
                "id": f"{kind}-{i}",
                "name": f"Mission {kind} {i}",
                "date_utc": f"20{10 + i % 15}-0{1 + i % 9}-15T12:00:00.000Z",
                "success": None if kind == "upcoming" else rng.random() < 0.9,
                "upcoming": kind == "upcoming",
                "rocket": rng.choice(("falcon9", "falconheavy", "starship")),
                "launchpad": rng.choice(("lc39a", "slc40", "slc4e")),
                "payloads": [f"pl-{kind}-{i}-{k}" for k in range(rng.randrange(3))],
            })
    return out


def expected(seed: int) -> dict:
    """What run_pipeline and build_launch_metrics must report."""
    us = users(seed)
    valid = [u for u in us if u["email"]]
    countries = {u["nat"] or u["location"]["country"] for u in us}
    last = us[-1]["name"]
    ls = launches(seed)
    every = ls["past"] + ls["upcoming"]
    return {
        "users": {
            "rows_in": len(us),
            "rows_out": len(valid),
            "dedup_removed": len(us) - len(valid),
            "countries": len(countries),
            "last_record": f"{last['first']} {last['last']}",
        },
        "launches": {
            "rows_in": len(every),
            "rows_out": sum(1 for r in every if r["success"]),
            "upcoming": len(ls["upcoming"]),
            "last_mission": every[-1]["name"],
        },
    }


class Fixture:
    """The loopback server; ``with Fixture(seed) as f:`` serves until
    the block ends, then shuts the server down and joins its thread."""

    def __init__(self, seed: int) -> None:
        bodies = {
            "/api/": json.dumps({"results": users(seed), "info": {"seed": str(seed)}}),
            **{
                f"/v5/launches/{kind}": json.dumps(rows)
                for kind, rows in launches(seed).items()
            },
        }

        class Handler(BaseHTTPRequestHandler):
            def do_GET(self) -> None:  # noqa: N802 (http.server API)
                body = bodies.get(self.path.split("?", 1)[0])
                if body is None:
                    self.send_error(404)
                    return
                data = body.encode()
                self.send_response(200)
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(data)))
                self.end_headers()
                self.wfile.write(data)

            def log_message(self, *args) -> None:
                pass

        self.server = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
        self.thread = threading.Thread(target=self.server.serve_forever, daemon=True)

    def env(self) -> dict[str, str]:
        base = f"http://127.0.0.1:{self.server.server_address[1]}"
        return {
            "RANDOM_USER_API_URL": f"{base}/api/?results={USERS}",
            "SPACEX_API_URL": f"{base}/v5",
        }

    def __enter__(self) -> "Fixture":
        self.thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self.server.shutdown()
        self.server.server_close()
        self.thread.join()
