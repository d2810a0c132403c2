"""Output checks that hold for any seed. Each returns a list of problems;
an op with any problem counts as failed."""

from __future__ import annotations

import csv
import datetime
import io
import zipfile

from gen import DELETED_PREFIX


def read_zip(path: str) -> dict[str, list[dict]]:
    with zipfile.ZipFile(path) as zf:
        return {name: list(csv.DictReader(io.TextIOWrapper(zf.open(name), "utf-8")))
                for name in zf.namelist()}


def _fk(problems: list[str], rows, col: str, keys: set, what: str) -> None:
    bad = {r[col] for r in rows if r.get(col) and r[col] not in keys}
    if bad:
        problems.append(f"{what}: {len(bad)} dangling {col} (e.g. {sorted(bad)[:3]})")


def fk_closure(feed: dict[str, list[dict]]) -> list[str]:
    """Every reference in the written feed resolves to a written row."""
    p: list[str] = []
    ids = lambda f, c: {r[c] for r in feed.get(f, [])}  # noqa: E731
    services = ids("calendar.txt", "service_id") | ids("calendar_dates.txt", "service_id")
    trips, stops = ids("trips.txt", "trip_id"), ids("stops.txt", "stop_id")
    _fk(p, feed["routes.txt"], "agency_id", ids("agency.txt", "agency_id"), "routes")
    _fk(p, feed["trips.txt"], "route_id", ids("routes.txt", "route_id"), "trips")
    _fk(p, feed["trips.txt"], "service_id", services, "trips")
    _fk(p, feed["stop_times.txt"], "trip_id", trips, "stop_times")
    _fk(p, feed["stop_times.txt"], "stop_id", stops, "stop_times")
    return p


def chain_output(feed: dict[str, list[dict]], expect: dict) -> list[str]:
    """The curation chain's contract on the generated feed (also holds for
    the merge of curated versions)."""
    p = fk_closure(feed)
    trips = feed["trips.txt"]
    if any(not t["trip_headsign"] for t in trips):
        p.append("trips without a headsign")
    if any(r["route_short_name"].startswith(DELETED_PREFIX) for r in feed["routes.txt"]):
        p.append("deleted routes survived")
    if len(trips) != expect["trips_out"]:
        p.append(f"{len(trips)} trips, expected {expect['trips_out']}")
    stopped = {s["trip_id"] for s in feed["stop_times.txt"]}
    if stopped != {t["trip_id"] for t in trips}:
        p.append("trips and stop_times disagree")
    return p


def merged_output(feed: dict[str, list[dict]], expect: dict) -> list[str]:
    """MultiFile's merge of curated versions: the chain's contract, equal
    stops matched across versions, and every version's service dates
    inside its validity window (``expect['windows']``: version ->
    [start, next version's start), None = open)."""
    p = chain_output(feed, expect)
    if len(feed["stops.txt"]) != expect["stops"]:
        p.append(f"{len(feed['stops.txt'])} stops, expected {expect['stops']}")
    day = lambda s: datetime.date(int(s[:4]), int(s[4:6]), int(s[6:]))  # noqa: E731
    outside, served = 0, set()
    for row in feed.get("calendar_dates.txt", []):
        if row["exception_type"] != "1":
            continue
        version = row["service_id"].split(":", 1)[0]
        lo, hi = expect["windows"][version]
        served.add(version)
        outside += not (lo <= day(row["date"]) and (hi is None or day(row["date"]) < hi))
    for row in feed.get("calendar.txt", []):
        lo, hi = expect["windows"][row["service_id"].split(":", 1)[0]]
        outside += not (lo <= day(row["start_date"])
                        and (hi is None or day(row["end_date"]) < hi))
    if outside:
        p.append(f"{outside} service dates outside their version's validity window")
    if served != set(expect["windows"]):
        p.append(f"versions without service: {sorted(set(expect['windows']) - served)}")
    return p


def statuses(got: dict[str, str], want: dict[str, str], what: str) -> list[str]:
    bad = [k for k in want if got.get(k) != want[k]]
    extra = set(got) - set(want)
    p = []
    if bad:
        k = bad[0]
        p.append(f"{what}: {len(bad)} docs misclassified "
                 f"(e.g. {k}: {got.get(k)!r}, expected {want[k]!r})")
    if extra:
        p.append(f"{what}: {len(extra)} unexpected ids")
    return p
