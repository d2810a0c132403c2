"""Seeded input generators for the benchmark.

Everything here is pure Python and depends only on its arguments: the same
seed and size give the same bytes. The program under test only ever sees the
files these functions write.

- :func:`write_feed` writes one GTFS zip whose routes, stops, trips, stops
  per trip, replacement-bus share and calendars all grow with the requested
  ``stop_times`` row count, and returns the facts the output checks need.
  Feeds of one seed with other sizes and start dates are the versions of a
  MultiFile: their stops overlap, so Merge has equal stops to match.
- :func:`corpus_docs` and :func:`dedup_day` make a text corpus with planted
  exact, near, novel and takedown documents whose classification is fixed
  by construction (see :func:`near_copy`).
"""

from __future__ import annotations

import csv
import datetime
import io
import random
import zipfile

#: route_short_name prefix of the routes the chain's DELETE removes
DELETED_PREFIX = "X"
DELETE_SQL = f"DELETE FROM routes WHERE short_name LIKE '{DELETED_PREFIX}%'"


def _fmt_time(sec: int) -> str:
    return f"{sec // 3600:02d}:{sec % 3600 // 60:02d}:{sec % 60:02d}"


def _to_csv(rows: list[dict]) -> str:
    cols: list[str] = []
    for r in rows:
        for c in r:
            if c not in cols:
                cols.append(c)
    buf = io.StringIO()
    w = csv.DictWriter(buf, fieldnames=cols, lineterminator="\n")
    w.writeheader()
    w.writerows(rows)
    return buf.getvalue()


def _write_zip(path: str, rows: dict[str, list[dict]]) -> None:
    # fixed entry timestamps: the same seed gives the same bytes
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as zf:
        for fname, rlist in rows.items():
            zf.writestr(zipfile.ZipInfo(fname, (2026, 1, 1, 0, 0, 0)),
                        _to_csv(rlist), zipfile.ZIP_DEFLATED)


def stop_pool(seed: int, n_stops: int) -> list[dict]:
    """``n_stops`` plain stops plus two railway platform pairs (stop ids
    ``R9x0yy``, the shape Warsaw-style station curation collapses)."""
    rng = random.Random(seed * 7919 + 17)
    stops = [
        {"stop_id": f"S{i:05d}", "stop_name": f"Stop {i} {rng.choice('ABCDEFGH')}",
         "stop_lat": f"{52.0 + rng.random() * 0.4:.6f}",
         "stop_lon": f"{20.8 + rng.random() * 0.5:.6f}",
         "wheelchair_boarding": str(rng.choice([0, 1, 2]))}
        for i in range(n_stops)
    ]
    for code in ("90", "91"):
        for plat in ("01", "02"):
            stops.append({
                "stop_id": f"R{code}0{plat}", "stop_name": f"Station {code} {plat}",
                "stop_lat": f"{52.2 + int(code) * 1e-3:.6f}",
                "stop_lon": f"{21.0 + int(plat) * 1e-4:.6f}",
                "wheelchair_boarding": "1"})
    return stops


def feed_rows(seed: int, stop_times: int, start: datetime.date, curated: bool = False,
              ) -> tuple[dict[str, list[dict]], dict]:
    """Rows of one feed of about ``stop_times`` stop_times whose calendars
    start around ``start``, and the facts (``expect``) the output checks
    compare against.

    Shape knobs all scale with the size: ~1 route per 2.5k stop_times,
    ~1 stop per 120, 8-40 stops per trip (per route; the same for every
    seed, so the trip and stop_times counts are too), a quarter of the rail
    routes running a replacement-bus tail (``platform=BUS``, the
    SplitTripLegs input), and ~1 calendar per two routes plus a planted
    duplicate of every third one (the SimplifyCalendars input). One route
    in ten (the fourth, 14th, ...) is named for the chain's DELETE.

    A ``curated`` feed is one the chain has already been through: no route
    is named for the DELETE and every trip has a headsign. Feeds of one
    seed share their stops (a smaller feed's stops are a subset of a
    larger one's), so MultiFile's Merge has equal stops to match across
    versions."""
    rng = random.Random(seed)
    n_routes = max(6, stop_times // 2500)
    stops = stop_pool(seed, max(60, stop_times // 120))
    plain = [s for s in stops if s["stop_id"].startswith("S")]
    rail_stops = [s["stop_id"] for s in stops if s["stop_id"].startswith("R")]

    days = 180
    end = start + datetime.timedelta(days=days)
    d = lambda x: x.strftime("%Y%m%d")  # noqa: E731
    calendars, exceptions = [], []
    n_cal = max(3, n_routes // 2)
    for c in range(n_cal):
        days_on = [rng.random() < 0.6 for _ in range(7)]
        days_on[c % 7] = True
        base = {"service_id": f"C{c}",
                **{wd: str(int(on)) for wd, on in zip(
                    ("monday", "tuesday", "wednesday", "thursday", "friday",
                     "saturday", "sunday"), days_on)},
                "start_date": d(start - datetime.timedelta(days=rng.randrange(30))),
                "end_date": d(end + datetime.timedelta(days=rng.randrange(30)))}
        calendars.append(base)
        if c % 3 == 0:
            # identical active dates under another id: SimplifyCalendars folds it
            calendars.append({**base, "service_id": f"C{c}dup"})
        off = start + datetime.timedelta(days=rng.randrange(days))
        exceptions.append({"service_id": f"C{c}", "date": d(off), "exception_type": "2"})
    cal_ids = [c["service_id"] for c in calendars]
    # referenced by no trip: RemoveUnusedEntities drops it
    calendars.append({**calendars[0], "service_id": "Cunused"})

    routes, trips, times = [], [], []
    expect = {"trips_out": 0, "stops": len(stops)}
    names = {s["stop_id"]: s["stop_name"] for s in stops}
    per_route = max(2, stop_times // n_routes)
    trip_no = 0
    for r in range(n_routes):
        is_rail = r % 3 != 2
        deleted = r % 10 == 3 and not curated
        short = f"{DELETED_PREFIX}{r}" if deleted else f"L{r}"
        route_id = f"R{r}"
        routes.append({"route_id": route_id, "agency_id": "A1",
                       "route_short_name": short,
                       "route_long_name": f"Line {r}",
                       "route_type": "2" if is_rail else "3"})
        # a fixed spread of 8-40 stops over the routes, so that every seed
        # gives the same trip count
        n_stops = 8 + r * 13 % 33
        path = [s["stop_id"] for s in rng.sample(plain, min(n_stops, len(plain)))]
        if is_rail and r % 4 == 0:
            path[1] = rail_stops[r % len(rail_stops)]
        bus_tail = is_rail and r % 4 == 1 and len(path) >= 6
        n_trips = max(1, per_route // len(path))
        for k in range(n_trips):
            trip_id = f"T{trip_no:06d}"
            trip_no += 1
            seq = path if k % 2 == 0 else path[::-1]
            trips.append({"route_id": route_id, "service_id": rng.choice(cal_ids),
                          "trip_id": trip_id,
                          "trip_headsign": "Express" if k % 4 == 0
                          else names[seq[-1]] if curated else "",
                          "direction_id": str(k % 2)})
            t = 4 * 3600 + (k * 7 * 60 + r * 60) % (20 * 3600)
            n_bus = 3 if bus_tail else 0
            for i, stop_id in enumerate(seq):
                times.append({"trip_id": trip_id, "arrival_time": _fmt_time(t),
                              "departure_time": _fmt_time(t + 30),
                              "stop_id": stop_id, "stop_sequence": str(i),
                              "platform": "BUS" if i >= len(seq) - n_bus else ""})
                t += 60 + rng.randrange(120)
            expect["trips_out"] += not deleted

    rows = {
        "agency.txt": [{"agency_id": "A1", "agency_name": "Synthetic Transit",
                        "agency_url": "https://transit.invalid",
                        "agency_timezone": "Europe/Warsaw", "agency_lang": "pl"}],
        "routes.txt": routes,
        "stops.txt": stops,
        "trips.txt": trips,
        "stop_times.txt": times,
        "calendar.txt": calendars,
        "calendar_dates.txt": exceptions,
        "feed_info.txt": [{"feed_publisher_name": "perfbench",
                           "feed_publisher_url": "https://transit.invalid",
                           "feed_lang": "pl", "feed_version": d(start)}],
    }
    expect["stop_times_in"] = len(times)
    return rows, expect


def write_feed(path: str, seed: int, stop_times: int, start: datetime.date,
               curated: bool = False) -> dict:
    rows, expect = feed_rows(seed, stop_times, start, curated)
    _write_zip(path, rows)
    return expect


# ---------------------------------------------------------------------------
# text corpus
# ---------------------------------------------------------------------------

def _doc(rng: random.Random) -> str:
    """A document whose word cycle closes on itself: the text is the cycle
    followed by its first two words, so its 3-word shingles are exactly the
    cyclic 3-grams of the cycle. Tokens are random 40-bit hex words, so no
    two documents share a shingle."""
    words = [f"{rng.getrandbits(40):010x}" for _ in range(rng.randint(20, 40))]
    return " ".join(words + words[:2])


def near_copy(text: str) -> str:
    """The cycle written twice: another text (another md5) with exactly the
    same shingle set, hence the same MinHash signature, so it is 'near' to
    its source by construction, never by chance."""
    words = text.split(" ")[:-2]
    return " ".join(words + words + words[:2])


def corpus_docs(seed: int, n: int) -> list[tuple[str, str]]:
    rng = random.Random(seed * 104729 + 3)
    return [(f"c{i:07d}", _doc(rng)) for i in range(n)]


def dedup_day(seed: int, day: int, corpus: list[tuple[str, str]],
              batch: int, takedown: int) -> dict:
    """Day ``day``'s inputs against the build corpus: a batch of exact
    copies, near copies and novel docs (a third each), the ids taken down
    that day (corpus docs no batch of any day copies), and probes with
    their expected classification after the takedown."""
    rng = random.Random((seed * 1000003 + day) * 31)
    # the corpus splits into disjoint per-day slices: copies come from the
    # front, takedowns from the back, so no day copies a removed doc
    half = len(corpus) // 2
    copy_pool = corpus[:half]
    # past the last slice the takedowns wrap: removing an id again is a
    # no-op and its text still classifies novel
    slices = max(1, (len(corpus) - half) // takedown)
    down_lo = half + (day % slices) * takedown
    removed = corpus[down_lo:down_lo + takedown]
    k = batch // 3
    exact_src = rng.sample(copy_pool, k)
    near_src = rng.sample(copy_pool, k)
    docs, want = [], {}
    for i, (_, text) in enumerate(exact_src):
        docs.append((f"d{day}e{i}", text))
        want[f"d{day}e{i}"] = "exact"
    for i, (_, text) in enumerate(near_src):
        docs.append((f"d{day}n{i}", near_copy(text)))
        want[f"d{day}n{i}"] = "near"
    for i in range(batch - 2 * k):
        docs.append((f"d{day}v{i}", _doc(rng)))
        want[f"d{day}v{i}"] = "novel"
    rng.shuffle(docs)
    probes, probe_want = [], {}
    for i, (_, text) in enumerate(removed):
        probes.append((f"p{day}r{i}", text))      # taken down: novel again
        probe_want[f"p{day}r{i}"] = "novel"
    novel_batch = [(i, t) for i, t in docs if want[i] == "novel"]
    for i, (_, text) in enumerate(rng.sample(novel_batch, min(k, len(novel_batch)))):
        probes.append((f"p{day}a{i}", text))      # accepted today: exact now
        probe_want[f"p{day}a{i}"] = "exact"
    for i, (_, text) in enumerate(rng.sample(copy_pool, k)):
        probes.append((f"p{day}n{i}", near_copy(text)))
        probe_want[f"p{day}n{i}"] = "near"
    return {"batch": docs, "want": want, "takedown": [i for i, _ in removed],
            "probes": probes, "probe_want": probe_want}
