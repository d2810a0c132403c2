"""Phase-4 tests: MultiFile orchestration + caching, App CLI, BusMan
connector (injected exporter), streaming operators, tool helpers."""

from __future__ import annotations

import datetime
import os

import pytest
from pyspark.sql import functions as F

from impuls_spark.errors import InputNotModified
from impuls_spark.multi_file import IntermediateFeed, MultiFile
from impuls_spark.resource import LocalResource, prepare_resources
from impuls_spark.task import PipelineOptions, TaskRuntime
from impuls_spark.tools.color import text_color_for
from impuls_spark.tools.iteration import limit, walk_len
from impuls_spark.tools.strings import (
    camel_to_snake,
    find_non_conflicting_id,
    is_portable_name,
)

D = datetime.date


# -- tools ------------------------------------------------------------------

def test_strings():
    assert find_non_conflicting_id({"a"}, "b") == "b"
    assert find_non_conflicting_id({"a", "a:1"}, "a") == "a:2"
    assert camel_to_snake("LoadGTFS") == "load_gtfs"
    assert camel_to_snake("SplitTripLegs") == "split_trip_legs"
    assert is_portable_name("warsaw_v1.zip")
    assert not is_portable_name("Warsaw Feed")


def test_color():
    assert text_color_for("FFFFFF") == "000000"
    assert text_color_for("000000") == "FFFFFF"
    assert text_color_for("990099") == "FFFFFF"


def test_iteration():
    assert list(limit(range(10), 3)) == [0, 1, 2]
    assert walk_len(iter("abc")) == 3


# -- resource caching -------------------------------------------------------

def test_local_resource_caching(tmp_path):
    src = tmp_path / "input.txt"
    src.write_text("v1")
    ws = str(tmp_path / "ws")
    res = {"in.txt": LocalResource(str(src))}

    fetched, changed = prepare_resources(res, ws)
    assert changed and fetched["in.txt"].changed
    # unchanged input -> no refetch
    fetched, changed = prepare_resources(res, ws)
    assert not changed and not fetched["in.txt"].changed
    # touch the file -> refetch
    src.write_text("v2")
    fetched, changed = prepare_resources(res, ws)
    assert changed
    assert open(fetched["in.txt"].path).read() == "v2"


def test_url_resource_with_time_limit(tmp_path):
    from impuls_spark.resource import TimeLimitedResource, URLResource

    src = tmp_path / "remote.txt"
    src.write_text("payload")
    res = {"r.txt": TimeLimitedResource(URLResource(src.as_uri()), 3600)}
    ws = str(tmp_path / "ws")
    fetched, changed = prepare_resources(res, ws)
    assert changed
    assert open(fetched["r.txt"].path).read() == "payload"
    # within the rate-limit window: no refetch even though URLResource
    # itself is unconditional
    fetched, changed = prepare_resources(res, ws)
    assert not changed


class _FakeFTP:
    """Duck-typed ftplib client: serves one file with a settable MDTM
    stamp; can be told to die mid-transfer."""

    def __init__(self, body: bytes, mdtm: str, fail_after: int | None = None):
        self.body = body
        self.mdtm = mdtm
        self.fail_after = fail_after

    def voidcmd(self, cmd):
        assert cmd.startswith("MDTM ")
        return f"213 {self.mdtm}"

    def retrbinary(self, cmd, callback, blocksize=8192):
        assert cmd.startswith("RETR ")
        for i in range(0, len(self.body), 4):
            if self.fail_after is not None and i >= self.fail_after:
                raise ConnectionError("link dropped mid-transfer")
            callback(self.body[i:i + 4])
        return "226 ok"

    def quit(self):
        pass


def _ftp_resource(fake):
    from impuls_spark.resource import FTPResource

    res = FTPResource(host="example.invalid", filename="feed.zip")
    res._connect = lambda: fake  # inject the stub session
    return res


def test_ftp_resource_conditional_fetch(tmp_path):
    ws = str(tmp_path / "ws")
    fake = _FakeFTP(b"feed-v1-bytes", "20260101120000")
    res = {"feed.zip": _ftp_resource(fake)}

    fetched, changed = prepare_resources(res, ws)
    assert changed
    assert open(fetched["feed.zip"].path, "rb").read() == b"feed-v1-bytes"

    # same MDTM -> 304-equivalent short-circuit, no refetch
    fetched, changed = prepare_resources(res, ws)
    assert not changed and not fetched["feed.zip"].changed

    # server file replaced with a NEWER stamp -> refetch
    fake.body, fake.mdtm = b"feed-v2-bytes!", "20260202120000"
    fetched, changed = prepare_resources(res, ws)
    assert changed
    assert open(fetched["feed.zip"].path, "rb").read() == b"feed-v2-bytes!"

    # OLDER stamp than cached (clock weirdness) -> still not modified,
    # matching the reference's `current <= cached` check
    fake.mdtm = "20260101120000"
    _, changed = prepare_resources(res, ws)
    assert not changed


def test_ftp_resource_mid_transfer_failure_keeps_cache(tmp_path):
    ws = str(tmp_path / "ws")
    fake = _FakeFTP(b"feed-v1-bytes", "20260101120000")
    res = {"feed.zip": _ftp_resource(fake)}
    fetched, _ = prepare_resources(res, ws)
    good = open(fetched["feed.zip"].path, "rb").read()

    # newer file on the server, but the transfer dies halfway: the old
    # cached body must survive untouched and the metadata must not
    # advance (so the next run retries)
    fake.body, fake.mdtm, fake.fail_after = b"feed-v2-bytes!", "20260202120000", 6
    with pytest.raises(ConnectionError):
        prepare_resources(res, ws)
    assert open(fetched["feed.zip"].path, "rb").read() == good
    assert not os.path.exists(fetched["feed.zip"].path + ".part")

    # transfer recovers -> clean refetch picks up v2
    fake.fail_after = None
    fetched, changed = prepare_resources(res, ws)
    assert changed
    assert open(fetched["feed.zip"].path, "rb").read() == b"feed-v2-bytes!"


def test_http_resource_mid_transfer_failure_keeps_cache(tmp_path, monkeypatch):
    import urllib.request

    from impuls_spark.resource import HTTPResource

    class _Resp:
        headers = {"ETag": 'W/"2"', "Last-Modified": "now"}

        def __init__(self, fail):
            self.fail = fail

        def read(self, n=-1):
            if self.fail:
                raise ConnectionError("truncated")
            return b""

        def __enter__(self):
            return self

        def __exit__(self, *a):
            return False

    state = {"fail": False, "body": b"payload-v1"}

    class _GoodResp(_Resp):
        def __init__(self):
            self._chunks = [state["body"], b""]

        def read(self, n=-1):
            if state["fail"] and len(self._chunks) == 1:
                raise ConnectionError("truncated mid-body")
            return self._chunks.pop(0)

    monkeypatch.setattr(urllib.request, "urlopen", lambda req: _GoodResp())
    ws = str(tmp_path / "ws")
    res = {"r.bin": HTTPResource("http://example.invalid/r.bin")}
    fetched, _ = prepare_resources(res, ws)
    assert open(fetched["r.bin"].path, "rb").read() == b"payload-v1"

    # second fetch dies after the first chunk: cached v1 must survive
    state["fail"], state["body"] = True, b"payload-v2"
    with pytest.raises(ConnectionError):
        prepare_resources(res, ws)
    assert open(fetched["r.bin"].path, "rb").read() == b"payload-v1"


# -- MultiFile --------------------------------------------------------------

@pytest.fixture()
def two_version_inputs(tmp_path_factory):
    from tests.fixtures.make_feed import write_feed

    base = tmp_path_factory.mktemp("mf_inputs")
    v1 = write_feed(str(base / "v1.zip"))

    def nxt(rows):
        for c in rows["calendar.txt"]:
            c["start_date"] = "20270601"
            c["end_date"] = "20280530"

    v2 = write_feed(str(base / "v2.zip"), mutate=nxt)
    return v1, v2


def test_multi_file(spark, two_version_inputs, tmp_path):
    v1, v2 = two_version_inputs
    ws = str(tmp_path / "ws")

    def provider():
        return [
            IntermediateFeed(LocalResource(v1), "v1", D(2026, 6, 1)),
            IntermediateFeed(LocalResource(v2), "v2", D(2027, 6, 1)),
        ]

    mf = MultiFile(provider=provider,
                   options=PipelineOptions(workspace_directory=ws))
    merged = mf.run(spark)
    assert merged["trips"].count() == 2 * 186
    # intermediates snapshotted
    assert os.path.exists(os.path.join(ws, "intermediate_feeds", "v1", "_SNAPSHOT_OK"))

    # second run with unchanged inputs short-circuits
    with pytest.raises(InputNotModified):
        MultiFile(provider=provider,
                  options=PipelineOptions(workspace_directory=ws)).run(spark)

    # force_run overrides
    merged2 = MultiFile(
        provider=provider,
        options=PipelineOptions(workspace_directory=ws, force_run=True),
    ).run(spark)
    assert merged2["trips"].count() == 2 * 186


def test_multi_file_newer_version_rebuilds_truncated_snapshot(
    spark, two_version_inputs, tmp_path
):
    """A snapshot is truncated to its version's validity window, so when
    a newer version appears the older snapshot must be rebuilt too, not
    only when its input changes: the incremental merge equals a cold
    build, with no older-version service on or after the newer start."""
    from impuls_spark.operators.calendars import active_days
    from tests.fixtures.make_feed import write_feed

    v1, _ = two_version_inputs
    def mid_year(rows):
        for c in rows["calendar.txt"]:
            c["start_date"] = "20261201"
            c["end_date"] = "20271130"

    v_new = write_feed(str(tmp_path / "b.zip"), mutate=mid_year)
    versions = [IntermediateFeed(LocalResource(v1), "a", D(2026, 6, 1)),
                IntermediateFeed(LocalResource(v_new), "b", D(2026, 12, 1))]

    def run(ws, n):
        return MultiFile(
            provider=lambda: versions[:n], for_date=D(2026, 6, 1),
            options=PipelineOptions(workspace_directory=str(ws)),
        ).run(spark)

    def days(feed):
        return sorted(tuple(r) for r in active_days(feed).collect())

    run(tmp_path / "ws", 1)
    incremental = days(run(tmp_path / "ws", 2))
    assert incremental == days(run(tmp_path / "cold", 2))
    assert not [d for cal, d in incremental
                if cal.startswith("a:") and d >= D(2026, 12, 1)]


def test_multi_file_prunes_outdated(spark):
    """Reference prune_outdated_feeds semantics (multi_file.py:141-158,
    pinned by reference tests/test_multi_file.py:124-137): keep the feed
    active on `today` plus everything after; drop superseded versions."""
    mf = MultiFile(provider=lambda: [], for_date=D(2023, 4, 30))
    feeds = [
        IntermediateFeed(LocalResource("x"), "v4", D(2023, 5, 14)),
        IntermediateFeed(LocalResource("x"), "v3", D(2023, 5, 1)),
        IntermediateFeed(LocalResource("x"), "v2", D(2023, 4, 20)),
        IntermediateFeed(LocalResource("x"), "v1", D(2023, 4, 1)),
    ]
    kept = mf.prune_outdated(feeds)
    assert [f.version for f in kept] == ["v2", "v3", "v4"]

    # today before every start date: nothing is pruned (cutoff clamps to 0)
    kept = mf.prune_outdated(feeds, today=D(2023, 1, 1))
    assert [f.version for f in kept] == ["v1", "v2", "v3", "v4"]

    # today after every start date: only the newest version is active
    kept = mf.prune_outdated(feeds, today=D(2024, 1, 1))
    assert [f.version for f in kept] == ["v4"]


# -- BusMan connector -------------------------------------------------------

def test_load_busman_with_fake_exporter(spark):
    """Real BusMan MDB shape (reference load_busman.py:120-254):
    tDepts reference patterns (tDirs) which reference lines; nTime is
    minutes; nSymbol is the stop code."""
    from impuls_spark.feed import FeedDataset
    from impuls_spark.sources.busman import LoadBusManMDB

    tables = {
        "tLines": [
            {"ID": "1", "nNumber": "A1", "nName": "Line A One"},
            {"ID": "2", "nNumber": "A1", "nName": "Line A One bis"},  # dup number
        ],
        "tDirs": [
            {"ID": "d1", "nLine": "1"},
            {"ID": "d2", "nLine": "2"},
        ],
        "tStakes": [
            {"ID": "10", "nSymbol": "s10", "nName": "Stop Ten",
             "nLat": "52.1", "nLong": "20.9"},
            {"ID": "11", "nSymbol": "s11", "nName": "Stop Eleven",
             "nLat": "", "nLong": ""},
        ],
        "tDayTypes": [{"ID": "D", "nName": " Weekdays "}],
        "tDepts": [
            {"ID": "100", "nDir": "d1", "nDayType": "D", "nTeam": "t1"},
            {"ID": "101", "nDir": "d2", "nDayType": "D", "nTeam": "t1"},
        ],
        "tPassages": [
            {"nDept": "100", "nStake": "10", "nOrder": "0", "nTime": "360"},
            {"nDept": "100", "nStake": "11", "nOrder": "1", "nTime": "365"},
        ],
        "tTeams": [{"ID": "t1", "nName": "Brigade 1"}],
    }
    task = LoadBusManMDB("fake.mdb", agency_id="0",
                         exporter=lambda path, t: tables[t])
    out = task.transform(FeedDataset.empty(spark), TaskRuntime(spark))
    routes = {r["route_id"]: r for r in out["routes"].collect()}
    assert set(routes) == {"1", "2"}  # internal ids by default
    assert routes["1"]["short_name"] == "A1"
    stops = {r["stop_id"]: r for r in out["stops"].collect()}
    assert stops["10"]["code"] == "s10"
    assert stops["11"]["lat"] == 0.0  # missing position -> 0
    # nTime minutes -> seconds
    st = out["stop_times"].orderBy("stop_sequence").collect()
    assert [s["arrival_time"] for s in st] == [360 * 60, 365 * 60]
    trips = {r["trip_id"]: r for r in out["trips"].collect()}
    assert trips["100"]["route_id"] == "1"  # via tDirs pattern
    assert trips["101"]["route_id"] == "2"
    assert out["calendars"].collect()[0]["desc"] == "Weekdays"

    # ignore_route_id: human number as id, duplicate lines collapse
    out2 = LoadBusManMDB("fake.mdb", agency_id="0", ignore_route_id=True,
                         exporter=lambda path, t: tables[t]).transform(
        FeedDataset.empty(spark), TaskRuntime(spark))
    assert [r["route_id"] for r in out2["routes"].collect()] == ["A1"]
    # both trips remap onto the surviving number id
    assert {r["route_id"] for r in out2["trips"].collect()} == {"A1"}


def test_busman_unavailable_raises(spark):
    from impuls_spark.feed import FeedDataset
    from impuls_spark.sources.busman import LoadBusManMDB, MdbExportUnavailable

    task = LoadBusManMDB("nonexistent.mdb", agency_id="0")
    with pytest.raises((MdbExportUnavailable, Exception)):
        task.transform(FeedDataset.empty(spark), TaskRuntime(spark))


# -- streaming --------------------------------------------------------------

def test_streaming_sessionize_batch_parity(spark):
    """session_window on a batch frame gives one row per gap-separated
    burst; streaming uses the identical plan."""
    from impuls_spark.streaming import sessionize_stream

    rows = [
        (1, "2024-01-01 10:00:00", 1.0),
        (1, "2024-01-01 10:10:00", 2.0),   # same session (gap < 30m)
        (1, "2024-01-01 12:00:00", 3.0),   # new session
        (2, "2024-01-01 10:00:00", 4.0),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts string, value double") \
        .withColumn("ts", F.col("ts").cast("timestamp"))
    out = sessionize_stream(df).collect()
    per_user = {}
    for r in out:
        per_user.setdefault(r["user_id"], []).append(r)
    assert len(per_user[1]) == 2
    assert len(per_user[2]) == 1
    first = sorted(per_user[1], key=lambda r: r["session_start"])[0]
    assert first["n_events"] == 2 and first["total_value"] == 3.0


def test_streaming_query_runs(spark, tmp_path):
    """Drive an actual streaming query (file source -> memory sink)."""
    from impuls_spark.streaming import windowed_event_counts

    src = tmp_path / "stream_in"
    src.mkdir()
    df = spark.createDataFrame(
        [(i, f"2024-01-01 10:{i:02d}:00", "click", 1.0) for i in range(10)],
        "event_id long, ts string, event_type string, value double",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    df.write.mode("overwrite").parquet(str(src))

    stream = spark.readStream.schema(df.schema).parquet(str(src))
    agg = windowed_event_counts(stream, window="5 minutes")
    q = (agg.writeStream.outputMode("append").format("memory")
         .queryName("win_out").start())
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    rows = spark.sql("SELECT * FROM win_out").collect()
    # append mode with watermark only emits closed windows; the plan ran
    assert q.lastProgress is not None


def test_app_cli(spark, tmp_path, monkeypatch):
    from impuls_spark.app import App
    from impuls_spark.operators import AddEntity
    from impuls_spark.pipeline import Pipeline

    ran = {}

    class MyApp(App):
        def build_session(self, args):
            return spark  # reuse the test session

        def prepare(self, args, options):
            ran["options"] = options
            return Pipeline([AddEntity("agencies", {
                "agency_id": "1", "name": "X", "url": "u", "timezone": "UTC",
            })])

    rc = MyApp().run(["-f", "-w", str(tmp_path / "ws")])
    assert rc == 0
    assert ran["options"].force_run is True


def test_yaml_managed_reader(tmp_path, spark):
    """A YAML-configured curation resource: fetch through the resource
    layer, parse with managed_read_yaml, feed the thresholds into
    quality_rules (parity: reference resource.py:543 ManagedResource.yaml)."""
    from impuls_spark.llm.curation import quality_rules
    from impuls_spark.resource import managed_read_yaml

    src = tmp_path / "curation.yaml"
    src.write_text(
        "quality:\n  min_words: 3\n  max_symbol_frac: 0.5\n"
        "langs: [en, pl]\n"
    )
    ws = str(tmp_path / "ws")
    fetched, changed = prepare_resources(
        {"curation.yaml": LocalResource(str(src))}, ws
    )
    assert changed
    cfg = managed_read_yaml(fetched["curation.yaml"].path)
    assert cfg["langs"] == ["en", "pl"]

    docs = spark.createDataFrame(
        [(1, "one two"), (2, "alpha beta gamma delta words here")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r.keep for r in
           quality_rules(docs, **cfg["quality"]).collect()}
    assert out == {1: False, 2: True}


def test_multi_file_parallel_intermediates(spark, two_version_inputs, tmp_path):
    """The two version builds must genuinely overlap on driver threads
    (SURVEY §3.2's improvement over the reference's sequential
    Pipelines.run) and produce output identical to a sequential run."""
    import threading

    v1, v2 = two_version_inputs

    def provider():
        return [
            IntermediateFeed(LocalResource(v1), "v1", D(2026, 6, 1)),
            IntermediateFeed(LocalResource(v2), "v2", D(2027, 6, 1)),
        ]

    # the factory runs inside _build_intermediate on the worker thread;
    # a barrier both builds must reach TOGETHER proves true overlap
    barrier = threading.Barrier(2, timeout=60)
    threads_seen: set[int] = set()

    def factory(feed):
        threads_seen.add(threading.get_ident())
        barrier.wait()
        return []

    par = MultiFile(
        provider=provider,
        intermediate_pipeline_tasks_factory=factory,
        options=PipelineOptions(workspace_directory=str(tmp_path / "par")),
    ).run(spark)
    assert len(threads_seen) == 2 and not barrier.broken

    seq = MultiFile(
        provider=provider,
        options=PipelineOptions(workspace_directory=str(tmp_path / "seq")),
        max_parallel_intermediates=1,
    ).run(spark)

    for tbl in ("trips", "stop_times", "calendars"):
        a = {tuple(r) for r in par[tbl].collect()}
        b = {tuple(r) for r in seq[tbl].collect()}
        assert a == b, tbl


def test_multi_file_parallel_executesql(spark, two_version_inputs, tmp_path):
    """Concurrent intermediates whose pipelines both run ExecuteSQL over
    session-global temp views: the view lock must keep each pipeline's
    SELECT bound to its own feed's tables."""
    from impuls_spark.operators.exec_sql import ExecuteSQL

    v1, v2 = two_version_inputs

    def provider():
        return [
            IntermediateFeed(LocalResource(v1), "v1", D(2026, 6, 1)),
            IntermediateFeed(LocalResource(v2), "v2", D(2027, 6, 1)),
        ]

    def factory(feed):
        # INSERT ... SELECT goes through register_views + spark.sql
        return [
            ExecuteSQL(
                statement=(
                    "INSERT INTO agencies (agency_id, name, url, timezone) "
                    f"SELECT agency_id || '-{feed.version}', name, url, timezone "
                    "FROM agencies"
                ),
            )
        ]

    merged = MultiFile(
        provider=provider,
        intermediate_pipeline_tasks_factory=factory,
        options=PipelineOptions(workspace_directory=str(tmp_path / "ws")),
    ).run(spark)
    ids = {r.agency_id for r in merged["agencies"].select("agency_id").collect()}
    assert any(i.endswith("-v1") for i in ids)
    assert any(i.endswith("-v2") for i in ids)


def test_multi_file_failed_build_recovers_incrementally(
    spark, two_version_inputs, tmp_path
):
    """A failing intermediate must not leave a valid-looking snapshot,
    and the next run must rebuild ONLY the failed version (the
    surviving sibling's snapshot is reused)."""
    v1, v2 = two_version_inputs
    ws = str(tmp_path / "ws")

    def provider():
        return [
            IntermediateFeed(LocalResource(v1), "v1", D(2026, 6, 1)),
            IntermediateFeed(LocalResource(v2), "v2", D(2027, 6, 1)),
        ]

    class Boom(RuntimeError):
        pass

    def failing_factory(feed):
        if feed.version == "v2":
            raise Boom("v2 pipeline exploded")
        return []

    with pytest.raises(Boom):
        MultiFile(
            provider=provider,
            intermediate_pipeline_tasks_factory=failing_factory,
            options=PipelineOptions(workspace_directory=ws),
        ).run(spark)

    v1_marker = os.path.join(ws, "intermediate_feeds", "v1", "_SNAPSHOT_OK")
    v2_marker = os.path.join(ws, "intermediate_feeds", "v2", "_SNAPSHOT_OK")
    assert os.path.exists(v1_marker)      # sibling completed and is valid
    assert not os.path.exists(v2_marker)  # failed build left no marker

    built = []

    def counting_factory(feed):
        built.append(feed.version)
        return []

    merged = MultiFile(
        provider=provider,
        intermediate_pipeline_tasks_factory=counting_factory,
        options=PipelineOptions(workspace_directory=ws),
    ).run(spark)
    assert built == ["v2"]                # v1's snapshot was reused
    assert merged["trips"].count() == 2 * 186


def test_streaming_sliding_windows_run_and_overlap(spark, tmp_path):
    """Sliding windows on an actual stream: complete mode shows each
    event counted in window/slide overlapping windows."""
    from impuls_spark.streaming import windowed_event_counts

    src = tmp_path / "slide_in"
    src.mkdir()
    df = spark.createDataFrame(
        [(1, "2024-01-01 10:07:00", "click", 1.0)],
        "event_id long, ts string, event_type string, value double",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    df.write.mode("overwrite").parquet(str(src))

    stream = spark.readStream.schema(df.schema).parquet(str(src))
    agg = windowed_event_counts(stream, window="10 minutes", slide="5 minutes")
    q = (agg.writeStream.outputMode("complete").format("memory")
         .queryName("slide_out").start())
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    rows = spark.sql("SELECT * FROM slide_out").collect()
    starts = sorted(str(r["window_start"]) for r in rows)
    # 10:07 falls in the 10-minute windows starting 10:00 and 10:05
    assert len(rows) == 2
    assert starts == ["2024-01-01 10:00:00", "2024-01-01 10:05:00"]
    assert all(r["n"] == 1 for r in rows)
