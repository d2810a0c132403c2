"""The benchmark's workloads. Each has the same shape:

- ``prepare(work, seed)`` writes its inputs (not timed);
- ``warmup(spark, op_dir)`` is set-up's warm-up (see each class); it returns
  what ``check`` needs, or None when there is nothing to check;
- ``min_ops`` is the fewest ops a run makes, also past ``--seconds``;
- ``stage(i)`` makes op ``i``'s inputs (not timed);
- ``op(spark, i, op_dir, tr)`` runs op ``i`` and returns what the checks
  need; with a tracer ``tr`` it opens spans around the package's public
  calls and forces execution at each layer boundary;
- ``check(result)`` returns the op's problems (not timed);
- ``extra`` names the per-layer metrics ``op`` reports in ``result['extra']``.
"""

from __future__ import annotations

import datetime
import hashlib
import os
from contextlib import nullcontext

import checks
import gen
import tracing

# the files the chain writes (GTFS file -> columns)
HEADERS = {
    "agency.txt": ["agency_id", "agency_name", "agency_url", "agency_timezone"],
    "routes.txt": ["route_id", "agency_id", "route_short_name", "route_type"],
    "stops.txt": ["stop_id", "stop_name", "stop_lat", "stop_lon", "wheelchair_boarding"],
    "trips.txt": ["route_id", "service_id", "trip_id", "trip_headsign"],
    "stop_times.txt": ["trip_id", "arrival_time", "departure_time", "stop_id",
                       "stop_sequence"],
    "calendar.txt": ["service_id", "monday", "tuesday", "wednesday", "thursday",
                     "friday", "saturday", "sunday", "start_date", "end_date"],
    "calendar_dates.txt": ["service_id", "date", "exception_type"],
}


def _span(tr, name):
    return tr.span(name) if tr else nullcontext()


def _sha256(path: str) -> str:
    with open(path, "rb") as fh:
        return hashlib.sha256(fh.read()).hexdigest()


def _force(feed, tr):
    """The traced run's forced execution of a lazy feed. The RDDs its
    checkpoint persists are the benchmark's, so the leak count leaves them
    out."""
    sc = feed.spark.sparkContext
    before = tracing.persisted_rdds(sc)
    feed = feed.checkpoint()
    tr.forced_rdds |= tracing.persisted_rdds(sc) - before
    return feed


class TracedTask:
    """A pipeline task whose transform runs in an ``operators.<Task>``
    span split into ``plan`` (the lazy transform) and ``exec`` (a forced
    checkpoint), so each task's execution is measured on its own."""

    def __init__(self, task, tr) -> None:
        self.task, self.tr = task, tr
        self.layer = f"operators.{type(task).__name__}"

    @property
    def name(self) -> str:
        return self.task.name

    def transform(self, feed, runtime):
        with self.tr.span(self.layer):
            with self.tr.span(self.layer + ".plan"):
                feed = self.task.transform(feed, runtime)
            with self.tr.span(self.layer + ".exec"):
                return _force(feed, self.tr)


class SaveMerged:
    """MultiFile's final task: save the merged feed."""

    name = "SaveMerged"

    def __init__(self, target: str, tr) -> None:
        self.target, self.tr = target, tr

    def transform(self, feed, runtime):
        from impuls_spark.sources import save_gtfs

        with _span(self.tr, "sources.gtfs_write.merged"):
            save_gtfs(feed, HEADERS, self.target, ensure_order=True)
        return feed


class GtfsChain:
    """A nightly feed publish. Today's feed is curated (load_gtfs ->
    Pipeline(curation tasks) -> save_gtfs), and the curated zip is the
    newest version of a two-version MultiFile whose workspace persists
    from night to night. Set-up builds the MultiFile cold (both
    intermediates, concurrently); each op then rewrites today's version,
    so MultiFile rebuilds that one intermediate, reads yesterday's from its
    snapshot, merges and saves. A re-run with nothing changed must raise
    ``InputNotModified`` without a Spark job."""

    name = "gtfs_chain"
    #: per-layer metrics the op reports itself
    extra = ("sources.gtfs_write.zip_mb",)
    min_ops = 1
    stop_times = 20000
    #: yesterday's version, already curated
    previous_stop_times = 2000
    #: version start dates: yesterday's, today's
    starts = (datetime.date(2026, 5, 1), datetime.date(2026, 6, 1))

    @staticmethod
    def tasks():
        from impuls_spark.operators import ExecuteSQL, GenerateTripHeadsign

        return [ExecuteSQL(statement=gen.DELETE_SQL), GenerateTripHeadsign()]

    def prepare(self, work: str, seed: int) -> None:
        self.input = os.path.join(work, "feed.zip")
        today = gen.write_feed(self.input, seed, self.stop_times, self.starts[1])
        self.versions = os.path.join(work, "versions")
        os.makedirs(self.versions)
        previous = gen.write_feed(
            os.path.join(self.versions, f"{self.starts[0]}.zip"), seed,
            self.previous_stop_times, self.starts[0], curated=True)
        self.today = os.path.join(self.versions, f"{self.starts[1]}.zip")
        self.mf_workspace = os.path.join(work, "multi_file")
        self.expect = today
        # the stops of the smaller version are a subset of today's
        self.expect_merged = {"trips_out": today["trips_out"] + previous["trips_out"],
                              "stops": max(today["stops"], previous["stops"]),
                              "windows": {str(self.starts[0]): (self.starts[0], self.starts[1]),
                                          str(self.starts[1]): (self.starts[1], None)}}
        self.first_sha: dict[str, str] = {}

    def _curate(self, spark, op_dir: str, tr=None) -> None:
        from impuls_spark.pipeline import Pipeline
        from impuls_spark.sources import load_gtfs, save_gtfs
        from impuls_spark.task import PipelineOptions

        with _span(tr, "sources.gtfs_read"):
            feed = load_gtfs(spark, self.input, workspace=op_dir)
        if tr:
            with tr.span("sources.gtfs_read.exec"):
                feed = _force(feed, tr)
        tasks = self.tasks()
        if tr:
            tasks = [TracedTask(t, tr) for t in tasks]
        with _span(tr, "pipeline"):
            feed = Pipeline(tasks, options=PipelineOptions(
                workspace_directory=op_dir)).run(spark, feed)
        with _span(tr, "sources.gtfs_write"):
            save_gtfs(feed, HEADERS, self.today, ensure_order=True)

    def _publish(self, spark, op_dir: str, tr=None) -> dict:
        """Curate today's feed, run the MultiFile, then run it again with
        nothing changed."""
        from impuls_spark.errors import InputNotModified
        from impuls_spark.multi_file import IntermediateFeed, MultiFile
        from impuls_spark.resource import LocalResource
        from impuls_spark.task import PipelineOptions

        self._curate(spark, op_dir, tr)
        merged = os.path.join(op_dir, "merged.zip")

        def provider():
            return [IntermediateFeed(LocalResource(os.path.join(self.versions, f"{d}.zip")),
                                     version=str(d), start_date=d)
                    for d in self.starts]

        mf = MultiFile(provider, final_pipeline_tasks_factory=lambda: [
            SaveMerged(merged, tr)], for_date=self.starts[0],
            options=PipelineOptions(workspace_directory=self.mf_workspace))
        with _span(tr, "multi_file"):
            mf.run(spark)
        jobs = tracing.job_count(spark.sparkContext)
        with _span(tr, "multi_file.unchanged"):
            try:
                mf.run(spark)
                unchanged = "ran"
            except InputNotModified:
                unchanged = "InputNotModified"
        return {"out": self.today, "merged": merged, "unchanged": unchanged,
                "unchanged_jobs": tracing.job_count(spark.sparkContext) - jobs,
                "extra": {"sources.gtfs_write.zip_mb": os.path.getsize(self.today) / 1e6}}

    def warmup(self, spark, op_dir: str) -> dict:
        """One publish into the empty MultiFile workspace: the cold build,
        which writes both intermediates' snapshots. Its outputs are the
        reference the ops' outputs must equal byte for byte."""
        return self._publish(spark, op_dir)

    def stage(self, i: int) -> None:
        pass

    def op(self, spark, i: int, op_dir: str, tr=None) -> dict:
        return self._publish(spark, op_dir, tr)

    def check(self, res: dict) -> list[str]:
        problems = checks.chain_output(checks.read_zip(res["out"]), self.expect)
        problems += [f"merged: {p}" for p in checks.merged_output(
            checks.read_zip(res["merged"]), self.expect_merged)]
        if res["unchanged"] != "InputNotModified" or res["unchanged_jobs"]:
            problems.append(f"unchanged re-run: {res['unchanged']}, "
                            f"{res['unchanged_jobs']} Spark jobs")
        for key in ("out", "merged"):
            sha = _sha256(res[key])
            if self.first_sha.setdefault(key, sha) != sha:
                problems.append(f"{key} zip differs from the set-up's on the same input")
        return problems


class DedupLifecycle:
    """Day-N cycles against a persisted DedupIndex: ingest a batch with
    planted exact/near/novel docs, take down yesterday's ids, classify
    probes — each cycle through a fresh ``DedupIndex.load``."""

    name = "dedup_lifecycle"
    extra = ("llm.dedup.index_files", "llm.dedup.index_mb")
    min_ops = 3
    corpus = 20000
    batch = 1500
    takedown = 150

    def prepare(self, work: str, seed: int) -> None:
        self.seed = seed
        self.docs = gen.corpus_docs(seed, self.corpus)
        self.index = os.path.join(work, "index")

    @staticmethod
    def _frame(spark, docs):
        return spark.createDataFrame(docs, "doc_id string, text string")

    def _cycle(self, spark, path: str, day: dict, tr=None) -> dict:
        from impuls_spark.llm.dedup import DedupIndex

        with _span(tr, "llm.dedup.load"):
            idx = DedupIndex.load(spark, path)
        with _span(tr, "llm.dedup.ingest"):
            ingested = dict(idx.ingest(self._frame(spark, day["batch"])).collect())
        with _span(tr, "llm.dedup.remove"):
            idx.remove(day["takedown"])
        with _span(tr, "llm.dedup.classify"):
            classified = dict(idx.classify(self._frame(spark, day["probes"])).collect())
        return {"ingested": ingested, "classified": classified, "day": day}

    def warmup(self, spark, op_dir: str) -> None:
        """Build the index. There is no warm-up cycle: the first op is the
        slowest of a run, and ``op_s`` is the median of at least
        ``min_ops`` ops."""
        from impuls_spark.llm.dedup import DedupIndex

        DedupIndex.build(self._frame(spark, self.docs), self.index, track_ids=True)

    def stage(self, i: int) -> None:
        self.day = gen.dedup_day(self.seed, i, self.docs, self.batch, self.takedown)

    def op(self, spark, i: int, op_dir: str, tr=None) -> dict:
        res = self._cycle(spark, self.index, self.day, tr)
        files = [os.path.join(d, f) for d, _, fs in os.walk(self.index)
                 for f in fs if f.endswith(".parquet")]
        res["extra"] = {"llm.dedup.index_files": len(files),
                        "llm.dedup.index_mb": sum(map(os.path.getsize, files)) / 1e6}
        return res

    def check(self, res: dict) -> list[str]:
        day = res["day"]
        return (checks.statuses(res["ingested"], day["want"], "ingest")
                + checks.statuses(res["classified"], day["probe_want"], "classify"))


WORKLOADS = {w.name: w for w in (GtfsChain, DedupLifecycle)}
