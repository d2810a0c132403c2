"""MultiFile — merge many versioned feeds into one continuous dataset,
with per-version caching of intermediate snapshots.

Parity target: reference impuls/multi_file.py:127-525. Flow mirrored:

1. a **provider** lists the needed feed versions (resource + version id
   + start date);
2. versions made redundant by a later feed's start date are pruned
   (reference prunes by start-date bisect, multi_file.py:141-158);
3. each version's input is conditionally fetched; **stale intermediate
   snapshots** (older than the fetched input) are invalidated by
   fingerprint comparison (multi_file.py:387-458);
4. each missing intermediate runs its own pipeline: load + user
   pre-merge tasks + an auto-prepended ``TruncateCalendars`` to the
   version's validity window (multi_file.py:498-525), then snapshots to
   parquet — this is where our engine improves on the reference:
   intermediates are **independent Spark jobs submitted concurrently
   from driver threads** (the reference is forced to run them
   sequentially, multi_file.py:53-57) and the snapshot format is
   splittable parquet, not a SQLite file. On a cluster each thread's
   jobs are tagged into a FAIR scheduler pool so one huge version
   can't starve the others;
5. the final pipeline is ``Merge`` over all snapshots + user tasks.

If every input is unchanged and all snapshots exist, the run
short-circuits with ``InputNotModified`` (reference pipeline semantics).
"""

from __future__ import annotations

import bisect
import datetime
import json
import os
import shutil
from collections.abc import Callable, Sequence
from dataclasses import dataclass, field

from pyspark.sql import SparkSession

from .errors import InputNotModified
from .feed import FeedDataset
from .operators.calendars import TruncateCalendars
from .operators.merge import Merge
from .pipeline import Pipeline
from .resource import Resource, prepare_resources
from .sources import load_feed_parquet, load_gtfs, save_feed_parquet
from .task import PipelineOptions, Task, TaskRuntime
from .tools.temporal import DateRange


@dataclass
class IntermediateFeed:
    """One needed version (reference multi_file.py:60-98)."""

    resource: Resource
    version: str
    start_date: datetime.date
    #: name under which the fetched input is visible to the version's
    #: intermediate pipeline tasks (reference IntermediateFeed
    #: .resource_name, used e.g. as LoadBusManMDB(feed.resource_name));
    #: defaults to "<version>.input"
    resource_name: str = ""

    def __post_init__(self) -> None:
        if not self.resource_name:
            self.resource_name = f"{self.version}.input"


def prune_outdated_feeds(
    feeds: Sequence[IntermediateFeed], today: datetime.date
) -> list[IntermediateFeed]:
    """Drop versions superseded before ``today`` (reference
    multi_file.py:141-158): sort by start date, keep the feed active on
    ``today`` (the last one starting on/before it) and everything after.

    Unlike the reference this returns a new list instead of mutating in
    place — provider code composes it the same way.
    """
    ordered = sorted(feeds, key=lambda f: f.start_date)
    cutoff = max(
        bisect.bisect_right(ordered, today, key=lambda f: f.start_date) - 1, 0
    )
    return ordered[cutoff:]


def _window_key(window: DateRange) -> list:
    """JSON form of a validity window, as recorded in ``_SNAPSHOT_OK``."""
    return [d and d.isoformat() for d in (window.start, window.end)]


def _snapshot_window(snap: str) -> "list | None":
    """The window a complete snapshot was truncated to; ``None`` when
    the snapshot is missing or incomplete (no ``_SNAPSHOT_OK``) or
    predates window recording — any of which means rebuild."""
    try:
        with open(os.path.join(snap, "_SNAPSHOT_OK")) as fh:
            return json.load(fh).get("window")
    except (OSError, ValueError):
        return None


@dataclass
class MultiFile:
    """``provider`` returns the needed versions, newest last.

    ``intermediate_pipeline_tasks_factory`` builds the per-version
    pre-merge tasks; ``final_pipeline_tasks_factory`` the post-merge
    tasks (both mirror the reference's factory params,
    multi_file.py:170-220).
    """

    provider: Callable[[], Sequence[IntermediateFeed]]
    intermediate_pipeline_tasks_factory: Callable[[IntermediateFeed], Sequence[Task]] = (
        lambda feed: []
    )
    final_pipeline_tasks_factory: Callable[[], Sequence[Task]] = lambda: []
    options: PipelineOptions = field(default_factory=PipelineOptions)
    loader: Callable[[SparkSession, str], FeedDataset] = load_gtfs
    #: extra named resources (curation patch files etc.) made available to
    #: every intermediate and final pipeline via ``runtime.resources``.
    #: Matching the reference (multi_file.py:260, 528-534), changes in
    #: these do NOT trigger intermediate rebuilds and do not defeat the
    #: InputNotModified short-circuit.
    additional_resources: dict[str, Resource] = field(default_factory=dict)
    #: "today" for pruning superseded versions; ``None`` = the real today
    #: (mirrors the reference providers' ``for_date``,
    #: e.g. examples/radom/provider.py:49)
    for_date: datetime.date | None = None
    #: how many intermediate snapshot builds run concurrently. The
    #: builds are independent (disjoint inputs, disjoint output dirs),
    #: so they are submitted from driver threads sharing the one
    #: SparkSession; 1 restores the reference's sequential behavior.
    max_parallel_intermediates: int = 4

    # ------------------------------------------------------------------

    def _workspace(self) -> str:
        return self.options.workspace_directory

    def _snapshot_dir(self, version: str) -> str:
        return os.path.join(self._workspace(), "intermediate_feeds", version)

    def prune_outdated(
        self,
        feeds: Sequence[IntermediateFeed],
        today: datetime.date | None = None,
    ) -> list[IntermediateFeed]:
        """Drop versions superseded before ``today`` (defaults to
        ``self.for_date``, then the real today) per reference
        multi_file.py:141-158."""
        today = today or self.for_date or datetime.date.today()
        return prune_outdated_feeds(feeds, today)

    def _cleanup_unneeded(self, needed: Sequence[IntermediateFeed]) -> None:
        base = os.path.join(self._workspace(), "intermediate_feeds")
        if not os.path.isdir(base):
            return
        wanted = {f.version for f in needed}
        for name in os.listdir(base):
            if name not in wanted:
                shutil.rmtree(os.path.join(base, name), ignore_errors=True)

    @staticmethod
    def _validity_window(
        ordered: Sequence[IntermediateFeed], i: int
    ) -> DateRange:
        """Version i is valid from its start date until the day before
        the next version starts (reference multi_file.py:498-525)."""
        if i + 1 < len(ordered):
            next_start = ordered[i + 1].start_date - datetime.timedelta(days=1)
            return DateRange.bounded(ordered[i].start_date, next_start)
        return DateRange.right_open(ordered[i].start_date)

    def _build_intermediate(
        self,
        spark: SparkSession,
        f: IntermediateFeed,
        window: DateRange,
        fetched: dict,
        extra: dict,
    ) -> None:
        """Load one version, run its pre-merge pipeline, snapshot to
        parquet. Thread-safe: touches only this version's input and
        snapshot dir. Jobs submitted from this call are tagged into a
        per-version FAIR pool so concurrent builds share the cluster
        fairly (no-op under the default FIFO scheduler)."""
        spark.sparkContext.setLocalProperty(
            "spark.scheduler.pool", f"multifile-{f.version}"
        )
        try:
            in_path = fetched[f"{f.version}.input"].path
            feed = self.loader(spark, in_path)
            # user tasks first, truncation last: the reference truncates
            # in the PRE-MERGE pipeline, after the version's own tasks
            # (multi_file.py:513) — required for providers whose load
            # happens via a task (e.g. LoadBusManMDB), where calendars
            # don't exist until the user tasks have run
            tasks: list[Task] = list(self.intermediate_pipeline_tasks_factory(f))
            tasks.append(TruncateCalendars(window))
            pipe = Pipeline(
                tasks,
                options=self.options,
                # the version's own fetched input is addressable by its
                # resource_name, like any additional resource
                prefetched_resources={
                    **extra, f.resource_name: fetched[f"{f.version}.input"]
                },
            )
            feed = pipe.run(spark, feed)
            snap = self._snapshot_dir(f.version)
            save_feed_parquet(feed, snap)
            with open(os.path.join(snap, "_SNAPSHOT_OK"), "w") as fh:
                json.dump({"version": f.version,
                           "window": _window_key(window)}, fh)
        finally:
            spark.sparkContext.setLocalProperty("spark.scheduler.pool", None)

    def run(self, spark: SparkSession) -> FeedDataset:
        feeds = self.prune_outdated(list(self.provider()))
        if not feeds:
            raise ValueError("MultiFile provider returned no feeds")
        self._cleanup_unneeded(feeds)

        resources = {f"{f.version}.input": f.resource for f in feeds}
        fetched, any_changed = prepare_resources(
            resources, self._workspace(), from_cache=self.options.from_cache
        )

        # invalidate snapshots older than their (re-fetched) input, and
        # snapshots truncated to a validity window that has since
        # changed (a newer version now ends an older one's window)
        ordered = sorted(feeds, key=lambda f: f.start_date)
        windows = {
            f.version: self._validity_window(ordered, i)
            for i, f in enumerate(ordered)
        }
        to_build: list[IntermediateFeed] = []
        for f in ordered:
            snap = self._snapshot_dir(f.version)
            if (fetched[f"{f.version}.input"].changed
                    or _snapshot_window(snap) != _window_key(windows[f.version])):
                shutil.rmtree(snap, ignore_errors=True)
                to_build.append(f)

        if not to_build and not any_changed and not self.options.force_run:
            raise InputNotModified("all versions cached and unchanged")

        # additional resources: fetched unconditionally, but their changed
        # flags are ignored (reference multi_file.py:529-534)
        extra, _ = prepare_resources(
            self.additional_resources,
            self._workspace(),
            from_cache=self.options.from_cache,
        )

        # per-version intermediate pipelines: independent (disjoint
        # inputs, disjoint snapshot dirs), so submit them concurrently
        # from driver threads sharing the one SparkSession — the Spark
        # scheduler interleaves their stages across executors. The
        # reference is forced to run them sequentially
        # (multi_file.py:53-57); SURVEY §3.2 names this as the designed
        # Spark-era win.
        builds = [(f, windows[f.version]) for f in to_build]
        workers = max(1, min(self.max_parallel_intermediates, len(builds)))
        if workers == 1:
            for f, window in builds:
                self._build_intermediate(spark, f, window, fetched, extra)
        else:
            import concurrent.futures

            with concurrent.futures.ThreadPoolExecutor(workers) as pool:
                futures = [
                    pool.submit(
                        self._build_intermediate, spark, f, window, fetched, extra
                    )
                    for f, window in builds
                ]
                # surface the FIRST failure but let in-flight builds
                # finish (their snapshot dirs stay consistent: the
                # _SNAPSHOT_OK marker is only written on success)
                for fut in concurrent.futures.as_completed(futures):
                    fut.result()

        # final pipeline: Merge + user tasks
        sources = [
            (f.version, load_feed_parquet(spark, self._snapshot_dir(f.version)))
            for f in ordered
        ]
        final_tasks: list[Task] = [Merge(sources)]
        final_tasks.extend(self.final_pipeline_tasks_factory())
        pipe = Pipeline(
            final_tasks, options=self.options, prefetched_resources=extra
        )
        return pipe.run(spark)
