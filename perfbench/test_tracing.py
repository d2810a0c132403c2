"""Job attribution checks on a tiny session.

    python3 -m pytest perfbench/test_tracing.py -q     (from the repo root)
"""

from __future__ import annotations

import threading

import pytest

import tracing


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from pyspark.sql import SparkSession

    tmp = tmp_path_factory.mktemp("spark")
    spark = (SparkSession.builder.master("local[2]").appName("perfbench-test")
             .config("spark.ui.enabled", "false")
             .config("spark.ui.showConsoleProgress", "false")
             .config("spark.sql.shuffle.partitions", "2")
             .config("spark.local.dir", str(tmp))
             .getOrCreate())
    yield spark
    spark.stop()


def test_pool_thread_jobs_are_attributed_to_their_op_and_span(spark, tmp_path):
    from impuls_spark.tools.concurrency import parallel_writes

    sc = spark.sparkContext
    tr = tracing.Tracer()
    hv = tracing.JobHarvester(sc)
    start = tracing.job_count(sc)
    df = spark.range(1000)

    def write(name):
        with tr.span("write"):
            df.write.mode("overwrite").parquet(str(tmp_path / name))

    per_op = []
    for op in range(2):
        tr.op = op
        with tr.span("op"):
            df.count()                       # a job from the op thread
            before = tracing.job_count(sc)
            with tr.span("writes"):          # jobs from pool threads
                parallel_writes(lambda: write("a"), lambda: write("b"))
            n_writes = tracing.job_count(sc) - before
        jobs, submitted = hv.harvest()
        spans = [s for s in tr.spans if s["op"] == op]
        tracing.attribute(spans, jobs)
        per_op.append((jobs, submitted, spans, n_writes))

    assert sum(len(j) for j, _, _, _ in per_op) == tracing.job_count(sc) - start
    for jobs, submitted, spans, n_writes in per_op:
        assert len(jobs) == submitted >= 3
        by_id = {s["id"]: s for s in spans}
        assert all(j["span"] in by_id for j in jobs)
        writes = [s for s in spans if s["name"] == "write"]
        assert len(writes) == 2
        assert all(by_id[s["parent"]]["name"] == "writes" for s in writes)
        assert {s["thread"] for s in writes} != {threading.get_ident()}
        in_writes = tracing.subtree(spans, {"writes"})
        assert sum(j["span"] in in_writes for j in jobs) == n_writes >= 2
        assert all(j["tasks"] >= 1 for j in jobs)


def test_each_stage_is_counted_once(spark):
    sc = spark.sparkContext
    hv = tracing.JobHarvester(sc)
    rdd = sc.parallelize(range(100), 2).map(lambda x: (x % 7, 1)) \
        .reduceByKey(lambda a, b: a + b)
    rdd.collect()
    rdd.collect()  # the shuffle map stage is reused, hence skipped
    jobs, submitted = hv.harvest()
    assert submitted == len(jobs) == 2
    assert [j["stages"] for j in jobs] == [2, 1]


def test_covered_merges_overlapping_intervals():
    assert tracing.covered([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert tracing.covered([(0, 2), (1, 3)], 1.5, 2.5) == 1
    assert tracing.covered([], 0, 1) == 0


def test_layer_metrics_reads_each_kind_from_spans_and_jobs():
    import run

    def span(i, name, start, end, parent=None):
        return {"id": i, "name": name, "parent": parent, "op": 0, "thread": 1,
                "start": start, "end": end}

    def job(start, end, cpu_s):
        return {"start": start, "end": end, "run_s": end - start, "cpu_s": cpu_s,
                "stages": 1, "tasks": 2, "gc_s": 0.0, "shuffle_write_mb": 0.5,
                "spill_mb": 0.0, "output_mb": 0.0}

    spans = [span(0, "sources.gtfs_read", 0, 1), span(1, "sources.gtfs_read.exec", 1, 2),
             span(2, "operators.X", 2, 5), span(3, "operators.X.plan", 2, 3, 2),
             span(4, "operators.X.exec", 3, 5, 2)]
    jobs = [job(0.5, 0.8, 0.1), job(1.2, 1.9, 0.2), job(3.5, 4.5, 0.3), job(5.5, 5.6, 0.0)]
    m = run.layer_metrics(
        ["sources.gtfs_read.call_s", "sources.gtfs_read.exec_s", "sources.gtfs_read.jobs",
         "sources.gtfs_read.cpu_s", "sources.gtfs_read.spark_s", "sources.gtfs_read.driver_s",
         "operators.X.plan_s", "operators.X.exec_s", "operators.X.jobs",
         "operators.X.shuffle_mb", "operators.X.calls", "spark.jobs",
         "spark.tasks",
         "spark.cpu_share", "driver.outside_jobs_s"], spans, jobs, 0, 6)
    want = {"sources.gtfs_read.call_s": 1, "sources.gtfs_read.exec_s": 1,
            # the forced execution is a sibling span, and still the read's
            "sources.gtfs_read.jobs": 2, "sources.gtfs_read.cpu_s": 0.3,
            # only the part of the read's own span that its jobs cover
            "sources.gtfs_read.spark_s": 0.3, "sources.gtfs_read.driver_s": 0.7,
            "operators.X.plan_s": 1, "operators.X.exec_s": 2, "operators.X.jobs": 1,
            "operators.X.shuffle_mb": 0.5, "operators.X.calls": 1,
            "spark.jobs": 4,
            "spark.tasks": 8, "spark.cpu_share": 0.6 / 2.1,
            "driver.outside_jobs_s": 6 - 2.1}
    assert m == pytest.approx(want)
