"""Benchmark harness: run every showcase query at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) and print ONE JSON line with per-query
seconds. Each query is forced end-to-end with a noop sink (full plan
executes, nothing collects to the driver)."""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def _machine_state() -> dict:
    """Load + CPU-frequency snapshot; a high START load means another
    workload is still releasing cores and the run is contaminated
    (exactly how the r7 268s-vs-196s sf1 artifact was caught). The
    shared probe, cut to the keys this script has always reported."""
    from scripts.bench_protocol import machine_state

    state = machine_state()
    return {k: state[k] for k in ("load_avg_1m", "cpu_mhz_mean")
            if k in state}


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    machine_start = _machine_state()
    try:
        sf = float(os.path.basename(sf_dir.rstrip("/")).removeprefix("sf"))
    except ValueError:
        sf = None

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("impuls_spark_bench")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as e
    from impuls_spark.showcase import BENCH_ORDER

    # queries() is in correctness-priority order (driver-cap aware);
    # the bench runs the perf-tuned order instead: cheap relational
    # first, shared-cache-warming + memory-heavy dedup suite last.
    all_qs = e.queries()
    qs = {name: all_qs[name] for name in BENCH_ORDER}
    # optional subset (scale-curve runs): comma-separated names, order
    # preserved from BENCH_ORDER so the tail discipline still holds
    subset = os.environ.get("SPARK_GRAFT_QUERIES")
    if subset:
        want = {s.strip() for s in subset.split(",") if s.strip()}
        unknown = want - set(qs)
        if unknown:
            print(f"# unknown queries ignored: {sorted(unknown)}",
                  file=sys.stderr)
        qs = {n: f for n, f in qs.items() if n in want}

    # untimed warmup: JVM/codegen/Arrow initialization should not be
    # charged to whichever query happens to run first
    try:
        spark.range(1000).selectExpr("sum(id) s").write.format("noop").mode(
            "overwrite"
        ).save()
        next(iter(qs.values()))(spark, sf_dir).limit(1).count()
    except Exception:
        pass

    # diagnostic knob: drop every persisted frame right before the
    # named query (cache-residency attribution experiments; BASELINE.md
    # r7 sf1 notes). Consumers of the shared caches rebuild after it.
    clear_before = os.environ.get("SPARK_GRAFT_CLEAR_CACHE_BEFORE")

    # machine-drift canary (VERDICT r12 #1/#5): the fixed control
    # queries bracket the suite (start AND end — the r12 early pin's
    # within-pin 21% drift is why both ends matter), OUTSIDE the timed
    # total so cross-round "value" comparisons stay like-for-like.
    # Code-query seconds divided by the canary composite are the
    # machine-immune ratios. Default on for full-suite runs, off for
    # scale-curve subsets (r4-r9 record comparability).
    canary: dict[str, dict] = {}
    run_canary = os.environ.get(
        "SPARK_GRAFT_CANARY", "0" if subset else "1"
    ) == "1"
    if run_canary:
        try:
            from scripts.bench_canary import canary_timings

            canary["start"] = canary_timings(spark, sf_dir)
        except Exception as ex:
            print(f"# canary (start) failed: {ex}", file=sys.stderr)

    timings: dict[str, float] = {}
    t_all = time.time()

    # Force the shared per-session builds (shingle pass, capped overlap
    # frame, MinHash signatures, LSH pair graph; the d56/d57 |D|xk cell
    # assignment) immediately BEFORE the first query of each consuming
    # FAMILY, and report each build's cost separately: in-suite
    # per-query numbers then measure incremental work instead of
    # charging the shared build to whichever family member runs first
    # (the d59 53s-in-suite-vs-20s-isolated artifact; the d56
    # 3.2-8.3 s placement rotation, r12 item 6).  NOT at loop start: at
    # sf1 the memory-heavy artifact chains running in between evicted
    # an early-built cache and the first consumer paid a full rebuild
    # anyway (r10 measurement).  Default ON for the full suite, OFF for
    # subset runs (scale-curve comparability with the r4-r9 record);
    # still inside the total wall so "value" stays round-over-round
    # comparable.
    shared_timings: dict[str, float] = {}
    prebuild = os.environ.get(
        "SPARK_GRAFT_SHARED_PREBUILD", "0" if subset else "1"
    ) == "1"
    prebuild_at: dict[str, list] = {}
    if prebuild:
        from impuls_spark.showcase import SHARED_BUILD_GROUPS

        for group in SHARED_BUILD_GROUPS:
            first = next(
                (n for n in qs if n in group["consumers"]), None
            )
            if first is not None:
                prebuild_at.setdefault(first, []).append(group)

    def _run_shared_builds(groups: list) -> None:
        # builds within an UNORDERED group are independent (disjoint
        # on-disk artifacts) — overlap them (guide §2.6) so the group
        # pays its slowest build, not the sum; per-build seconds stay
        # reported (now concurrent walls), and <group>_wall carries
        # the group's true cost for cross-round comparison. Groups
        # marked ordered=True (pair_graph: each build extends the
        # previous one's cache) keep their sequential chain.
        from impuls_spark.tools.concurrency import parallel_writes

        for group in groups:
            def _one(bname, force):
                t0 = time.time()
                try:
                    force(spark, sf_dir)
                    shared_timings[bname] = round(time.time() - t0, 3)
                except Exception as ex:
                    print(f"# shared build error in {bname}: {ex}",
                          file=sys.stderr)
                    shared_timings[bname] = -1.0

            tg = time.time()
            thunks = [lambda b=bname, f=force: _one(b, f)
                      for bname, force in group["builds"].items()]
            if group.get("ordered"):
                for t in thunks:
                    t()
            else:
                parallel_writes(*thunks)
            shared_timings[f"{group['name']}_wall"] = round(
                time.time() - tg, 3)

    for name, fn in qs.items():
        if clear_before and name == clear_before:
            spark.catalog.clearCache()
            print(f"# cleared cache before {name}", file=sys.stderr)
        if name in prebuild_at:
            _run_shared_builds(prebuild_at[name])
        t0 = time.time()
        try:
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            timings[name] = round(time.time() - t0, 3)
        except Exception as ex:  # a failing query records -1, bench continues
            print(f"# bench error in {name}: {ex}", file=sys.stderr)
            timings[name] = -1.0
    total = round(time.time() - t_all, 3)

    if run_canary:
        try:
            from scripts.bench_canary import canary_timings

            canary["end"] = canary_timings(spark, sf_dir)
        except Exception as ex:
            print(f"# canary (end) failed: {ex}", file=sys.stderr)

    machine = {"start": machine_start, "end": _machine_state()}

    print(json.dumps({
        "metric": "showcase_suite_wall_seconds",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "shared_builds": shared_timings,
        "sf": sf,
        "n_queries": len(timings),
        "cpus": int(cpus),
        # run-condition context for cross-round comparisons: thermal /
        # contention drift is data, not narrative (BASELINE.md r7)
        "machine": machine,
        # the fixed-control composite (start/end of suite), measured
        # outside the timed total: divide query seconds by it to read
        # code-vs-machine from one artifact
        "canary": canary,
    }))

    # The driver records only the LAST 2000 chars of stdout; the full
    # object above is ~3.5 kB so it never parses (BENCH_r9/r10 both have
    # parsed:null). Emit a compact line LAST that fits whole inside the
    # tail window: query names shortened to their unique id prefix
    # ("q01", "d59", "s03"), seconds at 2 dp, no machine/shared detail.
    compact = {n.split("_", 1)[0]: round(t, 2) for n, t in timings.items()}
    tail = {
        "metric": "showcase_suite_wall_seconds",
        "value": total,
        "unit": "sec",
        "sf": sf,
        "n_queries": len(timings),
        "queries": compact,
    }
    if canary:
        tail["canary"] = [
            canary.get(k, {}).get("composite") for k in ("start", "end")
        ]
    sys.stdout.flush()
    print(json.dumps(tail, separators=(",", ":")))


if __name__ == "__main__":
    main()
