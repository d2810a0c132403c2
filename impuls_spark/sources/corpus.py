"""Hive-partitioned parquet corpus layout — the at-rest format a
100 TB corpus actually lives in.

Beyond-reference surface. The layout IS the optimization: a corpus
partitioned by (lang, source) turns every per-language or per-source
query into a partition-PRUNED scan (the directory tree is the index),
and sorting within files by the dedup/join key gives parquet row-group
min/max statistics their bite. Both effects show up in
``explain("formatted")`` as ``PartitionFilters`` and smaller
``ReadSchema`` scans — see ``tests/test_corpus_layout.py``.

Writer rules:

- ``partition_by`` columns should be LOW cardinality (lang, source,
  date-bucket — not doc_id): each distinct combination is a directory,
  and a high-cardinality partition key shatters the corpus into
  millions of tiny files.
- ``target_shards`` bounds files per partition: the writer
  repartitions by the partition columns (plus a salt when shards > 1)
  so one task owns one output file, instead of every task writing a
  sliver of every partition (the small-files explosion).
- ``sort_by`` orders rows WITHIN each file (``sortWithinPartitions``
  after the repartition — a local sort, no extra shuffle), feeding
  row-group statistics for range-predicate skipping on keys like
  doc_id or quality score.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def write_corpus(
    df: DataFrame,
    path: str,
    partition_by: Sequence[str] = ("lang",),
    sort_by: Sequence[str] = ("doc_id",),
    target_shards: int = 1,
    mode: str = "overwrite",
    dynamic_overwrite: bool = False,
) -> None:
    """Write ``df`` as a hive-partitioned parquet corpus at ``path``.

    ``mode="append"`` adds new files without touching existing ones —
    the micro-batch sink path (see ``streaming.sinks``).
    ``dynamic_overwrite`` switches ``mode="overwrite"`` from truncating
    the whole root to replacing ONLY the partitions present in ``df``
    (Spark's dynamic partitionOverwriteMode) — the idempotent-replay
    primitive the streaming sink builds on."""
    parts = [F.col(c) for c in partition_by]
    salt = F.pmod(
        F.crc32(F.concat_ws("\x1f", *[F.col(c).cast("string")
                                      for c in sort_by or partition_by])),
        F.lit(max(target_shards, 1)),
    )
    # two subtleties make this shape load-bearing:
    # 1. the task-local sort LEADS with the partition columns — when a
    #    task holds several hive partitions, FileFormatWriter re-sorts
    #    rows by the partition expression with an UNSTABLE sort, so the
    #    incoming order must already satisfy it or per-file ``sort_by``
    #    order is destroyed;
    # 2. the shard salt is in the REPARTITION only, never the sort: it
    #    spreads one partition's rows over ~target_shards tasks (files),
    #    but two shard groups hash-colliding into one task must still
    #    form a single sorted run in the one file that task writes.
    out = (
        df.withColumn("__shard", salt)
        .repartition(*parts, F.col("__shard"))
        .drop("__shard")
        .sortWithinPartitions(*partition_by, *[F.col(c) for c in sort_by])
    )
    writer = out.write.mode(mode)
    if dynamic_overwrite:
        writer = writer.option("partitionOverwriteMode", "dynamic")
    writer.partitionBy(*partition_by).parquet(path)


def read_corpus(
    spark: SparkSession,
    path: str,
    **equals,
) -> DataFrame:
    """Read a corpus written by :func:`write_corpus`; keyword args are
    partition-column equality filters applied BEFORE the scan plans, so
    Catalyst prunes the untouched directories entirely (verify with
    ``PartitionFilters`` in the explain output).

    The streaming sink's idempotent mode adds an ``__epoch``
    bookkeeping partition level (``streaming.sinks.EPOCH_COL``); it is
    dropped here so batch readers see one schema either way.

    Fails fast while a ``takedown_stream_corpus`` holds (or a crashed
    one left) the corpus root's ``_COMPACTING`` marker — a half-
    filtered corpus still carries taken-down text in the partitions
    the crashed run never rewrote."""
    from ..streaming.compact import check_not_compacting

    check_not_compacting(spark, path, "read corpus from")
    df = spark.read.parquet(path)
    for col, val in equals.items():
        df = df.filter(F.col(col) == val)
    if "__epoch" in df.columns:
        df = df.drop("__epoch")
    return df


def remove_from_corpus(
    spark: SparkSession,
    path: str,
    ids,
    key_col: str = "doc_id",
    partition_by: Sequence[str] = ("lang",),
    sort_by: Sequence[str] = ("doc_id",),
    target_shards: int = 1,
    force: bool = False,
    stale_after_sec: float = 3600.0,
) -> dict:
    """Per-document takedown over a :func:`write_corpus` layout — the
    corpus-side sibling of :func:`remove_from_shards` (and the batch
    sibling of the streaming
    ``takedown_stream_corpus``, which owns the epoch-partitioned
    variant plus its index rebuild).

    One column-pruned scan of the id column locates the hive
    partitions that actually hold removed documents; ONLY those are
    rewritten (dynamic partition overwrite with the writer's own
    shard/sort law) and partitions left empty have their directories
    deleted — untouched partitions are never opened. The whole run
    holds a heartbeated ``_COMPACTING`` marker at the corpus root, so
    :func:`read_corpus` fails fast mid-run and after a crash; a
    ``force=True`` re-run converges (the anti-join is idempotent).

    A corpus written by the STREAMING sink is partitioned
    ``__epoch=N/...`` — this operator refuses it outright: a rewrite
    with the batch ``partition_by`` would land a conflicting top-level
    layout BESIDE the epoch directories while the removed text
    survives inside them (a reported-successful takedown that removed
    nothing). Use ``takedown_stream_corpus``, which owns the
    ``(__epoch, *partition_by)`` layout and the index rebuild.

    Returns ``{partitions_affected, partitions_deleted, rows_before,
    rows_after}`` (row counts over the affected partitions only)."""
    from ..streaming.compact import (
        _epoch_dirs,
        _HadoopFS,
        _takedown_partitions,
        maintenance_lease,
    )

    part_cols = list(partition_by)
    if not part_cols:
        raise ValueError(
            "remove_from_corpus needs partition columns (an "
            "unpartitioned corpus has no directories to prune — "
            "rewrite it wholesale with a filter instead)"
        )
    fs = _HadoopFS(spark, path)
    if _epoch_dirs(path, fs):
        raise ValueError(
            f"{path} is an epoch-partitioned STREAMING corpus "
            "(__epoch= directories at its root) — remove_from_corpus "
            "would write a conflicting batch layout beside the epoch "
            "directories and leave the removed text in place; use "
            "takedown_stream_corpus (streaming.ingest), which owns "
            "the (__epoch, *partition_by) layout and rebuilds the "
            "dedup index sidecars"
        )
    with maintenance_lease(spark, path, force=force,
                           stale_after_sec=stale_after_sec):
        return _takedown_partitions(
            spark, fs, path, ids, part_cols, key_col, sort_by,
            target_shards,
        )


def write_training_shards(
    df: DataFrame,
    path: str,
    n_shards: int = 256,
    key_col: str = "doc_id",
    salt: str = "shard",
    files_per_shard: int = 1,
    mode: str = "overwrite",
) -> None:
    """Write the corpus as deterministic hash shards — the training-set
    "global shuffle" realized as a layout, not an operation.

    Each row's shard is its md5-prefix bucket
    (:func:`impuls_spark.llm.sampling.shard_assignment`), and rows
    within each file are ordered by the full digest (kept as the
    ``shuffle_key`` column), so document order in the training stream is
    decorrelated from crawl/ingest order without any global sort: one
    hash projection, one repartition keyed on (shard, file-salt), and a
    task-local sort. Re-running the writer on the same corpus produces
    byte-identical shard membership and order on any cluster size —
    and an APPENDED batch lands interleaved by the same law, never
    "new data at the end of the epoch".

    ``files_per_shard`` spreads one shard over several tasks/files for
    write parallelism; a loader that needs the shard's total order
    merges its files by ``shuffle_key`` (each file is a sorted run —
    the salt rides only the repartition, as in :func:`write_corpus`).
    Pair with :func:`impuls_spark.llm.sampling.shard_manifest` for the
    balance/completeness bookkeeping.
    """
    from ..llm.sampling import _SHARD_DIGITS

    if n_shards not in _SHARD_DIGITS:
        raise ValueError(
            f"n_shards must be one of {sorted(_SHARD_DIGITS)}, got {n_shards}"
        )
    # Pin the layout law in a manifest (the banding-manifest lesson):
    # a consumer that re-derives shard assignment with the WRONG salt —
    # above all remove_from_shards, where a wrong salt means a silent
    # no-op takedown — must be able to validate instead of trusting
    # repeated kwargs. Appends validate against it; a mismatch would
    # interleave two incompatible shard laws in one layout.
    import json

    meta = {"n_shards": int(n_shards), "key_col": key_col, "salt": salt,
            "files_per_shard": int(max(files_per_shard, 1))}
    spark = df.sparkSession
    existing = _read_shards_manifest(spark, path)
    if existing is not None and mode == "append" and existing != meta:
        raise ValueError(
            f"shard layout at {path} was written with {existing}; "
            f"appending with {meta} would interleave two incompatible "
            "shard laws — pass the original parameters"
        )
    h = F.md5(F.concat_ws(":", F.lit(salt), F.col(key_col).cast("string")))
    file_salt = F.pmod(F.crc32(F.col("shuffle_key")),
                       F.lit(max(files_per_shard, 1)))
    out = (
        df.withColumn("shuffle_key", h)
        .withColumn("shard", F.substring(h, 1, _SHARD_DIGITS[n_shards]))
        .repartition(F.col("shard"), file_salt)
        .sortWithinPartitions("shard", "shuffle_key")
    )
    out.write.mode(mode).partitionBy("shard").parquet(path)
    # overwrite truncates the tree (manifest included) — always re-pin;
    # append pins only a pre-manifest layout's first post-upgrade write
    if mode != "append" or existing is None:
        from ..tools.rows import single_row_df

        # JVM-built single row (r14: createDataFrame+coalesce(1) paid
        # ~5 s of Python-worker round-trips per manifest)
        single_row_df(
            spark, "manifest string", json.dumps(meta)
        ).write.mode("overwrite").parquet(f"{path}/_shards_manifest")


def _read_shards_manifest(spark: SparkSession, path: str) -> "dict | None":
    """The layout-law manifest under a shard tree, or None for layouts
    written before the manifest existed."""
    import json

    from pyspark.errors import AnalysisException

    try:
        rows = spark.read.schema("manifest string").parquet(
            f"{path}/_shards_manifest"
        ).collect()
    except AnalysisException as exc:
        if ("PATH_NOT_FOUND" in str(exc)
                or "Path does not exist" in str(exc)):
            return None
        raise
    return json.loads(rows[0]["manifest"]) if rows else None


def read_training_shards(
    spark: SparkSession, path: str, shard: "str | None" = None
) -> DataFrame:
    """Read a shard layout written by :func:`write_training_shards`;
    passing ``shard`` prunes to one shard directory (a loader rank
    reading its slice). Within-shard total order is restored by sorting
    the (one-shard-sized) slice on ``shuffle_key`` — or merge the
    per-file sorted runs streamingly outside Spark.

    Fails fast while a :func:`remove_from_shards` holds (or a crashed
    one left) the layout's ``_COMPACTING`` marker: a half-rewritten
    layout still carries the removed documents in the not-yet-rewritten
    shards, and a training run reading it would ship taken-down text."""
    from ..streaming.compact import check_not_compacting

    check_not_compacting(spark, path, "read training shards from")
    df = spark.read.parquet(path)
    if shard is not None:
        df = df.filter(F.col("shard") == shard)
    return df


def compact_shards(
    spark: SparkSession,
    path: str,
    force: bool = False,
    stale_after_sec: float = 3600.0,
    max_concurrent: int = 1,
) -> dict:
    """Fold the small files appended batches accrete in each shard
    directory back to the manifest's ``files_per_shard`` — the
    maintenance quarter of the shard lifecycle (write → append →
    **compact** → remove), mirroring ``DedupIndex.compact`` /
    ``AnnIndex.compact`` for the training layout.

    Each shard directory folds through ``compact_flat_dir``'s staged
    crash-safe move (rows keyed by ``key_col`` — one row per document
    per shard, so the keyed dedup is the identity on a healthy layout
    and collapses the duplicates a crashed fold leaves), re-sorted
    within files by ``shuffle_key`` so every file stays the sorted run
    loaders merge. Shards already at-or-under the budget are skipped
    (``skipped`` in their stats). A root-level heartbeated marker
    spans the whole pass — loaders (``read_training_shards``) fail
    fast rather than reading a mix of folded and unfolded shards with
    possible transient duplicates; each shard dir additionally holds
    its own marker during its fold. At 100 TB this is n_shards
    independent small fold jobs, each ~corpus/n_shards — run it on
    whatever cadence file counts warrant; it never touches row
    content.

    ``max_concurrent > 1`` submits that many folds at once from a
    thread pool (Spark schedules concurrent jobs from separate driver
    threads): each small fold uses only a handful of tasks, so a
    sequential pass over many shards leaves the cluster mostly idle —
    folds are independent (per-dir markers, disjoint directories) and
    the stats are order-insensitive sums, so concurrency changes
    wall-clock only. On the first failure remaining queued folds are
    dropped, in-flight ones finish or crash under their own markers,
    and the abandoned root marker fail-fasts loaders either way."""
    from ..streaming.compact import (
        _HadoopFS,
        compact_flat_dir,
        maintenance_lease,
    )

    manifest = _read_shards_manifest(spark, path)
    if manifest is None:
        raise ValueError(
            f"{path} has no _shards_manifest (pre-manifest layout): "
            "re-write it once with write_training_shards to pin the "
            "layout law before maintenance"
        )
    key_col = manifest["key_col"]
    fps = int(manifest["files_per_shard"])
    fs = _HadoopFS(spark, path)
    shard_dirs = sorted(
        (name[len("shard="):], full)
        for name, full in fs.list_dirs(path)
        if name.startswith("shard=")
    )
    # one schema for every shard dir: data columns + shuffle_key (the
    # shard value itself lives in the directory name, not the files)
    sample = spark.read.parquet(path).drop("shard")
    ddl = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in sample.schema.fields
    )
    stats: dict = {"shards_total": len(shard_dirs), "folded": 0,
                   "skipped": 0, "files_before": 0, "files_after": 0}

    def fold_one(full: str) -> dict:
        return compact_flat_dir(
            spark, full, ddl, [key_col], target_shards=fps,
            stale_after_sec=stale_after_sec, force=force,
            sort_within=["shuffle_key"],
        )

    # loaders must not read the half-folded mix: a failure leaves the
    # root marker
    with maintenance_lease(spark, path, force=force,
                           stale_after_sec=stale_after_sec):
        if max_concurrent > 1:
            from concurrent.futures import ThreadPoolExecutor

            with ThreadPoolExecutor(max_workers=max_concurrent) as pool:
                futs = [
                    pool.submit(fold_one, full) for _, full in shard_dirs
                ]
                try:
                    results = [f.result() for f in futs]
                except BaseException:
                    for f in futs:
                        f.cancel()  # drop queued folds; in-flight run out
                    raise
        else:
            results = [fold_one(full) for _, full in shard_dirs]
        for r in results:
            stats["files_before"] += r["files_before"]
            stats["files_after"] += r["files_after"]
            stats["folded" if not r.get("skipped") else "skipped"] += 1
    return stats


def remove_from_shards(
    spark: SparkSession,
    path: str,
    ids,
    key_col: "str | None" = None,
    salt: "str | None" = None,
    files_per_shard: "int | None" = None,
    force: bool = False,
    stale_after_sec: float = 3600.0,
) -> dict:
    """Per-document takedown over a :func:`write_training_shards`
    layout — the piece that closes the compliance loop: purging the
    dedup/ANN indexes and the corpus is not a takedown while the
    packed training shards still ship the text.

    The shard law is the locator: a document's shard is a pure
    function of its id (``md5(salt:id)`` prefix — the same mapping
    :func:`impuls_spark.llm.sampling.shard_assignment` /
    ``shard_manifest`` bookkeep), so the removed ids name their shard
    directories DIRECTLY, with no scan of the layout. Only those
    directories are read (partition-pruned — ``PartitionFilters`` in
    the explain) and rewritten; every untouched shard directory is
    never opened, so it stays byte-identical — at 100 TB a takedown of
    k documents costs at most k shard rewrites of ~corpus/n_shards
    each, not a corpus pass.

    Rewrite discipline: survivors are re-laid with the writer's own
    law (same file-salt over the stored ``shuffle_key``, same
    task-local sort), written via dynamic partition overwrite (staged,
    committed per directory); a shard whose every row is removed gets
    its directory deleted explicitly (dynamic overwrite only replaces
    partitions it writes). The whole run holds a heartbeated
    ``_COMPACTING`` marker at the layout root —
    :func:`read_training_shards` fails fast during the run and after a
    crash, and a ``force=True`` re-run converges (the anti-join is
    idempotent; already-rewritten shards simply rewrite to the same
    bytes).

    ``ids`` is a list/tuple of document ids or a single-column
    DataFrame of them. The layout law (``key_col``/``salt``/
    ``files_per_shard``) comes from the manifest the writer pins under
    ``{path}/_shards_manifest`` — don't pass the kwargs; any passed
    value is VALIDATED against the manifest and a mismatch raises,
    because a wrong salt would locate the WRONG shard directories and
    the takedown would silently no-op (``rows_before == rows_after``
    with the text still on disk — the worst possible compliance
    failure mode). The kwargs exist only as the fallback for layouts
    written before the manifest existed. Returns ``{shards_total,
    shards_affected, shards_deleted, rows_before, rows_after}`` (row
    counts over the affected shards only)."""
    from ..llm.sampling import _SHARD_DIGITS
    from ..streaming.compact import _HadoopFS, _rid_frame, maintenance_lease
    from ..tools.checkpoints import free_local_checkpoint

    manifest = _read_shards_manifest(spark, path)
    passed = {"key_col": key_col, "salt": salt,
              "files_per_shard": files_per_shard}
    if manifest is not None:
        clash = {
            k: (v, manifest[k]) for k, v in passed.items()
            if v is not None and k in manifest and v != manifest[k]
        }
        if clash:
            raise ValueError(
                f"layout parameters disagree with the shard manifest at "
                f"{path}/_shards_manifest: "
                f"{ {k: f'passed {a!r} != manifest {b!r}' for k, (a, b) in clash.items()} } "
                "— a mismatched salt/key would locate the wrong shard "
                "directories and silently remove nothing; drop the "
                "kwargs (the manifest is authoritative)"
            )
        key_col = manifest["key_col"]
        salt = manifest["salt"]
        files_per_shard = manifest["files_per_shard"]
    else:  # pre-manifest layout: trust the caller / writer defaults
        key_col = key_col if key_col is not None else "doc_id"
        salt = salt if salt is not None else "shard"
        files_per_shard = files_per_shard if files_per_shard else 1

    fs = _HadoopFS(spark, path)
    shard_dirs = {
        name[len("shard="):]: full
        for name, full in fs.list_dirs(path)
        if name.startswith("shard=")
    }
    if not shard_dirs:
        return {"shards_total": 0, "shards_affected": 0,
                "shards_deleted": 0, "rows_before": 0, "rows_after": 0}
    digits = {len(v) for v in shard_dirs}
    if len(digits) != 1 or next(iter(digits)) not in _SHARD_DIGITS.values():
        raise ValueError(
            f"{path} is not a write_training_shards layout: shard "
            f"directory name widths {sorted(digits)} (expected one of "
            f"{sorted(_SHARD_DIGITS.values())})"
        )
    width = next(iter(digits))

    # the ids→shards mapping is the writer's own hash law; |ids| rows
    rid = _rid_frame(spark, ids).withColumn(
        "__shard",
        F.substring(
            F.md5(F.concat_ws(":", F.lit(salt), F.col("__rid"))), 1, width
        ),
    ).localCheckpoint(eager=True)  # tiny; fixes the plan for reuse
    try:
        affected = sorted(
            {r["__shard"] for r in rid.select("__shard").distinct().collect()}
            & set(shard_dirs)
        )
        if not affected:
            return {"shards_total": len(shard_dirs), "shards_affected": 0,
                    "shards_deleted": 0, "rows_before": 0, "rows_after": 0}

        # a failure leaves the marker: loaders must not ship the text
        with maintenance_lease(spark, path, force=force,
                               stale_after_sec=stale_after_sec):
            pruned = spark.read.parquet(path).filter(
                F.col("shard").isin(affected)
            )
            # ONE pass over the affected shards computes the before/after
            # bookkeeping AND the survivor-shard set (decided BEFORE the
            # overwrite — a post-write read would still see the
            # un-overwritten all-removed dirs and miscount them); with the
            # rewrite's own read that is the 2-scan minimum for the
            # affected shards
            per_shard = {
                row["shard"]: (row["__n"], row["__n_removed"])
                for row in (
                    pruned.join(
                        F.broadcast(rid),
                        pruned[key_col].cast("string") == rid["__rid"],
                        "left",
                    )
                    .groupBy("shard")
                    .agg(
                        F.count("*").alias("__n"),
                        F.count(rid["__rid"]).alias("__n_removed"),
                    )
                    .collect()
                )
            }
            rows_before = sum(n for n, _ in per_shard.values())
            rows_after = sum(n - r for n, r in per_shard.values())
            survivor_shards = {s for s, (n, r) in per_shard.items() if n > r}
            keep = pruned.join(
                F.broadcast(rid),
                pruned[key_col].cast("string") == rid["__rid"],
                "left_anti",
            )
            file_salt = F.pmod(F.crc32(F.col("shuffle_key")),
                               F.lit(max(files_per_shard, 1)))
            (
                keep.repartition(F.col("shard"), file_salt)
                .sortWithinPartitions("shard", "shuffle_key")
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("shard")
                .parquet(path)
            )
            deleted = [s for s in affected if s not in survivor_shards]
            for s in deleted:
                fs.delete(shard_dirs[s])
    finally:
        # the located-ids checkpoint: freed on every exit, early
        # return included (guide §5)
        free_local_checkpoint(rid)
    return {
        "shards_total": len(shard_dirs),
        "shards_affected": len(affected),
        "shards_deleted": len(deleted),
        "rows_before": rows_before,
        "rows_after": rows_after,
    }
