"""Table IO seam: snapshot-committed parquet tables with manifests.

north_rule requires every stage to checkpoint per-partition lineage +
triple-count metrics and the pipeline to resume from the last committed
snapshot. The production target is Iceberg (atomic snapshot commits,
bucket partitioning); the Iceberg runtime jar is not in this sandbox image,
so this module provides the same contract over plain parquet:

- ``write_table`` writes parquet under a per-snapshot directory then
  atomically commits the pointer manifest (write temp + rename) recording
  row count, schema, per-partition lineage (partition id -> rows), and
  the full snapshot log — the bookkeeping an Iceberg snapshot + manifest
  list carries. The lineage is read from the written files' parquet
  footers on the driver (each file is one write task's output, so its
  ``_pid`` column statistics have min == max), O(files) with no Spark job
  — the way Iceberg derives manifest-entry stats from file footers.
  ``mode="append"`` commits an O(new-data) append snapshot (parent
  directories + one new), no rewrite.
- ``read_table(snapshot=...)`` time-travels to any logged snapshot
  (``VERSION AS OF``); ``rollback`` is an atomic pointer swap;
  ``expire_snapshots`` deletes unreferenced data directories
  (table maintenance, pairs with ``compaction_plan``); ``snapshots``
  is the ``.snapshots`` metadata view.
- ``is_committed`` / ``read_table`` give stage-skip resume: a stage whose
  manifest exists is never recomputed.

Swapping in Iceberg later = replacing these four functions with
``df.writeTo(...).createOrReplace()`` and snapshot inspection; callers are
unchanged (SURVEY §7 "thin io.py seam").
"""

from __future__ import annotations

import json
import os

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

MANIFEST = "_MANIFEST.json"


def fan_out(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Widen an under-partitioned scan to the session's parallelism.

    Small benchmark inputs arrive as a single parquet file with ONE row
    group, so the scan yields one partition and every expression evaluated
    before the first shuffle (shingling, minhash, RHP projections) runs on
    one core. This repartitions ONLY when the scan has fewer partitions
    than ``defaultParallelism`` — at production scale an input table has
    thousands of splits, so the check short-circuits and no shuffle is
    added. A round-robin exchange of the raw rows is strictly cheaper than
    serializing a CPU-bound expression chain on one core (sf0.1 A/B:
    jaccard shingle phase 9.0s -> 1.9s at local[32]).
    """
    spark = df.sparkSession
    target = min_partitions or spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def compaction_plan(
    files: DataFrame,
    target_bytes: int,
    partition_cols: tuple[str, ...] = (),
    id_col: str = "file_id",
    size_col: str = "size_bytes",
) -> DataFrame:
    """-> input columns + ``bin``: group small files into rewrite tasks of
    ~``target_bytes`` each (the Iceberg ``rewrite_data_files`` binpack
    planner, expressed relationally).

    A 100 TB table accretes millions of under-sized files (streaming
    micro-batches, per-executor outputs); compaction is the table-
    maintenance operator that keeps scan task counts sane. Files already
    at or above the target are singleton bins (they are not rewritten
    together with others). Within each table partition the remaining files
    are ordered by (size desc, id) and assigned bin =
    floor(running_sum_before / target) — cumulative-sum sharding, ONE
    window over the partition instead of a sequential greedy loop, so the
    planner itself scales with the file count. Each bin's payload is
    bounded by target + the partition's largest small file; the size-desc
    order packs big files first so the tail bins hold many tiny files,
    matching greedy binpack's shape without its sequential dependency.
    Deterministic: ties break on the file id.
    """
    from pyspark.sql import Window

    pcols = [F.col(c) for c in partition_cols]
    big = F.col(size_col) >= target_bytes
    w = (
        Window.partitionBy(*pcols, "_big")
        .orderBy(F.col(size_col).desc(), F.col(id_col).asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    rn = Window.partitionBy(*pcols, "_big").orderBy(
        F.col(size_col).desc(), F.col(id_col).asc()
    )
    return (
        files.withColumn("_big", big)
        .withColumn(
            "bin",
            F.when(
                F.col("_big"),
                # singleton bins for already-right-sized files, numbered
                # below 0 so they never collide with the packed bins
                -F.row_number().over(rn).cast("long"),
            ).otherwise(
                F.floor(
                    F.coalesce(F.sum(size_col).over(w), F.lit(0)) / F.lit(target_bytes)
                )
            ),
        )
        .drop("_big")
    )


def table_path(base_dir: str, name: str) -> str:
    return os.path.join(base_dir, name)


def is_committed(base_dir: str, name: str) -> bool:
    return os.path.exists(os.path.join(table_path(base_dir, name), MANIFEST))


def _commit_pointer(path: str, manifest: dict) -> None:
    tmp = os.path.join(path, MANIFEST + ".tmp")
    with open(tmp, "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    os.rename(tmp, os.path.join(path, MANIFEST))  # atomic commit


def _footer_lineage(snap_path: str) -> dict[str, int]:
    """-> partition id -> rows of the snapshot written at ``snap_path``.

    Spark writes one file per write task (``maxRecordsPerFile`` may split
    a task's output over several, which sum), so the ``_pid`` column
    ``write_table`` adds is constant within a file and the footer's
    min/max statistics name the partition; ``num_rows`` counts it. The
    zero-row file Spark writes for an empty frame contributes nothing,
    as a ``groupBy("_pid").count()`` of it would. A file whose ``_pid``
    statistics are missing or not constant raises: the lineage would not
    describe the data written."""
    lineage: dict[str, int] = {}
    for fname in sorted(os.listdir(snap_path)):
        if fname.startswith((".", "_")) or not fname.endswith(".parquet"):
            continue
        fpath = os.path.join(snap_path, fname)
        meta = pq.read_metadata(fpath)
        if meta.num_rows == 0:
            continue
        col = [meta.schema.column(i).path for i in range(meta.num_columns)].index("_pid")
        pids = set()  # every row group's _pid min and max
        for g in range(meta.num_row_groups):
            stats = meta.row_group(g).column(col).statistics
            pids |= {stats.min, stats.max} if stats is not None and stats.has_min_max else {None}
        if len(pids) != 1 or None in pids:
            raise ValueError(
                f"{fpath}: _pid statistics missing or not constant; cannot "
                f"derive partition lineage from the footer"
            )
        pid = str(pids.pop())
        lineage[pid] = lineage.get(pid, 0) + meta.num_rows
    return lineage


def write_table(
    df: DataFrame,
    base_dir: str,
    name: str,
    bucket_col: str | None = None,
    num_buckets: int = 32,
    mode: str = "replace",
) -> dict:
    """Write ``df`` as a committed table SNAPSHOT; returns the manifest.

    Iceberg-style multi-snapshot commits (format_version 2): each write
    lands its parquet under ``snap-<id>/`` and then atomically swaps the
    pointer file (temp + rename), so a concurrent reader sees either the
    previous snapshot or the new one, never a half-written directory —
    the isolation property ``mode="overwrite"`` on a shared path cannot
    give. ``mode="replace"`` makes the new snapshot the whole table;
    ``mode="append"`` commits a snapshot whose data is the parent's
    directories plus the new one — an O(new data) fast append, no
    rewrite of existing files, exactly Iceberg's append snapshot. The
    pointer keeps the full snapshot log, so ``read_table(snapshot=...)``
    time-travels and ``rollback`` is a pointer swap.

    ``bucket_col`` hash-distributes output files by the column (the
    stand-in for Iceberg ``bucket(N, col)`` partitioning — co-locates
    later equi-joins on that column and bounds file sizes under skew).

    Manifest content stays deterministic (no timestamps): snapshot ids
    are a monotone counter, lineage is partition id -> rows of the data
    actually written, read from the footers of the snapshot's parquet
    files (``_footer_lineage``) rather than by a Spark scan of them.
    """
    if mode not in ("replace", "append"):
        raise ValueError(f"mode must be replace|append, got {mode!r}")
    path = table_path(base_dir, name)
    prev = None
    if os.path.exists(os.path.join(path, MANIFEST)):
        prev = read_manifest(base_dir, name)
    if mode == "append" and prev is None:
        mode = "replace"  # first commit of a table is always a replace
    # allocate past the LOG maximum, not current+1: after a rollback the
    # current pointer sits below later logged snapshots, and current+1
    # would collide with (and overwrite the data directory of) a live
    # logged snapshot
    prev_ids = [e["id"] for e in prev.get("snapshots", [])] if prev else []
    snap_id = max([prev.get("snapshot_id", 0)] + prev_ids) + 1 if prev else 1
    snap_dir = f"snap-{snap_id}"

    out = df
    if bucket_col is not None:
        out = df.repartition(num_buckets, F.col(bucket_col))
    # per-partition lineage computed on the same data that is written
    out = out.withColumn("_pid", F.spark_partition_id())
    out.write.mode("overwrite").parquet(os.path.join(path, snap_dir))

    lineage = _footer_lineage(os.path.join(path, snap_dir))
    new_rows = sum(lineage.values())
    if mode == "append":
        data_dirs = list(prev.get("data_dirs", [])) + [snap_dir]
        n_rows = int(prev["rows"]) + new_rows
    else:
        data_dirs = [snap_dir]
        n_rows = new_rows
    entry = {
        "id": snap_id,
        "op": mode,
        "parent": prev.get("snapshot_id") if prev else None,
        "rows": n_rows,
        "partitions": len(lineage),
        "lineage": lineage,
        "data_dirs": data_dirs,
        "schema": [f.name for f in df.schema.fields],
        "bucket_col": bucket_col,
        "num_buckets": num_buckets if bucket_col else None,
    }
    log = list(prev.get("snapshots", [])) if prev else []
    log.append(entry)
    manifest = {
        # v1-compatible top-level view of the CURRENT snapshot
        "table": name,
        "rows": n_rows,
        "partitions": len(lineage),
        "lineage": lineage,
        "schema": entry["schema"],
        "bucket_col": bucket_col,
        "num_buckets": num_buckets if bucket_col else None,
        "format_version": 2,
        "snapshot_id": snap_id,
        "data_dirs": data_dirs,
        "snapshots": log,
    }
    _commit_pointer(path, manifest)
    return manifest


def _snapshot_entry(manifest: dict, snapshot: int) -> dict:
    for e in manifest.get("snapshots", []):
        if e["id"] == snapshot:
            return e
    raise KeyError(f"snapshot {snapshot} not in log "
                   f"{[e['id'] for e in manifest.get('snapshots', [])]}")


def read_table(
    spark: SparkSession, base_dir: str, name: str, snapshot: int | None = None
) -> DataFrame:
    """Current table state, or — with ``snapshot`` — the table AS OF that
    committed snapshot id (Iceberg ``VERSION AS OF`` time travel). Legacy
    v1 tables (flat parquet + manifest) read from the table root."""
    path = table_path(base_dir, name)
    man = read_manifest(base_dir, name) if os.path.exists(
        os.path.join(path, MANIFEST)
    ) else None
    if man is None or "data_dirs" not in man:
        df = spark.read.parquet(path)  # legacy v1 layout
    else:
        dirs = (
            _snapshot_entry(man, snapshot)["data_dirs"]
            if snapshot is not None
            else man["data_dirs"]
        )
        df = spark.read.parquet(*[os.path.join(path, d) for d in dirs])
    return df.drop("_pid") if "_pid" in df.columns else df


def read_manifest(base_dir: str, name: str) -> dict:
    with open(os.path.join(table_path(base_dir, name), MANIFEST)) as f:
        return json.load(f)


def snapshots(base_dir: str, name: str) -> list[dict]:
    """Snapshot log (id, op, parent, rows) — Iceberg's ``.snapshots``
    metadata table for this stand-in."""
    man = read_manifest(base_dir, name)
    log = man.get("snapshots")
    if log is None:  # legacy v1 table: synthesize a single-entry log
        return [{"id": 1, "op": "replace", "parent": None, "rows": man["rows"]}]
    return [
        {k: e[k] for k in ("id", "op", "parent", "rows")} for e in log
    ]


def rollback(base_dir: str, name: str, snapshot: int) -> dict:
    """Atomic pointer swap back to an earlier snapshot (Iceberg
    ``rollback_to_snapshot``): the v1-compatible top-level view is
    restored from that snapshot's log entry, the log itself is kept
    intact, and no data files move."""
    path = table_path(base_dir, name)
    man = read_manifest(base_dir, name)
    e = _snapshot_entry(man, snapshot)
    man.update(
        rows=e["rows"], partitions=e["partitions"], lineage=e["lineage"],
        schema=e["schema"], bucket_col=e["bucket_col"],
        num_buckets=e["num_buckets"], snapshot_id=e["id"],
        data_dirs=e["data_dirs"],
    )
    _commit_pointer(path, man)
    return man


def expire_snapshots(base_dir: str, name: str, keep_last: int = 2) -> list[int]:
    """Drop all but the last ``keep_last`` snapshots (plus whatever the
    CURRENT pointer references, which is never expired) and delete data
    directories no surviving snapshot references — Iceberg
    ``expire_snapshots`` table maintenance. Returns the expired ids."""
    import shutil

    path = table_path(base_dir, name)
    man = read_manifest(base_dir, name)
    log = man.get("snapshots", [])
    if not log:
        return []
    keep_ids = {e["id"] for e in log[-keep_last:]} | {man["snapshot_id"]}
    kept = [e for e in log if e["id"] in keep_ids]
    expired = [e for e in log if e["id"] not in keep_ids]
    live_dirs = {d for e in kept for d in e["data_dirs"]}
    dead_dirs = {d for e in expired for d in e["data_dirs"]} - live_dirs
    man["snapshots"] = kept
    _commit_pointer(path, man)  # commit the pruned log BEFORE deleting data
    for d in sorted(dead_dirs):
        shutil.rmtree(os.path.join(path, d), ignore_errors=True)
    return [e["id"] for e in expired]
