"""Checkpoint/resume: partition-level done-markers + idempotent per-unit
overwrite, so a killed run replays only unfinished units (north rule:
"resumable from checkpoint with per-partition lineage").

Reference analog: exactly-once range checkpoints for file→SLS
(core/file_server/checkpoint/RangeCheckpoint.h:27; group checkpoint ptr
PipelineEventGroup.h:132-134) and the Go leveldb checkpoint manager
(pluginmanager/checkpoint_manager.go:40-114). Spark-first shape: the unit of
resume is a *logical partition* (e.g. a sink, a source shard, a date bucket)
— each unit's output goes to its own directory with dynamic-overwrite
semantics, and a driver-side manifest records completion. Re-running is
idempotent: completed units are skipped, partially-written units are
overwritten whole.

At 100 TB the manifest is tiny (one marker per unit, thousands of units) and
units map to Iceberg partition replace commits (`replaceWhere`); here the
parquet-directory implementation keeps the exact same semantics.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass
from typing import Callable, Sequence

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession


@dataclass
class Manifest:
    """Driver-side completion manifest: one JSON marker file per unit."""

    path: str

    def _marker(self, unit: str) -> str:
        return os.path.join(self.path, f"{unit}.done.json")

    def done_units(self) -> set[str]:
        if not os.path.isdir(self.path):
            return set()
        return {
            f[: -len(".done.json")]
            for f in os.listdir(self.path)
            if f.endswith(".done.json")
        }

    def mark_done(self, unit: str, meta: dict | None = None) -> None:
        os.makedirs(self.path, exist_ok=True)
        tmp = self._marker(unit) + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"unit": unit, "ts": time.time(), **(meta or {})}, f)
        os.replace(tmp, self._marker(unit))  # atomic publish

    def reset(self) -> None:
        if os.path.isdir(self.path):
            for f in os.listdir(self.path):
                os.remove(os.path.join(self.path, f))


def _pending(units: Sequence[str], manifest: Manifest) -> list[str]:
    """``units`` without a done-marker, in order and without repeats."""
    done = manifest.done_units()
    return [u for u in dict.fromkeys(units) if u not in done]


def _publish(
    pending: Sequence[str],
    out_dir: str,
    manifest: Manifest,
    put: Callable[[str, str], None],
    fail_after: int | None,
) -> list[str]:
    """Publish each pending unit in order: ``put(u, path)`` leaves exactly
    ``u``'s rows in ``out_dir/unit=<u>/``, replacing whatever a crashed run
    left there, then the unit's marker is written. Returns the units
    published. ``fail_after`` injects a crash once N units are published
    (tests).

    A crash between ``put`` and the marker leaves a unit directory without a
    marker: it is still pending, so the next run replaces it."""
    written = []
    for u in pending:
        if fail_after is not None and len(written) >= fail_after:
            raise RuntimeError(f"injected failure after {fail_after} units")
        path = os.path.join(out_dir, f"unit={u}")
        put(u, path)
        manifest.mark_done(u, {"path": path})
        written.append(u)
    return written


def resumable_write(
    df_for_unit: Callable[[str], DataFrame],
    units: Sequence[str],
    out_dir: str,
    manifest: Manifest,
    fail_after: int | None = None,
) -> list[str]:
    """Write each unit's DataFrame to ``out_dir/unit=<u>/`` unless its marker
    exists; mark done after a successful write. Returns the units written this
    run. ``fail_after`` injects a crash after N writes (tests).

    Idempotency: mode=overwrite per unit directory — a unit that crashed
    mid-write is rewritten whole on resume; completed units are never
    touched (their files keep their mtimes)."""
    return _publish(
        _pending(units, manifest),
        out_dir,
        manifest,
        lambda u, path: df_for_unit(u).write.mode("overwrite").parquet(path),
        fail_after,
    )


def read_all_units(spark: SparkSession, out_dir: str) -> DataFrame:
    """Read the union of all unit directories (basePath keeps the unit
    partition column out of the data)."""
    return spark.read.option("basePath", out_dir).parquet(f"{out_dir}/unit=*")


def _check_unit_names(spark: SparkSession, units: Sequence[str]) -> None:
    """Every unit must name one directory as is: Spark's partitioned write
    escapes the characters ``ExternalCatalogUtils.escapePathName`` escapes
    (``/``, ``=``, ``%``, ``:``, control characters, ...) and files an empty
    value under ``__HIVE_DEFAULT_PARTITION__``."""
    escape = spark._jvm.org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.escapePathName
    bad = [u for u in units if not u or escape(u) != u]
    if bad:
        raise ValueError(f"sink names cannot map to a unit directory: {bad}")


def resumable_sink_write(
    routed: DataFrame,
    sinks: Sequence[str],
    out_dir: str,
    manifest: Manifest,
    sink_col: str = "sink",
    fail_after: int | None = None,
) -> list[str]:
    """The flagship use: per-sink resumable fan-out write that runs the
    upstream once. ONE write of ``routed``, filtered to the pending sinks and
    partitioned by ``sink_col`` renamed to ``unit``, fills every pending
    ``out_dir/unit=<sink>/`` with Spark's dynamic partition overwrite (the
    job stages its files in a hidden ``.spark-staging-*`` directory and swaps
    in only the partitions it wrote, so completed units keep their files).
    Each pending sink is then marked done in ``sinks`` order; one with no
    routed rows first gets a schema-only unit from an always-false filter,
    which Catalyst folds to an empty relation, so no upstream runs. Returns
    the sinks published this run; none pending means no Spark job at all.
    Directories are handled through the Hadoop FileSystem of ``out_dir``, so
    local paths, ``file://`` URIs and a cluster's default FS behave alike.

    Crash states: a crash during the write job publishes nothing (the next
    run deletes its leftover staging directory); a crash after the job
    leaves units without a marker, which the next run clears and rewrites.
    Completed units are never touched."""
    spark = routed.sparkSession
    _check_unit_names(spark, sinks)
    pending = _pending(sinks, manifest)
    if not pending:
        return []
    Path = spark._jvm.org.apache.hadoop.fs.Path
    root = Path(out_dir)
    fs = root.getFileSystem(spark._jsc.hadoopConfiguration())
    # Clear what a crashed run left: its staging directories and the pending
    # units, so that after the write a unit exists iff the sink had rows.
    for st in fs.globStatus(Path(root, ".spark-staging-*")) or []:
        fs.delete(st.getPath(), True)
    for u in pending:
        fs.delete(Path(root, f"unit={u}"), True)
    (
        routed.filter(F.col(sink_col).isin(pending))
        .withColumnRenamed(sink_col, "unit")
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("unit")
        .parquet(out_dir)
    )
    empty = routed.filter(F.lit(False)).drop(sink_col)

    def put(u: str, path: str) -> None:
        if not fs.exists(Path(root, f"unit={u}")):
            empty.write.parquet(path)

    return _publish(pending, out_dir, manifest, put, fail_after)
