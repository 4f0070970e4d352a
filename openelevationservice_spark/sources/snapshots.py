"""Snapshot / checkpoint layer with per-partition lineage + row counts.

Every stage checkpoints to an immutable Parquet snapshot with an
Iceberg-style manifest (per-partition lineage + row counts), so a
killed job resumes mid-tiling: atomic manifest swap via directory
rename, immutable snapshot dirs, manifest lineage.  Reads scan the
Parquet files with the schema recorded in the manifest, so no read
runs a schema-inference job.

Layout::

    <root>/<stage>/snap-<id>/part-*.parquet     immutable data
    <root>/<stage>/snap-<id>/_manifest.json      snapshot manifest
    <root>/<stage>/manifest.json                pointer to current snapshot

Manifest records: params hash (resume key), input snapshot ids
(lineage), per-partition row counts, total rows.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import time
import uuid
from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


def _params_hash(params: dict) -> str:
    return hashlib.sha256(json.dumps(params, sort_keys=True, default=str).encode()).hexdigest()[:16]


def _footer_partition_counts(path: str) -> list[dict]:
    """Per-partition row counts from the written parquet FOOTERS —
    metadata reads (what Iceberg manifests record per file), not a
    second scan of the data.  Partition id comes from Spark's
    ``part-NNNNN-`` file naming."""
    import pyarrow.parquet as pq

    out = []
    for name in sorted(os.listdir(path)):
        if not name.startswith("part-") or not name.endswith(".parquet"):
            continue
        pid = int(name.split("-")[1])
        rows = pq.ParquetFile(os.path.join(path, name)).metadata.num_rows
        out.append({"partition_id": pid, "rows": int(rows)})
    return out


def _scan(spark: SparkSession, manifest: dict) -> DataFrame:
    """A snapshot's rows, read with the schema its manifest recorded (an
    inferred read would run one schema-inference job per scan)."""
    return spark.read.schema(StructType.fromJson(manifest["schema"])).parquet(manifest["path"])


@dataclass
class SnapshotStore:
    root: str

    def _stage_dir(self, stage: str) -> str:
        return os.path.join(self.root, stage)

    def current_manifest(self, stage: str) -> dict | None:
        p = os.path.join(self._stage_dir(stage), "manifest.json")
        if not os.path.exists(p):
            return None
        with open(p) as f:
            return json.load(f)

    def write(self, df: DataFrame, stage: str, params: dict | None = None,
              inputs: list[str] | None = None) -> dict:
        """Materialize ``df`` as a new immutable snapshot; returns manifest.

        Row counts come from the write itself, not a second data scan:
        the total via ``df.observe()`` during the write action, the
        per-partition ("per-file", Iceberg-manifest-style) counts from
        the written parquet footers — metadata reads only.
        """
        params = params or {}
        snap_id = f"{int(time.time() * 1000):x}-{uuid.uuid4().hex[:8]}"
        stage_dir = self._stage_dir(stage)
        tmp = os.path.join(stage_dir, f"_tmp-{snap_id}")
        final = os.path.join(stage_dir, f"snap-{snap_id}")
        os.makedirs(stage_dir, exist_ok=True)

        obs = Observation(f"snap_{snap_id}")
        df.observe(obs, F.count(F.lit(1)).alias("rows")).write.mode("overwrite").parquet(tmp)
        partitions = _footer_partition_counts(tmp)
        total = sum(p["rows"] for p in partitions)
        observed_total = int(obs.get["rows"])
        if observed_total != total:
            raise AssertionError(
                f"snapshot {snap_id}: observed {observed_total} rows during "
                f"the write but parquet footers sum to {total}"
            )
        manifest = {
            "snapshot_id": snap_id,
            "stage": stage,
            "created_ms": int(time.time() * 1000),
            "params": params,
            "params_hash": _params_hash(params),
            "inputs": inputs or [],
            "partitions": partitions,
            "total_rows": total,
            "schema": df.schema.jsonValue(),
            "format": "parquet",
        }
        with open(os.path.join(tmp, "_manifest.json"), "w") as f:
            json.dump(manifest, f, indent=1)
        os.rename(tmp, final)  # atomic snapshot publish
        with open(os.path.join(stage_dir, "manifest.json.tmp"), "w") as f:
            json.dump({**manifest, "path": final}, f, indent=1)
        os.replace(os.path.join(stage_dir, "manifest.json.tmp"),
                   os.path.join(stage_dir, "manifest.json"))
        return {**manifest, "path": final}

    def read(self, spark: SparkSession, stage: str) -> DataFrame:
        m = self.current_manifest(stage)
        if m is None:
            raise FileNotFoundError(f"no snapshot for stage {stage!r} under {self.root}")
        return _scan(spark, m)

    def run_stage(self, spark: SparkSession, stage: str, params: dict,
                  build: Callable[[], DataFrame],
                  inputs: list[str] | None = None) -> tuple[DataFrame, dict]:
        """Resume-aware stage execution.

        If the current snapshot of ``stage`` was produced with the same
        params hash (and same input snapshot ids), it is reused and the
        build function never runs — this is what lets a killed job
        resume mid-pipeline.
        """
        m = self.current_manifest(stage)
        if (
            m is not None
            and m["params_hash"] == _params_hash(params)
            and m.get("inputs", []) == (inputs or [])
            and os.path.exists(m["path"])
        ):
            return _scan(spark, m), {**m, "resumed": True}
        manifest = self.write(build(), stage, params, inputs)
        return _scan(spark, manifest), {**manifest, "resumed": False}

    def drop_stage(self, stage: str) -> None:
        shutil.rmtree(self._stage_dir(stage), ignore_errors=True)
