"""spark-submit packaging + job entry point (north rule: "launched via
spark-submit --py-files").

Build the zip and launch::

    python -m openelevationservice_spark.plans.submit --build-zip /tmp/oes.zip
    spark-submit --py-files /tmp/oes.zip \\
        $(python -c 'import openelevationservice_spark.plans.submit as s; print(s.__file__)') \\
        --job point_replay --sf-dir /root/testdata/sf0.1

In local sandbox runs the same module works directly (``python -m``),
creating its own session; under spark-submit it picks up the session
provided by the launcher.
"""

from __future__ import annotations

import argparse
import os
import zipfile
from pathlib import Path


def build_zip(out_path: str) -> str:
    """Package the engine for --py-files distribution."""
    pkg_root = Path(__file__).resolve().parents[1]
    with zipfile.ZipFile(out_path, "w", zipfile.ZIP_DEFLATED) as zf:
        for py in sorted(pkg_root.rglob("*.py")):
            zf.write(py, py.relative_to(pkg_root.parent))
    return out_path


def _run_job(job: str, sf_dir: str, cpus: int | None, checkpoint_root: str | None) -> None:
    from pyspark.sql import SparkSession

    from .session import build_session
    from .. import contract
    from ..sources.snapshots import SnapshotStore

    active = SparkSession.getActiveSession()
    spark = active or build_session(app=f"oes-{job}", cpus=cpus)
    store = SnapshotStore(checkpoint_root) if checkpoint_root else None
    fn = contract.QUERIES[job]
    if store:
        df, manifest = store.run_stage(
            spark, job, {"sf_dir": sf_dir}, lambda: fn(spark, sf_dir)
        )
        print(f"job={job} rows={manifest['total_rows']} "
              f"snapshot={manifest['snapshot_id']} resumed={manifest['resumed']}")
    else:
        print(f"job={job} rows={fn(spark, sf_dir).count()}")
    if active is None:
        spark.stop()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--build-zip", metavar="PATH")
    ap.add_argument("--job", choices=["point_elevation", "line_densify",
                                      "polygon_pixels", "polygon_bands",
                                      "knn_tiles", "tile_stats"])
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR",
                                                       "/root/testdata/sf0.1"))
    ap.add_argument("--cpus", type=int, default=None,
                    help="local[N] cores (default: build_session's rule)")
    ap.add_argument("--checkpoint-root", default=None,
                    help="SnapshotStore root for resumable execution")
    args = ap.parse_args()
    if args.build_zip:
        print(build_zip(args.build_zip))
        return
    if args.job:
        _run_job(args.job, args.sf_dir, args.cpus, args.checkpoint_root)
        return
    ap.error("nothing to do: pass --build-zip or --job")


if __name__ == "__main__":
    main()
