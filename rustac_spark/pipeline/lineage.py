"""Per-stage lineage + metrics + checkpoint-resume (north-rule
requirement; SURVEY.md §4 "custom needed — lineage/metrics/resume").

Each pipeline stage commits its output as the first snapshot of a
``SnapshotTable`` at ``{run_dir}/{stage}.parquet`` — the engine's one
atomic-commit mechanism (staged files, a JSON manifest, an atomically
renamed ``CURRENT``). A stage is committed iff its table has a
CURRENT; on restart, committed stages are skipped and their outputs
reused — resume-from-last-committed-checkpoint.

Lineage and metrics are read back from the manifests, not written
separately: the manifest already holds one ``{rows, bytes}`` entry per
output file (file ≙ write partition, rows from its parquet footer),
the commit time ``ts``, and the stage's ``started`` time and
``run_id`` in its extra fields. The stage directory holds only the
committed files (a crashed attempt's leftovers are deleted before a
re-run stages anything), so plain parquet readers see exactly the
stage's rows.
"""

from __future__ import annotations

import os
import time
import uuid

from pyspark.sql import DataFrame, SparkSession

from .snapshots import SnapshotTable, _fs_for

_LINEAGE_SCHEMA = ("run_id string, stage string, output_file string, "
                   "row_count long, bytes long, stage_wall_s double")


class Pipeline:
    def __init__(self, spark: SparkSession, run_dir: str,
                 run_id: str | None = None):
        self.spark = spark
        self.run_dir = run_dir
        self.run_id = run_id or uuid.uuid4().hex[:12]
        self.fs = _fs_for(spark, run_dir)
        self.stage_seconds: dict[str, float] = {}

    # ------------------------------------------------------------ state
    def _table(self, stage: str) -> SnapshotTable:
        return SnapshotTable(self.spark, f"{self.run_dir}/{stage}.parquet")

    def is_committed(self, stage: str) -> bool:
        return self._table(stage).current_snapshot_id() is not None

    def _commit(self, table: SnapshotTable, df: DataFrame,
                started: float) -> None:
        # the stage's commit step. This name and _write_lineage's are
        # kept because perfbench's traced runs wrap both by name.
        #
        # Stage outputs are run-scoped intermediates (written once,
        # read back by the next stage, deleted with the run dir), the
        # same I/O profile as shuffle files — so they default to
        # snappy like Spark's own temp data, not the long-term
        # storage codec (the durable geoparquet sink keeps ZSTD-15 in
        # stac/translate.py). Measured on the bench host: the zstd
        # session default cost ~1.2 s/pass extra CPU on the prepare
        # write alone for a 56→65 MB size difference (guide §6;
        # OPTIMIZATION_r07.md). Parameterised for clusters where
        # intermediate I/O, not CPU, is the bottleneck.
        table.append(df, {"run_id": self.run_id, "started": started},
                     codec=os.environ.get("RUSTAC_STAGE_CODEC", "snappy"))

    def committed_info(self, stage: str) -> dict:
        table = self._table(stage)
        m = table.manifest()
        return {"stage": stage, "run_id": m["run_id"],
                "output": table.dir, "rows": m["n_rows"],
                "wall_s": m["ts"] - m["started"], "ts": m["ts"]}

    # ---------------------------------------------------------- metrics
    def _write_lineage(self, stage: str, manifest: dict) -> list[tuple]:
        """Per-partition lineage rows of a committed stage: one per
        output file with its row count and bytes, straight from the
        manifest's per-file stats (the name is kept for the benchmark
        tracing, see _commit)."""
        wall = manifest["ts"] - manifest["started"]
        return [(manifest["run_id"], stage, path, st["rows"], st["bytes"],
                 wall) for path, st in manifest["stats"].items()]

    def metrics(self) -> DataFrame:
        """Lineage rows of every committed stage in the run dir,
        built on the driver from the manifests (no Spark job)."""
        rows = []
        for path, _ in self.fs.list_parquet(self.run_dir):
            stage = os.path.basename(path)[:-len(".parquet")]
            if self.is_committed(stage):
                rows += self._write_lineage(stage,
                                            self._table(stage).manifest())
        return self.spark.createDataFrame(rows, _LINEAGE_SCHEMA)

    # ------------------------------------------------------------ stage
    def stage(self, name: str, build) -> DataFrame:
        """Run (or resume) a stage. `build()` returns the stage's
        DataFrame; it is committed as the first snapshot of the stage's
        table, which makes the stage skippable on restart. Returns the
        committed output."""
        t0 = time.time()
        table = self._table(name)
        fresh = table.current_snapshot_id() is None
        if fresh:
            # whatever a crashed attempt staged is not part of the
            # output: clear it, as an overwrite write would
            table.fs.delete(table.dir, recursive=True)
            self._commit(table, build(), t0)
        out = table.read()
        self.stage_seconds[name] = time.time() - t0 if fresh else 0.0
        return out
