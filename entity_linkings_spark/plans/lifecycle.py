"""Stage lifecycle: durable snapshots, resume-from-last-committed, and
per-partition lineage + metrics rows (north rule).

The reference's analogue is load-if-exists index persistence
(/root/reference/entity_linkings/candidate_retriever/bm25/indexer.py:68-74,
dualencoder/indexer.py:61-64, prior/indexer.py:63-66) and the md5-keyed
idempotent response cache (candidate_reranker/chatel/utils.py:50-98): work
already done is detected by a deterministic key and skipped.

Two store implementations behind one interface:
  * SnapshotStore — atomic parquet snapshots (this sandbox): data written to a
    temp dir, os.rename'd into place, then a manifest json is renamed in; a
    snapshot is visible iff its manifest committed. Snapshot ids are
    deterministic (md5 of stage name + input fingerprint + config), so
    re-running the same inputs resumes instead of recomputing, and two
    identical runs produce byte-identical manifests (no wall-clock in ids).
  * On a cluster with the Iceberg runtime (session.py detects the jar), swap
    ``SnapshotStore`` for Iceberg tables: ``df.writeTo(tbl).createOrReplace()``
    per stage and ``spark.read.table(tbl)`` on resume — the runner code is
    store-agnostic.

Lineage/metrics: the commit observes the stage's row count, and per-partition
rows (stage, snapshot_id, partition_id, rows_out, wall_ms) come from the
committed parquet footers, one metrics file per snapshot: "which partitions
produced what, in which snapshot" — the per-partition lineage of the north rule.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import time
from collections.abc import Callable
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

METRICS_SCHEMA = (
    "stage string, snapshot_id string, partition_id int, rows_out long, wall_ms long"
)


def _fingerprint(*parts: str) -> str:
    return hashlib.md5("|".join(parts).encode()).hexdigest()[:16]


@dataclass
class StageResult:
    df: DataFrame
    snapshot_id: str
    resumed: bool
    rows: int
    wall_ms: int


class SnapshotStore:
    """Atomic parquet snapshot store rooted at a local/posix dir."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = os.path.abspath(root)
        os.makedirs(self.root, exist_ok=True)

    # -- paths ---------------------------------------------------------------
    def _stage_dir(self, stage: str) -> str:
        return os.path.join(self.root, stage)

    def _snap_dir(self, stage: str, snapshot_id: str) -> str:
        return os.path.join(self._stage_dir(stage), f"snap-{snapshot_id}")

    def _manifest(self, stage: str, snapshot_id: str) -> str:
        # one manifest PER snapshot: any previously committed snapshot stays
        # resumable (alternating inputs/configs, or concurrent runs against
        # one store, don't evict each other's commits)
        return os.path.join(self._stage_dir(stage), f"manifest-{snapshot_id}.json")

    # -- protocol --------------------------------------------------------------
    def committed(self, stage: str, snapshot_id: str) -> bool:
        return os.path.exists(self._manifest(stage, snapshot_id)) and os.path.exists(
            self._snap_dir(stage, snapshot_id)
        )

    def read(self, stage: str, snapshot_id: str) -> DataFrame:
        return self.spark.read.parquet(self._snap_dir(stage, snapshot_id))

    def write(self, stage: str, snapshot_id: str, df: DataFrame) -> None:
        final = self._snap_dir(stage, snapshot_id)
        tmp = final + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        df.write.mode("overwrite").parquet(tmp)
        shutil.rmtree(final, ignore_errors=True)
        os.rename(tmp, final)
        mf = self._manifest(stage, snapshot_id)
        mf_tmp = mf + ".tmp"
        with open(mf_tmp, "w") as f:
            json.dump({"snapshot_id": snapshot_id, "stage": stage}, f)
        os.replace(mf_tmp, mf)  # atomic commit point

    def gc(self, grace_seconds: float = 3600.0) -> list[str]:
        """Prune snap dirs with no committed manifest (crashed writes, or
        manifests removed by an operator). Returns the pruned paths; paths
        skipped only because they are inside the grace window are recorded
        in ``self.last_gc_deferred`` and logged (ADVICE r3 — callers can
        tell 'nothing to prune' from 'deferred by grace', and a crashed
        .tmp younger than an hour is reclaimed by a later gc() or an
        immediate ``gc(grace_seconds=0)`` when no writers are active).

        ``grace_seconds`` (ADVICE r2): a concurrent ``write()`` has a window
        between renaming the snap dir into place and writing its manifest —
        gc racing into that window would delete a committed-in-progress
        write. Snap dirs younger than the grace period (mtime) are skipped;
        pass 0 only when no writers are active."""
        import logging
        import time

        now = time.time()
        pruned: list[str] = []
        deferred: list[str] = []
        for stage in os.listdir(self.root):
            sdir = self._stage_dir(stage)
            if not os.path.isdir(sdir):
                continue
            for d in os.listdir(sdir):
                path = os.path.join(sdir, d)
                if not (d.startswith("snap-") and os.path.isdir(path)):
                    continue
                sid = d.removeprefix("snap-").removesuffix(".tmp")
                if d.endswith(".tmp") or not os.path.exists(self._manifest(stage, sid)):
                    try:
                        if now - os.path.getmtime(path) < grace_seconds:
                            deferred.append(path)
                            continue  # possibly a rename-then-manifest window
                    except OSError:
                        continue  # raced with a writer/another gc: leave it
                    shutil.rmtree(path, ignore_errors=True)
                    pruned.append(path)
        self.last_gc_deferred = deferred
        if deferred:
            logging.getLogger(__name__).info(
                "SnapshotStore.gc: %d candidate(s) deferred by the %.0fs grace "
                "window (not orphaned-for-sure yet): %s",
                len(deferred), grace_seconds, deferred,
            )
        return pruned


def iceberg_available(spark: SparkSession) -> bool:
    """True iff the Iceberg Spark runtime jar is on the JVM classpath. The
    sandbox ships none, so the real-Iceberg path is exercised only in
    Iceberg-enabled environments (the integration test skips LOUDLY here)."""
    try:
        spark._jvm.java.lang.Class.forName("org.apache.iceberg.spark.SparkCatalog")
        return True
    except Exception:
        return False


def configure_hadoop_catalog(spark: SparkSession, name: str, warehouse: str) -> None:
    """Register an Iceberg hadoop catalog at runtime (catalogs are lazily
    instantiated on first use, so this needs no session restart — unlike SQL
    extensions, which writeTo()/createOrReplace()/snapshot reads don't
    require)."""
    spark.conf.set(f"spark.sql.catalog.{name}", "org.apache.iceberg.spark.SparkCatalog")
    spark.conf.set(f"spark.sql.catalog.{name}.type", "hadoop")
    spark.conf.set(f"spark.sql.catalog.{name}.warehouse", warehouse)


class IcebergSnapshotStore:
    """SnapshotStore with REAL Iceberg tables as the snapshot/commit
    mechanism: ``write`` is ``df.writeTo(tbl).createOrReplace()`` (an atomic
    Iceberg metadata swap — the manifest dance the parquet store hand-rolls
    is the table format's native commit protocol), ``committed`` is catalog
    existence, ``read`` is a table scan. Same protocol as SnapshotStore, so
    StageRunner gets kill-and-rerun resume on top of it unchanged.

    Jar-gated: construct only when iceberg_available(spark); the parquet
    SnapshotStore is the sandbox fallback."""

    def __init__(self, spark: SparkSession, root: str, catalog: str = "el_iceberg",
                 namespace: str = "lifecycle"):
        if not iceberg_available(spark):
            raise RuntimeError(
                "IcebergSnapshotStore requires the Iceberg Spark runtime jar "
                "on the classpath; use SnapshotStore (parquet) instead"
            )
        self.spark = spark
        self.root = root  # metrics + warehouse live here
        os.makedirs(root, exist_ok=True)
        self.catalog = catalog
        self.namespace = namespace
        configure_hadoop_catalog(spark, catalog, os.path.join(root, "warehouse"))
        spark.sql(f"CREATE NAMESPACE IF NOT EXISTS {catalog}.{namespace}")

    def _table(self, stage: str, snapshot_id: str) -> str:
        return f"{self.catalog}.{self.namespace}.{stage}_snap_{snapshot_id}"

    def committed(self, stage: str, snapshot_id: str) -> bool:
        return self.spark.catalog.tableExists(self._table(stage, snapshot_id))

    def read(self, stage: str, snapshot_id: str) -> DataFrame:
        return self.spark.read.table(self._table(stage, snapshot_id))

    def write(self, stage: str, snapshot_id: str, df: DataFrame) -> None:
        df.writeTo(self._table(stage, snapshot_id)).createOrReplace()


class StageRunner:
    """Runs named stages with resume + metrics. ``fingerprint`` identifies the
    stage's inputs+config; same fingerprint -> resume from snapshot."""

    def __init__(self, store: SnapshotStore, metrics_stage: str = "_metrics"):
        self.store = store
        self.metrics_dir = os.path.join(store.root, metrics_stage)
        os.makedirs(self.metrics_dir, exist_ok=True)
        self.events: list[dict] = []  # in-process log (tests, observability)

    def run(
        self, stage: str, fingerprint: str, build: Callable[[], DataFrame]
    ) -> StageResult:
        snapshot_id = _fingerprint(stage, fingerprint)
        if self.store.committed(stage, snapshot_id):
            self.events.append({"stage": stage, "snapshot_id": snapshot_id, "resumed": True})
            return StageResult(self.store.read(stage, snapshot_id), snapshot_id, True, -1, 0)
        return self.rebuild(stage, fingerprint, build)

    def rebuild(self, stage: str, fingerprint: str, build: Callable[[], DataFrame]) -> StageResult:
        """Build and commit ``stage`` whether or not its snapshot is
        committed: a snapshot derived from a rebuilt input is stale."""
        snapshot_id = _fingerprint(stage, fingerprint)
        t0 = time.time()
        obs = Observation()
        self.store.write(stage, snapshot_id, build().observe(obs, F.count(F.lit(1)).alias("rows")))
        out = self.store.read(stage, snapshot_id)
        wall_ms = int((time.time() - t0) * 1000)
        rows = obs.get["rows"]
        self._write_lineage(stage, snapshot_id, out, rows, wall_ms)
        self.events.append(
            {"stage": stage, "snapshot_id": snapshot_id, "resumed": False, "rows": rows}
        )
        return StageResult(out, snapshot_id, False, rows, wall_ms)

    def _write_lineage(self, stage: str, snapshot_id: str, out: DataFrame, rows: int, wall_ms: int):
        """Lineage rows of the committed snapshot from its parquet footers, with
        no Spark job; ``partition_id`` is the write task's part-NNNNN number.
        Iceberg lists no files here: its ``files`` metadata table holds the
        per-file record counts."""
        parts = [
            {"stage": stage, "snapshot_id": snapshot_id, "wall_ms": wall_ms,
             "partition_id": int(os.path.basename(f).split("-")[1]),
             "rows_out": pq.read_metadata(f).num_rows}
            for f in sorted(out.inputFiles())
        ]
        if parts and sum(p["rows_out"] for p in parts) != rows:
            raise RuntimeError(f"{stage} {snapshot_id}: footers disagree with {rows} rows written")
        name = f"{stage}-{snapshot_id}.parquet"  # per snapshot: a rebuild replaces it
        tmp = os.path.join(self.metrics_dir, "." + name)  # hidden from readers
        schema = to_arrow_schema(StructType.fromDDL(METRICS_SCHEMA))
        pq.write_table(pa.Table.from_pylist(parts, schema), tmp)
        os.replace(tmp, os.path.join(self.metrics_dir, name))

    def metrics(self) -> DataFrame:
        return self.store.spark.read.schema(METRICS_SCHEMA).parquet(self.metrics_dir)


def run_linkage(
    spark: SparkSession,
    transcripts: DataFrame,
    dictionary: DataFrame,
    store_root: str,
    input_fingerprint: str,
    config=None,
) -> dict[str, object]:
    """The full pipeline under the lifecycle runner: every stage committed as
    a snapshot; a rerun with the same ``input_fingerprint`` resumes every
    already-committed stage (kill-and-rerun safe) and rebuilds every stage
    downstream of a rebuilt one. Stages run one at a time until a measured
    change makes independent ones commit concurrently. The pipeline's
    dictionary state is built only by stages that rebuild, and released on
    return."""
    from entity_linkings_spark.plans.pipeline import LinkageConfig, LinkagePipeline

    cfg = config or LinkageConfig()
    pipe = LinkagePipeline(dictionary, config=cfg)
    store = SnapshotStore(spark, store_root)
    runner = StageRunner(store)
    fp = _fingerprint(input_fingerprint, repr(cfg))

    results: dict[str, StageResult] = {}

    def durable(stage, build) -> DataFrame:
        stale = any(not results[i].resumed for i in stage.inputs if i in results)
        run = runner.rebuild if stale else runner.run
        results[stage.name] = run(stage.name, fp, build)
        return results[stage.name].df

    try:
        pipe.build(transcripts, durable)
    finally:
        pipe.close()
    del results["blocking_keys"]  # not among the return keys
    return {"runner": runner, **results}
