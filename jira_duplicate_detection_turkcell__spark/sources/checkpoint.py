"""Stage checkpointing with per-partition lineage — the resume backbone.

The reference resumes by checking whether artifact files exist in cloud
storage and skipping recompute on a hit (src/user_embedding_pipeline.py:196-219,
src/firebase_storage_manager.py:173-202). The new engine generalizes that to
per-stage *table* commits: every pipeline stage writes its output table plus a
manifest recording row counts (total and per output partition), config
fingerprint, and free-form metrics; a resumed run loads any stage whose
manifest matches the current config fingerprint and recomputes only what is
missing — the north rule's snapshot-checkpoint semantics.

Storage backend: Iceberg would provide this natively via snapshot commits;
the `iceberg-spark-runtime` jar is not available in this sandbox (SURVEY.md
§7.5), so the default backend is partitioned Parquet + a JSON manifest that
emulates an atomic snapshot commit (write to a temp suffix, fsync manifest
last — the manifest's existence *is* the commit). The pipeline only ever
talks to this interface, so swapping in an Iceberg catalog is a backend
change, not a pipeline change.
"""

from __future__ import annotations

import json
import shutil
from dataclasses import asdict, dataclass, field
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


@dataclass
class StageManifest:
    stage: str
    config_fingerprint: str
    row_count: int
    partition_rows: dict[str, int]
    metrics: dict = field(default_factory=dict)
    schema_ddl: str = ""
    file_count: int = 0
    # True when partition_rows does NOT cover every file counted by
    # file_count — either the per-file lineage was capped at `file_cap`
    # files (plain commits), or this is a segment-append manifest, whose
    # partition_rows carry only the NEW segment's files (prior segments'
    # lineage lives in the superseded manifests). row_count/file_count stay
    # exact either way, computed executor-side.
    partition_rows_truncated: bool = False
    # data directories (under root/<stage>/) whose union is the stage table;
    # ["data"] for a plain commit, ["data", "data-g1", …] after segment
    # appends (Iceberg-snapshot-style: an append adds one segment holding
    # ONLY the new rows — O(new batch) I/O — and load() reads the union)
    segments: list[str] = field(default_factory=lambda: ["data"])


class StageStore:
    """Parquet + manifest-JSON stage store with atomic-commit semantics.

    ``file_cap`` bounds the per-file lineage section of the manifest: a
    100 TB stage writes 10⁵-10⁶ parquet files, and collecting one dict
    entry per file would make the manifest (and the driver collect behind
    it) grow with data size. Totals are aggregated executor-side and stay
    exact at any file count; per-file rows are recorded for the first
    ``file_cap`` files only, with ``partition_rows_truncated`` flagging the
    cut — so the manifest is O(file_cap) bytes regardless of scale.
    """

    def __init__(
        self, root: str | Path, config_fingerprint: str = "", file_cap: int = 1024
    ):
        self.root = Path(root)
        self.root.mkdir(parents=True, exist_ok=True)
        self.config_fingerprint = config_fingerprint
        self.file_cap = file_cap
        # roll forward any transaction that crashed mid-flip: the intent
        # file is written only after every staged artifact is durable, so
        # replaying it always completes the generation (see StageTxn)
        self.recover()

    # -- paths -------------------------------------------------------------
    def _data_dir(self, stage: str) -> Path:
        return self.root / stage / "data"

    def _segment_dir(self, stage: str, segment: str) -> Path:
        return self.root / stage / segment

    def _manifest_path(self, stage: str) -> Path:
        return self.root / stage / "MANIFEST.json"

    def _staged_manifest_path(self, stage: str) -> Path:
        return self.root / stage / "MANIFEST.json.staged"

    def _txn_path(self) -> Path:
        return self.root / "TXN.json"

    # -- lineage -------------------------------------------------------------
    def _lineage(self, spark: SparkSession, paths: list[str]):
        """(row_count, file_count, capped partition_rows, schema_ddl) over
        the given parquet dirs — exact totals aggregated executor-side (ONE
        2-column row reaches the driver however many files exist), per-file
        rows for the first ``file_cap`` files only."""
        committed = spark.read.parquet(*paths)
        # per_file is tiny (one row per file) — persist it so the totals
        # aggregate and the capped head read the committed data ONCE
        per_file = committed.groupBy(F.input_file_name().alias("file")).count().persist()
        try:
            totals = per_file.agg(
                F.count(F.lit(1)).alias("n_files"), F.sum("count").alias("n_rows")
            ).collect()[0]
            file_count = int(totals["n_files"] or 0)
            head = per_file.orderBy("file").limit(self.file_cap).collect()
        finally:
            per_file.unpersist()
        partition_rows = {Path(r["file"]).name: r["count"] for r in head}
        return (
            int(totals["n_rows"] or 0),
            file_count,
            partition_rows,
            committed.schema.simpleString(),
        )

    # -- commit protocol ----------------------------------------------------
    def commit(self, stage: str, df: DataFrame, metrics: dict | None = None) -> StageManifest:
        """Write stage output + lineage manifest. The manifest write is last:
        a stage directory without a manifest is an aborted commit and is
        recomputed on resume (kill-and-resume test relies on this)."""
        data_dir = self._data_dir(stage)
        if data_dir.parent.exists():
            shutil.rmtree(data_dir.parent)
        df.write.mode("overwrite").parquet(str(data_dir))

        row_count, file_count, partition_rows, schema_ddl = self._lineage(
            df.sparkSession, [str(data_dir)]
        )
        manifest = StageManifest(
            stage=stage,
            config_fingerprint=self.config_fingerprint,
            row_count=row_count,
            partition_rows=partition_rows,
            metrics=metrics or {},
            schema_ddl=schema_ddl,
            file_count=file_count,
            partition_rows_truncated=file_count > self.file_cap,
            segments=["data"],
        )
        tmp = self._manifest_path(stage).with_suffix(".tmp")
        tmp.write_text(json.dumps(asdict(manifest), indent=2))
        tmp.rename(self._manifest_path(stage))  # atomic on POSIX
        return manifest

    def is_committed(self, stage: str) -> bool:
        mp = self._manifest_path(stage)
        if not mp.exists():
            return False
        try:
            manifest = json.loads(mp.read_text())
        except (json.JSONDecodeError, OSError):
            return False
        return manifest.get("config_fingerprint") == self.config_fingerprint

    def load(self, spark: SparkSession, stage: str) -> DataFrame:
        if self._manifest_path(stage).exists():
            segs = self.manifest(stage).segments or ["data"]
            return spark.read.parquet(
                *[str(self._segment_dir(stage, s)) for s in segs]
            )
        return spark.read.parquet(str(self._data_dir(stage)))

    def manifest(self, stage: str) -> StageManifest:
        d = json.loads(self._manifest_path(stage).read_text())
        return StageManifest(**d)

    def invalidate(self, stage: str) -> None:
        mp = self._manifest_path(stage)
        if mp.exists():
            mp.unlink()

    # -- transactional generation flip ---------------------------------------
    def begin_txn(self, generation: int) -> "StageTxn":
        """Start an atomic multi-stage commit (see StageTxn)."""
        return StageTxn(self, generation)

    def recover(self) -> None:
        """Complete a crashed transaction (idempotent, called on init)."""
        txn = self._txn_path()
        if txn.exists():
            self._apply_txn(json.loads(txn.read_text()))

    def _apply_txn(self, intent: dict) -> None:
        """Make the staged generation live. Idempotent at every step, so a
        crash anywhere inside is repaired by replaying the intent file:
        1. flip: rename each MANIFEST.json.staged over MANIFEST.json
           (atomic per stage; a missing staged file means that stage
           already flipped),
        2. gc: delete data directories no longer referenced by any live
           manifest (old full-rewrite segments),
        3. remove the intent file — the transaction's own commit point.
        """
        for stage in intent.get("flip", []):
            staged = self._staged_manifest_path(stage)
            if staged.exists():
                staged.rename(self._manifest_path(stage))
        for stage, dirs in intent.get("gc", {}).items():
            for d in dirs:
                shutil.rmtree(self._segment_dir(stage, d), ignore_errors=True)
        self._txn_path().unlink(missing_ok=True)


class StageTxn:
    """Atomic multi-stage generation flip — the append path's consistency
    backbone (an Iceberg backend would replace this with one snapshot
    commit across tables; the interface is the same).

    Every write lands under STAGED names first: new data goes to fresh
    ``data-g<G>`` directories (never touching the directories live plans
    read from), new manifests to ``MANIFEST.json.staged``. Nothing a reader
    can see changes until ``commit()``, which writes one intent file
    (``TXN.json``, tmp+rename) and then applies it: per-stage manifest
    renames and GC of superseded data dirs. Crash windows:

    * before ``commit()`` — the live generation is untouched and fully
      usable; staged leftovers are inert (readers only follow
      MANIFEST.json) and are overwritten by a retry;
    * after the intent file is durable — ``StageStore.__init__`` replays it
      (roll-forward), completing the flip; every step is idempotent.

    Two staging modes per stage:

    * ``stage_full`` — full rewrite into the new segment (tables whose
      content changes globally, e.g. clusters);
    * ``stage_segment`` — the Iceberg-append analog: the new segment holds
      ONLY the appended rows (O(new batch) I/O), the manifest's segment
      list grows by one, and ``load()`` reads the union. Totals stay exact
      (prior manifest + executor-side count of the new segment).
    """

    def __init__(self, store: StageStore, generation: int):
        self.store = store
        self.generation = generation
        self._flip: list[str] = []
        self._gc: dict[str, list[str]] = {}

    def _segment_name(self) -> str:
        return f"data-g{self.generation}"

    def _write_segment(self, stage: str, df: DataFrame) -> Path:
        seg_dir = self.store._segment_dir(stage, self._segment_name())
        seg_dir.parent.mkdir(parents=True, exist_ok=True)
        if seg_dir.exists():  # leftover from a crashed earlier attempt
            shutil.rmtree(seg_dir)
        df.write.parquet(str(seg_dir))
        return seg_dir

    def _stage_manifest(self, stage: str, manifest: StageManifest) -> None:
        staged = self.store._staged_manifest_path(stage)
        tmp = staged.with_suffix(".tmp")
        tmp.write_text(json.dumps(asdict(manifest), indent=2))
        tmp.rename(staged)
        self._flip.append(stage)

    def stage_full(self, stage: str, df: DataFrame, metrics: dict | None = None) -> None:
        """Full rewrite of ``stage`` as generation ``G`` (staged until commit).
        The old segments keep serving readers — and the plan computing
        ``df`` may itself read them — until the flip, then get GC'd."""
        seg = self._segment_name()
        seg_dir = self._write_segment(stage, df)
        row_count, file_count, partition_rows, schema_ddl = self.store._lineage(
            df.sparkSession, [str(seg_dir)]
        )
        old_segments: list[str] = []
        if self.store._manifest_path(stage).exists():
            old_segments = [
                s for s in (self.store.manifest(stage).segments or ["data"])
                if s != seg
            ]
        self._stage_manifest(stage, StageManifest(
            stage=stage,
            config_fingerprint=self.store.config_fingerprint,
            row_count=row_count,
            partition_rows=partition_rows,
            metrics=metrics or {},
            schema_ddl=schema_ddl,
            file_count=file_count,
            partition_rows_truncated=file_count > self.store.file_cap,
            segments=[seg],
        ))
        if old_segments:
            self._gc[stage] = old_segments

    def stage_segment(self, stage: str, df: DataFrame, metrics: dict | None = None) -> None:
        """Append ``df`` as a new segment of ``stage`` (staged until commit)
        — writes ONLY the new rows; the committed stage becomes the union
        of its segments. A segment whose schema differs from the stage's
        is refused before anything is written: ``load()`` reads the
        segments as one parquet dataset without schema merging, so a
        drifted segment would commit a table that misreads later."""
        if not self.store._manifest_path(stage).exists():
            raise ValueError(
                f"stage_segment('{stage}'): no committed base manifest to "
                f"append to — use stage_full for the first write"
            )
        prior = self.store.manifest(stage)
        ddl = df.schema.simpleString()
        if ddl != prior.schema_ddl:
            raise ValueError(
                f"stage_segment('{stage}'): segment schema {ddl} differs from "
                f"the committed stage's {prior.schema_ddl} — rebuild the "
                f"store instead of appending"
            )
        seg = self._segment_name()
        seg_dir = self._write_segment(stage, df)
        row_count, file_count, partition_rows, schema_ddl = self.store._lineage(
            df.sparkSession, [str(seg_dir)]
        )
        segments = [s for s in (prior.segments or ["data"]) if s != seg] + [seg]
        total_files = prior.file_count + file_count
        self._stage_manifest(stage, StageManifest(
            stage=stage,
            config_fingerprint=self.store.config_fingerprint,
            row_count=prior.row_count + row_count,
            # per-file lineage of the NEW segment (prior segments' lineage
            # lives in the superseded manifests' history; totals are exact)
            partition_rows=partition_rows,
            metrics=metrics or {},
            schema_ddl=schema_ddl,
            file_count=total_files,
            partition_rows_truncated=total_files > len(partition_rows),
            segments=segments,
        ))

    def commit(self) -> None:
        """Write the intent file, then apply it. The tmp+rename of TXN.json
        is the transaction's single atomic commit point: before it, readers
        see the old generation; after it, recovery guarantees the new one."""
        intent = {
            "generation": self.generation,
            "flip": self._flip,
            "gc": self._gc,
        }
        txn = self.store._txn_path()
        tmp = txn.with_suffix(".tmp")
        tmp.write_text(json.dumps(intent, indent=2))
        tmp.rename(txn)
        self.store._apply_txn(intent)
