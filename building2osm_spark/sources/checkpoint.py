"""Snapshot checkpoint store: Iceberg-style manifests over Parquet dirs.

The reference's resumability contract (README.md:85, building_merge.py:
659-674): re-running merge only adds buildings whose ref:bygningsnr is not
already committed. Generalized here as SURVEY.md §2.10: every stage writes
a snapshot = Parquet data + JSON manifest carrying stage name, params
hash, input-snapshot lineage, and per-partition row counts; a restarted
run anti-joins the committed key set. The layout is Iceberg-shaped
(snapshot log + manifests) so a real Iceberg catalog can replace the
backend without touching callers (the runtime jar is absent offline —
SURVEY.md §7.3).
"""

from __future__ import annotations

import hashlib
import json
import os
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _write_json_atomic(path: str, obj) -> None:
    """tmp-file + os.replace: a crash mid-write must never truncate the
    log/manifest the store exists to recover from (default=str matches
    _params_hash's serialization, so a params dict that hashed fine can
    never crash the manifest dump after the data was already written)."""
    tmp = f"{path}.tmp.{uuid.uuid4().hex[:8]}"
    with open(tmp, "w") as f:
        json.dump(obj, f, indent=2, default=str)
    os.replace(tmp, path)


def _params_hash(params: dict) -> str:
    return hashlib.sha256(
        json.dumps(params, sort_keys=True, default=str).encode()
    ).hexdigest()[:16]


# Engine-wide version of persisted hash-derived-value SEMANTICS. Bump
# whenever the value a persisted hash-derived column takes for identical
# input changes (e.g. round 3's abs(xxhash64)%M → pmod(xxhash64, M) fix
# changed every fingerprint). Recorded in each manifest; checked on resume
# ONLY for stages that declare hash_derived=True — a snapshot of such a
# stage committed under an older scheme (or before this field existed) is
# NOT a prefix of the current computation, and resuming onto it would
# silently mix old- and new-hash rows (ADVICE r3, dedupe.py:84). Stages
# whose keys/values carry no persisted hash-derived columns (split cell
# assignments, conflate action rows keyed by ref) must NOT be invalidated
# by a scheme bump: under the STREAMING path resumed=False replaces the
# snapshot chain while the source never re-feeds consumed files, so an
# unconditional check would silently truncate sound history.
HASH_SCHEME = 2


class SnapshotStore:
    """Append-only snapshot store rooted at a directory.

    Layout:
      root/<stage>/<snapshot_id>/data/*.parquet
      root/<stage>/<snapshot_id>/manifest.json
      root/<stage>/log.json              (snapshot id log, newest last)
    """

    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)

    # -- write --------------------------------------------------------------

    def commit(
        self,
        df: DataFrame,
        stage: str,
        *,
        key_col: str | None = None,
        params: dict | None = None,
        inputs: list[str] | None = None,
    ) -> str:
        """Write df as a new snapshot of `stage`; returns the snapshot id.
        The manifest records per-partition row counts (skew evidence), the
        params hash (a changed config invalidates resume), and lineage."""
        snapshot_id = f"{int(time.time())}-{uuid.uuid4().hex[:8]}"
        base = os.path.join(self.root, stage, snapshot_id)
        data_dir = os.path.join(base, "data")

        # write FIRST, then derive the manifest counts from the files
        # actually written: counting the lineage separately would run the
        # full computation twice and, for a nondeterministic df (rand,
        # limit-after-shuffle, source appended between jobs), record
        # counts for DIFFERENT data than was persisted — the manifest
        # must describe the bytes on disk. One parquet part file == one
        # writer task, so per-file counts are the per-partition skew
        # evidence (the part-NNNNN index is the writer partition id).
        df.write.mode("errorifexists").parquet(data_dir)
        # per-file counts from the parquet FOOTERS (metadata-only): the
        # previous groupBy(input_file_name) re-scanned every written row —
        # a second full read of the snapshot on each commit. Multiple
        # files from one writer task (maxRecordsPerFile) sum into one
        # partition entry instead of duplicating the id.
        per_task: dict[int, int] = {}
        try:
            import pyarrow.parquet as pq

            for fn in sorted(os.listdir(data_dir)):
                if not fn.startswith("part-"):
                    continue
                pid = int(fn.split("-")[1])
                n = pq.ParquetFile(os.path.join(data_dir, fn)).metadata.num_rows
                per_task[pid] = per_task.get(pid, 0) + int(n)
        except Exception:
            # non-posix store path or footer read failure: fall back to
            # the (correct, slower) scan — from scratch, or files counted
            # before the failure would be double-counted
            per_task = {}
            written = df.sparkSession.read.parquet(data_dir)
            for r in (
                written.groupBy(F.input_file_name().alias("f"))
                .agg(F.count("*").alias("n_rows"))
                .collect()
            ):
                pid = int(os.path.basename(r["f"]).split("-")[1])
                per_task[pid] = per_task.get(pid, 0) + int(r["n_rows"])
        part_counts = sorted(per_task.items())

        manifest = {
            "snapshot_id": snapshot_id,
            "stage": stage,
            "created_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
            "params_hash": _params_hash(params or {}),
            "hash_scheme": HASH_SCHEME,
            "params": params or {},
            "inputs": inputs or [],
            "key_col": key_col,
            "row_count": sum(n for _, n in part_counts),
            "partitions": [
                {"partition_id": pid, "rows": n} for pid, n in sorted(part_counts)
            ],
            "schema": df.schema.jsonValue(),
        }
        _write_json_atomic(os.path.join(base, "manifest.json"), manifest)

        log_path = os.path.join(self.root, stage, "log.json")
        log = []
        if os.path.exists(log_path):
            with open(log_path) as f:
                log = json.load(f)
        log.append(snapshot_id)
        _write_json_atomic(log_path, log)
        return snapshot_id

    # -- read ---------------------------------------------------------------

    def latest(self, stage: str) -> str | None:
        log_path = os.path.join(self.root, stage, "log.json")
        if not os.path.exists(log_path):
            return None
        with open(log_path) as f:
            log = json.load(f)
        return log[-1] if log else None

    def manifest(self, stage: str, snapshot_id: str | None = None) -> dict | None:
        snapshot_id = snapshot_id or self.latest(stage)
        if snapshot_id is None:
            return None
        path = os.path.join(self.root, stage, snapshot_id, "manifest.json")
        with open(path) as f:
            return json.load(f)

    def read(self, spark: SparkSession, stage: str, snapshot_id: str | None = None) -> DataFrame | None:
        snapshot_id = snapshot_id or self.latest(stage)
        if snapshot_id is None:
            return None
        return spark.read.parquet(os.path.join(self.root, stage, snapshot_id, "data"))

    # -- resume -------------------------------------------------------------

    def _resume(
        self, spark: SparkSession, df: DataFrame, stage: str, key_col: str,
        params: dict | None = None, hash_derived: bool = False,
    ) -> tuple[DataFrame, bool]:
        """(filtered_df, resumed). resumed=False means the previous
        snapshot is NOT a prefix of this computation (absent, different
        key_col, different params, or — for hash_derived stages — a
        different engine hash scheme) — the caller must treat df as a
        complete fresh result, not an increment."""
        m = self.manifest(stage)
        if m is None or m.get("key_col") != key_col:
            return df, False
        if params is not None and m["params_hash"] != _params_hash(params):
            return df, False
        if hash_derived and m.get("hash_scheme") != HASH_SCHEME:
            # committed under a different (or pre-versioning) hash scheme:
            # its hash-derived values are incomparable with ours
            return df, False
        committed = (
            self.read(spark, stage)
            .select(F.col(key_col).alias("__committed_key"))
            .distinct()
        )
        # null-SAFE anti-join: with plain equality NULL keys never match,
        # so a committed NULL-key row would be recommitted (and duplicated
        # by incremental_commit's union) on every run, forever
        return (
            df.join(
                committed,
                F.col(key_col).eqNullSafe(F.col("__committed_key")),
                "left_anti",
            ),
            True,
        )

    def resume_filter(
        self, spark: SparkSession, df: DataFrame, stage: str, key_col: str,
        params: dict | None = None, hash_derived: bool = False,
    ) -> DataFrame:
        """Drop rows whose key is already committed in the latest snapshot
        of `stage` — the ref:bygningsnr idempotence semantics. When the
        stage has no snapshot, or was committed with DIFFERENT params, the
        full df passes (changed params = a different computation).
        hash_derived=True declares that the stage persists hash-derived
        values (fingerprints, signatures): its snapshots additionally
        invalidate across engine HASH_SCHEME bumps."""
        out, _ = self._resume(
            spark, df, stage, key_col, params=params, hash_derived=hash_derived
        )
        return out

    def incremental_commit(
        self,
        df: DataFrame,
        stage: str,
        key_col: str,
        *,
        params: dict | None = None,
        hash_derived: bool = False,
    ) -> tuple[str, int]:
        """resume_filter + commit of only the new keys, unioned with the
        previous snapshot → the new snapshot is complete AND the increment
        was computed only for new rows. Returns (snapshot_id, n_new).

        When params/key_col changed (resumed=False), the previous snapshot
        is a DIFFERENT computation: the new snapshot is df alone — unioning
        would duplicate every previously committed key (old-params row +
        recomputed row) and double-count downstream."""
        new_rows, resumed = self._resume(
            df.sparkSession, df, stage, key_col, params=params,
            hash_derived=hash_derived,
        )
        return self.commit_increment(
            new_rows, stage, key_col, params=params, resumed=resumed
        )

    def commit_increment(
        self,
        new_rows: DataFrame,
        stage: str,
        key_col: str,
        *,
        params: dict | None = None,
        resumed: bool = True,
    ) -> tuple[str, int]:
        """Commit ALREADY-FILTERED new rows (the caller ran _resume/
        resume_filter — the streaming path filters before its transform
        and must not pay a second committed-keys anti-join here). resumed
        carries the caller's _resume decision: False means the previous
        snapshot belongs to a different computation and is not unioned.

        NULL-key contract (deliberate, pinned by
        test_null_key_rows_resume_idempotently): NULL is ONE key — the
        null-safe resume anti-join keeps identical re-runs idempotent
        (no per-run duplication), with the documented consequence that
        once any NULL-key row is committed, LATER DISTINCT null-key rows
        are treated as already-committed and dropped. Stages whose
        null-key rows carry real data must assign a synthetic key before
        committing."""
        # n_new comes from the manifests' footer row counts: the new
        # snapshot holds the previous one plus exactly the new rows, so
        # no job of its own counts (or caches) the increment
        prev = self.manifest(stage) if resumed else None
        merged = new_rows
        if prev is not None:
            merged = self.read(
                new_rows.sparkSession, stage, prev["snapshot_id"]
            ).unionByName(new_rows)
        sid = self.commit(
            merged,
            stage,
            key_col=key_col,
            params=params,
            inputs=[prev["snapshot_id"]] if prev else [],
        )
        n_new = self.manifest(stage, sid)["row_count"] - (
            prev["row_count"] if prev else 0
        )
        return sid, n_new

    # -- retention ----------------------------------------------------------

    def expire_snapshots(self, stage: str, keep_last: int = 1) -> list[str]:
        """Delete all but the newest `keep_last` snapshots of `stage`;
        returns the expired ids.

        incremental_commit is copy-forward: every snapshot is COMPLETE
        (previous data rewritten + new rows), which keeps reads trivial
        (one dir) and resume exact, at the cost of O(total) write per
        increment and O(total × runs) storage if nothing expires. A real
        Iceberg backend would instead reference the previous snapshot's
        unchanged data files in the new manifest; until that backend swap,
        a standing pipeline should call this after each commit to bound
        storage. Older manifests may reference expired ids in `inputs` —
        lineage beyond the retained window is intentionally forgotten."""
        import shutil

        log_path = os.path.join(self.root, stage, "log.json")
        if not os.path.exists(log_path):
            return []
        with open(log_path) as f:
            log = json.load(f)
        keep_last = max(1, keep_last)
        expired, kept = log[:-keep_last], log[-keep_last:]
        # rewrite the log FIRST (atomically), then delete: a crash between
        # the two leaves unreferenced dirs (harmless garbage), never a log
        # entry pointing at a deleted snapshot
        _write_json_atomic(log_path, kept)
        for sid in expired:
            shutil.rmtree(os.path.join(self.root, stage, sid), ignore_errors=True)
        return expired
