"""Versioned parquet tables: the Delta-lake table contract (time travel,
OPTIMIZE, VACUUM) rebuilt on a plain file-level commit log.

The reference writes managed Delta tables (`01_project_setup_and_ingestion.py:
122,208`, `02:69-71`, `03:90,99,117,123,127`); Delta isn't installed in this
environment, so this module re-implements the *transaction-log idea* those
writes rely on — the public Delta design (Armbrust et al., VLDB 2020
"Delta Lake: High-Performance ACID Table Storage over Cloud Object Stores"):

- a table = data files + an ordered log of commits, each commit a JSON file
  ``_vlog/NNNNNNNN.json`` listing files ADDED and files REMOVED;
- readers resolve a snapshot by replaying the log up to a version — so
  **time travel** is just "stop replaying early";
- **append** only adds files (no read-modify-write); **overwrite** adds new
  files and removes all currently-live ones — old data files stay on disk,
  which is what makes historical versions readable;
- **OPTIMIZE** rewrites the live file set into ~target-size files and
  commits the swap (adds compacted, removes small) — a metadata-only change
  for readers, same rows;
- **VACUUM** physically deletes files unreferenced by any retained version
  and truncates history — after it, time travel before the horizon fails.

Scale posture: commits are driver-side METADATA (a few KB per commit — the
same posture as Delta's JSON log); data moves only through distributed
``spark.read``/``df.write``. Snapshot reads hand Spark an explicit file
list, so partition pruning and predicate pushdown work unchanged.
Multi-writer safety follows Delta's optimistic-concurrency protocol: a
writer records the snapshot version it read at transaction start and
commits by put-if-absent (O_EXCL create; object stores provide the same
primitive) on ``base_version + 1`` — a concurrent writer that won the race
makes the create fail and the loser raises :class:`ConcurrentWriteError`
instead of corrupting the log (write-write conflict, Armbrust et al. §3.2).
"""

from __future__ import annotations

import json
import math
import os
import shutil
import uuid
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from databricks_sales_etl_pipeline_spark.session import TARGET_PARTITION_BYTES

_LOG_DIR = "_vlog"


class ConcurrentWriteError(RuntimeError):
    """Raised when a commit loses the put-if-absent race on its target log
    version — the caller must re-read the snapshot and retry (Delta's
    write-write conflict semantics)."""


@dataclass
class Commit:
    version: int
    adds: list[str]      # data-file paths relative to the table root
    removes: list[str]
    op: str              # WRITE | APPEND | OPTIMIZE | VACUUM


class VersionedTable:
    """A parquet table with a file-level commit log (single writer)."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path
        os.makedirs(os.path.join(path, _LOG_DIR), exist_ok=True)

    # ---- log plumbing (driver-side metadata only) ----

    def _log_path(self, version: int) -> str:
        return os.path.join(self.path, _LOG_DIR, f"{version:08d}.json")

    def versions(self) -> list[int]:
        names = os.listdir(os.path.join(self.path, _LOG_DIR))
        return sorted(int(n.split(".")[0]) for n in names if n.endswith(".json"))

    def _read_commit(self, version: int) -> Commit:
        with open(self._log_path(version)) as f:
            d = json.load(f)
        return Commit(d["version"], d["adds"], d["removes"], d["op"])

    def snapshot_version(self) -> int:
        """Latest committed version, or -1 for an empty table — the value a
        transaction records at start and commits against."""
        vs = self.versions()
        return vs[-1] if vs else -1

    def _commit(
        self, adds: list[str], removes: list[str], op: str,
        base_version: int | None = None,
    ) -> int:
        """Attempt to commit ``base_version + 1`` (optimistic concurrency).
        ``base_version`` defaults to the current snapshot — pass the version
        read at transaction START to get true CAS semantics across a
        multi-step transaction."""
        base = self.snapshot_version() if base_version is None else base_version
        version = base + 1
        try:
            # O_EXCL create = put-if-absent: a concurrent writer that already
            # committed this version makes the create fail atomically
            fd = os.open(
                self._log_path(version), os.O_CREAT | os.O_EXCL | os.O_WRONLY
            )
        except FileExistsError:
            raise ConcurrentWriteError(
                f"commit of version {version} at {self.path} lost the race: "
                "a concurrent writer committed first — re-read and retry"
            ) from None
        with os.fdopen(fd, "w") as f:
            json.dump(
                {"version": version, "adds": adds, "removes": removes, "op": op}, f
            )
        return version

    def live_files(self, version: int | None = None) -> list[str]:
        """Replay the log up to ``version`` (inclusive) → live file set."""
        vs = self.versions()
        if not vs:
            return []
        target = vs[-1] if version is None else version
        if target not in vs:
            raise ValueError(
                f"version {target} not in table history {vs} "
                "(vacuumed or never written)"
            )
        live: list[str] = []
        for v in vs:
            if v > target:
                break
            c = self._read_commit(v)
            if c.op == "VACUUM":
                continue
            removed = set(c.removes)
            live = [f for f in live if f not in removed] + c.adds
        return sorted(live)

    # ---- write path ----

    def _write_data(self, df: DataFrame) -> list[str]:
        """Write df's partitions as parquet under a commit-unique subdir and
        return the part-file paths (relative to the table root)."""
        sub = f"data-{uuid.uuid4().hex[:12]}"
        out = os.path.join(self.path, sub)
        df.write.mode("overwrite").parquet(out)
        return sorted(
            os.path.join(sub, n)
            for n in os.listdir(out)
            if n.startswith("part-") and n.endswith(".parquet")
        )

    def write(
        self, df: DataFrame, mode: str = "overwrite",
        base_version: int | None = None,
    ) -> int:
        """S4/S5 with history: append adds files; overwrite adds files and
        removes the previous snapshot's (old files stay readable via
        time travel until VACUUM). The snapshot version is pinned BEFORE the
        data write — a concurrent commit in the window between data write
        and log commit raises :class:`ConcurrentWriteError`."""
        base = self.snapshot_version() if base_version is None else base_version
        adds = self._write_data(df)
        removes = self.live_files(base) if (mode == "overwrite" and base >= 0) else []
        return self._commit(
            adds, removes, "WRITE" if mode == "overwrite" else "APPEND",
            base_version=base,
        )

    # ---- read path ----

    def read(self, version: int | None = None) -> DataFrame:
        """Snapshot read, optionally AS OF a version (time travel). Hands
        Spark the explicit live-file list — pushdown/pruning unchanged."""
        files = self.live_files(version)
        if not files:
            raise ValueError(f"table at {self.path} has no data")
        return self.spark.read.parquet(*[os.path.join(self.path, f) for f in files])

    # ---- maintenance ----

    def optimize(self) -> int:
        """Compact the live file set to ~TARGET_PARTITION_BYTES files and
        commit the swap — same rows, fewer files (Delta OPTIMIZE)."""
        df = self.read()
        size = df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        n = max(1, math.ceil(int(size) / TARGET_PARTITION_BYTES))
        old = self.live_files()
        adds = self._write_data(df.repartition(n).localCheckpoint(eager=True))
        return self._commit(adds, old, "OPTIMIZE")

    def clone_to(self, dest_path: str) -> "VersionedTable":
        """SHALLOW CLONE: a new table whose first commit references the
        source's current live data files by absolute path — zero bytes
        copied (Delta's CLONE contract). Subsequent writes to the clone add
        its own files; the source is never mutated through the clone.
        Caveat shared with Delta: VACUUM on the source can invalidate a
        shallow clone — production deep-clones before source retention."""
        clone = VersionedTable(self.spark, dest_path)
        adds = [os.path.join(self.path, f) for f in self.live_files()]
        clone._commit(adds, [], "CLONE")
        return clone

    def restore(self, version: int) -> int:
        """RESTORE TABLE ... TO VERSION AS OF: commit a swap that removes
        the current live set and re-adds the target version's — history is
        preserved (the restore is itself a new version, so it can be
        restored away again)."""
        target = self.live_files(version)
        current = self.live_files()
        return self._commit(target, current, "RESTORE")

    def vacuum(self, retain_last: int = 1) -> list[str]:
        """Physically delete files referenced ONLY by versions older than
        the last ``retain_last`` snapshots, truncate their log entries, and
        commit a VACUUM marker. Time travel before the horizon then raises —
        the same contract as Delta VACUUM breaking time travel past the
        retention window."""
        vs = self.versions()
        keep_versions = vs[-retain_last:]
        needed: set[str] = set()
        for v in keep_versions:
            needed.update(self.live_files(v))
        all_files = {
            f
            for v in vs
            for c in [self._read_commit(v)]
            for f in c.adds
            if c.op != "VACUUM"
        }
        doomed = sorted(all_files - needed)
        for f in doomed:
            p = os.path.join(self.path, f)
            if os.path.exists(p):
                os.remove(p)
        # CHECKPOINT the horizon version: its commit must carry the FULL
        # live snapshot (earlier adds it references are about to lose their
        # log entries) — the role Delta's checkpoint files play
        horizon = keep_versions[0]
        snapshot = self.live_files(horizon)
        os.remove(self._log_path(horizon))
        with open(self._log_path(horizon), "w") as f:
            json.dump(
                {
                    "version": horizon,
                    "adds": snapshot,
                    "removes": [],
                    "op": "CHECKPOINT",
                },
                f,
            )
        # drop pre-horizon log entries + empty data dirs
        for v in vs:
            if v < horizon:
                os.remove(self._log_path(v))
        for d in os.listdir(self.path):
            full = os.path.join(self.path, d)
            if d.startswith("data-") and os.path.isdir(full) and not os.listdir(full):
                shutil.rmtree(full)
        self._commit([], [], "VACUUM")
        return doomed

    def history(self) -> list[dict]:
        """DESCRIBE HISTORY: one dict per retained commit."""
        return [
            {
                "version": c.version,
                "operation": c.op,
                "n_added": len(c.adds),
                "n_removed": len(c.removes),
            }
            for v in self.versions()
            for c in [self._read_commit(v)]
        ]


# ---- registered driver queries (real write→time-travel round-trips) ----

from databricks_sales_etl_pipeline_spark.catalog import load  # noqa: E402
from databricks_sales_etl_pipeline_spark.io import scratch_dir  # noqa: E402
from databricks_sales_etl_pipeline_spark.registry import query  # noqa: E402


@query(
    "tbl_time_travel",
    oracle="SELECT n_nationkey, n_name, n_regionkey FROM nation",
)
def tbl_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time travel: write nation as v0, append more rows as v1, then read
    AS OF v0 — the oracle checks the v0 snapshot is bit-identical to the
    source even though the table has moved on."""
    n = load(spark, sf_dir, "nation")
    t = VersionedTable(spark, scratch_dir("vtbl_tt"))
    t.write(n, mode="overwrite")                 # v0
    t.write(n.limit(7), mode="append")           # v1
    return t.read(version=0)


@query(
    "tbl_optimize_roundtrip",
    oracle="""
    SELECT n_nationkey, n_name, n_regionkey FROM nation
    UNION ALL
    SELECT n_nationkey, n_name, n_regionkey FROM nation
    """,
)
def tbl_optimize_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPTIMIZE preserves data exactly: two appended copies of nation,
    fragmented into many small files, compacted, read back — the oracle is
    the plain doubled source (file layout is invisible to readers)."""
    n = load(spark, sf_dir, "nation")
    t = VersionedTable(spark, scratch_dir("vtbl_opt"))
    t.write(n.repartition(8), mode="overwrite")
    t.write(n.repartition(8), mode="append")
    t.optimize()
    return t.read()


def change_feed(
    old: DataFrame, new: DataFrame, keys: list[str]
) -> DataFrame:
    """Change-data-feed between two snapshots (the Delta CDF contract
    rebuilt on the versioned-parquet table): full outer join on the key,
    classify insert / delete / update, emit post-image values (pre-image
    for deletes). Null-safe value compare so NULL→value edits register.

    Scale: one shuffle join on the key; at 100 TB real CDF readers consume
    per-commit file-level deltas instead — this is the semantic fallback
    that works on any two readable versions."""
    value_cols = [c for c in old.columns if c not in keys]
    a = old.select(
        *[F.col(k).alias(f"a_{k}") for k in keys],
        *[F.col(c).alias(f"a_{c}") for c in value_cols],
    )
    b = new.select(
        *[F.col(k).alias(f"b_{k}") for k in keys],
        *[F.col(c).alias(f"b_{c}") for c in value_cols],
    )
    cond = None
    for k in keys:
        c = F.col(f"a_{k}") == F.col(f"b_{k}")
        cond = c if cond is None else cond & c
    joined = a.join(b, cond, "full_outer")
    in_old = F.col(f"a_{keys[0]}").isNotNull()
    in_new = F.col(f"b_{keys[0]}").isNotNull()
    changed = F.lit(False)
    for c in value_cols:
        changed = changed | ~F.col(f"a_{c}").eqNullSafe(F.col(f"b_{c}"))
    change_type = (
        F.when(~in_old, F.lit("insert"))
        .when(~in_new, F.lit("delete"))
        .otherwise(F.lit("update"))
    )
    return (
        joined.where(~in_old | ~in_new | changed)
        .select(
            *[
                F.coalesce(F.col(f"a_{k}"), F.col(f"b_{k}")).alias(k)
                for k in keys
            ],
            change_type.alias("change_type"),
            *[
                F.coalesce(F.col(f"b_{c}"), F.col(f"a_{c}")).alias(c)
                for c in value_cols
            ],
        )
    )


@query(
    "tbl_change_feed",
    oracle="""
    WITH v0 AS (
        SELECT n_nationkey, n_name, n_regionkey FROM nation
    ), v1 AS (
        SELECT n_nationkey, n_name,
               CASE WHEN n_nationkey % 7 = 1 THEN n_regionkey + 10
                    ELSE n_regionkey END AS n_regionkey
        FROM nation WHERE n_nationkey % 7 <> 3
        UNION ALL
        SELECT n_nationkey + 100, n_name, n_regionkey
        FROM nation WHERE n_nationkey < 3
    )
    SELECT COALESCE(a.n_nationkey, b.n_nationkey) AS n_nationkey,
           CASE WHEN a.n_nationkey IS NULL THEN 'insert'
                WHEN b.n_nationkey IS NULL THEN 'delete'
                ELSE 'update' END AS change_type,
           COALESCE(b.n_name, a.n_name) AS n_name,
           COALESCE(b.n_regionkey, a.n_regionkey) AS n_regionkey
    FROM v0 a FULL OUTER JOIN v1 b ON a.n_nationkey = b.n_nationkey
    WHERE a.n_nationkey IS NULL OR b.n_nationkey IS NULL
       OR a.n_name IS DISTINCT FROM b.n_name
       OR a.n_regionkey IS DISTINCT FROM b.n_regionkey
    """,
)
def tbl_change_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDF round-trip: nation as v0; v1 deletes keys ≡3 (mod 7), bumps the
    region of keys ≡1 (mod 7), and inserts three new keys; the feed between
    the two STORED versions must equal the diff computed straight from the
    source (storage is invisible to the change semantics)."""
    n = load(spark, sf_dir, "nation")
    t = VersionedTable(spark, scratch_dir("vtbl_cdf"))
    t.write(n, mode="overwrite")  # v0
    v1 = (
        n.where(F.col("n_nationkey") % 7 != 3)
        .withColumn(
            "n_regionkey",
            F.when(
                F.col("n_nationkey") % 7 == 1, F.col("n_regionkey") + 10
            ).otherwise(F.col("n_regionkey")),
        )
        .unionAll(
            n.where(F.col("n_nationkey") < 3).select(
                (F.col("n_nationkey") + 100).alias("n_nationkey"),
                "n_name",
                "n_regionkey",
            )
        )
    )
    t.write(v1, mode="overwrite")  # v1
    return change_feed(t.read(version=0), t.read(version=1), ["n_nationkey"])


@query(
    "tbl_clone_shallow",
    oracle="""
    SELECT n_nationkey, n_name, n_regionkey FROM nation
    WHERE n_nationkey % 3 <> 0
    """,
)
def tbl_clone_shallow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shallow clone: write nation v0, overwrite with a filtered v1, clone
    → the clone reads v1's content without copying a byte (its log
    references the source's files; tests assert the clone dir holds no
    data files). Then the SOURCE moves on to v2 — the clone must still
    read v1. This is the dev/test-against-prod-data workflow Delta CLONE
    exists for."""
    n = load(spark, sf_dir, "nation")
    src = VersionedTable(spark, scratch_dir("vtbl_clsrc"))
    src.write(n, mode="overwrite")  # v0
    src.write(n.where(F.col("n_nationkey") % 3 != 0), mode="overwrite")  # v1
    clone = src.clone_to(scratch_dir("vtbl_clone"))
    src.write(n.where(F.col("n_nationkey") < 2), mode="overwrite")  # v2
    return clone.read()


@query(
    "tbl_restore",
    oracle="SELECT n_nationkey, n_name, n_regionkey FROM nation",
)
def tbl_restore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RESTORE to a previous version: nation as v0, a destructive filtered
    overwrite as v1, RESTORE(0) as v2 — reading the table now returns the
    original rows, while the botched v1 stays in history (a restore is a
    new commit, not a rewrite). The one-command answer to a bad deploy."""
    n = load(spark, sf_dir, "nation")
    t = VersionedTable(spark, scratch_dir("vtbl_restore"))
    t.write(n, mode="overwrite")  # v0
    t.write(n.where(F.col("n_nationkey") % 2 == 0), mode="overwrite")  # v1 (bad)
    t.restore(0)  # v2
    return t.read()
