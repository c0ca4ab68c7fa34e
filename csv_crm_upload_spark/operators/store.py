"""Customer store: append sink, pending scan, keyed update (S4, S5, F1, P1, U1).

The reference's store is a Postgres table with UNIQUE constraints and an
index on the `uploaded` flag (reference init-db.sh:11-25); its whole query
surface is four SQL statements (reference database/database.go:16-19).

Spark-first realization: a versioned, HASH-BUCKETED parquet table. Each
mutation writes a NEW immutable version directory `vK/` and publishes it
with one MANIFEST commit — the snapshot/commit pattern of lakehouse table
formats reduced to its minimum. Within a version, rows live in `b=K`
subdirectories keyed by `pmod(xxhash64(email), n_buckets)`:

  * appends write only the buckets the batch touches; untouched buckets
    are hard-linked from the prior version (an ADD FILE commit, no copy);
  * the keyed UPDATE (U1, `mark_uploaded`) rewrites ONLY the buckets that
    contain a success email — at 100 TB an upload cycle's flag flip costs
    O(affected buckets), not O(table). This is the partition-pruned MERGE
    a Delta/Iceberg table would give you, hand-rolled on plain parquet;
  * the flip count is derived from the (small, broadcast) success set
    joined against the pruned bucket read — never a full-table count.

Uniqueness (D1) is enforced with optimistic concurrency: `append_unique`
stages its anti-joined batch against the snapshot it observed, then
re-verifies INSIDE the write lock — if another writer committed in
between, the anti-join re-runs against the fresh snapshot before the
MANIFEST commit, so two concurrent ingests can never both insert the same
id/email (the check-then-act race the reference avoids via Postgres
UNIQUE).

Commit protocol (operators/manifest.py, shared with the indexes and the
materialized views): the root holds `MANIFEST`, the version dirs and,
while a write runs, `_LOCK`. The MANIFEST — `epoch` (current version),
`n_buckets`, evolved columns, constraints and `last_txn` watermarks — is
the ONE commit point, replaced atomically (temp + fsync + rename). A
version commit links `v{epoch+1}/`, writes its `_COMMIT.json` history
record, then commits the MANIFEST at the new epoch (a merge's txn rides
the same commit), so a crash at any step leaves readers the old snapshot
or the new one, never a mix. Dirs above the epoch were never published:
versions()/history() ignore them and every writer deletes them under the
lock before it commits (self-heal). Metadata-only changes (column and
constraint DDL) commit the MANIFEST at the SAME epoch — no new version.
A store in the old `_LATEST` + `_META` layout is converted once on open.

Lakehouse surface mapping (what a Delta/Iceberg table would provide —
the packages are absent from this environment, so the store implements
the minimum of each on plain parquet + hard links):
  MERGE INTO            → merge()            (bucket-pruned upsert)
  UPDATE ... WHERE      → mark_uploaded()    (pruned keyed rewrite)
  DELETE ... WHERE      → delete()           (pruned predicate delete)
  VERSION AS OF         → read_version()
  TIMESTAMP AS OF       → read_as_of()       (commit-ledger resolution)
  RESTORE               → restore()
  CHANGE DATA FEED      → changes()          (inode-pruned diff)
  VACUUM                → vacuum()
  OPTIMIZE / compaction → compact()
  SHALLOW CLONE         → clone()            (hard-link zero-copy table)
  ALTER TABLE ADD COLUMN→ add_column()       (metadata-only evolution)
  RENAME / DROP COLUMN  → rename_column() / drop_column()  (column mapping)
  ADD CONSTRAINT CHECK  → add_constraint()   (staged writes gated)
  GDPR erase (RTBF)     → forget()           (history-rewriting erasure)

Schema evolution semantics (add_column): adding a column is an O(1)
metadata commit — NO data rewrite, matching Delta/Iceberg. Files written
before the column existed simply lack it; reads merge schemas and fill
the gap with the column's default. A column added WITH a default behaves
like SQL `ADD COLUMN ... NOT NULL DEFAULT x` (reads coalesce NULL → x,
so NULL is not representable in it); a column added without one is
nullable and old rows read as NULL.
Known limit vs a real table format: the advisory pid-liveness write lock
is single-host; cross-host multi-writer needs a real format's atomic
log commit (documented, not simulated).
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from csv_crm_upload_spark.operators.manifest import (
    commit_manifest,
    read_manifest,
    remove_epoch_dirs,
    txn_already_applied,
    with_txn,
)
from csv_crm_upload_spark.operators.mutate import mark_uploaded
from csv_crm_upload_spark.schemas import CUSTOMER_SCHEMA

PENDING_COLUMNS = ["id", "first_name", "last_name", "email", "phone"]
DEFAULT_BUCKETS = 16
_LEGACY_FILES = ("_LATEST", "_META")  # the commit files of the old layout


class ConstraintViolation(Exception):
    """A staged write (or an ADD CONSTRAINT over existing data) broke a
    CHECK constraint; `.violations` maps constraint name → row count."""

    def __init__(self, violations: dict[str, int]):
        self.violations = violations
        super().__init__(f"CHECK constraint(s) violated: {violations}")
_LOCK_MAX_AGE_S = 300.0  # break locks older than this even if pid unreadable


def _bucket_col(n_buckets: int):
    """Bucket id for a row: pmod(xxhash64(email), n) — email is the
    reference's upload idempotency key, so success sets prune well."""
    return F.pmod(F.xxhash64(F.col("email")), F.lit(n_buckets)).cast("int")


class CustomerStore:
    """Versioned, hash-bucketed parquet-backed `customers` table."""

    def __init__(self, spark: SparkSession, root: str, n_buckets: int = DEFAULT_BUCKETS):
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)
        if not os.path.exists(os.path.join(root, "MANIFEST")):
            self._init_manifest(n_buckets)
        self.n_buckets = int(self._manifest()["n_buckets"])

    # -- version plumbing ---------------------------------------------------
    def _manifest(self) -> dict:
        return read_manifest(self.root)

    def _init_manifest(self, n_buckets: int) -> None:
        """Create the MANIFEST of a new store (epoch -1: no version yet),
        or convert a store in the old layout once: its `_LATEST` pointer
        becomes `epoch`, the `txn` watermarks of its `_META` become
        `last_txn`, every other `_META` field carries over, then both old
        files are removed. The bucket count is a table property: fixed at
        creation, read back on open so every writer buckets identically."""
        with self._write_lock():
            if os.path.exists(os.path.join(self.root, "MANIFEST")):
                return  # a concurrent opener initialized it first
            latest, meta = (os.path.join(self.root, n) for n in _LEGACY_FILES)
            m, epoch = {}, -1
            with contextlib.suppress(FileNotFoundError):
                with open(meta) as f:
                    m = json.load(f)
            with contextlib.suppress(FileNotFoundError):
                with open(latest) as f:
                    epoch = int(f.read().strip())
            txn = m.pop("txn", {})
            commit_manifest(
                self.root, {"n_buckets": n_buckets, **m, "epoch": epoch, "last_txn": txn}
            )
            for path in (latest, meta):
                with contextlib.suppress(FileNotFoundError):
                    os.remove(path)

    def _healed_manifest(self) -> dict:
        """The committed manifest, read by a writer INSIDE the write lock,
        after removing the version dirs above its epoch — what a writer
        that crashed before its MANIFEST commit left behind (never
        visible to readers)."""
        m = self._manifest()
        remove_epoch_dirs(self.root, "v", lambda k: k <= m["epoch"])
        return m

    # -- schema evolution ---------------------------------------------------
    def _extras(self) -> list[dict]:
        """Evolved columns [{name, type, default}], oldest first. Read
        from the MANIFEST on every call so concurrent processes observe
        an add_column as soon as it commits."""
        return list(self._manifest().get("extra_cols", []))

    def _table_cols(self, extras: list[dict] | None = None) -> list[str]:
        extras = self._extras() if extras is None else extras
        return [f.name for f in CUSTOMER_SCHEMA.fields] + [e["name"] for e in extras]

    def add_column(self, name: str, dtype: str, default=None) -> None:
        """ALTER TABLE ADD COLUMN — metadata-only schema evolution.
        O(1): no version commit, no data rewrite; every snapshot
        (including time travel) reads with the widened schema, old files
        fill with `default` (see module docstring for NULL semantics).
        `dtype` is a Spark DDL type string ("string", "int", "double",
        "timestamp", ...)."""
        # validate the type string (and default castability) up front so a
        # typo fails here, not in some later read
        probe = self.spark.createDataFrame([], f"`{name}` {dtype}")
        if default is not None:
            probe.select(F.lit(default).cast(dtype)).schema  # noqa: B018
        with self._write_lock():
            m = self._healed_manifest()
            extras = m.get("extra_cols", [])
            taken = {f.name for f in CUSTOMER_SCHEMA.fields} | {e["name"] for e in extras}
            if name in taken or name == "b":
                raise ValueError(f"column already exists: {name}")
            # physical-name hygiene: if this logical name ever existed as a
            # physical column (dropped, or freed by a rename), data for it
            # may survive in old files — a fresh physical name keeps that
            # data from resurrecting (Delta column-mapping semantics)
            used_phys = (
                set(m.get("retired_physicals", []))
                | {e.get("physical", e["name"]) for e in extras}
            )
            entry = {"name": name, "type": dtype, "default": default}
            if name in used_phys:
                n = int(m.get("phys_counter", 0)) + 1
                m["phys_counter"] = n
                entry["physical"] = f"{name}__p{n}"
            commit_manifest(self.root, {**m, "extra_cols": [*extras, entry]})

    def rename_column(self, old: str, new: str) -> None:
        """ALTER TABLE RENAME COLUMN — metadata-only, for evolved columns.
        The file (physical) name never changes; only the logical name in
        the MANIFEST does, so the rename is O(1) with zero data rewrite and
        old snapshots read back under the NEW name (Delta column-mapping
        `name` mode). Base schema columns are the reference's contract
        (email is the merge/bucket key) and stay fixed."""
        with self._write_lock():
            m = self._healed_manifest()
            extras = m.get("extra_cols", [])
            match = [e for e in extras if e["name"] == old]
            if not match:
                raise ValueError(f"not an evolved column (only those rename): {old}")
            taken = {f.name for f in CUSTOMER_SCHEMA.fields} | {e["name"] for e in extras}
            if new in taken or new == "b":
                raise ValueError(f"column already exists: {new}")
            e = match[0]
            e.setdefault("physical", e["name"])
            e["name"] = new
            commit_manifest(self.root, {**m, "extra_cols": extras})

    def drop_column(self, name: str) -> None:
        """ALTER TABLE DROP COLUMN — metadata-only, for evolved columns.
        O(1): the column vanishes from the logical schema instantly; file
        bytes are reclaimed lazily as rewrites (compact/merge/delete)
        regenerate the files without it. The physical name is retired so
        a later add_column of the same name cannot resurrect old data."""
        with self._write_lock():
            m = self._healed_manifest()
            extras = m.get("extra_cols", [])
            match = [e for e in extras if e["name"] == name]
            if not match:
                raise ValueError(f"not an evolved column (only those drop): {name}")
            retired = set(m.get("retired_physicals", []))
            retired.add(match[0].get("physical", match[0]["name"]))
            commit_manifest(
                self.root,
                {
                    **m,
                    "retired_physicals": sorted(retired),
                    "extra_cols": [e for e in extras if e["name"] != name],
                },
            )

    def _apply_extras(self, df: DataFrame, extras: list[dict]) -> DataFrame:
        """Widen a physical scan to the logical schema: evolved columns
        missing from every scanned file are added as default literals;
        present ones coalesce NULL → default (files older than the column
        return NULL for it under mergeSchema). Files store the PHYSICAL
        name (column mapping — see rename_column); the scan surfaces the
        current logical name."""
        for e in extras:
            phys = e.get("physical", e["name"])
            d = F.lit(e["default"]).cast(e["type"])
            # ONLY the physical name is read — every write path stores it,
            # and falling back to a same-named column from files of a
            # since-dropped column would resurrect dead data
            if phys not in df.columns:
                df = df.withColumn(e["name"], d)
                continue
            expr = F.coalesce(F.col(phys), d) if e["default"] is not None else F.col(phys)
            if phys != e["name"]:
                df = df.withColumn(e["name"], expr.cast(e["type"])).drop(phys)
            else:
                df = df.withColumn(e["name"], expr.cast(e["type"]))
        return df

    def _to_physical(self, df: DataFrame, extras: list[dict] | None = None) -> DataFrame:
        """Map logical column names back to their physical (file) names —
        the inverse of _apply_extras, applied immediately before any
        parquet write so files always store physical names."""
        extras = self._extras() if extras is None else extras
        for e in extras:
            phys = e.get("physical", e["name"])
            if phys != e["name"] and e["name"] in df.columns:
                df = df.withColumnRenamed(e["name"], phys)
        return df

    def _conform(self, batch: DataFrame, extras: list[dict] | None = None) -> DataFrame:
        """Project a writer's batch to the full table schema, defaulting
        evolved columns the batch does not carry."""
        extras = self._extras() if extras is None else extras
        out = []
        for f in CUSTOMER_SCHEMA.fields:
            out.append(F.col(f.name))
        for e in extras:
            if e["name"] in batch.columns:
                out.append(F.col(e["name"]).cast(e["type"]).alias(e["name"]))
            else:
                out.append(F.lit(e["default"]).cast(e["type"]).alias(e["name"]))
        return batch.select(*out)

    def _current_version(self) -> int:
        return self._manifest()["epoch"]

    def _version_dir(self, v: int) -> str:
        return os.path.join(self.root, f"v{v:08d}")

    def _commit(
        self,
        m: dict,
        v: int,
        op: str,
        metrics: dict | None = None,
        txn: tuple[str, int] | None = None,
    ) -> None:
        """Publish version `v`, whose files are in place, on top of
        manifest `m`. The history record rides inside the version dir
        (underscore-prefixed → invisible to Spark's partition discovery)
        and is written BEFORE the commit, so a version is never visible
        without it; it does not decide visibility — the MANIFEST commit
        at epoch `v`, with `txn`'s watermark folded in, does. MUST be
        called inside the write lock."""
        info = {
            "version": v,
            "operation": op,
            "timestamp": time.strftime("%Y-%m-%d %H:%M:%S", time.gmtime()),
            "metrics": metrics or {},
        }
        with open(os.path.join(self._version_dir(v), "_COMMIT.json"), "w") as f:
            json.dump(info, f)
        commit_manifest(self.root, with_txn({**m, "epoch": v}, txn))

    def history(self) -> list[dict]:
        """DESCRIBE HISTORY: one entry per still-on-disk committed
        snapshot, newest first — operation, UTC timestamp, and operation
        metrics (rows inserted/updated/deleted...). Versions vacuumed
        away are gone; versions committed by pre-history builds read as
        operation 'unknown'. Driver-side metadata (O(versions)), no Spark
        job."""
        out = []
        for v in sorted(self.versions(), reverse=True):
            path = os.path.join(self._version_dir(v), "_COMMIT.json")
            try:
                with open(path) as f:
                    out.append(json.load(f))
            except (FileNotFoundError, ValueError):
                out.append(
                    {"version": v, "operation": "unknown", "timestamp": None, "metrics": {}}
                )
        return out

    @contextlib.contextmanager
    def _write_lock(self, timeout_s: float = 60.0):
        """Advisory single-writer lock (O_EXCL lockfile) around mutations:
        two concurrent CLI invocations would otherwise race the MANIFEST
        commit. Readers never take the lock — they see the last committed
        snapshot (MVCC-style isolation).

        Stale-lock recovery: a writer that crashes between acquiring the
        lock and its finally block leaves _LOCK behind; waiters break the
        lock when its recorded pid is dead or the file exceeds a max age.
        (Tiny race window between the liveness check and the remove —
        acceptable for an advisory CLI lock; a table format's transaction
        log is the real answer.)"""
        lock = os.path.join(self.root, "_LOCK")
        deadline = time.monotonic() + timeout_s
        while True:
            try:
                fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
                break
            except FileExistsError:
                if self._lock_is_stale(lock):
                    with contextlib.suppress(FileNotFoundError):
                        os.remove(lock)
                    continue
                if time.monotonic() > deadline:
                    raise TimeoutError(
                        f"store write lock held: {lock} — if no writer is "
                        f"running, delete the file to recover"
                    )
                time.sleep(0.1)
        try:
            os.write(fd, str(os.getpid()).encode())
            os.close(fd)
            yield
        finally:
            with contextlib.suppress(FileNotFoundError):
                os.remove(lock)

    @staticmethod
    def _lock_is_stale(lock: str) -> bool:
        pid = 0
        try:
            with open(lock) as f:
                pid = int(f.read().strip() or "0")
        except (OSError, ValueError):
            pass
        if pid:
            try:
                os.kill(pid, 0)  # signal 0: existence probe only
                return False  # owner alive
            except ProcessLookupError:
                return True
            except PermissionError:  # pragma: no cover
                return False
        try:  # pid not yet written (or unreadable): fall back to age
            return (time.time() - os.path.getmtime(lock)) > _LOCK_MAX_AGE_S
        except OSError:
            return False  # vanished — the open() loop will retry

    # -- CHECK constraints --------------------------------------------------
    def _constraints(self) -> dict[str, str]:
        return dict(self._manifest().get("constraints", {}))

    def add_constraint(self, name: str, expr: str) -> None:
        """ALTER TABLE ADD CONSTRAINT name CHECK (expr) — Delta-style
        declarative row constraints. EXISTING data is validated first
        (one filter-count scan; the add fails if any row violates), then
        every staged write is gated (see _stage). SQL CHECK NULL
        semantics: a row where the expression is NULL passes. Constraints
        are ingest gates — the reference holds its equivalents (NOT NULL,
        UNIQUE) in Postgres DDL; flag-flip/delete rewrites of already-
        accepted rows are not re-validated."""
        F.expr(expr)  # syntax-check up front
        bad = self.read().filter(F.expr(expr) == False).count()  # noqa: E712
        if bad:
            raise ConstraintViolation({name: bad})
        with self._write_lock():
            m = self._healed_manifest()
            cons = m.get("constraints", {})
            if name in cons:
                raise ValueError(f"constraint already exists: {name}")
            commit_manifest(self.root, {**m, "constraints": {**cons, name: expr}})

    def drop_constraint(self, name: str) -> None:
        with self._write_lock():
            m = self._healed_manifest()
            cons = dict(m.get("constraints", {}))
            if name not in cons:
                raise KeyError(f"no such constraint: {name}")
            del cons[name]
            commit_manifest(self.root, {**m, "constraints": cons})

    # -- staging / commit helpers ------------------------------------------
    def _staging_path(self) -> str:
        return os.path.join(self.root, f"staging_{os.getpid()}_{uuid.uuid4().hex[:8]}")

    def _empty(self, extras: list[dict]) -> DataFrame:
        """A zero-row frame with the logical table schema."""
        return self._apply_extras(self.spark.createDataFrame([], CUSTOMER_SCHEMA), extras)

    def _bucket_of(self, email: str) -> int:
        """The email's bucket id, computed by the same pmod(xxhash64) the
        writer uses (one single-row job)."""
        return self.spark.range(1).select(
            F.pmod(F.xxhash64(F.lit(email)), F.lit(self.n_buckets)).cast("int").alias("b")
        ).first()["b"]

    def _stage(self, batch: DataFrame) -> str:
        """Write a batch to a staging dir, partitioned by bucket.
        Runs OUTSIDE the lock (the expensive part)."""
        staging = self._staging_path()
        (
            self._to_physical(self._conform(batch))
            .withColumn("b", _bucket_col(self.n_buckets))
            # cluster rows by bucket before the write: without this every
            # task writes a file into every bucket it touches (tasks ×
            # buckets small files — the classic streaming-sink killer)
            .repartition(self.n_buckets, "b")
            .write.mode("overwrite")
            .partitionBy("b")
            .parquet(staging)
        )
        cons = self._constraints()
        if cons and self._bucket_dirs(staging):
            # validate the STAGED files (already materialized — no
            # recompute of the batch plan), one agg job for all rules;
            # sum skips the NULLs of (expr == false) on NULL expr rows,
            # giving SQL CHECK null-passes semantics. _apply_extras maps
            # physical file names back to logical so rules reference the
            # names users know.
            staged = self._apply_extras(self.spark.read.parquet(staging), self._extras())
            row = staged.agg(
                *[
                    F.sum((F.expr(e) == False).cast("int")).alias(n)  # noqa: E712
                    for n, e in cons.items()
                ]
            ).first()
            bad = {n: int(v) for n, v in row.asDict().items() if v}
            if bad:
                shutil.rmtree(staging, ignore_errors=True)
                raise ConstraintViolation(bad)
        return staging

    @staticmethod
    def _bucket_dirs(version_dir: str) -> dict[str, str]:
        """{bucket dirname -> abs path} for one version (or staging) dir."""
        if not os.path.isdir(version_dir):
            return {}
        return {
            name: os.path.join(version_dir, name)
            for name in os.listdir(version_dir)
            if name.startswith("b=")
        }

    @staticmethod
    def _link_files(src_dir: str, dst_dir: str) -> None:
        """Hard-link every parquet file under its ORIGINAL name. Names stay
        collision-free across versions because each Spark write stamps its
        part files with a per-job UUID; renaming here (e.g. a version
        prefix) would grow filenames on every carried-over commit and hit
        NAME_MAX on long-running serve/watch usage."""
        os.makedirs(dst_dir, exist_ok=True)
        for name in os.listdir(src_dir):
            if name.endswith(".parquet"):
                os.link(os.path.join(src_dir, name), os.path.join(dst_dir, name))

    def _commit_merge(
        self,
        staging: str,
        replace_buckets: set[str] = frozenset(),
        op: str = "append",
        metrics: dict | None = None,
        txn: tuple[str, int] | None = None,
    ) -> int:
        """Create version v+1 = prev version ∪ staged buckets. MUST be
        called inside the write lock. Buckets named in `replace_buckets`
        take ONLY the staged files (U1 rewrite); all other prior buckets
        are hard-linked (no data copy). Returns the new version."""
        m = self._healed_manifest()
        v = m["epoch"]
        new_v = v + 1
        new_dir = self._version_dir(new_v)
        os.makedirs(new_dir)
        prev = self._bucket_dirs(self._version_dir(v)) if v >= 0 else {}
        staged = self._bucket_dirs(staging)
        for bname, bpath in prev.items():
            if bname not in replace_buckets:
                self._link_files(bpath, os.path.join(new_dir, bname))
        for bname, bpath in staged.items():
            self._link_files(bpath, os.path.join(new_dir, bname))
        self._commit(m, new_v, op, metrics, txn)
        return new_v

    def _commit_rewrite(
        self, df: DataFrame, replace_buckets: set[str], op: str, metrics: dict
    ) -> int:
        """Stage `df` (which carries the bucket column `b`) and commit it
        with _commit_merge. MUST be called inside the write lock."""
        staging = self._staging_path()
        try:
            self._to_physical(df).write.mode("overwrite").partitionBy("b").parquet(staging)
            return self._commit_merge(staging, replace_buckets, op, metrics)
        finally:
            shutil.rmtree(staging, ignore_errors=True)

    # -- operators ----------------------------------------------------------
    def read(self) -> DataFrame:
        """S4: full table scan of the current snapshot. The bucket id is a
        physical detail — dropped from the logical schema."""
        return self.read_version(self._current_version())

    def read_version(self, version: int) -> DataFrame:
        """Time travel: scan snapshot `version` (every committed version
        is immutable and remains readable until vacuumed) — the
        `VERSION AS OF` surface of a lakehouse table format."""
        m = self._manifest()
        extras = m.get("extra_cols", [])
        if version < 0:
            return self._empty(extras)
        vdir = self._version_dir(version)
        if version > m["epoch"] or not os.path.isdir(vdir):
            raise FileNotFoundError(f"version {version} not found (vacuumed?): {vdir}")
        if not self._bucket_dirs(vdir):
            # a legal empty snapshot (e.g. delete() removed every row)
            return self._empty(extras)
        reader = self.spark.read
        if extras:
            # snapshots can mix files written before/after an add_column —
            # merge their footers into the widened schema
            reader = reader.option("mergeSchema", "true")
        return self._apply_extras(reader.parquet(vdir), extras).select(
            *self._table_cols(extras)
        )

    def read_as_of(self, ts: str) -> DataFrame:
        """TIMESTAMP AS OF: scan the newest still-on-disk snapshot whose
        commit timestamp is at or before `ts` (UTC 'YYYY-MM-DD HH:MM:SS',
        the format history() records). Pure metadata resolution — one
        walk of the commit ledger, then a normal read_version scan."""
        for h in self.history():  # newest first
            t = h.get("timestamp")
            if t is not None and t <= ts:
                return self.read_version(h["version"])
        raise FileNotFoundError(
            f"no snapshot committed at or before {ts} (earliest retained: "
            f"{self.versions()[:1] or None})"
        )

    def versions(self) -> list[int]:
        """Committed snapshot versions still on disk, oldest first. A
        version dir above the MANIFEST epoch was never committed."""
        epoch = self._current_version()
        return sorted(
            int(name[1:])
            for name in os.listdir(self.root)
            if name.startswith("v") and name[1:].isdigit() and int(name[1:]) <= epoch
        )

    def changes(self, v_from: int, v_to: int | None = None) -> DataFrame:
        """CDC change feed between two snapshots (the CHANGES/table_changes
        surface of a lakehouse format): rows tagged `_change_type` in
        {insert, update_preimage, update_postimage, delete}.

        Scale shape: versions share unchanged buckets through hard links,
        so the diff first prunes to buckets whose FILE SETS differ (inode
        comparison — free, no I/O), then row-diffs only those buckets with
        exceptAll. An upload cycle's change feed costs O(affected
        buckets), never O(table)."""
        if v_to is None:
            v_to = self._current_version()
        # a vacuumed endpoint must fail loudly, not read as an empty
        # snapshot — silently treating missing v_from as {} would emit a
        # plausible-but-wrong all-insert change feed
        for v in (v_from, v_to):
            if v >= 0 and not os.path.isdir(self._version_dir(v)):
                raise FileNotFoundError(
                    f"version {v} not found (vacuumed?): {self._version_dir(v)}"
                )
        extras = self._extras()
        cols = self._table_cols(extras)

        def _inodes(vdir: str) -> dict[str, frozenset]:
            return {
                b: frozenset(
                    os.stat(os.path.join(p, f)).st_ino
                    for f in os.listdir(p)
                    if f.endswith(".parquet")
                )
                for b, p in self._bucket_dirs(vdir).items()
            }

        old_map = _inodes(self._version_dir(v_from)) if v_from >= 0 else {}
        new_map = _inodes(self._version_dir(v_to)) if v_to >= 0 else {}
        changed = sorted(
            b
            for b in set(old_map) | set(new_map)
            if old_map.get(b) != new_map.get(b)
        )

        def _bucket_rows(vdir: str, present: dict) -> DataFrame:
            sel = [b for b in changed if b in present]
            if not sel:
                return self._empty(extras)
            return self._read_buckets(vdir, sel).select(*cols)

        old = _bucket_rows(self._version_dir(v_from), old_map)
        new = _bucket_rows(self._version_dir(v_to), new_map)
        removed = old.exceptAll(new)
        added = new.exceptAll(old)
        rem_keys = removed.select("email").distinct()
        add_keys = added.select("email").distinct()
        tag = lambda df, t: df.withColumn("_change_type", F.lit(t))  # noqa: E731
        return (
            tag(added.join(rem_keys, "email", "left_anti"), "insert")
            .unionByName(tag(added.join(rem_keys, "email", "left_semi"), "update_postimage"))
            .unionByName(tag(removed.join(add_keys, "email", "left_semi"), "update_preimage"))
            .unionByName(tag(removed.join(add_keys, "email", "left_anti"), "delete"))
            .select("email", "_change_type", *[c for c in cols if c != "email"])
        )

    def compact(self, zorder_by: list[str] | None = None) -> int:
        """Bin-pack every bucket to one file in a NEW snapshot (readers of
        older versions are untouched — compaction is just another commit).
        Each append links the prior version's files and adds its own, so
        a long append chain accumulates files per bucket; compaction
        resets that to one file per bucket. Returns the new version.

        `zorder_by` additionally clusters rows WITHIN each bucket by the
        interleaved-bit z-value of the given columns (OPTIMIZE ... ZORDER
        BY): parquet row-group min/max envelopes on those columns become
        tight, so point/range scans inside a bucket skip row groups —
        the intra-bucket analog of the zone-map file skipping in
        operators/layout.py."""
        with self._write_lock():
            v = self._current_version()
            if v < 0:
                return -1
            table = self.read()
            sort_cols = ["b"]
            if zorder_by:
                from csv_crm_upload_spark.operators.layout import _zvalue

                table = table.withColumn("_z", _zvalue(table, zorder_by))
                sort_cols = ["b", "_z"]
            return self._commit_rewrite(
                table.withColumn("b", _bucket_col(self.n_buckets))
                .repartition(self.n_buckets, "b")
                .sortWithinPartitions(*sort_cols)
                .drop("_z"),
                set(self._bucket_dirs(self._version_dir(v))),
                "compact",
                {"zorder_by": list(zorder_by or [])},
            )

    def restore(self, version: int) -> int:
        """RESTORE TO VERSION AS OF: re-commit an old snapshot as a NEW
        version (the lakehouse rollback surface). History is preserved —
        restore is just another commit that hard-links the old version's
        files, so it is O(files) metadata work with zero data copy, and
        readers of intermediate versions are untouched."""
        with self._write_lock():
            m = self._healed_manifest()
            vdir = self._version_dir(version)
            if version < 0 or not os.path.isdir(vdir):
                raise FileNotFoundError(f"version {version} not found (vacuumed?): {vdir}")
            new_v = m["epoch"] + 1
            new_dir = self._version_dir(new_v)
            os.makedirs(new_dir)
            for bname, bpath in self._bucket_dirs(vdir).items():
                self._link_files(bpath, os.path.join(new_dir, bname))
            self._commit(m, new_v, "restore", {"restored_version": version})
        return new_v

    def lookup(self, email: str) -> DataFrame:
        """Bucket-pruned point lookup: compute the email's bucket id
        driver-side (same pmod(xxhash64) as the writer) and read ONLY
        that bucket's directory — a 1/n_buckets slice of the table
        regardless of table size, the hash-index point read the
        reference gets from its Postgres UNIQUE index. The residual
        email filter then pushes into that one parquet scan."""
        b = self._bucket_of(email)
        v = self._current_version()
        if v < 0:
            raise FileNotFoundError("store has no committed version yet")
        vdir = self._version_dir(v)
        if f"b={b}" not in self._bucket_dirs(vdir):
            # the email's bucket holds no rows at all → provably absent,
            # answered from metadata without any scan
            return self._empty(self._extras())
        return self._read_buckets(vdir, [f"b={b}"]).filter(F.col("email") == email)

    def maybe_compact(
        self, max_files_per_bucket: int = 8, zorder_by: list[str] | None = None
    ) -> int | None:
        """Auto-compaction policy: compact only when some bucket has
        accumulated more than `max_files_per_bucket` files. The check is
        pure metadata (os.listdir per bucket, no Spark job), so a
        maintenance loop can call this every tick for free; returns the
        new version when compaction ran, else None."""
        v = self._current_version()
        if v < 0:
            return None
        for _b, path in self._bucket_dirs(self._version_dir(v)).items():
            n = sum(1 for f in os.listdir(path) if f.endswith(".parquet"))
            if n > max_files_per_bucket:
                return self.compact(zorder_by=zorder_by)
        return None

    def clone(self, dest_root: str) -> "CustomerStore":
        """SHALLOW CLONE (the `CREATE TABLE ... SHALLOW CLONE` lakehouse
        surface): a new, independent store whose v0 hard-links every data
        file of this store's CURRENT snapshot — O(buckets) metadata work,
        zero bytes copied. Both tables then evolve independently: every
        commit on either side writes new files and re-links untouched
        ones, so the clone is copy-on-write by construction and no write
        can ever leak through to the other table. Table metadata (bucket
        count, evolved columns, constraints, txn watermarks) carries over;
        history does NOT (the clone starts at its own v0), matching
        shallow-clone semantics. Requires the destination on the same
        filesystem (hard links)."""
        m = self._manifest()
        src_v = m["epoch"]
        if src_v < 0:
            raise FileNotFoundError("nothing to clone: store has no committed version")
        if any(os.path.exists(os.path.join(dest_root, n)) for n in ("MANIFEST", *_LEGACY_FILES)):
            raise FileExistsError(f"clone destination is already a store: {dest_root}")
        dest = CustomerStore(self.spark, dest_root, n_buckets=self.n_buckets)
        with dest._write_lock():
            new_dir = dest._version_dir(0)
            os.makedirs(new_dir)
            for bname, bpath in self._bucket_dirs(self._version_dir(src_v)).items():
                self._link_files(bpath, os.path.join(new_dir, bname))
            dest._commit(m, 0, "clone", {"source_root": self.root, "source_version": src_v})
        return dest

    def vacuum(self, keep_last: int = 1) -> list[int]:
        """Drop all but the newest `keep_last` snapshots. Safe by
        construction: versions share data through hard links, so deleting
        an old version dir only releases blocks no newer version still
        links. Returns the versions removed."""
        keep_last = max(1, keep_last)
        with self._write_lock():
            current = self._healed_manifest()["epoch"]
            removed = [v for v in self.versions() if v <= current - keep_last]
            for v in removed:
                shutil.rmtree(self._version_dir(v), ignore_errors=True)
        return removed

    def _read_buckets(self, version_dir: str, buckets: list[str]) -> DataFrame:
        """Pruned scan of selected buckets (partition pruning by path),
        widened to the evolved schema like any other read."""
        extras = self._extras()
        paths = [os.path.join(version_dir, b) for b in buckets]
        reader = self.spark.read.option("basePath", version_dir)
        if extras:
            reader = reader.option("mergeSchema", "true")
        return self._apply_extras(reader.parquet(*paths), extras)

    def append(self, batch: DataFrame) -> None:
        """S5: append a finalized batch as a new snapshot. No uniqueness
        check — callers that need D1 use append_unique."""
        staging = self._stage(batch)
        try:
            with self._write_lock():
                self._commit_merge(staging)
        finally:
            shutil.rmtree(staging, ignore_errors=True)

    def append_unique(self, batch: DataFrame, keys: tuple[str, ...] = ("id", "email")) -> int:
        """D1-correct append: stage the anti-joined batch optimistically
        against the observed snapshot, then RE-VERIFY inside the write
        lock — if another writer committed first, re-run the anti-join
        against the fresh snapshot before the commit. Only the
        conflict path pays the recheck. Returns rows inserted."""
        from csv_crm_upload_spark.operators.dedup import anti_join_existing

        cols = self._table_cols()
        v_seen = self._current_version()
        insertable = anti_join_existing(self._conform(batch), self.read(), keys)
        staging = self._stage(insertable)
        try:
            with self._write_lock():
                v_now = self._current_version()
                if v_now != v_seen and v_now >= 0 and self._bucket_dirs(staging):
                    # conflict: someone committed since we checked — redo
                    # the anti-join against the fresh snapshot. (An empty
                    # staging dir — every batch row already lost the dup
                    # race — has no parquet files to re-read; it falls
                    # straight through to the inserted == 0 path.)
                    staged_df = self.spark.read.parquet(staging).select(*cols)
                    rechecked = anti_join_existing(staged_df, self.read(), keys)
                    restaged = self._stage(rechecked)
                    shutil.rmtree(staging, ignore_errors=True)
                    staging = restaged
                inserted = self.spark.read.parquet(staging).count() if self._bucket_dirs(staging) else 0
                if inserted > 0:
                    self._commit_merge(
                        staging, op="append_unique", metrics={"rows_inserted": inserted}
                    )
        finally:
            shutil.rmtree(staging, ignore_errors=True)
        return inserted

    def last_txn(self, app_id: str) -> int:
        """Highest transaction version recorded for an idempotent writer
        (Delta's txnAppId/txnVersion surface); -1 if never seen."""
        return int(self._manifest().get("last_txn", {}).get(app_id, -1))

    def merge(self, source: DataFrame, now=None, txn: tuple[str, int] | None = None) -> dict[str, int]:
        """MERGE INTO — the Delta/Iceberg upsert surface on the versioned
        store, keyed on email (the reference's idempotency key):
        WHEN MATCHED → update first_name/last_name/phone, refresh
        modified_ts (uploaded flag and created_ts are preserved);
        WHEN NOT MATCHED → insert with U3 defaults.

        Bucket-pruned like mark_uploaded: email determines the bucket, so
        a source email exists in the table IFF it exists in the
        affected-bucket read — only those buckets are read and rewritten;
        every other bucket hard-links into the new version. The one
        unavoidable wider touch is the id-uniqueness guard for inserts (a
        column-pruned scan of ids — the UNIQUE(id) contract spans
        buckets); id-conflicting inserts are SKIPPED, mirroring
        append_unique's declarative-loser philosophy where Delta would
        abort. Runs entirely inside the write lock (read+stage+commit =
        one consistent snapshot transition).

        Returns {"updated": n, "inserted": n, "skipped": n}.

        `txn=(app_id, version)` makes the merge an IDEMPOTENT WRITER
        transaction (Delta's txnAppId/txnVersion): if `version` ≤ the
        last recorded version for `app_id`, the merge is a no-op
        ({"applied": False}) — the foreachBatch replay-after-restart
        guard. The marker rides the SAME MANIFEST commit as the merged
        version (a merge that changes no row commits the marker alone, at
        the same epoch), so a crash commits both or neither: a replay
        either no-ops or applies the batch for the first time — exactly
        once.
        """
        from csv_crm_upload_spark.operators.dedup import dedupe_batch
        from csv_crm_upload_spark.operators.mutate import finalize_columns

        extras = self._extras()
        cols = self._table_cols(extras)
        ts = F.lit(now).cast("timestamp") if now is not None else F.current_timestamp()
        src = dedupe_batch(source.select(*PENDING_COLUMNS))
        upd = F.broadcast(
            src.select(
                F.col("email").alias("_m_email"),
                F.col("first_name").alias("_m_first"),
                F.col("last_name").alias("_m_last"),
                F.col("phone").alias("_m_phone"),
            )
        )
        with self._write_lock():
            m = self._healed_manifest()
            if txn_already_applied(m, txn):
                return {"updated": 0, "inserted": 0, "skipped": 0, "applied": False}
            v = m["epoch"]
            vdir = self._version_dir(v)
            if v >= 0:
                hit_buckets = {
                    f"b={r['b']}"
                    for r in src.select(_bucket_col(self.n_buckets).alias("b")).distinct().collect()
                }
                affected = sorted(hit_buckets & set(self._bucket_dirs(vdir)))
            else:
                affected = []
            if affected:
                sub = self._read_buckets(vdir, affected)
                matched = F.col("_m_email").isNotNull()
                rewritten = (
                    sub.join(upd, sub["email"] == F.col("_m_email"), "left")
                    .withColumn("first_name", F.when(matched, F.col("_m_first")).otherwise(F.col("first_name")))
                    .withColumn("last_name", F.when(matched, F.col("_m_last")).otherwise(F.col("last_name")))
                    .withColumn("phone", F.when(matched, F.col("_m_phone")).otherwise(F.col("phone")))
                    .withColumn("modified_ts", F.when(matched, ts).otherwise(F.col("modified_ts")))
                    .select(*cols)
                )
                n_updated = sub.join(F.broadcast(src.select("email")), "email", "left_semi").count()
                insert_cand = src.join(sub.select("email"), "email", "left_anti")
            else:
                rewritten = None
                n_updated = 0
                insert_cand = src
            existing_ids = (
                self.read_version(v).select("id") if v >= 0 else None
            )
            inserts = (
                insert_cand.join(existing_ids, "id", "left_anti")
                if existing_ids is not None
                else insert_cand
            )
            n_inserted = inserts.count()
            n_skipped = insert_cand.count() - n_inserted
            if n_updated == 0 and n_inserted == 0:
                if txn is not None:
                    commit_manifest(self.root, with_txn(m, txn))
                return {"updated": 0, "inserted": 0, "skipped": n_skipped}
            staged_df = self._conform(finalize_columns(inserts, now=now), extras)
            if rewritten is not None:
                staged_df = rewritten.unionByName(staged_df)
            staging = self._stage(staged_df)
            try:
                self._commit_merge(
                    staging,
                    replace_buckets=set(affected),
                    op="merge",
                    metrics={
                        "rows_updated": n_updated,
                        "rows_inserted": n_inserted,
                        "rows_skipped": n_skipped,
                    },
                    txn=txn,
                )
            finally:
                shutil.rmtree(staging, ignore_errors=True)
        return {"updated": n_updated, "inserted": n_inserted, "skipped": n_skipped}

    def delete(self, condition) -> int:
        """DELETE FROM customers WHERE <condition> — the remaining
        lakehouse mutation verb. `condition` is a SQL predicate string or
        a Column; rows where it evaluates TRUE are removed (false and
        NULL rows are kept — SQL DELETE semantics).

        Bucket-pruned like every other mutation: one predicate-pushed
        scan finds which buckets contain matches (≤ n_buckets rows
        collected), only those buckets are rewritten without the matching
        rows, the rest hard-link into the new version. A bucket whose
        rows all match simply disappears from the new snapshot. The CDC
        feed (changes()) reports the removed rows as `delete`.
        Returns the number of rows deleted."""
        cond = F.expr(condition) if isinstance(condition, str) else condition
        is_hit = F.coalesce(cond, F.lit(False))
        with self._write_lock():
            v = self._current_version()
            if v < 0:
                return 0
            vdir = self._version_dir(v)
            all_buckets = sorted(self._bucket_dirs(vdir))
            if not all_buckets:
                return 0
            full = self._read_buckets(vdir, all_buckets)  # carries b
            hit_buckets = {
                f"b={r['b']}"
                for r in full.filter(is_hit).select("b").distinct().collect()
            }
            affected = sorted(hit_buckets)
            if not affected:
                return 0
            sub = self._read_buckets(vdir, affected)
            n_deleted = sub.filter(is_hit).count()
            self._commit_rewrite(
                sub.filter(~is_hit), set(affected), "delete", {"rows_deleted": n_deleted}
            )
        return n_deleted

    def forget(self, email: str) -> int:
        """GDPR erasure (right to be forgotten): physically remove every
        row for `email` from EVERY retained snapshot. delete() is not
        enough for compliance — it writes a new version while time travel
        keeps serving the old rows until vacuum; forget() REWRITES
        HISTORY in place, by design, under the write lock.

        Cost is bucket-pruned twice over: only the email's hash bucket is
        touched in each version, and because versions share bucket files
        through hard links, each distinct file (inode) is examined and
        rewritten ONCE — the rewritten file is re-linked into every
        version that referenced the original, preserving the sharing.
        Files that do not contain the email are left untouched (their
        inodes and zone maps survive). Per-file filtering runs
        driver-side via pyarrow — bounded by one bucket's files, 1/n_buckets
        of the table regardless of scale; a cluster deployment would
        distribute the per-file rewrite as a Spark job over file paths.

        Returns the number of rows erased from the CURRENT snapshot."""
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        b = f"b={self._bucket_of(email)}"
        erased_current = 0
        with self._write_lock():
            current = self._current_version()
            # inode → list of (version_dir_path, filename) hard links
            sites: dict[int, list[tuple[str, str]]] = {}
            for v in self.versions():
                bdir = os.path.join(self._version_dir(v), b)
                if not os.path.isdir(bdir):
                    continue
                for name in os.listdir(bdir):
                    if name.endswith(".parquet"):
                        ino = os.stat(os.path.join(bdir, name)).st_ino
                        sites.setdefault(ino, []).append((bdir, name))
            for ino, links in sites.items():
                src = os.path.join(*links[0])
                table = pq.read_table(src)
                mask = pc.equal(table.column("email"), email)
                n_hits = pc.sum(mask).as_py() or 0
                if n_hits == 0:
                    continue
                if any(bdir == os.path.join(self._version_dir(current), b) for bdir, _ in links):
                    erased_current += n_hits
                kept = table.filter(pc.invert(mask))
                if kept.num_rows:
                    tmp = src + ".forget.tmp"
                    pq.write_table(kept, tmp)
                    # splice the new inode into every version that linked
                    # the old one, keeping filenames (and thus sharing)
                    first, rest = links[0], links[1:]
                    os.replace(tmp, src)
                    for bdir, name in rest:
                        dst = os.path.join(bdir, name)
                        dtmp = dst + ".forget.tmp"
                        os.link(src, dtmp)
                        os.replace(dtmp, dst)
                else:
                    for bdir, name in links:
                        os.remove(os.path.join(bdir, name))
            # a bucket left with zero files must disappear entirely — an
            # empty directory would break the parquet scan's schema
            # inference (and a legal empty snapshot is "no bucket dirs")
            for v in self.versions():
                bdir = os.path.join(self._version_dir(v), b)
                if os.path.isdir(bdir) and not any(
                    n.endswith(".parquet") for n in os.listdir(bdir)
                ):
                    shutil.rmtree(bdir, ignore_errors=True)
        return int(erased_current)

    def analyze(self) -> DataFrame:
        """ANALYZE TABLE COMPUTE STATISTICS FOR ALL COLUMNS: one pass over
        the current snapshot producing per-column row count, null count,
        approx distinct count (HLL), and min/max (rendered as strings so
        heterogeneous column types share one result schema) — the
        statistics a cost-based optimizer (or a human sizing a join)
        wants. Single scan, all aggregates combine map-side; cost is one
        job regardless of column count."""
        df = self.read()
        cols = df.columns
        aggs: list = [F.count(F.lit(1)).cast("long").alias("_n")]
        for c in cols:
            aggs += [
                F.sum(F.col(c).isNull().cast("long")).cast("long").alias(f"{c}__nulls"),
                F.approx_count_distinct(c).cast("long").alias(f"{c}__ndv"),
                F.min(F.col(c).cast("string")).alias(f"{c}__min"),
                F.max(F.col(c).cast("string")).alias(f"{c}__max"),
            ]
        row = df.agg(*aggs).collect()[0]
        out = [
            (c, row["_n"], row[f"{c}__nulls"], row[f"{c}__ndv"], row[f"{c}__min"], row[f"{c}__max"])
            for c in cols
        ]
        return self.spark.createDataFrame(
            out, ["column", "n_rows", "n_nulls", "approx_ndv", "min_value", "max_value"]
        )

    def pending(self) -> DataFrame:
        """F1+P1: `SELECT id, first_name, last_name, email, phone FROM
        customers WHERE uploaded = false` (reference database/database.go:18).
        Predicate + projection push down to the parquet scan."""
        return self.read().filter(~F.col("uploaded")).select(*PENDING_COLUMNS)

    def mark_uploaded(self, succeeded_emails: DataFrame, now=None) -> int:
        """U1+U2: flip the flag for confirmed uploads; new snapshot.

        Partition-pruned: the success set (small — one upload cycle) maps
        to its bucket ids; ONLY those buckets are read, recomputed via the
        broadcast semi-join, and rewritten — every other bucket is
        hard-linked into the new version untouched. The flip count comes
        from the pruned read ∩ success set, not full-table counts.
        Returns the number of rows flipped.
        """
        emails = succeeded_emails.select("email").distinct()
        with self._write_lock():
            v = self._current_version()
            if v < 0:
                return 0
            vdir = self._version_dir(v)
            hit_buckets = {
                f"b={r['b']}"
                for r in emails.select(_bucket_col(self.n_buckets).alias("b")).distinct().collect()
            }
            affected = sorted(hit_buckets & set(self._bucket_dirs(vdir)))
            if not affected:
                return 0
            sub = self._read_buckets(vdir, affected)  # has partition col b
            flipped = (
                sub.filter(~F.col("uploaded"))
                .join(F.broadcast(emails), "email", "left_semi")
                .count()
            )
            if flipped == 0:
                return 0
            self._commit_rewrite(
                mark_uploaded(sub, emails, now=now),  # b passes through
                set(affected),
                "update",
                {"rows_updated": flipped},
            )
        return flipped
