"""Single-file manifest commit protocol shared by every persisted layout:
the customer store (operators/store.py), its materialized views
(operators/matview.py) and the index family (BM25 inverted index, LSH
near-dup pair index, ...).

The manifest is the ONLY commit point of an epoch-versioned index: all
epoch-K+1 files land first, then one atomic os.replace publishes K+1.
A reader resolves its epoch from the manifest once and reads one fully
written snapshot — old or new, never a mix; a crash leaves the manifest
at K and only orphan K+1 dirs, which the next writer removes. On a real
cluster this pointer is a metastore entry / table-format commit log;
the fsync'd single-file swap is the local-filesystem equivalent.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid


def read_manifest(path: str) -> dict:
    with open(os.path.join(path, "MANIFEST")) as f:
        return json.load(f)


def write_json_atomic(dest: str, payload: dict) -> None:
    """Replace the JSON file `dest` with `payload` atomically: temp file +
    fsync + os.replace (atomic on POSIX), so a reader sees the old
    document or the new one and a crash never leaves a torn file."""
    tmp = f"{dest}.tmp.{uuid.uuid4().hex}"
    with open(tmp, "w") as f:
        json.dump(payload, f)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, dest)


def commit_manifest(path: str, payload: dict) -> None:
    """Atomically publish `payload` (must contain "epoch") as the
    current manifest."""
    write_json_atomic(os.path.join(path, "MANIFEST"), payload)


def txn_already_applied(manifest: dict, txn: tuple[str, int] | None) -> bool:
    """True when (app_id, batch_id) is at or below the manifest's last
    recorded transaction for that app — the replay guard that makes a
    checkpointed foreachBatch fold EXACTLY-ONCE in effect: the batch id
    rides the SAME atomic manifest commit as the epoch it folded, so a
    crash either committed both (replay no-ops) or neither (replay
    redoes cleanly). The txnAppId pattern of lakehouse streaming writers
    (cf. operators/store.py merge)."""
    if txn is None:
        return False
    app, batch_id = txn
    return manifest.get("last_txn", {}).get(app, -1) >= batch_id


def with_txn(payload: dict, txn: tuple[str, int] | None) -> dict:
    """Fold (app_id, batch_id) into a manifest payload about to commit."""
    if txn is None:
        return payload
    app, batch_id = txn
    last = dict(payload.get("last_txn", {}))
    last[app] = batch_id
    return {**payload, "last_txn": last}


def rebuild_epoch(path: str) -> tuple[int, dict]:
    """(next epoch, prior manifest) for a save_* REBUILD over a possibly
    live index: a fresh path starts at epoch 0 with an empty prior; a
    live one advances past the committed epoch. The prior manifest is
    returned so the rebuild's commit can PRESERVE cross-rebuild state —
    above all `last_txn`, whose loss would void the streaming replay
    guard for batches folded before the rebuild."""
    try:
        m = read_manifest(path)
        return m["epoch"] + 1, m
    except FileNotFoundError:
        return 0, {}


def compact_epochs(
    spark,
    path: str,
    union_dirs: dict[str, list[str]],
    snapshot_dirs: dict[str, list[str]] | None = None,
) -> bool:
    """The shared OPTIMIZE protocol all five persisted indexes use: fold
    every epoch in [base_epoch, epoch] of each `union_dirs` entry
    (subdir → partition columns to preserve) into ONE new epoch, copy
    the latest snapshot of each `snapshot_dirs` entry (tables that are
    already full per-epoch snapshots, e.g. BM25 dfreq/stats), then
    advance epoch AND base_epoch in one atomic manifest commit that
    preserves every other manifest field (params, last_txn). Returns
    False (no write) when the index is already compact.

    One implementation on purpose: protocol changes (epoch GC, txn
    semantics) land here once instead of five drifting copies."""
    from pyspark.sql import functions as F  # local: keep module os-only otherwise

    snapshot_dirs = snapshot_dirs or {}
    m = read_manifest(path)
    epoch, base = m["epoch"], m.get("base_epoch", 0)
    remove_orphan_epochs(path, [*union_dirs, *snapshot_dirs], epoch)
    if base == epoch:
        return False
    nxt = epoch + 1
    for sub, partition_cols in union_dirs.items():
        df = (
            spark.read.option("basePath", f"{path}/{sub}")
            .parquet(f"{path}/{sub}")
            .filter((F.col("epoch") >= base) & (F.col("epoch") <= epoch))
            .drop("epoch")
        )
        if partition_cols:
            # cluster on the physical partition cols so the compacted
            # epoch is one file per partition value, not one sliver per
            # (value, task) — the guide §6 small-files fix
            df = df.repartition(*[F.col(c) for c in partition_cols])
        writer = df.write.mode("overwrite")
        if partition_cols:
            writer = writer.partitionBy(*partition_cols)
        writer.parquet(f"{path}/{sub}/epoch={nxt}")
    for sub, partition_cols in snapshot_dirs.items():
        snap = spark.read.parquet(f"{path}/{sub}/epoch={epoch}")
        if partition_cols:
            snap = snap.repartition(*[F.col(c) for c in partition_cols])
        writer = snap.write.mode("overwrite")
        if partition_cols:
            writer = writer.partitionBy(*partition_cols)
        writer.parquet(f"{path}/{sub}/epoch={nxt}")
    commit_manifest(path, {**m, "epoch": nxt, "base_epoch": nxt})
    return True


def gc_stale_epochs(
    path: str,
    ranged_subdirs: list[str],
    pinned_subdirs: dict[str, str] | None = None,
) -> list[str]:
    """Delete epoch dirs the CURRENT manifest can no longer reference:
    for `ranged_subdirs` anything outside [base_epoch, epoch] (stale
    pre-compaction/pre-rebuild chains plus uncommitted orphans); for
    `pinned_subdirs` (subdir → manifest key, e.g. centroids →
    centroid_epoch) anything except the pinned epoch. Returns the
    removed paths.

    Same contract as store.vacuum: callers assert no reader still holds
    an OLDER manifest snapshot (readers resolve the manifest once per
    probe, so the exposure window is one in-flight probe). Keep GC a
    deliberate maintenance step, not part of every commit."""
    m = read_manifest(path)
    base, epoch = m.get("base_epoch", 0), m["epoch"]
    removed: list[str] = []
    for sub in ranged_subdirs:
        removed += remove_epoch_dirs(
            os.path.join(path, sub), "epoch=", lambda k: base <= k <= epoch
        )
    for sub, key in (pinned_subdirs or {}).items():
        pinned = m[key]
        removed += remove_epoch_dirs(os.path.join(path, sub), "epoch=", lambda k: k == pinned)
    return removed


def remove_epoch_dirs(parent: str, prefix: str, keep) -> list[str]:
    """Delete every `<prefix><K>` dir directly under `parent` (K an
    integer) for which `keep(K)` is false; returns the removed paths.
    The one sweep behind orphan self-heal and epoch GC, for the index
    family's `epoch=K` dirs and the store's `vK` version dirs alike."""
    removed: list[str] = []
    if not os.path.isdir(parent):
        return removed
    for name in os.listdir(parent):
        k = name[len(prefix):]
        if name.startswith(prefix) and k.isdigit() and not keep(int(k)):
            full = os.path.join(parent, name)
            shutil.rmtree(full)
            removed.append(full)
    return removed


def remove_orphan_epochs(path: str, subdirs: list[str], current_epoch: int) -> None:
    """Self-heal after a crashed update: drop epoch dirs newer than the
    committed epoch (they were never published; partial files are fine
    to delete)."""
    for sub in subdirs:
        remove_epoch_dirs(os.path.join(path, sub), "epoch=", lambda k: k <= current_epoch)


def check_key_format(
    m: dict,
    path: str,
    expected: str,
    field: str = "key_format",
    missing_ok: bool = False,
) -> None:
    """Fail LOUDLY when a persisted index's derived-key format doesn't
    match this code's (the substr gram_format lesson, r8 advice,
    generalized r9): stored keys are hashes/strings of DERIVED text
    (tokenization, gram join separator, shingle normalization), so any
    change to the derivation silently changes every key — a probe
    against an older index would match NOTHING and an append would mix
    incompatible key spaces, with no downstream signal. Bump the
    artifact's KEY_FORMAT whenever its key derivation changes.

    `missing_ok=True` is for artifacts whose key derivation has NEVER
    changed since before the stamp existed (winnow / ngram-LM / text
    index / dedup pairs — only substr's gram hashes actually changed,
    in r8): a manifest with no format field there is a known-compatible
    pre-stamp vintage, so it is accepted and the stamp is BACKFILLED
    into `m` in place — the caller's next `{**m, ...}` manifest commit
    persists it, with no forced rebuild of a compatible index. The flag
    is ONLY valid while `expected` is the artifact's FIRST (v1) stamp;
    the moment a derivation change bumps the format, drop it — a
    missing field can then no longer prove v1. Artifacts whose keys
    did change (substr) stay strict: missing = unknown vintage =
    rebuild."""
    stored = m.get(field)
    if stored == expected:
        return
    if stored is None and missing_ok:
        m[field] = expected
        return
    raise ValueError(
        f"index at {path!r} has {field}={stored!r} but this code "
        f"writes/probes {expected!r}; the stored keys are incompatible "
        "(a probe would match zero keys, an append would mix key "
        "spaces). Rebuild the index."
    )
