"""Corpus index maintenance riding a service ticker — the production
shape of incremental indexing: corpus appends land as parquet shards in
a drop directory, and each service tick folds ONLY the unseen shards
into every registered persisted index (BM25 inverted index, LSH
near-dup pair index, IVF cells, PQ codes, IVF-PQ codes) via their
O(new docs) `update_*` entry points. The build-once artifacts stay
fresh without a manual rebuild step, exactly the way a lakehouse
schedules OPTIMIZE/VACUUM alongside the workload (cf.
pipeline.run_upload_service's auto-compact/vacuum, which this service
plugs into via its `index_service` hook).

Scale story: a tick's cost is driven entirely by the NEW shards — each
registered index's update reads only the new rows (their incremental
contracts are pinned per-index: incremental ≡ rebuild for dedup/text,
fixed-quantizer assignment for IVF/PQ/IVF-PQ) — plus each index's
bounded merge state (vocab-sized dfreq for BM25, nothing for the
others). A quiet tick costs one directory listing.

Crash contract — EXACTLY-ONCE per shard batch: before any fold, the
exact shard list is written to the cursor as a WRITE-AHEAD INTENT
together with the batch's txn sequence number; every index update then
commits ("tick-docs"/"tick-emb"/"tick-events", seq) inside its own atomic manifest
(manifest.txn_already_applied); the final cursor commit marks the
batch seen and clears the intent. A crash at ANY point replays
precisely the intent-logged batch with the same seq on restart —
updates that already committed no-op, the rest fold — so no index
double-folds a shard (which would double-count the additive NB/BPE/PCA
sums) and none misses one. The per-index epoch commits are atomic, so
readers are never corrupted at any point in this protocol.
"""

from __future__ import annotations

import json
import os

#: Per-index physical layout for maintenance (compaction GC): epoch-
#: RANGED subdirs live in [base_epoch, epoch]; PINNED subdirs are
#: referenced by a single manifest key (quantizers survive appends).
INDEX_LAYOUTS: dict[str, tuple[list[str], dict[str, str]]] = {
    "text": (["postings", "dfreq", "stats"], {}),
    "dedup": (["pairs", "signatures", "bands"], {}),
    "ivf": (["cells"], {"centroids": "centroid_epoch"}),
    "pq": (["codes"], {"codebooks": "codebook_epoch"}),
    "ivfpq": (
        ["codes"],
        {"centroids": "centroid_epoch", "codebooks": "codebook_epoch"},
    ),
    # every NB epoch is a fully-merged snapshot (base_epoch == epoch),
    # so gc reclaims ALL superseded model copies
    "nb": (["counts", "class_stats", "model_stats"], {}),
    "winnow": (["prints"], {}),
    # BPE model epochs are fully-merged snapshots too (vocab + merges
    # relearned from it) — gc reclaims all superseded copies
    "bpe": (["vocab", "merges"], {}),
    # PCA sufficient-statistic snapshots (additive decimal sums)
    "pca": (["pairsums", "dimsums"], {}),
    # ExactSubstr gram counts: epoch-RANGED additive counts (probes sum
    # the live range; compaction sum-merges)
    "substr": (["gramcounts"], {}),
    # n-gram LM: epoch-RANGED additive unigram/bigram counts (probes sum
    # the live range; compaction sum-merges both tables)
    "ngramlm": (["unigrams", "bigrams"], {}),
    # daily event rollup: epoch-RANGED additive (day, event_type) counts
    # (probes sum the live range; compaction sum-merges)
    "rollup": (["days"], {}),
    # per-batch sketch-audit log: epoch-RANGED audit FACTS (probes union
    # the live range; compaction plain-folds — rows are logged once)
    "auditlog": (["rows"], {}),
}


class CorpusIndexService:
    """Folds newly landed corpus shards into registered persisted
    indexes on each tick().

    Parameters
    ----------
    docs_dir / emb_dir: drop directories watched for document shards
        (consumed by the text + dedup indexes) and embedding shards
        (consumed by the vector indexes). Either may be None.
    text_index / dedup_index / ivf_index / pq_index / ivfpq_index /
    nb_model / winnow_index / bpe_model / pca_model / substr_index /
    ngram_model:
        paths of already-BUILT indexes/models (save_* must have run);
        None skips that index. The NB/BPE/PCA models' epochs are fully merged
        snapshots, so they never need compaction (gc of superseded
        snapshots is a vacuum concern, not a read-path one).
    cursor_path: where the processed-shard cursor lives; defaults to
        `<first drop dir>/_index_service_cursor.json`.
    compact_after: auto-OPTIMIZE threshold — after folding, any
        registered index whose live epoch chain has grown past this many
        appends (epoch − base_epoch ≥ compact_after) is compacted back
        to one epoch via its compact_* entry point (each a single
        atomic manifest commit). None disables. This is the read-side
        half of the maintenance loop: appends keep writes O(new docs),
        compaction keeps probes O(one dir per partition).
    """

    def __init__(
        self,
        spark,
        docs_dir: str | None = None,
        emb_dir: str | None = None,
        events_dir: str | None = None,
        text_index: str | None = None,
        dedup_index: str | None = None,
        ivf_index: str | None = None,
        pq_index: str | None = None,
        ivfpq_index: str | None = None,
        nb_model: str | None = None,
        winnow_index: str | None = None,
        bpe_model: str | None = None,
        pca_model: str | None = None,
        substr_index: str | None = None,
        ngram_model: str | None = None,
        daily_rollup: str | None = None,
        audit_log: str | None = None,
        cursor_path: str | None = None,
        compact_after: int | None = None,
        adopt_artifact_seq: bool = False,
    ) -> None:
        if docs_dir is None and emb_dir is None and events_dir is None:
            raise ValueError(
                "at least one of docs_dir/emb_dir/events_dir is required"
            )
        self.spark = spark
        self.docs_dir = docs_dir
        self.emb_dir = emb_dir
        self.events_dir = events_dir
        self.text_index = text_index
        self.dedup_index = dedup_index
        self.ivf_index = ivf_index
        self.pq_index = pq_index
        self.ivfpq_index = ivfpq_index
        self.nb_model = nb_model
        self.winnow_index = winnow_index
        self.bpe_model = bpe_model
        self.pca_model = pca_model
        self.substr_index = substr_index
        self.ngram_model = ngram_model
        self.daily_rollup = daily_rollup
        self.audit_log = audit_log
        self.cursor_path = cursor_path or os.path.join(
            docs_dir or emb_dir or events_dir, "_index_service_cursor.json"
        )
        self.compact_after = compact_after
        self._seen: set[str] = set()
        self._txn_seq = 0
        self._inflight: dict = {}
        if os.path.exists(self.cursor_path):
            with open(self.cursor_path) as f:
                cur = json.load(f)
            self._seen = set(cur["seen"])
            # pre-upgrade cursors lack these keys — start the seq at 0
            # with no pending intent
            self._txn_seq = cur.get("txn_seq", 0)
            self._inflight = cur.get("inflight", {}) or {}
        # LOST/FOREIGN-CURSOR GUARD: the exactly-once protocol keys every
        # fold txn as ("tick-docs"/"tick-emb"/"tick-events", seq) with seq living ONLY
        # in the cursor file, while each artifact's manifest guard is
        # monotonic (last_txn[app] >= seq no-ops). If the cursor is lost
        # or a second service brings its own cursor to the same artifact
        # paths, seq restarts below the artifacts' recorded txns and
        # every subsequent update SILENTLY no-ops — shards get marked
        # seen without ever folding. Neither silent outcome is safe
        # (fast-forwarding alone would double-fold any shards the lost
        # cursor had already seen), so a behind-cursor is a loud error;
        # `adopt_artifact_seq=True` is the explicit opt-in for the
        # legitimate adoption case (fresh service over artifacts whose
        # prior folds are known to be baked in and whose drop dirs hold
        # only genuinely-new shards): it fast-forwards seq so new folds
        # are not swallowed by the manifest guard.
        # a pending write-ahead intent legitimately leaves the artifacts
        # ONE seq ahead of the cursor (crash after the folds, before the
        # clearing cursor commit) — that is the recovery path, not a
        # lost cursor; the replay no-ops via the manifest guards.
        expected = self._txn_seq + (1 if self._inflight else 0)
        recorded = self._max_artifact_tick_seq()
        if recorded > expected:
            if not adopt_artifact_seq:
                raise ValueError(
                    f"index-service cursor at {self.cursor_path} records "
                    f"txn_seq={self._txn_seq} but a registered artifact has "
                    f"already committed tick txn {recorded} — the cursor was "
                    "lost, replaced, or belongs to another service instance. "
                    "Continuing would silently no-op future folds. Restore "
                    "the original cursor, or pass adopt_artifact_seq=True "
                    "ONLY if every shard already folded into the artifacts "
                    "is absent from (or marked seen in) the drop dirs."
                )
            self._txn_seq = recorded

    def _max_artifact_tick_seq(self) -> int:
        """Highest ("tick-docs"/"tick-emb"/"tick-events") txn seq any registered
        artifact has committed — the cross-check that detects a cursor
        file running BEHIND the artifacts it coordinates (see __init__).
        Artifacts without a readable manifest are skipped: save_* may
        not have run yet, which the first fold will surface on its own."""
        from csv_crm_upload_spark.operators.manifest import read_manifest

        mx = 0
        for path in (
            self.text_index,
            self.dedup_index,
            self.ivf_index,
            self.pq_index,
            self.ivfpq_index,
            self.nb_model,
            self.winnow_index,
            self.bpe_model,
            self.pca_model,
            self.substr_index,
            self.ngram_model,
            self.daily_rollup,
            self.audit_log,
        ):
            if path is None:
                continue
            try:
                last = read_manifest(path).get("last_txn", {})
            except Exception:
                continue
            mx = max(
                mx,
                last.get("tick-docs", 0),
                last.get("tick-emb", 0),
                last.get("tick-events", 0),
            )
        return mx

    def _commit_cursor(self, inflight: dict | None = None) -> None:
        """Atomic cursor write. `inflight` non-None is the WRITE-AHEAD
        INTENT record: the exact shard batch about to fold, persisted
        BEFORE any index update so a crash mid-fold replays precisely
        that batch (with the same txn seq) instead of re-listing a
        possibly different one."""
        from csv_crm_upload_spark.operators.manifest import write_json_atomic

        write_json_atomic(
            self.cursor_path,
            {"seen": sorted(self._seen), "txn_seq": self._txn_seq, "inflight": inflight or {}},
        )

    @staticmethod
    def _new_shards(drop_dir: str | None, seen: set[str]) -> list[str]:
        """Unseen COMPLETE data entries in the drop dir. A bare .parquet
        file is complete by the atomic-rename convention (producers must
        move files in, the same contract Spark's file sources assume); a
        part-file DIRECTORY counts only once its _SUCCESS marker exists
        — listing an in-flight df.write.parquet() dir would fold a
        partial shard and permanently mark it seen, silently losing the
        late rows from every index."""
        if drop_dir is None or not os.path.isdir(drop_dir):
            return []
        out = []
        for name in sorted(os.listdir(drop_dir)):
            if name.startswith((".", "_")):
                continue
            full = os.path.join(drop_dir, name)
            if full in seen:
                continue
            if name.endswith(".parquet") and os.path.isfile(full):
                out.append(full)
            elif os.path.isdir(full) and os.path.exists(
                os.path.join(full, "_SUCCESS")
            ):
                out.append(full)
        return out

    def _fold_docs(self, doc_shards: list[str], txn: tuple[str, int]) -> None:
        new_docs = self.spark.read.parquet(*doc_shards)
        if self.text_index is not None:
            from csv_crm_upload_spark.analytics.retrieval import update_text_index

            update_text_index(new_docs, self.text_index, txn=txn)
        if self.dedup_index is not None:
            from csv_crm_upload_spark.analytics.dedup import update_dedup_index

            update_dedup_index(new_docs, self.dedup_index, txn=txn)
        if self.nb_model is not None:
            from csv_crm_upload_spark.analytics.nbayes import update_nb_model

            update_nb_model(new_docs, self.nb_model, txn=txn)
        if self.winnow_index is not None:
            from csv_crm_upload_spark.analytics.winnow import update_winnow_index

            update_winnow_index(new_docs, self.winnow_index, txn=txn)
        if self.bpe_model is not None:
            from csv_crm_upload_spark.analytics.bpe import update_bpe_model

            update_bpe_model(new_docs, self.bpe_model, txn=txn)
        if self.substr_index is not None:
            from csv_crm_upload_spark.analytics.substr import update_substr_index

            update_substr_index(new_docs, self.substr_index, txn=txn)
        if self.ngram_model is not None:
            from csv_crm_upload_spark.analytics.ngramlm import update_ngramlm_model

            update_ngramlm_model(new_docs, self.ngram_model, txn=txn)

    def _fold_emb(self, emb_shards: list[str], txn: tuple[str, int]) -> None:
        new_emb = self.spark.read.parquet(*emb_shards)
        if self.ivf_index is not None:
            from csv_crm_upload_spark.analytics.ivf import update_index

            update_index(new_emb, self.ivf_index, txn=txn)
        if self.pq_index is not None:
            from csv_crm_upload_spark.analytics.pq import update_pq_index

            update_pq_index(new_emb, self.pq_index, txn=txn)
        if self.ivfpq_index is not None:
            from csv_crm_upload_spark.analytics.ivfpq import update_ivfpq_index

            update_ivfpq_index(new_emb, self.ivfpq_index, txn=txn)
        if self.pca_model is not None:
            from csv_crm_upload_spark.analytics.pca import update_pca_model

            update_pca_model(new_emb, self.pca_model, txn=txn)

    def _fold_events(self, event_shards: list[str], txn: tuple[str, int]) -> None:
        new_events = self.spark.read.parquet(*event_shards)
        if self.daily_rollup is not None:
            from csv_crm_upload_spark.analytics.rollup import update_daily_rollup

            update_daily_rollup(new_events, self.daily_rollup, txn=txn)
        if self.audit_log is not None:
            from csv_crm_upload_spark.analytics.auditlog import append_batch_audit

            # batch_key names the fold txn so a log row is traceable to
            # the exact shard batch the cursor's intent recorded
            append_batch_audit(
                new_events, self.audit_log, f"{txn[0]}-{txn[1]}", txn=txn
            )

    def _fold_batch(self, batch: dict) -> None:
        """Fold one intent-logged shard batch into every registered
        index with this batch's txn seq, then commit the cursor with
        the intent cleared — the EXACTLY-ONCE protocol:

          1. intent (shard list + seq) is on disk BEFORE any fold;
          2. every update commits (app, seq) inside its own manifest;
          3. the cursor commit marks the batch seen and clears intent.

        A crash anywhere replays exactly this batch with the same seq
        on restart: updates that already committed see
        manifest.txn_already_applied and no-op, the rest fold — so no
        index ever double-folds a shard and none misses one. This
        closes the at-least-once window the plain cursor had (where a
        crash between an index commit and the cursor write re-folded
        the batch into ADDITIVE models, double-counting it)."""
        seq = self._txn_seq + 1
        if batch.get("docs"):
            self._fold_docs(batch["docs"], ("tick-docs", seq))
        if batch.get("embeddings"):
            self._fold_emb(batch["embeddings"], ("tick-emb", seq))
        if batch.get("events"):
            self._fold_events(batch["events"], ("tick-events", seq))
        self._seen.update(batch.get("docs", []))
        self._seen.update(batch.get("embeddings", []))
        self._seen.update(batch.get("events", []))
        self._txn_seq = seq
        self._commit_cursor()

    def tick(self) -> dict:
        """One maintenance tick: recover any interrupted batch first,
        then fold every unseen shard batch into the registered indexes
        under the intent-log exactly-once protocol (see _fold_batch).
        Returns {"docs": [...folded...], "embeddings": [...folded...]}
        (empty lists on a quiet tick, which costs one listing)."""
        recovered = {}
        if self._inflight:
            recovered, self._inflight = self._inflight, {}
            self._fold_batch(recovered)

        doc_shards = self._new_shards(self.docs_dir, self._seen)
        emb_shards = self._new_shards(self.emb_dir, self._seen)
        event_shards = self._new_shards(self.events_dir, self._seen)
        if doc_shards or emb_shards or event_shards:
            batch = {
                "docs": doc_shards,
                "embeddings": emb_shards,
                "events": event_shards,
            }
            self._commit_cursor(inflight=batch)  # write-ahead intent
            self._fold_batch(batch)
        if self.compact_after is not None:
            self._maybe_compact()
        return {
            "docs": recovered.get("docs", []) + doc_shards,
            "embeddings": recovered.get("embeddings", []) + emb_shards,
            "events": recovered.get("events", []) + event_shards,
        }

    def _maybe_compact(self) -> None:
        """OPTIMIZE any registered index whose live epoch chain has
        outgrown `compact_after` appends — each compactor is its own
        atomic manifest commit, so a crash between indexes leaves every
        index individually consistent."""
        from csv_crm_upload_spark.operators.manifest import read_manifest

        compactors = []
        if self.text_index is not None:
            from csv_crm_upload_spark.analytics.retrieval import compact_text_index

            compactors.append((self.text_index, compact_text_index))
        if self.dedup_index is not None:
            from csv_crm_upload_spark.analytics.dedup import compact_dedup_index

            compactors.append((self.dedup_index, compact_dedup_index))
        if self.ivf_index is not None:
            from csv_crm_upload_spark.analytics.ivf import compact_index

            compactors.append((self.ivf_index, compact_index))
        if self.pq_index is not None:
            from csv_crm_upload_spark.analytics.pq import compact_pq_index

            compactors.append((self.pq_index, compact_pq_index))
        if self.ivfpq_index is not None:
            from csv_crm_upload_spark.analytics.ivfpq import compact_ivfpq_index

            compactors.append((self.ivfpq_index, compact_ivfpq_index))
        if self.winnow_index is not None:
            from csv_crm_upload_spark.analytics.winnow import compact_winnow_index

            compactors.append((self.winnow_index, compact_winnow_index))
        if self.substr_index is not None:
            from csv_crm_upload_spark.analytics.substr import compact_substr_index

            compactors.append((self.substr_index, compact_substr_index))
        if self.ngram_model is not None:
            from csv_crm_upload_spark.analytics.ngramlm import compact_ngramlm_model

            compactors.append((self.ngram_model, compact_ngramlm_model))
        if self.daily_rollup is not None:
            from csv_crm_upload_spark.analytics.rollup import compact_daily_rollup

            compactors.append((self.daily_rollup, compact_daily_rollup))
        if self.audit_log is not None:
            from csv_crm_upload_spark.analytics.auditlog import compact_audit_log

            compactors.append((self.audit_log, compact_audit_log))
        for path, compactor in compactors:
            m = read_manifest(path)
            if m["epoch"] - m.get("base_epoch", 0) >= self.compact_after:
                compactor(self.spark, path)

    def vacuum(self) -> list[str]:
        """Delete stale epoch dirs every registered index's CURRENT
        manifest can no longer reference (pre-compaction/pre-rebuild
        chains). Deliberately NOT on the tick: like store.vacuum, the
        caller asserts no probe still holds an older manifest. Returns
        the removed paths."""
        from csv_crm_upload_spark.operators.manifest import gc_stale_epochs

        removed: list[str] = []
        for kind, idx_path in (
            ("text", self.text_index),
            ("dedup", self.dedup_index),
            ("ivf", self.ivf_index),
            ("pq", self.pq_index),
            ("ivfpq", self.ivfpq_index),
            ("nb", self.nb_model),
            ("winnow", self.winnow_index),
            ("bpe", self.bpe_model),
            ("pca", self.pca_model),
            ("substr", self.substr_index),
            ("ngramlm", self.ngram_model),
            ("rollup", self.daily_rollup),
            ("auditlog", self.audit_log),
        ):
            if idx_path is not None:
                ranged, pinned = INDEX_LAYOUTS[kind]
                removed.extend(gc_stale_epochs(idx_path, ranged, pinned))
        return removed


def run_index_maintenance_stream(
    spark,
    drop_dir: str,
    checkpoint_dir: str,
    kind: str = "documents",
    text_index: str | None = None,
    dedup_index: str | None = None,
    ivf_index: str | None = None,
    pq_index: str | None = None,
    ivfpq_index: str | None = None,
    nb_model: str | None = None,
    winnow_index: str | None = None,
    bpe_model: str | None = None,
    pca_model: str | None = None,
    daily_rollup: str | None = None,
    audit_log: str | None = None,
    available_now: bool = True,
    app_id: str | None = None,
):
    """The STRUCTURED-STREAMING twin of CorpusIndexService.tick(): the
    drop dir becomes a file source, Spark's checkpoint replaces the
    shard cursor, and each micro-batch folds into the registered
    indexes via their O(new docs) update paths. Returns the
    StreamingQuery (availableNow=True drains current files and stops —
    the finite-run mode; False keeps watching).

    Crash contract — strictly stronger than the cursor service:
    foreachBatch re-delivers a batch after a crash (at-least-once), and
    each index's update records (app_id, batch_id) IN the same atomic
    manifest commit as the epoch it folds (manifest.txn_already_applied)
    — so a replayed batch no-ops per index and the fold is EXACTLY-ONCE
    in effect, with no cross-commit window at all. `kind` selects the
    shard schema: "documents" feeds the text/dedup indexes,
    "embeddings" feeds the vector indexes, "events" feeds the daily
    rollup."""
    from csv_crm_upload_spark.schemas import TESTDATA_SCHEMAS

    app = app_id or f"index-maint-{kind}"
    # recursiveFileLookup: shards land as bare parquet files OR as
    # directories of part files (df.write.parquet) — pick up both
    stream = (
        spark.readStream.schema(TESTDATA_SCHEMAS[kind])
        .option("recursiveFileLookup", "true")
        .parquet(drop_dir)
    )

    def process(batch_df, batch_id: int) -> None:
        txn = (app, batch_id)
        if text_index is not None:
            from csv_crm_upload_spark.analytics.retrieval import update_text_index

            update_text_index(batch_df, text_index, txn=txn)
        if dedup_index is not None:
            from csv_crm_upload_spark.analytics.dedup import update_dedup_index

            update_dedup_index(batch_df, dedup_index, txn=txn)
        if nb_model is not None:
            from csv_crm_upload_spark.analytics.nbayes import update_nb_model

            update_nb_model(batch_df, nb_model, txn=txn)
        if winnow_index is not None:
            from csv_crm_upload_spark.analytics.winnow import update_winnow_index

            update_winnow_index(batch_df, winnow_index, txn=txn)
        if bpe_model is not None:
            from csv_crm_upload_spark.analytics.bpe import update_bpe_model

            update_bpe_model(batch_df, bpe_model, txn=txn)
        if ivf_index is not None:
            from csv_crm_upload_spark.analytics.ivf import update_index

            update_index(batch_df, ivf_index, txn=txn)
        if pq_index is not None:
            from csv_crm_upload_spark.analytics.pq import update_pq_index

            update_pq_index(batch_df, pq_index, txn=txn)
        if ivfpq_index is not None:
            from csv_crm_upload_spark.analytics.ivfpq import update_ivfpq_index

            update_ivfpq_index(batch_df, ivfpq_index, txn=txn)
        if pca_model is not None:
            from csv_crm_upload_spark.analytics.pca import update_pca_model

            update_pca_model(batch_df, pca_model, txn=txn)
        if daily_rollup is not None:
            from csv_crm_upload_spark.analytics.rollup import update_daily_rollup

            update_daily_rollup(batch_df, daily_rollup, txn=txn)
        if audit_log is not None:
            from csv_crm_upload_spark.analytics.auditlog import append_batch_audit

            # the per-batch audit cadence in runnable form: every event
            # micro-batch logs its own sketch-vs-exact verdict rows,
            # exactly-once via the same (app, batch_id) manifest guard
            append_batch_audit(batch_df, audit_log, f"{app}-{batch_id}", txn=txn)

    writer = stream.writeStream.foreachBatch(process).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
