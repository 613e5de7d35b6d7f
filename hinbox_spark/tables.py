"""Snapshot-versioned tables — the Iceberg-shaped entity store (SURVEY §1.3)
without external jars.

The reference's entity store wants snapshot isolation and atomic upsert
(reference atomic rewrite at src/utils/file_ops.py:292-303); the sandbox has
no Iceberg runtime, so this is the same *commit protocol* Iceberg/Delta use,
reduced to its load-bearing core over plain parquet + the Hadoop FS API:

  table_dir/
    data/batch-<id>/part-*.parquet    one immutable, separately-committed
                                      parquet directory per write
    snapshots/snapshot-%012d.json     manifest: ordered list of (batch, seq)
                                      visible in that snapshot + operation

  * A batch that never makes it into a committed snapshot manifest is
    invisible — a crashed writer leaves garbage data files, never a
    half-visible table (atomicity).
  * Readers resolve the LATEST snapshot (or any older id — time travel) and
    read exactly its batch list — concurrent writers never change what an
    in-flight reader sees (snapshot isolation).
  * Commits are optimistic: the manifest is fully written to a temp name,
    then published create-exclusive at snapshot-<next_id> (a POSIX hard
    link on file: — atomic in the kernel, no TOCTOU; native no-overwrite
    rename on HDFS), so two racing committers get exactly one winner; the
    loser re-reads the new head and retries on top (Iceberg's optimistic
    concurrency, minus the catalog server). Object stores without atomic
    no-overwrite publish (bare S3A) need a catalog/lock for multi-writer.
  * `merge` is merge-on-read: the upsert batch is appended with a higher
    sequence number and readers resolve per-key last-writer-wins with one
    max_by aggregate — no copy-on-write of 100 TB of data files to update
    one entity partition. (`compact()` folds the resolution back into a
    single batch when the delta chain grows.)

Scale shape: metadata is O(batches) JSON, data is never rewritten on
append/merge, and the only shuffle `read_resolved` adds is the per-key
max_by — the same aggregate the pipeline's last-wins collapse (A6) already
uses.
"""

from __future__ import annotations

import json
import uuid

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from hinbox_spark import fs as hfs
from hinbox_spark.session import local_frame

_SNAP_FMT = "snapshot-%012d.json"
# read_resolved(scope=...) collects scope keys for manifest pruning only
# when the scope is at most this many rows (probed with limit(K+1).count())
_SCOPE_PRUNE_CAP = 100_000


class CommitConflict(Exception):
    """Another writer committed first and retries were exhausted."""


class SnapshotTable:
    """Minimal log-structured table: append / overwrite / merge / time
    travel over plain parquet, with atomic optimistic commits."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path.rstrip("/")
        self.data_dir = self.path + "/data"
        self.snap_dir = self.path + "/snapshots"

    # ── snapshot metadata ──

    def _snapshot_ids(self) -> list[int]:
        ids = []
        for f in hfs.list_files(self.spark, self.snap_dir):
            name = f.rsplit("/", 1)[-1]
            if name.startswith("snapshot-") and name.endswith(".json"):
                try:
                    ids.append(int(name[len("snapshot-"):-len(".json")]))
                except ValueError:
                    continue
        return sorted(ids)

    def latest_snapshot_id(self) -> int | None:
        ids = self._snapshot_ids()
        return ids[-1] if ids else None

    def _read_manifest(self, snap_id: int) -> dict:
        return json.loads(
            hfs.read_text(self.spark, self.snap_dir + "/" + _SNAP_FMT % snap_id)
        )

    # ── commit protocol ──

    def _write_batch(self, df: DataFrame, stats_col: str | None = None):
        """Write one immutable batch dir; with `stats_col`, also return the
        batch's (min, max) of that column for manifest-level pruning. The
        stats job scans ONLY the just-written batch (the delta, not the
        table) and reads one column from fresh footers — O(batch), cheap.
        Returns (batch, stats|None, cols); stats is {col, min, max} with
        values limited to JSON-native types (string/numeric cluster keys —
        the entity_id/url keys this store is built for); cols is the
        batch's column DDL recorded into the manifest entry so empty /
        all-pruned reads derive their schema from metadata alone instead
        of footer-reading every batch (Iceberg keeps the schema in table
        metadata for the same reason)."""
        batch = "batch-" + uuid.uuid4().hex
        df.write.mode("overwrite").parquet(self.data_dir + "/" + batch)
        stats = None
        if stats_col is not None:
            row = (
                self.spark.read.parquet(self.data_dir + "/" + batch)
                .agg(F.min(stats_col).alias("lo"), F.max(stats_col).alias("hi"))
                .first()
            )
            if row["lo"] is not None and isinstance(row["lo"], (str, int, float)):
                stats = {"col": stats_col, "min": row["lo"], "max": row["hi"]}
        cols = [[f.name, f.dataType.simpleString()] for f in df.schema.fields]
        return batch, stats, cols

    def _commit(self, build_entries, operation: str, retries: int = 5) -> int:
        """Optimistically commit: read head, build the new batch list from
        it, rename the manifest into place; on collision re-read and retry.
        `build_entries(parent_entries, next_seq) -> entries`."""
        for _ in range(retries):
            head = self.latest_snapshot_id()
            parent = self._read_manifest(head) if head is not None else None
            entries = parent["entries"] if parent else []
            next_seq = (max((e["seq"] for e in entries), default=0)) + 1
            new_entries = build_entries(list(entries), next_seq)
            snap_id = (head or 0) + 1
            manifest = {
                "id": snap_id,
                "parent": head,
                "operation": operation,
                "entries": new_entries,
            }
            tmp = self.snap_dir + f"/_tmp-{uuid.uuid4().hex}.json"
            hfs.mkdirs(self.spark, self.snap_dir)
            hfs.write_text(self.spark, tmp, json.dumps(manifest))
            # atomic publish: create-exclusive at the final name (hard
            # link on file:, no-overwrite rename on HDFS) — exactly one
            # of two racing committers wins this snapshot id, and the
            # manifest is fully written before it becomes visible
            if hfs.publish_without_overwrite(
                self.spark, tmp, self.snap_dir + "/" + _SNAP_FMT % snap_id
            ):
                return snap_id
            hfs.delete(self.spark, tmp)
        raise CommitConflict(f"lost {retries} optimistic-commit races at {self.path}")

    # ── writes ──

    @staticmethod
    def _entry(batch: str, seq: int, stats, cols=None) -> dict:
        e = {"batch": batch, "seq": seq}
        if stats is not None:
            e["stats"] = stats
        if cols is not None:
            e["columns"] = cols
        return e

    def append(self, df: DataFrame, stats_col: str | None = None) -> int:
        batch, stats, cols = self._write_batch(df, stats_col)
        return self._commit(
            lambda entries, seq: entries + [self._entry(batch, seq, stats, cols)],
            "append",
        )

    def overwrite(self, df: DataFrame, stats_col: str | None = None) -> int:
        batch, stats, cols = self._write_batch(df, stats_col)
        return self._commit(
            lambda entries, seq: [self._entry(batch, seq, stats, cols)], "overwrite"
        )

    def merge(self, df: DataFrame, stats_col: str | None = None) -> int:
        """MERGE-INTO-style upsert, merge-on-read: rows with keys already in
        the table supersede them at read time (higher seq wins); new keys
        append. No data rewrite — O(new rows) work at commit. `stats_col`
        records the batch's key range in the manifest, letting scoped reads
        skip whole batches (Iceberg's manifest-level file pruning)."""
        batch, stats, cols = self._write_batch(df, stats_col)
        return self._commit(
            lambda entries, seq: entries + [self._entry(batch, seq, stats, cols)],
            "merge",
        )

    def merge_into(
        self,
        source: DataFrame,
        key_cols: list[str],
        when_matched_delete=None,
        when_matched_update: bool = True,
        when_not_matched_insert: bool = True,
        stats_col: str | None = None,
    ) -> int:
        """Conditional MERGE INTO (the full Iceberg/Delta statement, not
        just last-wins upsert): per source row matched to the current
        resolved target row —
          * `when_matched_delete` (a Column over aliases `s` = source,
            `t` = target) true → the key is tombstoned;
          * else if `when_matched_update` → the source row replaces the
            target row;
          * unmatched source rows insert iff `when_not_matched_insert`.
        Target rows no source row touches are NOT rewritten — merge-on-read
        means only the changed rows enter the new batch, and updates,
        inserts, and tombstones land in ONE batch under ONE atomic commit
        (a reader sees all of the merge or none of it).

        The target side is resolved SCOPED to the source keys (broadcast
        semi-join + manifest pruning), so a small delta merging into a
        100 TB table reads only the affected keys' batches. Source must
        have one row per key (pre-collapse with max_by, as the streaming
        sink does)."""
        src_cols = source.columns
        s = source.alias("s")
        scope = source.select(*key_cols).dropDuplicates(key_cols)
        t = self.read_resolved(key_cols, scope=scope).alias("t")
        cond = None
        for k in key_cols:
            c = F.col(f"s.{k}") == F.col(f"t.{k}")
            cond = c if cond is None else (cond & c)
        joined = s.join(t, cond, "left")
        matched = joined.filter(F.col(f"t.{key_cols[0]}").isNotNull())
        unmatched = joined.filter(F.col(f"t.{key_cols[0]}").isNull())

        pieces = []
        if when_matched_delete is not None:
            dels = matched.filter(when_matched_delete).select(
                *[F.col(f"s.{k}").alias(k) for k in key_cols]
            ).withColumn("_tombstone", F.lit(True))
            pieces.append(dels)
            matched = matched.filter(
                ~F.coalesce(when_matched_delete, F.lit(False))
            )
        if when_matched_update:
            pieces.append(
                matched.select(*[F.col(f"s.{c}").alias(c) for c in src_cols])
            )
        if when_not_matched_insert:
            pieces.append(
                unmatched.select(*[F.col(f"s.{c}").alias(c) for c in src_cols])
            )
        if not pieces:
            raise ValueError("merge_into with every action disabled is a no-op")
        batch_df = pieces[0]
        for p in pieces[1:]:
            batch_df = batch_df.unionByName(p, allowMissingColumns=True)
        batch, stats, cols = self._write_batch(batch_df, stats_col)
        return self._commit(
            lambda entries, seq: entries + [self._entry(batch, seq, stats, cols)],
            "merge-into",
        )

    def delete(self, keys_df: DataFrame, stats_col: str | None = None) -> int:
        """Row-level DELETE, merge-on-read (Iceberg equality-delete shape):
        commits a batch of key rows flagged `_tombstone = true`; no data
        file is rewritten — O(deleted keys) work. `read_resolved` drops a
        key whose winning (highest-seq) row is a tombstone; a later merge
        re-inserting the key revives it (its row outranks the tombstone).
        Raw `read()` keeps tombstone rows (they carry null payload via
        schema reconciliation) so CDC consumers see deletes as events.
        `compact()` folds tombstones away entirely."""
        tomb = keys_df.dropDuplicates(list(keys_df.columns)).withColumn(
            "_tombstone", F.lit(True)
        )
        batch, stats, cols = self._write_batch(tomb, stats_col)
        return self._commit(
            lambda entries, seq: entries + [self._entry(batch, seq, stats, cols)],
            "delete",
        )

    def rollback_to(self, snapshot_id: int | None) -> int:
        """Commit a NEW snapshot whose entry list is exactly the given
        historical snapshot's (Iceberg's rollback-to-snapshot): readers
        atomically stop seeing every batch committed after it, while the
        history (and time travel) stays intact until expiry. The recovery
        primitive for multi-table transactional writers — a crashed run's
        partial commits are un-published, never deleted in place.
        `snapshot_id=None` rolls back to the empty table (the pre-creation
        state of a table first written by the crashed run)."""
        entries = (
            list(self._read_manifest(snapshot_id)["entries"])
            if snapshot_id is not None
            else []
        )
        return self._commit(
            lambda _entries, seq: entries, f"rollback:{snapshot_id}"
        )

    def compact(
        self,
        key_cols: list[str],
        sort_by: list[str] | None = None,
        sort_partitions: int | None = None,
        zorder_by: list[str] | None = None,
    ) -> int:
        """Fold the delta chain: materialize read_resolved into one batch
        and commit a snapshot referencing only it. Old snapshots keep their
        manifests (time travel still works until a GC pass).

        `sort_by`: cluster the compacted layout (Iceberg's
        rewrite-with-sort-order maintenance action) — range-partition then
        sort within partitions on these columns, so each parquet file
        covers a narrow key range and min/max row-group statistics prune
        point/range scans on those columns to a handful of files. At
        100 TB this is the difference between a key lookup touching one
        file and touching every file; merge-on-read appends stay cheap
        and unclustered, and each compaction restores the layout.
        `sort_partitions` sets the file count explicitly (size it to the
        table's data volume / target file size); left None, AQE picks —
        and may coalesce a small table into one file.

        `zorder_by` (mutually exclusive with sort_by): cluster the layout
        on the Morton interleave of several NUMERIC columns
        (`functions/zorder.py` — Delta/Iceberg's OPTIMIZE ZORDER), so
        min/max footer pruning works for predicates on ANY of them instead
        of only a leading sort column."""
        assert not (sort_by and zorder_by), "sort_by xor zorder_by"
        resolved = self.read_resolved(key_cols)
        if zorder_by:
            from hinbox_spark.functions.zorder import zorder_value

            resolved, zv = zorder_value(resolved, zorder_by)
            resolved = resolved.withColumn("_zv", zv)
            if sort_partitions:
                resolved = resolved.repartitionByRange(sort_partitions, "_zv")
            else:
                resolved = resolved.repartitionByRange("_zv")
            resolved = resolved.sortWithinPartitions("_zv").drop("_zv")
        elif sort_by:
            if sort_partitions:
                resolved = resolved.repartitionByRange(sort_partitions, *sort_by)
            else:
                resolved = resolved.repartitionByRange(*sort_by)
            resolved = resolved.sortWithinPartitions(*sort_by)
        # the compacted batch records its key range too (sorted layouts get
        # row-group pruning AND manifest pruning on the same column)
        batch, stats, cols = self._write_batch(
            resolved, stats_col=(sort_by[0] if sort_by else None)
        )
        return self._commit(
            lambda entries, seq: [self._entry(batch, seq, stats, cols)], "compact"
        )

    # ── maintenance ──

    def expire_snapshots(
        self, keep_last: int = 1, orphan_grace_ms: int | None = None
    ) -> dict:
        """GC the snapshot history (Iceberg's expire_snapshots): drop every
        manifest older than the newest `keep_last`, then delete the batch
        dirs no kept manifest references — without this, compact()/merge()
        strand every superseded batch forever (unbounded storage under
        continuous upsert).

        Crash-safe ordering: old manifests are deleted BEFORE the batches
        they referenced, so an expiry interrupted mid-delete leaves the
        table fully readable — the kept snapshots and their batches are
        never touched, and a batch is only removed once every manifest
        naming it is gone (a half-deleted batch can at worst break time
        travel to an already-expired snapshot). Re-running expiry finishes
        the job.

        `orphan_grace_ms`: when set, also delete batch dirs referenced by
        NO manifest at all (crashed writers) whose modification time is at
        least that many ms older than the newest manifest's — the grace
        window keeps an in-flight writer's just-written batch safe (it
        commits its manifest after writing data, same reasoning as
        Iceberg's orphan-file cleanup horizon).

        Returns {"snapshots_removed", "batches_removed", "orphans_removed"}.
        """
        ids = self._snapshot_ids()
        keep_last = max(1, keep_last)
        drop, keep = ids[:-keep_last], ids[-keep_last:]
        kept_batches: set[str] = set()
        for sid in keep:
            kept_batches |= {e["batch"] for e in self._read_manifest(sid)["entries"]}
        dropped_batches: set[str] = set()
        for sid in drop:
            dropped_batches |= {
                e["batch"] for e in self._read_manifest(sid)["entries"]
            }
        # 1. manifests first (oldest first): the moment a manifest is gone
        #    its exclusive batches are unreachable garbage, never the
        #    other way around
        for sid in drop:
            hfs.delete(self.spark, self.snap_dir + "/" + _SNAP_FMT % sid)
        # 2. then the now-unreferenced batches
        garbage = sorted(dropped_batches - kept_batches)
        for b in garbage:
            hfs.delete(self.spark, self.data_dir + "/" + b, recursive=True)

        orphans_removed = 0
        if orphan_grace_ms is not None and keep:
            head_mtime = hfs.mtime(
                self.spark, self.snap_dir + "/" + _SNAP_FMT % keep[-1]
            )
            referenced = kept_batches | dropped_batches
            for d in hfs.list_dirs(self.spark, self.data_dir):
                name = d.rsplit("/", 1)[-1]
                if name in referenced:
                    continue
                if hfs.mtime(self.spark, d) <= head_mtime - orphan_grace_ms:
                    hfs.delete(self.spark, d, recursive=True)
                    orphans_removed += 1
        return {
            "snapshots_removed": len(drop),
            "batches_removed": len(garbage),
            "orphans_removed": orphans_removed,
        }

    # ── reads ──

    def n_batches(self, snapshot_id: int | None = None) -> int:
        """Number of batch files the given (default: head) snapshot unions
        at read time — the compaction trigger signal for maintenance."""
        head = snapshot_id if snapshot_id is not None else self.latest_snapshot_id()
        if head is None:
            return 0
        return len(self._read_manifest(head)["entries"])

    def _union_schema_empty(self, entries: list[dict]) -> DataFrame:
        """Zero-row frame carrying the UNION of the given batches' schemas —
        exactly what an unpruned read would produce via
        `unionByName(allowMissingColumns=True)`. Footer-only planning
        (parquet mergeSchema + limit 0), no data scan: a delete() tombstone
        batch at the head must not make an all-pruned read lose the payload
        columns.

        When every entry carries manifest-recorded `columns` (all writes
        since the field landed), the schema comes from metadata alone —
        O(1) driver JSON, no file access: the point-lookup MISS path on a
        table with thousands of pre-compaction batches must not
        footer-read them all to return nothing. Legacy manifests fall
        back to distributed footer merging (mergeSchema + limit 0)."""
        if all("columns" in e for e in entries):
            seen: dict[str, str] = {}
            for e in entries:
                for name, ddl in e["columns"]:
                    seen[name] = ddl  # later batches win a type evolution
            ddl = ", ".join(f"`{n}` {t}" for n, t in seen.items())
            return local_frame(self.spark, [], ddl)
        paths = [self.data_dir + "/" + e["batch"] for e in entries]
        return (
            self.spark.read.option("mergeSchema", "true")
            .parquet(*paths)
            .limit(0)
        )

    def read(
        self,
        snapshot_id: int | None = None,
        prune_keys: tuple[str, list] | None = None,
    ) -> DataFrame:
        """Raw union of the snapshot's batches (with `_seq` lineage column).
        Pass snapshot_id for time travel.

        Schema evolution (add-column): batches written before a column
        existed read it as NULL (`unionByName(allowMissingColumns=True)`) —
        Iceberg's read-side schema reconciliation, so evolving the entity
        schema never rewrites committed data.

        `prune_keys=(col, values)`: manifest-level batch pruning — a batch
        whose recorded [min, max] range of `col` (see `stats_col` on the
        write methods) contains none of the point keys is never scanned at
        all. Batches without recorded stats are conservatively kept. This
        is metadata-only work on the driver (O(batches) comparisons), the
        same job Iceberg's manifest file ranges do."""
        head = snapshot_id if snapshot_id is not None else self.latest_snapshot_id()
        if head is None:
            raise FileNotFoundError(f"no committed snapshot at {self.path}")
        manifest = self._read_manifest(head)
        entries = manifest["entries"]
        if not entries:
            raise FileNotFoundError(f"snapshot {head} at {self.path} is empty")
        if prune_keys is not None:
            col, values = prune_keys
            keys = sorted(values)

            def _may_contain(e: dict) -> bool:
                s = e.get("stats")
                if not s or s["col"] != col:
                    return True  # no stats recorded: must scan
                import bisect

                i = bisect.bisect_left(keys, s["min"])
                return i < len(keys) and keys[i] <= s["max"]

            entries = [e for e in entries if _may_contain(e)]
            if not entries:
                # every batch pruned: empty frame with the UNION schema of
                # all the snapshot's batches — the schema an unpruned read
                # would carry via allowMissingColumns (the last batch alone
                # may be a tombstone batch lacking the payload columns)
                return self._union_schema_empty(
                    manifest["entries"]
                ).withColumn("_seq", F.lit(0).cast("long"))
        parts = []
        for e in entries:
            parts.append(
                self.spark.read.parquet(self.data_dir + "/" + e["batch"])
                .withColumn("_seq", F.lit(e["seq"]))
            )
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p, allowMissingColumns=True)
        return out

    def read_resolved(
        self,
        key_cols: list[str],
        snapshot_id: int | None = None,
        scope: DataFrame | None = None,
    ) -> DataFrame:
        """Merge-on-read resolution: per key, the row from the
        highest-seq batch wins (last-writer-wins upsert semantics). One
        max_by aggregate — the same shape as the pipeline's A6 last-wins
        collapse, so it holds at scale.

        `scope` (a small DataFrame whose columns are a prefix of
        `key_cols`) restricts resolution to those keys BEFORE the resolve
        shuffle via a broadcast semi-join — the point-lookup path for
        incremental consumers: a delta run resolving the few affected
        entities never shuffles the whole table. (On a sort-clustered
        compacted table the scan itself also prunes via min/max row-group
        stats; the semi-join is the residual filter.)"""
        if scope is not None:
            on = list(scope.columns)
            assert on == key_cols[: len(on)], (
                f"scope columns {on} must be a prefix of key_cols {key_cols}"
            )
            scope = scope.dropDuplicates(on)
            # manifest-level batch pruning wants the key list on the
            # driver — safe only for point-lookup-sized scopes, so probe
            # the size FIRST (bounded: limit(K+1).count(), the
            # clustering.py pattern) instead of collecting unconditionally.
            # A production-scale delta with millions of changed keys skips
            # the prune and relies on the broadcast semi-join alone —
            # pruning is an optimization, never the correctness path.
            probe = scope.limit(_SCOPE_PRUNE_CAP + 1).count()
            if probe <= _SCOPE_PRUNE_CAP:
                # one full evaluation of the scope lineage: the collected
                # rows feed BOTH the manifest prune and the semi-join (as
                # a literal frame) — re-evaluating a computed delta's
                # lineage a third time inside the join is pure waste
                rows = scope.collect()
                keys = [r[on[0]] for r in rows]
                scope_lit = local_frame(self.spark, rows, scope.schema)
                raw = self.read(snapshot_id, prune_keys=(on[0], keys))
                raw = raw.join(F.broadcast(scope_lit), on, "left_semi")
            else:
                # above the cap the scope is also too big to force through
                # a driver-side broadcast — plain semi-join, AQE picks the
                # physical strategy (it still broadcasts when it fits)
                raw = self.read(snapshot_id).join(scope, on, "left_semi")
        else:
            raw = self.read(snapshot_id)
        payload = [
            c for c in raw.columns if c not in key_cols and c != "_tombstone"
        ]
        has_tombstones = "_tombstone" in raw.columns
        winner_cols = payload + (["_tombstone"] if has_tombstones else [])
        out = (
            raw.groupBy(*key_cols)
            .agg(F.max_by(F.struct(*winner_cols), F.col("_seq")).alias("_row"))
        )
        if has_tombstones:
            # a key whose WINNING row is a tombstone is deleted; an older
            # tombstone outranked by a later merge is a revived key
            out = out.filter(~F.coalesce(F.col("_row._tombstone"), F.lit(False)))
        return out.select(
            *key_cols, *[F.col(f"_row.{c}").alias(c) for c in payload]
        ).drop("_seq")


    def read_changes(
        self, from_snapshot: int | None, to_snapshot: int | None = None
    ) -> DataFrame:
        """CDC-style incremental read: the rows of every batch that ENTERED
        the table after `from_snapshot`, up to and including `to_snapshot`
        (default head), with `_seq` and `_operation` lineage columns — the
        feed an incremental consumer tails instead of re-scanning the
        table (Iceberg's incremental append scan plus delete events:
        tombstone rows from `delete()` appear with `_tombstone = true`).

        Metadata-only planning: manifests in (from, to] are walked on the
        driver and each commit's new-vs-parent batches are unioned —
        O(snapshots × batches) JSON work, no table scan. A `rollback_to`
        commit re-lists old batches, so restored batches reappear in the
        feed tagged with its `rollback:<id>` operation — an honest replay
        signal, not a silent gap. `compact` snapshots are SKIPPED entirely
        (Iceberg's incremental append scan skips REPLACE snapshots): a
        compaction rewrites already-emitted rows into a new batch, and
        replaying the whole resolved table into the feed would double-count
        every delta downstream. `from_snapshot=None` streams from the
        table's beginning; if `expire_snapshots` has GC'd the manifest
        history before `from_snapshot`, a clear error is raised instead of
        a silent partial feed — the consumer must fall back to a full
        `read_resolved`."""
        head = to_snapshot if to_snapshot is not None else self.latest_snapshot_id()
        if head is None:
            raise FileNotFoundError(f"no committed snapshot at {self.path}")
        head_entries = self._read_manifest(head)["entries"]
        new_parts = []
        for sid in self._snapshot_ids():
            if sid > head or (from_snapshot is not None and sid <= from_snapshot):
                continue
            m = self._read_manifest(sid)
            if m.get("operation") == "compact":
                # rewrite, not new data: every row in the compacted batch
                # was already emitted by the commit that introduced it
                continue
            if m["parent"] is not None:
                parent_path = self.snap_dir + "/" + _SNAP_FMT % m["parent"]
                # distinguish EXPIRED (file verifiably absent — the only
                # state expire_snapshots produces) from a corrupt manifest
                # or a transient FS failure: treating those as "history
                # starts here" would silently re-emit (double-count) every
                # batch the missing parent already delivered, so they
                # propagate instead.
                if hfs.exists(self.spark, parent_path):
                    parent_batches = {
                        e["batch"]
                        for e in self._read_manifest(m["parent"])["entries"]
                    }
                else:
                    # the parent manifest was expired. With a cursor this
                    # means the feed's history is gone — partial output
                    # would silently double-count, so fail loudly. From
                    # the beginning (cursor None) the oldest surviving
                    # manifest's FULL entry set IS the complete remaining
                    # history, so an empty parent set is exactly right.
                    if from_snapshot is not None:
                        raise FileNotFoundError(
                            f"change history expired: snapshot {m['parent']}"
                            f" (parent of {sid}) was removed by"
                            f" expire_snapshots before"
                            f" from_snapshot={from_snapshot}; re-read the"
                            f" table with read_resolved instead"
                        )
                    parent_batches = set()
            else:
                parent_batches = set()
            for e in m["entries"]:
                if e["batch"] in parent_batches:
                    continue
                new_parts.append(
                    self.spark.read.parquet(self.data_dir + "/" + e["batch"])
                    .withColumn("_seq", F.lit(e["seq"]))
                    .withColumn("_operation", F.lit(m.get("operation", "")))
                )
        if not new_parts:
            if not head_entries:
                raise FileNotFoundError(
                    f"no batches visible at snapshot {head} of {self.path}"
                )
            # union schema across ALL head batches, not the last one alone
            # (it may be a tombstone batch without the payload columns)
            return (
                self._union_schema_empty(head_entries)
                .withColumn("_seq", F.lit(0).cast("long"))
                .withColumn("_operation", F.lit(""))
            )
        out = new_parts[0]
        for p in new_parts[1:]:
            out = out.unionByName(p, allowMissingColumns=True)
        return out

    def diff(
        self,
        key_cols: list[str],
        from_snapshot: int | None,
        to_snapshot: int | None = None,
    ) -> DataFrame:
        """Snapshot diff: per key, how the RESOLVED table changed between
        two snapshots — `change_type ∈ {added, removed, changed}`
        (unchanged keys are dropped). Both ends resolve with full
        merge-on-read semantics (upserts collapsed, tombstones applied),
        then meet in one full-outer join on the keys; payload equality is
        a null-omitting JSON compare over the UNION of both ends' payload
        columns, so a column added between the snapshots with null values
        does not spuriously mark every key changed. `from_snapshot=None`
        diffs against the empty table (everything `added`)."""
        new = self.read_resolved(key_cols, snapshot_id=to_snapshot)
        if from_snapshot is None:
            return new.select(*key_cols, F.lit("added").alias("change_type"))
        old = self.read_resolved(key_cols, snapshot_id=from_snapshot)
        all_payload = sorted(
            (set(old.columns) | set(new.columns)) - set(key_cols)
        )

        def _fp(df: DataFrame, alias: str) -> DataFrame:
            for c in all_payload:
                if c not in df.columns:
                    df = df.withColumn(c, F.lit(None).cast("string"))
            # ignoreNullFields (the to_json default) omits null fields, so
            # a null-backfilled evolved column fingerprints identically to
            # the column not existing at all
            return df.select(
                *key_cols, F.to_json(F.struct(*all_payload)).alias(alias)
            )

        o, n = _fp(old, "_old_fp"), _fp(new, "_new_fp")
        joined = o.join(n, key_cols, "full_outer")
        return (
            joined.withColumn(
                "change_type",
                F.when(F.col("_old_fp").isNull(), F.lit("added"))
                .when(F.col("_new_fp").isNull(), F.lit("removed"))
                .when(F.col("_old_fp") != F.col("_new_fp"), F.lit("changed")),
            )
            .filter(F.col("change_type").isNotNull())
            .select(*key_cols, "change_type")
        )


class Catalog:
    """Minimal namespace catalog over SnapshotTables — the last piece of
    the Iceberg-shaped story expressible without external jars (a catalog
    SERVER is out of sandbox scope; this is the filesystem-backed
    HadoopCatalog analog: names → table paths under one warehouse root,
    with atomic create).

      warehouse/
        <namespace>/<name>/    a SnapshotTable directory
        .../_catalog_entry     create-exclusive marker: the table EXISTS
                               iff its marker committed (a crashed
                               create_table leaves garbage, never a
                               half-registered table)

    Multi-writer safety rides the same primitive as snapshot commits:
    the marker is published create-exclusive, so two racing
    create_table(name) calls get exactly one winner. Listing is a
    directory scan of markers — O(tables) metadata, no data reads.
    """

    _MARKER = "_catalog_entry"

    def __init__(self, spark: SparkSession, warehouse: str):
        self.spark = spark
        self.warehouse = warehouse.rstrip("/")

    def _table_path(self, namespace: str, name: str) -> str:
        for part in (namespace, name):
            if not part or "/" in part or part.startswith("_"):
                raise ValueError(f"invalid identifier: {part!r}")
        return f"{self.warehouse}/{namespace}/{name}"

    def create_table(self, namespace: str, name: str) -> SnapshotTable:
        """Atomically register (namespace, name); raises CommitConflict if
        it already exists (the create-exclusive marker has one winner)."""
        path = self._table_path(namespace, name)
        marker = path + "/" + self._MARKER
        hfs.mkdirs(self.spark, path)
        tmp = path + f"/_tmp_marker-{uuid.uuid4().hex}"
        hfs.write_text(self.spark, tmp, "v1")
        if not hfs.publish_without_overwrite(self.spark, tmp, marker):
            hfs.delete(self.spark, tmp)
            raise CommitConflict(f"table exists: {namespace}.{name}")
        return SnapshotTable(self.spark, path)

    def load_table(self, namespace: str, name: str) -> SnapshotTable:
        path = self._table_path(namespace, name)
        if not hfs.exists(self.spark, path + "/" + self._MARKER):
            raise FileNotFoundError(f"no such table: {namespace}.{name}")
        return SnapshotTable(self.spark, path)

    def table_exists(self, namespace: str, name: str) -> bool:
        return hfs.exists(
            self.spark, self._table_path(namespace, name) + "/" + self._MARKER
        )

    def list_tables(self, namespace: str) -> list[str]:
        ns_dir = f"{self.warehouse}/{namespace}"
        if not hfs.exists(self.spark, ns_dir):
            return []
        out = []
        for d in hfs.list_dirs(self.spark, ns_dir):
            name = d.rstrip("/").rsplit("/", 1)[-1]
            if hfs.exists(self.spark, d.rstrip("/") + "/" + self._MARKER):
                out.append(name)
        return sorted(out)

    def drop_table(self, namespace: str, name: str) -> bool:
        """Unregister FIRST (delete the marker — after this no reader can
        load the table), then best-effort delete the data; a crash between
        the two leaves unreferenced files for expire-style GC, never a
        readable half-deleted table."""
        path = self._table_path(namespace, name)
        marker = path + "/" + self._MARKER
        if not hfs.exists(self.spark, marker):
            return False
        hfs.delete(self.spark, marker)
        hfs.delete(self.spark, path, recursive=True)
        return True
