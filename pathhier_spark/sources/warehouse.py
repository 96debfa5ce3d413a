"""Iceberg-style tables: partitioned parquet plus a JSON manifest.

Each table is a set of parquet data directories and a manifest with
Iceberg-commit-like semantics: an atomic pointer swap to the current
snapshot, idempotent replay per fingerprint, optimistic concurrency under
a commit lock, and a commit log for incremental and time-travel reads.
There is no Iceberg runtime jar (SURVEY.md §7.0); the manifest plays the
catalog's part.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession


class Warehouse:
    """warehouse_root/<table>/data/... + <table>/manifest.json"""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)

    def _table_dir(self, table: str) -> str:
        return os.path.join(self.root, table)

    def _manifest_path(self, table: str) -> str:
        return os.path.join(self._table_dir(table), "manifest.json")

    def manifest(self, table: str) -> dict | None:
        p = self._manifest_path(table)
        if not os.path.exists(p):
            return None
        with open(p) as f:
            return json.load(f)

    @staticmethod
    def _snapshot_dirs(man: dict) -> list[str]:
        return list(man.get("snapshots") or [man["snapshot"]])

    @staticmethod
    def _schema_of(df: DataFrame) -> list[list[str]]:
        return [[f.name, f.dataType.simpleString()] for f in df.schema.fields]

    def _evolve_schema(
        self,
        current: list[list[str]] | None,
        incoming: list[list[str]],
        *,
        allow_new_columns: bool,
        allow_missing_columns: bool,
    ) -> list[list[str]]:
        """Iceberg-style schema evolution policy for appends. Exact match
        passes; ADDED columns need allow_new_columns=True (they extend the
        table schema; old rows read as NULL); ABSENT columns need
        allow_missing_columns=True (the append's rows read as NULL there);
        a TYPE CHANGE is always refused — silent cross-file type coercion
        is the classic parquet-lake corruption, and widening belongs in an
        explicit rewrite, not an append. Without a policy, one typo'd
        column name in one append would silently fork the table schema."""
        if current is None:
            return incoming
        cur = {n: t for n, t in current}
        inc = {n: t for n, t in incoming}
        for n, t in incoming:
            if n in cur and cur[n] != t:
                raise ValueError(
                    f"schema evolution refused: column {n!r} is "
                    f"{cur[n]} in the table but {t} in the append; "
                    "type changes require an explicit overwrite/rewrite"
                )
        new_cols = [n for n, _ in incoming if n not in cur]
        if new_cols and not allow_new_columns:
            raise ValueError(
                f"schema evolution refused: append adds columns "
                f"{new_cols}; pass allow_new_columns=True to evolve the "
                "table schema (old rows will read as NULL there)"
            )
        missing = [n for n, _ in current if n not in inc]
        if missing and not allow_missing_columns:
            raise ValueError(
                f"schema evolution refused: append lacks columns "
                f"{missing}; pass allow_missing_columns=True to accept "
                "NULLs there"
            )
        return current + [[n, inc[n]] for n in new_cols]

    def write(
        self,
        df: DataFrame,
        table: str,
        *,
        partition_by: list[str] | None = None,
        mode: str = "overwrite",
        fingerprint: str = "static",
        allow_new_columns: bool = False,
        allow_missing_columns: bool = False,
    ) -> None:
        """Commit = data write into the write's OWN sub-directory + atomic
        manifest swap adding that directory to the snapshot list. Uncommitted
        data is therefore invisible — readers only see directories the
        manifest lists — and a crash anywhere between the parquet job and
        the manifest swap is safe: the replayed write targets the same
        fingerprint-derived directory and overwrites its own half-written
        files, never duplicating committed rows. This closes the
        hole where an append into a shared data/ dir became
        visible the moment the parquet job committed, BEFORE the fingerprint
        swap.

        Replay dedup: an overwrite is skipped iff its fingerprint equals the
        last committed one; an append is skipped iff its fingerprint is in
        applied_fingerprints (ALL appends since the last overwrite), so two
        successive appends of different data are both applied. Append mode
        REQUIRES an explicit fingerprint — with the 'static' default every
        second append would silently dedupe against the first (data loss).

        Write-write concurrency: the manifest re-read + pointer swap run
        under an exclusive-create commit lock (manifest.lock; stale locks
        from crashed writers are broken after a timeout), and the commit
        ABORTS if another commit landed since our initial read — a bare
        check-then-replace would leave a window where two writers both
        pass the check before either swaps, and the second swap would
        rewrite the snapshot list without the first append's directory,
        silently dropping its committed rows. The aborted write's own
        directory never entered the manifest, so nothing leaks; the caller
        re-runs write() and the replay-dedup logic picks up from the fresh
        manifest."""
        import hashlib

        man = self.manifest(table)
        applied = set(man.get("applied_fingerprints", [man["fingerprint"]])) if man else set()
        incoming_schema = self._schema_of(df)
        if mode == "append":
            if fingerprint == "static":
                raise ValueError(
                    "append mode requires an explicit fingerprint (e.g. "
                    "'batch:<id>'): the 'static' default would silently "
                    "dedupe every append after the first"
                )
            if man and fingerprint in applied:
                return
            # schema policy BEFORE any data write: a refused append must
            # leave nothing on disk. Pre-schema-tracking manifests (no
            # 'schema' key) skip validation for compatibility and stay
            # untracked until the next overwrite.
            if man and man.get("schema") is not None:
                schema = self._evolve_schema(
                    man["schema"],
                    incoming_schema,
                    allow_new_columns=allow_new_columns,
                    allow_missing_columns=allow_missing_columns,
                )
            elif man:
                schema = None
            else:
                schema = incoming_schema
        else:
            if man and man.get("fingerprint") == fingerprint:
                return
            schema = incoming_schema
        # dir name keyed by (mode, fingerprint): a crash-replay of the
        # SAME write deterministically overwrites its own directory,
        # while an overwrite can never silently target an append's dir
        suffix = hashlib.md5(f"{mode}:{fingerprint}".encode()).hexdigest()[:16]
        snapshot = os.path.join(self._table_dir(table), f"data_{suffix}")
        if man and snapshot in self._snapshot_dirs(man):
            # the target dir is LIVE (e.g. overwrite reusing a
            # fingerprint that was committed earlier and appended over):
            # mode('overwrite') would destroy committed data BEFORE the
            # manifest swap, breaking the crash-safety invariant
            raise ValueError(
                f"write to '{table}' reuses fingerprint {fingerprint!r} "
                "whose data directory is still in the live snapshot "
                "list; pick a fresh fingerprint"
            )
        writer = df.write.mode("overwrite")  # a write owns its dir
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(snapshot)
        if mode == "append" and man:
            snapshots = self._snapshot_dirs(man) + [snapshot]
        else:
            snapshots = [snapshot]
        if mode == "append" and man:
            applied.add(fingerprint)
            # commit log for incremental reads: ordered (fingerprint, dirs)
            # entries since the last history reset (overwrite/compaction).
            # Manifests written before the log existed have no entry for
            # their old commits — read_incremental then demands a full
            # refresh, never silently under-delivers.
            commits = list(man.get("commits") or []) + [
                {"fingerprint": fingerprint, "mode": mode, "dirs": [snapshot]}
            ]
        else:
            applied = {fingerprint}
            commits = [
                {"fingerprint": fingerprint, "mode": mode, "dirs": [snapshot]}
            ]
        # expired-history base survives appends, dies with history resets
        log_base = (
            list(man.get("log_base_dirs") or [])
            if (mode == "append" and man)
            else None
        )
        # concurrency guard: the re-read + pointer swap happen under an
        # exclusive commit lock — a plain check-then-replace would leave a
        # window where two writers both pass the check before either swaps,
        # and the second swap would drop the first append's directory
        os.makedirs(self._table_dir(table), exist_ok=True)
        with self._commit_lock(table):
            current = self.manifest(table)
            if (current is None) != (man is None) or (
                current is not None
                and man is not None
                and (
                    current.get("fingerprint") != man.get("fingerprint")
                    or self._snapshot_dirs(current)
                    != self._snapshot_dirs(man)
                )
            ):
                raise RuntimeError(
                    f"concurrent commit to '{table}' during write; "
                    "rerun write() — its replay dedup starts from the "
                    "fresh manifest"
                )
            self._swap_manifest(
                table, snapshot, snapshots, fingerprint, applied,
                partition_by, commits, schema=schema,
                log_base_dirs=log_base,
            )

    def _swap_manifest(
        self, table, snapshot, snapshots, fingerprint, applied, partition_by,
        commits, schema=None, log_base_dirs=None,
    ) -> None:
        tmp = self._manifest_path(table) + ".tmp"
        with open(tmp, "w") as f:
            json.dump(
                {
                    "table": table,
                    "snapshot": snapshot,
                    "snapshots": snapshots,
                    "fingerprint": fingerprint,
                    "applied_fingerprints": sorted(applied),
                    "partition_by": partition_by or [],
                    "schema": schema,
                    "commits": commits,
                    "log_base_dirs": log_base_dirs or [],
                    "committed_at": time.strftime(
                        "%Y-%m-%dT%H:%M:%SZ", time.gmtime()
                    ),
                },
                f,
            )
        os.replace(tmp, self._manifest_path(table))  # atomic pointer swap

    def _commit_lock(self, table: str, *, stale_s: float = 120.0):
        """Exclusive-create lock file serializing the manifest
        re-read + swap (same filesystem primitive HDFS/S3A lease files
        use). A lock older than `stale_s` is presumed orphaned by a
        crashed writer (the data it wrote is invisible — never entered
        the manifest) and is broken."""
        import contextlib

        path = os.path.join(self._table_dir(table), "manifest.lock")

        @contextlib.contextmanager
        def lock():
            try:
                fd = os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
            except FileExistsError:
                try:
                    age = time.time() - os.path.getmtime(path)
                except OSError:
                    age = 0.0
                if age > stale_s:
                    # Break the stale lock ATOMICALLY via rename: exactly
                    # one renamer succeeds (the loser's rename raises
                    # FileNotFoundError and it aborts with the held-lock
                    # error). unlink+recreate is racy here — two breakers
                    # can interleave so that B unlinks A's FRESH lock
                    # (unlink never checks it is removing the same stale
                    # file) and both enter the critical section.
                    import uuid as _uuid

                    tomb = f"{path}.breaking-{os.getpid()}-{_uuid.uuid4().hex}"
                    try:
                        os.rename(path, tomb)
                        try:
                            os.unlink(tomb)
                        except OSError:
                            pass
                        fd = os.open(
                            path, os.O_CREAT | os.O_EXCL | os.O_WRONLY
                        )
                    except (FileExistsError, FileNotFoundError):
                        raise RuntimeError(
                            f"commit lock held on '{table}' (another "
                            "writer broke the stale lock first); rerun "
                            "write()"
                        ) from None
                else:
                    raise RuntimeError(
                        f"commit lock held on '{table}' (another writer is "
                        "mid-swap); rerun write()"
                    ) from None
            try:
                os.write(fd, str(os.getpid()).encode())
                os.close(fd)
                yield
            finally:
                try:
                    os.unlink(path)
                except OSError:
                    pass

        return lock()

    def read(self, table: str) -> DataFrame:
        man = self.manifest(table)
        if man is None:
            raise FileNotFoundError(f"table {table} has no committed snapshot")
        return self._project_schema(
            self._read_dirs(self._snapshot_dirs(man)), man.get("schema")
        )

    @staticmethod
    def _project_schema(df: DataFrame, schema) -> DataFrame:
        """Canonical projection through the TRACKED schema: column order
        no longer depends on which snapshot dir happens to be read first,
        and columns an old snapshot predates surface as typed NULLs
        instead of union-order accidents. No-op for pre-tracking
        manifests (schema None)."""
        if not schema:
            return df
        from pyspark.sql import functions as F

        have = set(df.columns)
        return df.select(
            *[
                F.col(n) if n in have else F.lit(None).cast(t).alias(n)
                for n, t in schema
            ]
        )

    def read_incremental(
        self, table: str, since_fingerprint: str | None = None
    ) -> DataFrame:
        """Changed-data feed — the Iceberg incremental-read analog: return
        ONLY the rows committed strictly after the commit carrying
        `since_fingerprint` (None = full read). A downstream consumer
        (e.g. the training funnel) remembers the last fingerprint it
        processed and re-reads just the delta, instead of rescanning a
        100 TB table per batch; because appends are per-directory commits,
        the delta read scans exactly the new directories — cost is
        proportional to the new data, zero to table size.

        History resets — an overwrite or a compaction — rewrite the data
        layout, so deltas across them cannot be expressed as directories;
        a since_fingerprint older than the current commit log raises
        (full-refresh required), exactly Iceberg's behavior when the
        ancestor snapshot has expired. A consumer caught up to the LAST
        commit before a compaction is still caught up after it (compaction
        adds no logical rows): the compacted entry keeps that commit's
        fingerprint."""
        if since_fingerprint is None:
            return self.read(table)
        commits, idx = self._commit_index(table, since_fingerprint)
        dirs = [d for c in commits[idx + 1 :] for d in c["dirs"]]
        if not dirs:
            return self.read(table).limit(0)  # caught up: empty, same schema
        # same canonical projection as read(): a delta whose batch lacked
        # an evolved column must still present the CURRENT table schema,
        # or the consumer's frame shape would flap batch to batch
        man = self.manifest(table)
        return self._project_schema(
            self._read_dirs(dirs), man.get("schema") if man else None
        )

    def _commit_index(self, table: str, fingerprint: str) -> tuple[list, int]:
        """Shared commit-log lookup for the two log-positional readers
        (read_incremental / read_at): load the manifest and locate
        `fingerprint` in the ordered commit log. Raises ValueError when
        the fingerprint is absent — the history was reset by an
        overwrite/compaction, or predates the log — the Iceberg
        expired-snapshot contract."""
        man = self.manifest(table)
        if man is None:
            raise FileNotFoundError(f"table {table} has no committed snapshot")
        commits = man.get("commits") or []
        idx = [
            i
            for i, c in enumerate(commits)
            if c["fingerprint"] == fingerprint
        ]
        if not idx:
            raise ValueError(
                f"fingerprint {fingerprint!r} is not in '{table}'s commit "
                "log (history was reset by an overwrite/compaction, or "
                "predates the log); do a full refresh via read()"
            )
        return commits, idx[-1]

    def vacuum(self, table: str, *, older_than_s: float = 24 * 3600.0) -> dict:
        """Orphan-directory GC — the Iceberg `remove_orphan_files` analog.
        Overwrites and compactions swap the manifest to a NEW directory and
        leave the superseded data_* directories on disk unreferenced (that
        is what makes them crash-safe: readers of the old snapshot finish
        undisturbed). At 100 TB an un-GC'd table doubles its footprint on
        every compaction, so this deletes every data_* directory under the
        table that is referenced by neither the live snapshot list nor the
        commit log (time-travel targets), PROVIDED its newest file is older
        than `older_than_s`.

        The age horizon is the concurrency contract, exactly as in
        Iceberg: a concurrent writer creates its directory BEFORE taking
        the commit lock, so an uncommitted-but-in-progress write looks
        orphaned — the horizon must exceed the longest plausible write
        duration (default 24h; tests pass 0 single-threadedly). Age is the
        NEWEST mtime in the directory tree, not the root's — a partitioned
        write touches the root once at the start but keeps writing files
        into subdirectories. The scan-and-delete runs under the commit
        lock so the live set cannot change mid-sweep.

        Returns {"removed": n, "kept_young": n, "live": n}."""
        import shutil

        man = self.manifest(table)
        if man is None:
            raise FileNotFoundError(f"table {table} has no committed snapshot")
        tdir = self._table_dir(table)
        removed = kept_young = 0
        with self._commit_lock(table):
            man = self.manifest(table)  # re-read under the lock
            live = set(self._snapshot_dirs(man))
            for c in man.get("commits") or []:
                live.update(c["dirs"])
            now = time.time()
            for name in sorted(os.listdir(tdir)):
                p = os.path.join(tdir, name)
                if not (name.startswith("data_") and os.path.isdir(p)):
                    continue
                if p in live:
                    continue
                newest = os.path.getmtime(p)
                for root, _dirs, names in os.walk(p):
                    for n in names:
                        newest = max(
                            newest, os.path.getmtime(os.path.join(root, n))
                        )
                if now - newest < older_than_s:
                    kept_young += 1
                    continue
                shutil.rmtree(p)
                removed += 1
        return {"removed": removed, "kept_young": kept_young, "live": len(live)}

    def expire_snapshots(self, table: str, *, keep_last: int = 10) -> dict:
        """Commit-log retention — the Iceberg `expire_snapshots` analog
        and vacuum()'s missing other half: vacuum reclaims directories no
        commit references, but the log itself grows one entry per append
        FOREVER, so the manifest bloats and every historical fingerprint
        stays a live time-travel/incremental target. This trims the log
        to its newest `keep_last` commits, which (a) bounds manifest
        metadata at any append rate and (b) bounds the replay horizon:
        read_at / read_incremental on an expired fingerprint now raise
        the existing expired-snapshot ValueError — the same contract as
        any log-retention system (a consumer lagging past retention must
        resync via a full read()).

        What it deliberately does NOT touch: the live snapshot list (the
        table's data is never affected — append dirs stay readable via
        read(); directory reclamation remains vacuum()'s job and only
        ever applies to dirs superseded by overwrite/compaction), and
        applied_fingerprints (exactly-once replay suppression — dropping
        those would re-admit a duplicate of an ancient write; they are
        tiny strings, and keeping them is the cheap side of the
        trade-off). Runs under the commit lock; the manifest rewrite
        preserves every other field byte-for-byte and swaps atomically.
        Returns {"expired": n, "kept": n}."""
        if keep_last < 1:
            raise ValueError("expire_snapshots needs keep_last >= 1")
        man = self.manifest(table)
        if man is None:
            raise FileNotFoundError(f"table {table} has no committed snapshot")
        with self._commit_lock(table):
            man = self.manifest(table)  # re-read under the lock
            commits = man.get("commits") or []
            if len(commits) <= keep_last:
                return {"expired": 0, "kept": len(commits)}
            kept = commits[-keep_last:]
            expired = commits[: len(commits) - keep_last]
            man["commits"] = kept
            # expired history collapses into a base-dir list so read_at on
            # a KEPT fingerprint still reconstructs the FULL table as of
            # that commit (a time-travel view is the whole table, not the
            # post-horizon delta) — the Iceberg expire-keeps-current rule
            man["log_base_dirs"] = list(man.get("log_base_dirs") or []) + [
                d for c in expired for d in c["dirs"]
            ]
            tmp = self._manifest_path(table) + ".tmp"
            with open(tmp, "w") as f:
                json.dump(man, f)
            os.replace(tmp, self._manifest_path(table))
        return {"expired": len(commits) - len(kept), "kept": len(kept)}

    def read_at(self, table: str, fingerprint: str) -> DataFrame:
        """Snapshot time-travel — read the table AS OF the commit carrying
        `fingerprint`: exactly the directories of that commit and every
        commit before it in the log, none after. Append-mode commits never
        rewrite earlier directories, so the historical view is byte-stable
        as long as the history hasn't been reset (overwrite/compaction
        rewrite the data layout and clear the log — older fingerprints
        then raise, same contract as read_incremental).

        Deliberately NOT projected through the tracked schema: the
        manifest tracks only the CURRENT schema, and presenting a
        historical snapshot through it would add columns that did not
        exist at that commit (real Iceberg time-travels the schema too —
        that needs per-commit schema history, out of scope). The
        historical frame is the raw union of its own directories.
        History expired by expire_snapshots() is prepended as the
        log_base_dirs base, so kept fingerprints still see the full
        table as of their commit."""
        commits, idx = self._commit_index(table, fingerprint)
        man = self.manifest(table) or {}
        base = list(man.get("log_base_dirs") or [])
        dirs = base + [d for c in commits[: idx + 1] for d in c["dirs"]]
        return self._read_dirs(dirs)

    def diff(
        self,
        table: str,
        from_fingerprint: str,
        to_fingerprint: str,
        *,
        key_cols: list[str] | None = None,
    ) -> DataFrame:
        """CDC-style diff between two committed fingerprints of the same
        table (delegates to snapshot_diff below). History caveat: only
        commits still in the log are addressable — merge/overwrite/
        compaction rewrite the snapshot and clear older fingerprints
        (read_at's contract), so cross-merge diffs need exported
        snapshots compared via snapshot_diff directly. Between append
        commits the result is insert-only by construction."""
        return snapshot_diff(
            self.read_at(table, from_fingerprint),
            self.read_at(table, to_fingerprint),
            key_cols=key_cols,
        )

    def _read_dirs(self, dirs: list[str]) -> DataFrame:
        """Per-dir reads unioned by name: a single multi-path read REFUSES
        partitioned layouts across several roots
        (CONFLICTING_DIRECTORY_STRUCTURES — partition discovery needs one
        basePath). Per-branch reads keep each dir's own discovery, and
        filters/pruning push into every branch scan."""
        out = self.spark.read.parquet(dirs[0])
        for d in dirs[1:]:
            out = out.unionByName(
                self.spark.read.parquet(d), allowMissingColumns=True
            )
        return out

    def merge(
        self,
        updates: DataFrame,
        table: str,
        *,
        key: str | list[str],
        fingerprint: str,
        delete_col: str | None = None,
    ) -> None:
        """MERGE INTO — copy-on-write upsert/delete, the Iceberg
        `MERGE INTO target USING updates ON key` analog: rows whose key
        matches an update are replaced (or removed when the update's
        `delete_col` is true — CDC tombstones), unmatched updates insert,
        untouched rows carry over. Commits one fresh snapshot under the
        same OCC discipline as compact(): the base is pinned to the
        manifest captured at entry (_read_dirs, not a re-resolving
        read()), the merged data is written to its own fingerprint-keyed
        directory, and the manifest swap under the commit lock ABORTS if
        any commit landed since the capture — so a racing append is never
        silently folded-out or double-applied; the caller reruns merge()
        against the fresh snapshot. Replay after a crash is idempotent:
        the rewrite targets the same directory, and a replay after a
        successful commit no-ops because the fingerprint sits in the
        applied set — which merge carries FORWARD (old appends' rows live
        on inside the merged snapshot, so their replays must keep
        deduping; and a replayed OLDER batch must not clobber newer
        merges with its stale rewrite). Only overwrite resets the set.

        Merging into a table that doesn't exist yet creates it
        (insert-only; tombstones drop).

        Scale shape: one shuffle of base + updates on the key for the
        left-anti (AQE broadcasts the update side when it's small — the
        common CDC case — making the carry-over a scan + broadcast
        filter), then the full COW rewrite. The rewrite IS proportional
        to table size — that's copy-on-write's contract. For
        high-frequency CDC at 100 TB, append batches to a changelog
        table (write mode='append', one cheap commit each) and read
        through apply_changelog() (merge-on-read over
        read()/read_incremental), collapsing the changelog into a real
        merge() at compaction cadence — the standard Iceberg COW/MOR
        split, built from the same two primitives."""
        import hashlib

        keys = [key] if isinstance(key, str) else list(key)
        for k in keys:
            if k not in updates.columns:
                raise ValueError(f"merge key {k!r} missing from updates")
        if delete_col is not None and delete_col not in updates.columns:
            raise ValueError(f"delete_col {delete_col!r} missing from updates")
        man0 = self.manifest(table)
        applied0 = (
            set(man0.get("applied_fingerprints", [man0["fingerprint"]]))
            if man0
            else set()
        )
        # replay no-ops against the FULL applied set, not just the head
        # fingerprint: (a) a replayed pre-merge append must still dedupe —
        # the merge folded its rows into the new snapshot, so re-applying
        # would duplicate them (hence the applied set is carried FORWARD
        # below, unlike overwrite's reset, where the old rows are gone);
        # (b) a replayed OLDER merge/create batch must not clobber a newer
        # re-crawl's edges with its stale rewrite
        if man0 and fingerprint in applied0:
            return
        partition_by = list(man0.get("partition_by") or []) if man0 else []
        if man0:
            base = self._read_dirs(self._snapshot_dirs(man0))
            data_cols = base.columns
            want = set(updates.columns) - ({delete_col} if delete_col else set())
            if want != set(data_cols):
                raise ValueError(
                    f"updates schema {sorted(want)} does not match table "
                    f"columns {sorted(data_cols)}"
                )
            merged = apply_changelog(
                base, updates, key=keys, delete_col=delete_col
            )
        else:
            merged = updates
            if delete_col is not None:
                from pyspark.sql import functions as F

                merged = merged.filter(
                    ~F.coalesce(F.col(delete_col), F.lit(False))
                ).drop(delete_col)
        suffix = hashlib.md5(f"merge:{fingerprint}".encode()).hexdigest()[:16]
        new_dir = os.path.join(self._table_dir(table), f"data_{suffix}")
        if man0 and new_dir in self._snapshot_dirs(man0):
            raise ValueError(
                f"merge into '{table}' reuses fingerprint {fingerprint!r} "
                "whose data directory is still in the live snapshot list; "
                "pick a fresh fingerprint"
            )
        writer = merged.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(new_dir)
        os.makedirs(self._table_dir(table), exist_ok=True)
        with self._commit_lock(table):
            current = self.manifest(table)
            if (current is None) != (man0 is None) or (
                current is not None
                and man0 is not None
                and (
                    current.get("fingerprint") != man0.get("fingerprint")
                    or self._snapshot_dirs(current)
                    != self._snapshot_dirs(man0)
                )
            ):
                raise RuntimeError(
                    f"concurrent commit to '{table}' during merge; rerun "
                    "merge() against the fresh snapshot"
                )
            self._swap_manifest(
                table,
                new_dir,
                [new_dir],
                fingerprint,
                applied0 | {fingerprint},
                partition_by,
                [{"fingerprint": fingerprint, "mode": "merge",
                  "dirs": [new_dir]}],
                schema=self._schema_of(merged),
            )

    def compact(
        self,
        table: str,
        *,
        target_file_bytes: int = 128 * 1024 * 1024,
        sort_within_by: list[str] | None = None,
        zorder_by: list[str] | None = None,
    ) -> dict:
        """Small-files compaction — the Iceberg `rewrite_data_files` analog.
        A long-running ingest (streaming micro-batches, per-stage commits)
        accumulates many small parquet files; at 100 TB that kills scan
        parallelism bookkeeping and NameNode/manifest pressure. Rewrite the
        current snapshot into ceil(bytes / target_file_bytes) files in a NEW
        snapshot directory and swap the manifest pointer atomically — readers
        of the old snapshot are unaffected (time-travel semantics), and a
        crash mid-compaction leaves the table on the old snapshot.

        sort_within_by optionally clusters rows within each output file on
        a LINEAR key (prunes the leading column only); zorder_by instead
        clusters on a Morton-interleaved key over several integer columns
        (functions/zorder.py) so min/max file skipping works for
        predicates on ANY of them — the OPTIMIZE ZORDER BY analog.
        Returns {files_before, files_after, bytes}."""
        import math

        man = self.manifest(table)
        if man is None:
            raise FileNotFoundError(f"table {table} has no committed snapshot")
        snaps = self._snapshot_dirs(man)
        files = []
        for snap in snaps:
            for root, _dirs, names in os.walk(snap):
                files += [
                    os.path.join(root, n) for n in names if n.endswith(".parquet")
                ]
        total_bytes = sum(os.path.getsize(f) for f in files)
        n_out = max(1, math.ceil(total_bytes / target_file_bytes))
        df = self._read_dirs(snaps)
        partition_by = man.get("partition_by") or []
        if sort_within_by and zorder_by:
            raise ValueError(
                "sort_within_by and zorder_by are mutually exclusive "
                "clustering strategies — the z-key sort would silently "
                "win; pass exactly one"
            )
        if zorder_by and partition_by:
            raise ValueError(
                "zorder_by clusters an unpartitioned table; a "
                "hive-partitioned table already prunes on its partition "
                "column — compact per partition value instead"
            )
        if zorder_by:
            from pathhier_spark.functions.zorder import zorder_key

            # range-partition on the z-key (clustering must hold ACROSS
            # output files, not just within one task's file), then sort
            # within each file
            df = df.repartitionByRange(n_out, zorder_key(*zorder_by))
            df = df.sortWithinPartitions(zorder_key(*zorder_by))
        elif partition_by:
            # repartition(n_out, *partition_by) would hash ONLY on the
            # partition columns — every row of one partition value lands in
            # a single task and is written as one file, however large.
            # Size-AWARE salting: each partition value v gets a salt modulus
            # proportional to its row share (k_v ~ n_out * rows_v / total),
            # so a value holding 90% of the table splits into ~90% of the
            # output files while tiny values stay single-file — a uniform
            # per-value modulus would over-split the small values and leave
            # the hot one in oversized files. The per-value count collect is
            # bounded by the number of distinct partition values (small by
            # definition of a sane partition layout).
            from pyspark.sql import functions as F
            from pyspark.sql import types as T

            data_cols = list(df.columns)
            counts = (
                df.groupBy(*partition_by)
                .agg(F.count(F.lit(1)).alias("_rows"))
                .collect()
            )
            if counts:
                total_rows = sum(r["_rows"] for r in counts) or 1
                base = df.select(*partition_by).schema
                salt_schema = T.StructType(
                    list(base.fields)
                    + [T.StructField("_salt_k", T.LongType(), False)]
                )
                salt_rows = [
                    tuple(r[c] for c in partition_by)
                    + (max(1, round(n_out * r["_rows"] / total_rows)),)
                    for r in counts
                ]
                salt_src = self.spark.createDataFrame(salt_rows, salt_schema)
                # NULL-safe join condition: rows with a NULL partition value
                # (__HIVE_DEFAULT_PARTITION__ on disk) must survive — a
                # plain equi-join silently DROPS them (NULL = NULL is never
                # true), and compact() would commit a snapshot missing them
                cond = None
                for c in partition_by:
                    eq = df[c].eqNullSafe(salt_src[c])
                    cond = eq if cond is None else (cond & eq)
                joined = df.join(F.broadcast(salt_src), cond)
                df = joined.select(
                    *[df[c] for c in data_cols], salt_src["_salt_k"]
                )
                salt = F.pmod(F.xxhash64(*data_cols), F.col("_salt_k"))
                df = df.repartition(n_out, *partition_by, salt).drop("_salt_k")
            else:
                df = df.repartition(n_out)
        else:
            df = df.repartition(n_out)
        if sort_within_by and not zorder_by:
            df = df.sortWithinPartitions(*sort_within_by)
        new_dir = os.path.join(
            self._table_dir(table), f"data_compacted_{int(time.time() * 1000)}"
        )
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(new_dir)
        files_after = sum(
            1
            for root, _d, names in os.walk(new_dir)
            for n in names
            if n.endswith(".parquet")
        )
        # concurrency guard under the same exclusive commit lock write()
        # uses — a bare check-then-replace leaves a window where a commit
        # (e.g. a streaming append) lands between our re-read and the swap
        # and is silently dropped. The orphaned compacted dir is invisible
        # (never entered the manifest); the caller reruns compaction.
        with self._commit_lock(table):
            current = self.manifest(table)
            if current is None or (
                current.get("fingerprint") != man.get("fingerprint")
                or self._snapshot_dirs(current) != snaps
            ):
                raise RuntimeError(
                    f"concurrent commit to '{table}' during compaction; "
                    "rerun compact()"
                )
            man = dict(current)
            man["snapshot"] = new_dir
            man["snapshots"] = [new_dir]
            # history reset for incremental readers: the compacted entry
            # keeps the last commit's fingerprint, so a consumer caught up
            # through that commit stays caught up (compaction adds no
            # logical rows); older fingerprints now demand a full refresh
            man["commits"] = [
                {
                    "fingerprint": man.get("fingerprint"),
                    "mode": "compact",
                    "dirs": [new_dir],
                }
            ]
            # the compacted dir already holds every row: a carried-over
            # expired-history base would double-count in read_at
            man["log_base_dirs"] = []
            man["compaction"] = {
                "files_before": len(files),
                "files_after": files_after,
                "bytes": total_bytes,
                "previous_snapshots": snaps,
            }
            man["committed_at"] = time.strftime(
                "%Y-%m-%dT%H:%M:%SZ", time.gmtime()
            )
            tmp = self._manifest_path(table) + ".tmp"
            with open(tmp, "w") as f:
                json.dump(man, f)
            os.replace(tmp, self._manifest_path(table))
        return man["compaction"]


def write_bucketed(
    spark: SparkSession,
    df: DataFrame,
    table: str,
    *,
    bucket_by: list[str],
    n_buckets: int,
    sort_by: list[str] | None = None,
    path: str | None = None,
) -> None:
    """Bucketed-parquet table layout — the CO-LOCATED-JOIN path: two tables
    bucketed on the same keys with the same bucket count join WITHOUT any
    Exchange (Spark reads matching buckets side by side), which at 100 TB
    removes the single biggest cost of the repeated node/edge equi-joins
    the KG pipeline makes. Pay one bucketed write, then every downstream
    join on that key is shuffle-free (asserted on the physical plan in
    tests/test_warehouse.py).

    Bucketing metadata lives in the session catalog (saveAsTable is the
    only Spark surface that records it), so this is a catalog-table layout
    next to the manifest-based Warehouse snapshots: use Warehouse for
    exactly-once ingest lineage, write_bucketed for join-heavy derived
    tables whose producer re-runs are idempotent (mode=overwrite).
    sort_by additionally sorts within buckets, upgrading the join to a
    merge join without a sort step."""
    writer = df.write.mode("overwrite").format("parquet").bucketBy(
        n_buckets, *bucket_by
    )
    if sort_by:
        writer = writer.sortBy(*sort_by)
    if path:
        writer = writer.option("path", path)
    writer.saveAsTable(table)


def read_bucketed(spark: SparkSession, table: str) -> DataFrame:
    """Catalog read preserving the bucket spec (a plain path read would
    discard it and re-shuffle on the next join)."""
    return spark.table(table)


def apply_changelog(
    base: DataFrame,
    changes: DataFrame,
    *,
    key: str | list[str],
    delete_col: str | None = None,
) -> DataFrame:
    """Merge-on-read: `base` with `changes` applied — keyed rows replaced
    (last-write-wins is the CALLER's job: pass one row per key, e.g. the
    max-ts row per key of a CDC stream), tombstones (delete_col true)
    removed, new keys inserted. Warehouse.merge() materializes exactly
    this; reading it lazily over read()/read_incremental gives the MOR
    half of the Iceberg COW/MOR split — query-time cost is one anti-join
    of base against the (usually broadcastable) change keys.

    NULL keys: a NULL-keyed change never matches a base row (left_anti
    uses plain equality, NULL never equals NULL — the asof_join NULL-key
    rule), so NULL-keyed upserts insert."""
    from pyspark.sql import functions as F

    keys = [key] if isinstance(key, str) else list(key)
    upserts = changes
    if delete_col is not None:
        upserts = upserts.filter(
            ~F.coalesce(F.col(delete_col), F.lit(False))
        ).drop(delete_col)
    touched = changes.select(*keys).distinct()
    kept = base.join(touched, keys, "left_anti")
    return kept.unionByName(upserts.select(*base.columns))


def snapshot_diff(
    a: DataFrame,
    b: DataFrame,
    *,
    key_cols: list[str] | None = None,
) -> DataFrame:
    """CDC-style diff of two table snapshots: what changed going from A
    to B. Without keys, multiset row semantics via exceptAll — inserts
    are rows of B not in A, deletes the reverse (duplicates respected).
    With `key_cols`, a keyed three-way classification: insert (key only
    in B), delete (key only in A), update (key in both, any non-key
    column differing — detected by ONE xxhash64 over the full row, so a
    200-column row compares as an 8-byte value, not column by column).
    Updated/inserted rows are emitted from the B side, deletes from A,
    all behind a leading `_change` column.

    Scale shape: the keyless path is two full-row hash shuffles
    (exceptAll); the keyed path shuffles on the keys only and carries
    one struct + one hash per side. Keyed mode assumes keys unique per
    snapshot (the merge() contract) — duplicate keys pair arbitrarily,
    the caveat every keyed CDC tool carries."""
    from pyspark.sql import functions as F

    if key_cols is None:
        ins = b.exceptAll(a).select(F.lit("insert").alias("_change"), "*")
        dele = a.exceptAll(b).select(F.lit("delete").alias("_change"), "*")
        return ins.unionByName(dele)
    cols = b.columns
    # hash the JSON encoding, not xxhash64(*cols): Spark's xxhash64 SKIPS
    # NULL inputs entirely, so ('x', NULL) and (NULL, 'x') hash the same
    # and a value migrating across columns would read as "unchanged";
    # to_json keeps the column names next to the values, making the
    # encoding NULL-position-faithful
    row_hash = lambda: F.xxhash64(F.to_json(F.struct(*cols)))  # noqa: E731
    ah = a.select(
        *key_cols,
        F.struct(*cols).alias("_row_a"),
        row_hash().alias("_h_a"),
    )
    bh = b.select(
        *key_cols,
        F.struct(*cols).alias("_row_b"),
        row_hash().alias("_h_b"),
    )
    j = ah.join(bh, key_cols, "full_outer")
    change = (
        F.when(F.col("_row_a").isNull(), F.lit("insert"))
        .when(F.col("_row_b").isNull(), F.lit("delete"))
        .when(F.col("_h_a") != F.col("_h_b"), F.lit("update"))
    )
    picked = F.when(F.col("_row_b").isNull(), F.col("_row_a")).otherwise(
        F.col("_row_b")
    )
    return (
        j.withColumn("_change", change)
        .filter(F.col("_change").isNotNull())
        .withColumn("_pick", picked)
        .select("_change", F.col("_pick.*"))
    )
