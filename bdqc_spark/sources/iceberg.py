"""Iceberg-shaped table adapter (SURVEY.md §2.B S2, §4.3).

The sandbox has no Iceberg runtime jar, so the engine realizes
"Iceberg table partitioned by bucket(B, clip_id)" as:

  <root>/
    metadata/
      version-hint.txt          current snapshot id (atomic pointer swap)
      snap-<id>.json            snapshot manifest: schema, bucket count,
                                per-bucket file list + row counts,
                                parent snapshot id, summary
    data/
      bucket=<k>/ *.parquet     hash(clip_id) % B partitioned data

Semantics preserved from real Iceberg (and from bdqc's KB
persist/load, SURVEY.md A12): snapshot isolation via immutable
manifests + an atomically swapped current-pointer; appends create a
new snapshot referencing old + new files; readers pin a snapshot.
Partition pruning works through Spark's directory-partition
discovery — ``.where(F.col("bucket") == k)`` prunes at planning
time, which stands in for Iceberg's manifest-level pruning.

Swapping to a real Iceberg catalog is a config change: every caller
goes through ``IcebergishTable.read`` / ``.append`` only.
"""

from __future__ import annotations

import fcntl
import json
import os
import shutil
import time
import uuid
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

BUCKET_COL = "bucket"
STAGE_PREFIX = "_stage-"  # private write directories under data/


def _bucket_of(rel: str) -> str:
    """Bucket key of a manifest-relative path ``bucket=<k>/<file>``."""
    return rel.split("/", 1)[0].split("=", 1)[1]

# optimistic-concurrency commit knobs (Iceberg's commit.retry family)
COMMIT_LOCK_TIMEOUT_S = 30.0  # give up acquiring the commit lock
APPEND_COMMIT_RETRIES = 5  # append auto-rebase attempts on conflict


class CommitConflictError(RuntimeError):
    """The table's current snapshot moved between when this writer
    read it and when it tried to commit (another writer won the
    race). The losing writer's manifest and data files are already on
    disk but UNREFERENCED — they are exactly Iceberg's failed-commit
    orphans, swept by ``remove_orphans`` after its safety window.
    Appends auto-rebase and retry internally (commutative); other
    operations surface this error so the caller re-runs against the
    new table state (their read-modify-write is NOT commutative —
    e.g. a delete predicate must be re-evaluated over rows a
    concurrent append just added)."""


class IcebergishTable:
    def __init__(self, root: str, bucket_key: str = "clip_id", num_buckets: int = 16):
        self.root = root
        self.bucket_key = bucket_key
        self.num_buckets = num_buckets
        self.data_dir = os.path.join(root, "data")
        self.meta_dir = os.path.join(root, "metadata")

    # -- metadata ---------------------------------------------------------
    def _hint_path(self) -> str:
        return os.path.join(self.meta_dir, "version-hint.txt")

    def current_snapshot_id(self) -> str | None:
        try:
            with open(self._hint_path()) as f:
                return f.read().strip() or None
        except FileNotFoundError:
            return None

    def snapshot(self, snapshot_id: str | None = None) -> dict | None:
        sid = snapshot_id or self.current_snapshot_id()
        if sid is None:
            return None
        with open(os.path.join(self.meta_dir, f"snap-{sid}.json")) as f:
            return json.load(f)

    def _snapshot_if_present(self, snapshot_id: str | None) -> dict | None:
        """snapshot(), but an EXPIRED manifest (deleted by
        expire_snapshots) reads as None instead of raising — lineage
        walks treat that as a broken chain and degrade to the plain
        file diff rather than crashing (r4 ADVICE: the documented
        fallback was unreachable because only `is None` was checked)."""
        try:
            return self.snapshot(snapshot_id)
        except FileNotFoundError:
            return None

    @contextmanager
    def _commit_lock(self):
        """Hold the table's exclusive flock on ``metadata/commit.lock``
        for the body: every pointer swap and every ``refs.json`` edit
        runs inside it, so its read-check-write cannot interleave with
        another writer's. Polled until ``COMMIT_LOCK_TIMEOUT_S``, then
        ``TimeoutError``. The kernel drops the flock when its holder
        dies, so a killed writer blocks nobody and the lock file itself
        is never removed. Never nest it: a second flock on a new fd
        blocks even within one process."""
        os.makedirs(self.meta_dir, exist_ok=True)
        lock = os.path.join(self.meta_dir, "commit.lock")
        lock_fd = os.open(lock, os.O_CREAT | os.O_WRONLY)
        try:
            deadline = time.time() + COMMIT_LOCK_TIMEOUT_S
            while True:
                try:
                    fcntl.flock(lock_fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
                    break
                except BlockingIOError:
                    if time.time() > deadline:
                        raise TimeoutError(f"commit lock busy: {lock}")
                    time.sleep(0.02)
            yield
        finally:
            os.close(lock_fd)  # releases the flock

    def _commit_snapshot(self, manifest: dict) -> str:
        """Write the immutable manifest, then swap the pointer under
        an optimistic-concurrency check (Iceberg's commit protocol):
        the swap happens ONLY if the ref still points at the
        manifest's parent — otherwise another writer committed in
        between and a blind swap would silently orphan their
        snapshot (last-wins data loss). The check-then-swap runs
        under ``_commit_lock`` so the window is closed."""
        os.makedirs(self.meta_dir, exist_ok=True)
        sid = manifest["snapshot_id"]
        path = os.path.join(self.meta_dir, f"snap-{sid}.json")
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(manifest, f, indent=1, sort_keys=True)
        os.rename(tmp, path)  # immutable once visible; safe pre-lock

        with self._commit_lock():
            cur = self.current_snapshot_id()
            if cur != manifest["parent_snapshot_id"]:
                raise CommitConflictError(
                    f"concurrent commit: ref moved from "
                    f"{manifest['parent_snapshot_id']} to {cur} while this "
                    f"writer prepared snapshot {sid}"
                )
            self._swap_pointer(sid)
        return sid

    def _swap_pointer(self, sid: str) -> None:
        """Advance the ref this handle writes to. The base table IS
        the ``main`` branch (version-hint.txt); a branch view
        (``branch()``) overrides this to move its refs.json entry
        instead — which is the single point that makes every mutator
        (append/delete/update/merge/compact/zorder/rebucket) branch-
        aware without per-op branch plumbing."""
        hint_tmp = self._hint_path() + ".tmp"
        with open(hint_tmp, "w") as f:
            f.write(sid)
        os.rename(hint_tmp, self._hint_path())  # atomic pointer swap

    # -- write ------------------------------------------------------------
    def with_bucket(self, df: DataFrame) -> DataFrame:
        """bucket = pmod(xxhash64(key), B) — Iceberg's bucket(B, key)
        in spirit (hash partitioning on the primary key,
        BASELINE.json:6 "explicit Iceberg partitioning on hash(clip_id)").
        """
        return df.withColumn(
            BUCKET_COL, F.pmod(F.xxhash64(F.col(self.bucket_key)), F.lit(self.num_buckets)).cast("int")
        )

    def append(
        self,
        df: DataFrame,
        operation: str = "append",
        summary_extra: dict | None = None,
    ) -> str:
        """Write df as a new snapshot (previous files + new files).
        ``summary_extra`` merges into the manifest summary ATOMICALLY
        with the commit — the hook the streaming table sink uses to
        record its batch-id marker (exactly-once dedup needs the
        marker and the data in the same atomic unit)."""
        prev = self.snapshot()

        # Partition-spec discipline: once the table exists, the
        # MANIFEST's bucket count is authoritative — a constructor
        # argument that disagrees (e.g. a caller created after a
        # rebucket with the old default) must not silently mix specs
        # within one snapshot's file set.
        if prev is not None and prev.get("num_buckets") not in (None, self.num_buckets):
            self.num_buckets = int(prev["num_buckets"])

        bucketed = df if BUCKET_COL in df.columns else self.with_bucket(df)
        # One directory per bucket → scans with a bucket predicate
        # read only that directory (partition pruning). Cluster the
        # write by bucket first (Iceberg write.distribution-mode=hash):
        # without it every writer task emits a file into every bucket
        # dir — T×B small files whose per-path planning cost lands on
        # the serial path of every subsequent read.
        added = self._write_staged(bucketed.repartition(self.num_buckets, BUCKET_COL))
        added_rows = self._file_rows(added)

        # Optimistic commit with auto-rebase: appends are commutative,
        # so on a CommitConflictError the manifest is simply rebuilt
        # against the NEW current snapshot (same added files) and the
        # commit retried — Iceberg's fast-append retry. A concurrent
        # SPEC change (rebucket) is not rebase-able and re-raises.
        for _ in range(APPEND_COMMIT_RETRIES):
            prev_rows = int(prev["summary"].get("total_rows", 0)) if prev else 0
            manifest = self._manifest(
                prev,
                operation,
                self._swap_files(prev["bucket_files"] if prev else {}, set(), added),
                self._evolved_schema(prev, df),
                {"total_rows": prev_rows + added_rows, **(summary_extra or {})},
            )
            try:
                return self._commit_snapshot(manifest)
            except CommitConflictError:
                prev = self.snapshot()
                if prev is not None and prev.get("num_buckets") != self.num_buckets:
                    raise  # concurrent rebucket: caller must rewrite
        raise CommitConflictError(
            f"append gave up after {APPEND_COMMIT_RETRIES} rebase attempts"
        )

    def _write_staged(self, df: DataFrame) -> list[str]:
        """The one way a mutator puts data files into the table. ``df``
        (already repartitioned/sorted by the caller) is written
        partitioned by bucket into a fresh private
        ``data/_stage-<uuid>`` directory, whose part files are then
        renamed into ``data/bucket=<k>/``. Returns exactly those
        files' relative paths: a writer attributes only its own
        output, so a concurrent writer's file landing in a bucket
        directory mid-write is never claimed, and a file deliberately
        dropped from a manifest (compaction, delete) is never
        re-absorbed. Stage directories don't match the ``bucket=``
        prefix, so readers never see them; one abandoned by a killed
        writer is swept by ``remove_orphans``."""
        stage = os.path.join(self.data_dir, f"{STAGE_PREFIX}{uuid.uuid4().hex[:12]}")
        added: list[str] = []
        try:
            df.write.mode("overwrite").partitionBy(BUCKET_COL).parquet(stage)
            for entry in sorted(os.listdir(stage)):
                if not entry.startswith(f"{BUCKET_COL}="):
                    continue
                os.makedirs(os.path.join(self.data_dir, entry), exist_ok=True)
                for fn in sorted(os.listdir(os.path.join(stage, entry))):
                    if fn.endswith(".parquet"):  # Spark part names are unique
                        os.rename(
                            os.path.join(stage, entry, fn),
                            os.path.join(self.data_dir, entry, fn),
                        )
                        added.append(f"{entry}/{fn}")
        finally:
            shutil.rmtree(stage, ignore_errors=True)
        return added

    def _file_rows(self, rels) -> int:
        """Total rows of data files, from their parquet footers
        (driver-side metadata read — no data scan, the Iceberg way)."""
        import pyarrow.parquet as pq

        return sum(
            pq.ParquetFile(os.path.join(self.data_dir, rel)).metadata.num_rows
            for rel in rels
        )

    def _files_of(self, df: DataFrame) -> set[str]:
        """Relative paths of the data files named in ``df``'s ``f``
        column (``input_file_name()`` URIs) — which files a scan's
        surviving rows came from."""
        base = os.path.abspath(self.data_dir)
        out: set[str] = set()
        for r in df.select("f").distinct().collect():
            p = r["f"]
            if p.startswith("file:"):
                p = p[len("file:") :]
                while p.startswith("//"):
                    p = p[1:]
            out.add(os.path.relpath(os.path.abspath(p), base))
        return out

    @staticmethod
    def _swap_files(bucket_files: dict, removed: set, added: list[str]) -> dict:
        """A new manifest's file lists: the parent's files minus
        ``removed``, plus ``added`` in their buckets; buckets left
        empty are dropped."""
        out = {k: [r for r in fs if r not in removed] for k, fs in bucket_files.items()}
        for rel in added:
            out.setdefault(_bucket_of(rel), []).append(rel)
        return {k: fs for k, fs in out.items() if fs}

    def _manifest(
        self,
        parent: dict | None,
        operation: str,
        bucket_files: dict,
        schema: list[str],
        summary: dict,
        **extra,
    ) -> dict:
        """A snapshot manifest committing ``bucket_files`` on top of
        ``parent``; ``extra`` holds the op-specific keys
        (``update_files``, ``merge_files``, a rebucket's
        ``num_buckets``)."""
        return {
            "snapshot_id": uuid.uuid4().hex[:16],
            "parent_snapshot_id": parent["snapshot_id"] if parent else None,
            "timestamp_ms": int(time.time() * 1000),
            "operation": operation,
            "bucket_key": self.bucket_key,
            "num_buckets": self.num_buckets,
            "schema": schema,
            "bucket_files": bucket_files,
            "file_stats": self._manifest_file_stats(parent, bucket_files),
            "summary": summary,
            **extra,
        }

    # -- file-level column statistics (Iceberg manifest stats) ------------
    _STR_BOUND_LEN = 16  # Iceberg's write.metadata.metrics truncate(16)

    @classmethod
    def _truncated_str_bounds(cls, mn: str, mx: str) -> list:
        """Iceberg-style truncated string bounds: the lower bound is a
        plain prefix (still a valid lower bound); the truncated UPPER
        bound must be bumped above every string sharing the prefix —
        increment the last code point, carrying left past U+10FFFF.
        If every position carries out (pathological), the upper bound
        is None = unbounded (the file can never be skipped from
        above — conservative, never wrong)."""
        L = cls._STR_BOUND_LEN
        lo = mn if len(mn) <= L else mn[:L]
        if len(mx) <= L:
            return [lo, mx]
        hi = list(mx[:L])
        for i in range(len(hi) - 1, -1, -1):
            cp = ord(hi[i])
            if cp < 0x10FFFF:
                hi[i] = chr(cp + 1)
                return [lo, "".join(hi[: i + 1])]
        return [lo, None]

    def _numeric_file_stats(self, rel: str) -> dict:
        """Per-file [min, max] for numeric AND string columns, from
        the parquet footer (no data scan). String bounds are truncated
        the Iceberg way (prefix lower bound, incremented-prefix upper
        bound) so the manifest stays KB-sized however long the values
        get; binary payloads carry no useful bounds and are skipped."""
        import pyarrow.parquet as pq

        md = pq.ParquetFile(os.path.join(self.data_dir, rel)).metadata
        stats: dict[str, list] = {}
        for rg_i in range(md.num_row_groups):
            rg = md.row_group(rg_i)
            for ci in range(rg.num_columns):
                col = rg.column(ci)
                st = col.statistics
                if st is None or not st.has_min_max:
                    continue
                mn, mx = st.min, st.max
                if isinstance(mn, bool) or not isinstance(mn, (int, float, str)):
                    continue
                name = col.path_in_schema
                cur = stats.get(name)
                if cur is None:
                    stats[name] = [mn, mx]
                else:
                    cur[0] = min(cur[0], mn)
                    cur[1] = max(cur[1], mx)
        for name, cur in stats.items():
            if isinstance(cur[0], str):
                stats[name] = self._truncated_str_bounds(cur[0], cur[1])
        return stats

    def _manifest_file_stats(self, prev: dict | None, bucket_files: dict) -> dict:
        """file_stats for a new manifest: carry forward the previous
        manifest's entries for retained files (no re-read), compute
        footer stats only for files new to this snapshot."""
        prev_stats = (prev or {}).get("file_stats") or {}
        out: dict[str, dict] = {}
        for fs in bucket_files.values():
            for rel in fs:
                out[rel] = prev_stats[rel] if rel in prev_stats else self._numeric_file_stats(rel)
        return out

    # -- read -------------------------------------------------------------
    def _evolved_schema(self, prev: dict | None, df: DataFrame) -> list[str]:
        """Iceberg-style schema evolution contract for append: NEW
        columns are allowed (the manifest schema becomes the union —
        older files read them as null); DROPPING a known column or
        CHANGING a column's type is refused, because recording the
        writer's narrower/retyped schema would silently hide or
        corrupt data already in the table. (Iceberg allows explicit
        drops via an ALTER; an append is not that.)"""
        new = {f.name: f.dataType.simpleString() for f in df.schema.fields}
        if prev is None:
            return [f"{f.name}:{f.dataType.simpleString()}" for f in df.schema.fields]
        out = []
        for e in prev["schema"]:
            name, typ = e.split(":", 1)
            if name == BUCKET_COL and name not in new:
                out.append(e)
                continue
            if name not in new:
                raise ValueError(
                    f"append: dataframe drops known column '{name}' — schema "
                    "evolution allows ADDING columns only"
                )
            if new[name] != typ:
                raise ValueError(
                    f"append: column '{name}' type change {typ} → {new[name]} refused"
                )
            out.append(e)
        known = {e.split(":", 1)[0] for e in out}
        for f in df.schema.fields:
            if f.name not in known:
                out.append(f"{f.name}:{f.dataType.simpleString()}")
        return out

    def _schema_ddl(self, snap: dict) -> str:
        """Manifest schema as DDL, always including the partition-
        derived bucket column (the manifest records the writer's
        schema, which may or may not have carried it explicitly)."""
        cols = [e.split(":", 1) for e in snap["schema"]]
        ddl = ", ".join(f"{n} {t}" for n, t in cols)
        if not any(n == BUCKET_COL for n, _ in cols):
            ddl += f", {BUCKET_COL} int"
        return ddl

    def read(
        self,
        spark: SparkSession,
        buckets: list[int] | None = None,
        snapshot_id: str | None = None,
        merge_schema: bool = False,
        range_filter: dict | None = None,
    ) -> DataFrame:
        """Scan the table AT A SNAPSHOT (default: current) — the file
        list comes from the manifest, never from directory listing,
        which is what gives real snapshot semantics:

        - snapshot isolation: orphan files from a crashed append
          (data written, manifest never committed) are invisible;
        - time travel: pass an older ``snapshot_id`` to read the
          table as of that commit;
        - manifest-level pruning: a ``buckets`` filter prunes the
          FILE LIST itself (the reader never lists, opens or plans
          the other buckets' files — Iceberg's manifest pruning,
          stronger than a partition-directory predicate).

        ``basePath`` keeps the directory-derived ``bucket`` partition
        column in the schema. ``merge_schema=True`` reconciles files
        written under evolved schemas (a later append that ADDED a
        column): old files surface the new column as null — Iceberg's
        add-column evolution semantics.

        ``range_filter`` is manifest-level FILE skipping on the
        per-file column stats recorded at write time (Iceberg's
        min/max manifest stats — numeric exact, strings truncated to
        16-char Iceberg bounds): ``{"dur_ms": (lo, hi)}``
        (either bound None) drops every file whose recorded
        [min, max] cannot intersect — the reader never lists, opens
        or plans those files, a stronger cut than parquet row-group
        pushdown (which still pays an open per file). Files without
        recorded stats (pre-stats manifests) are conservatively kept.
        The caller must still apply the real predicate — file stats
        only bound which files MIGHT match.
        """
        snap = self.snapshot(snapshot_id)
        if snap is None:
            raise ValueError(f"no snapshot at {self.root}")
        files_by_bucket = snap["bucket_files"]
        if buckets is not None:
            keys = {str(int(b)) for b in buckets}
            files_by_bucket = {k: v for k, v in files_by_bucket.items() if k in keys}
        if range_filter:
            fstats = snap.get("file_stats") or {}

            def _may_match(rel: str) -> bool:
                st = fstats.get(rel)
                if st is None:
                    return True  # unknown stats → cannot skip
                for col, (lo, hi) in range_filter.items():
                    cs = st.get(col)
                    if cs is None:
                        continue
                    # cs[1] None = unbounded upper (truncated string
                    # bound that could not be incremented): only the
                    # lower bound can skip then
                    if lo is not None and cs[1] is not None and cs[1] < lo:
                        return False
                    if hi is not None and cs[0] > hi:
                        return False
                return True

            files_by_bucket = {
                k: [r for r in v if _may_match(r)] for k, v in files_by_bucket.items()
            }
        paths = [
            os.path.join(self.data_dir, rel)
            for fs in files_by_bucket.values()
            for rel in fs
        ]
        if not paths:
            return spark.createDataFrame([], self._schema_ddl(snap))
        reader = spark.read.option("basePath", self.data_dir)
        if merge_schema:
            # evolved-schema reconciliation needs footer inference
            reader = reader.option("mergeSchema", "true")
        else:
            # The manifest IS the schema authority (the Iceberg way):
            # supplying it skips the footer-inference job that
            # otherwise sits on the serial path of every read. Files
            # written before an added column surface it as null.
            reader = reader.schema(self._schema_ddl(snap))
        return reader.parquet(*paths)

    def appended_files(
        self, from_snapshot_id: str | None, to_snapshot_id: str | None = None
    ) -> list[str]:
        """Relative paths of data files ADDED BY APPEND snapshots in
        (from, to] — the append-only changelog. The lineage is walked
        snapshot by snapshot and ``rewrite``/``rebucket`` snapshots
        contribute NOTHING: their files carry rows an incremental
        consumer already processed (real Iceberg's incremental append
        scan skips replace snapshots the same way — a naive whole-
        range file diff would re-emit every compacted row). Falls back
        to the plain file diff only when an intermediate manifest has
        been expired (best effort, documented at expire_snapshots).

        A file added by an append and later REWRITTEN inside the same
        (from, to] range is still returned: its rows entered the table
        in-range and the consumer has not seen them (the rewrite only
        re-homed them; the original file may already be orphaned, so
        callers read the listed paths that still exist — append files
        are only removed after expire+orphan maintenance, which the
        fallback path covers)."""
        new = self.snapshot(to_snapshot_id)
        if new is None:
            raise ValueError(f"no snapshot at {self.root}")
        if from_snapshot_id is None:
            return sorted(rel for fs in new["bucket_files"].values() for rel in fs)

        chain = self._lineage_chain(new, from_snapshot_id)
        if chain is None:
            return self._file_diff(new, from_snapshot_id)

        added: list[str] = []
        for s in chain:
            added.extend(self._append_added_files(s))
        return sorted(set(added))

    def _lineage_chain(self, new: dict, from_snapshot_id: str) -> list[dict] | None:
        """Snapshots in (from, to], OLDEST FIRST — or None when the
        lineage is broken (expired intermediate/boundary manifest, or
        from-snapshot not an ancestor); callers then degrade to the
        plain file diff."""
        chain: list[dict] = []
        sid = new["snapshot_id"]
        snap: dict | None = new
        while sid is not None and sid != from_snapshot_id:
            if snap is None:
                return None  # expired intermediate manifest
            chain.append(snap)
            sid = snap["parent_snapshot_id"]
            snap = self._snapshot_if_present(sid) if sid is not None else None
        if sid is None and from_snapshot_id is not None:
            return None  # from-snapshot not an ancestor (or expired)
        # the per-append diff loads each element's parent; the OLDEST
        # element's parent is from_snapshot itself, which may be
        # expired even when the rest of the chain is intact
        for s in chain:
            if s["parent_snapshot_id"] and self._snapshot_if_present(s["parent_snapshot_id"]) is None:
                return None
        chain.reverse()
        return chain

    def _file_diff(self, new: dict, from_snapshot_id: str) -> list[str]:
        """Best-effort fallback changelog: files of the target snapshot
        not referenced by the (possibly expired) from-snapshot.
        At-least-once — may re-list rewritten files — but never lists
        a file outside the target manifest, so copy-on-write deletes
        stay invisible."""
        old = self._snapshot_if_present(from_snapshot_id)
        old_files = (
            {rel for fs in old["bucket_files"].values() for rel in fs} if old else set()
        )
        return sorted(
            rel
            for fs in new["bucket_files"].values()
            for rel in fs
            if rel not in old_files
        )

    def incremental_file_plan(
        self, from_snapshot_id: str | None, to_snapshot_id: str | None = None
    ) -> list[tuple[str, frozenset]]:
        """The row-exact incremental read plan shared by
        ``read_incremental`` and the streaming source: a list of
        (relative data file path, drop_keys) where ``drop_keys`` is
        the set of bucket-key values tombstoned by a LATER in-range
        ``delete`` snapshot — the consumer must anti-filter those
        rows out of that file (ordering-exact: a key re-appended
        after its delete appears in a later file with an empty/
        smaller drop set and IS delivered).

        Fallbacks (broken lineage, expired tombstone sidecar,
        from=None) return the target snapshot's file diff with EMPTY
        drop sets — those files belong to the target manifest, which
        copy-on-write deletes already scrubbed, so deleted rows still
        never surface (at-least-once on re-emission only)."""
        new = self.snapshot(to_snapshot_id)
        if new is None:
            raise ValueError(f"no snapshot at {self.root}")
        if from_snapshot_id is None:
            return [
                (rel, frozenset())
                for rel in sorted(
                    r for fs in new["bucket_files"].values() for r in fs
                )
            ]
        chain = self._lineage_chain(new, from_snapshot_id)
        if chain is not None:
            del_keys: dict[int, list] = {}
            for i, s in enumerate(chain):
                if s["operation"] == "delete":
                    keys = self.deleted_keys(s["snapshot_id"])
                    if keys is None:
                        chain = None  # expired sidecar → diff fallback
                        break
                    del_keys[i] = keys
        if chain is None:
            return [
                (rel, frozenset()) for rel in self._file_diff(new, from_snapshot_id)
            ]
        suffix: set = set()
        plan: list[tuple[str, frozenset]] = []
        for i in range(len(chain) - 1, -1, -1):
            fset = frozenset(suffix)
            for rel in self._append_added_files(chain[i]):
                plan.append((rel, fset))
            suffix |= set(del_keys.get(i, ()))
        plan.sort()
        return plan

    def operations_between(
        self, from_snapshot_id: str | None, to_snapshot_id: str | None = None
    ) -> list[str] | None:
        """Snapshot operations in (from, to], oldest first — or None
        when the lineage is broken (expired manifest / not an
        ancestor). Lets incremental consumers decide whether a pure
        delta suffices (appends/rewrites only) or a fallback full
        pass is needed (deletes/updates in range — the changelog
        carries keys, not pre-images, so decrements are impossible
        from it; see plans/incremental_stats.py)."""
        new = self.snapshot(to_snapshot_id)
        if new is None:
            raise ValueError(f"no snapshot at {self.root}")
        if from_snapshot_id is None:
            return None
        chain = self._lineage_chain(new, from_snapshot_id)
        return None if chain is None else [s["operation"] for s in chain]

    def _append_added_files(self, s: dict) -> list[str]:
        """Data files an APPEND snapshot added vs its parent (empty
        for rewrite/rebucket/delete snapshots — their files carry no
        new rows). MERGE snapshots contribute their BATCH files only
        (upsert-changelog semantics: consumers see the new row
        versions; the survivor rewrites carry no new rows)."""
        if s["operation"] == "merge":
            return list(s.get("merge_files", []))
        if s["operation"] != "append":
            return []
        parent = self.snapshot(s["parent_snapshot_id"]) if s["parent_snapshot_id"] else None
        parent_files = (
            {rel for fs in parent["bucket_files"].values() for rel in fs}
            if parent
            else set()
        )
        return [
            rel
            for fs in s["bucket_files"].values()
            for rel in fs
            if rel not in parent_files
        ]

    def read_incremental(
        self,
        spark: SparkSession,
        from_snapshot_id: str | None,
        to_snapshot_id: str | None = None,
    ) -> DataFrame:
        """Rows committed AFTER ``from_snapshot_id`` up to
        ``to_snapshot_id`` (default: current) — the append-only
        changelog (see ``appended_files``: maintenance rewrites and
        rebucket snapshots are skipped, so compaction cannot re-emit
        already-processed rows to an incremental consumer). This is
        the 100 TB incremental pattern: a downstream job remembers the
        snapshot it last processed and reads only the new files, never
        rescanning the table (``from_snapshot_id=None`` degrades to a
        full read of the target snapshot).

        DELETE-AWARE (r4 VERDICT ask #4): an in-range ``delete``
        snapshot's tombstoned keys are anti-filtered out of every
        EARLIER in-range append's rows — a deleted row is never
        emitted, and copy-on-write rewrite files are never listed, so
        deletions cannot resurrect. Ordering is respected: a key
        deleted and then RE-APPENDED later in range IS emitted (only
        appends before the delete are filtered). If a delete
        snapshot's tombstone sidecar is missing (expired), the reader
        degrades to the file-diff fallback, whose target-manifest
        files are already delete-clean."""
        new = self.snapshot(to_snapshot_id)
        if new is None:
            raise ValueError(f"no snapshot at {self.root}")

        def _read(rels: list[str]) -> DataFrame | None:
            paths = [
                os.path.join(self.data_dir, rel)
                for rel in rels
                if os.path.exists(os.path.join(self.data_dir, rel))
            ]
            if not paths:
                return None
            return (
                spark.read.option("basePath", self.data_dir)
                .schema(self._schema_ddl(new))
                .parquet(*paths)
            )

        empty = spark.createDataFrame([], self._schema_ddl(new))
        # group files by their anti-filter set → one scan per group
        groups: dict[frozenset, list[str]] = {}
        for rel, fset in self.incremental_file_plan(from_snapshot_id, to_snapshot_id):
            groups.setdefault(fset, []).append(rel)

        pieces = []
        key_field = next(
            (f for f in empty.schema.fields if f.name == self.bucket_key), None
        )
        for fset, rels in sorted(groups.items(), key=lambda kv: kv[1]):
            df = _read(sorted(set(rels)))
            if df is None:
                continue
            if fset:
                keys = sorted(fset)
                if len(keys) <= 1000:
                    df = df.where(~F.col(self.bucket_key).isin(keys))
                else:
                    # big tombstone set: broadcast anti-join instead of
                    # an IN-list literal bloating the plan
                    from pyspark.sql.types import StructField, StructType

                    kdf = spark.createDataFrame(
                        [(k,) for k in keys],
                        StructType([StructField(self.bucket_key, key_field.dataType)]),
                    )
                    df = df.join(F.broadcast(kdf), self.bucket_key, "left_anti")
            pieces.append(df)
        if not pieces:
            return empty
        out = pieces[0]
        for p in pieces[1:]:
            out = out.unionByName(p)
        return out

    # -- row-level delete -------------------------------------------------
    def _delete_keys_path(self, snapshot_id: str) -> str:
        return os.path.join(self.meta_dir, "deletes", f"del-{snapshot_id}.json")

    def delete_keys(self, spark: SparkSession, keys: list) -> str | None:
        """PII-erasure fast path: delete the rows whose bucket key is
        in ``keys``, with the file-discovery scan PRUNED to the keys'
        hash buckets through the manifest (``read(buckets=...)`` —
        Iceberg's manifest-level pruning). At 10^12 rows a
        right-to-be-forgotten request for one user touches only that
        user's clips' buckets, not the table; the general
        ``delete(predicate)`` path must scan (with parquet pushdown)
        because an arbitrary predicate can match anywhere."""
        keys = sorted(set(keys))
        if not keys:
            return None
        snap = self.snapshot()
        if snap is None:
            raise ValueError(f"no snapshot at {self.root}")
        # The MANIFEST's bucket count is authoritative (same partition-
        # spec discipline as append): a handle constructed with the
        # default count would hash the keys to the WRONG buckets and
        # silently delete nothing.
        if snap.get("num_buckets") not in (None, self.num_buckets):
            self.num_buckets = int(snap["num_buckets"])
        key_type = next(
            (e.split(":", 1)[1] for e in snap["schema"] if e.split(":", 1)[0] == self.bucket_key),
            "string",
        )
        kdf = spark.createDataFrame([(k,) for k in keys], f"{self.bucket_key} {key_type}")
        buckets = sorted(
            r[BUCKET_COL]
            for r in self.with_bucket(kdf).select(BUCKET_COL).distinct().collect()
        )
        return self.delete(
            spark, F.col(self.bucket_key).isin(keys), scan_buckets=buckets
        )

    def delete(
        self,
        spark: SparkSession,
        predicate,
        scan_buckets: list[int] | None = None,
        scan_range: dict | None = None,
    ) -> str | None:
        """Row-level DELETE (copy-on-write, Iceberg's
        `delete-mode=copy-on-write`): rewrite ONLY the data files that
        contain matching rows, without those rows, and commit a
        ``delete`` snapshot whose manifest swaps just the affected
        files. This is the PII right-to-be-forgotten path a
        training-data store must have (r4 VERDICT ask #4):

        - current reads no longer see the rows (immediately);
        - time travel to pre-delete snapshots still sees them
          (manifest immutability) until ``expire_snapshots``;
        - ``expire_snapshots`` + ``remove_orphans`` then PHYSICALLY
          erase the bytes from disk — the full GDPR erasure sequence
          is delete → expire → remove_orphans;
        - incremental consumers skip the delete snapshot's rewritten
          files (non-append op) and additionally anti-filter rows
          whose keys a later in-range delete tombstoned — a deleted
          row is never emitted or resurrected (``read_incremental``);
        - compaction/rebucket read post-delete manifests, so the
          deletion survives every maintenance rewrite.

        ``predicate`` is a Column or SQL string. Rows where it is
        NULL are KEPT (SQL DELETE semantics). Cost is proportional to
        the affected files, not the table: the file-discovery scan
        prunes via parquet pushdown, and only matching files are
        rewritten. Deleted key values are recorded in a tombstone
        sidecar (metadata/deletes/del-<sid>.json) for changelog
        filtering — at real 10^12 scale that sidecar would be a
        parquet delete-manifest, same semantics.

        Returns the new snapshot id, or None when nothing matched.
        """
        snap = self.snapshot()
        if snap is None:
            raise ValueError(f"no snapshot at {self.root}")
        cond = F.expr(predicate) if isinstance(predicate, str) else predicate
        hit = F.coalesce(cond.cast("boolean"), F.lit(False))

        # 1. which files contain matching rows. The RAW predicate goes
        # into where() — filter semantics already drop null/false rows,
        # and wrapping it in coalesce(cast(...)) would block parquet
        # predicate pushdown, turning the discovery scan into a full
        # decode (plan-asserted in tests). The null-safe `hit` form is
        # only needed on the KEEP side below, where null must mean
        # "keep". scan_buckets additionally prunes the FILE LIST via
        # the manifest — the delete_keys fast path.
        affected = self._files_of(
            self.read(spark, buckets=scan_buckets, range_filter=scan_range)
            .where(cond)
            .select(F.input_file_name().alias("f"))
        )
        if not affected:
            return None

        # 2. tombstone the deleted keys (changelog anti-filter sidecar)
        aff_paths = [os.path.join(self.data_dir, rel) for rel in sorted(affected)]
        reader = spark.read.option("basePath", self.data_dir).schema(self._schema_ddl(snap))
        aff_df = reader.parquet(*aff_paths)
        deleted_keys = sorted(
            r["k"]
            for r in aff_df.where(cond)
            .select(F.col(self.bucket_key).alias("k"))
            .distinct()
            .collect()
        )

        # 3. rewrite affected files without the matching rows
        added = self._write_staged(
            aff_df.where(~hit).repartition(
                max(1, len({_bucket_of(r) for r in affected})), BUCKET_COL
            )
        )
        n_deleted = self._file_rows(affected) - self._file_rows(added)
        if n_deleted <= 0:  # nothing actually removed — don't commit
            return None

        manifest = self._manifest(
            snap,
            "delete",
            self._swap_files(snap["bucket_files"], affected, added),
            snap["schema"],
            {
                "total_rows": snap["summary"]["total_rows"] - n_deleted,
                "deleted_rows": n_deleted,
                "rewritten_files": len(affected),
            },
        )
        sid = manifest["snapshot_id"]
        os.makedirs(os.path.join(self.meta_dir, "deletes"), exist_ok=True)
        with open(self._delete_keys_path(sid), "w") as f:
            json.dump({"keys": deleted_keys}, f)
        return self._commit_snapshot(manifest)

    def update(
        self,
        spark: SparkSession,
        predicate,
        assignments: dict,
        scan_buckets: list[int] | None = None,
        scan_range: dict | None = None,
    ) -> str | None:
        """Row-level UPDATE … SET (copy-on-write, Iceberg's
        `update-mode=copy-on-write`): rewrite ONLY the data files
        containing rows matching ``predicate``, applying
        ``assignments`` ({column: Column expression}) to the matching
        rows and copying everything else byte-identically; commit an
        ``update`` snapshot that swaps just the affected files.

        Same discovery/pushdown discipline as ``delete`` (raw
        predicate in the scan filter so parquet pushdown applies;
        ``scan_buckets``/``scan_range`` prune the file list via the
        manifest first). Row COUNT is preserved and asserted — an
        update that changes cardinality refuses to commit. Time
        travel to pre-update snapshots sees the old values; like
        compaction, incremental consumers skip the non-append
        snapshot (this is layout-preserving maintenance of VALUES,
        not new data; a CDC-grade changelog would emit update rows —
        out of scope here, documented).

        Returns the new snapshot id, or None when nothing matched.
        """
        snap = self.snapshot()
        if snap is None:
            raise ValueError(f"no snapshot at {self.root}")
        if not assignments:
            raise ValueError("update: empty assignments")
        cond = F.expr(predicate) if isinstance(predicate, str) else predicate
        hit = F.coalesce(cond.cast("boolean"), F.lit(False))

        affected = self._files_of(
            self.read(spark, buckets=scan_buckets, range_filter=scan_range)
            .where(cond)
            .select(F.input_file_name().alias("f"))
        )
        if not affected:
            return None

        aff_paths = [os.path.join(self.data_dir, rel) for rel in sorted(affected)]
        reader = spark.read.option("basePath", self.data_dir).schema(self._schema_ddl(snap))
        aff_df = reader.parquet(*aff_paths)
        bad = sorted(set(assignments) - set(aff_df.columns))
        if bad:
            raise ValueError(f"update: unknown columns {bad}")
        upd_keys = [
            r[0]
            for r in aff_df.where(cond).select(self.bucket_key).distinct().collect()
        ]
        n_updated = aff_df.where(cond).count()
        cols = []
        for c in aff_df.columns:
            if c in assignments:
                newv = assignments[c]
                field = aff_df.schema[c].dataType
                cols.append(
                    F.when(hit, F.expr(newv) if isinstance(newv, str) else newv)
                    .otherwise(F.col(c))
                    .cast(field)
                    .alias(c)
                )
            else:
                cols.append(F.col(c))

        added = self._write_staged(
            aff_df.select(*cols).repartition(
                max(1, len({_bucket_of(r) for r in affected})), BUCKET_COL
            )
        )
        old_rows = self._file_rows(affected)
        new_rows = self._file_rows(added)
        if old_rows != new_rows:
            raise RuntimeError(
                f"update: rewrite changed row count {old_rows} → {new_rows}; "
                "refusing to commit (orphan sweep will collect the new files)"
            )
        manifest = self._manifest(
            snap,
            "update",
            self._swap_files(snap["bucket_files"], affected, added),
            snap["schema"],
            {
                "total_rows": snap["summary"]["total_rows"],
                "updated_rows": n_updated,
                "rewritten_files": len(affected),
            },
            update_files=sorted(added),
        )
        self._write_changed_keys(manifest["snapshot_id"], upd_keys)
        return self._commit_snapshot(manifest)

    def merge(self, spark: SparkSession, df: DataFrame) -> str:
        """Copy-on-write MERGE (upsert) keyed on the bucket key:
        batch rows whose key already exists REPLACE the stored rows;
        the rest INSERT — one ``merge`` snapshot. Discovery prunes to
        the batch keys' hash buckets via the manifest (delete_keys'
        fast path) and matches with a semi join, never an IN-list
        literal; the rewrite touches only files containing matched
        keys. Schema follows the append evolution contract (new
        columns allowed, drops/retypes refused). Duplicate keys
        WITHIN the batch are refused — the result would be undefined
        (Iceberg MERGE errors the same way).

        Changelog semantics: incremental readers see the batch files
        (the NEW row versions — standard upsert changelog); the old
        versions were emitted when their appends happened, so keyed
        consumers converge on the latest state. Time travel to
        pre-merge snapshots sees the old rows.
        """
        snap = self.snapshot()
        if snap is None:
            raise ValueError(f"no snapshot at {self.root}")
        if snap.get("num_buckets") not in (None, self.num_buckets):
            self.num_buckets = int(snap["num_buckets"])
        evolved = self._evolved_schema(snap, df)
        key = self.bucket_key
        bucketed = df if BUCKET_COL in df.columns else self.with_bucket(df)
        n_batch = bucketed.count()
        batch_keys = bucketed.select(key).distinct()
        n_keys = batch_keys.count()
        if n_keys != n_batch:
            raise ValueError(
                f"merge: batch has {n_batch - n_keys} duplicate '{key}' values — "
                "upsert per key is undefined; dedup the batch first"
            )
        buckets = sorted(
            r[BUCKET_COL] for r in bucketed.select(BUCKET_COL).distinct().collect()
        )

        affected = self._files_of(
            self.read(spark, buckets=buckets)
            # bind the file name on the scan side BEFORE the join —
            # input_file_name() is ambiguous across two sources
            .select(F.col(key), F.input_file_name().alias("f"))
            .join(batch_keys, key, "left_semi")
        )

        # phase 1: rewrite affected files without the matched keys
        survivor_files: list[str] = []
        matched_keys: list = []
        if affected:
            aff_paths = [os.path.join(self.data_dir, rel) for rel in sorted(affected)]
            aff_df = (
                spark.read.option("basePath", self.data_dir)
                .schema(self._schema_ddl(snap))
                .parquet(*aff_paths)
            )
            survivor_files = self._write_staged(
                aff_df.join(batch_keys, key, "left_anti").repartition(
                    max(1, len({_bucket_of(r) for r in affected})), BUCKET_COL
                )
            )
            matched_keys = [
                r[0]
                for r in aff_df.join(batch_keys, key, "left_semi")
                .select(key)
                .distinct()
                .collect()
            ]
        # phase 2: append the batch itself (captured separately — these
        # are the changelog-visible files)
        merge_files = self._write_staged(bucketed.repartition(self.num_buckets, BUCKET_COL))
        matched = self._file_rows(affected) - self._file_rows(survivor_files)
        manifest = self._manifest(
            snap,
            "merge",
            self._swap_files(snap["bucket_files"], affected, survivor_files + merge_files),
            evolved,
            {
                "total_rows": snap["summary"]["total_rows"] + n_batch - matched,
                "updated_rows": matched,
                "inserted_rows": n_batch - matched,
                "rewritten_files": len(affected),
            },
            merge_files=merge_files,
        )
        self._write_changed_keys(manifest["snapshot_id"], matched_keys)
        return self._commit_snapshot(manifest)

    def deleted_keys(self, snapshot_id: str) -> list | None:
        """Tombstoned key values of a ``delete`` snapshot (None when
        no sidecar exists — e.g. it was expired along with the
        manifest)."""
        try:
            with open(self._delete_keys_path(snapshot_id)) as f:
                return json.load(f)["keys"]
        except FileNotFoundError:
            return None

    def _changed_keys_path(self, snapshot_id: str) -> str:
        return os.path.join(self.meta_dir, "changes", f"chg-{snapshot_id}.json")

    def _write_changed_keys(self, snapshot_id: str, keys: list) -> None:
        os.makedirs(os.path.join(self.meta_dir, "changes"), exist_ok=True)
        with open(self._changed_keys_path(snapshot_id), "w") as f:
            json.dump({"keys": sorted(keys)}, f)

    def changed_keys(self, snapshot_id: str) -> list | None:
        """Keys an ``update``/``merge`` snapshot REPLACED (None when
        the sidecar is missing — expired)."""
        try:
            with open(self._changed_keys_path(snapshot_id)) as f:
                return json.load(f)["keys"]
        except FileNotFoundError:
            return None

    def read_changes(
        self,
        spark: SparkSession,
        from_snapshot_id: str,
        to_snapshot_id: str | None = None,
    ) -> DataFrame:
        """CDC changelog between two snapshots: one row per change,
        with ``change_op`` ∈ {insert, update, delete} and
        ``change_seq`` (snapshot index in lineage order — replay in
        (change_seq) order). INSERT/UPDATE rows carry the full NEW row
        version; DELETE rows carry only the key. The replay invariant
        (pytest-held): applying the changes in order onto the FROM
        snapshot reproduces the TO snapshot exactly.

        Requires intact lineage and sidecars — CDC is exact or it is
        an error (unlike ``read_incremental``, which degrades to an
        at-least-once file diff)."""
        new = self.snapshot(to_snapshot_id)
        if new is None:
            raise ValueError(f"no snapshot at {self.root}")
        chain = self._lineage_chain(new, from_snapshot_id)
        if chain is None:
            raise ValueError("read_changes: lineage broken (expired snapshot)")
        ddl = self._schema_ddl(new)
        key = self.bucket_key
        key_type = next(
            (e.split(":", 1)[1] for e in new["schema"] if e.split(":", 1)[0] == key),
            "string",
        )
        out_ddl = f"change_op string, change_seq int, {ddl}"
        pieces = []
        empty = spark.createDataFrame([], out_ddl)

        def _rows_of(rels: list[str]) -> DataFrame | None:
            paths = [os.path.join(self.data_dir, r) for r in rels]
            paths = [p for p in paths if os.path.exists(p)]
            if not paths:
                return None
            return spark.read.option("basePath", self.data_dir).schema(ddl).parquet(*paths)

        # chain is oldest-first (= replay order)
        for seq, s in enumerate(chain):
            op = s["operation"]
            if op == "append":
                df = _rows_of(self._append_added_files(s))
                if df is not None:
                    pieces.append(
                        df.select(
                            F.lit("insert").alias("change_op"),
                            F.lit(seq).alias("change_seq"),
                            "*",
                        )
                    )
            elif op in ("update", "merge"):
                changed = self.changed_keys(s["snapshot_id"])
                if changed is None:
                    raise ValueError(
                        f"read_changes: changed-keys sidecar missing for {op} "
                        f"snapshot {s['snapshot_id']}"
                    )
                rels = (
                    s.get("merge_files", [])
                    if op == "merge"
                    else s.get("update_files", [])
                )
                df = _rows_of(list(rels))
                if df is not None:
                    is_upd = F.col(key).isin(changed) if changed else F.lit(False)
                    want = F.lit(True) if op == "merge" else is_upd
                    pieces.append(
                        df.where(want).select(
                            F.when(is_upd, F.lit("update"))
                            .otherwise(F.lit("insert"))
                            .alias("change_op"),
                            F.lit(seq).alias("change_seq"),
                            "*",
                        )
                    )
            elif op == "delete":
                keys = self.deleted_keys(s["snapshot_id"])
                if keys is None:
                    raise ValueError(
                        "read_changes: tombstone sidecar missing for delete "
                        f"snapshot {s['snapshot_id']}"
                    )
                if keys:
                    kdf = spark.createDataFrame([(k,) for k in keys], f"{key} {key_type}")
                    pieces.append(
                        kdf.select(
                            F.lit("delete").alias("change_op"),
                            F.lit(seq).alias("change_seq"),
                            *[
                                F.col(key) if n == key else F.lit(None).cast(t).alias(n)
                                for n, t in (e.split(" ", 1) for e in ddl.split(", "))
                            ],
                        )
                    )
            # rewrite/rebucket/zorder/expire: no row changes
        if not pieces:
            return empty
        out = pieces[0]
        for p in pieces[1:]:
            out = out.unionByName(p)
        return out

    # -- maintenance ------------------------------------------------------
    # The three table-maintenance actions every long-lived Iceberg
    # deployment schedules (Iceberg's rewrite_data_files /
    # expire_snapshots / remove_orphan_files). At 10^12 clips with
    # streaming/incremental appends the small-file problem is not
    # cosmetic: per-file open/plan cost sits on the serial path of
    # every read, and an append-only table never reclaims a byte
    # without snapshot expiry + orphan removal.

    def compact(
        self,
        spark: SparkSession,
        min_files: int = 2,
        sort_within: bool = True,
        target_file_bytes: int | None = None,
    ) -> str | None:
        """Rewrite every bucket holding ≥ ``min_files`` data files and
        commit a ``rewrite`` snapshot whose manifest swaps the
        rewritten buckets' file lists. Row-preserving by construction
        (asserted against parquet footers); readers pinned to older
        snapshots still see the OLD files — they are not deleted here
        (that is ``remove_orphans``' job, after ``expire_snapshots``
        retires the manifests referencing them).

        ``target_file_bytes`` is Iceberg's write.target-file-size for
        the rewrite: each bucket is bin-packed into
        ≈ceil(bucket_bytes / target) output files instead of exactly
        one (at 10^12 rows a one-file-per-bucket rewrite produces
        multi-GB files that serialize every downstream task reading
        that bucket). Sizing uses the CURRENT files' on-disk bytes as
        the estimate and ``repartitionByRange`` on (bucket, key) so
        output files hold contiguous key ranges — which also keeps
        the per-file manifest stats selective. None keeps the
        one-file-per-bucket behavior (right at test scale).

        Returns the new snapshot id, or None if nothing to compact.

        Crash safety: the rewrite goes through ``_write_staged`` and
        the manifest is committed last, so a crashed compaction is
        invisible to every reader; its stage directory or renamed
        files are swept by ``remove_orphans``. The manifest lists
        exactly the files this rewrite wrote (NOT "any unknown file" —
        that would let it absorb a crashed compaction's duplicates or a
        concurrent writer's output).
        """
        snap = self.snapshot()
        if snap is None:
            raise ValueError(f"no snapshot at {self.root}")
        victims = sorted(
            int(k) for k, fs in snap["bucket_files"].items() if len(fs) >= min_files
        )
        if not victims:
            return None

        df = self.read(spark, buckets=victims)
        if target_file_bytes:
            n_out = 0
            for k in victims:
                bts = sum(
                    os.path.getsize(os.path.join(self.data_dir, rel))
                    for rel in snap["bucket_files"][str(k)]
                    if os.path.exists(os.path.join(self.data_dir, rel))
                )
                n_out += max(1, -(-bts // target_file_bytes))
            df = df.repartitionByRange(
                int(n_out), F.col(BUCKET_COL), F.col(self.bucket_key)
            ).sortWithinPartitions(BUCKET_COL, self.bucket_key)
        else:
            df = df.repartition(len(victims), BUCKET_COL)
            if sort_within:
                df = df.sortWithinPartitions(self.bucket_key)
        return self._commit_bucket_rewrite(
            snap, victims, self._write_staged(df), "rewrite", {"compacted_buckets": victims}
        )

    def _commit_bucket_rewrite(
        self,
        snap: dict,
        victims: list[int],
        added: list[str],
        operation: str,
        extra_summary: dict,
    ) -> str:
        """Shared tail of the bucket-rewrite operations (compact,
        zorder): refuse to commit a lossy rewrite (footer row counts
        must match) and commit a snapshot whose manifest swaps the
        victims' file lists for the ``added`` ones."""
        olds = {r for k in victims for r in snap["bucket_files"][str(k)]}
        old_rows, new_rows = self._file_rows(olds), self._file_rows(added)
        if old_rows != new_rows:  # refuse to commit a lossy rewrite
            raise RuntimeError(
                f"{operation} row mismatch: {old_rows} -> {new_rows}; not committing"
            )
        manifest = self._manifest(
            snap,
            operation,
            self._swap_files(snap["bucket_files"], olds, added),
            snap["schema"],
            {"total_rows": snap["summary"]["total_rows"], **extra_summary},
        )
        return self._commit_snapshot(manifest)

    def zorder(
        self,
        spark: SparkSession,
        cols: list[str],
        files_per_bucket: int = 4,
    ) -> str:
        """Z-order (Morton-curve) clustering rewrite — the data-layout
        maintenance that makes the manifest's per-file [min, max]
        stats (``file_stats``) simultaneously selective on EVERY
        listed dimension, not just a sort-leading one: after
        ``zorder(["dur_ms", "sr_hz"])``, ``read(range_filter=...)``
        skips files for a range predicate on either column.

        Mechanics: each column is rank-scaled to a fixed-point grid
        (min/max from one tiny agg), the grids' bits are interleaved
        into one z-value — built declaratively from Catalyst
        shift/AND/OR terms, no UDF — and every bucket's rows are
        rewritten as ~``files_per_bucket`` files of contiguous
        z-ranges (``repartitionByRange`` on (bucket, z) + a
        within-partition sort; the z column is dropped before the
        write, so the layout changes and the schema doesn't). Commit
        semantics are identical to ``compact``: row-preserving by
        footer assertion, old snapshots keep reading the old layout,
        crash-safe because the manifest commits last.

        At 10^12 rows this is the difference between "range predicate
        on a non-partition column reads everything" and "reads the
        z-neighborhood": O(fraction^(1/d)) of files per d-dim curve
        locality instead of all of them.
        """
        if not cols:
            raise ValueError("zorder needs at least one column")
        snap = self.snapshot()
        if snap is None:
            raise ValueError(f"no snapshot at {self.root}")
        victims = sorted(int(k) for k in snap["bucket_files"] if snap["bucket_files"][k])
        if not victims:
            return snap["snapshot_id"]

        df = self.read(spark, buckets=victims)
        for c in cols:
            if c not in df.columns:
                raise ValueError(f"zorder column {c!r} not in table schema")
        bits = min(16, 63 // len(cols))
        mm = df.agg(
            *[F.min(c).alias(f"mn_{c}") for c in cols],
            *[F.max(c).alias(f"mx_{c}") for c in cols],
        ).first()
        scaled = []
        top = (1 << bits) - 1
        for c in cols:
            mn, mx = mm[f"mn_{c}"], mm[f"mx_{c}"]
            if mn is None or mx is None or float(mx) == float(mn):
                scaled.append(F.lit(0).cast("long"))
                continue
            frac = (F.coalesce(F.col(c), F.lit(mn)).cast("double") - F.lit(float(mn))) / F.lit(
                float(mx) - float(mn)
            )
            scaled.append(F.round(frac * top).cast("long"))
        z = F.lit(0).cast("long")
        for i in range(bits):
            for j, s in enumerate(scaled):
                z = z.bitwiseOR(
                    F.shiftleft(F.shiftright(s, i).bitwiseAND(F.lit(1)), i * len(scaled) + j)
                )

        added = self._write_staged(
            df.withColumn("_z", z)
            .repartitionByRange(
                max(len(victims) * files_per_bucket, 1), F.col(BUCKET_COL), F.col("_z")
            )
            .sortWithinPartitions(BUCKET_COL, "_z")
            .drop("_z")
        )
        return self._commit_bucket_rewrite(snap, victims, added, "zorder", {"zorder_by": cols})

    def rebucket(self, spark: SparkSession, new_num_buckets: int) -> str:
        """Partition-spec evolution: rewrite the CURRENT snapshot's
        rows under ``bucket(new_num_buckets, key)`` and commit a
        ``rebucket`` snapshot. The bucket count chosen at 200 k rows
        stops fitting at 10^12 — this is the migration path that keeps
        history intact: snapshots before the rebucket stay readable
        under THEIR spec (each manifest records its own
        ``num_buckets``; time travel and ``bucket_ids`` are
        per-snapshot), subsequent appends follow the new spec
        automatically, and incremental consumers skip the rebucket
        snapshot entirely (``appended_files``) — its rows are not new.

        Row-count asserted like ``compact``; the manifest is committed
        last, so a crashed rebucket is invisible and its files are
        swept by ``remove_orphans``."""
        if new_num_buckets < 1:
            raise ValueError(f"num_buckets must be >= 1, got {new_num_buckets}")
        snap = self.snapshot()
        if snap is None:
            raise ValueError(f"no snapshot at {self.root}")
        if int(snap["num_buckets"]) == new_num_buckets:
            raise ValueError(f"table already has {new_num_buckets} buckets")

        df = self.read(spark).drop(BUCKET_COL)
        old_buckets = self.num_buckets
        self.num_buckets = new_num_buckets
        try:
            added = self._write_staged(
                self.with_bucket(df).repartition(new_num_buckets, BUCKET_COL)
            )
        except Exception:
            self.num_buckets = old_buckets
            raise
        new_rows = self._file_rows(added)
        if new_rows != snap["summary"]["total_rows"]:
            raise RuntimeError(
                f"rebucket row mismatch: {snap['summary']['total_rows']} -> "
                f"{new_rows}; not committing"
            )
        manifest = self._manifest(
            snap,
            "rebucket",
            self._swap_files({}, set(), added),
            snap["schema"],
            {
                "total_rows": snap["summary"]["total_rows"],
                "previous_num_buckets": int(snap["num_buckets"]),
            },
            num_buckets=new_num_buckets,
        )
        return self._commit_snapshot(manifest)

    def expire_snapshots(
        self, keep_last: int = 1, older_than_ms: int | None = None
    ) -> list[str]:
        """Retire old snapshots: their manifest files are deleted
        (time travel to them now fails), making the data files only
        they referenced eligible for ``remove_orphans``. Retention is
        Iceberg's two-knob rule: the newest ``keep_last`` snapshots of
        the current lineage ALWAYS survive, and with ``older_than_ms``
        set, lineage snapshots committed at or after that timestamp
        survive too (age-based retention — "keep a week of time
        travel" — layered on the positional floor). The current
        snapshot is always retained. Returns the expired ids."""
        if keep_last < 1:
            raise ValueError("keep_last must be >= 1")
        lineage = [h["snapshot_id"] for h in self.history()]
        keep = set(lineage[:keep_last])
        if older_than_ms is not None:
            for h in self.history():
                if h["timestamp_ms"] >= older_than_ms:
                    keep.add(h["snapshot_id"])
        # Refs are GC roots (Iceberg expire_snapshots honors refs): a
        # snapshot reachable from any branch or tag head survives
        # expiry — time travel within a live branch must keep working.
        # Drop the branch/tag first to reclaim its history.
        refs = self.refs()
        for sid in [*refs["branches"].values(), *refs["tags"].values()]:
            while sid is not None and sid not in keep:
                keep.add(sid)
                s = self._snapshot_if_present(sid)
                sid = s["parent_snapshot_id"] if s else None
        expired = []
        for entry in os.listdir(self.meta_dir):
            if not (entry.startswith("snap-") and entry.endswith(".json")):
                continue
            sid = entry[len("snap-") : -len(".json")]
            if sid in keep:
                continue
            os.remove(os.path.join(self.meta_dir, entry))
            try:  # a delete snapshot's tombstone sidecar expires with it
                os.remove(self._delete_keys_path(sid))
            except FileNotFoundError:
                pass
            expired.append(sid)
        if expired:
            # Sever the dangling parent pointer of EVERY retained
            # manifest whose parent expired, so lineage walks
            # (history(), refs chains) stop at a retention boundary
            # instead of crashing into a missing file. With refs and
            # age-based retention there can be several such boundary
            # manifests, not just the keep_last-th one.
            expired_set = set(expired)
            for sid in keep:
                s = self._snapshot_if_present(sid)
                if s and s["parent_snapshot_id"] in expired_set:
                    s["parent_snapshot_id"] = None
                    path = os.path.join(self.meta_dir, f"snap-{sid}.json")
                    tmp = path + ".tmp"
                    with open(tmp, "w") as f:
                        json.dump(s, f, indent=1, sort_keys=True)
                    os.rename(tmp, path)
        return sorted(expired)

    def remove_orphans(self, older_than_s: float = 3 * 24 * 3600) -> list[str]:
        """Delete data files referenced by NO retained snapshot
        manifest. ``older_than_s`` is the same safety window real
        Iceberg applies (default 3 days): a file younger than it is
        assumed to belong to an in-flight, not-yet-committed write and
        is left alone. Pass 0 only when no writer can be active.
        Abandoned ``data/_stage-*`` directories (a writer killed inside
        ``_write_staged``) go too, once their newest entry is older
        than the window. Returns the deleted relative paths."""
        referenced: set[str] = set()
        for entry in os.listdir(self.meta_dir):
            if entry.startswith("snap-") and entry.endswith(".json"):
                with open(os.path.join(self.meta_dir, entry)) as f:
                    m = json.load(f)
                for fs in m["bucket_files"].values():
                    referenced.update(fs)
        cutoff = time.time() - older_than_s
        removed = []
        for rel in sorted(self._data_listing() - referenced):
            path = os.path.join(self.data_dir, rel)
            if os.path.getmtime(path) <= cutoff:
                os.remove(path)
                removed.append(rel)
        stages = (
            [e for e in os.listdir(self.data_dir) if e.startswith(STAGE_PREFIX)]
            if os.path.isdir(self.data_dir)
            else []
        )
        for entry in sorted(stages):
            stage = os.path.join(self.data_dir, entry)
            try:
                newest = max(
                    (
                        os.path.getmtime(os.path.join(d, n))
                        for d, dirs, files in os.walk(stage)
                        for n in [".", *dirs, *files]
                    ),
                    default=None,  # gone already: its writer finished
                )
            except FileNotFoundError:  # changing under us: a live write
                continue
            if newest is not None and newest <= cutoff:
                shutil.rmtree(stage, ignore_errors=True)
                removed.append(entry)
        return removed

    def _data_listing(self) -> set[str]:
        """Relative paths of every parquet data file on disk."""
        out: set[str] = set()
        if not os.path.isdir(self.data_dir):
            return out
        for entry in os.listdir(self.data_dir):
            if not entry.startswith(f"{BUCKET_COL}="):
                continue
            sub = os.path.join(self.data_dir, entry)
            for fn in os.listdir(sub):
                if fn.endswith(".parquet"):
                    out.add(f"{entry}/{fn}")
        return out

    def history(self) -> list[dict]:
        """Snapshot lineage, newest first (walks parent pointers)."""
        out = []
        sid = self.current_snapshot_id()
        while sid is not None:
            snap = self.snapshot(sid)
            out.append(
                {
                    "snapshot_id": snap["snapshot_id"],
                    "parent_snapshot_id": snap["parent_snapshot_id"],
                    "timestamp_ms": snap["timestamp_ms"],
                    "operation": snap["operation"],
                    "total_rows": snap["summary"]["total_rows"],
                }
            )
            sid = snap["parent_snapshot_id"]
        return out

    # -- refs: branches and tags (write-audit-publish) ---------------------
    # Iceberg's named refs. A BRANCH is a movable pointer that the
    # branch view's mutators advance; a TAG is an immutable pinned
    # snapshot. Together they give the deployment pattern a QC
    # pipeline actually ships with: ingest appends to a staging
    # branch, the audit step runs the QC gates against the branch
    # head, and only a passing batch is published to main — as a
    # pure pointer move (fast_forward), never a data copy. Data files
    # are shared between refs (branching is O(1) metadata).

    def _refs_path(self) -> str:
        return os.path.join(self.meta_dir, "refs.json")

    def refs(self) -> dict:
        """{"branches": {name: snapshot_id}, "tags": {...}} — 'main'
        itself lives in version-hint.txt, not here."""
        try:
            with open(self._refs_path()) as f:
                return json.load(f)
        except FileNotFoundError:
            return {"branches": {}, "tags": {}}

    def _write_refs(self, refs: dict) -> None:
        os.makedirs(self.meta_dir, exist_ok=True)
        tmp = self._refs_path() + ".tmp"
        with open(tmp, "w") as f:
            json.dump(refs, f, indent=1, sort_keys=True)
        os.rename(tmp, self._refs_path())  # atomic

    def _resolve_start(self, at_snapshot_id: str | None) -> str:
        sid = at_snapshot_id or self.current_snapshot_id()
        if sid is None:
            raise ValueError("refs need an existing snapshot (empty table)")
        if self._snapshot_if_present(sid) is None:
            raise ValueError(f"no such snapshot: {sid}")
        return sid

    def create_branch(self, name: str, at_snapshot_id: str | None = None) -> str:
        """Create a movable branch ref at the given (default current)
        snapshot. Returns the branch head snapshot id."""
        if name == "main" or not name:
            raise ValueError(f"invalid branch name: {name!r}")
        with self._commit_lock():
            refs = self.refs()
            if name in refs["branches"] or name in refs["tags"]:
                raise ValueError(f"ref already exists: {name!r}")
            sid = self._resolve_start(at_snapshot_id)
            refs["branches"][name] = sid
            self._write_refs(refs)
        return sid

    def create_tag(self, name: str, at_snapshot_id: str | None = None) -> str:
        """Pin an immutable named snapshot (release/audit marker).
        Tags cannot be moved — drop and recreate to retarget."""
        if name == "main" or not name:
            raise ValueError(f"invalid tag name: {name!r}")
        with self._commit_lock():
            refs = self.refs()
            if name in refs["branches"] or name in refs["tags"]:
                raise ValueError(f"ref already exists: {name!r}")
            sid = self._resolve_start(at_snapshot_id)
            refs["tags"][name] = sid
            self._write_refs(refs)
        return sid

    def drop_branch(self, name: str) -> None:
        with self._commit_lock():
            refs = self.refs()
            if name not in refs["branches"]:
                raise ValueError(f"no such branch: {name!r}")
            del refs["branches"][name]
            self._write_refs(refs)

    def drop_tag(self, name: str) -> None:
        with self._commit_lock():
            refs = self.refs()
            if name not in refs["tags"]:
                raise ValueError(f"no such tag: {name!r}")
            del refs["tags"][name]
            self._write_refs(refs)

    def ref_snapshot_id(self, name: str) -> str:
        """Resolve a ref name ('main', a branch, or a tag) to its
        snapshot id — pass to read(snapshot_id=...) for ref reads."""
        if name == "main":
            sid = self.current_snapshot_id()
            if sid is None:
                raise ValueError("main has no snapshot yet")
            return sid
        refs = self.refs()
        if name in refs["branches"]:
            return refs["branches"][name]
        if name in refs["tags"]:
            return refs["tags"][name]
        raise ValueError(f"no such ref: {name!r}")

    def branch(self, name: str) -> "IcebergishTable":
        """A table handle scoped to a branch: reads resolve the branch
        head, and EVERY mutator (append/delete/update/merge/compact/
        zorder/rebucket) commits by moving the branch ref — main is
        untouched until fast_forward publishes."""
        if name not in self.refs()["branches"]:
            raise ValueError(f"no such branch: {name!r}")
        return _BranchView(self, name)

    def fast_forward(self, branch_name: str) -> str:
        """Publish a branch: move main to the branch head, refused
        unless main's current snapshot is an ancestor of (or equal to)
        the head — i.e. the branch strictly extends main, so the move
        is history-preserving and conflict-free (Iceberg's
        fast_forward). The ancestry check runs against main as read
        under the commit lock, so an append cannot land between the
        check and the move. Returns the new main snapshot id."""
        with self._commit_lock():
            refs = self.refs()
            if branch_name not in refs["branches"]:
                raise ValueError(f"no such branch: {branch_name!r}")
            head = refs["branches"][branch_name]
            cur = self.current_snapshot_id()
            if cur == head:
                return head
            sid = head
            while sid is not None:
                if sid == cur:
                    self._swap_pointer(head)
                    return head
                s = self._snapshot_if_present(sid)
                sid = s["parent_snapshot_id"] if s else None
        raise ValueError(
            f"not a fast-forward: main ({cur}) is not an ancestor of "
            f"branch {branch_name!r} head ({head}) — main advanced since "
            "the branch was cut; rebase by re-appending the branch batch"
        )

    def rollback_to(self, snapshot_id: str) -> str:
        """Roll the table back to an earlier snapshot (Iceberg's
        ``rollback_to_snapshot``): a PURE POINTER MOVE — no new
        snapshot, no data rewrite, O(1) metadata. The target must be
        an ANCESTOR of the current snapshot (jumping across lineages
        is what branches/tags are for). The abandoned descendants stay
        on disk for time travel until ``expire_snapshots`` retires
        them — after the rollback they are unreachable from this ref,
        so they expire regardless of retention knobs unless a
        branch/tag pins them (Iceberg's expire semantics); their data
        files then fall to ``remove_orphans``.

        Incremental consumers positioned PAST the rollback point
        (their from-snapshot is no longer an ancestor) degrade to the
        documented file-diff fallback, which emits nothing for a pure
        rollback — every surviving file was already in their
        from-manifest — so rolled-back rows are never re-delivered,
        and a subsequent append delivers exactly its own files.

        On a branch view this moves the BRANCH ref (same
        ``_swap_pointer`` override as every mutator); main is
        untouched. The ancestry walk and the move run under the commit
        lock. Returns ``snapshot_id``."""
        if self._snapshot_if_present(snapshot_id) is None:
            raise ValueError(
                f"rollback_to: no snapshot {snapshot_id!r} at {self.root} "
                "(expired or never committed)"
            )
        with self._commit_lock():
            sid = self.current_snapshot_id()
            while sid is not None and sid != snapshot_id:
                s = self._snapshot_if_present(sid)
                sid = s["parent_snapshot_id"] if s else None
            if sid != snapshot_id:
                raise ValueError(
                    f"rollback_to: {snapshot_id!r} is not an ancestor of the "
                    "current snapshot — use a branch or tag to jump lineages"
                )
            self._swap_pointer(snapshot_id)
        return snapshot_id

    def snapshot_diff(self, from_snapshot_id: str, to_snapshot_id: str | None = None) -> dict:
        """Manifest-only diff between two snapshots — the table-ops
        answer to "what changed between yesterday's run and now"
        without scanning a byte of data. Row deltas come from the
        manifests' committed totals (exact even when removed files
        were later physically erased); per-file row counts for
        added/removed files come from parquet footers where the files
        still exist (``None`` otherwise — an orphan-swept file's
        count is honestly unknown). ``operations`` is the lineage
        chain new→old (newest first), or None when an intermediate
        manifest has been expired (same degradation contract as
        ``read_incremental``)."""
        new = self._snapshot_if_present(to_snapshot_id or self.current_snapshot_id())
        old = self._snapshot_if_present(from_snapshot_id)
        if new is None or old is None:
            raise ValueError("snapshot_diff: both snapshots must exist")

        def _files(s):
            return {rel for fs in s["bucket_files"].values() for rel in fs}

        def _rows(rel):
            import pyarrow.parquet as pq

            try:
                return pq.ParquetFile(os.path.join(self.data_dir, rel)).metadata.num_rows
            except FileNotFoundError:
                return None

        added = sorted(_files(new) - _files(old))
        removed = sorted(_files(old) - _files(new))
        per_bucket: dict[str, dict] = {}
        for rel in added:
            b = _bucket_of(rel)
            per_bucket.setdefault(b, {"files_added": 0, "files_removed": 0})["files_added"] += 1
        for rel in removed:
            b = _bucket_of(rel)
            per_bucket.setdefault(b, {"files_added": 0, "files_removed": 0})["files_removed"] += 1

        ops = []
        sid = new["snapshot_id"]
        while sid is not None and sid != old["snapshot_id"]:
            snap = self._snapshot_if_present(sid)
            if snap is None:
                ops = None  # chain broken by expire_snapshots
                break
            ops.append(snap["operation"])
            sid = snap["parent_snapshot_id"]
        if ops is not None and sid != old["snapshot_id"]:
            ops = None  # `old` not an ancestor of `new`

        added_rows = [_rows(r) for r in added]
        removed_rows = [_rows(r) for r in removed]
        return {
            "from_snapshot_id": old["snapshot_id"],
            "to_snapshot_id": new["snapshot_id"],
            "row_delta": new["summary"]["total_rows"] - old["summary"]["total_rows"],
            "files_added": len(added),
            "files_removed": len(removed),
            "rows_in_added_files": sum(r for r in added_rows if r is not None),
            "rows_in_removed_files": (
                None if any(r is None for r in removed_rows) else sum(removed_rows)
            ),
            "per_bucket": dict(sorted(per_bucket.items(), key=lambda kv: int(kv[0]))),
            "operations": ops,
            "spec_change": (
                {"num_buckets": [old["num_buckets"], new["num_buckets"]]}
                if old.get("num_buckets") != new.get("num_buckets")
                else None
            ),
            "schema_change": (
                {"from": old["schema"], "to": new["schema"]}
                if old.get("schema") != new.get("schema")
                else None
            ),
        }

    def exists(self) -> bool:
        return self.current_snapshot_id() is not None

    def bucket_ids(self, snapshot_id: str | None = None) -> list[int]:
        """Partition list from the manifest — no data scan."""
        snap = self.snapshot(snapshot_id)
        if snap is None:
            return []
        return sorted(int(k) for k in snap["bucket_files"])


class _BranchView(IcebergishTable):
    """A branch-scoped handle: identical storage, but the current
    pointer resolves through refs.json and commits move the branch
    ref. Produced by IcebergishTable.branch(); not constructed
    directly. Everything else — data dir, manifests, sidecars,
    maintenance — is inherited unchanged, because branches share data
    files and manifests with main (Iceberg ref semantics)."""

    def __init__(self, base: IcebergishTable, name: str):
        super().__init__(base.root, base.bucket_key, base.num_buckets)
        self.branch_name = name

    def current_snapshot_id(self) -> str | None:
        refs = self.refs()
        if self.branch_name not in refs["branches"]:
            raise ValueError(f"branch was dropped: {self.branch_name!r}")
        return refs["branches"][self.branch_name]

    def _swap_pointer(self, sid: str) -> None:
        refs = self.refs()
        if self.branch_name not in refs["branches"]:
            raise ValueError(f"branch was dropped: {self.branch_name!r}")
        refs["branches"][self.branch_name] = sid
        self._write_refs(refs)
