"""Snapshot-versioned CDC mirror — Iceberg's at-rest model (snapshot
commits, time travel, incremental read) rebuilt on plain parquet.

The reference's lake is Iceberg: every sink commit is a new table
snapshot, old snapshots stay readable (time travel), and consumers can
scan the changelog BETWEEN two snapshots (incremental read)
(`connect-iceberg-sink.json:15-16,30-33`). The no-Iceberg fallback so
far (`bucketed.py`) keeps only the latest state. This module adds the
snapshot ledger on top of the same bucket layout:

- immutable data: each commit writes ONLY its touched buckets under a
  fresh ``data/commit_{n}/`` directory; files are never mutated;
- manifest per version: ``manifests/v{n}.json`` maps spec-qualified
  bucket labels ``"{spec}:{b}"`` → data directory and records the
  table's bucket count as ``spec`` (sized at ``init`` like a
  ``BucketedMirror``'s; cdc/specs.py evolves it). Untouched buckets
  point at files written by EARLIER commits — the same file-reuse
  that makes Iceberg snapshots cheap (a commit costs O(touched
  buckets), never O(|mirror|));
- the manifest write is the commit point (Iceberg's metadata-pointer
  swap): readers of version n never observe a half-written commit,
  and old versions remain fully readable because nothing they
  reference is ever rewritten.

At 100 TB: a snapshot costs |touched buckets| file groups; time travel
costs nothing until read; expiring old snapshots = deleting commit
dirs no live manifest references (Iceberg's expire_snapshots).
"""

from __future__ import annotations

import json
import os
import re
import threading
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from .bucketed import (
    BUCKET_COL,
    UNSIZED_BUCKETS,
    PreparedBatch,
    PreparingMirror,
    bucket_expr,
    merge_staged,
    sized_bucket_count,
)
from .diff import table_changes

# Strict manifest-file name parse (r16 advice): a stray
# ``v2.json.bak`` or editor droppings in manifests/ must be IGNORED,
# not crash every versions() walk with ValueError on int().
_MANIFEST_RE = re.compile(r"^v(\d+)\.json$")


def _parse_label(label: str) -> tuple[int, int]:
    """A manifest entry label "{n}:{b}" -> (spec n, bucket b)."""
    n, b = label.split(":", 1)
    return int(n), int(b)


class CommitConflictError(RuntimeError):
    """Another writer advanced the head (or ref) this commit was merged
    from. Raised instead of silently publishing a bucket map built from
    a stale base — which would drop the winner's changes from the new
    head, the classic optimistic-concurrency lost update. Iceberg's
    commit protocol revalidates and re-applies against the new base on
    retry; here ``SnapshotMirror.apply`` does the re-read + re-merge
    retry itself for head commits, and ``BranchedMirror``'s ref CAS
    surfaces the conflict for branch commits."""


class SnapshotMirror(PreparingMirror):
    """Versioned bucketed mirror: ``init`` → v0, each ``apply`` → a new
    version; ``read(version=k)`` time-travels; ``diff(i, j)`` is the
    incremental read (changelog scan) between two snapshots.

    ``n_buckets`` is the bucket count ``init`` lays v0 out in; None
    sizes it to the snapshot (``sized_bucket_count``). After ``init``
    the manifest's ``spec`` is authoritative: every merge hashes keys
    under its base manifest's spec, whatever this constructor got."""

    def __init__(self, spark: SparkSession, path: str, keys: list[str],
                 n_buckets: int | None = None,
                 order_cols: list[str] = ("ts_ms", "off")):
        self.spark = spark
        self.path = path
        self.keys = list(keys)
        self.n_buckets = n_buckets
        self.order_cols = list(order_cols)
        os.makedirs(os.path.join(path, "manifests"), exist_ok=True)

    # --- manifest ledger ---

    def _manifest_path(self, version: int) -> str:
        return os.path.join(self.path, "manifests", f"v{version}.json")

    def _all_versions(self) -> list[int]:
        """Every manifest file, LIVE or lineage tombstone — the version
        NAMESPACE. _commit allocates against this list so an expired
        version's number is never reissued (reissuing would graft a new
        snapshot onto a dead ancestor's identity)."""
        mdir = os.path.join(self.path, "manifests")
        return sorted(
            int(m.group(1)) for m in
            (_MANIFEST_RE.match(n) for n in os.listdir(mdir))
            if m
        )

    def versions(self) -> list[int]:
        """READABLE snapshots only: expire() shrinks a dead version's
        manifest to a lineage tombstone ({version, base, expired}) —
        its data is reclaimed and it no longer reads, but the parent
        chain stays walkable (fast_forward's ancestry check must not
        be wedged by routine maintenance — review finding r16).

        Tombstoned versions are detected from the sibling ``v{N}.tomb``
        MARKER files expire() drops, so this stays ONE listdir — the
        flag-in-manifest check made every versions() call open and
        JSON-parse all n manifests (O(n²) file opens over the ledger's
        life, on hot paths like current_version and the apply retry
        loop — review finding r16). The manifest's ``expired`` flag is
        still written and still checked by read(), as the belt to this
        suspender."""
        mdir = os.path.join(self.path, "manifests")
        try:
            names = set(os.listdir(mdir))
        except FileNotFoundError:
            # Only a genuinely-uninitialized mirror reads as empty; a
            # permissions/IO failure must SURFACE, not masquerade as
            # "mirror has no committed version" from current_version()
            # (r16 advice: the old blanket OSError swallow hid the
            # real error behind a misleading ValueError).
            return []
        return [
            v for v in sorted(
                int(m.group(1)) for m in
                (_MANIFEST_RE.match(n) for n in names)
                if m
            )
            if f"v{v}.tomb" not in names
        ]

    def current_version(self) -> int:
        vs = self.versions()
        if not vs:
            raise ValueError(f"mirror at {self.path} has no committed version")
        return vs[-1]

    def _load_manifest(self, version: int) -> dict:
        with open(self._manifest_path(version)) as f:
            return json.load(f)

    def _entries(self, manifest: dict) -> dict[str, str]:
        """The spec-qualified data entries ("{n}:{b}" -> dir)."""
        return dict(manifest["buckets"])

    def _bucket_count(self) -> int:
        """A batch prepared now is counted under the head's spec, or
        under ``init``'s count while no version is committed."""
        vs = self.versions()
        if vs:
            return self._load_manifest(vs[-1])["spec"]
        return self.n_buckets or UNSIZED_BUCKETS

    def _commit(self, buckets: dict[str, str], schema_json: str,
                parent: int | None = None, linear: bool = False,
                spec: int | None = None) -> int:
        """Write the next manifest — the atomic commit point.

        Version allocation is OPTIMISTIC-CONCURRENCY safe (the Iceberg
        commit protocol): the manifest is staged to a tmp file and
        published with ``os.link`` (exclusive create — fails if the
        version already exists, unlike ``os.replace`` which would
        silently destroy a concurrent writer's commit). The data dirs
        are keyed by a per-writer uniquifier, never shared, so no
        concurrent branch can adopt another's snapshot.

        ``parent`` is the snapshot this bucket map was merged FROM
        (-1 for the initial snapshot); it is recorded in the manifest
        as ``base``, giving the ledger a lineage DAG (fast_forward's
        ancestry check in branches.py walks it). With ``linear=True``
        the caller merged from what it believes is the LEDGER HEAD, so
        winning any version other than ``parent + 1`` means another
        writer committed first and this bucket map is STALE — raise
        CommitConflictError instead of publishing a lost update (the
        old blind ``version += 1`` retry silently dropped the winner's
        changes from the new head). With ``linear=False`` (branch
        commits: version numbers legitimately interleave across refs)
        a collision is pure allocation and the next number is retried;
        the lost-update guard for those lives at the ref swap
        (``BranchedMirror.set_ref`` CAS).

        ``spec`` is the bucket count recorded as the manifest's top-level
        ``spec`` field; None carries the parent's forward (a merge
        writes under its base's spec)."""
        if spec is None:
            spec = self._load_manifest(parent)["spec"]
        vs = self._all_versions()  # tombstones hold their numbers
        version = (vs[-1] + 1) if vs else 0
        while True:
            if linear and version != (parent if parent is not None else -1) + 1:
                raise CommitConflictError(
                    f"head moved past v{parent} (next free version is "
                    f"v{version}): bucket map is stale — re-read and re-merge")
            # The spec rides as a TOP-LEVEL field: a sentinel entry
            # inside the buckets map would break any consumer that
            # treats bucket values as data paths.
            manifest = {"version": version, "spec": spec,
                        "schema": schema_json, "buckets": buckets}
            if parent is not None:
                manifest["base"] = parent
            # Writer-unique tmp name: a pid-only suffix COLLIDES for
            # two concurrent branch writers in one driver process
            # (q_cdc_wap_race / q_cdc_wap_publish commit from
            # overlapped driver threads) — both stage the same
            # version's tmp file, the winner links-and-unlinks it, and
            # the loser's os.link dies with FileNotFoundError instead
            # of the FileExistsError the allocation loop handles. Same
            # uniquifier discipline as _write_ref's tmp (r16) and the
            # data-dir names.
            tmp = (self._manifest_path(version)
                   + f".tmp{os.getpid()}.{threading.get_ident()}."
                   + uuid.uuid4().hex[:8])
            with open(tmp, "w") as f:
                json.dump(manifest, f)
            try:
                os.link(tmp, self._manifest_path(version))
                os.remove(tmp)
                return version
            except FileExistsError:
                os.remove(tmp)
                version += 1

    # --- lineage (parent chain recorded by _commit) ---

    def parent_version(self, version: int) -> int:
        """The snapshot ``version`` was committed on top of (-1 for the
        root). Legacy manifests without a recorded base are assumed
        linear."""
        return int(self._load_manifest(version).get("base", version - 1))

    def is_ancestor(self, ancestor: int, descendant: int) -> bool:
        """Walk ``descendant``'s parent chain down to ``ancestor``.
        Parents are strictly smaller than their children (a commit's
        version is always > its base), so the walk terminates. The walk
        crosses expired versions safely — expire() leaves a lineage
        TOMBSTONE carrying ``base`` in place of each dead manifest, so
        routine maintenance never wedges an ancestry proof (review
        finding r16). Only a MISSING manifest file (pre-tombstone
        layouts, manual deletion) refuses with ValueError — lineage
        that cannot be proven is refused, not guessed."""
        v = descendant
        while v > ancestor:
            try:
                v = self.parent_version(v)
            except OSError:
                raise ValueError(
                    f"lineage of v{descendant} is missing its manifest "
                    f"below v{v}; cannot prove ancestry")
        return v == ancestor

    # --- data IO ---

    def _commit_dir(self, version: int) -> str:
        """A fresh data dir, data/commit_{version}_{uniq}. The
        uniquifier makes concurrent writers' data dirs disjoint (the
        manifest carries full paths, so readers and the orphan vacuum
        never depend on the dir NAME matching the version the writer
        eventually wins in ``_commit``)."""
        return os.path.join(self.path, "data",
                            f"commit_{version:05d}_{uuid.uuid4().hex[:8]}")

    @staticmethod
    def _labelled(commit_dir: str, leaves, spec: int) -> dict[str, str]:
        """Manifest entries for the ``__bucket=b`` leaves written under
        ``commit_dir``."""
        return {f"{spec}:{rel.split('=', 1)[1]}": os.path.join(commit_dir, rel)
                for rel in leaves}

    def _write_commit_data(self, df: DataFrame, version: int,
                           spec: int) -> dict[str, str]:
        """Write all of ``df`` in ``spec`` buckets, one file per bucket
        (Iceberg's hash distribution-mode); return its manifest
        entries."""
        commit_dir = self._commit_dir(version)
        (df.withColumn(BUCKET_COL, bucket_expr(self.keys, spec))
         .repartition(BUCKET_COL)
         .write.mode("overwrite").partitionBy(BUCKET_COL).parquet(commit_dir))
        return self._labelled(
            commit_dir,
            (n for n in os.listdir(commit_dir)
             if n.startswith(f"{BUCKET_COL}=")),
            spec)

    @staticmethod
    def _replace(entries: dict[str, str], dropped, written: dict[str, str],
                 ) -> dict[str, str]:
        """``entries`` without ``dropped``, plus ``written``. A written
        label that is still live means the children-partition
        invariant broke (cdc/specs.py: a coarse entry dies the first
        time one of its finer buckets is written) — refuse loudly
        rather than shadow live data."""
        out = {label: d for label, d in entries.items() if label not in dropped}
        clash = sorted(out.keys() & written.keys())
        if clash:
            raise RuntimeError(
                f"spec-migration invariant violated: rewrite produced "
                f"{clash} but live entries exist")
        out.update(written)
        return out

    def _empty(self, schema_json: str) -> DataFrame:
        return self.spark.createDataFrame(
            [], T.StructType.fromJson(json.loads(schema_json)))

    def _read_dirs(self, dirs: list[str], schema_json: str) -> DataFrame:
        """Bucket data dirs as one relation. The manifest's schema is
        passed to the reader, so building the scan runs no
        footer-reading job."""
        if not dirs:
            return self._empty(schema_json)
        return (self.spark.read
                .schema(T.StructType.fromJson(json.loads(schema_json)))
                .parquet(*dirs))

    # --- public API ---

    def init(self, snapshot: DataFrame) -> int:
        """Commit v0 in the constructor's bucket count, or in
        ``sized_bucket_count(snapshot)`` buckets, recorded as the
        manifest's ``spec``. Refuses (CommitConflictError) if the
        ledger already has snapshots — re-initializing a live mirror is
        the double-CREATE-TABLE race, not an apply."""
        n = self.n_buckets or sized_bucket_count(snapshot)
        return self._commit(self._write_commit_data(snapshot, 0, n),
                            snapshot.schema.json(), parent=-1, linear=True,
                            spec=n)

    def read(self, version: int | None = None) -> DataFrame:
        """The mirror as of ``version`` (default: latest) — time travel."""
        v = self.current_version() if version is None else version
        # Marker first (covers the crash window where expire() dropped
        # the marker but died before shrinking the manifest — the data
        # dirs are condemned either way), then the manifest flag.
        if os.path.exists(
                os.path.join(self.path, "manifests", f"v{v}.tomb")):
            raise ValueError(
                f"snapshot v{v} is expired: its data was reclaimed; "
                f"only its lineage tombstone remains")
        m = self._load_manifest(v)
        if m.get("expired"):
            raise ValueError(
                f"snapshot v{m['version']} is expired: its data was "
                f"reclaimed; only its lineage tombstone remains")
        return self._read_dirs(sorted(m["buckets"].values()), m["schema"])

    def apply(self, changes: DataFrame | PreparedBatch, op_col: str = "op",
              base_version: int | None = None, max_retries: int = 5) -> int:
        """Merge a change batch as a new snapshot. Reads ONLY the
        touched buckets of the base version (default: latest), writes
        ONLY their replacements; every other bucket entry is carried
        over in the manifest untouched (file reuse).

        With no ``base_version`` the commit targets the LEDGER HEAD
        under the Iceberg retry loop: if a concurrent writer wins the
        next version first, the stale merge is thrown away and re-done
        against the NEW head (CommitConflictError from ``_commit`` —
        never a silently published lost update). An explicit
        ``base_version`` lets a BRANCH commit on top of its own head
        instead of the ledger's newest snapshot (cdc/branches.py);
        lineage is still recorded, but conflict detection for branches
        happens at the ref swap, so no retry is attempted here.

        ``changes``: the raw batch, or a ``prepare`` handle whose
        compaction already ran. A raw batch is prepared here. The
        prepared batch is computed ONCE and reused across every
        conflict retry (this ledger's retry loop AND the ref-CAS loop
        one level up in branches.py), and it is MATERIALIZED, not just
        hoisted: a lazy plan would re-execute the compaction job inside
        every retry's merge, and even the no-retry path would pay it
        twice (once for the touched-bucket collect, once in the merge).
        persist, NOT localCheckpoint: checkpoint blocks are freeable
        only by ContextCleaner GC, while apply releases the handle the
        moment its commit lands or the last retry raises, so a
        long-lived driver doing many applies does not accumulate
        executor storage; and persist keeps lineage, so an evicted
        block recomputes instead of failing."""
        with self._batch(changes) as batch:
            return self._merge_batch(batch, op_col=op_col,
                                     base_version=base_version,
                                     max_retries=max_retries)

    def _merge_batch(self, batch: PreparedBatch, op_col: str = "op",
                     base_version: int | None = None,
                     max_retries: int = 5) -> int:
        """apply()'s merge-and-commit loop over a prepared batch: a
        touched-only COW merge (``merge_staged``, staged straight into
        the commit's data dir) under the base manifest's spec, across
        however many specs its live entries span (cdc/specs.py).
        Affected entries rewrite under the base's spec (lazy
        migration); the others carry over verbatim (file reuse). The
        touched set is derived per retry, because the spec may move
        between attempts.

        A pinned ``base_version`` is the branch-commit shape: version
        numbers may interleave with other writers, so the commit
        allocates the next free version instead of demanding parent+1,
        and a conflict is the caller's to retry (ref CAS)."""
        if max_retries < 1:
            raise ValueError("max_retries must be >= 1")
        linear = base_version is None
        last_conflict: CommitConflictError | None = None
        for _ in range(max_retries):
            base = self.current_version() if linear else base_version
            m = self._load_manifest(base)
            spec = m["spec"]
            rows = self._rows(batch, spec)
            entries = self._entries(m)
            # A key in bucket t under ``spec`` lives in bucket t % n of
            # an n-bucket entry (specs grow by multiples): one
            # candidate entry per (touched bucket, live spec).
            touched_mod: dict[int, set[int]] = {}
            affected = {}
            for label, d in entries.items():
                n_e, b_e = _parse_label(label)
                if n_e not in touched_mod:
                    touched_mod[n_e] = {t % n_e for t in rows}
                if b_e in touched_mod[n_e]:
                    affected[label] = d
            written: dict[str, str] = {}
            if rows:
                commit_dir = self._commit_dir(self.current_version() + 1)
                subset = self._read_dirs(sorted(affected.values()),
                                         m["schema"])
                bucket = bucket_expr(self.keys, spec)
                leaves = merge_staged(
                    subset.withColumn(BUCKET_COL, bucket),
                    batch.latest.withColumn(BUCKET_COL, bucket),
                    batch.latest, sum(rows.values()), self.keys,
                    [BUCKET_COL], commit_dir, op_col)
                written = self._labelled(commit_dir, leaves, spec)
            try:
                return self._commit(self._replace(entries, affected, written),
                                    m["schema"], parent=base, linear=linear)
            except CommitConflictError as e:
                if not linear:
                    raise  # branch caller owns the retry (ref CAS)
                last_conflict = e  # head moved: re-merge from new head
        raise last_conflict

    def diff(self, v_from: int, v_to: int) -> DataFrame:
        """Incremental read: c/u/d changelog between two snapshots
        (Iceberg's changelog scan)."""
        return table_changes(self.read(v_from), self.read(v_to),
                             keys=self.keys)

    def _protected_versions(self, keep_last: int) -> set[int]:
        """Versions expire() must keep: the recency window here;
        subclasses with refs extend this (BranchedMirror pins every
        ref'd snapshot)."""
        vs = self.versions()
        return set(vs[-keep_last:]) if keep_last > 0 else set()

    def expire(self, keep_last: int = 1,
               orphan_grace_s: float = 0.0) -> list[int]:
        """Drop old manifests and any commit dir no live manifest
        references (Iceberg's expire_snapshots).

        Concurrent-writer caveat: an IN-FLIGHT writer's commit dir is
        unreferenced until its manifest links, so a vacuum racing a
        writer could reclaim a live commit. ``orphan_grace_s`` skips
        orphan dirs younger than the grace age (Iceberg
        remove_orphan_files' min-age knob) — set it to at least the
        longest expected write duration when writers may be running.
        The default 0 reclaims everything and is only safe when
        expire() does not run concurrently with writers (the
        single-maintenance-process deployments the registered queries
        exercise).

        A dead version's manifest is not deleted but shrunk to a
        LINEAGE TOMBSTONE ``{version, base, expired: true}`` (atomic
        tmp+replace): its data dirs and bucket map are reclaimed — the
        actual storage — while the parent chain stays walkable, so
        fast_forward's ancestry check still works across expired
        history and a routine vacuum can never wedge a legitimate
        publish (review finding r16). Tombstones also hold their
        version numbers against reallocation (_all_versions)."""
        import shutil
        import time

        protected = self._protected_versions(keep_last)
        dead = [v for v in self.versions() if v not in protected]
        for v in dead:
            m = self._load_manifest(v)
            tomb = {"version": v, "expired": True}
            if "base" in m:
                tomb["base"] = m["base"]
            # Marker FIRST (versions()/read() condemn the snapshot from
            # the marker alone — a crash between the two writes leaves
            # it dead-but-unshrunk, never readable-but-reclaimed), then
            # shrink the manifest to the lineage tombstone.
            marker = os.path.join(self.path, "manifests", f"v{v}.tomb")
            with open(marker, "w") as f:
                f.write("{}")
            tmp = self._manifest_path(v) + f".tombtmp{os.getpid()}"
            with open(tmp, "w") as f:
                json.dump(tomb, f)
            os.replace(tmp, self._manifest_path(v))
        referenced: set[str] = set()
        for v in self.versions():
            for d in self._load_manifest(v)["buckets"].values():
                referenced.add(os.path.dirname(d))
        data_dir = os.path.join(self.path, "data")
        now = time.time()
        for name in sorted(os.listdir(data_dir)):
            full = os.path.join(data_dir, name)
            if full in referenced:
                continue
            if orphan_grace_s > 0 and (
                    now - os.path.getmtime(full)) < orphan_grace_s:
                continue  # young orphan: possibly an in-flight commit
            shutil.rmtree(full)
        return dead
