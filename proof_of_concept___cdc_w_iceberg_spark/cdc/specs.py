"""Partition-spec evolution over the snapshot ledger (r16, library-only).

Iceberg's flagship v2 metadata feature: a table's partition spec can
CHANGE mid-life — ``ALTER TABLE ... REPLACE PARTITION FIELD
bucket(16, k) WITH bucket(32, k)`` — without rewriting a byte. Files
written under the old spec stay valid; scan planning unions specs;
data migrates to the new layout only when a write happens to touch it
(`pom.xml:15` pins Iceberg 1.9.2; the reference's sink table would
evolve exactly this way when a CDC mirror outgrows its bucket count).

Rebuilt here on SnapshotMirror's manifest ledger:

- every manifest bucket entry is SPEC-QUALIFIED: ``"{n}:{b}"`` means
  "bucket b under the n-bucket layout"; the manifest also records the
  CURRENT spec (``n_buckets``) that future writes use;
- ``evolve_spec(new_n)`` is a METADATA-ONLY commit (Iceberg's spec
  change): same bucket entries, new current spec — zero data moves;
- ``apply`` routes the batch by the CURRENT spec and rewrites, per
  touched new-spec bucket, ONLY the manifest entries that can hold
  its keys. The containment proof that keeps this touched-only:
  specs only grow by integer MULTIPLES, so every live entry's
  ``n_e`` divides the current ``N``, and a key in new bucket
  ``t = pmod(h, N)`` lives in old bucket ``pmod(h, n_e) =
  pmod(t, n_e)`` — exactly one candidate entry per (touched bucket,
  old spec). Rewritten rows land under the CURRENT spec, so old-spec
  entries drain as writes touch them — Iceberg's lazy migration —
  while untouched entries carry verbatim (file reuse);
- ``read`` is untouched: the base reader unions all manifest dirs,
  which is spec-agnostic by construction (scan planning across
  specs).

At 100 TB: evolve is one manifest write; each apply still reads and
rewrites only the touched slice (at worst the touched new buckets'
old-spec parents — the same rows a COW merge must rewrite anyway);
nothing ever rewrites the table wholesale. The multiple-of-current
restriction is the modular-arithmetic price of COW key routing —
real Iceberg permits arbitrary re-specs because its merge-on-read
scan does not need key co-location; a general re-spec here is
``compact()``-style full rewrite, deliberately out of scope.

Laws in tests/test_r16_ops.py: content-invisibility across an evolve
(oracle = the same latest-wins relation a plain mirror produces),
mid-migration reads, lazy-drain + file-reuse on the manifest, and the
multiple-only refusal. Staged for a later registered rung
(q_cdc_evolve_spec) once a driver window has slots — the oracle is
the existing sequential-apply relation (WAP_RACE_MIRROR_SQL shape).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from .apply import upsert_compacted
from .bucketed import BUCKET_COL, PreparedBatch, bucket_expr
from .versioned import CommitConflictError, SnapshotMirror

from pyspark.sql import functions as F


def _parse_label(label: str) -> tuple[int, int]:
    """("{n}:{b}") -> (n, b)."""
    n, b = label.split(":", 1)
    return int(n), int(b)


class SpecEvolvingMirror(SnapshotMirror):
    """SnapshotMirror whose bucket layout can evolve mid-table."""

    def init(self, snapshot: DataFrame) -> int:
        buckets = {
            f"{self.n_buckets}:{b}": d
            for b, d in self._write_commit_data(snapshot, 0).items()
        }
        return self._commit_spec(buckets, snapshot.schema.json(),
                                 spec=self.n_buckets, parent=-1)

    # --- spec-aware manifest plumbing ---

    def _commit_spec(self, buckets: dict[str, str], schema_json: str,
                     spec: int, parent: int, linear: bool = True) -> int:
        """_commit, carrying the CURRENT spec as a TOP-LEVEL manifest
        field (``manifest["spec"]`` — r16 advice: the first cut smuggled
        it as a reserved "__spec__" entry inside the buckets map, a
        non-path value every base consumer that walks bucket values
        (expire's referenced-dir scan, the orphan vacuum) would have to
        know to skip). Reuses the base commit protocol verbatim:
        exclusive-create publish, stale-base CommitConflictError when
        ``linear``, free-version allocation when not (pinned branch
        commits — the base-class contract)."""
        return self._commit(buckets, schema_json, parent=parent,
                            linear=linear, extra={"spec": spec})

    def _entries(self, manifest: dict) -> dict[str, str]:
        """The spec-qualified data entries ("{n}:{b}" -> dir)."""
        return dict(manifest["buckets"])

    def current_spec(self, manifest: dict | None = None) -> int:
        m = manifest if manifest is not None else self._load_manifest(
            self.current_version())
        return int(m.get("spec", self.n_buckets))

    # read() needs no override: bucket values are plain data dirs
    # (the spec rides top-level), so the base reader's union of all
    # manifest dirs is already spec-agnostic scan planning.

    # --- the evolved operations ---

    def evolve_spec(self, new_n: int) -> int:
        """Metadata-only spec change: same data entries, new CURRENT
        spec for future writes. Refuses a spec that is not a proper
        integer multiple of the current one — divisibility is what
        keeps every later apply touched-only (module docstring)."""
        base = self.current_version()
        m = self._load_manifest(base)
        cur = self.current_spec(m)
        if new_n <= cur or new_n % cur != 0:
            raise ValueError(
                f"spec can only grow by an integer multiple: current "
                f"{cur}, requested {new_n}")
        return self._commit_spec(self._entries(m), m["schema"],
                                 spec=new_n, parent=base)

    def _bucket_count(self) -> int:
        """A batch prepared now is counted under the current spec, or
        under the initial one while ``init`` has not committed."""
        return self.current_spec() if self.versions() else self.n_buckets

    def _merge_batch(self, batch: PreparedBatch, op_col: str = "op",
                     base_version: int | None = None,
                     max_retries: int = 5) -> int:
        """Touched-only COW merge under the manifest's CURRENT spec,
        across however many specs the live entries span. Affected
        entries rewrite UNDER THE CURRENT SPEC (lazy migration);
        unaffected entries carry verbatim. The touched set is derived
        per retry, because the spec may move between attempts."""
        if max_retries < 1:
            raise ValueError("max_retries must be >= 1")
        latest = batch.latest
        # Pinned base => branch-commit shape: version numbers may
        # interleave with other writers, so the commit allocates the
        # next free version instead of demanding parent+1 (linear).
        # This is the base-class contract plumbed through _commit_spec
        # (r16 advice: always-linear made every pinned non-head base
        # an instant, unretryable CommitConflictError).
        linear = base_version is None
        last_conflict: CommitConflictError | None = None
        for _ in range(max_retries):
            base = (self.current_version() if base_version is None
                    else base_version)
            m = self._load_manifest(base)
            spec = self.current_spec(m)
            touched = set(self._rows(batch, spec))
            entries = self._entries(m)
            # Touched-modulo sets precomputed once per DISTINCT spec
            # among the live entries (r17 advice: the inline set
            # comprehension re-derived {t % n for t in touched} for
            # every entry — O(entries x touched) on a large manifest).
            touched_mod: dict[int, set[int]] = {}
            affected = {}
            for label, d in entries.items():
                n_e, b_e = _parse_label(label)
                mods = touched_mod.get(n_e)
                if mods is None:
                    mods = touched_mod.setdefault(
                        n_e, {t % n_e for t in touched})
                if b_e in mods:
                    affected[label] = d
            try:
                if not touched:
                    return self._commit_spec(entries, m["schema"],
                                             spec=spec, parent=base,
                                             linear=linear)
                subset = self._read_dirs(
                    sorted(affected.values()), m["schema"]).drop(BUCKET_COL)
                # r20 (guide §2.4/§8): survivors rewrite under the
                # current spec WITHOUT a full-relation shuffle — the
                # bucket value is a projection of the keys, so
                # partitionBy routes each scan task's rows directly;
                # only the batch leg exchanges (batch-sized). The
                # batch is already compacted (prepare persisted it),
                # so apply_changes' second compaction window is gone.
                routed = latest.repartition(bucket_expr(self.keys, spec))
                merged = upsert_compacted(subset, latest, self.keys,
                                          op_col=op_col, routed=routed)
                written = self._write_commit_data(
                    merged, self.current_version() + 1, n_buckets=spec,
                    cluster=False)
                buckets = {label: d for label, d in entries.items()
                           if label not in affected}
                for b, d in written.items():
                    # Children-partition invariant: a rewritten row can
                    # only land in a bucket whose finer entry does not
                    # already live (its coarse ancestor died the first
                    # time that bucket was touched). A collision here
                    # means the invariant broke — refuse loudly rather
                    # than shadow live data.
                    label = f"{spec}:{b}"
                    if label in buckets:
                        raise RuntimeError(
                            f"spec-migration invariant violated: rewrite "
                            f"produced {label} but a live entry exists")
                    buckets[label] = d
                return self._commit_spec(buckets, m["schema"],
                                         spec=spec, parent=base,
                                         linear=linear)
            except CommitConflictError as e:
                if base_version is not None:
                    raise
                last_conflict = e
        raise last_conflict

    def spec_census(self) -> dict[int, int]:
        """{spec: live entry count} at the head — the lazy-migration
        progress gauge (old specs drain to zero as writes touch
        them)."""
        m = self._load_manifest(self.current_version())
        out: dict[int, int] = {}
        for label in self._entries(m):
            n, _ = _parse_label(label)
            out[n] = out.get(n, 0) + 1
        return out


    def migrate(self) -> int:
        """FINISH the lazy migration: rewrite every old-spec entry
        under the current spec in one maintenance commit (Iceberg's
        ``rewrite_data_files`` closing out a spec change). Current-spec
        entries carry verbatim (file reuse — the action touches only
        the stragglers); content-invisible like compaction. A no-op
        commit-free return when nothing is left to migrate."""
        base = self.current_version()
        m = self._load_manifest(base)
        spec = self.current_spec(m)
        entries = self._entries(m)
        old = {l: d for l, d in entries.items()
               if _parse_label(l)[0] != spec}
        if not old:
            return base
        moved = self._read_dirs(sorted(old.values()),
                                m["schema"]).drop(BUCKET_COL)
        written = self._write_commit_data(
            moved, self.current_version() + 1, n_buckets=spec)
        buckets = {l: d for l, d in entries.items() if l not in old}
        for b, d in written.items():
            label = f"{spec}:{b}"
            if label in buckets:
                raise RuntimeError(
                    f"spec-migration invariant violated: migrate "
                    f"produced {label} but a live entry exists")
            buckets[label] = d
        return self._commit_spec(buckets, m["schema"], spec=spec,
                                 parent=base)
