"""Partition-spec evolution over the snapshot ledger.

Iceberg's flagship v2 metadata feature: a table's partition spec can
CHANGE mid-life — ``ALTER TABLE ... REPLACE PARTITION FIELD
bucket(16, k) WITH bucket(32, k)`` — without rewriting a byte. Files
written under the old spec stay valid; scan planning unions specs;
data migrates to the new layout only when a write happens to touch it
(`pom.xml:15` pins Iceberg 1.9.2; the reference's sink table would
evolve exactly this way when a CDC mirror outgrows its bucket count).

Rebuilt here on SnapshotMirror's manifest ledger, whose entries are
already SPEC-QUALIFIED (``"{n}:{b}"`` means "bucket b under the
n-bucket layout") and whose manifests record the CURRENT spec that
future writes use:

- ``evolve_spec(new_n)`` is a METADATA-ONLY commit (Iceberg's spec
  change): same bucket entries, new current spec — zero data moves;
- ``apply`` (SnapshotMirror's one merge loop) routes the batch by the
  CURRENT spec and rewrites, per touched new-spec bucket, ONLY the
  manifest entries that can hold its keys. The containment proof that
  keeps this touched-only: specs only grow by integer MULTIPLES, so
  every live entry's ``n_e`` divides the current ``N``, and a key in
  new bucket ``t = pmod(h, N)`` lives in old bucket ``pmod(h, n_e) =
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
multiple-only refusal. The registered rung is ``q_cdc_evolve_spec``
(cdc/queries.py), checked against the sequential-apply relation.
"""

from __future__ import annotations

from .versioned import SnapshotMirror, _parse_label


class SpecEvolvingMirror(SnapshotMirror):
    """SnapshotMirror whose bucket layout can evolve mid-table."""

    def evolve_spec(self, new_n: int) -> int:
        """Metadata-only spec change: same data entries, new CURRENT
        spec for future writes. Refuses a spec that is not a proper
        integer multiple of the current one — divisibility is what
        keeps every later apply touched-only (module docstring)."""
        base = self.current_version()
        m = self._load_manifest(base)
        cur = m["spec"]
        if new_n <= cur or new_n % cur != 0:
            raise ValueError(
                f"spec can only grow by an integer multiple: current "
                f"{cur}, requested {new_n}")
        return self._commit(self._entries(m), m["schema"], parent=base,
                            linear=True, spec=new_n)

    def spec_census(self) -> dict[int, int]:
        """{spec: live entry count} at the head — the lazy-migration
        progress gauge (old specs drain to zero as writes touch
        them)."""
        out: dict[int, int] = {}
        for label in self._entries(self._load_manifest(self.current_version())):
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
        spec = m["spec"]
        entries = self._entries(m)
        old = {label: d for label, d in entries.items()
               if _parse_label(label)[0] != spec}
        if not old:
            return base
        written = self._write_commit_data(
            self._read_dirs(sorted(old.values()), m["schema"]),
            self.current_version() + 1, spec)
        return self._commit(self._replace(entries, old, written),
                            m["schema"], parent=base, linear=True)
