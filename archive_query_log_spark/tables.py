"""Snapshot tables — Iceberg-style commit log over parquet.

Why not Iceberg proper: this sandbox ships no Iceberg catalog/runtime jars,
so the storage layer is an explicit, minimal reimplementation of the part of
the spec the pipeline needs — an atomic, append-or-overwrite commit log of
parquet data files with table metadata per snapshot — kept behind this one
module so a real Iceberg catalog can replace it by swapping
``SnapshotTable`` for ``spark.read/writeTo(...)`` calls (SURVEY.md §7.3e).

Guarantees used by the crawler (SURVEY.md §2.11):
- a commit is visible iff its manifest JSON was atomically renamed into
  ``_snapshots/`` — a killed run leaves at most orphan data files, never a
  torn table;
- readers always see the latest *committed* snapshot → deterministic resume;
- every manifest records op + lineage metadata (wave id, parent
  snapshot), giving the per-wave lineage the north_rule asks for;
  ``commit`` (and so ``compact`` of a plain table) also records the
  snapshot's ``row_count``, observed on its write, and ``rollback`` copies
  its target's; bucketed commits record none, because they carry
  untouched buckets forward unread;
- every manifest pins the table schema, so a read lists files but starts
  no schema-inference job (file sources read every field as nullable, so
  the pinned read's schema equals the inferred one);
- statistics a writer wants beside its data (the crawl round's fetch
  totals, the seen-set shard bytes) are observed on the data write itself
  (``pyspark.sql.Observation``, ``commit(observe=)``) and kept in the
  manifest's meta — no job re-reads a snapshot to describe it.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from pathlib import Path
from typing import Any

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

BUCKET_COL = "_bucket"


def bucket_of(key: Column | str, n_buckets: int) -> Column:
    """The table's hash-bucket function (stable across commits — recorded in
    the manifest so every writer/reader agrees)."""
    c = F.col(key) if isinstance(key, str) else key
    return F.pmod(F.xxhash64(c.cast("string")), F.lit(n_buckets)).cast("int")


class SnapshotTable:
    def __init__(self, path: str | Path):
        # canonicalize the root once: manifests record ABSOLUTE resolved
        # data paths (like Iceberg's absolute file URIs), so commits made
        # under one spelling of the root (relative cwd path, symlink, '..'
        # segments) and maintenance under another agree on file identity —
        # and '..' through a not-yet-existing segment cannot silently
        # address a different (empty) table and collide version numbers.
        # The standard Iceberg caveat carries over: physically MOVING the
        # table tree requires rewriting manifests.
        self.path = Path(path).resolve()
        self.snap_dir = self.path / "_snapshots"
        self.data_dir = self.path / "data"

    # -- commit log ---------------------------------------------------------

    def _versions(self) -> list[int]:
        if not self.snap_dir.exists():
            return []
        return sorted(
            int(p.stem[1:]) for p in self.snap_dir.glob("v*.json")
        )

    def latest_version(self) -> int | None:
        vs = self._versions()
        return vs[-1] if vs else None

    def _manifest(self, version: int) -> dict[str, Any]:
        return json.loads((self.snap_dir / f"v{version}.json").read_text())

    def exists(self) -> bool:
        return self.latest_version() is not None

    def _publish(self, manifest: dict[str, Any]) -> int:
        """Atomically make ``manifest`` the table's next snapshot."""
        version = manifest["version"]
        tmp = self.snap_dir / f".v{version}.json.tmp.{uuid.uuid4().hex[:6]}"
        tmp.write_text(json.dumps(manifest, indent=1))
        os.replace(tmp, self.snap_dir / f"v{version}.json")
        return version

    def commit(
        self,
        df: DataFrame,
        op: str = "append",
        meta: dict[str, Any] | None = None,
        dry_run: bool = False,
        observe: dict[str, Column] | None = None,
    ) -> int:
        """Write df as new data files and atomically publish a new snapshot.

        ``dry_run=True`` (S15, reference config.py:75-107): run the plan and
        count what would be committed, but write nothing — the table is
        untouched; returns the version that WOULD have been committed.

        ``observe``: named aggregate Columns (e.g. ``{"ok": F.sum(...)}``)
        evaluated on the data write itself by one ``Observation`` — no
        extra Spark job, and the input plan runs once — and merged into the
        manifest's meta. They aggregate the rows THIS commit writes (an
        append's delta, not the whole snapshot). The manifest's
        ``row_count`` (the whole snapshot's) is observed the same way; an
        append to a bucketed snapshot, which records none, records none."""
        assert op in ("append", "overwrite")
        parent = self.latest_version()
        version = (parent + 1) if parent is not None else 0
        if dry_run:
            n = df.count()
            print(
                f"[dry-run] {self.path}: would commit v{version} "
                f"(op={op}, rows={n})"
            )
            return version
        self.snap_dir.mkdir(parents=True, exist_ok=True)
        file_dir = self.data_dir / f"v{version}-{uuid.uuid4().hex[:8]}"
        obs = Observation()
        aggs = {"_rows": F.count(F.lit(1)), **(observe or {})}
        df.observe(obs, *[c.alias(k) for k, c in aggs.items()]).write.mode(
            "errorifexists"
        ).parquet(str(file_dir))
        observed = obs.get
        rows = observed.pop("_rows")
        dirs = [str(file_dir)]
        schema = df.schema.jsonValue()
        if op == "append" and parent is not None:
            # an append conforms to the table's schema (columns resolve by
            # name, so a delta written in another column order reads the
            # same); the schema stays the one the table was created with
            pm = self._manifest(parent)
            dirs = pm["data_dirs"] + dirs
            rows = rows + pm["row_count"] if "row_count" in pm else None
            schema = pm["schema"]
        manifest = {
            "version": version,
            "parent": parent,
            "op": op,
            "data_dirs": dirs,
            "schema": schema,
            "committed_at": time.time(),
            "meta": {**(meta or {}), **observed},
        }
        if rows is not None:
            manifest["row_count"] = rows
        return self._publish(manifest)

    # -- bucketed commits (partition-pruned MERGE support) -------------------

    def commit_bucketed(
        self,
        df: DataFrame,
        key: str,
        n_buckets: int,
        meta: dict[str, Any] | None = None,
        reuse_buckets: dict[int, list[str]] | None = None,
        bucket_mode: str = "replace",
    ) -> int:
        """Overwrite-commit with a hash-bucketed layout: rows land in
        ``_bucket=<b>`` subdirectories (b = bucket_of(key, n_buckets)), and
        the manifest records the per-bucket data dirs. ``reuse_buckets``
        carries UNTOUCHED buckets forward by reference — their data files
        are not rewritten, which is what makes merge_update /
        merge_array_union O(affected buckets) instead of O(table).

        bucket_mode: 'replace' — a bucket written here supersedes its reused
        dirs (copy-on-write MERGE rewrite); 'append' — new dirs ADD to the
        bucket's reused dirs (insert-only commits, create-if-absent).

        This is the explicit stand-in for Iceberg's bucket-partitioned
        MERGE INTO (copy-on-write rewrites only matching files)."""
        if bucket_mode not in ("replace", "append"):
            raise ValueError(f"bucket_mode must be replace|append, got {bucket_mode!r}")
        self.snap_dir.mkdir(parents=True, exist_ok=True)
        parent = self.latest_version()
        schema = df.schema.jsonValue()
        if parent is not None:
            pm = self._manifest(parent)
            if pm.get("bucket_key") not in (None, key):
                raise ValueError(
                    f"bucket key changed: {pm.get('bucket_key')!r} -> {key!r}"
                )
            if pm.get("n_buckets") not in (None, n_buckets):
                raise ValueError(
                    f"bucket count changed: {pm.get('n_buckets')} -> {n_buckets}"
                )
            if reuse_buckets:
                # carried buckets keep the table's schema (see commit)
                schema = pm["schema"]
        version = (parent + 1) if parent is not None else 0
        file_dir = self.data_dir / f"v{version}-{uuid.uuid4().hex[:8]}"
        out = df.withColumn(BUCKET_COL, bucket_of(key, n_buckets))
        out.write.partitionBy(BUCKET_COL).mode("errorifexists").parquet(
            str(file_dir)
        )
        buckets: dict[str, list[str]] = {
            str(b): list(dirs) for b, dirs in (reuse_buckets or {}).items()
        }
        for p in sorted(Path(file_dir).glob(f"{BUCKET_COL}=*")):
            b = p.name.split("=", 1)[1]
            if bucket_mode == "append":
                buckets[b] = buckets.get(b, []) + [str(p)]
            else:
                buckets[b] = [str(p)]
        return self._publish({
            "version": version,
            "parent": parent,
            "op": "overwrite",
            "data_dirs": [d for dirs in buckets.values() for d in dirs],
            "schema": schema,
            "bucket_key": key,
            "n_buckets": n_buckets,
            "buckets": buckets,
            "committed_at": time.time(),
            "meta": meta or {},
        })

    def bucket_info(
        self, version: int | None = None
    ) -> tuple[str, int, dict[int, list[str]]] | None:
        """(bucket_key, n_buckets, {bucket: data dirs}) for a bucketed
        snapshot, or None for a plain table."""
        v = self.latest_version() if version is None else version
        if v is None:
            return None
        m = self._manifest(v)
        if "buckets" not in m:
            return None
        return (
            m["bucket_key"],
            m["n_buckets"],
            {int(b): dirs for b, dirs in m["buckets"].items()},
        )

    # -- read ---------------------------------------------------------------

    def _snapshot(self, version: int | None) -> dict[str, Any]:
        v = self.latest_version() if version is None else version
        if v is None:
            raise FileNotFoundError(f"no committed snapshot at {self.path}")
        return self._manifest(v)

    def schema(self, version: int | None = None) -> StructType:
        """The schema pinned in the snapshot's manifest."""
        return StructType.fromJson(self._snapshot(version)["schema"])

    def read(self, spark: SparkSession, version: int | None = None) -> DataFrame:
        """The snapshot's rows, read with its pinned schema: listing the
        data files is the only work done before an action."""
        m = self._snapshot(version)
        return spark.read.schema(StructType.fromJson(m["schema"])).parquet(
            *m["data_dirs"]
        )

    def history(self) -> list[dict[str, Any]]:
        return [self._manifest(v) for v in self._versions()]

    # -- maintenance (Iceberg parity: expire_snapshots / remove_orphan_files /
    #    rollback / rewrite_data_files) --------------------------------------
    #
    # Single-maintainer assumption (like Iceberg's): maintenance runs from
    # one process at a time, not concurrently with itself. Writers are safe
    # concurrently with remove_orphans only via its ``older_than_s`` guard.

    def referenced_dirs(self, versions: list[int] | None = None) -> set[str]:
        """Union of data dirs referenced by the given (default: all
        committed) snapshots, as spelled in the manifests."""
        vs = self._versions() if versions is None else versions
        refs: set[str] = set()
        for v in vs:
            refs.update(self._manifest(v)["data_dirs"])
        return refs

    @staticmethod
    def _canon(d: str | Path) -> str:
        """Canonical spelling for path-identity comparisons: manifests
        record paths as spelled at commit time (relative to that process's
        cwd, through symlinks, ...), so liveness checks must resolve — a
        raw string compare would classify every live dir as an orphan when
        the table is reopened under a different spelling (review-pinned)."""
        return str(Path(d).resolve())

    def expire_snapshots(self, keep_last: int) -> dict[str, Any]:
        """Drop all but the newest ``keep_last`` snapshots and delete data
        dirs referenced ONLY by the dropped ones (append-log manifests carry
        their parents' dirs forward, so appends expire to pure metadata
        deletes; overwritten/rolled-back-over dirs are physically removed).

        Crash-safe ordering: expired MANIFESTS are deleted first (old
        versions disappear atomically, the surviving table is never
        touched), then the now-unreferenced data dirs — a crash in between
        leaves only orphan dirs, which ``remove_orphans`` collects.

        At 10^10-frontier scale this bounds the commit log of the per-round
        append tables (fetch log, seen keys): without expiry every round adds
        a manifest forever. ``keep_last`` must cover the RESUME window of
        whatever reads the table: the crawl pipeline's crash-replay path
        reads the snapshot *before* the replayed round
        (pipeline._version_before_round), so crawl state needs
        keep_last >= 2 — which ``pipeline.maintain`` enforces; keep_last=1
        is only safe for tables nothing replays against."""
        import shutil

        if keep_last < 1:
            raise ValueError(f"keep_last must be >= 1, got {keep_last}")
        vs = self._versions()
        expired, kept = vs[:-keep_last], vs[-keep_last:]
        keep_refs = {self._canon(d) for d in self.referenced_dirs(kept)}
        # Victims are identified AND deleted under the canonical spelling:
        # a pre-resolve manifest may record a cwd-relative dir, and deleting
        # via the manifest-spelled path from a different cwd would silently
        # strand it (exists() False) until a later remove_orphans.
        victims = {
            self._canon(d)
            for d in self.referenced_dirs(expired)
            if self._canon(d) not in keep_refs
        }
        for v in expired:
            (self.snap_dir / f"v{v}.json").unlink()
        deleted = []
        for d in sorted(victims):
            p = Path(d)
            if p.exists():
                shutil.rmtree(p)
                deleted.append(d)
            # a bucketed dir's parent v*-<hex> dir may now be empty
            parent = p.parent
            if (
                parent != self.data_dir
                and parent.exists()
                and not any(parent.iterdir())
            ):
                parent.rmdir()
        return {
            "expired_versions": expired,
            "kept_versions": kept,
            "deleted_dirs": deleted,
        }

    def remove_orphans(self, older_than_s: float = 0.0) -> list[str]:
        """Delete top-level data dirs referenced by NO committed snapshot —
        the debris of killed runs (``commit`` writes data files before the
        manifest rename, so a crash strands exactly one unreferenced dir)
        and of crash-interrupted ``expire_snapshots``.

        ``older_than_s`` skips dirs younger than the given age — the
        Iceberg ``remove_orphan_files(older_than)`` guard that keeps a
        CONCURRENT writer's not-yet-committed dir safe. Use an age
        comfortably above the longest plausible commit (hours in
        production; tests pass 0)."""
        import shutil

        refs = {self._canon(d) for d in self.referenced_dirs()}
        now = time.time()
        orphans: list[str] = []
        if not self.data_dir.exists():
            return orphans
        for top in sorted(self.data_dir.iterdir()):
            s = self._canon(top)
            if any(r == s or r.startswith(s + os.sep) for r in refs):
                continue
            if now - top.stat().st_mtime < older_than_s:
                continue
            shutil.rmtree(top)
            orphans.append(s)
        return orphans

    def rollback(self, to_version: int) -> int:
        """Publish a NEW snapshot that re-exposes ``to_version``'s data —
        resume-from-known-good without rewriting a byte (Iceberg
        ``rollback_to_snapshot``). History stays linear: the bad versions
        remain until expired, and the rollback is itself a commit with
        lineage metadata."""
        m = self._manifest(to_version)  # raises if expired/never existed
        parent = self.latest_version()
        version = parent + 1  # parent exists: _manifest(to_version) passed
        # carry the target's meta (review-pinned): the crawl pipeline's
        # next_round_id()/replay guards read lineage keys like "round" from
        # the latest manifest — a rollback that dropped them would reset a
        # resumed crawl to round 0 against still-populated logs
        meta = dict(m.get("meta", {}))
        meta["rolled_back_to"] = to_version
        manifest = {
            "version": version,
            "parent": parent,
            "op": "rollback",
            "data_dirs": m["data_dirs"],
            "schema": m["schema"],
            "committed_at": time.time(),
            "meta": meta,
        }
        for k in ("row_count", "bucket_key", "n_buckets", "buckets"):
            if k in m:
                manifest[k] = m[k]
        return self._publish(manifest)

    def compact(
        self,
        spark: SparkSession,
        target_partitions: int | None = None,
        carry_meta_keys: tuple[str, ...] = (),
    ) -> int:
        """Rewrite the current snapshot into freshly-packed data files and
        commit the result (Iceberg ``rewrite_data_files``): the small-files
        answer for append-heavy logs, where a 10^4-round fetch log would
        otherwise drag 10^4 tiny dirs through every scan's file listing.
        Bucketed tables keep their (key, n_buckets) layout — one packed dir
        per bucket, merge ops unaffected. Row content is byte-identical;
        only the physical layout changes. Chain with ``expire_snapshots``
        to reclaim the superseded files."""
        m = self._snapshot(None)
        v = m["version"]
        df = self.read(spark, v)
        n_files_before = len(m["data_dirs"])
        meta = {"compacted_from": v, "dirs_before": n_files_before}
        # carry chosen lineage keys through (e.g. the crawl pipeline's
        # "round" replay guard — a compacted log must still answer "which
        # round produced the latest state")
        for k in carry_meta_keys:
            if k in m.get("meta", {}):
                meta[k] = m["meta"][k]
        if "buckets" in m:
            return self.commit_bucketed(
                df, m["bucket_key"], m["n_buckets"], meta=meta
            )
        if target_partitions is not None:
            df = df.repartition(target_partitions)
        return self.commit(df, op="overwrite", meta=meta)
