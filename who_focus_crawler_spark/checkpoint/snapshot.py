"""C14/C15 — atomic snapshot commits + resume (Iceberg-semantics shim).

No Iceberg runtime jars can be fetched in this sandbox (SURVEY.md probe
P5), so this module implements the Iceberg *semantics* the contract needs
— immutable data files, a manifest listing exactly the files of each table
at each snapshot, snapshot-id-addressed reads, and an atomically-swapped
HEAD pointer — over plain Parquet. The interface is catalog-shaped: on a
networked cluster, `SnapshotCatalog` is replaced by a real Iceberg catalog
(`writeTo(...).append()` / MERGE / `VERSION AS OF`) without touching
engine code.

Commit protocol (SURVEY.md §7 hard-part #3): write data files → fsync a
JSON manifest for snapshot s → atomically `os.replace` the HEAD pointer.
A crash before the HEAD swap leaves the previous snapshot intact;
`resume()` reads HEAD and continues — determinism of the scheduler (C9)
guarantees the continuation equals an uninterrupted run.

Tables are either REPLACE (manifest points only at this snapshot's files:
frontier, robots_cache, host_state) or APPEND (manifest carries the
previous file list plus this snapshot's delta: crawl_order, documents,
metrics, url_seen) — appends never rewrite history, which is what makes
per-batch commits O(delta) instead of O(corpus).

Schema evolution is Iceberg's field-id scheme on the shim: every commit
records each table's current schema (stable integer field ids) and the
field-id → physical-column-name mapping of the files it wrote;
`evolve_schema` (add / drop / rename / widen) is a metadata-only commit
and `read_table_evolved` resolves every historical file through its own
mapping — no data file is ever rewritten for a schema change.

Row-level deletes are Iceberg v2 merge-on-read deletes, BOTH kinds:

- EQUALITY deletes (`delete_where`): a small parquet file of key tuples
  plus a metadata commit — no data file is rewritten. Each delete file
  carries the snapshot id it was committed at, and `read_table`
  anti-joins a data file-set only against deletes COMMITTED AFTER that
  file-set was written (Iceberg's sequence-number rule: eq deletes apply
  to files with a STRICTLY SMALLER sequence number), so a key
  re-appended after its delete is visible while the pre-delete row
  stays dead.
- POSITIONAL deletes (`delete_positions` / `delete_matching_positions`):
  a parquet file of (file_path, pos) pairs addressing physical parquet
  files (as Spark's `_metadata.file_path` reports them) and 0-based row
  ordinals within each file (`_metadata.row_index` — stable for
  immutable parquet). Readers attach the hidden `_metadata` columns and
  anti-join on the pair; per the Iceberg spec, pos deletes apply to
  files with sequence number ≤ the delete's (they name exact paths, so
  a re-appended row — a NEW file — can never be over-deleted).

`compact_table` folds live deletes of both kinds into the rewrite and
clears them; `expire_snapshots` keeps delete files any retained manifest
references. Positional deletes survive compaction semantics trivially:
the compacted file-set has new paths, so stale pairs address nothing.

Partition-spec evolution (Iceberg `update_spec`) is modeled in
`set_partition_spec` + the commit write path: the manifest records the
CURRENT spec per table and, per file-set, the spec it was written under.
Writes lay data out in Hive-style value directories (the partition value
is ALSO kept as a data column, so reads never depend on directory
inference); a read plans one scan per distinct layout, and
`scan_table_partitions` prunes partition directories from the manifest
the way Iceberg prunes on manifest partition tuples — Spark only ever
sees the surviving leaf directories. Evolving the spec is a
metadata-only commit: old file-sets keep their layout, new writes use
the new one.
"""

from __future__ import annotations

import json
import os
import time
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _stat_json(v):
    """Manifest-storable stat value: numbers/strings/bools pass through,
    date/datetime become ISO strings (lexicographic == chronological for
    the fixed format), anything else becomes None = "cannot skip"."""
    if v is None or isinstance(v, (int, float, str, bool)):
        return v
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return None

def _as_struct(schema) -> T.StructType:
    """Readers accept a StructType OR a DDL string ("id bigint, ...") —
    the same contract as spark.read.schema()."""
    if isinstance(schema, str):
        return T._parse_datatype_string(schema)
    return schema


APPEND_TABLES = {
    "crawl_order",
    "documents",
    "metrics",
    "url_seen",
    # streaming ingestion (streaming/pipeline.py::stream_frontier_to_catalog):
    # one appended delta per micro-batch epoch
    "frontier_ingest",
    # streaming near-dup maintenance (stream_neardup_to_catalog): the
    # signature index grows by one delta per epoch; pairs are a log
    "minhash_index",
    "neardup_pairs",
    # Mercator content-seen test (plans/crawl.py, WebConfig.content_dedup):
    # one delta of newly-seen content hashes per batch
    "content_seen",
}


class CommitConflict(Exception):
    """Raised when optimistic-concurrency validation fails: a concurrent
    commit changed state this writer's data was computed FROM (replaced
    the same replace-table, or committed equality deletes on an append
    table after the writer's base snapshot). The writer must recompute
    from the new head — retrying the same metadata would publish a
    result derived from stale reads (Iceberg serializable isolation)."""


class SnapshotCatalog:
    def __init__(self, root: str | Path, cas=None):
        """``cas``: the backend's atomic conditional-update primitive
        for optimistic commits (checkpoint/cas.py). Defaults to the
        flock-based single-filesystem implementation; a string picks a
        built-in backend by name ("flock" | "sqlite" | "lockfile" —
        all three run the same conformance suite and multiprocess OCC
        race); a networked deployment passes the adapter instance for
        its real catalog (Iceberg REST etc.) and NOTHING else
        changes."""
        self.root = Path(root)
        self.root.mkdir(parents=True, exist_ok=True)
        if cas is None:
            cas = "flock"
        if isinstance(cas, str):
            from who_focus_crawler_spark.checkpoint.cas import make_cas

            cas = make_cas(cas, self.root, self.head)
        self.cas = cas

    # ------------------------------------------------------------ pointers
    @property
    def _head_path(self) -> Path:
        return self.root / "HEAD"

    def head(self) -> int | None:
        try:
            return int(self._head_path.read_text().strip())
        except FileNotFoundError:
            return None

    def _manifest_path(self, snapshot_id: int) -> Path:
        return self.root / f"manifest-{snapshot_id:06d}.json"

    def manifest(self, snapshot_id: int) -> dict:
        return json.loads(self._manifest_path(snapshot_id).read_text())

    # -------------------------------------------------------------- commit
    def commit(
        self,
        snapshot_id: int,
        tables: dict[str, DataFrame],
        state: dict,
        num_files: int = 1,
        stats_cols: dict[str, list[str]] | None = None,
        branch: str | None = None,
    ) -> None:
        """Write each table's delta/replacement, then atomically publish.

        Carry-forward reads the CURRENT HEAD manifest, not
        ``snapshot_id - 1``: in the plain crawl loop they are the same,
        but after between-run maintenance (compact_table publishes at
        head+1; expire_snapshots may then delete older manifests) HEAD
        is the only manifest guaranteed to exist — and it already points
        at the compacted file lists, so a resumed crawl builds on the
        rewrite instead of the superseded per-batch files.

        ``branch``: commit on a named branch instead of main — the base
        is the branch tip, the branch ref advances, and HEAD does NOT
        move (main readers see nothing until `fast_forward_main`).
        Prefer :meth:`commit_to_branch`, which also allocates a
        collision-free snapshot id.
        """
        if self._manifest_path(snapshot_id).exists():
            # a manifest may exist here ONLY as the orphan of a crash
            # between manifest write and HEAD swap — rewriting that is
            # exactly the recovery path. A reachable snapshot (HEAD or
            # any ref/branch) is immutable.
            h = self.head()
            published = (h is not None and snapshot_id <= h) or (
                snapshot_id in set(self.refs().values())
            )
            if published:
                raise ValueError(
                    f"commit: snapshot {snapshot_id} is published — ids are "
                    "immutable; allocate with _next_sid()/commit_to_branch()"
                )
        if branch is not None:
            head = self.ref(branch)
            if head is None:
                raise ValueError(
                    f"commit: unknown branch {branch!r} — create_branch first"
                )
        else:
            head = self.head()
        if head is not None:
            prev = self.manifest(head)
        else:
            prev = self.manifest(snapshot_id - 1) if snapshot_id > 0 else None
        pspecs = (prev or {}).get("partition_specs", {})

        def write(name: str, df: DataFrame) -> tuple[str, str]:
            path = self.root / "data" / name / f"snap-{snapshot_id:06d}"
            spec = (pspecs.get(name) or {}).get("current")
            self._write_fileset(df, path, spec, num_files)
            return name, str(path)

        # write table files concurrently — Spark supports multi-threaded
        # job submission from the driver; per-batch tables are small, so
        # wall time is max(job) not sum(job) (batch overhead dominates the
        # crawl loop at fixture scale)
        from concurrent.futures import ThreadPoolExecutor

        to_write = {n: df for n, df in tables.items() if df is not None}
        with ThreadPoolExecutor(max_workers=max(len(to_write), 1)) as ex:
            written = dict(
                ex.map(lambda kv: write(*kv), to_write.items())
            )
        new_stats = self._file_stats(tables, written, stats_cols or {})
        manifest = self._assemble_manifest(
            snapshot_id, head, prev, tables, written, state, new_stats
        )
        if branch is not None:
            # manifest becomes durable first, then the branch ref swings —
            # same crash discipline as the HEAD publish, main untouched
            self._write_manifest(manifest)
            self.set_ref(branch, snapshot_id)
        else:
            self._publish(manifest)

    @staticmethod
    def _write_fileset(
        df: DataFrame, path: Path, spec: list[dict] | None, num_files: int
    ) -> None:
        """Write one file-set. Unpartitioned: plain coalesced parquet.
        Under a partition spec: compute each partition value, keep it as
        a DATA column (reads never depend on Spark's directory
        inference — multiple file-set roots can't share a discovery
        base), and lay files out in Hive-style ``_d_<name>=<value>``
        directories via a duplicate column so the catalog's scan planner
        can prune whole directories from the manifest."""
        if not spec:
            df.coalesce(num_files).write.mode("overwrite").parquet(str(path))
            return
        from who_focus_crawler_spark.checkpoint.partition import (
            transform_expr,
            validate_spec,
        )

        validate_spec(spec, df.columns)
        types = dict(df.dtypes)
        out = df
        dir_cols = []
        for f in spec:
            val = transform_expr(f, F.col(f["source"]), types[f["source"]])
            out = out.withColumn(f["name"], val).withColumn(
                f"_d_{f['name']}", F.col(f["name"])
            )
            dir_cols.append(f"_d_{f['name']}")
        out.coalesce(num_files).write.mode("overwrite").partitionBy(
            *dir_cols
        ).parquet(str(path))

    def _read_files(
        self,
        spark: SparkSession,
        schema: T.StructType,
        paths: list[str],
        spec: list[dict] | None = None,
        keep_fields: list[dict] | None = None,
        with_pos: bool = False,
    ) -> DataFrame:
        """One scan over file-sets sharing one partition layout,
        normalized to ``schema`` (+ requested partition columns typed
        NULL where this layout lacks them, + ``_file_path``/``_row_pos``
        lineage when positional deletes need them). Partitioned layouts
        read with recursiveFileLookup — partition values live in the
        data files, the ``_d_*`` directories exist only for pruning."""
        from who_focus_crawler_spark.checkpoint.partition import (
            transform_output_type,
        )

        schema = _as_struct(schema)
        lineage = (
            [
                F.col("_metadata.file_path").alias("_file_path"),
                F.col("_metadata.row_index").alias("_row_pos"),
            ]
            if with_pos
            else []
        )
        src_types = {f.name: f.dataType.simpleString() for f in schema.fields}
        if not spec:
            df = spark.read.schema(schema).parquet(*paths)
            have: set[str] = set(df.columns)
        else:
            full = T.StructType(list(schema.fields))
            for f in spec:
                full = full.add(
                    f["name"],
                    T._parse_datatype_string(  # DDL names ("int", "bigint")
                        transform_output_type(f, src_types[f["source"]])
                    ),
                )
            df = (
                spark.read.schema(full)
                .option("recursiveFileLookup", "true")
                .parquet(*paths)
            )
            have = {f.name for f in full.fields}
        cols = [F.col(f.name) for f in schema.fields]
        for f in keep_fields or []:
            if f["name"] in have:
                cols.append(F.col(f["name"]))
            else:
                cols.append(
                    F.lit(None)
                    .cast(transform_output_type(f, src_types[f["source"]]))
                    .alias(f["name"])
                )
        return df.select(*cols, *lineage)

    def _file_stats(
        self,
        tables: dict[str, DataFrame],
        written: dict[str, str],
        stats_cols: dict[str, list[str]],
    ) -> dict:
        """Manifest column stats (Iceberg file-skipping): min/max per NEW
        file-set for the requested columns, computed with one tiny agg
        over the just-written parquet. Pure function of the written files
        — commit_optimistic computes it once outside its retry loop."""
        out: dict = {}
        for name, cols in stats_cols.items():
            if name not in written:
                continue
            row = list(tables[name].sparkSession.read.parquet(
                written[name]
            ).agg(
                *[f(c).alias(f"{tag}_{c}")
                  for c in cols
                  for tag, f in (("min", F.min), ("max", F.max))]
            ).collect())[0]
            out[name] = {
                written[name]: {
                    c: [
                        _stat_json(row[f"min_{c}"]),
                        _stat_json(row[f"max_{c}"]),
                    ]
                    for c in cols
                }
            }
        return out

    def _assemble_manifest(
        self,
        snapshot_id: int,
        head: int | None,
        prev: dict | None,
        tables: dict[str, DataFrame | None],
        written: dict[str, str],
        state: dict,
        new_stats: dict,
    ) -> dict:
        """Build the manifest dict for ``snapshot_id`` on base ``prev``.
        Metadata-only (the one Spark action — stats — happens in
        `_file_stats` beforehand), so commit_optimistic can re-run it
        against a moved head inside its CAS critical section."""
        entry: dict[str, list[str]] = {}
        schemas: dict = (
            json.loads(json.dumps(prev.get("schemas", {}))) if prev else {}
        )
        for name, df in tables.items():
            if df is None:  # unchanged append-table: carry file list forward
                entry[name] = list(prev["tables"][name]) if prev else []
                continue
            files = [written[name]]
            if name in APPEND_TABLES and prev and name in prev["tables"]:
                files = list(prev["tables"][name]) + files
            entry[name] = files
            # track the table's schema (field ids + per-file physical
            # names) so later evolution commits can rename/add/drop
            # without rewriting these files
            sch = schemas.get(name)
            if sch is None:
                sch = {"current": self._fields_of(df), "file_physical": {}}
                schemas[name] = sch
            else:
                known = {f["name"]: f for f in sch["current"]}
                next_id = 1 + max((f["id"] for f in sch["current"]), default=0)
                for f in df.schema.fields:  # auto-register brand-new columns
                    if f.name not in known:
                        sch["current"].append(
                            {
                                "id": next_id,
                                "name": f.name,
                                "type": f.dataType.simpleString(),
                            }
                        )
                        next_id += 1
            by_name = {f["name"]: f["id"] for f in sch["current"]}
            sch["file_physical"][written[name]] = {
                str(by_name[f.name]): f.name
                for f in df.schema.fields
                if f.name in by_name
            }
            # replace-tables drop superseded files — prune their mappings
            live = set(entry[name])
            sch["file_physical"] = {
                p: m for p, m in sch["file_physical"].items() if p in live
            }
        # tables the committer does not mention at all carry forward
        # untouched (an Iceberg catalog never drops a table because one
        # writer's commit didn't touch it) — essential for OCC merging,
        # where concurrent writers each know only their own tables
        for name, files in ((prev or {}).get("tables") or {}).items():
            if name not in tables:
                entry[name] = list(files)
        # merge the precomputed new-file stats over the carried-forward
        # ones; prior file-sets keep their stats
        stats: dict = (
            json.loads(json.dumps(prev.get("stats", {}))) if prev else {}
        )
        for name, fstats in new_stats.items():
            stats.setdefault(name, {}).update(fstats)
        # drop stats for file-sets no longer live (replace tables)
        for name in list(stats):
            live = set(entry.get(name, []))
            stats[name] = {
                p: s for p, s in stats[name].items() if p in live
            }
        # partition specs: new file-sets record the spec they were
        # written under (write() consulted the same prev manifest);
        # superseded file-sets drop their layout mapping like schemas
        pspecs: dict = (
            json.loads(json.dumps(prev.get("partition_specs", {})))
            if prev
            else {}
        )
        for name, df in tables.items():
            if df is None or name not in written:
                continue
            ent = pspecs.get(name)
            if ent and ent.get("current"):
                ent.setdefault("file_spec", {})[written[name]] = ent["current"]
        for name, ent in pspecs.items():
            live = set(entry.get(name, []))
            ent["file_spec"] = {
                p: s
                for p, s in (ent.get("file_spec") or {}).items()
                if p in live
            }
        return {
            "snapshot_id": snapshot_id,
            "committed_at": time.time(),
            "tables": entry,
            "state": state,
            "schemas": schemas,
            "deletes": dict(prev.get("deletes", {})) if prev else {},
            "stats": stats,
            "partition_specs": pspecs,
            "parent": head,
        }

    def _write_manifest(self, manifest: dict) -> None:
        mp = self._manifest_path(manifest["snapshot_id"])
        tmp = mp.with_suffix(".tmp")
        with open(tmp, "w") as f:
            f.write(json.dumps(manifest))
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, mp)

    def _swap_head(self, snapshot_id: int) -> None:
        htmp = self._head_path.with_suffix(".tmp")
        with open(htmp, "w") as f:
            f.write(str(snapshot_id))
            f.flush()
            os.fsync(f.fileno())
        os.replace(htmp, self._head_path)

    def _publish(self, manifest: dict) -> None:
        """Durably write a manifest, then atomically swap HEAD to it —
        the shared publish point for commit() and compact_table()."""
        self._write_manifest(manifest)
        # atomic HEAD swap — the publish point
        self._swap_head(manifest["snapshot_id"])

    # ------------------------------------------- optimistic concurrency
    def commit_optimistic(
        self,
        tables: dict[str, DataFrame],
        state: dict,
        base_snapshot: int | None = None,
        num_files: int = 1,
        stats_cols: dict[str, list[str]] | None = None,
        max_retries: int = 10,
    ) -> int:
        """Iceberg-style optimistic-concurrency commit against main.

        Multiple writers may call this concurrently (threads or
        processes sharing the catalog root). Data files are written
        ONCE to a commit-unique staging path; publication is then a
        metadata compare-and-swap loop: assemble the manifest against
        the current head and, under the catalog commit lock, publish
        only if head has not moved — otherwise revalidate against the
        new head and reassemble (metadata-only; no data is rewritten)
        and try again. This is exactly Iceberg's commit model: expensive
        work happens optimistically outside the lock, the critical
        section is a cheap pointer swap.

        Validation (the shape of Iceberg's serializable-isolation
        checks) against commits that landed after ``base_snapshot`` —
        the head this writer READ when computing ``tables`` (defaults
        to the head at call time, correct when the caller computes and
        commits back-to-back):

        - APPEND tables always merge: our delta appends to whatever
          file list the latest head carries (Iceberg fast-append).
        - REPLACE tables conflict if a concurrent commit changed the
          same table's file list — our replacement was computed from a
          state that no longer holds → :class:`CommitConflict`.
        - New equality deletes on a table we append to also conflict
          (our rows were derived without seeing those retractions).

        Returns the published snapshot id. The staged data directory is
        renamed to its final ``snap-{sid:06d}`` name inside the lock so
        the `_file_sid` sequence-number invariant (delete scoping,
        time-ordered maintenance) holds for OCC commits too.

        Mixing concurrent `commit()` (caller-chosen ids, no lock) with
        `commit_optimistic` writers is unsupported — like Iceberg, every
        concurrent writer must go through the CAS path. Maintenance
        (`expire_snapshots`) must not run while writers are in flight
        (same caveat as Iceberg's orphan-file cleanup).
        """
        import uuid

        if base_snapshot is None:
            base_snapshot = self.head()
        token = uuid.uuid4().hex[:12]
        from concurrent.futures import ThreadPoolExecutor

        to_write = {n: df for n, df in tables.items() if df is not None}
        base_m = (
            self.manifest(base_snapshot) if base_snapshot is not None else None
        )
        base_pspecs = (base_m or {}).get("partition_specs", {})

        def write(name: str, df: DataFrame) -> tuple[str, str]:
            path = self.root / "data" / name / f"occ-{token}"
            spec = (base_pspecs.get(name) or {}).get("current")
            self._write_fileset(df, path, spec, num_files)
            return name, str(path)

        with ThreadPoolExecutor(max_workers=max(len(to_write), 1)) as ex:
            staged = dict(ex.map(lambda kv: write(*kv), to_write.items()))
        new_stats = self._file_stats(tables, staged, stats_cols or {})
        replace_names = {n for n in to_write if n not in APPEND_TABLES}
        append_names = {n for n in to_write if n in APPEND_TABLES}

        try:
            for _ in range(max_retries + 1):
                head = self.head()
                prev = self.manifest(head) if head is not None else None
                if head != base_snapshot:
                    # someone published since we read — serializable checks
                    for name in replace_names:
                        b = ((base_m or {}).get("tables") or {}).get(name)
                        c = ((prev or {}).get("tables") or {}).get(name)
                        if b != c:
                            raise CommitConflict(
                                f"replace-table {name!r} changed by a "
                                f"concurrent commit (base {base_snapshot} → "
                                f"head {head})"
                            )
                    bdel = (base_m or {}).get("deletes") or {}
                    cdel = (prev or {}).get("deletes") or {}
                    for name in append_names:
                        if cdel.get(name, []) != bdel.get(name, []):
                            raise CommitConflict(
                                f"row-level deletes on {name!r} committed "
                                f"after base {base_snapshot} conflict with "
                                f"this append"
                            )
                    # our staged data was laid out under the BASE spec;
                    # a concurrent spec evolution would make the recorded
                    # file_spec lie about the directory layout
                    cspec = (prev or {}).get("partition_specs") or {}
                    for name in to_write:
                        if (base_pspecs.get(name) or {}).get("current") != (
                            cspec.get(name) or {}
                        ).get("current"):
                            raise CommitConflict(
                                f"partition spec of {name!r} evolved after "
                                f"base {base_snapshot} — restage under the "
                                "new layout"
                            )
                published: list[int] = []

                def attempt() -> None:
                    # runs INSIDE the backend's conditional-update
                    # critical section: the head is proven == `head`
                    nonlocal staged
                    sid = self._next_sid()
                    # final data-dir names: skip ids whose dir already
                    # exists (a plain-commit writer may have staged one)
                    while any(
                        (
                            self.root / "data" / n / f"snap-{sid:06d}"
                        ).exists()
                        for n in staged
                    ):
                        sid += 1
                    written: dict[str, str] = {}
                    for n, p in staged.items():
                        final = self.root / "data" / n / f"snap-{sid:06d}"
                        os.rename(p, final)
                        written[n] = str(final)
                    stats = {
                        n: {written[n]: next(iter(fs.values()))}
                        for n, fs in new_stats.items()
                    }
                    # merge this writer's state keys over the head's:
                    # concurrent writers each carry only their own keys,
                    # and a retried commit must not wipe state another
                    # writer published after our base (last-writer-wins
                    # PER KEY, not per dict)
                    merged_state = dict((prev or {}).get("state") or {})
                    merged_state.update(state)
                    manifest = self._assemble_manifest(
                        sid, head, prev, tables, written, merged_state,
                        stats,
                    )
                    self._publish(manifest)
                    staged = {}  # renamed away — nothing to clean up
                    published.append(sid)

                if self.cas.try_publish(head, attempt):
                    return published[0]
                # lost the race while assembling; revalidate and retry
            raise CommitConflict(
                f"commit_optimistic: head kept moving; gave up after "
                f"{max_retries} retries"
            )
        finally:
            # conflicted/aborted writers must not leak staged data: the
            # occ-<token> dirs are useless after a CommitConflict (the
            # data would be recomputed against the new head anyway)
            if staged:
                import shutil

                for p in staged.values():
                    shutil.rmtree(p, ignore_errors=True)

    # ---------------------------------------------------------------- read
    def read_table(
        self,
        spark: SparkSession,
        name: str,
        schema: T.StructType,
        snapshot_id: int | str | None = None,
        keep_partition_cols: bool = False,
        keep_pos: bool = False,
    ) -> DataFrame | None:
        """Merge-on-read view of a table at a snapshot: one scan per
        distinct partition layout (unpartitioned tables: exactly one),
        row-level deletes of both kinds applied per the sequence-number
        rules. ``keep_partition_cols`` appends the CURRENT spec's
        partition columns (typed NULL for file-sets predating them);
        ``keep_pos`` appends ``_file_path``/``_row_pos`` lineage —
        the address space positional deletes use."""
        sid = self._resolve(snapshot_id)
        if sid is None:
            return None
        manifest = self.manifest(sid)
        files = manifest["tables"].get(name, [])
        if not files:
            return None
        deletes = manifest.get("deletes", {}).get(name, [])
        pentry = manifest.get("partition_specs", {}).get(name, {})
        fspec = pentry.get("file_spec", {}) or {}
        keep_fields = (
            list(pentry.get("current") or []) if keep_partition_cols else []
        )
        groups: dict[str, list[str]] = {}
        for p in files:
            key = json.dumps(fspec.get(p) or [], sort_keys=True)
            groups.setdefault(key, []).append(p)
        parts = []
        for key, paths in sorted(groups.items()):
            spec = json.loads(key) or None
            if deletes:
                parts.append(
                    self._read_with_deletes(
                        spark, schema, paths, deletes,
                        spec=spec, keep_fields=keep_fields, keep_pos=keep_pos,
                    )
                )
            else:
                parts.append(
                    self._read_files(
                        spark, schema, paths,
                        spec=spec, keep_fields=keep_fields, with_pos=keep_pos,
                    )
                )
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    # ------------------------------------------------------ row-level deletes
    @staticmethod
    def _file_sid(path: str) -> int:
        """Snapshot id a data file-set was committed at, from its path
        (…/snap-000012 or …/compact-000012) — the shim's sequence number."""
        return int(str(path).rsplit("-", 1)[1])

    def _read_with_deletes(
        self,
        spark: SparkSession,
        schema: T.StructType,
        files: list[str],
        deletes: list[dict],
        spec: list[dict] | None = None,
        keep_fields: list[dict] | None = None,
        keep_pos: bool = False,
    ) -> DataFrame:
        """Merge-on-read: group data file-sets by WHICH delete files apply
        (Iceberg sequence numbers: equality deletes apply to file-sets
        with strictly smaller sequence number, positional deletes to ≤),
        anti-join each group against its applicable keys/positions, union.

        In practice there are few groups (often just "all deletes apply"
        for old files and "none" for newer ones), so this stays at one or
        two scans. Delete sets are tiny next to data, so the delete side
        broadcasts; NULL equality-key values match NULL (eqNullSafe), per
        the Iceberg equality-delete spec. ``files`` must share one
        partition layout (``spec``) — read_table groups by layout first.
        """
        from functools import reduce

        from pyspark.sql import functions as F

        groups: dict[tuple, list[str]] = {}
        for p in files:
            dsid = self._file_sid(p)
            eq = tuple(
                sorted(
                    d["path"]
                    for d in deletes
                    if d.get("kind", "eq") == "eq" and d["sid"] > dsid
                )
            )
            pos = tuple(
                sorted(
                    d["path"]
                    for d in deletes
                    if d.get("kind") == "pos" and d["sid"] >= dsid
                )
            )
            groups.setdefault((eq, pos), []).append(p)
        eq_keys = next(
            (d["keys"] for d in deletes if d.get("kind", "eq") == "eq"), None
        )
        parts = []
        for (eq, pos), paths in sorted(groups.items()):
            with_pos = bool(pos) or keep_pos
            df = self._read_files(
                spark, schema, paths,
                spec=spec, keep_fields=keep_fields, with_pos=with_pos,
            )
            if pos:
                pdf = (
                    spark.read.parquet(*pos)
                    .select("file_path", "pos")
                    .distinct()
                )
                cond = (df["_file_path"] == pdf["file_path"]) & (
                    df["_row_pos"] == pdf["pos"]
                )
                df = df.join(F.broadcast(pdf), cond, "left_anti")
            if eq:
                kdf = spark.read.parquet(*eq).select(*eq_keys).distinct()
                cond = reduce(
                    lambda a, b: a & b,
                    [df[k].eqNullSafe(kdf[k]) for k in eq_keys],
                )
                df = df.join(F.broadcast(kdf), cond, "left_anti")
            if with_pos and not keep_pos:
                df = df.drop("_file_path", "_row_pos")
            parts.append(df)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def delete_where(
        self,
        spark: SparkSession,
        name: str,
        keys_df: DataFrame,
    ) -> dict:
        """Equality delete (Iceberg v2, merge-on-read): publish a snapshot
        in which rows of append table ``name`` whose key columns match a
        row of ``keys_df`` are dead — WITHOUT rewriting any data file.

        ``keys_df``'s columns ARE the equality key. The keys are written
        as one small parquet file-set; readers apply it per
        `_read_with_deletes`. All delete files of one table must share
        the same key columns (enforced). Replace-tables are refused —
        they are rewritten wholesale every commit, so a delete there is
        just a filter on the next write.
        """
        if name not in APPEND_TABLES:
            raise ValueError(
                f"delete_where: {name!r} is a replace table — filter its "
                "next commit instead of issuing a delete"
            )
        head = self.head()
        if head is None:
            raise ValueError("delete_where: no snapshot to delete from")
        manifest = self.manifest(head)
        key_cols = list(keys_df.columns)
        existing = [
            d
            for d in manifest.get("deletes", {}).get(name, [])
            if d.get("kind", "eq") == "eq"
        ]
        if existing and existing[0]["keys"] != key_cols:
            raise ValueError(
                f"delete_where: table {name!r} already has deletes keyed "
                f"by {existing[0]['keys']} — got {key_cols}"
            )
        new_sid = head + 1
        path = self.root / "data" / name / f"delete-{new_sid:06d}"
        keys_df.distinct().coalesce(1).write.mode("overwrite").parquet(
            str(path)
        )
        return self._publish_delete(
            manifest,
            name,
            {
                "path": str(path),
                "sid": new_sid,
                "keys": key_cols,
                "kind": "eq",
            },
        )

    def _publish_delete(self, manifest: dict, name: str, record: dict) -> dict:
        """Metadata commit adding one delete file to ``name`` — tables,
        state, schemas, partition specs and stats all carry forward
        (deletes only remove rows, so recorded min/max stay valid
        conservative bounds)."""
        head = manifest["snapshot_id"]
        deletes = {
            t: list(ds) for t, ds in manifest.get("deletes", {}).items()
        }
        deletes.setdefault(name, []).append(record)
        self._publish(
            {
                "snapshot_id": record["sid"],
                "committed_at": time.time(),
                "tables": {
                    n: list(fs) for n, fs in manifest["tables"].items()
                },
                "state": manifest["state"],
                "schemas": manifest.get("schemas", {}),
                "deletes": deletes,
                "stats": manifest.get("stats", {}),
                "partition_specs": manifest.get("partition_specs", {}),
                "parent": head,
            }
        )
        return {"snapshot_id": record["sid"], "delete_file": record["path"]}

    def delete_positions(
        self,
        spark: SparkSession,
        name: str,
        pos_df: DataFrame,
    ) -> dict:
        """Positional delete (Iceberg v2, merge-on-read): publish a
        snapshot in which the rows of append table ``name`` addressed by
        ``pos_df`` — columns exactly ``(file_path: string, pos: long)``,
        a physical parquet file path as ``_metadata.file_path`` reports
        it plus the 0-based row ordinal within that file
        (``_metadata.row_index``) — are dead, WITHOUT rewriting any data
        file. Readers anti-join on the pair; a file appended after this
        delete has a new path, so it can never be over-deleted
        (the sequence-number rule holds by construction)."""
        if name not in APPEND_TABLES:
            raise ValueError(
                f"delete_positions: {name!r} is a replace table — filter "
                "its next commit instead of issuing a delete"
            )
        if list(pos_df.columns) != ["file_path", "pos"]:
            raise ValueError(
                "delete_positions: pos_df must have exactly the columns "
                f"(file_path, pos) — got {pos_df.columns}"
            )
        head = self.head()
        if head is None:
            raise ValueError("delete_positions: no snapshot to delete from")
        manifest = self.manifest(head)
        new_sid = head + 1
        path = self.root / "data" / name / f"delete-{new_sid:06d}"
        pos_df.distinct().coalesce(1).write.mode("overwrite").parquet(
            str(path)
        )
        return self._publish_delete(
            manifest,
            name,
            {"path": str(path), "sid": new_sid, "kind": "pos"},
        )

    def delete_matching_positions(
        self,
        spark: SparkSession,
        name: str,
        schema: T.StructType,
        condition,
    ) -> dict:
        """Predicate delete through the POSITIONAL path: one scan of the
        table's current live rows (with file/ordinal lineage attached)
        finds the positions matching ``condition``; they become one
        positional-delete file. Unlike `delete_matching` this needs no
        key column — it retracts exact physical rows, duplicates and
        all. No-op (no commit) when nothing matches."""
        live = self.read_table(spark, name, schema, keep_pos=True)
        if live is None:
            return {"deleted": 0}
        pos = live.filter(condition).select(
            F.col("_file_path").alias("file_path"),
            F.col("_row_pos").alias("pos"),
        )
        n = pos.count()
        if n == 0:
            return {"deleted": 0}
        res = self.delete_positions(spark, name, pos)
        res["deleted"] = n
        return res

    def delete_matching(
        self,
        spark: SparkSession,
        name: str,
        schema: T.StructType,
        condition,
        key_cols: list[str],
    ) -> dict:
        """Predicate delete: one scan of the table's CURRENT live rows
        finds the keys matching ``condition``; they become an equality
        delete. No-op (no commit) when nothing matches."""
        live = self.read_table(spark, name, schema)
        if live is None:
            return {"deleted": 0}
        keys = live.filter(condition).select(*key_cols).distinct()
        n = keys.count()
        if n == 0:
            return {"deleted": 0}
        res = self.delete_where(spark, name, keys)
        res["deleted"] = n
        return res

    # ------------------------------------------------- stats file skipping
    def scan_table(
        self,
        spark: SparkSession,
        name: str,
        schema: T.StructType,
        col: str,
        lo=None,
        hi=None,
        snapshot_id: int | str | None = None,
        stats_out: dict | None = None,
    ) -> DataFrame | None:
        """Range scan with MANIFEST-level file skipping (Iceberg file
        skipping): file-sets whose recorded [min, max] for ``col``
        (``commit(stats_cols=…)``) cannot intersect [lo, hi] are never
        opened — the planner sees only surviving paths, so at corpus
        scale a time/key-ranged read touches O(matching deltas) files
        instead of every delta ever appended. The exact predicate is
        re-applied to the surviving rows (stats only prune, rows decide).

        Bounds are inclusive; None = unbounded on that side. File-sets
        with no recorded stats (pre-stats commits, compactions, NULL-only
        columns) are conservatively read. Live equality deletes still
        apply — stats bounds stay valid because deletes only remove rows.
        Pass ``stats_out={}`` to get {"candidates", "skipped"} back.
        Returns None when the table is empty/absent (read_table's
        contract)."""
        sid = self._resolve(snapshot_id)
        if sid is None:
            return None
        manifest = self.manifest(sid)
        files = manifest["tables"].get(name, [])
        tstats = manifest.get("stats", {}).get(name, {})

        def may_match(path: str) -> bool:
            rng = tstats.get(path, {}).get(col)
            if not rng or rng[0] is None or rng[1] is None:
                return True  # unknown stats: cannot skip
            fmin, fmax = rng
            if lo is not None and fmax < lo:
                return False
            if hi is not None and fmin > hi:
                return False
            return True

        kept = [p for p in files if may_match(p)]
        if stats_out is not None:
            stats_out["candidates"] = len(files)
            stats_out["skipped"] = len(files) - len(kept)
        if not kept:
            return None
        deletes = manifest.get("deletes", {}).get(name, [])
        if deletes:
            fspec = (
                manifest.get("partition_specs", {}).get(name, {}) or {}
            ).get("file_spec", {}) or {}
            groups: dict[str, list[str]] = {}
            for p in kept:
                key = json.dumps(fspec.get(p) or [], sort_keys=True)
                groups.setdefault(key, []).append(p)
            parts = [
                self._read_with_deletes(
                    spark, schema, ps, deletes, spec=json.loads(k) or None
                )
                for k, ps in sorted(groups.items())
            ]
            df = parts[0]
            for p in parts[1:]:
                df = df.unionByName(p)
        else:
            df = self._read_filesets(spark, schema, kept, manifest, name)
        if lo is not None:
            df = df.filter(F.col(col) >= F.lit(lo))
        if hi is not None:
            df = df.filter(F.col(col) <= F.lit(hi))
        return df

    def scan_table_partitions(
        self,
        spark: SparkSession,
        name: str,
        schema: T.StructType,
        col: str,
        value,
        snapshot_id: int | str | None = None,
        stats_out: dict | None = None,
    ) -> DataFrame | None:
        """Point scan (``col == value``) with PARTITION pruning planned
        from the manifest — the way Iceberg prunes on manifest partition
        tuples, not via Spark's directory discovery. For every file-set
        written under a spec that transforms ``col``, only the one
        ``_d_<pcol>=<v>`` value directory that can hold matching rows is
        read; the transform of ``value`` is computed once per distinct
        spec field with a 1-row job (bucket needs xxhash64 — the engine's
        hash, evaluated where it is defined). A file-set whose value
        directory is absent contributes NOTHING — it is pruned without
        opening a single file. File-sets with no transform on ``col``
        (older layouts, unpartitioned) are read in full, conservatively.
        The exact predicate re-applies to surviving rows.

        Tables with live row-level deletes fall back to the unpruned
        merge-on-read scan (correctness first; delete applicability is
        tracked per file-set root, not per value directory).

        ``stats_out``: {"filesets", "pruned_filesets", "dirs_candidates",
        "dirs_read"}. Returns None when nothing survives pruning.
        """
        from urllib.parse import unquote

        from who_focus_crawler_spark.checkpoint.partition import (
            partition_value_expr,
        )

        sid = self._resolve(snapshot_id)
        if sid is None:
            return None
        manifest = self.manifest(sid)
        files = manifest["tables"].get(name, [])
        if not files:
            return None
        if manifest.get("deletes", {}).get(name):
            df = self.read_table(spark, name, schema, sid)
            return df.filter(F.col(col) == F.lit(value)) if df is not None else None
        fspec = (
            manifest.get("partition_specs", {}).get(name, {}) or {}
        ).get("file_spec", {}) or {}
        schema = _as_struct(schema)
        src_types = {f.name: f.dataType.simpleString() for f in schema.fields}
        tval_cache: dict[str, object] = {}
        # (layout json) -> list of paths to hand Spark (leaf dirs or roots)
        survivors: dict[str, list[str]] = {}
        n_pruned = dirs_cand = dirs_read = 0
        for p in files:
            spec = fspec.get(p) or []
            field = next((f for f in spec if f["source"] == col), None)
            key = json.dumps(spec, sort_keys=True)
            if field is None:
                survivors.setdefault(key, []).append(p)
                continue
            fkey = json.dumps(field, sort_keys=True)
            if fkey not in tval_cache:
                tval_cache[fkey] = spark.range(1).select(
                    partition_value_expr(field, value, src_types[col])
                ).collect()[0][0]
            tval = str(tval_cache[fkey])
            prefix = f"_d_{field['name']}="
            # the field's value directories may sit below other spec
            # fields' directories — prune at the field's own level,
            # keeping every matching subtree
            cands = [
                d
                for d in Path(p).rglob(f"{prefix}*")
                if d.is_dir()
            ]
            if not cands:  # empty/odd layout: read the root, conservative
                survivors.setdefault(key, []).append(p)
                continue
            dirs_cand += len(cands)
            hits = [
                str(d)
                for d in cands
                if unquote(d.name[len(prefix):]) == tval
            ]
            if not hits:
                n_pruned += 1
                continue
            dirs_read += len(hits)
            survivors.setdefault(key, []).extend(hits)
        if stats_out is not None:
            stats_out.update(
                filesets=len(files),
                pruned_filesets=n_pruned,
                dirs_candidates=dirs_cand,
                dirs_read=dirs_read,
            )
        if not survivors:
            return None
        parts = [
            self._read_files(spark, schema, ps, spec=json.loads(k) or None)
            for k, ps in sorted(survivors.items())
        ]
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out.filter(F.col(col) == F.lit(value))

    def state(self, snapshot_id: int | str | None = None) -> dict | None:
        sid = self._resolve(snapshot_id)
        if sid is None:
            return None
        return self.manifest(sid)["state"]

    # ----------------------------------------------------------------- refs
    # Iceberg-style named refs (tags): a ref is an atomically-written
    # file pointing at one snapshot id. Readers pass the ref name where
    # they'd pass a snapshot id; expire_snapshots never reclaims a
    # snapshot a ref pins, so `cat.set_ref("train-v1")` freezes a corpus
    # cut for as long as the tag lives — the audit/repro primitive every
    # training-data pipeline needs.

    def _ref_path(self, name: str) -> Path:
        if not name or not all(c.isalnum() or c in "._-" for c in name):
            raise ValueError(f"invalid ref name {name!r}")
        return self.root / "refs" / name

    def set_ref(self, name: str, snapshot_id: int | None = None) -> int:
        """Tag a snapshot (default: HEAD). Atomic; overwrites."""
        rp = self._ref_path(name)  # validates the name first
        sid = self.head() if snapshot_id is None else snapshot_id
        if sid is None or not self._manifest_path(sid).exists():
            raise ValueError(f"set_ref: no snapshot {sid!r}")
        rp.parent.mkdir(parents=True, exist_ok=True)
        tmp = rp.with_suffix(rp.suffix + ".tmp")
        with open(tmp, "w") as f:
            f.write(str(sid))
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, rp)
        return sid

    def ref(self, name: str) -> int | None:
        try:
            return int(self._ref_path(name).read_text().strip())
        except FileNotFoundError:
            return None

    def refs(self) -> dict[str, int]:
        d = self.root / "refs"
        if not d.exists():
            return {}
        return {
            p.name: int(p.read_text().strip())
            for p in sorted(d.iterdir())
            if not p.name.endswith(".tmp")
        }

    def drop_ref(self, name: str) -> bool:
        try:
            self._ref_path(name).unlink()
            return True
        except FileNotFoundError:
            return False

    # ------------------------------------------------------------- branches
    # Iceberg-style branches = refs that ADVANCE on commit. The flagship
    # workflow is write-audit-publish (WAP): stage crawl/corpus deltas on
    # a branch (main readers see nothing), validate the branch snapshot
    # through the ordinary read path (read_table/scan_table take the
    # branch name anywhere they take a snapshot id), then atomically
    # fast-forward main — one HEAD swap publishes the whole audited
    # chain, or drop_ref abandons it without a trace on main.

    def next_snapshot_id(self) -> int:
        """Public allocator for the next commit's snapshot id (alias of
        `_next_sid`): the crawl loop and any external writer must use
        this instead of assuming batch == snapshot id, because
        maintenance operations (compaction, branch publishes) allocate
        ids of their own and published ids are immutable."""
        return self._next_sid()

    def _next_sid(self) -> int:
        """Allocate a snapshot id no existing manifest/ref/HEAD uses."""
        ids = [
            int(p.stem.split("-")[1])
            for p in self.root.glob("manifest-*.json")
        ]
        h = self.head()
        if h is not None:
            ids.append(h)
        ids.extend(self.refs().values())
        return 1 + max(ids, default=-1)

    def create_branch(self, name: str, from_snapshot: int | None = None) -> int:
        """Branch off HEAD (or an explicit snapshot). Refuses to clobber
        an existing ref — branches move only via their own commits."""
        if self.ref(name) is not None:
            raise ValueError(f"create_branch: ref {name!r} already exists")
        return self.set_ref(name, from_snapshot)

    def commit_to_branch(
        self,
        branch: str,
        tables: dict[str, DataFrame],
        state: dict,
        num_files: int = 1,
        stats_cols: dict[str, list[str]] | None = None,
    ) -> int:
        """Stage a commit on ``branch``: base = branch tip, snapshot id
        auto-allocated, branch ref advances, HEAD untouched."""
        sid = self._next_sid()
        self.commit(
            sid, tables, state,
            num_files=num_files, stats_cols=stats_cols, branch=branch,
        )
        return sid

    def rollback_to(self, snapshot_id: int | str) -> int:
        """Iceberg-style `rollback_to_snapshot`: move HEAD back to an
        ancestor snapshot atomically (one HEAD swap — readers never see
        an intermediate state).

        The abandoned descendants stay on disk and remain
        time-travel-readable by explicit snapshot id until
        `expire_snapshots` ages them out; pin one with `set_ref` to keep
        it. Their ids are never reused by well-behaved writers
        (`next_snapshot_id` scans every manifest on disk, reachable or
        not), so a resumed crawl continues from the rolled-back state
        under fresh ids — and, by C9 determinism, re-produces the exact
        schedule the abandoned snapshots held.

        Refuses a target that is not an ancestor of the current HEAD
        (rolling "forward" or onto a diverged branch tip is not a
        rollback — use `fast_forward_main` for publishes).
        """
        sid = self._resolve(snapshot_id)
        if sid is None or not self._manifest_path(sid).exists():
            raise ValueError(f"rollback_to: no snapshot {snapshot_id!r}")
        h = self.head()
        if h is None:
            raise ValueError("rollback_to: catalog has no HEAD")
        if sid == h:
            return sid
        if not self._is_ancestor(sid, h):
            raise ValueError(
                f"rollback_to: snapshot {sid} is not an ancestor of HEAD ({h})"
            )
        self._swap_head(sid)
        return sid

    def _is_ancestor(self, ancestor: int, tip: int) -> bool:
        cur: int | None = tip
        while cur is not None:
            if cur == ancestor:
                return True
            m = self.manifest(cur) if self._manifest_path(cur).exists() else {}
            cur = m.get("parent")
        return False

    def fast_forward_main(self, branch: str, drop_branch: bool = False) -> int:
        """Publish an audited branch: if HEAD is an ancestor of the
        branch tip (pure fast-forward — no divergence), swap HEAD to the
        tip atomically. Diverged branches are refused (rebase by
        re-staging on a fresh branch; the shim does not merge)."""
        tip = self.ref(branch)
        if tip is None:
            raise ValueError(f"fast_forward_main: unknown branch {branch!r}")
        h = self.head()
        if h is not None and not self._is_ancestor(h, tip):
            raise ValueError(
                f"fast_forward_main: main ({h}) is not an ancestor of "
                f"{branch!r} tip ({tip}) — the branch has diverged"
            )
        self._swap_head(tip)
        if drop_branch:
            self.drop_ref(branch)
        return tip

    def _resolve(self, snapshot_id: int | str | None) -> int | None:
        """Snapshot id, ref name, or None (= HEAD) → snapshot id."""
        if snapshot_id is None:
            return self.head()
        if isinstance(snapshot_id, str):
            sid = self.ref(snapshot_id)
            if sid is None:
                raise ValueError(f"unknown ref {snapshot_id!r}")
            return sid
        return snapshot_id

    # ------------------------------------------------------ schema evolution
    # Iceberg-style, field-id based: the manifest's optional "schemas"
    # entry records, per table, the CURRENT schema as a list of
    # {id, name, type} fields plus, per committed file-set, the mapping
    # field-id → physical column name at write time. Evolution edits
    # only the current schema (a metadata commit — no data file is ever
    # rewritten): add-column reads as NULL from files that predate it,
    # rename is resolved through the field id (old files keep the old
    # physical name), drop hides the field, and type widening (e.g.
    # int → bigint) casts at read. This is exactly the trick Iceberg's
    # field ids buy over path-based Hive tables, reproduced on the shim.

    @staticmethod
    def _fields_of(df: DataFrame) -> list[dict]:
        return [
            {"id": i + 1, "name": f.name, "type": f.dataType.simpleString()}
            for i, f in enumerate(df.schema.fields)
        ]

    def evolve_schema(
        self,
        name: str,
        add: list[tuple[str, str]] | None = None,
        drop: list[str] | None = None,
        rename: dict[str, str] | None = None,
        retype: dict[str, str] | None = None,
    ) -> dict:
        """Metadata-only schema commit for one table: publish a new
        snapshot whose "schemas" entry reflects the evolution; every
        file list and the crawl state carry forward untouched.

        add: [(col, type)] appended with fresh field ids; drop: hide
        fields (their data stays in old files, unreadable — Iceberg
        semantics); rename: {old: new} (field id keeps the physical
        mapping to old files); retype: {col: wider_type} (cast at read;
        caller is responsible for picking a lossless widening such as
        int → bigint — the cast is applied to old AND new files).
        """
        head = self.head()
        if head is None:
            raise ValueError("evolve_schema: no snapshot to evolve")
        manifest = self.manifest(head)
        schemas = dict(manifest.get("schemas", {}))
        if name not in schemas:
            raise ValueError(
                f"evolve_schema: table {name!r} has no registered schema "
                "(written before schema tracking, or never written)"
            )
        entry = json.loads(json.dumps(schemas[name]))  # deep copy
        fields = entry["current"]
        by_name = {f["name"]: f for f in fields}
        for old, new in (rename or {}).items():
            if old not in by_name:
                raise ValueError(f"rename: unknown column {old!r}")
            if new in by_name:
                raise ValueError(f"rename: target {new!r} already exists")
            by_name[old]["name"] = new
        by_name = {f["name"]: f for f in fields}
        for col, typ in (retype or {}).items():
            if col not in by_name:
                raise ValueError(f"retype: unknown column {col!r}")
            by_name[col]["type"] = typ
        for col in drop or []:
            if col not in by_name:
                raise ValueError(f"drop: unknown column {col!r}")
            entry["current"] = [f for f in entry["current"] if f["name"] != col]
            by_name.pop(col)
        next_id = 1 + max((f["id"] for f in entry["current"]), default=0)
        for col, typ in add or []:
            if col in by_name:
                raise ValueError(f"add: column {col!r} already exists")
            entry["current"].append({"id": next_id, "name": col, "type": typ})
            next_id += 1
        schemas[name] = entry
        new_sid = head + 1
        self._publish(
            {
                "snapshot_id": new_sid,
                "committed_at": time.time(),
                "tables": {
                    n: list(fs) for n, fs in manifest["tables"].items()
                },
                "state": manifest["state"],
                "schemas": schemas,
                "deletes": manifest.get("deletes", {}),
                # renames/drops may invalidate recorded column stats —
                # drop the table's stats (conservative: no skipping)
                "stats": {
                    t: st
                    for t, st in manifest.get("stats", {}).items()
                    if t != name
                },
                "partition_specs": manifest.get("partition_specs", {}),
                "parent": head,
            }
        )
        return {"snapshot_id": new_sid, "schema": entry["current"]}

    # ------------------------------------------------- partition evolution
    def set_partition_spec(
        self, name: str, spec: list[dict] | None
    ) -> dict:
        """Iceberg `update_spec`: a METADATA-ONLY commit changing how
        FUTURE file-sets of ``name`` are laid out. Each spec field is
        ``{"source": col, "transform": t, "name": partition_col}`` with
        transforms identity / bucket[N] / truncate[W] / year / month /
        day / hour (checkpoint/partition.py). Old file-sets keep the
        layout they were written under and stay readable — a read plans
        one scan per distinct layout, exactly like `read_table_evolved`
        plans one scan per physical schema. ``spec=None`` reverts to
        unpartitioned writes."""
        head = self.head()
        if head is None:
            raise ValueError("set_partition_spec: no snapshot to evolve")
        manifest = self.manifest(head)
        pspecs = json.loads(
            json.dumps(manifest.get("partition_specs", {}))
        )
        if spec is not None:
            sch = manifest.get("schemas", {}).get(name)
            if sch is not None:
                from who_focus_crawler_spark.checkpoint.partition import (
                    validate_spec,
                )

                validate_spec(spec, [f["name"] for f in sch["current"]])
            ent = pspecs.setdefault(name, {"current": None, "file_spec": {}})
            ent["current"] = spec
        elif name in pspecs:
            pspecs[name]["current"] = None
        new_sid = head + 1
        self._publish(
            {
                "snapshot_id": new_sid,
                "committed_at": time.time(),
                "tables": {
                    n: list(fs) for n, fs in manifest["tables"].items()
                },
                "state": manifest["state"],
                "schemas": manifest.get("schemas", {}),
                "deletes": manifest.get("deletes", {}),
                "stats": manifest.get("stats", {}),
                "partition_specs": pspecs,
                "parent": head,
            }
        )
        return {"snapshot_id": new_sid, "spec": spec}

    def read_table_evolved(
        self,
        spark: SparkSession,
        name: str,
        snapshot_id: int | str | None = None,
    ) -> DataFrame | None:
        """Read a table at its (snapshot-current) evolved schema.

        Each committed file-set is read with the physical names it was
        written with (resolved through field ids), renamed/cast to the
        current schema, missing fields filled with typed NULLs, then
        unioned by position — one scan per distinct physical layout, so
        an unevolved table costs exactly one spark.read like read_table.
        """
        from pyspark.sql import functions as F

        sid = self._resolve(snapshot_id)
        if sid is None:
            return None
        manifest = self.manifest(sid)
        files = manifest["tables"].get(name, [])
        schema_entry = manifest.get("schemas", {}).get(name)
        if not files or schema_entry is None:
            return None
        current = schema_entry["current"]
        phys = schema_entry["file_physical"]
        # group file-sets by identical physical layout → one read each
        groups: dict[str, list[str]] = {}
        for path in files:
            key = json.dumps(phys.get(path, {}), sort_keys=True)
            groups.setdefault(key, []).append(path)
        parts = []
        for key, paths in sorted(groups.items()):
            mapping = json.loads(key)  # field-id (str) → physical name
            df = spark.read.parquet(*paths)
            have = set(df.columns)
            cols = []
            for f in current:
                pname = mapping.get(str(f["id"]))
                if pname is not None and pname in have:
                    cols.append(F.col(pname).cast(f["type"]).alias(f["name"]))
                else:  # field added after these files were written
                    cols.append(
                        F.lit(None).cast(f["type"]).alias(f["name"])
                    )
            parts.append(df.select(*cols))
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    # ----------------------------------------------------------- maintain
    def expire_snapshots(self, keep_last: int) -> dict:
        """Iceberg-style maintenance: drop manifests older than the last
        ``keep_last`` snapshots and delete data files no retained
        manifest references.

        Append-table files referenced by a retained manifest survive even
        if they were WRITTEN by an expired snapshot (the retained
        manifest carries the full file list), so time travel keeps
        working across the retained window while storage stops growing
        without bound. HEAD is never expired. Returns counts:
        {"manifests_removed", "files_removed"}."""
        head = self.head()
        if head is None:
            return {"manifests_removed": 0, "files_removed": 0}
        all_ids = sorted(
            int(p.stem.split("-")[1]) for p in self.root.glob("manifest-*.json")
        )
        # ref'd snapshots are pinned: a tag freezes its corpus cut
        keep_ids = (
            set(all_ids[-max(keep_last, 1):]) | {head} | set(self.refs().values())
        )
        referenced: set[str] = set()
        for sid in keep_ids:
            m = self.manifest(sid)
            for files in m["tables"].values():
                referenced.update(files)
            for dels in m.get("deletes", {}).values():
                referenced.update(d["path"] for d in dels)
        removed_files = 0
        data_root = self.root / "data"
        if data_root.exists():
            import shutil

            for table_dir in data_root.iterdir():
                for snap_dir in table_dir.iterdir():
                    if str(snap_dir) not in referenced:
                        removed_files += sum(
                            1 for p in snap_dir.rglob("*") if p.is_file()
                        )
                        shutil.rmtree(snap_dir)
        removed_manifests = 0
        for sid in all_ids:
            if sid not in keep_ids:
                self._manifest_path(sid).unlink()
                removed_manifests += 1
        return {
            "manifests_removed": removed_manifests,
            "files_removed": removed_files,
        }

    def compact_table(
        self,
        spark: SparkSession,
        name: str,
        schema: T.StructType,
        num_files: int = 1,
        sort_by: list[str] | None = None,
        zorder_by: list[str] | None = None,
        zorder_bits: int = 16,
    ) -> dict:
        """Iceberg-style data-file compaction for one (append) table.

        A long crawl leaves an append table (crawl_order, documents,
        metrics) spread over one small file-set per batch — the classic
        small-files problem: every read plans hundreds of tiny splits.
        Compaction rewrites the table's CURRENT file list into
        ``num_files`` files and publishes a NEW snapshot whose manifest
        points this table at the compacted set (all other tables and the
        crawl state carry forward unchanged). Readers at older snapshots
        still see the original files — time travel is unaffected — and
        the superseded files are reclaimed later by expire_snapshots
        once no retained manifest references them.

        Run this as between-run maintenance: crawl snapshot ids are
        batch-sequential, so a crawl RESUMED after compaction writes its
        next batch at the same id, superseding the compaction manifest —
        but commit() carries file lists forward from HEAD, so the
        resumed batch appends ON TOP of the compacted file set and the
        rewrite survives (e2e: resume after compact+expire replays the
        golden crawl exactly).
        """
        head = self.head()
        if head is None:
            return {"compacted": False, "reason": "no snapshots"}
        manifest = self.manifest(head)
        files = manifest["tables"].get(name, [])
        live_deletes = manifest.get("deletes", {}).get(name, [])
        if len(files) <= num_files and not live_deletes:
            return {"compacted": False, "reason": "already compact",
                    "files_before": len(files)}
        if sort_by and zorder_by:
            raise ValueError("compact_table: sort_by and zorder_by are exclusive")
        new_sid = head + 1
        path = self.root / "data" / name / f"compact-{new_sid:06d}"
        pentry = manifest.get("partition_specs", {}).get(name, {}) or {}
        cur_spec = pentry.get("current")
        partitioned = bool(cur_spec) or any(
            (pentry.get("file_spec") or {}).get(p) for p in files
        )
        if partitioned and (sort_by or zorder_by):
            raise ValueError(
                "compact_table: sort/zorder rewrites are not supported on "
                "partitioned tables — revert the spec first "
                "(set_partition_spec(name, None))"
            )
        sch = manifest.get("schemas", {}).get(name)
        # a table is EVOLVED (not merely schema-tracked — commit() records
        # a schemas entry for every table) iff some live file was written
        # under a field-id mapping that differs from the current schema
        evolved = False
        if sch is not None:
            current_map = {str(f["id"]): f["name"] for f in sch["current"]}
            evolved = any(
                sch["file_physical"].get(p, current_map) != current_map
                for p in files
            )
        if evolved:
            if live_deletes or partitioned:
                # per-file-set delete applicability / partition layout and
                # per-layout field-id resolution would have to be
                # intersected; keep the shim simple — normalize one axis
                # at a time
                raise ValueError(
                    f"compact_table: {name!r} has schema evolution combined "
                    "with live deletes or partition layouts — compact "
                    "before evolving (or fold deletes/layouts first)"
                )
            # evolved tables must be read through the field-id mapping
            # (old files may carry pre-rename physical names); the
            # rewrite then normalizes every file to the current schema
            df = self.read_table_evolved(spark, name, head)
        elif partitioned:
            # layout-aware merge-on-read view (one scan per layout, both
            # delete kinds applied); the rewrite below re-lays everything
            # out under the CURRENT spec — Iceberg's rewrite_data_files
            # migrating old-spec files to the new spec
            df = self.read_table(spark, name, schema, head)
        elif live_deletes:
            # Iceberg rewrite-with-deletes: the compacted file-set is the
            # merge-on-read view, and the delete files are cleared below
            df = self._read_with_deletes(spark, schema, files, live_deletes)
        else:
            df = spark.read.schema(schema).parquet(*files)
        if zorder_by:
            # Iceberg rewrite-with-zorder: cluster files on the Morton
            # code of the (numeric) dimensions so min/max pruning works
            # for predicates on ANY of them, not just a lead sort key.
            # Quantization ranges come from the table's own min/max
            # (one agg over the files being rewritten — maintenance-
            # time cost, not query-time).
            from pyspark.sql import functions as F

            from who_focus_crawler_spark.operators.zorder import (
                with_zorder_key,
            )

            aggs = []
            for c in zorder_by:
                aggs += [F.min(c).alias(f"_lo_{c}"), F.max(c).alias(f"_hi_{c}")]
            stats = df.agg(*aggs).collect()[0]
            ranges = {
                c: (int(stats[f"_lo_{c}"]), int(stats[f"_hi_{c}"]))
                for c in zorder_by
                if stats[f"_lo_{c}"] is not None
                and int(stats[f"_hi_{c}"]) > int(stats[f"_lo_{c}"])
            }
            keyed = with_zorder_key(df, zorder_by, zorder_bits, ranges)
            if num_files > 1:
                keyed = keyed.repartitionByRange(num_files, "z_key")
            else:
                keyed = keyed.coalesce(1)
            df = keyed.sortWithinPartitions("z_key").drop("z_key")
        elif sort_by:
            # Iceberg rewrite-with-sort-order: RANGE-partition on the
            # sort key so each output file owns a disjoint key range
            # (coalesce would concatenate arbitrary splits and every
            # file would span the whole range), then sort inside — now
            # ranged reads hit few files and parquet min/max stats
            # prune across files, not just row groups.
            if num_files > 1:
                df = df.repartitionByRange(num_files, *sort_by)
            else:
                df = df.coalesce(1)
            df = df.sortWithinPartitions(*sort_by)
        if zorder_by or sort_by:
            df.write.mode("overwrite").parquet(str(path))
        else:
            # plain rewrite — for partitioned tables this re-lays
            # everything out under the CURRENT spec (or unpartitioned
            # when the spec was reverted): Iceberg's rewrite_data_files
            # migrating old-spec files to the new layout
            self._write_fileset(
                df, path, cur_spec if partitioned else None, num_files
            )
        entry = {n: list(fs) for n, fs in manifest["tables"].items()}
        entry[name] = [str(path)]
        schemas = json.loads(json.dumps(manifest.get("schemas", {})))
        if sch is not None:
            # the compacted file-set is written at the current schema
            schemas[name]["file_physical"] = {
                str(path): {
                    str(f["id"]): f["name"] for f in sch["current"]
                }
            }
        deletes = {
            t: list(ds)
            for t, ds in manifest.get("deletes", {}).items()
            if t != name  # folded into the rewrite
        }
        pspecs = json.loads(
            json.dumps(manifest.get("partition_specs", {}))
        )
        if name in pspecs:
            # the compacted file-set is the table's only one; it was
            # written under the current spec (or unpartitioned)
            pspecs[name]["file_spec"] = (
                {str(path): cur_spec} if (partitioned and cur_spec) else {}
            )
        self._publish(
            {
                "snapshot_id": new_sid,
                "committed_at": time.time(),
                "tables": entry,
                "state": manifest["state"],
                "schemas": schemas,
                "deletes": deletes,
                # the rewrite replaces every file-set the stats describe;
                # re-register stats on the next stats_cols commit
                "stats": {
                    t: st
                    for t, st in manifest.get("stats", {}).items()
                    if t != name
                },
                "partition_specs": pspecs,
                "parent": head,
            }
        )
        return {
            "compacted": True,
            "snapshot_id": new_sid,
            "files_before": len(files),
            "files_after": num_files,
            "deletes_applied": len(live_deletes),
        }

    def _read_filesets(
        self,
        spark: SparkSession,
        schema: T.StructType,
        paths: list[str],
        manifest: dict,
        name: str,
        with_pos: bool = False,
    ) -> DataFrame:
        """Delete-free read of specific file-sets, one scan per distinct
        partition layout — the shared reader for incremental/changelog
        scans, which pick their own file lists."""
        fspec = (
            manifest.get("partition_specs", {}).get(name, {}) or {}
        ).get("file_spec", {}) or {}
        groups: dict[str, list[str]] = {}
        for p in paths:
            key = json.dumps(fspec.get(p) or [], sort_keys=True)
            groups.setdefault(key, []).append(p)
        parts = [
            self._read_files(
                spark, schema, ps, spec=json.loads(k) or None,
                with_pos=with_pos,
            )
            for k, ps in sorted(groups.items())
        ]
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    # --------------------------------------------------- incremental scan
    def incremental_scan(
        self,
        spark: SparkSession,
        name: str,
        schema: T.StructType,
        from_snapshot: int,
        to_snapshot: int | str | None = None,
    ) -> DataFrame | None:
        """Iceberg incremental APPEND scan: only the rows appended to
        ``name`` strictly after ``from_snapshot`` and at or before
        ``to_snapshot`` (default HEAD) — the feed-the-downstream-job-
        only-the-new-crawl-output primitive.

        File-sets carry the snapshot id they were committed at in their
        path (the shim's sequence number), so the delta is a pure
        manifest filter: no data of the base snapshot is opened, read,
        or shuffled. Matches Iceberg's own restriction: the range must
        be append-only — a compaction rewrite in range re-publishes old
        rows under a new sequence number, and row-level deletes change
        visibility retroactively, so both REFUSE rather than silently
        over- or under-report.
        """
        to_sid = self._resolve(to_snapshot)
        if to_sid is None:
            return None
        if from_snapshot > to_sid:
            raise ValueError(
                f"incremental_scan: from_snapshot {from_snapshot} is after "
                f"to_snapshot {to_sid}"
            )
        manifest = self.manifest(to_sid)
        files = manifest["tables"].get(name, [])
        new = [
            f
            for f in files
            if from_snapshot < self._file_sid(f) <= to_sid
        ]
        for f in new:
            if Path(f).name.startswith("compact-"):
                raise ValueError(
                    "incremental_scan: range crosses a compaction rewrite "
                    f"({Path(f).name}) — re-baseline from that snapshot"
                )
        if any(
            from_snapshot < d["sid"] <= to_sid
            for d in manifest.get("deletes", {}).get(name, [])
        ):
            raise ValueError(
                "incremental_scan: range contains row-level deletes — "
                "the delta is not append-only"
            )
        if not new:
            return None
        return self._read_filesets(spark, schema, new, manifest, name)

    def changelog_scan(
        self,
        spark: SparkSession,
        name: str,
        schema: T.StructType,
        from_snapshot: int,
        to_snapshot: int | str | None = None,
    ) -> DataFrame | None:
        """Iceberg CDC (`create_changelog_view`): every row-level change
        to append table ``name`` strictly after ``from_snapshot`` up to
        ``to_snapshot`` (default HEAD), as the data rows plus
        ``_change_type`` ('insert' | 'delete') and
        ``_change_snapshot_id`` (the commit that caused it).

        This is what `incremental_scan` refuses to answer when the
        window contains row-level deletes: a downstream consumer that
        materializes a derived corpus (tokenized shards, an ANN index,
        a dedup signature store) applies inserts AND retractions —
        GDPR/takedown deletes, quality recalls — without re-reading the
        table. Matches Iceberg's non-net changelog: a row inserted and
        deleted inside the window emits BOTH records, in commit order.

        - inserts: rows of data file-sets committed in the window —
          read O(new deltas), never the historical corpus.
        - deletes: for each equality-delete committed at d in the
          window, the rows it actually killed — rows visible just
          before d (files with sequence number < d, minus earlier
          deletes) matching d's keys. Delete key sets are tiny and
          broadcast; the data side is pruned to the file-sets the
          delete can touch.
        - refuses a window crossing a compaction rewrite, exactly like
          `incremental_scan` (old rows republish under a new sequence
          number — provenance is gone; re-baseline from the rewrite).

        Returns None when nothing changed in the window.
        """
        from functools import reduce

        to_sid = self._resolve(to_snapshot)
        if to_sid is None:
            return None
        if from_snapshot > to_sid:
            raise ValueError(
                f"changelog_scan: from_snapshot {from_snapshot} is after "
                f"to_snapshot {to_sid}"
            )
        manifest = self.manifest(to_sid)
        files = manifest["tables"].get(name, [])
        in_window = [
            f for f in files if from_snapshot < self._file_sid(f) <= to_sid
        ]
        for f in in_window:
            if Path(f).name.startswith("compact-"):
                raise ValueError(
                    "changelog_scan: range crosses a compaction rewrite "
                    f"({Path(f).name}) — re-baseline from that snapshot"
                )
        all_dels = manifest.get("deletes", {}).get(name, [])
        win_dels = [d for d in all_dels if from_snapshot < d["sid"] <= to_sid]

        def tag(df: DataFrame, kind: str, sid: int) -> DataFrame:
            return df.withColumn("_change_type", F.lit(kind)).withColumn(
                "_change_snapshot_id", F.lit(sid).cast("long")
            )

        parts = [
            tag(
                self._read_filesets(spark, schema, [f], manifest, name),
                "insert",
                self._file_sid(f),
            )
            for f in in_window
        ]
        fspec = (
            manifest.get("partition_specs", {}).get(name, {}) or {}
        ).get("file_spec", {}) or {}
        for d in win_dels:
            # rows visible just before this delete: file-sets older than
            # it, minus what EARLIER deletes already killed
            base = [f for f in files if self._file_sid(f) < d["sid"]]
            if not base:
                continue
            is_pos = d.get("kind") == "pos"
            earlier = [e for e in all_dels if e["sid"] < d["sid"]]
            groups: dict[str, list[str]] = {}
            for p in base:
                key = json.dumps(fspec.get(p) or [], sort_keys=True)
                groups.setdefault(key, []).append(p)
            vis_parts = []
            for key, ps in sorted(groups.items()):
                sp = json.loads(key) or None
                if earlier:
                    vis_parts.append(
                        self._read_with_deletes(
                            spark, schema, ps, earlier,
                            spec=sp, keep_pos=is_pos,
                        )
                    )
                else:
                    vis_parts.append(
                        self._read_files(
                            spark, schema, ps, spec=sp, with_pos=is_pos
                        )
                    )
            visible = vis_parts[0]
            for p in vis_parts[1:]:
                visible = visible.unionByName(p)
            if is_pos:
                pairs = (
                    spark.read.parquet(d["path"])
                    .select("file_path", "pos")
                    .distinct()
                )
                cond = (visible["_file_path"] == pairs["file_path"]) & (
                    visible["_row_pos"] == pairs["pos"]
                )
                removed = visible.join(
                    F.broadcast(pairs), cond, "left_semi"
                ).drop("_file_path", "_row_pos")
            else:
                keys = (
                    spark.read.parquet(d["path"])
                    .select(*d["keys"])
                    .distinct()
                )
                cond = reduce(
                    lambda a, b: a & b,
                    [visible[k].eqNullSafe(keys[k]) for k in d["keys"]],
                )
                removed = visible.join(F.broadcast(keys), cond, "left_semi")
            parts.append(tag(removed, "delete", d["sid"]))
        if not parts:
            return None
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    # ---------------------------------------------------- orphan cleanup
    def remove_orphan_files(self, grace_seconds: float = 3 * 86400.0) -> dict:
        """Delete data file-sets referenced by NO existing manifest —
        the debris of a crash between data write and manifest publish
        (Iceberg's remove_orphan_files maintenance action).

        Referenced = every table file-set and delete file listed by any
        manifest still on disk (expire_snapshots already bounds that
        set). Safe by construction for this single-driver shim: a
        concurrent commit writes data BEFORE its manifest, so anything
        unreferenced at scan time with a snapshot id ≤ an EXISTING
        manifest's id can never become referenced later; file-sets with
        ids beyond every known manifest are left alone (they may belong
        to an in-flight commit).

        File-sets whose names carry no snapshot id — ``occ-<token>``
        staging dirs from :meth:`commit_optimistic` — may belong to a
        writer between staging and its lock-held rename, so they are
        only removed when older than ``grace_seconds`` (Iceberg's
        remove_orphan_files has the same mtime-based ``older_than``
        guard, default 3 days). Successful OCC commits rename their
        staging dir away and conflicted ones clean up after themselves,
        so anything still named ``occ-*`` after the grace window is a
        crashed writer's debris.
        """
        import shutil

        referenced: set[str] = set()
        max_known = -1
        for mp in sorted(self.root.glob("manifest-*.json")):
            man = json.loads(mp.read_text())
            max_known = max(max_known, int(man["snapshot_id"]))
            for files in man.get("tables", {}).values():
                referenced.update(str(Path(f)) for f in files)
            for ds in man.get("deletes", {}).values():
                referenced.update(str(Path(d["path"])) for d in ds)
        removed: list[str] = []
        kept_inflight = 0
        now = time.time()
        data_root = self.root / "data"
        if data_root.exists():
            for table_dir in sorted(data_root.iterdir()):
                if not table_dir.is_dir():
                    continue
                for file_set in sorted(table_dir.iterdir()):
                    p = str(file_set)
                    if p in referenced:
                        continue
                    try:
                        sid = self._file_sid(p)
                    except (ValueError, IndexError):
                        sid = None
                    if sid is not None and sid > max_known:
                        kept_inflight += 1  # possibly an in-flight commit
                        continue
                    if sid is None:
                        # unparsable name (occ-* staging): in-flight
                        # unless demonstrably stale
                        try:
                            age = now - file_set.stat().st_mtime
                        except OSError:
                            age = 0.0
                        if age < grace_seconds:
                            kept_inflight += 1
                            continue
                    shutil.rmtree(file_set)
                    removed.append(p)
        return {
            "removed": len(removed),
            "kept_inflight": kept_inflight,
            "paths": removed,
        }
