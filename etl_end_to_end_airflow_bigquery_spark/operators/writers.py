"""Write-path semantics: append, MERGE upsert, idempotent append.

These are the reference's three pipeline variants, re-expressed as
engine-level writers (SURVEY.md §2.1, §2.3, §7 step 2):

- **append** — ``WRITE_APPEND`` load job
  (``dags/ FXRate_Reporting_Pipeline.py:75-94``).
- **merge_upsert** — BigQuery ``MERGE target USING source ON <keys>
  WHEN MATCHED THEN UPDATE … WHEN NOT MATCHED THEN INSERT``
  (``dags/fx_pipeline_with_merge.py:90-103,173-189``; README.md:50-64).
  Plain Parquet has no row-level ops, so MERGE = full-outer join with
  source-wins coalesce + an atomic snapshot commit. At 100 TB you never
  rewrite the whole table: on a partitioned table (its spec is named
  by the first write's ``partition_col`` and recorded with the
  snapshot) only the partitions present in the source batch are read
  and rewritten; untouched partitions are carried into the new
  snapshot as hardlinks (metadata-only, no data copy) — BigQuery MERGE
  atomicity (``dags/fx_pipeline_with_merge.py:90-111``) without
  BigQuery.
- **idempotent_append** — the check-then-insert guard
  (``dags/idempotent_fx_pipeline.py:73-87``), strengthened from the
  reference's all-or-nothing COUNT check to a per-row left-anti join
  (only genuinely-new keys are appended).

The pure DataFrame forms (``*_df``) are the algebra; the path forms add
storage atomicity via a **versioned-commit layout** (VERDICT r02 item 4
— reader-safe, unlike a rename swap which has a window where the table
directory doesn't exist):

    table/
      _CURRENT              ← text pointer, atomically replaced
      _COMMITS              ← append-only ledger of committed snapshots
      _LOCK                 ← present only while a writer is active
      v_000001_<uuid>/…parquet          (unpartitioned)
      v_000002_<uuid>/day=d1/…parquet   (partitioned; untouched leaves
                                         hardlink the previous snapshot)
      v_*/_snapshot_meta.json           ← commit-time sidecar: the
                                         inline per-file stats census,
                                         partition spec and column
                                         types, layouts, and
                                         (unpartitioned) the Spark row
                                         schema

A commit writes a fresh ``v_*`` directory, records it in ``_COMMITS``,
then flips ``_CURRENT`` with ``os.replace`` and fsyncs the table
directory so the flip survives a power loss (atomic on POSIX; on an
object store the pointer PUT is the commit and "hardlink" becomes a
manifest entry — the same reuse trick Iceberg/Delta manifests express).
Each operation has ONE path form — :func:`merge_upsert`,
:func:`delete_rows`, :func:`compact_parquet` — whatever the table's
shape: the current snapshot's layout map decides how it is rewritten.
A spec-evolved snapshot records the map (one layout dir per partition
spec, :func:`evolve_partition_spec`); a flat snapshot is one layout
rooted at the snapshot dir, partitioned by its recorded spec.

Readers resolve the pointer via :func:`read_table`, which reads each
layout with the schema its sidecar vouches for (``spark_schema``,
copied from the data files' footers at commit, or the layout's footer
schema, plus the recorded partition column types) and so skips Spark's
schema-inference job — the way Delta keeps the table schema in its
log; a snapshot without a sidecar falls back to the inferred read.
Range-bounded reads go through :func:`read_table_skipping`, which plans
every table the same way: one keep/skip decision per file from the
sidecar's inline census.
A reader that resolved the previous pointer keeps a fully-intact
directory — the last ``keep_versions`` **committed** versions are
retained (the Delta/Iceberg snapshot-retention trade: shrink it and a
very slow reader can lose its snapshot to cleanup, exactly like VACUUM).
Retention counts only ledger-recorded snapshots, so a crash-orphaned
``v_*`` dir (written, never committed) can never evict a genuine
committed predecessor (ADVICE r03); orphans themselves are swept on the
next commit.

**Single-writer contract, enforced** (VERDICT r03 item 10): every
mutating path form takes an ``O_EXCL`` lock file for the duration of
the write; a second concurrent writer raises
:class:`ConcurrentWriteError` instead of silently shadowing the first
commit. A crashed writer leaves the lock behind — the error message
names the holder pid so an operator can verify it is dead and remove
the file (a production deployment would add lease expiry on top).
"""

from __future__ import annotations

import contextlib
import functools as _functools
import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from ..io import (
    SPARK_ROW_META,
    footer_schema,
    iter_data_files,
    union_layouts,
)

_CURRENT_PTR = "_CURRENT"
_LEDGER = "_COMMITS"
_LOCK = "_LOCK"


class ConcurrentWriteError(RuntimeError):
    """A second writer attempted to mutate a table mid-write."""


@contextlib.contextmanager
def _write_lock(path: str):
    """O_EXCL advisory lock scoped to one table directory.

    Without it, two concurrent ``merge_upsert`` calls both read the same
    base snapshot and both commit — last pointer wins and the first
    commit is silently shadowed (lost update). O_CREAT|O_EXCL is atomic
    on POSIX filesystems (and on object stores with if-none-match PUT).
    """
    os.makedirs(path, exist_ok=True)
    lock = os.path.join(path, _LOCK)
    try:
        fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
    except FileExistsError:
        try:
            with open(lock, encoding="utf-8") as f:
                holder = f.read().strip() or "?"
        except OSError:
            holder = "?"
        raise ConcurrentWriteError(
            f"another writer holds {lock!r} ({holder}); these writers are "
            "single-writer per table. If the holder crashed, verify the "
            "pid is dead and delete the lock file to recover."
        ) from None
    try:
        os.write(fd, f"pid={os.getpid()}".encode())
        os.close(fd)
        yield
    finally:
        with contextlib.suppress(OSError):
            os.remove(lock)


def _resolve_data_dir(path: str) -> str:
    """Data directory a reader should scan: the ``_CURRENT``-pointed
    version for versioned tables, the path itself for plain directories
    (append tables, driver testdata, legacy layouts)."""
    ptr = os.path.join(path, _CURRENT_PTR)
    if os.path.isfile(ptr):
        with open(ptr, encoding="utf-8") as f:
            return os.path.join(path, f.read().strip())
    return path


def _current_version_name(path: str) -> str | None:
    ptr = os.path.join(path, _CURRENT_PTR)
    if os.path.isfile(ptr):
        with open(ptr, encoding="utf-8") as f:
            return f.read().strip() or None
    return None


def _seq_of(vname: str) -> int:
    part = vname.split("_")[1] if vname.count("_") >= 2 else ""
    return int(part) if part.isdigit() else -1


def _read_ledger(path: str) -> list[str] | None:
    """Every snapshot name ever recorded in the ``_COMMITS`` ledger,
    committed order, duplicates dropped — whether or not the directory
    still exists. None when the table predates the ledger. The single
    parse shared by :func:`_committed_versions` (which filters to live
    dirs) and :func:`read_table_changes`'s forensic expired-feed check
    (code-review r14: two copies of the line parse would drift)."""
    ledger = os.path.join(path, _LEDGER)
    if not os.path.isfile(ledger):
        return None
    names: list[str] = []
    with open(ledger, encoding="utf-8") as f:
        for line in f:
            n = line.strip()
            if n and n not in names:
                names.append(n)
    return names


def _committed_versions(path: str) -> list[str]:
    """Committed snapshot dir names, oldest → newest.

    Source of truth is the ``_COMMITS`` ledger; the ``_CURRENT`` target
    is always included (covers a crash between ledger append and pointer
    flip on older layouts). Pre-ledger tables fall back to "every v_*
    dir with sequence ≤ the current pointer's" — under the single-writer
    contract any HIGHER sequence without a ledger entry is a crash
    orphan, never a commit."""
    cur = _current_version_name(path)
    recorded = _read_ledger(path)
    if recorded is not None:
        names = [
            n for n in recorded if os.path.isdir(os.path.join(path, n))
        ]
        if cur and cur not in names and os.path.isdir(os.path.join(path, cur)):
            names.append(cur)
        return names
    if cur is None:
        return []
    cur_seq = _seq_of(cur)
    dirs = [
        d
        for d in os.listdir(path)
        if d.startswith("v_")
        and os.path.isdir(os.path.join(path, d))
        and 0 <= _seq_of(d) <= cur_seq
    ]
    return sorted(dirs, key=_seq_of)


def read_table(
    spark: SparkSession, path: str, version: int | None = None
) -> DataFrame:
    """Read a table written by these writers, resolving the versioned
    ``_CURRENT`` pointer when present (plain directories pass through).

    ``version`` time-travels to a specific retained **committed**
    snapshot sequence (the integer in the ``v_<seq>_<uuid>`` name) — the
    audit/debug read every snapshotting table format offers. Only
    committed snapshots inside the retention window exist; asking for a
    swept (or never-committed orphan) one raises with the available
    sequence numbers.

    SPEC-EVOLVED snapshots (``evolve_partition_spec``) read
    transparently: the snapshot's ``_snapshot_meta.json`` records the
    layout map, and the read is the per-layout union
    (``io.union_layouts``) — resolved FROM TABLE HISTORY, no
    caller-supplied paths (VERDICT r12 item 3). Time travel works the
    same way: each snapshot carries its own layout map.

    Every layout is read with the schema its sidecar vouches for
    (:func:`_layout_schema`: the recorded ``spark_schema`` or the
    footer's row schema, plus the recorded partition column types), so
    the read starts no schema-inference job and partition values keep
    their written type; a snapshot without a sidecar, or with
    non-Spark-written files, is read with Spark's inferred schema.
    """
    if version is None:
        vdir = _resolve_data_dir(path)
    else:
        avail: dict[int, str] = {}
        if os.path.isdir(path):
            for d in _committed_versions(path):
                avail[_seq_of(d)] = d
        if version not in avail:
            raise ValueError(
                f"snapshot v_{version:06d} not present under {path!r}; "
                f"retained sequences: {sorted(avail) or 'none'} (older "
                "snapshots are swept by keep_versions retention)"
            )
        vdir = os.path.join(path, avail[version])
    meta = _load_snapshot_meta(vdir)
    if meta is None:
        return spark.read.parquet(vdir)
    layouts = _snapshot_layouts(vdir, meta)
    if meta.get("layouts"):
        nonempty = _nonempty_layout_dirs(vdir, meta, layouts)
        layouts = [lay for lay in layouts if lay["dir"] in nonempty]
        if not layouts:
            raise ValueError(
                f"spec-evolved snapshot {vdir!r} has no data files in any "
                "recorded layout"
            )
    lay_dirs = [
        os.path.normpath(os.path.join(vdir, lay["dir"])) for lay in layouts
    ]
    frames = [
        _read_layout(spark, d, meta, lay["partition_cols"])
        for d, lay in zip(lay_dirs, layouts)
    ]
    if not meta.get("layouts"):
        return frames[0]
    return union_layouts(spark, frames, lay_dirs)


def _layout_schema(lay_dir: str, meta: dict | None, cols=()):
    """The schema to read one layout dir (or one of its leaves) with,
    or None for Spark's inferred read. Data columns come from the
    sidecar's ``spark_schema`` (flat, unpartitioned snapshots), else
    from the Spark row schema in the footer of the layout's first data
    file (``io.footer_schema``; hive writes keep partition columns out
    of footers). Partition columns ``cols`` take the types the sidecar
    recorded from the frame that wrote them (``partition_types``) —
    never re-inferred from directory names, so ``"007"`` stays a string
    and a bigint key stays bigint. No sidecar, a file without Spark's footer key, or an
    untyped partition column: inference."""
    if not meta:
        return None
    types = meta.get("partition_types") or {}
    if any(c not in types for c in cols):
        return None
    recorded = meta.get("spark_schema")
    if recorded is None:
        schema = footer_schema(lay_dir)
        if schema is None:
            return None
    else:
        import json

        schema = StructType.fromJson(json.loads(recorded))
    for c in cols:
        schema = schema.add(StructField.fromJson(
            {"name": c, "type": types[c], "nullable": True, "metadata": {}}
        ))
    return schema


def _read_layout(
    spark: SparkSession,
    lay_dir: str,
    meta: dict | None,
    cols=(),
    files: list[str] | None = None,
):
    """Read one layout dir (or one of its leaves, ``cols`` then empty)
    of a snapshot — or only ``files`` under it — with
    :func:`_layout_schema`, so the read starts no schema-inference job
    whenever the sidecar can vouch for the schema."""
    schema = _layout_schema(lay_dir, meta, cols)
    reader = spark.read if schema is None else spark.read.schema(schema)
    if files is None:
        return reader.parquet(lay_dir)
    return reader.option("basePath", lay_dir).parquet(*files)


def _snapshot_layouts(vdir: str, meta: dict | None) -> list[dict]:
    """The snapshot's layout map — what decides how merge, delete and
    compaction rewrite it. A spec-evolved snapshot records its map; a
    flat snapshot is ONE layout rooted at the snapshot dir (``"."``)
    whose partition columns are the recorded ``partition_spec``. A
    pre-manifest snapshot records no spec: its hive leaf paths give
    it (``day=d1/typ=a`` → ``["day", "typ"]``; a root leaf → none)."""
    if meta and meta.get("layouts"):
        return meta["layouts"]
    spec = (meta or {}).get("partition_spec")
    if spec is None:
        leaf = max(_leaf_dirs(vdir), default=".")
        spec = (
            [] if leaf == "." else
            [seg.split("=", 1)[0] for seg in leaf.split(os.sep)]
        )
    return [{"dir": ".", "partition_cols": list(spec)}]


def _layout_has_data(lay_dir: str) -> bool:
    """True iff any data file exists under the layout dir — a freshly
    evolved spec has an empty active layout until its first merge, and
    an empty dir would fail the parquet scan."""
    return next(iter_data_files(lay_dir), None) is not None


def _nonempty_layout_dirs(vdir: str, meta: dict, layouts: list[dict]):
    """Layout dirs (relative names) holding at least one data file,
    derived from the snapshot's already-loaded census — per-layout
    emptiness used to cost a full os.walk of EVERY layout on EVERY
    ``read_table`` call, an O(#table-files) directory listing that
    contradicted the manifest's one-metadata-read story (ADVICE r13).
    Census relpaths are vdir-relative, so a layout has data iff any
    entry sits under its dir. Sidecars without a census (``file_stats``
    key absent — an older commit's sharded census, or a hand-edited
    sidecar, must not silently drop layouts) fall back to the walk. An
    EMPTY census dict is trusted: snapshot trees are immutable after
    commit, so zero census entries means zero data files."""
    stats = meta.get("file_stats")
    prefixes = {lay["dir"] for lay in layouts}
    if stats is None:
        return {
            lay["dir"]
            for lay in layouts
            if _layout_has_data(os.path.join(vdir, lay["dir"]))
        }
    return {
        rel.split(os.sep, 1)[0]
        for rel in stats
        if os.sep in rel and rel.split(os.sep, 1)[0] in prefixes
    }


def read_table_skipping(
    spark: SparkSession,
    path: str,
    bounds: dict[str, tuple],
    version: int | None = None,
) -> DataFrame:
    """MANIFEST-DRIVEN SCAN PLANNING — the read path the commit-time
    stats manifest exists for: resolve the snapshot like
    :func:`read_table`, decide per data file from the manifest's
    min/max census (:func:`history_file_stats` — one JSON read of the
    inline census, checked against the live file listing; footer
    fallback for pre-manifest snapshots, for older commits whose census
    was sharded parquet, and for a census missing a live file) whether
    the file can possibly hold a row satisfying the conjunctive range
    predicate ``bounds`` (col → (lo, hi) inclusive), and scan ONLY the
    kept files. Every table plans through this one per-file loop. Skip
    rule: drop iff some bounded column has complete stats and
    ``min > hi or max < lo`` — a column with any stats-less row group
    reports None bounds and can never justify a skip, so the read is
    always a SUPERSET of the true matches and the caller's own filter
    (push ``bounds`` down as a normal ``.filter``) finishes the job.

    Partition columns survive: kept files are scanned per layout of
    the snapshot's layout map (:func:`_snapshot_layouts` — a flat
    snapshot is one layout) with ``basePath`` pinned to the layout dir
    and the layout's recorded schema (:func:`_layout_schema`), so hive
    directory columns come back exactly as :func:`read_table` returns
    them; a spec-evolved snapshot's layouts union by name. A layout
    whose files the predicate all excludes contributes no scan at all.

    At 100 TB this is the manifest-planned scan every lakehouse query
    starts with: O(#files) driver-side decisions from one metadata
    read, then a scan proportional to the predicate's true file
    footprint — the engine never opens a skippable file. Returns the
    full-schema DataFrame; an empty kept set returns an empty frame
    with the snapshot's schema (read via the unpruned path's schema,
    zero data files scanned).
    """
    if version is None:
        vdir = _resolve_data_dir(path)
        if vdir == path:
            raise ValueError(
                f"{path!r} is not a versioned table (no {_CURRENT_PTR}) — "
                "use file_skip_report + a manual scan for plain dirs"
            )
        version = _seq_of(os.path.basename(vdir))
    avail = {_seq_of(d): d for d in _committed_versions(path)}
    if version not in avail:
        raise ValueError(
            f"snapshot v_{version:06d} not present under {path!r}; "
            f"retained sequences: {sorted(avail) or 'none'}"
        )
    vdir = os.path.join(path, avail[version])
    meta = _load_snapshot_meta(vdir) or {}

    # one JSON read (footer fallback inside), validated against the
    # live listing by _dir_file_stats
    kept_all = [
        fpath
        for fpath, _n, mins, maxs in _dir_file_stats(vdir, list(bounds))
        if not _bounds_exclude(mins, maxs, bounds)
    ]
    parts, labels = [], []
    for lay in _snapshot_layouts(vdir, meta):
        lay_dir = os.path.normpath(os.path.join(vdir, lay["dir"]))
        kept = [
            p for p in kept_all
            if lay["dir"] == "."
            or os.path.relpath(p, vdir).startswith(lay["dir"] + os.sep)
        ]
        if kept:
            parts.append(_read_layout(
                spark, lay_dir, meta, lay["partition_cols"], files=kept
            ))
            labels.append(lay_dir)
    if not parts:
        return read_table(spark, path, version=version).limit(0)
    # same name+type union guard as the unpruned evolved read
    # (code-review r13: the pruned path must not silently coerce the
    # drift read_table raises on)
    return union_layouts(spark, parts, labels)


def table_versions(path: str) -> list[int]:
    """Committed snapshot sequence numbers retained under ``path``,
    oldest first — the public face of the ledger for time travel
    (:func:`read_table`'s ``version`` argument takes one of these)."""
    if not os.path.isdir(path):
        return []
    return sorted(_seq_of(d) for d in _committed_versions(path))


def _footer_minmax(fpath, cols: list[str] | None = None):
    """(n_rows, mins, maxs) for one parquet file from its FOOTER only —
    the single stats walk shared by :func:`history_file_stats`,
    :func:`file_skip_report` and the commit-time stats manifest
    (code-review r12: per-consumer copies could diverge).
    ``fpath`` is a path or an already-open ``pyarrow.parquet.ParquetFile``
    (the manifest census also reads the footer's key-value metadata).
    ``cols=None`` stats EVERY leaf column (the manifest census).
    Partial-stats rule: if ANY row group lacks min/max for a
    requested column, that column's bounds are None (= must-scan) — a
    bound derived from only the statted row groups would be falsely
    narrow and could skip a file whose unstatted row group holds
    matching rows."""
    import pyarrow.parquet as pq

    pf = fpath if isinstance(fpath, pq.ParquetFile) else pq.ParquetFile(fpath)
    md = pf.metadata
    if cols is None:
        cols = list(pf.schema_arrow.names)
    mins: dict[str, object] = {}
    maxs: dict[str, object] = {}
    complete = {c: True for c in cols}
    for rg in range(md.num_row_groups):
        for ci in range(md.num_columns):
            col = md.row_group(rg).column(ci)
            name = col.path_in_schema
            if name not in complete:
                continue
            st = col.statistics
            if st is None or not st.has_min_max:
                complete[name] = False
                continue
            try:
                lo, hi = st.min, st.max
            except NotImplementedError:
                # pyarrow cannot decode some stats (Spark's INT64-backed
                # decimal(p<=18)): an unknown bound, not a failed commit
                complete[name] = False
                continue
            mins[name] = lo if name not in mins else min(mins[name], lo)
            maxs[name] = hi if name not in maxs else max(maxs[name], hi)
    out_min = {c: (mins.get(c) if complete[c] else None) for c in cols}
    out_max = {c: (maxs.get(c) if complete[c] else None) for c in cols}
    return md.num_rows, out_min, out_max


_SNAPSHOT_META = "_snapshot_meta.json"


def _stat_to_json(v):
    """Type-tagged JSON encoding for a parquet footer min/max value —
    round-trips int/float/str/bool/bytes/date/timestamp/Decimal
    exactly; an unknown type encodes as None (= must-scan), never a
    lossy guess."""
    import datetime
    import decimal

    if v is None:
        return None
    if isinstance(v, bool):  # before int: bool is an int subclass
        return {"t": "b", "v": v}
    if isinstance(v, int):
        return {"t": "i", "v": v}
    if isinstance(v, float):
        return {"t": "f", "v": v}
    if isinstance(v, str):
        return {"t": "s", "v": v}
    if isinstance(v, bytes):
        return {"t": "x", "v": v.hex()}
    if isinstance(v, datetime.datetime):  # before date: datetime is a date
        return {"t": "ts", "v": v.isoformat()}
    if isinstance(v, datetime.date):
        return {"t": "d", "v": v.isoformat()}
    if isinstance(v, decimal.Decimal):
        return {"t": "dec", "v": str(v)}
    return None


def _stat_from_json(d):
    import datetime
    import decimal

    if d is None:
        return None
    t, v = d["t"], d["v"]
    if t in ("b", "i", "f", "s"):
        return v
    if t == "x":
        return bytes.fromhex(v)
    if t == "ts":
        return datetime.datetime.fromisoformat(v)
    if t == "d":
        return datetime.date.fromisoformat(v)
    if t == "dec":
        return decimal.Decimal(v)
    raise ValueError(f"unknown stat tag {t!r}")


@_functools.lru_cache(maxsize=256)
def _parse_snapshot_meta(
    p: str, mtime_ns: int, size: int, head: bytes
) -> dict | None:
    """stat+content-keyed parse cache: snapshot sidecars are immutable
    once committed (written via temp + os.replace, fresh inode), and
    ``read_table`` checks the meta on EVERY read — the sidecar holds
    the whole census inline, and re-parsing that O(#files x #cols)
    blob per call was a hot-path tax (code-review r13). ``head`` is
    the sidecar's first bytes — sidecars lead with a per-write
    ``manifest_id`` uuid, so a table torn down and recreated at the
    same path within one mtime tick with a same-size sidecar still
    misses the cache (ADVICE r13: (path, mtime_ns, size) alone
    could serve a stale census on coarse-mtime filesystems)."""
    import json

    try:
        with open(p, encoding="utf-8") as f:
            return json.load(f)
    except (OSError, ValueError):
        return None


_META_HEAD_BYTES = 64  # covers {"manifest_id": "<32 hex>" and change


def _load_snapshot_meta(vdir: str) -> dict | None:
    """Parse a snapshot's ``_snapshot_meta.json`` sidecar; None when the
    snapshot predates the manifest (or the sidecar is unreadable —
    every consumer falls back to live parquet footers, so a corrupt
    manifest degrades to the pre-manifest cost, never to a wrong
    answer). The returned dict is CACHED and shared — treat it as
    immutable (copy before editing, as evolve_partition_spec does)."""
    p = os.path.join(vdir, _SNAPSHOT_META)
    try:
        st = os.stat(p)
        with open(p, "rb") as f:
            head = f.read(_META_HEAD_BYTES)
    except OSError:
        return None
    return _parse_snapshot_meta(p, st.st_mtime_ns, st.st_size, head)


def _load_census(vdir: str) -> dict | None:
    """The snapshot's per-file stats census as {rel: entry}, read from
    its JSON sidecar. None when the snapshot predates the manifest, or
    when an older commit stored the census as parquet shards under
    ``_manifest`` (no ``file_stats`` key): every consumer then takes
    the live footer walk."""
    meta = _load_snapshot_meta(vdir)
    return None if meta is None else meta.get("file_stats")


def _write_snapshot_meta(
    path: str,
    vdir: str,
    partition_spec: list[str] | None,
    layouts: list[dict] | None,
    partition_types: dict | None = None,
    empty_schema: str | None = None,
) -> None:
    """COMMIT-TIME STATS MANIFEST + per-snapshot partition spec
    (VERDICT r12 items 3-4): one footer walk at write time persists the
    per-file census — n_rows and every column's min/max — inline in a
    ``_snapshot_meta.json`` sidecar INSIDE the snapshot, so
    :func:`history_file_stats`, :func:`file_skip_report` and
    :func:`read_table_skipping` read one JSON file instead of
    re-walking O(#files) footers per planning call.
    That is what makes footer-skipping real at 100 TB: the walk happens
    once, at the commit that created the files, exactly as Iceberg/
    Delta write manifests.

    Hardlink-aware: files carried unchanged from the previous snapshot
    (same inode + size at the same relpath) reuse the previous
    manifest's entry — a partition-scoped merge pays footer reads only
    for the leaves it actually rewrote, keeping the commit-time walk
    O(touched files), not O(table files).

    ``partition_spec`` records the hive spec THIS snapshot's data was
    written under (None = carry the previous snapshot's forward — the
    right default for spec-preserving commits like compaction and
    delete). ``layouts`` is the spec-EVOLUTION map (list of
    {"dir": <rel>, "partition_cols": [...]}) for snapshots whose tree
    holds multiple hive layouts; None for single-layout tables.
    ``partition_types`` ({col: Spark type JSON}, taken from the frame
    the commit wrote) is merged over the previous snapshot's, so every
    commit carries the written type of each partition column forward
    (:func:`_layout_schema` reads directory values back with it).
    ``empty_schema`` (Spark row-schema JSON of the data columns) is
    recorded as ``spark_schema`` when the snapshot holds no data file —
    a partitioned first write of an empty batch — so it reads back as
    zero rows with the batch's columns; a later empty commit carries it.

    Written via temp-file + ``os.replace`` so the sidecar always gets a
    FRESH inode — overwriting in place would mutate the previous
    snapshot's hardlinked copy too.
    """
    import json

    prev_stats: dict = {}
    prev_schema = None
    types = dict(partition_types or {})
    cur = _current_version_name(path)  # pointer not yet flipped
    if cur is not None:
        prev_vdir = os.path.join(path, cur)
        prev_meta = _load_snapshot_meta(prev_vdir)
        if prev_meta:
            prev_stats = prev_meta.get("file_stats") or {}
            prev_schema = prev_meta.get("spark_schema")
            types = {**prev_meta.get("partition_types", {}), **types}
            if partition_spec is None:
                partition_spec = prev_meta.get("partition_spec")
            if layouts is None:
                layouts = prev_meta.get("layouts")
    import pyarrow.parquet as pq

    file_stats: dict = {}
    schemas: set = set()  # Spark row schema per data file; None = absent
    for rel, fpath in iter_data_files(vdir):
        try:
            st = os.stat(fpath)
        except OSError:
            continue
        prev = prev_stats.get(rel)
        if (
            prev is not None
            and prev.get("ino") == st.st_ino
            and prev.get("bytes") == st.st_size
        ):
            file_stats[rel] = prev
            schemas.add(prev_schema)
            continue
        pf = pq.ParquetFile(fpath)
        raw_schema = (pf.metadata.metadata or {}).get(SPARK_ROW_META)
        schemas.add(raw_schema.decode("utf-8") if raw_schema else None)
        n_rows, mins, maxs = _footer_minmax(pf)
        file_stats[rel] = {
            "n_rows": n_rows,
            "ino": st.st_ino,
            "bytes": st.st_size,
            "mins": {c: _stat_to_json(v) for c, v in mins.items()},
            "maxs": {c: _stat_to_json(v) for c, v in maxs.items()},
        }
    meta = {
        # FIRST key on purpose: json.dump preserves insertion order, so
        # the sidecar's head bytes carry this per-write uuid — the
        # content component of _parse_snapshot_meta's cache key
        # (ADVICE r13).
        "manifest_id": uuid.uuid4().hex,
        "partition_spec": partition_spec,
        "layouts": layouts,
        "file_stats": file_stats,
    }
    # The row schema every data file was written with, so read_table can
    # skip Spark's schema-inference job. Recorded only when it is
    # unambiguous: one flat layout (hive partition columns would come
    # from directory names, not footers) and one schema string shared
    # by all files.
    only_schema = next(iter(schemas)) if len(schemas) == 1 else None
    if partition_spec == [] and not layouts and only_schema is not None:
        meta["spark_schema"] = only_schema
    elif not file_stats and not layouts and (empty_schema or prev_schema):
        meta["spark_schema"] = empty_schema or prev_schema
    if types:
        meta["partition_types"] = types
    tmp = os.path.join(vdir, f".{_SNAPSHOT_META}.{uuid.uuid4().hex[:8]}.tmp")
    with open(tmp, "w", encoding="utf-8") as f:
        json.dump(meta, f)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, os.path.join(vdir, _SNAPSHOT_META))


def snapshot_partition_spec(path: str, version: int | None = None):
    """(partition_spec, layouts) recorded at commit time for one
    retained snapshot — the public face of the per-snapshot spec for
    history-resolved partition-evolution reads (None, None for
    pre-manifest snapshots)."""
    vname = (
        _current_version_name(path)
        if version is None
        else {_seq_of(d): d for d in _committed_versions(path)}.get(version)
    )
    if vname is None:
        return None, None
    meta = _load_snapshot_meta(os.path.join(path, vname))
    if not meta:
        return None, None
    return meta.get("partition_spec"), meta.get("layouts")


def history_file_stats(
    path: str, cols: list[str], version: int | None = None
) -> list[dict]:
    """Per-data-file column statistics for one retained snapshot — the
    input of file-skip planning (:func:`read_table_skipping`,
    :func:`file_skip_report`), scoped to a committed snapshot's data
    files (:func:`io.iter_data_files`: change-feed files excluded). One
    dict per file: version, path, n_rows, mins/maxs for ``cols``.

    Served from the snapshot's COMMIT-TIME STATS MANIFEST
    (``_snapshot_meta.json``, VERDICT r12 item 4) when it exists and
    covers every requested column — one JSON read instead of O(#files)
    footer opens, which is what a table format's manifest buys at
    100 TB. Falls back to the live footer walk for pre-manifest
    snapshots (and is pytest-pinned identical to it). A predicate's
    skip decision is then ``mins[c] > hi or maxs[c] < lo`` per file,
    no data pages touched.

    ``version=None`` means the current snapshot. Vanished files
    (concurrent retention sweep) are skipped.
    """
    if version is None:
        vname = _current_version_name(path)
        if vname is None:
            raise ValueError(
                f"{path!r} is not a versioned table (no {_CURRENT_PTR})"
            )
        version = _seq_of(vname)
    avail = {_seq_of(d): d for d in _committed_versions(path)}
    if version not in avail:
        raise ValueError(
            f"snapshot v_{version:06d} not present under {path!r}; "
            f"retained sequences: {sorted(avail) or 'none'}"
        )
    vdir = os.path.join(path, avail[version])
    return [
        {
            "version": version,
            "path": fpath,
            "n_rows": n_rows,
            "mins": mins,
            "maxs": maxs,
        }
        for fpath, n_rows, mins, maxs in _dir_file_stats(vdir, cols)
    ]


def _dir_file_stats(vdir: str, cols) -> list[tuple]:
    """(path, n_rows, mins, maxs) for ``cols`` of every data file under
    one snapshot (or plain parquet) directory, relpath-sorted — the one
    census read behind :func:`history_file_stats` and
    :func:`file_skip_report`.

    Served from the inline census (:func:`_load_census`) when it is
    complete against a live listing (cheap metadata walk, still zero
    footer opens — code-review r13), checked both ways: every LIVE data
    file must have an entry covering ``cols``, or skip planning would
    silently treat the uncensused file as nonexistent and drop its rows
    — breaking the superset guarantee; conversely, entries whose file a
    concurrent retention sweep removed are dropped. Otherwise (no
    census, an older sharded census, a missing file or column) every
    live file's footer is read (:func:`_footer_minmax`), skipping files
    that vanish mid-walk. Both branches list the same DATA-file universe
    (:func:`io.iter_data_files`: change-feed files excluded) in relpath
    order (ADVICE r13: walk order puts root files before subdirs, which
    is not string order)."""
    live = dict(iter_data_files(vdir))
    entries = _load_census(vdir)
    if entries is not None and all(
        rel in entries and set(cols) <= set(entries[rel].get("mins", {}))
        for rel in live
    ):
        return [
            (
                live[rel],
                e["n_rows"],
                {c: _stat_from_json(e["mins"][c]) for c in cols},
                {c: _stat_from_json(e["maxs"][c]) for c in cols},
            )
            for rel, e in sorted(entries.items())
            if rel in live
        ]
    out = []
    for rel in sorted(live):
        try:
            n_rows, mins, maxs = _footer_minmax(live[rel], list(cols))
        except OSError:
            continue
        out.append((live[rel], n_rows, mins, maxs))
    return out


def _bounds_exclude(mins: dict, maxs: dict, bounds: dict) -> bool:
    """The file-skip rule: True iff some bounded column has complete
    stats and ``min > hi or max < lo`` (None bounds never skip)."""
    for c, (lo, hi) in bounds.items():
        mn, mx = mins.get(c), maxs.get(c)
        if mn is not None and mx is not None and (mn > hi or mx < lo):
            return True
    return False


_CDF_RETAINED = "_cdf"  # table-level home for feeds preserved past
                        # their snapshot's sweep (the Delta
                        # logRetention / data-retention split)


def _ledger_names(path: str) -> list[str]:
    """Forensic ledger record for :func:`read_table_changes`: every
    snapshot name ever committed, whether or not its directory still
    exists (``_committed_versions`` filters to live dirs)."""
    return _read_ledger(path) or []


_CDF_NET_PREFIX = "net_"  # squashed preserved feed: _cdf/net_<lo>_<hi>


def _net_feed_ranges(path: str) -> list[tuple[int, int, str]]:
    """Squashed preserved feeds under ``_cdf`` as (lo_seq, hi_seq, dir),
    sorted — the output of :func:`expire_versions`'
    ``cdf_compact_before`` compaction. Each covers every feed-emitting
    commit in [lo, hi] as ONE net-change feed in raw feed shape."""
    pres_root = os.path.join(path, _CDF_RETAINED)
    out: list[tuple[int, int, str]] = []
    if os.path.isdir(pres_root):
        for d in os.listdir(pres_root):
            full = os.path.join(pres_root, d)
            if not (d.startswith(_CDF_NET_PREFIX) and os.path.isdir(full)):
                continue
            parts = d.split("_")
            if len(parts) == 3 and parts[1].isdigit() and parts[2].isdigit():
                out.append((int(parts[1]), int(parts[2]), full))
    return sorted(out)


def _feed_dirs(path: str) -> dict[str, str]:
    """{snapshot name: feed dir} for every readable PER-COMMIT change
    feed — live (``v_*/_change_data`` inside retained snapshots) plus
    preserved (``_cdf/<vname>`` kept past the snapshot's sweep by
    :func:`expire_versions`' feed retention). A preserved feed whose
    sequence falls inside a squashed net range is a crash leftover
    (compaction renames the net feed in place BEFORE removing its
    sources) — the net copy wins, so it is skipped here; squashed
    feeds are surfaced via :func:`_net_feed_ranges` instead."""
    out: dict[str, str] = {}
    nets = _net_feed_ranges(path)
    pres_root = os.path.join(path, _CDF_RETAINED)
    if os.path.isdir(pres_root):
        for d in os.listdir(pres_root):
            full = os.path.join(pres_root, d)
            if d.startswith("v_") and os.path.isdir(full):
                seq = _seq_of(d)
                if any(lo <= seq <= hi for lo, hi, _p in nets):
                    continue  # squashed — the net feed carries it
                out[d] = full
    for d in _committed_versions(path):
        live = os.path.join(path, d, CDF_DIR)
        if os.path.isdir(live):
            out[d] = live  # live copy wins if both somehow exist
    return out


def expire_versions(
    path: str,
    keep_last: int = 1,
    cdf_keep_last: int | None = None,
    cdf_compact_before: int | None = None,
    cdf_squash_keys: list[str] | None = None,
    spark: SparkSession | None = None,
) -> list[int]:
    """Explicit snapshot retention — the VACUUM / expire-snapshots
    surface (Delta ``VACUUM``, Iceberg ``expire_snapshots``): sweep all
    but the newest ``keep_last`` committed snapshots NOW, decoupled from
    the per-commit ``keep_versions`` retention the writers apply (a
    table merged with ``keep_versions=10`` for a debugging window gets
    its storage back without waiting for the next commit).

    The ``_CURRENT`` target is always retained regardless of
    ``keep_last``; crash orphans (``v_*`` dirs absent from the ledger)
    are swept like any expired snapshot. Ledger lines for swept dirs
    stay in place — :func:`_committed_versions` already ignores entries
    whose directory is gone, exactly as the per-commit retention pass
    leaves them. Single-writer: takes the table's write lock, so an
    expire can never race a commit's pointer flip. Returns the swept
    snapshot sequence numbers (crash orphans report their parsed
    sequence, or -1 for unparseable names).

    Storage note: snapshots share unchanged files via hardlinks
    (:func:`_link_tree`), so sweeping a snapshot reclaims only the
    bytes unique to it — same semantics as manifest-based expiry on an
    object store.

    ``cdf_keep_last`` (VERDICT r13 item 5) splits FEED retention from
    data retention, the Delta ``delta.logRetentionDuration`` vs VACUUM
    split: keep the change feeds of the newest N feed-emitting commits
    even when their DATA snapshots are swept — an IVM consumer that
    lags behind VACUUM still finds its deltas. Preserved feeds move to
    ``<table>/_cdf/<snapshot>/`` (metadata rename, no copy) and are
    read transparently by :func:`read_table_changes`; feeds older than
    the newest N are pruned from ``_cdf`` (a feed inside a RETAINED
    snapshot is never touched — snapshot trees stay immutable, so
    ``cdf_keep_last`` is a floor, not a cap). ``None`` keeps today's
    behavior: feeds die with their snapshot, previously preserved
    feeds stay. ``cdf_keep_last=0`` prunes every preserved feed,
    squashed net feeds included.

    ``cdf_compact_before`` (VERDICT r14 item 3) bounds the PRESERVED
    feed volume: keep the newest N preserved feed units at per-commit
    granularity and squash everything older — including any previous
    squash — into ONE net-change feed ``_cdf/net_<lo>_<hi>`` via
    ``incremental.cdf_squash_feed`` (raw feed shape, fold-preserving
    by telescoping), so a long-retention table stores O(net keys)
    instead of O(commits × touched keys). Per-commit granularity
    inside the squashed range is gone by design:
    ``read_table_changes(version=k)`` for a squashed commit raises
    loudly; the full-feed read unions net + per-commit feeds
    transparently. Requires ``spark`` (the squash is a distributed
    aggregate) and ``cdf_squash_keys`` (the merge keys — feeds record
    images, not key metadata). Live feeds inside RETAINED snapshots
    are never squashed (the same immutability floor as above). Crash
    safety: the net feed is written to a temp dir and renamed into
    place BEFORE sources are removed; a crash in between leaves both,
    and readers let the net copy win (:func:`_feed_dirs`).
    """
    if keep_last < 1:
        raise ValueError(f"keep_last must be >= 1, got {keep_last}")
    if cdf_keep_last is not None and cdf_keep_last < 0:
        raise ValueError(
            f"cdf_keep_last must be >= 0 or None, got {cdf_keep_last}"
        )
    if cdf_compact_before is not None:
        if cdf_compact_before < 0:
            raise ValueError(
                "cdf_compact_before must be >= 0 or None, got "
                f"{cdf_compact_before}"
            )
        if spark is None or not cdf_squash_keys:
            raise ValueError(
                "cdf_compact_before requires spark= (the squash is a "
                "distributed aggregate) and cdf_squash_keys= (the merge "
                "keys of the feed's rows)"
            )
    # validate BEFORE taking the lock: _write_lock mkdirs the path, and
    # an admin op on a typo'd path must stay read-only (code-review r11)
    if not os.path.isdir(path) or _current_version_name(path) is None:
        raise ValueError(
            f"{path!r} is not a versioned table (no {_CURRENT_PTR})"
        )
    with _write_lock(path):
        cur = _current_version_name(path)
        if cur is None:  # raced a layout teardown between check and lock
            raise ValueError(
                f"{path!r} is not a versioned table (no {_CURRENT_PTR})"
            )
        committed = sorted(_committed_versions(path), key=_seq_of)
        keep = set(committed[-keep_last:]) | {cur}
        if cdf_keep_last is not None:
            feeds = sorted(_feed_dirs(path).items(), key=lambda kv: _seq_of(kv[0]))
            kept_feeds = (
                feeds[-cdf_keep_last:] if cdf_keep_last else []
            )
            kept_names = {n for n, _d in kept_feeds}
            pres_root = os.path.join(path, _CDF_RETAINED)
            for vname, fdir in kept_feeds:
                if vname in keep or not fdir.startswith(
                    os.path.join(path, vname) + os.sep
                ):
                    continue  # snapshot retained, or already preserved
                os.makedirs(pres_root, exist_ok=True)
                dest = os.path.join(pres_root, vname)
                # ADVICE r14: os.replace raises on an existing non-empty
                # DIRECTORY target — exactly the both-copies state the
                # read side tolerates ("live copy wins"). The live copy
                # being moved is authoritative, so drop the stale
                # preserved shadow before the rename instead of
                # aborting the VACUUM mid-sweep.
                if os.path.isdir(dest):
                    shutil.rmtree(dest, ignore_errors=True)
                os.replace(fdir, dest)
            # prune expired PRESERVED feeds only — live feeds in
            # retained snapshots stay (immutability floor above).
            # List pres_root DIRECTLY (ADVICE r14): the live-wins
            # _feed_dirs map hides a preserved copy shadowed by a live
            # feed of the same commit, which would otherwise never be
            # pruned. A shadowed copy is kept only while its commit's
            # feed is in the kept set AND served from pres_root.
            preserved_keep = {n for n in kept_names if n not in keep}
            if os.path.isdir(pres_root):
                for d in os.listdir(pres_root):
                    full = os.path.join(pres_root, d)
                    if not os.path.isdir(full):
                        continue
                    if d.startswith("v_") and d not in preserved_keep:
                        shutil.rmtree(full, ignore_errors=True)
                    elif (
                        cdf_keep_last == 0
                        and d.startswith(_CDF_NET_PREFIX)
                    ):
                        # 0 = drop feed history entirely, squashed
                        # archives included
                        shutil.rmtree(full, ignore_errors=True)
        if cdf_compact_before is not None:
            from .incremental import cdf_squash_feed

            pres_root = os.path.join(path, _CDF_RETAINED)
            # sweep stray tmp dirs from a compaction that crashed
            # between write and rename (the rename-before-remove
            # protocol makes them pure garbage, never the only copy)
            for d in os.listdir(path):
                if d.startswith(".net_tmp_"):
                    shutil.rmtree(os.path.join(path, d), ignore_errors=True)
            units = [
                (lo, hi, p) for lo, hi, p in _net_feed_ranges(path)
            ]
            for vname, fdir in _feed_dirs(path).items():
                if fdir.startswith(pres_root + os.sep):
                    seq = _seq_of(vname)
                    units.append((seq, seq, fdir))
            units.sort()
            to_squash = (
                units[:-cdf_compact_before] if cdf_compact_before else units
            )
            # a single already-net unit is already compact; a single
            # per-commit feed gains nothing from squashing alone
            if len(to_squash) >= 2:
                lo = min(u[0] for u in to_squash)
                hi = max(u[1] for u in to_squash)
                src_dirs = [u[2] for u in to_squash]
                net = cdf_squash_feed(
                    spark.read.parquet(*src_dirs), list(cdf_squash_keys)
                )
                tmp = os.path.join(path, f".net_tmp_{uuid.uuid4().hex[:8]}")
                net.write.mode("overwrite").parquet(tmp)
                dest = os.path.join(
                    pres_root, f"{_CDF_NET_PREFIX}{lo:06d}_{hi:06d}"
                )
                if os.path.isdir(dest) and dest not in src_dirs:
                    shutil.rmtree(dest, ignore_errors=True)
                if dest in src_dirs:
                    # re-squash landing on the same range: swap the
                    # refreshed net feed in atomically
                    old = dest + f".old.{uuid.uuid4().hex[:8]}"
                    os.replace(dest, old)
                    os.replace(tmp, dest)
                    shutil.rmtree(old, ignore_errors=True)
                else:
                    os.replace(tmp, dest)
                for d in src_dirs:
                    if d != dest:
                        shutil.rmtree(d, ignore_errors=True)
        return _sweep_versions(path, keep)


def _commit_version(
    path: str,
    vdir: str,
    keep_versions: int,
    partition_spec: list[str] | None = None,
    layouts: list[dict] | None = None,
    partition_types: dict | None = None,
    empty_schema: str | None = None,
) -> None:
    """Record ``vdir`` in the ledger, flip ``_CURRENT`` to it atomically
    and durably, then retain the newest ``keep_versions`` COMMITTED
    snapshots and sweep everything else — including crash orphans,
    which (being absent from the ledger) can never occupy a retention
    slot (ADVICE r03).

    Before the ledger append, the snapshot's ``_snapshot_meta.json``
    sidecar is written (:func:`_write_snapshot_meta`): the commit-time
    per-file stats manifest plus the partition spec / layout map this
    snapshot was written under (``None`` carries the previous
    snapshot's spec forward — compaction and delete preserve layout)."""
    vname = os.path.basename(vdir)
    # 0. stats manifest + spec sidecar, inside the still-uncommitted
    #    v_* dir: a crash before the ledger append orphans data and
    #    manifest together
    _write_snapshot_meta(
        path, vdir, partition_spec, layouts, partition_types, empty_schema
    )
    # 1. ledger append (before the flip: a crash in between leaves an
    #    extra ledger entry, which merely over-retains — never a pointer
    #    at an unrecorded snapshot)
    with open(os.path.join(path, _LEDGER), "a", encoding="utf-8") as f:
        f.write(vname + "\n")
        f.flush()
        os.fsync(f.fileno())
    # 2. atomic pointer flip
    tmp_ptr = os.path.join(path, f".{_CURRENT_PTR}.{uuid.uuid4().hex[:8]}.tmp")
    with open(tmp_ptr, "w", encoding="utf-8") as f:
        f.write(vname)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp_ptr, os.path.join(path, _CURRENT_PTR))
    # the rename lives in the table dir's entries: sync the dir so a
    # power loss cannot roll the pointer back behind the ledger
    dfd = os.open(path, os.O_RDONLY)
    try:
        os.fsync(dfd)
    finally:
        os.close(dfd)
    # 3. retention over committed snapshots only (numeric seq order —
    #    lexicographic breaks once sequence digits differ)
    committed = sorted(_committed_versions(path), key=_seq_of)
    keep = set(committed[-max(1, keep_versions):]) | {vname}
    _sweep_versions(path, keep)


def _commit_layouts(
    path: str, vdir: str, layouts: list[dict], keep_versions: int
) -> None:
    """Commit a delete or compaction snapshot: it keeps the layout map
    and the recorded spec (none recorded stays none), and an emptied
    layout keeps its dir and reads as no data."""
    for lay in layouts:
        os.makedirs(os.path.join(vdir, lay["dir"]), exist_ok=True)
    _commit_version(path, vdir, keep_versions)


def _sweep_versions(path: str, keep: set[str]) -> list[int]:
    """Delete every ``v_*`` snapshot dir not in ``keep`` — the single
    sweep used by both commit-time retention and the explicit
    :func:`expire_versions` VACUUM (code-review r11: the loop was
    duplicated, letting the two deletion paths diverge). Crash orphans
    (absent from the ledger) are swept like any expired snapshot, and
    so are a crashed writer's leftovers at the table root: ``_stage_*``
    dirs (:func:`merge_upsert`'s staged legacy base) and
    ``._CURRENT.*.tmp`` pointer temporaries. Both callers hold the
    write lock, and only a lock holder creates these entries, so none
    of them belongs to a live writer. Returns the swept snapshot
    sequence numbers (-1 for unparseable names)."""
    swept: list[int] = []
    for d in os.listdir(path):
        full = os.path.join(path, d)
        if d.startswith("v_") and d not in keep and os.path.isdir(full):
            shutil.rmtree(full, ignore_errors=True)
            swept.append(_seq_of(d))
        elif d.startswith("_stage_") and os.path.isdir(full):
            shutil.rmtree(full, ignore_errors=True)
        elif d.startswith(f".{_CURRENT_PTR}.") and d.endswith(".tmp"):
            with contextlib.suppress(OSError):
                os.remove(full)
    return sorted(swept)


def _next_version_dir(path: str) -> str:
    os.makedirs(path, exist_ok=True)
    seqs = [
        int(d.split("_")[1])
        for d in os.listdir(path)
        if d.startswith("v_") and d.split("_")[1].isdigit()
    ]
    seq = (max(seqs) + 1) if seqs else 1
    return os.path.join(path, f"v_{seq:06d}_{uuid.uuid4().hex[:8]}")


def _link_tree(src: str, dst: str) -> None:
    """Recreate ``src`` under ``dst`` with hardlinked files — O(#files)
    metadata ops, zero data copy; snapshots share storage and
    ``rmtree`` on one only drops link counts. Falls back to a real copy
    when the filesystem refuses links (cross-device)."""
    os.makedirs(dst, exist_ok=True)
    for entry in os.listdir(src):
        s, d = os.path.join(src, entry), os.path.join(dst, entry)
        if os.path.isdir(s):
            _link_tree(s, d)
        else:
            _link_file(s, d)


def _link_file(src: str, dst: str) -> None:
    try:
        os.link(src, dst)
    except OSError:
        shutil.copy2(src, dst)


def _link_leaf(src: str, dst: str) -> None:
    """Carry one hive leaf into a new snapshot: hardlink the data files
    directly inside ``src``, nothing else — a ``"."`` leaf is the
    layout root, whose subdirs are other leaves (or ``_change_data``,
    or an older commit's ``_manifest`` shards) and whose
    ``_snapshot_meta.json`` belongs to the old snapshot."""
    os.makedirs(dst, exist_ok=True)
    for f in os.listdir(src):
        if f.endswith(".parquet"):
            _link_file(os.path.join(src, f), os.path.join(dst, f))


def _validate_keys(df: DataFrame, keys: list[str]) -> None:
    missing = [k for k in keys if k not in df.columns]
    if missing:
        raise ValueError(f"key columns missing from frame: {missing}")


def merge_upsert_df(
    target: DataFrame,
    source: DataFrame,
    keys: list[str],
    evolve_schema: bool = False,
) -> DataFrame:
    """MERGE semantics as a pure transform: source wins on key match.

    Equi-join on the composite key (J1); matched rows take every source
    column (the reference's MERGE updates all non-key columns,
    ``dags/fx_pipeline_with_merge.py:96-101``), unmatched target rows pass
    through, unmatched source rows are inserted. Column order follows the
    target schema. The join is a plain full-outer equi-join — Catalyst
    broadcasts the source side when it is small (the reference's batches
    are 1 row/currency), and AQE handles skew at scale.

    Columns present only in the SOURCE are rejected by default (a typo'd
    batch column must not vanish silently); pass ``evolve_schema=True``
    to widen the result instead — new columns append after the target
    schema, NULL for rows the batch didn't touch (the lakehouse
    add-column evolution path).
    """
    _validate_keys(target, keys)
    _validate_keys(source, keys)
    extra = [c for c in source.columns if c not in target.columns]
    if extra and not evolve_schema:
        raise ValueError(
            f"source columns {extra} are not in the target schema; pass "
            "evolve_schema=True to add them (NULL-backfilled), or drop "
            "them from the batch"
        )
    t = target.alias("t")
    # Source presence is marked with a sentinel column, NOT by probing
    # key nullability (ADVICE r04): the join supports NULL key values
    # via eqNullSafe, so a source row with NULL in the first key is
    # still a real update/insert — `s.key IS NOT NULL` would silently
    # drop its values. After the full outer join the sentinel is NULL
    # exactly on target-only rows.
    sentinel = "__merge_src_present"
    if sentinel in target.columns or sentinel in source.columns:
        raise ValueError(f"column name {sentinel!r} is reserved by merge")
    s = source.withColumn(sentinel, F.lit(True)).alias("s")
    cond = None
    for k in keys:
        c = F.col(f"t.{k}").eqNullSafe(F.col(f"s.{k}"))
        cond = c if cond is None else (cond & c)
    matched = F.col(f"s.{sentinel}").isNotNull()
    cols = []
    for name in target.columns:
        if name in keys:
            cols.append(F.coalesce(F.col(f"s.{name}"), F.col(f"t.{name}")).alias(name))
        elif name in source.columns:
            # source wins when the key matched, even if the new value is null
            cols.append(
                F.when(matched, F.col(f"s.{name}")).otherwise(F.col(f"t.{name}")).alias(name)
            )
        else:
            cols.append(F.col(f"t.{name}").alias(name))
    for name in extra:
        cols.append(
            F.when(matched, F.col(f"s.{name}"))
            .otherwise(F.lit(None))
            .alias(name)
        )
    return t.join(s, cond, "full_outer").select(*cols)


CDF_TYPE = "_change_type"
CDF_VERSION = "_commit_version"
CDF_DIR = "_change_data"  # underscore prefix: invisible to table scans


def merge_upsert_cdf_df(
    target: DataFrame,
    source: DataFrame,
    keys: list[str],
    commit_version: int = 1,
    delete_unmatched_target: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """MERGE as a pure transform that ALSO emits its change data feed —
    the rows the merge *induces*, in Delta/BigQuery "change data feed"
    shape (the engine-side feature behind the reference's MERGE,
    ``dags/fx_pipeline_with_merge.py:90-103``).

    Returns ``(merged, changes)``. ``merged`` is exactly
    :func:`merge_upsert_df`'s output (source wins on key match,
    unmatched source inserts; with ``delete_unmatched_target`` the
    full-sync variant — unmatched target rows are deleted, the
    ``WHEN NOT MATCHED BY SOURCE THEN DELETE`` semantics). ``changes``
    carries the target schema plus ``_change_type`` ∈ {``insert``,
    ``update_preimage``, ``update_postimage``, ``delete``} and
    ``_commit_version`` — the exact signed delta between the old and
    new table state, so folding it through
    ``incremental.signed_partial_state`` maintains any downstream
    aggregate without rescanning the table (the producer side of the
    IVM story; VERDICT r10 item 2). Matched rows emit pre+post pairs
    even when every value is unchanged — same contract as Delta's
    ``UPDATE SET *``, and what makes the feed self-inverse under ⊕.

    Plan shape: ONE full-outer equi-join (null-safe on composite keys,
    broadcast-eligible small source, AQE skew-split at scale) feeding a
    single generator — 0–2 change rows per joined row via an in-row
    array + explode, never a second join or a union that would
    re-derive the scan. The two returned frames share that lineage;
    executing both runs the join twice (each one scan) — at 100 TB use
    the partition-scoped writer path so both jobs read only the touched
    partitions, or persist the base if the table is small.

    CDF pins the target schema: source columns absent from the target
    raise (schema evolution and change feeds don't mix mid-commit —
    evolve first, then merge).
    """
    _validate_keys(target, keys)
    _validate_keys(source, keys)
    extra = [c for c in source.columns if c not in target.columns]
    if extra:
        raise ValueError(
            f"source columns {extra} are not in the target schema; the "
            "change-feed path does not evolve schemas mid-commit"
        )
    s_flag, t_flag = "__merge_src_present", "__merge_tgt_present"
    reserved = {s_flag, t_flag, CDF_TYPE, CDF_VERSION}
    clash = reserved & (set(target.columns) | set(source.columns))
    if clash:
        raise ValueError(f"column names {sorted(clash)} are reserved by merge CDF")
    t = target.withColumn(t_flag, F.lit(True)).alias("t")
    s = source.withColumn(s_flag, F.lit(True)).alias("s")
    cond = None
    for k in keys:
        c = F.col(f"t.{k}").eqNullSafe(F.col(f"s.{k}"))
        cond = c if cond is None else (cond & c)
    joined = t.join(s, cond, "full_outer")
    s_present = F.col(f"s.{s_flag}").isNotNull()
    t_present = F.col(f"t.{t_flag}").isNotNull()
    matched = s_present & t_present

    post_cols = []
    for name in target.columns:
        if name in keys:
            post_cols.append(
                F.coalesce(F.col(f"s.{name}"), F.col(f"t.{name}")).alias(name)
            )
        elif name in source.columns:
            post_cols.append(
                F.when(s_present, F.col(f"s.{name}"))
                .otherwise(F.col(f"t.{name}"))
                .alias(name)
            )
        else:
            post_cols.append(F.col(f"t.{name}").alias(name))
    post = F.struct(*post_cols)
    pre = F.struct(*[F.col(f"t.{c}").alias(c) for c in target.columns])

    def _tag(ct: str, img):
        return F.struct(F.lit(ct).alias(CDF_TYPE), img.alias("_row"))

    # 'none' placeholder keeps the array element type resolvable for
    # untouched target rows; filtered out right after the explode.
    change_arr = (
        F.when(
            matched,
            F.array(_tag("update_preimage", pre), _tag("update_postimage", post)),
        )
        .when(s_present, F.array(_tag("insert", post)))
        .when(F.lit(delete_unmatched_target), F.array(_tag("delete", pre)))
        .otherwise(F.array(_tag("none", pre)))
    )
    changes = (
        joined.select(F.explode(change_arr).alias("c"))
        .filter(F.col(f"c.{CDF_TYPE}") != "none")
        .select(
            "c._row.*",
            F.col(f"c.{CDF_TYPE}").alias(CDF_TYPE),
            F.lit(commit_version).cast("bigint").alias(CDF_VERSION),
        )
    )
    merged = joined
    if delete_unmatched_target:
        merged = merged.filter(s_present)
    merged = merged.select(*post_cols)
    return merged, changes


def insert_only_cdf(df: DataFrame, commit_version: int) -> DataFrame:
    """Change feed for a table-creating (or blind-append) commit: every
    row is an ``insert`` post-image."""
    return df.select(
        "*",
        F.lit("insert").alias(CDF_TYPE),
        F.lit(commit_version).cast("bigint").alias(CDF_VERSION),
    )


def read_table_changes(
    spark: SparkSession, path: str, version: int | None = None
) -> DataFrame:
    """Read the change data feed of one committed snapshot (or, with
    ``version=None``, of every READABLE feed) — the consumer half of
    ``merge_upsert(..., emit_cdf=True)``. Live feeds sit under
    ``v_*/_change_data`` (underscore prefix: invisible to plain table
    scans of the snapshot); feeds kept past their snapshot's sweep by
    ``expire_versions(..., cdf_keep_last=N)`` are read transparently
    from ``<table>/_cdf/<snapshot>/``.

    Asking for a SWEPT commit with no preserved feed raises loudly
    (VERDICT r13 item 5 — an IVM consumer must never silently fold an
    incomplete delta range). The ledger records commits, not feed
    emission, so for a swept commit the error honestly says "expired
    OR never emitted" (code-review r14); the clean never-emitted
    message is reserved for commits still retained, where the absence
    is verifiable."""
    feeds = _feed_dirs(path) if os.path.isdir(path) else {}
    nets = _net_feed_ranges(path) if os.path.isdir(path) else []
    if version is None:
        dirs = list(feeds.values()) + [p for _lo, _hi, p in nets]
        if not dirs:
            raise ValueError(f"no change feed recorded under {path!r}")
        return spark.read.parquet(*dirs)
    by_seq = {_seq_of(n): d for n, d in feeds.items()}
    if version in by_seq:
        return spark.read.parquet(by_seq[version])
    for lo, hi, _p in nets:
        if lo <= version <= hi:
            raise ValueError(
                f"change feed for snapshot v_{version:06d} under "
                f"{path!r} was SQUASHED by retention compaction into "
                f"the net feed covering commits {lo}..{hi} "
                "(expire_versions cdf_compact_before) — per-commit "
                "granularity inside that range is gone by design. "
                "Read the full feed (version=None) to fold the net "
                "changes, or rebuild from a snapshot read."
            )
    have = sorted(by_seq)
    ever = {_seq_of(n) for n in _ledger_names(path)}
    live = {_seq_of(d) for d in _committed_versions(path)}
    if version in ever and version not in live:
        raise ValueError(
            f"change feed for snapshot v_{version:06d} under {path!r} "
            "is not readable — EXPIRED or never emitted: the snapshot "
            "was swept by retention and no feed of that commit was "
            "preserved (expire_versions cdf_keep_last; whether one was "
            "emitted is no longer knowable once the snapshot is gone). "
            f"Readable feeds: {have or 'none'} — an IVM consumer this "
            "far behind must rebuild from a full snapshot read."
        )
    raise ValueError(
        f"no change feed for snapshot v_{version:06d} under {path!r}; "
        f"feeds exist for: {have or 'none'}"
    )


def idempotent_append_df(target: DataFrame, batch: DataFrame, keys: list[str]) -> DataFrame:
    """Append only rows whose key is absent from the target (J2).

    Left-anti join — strictly better than the reference's COUNT(*)>0
    skip-everything guard (``dags/idempotent_fx_pipeline.py:73-87``): a
    partially-loaded batch completes instead of being dropped.
    """
    _validate_keys(target, keys)
    _validate_keys(batch, keys)
    fresh = batch.dropDuplicates(keys).join(target, on=keys, how="left_anti")
    return target.unionByName(fresh.select(*target.columns))


def scd2_apply(
    target: DataFrame,
    batch: DataFrame,
    keys: list[str],
    effective_ts: str,
    ts_col: str = "valid_from",
    end_col: str = "valid_to",
    flag_col: str = "is_current",
) -> DataFrame:
    """Type-2 slowly-changing-dimension merge: history-keeping MERGE
    (the read-side dual of the reference's latest-wins overwrite,
    ``dags/fx_pipeline_with_merge.py:90-103`` — instead of losing the
    previous analysis, close it out and version the new one).

    ``target`` carries (keys…, attrs…, valid_from, valid_to, is_current);
    ``batch`` carries (keys…, attrs…). For each batch key whose attrs
    differ from the current version (or that is new), the current row is
    closed (``valid_to = effective_ts``, ``is_current = false``) and a
    new current version opens at ``effective_ts``. Unchanged keys and
    history rows pass through untouched — re-applying the same batch is
    a no-op (idempotent).

    Shape: one equi-join of batch against the *current* slice plus one
    union — never touches closed history (at scale: partition the table
    on ``is_current`` or cluster by it so the current slice is a pruned
    scan).
    """
    _validate_keys(target, keys)
    _validate_keys(batch, keys)
    attrs = [
        c for c in batch.columns if c not in keys and c not in (ts_col, end_col, flag_col)
    ]
    eff = F.lit(effective_ts).cast(target.schema[ts_col].dataType)

    cur = target.filter(F.col(flag_col))
    b = batch.dropDuplicates(keys).alias("b")
    # Current-row presence via sentinel, not key nullability (same
    # ADVICE-r04 fix as merge_upsert_df): the join below is eqNullSafe,
    # so a NULL key value is a real match — probing `c.key IS NULL`
    # would misread a matched NULL-keyed row as brand-new.
    sentinel = "__scd2_cur_present"
    if sentinel in target.columns or sentinel in batch.columns:
        raise ValueError(f"column name {sentinel!r} is reserved by scd2_apply")
    c = cur.withColumn(sentinel, F.lit(True)).alias("c")
    on = [F.col(f"b.{k}").eqNullSafe(F.col(f"c.{k}")) for k in keys]
    cond = on[0]
    for x in on[1:]:
        cond = cond & x
    diff = None
    for a in attrs:
        d = ~F.col(f"b.{a}").eqNullSafe(F.col(f"c.{a}"))
        diff = d if diff is None else (diff | d)
    joined = b.join(c, cond, "left")
    is_new = F.col(f"c.{sentinel}").isNull()
    changed = joined.filter(is_new | diff).select(
        *[F.col(f"b.{k}").alias(k) for k in keys],
        *[F.col(f"b.{a}").alias(a) for a in attrs],
    )
    # rows to open: one new current version per changed/new key
    opened = changed.select(
        *keys,
        *attrs,
        eff.alias(ts_col),
        F.lit(None).cast(target.schema[end_col].dataType).alias(end_col),
        F.lit(True).alias(flag_col),
    )
    # target splits in one pass: superseded current rows get closed,
    # everything else (history + unchanged current) passes through.
    # The closing join must be eqNullSafe too — a name-list join is
    # null-UNSAFE, so a NULL-keyed superseded row would never close and
    # the table would carry two current versions of that key.
    closing_keys = (
        changed.select(*keys).withColumn("__close", F.lit(1)).alias("ck")
    )
    tgt = target.alias("tg")
    close_cond = None
    for k in keys:
        x = F.col(f"tg.{k}").eqNullSafe(F.col(f"ck.{k}"))
        close_cond = x if close_cond is None else (close_cond & x)
    marked = tgt.join(F.broadcast(closing_keys), close_cond, "left").select(
        *[F.col(f"tg.{col}") for col in target.columns], F.col("ck.__close")
    )
    superseded = F.col(flag_col) & F.col("__close").isNotNull()
    kept = marked.filter(~superseded).drop("__close")
    closed = (
        marked.filter(superseded)
        .drop("__close")
        .withColumn(end_col, eff)
        .withColumn(flag_col, F.lit(False))
    )
    return kept.unionByName(closed).unionByName(opened.select(*target.columns))


def _reject_versioned(path: str, op: str) -> None:
    """Append-style writers mutate a directory in place — incompatible
    with the versioned-commit layout (they would write outside the
    ``_CURRENT`` snapshot and silently vanish from readers). Fail loudly
    instead of losing data."""
    if os.path.isfile(os.path.join(path, _CURRENT_PTR)):
        raise ValueError(
            f"{op}: {path!r} is a versioned table (has {_CURRENT_PTR}); "
            "use merge_upsert on it, or a different path for append-mode "
            "writes"
        )


def append(df: DataFrame, path: str, partition_by: list[str] | None = None) -> None:
    """WRITE_APPEND load job (S3). Schema is whatever ``df`` declares.

    Deliberately unlocked: concurrent appends are safe (each writes its
    own files; BigQuery WRITE_APPEND has the same semantics)."""
    _reject_versioned(path, "append")
    writer = df.write.mode("append")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def _atomic_swap(tmp: str, dst: str) -> None:
    """Replace ``dst`` with ``tmp`` via two renames. NOT reader-safe:
    there is a window where ``dst`` does not exist, and a crash between
    the renames strands the ``.__old__`` dir — callers own a
    single-writer/no-concurrent-reader contract (used only for
    plain-directory compaction; every merge path commits through the
    reader-safe versioned layout)."""
    old = dst + f".__old__{uuid.uuid4().hex[:8]}"
    if os.path.exists(dst):
        os.rename(dst, old)
    os.rename(tmp, dst)
    if os.path.exists(old):
        shutil.rmtree(old, ignore_errors=True)


def merge_upsert(
    spark: SparkSession,
    target_path: str,
    source: DataFrame,
    keys: list[str],
    partition_col: str | None = None,
    keep_versions: int = 2,
    emit_cdf: bool = False,
) -> None:
    """MERGE a source batch into a Parquet directory table.

    First write creates the table. Every merge commits through the
    versioned layout (module docstring): write a new ``v_*`` snapshot,
    record it in the ledger, atomically flip ``_CURRENT``. Readers using
    :func:`read_table` always see a complete snapshot, concurrent with
    any merge (reference semantic: MERGE is atomic in BigQuery,
    ``dags/fx_pipeline_with_merge.py:90-111``); a crash mid-merge leaves
    the previous snapshot current and the partial ``v_*`` dir is swept
    by the next commit's retention pass.

    The current snapshot's layout map (:func:`_snapshot_layouts`)
    decides how the merge rewrites the table, whatever its shape
    (:func:`_merge_layouts`): a flat snapshot is one layout partitioned
    by its recorded spec, a spec-evolved one (:func:`evolve_partition_spec`)
    one layout per spec. Every layout's partition columns must be among
    ``keys`` — a row's identity pins its partition. In a partitioned
    layout only source-touched partitions are read, merged and
    physically rewritten — the 100 TB-safe path: read scope and write
    scope are both bounded by the batch's partition footprint, not the
    table size. Untouched leaves enter the new snapshot as hardlinks
    (metadata-only; on an object store this becomes manifest reuse).
    Leaf names are taken from what Spark actually wrote — never
    reconstructed from collected values — so URL-escaped renderings
    (':' → '%3A') cannot desynchronize.

    ``partition_col`` names the partition column only when the merge
    first writes the table (``None``: unpartitioned). On an existing
    table the recorded spec decides: omit ``partition_col``, or pass
    the active layout's one-column spec; anything else raises
    ``ValueError`` — change a table's partitioning with
    :func:`evolve_partition_spec`. A plain pre-versioning directory
    (loose parquet files or hive leaves, no ``_CURRENT``) is staged by
    hardlinks, merged like any snapshot, and retired after the commit.

    Single-writer: concurrent merges on the same table raise
    :class:`ConcurrentWriteError` (lost-update protection).

    ``emit_cdf=True`` additionally records the commit's change data
    feed (insert / update_preimage / update_postimage rows stamped with
    the snapshot's sequence number) under ``v_*/_change_data`` — read
    it back with :func:`read_table_changes` and fold it through
    ``incremental.signed_partial_state`` to maintain downstream
    aggregates without rescanning the table. The feed is part of the
    snapshot: written before the commit flip, swept with its version by
    retention, and (like the snapshot itself) recomputed byte-identically
    if a crashed merge is re-run. Each layout's scoped merge emits its
    own slice, so on a partitioned table the feed is bounded by the
    same partition footprint as the rewrite.
    """
    source = source.dropDuplicates(keys)
    with _write_lock(target_path):
        cur = _current_version_name(target_path)
        legacy: list[str] = []
        prev_dir = meta = None
        if cur is not None:
            prev_dir = os.path.join(target_path, cur)
            meta = _load_snapshot_meta(prev_dir)
        else:
            legacy = [
                e for e in os.listdir(target_path)
                if e.endswith(".parquet")
                or ("=" in e and os.path.isdir(os.path.join(target_path, e)))
            ]
        if legacy:
            # pre-versioning plain directory: stage its loose files and
            # hive leaves by hardlinks (no Spark job) as the base snapshot
            prev_dir = os.path.join(
                target_path, f"_stage_{uuid.uuid4().hex[:8]}"
            )
            os.makedirs(prev_dir)
            for e in legacy:
                src = os.path.join(target_path, e)
                link = _link_tree if os.path.isdir(src) else _link_file
                link(src, os.path.join(prev_dir, e))
        try:
            if prev_dir is None:
                spec = [] if partition_col is None else [partition_col]
                layouts = [{"dir": ".", "partition_cols": spec}]
            else:
                layouts = _snapshot_layouts(prev_dir, meta)
                spec = list(layouts[-1]["partition_cols"])
                if partition_col is not None and spec != [partition_col]:
                    raise ValueError(
                        f"{target_path!r} is partitioned by its recorded "
                        f"spec {spec}, not partition_col={partition_col!r}; "
                        "omit partition_col to follow the recorded spec, or "
                        "change it with evolve_partition_spec"
                    )
            _merge_layouts(
                spark, target_path, prev_dir, meta, layouts, source, keys,
                keep_versions, emit_cdf,
            )
        finally:
            if legacy:
                shutil.rmtree(prev_dir, ignore_errors=True)
        # retire the migrated legacy files after the commit
        for e in legacy:
            src = os.path.join(target_path, e)
            if os.path.isdir(src):
                shutil.rmtree(src, ignore_errors=True)
            else:
                with contextlib.suppress(OSError):
                    os.remove(src)


def _leaf_dirs(root: str) -> set[str]:
    """Relative dirs under ``root`` that directly contain data files
    — the FULL hive leaf paths ('.' for an unpartitioned layout).
    Leaf grain matters for multi-column specs: day=d16 may hold one
    written type= leaf next to an untouched one, and linking at day
    grain would duplicate the written one. ``_change_data`` and
    ``_manifest`` (parquet too, under a flat snapshot's root) are
    skipped by :func:`io.iter_data_files`' rule."""
    return {os.path.dirname(rel) or "." for rel, _p in iter_data_files(root)}


def _partition_tuple_filter(cols: list[str], tuples: list[tuple]):
    """OR-of-AND null-safe equality predicate over partition columns —
    collected from the (bounded, driver-side) distinct partition
    footprint of a source batch; Catalyst folds it into
    PartitionFilters on the hive scan, so the layout read prunes to
    exactly the touched leaves. Null-safe: a NULL partition value
    (hive's default partition) must match its own leaf, which the
    rewrite replaces."""
    from functools import reduce

    conds = [
        reduce(
            lambda a, b: a & b,
            [F.col(c).eqNullSafe(F.lit(v)) for c, v in zip(cols, t)],
        )
        for t in tuples
    ]
    return reduce(lambda a, b: a | b, conds)


def evolve_partition_spec(
    spark: SparkSession,
    path: str,
    new_partition_cols: list[str],
    keep_versions: int = 2,
) -> None:
    """``ALTER TABLE ... ADD PARTITION FIELD`` for the versioned layout
    (VERDICT r12 item 3, completing the r12 ``read_partition_evolved``
    story): commit a METADATA-ONLY snapshot that (a) carries every
    existing data file through as hardlinks — history is NOT rewritten,
    which is the entire point of spec evolution at 100 TB — and
    (b) records a LAYOUT MAP in the snapshot's ``_snapshot_meta.json``:
    the old spec's tree under ``layout_000/`` (etc.) plus a fresh empty
    layout dir for the new spec, which subsequent
    :func:`merge_upsert` commits fill. Readers
    (:func:`read_table`, any ``version``) resolve the map from the
    snapshot itself — table history IS the source of truth, no
    caller-supplied paths — and union the layouts by name with
    per-layout partition pruning.

    The table must already record its current spec (any post-manifest
    commit does); evolving twice appends ``layout_002`` and so on —
    per-file spec identity is the layout dir, exactly Iceberg's
    spec-id-per-data-file.

    Reference scope note: the reference's BigQuery tables are
    date-partitioned only (``dags/fx_pipeline_with_merge.py:70-88``);
    this is the lakehouse migration surface such a pipeline needs once
    a second partition dimension earns its keep.
    """
    if not os.path.isdir(path) or _current_version_name(path) is None:
        raise ValueError(
            f"{path!r} is not a versioned table (no {_CURRENT_PTR})"
        )
    with _write_lock(path):
        cur = _current_version_name(path)
        prev_dir = os.path.join(path, cur)
        meta = _load_snapshot_meta(prev_dir)
        if meta is None or meta.get("partition_spec") is None:
            raise ValueError(
                f"{path!r} predates the stats manifest / recorded spec — "
                "run one normal commit (e.g. a merge) to record its "
                "partition spec before evolving it"
            )
        old = _snapshot_layouts(prev_dir, meta)
        if list(new_partition_cols) == list(old[-1]["partition_cols"]):
            raise ValueError(
                f"no-op spec evolution: {new_partition_cols} is already "
                "the active partition spec"
            )
        # a flat snapshot's one layout moves under layout_000; only data
        # leaves are carried (sidecar and census are per-snapshot, the
        # change feed per-commit)
        layouts = [
            {"dir": f"layout_{i:03d}" if lay["dir"] == "." else lay["dir"],
             "partition_cols": list(lay["partition_cols"])}
            for i, lay in enumerate(old)
        ]
        vdir = _next_version_dir(path)
        for src_lay, lay in zip(old, layouts):
            src = os.path.normpath(os.path.join(prev_dir, src_lay["dir"]))
            dst = os.path.join(vdir, lay["dir"])
            os.makedirs(dst, exist_ok=True)
            for leaf in _leaf_dirs(src):
                _link_leaf(os.path.join(src, leaf), os.path.join(dst, leaf))
        new_dir = f"layout_{len(layouts):03d}"
        os.makedirs(os.path.join(vdir, new_dir), exist_ok=True)
        layouts.append(
            {"dir": new_dir, "partition_cols": list(new_partition_cols)}
        )
        _commit_version(
            path,
            vdir,
            keep_versions,
            partition_spec=list(new_partition_cols),
            layouts=layouts,
        )


def drop_partition_field(
    spark: SparkSession,
    path: str,
    col: str,
    keep_versions: int = 2,
) -> list[str]:
    """``ALTER TABLE ... DROP PARTITION FIELD`` — partition-spec
    ROLLBACK (VERDICT r13 item 2, completing the evolution story):
    remove ``col`` from the ACTIVE spec and commit the result as a new
    active layout, exactly like :func:`evolve_partition_spec` (which
    this delegates to): metadata-only, history hardlinked, zero
    rewrite. The new layout's spec may EQUAL an earlier layout's —
    e.g. day → (day, type) → day leaves three layouts where the first
    and third share a spec; per-file spec identity is the layout dir,
    so reads and :func:`merge_upsert` routing are unaffected
    (Iceberg keeps a spec-id per data file for the same reason — specs
    are not required to be unique across history).

    Rolling back to an EMPTY spec (dropping the last field) commits an
    unpartitioned active layout — supported: the evolved merge's
    footprint for a no-column layout is the whole batch, and reads
    union it like any other layout.

    Returns the new active partition spec. Only the ACTIVE spec can be
    edited — historical layouts are immutable by design (rewriting
    them is what spec evolution exists to avoid at 100 TB).
    """
    spec, _layouts = snapshot_partition_spec(path)
    if spec is None:
        raise ValueError(
            f"{path!r} records no partition spec (not a versioned table, "
            "or it predates the stats manifest — run one normal commit "
            "first)"
        )
    if col not in spec:
        raise ValueError(
            f"column {col!r} is not in the active partition spec {spec} "
            f"of {path!r} — nothing to drop"
        )
    new_spec = [c for c in spec if c != col]
    evolve_partition_spec(spark, path, new_spec, keep_versions=keep_versions)
    return new_spec


def _merge_layouts(
    spark: SparkSession,
    path: str,
    prev_dir: str | None,
    meta: dict | None,
    layouts: list[dict],
    source: DataFrame,
    keys: list[str],
    keep_versions: int,
    emit_cdf: bool,
) -> None:
    """:func:`merge_upsert`'s one body, called under the table's write
    lock with the current snapshot dir (None on the first write), its
    sidecar and its layout map: Iceberg-style copy-on-write across
    layouts —

    - a source row whose key already exists in an OLD layout rewrites
      that row IN PLACE, under the old spec (rewrites keep their file's
      original layout; history's directory shape never changes);
    - every other source row (new keys, and updates to rows already in
      the active layout) merges into the ACTIVE (last) layout under its
      spec. A flat table is the one-layout case.

    Every layout's partition columns must be among ``keys``, so its
    read scope is the batch's partition tuples (collected driver-side,
    one per touched leaf), read with the layout's recorded schema
    (:func:`_read_layout`). The active layout takes every remaining
    row, so that footprint IS its write footprint (an unpartitioned
    layout: all of it) and needs no probe of the batch; an old layout
    first splits off the rows whose keys it holds and rewrites only the
    leaves they touch. Everything else is hardlinked through.

    ``emit_cdf=True``: each layout's scoped merge emits its own slice
    via :func:`merge_upsert_cdf_df` (an empty active layout's inserts
    via :func:`insert_only_cdf`); slices union by NAME, since layout
    reads put partition columns last, differently per spec.
    """
    _validate_keys(source, keys)
    for lay in layouts:
        missing = [c for c in lay["partition_cols"] if c not in keys]
        if missing:
            raise ValueError(
                f"layout {lay['dir']!r} partition cols {missing} must "
                "be merge keys (row identity pins its partition)"
            )
    vdir = _next_version_dir(path)
    seq = _seq_of(os.path.basename(vdir))
    cdf_parts: list[DataFrame] = []
    types: dict = {}
    empty_schema = None
    remaining = source
    for i, lay in enumerate(layouts):
        cols = list(lay["partition_cols"])
        lay_src = (
            None if prev_dir is None
            else os.path.normpath(os.path.join(prev_dir, lay["dir"]))
        )
        dst = os.path.normpath(os.path.join(vdir, lay["dir"]))
        active = i == len(layouts) - 1
        has_data = lay_src is not None and _layout_has_data(lay_src)
        if not has_data and not active:
            os.makedirs(dst, exist_ok=True)
            continue
        # batch partition footprint for THIS layout's spec — a
        # bounded driver-side list (one tuple per touched leaf)
        parts = [
            tuple(r)
            for r in remaining.select(*cols).distinct().collect()
        ] if cols else [()]
        scoped = None
        if has_data:
            scoped = _read_layout(spark, lay_src, meta, cols)
            if cols and parts:
                scoped = scoped.filter(_partition_tuple_filter(cols, parts))
        if active:
            upd, upd_parts = remaining, parts
        elif parts:
            lay_keys = scoped.select(*keys)
            upd = remaining.join(lay_keys, keys, "semi")
            remaining = remaining.join(lay_keys, keys, "anti")
            # refine the rewrite scope to the partitions the matched
            # rows touch; an unpartitioned layout has no tuple
            # footprint, so probe emptiness directly (code-review r13:
            # a historical layout must not be rewritten with zero
            # matched keys)
            upd_parts = (
                [tuple(r) for r in upd.select(*cols).distinct().collect()]
                if cols
                else ([()] if upd.limit(1).count() > 0 else [])
            )
            if cols and upd_parts:
                scoped = scoped.filter(
                    _partition_tuple_filter(cols, upd_parts)
                )
        else:
            upd_parts = []
        if scoped is None and not cols and prev_dir is not None:
            # an evolved table's empty unpartitioned layout gets a file
            # only when rows reach it (a table's first write is written
            # even when empty, so it reads back with the batch's schema)
            upd_parts = [()] if upd.limit(1).count() > 0 else []
        if prev_dir is None and cols and not upd_parts:
            # a partitioned first write of an empty batch has no leaf
            # to hold a zero-row file (a root-level one would become a
            # "." leaf beside the hive leaves): record the batch's
            # schema instead, so the snapshot reads as zero rows
            empty_schema = StructType(
                [f for f in upd.schema.fields if f.name not in cols]
            ).json()
            types.update(
                {c: upd.schema[c].dataType.jsonValue() for c in cols}
            )
        if upd_parts:
            if scoped is None:  # empty active layout: its first data
                merged, cdf = upd, insert_only_cdf(upd, seq)
            elif emit_cdf:
                merged, cdf = merge_upsert_cdf_df(
                    scoped, upd, keys, commit_version=seq
                )
            else:
                merged = merge_upsert_df(scoped, upd, keys)
            w = merged.write.mode("overwrite")
            if cols:
                w = w.partitionBy(*cols)
            w.parquet(dst)
            types.update(
                {c: merged.schema[c].dataType.jsonValue() for c in cols}
            )
            if emit_cdf:
                cdf_parts.append(cdf)
        # carry untouched leaves of this layout through as hardlinks
        written = _leaf_dirs(dst) if os.path.isdir(dst) else set()
        if has_data:
            for leaf in _leaf_dirs(lay_src) - written:
                _link_leaf(
                    os.path.join(lay_src, leaf), os.path.join(dst, leaf)
                )
        os.makedirs(dst, exist_ok=True)
    if cdf_parts:
        feed = cdf_parts[0]
        for part in cdf_parts[1:]:
            feed = feed.unionByName(part)
        # inside the still-uncommitted v_* dir, after the data (a flat
        # layout's write replaces vdir) but before the pointer flip —
        # a crash orphans data and feed together, and the underscore
        # dir never shows up in snapshot table scans
        feed.write.mode("overwrite").parquet(os.path.join(vdir, CDF_DIR))
    # the layout map is carried from the previous sidecar: a flat table
    # records none, so read_table keeps the recorded-schema read
    _commit_version(
        path,
        vdir,
        keep_versions,
        partition_spec=list(layouts[-1]["partition_cols"]),
        partition_types=types,
        empty_schema=empty_schema,
    )


def idempotent_append(
    spark: SparkSession,
    target_path: str,
    batch: DataFrame,
    keys: list[str],
) -> None:
    """Cross-batch idempotent append to a Parquet directory table (T4/J2).

    Locked: two concurrent idempotent appends of overlapping batches
    would both pass the anti-join and double-insert the same keys."""
    _reject_versioned(target_path, "idempotent_append")
    is_new = not os.path.exists(target_path)  # before the lock mkdirs it
    with _write_lock(target_path):
        if is_new:
            batch.dropDuplicates(keys).write.mode("overwrite").parquet(
                target_path
            )
            return
        target = spark.read.parquet(target_path)
        fresh = batch.dropDuplicates(keys).join(target, on=keys, how="left_anti")
        fresh.select(*target.columns).write.mode("append").parquet(target_path)


def append_landing_batch(
    df: DataFrame,
    zone: str,
    partition_cols: list[str],
    batch_id: int,
) -> int:
    """REPLAY-IDEMPOTENT hive-layout append for ``foreachBatch`` sinks
    writing a landing zone: stage the micro-batch to a sibling temp dir
    (``zone.__b<id>__`` — never inside the zone, so a concurrent reader
    can't list half-written files), then move each staged file into its
    hive leaf under a DETERMINISTIC name keyed by (batch_id, leaf,
    file-ordinal). foreachBatch is at-least-once: a redelivered batch
    recomputes the same content (availableNow file slicing is
    deterministic) and ``os.replace`` lands it on the SAME names —
    overwrite, not duplicate. A crash mid-move is healed the same way:
    the replay re-stages and re-replaces every name it owns.

    Returns the number of data files landed. This is the minimal
    manifest-free form of what FileStreamSink's commit log provides;
    at object-store scale, swap the rename loop for a manifest commit.
    """
    tmp = zone.rstrip(os.sep) + f".__b{batch_id}__"
    shutil.rmtree(tmp, ignore_errors=True)
    w = df.write.mode("overwrite")
    if partition_cols:
        w = w.partitionBy(*partition_cols)
    w.parquet(tmp)
    # Remove ALL of this batch's previously-landed files first
    # (code-review r13): a replay recomputed under different
    # parallelism can stage FEWER files per leaf — or skip a leaf
    # entirely — and pure os.replace would leave the first attempt's
    # higher-ordinal files behind as duplicates. The sweep is a
    # names-only walk of the zone; replays are the rare failure path.
    prefix = f"b{batch_id:06d}-"
    if os.path.isdir(zone):
        for root, _dirs, files in os.walk(zone):
            for f in files:
                if f.startswith(prefix) and f.endswith(".parquet"):
                    with contextlib.suppress(OSError):
                        os.remove(os.path.join(root, f))
    moved = 0
    for root, _dirs, files in os.walk(tmp):
        rel = os.path.relpath(root, tmp)
        pfiles = sorted(f for f in files if f.endswith(".parquet"))
        for i, f in enumerate(pfiles):
            dstdir = zone if rel == "." else os.path.join(zone, rel)
            os.makedirs(dstdir, exist_ok=True)
            os.replace(
                os.path.join(root, f),
                os.path.join(dstdir, f"b{batch_id:06d}-{i:04d}.parquet"),
            )
            moved += 1
    shutil.rmtree(tmp, ignore_errors=True)
    return moved


def compact_parquet(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    shuffle: bool = False,
) -> int:
    """Small-file compaction: rewrite each hive leaf into
    ceil(leaf_bytes / target) files. Returns the output data-file count.

    The small-files problem is THE silent scale killer for append-heavy
    tables (a streaming sink or per-batch ``merge_upsert`` emitting
    thousands of KB-sized files turns every downstream scan into
    task-scheduling overhead). Default is ``coalesce`` — no shuffle,
    each output task concatenates whole input files; pass
    ``shuffle=True`` for an even-size rebalance when input files are
    badly skewed.

    **Compaction is per FULL hive leaf, per layout** (VERDICT r03 item
    9): the snapshot's layout map (:func:`_snapshot_layouts` — a flat
    table is one layout) lists the layouts, and each leaf under each
    layout (multi-column leaves like day=/typ= at leaf grain, an
    unpartitioned layout as its one ``"."`` leaf) is sized and
    rewritten independently — a skewed leaf with thousands of small
    files is fixed without touching (or even reading) well-laid-out
    leaves, which are hardlinked through unchanged. Matches
    ``merge_upsert``'s partition-scoped write scope.

    Versioned tables (``_CURRENT`` pointer present) compact into ONE
    new ``v_*`` snapshot + ledger commit that carries the layout map —
    fully reader-safe; plain directories swap each rewritten leaf in
    place by rename (single-writer contract, no concurrent readers).

    File sizing uses local file sizes — correct for local/NFS storage.
    On an object store, swap in the Hadoop
    ``FileSystem.getContentSummary`` listing (or the store's inventory
    API); the directory walk enumerates the same paths.
    """
    with _write_lock(path):
        cur = _current_version_name(path)
        if cur is None:
            src_root, vdir, meta = path, None, None
        else:
            src_root = os.path.join(path, cur)
            meta = _load_snapshot_meta(src_root)
            vdir = _next_version_dir(path)
        layouts = _snapshot_layouts(src_root, meta)
        total_files = 0
        for lay in layouts:
            lay_src = os.path.normpath(os.path.join(src_root, lay["dir"]))
            # the '.' leaf first: writing it replaces its whole dir
            leaves = sorted(_leaf_dirs(lay_src), key=lambda x: (x != ".", x))
            for leaf in leaves:
                src = os.path.normpath(os.path.join(lay_src, leaf))
                files = [f for f in os.listdir(src) if f.endswith(".parquet")]
                leaf_bytes = sum(
                    os.path.getsize(os.path.join(src, f)) for f in files
                )
                n = max(1, -(-leaf_bytes // target_file_bytes))
                dst = None if vdir is None else os.path.normpath(
                    os.path.join(vdir, lay["dir"], leaf)
                )
                if len(files) <= n:  # already compact: carried, unread
                    if dst is not None:
                        _link_leaf(src, dst)
                    total_files += len(files)
                    continue
                df = _read_layout(spark, src, meta)  # hive cols: dir name
                shaped = df.repartition(n) if shuffle else df.coalesce(n)
                if dst is None:
                    tmp = src + f".__compact__{uuid.uuid4().hex[:8]}"
                    shaped.write.mode("overwrite").parquet(tmp)
                    _atomic_swap(tmp, src)
                else:
                    shaped.write.mode("overwrite").parquet(dst)
                total_files += n
        if vdir is not None:
            _commit_layouts(path, vdir, layouts, keep_versions=2)
        return total_files


def delete_rows(
    spark: SparkSession,
    target_path: str,
    predicate: str,
    keep_versions: int = 2,
) -> int:
    """Subject deletion (the GDPR right-to-be-forgotten write): rewrite
    the table WITHOUT the rows matching ``predicate``, committed through
    the same versioned layout as merge_upsert — readers always see a
    complete snapshot, a crash leaves the previous snapshot current, and
    the retention sweep eventually removes the old snapshots that still
    contain the subject (keep_versions bounds how long deleted data
    remains time-travelable; set 1 for immediate physical removal at
    the next commit). Returns the number of rows deleted. SQL DELETE
    semantics: only rows where ``predicate`` evaluates TRUE are deleted
    — NULL-predicate rows are kept and not counted.

    Each layout of the snapshot's layout map (:func:`_snapshot_layouts`
    — a flat table is one layout) is rewritten WITHOUT its matching
    rows UNDER ITS OWN SPEC, scoped to the leaves that actually contain
    matches. ONE job per layout finds them: the matching rows grouped by
    physical file + partition tuple (bounded by the subject's spread,
    one row per touched file, never per row) gives the touched leaves,
    the rewrite's partition footprint and the delete count. Every
    untouched leaf enters the new snapshot as hardlinks. A leaf whose
    rows ALL match disappears; a layout emptied entirely stays in the
    map with zero files (the census-driven read skips it). Deleting
    every row of the table keeps one zero-row file in an emptied leaf,
    so the snapshot still reads as an empty table with its schema.

    Single-writer via the same lock as every other writer. At 100 TB
    the rewrite scope is (matching leaves) x (their layouts) — pair the
    subject predicate with a partition bound when the subject's
    footprint is known.
    """
    from urllib.parse import unquote, urlparse

    with _write_lock(target_path):
        cur = _current_version_name(target_path)
        if cur is None:
            raise ValueError(
                f"{target_path!r} is not a versioned table (no "
                f"{_CURRENT_PTR})"
            )
        prev_dir = os.path.join(target_path, cur)
        meta = _load_snapshot_meta(prev_dir)
        layouts = _snapshot_layouts(prev_dir, meta)
        vdir = _next_version_dir(target_path)
        deleted = 0
        emptied = None  # (frame, partition cols, dir) of a deleted leaf
        for lay in layouts:
            cols = list(lay["partition_cols"])
            lay_src = os.path.normpath(os.path.join(prev_dir, lay["dir"]))
            dst = os.path.normpath(os.path.join(vdir, lay["dir"]))
            leaves = _leaf_dirs(lay_src)
            if not leaves:
                continue
            df = _read_layout(spark, lay_src, meta, cols)
            # Leaves come from the paths Spark actually scanned (never
            # reconstructed from values — a delete can EMPTY a leaf, so
            # the written-dirs diff the merge path uses can't tell
            # "untouched" from "fully deleted").
            grouped = df.filter(predicate).groupBy(
                F.input_file_name().alias("__f"), *cols
            ).count().collect()
            touched = {
                os.path.relpath(
                    os.path.dirname(unquote(urlparse(r["__f"]).path)),
                    lay_src,
                )
                for r in grouped
            }
            deleted += sum(r["count"] for r in grouped)
            if grouped:
                tuples = list({tuple(r[c] for c in cols) for r in grouped})
                scoped = (
                    df.filter(_partition_tuple_filter(cols, tuples))
                    if cols else df
                )
                # SQL DELETE semantics (code-review r14): NOT(pred) would
                # silently drop the NULL-predicate rows, uncounted
                w = scoped.filter(
                    f"NOT coalesce(({predicate}), false)"
                ).write.mode("overwrite")
                if cols:
                    w = w.partitionBy(*cols)
                w.parquet(dst)
                emptied = emptied or (df, cols, os.path.normpath(
                    os.path.join(dst, min(touched))
                ))
            written = _leaf_dirs(dst)
            for leaf in leaves - touched - written:
                _link_leaf(
                    os.path.join(lay_src, leaf), os.path.join(dst, leaf)
                )
        if emptied and next(iter_data_files(vdir), None) is None:
            # every row deleted: a partitioned write of no rows leaves
            # no file, and a snapshot without one has no schema to read
            df, cols, leaf_dir = emptied
            df.limit(0).drop(*cols).write.mode("overwrite").parquet(
                leaf_dir
            )
        _commit_layouts(target_path, vdir, layouts, keep_versions)
        return deleted


def _grid_norm_expr(col: str, lo, hi, bits: int) -> str:
    """min/max normalization to ``bits`` integer levels, shared by the
    deterministic grid writers; the relational oracle repeats the same
    formula (and double-op order), so it reproduces file assignment
    exactly."""
    lvl = (1 << bits) - 1
    span = float(hi - lo) if hi != lo else 1.0
    return (
        f"CAST(floor((CAST({col} AS DOUBLE) - {float(lo)!r})"
        f" / {span!r} * {lvl}) AS BIGINT)"
    )


def _grid_minmax(df: DataFrame, cols: list[str]):
    """One-row min/max (+ NULL guard) per cluster column — the only
    driver-side data any grid writer needs."""
    aggs = []
    for c in cols:
        aggs += [
            F.min(c).alias(f"{c}__lo"),
            F.max(c).alias(f"{c}__hi"),
            (F.count(F.lit(1)) - F.count(c)).alias(f"{c}__nulls"),
        ]
    mm = df.agg(*aggs).collect()[0]
    for c in cols:
        if mm[f"{c}__nulls"]:
            raise ValueError(
                f"grid cluster column {c!r} contains NULLs; filter or "
                "impute them before clustering"
            )
    return mm


GRID_FILE_COL = "__zfile"


def zorder_write_grid(
    df: DataFrame,
    path: str,
    col_a: str,
    col_b: str,
    n_files: int = 8,
    bits: int = 16,
) -> None:
    """Z-order clustered write with DETERMINISTIC file boundaries:
    interleave the bits of two (min/max normalized) numeric columns into
    one Morton key; the file id is its top ``log2(n_files)`` bits (a
    fixed grid over the normalized (a, b) plane), written as one parquet
    file per non-empty grid cell via a hive ``__zfile=K`` layout — the
    layout Delta/Iceberg's OPTIMIZE ZORDER produces, with boundaries
    that are a pure function of the data.

    A sampled ``repartitionByRange`` would pick boundaries that are
    not, and the skipping PROOF needs them to be (``file_skip_report``
    vs a relational oracle that recomputes the same grid; VERDICT r10
    item 6). Each Morton cell is a rectangle in (a, b) space, so every
    file carries tight bounds on BOTH columns — 2-D predicates skip
    cells the way 1-D clustering can't. The only driver-side data is
    the one-row min/max aggregate (:func:`_grid_minmax`), which also
    rejects NULL cluster values: a NULL would NULL the Morton key and
    lump those rows into one unbounded file.
    """
    if n_files & (n_files - 1) or n_files < 2:
        raise ValueError(f"n_files must be a power of two >= 2, got {n_files}")
    top = n_files.bit_length() - 1
    mm = _grid_minmax(df, [col_a, col_b])
    na = _grid_norm_expr(col_a, mm[f"{col_a}__lo"], mm[f"{col_a}__hi"], bits)
    nb = _grid_norm_expr(col_b, mm[f"{col_b}__lo"], mm[f"{col_b}__hi"], bits)
    interleave = " + ".join(
        f"(shiftleft((shiftright({na}, {i}) & 1), {2 * i})"
        f" + shiftleft((shiftright({nb}, {i}) & 1), {2 * i + 1}))"
        for i in range(bits)
    )
    (
        df.withColumn(
            GRID_FILE_COL, F.expr(f"({interleave}) >> {2 * bits - top}")
        )
        # one shuffle task per grid cell → exactly one file per leaf
        .repartition(GRID_FILE_COL)
        .write.mode("overwrite")
        .partitionBy(GRID_FILE_COL)
        .parquet(path)
    )


def cluster_write_grid(
    df: DataFrame, path: str, col: str, n_files: int = 8, bits: int = 16
) -> None:
    """The 1-D baseline for :func:`zorder_write_grid`: file id = top
    bits of the single normalized column (deterministic octile-style
    zone maps). Same layout mechanics, one clustering dimension — the
    thing the z-order comparison beats on 2-D predicates."""
    if n_files & (n_files - 1) or n_files < 2:
        raise ValueError(f"n_files must be a power of two >= 2, got {n_files}")
    top = n_files.bit_length() - 1
    mm = _grid_minmax(df, [col])
    na = _grid_norm_expr(col, mm[f"{col}__lo"], mm[f"{col}__hi"], bits)
    (
        df.withColumn(GRID_FILE_COL, F.expr(f"({na}) >> {bits - top}"))
        .repartition(GRID_FILE_COL)
        .write.mode("overwrite")
        .partitionBy(GRID_FILE_COL)
        .parquet(path)
    )


def file_skip_report(
    path: str, bounds: dict[str, tuple[float, float]]
) -> list[dict]:
    """Parquet-footer min/max skipping report: for every data file under
    ``path``, read ONLY the footer (pyarrow; no data pages — the
    ``variant_io.py`` introspection precedent) and decide whether the
    file can be skipped for the conjunctive range predicate ``bounds``
    (col → (lo, hi) inclusive): skip iff ANY bounded column's file
    min > hi or max < lo.

    Returns one dict per file: path, n_rows, per-column (min, max),
    skip. Driver-bounded metadata work — and when ``path`` holds a
    commit-time stats manifest (``_snapshot_meta.json`` — every
    versioned-table snapshot writes one, VERDICT r12 item 4) covering
    the bounded columns, the report is served from that single JSON
    read instead of per-file footer opens; note the manifest scopes to
    DATA files (change-feed files excluded). Plain directories (zorder/
    cluster output, driver testdata) fall back to the footer walk —
    the manifest derived from the files themselves.
    """
    return [
        {
            "path": fpath,
            "n_rows": n_rows,
            "mins": mins,
            "maxs": maxs,
            "skip": _bounds_exclude(mins, maxs, bounds),
        }
        for fpath, n_rows, mins, maxs in _dir_file_stats(path, list(bounds))
    ]
