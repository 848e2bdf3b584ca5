"""Versioned table commits — the Delta-transaction-log idea over plain
parquet (no Delta jars in this environment).

Layout:

    table_root/
      v=0/                 the empty table ``create`` publishes: ``_schema.json`` only
      v=1/  v=2/  ...      immutable version directories (parquet)
        _schema.json        the committed frame's schema (read without inference)
        _manifest.json      optional per-file min/max (``stats_columns``)
        col=value/          hive partition dirs when the table has ``partition_by``
      _VERSION              text file holding the current version number

Writers stage a full new version directory, then flip ``_VERSION`` with
an atomic rename — readers either see the old or the new version, never
a partial write, and historical versions stay readable (time travel).
The table is never missing, history is kept, and each commit maps 1:1
onto a JSON commit in Delta's ``_delta_log``.  ``create`` is Delta's
version-0 CREATE TABLE commit: it publishes the declared schema and no
rows, so the first load reads (and merges into) an empty table instead
of taking a code path of its own.  A table never created has no
version: ``read`` returns ``None``.

A partitioned table's MERGE reads only the partitions its source
touches (an IN-list the scan turns into ``PartitionFilters``), writes
the merged slice, and hardlinks every file of the base version's
untouched partition dirs into the staged version before it publishes.
A version therefore stays a self-contained directory — read, time
travel, vacuum, compact and conflict detection are the same as for an
unpartitioned table — while the bytes a merge writes scale with the
partitions it touches, not the table.

Scale note: an unpartitioned MERGE rewrites the whole table as one new
version, the same worst case as Delta's.  Vacuuming old versions is the
retention knob; a hardlinked file's bytes are freed only when the last
version holding it is vacuumed.
"""

from __future__ import annotations

import glob
import json
import os
import tempfile

from pyspark.sql import Column, DataFrame, DataFrameReader, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from .upsert import merge_upsert

__all__ = ["VersionedTable", "ConcurrentWriteError"]

_SCHEMA = "_schema.json"


class ConcurrentWriteError(RuntimeError):
    """Another writer committed between this merge's read and commit."""


class VersionedTable:
    """A table of immutable version dirs under ``root``; ``partition_by``
    names the hive partition columns every commit writes."""

    def __init__(self, spark: SparkSession, root: str, partition_by: tuple[str, ...] = ()):
        self.spark = spark
        self.root = root
        self.partition_by = list(partition_by)
        os.makedirs(root, exist_ok=True)

    @property
    def _pointer(self) -> str:
        return os.path.join(self.root, "_VERSION")

    def current_version(self) -> int:
        try:
            with open(self._pointer) as f:
                return int(f.read().strip())
        except (FileNotFoundError, ValueError):
            return 0

    def _vdir(self, version: int) -> str:
        return os.path.join(self.root, f"v={version}")

    def _snapshot_dir(self, version: int | None) -> str | None:
        """The directory of ``version`` (default: the current one), or
        ``None`` when the table was never created or ``version`` was
        vacuumed.  A current version past 0 whose directory is gone
        raises ``FileNotFoundError``: returning ``None`` there would make
        a populated table look empty, and a caller that rebuilds from an
        empty table would re-key every row."""
        cur = self.current_version()
        v = cur if version is None else version
        vdir = self._vdir(v)
        if v < 0:
            return None
        if not os.path.isdir(vdir):
            if v == cur and v > 0:
                raise FileNotFoundError(f"{self._pointer} names v{v}, but {vdir} is gone")
            return None
        return vdir

    def read(self, version: int | None = None) -> DataFrame | None:
        """Current snapshot, or time-travel to ``version`` (``None`` as
        in ``_snapshot_dir``; version 0 of a created table is an empty
        frame).  A pure plan builder: the schema committed with the
        version replaces parquet schema inference, which would run a
        Spark job per read."""
        vdir = self._snapshot_dir(version)
        return None if vdir is None else self._reader(vdir).parquet(vdir)

    def _reader(self, vdir: str) -> DataFrameReader:
        """A parquet reader for a version directory, carrying its
        committed schema.  Every commit writes ``_schema.json``; a version
        dir without one raises ``FileNotFoundError`` rather than falling
        back to schema inference."""
        try:
            with open(os.path.join(vdir, _SCHEMA)) as f:
                schema = StructType.fromJson(json.load(f))
        except FileNotFoundError:
            raise FileNotFoundError(f"version dir {vdir} has no {_SCHEMA}") from None
        return self.spark.read.schema(schema)

    def _versions(self) -> list[int]:
        """The version numbers that have a directory, published or not."""
        return [
            int(name[2:])
            for name in os.listdir(self.root)
            if name.startswith("v=") and name[2:].isdigit()
        ]

    def _claim(self, staged: str, version: int) -> None:
        """Publish the staged dir as ``v=version`` with one rename, which
        fails if another writer already owns that directory."""
        try:
            os.rename(staged, self._vdir(version))
        except OSError as e:
            import shutil

            shutil.rmtree(staged, ignore_errors=True)
            raise ConcurrentWriteError(
                f"v{version} was claimed by a concurrent writer; "
                "re-read and retry the merge"
            ) from e

    def create(self, schema: StructType) -> None:
        """Publish version 0: the table with ``schema`` and no rows, the
        CREATE TABLE commit a first load then reads and merges into.  It
        writes ``_schema.json`` alone and starts no Spark job.  A table
        that already has a version raises ``ConcurrentWriteError``, and
        so does a commit that lands while version 0 publishes: a create
        never hides another writer's commit."""
        if self._versions():
            raise ConcurrentWriteError(f"{self.root} already has a version")
        staged = tempfile.mkdtemp(dir=self.root, prefix="._staged_")
        with open(os.path.join(staged, _SCHEMA), "w") as f:
            f.write(schema.json())
        self._claim(staged, 0)
        if max(self._versions()) > 0:
            raise ConcurrentWriteError(f"{self.root} was committed to while it was created")

    def _commit(
        self,
        df: DataFrame,
        *,
        base_version: int | None = None,
        stats_columns: list[str] | None = None,
        carry_from: str | None = None,
    ) -> int:
        """Commit a new version.  ``base_version`` enables optimistic
        concurrency: if another writer committed since the caller read
        that version, raise instead of silently clobbering their commit
        (Delta's conflict-detection contract).

        The version directory is CLAIMED atomically: the data is staged
        into a private ``._staged_*`` dir and published with one
        ``os.rename`` onto ``v=N`` — rename fails if another writer
        already owns ``v=N``.  A check-then-act scheme (r1: check
        pointer, long parquet write straight into v=N, flip pointer)
        left the whole write duration as a race window in which two
        writers could interleave into the SAME directory; with
        rename-publish the loser's data never becomes visible and it
        gets ConcurrentWriteError instead.  A crashed writer leaves only
        an invisible ``._staged_*`` dir (removed by ``vacuum``).

        ``carry_from`` is a version dir whose partitions ``df`` does not
        hold: their files are hardlinked into the staged version."""
        if self.partition_by and stats_columns:
            # manifests list a version dir's top-level files only
            raise ValueError("stats_columns needs an unpartitioned table")
        cur = self.current_version()
        if base_version is not None and cur != base_version:
            raise ConcurrentWriteError(
                f"table advanced to v{cur} since read at v{base_version}; "
                "re-read and retry the merge"
            )
        # claim one PAST any existing v= dir, not just pointer+1: a
        # writer that published v=N but crashed before the pointer flip
        # leaves an orphaned directory, and pointer+1 would collide with
        # it on every retry forever.  Orphans stay invisible (pointer
        # never reached them) and vacuum sweeps them.
        new_v = max([cur, *self._versions()]) + 1
        staged = tempfile.mkdtemp(dir=self.root, prefix="._staged_")
        try:
            # Spark refuses to write into an existing dir without
            # overwrite mode; overwrite onto the fresh mkdtemp path is
            # safe — we own it.  Force the statistics-bearing timestamp
            # format even on vanilla sessions: legacy INT96 has no
            # min/max, which would silently turn timestamp manifests
            # into keep-every-file.  The session conf is restored after
            # the write — a commit must not permanently change the
            # write behavior of unrelated code sharing the session
            # (ADVICE r3).
            tt_key = "spark.sql.parquet.outputTimestampType"
            prev_tt = self.spark.conf.get(tt_key, None)
            self.spark.conf.set(tt_key, "TIMESTAMP_MICROS")
            try:
                df.write.mode("overwrite").partitionBy(*self.partition_by).parquet(staged)
            finally:
                if prev_tt is None:
                    self.spark.conf.unset(tt_key)
                else:
                    self.spark.conf.set(tt_key, prev_tt)
            if carry_from is not None:
                _link_untouched_partitions(carry_from, staged, len(self.partition_by))
            if stats_columns:
                # footer-only stats for THIS commit's files, written
                # inside the staged dir so the manifest publishes
                # atomically with the data (the Delta add-action
                # payload, O(commit) cost)
                from .skipping import write_manifest

                write_manifest(staged, stats_columns)
            # the schema publishes with the data, by the same rename
            with open(os.path.join(staged, _SCHEMA), "w") as f:
                f.write(df.schema.json())
        except BaseException:
            import shutil

            shutil.rmtree(staged, ignore_errors=True)
            raise
        self._claim(staged, new_v)
        # pointer flip is monotonic: never move it backwards if a later
        # commit already advanced it
        fd, tmp = tempfile.mkstemp(dir=self.root, prefix="._VERSION_")
        with os.fdopen(fd, "w") as f:
            f.write(str(new_v))
        if self.current_version() > new_v:
            os.unlink(tmp)
        else:
            os.replace(tmp, self._pointer)
        return new_v

    def overwrite(
        self,
        df: DataFrame,
        *,
        base_version: int | None = None,
        stats_columns: list[str] | None = None,
    ) -> int:
        """Commit a full snapshot.  ``base_version`` is the version the
        caller derived ``df`` from (conflict detection, as in ``merge``).
        ``stats_columns`` records per-file min/max in a version-local
        manifest (file-skipping reads via ``read_where``)."""
        return self._commit(df, base_version=base_version, stats_columns=stats_columns)

    def read_where(self, col: str, lo, hi, version: int | None = None) -> DataFrame | None:
        """Range scan of a snapshot that opens only the files whose
        manifest min/max overlap [lo, hi] (falls back to a full scan +
        filter when the version has no manifest)."""
        from .skipping import read_manifest, read_pruned

        vdir = self._snapshot_dir(version)
        if vdir is None:
            return None
        reader = self._reader(vdir)
        if read_manifest(vdir) is None:
            return reader.parquet(vdir).filter(F.col(col).between(lo, hi))
        return read_pruned(reader, vdir, col, lo, hi)

    def merge(self, source: DataFrame, keys: list[str]) -> int:
        """SCD-1 MERGE as a new committed version, with optimistic
        conflict detection against the version the merge read.  The
        merged plan (``merge_upsert``) evaluates ``source`` once and
        checks its keys in the same window: a duplicate fails the write,
        so no version is published, and no separate job runs before it.

        On a partitioned table the merge reads, and rewrites, only the
        partitions ``source`` touches; one collect of the source's
        distinct partition values builds the target's partition filter.
        The other partitions carry forward as hardlinks.  Every
        partition column must be a merge key: otherwise a source row
        could move a key to another partition while the untouched one
        kept the old row."""
        if not set(self.partition_by) <= set(keys):
            raise ValueError(
                f"partition columns {self.partition_by} must all be merge keys {keys}"
            )
        base = self.current_version()
        target = self.read(base)
        carry_from = None
        if self.partition_by and target is not None:
            touched = source.select(*self.partition_by).distinct().collect()
            target = target.filter(_in_partitions(self.partition_by, touched))
            carry_from = self._vdir(base)
        merged = merge_upsert(target, source, keys)
        return self._commit(merged, base_version=base, carry_from=carry_from)

    def compact(self, target_partitions: int = 1) -> int:
        """Small-file compaction: rewrite the current snapshot into
        ``target_partitions`` files as a new commit.  The lakehouse
        maintenance op that keeps scan task counts sane after many
        incremental merges (pair with ``vacuum`` for space)."""
        cur = self.read()
        if cur is None:
            return 0
        return self._commit(cur.coalesce(target_partitions))

    def vacuum(self, keep_last: int = 2) -> list[int]:
        """Drop version dirs older than the last ``keep_last``.  The
        published version is always among them, so ``keep_last`` must be
        at least 1."""
        import shutil

        if keep_last < 1:
            raise ValueError(f"keep_last={keep_last} would delete the published version")
        cur = self.current_version()
        dropped = []
        for name in os.listdir(self.root):
            if name.startswith("v="):
                v = int(name.split("=", 1)[1])
                if v <= cur - keep_last:
                    shutil.rmtree(os.path.join(self.root, name), ignore_errors=True)
                    dropped.append(v)
            elif name.startswith("._staged_"):
                # abandoned claim from a crashed writer — never visible
                shutil.rmtree(os.path.join(self.root, name), ignore_errors=True)
        return sorted(dropped)


def _in_partitions(cols: list[str], touched: list) -> Column:
    """Partition filter keeping every partition whose values appear in
    the ``touched`` rows, column by column (a superset for several
    columns; the merge rewrites whatever it reads).  A NULL partition
    value matches ``IS NULL``: ``IN`` never matches it."""
    cond = F.lit(True)
    for i, c in enumerate(cols):
        values = {row[i] for row in touched}
        hit = F.col(c).isin([v for v in values if v is not None])
        if None in values:
            hit = hit | F.col(c).isNull()
        cond = cond & hit
    return cond


def _link_untouched_partitions(base: str, staged: str, depth: int) -> None:
    """Hardlink into ``staged`` every file of each leaf partition dir of
    ``base`` that the staged write did not produce.  A partition the
    merge read has at least one row, and keeps it, so it is always
    rewritten: a leaf missing from ``staged`` is one the merge never
    touched."""
    for part in glob.glob(os.path.join(glob.escape(base), *["*=*"] * depth)):
        dst = os.path.join(staged, os.path.relpath(part, base))
        if not os.path.isdir(part) or os.path.isdir(dst):
            continue
        os.makedirs(dst)
        for name in os.listdir(part):
            os.link(os.path.join(part, name), os.path.join(dst, name))
