"""Write sinks (SURVEY §2.1 K1/K2/K3): one commit protocol for every lake table.

The reference's sink is psycopg executemany in 1000-row batches inside one
transaction that rolls back on failure (load-hhs.py:28-34), re-loaded
idempotently with ON CONFLICT DO NOTHING (helper_load_hhs.py:96,163):

  K1 batched insert  -> per-partition parallel Parquet writes (native)
  K2 transactionality-> version commit: every write (full publish, MERGE,
                        append) builds a fresh `<path>.__v__<uuid>` dir — new
                        files plus hardlinks of the files it carries from the
                        current version — and renames the `path` symlink onto
                        it (Delta would give true ACID, not available here)
  K3 idempotent load -> anti-join against existing keys, then a version commit

Readers see the complete old or the complete new table. A failed or killed
writer leaves the published link untouched, and a replay writes a fresh dir,
so a dead job's files never leak into a later commit. Contract: ONE WRITER
PER TABLE — MERGE and append carry from the version they read, so of two
concurrent commits the later drops the earlier's rows (there is no lock).

Scale notes: fact tables partition by their date column at write so readers
get partition pruning for every `WHERE collection_week <= X`. A writer never
infers a table's schema from its data files (Delta reads it from its log;
here the batch supplies it): it reads the current version with the incoming
batch's schema, so a commit launches no schema job; an append whose key types
differ from one footer of the current version is refused before it writes,
and a merge batch whose types the files cannot be read as fails inside the
commit. Readers resolve a version's schema once per session through the
catalog (`sources.tables.scan`). The anti-join reads the
existing keys column-pruned and not deduplicated (a left-anti join's output
does not depend on duplicates on its build side), and for incremental loads
should be partition-pruned to the incoming date range.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import re
import shutil
import time
import uuid
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from .operators.ingest import upsert_new_keys
from .sources.tables import scan

# Job-completion markers: every Spark write leaves its own.
_MARKERS = ("_SUCCESS", "._SUCCESS.crc")


def _commit_version(
    path: str,
    write: Callable[[str, str | None], object],
    carry: Callable[[str], bool],
    gc_grace_seconds: float = 60.0,
):
    """The one commit protocol (module docstring); returns `write`'s result.

    `write(data_dir, prev)` writes the new version's own files under the
    fresh `data_dir` (`prev`: the current version dir, or None); a `write`
    that leaves no `data_dir` behind publishes nothing. `carry(rel)` picks
    the files of `prev`, by relative path, that the new version hardlinks.
    On any exception the new dir is removed and the published link is
    untouched (rollback, load-hhs.py:31-34).
    """
    # Absolute against PYTHON's cwd: a relative symlink target would resolve
    # against the link's parent dir, and Spark's JVM resolves relative paths
    # against its own working directory, pinned at session start.
    path = os.path.abspath(path)
    if os.path.lexists(path) and not os.path.islink(path):
        raise ValueError(
            f"{path} exists but is not a published table (symlink); reset it "
            "with sinks.clear_published_versions"
        )
    prev = os.path.realpath(path) if os.path.islink(path) else None
    data_dir = f"{path}.__v__{uuid.uuid4().hex}"
    try:
        result = write(data_dir, prev)
        if not os.path.isdir(data_dir):
            return result
        for d, _, files in os.walk(prev) if prev else ():
            for f in files:
                rel = os.path.relpath(os.path.join(d, f), prev)
                if carry(rel):
                    dst = os.path.join(data_dir, rel)
                    os.makedirs(os.path.dirname(dst), exist_ok=True)
                    os.link(os.path.join(d, f), dst)
        tmp_link = f"{path}.__link__{uuid.uuid4().hex}"
        os.symlink(data_dir, tmp_link)  # absolute target (path normalized above)
        os.rename(tmp_link, path)  # atomic publish
    except BaseException:
        shutil.rmtree(data_dir, ignore_errors=True)
        raise
    # GC, VACUUM semantics: drop versions and crashed-publish link temps that
    # are neither current nor previous AND older than the retention grace,
    # which protects snapshot readers still scanning a pinned version. Age
    # counts from dethroning, not write time: the utime restarts the clock of
    # the version just replaced. Dropping a donor of carried files is safe,
    # since hardlinked inodes survive its rmtree.
    if prev:
        with contextlib.suppress(OSError):
            os.utime(prev, None)
    base, parent = os.path.basename(path), os.path.dirname(path)
    keep, now = (os.path.realpath(data_dir), prev), time.time()
    for name in os.listdir(parent):
        cand = os.path.join(parent, name)
        stale = name.startswith((f"{base}.__v__", f"{base}.__link__"))
        if not stale or os.path.realpath(cand) in keep:
            continue
        try:
            if now - os.lstat(cand).st_mtime <= gc_grace_seconds:
                continue
            if os.path.islink(cand):
                os.unlink(cand)
            else:
                shutil.rmtree(cand, ignore_errors=True)
        except OSError:
            pass  # already gone
    return result


def write_parquet_atomic(
    df: DataFrame,
    path: str,
    partition_by: list[str] | None = None,
    gc_grace_seconds: float = 60.0,
) -> None:
    """K2: all-or-nothing publish of `df` as the whole table — a version
    commit that carries nothing. Replaced versions are garbage-collected
    only after `gc_grace_seconds`, so snapshot readers (read_published)
    finish their scan."""
    _commit_version(
        path,
        lambda data_dir, prev: df.write.partitionBy(*(partition_by or [])).parquet(data_dir),
        lambda rel: False,
        gc_grace_seconds,
    )


def merge_rewrite_partitions(
    spark: SparkSession,
    updates: DataFrame,
    path: str,
    keys: list[str],
    partition_col: str,
    gc_grace_seconds: float = 60.0,
) -> list[str]:
    """MERGE-style upsert (update-or-insert by `keys`) into a published
    partitioned table, rewriting ONLY the partitions the update batch
    touches — the strongest plain-Parquet approximation of transactional
    MERGE at scale (reference: ON CONFLICT upserts, helper_load_hhs.py:96).

    A version commit: touched partitions are read-modify-written (anti-join
    the old partition, read with the batch's schema, on `keys`, union the
    batch rows); the rest of the current version is carried by hardlink.

    At 100 TB the cost is proportional to the TOUCHED partitions plus one
    dim-sized driver fetch (the batch's distinct partition values), not to
    the table: a daily-partitioned fact with a one-day update batch
    rewrites one partition out of thousands.

    Returns the rewritten partition values (as strings, sorted).
    """
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    # Dim-sized by contract: one row per touched partition.
    vals = [r[0] for r in updates.select(partition_col).distinct().collect()]
    # Dir names are built as raw f"{col}={v}" below. Spark escapes special
    # characters (Hive-style %XX) and writes NULL as __HIVE_DEFAULT_PARTITION__;
    # a value named differently would MISS the touched-partition match, so
    # the old dir would be carried unchanged while the batch lands in a new
    # one: duplicate keys in a published MERGE. Refuse loudly instead.
    for v in vals:
        if v is None or not re.fullmatch(r"[A-Za-z0-9._-]+", str(v)):
            raise ValueError(
                f"unsupported partition value {v!r} for {partition_col}: "
                "merge_rewrite_partitions only supports non-null values "
                "matching [A-Za-z0-9._-]+ (Spark's path escaping would "
                "name the partition dir differently and the rewrite "
                "would silently duplicate rows)"
            )
    touched = {f"{partition_col}={v}" for v in vals}

    def write(data_dir: str, prev: str | None) -> None:
        if prev is None:
            raise ValueError(
                "merge target must be a write_parquet_atomic-published table "
                f"(symlink): {path}"
            )
        os.makedirs(data_dir)
        for v in sorted(vals, key=str):
            pname = f"{partition_col}={v}"
            batch_v = updates.filter(
                F.col(partition_col) == F.lit(v)
            ).drop(partition_col)
            prev_part = os.path.join(prev, pname)
            if os.path.isdir(prev_part):
                # Read with the batch's schema, a column the batch lacks
                # would silently vanish from the rewritten partition.
                some_file = next(glob.iglob(os.path.join(prev_part, "*.parquet")))
                lacking = set(pq.read_schema(some_file).names) - set(batch_v.columns)
                if lacking:
                    raise ValueError(
                        f"the update batch lacks columns {sorted(lacking)} of "
                        f"{path}; rewriting {pname} would drop them"
                    )
                old = spark.read.schema(batch_v.schema).parquet(prev_part)
                # anti-join on THIS partition's batch keys: a key updated in
                # another partition must not delete rows here (only touched
                # partitions are rewritten, so cross-partition key moves are
                # out of contract anyway)
                merged = old.join(
                    batch_v.select(*keys), keys, "left_anti"
                ).unionByName(batch_v)
            else:  # insert-only partition: nothing to rewrite, just write
                merged = batch_v
            merged.write.parquet(os.path.join(data_dir, pname))

    _commit_version(
        path, write, lambda rel: rel.split(os.sep)[0] not in touched, gc_grace_seconds
    )
    return sorted(str(v) for v in vals)


def read_published_version(
    spark: SparkSession, path: str, steps_back: int = 1
) -> DataFrame:
    """K6: time-travel read — scan the snapshot `steps_back` publishes ago.

    Version history is reconstructed from the retained `.__v__` dirs:
    `steps_back=0` is the current target; older versions order by mtime
    DESCENDING, which is dethroning order — `_commit_version` os.utime's
    a version at the moment it is replaced, precisely so that both GC
    grace and this history read count from dethroning, not write time.
    Retention is bounded (GC keeps current + previous past the grace), so
    honest callers use steps_back<=1; deeper asks raise rather than
    silently returning the wrong snapshot. A table format (Delta/Iceberg)
    generalizes this to arbitrary-depth history with the same contract:
    every version is an immutable dir, the log orders them.
    """
    path = os.path.abspath(path)
    if steps_back < 0:
        raise ValueError(f"steps_back must be >= 0, got {steps_back}")
    if steps_back == 0:
        return read_published(spark, path)
    current = os.path.realpath(path)
    base, parent = os.path.basename(path), os.path.dirname(path) or "."
    old = [
        os.path.join(parent, n)
        for n in os.listdir(parent)
        if n.startswith(f"{base}.__v__")
        and os.path.realpath(os.path.join(parent, n)) != current
    ]
    old.sort(key=lambda p: os.lstat(p).st_mtime, reverse=True)
    if steps_back > len(old):
        raise ValueError(
            f"time travel {steps_back} steps requested but only "
            f"{len(old)} dethroned versions of {path!r} are retained"
        )
    return scan(spark, old[steps_back - 1])


def read_published(spark: SparkSession, path: str) -> DataFrame:
    """Snapshot read of a published table: resolve the symlink ONCE and scan
    the pinned version dir. Reading through the link itself would re-resolve
    per file — a concurrent publish mid-scan would mix two versions. The
    pinned dir survives at least `gc_grace_seconds` after being replaced.

    The schema comes from the session catalog (`sources.tables.scan`),
    keyed on the version dir: a publish misses it, a re-read of the same
    version runs no schema job."""
    return scan(spark, path)


def _refuse_key_type_change(prev: str, key_schema: StructType, path: str) -> None:
    """Raise if a key's type in the batch differs from its type in one
    footer of the current version `prev` (read with pyarrow, no Spark job).
    Reading with the batch's schema cannot catch a widening: int32 files
    read fine as bigint, and the append would publish int32 and int64 files
    for one column. Every lake file is written by Spark, whose footer holds
    the exact Spark schema; partition columns are not in it and pass."""
    import pyarrow.parquet as pq

    some_file = next(glob.iglob(os.path.join(prev, "**", "*.parquet"), recursive=True), None)
    if some_file is None:
        return
    spark_json = pq.read_schema(some_file).metadata[b"org.apache.spark.sql.parquet.row.metadata"]
    # simpleString: the types, not their nullability
    stored = {f.name: f.dataType.simpleString() for f in StructType.fromJson(json.loads(spark_json))}
    changed = {
        f.name: (stored[f.name], f.dataType.simpleString())
        for f in key_schema
        if f.name in stored and stored[f.name] != f.dataType.simpleString()
    }
    if changed:
        raise ValueError(
            f"key types of the batch differ from {path} (table, batch): {changed}; "
            "appending would mix physical types in one column"
        )


def append_new_keys(
    spark: SparkSession,
    incoming: DataFrame,
    path: str,
    keys: list[str],
    partition_by: list[str] | None = None,
) -> int:
    """K1+K3: idempotent append — loading the same batch twice is a no-op
    (ON CONFLICT DO NOTHING, helper_load_hhs.py:96,163). A version commit:
    the rows whose `keys` are absent from the current version go into the
    new version, which carries every current file but the job markers; a
    batch with no new rows publishes nothing. Single writer per table.

    The current version's keys are read with the batch's key fields as the
    schema, never inferred from its files: no schema job per call. A key
    type that differs from the table's (a widening bigint onto int as much
    as a string onto int) raises `ValueError` before anything is written.

    Returns the number of rows appended, read from the new files' footers.
    """
    import pyarrow.parquet as pq

    key_schema = StructType([incoming.schema[k] for k in keys])

    def write(data_dir: str, prev: str | None) -> int:
        existing = None
        if prev:
            _refuse_key_type_change(prev, key_schema, path)
            existing = spark.read.schema(key_schema).parquet(prev)
        new_rows = upsert_new_keys(incoming, existing, keys)
        new_rows.write.partitionBy(*(partition_by or [])).parquet(data_dir)
        n = sum(
            pq.read_metadata(f).num_rows
            for f in glob.glob(os.path.join(data_dir, "**", "*.parquet"), recursive=True)
        )
        if not n:
            shutil.rmtree(data_dir)
        return n

    return _commit_version(path, write, lambda rel: os.path.basename(rel) not in _MARKERS)


def clear_published_versions(path: str) -> None:
    """Deterministic-rerun reset of a lake table: drop retained version
    dirs, crashed-publish link temps, and the live symlink, or a plain dir
    at `path` (an older in-place layout, which the writers refuse). A bare
    shutil.rmtree(path) is a silent no-op on the published SYMLINK."""
    for stale in glob.glob(f"{path}.__v__*") + glob.glob(f"{path}.__link__*"):
        if os.path.islink(stale):
            os.unlink(stale)
        else:
            shutil.rmtree(stale, ignore_errors=True)
    if os.path.islink(path):
        os.unlink(path)
    else:
        shutil.rmtree(path, ignore_errors=True)
