"""Commits for the parquet sinks: staged writes, directory swaps, and
the commit record — what the last merge already knows about its table.

A merge writes its slice to a staging directory beside the table, then
renames it into place: the whole table directory (:func:`swap_in`), or
each partition directory the slice holds (:func:`swap_partitions`).

The merge core (:mod:`.upsert`) writes ``_commit.json`` into the table
directory as the LAST step of a commit.  It holds the table's schema,
its partition columns, the max of every timestamp/date key column, the
commit's counts, and a snapshot token: the (relative path, size, mtime)
of every data file the commit left behind.

Readers use the record only while its token equals the directory
listing, so the record can be stale but never wrong: a writer that
bypasses the core (an append, a directory swap, Spark's own overwrite)
or a crash between the data commit and the record write changes the
listing, and the reader falls back to scanning the table.  A valid
record turns a watermark probe into a file stat, and a target read into
a scan with a known schema (no schema-inference job).

The leading underscore keeps Spark's parquet listing from treating the
record as data, as it does for ``_SUCCESS``.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid

from pyspark.sql import DataFrame
from pyspark.sql.types import DataType, StructType

RECORD = "_commit.json"


def _hidden(name: str) -> bool:
    return name.startswith(("_", "."))


def stage(df: DataFrame, path: str, partition_by: list[str] | None = None) -> str:
    """Write ``df`` to a fresh staging directory beside ``path``."""
    staging = f"{path}.staging-{uuid.uuid4().hex[:8]}"
    w = df.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(staging)
    return staging


def swap_in(staging: str, path: str) -> None:
    """Swap a staged table into place.  A local-FS rename is atomic; on
    object stores the same pattern runs through a metastore/table-format
    commit (Delta/Iceberg), which is the production path this emulates."""
    old = f"{path}.old-{uuid.uuid4().hex[:8]}"
    if os.path.exists(path):
        os.rename(path, old)
    os.rename(staging, path)
    if os.path.exists(old):
        shutil.rmtree(old)


def swap_partitions(staging: str, path: str, base: list[list]) -> list[list]:
    """Replace each partition directory of ``path`` that ``staging``
    holds, one rename pair per partition — the commit Spark's dynamic
    partition overwrite performs, without reading and writing the same
    path in one job.

    Returns the token of the table this commit leaves behind, built from
    ``base`` (the token of the files the merge read) minus the swapped
    partitions plus the staged files — not from a fresh listing, so a
    file another writer added meanwhile makes the record stale."""
    staged = snapshot(staging)
    parts = {e[0].split(os.sep, 1)[0] for e in staged}
    token = sorted([e for e in base if e[0].split(os.sep, 1)[0] not in parts] + staged)
    old = f"{path}.old-{uuid.uuid4().hex[:8]}"
    os.makedirs(old)
    for name in sorted(os.listdir(staging)):
        src = os.path.join(staging, name)
        if _hidden(name) or not os.path.isdir(src):
            continue  # _SUCCESS and checksum files
        dest = os.path.join(path, name)
        if os.path.exists(dest):
            os.rename(dest, os.path.join(old, name))
        os.rename(src, dest)
    shutil.rmtree(staging)
    shutil.rmtree(old)
    return token


def append_files(staging: str, path: str) -> None:
    """Move every data file of ``staging`` to the same relative path
    under ``path`` — the commit of an append, which Spark's file
    committer performs the same way.  Spark names each file after its
    write job, so no name collides with a file already there."""
    for e in snapshot(staging):
        dest = os.path.join(path, e[0])
        os.makedirs(os.path.dirname(dest), exist_ok=True)
        os.rename(os.path.join(staging, e[0]), dest)


def partition_columns(path: str, rec: dict | None = None) -> list[str] | None:
    """The table's partition columns (``[]`` for a flat table, ``None``
    for no table): from a current record, else from the top-level
    directory names (``col=value``)."""
    if rec is not None:
        return rec["partition_by"]
    names = [n for n in os.listdir(path) if not _hidden(n)] if os.path.isdir(path) else []
    if not names:
        return None
    cols = {
        n.split("=", 1)[0] if "=" in n and os.path.isdir(os.path.join(path, n)) else None
        for n in names
    }
    return [] if None in cols or len(cols) > 1 else list(cols)


def snapshot(path: str) -> list[list]:
    """Token of the data files under ``path`` (a table directory or a
    single file): sorted ``[relative path, size, mtime_ns]`` entries.
    Hidden names (``_*``, ``.*``) are skipped the way Spark skips them."""
    if os.path.isfile(path):
        st = os.stat(path)
        return [[os.path.basename(path), st.st_size, st.st_mtime_ns]]
    out = []
    for root, dirs, files in os.walk(path):
        dirs[:] = [d for d in dirs if not _hidden(d)]
        for name in files:
            if _hidden(name):
                continue
            full = os.path.join(root, name)
            st = os.stat(full)
            out.append([os.path.relpath(full, path), st.st_size, st.st_mtime_ns])
    return sorted(out)


def write_record(
    path: str,
    schema: StructType,
    partition_by: list[str],
    maxes: dict,
    counts: dict[str, int],
    token: list[list] | None = None,
) -> None:
    """Write the record for the table at ``path``.  ``maxes`` maps a
    column to its Python value (``None`` when unknown: the column is
    left out).  ``token`` is the snapshot the writer's maxes describe;
    without it the directory is listed now, which is right only for a
    directory no one else writes (a staged table).  Written to a temp
    name and renamed, so a crash never leaves a truncated record."""
    internal = {
        c: schema[c].dataType.toInternal(v) for c, v in maxes.items() if v is not None
    }
    rec = {
        "schema": schema.jsonValue(),
        "partition_by": list(partition_by),
        "max": internal,
        "counts": counts,
        "token": snapshot(path) if token is None else token,
    }
    dest = os.path.join(path, RECORD)
    tmp = f"{dest}.tmp-{uuid.uuid4().hex[:8]}"
    with open(tmp, "w") as fh:
        json.dump(rec, fh)
    os.replace(tmp, dest)


def read_record(path: str) -> dict | None:
    """The record of the table at ``path`` if it describes the files
    there now; ``None`` when it is missing, unreadable or out of date.
    The returned dict carries ``schema`` as a :class:`StructType`."""
    try:
        with open(os.path.join(path, RECORD)) as fh:
            rec = json.load(fh)
        if rec["token"] != snapshot(path):
            return None
        rec["schema"] = StructType.fromJson(rec["schema"])
        return rec
    except (OSError, ValueError, KeyError, TypeError):
        return None


def record_max(rec: dict, col: str):
    """The recorded max of ``col`` as the Python value a Spark scan
    would return, or ``None`` when the record does not hold it."""
    if col not in rec["max"] or col not in rec["schema"].names:
        return None
    dtype: DataType = rec["schema"][col].dataType
    return dtype.fromInternal(rec["max"][col])


def remember_max(path: str, rec: dict, col: str, value) -> None:
    """Add a scanned max to a record that is still current, so the next
    probe of ``col`` is free again.  Skipped if the table changed since
    ``rec`` was read; the record keeps ``rec``'s token, so a change
    between the scan and this write still makes it stale."""
    if value is None or read_record(path) is None:
        return
    maxes = {c: record_max(rec, c) for c in rec["max"]}
    maxes[col] = value
    write_record(
        path, rec["schema"], rec["partition_by"], maxes, rec["counts"], rec["token"]
    )
