"""Commits for the parquet sinks: staged writes, journaled directory
swaps, and the commit record — what the last merge already knows about
its table.

Every keyed sink commits the same way: it writes its slice to a staging
directory beside the table (:func:`stage`), then renames it into place —
the whole table directory (:func:`swap_in`), or each partition directory
the slice holds (:func:`swap_partitions`), or, for an append, each new
file (:func:`append_files`).  No sink writes into a live table path.
Partition compaction (:func:`.layout.compact_partitions`) commits its
rewritten partitions through :func:`swap_partitions` as well.

A swap is journaled before its first rename: ``<table>.swap.json`` names
the staging directory, the directory that collects the replaced
partitions, and the partitions to swap in and to drop.  A staged
partition directory that holds no data file drains its partition (its
keys moved away), so the table's directory for it is dropped after the
swaps.  Each step checks what is already done, so the journal can be
replayed from any crash point: :func:`recover` rolls an interrupted swap
forward, and the sinks call it before they read a table.  A crash leaves
the old table or, once the journal is replayed, the new one — never a
partition missing or held twice.

The merge core (:mod:`.upsert`) writes ``_commit.json`` as the LAST step
of a commit.  It holds the table's schema, its partition columns, the
max of every timestamp/date key column, the commit's counts, and a
snapshot token: the (relative path, size, mtime) of every data file the
commit left behind.

Readers use the record only while its token equals the directory
listing, so the record can be stale but never wrong: a writer that
bypasses the core (an append, Spark's own overwrite) or a crash between
the swap and the record write changes the listing, and the reader falls
back to scanning the table.  A valid record turns a watermark probe into
a file stat, and a target read into a scan with a known schema (no
schema-inference job).

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


# Characters Spark escapes in partition directory names (its
# ExternalCatalogUtils.escapePathName): this set and the control
# characters become %XX; space and non-ASCII stay as they are.
_PATH_ESCAPE_CHARS = set('"#%\'*/:=?\\\x7f{[]^')


def partition_dir(col: str, value) -> str:
    """The directory name Spark gives the partition ``col = value``."""
    if value is None or value == "":
        return f"{col}=__HIVE_DEFAULT_PARTITION__"
    s = ("true" if value else "false") if isinstance(value, bool) else str(value)
    esc = "".join(
        f"%{ord(ch):02X}" if ch in _PATH_ESCAPE_CHARS or "\x00" < ch < " " else ch
        for ch in s
    )
    return f"{col}={esc}"


def _journal(path: str) -> str:
    return f"{path}.swap.json"


def _swap(path: str, staging: str, parts: list[str] | None = None, drops: list[str] = ()) -> None:
    """Journal a swap of ``staging`` into ``path``, then roll it forward.
    ``parts`` names the partition directories to swap in (``None``: the
    whole table), ``drops`` the table's partition directories to drop."""
    old = f"{path}.old-{uuid.uuid4().hex[:8]}"
    entry = {
        "staging": os.path.basename(staging),
        "old": os.path.basename(old),
        "parts": parts,
        "drop": list(drops),
    }
    tmp = f"{_journal(path)}.tmp-{uuid.uuid4().hex[:8]}"
    with open(tmp, "w") as fh:
        json.dump(entry, fh)
    os.replace(tmp, _journal(path))
    _roll_forward(path, entry)


def _roll_forward(path: str, entry: dict) -> None:
    """Finish the journaled swap ``entry``: each step is skipped when
    done, so a replay after a crash at any point converges."""
    parent = os.path.dirname(path)
    staging = os.path.join(parent, entry["staging"])
    old = os.path.join(parent, entry["old"])
    if entry["parts"] is None:
        moves = [(staging, path, old)]
    else:
        os.makedirs(old, exist_ok=True)
        moves = [(os.path.join(staging, n), os.path.join(path, n), os.path.join(old, n))
                 for n in entry["parts"]]
    for src, dest, trash in moves:
        if os.path.exists(src):  # not swapped in yet
            if os.path.exists(dest):
                os.rename(dest, trash)
            os.rename(src, dest)
    for name in entry["drop"]:
        if os.path.exists(os.path.join(path, name)):
            os.rename(os.path.join(path, name), os.path.join(old, name))
    shutil.rmtree(staging, ignore_errors=True)
    shutil.rmtree(old, ignore_errors=True)
    os.remove(_journal(path))


def recover(path: str) -> None:
    """Roll forward a swap into ``path`` that a crashed writer journaled
    but did not finish; a no-op when there is none."""
    try:
        with open(_journal(path)) as fh:
            entry = json.load(fh)
    except FileNotFoundError:
        return
    _roll_forward(path, entry)


def swap_in(staging: str, path: str) -> None:
    """Swap a staged table into place, journaled.  A local-FS rename is
    atomic; on object stores the same pattern runs through a
    metastore/table-format commit (Delta/Iceberg)."""
    _swap(path, staging)


def swap_partitions(staging: str, path: str, base: list[list]) -> list[list]:
    """Replace each partition directory of ``path`` that ``staging``
    holds, one journaled swap for all of them — the commit Spark's
    dynamic partition overwrite performs, without reading and writing
    the same path in one job.  A staged directory with no data file
    drops the table's directory of that partition.

    Returns the token of the table this commit leaves behind, built from
    ``base`` (the token of the files the merge read) minus the replaced
    partitions plus the staged files — not from a fresh listing, so a
    file another writer added meanwhile makes the record stale."""
    staged = snapshot(staging)
    names = [n for n in sorted(os.listdir(staging))
             if not _hidden(n) and os.path.isdir(os.path.join(staging, n))]
    full = {e[0].split(os.sep, 1)[0] for e in staged}
    token = sorted([e for e in base if e[0].split(os.sep, 1)[0] not in names] + staged)
    drops = [n for n in names if n not in full and os.path.isdir(os.path.join(path, n))]
    _swap(path, staging, [n for n in names if n in full], drops)
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
