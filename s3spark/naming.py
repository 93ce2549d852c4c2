"""Key/name manipulation semantics (reference parity layer).

Reproduces the behavioral contract of the reference's naming helpers
(SURVEY.md §2.1 R11-R16):

- ``clean_folder_name``            — download_file.py:129-136
- ``combine_folder_and_file_name`` — download_file.py:139-147
- ``basename``                     — download_file.py:85-91
- ``enumerate_name``               — download_file.py:94-104
  (inserts ``_{n}`` before the FIRST dot: ``archive.tar.gz`` →
  ``archive_1.tar.gz``; no dot → append ``_{n}``)
- ``destination_file_name``        — download_file.py:107-126
  (explicit name wins and is enumerated when a file_number is given;
  otherwise the source basename is used unmodified)

The file verbs plan on the driver with the plain-Python forms.  Two
helpers also have a Spark ``Column`` form for projections over a
listing DataFrame: ``col_basename`` (the ``name`` column of the
distributed listing) and ``col_enumerate_name`` (the
``project_rename_enumerate`` query key).

Divergence D4 (SURVEY.md §8): enumeration applies only when >1 file
matched, standardizing the upload/move behavior.
"""

from __future__ import annotations

import posixpath

from pyspark.sql import Column
from pyspark.sql import functions as F

# ---------------------------------------------------------------- python side


def clean_folder_name(folder_name: str) -> str:
    """Strip leading/trailing '/' and collapse duplicate separators."""
    folder_name = folder_name.strip("/")
    if folder_name:
        folder_name = posixpath.normpath(folder_name)
    return folder_name


def combine_folder_and_file_name(folder_name: str, file_name: str) -> str:
    """Join folder prefix and file name into one normalized key."""
    return posixpath.normpath(
        f"{folder_name}{'/' if folder_name else ''}{file_name}"
    )


def basename(source_full_path: str) -> str:
    """Final path segment of a key/path."""
    return posixpath.basename(source_full_path)


def enumerate_name(destination_file_name: str, file_number: int = 1) -> str:
    """Insert ``_{n}`` before the first dot, or append if no dot."""
    head, sep, tail = destination_file_name.partition(".")
    if sep:
        return f"{head}_{file_number}.{tail}"
    return f"{destination_file_name}_{file_number}"


def destination_file_name(
    *,
    source_full_path: str,
    dest_file_name: str | None,
    file_number: int | None = None,
) -> str:
    """Pick the output file name (explicit > enumerated > source basename)."""
    if dest_file_name:
        if file_number:
            return enumerate_name(dest_file_name, file_number)
        return dest_file_name
    return basename(source_full_path)


def destination_full_path(
    dest_folder_name: str,
    dest_file_name: str | None,
    source_full_path: str,
    file_number: int | None = None,
) -> str:
    """Full output path: cleaned folder + resolved file name."""
    name = destination_file_name(
        source_full_path=source_full_path,
        dest_file_name=dest_file_name,
        file_number=file_number,
    )
    return combine_folder_and_file_name(clean_folder_name(dest_folder_name), name)


# ---------------------------------------------------------------- column side


def col_basename(path: Column) -> Column:
    """Column form of :func:`basename`."""
    return F.element_at(F.split(path, "/"), -1)


def col_enumerate_name(name: Column, n: Column) -> Column:
    """Column form of :func:`enumerate_name` (first-dot insertion).

    Built from substring arithmetic (not regexp_replace) so the exact
    same expression is expressible in the DuckDB oracle.
    """
    pos = F.instr(name, ".")
    with_dot = F.concat(
        F.substring(name, F.lit(1), pos - 1).cast("string"),
        F.lit("_"),
        n.cast("string"),
        F.lit("."),
        F.substring(name, pos + 1, F.lit(2147483647)),
    )
    without_dot = F.concat(name, F.lit("_"), n.cast("string"))
    return F.when(pos > 0, with_dot).otherwise(without_dot)
