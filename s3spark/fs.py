"""File-capability layer: listing, matching, and the four reference
verbs as two functions over Hadoop FileSystem: :func:`transfer`
(download, upload, and move with ``delete_source``) and :func:`remove`.

This is the Spark-native re-expression of the reference's entire
control surface (SURVEY.md §2.1):

- listing        — R5-R8 (download_file.py:167-217, move_file.py:86-103,
                   remove_files.py:83-93, upload_file.py:174-182)
- regex/exact match — R9/R10 (download_file.py:220-229 + exact branches)
- destination projection — R11-R16 (via s3spark.naming)
- transfer (≈download, R17 download_file.py:232-246; ≈upload, R18
  upload_file.py:197-216; move, R19 move_file.py:125-154)
- remove (R20 remove_files.py:96-116)

Design: every listing is one walk, :func:`_walk`.  A small JVM helper
(compiled once per session) walks the prefix and hands it to Python in
bounded slices of joined text, so a listing costs a constant number of
py4j round trips per slice and neither side holds more than a slice in
flight; ``file://`` in tests and ``s3a://`` in production run the same
code.  The helper reads ``listFiles`` on a store and per-folder
``listStatus`` on ``file:``, where ``listFiles`` would fork a process
per file to load permissions nobody reads.

The verbs plan on the driver: one walk, Python ``re.search`` over the
store-relative key (the reference's own matcher, download_file.py:226),
a Python sort, then per file one call to the helper's ``delete`` or
``copy``, through JVM handles resolved once per session
(:class:`_Jvm`).  That copy writes a ``file:`` destination with NIO
and makes a move within one ``file:`` store a rename, because Hadoop's
``create`` forks processes per file there; other stores keep Hadoop's
``FileUtil.copy``.  The verbs start no Spark job.  The *matched-file
set as a DataFrame* (SURVEY.md §3.2) is the listing API's design:
:func:`list_files`, :func:`list_files_auto` (driver table, or a
distributed ``binaryFile`` scan past a threshold) and
:func:`match_files`.  The driver table is a
JVM ``LocalRelation`` built by the same helper in one py4j call
(:func:`local_table`): Catalyst folds the match filter and a
``select`` into a ``LocalTableScan``, so listing, matching and
collecting the paths start no Spark job and no Python worker.

Deliberate divergences from reference bugs (SURVEY.md §8): full
pagination always (D1/D2 — Hadoop's RemoteIterator pages internally),
typed S3NoMatches instead of KeyError on empty prefix (D3), enumerate
only when >1 match (D4), files-only listings (D5).  A copy or delete
that fails part-way raises a typed error carrying the files already
done (:attr:`S3SparkError.completed`).
"""

from __future__ import annotations

import re
import weakref
from collections.abc import Iterable, Iterator
from dataclasses import dataclass

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from s3spark import naming
from s3spark.errors import (
    S3FileNotFound,
    S3InvalidRegex,
    S3NoMatches,
    S3SparkError,
    S3TransferFailed,
)

LISTING_SCHEMA = StructType(
    [
        StructField("path", StringType(), False),
        StructField("name", StringType(), False),
        StructField("size", LongType(), False),
        StructField("mtime", TimestampType(), True),
    ]
)

EXACT_MATCH = "exact_match"
REGEX_MATCH = "regex_match"


# ------------------------------------------------------------------ plumbing


_AUTH_MARKERS = (
    "access denied",
    "accessdenied",
    "status code: 403",
    "status code: 401",
    "invalidaccesskeyid",
    "signaturedoesnotmatch",
    "nocredential",
    "no aws credentials",
    "unable to load credentials",
)


def classify_fs_error(exc: Exception) -> Exception:
    """Map store-layer failures onto the reference error taxonomy:
    auth/credential failures → S3InvalidCredentials (exit 202,
    move_file.py:117-122); everything else passes through."""
    from s3spark.errors import S3InvalidCredentials

    msg = str(exc).lower()
    if any(m in msg for m in _AUTH_MARKERS):
        return S3InvalidCredentials(str(exc))
    return exc


def _disable_checksums(fs) -> None:
    """Turn off .crc sidecars on a Hadoop FileSystem handle.

    Some FileSystem impls reject the checksum setters
    (UnsupportedOperation) — that is tolerable and ignored.  But a
    filesystem that authenticates lazily may surface its credential
    failure HERE, and silence would misreport exit 202 as a generic
    downstream error: classify first, swallow only the non-auth case.
    """
    from s3spark.errors import S3InvalidCredentials

    try:
        fs.setWriteChecksum(False)
        fs.setVerifyChecksum(False)
    except Exception as e:
        classified = classify_fs_error(e)
        if isinstance(classified, S3InvalidCredentials):
            raise classified from e


# Hadoop raises the first for a missing path, NIO (the helper's file:
# writes and renames) the second.
_NOT_FOUND_CLASSES = ("java.io.FileNotFoundException", "java.nio.file.NoSuchFileException")


def _is_not_found(exc: Exception) -> bool:
    return isinstance(exc, Py4JJavaError) and (
        exc.java_exception.getClass().getName() in _NOT_FOUND_CLASSES
    )


# scheme://authority/rest → rest (S3A, hdfs, ...); scheme:/rest (no
# authority; Hadoop renders file:/tmp/x) → /rest.  Shared by the Python
# and Column forms of the store-relative key.
_SCHEME_AUTHORITY = r"^[a-zA-Z][a-zA-Z0-9+.\-]*://[^/]*/"
_SCHEME_ONLY = r"^[a-zA-Z][a-zA-Z0-9+.\-]*:(?=/)"
_SCHEME_AUTHORITY_RE = re.compile(_SCHEME_AUTHORITY)
_SCHEME_ONLY_RE = re.compile(_SCHEME_ONLY)
_FS_KEY_RE = re.compile(r"^([a-zA-Z][a-zA-Z0-9+.\-]*):(?://([^/]*))?")


# Compiled once per session with Janino (bundled with Spark for its code
# generation).  It keeps the per-entry loops inside the JVM: py4j cannot
# cap a RemoteIterator, read FileStatus fields or build a Row without a
# round trip per entry.
_LISTER_JAVA = r"""
import java.io.File;
import java.io.IOException;
import java.io.InputStream;
import java.nio.file.Files;
import java.nio.file.StandardCopyOption;
import java.time.Instant;
import java.util.ArrayDeque;
import java.util.ArrayList;
import org.apache.hadoop.conf.Configuration;
import org.apache.hadoop.fs.FileStatus;
import org.apache.hadoop.fs.FileSystem;
import org.apache.hadoop.fs.FileUtil;
import org.apache.hadoop.fs.LocalFileSystem;
import org.apache.hadoop.fs.Path;
import org.apache.hadoop.fs.PathIsDirectoryException;
import org.apache.hadoop.fs.RemoteIterator;
import org.apache.hadoop.io.IOUtils;
import org.apache.spark.sql.Dataset;
import org.apache.spark.sql.RowFactory;
import org.apache.spark.sql.SparkSession;
import org.apache.spark.sql.types.DataType;
import org.apache.spark.sql.types.LongType;
import org.apache.spark.sql.types.StructType;
import org.apache.spark.sql.types.TimestampType;

public class S3SparkLister {
    public Walk open(FileSystem fs, Path root, boolean recursive) throws IOException {
        return new Walk(fs, root, recursive);
    }

    /**
     * A LocalRelation over rows given as NUL-terminated fields, row after
     * row, each parsed by its schema type: StringType as is, LongType as a
     * decimal, TimestampType as epoch milliseconds.
     */
    public Dataset table(SparkSession spark, StructType schema, String text) {
        DataType[] types = new DataType[schema.length()];
        for (int j = 0; j < types.length; j++) types[j] = schema.fields()[j].dataType();
        ArrayList rows = new ArrayList();
        Object[] row = new Object[types.length];
        int j = 0;
        int at = 0;
        for (int end = text.indexOf('\0'); end >= 0; end = text.indexOf('\0', at)) {
            String field = text.substring(at, end);
            at = end + 1;
            if (types[j] instanceof LongType) row[j] = Long.valueOf(field);
            else if (types[j] instanceof TimestampType) row[j] = Instant.ofEpochMilli(Long.parseLong(field));
            else row[j] = field;
            if (++j == types.length) {
                rows.add(RowFactory.create(row));
                row = new Object[types.length];
                j = 0;
            }
        }
        if (j != 0) throw new IllegalArgumentException("text ends inside a row");
        return spark.createDataFrame(rows, schema);
    }

    /**
     * One file of a transfer, as FileUtil.copy(..., overwrite=true) does
     * it: a destination that is a folder receives the file inside it, and
     * a move deletes the source.  mkParent creates the destination's
     * parent first.  Hadoop's create on file: forks processes per file to
     * set permissions, so a LocalFileSystem destination is written with
     * NIO instead, and a move within that store is a rename that keeps
     * the inode (unless the source or destination is a symbolic link).
     * Returns false where FileUtil.copy does: a move whose source delete
     * found nothing to delete.
     */
    public boolean copy(FileSystem sfs, String src, FileSystem dfs, String dst,
                        boolean move, boolean mkParent, Configuration conf) throws IOException {
        Path from = new Path(src);
        Path to = new Path(dst);
        FileStatus st = sfs.getFileStatus(from);
        if (!(dfs instanceof LocalFileSystem) || st.isDirectory()) {
            if (mkParent && !dfs.exists(to.getParent())) dfs.mkdirs(to.getParent());
            return FileUtil.copy(sfs, st, dfs, to, move, true, conf);
        }
        LocalFileSystem local = (LocalFileSystem) dfs;
        File target = local.pathToFile(to);
        if (mkParent) Files.createDirectories(target.getParentFile().toPath());
        if (target.isDirectory()) {
            to = new Path(to, from.getName());
            target = local.pathToFile(to);
            if (target.isDirectory()) throw new PathIsDirectoryException(to.toString());
        }
        java.nio.file.Path out = target.toPath();
        // a destination link is written through, as Hadoop's create does;
        // a rename would replace it, and would move a source link itself
        // rather than its bytes
        boolean viaLink = Files.isSymbolicLink(out);
        boolean done = true;
        if (move && sfs == dfs && !viaLink
                && !Files.isSymbolicLink(local.pathToFile(from).toPath())) {
            Files.move(local.pathToFile(from).toPath(), out, StandardCopyOption.REPLACE_EXISTING);
            dropChecksum(local, from);
        } else {
            InputStream in = sfs.open(from);
            try {
                if (viaLink) IOUtils.copyBytes(in, Files.newOutputStream(out), 65536, true);
                else Files.copy(in, out, StandardCopyOption.REPLACE_EXISTING);
            } finally {
                in.close();
            }
            if (move) done = sfs.delete(from, true);
        }
        // a sidecar left beside the new bytes would no longer match them
        dropChecksum(local, to);
        return done;
    }

    /** One file of a remove, without a py4j round trip for its Path. */
    public boolean delete(FileSystem fs, String path) throws IOException {
        return fs.delete(new Path(path), false);
    }

    /** Deletes a file's .name.crc sidecar, as ChecksumFileSystem.delete does. */
    private static void dropChecksum(LocalFileSystem fs, Path p) throws IOException {
        Files.deleteIfExists(fs.pathToFile(fs.getChecksumFile(p)).toPath());
    }

    /** The files under a root, handed out a bounded slice at a time. */
    public static class Walk {
        private final FileSystem fs;
        private final boolean recursive;
        private RemoteIterator files;
        private final ArrayDeque todo = new ArrayDeque();

        Walk(FileSystem fs, Path root, boolean recursive) throws IOException {
            this.fs = fs;
            this.recursive = recursive;
            // listFiles builds a LocatedFileStatus per file, which reads
            // its permissions; on file: without libhadoop that forks
            // `ls -ld` per file.  listStatus of each folder lists the same
            // files (checksum sidecars filtered the same way) and loads
            // no permissions.
            if ("file".equals(fs.getScheme())) push(fs.listStatus(root));
            else files = fs.listFiles(root, recursive);
        }

        private void push(FileStatus[] found) {
            for (int i = found.length - 1; i >= 0; i--) todo.push(found[i]);
        }

        private FileStatus next() throws IOException {
            if (files != null) return files.hasNext() ? (FileStatus) files.next() : null;
            while (!todo.isEmpty()) {
                FileStatus s = (FileStatus) todo.pop();
                if (!s.isDirectory()) return s;
                if (recursive) push(fs.listStatus(s.getPath()));
            }
            return null;
        }

        /** Up to n more files as "path NUL length NUL mtime NUL" each. */
        public String take(int n) throws IOException {
            StringBuilder out = new StringBuilder();
            for (int i = 0; i < n; i++) {
                FileStatus s = next();
                if (s == null) break;
                out.append(s.getPath()).append('\0').append(s.getLen()).append('\0')
                    .append(s.getModificationTime()).append('\0');
            }
            return out.toString();
        }
    }
}
"""


class _Jvm:
    """Hadoop handles for one session, resolved once.

    Every ``jvm.org.apache...`` attribute chain costs one reflection
    round trip per dotted segment, and every static-method lookup one
    more; resolved once, a copy or a delete costs one py4j call (the
    helper's ``copy`` or ``delete``).
    One checksum-disabled FileSystem is kept per (scheme, authority):
    Hadoop caches the instance itself, so only the calls around it
    are saved.
    """

    def __init__(self, spark: SparkSession) -> None:
        jvm = spark._jvm
        self.conf = spark._jsc.hadoopConfiguration()
        self.Path = jvm.org.apache.hadoop.fs.Path
        self.compile_regex = jvm.java.util.regex.Pattern.compile
        compiler = jvm.org.codehaus.janino.SimpleCompiler()
        compiler.setParentClassLoader(self.conf.getClassLoader())
        compiler.cook(_LISTER_JAVA)
        self.lister = compiler.getClassLoader().loadClass("S3SparkLister").newInstance()
        self.table = self.lister.table
        self._fs: dict[tuple[str, str], object] = {}

    def fs(self, url: str):
        """FileSystem for a URL's scheme and authority (file://, s3a://,
        ...; a bare path gets the default FileSystem).

        Checksum sidecars (.crc) are disabled: the reference moves
        opaque bytes 1:1; LocalFileSystem's checksum files would pollute
        listings.  Connection/auth failures surface as
        S3InvalidCredentials (202).
        """
        m = _FS_KEY_RE.match(url)
        key = (m.group(1).lower(), m.group(2) or "") if m else ("", "")
        fs = self._fs.get(key)
        if fs is None:
            try:
                fs = self.Path(url).getFileSystem(self.conf)
            except Exception as e:  # Py4JJavaError carries the JVM message
                raise classify_fs_error(e) from e
            _disable_checksums(fs)
            self._fs[key] = fs
        return fs


_SESSIONS: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def _jvm(spark: SparkSession) -> _Jvm:
    h = _SESSIONS.get(spark)
    if h is None:
        h = _SESSIONS[spark] = _Jvm(spark)
    return h


# ------------------------------------------------------------------- listing

# Entries per py4j string: a slice of ~4k entries is well under 1 MB of
# text, so neither side ever holds more than one slice in flight.
_SLICE = 4096


def _walk(
    spark: SparkSession, url: str, recursive: bool, limit: int | None = None
) -> Iterator[tuple[str, int, int]]:
    """The one listing walk: ``(path, length, modification_ms)`` per file
    under a prefix, files only (D5), fully paginated (D1/D2 — Hadoop's
    RemoteIterator pages through S3 LIST responses), at most ``limit``
    entries.

    The JVM walks the prefix (``_LISTER_JAVA``) and hands over
    ``_SLICE`` entries per round trip as NUL-separated fields (a key
    cannot hold NUL), so a listing costs a constant number of py4j
    calls per slice and memory for one slice on the JVM side.  Raises
    :class:`S3FileNotFound` (exit 201) on a missing prefix.
    """
    h = _jvm(spark)
    fs = h.fs(url)
    try:
        walk = h.lister.open(fs, h.Path(url), recursive)
        while limit is None or limit > 0:
            n = _SLICE if limit is None else min(_SLICE, limit)
            fields = walk.take(n).split("\0")[:-1]
            for i in range(0, len(fields), 3):
                yield fields[i], int(fields[i + 1]), int(fields[i + 2])
            got = len(fields) // 3
            if got < n:
                return
            if limit is not None:
                limit -= got
    except Py4JJavaError as e:
        if _is_not_found(e):
            raise S3FileNotFound(f"no such path: {url}") from e
        classified = classify_fs_error(e)
        if classified is e:
            raise
        raise classified from e


def local_table(spark: SparkSession, rows: Iterable[tuple], schema: StructType) -> DataFrame:
    """A DataFrame over rows the driver holds, built in the JVM as a
    ``LocalRelation`` by one py4j call.

    ``spark.createDataFrame`` on a Python list builds a pickled RDD that
    Python workers re-serialize, so even a filter and collect over a
    few rows start a job.  Over a ``LocalRelation``, Catalyst folds
    projections and filters into a ``LocalTableScan`` that collects on
    the driver with no job; a plan it cannot fold (a sort, a broadcast)
    runs its tasks without a Python worker.  Fields are
    ``StringType``, ``LongType`` or ``TimestampType`` (given as epoch
    milliseconds, an instant, so no timezone applies), never null, and
    hold no NUL character: the rows cross py4j as NUL-terminated text.
    """
    text = "".join(f"{v}\0" for row in rows for v in row)
    jspark = spark._jsparkSession
    jdf = _jvm(spark).table(jspark, jspark.parseDataType(schema.json()), text)
    return DataFrame(jdf, spark)


def _listing_df(spark: SparkSession, entries: Iterable[tuple[str, int, int]]) -> DataFrame:
    return local_table(
        spark,
        ((p, naming.basename(p), size, mtime) for p, size, mtime in entries),
        LISTING_SCHEMA,
    )


def list_paths(
    spark: SparkSession,
    url: str,
    suffix: str | None = None,
    recursive: bool = True,
    key_pattern: re.Pattern | None = None,
) -> list[str]:
    """Driver-side list of file paths under a prefix, for callers that
    need a plain Python list (manifest diffs, commit-file enumeration,
    the verbs' planning), not a DataFrame.

    One :func:`_walk` for every scheme: a bare local path, ``file:`` and
    ``s3a://`` all list through the Hadoop FileSystem, at a constant
    number of py4j round trips per slice.  Paths come back as Hadoop
    renders them (``file:/tmp/x`` for a bare ``/tmp/x``).  ``suffix``
    filters by file-name suffix (e.g. ``".parquet"``), ``key_pattern``
    by ``re.search`` over the :func:`key_relative` key; both filter
    slice by slice, so the driver holds only the kept paths.  Raises
    :class:`S3FileNotFound` on a missing prefix, like :func:`list_files`.
    """
    return [
        p
        for p, _size, _mtime in _walk(spark, url, recursive)
        if (suffix is None or p.endswith(suffix))
        and (key_pattern is None or key_pattern.search(key_relative(p)))
    ]


def list_files(spark: SparkSession, url: str, recursive: bool = True) -> DataFrame:
    """Listing DataFrame ``(path, name, size, mtime)`` for a prefix.

    Driver-side metadata walk (:func:`_walk`) into a JVM
    ``LocalRelation`` (:func:`local_table`), >1000 keys handled
    correctly (fixes reference bugs D1/D2). Files only (D5), hidden
    names (``_x``, ``.x``) included. Raises :class:`S3FileNotFound`
    (exit 201) on a missing prefix, matching move_file.py:100-103.
    """
    return _listing_df(spark, _walk(spark, url, recursive))


# Above this many entries a listing DataFrame is built by a distributed
# scan instead of a driver table.  A bound on driver memory and on the
# probe's LIST work, not a speed switch: measured, the driver route's
# per-entry cost is the lower one (PLANS.md "Driver listing threshold").
DRIVER_LISTING_THRESHOLD = 10_000


def list_files_auto(
    spark: SparkSession,
    url: str,
    threshold: int = DRIVER_LISTING_THRESHOLD,
    recursive: bool = True,
) -> DataFrame:
    """Listing DataFrame with automatic driver/distributed routing.

    A probe walk (:func:`_walk`) stops after ``threshold + 1``
    entries: a prefix that fits becomes a driver table, a JVM
    ``LocalRelation`` (:func:`local_table`) whose filter, select and
    collect start no Spark job and no Python worker; a longer one is
    re-listed by :func:`list_files_distributed`.  Whatever the prefix
    size, the probe holds at most ``threshold + 1`` entries on the
    driver and reads only the LIST pages that hold them (~10 S3 pages
    at the default).  ``recursive`` is honored on both routes.

    The two routes differ on hidden names: the driver route keeps
    ``_meta.csv`` and ``.hidden.csv``, the distributed route drops
    them (see :func:`list_files_distributed`).  The verbs do not use
    this function and always keep them.
    """
    entries = list(_walk(spark, url, recursive, limit=threshold + 1))
    if len(entries) > threshold:
        return list_files_distributed(spark, url, recursive=recursive)
    return _listing_df(spark, entries)


def list_files_distributed(
    spark: SparkSession, url: str, recursive: bool = True
) -> DataFrame:
    """Listing DataFrame via the ``binaryFile`` source: file discovery
    uses Spark's InMemoryFileIndex (parallelized past
    ``spark.sql.sources.parallelPartitionDiscovery.threshold``) and the
    scan is executed by tasks — the 100 TB path for huge prefixes.
    Column pruning drops ``content``, so no file bytes are read.

    Spark's file index skips hidden names, so this route silently
    drops files whose name starts with ``_`` or ``.`` (``_meta.csv``,
    ``.hidden.csv``); :func:`list_files` keeps them.
    """
    return (
        spark.read.format("binaryFile")
        .option("recursiveFileLookup", "true" if recursive else "false")
        .load(url)
        .select(
            F.col("path"),
            naming.col_basename(F.col("path")).alias("name"),
            F.col("length").alias("size"),
            F.col("modificationTime").alias("mtime"),
        )
    )


# ------------------------------------------------------------------ matching


def key_relative(path: str) -> str:
    """Store-relative text of a listing URL — what the reference's regex
    actually sees: the bucket-relative key on S3 (download_file.py:226
    matches ``folder/file`` keys, never ``s3://bucket/...``) or the
    absolute local path on upload (upload_file.py:191 globs absolute
    paths, no scheme). ``s3a://bucket/key`` → ``key``;
    ``file:/tmp/x`` → ``/tmp/x``. Keeps scheme/bucket text out of the
    match so anchored patterns (``^data/``) and bucket-name overlaps
    behave exactly like the reference."""
    return _SCHEME_ONLY_RE.sub("", _SCHEME_AUTHORITY_RE.sub("", path, count=1), count=1)


def col_key_relative(path):
    """Column form of :func:`key_relative`."""
    rel = F.regexp_replace(path, _SCHEME_AUTHORITY, "")
    return F.regexp_replace(rel, _SCHEME_ONLY, "")


def match_files(
    listing: DataFrame,
    pattern: str,
    match_type: str = REGEX_MATCH,
) -> DataFrame:
    """Filter a listing like the reference matches keys (R9/R10).

    ``regex_match`` is an unanchored search (→ ``rlike``) over the
    store-relative key text (download_file.py:226 sees the
    bucket-relative key; upload_file.py:191 the absolute local path —
    see :func:`col_key_relative`); ``exact_match`` compares the
    full path. The pattern runs as a Java regex, so it is validated
    as one: a bad pattern, or Python-only syntax such as
    ``(?P<name>...)``, raises :class:`S3InvalidRegex` (203).  The
    verbs match with Python ``re`` and accept the latter.
    """
    if match_type == REGEX_MATCH:
        try:
            _jvm(listing.sparkSession).compile_regex(pattern)
        except Exception as e:  # PatternSyntaxException, as PySpark raises it
            raise S3InvalidRegex(f"invalid regex {pattern!r}: {e}") from e
        return listing.filter(col_key_relative(F.col("path")).rlike(pattern))
    # exact match: Hadoop renders URIs with a scheme (file:/x, s3a://b/k);
    # accept the raw path too so callers can pass plain absolute paths
    stripped = F.regexp_replace(
        F.col("path"), r"^[a-zA-Z][a-zA-Z0-9+.\-]*:/{0,2}", "/"
    )
    return listing.filter(
        (F.col("path") == pattern) | (stripped == F.lit(pattern))
    )


def _collect_matches(
    spark: SparkSession,
    source_url: str,
    source_folder: str,
    source_file: str,
    match_type: str,
) -> list[str]:
    """Matched source paths, sorted — the verbs' planning step.

    One :func:`list_paths` walk filtered by Python ``re.search`` over
    each :func:`key_relative` key (the reference's matcher), so the
    driver holds the matches, not the prefix; then a Python sort:
    code-point order equals Spark's UTF-8 byte order, so the ``name_i``
    numbering is the one a DataFrame ``orderBy`` gave.  No DataFrame,
    no Spark job.
    """
    folder = naming.clean_folder_name(source_folder)
    base = f"{source_url.rstrip('/')}/{folder}" if folder else source_url.rstrip("/")
    if match_type == EXACT_MATCH:
        full = f"{base.rstrip('/')}/{source_file}"
        h = _jvm(spark)
        if not h.fs(full).exists(h.Path(full)):
            raise S3FileNotFound(f"no such file: {full}")
        return [full]
    try:
        rx = re.compile(source_file)
    except re.error as e:
        # the reference lists before it matches: a missing prefix (201)
        # is reported ahead of a bad pattern
        next(_walk(spark, base, True, limit=1), None)
        raise S3InvalidRegex(f"invalid regex {source_file!r}: {e}") from e
    paths = sorted(list_paths(spark, base, key_pattern=rx))
    if not paths:
        raise S3NoMatches(
            f"no files matching {source_file!r} under {base} "
            f"(reference exit 1, upload_file.py:241-243)"
        )
    return paths


# -------------------------------------------------------------------- verbs


@dataclass
class VerbResult:
    """What a verb did: (source, destination) per file (dest=None for remove)."""

    files: list[tuple[str, str | None]]

    @property
    def count(self) -> int:
        return len(self.files)


# a URL with nothing but slashes after its scheme and authority
_ROOT_RE = re.compile(r"^(?:[a-zA-Z][a-zA-Z0-9+.\-]*:)?(?://[^/]*)?/*$")


def _copy(
    spark: SparkSession,
    src: str,
    dst: str,
    delete_source: bool,
    made_parents: set[str],
) -> None:
    """One file copied (and its source deleted when moving) by the JVM
    helper in one py4j call.  The destination parent is created once
    per distinct parent, tracked in ``made_parents`` across a verb's
    files (reference makedirs, download_file.py:261-263)."""
    h = _jvm(spark)
    parent = dst.rsplit("/", 1)[0]
    make_parent = parent not in made_parents and not _ROOT_RE.match(parent)
    made_parents.add(parent)
    if not h.lister.copy(h.fs(src), src, h.fs(dst), dst, delete_source, make_parent, h.conf):
        raise S3FileNotFound(f"copy failed: {src} -> {dst}")


def _delete(spark: SparkSession, path: str) -> None:
    """One file deleted by the JVM helper in one py4j call."""
    h = _jvm(spark)
    h.lister.delete(h.fs(path), path)


def _verb_error(exc: Exception) -> S3SparkError:
    """A per-file failure as a typed error: auth → 202, a vanished
    source → 201, anything else → :class:`S3TransferFailed` (exit 1)."""
    if isinstance(exc, S3SparkError):
        return exc
    classified = classify_fs_error(exc)
    if isinstance(classified, S3SparkError):
        return classified
    if _is_not_found(exc):
        return S3FileNotFound(str(exc))
    return S3TransferFailed(str(exc))


def _each_file(pairs: list, step) -> None:
    """Run ``step(pair)`` per file in order.  On a failure at file k,
    raise the typed error with ``completed`` = the k-1 pairs done and
    ``planned`` = the number of files the verb set out to handle."""
    for k, pair in enumerate(pairs):
        try:
            step(pair)
        except Exception as e:
            err = _verb_error(e)
            err.completed, err.planned = tuple(pairs[:k]), len(pairs)
            if err is e:
                raise
            raise err from e


def transfer(
    spark: SparkSession,
    *,
    source_url: str,
    source_file: str,
    source_folder: str = "",
    match_type: str = EXACT_MATCH,
    dest_url: str,
    dest_folder: str = "",
    dest_file: str | None = None,
    delete_source: bool = False,
) -> VerbResult:
    """One Hadoop copy per match: reference download (R17) and upload
    (R18), and with ``delete_source`` move (R19).  Hadoop FileSystem is
    symmetric, so a direction is only a pair of URLs (multipart via
    fs.s3a.*).

    Destinations follow the reference's R16 naming
    (:func:`naming.destination_full_path`): an explicit ``dest_file``
    is enumerated iff >1 match (D4), else the source basename is kept;
    the sorted matches fix the ``name_i`` numbering.  A move within
    one ``file:`` store is a rename per file (a symbolic link is copied
    and deleted); any other move is copy + delete per file.  Either way it runs file by file, non-atomic
    exactly like S3 COPY+DELETE (move_file.py:125-154): a failure at
    file k leaves files k..N at the source and reports files 1..k-1 as
    ``completed``."""
    paths = _collect_matches(spark, source_url, source_folder, source_file, match_type)
    root, many = dest_url.rstrip("/"), len(paths) > 1
    pairs = []
    for i, src in enumerate(paths, start=1):
        key = naming.destination_full_path(dest_folder, dest_file, src, i if many else None)
        pairs.append((src, f"{root}/{key}"))
    made: set[str] = set()
    _each_file(pairs, lambda p: _copy(spark, p[0], p[1], delete_source, made))
    return VerbResult(files=pairs)


def remove(
    spark: SparkSession,
    *,
    source_url: str,
    source_file: str,
    source_folder: str = "",
    match_type: str = EXACT_MATCH,
) -> VerbResult:
    """≈ reference remove (R20): delete per match. Exact-match remove
    verifies existence first (divergence D7 → typed 201)."""
    paths = _collect_matches(spark, source_url, source_folder, source_file, match_type)
    files = [(p, None) for p in paths]
    _each_file(files, lambda f: _delete(spark, f[0]))
    return VerbResult(files=files)
