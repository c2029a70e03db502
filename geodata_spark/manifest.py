"""The one parquet read of the package, and the file listings and
``_manifest.json`` it reads by.

Every package read of parquet is :func:`read_parquet` (its listing:
:meth:`Table.read`).  Two costs come from table metadata, not data:

- **Schema inference.** ``spark.read.parquet(path)`` without a schema
  runs a Spark job that reads the files' footers.  The read instead
  reads with a recorded schema, and runs no job, when the scan's own
  listing, ``(relative path, size, modification time in ms)`` per file,
  equals the recorded one.  It looks in two places:

  1. the table's ``_manifest.json``, which :meth:`Table.write` records
     after a package writer's commit: the data schema (partition
     columns left out, so their types still come from path inference)
     and the file list;
  2. otherwise, an in-process record of the last read of the same
     qualified path, ``basePath`` pattern and values of the session
     confs that parquet schema conversion reads (:data:`INFER_CONFS`).
     The record holds the data schema and a sha256 of the listing, so
     its size does not grow with the file count; at most
     :data:`READ_CACHE_LIMIT` are kept, least recently used out.

  Any other listing (a first read, a foreign write, a crash between a
  commit and its manifest write) infers the schema in one job,
  labelled ``infer the schema of <path>``, and records it.  A recorded
  schema with a column named like a partition column of the scan is
  not used: Spark would order the columns unlike the inferred read.
- **Partition fingerprints.** :func:`partition_files` groups a bare
  scan's listing by partition directory, so ``lineage`` can fingerprint
  partitions by their files without reading a row.

:func:`parquet_rows` keeps a row count in the same record, so counting
unchanged files runs no job either.

Known failure mode: a file rewritten in place with the same size in the
same millisecond keeps its listing, so a later read uses the old
record's schema and row count.  This is the contract of
``lineage.partition_fingerprint``'s file fingerprint too.

Every listing comes from Hadoop ``FileStatus`` text: one ``mkString`` of
the file index's ``allFiles()``, or of ``listStatus`` over the
directories a writer rewrote.  So the py4j round trips do not grow with
the file count.  The manifest is written through the table's Hadoop
``FileSystem``: a hidden temporary file, then a rename over the old one.
A reader never sees half a manifest; one that reads between the delete
of the old file and the rename sees none and infers.
"""

from __future__ import annotations

import hashlib
import json
import re
import threading
import uuid
from collections import OrderedDict
from dataclasses import dataclass

from py4j.protocol import Py4JError, Py4JJavaError
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from geodata_spark.fixpoint import job_description

NAME = "_manifest.json"
# Spark's directory value for NULL (and the empty string)
NULL_KEY = "__HIVE_DEFAULT_PARTITION__"
# the characters Spark escapes in a partition directory name
# (``ExternalCatalogUtils.escapePathName``), as %XX
_ESCAPED = frozenset(map(chr, range(1, 32))) | frozenset('"#%\'*/:=?\\\x7f{[]^')
_UNESCAPE = re.compile(r"%([0-9A-Fa-f]{2})")
_STATUS = re.compile(
    r"\w+\{path=(.+?); isDirectory=(true|false)"
    r"(?:; length=(\d+); replication=\d+; blocksize=\d+)?; modification_time=(\d+); "
)
_INTEGRAL_OR_STRING = ("byte", "short", "integer", "long", "string")
# the session confs parquet schema inference reads (``ParquetToSparkSchemaConverter``,
# summary files, schema merging, name matching): part of a record's key
INFER_CONFS = (
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.parquet.respectSummaryFiles",
    "spark.sql.caseSensitive",
)
# in-process read records kept, least recently used out
READ_CACHE_LIMIT = 256

# (path relative to the table root, size in bytes, modification time in ms)
File = tuple[str, int, int]


def escape(value: str) -> str:
    """A partition value as Spark names its directory."""
    return "".join(f"%{ord(c):02X}" if c in _ESCAPED else c for c in value)


def unescape(name: str) -> str:
    """The value a partition directory name stands for."""
    return _UNESCAPE.sub(lambda m: chr(int(m.group(1), 16)), name)


def part_dir(col: str, value: str | None) -> str:
    """The directory Spark writes partition ``value`` (as text) to."""
    return f"{escape(col)}={escape(value) if value else NULL_KEY}"


def _hidden(name: str) -> bool:
    """Spark's rule for files a table scan skips."""
    skip = (name.startswith("_") and "=" not in name) or name.startswith(".") or name.endswith("._COPYING_")
    return skip and not name.startswith(("_common_metadata", "_metadata"))


def _parse_listing(text: str, root: str) -> list[File] | None:
    """The visible files of ``FileStatus`` lines under ``root`` (a
    qualified path; a file root lists as itself, with relative path
    ``""``); None when a line does not parse or lies outside."""
    out, root = [], root.rstrip("/")
    for line in filter(None, text.split("\n")):
        m = _STATUS.match(line)
        if m is None or not (m.group(1) == root or m.group(1).startswith(root + "/")):
            return None
        if m.group(2) == "true":
            continue
        rel = m.group(1)[len(root) + 1:]
        if not any(_hidden(seg) for seg in rel.split("/") if seg):
            out.append((rel, int(m.group(3)), int(m.group(4))))
    return sorted(out)


def _relation(df: DataFrame):
    """The relation of a bare file scan whose files Spark lists itself
    (the analyzed plan is one ``HadoopFsRelation`` over an
    ``InMemoryFileIndex``), else None."""
    try:
        relation = df._jdf.queryExecution().analyzed().relation()
        index = relation.location()
    except Py4JError:  # no relation, or not a file relation
        return None
    return relation if index.getClass().getSimpleName() == "InMemoryFileIndex" else None


def _file_index(df: DataFrame):
    relation = _relation(df)
    return None if relation is None else relation.location()


def partition_files(df: DataFrame, col: str) -> dict[str, list[File]] | None:
    """The files of a bare scan with one root, grouped by the value
    (unescaped; :data:`NULL_KEY` for NULL) of its integral or string
    directory partition column ``col``; None for any other source."""
    index = _file_index(df)
    if index is None or index.rootPaths().size() != 1:
        return None
    types = {f["name"]: f["type"] for f in json.loads(index.partitionSchema().json())["fields"]}
    if types.get(col) not in _INTEGRAL_OR_STRING:
        return None
    files = _parse_listing(index.allFiles().mkString("\n"), index.rootPaths().apply(0).toString())
    if files is None:
        return None
    head, out = escape(col) + "=", {}
    for f in files:
        seg = next((s for s in f[0].split("/")[:-1] if s.startswith(head)), None)
        if seg is None:
            return None
        out.setdefault(unescape(seg[len(head):]), []).append(f)
    return out


@dataclass
class _Record:
    """What a read of one listing learned: the data schema, a sha256 of
    the listing and, once counted, the row count."""

    schema: StructType
    digest: str
    rows: int | None = None


_RECORDS: "OrderedDict[tuple, _Record]" = OrderedDict()
_RECORDS_LOCK = threading.Lock()


def _digest(files: list[File]) -> str:
    return hashlib.sha256(repr(files).encode()).hexdigest()


def _lower(names) -> set[str]:
    """Names as Spark's case-insensitive resolver compares them (also
    used when the session is case-sensitive: it only makes the overlap
    test stricter)."""
    return {n.lower() for n in names}


def _get(key: tuple) -> _Record | None:
    with _RECORDS_LOCK:
        rec = _RECORDS.get(key)
        if rec is not None:
            _RECORDS.move_to_end(key)
        return rec


def _keep(key: tuple, schema: StructType, files: list[File]) -> _Record:
    """Record ``schema`` for the listing ``files`` under ``key``; the
    row count survives when the listing is unchanged."""
    digest = _digest(files)
    with _RECORDS_LOCK:
        old = _RECORDS.pop(key, None)
        rows = old.rows if old is not None and old.digest == digest else None
        rec = _RECORDS[key] = _Record(schema, digest, rows)
        while len(_RECORDS) > READ_CACHE_LIMIT:
            _RECORDS.popitem(last=False)
        return rec


def _listing(df: DataFrame, root: str) -> tuple[list[File] | None, set[str]]:
    """The files a bare scan lists, relative to ``root``, and its
    partition column names (lower case)."""
    index = _file_index(df)
    if index is None:
        return None, set()
    parts = json.loads(index.partitionSchema().json())["fields"]
    return _parse_listing(index.allFiles().mkString("\n"), root), _lower(f["name"] for f in parts)


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` with no schema-inference job while
    the files are unchanged: :meth:`Table.read`, the package's one
    parquet read.  ``path`` is a table directory or one file."""
    return Table(spark, path).read()[0]


def parquet_rows(spark: SparkSession, path: str) -> int:
    """The row count of the parquet at ``path``; no job runs while its
    files are unchanged (:meth:`Table.rows`)."""
    return Table(spark, path).rows()


class Table:
    """A table directory (or one parquet file) on its Hadoop file
    system: its manifest, and reads and listings relative to its
    qualified root."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark, self.root = spark, root
        self._path = spark._jvm.org.apache.hadoop.fs.Path
        path = self._path(root)
        self.fs = path.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
        self.qroot = self.fs.makeQualified(path).toString()

    def load(self) -> dict | None:
        """The manifest, or None when missing or unparsable."""
        mpath = self._path(f"{self.qroot}/{NAME}")
        try:
            # a missing file costs one call here, not an exception's round trips
            if not self.fs.exists(mpath):
                return None
            stream = self.fs.open(mpath)
            try:
                data = stream.readAllBytes()
            finally:
                stream.close()
        except Py4JJavaError:  # gone since, or a checksum mismatch
            return None
        try:
            doc = json.loads(data)
            return {
                "schema": StructType.fromJson(doc["schema"]),
                "files": sorted((str(p), int(n), int(t)) for p, n, t in doc["files"]),
            }
        except (ValueError, KeyError, TypeError):  # not JSON, or not a manifest
            return None

    def read(self, pattern: str | None = None) -> tuple[DataFrame, list[File] | None]:
        """Read the parquet table or file (only the paths matching
        ``pattern`` under the root, with the root as ``basePath``, when
        given) and return it with its listing (None when it could not
        be parsed).

        With the schema of the manifest, else of the in-process record,
        when its file list equals the scan's: no job runs.  Otherwise
        the schema is inferred (one job, labelled) and recorded.  Same
        columns (names, order, types, nullability) and rows as
        ``spark.read.parquet`` either way; see the module docstring for
        the one failure mode.  Raises what ``spark.read.parquet`` raises
        for a missing path."""
        return self._read(pattern)[:2]

    def rows(self) -> int:
        """The row count of the table, kept in the read's record: no
        job runs while the listing is unchanged."""
        df, files, rec = self._read(None)
        if rec is not None and rec.rows is not None:
            return rec.rows
        with job_description(self.spark, f"count the rows of {self.root}"):
            n = df.count()
        if rec is not None:
            with _RECORDS_LOCK:
                rec.rows = n
        return n

    def _read(self, pattern: str | None):
        spark, root = self.spark, self.root
        path = root if pattern is None else f"{root.rstrip('/')}/{pattern}"

        def scan(schema: StructType | None = None) -> DataFrame:
            reader = spark.read if pattern is None else spark.read.option("basePath", root)
            return (reader if schema is None else reader.schema(schema)).parquet(path)

        key = (self.qroot, pattern, tuple(spark.conf.get(k) for k in INFER_CONFS))
        m, rec = self.load(), _get(key)
        recorded = [] if m is None else [(m["schema"], lambda fs: fs == m["files"])]
        if rec is not None:
            recorded.append((rec.schema, lambda fs: _digest(fs) == rec.digest))
        for schema, matches in recorded:
            df = scan(schema)
            files, parts = _listing(df, self.qroot)
            if files is not None and matches(files) and not parts & _lower(schema.fieldNames()):
                return df, files, _keep(key, schema, files)
        with job_description(spark, f"infer the schema of {root}"):
            df = scan()
        files, parts = _listing(df, self.qroot)
        if files is None:
            return df, None, None
        data = StructType.fromJson(json.loads(_relation(df).dataSchema().json()))
        # a data column named like a partition column: not recordable
        keep = None if parts & _lower(data.fieldNames()) else _keep(key, data, files)
        return df, files, keep

    def list_dirs(self, dirs: list[str]) -> list[File] | None:
        """The visible files directly inside ``dirs`` (relative to the
        root): one ``listStatus`` over all of them.  None when one is
        missing or a line does not parse."""
        paths = self.spark.sparkContext._gateway.new_array(self._path, len(dirs))
        for i, d in enumerate(dirs):
            paths[i] = self._path(f"{self.qroot}/{d}")
        try:
            statuses = self.fs.listStatus(paths)
        except Py4JJavaError:  # FileNotFoundException
            return None
        seq = self.spark._jvm.scala.collection.immutable.ArraySeq.unsafeWrapArray(statuses)
        return _parse_listing(seq.mkString("\n"), self.qroot)

    def write(self, schema: StructType, files: list[File]) -> None:
        """Record ``schema`` (the data columns) and ``files`` as the
        table's manifest."""
        doc = {"schema": json.loads(schema.json()), "files": sorted(files)}
        tmp = self._path(f"{self.qroot}/{NAME}.{uuid.uuid4().hex}")
        out = self.fs.create(tmp, True)
        try:
            out.write(bytearray(json.dumps(doc).encode()))
        finally:
            out.close()
        dst = self._path(f"{self.qroot}/{NAME}")
        self.fs.delete(dst, False)  # rename does not replace on every file system
        if not self.fs.rename(tmp, dst):
            raise OSError(f"could not rename {tmp.toString()} to {NAME}")
