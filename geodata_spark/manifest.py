"""File listings and the ``_manifest.json`` of package-written parquet tables.

Two costs of the ingest cycle come from table metadata, not data:

- **Schema inference.** ``spark.read.parquet(path)`` without a schema
  runs a Spark job that reads a footer.  :meth:`Table.write` records, after a
  package writer's commit, the table's data schema (partition columns
  left out, so their types still come from path inference) and its file
  list as ``(relative path, size, modification time in ms)``.
  :meth:`Table.read` reads with the recorded schema, and runs no job,
  when the scan's own listing equals the recorded list.  Any other
  listing means a write the manifest does not describe: a foreign write,
  or a crash between a commit and its manifest write.  That listing, a
  missing or unparsable manifest, or a recorded column named like the
  partition column falls back to the inferred read.
- **Partition fingerprints.** :func:`partition_files` groups a bare
  scan's listing by partition directory, so ``lineage`` can fingerprint
  partitions by their files without reading a row.

Every listing comes from Hadoop ``FileStatus`` text: one ``mkString`` of
the file index's ``allFiles()``, or of ``listStatus`` over the
directories a writer rewrote.  So the py4j round trips do not grow with
the file count.  The manifest is written through the table's Hadoop
``FileSystem``: a hidden temporary file, then a rename over the old one.
A reader never sees half a manifest; one that reads between the delete
of the old file and the rename sees none and infers.
"""

from __future__ import annotations

import json
import re
import uuid

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
    qualified path); None when a line does not parse or lies outside."""
    out, prefix = [], root.rstrip("/") + "/"
    for line in filter(None, text.split("\n")):
        m = _STATUS.match(line)
        if m is None or not m.group(1).startswith(prefix):
            return None
        if m.group(2) == "true":
            continue
        rel = m.group(1)[len(prefix):]
        if not any(_hidden(seg) for seg in rel.split("/")):
            out.append((rel, int(m.group(3)), int(m.group(4))))
    return sorted(out)


def _file_index(df: DataFrame):
    """The file index of a bare file scan (the analyzed plan is one file
    relation that Spark lists itself), else None."""
    try:
        index = df._jdf.queryExecution().analyzed().relation().location()
    except Py4JError:  # no relation, or not a file relation
        return None
    return index if index.getClass().getSimpleName() == "InMemoryFileIndex" else None


def scan_files(df: DataFrame, root: str) -> list[File] | None:
    """The files a bare scan ``df`` lists, relative to ``root``."""
    index = _file_index(df)
    return None if index is None else _parse_listing(index.allFiles().mkString("\n"), root)


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


class Table:
    """A table directory on its Hadoop file system: its manifest, and
    reads and listings relative to its qualified root."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark, self.root = spark, root
        self._path = spark._jvm.org.apache.hadoop.fs.Path
        path = self._path(root)
        self.fs = path.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
        self.qroot = self.fs.makeQualified(path).toString()

    def load(self) -> dict | None:
        """The manifest, or None when missing or unparsable."""
        try:
            stream = self.fs.open(self._path(f"{self.qroot}/{NAME}"))
            try:
                data = stream.readAllBytes()
            finally:
                stream.close()
        except Py4JJavaError:  # missing, or a checksum mismatch
            return None
        try:
            doc = json.loads(data)
            return {
                "schema": StructType.fromJson(doc["schema"]),
                "files": sorted((str(p), int(n), int(t)) for p, n, t in doc["files"]),
            }
        except (ValueError, KeyError, TypeError):  # not JSON, or not a manifest
            return None

    def read(
        self, partition_col: str, pattern: str | None = None
    ) -> tuple[DataFrame, list[File] | None]:
        """Read the parquet table (only the paths matching ``pattern``
        under the root, when given) and return it with its listing.

        The recorded schema is used when the manifest's file list equals
        the scan's, so no job runs; otherwise the schema is inferred (one
        job, labelled).  The listing is None when it could not be parsed.
        Raises what ``spark.read.parquet`` raises for a missing table."""
        spark, root = self.spark, self.root
        path = root if pattern is None else f"{root.rstrip('/')}/{pattern}"

        def reader():
            return spark.read if pattern is None else spark.read.option("basePath", root)

        m = self.load()
        if m is not None and partition_col not in m["schema"].fieldNames():
            df = reader().schema(m["schema"]).parquet(path)
            files = scan_files(df, self.qroot)
            if files == m["files"]:
                return df, files
        with job_description(spark, f"infer the schema of {root}"):
            df = reader().parquet(path)
        return df, scan_files(df, self.qroot)

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
