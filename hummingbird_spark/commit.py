"""The one commit protocol: every writer in the package that replaces
data in place publishes through this module.

`publish(spark, path, write, partitions=None, verify=None)`:

  1. stage    `write(<path>.__stage_<token>)`, then `verify(stage)` if
              given. A failure drops the stage and leaves `path` alone.
  2. record   write `<path>.__commit`, listing the items to replace:
              the whole path, or the named items under it, partition
              directories or files (a named item the stage does not
              hold is deleted: it merged to empty). A stage names its
              items itself when their names exist only after the
              write (a top-up's new part files). Writing the record is
              the commit point; with no item there is none to write.
  3. publish  per item, move the live item to `<path>.__aside_<token>`,
              then move the staged item in.
  4. clean    drop the aside, then the stage, then the record.

`recover(spark, path)` finishes an interrupted publish: with a record
it rolls forward (step 3 skips items already moved), without one it
rolls back by dropping stray stages. `publish` recovers first; a
writer that reads `path` before publishing recovers before it reads.

Invariant: after `recover`, a path is exactly its pre-publish or its
post-publish state. It is never missing and never a mix.

Stage, aside and record are siblings of `path`, never inside it: a
`key=value` directory inside a partitioned root would be read as a
partition column. Every rename targets an absent path, because a
Hadoop rename onto an existing directory nests the source inside it.
All file-system work goes through the Hadoop FileSystem API, so the
protocol holds on any Hadoop filesystem whose renames are atomic
(local, HDFS). One writer per path is assumed (streaming/ledger.py).
Small files (ledgers, cursors) go through the same API: `write_text`
publishes one, `put_text` writes one into a stage, `read_text` reads
one.

Every parquet table the migration path publishes (the copy and its
top-up, the CDC sink, compaction, pipeline `$out`/`$merge`) carries a
schema record: `put_schema` writes it into the stage, beside the data
files it describes, and they publish together; `recorded_schema`
parses it, and `read_published` reads the table by it. Its file name
and encoding live here alone, as do `widen`, the one rule by which
a writer adds columns to a table's schema, and `align`, which casts
the rows a writer adds to the recorded types.
"""

from __future__ import annotations

import functools
import json
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

_RECORD = ".__commit"
_END = "end"  # last line of a complete record; a torn one lacks it
# a table's schema without its partition columns, published with its
# data files by every migration writer; it describes exactly those files
SCHEMA_RECORD = "_schema.json"


@functools.lru_cache(maxsize=None)
def _path_class(jvm):
    # cached: resolving a class through the py4j view costs ~1.7 ms,
    # more than the file-system call it serves
    return jvm.org.apache.hadoop.fs.Path


def _fs(spark: SparkSession, path: str):
    """The Hadoop FileSystem that owns `path`, and `path` as a Path."""
    hpath = _path_class(spark._jvm)(path)
    return hpath.getFileSystem(spark._jsc.hadoopConfiguration()), hpath


def _mutate(fs, op: str, *args):
    """Every file-system change this module makes passes through here:
    the one seam crash tests wrap to stop a commit at any step. `op` is
    a FileSystem method name, or "write" (args: Path, text) to create
    a small file."""
    if op != "write":
        return getattr(fs, op)(*args)
    out = fs.create(args[0], True)
    try:
        out.write(bytearray(args[1].encode()))
    finally:
        out.close()


def _under(root: str, name: str) -> str:
    return root if name == "." else f"{root}/{name}"


def publish(spark: SparkSession, path: str, write, partitions=None,
            verify=None):
    """Replace `path`, or only its `partitions` items, with what
    `write(stage)` writes to a staging path; returns write's result.
    `partitions` names directories or files under `path`, or is a
    function of the stage that names them once `write` has run (their
    names may exist only then); with no item to publish the stage is
    dropped and `path` left alone. `verify(stage)` may raise to abort
    before the commit point."""
    path = path.rstrip("/")
    recover(spark, path)
    fs, _ = _fs(spark, path)
    Path = _path_class(spark._jvm)
    token = uuid.uuid4().hex[:8]
    stage = f"{path}.__stage_{token}"
    try:
        out = write(stage)
        if verify is not None:
            verify(stage)
        if callable(partitions):
            partitions = partitions(stage)
    except Exception:
        _mutate(fs, "delete", Path(stage), True)
        raise
    items = [("+" if fs.exists(Path(_under(stage, n))) else "-") + n
             for n in (["."] if partitions is None else partitions)]
    if not items:
        _mutate(fs, "delete", Path(stage), True)
        return out
    _mutate(fs, "write", Path(path + _RECORD),
            "\n".join([token, *items, _END]))
    _roll_forward(fs, Path, path, token, items)
    return out


def _roll_forward(fs, Path, path: str, token: str,
                  items: list[str]) -> None:
    stage, aside = f"{path}.__stage_{token}", f"{path}.__aside_{token}"
    if items not in (["+."], ["-."]):  # partitions: parents must exist
        _mutate(fs, "mkdirs", Path(path))
        _mutate(fs, "mkdirs", Path(aside))
    for item in items:
        add, name = item[0] == "+", item[1:]
        live, new, old = (Path(_under(r, name)) for r in (path, stage, aside))
        if add and not fs.exists(new):
            continue  # moved in before the crash
        if fs.exists(live):
            _mutate(fs, "rename", live, old)
        if add:
            _mutate(fs, "rename", new, live)
    _mutate(fs, "delete", Path(aside), True)
    _mutate(fs, "delete", Path(stage), True)
    _mutate(fs, "delete", Path(path + _RECORD), False)


def recover(spark: SparkSession, path: str) -> None:
    """Bring `path` to exactly its pre- or post-publish state after an
    interrupted `publish` (a no-op when none was interrupted)."""
    path = path.rstrip("/")
    fs, record = _fs(spark, path + _RECORD)
    Path = _path_class(spark._jvm)
    text = _read(fs, record)
    lines = [] if text is None else text.split("\n")
    if lines[-1:] == [_END]:
        _roll_forward(fs, Path, path, lines[0], lines[1:-1])
        return
    for status in fs.globStatus(Path(path + ".__stage_*")) or []:
        _mutate(fs, "delete", status.getPath(), True)
    if lines:  # torn record: the crash came before the commit point
        _mutate(fs, "delete", record, False)


def write_text(spark: SparkSession, path: str, text: str) -> None:
    """Replace the small file at `path` with `text` by `publish`; read
    it after `recover(spark, path)`."""
    publish(spark, path, lambda stage: put_text(spark, stage, text))


def put_text(spark: SparkSession, path: str, text: str) -> None:
    """Write the small file at `path` in place, with no publish: for a
    file inside a stage, which lands with the stage's publish."""
    fs, hpath = _fs(spark, path)
    _mutate(fs, "write", hpath, text)


def read_text(spark: SparkSession, path: str) -> str | None:
    """The text of the small file at `path`, or None when it is absent."""
    return _read(*_fs(spark, path))


def _read(fs, hpath) -> str | None:
    if not fs.exists(hpath):
        return None
    stream = fs.open(hpath)
    try:
        return bytes(stream.readAllBytes()).decode()
    finally:
        stream.close()


def put_schema(spark: SparkSession, stage: str,
               schema: T.StructType) -> None:
    """Record `schema` (without partition columns) beside the data files
    in `stage`, to publish with them."""
    put_text(spark, f"{stage}/{SCHEMA_RECORD}", schema.json())


def widen(a: T.StructType, b: T.StructType) -> T.StructType:
    """The fields of `a`, then the fields of `b` that `a` lacks: a field
    `a` holds keeps its type there, and `b` only adds. The one rule by
    which a writer widens a table's schema (a copy's top-up, the CDC
    sink, `$merge`); like parquet mergeSchema, it never narrows."""
    known = set(a.names)
    return T.StructType(a.fields + [f for f in b.fields
                                    if f.name not in known])


def align(frame: DataFrame, schema: T.StructType) -> DataFrame:
    """`frame` in the fields of `schema`, in its order and types: each
    column cast to its field's type, a field `frame` lacks a typed NULL.
    How a writer makes new rows agree with the schema it records (a
    copy's top-up, `$merge`); a value the cast rejects fails the write,
    so before the commit point."""
    return frame.select(*[
        (F.col(f.name).cast(f.dataType) if f.name in frame.columns
         else F.lit(None).cast(f.dataType)).alias(f.name)
        for f in schema.fields
    ])


def recorded_schema(spark: SparkSession, path: str) -> T.StructType | None:
    """The schema the last publish of the table at `path` recorded, or
    None when it has no record."""
    recorded = read_text(spark, f"{path}/{SCHEMA_RECORD}")
    if recorded is None:
        return None
    return T.StructType.fromJson(json.loads(recorded))


def read_published(spark: SparkSession, path: str) -> DataFrame | None:
    """The parquet table at `path`, or None when it holds no data file
    (it does not exist, or holds `_SUCCESS` alone). Read with the schema
    its publish recorded (recorded_schema), which spares the
    footer-reading job of schema inference; partition directories are
    still discovered and pruned. A table without the record (written by
    another writer) unions its files' schemas, so no column of any file
    is lost. This is the one rule by which the migration path reads a
    table it may merge into, copy onto, compact or compare."""
    schema = recorded_schema(spark, path)
    if schema is not None:
        return spark.read.schema(schema).parquet(path)
    if not _holds_data(spark, path):
        return None
    return spark.read.option("mergeSchema", "true").parquet(path)


def _holds_data(spark: SparkSession, path: str) -> bool:
    """Whether `path` is or holds a data file: a file whose name does
    not start with `_` or `.`, which Spark skips. One listing, stopped
    at the first data file."""
    fs, hpath = _fs(spark, path)
    if not fs.exists(hpath):
        return False
    files = fs.listFiles(hpath, True)
    while files.hasNext():
        if not files.next().getPath().getName().startswith(("_", ".")):
            return True
    return False
