"""One versioned-store protocol for every table set the engine rewrites
in place: the dedup histories (text, image, audio, video) and the
persisted BM25, IVF and PQ indexes.

Layout. A store is a directory ``root``. A history is flat until its
first commit: its data lives at ``root`` itself. A commit writes a
complete new version into ``root/vNNNNNN/`` and only then flips the
one-object pointer ``root/MANIFEST`` to that name. From then on
``MANIFEST`` names the live version. Readers and appenders resolve the
pointer on every call, so a flip redirects them without coordination,
and a crash at any instant before the flip leaves the previous version
live and complete. This is the single-pointer commit of Delta Lake
(Armbrust et al., VLDB 2020) with one pointer file instead of a log.

The four operations:

- ``live_dir``: resolve the live directory;
- ``read`` / ``append``: read or append rows there;
- ``commit``: delete never-flipped versions newer than the live one,
  write the next version, validate it, flip the pointer;
- ``retire``: delete everything except ``MANIFEST`` and the live
  version.

An index is a table set: named parquet tables plus a one-row ``meta``
table of the index's own scalars, in which each table's schema rides
as JSON so a load reads every table without a footer-inference job.
``write_tables`` writes one set into a version directory,
``save_tables`` makes a set the live version (``commit`` + ``retire``)
and ``read_tables`` reads the live set back. An index saved before
saves were versioned is a flat table set at ``root``, and it loads and
appends the same way.

Everything goes through the session's Hadoop filesystem, so
scheme-less local paths, ``file://``, ``hdfs://`` and object stores
(``s3a://`` ...) share one code path, and a directory spelled two ways
(``/x`` and ``file:///x``) is one store.
"""
from __future__ import annotations

import re
from concurrent.futures import ThreadPoolExecutor

_VERSION = re.compile(r"v\d{6}")
# Both names start with "_" so a Spark scan of a flat root skips them.
_TMP = "_MANIFEST.tmp"  # the next pointer, before its rename onto MANIFEST
_FIRST = "_FIRST_COMMIT"  # a first commit in flight: v000001 never flipped

_OBJECT_STORE_SCHEMES = {
    "s3", "s3a", "s3n", "gs", "gcs", "wasb", "wasbs", "abfs", "abfss",
    "oss", "cos", "swift",
}


def _is_version_dir(name: str) -> bool:
    return _VERSION.fullmatch(name) is not None


def _hadoop_fs(spark, uri: str):
    """(FileSystem, Path) for any Hadoop-supported URI (file://, s3a://,
    hdfs://, scheme-less local) via the session's Hadoop conf."""
    jvm = spark.sparkContext._jvm
    p = jvm.org.apache.hadoop.fs.Path(uri)
    return p.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration()), p


def try_read_parquet(spark, path: str):
    """Read a parquet table, returning None when it does not exist yet
    (missing path, or a directory with no data files). Probing through
    Spark — instead of os.path — keeps remote URIs (s3a://, hdfs://)
    working. Only the two no-data-yet error classes map to None; any
    OTHER AnalysisException (corrupt footer, permission, schema
    conflict) re-raises — a store that exists but cannot be read must
    fail loudly, not silently act as empty."""
    from pyspark.errors import AnalysisException

    _MISSING = ("PATH_NOT_FOUND", "UNABLE_TO_INFER_SCHEMA")

    try:
        df = spark.read.parquet(path)
        df.schema  # force analysis so a missing path fails HERE, not lazily
        return df
    except AnalysisException as e:
        cls = getattr(e, "getErrorClass", lambda: None)() or ""
        if cls in _MISSING or any(m in str(e) for m in _MISSING):
            return None
        raise


def _read_manifest(spark, root: str) -> str | None:
    """Raw contents of ``root/MANIFEST`` (stripped), or None when the
    file is absent (flat layout: never committed)."""
    fs, p = _hadoop_fs(spark, root + "/MANIFEST")
    if not fs.exists(p):
        return None
    stream = fs.open(p)
    try:
        out = bytearray()
        b = stream.read()
        while b != -1:
            out.append(b)
            b = stream.read()
    finally:
        stream.close()
    return out.decode("utf-8", errors="replace").strip()


def _write_manifest(spark, root: str, version: str) -> None:
    """Flip ``root/MANIFEST`` to ``version``.

    Object stores get a direct single-object overwrite — a PUT is
    atomic there, and tmp+rename would be a non-atomic copy+delete.
    Rename-capable filesystems (file://, hdfs://) instead write
    ``_MANIFEST.tmp`` and rename it onto ``MANIFEST``: ``fs.create(p,
    overwrite=True)`` truncates before writing, so a crash mid-overwrite
    would leave an empty/partial manifest, while rename is atomic.
    Where rename refuses an existing destination (HDFS semantics) we
    fall back to delete-then-rename; the resulting two-metadata-op
    window is covered by commit's refusal to touch version dirs without
    a manifest."""
    scheme = root.split("://", 1)[0].lower() if "://" in root else ""
    fs, p = _hadoop_fs(spark, root + "/MANIFEST")
    if scheme in _OBJECT_STORE_SCHEMES:
        stream = fs.create(p, True)
        try:
            stream.write(bytearray(version.encode("utf-8")))
        finally:
            stream.close()
        return
    _, tmp = _hadoop_fs(spark, f"{root}/{_TMP}")
    stream = fs.create(tmp, True)
    try:
        stream.write(bytearray(version.encode("utf-8")))
    finally:
        stream.close()
    if not fs.rename(tmp, p):
        fs.delete(p, False)
        if not fs.rename(tmp, p):
            raise IOError(f"manifest flip failed for {root}")


def _live_version(spark, base: str) -> str | None:
    """The version ``MANIFEST`` points at, or None for a flat store. A
    manifest that exists but does not name a version is corruption:
    raise rather than fall back to the (possibly already retired) flat
    root."""
    ptr = _read_manifest(spark, base)
    if ptr is not None and not _is_version_dir(ptr):
        raise RuntimeError(
            f"corrupt MANIFEST in {base!r}: {ptr!r} is not a version "
            "pointer; restore it to the newest complete vNNNNNN directory"
        )
    return ptr


def live_dir(spark, root: str) -> str:
    """The live data directory of the store at ``root``: the version
    ``MANIFEST`` points at, else ``root`` itself (flat layout)."""
    base = root.rstrip("/")
    cur = _live_version(spark, base)
    return f"{base}/{cur}" if cur else root


def read(spark, root: str):
    """The live rows of the store at ``root``, or None while it has none."""
    return try_read_parquet(spark, live_dir(spark, root))


def append(df, root: str, table: str | None = None,
           partition_by: str | None = None) -> None:
    """Append ``df``'s rows to the live version of the store at
    ``root``, or to its ``table`` (partitioned by ``partition_by``)."""
    live = live_dir(df.sparkSession, root)
    w = df.write.mode("append")
    if partition_by:
        w = w.partitionBy(partition_by)
    w.parquet(f"{live}/{table}" if table else live)


def _versions(spark, base: str):
    """(fs, live version or None, version dir paths, first-commit marker
    path) of the store at ``base``. Without ``MANIFEST``, version dirs
    mean the pointer was lost: raise rather than let a caller delete
    them or take the flat root for the live data — flat files beside
    them prove nothing, since an append after the loss writes there.
    The one exception is a first commit that crashed before its flip:
    it marks itself with ``_FIRST_COMMIT`` until the flip is done, and
    its lone ``v000001`` is deleted and written again."""
    fs, base_path = _hadoop_fs(spark, base)
    cur = _live_version(spark, base)
    _, first = _hadoop_fs(spark, f"{base}/{_FIRST}")
    versions = []
    if fs.exists(base_path):
        versions = [
            st.getPath() for st in fs.listStatus(base_path)
            if _is_version_dir(st.getPath().getName())
        ]
    if cur is None and versions and not (
        [p.getName() for p in versions] == ["v000001"] and fs.exists(first)
    ):
        raise RuntimeError(
            f"{base!r} has vNNNNNN version dirs but no MANIFEST — "
            f"refusing to treat them as never flipped (that would delete "
            f"them); write MANIFEST pointing at the newest complete "
            f"version (or rename {_TMP} onto it) to recover"
        )
    return fs, cur, versions, first


def commit(spark, root: str, write, check=None):
    """Make a new version of the store at ``root`` live and return what
    ``write`` returned.

    1. Versions newer than the live one were never flipped (an earlier
       commit crashed): they are deleted. Older versions stay, so a
       reader still scanning one keeps working until ``retire``.
    2. ``write(live, new)`` writes the complete next version into the
       directory ``new``, reading the live one from ``live`` if it needs
       to. ``check()``, if given, runs beside it and raises to refuse
       the commit; its error is the one raised even when the write
       failed too.
    3. ``MANIFEST`` flips to the new version. Nothing before this step
       changes what readers see.

    Without ``MANIFEST``, version dirs mean the pointer was lost, and
    the commit refuses rather than delete them (``_versions``)."""
    base = root.rstrip("/")
    fs, cur, versions, first = _versions(spark, base)
    for p in versions:
        if cur is None or p.getName() > cur:
            fs.delete(p, True)
    if cur is None:
        fs.create(first, True).close()
    nxt = f"v{int(cur[1:]) + 1 if cur else 1:06d}"
    with ThreadPoolExecutor(max_workers=1) as pool:
        checked = pool.submit(check or (lambda: None))
        try:
            out = write(f"{base}/{cur}" if cur else base, f"{base}/{nxt}")
        finally:
            checked.result()
    _write_manifest(spark, base, nxt)
    fs.delete(first, False)  # also one a crash right after a flip left
    return out


def retire(spark, root: str) -> int:
    """Delete everything under ``root`` except ``MANIFEST`` and the live
    version: superseded versions, never-flipped ones, and the flat data
    of the layout before the first commit. A flat store is left as it
    is. Not safe against a reader still scanning a superseded version:
    run it between batches. Returns the number of version dirs deleted."""
    base = root.rstrip("/")
    cur = _live_version(spark, base)
    if cur is None:
        return 0
    fs, base_path = _hadoop_fs(spark, base)
    deleted = 0
    for st in fs.listStatus(base_path):
        name = st.getPath().getName()
        if name not in (cur, "MANIFEST"):
            fs.delete(st.getPath(), True)
            deleted += st.isDirectory() and _is_version_dir(name)
    return deleted


def restore(spark, root: str, version: str) -> None:
    """Make ``version``, an earlier version still on disk, live again.
    Newer versions become never-flipped ones, which the next ``commit``
    deletes."""
    base = root.rstrip("/")
    fs, p = _hadoop_fs(spark, f"{base}/{version}")
    if not (_is_version_dir(version) and fs.exists(p)):
        raise ValueError(f"{base!r} has no version {version!r}")
    _write_manifest(spark, base, version)


def write_tables(base: str, tables: dict, meta: dict, meta_ddl: str,
                 partition_by: dict | None = None) -> None:
    """Write the table set ``tables`` (name -> DataFrame) and its meta
    row into the directory ``base``. The tables are written
    concurrently, so the later jobs' tasks fill the slots the first
    job's tail leaves idle. The meta row has the columns of
    ``meta_ddl``: a ``schemas`` column gets every table's schema, a
    ``<name>_schema`` column the schema of table ``<name>``, and every
    other column its value in ``meta``, as a float or an int where the
    column is one."""
    from pyspark.sql.types import DoubleType, IntegralType, StructType

    spark = next(iter(tables.values())).sparkSession
    schemas = {name: df.schema.json() for name, df in tables.items()}

    def value(f):
        if f.name == "schemas":
            return schemas
        if f.name.endswith("_schema"):
            return schemas[f.name[:-7]]
        if isinstance(f.dataType, DoubleType):
            return float(meta[f.name])
        if isinstance(f.dataType, IntegralType):
            return int(meta[f.name])
        return meta[f.name]

    row = [value(f) for f in StructType.fromDDL(meta_ddl).fields]
    frames = dict(tables)
    frames["meta"] = spark.createDataFrame([row], meta_ddl).repartition(1)

    def put(name):
        w = frames[name].write
        if (partition_by or {}).get(name):
            w = w.partitionBy(partition_by[name])
        w.parquet(f"{base}/{name}")

    with ThreadPoolExecutor(max_workers=len(frames)) as pool:
        list(pool.map(put, frames))


def save_tables(root: str, tables: dict, meta: dict, meta_ddl: str,
                partition_by: dict | None = None) -> None:
    """Make the table set ``tables`` the live version of the store at
    ``root`` (``commit``), then ``retire`` every other copy, as an
    overwrite would: a reader still scanning the old copy fails."""
    spark = next(iter(tables.values())).sparkSession
    commit(
        spark, root,
        lambda live, new: write_tables(new, tables, meta, meta_ddl, partition_by),
    )
    retire(spark, root)


def read_tables(spark, root: str, meta_ddl: str, tables: dict):
    """(meta, frames) of the live table set at ``root``: the meta row as
    a dict, and a DataFrame per name in ``tables`` (name -> fixed DDL
    schema, or None to read the schema ``write_tables`` recorded).
    Reading costs the one meta collect. A set written by an older
    layout (a null meta column, or a table with no recorded schema)
    raises one error: rebuild the index."""
    import json

    from pyspark.sql.types import StructType

    cur = _versions(spark, root.rstrip("/"))[1]
    base = f"{root.rstrip('/')}/{cur}" if cur else root
    meta = spark.read.schema(meta_ddl).parquet(f"{base}/meta").collect()[0].asDict()
    schemas = dict(meta.get("schemas") or {})
    schemas.update(
        {c[:-7]: v for c, v in meta.items() if c.endswith("_schema") and v}
    )
    missing = [c for c, v in meta.items() if v is None] + [
        t for t, fixed in tables.items() if not (fixed or schemas.get(t))
    ]
    if missing:
        raise ValueError(
            f"index at {root!r} has an older layout (no {', '.join(missing)}); "
            "rebuild the index and save it again"
        )
    frames = {
        t: spark.read.schema(
            fixed or StructType.fromJson(json.loads(schemas[t]))
        ).parquet(f"{base}/{t}")
        for t, fixed in tables.items()
    }
    return meta, frames
