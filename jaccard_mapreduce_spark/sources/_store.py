"""The on-disk protocol shared by the persisted stores — the lexical
store, the LSH and IVF vector indexes and the MinHash signature store.

Each store is a directory of parquet datasets plus small text markers,
mutated by one single-writer protocol:

- markers and existence checks go through Hadoop's FileSystem API, so
  they live next to the data on any filesystem the parquet writes use
  (``hdfs://``, ``s3a://``, local paths);
- a new generation of a dataset — or of a whole store directory — is
  staged beside it and published by the two-rename swap (:func:`_swap`);
  ``<live>__old`` holds the previous generation only while a swap runs;
- deletes are merge-on-read: ``<path>/tombstones`` holds the deleted ids
  in ONE column named after the store's id column (``vec_id`` or
  ``doc_id``). Reads mask them (:func:`_read_live`),
  :func:`_tombstone_delete` adds to them, and :func:`_compact_datasets`
  folds them out of the rewritten datasets and clears them. Stores
  that never deleted have no tombstones dataset and read untouched.

Staged generations are cleared before they are written, so a crashed
run's leftover (``tombstones__tmp``, ``<path>__retraining``, ...) never
blocks the next mutation."""

from __future__ import annotations

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _hadoop_fs(spark: SparkSession, path: str):
    """Resolve ``path`` through Hadoop's FileSystem API. Driver-local
    ``os.path`` calls against a remote URI silently see nothing
    (``exists`` is always False), which would make a marker read 0
    forever and write to a bogus local path."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, hpath


def _fs_exists(spark: SparkSession, path: str) -> bool:
    fs, hpath = _hadoop_fs(spark, path)
    return bool(fs.exists(hpath))


def _fs_read_text(spark: SparkSession, path: str) -> str | None:
    """Contents of a (small) text file via Hadoop FS, or None if absent."""
    fs, hpath = _hadoop_fs(spark, path)
    if not fs.exists(hpath):
        return None
    stream = fs.open(hpath)
    try:
        # commons-io ships with Hadoop; avoids byte-at-a-time py4j reads
        return spark._jvm.org.apache.commons.io.IOUtils.toString(
            stream, "UTF-8"
        )
    finally:
        stream.close()


def _fs_write_text(spark: SparkSession, path: str, text: str) -> None:
    fs, hpath = _hadoop_fs(spark, path)
    out = fs.create(hpath, True)
    try:
        out.write(bytearray(text, "utf-8"))
    finally:
        out.close()


def _fs_delete(spark: SparkSession, path: str) -> None:
    """Delete a file or a whole directory; absent is fine. Recursive:
    the leftovers this clears are non-empty dataset directories, which
    a non-recursive delete refuses."""
    fs, hpath = _hadoop_fs(spark, path)
    if fs.exists(hpath):
        fs.delete(hpath, True)


def _swap(spark: SparkSession, live: str, tmp: str) -> None:
    """Publish the staged generation ``tmp`` at ``live`` (a dataset or
    a whole store directory): live → ``<live>__old``, tmp → live, delete
    ``__old``. A complete copy stays on disk at every step; a failed
    publish puts the previous generation back and raises ``IOError``.
    Delete-then-rename would open a window with nothing at ``live``.
    A missing ``live`` is allowed (a first delete creates tombstones
    from nothing). Not atomic across the two renames — single-writer
    maintenance is the operating assumption."""
    fs, live_p = _hadoop_fs(spark, live)
    old = _hadoop_fs(spark, f"{live}__old")[1]
    if fs.exists(old):  # leftover from a crashed prior swap
        fs.delete(old, True)
    moved = bool(fs.exists(live_p))
    # a failed rename returns False on HDFS; the local FS raises instead
    if moved and not fs.rename(live_p, old):
        raise IOError(f"swap failed: {live} -> {live}__old")
    cause = None
    try:
        published = fs.rename(_hadoop_fs(spark, tmp)[1], live_p)
    except Py4JJavaError as e:
        published, cause = False, e
    if not published:
        if moved:
            fs.rename(old, live_p)  # put the previous generation back
        raise IOError(f"swap failed: {tmp} -> {live}") from cause
    if moved:
        fs.delete(old, True)


def _promote_staged_files(
    spark: SparkSession, tmp_dir: str, live_dir: str, prefix: str
) -> None:
    """Move a staged batch's data files into the live dataset — one
    metadata-only rename per file, so a crash mid-write of the batch
    leaves the live dataset untouched and only this loop can leave it
    ahead of its markers. ``prefix`` carries provenance; part-file
    names carry a fresh UUID per write, so promoted names never
    collide."""
    fs, tmp = _hadoop_fs(spark, tmp_dir)
    for st in fs.listStatus(tmp):
        name = st.getPath().getName()
        if name.startswith(("_", ".")) or not name.endswith(".parquet"):
            continue
        dest = _hadoop_fs(spark, f"{live_dir}/{prefix}{name}")[1]
        if not fs.rename(st.getPath(), dest):
            raise IOError(
                f"staged promote failed: {name} -> {live_dir} (retry "
                "ONLY after a lexical_store_stats drift check — see "
                "upsert_lexical_store)"
            )
    fs.delete(tmp, True)


def _read_tombstones(spark: SparkSession, path: str) -> DataFrame | None:
    """The store's tombstone relation — ids deleted but not yet
    physically removed — or ``None`` when no delete has ever run."""
    if not _fs_exists(spark, f"{path}/tombstones"):
        return None
    return spark.read.parquet(f"{path}/tombstones")


def _mask(rel: DataFrame, tomb: DataFrame | None) -> DataFrame:
    """``rel`` without its tombstoned rows. Deliberately NOT
    hint-broadcast: AQE broadcasts a small tombstone set on its own,
    and a forced hint would hard-fail a store whose tombstones outgrew
    the broadcast limit instead of degrading to a shuffle join."""
    if tomb is None:
        return rel
    return rel.join(tomb, tomb.columns[0], "left_anti")


def _read_live(spark: SparkSession, path: str, name: str) -> DataFrame:
    """Read dataset ``name`` of a store with deleted rows MASKED — the
    merge-on-read contract (a corpus-sized dataset is never rewritten
    per delete; deletes write the small side and reads subtract it).
    A store with no tombstones reads the dataset untouched."""
    rel = spark.read.parquet(f"{path}/{name}")
    return _mask(rel, _read_tombstones(spark, path))


def _pending_deletes(
    spark: SparkSession, path: str, ids: DataFrame, id_col: str, key: str
) -> tuple[DataFrame, DataFrame | None]:
    """A delete batch as distinct ``key`` ids minus those already
    tombstoned (so a replayed delete is a counted no-op), together with
    the current tombstones (None if there are none)."""
    tomb = _read_tombstones(spark, path)
    batch = ids.select(F.col(id_col).alias(key)).distinct()
    return _mask(batch, tomb), tomb


def _stage_tombstones(
    spark: SparkSession,
    path: str,
    tomb: DataFrame | None,
    present: DataFrame,
) -> str:
    """Write old ∪ ``present`` as the next tombstone generation and
    return its staged path; publish it with :func:`_swap`."""
    tmp = f"{path}/tombstones__tmp"
    _fs_delete(spark, tmp)
    new_tomb = present if tomb is None else tomb.unionByName(present)
    new_tomb.coalesce(1).write.mode("overwrite").parquet(tmp)
    return tmp


def _tombstone_delete(
    spark: SparkSession,
    path: str,
    ids: DataFrame,
    id_col: str,
    source: str,
    key: str,
) -> int:
    """The merge-on-read delete of a store without statistics to
    correct: tombstone the batch ids that are present in dataset
    ``source`` and not yet tombstoned. IDEMPOTENT; absent ids are not
    tombstoned. Returns the number of ids actually deleted."""
    from jaccard_mapreduce_spark.operators._cache import pin

    batch, tomb = _pending_deletes(spark, path, ids, id_col, key)
    # pinned: the present set feeds the count AND the new tombstone
    # generation; released before the swap. The batch join is NOT
    # hint-broadcast: AQE broadcasts a human-scale batch on its own,
    # and a bulk delete degrades to a shuffle join instead of an
    # executor OOM.
    present = pin(
        spark.read.parquet(f"{path}/{source}")
        .select(key)
        .join(batch, key, "left_semi")
        .distinct()
    )
    try:
        n_del = present.count()
        if n_del == 0:
            return 0
        tmp = _stage_tombstones(spark, path, tomb, present)
    finally:
        present.unpersist()
    _swap(spark, f"{path}/tombstones", tmp)
    return n_del


def _compact_datasets(
    spark: SparkSession,
    path: str,
    names: tuple[str, ...],
    kind: str,
    n_files: int | None,
    target_file_bytes: int,
    partition_by: dict[str, str] | None = None,
    pre_swap: dict | None = None,
    cluster_by: dict[str, str] | None = None,
) -> dict[str, tuple[int, int]]:
    """Rewrite a store's append-fragmented datasets into fewer,
    size-targeted files and return per-dataset ``(files_before,
    files_after)``. With ``n_files=None`` each dataset's output count
    is its total bytes over ``target_file_bytes`` (a fixed count would
    fragment a tiny store into MORE files than the appends left).

    Compaction is also the physical-removal half of merge-on-read
    deletes: tombstoned rows are folded out of each rewrite inside the
    swap, and the tombstones are cleared after the last dataset is
    live. Every crash point stays serving-correct — a tombstone masking
    an already-removed row is a no-op anti-join.

    A dataset named in ``partition_by`` keeps its partition column. A
    dataset named in ``cluster_by`` is rewritten hash-distributed by
    that column without partition dirs (the lexical store's doc_id
    clustering, which a round-robin rewrite would destroy). A dataset
    named in ``pre_swap`` has its callback invoked with the tmp path
    after the rewrite lands and before the swap — for in-dataset
    metadata (the signature store's ``_banding`` marker) that the
    parquet re-read drops and that must be live the instant the rename
    publishes the new generation."""
    partition_by = partition_by or {}
    cluster_by = cluster_by or {}
    pre_swap = pre_swap or {}
    tomb = _read_tombstones(spark, path)
    out: dict[str, tuple[int, int]] = {}
    for name in names:
        ds = f"{path}/{name}"
        if not _fs_exists(spark, ds):
            raise ValueError(
                f"not {kind} (missing {name} dataset): {path}"
            )
        before, total_bytes = _count_parquet_files(spark, ds)
        if n_files is None:
            n_out = max(1, -(-total_bytes // target_file_bytes))
        else:
            n_out = n_files
        tmp = f"{ds}__compacting"
        rel = _mask(spark.read.parquet(ds), tomb)
        if name in partition_by:
            # repartition BY the partition column: a plain round-robin
            # repartition would put every partition value in every
            # task, writing n_out files into EVERY partition dir —
            # n_out x n_partitions files, worse than the fragmentation
            # being fixed. Hash-distributing the partition column caps
            # output at ~one file per (task, value) pair.
            pcol = partition_by[name]
            writer = (
                rel.repartition(n_out, F.col(pcol))
                .write.mode("overwrite")
                .partitionBy(pcol)
            )
        elif name in cluster_by:
            writer = rel.repartition(
                n_out, F.col(cluster_by[name])
            ).write.mode("overwrite")
        else:
            writer = rel.repartition(n_out).write.mode("overwrite")
        writer.parquet(tmp)
        if name in pre_swap:
            pre_swap[name](tmp)
        _swap(spark, ds, tmp)
        out[name] = (before, _count_parquet_files(spark, ds)[0])
    if tomb is not None:
        _fs_delete(spark, f"{path}/tombstones")
    return out


def _parquet_files(spark: SparkSession, path: str):
    """FileStatus of every parquet data file under ``path``, recursing
    into partition directories. Entries named ``_*`` or ``.*`` (an
    in-flight write's ``_temporary``, checksums) are skipped, as
    Spark's parquet reader skips them."""
    fs, hpath = _hadoop_fs(spark, path)
    stack = [hpath]
    while stack:
        for st in fs.listStatus(stack.pop()):
            name = st.getPath().getName()
            if name.startswith(("_", ".")):
                continue
            if st.isDirectory():
                stack.append(st.getPath())
            elif name.endswith(".parquet"):
                yield st


def _count_parquet_files(spark: SparkSession, path: str) -> tuple[int, int]:
    """(count, total bytes) of the parquet files under ``path``."""
    sizes = [st.getLen() for st in _parquet_files(spark, path)]
    return len(sizes), int(sum(sizes))


def _parquet_footer_rows(spark: SparkSession, path: str) -> int:
    """Exact row count of a parquet dataset from file FOOTERS only —
    driver-side metadata reads, O(files), no executor scan of the data
    pages."""
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    total = 0
    for st in _parquet_files(spark, path):
        reader = jvm.org.apache.parquet.hadoop.ParquetFileReader.open(
            jvm.org.apache.parquet.hadoop.util.HadoopInputFile
            .fromStatus(st, conf)
        )
        try:
            total += reader.getRecordCount()
        finally:
            reader.close()
    return int(total)


def _tombstone_rows(spark: SparkSession, path: str) -> int:
    """Exact number of tombstoned ids (one row per id) from footers;
    0 on a store that never deleted."""
    tomb = f"{path}/tombstones"
    return _parquet_footer_rows(spark, tomb) if _fs_exists(spark, tomb) else 0


def _live_rows(spark: SparkSession, path: str, name: str) -> int:
    """Live row count of dataset ``name`` (one row per id) from parquet
    footers alone: its rows minus the tombstoned ids. Every tombstone
    names an id present in the dataset when it was deleted, so on a
    store that keeps the id contract (no re-upsert of a tombstoned id)
    this equals ``_read_live(...).count()`` with no Spark job."""
    return _parquet_footer_rows(spark, f"{path}/{name}") - _tombstone_rows(
        spark, path
    )
