"""Dataset writer — executor-side fragment production + driver-side
single-winner commit.

The reference writes fragments inside its sink tasks and commits one
version per flush (ref LanceSink.java:133-199). Here every write and
every copy-on-write rewrite has that shape, for a local directory and an
s3:// warehouse alike, and for both on-disk formats (SURVEY.md §3.2
Spark equivalent):

1. ``write_fragments``: one ``mapInArrow`` stage whose tasks stream their
   partition into ``data/`` files through the storage seam
   (sources/fs.py ``store.writing`` — in place on a local store, a
   worker-local scratch file PUT to the key on an object store), rolling
   to a new file at ``write.max-rows-per-file``
   (ref config/LanceOptions.java:112-116). Each task returns only the
   file, its rows, its zone map with the sha256 digest and its bloom
   entry — the data bytes never touch the driver;
2. the driver commits ONE new manifest version (``append`` |
   ``overwrite`` — ref LanceSink.java:163-190) through the seam's
   ``create_exclusive`` (O_EXCL locally, a conditional PUT on s3): an
   emulated ``N.manifest.json`` (``fragments.commit``) or a binary Lance
   ``N.manifest`` (``lance_format.commit_native``).

One writer, two encoders: ``write_fragment`` is the one per-file body
(the ``format("lance")`` writer's tasks call it too), and its only
variable is the encoder. ``None`` streams parquet ``frag-<hex>.parquet``
files one row group at a time; a ``LanceEncoder`` encodes the file's
rows, aligned to the dataset's field list, as one Lance v2
``<uuid>.lance`` file through the stdlib codec (sources/lance_format.py,
imported only by Lance tasks).

A fragment lands before any manifest names it, so a crashed or retried
task leaves only unreferenced files — never a torn version; vacuum
age-gates such keys so an in-flight write is not collected.

Overwrite replaces the fragment list in the new version instead of
pre-deleting the directory (the reference deletes the dataset dir first —
ref LanceSink.java:123-127 — losing MVCC history; we keep old versions
readable)."""

from __future__ import annotations

import itertools
from dataclasses import dataclass

from pyspark.sql import DataFrame

from ..options import DatasetOptions, WriteMode
from . import fragments as FR


def write_dataset(
    df: DataFrame,
    path: str,
    mode: "str | WriteMode" = WriteMode.APPEND,
    options: DatasetOptions | None = None,
    commit_meta: dict | None = None,
    expected_base_version: "int | None" = None,
) -> FR.Manifest:
    opts = options or DatasetOptions(path=path)
    mode = WriteMode.parse(mode)
    if opts.sort_columns:
        missing = [c for c in opts.sort_columns if c not in df.columns]
        if missing:
            raise ValueError(f"write.sort-by column(s) not in batch: {missing}")
        if opts.cluster_on_write:
            # ONE range shuffle: fragments get disjoint key ranges, so the
            # manifest zone maps prune whole fragments at planning time —
            # ingest-time clustering instead of a later cluster_dataset
            # rewrite of the same bytes
            df = df.repartitionByRange(*opts.sort_columns)
        # zero-shuffle within-task sort: parquet writes ordered row
        # groups, so footer min/max stats become selective for the
        # row-group pruning both scan paths apply
        df = df.sortWithinPartitions(*opts.sort_columns)
    if FR.HAVE_LANCE:  # native path (exercised via the fake lance in tests)
        # the native commit cannot carry our commit metadata (rollup specs,
        # covered-file lists) or the bloom sidecar contract yet — failing
        # HERE beats create_rollup/refresh_rollup raising 'not a rollup'
        # three calls later, or write.bloom-columns silently doing nothing
        if commit_meta:
            raise NotImplementedError(
                "the native lance write path cannot persist commit_meta "
                "(rollups/streaming epoch metadata); use the emulated backend "
                "or attach metadata through lance's own commit API"
            )
        if opts.bloom_columns:
            raise NotImplementedError(
                "write.bloom-columns is not supported on the native lance "
                "write path (no bloom sidecar contract for native fragments)"
            )
        if expected_base_version is not None:
            raise NotImplementedError(
                "conditional (CAS) commits are not wired for the native "
                "lance write path — use lance's own read_version contract"
            )
        return _write_lance(df, path, mode, opts)
    from . import lance_format as LF

    storage = opts.s3.to_storage_options() if opts.s3 else None
    if LF.is_native_dataset(path, storage):
        # REAL Lance dataset (binary manifests) and no lance package:
        # committing .manifest.json beside the binary chain would fork
        # the dataset, so route through the stdlib v2 codec. commit_meta
        # rides in Manifest.config (spark.flc.meta.* entries) and
        # expected_base_version maps onto commit_native's CAS.
        return write_native_pure(df, path, mode, opts,
                                 commit_meta=commit_meta,
                                 expected_base_version=expected_base_version)
    # append-time schema contract: align the batch to the table schema
    # (reorder / refuse / evolve per write.schema-evolution) BEFORE any
    # fragment is produced, so fragment files never carry a surprise shape
    schema = df.schema
    if mode is WriteMode.APPEND and FR.latest_version(path, storage) is not None:
        from pyspark.sql.types import StructType

        from .schema_evolution import align_for_append, dataset_schema, nullable

        m = FR.read_manifest(path, storage_options=storage)
        current = dataset_schema(path, manifest=m, storage_options=storage)
        df = align_for_append(df, current, opts.schema_evolution,
                              dropped=list(m.meta.get("dropped_columns", [])))
        # an evolving append's new columns are null in every older fragment
        schema = StructType([f if f.name in current.names else nullable(f)
                             for f in df.schema])
    new_fragments = write_fragments(df, path, storage,
                                    opts.write_max_rows_per_file,
                                    opts.bloom_columns)
    # the (possibly evolved) schema rides in the same atomic commit;
    # maintenance commits inherit it (FR.commit), so it is the
    # authoritative table schema until the next evolving write
    meta = dict(commit_meta or {})
    meta.setdefault("schema", schema.json())
    if mode is WriteMode.OVERWRITE:
        # a full overwrite replaces EVERY fragment, so no stale bytes
        # survive: clear the column-resurrection guard (maintenance
        # overwrites keep old fragment files and must inherit it, which
        # FR.commit does when the key is absent)
        meta.setdefault("dropped_columns", [])
    return FR.commit(path, new_fragments, mode=mode.value, meta=meta,
                     expected_base_version=expected_base_version,
                     storage_options=storage)


# a task flushes its buffered batches as one parquet row group at this
# size (Spark's own parquet.block.size default), or at the file's row cap
ROW_GROUP_BYTES = 128 << 20


@dataclass(frozen=True)
class LanceEncoder:
    """The Lance v2 encoder of ``write_fragment``. ``fields`` is the
    dataset's field list the rows align to (column order plus Arrow-safe
    casts, ``lance_format.align_to_fields``; None keeps the rows' own
    shape); ``evolve`` lets new columns ride after it
    (``align_evolving``). ``structural`` and ``compression`` are the
    codec's page layout and value compression."""

    fields: "list | None" = None
    evolve: bool = False
    structural: str = "2.0"
    compression: str = "none"


def write_fragment(store, root: str, batches, bloom_columns=None,
                   encoder: "LanceEncoder | None" = None
                   ) -> "tuple[str, int, dict] | None":
    """Task side: write ``batches`` as one fragment file under
    ``<root>/data/`` through the storage seam. Returns ``(file, rows,
    stats)`` — the root-relative file, and the zone map, the file's
    sha256 and, for ``bloom_columns``, the entry of the bloom sidecar
    written beside it — or None, writing nothing, when ``batches`` holds
    no rows.

    Without an ``encoder`` the file is parquet, streamed one row group at
    a time; with a ``LanceEncoder`` it is one Lance v2 file, so its rows
    are held together (callers bound them with ``max_rows``)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from .bloom import BLOOM_STATS_KEY, write_bloom_sidecar

    it = (b for b in batches if b.num_rows)
    first = next(it, None)
    if first is None:
        return None
    if encoder is None:
        file = f"{FR.DATA_DIR}/{FR.new_fragment_name()}"
        rows = 0
        kept: list = []  # the bloom columns of every row written
        with store.writing(f"{root}/{file}") as local:
            with pq.ParquetWriter(local, first.schema) as pw:
                buf, size = [], 0
                for b in itertools.chain((first,), it):
                    buf.append(b)
                    size += b.nbytes
                    rows += b.num_rows
                    if bloom_columns:
                        kept.append(b.select([c for c in bloom_columns
                                              if c in b.schema.names]))
                    if size >= ROW_GROUP_BYTES:
                        tbl = pa.Table.from_batches(buf)
                        pw.write_table(tbl, row_group_size=tbl.num_rows)
                        buf, size = [], 0
                if buf:
                    tbl = pa.Table.from_batches(buf)
                    pw.write_table(tbl, row_group_size=tbl.num_rows)
            stats = FR.parquet_fragment_stats(local) or {}
            stats[FR.DIGEST_STATS_KEY] = FR.sha256_of(local)
        bloom_rows = pa.Table.from_batches(kept) if bloom_columns else None
    else:
        import uuid

        from . import lance_format as LF

        file = f"{LF.DATA_DIR}/{uuid.uuid4()}.lance"
        tbl = pa.Table.from_batches(itertools.chain((first,), it))
        if encoder.fields is not None:
            tbl = (LF.align_evolving(tbl, encoder.fields) if encoder.evolve
                   else LF.align_to_fields(tbl, encoder.fields))
        with store.writing(f"{root}/{file}") as local:
            LF.write_native_file(tbl, local, structural=encoder.structural,
                                 compression=encoder.compression)
            stats = LF.arrow_fragment_stats(tbl) or {}
            stats[FR.DIGEST_STATS_KEY] = FR.sha256_of(local)
        rows, bloom_rows = tbl.num_rows, tbl
    if bloom_columns:
        entry = write_bloom_sidecar(store, f"{root}/{file}", bloom_rows,
                                    bloom_columns)
        if entry is not None:
            stats[BLOOM_STATS_KEY] = entry
    return file, rows, stats


def write_fragments(df: DataFrame, path: str, storage: "dict | None",
                    max_rows: int,
                    bloom_columns: "list[str] | None" = None,
                    encoder: "LanceEncoder | None" = None
                    ) -> "list[FR.FragmentInfo]":
    """The one fragment producer: a ``mapInArrow`` stage whose every task
    writes its partition into ``data/`` files of at most ``max_rows`` rows
    (``write_fragment`` with ``encoder``: parquet by default, Lance v2
    with a ``LanceEncoder``) and emits one ``(file, rows, stats)`` row
    per file. NOTHING is committed — the caller owns the manifest. A task
    with no rows writes no file. Returns the fragments ordered by
    (partition, file) so fragment ids stay deterministic regardless of
    task completion order. Arrow-native end to end — no pandas round
    trip, full type fidelity for timestamps/arrays/binary."""
    import json

    from pyspark.sql.types import (IntegerType, LongType, StringType,
                                   StructField, StructType)

    from .fs import absolute

    root = absolute(path)
    max_rows = max(1, int(max_rows))
    bloom_cols = list(bloom_columns or [])

    def produce(batches):
        import json as _json

        import pyarrow as pa
        from pyspark import TaskContext

        from flink_connector_lance_spark.sources.fs import store_for
        from flink_connector_lance_spark.sources.writer import write_fragment

        ctx = TaskContext.get()
        pid = ctx.partitionId() if ctx else 0
        store = store_for(root, storage)
        pending = None

        def take():
            # the next ≤ max_rows rows of the partition, batch by batch
            nonlocal pending
            left = max_rows
            while left:
                b = pending if pending is not None else next(batches, None)
                pending = None
                if b is None:
                    return
                if b.num_rows > left:
                    b, pending = b.slice(0, left), b.slice(left)
                left -= b.num_rows
                yield b

        seq = 0
        while True:
            got = write_fragment(store, root, take(), bloom_cols, encoder)
            if got is None:
                return
            file, rows, stats = got
            yield pa.RecordBatch.from_pydict(
                {"pid": [pid], "seq": [seq], "file": [file], "rows": [rows],
                 "stats": [_json.dumps(stats)]},
                schema=pa.schema([("pid", pa.int64()), ("seq", pa.int32()),
                                  ("file", pa.string()), ("rows", pa.int64()),
                                  ("stats", pa.string())]))
            seq += 1

    out_type = StructType([
        StructField("pid", LongType()), StructField("seq", IntegerType()),
        StructField("file", StringType()), StructField("rows", LongType()),
        StructField("stats", StringType()),
    ])
    rows = df.mapInArrow(produce, out_type).collect()
    rows.sort(key=lambda r: (r.pid, r.seq))
    return [FR.FragmentInfo(i, r.file, r.rows, json.loads(r.stats) or None)
            for i, r in enumerate(rows)]


def _write_lance(df: DataFrame, path: str, mode: WriteMode, opts: DatasetOptions) -> FR.Manifest:
    """Native path: per-partition ``lance.fragment.LanceFragment.create``
    on executors (returns serialized FragmentMetadata), single
    ``lance.LanceOperation.Append/Overwrite`` commit on the driver."""
    import json

    import lance
    from lance.fragment import write_fragments

    from ..types import spark_schema_to_arrow

    schema = spark_schema_to_arrow(df.schema)

    def produce(iterator):
        import pandas as pd
        import pyarrow as pa

        batches = [pa.RecordBatch.from_pandas(pdf, schema=schema) for pdf in iterator]
        if batches:
            frags = write_fragments(
                pa.Table.from_batches(batches, schema=schema),
                path,
                max_rows_per_file=opts.write_max_rows_per_file,
            )
            yield pd.DataFrame({"frag": [json.dumps([f.to_json() for f in frags])]})
        else:
            yield pd.DataFrame({"frag": []})

    metas = df.mapInPandas(produce, schema="frag string").collect()
    frag_metas = [
        lance.fragment.FragmentMetadata.from_json(j)
        for row in metas
        for j in json.loads(row.frag)
    ]
    if mode is WriteMode.OVERWRITE:
        op = lance.LanceOperation.Overwrite(schema, frag_metas)
        read_version = 0
    else:
        ds = lance.dataset(path)
        op = lance.LanceOperation.Append(frag_metas)
        read_version = ds.version
    lance.LanceDataset.commit(path, op, read_version=read_version)
    ds = lance.dataset(path)
    return FR.Manifest(version=ds.version, fragments=[
        FR.FragmentInfo(f.fragment_id, "", f.count_rows()) for f in ds.get_fragments()
    ])


def write_native_pure(df: DataFrame, path: str, mode: "str | WriteMode" = WriteMode.APPEND,
                      options: DatasetOptions | None = None,
                      commit_meta: dict | None = None,
                      expected_base_version: "int | None" = None):
    """Distributed REAL-Lance-format write WITHOUT the lance package:
    ``write_fragments`` with a ``LanceEncoder`` — every task encodes its
    partition into ``data/<uuid>.lance`` v2 files of at most
    ``write.max-rows-per-file`` rows through the stdlib codec
    (sources/lance_format.py — the same bytes lance 0.24 writes,
    byte-identity pinned against the reference's fixtures in
    tests/test_lance_native_write.py), then the driver commits ONE binary
    manifest version over the collected (file, rows, stats) entries —
    the same two-phase shape as the emulated write (ref
    LanceSink.java:133-199 buffers + commits per subtask instead).
    ``native_layout`` and ``native_compression`` are the encoder's page
    layout and value compression.

    A failed/retried task leaves an unreferenced ``.lance`` file that no
    manifest points at — garbage, never a correctness hazard. On an
    s3:// path (credentials in ``options.s3``) every task PUTs its
    encoded files straight to the object store and the manifest commits
    with a conditional PUT — real Lance datasets written executor-direct
    onto S3, the reference's own deployment story. Returns the committed
    ``NativeManifest``."""
    from ..types import spark_schema_to_arrow
    from . import lance_format as LF

    opts = options or DatasetOptions(path=path)
    mode = WriteMode.parse(mode)
    if mode not in (WriteMode.APPEND, WriteMode.OVERWRITE):
        raise ValueError(f"unsupported mode {mode} for native-format write")
    storage = opts.s3.to_storage_options() if opts.s3 else None
    widened = False
    if mode is WriteMode.APPEND and LF.native_manifest_versions(path, storage):
        # append-time contract: reorder the batch to the live manifest's
        # column order here (one driver-side select) and let each task
        # arrow-cast to the recorded types (e.g. Spark's µs timestamps
        # into a ms column — safe cast, refuses on precision loss).
        # With write.schema-evolution, NEW columns ride after the live
        # schema (old fragments null-fill on read through the field-id /
        # name indirection) and batch-missing ones land as typed nulls;
        # type changes and resurrected dropped names always refuse.
        from ..types import arrow_schema_to_spark
        from .schema_evolution import align_for_append, native_dropped_columns

        live = LF.read_native_manifest(path, storage_options=storage)
        base = LF.arrow_schema_of(live.fields)
        df = align_for_append(df, arrow_schema_to_spark(base),
                              opts.schema_evolution,
                              dropped=native_dropped_columns(path, storage))
        extras = [c for c in df.columns if c not in set(base.names)]
        fields = live.fields
        if extras:
            inc = spark_schema_to_arrow(df.schema)
            fields = LF.widen_fields(live.fields, [inc.field(c) for c in extras])
            widened = True
    else:
        # unsupported types fail here, BEFORE the job launches (the
        # task-side encoder would raise the same error 200 times otherwise)
        fields = LF.fields_of_arrow_schema(spark_schema_to_arrow(df.schema))
    if opts.sort_columns:
        if opts.cluster_on_write:
            df = df.repartitionByRange(*opts.sort_columns)
        df = df.sortWithinPartitions(*opts.sort_columns)
    new = write_fragments(df, path, storage, opts.write_max_rows_per_file,
                          opts.bloom_columns,
                          LanceEncoder(fields, structural=opts.native_layout,
                                       compression=opts.native_compression))
    # commit metadata rides in the manifest's public table-config slot
    # (Manifest.config, one spark.flc.meta.<key> entry per key, JSON
    # values) — a real lance reader carries the entries verbatim
    config = _meta_to_config(commit_meta) or {}
    if mode is WriteMode.OVERWRITE:
        # a full overwrite replaces EVERY fragment, so no stale bytes
        # survive: clear the column-resurrection guard (config tombstone
        # — same contract as the emulated overwrite's dropped_columns=[])
        config.setdefault(f"{META_CONFIG_PREFIX}dropped_columns", None)
    # append on a fresh directory bootstraps version 1 (commit_native
    # treats an empty version chain as the zero state)
    return LF.commit_native(path, fields, native_files(new), mode.value,
                            config=config,
                            expected_base_version=expected_base_version,
                            allow_widen=widened,
                            storage_options=storage)


META_CONFIG_PREFIX = "spark.flc.meta."


def _meta_to_config(commit_meta: dict | None) -> "dict | None":
    """Engine commit metadata -> native manifest config entries: one
    ``spark.flc.meta.<key>`` key per entry, JSON-encoded value (the
    emulated backend's manifest ``meta`` dict, expressed in the only
    free-form slot the public binary format has)."""
    import json

    if not commit_meta:
        return None
    return {f"{META_CONFIG_PREFIX}{k}": json.dumps(v, sort_keys=True)
            for k, v in commit_meta.items()}


def native_files(fragments: "list[FR.FragmentInfo]") -> "list[tuple]":
    """``write_fragments`` output as ``commit_native``'s ``(file, rows,
    stats)`` entries (binary manifests name files relative to ``data/``)."""
    return [(f.file.split("/", 1)[1], f.row_count, f.stats)
            for f in fragments]
