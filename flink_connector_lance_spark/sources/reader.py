"""Dataset reader — the engine's analog of the reference scan surface
(ref LanceSource.java:147-283, LanceInputFormat.java:100-198).

``read_dataset(spark, path, ...)`` is the one read entry. It returns a
DataFrame with the reference's pushdown surface applied: column pruning
(§2.2), filter forwarding (§2.3), limit (§2.4), version pinning (MVCC
read). It reads the manifest once (an s3:// path takes its credentials
from ``options.s3``) and hands the fragment files to
``read_fragment_files``, which holds the only read-side location branch:

- a local parquet-fragment dataset takes Spark's JVM parquet scan;
- a binary Lance dataset, local or s3, takes the decoder scan
  (``read_native_files``: one task per file, columns pruned inside the
  decoder);
- a parquet-fragment dataset on s3 takes the ``format("lance")``
  datasource, because Spark has no s3 filesystem here.

Every Python-side fragment read (the datasource's scan and count, the
streaming source, the decoder scan) goes through one per-file reader,
``read_file(store, file, target, ...)``: it opens the file through the
storage seam's ``store.open`` (sources/fs.py), and the decoder, parquet
or Lance, is its only variable.

Execution model — deliberately NOT the reference's:

- The reference degrades to a single subtask whenever a filter or limit
  is present (ref LanceSource.java:156-170). Here every fragment scans in
  parallel with the filter applied per-fragment and limits planned as
  per-partition early exit + global limit (Catalyst ``CollectLimit``).
- Fragment == input partition: we hand Spark the explicit fragment file
  list, so task count tracks the manifest exactly (one task per fragment
  file, subject to Spark's split packing for small fragments — the
  right behavior at 100 TB where tiny-fragment coalescing matters).
- Filters arrive either as DataFrame ``Column``s (preferred — Catalyst
  pushes them into the parquet scan) or as the reference-style SQL
  filter string (``read.filter`` option — ref config/LanceOptions.java:83-87)
  which is applied via ``F.expr`` and *still* pushed down by Catalyst.
"""

from __future__ import annotations

from typing import TYPE_CHECKING, Iterator

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..options import DatasetOptions
from . import fragments as FR

if TYPE_CHECKING:  # pragma: no cover
    import pyarrow as pa


def read_dataset(
    spark: SparkSession,
    path: str,
    columns: list[str] | None = None,
    filter: "Column | str | None" = None,
    limit: int | None = None,
    version: int | None = None,
    options: DatasetOptions | None = None,
) -> DataFrame:
    opts = options or DatasetOptions(path=path)
    if FR.HAVE_LANCE:  # native path (exercised via the fake lance in tests)
        return _read_lance(spark, path, columns, filter, limit, version, opts)
    manifest = FR.read_manifest_compat(
        path, version, opts.s3.to_storage_options() if opts.s3 else None)
    files = FR.fragment_paths(path, manifest)
    if not files and "schema" not in manifest.meta:
        raise FileNotFoundError(f"dataset {path} (v{manifest.version}) has no fragments")
    # the decoder prunes columns itself; a filter may reference columns
    # outside the projection, so then it decodes everything and the
    # projection applies after the filter
    cols = columns or opts.read_columns or None
    filtered = filter is not None or bool(opts.read_filter)
    df = read_fragment_files(spark, manifest, files,
                             columns=None if filtered else cols, s3=opts.s3)
    return _apply_pushdowns(df, columns, filter, limit, opts)


def _apply_pushdowns(df: DataFrame, columns, filter, limit, opts: DatasetOptions) -> DataFrame:
    # configured read.filter composes by AND with the query filter
    # (ref table/LanceDynamicTableSource.java:350-363)
    if opts.read_filter:
        df = df.filter(F.expr(opts.read_filter))
    if filter is not None:
        df = df.filter(F.expr(filter) if isinstance(filter, str) else filter)
    cols = columns or opts.read_columns
    if cols:
        df = df.select(*cols)
    lim = limit if limit is not None else opts.read_limit
    if lim is not None:
        df = df.limit(lim)  # limit 0 is valid (ref LanceOptions.java:725-728)
    return df


def read_fragment_files(spark, manifest: "FR.Manifest", files: list[str],
                        deletion_source: "FR.Manifest | None" = None,
                        where=None, file_col: "str | None" = None,
                        columns: "list[str] | None" = None,
                        s3=None) -> DataFrame:
    """Scan explicit fragment files (absolute paths or s3 urls) RESOLVED
    AGAINST the manifest schema, filtered by ``where``, with ``file_col``
    naming each row's root-relative fragment file (``data/<name>``) when
    asked. ``s3`` (an ``options.S3Options``) carries the credentials of
    an s3:// dataset. The only read-side location branch:

    - a local parquet-fragment manifest takes Spark's JVM parquet scan
      under the recorded schema: after schema evolution fragments are
      heterogeneous, and a raw ``spark.read.parquet(files)`` samples ONE
      file's schema — silently dropping the newer columns from every
      other fragment. With the recorded schema, fragments resolve by
      name and pre-evolution files null-fill, with no mergeSchema footer
      sweep at plan time. ``where`` is pushed into the parquet scan; the
      file comes from ``input_file_name()``, taken after the filter (a
      nondeterministic projection below it would stop the pushdown) and
      at the scan (it is '' once a shuffle has moved the row off its
      input split);
    - a binary Lance manifest (FR.read_manifest_compat), local or s3,
      takes the decoder scan (``read_native_files``), ``columns`` pruned
      inside the decoder and the file taken from the decoder's own file
      column. Deletion-vector tombstones mask per the fragments of
      ``deletion_source`` (default: ``manifest``) — a CDC pre-image read
      of files REMOVED since ``from_version`` must mask with the FROM
      version's vectors, which the to-version manifest no longer
      carries;
    - a parquet-fragment manifest on s3 takes the ``format("lance")``
      datasource pinned to ``manifest.version``: a file subset becomes
      ``read.file-column`` plus an ``isin`` on it, which prunes
      partitions at planning time."""
    from .fs import is_remote

    if manifest.meta.get("native_lance"):
        from . import lance_format as LF

        deletions = {f: deletion_file(f[: -len(fr.file) - 1], fr)
                     for fr in (deletion_source or manifest).fragments
                     if fr.deletion
                     for f in files if f.endswith("/" + fr.file)}
        if files:
            df = read_native_files(spark, manifest.meta["native_fields"], files,
                                   columns, file_col=file_col,
                                   deletions=deletions,
                                   storage_options=(s3.to_storage_options()
                                                    if s3 is not None else None))
        else:  # an empty table (a DELETE left no rows)
            from ..types import arrow_schema_to_spark

            df = spark.createDataFrame([], arrow_schema_to_spark(
                LF.arrow_schema_of(manifest.meta["native_fields"], columns)))
            if file_col:
                df = df.withColumn(file_col, F.lit(None).cast("string"))
        if where is not None:
            df = df.filter(where)
        if file_col:  # the decoder's file column holds the full path
            df = df.withColumn(file_col,
                               F.substring_index(F.col(file_col), "/", -2))
        return df
    if files and is_remote(files[0]):
        from .datasource import register_lance_datasource

        register_lance_datasource(spark)
        first = next(fr.file for fr in manifest.fragments
                     if files[0].endswith("/" + fr.file))
        root = files[0][: -len(first) - 1]
        rel = sorted(f[len(root) + 1:] for f in files)
        subset = rel != sorted(fr.file for fr in manifest.fragments)
        r = (spark.read.format("lance")
             .option("version", str(manifest.version)))
        if s3 is not None:
            r = r.options(**s3.to_option_map())
        if subset or file_col:
            r = r.option("read.file-column", "__frag")
        df = r.load(root)
        if subset:
            df = df.filter(F.col("__frag").isin(*rel))
        if where is not None:
            df = df.filter(where)
        return (df.withColumnRenamed("__frag", file_col) if file_col
                else df.drop("__frag"))
    schema_json = manifest.meta.get("schema")
    if schema_json:
        import json

        from pyspark.sql.types import StructType

        st = StructType.fromJson(json.loads(schema_json))
        df = (spark.read.schema(st).parquet(*files) if files
              # an empty table (a write or DELETE left no rows)
              else spark.createDataFrame([], st))
    else:
        df = spark.read.parquet(*files)
    if where is not None:
        df = df.filter(where)
    if file_col:
        df = df.withColumn(file_col,
                           F.substring_index(F.input_file_name(), "/", -2))
    return df


def deletion_file(root: str, f: "FR.FragmentInfo") -> "str | None":
    """The deletion-vector file of fragment ``f`` of the dataset at
    ``root``, None when it has none."""
    if not f.deletion:
        return None
    from . import lance_format as LF

    return LF._deletion_path(root, f)  # keyed by fragment id + descriptor


def arrow_target(schema) -> "pa.Schema":
    """The Arrow schema a Python read hands Spark for a Spark schema.
    Per type, blind to field metadata: a declared vector dimension does
    NOT re-materialize FixedSizeList, because Spark's Arrow bridge only
    ingests plain lists (the dimension stays recorded in the schema
    metadata and the manifest)."""
    import pyarrow as pa

    from ..types import spark_type_to_arrow

    return pa.schema([pa.field(f.name, spark_type_to_arrow(f.dataType))
                      for f in schema])


def read_file(store, file: str, target: "pa.Schema", pushed=(),
              deletion: "str | None" = None,
              batch_size: int = 10_000) -> "Iterator[pa.RecordBatch]":
    """The rows of one fragment file, as Arrow batches aligned BY NAME to
    ``target``: columns a (pre-evolution) file predates null-fill,
    columns it carries beyond ``target`` (dropped ones) are never read,
    types cast. The file opens through ``store.open``, local or s3; the
    decoder is the only variable:

    - parquet: the footer's per-row-group stats are tested against
      ``pushed`` (typed datasource filters — the conservative zone-map
      predicate, ``_row_group_may_match``) and only the surviving row
      groups are read, projected to the target columns the file holds:
      a point filter costs O(matching row groups), not O(file);
    - Lance (``.lance``): the stdlib decoder reads only the target
      columns' buffers, then ``deletion`` (the fragment's deletion-vector
      file) masks tombstoned rows by physical offset.

    ``pushed`` then filters every aligned batch exactly, so a filter on
    a column the file predates sees nulls: IS NULL passes every row and
    every other pushed shape passes none. ``batch_size`` bounds the rows
    of a batch (the default is Spark's own Arrow batch size)."""
    import pyarrow as pa

    from .datasource import _align_batch, _filter_to_arrow, _row_group_may_match

    expr = None
    for f in pushed:
        e = _filter_to_arrow(f)
        expr = e if expr is None else (expr & e)
    with store.open(file, "rb") as fh:
        if file.endswith(".lance"):
            from . import lance_format as LF

            fields, n_rows = LF.file_descriptor(fh, file)
            have = {f.name for f in fields if f.parent == -1}
            present = [n for n in target.names if n in have]
            # no target column in the file: only its row count matters
            tbl = (LF.decode_native_file(fh, file, present) if present
                   else pa.table({"": pa.nulls(n_rows)}))
            if deletion is not None:
                with store.open(deletion, "rb") as dh:
                    tbl = LF.apply_deletion_mask(
                        tbl, LF.deletion_offsets(dh.read(), deletion))
            batches = tbl.to_batches(max_chunksize=batch_size)
        else:
            import pyarrow.parquet as papq

            pf = papq.ParquetFile(fh)
            have = set(pf.schema_arrow.names)
            groups = [i for i in range(pf.metadata.num_row_groups)
                      if _row_group_may_match(pf.metadata.row_group(i), pushed)]
            batches = (pf.iter_batches(
                batch_size=batch_size, row_groups=groups,
                columns=[n for n in target.names if n in have])
                if groups else ())
        for batch in batches:
            if batch.schema != target:
                batch = _align_batch(batch, target)
            if expr is None:
                yield batch
            else:
                yield from pa.Table.from_batches([batch]).filter(expr).to_batches()


def read_native_files(spark, fields, files: "list[str]",
                      columns: "list[str] | None" = None,
                      file_col: "str | None" = None,
                      deletions: "dict[str, str] | None" = None,
                      pos_col: "str | None" = None,
                      storage_options: "dict | None" = None) -> DataFrame:
    """Fragment-subset scan of native v2 files (full absolute paths or s3
    urls) — the decoder scan of ``read_fragment_files``, exposed for the
    maintenance passes that need physical offsets. One file == one
    mapInArrow task, each file read by ``read_file`` with the decoder's
    column pruning. ``file_col`` appends the source file path to every
    row (the native twin of ``input_file_name()`` — the affected-fragment
    probe the copy-on-write rewrites key on). ``deletions`` maps data
    file -> deletion-vector file (lance_format.native_deletion_paths):
    each task masks its own fragment's tombstones right after decode —
    the driver never reads a deletion file. ``pos_col`` appends each
    row's PHYSICAL offset within its file (assigned before the deletion
    mask — the handle a deletion-vector DELETE tombstones by)."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from ..types import arrow_schema_to_spark
    from . import lance_format as LF

    spark_schema = arrow_schema_to_spark(LF.arrow_schema_of(fields, columns))
    # alignment is by NAME against each file's own descriptor, so a
    # mixed-schema fragment set (metadata drop_columns, evolving appends)
    # reads uniformly: predating files null-fill, dropped columns are
    # never requested
    target = arrow_target(spark_schema)
    extra = ([StructField(pos_col, LongType())] if pos_col else []) + (
        [StructField(file_col, StringType())] if file_col else [])
    spark_schema = StructType(list(spark_schema.fields) + extra)
    deletions = dict(deletions or {})

    def scan(iterator):
        import pyarrow as pa

        from flink_connector_lance_spark.sources import lance_format as _LF
        from flink_connector_lance_spark.sources.fs import store_for
        from flink_connector_lance_spark.sources.reader import read_file

        for batch in iterator:
            for i in batch.column("id").to_pylist():
                fpath = files[i]
                store = store_for(fpath, storage_options)
                if pos_col is None:
                    out = read_file(store, fpath, target,
                                    deletion=deletions.get(fpath))
                else:  # physical offsets: taken BEFORE the deletion mask
                    tbl = pa.Table.from_batches(
                        list(read_file(store, fpath, target)), target)
                    tbl = tbl.append_column(
                        pos_col, pa.array(range(tbl.num_rows), pa.int64()))
                    if fpath in deletions:
                        tbl = _LF.apply_deletion_mask(
                            tbl, _LF.read_deletion_offsets_at(
                                deletions[fpath], storage_options))
                    out = tbl.to_batches()
                for b in out:
                    if file_col is not None:
                        b = b.append_column(
                            file_col, pa.array([fpath] * b.num_rows, pa.string()))
                    yield b

    # partition i holds the one id i: one task per file, in list order,
    # with no shuffle
    seed = spark.range(0, len(files), 1, max(len(files), 1))
    return seed.mapInArrow(scan, schema=spark_schema)


def _read_lance(spark, path, columns, filter, limit, version, opts) -> DataFrame:
    """Native path: driver lists fragments (metadata-only), executors scan
    their fragment via the lance Python API inside mapInArrow — one task
    per fragment, Arrow end-to-end (SURVEY.md §1.1 Spark mapping)."""
    import lance

    from ..types import arrow_schema_to_spark

    ds = lance.dataset(path, version=version)
    frag_ids = [f.fragment_id for f in ds.get_fragments()]
    schema = arrow_schema_to_spark(ds.schema)
    cols = columns or opts.read_columns
    filt = filter if isinstance(filter, str) else None

    def scan(iterator):
        import lance as _lance

        dset = _lance.dataset(path, version=version)
        for arrow_batch in iterator:  # mapInArrow yields pyarrow.RecordBatch
            for fid in arrow_batch.column("fragment_id").to_pylist():
                frag = dset.get_fragment(int(fid))
                for batch in frag.to_batches(columns=cols, filter=filt,
                                             batch_size=opts.read_batch_size):
                    yield batch

    import pandas as pd

    seed = spark.createDataFrame(pd.DataFrame({"fragment_id": frag_ids})).repartition(
        max(len(frag_ids), 1), "fragment_id"
    )
    out_schema = schema if not cols else type(schema)([schema[c] for c in cols])
    df = seed.mapInArrow(scan, schema=out_schema)
    # residual filter / limit still applied engine-side for correctness
    return _apply_pushdowns(df, None, None if filt else filter, limit, opts)


def count_rows(path: str, version: int | None = None) -> int:
    """COUNT(*) fast path from fragment metadata without scanning data
    (ref fragment.countRows analog — LanceInputFormat.java:117)."""
    if FR.HAVE_LANCE:  # native path (exercised via the fake lance in tests)
        import lance

        return lance.dataset(path, version=version).count_rows()
    return FR.read_manifest_compat(path, version).row_count
