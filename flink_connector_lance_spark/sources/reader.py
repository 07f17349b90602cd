"""Dataset reader — the engine's analog of the reference scan surface
(ref LanceSource.java:147-283, LanceInputFormat.java:100-198).

``read_dataset(spark, path, ...)`` returns a DataFrame with the
reference's pushdown surface applied: column pruning (§2.2), filter
forwarding (§2.3), limit (§2.4), version pinning (MVCC read).

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

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..options import DatasetOptions
from . import fragments as FR


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
    return _read_local(spark, path, columns, filter, limit, version, opts)


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
                        where=None, file_col: "str | None" = None) -> DataFrame:
    """Scan explicit fragment files RESOLVED AGAINST the manifest schema,
    filtered by ``where``, with ``file_col`` naming each row's
    root-relative fragment file (``data/<name>``: the path's last two
    segments) when asked.

    Every internal scan (reads, maintenance rewrites) must go through
    this: after schema evolution, fragments are heterogeneous, and a raw
    ``spark.read.parquet(files)`` samples ONE file's schema — silently
    dropping the newer columns from every other fragment (data loss if
    the scan feeds a rewrite). With the recorded schema, fragments
    resolve by name and pre-evolution files null-fill. One manifest read;
    no mergeSchema footer sweep over the file listing at plan time (the
    O(files) cost that kills planning at 100 TB). ``where`` is pushed
    into the parquet scan; the file comes from ``input_file_name()``,
    taken after the filter (a nondeterministic projection below it would
    stop the pushdown) and at the scan (it is '' once a shuffle has moved
    the row off its input split).

    A native-adapted manifest (FR.read_manifest_compat over a binary
    Lance dataset) routes its ``.lance`` files through the pure decoder
    — same one-task-per-file shape, the file taken from the decoder's
    own file column. Deletion-vector tombstones mask per the fragments
    of ``deletion_source`` (default: ``manifest``) — a CDC pre-image read
    of files REMOVED since ``from_version`` must mask with the FROM
    version's vectors, which the to-version manifest no longer carries."""
    if manifest.meta.get("native_lance"):
        from . import lance_format as LF

        deletions = {}
        for fr in (deletion_source or manifest).fragments:
            if not fr.deletion:
                continue
            for f in files:
                if f.endswith("/" + fr.file):
                    root = f[: -len("/" + fr.file)]
                    deletions[f] = LF._deletion_path(root, LF.NativeFragmentInfo(
                        fr.fragment_id, fr.file, fr.row_count,
                        deletion=fr.deletion))
        if files:
            df = read_native_files(spark, manifest.meta["native_fields"], files,
                                   file_col=file_col, deletions=deletions)
        else:  # an empty table (a DELETE left no rows)
            from ..types import arrow_schema_to_spark

            df = spark.createDataFrame([], arrow_schema_to_spark(
                LF.arrow_schema_of(manifest.meta["native_fields"])))
            if file_col:
                df = df.withColumn(file_col, F.lit(None).cast("string"))
        if where is not None:
            df = df.filter(where)
        if file_col:  # the decoder's file column holds the full path
            df = df.withColumn(file_col,
                               F.substring_index(F.col(file_col), "/", -2))
    else:
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


def _read_local(spark, path, columns, filter, limit, version, opts) -> DataFrame:
    try:
        manifest = FR.read_manifest(path, version)
    except FR.LanceUnavailableError:
        # binary N.manifest (a real Lance dataset, e.g. the reference's
        # committed fixtures) and no native lib: the pure-Python v2
        # decoder (sources/lance_format.py) serves the read instead
        return _read_native_pure(spark, path, columns, filter, limit, version, opts)
    files = FR.fragment_paths(path, manifest)
    if not files and "schema" not in manifest.meta:
        raise FileNotFoundError(f"dataset {path} (v{manifest.version}) has no fragments")
    df = read_fragment_files(spark, manifest, files)
    return _apply_pushdowns(df, columns, filter, limit, opts)


def _read_native_pure(spark, path, columns, filter, limit, version, opts) -> DataFrame:
    """Native Lance v2 dataset WITHOUT the lance package: same execution
    model as ``_read_lance`` (one fragment file == one mapInArrow task;
    driver touches only the manifest), but each task decodes its
    fragment with the stdlib-only reader in sources/lance_format.py.
    Column pruning happens inside the decoder (unselected columns'
    buffers are never read); filters/limits apply engine-side on the
    decoded batches, mirroring the reference's post-scan filter chain
    (ref LanceSource.java:156-170 degrades to one subtask there — here
    fragments stay parallel)."""
    from . import lance_format as LF

    mf = LF.read_native_manifest(path, version)
    cols = columns or opts.read_columns or None
    if cols is not None and (filter is not None or opts.read_filter):
        # the filter may reference columns outside the projection (the
        # parquet route scans full-schema and selects AFTER filtering) —
        # decode everything and let _apply_pushdowns project post-filter
        decode_cols, select_cols = None, cols
    else:
        decode_cols, select_cols = cols, None
    files = [f"{str(path).rstrip('/')}/{LF.DATA_DIR}/{fr.file}" for fr in mf.fragments]
    if not files:
        raise FileNotFoundError(f"dataset {path} (v{mf.version}) has no fragments")
    df = read_native_files(spark, mf.fields, files, decode_cols,
                           deletions=LF.native_deletion_paths(path, mf))
    return _apply_pushdowns(df, select_cols, filter, limit, opts)


def read_native_files(spark, fields, files: "list[str]",
                      columns: "list[str] | None" = None,
                      file_col: "str | None" = None,
                      deletions: "dict[str, str] | None" = None,
                      pos_col: "str | None" = None,
                      storage_options: "dict | None" = None) -> DataFrame:
    """Fragment-subset scan of native v2 files (full absolute paths) —
    the core of ``_read_native_pure``, exposed for maintenance rewrites
    that touch only SOME fragments (compaction of runts, copy-on-write
    DELETE/MERGE). One file == one mapInArrow task; pruning stays inside
    the decoder. ``file_col`` appends the source file path to every row
    (the native twin of ``input_file_name()`` — the affected-fragment
    probe the copy-on-write rewrites key on). ``deletions`` maps data
    file -> deletion-vector file (lance_format.native_deletion_paths):
    each task masks its own fragment's tombstones right after decode —
    the driver never reads a deletion file. ``pos_col`` appends each
    row's PHYSICAL offset within its file (assigned before the deletion
    mask — the handle a deletion-vector DELETE tombstones by)."""
    from ..types import arrow_schema_to_spark, spark_type_to_arrow
    from . import lance_format as LF

    arrow_schema = LF.arrow_schema_of(fields, columns)
    spark_schema = arrow_schema_to_spark(arrow_schema)
    extra_fields = []
    if pos_col is not None:
        from pyspark.sql.types import LongType, StructField

        extra_fields.append(StructField(pos_col, LongType()))
    if file_col is not None:
        from pyspark.sql.types import StringType, StructField

        extra_fields.append(StructField(file_col, StringType()))
    if extra_fields:
        from pyspark.sql.types import StructType

        spark_schema = StructType(list(spark_schema.fields) + extra_fields)
    deletions = dict(deletions or {})

    def scan(iterator):
        import pyarrow as pa

        from flink_connector_lance_spark.sources import lance_format as _LF

        # Spark's Arrow bridge expects µs timestamps etc. — align each
        # decoded file to the exact types the declared schema implies.
        # Alignment is by NAME against the file's own descriptor, so a
        # mixed-schema fragment set (metadata drop_columns, evolving
        # appends) reads uniformly: predating files null-fill, dropped
        # columns are never requested.
        target = pa.schema([
            pa.field(f.name, spark_type_to_arrow(f.dataType))
            for f in spark_schema if f.name not in (file_col, pos_col)
        ])
        for batch in iterator:
            for i in batch.column("id").to_pylist():
                fpath = files[i]
                ffields, fn_rows = _LF.read_file_descriptor(fpath,
                                                            storage_options)
                avail = {f.name for f in ffields if f.parent == -1}
                present = [n for n in target.names if n in avail]
                if present:
                    tbl = _LF.align_decoded_table(
                        _LF.read_native_file(fpath, columns=present,
                                             storage_options=storage_options),
                        target)
                else:
                    tbl = pa.Table.from_arrays(
                        [pa.nulls(fn_rows, f.type) for f in target],
                        schema=target)
                if pos_col is not None:  # physical offsets: BEFORE the mask
                    tbl = tbl.append_column(
                        pos_col, pa.array(range(tbl.num_rows), pa.int64()))
                if fpath in deletions:
                    tbl = _LF.apply_deletion_mask(
                        tbl, _LF.read_deletion_offsets_at(deletions[fpath],
                                                          storage_options))
                if file_col is not None:
                    tbl = tbl.append_column(
                        file_col, pa.array([fpath] * tbl.num_rows, pa.string()))
                yield from tbl.to_batches()

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
    try:
        return FR.read_manifest(path, version).row_count
    except FR.LanceUnavailableError:
        from . import lance_format as LF

        return LF.native_count_rows(path, version)
