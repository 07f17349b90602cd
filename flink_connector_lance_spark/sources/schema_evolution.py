"""Schema evolution for the versioned dataset: add or drop columns on
append without rewriting history.

The native Lance format evolves schemas as a first-class commit (the
reference connector itself is static-schema: its sink writes whatever
the Flink table schema declared — ref table/LanceDynamicTableSink.java).
Here evolution is the lakehouse-standard contract:

- the authoritative table schema rides in the manifest meta (``schema``
  key, Spark StructType JSON), written by every ``write_dataset`` commit
  and inherited by maintenance commits (compaction/DELETE/MERGE/vacuum
  never change the schema);
- an APPEND whose columns differ from the table schema is refused unless
  ``DatasetOptions.schema_evolution`` is set (``write.schema-evolution``),
  mirroring Spark's own ``mergeSchema`` opt-in;
- with evolution on, new columns append to the schema (old fragments
  simply lack them — readers null-fill), columns missing from the batch
  are written as typed nulls, and TYPE changes are always refused (no
  silent widening/narrowing);
- readers resolve fragments against the manifest schema BY NAME, so a
  100 TB table evolves in O(1): no fragment is rewritten, no mergeSchema
  footer sweep over the file listing at plan time (the schema is one
  manifest read).

Time travel composes: each version's manifest carries the schema that
was current at that commit, so reading v_old shows the pre-evolution
columns.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from . import fragments as FR


def dataset_schema(path: str, version: int | None = None,
                   storage_options: dict | None = None,
                   manifest: "FR.Manifest | None" = None) -> StructType:
    """The table schema at ``version`` (default latest, or of an already
    read ``manifest``): the manifest's recorded schema when present, else
    derived from the first fragment's parquet footer (pre-evolution
    datasets) — metadata-only either way."""
    if manifest is None:
        manifest = FR.read_manifest(path, version, storage_options)
    sj = manifest.meta.get("schema")
    if sj:
        return StructType.fromJson(json.loads(sj))
    if not manifest.fragments:
        raise FileNotFoundError(
            f"dataset {path} (v{manifest.version}) has no fragments and no recorded schema"
        )
    import pyarrow.parquet as pq

    from ..types import arrow_schema_to_spark
    from .fs import store_for

    with store_for(path, storage_options).open(
            os.path.join(path, manifest.fragments[0].file), "rb") as fh:
        return arrow_schema_to_spark(pq.read_schema(fh))


def dropped_columns(path: str, version: int | None = None,
                    storage_options: dict | None = None) -> list[str]:
    """Column names dropped from this dataset (manifest-tracked): the
    column-resurrection guard — an evolving append may not re-introduce a
    dropped name, because old fragments still physically carry the stale
    values and name-based resolution would silently read them back. A
    rewriting ``add_column`` clears the name (no old fragment survives)."""
    return list(FR.read_manifest(path, version, storage_options)
                .meta.get("dropped_columns", []))


def align_for_append(df: DataFrame, current: StructType,
                     allow_evolution: bool, dropped: list[str] | None = None) -> DataFrame:
    """Project ``df`` onto the append-compatible schema.

    Same column set -> reorder to the table's order (fragment files stay
    uniform). Different set -> refused unless ``allow_evolution``; then
    the output schema is the table's columns (batch-missing ones as typed
    nulls) followed by the batch's NEW columns. A column present on both
    sides with a different type is always an error, as is re-adding a
    previously dropped column (see ``dropped_columns``)."""
    cur = {f.name: f for f in current.fields}
    inc = {f.name: f for f in df.schema.fields}
    added = [n for n in df.schema.names if n not in cur]
    missing = [n for n in current.names if n not in inc]
    resurrected = [n for n in added if n in set(dropped or [])]
    if resurrected:
        raise ValueError(
            f"cannot re-add dropped column(s) {resurrected}: old fragments still "
            "carry the stale values and name-based resolution would read them "
            "back; use add_column (full backfill rewrite) to re-introduce the name"
        )
    conflicts = [
        (n, str(cur[n].dataType), str(inc[n].dataType))
        for n in current.names
        if n in inc and cur[n].dataType != inc[n].dataType
    ]
    if conflicts:
        detail = ", ".join(f"{n}: table {t} vs batch {b}" for n, t, b in conflicts)
        raise ValueError(f"schema evolution cannot change column types ({detail})")
    if (added or missing) and not allow_evolution:
        raise ValueError(
            "append schema differs from table schema "
            f"(new columns: {added or 'none'}, missing columns: {missing or 'none'}); "
            "set write.schema-evolution=true (DatasetOptions.schema_evolution) to evolve"
        )
    cols = [
        F.col(n) if n in inc else F.lit(None).cast(cur[n].dataType).alias(n)
        for n in current.names
    ] + [F.col(n) for n in added]
    return df.select(*cols)


def align_check_for_commit(path: str, incoming: StructType,
                           allow_evolution: bool,
                           storage_options: dict | None = None) -> dict:
    """Append-time schema contract for writers that can no longer reshape
    the data (the format("lance") path validates at COMMIT, after
    executors already wrote fragments): verify ``incoming`` against the
    table schema and return the commit meta to use.

    Same column set -> commit under the canonical table schema (order is
    irrelevant: reads resolve by name). A differing set needs evolution
    opt-in and commits the union schema (table order first, new columns
    after); type changes and resurrected dropped names always raise."""
    current = dataset_schema(path, storage_options=storage_options)
    cur = {f.name: f for f in current.fields}
    inc = {f.name: f for f in incoming.fields}
    conflicts = [
        (n, str(cur[n].dataType), str(inc[n].dataType))
        for n in current.names
        if n in inc and cur[n].dataType != inc[n].dataType
    ]
    if conflicts:
        detail = ", ".join(f"{n}: table {t} vs batch {b}" for n, t, b in conflicts)
        raise ValueError(f"schema evolution cannot change column types ({detail})")
    added = [n for n in incoming.names if n not in cur]
    missing = [n for n in current.names if n not in inc]
    resurrected = [n for n in added
                   if n in set(dropped_columns(
                       path, storage_options=storage_options))]
    if resurrected:
        raise ValueError(
            f"cannot re-add dropped column(s) {resurrected}: old fragments still "
            "carry the stale values; use add_column to re-introduce the name"
        )
    if not added and not missing:
        return {"schema": current.json()}
    if not allow_evolution:
        raise ValueError(
            "append schema differs from table schema "
            f"(new columns: {added or 'none'}, missing columns: {missing or 'none'}); "
            "set write.schema-evolution=true to evolve"
        )
    evolved = StructType(list(current.fields) + [nullable(inc[n]) for n in added])
    return {"schema": evolved.json()}


def nullable(f: StructField) -> StructField:
    """``f`` declared nullable: an added column reads as null in every
    fragment that predates it, whatever the batch that added it said."""
    return StructField(f.name, f.dataType, True, f.metadata)


def drop_columns(path: str, cols: list[str],
                 storage_options: dict | None = None) -> FR.Manifest:
    """Drop columns in O(1): a metadata-only commit that narrows the
    manifest schema — NO fragment is touched, the physical bytes simply
    become invisible to readers (both read paths resolve by the manifest
    schema). The native twin forwards to ``lance.dataset(path)
    .drop_columns`` (Lance's own metadata-only drop). Old versions keep
    the column (time travel); the name is recorded in
    ``dropped_columns`` so a later append cannot resurrect stale values.
    Works on s3:// native datasets too (metadata-only: one manifest read
    + one CAS commit through fsspec with ``storage_options``)."""
    from . import lance_format as LF
    from .fs import is_remote

    if not cols:
        raise ValueError("drop_columns requires at least one column")
    if LF.is_native_dataset(path, storage_options):
        return _drop_columns_native(path, cols, storage_options)
    if FR.HAVE_LANCE and not is_remote(path):  # fake lance in tests
        import lance

        # same guards as the emulated backend (against the native schema)
        names = list(lance.dataset(path).schema.names)
        missing = [c for c in cols if c not in names]
        if missing:
            raise ValueError(f"cannot drop non-existent column(s) {missing}; "
                             f"table schema is {names}")
        if set(cols) >= set(names):
            raise ValueError("cannot drop every column of the table")
        lance.dataset(path).drop_columns(list(cols))
        from .maintenance import _native_manifest

        return _native_manifest(path)
    # one manifest read + one manifest commit (a conditional PUT on s3)
    manifest = FR.read_manifest(path, None, storage_options)
    current = dataset_schema(path, manifest=manifest,
                             storage_options=storage_options)
    missing = [c for c in cols if c not in current.names]
    if missing:
        raise ValueError(f"cannot drop non-existent column(s) {missing}; "
                         f"table schema is {current.names}")
    if set(cols) >= set(current.names):
        raise ValueError("cannot drop every column of the table")
    new_st = StructType([f for f in current.fields if f.name not in set(cols)])
    dropped = sorted(set(manifest.meta.get("dropped_columns", [])) | set(cols))
    return FR.commit(
        path, [], mode="append",
        meta={"schema": new_st.json(), "dropped_columns": dropped,
              "drop": {"columns": list(cols), "base_version": manifest.version}},
        storage_options=storage_options)


def add_column(spark, path: str, name: str, expr, s3=None) -> FR.Manifest:
    """Backfill a NEW computed column over the whole table as one commit.

    ``expr`` is a SQL string or Column over the existing columns. The
    emulated backend rewrites every fragment (copy-on-write; old versions
    keep the old shape) — correct but O(table). The native twin forwards
    to ``lance.dataset(path).add_columns({name: expr})``, Lance's
    column-ONLY file append that never rewrites row data — the 100 TB
    shape, which is why this routes native whenever the library exists.
    Re-introducing a previously dropped name is allowed HERE (unlike an
    evolving append): the rewrite leaves no old fragment to resurrect
    stale values from, and the name is cleared from the dropped set.

    One body for a local path and an s3:// url (pass
    ``s3=S3Options(...)``) and for both on-disk formats: the fragment
    scan reads the current version (``maintenance._file_scan``), every
    task writes its widened fragments in place (``writer.write_fragments``
    — the executor-direct shape of the DELETE/MERGE rewrites), and the
    driver commits ONE overwrite under CAS (``_rewrite_commit``); the
    full rewrite clears the dropped-name resurrection guard. On a binary
    Lance dataset the existing columns keep their recorded types and the
    new one takes its Spark-inferred type. (Lance's own add_columns
    appends column-only files instead — O(new column); that needs
    multi-file fragments, outside the one-file-per-fragment surface the
    stdlib codec supports.)"""
    from .fs import is_remote
    from .maintenance import _file_scan, _rewrite_commit

    if FR.HAVE_LANCE and not is_remote(path):  # fake lance in tests
        import lance

        if not isinstance(expr, str):
            raise TypeError("native add_column requires a SQL string expression")
        lance.dataset(path).add_columns({name: expr})
        from .maintenance import _native_manifest

        return _native_manifest(path)
    storage = s3.to_storage_options() if s3 is not None else None
    col = F.expr(expr) if isinstance(expr, str) else expr
    manifest = FR.read_manifest_compat(path, storage_options=storage)
    scan = _file_scan(spark, path, manifest, s3)
    if name in scan.columns:
        raise ValueError(f"column {name!r} already exists; "
                         f"table schema is {scan.columns}")
    out = scan.withColumn(name, col)
    # the rewrite replaces EVERY fragment, so no stale bytes survive for
    # ANY previously dropped column — clear the whole guard, not just the
    # re-added name
    meta = {"dropped_columns": [],
            "add_column": {"name": name, "base_version": manifest.version}}
    fields = None
    if manifest.meta.get("native_lance"):
        from ..types import spark_schema_to_arrow
        from . import lance_format as LF

        fields = LF.widen_fields(manifest.meta["native_fields"],
                                 [spark_schema_to_arrow(out.schema).field(name)])
    else:
        meta["schema"] = out.schema.json()
    return _rewrite_commit(
        path, storage, manifest, {f.file for f in manifest.fragments}, out,
        meta=meta, bloom_cols=[], fields=fields)


# --- native (stdlib codec) twins --------------------------------------------

_DROPPED_CFG = "spark.flc.meta.dropped_columns"


def native_dropped_columns(path: str,
                           storage_options: dict | None = None) -> list[str]:
    """The resurrection guard for a native binary dataset: dropped names
    recorded in the manifest's table-config slot."""
    from . import lance_format as LF

    cfg = (LF.read_native_manifest(path, storage_options=storage_options)
           .config or {}).get(_DROPPED_CFG)
    return list(json.loads(cfg)) if cfg else []


def _drop_columns_native(path: str, cols: list[str],
                         storage_options: dict | None = None):
    """Metadata-only drop for a native binary dataset — the SAME shape
    lance's own drop_columns commits: the new manifest's field list
    omits the dropped subtrees while every fragment carries over
    byte-identical with its field-id -> column mapping made explicit
    (DataFile.fields/column_indices), so both this engine's name-based
    reader and a real lance reader resolve only the surviving columns.
    O(1) in data; old versions keep the column (time travel). The
    dropped names join the config-recorded resurrection guard."""
    from . import lance_format as LF

    mf = LF.read_native_manifest(path, storage_options=storage_options)
    top = [f for f in mf.fields if f.parent == -1]
    names = [f.name for f in top]
    missing = [c for c in cols if c not in names]
    if missing:
        raise ValueError(f"cannot drop non-existent column(s) {missing}; "
                         f"table schema is {names}")
    if set(cols) >= set(names):
        raise ValueError("cannot drop every column of the table")
    drop_ids: set[int] = set()

    def _collect(fid: int) -> None:
        drop_ids.add(fid)
        for f in mf.fields:
            if f.parent == fid:
                _collect(f.id)

    for f in top:
        if f.name in set(cols):
            _collect(f.id)
    narrowed = [f for f in mf.fields if f.id not in drop_ids]
    old_ids = [f.id for f in mf.fields]
    pairs = [
        (fr.file, fr.physical_rows, None,
         fr.field_ids if fr.field_ids is not None else list(old_ids),
         (fr.column_indices if fr.column_indices is not None
          else list(range(len(old_ids)))),
         fr.deletion, fr.fragment_id)
        for fr in mf.fragments
    ]
    guard = sorted(set(native_dropped_columns(path, storage_options))
                   | set(cols))
    LF.commit_native(path, narrowed, pairs, "overwrite",
                     expected_base_version=mf.version,
                     config={_DROPPED_CFG: json.dumps(guard)},
                     storage_options=storage_options)
    return FR.read_manifest_compat(path, storage_options=storage_options)
