"""PySpark DataSource registration: ``spark.read.format("lance")`` /
``df.write.format("lance")`` over the versioned fragment dataset layer.

This is the engine's analog of the reference's factory/DDL surface
(ref table/LanceDynamicTableFactory.java:52-237 and its SPI registration
at src/main/resources/META-INF/services/...Factory:1-2): after
``register_lance_datasource(spark)`` (the ``spark.dataSource.register``
call SURVEY.md §7.1 M1 promised), the format name ``lance`` resolves to
this class for both reads and writes.

Execution model (Spark-first, not the reference's):

- **Read**: one ``InputPartition`` per fragment (ref LanceSplit.java:31-68
  — splitNumber/fragmentId/path/rowCount), scanned on executors as Arrow
  record batches (columnar end-to-end; the reference pivots to row objects,
  SURVEY.md §1.1). Filter pushdown uses Spark 4.1's typed
  ``DataSourceReader.pushFilters`` bridge: accepted predicates become
  pyarrow dataset expressions evaluated inside the fragment scan (parquet
  row-group + page pruning); unsupported predicates stay in the plan, so
  correctness never depends on acceptance (same partial-acceptance contract
  as ref table/LanceDynamicTableSource.java:177-193). Pushed filters are
  additionally tested against per-fragment zone maps in the manifest
  (``FragmentInfo.stats``) so provably-empty fragments are skipped at
  planning time — whole tasks never scheduled, the data-skipping step the
  reference cannot do (its stats are hard-coded UNKNOWN).
- **Write**: two-phase commit at cluster scale — each task streams its
  Arrow batches into one fragment file (``DataSourceArrowWriter``, no row
  pivot), the driver's ``commit()`` publishes ONE new manifest version
  (append | overwrite — ref LanceSink.java:163-190) with O_EXCL conflict
  retry; ``abort()`` removes orphaned fragments. Fragments written by
  failed/aborted tasks are invisible by construction because only the
  manifest names live fragments.

Options: ``path`` (required), ``version`` (read time travel),
``read.batch-size`` (ref config/LanceOptions.java:56-60).

Known upstream caveat (PySpark Python-data-source planning): the filter
pushdown worker's planned (readFunc, partitions) overwrites the
DataFrame leaf's cached read plan, and a LATER query on the SAME
DataFrame object with no pushable filters reuses that poisoned scan —
``df.filter(...).collect()`` then ``df.count()`` returns the filtered
count. Use a fresh ``spark.read.format("lance").load(path)`` per query
(zero cost: schema is one manifest read). Pinned with a tripwire in
``tests/test_datasource.py::test_same_dataframe_reuse_plan_cache`` so
the caveat is dropped the day upstream fixes the reuse. Every internal
surface of this repo already loads fresh.
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from typing import TYPE_CHECKING, Iterable, Iterator, List

from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamArrowWriter,
    DataSourceStreamReader,
    EqualTo,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    InputPartition,
    IsNotNull,
    IsNull,
    LessThan,
    LessThanOrEqual,
    Not,
    WriterCommitMessage,
)
from pyspark.sql.types import StructType

from . import fragments as FR
from .reader import arrow_target, deletion_file

if TYPE_CHECKING:  # pragma: no cover
    import pyarrow as pa

FORMAT_NAME = "lance"


def _norm_path(path: "str | None") -> "str | None":
    """Accept file: URIs alongside plain paths (catalog-normalized
    locations arrive as file:/x or file:///x).

    Note the SQL route for catalog tables is ``LanceCatalog.
    register_table`` (temp view): Spark 4.1's Python data source API
    re-creates the source with EMPTY options when a ``CREATE TABLE ...
    USING lance`` table is read, so neither OPTIONS(path ...) nor
    LOCATION survive to the reader — the capability gap SURVEY.md §7.2
    anticipated. The DataFrame API (``spark.read.format("lance")
    .load(path)``) and temp views are unaffected."""
    if path and path.startswith("file:"):
        from urllib.parse import unquote, urlparse

        return unquote(urlparse(path).path)
    return path
DEFAULT_BATCH_SIZE = 1024  # ref config/LanceOptions.java:56-60


@dataclass
class FragmentPartition(InputPartition):
    """One fragment == one input split (ref LanceSplit.java:31-68).

    ``packed_files``: additional fragment files scanned by the SAME task
    (split packing — ``read.max-rows-per-partition``). Empty by default:
    the 1-fragment-1-split contract stands unless packing is opted in.
    ``deletions``: per-file deletion-vector paths aligned with
    ``(file, *packed_files)`` — None entries mean no tombstones.
    ``digests``: write-time sha256 per file, same alignment — populated
    ONLY under ``read.verify-integrity=true`` (the scan task hashes each
    file before decoding and raises IntegrityError on mismatch); None
    entries mean no digest was stamped (foreign dataset) and skip."""

    fragment_id: int
    file: str
    row_count: int
    packed_files: tuple = ()
    deletions: tuple = ()
    digests: tuple = ()


@dataclass
class FragmentCommitMessage(WriterCommitMessage):
    file: str | None  # relative to dataset root; None = empty task
    row_count: int
    stats: dict | None = None  # per-column zone map (footer-derived)


def _filter_attrs(f: Filter) -> "tuple | None":
    """Column reference of a typed filter, unwrapping Not; None when the
    shape is unknown (callers must then treat the filter as referencing
    columns we cannot verify and apply it AFTER batch alignment)."""
    if isinstance(f, Not):
        return _filter_attrs(f.child)
    return getattr(f, "attribute", None)


def _align_batch(batch: "pa.RecordBatch", target: "pa.Schema") -> "pa.RecordBatch":
    """Resolve a fragment batch against the planned schema BY NAME:
    columns an older (pre-evolution) fragment lacks null-fill, extra
    physical columns (dropped ones) disappear, types cast."""
    import pyarrow as pa

    arrays = []
    for fld in target:
        idx = batch.schema.get_field_index(fld.name)
        arrays.append(
            batch.column(idx).cast(fld.type) if idx >= 0
            else pa.nulls(batch.num_rows, fld.type)
        )
    return pa.RecordBatch.from_arrays(arrays, schema=target)


def _filter_to_arrow(f: Filter):
    """Translate one typed Spark filter into a pyarrow dataset expression.

    Returns None for anything not convertible — the partial-acceptance
    contract: rejected filters stay in Spark's plan and are re-applied
    engine-side (ref table/LanceDynamicTableSource.java:177-193; IN is
    accepted here unlike the reference's :263-264, because pyarrow
    evaluates it natively)."""
    import pyarrow.compute as pc

    def col(attr):
        if len(attr) != 1:  # nested references stay residual
            return None
        return pc.field(attr[0])

    if isinstance(f, EqualTo):
        c = col(f.attribute)
        return None if c is None else c == f.value
    if isinstance(f, Not) and isinstance(f.child, EqualTo):
        c = col(f.child.attribute)
        return None if c is None else c != f.child.value
    if isinstance(f, GreaterThan):
        c = col(f.attribute)
        return None if c is None else c > f.value
    if isinstance(f, GreaterThanOrEqual):
        c = col(f.attribute)
        return None if c is None else c >= f.value
    if isinstance(f, LessThan):
        c = col(f.attribute)
        return None if c is None else c < f.value
    if isinstance(f, LessThanOrEqual):
        c = col(f.attribute)
        return None if c is None else c <= f.value
    if isinstance(f, In):
        c = col(f.attribute)
        return None if c is None else c.isin(list(f.value))
    if isinstance(f, IsNull):
        c = col(f.attribute)
        return None if c is None else c.is_null()
    if isinstance(f, IsNotNull):
        c = col(f.attribute)
        return None if c is None else ~c.is_null()
    return None


def _nan_unsafe(f: Filter) -> bool:
    """Filters whose pyarrow evaluation diverges from Spark's
    NaN-total-order semantics on float/double columns and therefore must
    NOT be accepted (they stay residual; Spark evaluates them itself).

    Spark orders NaN above every value (``NaN > v`` and ``NaN >= v`` are
    TRUE for any v, ``NaN = NaN`` TRUE, ``NaN != v`` TRUE for non-NaN v)
    while pyarrow compute propagates null/false for every NaN
    comparison — evaluating those shapes engine-side silently drops NaN
    rows Spark would return (Spark's own parquet scan keeps them). The
    column's floatness is read off the literal: Spark casts pushed
    literals to the column type, so a float literal means a float
    column. EqualTo/In/LessThan(OrEqual) with non-NaN literals agree
    across both systems (NaN matches neither side) and stay pushable;
    zone-map pruning for those shapes is sound too, because a hidden
    NaN row cannot satisfy them."""
    import math

    def is_f(v) -> bool:
        return isinstance(v, float)

    def is_nan(v) -> bool:
        return isinstance(v, float) and math.isnan(v)

    if isinstance(f, Not):
        if isinstance(f.child, EqualTo) and is_nan(f.child.value):
            return True  # x != NaN: Spark NaN=NaN is TRUE, arrow false
        # x != v (non-NaN v) agrees: arrow evaluates NaN != v as TRUE
        # (IEEE), same as Spark — and Not-shapes never zone-prune
        # (_fragment_may_match has no Not branch), so no hidden-NaN
        # fragment can be skipped either
        return _nan_unsafe(f.child)
    if isinstance(f, (GreaterThan, GreaterThanOrEqual)) and is_f(f.value):
        return True  # NaN > v / NaN >= v is TRUE in Spark
    if isinstance(f, (EqualTo, LessThan, LessThanOrEqual)) and is_nan(f.value):
        return True  # NaN-literal comparisons (Spark: NaN = NaN is TRUE)
    if isinstance(f, In) and any(is_nan(v) for v in f.value):
        return True
    return False


def _fragment_may_match(stats: dict | None, row_count: int, f: Filter) -> bool:
    """Zone-map test: can ANY row of a fragment satisfy this filter?

    Conservative by construction — returns True (keep the fragment)
    whenever stats are absent, the column is untracked, the bound types
    are incomparable with the literal, or the filter shape is unknown.
    Pruning is planning-time data skipping on manifest stats; the pushed
    filter is still evaluated inside the scan, so a too-lax answer costs
    only IO, never correctness."""
    if not stats:
        return True

    def col_stats(attribute):
        if len(attribute) != 1:
            return None
        s = stats.get(attribute[0])
        return s if s and s.get("min") is not None and s.get("max") is not None else None

    try:
        if isinstance(f, (EqualTo, GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual)):
            s = col_stats(f.attribute)
            if s is None or f.value is None:
                return True
            if isinstance(f, EqualTo):
                return s["min"] <= f.value <= s["max"]
            if isinstance(f, GreaterThan):
                return s["max"] > f.value
            if isinstance(f, GreaterThanOrEqual):
                return s["max"] >= f.value
            if isinstance(f, LessThan):
                return s["min"] < f.value
            return s["min"] <= f.value  # LessThanOrEqual
        if isinstance(f, In):
            s = col_stats(f.attribute)
            if s is None:
                return True
            return any(
                v is not None and s["min"] <= v <= s["max"] for v in f.value
            ) or any(v is None for v in f.value)
        if isinstance(f, IsNull):
            s = stats.get(f.attribute[0]) if len(f.attribute) == 1 else None
            if s is None or s.get("null_count") is None:
                return True
            return s["null_count"] > 0
        if isinstance(f, IsNotNull):
            s = stats.get(f.attribute[0]) if len(f.attribute) == 1 else None
            if s is None or s.get("null_count") is None:
                return True
            return s["null_count"] < row_count
    except TypeError:
        return True  # e.g. str bound vs int literal — cannot decide, keep
    return True


def _row_group_may_match(rg, pushed: List[Filter]) -> bool:
    """Footer-stats test for ONE parquet row group: builds a stats dict
    from the row group's column-chunk statistics and reuses the
    conservative zone-map predicate (_fragment_may_match). Missing or
    undecodable stats keep the group — pruning is an IO optimization;
    the pushed filters still evaluate on every surviving batch."""
    stats: dict = {}
    for ci in range(rg.num_columns):
        col = rg.column(ci)
        name = col.path_in_schema
        if "." in name:  # nested leaf — zone maps track top-level only
            continue
        st = col.statistics
        if st is None:
            continue
        entry: dict = {}
        try:
            if st.has_min_max:
                entry["min"], entry["max"] = st.min, st.max
            if st.has_null_count:
                entry["null_count"] = st.null_count
        except Exception:
            continue  # undecodable stats: leave the column untracked
        stats[name] = entry
    return all(_fragment_may_match(stats, rg.num_rows, f) for f in pushed)


def _bloom_may_match(root: str, frag: "FR.FragmentInfo", pushed: List[Filter],
                     storage_options: "dict | None" = None) -> bool:
    """Second-stage planning skip: point predicates (=, IN) against the
    fragment's bloom sidecars (sources/bloom.py). Runs only for
    fragments the zone maps kept; lazily reads (and LRU-caches) each
    sidecar — via fsspec for s3:// roots. NULL literals are ignored —
    ``x = NULL`` / ``x IN (NULL)`` is three-valued NULL and matches no
    row, so only non-null values need bloom membership."""
    from .bloom import BLOOM_STATS_KEY, fragment_bloom_may_contain

    if not frag.stats or BLOOM_STATS_KEY not in frag.stats:
        return True
    for p in pushed:
        if isinstance(p, EqualTo) and len(p.attribute) == 1 and p.value is not None:
            values = [p.value]
        elif isinstance(p, In) and len(p.attribute) == 1:
            values = [v for v in p.value if v is not None]
            if not values:
                continue
        else:
            continue
        if not fragment_bloom_may_contain(root, frag.file, frag.stats,
                                          p.attribute[0], values,
                                          storage_options=storage_options):
            return False
    return True


def _manifest_for_scan(path: str, version: "int | None",
                       storage_options: dict | None) -> FR.Manifest:
    """Manifest for read planning: the emulated JSON chain, or — for a
    REAL Lance dataset (binary ``N.manifest``, e.g. the reference's
    committed fixtures) — the stdlib decoder adapted into the same shape
    (FR.read_manifest_compat). Native fragments without a stats sidecar
    carry no zone maps (``stats`` None → planning-time pruning disabled,
    conservative); every fragment file, ``.lance`` or parquet, is read by
    ``reader.read_file``."""
    return FR.read_manifest_compat(path, version,
                                   storage_options=storage_options)


def _storage_opts(options: dict) -> dict:
    """Reference-convention ``s3-*`` reader options -> object-store
    credential map (ref table/LanceCatalogFactory.java:148-176)."""
    from ..options import S3Options

    s3 = S3Options.from_dict(options)
    return s3.to_storage_options() if s3 else {}


class LanceDataSourceReader(DataSourceReader):
    def __init__(self, options: dict, schema: "StructType | None" = None):
        self._path = _norm_path(options.get("path"))
        if not self._path:
            raise ValueError("lance datasource requires a 'path' option")
        # the storage seam (sources/fs.py) resolves the location: the
        # manifest at planning and every fragment at read open through
        # store_for(path, storage) — on s3 with the credentials of this
        # (picklable) storage-options map, locally ignoring it
        self._storage = _storage_opts(options)
        v = options.get("version")
        self._version = int(v) if v is not None else None
        self._batch_size = int(options.get("read.batch-size", DEFAULT_BATCH_SIZE))
        # split packing: opt-in task-count control for runt-fragment
        # tables (10^5 micro-batch fragments must not mean 10^5 tasks —
        # per-task scheduling overhead dominates tiny scans at scale)
        p = options.get("read.max-rows-per-partition")
        self._pack_rows = int(p) if p is not None else None
        if self._pack_rows is not None and self._pack_rows <= 0:
            raise ValueError("read.max-rows-per-partition must be positive")
        # batch incremental read: only fragments added AFTER this version
        # (the batch twin of the streaming source's offset delta —
        # maintenance.read_version_delta surfaced as a reader option, so
        # a scheduled batch job can consume appends without a rescan)
        d = options.get("read.delta-from-version")
        self._delta_from = int(d) if d is not None else None
        if self._delta_from is not None and self._delta_from < 0:
            raise ValueError("read.delta-from-version must be >= 0")
        self._delta_allow_rewrites = str(
            options.get("read.delta-allow-rewrites", "false")
        ).lower() == "true"
        # file attribution: `read.file-column=<name>` appends each row's
        # RELATIVE fragment file as a string column — the remote-capable
        # twin of input_file_name() (which evaluates to '' across Python
        # data sources), and the handle the copy-on-write rewrites key
        # on. EqualTo/In filters on this column prune PARTITIONS at
        # planning time (a fragment-subset scan expressed as a
        # predicate); every other filter shape on it stays residual.
        self._file_col = options.get("read.file-column") or None
        # opportunistic read-side integrity: hash each fragment file
        # against its write-time sha256 INSIDE the scan task, before any
        # byte is decoded (the task streams the file once extra — an
        # explicit opt-in trade; maintenance.verify_integrity is the
        # scan-free standalone check). Fragments without a stamp skip.
        self._verify = str(
            options.get("read.verify-integrity", "false")).lower() == "true"
        self._file_filters: List[Filter] = []
        # the planned schema as Arrow (picklable): executors align each
        # fragment's batches to it by name, null-filling columns an older
        # (pre-evolution) fragment doesn't carry. The synthetic file
        # column is OURS to append — strip it from the data alignment
        # target (no fragment physically carries it).
        if (self._file_col is not None and schema is not None
                and self._file_col in schema.names):
            schema = StructType(
                [f for f in schema.fields if f.name != self._file_col])
        self._target = (arrow_target(schema) if schema is not None
                        else None)
        # typed Filter dataclasses are picklable; converted to pyarrow
        # expressions lazily on the executor (expressions don't need to
        # survive the driver->executor hop)
        self._pushed: List[Filter] = []

    def pushFilters(self, filters: List[Filter]) -> Iterable[Filter]:
        # REPLACE, never append: Spark's plan worker caches this reader
        # instance per relation and re-plans every query over the same
        # DataFrame through it — accumulating across calls leaks one
        # query's filters into the next (a filtered query followed by an
        # unfiltered count on the same df returned the filtered count)
        pushed = []
        residual = []
        file_filters = []
        for f in filters:
            attrs = _filter_attrs(f)
            if (self._file_col is not None and attrs is not None
                    and self._file_col in attrs):
                # EqualTo/In on the file column are FULLY satisfied by
                # partition selection (every row of a surviving fragment
                # carries that exact value) — accept them; anything else
                # on it stays residual
                if isinstance(f, (EqualTo, In)) and len(attrs) == 1:
                    file_filters.append(f)
                else:
                    residual.append(f)
            elif _filter_to_arrow(f) is not None and not _nan_unsafe(f):
                pushed.append(f)
            else:
                residual.append(f)
        self._pushed = pushed
        self._file_filters = file_filters
        return residual

    def partitions(self) -> List[FragmentPartition]:
        """One split per fragment, minus fragments the manifest zone maps
        prove empty under the pushed filters (planning-time data
        skipping — no task is ever scheduled for a skipped fragment).
        An empty result is fine: the Python data source worker turns it
        into a single ``None`` partition and ``read`` emits nothing."""
        manifest = _manifest_for_scan(self._path, self._version, self._storage)
        fragments = manifest.fragments
        if self._delta_from is not None:
            # incremental batch read by file-set delta. Sound ONLY on an
            # append-only history: a compaction/DELETE/MERGE rewrite puts
            # OLD rows under NEW file names, which a file diff would
            # deliver as delta rows — double-processing data. Detect the
            # rewrite (a covered file vanished, same signal
            # rollup.refresh_rollup keys `needs_full` on) and fail fast;
            # `read.delta-allow-rewrites=true` opts into the raw file diff
            # for callers that dedup downstream.
            base = _manifest_for_scan(self._path, self._delta_from, self._storage)
            known = {f.file for f in base.fragments}
            current = {f.file for f in fragments}
            removed = known - current
            if removed and not self._delta_allow_rewrites:
                raise ValueError(
                    f"read.delta-from-version={self._delta_from} is unsound: "
                    f"{len(removed)} fragment(s) covered at v{base.version} were "
                    "rewritten since (compaction/DELETE/MERGE) — new files carry "
                    "old rows, so a file-set delta would double-process data. "
                    "Run a full read, refresh from the rewrite's version, or set "
                    "read.delta-allow-rewrites=true to accept the raw file diff."
                )
            fragments = [f for f in fragments if f.file not in known]
        for ff in self._file_filters:
            allowed = {ff.value} if isinstance(ff, EqualTo) else set(ff.value)
            fragments = [f for f in fragments if f.file in allowed]
        kept = [
            f
            for f in fragments
            if all(_fragment_may_match(f.stats, f.row_count, p) for p in self._pushed)
            and _bloom_may_match(self._path, f, self._pushed, self._storage)
        ]

        def _digest(f) -> "str | None":
            return (f.stats or {}).get(FR.DIGEST_STATS_KEY)

        if self._pack_rows is None:
            return [
                FragmentPartition(f.fragment_id,
                                  os.path.join(self._path, f.file),
                                  f.row_count, deletions=(deletion_file(self._path, f),),
                                  digests=((_digest(f),)
                                           if self._verify else ()))
                for f in kept
            ]
        # greedy pack in manifest order: consecutive runt fragments share
        # one task up to the row cap; an oversized fragment rides alone.
        # Deterministic (manifest order), pruning-composable (packs are
        # formed from the already-pruned survivor list).
        packs: list[list] = []
        cur: list = []
        cur_rows = 0
        for f in kept:
            if cur and cur_rows + f.row_count > self._pack_rows:
                packs.append(cur)
                cur, cur_rows = [], 0
            cur.append(f)
            cur_rows += f.row_count
        if cur:
            packs.append(cur)
        return [
            FragmentPartition(
                p[0].fragment_id,
                os.path.join(self._path, p[0].file),
                sum(f.row_count for f in p),
                packed_files=tuple(os.path.join(self._path, f.file) for f in p[1:]),
                deletions=tuple(deletion_file(self._path, f) for f in p),
                digests=(tuple(_digest(f) for f in p)
                         if self._verify else ()),
            )
            for p in packs
        ]

    def read(self, partition: "FragmentPartition | None") -> Iterator["pa.RecordBatch"]:
        if partition is None:  # every fragment was pruned
            return
        import pyarrow as pa

        from .fs import store_for
        from .reader import read_file

        files = (partition.file, *partition.packed_files)
        dels = partition.deletions or (None,) * len(files)
        store = store_for(self._path, self._storage)
        # read.verify-integrity: one streaming hash pass per file BEFORE
        # decoding — a flipped byte in engine-written data fails the
        # task loudly instead of decoding silently; a file without a
        # write-time stamp (foreign file) skips
        for file, expected in zip(files, partition.digests or ()):
            if expected is None:
                continue
            actual = FR.sha256_of(file, store)
            if actual != expected:
                raise FR.IntegrityError(
                    f"fragment {file} fails its write-time sha256 "
                    f"digest (expected {expected[:16]}..., got "
                    f"{actual[:16]}...) — the bytes changed since "
                    "the engine wrote them")
        for file, del_path in zip(files, dels):
            if self._file_col is None:
                yield from read_file(store, file, self._target, self._pushed,
                                     del_path, self._batch_size)
                continue
            rel = self._rel_file(file)
            if not self._target and not self._pushed:
                # the schema is the file column alone (Spark hands this
                # reader the full schema otherwise, and no data column
                # can then carry a pushed filter): no data column to
                # decode — emit the attribution column, sized from
                # metadata
                n = self._count_one(store, file, del_path)
                yield pa.RecordBatch.from_arrays(
                    [pa.array([rel] * n, pa.string())], names=[self._file_col])
                continue
            for batch in read_file(store, file, self._target, self._pushed,
                                   del_path, self._batch_size):
                yield batch.append_column(
                    self._file_col, pa.array([rel] * batch.num_rows, pa.string()))

    def _rel_file(self, file: str) -> str:
        base = str(self._path).rstrip("/")
        f = str(file)
        return f[len(base) + 1:] if f.startswith(base + "/") else f

    def _count_one(self, store, file: str, del_path: "str | None" = None) -> int:
        """Live row count of one fragment from metadata: the parquet
        footer's rows, or the Lance descriptor's minus tombstones."""
        with store.open(file, "rb") as fh:
            if file.endswith(".lance"):
                from . import lance_format as LF

                n = LF.file_descriptor(fh, file)[1]
            else:
                import pyarrow.parquet as papq

                n = papq.ParquetFile(fh).metadata.num_rows
        if del_path is not None:
            from . import lance_format as LF

            with store.open(del_path, "rb") as fh:
                n -= len(LF.deletion_offsets(fh.read(), del_path))
        return n


def _write_fragment(path: str, iterator: Iterator["pa.RecordBatch"],
                    bloom_columns: "List[str] | None" = None,
                    storage: "dict | None" = None,
                    native_fields=None, native: bool = False,
                    evolve: bool = False) -> FragmentCommitMessage:
    """Executor side: one task's Arrow batches become one fragment file
    through the storage seam (``writer.write_fragment`` — in place
    locally, PUT from the task on s3): parquet, or with ``native`` a Lance
    v2 file aligned to ``native_fields`` (the live manifest schema,
    shipped from the driver — column order + arrow-safe casts; with
    ``evolve`` new columns may follow it, and every task shares one Spark
    plan, so all fragments of a commit agree on the evolved shape).
    Fragments are invisible until a manifest names them; an empty task
    writes nothing."""
    from .fs import absolute, store_for
    from .writer import LanceEncoder, write_fragment

    got = write_fragment(store_for(path, storage), absolute(path), iterator,
                         bloom_columns,
                         LanceEncoder(native_fields, evolve) if native else None)
    if got is None:
        return FragmentCommitMessage(file=None, row_count=0)
    file, rows, stats = got
    return FragmentCommitMessage(file=file, row_count=rows, stats=stats)


def _drop_fragments(path: str, messages, storage: "dict | None" = None) -> None:
    from .bloom import BLOOM_SUFFIX
    from .fs import store_for

    store = store_for(path, storage)
    for m in messages:
        if m is not None and m.file:
            for victim in (m.file, m.file + BLOOM_SUFFIX):
                try:
                    store.rm(os.path.join(path, victim))
                except OSError:
                    pass


def _widen_native_for_commit(path: str, storage: "dict | None",
                             live_fields, first_file: str):
    """(fields, allow_widen) for an EVOLVING native format-writer commit:
    the tasks aligned live-schema-prefix + new columns (align_evolving),
    so the first fragment's FileDescriptor is the evolved shape — widen
    the field list here (live ids preserved, extras numbered past them)
    and let commit_native's shape check + CAS enforce the contract.
    Dropped names must not resurrect (old fragments still carry the
    stale bytes) — raises ValueError, caller drops the orphans."""
    from . import lance_format as LF
    from .schema_evolution import native_dropped_columns

    incoming = LF.read_file_descriptor(
        os.path.join(path, LF.DATA_DIR, first_file), storage)[0]
    live_names = {f.name for f in live_fields if f.parent == -1}
    extra = [f.name for f in incoming
             if f.parent == -1 and f.name not in live_names]
    if not extra:
        return live_fields, False
    guard = set(native_dropped_columns(path, storage))
    bad = sorted(set(extra) & guard)
    if bad:
        raise ValueError(
            f"cannot re-add dropped column(s) {bad}: old fragments "
            "still carry the stale values")
    inc_schema = LF.arrow_schema_of(incoming)
    return LF.widen_fields(live_fields,
                           [inc_schema.field(n) for n in extra]), True


def _parse_evolve_option(options: dict) -> bool:
    v = str(options.get("write.schema-evolution", "false")).strip().lower()
    return v in ("true", "1", "yes")


def _schema_meta_for_commit(path: str, frags: List[FR.FragmentInfo],
                            mode: str, evolve: bool,
                            storage: "dict | None" = None) -> "dict | None":
    """Driver-side append-time schema contract for the format path (batch
    AND streaming sinks — both commit executor-written fragments the
    driver can no longer reshape).

    All of one commit's fragments share one schema (one Spark plan), so
    ONE footer read (metadata-only) tells us the incoming shape. Same
    contract as write_dataset: same column set commits as-is; a differing
    set needs write.schema-evolution=true and commits the evolved (union)
    schema in the manifest meta; type changes and resurrected dropped
    columns always refuse — without this, a mismatched format append
    silently poisons the dataset (hidden columns, or type conflicts that
    only explode at read time)."""
    import pyarrow.parquet as pq

    from ..types import arrow_schema_to_spark
    from .fs import store_for
    from .schema_evolution import align_check_for_commit

    if not frags:
        return None
    with store_for(path, storage).open(os.path.join(path, frags[0].file),
                                       "rb") as fh:
        incoming = arrow_schema_to_spark(pq.read_schema(fh))
    if mode == "overwrite" or FR.latest_version(path, storage) is None:
        return {"schema": incoming.json(), "dropped_columns": []}
    return align_check_for_commit(path, incoming, evolve, storage)


def _layout_options_requested(options: dict) -> bool:
    """True iff write.sort-by names columns or write.cluster is truthy —
    string 'false'/'0'/'' spellings (how .option() values arrive) count
    as absent, not as a request to refuse."""
    if str(options.get("write.sort-by") or "").strip():
        return True
    return str(options.get("write.cluster") or "").strip().lower() in (
        "true", "1", "yes")


class LanceDataSourceWriter(DataSourceArrowWriter):
    def __init__(self, options: dict, overwrite: bool):
        self._path = _norm_path(options.get("path"))
        if not self._path:
            raise ValueError("lance datasource requires a 'path' option")
        # writes are executor-direct for every location: each task writes
        # its fragment through the storage seam (on s3 with these
        # picklable credentials) and the driver's only write is the
        # manifest commit — the spark-idiomatic spelling of the
        # reference's sink (ref LanceSink.java:133-199) without its
        # single-writer serialization
        self._storage = _storage_opts(options)
        self._mode = "overwrite" if overwrite else "append"
        self._evolve = _parse_evolve_option(options)
        if _layout_options_requested(options):
            # the Python DataSource writer receives already-partitioned
            # iterators — it cannot reshape the plan upstream, so a
            # silently-ignored layout option would lie about the zone maps
            raise ValueError(
                "write.sort-by / write.cluster need to reshape the input "
                "plan, which the format('lance') writer cannot do — use "
                "sources.writer.write_dataset(options=DatasetOptions("
                "sort_columns=..., cluster_on_write=...)), or pre-sort with "
                "df.repartitionByRange(...).sortWithinPartitions(...) before "
                ".write.format('lance')"
            )
        from .bloom import parse_bloom_columns

        self._bloom_cols = parse_bloom_columns(options.get("write.bloom-columns"))

        # REAL Lance dataset target (binary manifests): fragments and the
        # commit go through the stdlib v2 codec instead of the parquet
        # backend — appending .manifest.json beside binary manifests
        # would fork the version chain. Detected here on the driver; the
        # live schema ships to tasks so appends align before writing.
        # `write.native-format=true` opts a FRESH path into the binary
        # format (create a real Lance table straight from spark.write);
        # asking for it on an existing emulated dataset refuses — the
        # two manifest chains must never interleave under one root.
        from . import lance_format as LF

        want_native = str(options.get("write.native-format", "false")
                          ).strip().lower() in ("true", "1", "yes")
        self._native = LF.is_native_dataset(self._path, self._storage)
        if want_native and not self._native:
            if FR.latest_version(self._path, self._storage) is not None:
                raise ValueError(
                    "write.native-format=true targets an existing EMULATED "
                    f"dataset at {self._path} — mixing binary and JSON "
                    "manifest chains under one root is refused; write to a "
                    "fresh path or drop the option")
            self._native = True
        self._native_fields = None
        if self._native:
            if (self._mode == "append"
                    and LF.native_manifest_versions(self._path, self._storage)):
                self._native_fields = LF.read_native_manifest(
                    self._path, storage_options=self._storage).fields

    def write(self, iterator: Iterator["pa.RecordBatch"]) -> FragmentCommitMessage:
        return _write_fragment(self._path, iterator, self._bloom_cols,
                               self._storage, self._native_fields,
                               self._native, self._evolve)

    def commit(self, messages: List[FragmentCommitMessage]) -> None:
        """Runs on the driver: single-winner manifest commit."""
        if self._native:
            self._commit_native(messages)
            return
        frags = [
            FR.FragmentInfo(i, m.file, m.row_count, m.stats)
            for i, m in enumerate(m for m in messages if m is not None and m.file)
        ]
        try:
            meta = _schema_meta_for_commit(self._path, frags, self._mode,
                                           self._evolve, self._storage)
        except Exception:
            # refuse = no orphans
            _drop_fragments(self._path, messages, self._storage)
            raise
        FR.commit(self._path, frags, mode=self._mode, meta=meta,
                  storage_options=self._storage)

    def _commit_native(self, messages: List[FragmentCommitMessage]) -> None:
        from . import lance_format as LF

        new_files = [(os.path.basename(m.file), m.row_count, m.stats)
                     for m in messages if m is not None and m.file]
        fields = self._native_fields
        if fields is None:
            if not new_files:
                # truncate-via-overwrite: the live manifest supplies the
                # schema (the emulated path commits the empty overwrite
                # the same way); only a FRESH path has no schema to keep
                if LF.native_manifest_versions(self._path, self._storage):
                    fields = LF.read_native_manifest(
                        self._path, storage_options=self._storage).fields
                else:
                    raise ValueError(
                        "native overwrite of a fresh path with zero "
                        "non-empty tasks cannot define the schema — "
                        "nothing was committed")
            else:
                # v2 files are self-describing; the first fragment's
                # FileDescriptor is the (single-plan) schema of them all
                fields = LF.read_file_descriptor(
                    os.path.join(self._path, LF.DATA_DIR, new_files[0][0]),
                    self._storage)[0]
        allow_widen = False
        if (self._evolve and self._native_fields is not None and new_files):
            try:
                fields, allow_widen = _widen_native_for_commit(
                    self._path, self._storage, self._native_fields,
                    new_files[0][0])
            except ValueError:
                _drop_fragments(self._path, messages, self._storage)
                raise
        try:
            LF.commit_native(self._path, fields, new_files, self._mode,
                             allow_widen=allow_widen,
                             storage_options=self._storage)
        except ValueError:
            # schema contract refused at commit: no orphans
            _drop_fragments(self._path, messages, self._storage)
            raise

    def abort(self, messages: List[FragmentCommitMessage]) -> None:
        _drop_fragments(self._path, messages, self._storage)


class LanceDataSourceStreamWriter(DataSourceStreamArrowWriter):
    """``df.writeStream.format("lance")`` — one dataset version per
    micro-batch, exactly-once.

    The reference's sink is unbounded-capable via buffer-flush-on-
    checkpoint (ref LanceSink.java:133-140, 234-239, insert-only
    changelog ref table/LanceDynamicTableSink.java:52-56). Here each
    micro-batch appends ONE manifest version tagged with the batch id in
    the commit metadata itself, so a redelivered batch (restart between
    sink commit and checkpoint write-ahead) is detected from the
    manifest chain and its orphaned fragments are dropped — idempotent
    commit + at-least-once delivery = exactly-once output."""

    EPOCH_KEY = "stream_epoch"

    def __init__(self, options: dict):
        self._path = _norm_path(options.get("path"))
        if not self._path:
            raise ValueError("lance datasource requires a 'path' option")
        # micro-batches are executor-direct like the batch writer: tasks
        # write fragments through the storage seam, the driver's
        # epoch-tagged commit is one manifest create — redelivery dedup
        # unchanged (the epoch rides inside the atomic manifest write)
        self._storage = _storage_opts(options)
        self._evolve = _parse_evolve_option(options)
        if _layout_options_requested(options):
            raise ValueError(
                "write.sort-by / write.cluster need to reshape the input "
                "plan, which the streaming format('lance') writer cannot do "
                "— sort/cluster the micro-batch in foreachBatch via "
                "sources.writer.write_dataset instead"
            )
        from .bloom import parse_bloom_columns

        self._bloom_cols = parse_bloom_columns(options.get("write.bloom-columns"))
        from . import lance_format as LF

        self._native = LF.is_native_dataset(self._path, self._storage)
        self._native_fields = None
        if self._native:
            self._native_fields = LF.read_native_manifest(
                self._path, storage_options=self._storage).fields

    def write(self, iterator: Iterator["pa.RecordBatch"]) -> FragmentCommitMessage:
        return _write_fragment(self._path, iterator, self._bloom_cols,
                               self._storage, self._native_fields,
                               self._native, self._evolve)

    def commit(self, messages: List[FragmentCommitMessage], batchId: int) -> None:
        # works for BOTH backends: the epoch tag rides in the emulated
        # manifest's meta, or in the binary manifest's public table-config
        # slot (Manifest.config `spark.flc.meta.stream_epoch`) — either
        # way inside the same atomic manifest write, so a redelivered
        # batch (restart between sink commit and checkpoint write-ahead)
        # is detected from the manifest chain alone
        if FR.meta_value_committed(self._path, self.EPOCH_KEY, batchId,
                                   self._storage):
            # redelivery: orphans only
            _drop_fragments(self._path, messages, self._storage)
            return
        if self._native:
            from . import lance_format as LF
            from .writer import _meta_to_config

            new_files = [(os.path.basename(m.file), m.row_count, m.stats)
                         for m in messages if m is not None and m.file]
            fields, allow_widen = self._native_fields, False
            if self._evolve and new_files:
                try:
                    fields, allow_widen = _widen_native_for_commit(
                        self._path, self._storage, self._native_fields,
                        new_files[0][0])
                except ValueError:
                    _drop_fragments(self._path, messages, self._storage)
                    raise
                if allow_widen:
                    # later micro-batches align against the widened schema
                    self._native_fields = fields
            LF.commit_native(
                self._path, fields, new_files, "append",
                config=_meta_to_config({self.EPOCH_KEY: batchId}),
                allow_widen=allow_widen,
                storage_options=self._storage)
            return
        frags = [
            FR.FragmentInfo(i, m.file, m.row_count, m.stats)
            for i, m in enumerate(m for m in messages if m is not None and m.file)
        ]
        try:
            # same append-time schema contract as the batch writer: a
            # drifting stream must not silently poison the dataset
            meta = _schema_meta_for_commit(self._path, frags, "append",
                                           self._evolve, self._storage)
        except Exception:
            _drop_fragments(self._path, messages, self._storage)
            raise
        FR.commit(self._path, frags, mode="append",
                  meta={**(meta or {}), self.EPOCH_KEY: batchId},
                  storage_options=self._storage)

    def abort(self, messages: List[FragmentCommitMessage], batchId: int) -> None:
        _drop_fragments(self._path, messages, self._storage)


class LanceDataSourceStreamReader(DataSourceStreamReader):
    """``spark.readStream.format("lance")`` — tail the manifest chain.

    The streaming-source half of the reference's connector story
    (ref LanceSource.java is bounded-only; this is a strict superset):
    each committed dataset version is an offset, each micro-batch reads
    exactly the fragments that appeared between the last processed
    version and the current latest — the incremental-consumption
    primitive (same file-set-delta semantics as
    ``maintenance.read_version_delta``), with replay governed by Spark's
    offset log, so a restarted query resumes from its checkpointed
    version. One fragment == one input partition, scanned as Arrow
    batches like the batch reader.

    Assumes append-style commits (micro-batch sinks, write_dataset
    append): an overwrite/compaction commit re-lists surviving files and
    only NEW files are emitted, so compaction does not re-deliver rows it
    merely rewrote — but a true overwrite's replacement data IS new data
    and streams through.

    Option ``stream.start-version``: first version (exclusive) to
    consume from; default -1 streams the dataset from genesis.

    Option ``stream.max-fragments-per-batch``: rate limit (Spark's
    ``maxFilesPerTrigger`` analog). A backfill from version 0 of a
    long-lived table would otherwise deliver the ENTIRE history as one
    giant micro-batch — unbounded task count and state pressure in one
    trigger. With the cap, ``latestOffset`` advances at most to the
    version whose cumulative new-fragment count stays within the cap
    (always at least one version — a single version larger than the cap
    still delivers whole, since the manifest version is the offset
    granularity).

    Restart safety: a capped ``latestOffset`` must NEVER return an
    offset below Spark's committed one (the engine would log the smaller
    offset and re-deliver everything after it — duplicates). The reader
    only learns its position from ``initialOffset`` (fresh query) or the
    first ``partitions`` call (checkpoint restore), so until one of
    those has run, ``latestOffset`` stays uncapped; every trigger after
    is bounded. Versions vacuumed from the middle of the walk are
    skipped (their manifests are gone — they can't be chosen as a batch
    boundary); if the cursor's own manifest was vacuumed the walk can't
    budget at all and falls back to uncapped.
    """

    def __init__(self, options: dict, schema: "StructType | None" = None):
        self._path = _norm_path(options.get("path"))
        if not self._path:
            raise ValueError("lance datasource requires a 'path' option")
        self._storage = _storage_opts(options)
        self._batch_size = int(options.get("read.batch-size", DEFAULT_BATCH_SIZE))
        self._start = int(options.get("stream.start-version", -1))
        # align pre-evolution fragments (see read)
        self._target = arrow_target(schema) if schema is not None else None
        cap = options.get("stream.max-fragments-per-batch")
        self._max_frags = int(cap) if cap is not None else None
        if self._max_frags is not None and self._max_frags <= 0:
            raise ValueError("stream.max-fragments-per-batch must be positive")
        # consumption cursor for rate limiting: advanced by initialOffset
        # (fresh query) and partitions (every planned batch, incl. the
        # first after a checkpoint restore)
        self._cursor = self._start
        # False until the true position is known — capping before then
        # could hand Spark an offset BELOW its checkpointed one
        self._primed = False
        # manifests are immutable: cache their file sets so the per-
        # trigger rate-limit walk doesn't re-read the version chain
        self._files_cache: dict[int, set] = {}

    def initialOffset(self) -> dict:
        # only called when the offset log is empty: _start IS the true
        # position, so the very first batch of a fresh query is capped
        self._primed = True
        return {"version": self._start}

    def _files_at(self, version: int, strict: bool = True) -> "set | None":
        """File set of a version; ``strict=False`` returns None for a
        vacuumed (missing) manifest instead of raising."""
        if version < 0:
            return set()
        cached = self._files_cache.get(version)
        if cached is None:
            try:
                cached = {f.file for f in FR.read_manifest_compat(
                    self._path, version, self._storage).fragments}
            except FileNotFoundError:
                if strict:
                    raise
                return None
            self._files_cache[version] = cached
        return cached

    def latestOffset(self) -> dict:
        v = FR.latest_version(self._path, self._storage)
        latest = self._start if v is None else max(v, self._start)
        if self._max_frags is None or not self._primed or latest <= self._cursor:
            return {"version": latest}
        base = self._files_at(self._cursor, strict=False)
        if base is None:  # cursor manifest vacuumed: cannot budget
            return {"version": latest}
        chosen = self._cursor
        for ver in range(self._cursor + 1, latest + 1):
            files = self._files_at(ver, strict=False)
            if files is None:
                continue  # vacuumed mid-chain version: not a boundary
            new_count = len(files - base)
            if new_count > self._max_frags and chosen > self._cursor:
                break  # previous version was the last within budget
            chosen = ver
            if new_count >= self._max_frags:
                break  # budget exactly spent (or first version overshoots)
        if chosen == self._cursor:
            # nothing readable in range (all vacuumed): catch up outright
            return {"version": latest}
        return {"version": chosen}

    def partitions(self, start: dict, end: dict) -> List[FragmentPartition]:
        sv, ev = start["version"], end["version"]
        # advance the rate-limit cursor to this batch's END: the next
        # latestOffset budgets from here (budgeting from the start would
        # count this batch's own fragments again and stall the stream).
        # This also primes a checkpoint-restored reader with its true
        # position. Entries below the cursor are never consulted again —
        # evict them so a long-lived capped stream stays O(1) memory.
        self._cursor = max(self._cursor, sv, ev)
        self._primed = True
        for ver in [k for k in self._files_cache if k < self._cursor]:
            del self._files_cache[ver]
        if ev <= sv:
            return []
        known = self._files_at(sv)
        m = FR.read_manifest_compat(self._path, ev, self._storage)
        return [
            FragmentPartition(f.fragment_id, os.path.join(self._path, f.file),
                              f.row_count,
                              deletions=(deletion_file(self._path, f),))
            for f in m.fragments
            if f.file not in known
        ]

    def read(self, partition: FragmentPartition) -> Iterator["pa.RecordBatch"]:
        from .fs import store_for
        from .reader import read_file

        yield from read_file(store_for(self._path, self._storage),
                             partition.file, self._target,
                             deletion=partition.deletions[0],
                             batch_size=self._batch_size)

    def commit(self, end: dict) -> None:
        # offsets live in Spark's checkpoint offset log; the source keeps
        # no state of its own (manifests are immutable)
        pass


class LanceDataSource(DataSource):
    """``spark.read.format("lance")`` / ``df.write.format("lance")``
    (ref table/LanceDynamicTableFactory.java:52-237)."""

    @classmethod
    def name(cls) -> str:
        return FORMAT_NAME

    def schema(self) -> StructType:
        base = self._data_schema()
        fc = self.options.get("read.file-column")
        if not fc:
            return base
        if fc in base.names:
            raise ValueError(
                f"read.file-column={fc!r} collides with a dataset column; "
                "pick an unused name")
        from pyspark.sql.types import StringType, StructField

        return StructType(list(base.fields) + [StructField(fc, StringType())])

    def _data_schema(self) -> StructType:
        """The dataset's columns, every one declared nullable, as Spark's
        parquet source and ``read_dataset`` declare them: fragments that
        predate an evolved column null-fill it, so a recorded NOT NULL
        would let Catalyst fold ``IS NULL`` on it to an empty scan."""
        from pyspark.sql.types import StructField

        from .schema_evolution import dataset_schema

        path = _norm_path(self.options.get("path"))
        if not path:
            raise ValueError("lance datasource requires a 'path' option")
        v = self.options.get("version")
        v = int(v) if v is not None else None
        storage = _storage_opts(dict(self.options))
        try:
            recorded = dataset_schema(path, v, storage)
        except FR.LanceUnavailableError:
            # REAL Lance dataset: schema straight from the binary
            # manifest (local, or s3:// through the storage seam)
            from ..types import arrow_schema_to_spark
            from . import lance_format as LF

            recorded = arrow_schema_to_spark(LF.arrow_schema_of(
                LF.read_native_manifest(path, v, storage).fields))
        return StructType([StructField(f.name, f.dataType, True, f.metadata)
                           for f in recorded])

    def reader(self, schema: StructType) -> LanceDataSourceReader:
        return LanceDataSourceReader(dict(self.options), schema)

    def writer(self, schema: StructType, overwrite: bool) -> LanceDataSourceWriter:
        return LanceDataSourceWriter(dict(self.options), overwrite)

    def streamWriter(self, schema: StructType, overwrite: bool) -> LanceDataSourceStreamWriter:
        return LanceDataSourceStreamWriter(dict(self.options))

    def streamReader(self, schema: StructType) -> LanceDataSourceStreamReader:
        return LanceDataSourceStreamReader(dict(self.options), schema)


def register_lance_datasource(spark) -> None:
    """Idempotent ``spark.dataSource.register`` (SURVEY.md §7.1 M1).

    Also enables ``spark.sql.python.filterPushdown.enabled`` (runtime
    conf, default false in Spark 4.1): a reader implementing
    ``pushFilters`` hard-fails without it, and plain sessions — like the
    external driver's — don't set it."""
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(LanceDataSource)
