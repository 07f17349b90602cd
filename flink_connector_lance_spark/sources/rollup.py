"""Incremental materialized rollups: aggregate views maintained from
version deltas, never by rescanning the table.

At 100 TB, "refresh the per-(lang, source) token counts" must not
re-read the corpus — appends arrive as new fragments, and every
distributive/algebraic aggregate (COUNT/SUM/MIN/MAX/AVG) merges from
per-fragment partial states. This module materializes a rollup as its
own versioned fragment dataset under ``<table>/_rollups/<name>`` whose
commit metadata records the exact fragment files it covers; a refresh
diffs that file list against the current manifest:

- files added only  -> **incremental**: partial-aggregate the delta
  fragments (map-side combine + ONE shuffle on the group keys, sized by
  the delta), union with the stored partial state (size = number of
  groups, not rows), merge-aggregate, commit. Cost is O(delta + groups).
- files removed     -> a rewrite happened (DELETE/MERGE/compaction/
  overwrite): merging would double-count surviving rows, so fall back
  to a **full** recompute (still one pass; correctness over cleverness).
- no change         -> **noop** (metadata-only decision).

State representation (the classic partial-aggregate algebra):
COUNT -> count, merged by SUM; SUM/MIN/MAX -> merged by themselves;
AVG -> (sum, count) pair, finalized as sum/count at read time;
APPROX_DISTINCT -> a binary Datasketches HLL sketch (``hll_sketch_agg``),
merged by ``hll_union_agg`` and finalized by ``hll_sketch_estimate`` —
the sketch union is lossless, so the estimate after any sequence of
incremental refreshes equals the estimate of one full scan. Exact
COUNT DISTINCT stays refused — it is not decomposable without
re-scanning (the sketch is the scalable answer).
HISTOGRAM -> a fixed-bin array of EXACT per-bin counts (bounds declared
at create time), merged by element-wise sum — the incremental answer to
"what does the token/length distribution look like per group" that
``percentile_approx`` can't give (its partial state isn't mergeable from
SQL); ``quantile_from_histogram`` turns a row of it into a quantile
estimate with at most one bin width of error.

A rollup may also declare a ``pre_transform`` (persisted ``selectExpr``
strings applied to every delta BEFORE aggregation): with
``explode(split(text, ' ')) AS term`` and a per-term count this is an
incrementally maintained inverted index — per-term corpus frequencies
(the BM25 document-frequency statistics) kept fresh per append at
O(delta), never by rescanning the corpus.

The reference has no analog (its catalog hard-codes UNKNOWN statistics
and recomputes everything — ref table/LanceCatalog.java:683-704); this
is the standard incremental-view-maintenance upgrade a Lance user needs
once appends outpace full scans.

MVCC safety: the merge plan reads the rollup's CURRENT fragment files
while the new state is staged; the overwrite commit only swaps the
manifest — old fragment files stay on disk until the rollup dataset is
vacuumed, so there is no read-while-overwrite window.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import fragments as FR
from .maintenance import _file_scan
from .writer import write_dataset

ROLLUPS_DIR = "_rollups"
_META_KEY = "rollup"
_FNS = ("count", "sum", "min", "max", "avg", "approx_distinct", "histogram")
# unrolled per-bin aggregate expressions stay inside whole-stage codegen;
# the cap keeps the generated method far below janino's 64 KB limit
_MAX_HIST_BINS = 128


def rollup_path(path: str, name: str) -> str:
    return os.path.join(path, ROLLUPS_DIR, name)


def _normalize_aggs(aggs: dict) -> "list[dict]":
    """``{out: ("avg", "n_chars")} | {out: "count"} |
    {out: ("histogram", col, lo, hi, bins)}`` -> ordered spec list."""
    out = []
    for alias, spec in aggs.items():
        params: "tuple | None" = None
        if isinstance(spec, str):
            fn, col = spec, None
        elif isinstance(spec, (tuple, list)) and len(spec) >= 2:
            if len(spec) == 2:
                fn, col = spec
            else:
                fn, col, params = spec[0], spec[1], tuple(spec[2:])
        else:
            raise ValueError(
                f"malformed rollup aggregate spec for {alias!r}: {spec!r} — "
                "expected 'count', (fn, col), or (fn, col, *params)"
            )
        fn = fn.lower()
        if fn not in _FNS:
            raise ValueError(
                f"unsupported rollup aggregate {fn!r} for {alias!r}; "
                f"supported: {', '.join(_FNS)} (exact COUNT DISTINCT is not "
                "incrementally mergeable — use 'approx_distinct' for the "
                "HLL-sketch estimate, whose partial states union losslessly)"
            )
        if fn != "count" and col is None:
            raise ValueError(f"{fn}({alias}) needs a source column")
        entry = {"out": alias, "fn": fn, "col": col}
        if fn == "histogram":
            if params is None or len(params) != 3:
                raise ValueError(
                    f"histogram({alias}) needs (col, lo, hi, bins) — fixed "
                    "bounds make the per-bin counts exact and mergeable"
                )
            lo, hi, bins = float(params[0]), float(params[1]), int(params[2])
            if not (lo < hi):
                raise ValueError(f"histogram({alias}): lo must be < hi")
            if not (2 <= bins <= _MAX_HIST_BINS):
                raise ValueError(
                    f"histogram({alias}): bins must be in [2, {_MAX_HIST_BINS}]"
                )
            entry.update({"lo": lo, "hi": hi, "bins": bins})
        elif params is not None:
            raise ValueError(f"{fn}({alias}) takes no extra parameters")
        out.append(entry)
    if not out:
        raise ValueError("rollup needs at least one aggregate")
    return out


def _hist_bin(a: dict):
    """Bin index for one value: floor((x - lo) / w), edge-clamped so the
    counts always cover every non-null row (out-of-range values land in
    the first/last bin rather than disappearing). NULLs stay NULL and
    count toward no bin."""
    lo, hi, bins = a["lo"], a["hi"], a["bins"]
    w = (hi - lo) / bins
    raw = F.floor((F.col(a["col"]).cast("double") - F.lit(lo)) / F.lit(w))
    # greatest/least SKIP nulls (a null value would clamp into bin 0);
    # gate on isNotNull so NULL stays NULL and counts toward no bin
    return F.when(F.col(a["col"]).isNotNull(),
                  F.least(F.greatest(raw, F.lit(0)), F.lit(bins - 1)))


def _partial_exprs(spec: "list[dict]"):
    """Per-delta partial state: AVG decomposes into (sum, count);
    APPROX_DISTINCT keeps a binary HLL sketch (Datasketches HllSketch via
    ``hll_sketch_agg`` — Spark 3.5+), whose union is lossless, making the
    "distinct" family incrementally mergeable where the exact count isn't."""
    exprs = []
    for a in spec:
        fn, col, out = a["fn"], a["col"], a["out"]
        if fn == "count":
            exprs.append(F.count(F.lit(1) if col is None else F.col(col)).alias(out))
        elif fn == "avg":
            exprs.append(F.sum(F.col(col)).alias(f"{out}__sum"))
            exprs.append(F.count(F.col(col)).alias(f"{out}__cnt"))
        elif fn == "approx_distinct":
            exprs.append(F.hll_sketch_agg(F.col(col)).alias(f"{out}__hll"))
        elif fn == "histogram":
            # one exact per-bin count per element — unrolled conditional
            # sums (pure codegen, map-side combinable); the array merges
            # by element-wise sum, so the distribution is maintained
            # incrementally with zero loss
            b = _hist_bin(a)
            exprs.append(F.array(*[
                F.coalesce(F.sum((b == i).cast("long")), F.lit(0))
                for i in range(a["bins"])
            ]).alias(f"{out}__hist"))
        else:
            exprs.append(getattr(F, fn)(F.col(col)).alias(out))
    return exprs


def _merge_exprs(spec: "list[dict]"):
    """Merge two partial states: counts and sums add, min/max re-apply,
    HLL sketches union."""
    exprs = []
    for a in spec:
        fn, out = a["fn"], a["out"]
        if fn in ("count", "sum"):
            exprs.append(F.sum(F.col(out)).alias(out))
        elif fn == "avg":
            exprs.append(F.sum(F.col(f"{out}__sum")).alias(f"{out}__sum"))
            exprs.append(F.sum(F.col(f"{out}__cnt")).alias(f"{out}__cnt"))
        elif fn == "approx_distinct":
            exprs.append(F.hll_union_agg(F.col(f"{out}__hll")).alias(f"{out}__hll"))
        elif fn == "histogram":
            exprs.append(F.array(*[
                F.coalesce(F.sum(F.element_at(F.col(f"{out}__hist"), i + 1)),
                           F.lit(0))
                for i in range(a["bins"])
            ]).alias(f"{out}__hist"))
        else:
            exprs.append(getattr(F, fn)(F.col(out)).alias(out))
    return exprs


def _apply_transform(df: DataFrame, pre_transform: "list[str] | None") -> DataFrame:
    """Row transform applied to every delta BEFORE partial aggregation —
    ``selectExpr`` strings, so ``explode``/``split``/casts are in play.
    This is what turns the rollup machinery into an incrementally
    maintained INVERTED INDEX: ``["explode(split(text, ' ')) AS term"]``
    with group_cols ``["term"]`` and a count keeps per-term document/
    occurrence frequencies fresh per append at O(delta) — the corpus-
    stats half of BM25 without ever rescanning the corpus. The transform
    is persisted in the rollup's commit metadata, so refreshes apply the
    exact expressions the state was created with."""
    if not pre_transform:
        return df
    return df.selectExpr(*pre_transform)


def _partial_state(df: DataFrame, group_cols: "list[str]", spec) -> DataFrame:
    return df.groupBy(*group_cols).agg(*_partial_exprs(spec))


def _read_state(spark: SparkSession, rp: str, manifest: FR.Manifest,
                s3) -> DataFrame:
    """The partial state at ``manifest``: the rewrites' fragment scan
    (``maintenance._file_scan``, one body for local and s3) over the
    state dataset — the only scan of a refresh that is not of the source
    table."""
    from . import maintenance

    return maintenance._file_scan(spark, rp, manifest, s3)


def _commit_state(state: DataFrame, rp: str, group_cols, spec,
                  source_manifest: FR.Manifest,
                  pre_transform: "list[str] | None" = None,
                  s3=None) -> None:
    from ..options import DatasetOptions

    meta = {
        _META_KEY: {
            "group_cols": list(group_cols),
            "spec": spec,
            "pre_transform": list(pre_transform) if pre_transform else None,
            "source_version": source_manifest.version,
            "covered_files": sorted(f.file for f in source_manifest.fragments),
        }
    }
    write_dataset(state, rp, mode="overwrite", commit_meta=meta,
                  options=DatasetOptions(path=rp, s3=s3))


def create_rollup(
    spark: SparkSession,
    path: str,
    name: str,
    group_cols: "list[str]",
    aggs: dict,
    pre_transform: "list[str] | None" = None,
    s3=None,
) -> dict:
    """Materialize a rollup over the table's CURRENT version.

    ``aggs`` maps output column -> ``(fn, src_col)`` (or the string
    ``"count"`` for COUNT(*)), fn in count|sum|min|max|avg. Returns a
    summary dict; the state lands under ``<path>/_rollups/<name>``.

    ``pre_transform``: optional ``selectExpr`` strings applied to every
    delta before aggregation (see ``_apply_transform`` — the inverted-
    index enabler). The produced columns must cover group_cols and the
    aggregate source columns.

    s3:// datasets work end-to-end (``s3=S3Options(...)``): the state is
    itself a dataset and lives under the same ``_rollups/`` key prefix —
    materialized views ON object storage, refreshed at O(delta).
    """
    spec = _normalize_aggs(aggs)
    storage = s3.to_storage_options() if s3 is not None else None
    m = FR.read_manifest_compat(path, storage_options=storage)
    df = _apply_transform(_file_scan(spark, path, m, s3),
                          pre_transform)
    _missing_transform_cols(df, group_cols, spec)
    _commit_state(_partial_state(df, group_cols, spec), rollup_path(path, name),
                  group_cols, spec, m, pre_transform, s3=s3)
    return {"name": name, "source_version": m.version,
            "covered_fragments": len(m.fragments)}


def _missing_transform_cols(df: DataFrame, group_cols, spec) -> None:
    need = set(group_cols) | {a["col"] for a in spec if a["col"]}
    missing = sorted(need - set(df.columns))
    if missing:
        raise ValueError(
            f"rollup input is missing column(s) {missing} — the "
            "pre_transform must produce every group/aggregate column"
        )


def refresh_rollup(spark: SparkSession, path: str, name: str,
                   vacuum_keep_versions: "int | None" = None,
                   s3=None) -> dict:
    """Bring a rollup up to the table's current version.

    Returns ``{"mode": "noop" | "incremental" | "full", ...}`` —
    incremental when the table only gained fragments since the last
    refresh (appends, streaming epochs), full when any covered fragment
    disappeared (rewrite), noop when nothing changed.

    ``vacuum_keep_versions`` is OPT-IN (default ``None`` = keep every
    rollup-state version, preserving time travel over the state): the
    unbounded-growth concern only arises for high-frequency refreshers,
    so the per-epoch streaming refresh and auto-maintenance pass 2
    (keeping the previous version preserves the read-while-overwrite
    window described in the module docstring); one-off callers keep
    full history unless they ask otherwise.
    """
    rp = rollup_path(path, name)
    storage = s3.to_storage_options() if s3 is not None else None
    rm = FR.read_manifest(rp, None, storage)
    info = rm.meta.get(_META_KEY)
    if not info:
        raise ValueError(f"{rp} is not a rollup (no {_META_KEY!r} commit meta)")
    group_cols, spec = info["group_cols"], info["spec"]
    pre_transform = info.get("pre_transform")
    cur = FR.read_manifest_compat(path, storage_options=storage)
    covered = set(info["covered_files"])
    cur_files = {f.file for f in cur.fragments}
    def _vacuum_state() -> None:
        if vacuum_keep_versions is not None:
            from .maintenance import vacuum_dataset

            vacuum_dataset(rp, keep_versions=vacuum_keep_versions,
                           storage_options=storage)

    if covered - cur_files:
        # DELETE/MERGE/compaction/overwrite rewrote covered data: partials
        # for the vanished files can't be subtracted out — recompute
        df = _apply_transform(_file_scan(spark, path, cur, s3),
                              pre_transform)
        _commit_state(_partial_state(df, group_cols, spec), rp, group_cols,
                      spec, cur, pre_transform, s3=s3)
        _vacuum_state()
        return {"mode": "full", "source_version": cur.version,
                "reason": f"{len(covered - cur_files)} covered fragment(s) rewritten"}
    added = [f for f in cur.fragments if f.file not in covered]
    if not added:
        return {"mode": "noop", "source_version": info["source_version"]}
    delta = _apply_transform(
        _file_scan(spark, path, cur, s3, files=[f.file for f in added]),
        pre_transform)
    merged = (
        _read_state(spark, rp, rm, s3)
        .unionByName(_partial_state(delta, group_cols, spec))
        .groupBy(*group_cols)
        .agg(*_merge_exprs(spec))
    )
    _commit_state(merged, rp, group_cols, spec, cur, pre_transform, s3=s3)
    _vacuum_state()
    return {"mode": "incremental", "source_version": cur.version,
            "delta_fragments": len(added),
            "delta_rows": sum(f.row_count for f in added)}


def read_rollup(spark: SparkSession, path: str, name: str,
                s3=None) -> DataFrame:
    """Finalized rollup: AVG states resolve to sum/count; everything else
    reads straight from the partial state (they are their own finals)."""
    rp = rollup_path(path, name)
    storage = s3.to_storage_options() if s3 is not None else None
    rm = FR.read_manifest(rp, None, storage)
    info = rm.meta.get(_META_KEY)
    if not info:
        raise ValueError(f"{rp} is not a rollup (no {_META_KEY!r} commit meta)")
    df = _read_state(spark, rp, rm, s3)
    cols = [F.col(c) for c in info["group_cols"]]
    for a in info["spec"]:
        out = a["out"]
        if a["fn"] == "avg":
            cols.append(
                (F.col(f"{out}__sum").cast("double") / F.col(f"{out}__cnt")).alias(out)
            )
        elif a["fn"] == "approx_distinct":
            cols.append(F.hll_sketch_estimate(F.col(f"{out}__hll")).alias(out))
        elif a["fn"] == "histogram":
            cols.append(F.col(f"{out}__hist").alias(out))
        else:
            cols.append(F.col(out))
    return df.select(*cols)


def quantile_from_histogram(counts: "list[int]", lo: float, hi: float,
                            p: float) -> "float | None":
    """Linear-interpolated quantile estimate from one finalized histogram
    row (``read_rollup``'s array column). Max error = one bin width — at
    100 TB the rollup state is group-count-sized, so this readout is a
    driver-side constant-time formula over already-merged exact counts,
    never a data scan. ``None`` on an empty histogram."""
    if not (0.0 <= p <= 1.0):
        raise ValueError("p must be in [0, 1]")
    total = sum(counts)
    if total == 0:
        return None
    w = (hi - lo) / len(counts)
    target = p * total
    acc = 0
    for i, c in enumerate(counts):
        if acc + c >= target and c > 0:
            frac = (target - acc) / c
            return lo + w * (i + frac)
        acc += c
    return hi


def rollup_status(path: str, name: str,
                  storage_options: "dict | None" = None) -> dict:
    """Metadata-only staleness report (no Spark job): how far behind the
    table is this rollup, and would a refresh be incremental?"""
    rp = rollup_path(path, name)
    info = FR.read_manifest(rp, None, storage_options).meta.get(_META_KEY)
    if not info:
        raise ValueError(f"{rp} is not a rollup (no {_META_KEY!r} commit meta)")
    cur = FR.read_manifest_compat(path, storage_options=storage_options)
    covered = set(info["covered_files"])
    cur_files = {f.file for f in cur.fragments}
    added = [f for f in cur.fragments if f.file not in covered]
    return {
        "name": name,
        "rollup_source_version": info["source_version"],
        "table_version": cur.version,
        "pending_fragments": len(added),
        "pending_rows": sum(f.row_count for f in added),
        "needs_full": bool(covered - cur_files),
        "group_cols": info["group_cols"],
        "aggs": json.loads(json.dumps(info["spec"])),
        "pre_transform": info.get("pre_transform"),
    }
