"""Auto-maintenance: one policy-driven pass over every maintenance
surface — the ``OPTIMIZE``-scheduler glue that turns the individual
primitives (compact / tail-cluster / rollup refresh / index refresh /
vacuum) into something a table owner can put on a cron.

``run_maintenance(spark, path)`` reads the ``describe_dataset`` report,
decides which passes are due under the policy thresholds, and executes
them in dependency order:

1. **compact** when the runt-fragment fraction passes the threshold
   (compaction first — later passes see the defragmented layout);
2. **tail-cluster** when a clustering layout exists and the unclustered
   tail passes its row-fraction threshold (keeps zone maps selective
   without a full rewrite);
3. **refresh rollups** that have pending rows (incremental when the
   table only gained fragments; the rollup module decides);
4. **refresh indexes** whose unindexed tail passes the index module's
   fraction threshold (delegated to ``index.refresh_index``, which
   no-ops below it);
5. **vacuum** last — prior passes create the dead versions worth
   collecting (index-pinned manifests are preserved by vacuum itself).

Every step is optional, individually skippable, and reported; a
``dry_run`` returns the decisions without mutating anything. Policies
are plain numbers, not magic: the defaults suit a table receiving
steady micro-batch appends.

s3:// datasets run the same pass (``s3=S3Options(...)``): compact /
tail-cluster / vacuum route to their executor-direct remote twins, and
rollup / FTS / ANN refreshers run against the object-storage sidecar
planes (``_rollups/``, ``_fts/``, ``_indexes/`` engine datasets) — no
local checkout required.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import SparkSession

from . import fragments as FR
from .maintenance import (
    cluster_dataset,
    compact_dataset,
    describe_dataset,
    vacuum_dataset,
)


@dataclass
class MaintenancePolicy:
    target_rows_per_fragment: int = 1_000_000
    # compact when > this fraction of fragments are runts (< half target)
    max_runt_fraction: float = 0.3
    # tail-cluster when the unclustered tail exceeds this row fraction
    max_unclustered_fraction: float = 0.2
    # refresh an ANN index when its unindexed tail exceeds this fraction
    max_unindexed_fraction: float = 0.2
    # compact (materializing deletion-vector tombstones) when tombstoned
    # rows exceed this fraction of live rows — unbounded tombstone debt
    # makes every scan pay the masking cost forever
    max_tombstone_fraction: float = 0.2
    # MVCC versions to retain at vacuum; None disables the vacuum step
    keep_versions: "int | None" = 2
    refresh_rollups: bool = True
    refresh_fts: bool = True
    # re-cluster an FTS postings dataset once incremental refreshes have
    # fragmented it past this count (each append overlaps the old term
    # ranges, decaying pruning selectivity); None disables
    max_fts_fragments: "int | None" = 64


def run_maintenance(
    spark: SparkSession,
    path: str,
    policy: "MaintenancePolicy | None" = None,
    dry_run: bool = False,
    s3=None,
) -> dict:
    """One maintenance pass under ``policy``. Returns a report of what
    ran (or would run, with ``dry_run=True``) and why — every decision
    carries its triggering measurement so the skip/run reasoning is
    auditable.

    Works on s3:// datasets too (pass ``s3=S3Options(...)``): describe
    and vacuum are the same calls for every location (the storage seam,
    sources/fs.py), compact (incl. tombstone materialization) and
    tail-cluster run their executor-direct remote rewrites, and ANN/FTS
    indexes and rollups are all datasets under the table's key prefix
    (describe enumerates them), so their refreshers run remotely too."""
    from ..index import refresh_index
    from ..options import DatasetOptions as _DatasetOptions
    from .rollup import refresh_rollup

    storage = s3.to_storage_options() if s3 is not None else None

    p = policy or MaintenancePolicy()
    desc = describe_dataset(path, storage_options=storage)
    total_rows = max(1, desc["num_rows"])
    report: dict = {"path": path, "dry_run": dry_run, "steps": []}

    def step(name: str, due: bool, why: str, action):
        entry = {"step": name, "due": due, "why": why}
        if due and not dry_run:
            entry["result"] = action()
        report["steps"].append(entry)

    # 1. compact — due on runt-fragment debt OR deletion-vector
    # tombstone debt (compaction materializes the tombstones; every scan
    # pays the masking cost until then)
    manifest = FR.read_manifest_compat(path, storage_options=storage)
    runts = [f for f in manifest.fragments
             if f.row_count < p.target_rows_per_fragment // 2]
    runt_frac = len(runts) / max(1, len(manifest.fragments))
    tomb_frac = desc["tombstoned_rows"] / total_rows
    step(
        "compact",
        (len(runts) >= 2 and runt_frac > p.max_runt_fraction)
        or tomb_frac > p.max_tombstone_fraction,
        f"runt fraction {runt_frac:.2f} (threshold {p.max_runt_fraction}), "
        f"tombstone fraction {tomb_frac:.2f} "
        f"(threshold {p.max_tombstone_fraction})",
        lambda: {"new_version": compact_dataset(
            spark, path, target_rows_per_fragment=p.target_rows_per_fragment,
            small_threshold=(p.target_rows_per_fragment
                             if tomb_frac > p.max_tombstone_fraction
                             else None),
            s3=s3,
        ).version},
    )
    if report["steps"][-1]["due"] and not dry_run:
        # compaction rewrote the layout: re-snapshot so the passes below
        # see its effects NOW (rewritten-into-unclustered fragments, a
        # rollup flipped to needs_full), not on the next maintenance cycle
        desc = describe_dataset(path, storage_options=storage)
        total_rows = max(1, desc["num_rows"])

    # 2. tail clustering (only when a layout exists to maintain)
    cl = desc["clustering"]
    if cl is not None:
        by = cl.get("cluster_by") or cl.get("zorder")
        tail_frac = cl["unclustered_rows"] / total_rows
        step(
            "cluster_tail",
            tail_frac > p.max_unclustered_fraction,
            f"unclustered fraction {tail_frac:.2f} "
            f"(threshold {p.max_unclustered_fraction})",
            lambda: {"new_version": cluster_dataset(
                spark, path, by=list(by), zorder="zorder" in cl,
                target_rows_per_fragment=p.target_rows_per_fragment,
                scope="tail", s3=s3,
            ).version},
        )

    # 3. rollups (local AND remote — the state is itself a dataset)
    if p.refresh_rollups and desc.get("rollups"):
        for r in desc["rollups"]:
            step(
                f"refresh_rollup:{r['name']}",
                r["pending_rows"] > 0 or r["needs_full"],
                f"pending_rows {r['pending_rows']}, needs_full {r['needs_full']}",
                lambda name=r["name"]: refresh_rollup(
                    spark, path, name, vacuum_keep_versions=2, s3=s3),
            )

    # 3b. FTS inverted indexes (append deltas merge incrementally; a
    # covered-file rewrite triggers the full rebuild inside refresh)
    if p.refresh_fts and desc.get("fts"):
        from .fts import fts_index_path, refresh_fts_index

        for fx in desc["fts"]:
            step(
                f"refresh_fts:{fx['column']}",
                fx["pending_rows"] > 0 or fx["needs_full"],
                f"pending_rows {fx['pending_rows']}, needs_full {fx['needs_full']}",
                lambda col=fx["column"]: refresh_fts_index(spark, path, col,
                                                           s3=s3),
            )
            # 3c. postings-layout upkeep: incremental refreshes append
            # term-range-overlapping fragments; past the threshold,
            # re-cluster the postings dataset on term so zone maps prune
            # tightly again ('fts' meta survives — fragments.commit
            # inherits it like the schema)
            if p.max_fts_fragments is not None:
                idxp = fts_index_path(path, fx["column"])
                try:
                    im = FR.read_manifest(idxp, None, storage)
                except FileNotFoundError:
                    continue
                nfrag = len(im.fragments)
                # fragment granularity comes from the INDEX's own build
                # parameter, not the table policy — postings rows are
                # hundreds of times smaller than table rows
                rows_per = im.meta.get("fts", {}).get(
                    "max_rows_per_fragment", 1_000_000)
                step(
                    f"cluster_fts:{fx['column']}",
                    nfrag > p.max_fts_fragments,
                    f"postings fragments {nfrag} "
                    f"(threshold {p.max_fts_fragments})",
                    lambda ip=idxp, r=rows_per: {"new_version": cluster_dataset(
                        spark, ip, by=["term"], target_rows_per_fragment=r,
                        s3=s3,
                    ).version},
                )

    # 4. indexes (refresh_index itself re-checks and no-ops below the bar)
    for idx in desc.get("indexes") or []:
        frac = idx["unindexed_rows"] / total_rows
        step(
            f"refresh_index:{idx['column']}",
            frac > p.max_unindexed_fraction,
            f"unindexed fraction {frac:.2f} (threshold {p.max_unindexed_fraction})",
            lambda col=idx["column"]: {
                "rebuilt": refresh_index(
                    path, col, spark=spark,
                    max_uncovered_fraction=p.max_unindexed_fraction,
                    options=_DatasetOptions(path=path, s3=s3),
                ) is not None
            },
        )

    # 5. vacuum (last: collect the garbage the passes above created)
    if p.keep_versions is not None:
        step(
            "vacuum",
            True,
            f"keep_versions {p.keep_versions}",
            lambda: vacuum_dataset(path, keep_versions=p.keep_versions,
                                   storage_options=storage),
        )
    return report
