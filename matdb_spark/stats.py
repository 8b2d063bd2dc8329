"""Manifest-level segment statistics (Iceberg-manifest-style pruning).

The reference persists per-block zone maps in the segment footer
(reference: src/block.rs:210-232 get_min_bounds/get_max_bounds;
src/segment.rs:138-163 BlockInfo{min_bounds,max_bounds}) and uses them
to activate blocks lazily during the merge scan (src/scan.rs:119-180).
Parquet row-group statistics already replay that role at the file
level — but only after the reader has LISTED and OPENED the files.

At 100 TB the listing itself is the cost: a snapshot may hold
thousands of transactions, each with many chunk directories. So the
commit manifest additionally carries per-transaction min/max bounds
per dimension, read on the driver at commit (``manifest.commit``, the
one commit routine of every writer) from the Parquet FOOTERS of the
files the txn lists (no data scan — footer metadata only, one small
read per file). A key-range scan, or a point get key by key, then drops
entire transactions at *planning* time, before any file listing or
Spark job: three pruning tiers — manifest stats (txn level) → Hive
partition pruning (chunk level) → Parquet row-group stats (page
level).

Only integral/float dimension stats are recorded (``_STAT_TYPES``);
anything else is left absent, and absent stats always mean "cannot
prune" — correctness never depends on stats. A footer without min/max
for a tracked dim leaves that dim out of the txn's stats: the format
sinks write none for a float column holding NaN, whose min/max would
hide the NaN.
"""

from __future__ import annotations

import os

# Types whose parquet footer min/max are directly comparable to Python
# bound values with exact semantics.
_STAT_TYPES = {"long", "int", "double", "float"}


def collect_segment_info(seg_dir: str) -> list[str]:
    """The parquet files of one written segment: '/'-normalized paths
    relative to ``seg_dir``, from one filesystem walk. The commit
    manifest records them (``manifest.commit``), so scans resolve their
    file sets WITHOUT listing jobs (the Delta/Iceberg design: at scale,
    listing thousands of chunk directories costs more than the pruned
    read), and the commit reads the txn stats from their footers.

    CAVEAT for eventually-consistent stores: this list is a post-write
    listing of the local filesystem; a gateway that can omit a
    just-written file from a listing would silently drop rows from
    every scan of this txn. On such deployments record file sets from
    the writer's commit protocol instead, as the DSv2 sinks do (their
    tasks report the files they wrote). Small library commits already
    do: their segments are written on the driver by
    ``scan.write_segment_files``, whose returned file list the commit
    records; this listing serves only segments Spark's writer wrote."""
    return sorted(
        os.path.relpath(os.path.join(root, f), seg_dir).replace(os.sep, "/")
        for root, _dirs, files in os.walk(seg_dir)
        for f in files
        if f.endswith(".parquet")
    )


def footer_stats(paths: list[str], dims: list[str]) -> dict | None:
    """Row count and per-dim [min, max] of the parquet files ``paths``
    from their footers alone, or None when pyarrow is unavailable or a
    footer is unreadable. A dim that some row group has no min/max for
    is left out (absent stats only loosen pruning, never correctness)."""
    try:
        import pyarrow.parquet as pq
    except Exception:
        return None
    out: dict[str, list] = {}
    lost: set[str] = set()
    rows = 0
    try:
        for path in paths:
            md = pq.ParquetFile(path).metadata
            rows += md.num_rows
            names = {md.schema.column(i).name: i for i in range(md.num_columns)}
            for rg in range(md.num_row_groups):
                g = md.row_group(rg)
                for d in dims:
                    # dimension columns are always written into the
                    # data files (segments partitionBy only the derived
                    # __chunk_* columns) — a missing dim means an
                    # unexpected layout: disable its pruning rather
                    # than emit wrong bounds
                    st = g.column(names[d]).statistics if d in names else None
                    if st is None or not st.has_min_max:
                        lost.add(d)
                        continue
                    cur = out.get(d)
                    out[d] = [st.min, st.max] if cur is None else _hull(cur, [st.min, st.max])
    except Exception:
        return None
    return {"rows": rows, "dims": {d: r for d, r in out.items() if d not in lost}}


def spark_order(v):
    """Sort key of a key bound in Spark's order, where NaN sorts above
    every other double — Python's ``min``/``max`` leave NaN unordered,
    so ``max(0.1, nan)`` is 0.1 and a merged bound would exclude the
    file's NaN and everything above 0.1 with it."""
    return (v != v, v)


def _hull(a: list, b: list) -> list:
    """The [min, max] range covering ranges ``a`` and ``b``."""
    return [min(a[0], b[0], key=spark_order), max(a[1], b[1], key=spark_order)]


def txn_intersects(stats: dict | None, bounds: dict[str, tuple]) -> bool:
    """Planner check: may this transaction contain rows in the box
    ``bounds``? A range scan asks once per transaction; a point get asks
    once per (transaction, key) pair, each key being its own box.
    Missing stats (or a dim absent from them) → True (cannot prune)."""
    if not stats:
        return True
    dims = stats.get("dims") or {}
    for name, (lo, hi) in bounds.items():
        rng = dims.get(name)
        if rng is None:
            continue
        if lo is not None and rng[1] < lo:
            return False
        if hi is not None and rng[0] > hi:
            return False
    return True
