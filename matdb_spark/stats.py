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
per dimension, aggregated driver-side from the Parquet FOOTERS of the
just-written segment (no data scan — footer metadata only, O(files)
small reads). A key-range scan, or a point get key by key, then drops
entire transactions at *planning* time, before any file listing or
Spark job: three pruning tiers — manifest stats (txn level) → Hive
partition pruning (chunk level) → Parquet row-group stats (page
level).

Only integral/float dimension stats are recorded (the types chunking
supports plus float); anything else is left absent, and absent stats
always mean "cannot prune" — correctness never depends on stats.
"""

from __future__ import annotations

import os

# Types whose parquet footer min/max are directly comparable to Python
# bound values with exact semantics.
_STAT_TYPES = {"long", "int", "double", "float"}


def _iter_parquet_files(seg_dir: str):
    for root, _dirs, files in os.walk(seg_dir):
        for f in files:
            if f.endswith(".parquet"):
                yield os.path.join(root, f)


def collect_segment_info(seg_dir: str, schema) -> tuple[dict | None, list[str]]:
    """ONE filesystem walk producing both per-segment artifacts:

    - stats: per-dimension [min, max] + row count from parquet footers
      (None if pyarrow is unavailable or any footer lacks stats for a
      tracked dim — absent stats only loosen pruning, never correctness);
    - files: '/'-normalized paths relative to ``seg_dir``, recorded in
      the commit manifest so scans resolve their file sets WITHOUT
      listing jobs (the Delta/Iceberg design: at scale, listing
      thousands of chunk directories costs more than the pruned read).

    A stats failure does NOT abort the walk — the file list keeps
    accumulating (files affect correctness-relevant file resolution;
    stats are advisory). CAVEAT for eventually-consistent stores: this
    list is a post-write listing of the local filesystem; a gateway
    that can omit a just-written file from a listing would silently
    drop rows from every scan of this txn. On such deployments record
    file sets from the writer's commit protocol instead (or disable
    the list and fall back to listing-based scans)."""
    n = len(seg_dir.rstrip(os.sep)) + 1
    paths = list(_iter_parquet_files(seg_dir))
    stats = footer_stats(paths, [d.name for d in schema.dimensions if d.type in _STAT_TYPES])
    return stats, sorted(p[n:].replace(os.sep, "/") for p in paths)


def footer_stats(paths: list[str], dims: list[str]) -> dict | None:
    """Row count and per-dim [min, max] of the parquet files ``paths``
    from their footers alone, or None when pyarrow is unavailable or
    any row group lacks min/max for one of ``dims`` (absent stats only
    loosen pruning, never correctness)."""
    try:
        import pyarrow.parquet as pq
    except Exception:
        return None
    out: dict[str, list] = {}
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
                    # unexpected layout: disable pruning rather than
                    # emit wrong bounds
                    st = g.column(names[d]).statistics if d in names else None
                    if st is None or not st.has_min_max:
                        return None
                    cur = out.get(d)
                    out[d] = [st.min, st.max] if cur is None else _hull(cur, [st.min, st.max])
    except Exception:
        return None
    return {"rows": rows, "dims": out}


def merge_stats(a: dict | None, b: dict | None) -> dict | None:
    """Combine per-segment stats into per-transaction stats. None is
    infectious: one segment without stats disables txn-level pruning
    (absent always means 'cannot prune')."""
    if a is None or b is None:
        return None
    dims: dict[str, list] = {}
    for d in set(a["dims"]) & set(b["dims"]):
        dims[d] = _hull(a["dims"][d], b["dims"][d])
    return {"rows": a["rows"] + b["rows"], "dims": dims}


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
