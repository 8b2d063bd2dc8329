"""Small bounded reads served on the driver (``scan._driver_read``).

A point get or key range whose pruned files are few and small is read
with pyarrow, resolved by ``scan.resolve_arrow`` and returned as a
local DataFrame. These tests pin where that path stops (the decoded
byte cap) and that its values and schema match the Spark plan's under
non-UTC time zones.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pyarrow.parquet as pq

from matdb_spark import Database, Dimension, Schema, Value, scan


def _is_local(df) -> bool:
    return df._jdf.queryExecution().executedPlan().toString().startswith("LocalTableScan")


def test_compressible_files_past_the_decoded_cap_stay_on_spark(spark, tmp_db_path):
    """A file set under the on-disk cap whose row groups decode past
    ``_SINGLE_TASK_MAX_BYTES`` takes the Spark plan, with the same rows."""
    db = Database.create(
        spark,
        os.path.join(tmp_db_path, "wide"),
        Schema(dimensions=[Dimension("k", 1 << 20)], values=[Value("s", "string")]),
    )
    n = 3000
    with db.begin() as t:  # 2 KB strings that compress to almost nothing
        t.add_dataframe(spark.range(n).selectExpr("id AS k", "concat(lpad(id, 6, '0'), repeat('x', 2000)) AS s"))
        t.commit()
    files = scan.read_plan(db.begin()._source(), {"k": (0, n)}).paths
    assert len(files) == 1 and scan._small_input(files)
    md = pq.ParquetFile(files[0]).metadata
    decoded = sum(md.row_group(i).total_byte_size for i in range(md.num_row_groups))
    assert decoded > scan._SINGLE_TASK_MAX_BYTES

    df = db.begin().query_range({"k": (10, n)})
    assert not _is_local(df)
    rows = df.collect()
    assert [r.k for r in rows] == list(range(10, n))
    assert rows[0].s == "000010" + "x" * 2000
    # the cap bounds the files a read opens, not the rows it returns
    pts = db.begin().query_points([(5,), (7,)])
    assert not _is_local(pts)
    assert [(r.k, r.s[:6]) for r in pts.collect()] == [(5, "000005"), (7, "000007")]


def test_bounds_of_another_type_compare_as_spark_compares_them(spark, tmp_db_path, monkeypatch):
    """Fractional and infinite bounds on a decimal(20,0) dim, float and
    NaN bounds on a long dim: the driver read keeps the rows the Spark
    plan keeps. A lower bound of -inf on a chunked dim used to prune
    every chunk from the Spark plan (Python's ``-inf // size`` is NaN)."""
    from decimal import Decimal

    db = Database.create(
        spark,
        os.path.join(tmp_db_path, "mixed"),
        Schema(
            dimensions=[Dimension("d", 10, type="decimal(20,0)"), Dimension("k", 4)], values=[Value("v")]
        ),
    )
    with db.begin() as t:
        t.add_rows([(Decimal(d), k, d * 10 + k) for d in range(-12, 12, 3) for k in range(-3, 5)])
        t.commit()
    inf, nan = float("inf"), float("nan")
    cases = [
        {"d": (Decimal("-5.5"), Decimal("6.5"))},
        {"d": (-inf, Decimal(0)), "k": (2.5, nan)},
        {"d": (Decimal(-3), inf), "k": (nan, None)},
        {"d": (Decimal("1E+25"), None)},
        {"k": (-2.5, 1.0)},
    ]
    built = [db.begin().query_range(b) for b in cases]
    monkeypatch.setattr(scan, "_SINGLE_TASK_MAX_BYTES", 0)
    for bounds, df in zip(cases, built):
        want = db.begin().query_range(bounds)
        rows = df.collect()
        assert rows == want.collect(), bounds
        if rows:  # a read whose files all prune away is empty either way
            assert _is_local(df) and not _is_local(want), bounds


def test_zero_keys_match_both_zeros(spark, tmp_db_path, monkeypatch):
    """A float key of 0.0 or −0.0 finds the row stored under the other
    zero, on the driver and on the Spark plan, whose pushed filters
    must not let parquet's bit-wise dictionary check drop it (files
    written through ``format("matdb")`` are dictionary-encoded)."""
    from matdb_spark.sources.dsv2 import register_matdb_source

    register_matdb_source(spark)
    schema = Schema(dimensions=[Dimension("a", 0, type="double"), Dimension("b", 2)], values=[Value("v")])
    db = Database.create(spark, os.path.join(tmp_db_path, "zeros"), schema)
    rows = [(0.0, 2, 1), (-2.5, 2, 2), (-0.0, 1, 3)]
    spark.createDataFrame(rows, schema.spark_schema()).write.format("matdb").mode("append").save(db.path)
    both = [(0.0, 1, 3), (0.0, 2, 1)]
    reads = [
        (lambda: db.begin().query_points([(-0.0, 2), (0.0, 1)]), both),
        (lambda: db.begin().query_points([(-0.0, 2)]), both[1:]),
        (lambda: db.begin().query_range({"a": (-0.0, 0.0)}), both),
    ]
    built = [read() for read, _ in reads]
    monkeypatch.setattr(scan, "_SINGLE_TASK_MAX_BYTES", 0)
    for (read, want), df in zip(reads, built):
        on_spark = read()
        assert _is_local(df) and not _is_local(on_spark)
        assert [(r.a, r.b, r.v) for r in df.collect()] == want
        assert [(r.a, r.b, r.v) for r in on_spark.collect()] == want


_TZ_SCRIPT = r"""
import datetime, decimal, json, os, sys
from matdb_spark import Database, Dimension, Schema, Value, scan
from matdb_spark.session import get_spark

spark = get_spark(
    cpus=2, extra_conf={"spark.sql.session.timeZone": "America/Los_Angeles", "spark.matdb.catalog": "off"}
)
schema = Schema(
    dimensions=[Dimension("id", 10, type="decimal(20,0)"), Dimension("day", type="date"), Dimension("ts", type="timestamp")],
    values=[Value("n", "decimal(20,0)"), Value("on", "date"), Value("at", "timestamp")],
)
db = Database.create(spark, os.path.join(sys.argv[1], "db"), schema)
utc = datetime.timezone.utc
D = decimal.Decimal
rows = [
    (D(i * 7 - 20), datetime.date(1969, 12, 30) + datetime.timedelta(days=i),
     datetime.datetime(1969, 12, 31, 23, 0, tzinfo=utc) + datetime.timedelta(hours=5 * i, microseconds=i),
     D(2**64 - 1 - i), datetime.date(2024, 3, 10) + datetime.timedelta(days=i),
     datetime.datetime(2024, 3, 10, 9, 30, tzinfo=utc) + datetime.timedelta(hours=i))
    for i in range(12)
]
with db.begin() as t:
    t.add_dataframe(spark.createDataFrame(rows, schema.spark_schema()))
    t.commit()
# one buffered upsert (a naive datetime is local time, as createDataFrame takes it)
tx = db.begin()
naive = datetime.datetime(2024, 11, 3, 1, 30)
tx.add_row([rows[3][0], rows[3][1], rows[3][2], D(5), datetime.date(2000, 2, 29), naive])
tx.add_row([D(-21), datetime.date(1969, 12, 30), rows[0][2], None, None, naive])

def reads():
    return {
        "range": tx.query_range({"id": (D(-20), D(30)), "day": (rows[0][1], rows[8][1])}, include_txn=True),
        "points": tx.query_points([r[:3] for r in rows[2:10:2]] + [(D(1), rows[0][1], rows[0][2])]),
    }

def facts(df):
    cols = [f"unix_micros({c})" if c in ("ts", "at") else f"unix_date({c})" if c in ("day", "on") else c for c in df.columns]
    return {
        "local": df._jdf.queryExecution().executedPlan().toString().startswith("LocalTableScan"),
        "schema": df.schema.json(),
        "rows": [[str(v) for v in r] for r in df.selectExpr(*cols).collect()],
    }

driver = {k: facts(df) for k, df in reads().items()}
scan._SINGLE_TASK_MAX_BYTES = 0
on_spark = {k: facts(df) for k, df in reads().items()}
print("RESULT" + json.dumps({
    "driver": driver, "spark": on_spark, "naive": str(int(naive.timestamp() * 1e6)),
    "ts": [str(int(r[2].timestamp() * 1e6)) for r in rows[:8]],
}))
"""


def test_driver_reads_keep_instants_and_schema_across_time_zones(tmp_path):
    """With the process in one time zone (``TZ``) and the session in
    another, driver-served ``query_range`` and ``query_points`` over
    decimal(20,0), date and timestamp dims and values return the same
    instants, values and schema as the Spark plan, buffered rows
    included."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ, PYTHONPATH=repo, TZ="America/New_York", SPARK_DRIVER_MEMORY="1g")
    r = subprocess.run(
        [sys.executable, "-c", _TZ_SCRIPT, str(tmp_path)], capture_output=True, text=True, env=env, timeout=600
    )
    assert r.returncode == 0, r.stderr[-3000:]
    out = json.loads([l for l in r.stdout.splitlines() if l.startswith("RESULT")][-1][len("RESULT"):])
    driver, on_spark = out["driver"], out["spark"]
    for kind in ("range", "points"):
        assert driver[kind]["local"] and not on_spark[kind]["local"], kind
        assert driver[kind]["schema"] == on_spark[kind]["schema"], kind
        assert driver[kind]["rows"] == on_spark[kind]["rows"], kind
    # keys at the instants written; the buffered upsert of the 4th key
    # reads back at its local-time instant
    assert [row[2] for row in driver["range"]["rows"]] == out["ts"]
    assert [out["naive"] in row for row in driver["range"]["rows"]] == [False] * 3 + [True] + [False] * 4
    assert len(driver["points"]["rows"]) == 4
