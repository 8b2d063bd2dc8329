"""``scan._sql_literal``: the SQL text the store's plans are built from
parses back to the exact key value, for every dim type and under
either string-literal parser mode."""

from __future__ import annotations

import datetime
import math
import os
from decimal import Decimal

from matdb_spark import Database, Dimension, Schema, Value
from matdb_spark.scan import _sql_literal

STRINGS = ["it's", "back\\slash\\", "two\nlines", "naïve 日本語 ✓", "", "'; --"]


def _select(spark, lit):
    return spark.sql(f"SELECT {lit} AS x").first()["x"]


def test_integral_literals_round_trip(spark):
    for dim_type, lo, hi in (("int", -(2**31), 2**31 - 1), ("long", -(2**63), 2**63 - 1)):
        for v in (0, -1, -12345, 12345, lo, hi):
            got = _select(spark, _sql_literal(v, dim_type))
            # an int, not a Decimal that merely compares equal
            assert type(got) is int and got == v, (dim_type, v, got)


def test_decimal_literals_round_trip(spark):
    for v in (Decimal(0), Decimal(2**64 - 1), Decimal(-(2**63)), 0, 2**64 - 1):
        got = _select(spark, _sql_literal(v, "decimal(20,0)"))
        assert isinstance(got, Decimal) and got == v, (v, got)


def test_string_literals_round_trip_in_both_parser_modes(spark):
    key = "spark.sql.parser.escapedStringLiterals"
    before = spark.conf.get(key)
    try:
        for mode in ("false", "true"):
            spark.conf.set(key, mode)
            for v in STRINGS:
                assert _select(spark, _sql_literal(v, "string")) == v, (mode, v)
    finally:
        spark.conf.set(key, before)


def test_other_dim_type_literals_round_trip(spark):
    doubles = [0.1, -0.0, 5e-324, 1.7976931348623157e308, -2.5, math.inf, -math.inf]
    for v in doubles:
        got = _select(spark, _sql_literal(v, "double"))
        assert got == v and math.copysign(1, got) == math.copysign(1, v), (v, got)
    assert math.isnan(_select(spark, _sql_literal(math.nan, "double")))
    for v in (
        datetime.date(1970, 1, 1),
        datetime.date(1969, 12, 31),
        datetime.date(2024, 2, 29),
        datetime.date(1, 1, 1),
        datetime.date(9999, 12, 31),
    ):
        assert _select(spark, _sql_literal(v, "date")) == v
    for v in (
        datetime.datetime(2024, 1, 2, 3, 4, 5, 678901),
        datetime.datetime(1969, 12, 31, 23, 59, 59, 999999),
    ):
        assert _select(spark, _sql_literal(v, "timestamp")) == v
    for v in (b"", b"\x00\xff'\\", "日本".encode()):
        assert bytes(_select(spark, _sql_literal(v, "binary"))) == v
    for v in (True, False):
        assert _select(spark, _sql_literal(v, "boolean")) is v


def test_double_dim_range_and_point_reads(spark, tmp_db_path):
    """A double dim (NaN and infinities included) reads back the
    model's rows through range reads (NaN bounds included) and a
    point get."""
    db = Database.create(
        spark,
        os.path.join(tmp_db_path, "dbl"),
        Schema(dimensions=[Dimension("x", type="double")], values=[Value("v")]),
    )
    xs = [-math.inf, -2.5, -0.5, 0.1, 0.30000000000000004, 1.0, 2.5, math.inf, math.nan]
    model: dict = {}
    for bump in (0, 100):
        rows = [(x, i + bump) for i, x in enumerate(xs) if bump == 0 or i % 2]
        with db.begin() as tx:
            tx.add_dataframe(spark.createDataFrame(rows, "x double, v long"))
            tx.commit()
        model.update({("nan" if math.isnan(x) else x): v for x, v in rows})

    hi = 0.30000000000000004
    got = db.begin().query_range({"x": (-0.5, hi)}).collect()
    want = sorted((x, v) for x, v in model.items() if x != "nan" and -0.5 <= x <= hi)
    assert [(r.x, r.v) for r in got] == want
    # a NaN bound is a bound (NaN sorts above +inf, as in Spark's
    # filter), and a file's NaN does not hide its other keys from the
    # txn stats that prune reads
    def xs_in(lo, hi):
        rows = db.begin().query_range({"x": (lo, hi)}).collect()
        return [("nan" if math.isnan(r.x) else r.x) for r in rows]

    assert xs_in(2.5, 2.5) == [2.5]
    assert xs_in(math.nan, math.nan) == ["nan"]
    assert xs_in(2.5, math.nan) == [2.5, math.inf, "nan"]
    assert xs_in(math.nan, math.inf) == []
    keys = [(0.1,), (math.inf,), (math.nan,), (7.0,)]
    got = db.begin().query_points(keys).collect()
    assert [("nan" if math.isnan(r.x) else r.x, r.v) for r in got] == [
        (0.1, model[0.1]),
        (math.inf, model[math.inf]),
        ("nan", model["nan"]),
    ]
