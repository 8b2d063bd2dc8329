import pytest

from tracing import Span, Tracer, parse_sql_metric, self_times


def test_self_time_subtracts_the_union_of_children():
    spans = [
        Span("parent", 0.0, 10.0, None, 1),
        Span("a", 1.0, 3.0, 0, 1),
        Span("b", 2.0, 5.0, 0, 1),  # overlaps a: union is [1, 5]
        Span("c", 7.0, 8.0, 0, 1),
        Span("grandchild", 7.2, 7.7, 3, 1),
    ]
    assert self_times(spans) == pytest.approx([5.0, 2.0, 3.0, 0.5, 0.5])


def test_self_time_clips_children_to_the_parent():
    spans = [Span("parent", 2.0, 4.0, None, 1), Span("late", 3.0, 6.0, 0, 1)]
    assert self_times(spans) == pytest.approx([1.0, 3.0])


def test_self_time_without_children_is_the_duration():
    assert self_times([Span("x", 1.0, 1.5, None, 1)]) == [0.5]


def test_parse_sql_metric():
    assert parse_sql_metric("16,384") == 16384
    assert parse_sql_metric("0") == 0
    assert parse_sql_metric("38.8 KiB") == pytest.approx(38.8 * 1024)
    two_line = "total (min, med, max (stageId: taskId))\n170.1 KiB (42.5 KiB, 42.5 KiB, 42.6 KiB (stage 3.0: task 7))"
    assert parse_sql_metric(two_line) == pytest.approx(170.1 * 1024)
    assert parse_sql_metric("1.5 MiB") == pytest.approx(1.5 * 2**20)


def test_install_records_only_inside_ops_and_uninstall_restores():
    from matdb_spark import manifest, scan, stats, transaction
    from matdb_spark.database import Database

    originals = (
        Database.__dict__["begin"],
        scan.scan_dataframe,
        transaction.scan_dataframe,
        manifest.read_manifest_cached,
        stats.txn_intersects,
    )
    tr = Tracer()
    tr.install()
    try:
        assert stats.txn_intersects is not originals[4]
        assert stats.txn_intersects({"dims": {"t": [0, 5]}}, {"t": (6, 9)}) is False
        with tr.op(7, "probe"):
            assert stats.txn_intersects({"dims": {"t": [0, 5]}}, {"t": (1, 2)}) is True
            assert stats.txn_intersects({"dims": {"t": [0, 5]}}, {"t": (8, 9)}) is False
            with tr.span("inner"):
                pass
        # the cache-control attributes callers rely on survive wrapping
        manifest.read_manifest_cached.cache_info()
    finally:
        tr.uninstall()
    assert (
        Database.__dict__["begin"],
        scan.scan_dataframe,
        transaction.scan_dataframe,
        manifest.read_manifest_cached,
        stats.txn_intersects,
    ) == originals
    assert [s.name for s in tr.spans] == ["op.probe", "inner"]
    assert tr.spans[1].parent == 0 and tr.spans[1].op == 7
    assert dict(tr.counts[7]) == {"stats.txn_checks": 2, "stats.txn_kept": 1}
