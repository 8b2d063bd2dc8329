from summary import p50, ratio


def test_p50_and_ratio():
    assert p50([3.0, 1.0, 2.0]) == 2.0
    assert p50([1.0, 2.0, 3.0, 4.0]) == 2.5
    assert ratio(1, 4) == 0.25
    assert ratio(1, 0) == 0.0
    assert ratio(0, 0, empty=1.0) == 1.0
