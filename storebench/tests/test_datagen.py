import datagen
from datagen import Model, rewritten, slab_df, value, wave_df

SEED = 5


def test_spark_slab_matches_closed_form(spark):
    got = {
        (r["time"], r["sensor"], r["value"])
        for r in slab_df(spark, 4090, 9, 60, 7, SEED, wave=2).collect()
    }
    want = {
        (t, s, value(t, s, SEED, 2)) for t in range(4090, 4099) for s in range(60, 67)
    }
    assert got == want


def test_spark_wave_matches_closed_form(spark):
    got = {
        (r["time"], r["sensor"], r["value"])
        for r in wave_df(spark, 0, 40, 0, 30, SEED, 3).collect()
    }
    want = {
        (t, s, value(t, s, SEED, 3))
        for t in range(40)
        for s in range(30)
        if rewritten(t, s, SEED, 3)
    }
    assert got == want
    # a wave rewrites a tenth of the keys
    assert len(want) == 40 * 30 // 10


def test_model_resolves_the_newest_wave():
    m = Model(SEED)
    slab = m.add_slab(0, 20, 0, 10)
    slab.waves.extend([1, 2])
    for t in range(20):
        for s in range(10):
            w = 2 if rewritten(t, s, SEED, 2) else 1 if rewritten(t, s, SEED, 1) else 0
            assert m.value(t, s) == value(t, s, SEED, w)
    assert m.value(20, 0) is None


def test_model_summaries_agree_with_point_values():
    m = Model(SEED)
    m.add_slab(0, 8, 0, 4).waves.append(1)
    m.add_slab(8, 8, 0, 4)
    keys = [(t, s) for t in range(16) for s in range(4)]
    assert m.rows() == len(keys)
    assert m.summary() == (len(keys), sum(m.value(t, s) for t, s in keys))
    assert m.range_summary(6, 9, 1, 2) == (
        8,
        sum(m.value(t, s) for t in range(6, 10) for s in (1, 2)),
    )


def test_schema_shape():
    sch = datagen.schema()
    assert sch.dim_names == ["time", "sensor"]
    assert [d.chunk_size for d in sch.dimensions] == [4096, 64]
    assert sch.value_names == ["value"]
