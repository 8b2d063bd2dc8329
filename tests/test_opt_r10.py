"""Round-10 optimization guards.

Pins the round's restructurings bit-identical to the forms they
replaced (the property the oracle sweeps verify end-to-end, asserted
at the operator level so a future edit can't drift them silently):

- selection.importance_filter vs the two-step weights → filter →
  semi-join form (q_llm_pipeline's selection stage);
- dedup.admit_batches (fused decide+append lifecycle) vs chaining
  admit_batch per batch, gramless docs and an empty first batch
  included;
- the r9 F.expr rewrites of minhash_signatures / banded_minhash vs
  the original Column-composed forms (r9 advice item 4 — the only r9
  rewrites without a bit-identity guard);
- the non-finite-literal validation of the similarity/OPQ from_json
  builders (r9 advice item 1);
- stream_state_partitions' derivation (r9 verdict item 7);
- the schema cache's LRU cap (r9 advice item 2) and its thread
  safety.
"""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from matdb_spark.functions.text import hash_hex
from matdb_spark.operators import dedup as D
from matdb_spark.operators import selection as S
from matdb_spark.sources.tables import load_table

SF = "/root/testdata/sf0.001"
SCRATCH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".scratch"
)


def _symdiff(a, b) -> int:
    return a.exceptAll(b).count() + b.exceptAll(a).count()


# --------------------------------------------------- importance_filter
def test_importance_filter_matches_two_step_form(spark):
    docs = load_table(spark, SF, "documents").select("doc_id", "text")
    corpus = docs.filter(F.col("doc_id") % 23 != 0)
    target = docs.filter(F.col("doc_id") % 23 == 0)

    new = S.importance_filter(corpus, target, "doc_id", "text", -720_000)

    w = S.importance_weights(corpus, target, "doc_id", "text")
    keep = w.filter(
        F.col("weight_unats") > F.lit(-720_000) * F.col("n_grams")
    ).select("doc_id")
    old = corpus.join(keep, "doc_id", "left_semi")

    assert new.columns == corpus.columns
    assert _symdiff(new, old) == 0
    # teeth: the filter drops something and keeps something
    n_all, n_new = corpus.count(), new.count()
    assert 0 < n_new < n_all


def test_importance_filter_empty_and_null_text(spark):
    corpus = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, ""), (3, None), (4, "alpha beta")],
        "doc_id long, text string",
    )
    target = spark.createDataFrame(
        [(10, "alpha beta gamma")], "doc_id long, text string"
    )
    # a permissive floor keeps every doc WITH grams; gramless docs
    # (empty/NULL) score 0 over 0 grams -> 0 > 0 is false -> dropped,
    # exactly what the two-step form computes
    new = S.importance_filter(corpus, target, "doc_id", "text", -10_000_000)
    kept = sorted(r["doc_id"] for r in new.collect())
    assert kept == [1, 4]


def test_importance_filter_plan_is_exchange_free_single_scan(spark):
    docs = load_table(spark, SF, "documents").select("doc_id", "text")
    corpus = docs.filter(F.col("doc_id") % 23 != 0)
    target = docs.filter(F.col("doc_id") % 23 == 0)
    new = S.importance_filter(corpus, target, "doc_id", "text", -720_000)
    plan = new._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "Join" not in plan, plan


# ------------------------------------------------------- admit_batches
def _chained_admission(spark, path, docs, n_batches, batch_fn):
    """The reference form admit_batches must match: admit_batch chained
    per batch over one shared banding relation, admitted ids unioned
    with their batch number."""
    banded = D.banded_minhash(docs, "doc_id", "text", 32, 8, 3).localCheckpoint()
    out = None
    for b in range(n_batches):
        in_b = batch_fn(F.col("doc_id")) == b
        admitted = D.admit_batch(
            spark,
            path,
            docs.filter(in_b),
            "doc_id",
            "text",
            banded=banded.filter(in_b),
        ).select("doc_id", F.lit(b).cast("int").alias("admitted_in_batch"))
        out = admitted if out is None else out.union(admitted)
    return out


def test_admit_batches_matches_chained_admit_batch(spark, tmp_db_path):
    # plus an empty and a 2-word doc: fewer words than shingle_n means
    # no shingles and no banding rows, yet the doc is still admitted
    gramless = spark.createDataFrame(
        [(1000, ""), (1001, "two words")], "doc_id long, text string"
    )
    docs = load_table(spark, SF, "documents").select("doc_id", "text").union(gramless)

    fused_path = os.path.join(tmp_db_path, "fused_idx")
    fused = D.admit_batches(
        spark, fused_path, docs, "doc_id", "text", 3, lambda c: c % 3
    )

    chained_path = os.path.join(tmp_db_path, "chained_idx")
    out = _chained_admission(spark, chained_path, docs, 3, lambda c: c % 3)

    assert fused.columns == ["doc_id", "admitted_in_batch"]
    assert _symdiff(fused, out) == 0
    got = {r["doc_id"]: r["admitted_in_batch"] for r in fused.collect()}
    assert got[1000] == 1000 % 3 and got[1001] == 1001 % 3
    # teeth: the lifecycle must actually reject near-dups somewhere
    assert fused.count() < docs.count()
    # the two index directories hold the same banding relation
    a = spark.read.parquet(fused_path).select("doc_id", "band", "key")
    c = spark.read.parquet(chained_path).select("doc_id", "band", "key")
    assert _symdiff(a.distinct(), c.distinct()) == 0


@pytest.mark.parametrize(
    "batch0",
    [[], [(1, ""), (2, "two words")]],
    ids=["empty", "gramless"],
)
def test_admit_batches_first_batch_writes_no_bands(spark, tmp_db_path, batch0):
    """Batch 0 that appends no banding rows (no docs, or only docs too
    short to shingle) leaves no index for batch 1 to probe."""
    later = [
        (10, "the quick brown fox jumps over the lazy dog"),
        (11, "the quick brown fox jumps over the lazy dog"),
        (12, "an entirely different sentence about parquet files"),
    ]
    docs = spark.createDataFrame(batch0 + later, "doc_id long, text string")

    def batch_fn(c):
        return F.when(c < 10, 0).otherwise(1)

    fused = D.admit_batches(
        spark, os.path.join(tmp_db_path, "fused"), docs, "doc_id", "text", 2, batch_fn
    )
    out = _chained_admission(
        spark, os.path.join(tmp_db_path, "chained"), docs, 2, batch_fn
    )
    assert _symdiff(fused, out) == 0
    want = {(i, 0) for i, _ in batch0} | {(10, 1), (12, 1)}
    assert {(r["doc_id"], r["admitted_in_batch"]) for r in fused.collect()} == want


def test_admit_batches_rejects_prepopulated_index(spark, tmp_db_path):
    docs = load_table(spark, SF, "documents").select("doc_id", "text").limit(30)
    path = os.path.join(tmp_db_path, "idx")
    D.write_minhash_index(docs, path, "doc_id", "text")
    with pytest.raises(ValueError, match="fresh index"):
        D.admit_batches(spark, path, docs, "doc_id", "text", 2, lambda c: c % 2)


# ------------------------------------- span-dedup rebuild equivalence
def test_span_rebuild_matches_collect_list_form(spark):
    """remove_duplicate_spans' r10 per-row filtered reconstruction vs
    the previous explode-all-positions + anti-join + collect_list
    rebuild — byte-identical outputs (word order is preserved by
    F.filter, so no sort is needed)."""
    from matdb_spark.functions.text import hash64, normalize

    n = 10
    docs = load_table(spark, SF, "documents").select("doc_id", "text")
    new = D.remove_duplicate_spans(docs, "doc_id", "text", n=n)

    # the pre-r10 rebuild, verbatim
    words = docs.select(
        F.col("doc_id").alias("__id"),
        F.split(normalize(F.col("text")), " ").alias("__w"),
    )
    starts = F.when(
        F.size("__w") >= n, F.sequence(F.lit(1), F.size("__w") - F.lit(n - 1))
    )
    occ = words.select("__id", "__w", F.explode(starts).alias("__pos")).select(
        "__id",
        "__pos",
        hash64(F.array_join(F.slice("__w", F.col("__pos"), n), " ")).alias("__h"),
    )
    dups = (
        occ.groupBy("__h")
        .agg(
            F.count(F.lit(1)).alias("__c"),
            F.min(
                F.struct(F.col("__id").alias("d"), F.col("__pos").alias("p"))
            ).alias("__keep"),
        )
        .filter(F.col("__c") > 1)
        .select("__h", "__keep")
    )
    nonkeep = (
        occ.join(dups, "__h")
        .filter(
            ~(
                (F.col("__id") == F.col("__keep.d"))
                & (F.col("__pos") == F.col("__keep.p"))
            )
        )
        .select("__id", "__pos")
    )
    cover = nonkeep.select(
        F.col("__id").alias("__cid"),
        F.explode(
            F.sequence(F.col("__pos"), F.col("__pos") + F.lit(n - 1))
        ).alias("__p"),
    ).distinct()
    positions = words.select(
        "__id", F.posexplode("__w").alias("__i", "__word")
    ).select("__id", (F.col("__i") + 1).alias("__pos"), "__word")
    kept = positions.join(
        cover,
        (F.col("__id") == F.col("__cid")) & (F.col("__pos") == F.col("__p")),
        "left_anti",
    )
    rebuilt = kept.groupBy("__id").agg(
        F.count(F.lit(1)).alias("__nk"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("__pos", "__word"))),
                lambda s: s["__word"],
            ),
            " ",
        ).alias("clean_text"),
    )
    base = words.select("__id", F.size("__w").cast("long").alias("n_words"))
    old = base.join(rebuilt, "__id", "left").select(
        F.col("__id").alias("doc_id"),
        "n_words",
        (F.col("n_words") - F.coalesce(F.col("__nk"), F.lit(0))).alias("n_removed"),
        F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
    )
    assert _symdiff(new, old) == 0
    # teeth: the fixture plants real duplicated spans
    assert new.filter(F.col("n_removed") > 0).count() > 0


# --------------------------- r9 expr-rewrite guards (advice item 4)
def test_minhash_signatures_match_column_built_form(spark):
    docs = load_table(spark, SF, "documents").select("doc_id", "text")
    k = 32
    new = D.minhash_signatures(docs, "doc_id", "text", k=k)

    params = D.minhash_params(k)
    sh = (
        D.shingle_rows(docs, "doc_id", "text", 3)
        .withColumnRenamed("__id", "doc_id")
        .withColumn("__h", hash_hex(F.col("__s"), 7))
    )
    mins = sh.groupBy("doc_id").agg(
        *[
            F.min(
                (F.col("__h") * F.lit(a) + F.lit(b)) % F.lit(D.MERSENNE_P)
            ).alias(f"__m{i}")
            for i, (a, b) in enumerate(params)
        ]
    )
    old = mins.select(
        "doc_id", F.array(*[F.col(f"__m{i}") for i in range(k)]).alias("sig")
    )
    cmp = new.withColumnRenamed("sig", "__new").join(old, "doc_id")
    assert cmp.filter(F.expr("NOT (`__new` <=> `sig`)")).count() == 0
    assert dict(new.dtypes)["sig"] == dict(old.dtypes)["sig"]


def test_banded_minhash_matches_column_built_form(spark):
    docs = load_table(spark, SF, "documents").select("doc_id", "text")
    k, bands = 32, 8
    r = k // bands
    new = D.banded_minhash(docs, "doc_id", "text", k, bands, 3)

    sig = D.minhash_signatures(docs, "doc_id", "text", k, 3)
    band_struct = F.array(
        *[
            F.struct(
                F.lit(bi).alias("band"),
                F.concat_ws(
                    ",",
                    *[
                        F.col("sig").getItem(bi * r + j).cast("string")
                        for j in range(r)
                    ],
                ).alias("key"),
            )
            for bi in range(bands)
        ]
    )
    old = sig.select(
        F.col("doc_id"), F.explode(band_struct).alias("b")
    ).select("doc_id", F.col("b.band").alias("band"), F.col("b.key").alias("key"))
    assert _symdiff(new, old) == 0


# ----------------------- non-finite literal validation (advice item 1)
def test_nonfinite_planes_raise(spark):
    from matdb_spark.operators.similarity import hyperplane_bucket

    with pytest.raises(ValueError, match="non-finite"):
        hyperplane_bucket("__v", [[0.1, float("nan")]])
    with pytest.raises(ValueError, match="non-finite"):
        hyperplane_bucket("__v", [[float("inf"), 0.2]])


def test_nonfinite_codebook_and_lut_raise(spark):
    from matdb_spark.operators.similarity import (
        _adc_score_expr,
        _cb_json_sql,
        _pq_lit,
    )

    bad_cb = [[[0.0, float("nan")]]]
    with pytest.raises(ValueError, match="non-finite"):
        _pq_lit(bad_cb)
    with pytest.raises(ValueError, match="non-finite"):
        _cb_json_sql(bad_cb)
    with pytest.raises(ValueError, match="non-finite"):
        _adc_score_expr([0.5, float("-inf")], 1, 2)


def test_nonfinite_rotation_raises(spark):
    from matdb_spark.operators.opq import rotation_lit

    with pytest.raises(ValueError, match="non-finite"):
        rotation_lit([[1.0, float("nan")], [0.0, 1.0]])


# -------------------- stream state partitions (verdict item 7)
def test_stream_state_partitions_derivation(spark, monkeypatch):
    from matdb_spark.streaming.windows import (
        _BYTES_PER_STORE,
        stream_state_partitions,
    )

    monkeypatch.delenv("SPARK_GRAFT_STREAM_SHUFFLE", raising=False)
    par = spark.sparkContext.defaultParallelism
    # derived: ceil(bytes/target), floored at 1, capped at parallelism
    assert stream_state_partitions(spark, 1) == 1
    assert stream_state_partitions(spark, 2 * _BYTES_PER_STORE) == min(par, 2)
    assert stream_state_partitions(spark, 10**15) == par
    # no size hint -> legacy default
    assert stream_state_partitions(spark, None) == 8
    # env override wins
    monkeypatch.setenv("SPARK_GRAFT_STREAM_SHUFFLE", "5")
    assert stream_state_partitions(spark, 10**15) == 5


# ------------------------------- schema cache LRU cap (advice item 2)
def test_schema_cache_is_lru_capped():
    from matdb_spark.sources import tables as T

    saved = dict(T._SCHEMA_CACHE)
    try:
        T._SCHEMA_CACHE.clear()
        for i in range(T._SCHEMA_CACHE_MAX + 10):
            T._schema_cache_put(("p", i, 0), f"schema{i}")
        assert len(T._SCHEMA_CACHE) == T._SCHEMA_CACHE_MAX
        # oldest entries evicted, newest retained
        assert T._schema_cache_get(("p", 0, 0)) is None
        assert (
            T._schema_cache_get(("p", T._SCHEMA_CACHE_MAX + 9, 0))
            == f"schema{T._SCHEMA_CACHE_MAX + 9}"
        )
    finally:
        T._SCHEMA_CACHE.clear()
        T._SCHEMA_CACHE.update(saved)


def test_schema_cache_survives_concurrent_access(monkeypatch):
    """Concurrent streams in one session share the LRU. Pin the worst
    interleaving: a reader is paused between its lookup hit and the
    move_to_end that follows, while a writer fills the cache past its
    cap and evicts that very key. Unguarded, the reader then raises
    KeyError; guarded, the writer waits for the reader to finish."""
    import threading
    from collections import OrderedDict

    from matdb_spark.sources import tables as T

    looked_up, resume = threading.Event(), threading.Event()

    class PausingLRU(OrderedDict):
        def get(self, key, default=None):
            out = super().get(key, default)
            if threading.current_thread().name == "reader":
                looked_up.set()
                resume.wait(5)
            return out

    cache = PausingLRU((("p", i, 0), i) for i in range(4))
    monkeypatch.setattr(T, "_SCHEMA_CACHE", cache)
    monkeypatch.setattr(T, "_SCHEMA_CACHE_MAX", 4)
    errors: list[BaseException] = []

    def run(fn):
        def target():
            try:
                fn()
            except BaseException as e:  # noqa: BLE001 - asserted below
                errors.append(e)

        return target

    def fill():
        for i in range(4, 8):  # evicts every original key, ("p", 0, 0) first
            T._schema_cache_put(("p", i, 0), i)

    reader = threading.Thread(
        target=run(lambda: T._schema_cache_get(("p", 0, 0))), name="reader"
    )
    reader.start()
    assert looked_up.wait(5)
    writer = threading.Thread(target=run(fill))
    writer.start()
    writer.join(0.5)  # finishes only if nothing guards the cache
    resume.set()
    reader.join(5)
    writer.join(5)
    assert not reader.is_alive() and not writer.is_alive()
    assert not errors, errors
    assert list(cache) == [("p", i, 0) for i in range(4, 8)]


def test_schema_cache_threaded_hammer(monkeypatch):
    """More threads than cores get and put over a cache a third the size
    of the key set, with thread switches as frequent as the interpreter
    allows: no call raises, every hit is the schema put for its key,
    and the cap holds."""
    import sys
    import threading
    from collections import OrderedDict

    from matdb_spark.sources import tables as T

    monkeypatch.setattr(T, "_SCHEMA_CACHE", OrderedDict())
    monkeypatch.setattr(T, "_SCHEMA_CACHE_MAX", 4)
    errors: list[BaseException] = []

    def hammer(seed: int) -> None:
        try:
            for i in range(2_000):
                key = ("p", (seed * 5 + i) % 12, 0)
                got = T._schema_cache_get(key)
                if got is None:
                    T._schema_cache_put(key, f"schema{key[1]}")
                elif got != f"schema{key[1]}":
                    raise AssertionError(f"{key} -> {got}")
        except BaseException as e:  # noqa: BLE001 - asserted below
            errors.append(e)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [
            threading.Thread(target=hammer, args=(n,)) for n in range(2 * os.cpu_count())
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join(60)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors[:3]
    assert len(T._SCHEMA_CACHE) == T._SCHEMA_CACHE_MAX
