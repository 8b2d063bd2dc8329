"""Plan-shape tests: the scale discipline, asserted.

Each test pins a property the 100 TB design depends on: broadcast
joins for dims, filter pushdown to the parquet scan, partition pruning
for key-range scans on the MVCC store, and shuffle counts for the
snapshot scan itself.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import functions as F

from matdb_spark import Database, Dimension, Schema, Value
from matdb_spark.plans import (
    broadcast_join_count,
    exchange_count,
    partition_filters,
    physical_plan,
    pushed_filters,
)

SCRATCH = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".scratch")
SF = "/root/testdata/sf0.001"


def test_dim_joins_broadcast(spark):
    import __spark_entry__ as e

    df = e.q05_local_supplier_volume(spark, SF)
    # nation + region are explicitly broadcast; AQE may promote more
    assert broadcast_join_count(df) >= 2


def test_filter_pushdown_reaches_scan(spark):
    import __spark_entry__ as e

    df = e.q06_forecast_revenue(spark, SF)
    pf = " ".join(pushed_filters(df))
    assert "l_discount" in pf and "l_quantity" in pf


def _grid_db(spark, name: str) -> Database:
    path = os.path.join(SCRATCH, name)
    shutil.rmtree(path, ignore_errors=True)
    schema = Schema(
        dimensions=[Dimension("t", 100), Dimension("sensor", 10)], values=[Value("v")]
    )
    db = Database.create(spark, path, schema)
    txn = db.begin()
    txn.add_rows([[i, j, i * 1000 + j] for i in range(1000) for j in range(5)])
    txn.commit()
    return db


def _on_spark(monkeypatch):
    """Force bounded reads onto the Spark plan: with a byte cap of 0 no
    file set is small enough to be served on the driver."""
    from matdb_spark import scan

    monkeypatch.setattr(scan, "_SINGLE_TASK_MAX_BYTES", 0)


def _files(txn, bounds):
    """The data files a read of ``txn`` inside ``bounds`` opens, on the
    driver or in the Spark plan alike (``scan.read_plan``)."""
    from matdb_spark import scan

    return scan.read_plan(txn._source(), bounds).paths


def test_query_range_prunes_partitions(spark, monkeypatch):
    _on_spark(monkeypatch)
    db = _grid_db(spark, "plans_range_db")
    txn = db.begin()
    narrow = txn.query_range({"t": (250, 349)}, ordered=False)

    # correctness: exactly rows with t in [250, 349]
    assert narrow.count() == 100 * 5
    assert narrow.agg(F.min("t"), F.max("t")).first() == (250, 349)

    # plan: chunk-partition pruning engaged (t/100 ∈ [2, 3])...
    parts = " ".join(partition_filters(narrow))
    assert "__chunk_t" in parts
    # ...and the row-level bound reached the parquet scan (zone maps)
    pushed = " ".join(pushed_filters(narrow))
    assert "GreaterThanOrEqual(t,250)" in pushed and "LessThanOrEqual(t,349)" in pushed


def test_snapshot_scan_shuffle_budget(spark):
    db = _grid_db(spark, "plans_budget_db")
    txn = db.begin()
    # unordered snapshot scan: exactly one shuffle (the dedup agg)
    unordered = txn.query(ordered=False)
    assert exchange_count(unordered) == 1
    # ordered adds only the range-partitioned sort exchange
    ordered = txn.query(ordered=True)
    assert exchange_count(ordered) == 2


def test_compacted_scan_is_dedup_free(spark, monkeypatch):
    """A snapshot that is exactly one compacted txn carries a
    ``unique_keys`` manifest stamp, and its scans skip the version
    dedup entirely — zero shuffles unordered, one (the sort) ordered.
    Every guard that must restore the dedup is exercised too."""
    db = _grid_db(spark, "plans_compact_dedupfree_db")
    t2 = db.begin()
    t2.add_rows([[i, 0, i + 7] for i in range(50)])  # overlapping upserts
    t2.commit()
    before = {tuple(r) for r in db.snapshot().collect()}

    assert db.compact() is not None
    snap = db.begin().query(ordered=False)
    plan = physical_plan(snap)
    assert exchange_count(snap) == 0
    assert "HashAggregate" not in plan and "SortAggregate" not in plan
    # same rows as the pre-compaction dedup produced
    assert {tuple(r) for r in snap.collect()} == before
    # ordered pays only the range-sort exchange
    assert exchange_count(db.begin().query(ordered=True)) == 1
    # include_txn surfaces the EFFECTIVE version without the agg: the
    # compaction anchors at the highest version it absorbed
    # (version_rank = 2 here), not its physical txn id
    with_txn = db.begin().query(ordered=False, include_txn=True)
    assert exchange_count(with_txn) == 0
    assert with_txn.select("__txn").distinct().collect() == [(2,)]
    # bounded scans ride the fast path with pruning intact (on the
    # Spark plan: a read this small is otherwise served on the driver)
    with monkeypatch.context() as m:
        _on_spark(m)
        rng = db.begin().query_range({"t": (100, 199)}, ordered=False)
    assert exchange_count(rng) == 0
    assert "__chunk_t" in " ".join(partition_filters(rng))
    assert rng.count() == 100 * 5
    # an empty commit adds no rows, so the read stays dedup-free
    t3 = db.begin()
    t3.add_dataframe(spark.range(0).selectExpr("id AS t", "id AS sensor", "id AS v"))
    t3.commit()
    after_empty = db.begin().query(ordered=False)
    assert exchange_count(after_empty) == 0
    assert {tuple(r) for r in after_empty.collect()} == before

    # guard 1: a commit after the compaction restores the dedup agg
    t4 = db.begin()
    t4.add_row([1, 1, 999])
    t4.commit()
    post = db.begin().query(ordered=False)
    assert exchange_count(post) == 1
    assert post.filter("t = 1 and sensor = 1").first()["v"] == 999

    # guard 2: read-your-own-writes keeps dedup on a compacted store
    db.compact()
    t5 = db.begin()
    t5.add_row([2, 2, 123])
    own = t5.query(ordered=False)
    assert exchange_count(own) >= 1
    assert own.filter("t = 2 and sensor = 2").first()["v"] == 123
    t5.rollback()


def test_mvcc_scan_reads_visible_segments_only(spark):
    db = _grid_db(spark, "plans_visible_db")
    t2 = db.begin()
    t2.add_row([1, 1, 42])
    t2.commit()
    # a snapshot opened BEFORE t2 commits must not even list its files
    plan = physical_plan(db.begin().query(ordered=False))
    assert "txn=2" in plan or "txn=1" in plan  # sanity: scans manifest dirs


def test_bucketed_join_has_no_exchange(spark):
    """Both sides bucketed+sorted on the join key → sort-merge join
    with zero Exchange and zero Sort (shuffle paid once at write)."""
    from matdb_spark.sources.bucketed import colocated, write_bucketed
    from matdb_spark.sources.tables import load_table

    li = load_table(spark, SF, "lineitem").select("l_orderkey", "l_quantity")
    orders = load_table(spark, SF, "orders").select("o_orderkey", "o_totalprice")
    write_bucketed(li, "li_bkt", ["l_orderkey"], 4, sort_cols=["l_orderkey"])
    write_bucketed(orders, "o_bkt", ["o_orderkey"], 4, sort_cols=["o_orderkey"])

    a, b = colocated(spark, "li_bkt"), colocated(spark, "o_bkt")
    joined = a.join(b, a.l_orderkey == b.o_orderkey)
    # broadcast would defeat the point at real scale — force SMJ path
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        assert exchange_count(joined) == 0
        plan = physical_plan(joined)
        assert "SortMergeJoin" in plan
        assert joined.count() == li.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))


def test_gate_queries_stay_jvm_side(spark):
    """The hot path discipline, enforced: no row-at-a-time Python in
    any gated query. Only the operators whose POINT is Arrow-batched
    Python (pandas UDF demo, multimodal codec, stateful sessionizer)
    may show Python evaluation nodes — and those must be the Arrow
    form (ArrowEvalPython/FlatMapsInPandas...), never BatchEvalPython."""
    import __spark_entry__ as e

    arrow_ok = {
        "q_pandas_udf_scalar",
        "q_multimodal_decode",
        "q_multimodal_frames",
        "q_multimodal_audio",  # WAV synth + decode are mapInPandas by design
        "q_multimodal_features",  # WAV synth + frame reductions — mapInPandas by design
        "q_stream_stateful_sessions",
        "q_groupmap_rank",
        "q_udtf_split",
        "q_cogroup_stats",  # cogrouped applyInPandas — Arrow by design
        "q_multimodal_jpeg",  # baseline-JPEG entropy decode — mapInPandas by design
    }
    # these execute work at build time (engine/stream pipelines) —
    # their plan checks are covered by their own tests
    skip = {"q_mvcc_scan", "q_stream_tumbling", "q_stream_sliding",
            "q_stream_stateful_sessions"}
    for name, fn in e.queries().items():
        if name in skip:
            continue
        plan = physical_plan(fn(spark, SF))
        assert "BatchEvalPython" not in plan, f"{name} uses row-at-a-time Python"
        if name not in arrow_ok:
            assert "EvalPython" not in plan and "InPandas" not in plan, (
                f"{name} unexpectedly leaves the JVM"
            )


def test_stats_pruning_skips_txn_dirs(spark, tmp_path_factory):
    """Tier-0 pruning: a bounded scan's file set must come only from
    transactions whose manifest stats intersect the bounds."""
    base = str(tmp_path_factory.mktemp("statsprune"))
    db = Database.create(
        spark, os.path.join(base, "db"),
        Schema(dimensions=[Dimension("k", 100)], values=[Value("v")]),
    )
    for lo in (0, 10_000):
        with db.begin() as t:
            t.add_dataframe(
                spark.createDataFrame([(lo + i, i) for i in range(500)], "k long, v long")
            )
            t.commit()
    files = _files(db.begin(), {"k": (10_100, 10_200)})
    assert files and all("txn=2" in f for f in files), files
    # ...and of that txn's files only the chunks the bounds touch
    assert {f.split("__chunk_k=")[1].split("/")[0] for f in files} == {"101", "102"}, files


def test_adapted_tpch_plans(spark):
    """The round-2 TPC-H shapes keep the plan discipline: dims arrive
    by broadcast; the salted top-k has no extra full-data shuffle
    beyond its two ranking stages."""
    import __spark_entry__ as e

    q02 = e.q02_min_cost_supplier(spark, SF)
    assert broadcast_join_count(q02) >= 4  # part, supplier, nation, region
    q21 = e.q21_waiting_suppliers(spark, SF)
    assert broadcast_join_count(q21) >= 1  # supplier
    q16 = e.q16_supplier_count(spark, SF)
    assert broadcast_join_count(q16) >= 2  # part + bad-supplier anti join
    q20 = e.q20_excess_shippers(spark, SF)
    assert broadcast_join_count(q20) >= 3  # part, supplier, nation, per-part totals


def test_point_lookup_pushdown(spark, tmp_path_factory, monkeypatch):
    """query_points' key-set predicate must reach the parquet scan of
    the Spark plan."""
    _on_spark(monkeypatch)
    base = str(tmp_path_factory.mktemp("ptplan"))
    db = Database.create(
        spark, os.path.join(base, "db"),
        Schema(dimensions=[Dimension("k", 100)], values=[Value("v")]),
    )
    with db.begin() as t:
        t.add_dataframe(spark.createDataFrame([(i, i) for i in range(1000)], "k long, v long"))
        t.commit()
    df = db.begin().query_points([(5,), (505,)], ordered=False)
    pf = " ".join(pushed_filters(df))
    assert "In(k" in pf.replace(" ", "") or "EqualTo(k" in pf.replace(" ", ""), pf


def _twelve_txn_store(spark, base, rewrite=False):
    """12 txns of 10 ticks x 16 sensors (4 files each, ``v = t % 10 +
    10 * s``); with ``rewrite``, txn i >= 1 also rewrites the last tick
    of txn i - 1 (``t = i * 10 - 1``) with ``v = -t``."""
    db = Database.create(
        spark, os.path.join(base, "db"),
        Schema(dimensions=[Dimension("t", 4096), Dimension("s", 4)], values=[Value("v")]),
    )
    for i in range(12):
        with db.begin() as t:
            df = spark.range(160).selectExpr(
                f"{i * 10} + id % 10 AS t", "id div 10 AS s", "id AS v"
            )
            if rewrite and i:
                df = df.unionByName(
                    spark.range(16).selectExpr(f"{i * 10 - 1} AS t", "id AS s", f"{1 - i * 10} AS v")
                )
            t.add_dataframe(df)
            t.commit()
    return db


def _group_jobs(spark, group, fn):
    """Run ``fn()`` under job group ``group``; return (its result, ids
    of the Spark jobs it ran)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, sc.statusTracker().getJobIdsForGroup(group)


def _one_group(spark, group, build):
    """Build and collect ``build()`` under job group ``group``; return
    (df, rows, ids of the Spark jobs it ran)."""

    def run():
        df = build()
        return df, df.collect()

    (df, rows), jobs = _group_jobs(spark, group, run)
    return df, rows, jobs


def test_point_get_runs_no_spark_job(spark, tmp_path_factory, monkeypatch):
    """An 8-key point get on a 12-txn store prunes per key (one file per
    key, not every file under the key set's envelope) and is served on
    the driver: building and collecting it runs no Spark job, on a
    local table scan. Past the byte cap the same read keeps the
    parallel plan and the same rows."""
    db = _twelve_txn_store(spark, str(tmp_path_factory.mktemp("ptjob")))
    keys = [(i * 10 + i % 10, (5 * i) % 16) for i in (0, 1, 3, 4, 6, 8, 9, 11)]
    want = [(t, s, t % 10 + 10 * s) for t, s in sorted(keys)]

    df, rows, jobs = _one_group(
        spark, "point-get-plan", lambda: db.begin().query_points(keys)
    )

    assert [(r.t, r.s, r.v) for r in rows] == want
    assert len(jobs) == 0, jobs
    assert _node_names(df) == ["LocalTableScan"], _node_names(df)
    assert len(_files(db.begin(), [{"t": (t, t), "s": (s, s)} for t, s in keys])) == 8

    _on_spark(monkeypatch)
    wide = db.begin().query_points(keys)
    assert [(r.t, r.s, r.v) for r in wide.collect()] == want
    assert "Exchange" in wide._jdf.queryExecution().executedPlan().toString()


def test_small_range_read_runs_no_spark_job(spark, tmp_path_factory, monkeypatch):
    """A key range over a few small files is served on the driver like
    the point get: newest versions win, rows come back in key order,
    and building and collecting it runs no Spark job. Past the byte
    cap the same read keeps the parallel plan and the same rows."""
    db = _twelve_txn_store(spark, str(tmp_path_factory.mktemp("rgjob")), rewrite=True)
    # t 15..34 lies in txns 1-3 (txn 4 starts at its rewrite of t = 39);
    # s 4..7 is one s chunk, so one file per txn
    bounds = {"t": (15, 34), "s": (4, 7)}
    want = [
        (t, s, -t if t % 10 == 9 else t % 10 + 10 * s)
        for t in range(15, 35)
        for s in range(4, 8)
    ]

    df, rows, jobs = _one_group(
        spark, "range-read-plan", lambda: db.begin().query_range(bounds)
    )
    assert [(r.t, r.s, r.v) for r in rows] == want
    assert len(jobs) == 0, jobs
    assert _node_names(df) == ["LocalTableScan"], _node_names(df)
    assert len(_files(db.begin(), bounds)) == 3

    _on_spark(monkeypatch)
    wide = db.begin().query_range(bounds)
    assert [(r.t, r.s, r.v) for r in wide.collect()] == want
    assert "Exchange" in wide._jdf.queryExecution().executedPlan().toString()


def _commit_plans(spark, db, df, group):
    """Commit ``df`` as one txn under job group ``group``; return (ids
    of the Spark jobs it ran, physical plans of their SQL executions)."""

    def run():
        with db.begin() as t:
            t.add_dataframe(df)
            t.commit()

    _, jobs = _group_jobs(spark, group, run)
    execs = spark._jsparkSession.sharedState().statusStore().executionsList()
    plans = [
        e.physicalPlanDescription()
        for e in (execs.apply(i) for i in range(execs.size()))
        if any(e.jobs().contains(j) for j in jobs)
    ]
    return jobs, plans


def _files_per_chunk_dir(db_path):
    """{chunk dir relative to the txn dir: parquet files in it}."""
    out = {}
    for root, _, files in os.walk(os.path.join(db_path, "data")):
        n = sum(f.endswith(".parquet") for f in files)
        if n:
            out[root.split("/seg=0/", 1)[1]] = n
    return out


def test_small_commit_is_one_job_without_exchange(spark, tmp_path_factory, monkeypatch):
    """A small generated frame commits in one Spark job with no
    exchange: one task writes every chunk dir, one file each. Past the
    byte cap, or from a parquet source (whose size estimate is its
    compressed bytes), the same commit keeps the chunk exchange, with
    the same rows and layout."""
    from matdb_spark import scan

    base = str(tmp_path_factory.mktemp("smallcommit"))
    schema = Schema(dimensions=[Dimension("t", 100), Dimension("s", 1)], values=[Value("v")])
    # t 0..199 x s 0..1: four chunk dirs
    frame = spark.range(400).selectExpr("id % 200 AS t", "id div 200 AS s", "id AS v")
    want = [(i % 200, i // 200, i) for i in sorted(range(400), key=lambda i: (i % 200, i // 200))]
    layout = {f"__chunk_t={ct}/__chunk_s={cs}": 1 for ct in (0, 1) for cs in (0, 1)}

    def commit(name, df):
        db = Database.create(spark, os.path.join(base, name), schema)
        jobs, plans = _commit_plans(spark, db, df, f"commit-{name}")
        assert [(r.t, r.s, r.v) for r in db.begin().query().collect()] == want
        assert _files_per_chunk_dir(db.path) == layout
        return jobs, plans

    jobs, plans = commit("small", frame)
    assert len(jobs) == 1, jobs
    assert plans and not any("Exchange" in p for p in plans), plans

    pq = os.path.join(base, "frame.parquet")
    frame.write.parquet(pq)
    _, plans = commit("parquet", spark.read.parquet(pq))
    assert any("Exchange" in p for p in plans), plans

    monkeypatch.setattr(scan, "_SINGLE_TASK_MAX_BYTES", 0)
    _, plans = commit("capped", frame)
    assert any("Exchange" in p for p in plans), plans


def test_simhash_is_exchange_free(spark):
    """simhash64 computes the whole fingerprint per row (tokenize →
    hash array → per-bit counts) — no explode, no groupBy, so the plan
    must contain NO Exchange: at corpus scale the old token shuffle
    was the entire cost of the operator."""
    from matdb_spark.operators.dedup import simhash64
    from matdb_spark.sources.tables import load_table

    docs = load_table(spark, SF, "documents")
    out = simhash64(docs, "doc_id", "text")
    assert exchange_count(out) == 0


def test_minhash_lsh_single_pipeline_evaluation(spark):
    """LSH pair generation must evaluate the signature pipeline ONCE:
    pairs come from each bucket's collected id array (in-row nested
    transform), not a banded self-join — the self-join planned with no
    ReusedExchange, so the scan + shingle explode + k-min aggregate
    all ran twice (3.3 s vs 2.1 s at sf0.1)."""
    from matdb_spark.operators.dedup import minhash_lsh_pairs
    from matdb_spark.sources.tables import load_table

    docs = load_table(spark, SF, "documents")
    out = minhash_lsh_pairs(docs, "doc_id", "text", k=32, bands=8)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FileScan") == 1
    assert "Join" not in plan
    # ...and pairs must STREAM from the bucket array via generator
    # nodes, never materialize as one flattened C(m,2) array per row
    # (a degenerate bucket's quadratic blowup inside a single value
    # would OOM or exceed the array-element limit)
    assert plan.count("Generate") >= 3  # band explode + posexplode + pair explode
    assert "flatten" not in plan.lower()


def test_ngram_jaccard_no_inferred_generate_filter(spark):
    """The shingle array is an expensive derived attribute; a non-outer
    explode of it lets InferFiltersFromGenerate + pushdown inline the
    whole construction into a per-row filter at the scan (O(len^2),
    9.8 s vs 1.2 s at sf0.1). Guard: no size(CASE...) filter anywhere
    in the optimized plan."""
    from matdb_spark.operators.dedup import ngram_jaccard_pairs
    from matdb_spark.sources.tables import load_table

    docs = load_table(spark, SF, "documents")
    out = ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.6)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "Filter ((size(CASE" not in plan


def test_pack_documents_single_shuffle(spark):
    """Sequence packing must stay a one-shuffle pipeline: the only
    exchange is the hash-shard repartition feeding the per-shard
    prefix-sum window — no global window, no extra aggregation
    exchange on the doc path."""
    import __spark_entry__ as e

    df = e.q_pack_documents(spark, SF)
    assert exchange_count(df) == 1, physical_plan(df)
    plan = physical_plan(df)
    # the window must be partitioned (per-shard), never a global
    # single-task window
    assert "Window" in plan
    assert "SinglePartition" not in plan, plan


def test_mixture_weights_broadcasts_total(spark):
    """The 1-row grand total must reach the per-source relation as a
    broadcast (a shuffled cross join of a 1-row side would be an
    absurd plan at any scale)."""
    import __spark_entry__ as e

    df = e.q_mixture_weights(spark, SF)
    assert broadcast_join_count(df) >= 1, physical_plan(df)


def test_repetition_signals_no_global_window(spark):
    """Per-document signals must never use a global (single-task)
    window or sort; all aggregation is keyed by doc_id."""
    import __spark_entry__ as e

    df = e.q_repetition_signals(spark, SF)
    plan = physical_plan(df)
    assert "SinglePartition" not in plan, plan


def test_pack_bpe_single_shuffle_after_training(spark):
    """q_pack_bpe's RETURNED plan (training already folded into the
    merge literals) must match q_pack_documents' shape: the BPE token
    count is an exchange-free scan expression, so the only exchange is
    the hash-shard repartition feeding the per-shard prefix-sum
    window."""
    import __spark_entry__ as e

    df = e.q_pack_bpe(spark, SF)
    assert exchange_count(df) == 1, physical_plan(df)
    plan = physical_plan(df)
    assert "Window" in plan
    assert "SinglePartition" not in plan, plan


def test_recall_gate_plans_stay_bounded(spark):
    """The recall gates' exact side is the broadcast cosine_topk; the
    per-query hits aggregation and the 10-row floor window must never
    shuffle the corpus — the only corpus-sized work is the scored
    candidate generation both search paths already do."""
    import __spark_entry__ as e

    df = e.q_ann_recall(spark, SF)
    plan = physical_plan(df)
    # the exact side broadcasts its (tiny) query relation
    assert broadcast_join_count(df) >= 1, plan


def test_loader_pipeline_shape(spark):
    """The loader capstone's returned plan (vocabulary already folded
    into literals, budgets checkpointed): the per-source weight table
    reaches the unit stream as a BROADCAST join, and the only
    data-sized exchange is the pack window's shard repartition — the
    rebalance generate adds none."""
    import __spark_entry__ as e

    df = e.q_loader_pipeline(spark, SF)
    plan = physical_plan(df)
    assert broadcast_join_count(df) >= 1, plan
    # (a SinglePartition exchange DOES appear — the 1-row grand-total
    # aggregate over the per-source relation, bounded by the source
    # count; what must never be single-partition is the pack WINDOW)
    assert "Generate" in plan and "Window" in plan
    # the prefix-sum window must partition by shard (formatted plans
    # put node arguments in their own "(n) Window" detail block)
    window_blocks = [
        b for b in plan.split("\n\n") if ") Window" in b or b.startswith("Window")
    ]
    assert window_blocks and all("shard" in b for b in window_blocks), plan


def test_gopher_quality_is_exchange_free(spark):
    """The Gopher rule bundle is a single-pass scan: every signal is
    an expression over the one materialized word array — no shuffle
    anywhere in the plan."""
    from matdb_spark.functions.text import gopher_quality

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = gopher_quality(docs, "doc_id", "text")
    assert exchange_count(out) == 0


def test_span_dedup_shuffle_budget(spark):
    """remove_duplicate_spans: TWO exchanges — span-hash groupBy and
    the removed-position set aggregation (the non-keeper join
    broadcasts at fixture scale; at corpus scale it shares the
    span-hash key). The r10 rewrite removed the third: documents are
    rebuilt with a per-row filter over the original word array
    instead of explode-all-positions + anti-join + collect_list
    regroup (which also anti-scaled with cores — see
    OPTIMIZATION_r10.md change 6). No pairwise term anywhere."""
    from matdb_spark.operators.dedup import remove_duplicate_spans

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = remove_duplicate_spans(docs, "doc_id", "text", n=10)
    assert exchange_count(out) == 2


def test_semantic_dedup_exchanges_are_keyed(spark):
    """semantic_dedup: six exchanges, every one keyed by cell_id or
    the doc id (assign max_by agg; cell self-join sides; drop-set
    distinct; flag join) — the budget is fixed, not data-shaped, and
    nothing shuffles pairs."""
    from matdb_spark.operators.similarity import semantic_dedup

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cents = emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("cell_id"), "embedding"
    )
    out = semantic_dedup(emb, cents, threshold=0.35)
    assert exchange_count(out) == 6


def test_lsh_topk_shuffle_budget(spark):
    """lsh_topk: the L-fold table replication is a generator, not a
    union of L scans — only the candidate-dedup aggregation and the
    per-query rank window shuffle (the (table, bucket) join
    broadcasts its query side)."""
    from matdb_spark.operators.similarity import lsh_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 10)
    out = lsh_topk(emb, q, k=10, planes_per_table=3, tables=8, dim=64)
    assert exchange_count(out) == 2


def test_corpus_report_scan_budget(spark):
    """corpus_report: TWO scans — the text-processing pipeline runs
    once (flags + stats share one projection via keep_cols; the
    join-back-by-id form re-derived every word array), and the
    language-mode pass re-scans only the pruned (source, lang)
    columns."""
    from matdb_spark.functions.text import corpus_report
    from matdb_spark.plans.inspect import scan_counts

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = corpus_report(docs, "doc_id", "text")
    assert scan_counts(out) == 2
    plan = physical_plan(out)
    # the second scan is the pruned one: somewhere a documents scan
    # reads just source+lang (no text column)
    assert "ReadSchema" in plan


def test_store_plans_build_in_few_py4j_round_trips(spark, tmp_path_factory, monkeypatch):
    """With PySpark's origin capture on (its default), a small read
    served on the driver (built and collected), the Spark plan of the
    same read, and a commit each make few py4j round trips: the store
    builds its plans as SQL text, not Column by Column (each
    ``functions`` call or Column method costs about 8 round trips for
    the capture). The plans, pushed filters included, are the
    Column-built ones."""
    import py4j.clientserver
    from pyspark.sql import DataFrameWriter

    from matdb_spark import scan

    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "true"
    db = _twelve_txn_store(spark, str(tmp_path_factory.mktemp("buildcost")))
    keys = [(i * 10 + i % 10, (5 * i) % 16) for i in (0, 1, 3, 4, 6, 8, 9, 11)]
    frame = spark.range(160).selectExpr("120 + id % 10 AS t", "id div 10 AS s", "id AS v")

    calls = [0]
    send, parquet = py4j.clientserver.ClientServerConnection.send_command, DataFrameWriter.parquet

    def counting_send(self, command):
        calls[0] += 1
        return send(self, command)

    monkeypatch.setattr(py4j.clientserver.ClientServerConnection, "send_command", counting_send)

    def build(fn):
        """(result, round trips) of the cheaper of two builds."""
        runs = []
        for _ in range(2):
            start = calls[0]
            runs.append((fn(), calls[0] - start))
        return min(runs, key=lambda r: r[1])

    # a small read is served on the driver: it runs when it is built,
    # so its build and collect are counted together
    rng, n = build(lambda: db.begin().query_range({"t": (15, 34), "s": (4, 7)}).collect())
    assert len(rng) == 80 and n <= 120, n
    pts, n = build(lambda: db.begin().query_points(keys).collect())
    assert len(pts) == 8 and n <= 120, n

    # the Spark plan of the same reads, forced past the byte cap
    with monkeypatch.context() as m:
        m.setattr(scan, "_SINGLE_TASK_MAX_BYTES", 0)
        rng, n = build(lambda: db.begin().query_range({"t": (15, 34), "s": (4, 7)}))
        assert n <= 120, n
        assert pushed_filters(rng) == [
            "IsNotNull(t)", "IsNotNull(s)", "GreaterThanOrEqual(t,15)",
            "LessThanOrEqual(t,34)", "GreaterThanOrEqual(s,4)", "LessThanOrEqual(s,7)",
        ]
        assert _node_names(rng) == [
            "AdaptiveSparkPlan", "Sort", "Exchange", "Filter", "HashAggregate", "Exchange",
            "HashAggregate", "Project", "Filter", "FileScan",
        ]
        pts, n = build(lambda: db.begin().query_points(keys))
        assert n <= 120, n
        assert _node_names(pts) == _node_names(rng)
        assert " ".join(pushed_filters(pts)).startswith(
            "IsNotNull(t) IsNotNull(s) GreaterThanOrEqual(t,0) LessThanOrEqual(t,111) "
            "GreaterThanOrEqual(s,0) LessThanOrEqual(s,15) Or(Or(Or(And(EqualTo(t,0) EqualTo(s,0))"
        ), pushed_filters(pts)

    # a small commit is written on the driver: counted whole, through
    # its toArrow collect, segment write and manifest.commit; forced
    # onto Spark's writer, counted up to the parquet write it starts
    at_write = []

    def marking_parquet(self, *a, **kw):
        at_write.append(calls[0])
        return parquet(self, *a, **kw)

    monkeypatch.setattr(DataFrameWriter, "parquet", marking_parquet)

    def commit():
        start = calls[0]
        with db.begin() as t:
            t.add_dataframe(frame)
            t.commit()
        return (at_write[-1] if at_write else calls[0]) - start

    assert min(commit(), commit()) <= 60 and not at_write
    with monkeypatch.context() as m:
        m.setattr(scan, "_SINGLE_TASK_MAX_BYTES", 0)
        assert min(commit(), commit()) <= 120


def _node_names(df) -> list[str]:
    """Operator names of ``df``'s executed plan, top down."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return [line.lstrip(" :+-*").split(" ")[0].split("(")[0] for line in plan.splitlines()]
