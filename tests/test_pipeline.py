"""Bank pipeline graph: toposort build, materialization, quality gates."""

from __future__ import annotations

import datetime as dt

import pytest
import pyspark.sql.functions as F

from etl_demos_spark.plans.bank_pipeline import build_bank_pipeline
from etl_demos_spark.plans.model import Pipeline
from etl_demos_spark.plans.quality import assert_not_null, assert_unique


@pytest.fixture(scope="module")
def bank_sources(spark):
    customers = spark.createDataFrame(
        [
            (f"C{i:06d}", 20 + (i * 7) % 60, "MF"[i % 2], ["NORTH", "SOUTH", "EAST", "WEST"][i % 4],
             30000.0 + i * 13.5, i % 20)
            for i in range(1, 51)
        ]
        # one duplicate + one null-id row to exercise dedup/filter
        + [("C000001", 25, "M", "NORTH", 1.0, 1), (None, 30, "F", "SOUTH", 2.0, 2)],
        "customer_id string, age long, gender string, region string, income double, employment_years long",
    )
    loans = spark.createDataFrame(
        [
            (
                f"L{i:06d}",
                f"C{1 + i % 50:06d}",
                dt.date(2018, 1 + i % 12, 1 + i % 28),
                5000.0 + i * 97.0,
                7.5 + (i % 10) / 10,
                12 * (1 + i % 5),
                ["BIKE_LOAN", "CAR_LOAN", "PERSONAL_LOAN"][i % 3],
                f"D{i % 7:03d}",
                1 if i % 20 == 0 else 0,
            )
            for i in range(1, 201)
        ],
        "loan_id string, customer_id string, application_date date, loan_amount double, "
        "interest_rate double, term_months long, product_type string, dealer_id string, default_flag long",
    )
    payments = spark.createDataFrame(
        [
            (
                f"L{1 + i % 200:06d}",
                dt.date(2018 + i % 3, 1 + i % 12, 15),
                500.0 + i,
                450.0 + i,
                45.0,
                5.0 if i % 10 == 0 else 0.0,
                0.0,
                1 + i % 3,
            )
            for i in range(1, 1001)
        ],
        "loan_id string, payment_date date, amount double, principal_amt double, "
        "interest_amt double, fee_amt double, late_fee_amt double, channel_id long",
    )
    return {"customers": customers, "loan_applications": loans, "payments": payments}


def test_bank_pipeline_builds(spark, bank_sources, tmp_path_factory):
    wh = str(tmp_path_factory.mktemp("warehouse"))
    p = build_bank_pipeline(warehouse_dir=wh)
    built = p.run(spark, bank_sources, check=True)
    assert set(built) == {
        "stg_corebank_loans", "stg_corebank_customers", "stg_payments",
        "dim_customer", "dim_product", "dim_dealer", "dim_date",
        "dim_contract_status", "f_loan_contract", "f_default_event",
        "f_payment_transaction", "f_dealer_performance_daily",
        "f_loan_balance_monthly",
    }
    # staging contracts
    assert built["stg_corebank_customers"].count() == 50  # dedup + null filter
    assert built["f_loan_contract"].count() == 200
    # star join resolved every dim key
    assert built["f_loan_contract"].filter(F.col("customer_key").isNull()).count() == 0
    assert built["f_loan_contract"].filter(F.col("application_date_key").isNull()).count() == 0
    # dim_date spans 2015..2030 = 5844 days (FIXTURES.md §5)
    assert built["dim_date"].count() == 5844
    # default events match flagged loans
    assert built["f_default_event"].count() == 10
    # monthly balance: remaining decreases within a loan
    bal = built["f_loan_balance_monthly"].filter(F.col("loan_id") == "L000001")
    rows = bal.orderBy("month").collect()
    assert all(
        rows[i]["remaining_balance"] >= rows[i + 1]["remaining_balance"]
        for i in range(len(rows) - 1)
    )


def test_quality_gate_catches_violations(spark):
    p = Pipeline()

    @p.model("bad")
    def bad(s):
        return spark.createDataFrame([(1,), (1,), (None,)], "k long")

    p.add_assertion("bad", "unique", ["k"])
    p.add_assertion("bad", "not_null", ["k"])
    with pytest.raises(AssertionError, match="unique"):
        p.run(spark, {}, check=True)


def test_assert_helpers(spark):
    df = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    assert_unique(df, ["k"])
    assert_not_null(df, ["k", "v"])
    dup = spark.createDataFrame([(1,), (1,)], "k long")
    with pytest.raises(AssertionError):
        assert_unique(dup, ["k"])


def test_toposort_order_respects_refs(spark):
    p = build_bank_pipeline()
    order = p.order()
    assert order.index("stg_corebank_loans") < order.index("dim_product")
    assert order.index("dim_customer") < order.index("f_loan_contract")
    assert order.index("dim_date") < order.index("f_default_event")


def test_run_starts_each_model_after_its_refs(spark, bank_sources, tmp_path):
    import threading
    import time

    p = build_bank_pipeline(warehouse_dir=str(tmp_path))
    spans: dict[str, tuple] = {}
    lock = threading.Lock()

    def timed(name, fn):
        def wrapped(s, **kwargs):
            start = time.perf_counter()
            written = {r for r in p.models[name].refs if (tmp_path / r / "_SUCCESS").exists()}
            df = fn(s, **kwargs)
            with lock:
                spans[name] = (start, time.perf_counter(), written)
            return df
        return wrapped

    for name, m in p.models.items():
        m.fn = timed(name, m.fn)
    built = p.run(spark, bank_sources, check=True)

    assert set(spans) == set(p.models)
    for name, m in p.models.items():
        start, _, written = spans[name]
        for r in m.refs:
            assert spans[r][1] <= start, f"{name} started before {r} returned"
            if p.models[r].materialized == "table":
                assert r in written, f"{name} started before {r} was written"
    assert built["stg_corebank_customers"].count() == 50
    assert built["f_loan_contract"].count() == 200
    assert built["dim_date"].count() == 5844
    assert built["f_default_event"].count() == 10


def test_run_overlaps_independent_models(spark):
    """Two models with no ref between them must be in flight together:
    each waits for the other at a barrier, which a one-at-a-time build
    would break on its timeout."""
    import threading

    p = Pipeline()
    meet = threading.Barrier(2, timeout=60)

    for name in ("left", "right"):
        @p.model(name)
        def m(s):
            meet.wait()
            return s.range(1)

    built = p.run(spark, {}, check=False)
    assert set(built) == {"left", "right"}


def test_run_carries_job_group_into_build_threads(spark, tmp_path):
    import uuid

    sc = spark.sparkContext
    p = Pipeline(warehouse_dir=str(tmp_path))

    @p.model("t", materialized="table")
    def t(s):
        return s.range(10)

    group = f"pipeline-{uuid.uuid4().hex}"
    ungrouped_before = set(sc.statusTracker().getJobIdsForGroup(None))
    sc.setJobGroup(group, "pipeline run")
    try:
        p.run(spark, {}, check=False)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    in_group = set(sc.statusTracker().getJobIdsForGroup(group))
    assert in_group, "the table write ran outside the caller's job group"
    assert set(sc.statusTracker().getJobIdsForGroup(None)) <= ungrouped_before
    assert (tmp_path / "t" / "_SUCCESS").exists()


def test_run_failure_names_model_and_skips_dependents(spark, tmp_path):
    """A raising dimension: run re-raises its error with the model name,
    never builds the fact that refs it, and returns only after the
    independent table already in flight has been written."""
    import threading
    import time

    p = Pipeline(warehouse_dir=str(tmp_path))
    failing = threading.Event()
    called = []

    @p.model("dim_bad", materialized="table")
    def dim_bad(s):
        failing.set()
        raise ValueError("bad dimension")

    @p.model("f_fact", refs=("dim_bad",), materialized="table")
    def f_fact(s, dim_bad):
        called.append("f_fact")
        return dim_bad

    @p.model("dim_slow", materialized="table")
    def dim_slow(s):
        assert failing.wait(60)
        time.sleep(0.2)  # still running when dim_bad's error arrives
        return s.range(5)

    with pytest.raises(ValueError, match="bad dimension") as e:
        p.run(spark, {}, check=False)
    assert any("dim_bad" in note for note in getattr(e.value, "__notes__", []))
    assert called == []
    assert not (tmp_path / "f_fact").exists()
    assert (tmp_path / "dim_slow" / "_SUCCESS").exists()


def test_run_assertions_failure_strings_pinned(spark):
    """Failure strings and their order for a mixed set: Spark-counted
    violations interleaved with the checks that fail before any job
    (unbuilt model, unknown kind, unbuilt relationships parent). All the
    counted checks run as one SQL execution."""
    from etl_demos_spark.plans.quality import run_assertions

    bus = spark.sparkContext._jsc.sc().listenerBus()
    store = spark._jsparkSession.sharedState().statusStore()

    def last_execution_id():
        bus.waitUntilEmpty()
        n = store.executionsCount()
        return store.executionsList(n - 1, 1).apply(0).executionId() if n else -1

    child = spark.createDataFrame(
        [(1, "A", 1), (1, "Z", 9), (None, None, None)],
        "k long, status string, fk long",
    )
    parent = spark.createDataFrame([(1,), (2,)], "id long")
    built = {"child": child, "parent": parent}
    assertions = [
        ("child", "not_null", ("k",)),
        ("missing", "not_null", ("k",)),
        ("child", "unique", ("k",)),
        ("child", "frobnicate", ("k",)),
        ("child", "relationships", ("fk",), {"to": "nope", "field": "id"}),
        ("parent", "unique", ("id",)),
        ("child", "accepted_values", ("status",), {"values": ["A"]}),
        ("child", "relationships", ("fk",), {"to": "parent", "field": "id"}),
        ("parent", "not_null", ("id",)),
        ("child", "not_null", ["status", "fk"]),
    ]
    before = last_execution_id()
    failures = run_assertions(built, assertions)
    assert last_execution_id() == before + 1
    assert failures == [
        "child.not_null('k',): 1 violations",
        "missing.not_null('k',): model not built",
        "child.unique('k',): 1 violations",
        "child.frobnicate('k',): unknown assertion kind",
        "child.relationships('fk',): parent model 'nope' not built",
        "child.accepted_values('status',): 1 violations",
        "child.relationships('fk',): 1 violations",
        "child.not_null['status', 'fk']: 1 violations",
    ]
    assert run_assertions(built, []) == []


def test_quantile_profile_exact_and_approx(spark):
    from etl_demos_spark.plans.quality import quantile_profile

    df = spark.createDataFrame([(i, float(i)) for i in range(101)], "k long, v double")
    exact = quantile_profile(df, ["v"], quantiles=(0.5,)).collect()[0]
    assert exact["v_p5"] == 50.0
    approx = quantile_profile(df, ["v"], quantiles=(0.5,), exact=False).collect()[0]
    assert abs(approx["v_p5"] - 50.0) <= 1.0  # sketch answer, bounded error


def test_accepted_values_and_relationships_checks(spark):
    from etl_demos_spark.plans.quality import (
        accepted_values_violations,
        relationship_violations,
    )

    child = spark.createDataFrame(
        [(1, "A", 10), (2, "B", 20), (3, "X", 99), (4, None, None)],
        "id long, status string, fk long",
    )
    parent = spark.createDataFrame([(10,), (20,)], "pk long")

    # 'X' violates; NULL passes (dbt semantics)
    assert accepted_values_violations(child, ["status"], values=("A", "B")) == 1
    assert accepted_values_violations(child, ["status"], values=("A", "B", "X")) == 0
    # fk=99 is an orphan; NULL fk passes
    assert relationship_violations(child, ["fk"], to=parent, field="pk") == 1
    assert relationship_violations(
        child.filter("fk != 99"), ["fk"], to=parent, field="pk"
    ) == 0


def test_corpus_facade_smoke(spark):
    """The Corpus facade delegates to the operator modules: chainable
    dedup, quality columns, BPE round-trip, BM25 search, shard export."""
    from etl_demos_spark.engine import Engine

    eng = Engine(spark)
    docs = spark.createDataFrame(
        [
            (0, "the quick brown fox jumps over the lazy dog"),
            (1, "the quick brown fox jumps over the lazy dog"),  # exact dup
            (2, "pack my box with five dozen liquor jugs"),
        ],
        "doc_id long, text string",
    )
    c = eng.corpus(docs)
    kept = c.dedup_exact().df
    assert kept.count() == 2

    q = c.quality()
    assert set(q.columns) == {"doc_id", "quality", "lang_guess"}
    assert q.count() == 3

    merges = c.learn_bpe(n_merges=4)
    assert len(merges) >= 1
    enc = c.encode_bpe(merges)
    assert "bpe_tokens" in enc.columns and enc.count() == 3

    hits = c.search(["fox"], k=5)
    assert hits.count() == 2  # both fox docs

    import tempfile
    with tempfile.TemporaryDirectory() as td:
        c.dedup_exact().export_shards(f"{td}/sh", 2)
        assert spark.read.parquet(f"{td}/sh").count() == 2


def test_vectors_facade_smoke(spark):
    from etl_demos_spark.engine import Engine

    eng = Engine(spark)
    rows = [(i, [float(i), float(i % 3), 1.0, 0.0]) for i in range(40)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    v = eng.vectors(df)

    hits = v.topk([5.0, 2.0, 1.0, 0.0], k=5)
    assert hits.count() == 5

    books, codes = v.pq_compress(m=2, k=8)
    assert codes.count() == 40
    got = v.pq_search(codes, books, [5.0, 2.0, 1.0, 0.0], k=5)
    assert got.count() == 5

    cents, assigned = v.kmeans(k=3, iters=3)
    assert len(cents) == 3 and assigned.count() == 40


def test_vectors_facade_lsh(spark):
    from etl_demos_spark.engine import Engine

    rows = [(i, [float(i), 1.0, 0.0, -1.0]) for i in range(30)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    hits = Engine(spark).vectors(df).topk_lsh([3.0, 1.0, 0.0, -1.0], k=5)
    assert 0 < hits.count() <= 5


def test_unregistered_ref_fails_fast_by_name(spark):
    import pytest
    from etl_demos_spark.plans.model import Pipeline

    p = Pipeline()

    @p.model("mart", refs=("stg_loanz",))
    def mart(spark, stg_loanz):
        return stg_loanz

    with pytest.raises(ValueError, match="stg_loanz"):
        p.order()
    with pytest.raises(ValueError, match="stg_loanz"):
        p.run(spark, {}, check=False)


def test_add_assertion_rejects_unknown_kind(spark):
    import pytest
    from etl_demos_spark.plans.model import Pipeline

    p = Pipeline()
    with pytest.raises(ValueError, match="unknown assertion kind"):
        p.add_assertion("m", "not_nul", ["c"])  # typo must fail at registration


def test_all_four_assertion_kinds_run_declaratively(spark, tmp_path):
    from etl_demos_spark.plans.model import Pipeline

    p = Pipeline(warehouse_dir=str(tmp_path))

    @p.model("parents", sources=("parents_src",))
    def parents(spark, parents_src):
        return parents_src

    @p.model("children", sources=("children_src",))
    def children(spark, children_src):
        return children_src

    p.add_assertion("children", "not_null", ["id"])
    p.add_assertion("children", "unique", ["id"])
    p.add_assertion("children", "accepted_values", ["status"], values=["A", "B"])
    p.add_assertion("children", "relationships", ["pid"], to="parents", field="id")

    par = spark.createDataFrame([(1,), (2,)], "id long")
    ok = spark.createDataFrame([(1, "A", 1), (2, "B", 2)], "id long, status string, pid long")
    p.run(spark, {"parents_src": par, "children_src": ok}, check=True)

    bad = spark.createDataFrame(
        [(1, "A", 1), (1, "Z", 9)], "id long, status string, pid long"
    )
    import pytest

    with pytest.raises(AssertionError) as e:
        p.run(spark, {"parents_src": par, "children_src": bad}, check=True)
    msg = str(e.value)
    assert "unique" in msg and "accepted_values" in msg and "relationships" in msg


def test_interrupted_swap_is_recovered(spark, tmp_path):
    """Crash between the swap's two moves must not lose the table: the
    next merge_upsert heals it and still has every prior row."""
    import shutil

    from etl_demos_spark.plans.incremental import merge_upsert

    path = str(tmp_path / "t")
    base = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    merge_upsert(spark, base, path, keys=["k"])
    # simulate the crash window: path moved aside, staging fully written
    up1 = spark.createDataFrame([(2, "B"), (3, "c")], "k long, v string")
    cur = spark.read.parquet(path)
    keep = cur.join(up1.select("k").distinct(), ["k"], "left_anti")
    keep.unionByName(up1).write.mode("overwrite").parquet(f"{path}__staging")
    shutil.move(path, f"{path}__old")   # crash here: nothing at `path`
    up2 = spark.createDataFrame([(4, "d")], "k long, v string")
    out = merge_upsert(spark, up2, path, keys=["k"])
    got = {(r["k"], r["v"]) for r in out.collect()}
    # staging (the complete post-up1 table) was promoted, then up2 merged
    assert got == {(1, "a"), (2, "B"), (3, "c"), (4, "d")}
    import pathlib

    assert not pathlib.Path(f"{path}__old").exists()
    assert not pathlib.Path(f"{path}__staging").exists()


def test_compact_heals_interrupted_swap(spark, tmp_path):
    """compact() in a compact-ONLY workflow must self-heal a crash that
    landed between swap_table's two moves — without the heal the read
    at the top of compact() fails PATH_NOT_FOUND until some unrelated
    merge_upsert happens to run (ADVICE r5)."""
    import shutil

    from etl_demos_spark.plans.incremental import compact, merge_upsert

    path = str(tmp_path / "t")
    base = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    merge_upsert(spark, base, path, keys=["k"])
    # crash window: staging fully written, path moved aside, promote died
    spark.read.parquet(path).write.mode("overwrite").parquet(f"{path}__staging")
    shutil.move(path, f"{path}__old")
    n = compact(spark, path, target_file_mb=128)
    assert n >= 1
    got = {(r["k"], r["v"]) for r in spark.read.parquet(path).collect()}
    assert got == {(1, "a"), (2, "b")}


def test_merge_upsert_partitioned_touches_only_affected(spark, tmp_path):
    """Partition-scoped upsert: keyed replace/insert semantics inside
    the partitions the updates name, while every OTHER partition's
    files stay byte-identical on disk (the work-∝-batch contract the
    streaming rollup cascade depends on)."""
    from etl_demos_spark.plans.incremental import merge_upsert_partitioned

    path = str(tmp_path / "t")
    base = spark.createDataFrame(
        [(1, "d1", "a"), (2, "d1", "b"), (3, "d2", "c"), (4, "d3", "d")],
        "k long, day string, v string",
    )
    merge_upsert_partitioned(spark, base, path, keys=["k"], partition_by=["day"])
    d3_files = {
        p: p.stat().st_mtime_ns
        for p in (tmp_path / "t").glob("day=d3/*.parquet")
    }
    assert d3_files
    up = spark.createDataFrame(
        [(2, "d1", "B"), (5, "d2", "e")], "k long, day string, v string"
    )
    out = merge_upsert_partitioned(spark, up, path, keys=["k"], partition_by=["day"])
    got = {(r["k"], r["day"], r["v"]) for r in out.collect()}
    assert got == {
        (1, "d1", "a"), (2, "d1", "B"), (3, "d2", "c"), (5, "d2", "e"), (4, "d3", "d"),
    }
    # untouched partition: same files, same mtimes
    assert {
        p: p.stat().st_mtime_ns
        for p in (tmp_path / "t").glob("day=d3/*.parquet")
    } == d3_files
    # replay the same batch — idempotent
    again = merge_upsert_partitioned(spark, up, path, keys=["k"], partition_by=["day"])
    assert {(r["k"], r["day"], r["v"]) for r in again.collect()} == got


def test_merge_upsert_partitioned_crash_window_recovered(spark, tmp_path):
    """The per-partition swap's crash window (live partition moved to
    __pold, staging not yet promoted) must lose nothing: the next call
    heals it and the keyed merge still sees every kept row. This is the
    scenario where dynamic partition overwrite WOULD lose data (its
    commit deletes before renaming, and a replay would derive its
    keep-set from the emptied partition)."""
    import shutil

    from etl_demos_spark.plans.incremental import merge_upsert_partitioned

    path = str(tmp_path / "t")
    base = spark.createDataFrame(
        [(1, "d1", "a"), (2, "d1", "b"), (3, "d2", "c")],
        "k long, day string, v string",
    )
    merge_upsert_partitioned(spark, base, path, keys=["k"], partition_by=["day"])
    # simulate the crash: staging holds the complete post-merge d1
    # (k=2 updated, k=1 kept), live d1 already moved to the backup
    up1 = spark.createDataFrame([(2, "d1", "B")], "k long, day string, v string")
    cur_d1 = spark.read.parquet(path).filter("day = 'd1'")
    keep = cur_d1.join(up1.select("k"), ["k"], "left_anti")
    keep.unionByName(up1.select(*cur_d1.columns)).write.mode("overwrite").partitionBy(
        "day"
    ).parquet(f"{path}__pstaging")
    shutil.move(f"{path}/day=d1", f"{path}__pold/day=d1")  # crash here
    # next upsert (different partition) heals d1 first, then applies
    up2 = spark.createDataFrame([(4, "d2", "d")], "k long, day string, v string")
    out = merge_upsert_partitioned(spark, up2, path, keys=["k"], partition_by=["day"])
    got = {(r["k"], r["day"], r["v"]) for r in out.collect()}
    assert got == {(1, "d1", "a"), (2, "d1", "B"), (3, "d2", "c"), (4, "d2", "d")}
    import pathlib

    assert not pathlib.Path(f"{path}__pstaging").exists()
    assert not pathlib.Path(f"{path}__pold").exists()


def test_cascade_migrates_legacy_level_layout(spark, tmp_path):
    """A level table written before day-partitioning (no __day column)
    must be migrated in place, preserving rows, and be partition-
    upsertable afterwards."""
    import pyspark.sql.functions as F

    from etl_demos_spark.plans.incremental import merge_upsert_partitioned
    from etl_demos_spark.streaming.windows import migrate_level_to_day_layout

    path = str(tmp_path / "level_0")
    legacy = spark.createDataFrame(
        [("2024-01-01 00:00:00", "click", 3), ("2024-01-02 05:00:00", "view", 7)],
        "window_start string, event_type string, n_events long",
    ).withColumn("window_start", F.to_timestamp("window_start"))
    legacy.write.parquet(path)  # the pre-upgrade layout
    migrate_level_to_day_layout(spark, path)
    cur = spark.read.parquet(path)
    assert "__day" in cur.columns and cur.count() == 2
    up = spark.createDataFrame(
        [("2024-01-01 00:00:00", "click", 5)],
        "window_start string, event_type string, n_events long",
    ).withColumn("window_start", F.to_timestamp("window_start")).withColumn(
        "__day", F.to_date("window_start")
    )
    out = merge_upsert_partitioned(
        spark, up, path, keys=["window_start", "event_type"], partition_by=["__day"]
    )
    got = {(str(r["window_start"]), r["event_type"], r["n_events"]) for r in out.collect()}
    assert got == {
        ("2024-01-01 00:00:00", "click", 5),
        ("2024-01-02 05:00:00", "view", 7),
    }
    # idempotent second migration
    migrate_level_to_day_layout(spark, path)
    assert spark.read.parquet(path).count() == 2


def test_merge_upsert_partitioned_null_partition(spark, tmp_path):
    """A NULL partition value (Hive default partition) must be
    selectable by the scoped upsert — plain equality would drop it
    under three-valued logic and duplicate the key on every call."""
    from etl_demos_spark.plans.incremental import merge_upsert_partitioned

    path = str(tmp_path / "t")
    base = spark.createDataFrame(
        [(1, None, "a"), (2, "d1", "b")], "k long, day string, v string"
    )
    merge_upsert_partitioned(spark, base, path, keys=["k"], partition_by=["day"])
    up = spark.createDataFrame([(1, None, "A")], "k long, day string, v string")
    out = merge_upsert_partitioned(spark, up, path, keys=["k"], partition_by=["day"])
    got = {(r["k"], r["day"], r["v"]) for r in out.collect()}
    assert got == {(1, None, "A"), (2, "d1", "b")}


def test_delete_keys_reaches_null_partitions(spark, tmp_path):
    from etl_demos_spark.plans.incremental import delete_keys

    path = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(1, "d1"), (2, "d1"), (3, None), (4, None)], "k long, day string"
    )
    df.write.partitionBy("day").parquet(path)
    doomed = spark.createDataFrame([(3,), (4,)], "k long")
    n = delete_keys(spark, path, doomed, "k", ["day"])
    assert n == 2
    left = {r["k"] for r in spark.read.parquet(path).collect()}
    assert left == {1, 2}


def test_engine_rearm_from_dir_restores_staged_views(spark, tmp_path):
    """The documented add_source_auto restart path must bring back the
    STAGED view and its assertions, not just the raw one."""
    from etl_demos_spark.engine import Engine

    csv = tmp_path / "v.csv"
    csv.write_text(
        "UniqueID,disbursed_amount,Date_of_Birth,loan_default\n"
        "1,1000.5,01-01-90,0\n2,77.0,15-06-05,1\n"
    )
    d = str(tmp_path / "persist")
    eng = Engine(spark)
    eng.add_source_auto("vloans", str(csv), persist_dir=d)
    assert eng.sql("select count(*) c from vloans").collect()[0]["c"] == 2
    assert eng.check_quality() == []

    eng2 = Engine(spark)
    eng2.rearm_from_dir(d)
    got = eng2.sql("select loan_id, loan_amount from vloans").collect()
    assert {r["loan_id"] for r in got} == {"1", "2"}
    assert eng2.check_quality() == []


def test_events_facade_matches_funnel_family(spark):
    """engine.Events must delegate to the same funnel-family semantics
    the certified queries use: funnel() stage counts == q_event_funnel's
    aggregate, first_response() == the q_event_response operator call,
    and both sessionize/transitions return the operator shapes."""
    import pyspark.sql.functions as F

    from etl_demos_spark.data import load_table
    from etl_demos_spark.engine import Engine
    from etl_demos_spark.operators.asof import first_response_join

    sf_dir = "/root/testdata/sf0.001"
    eng = Engine(spark)
    ev_df = load_table(spark, sf_dir, "events")
    ev = eng.events(ev_df)

    got = {r["step"]: r["n_users"] for r in ev.funnel("view", "click", "purchase").collect()}
    ref = ev_df.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("v"),
        F.min(F.when(F.col("event_type") == "click", F.col("ts"))).alias("c"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias("p"),
    )
    viewed = F.col("v").isNotNull()
    clicked = viewed & (F.col("c") > F.col("v"))
    conv = clicked & (F.col("p") > F.col("c"))
    exp = ref.agg(
        F.sum(viewed.cast("long")).alias("nv"),
        F.sum(clicked.cast("long")).alias("nc"),
        F.sum(conv.cast("long")).alias("np"),
    ).collect()[0]
    assert got == {"view": exp["nv"], "click": exp["nc"], "purchase": exp["np"]}

    facade = {
        (r["user_id"], r["a_ts"], r["b_ts"])
        for r in ev.first_response("view", "purchase", "2 hours").collect()
    }
    direct = {
        (r["user_id"], r["a_ts"], r["b_ts"])
        for r in first_response_join(
            ev_df, ("user_id",), "ts", "event_type", "view", "purchase", "2 hours"
        ).collect()
    }
    assert facade == direct and facade

    assert "session_seq" in ev.sessionize().columns
    assert set(ev.transitions().columns) == {"cur", "nxt", "c_trans", "p_trans"}


def test_events_funnel_empty_input_counts_zero(spark):
    """Review r7: sum over an empty frame is NULL — funnel stages must
    surface 0, not None."""
    from etl_demos_spark.engine import Engine

    empty = spark.createDataFrame(
        [], "event_id long, ts timestamp, user_id long, event_type string"
    )
    got = {
        r["step"]: r["n_users"]
        for r in Engine(spark).events(empty).funnel("view", "click").collect()
    }
    assert got == {"view": 0, "click": 0}


def test_media_facade_matches_operator_calls(spark):
    """Media facade delegates: every method must equal the direct
    operator call on the same frame, including non-default column
    names (the _normalized rename path)."""
    import numpy as np

    from etl_demos_spark.engine import Engine
    from etl_demos_spark.operators.image_dedup import image_signatures

    rng = np.random.default_rng(31)
    raster = rng.integers(0, 256, size=10 * 8 * 3, dtype=np.uint8).tobytes()
    img = b"P6\n10 8\n255\n" + raster
    df = spark.createDataFrame(
        [(1, img), (2, img), (3, b"P6\n10 8\n255\n" + rng.integers(
            0, 256, size=10 * 8 * 3, dtype=np.uint8).tobytes())],
        "img_id long, payload binary",
    )
    media = Engine(spark).media(df, id_col="img_id", content_col="payload")

    meta = {r["id"]: r["width"] for r in media.image_meta().collect()}
    assert meta == {1: 10, 2: 10, 3: 10}

    want_sigs = {
        r["id"]: r["sig"]
        for r in image_signatures(
            df.selectExpr("img_id as id", "payload as content")
        ).collect()
    }
    got_sigs = {r["id"]: r["sig"] for r in media.signatures().collect()}
    assert got_sigs == want_sigs

    pairs = {(r["id_a"], r["id_b"]) for r in media.near_dups().collect()}
    assert pairs == {(1, 2)}

    kept = sorted(r["id"] for r in media.dedup().df.collect())
    assert kept == [1, 3]

    kept_ids, store = media.dedup_incremental(None)
    assert sorted(r["id"] for r in kept_ids.collect()) == [1, 3]
    assert sorted(r["id"] for r in store.collect()) == [1, 3]


def test_media_facade_audio_methods(spark):
    import struct

    import numpy as np

    from etl_demos_spark.engine import Engine
    from etl_demos_spark.operators.audio_dedup import audio_fp_signatures

    rng = np.random.default_rng(33)

    def wav(payload: bytes) -> bytes:
        fmt = struct.pack("<HHIIHH", 1, 1, 8000, 8000, 1, 8)
        chunks = (b"fmt " + struct.pack("<I", len(fmt)) + fmt
                  + b"data" + struct.pack("<I", len(payload)) + payload)
        return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks

    p = bytes(rng.integers(0, 256, size=256, dtype=np.uint8))
    df = spark.createDataFrame(
        [(1, wav(p)), (2, wav(bytes([(p[0] + 128) % 256]) + p[1:]))],
        "id long, content binary",
    )
    media = Engine(spark).media(df)
    want = {r["id"]: r["sig"] for r in audio_fp_signatures(df).collect()}
    got = {r["id"]: r["sig"] for r in media.audio_fingerprints().collect()}
    assert got == want
    pairs = {(r["id_a"], r["id_b"]) for r in media.audio_near_dups().collect()}
    assert pairs == {(1, 2)}


def test_media_facade_video_methods(spark):
    import struct

    from etl_demos_spark.engine import Engine
    from etl_demos_spark.operators.video_dedup import (
        video_exact_fingerprints,
        video_frame_signatures,
    )

    def chunk(cid, body):
        pad = b"\x00" if len(body) % 2 else b""
        return cid + struct.pack("<I", len(body)) + body + pad

    def avi(frames):
        avih = struct.pack("<14I", 33333, 0, 0, 0, len(frames), 0, 1, 0,
                           0, 0, 0, 0, 0, 0)
        payload = (b"AVI " + chunk(b"LIST", b"hdrl" + chunk(b"avih", avih))
                   + chunk(b"LIST", b"movi"
                           + b"".join(chunk(b"00db", f) for f in frames)))
        return b"RIFF" + struct.pack("<I", len(payload)) + payload

    def pgm(raster):
        return b"P5\n8 8\n255\n" + raster

    base = bytes((i * 7 + 3) % 256 for i in range(64))
    mut = b"\xff" + base[1:]
    df = spark.createDataFrame(
        [(1, avi([pgm(base), pgm(base)])),
         (2, avi([pgm(mut), pgm(base)])),
         (3, avi([pgm(bytes(255 - b for b in base))]))],
        "id long, content binary",
    )
    media = Engine(spark).media(df)

    want = {(r["id"], r["frame_idx"]): r["sig"]
            for r in video_frame_signatures(df).collect()}
    got = {(r["id"], r["frame_idx"]): r["sig"]
           for r in media.video_frame_signatures().collect()}
    assert got == want

    pairs = {(r["id_a"], r["id_b"]) for r in media.video_near_dups().collect()}
    assert pairs == {(1, 2)}

    want_fp = {r["id"]: r["fp"] for r in video_exact_fingerprints(df).collect()}
    got_fp = {r["id"]: r["fp"] for r in media.video_fingerprints().collect()}
    assert got_fp == want_fp

    kept = sorted(r["id"] for r in media.video_dedup().df.collect())
    assert kept == [1, 3]

    kept_ids, store = media.video_dedup_incremental(None)
    assert sorted(r["id"] for r in kept_ids.collect()) == [1, 2, 3]
    assert store.count() == 3
