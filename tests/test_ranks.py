"""Distributed exact-rank primitive (operators/ranks.py): value
equivalence against Spark's built-in single-task windows, partition ids
that every evaluation agrees on, and the plan contract ordered by VERDICT
r10/r11 #1 — none of the nine migrated plans may feed a Window from an
Exchange SinglePartition (the single-task global sort this primitive
exists to eliminate)."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from hbase_hadoop_flightsearch_spark.operators.ranks import (
    with_global_cumsum,
    with_global_ntile,
    with_global_row_number,
)
from hbase_hadoop_flightsearch_spark.plans.registry import load_all

SF = "/root/testdata/sf0.001"

# The nine plans VERDICT r10/r11 named as unpartitioned-global-window
# scale-killers, all migrated onto operators/ranks.py in r12.
MIGRATED = [
    "ml_eval_auc_exact",
    "ml_eval_calibration_bins",
    "ml_eval_brier_decomposition",
    "agg_histogram_equidepth",
    "sample_class_rebalance",
    "sample_pps_systematic",
    "sample_importance_dsir",
    "events_time_to_convert_pctl",
    "pipeline_curriculum_stages",
]


@pytest.fixture(scope="module")
def skewed_df(spark):
    """1000 rows over 51 duplicate-heavy keys, pre-split across 13
    partitions so local ranks genuinely differ from global ones."""
    rng = random.Random(7)
    rows = [
        (i, rng.randint(0, 50), rng.randint(1, 9)) for i in range(1000)
    ]
    return spark.createDataFrame(
        rows, "id long, k long, v long"
    ).repartition(13)


def test_row_number_matches_builtin(skewed_df):
    got = with_global_row_number(
        skewed_df, [F.col("k"), F.col("id")], "rn", total_col="n"
    )
    exp = skewed_df.withColumn(
        "rn", F.row_number().over(Window.orderBy("k", "id")).cast("long")
    ).withColumn("n", F.count(F.lit(1)).over(Window.partitionBy()))
    assert {r.id: (r.rn, r.n) for r in got.collect()} == {
        r.id: (r.rn, r.n) for r in exp.collect()
    }


def test_cumsum_matches_builtin(skewed_df):
    got = with_global_cumsum(
        skewed_df, [F.col("k"), F.col("id")], F.col("v"), "c",
        total_col="t",
    )
    exp = skewed_df.withColumn(
        "c",
        F.sum("v").over(
            Window.orderBy("k", "id").rowsBetween(
                Window.unboundedPreceding, Window.currentRow
            )
        ),
    ).withColumn("t", F.sum("v").over(Window.partitionBy()))
    assert {r.id: (r.c, r.t) for r in got.collect()} == {
        r.id: (r.c, r.t) for r in exp.collect()
    }


@pytest.mark.parametrize("buckets", [3, 7, 10, 2000])
def test_ntile_matches_builtin(skewed_df, buckets):
    """Floor/ceil bucket-size semantics across B<n, B∤n, and B>n (the
    closed-form q=0 branch)."""
    got = with_global_ntile(
        skewed_df, [F.col("k"), F.col("id")], buckets, "b"
    )
    exp = skewed_df.withColumn(
        "b", F.ntile(buckets).over(Window.orderBy("k", "id"))
    )
    assert {r.id: r.b for r in got.collect()} == {
        r.id: r.b for r in exp.collect()
    }


def test_descending_order(skewed_df):
    got = with_global_row_number(
        skewed_df, [F.desc("k"), F.asc("id")], "rn"
    )
    exp = skewed_df.withColumn(
        "rn",
        F.row_number()
        .over(Window.orderBy(F.desc("k"), F.asc("id")))
        .cast("long"),
    )
    assert {r.id: r.rn for r in got.collect()} == {
        r.id: r.rn for r in exp.collect()
    }


def test_empty_input(skewed_df):
    empty = skewed_df.filter("k < 0")
    assert (
        with_global_row_number(empty, [F.col("k")], "rn").count() == 0
    )
    assert with_global_ntile(empty, [F.col("k")], 4, "b").count() == 0
    assert (
        with_global_cumsum(empty, [F.col("k")], F.col("v"), "c").count()
        == 0
    )


def test_pids_consistent_from_literal_bounds(spark, tmp_path):
    """Both branches of the primitive (local ranks, per-partition
    offsets) key on __gr_pid, so every evaluation must assign each row
    the same pid. The pid is a CASE WHEN of the row's keys against
    literal bounds sampled once at build time: the plan carries no
    cached base, no range exchange and no spark_partition_id; the same
    rows in another partitioning and order get the same pids; and pids
    never decrease along the global order (partition i sorts wholly
    before partition i+1)."""
    from hbase_hadoop_flightsearch_spark.operators import ranks

    path = str(tmp_path / "t.parquet")
    spark.range(0, 2000).select(
        F.col("id"), (F.col("id") % 97).alias("k")
    ).write.mode("overwrite").parquet(path)
    df = spark.read.parquet(path)
    order = [F.desc("k"), F.col("id")]
    out = with_global_row_number(df, order, "rn")
    out.collect()
    final = out._jdf.queryExecution().executedPlan().toString()
    assert "InMemoryTableScan" not in final, final
    assert "rangepartitioning" not in final, final
    assert "spark_partition_id" not in final.lower(), final
    assert "CASE WHEN" in final and "AS __gr_pid" in final, final

    keys = ranks._sort_keys(order)
    bounds = ranks._range_bounds(df, order, keys, 8)
    assert 1 < len(bounds) <= 7
    pid = ranks._pid_expr(keys, bounds, 0, len(bounds)).alias("pid")
    a = {r.id: r.pid for r in df.select("id", pid).collect()}
    shuffled = df.repartition(5, "k").sortWithinPartitions(F.rand(3))
    b = {r.id: r.pid for r in shuffled.select("id", pid).collect()}
    assert a == b
    ordered = [r.pid for r in df.orderBy(*order).select(pid).collect()]
    assert ordered == sorted(ordered)
    assert set(ordered) == set(range(len(bounds) + 1))


def _window_fed_by_single_partition(plan: str) -> list[str]:
    """Lines where a Window's input chain (Window -> [Sort] ->
    Exchange SinglePartition) funnels through one task. The offsets
    fold inside ranks.py deliberately uses Coalesce+mapInPandas, and a
    final one-row aggregate's SinglePartition exchange has no Window
    above it, so any hit here is a genuine single-task sort."""
    lines = plan.splitlines()
    hits = []
    for i, line in enumerate(lines):
        if "Window" not in line:
            continue
        for nxt in lines[i + 1 : i + 4]:
            if "Exchange SinglePartition" in nxt:
                hits.append(line.strip()[:120])
                break
            # stop scanning once another multi-child/blocking op starts
            if "Window" in nxt or "Join" in nxt or "Aggregate" in nxt:
                break
    return hits


@pytest.mark.parametrize("name", MIGRATED)
def test_no_single_task_window_in_migrated_plans(spark, name):
    """VERDICT r10/r11 #1 done-criterion: the physical plan of each
    migrated query contains NO Window fed by Exchange SinglePartition,
    and DOES contain the primitive's window hash-partitioned on its
    partition id (proof it runs the distributed construction, not a
    lucky rewrite)."""
    df = load_all()[name].fn(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    hits = _window_fed_by_single_partition(plan)
    assert not hits, f"{name}: single-task Window over {hits}\n{plan}"
    assert "hashpartitioning(__gr_pid" in plan, (
        f"{name}: no pid-hash exchange\n{plan}"
    )
    assert "windowspecdefinition(__gr_pid" in plan, (
        f"{name}: primitive window not in plan\n{plan}"
    )


def test_contract_catches_the_old_shape(spark):
    """The detector itself must fire on the pattern it polices — an
    unpartitioned Window.orderBy over any nontrivial input."""
    df = spark.range(100).withColumn(
        "rn", F.row_number().over(Window.orderBy("id"))
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert _window_fed_by_single_partition(plan), plan


def test_order_stats_multi_measure_matches_builtins(spark):
    """with_global_order_stats: several running sums + row number +
    grand totals in ONE pass must match the built-in window forms
    value-for-value (ties, negative values, multiple measures)."""
    from hbase_hadoop_flightsearch_spark.operators.ranks import (
        with_global_order_stats,
    )

    rng = random.Random(11)
    rows = [
        (rng.randint(0, 300), rng.randint(-5, 5), i) for i in range(4000)
    ]
    df = spark.createDataFrame(rows, "v int, a int, id int").repartition(11)
    g = df.groupBy("v").agg(
        F.count(F.lit(1)).alias("cnt"), F.sum("a").alias("sa")
    )
    got = with_global_order_stats(
        g,
        [F.col("v")],
        cumsums={"c": F.col("cnt"), "cs": F.col("sa")},
        totals={"t": F.col("cnt"), "ts": F.col("sa")},
        row_number="rn",
    )
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    w_all = Window.partitionBy()
    exp = g.select(
        "v",
        F.sum("cnt").over(w).cast("long").alias("c"),
        F.sum("sa").over(w).cast("long").alias("cs"),
        F.row_number().over(Window.orderBy("v")).cast("long").alias("rn"),
        F.sum("cnt").over(w_all).cast("long").alias("t"),
        F.sum("sa").over(w_all).cast("long").alias("ts"),
    )
    cols = ["c", "cs", "rn", "t", "ts"]
    a = {r["v"]: tuple(r[c] for c in cols) for r in got.collect()}
    b = {r["v"]: tuple(r[c] for c in cols) for r in exp.collect()}
    assert a == b


def test_order_stats_deterministic_over_hash_agg_input(spark):
    """Regression (r12): with a hash-AGGREGATE input, the two branches
    of the primitive used to re-sample range bounds independently
    (ReuseExchange de-canonicalized by column pruning), pairing local
    ranks with the WRONG partition offsets — nondeterministically.
    Pids computed from literal bounds make the result identical across
    repeated evaluations, checked here via the doubled-midrank identity
    sum(cnt * (2*cum - cnt + 1)) == n * (n + 1), which is violated
    almost surely when pids mismatch, plus run-to-run equality."""
    from hbase_hadoop_flightsearch_spark.operators.ranks import (
        with_global_order_stats,
    )

    rng = random.Random(3)
    rows = [(rng.randint(0, 5000),) for _ in range(20000)]
    df = spark.createDataFrame(rows, "v int").repartition(17)
    g = df.groupBy("v").agg(F.count(F.lit(1)).alias("cnt"))

    def run() -> tuple:
        cum = with_global_order_stats(
            g, [F.col("v")], cumsums={"c": F.col("cnt")}
        )
        row = cum.agg(
            F.sum(
                F.col("cnt") * (2 * F.col("c") - F.col("cnt") + 1)
            ).alias("s"),
            F.sum("cnt").alias("n"),
        ).collect()[0]
        return row["s"], row["n"]

    results = [run() for _ in range(3)]
    for s, n in results:
        assert s == n * (n + 1), (s, n)
    assert len(set(results)) == 1, results


def test_order_stats_stable_after_clear_cache(spark):
    """A frame built BEFORE the session's cache is cleared must still
    rank right when it runs: nothing the primitive needs lives in the
    cache. Hash-aggregate input (nondeterministic row order), one
    build, clearCache(), three actions — the doubled-midrank identity
    holds on each and all three agree."""
    from hbase_hadoop_flightsearch_spark.operators.ranks import (
        with_global_order_stats,
    )

    rng = random.Random(19)
    rows = [(rng.randint(0, 3000),) for _ in range(12000)]
    g = (
        spark.createDataFrame(rows, "v int")
        .repartition(9)
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    cum = with_global_order_stats(
        g, [F.col("v")], cumsums={"c": F.col("cnt")}
    ).agg(
        F.sum(F.col("cnt") * (2 * F.col("c") - F.col("cnt") + 1)).alias("s"),
        F.sum("cnt").alias("n"),
    )
    spark.catalog.clearCache()
    results = [tuple(cum.collect()[0]) for _ in range(3)]
    for s, n in results:
        assert s == n * (n + 1), (s, n)
    assert len(set(results)) == 1, results


@pytest.mark.parametrize("sort", ["asc", "desc", "desc_nulls_first"])
def test_null_order_keys_match_builtin(spark, sort):
    """NULL order keys land where the built-in Window.orderBy puts them
    for each direction / null ordering: the literal-bound pid must
    honour both, or NULL rows would take the wrong global ranks."""
    rng = random.Random(23)
    rows = [
        (i, None if rng.random() < 0.2 else rng.randint(0, 40),
         rng.randint(1, 9))
        for i in range(1500)
    ]
    df = spark.createDataFrame(rows, "id long, k long, v long").repartition(7)
    order = [getattr(F.col("k"), sort)(), F.col("id")]
    got = with_global_cumsum(
        with_global_row_number(df, order, "rn"), order, F.col("v"), "c"
    )
    w = Window.orderBy(*order)
    exp = df.select(
        "id",
        F.row_number().over(w).cast("long").alias("rn"),
        F.sum("v").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ).cast("long").alias("c"),
    )
    assert {r.id: (r.rn, r.c) for r in got.collect()} == {
        r.id: (r.rn, r.c) for r in exp.collect()
    }


def test_global_lead_matches_builtin(spark):
    """with_global_lead: LEAD(1) semantics including the NULL last row
    and duplicate order keys (arbitrary-but-consistent tie order is
    made total here with a tiebreak column, as every call site does)."""
    from hbase_hadoop_flightsearch_spark.operators.ranks import (
        with_global_lead,
    )

    rng = random.Random(5)
    rows = [(rng.randint(0, 500) * 3, i) for i in range(3000)]
    df = spark.createDataFrame(rows, "k long, id int").repartition(9)
    got = with_global_lead(
        df, [F.col("k"), F.col("id")], {"next_k": "k", "next_id": "id"}
    )
    w = Window.orderBy("k", "id")
    exp = df.select(
        "k",
        "id",
        F.lead("k").over(w).alias("next_k"),
        F.lead("id").over(w).alias("next_id"),
    )
    a = {(r["k"], r["id"]): (r["next_k"], r["next_id"])
         for r in got.collect()}
    b = {(r["k"], r["id"]): (r["next_k"], r["next_id"])
         for r in exp.collect()}
    assert a == b


def test_measure_name_validation(skewed_df):
    """ADVICE r12: a name shared between measure families, or colliding
    with an input column, must raise — not silently overwrite."""
    from hbase_hadoop_flightsearch_spark.operators.ranks import (
        with_global_order_stats,
    )

    with pytest.raises(ValueError, match="duplicate measure name"):
        with_global_order_stats(
            skewed_df,
            [F.col("k"), F.col("id")],
            cumsums={"x": F.col("v")},
            row_number="x",
        )
    with pytest.raises(ValueError, match="already in df"):
        with_global_order_stats(
            skewed_df,
            [F.col("k"), F.col("id")],
            cumsums={"v": F.col("v")},
        )
    # ADVICE r14: a measure named into the internal "__gr_" namespace
    # (e.g. '__gr_cntX' next to cumsum 'X') would collide with a DERIVED
    # _CNT alias downstream of the duplicate check — the prefix is
    # reserved outright.
    with pytest.raises(ValueError, match="__gr_.*reserved|reserved"):
        with_global_order_stats(
            skewed_df,
            [F.col("k"), F.col("id")],
            cumsums={"X": F.col("v"), "__gr_cntX": F.col("v")},
        )
    with pytest.raises(ValueError, match="reserved"):
        with_global_order_stats(
            skewed_df.withColumn("__gr_pid", F.lit(1)),
            [F.col("k"), F.col("id")],
            cumsums={"x": F.col("v")},
        )


def test_all_null_measure_partition(spark):
    """ADVICE r12: SUM over an all-NULL partition returns NULL from the
    per-partition agg; the offsets fold must treat it as 0 (exclusive-
    prefix semantics), not crash the Arrow astype. Row-level semantics
    stay exactly the built-in window's: SUM over an all-NULL prefix is
    NULL until the first non-NULL value."""
    from hbase_hadoop_flightsearch_spark.operators.ranks import (
        with_global_cumsum,
    )

    # low keys all-NULL, high keys valued: with a range partitioner the
    # leading partitions see only NULL measures
    rows = [(i, None if i < 500 else 1) for i in range(1000)]
    df = spark.createDataFrame(rows, "id long, v long").repartition(7)
    got = {
        r.id: (r.cum, r.tot)
        for r in with_global_cumsum(
            df, [F.col("id")], F.col("v"), "cum", total_col="tot"
        ).collect()
    }
    assert got[0][0] is None and got[499][0] is None  # built-in parity
    assert got[500][0] == 1 and got[999][0] == 500
    assert all(t == 500 for _, t in got.values())


def test_trailing_null_measure_partition(spark):
    """ADVICE r13: the mirror case — non-null values FIRST, an all-NULL
    tail last. The built-in window carries the prefix sum across the
    NULL tail (SUM ignores NULLs); coalescing the per-partition agg to 0
    alone would emit NULL there (local NULL + offset = NULL). Verified
    row-for-row against the built-in unpartitioned window."""
    from pyspark.sql import Window

    from hbase_hadoop_flightsearch_spark.operators.ranks import (
        with_global_cumsum,
    )

    rows = [(i, 1 if i < 500 else None) for i in range(1000)]
    # interleave a NULL inside the valued half too (mixed partitions)
    rows[123] = (123, None)
    df = spark.createDataFrame(rows, "id long, v long").repartition(7)
    got = {
        r.id: r.cum
        for r in with_global_cumsum(df, [F.col("id")], F.col("v"), "cum")
        .collect()
    }
    w = Window.orderBy("id").rowsBetween(Window.unboundedPreceding, 0)
    want = {
        r.id: r.cum
        for r in df.withColumn(
            "cum", F.sum("v").over(w).cast("long")
        ).collect()
    }
    assert got == want
    assert got[999] == 499  # carried prefix, NOT NULL
    assert got[500] == 499


def test_global_topk_matches_rank_filter_idiom(spark):
    """global_topk (r15): TakeOrdered top-k must equal the
    row_number-filter idiom on data with heavy duplicate keys (total
    order via tie-break), and the executed plan must contain
    TakeOrderedAndProject with NO full-input single-task window."""
    from hbase_hadoop_flightsearch_spark.operators.ranks import global_topk

    df = spark.range(20000).select(
        (F.col("id") % 37).alias("v"), F.col("id")
    )
    order = [F.desc("v"), F.col("id")]
    got = global_topk(df, order, 25, out="rn")
    w = Window.orderBy(*order)
    want = (
        df.withColumn("rn", F.row_number().over(w).cast("int"))
        .filter(F.col("rn") <= 25)
    )
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan, plan


TOPK_MIGRATED = [
    "agg_tail_index_hill",
    "text_zipf_slope",
    "text_collocations_llr",
    "diag_key_skew",
    "graph_hierarchy_rollup",
    "events_top_session_paths",
]


@pytest.mark.parametrize("name", TOPK_MIGRATED)
def test_topk_migrated_plans_use_take_ordered(spark, sf_correctness, name):
    """The r15 audit found Spark's InferWindowGroupLimit never fires for
    an EMPTY partitionSpec, so every 'row_number over unpartitioned
    window then filter <= K' top-k was a hidden single-task sort of an
    unbounded aggregate (orders / token vocabulary / bigram pairs / key
    counts / ancestor rollups / session paths). Pin the migrated plans:
    TakeOrderedAndProject present — the per-partition-heap top-k."""
    from hbase_hadoop_flightsearch_spark.plans.registry import load_all

    df = load_all()[name].fn(spark, sf_correctness)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan, f"{name}: no TakeOrdered\n{plan}"
