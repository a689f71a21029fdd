"""Distributed exact global-order primitives (VERDICT r10/r11 #1).

An unpartitioned ``Window.orderBy(...)`` is CORRECT in Spark but executes
behind an ``Exchange SinglePartition`` — every input row funnels through
ONE task, so the plan stops scaling the moment the ranked input is
fact-sized. At 100 TB that single task is the whole job. This module is
the shared replacement: exact global row numbers, running sums, and
NTILE buckets with NO single-task stage anywhere.

Construction (the classic two-pass distributed ranking):

1. Range bounds, once per call, at BUILD time: one driver-side action
   takes a bounded row-uniform sample of the order keys
   (``orderBy(rand(seed)).limit(20 * P)`` — about Spark's own
   RangePartitioner sample size per output partition, P =
   ``spark.sql.shuffle.partitions``), sorts it with the caller's order
   and keeps P-1 evenly spaced keys as LITERALS.
2. ``__gr_pid`` is a pure expression of each row's keys against those
   literals (a binary search of nested CASE WHENs that honours every
   order expression's direction and null ordering), so partition i's
   keys all sort before partition i+1's. Being a function of the row
   alone, every evaluation of the plan assigns the same pids whatever
   ReuseExchange or a recomputation does — the two branches below can
   never disagree, and no state outlives the query.
3. Branch A: per-partition local rank / running sum via
   ``Window.partitionBy(pid).orderBy(*order)`` — a hash exchange on pid
   (P parallel tasks), never a single-task sort.
4. Branch B: per-partition totals via ``groupBy(pid)`` (map-side partial
   agg, P-row shuffle), folded to exclusive prefix-sum offsets plus the
   grand total in ONE bounded Arrow batch (``coalesce(1).mapInPandas``
   over P rows — deliberately not a window, so no plan in this family
   ever contains a Window fed by Exchange SinglePartition).
5. ``global = local + broadcast offset[pid]``.

Cost at scale: one sample action over the input when the DataFrame is
BUILT (a per-partition top-20P heap, no shuffle of the input; a builder
that calls this primitive is therefore not lazy, and declares it), then
at execution two reads of the input (the window branch and the
partial-agg branch), one pid-hash exchange, one P-row broadcast. No
range exchange, no stored state. Bounds from a sample only decide how
evenly rows spread over the P partitions, never which global rank a row
gets. Skew caveat: equal keys share a pid, so a key holding a large
fraction of all rows bounds parallelism — give row_number/ntile a
high-cardinality tie-break column (every call site here does: doc_id /
event_id / o_orderkey).

The reference has no ranking operator anywhere (all three Main.java);
this primitive backs the nine SURVEY §2b plans that previously rode an
unpartitioned window (ml_eval_*, agg_histogram_equidepth,
sample_class_rebalance / _pps_systematic / _importance_dsir,
events_time_to_convert_pctl, pipeline_curriculum_stages).
"""

from __future__ import annotations

from collections.abc import Iterator, Sequence
from typing import TYPE_CHECKING

from pyspark import SparkContext
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, LongType, StructField, StructType

if TYPE_CHECKING:  # pragma: no cover
    import pandas as pd

_PID = "__gr_pid"
_N = "__gr_n"
_OFF = "__gr_off"
_TOT = "__gr_tot"
_LOC = "__gr_loc"
# Pass-through output name used by this module's OWN wrappers (lead /
# stage-split helpers) when they call the primitive internally. It lives
# OUTSIDE the reserved "__gr_" scratch namespace on purpose: the r15
# reservation check below rejects any "__gr_"-prefixed measure or input
# column, and must not reject the module's own wrappers.
_RN = "__grout_rn"
_CNT = "__gr_cnt"

# Sampled order keys per output partition (Spark's RangePartitioner
# default) and the fixed seed that makes the sample reproducible.
_SAMPLE_PER_PART = 20
_SAMPLE_SEED = 17


def _sort_keys(
    order_exprs: Sequence[Column],
) -> "list[tuple[Column, bool, bool]]":
    """(key, descending, nulls_first) per order expression. A sort order
    such as ``F.desc("x")`` is unwrapped to its child through the JVM
    column node; any other column sorts ascending, nulls first."""
    out = []
    for c in order_exprs:
        node = c._jc.node()
        if node.getClass().getSimpleName() != "SortOrder":
            out.append((c, False, True))
            continue
        key = Column(
            SparkContext._jvm.org.apache.spark.sql.Column(node.child())
        )
        out.append((
            key,
            node.sortDirection().getClass().getSimpleName() == "Descending$",
            node.nullOrdering().getClass().getSimpleName() == "NullsFirst$",
        ))
    return out


def _before(key: Column, b: "Column | None", desc: bool,
            nulls_first: bool) -> Column:
    """`key` sorts strictly before the literal `b` (None = NULL) under
    one order expression's direction and null ordering. Never NULL."""
    if b is None:
        return F.lit(False) if nulls_first else key.isNotNull()
    lt = key > b if desc else key < b
    return key.isNull() | lt if nulls_first else key.isNotNull() & lt


def _at_or_before(keys, bound: "list[Column | None]") -> Column:
    """The row's key tuple sorts at or before the literal tuple `bound`
    (lexicographic over the order expressions)."""
    cond = F.lit(True)
    for (key, desc, nulls_first), b in reversed(list(zip(keys, bound))):
        same = key.isNull() if b is None else key.eqNullSafe(b)
        cond = _before(key, b, desc, nulls_first) | (same & cond)
    return cond


def _pid_expr(keys, bounds, lo: int, hi: int) -> Column:
    """Partition id in [lo, hi]; bounds[j] is partition j's inclusive
    upper key tuple. A binary search: about log2(P) tuple comparisons
    per row, all against literals."""
    if lo == hi:
        return F.lit(lo)
    mid = (lo + hi) // 2
    return F.when(
        _at_or_before(keys, bounds[mid]), _pid_expr(keys, bounds, lo, mid)
    ).otherwise(_pid_expr(keys, bounds, mid + 1, hi))


def _range_bounds(
    df: DataFrame, order_exprs: Sequence[Column], keys, nparts: int
) -> "list[list[Column | None]]":
    """At most P-1 ascending literal key tuples splitting `df` into P
    ranges of about equal size: evenly spaced keys of a row-uniform
    sample of 20 keys per partition, sorted with the caller's order.
    Runs the sample as ONE Spark action from the driver, now."""
    sample = (
        df.orderBy(F.rand(_SAMPLE_SEED))
        .limit(_SAMPLE_PER_PART * nparts)
        .orderBy(*order_exprs)
        .select(*[k.alias(f"__gr_k{i}") for i, (k, _, _) in enumerate(keys)])
    )
    types = [f.dataType for f in sample.schema.fields]
    rows = [tuple(r) for r in sample.collect()]
    picked: "list[tuple]" = []
    for j in range(1, nparts if rows else 0):
        row = rows[j * len(rows) // nparts]
        if not picked or row != picked[-1]:
            picked.append(row)
    return [
        [None if v is None else F.lit(v).cast(t) for v, t in zip(row, types)]
        for row in picked
    ]


def _make_prefix_offsets(outs: Sequence[str]):
    """Build the multi-measure exclusive-prefix-sum fold and its schema:
    one (_OFF/_TOT) column pair per measure name in `outs`. The fold
    sees at most `shuffle.partitions` rows (one per range partition) in
    ONE bounded Arrow batch — a single task by construction
    (coalesce(1)), which is fine because its input is O(P)."""
    schema = StructType(
        [StructField(_PID, IntegerType(), False)]
        + [
            StructField(pre + out, LongType(), False)
            for out in outs
            for pre in (_OFF, _TOT)
        ]
    )

    def fold(batches: "Iterator[pd.DataFrame]") -> "Iterator[pd.DataFrame]":
        import pandas as pd

        frames = [b for b in batches if len(b)]
        if not frames:
            return
        df = pd.concat(frames).sort_values(_PID)
        cols = {_PID: df[_PID].astype("int32")}
        for out in outs:
            # defense in depth: the agg already coalesces NULL->0
            n = df[_N + out].fillna(0).astype("int64")
            cols[_OFF + out] = n.cumsum() - n
            cols[_TOT + out] = n.sum()
        yield pd.DataFrame(cols)

    return fold, schema


def with_global_order_stats(
    df: DataFrame,
    order_exprs: Sequence[Column],
    *,
    cumsums: "dict[str, Column] | None" = None,
    totals: "dict[str, Column] | None" = None,
    row_number: str | None = None,
) -> DataFrame:
    """The multi-measure engine behind every helper here: ONE sample
    action at build time (literal range bounds, see the module
    docstring) + ONE pid-hash window + ONE O(P)-row broadcast,
    producing any combination of

      - ``cumsums[out] = value``: SUM(value) OVER (ORDER BY *order ROWS
        UNBOUNDED PRECEDING) as long column `out` (inclusive running
        sum; exact when the order is total),
      - ``row_number = out``: ROW_NUMBER() OVER (ORDER BY *order),
      - ``totals[out] = value``: SUM(value) OVER () — the grand total,
        carried on the same P-row broadcast (zero extra passes).

    This exists because most call sites need SEVERAL of these at once
    (an ECDF needs the running count AND the grand count; a PR sweep
    needs running k, running tp, and total positives) — computing them
    through one shared range partitioning costs the same as computing
    one. All measure names must be distinct and absent from df.

    Not lazy: the range-bound sample runs as one Spark action when this
    is called, so the input is computed once more at build time."""
    cumsums = dict(cumsums or {})
    totals = dict(totals or {})
    # Validate ALL measure names together up front: a name shared
    # between any two measure families (or colliding with an input
    # column) would silently produce duplicate _N+out agg aliases or a
    # withColumn overwrite — wrong results, not an error (ADVICE r12).
    all_outs = (
        list(cumsums)
        + ([row_number] if row_number is not None else [])
        + list(totals)
    )
    if len(set(all_outs)) != len(all_outs):
        raise ValueError(f"duplicate measure name in {all_outs}")
    clash = set(all_outs) & set(df.columns)
    if clash:
        raise ValueError(f"measure names already in df: {sorted(clash)}")
    # The internal scratch columns are all "__gr_"-prefixed, and cumsum
    # measures additionally spawn derived "__gr_cnt<out>" siblings — a
    # user measure named into that namespace (e.g. '__gr_cntX' next to
    # cumsum 'X') would collide with a derived alias downstream of this
    # check and corrupt results silently (ADVICE r14). Reserve the
    # prefix outright; same for input columns, which ride the base
    # through the offset join.
    reserved = [c for c in all_outs + list(df.columns)
                if c.startswith("__gr_")]
    if reserved:
        raise ValueError(
            f"'__gr_' prefix is reserved for internal rank-primitive "
            f"columns: {sorted(reserved)}"
        )
    spark = df.sparkSession
    try:
        nparts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):
        nparts = 32
    order_exprs = list(order_exprs)
    # The pid is a pure function of the row's keys and the literal
    # bounds, so both branches below (and any recomputation) agree on it
    # whatever the upstream row order.
    keys = _sort_keys(order_exprs)
    bounds = _range_bounds(df, order_exprs, keys, nparts)
    base = df.withColumn(
        _PID, _pid_expr(keys, bounds, 0, len(bounds)).cast("int")
    )
    w = Window.partitionBy(_PID).orderBy(*order_exprs)
    w_cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)

    measures: list[tuple[str, Column]] = []  # (out, per-partition agg)
    local = base
    for out, v in cumsums.items():
        local = local.withColumn(
            _LOC + out, F.sum(v).over(w_cum).cast("long")
        )
        # Running NON-NULL count rides along so the final expression can
        # reproduce the built-in window exactly when NULLs trail data:
        # an all-NULL local prefix in a LATER partition must emit the
        # carried global prefix sum (coalesce(local,0)+offset), not NULL
        # — NULL is only correct while the GLOBAL prefix has seen zero
        # non-null values (ADVICE r13).
        local = local.withColumn(
            _LOC + _CNT + out, F.count(v).over(w_cum).cast("long")
        )
        measures.append((out, F.sum(v)))
        measures.append((_CNT + out, F.count(v)))
    if row_number is not None:
        local = local.withColumn(
            _LOC + row_number, F.row_number().over(w).cast("long")
        )
        measures.append((row_number, F.count(F.lit(1))))
    for out, v in totals.items():
        measures.append((out, F.sum(v)))

    # Coalesce each per-partition agg to 0: F.sum over an all-NULL
    # partition returns NULL, which would reach the Arrow fold as NaN
    # and crash the int64 astype. SUM-over-NULLs-as-0 is exactly the
    # exclusive-prefix semantics the offsets need (ADVICE r12).
    counts = base.groupBy(_PID).agg(
        *[
            F.coalesce(m.cast("long"), F.lit(0)).alias(_N + out)
            for out, m in measures
        ]
    )
    fold, schema = _make_prefix_offsets([out for out, _ in measures])
    offsets = counts.coalesce(1).mapInPandas(fold, schema)
    res = local.join(F.broadcast(offsets), _PID, "inner")

    drop = [_PID]
    for out in cumsums:
        res = res.withColumn(
            out,
            F.when(
                F.col(_LOC + _CNT + out) + F.col(_OFF + _CNT + out) > 0,
                F.coalesce(F.col(_LOC + out), F.lit(0))
                + F.col(_OFF + out),
            ).cast("long"),
        )
        drop += [
            _LOC + out, _OFF + out, _TOT + out,
            _LOC + _CNT + out, _OFF + _CNT + out, _TOT + _CNT + out,
        ]
    if row_number is not None:
        res = res.withColumn(
            row_number,
            (F.col(_LOC + row_number) + F.col(_OFF + row_number)).cast(
                "long"
            ),
        )
        drop += [_LOC + row_number, _OFF + row_number, _TOT + row_number]
    for out in totals:
        res = res.withColumn(out, F.col(_TOT + out))
        drop += [_OFF + out, _TOT + out]
    return res.drop(*drop)


def with_global_lead(
    df: DataFrame,
    order_exprs: Sequence[Column],
    cols: "dict[str, str]",
) -> DataFrame:
    """LEAD(src, 1) OVER (ORDER BY *order_exprs) for each `out -> src`
    in cols, with no single-task stage: the distributed global row
    number keys an equi self-join on rn+1 (rn is unique and dense, so
    the join shuffle is perfectly balanced — no boundary-row special
    cases, empty range partitions included). The last row gets NULLs,
    exactly the built-in default. Costs one extra hash shuffle over
    the window form — the price of never funnelling through one task."""
    rn = with_global_row_number(df, order_exprs, out=_RN)
    nxt = rn.select(
        (F.col(_RN) - 1).alias(_RN),
        *[F.col(src).alias(out) for out, src in cols.items()],
    )
    return rn.join(nxt, _RN, "left").drop(_RN)


def with_global_row_number(
    df: DataFrame,
    order_exprs: Sequence[Column],
    out: str = "rn",
    total_col: str | None = None,
) -> DataFrame:
    """ROW_NUMBER() OVER (ORDER BY *order_exprs) as a long column `out`,
    computed with no single-task stage. Exactly the built-in semantics:
    ties (if the order is not total) are broken arbitrarily but rows
    with distinct keys rank exactly. `total_col` optionally attaches
    COUNT(*) OVER () (the same broadcast, zero extra passes)."""
    return with_global_order_stats(
        df,
        order_exprs,
        row_number=out,
        totals={total_col: F.lit(1)} if total_col is not None else None,
    )


def global_topk(
    df: DataFrame,
    order_exprs: Sequence[Column],
    k: int,
    out: str = "rn",
) -> DataFrame:
    """The global TOP-K rows under *order_exprs* with their 1-based rank
    `out` — WITHOUT a full-data single-task window.

    The natural Spark idiom — ``row_number().over(Window.orderBy(...))``
    then ``filter(rn <= k)`` — does NOT get the optimizer's
    InferWindowGroupLimit rewrite when the partitionSpec is EMPTY
    (verified on this build, r15: the rank filter stays a plain Filter
    above a full WindowExec, which plans Exchange SinglePartition + a
    sort of EVERY input row — the r14 single-task class, hidden behind
    a top-k that LOOKS bounded). ``orderBy().limit(k)`` instead plans
    TakeOrderedAndProject: a bounded per-partition heap + driver-side
    merge, O(n log k) work, no data shuffle. The row_number that
    follows runs over k rows — the documented bounded-window class.

    The order must be TOTAL (include a tie-break column); otherwise the
    boundary rows of the k-th tie class are chosen arbitrarily — same
    caveat as the filter idiom, stated instead of implied."""
    limited = df.orderBy(*order_exprs).limit(k)
    w = Window.orderBy(*order_exprs)
    return limited.withColumn(out, F.row_number().over(w).cast("int"))


def with_global_cumsum(
    df: DataFrame,
    order_exprs: Sequence[Column],
    value: Column,
    out: str = "cum",
    total_col: str | None = None,
) -> DataFrame:
    """SUM(value) OVER (ORDER BY *order_exprs ROWS UNBOUNDED PRECEDING
    TO CURRENT ROW) — the inclusive running sum in exact longs —
    distributed the same way. `total_col` attaches SUM(value) OVER ()
    from the same broadcast (no extra full-frame window, no extra
    pass). The order should be total if per-row values must be exact
    (ties within the local window are summed in window order)."""
    return with_global_order_stats(
        df,
        order_exprs,
        cumsums={out: value},
        totals={total_col: value} if total_col is not None else None,
    )


def with_global_ntile(
    df: DataFrame,
    order_exprs: Sequence[Column],
    n_buckets: int,
    out: str = "bucket",
) -> DataFrame:
    """NTILE(n_buckets) OVER (ORDER BY *order_exprs) as an int column
    `out`. Standard SQL semantics, derived in closed form from the
    distributed row number rn and total n: with q = n div B and
    r = n mod B, the first r buckets hold q+1 rows —
      rn <= r*(q+1):  bucket = (rn-1) div (q+1) + 1
      otherwise:      bucket = r + (rn-1-r*(q+1)) div q + 1
    (matches both Spark's and DuckDB's NTILE; when n < B the first
    branch always applies, so the q=0 division is unreachable)."""
    b = int(n_buckets)
    tot = _RN + "_tot"  # distinct from the engine's internal _TOT aliases
    res = with_global_row_number(df, order_exprs, out=_RN, total_col=tot)
    q = f"({tot} div {b})"
    r = f"({tot} % {b})"
    cut = f"({r} * ({q} + 1))"
    res = res.withColumn(
        out,
        F.expr(
            f"CAST(CASE WHEN {_RN} <= {cut}"
            f" THEN ({_RN} - 1) div ({q} + 1) + 1"
            f" ELSE {r} + ({_RN} - 1 - {cut}) div {q} + 1"
            f" END AS INT)"
        ),
    )
    return res.drop(_RN, tot)
