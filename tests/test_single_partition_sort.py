"""queries.single_partition_sort — the terminal-sort rewrite (r9
verdict item #1): plan shape, ordering preservation, LIMIT/no-sort
no-ops, and the corpus-size scale gate."""

import os

import citus_spark.queries as q


SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _agg_exchange_partitions(df) -> list[int]:
    """Partition count of every shuffle exchange fed by a (partial)
    hash aggregate, read from the executed plan's operator tree."""
    out = []
    stack = [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        name = node.getClass().getSimpleName()
        if name == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
        kids = node.children()
        stack.extend(kids.apply(i) for i in range(kids.size()))
        if name == "ShuffleExchangeExec":
            child = node.child()
            while child.getClass().getSimpleName() in (
                "WholeStageCodegenExec", "InputAdapter"
            ):
                child = child.child()
            if child.getClass().getSimpleName() == "HashAggregateExec":
                out.append(node.outputPartitioning().numPartitions())
    return out


def test_terminal_sort_agg_two_stage_plan(spark):
    # join-free Sort-over-Aggregate: the two-stage serial-final plan —
    # ONE hash exchange (1 partition, map-side combine preserved),
    # local sort fused into the final-agg stage; no terminal exchange,
    # no sampling pass.
    df = q.QUERIES["having_filter"](spark, SF)
    plan = _plan(df)
    assert "Exchange SinglePartition" not in plan
    assert "rangepartitioning" not in plan
    assert _agg_exchange_partitions(df) == [1]
    assert plan.count("Exchange") == 1
    # local (non-global) sort: printed as "Sort [...], false, 0"
    assert "], false, 0" in plan


def test_two_stage_rows_identical_to_stock(spark):
    q.load_views(spark, SF)
    for name in ("having_filter", "dedup_exact", "tpch_q1",
                 "topn_operator"):
        sql = q.ORACLES[name]
        stock = [tuple(r) for r in spark.sql(sql).collect()]
        rewritten = [
            tuple(r) for r in q.QUERIES[name](spark, SF).collect()
        ]
        assert rewritten == stock, name


def test_raw_row_window_below_agg_keeps_r10_form(spark):
    # sessionize: event-level Windows BELOW the aggregate — a
    # 1-partition plan would serialize the per-row window work, so it
    # must stay on the single-partition terminal sort form.
    df = q.QUERIES["sessionize_events"](spark, SF)
    plan = _plan(df)
    assert "Exchange SinglePartition" in plan
    assert "rangepartitioning" not in plan


def test_pre_partitioned_input_falls_back(spark):
    # An aggregate whose input is already hash-partitioned gets NO
    # exchange from the planner — conf can't narrow it to one
    # partition. The guard's "Repartition" token scan on the analyzed
    # tree must reject the two-stage form and fall back to the r10
    # single-partition sort.
    q.load_views(spark, SF)
    base = (
        spark.table("orders")
        .repartition(4, "o_custkey")
        .groupBy("o_custkey")
        .count()
        .orderBy("o_custkey")
    )
    out = q.single_partition_sort(spark, base, SF)
    plan = _plan(out)
    assert "Exchange SinglePartition" in plan
    rows = [tuple(r) for r in out.collect()]
    assert rows == sorted(rows)


def test_cached_pre_partitioned_fragment_falls_back(spark):
    # Cache substitution happens AFTER analysis, so a persisted
    # hash-partitioned intermediate is invisible to the analyzed-tree
    # token scan — the withCachedData check must catch it. Without it,
    # the InMemoryRelation's hash(k, 8) partitioning satisfies the
    # re-aggregate's distribution, the conf-1 exchange is elided, and
    # the local sort orders 8 partitions independently (wrong order).
    from pyspark.sql import functions as F

    q.load_views(spark, SF)
    inner = (
        spark.table("orders")
        .groupBy("o_custkey")
        .agg(F.sum("o_totalprice").alias("s"))
    )
    inner.cache()
    try:
        inner.count()  # materialize so substitution really fires
        base = (
            inner.groupBy("o_custkey")
            .agg(F.sum("s").alias("t"))
            .orderBy("o_custkey")
        )
        out = q.single_partition_sort(spark, base, SF)
        plan = _plan(out)
        assert "Exchange SinglePartition" in plan
        keys = [r[0] for r in out.collect()]
        assert keys == sorted(keys)
    finally:
        inner.unpersist()


def test_rows_and_order_identical_to_stock_sort(spark):
    q.load_views(spark, SF)
    sql = q.ORACLES["having_filter"]
    stock = [tuple(r) for r in spark.sql(sql).collect()]
    rewritten = [
        tuple(r) for r in q.QUERIES["having_filter"](spark, SF).collect()
    ]
    assert rewritten == stock


def test_limit_queries_keep_take_ordered(spark):
    df = q.QUERIES["tpch_q3"](spark, SF)  # terminal ORDER BY .. LIMIT
    plan = _plan(df)
    assert "TakeOrderedAndProject" in plan
    assert "Exchange SinglePartition" not in plan


def test_with_cte_top_sort_rewritten(spark):
    # q9's Spark side is a WithCTE-wrapped global Sort over an
    # aggregate. Since the r12 partsupp-predicate rewrite its CTE
    # subtree is broadcast-safe, so it takes the TWO-STAGE fold (the
    # aggregate's own 1-partition exchange + a local terminal sort)
    # rather than the r10 SinglePartition form this test used to pin:
    # no range-sampling exchange, no extra SinglePartition stage, and
    # the aggregate exchange lands everything in one partition.
    df = q.QUERIES["tpch_q9"](spark, SF)
    plan = _plan(df)
    assert "rangepartitioning" not in plan
    assert "Exchange SinglePartition" not in plan
    assert _agg_exchange_partitions(df) == [1]  # agg exchange → 1 part
    rows = [tuple(r) for r in df.collect()]
    keys = [(r[0], -r[1]) for r in rows]  # nation ASC, o_year DESC
    assert keys == sorted(keys)


def test_mid_corpus_low_cardinality_takes_fold(spark):
    # 32 MiB–256 MiB band with a PROVABLY small group count: the
    # cardinality-aware gate (r11 verdict item #5) keeps the two-stage
    # fold that the byte-only gate used to forfeit. having_filter
    # groups by o_custkey (NDV ≈ 150 at sf0.001, far under
    # _SERIAL_FINAL_MAX_GROUPS).
    key = os.path.abspath(SF)
    q.load_views(spark, SF)
    saved = q._CORPUS_BYTES.get(key)
    try:
        q._CORPUS_BYTES[key] = q._SERIAL_FINAL_MAX_BYTES
        df = q.single_partition_sort(
            spark, spark.sql(q.ORACLES["having_filter"]), SF
        )
        plan = _plan(df)
        assert "Exchange SinglePartition" not in plan
        assert "rangepartitioning" not in plan
        assert plan.count("Exchange") == 1
    finally:
        if saved is not None:
            q._CORPUS_BYTES[key] = saved


def test_mid_corpus_unknown_cardinality_keeps_single_partition_sort(spark):
    # 32 MiB–256 MiB band with an EXPRESSION grouping key: no provable
    # G bound, so the byte proxy governs and the r10 single-partition
    # sort replaces the range sort (the measured sf1 regression —
    # having_filter 0.47→2.44 s — is exactly what this protects).
    key = os.path.abspath(SF)
    q.load_views(spark, SF)
    saved = q._CORPUS_BYTES.get(key)
    try:
        q._CORPUS_BYTES[key] = q._SERIAL_FINAL_MAX_BYTES
        df = q.single_partition_sort(spark, spark.sql("""
            SELECT o_custkey % 7 AS k, count(*) AS n
            FROM orders GROUP BY o_custkey % 7 ORDER BY k
        """), SF)
        plan = _plan(df)
        assert "Exchange SinglePartition" in plan
        assert "rangepartitioning" not in plan
    finally:
        if saved is not None:
            q._CORPUS_BYTES[key] = saved


def test_small_corpus_high_cardinality_falls_back(spark):
    # A small corpus (passes the byte gate) whose grouping column has
    # a huge NDV: the r11 byte-only gate would have taken a 1-task
    # fold over millions of groups; the cardinality gate must reject
    # it. Simulated by priming the NDV cache with a 10 M-group column
    # on a 20 MiB corpus.
    key = os.path.abspath(SF)
    q.load_views(spark, SF)
    saved_bytes = q._CORPUS_BYTES.get(key)
    saved_ndv = q._NDV_CACHE.get((key, "o_custkey"))
    try:
        q._CORPUS_BYTES[key] = 20 << 20
        q._NDV_CACHE[(key, "o_custkey")] = 10_000_000
        df = q.single_partition_sort(
            spark, spark.sql(q.ORACLES["having_filter"]), SF
        )
        plan = _plan(df)
        assert "Exchange SinglePartition" in plan
        assert "rangepartitioning" not in plan
    finally:
        if saved_bytes is not None:
            q._CORPUS_BYTES[key] = saved_bytes
        if saved_ndv is not None:
            q._NDV_CACHE[(key, "o_custkey")] = saved_ndv
        else:
            q._NDV_CACHE.pop((key, "o_custkey"), None)


def test_large_corpus_keeps_range_sort(spark):
    # simulate a cluster-scale corpus: the gate reads _CORPUS_BYTES
    key = os.path.abspath(SF)
    q.load_views(spark, SF)
    saved = q._CORPUS_BYTES.get(key)
    try:
        q._CORPUS_BYTES[key] = q._AQE_MIN_BYTES
        df = q.single_partition_sort(
            spark, spark.sql(q.ORACLES["having_filter"]), SF
        )
        assert "rangepartitioning" in _plan(df)
    finally:
        if saved is not None:
            q._CORPUS_BYTES[key] = saved


def test_window_chain_collapses_to_one_exchange(spark):
    # A Window in the narrow chain (topn: row_number over the
    # aggregate's output, partitioned by a PREFIX of the group keys)
    # used to pay a second 1→1 exchange purely for its
    # ClusteredDistribution — HashPartitioning(groupKeys, 1) does not
    # satisfy ClusteredDistribution(windowKeys). The no-shuffle
    # Repartition(1) the rewrite inserts above the aggregate reports
    # SinglePartition (satisfies every distribution), so the window
    # fuses into the final-agg stage: ONE exchange total and the
    # WindowGroupLimit collapses to a single Final pass.
    df = q.QUERIES["topn_operator"](spark, SF)
    plan = _plan(df)
    assert plan.count("Exchange") == 1
    assert "Coalesce 1" in plan
    assert "rangepartitioning" not in plan
    assert "Exchange SinglePartition" not in plan
    assert plan.count("WindowGroupLimit") == 1


def test_windowless_chain_gets_no_coalesce(spark):
    # Without a Window in the chain there is no exchange to save —
    # the coalesce would only split the final-agg/sort codegen span,
    # so it must not be inserted.
    df = q.QUERIES["having_filter"](spark, SF)
    assert "Coalesce" not in _plan(df)


def test_satisfied_window_chain_gets_no_coalesce(spark):
    # r11 review finding #1: a chain Window whose partition keys COVER
    # the group keys is already satisfied by the aggregate's
    # HashPartitioning(groupKeys, 1) — EnsureRequirements inserts no
    # exchange, so the coalesce would only split the codegen span. The
    # precise trigger must skip it: one exchange, no Coalesce.
    q.load_views(spark, SF)
    df = q.single_partition_sort(spark, spark.sql("""
        SELECT o_custkey, o_orderpriority, count(*) AS cnt,
               rank() OVER (PARTITION BY o_custkey, o_orderpriority
                            ORDER BY count(*)) AS r
        FROM orders
        GROUP BY o_custkey, o_orderpriority
        ORDER BY o_custkey, o_orderpriority
    """), SF)
    plan = _plan(df)
    assert plan.count("Exchange") == 1
    assert "Coalesce" not in plan
    assert "rangepartitioning" not in plan
    rows = [tuple(r) for r in df.collect()]
    assert rows == sorted(rows, key=lambda t: (t[0], t[1]))


def test_unpartitioned_window_chain_gets_no_coalesce(spark):
    # Empty partitionSpec → AllTuples, which ANY 1-partition output
    # satisfies (Partitioning.satisfies0: numPartitions == 1). No
    # exchange is inserted, so no coalesce either.
    q.load_views(spark, SF)
    df = q.single_partition_sort(spark, spark.sql("""
        SELECT o_orderpriority, count(*) AS cnt,
               rank() OVER (ORDER BY count(*) DESC) AS r
        FROM orders
        GROUP BY o_orderpriority
        ORDER BY r, o_orderpriority
    """), SF)
    plan = _plan(df)
    assert plan.count("Exchange") == 1
    assert "Coalesce" not in plan


def test_cte_chain_window_takes_two_stage_plan(spark):
    # r11 review finding #2: under WithCTE the old guard token-scanned
    # the WHOLE wrapper, so a chain Window in a CTE query tripped the
    # 'Window' reject and fell back to the 2-exchange r10 form that
    # the identical non-CTE query avoids. The guard now scopes to the
    # below-aggregate subtree + CTE definitions: same one-exchange
    # collapsed plan as the non-CTE shape.
    q.load_views(spark, SF)
    sql = """
        WITH t AS (SELECT o_orderpriority AS pri, o_custkey AS ck
                   FROM orders)
        SELECT pri, ck, cnt FROM (
          SELECT pri, ck, count(*) AS cnt,
                 row_number() OVER (PARTITION BY pri
                                    ORDER BY count(*) DESC, ck) AS rn
          FROM t GROUP BY pri, ck) x
        WHERE rn <= 3
        ORDER BY pri, cnt DESC, ck
    """
    df = q.single_partition_sort(spark, spark.sql(sql), SF)
    plan = _plan(df)
    assert plan.count("Exchange") == 1
    assert "Coalesce 1" in plan
    assert "Exchange SinglePartition" not in plan
    # row/order parity against the stock plan
    stock = [tuple(r) for r in spark.sql(sql).collect()]
    assert [tuple(r) for r in df.collect()] == stock


def test_no_terminal_sort_is_untouched(spark):
    q.load_views(spark, SF)
    df = spark.sql("SELECT count(*) AS n FROM orders")
    out = q.single_partition_sort(spark, df, SF)
    assert out is df or _plan(out) == _plan(df)
