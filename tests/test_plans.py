"""Physical-plan quality gates: the properties that make the engine viable
at 100 TB — predicate pushdown and column pruning reaching the parquet
scan, broadcast joins for dimension tables, semi/anti joins for
EXISTS/NOT EXISTS — asserted against ``explain`` output so regressions
fail loudly instead of silently shuffling terabytes."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pangeo_forge_recipes_spark.plans import explain_string, plan_audit

SF_DIR = "/root/testdata/sf0.001"


def _formatted_plan(df) -> str:
    return explain_string(df, "formatted")


def _simple_plan(df) -> str:
    return explain_string(df, "simple")


def _count_exchanges(plan: str) -> int:
    """Exchange nodes of a simple plan, each counted once: a materialized
    adaptive plan (e.g. a cached table's, nested in ``InMemoryRelation``)
    prints its exchanges under both ``== Final Plan ==`` and ``== Initial
    Plan ==``, so the initial-plan sections are skipped."""
    n, skip = 0, None
    for line in plan.splitlines():
        indent = len(line) - len(line.lstrip(" +-:"))
        if skip is not None and indent >= skip:
            continue
        skip = None
        if "== Initial Plan ==" in line:
            skip = indent
        else:
            n += line.count("Exchange")
    return n


@pytest.fixture(scope="module")
def tables(spark):
    # plain parquet reads (no caching) so plans show true scan behavior
    out = {}
    for t in ["lineitem", "orders", "customer", "nation", "region", "supplier"]:
        out[t] = spark.read.parquet(f"{SF_DIR}/{t}.parquet")
    return out


def test_filter_pushdown_reaches_parquet_scan(tables):
    df = tables["lineitem"].filter(
        (F.col("l_discount") >= 0.05) & (F.col("l_quantity") < 24)
    ).select("l_extendedprice")
    plan = _formatted_plan(df)
    assert "PushedFilters" in plan
    assert "GreaterThanOrEqual(l_discount,0.05)" in plan
    assert "LessThan(l_quantity,24.0)" in plan


def test_column_pruning_reaches_parquet_scan(tables):
    df = tables["lineitem"].select("l_orderkey", "l_quantity")
    plan = _formatted_plan(df)
    # ReadSchema must carry only the projected columns, not all 11
    read_schema = next(l for l in plan.splitlines() if "ReadSchema" in l)
    assert "l_orderkey" in read_schema and "l_quantity" in read_schema
    assert "l_extendedprice" not in read_schema
    assert "l_shipdate" not in read_schema


def test_dim_joins_broadcast_not_shuffle(tables):
    df = (
        tables["lineitem"]
        .join(tables["supplier"], F.col("l_suppkey") == F.col("s_suppkey"))
        .join(tables["nation"], F.col("s_nationkey") == F.col("n_nationkey"))
        .join(tables["region"], F.col("n_regionkey") == F.col("r_regionkey"))
        .filter(F.col("r_name") == "ASIA")
        .groupBy("n_name")
        .agg(F.sum("l_extendedprice").alias("rev"))
    )
    audit = plan_audit(df)
    assert audit["broadcast_hash_joins"] == 3
    assert audit["sort_merge_joins"] == 0
    # the dim filter is pushed into the region scan, not evaluated post-join
    assert "EqualTo(r_name,ASIA)" in audit["pushed_filters"]


def test_exists_plans_as_left_semi(tables):
    inner = tables["lineitem"].select("l_orderkey").distinct()
    df = tables["orders"].join(
        inner, F.col("o_orderkey") == F.col("l_orderkey"), "left_semi"
    )
    plan = _formatted_plan(df)
    assert "LeftSemi" in plan


def test_not_exists_plans_as_left_anti(spark, tables):
    tables["orders"].createOrReplaceTempView("_plan_orders")
    tables["customer"].createOrReplaceTempView("_plan_customer")
    df = spark.sql(
        """
        SELECT c_custkey FROM _plan_customer
        WHERE NOT EXISTS (
          SELECT 1 FROM _plan_orders WHERE o_custkey = c_custkey
        )
        """
    )
    plan = _formatted_plan(df)
    assert "LeftAnti" in plan
    assert "SortMergeJoin" not in plan or "BroadcastHashJoin" in plan


def test_single_shuffle_for_aggregation(tables):
    df = tables["lineitem"].groupBy("l_returnflag").agg(
        F.sum("l_quantity").alias("q")
    )
    plan = _simple_plan(df)
    # partial (map-side) + final agg around exactly one exchange
    assert plan.count("Exchange") == 1
    assert plan.count("HashAggregate") == 2


def test_text_expressions_stay_jvm_side(spark):
    """The sampling split and quality scores are pure built-in SQL
    expressions — no Python evaluation node may appear in the plan."""
    from pangeo_forge_recipes_spark.operators.text import with_quality, with_split

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = _simple_plan(with_split(with_quality(docs)))
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert "mapInPandas" not in plan


def test_salted_join_has_no_nested_loop(spark, tables):
    """With broadcasting disabled (the worst case salting targets), the
    salted join must still be an equi-join on (key, salt) — never a
    BroadcastNestedLoopJoin or CartesianProduct."""
    from pangeo_forge_recipes_spark.operators.skew import salted_join

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = salted_join(
            tables["orders"].withColumnRenamed("o_custkey", "c_custkey"),
            tables["customer"].select("c_custkey", "c_mktsegment"),
            on="c_custkey",
            salt=8,
        )
        plan = _simple_plan(joined)
        assert "NestedLoop" not in plan and "CartesianProduct" not in plan
        audit = plan_audit(joined)
        assert audit["sort_merge_joins"] + audit["shuffled_hash_joins"] == 1
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_global_sort_uses_range_partitioning(tables):
    df = tables["orders"].orderBy("o_orderdate")
    plan = _formatted_plan(df)
    assert "rangepartitioning" in plan.lower()


def test_bucketed_join_skips_shuffle(spark, tables):
    """Pre-bucketed tables on the join key let a big-big join run with NO
    exchange on either side — the co-location strategy for repeated
    fact-fact joins at scale (bucket pruning + sorted scans feed the
    SortMergeJoin directly)."""
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        (tables["lineitem"].write.mode("overwrite")
         .bucketBy(4, "l_orderkey").sortBy("l_orderkey")
         .saveAsTable("b_lineitem"))
        (tables["orders"].write.mode("overwrite")
         .bucketBy(4, "o_orderkey").sortBy("o_orderkey")
         .saveAsTable("b_orders"))
        joined = spark.table("b_lineitem").join(
            spark.table("b_orders"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        audit = plan_audit(joined)
        assert audit["sort_merge_joins"] == 1
        assert audit["exchanges"] == 0, audit
        # contrast: the same join on plain parquet shuffles both sides
        plain = tables["lineitem"].join(
            tables["orders"], F.col("l_orderkey") == F.col("o_orderkey")
        )
        assert plan_audit(plain)["exchanges"] >= 2
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS b_lineitem")
        spark.sql("DROP TABLE IF EXISTS b_orders")


def test_round5_driver_query_plan_shapes(spark):
    """Plan gates for the round-5 rotated driver queries: url_dedup is
    ONE shuffle (the window on the canonical key — no groupBy+join
    pair), bpe_tokenize is map-only (broadcast merge ranks), and
    dedup_lines' corpus side anti-joins the frequent set as a broadcast
    (the corpus never shuffles for the join)."""
    import __spark_entry__ as entrymod

    entrymod._register(spark, SF_DIR)

    url_plan = _simple_plan(entrymod._url_dedup_q(spark, SF_DIR))
    # ONE row_number window on the canonical key; Spark's WindowGroupLimit
    # keeps only the per-key top-1 BEFORE the shuffle (partial+final), so
    # the exchange moves one row per canonical URL — no groupBy+join pair
    assert url_plan.count("Window [row_number()") == 1
    assert "WindowGroupLimit" in url_plan
    assert "HashAggregate" not in url_plan
    assert "SortMergeJoin" not in url_plan
    # at most the cache-spread repartition + the window shuffle, also once
    # another query has materialized the cached spread table
    assert _count_exchanges(url_plan) <= 2
    entrymod.queries()["resize_images"](spark, SF_DIR).collect()
    url_plan = _simple_plan(entrymod._url_dedup_q(spark, SF_DIR))
    assert _count_exchanges(url_plan) <= 2

    # map-only modulo the cache-spread repartition (REPARTITION_BY_NUM);
    # the computation itself requires no shuffle
    bpe_plan = _simple_plan(entrymod._bpe_tokenize_q(spark, SF_DIR))
    assert "ENSURE_REQUIREMENTS" not in bpe_plan

    lines_plan = _simple_plan(entrymod._dedup_lines_q(spark, SF_DIR))
    assert "BroadcastHashJoin" in lines_plan


def test_rollup_hierarchy_matches_duckdb(spark):
    """ROLLUP (subtotals + grand total) value-parity against DuckDB — kept
    here since the graded battery covers hierarchies via GROUPING SETS."""
    import duckdb

    sql = """
SELECT event_type, CAST(CAST(ts AS DATE) AS VARCHAR(10)) AS day,
       COUNT(*) AS n,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM events
GROUP BY ROLLUP (event_type, CAST(CAST(ts AS DATE) AS VARCHAR(10)))
ORDER BY event_type ASC NULLS FIRST, day ASC NULLS FIRST
""".strip()
    import __spark_entry__ as entrymod

    entrymod._register(spark, SF_DIR)
    got = [
        (r[0], r[1], r[2], round(r[3], 6)) for r in spark.sql(sql).collect()
    ]
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{SF_DIR}/events.parquet')"
    )
    want = [(r[0], r[1], r[2], round(r[3], 6)) for r in con.execute(sql).fetchall()]
    assert got == want


def test_round6_driver_query_plan_shapes(spark):
    """Plan gates for the round-6 second-pass rotations: c4_clean and
    scrub_pii are map-only JVM SQL (no exchange beyond the cache-spread
    repartition, no Python eval), and ann_pq_topk's scoring stage is one
    Arrow-batched pass over the corpus (broadcast codes, no join)."""
    import __spark_entry__ as entrymod

    entrymod._register(spark, SF_DIR)

    c4_plan = _simple_plan(entrymod._c4_clean_q(spark, SF_DIR))
    pii_plan = _simple_plan(entrymod._scrub_pii_q(spark, SF_DIR))
    for plan in (c4_plan, pii_plan):
        assert "ENSURE_REQUIREMENTS" not in plan  # map-only computation
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan

    # pq_topk self-search: the corpus encodes to m=8 4-bit codes against
    # the pinned codebooks, then every query scores against the byte codes
    import numpy as np

    from pangeo_forge_recipes_spark.operators.similarity import pq_topk

    books = np.array(entrymod._PQ_CODEBOOKS, dtype=np.float64)
    pq = pq_topk(spark.table("embeddings"), k=entrymod._PQ_K, codebooks=books)
    pq_plan = _simple_plan(pq)
    assert "Join" not in pq_plan  # broadcast codes, never a join
