"""Physical-plan shape assertions — the 100 TB-readiness checks.

The reference gets pushdown/pruning by construction (read_fls.cpp:9-11,
fls_reader.cpp:560-613); Spark gets them from Catalyst — these tests pin that
the declared queries actually produce the plans we rely on at scale:
pushed filters, pruned read schemas, broadcast joins where expected, partial
aggregation, and no Python UDFs in JVM-only paths.
"""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from duckdb_fastlanes_spark.catalog import table
from duckdb_fastlanes_spark.plans.checks import (
    explain_str,
    pushed_filters,
    read_schema_columns,
    wholestage_codegen_spans,
)
from tests.conftest import SF_DIR


def test_projection_pushdown_reads_only_selected_columns(spark):
    """Reference A4: a 2-column projection must scan exactly 2 columns."""
    df = table(spark, SF_DIR, "lineitem").select("l_orderkey", "l_linenumber")
    assert set(read_schema_columns(df)) == {"l_orderkey", "l_linenumber"}


def test_filter_pushdown_reaches_parquet(spark):
    """Reference A5/A7: range filters must appear in PushedFilters (zone-map
    row-group skipping happens inside the parquet reader from these)."""
    df = table(spark, SF_DIR, "lineitem").filter(
        (F.col("l_quantity") >= 45) & (F.col("l_extendedprice") < 10000.0)
    )
    pushed = " ".join(pushed_filters(df))
    assert "l_quantity" in pushed
    assert "l_extendedprice" in pushed


def test_broadcast_join_for_dims(spark):
    """Star joins must broadcast the dimension side — no fact shuffle."""
    c = table(spark, SF_DIR, "customer")
    n = F.broadcast(table(spark, SF_DIR, "nation"))
    plan = explain_str(c.join(n, c.c_nationkey == n.n_nationkey), "simple")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_q1_uses_partial_aggregation(spark):
    """Q1 must partial-aggregate before the shuffle (map-side combine):
    two HashAggregate nodes with a narrow exchange between them."""
    from duckdb_fastlanes_spark.operators.tpch import tpch_q1

    plan = explain_str(tpch_q1(spark, SF_DIR), "simple")
    assert plan.count("HashAggregate") >= 2
    assert "BatchScan" in plan or "FileScan" in plan


def test_no_python_udf_in_jvm_paths(spark):
    """Text-analysis ops must stay JVM-side (no BatchEvalPython/ArrowEvalPython
    in the plan) — UDFs are the slow path."""
    from duckdb_fastlanes_spark.pipeline.text import text_quality_score

    plan = explain_str(text_quality_score(spark, SF_DIR), "simple")
    assert "EvalPython" not in plan


def test_topk_is_take_ordered(spark):
    """orderBy().limit(k) must plan as TakeOrderedAndProject, not a global sort."""
    from duckdb_fastlanes_spark.operators.tpch import topk_orders

    plan = explain_str(topk_orders(spark, SF_DIR), "simple")
    assert "TakeOrderedAndProject" in plan


def test_scan_has_codegen(spark):
    """The hot scan→filter→agg path must be inside WholeStageCodegen."""
    from duckdb_fastlanes_spark.operators.tpch import tpch_q1

    assert wholestage_codegen_spans(tpch_q1(spark, SF_DIR)) >= 1


def test_minhash_has_no_cartesian_product(spark):
    """LSH candidate generation must be an equi-join on band keys — a
    CartesianProduct/BroadcastNestedLoop here would be the n² trap at scale."""
    from duckdb_fastlanes_spark.pipeline.dedup import dedup_minhash_lsh

    plan = explain_str(dedup_minhash_lsh(spark, SF_DIR), "simple")
    assert "CartesianProduct" not in plan


def test_q19_disjunctive_predicate_splits_per_side(spark):
    """Q19's OR-of-ANDs must decompose into per-side pushed filters:
    quantity bands reach the lineitem scan, brand/size reach the part scan —
    at 100 TB this is the difference between scanning 2 columns' worth of
    matching row groups and scanning everything."""
    from duckdb_fastlanes_spark.registry import queries

    plan = explain_str(queries()["tpch_q19"](spark, SF_DIR))
    pushed_blocks = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
    assert any("l_quantity" in b for b in pushed_blocks)
    assert any("p_brand" in b and "p_size" in b for b in pushed_blocks)


def test_q5_star_join_broadcasts_dims(spark):
    """Q5's six-way star join must broadcast the dimension tables (region,
    nation at minimum) and never degenerate into a cartesian product."""
    from duckdb_fastlanes_spark.registry import queries

    plan = explain_str(queries()["tpch_q5"](spark, SF_DIR), "simple")
    assert plan.count("BroadcastHashJoin") >= 2
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_multifile_scan_parallel_equivalence(spark, tmp_path):
    """A13 at scale shape: the same query over a 16-file layout must (a) plan
    >1 input partition — the per-file/row-group parallelism the reference
    gets from its atomic row-group counter — and (b) produce identical
    results to the single-file scan."""
    from duckdb_fastlanes_spark.operators.tpch import tpch_q1

    li = table(spark, SF_DIR, "lineitem")
    multi = str(tmp_path / "lineitem_16")
    li.repartition(16).write.parquet(multi)

    multi_df = spark.read.parquet(multi)
    assert multi_df.rdd.getNumPartitions() > 1

    single = {tuple(r) for r in tpch_q1(spark, SF_DIR).collect()}
    multi_dir = str(tmp_path)  # catalog layout: <dir>/lineitem.parquet
    import shutil

    shutil.move(multi, f"{tmp_path}/lineitem.parquet")
    got = {tuple(r) for r in tpch_q1(spark, multi_dir).collect()}
    assert got == single


def test_query_progress_reports_task_completion(spark):
    """A14 parity: progress (completed/total tasks) is observable while a
    query runs and reaches a sane terminal state."""
    from duckdb_fastlanes_spark.catalog import table
    from duckdb_fastlanes_spark.plans.progress import QueryProgress
    from pyspark.sql import functions as F
    from tests.conftest import SF_DIR_MULTI

    li = table(spark, SF_DIR_MULTI, "lineitem")
    # The poller races the job: a run that finishes inside one poll interval
    # legitimately yields no active-stage sample. Grow the work until the
    # poller catches it in flight (bounded retries keep the test fast on the
    # common path where the first attempt already observes progress).
    qp = None
    for n_part in (64, 256, 1024):
        work = (
            li.repartition(n_part)
            .groupBy("l_returnflag")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        with QueryProgress(spark, interval_s=0.005) as qp:
            work.collect()
        if qp.saw_work and qp.max_percent > 0.0:
            break
    assert qp is not None and qp.snapshots, "poller never sampled"
    assert qp.saw_work, "no active stage observed during execution"
    assert 0.0 < qp.max_percent <= 100.0
    # percent is monotone-ish per stage set; terminal snapshot sane
    assert qp.snapshots[-1].completed_tasks <= qp.snapshots[-1].total_tasks or qp.snapshots[-1].total_tasks == 0


def test_parquet_aggregate_pushdown_v2(spark, tmp_path):
    """count/min/max can be answered from parquet footer statistics alone
    (DuckDB's metadata fast path; reference zone-map stats,
    row_group_statistics.cpp). Spark's V2 parquet source supports it behind
    spark.sql.parquet.aggregatePushdown (set in session.py) — the default V1
    path doesn't, so this pins the capability on an explicit V2 read: the
    scan must report PushedAggregation and return correct values."""
    src = table(spark, SF_DIR, "lineitem").select("l_orderkey", "l_quantity")
    p = str(tmp_path / "li_agg")
    src.write.parquet(p)
    old = spark.conf.get("spark.sql.sources.useV1SourceList")
    spark.conf.set("spark.sql.sources.useV1SourceList", "")
    try:
        df = spark.read.parquet(p).agg(
            F.count(F.lit(1)).alias("n"),
            F.min("l_orderkey").alias("min_k"),
            F.max("l_orderkey").alias("max_k"),
        )
        plan = explain_str(df)
        assert "PushedAggregation: [COUNT(*)" in plan or "PushedAggregation" in plan, plan
        row = df.collect()[0]
        exp = src.agg(
            F.count(F.lit(1)), F.min("l_orderkey"), F.max("l_orderkey")
        ).collect()[0]
        assert tuple(row) == tuple(exp)
    finally:
        spark.conf.set("spark.sql.sources.useV1SourceList", old)


def test_grouped_distribution_window_sorts_within_hash_partitions(spark):
    """window_distribution_grouped is the scale-correct distribution-window
    form: the Window's required ordering must be satisfied by per-partition
    sorts AFTER a hashpartitioning exchange on the group key — never by a
    SinglePartition exchange (the global form's funnel)."""
    from duckdb_fastlanes_spark.operators.relational_ext2 import (
        window_distribution_grouped,
    )

    df = window_distribution_grouped(spark, SF_DIR)
    plan = explain_str(df, "formatted")
    assert "Window" in plan
    # the exchange feeding the Window hashes on the partition key ...
    assert re.search(r"hashpartitioning\(s_nationkey", plan)
    # ... and nothing in the pre-Window pipeline collapses to one partition
    # (the final presentation ORDER BY is a range exchange, which is fine)
    window_prefix = plan.split("Window")[0]
    assert "SinglePartition" not in window_prefix


def test_scalable_global_distribution_window_has_no_single_partition(spark):
    """window_distribution_scalable computes a GLOBAL percent_rank/cume_dist
    with the two-pass range-partition + offset pattern: its Window must be
    partitioned by spark_partition_id (parallel local ranks) and NOTHING in
    the pre-Window pipeline may collapse to a SinglePartition exchange —
    the exact funnel the plain global form pays. Values must equal the
    single-partition sibling exactly."""
    from duckdb_fastlanes_spark.operators.relational_ext2 import (
        window_distribution,
        window_distribution_scalable,
    )

    df = window_distribution_scalable(spark, SF_DIR)
    plan = explain_str(df, "formatted")
    assert "Window" in plan
    window_prefix = plan.split("Window")[0]
    assert "SinglePartition" not in window_prefix
    assert re.search(r"SPARK_PARTITION_ID|spark_partition_id", plan)
    got = [tuple(r) for r in df.collect()]
    expect = [tuple(r) for r in window_distribution(spark, SF_DIR).collect()]
    assert got == expect


def test_installed_stats_flip_join_strategy(spark):
    """Reference A10/A11 realized end-to-end: install_stats feeds per-column
    statistics into the catalog (the Spark twin of the reference merging
    row-group column stats / explicit_cardinality into its planner,
    fls_reader.cpp:244-292, fls_multi_file_info.cpp:152-164), and the CBO
    plans from them — a filtered build side whose RAW file size exceeds the
    broadcast threshold is correctly re-estimated below it and broadcast.
    Three legs isolate the cause: no CBO → SMJ (file-size estimate); CBO
    without ANALYZE → still SMJ (no stats to estimate with); CBO + stats →
    BHJ."""
    from duckdb_fastlanes_spark.catalog import install_stats

    rows = install_stats(spark, SF_DIR, tables=("customer", "orders"))
    assert rows == {"customer": 150, "orders": 1500}
    # control: same files as catalog tables WITHOUT column statistics
    spark.sql("CREATE DATABASE IF NOT EXISTS dfs_nostats")
    for t in ("customer", "orders"):
        spark.sql(f"DROP TABLE IF EXISTS dfs_nostats.{t}")
        spark.sql(
            f"CREATE TABLE dfs_nostats.{t} USING parquet"
            f" LOCATION '{SF_DIR}/{t}.parquet'"
        )

    saved = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.cbo.enabled",
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.enabled",
        )
    }

    def join_plan(cbo: bool, db: str) -> str:
        spark.conf.set("spark.sql.cbo.enabled", str(cbo).lower())
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "1024")
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        o = spark.table(f"{db}.orders")
        c = spark.table(f"{db}.customer").filter(F.col("c_custkey") < 10)
        j = o.join(c, o.o_custkey == c.c_custkey).select("o_orderkey", "c_name")
        return explain_str(j, "simple")

    try:
        no_cbo = join_plan(False, "dfs_stats")
        cbo_no_stats = join_plan(True, "dfs_nostats")
        cbo_stats = join_plan(True, "dfs_stats")
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    assert "SortMergeJoin" in no_cbo and "BroadcastHashJoin" not in no_cbo
    assert "SortMergeJoin" in cbo_no_stats and "BroadcastHashJoin" not in cbo_no_stats
    assert "BroadcastHashJoin" in cbo_stats and "SortMergeJoin" not in cbo_stats


def test_explicit_cardinality_flips_join_strategy(spark):
    """The reference's per-read explicit_cardinality hint
    (fls_multi_file_info.cpp:152-164) realized end-to-end: a read_fls scan
    carrying the hint plans joins from the HINTED cardinality, not the
    file's size. Same file, same join, same thresholds — without the hint
    the build side's file size exceeds the broadcast threshold (SMJ); with
    explicit_cardinality=5 the rescaled statistics fall below it (BHJ)."""
    from duckdb_fastlanes_spark.io.fls import read_fls

    path = f"{SF_DIR}/customer.parquet"
    saved = {
        k: spark.conf.get(k, None)
        for k in ("spark.sql.autoBroadcastJoinThreshold", "spark.sql.adaptive.enabled")
    }
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "1024")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        o = spark.read.parquet(f"{SF_DIR}/orders.parquet")
        plain = read_fls(spark, path)
        hinted = read_fls(spark, path, explicit_cardinality=5)

        def plan(c):
            j = o.join(c, o.o_custkey == c.c_custkey).select("o_orderkey", "c_name")
            return explain_str(j, "simple")

        p_plain, p_hinted = plan(plain), plan(hinted)
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    assert "SortMergeJoin" in p_plain and "BroadcastHashJoin" not in p_plain
    assert "BroadcastHashJoin" in p_hinted and "SortMergeJoin" not in p_hinted
    # the hint changes PLANNING only, never results
    assert hinted.count() == plain.count()


def test_wedge_sampling_before_shuffle(spark):
    """The r3 degree-capped wedge path must SAMPLE before it SHUFFLES: the
    md5 hash-uniform keep predicate (q = CAP/deg) has to sit below the
    hashpartitioning(dst) exchanges that feed the wedge self-join, so only
    kept edges — ~min(deg, CAP) per neighbor — ever cross the network. If
    the filter migrated above the exchange (or into the post-join stage),
    a deg-10^5 hub would shuffle 5x10^9 raw wedges at scale."""
    from duckdb_fastlanes_spark.registry import queries

    df = queries()["graph_link_prediction"](spark, SF_DIR)
    plan = explain_str(df, "simple")
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan
    # r11 shape: wedges are generated row-locally from per-dst adjacency
    # arrays (posexplode + suffix slice), not a kept⋈kept self-join — the
    # sampled edge set crosses ONE dst-keyed exchange into the adjacency
    # groupBy, and the sampler must sit BELOW it
    sampler = "conv(substring(md5("
    idxs = [m.start() for m in re.finditer(r"Exchange hashpartitioning\(dst#", plan)]
    assert len(idxs) == 1  # exactly one dst exchange: the adjacency shuffle
    for i in idxs:
        assert sampler in plan[i:], "sampling filter must sit below the wedge exchange"
    # the generation is explode-based, in-stage (no join on dst remains)
    assert "Generate posexplode" in plan and "Generate explode" in plan
    assert not re.search(r"SortMergeJoin \[dst#\d+L\]", plan)
    # degree lookup rides a broadcast, never a shuffle of the edge stream
    assert "BroadcastExchange" in plan


def test_link_prediction_degree_join_degrades_to_hash_join_above_gauge(
    spark, monkeypatch
):
    """r7 hygiene: the node-sized degree table broadcasts only BELOW the
    input gauge. Above it (100 TB: the node table is fact-sized) the gauge
    must pick a shuffled hash join — no unbounded-by-node-count broadcast."""
    from duckdb_fastlanes_spark import session
    from duckdb_fastlanes_spark.registry import queries

    monkeypatch.setattr(
        session, "input_gauge_bytes", lambda *_a, **_k: session.SMALL_INPUT_BYTES * 2
    )
    df = queries()["graph_link_prediction"](spark, SF_DIR)
    plan = explain_str(df, "simple")
    assert "ShuffledHashJoin" in plan
    assert "BroadcastExchange" not in plan


def test_triangle_count_measured_broadcast_tiers(spark, monkeypatch):
    """r11: graph_triangle_count gates its broadcasts on MEASURED counts
    (|V| for the packed degree-key map, |E| for the census adjacency), not
    the input gauge — the k-core broadcast-hint lesson. Below the tiers both
    orientation legs AND the census closing join ride broadcasts (single
    exchange-free census stage); with the tiers forced to zero, every one of
    those joins must degrade to shuffled hash — at 100 TB both tables are
    fact-sized and a broadcast OOMs the executors."""
    # the concrete class in PySpark 4 (pyspark.sql.DataFrame is the abstract
    # base, whose method the classic subclass overrides)
    from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame

    from duckdb_fastlanes_spark.operators import graph as G
    from duckdb_fastlanes_spark.registry import queries

    # neutralize localCheckpoint so the orientation legs (normally executed
    # at build time and replaced by Scan ExistingRDD in the returned plan)
    # stay visible in one end-to-end lineage
    monkeypatch.setattr(
        ClassicDataFrame, "localCheckpoint", lambda self, *a, **k: self
    )

    # tiny sf0.001 catalog is far below both tiers: 2 orientation
    # broadcasts + 1 census-adjacency broadcast
    plan = explain_str(queries()["graph_triangle_count"](spark, SF_DIR), "simple")
    assert plan.count("BroadcastHashJoin") >= 3
    assert "ShuffledHashJoin" not in plan

    # force both tiers to zero: no equi-join broadcast may remain; the only
    # broadcasts left are the single-row census scalars
    # (n_edges × n_wedges × n_triangles), 1-row by construction at any size
    monkeypatch.setattr(G, "TRI_NODE_BCAST_ROWS", 0)
    monkeypatch.setattr(G, "TRI_ADJ_BCAST_ENTRIES", 0)
    plan = explain_str(queries()["graph_triangle_count"](spark, SF_DIR), "simple")
    assert plan.count("ShuffledHashJoin") >= 3
    # the gated joins (orientation on s1/s2, census closing on v) must not
    # broadcast; the lineage-visible pairs self-join on l_orderkey MAY —
    # that one is Catalyst's own size-based pick and degrades on its own
    for line in plan.splitlines():
        if "BroadcastHashJoin" in line:
            assert "l_orderkey" in line, line


def test_nb_classifier_ships_test_tokens_once(spark):
    """r11: the NB scorer must join each test-token occurrence ONCE, keyed by
    tok alone, against the map-packed model (one source->log-likelihood map
    per token). The former shape CROSS JOINed test tokens with the candidate
    sources BEFORE the (m_source, m_tok) model join, multiplying the shuffled
    occurrence stream by |sources| — 255 s at the 1000x cell. The candidate
    expansion must sit ABOVE the model join as a row-local broadcast cross
    join (element_at misses fall back to the unseen default)."""
    from duckdb_fastlanes_spark.registry import queries

    df = queries()["text_nb_source_classifier"](spark, SF_DIR)
    # model packed into one map per token (aggregate exprs only print in
    # formatted mode)...
    assert "map_from_arrays" in explain_str(df, "formatted")
    plan = explain_str(df, "simple")
    # ...probed by exactly one shuffle join, keyed by the token alone
    shuffle_joins = re.findall(r"(SortMergeJoin|ShuffledHashJoin) \[([^\]]*)\]", plan)
    assert len(shuffle_joins) == 1, shuffle_joins
    assert "m_source" not in shuffle_joins[0][1]
    # the per-candidate expansion is broadcast, never a shuffled cross join
    assert "CartesianProduct" not in plan


def test_link_prediction_packs_pair_key_through_aggregate(spark):
    """r11 session 2: the candidate aggregate's pair key must pack into ONE
    bigint through the exchange, both aggregate builds and the anti-join —
    the (s1, s2) form built every ~20.7 M-group hash map over two columns
    twice (77% of the query's executor time, tools/sql_metrics.py). Packing
    is gated on the key domain from parquet footer statistics; at the test
    scale the gate is always open, so the plan must show the packed shape."""
    from duckdb_fastlanes_spark.registry import queries
    from duckdb_fastlanes_spark.session import parquet_column_range

    rng = parquet_column_range(SF_DIR, "lineitem", "l_partkey")
    assert rng is not None and 0 <= rng[0] and rng[1] < (1 << 31)
    df = queries()["graph_link_prediction"](spark, SF_DIR)
    plan = explain_str(df, "simple")
    # the big exchange carries the packed key, not the two-column pair
    assert re.search(r"hashpartitioning\(pk#\d+L", plan), plan
    # top-25 tiebreak rides the same packed key (numeric order == (s1, s2)
    # lexicographic order for non-negative 32-bit keys)
    assert re.search(r"TakeOrderedAndProject.*pk#\d+L ASC", plan), plan


def test_link_prediction_single_candidate_aggregate_build(spark):
    """r12 (VERDICT item 1): the packed candidate aggregate must run as ONE
    complete pyarrow group_by inside mapInArrow — zero JVM HashAggregate
    builds between the pk exchange and the top-25 cut (the r11 shape built
    two ~20.7 M-group maps back-to-back, 77% of executor CPU) — and the
    pair anti-join must sit BELOW the aggregate (pre-agg filtering is
    result-identical and removes the post-agg join/exchange)."""
    from duckdb_fastlanes_spark.registry import queries

    df = queries()["graph_link_prediction"](spark, SF_DIR)
    plan = explain_str(df, "simple")
    # the candidate aggregate is the Arrow complete form
    assert "MapInArrow" in plan or "PythonMapInArrow" in plan, plan
    # the anti-join feeds the aggregate, not the other way round: between
    # the MapInArrow node and the TakeOrdered cut there is NO join and NO
    # aggregate (the degree joins below the cut touch 25 rows)
    take_pos = plan.find("TakeOrderedAndProject")
    arrow_pos = plan.find("MapInArrow")
    assert 0 <= take_pos < arrow_pos, plan
    between = plan[take_pos:arrow_pos]
    assert "HashAggregate" not in between, between
    # anti-join is below (printed after) the arrow aggregate
    anti_pos = plan.find("LeftAnti")
    assert anti_pos > arrow_pos, plan


def test_sort_resample_fix_checkpoints_before_global_sort(spark):
    """r12: queries whose global sort sampled an expensive final stage
    (agg_weighted_median's cumulative window, the pair dedups' final pair
    aggregate, minhash's verify joins) must materialize the result once —
    the sort's child is a checkpoint scan, not the recomputable pipeline."""
    from duckdb_fastlanes_spark.registry import queries

    for name in (
        "agg_weighted_median",
        "dedup_containment",
        "dedup_ngram_jaccard",
        "dedup_minhash_lsh",
    ):
        df = queries()[name](spark, SF_DIR)
        plan = explain_str(df, "simple")
        sort_pos = plan.find("Exchange rangepartitioning")
        assert sort_pos >= 0, (name, plan)
        below = plan[sort_pos:]
        assert "Scan ExistingRDD" in below, (name, below)
        # nothing heavy re-executes under the sampler
        for heavy in ("Window", "HashAggregate", "SortMergeJoin"):
            assert heavy not in below, (name, heavy, below)
