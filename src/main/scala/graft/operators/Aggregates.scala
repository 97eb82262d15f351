package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Aggregation operators (SURVEY.md §2.4): hash aggregate (partial+final),
  * distinct aggregates, grouping sets/rollup/cube, statistical aggregates,
  * approximate distinct, percentiles, collect.
  *
  * Doris runs these in [doris: be/src/vec/exec/vaggregation_node.cpp] with a
  * streaming pre-aggregation before the shuffle; Spark's HashAggregateExec
  * partial→final pair is the same two-phase shape and is planned
  * automatically — the map-side partial agg collapses low-cardinality groups
  * before any bytes hit the network, which is what makes these queries scale
  * to 100 TB: shuffle volume is O(groups × partitions), not O(rows).
  *
  * Determinism: float aggregates are rounded on both the Spark and oracle
  * sides so summation order can't flip the driver's hash compare.
  */
object Aggregates {

  def queries: Map[String, QueryDef] = Map(
    // TPC-H Q1-shaped hash aggregate: the flagship (SURVEY §7 minimum slice).
    "q1_agg" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        Tables.lineitem(s, dir)
          .filter($"l_shipdate" <= lit("1998-09-02").cast("timestamp"))
          .groupBy($"l_returnflag", $"l_linestatus")
          .agg(
            round(sum($"l_quantity"), 2).as("sum_qty"),
            round(sum($"l_extendedprice"), 2).as("sum_base_price"),
            round(sum($"l_extendedprice" * (lit(1.0) - $"l_discount")), 2).as("sum_disc_price"),
            round(sum($"l_extendedprice" * (lit(1.0) - $"l_discount") * (lit(1.0) + $"l_tax")), 2).as("sum_charge"),
            round(avg($"l_quantity"), 4).as("avg_qty"),
            round(avg($"l_extendedprice"), 4).as("avg_price"),
            round(avg($"l_discount"), 4).as("avg_disc"),
            count(lit(1)).as("count_order"))
          .orderBy($"l_returnflag", $"l_linestatus")
      },
      """SELECT l_returnflag, l_linestatus,
        |  round(sum(l_quantity), 2) AS sum_qty,
        |  round(sum(l_extendedprice), 2) AS sum_base_price,
        |  round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS sum_disc_price,
        |  round(sum(l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax)), 2) AS sum_charge,
        |  round(avg(l_quantity), 4) AS avg_qty,
        |  round(avg(l_extendedprice), 4) AS avg_price,
        |  round(avg(l_discount), 4) AS avg_disc,
        |  count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin),

    // Plain hash aggregate over a higher-cardinality key (shuffle on key).
    "agg_hash" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        Tables.lineitem(s, dir)
          .groupBy($"l_suppkey")
          .agg(
            count(lit(1)).as("n_items"),
            round(sum($"l_extendedprice"), 2).as("total_price"),
            round(min($"l_quantity"), 2).as("min_qty"),
            round(max($"l_quantity"), 2).as("max_qty"))
          .orderBy($"l_suppkey")
      },
      """SELECT l_suppkey, count(*) AS n_items,
        |  round(sum(l_extendedprice), 2) AS total_price,
        |  round(min(l_quantity), 2) AS min_qty,
        |  round(max(l_quantity), 2) AS max_qty
        |FROM lineitem GROUP BY l_suppkey ORDER BY l_suppkey""".stripMargin),

    // count(distinct) incl. multi-distinct (Catalyst RewriteDistinctAggregates
    // plans the multi-phase expand — Doris' 3/4-phase distinct agg analogue).
    "agg_count_distinct" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        Tables.lineitem(s, dir)
          .groupBy($"l_returnflag")
          .agg(
            countDistinct($"l_partkey").as("nd_parts"),
            countDistinct($"l_suppkey").as("nd_supps"),
            count(lit(1)).as("n_rows"))
          .orderBy($"l_returnflag")
      },
      """SELECT l_returnflag,
        |  count(DISTINCT l_partkey) AS nd_parts,
        |  count(DISTINCT l_suppkey) AS nd_supps,
        |  count(*) AS n_rows
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),

    // GROUPING SETS via rollup + grouping_id (Doris RepeatNode analogue:
    // [doris: be/src/vec/exec/vrepeat_node.cpp] replays rows per set).
    "agg_grouping_sets" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        Tables.lineitem(s, dir)
          .rollup($"l_returnflag", $"l_linestatus")
          .agg(round(sum($"l_quantity"), 2).as("sum_qty"),
            grouping_id().as("gid"))
          .orderBy($"gid", $"l_returnflag".asc_nulls_first, $"l_linestatus".asc_nulls_first)
      },
      """SELECT l_returnflag, l_linestatus,
        |  round(sum(l_quantity), 2) AS sum_qty,
        |  grouping(l_returnflag) * 2 + grouping(l_linestatus) AS gid
        |FROM lineitem
        |GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY gid, l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin),

    // CUBE over two dims.
    "agg_cube" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        Tables.orders(s, dir)
          .cube($"o_orderstatus", $"o_orderpriority")
          .agg(count(lit(1)).as("n"), round(sum($"o_totalprice"), 2).as("total"))
          .orderBy($"o_orderstatus".asc_nulls_first, $"o_orderpriority".asc_nulls_first)
      },
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
        |  round(sum(o_totalprice), 2) AS total
        |FROM orders
        |GROUP BY CUBE (o_orderstatus, o_orderpriority)
        |ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin),

    // DISTINCT-qualified aggregates beyond count (Doris multi_distinct_sum /
    // multi_distinct_count [doris: be/src/vec/aggregate_functions/
    // aggregate_function_distinct.h]): Spark plans these as a two-phase
    // distinct-expand aggregate — dedup shuffle on (group, value), then the
    // outer aggregate; no per-group value set is ever held in one place.
    "agg_distinct_fns" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        Tables.lineitem(s, dir)
          .groupBy($"l_returnflag")
          .agg(
            round(sum_distinct($"l_quantity"), 2).as("sum_d"),
            count_distinct($"l_partkey").as("cnt_d"),
            round(expr("avg(DISTINCT l_quantity)"), 4).as("avg_d"))
          .orderBy($"l_returnflag")
      },
      """SELECT l_returnflag,
        |  round(sum(DISTINCT l_quantity), 2) AS sum_d,
        |  count(DISTINCT l_partkey) AS cnt_d,
        |  round(avg(DISTINCT l_quantity), 4) AS avg_d
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin),

    // Bitwise aggregates (Doris group_bit_and/or/xor
    // [doris: be/src/vec/aggregate_functions/aggregate_function_bit.cpp] ->
    // Spark bit_and/bit_or/bit_xor, codegen'd, map-side partial).
    "agg_bit" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        Tables.lineitem(s, dir)
          .groupBy($"l_returnflag")
          .agg(
            bit_and($"l_linenumber").as("band_v"),
            bit_or($"l_linenumber").as("bor_v"),
            bit_xor($"l_orderkey").as("bxor_v"))
          .orderBy($"l_returnflag")
      },
      """SELECT l_returnflag,
        |  bit_and(l_linenumber) AS band_v,
        |  bit_or(l_linenumber) AS bor_v,
        |  bit_xor(l_orderkey) AS bxor_v
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin),

    // Equi-width HISTOGRAM (Doris histogram() bucket aggregate): bucket =
    // floor((v - lo) / width) composes from codegen'd arithmetic on both
    // engines — one groupBy shuffle, no per-value state.
    "agg_histogram" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val b = least(floor(($"o_totalprice" - 0.0) / 50000.0).cast("int"), lit(9))
        Tables.orders(s, dir)
          .groupBy(b.as("bucket"))
          .agg(count(lit(1)).as("n"),
            round(min($"o_totalprice"), 2).as("lo"),
            round(max($"o_totalprice"), 2).as("hi"))
          .orderBy($"bucket")
      },
      """SELECT least(CAST(floor(o_totalprice / 50000.0) AS INTEGER), 9) AS bucket,
        |  count(*) AS n,
        |  round(min(o_totalprice), 2) AS lo,
        |  round(max(o_totalprice), 2) AS hi
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin),

    // Higher-moment statistics: Spark's skewness/kurtosis are POPULATION
    // moments (kurtosis = excess); DuckDB's builtins are sample-corrected, so
    // the oracle recomputes the population definitions from raw power sums —
    // same algebra both engines, rounded to 4 digits.
    "agg_moments" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        Tables.lineitem(s, dir)
          .groupBy($"l_returnflag")
          .agg(
            round(skewness($"l_quantity"), 4).as("skew_v"),
            round(kurtosis($"l_quantity"), 4).as("kurt_v"))
          .orderBy($"l_returnflag")
      },
      """SELECT l_returnflag,
        |  round((avg(l_quantity * l_quantity * l_quantity)
        |          - 3 * avg(l_quantity) * var_pop(l_quantity)
        |          - avg(l_quantity) * avg(l_quantity) * avg(l_quantity))
        |        / pow(var_pop(l_quantity), 1.5), 4) AS skew_v,
        |  round((avg(l_quantity * l_quantity * l_quantity * l_quantity)
        |          - 4 * avg(l_quantity) * avg(l_quantity * l_quantity * l_quantity)
        |          + 6 * avg(l_quantity) * avg(l_quantity) * avg(l_quantity * l_quantity)
        |          - 3 * pow(avg(l_quantity), 4))
        |        / pow(var_pop(l_quantity), 2) - 3, 4) AS kurt_v
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin),

    // PIVOT (wide conditional aggregation — the Doris/MySQL idiom is
    // CASE-WHEN sums; Spark has the operator natively). Pivot values are
    // enumerated explicitly: at 100 TB an implicit pivot would first run a
    // distinct scan over the fact table just to discover column names.
    "agg_pivot" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        Tables.orders(s, dir)
          .groupBy($"o_orderpriority")
          .pivot("o_orderstatus", Seq("F", "O", "P"))
          .agg(round(sum($"o_totalprice"), 2))
          .select($"o_orderpriority", $"F".as("f_total"),
            $"O".as("o_total"), $"P".as("p_total"))
          .orderBy($"o_orderpriority")
      },
      """SELECT o_orderpriority,
        |  round(sum(CASE WHEN o_orderstatus = 'F' THEN o_totalprice END), 2) AS f_total,
        |  round(sum(CASE WHEN o_orderstatus = 'O' THEN o_totalprice END), 2) AS o_total,
        |  round(sum(CASE WHEN o_orderstatus = 'P' THEN o_totalprice END), 2) AS p_total
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin),

    // UNPIVOT — pivot's inverse (wide measures → long (metric, value)
    // rows), the standard shape for feeding generic metric sinks and
    // chart layers. Spark's Dataset.unpivot is a zero-shuffle Expand over
    // the already-aggregated wide table, so the melt itself is free at
    // any scale; only the upstream aggregate shuffles.
    "agg_unpivot" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        Tables.orders(s, dir)
          .groupBy($"o_orderstatus")
          .agg(count(lit(1)).cast("double").as("n_orders"),
            round(sum($"o_totalprice"), 2).as("sum_price"),
            round(avg($"o_totalprice"), 2).as("avg_price"))
          .unpivot(Array($"o_orderstatus"),
            Array($"n_orders", $"sum_price", $"avg_price"),
            "metric", "value")
          .orderBy($"o_orderstatus", $"metric")
      },
      """SELECT o_orderstatus, metric, value FROM (
        |  SELECT o_orderstatus, CAST(count(*) AS DOUBLE) AS n_orders,
        |    round(sum(o_totalprice), 2) AS sum_price,
        |    round(avg(o_totalprice), 2) AS avg_price
        |  FROM orders GROUP BY 1) w
        |UNPIVOT (value FOR metric IN (n_orders, sum_price, avg_price))
        |ORDER BY o_orderstatus, metric""".stripMargin),

    // Linear-regression aggregate family — regr_slope/intercept/r2/avgx/
    // avgy/count, the standard OLAP trend primitives (price-vs-quantity
    // per returnflag here). All codegen'd DeclarativeAggregates: one
    // partial+final hash agg, no extra pass. `+ 0.0` normalizes a
    // near-zero r2 that rounds to -0.0 on one engine and +0.0 on the
    // other (IEEE: -0.0 + 0.0 = +0.0).
    "agg_regr" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        Tables.lineitem(s, dir)
          .groupBy($"l_returnflag")
          .agg(
            regr_count($"l_extendedprice", $"l_quantity").as("n"),
            (round(regr_slope($"l_extendedprice", $"l_quantity"), 4) + 0.0)
              .as("slope"),
            (round(regr_intercept($"l_extendedprice", $"l_quantity"), 4) + 0.0)
              .as("icept"),
            (round(regr_r2($"l_extendedprice", $"l_quantity"), 6) + 0.0)
              .as("r2"),
            round(regr_avgx($"l_extendedprice", $"l_quantity"), 4).as("avgx"),
            round(regr_avgy($"l_extendedprice", $"l_quantity"), 4).as("avgy"))
          .orderBy($"l_returnflag")
      },
      """SELECT l_returnflag,
        |  CAST(regr_count(l_extendedprice, l_quantity) AS BIGINT) AS n,
        |  round(regr_slope(l_extendedprice, l_quantity), 4) + 0.0 AS slope,
        |  round(regr_intercept(l_extendedprice, l_quantity), 4) + 0.0 AS icept,
        |  round(regr_r2(l_extendedprice, l_quantity), 6) + 0.0 AS r2,
        |  round(regr_avgx(l_extendedprice, l_quantity), 4) AS avgx,
        |  round(regr_avgy(l_extendedprice, l_quantity), 4) AS avgy
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin),

    // Boolean aggregate family — count_if / bool_and (EVERY) / bool_or
    // (ANY/SOME), the predicate-summary aggregates. Thresholds chosen so
    // both quantifiers split the 50 buckets (probed at sf0.01: 7/43 and
    // 30/20 true/false) — an all-True column would oracle nothing.
    // Codegen'd partial+final like any hash agg; no extra shuffle.
    "agg_boolean" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        Tables.orders(s, dir)
          .groupBy(($"o_custkey" % 50).as("bucket"))
          .agg(count_if($"o_totalprice" > 200000.0).as("n_big"),
            bool_and($"o_totalprice" > 5000.0).as("floor_5k"),
            bool_or($"o_totalprice" > 498000.0).as("any_jumbo"),
            every($"o_custkey" >= 0).as("ids_nonneg"))
          .orderBy($"bucket")
      },
      """SELECT o_custkey % 50 AS bucket,
        |  count(*) FILTER (WHERE o_totalprice > 200000.0) AS n_big,
        |  bool_and(o_totalprice > 5000.0) AS floor_5k,
        |  bool_or(o_totalprice > 498000.0) AS any_jumbo,
        |  bool_and(o_custkey >= 0) AS ids_nonneg
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin),

    // Statistical aggregates: stddev/variance/corr/covar.
    "agg_stats" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        Tables.lineitem(s, dir)
          .groupBy($"l_returnflag")
          .agg(
            round(stddev_samp($"l_quantity"), 4).as("sd_qty"),
            round(stddev_pop($"l_quantity"), 4).as("sdp_qty"),
            round(var_samp($"l_extendedprice"), 2).as("var_price"),
            round(corr($"l_quantity", $"l_extendedprice"), 4).as("corr_qp"),
            round(covar_samp($"l_quantity", $"l_extendedprice"), 2).as("cov_qp"))
          .orderBy($"l_returnflag")
      },
      """SELECT l_returnflag,
        |  round(stddev_samp(l_quantity), 4) AS sd_qty,
        |  round(stddev_pop(l_quantity), 4) AS sdp_qty,
        |  round(var_samp(l_extendedprice), 2) AS var_price,
        |  round(corr(l_quantity, l_extendedprice), 4) AS corr_qp,
        |  round(covar_samp(l_quantity, l_extendedprice), 2) AS cov_qp
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),

    // group_concat -> sorted array_join(collect_list) for determinism.
    // GROUP_CONCAT: plain ordered form over a column WITH duplicates (so the
    // two variants genuinely differ) plus the DISTINCT … ORDER BY … form
    // Doris supports (collect_set dedups, array_sort orders — both
    // partial-aggregable, so map-side combine still applies).
    "agg_group_concat" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        Tables.customer(s, dir)
          .groupBy($"c_nationkey")
          .agg(
            array_join(array_sort(collect_list($"c_mktsegment")), ",")
              .as("all_segments"),
            array_join(array_sort(collect_set($"c_mktsegment")), "|")
              .as("distinct_segments"))
          .orderBy($"c_nationkey")
      },
      """SELECT c_nationkey,
        |  string_agg(c_mktsegment, ',' ORDER BY c_mktsegment) AS all_segments,
        |  string_agg(DISTINCT c_mktsegment, '|' ORDER BY c_mktsegment)
        |    AS distinct_segments
        |FROM customer GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin),

    // Exact percentiles + median + PERCENTILE_ARRAY (Doris PERCENTILE /
    // MEDIAN / PERCENTILE_ARRAY). The array result is stringified through
    // DECIMAL so both engines print identically and the driver compares a
    // scalar. The five percentiles share one percentile buffer: one
    // percentile(l_extendedprice, array(...)) keeps one value-count map per
    // flag and sorts it once, where four separate calls kept and sorted four.
    "agg_percentile" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        Tables.lineitem(s, dir)
          .groupBy($"l_returnflag")
          .agg(expr("percentile(l_extendedprice, array(0.25D, 0.5D, 0.75D, 0.9D, 0.99D))")
            .as("ps"))
          .select($"l_returnflag",
            round(element_at($"ps", 2), 4).as("p50"),
            round(element_at($"ps", 4), 4).as("p90"),
            round(element_at($"ps", 5), 4).as("p99"),
            array_join(transform(slice($"ps", 1, 3),
              x => round(x, 4).cast("decimal(18,4)").cast("string")), ",")
              .as("p_array"))
          .orderBy($"l_returnflag")
      },
      """SELECT l_returnflag,
        |  round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
        |  round(quantile_cont(l_extendedprice, 0.9), 4) AS p90,
        |  round(quantile_cont(l_extendedprice, 0.99), 4) AS p99,
        |  array_to_string(list_transform(quantile_cont(l_extendedprice, [0.25, 0.5, 0.75]),
        |      x -> CAST(CAST(round(x, 4) AS DECIMAL(18,4)) AS VARCHAR)), ',') AS p_array
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),

    // collect_list/collect_set (ARRAY_AGG) — sorted for determinism.
    "agg_collect" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        Tables.supplier(s, dir)
          .groupBy($"s_nationkey")
          .agg(
            // array_join to a scalar: the driver's pandas compare can't sort
            // list columns (round-1 harness-err) — capability (collect_set +
            // sort) is unchanged, the final projection is a string
            array_join(array_sort(collect_set($"s_suppkey")), ",").as("supp_keys"),
            size(collect_list($"s_suppkey")).as("n_supps"))
          .orderBy($"s_nationkey")
      },
      """SELECT s_nationkey,
        |  array_to_string(list_sort(list_distinct(list(s_suppkey))), ',') AS supp_keys,
        |  count(s_suppkey) AS n_supps
        |FROM supplier GROUP BY s_nationkey ORDER BY s_nationkey""".stripMargin),

    // Skew-mitigating two-phase salted aggregation (SURVEY §2.4 scale note):
    // phase 1 groups on (key, salt) so one hot key spreads over 8 reducers,
    // phase 2 merges the partials. Result provably equals the plain groupBy
    // (the oracle is the unsalted SQL). At 100 TB this is the pattern for
    // keys whose groups exceed a single executor; AQE skew-join handles the
    // join flavor automatically, this is the groupBy flavor.
    "agg_salted_skew" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val salted = Tables.lineitem(s, dir)
          .withColumn("salt", pmod(xxhash64($"l_orderkey", $"l_linenumber"), lit(8)))
        salted
          .groupBy($"l_returnflag", $"salt")
          .agg(sum($"l_quantity").as("s"), count(lit(1)).as("c"))
          .groupBy($"l_returnflag")
          .agg(round(sum($"s"), 2).as("sum_qty"), sum($"c").as("n_rows"))
          .orderBy($"l_returnflag")
      },
      """SELECT l_returnflag, round(sum(l_quantity), 2) AS sum_qty,
        |  count(*) AS n_rows
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin),

    // any_value/max_by/min_by. Tie rule pinned explicitly: max_by/min_by
    // with a plain ordering column is NONDETERMINISTIC under ties in every
    // engine (Doris, Spark, DuckDB alike), and ties are not hypothetical —
    // the r11 sf1 sweep hit a 10-way exact tie at max(o_totalprice) and the
    // two engines picked different winners. The deterministic spelling
    // orders by a (measure, key) struct so ties resolve by key; the oracle
    // says the same thing with ranked windows (DuckDB's max_by has no
    // struct-ordering overload).
    //
    // Plan note: struct-valued aggregate buffers are not mutable-buffer
    // types, so Catalyst plans SortAggregate instead of HashAggregate here
    // (fingerprint pinned). Still a two-phase partial/final aggregate —
    // each task keeps one running argmax and only 3 merged rows shuffle —
    // the cost is a per-partition sort by the 3-value grouping key, the
    // price of deterministic tie-breaking. At 100 TB that is O(n log n)
    // map-side with a 3-row exchange, not a scale hazard.
    "agg_minmax_by" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        Tables.orders(s, dir)
          .groupBy($"o_orderstatus")
          .agg(
            max_by($"o_orderkey", struct($"o_totalprice", $"o_orderkey"))
              .as("top_order"),
            min_by($"o_orderkey", struct($"o_totalprice", $"o_orderkey"))
              .as("bottom_order"),
            round(max($"o_totalprice"), 2).as("max_price"))
          .orderBy($"o_orderstatus")
      },
      """WITH ranked AS (
        |  SELECT o_orderstatus, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_orderstatus
        |      ORDER BY o_totalprice DESC, o_orderkey DESC) AS rn_max,
        |    row_number() OVER (PARTITION BY o_orderstatus
        |      ORDER BY o_totalprice ASC, o_orderkey ASC) AS rn_min
        |  FROM orders)
        |SELECT o_orderstatus,
        |  max(CASE WHEN rn_max = 1 THEN o_orderkey END) AS top_order,
        |  max(CASE WHEN rn_min = 1 THEN o_orderkey END) AS bottom_order,
        |  round(max(o_totalprice), 2) AS max_price
        |FROM ranked GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)
  )
}
