package graft.queries

import org.apache.spark.sql.{DataFrame, RelationalGroupedDataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.sources.Tables

/** Relational / analytical core (SURVEY §2.C): scan-pushdown, hash
  * aggregation, broadcast joins, semi/anti joins, ranking and running
  * windows, statistical aggregates, exact dedup, time buckets, JSON
  * extraction, rollup.
  *
  * The reference motivates these through tratamento_epe.rmd:33 — the
  * whole point of its wide→long reshape is to feed aggregations; this
  * is the aggregation surface, expressed declaratively so Catalyst owns
  * pushdown/pruning/join planning.
  */
object RelationalQueries {

  val all: Seq[Q] = Seq(

    // C2: hash aggregate with exact decimal money sums (TPC-H Q1 shape).
    Q(
      "q1_agg",
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc,
        |  CAST(count(*) AS BIGINT) AS n_rows
        |FROM lineitem
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin
    ) { (s, dir) =>
      table(s, dir, "lineitem")
        .groupBy($"l_returnflag", $"l_linestatus")
        .agg(
          dsum($"l_quantity").as("sum_qty"),
          dsum($"l_extendedprice").as("sum_base"),
          sum(dec($"l_extendedprice") * (lit(1) - dec($"l_discount")))
            .cast("double").as("sum_disc"),
          count(lit(1)).as("n_rows"))
        .orderBy($"l_returnflag", $"l_linestatus")
    },

    // C1: filter+project that must reach the parquet scan as
    // PushedFilters + pruned ReadSchema (verified in PlanSpec).
    Q(
      "q_pushdown_scan",
      """SELECT l_orderkey, l_linenumber,
        |  CAST(l_shipdate AS DATE) AS ship_date,
        |  l_extendedprice, l_discount
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-04-01'
        |  AND l_discount >= 0.05 AND l_discount <= 0.07
        |ORDER BY l_orderkey, l_linenumber""".stripMargin
    ) { (s, dir) =>
      table(s, dir, "lineitem")
        .filter(
          $"l_shipdate" >= lit("1996-01-01").cast("timestamp") &&
          $"l_shipdate" < lit("1996-04-01").cast("timestamp") &&
          $"l_discount" >= 0.05 && $"l_discount" <= 0.07)
        .select(
          $"l_orderkey", $"l_linenumber",
          to_date($"l_shipdate").as("ship_date"),
          $"l_extendedprice", $"l_discount")
        .orderBy($"l_orderkey", $"l_linenumber")
    },

    // C3: multi-way join; all dimension sides explicitly broadcast
    // (region/nation/customer are tiny at every SF vs lineitem).
    Q(
      "q_join_pricing",
      """SELECT r_name, n_name,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
        |  CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_orders
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name
        |ORDER BY r_name, n_name""".stripMargin
    ) { (s, dir) =>
      val li = table(s, dir, "lineitem")
      val o = table(s, dir, "orders")
      val c = table(s, dir, "customer")
      val n = table(s, dir, "nation")
      val r = table(s, dir, "region")
      li.join(o, $"l_orderkey" === $"o_orderkey")
        .join(broadcast(c), $"o_custkey" === $"c_custkey")
        .join(broadcast(n), $"c_nationkey" === $"n_nationkey")
        .join(broadcast(r), $"n_regionkey" === $"r_regionkey")
        .groupBy($"r_name", $"n_name")
        .agg(
          sum(dec($"l_extendedprice") * (lit(1) - dec($"l_discount")))
            .cast("double").as("revenue"),
          countDistinct($"o_orderkey").as("n_orders"))
        .orderBy($"r_name", $"n_name")
    },

    // D14: salted join on a PLANTED hot key (~40% of lineitem rows
    // collapse onto supplier 1) — the oracle is the equivalent PLAIN
    // join: salting must be bit-invisible in results, it only
    // rebalances the shuffle (the hot key's rows scatter over 8 salt
    // buckets; the dim side replicates 8×). Aggregated per nation so
    // the result is the join's full mass, not a sample.
    Q(
      "q_salted_join",
      """WITH li AS (
        |  SELECT CASE WHEN l_linenumber >= 4 THEN 1 ELSE l_suppkey END AS k,
        |    l_quantity
        |  FROM lineitem)
        |SELECT s_nationkey, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM li JOIN supplier ON s_suppkey = k
        |GROUP BY s_nationkey ORDER BY s_nationkey""".stripMargin
    ) { (s, dir) =>
      val li = table(s, dir, "lineitem").select(
        when($"l_linenumber" >= 4, lit(1L)).otherwise($"l_suppkey").as("k"),
        $"l_orderkey", $"l_linenumber", $"l_quantity")
      val sup = table(s, dir, "supplier")
        .select($"s_suppkey".as("k"), $"s_nationkey")
      graft.operators.Skew.saltedJoin(li, sup, Seq("k"),
          bigSaltBy = $"l_orderkey" * 8 + $"l_linenumber", saltBuckets = 8)
        .groupBy($"s_nationkey")
        .agg(count(lit(1)).as("n_rows"),
          sum(dec($"l_quantity")).cast("double").as("sum_qty"))
        .orderBy($"s_nationkey")
    },

    // C4: semi + anti join (EXISTS / NOT EXISTS) in one result.
    Q(
      "q_semi_anti",
      """SELECT 'with_orders' AS segment,
        |  CAST(count(*) AS BIGINT) AS n_cust,
        |  CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_bal
        |FROM customer WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |UNION ALL
        |SELECT 'without_orders' AS segment,
        |  CAST(count(*) AS BIGINT) AS n_cust,
        |  CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_bal
        |FROM customer WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY segment""".stripMargin
    ) { (s, dir) =>
      val c = table(s, dir, "customer")
      val o = table(s, dir, "orders").select($"o_custkey")
      def side(joinType: String, tag: String) =
        c.join(o, $"c_custkey" === $"o_custkey", joinType)
          .agg(count(lit(1)).as("n_cust"), dsum($"c_acctbal").as("sum_bal"))
          .select(lit(tag).as("segment"), $"n_cust", $"sum_bal")
      side("left_semi", "with_orders")
        .unionByName(side("left_anti", "without_orders"))
        .orderBy($"segment")
    },

    // C5 / B3: top-N per group via ranking window (the scalable form of
    // the reference's positional slice, tratamento_epe.R:89).
    Q(
      "q_topn_per_group",
      """SELECT c_mktsegment, rn, c_custkey, c_acctbal FROM (
        |  SELECT c_mktsegment, c_custkey, c_acctbal,
        |    CAST(row_number() OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey) AS INT) AS rn
        |  FROM customer)
        |WHERE rn <= 3
        |ORDER BY c_mktsegment, rn""".stripMargin
    ) { (s, dir) =>
      val w = Window.partitionBy($"c_mktsegment")
        .orderBy($"c_acctbal".desc, $"c_custkey".asc)
      table(s, dir, "customer")
        .withColumn("rn", row_number().over(w))
        .filter($"rn" <= 3)
        .select($"c_mktsegment", $"rn", $"c_custkey", $"c_acctbal")
        .orderBy($"c_mktsegment", $"rn")
    },

    // C6: running sum + lag over a per-customer ordered window.
    Q(
      "q_window_running",
      """SELECT o_custkey, o_orderkey,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
        |    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_spend,
        |  lag(o_totalprice) OVER (
        |    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS prev_price
        |FROM orders
        |ORDER BY o_custkey, o_orderkey""".stripMargin
    ) { (s, dir) =>
      val w = Window.partitionBy($"o_custkey").orderBy($"o_orderdate", $"o_orderkey")
      table(s, dir, "orders")
        .select(
          $"o_custkey", $"o_orderkey",
          sum(dec($"o_totalprice"))
            .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .cast("double").as("running_spend"),
          lag($"o_totalprice", 1).over(w).as("prev_price"))
        .orderBy($"o_custkey", $"o_orderkey")
    },

    // C7: statistical aggregates from exact decimal sums (identical
    // IEEE expression tree on both sides → bit-stable), plus exact
    // interpolated median.
    Q(
      "q_agg_stats",
      """SELECT l_returnflag,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  round(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*), 4) AS avg_qty,
        |  round(sqrt((CAST(sum(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
        |    - (CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) * CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)) / count(*))
        |    / (count(*) - 1)), 4) AS std_qty,
        |  round(CAST(quantile_cont(l_quantity, 0.5) AS DOUBLE), 4) AS med_qty
        |FROM lineitem
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin
    ) { (s, dir) =>
      val g = table(s, dir, "lineitem").groupBy($"l_returnflag")
        .agg(
          count(lit(1)).as("n_rows"),
          dsum($"l_quantity").as("sum_q"),
          sum(dec($"l_quantity") * dec($"l_quantity")).cast("double").as("sum_sq"),
          percentile($"l_quantity", lit(0.5)).as("med_raw"))
      g.select(
          $"l_returnflag",
          $"n_rows",
          r4($"sum_q" / $"n_rows").as("avg_qty"),
          r4(sqrt(($"sum_sq" - ($"sum_q" * $"sum_q") / $"n_rows") / ($"n_rows" - 1)))
            .as("std_qty"),
          r4($"med_raw").as("med_qty"))
        .orderBy($"l_returnflag")
    },

    // C8 / D1: exact content dedup — hash-groupBy, min-id winner.
    Q(
      "q_dedup_exact",
      """SELECT md5(text) AS fp,
        |  CAST(min(doc_id) AS BIGINT) AS keep_id,
        |  CAST(count(*) AS BIGINT) AS n_copies
        |FROM documents
        |GROUP BY md5(text)
        |ORDER BY keep_id""".stripMargin
    ) { (s, dir) =>
      graft.operators.Dedup.exact(table(s, dir, "documents"), $"text", $"doc_id")
        .orderBy($"keep_id")
    },

    // C11: tumbling time buckets on the ns-precision event stream.
    // ts_ns is exact epoch-nanos (bigint) on both sides — integer
    // bucket arithmetic, no timestamp emitted (SURVEY §3).
    Q(
      "q_time_buckets",
      """SELECT (epoch_ns(ts) // 3600000000000) * 3600 AS bucket_s,
        |  CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events
        |GROUP BY 1
        |ORDER BY bucket_s""".stripMargin
    ) { (s, dir) =>
      Tables.events(s, dir)
        .groupBy((expr("ts_ns div 3600000000000") * 3600).as("bucket_s"))
        .agg(
          count(lit(1)).as("n_events"),
          countDistinct($"user_id").as("n_users"),
          dsum($"value").as("sum_value"))
        .orderBy($"bucket_s")
    },

    // C12: JSON field extraction from the events props payload.
    Q(
      "q_json_extract",
      """SELECT CAST(props->>'$.k' AS INT) AS k,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events
        |GROUP BY 1
        |ORDER BY k""".stripMargin
    ) { (s, dir) =>
      Tables.events(s, dir)
        .groupBy(get_json_object($"props", "$.k").cast("int").as("k"))
        .agg(count(lit(1)).as("n"), dsum($"value").as("sum_value"))
        .orderBy($"k")
    },

    // C13: rollup with explicit grouping level (sentinel '_all_' keeps
    // the sort order engine-independent).
    Q(
      "q_rollup",
      segmentTotalsSql("ROLLUP", orderBy = "nation, segment")
    ) { (s, dir) =>
      segmentTotals(customerNations(s, dir).rollup($"n_name", $"c_mktsegment"))
        .orderBy($"nation", $"segment")
    },

    // C13b: full CUBE — all four grouping sets in one pass (rollup's
    // superset); grouping_id disambiguates the null-vs-_all_ levels.
    Q(
      "q_cube",
      segmentTotalsSql("CUBE", orderBy = "lvl, nation, segment")
    ) { (s, dir) =>
      segmentTotals(customerNations(s, dir).cube($"n_name", $"c_mktsegment"))
        .orderBy($"lvl", $"nation", $"segment")
    },

    // C17: outer join with null-extension semantics — customers
    // without orders survive with null aggregates.
    Q(
      "q_outer_join",
      """SELECT c_mktsegment,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(count(o_orderkey) AS BIGINT) AS n_matched,
        |  CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_unmatched
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_mktsegment
        |ORDER BY c_mktsegment""".stripMargin
    ) { (s, dir) =>
      val c = table(s, dir, "customer").select($"c_custkey", $"c_mktsegment")
      val o = table(s, dir, "orders").select($"o_custkey", $"o_orderkey")
      c.join(o, $"c_custkey" === $"o_custkey", "left")
        .groupBy($"c_mktsegment")
        .agg(
          count(lit(1)).as("n_rows"),
          count($"o_orderkey").as("n_matched"),
          sum(when($"o_orderkey".isNull, 1).otherwise(0)).cast("long").as("n_unmatched"))
        .orderBy($"c_mktsegment")
    },

    // C45: rank-distribution windows — percent_rank / cume_dist per
    // group with a deterministic tiebreak; both are exact integer
    // ratios ((rank-1)/(n-1), rows_le/n) so the doubles agree bitwise.
    Q(
      "q_rank_dist",
      """SELECT o_orderkey,
        |  percent_rank() OVER w AS pct_rank,
        |  cume_dist() OVER w AS cume
        |FROM orders
        |WINDOW w AS (PARTITION BY o_orderpriority
        |             ORDER BY o_totalprice, o_orderkey)
        |ORDER BY o_orderkey""".stripMargin
    ) { (s, dir) =>
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"o_orderpriority")
        .orderBy($"o_totalprice", $"o_orderkey")
      table(s, dir, "orders").select(
          $"o_orderkey",
          percent_rank().over(w).as("pct_rank"),
          cume_dist().over(w).as("cume"))
        .orderBy("o_orderkey")
    },

    // C18: set operations — INTERSECT/EXCEPT of key sets.
    Q(
      "q_set_ops",
      """SELECT 'both' AS src, CAST(count(*) AS BIGINT) AS n FROM (
        |  SELECT o_custkey FROM orders INTERSECT SELECT c_custkey FROM customer)
        |UNION ALL
        |SELECT 'cust_only', CAST(count(*) AS BIGINT) FROM (
        |  SELECT c_custkey FROM customer EXCEPT SELECT o_custkey FROM orders)
        |ORDER BY src""".stripMargin
    ) { (s, dir) =>
      val ck = table(s, dir, "customer").select($"c_custkey")
      val ok = table(s, dir, "orders").select($"o_custkey")
      val both = ok.intersect(ck.toDF("o_custkey"))
        .agg(count(lit(1)).as("n")).select(lit("both").as("src"), $"n")
      // except (set semantics), not exceptAll().distinct(): with
      // duplicate customer keys the latter would keep a key that
      // appears MORE often in customer than orders — SQL EXCEPT drops
      // any key present in orders at all
      val custOnly = ck.except(ok.toDF("c_custkey"))
        .agg(count(lit(1)).as("n")).select(lit("cust_only").as("src"), $"n")
      both.unionByName(custOnly).orderBy($"src")
    },

    // C19: ordered collect — per-group value lists with a deterministic
    // internal order (array_sort), joined to a string for the oracle.
    Q(
      "q_collect",
      """SELECT n_name,
        |  string_agg(DISTINCT c_mktsegment, ',' ORDER BY c_mktsegment) AS segments,
        |  CAST(count(*) AS BIGINT) AS n_cust
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name
        |ORDER BY n_name""".stripMargin
    ) { (s, dir) =>
      val c = table(s, dir, "customer")
      val n = table(s, dir, "nation")
      c.join(broadcast(n), $"c_nationkey" === $"n_nationkey")
        .groupBy($"n_name")
        .agg(
          array_join(array_sort(collect_set($"c_mktsegment")), ",").as("segments"),
          count(lit(1)).as("n_cust"))
        .orderBy($"n_name")
    },

    // C16: the SQL entry path — ONE ANSI string (TPC-H Q3 shape) runs
    // verbatim through spark.sql over temp views AND through DuckDB:
    // the engine's SQL surface is first-class, not a translation layer.
    {
      val q3 =
        """SELECT o_orderkey,
          |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
          |  CAST(o_orderdate AS DATE) AS order_date, o_orderpriority
          |FROM customer
          |JOIN orders ON c_custkey = o_custkey
          |JOIN lineitem ON l_orderkey = o_orderkey
          |WHERE c_mktsegment = 'BUILDING'
          |  AND o_orderdate < TIMESTAMP '1997-06-01'
          |  AND l_shipdate > TIMESTAMP '1997-06-01'
          |GROUP BY o_orderkey, o_orderdate, o_orderpriority
          |ORDER BY revenue DESC, o_orderkey
          |LIMIT 10""".stripMargin
      Q("q_sql_q3", q3) { (s, dir) =>
        Seq("customer", "orders", "lineitem").foreach { t =>
          table(s, dir, t).createOrReplaceTempView(t)
        }
        s.sql(q3)
      }
    },

    // C14: sketch aggregates — HyperLogLog++ distinct counts and
    // t-digest-style approximate quantiles, the interactive-query path
    // at 100 TB (exact twins: q_join_pricing's countDistinct and
    // q_agg_stats' exact percentile). The estimates themselves are
    // engine-specific, so the portable output is the BOUNDED-VERDICT
    // shape: exact counts (both engines agree) plus a within-envelope
    // boolean each engine computes from ITS OWN estimate — HLL++ at
    // rsd=0.01 checked at 5×rsd (3σ is 3%), percentile_approx at
    // accuracy=1000 (published rank error 1e-3) checked against the
    // exact p45..p55 value window (50× the published envelope). The
    // driver then verifies the sketch CONTRACT instead of nothing;
    // SketchSpec still bounds the raw relative error.
    Q(
      "q_approx_stats",
      """SELECT l_returnflag,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(count(DISTINCT l_orderkey) AS BIGINT) AS exact_orders,
        |  abs(CAST(approx_count_distinct(l_orderkey) AS DOUBLE)
        |      - count(DISTINCT l_orderkey))
        |    <= 0.05 * count(DISTINCT l_orderkey) AS distinct_within,
        |  CAST(approx_quantile(l_quantity, 0.5) AS DOUBLE)
        |    BETWEEN CAST(quantile_cont(l_quantity, 0.45) AS DOUBLE)
        |        AND CAST(quantile_cont(l_quantity, 0.55) AS DOUBLE)
        |    AS median_within
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin
    ) { (s, dir) =>
      val li = table(s, dir, "lineitem")
      // exact distinct via a two-level aggregate, NOT countDistinct
      // mixed into the sketch agg: a distinct aggregate next to the
      // object-buffer percentiles forces Expand + SortAggregate with
      // per-row object updates (measured 1.0 -> 83 s at sf0.1); the
      // two-level form keeps both aggregations hash/partial and the
      // join is 3 broadcast rows
      val exact = li.groupBy($"l_returnflag", $"l_orderkey").agg(count(lit(1)).as("__c"))
        .groupBy($"l_returnflag").agg(count(lit(1)).as("exact_orders"))
      val sk = li.groupBy($"l_returnflag")
        .agg(
          count(lit(1)).as("n_rows"),
          approx_count_distinct($"l_orderkey", rsd = 0.01).as("__apx"),
          percentile_approx($"l_quantity", lit(0.5), lit(1000))
            .cast("double").as("__med"),
          expr("percentile(l_quantity, 0.45)").as("__lo"),
          expr("percentile(l_quantity, 0.55)").as("__hi"))
      sk.join(broadcast(exact), Seq("l_returnflag"))
        .select($"l_returnflag", $"n_rows", $"exact_orders",
          (abs($"__apx".cast("double") - $"exact_orders")
            <= lit(0.05) * $"exact_orders").as("distinct_within"),
          ($"__med" >= $"__lo" && $"__med" <= $"__hi").as("median_within"))
        .orderBy($"l_returnflag")
    },

    // B16: concatenated selector key (tratamento_epe.R:274).
    Q(
      "q_concat_key",
      """SELECT concat_ws(' - ', o_orderpriority, o_orderstatus, 'MERCADO') AS selector,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders
        |GROUP BY 1
        |ORDER BY selector""".stripMargin
    ) { (s, dir) =>
      table(s, dir, "orders")
        .groupBy(concat_ws(" - ", $"o_orderpriority", $"o_orderstatus", lit("MERCADO"))
          .as("selector"))
        .agg(count(lit(1)).as("n"), dsum($"o_totalprice").as("total"))
        .orderBy($"selector")
    },

    // A14: Z-order (Morton) interleave on (l_partkey, l_suppkey) —
    // the layout value writeZOrdered clusters by; exact integer bit
    // lanes, replayed bit by bit in DuckDB.
    Q(
      "q_zorder", {
        def gridSql(c: String, hi: Double, bits: Int): String =
          s"CAST(least(greatest(floor(($c - 0.0) / $hi * ${1L << bits}), 0.0), ${(1L << bits) - 1}.0) AS BIGINT)"
        val bits = 8
        val lanes = for {
          (g, i) <- Seq(gridSql("l_partkey", 30000.0, bits),
            gridSql("l_suppkey", 3000.0, bits)).zipWithIndex
          j <- 0 until bits
        } yield s"((($g >> $j) & 1) << ${j * 2 + i})"
        s"""SELECT l_orderkey, l_linenumber,
           |  ${lanes.mkString("\n|  + ")} AS zval
           |FROM lineitem
           |ORDER BY zval, l_orderkey, l_linenumber""".stripMargin
      }
    ) { (s, dir) =>
      import graft.functions.{zGridCoord, zOrderValue}
      Tables.load(s, dir, "lineitem").select(
          $"l_orderkey", $"l_linenumber",
          zOrderValue(Seq(
            zGridCoord($"l_partkey", 0.0, 30000.0, 8),
            zGridCoord($"l_suppkey", 0.0, 3000.0, 8)), 8).as("zval"))
        .orderBy($"zval", $"l_orderkey", $"l_linenumber")
    }
  )

  /** `customer` ⋈ `nation` on the nation key. */
  private def customerNations(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "customer")
      .join(broadcast(table(s, dir, "nation")), $"c_nationkey" === $"n_nationkey")

  /** q_rollup / q_cube: customer count and exact balance sum per
    * (nation, segment) grouping set, the grouping level `lvl`, and
    * '_all_' for a rolled-up key.
    */
  private def segmentTotals(grouped: RelationalGroupedDataset): DataFrame =
    grouped
      .agg(
        (grouping($"n_name") * 2 + grouping($"c_mktsegment")).cast("int").as("lvl"),
        count(lit(1)).as("n_cust"),
        dsum($"c_acctbal").as("sum_bal"))
      .select(
        coalesce($"n_name", lit("_all_")).as("nation"),
        coalesce($"c_mktsegment", lit("_all_")).as("segment"),
        $"lvl", $"n_cust", $"sum_bal")

  /** DuckDB twin of [[segmentTotals]] under `GROUP BY <groupingSets>`. */
  private def segmentTotalsSql(groupingSets: String, orderBy: String): String =
    s"""SELECT coalesce(n_name, '_all_') AS nation,
       |  coalesce(c_mktsegment, '_all_') AS segment,
       |  CAST(grouping(n_name) * 2 + grouping(c_mktsegment) AS INT) AS lvl,
       |  CAST(count(*) AS BIGINT) AS n_cust,
       |  CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_bal
       |FROM customer JOIN nation ON c_nationkey = n_nationkey
       |GROUP BY $groupingSets (n_name, c_mktsegment)
       |ORDER BY $orderBy""".stripMargin

  // $"..." sugar without a SparkSession-bound implicits import.
  private implicit class Sym(val sc: StringContext) {
    def $(args: Any*): org.apache.spark.sql.Column = col(sc.s(args: _*))
  }
}
