package graft.queries

import org.apache.spark.sql.functions._

/** TPC-H classics adapted to the driver's schema (no partsupp table, no
  * o_shippriority/l_shipmode columns) — the canonical multi-join
  * analytical shapes, included so the relational surface demonstrably
  * covers the reference workloads every warehouse is graded on: Q3
  * (shipping priority: 3-way join + top-k aggregate), Q5 (local supplier
  * volume: 6-way snowflake join with a same-nation predicate), Q10
  * (returned-item revenue per customer).
  *
  * Scale notes (100 TB): nation/region are broadcast (tiny); the
  * customer⨝orders and orders⨝lineitem joins shuffle on their keys and
  * AQE picks broadcast when the filtered build side fits; top-k results
  * go through TakeOrderedAndProject (sort + limit pushed into partial
  * per-partition top-k), never a global sort. Revenue is DECIMAL-exact
  * cents everywhere (order-independent sums).
  */
object TpchOps {

  private val Rev = "CAST(round(l_extendedprice * (1.0D - l_discount) * 100.0D, 0) AS BIGINT)"
  private val RevSql = "CAST(round(l_extendedprice * (1.0 - l_discount) * 100.0, 0) AS BIGINT)"

  val qs: Seq[QueryDef] = Seq(

    // Q3: unshipped-order revenue for one market segment — orders placed
    // before the cutoff with lines shipped after it, top 10 by revenue.
    QueryDef(
      "tpch_q3_shipping_priority",
      (s, d) => {
        val cut = "1998-06-01"
        val c = T(s, d, "customer").where(col("c_mktsegment") === "BUILDING")
          .select("c_custkey")
        val o = T(s, d, "orders").where(col("o_orderdate") < lit(cut).cast("timestamp"))
          .select("o_orderkey", "o_custkey", "o_orderdate")
        val l = T(s, d, "lineitem").where(col("l_shipdate") > lit(cut).cast("timestamp"))
          .select(col("l_orderkey"), expr(Rev).as("rev"))
        l.join(o, col("l_orderkey") === col("o_orderkey"))
          .join(c, col("o_custkey") === col("c_custkey"), "left_semi")
          .groupBy(col("l_orderkey"),
            date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_orderdate"))
          .agg(sum("rev").as("revenue_cents"))
          .orderBy(col("revenue_cents").desc, col("l_orderkey"))
          .limit(10)
      },
      Some(s"""SELECT l_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
              |  CAST(sum($RevSql) AS BIGINT) AS revenue_cents
              |FROM customer JOIN orders ON c_custkey = o_custkey
              |JOIN lineitem ON l_orderkey = o_orderkey
              |WHERE c_mktsegment = 'BUILDING'
              |  AND o_orderdate < TIMESTAMP '1998-06-01'
              |  AND l_shipdate > TIMESTAMP '1998-06-01'
              |GROUP BY 1, 2
              |ORDER BY revenue_cents DESC, l_orderkey LIMIT 10""".stripMargin)
    ),

    // Q5: revenue by nation where the customer and the line's supplier
    // share a nation, restricted to one region and one order year — the
    // snowflake join with a cross-dimension equality predicate.
    QueryDef(
      "tpch_q5_local_supplier_volume",
      (s, d) => {
        val asia = T(s, d, "region").where(col("r_name") === "ASIA").select("r_regionkey")
        val nat = T(s, d, "nation")
          .join(broadcast(asia), col("n_regionkey") === col("r_regionkey"), "left_semi")
          .select("n_nationkey", "n_name")
        val cust = T(s, d, "customer").select("c_custkey", "c_nationkey")
        val supp = T(s, d, "supplier").select("s_suppkey", "s_nationkey")
        val o = T(s, d, "orders")
          .where(col("o_orderdate") >= lit("1997-01-01").cast("timestamp") &&
            col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
          .select("o_orderkey", "o_custkey")
        val l = T(s, d, "lineitem")
          .select(col("l_orderkey"), col("l_suppkey"), expr(Rev).as("rev"))
        l.join(o, col("l_orderkey") === col("o_orderkey"))
          .join(cust, col("o_custkey") === col("c_custkey"))
          .join(broadcast(supp), col("l_suppkey") === col("s_suppkey") &&
            col("c_nationkey") === col("s_nationkey"))
          .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
          .groupBy("n_name")
          .agg(sum("rev").as("revenue_cents"))
          .orderBy(col("revenue_cents").desc, col("n_name"))
      },
      Some(s"""SELECT n_name, CAST(sum($RevSql) AS BIGINT) AS revenue_cents
              |FROM customer JOIN orders ON c_custkey = o_custkey
              |JOIN lineitem ON l_orderkey = o_orderkey
              |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
              |JOIN nation ON s_nationkey = n_nationkey
              |JOIN region ON n_regionkey = r_regionkey
              |WHERE r_name = 'ASIA'
              |  AND o_orderdate >= TIMESTAMP '1997-01-01'
              |  AND o_orderdate < TIMESTAMP '1998-01-01'
              |GROUP BY 1 ORDER BY revenue_cents DESC, n_name""".stripMargin)
    ),

    // Q10: top 20 customers by revenue lost to returned items in one
    // quarter, with their nation — the returned-goods triage report.
    QueryDef(
      "tpch_q10_returned_items",
      (s, d) => {
        val o = T(s, d, "orders")
          .where(col("o_orderdate") >= lit("1997-01-01").cast("timestamp") &&
            col("o_orderdate") < lit("1997-04-01").cast("timestamp"))
          .select("o_orderkey", "o_custkey")
        val l = T(s, d, "lineitem").where(col("l_returnflag") === "R")
          .select(col("l_orderkey"), expr(Rev).as("rev"))
        val cust = T(s, d, "customer")
          .select("c_custkey", "c_name", "c_acctbal", "c_nationkey")
        val nat = T(s, d, "nation").select("n_nationkey", "n_name")
        l.join(o, col("l_orderkey") === col("o_orderkey"))
          .join(cust, col("o_custkey") === col("c_custkey"))
          .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
          .groupBy("c_custkey", "c_name", "n_name")
          .agg(sum("rev").as("revenue_cents"),
            max(expr("CAST(round(c_acctbal * 100.0D, 0) AS BIGINT)")).as("acctbal_cents"))
          .orderBy(col("revenue_cents").desc, col("c_custkey"))
          .limit(20)
      },
      Some(s"""SELECT c_custkey, c_name, n_name,
              |  CAST(sum($RevSql) AS BIGINT) AS revenue_cents,
              |  CAST(max(CAST(round(c_acctbal * 100.0, 0) AS BIGINT)) AS BIGINT) AS acctbal_cents
              |FROM customer JOIN orders ON c_custkey = o_custkey
              |JOIN lineitem ON l_orderkey = o_orderkey
              |JOIN nation ON c_nationkey = n_nationkey
              |WHERE o_orderdate >= TIMESTAMP '1997-01-01'
              |  AND o_orderdate < TIMESTAMP '1997-04-01'
              |  AND l_returnflag = 'R'
              |GROUP BY 1, 2, 3
              |ORDER BY revenue_cents DESC, c_custkey LIMIT 20""".stripMargin)
    ),

    // Dynamic partition pruning: the fact table is staged PARTITIONED BY
    // priority, the dim side carries a non-partition predicate (urgent-ish
    // priorities by name), and the join key is the partition column — so
    // the partitions to read are only known at RUNTIME, from the dim
    // scan's result. Spark plans a DPP subquery that prunes the fact scan
    // to 2 of 5 directories (PlanShapeSpec pins `dynamicpruning` in the
    // plan); at 100 TB this is the difference between scanning the whole
    // table and scanning the two partitions the dim actually selects. The
    // oracle recomputes from the source table.
    QueryDef(
      "j13_dpp_partitioned_join",
      (s, d) => {
        val dirOut = graft.streaming.Scratch.dir("graft_dpp")
        T(s, d, "orders")
          .withColumn("cents", expr("CAST(round(o_totalprice * 100.0D, 0) AS BIGINT)"))
          .select("o_orderkey", "cents", "o_orderpriority")
          .write.mode("overwrite").partitionBy("o_orderpriority")
          .parquet(dirOut.toString)
        val fact = s.read.parquet(dirOut.toString)
        val dim = T(s, d, "orders")
          .select("o_orderpriority").distinct()
          .where(col("o_orderpriority").startsWith("1") ||
            col("o_orderpriority").startsWith("2"))
        fact.join(broadcast(dim), "o_orderpriority")
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n"), sum("cents").as("sum_cents"))
          .orderBy("o_orderpriority")
      },
      Some("""SELECT o_orderpriority, count(*) AS n,
             |  CAST(sum(CAST(round(o_totalprice * 100.0, 0) AS BIGINT)) AS BIGINT) AS sum_cents
             |FROM orders
             |WHERE o_orderpriority LIKE '1%' OR o_orderpriority LIKE '2%'
             |GROUP BY 1 ORDER BY 1""".stripMargin)
    )
  )
}
