package graft.registry

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.runtime.Sources

/** Subquery surface battery: EXISTS / NOT EXISTS / NOT IN / correlated
  * scalar / uncorrelated scalar / correlated LATERAL / WITH RECURSIVE,
  * each run through `spark.sql` so the gate covers the PARSED subquery
  * forms, not hand-rewritten joins. Catalyst's decorrelation is the point: every
  * correlated form must plan as a join (semi/anti/aggregate-join) — a
  * per-row re-evaluation would be a 100 TB disaster — and PlanShapeSpec
  * pins those shapes.
  *
  * Determinism notes: `scalar_corr`'s threshold is `0.5 * avg(l_quantity
  * per part)` — l_quantity is integer-valued, so the per-group sum is
  * exact in ANY accumulation order, count is exact, and the one double
  * division + halving is correctly rounded identically in both engines;
  * the compared l_quantity values are integers, so no row sits within an
  * ulp of the boundary. `scalar_uncorr` compares against `0.5 * max`,
  * exact for the same reason. Revenue-style sums cast INPUT columns to
  * DECIMAL(18,2) before arithmetic (the q_rel_bucketed_join lesson:
  * rounding a computed double product is engine-divergent at x.xx5 ties).
  */
object SubqueryQueries {

  type Q = (SparkSession, String) => DataFrame

  /** Register the TPC-H-shaped views one query's SQL references — only
    * those: each registration resolves its table (one schema-inference
    * job), so a query pays for the tables it reads, not the battery's.
    * Per-battery-suffixed names would shield against collisions, but the
    * canonical names keep the SQL text identical to the oracle text —
    * and every registry that registers these names registers the SAME
    * frame for a given (session, dir), so last-write-wins is benign.
    */
  private def views(s: SparkSession, dir: String, tables: String*): Unit = {
    val src = Sources(s, dir)
    tables.foreach(t => src.table(t).createOrReplaceTempView(t))
  }

  val queries: Map[String, Q] = Map(
    // correlated EXISTS → left SEMI join after decorrelation (TPC-H Q4
    // shape): orders with at least one returned line, counted by priority
    "q_sub_exists" -> ((s, dir) => {
      views(s, dir, "orders", "lineitem")
      s.sql("""
        SELECT o_orderpriority, count(*) AS order_count
        FROM orders
        WHERE EXISTS (SELECT 1 FROM lineitem
                      WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
        GROUP BY o_orderpriority""")
    }),
    // correlated NOT EXISTS → left ANTI join: customers who never placed
    // an urgent order (every fixture customer has SOME order, so the
    // plain no-orders form would gate zero rows)
    "q_sub_not_exists" -> ((s, dir) => {
      views(s, dir, "customer", "orders")
      s.sql("""
        SELECT c_mktsegment, count(*) AS customer_count
        FROM customer
        WHERE NOT EXISTS (SELECT 1 FROM orders
                          WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
        GROUP BY c_mktsegment""")
    }),
    // NOT IN → NULL-AWARE anti join (the three-valued-logic form: one
    // NULL in the subquery output empties the result; l_partkey is
    // non-null here, so both engines agree on the set semantics while the
    // Spark plan still has to pick the null-aware join)
    "q_sub_not_in" -> ((s, dir) => {
      views(s, dir, "part", "lineitem")
      s.sql("""
        SELECT p_brand, count(*) AS part_count
        FROM part
        WHERE p_partkey NOT IN (SELECT l_partkey FROM lineitem WHERE l_quantity > 45)
        GROUP BY p_brand""")
    }),
    // correlated SCALAR subquery (TPC-H Q17 shape) → decorrelates to a
    // per-part aggregate joined back, NOT a per-row re-scan: lines whose
    // quantity is under half their part's average
    "q_sub_scalar_corr" -> ((s, dir) => {
      views(s, dir, "lineitem", "part")
      s.sql("""
        SELECT p_brand,
          CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS small_qty_revenue,
          count(*) AS line_count
        FROM lineitem JOIN part ON p_partkey = l_partkey
        WHERE l_quantity < 0.5 * (SELECT avg(l2.l_quantity) FROM lineitem l2
                                  WHERE l2.l_partkey = lineitem.l_partkey)
        GROUP BY p_brand""")
    }),
    // uncorrelated SCALAR subquery → evaluated once, broadcast as a
    // literal into the scan filter
    "q_sub_scalar_uncorr" -> ((s, dir) => {
      views(s, dir, "orders")
      s.sql("""
        SELECT o_orderstatus, count(*) AS big_orders
        FROM orders
        WHERE o_totalprice > 0.5 * (SELECT max(o_totalprice) FROM orders)
        GROUP BY o_orderstatus""")
    }),
    // WITH RECURSIVE (Spark 4 native): per-doc ancestor walk up the
    // doc_id halving tree (node → node div 2 until the root), rolled up
    // to docs per depth — an iterative fixpoint the planner executes as
    // repeated UNION ALL steps, depth ≈ log2(max id) ≈ 14 well under the
    // recursion limit. Both engines run the LITERAL same recursion; DIV
    // vs // is the only dialect delta (both floor on positive ids).
    "q_sub_recursive_cte" -> ((s, dir) => {
      Sources(s, dir).documents.createOrReplaceTempView("documents_rec")
      s.sql("""
        WITH RECURSIVE walk AS (
          SELECT doc_id, doc_id AS node, 0 AS steps FROM documents_rec
          UNION ALL
          SELECT doc_id, node DIV 2 AS node, steps + 1 FROM walk WHERE node > 1
        )
        SELECT steps AS depth, count(*) AS n_docs
        FROM walk WHERE node = 1 GROUP BY steps""")
    }),
    // correlated LATERAL derived table with ORDER BY + LIMIT: top-2
    // nations by customer count per region — the "top-k per outer row"
    // idiom in its declarative form (ties broken by name, deterministic)
    "q_sub_lateral" -> ((s, dir) => {
      views(s, dir, "region", "nation", "customer")
      s.sql("""
        SELECT r_name, n_name, customer_count
        FROM region, LATERAL (
          SELECT n_name, count(c_custkey) AS customer_count
          FROM nation JOIN customer ON c_nationkey = n_nationkey
          WHERE n_regionkey = r_regionkey
          GROUP BY n_name
          ORDER BY customer_count DESC, n_name
          LIMIT 2) t""")
    }),
  )

  val oracle: Map[String, String] = Map(
    "q_sub_exists" ->
      ("""SELECT o_orderpriority, count(*) AS order_count
         |FROM orders
         |WHERE EXISTS (SELECT 1 FROM lineitem
         |              WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
         |GROUP BY o_orderpriority""".stripMargin),
    "q_sub_not_exists" ->
      ("""SELECT c_mktsegment, count(*) AS customer_count
         |FROM customer
         |WHERE NOT EXISTS (SELECT 1 FROM orders
         |                  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
         |GROUP BY c_mktsegment""".stripMargin),
    "q_sub_not_in" ->
      ("""SELECT p_brand, count(*) AS part_count
         |FROM part
         |WHERE p_partkey NOT IN (SELECT l_partkey FROM lineitem WHERE l_quantity > 45)
         |GROUP BY p_brand""".stripMargin),
    "q_sub_scalar_corr" ->
      ("""SELECT p_brand,
         |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS small_qty_revenue,
         |  count(*) AS line_count
         |FROM lineitem JOIN part ON p_partkey = l_partkey
         |WHERE l_quantity < 0.5 * (SELECT avg(l2.l_quantity) FROM lineitem l2
         |                          WHERE l2.l_partkey = lineitem.l_partkey)
         |GROUP BY p_brand""".stripMargin),
    "q_sub_scalar_uncorr" ->
      ("""SELECT o_orderstatus, count(*) AS big_orders
         |FROM orders
         |WHERE o_totalprice > 0.5 * (SELECT max(o_totalprice) FROM orders)
         |GROUP BY o_orderstatus""".stripMargin),
    "q_sub_recursive_cte" ->
      ("""WITH RECURSIVE walk AS (
         |  SELECT doc_id, doc_id AS node, 0 AS steps FROM documents
         |  UNION ALL
         |  SELECT doc_id, node // 2 AS node, steps + 1 FROM walk WHERE node > 1
         |)
         |SELECT steps AS depth, count(*) AS n_docs
         |FROM walk WHERE node = 1 GROUP BY steps""".stripMargin),
    "q_sub_lateral" ->
      ("""SELECT r_name, n_name, customer_count
         |FROM region, LATERAL (
         |  SELECT n_name, count(c_custkey) AS customer_count
         |  FROM nation JOIN customer ON c_nationkey = n_nationkey
         |  WHERE n_regionkey = r_regionkey
         |  GROUP BY n_name
         |  ORDER BY customer_count DESC, n_name
         |  LIMIT 2) t""".stripMargin),
  )
}
