package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.{Caches, Tables}
import graft.functions.MoneyFunctions._

/** Multi-join analytical headliners (TPC-H Q3/Q5 shapes) — the "would
  * this plan survive 100×" exercise: selective filters pushed below the
  * joins, dim sides broadcast, fact⨝fact on shuffled keys with AQE free
  * to re-plan, aggregation after the join tree.
  */
object AnalyticalQueries {
  import RelationalQueries.{Q, QFn}

  /** discounted revenue as an EXACT decimal term (r12 float-sum audit):
    * every money column is exactly 2-dp, so summing decimal images is
    * order-independent in both engines at any SF, where the old double
    * sum's low bits moved with partial-agg order once |Σ| grew —
    * [[graft.functions.MoneyFunctions.dec2]] has the margin arithmetic.
    * Spark decimal types: (12,2) × ((3,2)−(3,2) → (4,2)) → (17,4),
    * exact, far inside the 38-digit cap in both engines.
    */
  private def discounted = dec2(col("l_extendedprice")) *
    (lit(1).cast("decimal(3,2)") - rate2(col("l_discount")))
  private val discountedSql =
    s"""${dec2Sql("l_extendedprice")} * (1 - ${rate2Sql("l_discount")})"""

  val all: Seq[Q] = Seq(

    Q("h1_shipping_priority",
      (s, dir) => {
        // TPC-H Q3 shape: one dim filter broadcast, orders⨝lineitem
        // shuffled on the join key, revenue top-10.
        val cust = Tables.customer(s, dir)
          .filter(col("c_mktsegment") === "BUILDING")
          .select("c_custkey")
        val orders = Tables.orders(s, dir)
          .filter(col("o_orderdate") < to_timestamp(lit("1995-03-15")))
          .select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
        val li = Tables.lineitem(s, dir)
          .filter(col("l_shipdate") > to_timestamp(lit("1995-03-15")))
          .select("l_orderkey", "l_extendedprice", "l_discount")
        li.join(orders, col("l_orderkey") === col("o_orderkey"))
          .join(cust, col("o_custkey") === col("c_custkey"))
          .groupBy(col("l_orderkey"),
            col("o_orderdate").cast("date").cast("string").as("order_date"),
            col("o_orderpriority"))
          .agg(roundAt(sum(discounted).cast("double"), 4).as("revenue"))
          .orderBy(col("revenue").desc, col("l_orderkey"))
          .limit(10)
      },
      Some(s"""SELECT l_orderkey, CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS order_date,
              |  o_orderpriority,
              |  ${roundAtSql(s"CAST(sum($discountedSql) AS DOUBLE)", 4)} AS revenue
              |FROM lineitem
              |JOIN orders ON l_orderkey = o_orderkey
              |JOIN customer ON o_custkey = c_custkey
              |WHERE c_mktsegment = 'BUILDING'
              |  AND o_orderdate < TIMESTAMP '1995-03-15'
              |  AND l_shipdate > TIMESTAMP '1995-03-15'
              |GROUP BY 1, 2, 3
              |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin)),

    Q("h4_returned_item_ranking",
      (s, dir) => {
        // TPC-H Q10 shape: the returned-item customer ranking — fact
        // scan filtered on the return flag, one date-window order
        // filter, customer + nation broadcast dims, revenue top-20.
        // The l_returnflag predicate is pushed to the parquet scan;
        // the only big shuffle is orders⨝lineitem on the order key.
        val li = Tables.lineitem(s, dir)
          .filter(col("l_returnflag") === "R")
          .select("l_orderkey", "l_extendedprice", "l_discount")
        val orders = Tables.orders(s, dir)
          .filter(col("o_orderdate") >= to_timestamp(lit("1996-10-01")) &&
            col("o_orderdate") < to_timestamp(lit("1997-01-01")))
          .select("o_orderkey", "o_custkey")
        val cust = Tables.customer(s, dir)
          .select("c_custkey", "c_name", "c_nationkey", "c_acctbal")
        val nation = Tables.nation(s, dir).select("n_nationkey", "n_name")
        li.join(orders, col("l_orderkey") === col("o_orderkey"))
          .join(cust, col("o_custkey") === col("c_custkey"))
          .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
          .groupBy(col("c_custkey"), col("c_name"), col("n_name"),
            roundAt(col("c_acctbal"), 2).as("c_acctbal"))
          .agg(roundAt(sum(discounted).cast("double"), 4)
            .as("revenue"))
          .orderBy(col("revenue").desc, col("c_custkey"))
          .limit(20)
      },
      Some(s"""SELECT c_custkey, c_name, n_name,
              |  ${roundAtSql("c_acctbal", 2)} AS c_acctbal,
              |  ${roundAtSql(s"CAST(sum($discountedSql) AS DOUBLE)", 4)} AS revenue
              |FROM lineitem
              |JOIN orders ON l_orderkey = o_orderkey
              |JOIN customer ON o_custkey = c_custkey
              |JOIN nation ON c_nationkey = n_nationkey
              |WHERE l_returnflag = 'R'
              |  AND o_orderdate >= TIMESTAMP '1996-10-01'
              |  AND o_orderdate < TIMESTAMP '1997-01-01'
              |GROUP BY 1, 2, 3, 4
              |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin)),

    Q("h2_local_supplier_volume",
      (s, dir) => {
        // TPC-H Q5 shape: a 6-way join grouped by nation. Only the
        // truly bounded dims (region, nation) carry broadcast hints;
        // customer/supplier are SF-scaled, so their join strategy is
        // left to AQE — it broadcasts them at bench scale (pinned in
        // PlanAuditSpec) and switches to shuffle joins at the scale
        // where a forced broadcast would OOM the executors.
        val asia = Tables.region(s, dir).filter(col("r_name") === "ASIA")
        val nation = Tables.nation(s, dir)
          .join(broadcast(asia), col("n_regionkey") === col("r_regionkey"))
          .select("n_nationkey", "n_name")
        val orders = Tables.orders(s, dir)
          .filter(col("o_orderdate") >= to_timestamp(lit("1994-01-01")) &&
            col("o_orderdate") < to_timestamp(lit("1995-01-01")))
          .select("o_orderkey", "o_custkey")
        Tables.lineitem(s, dir)
          .select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
          .join(orders, col("l_orderkey") === col("o_orderkey"))
          .join(Tables.customer(s, dir).select("c_custkey", "c_nationkey"),
            col("o_custkey") === col("c_custkey"))
          .join(Tables.supplier(s, dir).select("s_suppkey", "s_nationkey"),
            col("l_suppkey") === col("s_suppkey") &&
              col("c_nationkey") === col("s_nationkey"))
          .join(broadcast(nation), col("s_nationkey") === col("n_nationkey"))
          .groupBy("n_name")
          .agg(roundAt(sum(discounted).cast("double"), 4).as("revenue"))
          .orderBy(col("revenue").desc, col("n_name"))
      },
      Some(s"""SELECT n_name,
              |  ${roundAtSql(s"CAST(sum($discountedSql) AS DOUBLE)", 4)} AS revenue
              |FROM lineitem
              |JOIN orders ON l_orderkey = o_orderkey
              |JOIN customer ON o_custkey = c_custkey
              |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
              |JOIN nation ON s_nationkey = n_nationkey
              |JOIN region ON n_regionkey = r_regionkey
              |WHERE r_name = 'ASIA'
              |  AND o_orderdate >= TIMESTAMP '1994-01-01'
              |  AND o_orderdate < TIMESTAMP '1995-01-01'
              |GROUP BY 1 ORDER BY revenue DESC, n_name""".stripMargin)),

    Q("h5_large_order_customers",
      (s, dir) => {
        // TPC-H Q18 shape: the big-buyer scan — the fact table
        // semi-joined against its OWN aggregate (orders whose summed
        // quantity clears a threshold). The aggregate-then-filter runs
        // first as one map-side-combinable groupBy; the HAVING filter
        // makes its output selective (a few % of orders), so the
        // orders⨝big join shuffles only the filtered key set and AQE is
        // free to demote it to a broadcast at runtime. total_qty rides
        // the aggregate — lineitem is scanned exactly once.
        val big = Tables.lineitem(s, dir)
          .groupBy("l_orderkey")
          .agg(sum("l_quantity").as("total_qty"))
          .filter(col("total_qty") > 150)
        val orders = Tables.orders(s, dir)
          .select("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice")
        val cust = Tables.customer(s, dir).select("c_custkey", "c_name")
        big.join(orders, col("l_orderkey") === col("o_orderkey"))
          .join(cust, col("o_custkey") === col("c_custkey"))
          .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
            col("o_orderdate").cast("date").cast("string").as("order_date"),
            roundAt(col("o_totalprice"), 2).as("total_price"),
            roundAt(col("total_qty"), 2).as("total_qty"))
          .orderBy(col("total_price").desc, col("o_orderkey"))
          .limit(100)
      },
      Some(s"""WITH big AS (
              |  SELECT l_orderkey, sum(l_quantity) AS total_qty
              |  FROM lineitem GROUP BY 1 HAVING sum(l_quantity) > 150)
              |SELECT c_name, c_custkey, o_orderkey,
              |  CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS order_date,
              |  ${roundAtSql("o_totalprice", 2)} AS total_price,
              |  ${roundAtSql("total_qty", 2)} AS total_qty
              |FROM big
              |JOIN orders ON o_orderkey = l_orderkey
              |JOIN customer ON c_custkey = o_custkey
              |ORDER BY total_price DESC, o_orderkey LIMIT 100""".stripMargin)),

    Q("h6_parts_supplier_counts",
      (s, dir) => {
        // TPC-H Q16 shape: distinct-supplier counts per part attribute
        // with a NOT-IN exclusion subquery. The exclusion set (suppliers
        // in bad standing) is dimension-sized → broadcast LEFT ANTI join,
        // the cheapest possible NOT IN at any scale (never a shuffle of
        // the fact side). part is a broadcast dim; the only fact shuffle
        // is the two-phase distinct aggregation on (attrs, suppkey) —
        // Spark plans count(DISTINCT) as partial-distinct then count,
        // which is exactly the map-side-combinable shape a 100 TB scan
        // needs.
        val excluded = Tables.supplier(s, dir)
          .filter(col("s_acctbal") < 0).select("s_suppkey")
        val partDim = Tables.part(s, dir)
          .filter(col("p_size") <= 20 && !col("p_type").startsWith("STANDARD"))
          .select("p_partkey", "p_brand", "p_type", "p_size")
        Tables.lineitem(s, dir)
          .select("l_partkey", "l_suppkey")
          .join(excluded, col("l_suppkey") === col("s_suppkey"), "left_anti")
          .join(partDim, col("l_partkey") === col("p_partkey"))
          .groupBy("p_brand", "p_type", "p_size")
          .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
          .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"), col("p_size"))
          .limit(20)
      },
      Some("""SELECT p_brand, p_type, p_size,
             |  count(DISTINCT l_suppkey) AS supplier_cnt
             |FROM lineitem JOIN part ON l_partkey = p_partkey
             |WHERE p_size <= 20 AND p_type NOT LIKE 'STANDARD%'
             |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
             |GROUP BY 1, 2, 3
             |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size LIMIT 20""".stripMargin)),

    Q("h8_small_quantity_revenue",
      (s, dir) => {
        // TPC-H Q17 shape — the correlated scalar subquery DECORRELATED:
        // "yearly revenue lost if small orders (< half a part's average
        // quantity) weren't filled" compares every lineitem row to its
        // OWN part's average. Row-at-a-time that's one subquery per row;
        // the scalable form computes the per-part average once and
        // rejoins it. Here the brand filter broadcasts and prunes the
        // fact scan FIRST, then the average arrives as a window over
        // l_partkey — ONE key shuffle, no agg+self-join re-scan of the
        // pruned facts. avg(l_quantity) is exact-integer-sum / count,
        // one IEEE division, so the unrounded < comparison agrees
        // across engines bit-for-bit.
        val parts = Tables.part(s, dir)
          .filter(col("p_brand") === "Brand#4").select("p_partkey")
        val liBrand = Tables.lineitem(s, dir)
          .select("l_partkey", "l_quantity", "l_extendedprice")
          .join(parts, col("l_partkey") === col("p_partkey"))
        val byPart = Window.partitionBy("l_partkey")
        liBrand
          .withColumn("avg_qty", avg("l_quantity").over(byPart))
          .filter(col("l_quantity") < lit(0.5) * col("avg_qty"))
          .agg(count(lit(1)).as("n_small"),
            roundAt(sum(dec2(col("l_extendedprice"))).cast("double") / 7.0, 2).as("avg_yearly"))
      },
      Some(s"""WITH p AS (SELECT p_partkey FROM part WHERE p_brand = 'Brand#4'),
              |l AS (SELECT l_partkey, l_quantity, l_extendedprice
              |      FROM lineitem JOIN p ON p_partkey = l_partkey),
              |a AS (SELECT l_partkey, avg(l_quantity) AS avg_qty FROM l GROUP BY 1)
              |SELECT count(*) AS n_small,
              |  ${roundAtSql(s"CAST(sum(${dec2Sql("l.l_extendedprice")}) AS DOUBLE) / 7.0", 2)} AS avg_yearly
              |FROM l JOIN a USING (l_partkey)
              |WHERE l.l_quantity < 0.5 * a.avg_qty""".stripMargin)),

    Q("h7_sole_fault_suppliers",
      (s, dir) => {
        // TPC-H Q21 shape: the EXISTS + NOT-EXISTS self-join pair on the
        // same fact — suppliers with a returned line in a finalized
        // multi-supplier order where NO other supplier had a returned
        // line (the "sole party at fault" scan). Both correlated
        // subqueries compile to one LEFT SEMI and one LEFT ANTI join
        // against (orderkey, suppkey)-distinct projections of lineitem,
        // all shuffled on l_orderkey — three scans of the same fact
        // co-partition on one key, so AQE can reuse the exchange; no
        // row-at-a-time correlated execution anywhere.
        val finalized = Tables.orders(s, dir)
          .filter(col("o_orderstatus") === "F").select("o_orderkey")
        val base = Tables.lineitem(s, dir)
          .filter(col("l_returnflag") === "R")
          .select("l_orderkey", "l_suppkey").distinct()
          .join(finalized, col("l_orderkey") === col("o_orderkey"))
          .select("l_orderkey", "l_suppkey")
        val anyOther = Tables.lineitem(s, dir)
          .select(col("l_orderkey").as("o_ok"), col("l_suppkey").as("o_sk")).distinct()
        val otherReturned = Tables.lineitem(s, dir)
          .filter(col("l_returnflag") === "R")
          .select(col("l_orderkey").as("r_ok"), col("l_suppkey").as("r_sk")).distinct()
        base
          .join(anyOther,
            col("l_orderkey") === col("o_ok") && col("l_suppkey") =!= col("o_sk"),
            "left_semi")
          .join(otherReturned,
            col("l_orderkey") === col("r_ok") && col("l_suppkey") =!= col("r_sk"),
            "left_anti")
          .join(Tables.supplier(s, dir).select("s_suppkey", "s_name"),
            col("l_suppkey") === col("s_suppkey"))
          .groupBy("s_name")
          .agg(count(lit(1)).as("numwait"))
          .orderBy(col("numwait").desc, col("s_name"))
          .limit(20)
      },
      Some("""WITH base AS (
             |  SELECT DISTINCT l_orderkey, l_suppkey
             |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
             |  WHERE l_returnflag = 'R' AND o_orderstatus = 'F')
             |SELECT s_name, count(*) AS numwait
             |FROM base b JOIN supplier ON b.l_suppkey = s_suppkey
             |WHERE EXISTS (
             |    SELECT 1 FROM lineitem l2
             |    WHERE l2.l_orderkey = b.l_orderkey AND l2.l_suppkey <> b.l_suppkey)
             |  AND NOT EXISTS (
             |    SELECT 1 FROM lineitem l3
             |    WHERE l3.l_orderkey = b.l_orderkey AND l3.l_suppkey <> b.l_suppkey
             |      AND l3.l_returnflag = 'R')
             |GROUP BY 1 ORDER BY numwait DESC, s_name LIMIT 20""".stripMargin)),

    Q("h9_late_shipment_priority",
      (s, dir) => {
        // TPC-H Q4 shape: the correlated EXISTS probe — count orders per
        // priority in a quarter that have AT LEAST ONE late line
        // (shipped > 60 days after ordering). The subquery compiles to a
        // LEFT SEMI join on l_orderkey with the cross-table date
        // predicate as a residual — the fact is touched once, the semi
        // join emits each order at most once (no distinct needed), and
        // the quarter filter prunes the probe side before the shuffle.
        val o = Tables.orders(s, dir)
          .filter(col("o_orderdate") >= lit("1996-01-01") &&
            col("o_orderdate") < lit("1996-04-01"))
          .select("o_orderkey", "o_orderdate", "o_orderpriority")
        o.join(Tables.lineitem(s, dir).select("l_orderkey", "l_shipdate"),
            col("l_orderkey") === col("o_orderkey") &&
              col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"),
            "left_semi")
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("order_count"))
          .orderBy("o_orderpriority")
      },
      Some("""SELECT o_orderpriority, count(*) AS order_count
             |FROM orders
             |WHERE o_orderdate >= TIMESTAMP '1996-01-01'
             |  AND o_orderdate < TIMESTAMP '1996-04-01'
             |  AND EXISTS (SELECT 1 FROM lineitem
             |              WHERE l_orderkey = o_orderkey
             |                AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    Q("h10_untapped_customers",
      (s, dir) => {
        // TPC-H Q22 shape: scalar subquery + NOT EXISTS — high-balance
        // customers in a country set with no order since 2000 (the
        // testdata's key space is dense, so "never ordered" would be
        // empty; "lapsed" keeps the same plan shape non-degenerate).
        // The global average decorrelates to a 1-row broadcast (the a23
        // scalar pattern); the NOT EXISTS is a LEFT ANTI join on
        // o_custkey with the date filter pruning the anti side BEFORE
        // the shuffle. The threshold is computed from exact cent-longs
        // so the sum is order-independent and the unrounded > compare
        // agrees across engines bit-for-bit (a raw double sum's
        // partial-order ulps could flip boundary rows).
        val eligible = Tables.customer(s, dir)
          .filter(col("c_nationkey").isin(1, 3, 5, 7, 9, 11, 13))
          .select("c_custkey", "c_nationkey", "c_acctbal")
        val thr = eligible.filter(col("c_acctbal") > 0.0)
          .agg((sum(floor(col("c_acctbal") * 100 + lit(0.5)).cast("long")).cast("double") /
            (lit(100.0) * count(lit(1)))).as("thr"))
        eligible.crossJoin(broadcast(thr))
          .filter(col("c_acctbal") > col("thr"))
          .join(Tables.orders(s, dir)
              .filter(col("o_orderdate") >= lit("2000-01-01")).select("o_custkey"),
            col("c_custkey") === col("o_custkey"), "left_anti")
          .groupBy("c_nationkey")
          .agg(count(lit(1)).as("numcust"), roundAt(sum(dec2(col("c_acctbal"))).cast("double"), 2).as("totacctbal"))
          .orderBy("c_nationkey")
      },
      Some(s"""WITH eligible AS (
              |  SELECT c_custkey, c_nationkey, c_acctbal FROM customer
              |  WHERE c_nationkey IN (1, 3, 5, 7, 9, 11, 13)),
              |thr AS (
              |  SELECT CAST(sum(CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT)) AS DOUBLE)
              |           / (100.0 * count(*)) AS thr
              |  FROM eligible WHERE c_acctbal > 0.0)
              |SELECT c_nationkey, count(*) AS numcust,
              |  ${roundAtSql(s"CAST(sum(${dec2Sql("c_acctbal")}) AS DOUBLE)", 2)} AS totacctbal
              |FROM eligible, thr
              |WHERE c_acctbal > thr
              |  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
              |                  AND o_orderdate >= TIMESTAMP '2000-01-01')
              |GROUP BY 1 ORDER BY 1""".stripMargin)),

    Q("h11_customer_distribution",
      (s, dir) => {
        // TPC-H Q13 shape: outer join + double aggregation — the
        // orders-per-customer distribution including zero-order
        // customers (the rows an inner join would silently drop). First
        // aggregation is customer-keyed (count of matched order rows,
        // nulls counting 0 via count(col)); the second is a tiny
        // histogram over distinct counts. The status filter lands on
        // the orders side BEFORE the join, mirroring Q13's
        // filter-in-join-condition semantics.
        val o = Tables.orders(s, dir)
          .filter(col("o_orderstatus") =!= "P").select("o_custkey")
        Tables.customer(s, dir).select("c_custkey")
          .join(o, col("c_custkey") === col("o_custkey"), "left")
          .groupBy("c_custkey")
          .agg(count(col("o_custkey")).as("c_count"))
          .groupBy("c_count")
          .agg(count(lit(1)).as("custdist"))
          .orderBy(col("custdist").desc, col("c_count").desc)
      },
      Some("""SELECT c_count, count(*) AS custdist FROM (
             |  SELECT c_custkey, count(o_custkey) AS c_count
             |  FROM customer LEFT JOIN orders
             |    ON c_custkey = o_custkey AND o_orderstatus <> 'P'
             |  GROUP BY 1)
             |GROUP BY 1 ORDER BY custdist DESC, c_count DESC""".stripMargin)),

    Q("v11_equidepth_histogram",
      (s, dir) => {
        // ANALYZE-style equi-depth histogram (the optimizer-stats
        // companion to v9's column profile / v10's fingerprint): 8
        // equal-population buckets per group with exact bounds. ntile
        // over a (group)-partitioned window — each group sorts locally
        // in its own partition, no global sort; the tie-break columns
        // make the ordering total so both engines bucket identically.
        // At 100 TB the exact ntile swaps for approx_percentile
        // boundaries (z5) + a narrow width_bucket assignment pass —
        // same output shape, no per-group sort.
        val w = Window.partitionBy("l_returnflag")
          .orderBy(col("l_extendedprice"), col("l_orderkey"), col("l_linenumber"))
        Tables.lineitem(s, dir)
          .select("l_returnflag", "l_extendedprice", "l_orderkey", "l_linenumber")
          .withColumn("bucket", ntile(8).over(w).cast("long"))
          .groupBy("l_returnflag", "bucket")
          .agg(count(lit(1)).as("n"),
            min("l_extendedprice").as("lo"), max("l_extendedprice").as("hi"))
          .orderBy("l_returnflag", "bucket")
      },
      Some("""SELECT l_returnflag, CAST(bucket AS BIGINT) AS bucket, count(*) AS n,
             |  min(l_extendedprice) AS lo, max(l_extendedprice) AS hi
             |FROM (SELECT l_returnflag, l_extendedprice,
             |        ntile(8) OVER (PARTITION BY l_returnflag
             |          ORDER BY l_extendedprice, l_orderkey, l_linenumber) AS bucket
             |      FROM lineitem)
             |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    Q("h12_disjunctive_join",
      (s, dir) => {
        // TPC-H Q19 shape: an OR-of-ANDs join predicate spanning BOTH
        // sides (three brand/size/quantity bands) — the stress case for
        // predicate normalization: the join must stay a p_partkey
        // equi-join with the disjunction as a residual, while Catalyst's
        // CNF conversion extracts the single-side implicates
        // (brand ∈ {…}, size bounds, quantity bounds) and pushes them
        // into the scans — a naive planner evaluates the OR row-at-a-
        // time post-join with unfiltered inputs. One aggregate row out.
        val l = Tables.lineitem(s, dir)
          .select("l_partkey", "l_quantity", "l_extendedprice", "l_discount")
        val p = Tables.part(s, dir).select("p_partkey", "p_brand", "p_size")
        def band(brand: String, sizeHi: Int, qLo: Int, qHi: Int) =
          col("p_brand") === brand &&
            col("p_size").between(1, sizeHi) &&
            col("l_quantity").between(qLo, qHi)
        l.join(p, col("l_partkey") === col("p_partkey") &&
            (band("Brand#12", 5, 1, 11) ||
             band("Brand#23", 10, 10, 20) ||
             band("Brand#34", 15, 20, 30)))
          .agg(count(lit(1)).as("n"),
            roundAt(sum(discounted).cast("double"), 4)
              .as("revenue"))
      },
      Some(s"""SELECT count(*) AS n,
              |  ${roundAtSql(s"CAST(sum($discountedSql) AS DOUBLE)", 4)} AS revenue
              |FROM lineitem JOIN part ON l_partkey = p_partkey
              |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
              |       AND l_quantity BETWEEN 1 AND 11)
              |   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
              |       AND l_quantity BETWEEN 10 AND 20)
              |   OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15
              |       AND l_quantity BETWEEN 20 AND 30)""".stripMargin)),

    Q("h13_promo_revenue_share",
      (s, dir) => {
        // TPC-H Q14 shape: conditional share of a joined measure — what
        // fraction of one month's discounted revenue came from ECONOMY
        // parts. Numerator and denominator ride the SAME aggregate pass
        // (a CASE inside sum — never two scans); the date filter prunes
        // the fact scan, the part side broadcasts. Both sums go through
        // exact cent-longs: the ratio divides two order-independent
        // integers, so the share needs no rounding slack at all (the
        // h10 discipline), and only the final percentage rounds.
        def cents(c: org.apache.spark.sql.Column) =
          sum(floor(c * 100 + lit(0.5)).cast("long"))
        val l = Tables.lineitem(s, dir)
          .filter(col("l_shipdate") >= lit("1996-03-01") &&
            col("l_shipdate") < lit("1996-04-01"))
          .select("l_partkey", "l_extendedprice", "l_discount")
        val rev = col("l_extendedprice") * (lit(1.0) - col("l_discount"))
        l.join(Tables.part(s, dir).select("p_partkey", "p_type"),
            col("l_partkey") === col("p_partkey"))
          .agg(
            cents(when(col("p_type").contains("ECONOMY"), rev).otherwise(0.0))
              .as("promo_cents"),
            cents(rev).as("total_cents"))
          .withColumn("promo_share_pct", roundAt(
            lit(100.0) * col("promo_cents").cast("double")
              / col("total_cents").cast("double"), 6))
      },
      Some(s"""SELECT
              |  CAST(sum(CAST(floor(CASE WHEN p_type LIKE '%ECONOMY%'
              |    THEN l_extendedprice * (1.0 - l_discount) ELSE 0.0 END * 100 + 0.5)
              |    AS BIGINT)) AS BIGINT) AS promo_cents,
              |  CAST(sum(CAST(floor(l_extendedprice * (1.0 - l_discount) * 100 + 0.5)
              |    AS BIGINT)) AS BIGINT) AS total_cents,
              |  ${roundAtSql(
                   "100.0 * CAST(sum(CAST(floor(CASE WHEN p_type LIKE '%ECONOMY%' " +
                   "THEN l_extendedprice * (1.0 - l_discount) ELSE 0.0 END * 100 + 0.5) AS BIGINT)) AS DOUBLE) " +
                   "/ CAST(sum(CAST(floor(l_extendedprice * (1.0 - l_discount) * 100 + 0.5) AS BIGINT)) AS DOUBLE)", 6)}
              |    AS promo_share_pct
              |FROM lineitem JOIN part ON l_partkey = p_partkey
              |WHERE l_shipdate >= TIMESTAMP '1996-03-01'
              |  AND l_shipdate < TIMESTAMP '1996-04-01'""".stripMargin)),

    Q("h3_sql_entrypoint",
      (s, dir) => {
        // the spark.sql(...) surface: same engine, SQL text in — register
        // the tables as temp views and run ANSI SQL directly. Shows a
        // reference user can keep writing SQL against this library.
        Tables.lineitem(s, dir).createOrReplaceTempView("lineitem_v")
        Tables.part(s, dir).createOrReplaceTempView("part_v")
        s.sql(s"""
          |SELECT p_type, count(*) AS n,
          |  floor(CAST(sum($discountedSql) AS DOUBLE) * 10000 + 0.5) / 10000 AS revenue
          |FROM lineitem_v JOIN part_v ON l_partkey = p_partkey
          |WHERE p_size <= 15
          |GROUP BY p_type
          |ORDER BY p_type""".stripMargin)
      },
      Some(s"""SELECT p_type, count(*) AS n,
              |  ${roundAtSql(s"CAST(sum($discountedSql) AS DOUBLE)", 4)} AS revenue
              |FROM lineitem JOIN part ON l_partkey = p_partkey
              |WHERE p_size <= 15
              |GROUP BY p_type ORDER BY p_type""".stripMargin)),

    Q("j7_asof_join",
      (s, dir) => {
        // AS-OF JOIN — an operator Spark lacks natively (SURVEY §7.3
        // preference (a): compose existing ops). For each purchase, the
        // most recent click by the same user at-or-before the purchase.
        // Implementation is the scalable union-sort-window pattern: tag
        // both sides, one shuffle on user_id, running last(click_ts)
        // within the (ts, side)-sorted partition — no range-join pair
        // explosion, state O(1) per row. Output carries only the matched
        // timestamp so exact-tie ties are value-identical across engines.
        // DuckDB verifies with its native ASOF LEFT JOIN.
        val ev = Tables.eventsTs(s, dir)
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("ts_us"),
            lit(1).as("is_purchase"))
        val clicks = ev.filter(col("event_type") === "click")
          .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("ts_us"),
            lit(0).as("is_purchase"))
        // clicks sort before purchases at equal ts so "at-or-before"
        // includes same-instant clicks, matching ASOF's <= bound
        val w = Window.partitionBy("user_id")
          .orderBy(col("ts_us"), col("is_purchase"), col("event_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        purchases.unionByName(clicks)
          .withColumn("last_click_ts_us",
            last(when(col("is_purchase") === 0, col("ts_us")), ignoreNulls = true).over(w))
          .filter(col("is_purchase") === 1)
          .select(col("event_id").as("purchase_id"), col("user_id"), col("last_click_ts_us"))
          .orderBy("purchase_id")
      },
      Some("""SELECT p.event_id AS purchase_id, p.user_id,
             |  epoch_us(CAST(c.ts AS TIMESTAMP)) AS last_click_ts_us
             |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
             |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
             |  ON p.user_id = c.user_id AND c.ts <= p.ts
             |ORDER BY 1""".stripMargin)),

    Q("j8_range_join_bucketed",
      (s, dir) => {
        // RANGE JOIN via bucketing — the scalable composition for the
        // other operator Spark lacks natively: expand each band into the
        // fixed-width buckets it overlaps, equi-join events on their
        // bucket, then refine with the exact range predicate. One
        // codegen'd hash join instead of the O(|events|·|bands|)
        // nested-loop a naive theta join degrades to; bands overlap on
        // purpose (a true many-to-many range join).
        import s.implicits._
        val bands = Seq(
          ("b0_low", 0.0, 25.0), ("b1_mid", 20.0, 50.0), ("b2_high", 50.0, 75.0),
          ("b3_wide", 40.0, 100.0), ("b4_tail", 90.0, 200.0))
          .toDF("band_id", "low", "high")
        val width = 10.0
        val bandBuckets = bands.withColumn("bucket", explode(expr(
          s"sequence(cast(floor(low / $width) as long), cast(floor((high - 0.000001) / $width) as long))")))
        Tables.eventsTs(s, dir)
          .withColumn("bucket", floor(col("value") / width).cast("long"))
          .join(broadcast(bandBuckets), Seq("bucket"))
          .filter(col("value") >= col("low") && col("value") < col("high"))
          .groupBy("band_id")
          .agg(count(lit(1)).as("n"), roundAt(sum(dec2(col("value"))).cast("double"), 4).as("sum_value"))
          .orderBy("band_id")
      },
      Some(s"""WITH bands(band_id, low, high) AS (VALUES
              |  ('b0_low', 0.0, 25.0), ('b1_mid', 20.0, 50.0), ('b2_high', 50.0, 75.0),
              |  ('b3_wide', 40.0, 100.0), ('b4_tail', 90.0, 200.0))
              |SELECT band_id, count(*) AS n, ${roundAtSql(s"CAST(sum(${dec2Sql("value")}) AS DOUBLE)", 4)} AS sum_value
              |FROM events e JOIN bands b ON e.value >= b.low AND e.value < b.high
              |GROUP BY 1 ORDER BY 1""".stripMargin)),

    Q("v9_column_profile",
      (s, dir) => {
        // data profiling — the ANALYZE-style report every intake
        // pipeline prints before writing validation rules: per column,
        // null count, distinct count, and min/max (rendered as strings
        // so one report row shape covers every type; the timestamp
        // column renders at date grain, the cross-engine-stable form).
        // The multiple exact count-distincts expand the scan once per
        // profiled column (Spark's Expand) — the standard profiling
        // tradeoff; at 100 TB swap them for approx_count_distinct
        // (z3's HLL sketch) and the whole report is a single narrow
        // pass with a 6-row output. The unpivot to rows is a stack()
        // generator over the one aggregated row — no extra scan.
        val dateCols = Set("o_orderdate")
        val cols = Seq("o_custkey", "o_orderdate", "o_orderkey",
          "o_orderpriority", "o_orderstatus", "o_totalprice")
        def rendered(c: String, agg: org.apache.spark.sql.Column) =
          if (dateCols(c)) agg.cast("date").cast("string") else agg.cast("string")
        // two single-row aggregation passes, not one: a min(string) buffer
        // is immutable, which forces the WHOLE aggregate sort-based — and
        // in a combined plan that includes the count-distinct Expand, so
        // the n×|cols| expanded rows get fully SORTED before aggregation.
        // Split, the distinct pass stays pure HashAggregate (long buffers)
        // and the min/max pass is an ungrouped SortAggregate with no Sort
        // below it (empty grouping requires no ordering). Measured ~2×
        // on this query at sf0.1; the 1-row cross join is free.
        val ndAggs = cols.map(c => countDistinct(col(c)).as(s"${c}__nd"))
        val mmAggs = cols.flatMap { c => Seq(
          sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"${c}__nulls"),
          rendered(c, min(col(c))).as(s"${c}__min"),
          rendered(c, max(col(c))).as(s"${c}__max")) }
        val stacked = cols.map(c =>
          s"'$c', ${c}__nulls, ${c}__nd, ${c}__min, ${c}__max").mkString(", ")
        val orders = Tables.orders(s, dir)
        orders.agg(count(lit(1)).as("n_rows"), mmAggs: _*)
          .crossJoin(orders.agg(ndAggs.head, ndAggs.tail: _*))
          .selectExpr("n_rows", s"stack(${cols.size}, $stacked) AS " +
            "(col_name, null_count, n_distinct, min_value, max_value)")
          .select("col_name", "n_rows", "null_count", "n_distinct",
            "min_value", "max_value")
          .orderBy("col_name")
      },
      Some {
        val dateCols = Set("o_orderdate")
        val cols = Seq("o_custkey", "o_orderdate", "o_orderkey",
          "o_orderpriority", "o_orderstatus", "o_totalprice")
        def r(c: String, f: String) =
          if (dateCols(c)) s"CAST(CAST($f($c) AS DATE) AS VARCHAR)"
          else s"CAST($f($c) AS VARCHAR)"
        val aggSql = cols.map { c =>
          s"""CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS ${c}__nulls,
             |    count(DISTINCT $c) AS ${c}__nd,
             |    ${r(c, "min")} AS ${c}__min, ${r(c, "max")} AS ${c}__max""".stripMargin
        }.mkString(",\n    ")
        val rows = cols.map(c =>
          s"""SELECT '$c' AS col_name, n_rows, ${c}__nulls AS null_count,
             |  ${c}__nd AS n_distinct, ${c}__min AS min_value, ${c}__max AS max_value
             |FROM a""".stripMargin).mkString("\nUNION ALL\n")
        s"""WITH a AS (
           |  SELECT count(*) AS n_rows,
           |    $aggSql
           |  FROM orders)
           |$rows
           |ORDER BY col_name""".stripMargin
      }),

    Q("g1_array_kit",
      (s, dir) => Tables.documents(s, dir)
        .filter(col("text").isNotNull) // t1's NULL-text contract
        .withColumn("w", split(col("text"), " "))
        .select(col("doc_id"),
          array_contains(col("w"), "spark").as("has_spark"),
          // arrays emitted as joined strings: the driver's value hash
          // may render engine-native array types differently
          concat_ws("|", slice(col("w"), 1, 3)).as("first3"),
          concat_ws("|", array_sort(array_distinct(slice(col("w"), 1, 10)))).as("sorted10"),
          size(array_remove(col("w"), "the")).cast("long").as("n_no_the"),
          element_at(col("w"), -1).as("last_word"))
        .orderBy("doc_id"),
      Some("""SELECT doc_id,
             |  list_contains(w, 'spark') AS has_spark,
             |  array_to_string(w[1:3], '|') AS first3,
             |  array_to_string(list_sort(list_distinct(w[1:10])), '|') AS sorted10,
             |  CAST(len(list_filter(w, x -> x <> 'the')) AS BIGINT) AS n_no_the,
             |  w[-1] AS last_word
             |FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents
             |      WHERE text IS NOT NULL)
             |ORDER BY 1""".stripMargin)),

    Q("a20_grouped_regression",
      (s, dir) => {
        // per-group closed-form linear regression (price ~ quantity) —
        // the feature-engineering fit that runs as ONE partial+final
        // shuffle over a 100 TB fact (each partial carries only the six
        // sufficient statistics n, Σx, Σy, Σxy, Σx², Σy²; no per-row
        // state, no iterative solver). r12 float-sum audit: the regr_*
        // aggregates accumulate DOUBLE moments whose low bits move with
        // partial-merge order — an empirical pin that flakes at big SF —
        // so the statistics now accumulate in DECIMAL (exact, order-free
        // in both engines; the 2-dp inputs are exactly decimal-imaged)
        // and slope/intercept/r² derive from them in the SAME double
        // expression structure as the DuckDB twin (t17's discipline).
        val xd = dec2(col("l_quantity"))
        val yd = dec2(col("l_extendedprice"))
        val sums = Tables.lineitem(s, dir)
          .groupBy("l_returnflag")
          .agg(count(lit(1)).as("n0"),
            sum(xd).as("sxd"), sum(yd).as("syd"),
            sum(xd * xd).as("sxxd"), sum(xd * yd).as("sxyd"),
            sum(yd * yd).as("syyd"))
          .select(col("l_returnflag"), col("n0"),
            col("n0").cast("double").as("nn"),
            col("sxd").cast("double").as("sx"),
            col("syd").cast("double").as("sy"),
            col("sxxd").cast("double").as("sxx"),
            col("sxyd").cast("double").as("sxy"),
            col("syyd").cast("double").as("syy"))
        val num = col("nn") * col("sxy") - col("sx") * col("sy")
        val den = col("nn") * col("sxx") - col("sx") * col("sx")
        val slope = num / den
        sums.select(col("l_returnflag"), col("n0").as("n"),
            roundAt(slope, 6).as("slope"),
            roundAt((col("sy") - slope * col("sx")) / col("nn"), 4).as("intercept"),
            roundAt(num * num / (den *
              (col("nn") * col("syy") - col("sy") * col("sy"))), 6).as("r2"))
          .orderBy("l_returnflag")
      },
      Some {
        val slope = "((nn * sxy - sx * sy) / (nn * sxx - sx * sx))"
        s"""WITH st AS (
           |  SELECT l_returnflag, count(*) AS n0,
           |    CAST(count(*) AS DOUBLE) AS nn,
           |    CAST(sum(${dec2Sql("l_quantity")}) AS DOUBLE) AS sx,
           |    CAST(sum(${dec2Sql("l_extendedprice")}) AS DOUBLE) AS sy,
           |    CAST(sum(${dec2Sql("l_quantity")} * ${dec2Sql("l_quantity")}) AS DOUBLE) AS sxx,
           |    CAST(sum(${dec2Sql("l_quantity")} * ${dec2Sql("l_extendedprice")}) AS DOUBLE) AS sxy,
           |    CAST(sum(${dec2Sql("l_extendedprice")} * ${dec2Sql("l_extendedprice")}) AS DOUBLE) AS syy
           |  FROM lineitem GROUP BY 1)
           |SELECT l_returnflag, n0 AS n,
           |  ${roundAtSql(slope, 6)} AS slope,
           |  ${roundAtSql(s"(sy - $slope * sx) / nn", 4)} AS intercept,
           |  ${roundAtSql("(nn * sxy - sx * sy) * (nn * sxy - sx * sy) / ((nn * sxx - sx * sx) * (nn * syy - sy * sy))", 6)} AS r2
           |FROM st ORDER BY 1""".stripMargin
      }),

    Q("a21_winsorized_mean",
      (s, dir) => {
        // winsorized aggregation — outlier-robust feature cleaning: clamp
        // each value to its group's exact [p05, p95] band, then average.
        // Two passes: pass 1 computes group quantiles (group-count-sized
        // output → broadcast), pass 2 clamps and re-aggregates narrowly.
        // At 100 TB swap pass 1 for approx_percentile (z5's sketch) and
        // the whole thing is one narrow pass + one map-side-combined agg;
        // this exact twin pins the semantics the sketch approximates.
        val q = Tables.lineitem(s, dir)
          .groupBy(col("l_returnflag").as("rf"))
          .agg(expr("percentile(l_extendedprice, array(0.05D, 0.95D))").as("q"))
          .select(col("rf"), col("q")(0).as("lo"), col("q")(1).as("hi"))
        Tables.lineitem(s, dir)
          .join(broadcast(q), col("l_returnflag") === col("rf"))
          .withColumn("clamped", least(greatest(col("l_extendedprice"), col("lo")), col("hi")))
          .groupBy("l_returnflag")
          .agg(count(lit(1)).as("n"),
            // r12 float-sum audit: means as exact-decimal sums / count; the
            // clamp bound is cents-rounded (engine-stable roundAt) before the
            // decimal image so the mixed clamped/unclamped column stays
            // exactly decimal-representable on both engines
            roundAt(sum(dec2(col("l_extendedprice"))).cast("double")
              / count(lit(1)), 4).as("raw_mean"),
            roundAt(sum(dec2(roundAt(col("clamped"), 2))).cast("double")
              / count(lit(1)), 4).as("wins_mean"),
            roundAt(max("lo"), 4).as("p05"), roundAt(max("hi"), 4).as("p95"))
          .orderBy("l_returnflag")
      },
      Some(s"""WITH q AS (
              |  SELECT l_returnflag AS rf,
              |    quantile_cont(l_extendedprice, 0.05) AS lo,
              |    quantile_cont(l_extendedprice, 0.95) AS hi
              |  FROM lineitem GROUP BY 1)
              |SELECT l_returnflag, count(*) AS n,
              |  ${roundAtSql(s"CAST(sum(${dec2Sql("l_extendedprice")}) AS DOUBLE) / count(*)", 4)} AS raw_mean,
              |  ${roundAtSql(s"CAST(sum(CAST(${roundAtSql("least(greatest(l_extendedprice, lo), hi)", 2)} AS DECIMAL(12,2))) AS DOUBLE) / count(*)", 4)} AS wins_mean,
              |  ${roundAtSql("max(lo)", 4)} AS p05, ${roundAtSql("max(hi)", 4)} AS p95
              |FROM lineitem JOIN q ON l_returnflag = rf
              |GROUP BY 1 ORDER BY 1""".stripMargin)),

    Q("a22_market_basket",
      (s, dir) => {
        // market-basket pair affinity (support + lift) — the co-occurrence
        // mining shape: pairs exist ONLY within an order (the same
        // Σ basket_size² blocking argument as x18's clusters — never
        // catalog², and baskets are small by nature), counted on one
        // l_orderkey equi-self-join. Item counts and the order total are
        // tiny aggregates broadcast back onto the pair frame; lift =
        // P(p1,p2) / (P(p1)·P(p2)) computed in one expression with the
        // multiplication-then-division order pinned for cross-engine
        // float identity.
        // cached: the distinct (order, part) frame feeds FOUR consumers
        // (both self-join sides, the item counts, the order total) —
        // uncached, each re-pays the lineitem scan + distinct shuffle
        // (x27's basket-cache precedent; released by clearCache)
        val items = Tables.lineitem(s, dir)
          .select("l_orderkey", "l_partkey").distinct().cache()
        val nOrders = items.select(countDistinct("l_orderkey").as("n_orders"))
        // itemCnt NOT cached (r17, measured): it feeds two broadcast
        // builds (the c1/c2 joins) that each re-run the aggregate over
        // the items cache — but those builds run as CONCURRENT AQE
        // futures, so the duplicated work costs ~max not sum, and a
        // cache A/B-regressed the wall (min-of-6 subset bench 1.65 →
        // 1.96 s: the cache write serializes what the futures overlap).
        // Contrast curateIncremental/m7, whose duplicated subtrees sit
        // in different ACTIONS and cannot overlap.
        val itemCnt = items.groupBy("l_partkey").agg(count(lit(1)).as("cnt"))
        items.as("a").join(items.as("b"),
            col("a.l_orderkey") === col("b.l_orderkey") &&
              col("a.l_partkey") < col("b.l_partkey"))
          .groupBy(col("a.l_partkey").as("p1"), col("b.l_partkey").as("p2"))
          .agg(count(lit(1)).as("support"))
          .filter(col("support") >= 2)
          .join(itemCnt.select(col("l_partkey").as("p1"), col("cnt").as("c1")), "p1")
          .join(itemCnt.select(col("l_partkey").as("p2"), col("cnt").as("c2")), "p2")
          .crossJoin(broadcast(nOrders))
          .withColumn("lift", roundAt(
            col("support").cast("double") * col("n_orders") / (col("c1") * col("c2")), 6))
          .select("p1", "p2", "support", "c1", "c2", "lift")
          .orderBy(col("support").desc, col("p1"), col("p2"))
          .limit(20)
      },
      Some(s"""WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
              |n AS (SELECT count(DISTINCT l_orderkey) AS n_orders FROM items),
              |ic AS (SELECT l_partkey, count(*) AS cnt FROM items GROUP BY 1),
              |pairs AS (
              |  SELECT a.l_partkey AS p1, b.l_partkey AS p2, count(*) AS support
              |  FROM items a JOIN items b
              |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
              |  GROUP BY 1, 2 HAVING count(*) >= 2)
              |SELECT p1, p2, support, c1.cnt AS c1, c2.cnt AS c2,
              |  ${roundAtSql("CAST(support AS DOUBLE) * n_orders / (c1.cnt * c2.cnt)", 6)} AS lift
              |FROM pairs, n
              |JOIN ic c1 ON c1.l_partkey = p1
              |JOIN ic c2 ON c2.l_partkey = p2
              |ORDER BY support DESC, p1, p2 LIMIT 20""".stripMargin)),

    Q("x27_pagerank",
      (s, dir) => {
        // PageRank over the parts co-purchase graph — the iterative
        // join-agg rank workload that completes the graph suite (x11/x26
        // connected components → groups, x25 KNN → adjacency, this →
        // node importance; in a corpus pipeline the same operator ranks
        // sources/domains by their link graph, the Common-Crawl-style
        // quality prior behind sampling weights). Edges exist only
        // WITHIN an order (a22's Σ basket_size² blocking — never
        // catalog²). Delegates to the generic Corpus.pageRank: 3 rounds
        // of one edge⨝rank join + one map-side-combinable sum per
        // round, ranks rounded to a 1e-10 grid per round so the
        // unrolled-CTE oracle reproduces every iteration bit-for-bit.
        // cached: the distinct (order, part) frame feeds BOTH self-join
        // sides and the node list — without it the lineitem scan +
        // distinct shuffle runs three times. Released by clearCache().
        val items = Tables.lineitem(s, dir)
          .select("l_orderkey", "l_partkey").distinct().cache()
        val edges = items.as("a").join(items.as("b"),
            col("a.l_orderkey") === col("b.l_orderkey") &&
              col("a.l_partkey") =!= col("b.l_partkey"))
          .select(col("a.l_partkey").as("src"), col("b.l_partkey").as("dst"))
          // cached: pageRank's degree pass and its edge⨝degree build
          // both consume the edge set — uncached, the basket self-join
          // + distinct runs twice inside the one eDeg materialization
          .distinct().cache()
        val nodes = items.select(col("l_partkey").as("id")).distinct()
        graft.corpus.Corpus.pageRankWith(nodes, edges, eps = -1.0, damping = 0.85,
            maxRounds = 3, Caches.Harness)._1
          .select(col("id").as("part"), col("rank"))
          .orderBy(col("rank").desc, col("part"))
      },
      Some {
        def round10(e: String) = roundAtSql(e, 10)
        def iter(prev: String, cur: String) =
          s"""$cur AS (
             |  SELECT nodes.id, ${round10("(1.0 - 0.85)/(SELECT n FROM nn) + 0.85 * coalesce(f.inflow, 0.0)")} AS rank
             |  FROM nodes LEFT JOIN (
             |    SELECT ed.dst AS id, sum(r.rank / ed.deg) AS inflow
             |    FROM ed JOIN $prev r ON r.id = ed.src GROUP BY 1) f USING (id))"""
        s"""WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
           |e AS (SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
           |      FROM items a JOIN items b
           |        ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey),
           |nodes AS (SELECT DISTINCT l_partkey AS id FROM items),
           |deg AS (SELECT src, count(*) AS deg FROM e GROUP BY 1),
           |ed AS (SELECT e.src, e.dst, deg.deg FROM e JOIN deg USING (src)),
           |nn AS (SELECT count(*) AS n FROM nodes),
           |r0 AS (SELECT id, ${round10("1.0/(SELECT n FROM nn)")} AS rank FROM nodes),
           |${iter("r0", "r1")},
           |${iter("r1", "r2")},
           |${iter("r2", "r3")}
           |SELECT id AS part, rank FROM r3 ORDER BY rank DESC, part""".stripMargin
      }),

    Q("a17_conditional_agg",
      (s, dir) => Tables.lineitem(s, dir)
        .groupBy("l_returnflag")
        .agg(
          count(when(col("l_discount") > 0.05, 1)).as("n_discounted"),
          roundAt(sum(when(col("l_quantity") > 25, dec2(col("l_extendedprice")))
            .otherwise(lit(0).cast("decimal(12,2)"))).cast("double"), 2)
            .as("bulk_revenue"),
          roundAt(sum(when(col("l_tax") === 0.0, dec2(col("l_extendedprice")))).cast("double"), 2)
            .as("taxfree_revenue"))
        .orderBy("l_returnflag"),
      Some(s"""SELECT l_returnflag,
              |  count(*) FILTER (WHERE l_discount > 0.05) AS n_discounted,
              |  ${roundAtSql(s"CAST(sum(CASE WHEN l_quantity > 25 THEN ${dec2Sql("l_extendedprice")} ELSE CAST(0 AS DECIMAL(12,2)) END) AS DOUBLE)", 2)} AS bulk_revenue,
              |  ${roundAtSql(s"CAST(sum(${dec2Sql("l_extendedprice")}) FILTER (WHERE l_tax = 0.0) AS DOUBLE)", 2)} AS taxfree_revenue
              |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin)),

    Q("a18_stats_moments",
      (s, dir) => {
        // second-moment statistics per group: sample stddev, sample
        // covariance, and Pearson correlation (price vs quantity) — the
        // profiling aggregates a feature-engineering pass runs over a
        // 100 TB table in one partial+final shuffle. r12 float-sum
        // audit: the builtin moment aggregates are order-sensitive
        // doubles, so the sufficient statistics accumulate in DECIMAL
        // (exact at any SF; 2-dp inputs are exactly decimal-imaged) and
        // the moments derive from them in the SAME double expression
        // structure as the DuckDB twin.
        val xd = dec2(col("l_extendedprice"))
        val yd = dec2(col("l_quantity"))
        val sums = Tables.lineitem(s, dir)
          .groupBy("l_returnflag")
          .agg(count(lit(1)).as("n0"),
            sum(xd).as("sxd"), sum(yd).as("syd"),
            sum(xd * xd).as("sxxd"), sum(xd * yd).as("sxyd"),
            sum(yd * yd).as("syyd"))
          .select(col("l_returnflag"), col("n0"),
            col("n0").cast("double").as("nn"),
            col("sxd").cast("double").as("sx"),
            col("syd").cast("double").as("sy"),
            col("sxxd").cast("double").as("sxx"),
            col("sxyd").cast("double").as("sxy"),
            col("syyd").cast("double").as("syy"))
        // greatest(·, 0): a zero-variance group (single row, constant
        // column) lands the moment a few ulps NEGATIVE in double
        // arithmetic — Spark's sqrt returns NaN but DuckDB's ABORTS the
        // whole oracle query, a crash-vs-value divergence in exactly the
        // degenerate-population class the gate hunts (r14 review find;
        // the clamp is mirrored in the SQL twin below)
        val mx = greatest(
          col("nn") * col("sxx") - col("sx") * col("sx"), lit(0.0))
        val my = greatest(
          col("nn") * col("syy") - col("sy") * col("sy"), lit(0.0))
        val mxy = col("nn") * col("sxy") - col("sx") * col("sy")
        // zero-variance/singleton totality: n = 1 makes the Bessel
        // denominator 0 (0/0 = NaN in Spark, engine-divergent), and a
        // constant column makes corr's denominator 0 — both are
        // UNDEFINED statistics, emitted as NULL on both engines rather
        // than as whatever each engine's 0/0 renders to
        sums.select(col("l_returnflag"), col("n0").as("n"),
            when(col("nn") > 1.0,
              roundAt(sqrt(mx / (col("nn") * (col("nn") - lit(1.0)))), 4))
              .as("sd_price"),
            when(col("nn") > 1.0,
              roundAt(mxy / (col("nn") * (col("nn") - lit(1.0))), 4))
              .as("cov_pq"),
            when(mx > 0.0 && my > 0.0,
              roundAt(mxy / (sqrt(mx) * sqrt(my)), 6)).as("corr_pq"))
          .orderBy("l_returnflag")
      },
      Some {
        val mx = "greatest(nn * sxx - sx * sx, 0.0)"
        val my = "greatest(nn * syy - sy * sy, 0.0)"
        val mxy = "(nn * sxy - sx * sy)"
        s"""WITH st AS (
           |  SELECT l_returnflag, count(*) AS n0,
           |    CAST(count(*) AS DOUBLE) AS nn,
           |    CAST(sum(${dec2Sql("l_extendedprice")}) AS DOUBLE) AS sx,
           |    CAST(sum(${dec2Sql("l_quantity")}) AS DOUBLE) AS sy,
           |    CAST(sum(${dec2Sql("l_extendedprice")} * ${dec2Sql("l_extendedprice")}) AS DOUBLE) AS sxx,
           |    CAST(sum(${dec2Sql("l_extendedprice")} * ${dec2Sql("l_quantity")}) AS DOUBLE) AS sxy,
           |    CAST(sum(${dec2Sql("l_quantity")} * ${dec2Sql("l_quantity")}) AS DOUBLE) AS syy
           |  FROM lineitem GROUP BY 1)
           |SELECT l_returnflag, n0 AS n,
           |  CASE WHEN nn > 1.0
           |       THEN ${roundAtSql(s"sqrt($mx / (nn * (nn - 1.0)))", 4)} END AS sd_price,
           |  CASE WHEN nn > 1.0
           |       THEN ${roundAtSql(s"$mxy / (nn * (nn - 1.0))", 4)} END AS cov_pq,
           |  CASE WHEN $mx > 0.0 AND $my > 0.0
           |       THEN ${roundAtSql(s"$mxy / (sqrt($mx) * sqrt($my))", 6)} END AS corr_pq
           |FROM st ORDER BY 1""".stripMargin
      }),

    Q("a25_unpivot_long",
      (s, dir) => {
        // wide→long UNPIVOT (melt) — the inverse reshape of A2's pivot,
        // the step that turns a measures-as-columns report table back
        // into a tidy (key, measure, value) frame for generic downstream
        // ops. `stack` is a Generate (per-row expansion ×K measures) —
        // no shuffle, no driver trip, and at 100 TB the expansion factor
        // is the fixed measure count, never data-dependent.
        Tables.lineitem(s, dir)
          .groupBy("l_returnflag")
          .agg(roundAt(sum("l_quantity"), 2).as("sum_qty"),
            roundAt(sum(dec2(col("l_extendedprice"))).cast("double"), 2).as("sum_price"),
            roundAt(sum(dec2(col("l_discount"))).cast("double"), 2).as("sum_disc"))
          .select(col("l_returnflag"), expr(
            """stack(3, 'sum_qty', sum_qty, 'sum_price', sum_price,
              |  'sum_disc', sum_disc) AS (measure, value)""".stripMargin))
          .orderBy("l_returnflag", "measure")
      },
      Some(s"""WITH wide AS (
              |  SELECT l_returnflag,
              |    ${roundAtSql("sum(l_quantity)", 2)} AS sum_qty,
              |    ${roundAtSql(s"CAST(sum(${dec2Sql("l_extendedprice")}) AS DOUBLE)", 2)} AS sum_price,
              |    ${roundAtSql(s"CAST(sum(${dec2Sql("l_discount")}) AS DOUBLE)", 2)} AS sum_disc
              |  FROM lineitem GROUP BY 1)
              |SELECT l_returnflag, measure, value FROM (
              |  SELECT l_returnflag, 'sum_qty' AS measure, sum_qty AS value FROM wide
              |  UNION ALL SELECT l_returnflag, 'sum_price', sum_price FROM wide
              |  UNION ALL SELECT l_returnflag, 'sum_disc', sum_disc FROM wide)
              |ORDER BY 1, 2""".stripMargin)),

    Q("a26_string_agg",
      (s, dir) => {
        // LISTAGG / string_agg — ordered string concatenation per group,
        // the reporting aggregate every BI export eventually asks for.
        // Determinism contract: collect_list has NO cross-partition
        // order, so the list is array_sort'ed before joining — same
        // guarantee as string_agg(... ORDER BY) on the oracle side.
        // Group cardinality bounds the string (dims here); an unbounded
        // 100 TB group would use a capped slice(sort, 1, k) instead.
        val n = Tables.nation(s, dir)
        val r = Tables.region(s, dir)
        n.join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
          .groupBy("r_name")
          .agg(count(lit(1)).as("n_nations"),
            array_join(array_sort(collect_list(col("n_name"))), ",").as("nations"))
          .orderBy("r_name")
      },
      Some("""SELECT r_name, count(*) AS n_nations,
             |  string_agg(n_name, ',' ORDER BY n_name) AS nations
             |FROM nation JOIN region ON n_regionkey = r_regionkey
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    Q("a27_multi_measure_pivot",
      (s, dir) => {
        // pivot with MULTIPLE measures per pivoted value (A2 carries
        // one) — each (value, measure) pair becomes a column
        // (`F_qty`/`F_n`/…). Pivot values are PINNED so Spark skips the
        // distinct-values discovery job and the column set is stable;
        // empty cells (no A/O rows exist) are filled to match the
        // oracle's FILTER/CASE zeros. One partial+final hash aggregate —
        // the pivot never widens the shuffle, only the output row.
        Tables.lineitem(s, dir)
          .groupBy("l_returnflag")
          .pivot("l_linestatus", Seq("F", "O"))
          .agg(roundAt(sum("l_quantity"), 2).as("qty"),
            count(lit(1)).as("n"))
          .na.fill(0.0, Seq("F_qty", "O_qty"))
          .na.fill(0L, Seq("F_n", "O_n"))
          .orderBy("l_returnflag")
      },
      Some(s"""SELECT l_returnflag,
              |  ${roundAtSql("sum(CASE WHEN l_linestatus = 'F' THEN l_quantity ELSE 0 END)", 2)} AS F_qty,
              |  count(*) FILTER (WHERE l_linestatus = 'F') AS F_n,
              |  ${roundAtSql("sum(CASE WHEN l_linestatus = 'O' THEN l_quantity ELSE 0 END)", 2)} AS O_qty,
              |  count(*) FILTER (WHERE l_linestatus = 'O') AS O_n
              |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin)),

    Q("a31_multi_distinct",
      (s, dir) => {
        // several COUNT(DISTINCT …) over DIFFERENT columns in one
        // aggregate — Spark compiles this to ONE Expand (each row
        // replicated per distinct-column with the others nulled) +
        // two-phase aggregation, so the fact is scanned once however
        // many distinct measures ride along; the naive plan is one
        // scan+shuffle per distinct column. Plain count rides the same
        // pass.
        Tables.lineitem(s, dir)
          .groupBy("l_returnflag")
          .agg(countDistinct("l_partkey").as("nd_parts"),
            countDistinct("l_suppkey").as("nd_supps"),
            count(lit(1)).as("n_rows"))
          .orderBy("l_returnflag")
      },
      Some("""SELECT l_returnflag,
             |  count(DISTINCT l_partkey) AS nd_parts,
             |  count(DISTINCT l_suppkey) AS nd_supps,
             |  count(*) AS n_rows
             |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin)),

    Q("a28_corr_matrix",
      (s, dir) => {
        // pairwise Pearson correlation MATRIX over k numeric columns in
        // ONE aggregation pass — the feature-screening step before
        // training (drop collinear features). All k·(k−1)/2 pair
        // statistics ride the same partial+final shuffle, then a stack()
        // unpivot emits the tidy (col_a, col_b, corr) triangle — the
        // table is scanned once no matter how many pairs. r12 float-sum
        // audit: sufficient statistics accumulate in DECIMAL (exact,
        // order-free; all four columns are exactly 2-dp) and each corr
        // derives from them in the same double expression structure as
        // the DuckDB twin (the a18/a20 contract).
        val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
        val pairs = for {
          i <- cols.indices; j <- cols.indices if i < j
        } yield (cols(i), cols(j))
        val statAggs =
          Seq(count(lit(1)).cast("double").as("nn")) ++
          cols.map(c => sum(dec2(col(c))).cast("double").as(s"s_$c")) ++
          cols.map(c => sum(dec2(col(c)) * dec2(col(c))).cast("double").as(s"ss_$c")) ++
          pairs.map { case (a, b) =>
            sum(dec2(col(a)) * dec2(col(b))).cast("double").as(s"sp_${a}__$b") }
        def corrExpr(a: String, b: String) = {
          // greatest(·, 0) + NULL-when-degenerate: a18's zero-variance
          // contract — a constant column's corr is UNDEFINED, emitted
          // NULL on both engines (never an engine-specific 0/0)
          def m(c: String) = greatest(
            col("nn") * col(s"ss_$c") - col(s"s_$c") * col(s"s_$c"), lit(0.0))
          when(m(a) > 0.0 && m(b) > 0.0,
            roundAt((col("nn") * col(s"sp_${a}__$b") - col(s"s_$a") * col(s"s_$b"))
              / (sqrt(m(a)) * sqrt(m(b))), 6))
        }
        val stackArgs = pairs.map { case (a, b) =>
          s"'$a', '$b', ${a}__$b"
        }.mkString(", ")
        Tables.lineitem(s, dir)
          .agg(statAggs.head, statAggs.tail: _*)
          .select(pairs.map { case (a, b) => corrExpr(a, b).as(s"${a}__$b") }: _*)
          .select(expr(s"stack(${pairs.size}, $stackArgs) AS (col_a, col_b, corr)"))
          .orderBy("col_a", "col_b")
      },
      Some {
        val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
        val pairs = for {
          i <- cols.indices; j <- cols.indices if i < j
        } yield (cols(i), cols(j))
        val stats =
          Seq("CAST(count(*) AS DOUBLE) AS nn") ++
          cols.map(c => s"CAST(sum(${dec2Sql(c)}) AS DOUBLE) AS s_$c") ++
          cols.map(c => s"CAST(sum(${dec2Sql(c)} * ${dec2Sql(c)}) AS DOUBLE) AS ss_$c") ++
          pairs.map { case (a, b) =>
            s"CAST(sum(${dec2Sql(a)} * ${dec2Sql(b)}) AS DOUBLE) AS sp_${a}__$b" }
        def m(c: String) = s"greatest(nn * ss_$c - s_$c * s_$c, 0.0)"
        val rows = pairs.map { case (a, b) =>
          s"""SELECT '$a' AS col_a, '$b' AS col_b,
             |    CASE WHEN ${m(a)} > 0.0 AND ${m(b)} > 0.0
             |         THEN ${roundAtSql(s"(nn * sp_${a}__$b - s_$a * s_$b) / (sqrt(${m(a)}) * sqrt(${m(b)}))", 6)}
             |    END AS corr
             |  FROM st""".stripMargin
        }.mkString("\n  UNION ALL ")
        s"""WITH st AS (SELECT ${stats.mkString(",\n  ")} FROM lineitem)
           |SELECT col_a, col_b, corr FROM (
           |  $rows)
           |ORDER BY 1, 2""".stripMargin
      }),

    Q("e4_sliding_window_batch",
      (s, dir) => {
        // batch twin of StreamingOps.slidingCounts: every event belongs to
        // the 4 hourly windows sliding by 15 min that cover its timestamp
        // window starts emitted as epoch SECONDS so the compare is
        // immune to either engine's session-timezone rendering
        Tables.eventsTs(s, dir)
          .select(explode(expr(
            """transform(sequence(0, 3), k ->
              |  (unix_micros(ts) div 900000000 - k) * 900)"""
              .stripMargin)).as("window_start_epoch"))
          .filter(col("window_start_epoch") >= 1704067200L) // 2024-01-01 UTC
          .groupBy("window_start_epoch")
          .agg(count(lit(1)).as("n"))
          .orderBy("window_start_epoch")
      },
      Some("""WITH w AS (
             |  SELECT (epoch_us(CAST(ts AS TIMESTAMP)) // 900000000 - k) * 900 AS window_start_epoch
             |  FROM events, unnest(range(0, 4)) t(k))
             |SELECT window_start_epoch, count(*) AS n
             |FROM w WHERE window_start_epoch >= 1704067200
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    Q("v10_table_fingerprint",
      (s, dir) => {
        // bucketed content fingerprint — the replication/migration
        // verifier: two copies of a 100 TB table compare by exchanging
        // `buckets` rows (count + order-independent sum and xor of a
        // per-row content hash), never data. One narrow pass + one
        // key-bounded shuffle; a mismatch names the bucket, so the
        // re-check rescans 1/buckets of the table. The canonical row
        // rendering uses only engine-stable forms (ints, strings, dates,
        // money as cents) — the float-repr rule every oracled query here
        // follows; the hash is the first 10 md5 hex digits folded to a
        // long; the bucket sums accumulate as DECIMAL(38,0) and render
        // as strings (40-bit terms overflow int64 from ~sf100).
        val canon = concat_ws("|",
          col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
          col("l_suppkey"), col("l_returnflag"), col("l_linestatus"),
          col("l_shipdate").cast("date").cast("string"),
          floor(col("l_extendedprice") * 100 + 0.5).cast("long"))
        Tables.lineitem(s, dir)
          .select(pmod(col("l_orderkey"), lit(32L)).as("bucket"),
            conv(substring(md5(canon), 1, 10), 16, 10).cast("long").as("h"))
          .groupBy("bucket")
          // DECIMAL(38,0) sum: 40-bit hashes over an sf100+ bucket
          // (~2e7 rows x avg 5.5e11) exceed int64 — Spark's non-ANSI
          // long sum would wrap silently while the oracle's INT128
          // errors on the BIGINT cast (r14 review find); 1e38 headroom
          // covers any conceivable table
          .agg(count(lit(1)).as("n_rows"),
            // DECIMAL(38,0) accumulator rendered as STRING: 40-bit
            // hashes over an sf100+ bucket exceed int64 (Spark's
            // non-ANSI long sum would wrap silently; the oracle's
            // INT128 errors on a BIGINT cast), and a decimal column
            // round-trips engine-dependently (Decimal vs float repr) —
            // a fingerprint is an opaque token, so its canonical form
            // is the digit string (r14 review find)
            sum(col("h").cast("decimal(38,0)")).cast("string").as("fp_sum"),
            expr("bit_xor(h)").as("fp_xor"))
          .orderBy("bucket")
      },
      Some("""WITH c AS (
             |  SELECT l_orderkey % 32 AS bucket,
             |    substr(md5(
             |      CAST(l_orderkey AS VARCHAR) || '|' || CAST(l_linenumber AS VARCHAR) || '|' ||
             |      CAST(l_partkey AS VARCHAR) || '|' || CAST(l_suppkey AS VARCHAR) || '|' ||
             |      l_returnflag || '|' || l_linestatus || '|' ||
             |      CAST(CAST(l_shipdate AS DATE) AS VARCHAR) || '|' ||
             |      CAST(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS VARCHAR)), 1, 10) AS h10
             |  FROM lineitem),
             |h AS (
             |  SELECT bucket,
             |    list_reduce([CAST(strpos('0123456789abcdef', substr(h10, i, 1)) - 1 AS BIGINT)
             |                 for i in range(1, 11)], (b, c) -> b * 16 + c) AS h
             |  FROM c)
             |SELECT bucket, count(*) AS n_rows, CAST(CAST(sum(h) AS HUGEINT) AS VARCHAR) AS fp_sum,
             |  bit_xor(h) AS fp_xor
             |FROM h GROUP BY 1 ORDER BY 1""".stripMargin)),

    Q("a24_incremental_agg_merge",
      (s, dir) => {
        // incremental materialized-view maintenance: a stored grouped
        // aggregate (facts shipped before the cutover) absorbs a delta
        // batch by aggregating ONLY the batch and merging the two
        // partial frames on the group key — the nightly pattern that
        // keeps a 100 TB rollup current with a batch-sized shuffle plus
        // a key-sized merge, never a rebuild scan. All measures are
        // algebraic partials (counts, long cent-sums), so merge ==
        // rebuild EXACTLY — and the oracle IS the rebuild over the whole
        // fact, pinning that equality cross-engine.
        val cutover = "1996-01-01"
        def partial(df: org.apache.spark.sql.DataFrame) = df
          .groupBy("l_suppkey")
          .agg(count(lit(1)).as("n"),
            sum(floor(col("l_quantity") + 0.5).cast("long")).as("qty"),
            sum(floor(col("l_extendedprice") * 100 + 0.5).cast("long")).as("rev_cents"))
        val li = Tables.lineitem(s, dir)
        val stored = partial(li.filter(col("l_shipdate") < to_timestamp(lit(cutover))))
        val delta = partial(li.filter(col("l_shipdate") >= to_timestamp(lit(cutover))))
        stored.unionByName(delta)
          .groupBy("l_suppkey")
          .agg(sum("n").as("n"), sum("qty").as("qty"),
            sum("rev_cents").as("rev_cents"))
          .orderBy("l_suppkey")
      },
      Some("""SELECT l_suppkey, count(*) AS n,
             |  CAST(sum(CAST(floor(l_quantity + 0.5) AS BIGINT)) AS BIGINT) AS qty,
             |  CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS rev_cents
             |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin)),
  )

  val queries: Map[String, QFn] = all.map(q => q.name -> q.fn).toMap
  val oracles: Map[String, String] =
    all.collect { case Q(n, _, Some(sql)) => n -> sql }.toMap
}
