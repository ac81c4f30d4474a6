package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.Exact.{davg, dec, dsum}
import graft.sources.{Tables => T}

/** Relational completeness pack — SURVEY.md §2.C C1–C8.
  *
  * Each query is a thin declarative DataFrame plan (Catalyst handles
  * pushdown/pruning/join selection); the paired DuckDB SQL computes the same
  * result with the same arithmetic so values hash-match exactly.
  *
  * Scale notes are given per query: what shuffles, what broadcasts, what the
  * plan must look like at 100 TB.
  */
object RelationalPack extends QueryPack {

  private def ts(s: String): Column = lit(s).cast(TimestampType)

  /** q45's bucketed (orders, lineitem) table names, one pair per
    * (session, sf) — the write is the one-time layout job, not the query.
    */
  private val bucketedTables = new graft.util.SessionCache[(String, String)]

  override val defs: Seq[QueryDef] = Seq(

    // ----------------------------------------------------------------
    // C4 aggregation: TPC-H Q1-style pricing summary. Partial (map-side)
    // aggregation + final: 2-phase hash agg, one shuffle on the 6 distinct
    // (returnflag, linestatus) groups. Scales linearly; the shuffle carries
    // only |groups| * partials.
    QueryDef(
      "q01_pricing_summary",
      (s, d) => {
        val li = T.lineitem(s, d)
        li.filter(col("l_shipdate") <= ts("2000-12-01 00:00:00"))
          .groupBy(col("l_returnflag"), col("l_linestatus"))
          .agg(
            dsum(col("l_quantity"), 2).as("sum_qty"),
            dsum(col("l_extendedprice"), 2).as("sum_base_price"),
            dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 6).as("sum_disc_price"),
            dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * (lit(1.0) + col("l_tax")), 6).as("sum_charge"),
            count(lit(1)).as("count_order"))
          .select(col("l_returnflag"), col("l_linestatus"), col("sum_qty"),
            col("sum_base_price"), col("sum_disc_price"), col("sum_charge"),
            (col("sum_qty") / col("count_order")).as("avg_qty"), col("count_order"))
          .orderBy("l_returnflag", "l_linestatus")
      },
      Some("""SELECT l_returnflag, l_linestatus, sum_qty, sum_base_price, sum_disc_price, sum_charge,
             |       sum_qty / count_order AS avg_qty, count_order
             |FROM (SELECT l_returnflag, l_linestatus,
             |        CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
             |        CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
             |        CAST(SUM(CAST(l_extendedprice * (1e0 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS sum_disc_price,
             |        CAST(SUM(CAST(l_extendedprice * (1e0 - l_discount) * (1e0 + l_tax) AS DECIMAL(18,6))) AS DOUBLE) AS sum_charge,
             |        COUNT(*) AS count_order
             |      FROM lineitem WHERE l_shipdate <= TIMESTAMP '2000-12-01 00:00:00'
             |      GROUP BY l_returnflag, l_linestatus) t
             |ORDER BY l_returnflag, l_linestatus""".stripMargin)),

    // ----------------------------------------------------------------
    // C2 projection + filter. All four predicates and the 5-column
    // projection push into the parquet scan (PushedFilters / ReadSchema).
    QueryDef(
      "q02_filter_project",
      (s, d) => {
        val li = T.lineitem(s, d)
        li.filter(col("l_shipdate") >= ts("1996-01-01 00:00:00") &&
            col("l_shipdate") < ts("1996-04-01 00:00:00") &&
            col("l_discount") > lit(0.05) && col("l_quantity") < lit(25.0))
          .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"), col("l_suppkey"),
            (col("l_extendedprice") * col("l_discount")).as("disc_amount"))
          .orderBy("l_orderkey", "l_linenumber")
      },
      Some("""SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
             |       l_extendedprice * l_discount AS disc_amount
             |FROM lineitem
             |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00' AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
             |  AND l_discount > 0.05 AND l_quantity < 25
             |ORDER BY l_orderkey, l_linenumber""".stripMargin)),

    // ----------------------------------------------------------------
    // C3 multi-way join (TPC-H Q5 shape). region/nation are tiny → broadcast
    // (AQE picks BHJ under the threshold); customer⋈orders⋈lineitem shuffle
    // on their keys. At 100 TB: same plan — dims broadcast, facts shuffle
    // once each on the join key.
    QueryDef(
      "q03_regional_revenue",
      (s, d) => {
        val rev = col("l_extendedprice") * (lit(1.0) - col("l_discount"))
        T.region(s, d).filter(col("r_name") === "EUROPE")
          .join(broadcast(T.nation(s, d)), col("n_regionkey") === col("r_regionkey"))
          .join(T.customer(s, d), col("c_nationkey") === col("n_nationkey"))
          .join(T.orders(s, d).filter(col("o_orderdate") >= ts("1996-01-01 00:00:00") &&
            col("o_orderdate") < ts("1998-01-01 00:00:00")), col("o_custkey") === col("c_custkey"))
          .join(T.lineitem(s, d), col("l_orderkey") === col("o_orderkey"))
          .groupBy(col("n_name"))
          .agg(dsum(rev, 6).as("revenue"), count(lit(1)).as("n_items"))
          .orderBy("n_name")
      },
      Some("""SELECT n_name,
             |       CAST(SUM(CAST(l_extendedprice * (1e0 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
             |       COUNT(*) AS n_items
             |FROM region JOIN nation ON n_regionkey = r_regionkey
             |  JOIN customer ON c_nationkey = n_nationkey
             |  JOIN orders ON o_custkey = c_custkey
             |  JOIN lineitem ON l_orderkey = o_orderkey
             |WHERE r_name = 'EUROPE'
             |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00' AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
             |GROUP BY n_name ORDER BY n_name""".stripMargin)),

    // ----------------------------------------------------------------
    // C3 broadcast join: filtered dim explicitly broadcast — zero shuffle of
    // the fact side beyond the final 1-group-per-type agg.
    QueryDef(
      "q04_broadcast_join",
      (s, d) => {
        T.lineitem(s, d)
          .join(broadcast(T.part(s, d).filter(col("p_brand") === "Brand#13")),
            col("l_partkey") === col("p_partkey"))
          .groupBy(col("p_type"))
          .agg(count(lit(1)).as("n_items"), dsum(col("l_quantity"), 2).as("sum_qty"))
          .orderBy("p_type")
      },
      Some("""SELECT p_type, COUNT(*) AS n_items,
             |       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
             |FROM lineitem JOIN part ON l_partkey = p_partkey
             |WHERE p_brand = 'Brand#13'
             |GROUP BY p_type ORDER BY p_type""".stripMargin)),

    // ----------------------------------------------------------------
    // C3 semi join (EXISTS). left_semi never materializes right columns.
    QueryDef(
      "q05_semi_join",
      (s, d) => {
        val c = T.customer(s, d)
        val big = T.orders(s, d).filter(col("o_totalprice") > lit(200000.0))
        c.join(big, c("c_custkey") === big("o_custkey"), "left_semi")
          .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
          .orderBy("c_custkey")
      },
      Some("""SELECT c_custkey, c_name, c_mktsegment FROM customer
             |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 200000)
             |ORDER BY c_custkey""".stripMargin)),

    // ----------------------------------------------------------------
    // C3 anti join (NOT EXISTS).
    QueryDef(
      "q06_anti_join",
      (s, d) => {
        val c = T.customer(s, d)
        val o = T.orders(s, d)
        c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
          .groupBy(col("c_mktsegment"))
          .agg(count(lit(1)).as("n_customers"))
          .orderBy("c_mktsegment")
      },
      Some("""SELECT c_mktsegment, COUNT(*) AS n_customers FROM customer
             |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
             |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)),

    // ----------------------------------------------------------------
    // C3 left outer join + agg, preserving 0-order customers.
    QueryDef(
      "q07_outer_join_agg",
      (s, d) => {
        val c = T.customer(s, d)
        val o = T.orders(s, d)
        c.join(o, c("c_custkey") === o("o_custkey"), "left")
          .groupBy(col("c_custkey"))
          .agg(count(col("o_orderkey")).as("n_orders"),
            coalesce(dsum(col("o_totalprice"), 2), lit(0.0)).as("total_spent"))
          .orderBy("c_custkey")
      },
      Some("""SELECT c_custkey, COUNT(o_orderkey) AS n_orders,
             |       COALESCE(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 0e0) AS total_spent
             |FROM customer LEFT JOIN orders ON o_custkey = c_custkey
             |GROUP BY c_custkey ORDER BY c_custkey""".stripMargin)),

    // ----------------------------------------------------------------
    // C5 window ranking: top-3 orders per customer, unique tiebreak.
    QueryDef(
      "q08_window_topn",
      (s, d) => {
        val w = Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        T.orders(s, d)
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 3)
          .select(col("o_custkey"), col("rn"), col("o_orderkey"), col("o_totalprice"))
          .orderBy("o_custkey", "rn")
      },
      Some("""SELECT o_custkey, rn, o_orderkey, o_totalprice
             |FROM (SELECT o_custkey, o_orderkey, o_totalprice,
             |        ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn
             |      FROM orders) t
             |WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin)),

    // ----------------------------------------------------------------
    // C5 analytic window: exact running sum + lag/lead over a total order.
    // The window order includes l_quantity + l_extendedprice because the
    // synthetic lineitem DUPLICATES (l_orderkey, l_linenumber) keys
    // (118k dup pairs at sf0.1) — without them the order has ties and
    // lag/lead become engine-dependent on the tied neighbors (caught by
    // a full sf0.1 oracle-parity sweep: 4/600k rows differed while the
    // order-invariant running sum agreed).
    QueryDef(
      "q09_window_running",
      (s, d) => {
        val w = Window.partitionBy(col("l_suppkey"))
          .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"),
            col("l_quantity"), col("l_extendedprice"))
        T.lineitem(s, d)
          .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
            sum(dec(col("l_quantity"), 2)).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
              .cast(DoubleType).as("running_qty"),
            lag(col("l_quantity"), 1).over(w).as("prev_qty"),
            lead(col("l_quantity"), 1).over(w).as("next_qty"))
          .orderBy("l_suppkey", "l_orderkey", "l_linenumber", "running_qty")
      },
      Some("""SELECT l_suppkey, l_orderkey, l_linenumber,
             |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) OVER (PARTITION BY l_suppkey ORDER BY l_shipdate, l_orderkey, l_linenumber, l_quantity, l_extendedprice ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_qty,
             |  LAG(l_quantity, 1) OVER (PARTITION BY l_suppkey ORDER BY l_shipdate, l_orderkey, l_linenumber, l_quantity, l_extendedprice) AS prev_qty,
             |  LEAD(l_quantity, 1) OVER (PARTITION BY l_suppkey ORDER BY l_shipdate, l_orderkey, l_linenumber, l_quantity, l_extendedprice) AS next_qty
             |FROM lineitem
             |ORDER BY l_suppkey, l_orderkey, l_linenumber, running_qty""".stripMargin)),

    // ----------------------------------------------------------------
    // C6 top-k: orderBy+limit plans as TakeOrderedAndProject — per-partition
    // heap + driver merge of k, no global sort.
    QueryDef(
      "q10_topk",
      (s, d) =>
        T.orders(s, d)
          .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))
          .limit(20),
      Some("""SELECT o_orderkey, o_custkey, o_totalprice FROM orders
             |ORDER BY o_totalprice DESC, o_orderkey LIMIT 20""".stripMargin)),

    // ----------------------------------------------------------------
    // C4 exact distinct aggregation (Catalyst expands to 2-phase agg).
    QueryDef(
      "q11_distinct_agg",
      (s, d) =>
        T.customer(s, d)
          .groupBy(col("c_mktsegment"))
          .agg(countDistinct(col("c_nationkey")).as("n_nations"),
            count(lit(1)).as("n_customers"))
          .orderBy("c_mktsegment"),
      Some("""SELECT c_mktsegment, COUNT(DISTINCT c_nationkey) AS n_nations, COUNT(*) AS n_customers
             |FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)),

    // ----------------------------------------------------------------
    // C7 set operations (distinct semantics, as in SQL).
    QueryDef(
      "q12_setops",
      (s, d) => {
        val o = T.orders(s, d)
        val a = o.filter(col("o_orderstatus") === "O").select(col("o_custkey"))
        val b = o.filter(col("o_orderstatus") === "F").select(col("o_custkey"))
        val res =
          a.intersect(b).agg(count(lit(1))).select(lit("both").as("kind"), col("count(1)").as("n"))
            .unionAll(a.except(b).agg(count(lit(1))).select(lit("open_only").as("kind"), col("count(1)").as("n")))
            .unionAll(a.union(b).distinct().agg(count(lit(1))).select(lit("either").as("kind"), col("count(1)").as("n")))
        res.orderBy("kind")
      },
      Some("""SELECT 'both' AS kind, COUNT(*) AS n FROM
             |  (SELECT o_custkey FROM orders WHERE o_orderstatus='O' INTERSECT SELECT o_custkey FROM orders WHERE o_orderstatus='F') t
             |UNION ALL
             |SELECT 'open_only', COUNT(*) FROM
             |  (SELECT o_custkey FROM orders WHERE o_orderstatus='O' EXCEPT SELECT o_custkey FROM orders WHERE o_orderstatus='F') t
             |UNION ALL
             |SELECT 'either', COUNT(*) FROM
             |  (SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus IN ('O','F')) t
             |ORDER BY kind""".stripMargin)),

    // ----------------------------------------------------------------
    // C4 rollup (hierarchical subtotals).
    QueryDef(
      "q13_rollup",
      (s, d) =>
        T.lineitem(s, d)
          .rollup(col("l_returnflag"), col("l_linestatus"))
          .agg(count(lit(1)).as("n"), dsum(col("l_quantity"), 2).as("sum_qty"))
          .select(coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
            coalesce(col("l_linestatus"), lit("ALL")).as("ls"), col("n"), col("sum_qty"))
          .orderBy("rf", "ls"),
      Some("""SELECT COALESCE(l_returnflag, 'ALL') AS rf, COALESCE(l_linestatus, 'ALL') AS ls,
             |       COUNT(*) AS n, CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
             |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
             |ORDER BY rf, ls""".stripMargin)),

    // ----------------------------------------------------------------
    // C4 cube (all grouping combinations).
    QueryDef(
      "q14_cube",
      (s, d) =>
        T.orders(s, d)
          .cube(col("o_orderstatus"), col("o_orderpriority"))
          .agg(count(lit(1)).as("n"), dsum(col("o_totalprice"), 2).as("total"))
          .select(coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
            coalesce(col("o_orderpriority"), lit("ALL")).as("priority"), col("n"), col("total"))
          .orderBy("status", "priority"),
      Some("""SELECT COALESCE(o_orderstatus, 'ALL') AS status, COALESCE(o_orderpriority, 'ALL') AS priority,
             |       COUNT(*) AS n, CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
             |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
             |ORDER BY status, priority""".stripMargin)),

    // ----------------------------------------------------------------
    // C4 grouping sets via the native Dataset API (Spark 4 groupingSets) —
    // no temp-view registration, so no global session-state side effects
    // and no races when queries run concurrently on one session.
    QueryDef(
      "q15_grouping_sets",
      (s, d) =>
        T.lineitem(s, d)
          .groupingSets(
            Seq(Seq(col("l_returnflag")), Seq(col("l_linestatus")),
              Seq(col("l_returnflag"), col("l_linestatus"))),
            col("l_returnflag"), col("l_linestatus"))
          .agg(count(lit(1)).as("n"))
          .select(coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
            coalesce(col("l_linestatus"), lit("ALL")).as("ls"), col("n"))
          .orderBy("rf", "ls"),
      Some("""SELECT COALESCE(l_returnflag, 'ALL') AS rf, COALESCE(l_linestatus, 'ALL') AS ls,
             |       COUNT(*) AS n
             |FROM lineitem
             |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), (l_returnflag, l_linestatus))
             |ORDER BY rf, ls""".stripMargin)),

    // ----------------------------------------------------------------
    // C8 string function battery (all codegen'd built-ins, no UDFs).
    QueryDef(
      "q16_string_funcs",
      (s, d) =>
        T.customer(s, d)
          .filter(col("c_custkey") < 200)
          .select(col("c_custkey"),
            upper(col("c_name")).as("up"),
            lower(col("c_mktsegment")).as("lo"),
            length(col("c_name")).cast(LongType).as("len"),
            substring(col("c_name"), 10, 5).as("mid"),
            regexp_replace(col("c_name"), "0+", "#").as("squashed"),
            concat_ws("-", col("c_mktsegment"), col("c_custkey").cast(StringType)).as("tag"),
            translate(col("c_mktsegment"), "AEIOU", "aeiou").as("xlat"),
            reverse(col("c_name")).as("rev"),
            lpad(col("c_custkey").cast(StringType), 8, "0").as("padded"))
          .orderBy("c_custkey"),
      Some("""SELECT c_custkey, UPPER(c_name) AS up, LOWER(c_mktsegment) AS lo,
             |       CAST(LENGTH(c_name) AS BIGINT) AS len, SUBSTRING(c_name, 10, 5) AS mid,
             |       REGEXP_REPLACE(c_name, '0+', '#', 'g') AS squashed,
             |       c_mktsegment || '-' || CAST(c_custkey AS VARCHAR) AS tag,
             |       TRANSLATE(c_mktsegment, 'AEIOU', 'aeiou') AS xlat,
             |       REVERSE(c_name) AS rev,
             |       LPAD(CAST(c_custkey AS VARCHAR), 8, '0') AS padded
             |FROM customer WHERE c_custkey < 200 ORDER BY c_custkey""".stripMargin)),

    // ----------------------------------------------------------------
    // C8 date/time function battery.
    QueryDef(
      "q17_date_funcs",
      (s, d) =>
        T.orders(s, d)
          .filter(col("o_orderkey") < 500)
          .select(col("o_orderkey"),
            year(col("o_orderdate")).cast(LongType).as("yr"),
            month(col("o_orderdate")).cast(LongType).as("mo"),
            dayofmonth(col("o_orderdate")).cast(LongType).as("dom"),
            date_trunc("quarter", col("o_orderdate")).as("qtr_start"),
            datediff(lit("2002-01-01").cast(DateType), col("o_orderdate").cast(DateType))
              .cast(LongType).as("days_to_2002"),
            (col("o_orderdate") + expr("INTERVAL 30 DAYS")).as("deadline"))
          .orderBy("o_orderkey"),
      Some("""SELECT o_orderkey, YEAR(o_orderdate) AS yr, MONTH(o_orderdate) AS mo,
             |       DAYOFMONTH(o_orderdate) AS dom,
             |       CAST(DATE_TRUNC('quarter', o_orderdate) AS TIMESTAMP) AS qtr_start,
             |       DATE_DIFF('day', CAST(o_orderdate AS DATE), DATE '2002-01-01') AS days_to_2002,
             |       o_orderdate + INTERVAL 30 DAY AS deadline
             |FROM orders WHERE o_orderkey < 500 ORDER BY o_orderkey""".stripMargin)),

    // ----------------------------------------------------------------
    // C4 conditional aggregation (CASE inside agg).
    QueryDef(
      "q18_conditional_agg",
      (s, d) =>
        T.orders(s, d)
          .groupBy(col("o_orderpriority"))
          .agg(
            sum(when(col("o_orderstatus") === "F", 1L).otherwise(0L)).as("n_finished"),
            count(when(col("o_totalprice") > 150000.0, lit(1))).as("n_big"),
            dsum(when(col("o_totalprice") > 150000.0, col("o_totalprice")).otherwise(0.0), 2).as("big_total"))
          .orderBy("o_orderpriority"),
      Some("""SELECT o_orderpriority,
             |       CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_finished,
             |       COUNT(CASE WHEN o_totalprice > 150000 THEN 1 END) AS n_big,
             |       CAST(SUM(CAST(CASE WHEN o_totalprice > 150000 THEN o_totalprice ELSE 0e0 END AS DECIMAL(18,2))) AS DOUBLE) AS big_total
             |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)),

    // ----------------------------------------------------------------
    // C3 range (non-equi) join: supplier pairs with near-equal balances,
    // executed as a BANDED EQUI-JOIN: each left row probes the 3 adjacent
    // bands floor(bal/width)±1, so the join has an equi key (band) and
    // plans as a shuffled hash / sort-merge join — never a quadratic
    // BroadcastNestedLoopJoin. Each qualifying pair matches exactly once
    // because the right row's band is unique. Linear in matches at any
    // scale; band width = the range predicate width (1.0).
    QueryDef(
      "q19_range_join",
      (s, d) => {
        val sup = T.supplier(s, d)
        val a = sup.select(col("s_suppkey").as("a_key"), col("s_acctbal").as("a_bal"))
          .withColumn("a_band", floor(col("a_bal")))
          .withColumn("band", explode(array(col("a_band") - 1, col("a_band"), col("a_band") + 1)))
        val b = sup.select(col("s_suppkey").as("b_key"), col("s_acctbal").as("b_bal"))
          .withColumn("band", floor(col("b_bal")))
        a.join(b, Seq("band"))
          .filter(col("a_key") < col("b_key") && abs(col("a_bal") - col("b_bal")) < lit(1.0))
          .select(col("a_key"), col("b_key"), (col("a_bal") - col("b_bal")).as("bal_diff"))
          .orderBy("a_key", "b_key")
      },
      Some("""SELECT a.s_suppkey AS a_key, b.s_suppkey AS b_key, a.s_acctbal - b.s_acctbal AS bal_diff
             |FROM supplier a JOIN supplier b
             |  ON a.s_suppkey < b.s_suppkey AND ABS(a.s_acctbal - b.s_acctbal) < 1
             |ORDER BY a_key, b_key""".stripMargin)),

    // ----------------------------------------------------------------
    // C3 as-of join: each click matched to the latest preceding purchase of
    // the same user. SINGLE-PASS plan: union clicks+purchases into one
    // stream, then `last(purchase_cols, ignoreNulls) over (partition by
    // user order by ts, kind)` — linear, one shuffle on user_id, no
    // click×purchase pair materialization (the join-then-rank formulation
    // explodes on skewed users). Purchases sort before clicks at equal ts
    // (kind 0 < 1) so `p_ts <= click_ts` is inclusive. Purchases are
    // pre-deduped to one row per (user_id, ts) via max_by(event_id) on
    // BOTH sides so DuckDB's arbitrary ASOF tie-pick can't mismatch.
    QueryDef(
      "q20_asof_join",
      (s, d) => {
        val ev = T.events(s, d)
        val clicks = ev.filter(col("event_type") === "click")
          .select(col("user_id"), col("ts"), lit(1).as("kind"),
            col("event_id").as("click_id"), lit(null).cast(TimestampType).as("pp_ts"),
            lit(null).cast(DoubleType).as("pp_value"))
        val purchases = ev.filter(col("event_type") === "purchase")
          .groupBy(col("user_id"), col("ts"))
          .agg(max_by(col("value"), col("event_id")).as("value"))
          .select(col("user_id"), col("ts"), lit(0).as("kind"),
            lit(null).cast(LongType).as("click_id"), col("ts").as("pp_ts"),
            col("value").as("pp_value"))
        val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("kind"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        purchases.unionByName(clicks)
          .withColumn("p_ts", last(col("pp_ts"), ignoreNulls = true).over(w))
          .withColumn("p_value", last(col("pp_value"), ignoreNulls = true).over(w))
          .filter(col("kind") === 1)
          .select(col("click_id"), col("user_id"), col("ts").as("click_ts"),
            col("p_ts"), col("p_value"))
          .orderBy("click_id")
      },
      Some("""SELECT c.click_id, c.user_id, c.click_ts, p.ts AS p_ts, p.value AS p_value
             |FROM (SELECT event_id AS click_id, user_id, ts AS click_ts FROM events WHERE event_type = 'click') c
             |ASOF LEFT JOIN (SELECT user_id, ts, MAX_BY(value, event_id) AS value
             |                FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts) p
             |  ON c.user_id = p.user_id AND p.ts <= c.click_ts
             |ORDER BY c.click_id""".stripMargin)),

    // ----------------------------------------------------------------
    // C8 JSON extraction from the events.props column.
    QueryDef(
      "q21_json_extract",
      (s, d) =>
        T.events(s, d)
          .select(col("event_type"), get_json_object(col("props"), "$.k").cast(LongType).as("k"))
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"),
            min(col("k")).as("min_k"), max(col("k")).as("max_k"))
          .orderBy("event_type"),
      Some("""SELECT event_type, COUNT(*) AS n,
             |       CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
             |       MIN(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
             |       MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
             |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // ----------------------------------------------------------------
    // C2/C4 scalar subquery: orders well above the (exact) global mean.
    QueryDef(
      "q22_scalar_subquery",
      (s, d) => {
        val o = T.orders(s, d)
        val stats = o.agg(davg(col("o_totalprice"), 2).as("avg_price"))
        o.crossJoin(broadcast(stats))
          .filter(col("o_totalprice") > col("avg_price") * 1.5)
          .select(col("o_orderkey"), col("o_totalprice"))
          .orderBy("o_orderkey")
      },
      Some("""SELECT o_orderkey, o_totalprice FROM orders
             |WHERE o_totalprice > (SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) FROM orders) * 1.5
             |ORDER BY o_orderkey""".stripMargin)),

    // ----------------------------------------------------------------
    // C3 cross/theta join over the two tiny dims.
    QueryDef(
      "q23_theta_join",
      (s, d) =>
        T.nation(s, d)
          .crossJoin(T.region(s, d))
          .filter(col("n_regionkey") =!= col("r_regionkey"))
          .select(col("n_name"), col("r_name"))
          .orderBy("n_name", "r_name"),
      Some("""SELECT n_name, r_name FROM nation CROSS JOIN region
             |WHERE n_regionkey <> r_regionkey ORDER BY n_name, r_name""".stripMargin)),

    // ----------------------------------------------------------------
    // C7 unionByName across differently-ordered schemas.
    QueryDef(
      "q24_union_by_name",
      (s, d) => {
        val c = T.customer(s, d)
          .select(col("c_name").as("name"), col("c_acctbal").as("acctbal"), lit("customer").as("kind"))
        val sup = T.supplier(s, d)
          .select(lit("supplier").as("kind"), col("s_acctbal").as("acctbal"), col("s_name").as("name"))
        c.unionByName(sup).filter(col("acctbal") > 9000.0).orderBy("kind", "name")
      },
      Some("""SELECT name, acctbal, kind FROM (
             |  SELECT c_name AS name, c_acctbal AS acctbal, 'customer' AS kind FROM customer
             |  UNION ALL
             |  SELECT s_name, s_acctbal, 'supplier' FROM supplier) t
             |WHERE acctbal > 9000 ORDER BY kind, name""".stripMargin)),

    // ----------------------------------------------------------------
    // C3 right outer join (form-distinct from q07's left).
    QueryDef(
      "q25_right_outer_join",
      (s, d) => {
        val o = T.orders(s, d).filter(col("o_totalprice") > 300000.0)
        val c = T.customer(s, d)
        o.join(c, o("o_custkey") === c("c_custkey"), "right")
          .groupBy(col("c_mktsegment"))
          .agg(count(col("o_orderkey")).as("n_big_orders"),
            count(lit(1)).as("n_rows"))
          .orderBy("c_mktsegment")
      },
      Some("""SELECT c_mktsegment, COUNT(o_orderkey) AS n_big_orders, COUNT(*) AS n_rows
             |FROM (SELECT * FROM orders WHERE o_totalprice > 300000) o
             |RIGHT JOIN customer ON o_custkey = c_custkey
             |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)),

    // ----------------------------------------------------------------
    // C3 full outer join over per-nation aggregates (either side may be
    // missing a nation; both null-sides must survive).
    QueryDef(
      "q26_full_outer_join",
      (s, d) => {
        val c = T.customer(s, d).filter(col("c_acctbal") > 9500.0)
          .groupBy(col("c_nationkey").as("nk")).agg(count(lit(1)).as("n_cust"))
        val sup = T.supplier(s, d).filter(col("s_acctbal") > 9500.0)
          .groupBy(col("s_nationkey").as("nk2")).agg(count(lit(1)).as("n_supp"))
        c.join(sup, col("nk") === col("nk2"), "full")
          .select(coalesce(col("nk"), col("nk2")).as("nationkey"),
            coalesce(col("n_cust"), lit(0L)).as("n_cust"),
            coalesce(col("n_supp"), lit(0L)).as("n_supp"))
          .orderBy("nationkey")
      },
      Some("""SELECT COALESCE(c.nk, s.nk2) AS nationkey,
             |       COALESCE(c.n_cust, 0) AS n_cust, COALESCE(s.n_supp, 0) AS n_supp
             |FROM (SELECT c_nationkey AS nk, COUNT(*) AS n_cust FROM customer
             |      WHERE c_acctbal > 9500 GROUP BY 1) c
             |FULL OUTER JOIN (SELECT s_nationkey AS nk2, COUNT(*) AS n_supp FROM supplier
             |      WHERE s_acctbal > 9500 GROUP BY 1) s ON c.nk = s.nk2
             |ORDER BY nationkey""".stripMargin)),

    // ----------------------------------------------------------------
    // C4 approx_count_distinct (HLL++). Sketch values are engine-specific
    // → no SQL oracle (rows-only check); RelationalSpec bounds the error
    // vs the exact count.
    // Plan note: mixing countDistinct with another aggregate makes Spark
    // plan an Expand (input duplicated per distinct-agg group) — 2× the
    // shuffled rows. Deduplicating the (flag, orderkey) pairs first and
    // counting feeds BOTH aggregates from one partial-aggregated shuffle;
    // the HLL sketch is set-semantics, so approx over deduped input is
    // bit-identical to approx over the raw rows. (Approx ALONE would skip
    // the dedup entirely — the dedup exists to serve the exact count.)
    QueryDef(
      "q27_approx_distinct",
      (s, d) =>
        T.lineitem(s, d)
          .select(col("l_returnflag"), col("l_orderkey")).distinct()
          .groupBy(col("l_returnflag"))
          .agg(approx_count_distinct(col("l_orderkey")).as("approx_orders"),
            count(col("l_orderkey")).as("exact_orders"))
          .orderBy("l_returnflag"),
      None),

    // ----------------------------------------------------------------
    // C4 collect_list / collect_set — sorted post-hoc for determinism
    // (Spark aggregation order is partition-dependent; sort_array makes
    // the result partitioning-invariant).
    QueryDef(
      "q28_collect",
      (s, d) =>
        T.orders(s, d).filter(col("o_custkey") < 100)
          .groupBy(col("o_custkey"))
          .agg(
            concat_ws(",", array_sort(collect_list(col("o_orderpriority")))).as("all_prios"),
            concat_ws(",", array_sort(collect_set(col("o_orderpriority")))).as("uniq_prios"),
            count(lit(1)).as("n"))
          .orderBy("o_custkey"),
      Some("""SELECT o_custkey,
             |       array_to_string(list_sort(list(o_orderpriority)), ',') AS all_prios,
             |       array_to_string(list_sort(list(DISTINCT o_orderpriority)), ',') AS uniq_prios,
             |       COUNT(*) AS n
             |FROM orders WHERE o_custkey < 100
             |GROUP BY o_custkey ORDER BY o_custkey""".stripMargin)),

    // ----------------------------------------------------------------
    // C8 array higher-order functions: transform/filter/exists/aggregate
    // over per-order quantity arrays.
    QueryDef(
      "q29_array_hofs",
      (s, d) => {
        val arr = T.lineitem(s, d).filter(col("l_orderkey") < 2000)
          .groupBy(col("l_orderkey"))
          .agg(array_sort(collect_list(col("l_quantity"))).as("qs"))
        arr.select(col("l_orderkey"),
            size(col("qs")).cast(LongType).as("n_items"),
            size(filter(col("qs"), q => q > 25.0)).cast(LongType).as("n_big"),
            exists(col("qs"), q => q === 50.0).as("has_max"),
            aggregate(col("qs"), lit(0.0).cast(DecimalType(38, 2)),
              (acc, q) => acc + q.cast(DecimalType(38, 2)))
              .cast(DoubleType).as("total_qty"),
            transform(col("qs"), q => q * 2).getItem(0).as("first_doubled"))
          .orderBy("l_orderkey")
      },
      Some("""WITH arr AS (
             |  SELECT l_orderkey, list_sort(list(l_quantity)) AS qs
             |  FROM lineitem WHERE l_orderkey < 2000 GROUP BY l_orderkey
             |)
             |SELECT l_orderkey,
             |       len(qs) AS n_items,
             |       len(list_filter(qs, q -> q > 25)) AS n_big,
             |       len(list_filter(qs, q -> q = 50)) > 0 AS has_max,
             |       CAST(SUM(CAST(q AS DECIMAL(38,2))) AS DOUBLE) AS total_qty,
             |       qs[1] * 2 AS first_doubled
             |FROM arr, unnest(qs) AS u(q)
             |GROUP BY l_orderkey, qs ORDER BY l_orderkey""".stripMargin)),

    // ----------------------------------------------------------------
    // C8 map functions: literal map lookup + map_from_entries round-trip.
    QueryDef(
      "q30_map_funcs",
      (s, d) => {
        val regionNames = typedlit(Map(
          0 -> "AFRICA", 1 -> "AMERICA", 2 -> "ASIA", 3 -> "EUROPE", 4 -> "MIDDLE EAST"))
        T.nation(s, d)
          .select(col("n_nationkey"), col("n_name"),
            element_at(regionNames, col("n_regionkey")).as("region_name"),
            map_from_entries(array(
              struct(lit("nation").as("k"), col("n_name").as("v")),
              struct(lit("key").as("k"), col("n_nationkey").cast(StringType).as("v"))))
              .getItem("nation").as("roundtrip"))
          .orderBy("n_nationkey")
      },
      Some("""SELECT n_nationkey, n_name,
             |       CASE n_regionkey WHEN 0 THEN 'AFRICA' WHEN 1 THEN 'AMERICA'
             |            WHEN 2 THEN 'ASIA' WHEN 3 THEN 'EUROPE' ELSE 'MIDDLE EAST' END AS region_name,
             |       n_name AS roundtrip
             |FROM nation ORDER BY n_nationkey""".stripMargin)),

    // ----------------------------------------------------------------
    // C1 CSV sink + scan roundtrip (schema-directed re-read; header on).
    QueryDef(
      "q32_csv_roundtrip",
      (s, d) => {
        // per-session unique dir: concurrent JVMs (Bench + Verify) must
        // not race on mode(overwrite) of a shared path
        val out = s"${System.getProperty("java.io.tmpdir")}/graft_csv_nation_${s.sparkContext.applicationId}"
        graft.util.TempFixtures.deleteOnExit(out)
        T.nation(s, d).write.mode("overwrite").option("header", "true").csv(out)
        s.read.option("header", "true")
          .schema("n_nationkey INT, n_name STRING, n_regionkey INT")
          .csv(out)
          .orderBy("n_nationkey")
      },
      Some("SELECT n_nationkey, n_name, n_regionkey FROM nation ORDER BY n_nationkey")),

    // ----------------------------------------------------------------
    // C1 ORC sink + scan roundtrip: the columnar-format sibling of the
    // CSV roundtrip — schema and types ride in the ORC footer, so the
    // re-read needs no schema directive and still prunes/pushes down
    // like parquet (Spark's OrcFileFormat is a first-class columnar
    // source with predicate pushdown + column pruning).
    QueryDef(
      "q53_orc_roundtrip",
      (s, d) => {
        // per-session unique dir: concurrent JVMs (Bench + Verify) must
        // not race on mode(overwrite) of a shared path
        val out = s"${System.getProperty("java.io.tmpdir")}/graft_orc_nation_${s.sparkContext.applicationId}"
        graft.util.TempFixtures.deleteOnExit(out)
        T.nation(s, d).write.mode("overwrite").orc(out)
        s.read.orc(out).orderBy("n_nationkey")
      },
      Some("SELECT n_nationkey, n_name, n_regionkey FROM nation ORDER BY n_nationkey")),

    // ----------------------------------------------------------------
    // C20 MERGE/upsert (round 15): Layout.mergeIntoPartitioned — the
    // copy-on-write table-maintenance primitive: a deterministic batch
    // of REPLACE rows (status 'U', price + 1000) and INSERT rows
    // (status 'I', key + 10M) for two months of a month-partitioned
    // orders table merges in; only the two touched partitions are read
    // (partition-pruned existing side) and rewritten (dynamic partition
    // overwrite) — MergeSpec pins untouched partition files
    // byte-identical. The gate reads the post-merge table state across
    // a touched + an untouched month; the oracle reconstructs the merge
    // relationally from the original orders table.
    QueryDef(
      "q54_merge_upsert",
      (s, d) => {
        val out = graft.util.TempFixtures.dir(s, "merge_orders", d) { path =>
          val base = T.orders(s, d)
            .withColumn("o_month", date_format(col("o_orderdate"), "yyyy-MM"))
          // rebalance on the partition column: without it every scan
          // task opens one file per month — splits x ~80 months of
          // near-empty files the merge then re-lists (guide §6)
          base.hint("rebalance", col("o_month"))
            .write.mode("overwrite").partitionBy("o_month").parquet(path)
          val touched = base.filter(col("o_month").isin("1997-03", "1997-04"))
          val replaced = touched.filter(col("o_orderkey") % 97 === 0)
            .withColumn("o_totalprice", col("o_totalprice") + 1000.0)
            .withColumn("o_orderstatus", lit("U"))
          val inserted = touched.filter(col("o_orderkey") % 203 === 0)
            .withColumn("o_orderkey", col("o_orderkey") + 10000000L)
            .withColumn("o_orderstatus", lit("I"))
          graft.operators.Layout.mergeIntoPartitioned(s, path,
            replaced.unionByName(inserted), "o_orderkey", "o_month")
        }
        s.read.parquet(out)
          .filter(col("o_month").isin("1997-03", "1997-04", "1997-05"))
          .groupBy(col("o_month"), col("o_orderstatus"))
          .agg(count(lit(1)).as("n"),
            dsum(col("o_totalprice"), 2).as("sum_price"))
          .orderBy("o_month", "o_orderstatus")
      },
      Some("""WITH base AS (
             |  SELECT o_orderkey, o_orderstatus, o_totalprice,
             |         strftime(o_orderdate, '%Y-%m') AS o_month
             |  FROM orders
             |),
             |touched AS (
             |  SELECT * FROM base WHERE o_month IN ('1997-03', '1997-04')
             |),
             |repl AS (
             |  SELECT o_orderkey, 'U' AS o_orderstatus,
             |         o_totalprice + 1000.0 AS o_totalprice, o_month
             |  FROM touched WHERE o_orderkey % 97 = 0
             |),
             |ins AS (
             |  SELECT o_orderkey + 10000000 AS o_orderkey,
             |         'I' AS o_orderstatus, o_totalprice, o_month
             |  FROM touched WHERE o_orderkey % 203 = 0
             |),
             |final AS (
             |  SELECT * FROM base WHERE o_month NOT IN ('1997-03', '1997-04')
             |  UNION ALL
             |  SELECT * FROM touched
             |  WHERE o_orderkey NOT IN (SELECT o_orderkey FROM repl
             |                           UNION ALL SELECT o_orderkey FROM ins)
             |  UNION ALL SELECT * FROM repl
             |  UNION ALL SELECT * FROM ins
             |)
             |SELECT o_month, o_orderstatus, COUNT(*) AS n,
             |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
             |FROM final
             |WHERE o_month IN ('1997-03', '1997-04', '1997-05')
             |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // MERGE with DELETES (round 16): tombstone rows (WHEN MATCHED AND
    // flag THEN DELETE) remove their (key, partition) row; a partition
    // whose rows are ALL tombstoned must drop its FILES too — dynamic
    // overwrite alone can't empty a partition (it only replaces
    // partitions present in the written data), so the operator diffs
    // the staged merge against the touched set and drops emptied
    // partition dirs explicitly. Here 1997-05 is wiped entirely (its
    // absence from the output is load-bearing), %97 keys are tombstoned
    // and non-overlapping %203 keys are replaced in 03/04, and the
    // untouched shoulder months prove merge scoping.
    QueryDef(
      "q55_merge_delete",
      (s, d) => {
        val out = graft.util.TempFixtures.dir(s, "merge_del_orders", d) { path =>
          val base = T.orders(s, d)
            .withColumn("o_month", date_format(col("o_orderdate"), "yyyy-MM"))
          // rebalance on the partition column: without it every scan
          // task opens one file per month — splits x ~80 months of
          // near-empty files the merge then re-lists (guide §6)
          base.hint("rebalance", col("o_month"))
            .write.mode("overwrite").partitionBy("o_month").parquet(path)
          val touched = base.filter(
            col("o_month").isin("1997-03", "1997-04", "1997-05"))
          val tombs = touched.filter(
              col("o_month").isin("1997-03", "1997-04") &&
                col("o_orderkey") % 97 === 0)
            .withColumn("_deleted", lit(true))
          val wipe05 = touched.filter(col("o_month") === "1997-05")
            .withColumn("_deleted", lit(true))
          val replaced = touched.filter(
              col("o_month").isin("1997-03", "1997-04") &&
                col("o_orderkey") % 203 === 0 &&
                col("o_orderkey") % 97 =!= 0)
            .withColumn("o_orderstatus", lit("U"))
            .withColumn("_deleted", lit(false))
          graft.operators.Layout.mergeIntoPartitioned(s, path,
            tombs.unionByName(wipe05).unionByName(replaced),
            "o_orderkey", "o_month", deleteCol = Some("_deleted"))
        }
        s.read.parquet(out)
          .filter(col("o_month").isin("1997-02", "1997-03", "1997-04",
            "1997-05", "1997-06"))
          .groupBy(col("o_month"), col("o_orderstatus"))
          .agg(count(lit(1)).as("n"),
            dsum(col("o_totalprice"), 2).as("sum_price"))
          .orderBy("o_month", "o_orderstatus")
      },
      Some("""WITH base AS (
             |  SELECT o_orderkey, o_orderstatus, o_totalprice,
             |         strftime(o_orderdate, '%Y-%m') AS o_month
             |  FROM orders
             |),
             |final AS (
             |  SELECT * FROM base
             |  WHERE o_month NOT IN ('1997-03', '1997-04', '1997-05')
             |  UNION ALL
             |  SELECT o_orderkey,
             |         CASE WHEN o_orderkey % 203 = 0 THEN 'U'
             |              ELSE o_orderstatus END AS o_orderstatus,
             |         o_totalprice, o_month
             |  FROM base
             |  WHERE o_month IN ('1997-03', '1997-04')
             |    AND o_orderkey % 97 <> 0
             |)
             |SELECT o_month, o_orderstatus, COUNT(*) AS n,
             |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
             |FROM final
             |WHERE o_month IN ('1997-02', '1997-03', '1997-04',
             |                  '1997-05', '1997-06')
             |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // Dense global row ids in a total order WITHOUT a global window
    // (round 16): monotonically_increasing_id is not dense, and a bare
    // global row_number collapses the table to one partition — the
    // operator is the two-phase distributed count scan (range-partition,
    // bounded per-range counts collect, broadcast base offsets,
    // within-range row_number). Non-trivial order (length DESC, doc_id)
    // makes the range routing itself load-bearing; the oracle computes
    // the same ids with one sequential window.
    QueryDef(
      "q56_global_ids",
      (s, d) => {
        val docs = T.documents(s, d)
          .select(col("doc_id"), length(col("text")).as("n_chars"))
        graft.operators.Layout.assignGlobalIds(docs,
            Seq(col("n_chars").desc, col("doc_id")))
          .select(col("doc_id"), col("n_chars"), col("gid"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id, CAST(length(text) AS INT) AS n_chars,
             |  CAST(row_number() OVER (ORDER BY length(text) DESC, doc_id)
             |       - 1 AS BIGINT) AS gid
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // ----------------------------------------------------------------
    // C8 math battery — restricted to IEEE-exact operations (abs, ceil,
    // floor, round-half-up on 2dp, sqrt, sign, mod, greatest/least) so
    // results are bit-identical across engines; transcendental functions
    // (ln/exp/pow) are deliberately excluded — libm rounding differs.
    QueryDef(
      "q35_math_funcs",
      (s, d) =>
        T.lineitem(s, d).filter(col("l_orderkey") < 300)
          .select(col("l_orderkey"), col("l_linenumber"),
            abs(col("l_discount") - 0.05).as("abs_d"),
            ceil(col("l_extendedprice")).as("ceil_p"),
            floor(col("l_extendedprice")).as("floor_p"),
            sqrt(col("l_quantity")).as("sqrt_q"),
            signum(col("l_discount") - 0.05).as("sign_d"),
            pmod(col("l_orderkey"), lit(7L)).as("mod7"),
            greatest(col("l_tax"), col("l_discount")).as("g"),
            least(col("l_tax"), col("l_discount")).as("l"))
          .orderBy("l_orderkey", "l_linenumber"),
      Some("""SELECT l_orderkey, l_linenumber,
             |       abs(l_discount - 0.05) AS abs_d,
             |       CAST(ceil(l_extendedprice) AS BIGINT) AS ceil_p,
             |       CAST(floor(l_extendedprice) AS BIGINT) AS floor_p,
             |       sqrt(l_quantity) AS sqrt_q,
             |       CAST(sign(l_discount - 0.05) AS DOUBLE) AS sign_d,
             |       l_orderkey % 7 AS mod7,
             |       greatest(l_tax, l_discount) AS g,
             |       least(l_tax, l_discount) AS l
             |FROM lineitem WHERE l_orderkey < 300
             |ORDER BY l_orderkey, l_linenumber""".stripMargin)),

    // ----------------------------------------------------------------
    // Skew pattern: two-phase salted aggregation. Phase 1 splits each hot
    // group key across 16 salt buckets (map-side + 16-way parallel
    // reduce), phase 2 merges the 16 partials per key. With only 3 group
    // keys over 600 K rows, a direct groupBy would reduce on 3 tasks;
    // salting keeps all cores busy. Decimal partials make the two-phase
    // sum bit-identical to the direct one.
    QueryDef(
      "q34_salted_skew_agg",
      (s, d) => {
        val salted = T.lineitem(s, d)
          .withColumn("_salt", pmod(hash(col("l_orderkey")), lit(16)))
          .groupBy(col("l_returnflag"), col("_salt"))
          .agg(sum(dec(col("l_quantity"), 2)).as("partial_qty"),
            count(lit(1)).as("partial_n"))
        salted.groupBy(col("l_returnflag"))
          .agg(sum(col("partial_qty")).cast(DoubleType).as("sum_qty"),
            sum(col("partial_n")).as("n"))
          .orderBy("l_returnflag")
      },
      Some("""SELECT l_returnflag,
             |       CAST(SUM(CAST(l_quantity AS DECIMAL(38,2))) AS DOUBLE) AS sum_qty,
             |       COUNT(*) AS n
             |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // ----------------------------------------------------------------
    // Skew pattern: salted shuffle JOIN. events has 5 event_type values,
    // so a shuffle join on event_type reduces on 5 tasks no matter how
    // many executors exist. Salting the fact with pmod(hash(pk), 8) and
    // replicating the dim ×8 (one explode — dim rows × salt values)
    // spreads each hot key over 8 reducers; the merge hint forces the
    // shuffle path so the gate exercises the salted exchange (a dim this
    // small would otherwise broadcast — salting is the fallback when the
    // dim is too big to broadcast and a pre-bucketed layout fixes the
    // partitioning). Join is 1:1 per (type, salt), so aggregates are
    // bit-identical to the unsalted plan.
    QueryDef(
      "q50_salted_skew_join",
      (s, d) => {
        val saltN = 8
        val ev = T.events(s, d)
        val dim = ev.select(col("event_type")).distinct()
          .withColumn("type_weight", length(col("event_type")).cast(LongType))
        val replicated = dim
          .withColumn("_salt", explode(sequence(lit(0), lit(saltN - 1))))
        val salted = ev
          .withColumn("_salt", pmod(hash(col("event_id")), lit(saltN)))
        salted.join(replicated.hint("merge"), Seq("event_type", "_salt"))
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"),
            sum(col("type_weight")).as("sum_w"))
          .orderBy("event_type")
      },
      Some("""WITH dim AS (
             |  SELECT DISTINCT event_type,
             |         CAST(length(event_type) AS BIGINT) AS type_weight
             |  FROM events)
             |SELECT e.event_type, COUNT(*) AS n,
             |       CAST(SUM(d.type_weight) AS BIGINT) AS sum_w
             |FROM events e JOIN dim d USING (event_type)
             |GROUP BY e.event_type ORDER BY e.event_type""".stripMargin)),

    // ----------------------------------------------------------------
    // C14 typed UDAF: exact weighted mean via Aggregator[IN,BUF,OUT]
    // (order-independent long buffer — see functions.WeightedMean). The
    // oracle replicates the fixed-point arithmetic digit for digit.
    QueryDef(
      "q33_udaf_weighted_mean",
      (s, d) => {
        val wm = udaf(graft.functions.WeightedMean,
          org.apache.spark.sql.Encoders.tuple(
            org.apache.spark.sql.Encoders.scalaDouble,
            org.apache.spark.sql.Encoders.scalaDouble))
        T.lineitem(s, d)
          .groupBy(col("l_returnflag"))
          .agg(wm(col("l_discount"), col("l_quantity")).as("wavg_discount"),
            count(lit(1)).as("n"))
          .orderBy("l_returnflag")
      },
      Some("""SELECT l_returnflag,
             |       CAST(SUM(CAST(round(l_discount * 100) AS BIGINT)
             |                 * CAST(round(l_quantity * 100) AS BIGINT)) AS DOUBLE)
             |         / 100 / CAST(SUM(CAST(round(l_quantity * 100) AS BIGINT)) AS DOUBLE)
             |         AS wavg_discount,
             |       COUNT(*) AS n
             |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // ----------------------------------------------------------------
    // C8 from_json / to_json over the events.props JSON column.
    QueryDef(
      "q31_from_to_json",
      (s, d) =>
        T.events(s, d).filter(col("event_id") < 500)
          .select(col("event_id"),
            from_json(col("props"), StructType(Seq(StructField("k", LongType))))
              .getField("k").as("k"),
            to_json(struct(col("event_type").as("t"),
              get_json_object(col("props"), "$.k").cast(LongType).as("k"))).as("j"))
          .orderBy("event_id"),
      Some("""SELECT event_id,
             |       CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
             |       '{"t":"' || event_type || '","k":' || json_extract_string(props, '$.k') || '}' AS j
             |FROM events WHERE event_id < 500 ORDER BY event_id""".stripMargin)),

    // ----------------------------------------------------------------
    // §4.4c whole-operator custom plan: native bounded-heap top-k per
    // key (graft.plans.TopKPerKey — logical node + strategy + partial/
    // final SparkPlan). Same row set as the window row_number form, but
    // no per-partition sort and the shuffle carries ≤ k·|keys| rows per
    // input partition. Total (tie-free) ordering ⇒ deterministic.
    QueryDef(
      "q36_native_topk",
      (s, d) =>
        graft.operators.TopK.perKey(
            T.lineitem(s, d),
            Seq(col("l_returnflag"), col("l_linestatus")),
            Seq(col("l_extendedprice").desc, col("l_orderkey"),
              col("l_linenumber")),
            3)
          .select(col("l_returnflag"), col("l_linestatus"),
            col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))
          .orderBy("l_returnflag", "l_linestatus", "l_orderkey",
            "l_linenumber"),
      Some("""SELECT l_returnflag, l_linestatus, l_orderkey, l_linenumber,
             |       l_extendedprice
             |FROM (
             |  SELECT l_returnflag, l_linestatus, l_orderkey, l_linenumber,
             |         l_extendedprice,
             |         row_number() OVER (
             |           PARTITION BY l_returnflag, l_linestatus
             |           ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber
             |         ) AS rn
             |  FROM lineitem
             |)
             |WHERE rn <= 3
             |ORDER BY l_returnflag, l_linestatus, l_orderkey, l_linenumber""".stripMargin)),

    // Same top-k, written as the STANDARD window idiom — the injected
    // RewriteWindowTopK rule retargets it onto the native heap operator
    // transparently (TopKPerKeySpec asserts the plan). One query surface,
    // two spellings, one physical plan.
    QueryDef(
      "q37_auto_topk",
      (s, d) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("l_returnflag", "l_linestatus")
          .orderBy(col("l_extendedprice").desc, col("l_orderkey"),
            col("l_linenumber"))
        T.lineitem(s, d)
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 3)
          .drop("rn")
          .select(col("l_returnflag"), col("l_linestatus"),
            col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))
          .orderBy("l_returnflag", "l_linestatus", "l_orderkey",
            "l_linenumber")
      },
      Some("""SELECT l_returnflag, l_linestatus, l_orderkey, l_linenumber,
             |       l_extendedprice
             |FROM (
             |  SELECT l_returnflag, l_linestatus, l_orderkey, l_linenumber,
             |         l_extendedprice,
             |         row_number() OVER (
             |           PARTITION BY l_returnflag, l_linestatus
             |           ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber
             |         ) AS rn
             |  FROM lineitem
             |)
             |WHERE rn <= 3
             |ORDER BY l_returnflag, l_linestatus, l_orderkey, l_linenumber""".stripMargin)),

    // ----------------------------------------------------------------
    // C4 exact quantiles: Spark `percentile` and DuckDB `quantile_cont`
    // share the interpolated-rank definition, so grouped quartiles
    // hash-match exactly. (approx_percentile's merge order is partial-
    // aggregation-dependent — deliberately NOT gated.) At scale exact
    // percentile sorts per group in the agg buffer: fine on grouped
    // data; a global quantile over 100 TB would use approx_percentile.
    QueryDef(
      "q38_percentiles",
      (s, d) => {
        // sorted-rank exact percentiles (r22, guide §5): the
        // `percentile` aggregate buffered each group's FULL value
        // multiset in one aggregation buffer — an OOM grenade for a
        // high-cardinality group at scale; the sorted formulation
        // spills through the window sort and interpolates the same
        // IEEE-754 doubles bit-for-bit
        // ([[graft.operators.Percentiles.sortedPercentiles]] — the
        // oracle hash is unchanged). One sort per ORDER column: prices
        // and quantities sort independently, exactly as the two
        // percentile buffers ordered independently before.
        import graft.operators.Percentiles.sortedPercentiles
        val li = T.lineitem(s, d)
        val price = sortedPercentiles(li, "l_returnflag",
          col("l_extendedprice"),
          Seq(0.25 -> "_q25", 0.5 -> "_q50", 0.75 -> "_q75"))
        val qty = sortedPercentiles(li, "l_returnflag", col("l_quantity"),
          Seq(0.5 -> "_mq"))
        price.join(qty, "l_returnflag")
          .select(col("l_returnflag"),
            round(col("_q25"), 6).as("q25"),
            round(col("_q50"), 6).as("q50"),
            round(col("_q75"), 6).as("q75"),
            round(col("_mq"), 6).as("med_qty"))
          .orderBy("l_returnflag")
      },
      Some("""SELECT l_returnflag,
             |  round(quantile_cont(l_extendedprice, 0.25), 6) AS q25,
             |  round(quantile_cont(l_extendedprice, 0.5), 6) AS q50,
             |  round(quantile_cont(l_extendedprice, 0.75), 6) AS q75,
             |  round(quantile_cont(l_quantity, 0.5), 6) AS med_qty
             |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // C4/C8 fixed-width histogram (the distribution profile a curation
    // pipeline runs on quality scores): global min/max via a 1-row
    // broadcast, bucket arithmetic identical on both engines, exact
    // count/min/max per bucket (no order-dependent double sums).
    QueryDef(
      "q39_histogram",
      (s, d) => {
        val li = T.lineitem(s, d)
        val mm = li.agg(min(col("l_extendedprice")).as("mn"),
          max(col("l_extendedprice")).as("mx"))
        li.crossJoin(broadcast(mm))
          .withColumn("bucket",
            least(lit(15), floor((col("l_extendedprice") - col("mn")) /
              (col("mx") - col("mn")) * 16)).cast(LongType))
          .groupBy("bucket")
          .agg(count(lit(1)).as("n"),
            min(col("l_extendedprice")).as("lo"),
            max(col("l_extendedprice")).as("hi"))
          .orderBy("bucket")
      },
      Some("""WITH mm AS (
             |  SELECT min(l_extendedprice) AS mn, max(l_extendedprice) AS mx
             |  FROM lineitem
             |)
             |SELECT CAST(least(15, floor((l_extendedprice - mn)/(mx - mn)*16)) AS BIGINT)
             |         AS bucket,
             |       CAST(count(*) AS BIGINT) AS n,
             |       min(l_extendedprice) AS lo, max(l_extendedprice) AS hi
             |FROM lineitem, mm GROUP BY 1 ORDER BY bucket""".stripMargin)),

    // ----------------------------------------------------------------
    // C4 pivot (wide conditional aggregation). Spark's relational pivot
    // with an explicit value list — no extra pass to discover values —
    // plans as ONE two-phase hash aggregate over |priorities| × 3 cells;
    // the shuffle carries only group partials, same as q01. At 100 TB the
    // plan is identical: pivot never materializes a wide intermediate.
    QueryDef(
      "q40_pivot",
      (s, d) =>
        T.orders(s, d)
          .groupBy(col("o_orderpriority"))
          .pivot("o_orderstatus", Seq("F", "O", "P"))
          .agg(dsum(col("o_totalprice"), 2))
          .orderBy("o_orderpriority"),
      Some("""SELECT o_orderpriority,
             |  CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS "F",
             |  CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS "O",
             |  CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS "P"
             |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)),

    // ----------------------------------------------------------------
    // C4 unpivot/melt (wide→long). Runs on an already-aggregated 3-row
    // frame here; on a raw table unpivot is a zero-shuffle narrow map
    // (each row expands to |measures| rows in place), so it composes with
    // any downstream groupBy at scale.
    QueryDef(
      "q41_unpivot",
      (s, d) =>
        T.lineitem(s, d)
          .groupBy(col("l_returnflag"))
          .agg(dsum(col("l_quantity"), 2).as("sum_qty"),
            dsum(col("l_extendedprice"), 2).as("sum_price"),
            dsum(col("l_discount"), 6).as("sum_disc"))
          .unpivot(Array(col("l_returnflag")),
            Array(col("sum_qty"), col("sum_price"), col("sum_disc")),
            "metric", "value")
          .orderBy("l_returnflag", "metric"),
      Some("""WITH g AS (
             |  SELECT l_returnflag,
             |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
             |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
             |    CAST(SUM(CAST(l_discount AS DECIMAL(18,6))) AS DOUBLE) AS sum_disc
             |  FROM lineitem GROUP BY l_returnflag)
             |SELECT l_returnflag, metric, value FROM (
             |  SELECT l_returnflag, 'sum_qty' AS metric, sum_qty AS value FROM g
             |  UNION ALL SELECT l_returnflag, 'sum_price', sum_price FROM g
             |  UNION ALL SELECT l_returnflag, 'sum_disc', sum_disc FROM g) u
             |ORDER BY l_returnflag, metric""".stripMargin)),

    // ----------------------------------------------------------------
    // C3/C8 SQL front-end with correlated EXISTS / NOT EXISTS. Catalyst
    // decorrelates both subqueries into a left-semi and a left-anti join
    // on l_orderkey — the same scale-safe shuffled joins as q05/q06, but
    // arrived at from the declarative SQL a user would actually write.
    QueryDef(
      "q42_exists_subquery",
      (s, d) => {
        T.orders(s, d).createOrReplaceTempView("orders")
        T.lineitem(s, d).createOrReplaceTempView("lineitem")
        s.sql("""SELECT o_orderkey, o_totalprice FROM orders o
                |WHERE EXISTS (SELECT 1 FROM lineitem l
                |              WHERE l.l_orderkey = o.o_orderkey AND l.l_discount > 0.09)
                |  AND NOT EXISTS (SELECT 1 FROM lineitem l
                |                  WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity > 45)
                |ORDER BY o_orderkey""".stripMargin)
      },
      Some("""SELECT o_orderkey, o_totalprice FROM orders o
             |WHERE EXISTS (SELECT 1 FROM lineitem l
             |              WHERE l.l_orderkey = o.o_orderkey AND l.l_discount > 0.09)
             |  AND NOT EXISTS (SELECT 1 FROM lineitem l
             |                  WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity > 45)
             |ORDER BY o_orderkey""".stripMargin)),

    // ----------------------------------------------------------------
    // C5 RANGE-frame window (trailing 7-day totals per priority class —
    // the event-time rolling metric shape). The frame is value-based, so
    // ties on the same date share one frame; partitioned by priority the
    // sort is distributed (no single-partition window). Exact decimal sum
    // keeps the window aggregate order-independent.
    QueryDef(
      "q43_window_range",
      (s, d) => {
        val w = Window.partitionBy(col("o_orderpriority"))
          // NTZ has no direct long cast in Spark 4; the UTC session makes
          // NTZ→TZ→epoch-seconds exact and tz-independent
          .orderBy(col("o_orderdate").cast(TimestampType).cast(LongType))
          .rangeBetween(-7L * 86400L, 0L)
        T.orders(s, d)
          .select(col("o_orderkey"), col("o_orderpriority"), col("o_orderdate"),
            count(lit(1)).over(w).as("n_7d"),
            sum(dec(col("o_totalprice"), 2)).over(w).cast(DoubleType).as("sum_7d"))
          .orderBy("o_orderkey")
      },
      Some("""SELECT o_orderkey, o_orderpriority, o_orderdate,
             |  COUNT(*) OVER w AS n_7d,
             |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER w AS DOUBLE) AS sum_7d
             |FROM orders
             |WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_orderdate
             |             RANGE BETWEEN INTERVAL 7 DAY PRECEDING AND CURRENT ROW)
             |ORDER BY o_orderkey""".stripMargin)),

    // ----------------------------------------------------------------
    // C1/C2 hive-style partitioned write + partition-pruned read — THE
    // 100 TB scan pattern: a month-partitioned fact table turns a
    // one-month query into a directory prune that never opens the other
    // ~71 partitions' files. PartitionPruningSpec asserts the
    // PartitionFilters land in the scan; this gate proves the values.
    QueryDef(
      "q44_partition_pruning",
      (s, d) => {
        // layout artifact: built once per (session, sf) — see TempFixtures
        val out = graft.util.TempFixtures.dir(s, "part_orders", d) { path =>
          T.orders(s, d)
            .withColumn("o_month", date_format(col("o_orderdate"), "yyyy-MM"))
            .hint("rebalance", col("o_month")) // one file per month, not per (task, month)
            .write.mode("overwrite").partitionBy("o_month").parquet(path)
        }
        s.read.parquet(out)
          .filter(col("o_month") === "1997-03")
          .groupBy(col("o_orderstatus"))
          .agg(count(lit(1)).as("n"),
            dsum(col("o_totalprice"), 2).as("sum_price"))
          .orderBy("o_orderstatus")
      },
      Some("""SELECT o_orderstatus, COUNT(*) AS n,
             |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
             |FROM orders WHERE strftime(o_orderdate, '%Y-%m') = '1997-03'
             |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)),

    // ----------------------------------------------------------------
    // C20 Z-order layout: cluster events along the Morton curve of
    // (user_id, value) so every output file has a tight min/max envelope
    // in BOTH dimensions — a 2-D box predicate then prunes files on
    // parquet footer stats, where a 1-D range layout serves only its own
    // column (FileLayoutSpec asserts the box touches a strict subset of
    // files). Query result is layout-independent, so the oracle is the
    // plain filter.
    QueryDef(
      "q51_zorder_scan",
      (s, d) => {
        val out = graft.util.TempFixtures.dir(s, "zorder_events", d) { path =>
          graft.operators.Layout.clusterByZ(
            T.events(s, d).drop("ts"), Seq("user_id", "value"), 8, path)
        }
        s.read.parquet(out)
          .filter(col("user_id").between(100, 300) &&
            col("value").between(10.0, 40.0))
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"), dsum(col("value"), 6).as("sum_value"))
          .orderBy("event_type")
      },
      Some("""SELECT event_type, COUNT(*) AS n,
             |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
             |FROM events
             |WHERE user_id BETWEEN 100 AND 300 AND value BETWEEN 10.0 AND 40.0
             |GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // ----------------------------------------------------------------
    // C20 small-files compaction: fragment events into 64 KB-scale
    // files, REBALANCE-compact to advisory-sized output, query the
    // compacted table. Result is layout-independent (oracle = plain
    // aggregate); CompactionSpec asserts the file count actually
    // collapses.
    QueryDef(
      "q52_compaction",
      (s, d) => {
        val out = graft.util.TempFixtures.dir(s, "compaction_events", d) { path =>
          T.events(s, d).drop("ts").repartition(64)
            .write.mode("overwrite").parquet(s"$path/frag")
          graft.operators.Layout.compact(s, s"$path/frag", s"$path/compacted", "8MB")
        }
        s.read.parquet(s"$out/compacted")
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"), dsum(col("value"), 6).as("sum_value"))
          .orderBy("event_type")
      },
      Some("""SELECT event_type, COUNT(*) AS n,
             |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
             |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // ----------------------------------------------------------------
    // C1/C3 bucketed write + co-located join — the shuffle-elimination
    // pattern for a stable join key: both sides bucketed+sorted on the
    // key, the sort-merge join reads bucket i against bucket i with NO
    // exchange and NO sort (BucketingSpec asserts the plan). At 100 TB
    // the one-time bucketed write amortizes over every subsequent join.
    QueryDef(
      "q45_bucketed_join",
      (s, d) => {
        // bucketed tables are the canonical one-time layout job: written
        // once per (session, sf), reused by every subsequent invocation
        val (to, tl) = bucketedTables.getOrElseUpdate(s, s"btables|$d") {
          val sf = java.nio.file.Paths.get(d).getFileName.toString
            .replaceAll("[^a-zA-Z0-9]", "_")
          val tag = s"${sf}_${graft.util.TempFixtures.appTag(s)}"
          val names = (s"graft_b_orders_$tag", s"graft_b_lineitem_$tag")
          T.orders(s, d)
            .select("o_orderkey", "o_orderpriority")
            .write.mode("overwrite").bucketBy(8, "o_orderkey")
            .sortBy("o_orderkey").saveAsTable(names._1)
          T.lineitem(s, d)
            .select("l_orderkey", "l_quantity")
            .write.mode("overwrite").bucketBy(8, "l_orderkey")
            .sortBy("l_orderkey").saveAsTable(names._2)
          names
        }
        // MERGE hint: the small sf side would otherwise broadcast, which
        // is a fine plan but not the bucketed pattern under test
        s.table(to).hint("merge")
          .join(s.table(tl), col("o_orderkey") === col("l_orderkey"))
          .groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("n_items"),
            dsum(col("l_quantity"), 2).as("sum_qty"))
          .orderBy("o_orderpriority")
      },
      Some("""SELECT o_orderpriority, COUNT(*) AS n_items,
             |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
             |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
             |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)),

    // ----------------------------------------------------------------
    // C3 shuffled-hash join, explicitly selected. When the build side is
    // far smaller than the probe side but above the broadcast threshold,
    // SHJ skips the sort SMJ would pay on BOTH shuffled sides — the right
    // call at 100 TB for medium-dim⋈fact. The hint demonstrates strategy
    // control; RelationalSpec asserts the physical operator.
    QueryDef(
      "q46_shuffled_hash_join",
      (s, d) =>
        T.customer(s, d).hint("shuffle_hash")
          .join(T.orders(s, d), col("c_custkey") === col("o_custkey"))
          .groupBy(col("c_mktsegment"))
          .agg(count(lit(1)).as("n_orders"),
            dsum(col("o_totalprice"), 2).as("sum_price"))
          .orderBy("c_mktsegment"),
      Some("""SELECT c_mktsegment, COUNT(*) AS n_orders,
             |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
             |FROM customer JOIN orders ON c_custkey = o_custkey
             |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)),

    // ----------------------------------------------------------------
    // C4 approximate grouped quantiles (G-K sketch): the mergeable-sketch
    // path for percentile at 100 TB — bounded memory per group vs the
    // exact multiset buffer of q38. Rows-only gate (sketch internals are
    // engine-specific); RelationalSpec bounds its error against q38's
    // exact quartiles.
    QueryDef(
      "q47_approx_quantile",
      (s, d) =>
        T.lineitem(s, d)
          .groupBy(col("l_returnflag"))
          .agg(approx_percentile(col("l_extendedprice"),
              array(lit(0.25), lit(0.5), lit(0.75)), lit(10000)).as("qs"))
          .select(col("l_returnflag"),
            element_at(col("qs"), 1).as("q25"),
            element_at(col("qs"), 2).as("q50"),
            element_at(col("qs"), 3).as("q75"))
          .orderBy("l_returnflag"),
      None),

    // ----------------------------------------------------------------
    // C5 ranking-function battery: dense_rank / ntile / percent_rank /
    // cume_dist over one per-key total order — one Window pass, one
    // shuffle on the partition key. Rank VALUES depend only on the
    // ordering keys, so the output is deterministic even under ties.
    QueryDef(
      "q48_rank_battery",
      (s, d) => {
        val w = Window.partitionBy(col("c_mktsegment"))
          .orderBy(col("c_acctbal").desc, col("c_custkey"))
        T.customer(s, d)
          .filter(col("c_custkey") < 500)
          .select(col("c_mktsegment"), col("c_custkey"), col("c_acctbal"),
            dense_rank().over(w).cast(LongType).as("drk"),
            ntile(4).over(w).cast(LongType).as("quartile"),
            round(percent_rank().over(w), 6).as("prk"),
            round(cume_dist().over(w), 6).as("cd"))
          .orderBy("c_mktsegment", "c_custkey")
      },
      Some("""SELECT c_mktsegment, c_custkey, c_acctbal,
             |  DENSE_RANK() OVER w AS drk,
             |  NTILE(4) OVER w AS quartile,
             |  ROUND(PERCENT_RANK() OVER w, 6) AS prk,
             |  ROUND(CUME_DIST() OVER w, 6) AS cd
             |FROM customer
             |WHERE c_custkey < 500
             |WINDOW w AS (PARTITION BY c_mktsegment
             |             ORDER BY c_acctbal DESC, c_custkey)
             |ORDER BY c_mktsegment, c_custkey""".stripMargin)),

    // ----------------------------------------------------------------
    // C1 schema evolution: two writer generations with diverging schemas
    // (a column added later), one mergeSchema read presenting the union
    // schema with nulls where the old generation lacks the column — the
    // long-lived-dataset pattern (at 100 TB you never rewrite history to
    // add a column).
    QueryDef(
      "q49_schema_merge",
      (s, d) => {
        val out = s"${System.getProperty("java.io.tmpdir")}/graft_evolve_${s.sparkContext.applicationId}"
        graft.util.TempFixtures.deleteOnExit(out)
        val o = T.orders(s, d)
        o.filter(col("o_orderkey") < 1000)
          .select(col("o_orderkey"), col("o_totalprice"))
          .write.mode("overwrite").parquet(s"$out/gen=1")
        o.filter(col("o_orderkey") >= 1000)
          .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
          .write.mode("overwrite").parquet(s"$out/gen=2")
        s.read.option("mergeSchema", "true").parquet(s"$out/gen=1", s"$out/gen=2")
          .orderBy("o_orderkey")
      },
      Some("""SELECT o_orderkey, o_totalprice,
             |  CASE WHEN o_orderkey >= 1000 THEN o_orderstatus END AS o_orderstatus
             |FROM orders ORDER BY o_orderkey""".stripMargin))
  )
}
