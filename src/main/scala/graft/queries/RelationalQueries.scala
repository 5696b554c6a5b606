package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

import graft.Tables
import graft.expr.ExactSums
import graft.ops.{RelationalOps, SkewOps}

/** Relational operator coverage (SURVEY.md §2 classes A-H, F-G) expressed
  * over the driver's TPC-H-ish tables. Each query name carries the §2 op
  * ids it exercises; the reference citation is in the NamedQuery doc.
  */
object RelationalQueries extends QueryModule {

  /** Σ price·(1 − discount), exact at scale 4: cents × (100 − cents). */
  private def discountedRevenue: Column =
    ExactSums.sumOf(4, ExactSums.cents(col("l_extendedprice"), 2), lit(100L) - ExactSums.cents(col("l_discount"), 2))

  def queries: Seq[(String, NamedQuery)] = Seq(

    // ---------------------------------------------------------------- q01
    // D1/D2 (all coverages.R:319-322): grouped sums/means/counts — the
    // reference's `group_by %>% summarize` shape at TPC-H Q1 scale.
    "q01_pricing_summary" -> NamedQuery(
      fn = (s, d) => {
        Tables.lineitem(s, d)
          .groupBy("l_returnflag", "l_linestatus")
          .agg(
            exactSum(col("l_quantity")).as("sum_qty"),
            exactSum(col("l_extendedprice")).as("sum_base_price"),
            discountedRevenue.as("sum_disc_price"),
            count(lit(1)).as("count_order"))
          .withColumn("avg_qty", col("sum_qty") / col("count_order"))
          .orderBy("l_returnflag", "l_linestatus")
      },
      oracle = Some("""
        SELECT l_returnflag, l_linestatus,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
               COUNT(*) AS count_order,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty
        FROM lineitem
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus"""),
      doc = "D1/D2 grouped aggregation (all coverages.R:319-322)"),

    // ---------------------------------------------------------------- q02
    // C1/C2 (Tutorial.R:44-52,129-136): dim-chain equi-joins, dims
    // broadcast — plays⋈games⋈tracking transposed to the star schema.
    "q02_region_revenue" -> NamedQuery(
      fn = (s, d) => {
        val li = Tables.lineitem(s, d)
        val o = Tables.orders(s, d)
        val c = broadcast(Tables.customer(s, d))
        val n = broadcast(Tables.nation(s, d))
        val r = broadcast(Tables.region(s, d))
        li.join(o, col("l_orderkey") === col("o_orderkey"))
          .join(c, col("o_custkey") === col("c_custkey"))
          .join(n, col("c_nationkey") === col("n_nationkey"))
          .join(r, col("n_regionkey") === col("r_regionkey"))
          .groupBy("r_name")
          .agg(
            count(lit(1)).as("n_lines"),
            discountedRevenue.as("revenue"))
          .orderBy("r_name")
      },
      oracle = Some("""
        SELECT r_name, COUNT(*) AS n_lines,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
        FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation   ON c_nationkey = n_nationkey
        JOIN region   ON n_regionkey = r_regionkey
        GROUP BY r_name
        ORDER BY r_name"""),
      doc = "C1/C2 star joins w/ broadcast dims (Tutorial.R:44-52)"),

    // ---------------------------------------------------------------- q03
    // B2/B3 (Tutorial.R:148-166; Field Control.R:38-42): multi-branch
    // conditional projection + date part extraction.
    "q03_priority_year" -> NamedQuery(
      fn = (s, d) => {
        Tables.orders(s, d)
          .withColumn("order_year", year(col("o_orderdate")).cast("long"))
          .withColumn("urgency",
            when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), "hot")
              .when(col("o_orderpriority") === "3-MEDIUM", "warm")
              .otherwise("cold"))
          .groupBy("order_year", "urgency")
          .agg(count(lit(1)).as("n_orders"), exactSum(col("o_totalprice")).as("total_price"))
          .orderBy("order_year", "urgency")
      },
      oracle = Some("""
        SELECT CAST(year(o_orderdate) AS BIGINT) AS order_year,
               CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 'hot'
                    WHEN o_orderpriority = '3-MEDIUM' THEN 'warm'
                    ELSE 'cold' END AS urgency,
               COUNT(*) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
        FROM orders
        GROUP BY 1, 2
        ORDER BY 1, 2"""),
      doc = "B2/B3 case_when projection (Tutorial.R:148-166)"),

    // ---------------------------------------------------------------- q04
    // E1 (all coverages.R:288-290): row_number per group with pinned
    // deterministic tie-break; F2 top-k.
    "q04_topk_per_group" -> NamedQuery(
      fn = (s, d) => {
        RelationalOps.topKPerGroup(
          Seq("o_custkey"),
          Seq(col("o_totalprice").desc, col("o_orderkey").asc), 3)(Tables.orders(s, d))
          .select("o_custkey", "o_orderkey", "o_totalprice")
          .orderBy("o_custkey", "o_orderkey")
      },
      oracle = Some("""
        SELECT o_custkey, o_orderkey, o_totalprice
        FROM (SELECT o_custkey, o_orderkey, o_totalprice,
                     row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
              FROM orders)
        WHERE rn <= 3
        ORDER BY o_custkey, o_orderkey"""),
      doc = "E1/F2 top-k per group (all coverages.R:288-290)"),

    // ---------------------------------------------------------------- q05
    // D8/E3 (Tutorial.R:182-186): attach a distinguished row's value to
    // every group row via window conditional-max; B8 IN-list filter.
    // Flagship: scan→filter→window→project (SURVEY.md §7.2 step 1).
    "q05_anchor_window" -> NamedQuery(
      fn = (s, d) => {
        RelationalOps.attachAnchor(
          Seq("l_orderkey"), col("l_linenumber") === 1,
          Map("base_price" -> col("l_extendedprice")))(Tables.lineitem(s, d))
          .filter(col("l_returnflag").isin("A", "N"))
          .withColumn("delta", col("base_price") - col("l_extendedprice"))
          .select("l_orderkey", "l_linenumber", "base_price", "delta")
          .orderBy("l_orderkey", "l_linenumber")
      },
      oracle = Some("""
        SELECT l_orderkey, l_linenumber, base_price, base_price - l_extendedprice AS delta
        FROM (SELECT l_orderkey, l_linenumber, l_extendedprice, l_returnflag,
                     max(CASE WHEN l_linenumber = 1 THEN l_extendedprice END)
                       OVER (PARTITION BY l_orderkey) AS base_price
              FROM lineitem)
        WHERE l_returnflag IN ('A','N')
        ORDER BY l_orderkey, l_linenumber"""),
      doc = "D8/E3 distinguished-row window attach (Tutorial.R:182-186)"),

    // ---------------------------------------------------------------- q06
    // C4 (Field Control.R:226-241): same semantics as q05 but as the
    // reference's self-join-to-ball-row formulation.
    "q06_anchor_selfjoin" -> NamedQuery(
      fn = (s, d) => {
        RelationalOps.attachAnchorJoin(
          Seq("l_orderkey"), col("l_linenumber") === 1,
          Map("base_price" -> col("l_extendedprice")))(Tables.lineitem(s, d))
          .withColumn("price_ratio", col("l_extendedprice") / col("base_price"))
          .select("l_orderkey", "l_linenumber", "price_ratio")
          .orderBy("l_orderkey", "l_linenumber")
      },
      oracle = Some("""
        SELECT l.l_orderkey, l.l_linenumber, l.l_extendedprice / a.base_price AS price_ratio
        FROM lineitem l
        LEFT JOIN (SELECT l_orderkey, l_extendedprice AS base_price
                   FROM lineitem WHERE l_linenumber = 1) a
          ON l.l_orderkey = a.l_orderkey
        ORDER BY l.l_orderkey, l.l_linenumber"""),
      doc = "C4 self-join to distinguished row (Field Control.R:226-241)"),

    // ---------------------------------------------------------------- q07
    // D4 (all coverages.R:313-315): per-group mode with pinned tie-break
    // (count desc, value desc).
    "q07_mode_per_group" -> NamedQuery(
      fn = (s, d) => {
        val joined = Tables.lineitem(s, d)
          .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
        RelationalOps.modeByGroup(Seq("o_orderpriority"), "l_returnflag", "mode_flag")(joined)
          .orderBy("o_orderpriority")
      },
      oracle = Some("""
        WITH c AS (SELECT o_orderpriority, l_returnflag, COUNT(*) AS cnt
                   FROM lineitem JOIN orders ON l_orderkey = o_orderkey
                   GROUP BY 1, 2)
        SELECT o_orderpriority, l_returnflag AS mode_flag
        FROM (SELECT o_orderpriority, l_returnflag,
                     row_number() OVER (PARTITION BY o_orderpriority
                                        ORDER BY cnt DESC, l_returnflag DESC) AS rn
              FROM c)
        WHERE rn = 1
        ORDER BY o_orderpriority"""),
      doc = "D4 per-group mode, pinned ties (all coverages.R:313-315)"),

    // ---------------------------------------------------------------- q08
    // H1 (all coverages.R:186-188, 288-294): wide pivot with zero fill,
    // `{measure}_{value}` naming.
    "q08_pivot_status" -> NamedQuery(
      fn = (s, d) => {
        val p = Tables.lineitem(s, d)
          .groupBy("l_returnflag")
          .pivot("l_linestatus", Seq("F", "O"))
          .agg(exactSum(col("l_quantity")))
          .withColumnRenamed("F", "qty_F")
          .withColumnRenamed("O", "qty_O")
        p.na.fill(0.0, Seq("qty_F", "qty_O")).orderBy("l_returnflag")
      },
      oracle = Some("""
        SELECT l_returnflag,
               COALESCE(CAST(SUM(CASE WHEN l_linestatus = 'F' THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE), 0) AS qty_F,
               COALESCE(CAST(SUM(CASE WHEN l_linestatus = 'O' THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE), 0) AS qty_O
        FROM lineitem
        GROUP BY l_returnflag
        ORDER BY l_returnflag"""),
      doc = "H1 pivot_wider w/ values_fill=0 (all coverages.R:186-188)"),

    // ---------------------------------------------------------------- q09
    // G1/A3 (Tutorial.R:15-20): union-by-name of slice scans (the
    // 17-weekly-file bind_rows), then aggregate.
    "q09_union_by_name" -> NamedQuery(
      fn = (s, d) => {
        val li = Tables.lineitem(s, d)
        val a = li.filter(col("l_returnflag") === "A")
        val n = li.filter(col("l_returnflag") === "N")
        a.unionByName(n)
          .withColumn("ship_year", year(col("l_shipdate")).cast("long"))
          .groupBy("ship_year")
          .agg(count(lit(1)).as("n_lines"), exactSum(col("l_quantity")).as("sum_qty"))
          .orderBy("ship_year")
      },
      oracle = Some("""
        SELECT CAST(year(l_shipdate) AS BIGINT) AS ship_year, COUNT(*) AS n_lines,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        FROM (SELECT * FROM lineitem WHERE l_returnflag = 'A'
              UNION ALL
              SELECT * FROM lineitem WHERE l_returnflag = 'N')
        GROUP BY 1
        ORDER BY 1"""),
      doc = "G1 unionByName of weekly slices (Tutorial.R:15-20)"),

    // ---------------------------------------------------------------- q10
    // D5/D6 (Field Control.R:211): count distinct per group.
    "q10_count_distinct" -> NamedQuery(
      fn = (s, d) => {
        Tables.lineitem(s, d)
          .groupBy("l_suppkey")
          .agg(
            countDistinct(col("l_partkey")).as("n_parts"),
            countDistinct(col("l_orderkey")).as("n_orders"),
            count(lit(1)).as("n_lines"))
          .orderBy("l_suppkey")
      },
      oracle = Some("""
        SELECT l_suppkey, COUNT(DISTINCT l_partkey) AS n_parts,
               COUNT(DISTINCT l_orderkey) AS n_orders, COUNT(*) AS n_lines
        FROM lineitem
        GROUP BY l_suppkey
        ORDER BY l_suppkey"""),
      doc = "D5 count distinct (Field Control.R:211)"),

    // ---------------------------------------------------------------- q12
    // I9/I10/B10 (all coverages.R:141-148; Field Control.R:10-12):
    // substring→cast, regexp_replace, trim, rlike predicate.
    "q12_string_funcs" -> NamedQuery(
      fn = (s, d) => {
        Tables.orders(s, d)
          .filter(col("o_orderstatus").rlike("^[FO]$"))
          .withColumn("prio_num", substring(trim(col("o_orderpriority")), 1, 1).cast("long"))
          .withColumn("prio_name", regexp_replace(col("o_orderpriority"), "^[0-9]-", ""))
          .groupBy("prio_num", "prio_name")
          .agg(count(lit(1)).as("n_orders"))
          .orderBy("prio_num", "prio_name")
      },
      oracle = Some("""
        SELECT CAST(substring(trim(o_orderpriority), 1, 1) AS BIGINT) AS prio_num,
               regexp_replace(o_orderpriority, '^[0-9]-', '') AS prio_name,
               COUNT(*) AS n_orders
        FROM orders
        WHERE regexp_matches(o_orderstatus, '^[FO]$')
        GROUP BY 1, 2
        ORDER BY 1, 2"""),
      doc = "I9/I10/B10 string ops (all coverages.R:141-148)"),

    // ---------------------------------------------------------------- q15
    // F1/F2/E5 (Field Control.R:13-15): "7th biggest play" — global sort
    // desc + positional slice.
    "q15_seventh_order" -> NamedQuery(
      fn = (s, d) => {
        Tables.orders(s, d)
          .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
          .limit(7)
          .orderBy(col("o_totalprice").asc, col("o_orderkey").desc)
          .limit(1)
          .select("o_orderkey", "o_custkey", "o_totalprice")
      },
      oracle = Some("""
        SELECT o_orderkey, o_custkey, o_totalprice
        FROM (SELECT o_orderkey, o_custkey, o_totalprice,
                     row_number() OVER (ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
              FROM orders)
        WHERE rn = 7"""),
      doc = "F2/E5 sort-desc + slice(7) (Field Control.R:13-15)"),

    // ---------------------------------------------------------------- q16
    // B14-as-HAVING (Tutorial.R:176-179 flavor): filter on a grouped
    // aggregate.
    "q16_having_suppliers" -> NamedQuery(
      fn = (s, d) => {
        Tables.lineitem(s, d)
          .groupBy("l_suppkey")
          .agg(count(lit(1)).as("n_lines"), exactSum(col("l_quantity")).as("sum_qty"))
          .filter(col("n_lines") > 400)
          .orderBy("l_suppkey")
      },
      oracle = Some("""
        SELECT l_suppkey, COUNT(*) AS n_lines,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        FROM lineitem
        GROUP BY l_suppkey
        HAVING COUNT(*) > 400
        ORDER BY l_suppkey"""),
      doc = "B14 filter on grouped aggregate (Tutorial.R:176-179)"),

    // ---------------------------------------------------------------- q18
    // Left-anti join (SURVEY.md §2.C extension row): customers with no
    // orders.
    "q18_anti_join" -> NamedQuery(
      fn = (s, d) => {
        Tables.customer(s, d)
          .join(Tables.orders(s, d), col("c_custkey") === col("o_custkey"), "left_anti")
          .groupBy("c_mktsegment")
          .agg(count(lit(1)).as("n_customers"))
          .orderBy("c_mktsegment")
      },
      oracle = Some("""
        SELECT c_mktsegment, COUNT(*) AS n_customers
        FROM customer c
        WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
        GROUP BY c_mktsegment
        ORDER BY c_mktsegment"""),
      doc = "left-anti join (§2.C free extension)"),

    // ---------------------------------------------------------------- q19
    // Left-semi join + broadcast dim.
    "q19_semi_join" -> NamedQuery(
      fn = (s, d) => {
        val n = broadcast(Tables.nation(s, d))
        Tables.customer(s, d)
          .join(Tables.orders(s, d), col("c_custkey") === col("o_custkey"), "left_semi")
          .join(n, col("c_nationkey") === col("n_nationkey"))
          .groupBy("n_name")
          .agg(count(lit(1)).as("n_customers"))
          .orderBy("n_name")
      },
      oracle = Some("""
        SELECT n_name, COUNT(*) AS n_customers
        FROM customer c
        JOIN nation ON c_nationkey = n_nationkey
        WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
        GROUP BY n_name
        ORDER BY n_name"""),
      doc = "left-semi join (§2.C free extension)"),

    // ---------------------------------------------------------------- q20
    // Rollup (§2.D free extension): subtotals over region→nation.
    "q20_rollup_regions" -> NamedQuery(
      fn = (s, d) => {
        // SQL-API path (rollup via the DataFrame API trips Spark's
        // ambiguous-self-join dataset-id check on the Expand node).
        val c = Tables.customer(s, d)
        val n = broadcast(Tables.nation(s, d))
        val r = broadcast(Tables.region(s, d))
        c.join(n, col("c_nationkey") === col("n_nationkey"))
          .join(r, col("n_regionkey") === col("r_regionkey"))
          .select("r_name", "n_name", "c_acctbal")
          .createOrReplaceTempView("q20_base")
        s.sql("""
          SELECT COALESCE(r_name, 'ALL') AS region, COALESCE(n_name, 'ALL') AS nation,
                 COUNT(*) AS n_customers,
                 CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_bal
          FROM q20_base
          GROUP BY ROLLUP(r_name, n_name)
          ORDER BY region, nation""")
      },
      oracle = Some("""
        SELECT COALESCE(r_name, 'ALL') AS region, COALESCE(n_name, 'ALL') AS nation,
               COUNT(*) AS n_customers,
               CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_bal
        FROM customer
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY ROLLUP(r_name, n_name)
        ORDER BY region, nation"""),
      doc = "rollup subtotals (§2.D free extension)"),

    // ---------------------------------------------------------------- q51
    // Unpivot/melt (§2.H free-extension row): wide measures → long
    // (measure, value) pairs via stack, then aggregate per measure.
    "q51_unpivot_measures" -> NamedQuery(
      fn = (s, d) => {
        Tables.lineitem(s, d)
          .select(col("l_orderkey"),
            expr("stack(3, 'quantity', l_quantity, 'discount', l_discount, 'tax', l_tax) AS (measure, value)"))
          .groupBy("measure")
          .agg(
            count(lit(1)).as("n"),
            exactSum(col("value")).as("sum_value"))
          .orderBy("measure")
      },
      oracle = Some("""
        SELECT measure, COUNT(*) AS n,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        FROM (
          SELECT l_orderkey, 'quantity' AS measure, l_quantity AS value FROM lineitem
          UNION ALL
          SELECT l_orderkey, 'discount', l_discount FROM lineitem
          UNION ALL
          SELECT l_orderkey, 'tax', l_tax FROM lineitem)
        GROUP BY measure
        ORDER BY measure"""),
      doc = "unpivot via stack (§2.H free extension)"),

    // ---------------------------------------------------------------- q52
    // Set ops (§2.G free-extension row): customers active in 1997 but
    // not 1998 (except), and in both (intersect).
    "q52_set_ops" -> NamedQuery(
      fn = (s, d) => {
        val o = Tables.orders(s, d)
        def custs(y: Int) =
          o.filter(year(col("o_orderdate")) === y).select("o_custkey").distinct()
        val only97 = custs(1997).exceptAll(custs(1998)).distinct()
          .withColumn("cohort", lit("only_1997"))
        val both = custs(1997).intersect(custs(1998))
          .withColumn("cohort", lit("both_years"))
        only97.unionByName(both)
          .groupBy("cohort")
          .agg(count(lit(1)).as("n_customers"))
          .orderBy("cohort")
      },
      oracle = Some("""
        WITH c97 AS (SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1997),
             c98 AS (SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1998)
        SELECT cohort, COUNT(*) AS n_customers
        FROM (
          SELECT o_custkey, 'only_1997' AS cohort FROM (SELECT * FROM c97 EXCEPT SELECT * FROM c98)
          UNION ALL
          SELECT o_custkey, 'both_years' FROM (SELECT * FROM c97 INTERSECT SELECT * FROM c98))
        GROUP BY cohort
        ORDER BY cohort"""),
      doc = "except/intersect cohorts (§2.G free extension)"),

    // ---------------------------------------------------------------- q54
    // Typed Dataset API (SURVEY.md §1.3: case-class Encoders where type
    // safety helps): groupByKey + typed Aggregator over Dataset[LineSlim]
    // (the supported replacement for the deprecated scalalang.typed
    // helpers — same partial-aggregate physical shape). Aggregates
    // chosen exact (count + long sum) so the oracle holds at any
    // parallelism.
    "q54_typed_agg" -> NamedQuery(
      fn = (s, d) => {
        import s.implicits._
        val ds = Tables.lineitem(s, d)
          .select(col("l_returnflag"), col("l_linenumber").cast("long").as("l_linenumber"))
          .as[LineSlim]
        ds.groupByKey(_.l_returnflag)
          .agg(
            TypedAggs.countLines.name("n_lines"),
            TypedAggs.sumLineNumber.name("sum_linenumber"))
          .toDF("l_returnflag", "n_lines", "sum_linenumber")
          .orderBy("l_returnflag")
      },
      oracle = Some("""
        SELECT l_returnflag, COUNT(*) AS n_lines,
               CAST(SUM(l_linenumber) AS BIGINT) AS sum_linenumber
        FROM lineitem
        GROUP BY l_returnflag
        ORDER BY l_returnflag"""),
      doc = "typed Dataset groupByKey aggregation (§1.3)"),

    // ---------------------------------------------------------------- q57
    // ntile + dense_rank (§2.E "available free" row): price quartiles
    // within each priority, tie-break pinned by order key.
    "q57_ntile_quartiles" -> NamedQuery(
      fn = (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("o_orderpriority")
          .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        Tables.orders(s, d)
          .withColumn("quartile", ntile(4).over(w).cast("long"))
          .groupBy("o_orderpriority", "quartile")
          .agg(
            count(lit(1)).as("n_orders"),
            exactSum(col("o_totalprice")).as("sum_price"))
          .orderBy("o_orderpriority", "quartile")
      },
      oracle = Some("""
        SELECT o_orderpriority, quartile, COUNT(*) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        FROM (SELECT o_orderpriority, o_totalprice,
                     CAST(ntile(4) OVER (PARTITION BY o_orderpriority
                                         ORDER BY o_totalprice DESC, o_orderkey ASC) AS BIGINT) AS quartile
              FROM orders)
        GROUP BY 1, 2
        ORDER BY 1, 2"""),
      doc = "ntile quartiles per group (§2.E free extension)"),

    // ---------------------------------------------------------------- q76
    // Window-function breadth closure (§2.E "available free" row, the
    // rest of it): lead (next-order gap), rank + percent_rank +
    // cume_dist over customer spend, first/last value over an explicit
    // frame — per customer, one keyed window shuffle serves all six
    // functions (same spec ⇒ Catalyst plans a single Window exec).
    "q76_window_breadth" -> NamedQuery(
      fn = (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("o_custkey")
          .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
        val wf = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        Tables.orders(s, d)
          .filter(col("o_custkey") % 50 === 0)
          .withColumn("next_days",
            datediff(lead(col("o_orderdate"), 1).over(w), col("o_orderdate")).cast("long"))
          .withColumn("rk", rank().over(w).cast("long"))
          .withColumn("pr", round(percent_rank().over(w), 6))
          .withColumn("cd", round(cume_dist().over(w), 6))
          .withColumn("first_price", first(col("o_totalprice")).over(wf))
          .withColumn("last_price", last(col("o_totalprice")).over(wf))
          .select("o_custkey", "o_orderkey", "next_days", "rk", "pr", "cd",
            "first_price", "last_price")
          .orderBy("o_custkey", "o_orderkey")
      },
      oracle = Some("""
        SELECT o_custkey, o_orderkey,
               CAST(date_diff('day', o_orderdate,
                    lead(o_orderdate, 1) OVER w) AS BIGINT) AS next_days,
               CAST(rank() OVER w AS BIGINT) AS rk,
               round(percent_rank() OVER w, 6) AS pr,
               round(cume_dist() OVER w, 6) AS cd,
               first_value(o_totalprice) OVER wf AS first_price,
               last_value(o_totalprice) OVER wf AS last_price
        FROM orders
        WHERE o_custkey % 50 = 0
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC),
               wf AS (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC
                      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        ORDER BY o_custkey, o_orderkey"""),
      doc = "lead/rank/percent_rank/cume_dist/first/last in one window shuffle (§2.E closure)"),

    // ---------------------------------------------------------------- q77
    // H1/Q5 full shape (all coverages.R:186-188, 288-294): MULTI-measure
    // wide pivot — 2 measures × 3 pinned names with zero-fill — through
    // RelationalOps.pivotWide. 17k (l_orderkey, l_returnflag) groups
    // hold >1 lineitem at sf0.01, so the min_by(measure, ord) collision
    // pinning (the deterministic replacement for the reference's silent
    // list-columns) is exercised on real collisions, not just the spec
    // fixture. The order key must be UNIQUE within (group, name) or
    // min_by ties are partition-order nondeterminism: the synthetic data
    // is TPC-H-ISH, not strict — (l_linenumber, l_partkey, l_suppkey)
    // genuinely duplicates within an order (e.g. orderkey 1294 at
    // sf0.001) — so the pin is a fixed-width zero-padded string over
    // those keys PLUS both measures (×100, exact at 2 decimals).
    // Remaining ties then have identical measures and the pick is
    // immaterial. Oracle: conditional arg_min on the same string.
    "q77_pivot_measures" -> NamedQuery(
      fn = (s, d) => {
        val ord = concat(
          lpad(col("l_linenumber").cast("string"), 4, "0"),
          lpad(col("l_partkey").cast("string"), 9, "0"),
          lpad(col("l_suppkey").cast("string"), 9, "0"),
          lpad(round(col("l_quantity") * 100).cast("long").cast("string"), 8, "0"),
          lpad(round(col("l_extendedprice") * 100).cast("long").cast("string"), 12, "0"))
        RelationalOps.pivotWide(
          keys = Seq("l_orderkey"), nameCol = "l_returnflag",
          names = Seq("A", "N", "R"),
          measures = Seq("l_quantity", "l_extendedprice"),
          orderCol = "__ord")(
          Tables.lineitem(s, d).withColumn("__ord", ord))
          .orderBy("l_orderkey")
      },
      oracle = Some("""
        WITH l AS (
          SELECT *,
                 lpad(CAST(l_linenumber AS VARCHAR), 4, '0')
                 || lpad(CAST(l_partkey AS VARCHAR), 9, '0')
                 || lpad(CAST(l_suppkey AS VARCHAR), 9, '0')
                 || lpad(CAST(CAST(round(l_quantity * 100) AS BIGINT) AS VARCHAR), 8, '0')
                 || lpad(CAST(CAST(round(l_extendedprice * 100) AS BIGINT) AS VARCHAR), 12, '0') AS ord
          FROM lineitem)
        SELECT l_orderkey,
               COALESCE(arg_min(l_quantity, ord) FILTER (WHERE l_returnflag = 'A'), 0) AS l_quantity_A,
               COALESCE(arg_min(l_quantity, ord) FILTER (WHERE l_returnflag = 'N'), 0) AS l_quantity_N,
               COALESCE(arg_min(l_quantity, ord) FILTER (WHERE l_returnflag = 'R'), 0) AS l_quantity_R,
               COALESCE(arg_min(l_extendedprice, ord) FILTER (WHERE l_returnflag = 'A'), 0) AS l_extendedprice_A,
               COALESCE(arg_min(l_extendedprice, ord) FILTER (WHERE l_returnflag = 'N'), 0) AS l_extendedprice_N,
               COALESCE(arg_min(l_extendedprice, ord) FILTER (WHERE l_returnflag = 'R'), 0) AS l_extendedprice_R
        FROM l
        GROUP BY l_orderkey
        ORDER BY l_orderkey"""),
      doc = "multi-measure wide pivot with min_by collision pinning (H1 + quirk Q5)"),

    // ---------------------------------------------------------------- q88
    // Partitioned write → partition-PRUNED read through the gate (A6 +
    // §4 "partition pruning" made observable, not just spec'd): write
    // documents hive-partitioned by lang, read back filtered to one
    // lang — the scan must list only that partition directory
    // (PartitionFilters, pinned in PlanAuditSpec), which at 100 TB is
    // the difference between reading 1/5th and all of a table. The
    // aggregate then verifies the round-trip content against the
    // unpartitioned oracle.
    "q88_partitioned_prune" -> NamedQuery(
      fn = (s, d) => {
        // session-scoped fixed path + overwrite (TempPaths): no leak
        // across re-runs, no cross-writes between concurrent drivers
        val out = TempPaths.dir(s, "q88_docs")
        Tables.documents(s, d).write.mode("overwrite")
          .partitionBy("lang").parquet(out.toString)
        s.read.parquet(out.toString)
          .filter(col("lang") === "en")
          .groupBy("lang", "source")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).as("sum_chars"))
          .orderBy("lang", "source")
      },
      oracle = Some("""
        SELECT lang, source, COUNT(*) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS sum_chars
        FROM documents
        WHERE lang = 'en'
        GROUP BY lang, source
        ORDER BY lang, source"""),
      doc = "hive-partitioned write + partition-pruned scan round trip (A6/§4)"),

    // ---------------------------------------------------------------- q89
    // Bucketed co-located join (§4 "bucketing for co-located joins" made
    // observable): both sides written as 8-bucket tables on the join
    // key, then sort-merge joined with ZERO join-side Exchange — the
    // bucketed scans already satisfy the join's distribution
    // requirement. At 100 TB this is THE repeated-join amortization:
    // pay the shuffle once at write time, never again per query. The
    // plan pin (PlanAuditSpec) asserts exactly one hashpartitioning
    // Exchange in the whole plan — the post-join groupBy — and bucketed
    // scans on both sides. merge hint keeps the small sf test data on
    // the SMJ path a real cluster would take (no broadcast shortcut).
    "q89_bucketed_join" -> NamedQuery(
      fn = (s, d) => {
        // session-scoped fixed path + overwrite (see q88): DROP TABLE on
        // an external table removes only metadata, so per-call temp dirs
        // would leak a full bucketed copy of both tables every invocation
        val out = TempPaths.dir(s, "q89_bkt")
        s.sql("DROP TABLE IF EXISTS q89_orders")
        s.sql("DROP TABLE IF EXISTS q89_customer")
        Tables.orders(s, d).write.bucketBy(8, "o_custkey").sortBy("o_custkey")
          .option("path", s"$out/orders").mode("overwrite").saveAsTable("q89_orders")
        Tables.customer(s, d).write.bucketBy(8, "c_custkey").sortBy("c_custkey")
          .option("path", s"$out/customer").mode("overwrite").saveAsTable("q89_customer")
        s.table("q89_orders").hint("merge")
          .join(s.table("q89_customer"), col("o_custkey") === col("c_custkey"))
          .groupBy("c_nationkey")
          .agg(count(lit(1)).as("n_orders"), exactSum(col("o_totalprice")).as("total_price"))
          .orderBy("c_nationkey")
      },
      oracle = Some("""
        SELECT c_nationkey, COUNT(*) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY c_nationkey
        ORDER BY c_nationkey"""),
      doc = "8-bucket co-located SMJ, zero join-side Exchange (§4 bucketing)"),

    // ---------------------------------------------------------------- q90
    // Salted shuffle join (§4 skew posture, the JOIN-side complement of
    // q79's salted aggregation): lineitem salted deterministically on
    // its non-key columns, orders replicated ×8, joined on
    // (orderkey, salt). For a pathologically hot key — one viral
    // document, one null-ish default id — AQE's skew split can divide a
    // partition but not one giant key's sort run; salting spreads that
    // key across 8 tasks by construction. Row-identical to the plain
    // equi-join (the oracle IS the plain join); merge hint pins the
    // big-big SMJ path.
    "q90_salted_join" -> NamedQuery(
      fn = (s, d) => {
        SkewOps.saltedJoin(
          Tables.lineitem(s, d),
          Tables.orders(s, d).select("o_orderkey", "o_orderpriority").hint("merge"),
          factKey = "l_orderkey", dimKey = "o_orderkey", saltBuckets = 8,
          saltCols = Seq("l_linenumber", "l_partkey", "l_suppkey"))
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n_items"), exactSum(col("l_extendedprice")).as("sum_price"))
          .orderBy("o_orderpriority")
      },
      oracle = Some("""
        SELECT o_orderpriority, COUNT(*) AS n_items,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority"""),
      doc = "deterministic-salt skew join, dim replicated x8 (§4 skew)"),

    // ---------------------------------------------------------------- q91
    // MERGE / upsert (CDC batch application): a deterministic change
    // batch — updates for orderkey%7 (price bump, status 'U'), inserts
    // for orderkey%13 (shifted key, status 'I') — applied onto the
    // orders snapshot with ONE full-outer join on the key, change side
    // winning via coalesce. This is the engine's answer to
    // MERGE INTO without a table format: at 100 TB the base would be
    // bucketed on the key (q89) so the apply join is co-located and the
    // only shuffle is the (small) change batch. Output: post-merge
    // per-status totals.
    "q91_merge_upsert" -> NamedQuery(
      fn = (s, d) => {
        val base = Tables.orders(s, d)
          .select("o_orderkey", "o_orderstatus", "o_totalprice")
        val upd = base.filter(col("o_orderkey") % 7 === 0)
          .select(col("o_orderkey"), lit("U").as("c_status"),
            (col("o_totalprice") + 10).as("c_price"))
        val ins = base.filter(col("o_orderkey") % 13 === 0)
          // negated keys: base keys are positive, so inserts can never
          // collide with an existing key at ANY scale factor (a fixed
          // +offset would collide once base keys exceed it)
          .select((col("o_orderkey") * -1L).as("o_orderkey"),
            lit("I").as("c_status"), col("o_totalprice").as("c_price"))
        val changes = upd.unionByName(ins)
        base.join(changes, Seq("o_orderkey"), "full_outer")
          .select(
            coalesce(col("c_status"), col("o_orderstatus")).as("status"),
            coalesce(col("c_price"), col("o_totalprice")).as("price"))
          .groupBy("status")
          .agg(count(lit(1)).as("n_rows"), exactSum(col("price")).as("sum_price"))
          .orderBy("status")
      },
      oracle = Some("""
        WITH base AS (
          SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders),
        upd AS (
          SELECT o_orderkey, 'U' AS c_status, o_totalprice + 10 AS c_price
          FROM base WHERE o_orderkey % 7 = 0),
        ins AS (
          SELECT -o_orderkey AS o_orderkey, 'I' AS c_status, o_totalprice AS c_price
          FROM base WHERE o_orderkey % 13 = 0),
        chg AS (SELECT * FROM upd UNION ALL SELECT * FROM ins),
        merged AS (
          SELECT COALESCE(c.c_status, b.o_orderstatus) AS status,
                 COALESCE(c.c_price, b.o_totalprice) AS price
          FROM base b FULL JOIN chg c ON b.o_orderkey = c.o_orderkey)
        SELECT status, COUNT(*) AS n_rows,
               CAST(SUM(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        FROM merged
        GROUP BY status
        ORDER BY status"""),
      doc = "CDC upsert via one full-outer apply join (MERGE shape)"),

    // ---------------------------------------------------------------- q92
    // Explicit GROUPING SETS through the native Dataset API (rollup is
    // q20, cube is q62 — this closes the lattice triple with a HAND-
    // PICKED set list, the form that matters at scale: a cube over k
    // columns expands 2^k groupings, grouping sets pays only for the
    // ones a dashboard actually reads).
    "q92_grouping_sets" -> NamedQuery(
      fn = (s, d) => {
        Tables.orders(s, d)
          .groupingSets(
            Seq(Seq(col("o_orderstatus"), col("o_orderpriority")),
              Seq(col("o_orderstatus")), Seq()),
            col("o_orderstatus"), col("o_orderpriority"))
          .agg(grouping_id().cast("long").as("gid"),
            count(lit(1)).as("n_orders"), exactSum(col("o_totalprice")).as("sum_price"))
          .select(
            coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
            coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
            col("gid"), col("n_orders"), col("sum_price"))
          .orderBy("gid", "status", "priority")
      },
      oracle = Some("""
        SELECT COALESCE(o_orderstatus, 'ALL') AS status,
               COALESCE(o_orderpriority, 'ALL') AS priority,
               CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT) AS gid,
               COUNT(*) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
        ORDER BY gid, status, priority"""),
      doc = "hand-picked grouping-sets lattice via native API (§2.D closure)"),

    // --------------------------------------------------------------- q105
    // Deterministic stratified sampling: exactly n rows per stratum,
    // chosen by md5-hash rank — replayable on any cluster size (unlike
    // rand()-based sampling, the pick is a pure function of the data),
    // and oracle-checkable because DuckDB computes the identical hash.
    // One keyed shuffle on the stratum column; with few large strata
    // the per-stratum sort dominates — at 100 TB pre-filter by the same
    // hash (md5 < threshold with a safety margin) to bound rows entering
    // the window, falling back to the full sort only if a stratum
    // undershoots n; the hash-rank semantics make the two plans agree.
    "q105_stratified_sample" -> NamedQuery(
      fn = (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("o_orderpriority")
          .orderBy(md5(col("o_orderkey").cast("string")), col("o_orderkey"))
        Tables.orders(s, d)
          .withColumn("rk", row_number().over(w).cast("long"))
          .filter(col("rk") <= 20)
          .select(col("o_orderpriority"), col("rk"), col("o_orderkey"),
            ExactSums.toDouble(ExactSums.cents(col("o_totalprice"), 2), 2).as("o_totalprice"))
          .orderBy("o_orderpriority", "rk")
      },
      oracle = Some("""
        SELECT o_orderpriority, rk, o_orderkey,
               CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS o_totalprice
        FROM (
          SELECT o_orderpriority, o_orderkey, o_totalprice,
                 CAST(row_number() OVER (
                   PARTITION BY o_orderpriority
                   ORDER BY md5(CAST(o_orderkey AS VARCHAR)), o_orderkey) AS BIGINT) AS rk
          FROM orders)
        WHERE rk <= 20
        ORDER BY o_orderpriority, rk"""),
      doc = "deterministic hash-ranked stratified sample: exact n per stratum, replayable (F3 scale path)"),

    // --------------------------------------------------------------- q113
    // percent_rank + cume_dist (§2.E window closure): rank-position
    // metrics over a per-stratum total order made UNIQUE by the
    // (price, key) tie-break, so rank == row_number and both metrics
    // are deterministic double divisions of identical integers on both
    // engines (round-6 absorbs nothing here; it just follows the house
    // rule for derived doubles). Window shuffles once per stratum; the
    // % 97 probe filter runs above the window (the metrics are relative
    // to the WHOLE stratum, so it cannot push below).
    "q113_rank_metrics" -> NamedQuery(
      fn = (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("o_orderpriority")
          .orderBy(col("o_totalprice").asc, col("o_orderkey").asc)
        Tables.orders(s, d)
          .withColumn("pr", round(percent_rank().over(w), 6))
          .withColumn("cd", round(cume_dist().over(w), 6))
          .filter(col("o_orderkey") % 97 === 0)
          .select("o_orderkey", "o_orderpriority", "pr", "cd")
          .orderBy("o_orderkey")
      },
      oracle = Some("""
        SELECT o_orderkey, o_orderpriority, pr, cd
        FROM (
          SELECT o_orderkey, o_orderpriority,
                 round(percent_rank() OVER (PARTITION BY o_orderpriority
                   ORDER BY o_totalprice ASC, o_orderkey ASC), 6) AS pr,
                 round(cume_dist() OVER (PARTITION BY o_orderpriority
                   ORDER BY o_totalprice ASC, o_orderkey ASC), 6) AS cd
          FROM orders)
        WHERE o_orderkey % 97 = 0
        ORDER BY o_orderkey"""),
      doc = "percent_rank + cume_dist over a unique per-stratum order (§2.E window closure)"),

    // --------------------------------------------------------------- q115
    // Deterministic k-fold assignment (ML prep): fold = md5 bucket of
    // the row key — replayable on any cluster (the fold of a row is a
    // pure function of its key, unlike randomSplit whose assignment
    // depends on partitioning), leakage-free (a key is always in
    // exactly one fold), and auditable: the output is the per-(fold,
    // class) balance matrix a training job checks before trusting the
    // split. Map-only assignment + one keyed agg.
    "q115_kfold_balance" -> NamedQuery(
      fn = (s, d) => {
        val h = md5(col("o_orderkey").cast("string"))
        val fold = (conv(substring(h, 1, 3), 16, 10).cast("long") % 5L).as("fold")
        Tables.orders(s, d)
          .select(fold, col("o_orderstatus"))
          .groupBy("fold", "o_orderstatus")
          .agg(count(lit(1)).as("n_rows"))
          .withColumn("frac_of_fold", round(col("n_rows") /
            sum(col("n_rows")).over(org.apache.spark.sql.expressions.Window.partitionBy("fold")), 6))
          .orderBy("fold", "o_orderstatus")
      },
      oracle = Some("""
        WITH f AS (
          SELECT CAST('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 3) AS BIGINT) % 5 AS fold,
                 o_orderstatus
          FROM orders),
        m AS (
          SELECT fold, o_orderstatus, COUNT(*) AS n_rows
          FROM f GROUP BY 1, 2)
        SELECT fold, o_orderstatus, n_rows,
               round(n_rows / SUM(n_rows) OVER (PARTITION BY fold), 6) AS frac_of_fold
        FROM m
        ORDER BY fold, o_orderstatus"""),
      doc = "deterministic md5 k-fold split with per-fold class balance audit (ML prep)"),

    // --------------------------------------------------------------- q118
    // JSON sink round trip (A6 text-sink closure, the q88/q89 pattern on
    // a TEXT format): events projected to exact-roundtrip columns
    // (longs + strings — JSON has no timestamp/float ambiguity to
    // relitigate), written as JSON lines, read back with an EXPLICIT
    // schema (schema inference is a full extra pass at scale — never on
    // by default in a pipeline), and aggregated against the parquet
    // oracle. Exercises the full text serialize/parse cycle, not just
    // the parquet fast path.
    "q118_json_roundtrip" -> NamedQuery(
      fn = (s, d) => {
        val out = TempPaths.dir(s, "q118_json")
        val slim = Tables.events(s, d)
          .select(col("event_id"), col("user_id"), col("event_type"), col("ts_us"))
        slim.write.mode("overwrite").json(out.toString)
        s.read.schema(slim.schema).json(out.toString)
          .groupBy("event_type")
          .agg(
            count(lit(1)).as("n_events"),
            sum(col("user_id")).as("sum_users"),
            max(col("ts_us")).as("max_ts_us"))
          .orderBy("event_type")
      },
      oracle = Some("""
        SELECT event_type, COUNT(*) AS n_events,
               CAST(SUM(user_id) AS BIGINT) AS sum_users,
               MAX(epoch_us(ts)) AS max_ts_us
        FROM events
        GROUP BY event_type
        ORDER BY event_type"""),
      doc = "JSON-lines sink + explicit-schema read round trip (A6 text-sink closure)")
  )

  final case class LineSlim(l_returnflag: String, l_linenumber: Long)

  /** Typed [[org.apache.spark.sql.expressions.Aggregator]]s for q54 —
    * merge-associative (count / long sum), so results are exact at any
    * parallelism; Catalyst plans them as ordinary partial aggregates
    * (map-side combine + one keyed shuffle), same as the untyped path.
    */
  object TypedAggs {
    import org.apache.spark.sql.{Encoder, Encoders, TypedColumn}
    import org.apache.spark.sql.expressions.Aggregator

    val countLines: TypedColumn[LineSlim, Long] = new Aggregator[LineSlim, Long, Long] {
      def zero: Long = 0L
      def reduce(b: Long, a: LineSlim): Long = b + 1L
      def merge(b1: Long, b2: Long): Long = b1 + b2
      def finish(r: Long): Long = r
      def bufferEncoder: Encoder[Long] = Encoders.scalaLong
      def outputEncoder: Encoder[Long] = Encoders.scalaLong
    }.toColumn

    val sumLineNumber: TypedColumn[LineSlim, Long] = new Aggregator[LineSlim, Long, Long] {
      def zero: Long = 0L
      def reduce(b: Long, a: LineSlim): Long = b + a.l_linenumber
      def merge(b1: Long, b2: Long): Long = b1 + b2
      def finish(r: Long): Long = r
      def bufferEncoder: Encoder[Long] = Encoders.scalaLong
      def outputEncoder: Encoder[Long] = Encoders.scalaLong
    }.toColumn
  }
}
