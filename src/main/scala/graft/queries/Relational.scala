package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.LongType

import graft.functions.Cleaning._
import graft.plans.TopKPairs
import graft.sources.Tables
import graft.queries.Q.{C, DS, DS2}

/** Relational operator catalog over the harness test tables.
  *
  * Each entry re-expresses one operator family from SURVEY.md §2 (reference
  * file:line cited per query) as an idiomatic Spark plan, paired with an
  * ANSI SQL oracle. Dimension-sized join sides are broadcast explicitly so
  * the fact side never shuffles for a kilo-row dimension — the plan shape
  * that survives a 100 TB fact table.
  */
object Relational {

  private def rF(s: SparkSession, d: String) = Tables.region(s, d)
  private def nF(s: SparkSession, d: String) = Tables.nation(s, d)
  private def cF(s: SparkSession, d: String) = Tables.customer(s, d)
  private def pF(s: SparkSession, d: String) = Tables.part(s, d)
  private def oF(s: SparkSession, d: String) = Tables.orders(s, d)
  private def lF(s: SparkSession, d: String) = Tables.lineitem(s, d)

  private val revenueExpr: Column =
    col("l_extendedprice") * (lit(1) - col("l_discount"))

  /** S1/P1 — projection + rename over a columnar scan (bl_cl.sql:331-336).
    * Column pruning reaches the parquet reader: ReadSchema lists 3 columns.
    */
  private val s1 = Q(
    "s1_scan_project",
    """SELECT l_orderkey AS okey, CAST(l_linenumber AS BIGINT) AS line_no,
      |       l_quantity AS qty
      |FROM lineitem WHERE l_orderkey % 100 = 0""".stripMargin) { (s, d) =>
    lF(s, d)
      .filter(col("l_orderkey") % 100 === 0)
      .select(
        col("l_orderkey").as("okey"),
        col("l_linenumber").cast(LongType).as("line_no"),
        col("l_quantity").as("qty"))
  }

  /** P2/F11 — constant batch filter before aggregation (bl_cl.sql:115). */
  private val p2 = Q(
    "p2_filter_agg",
    s"""SELECT l_linestatus AS linestatus, $C AS n
       |FROM lineitem WHERE l_returnflag = 'R' GROUP BY l_linestatus""".stripMargin) {
    (s, d) =>
      lF(s, d)
        .filter(col("l_returnflag") === "R")
        .groupBy(col("l_linestatus").as("linestatus"))
        .agg(lcount().as("n"))
  }

  /** P3/F5 — null guard + NA defaulting (bl_cl.sql:573, 331-336). */
  private val p3 = Q(
    "p3_null_coalesce",
    s"""SELECT coalesce(nullif(o_orderstatus, 'O'), 'NA') AS status_na, $C AS n
       |FROM orders GROUP BY 1""".stripMargin) { (s, d) =>
    oF(s, d)
      .groupBy(
        coalesce(nullif(col("o_orderstatus"), lit("O")), lit("NA"))
          .as("status_na"))
      .agg(lcount().as("n"))
  }

  /** P4/F15 — compound predicate + CASE bucketing (bl_cl.sql:1256, 101-110). */
  private val p4 = Q(
    "p4_case_buckets",
    s"""SELECT CASE WHEN o_totalprice < 50000 THEN 'low'
       |            WHEN o_totalprice < 150000 THEN 'mid'
       |            ELSE 'high' END AS bucket,
       |       $C AS n, ${DS("o_totalprice")} AS total
       |FROM orders WHERE o_orderstatus <> 'F' GROUP BY 1""".stripMargin) {
    (s, d) =>
      oF(s, d)
        .filter(col("o_orderstatus") =!= "F")
        .groupBy(
          when(col("o_totalprice") < 50000, "low")
            .when(col("o_totalprice") < 150000, "mid")
            .otherwise("high")
            .as("bucket"))
        .agg(lcount().as("n"), dsum(col("o_totalprice")).as("total"))
  }

  /** J1 — broadcast equi-join fact→dim lookup (bl_cl.sql:1255-1267). The
    * `part` side is broadcast: no shuffle of the fact at any scale.
    */
  private val j1 = Q(
    "j1_broadcast_dim",
    s"""SELECT p_brand AS brand, $C AS n,
       |       ${DS("l_extendedprice * (1 - l_discount)")} AS revenue
       |FROM lineitem JOIN part ON l_partkey = p_partkey
       |GROUP BY p_brand""".stripMargin) { (s, d) =>
    lF(s, d)
      .join(broadcast(pF(s, d)), col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand").as("brand"))
      .agg(lcount().as("n"), dsum(revenueExpr).as("revenue"))
  }

  /** J2 — equi-join with extra non-equi conjunct (bl_cl.sql:1255-1257). */
  private val j2 = Q(
    "j2_join_conjunct",
    s"""SELECT o_orderpriority AS priority, $C AS n
       |FROM lineitem JOIN orders
       |  ON l_orderkey = o_orderkey
       | AND CAST(l_shipdate AS DATE) > CAST(o_orderdate AS DATE)
       |GROUP BY 1""".stripMargin) { (s, d) =>
    lF(s, d)
      .join(
        oF(s, d),
        col("l_orderkey") === col("o_orderkey") &&
          col("l_shipdate").cast("date") > col("o_orderdate").cast("date"))
      .groupBy(col("o_orderpriority").as("priority"))
      .agg(lcount().as("n"))
  }

  /** J3 — full outer source merge with per-column coalesce (bl_cl.sql:337-355). */
  private val j3 = Q(
    "j3_full_outer",
    s"""WITH lhs AS (SELECT c_custkey AS k, c_acctbal AS bal FROM customer
       |             WHERE c_custkey % 3 = 0),
       |     rhs AS (SELECT o_custkey AS k, $C AS n_orders FROM orders
       |             WHERE o_custkey % 5 = 0 GROUP BY 1)
       |SELECT coalesce(lhs.k, rhs.k) AS custkey,
       |       coalesce(lhs.bal, 0.0) AS bal,
       |       coalesce(rhs.n_orders, 0) AS n_orders
       |FROM lhs FULL OUTER JOIN rhs ON lhs.k = rhs.k""".stripMargin) { (s, d) =>
    val lhs = cF(s, d)
      .filter(col("c_custkey") % 3 === 0)
      .select(col("c_custkey").as("k"), col("c_acctbal").as("bal"))
    val rhs = oF(s, d)
      .filter(col("o_custkey") % 5 === 0)
      .groupBy(col("o_custkey").as("rk"))
      .agg(lcount().as("n_orders"))
    lhs
      .join(rhs, col("k") === col("rk"), "full_outer")
      .select(
        coalesce(col("k"), col("rk")).as("custkey"),
        coalesce(col("bal"), lit(0.0)).as("bal"),
        coalesce(col("n_orders"), lit(0L)).as("n_orders"))
  }

  /** J4 — left anti-join new-rows detection (bl_cl.sql:1401-1406). */
  private val j4 = Q(
    "j4_anti_join",
    """SELECT c_custkey AS custkey, c_name AS name FROM customer c
      |WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)""".stripMargin) {
    (s, d) =>
      cF(s, d)
        .join(oF(s, d), col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey").as("custkey"), col("c_name").as("name"))
  }

  /** J5 — constant/theta join: attach a one-row filtered dim (bl_cl.sql:908). */
  private val j5 = Q(
    "j5_const_cross",
    s"""SELECT o_orderstatus AS status, r.r_name AS region0, $C AS n
       |FROM orders CROSS JOIN (SELECT r_name FROM region WHERE r_regionkey = 0) r
       |GROUP BY 1, 2""".stripMargin) { (s, d) =>
    oF(s, d)
      .crossJoin(broadcast(
        rF(s, d).filter(col("r_regionkey") === 0).select(col("r_name"))))
      .groupBy(col("o_orderstatus").as("status"), col("r_name").as("region0"))
      .agg(lcount().as("n"))
  }

  /** J6 — case-insensitive equi-join on upper() (bl_cl.sql:938, 1008). */
  private val j6 = Q(
    "j6_ci_join",
    s"""WITH dim AS (SELECT DISTINCT upper(p_brand) AS ub FROM part)
       |SELECT dim.ub AS brand_uc, $C AS n
       |FROM part JOIN dim ON upper(p_brand) = dim.ub GROUP BY 1""".stripMargin) {
    (s, d) =>
      val dim = pF(s, d).select(upper(col("p_brand")).as("ub")).distinct()
      pF(s, d)
        .join(broadcast(dim), upper(col("p_brand")) === col("ub"))
        .groupBy(col("ub").as("brand_uc"))
        .agg(lcount().as("n"))
  }

  /** J7/J9/A5/F13/O1 — the flagship star join: the `yearly_sales_profit`
    * analogue (bl_dm.sql:274-285). Fact ⋈ 4 broadcast dims → 2-key group →
    * exact rounded sums → ORDER BY. One shuffle total (the aggregation).
    */
  private val j7 = Q(
    "j7_star_year_region",
    s"""SELECT r_name AS region, CAST(year(o_orderdate) AS BIGINT) AS yr,
       |       $C AS n_items,
       |       ${DS2("l_extendedprice * (1 - l_discount)")} AS revenue,
       |       ${DS2("l_extendedprice * l_discount")} AS discount_amt
       |FROM lineitem
       |JOIN orders   ON l_orderkey = o_orderkey
       |JOIN customer ON o_custkey = c_custkey
       |JOIN nation   ON c_nationkey = n_nationkey
       |JOIN region   ON n_regionkey = r_regionkey
       |GROUP BY 1, 2 ORDER BY yr, region""".stripMargin) { (s, d) =>
    lF(s, d)
      // year(o_orderdate) is a function of the orders side: extract it
      // pre-join (150k evals) instead of per joined lineitem row (600k)
      .join(oF(s, d).select(col("o_orderkey"), col("o_custkey"),
        year(col("o_orderdate")).cast(LongType).as("yr")),
        col("l_orderkey") === col("o_orderkey"))
      // customer carries NO broadcast hint: it is dim-sized at test sf but
      // fact-sized at the 100 TB north star (~1.5B rows at TPC-H sf10k) —
      // a forced hint would override AQE and OOM the driver. AQE still
      // promotes it to BHJ at runtime when it measures small.
      .join(cF(s, d), col("o_custkey") === col("c_custkey"))
      .join(broadcast(nF(s, d)), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(rF(s, d)), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name").as("region"), col("yr"))
      .agg(
        lcount().as("n_items"),
        dsumRound2(revenueExpr).as("revenue"),
        dsumRound2(col("l_extendedprice") * col("l_discount"))
          .as("discount_amt"))
      .orderBy(col("yr"), col("region"))
  }

  /** J8 — snowflake traversal child→parent→grandparent (bl_cl.sql:1459-1462). */
  private val j8 = Q(
    "j8_snowflake",
    s"""SELECT r_name AS region, $C AS n_cust, ${DS("c_acctbal")} AS bal
       |FROM customer
       |JOIN nation ON c_nationkey = n_nationkey
       |JOIN region ON n_regionkey = r_regionkey
       |GROUP BY 1""".stripMargin) { (s, d) =>
    cF(s, d)
      .join(broadcast(nF(s, d)), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(rF(s, d)), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name").as("region"))
      .agg(lcount().as("n_cust"), dsum(col("c_acctbal")).as("bal"))
  }

  /** J10 — join on a coalesced / NA-defaulted key (bl_cl.sql:574-575). */
  private val j10 = Q(
    "j10_coalesce_key",
    s"""WITH dim AS (SELECT DISTINCT coalesce(nullif(c_mktsegment, 'BUILDING'), 'NA') AS k
       |             FROM customer)
       |SELECT dim.k AS seg_key, $C AS n
       |FROM customer
       |JOIN dim ON coalesce(nullif(c_mktsegment, 'BUILDING'), 'NA') = dim.k
       |GROUP BY 1""".stripMargin) { (s, d) =>
    val key = coalesce(nullif(col("c_mktsegment"), lit("BUILDING")), lit("NA"))
    val dim = cF(s, d).select(key.as("k")).distinct()
    cF(s, d)
      .join(broadcast(dim), key === col("k"))
      .groupBy(col("k").as("seg_key"))
      .agg(lcount().as("n"))
  }

  /** M14/D1/U1 — SCD1 insert-if-absent recipe: dedup + anti-join + append
    * (bl_cl.sql:116 et al.), simulated as a two-batch split of orders.
    */
  private val m14 = Q(
    "m14_insert_if_absent",
    """WITH existing AS (SELECT DISTINCT o_custkey AS k FROM orders
      |                  WHERE CAST(o_orderdate AS DATE) < DATE '1999-01-01'),
      |     incoming AS (SELECT DISTINCT o_custkey AS k FROM orders
      |                  WHERE CAST(o_orderdate AS DATE) >= DATE '1999-01-01')
      |SELECT k AS custkey, 'existing' AS src FROM existing
      |UNION ALL
      |SELECT k AS custkey, 'inserted' AS src FROM incoming
      |WHERE k NOT IN (SELECT k FROM existing)""".stripMargin) { (s, d) =>
    val o = oF(s, d)
    val existing = o
      .filter(col("o_orderdate").cast("date") < lit("1999-01-01").cast("date"))
      .select(col("o_custkey").as("k")).distinct()
      .withColumn("src", lit("existing"))
    val incoming = o
      .filter(col("o_orderdate").cast("date") >= lit("1999-01-01").cast("date"))
      .select(col("o_custkey").as("k")).distinct()
      .withColumn("src", lit("inserted"))
    graft.operators.Scd1
      .insertIfAbsent(existing, incoming, Seq("k"))
      .select(col("k").as("custkey"), col("src"))
  }

  /** M15 — insert-or-update classification (bl_cl.sql:439). */
  private val m15 = Q(
    "m15_upsert_classify",
    """WITH existing AS (SELECT DISTINCT o_custkey AS k FROM orders
      |                  WHERE CAST(o_orderdate AS DATE) < DATE '1999-01-01'),
      |     incoming AS (SELECT DISTINCT o_custkey AS k FROM orders
      |                  WHERE CAST(o_orderdate AS DATE) >= DATE '1999-01-01')
      |SELECT coalesce(e.k, i.k) AS custkey,
      |       CASE WHEN e.k IS NOT NULL AND i.k IS NOT NULL THEN 'updated'
      |            WHEN i.k IS NULL THEN 'kept'
      |            ELSE 'inserted' END AS action
      |FROM existing e FULL OUTER JOIN incoming i ON e.k = i.k""".stripMargin) {
    (s, d) =>
      val o = oF(s, d)
      val existing = o
        .filter(col("o_orderdate").cast("date") < lit("1999-01-01").cast("date"))
        .select(col("o_custkey").as("ek")).distinct()
      val incoming = o
        .filter(col("o_orderdate").cast("date") >= lit("1999-01-01").cast("date"))
        .select(col("o_custkey").as("ik")).distinct()
      existing
        .join(incoming, col("ek") === col("ik"), "full_outer")
        .select(
          coalesce(col("ek"), col("ik")).as("custkey"),
          when(col("ek").isNotNull && col("ik").isNotNull, "updated")
            .when(col("ik").isNull, "kept")
            .otherwise("inserted")
            .as("action"))
  }

  /** A1/U1 — guard count over a deduplicating union (bl_cl.sql:313-323). */
  private val a1 = Q(
    "a1_union_distinct_count",
    """SELECT CAST(count(*) AS BIGINT) AS n
      |FROM (SELECT c_custkey AS k FROM customer
      |      UNION SELECT o_custkey AS k FROM orders)""".stripMargin) { (s, d) =>
    cF(s, d).select(col("c_custkey").as("k"))
      .union(oF(s, d).select(col("o_custkey")))
      .distinct()
      .agg(lcount().as("n"))
  }

  /** A2 — COUNT(DISTINCT) guards (bl_cl.sql:373). */
  private val a2 = Q(
    "a2_count_distinct",
    s"""SELECT l_returnflag AS flag,
       |       CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_parts, $C AS n
       |FROM lineitem GROUP BY 1""".stripMargin) { (s, d) =>
    lF(s, d)
      .groupBy(col("l_returnflag").as("flag"))
      .agg(
        countDistinct(col("l_partkey")).cast(LongType).as("n_parts"),
        lcount().as("n"))
  }

  /** A4/U2 — MIN/MAX over a union (bl_cl.sql:1172-1180). */
  private val a4 = Q(
    "a4_minmax_union",
    s"""SELECT min(dt) AS min_d, max(dt) AS max_d, $C AS n
       |FROM (SELECT CAST(l_shipdate AS DATE) AS dt FROM lineitem
       |      UNION ALL SELECT CAST(o_orderdate AS DATE) AS dt FROM orders)""".stripMargin) {
    (s, d) =>
      lF(s, d).select(col("l_shipdate").cast("date").as("dt"))
        .union(oF(s, d).select(col("o_orderdate").cast("date")))
        .agg(min(col("dt")).as("min_d"), max(col("dt")).as("max_d"),
          lcount().as("n"))
  }

  /** A6/F14 — GROUP BY on a concat expression key (bl_dm.sql:289-300). */
  private val a6 = Q(
    "a6_group_concat_expr",
    s"""SELECT n_name || '-' || c_mktsegment AS grp,
       |       ${DS("c_acctbal")} AS bal, $C AS n
       |FROM customer JOIN nation ON c_nationkey = n_nationkey
       |GROUP BY 1""".stripMargin) { (s, d) =>
    cF(s, d)
      .join(broadcast(nF(s, d)), col("c_nationkey") === col("n_nationkey"))
      .groupBy(
        concat(col("n_name"), lit("-"), col("c_mktsegment")).as("grp"))
      .agg(dsum(col("c_acctbal")).as("bal"), lcount().as("n"))
  }

  /** A7/C3 — GROUP BY HAVING duplicate detector (bl_cl.sql:2217-2226). */
  private val a7 = Q(
    "a7_having_dups",
    s"""SELECT l_orderkey AS okey, $C AS n FROM lineitem
       |GROUP BY 1 HAVING count(*) > 4""".stripMargin) { (s, d) =>
    lF(s, d)
      .groupBy(col("l_orderkey").as("okey"))
      .agg(lcount().as("n"))
      .filter(col("n") > 4)
  }

  /** A8/U2 — QA row-count sweep across all tables (bl_cl.sql:2191-2215). */
  private val a8 = Q(
    "a8_count_sweep",
    Tables.all
      .map(t => s"SELECT '$t' AS tbl, $C AS n FROM $t")
      .mkString("\n", "\nUNION ALL\n", "")) { (s, d) =>
    Tables.all
      .map(t => Tables(s, d, t).agg(lcount().as("n")).select(lit(t).as("tbl"), col("n")))
      .reduce(_ union _)
  }

  /** TPC-H Q1-shaped pricing summary — bench headline aggregation.
    *
    * disc_price/charge multiply each *factor* cast to its exact 2-decimal
    * DECIMAL, then sum the exact products: the 6-decimal true product of
    * three 2-decimal values is NOT a representable double, and rounding the
    * double product to DECIMAL(18,4) hits genuine half-way ties that Spark
    * (exact BigDecimal) and approximate double→decimal casts resolve
    * differently. Factor-exact decimal arithmetic is bit-identical on any
    * ANSI engine.
    */
  private val q1 = Q(
    "q1_pricing_summary",
    s"""SELECT l_returnflag AS returnflag, l_linestatus AS linestatus,
       |       ${DS("l_quantity")} AS sum_qty,
       |       ${DS("l_extendedprice")} AS sum_base,
       |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
       |                * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS sum_disc_price,
       |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
       |                * (1 - CAST(l_discount AS DECIMAL(4,2)))
       |                * (1 + CAST(l_tax AS DECIMAL(4,2)))) AS DOUBLE) AS sum_charge,
       |       ${DS("l_quantity")} / CAST(count(*) AS DOUBLE) AS avg_qty,
       |       $C AS count_order
       |FROM lineitem
       |WHERE CAST(l_shipdate AS DATE) <= DATE '2001-09-01'
       |GROUP BY 1, 2""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.types.DecimalType
    val epD = col("l_extendedprice").cast(DecimalType(12, 2))
    val discF = lit(1).cast(DecimalType(3, 2)) - col("l_discount").cast(DecimalType(4, 2))
    val taxF = lit(1).cast(DecimalType(3, 2)) + col("l_tax").cast(DecimalType(4, 2))
    lF(s, d)
      .filter(col("l_shipdate").cast("date") <= lit("2001-09-01").cast("date"))
      .groupBy(
        col("l_returnflag").as("returnflag"),
        col("l_linestatus").as("linestatus"))
      .agg(
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_base"),
        sum(epD * discF).cast("double").as("sum_disc_price"),
        sum(epD * discF * taxF).cast("double").as("sum_charge"),
        (dsum(col("l_quantity")) / count(lit(1)).cast("double")).as("avg_qty"),
        lcount().as("count_order"))
  }

  /** F2 — `' -'`-suffix strip over constructed dirt (bl_cl.sql:106-110). */
  private val f2 = Q(
    "f2_suffix_strip",
    """SELECT c_custkey AS custkey,
      |       split_part(c_name || ' -dirt', ' -', 1) AS clean_name
      |FROM customer""".stripMargin) { (s, d) =>
    cF(s, d).select(
      col("c_custkey").as("custkey"),
      stripDashSuffix(concat(col("c_name"), lit(" -dirt"))).as("clean_name"))
  }

  /** F3 — SPLIT_PART extraction (bl_cl.sql:1069-1070). */
  private val f3 = Q(
    "f3_split_part",
    """SELECT c_custkey AS custkey, split_part(c_name, '#', 2) AS cust_nr
      |FROM customer""".stripMargin) { (s, d) =>
    cF(s, d).select(
      col("c_custkey").as("custkey"),
      expr("split_part(c_name, '#', 2)").as("cust_nr"))
  }

  /** F6/F9 — dd-MM-yyyy format + parse roundtrip (bl_cl.sql:1246, 55). */
  private val f6 = Q(
    "f6_date_roundtrip",
    s"""SELECT CAST(strptime(strftime(o_orderdate, '%d-%m-%Y'), '%d-%m-%Y') AS DATE) AS od,
       |       $C AS n
       |FROM orders GROUP BY 1""".stripMargin) { (s, d) =>
    oF(s, d)
      .groupBy(
        parseSourceDate(date_format(col("o_orderdate"), "dd-MM-yyyy")).as("od"))
      .agg(lcount().as("n"))
  }

  /** F12 — EXTRACT date parts as grouping keys (bl_cl.sql:1502-1505). */
  private val f12 = Q(
    "f12_extract_parts",
    s"""SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
       |       CAST(quarter(o_orderdate) AS BIGINT) AS qtr,
       |       $C AS n, ${DS("o_totalprice")} AS total
       |FROM orders GROUP BY 1, 2""".stripMargin) { (s, d) =>
    oF(s, d)
      .groupBy(
        year(col("o_orderdate")).cast(LongType).as("yr"),
        quarter(col("o_orderdate")).cast(LongType).as("qtr"))
      .agg(lcount().as("n"), dsum(col("o_totalprice")).as("total"))
  }

  /** F16 — INTERVAL date arithmetic in a join predicate (bl_cl.sql:1494). */
  private val f16 = Q(
    "f16_interval_arith",
    s"""SELECT $C AS n
       |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |WHERE CAST(l_shipdate AS DATE) <= CAST(o_orderdate AS DATE) + 30""".stripMargin) {
    (s, d) =>
      lF(s, d)
        .join(oF(s, d), col("l_orderkey") === col("o_orderkey"))
        .filter(
          col("l_shipdate").cast("date") <=
            date_add(col("o_orderdate").cast("date"), 30))
        .agg(lcount().as("n"))
  }

  /** Window ranking — top customer per year (Business_Template.docx business
    * question; SURVEY.md §2.8 note). Deterministic tie-break on custkey.
    */
  private val w1 = Q(
    "w1_top_customer_per_year",
    s"""WITH rev AS (SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
       |                    o_custkey AS k, ${DS("o_totalprice")} AS total
       |             FROM orders GROUP BY 1, 2)
       |SELECT yr, k AS custkey, total
       |FROM (SELECT yr, k, total,
       |             row_number() OVER (PARTITION BY yr ORDER BY total DESC, k) AS rn
       |      FROM rev)
       |WHERE rn = 1""".stripMargin) { (s, d) =>
    val rev = oF(s, d)
      .groupBy(
        year(col("o_orderdate")).cast(LongType).as("yr"),
        col("o_custkey").as("k"))
      .agg(dsum(col("o_totalprice")).as("total"))
    val w = Window.partitionBy(col("yr")).orderBy(col("total").desc, col("k"))
    rev
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("yr"), col("k").as("custkey"), col("total"))
  }

  /** Time-window aggregation over the events table — the batch shape of the
    * streaming hourly rollup (graft.streaming reuses this logic).
    */
  private val ev = Q(
    "events_hourly",
    s"""SELECT CAST(date_trunc('hour', CAST(ts AS TIMESTAMP)) AS TIMESTAMP) AS hour_ts,
       |       event_type, $C AS n, ${DS("value")} AS total_value
       |FROM events GROUP BY 1, 2""".stripMargin) { (s, d) =>
    Tables.events(s, d)
      .groupBy(
        // timestamp_ntz: parquet isAdjustedToUTC=false, so any ANSI reader
        // sees the same naive UTC instants the oracle computes.
        date_trunc("hour", col("ts")).cast("timestamp_ntz").as("hour_ts"),
        col("event_type"))
      .agg(lcount().as("n"), dsum(col("value")).as("total_value"))
  }

  /** Stream-stream join shape in batch form: clicks correlated to the
    * same user's purchases within the next hour (equi-key + two-sided
    * event-time bound — what lets Structured Streaming expire join
    * state; graft.streaming.EventStream.clickToPurchase shares this
    * logic, StreamingSpec pins stream == batch).
    */
  private val evCorr = Q(
    "events_correlate",
    s"""WITH c AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS cts
       |           FROM events WHERE event_type = 'click'),
       |p AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS pts
       |      FROM events WHERE event_type = 'purchase'),
       |j AS (SELECT c.user_id, epoch_us(pts) - epoch_us(cts) AS lag_us
       |      FROM c JOIN p ON c.user_id = p.user_id
       |       AND pts >= cts AND pts <= cts + INTERVAL 1 HOUR)
       |SELECT user_id, $C AS n_pairs,
       |       CAST(min(lag_us) AS BIGINT) AS min_lag_us
       |FROM j GROUP BY 1""".stripMargin) { (s, d) =>
    val e = Tables.events(s, d)
    graft.streaming.EventStream.clickToPurchase(
      e.filter(col("event_type") === "click"),
      e.filter(col("event_type") === "purchase"))
      .groupBy(col("user_id"))
      .agg(
        lcount().as("n_pairs"),
        min(unix_micros(col("p_ts")) - unix_micros(col("click_ts")))
          .as("min_lag_us"))
  }

  /** A3 — plain COUNT(*) (bl_cl.sql:1196-1197). */
  private val a3 = Q(
    "a3_plain_count",
    s"SELECT $C AS n FROM lineitem") { (s, d) =>
    lF(s, d).agg(lcount().as("n"))
  }

  /** A5/F13 — SUM + GROUP BY two plain keys (bl_dm.sql:275-284). */
  private val a5 = Q(
    "a5_sum_two_keys",
    s"""SELECT o_orderpriority AS priority, o_orderstatus AS status,
       |       ${DS2("o_totalprice")} AS total, $C AS n
       |FROM orders GROUP BY 1, 2""".stripMargin) { (s, d) =>
    oF(s, d)
      .groupBy(
        col("o_orderpriority").as("priority"),
        col("o_orderstatus").as("status"))
      .agg(dsumRound2(col("o_totalprice")).as("total"), lcount().as("n"))
  }

  /** ROLLUP subtotals — the mart-report shape above A5: per (priority,
    * status), per priority, and grand total in one aggregation pass
    * (Spark expands grouping sets in a single Expand+Aggregate, no
    * repeated scans). NULL group keys mark subtotal rows identically in
    * both engines.
    */
  private val a9 = Q(
    "a9_rollup_subtotals",
    s"""SELECT o_orderpriority AS priority, o_orderstatus AS status,
       |       ${DS2("o_totalprice")} AS total, $C AS n
       |FROM orders GROUP BY ROLLUP(o_orderpriority, o_orderstatus)""".stripMargin) {
    (s, d) =>
      oF(s, d)
        .rollup(
          col("o_orderpriority").as("priority"),
          col("o_orderstatus").as("status"))
        .agg(dsumRound2(col("o_totalprice")).as("total"), lcount().as("n"))
  }

  /** CUBE — all four grouping combinations (both, each alone, grand
    * total) in one pass; the companion to [[a9]]'s ROLLUP.
    */
  private val a13 = Q(
    "a13_cube_totals",
    s"""SELECT o_orderpriority AS priority, o_orderstatus AS status,
       |       ${DS2("o_totalprice")} AS total, $C AS n
       |FROM orders GROUP BY CUBE(o_orderpriority, o_orderstatus)""".stripMargin) {
    (s, d) =>
      oF(s, d)
        .cube(
          col("o_orderpriority").as("priority"),
          col("o_orderstatus").as("status"))
        .agg(dsumRound2(col("o_totalprice")).as("total"), lcount().as("n"))
  }

  /** Correlated-subquery pattern — customers above their own nation's
    * average balance. The engine plans it the scalable way: ONE exact
    * per-nation aggregate joined back (no per-row subquery execution);
    * the oracle states it as the correlated AVG it replaces.
    */
  private val a14 = Q(
    "a14_above_nation_avg",
    s"""WITH na AS (SELECT c_nationkey, ${DS("c_acctbal")} / CAST(count(*) AS DOUBLE) AS avg_bal
       |            FROM customer GROUP BY 1)
       |SELECT c.c_nationkey AS nationkey, $C AS n_above
       |FROM customer c JOIN na ON na.c_nationkey = c.c_nationkey
       |WHERE c.c_acctbal > na.avg_bal
       |GROUP BY 1""".stripMargin) { (s, d) =>
    val na = cF(s, d).groupBy(col("c_nationkey"))
      .agg((dsum(col("c_acctbal")) / count(lit(1)).cast("double")).as("avg_bal"))
    cF(s, d).join(na, Seq("c_nationkey"))
      .filter(col("c_acctbal") > col("avg_bal"))
      .groupBy(col("c_nationkey").as("nationkey"))
      .agg(lcount().as("n_above"))
  }

  /** Pivot — status columns per priority row. The oracle expresses the
    * same thing as conditional aggregation, which is exactly what Spark's
    * pivot plans (one pass, no join).
    */
  private val a10 = Q(
    "a10_pivot_status",
    s"""SELECT o_orderpriority AS priority,
       |       ${DS2("CASE WHEN o_orderstatus = 'F' THEN o_totalprice END")} AS f_total,
       |       ${DS2("CASE WHEN o_orderstatus = 'O' THEN o_totalprice END")} AS o_total,
       |       ${DS2("CASE WHEN o_orderstatus = 'P' THEN o_totalprice END")} AS p_total
       |FROM orders GROUP BY 1""".stripMargin) { (s, d) =>
    oF(s, d)
      .groupBy(col("o_orderpriority").as("priority"))
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(dsumRound2(col("o_totalprice")))
      .select(
        col("priority"), col("F").as("f_total"), col("O").as("o_total"),
        col("P").as("p_total"))
  }

  /** Sketch-based distinct counting — the COUNT(DISTINCT) scale path
    * (A2's exact shuffle-the-keys plan is the bottleneck at 100 TB; an
    * HLL++ sketch is one pass, mergeable, constant memory). The sketch
    * value is engine-specific, so the query certifies its own accuracy
    * bound against the exact count and the oracle pins that contract.
    */
  private val a2approx = Q(
    "a2_distinct_approx",
    "SELECT CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_exact, true AS within_5pct FROM lineitem") {
    (s, d) =>
      lF(s, d).agg(
        countDistinct(col("l_partkey")).cast(LongType).as("n_exact"),
        (abs(
          approx_count_distinct(col("l_partkey"), 0.02).cast("double") -
            countDistinct(col("l_partkey")).cast("double")) <=
          countDistinct(col("l_partkey")).cast("double") * 0.05).as("within_5pct"))
  }

  /** D1 — SELECT DISTINCT dedup (bl_cl.sql:100 et al.). */
  private val d1 = Q(
    "d1_distinct",
    "SELECT DISTINCT p_brand AS brand, p_type AS ptype FROM part") { (s, d) =>
    pF(s, d)
      .select(col("p_brand").as("brand"), col("p_type").as("ptype"))
      .distinct()
  }

  /** U1 — deduplicating UNION across sources (bl_cl.sql:254 et al.). */
  private val u1 = Q(
    "u1_union_dedup",
    """SELECT CAST(k AS BIGINT) AS nationkey FROM
      |  (SELECT s_nationkey AS k FROM supplier
      |   UNION SELECT c_nationkey AS k FROM customer)""".stripMargin) { (s, d) =>
    Tables.supplier(s, d).select(col("s_nationkey").as("k"))
      .union(cF(s, d).select(col("c_nationkey")))
      .distinct()
      .select(col("k").cast(LongType).as("nationkey"))
  }

  /** U2 — UNION ALL keeping both sources' rows (bl_cl.sql:473). */
  private val u2 = Q(
    "u2_union_all",
    s"""SELECT CAST(k AS BIGINT) AS nationkey, $C AS n FROM
       |  (SELECT s_nationkey AS k FROM supplier
       |   UNION ALL SELECT c_nationkey AS k FROM customer)
       |GROUP BY 1""".stripMargin) { (s, d) =>
    Tables.supplier(s, d).select(col("s_nationkey").as("k"))
      .union(cF(s, d).select(col("c_nationkey")))
      .groupBy(col("k").cast(LongType).as("nationkey"))
      .agg(lcount().as("n"))
  }

  /** U3 — INTERSECT (set semantics, dedup both sides): nation keys that
    * appear among BOTH suppliers and high-balance customers. Spark plans
    * a left-semi over distinct inputs — one shuffle per side, no blowup.
    */
  private val u3 = Q(
    "u3_intersect",
    """SELECT CAST(k AS BIGINT) AS nationkey FROM
      |  (SELECT s_nationkey AS k FROM supplier WHERE s_acctbal > 7000
      |   INTERSECT SELECT c_nationkey FROM customer WHERE c_acctbal > 9900)""".stripMargin) {
    (s, d) =>
      Tables.supplier(s, d).filter(col("s_acctbal") > 7000)
        .select(col("s_nationkey").as("k"))
        .intersect(cF(s, d).filter(col("c_acctbal") > 9900)
          .select(col("c_nationkey").as("k")))
        .select(col("k").cast(LongType).as("nationkey"))
  }

  /** U4 — EXCEPT (set difference): high-balance customers who never
    * placed a pending order. Plans as left-anti over distinct inputs.
    */
  private val u4 = Q(
    "u4_except",
    """SELECT custkey FROM
      |  (SELECT c_custkey AS custkey FROM customer WHERE c_acctbal > 9000
      |   EXCEPT SELECT o_custkey FROM orders WHERE o_orderstatus = 'P')""".stripMargin) {
    (s, d) =>
      cF(s, d).filter(col("c_acctbal") > 9000)
        .select(col("c_custkey").as("custkey"))
        .except(oF(s, d).filter(col("o_orderstatus") === "P")
          .select(col("o_custkey").as("custkey")))
  }

  /** A12 — UNPIVOT (wide → long): the per-status aggregate row unpivoted
    * into one (status, measure, value) row per measure via `stack` — the
    * inverse of [[a10]]'s pivot. Oracle uses the portable UNION ALL
    * formulation. Measures are exact decimal sums emitted as doubles.
    */
  private val a12 = Q(
    "a12_unpivot",
    s"""WITH a AS (SELECT o_orderstatus,
       |                  CAST($C AS DOUBLE) AS n_orders,
       |                  ${DS("o_totalprice")} AS total_price
       |           FROM orders GROUP BY 1)
       |SELECT o_orderstatus, 'n_orders' AS measure, n_orders AS value FROM a
       |UNION ALL
       |SELECT o_orderstatus, 'total_price' AS measure, total_price AS value FROM a""".stripMargin) {
    (s, d) =>
      oF(s, d).groupBy(col("o_orderstatus"))
        .agg(
          lcount().cast("double").as("n_orders"),
          dsum(col("o_totalprice")).as("total_price"))
        .select(col("o_orderstatus"),
          expr("stack(2, 'n_orders', n_orders, 'total_price', total_price)")
            .as(Seq("measure", "value")))
  }

  /** W6 — NTILE quartiles over exact per-customer revenue: each customer
    * lands in a revenue quartile (deterministic total order: revenue
    * desc, custkey), then per-quartile membership and revenue mass. The
    * engine uses [[graft.operators.Surrogates.ntileScalable]] — a range
    * shuffle + rank formula, NOT the single-task global window the naive
    * `ntile().over(orderBy)` would plan.
    */
  private val w6 = Q(
    "w6_ntile_quartiles",
    s"""WITH rev AS (SELECT o_custkey, ${DS("o_totalprice")} AS revenue
       |             FROM orders GROUP BY 1),
       |q AS (SELECT revenue,
       |             CAST(ntile(4) OVER (ORDER BY revenue DESC, o_custkey) AS BIGINT) AS quartile
       |      FROM rev)
       |SELECT quartile, $C AS n_customers, ${DS("revenue")} AS revenue
       |FROM q GROUP BY 1""".stripMargin) { (s, d) =>
    val rev = oF(s, d).groupBy(col("o_custkey"))
      .agg(dsum(col("o_totalprice")).as("revenue"))
    graft.operators.Surrogates
      .ntileScalable(rev, 4, Seq(col("revenue").desc, col("o_custkey")), "quartile")
      .groupBy(col("quartile"))
      .agg(lcount().as("n_customers"), dsum(col("revenue")).as("revenue"))
  }

  /** W7 — LAG-based gap analysis: per customer, the largest and the mean
    * day-gap between consecutive orders (order sequence is deterministic:
    * date then key). The mean is an IEEE division of two exact integers.
    */
  private val w7 = Q(
    "w7_order_gaps",
    s"""WITH seq AS (SELECT o_custkey, CAST(o_orderdate AS DATE) AS dt,
       |                    lag(CAST(o_orderdate AS DATE)) OVER
       |                      (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS prev_dt
       |             FROM orders),
       |g AS (SELECT o_custkey, CAST(dt - prev_dt AS BIGINT) AS gap
       |      FROM seq WHERE prev_dt IS NOT NULL)
       |SELECT o_custkey, $C AS n_gaps,
       |       CAST(max(gap) AS BIGINT) AS max_gap,
       |       CAST(SUM(gap) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avg_gap
       |FROM g GROUP BY 1 HAVING count(*) >= 3""".stripMargin) { (s, d) =>
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    oF(s, d)
      .select(col("o_custkey"), col("o_orderdate").cast("date").as("dt"),
        lag(col("o_orderdate").cast("date"), 1).over(w).as("prev_dt"))
      .filter(col("prev_dt").isNotNull)
      .select(col("o_custkey"), datediff(col("dt"), col("prev_dt")).cast(LongType).as("gap"))
      .groupBy(col("o_custkey"))
      .agg(lcount().as("n_gaps"),
        max(col("gap")).cast(LongType).as("max_gap"),
        (sum(col("gap")).cast("double") / count(lit(1)).cast("double")).as("avg_gap"))
      .filter(col("n_gaps") >= 3)
  }

  /** F1 — `#`-suffix strip over constructed dirt (bl_cl.sql:101-105). */
  private val f1 = Q(
    "f1_hash_strip",
    """SELECT p_partkey AS partkey,
      |       split_part(p_name || '#' || CAST(p_partkey AS VARCHAR), '#', 1) AS clean_name,
      |       split_part(p_name, '#', 1) AS passthrough
      |FROM part""".stripMargin) { (s, d) =>
    pF(s, d).select(
      col("p_partkey").as("partkey"),
      stripHashSuffix(concat(col("p_name"), lit("#"), col("p_partkey").cast("string")))
        .as("clean_name"),
      stripHashSuffix(col("p_name")).as("passthrough"))
  }

  /** F9 — timestamp → 'yyyy-MM-dd HH:mm:ss' lineage string (bl_cl.sql:55). */
  private val f9 = Q(
    "f9_timestamp_format",
    s"""SELECT strftime(CAST(o_orderdate AS TIMESTAMP), '%Y-%m-%d %H:%M:%S') AS ins_dt,
       |       $C AS n
       |FROM orders GROUP BY 1""".stripMargin) { (s, d) =>
    oF(s, d)
      .groupBy(
        date_format(col("o_orderdate").cast("timestamp"), "yyyy-MM-dd HH:mm:ss")
          .as("ins_dt"))
      .agg(lcount().as("n"))
  }

  /** F10/F11 — staged-string typing round trip: numbers survive a string
    * hop and cast back exactly (bl_cl.sql:1224-1228, 115).
    */
  private val f10 = Q(
    "f10_measure_casts",
    s"""SELECT l_returnflag AS flag,
       |       ${DS("CAST(CAST(l_quantity AS VARCHAR) AS DOUBLE)")} AS qty_sum,
       |       CAST(SUM(CAST(lpad(CAST(l_linenumber AS VARCHAR), 5, '0') AS INT)) AS BIGINT) AS line_sum
       |FROM lineitem GROUP BY 1""".stripMargin) { (s, d) =>
    lF(s, d)
      .groupBy(col("l_returnflag").as("flag"))
      .agg(
        dsum(col("l_quantity").cast("string").cast("double")).as("qty_sum"),
        sum(lpad(col("l_linenumber").cast("string"), 5, "0").cast("int"))
          .cast(LongType).as("line_sum"))
  }

  /** Window frame — running total over ordered months (the business-
    * question surface SURVEY.md §2.8 adds beyond the reference's SQL).
    * The cumulative sum stays in exact decimal until the final cast.
    */
  private val w2 = Q(
    "w2_running_total",
    s"""WITH m AS (SELECT CAST(year(o_orderdate) * 100 + month(o_orderdate) AS BIGINT) AS ym,
       |                  SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS t
       |           FROM orders GROUP BY 1)
       |SELECT ym, CAST(t AS DOUBLE) AS month_total,
       |       CAST(SUM(t) OVER (ORDER BY ym ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS running_total
       |FROM m""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.types.DecimalType
    val m = oF(s, d)
      .groupBy(
        (year(col("o_orderdate")) * 100 + month(col("o_orderdate")))
          .cast(LongType).as("ym"))
      .agg(sum(col("o_totalprice").cast(DecimalType(18, 4))).as("t"))
    val w = Window.orderBy(col("ym")).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    m.select(
      col("ym"),
      col("t").cast("double").as("month_total"),
      sum(col("t")).over(w).cast("double").as("running_total"))
  }

  /** RANGE-frame moving window: per-day revenue plus its trailing 7-day
    * sum — the frame is bounded by VALUE distance on the day ordinal, not
    * by row count, so gap days shorten the window exactly as a calendar
    * would. The windowed sum stays in decimal until the final cast.
    */
  private val w4 = Q(
    "w4_moving_range",
    s"""WITH d AS (SELECT CAST(CAST(o_orderdate AS DATE) - DATE '1995-01-01' AS BIGINT) AS day_no,
       |                  SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS t
       |           FROM orders GROUP BY 1)
       |SELECT day_no, CAST(t AS DOUBLE) AS day_total,
       |       CAST(SUM(t) OVER (ORDER BY day_no
       |         RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS DOUBLE) AS d7_total
       |FROM d""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.types.DecimalType
    val byDay = oF(s, d)
      .groupBy(
        datediff(col("o_orderdate").cast("date"), lit("1995-01-01").cast("date"))
          .cast(LongType).as("day_no"))
      .agg(sum(col("o_totalprice").cast(DecimalType(18, 4))).as("t"))
    val w = Window.orderBy(col("day_no")).rangeBetween(-6, Window.currentRow)
    byDay.select(
      col("day_no"),
      col("t").cast("double").as("day_total"),
      sum(col("t")).over(w).cast("double").as("d7_total"))
  }

  /** GROUPING SETS with grouping-id disambiguation: per-status, per-
    * priority, and grand-total aggregates in ONE pass over orders (the
    * reference's A-series rollups generalized; Spark expands the sets
    * with a single Expand node, not one scan per set).
    */
  private val a11 = Q(
    "a11_grouping_sets",
    s"""SELECT o_orderstatus AS status, o_orderpriority AS priority,
       |       CAST(grouping(o_orderstatus) AS BIGINT) AS g_status,
       |       CAST(grouping(o_orderpriority) AS BIGINT) AS g_priority,
       |       $C AS n, ${DS("o_totalprice")} AS total
       |FROM orders
       |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())""".stripMargin) {
    (s, d) =>
      oF(s, d)
        .groupingSets(
          Seq(Seq(col("o_orderstatus")), Seq(col("o_orderpriority")), Seq.empty),
          col("o_orderstatus"), col("o_orderpriority"))
        .agg(
          grouping(col("o_orderstatus")).cast(LongType).as("g_status"),
          grouping(col("o_orderpriority")).cast(LongType).as("g_priority"),
          lcount().as("n"),
          dsum(col("o_totalprice")).as("total"))
        .select(
          col("o_orderstatus").as("status"),
          col("o_orderpriority").as("priority"),
          col("g_status"), col("g_priority"), col("n"), col("total"))
  }

  /** Best sales month per customer segment (Business_Template.docx
    * business question; SURVEY.md §2.8 note).
    */
  private val w3 = Q(
    "w3_best_month_per_segment",
    s"""WITH m AS (SELECT c_mktsegment AS seg,
       |                  CAST(month(o_orderdate) AS BIGINT) AS mo,
       |                  ${DS("o_totalprice")} AS total
       |           FROM orders JOIN customer ON o_custkey = c_custkey
       |           GROUP BY 1, 2)
       |SELECT seg, mo, total
       |FROM (SELECT seg, mo, total,
       |             row_number() OVER (PARTITION BY seg ORDER BY total DESC, mo) AS rn
       |      FROM m)
       |WHERE rn = 1""".stripMargin) { (s, d) =>
    // no broadcast hint on customer (fact-sized at scale; AQE promotes)
    val m = oF(s, d)
      .join(cF(s, d), col("o_custkey") === col("c_custkey"))
      .groupBy(
        col("c_mktsegment").as("seg"),
        month(col("o_orderdate")).cast(LongType).as("mo"))
      .agg(dsum(col("o_totalprice")).as("total"))
    val w = Window.partitionBy(col("seg")).orderBy(col("total").desc, col("mo"))
    m.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("seg"), col("mo"), col("total"))
  }

  /** Semi-structured payloads: schema'd `from_json` extraction of the
    * events `props` column (the engine's JSON-column path), aggregated
    * per event type against an ANSI json_extract oracle.
    */
  private val js = Q(
    "events_json_props",
    s"""SELECT event_type,
       |       $C AS n,
       |       CAST(SUM(CAST(json_extract_string(props, '$$.k') AS BIGINT)) AS BIGINT) AS k_sum,
       |       CAST(MAX(CAST(json_extract_string(props, '$$.k') AS BIGINT)) AS BIGINT) AS k_max
       |FROM events GROUP BY 1""".stripMargin) { (s, d) =>
    val k = from_json(col("props"), org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("k",
        org.apache.spark.sql.types.LongType)))).getField("k")
    Tables.events(s, d)
      .select(col("event_type"), k.as("k"))
      .groupBy(col("event_type"))
      .agg(
        lcount().as("n"),
        sum(col("k")).cast(LongType).as("k_sum"),
        max(col("k")).cast(LongType).as("k_max"))
  }

  /** Link-analysis authority scoring: weighted PageRank over the
    * per-user page-transition graph (LAG over each user's event stream
    * gives src→dst edges on the `props.k` page key; transition counts
    * are the weights). [[graft.operators.PageRank.ranks]] runs 3 damped
    * rounds ENTIRELY in integer arithmetic (truncating div), so the
    * oracle replays the identical fixed point by unrolling the
    * iterations as CTEs — no float drift anywhere. Each round is one
    * edge-list equi-join + one hash aggregate; the window that builds
    * the edges is user-partitioned, never global.
    */
  /** Page-transition edges (src → dst) from each user's consecutive event
    * stream on the `props.k` page key — THE graph every graph query here
    * analyzes. ONE definition so PageRank, triangles, link prediction,
    * and the Markov model can never disagree about what the graph is
    * (each query's oracle mirrors this same lag-over-(user, ts,
    * event_id) derivation in its `tr` CTE). The window is
    * user-partitioned, never global.
    */
  /** (user_id, ts, event_id, k) page-view events — the input both the
    * one-shot transition window and the streaming Markov maintainer's
    * batches consume.
    */
  private[queries] def pageEvents(s: SparkSession, d: String): DataFrame = {
    val k = from_json(col("props"), org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("k", LongType)))).getField("k")
    Tables.events(s, d)
      .select(col("user_id"), col("ts"), col("event_id"), k.as("k"))
  }

  private def pageTransitions(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    pageEvents(s, d)
      .select(lag(col("k"), 1).over(w).as("src"), col("k").as("dst"))
      .filter(col("src").isNotNull)
  }

  private val pagerank = {
    val iters = 3
    def round(i: Int): String =
      s"""r$i AS (SELECT n.node,
         |        150000 + (85 * COALESCE(s.sc, 0)) // 100 AS rank
         |  FROM n LEFT JOIN (
         |    SELECT e.dst AS node, SUM((r.rank * e.w) // o.outw) AS sc
         |    FROM e JOIN o ON e.src = o.src JOIN r${i - 1} r ON r.node = e.src
         |    GROUP BY 1) s ON n.node = s.node)""".stripMargin
    Q(
      "events_pagerank",
      s"""WITH ev AS (SELECT user_id, ts, event_id,
         |                  CAST(json_extract_string(props, '$$.k') AS BIGINT) AS k
         |           FROM events),
         |tr AS (SELECT lag(k) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS src,
         |              k AS dst
         |       FROM ev),
         |e AS (SELECT src, dst, $C AS w FROM tr WHERE src IS NOT NULL GROUP BY 1, 2),
         |o AS (SELECT src, CAST(sum(w) AS BIGINT) AS outw FROM e GROUP BY 1),
         |n AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
         |r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS rank FROM n),
         |${(1 to iters).map(round).mkString(",\n")}
         |SELECT node, CAST(rank AS BIGINT) AS rank FROM r$iters""".stripMargin) {
      (s, d) =>
        val edges = pageTransitions(s, d)
          .groupBy(col("src"), col("dst")).agg(lcount().as("w"))
        graft.operators.PageRank.ranks(edges, iters)
    }
  }

  /** Personalized PageRank from a seed set
    * ([[graft.operators.PageRank.personalizedRanks]]): proximity-to-
    * seeds scores over the page-transition graph — the graph-similarity
    * retrieval primitive ("pages related to this page set"), computed
    * as the same damped fixed-point-integer lattice as
    * `events_pagerank` with the teleport mass restricted to the seeds
    * (pages 0–4). The oracle unrolls the rounds as CTEs with the
    * seed-conditional teleport, so the hash match certifies the full
    * iteration including the exact 0 floor on unreached nodes.
    */
  private val ppr = {
    val iters = 3
    def round(i: Int): String =
      s"""r$i AS (SELECT n.node,
         |        (CASE WHEN n.node < 5 THEN 150000 ELSE 0 END)
         |          + (85 * COALESCE(s.sc, 0)) // 100 AS rank
         |  FROM n LEFT JOIN (
         |    SELECT e.dst AS node, SUM((r.rank * e.w) // o.outw) AS sc
         |    FROM e JOIN o ON e.src = o.src JOIN r${i - 1} r ON r.node = e.src
         |    GROUP BY 1) s ON n.node = s.node)""".stripMargin
    Q(
      "events_ppr",
      s"""WITH ev AS (SELECT user_id, ts, event_id,
         |                  CAST(json_extract_string(props, '$$.k') AS BIGINT) AS k
         |           FROM events),
         |tr AS (SELECT lag(k) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS src,
         |              k AS dst
         |       FROM ev),
         |e AS (SELECT src, dst, $C AS w FROM tr WHERE src IS NOT NULL GROUP BY 1, 2),
         |o AS (SELECT src, CAST(sum(w) AS BIGINT) AS outw FROM e GROUP BY 1),
         |n AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
         |r0 AS (SELECT node,
         |              CAST(CASE WHEN node < 5 THEN 1000000 ELSE 0 END AS BIGINT) AS rank
         |       FROM n),
         |${(1 to iters).map(round).mkString(",\n")}
         |SELECT node, CAST(rank AS BIGINT) AS rank FROM r$iters""".stripMargin) {
      (s, d) =>
        val edges = pageTransitions(s, d)
          .groupBy(col("src"), col("dst")).agg(lcount().as("w"))
        val seeds = edges.select(col("src").as("node"))
          .union(edges.select(col("dst").as("node"))).distinct()
          .filter(col("node") < 5)
        graft.operators.PageRank.personalizedRanks(edges, seeds, iters)
    }
  }

  /** HITS hubs & authorities over the page-transition graph
    * ([[graft.operators.Hits]]): 2 rounds of the mutual update in
    * fixed-point integer ppm units — raw decimal accumulations,
    * max-normalize by truncating division — so the oracle unrolls the
    * rounds as CTEs and the hash match certifies the whole iteration,
    * exactly like the unrolled PageRank. Authority and hub separate
    * "is pointed at by good hubs" from "points at good authorities";
    * both ride on every node row.
    */
  private val hits = {
    val iters = 2
    // one normalize round: raw mutual sums from the PREVIOUS frame,
    // every node kept (missing raw = 0), truncating (raw·1e6) // max
    def step(out: String, prev: String, inKey: String, outKey: String) =
      s"""${out}r AS (SELECT e.$outKey AS node,
         |        SUM(CAST($prev.s AS HUGEINT) * e.w) AS r
         |  FROM e JOIN $prev ON $prev.node = e.$inKey GROUP BY 1),
         |$out AS (SELECT n.node,
         |        CAST(COALESCE((CAST(r AS HUGEINT) * 1000000) // CAST(m AS HUGEINT), 0) AS BIGINT) AS s
         |  FROM n LEFT JOIN ${out}r ON ${out}r.node = n.node
         |  CROSS JOIN (SELECT max(r) AS m FROM ${out}r))""".stripMargin
    val rounds = (1 to iters).map { i =>
      step(s"a$i", s"h${i - 1}", "src", "dst") + ",\n" +
        step(s"h$i", s"a$i", "dst", "src")
    }.mkString(",\n")
    Q(
      "events_hits",
      s"""WITH ev AS (SELECT user_id, ts, event_id,
         |                  CAST(json_extract_string(props, '$$.k') AS BIGINT) AS k
         |           FROM events),
         |tr AS (SELECT lag(k) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS src,
         |              k AS dst
         |       FROM ev),
         |e AS (SELECT src, dst, $C AS w FROM tr WHERE src IS NOT NULL GROUP BY 1, 2),
         |n AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
         |h0 AS (SELECT node, CAST(1000000 AS BIGINT) AS s FROM n),
         |$rounds
         |SELECT a$iters.node, a$iters.s AS auth, h$iters.s AS hub
         |FROM a$iters JOIN h$iters ON h$iters.node = a$iters.node""".stripMargin) {
      (s, d) =>
        val edges = pageTransitions(s, d)
          .groupBy(col("src"), col("dst")).agg(lcount().as("w"))
        graft.operators.Hits.scores(edges, iters)
    }
  }

  /** Bounded-hop BFS from the lowest page id over the page-transition
    * graph ([[graft.operators.Bfs]]): distance labels for everything
    * within 3 undirected hops — the blast-radius / graph-local-sampling
    * readout. The oracle unrolls the min-plus relaxation rounds as
    * CTEs; integers end to end, so the hash match certifies reachability
    * AND the exact hop counts.
    */
  private val bfsHops = {
    val hops = 3
    def round(i: Int): String =
      s"""b$i AS (SELECT node, CAST(min(dist) AS BIGINT) AS dist FROM (
         |  SELECT node, dist FROM b${i - 1}
         |  UNION ALL
         |  SELECT adj.c AS node, b${i - 1}.dist + 1
         |  FROM adj JOIN b${i - 1} ON b${i - 1}.node = adj.n) GROUP BY 1)"""
        .stripMargin
    Q(
      "events_bfs_hops",
      s"""WITH ev AS (SELECT user_id, ts, event_id,
         |                  CAST(json_extract_string(props, '$$.k') AS BIGINT) AS k
         |           FROM events),
         |tr AS (SELECT lag(k) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS src,
         |              k AS dst
         |       FROM ev),
         |und AS (SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
         |        FROM tr WHERE src IS NOT NULL AND src <> dst),
         |adj AS (SELECT u AS c, v AS n FROM und UNION ALL SELECT v, u FROM und),
         |b0 AS (SELECT min(u) AS node, CAST(0 AS BIGINT) AS dist FROM und
         |       HAVING min(u) IS NOT NULL),
         |${(1 to hops).map(round).mkString(",\n")}
         |SELECT node, dist FROM b$hops""".stripMargin) { (s, d) =>
      val und = graft.operators.Triangles.undirected(pageTransitions(s, d))
      val seedRow = und.agg(min(col("u"))).head
      if (seedRow.isNullAt(0)) und.select(col("u").as("node"), col("v").as("dist")).limit(0)
      else graft.operators.Bfs.hops(und, seedRow.getLong(0), hops)
    }
  }

  /** Community-density readout: per-node triangle counts and local
    * clustering coefficient over the (undirected) page-transition graph —
    * how clique-like each page's neighborhood is. The Spark side uses the
    * DEGREE-ORDERED enumeration ([[graft.operators.Triangles]]: every
    * triangle is found exactly once at its minimum-(degree, id) apex, so
    * wedge generation is bounded by Σ (outdeg choose 2) with outdeg
    * O(√m) — hot nodes cannot explode); the oracle enumerates the same
    * triangles the textbook way (a < b < c triple join on the canonical
    * edge list), which is fine for DuckDB at test SF. `coeff` =
    * 2·tri/(deg·(deg−1)) as one pinned left-to-right double expression,
    * 0.0 below degree 2.
    */
  private val triangles = Q(
    "events_triangles",
    s"""WITH ev AS (SELECT user_id, ts, event_id,
       |                  CAST(json_extract_string(props, '$$.k') AS BIGINT) AS k
       |           FROM events),
       |tr AS (SELECT lag(k) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS src,
       |              k AS dst
       |       FROM ev),
       |und AS (SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
       |        FROM tr WHERE src IS NOT NULL AND src <> dst),
       |deg AS (SELECT node, $C AS deg
       |        FROM (SELECT u AS node FROM und UNION ALL SELECT v FROM und)
       |        GROUP BY 1),
       |t AS (SELECT e1.u AS a, e1.v AS b, e2.v AS c
       |      FROM und e1
       |      JOIN und e2 ON e2.u = e1.v AND e2.v > e1.v
       |      JOIN und e3 ON e3.u = e1.u AND e3.v = e2.v),
       |tn AS (SELECT node, $C AS tri
       |       FROM (SELECT a AS node FROM t
       |             UNION ALL SELECT b FROM t
       |             UNION ALL SELECT c FROM t)
       |       GROUP BY 1)
       |SELECT deg.node, deg.deg,
       |       COALESCE(tn.tri, CAST(0 AS BIGINT)) AS tri,
       |       CASE WHEN deg.deg >= 2
       |            THEN CAST(2.0 AS DOUBLE) * CAST(COALESCE(tn.tri, 0) AS DOUBLE)
       |                 / (CAST(deg.deg AS DOUBLE) * CAST(deg.deg - 1 AS DOUBLE))
       |            ELSE CAST(0.0 AS DOUBLE) END AS coeff
       |FROM deg LEFT JOIN tn ON tn.node = deg.node""".stripMargin) { (s, d) =>
    graft.operators.Triangles.nodeTriangles(pageTransitions(s, d))
  }

  /** Common-neighbor link prediction over the page-transition graph: for
    * node pairs NOT yet connected, how many shared neighbors they have
    * and the Jaccard overlap of their neighborhoods — the classic
    * "you may also like" / missing-edge score. Wedge generation is one
    * self-equi-join of the adjacency list on the CENTER node (each
    * common neighbor contributes exactly one (a < b) wedge row, grouped
    * to a count), existing edges leave by anti-join, and the top 20 ride
    * `ORDER BY … LIMIT` → TakeOrderedAndProject. Per-center wedge volume
    * is O(deg²) — inherent to common-neighbor counting; at web scale the
    * standard mitigation (cap or sample hot-node neighbor lists before
    * the self-join) slots in front of the same plan. The Jaccard
    * denominator is |N(a) ∪ N(b)| = deg(a)+deg(b)−cn, all integers,
    * one pinned double division at the end.
    */
  private val linkPredict = Q(
    "events_link_predict",
    s"""WITH ev AS (SELECT user_id, ts, event_id,
       |                  CAST(json_extract_string(props, '$$.k') AS BIGINT) AS k
       |           FROM events),
       |tr AS (SELECT lag(k) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS src,
       |              k AS dst
       |       FROM ev),
       |und AS (SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
       |        FROM tr WHERE src IS NOT NULL AND src <> dst),
       |adj AS (SELECT u AS c, v AS n FROM und UNION ALL SELECT v, u FROM und),
       |deg AS (SELECT c, $C AS deg FROM adj GROUP BY 1),
       |wed AS (SELECT a.n AS a, b.n AS b, $C AS cn
       |        FROM adj a JOIN adj b ON a.c = b.c AND a.n < b.n
       |        GROUP BY 1, 2),
       |miss AS (SELECT w.a, w.b, w.cn FROM wed w
       |         WHERE NOT EXISTS (SELECT 1 FROM und
       |                           WHERE und.u = w.a AND und.v = w.b))
       |SELECT m.a, m.b, m.cn,
       |       CAST(m.cn AS DOUBLE)
       |         / CAST(da.deg + db.deg - m.cn AS DOUBLE) AS jaccard
       |FROM miss m
       |JOIN deg da ON da.c = m.a
       |JOIN deg db ON db.c = m.b
       |ORDER BY cn DESC, jaccard DESC, a, b LIMIT 20""".stripMargin) { (s, d) =>
    val und = graft.operators.Triangles.undirected(pageTransitions(s, d))
    val adj = und.select(col("u").as("c"), col("v").as("n"))
      .unionAll(und.select(col("v").as("c"), col("u").as("n")))
    val deg = adj.groupBy(col("c")).agg(lcount().as("deg"))
    val wed = adj.select(col("c"), col("n").as("a"))
      .join(adj.select(col("c"), col("n").as("b")), Seq("c"))
      .filter(col("a") < col("b"))
      .groupBy(col("a"), col("b")).agg(lcount().as("cn"))
    val miss = wed.join(und,
      wed("a") === und("u") && wed("b") === und("v"), "left_anti")
    miss
      .join(deg.select(col("c").as("a"), col("deg").as("da")), Seq("a"))
      .join(deg.select(col("c").as("b"), col("deg").as("db")), Seq("b"))
      .select(col("a"), col("b"), col("cn"),
        (col("cn").cast("double") /
          (col("da") + col("db") - col("cn")).cast("double")).as("jaccard"))
      .orderBy(col("cn").desc, col("jaccard").desc, col("a").asc, col("b").asc)
      .limit(20)
  }

  /** Resource-Allocation link prediction over the page-transition
    * graph — the degree-weighted refinement of `events_link_predict`:
    * RA(a,b) = Σ_{z ∈ N(a)∩N(b)} 1/deg(z), so a shared HUB contributes
    * almost nothing while a shared rare page is strong evidence (the
    * common-neighbor count treats both alike; RA is the strongest of
    * the classic local indices on transition graphs — Zhou, Lü &
    * Zhang 2009). The weight is the INTEGER lattice 10¹² div deg —
    * truncating division both engines replay bit for bit, no libm —
    * summed in DECIMAL(38,0), with one pinned double at the edge.
    *
    * Scale shape: the same center-keyed wedge join as the common-
    * neighbor query (one extra vocabulary-sized degree join on the
    * center BEFORE the wedge fan-out, so the weight rides each wedge
    * row instead of joining the quadratic pair set), anti-join to drop
    * existing edges, TakeOrderedAndProject top-20.
    */
  private val linkRa = Q(
    "events_link_ra",
    s"""WITH ev AS (SELECT user_id, ts, event_id,
       |                  CAST(json_extract_string(props, '$$.k') AS BIGINT) AS k
       |           FROM events),
       |tr AS (SELECT lag(k) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS src,
       |              k AS dst
       |       FROM ev),
       |und AS (SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
       |        FROM tr WHERE src IS NOT NULL AND src <> dst),
       |adj AS (SELECT u AS c, v AS n FROM und UNION ALL SELECT v, u FROM und),
       |deg AS (SELECT c, $C AS deg FROM adj GROUP BY 1),
       |w AS (SELECT c, 1000000000000 // deg AS w FROM deg),
       |wed AS (SELECT a.n AS a, b.n AS b, $C AS cn,
       |               CAST(SUM(CAST(w.w AS HUGEINT)) AS BIGINT) AS ra_scaled
       |        FROM adj a JOIN adj b ON a.c = b.c AND a.n < b.n
       |        JOIN w ON w.c = a.c
       |        GROUP BY 1, 2),
       |miss AS (SELECT wed.a, wed.b, wed.cn, wed.ra_scaled FROM wed
       |         WHERE NOT EXISTS (SELECT 1 FROM und
       |                           WHERE und.u = wed.a AND und.v = wed.b))
       |SELECT a, b, cn, ra_scaled,
       |       round(CAST(ra_scaled AS DOUBLE) / 1000000000000.0, 12) AS ra
       |FROM miss
       |ORDER BY ra_scaled DESC, a, b LIMIT 20""".stripMargin) { (s, d) =>
    val und = graft.operators.Triangles.undirected(pageTransitions(s, d))
    val adj = und.select(col("u").as("c"), col("v").as("n"))
      .unionAll(und.select(col("v").as("c"), col("u").as("n")))
    val w = adj.groupBy(col("c")).agg(lcount().as("deg"))
      .select(col("c"), expr("1000000000000 div deg").as("w"))
    val wed = adj.join(w, Seq("c"))
      .select(col("c"), col("n").as("a"), col("w"))
      .join(adj.select(col("c"), col("n").as("b")), Seq("c"))
      .filter(col("a") < col("b"))
      .groupBy(col("a"), col("b"))
      .agg(lcount().as("cn"),
        sum(col("w").cast("decimal(38,0)")).cast("decimal(38,0)").as("ra_scaled"))
    // ra_scaled ≤ cn·10¹² over the PAGE vocabulary (domain-bounded, not
    // data-sized) sits comfortably in BIGINT, and the certified surface
    // carries it as such — wide decimals don't hash portably; ra pinned
    // at 12
    wed.join(und, wed("a") === und("u") && wed("b") === und("v"), "left_anti")
      .select(col("a"), col("b"), col("cn"),
        col("ra_scaled").cast(LongType).as("ra_scaled"),
        round(col("ra_scaled").cast("double") / lit(1000000000000.0), 12)
          .as("ra"))
      .orderBy(col("ra_scaled").desc, col("a").asc, col("b").asc)
      .limit(20)
  }

  /** Community detection over the page-transition graph: 3 rounds of
    * deterministic synchronous label propagation
    * ([[graft.operators.LabelProp]] — most-frequent neighbor label, ties
    * to the smallest), each node reported with its community label and
    * the community's size. The oracle unrolls the rounds as CTEs with
    * the identical (count DESC, label ASC) argmax, so the hash match
    * certifies the whole iterative relabeling — the LPA analogue of the
    * unrolled-PageRank certification. Per round: one adjacency⋈labels
    * equi-join + two keyed aggregates; nothing global, nothing
    * collected.
    */
  private val labelProp = {
    val iters = 3
    def round(i: Int): String =
      s"""r$i AS (SELECT node, lbl FROM (
         |  SELECT a.c AS node, l.lbl AS lbl,
         |         row_number() OVER (PARTITION BY a.c
         |                            ORDER BY count(*) DESC, l.lbl) AS rn
         |  FROM adj a JOIN r${i - 1} l ON l.node = a.n
         |  GROUP BY a.c, l.lbl) WHERE rn = 1)""".stripMargin
    Q(
      "events_labelprop",
      s"""WITH ev AS (SELECT user_id, ts, event_id,
         |                  CAST(json_extract_string(props, '$$.k') AS BIGINT) AS k
         |           FROM events),
         |tr AS (SELECT lag(k) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS src,
         |              k AS dst
         |       FROM ev),
         |und AS (SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
         |        FROM tr WHERE src IS NOT NULL AND src <> dst),
         |adj AS (SELECT u AS c, v AS n FROM und UNION ALL SELECT v, u FROM und),
         |r0 AS (SELECT DISTINCT c AS node, c AS lbl FROM adj),
         |${(1 to iters).map(round).mkString(",\n")},
         |cs AS (SELECT lbl, $C AS csize FROM r$iters GROUP BY 1)
         |SELECT node, CAST(r$iters.lbl AS BIGINT) AS label, csize
         |FROM r$iters JOIN cs ON cs.lbl = r$iters.lbl""".stripMargin) { (s, d) =>
      val und = graft.operators.Triangles.undirected(pageTransitions(s, d))
      val lbls = graft.operators.LabelProp.propagate(und, iters)
      val cs = lbls.groupBy(col("label")).agg(lcount().as("csize"))
      lbls.join(cs, Seq("label"))
        .select(col("node"), col("label"), col("csize"))
    }
  }

  /** Exact connected components of the page-transition graph
    * ([[graft.operators.Dedup.dupClusters]] — min-label propagation with
    * pointer jumping, run to its fixed point, no data-sized window):
    * which page sets are mutually reachable at all — the coarsest
    * structure under `events_labelprop`'s density communities, and the
    * same fixed point the doc-dedup clustering machinery computes, here
    * certified on a graph the oracle can close transitively with a
    * recursive CTE. Component id = min page id; isolated/self-loop-only
    * pages have no edge and are absent by contract (both engines).
    */
  private val components = Q(
    "events_components",
    s"""WITH RECURSIVE ev AS (SELECT user_id, ts, event_id,
       |                  CAST(json_extract_string(props, '$$.k') AS BIGINT) AS k
       |           FROM events),
       |tr AS (SELECT lag(k) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS src,
       |              k AS dst
       |       FROM ev),
       |p AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
       |      FROM tr
       |      WHERE src IS NOT NULL AND dst IS NOT NULL AND src <> dst),
       |edges AS (SELECT a AS src, b AS dst FROM p UNION SELECT b, a FROM p),
       |reach AS (SELECT src, dst FROM edges
       |          UNION SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
       |cl AS (SELECT src AS node, CAST(least(src, min(dst)) AS BIGINT) AS component
       |       FROM reach GROUP BY 1),
       |cs AS (SELECT component, $C AS csize FROM cl GROUP BY 1)
       |SELECT cl.node, cl.component, cs.csize
       |FROM cl JOIN cs ON cs.component = cl.component""".stripMargin) { (s, d) =>
    val und = graft.operators.Triangles.undirected(pageTransitions(s, d))
    val lbl = graft.operators.Dedup.dupClusters(
      und.select(col("u").as("doc_a"), col("v").as("doc_b")))
      .select(col("doc_id").as("node"), col("cluster").as("component"))
    val cs = lbl.groupBy(col("component")).agg(lcount().as("csize"))
    lbl.join(cs, Seq("component"))
      .select(col("node"), col("component"), col("csize"))
  }

  /** 3-round k-core peel of the page-transition graph at k = 3
    * ([[graft.operators.Triangles.kcorePeel]]): which pages sit in a
    * dense mutually-linked core after repeatedly shedding degree-< 3
    * fringe — the dense-subgraph screen (spam-farm / hub-cluster
    * detection) next to `events_triangles`' per-node density. The
    * oracle unrolls the three degree-filter rounds as CTEs, so the hash
    * match certifies every intermediate edge set.
    */
  private val kcore = {
    val (k, rounds) = (3, 3)
    def round(i: Int): String =
      s"""d$i AS (SELECT node, CAST(count(*) AS BIGINT) AS deg
         |      FROM (SELECT u AS node FROM e${i - 1}
         |            UNION ALL SELECT v FROM e${i - 1})
         |      GROUP BY 1),
         |e$i AS (SELECT u, v FROM e${i - 1}
         |      JOIN d$i a ON a.node = u JOIN d$i b ON b.node = v
         |      WHERE a.deg >= $k AND b.deg >= $k)""".stripMargin
    Q(
      "events_kcore",
      s"""WITH ev AS (SELECT user_id, ts, event_id,
         |                  CAST(json_extract_string(props, '$$.k') AS BIGINT) AS k
         |           FROM events),
         |tr AS (SELECT lag(k) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS src,
         |              k AS dst
         |       FROM ev),
         |e0 AS (SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
         |      FROM tr
         |      WHERE src IS NOT NULL AND dst IS NOT NULL AND src <> dst),
         |${(1 to rounds).map(round).mkString(",\n")}
         |SELECT node, CAST(count(*) AS BIGINT) AS deg
         |FROM (SELECT u AS node FROM e$rounds UNION ALL SELECT v FROM e$rounds)
         |GROUP BY 1""".stripMargin) { (s, d) =>
      graft.operators.Triangles.kcorePeel(pageTransitions(s, d), k, rounds)
    }
  }

  /** Mann–Kendall monotone-trend test of hourly event volume
    * ([[graft.operators.Stats.mannKendall]]): is the feed drifting at
    * all — the significance twin of `events_theilsen`'s slope (S and
    * the tie-corrected variance are exact integers; z is one pinned
    * continuity-corrected sequence). The pair set is calendar-bounded.
    */
  private val mannKendallQ = Q(
    "events_mann_kendall",
    """WITH per AS (SELECT CAST(date_trunc('hour', CAST(ts AS TIMESTAMP)) AS TIMESTAMP) AS h,
      |                   CAST(count(*) AS BIGINT) AS n
      |            FROM events WHERE ts IS NOT NULL GROUP BY 1),
      |p AS (SELECT CASE WHEN b.n > a.n THEN 1 WHEN b.n < a.n THEN -1 ELSE 0 END AS sg
      |      FROM per a JOIN per b ON b.h > a.h),
      |sa AS (SELECT CAST(COALESCE(SUM(sg), 0) AS BIGINT) AS s FROM p),
      |nt AS (SELECT CAST(count(*) AS BIGINT) AS n_times FROM per),
      |tg AS (SELECT CAST(COALESCE(SUM(CAST(t AS HUGEINT) * (t - 1) * (2 * t + 5)), 0) AS HUGEINT) AS tsum
      |       FROM (SELECT CAST(count(*) AS BIGINT) AS t FROM per GROUP BY n)),
      |v AS (SELECT n_times, s,
      |             CAST(CAST(n_times AS HUGEINT) * (n_times - 1) * (2 * n_times + 5)
      |                  - tsum AS BIGINT) AS var18
      |      FROM sa CROSS JOIN nt CROSS JOIN tg)
      |SELECT n_times, s, var18,
      |       CASE WHEN var18 > 0 THEN round(
      |         CAST(s - (CASE WHEN s > 0 THEN 1 WHEN s < 0 THEN -1 ELSE 0 END) AS DOUBLE)
      |           / sqrt(CAST(var18 AS DOUBLE) / 18.0), 12) END AS z
      |FROM v""".stripMargin) { (s, d) =>
    graft.operators.Stats.mannKendall(
      Tables.events(s, d),
      date_trunc("hour", col("ts")).cast("timestamp_ntz"))
  }

  /** Degree-mixing profile of the page-transition graph
    * ([[graft.operators.Triangles.degreeAssortativity]]): one pinned
    * Pearson r over endpoint degrees — positive means hubs link to hubs,
    * negative means hub-and-spoke (the spam-farm topology signature).
    * Exact DECIMAL(38,0) sufficient statistics; the oracle replays the
    * identical double sequence.
    *
    * Shared with `c36_stream_assortativity`: the stream-maintained
    * transition-count store's edge set derives the SAME undirected
    * graph, so its readout certifies against this SAME oracle string —
    * maintained graph analytics ≡ one-shot.
    */
  private[queries] val assortativityOracleSql: String =
    s"""WITH ev AS (SELECT user_id, ts, event_id,
       |                  CAST(json_extract_string(props, '$$.k') AS BIGINT) AS k
       |           FROM events),
       |tr AS (SELECT lag(k) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS src,
       |              k AS dst
       |       FROM ev),
       |p AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
       |      FROM tr
       |      WHERE src IS NOT NULL AND dst IS NOT NULL AND src <> dst),
       |deg AS (SELECT node, CAST(count(*) AS BIGINT) AS deg
       |        FROM (SELECT a AS node FROM p UNION ALL SELECT b FROM p)
       |        GROUP BY 1),
       |e AS (SELECT da.deg AS x, db.deg AS y
       |      FROM p JOIN deg da ON da.node = p.a JOIN deg db ON db.node = p.b
       |      UNION ALL
       |      SELECT db.deg, da.deg
       |      FROM p JOIN deg da ON da.node = p.a JOIN deg db ON db.node = p.b),
       |st AS (SELECT CAST(count(*) AS BIGINT) AS n,
       |              CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
       |              CAST(SUM(CAST(x AS HUGEINT) * y) AS DECIMAL(38,0)) AS sxy,
       |              CAST(SUM(CAST(x AS HUGEINT) * x) AS DECIMAL(38,0)) AS sxx,
       |              CAST(SUM(CAST(y AS HUGEINT) * y) AS DECIMAL(38,0)) AS syy
       |       FROM e)
       |SELECT n,
       |       CASE WHEN CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0
       |             AND CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) > 0
       |            THEN round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
       |                 / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
       |                    * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 12)
       |       END AS r
       |FROM st""".stripMargin

  private val assortativity = Q(
    "events_assortativity", assortativityOracleSql) { (s, d) =>
    graft.operators.Triangles.degreeAssortativity(pageTransitions(s, d))
  }

  /** First-order Markov next-page model: the empirical transition
    * probability P(dst | src) = c(src,dst)/c(src) over the per-user
    * event stream, plus each page's argmax next page — the sequence
    * model a recommender or prefetcher estimates. One grouped count on
    * (src, dst), the per-src total by a second rollup of THAT (node-
    * cardinality) frame — the raw stream is touched once; the argmax is
    * two rollups of the EDGE-cardinality frame (max count per src, then
    * lowest dst among max-count rows — no assumptions about the dst
    * domain), and a row is the argmax iff it matches both. Probabilities
    * are one pinned double division.
    *
    * Shared with `c33_stream_markov`: the maintained transition-count
    * store reads out through [[markovFromCounts]] and certifies against
    * this SAME oracle string — maintained model ≡ one-shot model.
    */
  private[queries] val markovOracleSql: String =
    s"""WITH ev AS (SELECT user_id, ts, event_id,
       |                  CAST(json_extract_string(props, '$$.k') AS BIGINT) AS k
       |           FROM events),
       |tr AS (SELECT lag(k) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS src,
       |              k AS dst
       |       FROM ev),
       |c AS (SELECT src, dst, $C AS n FROM tr WHERE src IS NOT NULL GROUP BY 1, 2),
       |t AS (SELECT src, CAST(SUM(n) AS BIGINT) AS total,
       |             CAST(MAX(n) AS BIGINT) AS maxn
       |      FROM c GROUP BY 1),
       |b AS (SELECT c.src, CAST(MIN(c.dst) AS BIGINT) AS bdst
       |      FROM c JOIN t ON t.src = c.src AND c.n = t.maxn
       |      GROUP BY 1)
       |SELECT c.src, c.dst, c.n, t.total,
       |       CAST(c.n AS DOUBLE) / CAST(t.total AS DOUBLE) AS p,
       |       c.n = t.maxn AND c.dst = b.bdst AS is_best
       |FROM c JOIN t ON t.src = c.src JOIN b ON b.src = c.src""".stripMargin

  /** The model tail over a (src, dst, n) transition-count frame —
    * shared by the one-shot query and the streaming maintainer readout.
    */
  private[queries] def markovFromCounts(c: DataFrame): DataFrame = {
    val t = c.groupBy(col("src")).agg(
      sum(col("n")).cast(LongType).as("total"),
      max(col("n")).cast(LongType).as("maxn"))
    val b = c.join(t, Seq("src"))
      .filter(col("n") === col("maxn"))
      .groupBy(col("src")).agg(min(col("dst")).cast(LongType).as("bdst"))
    c.join(t, Seq("src")).join(b, Seq("src"))
      .select(col("src"), col("dst"), col("n"), col("total"),
        (col("n").cast("double") / col("total").cast("double")).as("p"),
        (col("n") === col("maxn") && col("dst") === col("bdst")).as("is_best"))
  }

  private val markov = Q("events_markov_next", markovOracleSql) { (s, d) =>
    markovFromCounts(pageTransitions(s, d)
      .groupBy(col("src"), col("dst")).agg(lcount().as("n")))
  }

  /** Per-day distinct-user estimation from GROUPED HyperLogLog sketches
    * (m = 16 registers per day, ~134 true distincts/day — the n ≳ 2.5m
    * raw-estimator regime): the registers ride the day into one grouped
    * map-side-partial aggregate, ≤ 16 rows per day ever reach the
    * shuffle — the per-group form of the sketch a 100 TB pipeline keeps
    * per (day × source × shard) where exact COUNT(DISTINCT) per group
    * would shuffle every key. Register maxima, the integer harmonic sum,
    * and the pinned-double estimate are bit-replayed by the oracle; the
    * exact per-day distinct count rides along as the error reference.
    */
  private val dailyDistinct = Q(
    "events_daily_distinct",
    s"""WITH ev AS (SELECT CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS TIMESTAMP) AS day,
       |                  user_id
       |           FROM events),
       |h AS (SELECT day, CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
       |      FROM ev),
       |r AS (SELECT day, h % 16 AS register, CAST(h // 16 AS BIGINT) AS w FROM h),
       |rho AS (SELECT day, register,
       |          CASE WHEN w = 0 THEN 57 ELSE strpos(lpad(bin(w), 56, '0'), '1') END AS rho
       |        FROM r),
       |reg AS (SELECT day, register, CAST(max(rho) AS BIGINT) AS m_rho
       |        FROM rho GROUP BY 1, 2),
       |agg AS (SELECT day, $C AS n_present,
       |               CAST(SUM(CAST(1 AS BIGINT) << CAST(57 - m_rho AS INT)) AS BIGINT) AS s_present
       |        FROM reg GROUP BY 1),
       |ex AS (SELECT day, CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users
       |       FROM ev GROUP BY 1)
       |SELECT agg.day, CAST(16 AS BIGINT) AS m,
       |       CAST(16 - n_present AS BIGINT) AS n_zero,
       |       CAST(s_present + (16 - n_present) * 144115188075855872 AS BIGINT) AS s_inv,
       |       CAST(0.7213 AS DOUBLE) / (CAST(1.0 AS DOUBLE) + CAST(1.079 AS DOUBLE) / CAST(16.0 AS DOUBLE))
       |         * CAST(256.0 AS DOUBLE) * CAST(144115188075855872.0 AS DOUBLE)
       |         / CAST(s_inv AS DOUBLE) AS raw_est,
       |       exact_users
       |FROM agg JOIN ex ON ex.day = agg.day""".stripMargin) { (s, d) =>
    val ev = Tables.events(s, d).select(
      date_trunc("day", col("ts")).cast("timestamp_ntz").as("day"),
      col("user_id"))
    val est = graft.operators.Sketches.hllEstimateBy(
      graft.operators.Sketches.hllRegistersBy(ev, "user_id", Seq("day"), b = 4),
      Seq("day"), b = 4)
    val exact = ev.groupBy(col("day"))
      .agg(countDistinct(col("user_id")).cast(LongType).as("exact_users"))
    est.join(exact, Seq("day"))
  }

  /** Seasonality diagnosis: Pearson autocorrelation of the hourly event
    * count series at lag 1 (momentum) and lag 24 (daily cycle). The
    * series is the HOUR-cardinality aggregate, not the event stream —
    * the lag pairing is an equi-join on the shifted hour index (shuffles
    * ~hours rows, scales), and every Pearson term (n, Σx, Σy, Σxy, Σx²,
    * Σy²) is an exact BIGINT sum, so the only float ops are the final
    * pinned numerator/denominator division (sqrt is correctly-rounded
    * IEEE in both engines). The hour index is `unix_micros DIV 3600e6`
    * — the epoch_us idiom `events_correlate` already certifies.
    */
  private val seasonality = Q(
    "events_seasonality",
    s"""WITH h AS (SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000 AS idx,
       |                  $C AS c
       |           FROM events GROUP BY 1),
       |l AS (SELECT CAST(t.lag AS BIGINT) AS lag FROM (SELECT unnest([1, 24]) AS lag) t),
       |p AS (SELECT l.lag, x.c AS cx, y.c AS cy
       |      FROM l JOIN h x ON true JOIN h y ON y.idx = x.idx + l.lag),
       |s AS (SELECT lag, $C AS n,
       |             CAST(SUM(cx) AS BIGINT) AS sx, CAST(SUM(cy) AS BIGINT) AS sy,
       |             CAST(SUM(cx * cy) AS BIGINT) AS sxy,
       |             CAST(SUM(cx * cx) AS BIGINT) AS sxx,
       |             CAST(SUM(cy * cy) AS BIGINT) AS syy
       |      FROM p GROUP BY 1)
       |SELECT lag, n, sx, sy, sxy,
       |       CAST(n * sxy - sx * sy AS DOUBLE)
       |         / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
       |            * sqrt(CAST(n * syy - sy * sy AS DOUBLE))) AS r
       |FROM s""".stripMargin) { (s, d) =>
    val hours = Tables.events(s, d)
      .select(expr("unix_micros(ts) div 3600000000")
        .cast(LongType).as("idx"))
      .groupBy(col("idx")).agg(lcount().as("c"))
    val x = hours.select(col("idx"), col("c").as("cx"),
      explode(array(lit(1L), lit(24L))).as("lag"))
    val y = hours.select(col("idx").as("yidx"), col("c").as("cy"))
    val sums = x.join(y, col("yidx") === col("idx") + col("lag"))
      .groupBy(col("lag"))
      .agg(lcount().as("n"),
        sum(col("cx")).cast(LongType).as("sx"),
        sum(col("cy")).cast(LongType).as("sy"),
        sum(col("cx") * col("cy")).cast(LongType).as("sxy"),
        sum(col("cx") * col("cx")).cast(LongType).as("sxx"),
        sum(col("cy") * col("cy")).cast(LongType).as("syy"))
    sums.select(col("lag"), col("n"), col("sx"), col("sy"), col("sxy"),
      ((col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
        (sqrt((col("n") * col("sxx") - col("sx") * col("sx")).cast("double")) *
          sqrt((col("n") * col("syy") - col("sy") * col("sy")).cast("double"))))
        .as("r"))
  }

  /** A/B experiment readout: users split 50/50 by a deterministic md5
    * arm assignment (the same portable hash family every split here
    * uses), conversion = "ever made a purchase above 150" (plain
    * "ever purchased" saturates at 100% on every SF — zero pooled
    * variance, NaN z), and the two-proportion pooled z-statistic
    * decides significance. Counts are exact integers from ONE grouped
    * pass over users; the z formula is a single pinned left-to-right
    * double expression (sqrt is correctly-rounded IEEE), mirrored
    * token-for-token in the oracle.
    */
  /** WHEN did hourly event volume shift ([[graft.operators.Stats
    * .cusumChangepoint]]): the exact CUSUM mean-shift argmax over the
    * hourly counting process — prefix sums and ranks from one
    * distributed sweep, the |H·prefix − t·T| deviation as an exact
    * integer lattice, ties to the earliest hour, one pinned readout.
    * `qa_drift`/`qa_ks_test` gate WHETHER the feed moved; this locates
    * the hour to bisect a deploy against.
    *
    * Shared with `c34_stream_changepoint`: the maintained per-hour count
    * store reads out through the same CUSUM lattice and certifies
    * against this SAME oracle string — maintained shift monitor ≡
    * one-shot changepoint.
    */
  private[queries] val changepointOracleSql: String =
    """WITH ev AS (SELECT CAST(date_trunc('hour', CAST(ts AS TIMESTAMP)) AS TIMESTAMP) AS h
      |            FROM events WHERE ts IS NOT NULL),
      |per AS (SELECT h, CAST(count(*) AS BIGINT) AS n FROM ev GROUP BY 1),
      |cum AS (SELECT h, SUM(n) OVER (ORDER BY h) AS pre,
      |               row_number() OVER (ORDER BY h) AS t
      |        FROM per),
      |tot AS (SELECT CAST(SUM(n) AS BIGINT) AS total,
      |               CAST(count(*) AS BIGINT) AS n_times
      |        FROM per),
      |dev AS (SELECT h, CAST(t AS BIGINT) AS t, n_times, total,
      |               abs(CAST(n_times AS HUGEINT) * pre
      |                   - CAST(t AS HUGEINT) * total) AS dev_scaled
      |        FROM cum CROSS JOIN tot WHERE t < n_times)
      |SELECT h AS cp_time, t, n_times, total,
      |       CAST((dev_scaled * 1000000000000)
      |            // (CAST(n_times AS HUGEINT) * total) AS BIGINT) AS cusum_e12,
      |       round(CAST(dev_scaled AS DOUBLE)
      |             / (CAST(n_times AS DOUBLE) * CAST(total AS DOUBLE)), 12) AS cusum
      |FROM dev ORDER BY dev_scaled DESC, h LIMIT 1""".stripMargin

  private val changepoint = Q(
    "events_changepoint", changepointOracleSql) { (s, d) =>
    graft.operators.Stats.cusumChangepoint(
      Tables.events(s, d),
      date_trunc("hour", col("ts")).cast("timestamp_ntz"))
  }

  /** Robust daily-volume trend ([[graft.operators.Stats.theilSen]]):
    * the median of all pairwise day-to-day slopes — a single corrupt
    * day cannot drag it the way it drags `a15_regression_trend`'s OLS
    * line. Every slope is the exact floored ⌊Δy·10¹²/Δx⌋ lattice and
    * the median is the exact distributed rank selection, so the trend
    * is certifiable bit for bit; the pair set is (days)², bounded by
    * calendar time, not data volume.
    */
  private val theilsen = Q(
    "events_theilsen",
    """WITH per AS (SELECT date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS x,
      |                   CAST(count(*) AS BIGINT) AS y
      |            FROM events WHERE ts IS NOT NULL GROUP BY 1),
      |p AS (SELECT CAST(b.y - a.y AS BIGINT) AS dy, CAST(b.x - a.x AS BIGINT) AS dx
      |      FROM per a JOIN per b ON b.x > a.x),
      |f AS (SELECT dy, dx, ((dy % dx) + dx) % dx AS r FROM p),
      |sl AS (SELECT CAST(CAST((dy - r) // dx AS HUGEINT) * 1000000000000
      |                   + (CAST(r AS HUGEINT) * 1000000000000) // dx
      |                   AS DECIMAL(38,0)) AS slope_scaled
      |       FROM f),
      |r AS (SELECT slope_scaled, row_number() OVER (ORDER BY slope_scaled) AS rn,
      |             count(*) OVER () AS m
      |      FROM sl)
      |SELECT CAST(m AS BIGINT) AS n_pairs,
      |       round(CAST(slope_scaled AS DOUBLE) / 1000000000000.0, 12) AS slope
      |FROM r WHERE rn = GREATEST(1, CAST(ceil(0.5 * m) AS BIGINT))""".stripMargin) {
    (s, d) =>
      graft.operators.Stats.theilSen(
        Tables.events(s, d)
          .groupBy(datediff(to_date(col("ts")), lit("1970-01-01")).as("x"))
          .agg(lcount().as("y")),
        col("x"), col("y"))
  }

  private val abTest = Q(
    "events_ab_test",
    s"""WITH u AS (SELECT user_id,
       |                  CAST(('0x' || substr(md5('ab|' || CAST(user_id AS VARCHAR)), 1, 13)) AS BIGINT) % 2 AS arm,
       |                  MAX(CASE WHEN event_type = 'purchase' AND value > CAST(150 AS DOUBLE) THEN 1 ELSE 0 END) AS conv
       |           FROM events GROUP BY 1, 2),
       |c AS (SELECT
       |        CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
       |        CAST(SUM(CASE WHEN arm = 0 THEN conv ELSE 0 END) AS BIGINT) AS conv_a,
       |        CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
       |        CAST(SUM(CASE WHEN arm = 1 THEN conv ELSE 0 END) AS BIGINT) AS conv_b
       |      FROM u)
       |SELECT n_a, conv_a, n_b, conv_b,
       |       (CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE)
       |          - CAST(conv_b AS DOUBLE) / CAST(n_b AS DOUBLE))
       |         / sqrt(CAST(conv_a + conv_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE)
       |                * (CAST(1.0 AS DOUBLE) - CAST(conv_a + conv_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE))
       |                * (CAST(1.0 AS DOUBLE) / CAST(n_a AS DOUBLE)
       |                   + CAST(1.0 AS DOUBLE) / CAST(n_b AS DOUBLE))) AS z
       |FROM c""".stripMargin) { (s, d) =>
    val u = Tables.events(s, d)
      .groupBy(col("user_id"))
      .agg(max(when(col("event_type") === "purchase" && col("value") > lit(150).cast("double"), 1)
        .otherwise(0)).as("conv"))
      .withColumn("arm", pmod(graft.operators.Sketches.hash52(
        concat(lit("ab|"), col("user_id").cast("string"))), lit(2L)))
    val c = u.agg(
      sum(when(col("arm") === 0, 1).otherwise(0)).cast(LongType).as("n_a"),
      sum(when(col("arm") === 0, col("conv")).otherwise(0)).cast(LongType).as("conv_a"),
      sum(when(col("arm") === 1, 1).otherwise(0)).cast(LongType).as("n_b"),
      sum(when(col("arm") === 1, col("conv")).otherwise(0)).cast(LongType).as("conv_b"))
    val pp = (col("conv_a") + col("conv_b")).cast("double") /
      (col("n_a") + col("n_b")).cast("double")
    // z is undefined when an arm is empty or conversion is degenerate
    // (p = 0 or 1 makes the pooled variance 0): NULL, not an ANSI
    // divide-by-zero abort — CaseWhen evaluates only the taken branch,
    // so the divisions never run on a degenerate readout
    val defined = col("n_a") > 0 && col("n_b") > 0 &&
      (col("conv_a") + col("conv_b")) > 0 &&
      (col("conv_a") + col("conv_b")) < (col("n_a") + col("n_b"))
    c.select(col("n_a"), col("conv_a"), col("n_b"), col("conv_b"),
      when(defined,
        (col("conv_a").cast("double") / col("n_a").cast("double") -
          col("conv_b").cast("double") / col("n_b").cast("double")) /
          sqrt(pp * (lit(1.0) - pp) *
            (lit(1.0) / col("n_a").cast("double") +
              lit(1.0) / col("n_b").cast("double")))).as("z"))
  }

  /** Ordered funnel analysis (signup → first click → first purchase per
    * user): one grouped aggregate computes each user's stage timestamps
    * via conditional mins, one single-row aggregate counts stage
    * survivors — no joins, no windows, one shuffle. NULL stage
    * comparisons fall to the ELSE branch identically in both engines.
    */
  /** Shared with `c30_stream_funnel`: the maintained first-touch store's
    * readout must hash-match this same one-shot aggregate — one oracle
    * string certifying both faces (the aucOracleSql pattern).
    */
  private[queries] val funnelOracleSql: String =
    s"""WITH m AS (SELECT user_id,
       |  min(CASE WHEN event_type = 'signup' THEN CAST(ts AS TIMESTAMP) END) AS t_signup,
       |  min(CASE WHEN event_type = 'click' THEN CAST(ts AS TIMESTAMP) END) AS t_click,
       |  min(CASE WHEN event_type = 'purchase' THEN CAST(ts AS TIMESTAMP) END) AS t_purchase
       |  FROM events GROUP BY 1)
       |SELECT $C AS n_users,
       |  CAST(SUM(CASE WHEN t_signup IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_signup,
       |  CAST(SUM(CASE WHEN t_click > t_signup THEN 1 ELSE 0 END) AS BIGINT) AS n_click_after,
       |  CAST(SUM(CASE WHEN t_click > t_signup AND t_purchase > t_click THEN 1 ELSE 0 END) AS BIGINT) AS n_full_funnel
       |FROM m""".stripMargin

  private val funnel = Q("events_funnel", funnelOracleSql) { (s, d) =>
    Tables.events(s, d)
      .groupBy(col("user_id"))
      .agg(
        min(when(col("event_type") === "signup", col("ts"))).as("t_signup"),
        min(when(col("event_type") === "click", col("ts"))).as("t_click"),
        min(when(col("event_type") === "purchase", col("ts"))).as("t_purchase"))
      .agg(
        lcount().as("n_users"),
        sum(when(col("t_signup").isNotNull, 1).otherwise(0)).cast(LongType)
          .as("n_signup"),
        sum(when(col("t_click") > col("t_signup"), 1).otherwise(0)).cast(LongType)
          .as("n_click_after"),
        sum(when(col("t_click") > col("t_signup") &&
          col("t_purchase") > col("t_click"), 1).otherwise(0)).cast(LongType)
          .as("n_full_funnel"))
  }

  /** Cohort retention: users grouped by first-active day, counted per
    * week-offset of later activity — the third of the classic event
    * analytics trio (funnel, sessions, retention). Two aggregates and
    * one self-join on user_id; day arithmetic is integer division,
    * identical in both engines.
    */
  private val retention = Q(
    "events_retention",
    s"""WITH a AS (SELECT DISTINCT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d
       |           FROM events),
       |c AS (SELECT user_id, min(d) AS c0 FROM a GROUP BY 1)
       |SELECT c0 AS cohort_day,
       |       CAST((d - c0) // 7 AS BIGINT) AS week_off,
       |       CAST(count(DISTINCT a.user_id) AS BIGINT) AS active
       |FROM a JOIN c ON a.user_id = c.user_id
       |GROUP BY 1, 2""".stripMargin) { (s, d) =>
    val a = Tables.events(s, d)
      .select(col("user_id"), col("ts").cast("date").as("d")).distinct()
    val c = a.groupBy(col("user_id")).agg(min(col("d")).as("c0"))
    a.join(c, Seq("user_id"))
      .groupBy(
        col("c0").as("cohort_day"),
        expr("CAST(datediff(d, c0) div 7 AS BIGINT)").as("week_off"))
      .agg(countDistinct(col("user_id")).cast(LongType).as("active"))
  }

  /** Top-3 users per event type via [[graft.plans.TopKPairs.perGroup]]
    * against a `row_number` window oracle — the direct CORRECTNESS row
    * for the per-group top-k itself (elsewhere it runs inside the
    * similarity rankers).
    */
  private val topUsers = Q(
    "events_top_users",
    s"""WITH c AS (SELECT event_type, user_id, $C AS n FROM events GROUP BY 1, 2),
       |r AS (SELECT event_type, user_id, n,
       |             CAST(row_number() OVER (PARTITION BY event_type
       |                    ORDER BY n DESC, user_id) AS BIGINT) AS rnk
       |      FROM c)
       |SELECT event_type, user_id, n, rnk FROM r WHERE rnk <= 3""".stripMargin) { (s, d) =>
    val counts = Tables.events(s, d)
      .groupBy(col("event_type"), col("user_id"))
      .agg(lcount().as("n"))
    TopKPairs.perGroup(counts, col("event_type"), col("n").cast("double"),
        col("user_id"), 3)
      .select(col("event_type"), col("id").as("user_id"),
        col("score").cast(LongType).as("n"), col("rank").as("rnk"))
  }

  /** RFM segmentation over orders: per-customer recency/frequency/
    * monetary rollup, bucketed and re-aggregated — one shuffle per
    * aggregate, monetary sums in exact decimal so bucket boundaries
    * can't drift between engines.
    */
  private val rfm = Q(
    "dm_rfm_segments",
    s"""WITH per_cust AS (SELECT o_custkey,
       |    max(CAST(o_orderdate AS DATE)) AS last_d,
       |    $C AS freq,
       |    ${DS("o_totalprice")} AS monetary
       |  FROM orders GROUP BY 1)
       |SELECT CASE WHEN freq >= 12 THEN 'high' WHEN freq >= 6 THEN 'mid' ELSE 'low' END AS f_bucket,
       |       CASE WHEN monetary >= 1500000 THEN 'high'
       |            WHEN monetary >= 750000 THEN 'mid' ELSE 'low' END AS m_bucket,
       |       $C AS n_customers,
       |       CAST(max(last_d) AS DATE) AS latest_order,
       |       CAST(round(SUM(CAST(monetary AS DECIMAL(18,4))), 2) AS DOUBLE) AS total_monetary
       |FROM per_cust GROUP BY 1, 2""".stripMargin) { (s, d) =>
    val per = oF(s, d)
      .groupBy(col("o_custkey"))
      .agg(
        max(col("o_orderdate").cast("date")).as("last_d"),
        lcount().as("freq"),
        dsum(col("o_totalprice")).as("monetary"))
    per
      .groupBy(
        when(col("freq") >= 12, "high").when(col("freq") >= 6, "mid")
          .otherwise("low").as("f_bucket"),
        when(col("monetary") >= 1500000, "high")
          .when(col("monetary") >= 750000, "mid").otherwise("low").as("m_bucket"))
      .agg(
        lcount().as("n_customers"),
        max(col("last_d")).as("latest_order"),
        dsumRound2(col("monetary")).as("total_monetary"))
  }

  /** Skew-mitigated equi-join (graft.operators.Skew.saltedJoin): the
    * build side is replicated once per salt and the join key widens to
    * (key, salt), so a pathologically hot orderkey spreads over 8 tasks
    * instead of one. The oracle is the PLAIN join — salting must be
    * invisible in the result.
    */
  private val j11 = Q(
    "j11_salted_join",
    s"""SELECT o_orderstatus AS status, $C AS n,
       |       ${DS2("l_extendedprice * (1 - l_discount)")} AS revenue
       |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |GROUP BY 1""".stripMargin) { (s, d) =>
    graft.operators.Skew.saltedJoin(
        lF(s, d).select(col("l_orderkey"), col("l_extendedprice"), col("l_discount")),
        oF(s, d).select(col("o_orderkey").as("l_orderkey"), col("o_orderstatus")),
        Seq("l_orderkey"), saltFactor = 8)
      .groupBy(col("o_orderstatus").as("status"))
      .agg(lcount().as("n"), dsumRound2(revenueExpr).as("revenue"))
  }

  /** Shuffle-free co-located big⋈big join over BUCKETED tables
    * ([[graft.sources.Bucketed]]): lineitem and orders are standing
    * bucketed layout (16 hash buckets on the order key, written once per
    * session/dir — the warehouse shape where the shuffle is paid at
    * write time and amortized over every join), and the merge-hinted
    * join consumes both scans' `HashPartitioning` directly — NO exchange
    * on either side; the only shuffle in the plan is the final 5-row
    * priority aggregate (PlanSpec pins this). The salted j11 is the
    * answer when a big join must shuffle; this is the answer when it
    * runs often enough to not shuffle at all. The oracle is the plain
    * join — bucketing must be invisible in the result.
    */
  private val j15 = Q(
    "j15_bucketed_join",
    s"""SELECT o_orderpriority AS priority, $C AS n,
       |       ${DS2("l_extendedprice * (1 - l_discount)")} AS revenue
       |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |GROUP BY 1""".stripMargin) { (s, d) =>
    bucketedJoin(s, d)
      .groupBy(col("o_orderpriority").as("priority"))
      .agg(lcount().as("n"), dsumRound2(revenueExpr).as("revenue"))
  }

  /** Force-write the standing bucketed layout for `d` (Bench's untimed
    * warmup calls this for the timed dir — the write-time shuffle is the
    * layout's one-off cost, not the join's).
    */
  def prewarmBucketed(s: SparkSession, d: String): Unit = { bucketedJoin(s, d); () }

  /** The bucketed-scan join itself, exposed so PlanSpec can assert the
    * exchange-free shape on the JOIN plan.
    */
  private[graft] def bucketedJoin(s: SparkSession, d: String): DataFrame = {
    val li = graft.sources.Bucketed.table(s, s"li16:$d", 16, "l_orderkey") {
      lF(s, d).select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
    }
    val ord = graft.sources.Bucketed.table(s, s"ord16:$d", 16, "o_orderkey") {
      oF(s, d).select(col("o_orderkey"), col("o_orderpriority"))
    }
    // merge hint: at test SF the orders side fits a broadcast, which
    // would ALSO be shuffle-free but wouldn't demonstrate the co-located
    // layout the query exists to pin (at 100 TB neither side broadcasts)
    s.table(li).hint("merge")
      .join(s.table(ord), col("l_orderkey") === col("o_orderkey"))
  }

  /** Gap-based sessionization (batch plan of graft.streaming.Sessionize;
    * the flatMapGroupsWithState variant is equivalence-tested in
    * SessionizeSpec). 30-minute gap.
    */
  private val sess = Q(
    "events_sessions",
    s"""WITH e AS (SELECT user_id, event_id,
       |                  CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) AS ts_s
       |           FROM events),
       |f AS (SELECT user_id, ts_s, event_id,
       |             CASE WHEN lag(ts_s) OVER w IS NULL
       |                    OR ts_s - lag(ts_s) OVER w > 1800
       |                  THEN 1 ELSE 0 END AS is_new
       |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_s, event_id)),
       |g AS (SELECT user_id, ts_s,
       |             SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts_s, event_id
       |                               ROWS UNBOUNDED PRECEDING) AS session_idx
       |      FROM f)
       |SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
       |       min(ts_s) AS start_s, max(ts_s) AS end_s, $C AS n
       |FROM g GROUP BY 1, 2""".stripMargin) { (s, d) =>
    graft.streaming.Sessionize.batchSessions(Tables.events(s, d), 1800L)
  }

  /** J2-family range (point-in-interval) join via the bucketed rewrite
    * ([[graft.operators.RangeJoin]]): orders against derived campaign
    * windows. The naive non-equi formulation (the oracle's literal shape)
    * plans a nested-loop join; the rewrite runs it as a hash equi-join on
    * a month bucket + residual filter — the shape that survives two large
    * sides. Campaign 2's window is deliberately degenerate (end = start):
    * it must match nothing, not throw.
    */
  private val j12 = Q(
    "j12_range_campaign",
    s"""WITH iv AS (
       |  SELECT r_regionkey AS campaign_id,
       |         CAST(DATE '1995-01-01' + INTERVAL (r_regionkey * 6) MONTH AS DATE) AS start_dt,
       |         CAST(DATE '1995-01-01' + INTERVAL (r_regionkey * 6 +
       |              CASE WHEN r_regionkey = 2 THEN 0 ELSE 4 END) MONTH AS DATE) AS end_dt
       |  FROM region)
       |SELECT campaign_id, $C AS n_orders, ${DS("o_totalprice")} AS revenue
       |FROM orders JOIN iv
       |  ON CAST(o_orderdate AS DATE) >= start_dt AND CAST(o_orderdate AS DATE) < end_dt
       |GROUP BY 1""".stripMargin) { (s, d) =>
    val base = lit("1995-01-01").cast("date")
    val iv = rF(s, d).select(
      col("r_regionkey").as("campaign_id"),
      add_months(base, col("r_regionkey") * 6).as("start_dt"),
      add_months(base,
        col("r_regionkey") * 6 +
          when(col("r_regionkey") === 2, 0).otherwise(4)).as("end_dt"))
    val pts = oF(s, d)
      .select(col("o_orderdate").cast("date").as("order_dt"), col("o_totalprice"))
    graft.operators.RangeJoin.pointInInterval(pts, "order_dt", iv, "start_dt", "end_dt", "month")
      .groupBy(col("campaign_id"))
      .agg(lcount().as("n_orders"), dsum(col("o_totalprice")).as("revenue"))
  }

  /** O2/W-family — "which employee generated the most sales each year?"
    * (the reference's stated business question, Business_Template.docx;
    * view surface bl_dm.sql:288-300): per-year revenue by the SPLIT_PART-
    * rebuilt employee name, top earner per year via window rank — the
    * employee-entity analog of [[w1]].
    */
  private val w5 = Q(
    "w5_top_employee_per_year",
    s"""WITH rev AS (SELECT CAST(year(CAST(o_orderdate AS DATE)) AS BIGINT) AS yr,
       |                    split_part(s_name, '#', 1) || ' ' || split_part(s_name, '#', 2) AS employee_name,
       |                    ${DS2("l_extendedprice * (1 - l_discount)")} AS revenue
       |             FROM lineitem
       |             JOIN orders   ON l_orderkey = o_orderkey
       |             JOIN supplier ON l_suppkey = s_suppkey
       |             GROUP BY 1, 2)
       |SELECT yr, employee_name, revenue
       |FROM (SELECT yr, employee_name, revenue,
       |             row_number() OVER (PARTITION BY yr ORDER BY revenue DESC, employee_name) AS rn
       |      FROM rev)
       |WHERE rn = 1""".stripMargin) { (s, d) =>
    // the group keys are functions of the DIM sides: evaluate the name
    // rebuild on supplier (1k rows) and the year on orders (150k) before
    // the join, not per joined fact row (600k) — same rows, the string
    // splits and date extraction leave the fact-scale hot path
    val sup = Tables.supplier(s, d).select(
      col("s_suppkey"),
      concat_ws(" ",
        split_part(col("s_name"), lit("#"), lit(1)),
        split_part(col("s_name"), lit("#"), lit(2))).as("employee_name"))
    val ord = oF(s, d).select(
      col("o_orderkey"),
      year(col("o_orderdate").cast("date")).cast(LongType).as("yr"))
    val rev = lF(s, d)
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(sup, col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("yr"), col("employee_name"))
      .agg(dsumRound2(revenueExpr).as("revenue"))
    val w = Window.partitionBy(col("yr"))
      .orderBy(col("revenue").desc, col("employee_name"))
    rev
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("yr"), col("employee_name"), col("revenue"))
  }

  /** Volume anomaly detection over the event stream: hours whose count
    * exceeds mean + 3σ for their event type. Mean and variance derive
    * from DECIMAL Σn and Σn² (exact, order-independent) with the final
    * moments in IEEE doubles — so even the z-scores hash-match across
    * engines, where a built-in stddev would drift with partial-agg
    * order. One hourly aggregate + one tiny per-type stats frame
    * broadcast back; the event scan never reshuffles twice.
    */
  private val anomalies = Q(
    "events_anomalies",
    s"""WITH hourly AS (SELECT event_type,
       |                  CAST(date_trunc('hour', CAST(ts AS TIMESTAMP)) AS TIMESTAMP) AS hour_ts,
       |                  $C AS n
       |                FROM events GROUP BY 1, 2),
       |st AS (SELECT event_type, $C AS n_hours,
       |              CAST(SUM(CAST(n AS DECIMAL(38,4))) AS DOUBLE) AS sx,
       |              CAST(SUM(CAST(n AS DECIMAL(38,4)) * n) AS DOUBLE) AS sxx
       |       FROM hourly GROUP BY 1),
       |m AS (SELECT event_type, sx / n_hours AS mean,
       |             sqrt(sxx / n_hours - (sx / n_hours) * (sx / n_hours)) AS sd
       |      FROM st)
       |SELECT hourly.event_type, hour_ts, n,
       |       (CAST(n AS DOUBLE) - mean) / sd AS z
       |FROM hourly JOIN m ON hourly.event_type = m.event_type
       |WHERE CAST(n AS DOUBLE) > mean + 3 * sd""".stripMargin) { (s, d) =>
    val dec = org.apache.spark.sql.types.DecimalType(38, 4)
    val hourly = Tables.events(s, d)
      .groupBy(
        col("event_type"),
        date_trunc("hour", col("ts")).as("hour_ts"))
      .agg(lcount().as("n"))
    val st = hourly.groupBy(col("event_type"))
      .agg(
        lcount().as("n_hours"),
        sum(col("n").cast(dec)).cast("double").as("sx"),
        sum(col("n").cast(dec) * col("n")).cast("double").as("sxx"))
    val m = st.select(
      col("event_type"),
      (col("sx") / col("n_hours")).as("mean"),
      sqrt(col("sxx") / col("n_hours") -
        (col("sx") / col("n_hours")) * (col("sx") / col("n_hours"))).as("sd"))
    hourly
      .join(broadcast(m), Seq("event_type"))
      .filter(col("n").cast("double") > col("mean") + lit(3) * col("sd"))
      .select(col("event_type"), col("hour_ts"), col("n"),
        ((col("n").cast("double") - col("mean")) / col("sd")).as("z"))
  }

  /** A8/C3 at scale — key-skew report: the hottest probe-side keys with
    * their share of the table, the diagnosis that decides between a plain
    * join, AQE skew handling, and an explicit salt
    * ([[graft.operators.Skew]]). Exact counts; share is one IEEE division
    * of exact longs, so even the doubles hash-match.
    */
  /** Data-profiling sweep — one row per profiled column with null count,
    * exact distinct count, and numeric min/max (dates as epoch-micros,
    * exact below 2^53; strings profile nulls/distincts only — cross-
    * engine double→string formatting is not stable, numbers are). One
    * scan: Spark plans the multi-count(DISTINCT) via Expand, the
    * standard profiling shape.
    */
  private val qaProfile = Q(
    "qa_profile",
    s"""WITH a AS (SELECT
       |  $C AS n_rows,
       |  CAST(count(*) - count(o_custkey) AS BIGINT) AS nulls_cust,
       |  CAST(count(DISTINCT o_custkey) AS BIGINT) AS nd_cust,
       |  CAST(min(o_custkey) AS DOUBLE) AS min_cust,
       |  CAST(max(o_custkey) AS DOUBLE) AS max_cust,
       |  CAST(count(*) - count(o_orderstatus) AS BIGINT) AS nulls_status,
       |  CAST(count(DISTINCT o_orderstatus) AS BIGINT) AS nd_status,
       |  CAST(count(*) - count(o_totalprice) AS BIGINT) AS nulls_price,
       |  CAST(count(DISTINCT o_totalprice) AS BIGINT) AS nd_price,
       |  CAST(min(o_totalprice) AS DOUBLE) AS min_price,
       |  CAST(max(o_totalprice) AS DOUBLE) AS max_price,
       |  CAST(count(*) - count(o_orderdate) AS BIGINT) AS nulls_date,
       |  CAST(count(DISTINCT o_orderdate) AS BIGINT) AS nd_date,
       |  CAST(epoch_us(min(CAST(o_orderdate AS TIMESTAMP))) AS DOUBLE) AS min_date,
       |  CAST(epoch_us(max(CAST(o_orderdate AS TIMESTAMP))) AS DOUBLE) AS max_date
       |  FROM orders)
       |SELECT 'o_custkey' AS column_name, n_rows, nulls_cust AS n_nulls,
       |       nd_cust AS n_distinct, min_cust AS min_num, max_cust AS max_num FROM a
       |UNION ALL
       |SELECT 'o_orderstatus', n_rows, nulls_status, nd_status,
       |       CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE) FROM a
       |UNION ALL
       |SELECT 'o_totalprice', n_rows, nulls_price, nd_price, min_price, max_price FROM a
       |UNION ALL
       |SELECT 'o_orderdate', n_rows, nulls_date, nd_date, min_date, max_date FROM a""".stripMargin) {
    (s, d) =>
      val a = oF(s, d).agg(
        lcount().as("n_rows"),
        (count(lit(1)) - count(col("o_custkey"))).cast(LongType).as("nulls_cust"),
        countDistinct(col("o_custkey")).cast(LongType).as("nd_cust"),
        min(col("o_custkey")).cast("double").as("min_cust"),
        max(col("o_custkey")).cast("double").as("max_cust"),
        (count(lit(1)) - count(col("o_orderstatus"))).cast(LongType).as("nulls_status"),
        countDistinct(col("o_orderstatus")).cast(LongType).as("nd_status"),
        (count(lit(1)) - count(col("o_totalprice"))).cast(LongType).as("nulls_price"),
        countDistinct(col("o_totalprice")).cast(LongType).as("nd_price"),
        min(col("o_totalprice")).cast("double").as("min_price"),
        max(col("o_totalprice")).cast("double").as("max_price"),
        (count(lit(1)) - count(col("o_orderdate"))).cast(LongType).as("nulls_date"),
        countDistinct(col("o_orderdate")).cast(LongType).as("nd_date"),
        // NTZ → TZ cast is stable under the pinned UTC session zone
        unix_micros(min(col("o_orderdate")).cast("timestamp"))
          .cast("double").as("min_date"),
        unix_micros(max(col("o_orderdate")).cast("timestamp"))
          .cast("double").as("max_date"))
      // stack the ONE aggregate row into per-column rows — a union of
      // per-column selects would re-plan (and re-scan for) the whole
      // aggregate once per branch
      a.select(col("n_rows"), expr(
          "stack(4, " +
            "'o_custkey', nulls_cust, nd_cust, min_cust, max_cust, " +
            "'o_orderstatus', nulls_status, nd_status, " +
            "CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), " +
            "'o_totalprice', nulls_price, nd_price, min_price, max_price, " +
            "'o_orderdate', nulls_date, nd_date, min_date, max_date) " +
            "AS (column_name, n_nulls, n_distinct, min_num, max_num)"))
        .select(col("column_name"), col("n_rows"), col("n_nulls"),
          col("n_distinct"), col("min_num"), col("max_num"))
  }

  /** FK orphan sweep — referential-integrity QA: child keys with no
    * parent, one left-anti count per declared FK (plus one against a
    * deliberately-restricted parent so a nonzero path proves the
    * anti-join actually runs — all-zero output alone would also be
    * produced by a broken probe).
    */
  private val qaOrphans = Q(
    "qa_fk_orphans",
    s"""SELECT 'lineitem->orders' AS fk, (SELECT $C FROM lineitem
       |  WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders)) AS n_orphans
       |UNION ALL
       |SELECT 'orders->customer', (SELECT $C FROM orders
       |  WHERE o_custkey NOT IN (SELECT c_custkey FROM customer))
       |UNION ALL
       |SELECT 'lineitem->part', (SELECT $C FROM lineitem
       |  WHERE l_partkey NOT IN (SELECT p_partkey FROM part))
       |UNION ALL
       |SELECT 'lineitem->orders[F]', (SELECT $C FROM lineitem
       |  WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders
       |                           WHERE o_orderstatus = 'F'))""".stripMargin) {
    (s, d) =>
      def orphans(fk: String, child: org.apache.spark.sql.DataFrame,
          childKey: String, parentKeys: org.apache.spark.sql.DataFrame) =
        child.join(
            parentKeys.select(col(parentKeys.columns.head).as(childKey)).distinct(),
            Seq(childKey), "left_anti")
          .agg(lcount().as("n_orphans"))
          .select(lit(fk).as("fk"), col("n_orphans"))
      val li = lF(s, d)
      orphans("lineitem->orders", li.select(col("l_orderkey")), "l_orderkey",
          oF(s, d).select(col("o_orderkey")))
        .union(orphans("orders->customer", oF(s, d).select(col("o_custkey")),
          "o_custkey", cF(s, d).select(col("c_custkey"))))
        .union(orphans("lineitem->part", li.select(col("l_partkey")),
          "l_partkey", Tables.part(s, d).select(col("p_partkey"))))
        .union(orphans("lineitem->orders[F]", li.select(col("l_orderkey")),
          "l_orderkey",
          oF(s, d).filter(col("o_orderstatus") === "F").select(col("o_orderkey"))))
  }

  private val qaSkew = Q(
    "qa_key_skew",
    s"""WITH t AS (SELECT o_custkey AS k, $C AS n FROM orders GROUP BY 1),
       |tot AS (SELECT $C AS total FROM orders)
       |SELECT k AS custkey, n,
       |       CAST(n AS DOUBLE) / CAST(total AS DOUBLE) AS share
       |FROM t CROSS JOIN tot
       |ORDER BY n DESC, k LIMIT 10""".stripMargin) { (s, d) =>
    val t = oF(s, d).groupBy(col("o_custkey").as("k")).agg(lcount().as("n"))
    val tot = oF(s, d).agg(lcount().as("total"))
    t.crossJoin(broadcast(tot))
      .select(col("k").as("custkey"), col("n"),
        (col("n").cast("double") / col("total").cast("double")).as("share"))
      .orderBy(col("n").desc, col("custkey"))
      .limit(10)
  }

  /** Bloom-filter semi-join reduction ([[graft.operators.BloomPrune]]):
    * lineitems of high-balance suppliers. The probe side is pre-filtered
    * map-side against a broadcast bloom of the (selective) build keys, so
    * only candidate rows reach the join shuffle; the exact semi-join that
    * follows removes bloom false positives, making the answer identical
    * to the plain semi-join — which is exactly what the oracle computes.
    */
  private val j13 = Q(
    "j13_bloom_prune",
    s"""SELECT l_returnflag AS flag, $C AS n, ${DS("l_quantity")} AS qty
       |FROM lineitem
       |WHERE l_suppkey IN (SELECT s_suppkey FROM supplier WHERE s_acctbal > 6000)
       |GROUP BY 1""".stripMargin) { (s, d) =>
    graft.operators.BloomPrune.semiJoin(
        lF(s, d).select(col("l_suppkey"), col("l_returnflag"), col("l_quantity")),
        Tables.supplier(s, d).filter(col("s_acctbal") > 6000),
        "l_suppkey", "s_suppkey")
      .groupBy(col("l_returnflag").as("flag"))
      .agg(lcount().as("n"), dsum(col("l_quantity")).as("qty"))
  }

  /** Interval × interval OVERLAP join — campaigns (the [[j12]] region-
    * derived windows) against per-order 45-day attribution windows. The
    * natural predicate has no equi-conjunct, so Catalyst would plan a
    * nested-loop/cartesian; [[graft.operators.RangeJoin.intervalOverlap]]
    * rewrites it to a month-bucket hash equi-join with each pair emitted
    * once at its first shared bucket (no distinct shuffle) and the exact
    * overlap predicate as the residual.
    */
  private val j14 = Q(
    "j14_interval_overlap",
    s"""WITH iv AS (
       |  SELECT r_regionkey AS campaign_id,
       |         CAST(DATE '1995-01-01' + INTERVAL (r_regionkey * 6) MONTH AS DATE) AS start_dt,
       |         CAST(DATE '1995-01-01' + INTERVAL (r_regionkey * 6 +
       |              CASE WHEN r_regionkey = 2 THEN 0 ELSE 4 END) MONTH AS DATE) AS end_dt
       |  FROM region),
       |w AS (SELECT o_totalprice, CAST(o_orderdate AS DATE) AS w_start,
       |             CAST(o_orderdate AS DATE) + 45 AS w_end
       |      FROM orders)
       |SELECT campaign_id, $C AS n_windows, ${DS("o_totalprice")} AS revenue
       |FROM w JOIN iv ON w_start < end_dt AND start_dt < w_end
       |              AND end_dt > start_dt
       |GROUP BY 1""".stripMargin) { (s, d) =>
    val base = lit("1995-01-01").cast("date")
    val iv = rF(s, d).select(
      col("r_regionkey").as("campaign_id"),
      add_months(base, col("r_regionkey") * 6).as("start_dt"),
      add_months(base,
        col("r_regionkey") * 6 +
          when(col("r_regionkey") === 2, 0).otherwise(4)).as("end_dt"))
    val w = oF(s, d).select(
      col("o_totalprice"),
      col("o_orderdate").cast("date").as("w_start"),
      date_add(col("o_orderdate").cast("date"), 45).as("w_end"))
    graft.operators.RangeJoin
      .intervalOverlap(w, "w_start", "w_end", iv, "start_dt", "end_dt", "month")
      .groupBy(col("campaign_id"))
      .agg(lcount().as("n_windows"), dsum(col("o_totalprice")).as("revenue"))
  }

  /** Grouped OLS trend + Pearson r over EXACT sufficient statistics
    * ([[graft.operators.Stats.regressionBy]]): the monthly revenue trend
    * per market segment — monthly totals first (exact decimal), then the
    * five moments in one hash aggregate, slope/intercept/r derived by a
    * fixed IEEE double sequence at the end. The oracle replays the same
    * two-level CTE and the same final formula — double results
    * hash-match because every operand entering double space is exact and
    * the op order is pinned. The usual `regr_slope`/`corr` aggregates
    * accumulate IN double, so their last bits depend on partition order
    * — unusable under a bit-compare gate, and irreproducible between
    * runs at 100 TB.
    *
    * y is the WHOLE-DOLLAR monthly total (rounded once, in decimal):
    * with a scale-0 y every sufficient statistic here stays under 2^53,
    * so its decimal→double cast is exact in ANY engine — wide-scale
    * decimals cast to double differently across engines (unscaled-int
    * conversion then 10^-scale multiply = two roundings), which is an
    * ulp-level trap this unit choice removes (see Stats scaladoc).
    */
  private val regression = Q(
    "a15_regression_trend",
    """WITH monthly AS (
      |  SELECT c_mktsegment AS segment,
      |         year(CAST(o_orderdate AS DATE)) * 12 + month(CAST(o_orderdate AS DATE)) AS x,
      |         CAST(round(SUM(CAST(o_totalprice AS DECIMAL(18,4))), 0) AS DECIMAL(14,0)) AS y
      |  FROM orders JOIN customer ON o_custkey = c_custkey
      |  GROUP BY 1, 2),
      |st AS (
      |  SELECT segment, CAST(count(*) AS BIGINT) AS n,
      |         CAST(SUM(x) AS BIGINT) AS sx, SUM(y) AS sy, SUM(x * y) AS sxy,
      |         CAST(SUM(x * x) AS BIGINT) AS sxx,
      |         SUM(CAST(y AS DECIMAL(24,0)) * y) AS syy
      |  FROM monthly GROUP BY 1),
      |d AS (
      |  SELECT segment, n,
      |         CAST(n AS DOUBLE) AS nd, CAST(sx AS DOUBLE) AS sxd,
      |         CAST(sy AS DOUBLE) AS syd, CAST(sxy AS DOUBLE) AS sxyd,
      |         CAST(sxx AS DOUBLE) AS sxxd, CAST(syy AS DOUBLE) AS syyd
      |  FROM st)
      |SELECT segment, n,
      |       (nd * sxyd - sxd * syd) / (nd * sxxd - sxd * sxd) AS slope,
      |       (syd - ((nd * sxyd - sxd * syd) / (nd * sxxd - sxd * sxd)) * sxd) / nd AS intercept,
      |       (nd * sxyd - sxd * syd)
      |         / (sqrt(nd * sxxd - sxd * sxd) * sqrt(nd * syyd - syd * syd)) AS r
      |FROM d""".stripMargin) { (s, d) =>
    val monthly = oF(s, d)
      .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
      .groupBy(
        col("c_mktsegment").as("segment"),
        (year(col("o_orderdate").cast("date")) * 12 +
          month(col("o_orderdate").cast("date"))).as("x"))
      .agg(round(sum(col("o_totalprice").cast("decimal(18,4)")), 0)
        .cast("decimal(14,0)").as("y"))
    graft.operators.Stats.regressionBy(monthly, Seq("segment"), col("x"),
      col("y"), yType = "decimal(14,0)")
  }

  /** EXACT order-value quantiles at distributed scale
    * ([[graft.operators.Stats.exactQuantiles]]): percentile_disc values
    * for p25/p50/p75/p99 over `o_totalprice` — global ranks via range
    * shuffle + per-partition indexing, NOT a single-task global window;
    * the oracle's window formulation selects the identical ranks. The
    * rank targets ⌈q·n⌉ are computed in decimal on both sides (0.75·n
    * in float could ceil one rank high at exact multiples).
    */
  private val quantilesExact = Q(
    "a16_exact_quantiles",
    """WITH r AS (SELECT o_totalprice AS v,
      |                 row_number() OVER (ORDER BY o_totalprice) AS rn,
      |                 count(*) OVER () AS n
      |          FROM orders),
      |q AS (SELECT unnest([0.25, 0.50, 0.75, 0.99]) AS qd)
      |SELECT CAST(qd AS DOUBLE) AS q, v AS value
      |FROM q JOIN r ON rn = GREATEST(1, CAST(ceil(qd * n) AS BIGINT))""".stripMargin) {
    (s, d) =>
      graft.operators.Stats.exactQuantiles(
        oF(s, d).select(col("o_totalprice").as("value")), "value",
        Seq("0.25", "0.50", "0.75", "0.99").map(BigDecimal(_)))
  }

  /** ONE-PASS approximate quantiles — `a16`'s scale path. The exact
    * machinery is two passes (range shuffle to rank, then index); the
    * KLL/GK-family sketch behind `percentile_approx` is one pass,
    * mergeable, constant memory — at 100 TB it is the difference
    * between touching the corpus twice and once. The sketch VALUE is
    * engine-specific (like `a2_distinct_approx`'s HLL), so the query
    * certifies its own contract in-engine — each returned p50/p95
    * element's exact rank interval (strict-below to at-or-below
    * fractions) must intersect a ±5-rank-point band around its target —
    * and the oracle pins the exact group sizes plus the certified
    * booleans. Two aggregates over the
    * fact (sketch, then rank check against the broadcast 3-row sketch
    * frame), both single-shuffle.
    */
  private val quantilesApprox = Q(
    "a17_quantiles_approx",
    s"""SELECT l_returnflag AS flag, $C AS n,
       |       true AS p50_in_rank_band, true AS p95_in_rank_band
       |FROM lineitem GROUP BY 1""".stripMargin) { (s, d) =>
    val ap = lF(s, d).groupBy(col("l_returnflag").as("flag"))
      .agg(percentile_approx(col("l_extendedprice"), lit(0.5), lit(10000)).as("ap50"),
        percentile_approx(col("l_extendedprice"), lit(0.95), lit(10000)).as("ap95"))
    // a returned element v occupies the RANK INTERVAL
    // [count(x < v)/n, count(x <= v)/n]; the certification is that this
    // interval intersects the target band — tie-proof (heavy tie mass
    // widens the interval rather than pushing a point estimate out) and
    // exact for tiny groups (where the sketch degenerates to exact
    // selection and the interval necessarily straddles p)
    lF(s, d).select(col("l_returnflag").as("flag"), col("l_extendedprice"))
      .join(broadcast(ap), Seq("flag"))
      .groupBy(col("flag"))
      .agg(lcount().as("n"),
        (sum(when(col("l_extendedprice") < col("ap50"), 1).otherwise(0))
          .cast("double") / count(lit(1)).cast("double")).as("lt50"),
        (sum(when(col("l_extendedprice") <= col("ap50"), 1).otherwise(0))
          .cast("double") / count(lit(1)).cast("double")).as("le50"),
        (sum(when(col("l_extendedprice") < col("ap95"), 1).otherwise(0))
          .cast("double") / count(lit(1)).cast("double")).as("lt95"),
        (sum(when(col("l_extendedprice") <= col("ap95"), 1).otherwise(0))
          .cast("double") / count(lit(1)).cast("double")).as("le95"))
      .select(col("flag"), col("n"),
        (col("lt50") <= 0.55 && col("le50") >= 0.45).as("p50_in_rank_band"),
        (col("lt95") <= 1.0 && col("le95") >= 0.90).as("p95_in_rank_band"))
  }

  /** Equi-DEPTH (equal-frequency) 8-bucket histogram of order totals —
    * the profiling companion to `qa_histogram`'s equi-width buckets:
    * boundaries are the EXACT distributed 1/8…7/8 quantiles (range-
    * shuffle global ranks, no single-task window — `a16`'s machinery),
    * and bucket assignment is map-side against the broadcast 7-value
    * boundary array (`1 + #boundaries strictly below v`, so duplicate
    * boundary values shift bucket ids identically in both engines).
    * Counts are exact integers; tied values make buckets uneven by
    * exactly the tie mass — the honest equal-frequency readout.
    */
  private val qaHistogramDepth = Q(
    "qa_histogram_depth",
    s"""WITH r AS (SELECT o_totalprice AS v,
       |                  CAST(row_number() OVER (ORDER BY o_totalprice) AS BIGINT) AS rn,
       |                  CAST(count(*) OVER () AS BIGINT) AS n
       |           FROM orders),
       |q AS (SELECT unnest([0.125, 0.25, 0.375, 0.5, 0.625, 0.75, 0.875]) AS qd),
       |bnds AS (SELECT v FROM q JOIN r ON rn = GREATEST(1, CAST(ceil(qd * n) AS BIGINT))),
       |dv AS (SELECT o_totalprice AS v, $C AS c FROM orders GROUP BY 1),
       |bk AS (SELECT dv.v, dv.c, CAST(1 + count(b.v) AS BIGINT) AS bucket
       |       FROM dv LEFT JOIN bnds b ON b.v < dv.v GROUP BY dv.v, dv.c)
       |SELECT bucket, CAST(SUM(c) AS BIGINT) AS n, min(v) AS lo, max(v) AS hi
       |FROM bk GROUP BY 1""".stripMargin) { (s, d) =>
    val vals = oF(s, d).select(col("o_totalprice").as("v"))
    val bnds = graft.operators.Stats.exactQuantiles(
        vals.select(col("v").as("value")), "value",
        (1 to 7).map(i => BigDecimal(i) / 8))
      .agg(sort_array(collect_list(col("value"))).as("bnds"))
    vals.groupBy(col("v")).agg(lcount().as("c"))
      .crossJoin(broadcast(bnds))
      .withColumn("bucket",
        (size(filter(col("bnds"), b => b < col("v"))) + 1).cast(LongType))
      .groupBy(col("bucket"))
      .agg(sum(col("c")).cast(LongType).as("n"),
        min(col("v")).as("lo"), max(col("v")).as("hi"))
  }

  /** k-anonymity audit over the (nation, market-segment) quasi-identifier
    * pair: how many equivalence classes exist, how many fall below k = 5
    * members, and what share of rows would need suppression before a
    * release — the governance readout a training-data pipeline runs on
    * person-derived tables. One grouped count to the class frame, one
    * rollup of THAT (class-cardinality) frame; the share is the only
    * float op, pinned.
    */
  private val qaKAnon = Q(
    "qa_k_anonymity",
    s"""WITH g AS (SELECT c_nationkey, c_mktsegment, $C AS n
       |           FROM customer GROUP BY 1, 2)
       |SELECT CAST(5 AS BIGINT) AS k,
       |       $C AS classes,
       |       CAST(SUM(CASE WHEN n < 5 THEN 1 ELSE 0 END) AS BIGINT) AS small_classes,
       |       CAST(SUM(n) AS BIGINT) AS rows_total,
       |       CAST(SUM(CASE WHEN n < 5 THEN n ELSE 0 END) AS BIGINT) AS rows_suppressed,
       |       CAST(SUM(CASE WHEN n < 5 THEN n ELSE 0 END) AS DOUBLE)
       |         / CAST(SUM(n) AS DOUBLE) AS suppressed_share
       |FROM g""".stripMargin) { (s, d) =>
    Tables.customer(s, d)
      .groupBy(col("c_nationkey"), col("c_mktsegment"))
      .agg(lcount().as("n"))
      .agg(
        lcount().as("classes"),
        sum(when(col("n") < 5, 1).otherwise(0)).cast(LongType).as("small_classes"),
        sum(col("n")).cast(LongType).as("rows_total"),
        sum(when(col("n") < 5, col("n")).otherwise(0)).cast(LongType)
          .as("rows_suppressed"))
      .select(lit(5L).as("k"), col("classes"), col("small_classes"),
        col("rows_total"), col("rows_suppressed"),
        (col("rows_suppressed").cast("double") / col("rows_total").cast("double"))
          .as("suppressed_share"))
  }

  /** Equi-width 16-bucket histogram of `l_extendedprice` — the
    * data-profiling companion to `qa_profile`'s min/max: distribution
    * shape in two aggregates (1-row min/max frame broadcast back, then
    * map-side bucketing + one hash aggregate). Bucket arithmetic is a
    * pinned IEEE double sequence, identical in both engines.
    */
  private val qaHistogram = Q(
    "qa_histogram",
    """WITH m AS (SELECT CAST(min(l_extendedprice) AS DOUBLE) AS lo,
      |                  CAST(max(l_extendedprice) AS DOUBLE) AS hi
      |           FROM lineitem),
      |b AS (SELECT CASE WHEN m.hi > m.lo
      |             THEN least(15, CAST(floor((CAST(l_extendedprice AS DOUBLE) - m.lo)
      |                                       / ((m.hi - m.lo) / 16)) AS INT))
      |             ELSE 0 END AS bucket
      |      FROM lineitem CROSS JOIN m)
      |SELECT CAST(bucket AS BIGINT) AS bucket,
      |       CAST(m.lo + bucket * ((m.hi - m.lo) / 16) AS DOUBLE) AS bucket_lo,
      |       CAST(count(*) AS BIGINT) AS n
      |FROM b CROSS JOIN m GROUP BY 1, 2""".stripMargin) { (s, d) =>
    graft.operators.Stats.equiWidthHistogram(
      lF(s, d), col("l_extendedprice"), nBuckets = 16)
      .select(col("bucket").cast(LongType).as("bucket"), col("bucket_lo"),
        col("n"))
  }

  /** Sliding-window activity: distinct users and event counts per
    * 2-hour window sliding every 30 minutes (each event belongs to
    * exactly 4 windows). Spark's `window()` assigns epoch-aligned
    * windows map-side — one shuffle on the window key, no self-join;
    * the oracle derives the same 4 buckets per event arithmetically.
    * The overlap factor is size/slide = 4×, paid as exploded GROUPED
    * rows, never as a range join.
    */
  private val slidingActive = Q(
    "events_sliding_active",
    s"""WITH w AS (
       |  SELECT user_id, event_id,
       |         time_bucket(INTERVAL '30 minutes', CAST(ts AS TIMESTAMP))
       |           - s.j * INTERVAL '30 minutes' AS win_start
       |  FROM events CROSS JOIN (SELECT unnest(range(0, 4)) AS j) s)
       |SELECT CAST(win_start AS TIMESTAMP) AS win_start,
       |       CAST(win_start + INTERVAL '2 hours' AS TIMESTAMP) AS win_end,
       |       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
       |       $C AS n_events
       |FROM w GROUP BY 1, 2""".stripMargin) { (s, d) =>
    Tables.events(s, d)
      .groupBy(window(col("ts"), "2 hours", "30 minutes").as("w"))
      .agg(
        countDistinct(col("user_id")).as("n_users"),
        lcount().as("n_events"))
      .select(
        col("w.start").cast("timestamp_ntz").as("win_start"),
        col("w.end").cast("timestamp_ntz").as("win_end"),
        col("n_users"), col("n_events"))
  }

  /** Hourly resample with DETERMINISTIC first/last: the OHLC shape over
    * the event stream — per hour, counts, exact value total, and the
    * first/last event type ordered by (ts, event_id). `min`/`max` over a
    * (ts, event_id, type) struct gives lexicographic arg-min/arg-max in
    * the SAME single hash aggregate as the other measures (partial-agg
    * friendly); a bare `min_by(type, ts)` would tie-break by partition
    * luck on equal timestamps. The oracle pins the identical order with
    * two ranked windows.
    */
  private val resample = Q(
    "events_resample",
    s"""WITH b AS (
       |  SELECT CAST(date_trunc('hour', CAST(ts AS TIMESTAMP)) AS TIMESTAMP) AS hour_ts,
       |         ts, event_id, event_type, value FROM events),
       |r AS (
       |  SELECT *,
       |         row_number() OVER (PARTITION BY hour_ts ORDER BY ts, event_id) AS ra,
       |         row_number() OVER (PARTITION BY hour_ts ORDER BY ts DESC, event_id DESC) AS rd
       |  FROM b)
       |SELECT hour_ts, $C AS n_events, ${DS("value")} AS total_value,
       |       max(CASE WHEN ra = 1 THEN event_type END) AS first_type,
       |       max(CASE WHEN rd = 1 THEN event_type END) AS last_type
       |FROM r GROUP BY 1""".stripMargin) { (s, d) =>
    Tables.events(s, d)
      .groupBy(date_trunc("hour", col("ts")).cast("timestamp_ntz").as("hour_ts"))
      .agg(
        lcount().as("n_events"),
        dsum(col("value")).as("total_value"),
        min(struct(col("ts"), col("event_id"), col("event_type")))
          .getField("event_type").as("first_type"),
        max(struct(col("ts"), col("event_id"), col("event_type")))
          .getField("event_type").as("last_type"))
  }

  val queries: Seq[Q] = Seq(
    s1, p2, p3, p4, j1, j2, j3, j4, j5, j6, j7, j8, j10,
    m14, m15, a1, a2, a3, a4, a5, a6, a7, a8, q1,
    a9, a10, a12, a13, a14, a2approx, d1, u1, u2, u3, u4, f1, f2, f3, f6, f9, f10,
    f12, f16, w1, w2, w3, w4, w5, w6, w7, a11, ev, evCorr, js, sess, j11,
    funnel, retention, topUsers, rfm, j12, j13, j14, j15, qaSkew, qaProfile,
    qaOrphans, anomalies, regression, slidingActive, resample, quantilesExact,
    quantilesApprox,
    qaHistogram, qaHistogramDepth, qaKAnon, pagerank, triangles, dailyDistinct,
    linkPredict, linkRa, markov, labelProp, hits, ppr, bfsHops, seasonality,
    abTest, changepoint, theilsen, components, kcore, assortativity,
    mannKendallQ)
}
