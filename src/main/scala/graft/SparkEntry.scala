package graft

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{TextFunctions => TF, UrlFunctions, VectorFunctions => VF}
import graft.operators.{Boilerplate, Bpe, C4Clean, ClusterEval,
  Collocations, Decontaminate, Dedup, Drift, EventTime, Fuzzy,
  GopherRules, LangModel, Metrics, Mixing, Normalize, PartialAgg, Pin,
  Privacy, RepeatedSpans, Retrieval, Sampling, Scoring, Selection,
  Similarity, Zipf}

/** Driver contract: the declared operator surface (SURVEY.md §2) over the
  * test star schema, each query paired with DuckDB oracle SQL.
  *
  * Determinism rules (SURVEY.md §7.4): no `uuid()`/`current_timestamp()`
  * in compared output; every LIMIT is preceded by a total order; every
  * floating aggregate is computed through exact DECIMAL arithmetic and
  * cast to double at the end, so Spark's partial-aggregation order can't
  * change the result vs the single-threaded oracle.
  */
object SparkEntry {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** Order-insensitive exact double sum: decimal accumulate, double out. */
  private def sumd(c: Column): Column =
    sum(c.cast("decimal(18,4)")).cast("double")

  /** l_extendedprice * (1 - l_discount) in exact decimal. Widths are kept
    * small (14,4)×(9,6) so NEITHER engine overflows its 38-digit decimal
    * ceiling — DuckDB silently falls back to double past it. */
  private def discPrice: Column =
    col("l_extendedprice").cast("decimal(14,4)") *
      (lit(1).cast("decimal(8,6)") - col("l_discount").cast("decimal(8,6)"))

  private val discPriceSql =
    "CAST(l_extendedprice AS DECIMAL(14,4)) * " +
      "(CAST(1 AS DECIMAL(8,6)) - CAST(l_discount AS DECIMAL(8,6)))"

  private final case class Q(
      name: String,
      fn: (SparkSession, String) => DataFrame,
      oracle: Option[String])

  // ================= relational core =================

  private val q01 = Q("q01_pricing_summary",
    (s, dir) => {
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") <= lit("2000-12-01").cast("date"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sumd(col("l_quantity")).as("sum_qty"),
          sumd(col("l_extendedprice")).as("sum_base_price"),
          sum(discPrice).cast("double").as("sum_disc_price"),
          (sum(col("l_quantity").cast("decimal(18,4)")).cast("double") /
            count(lit(1))).as("avg_qty"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    },
    Some(s"""SELECT l_returnflag, l_linestatus,
      |CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
      |CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_base_price,
      |CAST(CAST(SUM($discPriceSql) AS VARCHAR) AS DOUBLE) AS sum_disc_price,
      |CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*) AS avg_qty,
      |COUNT(*) AS count_order
      |FROM lineitem WHERE l_shipdate <= DATE '2000-12-01'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin))

  private val q02 = Q("q02_filter_project",
    (s, dir) => {
      t(s, dir, "orders")
        .filter(col("o_orderstatus") === "F" && col("o_totalprice") > 400000)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
          col("o_orderdate").cast("date").as("o_date"))
        .orderBy(col("o_orderkey"))
        .limit(100)
    },
    Some("""SELECT o_orderkey, o_custkey, o_totalprice,
      |CAST(o_orderdate AS DATE) AS o_date
      |FROM orders WHERE o_orderstatus = 'F' AND o_totalprice > 400000
      |ORDER BY o_orderkey LIMIT 100""".stripMargin))

  private val q03 = Q("q03_join_agg_nations",
    (s, dir) => {
      val c = t(s, dir, "customer"); val n = t(s, dir, "nation")
      val r = t(s, dir, "region"); val o = t(s, dir, "orders")
      o.join(c, o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(count(lit(1)).as("n_orders"),
          sumd(col("o_totalprice")).as("revenue"))
        .orderBy(col("r_name"), col("n_name"))
    },
    Some("""SELECT r_name, n_name, COUNT(*) AS n_orders,
      |CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue
      |FROM orders
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin))

  private val q04 = Q("q04_join_priority",
    (s, dir) => {
      val li = t(s, dir, "lineitem"); val o = t(s, dir, "orders")
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(countDistinct(col("o_orderkey")).as("n_orders"),
          count(lit(1)).as("n_lines"),
          sumd(col("l_quantity")).as("sum_qty"))
        .orderBy(col("o_orderpriority"))
    },
    Some("""SELECT o_orderpriority, COUNT(DISTINCT o_orderkey) AS n_orders,
      |COUNT(*) AS n_lines,
      |CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin))

  private val q05 = Q("q05_semi_join",
    (s, dir) => {
      val c = t(s, dir, "customer")
      val big = t(s, dir, "orders").filter(col("o_totalprice") > 420000)
      c.join(big, c("c_custkey") === big("o_custkey"), "left_semi")
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_customers"))
        .orderBy(col("c_mktsegment"))
    },
    Some("""SELECT c_mktsegment, COUNT(*) AS n_customers FROM customer c
      |WHERE EXISTS (SELECT 1 FROM orders o
      |  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 420000)
      |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin))

  private val q06 = Q("q06_anti_join",
    (s, dir) => {
      val p = t(s, dir, "part")
      val hv = t(s, dir, "lineitem").filter(col("l_quantity") > 45)
      p.join(hv, p("p_partkey") === hv("l_partkey"), "left_anti")
        .select(col("p_partkey"), col("p_name"))
        .orderBy(col("p_partkey"))
    },
    Some("""SELECT p_partkey, p_name FROM part p
      |WHERE NOT EXISTS (SELECT 1 FROM lineitem l
      |  WHERE l.l_partkey = p.p_partkey AND l.l_quantity > 45)
      |ORDER BY p_partkey""".stripMargin))

  private val q07 = Q("q07_window_top1",
    (s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      t(s, dir, "orders")
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1)
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
        .orderBy(col("o_custkey"))
    },
    Some("""SELECT o_custkey, o_orderkey, o_totalprice FROM (
      |  SELECT o_custkey, o_orderkey, o_totalprice,
      |    ROW_NUMBER() OVER (PARTITION BY o_custkey
      |      ORDER BY o_totalprice DESC, o_orderkey) AS rn
      |  FROM orders) WHERE rn = 1 ORDER BY o_custkey""".stripMargin))

  private val q08 = Q("q08_topk_sort",
    (s, dir) => {
      t(s, dir, "lineitem")
        .orderBy(col("l_extendedprice").desc, col("l_orderkey"),
          col("l_linenumber"))
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_extendedprice"))
        .limit(100)
    },
    Some("""SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
      |ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber
      |LIMIT 100""".stripMargin))

  private val q09 = Q("q09_distinct",
    (s, dir) => {
      t(s, dir, "lineitem")
        .select(col("l_returnflag"), col("l_linestatus"))
        .distinct()
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    },
    Some("""SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
      |ORDER BY l_returnflag, l_linestatus""".stripMargin))

  private val q10 = Q("q10_union",
    (s, dir) => {
      t(s, dir, "customer").select(col("c_nationkey").as("nationkey"))
        .union(t(s, dir, "supplier").select(col("s_nationkey").as("nationkey")))
        .distinct()
        .orderBy(col("nationkey"))
    },
    Some("""SELECT c_nationkey AS nationkey FROM customer
      |UNION SELECT s_nationkey AS nationkey FROM supplier
      |ORDER BY nationkey""".stripMargin))

  private val q11 = Q("q11_except",
    (s, dir) => {
      val o = t(s, dir, "orders")
      o.filter(col("o_orderstatus") === "F")
        .select(col("o_custkey").as("custkey"))
        .except(o.filter(col("o_orderstatus") === "P")
          .select(col("o_custkey").as("custkey")))
        .orderBy(col("custkey"))
    },
    Some("""SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F'
      |EXCEPT
      |SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'P'
      |ORDER BY custkey""".stripMargin))

  private val q12 = Q("q12_having",
    (s, dir) => {
      t(s, dir, "lineitem")
        .groupBy(col("l_partkey"))
        .agg(sumd(col("l_quantity")).as("sum_qty"))
        .filter(col("sum_qty") > 150)
        .orderBy(col("l_partkey"))
    },
    Some("""SELECT l_partkey,
      |CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
      |FROM lineitem GROUP BY l_partkey
      |HAVING CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) > 150
      |ORDER BY l_partkey""".stripMargin))

  // ================= functions: json / date / string / case =================

  private val q13 = Q("q13_json_extract",
    (s, dir) => {
      val k = get_json_object(col("props"), "$.k").cast("int")
      t(s, dir, "events")
        .select((k % 10).as("k_mod"), col("value"))
        .groupBy(col("k_mod"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,6)")).cast("double")
            .as("sum_value"))
        .orderBy(col("k_mod"))
    },
    Some("""SELECT CAST(json_extract_string(props, '$.k') AS INT) % 10 AS k_mod,
      |COUNT(*) AS n,
      |CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
      |FROM events GROUP BY 1 ORDER BY k_mod""".stripMargin))

  private val q14 = Q("q14_date_agg",
    (s, dir) => {
      t(s, dir, "orders")
        .groupBy(year(col("o_orderdate")).as("o_year"),
          month(col("o_orderdate")).as("o_month"))
        .agg(count(lit(1)).as("n"),
          sumd(col("o_totalprice")).as("revenue"))
        .orderBy(col("o_year"), col("o_month"))
    },
    Some("""SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS INT) AS o_year,
      |CAST(EXTRACT(MONTH FROM o_orderdate) AS INT) AS o_month,
      |COUNT(*) AS n,
      |CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue
      |FROM orders GROUP BY 1, 2 ORDER BY o_year, o_month""".stripMargin))

  private val q15 = Q("q15_string_funcs",
    (s, dir) => {
      t(s, dir, "part")
        .groupBy(upper(substring_index(col("p_name"), " ", 1)).as("word1"))
        .agg(count(lit(1)).as("n"),
          (sum(col("p_retailprice").cast("decimal(18,4)")).cast("double") /
            count(lit(1))).as("avg_price"),
          max(col("p_size")).as("max_size"))
        .orderBy(col("word1"))
    },
    Some("""SELECT UPPER(split_part(p_name, ' ', 1)) AS word1, COUNT(*) AS n,
      |CAST(SUM(CAST(p_retailprice AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*) AS avg_price,
      |MAX(p_size) AS max_size
      |FROM part GROUP BY 1 ORDER BY word1""".stripMargin))

  private val q16 = Q("q16_case_bucket",
    (s, dir) => {
      val band = when(col("o_totalprice") < 150000, "low")
        .when(col("o_totalprice") < 300000, "mid")
        .otherwise("high")
      t(s, dir, "orders")
        .groupBy(band.as("price_band"))
        .agg(count(lit(1)).as("n"),
          sumd(col("o_totalprice")).as("revenue"))
        .orderBy(col("price_band"))
    },
    Some("""SELECT CASE WHEN o_totalprice < 150000 THEN 'low'
      |  WHEN o_totalprice < 300000 THEN 'mid' ELSE 'high' END AS price_band,
      |COUNT(*) AS n,
      |CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue
      |FROM orders GROUP BY 1 ORDER BY price_band""".stripMargin))

  private val q17 = Q("q17_word_topk",
    (s, dir) => {
      t(s, dir, "documents")
        .select(explode(TF.tokens(col("text"))).as("token"))
        .groupBy(col("token"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("token"))
        .limit(50)
    },
    Some("""SELECT token, COUNT(*) AS n FROM (
      |  SELECT unnest(list_filter(string_split_regex(lower(text), '\s+'),
      |    t -> t <> '')) AS token FROM documents)
      |GROUP BY token ORDER BY n DESC, token LIMIT 50""".stripMargin))

  private val eventTypes = Seq("click", "error", "purchase", "signup", "view")

  private val q18 = Q("q18_pivot",
    (s, dir) => {
      val pivoted = t(s, dir, "events")
        .groupBy((col("user_id") % 10).as("umod"))
        .pivot("event_type", eventTypes)
        .agg(count(lit(1)))
      pivoted.select(col("umod") +:
        eventTypes.map(e => coalesce(col(e), lit(0L)).as(e)): _*)
        .orderBy(col("umod"))
    },
    Some("SELECT user_id % 10 AS umod, " +
      eventTypes.map(e =>
        s"COUNT(CASE WHEN event_type = '$e' THEN 1 END) AS $e")
        .mkString(", ") +
      " FROM events GROUP BY 1 ORDER BY umod"))

  private val q19 = Q("q19_running_window",
    (s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderkey"),
          sum(col("o_totalprice").cast("decimal(18,4)")).over(w)
            .cast("double").as("running_spend"))
        .orderBy(col("o_custkey"), col("o_orderkey"))
    },
    Some("""SELECT o_custkey, o_orderkey,
      |CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) OVER (
      |  PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
      |  AS running_spend
      |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin))

  private val q20 = Q("q20_count_distinct",
    (s, dir) => {
      t(s, dir, "orders")
        .groupBy(col("o_orderpriority"))
        .agg(countDistinct(col("o_custkey")).as("n_cust"),
          count(lit(1)).as("n"))
        .orderBy(col("o_orderpriority"))
    },
    Some("""SELECT o_orderpriority, COUNT(DISTINCT o_custkey) AS n_cust,
      |COUNT(*) AS n FROM orders
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin))

  private val q21 = Q("q21_try_cast",
    (s, dir) => {
      val raw = get_json_object(col("props"), "$.k")
      val mixed = when(col("event_type") === "error", col("event_type"))
        .otherwise(raw)
      t(s, dir, "events")
        .withColumn("mixed", mixed)
        .withColumn("parsed", expr("try_cast(mixed AS int)"))
        .agg(
          sum(when(col("parsed").isNull, 1).otherwise(0)).cast("bigint")
            .as("n_null"),
          count(col("parsed")).as("n_parsed"),
          sum(col("parsed")).cast("bigint").as("sum_parsed"))
    },
    Some("""SELECT
      |CAST(SUM(CASE WHEN parsed IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
      |COUNT(parsed) AS n_parsed,
      |CAST(SUM(parsed) AS BIGINT) AS sum_parsed
      |FROM (SELECT TRY_CAST(CASE WHEN event_type = 'error' THEN event_type
      |  ELSE json_extract_string(props, '$.k') END AS INT) AS parsed
      |FROM events)""".stripMargin))

  private val q22 = Q("q22_star_join",
    (s, dir) => {
      val li = t(s, dir, "lineitem"); val o = t(s, dir, "orders")
      val c = t(s, dir, "customer"); val sup = t(s, dir, "supplier")
      val n = t(s, dir, "nation"); val r = t(s, dir, "region")
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .join(broadcast(sup), li("l_suppkey") === sup("s_suppkey") &&
          sup("s_nationkey") === c("c_nationkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .groupBy(col("r_name"), year(col("o_orderdate")).as("o_year"))
        .agg(sum(discPrice).cast("double").as("revenue"),
          count(lit(1)).as("n_lines"))
        .orderBy(col("r_name"), col("o_year"))
    },
    Some(s"""SELECT r_name, CAST(EXTRACT(YEAR FROM o_orderdate) AS INT) AS o_year,
      |CAST(CAST(SUM($discPriceSql) AS VARCHAR) AS DOUBLE) AS revenue, COUNT(*) AS n_lines
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey = c_nationkey
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY 1, 2 ORDER BY r_name, o_year""".stripMargin))

  private val q23 = Q("q23_above_avg",
    (s, dir) => {
      val c = t(s, dir, "customer")
      val avgBal = c.groupBy(col("c_nationkey"))
        .agg((sum(col("c_acctbal").cast("decimal(18,4)")).cast("double") /
          count(lit(1))).as("avg_bal"))
      c.join(broadcast(avgBal), Seq("c_nationkey"))
        .filter(col("c_acctbal") > col("avg_bal"))
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("n_above"))
        .orderBy(col("c_nationkey"))
    },
    Some("""SELECT c.c_nationkey, COUNT(*) AS n_above
      |FROM customer c JOIN (
      |  SELECT c_nationkey,
      |    CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*)
      |      AS avg_bal
      |  FROM customer GROUP BY c_nationkey) a
      |ON c.c_nationkey = a.c_nationkey
      |WHERE c.c_acctbal > a.avg_bal
      |GROUP BY c.c_nationkey ORDER BY c.c_nationkey""".stripMargin))

  private val q24 = Q("q24_conditional_agg",
    (s, dir) => {
      val li = t(s, dir, "lineitem"); val p = t(s, dir, "part")
      val joined = li.join(p, li("l_partkey") === p("p_partkey"))
      val econ = sum(when(col("p_type") === "ECONOMY", discPrice)
        .otherwise(lit(0).cast("decimal(18,6)"))).cast("double")
      val total = sum(discPrice).cast("double")
      joined.agg(
        econ.as("econ_revenue"),
        total.as("total_revenue"),
        round(econ * 100 / total, 6).as("econ_pct"))
    },
    Some(s"""SELECT
      |CAST(CAST(SUM(CASE WHEN p_type = 'ECONOMY' THEN $discPriceSql
      |  ELSE CAST(0 AS DECIMAL(18,6)) END) AS VARCHAR) AS DOUBLE) AS econ_revenue,
      |CAST(CAST(SUM($discPriceSql) AS VARCHAR) AS DOUBLE) AS total_revenue,
      |ROUND(CAST(CAST(SUM(CASE WHEN p_type = 'ECONOMY' THEN $discPriceSql
      |  ELSE CAST(0 AS DECIMAL(18,6)) END) AS VARCHAR) AS DOUBLE) * 100 /
      |  CAST(CAST(SUM($discPriceSql) AS VARCHAR) AS DOUBLE), 6) AS econ_pct
      |FROM lineitem JOIN part ON l_partkey = p_partkey""".stripMargin))

  private val q25 = Q("q25_rollup",
    (s, dir) => {
      t(s, dir, "orders")
        .rollup(year(col("o_orderdate")).as("o_year"),
          col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          sumd(col("o_totalprice")).as("revenue"))
        .orderBy(col("o_year").asc_nulls_first,
          col("o_orderpriority").asc_nulls_first)
    },
    Some("""SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS INT) AS o_year,
      |o_orderpriority, COUNT(*) AS n,
      |CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue
      |FROM orders GROUP BY ROLLUP(1, 2)
      |ORDER BY o_year NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin))

  private val q26 = Q("q26_lead_lag",
    (s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      t(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderkey"),
          lag(col("o_totalprice"), 1).over(w).as("prev_price"),
          datediff(lead(col("o_orderdate"), 1).over(w).cast("date"),
            col("o_orderdate").cast("date")).as("days_to_next"))
        .orderBy(col("o_custkey"), col("o_orderkey"))
    },
    Some("""SELECT o_custkey, o_orderkey,
      |LAG(o_totalprice, 1) OVER w AS prev_price,
      |CAST(date_diff('day', CAST(o_orderdate AS DATE),
      |  CAST(LEAD(o_orderdate, 1) OVER w AS DATE)) AS INT) AS days_to_next
      |FROM orders
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
      |ORDER BY o_custkey, o_orderkey""".stripMargin))

  private val q27 = Q("q27_rank_ntile",
    (s, dir) => {
      val byPrice = Window.partitionBy(col("o_orderpriority"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      t(s, dir, "orders")
        .select(col("o_orderpriority"), col("o_orderkey"),
          rank().over(Window.partitionBy(col("o_orderpriority"))
            .orderBy(col("o_totalprice").desc)).as("price_rank"),
          ntile(4).over(byPrice).as("quartile"))
        .filter(col("price_rank") <= 10)
        .orderBy(col("o_orderpriority"), col("price_rank"),
          col("o_orderkey"))
    },
    Some("""SELECT o_orderpriority, o_orderkey, price_rank, quartile FROM (
      |  SELECT o_orderpriority, o_orderkey,
      |    RANK() OVER (PARTITION BY o_orderpriority
      |      ORDER BY o_totalprice DESC) AS price_rank,
      |    NTILE(4) OVER (PARTITION BY o_orderpriority
      |      ORDER BY o_totalprice DESC, o_orderkey) AS quartile
      |  FROM orders)
      |WHERE price_rank <= 10
      |ORDER BY o_orderpriority, price_rank, o_orderkey""".stripMargin))

  private val q28 = Q("q28_fuzzy_levenshtein",
    (s, dir) => {
      // Blocked fuzzy match (Fuzzy.editDistanceSelfJoin): PassJoin
      // segment-pigeonhole blocking → equi-join on (len, seg, text) →
      // levenshtein verify. Output provably identical to the all-pairs
      // oracle below, but the plan carries no cross/nested-loop join.
      Fuzzy.editDistanceSelfJoin(
          t(s, dir, "part").select(col("p_name")), "p_name", 3)
        .orderBy(col("name_a"), col("name_b"))
    },
    Some("""SELECT a.p_name AS name_a, b.p_name AS name_b,
      |CAST(levenshtein(a.p_name, b.p_name) AS INT) AS dist
      |FROM (SELECT DISTINCT p_name FROM part) a
      |JOIN (SELECT DISTINCT p_name FROM part) b ON a.p_name < b.p_name
      |WHERE levenshtein(a.p_name, b.p_name) <= 3
      |ORDER BY name_a, name_b""".stripMargin))

  private val q29 = Q("q29_date_arith",
    (s, dir) => {
      t(s, dir, "orders")
        .groupBy(expr("datediff(DATE '2001-08-01', CAST(o_orderdate AS DATE)) DIV 365")
          .as("age_years"))
        .agg(count(lit(1)).as("n"),
          min(date_add(col("o_orderdate").cast("date"), 30)).as("min_due"),
          max(date_add(col("o_orderdate").cast("date"), 30)).as("max_due"))
        .orderBy(col("age_years"))
    },
    Some("""SELECT date_diff('day', CAST(o_orderdate AS DATE),
      |    DATE '2001-08-01') // 365 AS age_years,
      |COUNT(*) AS n,
      |MIN(CAST(o_orderdate AS DATE) + 30) AS min_due,
      |MAX(CAST(o_orderdate AS DATE) + 30) AS max_due
      |FROM orders GROUP BY 1 ORDER BY age_years""".stripMargin))

  // ================= text analysis / dedup =================

  private val q30 = Q("q30_text_stats",
    (s, dir) => {
      t(s, dir, "documents")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(TF.tokenCount(col("text"))).cast("bigint").as("total_tokens"),
          sum(col("n_chars")).cast("bigint").as("total_chars"))
        .orderBy(col("lang"))
    },
    Some("""SELECT lang, COUNT(*) AS n_docs,
      |CAST(SUM(len(list_filter(string_split_regex(lower(text), '\s+'),
      |  t -> t <> ''))) AS BIGINT) AS total_tokens,
      |CAST(SUM(n_chars) AS BIGINT) AS total_chars
      |FROM documents GROUP BY lang ORDER BY lang""".stripMargin))

  /** DuckDB replica of [[TF.qualityScore]] over a scope providing `text`
    * and `toks` (the filtered token list) — shared by q31 and q99. */
  private val qualitySqlExpr: String =
    """ROUND(((CASE WHEN len(toks) BETWEEN 5 AND 10000 THEN 1.0 ELSE 0.0 END)
      |  + (CAST(len(list_distinct(toks)) AS DOUBLE) /
      |     CAST(GREATEST(len(toks), 1) AS DOUBLE))
      |  + (CASE WHEN CAST(len(regexp_extract_all(text, '[.!?]')) AS DOUBLE) /
      |       CAST(GREATEST(len(toks), 1) AS DOUBLE) < 0.3
      |     THEN 1.0 ELSE 0.0 END)) / 3.0, 6)""".stripMargin

  private val q31 = Q("q31_quality_score",
    (s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"),
          TF.tokenCount(col("text")).as("n_tokens"),
          TF.bpeTokenCount(col("text")).as("n_bpe_tokens"),
          round(TF.distinctTokenRatio(col("text")), 6).as("distinct_ratio"),
          TF.qualityScore(col("text")).as("quality"))
        .orderBy(col("doc_id"))
    },
    Some(s"""SELECT doc_id,
      |CAST(len(toks) AS INT) AS n_tokens,
      |CAST(len(regexp_extract_all(text, '${TF.bpeTokenPattern}')) AS INT)
      |  AS n_bpe_tokens,
      |ROUND(CAST(len(list_distinct(toks)) AS DOUBLE) /
      |  CAST(GREATEST(len(toks), 1) AS DOUBLE), 6) AS distinct_ratio,
      |$qualitySqlExpr AS quality
      |FROM (SELECT doc_id, text,
      |  list_filter(string_split_regex(lower(text), '\\s+'), t -> t <> '')
      |    AS toks FROM documents)
      |ORDER BY doc_id""".stripMargin))

  private val q32 = Q("q32_langid",
    (s, dir) => {
      t(s, dir, "documents")
        .groupBy(col("lang"), TF.langId(col("text")).as("predicted"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("lang"), col("predicted"))
    },
    Some(langIdOracleSql))

  private val q33 = Q("q33_fingerprint",
    (s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"), TF.fingerprint(col("text")).as("fp"))
        .orderBy(col("doc_id"))
    },
    Some("""SELECT doc_id,
      |md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
      |FROM documents ORDER BY doc_id""".stripMargin))

  private val q34 = Q("q34_dedup_exact",
    (s, dir) => {
      t(s, dir, "documents")
        .agg(count(lit(1)).as("n_total"),
          countDistinct(col("text")).as("n_unique_text"),
          countDistinct(TF.fingerprint(col("text"))).as("n_unique_fp"))
    },
    Some("""SELECT COUNT(*) AS n_total,
      |COUNT(DISTINCT text) AS n_unique_text,
      |COUNT(DISTINCT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))))
      |  AS n_unique_fp
      |FROM documents""".stripMargin))

  private val q35 = Q("q35_minhash_neardup",
    (s, dir) => {
      // Word 3-gram MinHash-LSH near-dup chain at a SECOND operating
      // point of the portable md5-derived hash family: k=128 signature
      // rows in 32 bands of r=4 (higher candidate recall at the same
      // band width as q57's standard k=64/16-band point) and a looser
      // 0.7 verify threshold — oracle-verified end to end like q57.
      // The xxhash64-family arm (Dedup.minhashNearDups) remains the
      // production default (one 8-byte hash, no md5 hex parse) and is
      // family-equality-tested in DedupSpec.
      Dedup.portableNearDups(t(s, dir, "documents"), "doc_id", "text",
        numHashes = 128, bands = 32, shingleSize = 3, threshold = 0.7)
        .orderBy(col("id_a"), col("id_b"))
    },
    Some(q35OracleSql))

  /** Oracle replica of [[Dedup.portableNearDups]] at q35's operating
    * point (k=128, 32 bands, 0.7) — same generated chain as q57. */
  private def q35OracleSql: String =
    s"""WITH ${portableChainCtes(128, 32, 3, 0.7)}
       |SELECT id_a, id_b, ROUND(j, 6) AS jaccard FROM verified
       |ORDER BY id_a, id_b""".stripMargin

  private val q36 = Q("q36_jaccard_pairs",
    (s, dir) => {
      // Exact set-similarity join via prefix filtering
      // (Fuzzy.jaccardJoin) — candidates come from an equi-join on
      // rarity-ordered prefix tokens, never a nested-loop/theta join, yet
      // the result set is provably the same as the all-pairs oracle.
      val docs = t(s, dir, "documents")
      val sets = docs
        .select(col("doc_id"), TF.shinglesFast(col("text"), 1).as("st"))
      Fuzzy.jaccardSelfJoin(sets, "doc_id", "st", 0.3,
          col("doc_id") % 100 === 0)
        .filter(col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"),
          round(col("jaccard"), 6).as("jaccard"))
        .orderBy(col("id_a"), col("id_b"))
    },
    Some("""SELECT id_a, id_b, ROUND(j, 6) AS jaccard FROM (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |    CAST(len(list_intersect(a.st, b.st)) AS DOUBLE) /
      |    CAST(len(list_distinct(list_concat(a.st, b.st))) AS DOUBLE) AS j
      |  FROM (SELECT doc_id, list_distinct(list_filter(
      |      string_split_regex(lower(text), '\s+'), t -> t <> '')) AS st
      |    FROM documents WHERE doc_id % 100 = 0) a
      |  JOIN (SELECT doc_id, list_distinct(list_filter(
      |      string_split_regex(lower(text), '\s+'), t -> t <> '')) AS st
      |    FROM documents) b
      |  ON a.doc_id < b.doc_id)
      |WHERE j >= 0.3 ORDER BY id_a, id_b""".stripMargin))

  private val q37 = Q("q37_simhash_neardup",
    (s, dir) => {
      // SimHash near-dup pairs under the portable md5-derived 60-bit
      // family (Dedup.portableSimhashNearDups): 4×15-bit band buckets →
      // equi-join candidates → exact bit_count(XOR) Hamming verify;
      // Hamming ≤ 3 pairs are caught exactly (≤3 flipped bits leave ≥1
      // of 4 bands equal). Every step is DuckDB-replayable — generated
      // oracle below. The xxhash64 SimHash64 expression arm stays the
      // cheaper production hash, operator-tested in ExpressionsSpec and
      // DedupSpec.
      Dedup.portableSimhashNearDups(t(s, dir, "documents"),
          "doc_id", "text", maxHamming = 3)
        .orderBy(col("id_a"), col("id_b"))
    },
    Some(q37OracleSql))

  /** Oracle replica of [[Dedup.portableSimhashNearDups]]: shares the
    * generated sketch SELECT with q58's oracle, then replays the banded
    * candidate join and Hamming verify in SQL. */
  private def q37OracleSql: String =
    s"""WITH sk AS (
       |$portableSimhashSketchSql
       |), banded AS (
       |  SELECT doc_id, sketch, CAST(bb.b AS INT) AS band,
       |    (sketch >> (CAST(bb.b AS INT) * 15)) & 32767 AS key
       |  FROM sk CROSS JOIN (SELECT unnest(range(4)) AS b) bb
       |)
       |SELECT id_a, id_b, hamming FROM (
       |  SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b,
       |    CAST(bit_count(xor(x.sketch, y.sketch)) AS INT) AS hamming
       |  FROM banded x JOIN banded y
       |    ON x.band = y.band AND x.key = y.key AND x.doc_id < y.doc_id)
       |WHERE hamming <= 3 ORDER BY id_a, id_b""".stripMargin

  // ================= similarity search =================

  private val q38 = Q("q38_cosine_topk",
    (s, dir) => {
      val e = t(s, dir, "embeddings")
      val qv = e.filter(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0)
      e.filter(col("vec_id") =!= 0)
        .select(col("vec_id"),
          VF.cosineFast(col("embedding"), VF.floatVec(qv)).as("c"))
        .orderBy(col("c").desc, col("vec_id"))
        .limit(20)
        .select(col("vec_id"), round(col("c"), 6).as("cosine"))
    },
    Some("""SELECT vec_id, ROUND(c, 6) AS cosine FROM (
      |  SELECT e.vec_id,
      |    list_dot_product(CAST(e.embedding AS DOUBLE[]), q.qv) /
      |    (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
      |                           CAST(e.embedding AS DOUBLE[]))) *
      |     sqrt(list_dot_product(q.qv, q.qv))) AS c
      |  FROM embeddings e,
      |    (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings
      |     WHERE vec_id = 0) q
      |  WHERE e.vec_id <> 0)
      |ORDER BY c DESC, vec_id LIMIT 20""".stripMargin))

  private val q39 = Q("q39_ann_ivf",
    (s, dir) => {
      // IVF probe with the init quantizer (centroids = 8 lowest-id
      // vectors; iterations=0) so every arithmetic step is exactly
      // SQL-replayable — Lloyd-refined build quality is covered by
      // SimilaritySpec. nProbe=2 of 8 lists scanned.
      val e = t(s, dir, "embeddings")
      val qv = e.filter(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0)
      val idx = Similarity.buildIvf(s, e, "vec_id", "embedding",
        nCentroids = 8, iterations = 0)
      Similarity.searchIvf(idx, "vec_id", "embedding", qv, k = 10, nProbe = 2)
        .select(col("vec_id"), round(col("cosine"), 6).as("cosine"))
    },
    Some("""WITH e AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
      |), cent AS (
      |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, v AS cv
      |  FROM e ORDER BY vec_id LIMIT 8
      |), q AS (
      |  SELECT v AS qv FROM e WHERE vec_id = 0
      |), assigned AS (
      |  SELECT vec_id, v, cid FROM (
      |    SELECT e.vec_id, e.v, c.cid,
      |      ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
      |        list_sum(list_transform(range(1, 65),
      |          i -> (e.v[i] - c.cv[i]) * (e.v[i] - c.cv[i]))), c.cid)
      |        AS rn
      |    FROM e, cent c) WHERE rn = 1
      |), probes AS (
      |  SELECT cid FROM cent, q ORDER BY
      |    list_sum(list_transform(range(1, 65),
      |      i -> (cv[i] - qv[i]) * (cv[i] - qv[i]))), cid LIMIT 2
      |)
      |SELECT vec_id, ROUND(c, 6) AS cosine FROM (
      |  SELECT a.vec_id,
      |    list_dot_product(a.v, q.qv) /
      |    (sqrt(list_dot_product(a.v, a.v)) *
      |     sqrt(list_dot_product(q.qv, q.qv))) AS c
      |  FROM assigned a, q
      |  WHERE a.cid IN (SELECT cid FROM probes))
      |ORDER BY c DESC, vec_id LIMIT 10""".stripMargin))

  private val q40 = Q("q40_embedding_stats",
    (s, dir) => {
      t(s, dir, "embeddings")
        .select(col("label"), VF.l2Norm(col("embedding")).as("nrm"))
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("nrm").cast("decimal(18,8)")).cast("double") /
            count(lit(1)), 6).as("avg_norm"))
        .orderBy(col("label"))
    },
    Some("""SELECT label, COUNT(*) AS n,
      |ROUND(CAST(SUM(CAST(sqrt(list_dot_product(
      |    CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])))
      |  AS DECIMAL(18,8))) AS DOUBLE) / COUNT(*), 6) AS avg_norm
      |FROM embeddings GROUP BY label ORDER BY label""".stripMargin))

  private val q41 = Q("q41_embedding_neardup",
    (s, dir) => {
      // Sign-LSH bucketed cosine near-dups (hyperplane sketch). The
      // hyperplanes are deterministic literals, so the oracle replays the
      // same buckets + exact cosine verify in DuckDB.
      Dedup.embeddingNearDups(t(s, dir, "embeddings"), "vec_id", "embedding",
        dim = 64, threshold = 0.95, numPlanes = 8)
        .orderBy(col("id_a"), col("id_b"))
    },
    Some(q41OracleSql))

  /** Oracle replica of [[Dedup.embeddingNearDups]]: same hyperplane
    * literals (emitted as their exact float→double values), same sign
    * buckets, same cosine formula. */
  private def q41OracleSql: String = {
    val planes = Dedup.signPlanes(numPlanes = 8, dim = 64)
    val planeArrays = planes.map(p =>
      p.map(f => f.toDouble.toString).mkString("[", ", ", "]"))
    val bucketExpr = planeArrays.zipWithIndex.map { case (arr, p) =>
      s"(CASE WHEN list_dot_product(CAST(embedding AS DOUBLE[]), " +
        s"CAST($arr AS DOUBLE[])) >= 0 THEN (1::BIGINT << $p) ELSE 0 END)"
    }.mkString(" | ")
    s"""WITH sk AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
       |    ($bucketExpr) AS bucket
       |  FROM embeddings
       |)
       |SELECT id_a, id_b, ROUND(c, 6) AS cosine FROM (
       |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       |    list_dot_product(a.v, b.v) /
       |    (sqrt(list_dot_product(a.v, a.v)) *
       |     sqrt(list_dot_product(b.v, b.v))) AS c
       |  FROM sk a JOIN sk b
       |    ON a.bucket = b.bucket AND a.vec_id < b.vec_id)
       |WHERE c >= 0.95 ORDER BY id_a, id_b""".stripMargin
  }

  // ================= streaming-shaped =================

  private val q42 = Q("q42_hourly_events",
    (s, dir) => {
      // Batch form of the streaming windowed aggregation
      // (graft.streaming.EventStreams uses the same grouping). ts is
      // normalized through EventTime (fixture generations differ:
      // epoch-ns long vs timestamp[us]); hour bucketing is native
      // date_trunc under the UTC session timezone.
      val ev = t(s, dir, "events")
      val hourStart = date_format(
        date_trunc("hour", EventTime.tsTimestamp(ev)),
        "yyyy-MM-dd HH:mm")
      ev
        .groupBy(hourStart.as("hour_start"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,6)")).cast("double")
            .as("sum_value"))
        .orderBy(col("hour_start"), col("event_type"))
    },
    Some("""SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M')
      |  AS hour_start, event_type, COUNT(*) AS n,
      |CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
      |FROM events GROUP BY 1, 2 ORDER BY hour_start, event_type""".stripMargin))

  /** Oracle replica of [[TF.langId]], generated from the same marker table
    * so the two can never drift: a subquery yielding (lang, predicted)
    * per document. Shared by q32 (confusion counts) and q161
    * (partition agreement). */
  private def langIdPredSql: String = {
    def scoreSql(ms: Seq[String]): String =
      ms.map { m =>
        val esc = m.replace("'", "''")
        s"(CASE WHEN contains(' ' || lower(text) || ' ', '$esc') THEN 1 ELSE 0 END)"
      }.mkString(" + ")
    val scoreCols = TF.langMarkers
      .map { case (l, ms) => s"(${scoreSql(ms)}) AS s_$l" }.mkString(", ")
    val langs = TF.langMarkers.map(_._1)
    val branches = langs.map { l =>
      val geAll = langs.map(o => s"s_$l >= s_$o").mkString(" AND ")
      s"WHEN s_$l > 0 AND $geAll THEN '$l'"
    }.mkString(" ")
    s"""SELECT lang, CASE $branches ELSE 'und' END AS predicted
       |  FROM (SELECT lang, text, $scoreCols FROM documents)""".stripMargin
  }

  private def langIdOracleSql: String =
    s"""SELECT lang, predicted, COUNT(*) AS n FROM (
       |$langIdPredSql)
       |GROUP BY lang, predicted ORDER BY lang, predicted""".stripMargin

  private val q43 = Q("q43_approx_distinct",
    (s, dir) => {
      // HyperLogLog++ sketch. The sketch value itself is Spark-internal,
      // so the oracle checks a range assertion instead: the exact count
      // hashes bit-for-bit, and approx_ok (|approx-exact| <= 3*rsd*exact)
      // must equal DuckDB's literal TRUE — a drifting sketch goes red.
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(approx_count_distinct(col("l_partkey"), 0.02).as("approx_parts"),
          countDistinct(col("l_partkey")).as("exact_parts"))
        .select(col("l_returnflag"), col("exact_parts"),
          (abs(col("approx_parts") - col("exact_parts")) <=
            col("exact_parts") * lit(0.06)).as("approx_ok"))
        .orderBy(col("l_returnflag"))
    },
    Some("""SELECT l_returnflag,
      |COUNT(DISTINCT l_partkey) AS exact_parts, TRUE AS approx_ok
      |FROM lineitem GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin))

  private val q44 = Q("q44_asof_join",
    (s, dir) => {
      // Backward as-of join (composed union+window, operators.AsofJoin):
      // each click matched to the user's most recent purchase at-or-before
      // it. Oracle: DuckDB's native ASOF LEFT JOIN. ts is compared
      // natively (ordering is type-agnostic, so no EventTime tick
      // normalization is needed — no arithmetic touches it).
      val ev = t(s, dir, "events")
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("event_id"), col("value"))
      graft.operators.AsofJoin.asofBackward(
        clicks, purchases, Seq("user_id"), "ts", "ts",
        rightPayload = Seq("event_id", "value"))
        .select(col("event_id"), col("user_id"),
          col("asof_event_id"), col("asof_value"))
        .orderBy(col("event_id"))
    },
    Some("""SELECT l.event_id, l.user_id, r.event_id AS asof_event_id,
      |  r.value AS asof_value
      |FROM (SELECT * FROM events WHERE event_type = 'click') l
      |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') r
      |  ON l.user_id = r.user_id AND l.ts >= r.ts
      |ORDER BY l.event_id""".stripMargin))

  private val q45 = Q("q45_from_json",
    (s, dir) => {
      val parsed = from_json(col("props"),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("k",
            org.apache.spark.sql.types.IntegerType))))
      t(s, dir, "events")
        .select(col("event_type"), parsed.getField("k").as("k"))
        .filter(col("k") > 50)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), min(col("k")).as("min_k"),
          max(col("k")).as("max_k"))
        .orderBy(col("event_type"))
    },
    Some("""SELECT event_type, COUNT(*) AS n, MIN(k) AS min_k, MAX(k) AS max_k
      |FROM (SELECT event_type,
      |  CAST(json_extract_string(props, '$.k') AS INT) AS k FROM events)
      |WHERE k > 50 GROUP BY event_type ORDER BY event_type""".stripMargin))

  private val q46 = Q("q46_percentile",
    (s, dir) => {
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(expr("percentile(l_quantity, 0.5)").as("median_qty"),
          expr("percentile(l_quantity, 0.9)").as("p90_qty"),
          expr("percentile(l_extendedprice, 0.25)").as("p25_price"))
        .orderBy(col("l_returnflag"))
    },
    Some("""SELECT l_returnflag,
      |quantile_cont(l_quantity, 0.5) AS median_qty,
      |quantile_cont(l_quantity, 0.9) AS p90_qty,
      |quantile_cont(l_extendedprice, 0.25) AS p25_price
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin))

  private val q47 = Q("q47_left_outer",
    (s, dir) => {
      val p = t(s, dir, "part")
      val hv = t(s, dir, "lineitem").filter(col("l_quantity") > 45)
      p.join(hv, p("p_partkey") === hv("l_partkey"), "left_outer")
        .groupBy(col("p_partkey"))
        .agg(count(col("l_orderkey")).as("n_hv_lines"),
          sumd(col("l_quantity")).as("sum_hv_qty"))
        .orderBy(col("p_partkey"))
    },
    Some("""SELECT p_partkey, COUNT(l_orderkey) AS n_hv_lines,
      |CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_hv_qty
      |FROM part LEFT JOIN (SELECT * FROM lineitem WHERE l_quantity > 45) l
      |  ON p_partkey = l_partkey
      |GROUP BY p_partkey ORDER BY p_partkey""".stripMargin))

  private val q48 = Q("q48_intersect",
    (s, dir) => {
      val o = t(s, dir, "orders")
      o.filter(col("o_orderstatus") === "F")
        .select(col("o_custkey").as("custkey"))
        .intersect(o.filter(col("o_orderstatus") === "P")
          .select(col("o_custkey").as("custkey")))
        .orderBy(col("custkey"))
    },
    Some("""SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F'
      |INTERSECT
      |SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'P'
      |ORDER BY custkey""".stripMargin))

  private val q49 = Q("q49_full_outer",
    (s, dir) => {
      val cn = t(s, dir, "customer").groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("n_cust"))
      val sn = t(s, dir, "supplier").groupBy(col("s_nationkey"))
        .agg(count(lit(1)).as("n_supp"))
      cn.join(sn, cn("c_nationkey") === sn("s_nationkey"), "full_outer")
        .select(
          coalesce(col("c_nationkey"), col("s_nationkey")).as("nationkey"),
          coalesce(col("n_cust"), lit(0L)).as("n_cust"),
          coalesce(col("n_supp"), lit(0L)).as("n_supp"))
        .orderBy(col("nationkey"))
    },
    Some("""SELECT COALESCE(a.c_nationkey, b.s_nationkey) AS nationkey,
      |COALESCE(n_cust, 0) AS n_cust, COALESCE(n_supp, 0) AS n_supp
      |FROM (SELECT c_nationkey, COUNT(*) AS n_cust FROM customer
      |      GROUP BY c_nationkey) a
      |FULL JOIN (SELECT s_nationkey, COUNT(*) AS n_supp FROM supplier
      |      GROUP BY s_nationkey) b
      |  ON a.c_nationkey = b.s_nationkey
      |ORDER BY nationkey""".stripMargin))

  private val q50 = Q("q50_topk_custom_operator",
    (s, dir) => {
      // graft.plans.TopKPerGroup: custom LogicalPlan + Strategy + exec node
      // with bounded per-key heaps (no per-group sort). Oracle: the
      // equivalent window formulation in SQL.
      graft.plans.TopKPerGroup.perKey(
        t(s, dir, "orders"),
        keys = Seq("o_custkey"), orderCol = "o_totalprice",
        tieCol = "o_orderkey", k = 3)
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
        .orderBy(col("o_custkey"), col("o_totalprice").desc,
          col("o_orderkey"))
    },
    Some("""SELECT o_custkey, o_orderkey, o_totalprice FROM (
      |  SELECT o_custkey, o_orderkey, o_totalprice,
      |    ROW_NUMBER() OVER (PARTITION BY o_custkey
      |      ORDER BY o_totalprice DESC, o_orderkey) AS rn
      |  FROM orders) WHERE rn <= 3
      |ORDER BY o_custkey, o_totalprice DESC, o_orderkey""".stripMargin))

  private val q51 = Q("q51_hash_split",
    (s, dir) => {
      // Deterministic md5-bucket train/holdout split (operators.Sampling):
      // reproducible across runs/engines/partitionings, unlike seeded
      // df.sample. Oracle recomputes the same md5 buckets in DuckDB.
      val train = graft.operators.Sampling.isTrain(col("c_custkey"), 0.8)
      t(s, dir, "customer")
        .groupBy(col("c_mktsegment"))
        .agg(sum(when(train, 1).otherwise(0)).cast("bigint").as("n_train"),
          sum(when(!train, 1).otherwise(0)).cast("bigint").as("n_test"))
        .orderBy(col("c_mktsegment"))
    },
    Some("""SELECT c_mktsegment,
      |CAST(SUM(CASE WHEN bucket < 800 THEN 1 ELSE 0 END) AS BIGINT)
      |  AS n_train,
      |CAST(SUM(CASE WHEN bucket >= 800 THEN 1 ELSE 0 END) AS BIGINT)
      |  AS n_test
      |FROM (SELECT c_mktsegment,
      |  ((('0x' || substr(md5(CAST(c_custkey AS VARCHAR)), 1, 4))::BIGINT
      |    % 1000) + 1000) % 1000 AS bucket FROM customer)
      |GROUP BY 1 ORDER BY c_mktsegment""".stripMargin))

  private val q52 = Q("q52_cube",
    (s, dir) => {
      t(s, dir, "orders")
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("o_orderstatus").asc_nulls_first,
          col("o_orderpriority").asc_nulls_first)
    },
    Some("""SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
      |FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
      |ORDER BY o_orderstatus NULLS FIRST,
      |  o_orderpriority NULLS FIRST""".stripMargin))

  private val q53 = Q("q53_regexp_extract",
    (s, dir) => {
      t(s, dir, "orders")
        .groupBy(regexp_extract(col("o_orderpriority"), "^([0-9])", 1)
          .cast("int").as("priority_num"))
        .agg(count(lit(1)).as("n"),
          sumd(col("o_totalprice")).as("revenue"))
        .orderBy(col("priority_num"))
    },
    Some("""SELECT CAST(regexp_extract(o_orderpriority, '^([0-9])', 1)
      |  AS INT) AS priority_num, COUNT(*) AS n,
      |CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue
      |FROM orders GROUP BY 1 ORDER BY priority_num""".stripMargin))

  private val q54 = Q("q54_scalar_subquery",
    (s, dir) => {
      val o = t(s, dir, "orders")
      val mx = o.agg(max(col("o_totalprice")).as("mx"))
      o.crossJoin(broadcast(mx))
        .filter(col("o_totalprice") > col("mx") * 0.95)
        .select(col("o_orderkey"), col("o_totalprice"))
        .orderBy(col("o_orderkey"))
    },
    Some("""SELECT o_orderkey, o_totalprice FROM orders
      |WHERE o_totalprice > (SELECT MAX(o_totalprice) FROM orders) * 0.95
      |ORDER BY o_orderkey""".stripMargin))

  private val q55 = Q("q55_text_clean",
    (s, dir) => {
      // Curation cleaning chain: unicode NFC (custom expression) →
      // control-char strip → URL/email redaction; oracle replays the same
      // chain with DuckDB's nfc_normalize + regexp_replace(...,'g').
      val cleaned = TF.redact(TF.stripControlChars(
        TF.normalizeUnicode(col("text"))))
      t(s, dir, "documents")
        .select(col("doc_id"), md5(cleaned).as("clean_md5"),
          length(cleaned).as("clean_len"))
        .orderBy(col("doc_id"))
    },
    Some("""SELECT doc_id,
      |md5(regexp_replace(regexp_replace(regexp_replace(
      |  nfc_normalize(text),
      |  '[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]', '', 'g'),
      |  'https?://[^\s]+', '<URL>', 'g'),
      |  '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'))
      |  AS clean_md5,
      |CAST(length(regexp_replace(regexp_replace(regexp_replace(
      |  nfc_normalize(text),
      |  '[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]', '', 'g'),
      |  'https?://[^\s]+', '<URL>', 'g'),
      |  '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'))
      |  AS INT) AS clean_len
      |FROM documents ORDER BY doc_id""".stripMargin))

  private val q56 = Q("q56_sequence_packing",
    (s, dir) => {
      // Streaming sequence packing (operators.Packing): docs → 2048-token
      // packs, sharded by lang; oracle replays the prefix-sum layout.
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"),
          TF.tokenCount(col("text")).as("n_tokens"))
      graft.operators.Packing
        .assignPacks(docs, "lang", "doc_id", "n_tokens", 2048L)
        .select(col("doc_id"), col("lang"), col("pack_id"))
        .orderBy(col("doc_id"))
    },
    Some("""SELECT doc_id, lang,
      |CAST((SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
      |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens)
      |  // 2048 AS BIGINT) AS pack_id
      |FROM (SELECT doc_id, lang,
      |  len(list_filter(string_split_regex(lower(text), '\s+'),
      |    t -> t <> '')) AS n_tokens FROM documents)
      |ORDER BY doc_id""".stripMargin))

  private val q57 = Q("q57_minhash_portable",
    (s, dir) => {
      // FULL MinHash-LSH near-dup chain under the portable md5-derived
      // hash family (Dedup.portableNearDups) — unlike q35's xxhash64
      // family, every step here is replayable in DuckDB, so the whole
      // sketch pipeline is oracle-verified end to end.
      Dedup.portableNearDups(t(s, dir, "documents"), "doc_id", "text",
        numHashes = 64, bands = 16, shingleSize = 3, threshold = 0.8)
        .orderBy(col("id_a"), col("id_b"))
    },
    Some(q57OracleSql))

  /** Shared CTE block replicating [[Dedup.portableNearDups]]'s chain
    * (tokens → shingle sets → md5-family signatures → band buckets →
    * candidates), generated from the same coefficient table so engine and
    * oracle cannot drift. The default operating point (k=64, 16 bands,
    * 3-shingles, 0.8) serves q57's oracle and is reused (plus a recursive
    * transitive closure) by q96's cluster oracle; q35 instantiates a
    * second point (k=128, 32 bands, 0.7). */
  private def portableChainCtes: String = portableChainCtes(64, 16, 3, 0.8)

  private def portableChainCtes(
      k: Int, bands: Int, shingleSize: Int, threshold: Double): String = {
    val r = k / bands
    val coef = Dedup.portableCoefficients(k)
    val p = Dedup.portablePrime
    val minCols = coef.zipWithIndex.map { case ((a, b), i) =>
      s"MIN(($a * H + $b) % $p) AS m$i"
    }.mkString(", ")
    val bandArms = (0 until bands).map { b =>
      val ms = (b * r until (b + 1) * r)
        .map(i => s"CAST(m$i AS VARCHAR)").mkString(" || ',' || ")
      s"SELECT doc_id, $b AS band, " +
        s"('0x' || substr(md5($ms), 1, 15))::BIGINT AS bucket FROM sig"
    }.mkString(" UNION ALL ")
    // i = 1 .. len-n+1 shingle starts: range() end is exclusive, so
    // len - (n - 2); the guard keeps short docs at an empty range.
    val shingle = (0 until shingleSize)
      .map(j => if (j == 0) "tk[i]" else s"tk[i+$j]").mkString(" || ' ' || ")
    s"""toks AS (
       |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\\s+'),
       |    t -> t <> '') AS tk FROM documents
       |), sets AS (
       |  SELECT doc_id, list_distinct(list_transform(
       |    range(1, greatest(len(tk) - ${shingleSize - 2}, 1)),
       |    i -> $shingle)) AS st FROM toks
       |), sh AS (
       |  SELECT doc_id, ('0x' || substr(md5(unnest(st)), 1, 8))::BIGINT AS H
       |  FROM sets
       |), sig AS (
       |  SELECT doc_id, $minCols FROM sh GROUP BY doc_id
       |), buckets AS ($bandArms
       |), cand AS (
       |  SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
       |  FROM buckets x JOIN buckets y
       |    ON x.band = y.band AND x.bucket = y.bucket
       |   AND x.doc_id < y.doc_id
       |), verified AS (
       |  SELECT id_a, id_b, j FROM (
       |    SELECT id_a, id_b,
       |      CAST(len(list_intersect(sa.st, sb.st)) AS DOUBLE) /
       |      CAST(len(list_distinct(list_concat(sa.st, sb.st))) AS DOUBLE) AS j
       |    FROM cand JOIN sets sa ON sa.doc_id = cand.id_a
       |              JOIN sets sb ON sb.doc_id = cand.id_b)
       |  WHERE j >= $threshold
       |)""".stripMargin
  }

  /** Oracle replica of the q115 Count-Min chain, generated from the SAME
    * [[graft.functions.PortableHash]] coefficient table as the aggregate
    * (seed 43, depth 4, width 1024) so engine and oracle cannot drift:
    * counters are plain GROUP BY sums over (row, affine-hash cell), the
    * estimate is the MIN over each probe's 4 cells. */
  private def cmsOracleSql: String = {
    val depth = 4; val width = 1024
    val coef = graft.functions.PortableHash.coefficients(depth, 43L)
    val p = graft.functions.PortableHash.prime
    val cellArms = coef.zipWithIndex.map { case ((a, b), i) =>
      s"SELECT $i AS i, ($a * H + $b) % $p % $width AS c, COUNT(*) AS cnt " +
        "FROM h GROUP BY 2"
    }.mkString(" UNION ALL ")
    val probeArms = coef.zipWithIndex.map { case ((a, b), i) =>
      s"SELECT token, exact, $i AS i, ($a * H + $b) % $p % $width AS c " +
        "FROM probes"
    }.mkString(" UNION ALL ")
    s"""WITH occ AS (
       |  SELECT unnest(list_filter(string_split_regex(lower(text), '\\s+'),
       |    t -> t <> '')) AS token FROM documents),
       |h AS (SELECT token,
       |  ('0x' || substr(md5(token), 1, 8))::BIGINT AS H FROM occ),
       |cells AS ($cellArms),
       |probes AS (
       |  SELECT token, H, COUNT(*) AS exact FROM h GROUP BY token, H
       |  ORDER BY exact DESC, token LIMIT 20),
       |pc AS ($probeArms)
       |SELECT token, exact, MIN(cnt) AS est
       |FROM pc JOIN cells USING (i, c)
       |GROUP BY token, exact ORDER BY exact DESC, token""".stripMargin
  }

  /** Oracle replica of [[Dedup.portableNearDups]]. */
  private def q57OracleSql: String =
    s"""WITH $portableChainCtes
       |SELECT id_a, id_b, ROUND(j, 6) AS jaccard FROM verified
       |ORDER BY id_a, id_b""".stripMargin

  private val q58 = Q("q58_simhash_portable",
    (s, dir) => {
      // 60-bit SimHash with an md5-derived token hash — DuckDB-replayable
      // (q37's SimHash64 expression uses xxhash64, Spark-only).
      Dedup.portableSimhash(t(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("doc_id"))
    },
    Some(q58OracleSql))

  /** Generated SELECT producing the portable 60-bit SimHash sketch per
    * doc ([[Dedup.portableSimhash]] replica) — shared by q58's oracle
    * (plus an ORDER BY) and q37's banded near-dup oracle (as a CTE). */
  private def portableSimhashSketchSql: String = {
    val bits = 60
    val tallies = (0 until bits).map(b =>
      s"SUM(CASE WHEN (H >> $b) & 1 = 1 THEN 1 ELSE -1 END) AS t$b")
      .mkString(", ")
    val sketch = (0 until bits).map(b =>
      s"(CASE WHEN t$b > 0 THEN (1::BIGINT << $b) ELSE 0 END)")
      .mkString(" | ")
    s"""SELECT doc_id, ($sketch) AS sketch FROM (
       |  SELECT doc_id, $tallies FROM (
       |    SELECT doc_id,
       |      ('0x' || substr(md5(unnest(list_filter(
       |        string_split_regex(lower(text), '\\s+'), t -> t <> ''))),
       |        1, 15))::BIGINT AS H
       |    FROM documents)
       |  GROUP BY doc_id)""".stripMargin
  }

  /** Oracle replica of [[Dedup.portableSimhash]] (generated to match). */
  private def q58OracleSql: String =
    s"""$portableSimhashSketchSql
       |ORDER BY doc_id""".stripMargin

  private val q59 = Q("q59_array_agg",
    (s, dir) => {
      // Deterministic list aggregation: collect_list order is undefined,
      // so sort_array before slicing; string-joined output keeps the
      // compare scalar.
      t(s, dir, "orders")
        .filter(col("o_totalprice") > 450000)
        .groupBy(col("o_orderpriority"))
        .agg(array_join(
          slice(sort_array(collect_list(col("o_orderkey"))), 1, 5), ",")
          .as("first5_keys"),
          count(lit(1)).as("n"))
        .orderBy(col("o_orderpriority"))
    },
    Some("""SELECT o_orderpriority,
      |array_to_string(list_sort(list(o_orderkey))[1:5], ',')
      |  AS first5_keys,
      |COUNT(*) AS n
      |FROM orders WHERE o_totalprice > 450000
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin))

  private val q60 = Q("q60_add_months",
    (s, dir) => {
      // Month arithmetic with end-of-month clamping (both engines clamp
      // Jan 31 + 1 month to Feb 28/29).
      t(s, dir, "orders")
        .groupBy(expr("date_format(add_months(CAST(o_orderdate AS DATE), 3), 'yyyy-MM')")
          .as("due_month"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("due_month"))
    },
    Some("""SELECT strftime(CAST(o_orderdate AS DATE) + INTERVAL 3 MONTH,
      |  '%Y-%m') AS due_month, COUNT(*) AS n
      |FROM orders GROUP BY 1 ORDER BY due_month""".stripMargin))

  private val q61 = Q("q61_snapshot_diff",
    (s, dir) => {
      // CDC-style diff (operators.SnapshotDiff): "before" = pre-2000
      // orders with prices rounded down, "after" = all orders — yields
      // added (new keys) and changed (price drift) classifications.
      val o = t(s, dir, "orders")
      val before = o.filter(year(col("o_orderdate")) < 2000)
        .withColumn("o_totalprice", floor(col("o_totalprice")).cast("double"))
      graft.operators.SnapshotDiff.diff(before, o,
        keys = Seq("o_orderkey"), compareCols = Seq("o_totalprice"))
        .groupBy(col("change_type"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("change_type"))
    },
    Some("""SELECT change_type, COUNT(*) AS n FROM (
      |  SELECT COALESCE(b.o_orderkey, a.o_orderkey) AS k,
      |    CASE WHEN b.o_orderkey IS NULL THEN 'added'
      |         WHEN a.o_orderkey IS NULL THEN 'removed'
      |         WHEN b.p <> a.p THEN 'changed'
      |         ELSE 'unchanged' END AS change_type
      |  FROM (SELECT o_orderkey,
      |          CAST(FLOOR(o_totalprice) AS DOUBLE) AS p
      |        FROM orders WHERE EXTRACT(YEAR FROM o_orderdate) < 2000) b
      |  FULL JOIN (SELECT o_orderkey, o_totalprice AS p FROM orders) a
      |    ON b.o_orderkey = a.o_orderkey)
      |WHERE change_type <> 'unchanged'
      |GROUP BY change_type ORDER BY change_type""".stripMargin))

  private val q62 = Q("q62_column_profile",
    (s, dir) => {
      // Single-pass column profile (the describe() shape, exact):
      // one row per profiled column, scalar stats only.
      val o = t(s, dir, "orders")
      def profile(c: String) = o.agg(
        lit(c).as("col_name"),
        count(lit(1)).as("n_rows"),
        sum(when(col(c).isNull, 1).otherwise(0)).cast("bigint").as("n_null"),
        countDistinct(col(c)).as("n_distinct"),
        min(col(c)).cast("string").as("min_val"),
        max(col(c)).cast("string").as("max_val"))
      profile("o_totalprice")
        .unionByName(profile("o_orderstatus"))
        .unionByName(profile("o_custkey"))
        .orderBy(col("col_name"))
    },
    Some("""SELECT 'o_totalprice' AS col_name, COUNT(*) AS n_rows,
      |  CAST(SUM(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
      |  COUNT(DISTINCT o_totalprice) AS n_distinct,
      |  CAST(MIN(o_totalprice) AS VARCHAR) AS min_val,
      |  CAST(MAX(o_totalprice) AS VARCHAR) AS max_val FROM orders
      |UNION ALL
      |SELECT 'o_orderstatus', COUNT(*),
      |  CAST(SUM(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT),
      |  COUNT(DISTINCT o_orderstatus),
      |  MIN(o_orderstatus), MAX(o_orderstatus) FROM orders
      |UNION ALL
      |SELECT 'o_custkey', COUNT(*),
      |  CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
      |  COUNT(DISTINCT o_custkey),
      |  CAST(MIN(o_custkey) AS VARCHAR), CAST(MAX(o_custkey) AS VARCHAR)
      |  FROM orders
      |ORDER BY col_name""".stripMargin))

  private val q63 = Q("q63_percent_rank",
    (s, dir) => {
      val w = Window.partitionBy(col("o_orderpriority"))
        .orderBy(col("o_totalprice"), col("o_orderkey"))
      t(s, dir, "orders")
        .select(col("o_orderpriority"), col("o_orderkey"),
          round(percent_rank().over(w), 6).as("pct_rank"),
          round(cume_dist().over(w), 6).as("cume"))
        .filter(col("pct_rank") >= 0.999)
        .orderBy(col("o_orderpriority"), col("o_orderkey"))
    },
    Some("""SELECT o_orderpriority, o_orderkey, pct_rank, cume FROM (
      |  SELECT o_orderpriority, o_orderkey,
      |    ROUND(PERCENT_RANK() OVER w, 6) AS pct_rank,
      |    ROUND(CUME_DIST() OVER w, 6) AS cume
      |  FROM orders
      |  WINDOW w AS (PARTITION BY o_orderpriority
      |    ORDER BY o_totalprice, o_orderkey))
      |WHERE pct_rank >= 0.999
      |ORDER BY o_orderpriority, o_orderkey""".stripMargin))

  private val q64 = Q("q64_value_windows",
    (s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      t(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderkey"),
          first(col("o_totalprice")).over(w).as("first_price"),
          last(col("o_totalprice")).over(w).as("last_price"),
          nth_value(col("o_totalprice"), 2).over(w).as("second_price"))
        .orderBy(col("o_custkey"), col("o_orderkey"))
    },
    Some("""SELECT o_custkey, o_orderkey,
      |FIRST_VALUE(o_totalprice) OVER w AS first_price,
      |LAST_VALUE(o_totalprice) OVER w AS last_price,
      |NTH_VALUE(o_totalprice, 2) OVER w AS second_price
      |FROM orders
      |WINDOW w AS (PARTITION BY o_custkey
      |  ORDER BY o_orderdate, o_orderkey
      |  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
      |ORDER BY o_custkey, o_orderkey""".stripMargin))

  private val q65 = Q("q65_weighted_sample",
    (s, dir) => {
      // Deterministic weighted sampling (operators.Sampling): keep each
      // customer with probability acctbal/10000 (clamped to [0,1]),
      // decided by md5 bucket — no RNG state, reproducible anywhere.
      val weight = col("c_acctbal") / 10000.0
      graft.operators.Sampling.weightedSample(
        t(s, dir, "customer"), "c_custkey", weight)
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_kept"))
        .orderBy(col("c_mktsegment"))
    },
    Some("""SELECT c_mktsegment, COUNT(*) AS n_kept FROM (
      |  SELECT c_mktsegment FROM customer
      |  WHERE ((('0x' || substr(md5(CAST(c_custkey AS VARCHAR)), 1, 6))::BIGINT
      |      % 1000000) + 1000000) % 1000000
      |    < LEAST(GREATEST(c_acctbal / 10000.0, 0.0), 1.0) * 1000000)
      |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin))

  private val q66 = Q("q66_sessionize",
    (s, dir) => {
      // Batch sessionization (operators.Sessionize): 30-min inactivity gap
      // splits each user's event stream; ONE shuffle + two window passes,
      // no self-join. ts → integer epoch-µs ticks via EventTime,
      // matching DuckDB's epoch_us exactly (no float time math).
      val ev = t(s, dir, "events")
      val e = ev.select(col("user_id"), col("event_id"),
          EventTime.tsMicros(ev).as("ts_us"))
      val assigned = graft.operators.Sessionize.assign(
        e, "user_id", "ts_us", 1800L * 1000000L, tieCols = Seq("event_id"))
      graft.operators.Sessionize.sessionStats(assigned, "user_id", "ts_us")
        .orderBy(col("user_id"), col("session_id"))
    },
    Some("""WITH e AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS ts_us FROM events
      |), flagged AS (
      |  SELECT user_id, event_id, ts_us,
      |    CASE WHEN ts_us - LAG(ts_us) OVER w > 1800000000
      |      THEN 1 ELSE 0 END AS nf
      |  FROM e
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
      |), sess AS (
      |  SELECT user_id, ts_us,
      |    CAST(SUM(nf) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |      AS session_id
      |  FROM flagged)
      |SELECT user_id, session_id, COUNT(*) AS n_events,
      |  MIN(ts_us) AS start_ts, MAX(ts_us) AS end_ts
      |FROM sess GROUP BY user_id, session_id
      |ORDER BY user_id, session_id""".stripMargin))

  private val q67 = Q("q67_chunking",
    (s, dir) => {
      // Context-window chunking (operators.Chunking): 32-token windows,
      // stride 24 — map-only explode, zero shuffles; the orderBy here is
      // only the driver-compare convention.
      graft.operators.Chunking.chunkTokens(
        t(s, dir, "documents"), "doc_id", "text",
        chunkSize = 32, stride = 24)
        .orderBy(col("doc_id"), col("chunk_id"))
    },
    Some("""WITH toks AS (
      |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'),
      |    t -> t <> '') AS tk FROM documents
      |), c AS (
      |  SELECT doc_id, CAST(unnest(range(0,
      |      CAST(ceil(len(tk) / 24.0) AS BIGINT))) AS INT) AS chunk_id, tk
      |  FROM toks WHERE len(tk) > 0)
      |SELECT doc_id, chunk_id,
      |  CAST(len(tk[chunk_id*24+1 : chunk_id*24+32]) AS INT)
      |    AS n_chunk_tokens,
      |  array_to_string(tk[chunk_id*24+1 : chunk_id*24+32], ' ')
      |    AS chunk_text
      |FROM c ORDER BY doc_id, chunk_id""".stripMargin))

  private val q68 = Q("q68_source_mix",
    (s, dir) => {
      // Curriculum mixing (operators.Mixing): target 50/30/20 over three
      // sources, no upsampling — the per-source keep fractions derive
      // from data counts, and the oracle recomputes the SAME arithmetic
      // (double ops in the same order, truncating bucket threshold) in
      // SQL, so the hash-sampled output matches row-for-row.
      Mixing.mixSources(t(s, dir, "documents"), "doc_id", "source",
          Map("src0" -> 0.5, "src1" -> 0.3, "src2" -> 0.2))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_kept"))
        .orderBy(col("source"))
    },
    Some("""WITH w(source, w) AS (VALUES
      |  ('src0', CAST(0.5 AS DOUBLE)), ('src1', CAST(0.3 AS DOUBLE)),
      |  ('src2', CAST(0.2 AS DOUBLE))),
      |counts AS (
      |  SELECT source, COUNT(*) AS n FROM documents
      |  WHERE source IN (SELECT source FROM w) GROUP BY source),
      |j AS (SELECT w.source, w.w, counts.n
      |  FROM w JOIN counts ON w.source = counts.source),
      |tot AS (SELECT MIN(CAST(n AS DOUBLE) / w) AS total FROM j),
      |fr AS (SELECT source,
      |  LEAST(1.0, w * (SELECT total FROM tot) / n) AS f FROM j)
      |SELECT d.source, COUNT(*) AS n_kept
      |FROM documents d JOIN fr ON d.source = fr.source
      |WHERE ((('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 4))::BIGINT
      |    % 1000) + 1000) % 1000 < CAST(f * 1000 AS INT)
      |GROUP BY d.source ORDER BY d.source""".stripMargin))

  private val q69 = Q("q69_repetition",
    (s, dir) => {
      // Repeated-trigram fraction (TextFunctions.repetitionScore) — the
      // Gopher/C4 repetition quality gate, bucketed for a corpus health
      // histogram. Pure per-row codegen'd compute + one agg.
      t(s, dir, "documents")
        .select(col("doc_id"),
          round(TF.repetitionScore(col("text"), 3), 6).as("rep3"))
        .groupBy(floor(col("rep3") * 100).cast("int").as("rep_centile"))
        .agg(count(lit(1)).as("n_docs"),
          round(avg(col("rep3")), 6).as("avg_rep"))
        .orderBy(col("rep_centile"))
    },
    Some("""WITH toks AS (
      |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'),
      |    t -> t <> '') AS tk FROM documents
      |), scored AS (
      |  SELECT doc_id, ROUND(CASE WHEN len(tk) - 2 <= 0 THEN 0.0
      |    ELSE 1.0 - CAST(len(list_distinct(list_transform(
      |      range(1, greatest(len(tk) - 1, 1)),
      |      i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]))) AS DOUBLE) /
      |      CAST(len(tk) - 2 AS DOUBLE) END, 6) AS rep3
      |  FROM toks)
      |SELECT CAST(FLOOR(rep3 * 100) AS INT) AS rep_centile,
      |  COUNT(*) AS n_docs, ROUND(AVG(rep3), 6) AS avg_rep
      |FROM scored GROUP BY 1 ORDER BY rep_centile""".stripMargin))

  private val q70 = Q("q70_decontaminate",
    (s, dir) => {
      // Eval-set decontamination (operators.Decontaminate): flag training
      // docs sharing >= 50% of their distinct trigrams with the "eval"
      // slice (doc_id % 50 = 0). LEFT join against the distinct eval-gram
      // set — multiplicity one, no fan-out; eval side broadcasts.
      val docs = t(s, dir, "documents")
      Decontaminate.ngramOverlap(docs,
          docs.filter(col("doc_id") % 50 === 0), "doc_id", "text", n = 3)
        .filter(col("overlap") >= 0.5)
        .select(col("doc_id"), col("n_grams"), col("n_shared"),
          round(col("overlap"), 6).as("overlap"))
        .orderBy(col("doc_id"))
    },
    Some("""WITH toks AS (
      |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'),
      |    t -> t <> '') AS tk FROM documents
      |), sets AS (
      |  SELECT doc_id, list_distinct(list_transform(
      |    range(1, greatest(len(tk) - 1, 1)),
      |    i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS st FROM toks
      |), grams AS (
      |  SELECT doc_id, unnest(st) AS g FROM sets
      |), eg AS (
      |  SELECT DISTINCT g FROM grams WHERE doc_id % 50 = 0
      |), counted AS (
      |  SELECT grams.doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams,
      |    CAST(COUNT(eg.g) AS BIGINT) AS n_shared
      |  FROM grams LEFT JOIN eg ON grams.g = eg.g
      |  GROUP BY grams.doc_id)
      |SELECT doc_id, n_grams, n_shared,
      |  ROUND(CAST(n_shared AS DOUBLE) / CAST(n_grams AS DOUBLE), 6)
      |    AS overlap
      |FROM counted
      |WHERE CAST(n_shared AS DOUBLE) / CAST(n_grams AS DOUBLE) >= 0.5
      |ORDER BY doc_id""".stripMargin))

  private val q71 = Q("q71_batched_ann",
    (s, dir) => {
      // Batched multi-query ANN (Similarity.topKForQueries): broadcast
      // the query set, score once per (query, corpus) pair with the fused
      // codegen CosineSimilarity, and keep top-k per query via the CUSTOM
      // TopKPerGroup physical operator (bounded heaps, no per-group
      // sort) — this puts the custom SparkPlan under the oracle gate in a
      // composed pipeline, not just q50's standalone shape.
      val e = t(s, dir, "embeddings")
      Similarity.topKForQueries(e, e.filter(col("vec_id") < 3),
          "vec_id", "embedding", "vec_id", k = 5)
        .select(col("query_id"), col("vec_id"),
          round(col("cosine"), 6).as("cosine"))
        .orderBy(col("query_id"), col("cosine").desc, col("vec_id"))
    },
    Some("""SELECT query_id, vec_id, ROUND(c, 6) AS cosine FROM (
      |  SELECT q.vec_id AS query_id, e.vec_id,
      |    list_dot_product(CAST(e.embedding AS DOUBLE[]),
      |                     CAST(q.embedding AS DOUBLE[])) /
      |    (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
      |                           CAST(e.embedding AS DOUBLE[]))) *
      |     sqrt(list_dot_product(CAST(q.embedding AS DOUBLE[]),
      |                           CAST(q.embedding AS DOUBLE[])))) AS c
      |  FROM embeddings e, embeddings q WHERE q.vec_id < 3
      |  QUALIFY ROW_NUMBER() OVER (PARTITION BY q.vec_id
      |    ORDER BY c DESC, e.vec_id) <= 5)
      |ORDER BY query_id, c DESC, vec_id""".stripMargin))

  private val q72 = Q("q72_upsert_merge",
    (s, dir) => {
      // Keyed merge (operators.Upsert): customers with acctbal < 0 arrive
      // as "updates" (balance zeroed, segment recoded); merged snapshot =
      // updates replace, untouched pass through. Anti-join + union — both
      // shuffle-on-key. Aggregated per segment for a stable oracle.
      val c = t(s, dir, "customer")
      val updates = c.filter(col("c_acctbal") < 0)
        .withColumn("c_acctbal", lit(0.0))
        .withColumn("c_mktsegment", lit("RECOVERED"))
      graft.operators.Upsert.mergeByKey(c, updates, Seq("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"),
          sum(col("c_acctbal").cast("decimal(18,2)")).cast("double")
            .as("total_bal"))
        .orderBy(col("c_mktsegment"))
    },
    Some("""WITH updates AS (
      |  SELECT c_custkey, 0.0 AS c_acctbal, 'RECOVERED' AS c_mktsegment
      |  FROM customer WHERE c_acctbal < 0
      |), merged AS (
      |  SELECT c_mktsegment, c_acctbal FROM updates
      |  UNION ALL
      |  SELECT c_mktsegment, c_acctbal FROM customer
      |  WHERE c_custkey NOT IN (SELECT c_custkey FROM updates)
      |)
      |SELECT c_mktsegment, COUNT(*) AS n,
      |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
      |FROM merged GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin))

  private val q73 = Q("q73_quality_gates",
    (s, dir) => {
      import graft.operators.Quality
      // Declarative constraint suite (operators.Quality) in its
      // publishable DataFrame form: 5 rules, ONE aggregation pass over
      // the table; the oracle recomputes each rule's violation count.
      Quality.checkAsFrame(t(s, dir, "orders"), Seq(
        Quality.NotNull("o_custkey"),
        Quality.InRange("o_totalprice", 0.0, 1000000.0),
        Quality.MatchesRegex("o_orderpriority", "^[1-5]-"),
        Quality.AcceptedValues("o_orderstatus", Seq("F", "O", "P")),
        Quality.Unique(Seq("o_orderkey"))))
        .orderBy(col("rule"))
    },
    Some("""SELECT rule, violations, violations = 0 AS passed FROM (
      |  SELECT 'not_null(o_custkey)' AS rule,
      |    CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END)
      |      AS BIGINT) AS violations FROM orders
      |  UNION ALL
      |  SELECT 'in_range(o_totalprice,[0.0,1000000.0])',
      |    CAST(SUM(CASE WHEN o_totalprice IS NOT NULL
      |      AND (o_totalprice < 0.0 OR o_totalprice > 1000000.0)
      |      THEN 1 ELSE 0 END) AS BIGINT) FROM orders
      |  UNION ALL
      |  SELECT 'matches_regex(o_orderpriority)',
      |    CAST(SUM(CASE WHEN o_orderpriority IS NOT NULL
      |      AND NOT regexp_matches(o_orderpriority, '^[1-5]-')
      |      THEN 1 ELSE 0 END) AS BIGINT) FROM orders
      |  UNION ALL
      |  SELECT 'accepted_values(o_orderstatus)',
      |    CAST(SUM(CASE WHEN o_orderstatus IS NOT NULL
      |      AND o_orderstatus NOT IN ('F', 'O', 'P')
      |      THEN 1 ELSE 0 END) AS BIGINT) FROM orders
      |  UNION ALL
      |  SELECT 'unique(o_orderkey)',
      |    CAST(COUNT(*) - COUNT(DISTINCT o_orderkey) AS BIGINT)
      |  FROM orders)
      |ORDER BY rule""".stripMargin))

  // ================= round-3 surface: analytics + pipeline ops =========

  private val q74 = Q("q74_grouping_sets",
    (s, dir) => {
      // Explicit GROUPING SETS with grouping_id: detail, per-flag, grand
      // total in ONE pass (Catalyst expands to a single Expand + hash agg
      // — not three scans).
      t(s, dir, "lineitem")
        .groupingSets(
          Seq(Seq(col("l_returnflag"), col("l_linestatus")),
            Seq(col("l_returnflag")), Seq()),
          col("l_returnflag"), col("l_linestatus"))
        .agg(grouping_id().as("gid"),
          count(lit(1)).as("n"),
          sumd(col("l_quantity")).as("sum_qty"))
        .orderBy(col("gid"), col("l_returnflag").asc_nulls_first,
          col("l_linestatus").asc_nulls_first)
    },
    Some("""SELECT l_returnflag, l_linestatus,
      |CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
      |COUNT(*) AS n,
      |CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
      |FROM lineitem
      |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
      |  (l_returnflag), ())
      |ORDER BY gid, l_returnflag NULLS FIRST,
      |  l_linestatus NULLS FIRST""".stripMargin))

  private val q75 = Q("q75_lateral_tokens",
    (s, dir) => {
      // Generator/lateral op: position-explode of the first 5 whitespace
      // tokens per doc. Map-only before the final sort — posexplode is a
      // codegen'd Generate node, not a join.
      t(s, dir, "documents")
        .filter(col("doc_id") <= 10)
        .select(col("doc_id"),
          posexplode(slice(split(col("text"), " "), 1, 5)))
        .select(col("doc_id"), col("pos").cast("bigint").as("pos"),
          col("col").as("token"))
        .orderBy(col("doc_id"), col("pos"))
    },
    Some("""SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos, l[i] AS token
      |FROM (SELECT doc_id, l,
      |    unnest(generate_series(1, least(5, len(l)))) AS i
      |  FROM (SELECT doc_id, string_split(text, ' ') AS l
      |    FROM documents WHERE doc_id <= 10))
      |ORDER BY doc_id, pos""".stripMargin))

  private val q76 = Q("q76_corr_moments",
    (s, dir) => {
      // corr / covar_samp / stddev_samp computed FROM EXACT DECIMAL
      // MOMENTS: the five sums are exact decimal (order-insensitive), and
      // doubles appear only in the final closed-form step — so the
      // distributed result is bit-identical to the oracle evaluating the
      // same IEEE expression, unlike streaming corr()/stddev() whose
      // merge order perturbs the low bits.
      val q = col("l_quantity").cast("decimal(12,4)")
      val p = col("l_extendedprice").cast("decimal(14,4)")
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).cast("double").as("nd"),
          sum(q).cast("double").as("sx"),
          sum(p).cast("double").as("sy"),
          sum(q * p).cast("double").as("sxy"),
          sum(q * q).cast("double").as("sxx"),
          sum(p * p).cast("double").as("syy"))
        .select(col("l_returnflag"),
          ((col("nd") * col("sxy") - col("sx") * col("sy")) /
            sqrt((col("nd") * col("sxx") - col("sx") * col("sx")) *
              (col("nd") * col("syy") - col("sy") * col("sy"))))
            .as("corr_qty_price"),
          ((col("sxy") - col("sx") * col("sy") / col("nd")) /
            (col("nd") - lit(1.0))).as("covar_qty_price"),
          sqrt((col("sxx") - col("sx") * col("sx") / col("nd")) /
            (col("nd") - lit(1.0))).as("stddev_qty"))
        .orderBy(col("l_returnflag"))
    },
    Some("""WITH m AS (SELECT l_returnflag,
      |  CAST(COUNT(*) AS DOUBLE) AS nd,
      |  CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(12,4))) AS VARCHAR)
      |    AS DOUBLE) AS sx,
      |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(14,4))) AS VARCHAR)
      |    AS DOUBLE) AS sy,
      |  CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(19,4)) *
      |    CAST(l_extendedprice AS DECIMAL(19,4))) AS VARCHAR)
      |    AS DOUBLE) AS sxy,
      |  CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(19,4)) *
      |    CAST(l_quantity AS DECIMAL(19,4))) AS VARCHAR)
      |    AS DOUBLE) AS sxx,
      |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(19,4)) *
      |    CAST(l_extendedprice AS DECIMAL(19,4))) AS VARCHAR)
      |    AS DOUBLE) AS syy
      |  FROM lineitem GROUP BY l_returnflag)
      |SELECT l_returnflag,
      |  (nd * sxy - sx * sy) /
      |    sqrt((nd * sxx - sx * sx) * (nd * syy - sy * sy))
      |    AS corr_qty_price,
      |  (sxy - sx * sy / nd) / (nd - 1.0) AS covar_qty_price,
      |  sqrt((sxx - sx * sx / nd) / (nd - 1.0)) AS stddev_qty
      |FROM m ORDER BY l_returnflag""".stripMargin))

  private val q77 = Q("q77_forward_fill",
    (s, dir) => {
      // LOCF imputation (operators.Impute.forwardFill): last purchase
      // value carried onto each later event of the same user. ONE shuffle
      // (window on user_id), (ts, event_id) gives a total order.
      val e = t(s, dir, "events").filter(col("user_id") <= 50)
        .select(col("user_id"), col("event_id"), col("ts"),
          when(col("event_type") === "purchase", col("value")).as("pval"))
      graft.operators.Impute.forwardFill(
        e, Seq("user_id"), Seq("ts", "event_id"), Seq("pval"))
        .select(col("user_id"), col("event_id"),
          col("pval").as("filled_value"))
        .orderBy(col("user_id"), col("event_id"))
    },
    Some("""SELECT user_id, event_id,
      |LAST_VALUE(pval IGNORE NULLS) OVER (PARTITION BY user_id
      |  ORDER BY ts, event_id
      |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_value
      |FROM (SELECT user_id, event_id, ts,
      |    CASE WHEN event_type = 'purchase' THEN value END AS pval
      |  FROM events WHERE user_id <= 50)
      |ORDER BY user_id, event_id""".stripMargin))

  private val q78 = Q("q78_date_densify",
    (s, dir) => {
      // Calendar gap-fill: generated day spine x priority dims LEFT JOIN
      // daily counts -> missing days exact 0. The spine is generated (no
      // scan) and both join inputs are tiny aggregates; the fact table is
      // reduced BEFORE the join, so the left join broadcasts.
      val spine = s.range(1).select(explode(sequence(
        lit(java.sql.Date.valueOf("1995-01-01")),
        lit(java.sql.Date.valueOf("1995-01-31")),
        expr("interval 1 day"))).as("dd"))
      val prios = t(s, dir, "orders")
        .select(col("o_orderpriority").as("prio")).distinct()
      val daily = t(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("1995-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1995-02-01").cast("timestamp"))
        .groupBy(col("o_orderdate").cast("date").as("dd"),
          col("o_orderpriority").as("prio"))
        .agg(count(lit(1)).as("n"))
      spine.crossJoin(prios)
        .join(daily, Seq("dd", "prio"), "left")
        .select(date_format(col("dd"), "yyyy-MM-dd").as("day"), col("prio"),
          coalesce(col("n"), lit(0L)).as("n_orders"))
        .orderBy(col("day"), col("prio"))
    },
    Some("""WITH spine AS (
      |  SELECT CAST(unnest(generate_series(DATE '1995-01-01',
      |    DATE '1995-01-31', INTERVAL 1 DAY)) AS DATE) AS dd),
      |prios AS (SELECT DISTINCT o_orderpriority AS prio FROM orders),
      |daily AS (SELECT CAST(o_orderdate AS DATE) AS dd,
      |    o_orderpriority AS prio, COUNT(*) AS n
      |  FROM orders
      |  WHERE o_orderdate >= TIMESTAMP '1995-01-01'
      |    AND o_orderdate < TIMESTAMP '1995-02-01'
      |  GROUP BY 1, 2)
      |SELECT strftime(s.dd, '%Y-%m-%d') AS day, p.prio,
      |  COALESCE(n, 0) AS n_orders
      |FROM spine s CROSS JOIN prios p
      |LEFT JOIN daily d ON d.dd = s.dd AND d.prio = p.prio
      |ORDER BY day, p.prio""".stripMargin))

  private val q79 = Q("q79_train_shuffle",
    (s, dir) => {
      // Deterministic epoch shuffle (Sampling.deterministicShuffle): a
      // total order by md5(seed ++ key). Distributed range sort — no
      // global window, no single-partition stage; orderBy+limit here
      // collapses to TakeOrderedAndProject for the oracle sample.
      graft.operators.Sampling.deterministicShuffle(
        t(s, dir, "documents").select(col("doc_id")), "doc_id", "epoch1:")
        .limit(20)
    },
    Some("""SELECT doc_id,
      |md5('epoch1:' || CAST(doc_id AS VARCHAR)) AS shuffle_key
      |FROM documents ORDER BY shuffle_key LIMIT 20""".stripMargin))

  private val q80 = Q("q80_int8_quantize",
    (s, dir) => {
      // Symmetric int8 embedding quantization (VectorFunctions): 4x
      // shipping compression for ANN indexes. floor(x/scale + 0.5) pins
      // the rounding rule engine-independently; checksum and max abs
      // reconstruction error are exact IEEE math the oracle replays
      // bit-for-bit. Map-only — zero shuffles before the final order.
      t(s, dir, "embeddings").filter(col("vec_id") < 20)
        .withColumn("scale", VF.int8Scale(col("embedding")))
        .select(col("vec_id"), col("scale"),
          aggregate(VF.quantizeInt8(col("embedding"), col("scale")),
            lit(0L), (acc, v) => acc + v).as("q_sum"),
          VF.dequantMaxErr(col("embedding"), col("scale"))
            .as("max_abs_err"))
        .orderBy(col("vec_id"))
    },
    Some("""SELECT vec_id, scale,
      |CAST(list_sum(list_transform(embedding,
      |  x -> CAST(floor(CAST(x AS DOUBLE) / scale + 0.5) AS BIGINT)))
      |  AS BIGINT) AS q_sum,
      |list_max(list_transform(embedding,
      |  x -> abs(CAST(floor(CAST(x AS DOUBLE) / scale + 0.5) AS BIGINT)
      |    * scale - CAST(x AS DOUBLE)))) AS max_abs_err
      |FROM (SELECT vec_id, embedding,
      |    CASE WHEN m = 0 THEN 1.0 ELSE m / 127.0 END AS scale
      |  FROM (SELECT vec_id, embedding,
      |      CAST(list_max(list_transform(embedding, x -> abs(x)))
      |        AS DOUBLE) AS m
      |    FROM embeddings WHERE vec_id < 20))
      |ORDER BY vec_id""".stripMargin))

  private val q81 = Q("q81_winsorize",
    (s, dir) => {
      // Outlier winsorization at per-group exact percentiles: the
      // quantile frame is group-count-sized -> broadcast back onto the
      // fact side; the clip is map-side; clipped sum goes through exact
      // decimal. Two shuffles total regardless of fact size.
      val ev = t(s, dir, "events")
      val qs = ev.groupBy(col("event_type"))
        .agg(expr("percentile(value, 0.01)").as("p01"),
          expr("percentile(value, 0.99)").as("p99"))
      ev.join(broadcast(qs), Seq("event_type"))
        .withColumn("clipped",
          least(greatest(col("value"), col("p01")), col("p99")))
        .groupBy(col("event_type"))
        .agg(first(col("p01")).as("p01"), first(col("p99")).as("p99"),
          sum(col("clipped").cast("decimal(18,6)")).cast("double")
            .as("clipped_sum"),
          count(lit(1)).as("n"))
        .orderBy(col("event_type"))
    },
    Some("""WITH qs AS (
      |  SELECT event_type, quantile_cont(value, 0.01) AS p01,
      |    quantile_cont(value, 0.99) AS p99
      |  FROM events GROUP BY event_type)
      |SELECT e.event_type, MIN(p01) AS p01, MIN(p99) AS p99,
      |  CAST(SUM(CAST(LEAST(GREATEST(e.value, p01), p99)
      |    AS DECIMAL(18,6))) AS DOUBLE) AS clipped_sum,
      |  COUNT(*) AS n
      |FROM events e JOIN qs USING (event_type)
      |GROUP BY e.event_type ORDER BY e.event_type""".stripMargin))

  private val q82 = Q("q82_asof_forward",
    (s, dir) => {
      // Forward as-of with tolerance (AsofJoin.asofForward): each click ->
      // the user's NEXT purchase within 7 days, null past that. Same
      // single-shuffle union+window shape as q44, on negated epoch-µs
      // ticks (asofForward negates ts, so the numeric EventTime form).
      val ev = t(s, dir, "events")
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"),
          EventTime.tsMicros(ev).as("ts_us"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), EventTime.tsMicros(ev).as("ts_us"),
          col("event_id").as("p_event_id"), col("value"))
      graft.operators.AsofJoin.asofForward(
        clicks, purchases, Seq("user_id"), "ts_us", "ts_us",
        rightPayload = Seq("p_event_id", "value"),
        tolerance = Some(7L * 86400L * 1000000L))
        .select(col("event_id"), col("user_id"),
          col("asof_p_event_id"), col("asof_value"))
        .orderBy(col("event_id"))
    },
    Some("""WITH c AS (SELECT event_id, user_id, epoch_us(ts) AS uts
      |    FROM events WHERE event_type = 'click'),
      |p AS (SELECT user_id, epoch_us(ts) AS uts,
      |    event_id AS p_event_id, value
      |    FROM events WHERE event_type = 'purchase')
      |SELECT c.event_id, c.user_id,
      |  CASE WHEN p.uts - c.uts <= 604800000000
      |    THEN p.p_event_id END AS asof_p_event_id,
      |  CASE WHEN p.uts - c.uts <= 604800000000
      |    THEN p.value END AS asof_value
      |FROM c ASOF LEFT JOIN p
      |  ON c.user_id = p.user_id AND c.uts <= p.uts
      |ORDER BY c.event_id""".stripMargin))

  private val q83 = Q("q83_vocab_coverage",
    (s, dir) => {
      // Tokenizer-vocabulary coverage / OOV rate: global top-200 vocab is
      // bounded (TakeOrdered) -> broadcast left join onto the token
      // stream; the heavy side shuffles only for the final per-source agg.
      val words = t(s, dir, "documents")
        .select(col("source"), explode(TF.tokens(col("text"))).as("token"))
      val vocab = words.groupBy(col("token"))
        .agg(count(lit(1)).as("vn"))
        .orderBy(col("vn").desc, col("token")).limit(200)
        .select(col("token"), lit(1).as("in_vocab"))
      words.join(broadcast(vocab), Seq("token"), "left")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("total_tokens"),
          count(col("in_vocab")).as("vocab_tokens"))
        .withColumn("coverage",
          col("vocab_tokens").cast("double") /
            col("total_tokens").cast("double"))
        .orderBy(col("source"))
    },
    Some("""WITH w AS (
      |  SELECT source, unnest(list_filter(
      |    string_split_regex(lower(text), '\s+'), t -> t <> '')) AS token
      |  FROM documents),
      |v AS (SELECT token FROM (
      |  SELECT token, COUNT(*) AS vn FROM w GROUP BY token
      |  ORDER BY vn DESC, token LIMIT 200)),
      |j AS (SELECT w.source, v.token AS vtok
      |  FROM w LEFT JOIN v ON w.token = v.token)
      |SELECT source, COUNT(*) AS total_tokens,
      |  COUNT(vtok) AS vocab_tokens,
      |  CAST(COUNT(vtok) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS coverage
      |FROM j GROUP BY source ORDER BY source""".stripMargin))

  private val q84 = Q("q84_tfidf",
    (s, dir) => {
      // TF-IDF-style discriminative-term extraction: tf per (doc, token),
      // df per token, score = tf * N / df (rational idf variant: ln()
      // differs across engines in the last ulp, which would break exact
      // hash parity; N/df preserves the tf-idf ORDERING for a fixed tf
      // and is exactly representable). Top-1 term per doc via one
      // bounded window. Shuffle shape: token agg + doc window — both on
      // natural keys; the N scalar broadcasts.
      val words = t(s, dir, "documents")
        .filter(col("doc_id") <= 50)
        .select(col("doc_id"), explode(TF.tokens(col("text"))).as("token"))
      val tf = words.groupBy(col("doc_id"), col("token"))
        .agg(count(lit(1)).as("tf"))
      val df = words.select(col("doc_id"), col("token")).distinct()
        .groupBy(col("token")).agg(count(lit(1)).as("df"))
      val n = words.select(countDistinct(col("doc_id")).as("n_docs"))
      val w = Window.partitionBy(col("doc_id"))
        .orderBy(col("score").desc, col("token"))
      tf.join(df, Seq("token"))
        .crossJoin(broadcast(n))
        .withColumn("score",
          col("tf").cast("double") * col("n_docs").cast("double") /
            col("df").cast("double"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("doc_id"), col("token").as("top_term"), col("score"))
        .orderBy(col("doc_id"))
    },
    Some("""WITH words AS (
      |  SELECT doc_id, unnest(list_filter(
      |    string_split_regex(lower(text), '\s+'), t -> t <> '')) AS token
      |  FROM documents WHERE doc_id <= 50),
      |tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM words
      |  GROUP BY doc_id, token),
      |df AS (SELECT token, COUNT(*) AS df FROM
      |  (SELECT DISTINCT doc_id, token FROM words) GROUP BY token),
      |n AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM words),
      |scored AS (SELECT doc_id, token,
      |    CAST(tf AS DOUBLE) * CAST(n_docs AS DOUBLE) /
      |      CAST(df AS DOUBLE) AS score,
      |    ROW_NUMBER() OVER (PARTITION BY doc_id
      |      ORDER BY CAST(tf AS DOUBLE) * CAST(n_docs AS DOUBLE) /
      |        CAST(df AS DOUBLE) DESC, token) AS rn
      |  FROM tf JOIN df USING (token) CROSS JOIN n)
      |SELECT doc_id, token AS top_term, score FROM scored
      |WHERE rn = 1 ORDER BY doc_id""".stripMargin))

  private val q85 = Q("q85_histogram",
    (s, dir) => {
      // Equi-width histogram with data-driven bounds: global min/max is a
      // 1-row aggregate broadcast onto the scan; bin assignment is pure
      // map-side math; ONE shuffle for the final per-bin count. The
      // closed-form bin expression is identical IEEE math in the oracle.
      val bounds = t(s, dir, "orders")
        .agg(min(col("o_totalprice")).as("mn"),
          max(col("o_totalprice")).as("mx"))
      t(s, dir, "orders")
        .crossJoin(broadcast(bounds))
        .withColumn("bin",
          least(lit(9L), floor((col("o_totalprice") - col("mn")) /
            ((col("mx") - col("mn")) / lit(10.0)))))
        .groupBy(col("bin"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,4)")).cast("double")
            .as("bin_total"))
        .orderBy(col("bin"))
    },
    Some("""WITH b AS (SELECT MIN(o_totalprice) AS mn,
      |    MAX(o_totalprice) AS mx FROM orders)
      |SELECT LEAST(9, CAST(floor((o_totalprice - mn) /
      |    ((mx - mn) / 10.0)) AS BIGINT)) AS bin,
      |  COUNT(*) AS n,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
      |    AS bin_total
      |FROM orders CROSS JOIN b
      |GROUP BY 1 ORDER BY bin""".stripMargin))

  private val q86 = Q("q86_approx_quantile",
    (s, dir) => {
      // Sketch-based quantiles for the 100 TB path: approx_percentile is
      // a mergeable one-pass bounded-memory sketch, where the exact form
      // materializes every group's values. Accuracy is CHECKED, not
      // assumed: the hash-compared approx_ok column asserts the approx
      // lands within 5% of the exact median in the same row (q43 HLL
      // pattern).
      t(s, dir, "events")
        .groupBy(col("event_type"))
        .agg(expr("percentile(value, 0.5)").as("exact_p50"),
          expr("approx_percentile(value, 0.5, 1000)").as("approx"))
        .select(col("event_type"), col("exact_p50"),
          // bound = max(5% relative, 1.0 absolute): the absolute floor
          // keeps the assertion satisfiable for near-zero medians, and
          // the 5% headroom absorbs sketch-merge order variation
          (abs(col("approx") - col("exact_p50")) <=
            greatest(col("exact_p50") * lit(0.05), lit(1.0)))
            .as("approx_ok"))
        .orderBy(col("event_type"))
    },
    Some("""SELECT event_type,
      |quantile_cont(value, 0.5) AS exact_p50, TRUE AS approx_ok
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin))

  private val q87 = Q("q87_referential",
    (s, dir) => {
      // Referential-integrity gates (Quality.ForeignKey): LEFT ANTI join
      // per rule against de-duplicated dim keys (dim side broadcasts).
      // The full dim passes; the acctbal>0 SUBSET dim exposes orphans —
      // the realistic "rows referencing filtered-away entities" drift
      // check a pipeline runs after any dim-side cleanup.
      val orders = t(s, dir, "orders")
      val cust = t(s, dir, "customer")
      graft.operators.Quality.checkAsFrame(orders, Seq(
        graft.operators.Quality.NotNull("o_custkey"),
        graft.operators.Quality.ForeignKey(
          Seq("o_custkey"), cust, Seq("c_custkey"), "customer"),
        graft.operators.Quality.ForeignKey(
          Seq("o_custkey"), cust.filter(col("c_acctbal") > 0),
          Seq("c_custkey"), "customer_active")))
        .orderBy(col("rule"))
    },
    Some("""SELECT rule, violations, violations = 0 AS passed FROM (
      |  SELECT 'not_null(o_custkey)' AS rule,
      |    CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END)
      |      AS BIGINT) AS violations FROM orders
      |  UNION ALL
      |  SELECT 'foreign_key(o_custkey->customer)',
      |    CAST((SELECT COUNT(*) FROM orders o
      |      WHERE o.o_custkey IS NOT NULL AND o.o_custkey NOT IN
      |        (SELECT c_custkey FROM customer)) AS BIGINT)
      |  UNION ALL
      |  SELECT 'foreign_key(o_custkey->customer_active)',
      |    CAST((SELECT COUNT(*) FROM orders o
      |      WHERE o.o_custkey IS NOT NULL AND o.o_custkey NOT IN
      |        (SELECT c_custkey FROM customer WHERE c_acctbal > 0))
      |      AS BIGINT))
      |ORDER BY rule""".stripMargin))

  private val q88 = Q("q88_funnel",
    (s, dir) => {
      // Sequential funnel (view -> later click -> later purchase): each
      // stage's timestamp is the MIN event AFTER the previous stage,
      // computed with one window + two keyed aggregations + one keyed
      // join — every operation on the same user_id key, so at scale this
      // is ONE partitioning reused, never an all-pairs or per-user loop.
      val e = t(s, dir, "events")
        .select(col("user_id"), col("ts"), col("event_type"))
      val w = Window.partitionBy(col("user_id"))
      val w1 = e.withColumn("v",
        min(when(col("event_type") === "view", col("ts"))).over(w))
      val a1 = w1.groupBy(col("user_id"))
        .agg(min(col("v")).as("v"),
          min(when(col("event_type") === "click" && col("ts") > col("v"),
            col("ts"))).as("c"))
      val a2 = e.join(a1, Seq("user_id"))
        .groupBy(col("user_id"))
        .agg(min(col("v")).as("v"), min(col("c")).as("c"),
          min(when(col("event_type") === "purchase" && col("ts") > col("c"),
            col("ts"))).as("p"))
      a2.agg(count(lit(1)).as("n_users"),
        count(col("v")).as("reached_view"),
        count(col("c")).as("reached_click"),
        count(col("p")).as("reached_purchase"))
    },
    Some("""WITH e AS (SELECT user_id, epoch_ns(ts) AS ts, event_type
      |    FROM events),
      |w1 AS (SELECT user_id, ts, event_type,
      |  MIN(CASE WHEN event_type = 'view' THEN ts END)
      |    OVER (PARTITION BY user_id) AS v FROM e),
      |a1 AS (SELECT user_id, MIN(v) AS v,
      |  MIN(CASE WHEN event_type = 'click' AND ts > v THEN ts END) AS c
      |  FROM w1 GROUP BY user_id),
      |a2 AS (SELECT e.user_id, MIN(a1.v) AS v, MIN(a1.c) AS c,
      |  MIN(CASE WHEN e.event_type = 'purchase' AND e.ts > a1.c
      |    THEN e.ts END) AS p
      |  FROM e JOIN a1 ON e.user_id = a1.user_id GROUP BY e.user_id)
      |SELECT COUNT(*) AS n_users, COUNT(v) AS reached_view,
      |  COUNT(c) AS reached_click, COUNT(p) AS reached_purchase
      |FROM a2""".stripMargin))

  private val q89 = Q("q89_retention",
    (s, dir) => {
      // Weekly retention cohorts: cohort week = first signup week; a
      // (cohort, offset) cell counts distinct users active k weeks later.
      // Two keyed aggs + one join on user_id; cells bounded by
      // weeks x offsets, not by events.
      val weekUs = 604800000000L
      val ev = t(s, dir, "events")
      val e = ev.select(col("user_id"), col("event_type"),
        EventTime.tsMicros(ev).as("ts_us"))
      val cohorts = e.filter(col("event_type") === "signup")
        .groupBy(col("user_id"))
        .agg(min(expr(s"ts_us DIV $weekUs")).as("cohort_week"))
      val active = e.select(col("user_id"),
        expr(s"ts_us DIV $weekUs").as("active_week")).distinct()
      cohorts.join(active, Seq("user_id"))
        .withColumn("k", col("active_week") - col("cohort_week"))
        .filter(col("k").between(0, 3))
        .groupBy(col("cohort_week"), col("k"))
        .agg(countDistinct(col("user_id")).as("n_users"))
        .orderBy(col("cohort_week"), col("k"))
    },
    Some("""WITH cohorts AS (
      |  SELECT user_id, MIN(epoch_us(ts) // 604800000000)
      |    AS cohort_week
      |  FROM events WHERE event_type = 'signup' GROUP BY user_id),
      |active AS (SELECT DISTINCT user_id,
      |    epoch_us(ts) // 604800000000 AS active_week FROM events)
      |SELECT cohort_week, active_week - cohort_week AS k,
      |  COUNT(DISTINCT c.user_id) AS n_users
      |FROM cohorts c JOIN active a ON c.user_id = a.user_id
      |WHERE active_week - cohort_week BETWEEN 0 AND 3
      |GROUP BY cohort_week, k ORDER BY cohort_week, k""".stripMargin))

  private val q90 = Q("q90_percent_of_total",
    (s, dir) => {
      // Percent-of-total / ratio-to-report: the share window runs over
      // the ALREADY-AGGREGATED frame (one row per group), so the
      // unpartitioned window is group-count-sized — never a
      // single-partition pass over the fact table.
      // Exactness: numerator and denominator stay DECIMAL through the
      // group agg AND the share window (decimal sums are order-free), and
      // become doubles only at the final division — windowed double sums
      // would round differently per accumulation order.
      val agg = t(s, dir, "orders")
        .groupBy(col("o_orderpriority"))
        .agg(sum(col("o_totalprice").cast("decimal(18,4)")).as("rdec"))
      val wAll = Window.partitionBy()
      agg.select(col("o_orderpriority"),
        col("rdec").cast("double").as("revenue"),
        (col("rdec").cast("double") /
          sum(col("rdec")).over(wAll).cast("double")).as("share"))
        .orderBy(col("o_orderpriority"))
    },
    Some("""WITH agg AS (SELECT o_orderpriority,
      |  SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS rdec
      |  FROM orders GROUP BY o_orderpriority)
      |SELECT o_orderpriority, CAST(rdec AS DOUBLE) AS revenue,
      |  CAST(rdec AS DOUBLE) / CAST(SUM(rdec) OVER () AS DOUBLE) AS share
      |FROM agg ORDER BY o_orderpriority""".stripMargin))

  private val q91 = Q("q91_lateral_topn",
    (s, dir) => {
      // Correlated LATERAL subquery: per-nation top customer by balance.
      // Catalyst decorrelates the lateral into a ranked join (no
      // per-outer-row re-execution); prefixed temp view names keep the
      // session namespace collision-free across the query surface.
      t(s, dir, "nation").createOrReplaceTempView("q91_nation")
      t(s, dir, "customer").createOrReplaceTempView("q91_customer")
      s.sql("""
        SELECT n.n_name, l.c_custkey AS top_custkey,
               l.c_acctbal AS top_acctbal
        FROM q91_nation n
        JOIN LATERAL (
          SELECT c_custkey, c_acctbal FROM q91_customer c
          WHERE c.c_nationkey = n.n_nationkey
          ORDER BY c_acctbal DESC, c_custkey LIMIT 1) l
        ORDER BY n.n_name""")
    },
    Some("""SELECT n.n_name, l.c_custkey AS top_custkey,
      |  l.c_acctbal AS top_acctbal
      |FROM nation n, LATERAL (
      |  SELECT c_custkey, c_acctbal FROM customer c
      |  WHERE c.c_nationkey = n.n_nationkey
      |  ORDER BY c_acctbal DESC, c_custkey LIMIT 1) l
      |ORDER BY n.n_name""".stripMargin))

  private val q92 = Q("q92_recursive_cte",
    (s, dir) => {
      // Recursive CTE (Spark 4 WITH RECURSIVE): a 12-row month spine
      // generated by recursion, LEFT JOINed to per-month order counts —
      // the recursive complement of q78's sequence() spine. The
      // recursion is bounded and tiny; the fact side aggregates BEFORE
      // the join.
      t(s, dir, "orders").createOrReplaceTempView("q92_orders")
      s.sql("""
        WITH RECURSIVE months(m) AS (
          SELECT 1 UNION ALL SELECT m + 1 FROM months WHERE m < 12)
        SELECT m AS month, COALESCE(n, CAST(0 AS BIGINT)) AS n_orders
        FROM months
        LEFT JOIN (
          SELECT MONTH(o_orderdate) AS mo, COUNT(*) AS n
          FROM q92_orders WHERE YEAR(o_orderdate) = 1995
          GROUP BY MONTH(o_orderdate)) d ON d.mo = m
        ORDER BY m""")
    },
    Some("""WITH RECURSIVE months(m) AS (
      |  SELECT 1 UNION ALL SELECT m + 1 FROM months WHERE m < 12)
      |SELECT m AS month, COALESCE(n, CAST(0 AS BIGINT)) AS n_orders
      |FROM months
      |LEFT JOIN (
      |  SELECT CAST(EXTRACT(MONTH FROM o_orderdate) AS INT) AS mo,
      |    COUNT(*) AS n
      |  FROM orders WHERE EXTRACT(YEAR FROM o_orderdate) = 1995
      |  GROUP BY 1) d ON d.mo = m
      |ORDER BY m""".stripMargin))

  private val q93 = Q("q93_set_ops_all",
    (s, dir) => {
      // Multiset set ops (ALL variants — q11/q48 cover the DISTINCT
      // forms): duplicate-preserving difference and intersection of the
      // nation-key multisets of two customer segments. exceptAll/
      // intersectAll compile to count-based joins, not row dedup.
      val a = t(s, dir, "customer")
        .filter(col("c_mktsegment") === "BUILDING")
        .select(col("c_nationkey"))
      val b = t(s, dir, "customer")
        .filter(col("c_mktsegment") === "MACHINERY")
        .select(col("c_nationkey"))
      val diff = a.exceptAll(b)
        .groupBy(col("c_nationkey")).agg(count(lit(1)).as("n_except"))
      val inter = a.intersectAll(b)
        .groupBy(col("c_nationkey")).agg(count(lit(1)).as("n_intersect"))
      diff.join(inter, Seq("c_nationkey"), "full_outer")
        .select(col("c_nationkey"),
          coalesce(col("n_except"), lit(0L)).as("n_except"),
          coalesce(col("n_intersect"), lit(0L)).as("n_intersect"))
        .orderBy(col("c_nationkey"))
    },
    Some("""WITH a AS (SELECT c_nationkey FROM customer
      |    WHERE c_mktsegment = 'BUILDING'),
      |b AS (SELECT c_nationkey FROM customer
      |    WHERE c_mktsegment = 'MACHINERY'),
      |d AS (SELECT c_nationkey, COUNT(*) AS n_except
      |  FROM (SELECT * FROM a EXCEPT ALL SELECT * FROM b)
      |  GROUP BY c_nationkey),
      |i AS (SELECT c_nationkey, COUNT(*) AS n_intersect
      |  FROM (SELECT * FROM a INTERSECT ALL SELECT * FROM b)
      |  GROUP BY c_nationkey)
      |SELECT COALESCE(d.c_nationkey, i.c_nationkey) AS c_nationkey,
      |  COALESCE(n_except, 0) AS n_except,
      |  COALESCE(n_intersect, 0) AS n_intersect
      |FROM d FULL OUTER JOIN i ON d.c_nationkey = i.c_nationkey
      |ORDER BY c_nationkey""".stripMargin))

  private val q94 = Q("q94_robust_outliers",
    (s, dir) => {
      // Robust outlier detection: median + MAD (median absolute
      // deviation), flagging values beyond 3 scaled MADs — the
      // outlier gate that survives heavy tails where mean/stddev
      // (q76) get dragged. Two group-sized quantile frames broadcast
      // back onto the fact side; exact interpolated percentiles whose
      // cross-engine parity is proven by q46/q81.
      val ev = t(s, dir, "events")
      val med = ev.groupBy(col("event_type"))
        .agg(expr("percentile(value, 0.5)").as("med"))
      val dev = ev.join(broadcast(med), Seq("event_type"))
        .withColumn("adev", abs(col("value") - col("med")))
      val mad = dev.groupBy(col("event_type"))
        .agg(expr("percentile(adev, 0.5)").as("mad"))
      dev.join(broadcast(mad), Seq("event_type"))
        .groupBy(col("event_type"))
        .agg(first(col("med")).as("med"), first(col("mad")).as("mad"),
          sum(when(col("adev") > lit(3.0) * lit(1.4826) * col("mad"), 1L)
            .otherwise(0L)).as("n_outliers"),
          count(lit(1)).as("n"))
        .orderBy(col("event_type"))
    },
    Some("""WITH med AS (SELECT event_type,
      |    quantile_cont(value, 0.5) AS med
      |  FROM events GROUP BY event_type),
      |dev AS (SELECT e.event_type, e.value, m.med,
      |    abs(e.value - m.med) AS adev
      |  FROM events e JOIN med m USING (event_type)),
      |mad AS (SELECT event_type, quantile_cont(adev, 0.5) AS mad
      |  FROM dev GROUP BY event_type)
      |SELECT d.event_type, MIN(d.med) AS med, MIN(m.mad) AS mad,
      |  CAST(SUM(CASE WHEN d.adev > 3.0 * 1.4826 * m.mad
      |    THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
      |  COUNT(*) AS n
      |FROM dev d JOIN mad m USING (event_type)
      |GROUP BY d.event_type ORDER BY d.event_type""".stripMargin))

  private val q95 = Q("q95_dup_ngrams",
    (s, dir) => {
      // Token 3-gram cross-document duplication profile — the
      // suffix-array dedup signal of Lee et al. 2022 as a distributed
      // plan (Dedup.duplicateNgramProfile): fraction of each doc's token
      // spans that also occur in another document. Raw-gram keys here so
      // the chain is oracle-replayable; the hashGrams=true scale path
      // (8-byte xxhash64 shuffle keys) is asserted value-identical in
      // DedupSpec.
      Dedup.duplicateNgramProfile(t(s, dir, "documents"), "doc_id", "text",
        n = 3, hashGrams = false)
        .orderBy(col("dup_frac").desc, col("doc_id")).limit(20)
    },
    Some("""WITH toks AS (
      |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'),
      |    t -> t <> '') AS tk FROM documents),
      |grams AS (
      |  SELECT doc_id, array_to_string(tk[i:i+2], ' ') AS gram FROM (
      |    SELECT doc_id, tk,
      |      unnest(generate_series(1, greatest(len(tk) - 2, 0))) AS i
      |    FROM toks WHERE len(tk) >= 3)),
      |gd AS (SELECT gram, COUNT(DISTINCT doc_id) AS nd FROM grams GROUP BY gram)
      |SELECT doc_id, COUNT(*) AS n_grams,
      |  CAST(SUM(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
      |  ROUND(CAST(SUM(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
      |    / COUNT(*), 6) AS dup_frac
      |FROM grams JOIN gd USING (gram)
      |GROUP BY doc_id
      |ORDER BY dup_frac DESC, doc_id LIMIT 20""".stripMargin))

  private val q96 = Q("q96_neardup_clusters",
    (s, dir) => {
      // Near-dup CLUSTERS, oracle-checked end to end: the q57 portable
      // MinHash chain produces verified pairs; connectedComponents turns
      // them into transitive clusters (min reachable id as the label).
      // The oracle replays the same chain and closes it with a recursive
      // CTE — so the distributed min-label propagation is verified
      // against an exact SQL transitive closure.
      val pairs = Dedup.portableNearDups(t(s, dir, "documents"),
        "doc_id", "text",
        numHashes = 64, bands = 16, shingleSize = 3, threshold = 0.8)
      Dedup.connectedComponents(pairs).orderBy(col("id"))
    },
    Some(s"""WITH RECURSIVE $portableChainCtes,
      |sym AS (
      |  SELECT id_a AS a, id_b AS b FROM verified
      |  UNION SELECT id_b, id_a FROM verified
      |  UNION SELECT id_a, id_a FROM verified
      |  UNION SELECT id_b, id_b FROM verified),
      |reach(a, b) AS (
      |  SELECT a, b FROM sym
      |  UNION
      |  SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a)
      |SELECT a AS id, MIN(b) AS component FROM reach
      |GROUP BY a ORDER BY id""".stripMargin))

  private val q97 = Q("q97_bloom_semijoin",
    (s, dir) => {
      // Bloom-prefiltered semi-join (BloomJoin.semiJoin): the build
      // side's keys aggregate into a bloom that drops probe rows BEFORE
      // the join's shuffle; the real semi-join then removes the bloom's
      // false positives, so the result is exactly `WHERE … IN (…)` — the
      // oracle is the plain semi-join, proving the prefilter changes the
      // plan, never the answer. Shuffle-volume reduction is asserted
      // separately in BloomJoinSpec via PlanMetrics.
      val li = t(s, dir, "lineitem")
      val urgent = t(s, dir, "orders")
        .filter(col("o_orderpriority") === "1-URGENT")
      graft.operators.BloomJoin.semiJoin(li, urgent,
          "l_orderkey", "o_orderkey", expectedItems = 100000L)
        .groupBy(col("l_returnflag"))
        .agg(sumd(col("l_quantity")).as("sum_qty"),
          count(lit(1)).as("n"))
        .orderBy(col("l_returnflag"))
    },
    Some("""SELECT l_returnflag,
      |CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
      |COUNT(*) AS n
      |FROM lineitem
      |WHERE l_orderkey IN (SELECT o_orderkey FROM orders
      |  WHERE o_orderpriority = '1-URGENT')
      |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin))

  private val q98 = Q("q98_unpivot",
    (s, dir) => {
      // Wide-to-long reshape (Dataset.unpivot) — the inverse of q18's
      // pivot, completing the reshaping pair. Values share the double
      // type; metric names come from the source column names in both
      // engines.
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(sumd(col("l_quantity")).as("qty"),
          sumd(col("l_extendedprice")).as("price"),
          sum(discPrice).cast("double").as("disc"))
        .unpivot(Array(col("l_returnflag")),
          Array(col("qty"), col("price"), col("disc")), "metric", "value")
        .orderBy(col("l_returnflag"), col("metric"))
    },
    Some(s"""SELECT l_returnflag, metric, value FROM (
      |  SELECT l_returnflag,
      |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS qty,
      |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS price,
      |    CAST(CAST(SUM($discPriceSql) AS VARCHAR) AS DOUBLE) AS disc
      |  FROM lineitem GROUP BY l_returnflag)
      |  UNPIVOT (value FOR metric IN (qty, price, disc))
      |ORDER BY l_returnflag, metric""".stripMargin))

  private val q99 = Q("q99_token_budget",
    (s, dir) => {
      // Per-source token-budget selection (Mixing.selectWithinTokenBudget):
      // greedily keep the best-quality docs per source while the running
      // token total stays within budget — a data recipe's per-source cap
      // in tokens, not rows. Quality ordering ties break on doc_id so the
      // budget-edge row is layout-independent.
      val d = t(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          TF.tokenCount(col("text")).cast("long").as("n_tokens"),
          TF.qualityScore(col("text")).as("quality"))
      graft.operators.Mixing.selectWithinTokenBudget(
          d, "source", "n_tokens", budget = 2000L,
          Seq(col("quality").desc, col("doc_id")))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          max(col("__cum")).as("tokens_used"))
        .orderBy(col("source"))
    },
    Some(s"""WITH scored AS (
      |  SELECT doc_id, source, CAST(len(toks) AS BIGINT) AS n_tokens,
      |    $qualitySqlExpr AS quality
      |  FROM (SELECT doc_id, source, text,
      |    list_filter(string_split_regex(lower(text), '\\s+'), t -> t <> '')
      |      AS toks FROM documents)),
      |sel AS (
      |  SELECT source, CAST(SUM(n_tokens) OVER (PARTITION BY source
      |    ORDER BY quality DESC, doc_id) AS BIGINT) AS cum
      |  FROM scored)
      |SELECT source, COUNT(*) AS n_docs, MAX(cum) AS tokens_used
      |FROM sel WHERE cum <= 2000
      |GROUP BY source ORDER BY source""".stripMargin))

  private val q100 = Q("q100_range_join",
    (s, dir) => {
      // Bucketized interval join (RangeJoin.pointInInterval): shipment
      // dates joined to week-long windows through an equi-join on 7-day
      // buckets + the exact BETWEEN in the same stage — never a
      // BroadcastNestedLoopJoin (asserted in RangeJoinSpec). The oracle
      // is the plain theta join, proving the bucketing is invisible in
      // the result.
      val windows = t(s, dir, "orders")
        .filter(col("o_orderkey") % 1000 === 0)
        .select(col("o_orderkey").as("window_id"),
          col("o_orderdate").cast("date").as("lo"),
          date_add(col("o_orderdate").cast("date"), 6).as("hi"))
      val ships = t(s, dir, "lineitem")
        .select(col("l_shipdate").cast("date").as("ship"),
          col("l_quantity"))
      graft.operators.RangeJoin.pointInInterval(ships, windows,
          "ship", "lo", "hi",
          c => floor(datediff(c, lit("1970-01-01").cast("date")) / 7))
        .groupBy(col("window_id"))
        .agg(count(lit(1)).as("n_items"),
          sumd(col("l_quantity")).as("sum_qty"))
        .orderBy(col("window_id"))
    },
    Some("""WITH w AS (SELECT o_orderkey AS window_id,
      |    CAST(o_orderdate AS DATE) AS lo,
      |    CAST(o_orderdate AS DATE) + 6 AS hi
      |  FROM orders WHERE o_orderkey % 1000 = 0)
      |SELECT window_id, COUNT(*) AS n_items,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
      |FROM lineitem JOIN w
      |  ON CAST(l_shipdate AS DATE) BETWEEN w.lo AND w.hi
      |GROUP BY window_id ORDER BY window_id""".stripMargin))

  private val q101 = Q("q101_hard_negatives",
    (s, dir) => {
      // Hard-negative mining (Similarity.hardNegatives): per query
      // vector, the top-3 most-cosine-similar vectors with a DIFFERENT
      // label — broadcast queries + one corpus scan + the custom
      // bounded-heap TopKPerGroup operator. Ranking runs on the
      // unrounded cosine in both engines; rounding is output-only.
      val e = t(s, dir, "embeddings")
      val queries = e.filter(col("vec_id") < 5)
      Similarity.hardNegatives(e, queries,
          "vec_id", "embedding", "label", "vec_id", k = 3)
        .select(col("query_id"), col("vec_id"),
          round(col("cosine"), 6).as("cosine"))
        .orderBy(col("query_id"), col("cosine").desc, col("vec_id"))
    },
    Some("""WITH q AS (SELECT vec_id AS query_id,
      |    CAST(embedding AS DOUBLE[]) AS qv, label AS qlabel
      |  FROM embeddings WHERE vec_id < 5),
      |scored AS (
      |  SELECT q.query_id, e.vec_id,
      |    list_dot_product(CAST(e.embedding AS DOUBLE[]), q.qv) /
      |    (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
      |                           CAST(e.embedding AS DOUBLE[]))) *
      |     sqrt(list_dot_product(q.qv, q.qv))) AS c
      |  FROM embeddings e JOIN q ON e.label <> q.qlabel),
      |ranked AS (
      |  SELECT query_id, vec_id, c,
      |    ROW_NUMBER() OVER (PARTITION BY query_id
      |      ORDER BY c DESC, vec_id) AS rn
      |  FROM scored)
      |SELECT query_id, vec_id, ROUND(c, 6) AS cosine FROM ranked
      |WHERE rn <= 3 ORDER BY query_id, cosine DESC, vec_id""".stripMargin))

  private val q102 = Q("q102_scd2",
    (s, dir) => {
      // SCD2 dimension build (Scd2.fromChangeLog): the events change log
      // becomes validity intervals per user — change compression via lag,
      // interval close via lead, BOTH windows over the same user_id
      // partitioning so the whole build is one shuffle. Interval bounds
      // are epoch MICROS (EventTime.tsMicros ↔ DuckDB epoch_us) — the engines'
      // shared exact precision; DuckDB's epoch_ns pads sub-micro digits
      // with zeros and would hash-mismatch the raw nanos. The micro
      // truncation can collide two events onto one (user_id, ts) —
      // violating fromChangeLog's (key, ts)-uniqueness contract and
      // making lag/lead order nondeterministic in BOTH engines — so ties
      // are resolved to min(event_type) before the build.
      val ev0 = t(s, dir, "events")
      val ev = ev0.filter(col("user_id") < 50)
        .select(col("user_id"), EventTime.tsMicros(ev0).as("ts"),
          col("event_type"))
        .groupBy(col("user_id"), col("ts"))
        .agg(min(col("event_type")).as("event_type"))
      graft.operators.Scd2
        .fromChangeLog(ev, Seq("user_id"), Seq("event_type"), "ts")
        .orderBy(col("user_id"), col("valid_from"))
    },
    Some("""WITH ev AS (
      |  SELECT user_id, epoch_us(ts) AS ts, MIN(event_type) AS event_type
      |  FROM events WHERE user_id < 50 GROUP BY user_id, epoch_us(ts)),
      |o AS (
      |  SELECT user_id, ts, event_type,
      |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts) AS prev
      |  FROM ev),
      |ch AS (
      |  SELECT user_id, ts, event_type FROM o
      |  WHERE prev IS NULL OR prev <> event_type),
      |scd AS (
      |  SELECT user_id, event_type, ts AS valid_from,
      |    lead(ts) OVER (PARTITION BY user_id ORDER BY ts) AS valid_to
      |  FROM ch)
      |SELECT user_id, event_type, valid_from, valid_to,
      |  valid_to IS NULL AS is_current
      |FROM scd ORDER BY user_id, valid_from""".stripMargin))

  private val q103 = Q("q103_heavy_hitters",
    (s, dir) => {
      // Exact heavy hitters via sketch-then-verify
      // (HeavyHitters.exact): pass 1 merges bounded Misra-Gries
      // summaries — a custom TypedImperativeAggregate whose shuffle is
      // O(capacity) per partition, not one row per distinct token; pass
      // 2 exact-counts only the candidates. The threshold ceil(theta*n)
      // is computed with the same double math in both engines.
      val toks = t(s, dir, "documents")
        .select(explode(TF.tokens(col("text"))).as("tok"))
      graft.operators.HeavyHitters.exact(toks, "tok", theta = 0.034)
        .orderBy(col("tok"))
    },
    Some("""WITH toks AS (
      |  SELECT unnest(list_filter(string_split_regex(lower(text), '\s+'),
      |    t -> t <> '')) AS tok FROM documents),
      |tot AS (SELECT COUNT(*) AS n FROM toks)
      |SELECT tok, COUNT(*) AS cnt
      |FROM toks, tot
      |GROUP BY tok, n
      |HAVING COUNT(*) >= CAST(ceil(0.034 * n) AS BIGINT)
      |ORDER BY tok""".stripMargin))

  private val q104 = Q("q104_class_balance",
    (s, dir) => {
      // Class-balanced downsampling (Sampling.balanceClasses): every
      // label keeps exactly min-class-count rows, chosen by 60-bit
      // md5-prefix hash order on vec_id — deterministic and
      // layout-independent; rides the heap TopKPerGroupExec (no
      // per-class sort) behind one scalar cutoff collect. The output
      // pins WHICH rows survived (sum of kept ids per class), not just
      // how many; the oracle replays the identical hash order.
      val e = t(s, dir, "embeddings")
      graft.operators.Sampling.balanceClasses(e, "vec_id", "label")
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n_kept"),
          sum(col("vec_id")).as("sum_ids"))
        .orderBy(col("label"))
    },
    Some("""WITH ranked AS (
      |  SELECT label, vec_id,
      |    ROW_NUMBER() OVER (PARTITION BY label
      |      ORDER BY ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT,
      |        vec_id) AS rk
      |  FROM embeddings),
      |m AS (SELECT MIN(cnt) AS mn FROM (
      |  SELECT COUNT(*) AS cnt FROM embeddings GROUP BY label))
      |SELECT label, COUNT(*) AS n_kept, CAST(SUM(vec_id) AS BIGINT) AS sum_ids
      |FROM ranked, m WHERE rk <= mn
      |GROUP BY label ORDER BY label""".stripMargin))

  private val q105 = Q("q105_mrl_rerank",
    (s, dir) => {
      // Matryoshka two-stage ANN (Similarity.truncatedRerank): stage 1
      // ranks on the first 16 of 64 dimensions (the corpus-wide scan
      // touches 1/4 of the vector bytes), keeps a 20-deep shortlist per
      // query via the bounded-heap TopKPerGroup, stage 2 reranks the
      // shortlist at full dimension and keeps 5. The oracle replays
      // both stages exactly — slice, rank, rerank — so shortlist edges
      // and ties are verified, not just the final ids.
      val e = t(s, dir, "embeddings")
      val queries = e.filter(col("vec_id") < 5)
      Similarity.truncatedRerank(e, queries,
          "vec_id", "embedding", "vec_id",
          prefixDim = 16, shortlist = 20, k = 5)
        .select(col("query_id"), col("vec_id"),
          round(col("cosine"), 6).as("cosine"))
        .orderBy(col("query_id"), col("cosine").desc, col("vec_id"))
    },
    Some("""WITH q AS (
      |  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
      |  FROM embeddings WHERE vec_id < 5),
      |pre AS (
      |  SELECT q.query_id, e.vec_id,
      |    CAST(e.embedding AS DOUBLE[]) AS ev, q.qv,
      |    list_dot_product(CAST(e.embedding AS DOUBLE[])[1:16], q.qv[1:16]) /
      |      (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[])[1:16],
      |                             CAST(e.embedding AS DOUBLE[])[1:16])) *
      |       sqrt(list_dot_product(q.qv[1:16], q.qv[1:16]))) AS pc
      |  FROM embeddings e, q),
      |short AS (
      |  SELECT query_id, vec_id, ev, qv FROM (
      |    SELECT pre.*, ROW_NUMBER() OVER (PARTITION BY query_id
      |      ORDER BY pc DESC, vec_id) AS rn FROM pre)
      |  WHERE rn <= 20),
      |rr AS (
      |  SELECT query_id, vec_id,
      |    list_dot_product(ev, qv) /
      |      (sqrt(list_dot_product(ev, ev)) *
      |       sqrt(list_dot_product(qv, qv))) AS c
      |  FROM short),
      |ranked AS (
      |  SELECT query_id, vec_id, c,
      |    ROW_NUMBER() OVER (PARTITION BY query_id
      |      ORDER BY c DESC, vec_id) AS rn
      |  FROM rr)
      |SELECT query_id, vec_id, ROUND(c, 6) AS cosine FROM ranked
      |WHERE rn <= 5 ORDER BY query_id, cosine DESC, vec_id""".stripMargin))

  private val q106 = Q("q106_interval_window",
    (s, dir) => {
      // TIME-based sliding window (RANGE frame over epoch micros): per
      // user, events and value-sum within the PRECEDING HOUR of each
      // event — the value-based frame built-in window aggregation that
      // rows-based frames (q19) can't express. RANGE includes ties
      // symmetrically, so same-timestamp events see identical frames and
      // the aggregates are order-independent; floor(value) keeps the
      // windowed sum in exact integer arithmetic on both engines.
      val ev0 = t(s, dir, "events")
      val ev = ev0.filter(col("user_id") < 30)
        .select(col("event_id"), col("user_id"),
          EventTime.tsMicros(ev0).as("ts_us"),
          floor(col("value")).cast("long").as("v"))
      val hour = Window.partitionBy(col("user_id")).orderBy(col("ts_us"))
        .rangeBetween(-3600L * 1000000L, 0L)
      ev.select(col("event_id"), col("user_id"), col("ts_us"),
          count(lit(1)).over(hour).as("n_1h"),
          sum(col("v")).over(hour).as("sum_1h"))
        .orderBy(col("event_id"))
    },
    Some("""SELECT event_id, user_id, ts_us,
      |  COUNT(*) OVER w AS n_1h,
      |  CAST(SUM(v) OVER w AS BIGINT) AS sum_1h
      |FROM (SELECT event_id, user_id, epoch_us(ts) AS ts_us,
      |    CAST(FLOOR(value) AS BIGINT) AS v
      |  FROM events WHERE user_id < 30)
      |WINDOW w AS (PARTITION BY user_id ORDER BY ts_us
      |  RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
      |ORDER BY event_id""".stripMargin))

  private val q107 = Q("q107_bag_dedup",
    (s, dir) => {
      // Order-insensitive exact dedup (Dedup.bagDuplicateGroups): docs
      // whose token MULTISETS are equal collide on an md5 of the sorted
      // token list — catches sentence-shuffle / concatenation-order
      // duplicates that byte-exact dedup (q34) misses, with no
      // similarity threshold. One hash-aggregate; the 32-char
      // fingerprint is the shuffle key, never the full text.
      // minGroupSize=1 + top-20 so the md5 fingerprint VALUES are
      // hash-compared even at scales where no collision exists (dup
      // groups sort first when present — sf0.1 has 8).
      Dedup.bagDuplicateGroups(t(s, dir, "documents"), "doc_id", "text",
          minGroupSize = 1L)
        .orderBy(col("n_docs").desc, col("rep_id")).limit(20)
    },
    Some("""SELECT md5(array_to_string(list_sort(tk), ' ')) AS fingerprint,
      |  MIN(doc_id) AS rep_id, COUNT(*) AS n_docs
      |FROM (SELECT doc_id, list_filter(
      |    string_split_regex(lower(text), '\s+'), t -> t <> '') AS tk
      |  FROM documents)
      |GROUP BY 1
      |ORDER BY n_docs DESC, rep_id LIMIT 20""".stripMargin))

  private val q108 = Q("q108_collocations",
    (s, dir) => {
      // Bigram collocation mining (Collocations.topCollocations): lift =
      // n_ab·N/(n_a·n_b) over adjacent-token bigrams, all counts from
      // one bigram table. Lift, not PMI: the ratio of exact integer
      // counts divides to an identically-rounded double everywhere,
      // while ln() is libm-dependent. Corpus is exploded once; the
      // marginal windows run over the vocab-sized COUNTS table.
      Collocations.topCollocations(t(s, dir, "documents"), "text",
        minCount = 5L, k = 20)
    },
    Some("""WITH bi AS (
      |  SELECT tk[i] AS w1, tk[i+1] AS w2 FROM (
      |    SELECT tk, unnest(generate_series(1, len(tk) - 1)) AS i
      |    FROM (SELECT list_filter(
      |        string_split_regex(lower(text), '\s+'), t -> t <> '') AS tk
      |      FROM documents)
      |    WHERE len(tk) >= 2)),
      |c AS (SELECT w1, w2, COUNT(*) AS n_ab FROM bi GROUP BY w1, w2),
      |m AS (SELECT w1, w2, n_ab,
      |  CAST(SUM(n_ab) OVER (PARTITION BY w1) AS BIGINT) AS n_a,
      |  CAST(SUM(n_ab) OVER (PARTITION BY w2) AS BIGINT) AS n_b,
      |  CAST(SUM(n_ab) OVER () AS BIGINT) AS n FROM c)
      |SELECT w1, w2, n_ab,
      |  ROUND(CAST(n_ab * n AS DOUBLE) / (n_a * n_b), 6) AS lift
      |FROM m WHERE n_ab >= 5
      |ORDER BY lift DESC, w1, w2 LIMIT 20""".stripMargin))

  private val q109 = Q("q109_leakage_split",
    (s, dir) => {
      // Leakage-safe train/eval split (Sampling.leakageSafeSplit): the
      // hash-split key is the near-dup CLUSTER representative (connected
      // component over the q57 verified-pair graph), so near-duplicates
      // land in the same split by construction — the composition of the
      // sketch chain, clustering, and the deterministic md5 bucket,
      // oracle-replayed end to end including the recursive closure.
      val docs = t(s, dir, "documents")
      val pairs = Dedup.portableNearDups(docs, "doc_id", "text",
        numHashes = 64, bands = 16, shingleSize = 3, threshold = 0.8)
      Sampling.leakageSafeSplit(docs, "doc_id", pairs, trainFraction = 0.8)
        .select(col("doc_id"), col("split_key"), col("split"))
        .orderBy(col("doc_id"))
    },
    Some(s"""WITH RECURSIVE $portableChainCtes,
      |sym AS (
      |  SELECT id_a AS a, id_b AS b FROM verified
      |  UNION SELECT id_b, id_a FROM verified
      |  UNION SELECT id_a, id_a FROM verified
      |  UNION SELECT id_b, id_b FROM verified),
      |reach(a, b) AS (
      |  SELECT a, b FROM sym
      |  UNION
      |  SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a),
      |comp AS (SELECT a AS id, MIN(b) AS component FROM reach GROUP BY a)
      |SELECT doc_id, split_key,
      |  CASE WHEN ((('0x' || substr(md5(CAST(split_key AS VARCHAR)), 1, 4))
      |    ::BIGINT % 1000) + 1000) % 1000 < 800
      |    THEN 'train' ELSE 'eval' END AS split
      |FROM (SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS split_key
      |  FROM documents d LEFT JOIN comp c ON d.doc_id = c.id)
      |ORDER BY doc_id""".stripMargin))

  private val q110 = Q("q110_containment",
    (s, dir) => {
      // Asymmetric containment verify (Dedup.containmentVerify) on the
      // SAME portable LSH candidates as q57: |A∩B|/min(|A|,|B|) over
      // shingle sets scores subset/quotation duplicates that Jaccard
      // under-ranks (a doc fully inside a 3×-longer one: containment 1.0,
      // Jaccard 1/3). Candidate recall stays bounded by the Jaccard-LSH
      // buckets — documented at the operator; the oracle replays the
      // identical candidates so the verify math is checked exactly.
      val docs = t(s, dir, "documents")
      val cand = Dedup.candidatePairs(
        Dedup.portableBuckets(docs, "doc_id", "text",
          numHashes = 64, bands = 16, shingleSize = 3), "doc_id")
      Dedup.containmentVerify(cand, docs, "doc_id", "text",
          shingleSize = 3, threshold = 0.5)
        .orderBy(col("id_a"), col("id_b"))
    },
    Some(s"""WITH $portableChainCtes
      |SELECT id_a, id_b, ROUND(c, 6) AS containment FROM (
      |  SELECT id_a, id_b,
      |    CAST(len(list_intersect(sa.st, sb.st)) AS DOUBLE) /
      |    least(len(sa.st), len(sb.st)) AS c
      |  FROM cand JOIN sets sa ON sa.doc_id = cand.id_a
      |            JOIN sets sb ON sb.doc_id = cand.id_b)
      |WHERE c >= 0.5 ORDER BY id_a, id_b""".stripMargin))

  private val q111 = Q("q111_skipgrams",
    (s, dir) => {
      // Skip-gram co-occurrence pairs (Collocations.topSkipgrams): for
      // each token, the up-to-2 tokens following it — word2vec-style
      // training-pair generation. Pair construction is MAP-ONLY (nested
      // transform + flatten + explode inside codegen, no self-join on
      // position); the only shuffle is the final count aggregate.
      Collocations.topSkipgrams(t(s, dir, "documents"), "text",
        window = 2, k = 20)
    },
    Some("""WITH pr AS (
      |  SELECT unnest(flatten(list_transform(
      |    generate_series(1, len(tk) - 1), i ->
      |      list_transform(generate_series(1, least(2, len(tk) - i)), j ->
      |        [tk[i], tk[i + j]])))) AS p
      |  FROM (SELECT list_filter(
      |      string_split_regex(lower(text), '\s+'), t -> t <> '') AS tk
      |    FROM documents)
      |  WHERE len(tk) >= 2)
      |SELECT p[1] AS center, p[2] AS context, COUNT(*) AS n
      |FROM pr GROUP BY 1, 2
      |ORDER BY n DESC, center, context LIMIT 20""".stripMargin))

  private val q112 = Q("q112_adaptive_quality",
    (s, dir) => {
      // Per-language ADAPTIVE quality gate (the CCNet-style recipe): the
      // cutoff is each language's own exact 25th-percentile quality
      // score, not a global constant — so low-resource languages aren't
      // wiped out by a threshold tuned on the dominant one. Quantile
      // frame is |langs| rows -> broadcast back; the gate is map-side.
      // percentile()/quantile_cont parity is the q81-proven pattern.
      val d = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"),
          TF.qualityScore(col("text")).as("quality"))
      val th = d.groupBy(col("lang"))
        .agg(expr("percentile(quality, 0.25)").as("q25"))
      d.join(broadcast(th), Seq("lang"))
        .groupBy(col("lang"))
        .agg(round(first(col("q25")), 6).as("threshold"),
          count(lit(1)).as("n_total"),
          sum(when(col("quality") >= col("q25"), 1).otherwise(0))
            .cast("bigint").as("n_kept"))
        .orderBy(col("lang"))
    },
    Some(s"""WITH d AS (
      |  SELECT doc_id, lang, $qualitySqlExpr AS quality
      |  FROM (SELECT doc_id, lang, text,
      |    list_filter(string_split_regex(lower(text), '\\s+'), t -> t <> '')
      |      AS toks FROM documents)),
      |th AS (SELECT lang, quantile_cont(quality, 0.25) AS q25
      |  FROM d GROUP BY lang)
      |SELECT lang, ROUND(MIN(q25), 6) AS threshold, COUNT(*) AS n_total,
      |  CAST(SUM(CASE WHEN quality >= q25 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_kept
      |FROM d JOIN th USING (lang)
      |GROUP BY lang ORDER BY lang""".stripMargin))

  private val q113 = Q("q113_domain_cap",
    (s, dir) => {
      // Per-source document cap (Sampling.capPerGroup): at most 15 docs
      // per source, survivors decided by 60-bit md5-prefix hash order —
      // the docs-per-domain ceiling every crawl recipe applies so one
      // site can't dominate the mixture. Deterministic and
      // layout-independent like every sampler here; rides the heap
      // TopKPerGroupExec (no per-source sort), one shuffle on the group
      // column. The oracle replays the identical hash order.
      Sampling.capPerGroup(t(s, dir, "documents"), "doc_id", "source", 15)
        .select(col("doc_id"), col("source"))
        .orderBy(col("doc_id"))
    },
    Some("""SELECT doc_id, source FROM (
      |  SELECT doc_id, source, ROW_NUMBER() OVER (PARTITION BY source
      |    ORDER BY ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT,
      |      doc_id) AS rk
      |  FROM documents)
      |WHERE rk <= 15 ORDER BY doc_id""".stripMargin))

  private val q114 = Q("q114_cluster_keep_best",
    (s, dir) => {
      // Quality-argmax near-dup survivor (Dedup.keepBestPerCluster): the
      // kept member of each near-dup cluster is the HIGHEST-quality one
      // (ties to lowest id), not an arbitrary id — composed from the q57
      // verified pairs, connected components, and the q31 quality score,
      // with the oracle replaying all three plus the ranking. Output is
      // the per-cluster winners (kept ∩ pair nodes).
      val docs = t(s, dir, "documents")
        .withColumn("quality", TF.qualityScore(col("text")))
      val pairs = Dedup.portableNearDups(docs, "doc_id", "text",
        numHashes = 64, bands = 16, shingleSize = 3, threshold = 0.8)
      // bestPerCluster ≡ keepBestPerCluster ∩ pair nodes, but the pair
      // chain executes ONCE (a separate node-set recompute would run
      // the whole LSH sketch→bucket→verify pipeline a second time)
      Dedup.bestPerCluster(docs, "doc_id", pairs, "quality")
        .select(col("doc_id"), col("quality"))
        .orderBy(col("doc_id"))
    },
    Some(s"""WITH RECURSIVE $portableChainCtes,
      |sym AS (
      |  SELECT id_a AS a, id_b AS b FROM verified
      |  UNION SELECT id_b, id_a FROM verified
      |  UNION SELECT id_a, id_a FROM verified
      |  UNION SELECT id_b, id_b FROM verified),
      |reach(a, b) AS (
      |  SELECT a, b FROM sym
      |  UNION
      |  SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a),
      |comp AS (SELECT a AS id, MIN(b) AS component FROM reach GROUP BY a),
      |q AS (
      |  SELECT doc_id, $qualitySqlExpr AS quality
      |  FROM (SELECT doc_id, text,
      |    list_filter(string_split_regex(lower(text), '\\s+'), t -> t <> '')
      |      AS toks FROM documents)),
      |ranked AS (
      |  SELECT c.id, q.quality, ROW_NUMBER() OVER (PARTITION BY c.component
      |    ORDER BY q.quality DESC, c.id) AS rk
      |  FROM comp c JOIN q ON q.doc_id = c.id)
      |SELECT id AS doc_id, quality FROM ranked WHERE rk = 1
      |ORDER BY doc_id""".stripMargin))

  private val q115 = Q("q115_countmin",
    (s, dir) => {
      // Count-Min sketch frequency estimates (CountMinSketchOps): one
      // aggregate pass folds all token occurrences into a 4×1024 counter
      // table (KBs of shuffle regardless of cardinality), the broadcast
      // sketch answers point queries map-side. The portable md5-affine
      // row hashes make the sketch's VALUES — not just an error bound —
      // exactly replayable in the oracle (the q43/q86 sketches only
      // bound-check). est >= exact always; equality when no collision.
      import graft.operators.CountMinSketchOps
      val toks = t(s, dir, "documents")
        .select(explode(TF.tokens(col("text"))).as("token"))
      val probes = toks.groupBy(col("token"))
        .agg(count(lit(1)).as("exact"))
        .orderBy(col("exact").desc, col("token")).limit(20)
      CountMinSketchOps.estimateCounts(toks, "token", probes, "token",
          depth = 4, width = 1024, seed = 43L)
        .orderBy(col("exact").desc, col("token"))
    },
    Some(cmsOracleSql))

  private val q116 = Q("q116_rank_family",
    (s, dir) => {
      // The remaining ranking-family functions in one query: dense_rank
      // (no gaps after ties) and cume_dist (inclusive CDF), ranked over
      // a deliberately TIED key (price DIV 10000) so the tie semantics —
      // where the three functions differ — are what the oracle checks.
      // cume_dist = ties_inclusive_count/n is a ratio of exact ints; the
      // single double division rounds identically on both engines.
      val tier = floor(col("o_totalprice") / 10000).cast("long")
      val tiers = Window.partitionBy(col("o_orderpriority"))
        .orderBy(tier.desc)
      t(s, dir, "orders")
        .select(col("o_orderpriority"), col("o_orderkey"),
          tier.as("price_tier"),
          dense_rank().over(tiers).as("tier_rank"),
          round(cume_dist().over(tiers), 6).as("tier_cdf"))
        .filter(col("tier_rank") <= 3)
        .orderBy(col("o_orderpriority"), col("tier_rank"), col("o_orderkey"))
    },
    Some("""SELECT o_orderpriority, o_orderkey, price_tier, tier_rank,
      |  tier_cdf FROM (
      |  SELECT o_orderpriority, o_orderkey,
      |    CAST(FLOOR(o_totalprice / 10000) AS BIGINT) AS price_tier,
      |    DENSE_RANK() OVER w AS tier_rank,
      |    ROUND(CUME_DIST() OVER w, 6) AS tier_cdf
      |  FROM orders
      |  WINDOW w AS (PARTITION BY o_orderpriority
      |    ORDER BY CAST(FLOOR(o_totalprice / 10000) AS BIGINT) DESC))
      |WHERE tier_rank <= 3
      |ORDER BY o_orderpriority, tier_rank, o_orderkey""".stripMargin))

  private val q117 = Q("q117_oph_neardup",
    (s, dir) => {
      // One-permutation MinHash (Li/Owen/Zhang 2012) with rotation
      // densification (Shrivastava/Li 2014): ONE md5 per shingle feeds
      // all 64 signature slots (bin = H mod 64, per-bin min; an empty
      // bin borrows from the nearest non-empty bin t to its circular
      // right, displaced by t*2^32) — the sketch pass costs one hash
      // per shingle instead of q57's 64 affine derivations, feeding the
      // identical band -> candidate -> exact-Jaccard verify tail. Fully
      // SQL-replayable because the densified slot reduces to a single
      // MIN: the t*2^32 displacement dominates every 32-bit hash.
      Dedup.ophNearDups(t(s, dir, "documents"), "doc_id", "text",
        numSlots = 64, bands = 16, shingleSize = 3, threshold = 0.8)
        .orderBy(col("id_a"), col("id_b"))
    },
    Some(s"""WITH $ophChainCtes
      |SELECT id_a, id_b, ROUND(j, 6) AS jaccard FROM verified
      |ORDER BY id_a, id_b""".stripMargin))

  /** CTE block replicating [[Dedup.ophNearDups]]'s chain in DuckDB SQL:
    * shared toks/sets/shingle-hash prefix with [[portableChainCtes]],
    * then OPH bins → densified slots (one MIN, see q117's comment) →
    * band buckets → candidates → exact-Jaccard verify. */
  private def ophChainCtes: String = {
    val k = 64; val bands = 16; val r = k / bands
    val c = 4294967296L // must match Dedup.ophOffset
    val bandArms = (0 until bands).map { b =>
      s"SELECT doc_id, $b AS band, " +
        s"('0x' || substr(md5(array_to_string(list_transform(" +
        s"sg[${b * r + 1}:${(b + 1) * r}], v -> CAST(v AS VARCHAR)), ',')), " +
        "1, 15))::BIGINT AS bucket FROM sig"
    }.mkString(" UNION ALL ")
    s"""toks AS (
       |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\\s+'),
       |    t -> t <> '') AS tk FROM documents
       |), sets AS (
       |  SELECT doc_id, list_distinct(list_transform(
       |    range(1, greatest(len(tk) - 1, 1)),
       |    i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS st FROM toks
       |), sh AS (
       |  SELECT doc_id, ('0x' || substr(md5(unnest(st)), 1, 8))::BIGINT AS H
       |  FROM sets
       |), bins AS (
       |  SELECT doc_id, H % $k AS bin, MIN(H) AS mv FROM sh GROUP BY 1, 2
       |), slots AS (
       |  SELECT doc_id, s.j,
       |    MIN(((bin - s.j + $k) % $k) * $c + mv) AS v
       |  FROM bins, (SELECT unnest(range($k)) AS j) s
       |  GROUP BY doc_id, s.j
       |), sig AS (
       |  SELECT doc_id, list(v ORDER BY j) AS sg FROM slots GROUP BY doc_id
       |), buckets AS ($bandArms
       |), cand AS (
       |  SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
       |  FROM buckets x JOIN buckets y
       |    ON x.band = y.band AND x.bucket = y.bucket
       |   AND x.doc_id < y.doc_id
       |), verified AS (
       |  SELECT id_a, id_b, j FROM (
       |    SELECT id_a, id_b,
       |      CAST(len(list_intersect(sa.st, sb.st)) AS DOUBLE) /
       |      CAST(len(list_distinct(list_concat(sa.st, sb.st))) AS DOUBLE) AS j
       |    FROM cand JOIN sets sa ON sa.doc_id = cand.id_a
       |              JOIN sets sb ON sb.doc_id = cand.id_b)
       |  WHERE j >= 0.8
       |)""".stripMargin
  }

  private val q118 = Q("q118_incremental_rollup",
    (s, dir) => {
      // Algebraic partial-state maintenance (PartialAgg): daily
      // (day, priority) states over o_totalprice merged UP to
      // (month, priority) without re-touching raw rows — the
      // materialized-view rollup pattern where "recompute the month"
      // means "merge 30 tiny states", not "rescan the fact table". The
      // oracle aggregates raw directly, so the state→merge→report chain
      // is proven equal to first-principles aggregation; sums ride
      // exact DECIMAL so merge order can't perturb the values.
      val daily = PartialAgg.states(
        t(s, dir, "orders").withColumn("day", to_date(col("o_orderdate"))),
        Seq("day", "o_orderpriority"), col("o_totalprice"))
      val monthly = PartialAgg.merge(
        daily.withColumn("month", trunc(col("day"), "month")),
        Seq("month", "o_orderpriority"))
      PartialAgg.report(monthly, Seq("month", "o_orderpriority"))
        .orderBy(col("month"), col("o_orderpriority"))
    },
    Some("""SELECT date_trunc('month', CAST(o_orderdate AS DATE)) AS month,
      |  o_orderpriority, COUNT(*) AS cnt,
      |  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS VARCHAR)
      |    AS DOUBLE) AS sum_value,
      |  MIN(o_totalprice) AS mn, MAX(o_totalprice) AS mx,
      |  ROUND(CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS
      |    VARCHAR) AS DOUBLE) / COUNT(*), 6) AS avg_value
      |FROM orders GROUP BY 1, 2
      |ORDER BY month, o_orderpriority""".stripMargin))

  private val q119 = Q("q119_kmeans_step",
    (s, dir) => {
      // One FULL distributed Lloyd iteration, SQL-replayable end to end:
      // init centroids = 8 lowest-id vectors, assign (argmin squared L2,
      // ties to lowest centroid), per-dimension means through exact
      // DECIMAL(28,12) (float-origin values are dyadic, so the decimal
      // rounding can never tie — both engines land identical digits),
      // narrow to float32 like the engine's centroid storage, then
      // re-assign under the updated centroids. Proves the distributed
      // k-means update — partial-agg sums, driver-side k×dim collect,
      // broadcast-literal reassign — bit-matches a single-threaded SQL
      // replay of the same math.
      val e = t(s, dir, "embeddings")
      val idx = Similarity.buildIvf(s, e, "vec_id", "embedding",
        nCentroids = 8, iterations = 1)
      idx.assigned.select(col("vec_id"), col("__centroid").as("cluster"))
        .orderBy(col("vec_id"))
    },
    Some("""WITH e AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
      |), cent0 AS (
      |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, v AS cv
      |  FROM e ORDER BY vec_id LIMIT 8
      |), a0 AS (
      |  SELECT vec_id, v, cid FROM (
      |    SELECT e.vec_id, e.v, c.cid,
      |      ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
      |        list_sum(list_transform(range(1, 65),
      |          i -> (e.v[i] - c.cv[i]) * (e.v[i] - c.cv[i]))), c.cid)
      |        AS rn
      |    FROM e, cent0 c) WHERE rn = 1
      |), mean1 AS (
      |  SELECT cid, i AS dim,
      |    CAST(CAST(CAST(SUM(CAST(v[i] AS DECIMAL(28,12))) AS VARCHAR)
      |      AS DOUBLE) / COUNT(*) AS REAL) AS mv
      |  FROM a0, (SELECT unnest(range(1, 65)) AS i) dims
      |  GROUP BY cid, i
      |), cent1 AS (
      |  SELECT c0.cid, COALESCE(m.cv1, c0.cv) AS cv FROM cent0 c0
      |  LEFT JOIN (SELECT cid, list(CAST(mv AS DOUBLE) ORDER BY dim)
      |    AS cv1 FROM mean1 GROUP BY cid) m USING (cid)
      |)
      |SELECT vec_id, cid AS cluster FROM (
      |  SELECT e.vec_id, c.cid,
      |    ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
      |      list_sum(list_transform(range(1, 65),
      |        i -> (e.v[i] - c.cv[i]) * (e.v[i] - c.cv[i]))), c.cid) AS rn
      |  FROM e, cent1 c) WHERE rn = 1
      |ORDER BY vec_id""".stripMargin))

  private val q120 = Q("q120_auc",
    (s, dir) => {
      // Mann–Whitney ROC AUC (Metrics.aucRoc) of the event value
      // separating converting events from the rest — the metric that
      // gates a quality classifier before it filters a corpus. Integer
      // arithmetic (doubled U) until one final division; the global
      // prefix count runs as a sharded window over deterministic
      // approxQuantile boundaries, never a single-reducer sort.
      Metrics.aucRoc(t(s, dir, "events"), col("value"),
        when(col("event_type").isin("click", "purchase"), 1L).otherwise(0L))
    },
    Some("""WITH g AS (
      |  SELECT value AS s,
      |    SUM(CASE WHEN event_type IN ('click','purchase')
      |      THEN 1 ELSE 0 END) AS pos,
      |    SUM(CASE WHEN event_type IN ('click','purchase')
      |      THEN 0 ELSE 1 END) AS neg
      |  FROM events GROUP BY value
      |), c AS (
      |  SELECT pos, neg, COALESCE(SUM(neg) OVER (ORDER BY s
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS below
      |  FROM g
      |)
      |SELECT CAST(SUM(pos) AS BIGINT) AS n_pos,
      |  CAST(SUM(neg) AS BIGINT) AS n_neg,
      |  ROUND(CAST(SUM(pos * (2 * below + neg)) AS DOUBLE) /
      |    (2.0 * SUM(pos) * SUM(neg)), 6) AS auc
      |FROM c""".stripMargin))

  private val q121 = Q("q121_prefix_join",
    (s, dir) => {
      // FULL-corpus prefix-filtered set-similarity self-join
      // (Fuzzy.jaccardSelfJoin — AllPairs/PPJoin, Bayardo et al. WWW'07)
      // over 3-shingle sets: rarity-ordered prefixes give a
      // recall-COMPLETE candidate set for shingle-Jaccard >= t —
      // deterministic, unlike LSH — so with the exact verify the result
      // EQUALS the all-pairs threshold join at bucket-join cost. Same
      // set family and threshold as q57, whose LSH output this provably
      // contains (asserted in DedupSpec); the oracle is an independent
      // complete implementation, so any candidate the prefix filter
      // dropped wrongly would surface as a row mismatch. Shingles (not
      // raw tokens) keep element document frequencies low enough for
      // the prefix to prune — q36 demos the same operator on a carved
      // left side; this is the whole-corpus shape.
      val sets = t(s, dir, "documents").select(col("doc_id"),
        TF.shinglesFast(col("text"), 3).as("sh_set"))
      Fuzzy.jaccardSelfJoin(sets, "doc_id", "sh_set",
          threshold = 0.8, leftPred = lit(true))
        .filter(col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"),
          round(col("jaccard"), 6).as("jaccard"))
        .orderBy(col("id_a"), col("id_b"))
    },
    Some("""WITH sets AS (
      |  SELECT doc_id, list_distinct(list_transform(
      |    range(1, greatest(len(tk) - 1, 1)),
      |    i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS st
      |  FROM (SELECT doc_id, list_filter(string_split_regex(lower(text),
      |    '\s+'), t -> t <> '') AS tk FROM documents)
      |), toks AS (
      |  SELECT doc_id, unnest(st) AS tok FROM sets
      |), dfreq AS (
      |  SELECT tok, COUNT(*) AS df FROM toks GROUP BY tok
      |), sz AS (
      |  SELECT doc_id, COUNT(*) AS n FROM toks GROUP BY doc_id
      |), ranked AS (
      |  SELECT t.doc_id, t.tok,
      |    ROW_NUMBER() OVER (PARTITION BY t.doc_id ORDER BY d.df, t.tok)
      |      AS rk, s.n
      |  FROM toks t JOIN dfreq d USING (tok) JOIN sz s USING (doc_id)
      |), pref AS (
      |  SELECT doc_id, tok FROM ranked
      |  WHERE rk <= n - CAST(CEIL(0.8 * n) AS BIGINT) + 1
      |), cand AS (
      |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      |  FROM pref a JOIN pref b
      |    ON a.tok = b.tok AND a.doc_id < b.doc_id
      |)
      |SELECT id_a, id_b, ROUND(j, 6) AS jaccard FROM (
      |  SELECT id_a, id_b,
      |    CAST(len(list_intersect(sa.st, sb.st)) AS DOUBLE) /
      |    CAST(len(list_distinct(list_concat(sa.st, sb.st))) AS DOUBLE) AS j
      |  FROM cand JOIN sets sa ON sa.doc_id = cand.id_a
      |            JOIN sets sb ON sb.doc_id = cand.id_b)
      |WHERE j >= 0.8
      |ORDER BY id_a, id_b""".stripMargin))

  private val q122 = Q("q122_pagerank",
    (s, dir) => {
      // PageRank over the supplier→customer trade graph (who supplied
      // whom, via lineitem⋈orders), 3 iterations at d=0.85 — the
      // propagation shape behind site-authority scoring of a crawl
      // corpus. Node namespaces are prefixed ('S'/'C') because suppkey
      // and custkey overlap numerically. Every iteration is one
      // edges×ranks join + one per-destination DECIMAL mass sum, so the
      // whole trace is bit-reproducible and the oracle replays all 3
      // iterations in DuckDB; doubles compare exactly.
      // urgent orders only: the full trade graph is near-bipartite-
      // complete (~5M of 15M possible supplier×customer pairs at sf0.1)
      // — a filtered slice keeps real graph structure AND pushes the
      // predicate to the orders scan
      val li = t(s, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey"))
      val o = t(s, dir, "orders")
        .filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey"), col("o_custkey"))
      // Numeric node encoding (round 20, guide §2.3 "narrower types"):
      // the 'S'/'C' namespaces ride as even/odd longs (suppkey·2,
      // custkey·2+1) so every distinct/join/groupBy in the chain hashes
      // and compares 8-byte longs instead of strings; the string ids are
      // reconstructed only for the 20 output rows. The encoding is
      // injective → identical node set, edge set, outdeg and node count
      // → identical exact-DECIMAL mass sums and IEEE rank arithmetic:
      // ranks bit-identical, oracle hash unchanged (re-gated r20).
      val edges = li.join(o, col("l_orderkey") === col("o_orderkey"))
        .select((col("l_suppkey").cast("long") * 2).as("src"),
          (col("o_custkey").cast("long") * 2 + 1).as("dst"))
      // truncateEvery = 3: the 3-round chain fuses into ONE action (the
      // rank recurrence is linear, so nothing recomputes); measured
      // ~8-10 % off the median vs per-iteration localCheckpoint, ranks
      // bit-identical (SCALING.md round 13)
      graft.operators.Graph.pagerank(edges, iterations = 3, damping = 0.85,
        truncateEvery = 3)
        .select(
          concat(when(col("id") % 2 === 0, lit("S")).otherwise(lit("C")),
            shiftright(col("id"), 1)).as("id"),
          round(col("pr"), 9).as("pr"))
        .orderBy(col("pr").desc, col("id")).limit(20)
    },
    Some("""WITH edges AS (
      |  SELECT DISTINCT 'S' || l_suppkey AS src, 'C' || o_custkey AS dst
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |  WHERE o_orderpriority = '1-URGENT'
      |), nodes AS (
      |  SELECT src AS id FROM edges UNION SELECT dst FROM edges
      |), nn AS (SELECT COUNT(*) AS n FROM nodes
      |), outdeg AS (SELECT src, COUNT(*) AS odeg FROM edges GROUP BY src
      |), pr0 AS (
      |  SELECT id, CAST(1.0 AS DOUBLE) / nn.n AS pr FROM nodes, nn
      |), it1 AS (
      |  SELECT nd.id, (CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / nn.n +
      |    CAST(0.85 AS DOUBLE) * COALESCE(m.mass, 0.0) AS pr
      |  FROM nodes nd CROSS JOIN nn LEFT JOIN (
      |    SELECT e.dst AS id, CAST(CAST(SUM(CAST(p.pr / o.odeg AS
      |      DECIMAL(28,18))) AS VARCHAR) AS DOUBLE) AS mass
      |    FROM edges e JOIN outdeg o ON e.src = o.src
      |                 JOIN pr0 p ON p.id = e.src
      |    GROUP BY e.dst) m ON m.id = nd.id
      |), it2 AS (
      |  SELECT nd.id, (CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / nn.n +
      |    CAST(0.85 AS DOUBLE) * COALESCE(m.mass, 0.0) AS pr
      |  FROM nodes nd CROSS JOIN nn LEFT JOIN (
      |    SELECT e.dst AS id, CAST(CAST(SUM(CAST(p.pr / o.odeg AS
      |      DECIMAL(28,18))) AS VARCHAR) AS DOUBLE) AS mass
      |    FROM edges e JOIN outdeg o ON e.src = o.src
      |                 JOIN it1 p ON p.id = e.src
      |    GROUP BY e.dst) m ON m.id = nd.id
      |), it3 AS (
      |  SELECT nd.id, (CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / nn.n +
      |    CAST(0.85 AS DOUBLE) * COALESCE(m.mass, 0.0) AS pr
      |  FROM nodes nd CROSS JOIN nn LEFT JOIN (
      |    SELECT e.dst AS id, CAST(CAST(SUM(CAST(p.pr / o.odeg AS
      |      DECIMAL(28,18))) AS VARCHAR) AS DOUBLE) AS mass
      |    FROM edges e JOIN outdeg o ON e.src = o.src
      |                 JOIN it2 p ON p.id = e.src
      |    GROUP BY e.dst) m ON m.id = nd.id
      |)
      |SELECT id, ROUND(pr, 9) AS pr FROM it3
      |ORDER BY pr DESC, id LIMIT 20""".stripMargin))

  private val q123 = Q("q123_auc_by_group",
    (s, dir) => {
      // Stratified classifier evaluation (Metrics.aucByGroup): ROC AUC
      // of the event value per user cohort — the sliced view that
      // catches a quality score working globally but failing a slice.
      // Per-group windows parallelize across cohorts; same tie-exact
      // doubled-U arithmetic as q120.
      Metrics.aucByGroup(t(s, dir, "events"),
          pmod(col("user_id"), lit(8L)).as("cohort"), col("value"),
          when(col("event_type").isin("click", "purchase"), 1L)
            .otherwise(0L))
        .withColumnRenamed("grp", "cohort")
        .orderBy(col("cohort"))
    },
    Some("""WITH g AS (
      |  SELECT user_id % 8 AS cohort, value AS s,
      |    SUM(CASE WHEN event_type IN ('click','purchase')
      |      THEN 1 ELSE 0 END) AS pos,
      |    SUM(CASE WHEN event_type IN ('click','purchase')
      |      THEN 0 ELSE 1 END) AS neg
      |  FROM events GROUP BY 1, 2
      |), c AS (
      |  SELECT cohort, pos, neg, COALESCE(SUM(neg) OVER (
      |    PARTITION BY cohort ORDER BY s
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS below
      |  FROM g
      |)
      |SELECT cohort, CAST(SUM(pos) AS BIGINT) AS n_pos,
      |  CAST(SUM(neg) AS BIGINT) AS n_neg,
      |  ROUND(CAST(SUM(pos * (2 * below + neg)) AS DOUBLE) /
      |    (2.0 * SUM(pos) * SUM(neg)), 6) AS auc
      |FROM c GROUP BY cohort ORDER BY cohort""".stripMargin))

  private val q124 = Q("q124_calibration",
    (s, dir) => {
      // Reliability curve (Metrics.calibrationBins): decile bins over
      // the observed score range with per-bin positive rate and
      // exact-DECIMAL mean score — the calibration companion to q120's
      // discrimination metric. Bin edges derive from one min/max
      // aggregate broadcast back (scalar-subquery shape, k-row).
      Metrics.calibrationBins(t(s, dir, "events"), col("value"),
          when(col("event_type").isin("click", "purchase"), 1L)
            .otherwise(0L), bins = 10)
        .orderBy(col("bin"))
    },
    Some("""WITH s AS (
      |  SELECT value AS v,
      |    CASE WHEN event_type IN ('click','purchase') THEN 1 ELSE 0 END
      |      AS y FROM events
      |), mm AS (SELECT MIN(v) AS mn, MAX(v) AS mx FROM s
      |), b AS (
      |  SELECT LEAST(CAST(FLOOR((v - mn) / (mx - mn) * 10) AS BIGINT),
      |    9) AS bin, v, y FROM s, mm
      |)
      |SELECT bin, COUNT(*) AS n, CAST(SUM(y) AS BIGINT) AS n_pos,
      |  ROUND(CAST(SUM(y) AS DOUBLE) / COUNT(*), 6) AS pos_rate,
      |  ROUND(CAST(CAST(SUM(CAST(v AS DECIMAL(18,6))) AS VARCHAR)
      |    AS DOUBLE) / COUNT(*), 6) AS mean_score
      |FROM b GROUP BY bin ORDER BY bin""".stripMargin))

  private val q125 = Q("q125_rolling_zscore",
    (s, dir) => {
      // Rolling-window anomaly detection (Metrics.rollingZscore): per
      // user, each event's value against the sample mean/std of the
      // PREVIOUS 5 events (the row under test excluded from its own
      // baseline -- included, a lone spike caps its own score below
      // the threshold); |z| >= 2 flags. Moments ride exact
      // DECIMAL windowed sums so the variance trace is engine-identical;
      // sqrt is IEEE-correctly-rounded on both sides; std > 0 in the
      // predicate keeps NaN comparisons (where engines disagree) out.
      Metrics.rollingZscore(t(s, dir, "events"),
          col("user_id"), Seq(col("ts"), col("event_id")), col("value"),
          windowSize = 5, zThreshold = 2.0)
        .select(col("user_id"), col("event_id"), col("value"),
          round(col("z"), 6).as("z"))
        .orderBy(col("user_id"), col("event_id"))
    },
    Some("""WITH w AS (
      |  SELECT user_id, event_id, value,
      |    COUNT(*) OVER win AS cnt,
      |    CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER win AS DOUBLE)
      |      / CAST(5.0 AS DOUBLE) AS mean,
      |    CAST(CAST(SUM(CAST(value * value AS DECIMAL(28,12))) OVER win
      |      AS VARCHAR) AS DOUBLE) / CAST(5.0 AS DOUBLE) AS ex2
      |  FROM events
      |  WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id
      |    ROWS BETWEEN 5 PRECEDING AND 1 PRECEDING)
      |), z AS (
      |  SELECT user_id, event_id, value, cnt,
      |    SQRT(GREATEST((ex2 - mean * mean) * CAST(1.25 AS DOUBLE),
      |      CAST(0.0 AS DOUBLE))) AS std, mean
      |  FROM w
      |)
      |SELECT user_id, event_id, value,
      |  ROUND((value - mean) / std, 6) AS z
      |FROM z
      |WHERE cnt = 5 AND std > 0 AND ABS((value - mean) / std) >= 2.0
      |ORDER BY user_id, event_id""".stripMargin))

  private val q126 = Q("q126_sketch_rollup",
    (s, dir) => {
      // Incremental DISTINCT-count rollup (PartialAgg.distinctStates /
      // mergeDistinct): per-(day, priority) HLL sketch states merged up
      // to priority grain. Both the merged and the direct one-pass
      // estimate must sit within the q43-pattern bound of the
      // bit-exact-hashed exact count (Datasketches unions may switch
      // internal representation, so merged==direct is NOT guaranteed —
      // the bound is the honest contract); a drifting sketch or a
      // lossy merge goes red.
      val o = t(s, dir, "orders").withColumn("day", to_date(col("o_orderdate")))
      val daily = PartialAgg.distinctStates(o,
        Seq("day", "o_orderpriority"), col("o_custkey"))
      val merged = PartialAgg.mergeDistinct(daily, Seq("o_orderpriority"))
        .select(col("o_orderpriority"),
          PartialAgg.distinctEstimate(col("sketch")).as("merged_est"))
      val direct = o.groupBy(col("o_orderpriority"))
        .agg(countDistinct(col("o_custkey")).as("exact_custs"),
          PartialAgg.distinctEstimate(
            hll_sketch_agg(col("o_custkey"), lit(12))).as("direct_est"))
      merged.join(direct, Seq("o_orderpriority"))
        .select(col("o_orderpriority"), col("exact_custs"),
          (abs(col("merged_est") - col("exact_custs")) <=
            col("exact_custs") * lit(0.06)).as("merged_ok"),
          (abs(col("direct_est") - col("exact_custs")) <=
            col("exact_custs") * lit(0.06)).as("approx_ok"))
        .orderBy(col("o_orderpriority"))
    },
    Some("""SELECT o_orderpriority,
      |COUNT(DISTINCT o_custkey) AS exact_custs,
      |TRUE AS merged_ok, TRUE AS approx_ok
      |FROM orders GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin))

  private val q127 = Q("q127_centroid_matrix",
    (s, dir) => {
      // Class-separation structure of the labeled embedding corpus
      // (Similarity.centroidSimilarityMatrix): exact-DECIMAL per-label
      // centroids, then all 45 pairwise label cosines over the 10-row
      // centroid frame — the "which classes need hard negatives" view
      // feeding q101. Sequential-fold dots replay exactly in DuckDB's
      // list_sum; the join is over centroids, never the corpus.
      Similarity.centroidSimilarityMatrix(
          t(s, dir, "embeddings"), "label", "embedding")
        .select(col("group_a").as("label_a"), col("group_b").as("label_b"),
          round(col("cosine"), 6).as("cosine"))
        .orderBy(col("label_a"), col("label_b"))
    },
    Some("""WITH e AS (
      |  SELECT label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
      |), m AS (
      |  SELECT label, i AS dim,
      |    CAST(CAST(SUM(CAST(v[i] AS DECIMAL(28,12))) AS VARCHAR)
      |      AS DOUBLE) / COUNT(*) AS mv
      |  FROM e, (SELECT unnest(range(1, 65)) AS i) dims
      |  GROUP BY label, i
      |), c AS (
      |  SELECT label, list(mv ORDER BY dim) AS cv FROM m GROUP BY label
      |)
      |SELECT a.label AS label_a, b.label AS label_b,
      |  ROUND(list_sum(list_transform(range(1, 65),
      |      i -> a.cv[i] * b.cv[i])) /
      |    (SQRT(list_sum(list_transform(range(1, 65),
      |      i -> a.cv[i] * a.cv[i]))) *
      |     SQRT(list_sum(list_transform(range(1, 65),
      |      i -> b.cv[i] * b.cv[i])))), 6) AS cosine
      |FROM c a JOIN c b ON a.label < b.label
      |ORDER BY label_a, label_b""".stripMargin))

  private val q128 = Q("q128_ann_ivfpq",
    (s, dir) => {
      // The composed billion-scale ANN design (Similarity.buildIvfPq +
      // searchIvfPq) under init quantizers — IVF centroids = the 8
      // lowest-id vectors, PQ codebooks = subvectors of the 4 lowest-id
      // rows (m=4 × k=4, subDim=16), iterations=0 — so every arithmetic
      // step (coarse assign, code assign, driver LUT, ADC lookup-sum) is
      // exactly SQL-replayable; Lloyd-refined build quality is covered by
      // SimilaritySpec. The probe scans nProbe=2 of 8 inverted lists and
      // touches only the 4 int codes per row, never the float vectors.
      val e = t(s, dir, "embeddings")
      val qv = e.filter(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0)
      val (ivf, books, encoded) = Similarity.buildIvfPq(s, e, "vec_id",
        "embedding", nCentroids = 8, m = 4, k = 4, dim = 64, iterations = 0)
      Similarity.searchIvfPq(ivf, books, encoded, "vec_id", qv,
        topK = 10, nProbe = 2)
        .select(col("vec_id"), round(col("adc_dist_sq"), 6).as("adc_dist_sq"))
    },
    Some("""WITH e AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
      |), q AS (
      |  SELECT v AS qv FROM e WHERE vec_id = 0
      |), cent AS (
      |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, v AS cv
      |  FROM e ORDER BY vec_id LIMIT 8
      |), assigned AS (
      |  SELECT vec_id, cid FROM (
      |    SELECT e.vec_id, c.cid,
      |      ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
      |        list_sum(list_transform(range(1, 65),
      |          i -> (e.v[i] - c.cv[i]) * (e.v[i] - c.cv[i]))), c.cid)
      |        AS rn
      |    FROM e, cent c) WHERE rn = 1
      |), probes AS (
      |  SELECT cid FROM cent, q ORDER BY
      |    list_sum(list_transform(range(1, 65),
      |      i -> (cv[i] - qv[i]) * (cv[i] - qv[i]))), cid LIMIT 2
      |), subs AS (
      |  SELECT vec_id, s,
      |    list_transform(range(1, 17), i -> v[s * 16 + i]) AS sv
      |  FROM e, (SELECT unnest(range(0, 4)) AS s) sp
      |), cb AS (
      |  SELECT s, cv, c FROM (
      |    SELECT s, sv AS cv,
      |      row_number() OVER (PARTITION BY s ORDER BY fid) - 1 AS c
      |    FROM (SELECT s, sv, MIN(vec_id) AS fid FROM subs
      |      WHERE vec_id IN (SELECT vec_id FROM e ORDER BY vec_id LIMIT 16)
      |      GROUP BY s, sv))
      |  WHERE c <= 3
      |), codes AS (
      |  SELECT vec_id, s, c FROM (
      |    SELECT sub.vec_id, sub.s, cb.c,
      |      ROW_NUMBER() OVER (PARTITION BY sub.vec_id, sub.s ORDER BY
      |        list_sum(list_transform(range(1, 17),
      |          i -> (sub.sv[i] - cb.cv[i]) * (sub.sv[i] - cb.cv[i]))),
      |        cb.c) AS rn
      |    FROM subs sub JOIN cb ON sub.s = cb.s) WHERE rn = 1
      |), lut AS (
      |  SELECT cb.s, cb.c, list_sum(list_transform(range(1, 17),
      |    i -> (cb.cv[i] - q.qv[cb.s * 16 + i]) *
      |         (cb.cv[i] - q.qv[cb.s * 16 + i]))) AS d
      |  FROM cb, q
      |), cw AS (
      |  SELECT vec_id,
      |    MAX(CASE WHEN s = 0 THEN c END) AS c0,
      |    MAX(CASE WHEN s = 1 THEN c END) AS c1,
      |    MAX(CASE WHEN s = 2 THEN c END) AS c2,
      |    MAX(CASE WHEN s = 3 THEN c END) AS c3
      |  FROM codes GROUP BY vec_id
      |)
      |SELECT vec_id, ROUND(adc, 6) AS adc_dist_sq FROM (
      |  SELECT cw.vec_id, ((l0.d + l1.d) + l2.d) + l3.d AS adc
      |  FROM cw
      |  JOIN lut l0 ON l0.s = 0 AND l0.c = cw.c0
      |  JOIN lut l1 ON l1.s = 1 AND l1.c = cw.c1
      |  JOIN lut l2 ON l2.s = 2 AND l2.c = cw.c2
      |  JOIN lut l3 ON l3.s = 3 AND l3.c = cw.c3
      |  WHERE cw.vec_id IN (SELECT vec_id FROM assigned
      |    WHERE cid IN (SELECT cid FROM probes)))
      |ORDER BY adc, vec_id LIMIT 10""".stripMargin))

  private val q129 = Q("q129_semantic_dedup",
    (s, dir) => {
      // SemDeDup-style semantic near-dups (Dedup.semanticNearDups):
      // k-means-cluster the embedding space, exact-cosine verify only
      // WITHIN clusters — cluster assignment bounds the quadratic term
      // to cluster populations. Init quantizer (8 lowest-id centroids,
      // iterations=0) so assignment + verify replay exactly in SQL;
      // Lloyd-refined clustering quality is covered by SimilaritySpec
      // and the nClusters=1 brute-force equality in DedupSpec.
      Dedup.semanticNearDups(t(s, dir, "embeddings"), "vec_id",
          "embedding", nClusters = 8, threshold = 0.4, iterations = 0)
        .orderBy(col("id_a"), col("id_b"))
    },
    Some("""WITH e AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
      |), cent AS (
      |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, v AS cv
      |  FROM e ORDER BY vec_id LIMIT 8
      |), assigned AS (
      |  SELECT vec_id, v, cid FROM (
      |    SELECT e.vec_id, e.v, c.cid,
      |      ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
      |        list_sum(list_transform(range(1, 65),
      |          i -> (e.v[i] - c.cv[i]) * (e.v[i] - c.cv[i]))), c.cid)
      |        AS rn
      |    FROM e, cent c) WHERE rn = 1
      |)
      |SELECT id_a, id_b, ROUND(c, 6) AS cosine FROM (
      |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
      |    list_dot_product(a.v, b.v) /
      |    (sqrt(list_dot_product(a.v, a.v)) *
      |     sqrt(list_dot_product(b.v, b.v))) AS c
      |  FROM assigned a JOIN assigned b
      |    ON a.cid = b.cid AND a.vec_id < b.vec_id)
      |WHERE c >= 0.4 ORDER BY id_a, id_b""".stripMargin))

  private val q130 = Q("q130_repeated_spans",
    (s, dir) => {
      // Cross-document repeated-substring signal (RepeatedSpans
      // .dupStats): positional 6-gram postings, grams in >= 2 distinct
      // docs, per-doc duplicated-position count and merged span
      // coverage — the substring-level dedup view whole-doc/LSH dedup
      // misses (boilerplate, quoted passages). hashKeys=true is the
      // scale arm (8-byte xxhash64 shuffle keys, 3x faster here); its
      // output is value-identical to the exact-string arm the DuckDB
      // oracle replays unless a 64-bit collision flags a gram
      // spuriously (~2^-25 at this cardinality — and the oracle compare
      // itself would catch it).
      RepeatedSpans.dupStats(t(s, dir, "documents"), "doc_id", "text",
          k = 6, minDocs = 2, hashKeys = true)
        .filter(col("dup_kgrams") > 0)
        .select(col("doc_id"), col("total_kgrams"), col("dup_kgrams"),
          round(col("dup_ratio"), 6).as("dup_ratio"),
          col("covered_tokens"))
        .orderBy(col("doc_id"))
    },
    Some("""WITH toks AS (
      |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'),
      |    t -> t <> '') AS tk FROM documents
      |), grams AS (
      |  SELECT doc_id, i - 1 AS pos,
      |    tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' ||
      |    tk[i+3] || ' ' || tk[i+4] || ' ' || tk[i+5] AS g
      |  FROM toks, LATERAL unnest(range(1, greatest(len(tk) - 4, 1))) u(i)
      |), hot AS (
      |  SELECT g FROM grams GROUP BY g HAVING COUNT(DISTINCT doc_id) >= 2
      |), marked AS (
      |  SELECT grams.doc_id, grams.pos, hot.g AS hit
      |  FROM grams LEFT JOIN hot ON grams.g = hot.g
      |), merged AS (
      |  -- fixed-width spans sorted by pos: previous span's end is
      |  -- prev_pos + 6, so a new span adds min(6, pos - prev_pos) tokens
      |  SELECT doc_id, pos,
      |    CASE WHEN MAX(pos) OVER w IS NULL
      |      OR pos - MAX(pos) OVER w >= 6 THEN 6
      |    ELSE pos - MAX(pos) OVER w END AS added
      |  FROM marked WHERE hit IS NOT NULL
      |  WINDOW w AS (PARTITION BY doc_id ORDER BY pos
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
      |), stats AS (
      |  SELECT m.doc_id, CAST(COUNT(*) AS BIGINT) AS total_kgrams,
      |    CAST(COUNT(m.hit) AS BIGINT) AS dup_kgrams
      |  FROM marked m GROUP BY m.doc_id
      |), cov AS (
      |  SELECT doc_id, CAST(SUM(added) AS BIGINT) AS covered_tokens
      |  FROM merged GROUP BY doc_id
      |)
      |SELECT s.doc_id, s.total_kgrams, s.dup_kgrams,
      |  ROUND(CAST(s.dup_kgrams AS DOUBLE) /
      |    CAST(s.total_kgrams AS DOUBLE), 6) AS dup_ratio,
      |  cov.covered_tokens
      |FROM stats s JOIN cov ON s.doc_id = cov.doc_id
      |WHERE s.dup_kgrams > 0
      |ORDER BY s.doc_id""".stripMargin))

  private val q131 = Q("q131_classifier_score",
    (s, dir) => {
      // Hashed-feature linear classifier inference (Scoring.score) — the
      // fastText/CCNet-style quality-filter pass: md5-bucket hashing
      // trick into 64 dims, one typedlit weight array, sequential-fold
      // logit, sigmoid. Map-only (ScoringSpec asserts no Exchange); the
      // dyadic demo weights render exactly in decimal so the DuckDB
      // replay folds the identical doubles. round(6) absorbs the
      // one-ulp exp() divergence between runtimes.
      val w = Scoring.dyadicWeights(64)
      t(s, dir, "documents").select(col("doc_id"),
          round(Scoring.score(col("text"), w, bias = 0.25,
            meanPool = true, portable = true), 6).as("quality_prob"))
        .withColumn("keep", col("quality_prob") >= 0.5)
        .orderBy(col("doc_id"))
    },
    Some {
      val wList = Scoring.dyadicWeights(64).mkString("[", ", ", "]")
      s"""WITH scored AS (
      |  SELECT doc_id,
      |    1.0 / (1.0 + exp(-(
      |      list_sum(list_transform(
      |        list_filter(string_split_regex(lower(text), '\\s+'),
      |          t -> t <> ''),
      |        t -> ($wList)[
      |          CAST((('0x' || substr(md5(t), 1, 8))::BIGINT % 64)
      |            AS INT) + 1]))
      |      / greatest(len(list_filter(
      |          string_split_regex(lower(text), '\\s+'), t -> t <> '')), 1)
      |      + 0.25))) AS p
      |  FROM documents)
      |SELECT doc_id, ROUND(p, 6) AS quality_prob,
      |  ROUND(p, 6) >= 0.5 AS keep
      |FROM scored ORDER BY doc_id""".stripMargin
    })

  private val q132 = Q("q132_char_entropy",
    (s, dir) => {
      // Gibberish/byte-soup quality signal: per-doc Shannon entropy over
      // code points via the fused codegen CharEntropy expression (one
      // histogram pass per row — the declarative form would explode to
      // chars and shuffle twice per document). Both sides fold c·log2(c)
      // over ASCENDING counts, so the only divergence is log2's last
      // ulp — absorbed by round(6).
      t(s, dir, "documents").select(col("doc_id"),
          round(graft.functions.TextFunctions.charEntropy(col("text")), 6)
            .as("char_entropy"))
        .orderBy(col("doc_id"))
    },
    Some("""WITH chars AS (
      |  SELECT doc_id, unnest(string_split(text, '')) AS ch
      |  FROM documents
      |), counts AS (
      |  SELECT doc_id, ch, CAST(COUNT(*) AS DOUBLE) AS c
      |  FROM chars GROUP BY doc_id, ch
      |), lists AS (
      |  SELECT doc_id, list_sort(list(c)) AS cs, SUM(c) AS n
      |  FROM counts GROUP BY doc_id
      |), ents AS (
      |  SELECT doc_id,
      |    log2(n) - list_sum(list_transform(cs, c -> c * log2(c))) / n
      |      AS h
      |  FROM lists
      |)
      |SELECT d.doc_id,
      |  ROUND(COALESCE(e.h, 0.0), 6) AS char_entropy
      |FROM documents d LEFT JOIN ents e ON d.doc_id = e.doc_id
      |ORDER BY d.doc_id""".stripMargin))

  private val q133 = Q("q133_quantile_rollup",
    (s, dir) => {
      // Incremental ORDER-STATISTIC rollup (PartialAgg.quantileStates /
      // mergeQuantiles) — the quantile leg of the q118/q126 mergeable-
      // state family: per-(day, priority) KLL-style sketch states merged
      // up to priority grain, read with percentile_disc rank semantics.
      // Group sizes (~3000) sit under the sketch capacity (4096), so
      // nothing compacts and the merged sketch IS the exact multiset —
      // DuckDB's quantile_disc must match exactly, whatever the merge
      // tree. Compaction behavior beyond capacity is spec-measured
      // (QuantileSketchSpec), the q43/q86/q126 honesty pattern.
      val o = t(s, dir, "orders")
        .withColumn("day", to_date(col("o_orderdate")))
      val st = PartialAgg.quantileStates(o,
        Seq("day", "o_orderpriority"), col("o_totalprice"), k = 4096)
      PartialAgg.mergeQuantiles(st, Seq("o_orderpriority"))
        .select(col("o_orderpriority"),
          PartialAgg.quantileEstimate(col("qsketch"),
            Seq(0.25, 0.5, 0.75, 0.95)).as("qs"))
        .select(col("o_orderpriority"),
          col("qs")(0).as("p25"), col("qs")(1).as("p50"),
          col("qs")(2).as("p75"), col("qs")(3).as("p95"))
        .orderBy(col("o_orderpriority"))
    },
    Some("""SELECT o_orderpriority,
      |quantile_disc(o_totalprice, 0.25) AS p25,
      |quantile_disc(o_totalprice, 0.50) AS p50,
      |quantile_disc(o_totalprice, 0.75) AS p75,
      |quantile_disc(o_totalprice, 0.95) AS p95
      |FROM orders GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin))

  private val q135 = Q("q135_incremental_spans",
    (s, dir) => {
      // Incremental substring dedup under the oracle gate: batch docs
      // (doc_id % 5 = 0) scored against a PERSISTED gram index built
      // from the rest of the corpus — per-batch cost scales with the
      // batch, never the corpus. Because gram doc-counts ADD exactly,
      // the incremental result EQUALS the full-corpus q130 restricted
      // to the batch, so the full-corpus SQL with that restriction IS
      // the oracle: any drift in the index join, combined-count
      // hotness, or stats roll-up goes red here.
      val docs = t(s, dir, "documents")
      val idx = RepeatedSpans.gramIndex(
        docs.filter(col("doc_id") % 5 =!= 0), "doc_id", "text", k = 6)
      RepeatedSpans.incrementalDupStats(
          docs.filter(col("doc_id") % 5 === 0), idx, "doc_id", "text",
          k = 6, minDocs = 2)
        .filter(col("dup_kgrams") > 0)
        .select(col("doc_id"), col("total_kgrams"), col("dup_kgrams"),
          round(col("dup_ratio"), 6).as("dup_ratio"),
          col("covered_tokens"))
        .orderBy(col("doc_id"))
    },
    Some("""WITH toks AS (
      |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'),
      |    t -> t <> '') AS tk FROM documents
      |), grams AS (
      |  SELECT doc_id, i - 1 AS pos,
      |    tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' ||
      |    tk[i+3] || ' ' || tk[i+4] || ' ' || tk[i+5] AS g
      |  FROM toks, LATERAL unnest(range(1, greatest(len(tk) - 4, 1))) u(i)
      |), hot AS (
      |  SELECT g FROM grams GROUP BY g HAVING COUNT(DISTINCT doc_id) >= 2
      |), marked AS (
      |  SELECT grams.doc_id, grams.pos, hot.g AS hit
      |  FROM grams LEFT JOIN hot ON grams.g = hot.g
      |  WHERE grams.doc_id % 5 = 0
      |), merged AS (
      |  SELECT doc_id, pos,
      |    CASE WHEN MAX(pos) OVER w IS NULL
      |      OR pos - MAX(pos) OVER w >= 6 THEN 6
      |    ELSE pos - MAX(pos) OVER w END AS added
      |  FROM marked WHERE hit IS NOT NULL
      |  WINDOW w AS (PARTITION BY doc_id ORDER BY pos
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
      |), stats AS (
      |  SELECT m.doc_id, CAST(COUNT(*) AS BIGINT) AS total_kgrams,
      |    CAST(COUNT(m.hit) AS BIGINT) AS dup_kgrams
      |  FROM marked m GROUP BY m.doc_id
      |), cov AS (
      |  SELECT doc_id, CAST(SUM(added) AS BIGINT) AS covered_tokens
      |  FROM merged GROUP BY doc_id
      |)
      |SELECT s.doc_id, s.total_kgrams, s.dup_kgrams,
      |  ROUND(CAST(s.dup_kgrams AS DOUBLE) /
      |    CAST(s.total_kgrams AS DOUBLE), 6) AS dup_ratio,
      |  cov.covered_tokens
      |FROM stats s JOIN cov ON s.doc_id = cov.doc_id
      |WHERE s.dup_kgrams > 0
      |ORDER BY s.doc_id""".stripMargin))

  private val q134 = Q("q134_url_canonical",
    (s, dir) => {
      // URL canonicalization + registrable-domain keys (UrlFunctions) —
      // the normalization in front of exact-URL dedup and per-domain
      // caps (q113). No URL column exists in the star schema, so the
      // query synthesizes deterministic messy URLs (case noise, default
      // ports, tracking params, fragments — all modulo-branched per doc)
      // and both engines replay synthesis AND canonicalization; the
      // q41-style literal-replay pattern. Map-only built-ins throughout.
      val id = col("doc_id")
      val messy = concat(
        when(id % 2 === 0, lit("HTTPS://WWW.")).otherwise(lit("https://www.")),
        col("source"),
        when(id % 3 === 0, lit(".Example.CO.UK")).otherwise(lit(".example.com")),
        when(id % 2 === 0, lit(":443")).otherwise(lit("")),
        lit("/docs/"), (id % 7).cast("string"),
        lit("?utm_source=feed&b=2&a="), (id % 5).cast("string"),
        when(id % 3 === 1, lit("&fbclid=abc")).otherwise(lit("")),
        lit("#sec"))
      t(s, dir, "documents").select(id,
          UrlFunctions.canonicalizeUrl(messy).as("url_canonical"),
          UrlFunctions.urlDomain(messy).as("domain"))
        .orderBy(id)
    },
    Some("""WITH raw AS (
      |  SELECT doc_id,
      |    (CASE WHEN doc_id % 2 = 0 THEN 'HTTPS://WWW.'
      |          ELSE 'https://www.' END)
      |    || source
      |    || (CASE WHEN doc_id % 3 = 0 THEN '.Example.CO.UK'
      |             ELSE '.example.com' END)
      |    || (CASE WHEN doc_id % 2 = 0 THEN ':443' ELSE '' END)
      |    || '/docs/' || CAST(doc_id % 7 AS VARCHAR)
      |    || '?utm_source=feed&b=2&a=' || CAST(doc_id % 5 AS VARCHAR)
      |    || (CASE WHEN doc_id % 3 = 1 THEN '&fbclid=abc' ELSE '' END)
      |    || '#sec' AS u
      |  FROM documents
      |), parts AS (
      |  SELECT doc_id, regexp_replace(u, '#.*$', '') AS nf FROM raw
      |), pieces AS (
      |  SELECT doc_id,
      |    lower(regexp_extract(nf, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1))
      |      AS scheme,
      |    regexp_extract(nf, '^[A-Za-z][A-Za-z0-9+.-]*://([^?]*)', 1)
      |      AS hostpath,
      |    regexp_extract(nf, '\?(.*)$', 1) AS rawq
      |  FROM parts
      |), hp AS (
      |  SELECT doc_id, scheme, rawq,
      |    lower(regexp_extract(hostpath, '^([^/]*)', 1)) AS hostport,
      |    regexp_extract(hostpath, '^[^/]*(/.*)?$', 1) AS rawpath
      |  FROM pieces
      |), canon AS (
      |  SELECT doc_id, scheme,
      |    CASE WHEN scheme = 'http'
      |           THEN regexp_replace(hostport, ':80$', '')
      |         WHEN scheme = 'https'
      |           THEN regexp_replace(hostport, ':443$', '')
      |         ELSE hostport END AS host,
      |    CASE WHEN rawpath = '' THEN '/' ELSE rawpath END AS path,
      |    array_to_string(list_sort(list_filter(string_split(rawq, '&'),
      |      p -> p <> '' AND NOT regexp_matches(p,
      |        '^(utm_[^=]*|gclid|fbclid|msclkid)(=|$)'))), '&') AS q
      |  FROM hp
      |), dom AS (
      |  SELECT doc_id, host, string_split(host, '.') AS ls FROM canon
      |)
      |SELECT c.doc_id,
      |  c.scheme || '://' || c.host || c.path ||
      |    (CASE WHEN c.q = '' THEN '' ELSE '?' || c.q END)
      |    AS url_canonical,
      |  CASE WHEN len(d.ls) <= 1 THEN d.host
      |       WHEN len(d.ls) >= 3 AND (d.ls[-2] || '.' || d.ls[-1]) IN
      |         ('co.uk', 'org.uk', 'ac.uk', 'gov.uk', 'com.au', 'net.au',
      |          'org.au', 'co.jp', 'co.nz', 'co.in', 'com.br', 'com.cn',
      |          'com.mx', 'co.za')
      |         THEN d.ls[-3] || '.' || d.ls[-2] || '.' || d.ls[-1]
      |       ELSE d.ls[-2] || '.' || d.ls[-1] END AS domain
      |FROM canon c JOIN dom d ON c.doc_id = d.doc_id
      |ORDER BY c.doc_id""".stripMargin))

  private val q136 = Q("q136_bm25",
    (s, dir) => {
      // Okapi BM25 corpus scoring (Retrieval.bm25) — query-targeted
      // curation. Scale shape: token filter BEFORE the shuffle (only
      // query-term hits move), |Q|-row idf table broadcast back, corpus
      // stats one 1-row collect of exact integers. Per-term partials are
      // DECIMAL(22,9)-rounded then decimal-summed, so partial-agg order
      // can't move the per-doc sum; ln()'s last ulp is absorbed by
      // round(6) (q131/q132 precedent). The oracle mirrors the exact
      // double evaluation order: (idf*(tf*2.2))/(tf+1.2*(0.25+
      // (0.75*dl)/avgdl)), avgdl = toDouble/toDouble.
      Retrieval.bm25(t(s, dir, "documents"), "doc_id", "text",
          Seq("hash", "join", "vector", "stream", "spark"))
        .orderBy(col("doc_id"))
    },
    Some("""WITH toks AS (
      |  SELECT doc_id,
      |    list_filter(string_split_regex(lower(text), '\s+'),
      |      x -> x <> '') AS ts
      |  FROM documents
      |), docs_dl AS (
      |  SELECT doc_id, ts, len(ts) AS dl FROM toks
      |), stats AS (
      |  SELECT COUNT(*) AS n_docs, SUM(dl) AS tot FROM docs_dl
      |), hits AS (
      |  SELECT doc_id, dl, unnest(ts) AS term FROM docs_dl
      |), tf AS (
      |  SELECT doc_id, term, dl, COUNT(*) AS tf
      |  FROM hits
      |  WHERE term IN ('hash', 'join', 'vector', 'stream', 'spark')
      |  GROUP BY doc_id, term, dl
      |), idf AS (
      |  SELECT term,
      |    ln((s.n_docs - COUNT(*) + 0.5) / (COUNT(*) + 0.5) + 1.0) AS idf
      |  FROM tf, stats s GROUP BY term, s.n_docs
      |), scored AS (
      |  SELECT t.doc_id,
      |    CAST((i.idf * (t.tf * 2.2)) /
      |      (t.tf + 1.2 * (0.25 + (0.75 * t.dl) /
      |        (CAST((SELECT tot FROM stats) AS DOUBLE) /
      |         CAST((SELECT n_docs FROM stats) AS DOUBLE))))
      |      AS DECIMAL(22,9)) AS s_term
      |  FROM tf t JOIN idf i ON t.term = i.term
      |)
      |SELECT doc_id,
      |  ROUND(CAST(SUM(s_term) AS DOUBLE), 6) AS bm25,
      |  COUNT(*) AS n_terms
      |FROM scored GROUP BY doc_id ORDER BY doc_id""".stripMargin))

  /** One DuckDB BPE learning iteration: pair counts from the rendered
    * vocab CTE `$from`, winner by (cnt desc, l, r), merged vocab. */
  private def bpeIterSql(i: Int, from: String): String =
    s"""p$i AS (
      |  SELECT pr.l AS l, pr.r AS r, CAST(SUM(n) AS BIGINT) AS cnt FROM (
      |    SELECT n, unnest(list_transform(range(1, len(syms)),
      |      k -> {'l': syms[k], 'r': syms[k+1]})) AS pr
      |    FROM (SELECT list_filter(string_split_regex(s, '[| ]+'),
      |      x -> x <> '') AS syms, n FROM $from)
      |  ) GROUP BY pr.l, pr.r
      |), w$i AS (
      |  SELECT l, r, cnt FROM p$i ORDER BY cnt DESC, l, r LIMIT 1
      |), v$i AS (
      |  SELECT replace(s, '|' || w.l || ' |' || w.r || ' ',
      |                 '|' || w.l || w.r || ' ') AS s, n
      |  FROM $from, w$i w
      |)""".stripMargin

  private val q137 = Q("q137_bpe_learn",
    (s, dir) => {
      // Distributed BPE merge learning (Bpe.learnMerges), 3 iterations
      // replayed exactly in SQL (the q122-pagerank chained-CTE pattern).
      // Corpus folds ONCE into distinct-word counts; each iteration is a
      // vocab-sized pair-count shuffle + 1-row winner collect; merge
      // apply is one codegen'd replace on the "|sym " rendering, whose
      // left-to-right non-overlapping scan IS greedy BPE. All counts
      // exact integers — hash-exact oracle, no float anywhere.
      Bpe.learnMerges(t(s, dir, "documents"), "text", numMerges = 3)
    },
    Some(s"""WITH wc AS (
      |  SELECT w AS word, COUNT(*) AS n FROM (
      |    SELECT unnest(list_filter(string_split_regex(lower(text),
      |      '\\s+'), x -> x <> '')) AS w
      |    FROM documents)
      |  WHERE NOT contains(w, '|')
      |  GROUP BY w
      |), v0 AS (
      |  SELECT regexp_replace(word, '(.)', '|\\1 ', 'g') AS s, n FROM wc
      |), ${bpeIterSql(1, "v0")},
      |${bpeIterSql(2, "v1")},
      |${bpeIterSql(3, "v2")}
      |SELECT * FROM (
      |  SELECT 1 AS "rank", l AS "left", r AS "right",
      |    cnt AS pair_count FROM w1
      |  UNION ALL SELECT 2, l, r, cnt FROM w2
      |  UNION ALL SELECT 3, l, r, cnt FROM w3
      |) ORDER BY "rank"""".stripMargin))

  private val q138 = Q("q138_bpe_encode",
    (s, dir) => {
      // BPE encode under a fixed rank-ordered merge list — the entire
      // encode is a whole-stage-codegen chain (one regexp_replace render
      // + one replace per merge), BpeSpec-asserted; original whitespace
      // is the word barrier (2+ spaces between units across words, so a
      // "|l |r " pattern can never span words). Counts exact integers.
      val m = Seq(("h", "a"), ("ha", "s"), ("has", "h"),
        ("j", "o"), ("jo", "i"), ("joi", "n"))
      t(s, dir, "documents").select(col("doc_id"),
          Bpe.tokenCount(col("text"), m).as("n_bpe"),
          Bpe.symbolCount(col("text"), m, "hash").as("n_hash"),
          Bpe.symbolCount(col("text"), m, "join").as("n_join"))
        .orderBy(col("doc_id"))
    },
    Some("""WITH enc AS (
      |  SELECT doc_id,
      |    replace(replace(replace(replace(replace(replace(
      |      regexp_replace(replace(lower(text), '|', ''),
      |        '(\S)', '|\1 ', 'g'),
      |      '|h |a ', '|ha '), '|ha |s ', '|has '),
      |      '|has |h ', '|hash '), '|j |o ', '|jo '),
      |      '|jo |i ', '|joi '), '|joi |n ', '|join ') AS s
      |  FROM documents)
      |SELECT doc_id,
      |  CAST(len(s) - len(replace(s, '|', '')) AS BIGINT) AS n_bpe,
      |  CAST((len(s) - len(replace(s, '|hash ', ''))) // 6 AS BIGINT)
      |    AS n_hash,
      |  CAST((len(s) - len(replace(s, '|join ', ''))) // 6 AS BIGINT)
      |    AS n_join
      |FROM enc ORDER BY doc_id""".stripMargin))

  private val q139 = Q("q139_line_dedup",
    (s, dir) => {
      // CCNet/C4-style line-level boilerplate removal
      // (Boilerplate.removeBoilerplate): template lines repeating across
      // ≥50% of a source's docs are dropped, documents survive. The
      // fixture injects a per-source NAV header and COPYRIGHT footer
      // (the q134 in-query-synthesis pattern) — those must vanish, body
      // lines must stay, original order restored. All counts exact
      // integers; 0.5·n is exact in binary — hash-exact oracle.
      val d2 = t(s, dir, "documents").select(col("doc_id"), col("source"),
        concat(lit("NAV "), col("source"), lit("\n"), col("text"),
          lit("\nCOPYRIGHT "), col("source")).as("text2"))
      Boilerplate.removeBoilerplate(d2, "doc_id", "text2", "source")
        .orderBy(col("doc_id"))
    },
    Some("""WITH docs2 AS (
      |  SELECT doc_id, source,
      |    'NAV ' || source || chr(10) || text || chr(10) ||
      |      'COPYRIGHT ' || source AS t
      |  FROM documents
      |), lines AS (
      |  SELECT doc_id, source,
      |    unnest(string_split(t, chr(10))) AS line,
      |    unnest(range(1, len(string_split(t, chr(10))) + 1)) AS pos
      |  FROM docs2
      |), grp AS (
      |  SELECT source, COUNT(DISTINCT doc_id) AS nd
      |  FROM docs2 GROUP BY source
      |), lc AS (
      |  SELECT source, line, COUNT(DISTINCT doc_id) AS n
      |  FROM lines GROUP BY source, line
      |), bp AS (
      |  SELECT lc.source, lc.line
      |  FROM lc JOIN grp ON lc.source = grp.source
      |  WHERE lc.n >= 2 AND lc.n >= 0.5 * grp.nd
      |), kept AS (
      |  SELECT l.doc_id, l.pos, l.line
      |  FROM lines l LEFT JOIN bp
      |    ON l.source = bp.source AND l.line = bp.line
      |  WHERE bp.line IS NULL
      |), reb AS (
      |  SELECT doc_id,
      |    array_to_string(list(line ORDER BY pos), chr(10)) AS text_clean,
      |    COUNT(*) AS n_kept
      |  FROM kept GROUP BY doc_id
      |)
      |SELECT d.doc_id, d.source,
      |  COALESCE(r.text_clean, '') AS text_clean,
      |  CAST(len(string_split(d.t, chr(10))) AS BIGINT) AS n_lines,
      |  COALESCE(r.n_kept, 0) AS n_kept
      |FROM docs2 d LEFT JOIN reb r ON d.doc_id = r.doc_id
      |ORDER BY d.doc_id""".stripMargin))

  private val q140 = Q("q140_script_detect",
    (s, dir) => {
      // Unicode-script detection (TF.scriptCounts/dominantScript) — the
      // writing-system signal langid needs where marker words fail. The
      // fixture appends native-script tokens per lang tag (the q134/q139
      // in-query-synthesis pattern: the base corpus is ASCII-only, so
      // without injection every class but latin would be untested).
      // Exact integer counts; map-only codegen regexes.
      val suffix = when(col("lang") === "zh", lit(" 中文数据模型 训练语料"))
        .when(col("lang") === "fr", lit(" déjà vu année métrique"))
        .when(col("lang") === "de", lit(" über größe prüfung"))
        .when(col("lang") === "es", lit(" años métrica año"))
        .otherwise(lit(" 42 samples"))
      val d2 = t(s, dir, "documents").select(col("doc_id"), col("lang"),
        concat(col("text"), suffix).as("t2"))
      val sc = TF.scriptCounts(col("t2"))
      d2.select((Seq(col("doc_id"), col("lang")) ++
          TF.scriptClasses.map { case (n, _) =>
            sc.getField(s"n_$n").as(s"n_$n") } ++
          Seq(sc.getField("n_chars").as("n_chars"),
            TF.dominantScript(col("t2")).as("script"))): _*)
        .orderBy(col("doc_id"))
    },
    Some("""WITH d2 AS (
      |  SELECT doc_id, lang,
      |    text || CASE lang
      |      WHEN 'zh' THEN ' 中文数据模型 训练语料'
      |      WHEN 'fr' THEN ' déjà vu année métrique'
      |      WHEN 'de' THEN ' über größe prüfung'
      |      WHEN 'es' THEN ' años métrica año'
      |      ELSE ' 42 samples' END AS t2
      |  FROM documents
      |), counts AS (
      |  SELECT doc_id, lang,
      |    CAST(len(regexp_extract_all(t2,
      |      '[A-Za-z\x{00C0}-\x{024F}]')) AS BIGINT) AS n_latin,
      |    CAST(len(regexp_extract_all(t2,
      |      '[\x{0400}-\x{04FF}]')) AS BIGINT) AS n_cyrillic,
      |    CAST(len(regexp_extract_all(t2,
      |      '[\x{0370}-\x{03FF}]')) AS BIGINT) AS n_greek,
      |    CAST(len(regexp_extract_all(t2,
      |      '[\x{0600}-\x{06FF}]')) AS BIGINT) AS n_arabic,
      |    CAST(len(regexp_extract_all(t2,
      |      '[\x{4E00}-\x{9FFF}\x{3040}-\x{30FF}\x{AC00}-\x{D7AF}]'))
      |      AS BIGINT) AS n_cjk,
      |    CAST(len(regexp_extract_all(t2, '[0-9]')) AS BIGINT) AS n_digit,
      |    CAST(len(regexp_replace(t2, '\s', '', 'g')) AS BIGINT)
      |      AS n_chars
      |  FROM d2
      |)
      |SELECT doc_id, lang, n_latin, n_cyrillic, n_greek, n_arabic,
      |  n_cjk, n_digit, n_chars,
      |  CASE
      |    WHEN n_latin > 0 AND n_latin = greatest(n_latin, n_cyrillic,
      |      n_greek, n_arabic, n_cjk, n_digit) THEN 'latin'
      |    WHEN n_cyrillic > 0 AND n_cyrillic = greatest(n_latin,
      |      n_cyrillic, n_greek, n_arabic, n_cjk, n_digit)
      |      THEN 'cyrillic'
      |    WHEN n_greek > 0 AND n_greek = greatest(n_latin, n_cyrillic,
      |      n_greek, n_arabic, n_cjk, n_digit) THEN 'greek'
      |    WHEN n_arabic > 0 AND n_arabic = greatest(n_latin, n_cyrillic,
      |      n_greek, n_arabic, n_cjk, n_digit) THEN 'arabic'
      |    WHEN n_cjk > 0 AND n_cjk = greatest(n_latin, n_cyrillic,
      |      n_greek, n_arabic, n_cjk, n_digit) THEN 'cjk'
      |    WHEN n_digit > 0 AND n_digit = greatest(n_latin, n_cyrillic,
      |      n_greek, n_arabic, n_cjk, n_digit) THEN 'digit'
      |    ELSE 'other' END AS script
      |FROM counts ORDER BY doc_id""".stripMargin))

  private val q141 = Q("q141_pii_scan",
    (s, dir) => {
      // PII scanning with Luhn card validation (TF.piiCounts) — the
      // audit gate in front of the q55 redaction pass. Fixture
      // synthesizes an email, an IPv4, and a 16-digit card-shaped run
      // per doc (validity falls where the mod-10 arithmetic lands —
      // NOT precomputed; both engines must agree digit by digit).
      // Exact integers; regexes avoid lookarounds for Java/RE2 parity
      // (the Luhn HOFs run over ≤19-element arrays, not the corpus).
      val card = concat(lit("4"), lpad((col("doc_id") * 7919 %
        1000000000000000L).cast("string"), 15, "0"))
      val t2 = concat(col("text"),
        lit(" contact user"), col("doc_id").cast("string"),
        lit("@example.org from 10."), (col("doc_id") % 256).cast("string"),
        lit(".0.1 card "), card)
      val pc = TF.piiCounts(t2)
      t(s, dir, "documents").select(col("doc_id"),
          pc.getField("n_email").as("n_email"),
          pc.getField("n_ipv4").as("n_ipv4"),
          pc.getField("n_card").as("n_card"),
          pc.getField("n_card_valid").as("n_card_valid"))
        .orderBy(col("doc_id"))
    },
    Some("""WITH d2 AS (
      |  SELECT doc_id,
      |    text || ' contact user' || CAST(doc_id AS VARCHAR)
      |      || '@example.org from 10.' || CAST(doc_id % 256 AS VARCHAR)
      |      || '.0.1 card 4'
      |      || lpad(CAST(doc_id * 7919 % 1000000000000000 AS VARCHAR),
      |           15, '0') AS t2
      |  FROM documents
      |), c AS (
      |  SELECT doc_id,
      |    len(regexp_extract_all(t2,
      |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
      |      AS n_email,
      |    len(regexp_extract_all(t2,
      |      '\b([0-9]{1,3}\.){3}[0-9]{1,3}\b')) AS n_ipv4,
      |    regexp_extract_all(t2, '\b[0-9]{13,19}\b') AS cards
      |  FROM d2
      |)
      |SELECT doc_id,
      |  CAST(n_email AS BIGINT) AS n_email,
      |  CAST(n_ipv4 AS BIGINT) AS n_ipv4,
      |  CAST(len(cards) AS BIGINT) AS n_card,
      |  CAST(len(list_filter(cards, s ->
      |    list_sum(list_transform(range(1, len(reverse(s)) + 1), i ->
      |      CASE WHEN i % 2 = 0 THEN
      |        CASE WHEN 2 * CAST(reverse(s)[i] AS INT) > 9
      |          THEN 2 * CAST(reverse(s)[i] AS INT) - 9
      |          ELSE 2 * CAST(reverse(s)[i] AS INT) END
      |      ELSE CAST(reverse(s)[i] AS INT) END)) % 10 = 0))
      |    AS BIGINT) AS n_card_valid
      |FROM c ORDER BY doc_id""".stripMargin))

  private val q142 = Q("q142_lm_score",
    (s, dir) => {
      // CCNet-style LM quality scoring (LangModel.train/scoreDocs):
      // interpolated unigram/bigram with add-one smoothing over a
      // top-64 vocab + <unk>, trained on the corpus and replayed END TO
      // END in SQL — every probability is a ratio of exact integer
      // counts, per-token ln() DECIMAL(24,10)-rounded then decimal-
      // summed (aggregation order can't move a score), ln/exp ulp
      // absorbed by round(6). λ=0.75 because 0.75 and 1−0.75 are both
      // dyadic-exact — a 0.7 literal would make 1−λ differ between the
      // Scala constant-folded 0.30000000000000004 and SQL's 0.3.
      val docs = t(s, dir, "documents")
      val model = LangModel.train(docs, "text", vocabSize = 64)
      LangModel.scoreDocs(docs, "doc_id", "text", model, lambda = 0.75)
        .orderBy(col("doc_id"))
    },
    Some("""WITH toks AS (
      |  SELECT doc_id,
      |    unnest(ts) AS tok,
      |    unnest(range(1, len(ts) + 1)) AS pos
      |  FROM (SELECT doc_id,
      |    list_filter(string_split_regex(lower(text), '\s+'),
      |      x -> x <> '') AS ts FROM documents)
      |), counts AS (
      |  SELECT tok, COUNT(*) AS c FROM toks GROUP BY tok
      |), tot AS (
      |  SELECT CAST(SUM(c) AS BIGINT) AS n FROM counts
      |), vocab AS (
      |  SELECT tok AS sym, c AS c1 FROM counts
      |  ORDER BY c DESC, tok LIMIT 64
      |), unig AS (
      |  SELECT sym, c1 FROM vocab
      |  UNION ALL
      |  SELECT '<unk>', (SELECT n FROM tot) -
      |    (SELECT CAST(SUM(c1) AS BIGINT) FROM vocab)
      |), sy AS (
      |  SELECT t.doc_id, t.pos,
      |    CASE WHEN v.sym IS NULL THEN '<unk>' ELSE t.tok END AS sym
      |  FROM toks t LEFT JOIN vocab v ON t.tok = v.sym
      |), pairs AS (
      |  SELECT doc_id, sym,
      |    lead(sym) OVER (PARTITION BY doc_id ORDER BY pos) AS next_sym
      |  FROM sy
      |), pr AS (
      |  SELECT doc_id, sym, next_sym FROM pairs
      |  WHERE next_sym IS NOT NULL
      |), big AS (
      |  SELECT sym, next_sym, COUNT(*) AS c2 FROM pr
      |  GROUP BY sym, next_sym
      |), scored AS (
      |  SELECT p.doc_id,
      |    CAST(ln(0.75 * ((COALESCE(b.c2, 0) + 1) / (ua.c1 + 65))
      |       + 0.25 * ((ub.c1 + 1) / ((SELECT n FROM tot) + 65)))
      |      AS DECIMAL(24,10)) AS lp
      |  FROM pr p
      |  JOIN unig ua ON p.sym = ua.sym
      |  JOIN unig ub ON p.next_sym = ub.sym
      |  LEFT JOIN big b ON p.sym = b.sym AND p.next_sym = b.next_sym
      |), agg AS (
      |  SELECT doc_id, SUM(lp) AS lp_sum, COUNT(*) AS n_scored
      |  FROM scored GROUP BY doc_id
      |)
      |SELECT d.doc_id,
      |  COALESCE(a.n_scored, 0) AS n_scored,
      |  ROUND(CAST(a.lp_sum AS DOUBLE) / a.n_scored, 6) AS mean_logprob,
      |  ROUND(exp(-(CAST(a.lp_sum AS DOUBLE) / a.n_scored)), 6) AS pplx
      |FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id
      |ORDER BY d.doc_id""".stripMargin))

  private val q143 = Q("q143_span_excise",
    (s, dir) => {
      // Span EXCISION (RepeatedSpans.excise) — Lee et al.'s remedy
      // applied: cut cross-corpus duplicated 6-gram spans, keep the
      // document, keep-one canonical copy (lowest doc id owning each
      // hot gram). Same postings shuffle as q130 plus an owner
      // aggregate; the k-wide explode touches only FLAGGED positions.
      // hashKeys=true scale arm; exact strings/ints → hash-exact
      // oracle (the q130 collision caveat applies identically).
      RepeatedSpans.excise(t(s, dir, "documents"), "doc_id", "text",
          k = 6, minDocs = 2, hashKeys = true)
        .orderBy(col("doc_id"))
    },
    Some("""WITH toks AS (
      |  SELECT doc_id, list_filter(string_split_regex(lower(text),
      |    '\s+'), t -> t <> '') AS tk FROM documents
      |), tokpos AS (
      |  SELECT doc_id, unnest(tk) AS tok,
      |    unnest(range(1, len(tk) + 1)) AS ti
      |  FROM toks
      |), grams AS (
      |  SELECT doc_id, i - 1 AS pos,
      |    tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' ||
      |    tk[i+3] || ' ' || tk[i+4] || ' ' || tk[i+5] AS g
      |  FROM toks, LATERAL unnest(range(1, greatest(len(tk) - 4, 1))) u(i)
      |), own AS (
      |  SELECT g, MIN(doc_id) AS owner FROM grams
      |  GROUP BY g HAVING COUNT(DISTINCT doc_id) >= 2
      |), flagged AS (
      |  SELECT grams.doc_id, grams.pos
      |  FROM grams JOIN own ON grams.g = own.g
      |  WHERE grams.doc_id <> own.owner
      |), cut AS (
      |  SELECT DISTINCT doc_id, ti0 FROM (
      |    SELECT doc_id, unnest(range(pos, pos + 6)) AS ti0 FROM flagged)
      |), kept AS (
      |  SELECT t.doc_id, t.ti, t.tok
      |  FROM tokpos t LEFT JOIN cut c
      |    ON t.doc_id = c.doc_id AND t.ti - 1 = c.ti0
      |  WHERE c.ti0 IS NULL
      |), reb AS (
      |  SELECT doc_id,
      |    array_to_string(list(tok ORDER BY ti), ' ') AS text_clean,
      |    COUNT(*) AS n_kept
      |  FROM kept GROUP BY doc_id
      |)
      |SELECT d.doc_id,
      |  COALESCE(r.text_clean, '') AS text_clean,
      |  CAST(len(d.tk) AS BIGINT) AS n_tokens,
      |  CAST(len(d.tk) - COALESCE(r.n_kept, 0) AS BIGINT) AS n_excised
      |FROM toks d LEFT JOIN reb r ON d.doc_id = r.doc_id
      |ORDER BY d.doc_id""".stripMargin))

  private val q144 = Q("q144_interval_join",
    (s, dir) => {
      // Interval-OVERLAP join (RangeJoin.intervalOverlap): both sides
      // carry [lo, hi] date ranges; bucketized to weeks, equi-joined,
      // deduped by the first-overlapping-bucket guard — never a
      // BroadcastNestedLoopJoin. Fixture: two order samples with
      // key-dependent window widths; overlap_days is exact integer
      // datediff arithmetic.
      val o = t(s, dir, "orders")
        .withColumn("d", to_date(col("o_orderdate")))
      val left = o.filter(col("o_orderkey") % 311 === 0)
        .select(col("o_orderkey").as("lk"), col("d").as("llo"),
          date_add(col("d"), (col("o_orderkey") % 30).cast("int") + 1)
            .as("lhi"))
      val right = o.filter(col("o_orderkey") % 97 === 0)
        .select(col("o_orderkey").as("rk"), col("d").as("rlo"),
          date_add(col("d"), (col("o_orderkey") % 45).cast("int") + 1)
            .as("rhi"))
      val weeks: Column => Column =
        c => floor(datediff(c, lit("1970-01-01").cast("date")) / 7)
      graft.operators.RangeJoin.intervalOverlap(left, right,
          "llo", "lhi", "rlo", "rhi", weeks)
        .select(col("lk"), col("rk"),
          (datediff(least(col("lhi"), col("rhi")),
            greatest(col("llo"), col("rlo"))) + lit(1))
            .cast("long").as("overlap_days"))
        .orderBy(col("lk"), col("rk"))
    },
    Some("""WITH o AS (
      |  SELECT o_orderkey, CAST(o_orderdate AS DATE) AS d FROM orders
      |), l AS (
      |  SELECT o_orderkey AS lk, d AS llo,
      |    d + CAST(o_orderkey % 30 + 1 AS INT) AS lhi
      |  FROM o WHERE o_orderkey % 311 = 0
      |), r AS (
      |  SELECT o_orderkey AS rk, d AS rlo,
      |    d + CAST(o_orderkey % 45 + 1 AS INT) AS rhi
      |  FROM o WHERE o_orderkey % 97 = 0
      |)
      |SELECT l.lk, r.rk,
      |  CAST(date_diff('day', greatest(l.llo, r.rlo),
      |    least(l.lhi, r.rhi)) + 1 AS BIGINT) AS overlap_days
      |FROM l JOIN r
      |  ON l.llo <= r.rhi AND r.rlo <= l.lhi
      |ORDER BY l.lk, r.rk""".stripMargin))

  private val q145 = Q("q145_bpe_pipeline",
    (s, dir) => {
      // END-TO-END learned tokenizer under one oracle: learn 5 BPE
      // merges from the corpus (q137's loop, 2 more rounds), then apply
      // THOSE learned merges corpus-wide (q138's codegen chain, merge
      // list now data-derived) and count tokens. The merge table is a
      // 5-row collect (k-row by construction — the kmeans-centroid
      // justification). SQL replays learning as chained CTEs and the
      // apply as replaces driven by the per-iteration winner CTEs.
      val docs = t(s, dir, "documents")
      val merges = Bpe.learnMerges(docs, "text", numMerges = 5)
        .orderBy(col("rank")).collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      docs.select(col("doc_id"),
          TF.tokenCount(col("text")).cast("long").as("n_ws"),
          Bpe.tokenCount(col("text"), merges).as("n_bpe"))
        .orderBy(col("doc_id"))
    },
    Some(s"""WITH wc AS (
      |  SELECT w AS word, COUNT(*) AS n FROM (
      |    SELECT unnest(list_filter(string_split_regex(lower(text),
      |      '\\s+'), x -> x <> '')) AS w
      |    FROM documents)
      |  WHERE NOT contains(w, '|')
      |  GROUP BY w
      |), v0 AS (
      |  SELECT regexp_replace(word, '(.)', '|\\1 ', 'g') AS s, n FROM wc
      |), ${bpeIterSql(1, "v0")},
      |${bpeIterSql(2, "v1")},
      |${bpeIterSql(3, "v2")},
      |${bpeIterSql(4, "v3")},
      |${bpeIterSql(5, "v4")},
      |e0 AS (
      |  SELECT doc_id,
      |    CAST(len(list_filter(string_split_regex(lower(text), '\\s+'),
      |      x -> x <> '')) AS BIGINT) AS n_ws,
      |    regexp_replace(replace(lower(text), '|', ''),
      |      '(\\S)', '|\\1 ', 'g') AS s
      |  FROM documents
      |), e1 AS (
      |  SELECT doc_id, n_ws, replace(e0.s,
      |    '|' || w.l || ' |' || w.r || ' ',
      |    '|' || w.l || w.r || ' ') AS s FROM e0, w1 w
      |), e2 AS (
      |  SELECT doc_id, n_ws, replace(e1.s,
      |    '|' || w.l || ' |' || w.r || ' ',
      |    '|' || w.l || w.r || ' ') AS s FROM e1, w2 w
      |), e3 AS (
      |  SELECT doc_id, n_ws, replace(e2.s,
      |    '|' || w.l || ' |' || w.r || ' ',
      |    '|' || w.l || w.r || ' ') AS s FROM e2, w3 w
      |), e4 AS (
      |  SELECT doc_id, n_ws, replace(e3.s,
      |    '|' || w.l || ' |' || w.r || ' ',
      |    '|' || w.l || w.r || ' ') AS s FROM e3, w4 w
      |), e5 AS (
      |  SELECT doc_id, n_ws, replace(e4.s,
      |    '|' || w.l || ' |' || w.r || ' ',
      |    '|' || w.l || w.r || ' ') AS s FROM e4, w5 w
      |)
      |SELECT doc_id, n_ws,
      |  CAST(len(s) - len(replace(s, '|', '')) AS BIGINT) AS n_bpe
      |FROM e5 ORDER BY doc_id""".stripMargin))

  private val q146 = Q("q146_psi_drift",
    (s, dir) => {
      // Distribution-drift gate (Drift.psi): PSI + total-variation
      // between a reference window and a candidate window of the same
      // metric, over fixed bins with Laplace smoothing — the
      // admit-a-new-source health check. Nothing wider than the 8-bin
      // frame shuffles; ln()'s ulp is absorbed by the DECIMAL(24,10)
      // round (q142 recipe), bin totals are exact decimal sums.
      val ev = t(s, dir, "events")
      Drift.psi(
        ev.filter(col("event_type") === "view"),
        ev.filter(col("event_type") === "purchase"),
        "value", Seq(5, 10, 20, 40, 80, 160, 320))
        .orderBy(col("bin"))
    },
    Some("""WITH rc AS (
      |  SELECT (CASE WHEN value >= 5 THEN 1 ELSE 0 END) +
      |    (CASE WHEN value >= 10 THEN 1 ELSE 0 END) +
      |    (CASE WHEN value >= 20 THEN 1 ELSE 0 END) +
      |    (CASE WHEN value >= 40 THEN 1 ELSE 0 END) +
      |    (CASE WHEN value >= 80 THEN 1 ELSE 0 END) +
      |    (CASE WHEN value >= 160 THEN 1 ELSE 0 END) +
      |    (CASE WHEN value >= 320 THEN 1 ELSE 0 END) AS bin,
      |    COUNT(*) AS n_ref
      |  FROM events WHERE event_type = 'view' GROUP BY 1
      |), cc AS (
      |  SELECT (CASE WHEN value >= 5 THEN 1 ELSE 0 END) +
      |    (CASE WHEN value >= 10 THEN 1 ELSE 0 END) +
      |    (CASE WHEN value >= 20 THEN 1 ELSE 0 END) +
      |    (CASE WHEN value >= 40 THEN 1 ELSE 0 END) +
      |    (CASE WHEN value >= 80 THEN 1 ELSE 0 END) +
      |    (CASE WHEN value >= 160 THEN 1 ELSE 0 END) +
      |    (CASE WHEN value >= 320 THEN 1 ELSE 0 END) AS bin,
      |    COUNT(*) AS n_cur
      |  FROM events WHERE event_type = 'purchase' GROUP BY 1
      |), b AS (
      |  SELECT unnest(range(8)) AS bin
      |), j AS (
      |  SELECT b.bin, COALESCE(rc.n_ref, 0) AS n_ref,
      |    COALESCE(cc.n_cur, 0) AS n_cur
      |  FROM b LEFT JOIN rc ON b.bin = rc.bin
      |    LEFT JOIN cc ON b.bin = cc.bin
      |), p AS (
      |  SELECT bin, n_ref, n_cur,
      |    CAST(n_ref + 1 AS DOUBLE) /
      |      CAST((SUM(n_ref) OVER ()) + 8 AS DOUBLE) AS p_ref,
      |    CAST(n_cur + 1 AS DOUBLE) /
      |      CAST((SUM(n_cur) OVER ()) + 8 AS DOUBLE) AS p_cur
      |  FROM j
      |), tm AS (
      |  SELECT bin, n_ref, n_cur, p_ref, p_cur,
      |    CAST((p_cur - p_ref) *
      |      CAST(CAST(ln(p_cur / p_ref) AS DECIMAL(24,10)) AS DOUBLE)
      |      AS DECIMAL(28,12)) AS term,
      |    CAST(abs(p_cur - p_ref) AS DECIMAL(28,12)) AS ad
      |  FROM p
      |)
      |SELECT bin, n_ref, n_cur,
      |  ROUND(p_ref, 6) AS p_ref, ROUND(p_cur, 6) AS p_cur,
      |  ROUND(CAST(term AS DOUBLE), 6) AS psi_term,
      |  ROUND(CAST(SUM(term) OVER () AS DOUBLE), 6) AS psi_total,
      |  ROUND(CAST(SUM(ad) OVER () AS DOUBLE) / 2, 6) AS tvd
      |FROM tm ORDER BY bin""".stripMargin))

  private val q147 = Q("q147_cross_decontam",
    (s, dir) => {
      // Cross-set decontamination report (Dedup.crossContamination):
      // eval docs (odd ids) with a near-dup leak from the train set
      // (even ids), via the portable MinHash-LSH chain joined ACROSS
      // the two sets, exact-Jaccard verified, best train match per
      // eval doc. The oracle replays the q57 chain and takes the
      // cross-parity slice — signatures are per-doc, so the subset
      // chains and the whole-corpus chain agree by construction.
      val docs = t(s, dir, "documents")
      Dedup.crossContamination(
        docs.filter(col("doc_id") % 2 === 0),
        docs.filter(col("doc_id") % 2 === 1),
        "doc_id", "text",
        numHashes = 64, bands = 16, shingleSize = 3, threshold = 0.8)
        .orderBy(col("eval_id"))
    },
    Some(s"""WITH $portableChainCtes,
      |cross_pairs AS (
      |  SELECT CASE WHEN id_a % 2 = 1 THEN id_a ELSE id_b END AS eval_id,
      |    CASE WHEN id_a % 2 = 1 THEN id_b ELSE id_a END AS train_id, j
      |  FROM verified WHERE (id_a % 2) <> (id_b % 2)
      |)
      |SELECT eval_id, train_id, ROUND(j, 6) AS jaccard FROM (
      |  SELECT eval_id, train_id, j,
      |    ROW_NUMBER() OVER (PARTITION BY eval_id
      |      ORDER BY j DESC, train_id) AS rn
      |  FROM cross_pairs) WHERE rn = 1
      |ORDER BY eval_id""".stripMargin))

  private val q148 = Q("q148_psi_series",
    (s, dir) => {
      // Drift SERIES (Drift.psiSeries): one PSI/TVD row per purchase
      // WEEK, each measured against the all-time view distribution —
      // the continuous-monitoring form of q146. Nothing wider than
      // weeks x 8 bins shuffles; same decimal/ln discipline as q146.
      val ev = t(s, dir, "events")
      val weekUs = 604800000000L
      Drift.psiSeries(
        ev.filter(col("event_type") === "view"),
        ev.filter(col("event_type") === "purchase")
          .withColumn("ts_us", EventTime.tsMicros(ev))
          .withColumn("week", expr(s"ts_us DIV $weekUs")).drop("ts_us"),
        "value", "week", Seq(5, 10, 20, 40, 80, 160, 320))
        .orderBy(col("grp"))
    },
    Some("""WITH refc AS (
      |  SELECT (CASE WHEN value >= 5 THEN 1 ELSE 0 END) +
      |    (CASE WHEN value >= 10 THEN 1 ELSE 0 END) +
      |    (CASE WHEN value >= 20 THEN 1 ELSE 0 END) +
      |    (CASE WHEN value >= 40 THEN 1 ELSE 0 END) +
      |    (CASE WHEN value >= 80 THEN 1 ELSE 0 END) +
      |    (CASE WHEN value >= 160 THEN 1 ELSE 0 END) +
      |    (CASE WHEN value >= 320 THEN 1 ELSE 0 END) AS bin,
      |    COUNT(*) AS n_ref
      |  FROM events WHERE event_type = 'view' GROUP BY 1
      |), b AS (
      |  SELECT unnest(range(8)) AS bin
      |), pref AS (
      |  SELECT b.bin,
      |    CAST(COALESCE(refc.n_ref, 0) + 1 AS DOUBLE) /
      |      CAST((SUM(COALESCE(refc.n_ref, 0)) OVER ()) + 8 AS DOUBLE)
      |      AS p_ref
      |  FROM b LEFT JOIN refc ON b.bin = refc.bin
      |), curc AS (
      |  SELECT epoch_us(ts) // 604800000000 AS grp,
      |    (CASE WHEN value >= 5 THEN 1 ELSE 0 END) +
      |    (CASE WHEN value >= 10 THEN 1 ELSE 0 END) +
      |    (CASE WHEN value >= 20 THEN 1 ELSE 0 END) +
      |    (CASE WHEN value >= 40 THEN 1 ELSE 0 END) +
      |    (CASE WHEN value >= 80 THEN 1 ELSE 0 END) +
      |    (CASE WHEN value >= 160 THEN 1 ELSE 0 END) +
      |    (CASE WHEN value >= 320 THEN 1 ELSE 0 END) AS bin,
      |    COUNT(*) AS n_cur
      |  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
      |), cells AS (
      |  SELECT f.grp, f.bin, COALESCE(c.n_cur, 0) AS n_cur
      |  FROM (SELECT g.grp, b.bin
      |        FROM (SELECT DISTINCT grp FROM curc) g CROSS JOIN b) f
      |  LEFT JOIN curc c ON f.grp = c.grp AND f.bin = c.bin
      |), p AS (
      |  SELECT grp, bin, n_cur,
      |    CAST(n_cur + 1 AS DOUBLE) /
      |      CAST((SUM(n_cur) OVER (PARTITION BY grp)) + 8 AS DOUBLE)
      |      AS p_cur
      |  FROM cells
      |), tm AS (
      |  SELECT p.grp, p.n_cur,
      |    CAST((p.p_cur - pref.p_ref) *
      |      CAST(CAST(ln(p.p_cur / pref.p_ref) AS DECIMAL(24,10))
      |        AS DOUBLE) AS DECIMAL(28,12)) AS term,
      |    CAST(abs(p.p_cur - pref.p_ref) AS DECIMAL(28,12)) AS ad
      |  FROM p JOIN pref ON p.bin = pref.bin
      |)
      |SELECT grp, CAST(SUM(n_cur) AS BIGINT) AS n_cur,
      |  ROUND(CAST(SUM(term) AS DOUBLE), 6) AS psi,
      |  ROUND(CAST(SUM(ad) AS DOUBLE) / 2, 6) AS tvd
      |FROM tm GROUP BY grp ORDER BY grp""".stripMargin))

  private val q149 = Q("q149_quantile_norm",
    (s, dir) => {
      // Quantile normalization (Normalize.quantileNormalize): re-express
      // every crawl doc's length signal as the CURATED-reference (src0)
      // value at the same within-source rank position, on an 11-point
      // grid — after this a single global threshold means the same
      // thing for every source. All INTEGER rank arithmetic; crawl side
      // = one per-source rank window + a broadcast grid join.
      val docs = t(s, dir, "documents")
      Normalize.quantileNormalize(
          docs.filter(col("source") =!= "src0"),
          docs.filter(col("source") === "src0"),
          "doc_id", "n_chars", "source", k = 10)
        .select(col("doc_id"), col("source"), col("n_chars"),
          col("normalized"))
        .orderBy(col("doc_id"))
    },
    Some("""WITH ref AS (
      |  SELECT n_chars AS ref_score, doc_id,
      |    ROW_NUMBER() OVER (ORDER BY n_chars, doc_id) AS g,
      |    COUNT(*) OVER () AS m
      |  FROM documents WHERE source = 'src0'
      |), grid AS (
      |  SELECT ii.i, ref.ref_score AS normalized
      |  FROM (SELECT unnest(range(11)) AS i) ii
      |  JOIN ref ON ref.g = 1 + ((ref.m - 1) * ii.i) // 10
      |), cur AS (
      |  SELECT doc_id, source, n_chars,
      |    ROW_NUMBER() OVER (PARTITION BY source
      |      ORDER BY n_chars, doc_id) AS r,
      |    COUNT(*) OVER (PARTITION BY source) AS n
      |  FROM documents WHERE source <> 'src0'
      |)
      |SELECT c.doc_id, c.source, c.n_chars, grid.normalized
      |FROM cur c JOIN grid ON grid.i =
      |  CASE WHEN c.n = 1 THEN 0 ELSE ((c.r - 1) * 10) // (c.n - 1) END
      |ORDER BY c.doc_id""".stripMargin))

  private val q150 = Q("q150_capped_jaccard",
    (s, dir) => {
      // The SCALE-SAFE arm of the exact similarity join: q36/q121's
      // answer is inherently quadratic on duplicate-heavy corpora, so
      // the 100 TB form is `maxPairsPerDoc` — keep the strongest `cap`
      // partners per left doc under (jaccard desc, id_b asc), drops
      // reported via observe(). The oracle replays cap-then-orient
      // EXACTLY: self-pairs (jaccard 1.0) count against the budget
      // BEFORE the id_a != id_b orientation filter, per the capPerDoc
      // contract ("pairs filtered AFTER the cap still count").
      val docs = t(s, dir, "documents")
      val sets = docs
        .select(col("doc_id"), TF.shinglesFast(col("text"), 1).as("st"))
      Fuzzy.jaccardSelfJoin(sets, "doc_id", "st", 0.3,
          col("doc_id") % 50 === 0, maxPairsPerDoc = 3)
        .filter(col("id_a") =!= col("id_b"))
        .select(col("id_a"), col("id_b"),
          round(col("jaccard"), 6).as("jaccard"))
        .orderBy(col("id_a"), col("id_b"))
    },
    Some("""WITH sets AS (
      |  SELECT doc_id, list_distinct(list_filter(
      |    string_split_regex(lower(text), '\s+'), t -> t <> '')) AS st
      |  FROM documents
      |), pairs AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |    CAST(len(list_intersect(a.st, b.st)) AS DOUBLE) /
      |    CAST(len(list_distinct(list_concat(a.st, b.st))) AS DOUBLE) AS j
      |  FROM (SELECT * FROM sets WHERE doc_id % 50 = 0) a
      |  CROSS JOIN sets b
      |), kept AS (
      |  SELECT id_a, id_b, j, ROW_NUMBER() OVER (
      |    PARTITION BY id_a ORDER BY j DESC, id_b) AS rk
      |  FROM pairs WHERE j >= 0.3
      |)
      |SELECT id_a, id_b, ROUND(j, 6) AS jaccard
      |FROM kept WHERE rk <= 3 AND id_a <> id_b
      |ORDER BY id_a, id_b""".stripMargin))

  private val q151 = Q("q151_capped_editdist",
    (s, dir) => {
      // Capped arm of the PassJoin edit-distance self-join: per left
      // name keep the `cap` NEAREST partners (dist asc, name_b asc).
      // Unlike q150 the pairs are pre-oriented (name_a < name_b), so
      // the cap is a budget over each name's lexicographic-right
      // partners only — the oracle replays that orientation first.
      Fuzzy.editDistanceSelfJoin(
          t(s, dir, "part").select(col("p_name")), "p_name", 3,
          maxPairsPerDoc = 2)
        .orderBy(col("name_a"), col("name_b"))
    },
    Some("""WITH pairs AS (
      |  SELECT a.p_name AS name_a, b.p_name AS name_b,
      |    CAST(levenshtein(a.p_name, b.p_name) AS INT) AS dist
      |  FROM (SELECT DISTINCT p_name FROM part) a
      |  JOIN (SELECT DISTINCT p_name FROM part) b ON a.p_name < b.p_name
      |  WHERE levenshtein(a.p_name, b.p_name) <= 3
      |)
      |SELECT name_a, name_b, dist FROM (
      |  SELECT name_a, name_b, dist, ROW_NUMBER() OVER (
      |    PARTITION BY name_a ORDER BY dist, name_b) AS rk
      |  FROM pairs)
      |WHERE rk <= 2
      |ORDER BY name_a, name_b""".stripMargin))

  private val q152 = Q("q152_gopher_rules",
    (s, dir) => {
      // Gopher quality-rule battery (GopherRules.score — Rae et al.
      // 2021 A1.1): one map-only codegen pass per doc; every PASS flag
      // compares integer counts by cross-multiplication, so the gate is
      // engine-exact. minWords lowered to 10 so the sf fixtures spread
      // across both outcomes.
      GopherRules.score(t(s, dir, "documents"), "doc_id", "text",
          minWords = 10)
        .select(col("doc_id"), col("n_words"), col("n_lines"),
          col("mean_word_len"), col("alpha_words"), col("symbol_hits"),
          col("bullet_lines"), col("ellipsis_lines"),
          col("stopword_hits"), col("passes"))
        .orderBy(col("doc_id"))
    },
    Some(s"""WITH sig AS (
      |  SELECT doc_id,
      |    len(regexp_extract_all(text, '\\S+')) AS n_words,
      |    len(string_split(text, chr(10))) AS n_lines,
      |    length(regexp_replace(text, '\\s+', '', 'g')) AS word_chars,
      |    len(regexp_extract_all(text, '[^\\s]*[A-Za-z][^\\s]*'))
      |      AS alpha_words,
      |    len(regexp_extract_all(text, '#|\\.\\.\\.|…')) AS symbol_hits,
      |    len(regexp_extract_all(chr(10) || text,
      |      chr(10) || '[ \t]*[-*•]')) AS bullet_lines,
      |    len(regexp_extract_all(text || chr(10),
      |      '(\\.\\.\\.|…)[ \t]*' || chr(10))) AS ellipsis_lines,
      |    ${GopherRules.StopWords.map(w =>
             s"(CASE WHEN contains(' ' || regexp_replace(lower(text), " +
               s"'\\s+', ' ', 'g') || ' ', ' $w ') THEN 1 ELSE 0 END)")
             .mkString(" + ")} AS stopword_hits
      |  FROM documents
      |)
      |SELECT doc_id, n_words, n_lines,
      |  ROUND(CAST(word_chars AS DOUBLE) / nullif(n_words, 0), 6)
      |    AS mean_word_len,
      |  alpha_words, symbol_hits, bullet_lines, ellipsis_lines,
      |  stopword_hits,
      |  (n_words BETWEEN 10 AND 100000) AND
      |    (word_chars >= 3 * n_words AND word_chars <= 10 * n_words
      |      AND n_words > 0) AND
      |    (symbol_hits * 10 <= n_words) AND
      |    (bullet_lines * 10 <= n_lines * 9) AND
      |    (ellipsis_lines * 10 <= n_lines * 3) AND
      |    (alpha_words * 5 >= n_words * 4 AND n_words > 0) AND
      |    (stopword_hits >= 2) AS passes
      |FROM sig ORDER BY doc_id""".stripMargin))

  private val q153 = Q("q153_c4_clean",
    (s, dir) => {
      // C4 page cleaning (C4Clean.clean — Raffel et al. 2020 §2.2):
      // line gate = terminal punctuation + >=3 words + no 'javascript';
      // page gate = >=2 kept lines, no '{', no 'lorem ipsum'.
      // The fixture text is single-line and punctuation-free, so the
      // query first synthesizes line structure deterministically
      // (literal ' table ' → '.\n' — same leftmost non-overlapping
      // replace-all in both engines); 221/500 docs survive at sf0.01,
      // with 0–8 kept lines, so keep and drop are both exercised.
      C4Clean.clean(
          t(s, dir, "documents").withColumn("text",
            regexp_replace(col("text"), lit(" table "), lit(".\n"))),
          "doc_id", "text", minLineWords = 3, minKeptLines = 2)
        .orderBy(col("doc_id"))
    },
    Some("""WITH pages AS (
      |  SELECT doc_id, replace(text, ' table ', '.' || chr(10)) AS text
      |  FROM documents
      |  WHERE NOT contains(replace(text, ' table ', '.' || chr(10)), '{')
      |    AND NOT contains(lower(replace(text, ' table ',
      |      '.' || chr(10))), 'lorem ipsum')
      |), cleaned AS (
      |  SELECT doc_id,
      |    array_to_string(list_filter(string_split(text, chr(10)),
      |      l -> regexp_matches(l, '[.!?"][ \t]*$')
      |        AND len(regexp_extract_all(l, '\S+')) >= 3
      |        AND NOT contains(lower(l), 'javascript')), chr(10))
      |      AS text_clean,
      |    CAST(len(string_split(text, chr(10))) AS BIGINT) AS n_lines,
      |    CAST(len(list_filter(string_split(text, chr(10)),
      |      l -> regexp_matches(l, '[.!?"][ \t]*$')
      |        AND len(regexp_extract_all(l, '\S+')) >= 3
      |        AND NOT contains(lower(l), 'javascript'))) AS BIGINT)
      |      AS n_kept
      |  FROM pages
      |)
      |SELECT doc_id, text_clean, n_lines, n_kept
      |FROM cleaned WHERE n_kept >= 2
      |ORDER BY doc_id""".stripMargin))

  private val q154 = Q("q154_zipf_fit",
    (s, dir) => {
      // Zipf power-law fit (Zipf.fit): least-squares ln(freq)~ln(rank)
      // over the top-500 tokens. Distributed top-K carve, bounded rank
      // window, ln ulp absorbed by DECIMAL(24,10), decimal-exact sums
      // (the q146 discipline) — one row, engine-exact to 6 decimals.
      Zipf.fit(t(s, dir, "documents"), "text", topK = 500)
    },
    Some("""WITH freq AS (
      |  SELECT tok, COUNT(*) AS freq FROM (
      |    SELECT unnest(list_filter(string_split_regex(lower(text),
      |      '\s+'), x -> x <> '')) AS tok
      |    FROM documents)
      |  GROUP BY tok
      |), top AS (
      |  SELECT tok, freq FROM freq ORDER BY freq DESC, tok LIMIT 500
      |), ranked AS (
      |  SELECT freq,
      |    ROW_NUMBER() OVER (ORDER BY freq DESC, tok) AS rank
      |  FROM top
      |), terms AS (
      |  SELECT
      |    CAST(CAST(CAST(ln(rank) AS DECIMAL(24,10)) AS DOUBLE)
      |      AS DECIMAL(24,10)) AS x,
      |    CAST(CAST(CAST(ln(freq) AS DECIMAL(24,10)) AS DOUBLE)
      |      AS DECIMAL(24,10)) AS y,
      |    CAST(CAST(CAST(ln(rank) AS DECIMAL(24,10)) AS DOUBLE) *
      |      CAST(CAST(ln(freq) AS DECIMAL(24,10)) AS DOUBLE)
      |      AS DECIMAL(28,12)) AS xy,
      |    CAST(CAST(CAST(ln(rank) AS DECIMAL(24,10)) AS DOUBLE) *
      |      CAST(CAST(ln(rank) AS DECIMAL(24,10)) AS DOUBLE)
      |      AS DECIMAL(28,12)) AS xx,
      |    CAST(CAST(CAST(ln(freq) AS DECIMAL(24,10)) AS DOUBLE) *
      |      CAST(CAST(ln(freq) AS DECIMAL(24,10)) AS DOUBLE)
      |      AS DECIMAL(28,12)) AS yy
      |  FROM ranked
      |), sums AS (
      |  SELECT CAST(COUNT(*) AS DOUBLE) AS n,
      |    CAST(SUM(x) AS DOUBLE) AS sx, CAST(SUM(y) AS DOUBLE) AS sy,
      |    CAST(SUM(xy) AS DOUBLE) AS sxy,
      |    CAST(SUM(xx) AS DOUBLE) AS sxx,
      |    CAST(SUM(yy) AS DOUBLE) AS syy
      |  FROM terms
      |)
      |SELECT CAST(n AS BIGINT) AS n_tokens,
      |  ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope,
      |  ROUND((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n,
      |    6) AS intercept,
      |  ROUND(((n * sxy - sx * sy) * (n * sxy - sx * sy)) /
      |    ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS r2
      |FROM sums""".stripMargin))

  private val q155 = Q("q155_tokenizer_fertility",
    (s, dir) => {
      // Tokenizer fertility per source: BPE tokens per whitespace word
      // under a FIXED merge list (the deployment-monitoring shape —
      // the tokenizer is a frozen artifact; learning is q137/q145).
      // Integer token sums per source; one final rounded division.
      val merges = Seq(("t", "h"), ("th", "e"), ("a", "n"), ("i", "n"),
        ("o", "n"), ("e", "r"))
      t(s, dir, "documents")
        .select(col("source"),
          TF.tokenCount(col("text")).cast("long").as("ws"),
          Bpe.tokenCount(col("text"), merges).as("bpe"))
        .groupBy(col("source"))
        .agg(sum(col("ws")).as("n_words"), sum(col("bpe")).as("n_bpe"))
        .withColumn("fertility", round(
          col("n_bpe").cast("double") / col("n_words"), 6))
        .orderBy(col("source"))
    },
    Some("""WITH r AS (
      |  SELECT source,
      |    CAST(len(list_filter(string_split_regex(lower(text), '\s+'),
      |      x -> x <> '')) AS BIGINT) AS ws,
      |    replace(replace(replace(replace(replace(replace(
      |      regexp_replace(replace(lower(text), '|', ''),
      |        '(\S)', '|\1 ', 'g'),
      |      '|t |h ', '|th '), '|th |e ', '|the '), '|a |n ', '|an '),
      |      '|i |n ', '|in '), '|o |n ', '|on '), '|e |r ', '|er ') AS s
      |  FROM documents
      |)
      |SELECT source, CAST(SUM(ws) AS BIGINT) AS n_words,
      |  CAST(SUM(CAST(len(s) - len(replace(s, '|', ''))
      |    AS BIGINT)) AS BIGINT) AS n_bpe,
      |  ROUND(CAST(SUM(CAST(len(s) - len(replace(s, '|', ''))
      |    AS BIGINT)) AS DOUBLE) / SUM(ws), 6) AS fertility
      |FROM r GROUP BY source ORDER BY source""".stripMargin))

  private val q156 = Q("q156_dup_rate_by_source",
    (s, dir) => {
      // Per-source exact-duplication health report (Dedup.
      // dupRateByGroup): duplicate GROUPS are corpus-wide (md5 of
      // text), attribution is per source — the admission dashboard a
      // mixing pipeline reads before q68/q112 weighting.
      Dedup.dupRateByGroup(t(s, dir, "documents"), "source", "text")
        .orderBy(col("source"))
    },
    Some("""WITH h AS (
      |  SELECT source, COALESCE(md5(text), '') AS hh FROM documents
      |), sizes AS (
      |  SELECT hh, COUNT(*) AS copies FROM h GROUP BY hh
      |)
      |SELECT source, COUNT(*) AS n_docs,
      |  CAST(SUM(CASE WHEN copies > 1 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_dup_docs,
      |  COUNT(DISTINCT CASE WHEN copies > 1 THEN h.hh END)
      |    AS n_dup_groups,
      |  CAST((CAST(SUM(CASE WHEN copies > 1 THEN 1 ELSE 0 END)
      |      AS HUGEINT) * 1000000) // CAST(COUNT(*) AS HUGEINT)
      |    AS DOUBLE) / 1000000.0 AS dup_rate
      |FROM h JOIN sizes ON h.hh = sizes.hh
      |GROUP BY source ORDER BY source""".stripMargin))

  private val q157 = Q("q157_xxhash_exact_dups",
    (s, dir) => {
      // The PRODUCTION xxhash64 MinHash-LSH chain (Dedup.
      // minhashNearDups — one 8-byte hash per shingle, no md5 hex
      // detour), oracle-verified end to end despite DuckDB lacking
      // xxhash64: at verify threshold 1.0 the answer is
      // hash-INDEPENDENT. Jaccard 1.0 ⟺ identical distinct-shingle
      // sets ⟹ identical minhash signatures under ANY hash family ⟹
      // equal buckets in EVERY band, so LSH recall is provably 100%
      // and the exact verify pins precision — the oracle just joins
      // docs on sorted-token-set equality. shingleSize 1 (distinct
      // TOKEN sets) because the synthetic fixtures carry bag-of-words
      // duplicates (same vocabulary, different order) but no exact
      // 3-shingle duplicates at the sf0.01 gate scale — this operating
      // point gives the chain a non-trivial answer (hundreds of pairs)
      // to prove itself on. Keeps the xxhash64 arm (q35/q37's former
      // production path before their md5-portable swap) exercised by
      // the bench sweep AND the oracle gate, not only by unit-level
      // family-equality tests. bands = 1 (one band of r = 64 rows) is
      // the correct LSH operating point for threshold 1.0: identical
      // sets still collide with probability exactly 1 (same
      // signature), while a 0.9-similar pair collides with
      // P = 0.9^64 ≈ 0.001, so buckets stay exact-dup-clique-sized.
      // At 16 bands of r=4 this vocab-dense corpus flooded the buckets
      // with near-miss collisions — 2.1M candidate pairs through the
      // verify at sf0.1 AND bucket sizes past the maxBucketSize
      // guardrail, whose documented truncation silently cost recall
      // there (the sf0.01 gate stayed complete only because 500 docs
      // cannot overflow a 1000-doc bucket).
      Dedup.minhashNearDups(t(s, dir, "documents"), "doc_id", "text",
        numHashes = 64, bands = 1, shingleSize = 1, threshold = 1.0)
        .orderBy(col("id_a"), col("id_b"))
    },
    Some("""WITH sets AS (
      |  SELECT doc_id, list_sort(list_distinct(list_filter(
      |    string_split_regex(lower(text), '\s+'), t -> t <> ''))) AS st
      |  FROM documents
      |), ne AS (SELECT doc_id, st FROM sets WHERE len(st) > 0)
      |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |  CAST(1.0 AS DOUBLE) AS jaccard
      |FROM ne a JOIN ne b ON a.st = b.st AND a.doc_id < b.doc_id
      |ORDER BY id_a, id_b""".stripMargin))

  private val q158 = Q("q158_keep_one_dedup",
    (s, dir) => {
      // Keep-one-per-fingerprint dedup end to end
      // (Dedup.exactByFingerprint — round 13's spillable argmin-
      // aggregate + semi-join, no window sort, no full-row heap): the
      // fixture corpus carries no fingerprint dups, so
      // the query plants one mangled copy per doc — upper-cased with
      // trailing whitespace, which the fingerprint normalization
      // (lower + whitespace-collapse + trim) folds back onto the
      // original — at doc_id + 1000000. The keep-one must crown every
      // ORIGINAL (lowest id per group); a wrong winner flips rows the
      // oracle hash catches.
      val d = t(s, dir, "documents")
      val mangled = d.select((col("doc_id") + 1000000L).as("doc_id"),
        upper(concat(col("text"), lit("  "))).as("text"),
        col("lang"), col("source"), col("n_chars"))
      graft.operators.Dedup
        .exactByFingerprint(d.unionByName(mangled), "doc_id", "text")
        .orderBy(col("doc_id"))
    },
    Some("""WITH u AS (
      |  SELECT doc_id, text, lang, source, n_chars FROM documents
      |  UNION ALL
      |  SELECT doc_id + 1000000, upper(text || '  '), lang, source,
      |    n_chars FROM documents
      |)
      |SELECT doc_id, text, lang, source, n_chars FROM (
      |  SELECT *, ROW_NUMBER() OVER (
      |    PARTITION BY md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g')))
      |    ORDER BY doc_id) AS rn FROM u) t
      |WHERE rn = 1 ORDER BY doc_id""".stripMargin))

  private val q159 = Q("q159_ranking_eval",
    (s, dir) => {
      // TREC-style ranked-retrieval evaluation (Retrieval.rankingEval):
      // per-query recall@k / MRR@k / NDCG@k — the metric gate on a
      // retrieval stack (BM25/ANN curation, hard-negative mining)
      // before its ranking decides what enters a corpus. Demo framing
      // on the fixture: each customer is a "query", their orders the
      // candidates ranked by total price, and urgent/high priority the
      // relevance judgments (grade 2/1) — does price rank urgency on
      // top? Scale shape: the runs side is touched ONCE by the heap
      // top-k cut (TopKPerGroupExec — no whole-group window sort; the
      // rank index is a row_number over the <=k survivors reusing the
      // heap's hash distribution), the grade join is k·|Q|-bounded,
      // and qrels (judgments — bounded by nature) pay two map-side-
      // combined aggregates. DCG partials are DECIMAL(22,9)-rounded
      // then decimal-summed so partial-agg order can't move the sum;
      // log2's last ulp is absorbed by round(6) (q136 precedent).
      val o = t(s, dir, "orders")
      val runs = o.select(col("o_custkey"), col("o_orderkey"),
        col("o_totalprice"))
      val qrels = o
        .filter(col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
        .select(col("o_custkey"), col("o_orderkey"),
          when(col("o_orderpriority") === "1-URGENT", 2)
            .otherwise(1).as("grade"))
      Retrieval.rankingEval(runs, qrels, "o_custkey", "o_orderkey",
          "o_totalprice", "grade", k = 5)
        .orderBy(col("o_custkey"))
    },
    Some("""WITH qrels AS (
      |  SELECT o_custkey AS q, o_orderkey AS d,
      |    CASE WHEN o_orderpriority = '1-URGENT' THEN 2 ELSE 1 END AS g
      |  FROM orders WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
      |), ranked AS (
      |  SELECT o_custkey AS q, o_orderkey AS d,
      |    ROW_NUMBER() OVER (PARTITION BY o_custkey
      |      ORDER BY o_totalprice DESC, o_orderkey) AS rk
      |  FROM orders
      |), judged AS (
      |  SELECT t.q, t.rk, COALESCE(r.g, 0) AS g
      |  FROM (SELECT * FROM ranked WHERE rk <= 5) t
      |  LEFT JOIN qrels r ON t.q = r.q AND t.d = r.d
      |), runagg AS (
      |  SELECT q,
      |    SUM(CASE WHEN g > 0 THEN 1 ELSE 0 END) AS hits,
      |    MAX(CASE WHEN g > 0 THEN CAST(1 AS DOUBLE) / rk
      |      ELSE CAST(0 AS DOUBLE) END) AS mrr,
      |    SUM(CAST((POW(CAST(2 AS DOUBLE), g) - 1.0) / LOG2(rk + 1)
      |      AS DECIMAL(22,9))) AS dcg
      |  FROM judged GROUP BY q
      |), ideal AS (
      |  SELECT q, g, ROW_NUMBER() OVER (PARTITION BY q
      |    ORDER BY g DESC, d) AS rk
      |  FROM qrels
      |), idcg AS (
      |  SELECT q, CAST(COUNT(*) AS BIGINT) AS n_rel,
      |    SUM(CASE WHEN rk <= 5
      |      THEN CAST((POW(CAST(2 AS DOUBLE), g) - 1.0) / LOG2(rk + 1)
      |        AS DECIMAL(22,9))
      |      ELSE CAST(0 AS DECIMAL(22,9)) END) AS idcg
      |  FROM ideal GROUP BY q
      |)
      |SELECT i.q AS o_custkey, i.n_rel,
      |  ROUND(CAST(COALESCE(r.hits, 0) AS DOUBLE) / i.n_rel, 6)
      |    AS recall_at_k,
      |  ROUND(COALESCE(r.mrr, CAST(0 AS DOUBLE)), 6) AS mrr_at_k,
      |  ROUND(CAST(COALESCE(r.dcg, 0) AS DOUBLE) /
      |    CAST(i.idcg AS DOUBLE), 6) AS ndcg_at_k
      |FROM idcg i LEFT JOIN runagg r ON i.q = r.q
      |ORDER BY o_custkey""".stripMargin))

  /** One ranker's full eval-to-NDCG CTE chain for the q160 oracle —
    * rendered twice (price vs recency) against the shared qrels/idcg
    * CTEs of the q159 stack. `score` is a DuckDB expression over the
    * `orders` row. */
  private def rankerNdcgSql(sfx: String, score: String): String =
    s"""ranked_$sfx AS (
      |  SELECT o_custkey AS q, o_orderkey AS d,
      |    ROW_NUMBER() OVER (PARTITION BY o_custkey
      |      ORDER BY $score DESC, o_orderkey) AS rk
      |  FROM orders
      |), judged_$sfx AS (
      |  SELECT t.q, t.rk, COALESCE(r.g, 0) AS g
      |  FROM (SELECT * FROM ranked_$sfx WHERE rk <= 5) t
      |  LEFT JOIN qrels r ON t.q = r.q AND t.d = r.d
      |), runagg_$sfx AS (
      |  SELECT q,
      |    SUM(CAST((POW(CAST(2 AS DOUBLE), GREATEST(g, 0)) - 1.0) /
      |      LOG2(rk + 1) AS DECIMAL(22,9))) AS dcg
      |  FROM judged_$sfx GROUP BY q
      |), ndcg_$sfx AS (
      |  SELECT i.q,
      |    ROUND(CAST(COALESCE(r.dcg, 0) AS DOUBLE) /
      |      CAST(i.idcg AS DOUBLE), 6) AS m
      |  FROM idcg i LEFT JOIN runagg_$sfx r ON i.q = r.q
      |)""".stripMargin

  private val q160 = Q("q160_ranker_ttest",
    (s, dir) => {
      // Paired ranker comparison (Retrieval.compareRankers): does
      // price-ordering beat recency-ordering at putting urgent/high
      // orders on top? Per-query NDCG@5 deltas, paired t statistic
      // (Smucker et al. CIKM'07 — the standard IR significance test).
      // Deltas are exact DECIMAL(12,6) (rankingEval's 6-dp metrics),
      // so Σd/Σd² are order-independent; mean/var/t come from the two
      // exact sums in double — bit-replayable in the oracle. Both
      // rankers' corpus passes ride the one-scan heap cut; recency
      // scores are exact epoch micros (long — native 64-bit ranking).
      val o = t(s, dir, "orders")
      val runsA = o.select(col("o_custkey"), col("o_orderkey"),
        col("o_totalprice").as("score"))
      val runsB = o.select(col("o_custkey"), col("o_orderkey"),
        unix_micros(col("o_orderdate").cast("timestamp")).as("score"))
      val qrels = o
        .filter(col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
        .select(col("o_custkey"), col("o_orderkey"),
          when(col("o_orderpriority") === "1-URGENT", 2)
            .otherwise(1).as("grade"))
      Retrieval.compareRankers(runsA, runsB, qrels,
        "o_custkey", "o_orderkey", "score", "grade", k = 5)
    },
    Some(s"""WITH qrels AS (
      |  SELECT o_custkey AS q, o_orderkey AS d,
      |    CASE WHEN o_orderpriority = '1-URGENT' THEN 2 ELSE 1 END AS g
      |  FROM orders WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
      |), ideal AS (
      |  SELECT q, g, ROW_NUMBER() OVER (PARTITION BY q
      |    ORDER BY g DESC, d) AS rk
      |  FROM qrels
      |), idcg AS (
      |  SELECT q,
      |    SUM(CASE WHEN rk <= 5
      |      THEN CAST((POW(CAST(2 AS DOUBLE), g) - 1.0) / LOG2(rk + 1)
      |        AS DECIMAL(22,9))
      |      ELSE CAST(0 AS DECIMAL(22,9)) END) AS idcg
      |  FROM ideal GROUP BY q
      |), ${rankerNdcgSql("a", "o_totalprice")},
      |${rankerNdcgSql("b", "epoch_us(o_orderdate)")},
      |d AS (
      |  SELECT CAST(a.m AS DECIMAL(12,6)) AS ma,
      |    CAST(b.m AS DECIMAL(12,6)) AS mb,
      |    CAST(CAST(a.m AS DECIMAL(12,6)) - CAST(b.m AS DECIMAL(12,6))
      |      AS DECIMAL(13,6)) AS dd
      |  FROM ndcg_a a JOIN ndcg_b b USING (q)
      |), st AS (
      |  SELECT COUNT(*) AS n, SUM(ma) AS sa, SUM(mb) AS sb,
      |    SUM(dd) AS s1, SUM(CAST(dd * dd AS DECIMAL(27,12))) AS s2
      |  FROM d
      |)
      |SELECT CAST(n AS BIGINT) AS n_queries,
      |  ROUND(CAST(sa AS DOUBLE) / n, 6) AS mean_a,
      |  ROUND(CAST(sb AS DOUBLE) / n, 6) AS mean_b,
      |  ROUND(CAST(s1 AS DOUBLE) / n, 6) AS mean_delta,
      |  ROUND(CASE WHEN n >= 2 AND
      |      (CAST(s2 AS DOUBLE) -
      |        CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n) > 0.0
      |    THEN (CAST(s1 AS DOUBLE) / n) /
      |      SQRT(((CAST(s2 AS DOUBLE) -
      |        CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n) /
      |        (n - 1)) / n)
      |    END, 6) AS t_stat,
      |  CAST(n - 1 AS BIGINT) AS df
      |FROM st""".stripMargin))

  private val q161 = Q("q161_cluster_agreement",
    (s, dir) => {
      // Pair-counting agreement (ClusterEval.agreement) between the
      // langid-PREDICTED language partition and the gold `lang`
      // partition of documents — the eval gate on a clustering/labeling
      // strategy change (same role as q159 for rankers). Pair
      // precision/recall/F1 read the prediction against the reference;
      // ARI corrects raw pair agreement for chance (Hubert & Arabie
      // 1985). Everything derives from the contingency table — one
      // map-side-combined shuffle on (gold, predicted), pair counts in
      // exact DECIMAL(38,0), never a materialized pair.
      val d = t(s, dir, "documents")
        .select(col("lang"), TF.langId(col("text")).as("predicted"))
      ClusterEval.agreement(d, "lang", "predicted")
    },
    Some(s"""WITH items AS (
      |  SELECT lang AS a, predicted AS b FROM (
      |$langIdPredSql)
      |  WHERE lang IS NOT NULL
      |), ct AS (
      |  SELECT a, b, COUNT(*) AS n FROM items GROUP BY a, b
      |), j AS (
      |  SELECT SUM(CAST(n AS HUGEINT) * (n - 1) // 2) AS pab,
      |    SUM(n) AS n_items FROM ct
      |), am AS (
      |  SELECT SUM(CAST(na AS HUGEINT) * (na - 1) // 2) AS pa
      |  FROM (SELECT SUM(n) AS na FROM ct GROUP BY a) t
      |), bm AS (
      |  SELECT SUM(CAST(nb AS HUGEINT) * (nb - 1) // 2) AS pb
      |  FROM (SELECT SUM(n) AS nb FROM ct GROUP BY b) t
      |), s AS (
      |  SELECT CAST(n_items AS BIGINT) AS n_items,
      |    CAST(pab AS DOUBLE) AS pabd, CAST(pa AS DOUBLE) AS pad,
      |    CAST(pb AS DOUBLE) AS pbd,
      |    CAST(CAST(n_items AS HUGEINT) * (n_items - 1) // 2 AS DOUBLE)
      |      AS td
      |  FROM j, am, bm
      |)
      |SELECT n_items,
      |  ROUND(CASE WHEN pbd > 0 THEN pabd / pbd END, 6)
      |    AS pair_precision,
      |  ROUND(CASE WHEN pad > 0 THEN pabd / pad END, 6) AS pair_recall,
      |  ROUND(CASE WHEN pbd > 0 AND pad > 0 THEN
      |      CASE WHEN pabd / pbd + pabd / pad > 0
      |        THEN 2.0 * (pabd / pbd) * (pabd / pad) /
      |          (pabd / pbd + pabd / pad)
      |        ELSE 0.0 END END, 6) AS pair_f1,
      |  ROUND(CASE WHEN n_items = 0 THEN NULL
      |    WHEN (pad + pbd) / 2.0 -
      |      (CASE WHEN td > 0 THEN pad * pbd / td ELSE 0.0 END) = 0
      |      THEN 1.0
      |    ELSE (pabd -
      |      (CASE WHEN td > 0 THEN pad * pbd / td ELSE 0.0 END)) /
      |      ((pad + pbd) / 2.0 -
      |        (CASE WHEN td > 0 THEN pad * pbd / td ELSE 0.0 END))
      |    END, 6) AS ari
      |FROM s""".stripMargin))

  private val q162 = Q("q162_hard_negatives",
    (s, dir) => {
      // Hard-negative mining (Retrieval.hardNegatives): per query the
      // top-k highest-scored candidates that are not known positives —
      // the negative side of contrastive training pairs (top-ranked
      // non-relevant docs are the confusions worth training against).
      // Demo framing mirrors q159: customers are queries, orders are
      // candidates scored by price, urgent/high are the known
      // positives; the mined negatives are each customer's priciest
      // NON-urgent orders. One corpus pass: broadcastable anti-join
      // against the bounded positive set, then the heap top-k cut
      // (no whole-group sort; rank reuses the heap's partitioning).
      val o = t(s, dir, "orders")
      val runs = o.select(col("o_custkey"), col("o_orderkey"),
        col("o_totalprice").as("score"))
      val qrels = o
        .filter(col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
        .select(col("o_custkey"), col("o_orderkey"),
          when(col("o_orderpriority") === "1-URGENT", 2)
            .otherwise(1).as("grade"))
      Retrieval.hardNegatives(runs, qrels, "o_custkey", "o_orderkey",
          "score", "grade", k = 3)
        .orderBy(col("o_custkey"), col("rank"))
    },
    Some("""WITH pos AS (
      |  SELECT DISTINCT o_custkey AS q, o_orderkey AS d
      |  FROM orders WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
      |), neg AS (
      |  SELECT o_custkey AS q, o_orderkey AS d,
      |    CAST(o_totalprice AS DOUBLE) AS s
      |  FROM orders o
      |  WHERE NOT EXISTS (SELECT 1 FROM pos p
      |    WHERE p.q = o.o_custkey AND p.d = o.o_orderkey)
      |), ranked AS (
      |  SELECT q, d, s, ROW_NUMBER() OVER (PARTITION BY q
      |    ORDER BY s DESC, d) AS rank
      |  FROM neg
      |)
      |SELECT q AS o_custkey, rank, d AS o_orderkey, s AS score
      |FROM ranked WHERE rank <= 3
      |ORDER BY o_custkey, rank""".stripMargin))

  private val q163 = Q("q163_info_agreement",
    (s, dir) => {
      // Information-theoretic complement of q161 on the same partitions
      // (ClusterEval.informationAgreement): entropies, MI = H(A) +
      // H(B) − H(A,B), arithmetic-mean NMI, and Rosenberg-Hirschberg
      // homogeneity/completeness/V-measure with sklearn's limit
      // conventions. ARI counts pair co-membership, MI counts label
      // information — an eval gate should read both. Three entropy
      // legs aggregate the ONE reused contingency exchange; each
      // p·ln(p) term is DECIMAL(24,10)-quantized then decimal-summed
      // so DuckDB replays the sums bit-for-bit.
      val d = t(s, dir, "documents")
        .select(col("lang"), TF.langId(col("text")).as("predicted"))
      ClusterEval.informationAgreement(d, "lang", "predicted")
    },
    Some(s"""WITH items AS (
      |  SELECT lang AS a, predicted AS b FROM (
      |$langIdPredSql)
      |  WHERE lang IS NOT NULL
      |), ct AS (
      |  SELECT a, b, COUNT(*) AS n FROM items GROUP BY a, b
      |), tot AS (
      |  SELECT CAST(SUM(n) AS BIGINT) AS n_items,
      |    CAST(SUM(n) AS DOUBLE) AS nd FROM ct
      |), ha AS (
      |  SELECT CAST(-SUM(CAST(na / nd * ln(na / nd)
      |    AS DECIMAL(24,10))) AS DOUBLE) AS v
      |  FROM (SELECT CAST(SUM(n) AS DOUBLE) AS na FROM ct GROUP BY a) t,
      |    tot
      |), hb AS (
      |  SELECT CAST(-SUM(CAST(nb / nd * ln(nb / nd)
      |    AS DECIMAL(24,10))) AS DOUBLE) AS v
      |  FROM (SELECT CAST(SUM(n) AS DOUBLE) AS nb FROM ct GROUP BY b) t,
      |    tot
      |), hj AS (
      |  SELECT CAST(-SUM(CAST(CAST(n AS DOUBLE) / nd *
      |    ln(CAST(n AS DOUBLE) / nd) AS DECIMAL(24,10))) AS DOUBLE) AS v
      |  FROM ct, tot
      |), s AS (
      |  SELECT n_items, ha.v AS ha, hb.v AS hb,
      |    GREATEST(ha.v + hb.v - hj.v, 0.0) AS mi
      |  FROM tot, ha, hb, hj
      |), m AS (
      |  SELECT n_items, ha, hb, mi,
      |    CASE WHEN ha = 0.0 THEN 1.0
      |      ELSE LEAST(mi / ha, 1.0) END AS hom,
      |    CASE WHEN hb = 0.0 THEN 1.0
      |      ELSE LEAST(mi / hb, 1.0) END AS com
      |  FROM s
      |)
      |SELECT n_items,
      |  ROUND(ha, 6) AS h_a, ROUND(hb, 6) AS h_b,
      |  ROUND(mi, 6) AS mutual_info,
      |  ROUND(CASE WHEN ha = 0.0 AND hb = 0.0 THEN 1.0
      |    WHEN mi = 0.0 THEN 0.0
      |    ELSE LEAST(mi / ((ha + hb) / 2.0), 1.0) END, 6) AS nmi,
      |  ROUND(hom, 6) AS homogeneity,
      |  ROUND(com, 6) AS completeness,
      |  ROUND(CASE WHEN hom + com = 0.0 THEN 0.0
      |    ELSE 2.0 * hom * com / (hom + com) END, 6) AS v_measure
      |FROM m""".stripMargin))

  private val q164 = Q("q164_classification_report",
    (s, dir) => {
      // Per-class labeler acceptance gate (Metrics.classificationReport)
      // on the langid prediction vs gold language: one row per label on
      // EITHER side — support/predicted/tp exact longs, precision NULL
      // where the label is never asserted, recall NULL where it has no
      // gold rows (sklearn's report semantics). One contingency shuffle;
      // totals and the tp diagonal aggregate contingency rows.
      val d = t(s, dir, "documents")
        .select(col("lang"), TF.langId(col("text")).as("predicted"))
      Metrics.classificationReport(d, "lang", "predicted")
        .orderBy("label")
    },
    Some(s"""WITH items AS (
      |  SELECT lang AS g, predicted AS p FROM (
      |$langIdPredSql)
      |  WHERE lang IS NOT NULL AND predicted IS NOT NULL
      |), gold AS (
      |  SELECT g AS label, COUNT(*) AS support FROM items GROUP BY g
      |), pred AS (
      |  SELECT p AS label, COUNT(*) AS predicted FROM items GROUP BY p
      |), tp AS (
      |  SELECT g AS label, COUNT(*) AS tp FROM items WHERE g = p
      |  GROUP BY g
      |), j AS (
      |  SELECT COALESCE(gold.label, pred.label) AS label,
      |    COALESCE(support, 0) AS support,
      |    COALESCE(predicted, 0) AS predicted
      |  FROM gold FULL JOIN pred ON gold.label = pred.label
      |), r AS (
      |  SELECT j.label,
      |    CAST(j.support AS BIGINT) AS support,
      |    CAST(j.predicted AS BIGINT) AS predicted,
      |    CAST(COALESCE(tp.tp, 0) AS BIGINT) AS tp,
      |    CASE WHEN j.predicted > 0 THEN
      |      CAST(COALESCE(tp.tp, 0) AS DOUBLE) /
      |        CAST(j.predicted AS DOUBLE) END AS p,
      |    CASE WHEN j.support > 0 THEN
      |      CAST(COALESCE(tp.tp, 0) AS DOUBLE) /
      |        CAST(j.support AS DOUBLE) END AS rc
      |  FROM j LEFT JOIN tp ON j.label = tp.label
      |)
      |SELECT label, support, predicted, tp,
      |  ROUND(p, 6) AS "precision", ROUND(rc, 6) AS recall,
      |  ROUND(CASE WHEN p IS NULL OR rc IS NULL THEN NULL
      |    WHEN p + rc > 0 THEN 2.0 * p * rc / (p + rc)
      |    ELSE 0.0 END, 6) AS f1
      |FROM r ORDER BY label""".stripMargin))

  private val q165 = Q("q165_agreement_stats",
    (s, dir) => {
      // Whole-labeler chance-corrected agreement
      // (Metrics.agreementStats): Cohen's kappa + Gorodkin multiclass
      // MCC over the langid-vs-gold partitions — the single-number
      // gates next to q164's per-class report. Count products in exact
      // DECIMAL(38,0) (N² overflows int64 at corpus scale); marginals
      // align via a union re-aggregate, never a totals self-join.
      val d = t(s, dir, "documents")
        .select(col("lang"), TF.langId(col("text")).as("predicted"))
      Metrics.agreementStats(d, "lang", "predicted")
    },
    Some(s"""WITH items AS (
      |  SELECT lang AS g, predicted AS p FROM (
      |$langIdPredSql)
      |  WHERE lang IS NOT NULL AND predicted IS NOT NULL
      |), ct AS (
      |  SELECT g, p, COUNT(*) AS n FROM items GROUP BY g, p
      |), marg AS (
      |  SELECT l, SUM(t) AS t, SUM(q) AS q FROM (
      |    SELECT g AS l, n AS t, 0 AS q FROM ct
      |    UNION ALL
      |    SELECT p AS l, 0 AS t, n AS q FROM ct
      |  ) GROUP BY l
      |), sums AS (
      |  SELECT
      |    SUM(CAST(t AS HUGEINT) * CAST(q AS HUGEINT)) AS ptq,
      |    SUM(CAST(t AS HUGEINT) * CAST(t AS HUGEINT)) AS ptt,
      |    SUM(CAST(q AS HUGEINT) * CAST(q AS HUGEINT)) AS pqq
      |  FROM marg
      |), diag AS (
      |  SELECT CAST(SUM(n) AS BIGINT) AS nr,
      |    CAST(SUM(CASE WHEN g = p THEN n ELSE 0 END) AS BIGINT) AS c
      |  FROM ct
      |), s AS (
      |  SELECT nr, c, CAST(nr AS HUGEINT) * CAST(nr AS HUGEINT) AS nn,
      |    ptq, ptt, pqq,
      |    CAST(c AS DOUBLE) / CAST(nr AS DOUBLE) AS po,
      |    CAST(ptq AS DOUBLE) /
      |      CAST(CAST(nr AS HUGEINT) * CAST(nr AS HUGEINT) AS DOUBLE)
      |      AS pe
      |  FROM diag, sums
      |)
      |SELECT nr AS n_rows,
      |  ROUND(po, 6) AS accuracy,
      |  ROUND(pe, 6) AS expected_accuracy,
      |  ROUND(CASE WHEN pe = 1.0 THEN NULL
      |    ELSE (po - pe) / (1.0 - pe) END, 6) AS cohen_kappa,
      |  ROUND(CASE WHEN CAST(nn - ptt AS DOUBLE) = 0.0
      |      OR CAST(nn - pqq AS DOUBLE) = 0.0 THEN NULL
      |    ELSE CAST(CAST(c AS HUGEINT) * CAST(nr AS HUGEINT) - ptq
      |        AS DOUBLE) /
      |      sqrt(CAST(nn - ptt AS DOUBLE) * CAST(nn - pqq AS DOUBLE))
      |    END, 6) AS mcc
      |FROM s""".stripMargin))

  private val q166 = Q("q166_ann_recall",
    (s, dir) => {
      // ANN quality gate (Similarity.annRecall): per-query recall@k of
      // the IVF probe vs exact brute force, both arms on the bounded
      // heap with the same tie contract. q39's operating point (init
      // quantizer, 8 lists, nProbe 2) so every arithmetic step —
      // assignment, probe ranking, both cosines — is SQL-replayable.
      // Batched probes compute distributedly (|Q|xnCentroids heap cut);
      // the corpus is passed ONCE per arm.
      val e = t(s, dir, "embeddings")
      val idx = Similarity.buildIvf(s, e, "vec_id", "embedding",
        nCentroids = 8, iterations = 0)
      Similarity.annRecall(idx, "vec_id", "embedding",
          e.filter(col("vec_id") < 3), "vec_id", k = 10, nProbe = 2)
        .orderBy(col("query_id"))
    },
    Some("""WITH e AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
      |), cent AS (
      |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, v AS cv
      |  FROM e ORDER BY vec_id LIMIT 8
      |), q AS (
      |  SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 3
      |), assigned AS (
      |  SELECT vec_id, v, cid FROM (
      |    SELECT e.vec_id, e.v, c.cid,
      |      ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
      |        list_sum(list_transform(range(1, 65),
      |          i -> (e.v[i] - c.cv[i]) * (e.v[i] - c.cv[i]))), c.cid)
      |        AS rn
      |    FROM e, cent c) WHERE rn = 1
      |), probes AS (
      |  SELECT qid, cid FROM (
      |    SELECT q.qid, c.cid,
      |      ROW_NUMBER() OVER (PARTITION BY q.qid ORDER BY
      |        list_sum(list_transform(range(1, 65),
      |          i -> (c.cv[i] - q.qv[i]) * (c.cv[i] - q.qv[i]))), c.cid)
      |        AS rn
      |    FROM q, cent c) WHERE rn <= 2
      |), approx AS (
      |  SELECT qid, vec_id FROM (
      |    SELECT q.qid, a.vec_id,
      |      list_dot_product(a.v, q.qv) /
      |      (sqrt(list_dot_product(a.v, a.v)) *
      |       sqrt(list_dot_product(q.qv, q.qv))) AS c
      |    FROM assigned a
      |    JOIN probes p ON a.cid = p.cid
      |    JOIN q ON q.qid = p.qid
      |    QUALIFY ROW_NUMBER() OVER (PARTITION BY q.qid
      |      ORDER BY c DESC, a.vec_id) <= 10)
      |), exact AS (
      |  SELECT qid, vec_id FROM (
      |    SELECT q.qid, e.vec_id,
      |      list_dot_product(e.v, q.qv) /
      |      (sqrt(list_dot_product(e.v, e.v)) *
      |       sqrt(list_dot_product(q.qv, q.qv))) AS c
      |    FROM e, q
      |    QUALIFY ROW_NUMBER() OVER (PARTITION BY q.qid
      |      ORDER BY c DESC, e.vec_id) <= 10)
      |)
      |SELECT ex.qid AS query_id,
      |  CAST(COUNT(*) AS BIGINT) AS n_exact,
      |  CAST(SUM(CASE WHEN ap.vec_id IS NOT NULL THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_hit,
      |  ROUND(CAST(SUM(CASE WHEN ap.vec_id IS NOT NULL THEN 1 ELSE 0
      |    END) AS DOUBLE) / COUNT(*), 6) AS recall
      |FROM exact ex LEFT JOIN approx ap
      |  ON ex.qid = ap.qid AND ex.vec_id = ap.vec_id
      |GROUP BY ex.qid ORDER BY query_id""".stripMargin))

  private val q167 = Q("q167_threshold_sweep",
    (s, dir) => {
      // Verify-threshold tuning curve (Dedup.thresholdSweep): dup-pair
      // and affected-doc counts per candidate threshold, from ONE
      // portable-chain execution at min(thresholds) — the evidence for
      // picking an operating point before a corpus-wide dedup. Curve is
      // over the LSH candidate set (the operationally relevant pairs);
      // one aggregate over |T|-exploded endpoint rows, pair count
      // recovered exactly as rowcount/2.
      Dedup.thresholdSweep(t(s, dir, "documents"), "doc_id", "text",
        thresholds = Seq(0.7, 0.8, 0.9, 0.95))
    },
    Some(s"""WITH ${portableChainCtes(64, 16, 3, 0.7)},
      |t AS (
      |  SELECT unnest(CAST([0.7, 0.8, 0.9, 0.95] AS DOUBLE[]))
      |    AS threshold
      |), s AS (
      |  SELECT t.threshold, v.id_a AS id
      |  FROM t JOIN verified v ON v.j >= t.threshold
      |  UNION ALL
      |  SELECT t.threshold, v.id_b
      |  FROM t JOIN verified v ON v.j >= t.threshold
      |), g AS (
      |  SELECT threshold, CAST(COUNT(*) // 2 AS BIGINT) AS n_pairs,
      |    CAST(COUNT(DISTINCT id) AS BIGINT) AS n_docs
      |  FROM s GROUP BY threshold
      |)
      |SELECT t.threshold,
      |  CAST(COALESCE(g.n_pairs, 0) AS BIGINT) AS n_pairs,
      |  CAST(COALESCE(g.n_docs, 0) AS BIGINT) AS n_docs
      |FROM t LEFT JOIN g USING (threshold)
      |ORDER BY threshold""".stripMargin))

  private val q168 = Q("q168_bcubed",
    (s, dir) => {
      // B-cubed per-item precision/recall/F1 (Bagga-Baldwin; Amigó et
      // al. 2009) of the langid-predicted partition vs gold — the
      // third clustering-agreement view (q161 pairs, q163 information,
      // q168 items), total at the limits the other two special-case.
      // Cell terms n²/marginal attach by label-partitioned windows
      // over contingency rows, DECIMAL(38,10)-quantized and
      // decimal-summed; one item-sized shuffle total.
      val d = t(s, dir, "documents")
        .select(col("lang"), TF.langId(col("text")).as("predicted"))
      ClusterEval.bCubed(d, "lang", "predicted")
    },
    Some(s"""WITH items AS (
      |  SELECT lang AS a, predicted AS b FROM (
      |$langIdPredSql)
      |  WHERE lang IS NOT NULL
      |), ct AS (
      |  SELECT a, b, COUNT(*) AS n FROM items GROUP BY a, b
      |), cells AS (
      |  SELECT n,
      |    SUM(n) OVER (PARTITION BY a) AS na,
      |    SUM(n) OVER (PARTITION BY b) AS nb
      |  FROM ct
      |), s AS (
      |  SELECT
      |    SUM(CAST(CAST(n AS DOUBLE) * CAST(n AS DOUBLE) /
      |      CAST(nb AS DOUBLE) AS DECIMAL(38,10))) AS ps,
      |    SUM(CAST(CAST(n AS DOUBLE) * CAST(n AS DOUBLE) /
      |      CAST(na AS DOUBLE) AS DECIMAL(38,10))) AS rs,
      |    CAST(SUM(n) AS BIGINT) AS nn
      |  FROM cells
      |), m AS (
      |  SELECT nn,
      |    CAST(ps AS DOUBLE) / CAST(nn AS DOUBLE) AS p,
      |    CAST(rs AS DOUBLE) / CAST(nn AS DOUBLE) AS r
      |  FROM s
      |)
      |SELECT nn AS n_items,
      |  ROUND(p, 6) AS b3_precision,
      |  ROUND(r, 6) AS b3_recall,
      |  ROUND(2.0 * p * r / (p + r), 6) AS b3_f1
      |FROM m""".stripMargin))

  private val q169 = Q("q169_calibration_error",
    (s, dir) => {
      // ECE + worst-bin gap (Metrics.expectedCalibrationError) over
      // q124's exact reliability curve — the scalar gate a score
      // column must pass before it weights or filters a corpus; built
      // on the curve's 6-dp bin outputs so the scalar IS the published
      // curve's summary.
      Metrics.expectedCalibrationError(t(s, dir, "events"), col("value"),
        when(col("event_type").isin("click", "purchase"), 1L)
          .otherwise(0L), bins = 10)
    },
    Some("""WITH s AS (
      |  SELECT value AS v,
      |    CASE WHEN event_type IN ('click','purchase') THEN 1 ELSE 0 END
      |      AS y FROM events
      |), mm AS (SELECT MIN(v) AS mn, MAX(v) AS mx FROM s
      |), b AS (
      |  SELECT LEAST(CAST(FLOOR((v - mn) / (mx - mn) * 10) AS BIGINT),
      |    9) AS bin, v, y FROM s, mm
      |), binsq AS (
      |  SELECT bin, COUNT(*) AS n,
      |    ROUND(CAST(SUM(y) AS DOUBLE) / COUNT(*), 6) AS pos_rate,
      |    ROUND(CAST(CAST(SUM(CAST(v AS DECIMAL(18,6))) AS VARCHAR)
      |      AS DOUBLE) / COUNT(*), 6) AS mean_score
      |  FROM b GROUP BY bin
      |)
      |SELECT CAST(SUM(n) AS BIGINT) AS n_rows,
      |  CAST(COUNT(*) AS BIGINT) AS n_bins_used,
      |  ROUND(CAST(SUM(CAST(CAST(n AS DOUBLE) *
      |      ABS(pos_rate - mean_score) AS DECIMAL(38,10))) AS DOUBLE) /
      |    CAST(SUM(n) AS DOUBLE), 6) AS ece,
      |  ROUND(MAX(ABS(pos_rate - mean_score)), 6) AS max_gap
      |FROM binsq""".stripMargin))

  private val q170 = Q("q170_average_precision",
    (s, dir) => {
      // PR-AUC / average precision (Metrics.averagePrecision) — the
      // imbalance-robust companion to q120's ROC-AUC over the same
      // score/label framing: sharded cumulative-from-top over
      // distinct-score groups, exact long rationals per threshold,
      // DECIMAL(38,10)-quantized decimal sum.
      Metrics.averagePrecision(t(s, dir, "events"), col("value"),
        when(col("event_type").isin("click", "purchase"), 1L)
          .otherwise(0L))
    },
    Some("""WITH s AS (
      |  SELECT value AS v,
      |    CASE WHEN event_type IN ('click','purchase') THEN 1 ELSE 0 END
      |      AS y FROM events
      |), g AS (
      |  SELECT v, SUM(y) AS pos, COUNT(*) - SUM(y) AS neg
      |  FROM s GROUP BY v
      |), c AS (
      |  SELECT pos, neg,
      |    SUM(pos) OVER (ORDER BY v DESC ROWS UNBOUNDED PRECEDING)
      |      AS ctp,
      |    SUM(neg) OVER (ORDER BY v DESC ROWS UNBOUNDED PRECEDING)
      |      AS cfp
      |  FROM g
      |)
      |SELECT CAST(SUM(pos) AS BIGINT) AS n_pos,
      |  CAST(SUM(neg) AS BIGINT) AS n_neg,
      |  ROUND(CAST(SUM(CAST(CAST(pos AS DOUBLE) * CAST(ctp AS DOUBLE) /
      |      CAST(ctp + cfp AS DOUBLE) AS DECIMAL(38,10))) AS DOUBLE) /
      |    CAST(SUM(pos) AS DOUBLE), 6) AS average_precision
      |FROM c""".stripMargin))

  private val q171 = Q("q171_kfold",
    (s, dir) => {
      // Leakage-safe k-fold CV assignment (Sampling.kFold): every
      // customer's orders land in ONE fold by construction (md5 bucket
      // of the group key — deterministic, layout/engine-independent,
      // map-only). Oracle surface: per-fold order/customer counts,
      // replayed from the same md5 arithmetic in DuckDB.
      graft.operators.Sampling.kFold(t(s, dir, "orders"),
          "o_custkey", 5)
        .groupBy(col("fold"))
        .agg(count(lit(1)).as("n_orders"),
          countDistinct(col("o_custkey")).as("n_customers"))
        .orderBy(col("fold"))
    },
    Some("""SELECT fold, CAST(COUNT(*) AS BIGINT) AS n_orders,
      |  CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_customers
      |FROM (SELECT o_custkey,
      |  ((('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 1, 4))::INT
      |    % 5) + 5) % 5 AS fold FROM orders)
      |GROUP BY fold ORDER BY fold""".stripMargin))

  private val q172 = Q("q172_curation_pipeline",
    (s, dir) => {
      // The END-TO-END curation loop as ONE oracle-checked value
      // (Curation.curationReport): near-dup threshold sweep over the
      // portable LSH chain → smallest threshold within a 46-doc
      // removal budget (falls back to the most conservative) →
      // pairwise keep-smaller-id dedup at that threshold →
      // leakage-safe 4-fold assignment by source domain → per-fold
      // residual exact-dup attribution + n_chars PSI/TVD vs the
      // deduped corpus. Every stage is an individually-green operator
      // (q167/q171/q156/q148 families); this verifies their
      // COMPOSITION, where real pipelines break. One chain execution
      // feeds both the curve and the dedup (pinned pair frame); the
      // curve collect is |thresholds| rows.
      graft.operators.Curation.curationReport(
        t(s, dir, "documents"), "doc_id", "text", "source", "n_chars",
        thresholds = Seq(0.7, 0.8, 0.9, 0.95), maxAffectedDocs = 46L,
        folds = 4, edges = Seq(100, 200, 300, 400, 500))
    },
    Some(s"""WITH ${portableChainCtes(64, 16, 3, 0.7)},
      |t AS (
      |  SELECT unnest(CAST([0.7, 0.8, 0.9, 0.95] AS DOUBLE[]))
      |    AS threshold
      |), sgl AS (
      |  SELECT t.threshold, v.id_a AS id
      |  FROM t JOIN verified v ON v.j >= t.threshold
      |  UNION ALL
      |  SELECT t.threshold, v.id_b
      |  FROM t JOIN verified v ON v.j >= t.threshold
      |), curve AS (
      |  SELECT t.threshold, COALESCE(g.n_docs, 0) AS n_docs
      |  FROM t LEFT JOIN (
      |    SELECT threshold, COUNT(DISTINCT id) AS n_docs
      |    FROM sgl GROUP BY threshold) g USING (threshold)
      |), chosen AS (
      |  SELECT COALESCE(MIN(threshold) FILTER (WHERE n_docs <= 46),
      |    MAX(threshold)) AS ct FROM curve
      |), losers AS (
      |  SELECT DISTINCT v.id_b AS doc_id
      |  FROM verified v, chosen WHERE v.j >= chosen.ct
      |), dd AS (
      |  SELECT d.* FROM documents d
      |  WHERE NOT EXISTS (SELECT 1 FROM losers l WHERE l.doc_id = d.doc_id)
      |), folded AS (
      |  SELECT *, COALESCE(
      |    ((('0x' || substr(md5(source), 1, 4))::INT % 4) + 4) % 4, -1)
      |    AS fold FROM dd
      |), h AS (
      |  SELECT fold, COALESCE(md5(text), '') AS hh FROM folded
      |), sizes AS (
      |  SELECT hh, COUNT(*) AS copies FROM h GROUP BY hh
      |), dup AS (
      |  SELECT fold, COUNT(*) AS n_docs,
      |    CAST(SUM(CASE WHEN copies > 1 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_dup_docs,
      |    COUNT(DISTINCT CASE WHEN copies > 1 THEN h.hh END)
      |      AS n_dup_groups,
      |    CAST((CAST(SUM(CASE WHEN copies > 1 THEN 1 ELSE 0 END)
      |        AS HUGEINT) * 1000000) // CAST(COUNT(*) AS HUGEINT)
      |      AS DOUBLE) / 1000000.0 AS dup_rate
      |  FROM h JOIN sizes USING (hh) GROUP BY fold
      |), refc AS (
      |  SELECT (CASE WHEN n_chars >= 100 THEN 1 ELSE 0 END) +
      |    (CASE WHEN n_chars >= 200 THEN 1 ELSE 0 END) +
      |    (CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END) +
      |    (CASE WHEN n_chars >= 400 THEN 1 ELSE 0 END) +
      |    (CASE WHEN n_chars >= 500 THEN 1 ELSE 0 END) AS bin,
      |    COUNT(*) AS n_ref
      |  FROM dd GROUP BY 1
      |), b AS (
      |  SELECT unnest(range(6)) AS bin
      |), pref AS (
      |  SELECT b.bin,
      |    CAST(COALESCE(refc.n_ref, 0) + 1 AS DOUBLE) /
      |      CAST((SUM(COALESCE(refc.n_ref, 0)) OVER ()) + 6 AS DOUBLE)
      |      AS p_ref
      |  FROM b LEFT JOIN refc ON b.bin = refc.bin
      |), curc AS (
      |  SELECT fold AS grp,
      |    (CASE WHEN n_chars >= 100 THEN 1 ELSE 0 END) +
      |    (CASE WHEN n_chars >= 200 THEN 1 ELSE 0 END) +
      |    (CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END) +
      |    (CASE WHEN n_chars >= 400 THEN 1 ELSE 0 END) +
      |    (CASE WHEN n_chars >= 500 THEN 1 ELSE 0 END) AS bin,
      |    COUNT(*) AS n_cur
      |  FROM folded GROUP BY 1, 2
      |), cells AS (
      |  SELECT f.grp, f.bin, COALESCE(c.n_cur, 0) AS n_cur
      |  FROM (SELECT g.grp, b.bin
      |        FROM (SELECT DISTINCT grp FROM curc) g CROSS JOIN b) f
      |  LEFT JOIN curc c ON f.grp = c.grp AND f.bin = c.bin
      |), p AS (
      |  SELECT grp, bin, n_cur,
      |    CAST(n_cur + 1 AS DOUBLE) /
      |      CAST((SUM(n_cur) OVER (PARTITION BY grp)) + 6 AS DOUBLE)
      |      AS p_cur
      |  FROM cells
      |), tm AS (
      |  SELECT p.grp,
      |    CAST((p.p_cur - pref.p_ref) *
      |      CAST(CAST(ln(p.p_cur / pref.p_ref) AS DECIMAL(24,10))
      |        AS DOUBLE) AS DECIMAL(28,12)) AS term,
      |    CAST(abs(p.p_cur - pref.p_ref) AS DECIMAL(28,12)) AS ad
      |  FROM p JOIN pref ON p.bin = pref.bin
      |), drift AS (
      |  SELECT grp AS fold, ROUND(CAST(SUM(term) AS DOUBLE), 6) AS psi,
      |    ROUND(CAST(SUM(ad) AS DOUBLE) / 2, 6) AS tvd
      |  FROM tm GROUP BY grp
      |)
      |SELECT dup.fold, (SELECT ct FROM chosen) AS chosen_threshold,
      |  dup.n_docs, dup.n_dup_docs, dup.n_dup_groups, dup.dup_rate,
      |  drift.psi, drift.tvd
      |FROM dup JOIN drift ON dup.fold IS NOT DISTINCT FROM drift.fold
      |ORDER BY dup.fold""".stripMargin))

  private val q173 = Q("q173_packing_sweep",
    (s, dir) => {
      // Max-sequence-length capacity sweep (Packing.lengthSweep): the
      // truncation-loss / padding-waste curve across candidate max_lens
      // under the one-sequence-per-doc padding model — how max_len gets
      // CHOSEN before q56's packing runs. One corpus pass: each doc's
      // token count explodes into |candidates| rows (bounded grid) and
      // map-side-combines to |candidates| output rows; all sums exact
      // longs, fractions final-step doubles.
      val docs = t(s, dir, "documents")
        .select(TF.tokenCount(col("text")).as("n_tokens"))
      graft.operators.Packing.lengthSweep(docs, "n_tokens",
        Seq(64L, 128L, 256L, 512L))
    },
    Some("""WITH d AS (
      |  SELECT CAST(len(list_filter(string_split_regex(lower(text),
      |    '\s+'), t -> t <> '')) AS BIGINT) AS nt FROM documents
      |), c AS (
      |  SELECT unnest(CAST([64, 128, 256, 512] AS BIGINT[])) AS max_len
      |)
      |SELECT c.max_len,
      |  COUNT(*) AS n_docs,
      |  CAST(COUNT(CASE WHEN d.nt > c.max_len THEN 1 END) AS BIGINT)
      |    AS n_truncated,
      |  CAST(SUM(d.nt) AS BIGINT) AS tokens_total,
      |  CAST(SUM(LEAST(d.nt, c.max_len)) AS BIGINT) AS tokens_kept,
      |  CAST((CAST(SUM(d.nt) - SUM(LEAST(d.nt, c.max_len)) AS HUGEINT)
      |      * 1000000) // CAST(SUM(d.nt) AS HUGEINT) AS DOUBLE)
      |    / 1000000.0 AS trunc_loss_frac,
      |  CAST(((CAST(COUNT(*) AS HUGEINT) * CAST(c.max_len AS HUGEINT)
      |      - CAST(SUM(LEAST(d.nt, c.max_len)) AS HUGEINT))
      |      * 1000000) //
      |    (CAST(COUNT(*) AS HUGEINT) * CAST(c.max_len AS HUGEINT))
      |    AS DOUBLE) / 1000000.0 AS pad_frac
      |FROM c CROSS JOIN d
      |GROUP BY c.max_len ORDER BY c.max_len""".stripMargin))

  private val q174 = Q("q174_source_divergence",
    (s, dir) => {
      // Lexical drift per source (Drift.unigramDivergence): KL and JS
      // divergence of each source's unigram distribution vs the global
      // one, over the top-1000 vocab + <oov> bucket — the data-mixing
      // diagnostic ranking sources by vocabulary distance. Support is
      // BOUNDED (K+1 symbols) so everything after the two token
      // aggregates is broadcast joins and (sources x support)-row
      // windows; ln ulp absorbed by DECIMAL(24,10), terms decimal-
      // summed (the q163 discipline).
      val tok = t(s, dir, "documents")
        .select(col("source"), explode(TF.tokens(col("text"))).as("token"))
      Drift.unigramDivergence(tok, "source", "token", vocabSize = 1000)
        .orderBy(col("source"))
    },
    Some("""WITH tok AS (
      |  SELECT source AS src,
      |    unnest(list_filter(string_split_regex(lower(text), '\s+'),
      |      t -> t <> '')) AS token
      |  FROM documents WHERE source IS NOT NULL
      |), vc AS (
      |  SELECT token FROM (
      |    SELECT token, COUNT(*) AS n FROM tok GROUP BY token
      |    ORDER BY n DESC, token LIMIT 1000)
      |), mp AS (
      |  SELECT t.src,
      |    CASE WHEN vc.token IS NOT NULL THEN t.token
      |      ELSE '<oov>' END AS sym
      |  FROM tok t LEFT JOIN vc ON t.token = vc.token
      |), ss AS (
      |  SELECT src, sym, CAST(COUNT(*) AS BIGINT) AS n_ss
      |  FROM mp GROUP BY src, sym
      |), g AS (
      |  SELECT sym, CAST(SUM(n_ss) AS BIGINT) AS n_g FROM ss GROUP BY sym
      |), gt AS (
      |  SELECT CAST(SUM(n_g) AS BIGINT) AS n_tot FROM g
      |), fr AS (
      |  SELECT s.src, g.sym, g.n_g, gt.n_tot,
      |    COALESCE(ss.n_ss, 0) AS n_ss
      |  FROM (SELECT DISTINCT src FROM ss) s
      |  CROSS JOIN g CROSS JOIN gt
      |  LEFT JOIN ss ON ss.src = s.src AND ss.sym = g.sym
      |), cl AS (
      |  SELECT src, sym, n_ss,
      |    CAST(n_ss AS DOUBLE) /
      |      CAST(SUM(n_ss) OVER (PARTITION BY src) AS DOUBLE) AS p,
      |    CAST(n_g AS DOUBLE) / CAST(n_tot AS DOUBLE) AS q
      |  FROM fr
      |), tm AS (
      |  SELECT src, sym, n_ss,
      |    CASE WHEN n_ss > 0 THEN
      |      CAST(p * CAST(CAST(ln(p / q) AS DECIMAL(24,10)) AS DOUBLE)
      |        AS DECIMAL(28,12))
      |      ELSE CAST(0 AS DECIMAL(28,12)) END AS kl,
      |    CASE WHEN n_ss > 0 THEN
      |      CAST(p * CAST(CAST(ln(p / ((p + q) / 2)) AS DECIMAL(24,10))
      |        AS DOUBLE) AS DECIMAL(28,12))
      |      ELSE CAST(0 AS DECIMAL(28,12)) END AS jsp,
      |    CAST(q * CAST(CAST(ln(q / ((p + q) / 2)) AS DECIMAL(24,10))
      |      AS DOUBLE) AS DECIMAL(28,12)) AS jsq
      |  FROM cl
      |)
      |SELECT src AS source,
      |  CAST(SUM(n_ss) AS BIGINT) AS n_tokens,
      |  CAST((CAST(SUM(CASE WHEN sym = '<oov>' THEN n_ss ELSE 0 END)
      |      AS HUGEINT) * 1000000) // CAST(SUM(n_ss) AS HUGEINT)
      |    AS DOUBLE) / 1000000.0 AS oov_frac,
      |  ROUND(CAST(SUM(kl) AS DOUBLE), 6) AS kl_vs_global,
      |  ROUND(CAST(SUM(jsp) + SUM(jsq) AS DOUBLE) / 2.0, 6)
      |    AS js_vs_global
      |FROM tm GROUP BY src ORDER BY source""".stripMargin))

  private val q175 = Q("q175_fleiss_kappa",
    (s, dir) => {
      // Multi-rater chance-corrected agreement, fixed panel size
      // (RaterAgreement.fleissKappa): orders are items, their line
      // numbers the raters, l_returnflag the category. Items off the
      // modal panel size are dropped (Fleiss is undefined there) and
      // REPORTED via n_items_dropped; P-bar folds to exact integer
      // sums (the equal-m denominator factors out) so the result is
      // partial-agg-order-proof. Contingency-bounded: one
      // (item, category) shuffle, then per-item aggregates to one row.
      graft.operators.RaterAgreement.fleissKappa(
        t(s, dir, "lineitem"), "l_orderkey", "l_returnflag")
    },
    Some("""WITH r AS (
      |  SELECT l_orderkey AS item, l_returnflag AS cat FROM lineitem
      |  WHERE l_orderkey IS NOT NULL AND l_returnflag IS NOT NULL
      |), ct AS (
      |  SELECT item, cat, CAST(COUNT(*) AS BIGINT) AS n
      |  FROM r GROUP BY item, cat
      |), pi AS (
      |  SELECT item, CAST(SUM(n) AS BIGINT) AS m,
      |    CAST(SUM(n * n) AS BIGINT) AS sum_sq
      |  FROM ct GROUP BY item
      |), modal AS (
      |  SELECT m AS modal_m FROM (
      |    SELECT m, COUNT(*) AS k FROM pi GROUP BY m
      |    ORDER BY k DESC, m DESC LIMIT 1)
      |), kept AS (
      |  SELECT pi.* FROM pi, modal WHERE pi.m = modal.modal_m
      |), kct AS (
      |  SELECT ct.* FROM ct JOIN kept ON ct.item = kept.item
      |), cattot AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n_categories,
      |    SUM(CAST(nj AS HUGEINT) * CAST(nj AS HUGEINT)) AS sum_nj_sq
      |  FROM (SELECT cat, CAST(SUM(n) AS BIGINT) AS nj
      |    FROM kct GROUP BY cat)
      |), itemtot AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n_items,
      |    (SELECT modal_m FROM modal) AS n_raters,
      |    CAST(SUM(sum_sq) AS BIGINT) AS tot_sq
      |  FROM kept
      |), alli AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n_items_all FROM pi
      |), s AS (
      |  SELECT n_items, n_items_all - n_items AS n_items_dropped,
      |    n_raters, n_categories,
      |    CAST(n_items AS HUGEINT) * CAST(n_raters AS HUGEINT) AS nm,
      |    tot_sq, sum_nj_sq
      |  FROM itemtot, cattot, alli
      |), pb AS (
      |  SELECT n_items, n_items_dropped, n_raters, n_categories,
      |    CAST(tot_sq - nm AS DOUBLE) /
      |      CAST(nm * CAST(n_raters - 1 AS HUGEINT) AS DOUBLE) AS p_bar,
      |    CAST(sum_nj_sq AS DOUBLE) / CAST(nm * nm AS DOUBLE) AS p_e
      |  FROM s
      |)
      |SELECT n_items, n_items_dropped, n_raters, n_categories,
      |  ROUND(p_bar, 6) AS p_bar, ROUND(p_e, 6) AS p_e,
      |  ROUND(CASE WHEN p_e = 1.0 THEN NULL
      |    ELSE (p_bar - p_e) / (1.0 - p_e) END, 6) AS fleiss_kappa
      |FROM pb""".stripMargin))

  private val q176 = Q("q176_krippendorff_alpha",
    (s, dir) => {
      // Multi-rater agreement with VARIABLE panel sizes
      // (RaterAgreement.krippendorffAlpha, nominal metric): the
      // missing-ratings case q175 drops. Items with <2 ratings are
      // excluded per the definition; the per-item rational terms
      // (denominator m_i - 1 varies) ride DECIMAL(28,10) so the fold
      // is order-insensitive. Same contingency-bounded shape as q175.
      graft.operators.RaterAgreement.krippendorffAlpha(
        t(s, dir, "lineitem"), "l_orderkey", "l_returnflag")
    },
    Some("""WITH r AS (
      |  SELECT l_orderkey AS item, l_returnflag AS cat FROM lineitem
      |  WHERE l_orderkey IS NOT NULL AND l_returnflag IS NOT NULL
      |), ct AS (
      |  SELECT item, cat, CAST(COUNT(*) AS BIGINT) AS n
      |  FROM r GROUP BY item, cat
      |), pi AS (
      |  SELECT item, m, sum_sq FROM (
      |    SELECT item, CAST(SUM(n) AS BIGINT) AS m,
      |      CAST(SUM(n * n) AS BIGINT) AS sum_sq
      |    FROM ct GROUP BY item)
      |  WHERE m >= 2
      |), obs AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n_items,
      |    CAST(SUM(m) AS BIGINT) AS n_ratings,
      |    SUM(CAST(CAST(m * m - sum_sq AS DOUBLE) /
      |      CAST(m - 1 AS DOUBLE) AS DECIMAL(28,10))) AS do_n
      |  FROM pi
      |), marg AS (
      |  SELECT SUM(CAST(nc AS HUGEINT) * CAST(nc AS HUGEINT))
      |    AS sum_nc_sq
      |  FROM (SELECT cat, CAST(SUM(n) AS BIGINT) AS nc
      |    FROM ct JOIN pi USING (item) GROUP BY cat)
      |), s AS (
      |  SELECT n_items, n_ratings, do_n,
      |    CAST(n_ratings AS HUGEINT) * CAST(n_ratings AS HUGEINT)
      |      - sum_nc_sq AS de_n
      |  FROM obs, marg
      |)
      |SELECT n_items, n_ratings,
      |  ROUND(CAST(do_n AS DOUBLE) / CAST(n_ratings AS DOUBLE), 6)
      |    AS d_o,
      |  ROUND(CAST(de_n AS DOUBLE) /
      |    CAST(CAST(n_ratings AS HUGEINT) *
      |      CAST(n_ratings - 1 AS HUGEINT) AS DOUBLE), 6) AS d_e,
      |  ROUND(CASE WHEN CAST(de_n AS DOUBLE) = 0.0 THEN NULL
      |    ELSE 1.0 - CAST(n_ratings - 1 AS DOUBLE) *
      |      CAST(do_n AS DOUBLE) / CAST(de_n AS DOUBLE) END, 6)
      |    AS krippendorff_alpha
      |FROM s""".stripMargin))

  private val q177 = Q("q177_reference_divergence",
    (s, dir) => {
      // Lexical drift against a FROZEN reference profile
      // (Drift.divergenceVsReference over the DivergenceCounters
      // aggregate): each source's unigram distribution vs the English
      // slice's top-500 + <oov> smoothed profile — the train-vs-serve
      // skew form (q174 compares against the moving all-source global;
      // this pins the reference). ONE map-side-combined pass: the
      // shuffled partial is a 501-slot long vector per (mapper, source);
      // the profile is two bounded definition-time collects. Same
      // aggregate runs the streaming window twin
      // (EventStreams.windowedLexicalDrift, spec-pinned parity).
      val refToks = t(s, dir, "documents").filter(col("lang") === "en")
        .select(explode(TF.tokens(col("text"))).as("token"))
      val (vocab, refQ) = Drift.referenceProfile(refToks, "token", 500)
      val toks = t(s, dir, "documents")
        .select(col("source"), explode(TF.tokens(col("text"))).as("token"))
      Drift.divergenceVsReference(toks, "source", "token", vocab, refQ)
        .orderBy(col("source"))
    },
    Some("""WITH rtok AS (
      |  SELECT unnest(list_filter(string_split_regex(lower(text), '\s+'),
      |    t -> t <> '')) AS token
      |  FROM documents WHERE lang = 'en'
      |), rcnt AS (
      |  SELECT token, CAST(COUNT(*) AS BIGINT) AS n FROM rtok
      |  GROUP BY token
      |), rtot AS (
      |  SELECT CAST(SUM(n) AS BIGINT) AS total FROM rcnt
      |), vc AS (
      |  SELECT token, n FROM (
      |    SELECT token, n, ROW_NUMBER() OVER (ORDER BY n DESC, token)
      |      AS rk FROM rcnt)
      |  WHERE rk <= 500
      |), vk AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS k,
      |    CAST(SUM(n) AS BIGINT) AS vtot FROM vc
      |), support AS (
      |  SELECT vc.token AS sym,
      |    CAST(vc.n + 1 AS DOUBLE) /
      |      CAST(rtot.total + vk.k + 1 AS DOUBLE) AS q
      |  FROM vc, rtot, vk
      |  UNION ALL
      |  SELECT '<oov>',
      |    CAST(rtot.total - vk.vtot + 1 AS DOUBLE) /
      |      CAST(rtot.total + vk.k + 1 AS DOUBLE)
      |  FROM rtot, vk
      |), tok AS (
      |  SELECT source AS src,
      |    unnest(list_filter(string_split_regex(lower(text), '\s+'),
      |      t -> t <> '')) AS token
      |  FROM documents WHERE source IS NOT NULL
      |), mp AS (
      |  SELECT t.src,
      |    CASE WHEN vc.token IS NOT NULL THEN t.token
      |      ELSE '<oov>' END AS sym
      |  FROM tok t LEFT JOIN vc ON t.token = vc.token
      |), ss AS (
      |  SELECT src, sym, CAST(COUNT(*) AS BIGINT) AS n_ss
      |  FROM mp GROUP BY src, sym
      |), fr AS (
      |  SELECT s.src, su.sym, su.q, COALESCE(ss.n_ss, 0) AS n_ss
      |  FROM (SELECT DISTINCT src FROM ss) s CROSS JOIN support su
      |  LEFT JOIN ss ON ss.src = s.src AND ss.sym = su.sym
      |), cl AS (
      |  SELECT src, sym, n_ss, q,
      |    CASE WHEN n_ss > 0 THEN CAST(n_ss AS DOUBLE) /
      |      CAST(SUM(n_ss) OVER (PARTITION BY src) AS DOUBLE)
      |      ELSE 0.0 END AS p
      |  FROM fr
      |), tm AS (
      |  SELECT src, sym, n_ss,
      |    CASE WHEN n_ss > 0 THEN
      |      CAST(p * CAST(CAST(ln(p / q) AS DECIMAL(24,10)) AS DOUBLE)
      |        AS DECIMAL(28,12))
      |      ELSE CAST(0 AS DECIMAL(28,12)) END AS kl,
      |    CASE WHEN n_ss > 0 THEN
      |      CAST(p * CAST(CAST(ln(p / ((p + q) / 2)) AS DECIMAL(24,10))
      |        AS DOUBLE) AS DECIMAL(28,12))
      |      ELSE CAST(0 AS DECIMAL(28,12)) END AS jsp,
      |    CAST(q * CAST(CAST(ln(q / ((p + q) / 2)) AS DECIMAL(24,10))
      |      AS DOUBLE) AS DECIMAL(28,12)) AS jsq
      |  FROM cl
      |)
      |SELECT src AS source,
      |  CAST(SUM(n_ss) AS BIGINT) AS n_tokens,
      |  CAST((CAST(SUM(CASE WHEN sym = '<oov>' THEN n_ss ELSE 0 END)
      |      AS HUGEINT) * 1000000) //
      |    CAST(SUM(n_ss) AS HUGEINT) AS DOUBLE) / 1000000.0 AS oov_frac,
      |  ROUND(CAST(SUM(kl) AS DOUBLE), 6) AS kl_vs_ref,
      |  ROUND(CAST(SUM(jsp) + SUM(jsq) AS DOUBLE) / 2.0, 6) AS js_vs_ref
      |FROM tm GROUP BY src ORDER BY source""".stripMargin))

  private val q178 = Q("q178_corpus_datasheet",
    (s, dir) => {
      // Per-source corpus DATASHEET (Datasheet.corpusDatasheet): the
      // one-relation data-card a team publishes with a corpus — volume
      // + mean length, exact-dup health (q156's corpus-wide groups,
      // per-source attribution), deterministic language mode, and
      // lexical distance from the corpus average (q174's divergences)
      // COMPOSED into |sources| rows. Like q172, the point is
      // value-verifying the composition, not the already-green pieces;
      // ~5 documented corpus passes, everything downstream
      // source-sized and broadcast-joined.
      graft.operators.Datasheet.corpusDatasheet(
        t(s, dir, "documents"), "text", "source", "lang", "n_chars",
        vocabSize = 1000)
        .orderBy(col("source"))
    },
    Some("""WITH cells AS (
      |  SELECT source AS src, COALESCE(lang, '<null>') AS lang,
      |    COUNT(*) AS n,
      |    CAST(SUM(len(list_filter(string_split_regex(lower(text),
      |      '\s+'), t -> t <> ''))) AS BIGINT) AS nt,
      |    CAST(SUM(n_chars) AS BIGINT) AS nc
      |  FROM documents WHERE source IS NOT NULL
      |  GROUP BY src, lang
      |), persrc AS (
      |  SELECT src, CAST(SUM(n) AS BIGINT) AS n_docs,
      |    CAST(SUM(nt) AS BIGINT) AS n_tokens,
      |    CAST((CAST(SUM(nc) AS HUGEINT) * 1000000) //
      |      CAST(SUM(n) AS HUGEINT) AS DOUBLE) / 1000000.0 AS mean_chars
      |  FROM cells GROUP BY src
      |), toplang AS (
      |  SELECT c.src, c.lang AS top_lang,
      |    CAST((CAST(c.n AS HUGEINT) * 1000000) //
      |      CAST(p.n_docs AS HUGEINT) AS DOUBLE) / 1000000.0
      |      AS top_lang_frac
      |  FROM (SELECT src, lang, n,
      |      ROW_NUMBER() OVER (PARTITION BY src ORDER BY n DESC, lang)
      |        AS rk FROM cells) c
      |  JOIN persrc p ON c.src = p.src
      |  WHERE c.rk = 1
      |), h AS (
      |  SELECT source AS src, COALESCE(md5(text), '') AS hh
      |  FROM documents WHERE source IS NOT NULL
      |), sizes AS (
      |  SELECT hh, COUNT(*) AS copies FROM h GROUP BY hh
      |), dup AS (
      |  SELECT src,
      |    CAST(SUM(CASE WHEN copies > 1 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_dup_docs,
      |    CAST((CAST(SUM(CASE WHEN copies > 1 THEN 1 ELSE 0 END)
      |        AS HUGEINT) * 1000000) // CAST(COUNT(*) AS HUGEINT)
      |      AS DOUBLE) / 1000000.0 AS dup_rate
      |  FROM h JOIN sizes ON h.hh = sizes.hh
      |  GROUP BY src
      |), tok AS (
      |  SELECT source AS src,
      |    unnest(list_filter(string_split_regex(lower(text), '\s+'),
      |      t -> t <> '')) AS token
      |  FROM documents WHERE source IS NOT NULL
      |), vc AS (
      |  SELECT token FROM (
      |    SELECT token, COUNT(*) AS n FROM tok GROUP BY token
      |    ORDER BY n DESC, token LIMIT 1000)
      |), mp AS (
      |  SELECT t.src,
      |    CASE WHEN vc.token IS NOT NULL THEN t.token
      |      ELSE '<oov>' END AS sym
      |  FROM tok t LEFT JOIN vc ON t.token = vc.token
      |), ss AS (
      |  SELECT src, sym, CAST(COUNT(*) AS BIGINT) AS n_ss
      |  FROM mp GROUP BY src, sym
      |), g AS (
      |  SELECT sym, CAST(SUM(n_ss) AS BIGINT) AS n_g FROM ss GROUP BY sym
      |), gt AS (
      |  SELECT CAST(SUM(n_g) AS BIGINT) AS n_tot FROM g
      |), fr AS (
      |  SELECT s.src, g.sym, g.n_g, gt.n_tot,
      |    COALESCE(ss.n_ss, 0) AS n_ss
      |  FROM (SELECT DISTINCT src FROM ss) s
      |  CROSS JOIN g CROSS JOIN gt
      |  LEFT JOIN ss ON ss.src = s.src AND ss.sym = g.sym
      |), cl AS (
      |  SELECT src, sym, n_ss,
      |    CAST(n_ss AS DOUBLE) /
      |      CAST(SUM(n_ss) OVER (PARTITION BY src) AS DOUBLE) AS p,
      |    CAST(n_g AS DOUBLE) / CAST(n_tot AS DOUBLE) AS q
      |  FROM fr
      |), tm AS (
      |  SELECT src, sym, n_ss,
      |    CASE WHEN n_ss > 0 THEN
      |      CAST(p * CAST(CAST(ln(p / q) AS DECIMAL(24,10)) AS DOUBLE)
      |        AS DECIMAL(28,12))
      |      ELSE CAST(0 AS DECIMAL(28,12)) END AS kl,
      |    CASE WHEN n_ss > 0 THEN
      |      CAST(p * CAST(CAST(ln(p / ((p + q) / 2)) AS DECIMAL(24,10))
      |        AS DOUBLE) AS DECIMAL(28,12))
      |      ELSE CAST(0 AS DECIMAL(28,12)) END AS jsp,
      |    CAST(q * CAST(CAST(ln(q / ((p + q) / 2)) AS DECIMAL(24,10))
      |      AS DOUBLE) AS DECIMAL(28,12)) AS jsq
      |  FROM cl
      |), drift AS (
      |  SELECT src,
      |    CAST((CAST(SUM(CASE WHEN sym = '<oov>' THEN n_ss ELSE 0 END)
      |        AS HUGEINT) * 1000000) // CAST(SUM(n_ss) AS HUGEINT)
      |      AS DOUBLE) / 1000000.0 AS oov_frac,
      |    ROUND(CAST(SUM(kl) AS DOUBLE), 6) AS kl_vs_global,
      |    ROUND(CAST(SUM(jsp) + SUM(jsq) AS DOUBLE) / 2.0, 6)
      |      AS js_vs_global
      |  FROM tm GROUP BY src
      |)
      |SELECT persrc.src AS source, n_docs, n_tokens, mean_chars,
      |  top_lang, top_lang_frac, n_dup_docs, dup_rate,
      |  oov_frac, kl_vs_global, js_vs_global
      |FROM persrc
      |JOIN toplang ON persrc.src = toplang.src
      |JOIN dup ON persrc.src = dup.src
      |LEFT JOIN drift ON persrc.src = drift.src
      |ORDER BY source""".stripMargin))

  private val q179 = Q("q179_dsir_weights",
    (s, dir) => {
      // DSIR importance log-weights (Selection.importanceWeights; Xie
      // et al. 2023): score every document by how target-like its
      // hashed uni+bigram distribution is, target = the src13 slice —
      // the data-SELECTION pass that runs before q68/q180 mixing when
      // the recipe wants "more like this curated set". Two gram
      // aggregates onto the 1024-bucket frame, the log-ratio frame
      // broadcasts, one map-combined per-doc sum; ln through
      // DECIMAL(24,10), terms decimal-summed (the psi recipe).
      val docs = t(s, dir, "documents")
      Selection.importanceWeights(docs,
        docs.filter(col("source") === "src13").select(col("text")),
        "doc_id", "text", numBuckets = 1024)
        .orderBy(col("doc_id"))
    },
    Some("""WITH tk AS (
      |  SELECT doc_id, source, list_filter(
      |    string_split_regex(lower(text), '\s+'), t -> t <> '') AS tk
      |  FROM documents
      |), uni AS (
      |  SELECT doc_id, source, unnest(tk) AS gram FROM tk
      |), bi AS (
      |  SELECT doc_id, source, tk[i] || ' ' || tk[i+1] AS gram FROM (
      |    SELECT doc_id, source, tk,
      |      unnest(generate_series(1, len(tk) - 1)) AS i
      |    FROM tk WHERE len(tk) >= 2)
      |), g AS (
      |  SELECT doc_id, source,
      |    ('0x' || substr(md5(gram), 1, 8))::BIGINT % 1024 AS b
      |  FROM (SELECT * FROM uni UNION ALL SELECT * FROM bi)
      |), cr AS (
      |  SELECT b, CAST(COUNT(*) AS BIGINT) AS cr FROM g GROUP BY b
      |), ct AS (
      |  SELECT b, CAST(COUNT(*) AS BIGINT) AS ct FROM g
      |  WHERE source = 'src13' GROUP BY b
      |), nr AS (SELECT CAST(SUM(cr) AS BIGINT) AS nr FROM cr),
      |nt AS (SELECT CAST(COALESCE(SUM(ct), 0) AS BIGINT) AS nt FROM ct),
      |lr AS (
      |  SELECT cr.b, CAST(
      |    CAST(ln(CAST(COALESCE(ct.ct, 0) + 1 AS DOUBLE) /
      |      CAST(nt.nt + 1024 AS DOUBLE)) AS DECIMAL(24,10)) -
      |    CAST(ln(CAST(cr.cr + 1 AS DOUBLE) /
      |      CAST(nr.nr + 1024 AS DOUBLE)) AS DECIMAL(24,10))
      |    AS DECIMAL(28,12)) AS lr
      |  FROM cr LEFT JOIN ct ON cr.b = ct.b CROSS JOIN nr CROSS JOIN nt
      |)
      |, gd AS (
      |  SELECT g.doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams,
      |    CAST(CAST(ROUND(SUM(lr.lr), 6) AS VARCHAR) AS DOUBLE) AS log_w
      |  FROM g LEFT JOIN lr ON g.b = lr.b
      |  GROUP BY g.doc_id
      |)
      |SELECT d.doc_id, COALESCE(gd.n_grams, 0) AS n_grams, gd.log_w
      |FROM (SELECT DISTINCT doc_id FROM documents) d
      |LEFT JOIN gd ON d.doc_id IS NOT DISTINCT FROM gd.doc_id
      |ORDER BY d.doc_id""".stripMargin))

  private val q180 = Q("q180_budget_waterfill",
    (s, dir) => {
      // Token-budget waterfill (Mixing.budgetWaterfill): allocate a
      // 25k-token budget across sources ∝ sqrt-temperature weights
      // under a 1-epoch repetition ceiling — the mixture-solving step
      // between q178's datasheet and q68's mixing. The |sources| frame
      // is the output of one corpus token aggregate; the waterfill
      // itself is bounded-frame window math (caps and cumulative sums
      // exact DECIMAL, λ one correctly-rounded double division).
      val tok = t(s, dir, "documents")
        .filter(col("source").isNotNull)
        .groupBy(col("source"))
        .agg(sum(TF.tokenCount(col("text")).cast("bigint")).as("n_tokens"))
      val src = tok
        .withColumn("__sq",
          sqrt(col("n_tokens").cast("double")).cast("decimal(28,12)"))
        .withColumn("weight",
          col("__sq").cast("double") /
            sum(col("__sq")).over(Window.partitionBy(lit(1))).cast("double"))
      Mixing.budgetWaterfill(src, "source", "n_tokens", "weight",
        budget = 25000L, maxEpochs = 1.0)
    },
    Some("""WITH s AS (
      |  SELECT source, CAST(SUM(len(list_filter(
      |    string_split_regex(lower(text), '\s+'), t -> t <> '')))
      |    AS BIGINT) AS n_tokens
      |  FROM documents WHERE source IS NOT NULL GROUP BY source
      |), sw AS (
      |  SELECT source, n_tokens,
      |    CAST(CAST(sqrt(CAST(n_tokens AS DOUBLE)) AS DECIMAL(28,12))
      |        AS DOUBLE) /
      |      CAST(SUM(CAST(sqrt(CAST(n_tokens AS DOUBLE))
      |        AS DECIMAL(28,12))) OVER () AS DOUBLE) AS weight
      |  FROM s
      |), wf AS (
      |  SELECT source, n_tokens, weight,
      |    CAST(CAST(n_tokens AS DECIMAL(30,6)) * CAST(1.0 AS DECIMAL(8,6))
      |      AS DECIMAL(38,6)) AS cap,
      |    CAST(weight AS DECIMAL(28,12)) AS wdec,
      |    CAST(CAST(CAST(n_tokens AS DECIMAL(30,6)) *
      |      CAST(1.0 AS DECIMAL(8,6)) AS DECIMAL(38,6)) AS DOUBLE)
      |      / weight AS r
      |  FROM sw
      |), ann AS (
      |  SELECT *,
      |    COALESCE(SUM(cap) OVER (ORDER BY r, source
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
      |      CAST(0 AS DECIMAL(38,6))) AS cum_cap,
      |    SUM(wdec) OVER (ORDER BY r, source
      |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS w_rem
      |  FROM wf
      |), ann2 AS (
      |  SELECT *, CAST(CAST(25000 AS DECIMAL(38,6)) - cum_cap AS DOUBLE)
      |    / CAST(w_rem AS DOUBLE) AS lam_prev
      |  FROM ann
      |), lam AS (
      |  SELECT lam_prev AS lambda FROM ann2 WHERE lam_prev <= r
      |  ORDER BY r, source LIMIT 1
      |)
      |SELECT a.source, a.n_tokens, a.weight,
      |  ROUND(CAST(a.cap AS DOUBLE), 6) AS cap_tokens,
      |  ROUND(CASE WHEN l.lambda IS NULL THEN CAST(a.cap AS DOUBLE)
      |    ELSE LEAST(l.lambda * a.weight, CAST(a.cap AS DOUBLE)) END, 6)
      |    AS alloc_tokens,
      |  ROUND(CASE WHEN a.n_tokens = 0 THEN NULL
      |    ELSE (CASE WHEN l.lambda IS NULL THEN CAST(a.cap AS DOUBLE)
      |      ELSE LEAST(l.lambda * a.weight, CAST(a.cap AS DOUBLE)) END)
      |      / CAST(a.n_tokens AS DOUBLE) END, 6) AS epochs,
      |  (l.lambda IS NULL OR a.r <= l.lambda) AS capped,
      |  ROUND(l.lambda, 6) AS lambda
      |FROM ann2 a LEFT JOIN lam l ON TRUE
      |ORDER BY a.source""".stripMargin))

  private val q181 = Q("q181_doremi_reweight",
    (s, dir) => {
      // One DoReMi multiplicative-weights step (Mixing.doremiReweight;
      // Xie et al. 2023): per-domain mean clipped excess loss →
      // α·exp(η·excess), renormalized and uniform-smoothed — the
      // mixture-weight LEARNER whose output q182 materializes. The
      // proxy/reference losses are deterministic functions of the doc
      // (ln(1+chars) vs ln(1+tokens) — a verbosity signal), each
      // ln-quantized DECIMAL(24,10) so the oracle replays every bit:
      // floor-ppm mean, exp through DECIMAL(20,10), exact-decimal
      // update products, correctly-rounded final divisions — no
      // rounding needed anywhere.
      val docs = t(s, dir, "documents")
      val lnq = (c: Column) => log(c).cast("decimal(24,10)")
      Mixing.doremiReweight(docs, "source",
        lnq(col("n_chars") + 1),
        lnq(TF.tokenCount(col("text")).cast("bigint") + 1),
        prior = None, eta = 1.0, smoothing = 0.01)
        .orderBy(col("source"))
    },
    Some("""WITH ex AS (
      |  SELECT source, CASE WHEN d IS NULL THEN NULL
      |    ELSE CAST(GREATEST(d, 0) AS DECIMAL(24,10)) END AS excess
      |  FROM (
      |    SELECT source,
      |      CAST(ln(1 + n_chars) AS DECIMAL(24,10)) -
      |      CAST(ln(1 + len(list_filter(
      |        string_split_regex(lower(text), '\s+'), t -> t <> '')))
      |        AS DECIMAL(24,10)) AS d
      |    FROM documents)
      |), agg AS (
      |  SELECT source, CAST(COUNT(excess) AS BIGINT) AS n_examples,
      |    SUM(excess) AS sum_ex
      |  FROM ex GROUP BY source
      |), m AS (
      |  SELECT source, n_examples,
      |    CASE WHEN n_examples = 0 THEN NULL
      |      ELSE CAST(CAST(sum_ex * 10000000000 AS HUGEINT) * 1000000 //
      |        (CAST(n_examples AS HUGEINT) * 10000000000)
      |        AS DOUBLE) / 1000000.0
      |    END AS mean_excess
      |  FROM agg
      |), u AS (
      |  SELECT source, n_examples, mean_excess,
      |    CAST(1.0 AS DOUBLE) / CAST(COUNT(*) OVER () AS DOUBLE)
      |      AS alpha_prior,
      |    CAST(COUNT(*) OVER () AS DOUBLE) AS kd,
      |    CAST(CAST(1.0 AS DOUBLE) / CAST(COUNT(*) OVER () AS DOUBLE)
      |        AS DECIMAL(14,12)) *
      |      (CASE WHEN mean_excess IS NULL THEN CAST(1 AS DECIMAL(20,10))
      |        ELSE CAST(exp(mean_excess) AS DECIMAL(20,10)) END) AS uu
      |  FROM m
      |)
      |SELECT source, n_examples, mean_excess, alpha_prior,
      |  (CAST(1.0 AS DOUBLE) - CAST(0.01 AS DOUBLE)) *
      |    (CAST(CAST(uu AS VARCHAR) AS DOUBLE) /
      |     CAST(CAST(SUM(uu) OVER () AS VARCHAR) AS DOUBLE)) +
      |  CAST(0.01 AS DOUBLE) / kd AS alpha
      |FROM u ORDER BY source""".stripMargin))

  private val q182 = Q("q182_mixture_materialize",
    (s, dir) => {
      // The mixture-plan EXECUTION composite (Mixing.materializeMixture):
      // q181's learned alphas feed a 13k-token waterfill under a
      // 0.5-epoch repetition ceiling (both caps and shares bind at this
      // operating point), then each source keeps docs in the replayable
      // 60-bit md5 epoch order until its allocation is spent. Output =
      // the per-source reconciliation report. Like q172, the
      // COMPOSITION is the verified unit: the oracle replays reweight →
      // waterfill → ordered greedy cut in one chained CTE.
      // ONE tokenize pass for the whole composite (round 21, VERDICT
      // r20 #5): the reweight's reference loss and the cut's token
      // budget both need tokenCount(text), and composing the operators
      // lazily ran that corpus pass twice. Both operators take frames,
      // so the share needs no operator specialization: pin the narrow
      // (source, id, n_chars, ntok) base once and feed it to both
      // (materializeMixture never pins). ntok keeps tokenCount's
      // nullability (null text → null ntok) so the reweight's null-loss
      // algebra and the cut's coalesce-to-0 behave exactly as before —
      // values bit-identical, oracle unchanged.
      val docs = t(s, dir, "documents")
      val base = Pin(docs.select(col("source"), col("doc_id"),
        col("n_chars"), TF.tokenCount(col("text")).cast("bigint").as("__ntok")))
      val lnq = (c: Column) => log(c).cast("decimal(24,10)")
      val alphas = Mixing.doremiReweight(base, "source",
          lnq(col("n_chars") + 1),
          lnq(col("__ntok") + 1),
          prior = None, eta = 1.0, smoothing = 0.01)
        .select(col("source"), col("alpha").as("weight"))
      Mixing.materializeMixture(base, "source", "doc_id",
        col("__ntok"),
        alphas, budget = 13000L, maxEpochs = 0.5)
    },
    Some("""WITH tk AS (
      |  SELECT doc_id, source, n_chars,
      |    COALESCE(len(list_filter(
      |      string_split_regex(lower(text), '\s+'), t -> t <> '')), 0)
      |      AS ntok,
      |    len(list_filter(
      |      string_split_regex(lower(text), '\s+'), t -> t <> ''))
      |      AS ntok_raw
      |  FROM documents
      |), ex AS (
      |  SELECT source, CASE WHEN d IS NULL THEN NULL
      |    ELSE CAST(GREATEST(d, 0) AS DECIMAL(24,10)) END AS excess
      |  FROM (
      |    SELECT source,
      |      CAST(ln(1 + n_chars) AS DECIMAL(24,10)) -
      |      CAST(ln(1 + ntok_raw) AS DECIMAL(24,10)) AS d
      |    FROM tk)
      |), agg AS (
      |  SELECT source, CAST(COUNT(excess) AS BIGINT) AS n_ex,
      |    SUM(excess) AS sum_ex
      |  FROM ex GROUP BY source
      |), m AS (
      |  SELECT source,
      |    CASE WHEN n_ex = 0 THEN NULL
      |      ELSE CAST(CAST(sum_ex * 10000000000 AS HUGEINT) * 1000000 //
      |        (CAST(n_ex AS HUGEINT) * 10000000000)
      |        AS DOUBLE) / 1000000.0
      |    END AS mean_excess
      |  FROM agg
      |), uu AS (
      |  SELECT source,
      |    CAST(COUNT(*) OVER () AS DOUBLE) AS kd,
      |    CAST(CAST(1.0 AS DOUBLE) / CAST(COUNT(*) OVER () AS DOUBLE)
      |        AS DECIMAL(14,12)) *
      |      (CASE WHEN mean_excess IS NULL THEN CAST(1 AS DECIMAL(20,10))
      |        ELSE CAST(exp(mean_excess) AS DECIMAL(20,10)) END) AS uv
      |  FROM m
      |), alphas AS (
      |  SELECT source,
      |    (CAST(1.0 AS DOUBLE) - CAST(0.01 AS DOUBLE)) *
      |      (CAST(CAST(uv AS VARCHAR) AS DOUBLE) /
      |       CAST(CAST(SUM(uv) OVER () AS VARCHAR) AS DOUBLE)) +
      |    CAST(0.01 AS DOUBLE) / kd AS weight
      |  FROM uu
      |), s AS (
      |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |    CAST(SUM(ntok) AS BIGINT) AS n_tokens
      |  FROM tk WHERE doc_id IS NOT NULL GROUP BY source
      |), sw AS (
      |  SELECT s.source, s.n_docs, s.n_tokens, a.weight
      |  FROM s JOIN alphas a ON s.source IS NOT DISTINCT FROM a.source
      |), wf AS (
      |  SELECT source, n_docs, n_tokens, weight,
      |    CAST(CAST(n_tokens AS DECIMAL(30,6)) * CAST(0.5 AS DECIMAL(8,6))
      |      AS DECIMAL(38,6)) AS cap,
      |    CAST(weight AS DECIMAL(28,12)) AS wdec,
      |    CAST(CAST(CAST(n_tokens AS DECIMAL(30,6)) *
      |      CAST(0.5 AS DECIMAL(8,6)) AS DECIMAL(38,6)) AS DOUBLE)
      |      / weight AS r
      |  FROM sw
      |), ann AS (
      |  SELECT *,
      |    COALESCE(SUM(cap) OVER (ORDER BY r, source
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
      |      CAST(0 AS DECIMAL(38,6))) AS cum_cap,
      |    SUM(wdec) OVER (ORDER BY r, source
      |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS w_rem
      |  FROM wf
      |), ann2 AS (
      |  SELECT *, CAST(CAST(13000 AS DECIMAL(38,6)) - cum_cap AS DOUBLE)
      |    / CAST(w_rem AS DOUBLE) AS lam_prev
      |  FROM ann
      |), lam AS (
      |  SELECT lam_prev AS lambda FROM ann2 WHERE lam_prev <= r
      |  ORDER BY r, source LIMIT 1
      |), plan AS (
      |  SELECT a.source, a.n_docs, a.n_tokens, a.weight,
      |    ROUND(CASE WHEN l.lambda IS NULL THEN CAST(a.cap AS DOUBLE)
      |      ELSE LEAST(l.lambda * a.weight, CAST(a.cap AS DOUBLE)) END, 6)
      |      AS alloc_tokens,
      |    (l.lambda IS NULL OR a.r <= l.lambda) AS capped
      |  FROM ann2 a LEFT JOIN lam l ON TRUE
      |), cut AS (
      |  SELECT t.source, t.ntok,
      |    SUM(t.ntok) OVER (PARTITION BY t.source
      |      ORDER BY ('0x' || substr(md5(CAST(t.doc_id AS VARCHAR)), 1, 15))
      |        ::BIGINT, t.doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
      |    p.alloc_tokens
      |  FROM tk t JOIN plan p ON t.source IS NOT DISTINCT FROM p.source
      |  WHERE t.doc_id IS NOT NULL
      |), kept AS (
      |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs_kept,
      |    CAST(SUM(ntok) AS BIGINT) AS tokens_kept
      |  FROM cut WHERE cum <= alloc_tokens GROUP BY source
      |)
      |SELECT p.source, p.n_docs, p.n_tokens, p.weight, p.alloc_tokens,
      |  p.capped,
      |  CAST(COALESCE(k.n_docs_kept, 0) AS BIGINT) AS n_docs_kept,
      |  CAST(COALESCE(k.tokens_kept, 0) AS BIGINT) AS tokens_kept
      |FROM plan p LEFT JOIN kept k
      |  ON p.source IS NOT DISTINCT FROM k.source
      |ORDER BY p.source""".stripMargin))

  private val q183 = Q("q183_gumbel_topk",
    (s, dir) => {
      // DSIR's importance-RESAMPLING step (Selection.gumbelTopK):
      // sampling k docs with prob ∝ exp(log_w) == top-k by
      // (log_w + Gumbel noise), noise derandomized from md5(seed, id)
      // so the sampled SET is layout-independent and engine-replayable.
      // Composes q179's scorer; map-only keys + one k-bounded
      // TakeOrdered — the corpus never shuffles.
      val docs = t(s, dir, "documents")
      val scored = Selection.importanceWeights(docs,
        docs.filter(col("source") === "src13").select(col("text")),
        "doc_id", "text", numBuckets = 1024)
      Selection.gumbelTopK(scored, "doc_id", "log_w", 50, "q183")
        .select(col("doc_id"), col("n_grams"), col("log_w"),
          col("__gumbel_key").cast("double").as("gumbel_key"))
    },
    Some("""WITH tk AS (
      |  SELECT doc_id, source, list_filter(
      |    string_split_regex(lower(text), '\s+'), t -> t <> '') AS tk
      |  FROM documents
      |), uni AS (
      |  SELECT doc_id, source, unnest(tk) AS gram FROM tk
      |), bi AS (
      |  SELECT doc_id, source, tk[i] || ' ' || tk[i+1] AS gram FROM (
      |    SELECT doc_id, source, tk,
      |      unnest(generate_series(1, len(tk) - 1)) AS i
      |    FROM tk WHERE len(tk) >= 2)
      |), g AS (
      |  SELECT doc_id, source,
      |    ('0x' || substr(md5(gram), 1, 8))::BIGINT % 1024 AS b
      |  FROM (SELECT * FROM uni UNION ALL SELECT * FROM bi)
      |), cr AS (
      |  SELECT b, CAST(COUNT(*) AS BIGINT) AS cr FROM g GROUP BY b
      |), ct AS (
      |  SELECT b, CAST(COUNT(*) AS BIGINT) AS ct FROM g
      |  WHERE source = 'src13' GROUP BY b
      |), nr AS (SELECT CAST(SUM(cr) AS BIGINT) AS nr FROM cr),
      |nt AS (SELECT CAST(COALESCE(SUM(ct), 0) AS BIGINT) AS nt FROM ct),
      |lr AS (
      |  SELECT cr.b, CAST(
      |    CAST(ln(CAST(COALESCE(ct.ct, 0) + 1 AS DOUBLE) /
      |      CAST(nt.nt + 1024 AS DOUBLE)) AS DECIMAL(24,10)) -
      |    CAST(ln(CAST(cr.cr + 1 AS DOUBLE) /
      |      CAST(nr.nr + 1024 AS DOUBLE)) AS DECIMAL(24,10))
      |    AS DECIMAL(28,12)) AS lr
      |  FROM cr LEFT JOIN ct ON cr.b = ct.b CROSS JOIN nr CROSS JOIN nt
      |), gd AS (
      |  SELECT g.doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams,
      |    CAST(CAST(ROUND(SUM(lr.lr), 6) AS VARCHAR) AS DOUBLE) AS log_w
      |  FROM g LEFT JOIN lr ON g.b = lr.b
      |  GROUP BY g.doc_id
      |), keyed AS (
      |  SELECT doc_id, n_grams, log_w,
      |    CAST(log_w AS DECIMAL(24,10)) +
      |    CAST(-ln(-ln(
      |      (CAST(('0x' || substr(md5('q183' || CAST(doc_id AS VARCHAR)),
      |        1, 15))::BIGINT AS DOUBLE) + 0.5) / 1152921504606846976.0))
      |      AS DECIMAL(24,10)) AS gkey
      |  FROM gd WHERE log_w IS NOT NULL
      |)
      |SELECT doc_id, n_grams, log_w,
      |  CAST(CAST(gkey AS VARCHAR) AS DOUBLE) AS gumbel_key
      |FROM keyed ORDER BY gkey DESC, doc_id LIMIT 50""".stripMargin))

  private val q184 = Q("q184_k_anonymity",
    (s, dir) => {
      // k-anonymity / l-diversity audit (Privacy.anonymityAudit) over
      // the customer QI projection (mktsegment, nationkey) with the
      // generalized account-balance bucket as the sensitive attribute —
      // the release gate that runs before structured metadata ships
      // with a corpus. One map-combined groupBy; the exact distinct
      // rides the same key's two-phase expand.
      Privacy.anonymityAudit(t(s, dir, "customer"),
          Seq("c_mktsegment", "c_nationkey"),
          floor(col("c_acctbal") / 100), k = 15, l = 15)
        .orderBy(col("c_mktsegment"), col("c_nationkey"))
    },
    Some("""SELECT c_mktsegment, c_nationkey,
      |  CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(COUNT(DISTINCT CAST(FLOOR(c_acctbal / 100) AS BIGINT))
      |    AS BIGINT) AS n_sensitive,
      |  COUNT(*) >= 15 AS k_anonymous,
      |  COUNT(DISTINCT CAST(FLOOR(c_acctbal / 100) AS BIGINT)) >= 15
      |    AS l_diverse
      |FROM customer GROUP BY c_mktsegment, c_nationkey
      |ORDER BY c_mktsegment, c_nationkey""".stripMargin))

  private val q185 = Q("q185_neyman_allocation",
    (s, dir) => {
      // Neyman optimal allocation (Sampling.neymanAllocation): split a
      // 10k-doc audit budget across sources ∝ N_h·σ_h of doc length —
      // the survey-sampling step that decides how much of each source a
      // fixed quality-probe budget inspects. One map-combined corpus
      // aggregate; sqrt of an exact DECIMAL(38,0) integer, back to ppm
      // integers before the floor division, so allocation is
      // bit-deterministic.
      Sampling.neymanAllocation(t(s, dir, "documents"),
          "source", "n_chars", budget = 10000L)
        .orderBy(col("source"))
    },
    Some("""WITH s AS (
      |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_rows,
      |    SUM(CAST(n_chars AS HUGEINT)) AS s1,
      |    SUM(CAST(n_chars AS HUGEINT) * n_chars) AS s2
      |  FROM documents WHERE n_chars IS NOT NULL GROUP BY source
      |), w AS (
      |  SELECT source, n_rows,
      |    CAST(ROUND(sqrt(CAST(CAST(
      |      CAST(n_rows AS HUGEINT) * s2 - s1 * s1
      |    AS VARCHAR) AS DOUBLE)) * 1000000, 0) AS HUGEINT) AS w_ppm
      |  FROM s
      |), tot AS (SELECT SUM(w_ppm) AS tw FROM w)
      |SELECT source, n_rows,
      |  CAST(CAST(w_ppm // n_rows AS BIGINT) AS DOUBLE) / 1000000
      |    AS sigma,
      |  CASE WHEN tot.tw = 0 THEN CAST(0 AS BIGINT)
      |    ELSE CAST(CAST(10000 AS HUGEINT) * w_ppm // tot.tw AS BIGINT)
      |  END AS alloc
      |FROM w CROSS JOIN tot ORDER BY source""".stripMargin))

  private val q186 = Q("q186_containment_join",
    (s, dir) => {
      // Directed CONTAINMENT similarity join
      // (Fuzzy.containmentSelfJoin): corpus docs holding ≥ 80 % of a
      // query doc's unigram vocabulary — the excerpt/subset-duplication
      // detector symmetric Jaccard (q36/q121) is blind to. Candidates
      // from the query side's rarity prefix against FLAT corpus
      // postings (no corpus carve), exact array_intersect verify;
      // output provably equals the all-pairs oracle below.
      val docs = t(s, dir, "documents")
      val sets = docs.select(col("doc_id"),
        TF.shinglesFast(col("text"), 1).as("st"))
      Fuzzy.containmentSelfJoin(sets, "doc_id", "st", 0.8,
          col("doc_id") % 100 === 0)
        .select(col("id_a"), col("id_b"),
          round(col("containment"), 6).as("containment"))
        .orderBy(col("id_a"), col("id_b"))
    },
    Some("""SELECT id_a, id_b, ROUND(c, 6) AS containment FROM (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |    CAST(len(list_intersect(a.st, b.st)) AS DOUBLE) /
      |      CAST(len(a.st) AS DOUBLE) AS c
      |  FROM (SELECT doc_id, list_distinct(list_filter(
      |      string_split_regex(lower(text), '\s+'), t -> t <> '')) AS st
      |    FROM documents WHERE doc_id % 100 = 0) a
      |  JOIN (SELECT doc_id, list_distinct(list_filter(
      |      string_split_regex(lower(text), '\s+'), t -> t <> '')) AS st
      |    FROM documents) b
      |  ON a.doc_id <> b.doc_id
      |  WHERE len(a.st) > 0)
      |WHERE c >= 0.8 ORDER BY id_a, id_b""".stripMargin))

  private val q187 = Q("q187_curriculum_order",
    (s, dir) => {
      // Curriculum schedule (Selection.curriculumSchedule): 10
      // equal-frequency-up-to-ties difficulty tiers over n_chars
      // (ascending = easy first), deterministic hash shuffle within
      // tier, tiers interleaved so every schedule window mixes
      // difficulties. Tier assignment from the value-level CDF frame —
      // no global row-number pass. First 200 positions.
      Selection.curriculumSchedule(t(s, dir, "documents"),
          "doc_id", "n_chars", nBuckets = 10, seed = "q187")
        .orderBy(col("position"))
        .limit(200)
    },
    Some("""WITH rows_ AS (
      |  SELECT doc_id, n_chars FROM documents
      |  WHERE doc_id IS NOT NULL AND n_chars IS NOT NULL
      |), cdf AS (
      |  SELECT n_chars, COUNT(*) AS c FROM rows_ GROUP BY n_chars
      |), cdf2 AS (
      |  SELECT n_chars, SUM(c) OVER (ORDER BY n_chars) AS cum,
      |    SUM(c) OVER () AS n
      |  FROM cdf
      |), tiers AS (
      |  SELECT n_chars,
      |    CAST((CAST(cum AS HUGEINT) * 10 + n - 1) // n AS INT) AS tier
      |  FROM cdf2
      |), keyed AS (
      |  SELECT r.doc_id, r.n_chars, t.tier,
      |    ('0x' || substr(md5('q187' || CAST(r.doc_id AS VARCHAR)),
      |      1, 15))::BIGINT AS shuf
      |  FROM rows_ r JOIN tiers t USING (n_chars)
      |)
      |SELECT doc_id, n_chars, tier,
      |  CAST((ROW_NUMBER() OVER (PARTITION BY tier ORDER BY shuf, doc_id)
      |    - 1) * 10 + (tier - 1) AS BIGINT) AS position
      |FROM keyed ORDER BY position LIMIT 200""".stripMargin))

  private val q188 = Q("q188_concentration",
    (s, dir) => {
      // Corpus concentration report (Datasheet.concentration): exact
      // Gini of the doc-length distribution + top-1 % share from the
      // VALUE-LEVEL frame (no corpus sort — the rank-sum folds per
      // value, tie-order invariant), HHI of source shares; all
      // fractions floor-ppm integers.
      graft.operators.Datasheet.concentration(
        t(s, dir, "documents"), "n_chars", "source")
    },
    Some("""WITH vals AS (
      |  SELECT CAST(n_chars AS BIGINT) AS v, COUNT(*) AS c
      |  FROM documents WHERE n_chars IS NOT NULL GROUP BY 1
      |), ann AS (
      |  SELECT v, c, SUM(c) OVER (ORDER BY v) AS cum, SUM(c) OVER () AS n
      |  FROM vals
      |), sz AS (
      |  SELECT MAX(n) AS n_docs,
      |    SUM(CAST(v AS HUGEINT) * c) AS s,
      |    SUM(CAST(v AS HUGEINT) * (CAST(c AS HUGEINT) * (cum - c)
      |      + CAST(c AS HUGEINT) * (c + 1) // 2)) AS s1,
      |    SUM(CAST(v AS HUGEINT) * GREATEST(0, LEAST(c,
      |      (n + 99) // 100 - (n - cum)))) AS top
      |  FROM ann
      |), src AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n_sources,
      |    SUM(ns) AS nt, SUM(CAST(ns AS HUGEINT) * ns) AS sq
      |  FROM (SELECT COUNT(*) AS ns FROM documents GROUP BY source)
      |)
      |SELECT CAST(n_docs AS BIGINT) AS n_docs,
      |  CAST(s AS BIGINT) AS total_size,
      |  -- s = 0 guard mirrors the Spark side (Datasheet.concentration
      |  -- nulls gini/top-share on an all-zero-size corpus) so parity
      |  -- doesn't depend on fixture shape
      |  CASE WHEN s = 0 THEN NULL ELSE
      |    CAST((2 * s1 - (CAST(n_docs AS HUGEINT) + 1) * s) * 1000000
      |      // (CAST(n_docs AS HUGEINT) * s) AS BIGINT) END AS gini_ppm,
      |  CASE WHEN s = 0 THEN NULL ELSE
      |    CAST(top * 1000000 // s AS BIGINT) END AS top1pct_share_ppm,
      |  CAST(sq * 1000000 // (CAST(nt AS HUGEINT) * nt) AS BIGINT)
      |    AS hhi_source_ppm,
      |  n_sources
      |FROM sz CROSS JOIN src""".stripMargin))

  private val q189 = Q("q189_cross_source_dups",
    (s, dir) => {
      // Cross-source duplication matrix (Dedup.crossSourceDupMatrix):
      // distinct texts shared between each source pair (diagonal =
      // within-source dup texts) — the contamination VIEW behind
      // q156's per-source dup rate. Identity here is the VOCABULARY
      // fingerprint (sorted distinct tokens — the J=1.0 point of the
      // q36/q121 set family); pair fan-out bounded by |sources|² per
      // distinct text, never copies².
      Dedup.crossSourceDupMatrix(t(s, dir, "documents"), "source",
          Dedup.vocabFingerprint(col("text")))
        .orderBy(col("source_a"), col("source_b"))
    },
    Some("""WITH cells AS (
      |  -- null text -> '' (matches the Spark side's coalesce AFTER
      |  -- md5); empty token list -> md5('') (DuckDB's string_agg of an
      |  -- empty list is NULL where Spark's array_join gives '')
      |  SELECT CASE WHEN text IS NULL THEN ''
      |    ELSE md5(COALESCE(list_aggregate(list_sort(list_distinct(
      |      list_filter(string_split_regex(lower(text), '\s+'),
      |        t -> t <> ''))), 'string_agg', ' '), '')) END AS h,
      |    COALESCE(source, '<null>') AS src, COUNT(*) AS c
      |  FROM documents GROUP BY 1, 2
      |)
      |SELECT a.src AS source_a, b.src AS source_b,
      |  CAST(COUNT(*) AS BIGINT) AS n_texts
      |FROM cells a JOIN cells b ON a.h = b.h
      |WHERE a.src < b.src OR (a.src = b.src AND a.c >= 2)
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin))

  private val q190 = Q("q190_suppress_to_k",
    (s, dir) => {
      // Suppress-to-k release (Privacy.suppressToK): the rows that
      // actually ship under the q184 audit's k — QI groups below 15
      // members dropped, null QI grouped null-safely like the audit.
      Privacy.suppressToK(t(s, dir, "customer"),
          Seq("c_mktsegment", "c_nationkey"), k = 15)
        .orderBy(col("c_custkey"))
    },
    Some("""SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
      |FROM (
      |  SELECT *, COUNT(*) OVER (
      |    PARTITION BY c_mktsegment, c_nationkey) AS n
      |  FROM customer)
      |WHERE n >= 15 ORDER BY c_custkey""".stripMargin))

  private val q191 = Q("q191_anonymity_gate",
    (s, dir) => {
      // The 100 TB form of q184: l-diversity via the CAPPED distinct
      // aggregate (functions.DistinctUpTo — ≤ l longs of state per
      // group, no two-phase distinct expand; also the only form a
      // streaming window can run, see EventStreams
      // .windowedAnonymityAudit). Flags identical to the exact audit;
      // n_sensitive saturates at l = 10 by contract — the oracle's
      // LEAST replays the saturation.
      Privacy.anonymityAuditCapped(t(s, dir, "customer"),
          Seq("c_mktsegment", "c_nationkey"),
          floor(col("c_acctbal") / 100), k = 15, l = 10)
        .orderBy(col("c_mktsegment"), col("c_nationkey"))
    },
    Some("""SELECT c_mktsegment, c_nationkey,
      |  CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(LEAST(COUNT(DISTINCT CAST(FLOOR(c_acctbal / 100) AS BIGINT)),
      |    10) AS BIGINT) AS n_sensitive,
      |  COUNT(*) >= 15 AS k_anonymous,
      |  COUNT(DISTINCT CAST(FLOOR(c_acctbal / 100) AS BIGINT)) >= 10
      |    AS l_diverse
      |FROM customer GROUP BY c_mktsegment, c_nationkey
      |ORDER BY c_mktsegment, c_nationkey""".stripMargin))

  private val q192 = Q("q192_entity_resolution",
    (s, dir) => {
      // END-TO-END entity resolution over the part catalog: exact
      // name-set similarity join (Fuzzy.jaccardSelfJoin — complete,
      // never all-pairs in the PLAN) → transitive clusters
      // (Dedup.connectedComponents, min-label) → singletons folded in
      // (a part with no partner is its own entity) → one canonical
      // record per entity with deterministic survivorship: the
      // canonical member IS the min-id label (its name joins back by
      // key — no min(string) aggregate, which would demote the
      // HashAggregate to a sort), price range as exact decimals. The
      // oracle replays match→closure→survivorship independently, so
      // the composite — not just its pieces — is value-verified.
      val parts = t(s, dir, "part")
      val sets = parts.select(col("p_partkey").as("id"),
        TF.shinglesFast(col("p_name"), 1).as("st"))
      // EXACT-FIRST blocking (the standard ER recipe): identical token
      // sets collapse to one representative (min id per fingerprint)
      // BEFORE the fuzzy match, so an n-member exact-dup clique costs
      // ONE node instead of n²/2 match pairs — answer-identical because
      // members of a fingerprint group have the same Jaccard to
      // everything, and min-label over representatives equals min-label
      // over members (each group's min id IS its representative).
      // Receipt: warm sf0.1 wall dropped 4.9 → 2.5 s (3.1M clique pairs
      // never materialize; the residue is fixed stage overhead of the
      // match chain + CC rounds on a 64-node rep graph, not data).
      // degenerate (null/empty) sets never match anything, so they must
      // NOT collapse — each keeps a unique per-id fingerprint and stays
      // its own singleton entity, exactly as the all-pairs answer has it
      val withFp = sets.withColumn("__fp",
        when(size(col("st")) > 0,
          md5(array_join(array_sort(col("st")), " ")))
          .otherwise(concat(lit("__u"), col("id").cast("string"))))
      val reps = withFp.groupBy(col("__fp")).agg(min(col("id")).as("rid"))
      val repSets = reps.join(sets, reps("rid") === sets("id"))
        .select(col("id"), col("st"))
      val pairs = Fuzzy.jaccardSelfJoin(repSets, "id", "st",
          threshold = 0.8, leftPred = lit(true))
        .filter(col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"))
      val cc = Dedup.connectedComponents(pairs)
      val memberRep = withFp.join(reps, Seq("__fp"))
        .select(col("id").as("p_partkey"), col("rid"))
      val labeled = parts
        .join(memberRep, Seq("p_partkey"))
        .join(cc, memberRep("rid") === cc("id"), "left")
        .withColumn("entity_id", coalesce(col("component"), col("rid")))
      labeled.groupBy(col("entity_id"))
        .agg(count(lit(1)).as("n_members"),
          min(col("p_retailprice").cast("decimal(12,2)")).as("__min_p"),
          max(col("p_retailprice").cast("decimal(12,2)")).as("__max_p"))
        .join(parts.select(col("p_partkey").as("entity_id"),
          col("p_name").as("canonical_name")), Seq("entity_id"))
        .select(col("entity_id"), col("n_members"), col("canonical_name"),
          col("__min_p").cast("double").as("min_price"),
          col("__max_p").cast("double").as("max_price"))
        .orderBy(col("entity_id"))
    },
    Some("""WITH RECURSIVE sets AS (
      |  SELECT p_partkey AS id, list_distinct(list_filter(
      |    string_split_regex(lower(p_name), '\s+'), t -> t <> '')) AS st
      |  FROM part
      |), pairs AS (
      |  SELECT a.id AS id_a, b.id AS id_b
      |  FROM sets a JOIN sets b ON a.id < b.id
      |  WHERE CAST(len(list_intersect(a.st, b.st)) AS DOUBLE) /
      |    CAST(len(list_distinct(list_concat(a.st, b.st))) AS DOUBLE)
      |    >= 0.8
      |), sym AS (
      |  SELECT id_a AS a, id_b AS b FROM pairs
      |  UNION SELECT id_b, id_a FROM pairs
      |  UNION SELECT id_a, id_a FROM pairs
      |  UNION SELECT id_b, id_b FROM pairs
      |), reach(a, b) AS (
      |  SELECT a, b FROM sym
      |  UNION
      |  SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a
      |), labels AS (
      |  SELECT a AS id, MIN(b) AS component FROM reach GROUP BY a
      |), ent AS (
      |  SELECT COALESCE(l.component, p.p_partkey) AS entity_id,
      |    CAST(COUNT(*) AS BIGINT) AS n_members,
      |    MIN(CAST(p.p_retailprice AS DECIMAL(12,2))) AS min_p,
      |    MAX(CAST(p.p_retailprice AS DECIMAL(12,2))) AS max_p
      |  FROM part p LEFT JOIN labels l ON p.p_partkey = l.id
      |  GROUP BY 1
      |)
      |SELECT e.entity_id, e.n_members, p.p_name AS canonical_name,
      |  CAST(e.min_p AS DOUBLE) AS min_price,
      |  CAST(e.max_p AS DOUBLE) AS max_price
      |FROM ent e JOIN part p ON e.entity_id = p.p_partkey
      |ORDER BY e.entity_id""".stripMargin))

  private val q193 = Q("q193_temperature_mixture",
    (s, dir) => {
      // Temperature-scaled mixture (Mixing.temperatureMixture): w_s ∝
      // n_s^0.3 over per-source token volumes + effective epochs under
      // a 50k-token budget — the published multilingual upweighting
      // recipe as ONE corpus aggregate + |sources|-frame math. n^α =
      // exp(α·ln n) rides the q179 ln-quantization recipe so DuckDB
      // replays the VALUES; zero-token sources stay visible as NULLs.
      Mixing.temperatureMixture(t(s, dir, "documents"),
          "source", "text", alpha = BigDecimal("0.3"),
          budgetTokens = 50000L)
        .orderBy(col("source"))
    },
    Some("""WITH c AS (
      |  SELECT source, CAST(SUM(CAST(len(list_filter(
      |    string_split_regex(lower(text), '\s+'), x -> x <> ''))
      |    AS BIGINT)) AS BIGINT) AS n_tokens
      |  FROM documents GROUP BY source
      |), r AS (
      |  SELECT source, n_tokens,
      |    CASE WHEN n_tokens > 0 THEN
      |      CAST(exp(CAST(CAST(
      |        CAST(ln(CAST(n_tokens AS DOUBLE)) AS DECIMAL(24,10))
      |        * CAST(0.3 AS DECIMAL(6,5)) AS VARCHAR) AS DOUBLE))
      |      AS DECIMAL(24,10))
      |    END AS raised
      |  FROM c
      |), t AS (SELECT SUM(raised) AS tot FROM r)
      |, w0 AS (
      |  SELECT source, n_tokens,
      |    ROUND(CAST(CAST(raised AS VARCHAR) AS DOUBLE) /
      |      CAST(CAST(tot AS VARCHAR) AS DOUBLE), 6) AS w
      |  FROM r CROSS JOIN t
      |)
      |SELECT source, n_tokens,
      |  CAST(CAST(w AS VARCHAR) AS DOUBLE) AS weight,
      |  CAST(CAST(ROUND(
      |    CAST(CAST(CAST(w AS DECIMAL(8,6)) * 50000 AS VARCHAR) AS DOUBLE)
      |    / CAST(n_tokens AS DOUBLE), 6) AS VARCHAR) AS DOUBLE) AS epochs
      |FROM w0 ORDER BY source""".stripMargin))

  private val q194 = Q("q194_dup_spectrum",
    (s, dir) => {
      // Duplication spectrum (Dedup.duplicationSpectrum): the
      // cluster-size histogram under the vocabulary fingerprint —
      // long-tail-of-pairs vs mega-cluster shape, and exact dedup's
      // predicted savings (removable docs) per copy-count. Two
      // map-combined shuffles, the second |copy-counts| wide.
      Dedup.duplicationSpectrum(t(s, dir, "documents"),
          Dedup.vocabFingerprint(col("text")))
        .orderBy(col("copies"))
    },
    Some("""WITH f AS (
      |  SELECT CASE WHEN text IS NULL THEN ''
      |    ELSE md5(COALESCE(list_aggregate(list_sort(list_distinct(
      |      list_filter(string_split_regex(lower(text), '\s+'),
      |        t -> t <> ''))), 'string_agg', ' '), '')) END AS h
      |  FROM documents
      |), g AS (
      |  SELECT h, CAST(COUNT(*) AS BIGINT) AS copies FROM f GROUP BY h
      |)
      |SELECT copies, CAST(COUNT(*) AS BIGINT) AS n_groups,
      |  CAST(copies * COUNT(*) AS BIGINT) AS n_docs,
      |  CAST((copies - 1) * COUNT(*) AS BIGINT) AS removable
      |FROM g GROUP BY copies ORDER BY copies""".stripMargin))

  private val q195 = Q("q195_suppression_summary",
    (s, dir) => {
      // The release decision in ONE row (Privacy.suppressionSummary):
      // how much data suppress-to-k(15) costs — rows in below-k QI
      // groups and their floor-ppm share. Two map-combined aggregates
      // (QI cells, then one row).
      Privacy.suppressionSummary(t(s, dir, "customer"),
        Seq("c_mktsegment", "c_nationkey"), k = 15)
    },
    Some("""WITH g AS (
      |  SELECT COUNT(*) AS n FROM customer
      |  GROUP BY c_mktsegment, c_nationkey
      |)
      |SELECT CAST(SUM(n) AS BIGINT) AS n_rows,
      |  CAST(COUNT(*) AS BIGINT) AS n_groups,
      |  CAST(COALESCE(SUM(CASE WHEN n < 15 THEN n END), 0) AS BIGINT)
      |    AS rows_below_k,
      |  CAST(CAST(COALESCE(SUM(CASE WHEN n < 15 THEN n END), 0)
      |      AS HUGEINT) * 1000000 // CAST(SUM(n) AS HUGEINT) AS BIGINT)
      |    AS suppressed_ppm
      |FROM g""".stripMargin))

  private val all: Seq[Q] = Seq(
    q01, q02, q03, q04, q05, q06, q07, q08, q09, q10, q11, q12,
    q13, q14, q15, q16, q17, q18, q19, q20, q21, q22, q23, q24,
    q25, q26, q27, q28, q29,
    q30, q31, q32, q33, q34, q35, q36, q37, q38, q39, q40, q41, q42, q43,
    q44, q45, q46, q47, q48, q49, q50, q51, q52, q53, q54, q55, q56, q57, q58, q59, q60, q61, q62, q63, q64, q65, q66, q67, q68, q69, q70, q71, q72, q73,
    q74, q75, q76, q77, q78, q79, q80, q81, q82, q83, q84, q85, q86, q87,
    q88, q89, q90, q91, q92, q93, q94, q95, q96, q97, q98, q99,
    q100, q101, q102, q103, q104, q105, q106, q107, q108, q109, q110,
    q111, q112, q113, q114, q115, q116, q117, q118, q119, q120, q121,
    q122, q123, q124, q125, q126, q127, q128, q129, q130, q131, q132,
    q133, q134, q135, q136, q137, q138, q139, q140, q141, q142, q143,
    q144, q145, q146, q147, q148, q149, q150, q151, q152, q153, q154,
    q155, q156, q157, q158, q159, q160, q161, q162, q163, q164, q165,
    q166, q167, q168, q169, q170, q171, q172, q173, q174, q175, q176, q177,
    q178, q179, q180, q181, q182, q183, q184, q185, q186, q187, q188,
    q189, q190, q191, q192, q193, q194, q195)

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q22_star_join")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    ListMap(all.map(q => q.name -> q.fn): _*)

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops
    * (xxhash64-based sketches, LSH candidate generation). */
  def oracleSql: Map[String, String] =
    ListMap(all.flatMap(q => q.oracle.map(q.name -> _)): _*)
}
