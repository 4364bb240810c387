package graft.queries

import org.apache.spark.sql.functions._

import graft.{GraftQuery, QueryPack, Tables}
import graft.functions.Exact
import graft.functions.Exact._

/** SURVEY.md §2.2 (continued) — relational completeness: CUBE grouping
  * sets, set operations, scalar string/date function batteries (every
  * function oracle-checked for cross-engine semantics, not just
  * existence).
  */
object Relational2 extends QueryPack {

  /** CUBE over (returnflag, linestatus) with GROUPING markers — the
    * full grouping-sets lattice in one pass (partial aggregation
    * applies; the lattice expansion happens after the map-side combine). */
  val q16 = GraftQuery(
    "q16_cube",
    Some("""
      SELECT COALESCE(l_returnflag, '<all>') AS flag, COALESCE(l_linestatus, '<all>') AS status,
        CAST(GROUPING(l_returnflag) AS BIGINT) AS g_flag, CAST(GROUPING(l_linestatus) AS BIGINT) AS g_status,
        CAST(COUNT(*) AS BIGINT) AS n,
        CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty
      FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
      ORDER BY g_flag, g_status, flag, status""".stripMargin.trim)) { (spark, dir) =>
    Tables.lineitem(spark, dir)
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(
        grouping(col("l_returnflag")).cast("long").as("g_flag"),
        grouping(col("l_linestatus")).cast("long").as("g_status"),
        count(lit(1)).as("n"),
        exactSum(col("l_quantity")).as("sum_qty"))
      .select(
        coalesce(col("l_returnflag"), lit("<all>")).as("flag"),
        coalesce(col("l_linestatus"), lit("<all>")).as("status"),
        col("g_flag"), col("g_status"), col("n"), col("sum_qty"))
      .orderBy("g_flag", "g_status", "flag", "status")
  }

  /** INTERSECT / EXCEPT set operations (distinct semantics). */
  val q17 = GraftQuery(
    "q17_setops",
    Some("""
      WITH big AS (SELECT DISTINCT o_custkey AS k FROM orders WHERE o_totalprice > 400000),
      urgent AS (SELECT DISTINCT o_custkey AS k FROM orders WHERE o_orderpriority = '1-URGENT')
      SELECT 'both' AS which, k FROM (SELECT k FROM big INTERSECT SELECT k FROM urgent)
      UNION ALL
      SELECT 'big_only', k FROM (SELECT k FROM big EXCEPT SELECT k FROM urgent)
      ORDER BY which, k""".stripMargin.trim)) { (spark, dir) =>
    val o = Tables.orders(spark, dir)
    val big = o.filter(col("o_totalprice") > 400000)
      .select(col("o_custkey").as("k")).distinct()
    val urgent = o.filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_custkey").as("k")).distinct()
    big.intersect(urgent).select(lit("both").as("which"), col("k"))
      .unionByName(big.except(urgent).select(lit("big_only").as("which"), col("k")))
      .orderBy("which", "k")
  }

  /** Scalar string-function battery: each function's semantics (1-based
    * positions, padding, empty-match behavior) must agree with the
    * oracle engine, not merely exist. */
  val q18 = GraftQuery(
    "q18_string_funcs",
    Some("""
      SELECT c_custkey,
        upper(c_name) AS u, lower(c_mktsegment) AS l,
        substr(c_name, 1, 8) AS pre,
        replace(c_name, 'Customer', 'C') AS repl,
        lpad(CAST(c_custkey AS VARCHAR), 8, '0') AS padded,
        concat_ws('|', c_mktsegment, CAST(c_nationkey AS VARCHAR)) AS joined,
        CAST(length(c_name) AS BIGINT) AS len,
        CAST(strpos(c_name, '1') AS BIGINT) AS pos1
      FROM customer ORDER BY c_custkey LIMIT 500""".stripMargin.trim)) { (spark, dir) =>
    Tables.customer(spark, dir).select(
        col("c_custkey"),
        upper(col("c_name")).as("u"),
        lower(col("c_mktsegment")).as("l"),
        substring(col("c_name"), 1, 8).as("pre"),
        regexp_replace(col("c_name"), "Customer", "C").as("repl"),
        lpad(col("c_custkey").cast("string"), 8, "0").as("padded"),
        concat_ws("|", col("c_mktsegment"), col("c_nationkey").cast("string")).as("joined"),
        length(col("c_name")).cast("long").as("len"),
        instr(col("c_name"), "1").cast("long").as("pos1"))
      .orderBy("c_custkey").limit(500)
  }

  /** Date/time battery: extraction, truncation, day arithmetic,
    * formatting — identical calendar semantics across engines. */
  val q19 = GraftQuery(
    "q19_date_funcs",
    Some("""
      SELECT o_orderkey,
        CAST(year(o_orderdate) AS BIGINT) AS y,
        CAST(month(o_orderdate) AS BIGINT) AS m,
        CAST(dayofmonth(o_orderdate) AS BIGINT) AS d,
        CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month_start,
        CAST(date_diff('day', CAST('1995-01-01' AS DATE), CAST(o_orderdate AS DATE)) AS BIGINT) AS days_since,
        strftime(o_orderdate, '%Y-%m') AS ym
      FROM orders ORDER BY o_orderkey LIMIT 1000""".stripMargin.trim)) { (spark, dir) =>
    Tables.orders(spark, dir).select(
        col("o_orderkey"),
        year(col("o_orderdate")).cast("long").as("y"),
        month(col("o_orderdate")).cast("long").as("m"),
        dayofmonth(col("o_orderdate")).cast("long").as("d"),
        date_trunc("month", col("o_orderdate")).as("month_start"),
        datediff(col("o_orderdate").cast("date"), lit("1995-01-01").cast("date"))
          .cast("long").as("days_since"),
        date_format(col("o_orderdate"), "yyyy-MM").as("ym"))
      .orderBy("o_orderkey").limit(1000)
  }

  /** SCD-type-2 interval construction: an append-only change log becomes
    * validity intervals via `lead()` — valid_to of a row is the next
    * change's timestamp, open-ended (is_current) for the latest. One
    * window, one shuffle on the entity key. */
  val q20 = GraftQuery(
    "q20_scd2",
    Some("""
      SELECT user_id, event_id, event_type AS state, ts AS valid_from,
        LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to,
        CAST(CASE WHEN LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL THEN 1 ELSE 0 END AS BIGINT) AS is_current
      FROM events
      ORDER BY user_id, event_id LIMIT 5000""".stripMargin.trim)) { (spark, dir) =>
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    Tables.events(spark, dir).select(
        col("user_id"), col("event_id"), col("event_type").as("state"),
        col("ts").as("valid_from"),
        lead(col("ts"), 1).over(w).as("valid_to"),
        when(lead(col("ts"), 1).over(w).isNull, 1L).otherwise(0L).as("is_current"))
      .orderBy("user_id", "event_id").limit(5000)
  }

  /** Fixed-width histogram by pure arithmetic binning (identical formula
    * both engines — no built-in width_bucket dependency). */
  val q21 = GraftQuery(
    "q21_histogram",
    Some("""
      SELECT CAST(least(floor(l_extendedprice / 10000), 10) AS BIGINT) AS bucket,
        CAST(COUNT(*) AS BIGINT) AS n,
        CAST(MIN(l_extendedprice) AS DOUBLE) AS lo,
        CAST(MAX(l_extendedprice) AS DOUBLE) AS hi
      FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin.trim)) { (spark, dir) =>
    Tables.lineitem(spark, dir)
      .groupBy(least(floor(col("l_extendedprice") / 10000), lit(10))
        .cast("long").as("bucket"))
      .agg(count(lit(1)).as("n"),
        min(col("l_extendedprice")).cast("double").as("lo"),
        max(col("l_extendedprice")).cast("double").as("hi"))
      .orderBy("bucket")
  }

  /** Ranking-function battery: rank / dense_rank / ntile / percent_rank
    * / cume_dist over one shared window (a single sort serves all five). */
  val q22 = GraftQuery(
    "q22_rank_battery",
    Some("""
      SELECT o_custkey, o_orderkey,
        CAST(RANK() OVER w AS BIGINT) AS rnk,
        CAST(DENSE_RANK() OVER w AS BIGINT) AS drnk,
        CAST(NTILE(4) OVER w AS BIGINT) AS quartile,
        ROUND(CAST(PERCENT_RANK() OVER w AS DOUBLE), 6) AS prank,
        ROUND(CAST(CUME_DIST() OVER w AS DOUBLE), 6) AS cdist
      FROM orders
      WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)
      ORDER BY o_custkey, o_orderkey LIMIT 5000""".stripMargin.trim)) { (spark, dir) =>
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("o_custkey").orderBy(col("o_totalprice").desc, col("o_orderkey"))
    Tables.orders(spark, dir).select(
        col("o_custkey"), col("o_orderkey"),
        rank().over(w).cast("long").as("rnk"),
        dense_rank().over(w).cast("long").as("drnk"),
        ntile(4).over(w).cast("long").as("quartile"),
        Exact.round(percent_rank().over(w).cast("double"), 6).as("prank"),
        Exact.round(cume_dist().over(w).cast("double"), 6).as("cdist"))
      .orderBy("o_custkey", "o_orderkey").limit(5000)
  }

  /** Bivariate statistics (covariance, correlation, stddev) computed
    * from exact decimal moment sums — both engines evaluate the same
    * closed-form formula on the same exact inputs, where their built-in
    * streaming corr/covar implementations would disagree in low bits. */
  val q23 = GraftQuery(
    "q23_stats_battery",
    Some("""
      WITH s AS (SELECT
        CAST(COUNT(*) AS BIGINT) AS n,
        CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sx,
        CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS sy,
        CAST(SUM(CAST(l_quantity AS DECIMAL(30,6)) * CAST(l_quantity AS DECIMAL(30,6))) AS DOUBLE) AS sxx,
        CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,6)) * CAST(l_extendedprice AS DECIMAL(30,6))) AS DOUBLE) AS syy,
        CAST(SUM(CAST(l_quantity AS DECIMAL(30,6)) * CAST(l_extendedprice AS DECIMAL(30,6))) AS DOUBLE) AS sxy
       FROM lineitem)
      SELECT n,
        ROUND((sxy - sx*sy/n) / (n-1), 6) AS covar_samp,
        ROUND((sxy - sx*sy/n) / (sqrt(sxx - sx*sx/n) * sqrt(syy - sy*sy/n)), 6) AS corr,
        ROUND(sqrt((sxx - sx*sx/n) / (n-1)), 6) AS std_qty
      FROM s""".stripMargin.trim)) { (spark, dir) =>
    import org.apache.spark.sql.types.{DecimalType, DoubleType}
    def d30(c: String) = col(c).cast(DecimalType(30, 6))
    val s = Tables.lineitem(spark, dir).agg(
      count(lit(1)).as("n"),
      sum(dec(col("l_quantity"))).cast(DoubleType).as("sx"),
      sum(dec(col("l_extendedprice"))).cast(DoubleType).as("sy"),
      sum(d30("l_quantity") * d30("l_quantity")).cast(DoubleType).as("sxx"),
      sum(d30("l_extendedprice") * d30("l_extendedprice")).cast(DoubleType).as("syy"),
      sum(d30("l_quantity") * d30("l_extendedprice")).cast(DoubleType).as("sxy"))
    s.select(col("n"),
      Exact.round((col("sxy") - col("sx") * col("sy") / col("n")) / (col("n") - 1), 6)
        .as("covar_samp"),
      Exact.round((col("sxy") - col("sx") * col("sy") / col("n")) /
        (sqrt(col("sxx") - col("sx") * col("sx") / col("n")) *
         sqrt(col("syy") - col("sy") * col("sy") / col("n"))), 6).as("corr"),
      Exact.round(sqrt((col("sxx") - col("sx") * col("sx") / col("n")) / (col("n") - 1)), 6)
        .as("std_qty"))
  }

  override def all: Seq[GraftQuery] = Seq(q16, q17, q18, q19, q20, q21, q22, q23)
}
