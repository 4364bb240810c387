package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{GraftQuery, QueryPack, Tables}
import graft.functions.Exact
import graft.functions.Exact._

/** SURVEY.md §2.2 (third slice) — relational completeness, continued:
  * explicit GROUPING SETS, array/regex/conditional scalar batteries,
  * correlated subqueries (decorrelated by Catalyst from literal SQL),
  * window-frame battery, and exact discrete percentile + mode.
  *
  * Same discipline as [[Relational2]]: every function's SEMANTICS are
  * oracle-checked (1-based positions, absent-element returns, frame
  * boundaries), not just its existence.
  */
object Relational3 extends QueryPack {

  /** Explicit GROUPING SETS — the general lattice (cube/rollup are the
    * special cases q16/q09 already cover). One pass, partial aggregation
    * before the lattice expansion. */
  val q24 = GraftQuery(
    "q24_grouping_sets",
    Some("""
      SELECT COALESCE(o_orderpriority, '<all>') AS priority,
        COALESCE(o_orderstatus, '<all>') AS status,
        CAST(GROUPING(o_orderpriority) AS BIGINT) AS g_prio,
        CAST(GROUPING(o_orderstatus) AS BIGINT) AS g_status,
        CAST(COUNT(*) AS BIGINT) AS n,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS sum_price
      FROM orders
      GROUP BY GROUPING SETS ((o_orderpriority, o_orderstatus), (o_orderpriority), ())
      ORDER BY g_prio, g_status, priority, status""".stripMargin.trim)) { (spark, dir) =>
    Tables.orders(spark, dir)
      .groupingSets(
        Seq(Seq(col("o_orderpriority"), col("o_orderstatus")),
          Seq(col("o_orderpriority")), Seq()),
        col("o_orderpriority"), col("o_orderstatus"))
      .agg(
        grouping(col("o_orderpriority")).cast("long").as("g_prio"),
        grouping(col("o_orderstatus")).cast("long").as("g_status"),
        count(lit(1)).as("n"),
        exactSum(col("o_totalprice")).as("sum_price"))
      .select(
        coalesce(col("o_orderpriority"), lit("<all>")).as("priority"),
        coalesce(col("o_orderstatus"), lit("<all>")).as("status"),
        col("g_prio"), col("g_status"), col("n"), col("sum_price"))
      .orderBy("g_prio", "g_status", "priority", "status")
  }

  /** Array-function battery over tokenized documents. Cross-engine trap
    * checked here: absent-element position (Spark `array_position` → 0,
    * DuckDB `list_position` → NULL, aligned via COALESCE). Array-valued
    * results surface through canonical scalar forms (joined strings). */
  val q25 = GraftQuery(
    "q25_array_funcs",
    Some("""
      WITH t AS (SELECT doc_id, string_split_regex(text, '\s+') AS tk FROM documents)
      SELECT doc_id,
        CAST(len(tk) AS BIGINT) AS n_tok,
        CAST(len(list_distinct(tk)) AS BIGINT) AS n_uniq,
        CAST(COALESCE(list_position(tk, 'the'), 0) AS BIGINT) AS pos_the,
        CAST(list_contains(tk, 'and') AS BIGINT) AS has_and,
        CAST(list_has_any(tk, ['the', 'a', 'of']) AS BIGINT) AS has_stop,
        list_sort(list_distinct(tk))[1] AS first_tok,
        array_to_string(list_slice(list_sort(list_distinct(tk)), 1, 3), ',') AS first3
      FROM t ORDER BY doc_id""".stripMargin.trim)) { (spark, dir) =>
    val tk = graft.functions.Hashing.tokens(col("text"))
    Tables.documents(spark, dir).select(
        col("doc_id"),
        size(tk).cast("long").as("n_tok"),
        size(array_distinct(tk)).cast("long").as("n_uniq"),
        array_position(tk, "the").cast("long").as("pos_the"),
        array_contains(tk, "and").cast("long").as("has_and"),
        arrays_overlap(tk, array(lit("the"), lit("a"), lit("of")))
          .cast("long").as("has_stop"),
        element_at(array_sort(array_distinct(tk)), 1).as("first_tok"),
        concat_ws(",", slice(array_sort(array_distinct(tk)), 1, 3)).as("first3"))
      .orderBy("doc_id")
  }

  /** Regex battery: group extraction, match counting, boolean match,
    * normalization, 1-based field splitting — all with oracle-checked
    * no-match behavior (both engines return '' from extract). */
  val q26 = GraftQuery(
    "q26_regex_funcs",
    Some("""
      SELECT doc_id,
        regexp_extract(text, '([A-Za-z]+) ([A-Za-z]+)', 2) AS second_word,
        CAST(len(regexp_extract_all(text, '[0-9]+')) AS BIGINT) AS n_numbers,
        CAST(regexp_matches(text, '[.!?]$') AS BIGINT) AS ends_sentence,
        CAST(len(regexp_replace(text, '\s+', ' ', 'g')) AS BIGINT) AS norm_len,
        split_part(text, ' ', 3) AS third_field
      FROM documents ORDER BY doc_id""".stripMargin.trim)) { (spark, dir) =>
    Tables.documents(spark, dir).select(
        col("doc_id"),
        regexp_extract(col("text"), "([A-Za-z]+) ([A-Za-z]+)", 2).as("second_word"),
        regexp_count(col("text"), lit("[0-9]+")).cast("long").as("n_numbers"),
        col("text").rlike("[.!?]$").cast("long").as("ends_sentence"),
        length(regexp_replace(col("text"), "\\s+", " ")).cast("long").as("norm_len"),
        split_part(col("text"), lit(" "), lit(3)).as("third_field"))
      .orderBy("doc_id")
  }

  /** Conditional / null-handling battery: COALESCE, NULLIF, CASE chains,
    * greatest/least, and null-safe equality — on a projection that
    * manufactures NULLs via NULLIF so the null paths actually execute. */
  val q27 = GraftQuery(
    "q27_conditional",
    Some("""
      WITH s AS (SELECT o_orderkey, o_orderstatus, o_totalprice,
          NULLIF(o_orderstatus, 'O') AS maybe_status,
          NULLIF(o_orderpriority, '1-URGENT') AS maybe_prio
        FROM orders)
      SELECT o_orderkey,
        COALESCE(maybe_status, 'open') AS status_or_open,
        CAST(maybe_prio IS NULL AS BIGINT) AS prio_was_urgent,
        CASE WHEN o_totalprice > 300000 THEN 'large'
             WHEN o_totalprice > 100000 THEN 'medium'
             ELSE 'small' END AS size_band,
        CAST(greatest(o_totalprice, 150000.0) AS DOUBLE) AS floor150k,
        CAST(least(o_totalprice, 150000.0) AS DOUBLE) AS cap150k,
        CAST((maybe_status IS NOT DISTINCT FROM 'F') AS BIGINT) AS is_f_nullsafe
      FROM s ORDER BY o_orderkey LIMIT 2000""".stripMargin.trim)) { (spark, dir) =>
    val s = Tables.orders(spark, dir).select(
      col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"),
      nullif(col("o_orderstatus"), lit("O")).as("maybe_status"),
      nullif(col("o_orderpriority"), lit("1-URGENT")).as("maybe_prio"))
    s.select(
        col("o_orderkey"),
        coalesce(col("maybe_status"), lit("open")).as("status_or_open"),
        col("maybe_prio").isNull.cast("long").as("prio_was_urgent"),
        when(col("o_totalprice") > 300000, "large")
          .when(col("o_totalprice") > 100000, "medium")
          .otherwise("small").as("size_band"),
        greatest(col("o_totalprice"), lit(150000.0)).cast("double").as("floor150k"),
        least(col("o_totalprice"), lit(150000.0)).cast("double").as("cap150k"),
        (col("maybe_status") <=> "F").cast("long").as("is_f_nullsafe"))
      .orderBy("o_orderkey").limit(2000)
  }

  /** Correlated subqueries, run as LITERAL SQL through Catalyst: a
    * correlated scalar subquery (per-order heavy-lineitem count) and a
    * correlated EXISTS — the optimizer decorrelates both into joins
    * (RewriteCorrelatedScalarSubquery / RewritePredicateSubquery), which
    * is exactly how the shape survives 100 TB: no per-row re-execution. */
  val q28 = GraftQuery(
    "q28_correlated_subquery",
    Some("""
      SELECT o_orderkey,
        (SELECT COUNT(*) FROM lineitem l
          WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity > 45) AS n_heavy,
        CAST(EXISTS (SELECT 1 FROM lineitem l
          WHERE l.l_orderkey = o.o_orderkey AND l.l_discount > 0.09) AS BIGINT) AS has_discounted
      FROM orders o ORDER BY o_orderkey LIMIT 2000""".stripMargin.trim)) { (spark, dir) =>
    Tables.orders(spark, dir).createOrReplaceTempView("orders")
    Tables.lineitem(spark, dir).createOrReplaceTempView("lineitem")
    spark.sql("""
      SELECT o_orderkey,
        (SELECT COUNT(*) FROM lineitem l
          WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity > 45) AS n_heavy,
        CAST(EXISTS (SELECT 1 FROM lineitem l
          WHERE l.l_orderkey = o.o_orderkey AND l.l_discount > 0.09) AS BIGINT) AS has_discounted
      FROM orders o ORDER BY o_orderkey LIMIT 2000""")
  }

  /** Window-frame battery: first/last/nth value under explicit ROWS
    * frames plus offset lag/lead with defaults — frame-boundary
    * semantics oracle-checked (last_value without the explicit frame is
    * the classic current-row trap). Pure value picks, no float math. */
  val q29 = GraftQuery(
    "q29_frame_battery",
    Some("""
      SELECT user_id, event_id,
        first_value(event_type) OVER w AS first_type,
        last_value(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id
          ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS last_type,
        nth_value(event_type, 2) OVER w AS second_type,
        lag(event_type, 2, '<none>') OVER w AS lag2,
        lead(event_type, 3, '<none>') OVER w AS lead3
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      ORDER BY user_id, event_id LIMIT 5000""".stripMargin.trim)) { (spark, dir) =>
    val wUp = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wDown = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val wSeq = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    Tables.events(spark, dir).select(
        col("user_id"), col("event_id"),
        first(col("event_type")).over(wUp).as("first_type"),
        last(col("event_type")).over(wDown).as("last_type"),
        nth_value(col("event_type"), 2).over(wUp).as("second_type"),
        lag(col("event_type"), 2, "<none>").over(wSeq).as("lag2"),
        lead(col("event_type"), 3, "<none>").over(wSeq).as("lead3"))
      .orderBy("user_id", "event_id").limit(5000)
  }

  /** Exact discrete percentiles (percentile_disc semantics: the first
    * value whose cumulative rank reaches p·n — an element of the data,
    * no interpolation) + per-group mode with deterministic tie-break,
    * both via identical rank arithmetic in the two engines. */
  val q30 = GraftQuery(
    "q30_percentile_disc_mode",
    Some("""
      WITH r AS (SELECT event_type, value,
          ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY value, event_id) AS rn,
          COUNT(*) OVER (PARTITION BY event_type) AS n
        FROM events),
      pct AS (SELECT event_type,
          MIN(CASE WHEN rn = CAST(ceil(0.25 * n) AS BIGINT) THEN value END) AS p25,
          MIN(CASE WHEN rn = CAST(ceil(0.50 * n) AS BIGINT) THEN value END) AS p50,
          MIN(CASE WHEN rn = CAST(ceil(0.95 * n) AS BIGINT) THEN value END) AS p95
        FROM r GROUP BY event_type),
      md AS (SELECT event_type, user_id AS mode_user FROM (
          SELECT event_type, user_id,
            ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY COUNT(*) DESC, user_id) AS mr
          FROM events GROUP BY event_type, user_id) t WHERE mr = 1)
      SELECT p.event_type, ROUND(p25, 6) AS p25, ROUND(p50, 6) AS p50,
        ROUND(p95, 6) AS p95, m.mode_user
      FROM pct p JOIN md m ON p.event_type = m.event_type
      ORDER BY p.event_type""".stripMargin.trim)) { (spark, dir) =>
    val ev = Tables.events(spark, dir)
    // rank SELECTION, not ranking (the q15 machinery generalized to
    // several percentiles): a histogram locates each target rank
    // ceil(p·n), only the few target buckets are re-scanned and ranked.
    // The fact is never sorted — neither per-type windows (|types|
    // tasks) nor a range-parallel global rank (which still shuffle-
    // sorts the whole table) touch it.
    val base = ev.select(col("event_type"), col("value"), col("event_id"))
    val pct = graft.ops.Quantiles.groupDiscQuantiles(base,
        "event_type", "value", Seq("event_id"), Seq(0.25, 0.50, 0.95))
      .groupBy("event_type")
      .agg(min(when(col("p") === 0.25, col("q_disc"))).as("p25"),
        min(when(col("p") === 0.50, col("q_disc"))).as("p50"),
        min(when(col("p") === 0.95, col("q_disc"))).as("p95"))
    // mode = top-1 per type: the bounded-heap operator, not a sort of
    // the per-user count table in |event_type| tasks
    val md = graft.plans.TopK.perKeyTwoPhase(
        ev.groupBy("event_type", "user_id").agg(count(lit(1)).as("cnt")),
        Seq("event_type"), Seq(col("cnt").desc, col("user_id")), 1)
      .select(col("event_type"), col("user_id").as("mode_user"))
    pct.join(md, "event_type")
      .select(col("event_type"), Exact.round(col("p25"), 6).as("p25"),
        Exact.round(col("p50"), 6).as("p50"), Exact.round(col("p95"), 6).as("p95"),
        col("mode_user"))
      .orderBy("event_type")
  }

  /** Navigation-function battery: first/last with IGNORE NULLS (nulls
    * manufactured so the skip path executes), nth_value, offset
    * lag/lead with defaults — the remaining window-function semantics
    * q22 (ranks) and q29 (frames) don't cover. last_value reads the
    * FULL frame (its default current-row frame is the classic silent
    * bug — pinned here by the oracle). */
  val q58 = GraftQuery(
    "q58_window_nav",
    Some("""
      WITH e AS (
        SELECT user_id, ts, event_id, event_type,
          CASE WHEN value < 1 THEN NULL ELSE value END AS v
        FROM events WHERE user_id < 40)
      SELECT user_id, event_id,
        FIRST_VALUE(v IGNORE NULLS) OVER w AS first_seen,
        LAST_VALUE(v IGNORE NULLS) OVER (PARTITION BY user_id
          ORDER BY ts, event_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_seen,
        NTH_VALUE(v, 2) OVER (PARTITION BY user_id ORDER BY ts, event_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS second_v,
        LAG(v, 2, -1.0) OVER w AS lag2,
        LEAD(event_type, 1, 'none') OVER w AS next_type
      FROM e
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      ORDER BY user_id, event_id""".trim)) { (spark, dir) =>
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val wFull = w.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    Tables.events(spark, dir)
      .filter(col("user_id") < 40)
      .withColumn("v", when(col("value") < 1, lit(null)).otherwise(col("value")))
      .select(col("user_id"), col("event_id"),
        first(col("v"), ignoreNulls = true).over(w).as("first_seen"),
        last(col("v"), ignoreNulls = true).over(wFull).as("last_seen"),
        nth_value(col("v"), 2).over(wFull).as("second_v"),
        lag(col("v"), 2, -1.0).over(w).as("lag2"),
        lead(col("event_type"), 1, "none").over(w).as("next_type"))
      .orderBy("user_id", "event_id")
  }

  /** JSON path battery over the events `props` payload: scalar
    * extraction, missing-key NULL semantics, numeric casts, and a
    * nested path through a constructed document — the ad-hoc
    * semi-structured access pattern the reference's payload layer
    * formalizes (meteo_normalize is the schema-full version; this is
    * the exploratory one). */
  val q59 = GraftQuery(
    "q59_json_funcs",
    Some("""
      SELECT event_id,
        CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
        json_extract_string(props, '$.missing') AS missing,
        CAST(json_extract_string(
          '{"a":{"b":' || json_extract_string(props, '$.k') || '}}',
          '$.a.b') AS BIGINT) AS nested
      FROM events WHERE event_id < 2000
      ORDER BY event_id""".trim)) { (spark, dir) =>
    Tables.events(spark, dir)
      .filter(col("event_id") < 2000)
      .select(col("event_id"),
        get_json_object(col("props"), "$.k").cast("long").as("k"),
        get_json_object(col("props"), "$.missing").as("missing"),
        get_json_object(concat(lit("{\"a\":{\"b\":"),
            get_json_object(col("props"), "$.k"), lit("}}")),
          "$.a.b").cast("long").as("nested"))
      .orderBy("event_id")
  }

  /** String-distance battery: Levenshtein distance + normalized
    * similarity between consecutive cleaned text prefixes per source —
    * the scalar primitive under fuzzy joins ([[graft.ops.FuzzyJoin]]
    * uses it at scale behind candidate blocking; here its SEMANTICS
    * are oracle-pinned: exact edit counts, length normalization, the
    * 1-based window pairing). */
  val q60 = GraftQuery(
    "q60_fuzzy_funcs",
    Some("""
      WITH d AS (SELECT doc_id, source,
          substr(regexp_replace(lower(text), '[^a-z ]', '', 'g'), 1, 20) AS p
        FROM documents WHERE doc_id < 500),
      l AS (SELECT doc_id, source, p,
          LAG(p) OVER (PARTITION BY source ORDER BY doc_id) AS q
        FROM d)
      SELECT doc_id, source, CAST(levenshtein(p, q) AS BIGINT) AS dist,
        ROUND(1.0 - CAST(levenshtein(p, q) AS DOUBLE) /
          GREATEST(length(p), length(q)), 6) AS sim
      FROM l
      WHERE q IS NOT NULL AND length(p) > 0 AND length(q) > 0
      ORDER BY doc_id""".trim)) { (spark, dir) =>
    val w = Window.partitionBy("source").orderBy("doc_id")
    Tables.documents(spark, dir)
      .filter(col("doc_id") < 500)
      .select(col("doc_id"), col("source"),
        substring(regexp_replace(lower(col("text")), "[^a-z ]", ""), 1, 20)
          .as("p"))
      .withColumn("q", lag(col("p"), 1).over(w))
      .filter(col("q").isNotNull && length(col("p")) > 0 &&
        length(col("q")) > 0)
      .select(col("doc_id"), col("source"),
        levenshtein(col("p"), col("q")).cast("long").as("dist"),
        Exact.round(lit(1.0) - levenshtein(col("p"), col("q")).cast("double") /
          greatest(length(col("p")), length(col("q"))), 6).as("sim"))
      .orderBy("doc_id")
  }

  override def all: Seq[GraftQuery] =
    Seq(q24, q25, q26, q27, q28, q29, q30, q58, q59, q60)
}
