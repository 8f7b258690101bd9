package graft

import graft.etl.{Extract, Metrics, Transform}
import graft.functions._
import graft.operators.{Curation, Dedup, Multimodal, Similarity, TextAnalysis, Windows}
import graft.streaming.EventStream
import graft.util.FanOut.scanParallel
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Every operator from SURVEY.md §2 plus the LLM-pipeline extensions, as
  * named queries with (where SQL can express them) DuckDB oracle twins.
  *
  * Determinism rules applied throughout (SURVEY.md §7.4):
  *   - money/value sums go through exact decimal arithmetic and come back as
  *     double, so accumulation order (partitions, AQE) can't perturb results;
  *   - every limit/top-k has a total ordering (explicit tiebreaks);
  *   - float similarity scores are rounded to 4 decimals BEFORE ranking so
  *     both engines rank identical values.
  */
object Queries {

  private type Q = (SparkSession, String) => DataFrame

  // exact-decimal casts: narrow enough that products stay inside 38 digits
  // in BOTH engines (no precision-loss rounding on either side)
  private val SQL_PRICE = "CAST(l_extendedprice AS DECIMAL(12,2))"
  private val SQL_DISC = "CAST(l_discount AS DECIMAL(4,2))"
  private val SQL_TAX = "CAST(l_tax AS DECIMAL(4,2))"
  private def price = col("l_extendedprice").cast("decimal(12,2)")
  private def disc = col("l_discount").cast("decimal(4,2)")
  private def tax = col("l_tax").cast("decimal(4,2)")

  /** Raw-SQL queries need temp views, but a fixed `createOrReplaceTempView`
    * name mutates shared session state — two threads building the same
    * query against different fixtures would race on the view. Scoped views:
    * unique name per call (collision = loud failure, not silent replace),
    * dropped as soon as `spark.sql` has ANALYZED the text (the returned
    * DataFrame keeps its resolved plan; the catalog entry is only needed
    * during analysis). */
  private def withScopedViews(s: SparkSession, dfs: (String, DataFrame)*)(
      build: Map[String, String] => DataFrame): DataFrame = {
    require(dfs.map(_._1).distinct.size == dfs.size,
      s"duplicate view roles: ${dfs.map(_._1).mkString(", ")}")
    val tag = java.util.UUID.randomUUID().toString.replace("-", "")
    val named = dfs.map { case (role, df) => (role, s"${role}_$tag", df) }
    val created = scala.collection.mutable.ArrayBuffer.empty[String]
    // creation itself sits inside the try: a failure part-way through must
    // not leak the views already registered in the shared session catalog
    try {
      named.foreach { case (_, name, df) => df.createTempView(name); created += name }
      build(named.map { case (role, name, _) => role -> name }.toMap)
    } finally created.foreach(s.catalog.dropTempView)
  }

  // ───────────────────────────── core parity ─────────────────────────────

  /** E1 flagship: extract customer ⋈ nation ⋈ region, P1 enrich, F1 filter.
    * Takes the already-extracted frames so staged runners can compose it on
    * an observed extract stage (one lineage end to end). */
  def e1UsersFrom(c: DataFrame, n: DataFrame, r: DataFrame): DataFrame = {
    val enriched = c
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .select(
        concat(lit("user-"), col("c_custkey").cast("string")).as("id"),
        trim(col("c_name")).as("name"),
        jsCoalesce(col("c_mktsegment"), lit("UNKNOWN")).as("segment"),
        col("n_name").as("nation"),
        col("r_name").as("region"),
        col("c_acctbal").as("acctbal"),
        (col("c_acctbal") > 0).as("valid"))
    enriched.filter(col("valid") && col("segment") =!= "UNKNOWN")
      .drop("valid")
  }

  val e1Users: Q = (s, d) =>
    e1UsersFrom(Tables.customer(s, d), Tables.nation(s, d), Tables.region(s, d))

  val e1UsersSql: String =
    """SELECT 'user-' || CAST(c_custkey AS VARCHAR) AS id,
      |       trim(c_name) AS name,
      |       coalesce(nullif(c_mktsegment, ''), 'UNKNOWN') AS segment,
      |       n_name AS nation, r_name AS region, c_acctbal AS acctbal
      |FROM customer
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |WHERE c_acctbal > 0 AND coalesce(nullif(c_mktsegment, ''), 'UNKNOWN') <> 'UNKNOWN'
      |""".stripMargin

  /** E2/A1–A5: the run-metrics row (rows_in/out, dedup_removed, countries,
    * last_record via max_by over the explicit key order). */
  val e2Metrics: Q = (s, d) => {
    val c = Tables.customer(s, d)
    val validCond = col("c_acctbal") > 0 && emptyToNull(col("c_mktsegment")).isNotNull
    Metrics.summary(c, validCond, col("c_nationkey"), trim(col("c_name")), col("c_custkey"))
  }

  val e2MetricsSql: String =
    """SELECT count(*) AS rows_in,
      |       count(*) FILTER (WHERE c_acctbal > 0 AND nullif(c_mktsegment,'') IS NOT NULL) AS rows_out,
      |       count(*) - count(*) FILTER (WHERE c_acctbal > 0 AND nullif(c_mktsegment,'') IS NOT NULL) AS dedup_removed,
      |       count(DISTINCT c_nationkey) AS countries,
      |       arg_max(trim(c_name), c_custkey) AS last_record
      |FROM customer
      |""".stripMargin

  /** E3 flagship: union(F,O) → broadcast lookup joins → tail-150 (L1). */
  val e3Launches: Q = (s, d) => {
    val o = Tables.orders(s, d)
    val past = o.filter(col("o_orderstatus") === "F")
    val upcoming = o.filter(col("o_orderstatus") === "O")
    val unioned = Transform.unionAll(past, upcoming)
    val c = Tables.customer(s, d).select(col("c_custkey"), trim(col("c_name")).as("customer_name"), col("c_nationkey"))
    val n = Tables.nation(s, d)
    val joined = unioned
      .join(c, unioned("o_custkey") === c("c_custkey"), "left") // customer scales with SF: AQE decides
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"), "left")
      .select(col("o_orderkey"), col("o_orderdate"), col("o_orderstatus"),
        col("customer_name"), col("n_name").as("nation"), col("o_totalprice"))
    Transform.tailN(joined, "o_orderdate", "o_orderkey", 150)
  }

  val e3LaunchesSql: String =
    """WITH u AS (
      |  SELECT * FROM orders WHERE o_orderstatus = 'F'
      |  UNION ALL
      |  SELECT * FROM orders WHERE o_orderstatus = 'O')
      |SELECT o_orderkey, o_orderdate, o_orderstatus,
      |       trim(c_name) AS customer_name, n_name AS nation, o_totalprice
      |FROM u
      |LEFT JOIN customer ON o_custkey = c_custkey
      |LEFT JOIN nation ON c_nationkey = n_nationkey
      |ORDER BY o_orderdate DESC, o_orderkey DESC LIMIT 150
      |""".stripMargin

  /** P2/J1 nested-struct enrichment with default-STRUCT-on-miss
    * (spacex.js:32: `rocket ? {id,name,type,active} : {name: launch.rocket
    * || 'Unknown'}` — the FK column is REPLACED by a struct; a lookup miss
    * yields a struct whose `name` is the raw FK value, 'Unknown' only when
    * the FK itself is null/falsy). The struct genuinely exists in-plan
    * (spec-asserted in QueriesSpec); the oracle-emitted column is its
    * canonical `id|name|segment|nation` serialization because nested cells
    * are not hashable in the check harness. */
  def e3NestedFrame(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
    val unioned = Transform.unionAll(
      o.filter(col("o_orderstatus") === "F"), o.filter(col("o_orderstatus") === "O"))
    val n = Tables.nation(s, d)
    val c = Tables.customer(s, d).filter(col("c_acctbal") > 9000)
      .select(col("c_custkey"), trim(col("c_name")).as("c_name"),
        col("c_mktsegment"), col("c_nationkey"))
    val dim = c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"), "left")
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"), col("n_name"))
    val joined = unioned.join(dim, // customer-derived dim scales with SF: AQE decides
      unioned("o_custkey") === dim("c_custkey"), "left")
    val customerStruct = when(dim("c_custkey").isNotNull,
        struct(dim("c_custkey").as("id"), dim("c_name").as("name"),
          dim("c_mktsegment").as("segment"), dim("n_name").as("nation")))
      .otherwise(struct(lit(null).cast("long").as("id"),
        coalesce(unioned("o_custkey").cast("string"), lit("Unknown")).as("name"),
        lit(null).cast("string").as("segment"), lit(null).cast("string").as("nation")))
    joined.select(col("o_orderkey"), col("o_orderdate"), col("o_orderstatus"),
      customerStruct.as("customer"), col("o_totalprice"))
  }

  val e3Nested: Q = (s, d) =>
    e3NestedFrame(s, d).select(
      col("o_orderkey"), col("o_orderdate"), col("o_orderstatus"),
      concat_ws("",
        coalesce(col("customer.id").cast("string"), lit("")), lit("|"),
        col("customer.name"), lit("|"),
        coalesce(col("customer.segment"), lit("")), lit("|"),
        coalesce(col("customer.nation"), lit(""))).as("customer_s"),
      col("o_totalprice"))

  val e3NestedSql: String =
    """WITH u AS (
      |  SELECT * FROM orders WHERE o_orderstatus = 'F'
      |  UNION ALL
      |  SELECT * FROM orders WHERE o_orderstatus = 'O'),
      |d AS (SELECT c_custkey, trim(c_name) AS c_name, c_mktsegment, n_name
      |      FROM customer LEFT JOIN nation ON c_nationkey = n_nationkey
      |      WHERE c_acctbal > 9000)
      |SELECT o_orderkey, o_orderdate, o_orderstatus,
      |  CASE WHEN c_custkey IS NOT NULL THEN
      |    CAST(c_custkey AS VARCHAR) || '|' || c_name || '|'
      |      || coalesce(c_mktsegment, '') || '|' || coalesce(n_name, '')
      |  ELSE '|' || coalesce(CAST(o_custkey AS VARCHAR), 'Unknown') || '||'
      |  END AS customer_s,
      |  o_totalprice
      |FROM u LEFT JOIN d ON o_custkey = c_custkey""".stripMargin

  /** S1/column pruning: projection + pushed filter should reach the scan. */
  val s1Scan: Q = (s, d) =>
    Tables.customer(s, d)
      .filter(col("c_acctbal") > 100)
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"))

  val s1ScanSql: String =
    "SELECT c_custkey, c_name, c_acctbal FROM customer WHERE c_acctbal > 100"

  /** S2 — dynamic partition pruning over the date-partitioned fact
    * layout: orders lives Hive-partitioned by order year
    * ([[Tables.ensurePartitionedOrders]]), the dim side is a filtered
    * year list derived at runtime (not constant-foldable), and Catalyst
    * injects the partition filter as a DPP subquery — the fact scan
    * reads ONLY the surviving year directories. At 100 TB this is the
    * difference between scanning 7 years and scanning the 3 the query
    * touches, decided at run time. Plan dump shows
    * `PartitionFilters: [..., dynamicpruning#...]`. */
  val s2DynamicPrune: Q = (s, d) => {
    val part = Tables.ensurePartitionedOrders(s, d)
    val dim = Tables.orders(s, d)
      .select(year(col("o_orderdate")).as("yr")).distinct()
      .filter(col("yr") % 2 === 1)
    part.join(dim, part("o_orderyear") === dim("yr"))
      .groupBy(col("o_orderyear").cast("long").as("o_orderyear"))
      .agg(decSum(col("o_totalprice")).as("revenue"), count(lit(1)).as("n_orders"))
  }

  val s2DynamicPruneSql: String =
    """SELECT CAST(year(o_orderdate) AS BIGINT) AS o_orderyear,
      |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
      |       count(*) AS n_orders
      |FROM orders
      |WHERE year(o_orderdate) % 2 = 1
      |GROUP BY 1""".stripMargin

  /** F5/S5/J4: point lookup with JS loose-`==` string key comparison. */
  val f5Point: Q = (s, d) =>
    Transform.pointLookup(Tables.orders(s, d), "o_orderkey", "42")
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"), col("o_totalprice"))

  val f5PointSql: String =
    """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
      |FROM orders WHERE CAST(o_orderkey AS VARCHAR) = '42'""".stripMargin

  /** J1/J2: left-outer broadcast lookup with default-on-miss ('Unknown'). */
  val j1Lookup: Q = (s, d) => {
    val dim = Tables.customer(s, d).filter(col("c_acctbal") > 7000)
      .select(col("c_custkey"), col("c_name"))
    Transform.lookupJoin(
      Tables.orders(s, d).select("o_orderkey", "o_custkey"), dim,
      "o_custkey", "c_custkey",
      Seq("c_name" -> "customer_name"),
      Map("customer_name" -> lit("Unknown")))
      .select("o_orderkey", "customer_name")
  }

  val j1LookupSql: String =
    """SELECT o_orderkey, coalesce(c_name, 'Unknown') AS customer_name
      |FROM orders LEFT JOIN (SELECT * FROM customer WHERE c_acctbal > 7000) c
      |ON o_custkey = c_custkey""".stripMargin

  /** J3: array-membership join — per-order payload-id array, explode, join
    * the dimension, re-aggregate (spacex.js:26-28,34 shape). */
  val j3Payloads: Q = (s, d) => {
    val li = Tables.lineitem(s, d)
    val arrays = li.groupBy(col("l_orderkey"))
      .agg(collect_set(col("l_partkey")).as("payload_ids"))
    val exploded = arrays.select(col("l_orderkey"), explode(col("payload_ids")).as("pid"))
    val p = Tables.part(s, d)
    exploded.join(p, col("pid") === p("p_partkey")) // part scales with SF: AQE decides
      .groupBy(col("l_orderkey"))
      .agg(count(lit(1)).as("payloads_count"),
        decSum(col("p_retailprice")).as("payload_value"))
  }

  val j3PayloadsSql: String =
    """SELECT l_orderkey, count(*) AS payloads_count,
      |       CAST(sum(CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE) AS payload_value
      |FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) j
      |JOIN part ON l_partkey = p_partkey
      |GROUP BY l_orderkey""".stripMargin

  /** J3 full re-nest parity (spacex.js:28,34: `payloads: related` — the
    * joined dimension rows are attached back as an ARRAY OF STRUCTS per
    * launch, and the detail page iterates it). The plan genuinely builds
    * `array<struct<pid,name,cents>>` via `collect_list(struct(...))` after
    * the membership join (sorted for determinism); the emitted column is
    * that array's canonical `pid|name|cents;...` serialization because the
    * check harness sorts/hashes every output column and nested cells are
    * not hashable on the pandas side. The nested frame itself is
    * spec-asserted (schema + values) in QueriesSpec. */
  def j3NestedFrame(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
    val p = Tables.part(s, d)
    val members = li.select(col("l_orderkey"), col("l_partkey")).distinct()
    members.join(p, col("l_partkey") === p("p_partkey")) // part scales with SF: AQE decides
      .groupBy(col("l_orderkey"))
      .agg(array_sort(collect_list(struct(
        col("p_partkey").as("pid"),
        col("p_name").as("name"),
        (col("p_retailprice").cast("decimal(12,2)") * 100).cast("long").as("cents"))))
        .as("payloads"))
  }

  val j3Nested: Q = (s, d) =>
    j3NestedFrame(s, d).select(
      col("l_orderkey"),
      size(col("payloads")).cast("long").as("payloads_count"),
      concat_ws(";", transform(col("payloads"), st => concat_ws("|",
        st.getField("pid").cast("string"), st.getField("name"),
        st.getField("cents").cast("string")))).as("payloads_s"))

  val j3NestedSql: String =
    """WITH j AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      |e AS (SELECT l_orderkey, p_partkey AS pid, p_name AS name,
      |             CAST(CAST(p_retailprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
      |      FROM j JOIN part ON l_partkey = p_partkey)
      |SELECT l_orderkey, CAST(count(*) AS BIGINT) AS payloads_count,
      |       string_agg(CAST(pid AS VARCHAR) || '|' || name || '|' || CAST(cents AS VARCHAR),
      |                  ';' ORDER BY pid) AS payloads_s
      |FROM e GROUP BY l_orderkey""".stripMargin

  /** U1: union all with schema drift (missing column → null). */
  val u1Union: Q = (s, d) => {
    val o = Tables.orders(s, d)
    val past = o.filter(col("o_orderstatus") === "F")
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
    val upcoming = o.filter(col("o_orderstatus") === "O")
      .select(col("o_orderkey"), col("o_orderstatus"))
    Transform.unionAll(past, upcoming)
  }

  val u1UnionSql: String =
    """SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders WHERE o_orderstatus = 'F'
      |UNION ALL
      |SELECT o_orderkey, o_orderstatus, CAST(NULL AS DOUBLE) FROM orders WHERE o_orderstatus = 'O'
      |""".stripMargin

  /** U2/A4: distinct over the coalesced country key. */
  val u2Distinct: Q = (s, d) =>
    Tables.customer(s, d).select(col("c_nationkey")).distinct()

  val u2DistinctSql: String = "SELECT DISTINCT c_nationkey FROM customer"

  /** A4 at scale: exact vs HLL++ distinct. The exact column is the
    * cross-engine check; the sketch is engine-specific, so what the oracle
    * verifies about it is the tolerance CONTRACT — HLL++ at rsd 0.01 must
    * land within 5% of the exact count (deterministic: Spark's sketch has
    * no RNG state, the same input always gives the same estimate). */
  val a4Hll: Q = (s, d) =>
    Metrics.summaryApprox(Tables.orders(s, d), col("o_custkey"))
      .select(col("exact_distinct"),
        (abs(col("approx_distinct") - col("exact_distinct"))
          <= col("exact_distinct") * 0.05).as("approx_ok"))

  val a4HllSql: String =
    "SELECT count(DISTINCT o_custkey) AS exact_distinct, true AS approx_ok FROM orders"

  /** L1: tail-N with the implicit source order made explicit. */
  val l1Tail: Q = (s, d) =>
    Transform.tailN(Tables.orders(s, d), "o_orderdate", "o_orderkey", 150)
      .select(col("o_orderkey"), col("o_orderdate"), col("o_totalprice"))

  val l1TailSql: String =
    """SELECT o_orderkey, o_orderdate, o_totalprice FROM orders
      |ORDER BY o_orderdate DESC, o_orderkey DESC LIMIT 150""".stripMargin

  /** L2: head-N display page. */
  val l2Head: Q = (s, d) =>
    Transform.headN(Tables.customer(s, d), "c_custkey", 20)
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))

  val l2HeadSql: String =
    "SELECT c_custkey, c_name, c_mktsegment FROM customer ORDER BY c_custkey LIMIT 20"

  /** C1–C3, C8, C9, C13, C14: the scalar-function suite. */
  val c1Scalars: Q = (s, d) => {
    val c = Tables.customer(s, d)
    val n = Tables.nation(s, d)
    c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .select(
        col("c_custkey"),
        trim(col("c_name")).as("name"),
        concat_ws(", ", col("c_mktsegment"), col("n_name")).as("loc"),
        jsCoalesce(col("c_mktsegment"), lit("UNKNOWN")).as("segment"),
        pctOf(col("c_acctbal"), lit(10000.0)).as("pct"),
        when(col("c_acctbal") > 5000, "GOLD")
          .when(col("c_acctbal") > 0, "OK").otherwise("NEG").as("status"),
        upper(col("c_mktsegment")).as("segment_upper"),
        col("c_custkey").cast("string").as("key_str"))
  }

  val c1ScalarsSql: String =
    """SELECT c_custkey, trim(c_name) AS name,
      |       concat_ws(', ', c_mktsegment, n_name) AS loc,
      |       coalesce(nullif(c_mktsegment, ''), 'UNKNOWN') AS segment,
      |       least(c_acctbal / 10000.0 * 100, 100) AS pct,
      |       CASE WHEN c_acctbal > 5000 THEN 'GOLD'
      |            WHEN c_acctbal > 0 THEN 'OK' ELSE 'NEG' END AS status,
      |       upper(c_mktsegment) AS segment_upper,
      |       CAST(c_custkey AS VARCHAR) AS key_str
      |FROM customer JOIN nation ON c_nationkey = n_nationkey""".stripMargin

  /** C5/C6: timestamp parse/format. */
  val c5Dates: Q = (s, d) =>
    Tables.orders(s, d).select(
      col("o_orderkey"),
      date_format(col("o_orderdate"), "yyyy-MM-dd").as("order_day"),
      year(col("o_orderdate")).cast("long").as("order_year"),
      month(col("o_orderdate")).cast("long").as("order_month"),
      date_format(col("o_orderdate"), "yyyy-MM-dd'T'HH:mm:ss").as("order_iso"))

  val c5DatesSql: String =
    """SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS order_day,
      |       year(o_orderdate) AS order_year, month(o_orderdate) AS order_month,
      |       strftime(o_orderdate, '%Y-%m-%dT%H:%M:%S') AS order_iso
      |FROM orders""".stripMargin

  /** C7: URL hostname/path extraction. */
  val c7Url: Q = (s, d) =>
    Tables.customer(s, d)
      .withColumn("url", concat(lit("https://"), lower(col("c_mktsegment")),
        lit(".example.com/u/"), col("c_custkey").cast("string")))
      .select(col("c_custkey"), col("url"),
        parse_url(col("url"), lit("HOST")).as("host"),
        parse_url(col("url"), lit("PATH")).as("path"))

  val c7UrlSql: String =
    """SELECT c_custkey, url,
      |       regexp_extract(url, 'https?://([^/]+)', 1) AS host,
      |       regexp_extract(url, 'https?://[^/]+(/.*)', 1) AS path
      |FROM (SELECT c_custkey,
      |        'https://' || lower(c_mktsegment) || '.example.com/u/' || CAST(c_custkey AS VARCHAR) AS url
      |      FROM customer) t""".stripMargin

  /** C12: JSON payload extraction + rollup over events.props. */
  val c12Json: Q = (s, d) =>
    Tables.events(s, d)
      .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("k")).as("k_sum"), max(col("k")).as("k_max"))

  val c12JsonSql: String =
    """SELECT event_type, count(*) AS n,
      |       CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS k_sum,
      |       max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS k_max
      |FROM events GROUP BY event_type""".stripMargin

  // ────────────────────────── analytics / windows ─────────────────────────

  /** TPC-H Q1-style pricing summary (the headline scan+agg benchmark). */
  val q1Pricing: Q = (s, d) =>
    Tables.lineitem(s, d)
      .filter(col("l_shipdate") <= lit("1998-09-02 00:00:00").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        decSum(col("l_quantity")).as("sum_qty"),
        decSum(col("l_extendedprice")).as("sum_base_price"),
        sum(price * (lit(1).cast("decimal(4,2)") - disc)).cast("double").as("sum_disc_price"),
        sum(price * (lit(1).cast("decimal(4,2)") - disc) * (lit(1).cast("decimal(4,2)") + tax))
          .cast("double").as("sum_charge"),
        (sum(col("l_quantity").cast("decimal(18,2)")).cast("double") / count(lit(1))).as("avg_qty"),
        (sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double") / count(lit(1))).as("avg_price"),
        count(lit(1)).as("count_order"))

  val q1PricingSql: String =
    s"""SELECT l_returnflag, l_linestatus,
       |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
       |  CAST(sum($SQL_PRICE * (1 - $SQL_DISC)) AS DOUBLE) AS sum_disc_price,
       |  CAST(sum($SQL_PRICE * (1 - $SQL_DISC) * (1 + $SQL_TAX)) AS DOUBLE) AS sum_charge,
       |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_qty,
       |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_price,
       |  count(*) AS count_order
       |FROM lineitem
       |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
       |GROUP BY l_returnflag, l_linestatus""".stripMargin

  /** TPC-H Q3-style shipping priority (join + agg + top-k benchmark). */
  val q3Priority: Q = (s, d) => {
    val c = Tables.customer(s, d).filter(col("c_mktsegment") === "BUILDING")
    val o = Tables.orders(s, d)
      .filter(col("o_orderdate") < lit("1997-01-01 00:00:00").cast("timestamp"))
    val li = Tables.lineitem(s, d)
      .filter(col("l_shipdate") > lit("1997-01-01 00:00:00").cast("timestamp"))
    // No broadcast hint on customer: it scales with SF, so the right join
    // strategy differs by scale. AQE picks BHJ at bench SF (the filtered
    // BUILDING slice is small) and falls back to a shuffled join at 100×
    // where a forced hint would OOM the driver.
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .agg(sum(price * (lit(1).cast("decimal(4,2)") - disc)).cast("double").as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey").asc)
      .limit(10)
  }

  val q3PrioritySql: String =
    s"""SELECT l_orderkey, o_orderdate, o_orderpriority,
       |  CAST(sum($SQL_PRICE * (1 - $SQL_DISC)) AS DOUBLE) AS revenue
       |FROM lineitem
       |JOIN orders ON l_orderkey = o_orderkey
       |JOIN customer ON o_custkey = c_custkey
       |WHERE c_mktsegment = 'BUILDING'
       |  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
       |  AND l_shipdate > TIMESTAMP '1997-01-01 00:00:00'
       |GROUP BY l_orderkey, o_orderdate, o_orderpriority
       |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin

  /** q3 on bucketed-and-sorted `lineitem`/`orders` (16 buckets on orderkey):
    * the fact-fact join runs with ZERO exchanges and zero sorts — the
    * bucketed layout pre-pays the shuffle once at write time, which is the
    * economics that matter when the same fact tables join daily at 100 TB.
    * The group-by keys start with l_orderkey, so even the aggregation
    * reuses the bucket partitioning; the only data movement left is the
    * final top-10 gather. Result- and oracle-identical to q3. */
  val q3Bucketed: Q = (s, d) => {
    val (liB, oB) = Tables.ensureBucketed(s, d)
    val c = Tables.customer(s, d).filter(col("c_mktsegment") === "BUILDING")
    val o = oB.filter(col("o_orderdate") < lit("1997-01-01 00:00:00").cast("timestamp"))
    val li = liB.filter(col("l_shipdate") > lit("1997-01-01 00:00:00").cast("timestamp"))
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey")) // unhinted: AQE decides (see q3)
      .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .agg(sum(price * (lit(1).cast("decimal(4,2)") - disc)).cast("double").as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey").asc)
      .limit(10)
  }

  /** TPC-H Q5-style revenue rollup (the multi-join shuffle benchmark). */
  val q5Revenue: Q = (s, d) => {
    val li = Tables.lineitem(s, d)
    val o = Tables.orders(s, d)
    val c = Tables.customer(s, d)
    val sup = Tables.supplier(s, d)
    val n = Tables.nation(s, d)
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .join(sup, li("l_suppkey") === sup("s_suppkey") && // supplier scales with SF: AQE decides
        c("c_nationkey") === sup("s_nationkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .groupBy(col("n_name"), year(col("o_orderdate")).cast("long").as("order_year"))
      .agg(sum(price * (lit(1).cast("decimal(4,2)") - disc)).cast("double").as("revenue"))
  }

  val q5RevenueSql: String =
    s"""SELECT n_name, year(o_orderdate) AS order_year,
       |  CAST(sum($SQL_PRICE * (1 - $SQL_DISC)) AS DOUBLE) AS revenue
       |FROM lineitem
       |JOIN orders ON l_orderkey = o_orderkey
       |JOIN customer ON o_custkey = c_custkey
       |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
       |JOIN nation ON c_nationkey = n_nationkey
       |GROUP BY n_name, year(o_orderdate)""".stripMargin

  /** TPC-H Q9-style profit rollup: five-table join (three broadcast dims —
    * part, supplier, nation — over the lineitem ⋈ orders fact join) with a
    * substring predicate on the part name, profit = revenue − cost
    * aggregated per (nation, year). The deepest join tree in the suite —
    * AQE owns the fact-fact strategy, dims broadcast. */
  val q9Profit: Q = (s, d) => {
    val li = Tables.lineitem(s, d)
    val o = Tables.orders(s, d)
    val p = Tables.part(s, d).filter(col("p_name").contains("gold"))
    val sup = Tables.supplier(s, d)
    val n = Tables.nation(s, d)
    // the fixture has no partsupp table: supply cost is synthesized as
    // 60% of retail price, in EXACT decimal arithmetic end to end (a
    // double multiply then a decimal cast would let the engines disagree
    // on half-way rounding)
    val cost = col("p_retailprice").cast("decimal(12,2)") * lit(0.6).cast("decimal(2,1)")
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .join(p, li("l_partkey") === p("p_partkey")) // part/supplier scale with SF: AQE decides
      .join(sup, li("l_suppkey") === sup("s_suppkey"))
      .join(broadcast(n), sup("s_nationkey") === n("n_nationkey"))
      .groupBy(col("n_name").as("nation"),
        year(col("o_orderdate")).cast("long").as("o_year"))
      .agg(sum(price * (lit(1).cast("decimal(4,2)") - disc) -
          cost * col("l_quantity").cast("decimal(12,2)"))
        .cast("double").as("profit"))
  }

  val q9ProfitSql: String =
    s"""SELECT n_name AS nation, year(o_orderdate) AS o_year,
       |  CAST(sum($SQL_PRICE * (1 - $SQL_DISC)
       |           - CAST(p_retailprice AS DECIMAL(12,2)) * CAST(0.6 AS DECIMAL(2,1))
       |             * CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS profit
       |FROM lineitem
       |JOIN orders ON l_orderkey = o_orderkey
       |JOIN part ON l_partkey = p_partkey
       |JOIN supplier ON l_suppkey = s_suppkey
       |JOIN nation ON s_nationkey = n_nationkey
       |WHERE p_name LIKE '%gold%'
       |GROUP BY n_name, year(o_orderdate)""".stripMargin

  /** TPC-H Q4-style order-priority check: orders in a half-year window with
    * at least one LATE lineitem, counted per priority. The correlated
    * EXISTS becomes a left-semi join on the order key — one shuffle, the
    * probe side stops at first match, no row duplication before the agg.
    * (The fixture carries no commit/receipt dates, so "late" =
    * shipped more than 90 days after the order date.) */
  val q4Priority: Q = (s, d) => {
    val o = Tables.orders(s, d)
      .filter(col("o_orderdate") >= lit("1996-01-01 00:00:00").cast("timestamp") &&
        col("o_orderdate") < lit("1996-07-01 00:00:00").cast("timestamp"))
    val li = Tables.lineitem(s, d)
    o.join(li, o("o_orderkey") === li("l_orderkey") &&
        li("l_shipdate") > o("o_orderdate") + expr("INTERVAL 90 DAYS"), "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("order_count"))
  }

  val q4PrioritySql: String =
    """SELECT o_orderpriority, count(*) AS order_count
      |FROM orders
      |WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND o_orderdate < TIMESTAMP '1996-07-01 00:00:00'
      |  AND EXISTS (SELECT 1 FROM lineitem
      |              WHERE l_orderkey = o_orderkey
      |                AND l_shipdate > o_orderdate + INTERVAL 90 DAY)
      |GROUP BY o_orderpriority""".stripMargin

  /** TPC-H Q12-style shipmode CASE-aggregation: one fact⋈orders join, then
    * conditional counts per mode column (the fixture has no l_shipmode /
    * receiptdate, so l_returnflag plays the mode and the window filters on
    * shipdate). The CASE folds into the aggregate — a single hash-agg after
    * the join, no extra pass per branch. */
  val q12Modes: Q = (s, d) => {
    val hi = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    val li = Tables.lineitem(s, d)
      .filter(col("l_shipdate") >= lit("1996-01-01 00:00:00").cast("timestamp") &&
        col("l_shipdate") < lit("1997-01-01 00:00:00").cast("timestamp"))
    li.join(Tables.orders(s, d), li("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_returnflag").as("ship_mode"))
      .agg(sum(when(hi, 1L).otherwise(0L)).as("high_line_count"),
        sum(when(!hi, 1L).otherwise(0L)).as("low_line_count"))
  }

  val q12ModesSql: String =
    """SELECT l_returnflag AS ship_mode,
      |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
      |  CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
      |GROUP BY l_returnflag""".stripMargin

  /** TPC-H Q10-style returned-item report: revenue lost to returns
    * (l_returnflag = 'R') per customer over a quarter, top 20. Fact⋈fact
    * join owned by AQE, nation broadcast, exact-decimal revenue so the
    * ranking is engine-identical; total order via (revenue DESC, custkey). */
  val q10Returns: Q = (s, d) => {
    val li = Tables.lineitem(s, d).filter(col("l_returnflag") === "R")
    val o = Tables.orders(s, d)
      .filter(col("o_orderdate") >= lit("1996-01-01 00:00:00").cast("timestamp") &&
        col("o_orderdate") < lit("1996-04-01 00:00:00").cast("timestamp"))
    val c = Tables.customer(s, d)
    val n = Tables.nation(s, d)
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .groupBy(col("c_custkey"), trim(col("c_name")).as("c_name"), col("n_name"))
      .agg(sum(price * (lit(1).cast("decimal(4,2)") - disc)).cast("double").as("revenue"))
      .orderBy(col("revenue").desc, col("c_custkey").asc)
      .limit(20)
  }

  val q10ReturnsSql: String =
    s"""SELECT c_custkey, trim(c_name) AS c_name, n_name,
       |  CAST(sum($SQL_PRICE * (1 - $SQL_DISC)) AS DOUBLE) AS revenue
       |FROM lineitem
       |JOIN orders ON l_orderkey = o_orderkey
       |JOIN customer ON o_custkey = c_custkey
       |JOIN nation ON c_nationkey = n_nationkey
       |WHERE l_returnflag = 'R'
       |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
       |  AND o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
       |GROUP BY c_custkey, trim(c_name), n_name
       |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin

  /** TPC-H Q14-style promo-revenue ratio: two-branch CASE inside the
    * aggregate over one part⋈lineitem join — promo share of revenue in a
    * month, one scalar row. Both sums stay exact-decimal; the ratio is one
    * double division performed identically by both engines. */
  val q14Promo: Q = (s, d) => {
    val li = Tables.lineitem(s, d)
      .filter(col("l_shipdate") >= lit("1996-06-01 00:00:00").cast("timestamp") &&
        col("l_shipdate") < lit("1996-07-01 00:00:00").cast("timestamp"))
    val p = Tables.part(s, d)
    val rev = price * (lit(1).cast("decimal(4,2)") - disc)
    li.join(p, li("l_partkey") === p("p_partkey")) // part scales with SF: AQE decides
      .agg(
        sum(when(col("p_type") === "PROMO", rev).otherwise(lit(0).cast("decimal(12,2)")))
          .cast("double").as("promo_revenue"),
        sum(rev).cast("double").as("total_revenue"))
      .select(col("promo_revenue"), col("total_revenue"),
        (lit(100.0) * col("promo_revenue") / col("total_revenue")).as("promo_pct"))
  }

  val q14PromoSql: String =
    s"""SELECT promo_revenue, total_revenue,
       |       100.0 * promo_revenue / total_revenue AS promo_pct
       |FROM (SELECT
       |  CAST(sum(CASE WHEN p_type = 'PROMO' THEN $SQL_PRICE * (1 - $SQL_DISC)
       |                ELSE CAST(0 AS DECIMAL(12,2)) END) AS DOUBLE) AS promo_revenue,
       |  CAST(sum($SQL_PRICE * (1 - $SQL_DISC)) AS DOUBLE) AS total_revenue
       |FROM lineitem JOIN part ON l_partkey = p_partkey
       |WHERE l_shipdate >= TIMESTAMP '1996-06-01 00:00:00'
       |  AND l_shipdate < TIMESTAMP '1996-07-01 00:00:00') t""".stripMargin

  /** TPC-H Q13-style customer-order-count distribution: LEFT OUTER join
    * plus a two-level aggregation — the "distribution of group sizes"
    * shape. The non-urgent predicate lives on the orders side BEFORE the
    * join (equivalent to putting it in the ON clause of a left join, and
    * it keeps the filter pushed to the orders scan), so customers whose
    * only orders are urgent still appear with c_count = 0. The first agg
    * shuffles on c_custkey; the second groups a customer-count-sized
    * input into a handful of distinct counts — metadata-sized. */
  val q13CustDist: Q = (s, d) => {
    // aggregate-below-join: orders collapse to one (custkey, count) row
    // per customer BEFORE meeting the customer table, so the outer join
    // moves |customers| rows instead of |orders| — the partial-agg
    // pushdown Catalyst doesn't do on its own (and at runtime AQE is
    // free to broadcast the collapsed side). A customer with no
    // non-urgent order has no match → coalesce to the 0 bucket, same as
    // `count(o_orderkey)` over an outer join of the raw rows.
    val perCust = Tables.orders(s, d)
      .filter(col("o_orderpriority") =!= "1-URGENT")
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n_orders"))
    Tables.customer(s, d)
      .join(perCust, col("c_custkey") === col("o_custkey"), "left_outer")
      .select(coalesce(col("n_orders"), lit(0L)).as("c_count"))
      .groupBy(col("c_count"))
      .agg(count(lit(1)).as("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc)
  }

  val q13CustDistSql: String =
    """SELECT c_count, count(*) AS custdist
      |FROM (SELECT c_custkey, count(o_orderkey) AS c_count
      |      FROM customer LEFT OUTER JOIN orders
      |        ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
      |      GROUP BY c_custkey) c_orders
      |GROUP BY c_count
      |ORDER BY custdist DESC, c_count DESC""".stripMargin

  /** TPC-H Q15-style top supplier: quarterly revenue per supplier, then
    * the supplier(s) at the exact maximum. The revenue CTE is referenced
    * twice (join input + scalar max) — Catalyst's ReuseExchange dedups the
    * underlying shuffle; the max is a one-row broadcast. Revenue stays
    * exact decimal end to end, so `total_rev = max(total_rev)` is a safe
    * equality in both engines (cast to double only on output). */
  val q15TopSupplier: Q = (s, d) => {
    val rev = Tables.lineitem(s, d)
      .filter(col("l_shipdate") >= lit("1996-01-01 00:00:00").cast("timestamp") &&
        col("l_shipdate") < lit("1996-04-01 00:00:00").cast("timestamp"))
      .groupBy(col("l_suppkey"))
      .agg(sum(price * (lit(1).cast("decimal(4,2)") - disc)).as("total_rev"))
    val maxRev = rev.agg(max(col("total_rev")).as("max_rev"))
    Tables.supplier(s, d)
      .join(rev, col("s_suppkey") === col("l_suppkey"))
      .join(broadcast(maxRev), col("total_rev") === col("max_rev"))
      .select(col("s_suppkey"), trim(col("s_name")).as("s_name"),
        col("total_rev").cast("double").as("total_revenue"))
      .orderBy(col("s_suppkey"))
  }

  val q15TopSupplierSql: String =
    s"""WITH revenue AS (
       |  SELECT l_suppkey, sum($SQL_PRICE * (1 - $SQL_DISC)) AS total_rev
       |  FROM lineitem
       |  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
       |    AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
       |  GROUP BY l_suppkey)
       |SELECT s_suppkey, trim(s_name) AS s_name,
       |       CAST(total_rev AS DOUBLE) AS total_revenue
       |FROM supplier JOIN revenue ON s_suppkey = l_suppkey
       |WHERE total_rev = (SELECT max(total_rev) FROM revenue)
       |ORDER BY s_suppkey""".stripMargin

  /** TPC-H Q17-style small-quantity lines: lines whose quantity falls
    * below 20% of their part's average quantity, for one brand. The
    * correlated per-part average is written decorrelated (global
    * per-part agg + join — what Catalyst's decorrelation would produce),
    * and the avg comparison is MULTIPLIED THROUGH
    * (`5 * qty * cnt < sum_qty` ⟺ `qty < 0.2 * sum/cnt`): no division
    * anywhere, so the boundary is exact decimal in both engines. */
  val q17SmallQty: Q = (s, d) => {
    val qty = col("l_quantity").cast("decimal(12,2)")
    val li = Tables.lineitem(s, d)
    val perPart = li.groupBy(col("l_partkey").as("pk"))
      .agg(sum(qty).as("sum_qty"), count(lit(1)).as("cnt"))
    val p = Tables.part(s, d).filter(col("p_brand") === "Brand#23")
    li.join(p, col("l_partkey") === col("p_partkey")) // filtered part still scales with SF: AQE decides
      .join(perPart, col("l_partkey") === col("pk"))
      .filter(qty * lit(5) * col("cnt") < col("sum_qty"))
      .agg(count(lit(1)).as("small_lines"),
        sum(price).cast("double").as("total_price"))
  }

  val q17SmallQtySql: String =
    s"""SELECT count(*) AS small_lines,
       |       CAST(sum($SQL_PRICE) AS DOUBLE) AS total_price
       |FROM lineitem
       |JOIN part ON l_partkey = p_partkey
       |JOIN (SELECT l_partkey AS pk,
       |             sum(CAST(l_quantity AS DECIMAL(12,2))) AS sum_qty,
       |             count(*) AS cnt
       |      FROM lineitem GROUP BY l_partkey) per_part ON l_partkey = pk
       |WHERE p_brand = 'Brand#23'
       |  AND CAST(l_quantity AS DECIMAL(12,2)) * 5 * cnt < sum_qty""".stripMargin

  /** TPC-H Q18-style large-volume orders: orders whose total quantity
    * exceeds a threshold (semi-join against a HAVING aggregate), joined
    * back to customer + lineitem for the report. The big-orders set is a
    * LEFT SEMI join (no row multiplication, Spark can't reorder it into a
    * fact-fact blowup); quantity sums are exact decimal so the HAVING
    * boundary and the reported totals are engine-identical; the LIMIT has
    * a total order via the (o_totalprice, o_orderkey) tiebreak. */
  val q18LargeOrders: Q = (s, d) => {
    // the reported sum(l_quantity) IS the HAVING aggregate — reuse it
    // instead of the textbook IN-subquery's second lineitem join +
    // re-aggregation (neither Catalyst nor DuckDB merges the two on its
    // own; the DataFrame form simply keeps the value). big_ok is unique
    // per order, so the inner join is a semi join that carries its
    // payload: no row multiplication, and AQE broadcasts the
    // threshold-filtered (tiny) aggregate side at runtime.
    val qty = col("l_quantity").cast("decimal(12,2)")
    val big = Tables.lineitem(s, d)
      .groupBy(col("l_orderkey").as("big_ok"))
      .agg(sum(qty).as("oqty"))
      .filter(col("oqty") > 280)
    Tables.orders(s, d)
      .join(big, col("o_orderkey") === col("big_ok"))
      .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
      .select(trim(col("c_name")).as("c_name"), col("c_custkey"),
        col("o_orderkey"), col("o_orderdate"), col("o_totalprice"),
        col("oqty").cast("double").as("total_qty"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      .limit(100)
  }

  val q18LargeOrdersSql: String =
    """SELECT trim(c_name) AS c_name, c_custkey, o_orderkey, o_orderdate,
      |       o_totalprice,
      |       CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS total_qty
      |FROM customer
      |JOIN orders ON c_custkey = o_custkey
      |JOIN lineitem ON o_orderkey = l_orderkey
      |WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem
      |                     GROUP BY l_orderkey
      |                     HAVING sum(CAST(l_quantity AS DECIMAL(12,2))) > 280)
      |GROUP BY trim(c_name), c_custkey, o_orderkey, o_orderdate, o_totalprice
      |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin

  /** TPC-H Q19-style disjunctive join predicate: three (brand, size,
    * quantity) AND-clauses OR'd together across the lineitem⋈part join.
    * The equi-key is still extracted (hash join, not cartesian), and
    * Catalyst derives the part-side disjunction
    * `(brand∧size) ∨ (brand∧size) ∨ …` as a pushed filter below the join
    * — the interesting thing to verify in the plan dump. */
  val q19Disjunct: Q = (s, d) => {
    val m1 = col("p_brand") === "Brand#12" &&
      col("p_size").between(1, 5) && col("l_quantity").between(1, 11)
    val m2 = col("p_brand") === "Brand#23" &&
      col("p_size").between(1, 10) && col("l_quantity").between(10, 20)
    val m3 = col("p_brand") === "Brand#3" &&
      col("p_size").between(1, 15) && col("l_quantity").between(20, 30)
    Tables.lineitem(s, d)
      .join(Tables.part(s, d), col("l_partkey") === col("p_partkey")) // part scales with SF: AQE decides
      .filter(m1 || m2 || m3)
      .agg(sum(price * (lit(1).cast("decimal(4,2)") - disc)).cast("double")
        .as("revenue"),
        count(lit(1)).as("lines"))
  }

  val q19DisjunctSql: String =
    s"""SELECT CAST(sum($SQL_PRICE * (1 - $SQL_DISC)) AS DOUBLE) AS revenue,
       |       count(*) AS lines
       |FROM lineitem JOIN part ON l_partkey = p_partkey
       |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
       |       AND l_quantity BETWEEN 1 AND 11)
       |   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
       |       AND l_quantity BETWEEN 10 AND 20)
       |   OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 15
       |       AND l_quantity BETWEEN 20 AND 30)""".stripMargin

  /** TPC-H Q22-style idle-but-rich customers: above-average account
    * balance AND no urgent order ever (the fixture has no order-less
    * customers, so the real Q22's "no orders at all" would be empty —
    * the ANTI-join shape is identical). The global-average threshold is
    * multiplied through (`bal * cnt_pos > total_bal`): no division, the
    * boundary stays exact decimal in both engines. The scalar aggregate
    * is a one-row broadcast; the anti join builds on the urgent-customer
    * id set only. */
  val q22IdleRich: Q = (s, d) => {
    val bal = col("c_acctbal").cast("decimal(12,2)")
    val c = Tables.customer(s, d)
    val pos = c.filter(col("c_acctbal") > 0)
      .agg(sum(bal).as("total_bal"), count(lit(1)).as("cnt_pos"))
    val urgent = Tables.orders(s, d)
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_custkey"))
    c.crossJoin(broadcast(pos))
      .filter(bal * col("cnt_pos") > col("total_bal"))
      .join(urgent, col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("numcust"), sum(bal).cast("double").as("totacctbal"))
      .orderBy(col("c_mktsegment"))
  }

  val q22IdleRichSql: String =
    """SELECT c_mktsegment, count(*) AS numcust,
      |       CAST(sum(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS totacctbal
      |FROM customer
      |WHERE CAST(c_acctbal AS DECIMAL(12,2))
      |        * (SELECT count(*) FROM customer WHERE c_acctbal > 0)
      |      > (SELECT sum(CAST(c_acctbal AS DECIMAL(12,2))) FROM customer
      |         WHERE c_acctbal > 0)
      |  AND NOT EXISTS (SELECT 1 FROM orders
      |                  WHERE o_custkey = c_custkey
      |                    AND o_orderpriority = '1-URGENT')
      |GROUP BY c_mktsegment
      |ORDER BY c_mktsegment""".stripMargin

  /** TPC-H Q16-style supplier counts: DISTINCT suppliers per part
    * attribute group, with a NOT-EXISTS supplier exclusion. The exclusion
    * is a LEFT ANTI join against a tiny negative-balance id set
    * (6 rows at sf0.01, 81 at sf0.1 — broadcast either way); `NOT IN` is
    * deliberately avoided — its three-valued NULL semantics differ
    * between engines, anti-join/NOT EXISTS agree. count(DISTINCT) is
    * exact (two-level hash agg under the hood — Spark expands to a
    * partial distinct before the final count, no global sort). */
  val q16SupplierCnt: Q = (s, d) => {
    val p = Tables.part(s, d).filter(col("p_brand") =!= "Brand#5" &&
      col("p_type") =!= "PROMO" && col("p_size").isin(1, 5, 10, 15, 20))
    val bad = Tables.supplier(s, d).filter(col("s_acctbal") < 0)
      .select(col("s_suppkey"))
    Tables.lineitem(s, d)
      .join(p, col("l_partkey") === col("p_partkey")) // part/supplier slices scale with SF: AQE decides
      .join(bad, col("l_suppkey") === col("s_suppkey"), "left_anti")
      .groupBy(col("p_brand"), col("p_type"), col("p_size"))
      .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
      .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"),
        col("p_size"))
  }

  val q16SupplierCntSql: String =
    """SELECT p_brand, p_type, p_size,
      |       count(DISTINCT l_suppkey) AS supplier_cnt
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |WHERE p_brand <> 'Brand#5' AND p_type <> 'PROMO'
      |  AND p_size IN (1, 5, 10, 15, 20)
      |  AND NOT EXISTS (SELECT 1 FROM supplier
      |                  WHERE s_suppkey = l_suppkey AND s_acctbal < 0)
      |GROUP BY p_brand, p_type, p_size
      |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin

  /** TPC-H Q20-style heavy promo suppliers: suppliers who shipped more
    * than a threshold quantity of SOME single PROMO part — a semi join
    * against a grouped-HAVING subquery (the real Q20's
    * partsupp-availability chain re-expressed on the columns the fixture
    * has). The aggregate runs on the (suppkey, partkey) grain first;
    * only its distinct supplier ids (tiny) reach the supplier table. */
  val q20PromoSuppliers: Q = (s, d) => {
    val qty = col("l_quantity").cast("decimal(12,2)")
    val promoParts = Tables.part(s, d).filter(col("p_type") === "PROMO")
      .select(col("p_partkey"))
    val heavy = Tables.lineitem(s, d)
      .join(promoParts, col("l_partkey") === col("p_partkey")) // filtered part still scales with SF: AQE decides
      .groupBy(col("l_suppkey"), col("l_partkey"))
      .agg(sum(qty).as("promo_qty"))
      .filter(col("promo_qty") > 90)
      .select(col("l_suppkey")).distinct()
    Tables.supplier(s, d)
      .join(heavy, col("s_suppkey") === col("l_suppkey"), "left_semi")
      .select(col("s_suppkey"), trim(col("s_name")).as("s_name"))
      .orderBy(col("s_suppkey"))
  }

  val q20PromoSuppliersSql: String =
    """SELECT s_suppkey, trim(s_name) AS s_name
      |FROM supplier
      |WHERE s_suppkey IN (
      |  SELECT l_suppkey FROM lineitem JOIN part ON l_partkey = p_partkey
      |  WHERE p_type = 'PROMO'
      |  GROUP BY l_suppkey, l_partkey
      |  HAVING sum(CAST(l_quantity AS DECIMAL(12,2))) > 90)
      |ORDER BY s_suppkey""".stripMargin

  /** TPC-H Q11-style important shares: suppliers whose total shipped
    * value exceeds the ALL-supplier mean — a scalar-subquery threshold
    * against a grouped aggregate (the real Q11's fraction-of-total
    * HAVING, made SF-robust by comparing to the mean instead of a fixed
    * fraction). Multiplied through (`v · n_supp > total`) so the
    * boundary is exact decimal; the two global scalars ride ONE extra
    * one-row broadcast (computed in the same single pass over the
    * per-supplier aggregates). */
  val q11ImportantShares: Q = (s, d) => {
    val v = (col("l_extendedprice").cast("decimal(12,2)") *
      col("l_quantity").cast("decimal(12,2)"))
    // localCheckpoint pins the per-supplier aggregate (|suppliers| rows of
    // metadata-class size) so the totals branch reads IT, not a second
    // full fact scan — without it the two branches each rescan lineitem
    // (plan-level ReuseExchange doesn't bridge the extra aggregate node)
    val perSupp = Tables.lineitem(s, d)
      .groupBy(col("l_suppkey"))
      .agg(sum(v).as("supp_value"))
      .localCheckpoint()
    val totals = perSupp.agg(sum(col("supp_value")).as("total_value_all"),
      count(lit(1)).as("n_supp"))
    perSupp.crossJoin(broadcast(totals))
      .filter(col("supp_value") * col("n_supp") > col("total_value_all"))
      .select(col("l_suppkey"),
        col("supp_value").cast("double").as("total_value"))
      .orderBy(col("total_value").desc, col("l_suppkey"))
  }

  val q11ImportantSharesSql: String =
    """WITH per_supp AS (
      |  SELECT l_suppkey,
      |         sum(CAST(l_extendedprice AS DECIMAL(12,2))
      |             * CAST(l_quantity AS DECIMAL(12,2))) AS supp_value
      |  FROM lineitem GROUP BY l_suppkey)
      |SELECT l_suppkey, CAST(supp_value AS DOUBLE) AS total_value
      |FROM per_supp
      |WHERE supp_value * (SELECT count(*) FROM per_supp)
      |      > (SELECT sum(supp_value) FROM per_supp)
      |ORDER BY total_value DESC, l_suppkey""".stripMargin

  /** TPC-H Q21-style waiting suppliers: a supplier's line shipped late
    * (> 60 days after the order date) on a multi-supplier order where NO
    * OTHER supplier shipped late — the EXISTS + NOT-EXISTS pair over the
    * same fact table with inequality correlation (`l2.supp <> l1.supp`).
    * Both subqueries become one-pass joins on the order key: EXISTS →
    * LEFT SEMI, NOT EXISTS → LEFT ANTI, each with the non-equi clause in
    * the join condition (never a per-row re-execution; the anti side is
    * pre-filtered to late lines only before it shuffles). */
  val q21WaitingSuppliers: Q = (s, d) => {
    // EXISTS → LEFT SEMI, NOT EXISTS → LEFT ANTI, each with the
    // inequality correlation (`other supplier`, `also late`) riding the
    // equi-join condition — no per-row subquery re-execution. The
    // alternative per-order-aggregate form (n_supp ≥ 2 ∧ n_late_supp = 1
    // via two countDistincts) is algebraically equivalent (spec-pinned)
    // but measured SLOWER: the double distinct-aggregate Expand doubles
    // the fact rows before two shuffles, costing more than the extra
    // semi/anti pass — both join passes here move only
    // (orderkey, suppkey) and the anti side is the late-line set itself.
    val li = Tables.lineitem(s, d)
    val late = col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAY")
    val l1 = li.join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .filter(late)
      .select(col("l_orderkey").as("wk"), col("l_suppkey").as("ws"),
        col("o_orderdate").as("wd"))
    val l2 = li.select(col("l_orderkey").as("ok2"), col("l_suppkey").as("sk2"))
    // the "another LATE supplier" anti side is the late-line set ITSELF
    // (l1 re-aliased) — not the full fact re-checked against the date in
    // the join condition: the anti join builds on late lines only. The
    // l1 subtree computes twice in the static plan (column-pruned scans;
    // AQE may still dedupe the stages at runtime) — what matters at
    // scale is that only late (orderkey, suppkey) pairs enter the anti
    // exchange, not every lineitem row
    val l3 = l1.select(col("wk").as("ok3"), col("ws").as("sk3"))
    l1
      .join(l2, col("wk") === col("ok2") && col("ws") =!= col("sk2"),
        "left_semi")
      .join(l3, col("wk") === col("ok3") && col("ws") =!= col("sk3"),
        "left_anti")
      .join(Tables.supplier(s, d), col("ws") === col("s_suppkey"))
      .groupBy(trim(col("s_name")).as("s_name"))
      .agg(count(lit(1)).as("numwait"))
      .orderBy(col("numwait").desc, col("s_name"))
      .limit(20)
  }

  val q21WaitingSuppliersSql: String =
    """SELECT trim(s_name) AS s_name, count(*) AS numwait
      |FROM supplier, lineitem l1, orders
      |WHERE s_suppkey = l1.l_suppkey AND o_orderkey = l1.l_orderkey
      |  AND l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
      |  AND EXISTS (SELECT 1 FROM lineitem l2
      |              WHERE l2.l_orderkey = l1.l_orderkey
      |                AND l2.l_suppkey <> l1.l_suppkey)
      |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
      |                  WHERE l3.l_orderkey = l1.l_orderkey
      |                    AND l3.l_suppkey <> l1.l_suppkey
      |                    AND l3.l_shipdate > o_orderdate + INTERVAL 60 DAY)
      |GROUP BY trim(s_name)
      |ORDER BY numwait DESC, s_name LIMIT 20""".stripMargin

  /** TPC-H Q2's correlated-subquery SHAPE on the columns the fixture has:
    * the supplier(s) holding their nation's maximum account balance
    * (the fixture ships no partsupp/region tables, so the real Q2's
    * min-supplycost-per-part becomes max-acctbal-per-nation — the same
    * correlated scalar subquery over a join, decorrelated by Catalyst
    * into an aggregate + join with no per-row re-execution). */
  val q2TopSupplier: Q = (s, d) =>
    withScopedViews(s, "supplier" -> Tables.supplier(s, d),
      "nation" -> Tables.nation(s, d)) { v =>
      s.sql(
        s"""SELECT s_suppkey, s_name, n_name
           |FROM ${v("supplier")} s JOIN ${v("nation")} n ON s_nationkey = n_nationkey
           |WHERE s_acctbal = (SELECT max(s2.s_acctbal) FROM ${v("supplier")} s2
           |                   WHERE s2.s_nationkey = s.s_nationkey)
           |""".stripMargin)
    }

  val q2TopSupplierSql: String =
    """SELECT s_suppkey, s_name, n_name
      |FROM supplier s JOIN nation n ON s_nationkey = n_nationkey
      |WHERE s_acctbal = (SELECT max(s2.s_acctbal) FROM supplier s2
      |                   WHERE s2.s_nationkey = s.s_nationkey)""".stripMargin

  /** W1: ranking window — top-3 orders per customer. */
  val w1Rank: Q = (s, d) => {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    Tables.orders(s, d)
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= 3)
  }

  val w1RankSql: String =
    """SELECT * FROM (
      |  SELECT o_custkey, o_orderkey, o_totalprice,
      |         row_number() OVER (PARTITION BY o_custkey
      |                            ORDER BY o_totalprice DESC, o_orderkey) AS rn
      |  FROM orders) t
      |WHERE rn <= 3""".stripMargin

  /** W6: top-3 orders per customer through the custom TopKPerKeyExec
    * physical operator (heap per key, no partition sort) — result-identical
    * to the w1 window formulation, which is what the oracle checks. */
  val w6TopkNative: Q = (s, d) =>
    graft.plans.TopKPerKey(
      Tables.orders(s, d).select(col("o_custkey"), col("o_orderkey"), col("o_totalprice")),
      keys = Seq("o_custkey"),
      order = Seq("o_totalprice" -> false, "o_orderkey" -> true),
      k = 3)

  val w6TopkNativeSql: String =
    """SELECT o_custkey, o_orderkey, o_totalprice FROM (
      |  SELECT o_custkey, o_orderkey, o_totalprice,
      |         row_number() OVER (PARTITION BY o_custkey
      |                            ORDER BY o_totalprice DESC, o_orderkey) AS rn
      |  FROM orders) t
      |WHERE rn <= 3""".stripMargin

  /** W2: tumbling event-time window aggregation (batch form). */
  val w2Tumbling: Q = (s, d) =>
    Windows.tumbling(Tables.events(s, d))
      .withColumn("window_start", date_format(col("window_start"), "yyyy-MM-dd HH:mm:ss"))

  val w2TumblingSql: String =
    """SELECT strftime(CAST(date_trunc('day', ts) AS TIMESTAMP), '%Y-%m-%d %H:%M:%S') AS window_start, event_type,
      |       count(*) AS n_events,
      |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM events GROUP BY 1, 2""".stripMargin

  /** W3: gap-based sessionization via session_window. */
  val w3Sessions: Q = (s, d) =>
    Windows.sessions(Tables.events(s, d))
      .withColumn("session_start", date_format(col("session_start"), "yyyy-MM-dd HH:mm:ss"))

  val w3SessionsSql: String =
    """WITH o AS (
      |  SELECT user_id, ts, value,
      |         lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev_ts
      |  FROM events),
      |f AS (
      |  SELECT *, CASE WHEN prev_ts IS NULL
      |                   OR epoch_us(ts) - epoch_us(prev_ts) >= 1800000000
      |                 THEN 1 ELSE 0 END AS new_session
      |  FROM o),
      |s AS (
      |  SELECT *, sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
      |                                   ROWS UNBOUNDED PRECEDING) AS session_id
      |  FROM f)
      |SELECT user_id, strftime(CAST(date_trunc('second', min(ts)) AS TIMESTAMP), '%Y-%m-%d %H:%M:%S') AS session_start,
      |       count(*) AS n_events,
      |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM s GROUP BY user_id, session_id""".stripMargin

  /** ST1: the same window aggregation through Structured Streaming —
    * stream/batch parity is enforced by sharing w2-shaped oracle SQL. */
  val st1Stream: Q = (s, d) =>
    EventStream.runWindowedOverFixture(s, d)
      .withColumn("window_start", date_format(col("window_start"), "yyyy-MM-dd HH:mm:ss"))

  /** ST3: the event-time STATEFUL sessionizer (flatMapGroupsWithState +
    * EventTimeTimeout) replayed over the fixture, with a far-future
    * sentinel advancing the watermark so every session closes. Must equal
    * the batch session_window result (`w3`'s oracle) row-for-row — gap
    * logic runs at exact microsecond precision for that reason. */
  val st3StreamSessions: Q = (s, d) =>
    graft.streaming.SessionStream.runOverFixture(s, d)
      .select(col("user_id"),
        date_format(col("session_start"), "yyyy-MM-dd HH:mm:ss").as("session_start"),
        col("n_events"),
        portableRound(col("sum_value"), 2).as("sum_value"))

  /** ST4: stream-stream interval join — purchases × same-user clicks in
    * the preceding 10 minutes, as a continuous two-stream computation
    * with watermark-bounded join state. Must equal the batch range join
    * row-for-row. */
  val st4StreamJoin: Q = (s, d) =>
    EventStream.runIntervalJoinOverFixture(s, d)
      .select(col("p_id").as("purchase_id"), col("c_id").as("click_id"),
        col("p_user").as("user_id"),
        date_format(col("p_ts"), "yyyy-MM-dd HH:mm:ss").as("purchase_ts"))

  val st4StreamJoinSql: String =
    """SELECT p.event_id AS purchase_id, c.event_id AS click_id,
      |       p.user_id,
      |       strftime(CAST(date_trunc('second', p.ts) AS TIMESTAMP), '%Y-%m-%d %H:%M:%S') AS purchase_ts
      |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
      |JOIN (SELECT * FROM events WHERE event_type = 'click') c
      |  ON p.user_id = c.user_id
      | AND c.ts >= p.ts - INTERVAL 10 MINUTE AND c.ts <= p.ts""".stripMargin

  /** ST2: streaming exact dedup under real duplication — the fixture
    * replays twice (every event arrives twice), `dropDuplicates(event_id)`
    * with watermark-bounded state must reconstruct the batch table
    * exactly. The oracle is simply the events table. */
  val st2StreamDedup: Q = (s, d) =>
    EventStream.runDedupOverFixture(s, d)
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("event_ts"))

  val st2StreamDedupSql: String =
    """SELECT event_id, user_id, event_type, value,
      |       strftime(CAST(date_trunc('second', ts) AS TIMESTAMP), '%Y-%m-%d %H:%M:%S') AS event_ts
      |FROM events""".stripMargin

  /** ST5: stream-STATIC broadcast enrich — each micro-batch left-joins the
    * static customer dim with default-on-miss 'Unknown' (the reference's
    * lookup semantics as a continuous computation; the dim is restricted
    * to custkey < 100 so the miss path genuinely runs). Exact batch
    * parity: the oracle is the equivalent batch left join. */
  val st5StreamEnrich: Q = (s, d) =>
    graft.streaming.EventStream.runEnrichOverFixture(s, d)

  val st5StreamEnrichSql: String =
    """SELECT event_id, user_id,
      |       coalesce(trim(c_name), 'Unknown') AS customer_name,
      |       event_type, value
      |FROM events
      |LEFT JOIN (SELECT * FROM customer WHERE c_custkey < 100) c
      |  ON user_id = c_custkey""".stripMargin

  /** DQ1 — data-quality admission audit: orders checked in ONE fact scan
    * (null FKs, non-positive totals, duplicate order keys) plus a
    * left-anti orphan count against the TRUSTED dimension slice
    * (customers with positive balance) — the integrity gate a nightly
    * load runs before publishing a batch. */
  val dq1IntegrityAudit: Q = (s, d) =>
    graft.etl.Metrics.integrityAudit(
      Tables.orders(s, d),
      Tables.customer(s, d).filter(col("c_acctbal") > 0),
      factPk = col("o_orderkey"), fk = col("o_custkey"),
      dimPk = col("c_custkey"), measure = col("o_totalprice"))

  val dq1IntegrityAuditSql: String =
    """SELECT count(*) AS n_rows,
      |       CAST(count(*) FILTER (o_custkey IS NULL) AS BIGINT) AS n_null_fk,
      |       CAST(count(*) FILTER (o_totalprice <= 0) AS BIGINT) AS n_nonpositive,
      |       CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT) AS n_dup_pk,
      |       (SELECT CAST(count(*) AS BIGINT) FROM orders o
      |        WHERE NOT EXISTS (SELECT 1 FROM customer c
      |                          WHERE c.c_custkey = o.o_custkey
      |                            AND c.c_acctbal > 0)) AS n_orphans
      |FROM orders""".stripMargin

  /** FUNNEL1 — ordered conversion funnel (view → click → purchase, each
    * stage strictly after the previous): one conditional-min aggregation
    * per stage, every exchange on user_id — no self-join explosion, no
    * full-stream window. Fixture ts is micro-exact in both engines, so
    * the strict inequalities agree cross-engine. */
  val funnel1Conversion: Q = (s, d) =>
    graft.operators.Windows.funnel(Tables.events(s, d),
      Seq("view", "click", "purchase"))

  val funnel1ConversionSql: String =
    """WITH s1 AS (SELECT user_id, min(ts) AS t1 FROM events
      |            WHERE event_type = 'view' GROUP BY user_id),
      |s2 AS (SELECT e.user_id, min(e.ts) AS t2 FROM events e
      |       JOIN s1 ON e.user_id = s1.user_id
      |       WHERE e.event_type = 'click' AND e.ts > s1.t1 GROUP BY e.user_id),
      |s3 AS (SELECT e.user_id, min(e.ts) AS t3 FROM events e
      |       JOIN s2 ON e.user_id = s2.user_id
      |       WHERE e.event_type = 'purchase' AND e.ts > s2.t2 GROUP BY e.user_id)
      |SELECT s1.user_id,
      |       strftime(CAST(s1.t1 AS TIMESTAMP), '%Y-%m-%d %H:%M:%S') AS ts_stage_1,
      |       strftime(CAST(s2.t2 AS TIMESTAMP), '%Y-%m-%d %H:%M:%S') AS ts_stage_2,
      |       strftime(CAST(s3.t3 AS TIMESTAMP), '%Y-%m-%d %H:%M:%S') AS ts_stage_3,
      |       CAST(1 + CAST(s2.user_id IS NOT NULL AS INT)
      |              + CAST(s3.user_id IS NOT NULL AS INT) AS BIGINT) AS reached
      |FROM s1
      |LEFT JOIN s2 ON s1.user_id = s2.user_id
      |LEFT JOIN s3 ON s1.user_id = s3.user_id""".stripMargin

  /** EMB3 — sparse random projection (Achlioptas ±1/0, √(3/16) scale):
    * JL dimensionality reduction 64 → 16 as 16 codegen'd dot kernels in
    * one scan-stage projection; the matrix regenerates from (i,j)
    * arithmetic on every engine, so the oracle replays it exactly. */
  val emb3RandomProjection: Q = (s, d) =>
    graft.operators.Similarity.randomProjection(Tables.embeddings(s, d))

  val emb3RandomProjectionSql: String = {
    val terms = (0 until 16).map { j =>
      s"CAST(floor(list_sum([emb[i+1] * ((((131*i + 419*$j + 73*i*$j) % 1021) % 3) - 1) FOR i IN RANGE(0, 64)])" +
        s" * sqrt(3.0/16) * 10000 + 0.5) AS BIGINT)"
    }.mkString("[", ", ", "]")
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings)
       |SELECT vec_id, array_to_string($terms, ',') AS proj_vec_s FROM e""".stripMargin
  }

  /** ST6 — streaming CDC merge (foreachBatch lake-MERGE): the fixture
    * replays as three micro-batches, each folded latest-wins into a
    * per-user state table; the converged state must equal the batch
    * per-user argmax by (ts, event_id) — associativity of the merge is
    * the contract under test. */
  val st6StreamCdc: Q = (s, d) =>
    graft.streaming.EventStream.runCdcMergeOverFixture(s, d)

  val st6StreamCdcSql: String =
    """SELECT user_id, event_type,
      |       strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d %H:%M:%S') AS last_ts
      |FROM (SELECT user_id, event_type, ts,
      |             row_number() OVER (PARTITION BY user_id
      |                                ORDER BY ts DESC, event_id DESC) AS rn
      |      FROM events)
      |WHERE rn = 1""".stripMargin

  // ──────────────────────────── dedup family ─────────────────────────────

  val d1Exact: Q = (s, d) => Dedup.exact(Tables.documents(s, d))

  val d1ExactSql: String =
    "SELECT min(doc_id) AS doc_id, count(*) AS n_copies FROM documents GROUP BY text"

  /** Exact-dedup metrics (rows_in/rows_out/dedup_removed, A1–A3 shape). */
  val d1Metrics: Q = (s, d) =>
    Dedup.exactMetrics(Tables.documents(s, d), col("text"))

  val d1MetricsSql: String =
    """SELECT count(*) AS rows_in, count(DISTINCT text) AS rows_out,
      |       count(*) - count(DISTINCT text) AS dedup_removed
      |FROM documents""".stripMargin

  /** MinHash+LSH near-dup candidates. The signature values are xxhash64-
    * based (engine-specific), so the per-pair output carries no SQL oracle;
    * the candidate set's QUALITY contract is driver-checked by [[d2Gate]]. */
  val d2Minhash: Q = (s, d) => Dedup.minhashPairs(Tables.documents(s, d))

  /** Driver gate for d2: every true pair at 3-shingle Jaccard ≥ 0.8 must be
    * found (16 bands × 4 rows: per-band match p = j⁴ ≥ 0.41, miss p ≤
    * (1−0.41)¹⁶ ≈ 2e-4 per pair — measured 0 misses at every SF); no
    * candidate may share zero shingles (xxhash collisions only — none
    * exist on the fixtures); the 64-hash Jaccard estimate must sit within
    * 0.2 of the true value (measured max deviation 0.084). DuckDB pins the
    * expected constants and recomputes the exact-pair count. */
  val d2Gate: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val trueJ = Dedup.ngramJaccardPairsMapCount(docs, 3, 0.0)
      .select(col("a_id"), col("b_id"), col("jaccard"))
    val cands = d2Minhash(s, d).select(col("a_id"), col("b_id"), col("est_jaccard"))
    val high = trueJ.filter(col("jaccard") >= 0.8)
    val nJ08 = high.agg(count(lit(1)).as("n_exact_j08"))
    val missed = high.join(cands, Seq("a_id", "b_id"), "left_anti")
      .agg(count(lit(1)).as("missed_j08"))
    val joined = cands.join(trueJ, Seq("a_id", "b_id"), "left")
    val zeroOverlap = joined.filter(col("jaccard").isNull)
      .agg(count(lit(1)).as("zero_overlap_candidates"))
    val estDev = joined.filter(col("jaccard").isNotNull)
      .agg((max(abs(col("est_jaccard") - col("jaccard"))) <= 0.2).as("est_dev_ok"))
    nJ08.crossJoin(missed).crossJoin(zeroOverlap).crossJoin(estDev)
  }

  val d2GateSql: String =
    """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |sh AS (SELECT doc_id,
      |         list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
      |                        FOR i IN RANGE(1, len(t) - 1)]) AS s
      |       FROM toks WHERE len(t) >= 3),
      |sz AS (SELECT doc_id, len(s) AS n_sh FROM sh),
      |ex AS (SELECT doc_id, unnest(s) AS sg FROM sh),
      |pairs AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS inter
      |          FROM ex a JOIN ex b ON a.sg = b.sg AND a.doc_id < b.doc_id
      |          GROUP BY 1, 2),
      |j AS (SELECT a_id, b_id,
      |             floor((CAST(inter AS DOUBLE) / (na.n_sh + nb.n_sh - inter)) * 10000 + 0.5) / 10000 AS jac
      |      FROM pairs
      |      JOIN sz na ON na.doc_id = a_id
      |      JOIN sz nb ON nb.doc_id = b_id)
      |SELECT CAST(count(*) FILTER (WHERE jac >= 0.8) AS BIGINT) AS n_exact_j08,
      |       CAST(0 AS BIGINT) AS missed_j08,
      |       CAST(0 AS BIGINT) AS zero_overlap_candidates,
      |       true AS est_dev_ok
      |FROM j""".stripMargin

  /** SimHash signatures — md5-derived, so the oracle CAN recompute them. */
  val d3Simhash: Q = (s, d) => Dedup.simhash(Tables.documents(s, d))

  val d3SimhashSql: String = {
    val pow16 = Array(268435456L, 16777216L, 1048576L, 65536L, 4096L, 256L, 16L, 1L)
    val hexInt = (0 until 8)
      .map(k => s"(strpos('0123456789abcdef', substr(md5(tok), ${k + 1}, 1)) - 1) * ${pow16(k)}")
      .mkString(" + ")
    val votes = (0 until 32)
      .map(j => s"sum(CASE WHEN (h >> $j) & 1 = 1 THEN 1 ELSE -1 END) AS v_$j")
      .mkString(", ")
    val assemble = (0 until 32)
      .map(j => s"CASE WHEN v_$j > 0 THEN ${1L << j} ELSE 0 END")
      .mkString(" + ")
    s"""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
       |th AS (SELECT doc_id, $hexInt AS h FROM tok),
       |v AS (SELECT doc_id, $votes FROM th GROUP BY doc_id)
       |SELECT doc_id, CAST($assemble AS BIGINT) AS simhash FROM v""".stripMargin
  }

  /** Exact n-gram (5-shingle) Jaccard pairs through the inverted index. */
  val d4Ngram: Q = (s, d) => Dedup.ngramJaccardPairs(Tables.documents(s, d))

  val d4NgramSql: String =
    """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |sh AS (SELECT doc_id,
      |         list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' ' || t[i+4]
      |                        FOR i IN RANGE(1, len(t) - 3)]) AS s
      |       FROM toks WHERE len(t) >= 5),
      |sz AS (SELECT doc_id, len(s) AS n_sh FROM sh),
      |ex AS (SELECT doc_id, unnest(s) AS sg FROM sh),
      |pairs AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS inter
      |          FROM ex a JOIN ex b ON a.sg = b.sg AND a.doc_id < b.doc_id
      |          GROUP BY 1, 2)
      |SELECT a_id, b_id,
      |       floor((CAST(inter AS DOUBLE) / (na.n_sh + nb.n_sh - inter)) * 10000 + 0.5) / 10000 AS jaccard
      |FROM pairs
      |JOIN sz na ON na.doc_id = a_id
      |JOIN sz nb ON nb.doc_id = b_id
      |WHERE floor((CAST(inter AS DOUBLE) / (na.n_sh + nb.n_sh - inter)) * 10000 + 0.5) / 10000 > 0""".stripMargin

  /** OVL1 — the cross-source contamination matrix
    * ([[graft.operators.Dedup.sourceOverlap]]): for every source pair, the
    * Jaccard overlap and per-side containment of their distinct 5-gram
    * shingle sets. The inverted-index join is keyed on 8-byte shingle
    * hashes and its output is bounded by C(|sources|, 2) — source
    * cardinality is a dimension, so the audit is tiny at any corpus
    * size. */
  val ovl1SourceOverlap: Q = (s, d) =>
    graft.operators.Dedup.sourceOverlap(Tables.documents(s, d))

  val ovl1SourceOverlapSql: String =
    """WITH toks AS (SELECT source, string_split(text, ' ') AS t FROM documents),
      |sh AS (SELECT DISTINCT source,
      |         unnest([t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' ' || t[i+4]
      |                 FOR i IN RANGE(1, len(t) - 3)]) AS sg
      |       FROM toks WHERE len(t) >= 5),
      |sz AS (SELECT source, count(*) AS n_sh FROM sh GROUP BY 1),
      |pr AS (SELECT a.source AS source_a, b.source AS source_b, count(*) AS inter
      |       FROM sh a JOIN sh b ON a.sg = b.sg AND a.source < b.source
      |       GROUP BY 1, 2)
      |SELECT source_a, source_b, inter,
      |       floor((CAST(inter AS DOUBLE) / (na.n_sh + nb.n_sh - inter)) * 10000 + 0.5) / 10000 AS jaccard,
      |       floor((CAST(inter AS DOUBLE) / na.n_sh) * 10000 + 0.5) / 10000 AS containment_a,
      |       floor((CAST(inter AS DOUBLE) / nb.n_sh) * 10000 + 0.5) / 10000 AS containment_b
      |FROM pr
      |JOIN sz na ON na.source = pr.source_a
      |JOIN sz nb ON nb.source = pr.source_b""".stripMargin

  /** Embedding-cosine near-dup pairs (threshold tuned to fixture geometry)
    * on the exact brute path, which the oracle's all-pairs scan replays;
    * d6 runs the LSH path ([[Dedup.cosinePairsLshAuto]]). */
  val d5Cosine: Q = (s, d) => Dedup.cosinePairsBrute(Tables.embeddings(s, d), 0.35)

  val d5CosineSql: String =
    """SELECT a.vec_id AS a_id, b.vec_id AS b_id,
      |       floor((list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))) * 10000 + 0.5) / 10000 AS cosine
      |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
      |WHERE floor((list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))) * 10000 + 0.5) / 10000 >= 0.35""".stripMargin

  /** The 100 TB near-dup path as a runnable query: multi-table LSH bucket
    * candidates with the (planes, radius, tables) config derived from the
    * 0.2 threshold and the corpus count by
    * [[graft.operators.Similarity.lshAutoPlan]] (boundary-pair collision
    * math; asymmetric exactly-once probes), exactly rescored.
    * The candidate set is approximate but its QUALITY is driver-checked
    * by [[d6Gate]]: zero false pairs, zero misses at ≥ 0.35, and ≥ 99.5%
    * recall at the 0.2 threshold (theoretical boundary-pair miss ≤ 5e-5;
    * measured 100% on the fixtures). */
  val d6LshNeardup: Q = (s, d) =>
    Dedup.cosinePairsLshAuto(scanParallel(Tables.embeddings(s, d)), 0.2)

  /** Driver gate for d6: containment (every emitted pair is a true ≥ 0.2
    * pair — DuckDB recomputes nothing LSH-specific, it just pins the
    * expected constants), exact-0.35 coverage, and a recall floor at 0.2.
    * The exact-pair counts cross-check DuckDB's own brute-force scan. */
  val d6Gate: Q = (s, d) => {
    val e = Tables.embeddings(s, d)
    val lshPairs = d6LshNeardup(s, d).select(col("a_id"), col("b_id"))
    val exact20 = Dedup.cosinePairsBrute(e, 0.2).select(col("a_id"), col("b_id"))
    val exact35 = Dedup.cosinePairsBrute(e, 0.35).select(col("a_id"), col("b_id"))
    val nExact35 = exact35.agg(count(lit(1)).as("n_exact_035"))
    val violations = lshPairs.join(exact20, Seq("a_id", "b_id"), "left_anti")
      .agg(count(lit(1)).as("containment_violations"))
    val missed35 = exact35.join(lshPairs, Seq("a_id", "b_id"), "left_anti")
      .agg(count(lit(1)).as("missed_035"))
    val recall20 = exact20.join(lshPairs, Seq("a_id", "b_id"), "left_semi")
      .agg(count(lit(1)).as("found_020"))
      .crossJoin(exact20.agg(count(lit(1)).as("n_exact_020")))
      .select((col("found_020") >= col("n_exact_020") * 0.995).as("recall_020_ok"))
    nExact35.crossJoin(violations).crossJoin(missed35).crossJoin(recall20)
  }

  val d6GateSql: String =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
      |p AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id,
      |             floor(list_cosine_similarity(a.emb, b.emb) * 10000 + 0.5) / 10000 AS c
      |      FROM e a JOIN e b ON a.vec_id < b.vec_id)
      |SELECT CAST(count(*) FILTER (WHERE c >= 0.35) AS BIGINT) AS n_exact_035,
      |       CAST(0 AS BIGINT) AS containment_violations,
      |       CAST(0 AS BIGINT) AS missed_035,
      |       true AS recall_020_ok
      |FROM p""".stripMargin

  /** Deterministic near-dup PLANT for the production-regime LSH twins
    * (d6_production / sim2_production): the fixture embeddings are
    * near-random 64-dim vectors whose max pairwise cosine is ~0.51 (sf0.01)
    * to ~0.60 (sf0.1), so the corpus-dedup threshold (≥ 0.8) — the regime
    * where [[graft.operators.Similarity.lshAutoPlan]]'s bucketing prunes
    * by orders of magnitude instead of enumerating (SCALE.md §near-dup) —
    * has no natural pairs to find. Every 20th vector gets a twin,
    * `emb + 0.3 × successor's emb`, computed in DOUBLE and cast to float32
    * exactly once so the DuckDB oracle replays the floats bit-for-bit.
    * Twin↔source cosine lands at ~0.93–0.97: comfortably above 0.8 and far
    * from the recall boundary — the real corpus-dedup shape, where
    * near-dups cluster high and the bulk sits far below threshold. Nothing
    * else crosses 0.8: twin-vs-mixin is ~0.3, twin-vs-unrelated ≤ ~0.6. */
  private[graft] def plantNearDups(e: DataFrame): DataFrame = {
    // twin ids live at +10M; a corpus whose real ids reach that range
    // would silently classify originals as twins (sim2_production's
    // query filter, the gate's top1 check) — fail loudly instead. One
    // scalar agg, trivial next to any consumer of the plant.
    val maxRow = e.agg(max(col("vec_id"))).head
    require(!maxRow.isNullAt(0), "plantNearDups: empty corpus")
    require(maxRow.getLong(0) < 10000000L,
      s"plantNearDups: corpus vec_id reaches ${maxRow.getLong(0)} >= 10M twin-id offset")
    val base = e.select(col("vec_id"), col("embedding"))
    val succ = e.select((col("vec_id") - 1).as("vec_id"),
      col("embedding").as("succ_emb"))
    val twins = base.join(succ, "vec_id")
      .filter(col("vec_id") % 20 === 0)
      .select((col("vec_id") + 10000000L).as("vec_id"),
        zip_with(col("embedding").cast("array<double>"),
          col("succ_emb").cast("array<double>"),
          (x, y) => x + lit(0.3) * y).cast("array<float>").as("embedding"))
    base.unionByName(twins)
  }

  /** D6 in its PRODUCTION regime: the same operator as d6_neardup_lsh
    * ([[Dedup.cosinePairsLshAuto]]) at the corpus-dedup threshold 0.8,
    * where the cost-ranked plan actually buckets — candidate volume scales
    * with the corpus, not its square. The registered d6_neardup_lsh (0.2
    * over near-random vectors) is the enumeration-regime fixture contract
    * by design; THIS row is the wall-clock evidence for the path a 100 TB
    * dedup runs. Ground truth comes from [[plantNearDups]]; quality is
    * pinned by [[d6ProductionGate]]. */
  val d6Production: Q = (s, d) =>
    Dedup.cosinePairsLshAuto(plantNearDups(Tables.embeddings(s, d)), 0.8)

  /** Gate for d6_production: exact planted-pair count (the cross-engine
    * anchor DuckDB brute-forces independently), containment (structural:
    * both paths share the rounded scoring arithmetic, so an emitted pair
    * is always a true ≥ 0.8 pair), and zero misses — the planted pairs sit
    * ≥ 0.93, where the 0.9999-recall-at-0.8 design's per-pair miss
    * probability is ~1e-9. */
  val d6ProductionGate: Q = (s, d) => {
    val planted = plantNearDups(Tables.embeddings(s, d))
    val lshPairs = d6Production(s, d).select(col("a_id"), col("b_id"))
    val exact = Dedup.cosinePairsBrute(planted, 0.8).select(col("a_id"), col("b_id"))
    val nExact = exact.agg(count(lit(1)).as("n_exact_08"))
    val violations = lshPairs.join(exact, Seq("a_id", "b_id"), "left_anti")
      .agg(count(lit(1)).as("containment_violations"))
    val missed = exact.join(lshPairs, Seq("a_id", "b_id"), "left_anti")
      .agg(count(lit(1)).as("missed_08"))
    nExact.crossJoin(violations).crossJoin(missed)
  }

  val d6ProductionGateSql: String =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
      |tw AS (SELECT a.vec_id + 10000000 AS vec_id,
      |              CAST(CAST([a.emb[i] + 0.3 * b.emb[i] FOR i IN RANGE(1, 65)] AS FLOAT[]) AS DOUBLE[]) AS emb
      |       FROM e a JOIN e b ON b.vec_id = a.vec_id + 1
      |       WHERE a.vec_id % 20 = 0),
      |al AS (SELECT vec_id, emb FROM e UNION ALL SELECT vec_id, emb FROM tw),
      |p AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id,
      |             floor(list_cosine_similarity(a.emb, b.emb) * 10000 + 0.5) / 10000 AS c
      |      FROM al a JOIN al b ON a.vec_id < b.vec_id)
      |SELECT CAST(count(*) FILTER (WHERE c >= 0.8) AS BIGINT) AS n_exact_08,
      |       CAST(0 AS BIGINT) AS containment_violations,
      |       CAST(0 AS BIGINT) AS missed_08
      |FROM p""".stripMargin

  /** DC3 — SEMANTIC benchmark decontamination over the planted corpus:
    * the embedding-level sibling of dc1/dc2's n-gram forms (paraphrased
    * eval contamination survives shingle checks but not cosine ≥ 0.9).
    * Benchmark = the twin sources (vec_id % 20 = 0); the planted twins
    * are exactly the contamination the scan must find. Broadcast bench +
    * one streamed cosine kernel + one vec_id rollup — dc1's shuffle-free
    * corpus pass with the kernel swapped.
    * See [[graft.operators.Similarity.semanticDecontaminate]]. */
  val dc3SemanticDecontaminate: Q = (s, d) => {
    val planted = plantNearDups(Tables.embeddings(s, d))
    val bench = Tables.embeddings(s, d).filter(col("vec_id") % 20 === 0)
    Similarity.semanticDecontaminate(planted, bench, tau = 0.9)
  }

  val dc3SemanticDecontaminateSql: String =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
      |tw AS (SELECT a.vec_id + 10000000 AS vec_id,
      |              CAST(CAST([a.emb[i] + 0.3 * b.emb[i] FOR i IN RANGE(1, 65)] AS FLOAT[]) AS DOUBLE[]) AS emb
      |       FROM e a JOIN e b ON b.vec_id = a.vec_id + 1
      |       WHERE a.vec_id % 20 = 0),
      |al AS (SELECT vec_id, emb FROM e UNION ALL SELECT vec_id, emb FROM tw),
      |b AS (SELECT vec_id AS bench_id, emb AS be FROM e WHERE vec_id % 20 = 0),
      |sc AS (SELECT a.vec_id, b.bench_id,
      |              floor(list_cosine_similarity(a.emb, b.be) * 10000 + 0.5) / 10000 AS c
      |       FROM al a JOIN b ON a.vec_id <> b.bench_id),
      |h AS (SELECT vec_id, bench_id, c,
      |             row_number() OVER (PARTITION BY vec_id ORDER BY c DESC, bench_id) AS rn,
      |             count(*) OVER (PARTITION BY vec_id) AS nh
      |      FROM sc WHERE c >= 0.9)
      |SELECT vec_id, CAST(nh AS BIGINT) AS n_bench_hits,
      |       CAST(bench_id AS BIGINT) AS top_bench_id, c AS top_cos
      |FROM h WHERE rn = 1""".stripMargin

  /** BITEXT1 — margin-based parallel-pair mining
    * ([[graft.operators.Similarity.marginMine]]): the multilingual
    * curation op that mines translation pairs from two embedding
    * spaces. The two "languages" are synthesized from the fixture (the
    * d14/wm1 plant discipline): side A is the corpus as-is; on side B
    * every vec_id % 5 == 0 vector is the SAME vector (the planted true
    * translation — an aligned encoder maps translations to nearby
    * points) and every other vector is element-REVERSED (decorrelated —
    * no translation exists). Planted pairs must surface as mutual top-1
    * with cosine 1.0 and margin ≫ 1; `planted` rides along so the
    * oracle pins mining against ground truth. */
  val bitext1MarginMining: Q = (s, d) => {
    val e = Tables.embeddings(s, d)
    val srcSide = e.select(col("vec_id").as("a_id"), col("embedding").as("emb"))
    val tgtSide = e.select(col("vec_id").as("b_id"),
      when(col("vec_id") % 5 === 0, col("embedding"))
        .otherwise(reverse(col("embedding"))).as("emb"))
    Similarity.marginMine(srcSide, tgtSide)
      .withColumn("planted", col("a_id") === col("b_id") && col("a_id") % 5 === 0)
  }

  /** Shared CTE chain of the bitext1/bitext2_gate oracles: the exact
    * cross-score → per-direction rank + top-4 neighborhood window sums
    * (the operator's own two-exchange shape) → mutual-top-1 frame
    * `mx(a_id, b_id, cosine, margin)`. */
  private val bitextExactCtesSql: String = {
    def gridMean(sumCol: String) =
      s"floor(CAST($sumCol AS DOUBLE) / 4 + 0.5) / 10000"
    val margin = s"floor(c / ((${gridMean("suma")} + ${gridMean("sumb")}) / 2) * 1000000 + 0.5) / 1000000"
    s"""e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
       |a AS (SELECT vec_id AS a_id, emb AS ae FROM e),
       |b AS (SELECT vec_id AS b_id,
       |        CASE WHEN vec_id % 5 = 0 THEN emb ELSE list_reverse(emb) END AS be
       |      FROM e),
       |sc AS (SELECT a_id, b_id,
       |         floor(list_cosine_similarity(ae, be) * 10000 + 0.5) / 10000 AS c
       |       FROM a CROSS JOIN b),
       |r1 AS (SELECT *, row_number() OVER (PARTITION BY a_id ORDER BY c DESC, b_id) AS rka,
       |              row_number() OVER (PARTITION BY b_id ORDER BY c DESC, a_id) AS rkb
       |       FROM sc),
       |r2 AS (SELECT *,
       |         sum(CASE WHEN rka <= 4 THEN CAST(floor(c * 10000 + 0.5) AS BIGINT) END)
       |           OVER (PARTITION BY a_id) AS suma,
       |         sum(CASE WHEN rkb <= 4 THEN CAST(floor(c * 10000 + 0.5) AS BIGINT) END)
       |           OVER (PARTITION BY b_id) AS sumb
       |       FROM r1),
       |mx AS (SELECT a_id, b_id, c AS cosine, $margin AS margin
       |       FROM r2 WHERE rka = 1 AND rkb = 1)""".stripMargin
  }

  val bitext1MarginMiningSql: String =
    s"""WITH $bitextExactCtesSql
       |SELECT a_id, b_id, cosine, margin,
       |  margin >= 1.2 AS mined,
       |  a_id = b_id AND a_id % 5 = 0 AS planted
       |FROM mx""".stripMargin

  /** BITEXT2 — bitext1 through the LSH candidate stream
    * ([[graft.operators.Similarity.marginMineAnnAuto]]): the
    * corpus-scale route (both "languages" are corpus-sized, so
    * candidates come from a signature-keyed shuffle join, never a
    * broadcast), with the whole (planes, radius, tables) design
    * cost-ranked at the 0.9 mining band — the 10× sweep caught two
    * wrong designs on the way here (pinned planes: ~n²/2^planes rows;
    * 0.8-design table compensation: 41× wall at 10×). Approximate by
    * design (no oracle); [[bitext2Gate]] pins planted recovery and
    * high-band recall. */
  val bitext2Production: Q = (s, d) => {
    val e = Tables.embeddings(s, d)
    val srcSide = e.select(col("vec_id").as("a_id"), col("embedding").as("emb"))
    val tgtSide = e.select(col("vec_id").as("b_id"),
      when(col("vec_id") % 5 === 0, col("embedding"))
        .otherwise(reverse(col("embedding"))).as("emb"))
    Similarity.marginMineAnnAuto(srcSide, tgtSide)
  }

  /** Gate for bitext2_production: every planted translation must be
    * mined by the ANN route with cosine 1.0 (identical vectors share
    * every LSH bucket — a miss is structurally impossible, the gate
    * proves it cross-engine), and recall of the exact arm's HIGH-margin
    * band (margin ≥ 1.5 — the true-translation band; random mutual
    * neighbors top out ~1.37 on the fixture) must clear 0.9.
    * `n_planted`/`n_exact_high` anchor both engines. */
  val bitext2Gate: Q = (s, d) => {
    val ann = bitext2Production(s, d).filter(col("mined"))
      .select(col("a_id"), col("b_id"), col("cosine"))
      .localCheckpoint() // two consumers: mine ONCE
    val exactHigh = bitext1MarginMining(s, d)
      .filter(col("margin") >= 1.5).select(col("a_id"), col("b_id"))
      .localCheckpoint() // two consumers: score ONCE
    val hits = exactHigh
      .join(ann.select(col("a_id"), col("b_id")), Seq("a_id", "b_id"), "left_semi")
      .agg(count(lit(1)).as("hits"))
    val planted = Tables.embeddings(s, d).filter(col("vec_id") % 5 === 0)
      .select(col("vec_id").as("a_id"), col("vec_id").as("b_id"))
    val plantedHits = planted
      .join(ann.filter(col("cosine") === 1.0).select(col("a_id"), col("b_id")),
        Seq("a_id", "b_id"), "left_semi")
      .agg(count(lit(1)).as("p_hits"))
    planted.agg(count(lit(1)).as("n_planted"))
      .crossJoin(exactHigh.agg(count(lit(1)).as("n_exact_high")))
      .crossJoin(hits).crossJoin(plantedHits)
      .select(col("n_planted"), col("n_exact_high"),
        (col("hits") >= col("n_exact_high") * 0.9).as("recall_ok"),
        (col("p_hits") === col("n_planted")).as("planted_ok"))
  }

  val bitext2GateSql: String =
    s"""WITH $bitextExactCtesSql
       |SELECT (SELECT CAST(count(*) AS BIGINT) FROM embeddings WHERE vec_id % 5 = 0) AS n_planted,
       |       (SELECT CAST(count(*) AS BIGINT) FROM mx WHERE margin >= 1.5) AS n_exact_high,
       |       true AS recall_ok, true AS planted_ok""".stripMargin

  /** HUB1 — hubness audit of the embedding space
    * ([[graft.operators.Similarity.hubnessAudit]]): the k-occurrence
    * histogram (how many exact top-5 lists each vector appears in) with
    * the distribution's moment skewness — the health check every kNN
    * consumer (lab1, sim4, bitext mining) silently depends on; the
    * margin in bitext1/2 exists precisely to cancel what this audit
    * measures. */
  val hub1Hubness: Q = (s, d) =>
    Similarity.hubnessAudit(Tables.embeddings(s, d))

  val hub1HubnessSql: String = {
    val m = "CAST(s1 AS DOUBLE) / n"
    val vr = s"CAST(s2 AS DOUBLE) / n - ($m) * ($m)"
    val m3 = s"CAST(s3 AS DOUBLE) / n - 3.0 * ($m) * (CAST(s2 AS DOUBLE) / n) + 2.0 * ($m) * ($m) * ($m)"
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
       |sc AS (SELECT a.vec_id AS q_id, b.vec_id AS n_id,
       |         floor(list_cosine_similarity(a.emb, b.emb) * 10000 + 0.5) / 10000 AS c
       |       FROM e a JOIN e b ON a.vec_id <> b.vec_id),
       |kn AS (SELECT n_id FROM (
       |         SELECT q_id, n_id,
       |                row_number() OVER (PARTITION BY q_id ORDER BY c DESC, n_id) AS rk
       |         FROM sc) t WHERE rk <= 5),
       |occ AS (SELECT e.vec_id, COALESCE(k.cnt, 0) AS k_occ
       |        FROM e LEFT JOIN (SELECT n_id, CAST(count(*) AS BIGINT) AS cnt
       |                          FROM kn GROUP BY n_id) k ON k.n_id = e.vec_id),
       |mom AS (SELECT CAST(count(*) AS BIGINT) AS n,
       |               CAST(sum(k_occ) AS BIGINT) AS s1,
       |               CAST(sum(k_occ * k_occ) AS BIGINT) AS s2,
       |               CAST(sum(k_occ * k_occ * k_occ) AS BIGINT) AS s3
       |        FROM occ)
       |SELECT k_occ, CAST(count(*) AS BIGINT) AS n_vectors,
       |       ${portableRoundSql(m, 6)} AS mean_k_occ,
       |       ${portableRoundSql(s"($m3) / pow($vr, 1.5)", 6)} AS skewness
       |FROM occ CROSS JOIN mom GROUP BY k_occ, n, s1, s2, s3""".stripMargin
  }

  /** BQ1 — binary (sign) quantization recall audit
    * ([[graft.operators.Similarity.binaryHammingRecall]]): 64 sign bits
    * per vector packed into two 32-bit words, candidates by XOR+popcount
    * Hamming, and the recall of BOTH the raw Hamming top-5 and the
    * exact-cosine rerank of the Hamming top-20 against the float top-5 —
    * the emb5 audit at the 1-bit end of the compression axis, and the
    * two-stage (code scan → float rerank) serving pattern binary vector
    * indexes deploy. Fully deterministic → FULL oracle. */
  val bq1BinaryHamming: Q = (s, d) =>
    Similarity.binaryHammingRecall(Tables.embeddings(s, d))

  val bq1BinaryHammingSql: String = {
    def pack(off: Int) =
      s"list_sum([CASE WHEN emb[j + $off] > 0 THEN (1::BIGINT << (j - 1)) ELSE 0 END FOR j IN generate_series(1, 32)])"
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
       |cd AS (SELECT vec_id, emb, ${pack(0)} AS lo, ${pack(32)} AS hi FROM e),
       |sc AS (SELECT q.vec_id AS q_id, c.vec_id AS n_id, q.emb AS qe, c.emb AS ne,
       |         bit_count(xor(q.lo, c.lo)) + bit_count(xor(q.hi, c.hi)) AS hamming
       |       FROM cd q JOIN cd c ON q.vec_id <> c.vec_id
       |       WHERE q.vec_id < 10),
       |cand AS (SELECT * FROM (
       |    SELECT q_id, n_id, qe, ne,
       |           row_number() OVER (PARTITION BY q_id ORDER BY hamming, n_id) AS hrank
       |    FROM sc) t WHERE hrank <= 20),
       |raw5 AS (SELECT q_id, n_id FROM cand WHERE hrank <= 5),
       |rr AS (SELECT q_id, n_id FROM (
       |    SELECT q_id, n_id,
       |           row_number() OVER (PARTITION BY q_id
       |             ORDER BY floor(list_cosine_similarity(qe, ne) * 10000 + 0.5) / 10000 DESC, n_id) AS crank
       |    FROM cand) t WHERE crank <= 5),
       |ex AS (SELECT q_id, n_id FROM (
       |    SELECT q.vec_id AS q_id, c.vec_id AS n_id,
       |           row_number() OVER (PARTITION BY q.vec_id
       |             ORDER BY floor(list_cosine_similarity(q.emb, c.emb) * 10000 + 0.5) / 10000 DESC, c.vec_id) AS rk
       |    FROM e q JOIN e c ON q.vec_id <> c.vec_id WHERE q.vec_id < 10) t
       |  WHERE rk <= 5),
       |hb AS (SELECT CAST(count(*) AS BIGINT) AS n_hits_binary
       |       FROM ex JOIN raw5 USING (q_id, n_id)),
       |hr AS (SELECT CAST(count(*) AS BIGINT) AS n_hits_reranked
       |       FROM ex JOIN rr USING (q_id, n_id))
       |SELECT (SELECT CAST(count(DISTINCT q_id) AS BIGINT) FROM ex) AS n_queries,
       |       (SELECT CAST(count(*) AS BIGINT) FROM ex) AS n_exact,
       |       hb.n_hits_binary, hr.n_hits_reranked,
       |       ${portableRoundSql("CAST(hb.n_hits_binary AS DOUBLE) / (SELECT count(*) FROM ex)", 4)} AS recall_binary,
       |       ${portableRoundSql("CAST(hr.n_hits_reranked AS DOUBLE) / (SELECT count(*) FROM ex)", 4)} AS recall_reranked
       |FROM hb CROSS JOIN hr""".stripMargin
  }

  // ───────────────────────── similarity search ───────────────────────────

  /** Brute-force exact cosine top-k for a small query set. */
  val sim1TopK: Q = (s, d) => {
    val e = Tables.embeddings(s, d)
    Similarity.bruteForceTopK(e, e.filter(col("vec_id") < 10), 5)
      .select(col("q_id"), col("n_id"), col("cosine"), col("rank").cast("long").as("rank"))
  }

  val sim1TopKSql: String =
    """WITH q AS (SELECT vec_id AS q_id, embedding AS qe FROM embeddings WHERE vec_id < 10),
      |c AS (SELECT vec_id AS n_id, embedding AS ne FROM embeddings),
      |sc AS (SELECT q_id, n_id, floor((list_cosine_similarity(CAST(qe AS DOUBLE[]), CAST(ne AS DOUBLE[]))) * 10000 + 0.5) / 10000 AS cosine
      |       FROM q JOIN c ON q_id <> n_id),
      |r AS (SELECT q_id, n_id, cosine,
      |             row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, n_id) AS rank
      |      FROM sc)
      |SELECT q_id, n_id, cosine, rank FROM r WHERE rank <= 5""".stripMargin

  /** LAB1 — semi-supervised kNN label propagation, evaluated
    * ([[graft.operators.Similarity.knnLabelSpread]]): hide an embeddings
    * hash fold's labels, vote each hidden vector's label from its k = 5
    * exact-cosine nearest labeled neighbors, report the confusion
    * matrix. On the uniform fixture accuracy reads ~chance (the honest
    * baseline: these embeddings carry no label signal); the spec proves
    * discrimination on a clustered literal corpus. Production swaps the
    * exact kNN for the ANN candidate stream, vote unchanged. */
  val lab1KnnLabelSpread: Q = (s, d) =>
    Similarity.knnLabelSpread(Tables.embeddings(s, d))

  lazy val lab1KnnLabelSpreadSql: String = {
    val foldE = md5BucketSql("'lab-split:' || CAST(vec_id AS VARCHAR)", 10)
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb, label,
       |                  $foldE AS fold
       |           FROM embeddings),
       |lab AS (SELECT * FROM e WHERE fold < 8),
       |hid AS (SELECT * FROM e WHERE fold >= 8),
       |sc AS (SELECT h.vec_id AS q_id, l.vec_id AS n_id, l.label AS n_label,
       |              floor(list_cosine_similarity(h.emb, l.emb) * 10000 + 0.5) / 10000 AS cosine
       |       FROM hid h JOIN lab l ON h.vec_id <> l.vec_id),
       |kn AS (SELECT q_id, n_label,
       |              row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, n_id) AS rank
       |       FROM sc),
       |v AS (SELECT q_id, n_label, count(*) AS v FROM kn WHERE rank <= 5 GROUP BY 1, 2),
       |p AS (SELECT q_id, n_label AS pred_label,
       |             row_number() OVER (PARTITION BY q_id ORDER BY v DESC, n_label) AS rn
       |      FROM v)
       |SELECT CAST(h.label AS BIGINT) AS true_label,
       |       CAST(p.pred_label AS BIGINT) AS pred_label,
       |       count(*) AS n
       |FROM p JOIN hid h ON h.vec_id = p.q_id WHERE p.rn = 1 GROUP BY 1, 2""".stripMargin
  }

  /** HN1 — hard-negative mining over the PLANTED corpus: each planted
    * twin anchors a top-3 search restricted to the cosine band
    * [0.2, 0.8) — the contrastive-training recipe (informative
    * negatives, positives excluded). The twin's own source sits at
    * ~0.95 cosine and is excluded by the band's upper bound BY THE
    * OPERATOR, not by luck; the full DuckDB oracle replays the plant,
    * the band and the ranking digit-exact.
    * See [[graft.operators.Similarity.hardNegatives]]. */
  val hn1HardNegatives: Q = (s, d) => {
    val planted = plantNearDups(Tables.embeddings(s, d))
    Similarity.hardNegatives(planted,
      planted.filter(col("vec_id") >= 10000000L), k = 3,
      loCos = 0.2, hiCos = 0.8)
      .select(col("q_id"), col("n_id"), col("cosine"),
        col("rank").cast("long").as("rank"))
  }

  val hn1HardNegativesSql: String =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
      |tw AS (SELECT a.vec_id + 10000000 AS vec_id,
      |              CAST(CAST([a.emb[i] + 0.3 * b.emb[i] FOR i IN RANGE(1, 65)] AS FLOAT[]) AS DOUBLE[]) AS emb
      |       FROM e a JOIN e b ON b.vec_id = a.vec_id + 1
      |       WHERE a.vec_id % 20 = 0),
      |al AS (SELECT vec_id, emb FROM e UNION ALL SELECT vec_id, emb FROM tw),
      |sc AS (SELECT q.vec_id AS q_id, c.vec_id AS n_id,
      |              floor(list_cosine_similarity(q.emb, c.emb) * 10000 + 0.5) / 10000 AS cosine
      |       FROM tw q JOIN al c ON q.vec_id <> c.vec_id),
      |b AS (SELECT q_id, n_id, cosine FROM sc WHERE cosine >= 0.2 AND cosine < 0.8),
      |r AS (SELECT q_id, n_id, cosine,
      |             row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, n_id) AS rank
      |      FROM b)
      |SELECT q_id, n_id, cosine, CAST(rank AS BIGINT) AS rank FROM r WHERE rank <= 3""".stripMargin

  /** HN2 — hard-negative mining through the ANN index (the 100 TB route):
    * top-(k+8) approximate neighbors per anchor, band-filtered and
    * re-ranked. Approximate by design (no oracle); [[hn2Gate]] pins
    * in-band containment and recall vs the exact band scan. */
  val hn2Production: Q = (s, d) => {
    val planted = plantNearDups(Tables.embeddings(s, d))
    Similarity.hardNegativesAnn(planted,
      planted.filter(col("vec_id") >= 10000000L), k = 3,
      loCos = 0.2, hiCos = 0.8, tables = 16)
  }

  /** Gate for hn2_production: every returned pair must be in band (the
    * operator filters on the same rounded cosine the exact form ranks
    * by, so violations are structurally impossible — the gate proves it
    * cross-engine), and recall vs the exact hn1 result must clear the
    * floor. `n_queries` (twin count) and `n_exact` (exact in-band top-3
    * rows) anchor both engines. */
  val hn2Gate: Q = (s, d) => {
    val ann = hn2Production(s, d)
    val exact = hn1HardNegatives(s, d).select(col("q_id"), col("n_id"))
    val hits = exact.join(ann.select(col("q_id"), col("n_id")),
        Seq("q_id", "n_id"), "left_semi")
      .agg(count(lit(1)).as("hits"))
    val outOfBand = ann
      .filter(col("cosine") < 0.2 || col("cosine") >= 0.8)
      .agg(count(lit(1)).as("band_violations"))
    val planted = plantNearDups(Tables.embeddings(s, d))
    val nQ = planted.filter(col("vec_id") >= 10000000L)
      .agg(count(lit(1)).as("n_queries"))
    nQ.crossJoin(exact.agg(count(lit(1)).as("n_exact")))
      .crossJoin(hits).crossJoin(outOfBand)
      .select(col("n_queries"), col("n_exact"),
        (col("hits") >= col("n_exact") * 0.9).as("recall_ok"),
        (col("band_violations") === 0L).as("band_ok"))
  }

  val hn2GateSql: String =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
      |tw AS (SELECT a.vec_id + 10000000 AS vec_id,
      |              CAST(CAST([a.emb[i] + 0.3 * b.emb[i] FOR i IN RANGE(1, 65)] AS FLOAT[]) AS DOUBLE[]) AS emb
      |       FROM e a JOIN e b ON b.vec_id = a.vec_id + 1
      |       WHERE a.vec_id % 20 = 0),
      |al AS (SELECT vec_id, emb FROM e UNION ALL SELECT vec_id, emb FROM tw),
      |sc AS (SELECT q.vec_id AS q_id, c.vec_id AS n_id,
      |              floor(list_cosine_similarity(q.emb, c.emb) * 10000 + 0.5) / 10000 AS cosine
      |       FROM tw q JOIN al c ON q.vec_id <> c.vec_id),
      |b AS (SELECT q_id, n_id, cosine FROM sc WHERE cosine >= 0.2 AND cosine < 0.8),
      |r AS (SELECT q_id, n_id,
      |             row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, n_id) AS rank
      |      FROM b)
      |SELECT (SELECT CAST(count(*) AS BIGINT) FROM tw) AS n_queries,
      |       (SELECT CAST(count(*) AS BIGINT) FROM r WHERE rank <= 3) AS n_exact,
      |       true AS recall_ok, true AS band_ok""".stripMargin

  /** LSH-bucketed ANN top-k: 16 hyperplane families, hamming-1 multiprobe.
    * Approximate by design; its recall contract is driver-checked by
    * [[sim2Gate]] (measured recall@5 = 0.96–0.98 across SFs). */
  val sim2Ann: Q = (s, d) => {
    val e = Tables.embeddings(s, d)
    Similarity.annTopKAuto(e, e.filter(col("vec_id") < 10), 5, tables = 16)
  }

  /** IVF ANN top-k; recall contract driver-checked by [[sim3Gate]]
    * (measured recall@5 = 0.92–1.0 across SFs). */
  val sim3Ivf: Q = (s, d) => {
    val e = Tables.embeddings(s, d)
    Similarity.ivfTopK(e, e.filter(col("vec_id") < 10), 5)
  }

  /** Recall gates for the approximate top-k paths: ANN hits inside the
    * exact top-5 (sim1 semantics — both sides total-ordered by rounded
    * cosine then id, so the intersection is deterministic), floored at 0.9.
    * `n_queries`/`n_exact` are the cross-engine anchors. */
  private def annRecallGate(ann: DataFrame, exact: DataFrame): DataFrame = {
    val e = exact.select(col("q_id"), col("n_id"))
    val hits = e.join(ann.select(col("q_id"), col("n_id")),
        Seq("q_id", "n_id"), "left_semi")
      .agg(count(lit(1)).as("hits"))
    e.agg(countDistinct(col("q_id")).as("n_queries"), count(lit(1)).as("n_exact"))
      .crossJoin(hits)
      .select(col("n_queries"), col("n_exact"),
        (col("hits") >= col("n_exact") * 0.9).as("recall_ok"))
  }

  val sim2Gate: Q = (s, d) => {
    val e = Tables.embeddings(s, d)
    val q = e.filter(col("vec_id") < 10)
    annRecallGate(sim2Ann(s, d), Similarity.bruteForceTopK(e, q, 5))
  }

  val sim3Gate: Q = (s, d) => {
    val e = Tables.embeddings(s, d)
    val q = e.filter(col("vec_id") < 10)
    annRecallGate(sim3Ivf(s, d), Similarity.bruteForceTopK(e, q, 5))
  }

  /** SIM4 — kNN graph: every vector's top-5 cosine neighbors from LSH
    * candidates (never all-pairs); the election is the bounded-heap
    * top-k operator keyed on the vector id. Approximate list → gated by
    * recall ≥ 0.9 against brute top-5 on the vec_id < 30 probe set. */
  val sim4Knn: Q = (s, d) =>
    Similarity.knnGraph(Tables.embeddings(s, d), 5)

  val sim4Gate: Q = (s, d) => {
    val e = Tables.embeddings(s, d)
    annRecallGate(
      sim4Knn(s, d).select(col("a_id").as("q_id"), col("b_id").as("n_id")),
      Similarity.bruteForceTopK(e, e.filter(col("vec_id") < 30), 5))
  }

  val sim4GateSql: String =
    """SELECT count(*) AS n_queries, 5 * count(*) AS n_exact, true AS recall_ok
      |FROM embeddings WHERE vec_id < 30""".stripMargin

  private val annGateSql: String =
    """SELECT count(*) AS n_queries, 5 * count(*) AS n_exact, true AS recall_ok
      |FROM embeddings WHERE vec_id < 10""".stripMargin

  val sim2GateSql: String = annGateSql
  val sim3GateSql: String = annGateSql

  /** SIM2 in its PRODUCTION regime: ANN top-k where the corpus HAS near
    * neighbors to find — each [[plantNearDups]] twin queries the planted
    * corpus, and its true nearest neighbor is its known source vector
    * (~0.95 cosine vs ≤ ~0.6 for everything else), so the index is doing
    * real retrieval work rather than ranking the random tail. Same
    * operator as sim2_ann_lsh ([[Similarity.annTopKAuto]], 16-table
    * request, corpus-adaptive planes); quality pinned by
    * [[sim2ProductionGate]]. */
  val sim2Production: Q = (s, d) => {
    val planted = plantNearDups(Tables.embeddings(s, d))
    Similarity.annTopKAuto(planted,
      planted.filter(col("vec_id") >= 10000000L), 5, tables = 16)
  }

  /** Gate for sim2_production: the standard recall floor vs brute top-5,
    * PLUS the planted ground truth — every twin's rank-1 neighbor must be
    * its source vector (deterministic by construction; a multi-table miss
    * of a 0.95-cosine pair has probability ~1e-15). `n_queries`/`n_exact`
    * anchor the twin count cross-engine. */
  val sim2ProductionGate: Q = (s, d) => {
    val planted = plantNearDups(Tables.embeddings(s, d))
    val queries = planted.filter(col("vec_id") >= 10000000L)
    val ann = sim2Production(s, d)
    val exact = Similarity.bruteForceTopK(planted, queries, 5)
      .select(col("q_id"), col("n_id"))
    val hits = exact.join(ann.select(col("q_id"), col("n_id")),
        Seq("q_id", "n_id"), "left_semi")
      .agg(count(lit(1)).as("hits"))
    val top1 = ann.filter(col("rank") === 1)
      .filter(col("n_id") === col("q_id") - 10000000L)
      .agg(count(lit(1)).as("top1_hits"))
    exact.agg(countDistinct(col("q_id")).as("n_queries"),
        count(lit(1)).as("n_exact"))
      .crossJoin(hits).crossJoin(top1)
      .select(col("n_queries"), col("n_exact"),
        (col("hits") >= col("n_exact") * 0.9).as("recall_ok"),
        (col("top1_hits") === col("n_queries")).as("top1_ok"))
  }

  val sim2ProductionGateSql: String =
    """SELECT CAST(count(*) AS BIGINT) AS n_queries,
      |       CAST(5 * count(*) AS BIGINT) AS n_exact,
      |       true AS recall_ok, true AS top1_ok
      |FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + 1
      |WHERE a.vec_id % 20 = 0""".stripMargin

  /** EMB1 — embedding feature-store prep: L2 normalization (unit vectors,
    * elements portably rounded) and symmetric int8 quantization (4× size
    * reduction), both compiled single-pass kernels; DuckDB replays the
    * exact arithmetic over DOUBLE[] list comprehensions.
    *
    * The emitted columns are the vectors in a canonical scalar serialization
    * (scaled-int CSV strings) rather than raw array columns: the check
    * harness sorts/hashes every result column, and array cells are not
    * sortable/hashable on the pandas side. The kernels still produce the
    * real `array` columns in-plan; serialization is a projection on top. */
  val emb1Normalize: Q = (s, d) => {
    val unit = graft.functions.l2_normalize(col("embedding"), 6)
    val q8 = graft.functions.quantize_int8(col("embedding"))
    // unit elements are k/1e6 with k = floor(x/nrm*1e6 + 0.5); recover k
    // exactly (|k| ≤ 1e6 ⇒ double round-trip error ≪ 0.5).
    val unitInts = transform(unit, x => floor(x * 1000000 + lit(0.5)).cast("long"))
    Tables.embeddings(s, d).select(
      col("vec_id"),
      concat_ws(",", transform(unitInts, _.cast("string"))).as("unit_vec_s"),
      concat_ws(",", transform(q8, _.cast("string"))).as("q_vec_s"))
  }

  val emb1NormalizeSql: String =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
      |n AS (SELECT vec_id, emb, sqrt(list_sum([x * x FOR x IN emb])) AS nrm,
      |             list_max([abs(x) FOR x IN emb]) / 127.0 AS qscale
      |      FROM e)
      |SELECT vec_id,
      |       array_to_string(CASE WHEN nrm = 0 THEN [CAST(0 AS BIGINT) FOR x IN emb]
      |            ELSE [CAST(floor(x / nrm * 1000000 + 0.5) AS BIGINT) FOR x IN emb]
      |       END, ',') AS unit_vec_s,
      |       array_to_string(CASE WHEN qscale = 0 THEN [CAST(0 AS INT) FOR x IN emb]
      |            ELSE [CAST(floor(x / qscale + 0.5) AS INT) FOR x IN emb]
      |       END, ',') AS q_vec_s
      |FROM n""".stripMargin

  // ─────────────────────────── text analysis ─────────────────────────────

  private val stopList = TextAnalysis.EnStopwords.map(w => s"'$w'").mkString("[", ", ", "]")

  val t1Lang: Q = (s, d) => TextAnalysis.langId(Tables.documents(s, d))

  val t1LangSql: String =
    s"""SELECT doc_id, lang,
       |  floor((CAST(len(list_filter(string_split(text, ' '), x -> list_contains($stopList, x))) AS DOUBLE)
       |        / len(string_split(text, ' '))) * 10000 + 0.5) / 10000 AS en_ratio,
       |  CASE WHEN regexp_matches(text, '[\\x{4e00}-\\x{9fff}]') THEN 'zh'
       |       WHEN CAST(len(list_filter(string_split(text, ' '), x -> list_contains($stopList, x))) AS DOUBLE)
       |            / len(string_split(text, ' ')) >= 0.08 THEN 'en'
       |       ELSE 'und' END AS pred_lang
       |FROM documents""".stripMargin

  /** LID1 — confusion matrix of the t1 language-ID heuristic against the
    * fixture's ground-truth labels, plus each cell's share of its true
    * class (row-normalized recall). Uses t1's SHARED predictor expression,
    * so the eval can never drift from the operator it scores. One
    * (lang, pred) aggregate — |langs|² cells at any corpus size. */
  val lid1Confusion: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val pred = TextAnalysis.predLangExpr()
    val cells = docs.select(col("lang"), pred.as("pred_lang"))
      .groupBy(col("lang"), col("pred_lang")).agg(count(lit(1)).as("n"))
    val totals = cells.groupBy(col("lang")).agg(sum(col("n")).as("_t"))
    cells.join(totals, "lang")
      .select(col("lang"), col("pred_lang"), col("n"),
        graft.functions.portableRound(
          col("n").cast("double") / col("_t").cast("double"), 4).as("class_share"))
  }

  val lid1ConfusionSql: String =
    s"""WITH p AS (SELECT lang,
       |  CASE WHEN regexp_matches(text, '[\\x{4e00}-\\x{9fff}]') THEN 'zh'
       |       WHEN CAST(len(list_filter(string_split(text, ' '), x -> list_contains($stopList, x))) AS DOUBLE)
       |            / len(string_split(text, ' ')) >= 0.08 THEN 'en'
       |       ELSE 'und' END AS pred_lang
       |  FROM documents),
       |c AS (SELECT lang, pred_lang, CAST(count(*) AS BIGINT) AS n
       |      FROM p GROUP BY 1, 2),
       |t AS (SELECT lang, CAST(sum(n) AS BIGINT) AS tt FROM c GROUP BY lang)
       |SELECT c.lang, c.pred_lang, c.n,
       |       floor((CAST(c.n AS DOUBLE) / CAST(t.tt AS DOUBLE)) * 10000 + 0.5) / 10000 AS class_share
       |FROM c JOIN t ON c.lang = t.lang""".stripMargin

  /** KAPPA1 — Cohen's κ of the t1 heuristic's English call vs the
    * ground-truth label: chance-corrected accuracy (an all-"en" rater on
    * a mostly-English corpus scores high accuracy but κ = 0) — the
    * acceptance readout lid1's raw confusion shares cannot express.
    * See [[graft.operators.TextAnalysis.kappaAgreement]]. */
  val kappa1Agreement: Q = (s, d) =>
    TextAnalysis.kappaAgreement(Tables.documents(s, d))

  val kappa1AgreementSql: String =
    s"""WITH p AS (SELECT
       |  CASE WHEN (CASE WHEN regexp_matches(text, '[\\x{4e00}-\\x{9fff}]') THEN 'zh'
       |       WHEN CAST(len(list_filter(string_split(text, ' '), x -> list_contains($stopList, x))) AS DOUBLE)
       |            / len(string_split(text, ' ')) >= 0.08 THEN 'en'
       |       ELSE 'und' END) = 'en' THEN 1 ELSE 0 END AS a,
       |  CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS b
       |  FROM documents),
       |m AS (SELECT CAST(count(*) AS BIGINT) AS n,
       |        CAST(sum(CASE WHEN a = 1 AND b = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
       |        CAST(sum(CASE WHEN a = 1 AND b = 0 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
       |        CAST(sum(CASE WHEN a = 0 AND b = 1 THEN 1 ELSE 0 END) AS BIGINT) AS fn,
       |        CAST(sum(CASE WHEN a = 0 AND b = 0 THEN 1 ELSE 0 END) AS BIGINT) AS tn
       |      FROM p),
       |v AS (SELECT *,
       |        CAST(tp + tn AS DOUBLE) / CAST(n AS DOUBLE) AS po,
       |        (CAST(tp + fp AS DOUBLE) * CAST(tp + fn AS DOUBLE)
       |         + CAST(fn + tn AS DOUBLE) * CAST(fp + tn AS DOUBLE))
       |          / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) AS pe
       |      FROM m)
       |SELECT n, tp, fp, fn, tn,
       |  CASE WHEN n > 0 THEN floor(po * 1000000 + 0.5) / 1000000 ELSE 0.0 END AS p_o,
       |  CASE WHEN n > 0 THEN floor(pe * 1000000 + 0.5) / 1000000 ELSE 0.0 END AS p_e,
       |  CASE WHEN n > 0 AND pe < 1.0
       |       THEN floor((po - pe) / (1.0 - pe) * 1000000 + 0.5) / 1000000
       |       ELSE 0.0 END AS kappa
       |FROM v""".stripMargin

  /** ML5 — in-engine TRAINED language-ID (hashed-bag-of-words one-vs-rest
    * logistic heads, ml1's bit-exact GD discipline), scored into the same
    * confusion shape as lid1 so the trained-vs-heuristic delta reads off
    * directly. The class list is the declared label space of the model
    * head (fixture langs), not sniffed from data. The oracle replays
    * featurize → 5 classes × 3 GD iterations → score → confuse digit for
    * digit. See [[graft.operators.TextAnalysis.langTrainConfusion]]. */
  val ml5Classes: Seq[String] = Seq("de", "en", "es", "fr", "zh")

  val ml5LangTrain: Q = (s, d) =>
    TextAnalysis.langTrainConfusion(Tables.documents(s, d), ml5Classes)

  /** QF1 — the LEARNED quality filter distilled from the t10 rule gate
    * (the FineWeb-Edu move: an expensive gate labels, a cheap linear
    * head scores the corpus): y = (corpusReason = 'ok'), features =
    * ml5's content-only hashed bag-of-words, training on 4 of 5 hash
    * folds by ml1's exact micro-unit GD, held-out fold scored into
    * ml3's grouped-rank AUC + 0.5-threshold accuracy. The whole
    * pipeline (gate labels → featurize → 3 GD steps → score → rank)
    * replays digit-exact in the oracle.
    * See [[graft.operators.TextAnalysis.qualityDistill]]. */
  val qf1QualityDistill: Q = (s, d) =>
    TextAnalysis.qualityDistill(Tables.documents(s, d)
      .withColumn("y", (corpusReasonExpr === "ok").cast("double")))

  /** The shared CTE prefix of the qf1/cl1 oracles: the whole
    * labels→featurize→standardize→GD→score pipeline, ending in
    * `sc(doc_id, y, s6)` — the eval fold's held-out scores (the SQL twin
    * of [[graft.operators.TextAnalysis.distillHeldOutScores]]). The two
    * consumers append different tails: qf1 the AUC/accuracy rollup, cl1
    * the confident-joint. */
  private lazy val qfScoredCtesSql: String = {
    val dims = 16; val iters = 10; val lr = "2.0"; val k = dims + 4
    val folds = 5; val evalFold = 4
    def microSum(expr: String, as: String) =
      s"CAST(sum(CAST(floor(($expr) * 1000000 + 0.5) AS BIGINT)) AS BIGINT) AS $as"
    def zExpr(pfx: String) =
      (0 until k).map(j => s"$pfx.c$j * x$j").mkString(" + ")
    val xdefs = (0 until dims).map(j =>
      s"CAST(sum(CASE WHEN bkt = $j THEN 1 ELSE 0 END) AS DOUBLE) / nt AS x${j + 4}")
      .mkString(",\n       ")
    val foldE = md5BucketSql("'qf-fold:' || CAST(doc_id AS VARCHAR)", folds)
    val sb = new StringBuilder
    // the dense gate-signal features mirror TextAnalysis.qualityDistill:
    // x1 length cap, x2 stopword ratio, x3 mean-token-length cap
    // (dup_ratio deliberately absent — the held-out error it leaves is
    // the generalization check, not a bug)
    val nTokL = "len(string_split(l.text, ' '))"
    val stopHitsL = s"len(list_filter(string_split(l.text, ' '), x -> list_contains($stopList, x)))"
    sb ++= s"""$corpusSignalsCteSql,
              |lab AS (SELECT b.doc_id, b.text, dd.n_chars,
              |          CASE WHEN $corpusReasonSql = 'ok' THEN 1.0 ELSE 0.0 END AS y
              |        FROM b JOIN documents dd USING (doc_id)),
              |dense AS (SELECT doc_id, y,
              |            least($nTokL / 100.0, 1.0) AS x1,
              |            CAST($stopHitsL AS DOUBLE) / $nTokL AS x2,
              |            least((CAST(l.n_chars - $nTokL + 1 AS DOUBLE) / $nTokL) / 10.0, 1.0) AS x3
              |          FROM lab l),
              |tok AS (SELECT doc_id, y, nt, ${md5BucketSql("tk", dims)} AS bkt
              |        FROM (SELECT doc_id, y, len(string_split(text, ' ')) AS nt,
              |                     unnest(string_split(text, ' ')) AS tk
              |              FROM lab)),
              |d AS MATERIALIZED (SELECT tok.doc_id, tok.y, $foldE AS fold,
              |       CAST(1.0 AS DOUBLE) AS x0,
              |       any_value(de.x1) AS x1, any_value(de.x2) AS x2,
              |       any_value(de.x3) AS x3,
              |       $xdefs
              |     FROM tok JOIN dense de USING (doc_id)
              |     GROUP BY tok.doc_id, tok.y, nt),
              |dtr0 AS (SELECT * FROM d WHERE fold <> $evalFold),
              |nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM dtr0),
              |mm AS (SELECT
              |       ${(1 until k).map(j =>
                         s"CAST(sum(CAST(floor(x$j * 1000000 + 0.5) AS BIGINT)) AS BIGINT) AS s$j, " +
                         s"CAST(sum(CAST(floor(x$j * x$j * 1000000 + 0.5) AS BIGINT)) AS BIGINT) AS q$j")
                         .mkString(",\n       ")}
              |     FROM dtr0),
              |ms AS (SELECT
              |       ${(1 until k).map(j =>
                         s"floor(CAST(s$j AS DOUBLE) / 1000000 / n * 1000000 + 0.5) / 1000000 AS m$j")
                         .mkString(",\n       ")}
              |     FROM mm CROSS JOIN nn),
              |sdv AS (SELECT
              |       ${(1 until k).map(j =>
                         s"CASE WHEN floor(sqrt(greatest(CAST(q$j AS DOUBLE) / 1000000 / n - m$j * m$j, 0.0)) * 1000000 + 0.5) / 1000000 = 0.0 THEN 1.0 " +
                         s"ELSE floor(sqrt(greatest(CAST(q$j AS DOUBLE) / 1000000 / n - m$j * m$j, 0.0)) * 1000000 + 0.5) / 1000000 END AS sd$j")
                         .mkString(",\n       ")}
              |     FROM mm CROSS JOIN ms CROSS JOIN nn),
              |ds AS MATERIALIZED (SELECT doc_id, y, fold, x0,
              |       ${(1 until k).map(j => s"(x$j - m$j) / sd$j AS x$j").mkString(",\n       ")}
              |     FROM d CROSS JOIN ms CROSS JOIN sdv),
              |dtr AS (SELECT * FROM ds WHERE fold <> $evalFold),
              |b_0 AS (SELECT ${(0 until k).map(j => s"CAST(0.0 AS DOUBLE) AS c$j").mkString(", ")})""".stripMargin
    for (t <- 1 to iters) {
      val grads = (0 until k).map(j => microSum(s"(sg - y) * x$j", s"g$j"))
        .mkString(",\n       ")
      val upds = (0 until k).map(j =>
        s"floor((c$j - $lr * (CAST(g$j AS DOUBLE) / 1000000 / n)) * 1000000 + 0.5) / 1000000 AS c$j")
        .mkString(",\n       ")
      sb ++= s""",
                |s_$t AS (SELECT dtr.*,
                |       1.0 / (1.0 + exp(-(${zExpr(s"b_${t - 1}")}))) AS sg
                |       FROM dtr CROSS JOIN b_${t - 1}),
                |g_$t AS (SELECT
                |       $grads
                |       FROM s_$t),
                |b_$t AS (SELECT
                |       $upds
                |       FROM g_$t CROSS JOIN b_${t - 1} CROSS JOIN nn)""".stripMargin
    }
    sb ++= s""",
              |sc AS (SELECT doc_id, y,
              |         floor((1.0 / (1.0 + exp(-(${zExpr(s"b_$iters")})))) * 1000000 + 0.5) / 1000000 AS s6
              |       FROM ds CROSS JOIN b_$iters WHERE fold = $evalFold)""".stripMargin
    sb.toString
  }

  lazy val qf1QualityDistillSql: String = qfScoredCtesSql +
    """,
      |gg AS (SELECT s6, CAST(count(*) AS DOUBLE) AS n_s, sum(y) AS pos_s
      |       FROM sc GROUP BY s6),
      |cc AS (SELECT s6, n_s, pos_s, n_s - pos_s AS neg_s,
      |              sum(n_s - pos_s) OVER (ORDER BY s6 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |                - (n_s - pos_s) AS cum_neg_below
      |       FROM gg),
      |qn AS (SELECT CAST(count(*) AS BIGINT) AS n_train FROM dtr)
      |SELECT qn.n_train,
      |       CAST(sum(n_s) AS BIGINT) AS n_eval,
      |       CAST(sum(pos_s) AS BIGINT) AS n_pos_eval,
      |       CASE WHEN sum(pos_s) > 0 AND sum(n_s) - sum(pos_s) > 0
      |            THEN floor((sum(pos_s * (cum_neg_below + neg_s / 2.0))
      |                        / (sum(pos_s) * (sum(n_s) - sum(pos_s)))) * 1000000 + 0.5) / 1000000
      |            ELSE 0.5 END AS auc,
      |       floor((sum(CASE WHEN s6 >= 0.5 THEN pos_s ELSE neg_s END) / sum(n_s)) * 1000000 + 0.5) / 1000000 AS accuracy
      |FROM cc CROSS JOIN qn GROUP BY qn.n_train""".stripMargin

  /** CL1 — confident-learning label-noise detection
    * ([[graft.operators.TextAnalysis.labelNoise]]) over the distilled
    * head's held-out scores: class thresholds = each class's mean
    * self-confidence; off-diagonal (labeled i, confidently j ≠ i) docs
    * are the label-error candidates. Shares qf1's whole
    * train-and-score CTE prefix — same head, same fold, same scores. */
  val cl1LabelNoise: Q = (s, d) => {
    val (scored, _) = TextAnalysis.distillHeldOutScores(
      Tables.documents(s, d)
        .withColumn("y", (corpusReasonExpr === "ok").cast("double")))
    TextAnalysis.labelNoise(scored)
  }

  lazy val cl1LabelNoiseSql: String = qfScoredCtesSql +
    """,
      |th AS (SELECT
      |         floor(CAST(sum(CASE WHEN y = 1.0 THEN CAST(floor(s6 * 1000000 + 0.5) AS BIGINT) ELSE 0 END) AS DOUBLE)
      |               / sum(CASE WHEN y = 1.0 THEN 1 ELSE 0 END) + 0.5) / 1000000 AS t1,
      |         floor(CAST(sum(CASE WHEN y = 0.0 THEN CAST(floor((1.0 - s6) * 1000000 + 0.5) AS BIGINT) ELSE 0 END) AS DOUBLE)
      |               / sum(CASE WHEN y = 0.0 THEN 1 ELSE 0 END) + 0.5) / 1000000 AS t0
      |       FROM sc),
      |asg AS (SELECT y, t0, t1,
      |          CASE WHEN s6 >= t1 AND (1.0 - s6) >= t0
      |                 THEN CASE WHEN s6 >= 1.0 - s6 THEN 1 ELSE 0 END
      |               WHEN s6 >= t1 THEN 1
      |               WHEN (1.0 - s6) >= t0 THEN 0
      |               ELSE NULL END AS j
      |        FROM sc CROSS JOIN th)
      |SELECT CAST(y AS BIGINT) AS given_label,
      |       count(*) AS n_docs,
      |       CAST(sum(CASE WHEN j = CAST(y AS INTEGER) THEN 1 ELSE 0 END) AS BIGINT) AS n_confident_same,
      |       CAST(sum(CASE WHEN j IS NOT NULL AND j <> CAST(y AS INTEGER) THEN 1 ELSE 0 END) AS BIGINT) AS n_label_issues,
      |       CAST(sum(CASE WHEN j IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_unassigned,
      |       CASE WHEN y = 1.0 THEN any_value(t1) ELSE any_value(t0) END AS class_threshold
      |FROM asg GROUP BY y""".stripMargin

  /** WM1 — green-list watermark detection
    * ([[graft.operators.TextAnalysis.watermarkDetect]]): the
    * model-generated-text audit a curation pipeline runs before mixing
    * scraped data into a training set. Watermarked docs are PLANTED
    * deterministically (the d14 synthetic-noise discipline): every
    * doc_id % 10 == 3 doc is rewritten to only its green-list tokens —
    * exactly what a γ = 0.25 watermarking sampler emits — while the
    * rest stay natural text. The detector's one-proportion z-test then
    * has real signal to find: planted docs read green_ratio ≈ 1 and
    * z ≫ 4, natural docs read ≈ γ. `planted` rides along so the oracle
    * pins detection against ground truth row by row. */
  val wm1WatermarkDetect: Q = (s, d) => {
    val green = (t: org.apache.spark.sql.Column) =>
      graft.operators.Sampling.hashBucket(concat(lit("wm1:"), t), 4) === 0
    val planted = col("doc_id") % 10 === 3
    val synth = Tables.documents(s, d).select(col("doc_id"),
      when(planted, array_join(filter(split(col("text"), " "), green), " "))
        .otherwise(col("text")).as("text"))
    TextAnalysis.watermarkDetect(synth)
      .withColumn("planted", col("doc_id") % 10 === 3)
  }

  val wm1WatermarkDetectSql: String = {
    val green = (v: String) => s"(${md5BucketSql(s"'wm1:' || $v", 4)}) = 0"
    val z = "(CAST(n_green AS DOUBLE) - 0.25 * n_tokens) / sqrt(0.1875 * n_tokens)"
    s"""WITH synth AS (
       |  SELECT doc_id,
       |    CASE WHEN doc_id % 10 = 3
       |         -- COALESCE: duck's array_to_string of an EMPTY list is NULL,
       |         -- Spark's array_join is '' — a no-green-token doc must stay ''
       |         THEN COALESCE(array_to_string(list_filter(string_split(text, ' '), t -> ${green("t")}), ' '), '')
       |         ELSE text END AS text
       |  FROM documents),
       |st AS (SELECT doc_id,
       |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
       |         CAST(len(list_filter(string_split(text, ' '), t -> ${green("t")})) AS BIGINT) AS n_green
       |       FROM synth)
       |SELECT doc_id, n_tokens, n_green,
       |  ${portableRoundSql("CAST(n_green AS DOUBLE) / n_tokens", 6)} AS green_ratio,
       |  ${portableRoundSql(z, 6)} AS z_score,
       |  n_tokens >= 8 AND ${portableRoundSql(z, 6)} > 4.0 AS detected,
       |  doc_id % 10 = 3 AS planted
       |FROM st""".stripMargin
  }

  /** BON1 — best-of-n selection (rejection sampling) over the distilled
    * quality head's held-out scores
    * ([[graft.operators.TextAnalysis.bestOfN]]): per 16-bucket prompt
    * group, keep the highest-scoring candidate and report the uplift
    * over the group mean (the expected score of random selection) —
    * the data op that turns a reward model into an SFT set. Shares
    * qf1/cl1's whole train-and-score CTE prefix: same head, same fold,
    * same 1e-6-grid scores. */
  val bon1BestOfN: Q = (s, d) => {
    val (scored, _) = TextAnalysis.distillHeldOutScores(
      Tables.documents(s, d)
        .withColumn("y", (corpusReasonExpr === "ok").cast("double")))
    TextAnalysis.bestOfN(scored)
  }

  lazy val bon1BestOfNSql: String = qfScoredCtesSql +
    s""",
       |grp AS (SELECT doc_id, s6,
       |          CAST(${md5BucketSql("'bon1:' || CAST(doc_id AS VARCHAR)", 16)} AS BIGINT) AS g
       |        FROM sc),
       |rk AS (SELECT *, row_number() OVER (PARTITION BY g ORDER BY s6 DESC, doc_id) AS rn
       |       FROM grp),
       |ag AS (SELECT g, count(*) AS n_candidates,
       |              CAST(sum(CAST(floor(s6 * 1000000 + 0.5) AS BIGINT)) AS BIGINT) AS sm
       |       FROM grp GROUP BY g)
       |SELECT a.g, a.n_candidates, r.doc_id AS best_doc_id, r.s6 AS best_score,
       |  floor(CAST(sm AS DOUBLE) / n_candidates + 0.5) / 1000000 AS mean_score,
       |  ${portableRoundSql("r.s6 - floor(CAST(sm AS DOUBLE) / n_candidates + 0.5) / 1000000", 6)} AS uplift
       |FROM ag a JOIN rk r ON r.g = a.g AND r.rn = 1""".stripMargin

  /** CONS1 — self-consistency majority-vote sample filtering
    * ([[graft.operators.TextAnalysis.selfConsistency]]): samples
    * sharing a 64-bucket prompt group vote with their modal token (the
    * deterministic stand-in for an extracted answer); the majority
    * answer wins and `n_agree` samples per prompt survive into the
    * training set — the STaR/rejection-fine-tuning data op. */
  val cons1SelfConsistency: Q = (s, d) =>
    TextAnalysis.selfConsistency(Tables.documents(s, d))

  val cons1SelfConsistencySql: String =
    s"""WITH tk AS (SELECT doc_id,
       |         CAST(${md5BucketSql("'cons1:' || CAST(doc_id AS VARCHAR)", 64)} AS BIGINT) AS p,
       |         unnest(string_split(text, ' ')) AS tok
       |       FROM documents),
       |ac AS (SELECT doc_id, p, tok, count(*) AS cnt FROM tk GROUP BY 1, 2, 3),
       |an AS (SELECT doc_id, p, tok AS answer FROM (
       |         SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY cnt DESC, tok) AS rn
       |         FROM ac) t WHERE rn = 1),
       |mj AS (SELECT p, answer, CAST(count(*) AS BIGINT) AS votes FROM an GROUP BY 1, 2),
       |st AS (SELECT p, CAST(sum(votes) AS BIGINT) AS n_samples,
       |              CAST(count(*) AS BIGINT) AS n_distinct_answers
       |       FROM mj GROUP BY p),
       |top AS (SELECT p, answer AS majority_answer, votes AS n_agree FROM (
       |          SELECT *, row_number() OVER (PARTITION BY p ORDER BY votes DESC, answer) AS rn
       |          FROM mj) t WHERE rn = 1)
       |SELECT st.p, n_samples, n_distinct_answers, majority_answer, n_agree,
       |       ${portableRoundSql("CAST(n_agree AS DOUBLE) / n_samples", 6)} AS agreement_ratio
       |FROM st JOIN top ON top.p = st.p""".stripMargin

  val ml5LangTrainSql: String = {
    val dims = 16; val iters = 3; val lr = "2.0"; val k = dims + 1
    val classes = ml5Classes
    def microSum(expr: String, as: String) =
      s"CAST(sum(CAST(floor(($expr) * 1000000 + 0.5) AS BIGINT)) AS BIGINT) AS $as"
    def zExpr(pfx: String) =
      (0 until k).map(j => s"$pfx.c$j * x$j").mkString(" + ")
    val xdefs = (0 until dims).map(j =>
      s"CAST(sum(CASE WHEN b = $j THEN 1 ELSE 0 END) AS DOUBLE) / nt AS x${j + 1}")
      .mkString(",\n       ")
    val sb = new StringBuilder
    sb ++= s"""WITH tok AS (SELECT doc_id, lang, nt, ${md5BucketSql("tk", dims)} AS b
              |             FROM (SELECT doc_id, lang, len(string_split(text, ' ')) AS nt,
              |                          unnest(string_split(text, ' ')) AS tk
              |                   FROM documents)),
              |d AS MATERIALIZED (SELECT doc_id, lang, CAST(1.0 AS DOUBLE) AS x0,
              |       $xdefs
              |     FROM tok GROUP BY doc_id, lang, nt),
              |nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM d)""".stripMargin
    for (c <- classes) {
      sb ++= s""",
                |b_${c}_0 AS (SELECT ${(0 until k).map(j => s"CAST(0.0 AS DOUBLE) AS c$j").mkString(", ")})""".stripMargin
      for (t <- 1 to iters) {
        val grads = (0 until k).map(j => microSum(s"(sg - y) * x$j", s"g$j"))
          .mkString(",\n       ")
        val upds = (0 until k).map(j =>
          s"floor((c$j - $lr * (CAST(g$j AS DOUBLE) / 1000000 / n)) * 1000000 + 0.5) / 1000000 AS c$j")
          .mkString(",\n       ")
        sb ++= s""",
                  |s_${c}_$t AS (SELECT d.*, CASE WHEN lang = '$c' THEN 1.0 ELSE 0.0 END AS y,
                  |       1.0 / (1.0 + exp(-(${zExpr(s"b_${c}_${t - 1}")}))) AS sg
                  |       FROM d CROSS JOIN b_${c}_${t - 1}),
                  |g_${c}_$t AS (SELECT
                  |       $grads
                  |       FROM s_${c}_$t),
                  |b_${c}_$t AS (SELECT
                  |       $upds
                  |       FROM g_${c}_$t CROSS JOIN b_${c}_${t - 1} CROSS JOIN nn)""".stripMargin
      }
    }
    val scoreCols = classes.map(c =>
      s"floor((1.0 / (1.0 + exp(-(${zExpr(s"b_${c}_$iters")})))) * 1000000 + 0.5) / 1000000 AS s_$c")
      .mkString(",\n       ")
    val scJoins = classes.map(c => s"CROSS JOIN b_${c}_$iters").mkString(" ")
    val predCase = classes.init.zipWithIndex.map { case (c, i) =>
      val wins = classes.drop(i + 1).map(o => s"s_$c >= s_$o").mkString(" AND ")
      s"WHEN $wins THEN '$c'"
    }.mkString("\n            ")
    sb ++= s""",
              |sc AS (SELECT lang,
              |       $scoreCols
              |       FROM d $scJoins),
              |p AS (SELECT lang,
              |       CASE $predCase
              |            ELSE '${classes.last}' END AS pred_lang
              |      FROM sc),
              |cc AS (SELECT lang, pred_lang, CAST(count(*) AS BIGINT) AS n
              |       FROM p GROUP BY 1, 2),
              |tl AS (SELECT lang, CAST(sum(n) AS BIGINT) AS tt FROM cc GROUP BY lang)
              |SELECT cc.lang, cc.pred_lang, cc.n,
              |       floor((CAST(cc.n AS DOUBLE) / CAST(tl.tt AS DOUBLE)) * 10000 + 0.5) / 10000 AS class_share
              |FROM cc JOIN tl ON cc.lang = tl.lang""".stripMargin
    sb.toString
  }

  val t2Quality: Q = (s, d) => TextAnalysis.qualityScore(Tables.documents(s, d))

  val t2QualitySql: String =
    s"""SELECT doc_id,
       |  len(string_split(text, ' ')) AS n_tokens,
       |  n_chars,
       |  floor((CAST(n_chars - len(string_split(text, ' ')) + 1 AS DOUBLE)
       |        / len(string_split(text, ' '))) * 10000 + 0.5) / 10000 AS avg_token_len,
       |  floor((CAST(len(list_filter(string_split(text, ' '), x -> list_contains($stopList, x))) AS DOUBLE)
       |        / len(string_split(text, ' '))) * 10000 + 0.5) / 10000 AS stop_ratio,
       |  floor((least(len(string_split(text, ' ')) / 100.0, 1.0) * 0.5
       |        + (CAST(len(list_filter(string_split(text, ' '), x -> list_contains($stopList, x))) AS DOUBLE)
       |           / len(string_split(text, ' '))) * 0.3
       |        + least((CAST(n_chars - len(string_split(text, ' ')) + 1 AS DOUBLE)
       |                 / len(string_split(text, ' '))) / 10.0, 1.0) * 0.2) * 10000 + 0.5) / 10000 AS quality
       |FROM documents""".stripMargin

  val t3Tokens: Q = (s, d) => TextAnalysis.tokenCounts(Tables.documents(s, d))

  val t3TokensSql: String =
    """SELECT source, count(*) AS n_docs,
      |       CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS ws_tokens,
      |       CAST(sum(len(regexp_extract_all(text, '[a-z0-9]+'))) AS BIGINT) AS word_tokens
      |FROM documents GROUP BY source""".stripMargin

  val t4Fingerprint: Q = (s, d) => TextAnalysis.fingerprint(Tables.documents(s, d))

  val t4FingerprintSql: String =
    """SELECT doc_id,
      |       md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS fingerprint
      |FROM documents""".stripMargin

  val t5Rolling: Q = (s, d) => TextAnalysis.rollingHash(Tables.documents(s, d))

  val t5RollingSql: String =
    """SELECT doc_id,
      |       list_reduce(list_prepend(CAST(0 AS BIGINT),
      |                     [CAST(unicode(x) AS BIGINT) FOR x IN string_split(text, '')]),
      |                   (a, b) -> (a * 31 + b) % 1000000007) AS rolling_hash
      |FROM documents""".stripMargin

  /** T8: PII scrub — emails/URLs/long digit runs → typed placeholders,
    * with per-doc redaction counts. */
  val t8Scrub: Q = (s, d) => TextAnalysis.scrub(Tables.documents(s, d))

  val t8ScrubSql: String =
    """WITH s1 AS (SELECT doc_id, text,
      |              regexp_replace(text, '(?i)https?://[^ ]+', '<URL>', 'g') AS t1
      |            FROM documents),
      |s2 AS (SELECT *,
      |         regexp_replace(t1, '(?i)[a-z0-9._%+-]+@[a-z0-9.-]+', '<EMAIL>', 'g') AS t2
      |       FROM s1)
      |SELECT doc_id,
      |       regexp_replace(t2, '[0-9]{4,}', '<NUM>', 'g') AS scrubbed,
      |       CAST(len(regexp_extract_all(text, '(?i)https?://[^ ]+')) AS BIGINT) AS n_urls,
      |       CAST(len(regexp_extract_all(t1, '(?i)[a-z0-9._%+-]+@[a-z0-9.-]+')) AS BIGINT) AS n_emails,
      |       CAST(len(regexp_extract_all(t2, '[0-9]{4,}')) AS BIGINT) AS n_long_nums
      |FROM s2""".stripMargin

  /** NRM1 — Unicode NFC normalization as the first text-pipeline pass
    * ([[graft.functions.NfcNormalize]], a codegen'd expression wrapping
    * java.text.Normalizer — no UDF): composition noise is synthesized
    * deterministically (every 3rd doc gains a DECOMPOSED "cafe" +
    * combining acute; every 5th a precomposed "éclair" — visually equal
    * e-acute, different bytes), and the pass reports per doc the
    * codepoint/byte deltas, the changed flag, and the md5 of the
    * normalized text — the digest dedup would key on. Without NFC,
    * exact dedup misses visually-identical docs that differ only in
    * composition form. DuckDB's nfc_normalize implements the same
    * Unicode algorithm, so every column compares byte for byte. */
  val nrm1UnicodeNormalize: Q = (s, d) => {
    val withDecomposed = when(col("doc_id") % 3 === 0,
      // explicit code points, not raw accents an editor could re-normalize:
      // %3 appends the DECOMPOSED form (e + U+0301 combining acute), %5 the
      // PRECOMPOSED U+00E9 — visually identical, different bytes
      concat(col("text"), lit(" cafe" + "\u0301"))).otherwise(col("text"))
    val raw = when(col("doc_id") % 5 === 0,
      concat(withDecomposed, lit(" " + "\u00e9" + "clair"))).otherwise(withDecomposed)
    val norm = graft.functions.nfc_normalize(col("raw"))
    Tables.documents(s, d)
      .select(col("doc_id"), raw.as("raw"))
      .select(col("doc_id"),
        length(col("raw")).cast("long").as("chars_before"),
        length(norm).cast("long").as("chars_after"),
        octet_length(col("raw")).cast("long").as("bytes_before"),
        octet_length(norm).cast("long").as("bytes_after"),
        (col("raw") =!= norm).as("changed"),
        md5(norm).as("norm_md5"))
  }

  val nrm1UnicodeNormalizeSql: String =
    """WITH raw AS (SELECT doc_id,
      |    CASE WHEN doc_id % 3 = 0 THEN text || ' cafe' || chr(769) ELSE text END ||
      |    CASE WHEN doc_id % 5 = 0 THEN ' ' || chr(233) || 'clair' ELSE '' END AS raw
      |  FROM documents)
      |SELECT doc_id,
      |       CAST(length(raw) AS BIGINT) AS chars_before,
      |       CAST(length(nfc_normalize(raw)) AS BIGINT) AS chars_after,
      |       CAST(strlen(raw) AS BIGINT) AS bytes_before,
      |       CAST(strlen(nfc_normalize(raw)) AS BIGINT) AS bytes_after,
      |       raw <> nfc_normalize(raw) AS changed,
      |       md5(nfc_normalize(raw)) AS norm_md5
      |FROM raw""".stripMargin

  /** D15 — the dedup delta NFC buys (nrm1 composed into d1's digest
    * dedup): for every 10th doc a twin is planted whose text differs
    * ONLY in composition form (decomposed e+U+0301 vs precomposed
    * U+00E9 suffix — visually identical, different bytes). Raw digests
    * keep every twin apart; NFC digests collapse them. The output is
    * the corpus accounting a pipeline owner reads to decide the nrm1
    * pass is load-bearing: rows, raw-distinct, nfc-distinct, and the
    * extra collapses NFC found. */
  val d15NfcDedup: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val a = docs.filter(col("doc_id") % 10 === 1)
      .select(col("doc_id"),
        concat(col("text"), lit(" cafe" + "\u0301")).as("text"))
    val b = docs.filter(col("doc_id") % 10 === 1)
      .select((col("doc_id") + 10000000L).as("doc_id"),
        concat(col("text"), lit(" caf" + "\u00e9")).as("text"))
    val corpus = docs.filter(col("doc_id") % 10 =!= 1)
      .select(col("doc_id"), col("text"))
      .unionByName(a).unionByName(b)
    corpus.agg(
      count(lit(1)).as("n_rows"),
      countDistinct(md5(col("text"))).as("raw_distinct"),
      countDistinct(md5(graft.functions.nfc_normalize(col("text"))))
        .as("nfc_distinct"))
      .withColumn("extra_collapsed",
        col("raw_distinct") - col("nfc_distinct"))
  }

  val d15NfcDedupSql: String =
    """WITH corpus AS (
      |  SELECT doc_id, text FROM documents WHERE doc_id % 10 <> 1
      |  UNION ALL
      |  SELECT doc_id, text || ' cafe' || chr(769) FROM documents WHERE doc_id % 10 = 1
      |  UNION ALL
      |  SELECT doc_id + 10000000, text || ' caf' || chr(233) FROM documents WHERE doc_id % 10 = 1)
      |SELECT count(*) AS n_rows,
      |       CAST(count(DISTINCT md5(text)) AS BIGINT) AS raw_distinct,
      |       CAST(count(DISTINCT md5(nfc_normalize(text))) AS BIGINT) AS nfc_distinct,
      |       CAST(count(DISTINCT md5(text)) - count(DISTINCT md5(nfc_normalize(text))) AS BIGINT) AS extra_collapsed
      |FROM corpus""".stripMargin

  /** SD1 — soft deduplication ([[graft.operators.Dedup.softDedup]]):
    * duplicates reweighted (1/n_copies per content digest) instead of
    * dropped — per source the raw vs EFFECTIVE token counts and the
    * duplicated-mass fraction; eff_tokens is what budget1's epoch math
    * should consume when the pipeline chooses reweighting over d1's
    * hard drop. */
  val sd1SoftDedup: Q = (s, d) => {
    val docs = Tables.documents(s, d).select(col("source"), col("text"))
    // plant exact copies (the d15 discipline — the raw fixture has zero
    // full-text duplicates): every 10th doc recurs once under a
    // 'crawl_dup' source, the cross-source recrawl soft dedup reweights
    val corpus = docs.unionByName(
      Tables.documents(s, d).filter(col("doc_id") % 10 === 2)
        .select(lit("crawl_dup").as("source"), col("text")))
    Dedup.softDedup(corpus, col("text"), TextAnalysis.nTokensExpr,
      col("source"))
  }

  val sd1SoftDedupSql: String = {
    val micro = "CAST(floor(CAST(n_tok AS DOUBLE) / n_copies * 1000000 + 0.5) AS BIGINT)"
    s"""WITH corpus AS (SELECT source, text FROM documents
       |                UNION ALL
       |                SELECT 'crawl_dup', text FROM documents WHERE doc_id % 10 = 2),
       |b AS (SELECT source, md5(text) AS dg,
       |             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
       |           FROM corpus),
       |c AS (SELECT *, count(*) OVER (PARTITION BY dg) AS n_copies FROM b)
       |SELECT source, count(*) AS n_docs,
       |       CAST(sum(n_tok) AS BIGINT) AS n_tokens,
       |       CAST(sum($micro) AS DOUBLE) / 1000000 AS eff_tokens,
       |       CAST(sum(CASE WHEN n_copies > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_docs,
       |       ${portableRoundSql(s"1.0 - CAST(sum($micro) AS DOUBLE) / 1000000 / sum(n_tok)", 6)} AS dup_token_frac
       |FROM c GROUP BY source""".stripMargin
  }

  /** FK1 — Flesch–Kincaid readability histogram
    * ([[graft.operators.TextAnalysis.readability]]) per (source, clamped
    * integer grade bucket), with three PLANTED punctuated docs (the sd1
    * in-query plant discipline): the raw fixture has no sentence
    * punctuation — every fixture doc reads as ONE long sentence, which
    * is itself the honest readability verdict on word-soup web text —
    * so the plants are what exercise the sentence-count leg end to end,
    * and their exact grades are spec-pinned. */
  val fk1Readability: Q = (s, d) => {
    import s.implicits._
    val planted = Seq(
      ("planted_punct", "the cat sat on the mat. the dog ran away! was it fun?"),
      ("planted_punct", "short words read easily. yes indeed."),
      ("planted_punct", "comprehensive experimental infrastructure requires extraordinary organizational discipline."))
      .toDF("source", "text")
    TextAnalysis.readability(
      Tables.documents(s, d).select(col("source"), col("text"))
        .unionByName(planted))
  }

  val fk1ReadabilitySql: String =
    s"""WITH base AS (
       |  SELECT source, text FROM documents
       |  UNION ALL
       |  SELECT * FROM (VALUES
       |    ('planted_punct', 'the cat sat on the mat. the dog ran away! was it fun?'),
       |    ('planted_punct', 'short words read easily. yes indeed.'),
       |    ('planted_punct', 'comprehensive experimental infrastructure requires extraordinary organizational discipline.')
       |  ) v(source, text)),
       |m AS (SELECT source,
       |  CAST(len(string_split(text, ' ')) AS DOUBLE) AS words,
       |  CAST(list_sum([greatest(1, len(regexp_extract_all(w, '[aeiouy]+')))
       |                 FOR w IN string_split(lower(text), ' ')]) AS DOUBLE) AS syll,
       |  CAST(greatest(1, len(regexp_extract_all(text, '[.!?]'))) AS DOUBLE) AS sents
       |  FROM base),
       |g AS (SELECT source,
       |  ${portableRoundSql("0.39 * (words / sents) + 11.8 * (syll / words) - 15.59", 4)} AS grade,
       |  ${portableRoundSql("206.835 - 1.015 * (words / sents) - 84.6 * (syll / words)", 4)} AS ease
       |  FROM m)
       |SELECT source,
       |       CAST(least(18, greatest(0, floor(grade))) AS BIGINT) AS grade_bucket,
       |       CAST(count(*) AS BIGINT) AS n_docs,
       |       ${portableRoundSql("CAST(sum(CAST(floor(grade * 10000 + 0.5) AS BIGINT)) AS DOUBLE) / 10000 / count(*)", 4)} AS mean_grade,
       |       ${portableRoundSql("CAST(sum(CAST(floor(ease * 10000 + 0.5) AS BIGINT)) AS DOUBLE) / 10000 / count(*)", 4)} AS mean_ease
       |FROM g GROUP BY source, least(18, greatest(0, floor(grade)))""".stripMargin

  // 40-token language blocks shared by the cs1 query AND its oracle so
  // the planted text is identical on both sides by construction
  private val cs1EnBlock = Seq.fill(4)("the of and to in is on for with by").mkString(" ")
  private val cs1ZhBlock = Seq.fill(4)(
    "一 二 三 四 五 六 七 八 九 十").mkString(" ")

  /** CS1 — code-switching / language-consistency audit
    * ([[graft.operators.TextAnalysis.codeSwitch]]): t1's language
    * heuristic applied per 40-token window, adjacent-window switches
    * counted in-row — the signal that routes mixed-language docs a
    * whole-doc lang-id mislabels. Fixture docs exercise the en↔und
    * stop-ratio leg (the word-soup's stopword density fluctuates across
    * windows); three PLANTED docs exercise the CJK leg with exact
    * spec-pinned switch counts (en|zh|en → 2 switches). */
  val cs1CodeSwitch: Q = (s, d) => {
    import s.implicits._
    val planted = Seq(
      ("planted_switch", s"$cs1EnBlock $cs1ZhBlock $cs1EnBlock"),
      ("planted_switch", s"$cs1EnBlock $cs1EnBlock"),
      ("planted_switch", cs1ZhBlock))
      .toDF("source", "text")
    TextAnalysis.codeSwitch(
      Tables.documents(s, d).select(col("source"), col("text"))
        .unionByName(planted))
  }

  val cs1CodeSwitchSql: String = {
    val stops = TextAnalysis.EnStopwords.map(w => s"'$w'").mkString(", ")
    def win = "t[(i*40+1):(i*40+40)]"
    s"""WITH base AS (
       |  SELECT source, text FROM documents
       |  UNION ALL
       |  SELECT * FROM (VALUES
       |    ('planted_switch', '$cs1EnBlock $cs1ZhBlock $cs1EnBlock'),
       |    ('planted_switch', '$cs1EnBlock $cs1EnBlock'),
       |    ('planted_switch', '$cs1ZhBlock')
       |  ) v(source, text)),
       |w AS (SELECT source, string_split(text, ' ') AS t FROM base),
       |c AS (SELECT source,
       |  [CASE WHEN regexp_matches(array_to_string($win, ' '), '[\\x{4e00}-\\x{9fff}]') THEN 'zh'
       |        WHEN CAST(len([x FOR x IN $win IF list_contains([$stops], x)]) AS DOUBLE)
       |             / len($win) >= 0.08 THEN 'en'
       |        ELSE 'und' END
       |   FOR i IN RANGE(0, CAST(ceil(len(t) / 40.0) AS INT))] AS wl
       |  FROM w),
       |s AS (SELECT source,
       |  CASE WHEN len(wl) >= 2
       |       THEN CAST(len([j FOR j IN range(2, len(wl) + 1) IF wl[j] <> wl[j-1]]) AS BIGINT)
       |       ELSE 0 END AS sw,
       |  len(wl) >= 2 AS multi,
       |  floor(CAST(list_max([len([x FOR x IN wl IF x = l]) FOR l IN ['en', 'zh', 'und']]) AS DOUBLE)
       |        / len(wl) * 10000 + 0.5) / 10000 AS share
       |  FROM c)
       |SELECT source,
       |       CAST(count(*) AS BIGINT) AS n_docs,
       |       CAST(sum(CASE WHEN multi THEN 1 ELSE 0 END) AS BIGINT) AS n_multi_window,
       |       CAST(sum(CASE WHEN sw >= 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_switched,
       |       CAST(sum(sw) AS BIGINT) AS sum_switches,
       |       ${portableRoundSql("CAST(sum(CAST(floor(share * 10000 + 0.5) AS BIGINT)) AS DOUBLE) / 10000 / count(*)", 4)} AS mean_dominant_share
       |FROM s GROUP BY source""".stripMargin
  }

  /** T9: Gopher-style repetition filter — duplicated-3-shingle fraction. */
  val t9Repetition: Q = (s, d) => TextAnalysis.repetition(Tables.documents(s, d))

  val t9RepetitionSql: String =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents
      |           WHERE len(string_split(text, ' ')) >= 3),
      |sh AS (SELECT doc_id,
      |         [tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]
      |          FOR i IN RANGE(1, len(tk) - 1)] AS s
      |       FROM t)
      |SELECT doc_id, CAST(len(s) AS BIGINT) AS n_shingles,
      |       floor((1.0 - CAST(len(list_distinct(s)) AS DOUBLE) / len(s)) * 10000 + 0.5) / 10000 AS dup_ratio,
      |       floor((1.0 - CAST(len(list_distinct(s)) AS DOUBLE) / len(s)) * 10000 + 0.5) / 10000 > 0.2 AS flagged
      |FROM sh""".stripMargin

  /** CHUNK1 — RAG-style token-window chunking with overlap (window 64,
    * stride 48): the context-preparation pass before embedding. Pure
    * narrow projection — sequence of starts + posexplode + slice, no
    * shuffle, output ≤ ⌈64/48⌉× corpus. See
    * [[graft.operators.TextAnalysis.chunkDocuments]]. */
  val chunk1DocChunks: Q = (s, d) =>
    TextAnalysis.chunkDocuments(Tables.documents(s, d), window = 64, stride = 48)

  val chunk1DocChunksSql: String =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
      |c AS (SELECT doc_id, tk, unnest(range(0, len(tk), 48)) AS start FROM t)
      |SELECT doc_id,
      |       CAST(start // 48 AS BIGINT) AS chunk_idx,
      |       CAST(least(64, len(tk) - start) AS BIGINT) AS n_tokens,
      |       array_to_string(list_slice(tk, start + 1, start + 64), ' ') AS chunk_text
      |FROM c""".stripMargin

  /** RAG1 — the retrieval-augmented context assembly
    * ([[graft.operators.Retrieval.ragAssembleContexts]]): chunk (window
    * 32, no overlap) → hashed-bag featurize → exact cosine top-3 per
    * query → pack in rank order under a 48-token budget → per-query
    * accounting with the assembled context compared byte for byte.
    * Queries are known-item (the first 8 tokens of every 17th doc's
    * chunks), so hit_rank is a real retrieval eval. */
  val rag1ContextAssembly: Q = (s, d) => {
    val ch = TextAnalysis.chunkDocuments(Tables.documents(s, d),
        window = 32, stride = 32)
      .select((col("doc_id") * 1000 + col("chunk_idx")).as("cid"),
        col("doc_id"), col("n_tokens"), col("chunk_text"))
    val qs = ch.filter(col("doc_id") % 17 === 0)
      .select(col("cid").as("q_id"), col("cid").as("true_cid"),
        array_join(slice(split(col("chunk_text"), " "), 1, 8), " ")
          .as("query_text"))
    graft.operators.Retrieval.ragAssembleContexts(ch.drop("doc_id"), qs)
  }

  /** Shared CTE chain of the rag1/faith1 oracles: chunk → featurize →
    * score → rank → budget-pack, ending at the per-query frame
    * `ragq(q_id, n_retrieved, n_in_context, context_tokens, hit_rank,
    * context)`. */
  private lazy val ragAssemblyCtesSql: String = {
    val dims = 16
    val bucket = md5BucketSql("tkn", dims)
    val fdefs = (0 until dims).map(j =>
      s"CAST(sum(CASE WHEN b = $j THEN 1 ELSE 0 END) AS DOUBLE) AS f${j + 1}")
      .mkString(",\n       ")
    val dot = (1 to dims).map(j => s"c.f$j * q.f$j").mkString(" + ")
    val nc = (1 to dims).map(j => s"c.f$j * c.f$j").mkString(" + ")
    val nq = (1 to dims).map(j => s"q.f$j * q.f$j").mkString(" + ")
    s"""t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
       |ch AS (SELECT doc_id, doc_id * 1000 + (start // 32) AS cid,
       |              CAST(least(32, len(tk) - start) AS BIGINT) AS n_tokens,
       |              array_to_string(list_slice(tk, start + 1, start + 32), ' ') AS chunk_text
       |       FROM (SELECT doc_id, tk, unnest(range(0, len(tk), 32)) AS start FROM t)),
       |ctok AS (SELECT cid, unnest(string_split(chunk_text, ' ')) AS tkn FROM ch),
       |cfe AS (SELECT cid, $fdefs
       |        FROM (SELECT cid, $bucket AS b FROM ctok) GROUP BY cid),
       |qs AS (SELECT cid AS q_id, cid AS true_cid,
       |              array_to_string(list_slice(string_split(chunk_text, ' '), 1, 8), ' ') AS query_text
       |       FROM ch WHERE doc_id % 17 = 0),
       |qtok AS (SELECT q_id, unnest(string_split(query_text, ' ')) AS tkn FROM qs),
       |qfe AS (SELECT q_id, $fdefs
       |        FROM (SELECT q_id, $bucket AS b FROM qtok) GROUP BY q_id),
       |sc AS (SELECT q.q_id, qs.true_cid, c.cid, ch.n_tokens, ch.chunk_text,
       |              floor(($dot) / (sqrt($nc) * sqrt($nq)) * 10000 + 0.5) / 10000 AS score
       |       FROM cfe c CROSS JOIN qfe q
       |       JOIN ch ON ch.cid = c.cid JOIN qs ON qs.q_id = q.q_id),
       |rk AS (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY score DESC, cid) AS rank
       |       FROM sc),
       |tk3 AS (SELECT *, sum(n_tokens) OVER (PARTITION BY q_id ORDER BY rank
       |                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) <= 48 AS in_ctx
       |        FROM rk WHERE rank <= 3),
       |ragq AS (SELECT q_id, count(*) AS n_retrieved,
       |       CAST(sum(CASE WHEN in_ctx THEN 1 ELSE 0 END) AS BIGINT) AS n_in_context,
       |       CAST(sum(CASE WHEN in_ctx THEN n_tokens ELSE 0 END) AS BIGINT) AS context_tokens,
       |       CAST(max(CASE WHEN cid = true_cid THEN rank ELSE 0 END) AS BIGINT) AS hit_rank,
       |       string_agg(chunk_text, ' | ' ORDER BY rank) FILTER (WHERE in_ctx) AS context
       |FROM tk3 GROUP BY q_id)""".stripMargin
  }

  lazy val rag1ContextAssemblySql: String =
    s"""WITH $ragAssemblyCtesSql
       |SELECT * FROM ragq""".stripMargin

  /** FAITH1 — RAG groundedness scoring
    * ([[graft.operators.Retrieval.ragFaithfulness]]) over rag1's
    * assembled contexts: answers are synthesized as the context's first
    * 12 tokens plus 2 + q_id % 4 PLANTED hallucinated tokens, and the
    * score is the fraction of answer 3-gram instances supported by the
    * context — the eval a RAG product gates on and the filter a
    * synthetic-data pipeline runs before keeping generated answers. */
  val faith1RagGrounding: Q = (s, d) =>
    graft.operators.Retrieval.ragFaithfulness(
      rag1ContextAssembly(s, d).select(col("q_id"), col("context")))

  lazy val faith1RagGroundingSql: String = {
    val grounded = "len(list_filter(ag, g -> list_contains(cg, g)))"
    val faith = s"floor(CAST($grounded AS DOUBLE) / len(ag) * 1000000 + 0.5) / 1000000"
    s"""WITH $ragAssemblyCtesSql,
       |ans AS (SELECT q_id,
       |          array_to_string(list_slice(string_split(context, ' '), 1, 12), ' ')
       |            || ' ' ||
       |          array_to_string(['halluc_' || CAST(q_id AS VARCHAR) || '_' || CAST(i AS VARCHAR)
       |                           FOR i IN RANGE(0, 2 + q_id % 4)], ' ') AS answer,
       |          context
       |        FROM ragq),
       |gr AS (SELECT q_id, string_split(answer, ' ') AS at,
       |              string_split(context, ' ') AS ct
       |       FROM ans),
       |gg AS (SELECT q_id,
       |         CAST(len(at) AS BIGINT) AS answer_tokens,
       |         CAST(2 + q_id % 4 AS BIGINT) AS n_hallucinated,
       |         [array_to_string(list_slice(at, i, i + 2), ' ') FOR i IN RANGE(1, len(at) - 1)] AS ag,
       |         [array_to_string(list_slice(ct, i, i + 2), ' ') FOR i IN RANGE(1, len(ct) - 1)] AS cg
       |       FROM gr)
       |SELECT q_id, answer_tokens, n_hallucinated,
       |       CAST(len(ag) AS BIGINT) AS n_answer_grams,
       |       CAST($grounded AS BIGINT) AS n_grounded,
       |       $faith AS faithfulness,
       |       $faith >= 0.6 AS faithful
       |FROM gg""".stripMargin
  }

  /** D10 — cross-document repeated-span detection (Lee et al. 2022): per
    * document, the fraction of its distinct 8-token spans that also occur
    * in ≥1 OTHER document — the boilerplate signal exact dedup misses.
    * Spans shuffle as md5 digests only; two compact-key shuffles, plus a
    * conditional scan fan-out exchange of the document text on small
    * inputs (scanParallel — identity at scale, see FanOut's scaladoc).
    * See [[graft.operators.Dedup.dupSpans]]. */
  val d10DupSpans: Q = (s, d) =>
    Dedup.dupSpans(scanParallel(Tables.documents(s, d)), k = 8)

  val d10DupSpansSql: String =
    s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
       |sp AS (SELECT doc_id,
       |         list_distinct([array_to_string(list_slice(tk, i, i + 7), ' ')
       |                        FOR i IN RANGE(1, len(tk) - 6)]) AS s
       |       FROM t WHERE len(tk) >= 8),
       |ex AS (SELECT doc_id, unnest(s) AS sg FROM sp),
       |hx AS (SELECT doc_id, md5(sg) AS h FROM ex),
       |c AS (SELECT doc_id, count(*) OVER (PARTITION BY h) AS n_docs FROM hx),
       |r AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
       |             CAST(sum(CASE WHEN n_docs >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared
       |      FROM c GROUP BY doc_id)
       |SELECT doc_id, n_spans, n_shared,
       |       ${portableRoundSql("CAST(n_shared AS DOUBLE) / n_spans", 4)} AS shared_ratio,
       |       ${portableRoundSql("CAST(n_shared AS DOUBLE) / n_spans", 4)} > 0.2 AS flagged
       |FROM r""".stripMargin

  /** DSIR1 — importance-resampling weights (Xie et al. 2023): every doc
    * scored by the log-likelihood ratio of its hashed-unigram bag under
    * the target slice (here: `lang = 'en'`) vs the raw pool. Model tables
    * are `featureBuckets` rows → broadcast; the only corpus shuffle is the
    * per-doc rollup, summing exact micro-units (order-free, hashable).
    * See [[graft.operators.Importance.dsirWeights]]. */
  /** DOREMI1 — multiplicative-weights domain reweighting (DoReMi, Xie et
    * al. 2023): ten rounds of exp(η·excess-surprisal) updates over the
    * 20 source domains with uniform smoothing, the baseline moving with
    * the weights each round. One data-sized pass (the token-surprisal
    * aggregation); the iteration runs on K-row micro-unit state replayed
    * by ten materialized CTE stages in the oracle.
    * See [[graft.operators.Curation.doremiWeights]]. */
  val doremi1DomainWeights: Q = (s, d) =>
    graft.operators.Curation.doremiWeights(Tables.documents(s, d))

  /** PREF1 — preference-pair construction for reward-model/DPO training:
    * per (lang, source) group, rank documents by the shared t2 quality
    * score and match the i-th best with the i-th worst, keeping pairs
    * with margin ≥ 0.05 — bt1 RANKS from given pairwise outcomes, pref1
    * BUILDS the pairs a preference model trains on. One keyed window +
    * one co-partitioned self-join (the exchange is reused).
    * See [[graft.operators.Curation.preferencePairs]]. */
  val pref1DpoPairs: Q = (s, d) =>
    graft.operators.Curation.preferencePairs(Tables.documents(s, d))

  val pref1DpoPairsSql: String = {
    val quality =
      s"""floor((least(len(string_split(text, ' ')) / 100.0, 1.0) * 0.5
         |  + (CAST(len(list_filter(string_split(text, ' '), x -> list_contains($stopList, x))) AS DOUBLE)
         |     / len(string_split(text, ' '))) * 0.3
         |  + least((CAST(n_chars - len(string_split(text, ' ')) + 1 AS DOUBLE)
         |           / len(string_split(text, ' '))) / 10.0, 1.0) * 0.2) * 10000 + 0.5) / 10000""".stripMargin
    s"""WITH q AS (SELECT doc_id, lang, source, $quality AS quality FROM documents),
       |r AS (SELECT *,
       |        row_number() OVER (PARTITION BY lang, source ORDER BY quality DESC, doc_id) AS rn,
       |        count(*) OVER (PARTITION BY lang, source) AS n
       |      FROM q),
       |c AS (SELECT lang, source, CAST(rn AS BIGINT) AS pair_rank,
       |             doc_id AS chosen_id, quality AS chosen_q
       |      FROM r WHERE rn * 2 <= n),
       |j AS (SELECT lang, source, CAST(n - rn + 1 AS BIGINT) AS pair_rank,
       |             doc_id AS rejected_id, quality AS rejected_q
       |      FROM r WHERE rn * 2 > n)
       |SELECT c.lang, c.source, c.pair_rank, chosen_id, rejected_id,
       |       chosen_q, rejected_q,
       |       floor((chosen_q - rejected_q) * 10000 + 0.5) / 10000 AS margin
       |FROM c JOIN j USING (lang, source, pair_rank)
       |WHERE floor((chosen_q - rejected_q) * 10000 + 0.5) / 10000 >= 0.05""".stripMargin
  }

  /** BUDGET1 — data-constrained epoch allocation (Muennighoff et al.
    * 2022): one corpus rollup gives each source's unique-token mass; a
    * greedy over the |sources|×6 candidate-epoch metadata frame admits
    * epochs in marginal-value order (value of epoch e = u·2^-(e-1))
    * until the 2.2×-unique-mass token budget stops fitting. The side of
    * doremi1 that answers "how many REPEATS does each source get",
    * where doremi1 answers "what sampling WEIGHT".
    * See [[graft.operators.Curation.epochAllocation]]. */
  val budget1EpochAllocation: Q = (s, d) =>
    graft.operators.Curation.epochAllocation(Tables.documents(s, d))

  val budget1EpochAllocationSql: String =
    """WITH u AS (SELECT source,
      |             CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS unique_tokens
      |           FROM documents GROUP BY source),
      |b AS (SELECT CAST((sum(unique_tokens) * 11) // 5 AS BIGINT) AS budget FROM u),
      |cand AS (SELECT source, unique_tokens, budget, e,
      |                CAST(unique_tokens AS DOUBLE) / pow(2.0, e - 1) AS marginal
      |         FROM u CROSS JOIN b
      |         CROSS JOIN (SELECT unnest(generate_series(1, 6)) AS e) t),
      |r AS (SELECT *, sum(unique_tokens) OVER (ORDER BY marginal DESC, source, e
      |                   ROWS UNBOUNDED PRECEDING) AS spent
      |      FROM cand)
      |SELECT source, unique_tokens,
      |       CAST(sum(CASE WHEN spent <= budget THEN 1 ELSE 0 END) AS BIGINT) AS epochs,
      |       CAST(sum(CASE WHEN spent <= budget THEN 1 ELSE 0 END) * unique_tokens AS BIGINT) AS alloc_tokens,
      |       floor(sum(CASE WHEN spent <= budget THEN marginal ELSE 0 END) * 10000 + 0.5) / 10000 AS value,
      |       budget
      |FROM r GROUP BY source, unique_tokens, budget""".stripMargin

  val doremi1DomainWeightsSql: String = {
    val (iters, eta, smooth) = (10, 0.5, 0.01)
    val stages = (1 to iters).map { t =>
      s"""it$t AS MATERIALIZED (
         |  SELECT source, n_tokens, l_m, k,
         |    CAST(floor(((1.0 - $smooth) * (CAST(g AS DOUBLE) / CAST(z AS DOUBLE))
         |                + $smooth / CAST(k AS DOUBLE)) * 1000000 + 0.5) AS BIGINT) AS w
         |  FROM (SELECT source, n_tokens, l_m, k, g, sum(g) OVER () AS z FROM (
         |    SELECT source, n_tokens, l_m, k,
         |      CAST(floor(CAST(w AS DOUBLE) / 1000000
         |             * exp($eta * (CAST(l_m AS DOUBLE) / 1000000 - CAST(b AS DOUBLE) / 1000000000000))
         |             * 1000000 + 0.5) AS BIGINT) AS g
         |    FROM (SELECT source, n_tokens, l_m, k, w, sum(w * l_m) OVER () AS b
         |          FROM it${t - 1}))))""".stripMargin
    }.mkString(",\n")
    s"""WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
       |c AS (SELECT tok, count(*) AS n_w FROM toks GROUP BY 1),
       |tot AS (SELECT CAST(sum(n_w) AS BIGINT) AS n_total, count(*) AS v_size FROM c),
       |sp AS (SELECT doc_id,
       |         floor((-ln(CAST(n_w + 1 AS DOUBLE) / CAST(n_total + v_size AS DOUBLE))) * 1000000 + 0.5) / 1000000 AS surp
       |       FROM toks JOIN c USING (tok) CROSS JOIN tot),
       |dm AS MATERIALIZED (
       |  SELECT source, CAST(count(*) AS BIGINT) AS n_tokens,
       |         CAST(floor(CAST(sum(CAST(surp AS DECIMAL(18,6))) AS DOUBLE) / count(*) * 1000000 + 0.5) AS BIGINT) AS l_m
       |  FROM sp JOIN documents USING (doc_id) GROUP BY source),
       |it0 AS MATERIALIZED (
       |  SELECT source, n_tokens, l_m, k,
       |         CAST(floor(1000000.0 / k) AS BIGINT) AS w
       |  FROM dm CROSS JOIN (SELECT CAST(count(*) AS BIGINT) AS k FROM dm)),
       |$stages
       |SELECT source, n_tokens,
       |       CAST(l_m AS DOUBLE) / 1000000 AS loss,
       |       CAST(w AS DOUBLE) / 1000000 AS weight
       |FROM it$iters""".stripMargin
  }

  val dsir1Importance: Q = (s, d) =>
    graft.operators.Importance.dsirWeights(Tables.documents(s, d),
      col("doc_id"), col("text"), col("lang") === "en", featureBuckets = 128)

  val dsir1ImportanceSql: String =
    s"""WITH tok AS (SELECT doc_id, (lang = 'en') AS tgt,
       |                    unnest(string_split(text, ' ')) AS t
       |             FROM documents),
       |h AS (SELECT doc_id, tgt, ${md5BucketSql("t", 128)} AS f FROM tok),
       |c AS (SELECT f, CAST(count(*) AS DOUBLE) AS c_all,
       |             CAST(sum(CASE WHEN tgt THEN 1 ELSE 0 END) AS DOUBLE) AS c_tgt
       |      FROM h GROUP BY f),
       |tot AS (SELECT sum(c_all) AS n_all, sum(c_tgt) AS n_tgt FROM c),
       |lr AS (SELECT f, CAST(floor((ln((c_tgt + 1.0) / (n_tgt + 128.0))
       |                           - ln((c_all + 1.0) / (n_all + 128.0))) * 1000000 + 0.5) AS BIGINT) AS micro
       |       FROM c CROSS JOIN tot),
       |d AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
       |             CAST(sum(micro) AS BIGINT) AS m
       |      FROM h JOIN lr USING (f) GROUP BY doc_id)
       |SELECT doc_id, n_tokens,
       |       CAST(m AS DOUBLE) / 1000000 AS dsir_logw,
       |       m > 0 AS keep
       |FROM d""".stripMargin

  /** MIX3 — temperature-scaled source mixing (τ=0.5): kept proportions
    * follow p_s^0.5 renormalized, rates derived in-plan from the observed
    * counts with an order-free min (no float sum over sources — the
    * normalizer cancels). See [[graft.operators.Sampling.temperatureMix]]. */
  val mix3TemperatureMix: Q = (s, d) =>
    graft.operators.Sampling.temperatureMix(Tables.documents(s, d),
      col("source"), col("doc_id"), tau = 0.5)
      .select(col("doc_id"), col("source"), col("lang"))

  val mix3TemperatureMixSql: String =
    s"""WITH c AS (SELECT source AS src, CAST(count(*) AS DOUBLE) AS n
       |           FROM documents GROUP BY 1),
       |w AS (SELECT src, n, sqrt(n) AS w FROM c),
       |cap AS (SELECT min(n / w) AS cp FROM w),
       |r AS (SELECT src, CAST(floor(cp * w / n * 10000 + 0.5) AS BIGINT) AS thresh
       |      FROM w CROSS JOIN cap)
       |SELECT d.doc_id, d.source, d.lang
       |FROM documents d JOIN r ON d.source = r.src
       |WHERE ${md5BucketSql("CAST(d.doc_id AS VARCHAR)")} < r.thresh""".stripMargin

  /** CTX1 — long-context data mixing
    * ([[graft.operators.Sampling.lengthMix]]): raise the long-document
    * TOKEN share to 0.75 (the fixture reads ~0.6 naturally at
    * longMin = 64, so the short-bucket downsampling genuinely bites) by
    * the deterministic key-hash predicate; long docs never drop,
    * nothing duplicates. Per length bucket: before/after docs+tokens,
    * the keep rate and the achieved share — the accounting a
    * long-context extension recipe publishes. */
  val ctx1LengthMix: Q = (s, d) =>
    graft.operators.Sampling.lengthMix(Tables.documents(s, d),
      col("doc_id"), TextAnalysis.nTokensExpr)

  val ctx1LengthMixSql: String = {
    val hb = md5BucketSql("'ctx1:' || CAST(doc_id AS VARCHAR)")
    s"""WITH b AS (SELECT doc_id,
       |             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
       |             CASE WHEN len(string_split(text, ' ')) >= 64
       |                  THEN 'long' ELSE 'short' END AS bucket,
       |             CAST($hb AS BIGINT) AS hb
       |           FROM documents),
       |tot AS (SELECT sum(CASE WHEN bucket = 'long' THEN n_tok ELSE 0 END) AS long_tok,
       |               sum(CASE WHEN bucket = 'short' THEN n_tok ELSE 0 END) AS short_tok
       |        FROM b),
       |th AS (SELECT CASE WHEN short_tok = 0 THEN 10000
       |              ELSE least(10000, CAST(floor(CAST(long_tok AS DOUBLE) * (1.0 - 0.75)
       |                     / (0.75 * CAST(short_tok AS DOUBLE)) * 10000 + 0.5) AS BIGINT)) END AS thresh
       |       FROM tot),
       |f AS (SELECT b.*, thresh, (bucket = 'long' OR hb < thresh) AS kept
       |      FROM b CROSS JOIN th),
       |a AS (SELECT bucket, count(*) AS n_docs,
       |             CAST(sum(n_tok) AS BIGINT) AS n_tokens,
       |             CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS kept_docs,
       |             CAST(sum(CASE WHEN kept THEN n_tok ELSE 0 END) AS BIGINT) AS kept_tokens,
       |             max(thresh) AS th
       |      FROM f GROUP BY bucket),
       |t2 AS (SELECT sum(kept_tokens) AS kt,
       |              sum(CASE WHEN bucket = 'long' THEN kept_tokens ELSE 0 END) AS klt
       |       FROM a)
       |SELECT bucket, n_docs, n_tokens, kept_docs, kept_tokens,
       |       CASE WHEN bucket = 'long' THEN 1.0 ELSE CAST(th AS DOUBLE) / 10000 END AS keep_rate,
       |       ${portableRoundSql("CAST(klt AS DOUBLE) / kt", 6)} AS achieved_long_share
       |FROM a CROSS JOIN t2""".stripMargin
  }

  /** SHUF1 — deterministic epoch-shuffle manifest (epoch 1, 8 shards):
    * shard + dense within-shard position, both pure salted-md5 functions
    * of the key — the training order a 100 TB run READS instead of
    * shuffling; per-shard sort only, never a global one.
    * See [[graft.operators.Sampling.epochShuffle]]. */
  val shuf1EpochOrder: Q = (s, d) =>
    graft.operators.Sampling.epochShuffle(Tables.documents(s, d),
      col("doc_id"), epoch = 1, shards = 8)
      .select(col("doc_id"), col("shard"), col("pos"))

  val shuf1EpochOrderSql: String = {
    val shardE = md5BucketSql("'ep1-sh:' || CAST(doc_id AS VARCHAR)", 8)
    val ordE = md5BucketSql("'ep1-ord:' || CAST(doc_id AS VARCHAR)", 100000000)
    s"""SELECT doc_id,
       |       CAST($shardE AS BIGINT) AS shard,
       |       CAST(row_number() OVER (PARTITION BY $shardE
       |                               ORDER BY $ordE, doc_id) AS BIGINT) AS pos
       |FROM documents""".stripMargin
  }

  /** PACK1 — the sequence-packing manifest: where each document lands in
    * the fixed-capacity concatenated token stream (capacity 512, 8
    * shards) — shard, deterministic order, stream offset, first sequence
    * id, offset within it, and whether the doc straddles a sequence
    * boundary (concat-and-cut packing, GPT-style). One exchange on shard
    * + a per-shard running sum; the oracle replays shard, order and every
    * cumulative position digit-exact.
    *
    * Relationship to [[pk1SequencePack]]: pk1 assigns WHOLE documents to
    * target-size bins in doc_id order (the compaction/packing-for-storage
    * form, via `Layout.compactionPlan`); pack1 is the TRAINING form —
    * documents cut mid-stream at capacity boundaries over the salted
    * epoch-shuffle order, emitting the offsets and straddle flags a
    * loader needs for resumption and cross-document attention masking.
    * See [[graft.operators.Sampling.packSequences]]. */
  /** CONV1 — SFT conversation assembly
    * ([[graft.operators.Curation.sftAssemble]]): documents become
    * alternating user/assistant turn conversations (deterministic
    * doc_id-derived turn lengths standing in for real turn structure),
    * rendered through the chat template with loss-mask accounting —
    * assistant tokens train, user tokens are masked. The rendered
    * template string itself is oracle-compared token for token. */
  val conv1SftAssemble: Q = (s, d) =>
    Curation.sftAssemble(Tables.documents(s, d))

  val conv1SftAssembleSql: String =
    """WITH d AS (SELECT doc_id, string_split(text, ' ') AS t,
      |                  4 + doc_id % 5 AS lu, 6 + doc_id % 7 AS la
      |           FROM documents),
      |p AS (SELECT doc_id, t, lu, la, lu + la AS pl,
      |             CAST(len(t) // (lu + la) AS BIGINT) AS n_pairs
      |      FROM d)
      |SELECT doc_id, n_pairs,
      |       CAST(n_pairs * pl AS BIGINT) AS n_tokens_used,
      |       CAST(n_pairs * la AS BIGINT) AS assistant_tokens,
      |       floor(CAST(la AS DOUBLE) / pl * 1000000 + 0.5) / 1000000 AS trainable_frac,
      |       array_to_string([
      |         '<|user|> ' || array_to_string(t[CAST(pp * pl + 1 AS BIGINT):CAST(pp * pl + lu AS BIGINT)], ' ') ||
      |         ' <|assistant|> ' || array_to_string(t[CAST(pp * pl + lu + 1 AS BIGINT):CAST(pp * pl + lu + la AS BIGINT)], ' ')
      |         FOR pp IN RANGE(0, n_pairs)], ' ') AS template
      |FROM p WHERE n_pairs >= 1""".stripMargin

  val pack1SequencePacking: Q = (s, d) =>
    graft.operators.Sampling.packSequences(Tables.documents(s, d),
      col("doc_id"), TextAnalysis.nTokensExpr, capacity = 512, shards = 8)
      .select(col("doc_id"), col("shard"), col("pos"), col("n_tok"),
        col("start_tok"), col("seq_id"), col("seq_offset"), col("straddles"))

  val pack1SequencePackingSql: String = {
    val shardE = md5BucketSql("'pack0-sh:' || CAST(doc_id AS VARCHAR)", 8)
    val ordE = md5BucketSql("'pack0-ord:' || CAST(doc_id AS VARCHAR)", 100000000)
    s"""WITH t AS (SELECT doc_id,
       |             CAST($shardE AS BIGINT) AS shard,
       |             CAST($ordE AS BIGINT) AS ord,
       |             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
       |           FROM documents),
       |w AS (SELECT doc_id, shard, n_tok,
       |        CAST(row_number() OVER sh AS BIGINT) AS pos,
       |        CAST(COALESCE(sum(n_tok) OVER (sh ROWS BETWEEN UNBOUNDED PRECEDING
       |                                       AND 1 PRECEDING), 0) AS BIGINT) AS start_tok
       |      FROM t WINDOW sh AS (PARTITION BY shard ORDER BY ord, doc_id))
       |SELECT doc_id, shard, pos, n_tok, start_tok,
       |       start_tok // 512 AS seq_id,
       |       start_tok % 512 AS seq_offset,
       |       (start_tok + n_tok - 1) // 512 > start_tok // 512 AS straddles
       |FROM w""".stripMargin
  }

  /** PACK3 — shard MATERIALIZATION: pack1's manifest made into the
    * actual fixed-capacity token sequences a trainer loads (shard 0 of
    * 8, capacity 512) — the zm1-moment for packing: the plan is only
    * trustworthy once bytes obey it. Every sequence except the shard's
    * last holds exactly 512 tokens; straddling documents continue into
    * the next sequence. Output is one row per sequence with the exact
    * token text, replayed token-for-token by the oracle (same salted
    * window + concat-and-cut in SQL).
    * See [[graft.operators.Sampling.materializeShard]]. */
  val pack3Materialize: Q = (s, d) =>
    graft.operators.Sampling.materializeShard(Tables.documents(s, d),
      col("doc_id"), split(col("text"), " "), capacity = 512, shards = 8,
      shard = 0)
      .select(col("seq_id"), col("n_tokens"),
        array_join(col("tokens"), " ").as("seq_text"))

  val pack3MaterializeSql: String = {
    val shardE = md5BucketSql("'pack0-sh:' || CAST(doc_id AS VARCHAR)", 8)
    val ordE = md5BucketSql("'pack0-ord:' || CAST(doc_id AS VARCHAR)", 100000000)
    s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk,
       |             CAST($shardE AS BIGINT) AS shard,
       |             CAST($ordE AS BIGINT) AS ord
       |           FROM documents),
       |w AS (SELECT doc_id, tk,
       |        CAST(COALESCE(sum(len(tk)) OVER (sh ROWS BETWEEN UNBOUNDED PRECEDING
       |                                         AND 1 PRECEDING), 0) AS BIGINT) AS start_tok
       |      FROM t WHERE shard = 0
       |      WINDOW sh AS (ORDER BY ord, doc_id)),
       |st AS (SELECT u.sp AS sp, u.tok AS tok FROM (
       |         SELECT unnest([{'sp': start_tok + i - 1, 'tok': tk[i]}
       |                        FOR i IN RANGE(1, len(tk) + 1)]) AS u
       |         FROM w))
       |SELECT CAST(sp // 512 AS BIGINT) AS seq_id,
       |       CAST(count(*) AS BIGINT) AS n_tokens,
       |       array_to_string(list(tok ORDER BY sp), ' ') AS seq_text
       |FROM st GROUP BY 1""".stripMargin
  }

  /** PACK2 — non-straddling greedy next-fit packing (pack1's sibling for
    * loaders that cannot mask cross-document attention): a document that
    * would cross a sequence boundary starts a fresh sequence. The Spark
    * side is a per-shard sequential fold (the one genuinely iterative
    * packing variant); the oracle replays the fold as a recursive CTE
    * advancing every shard in lockstep.
    * See [[graft.operators.Sampling.packSequencesNoStraddle]]. */
  val pack2NoStraddle: Q = (s, d) =>
    graft.operators.Sampling.packSequencesNoStraddle(Tables.documents(s, d),
      col("doc_id"), TextAnalysis.nTokensExpr, capacity = 512, shards = 8)
      .select(col("pk").as("doc_id"), col("shard"), col("pos"), col("n_tok"),
        col("eff_tok"), col("seq_id"), col("seq_offset"), col("truncated"))

  val pack2NoStraddleSql: String = {
    val cap = 512
    val shardE = md5BucketSql("'pack0-sh:' || CAST(doc_id AS VARCHAR)", 8)
    val ordE = md5BucketSql("'pack0-ord:' || CAST(doc_id AS VARCHAR)", 100000000)
    s"""WITH RECURSIVE t AS (
       |  SELECT doc_id, shard, n_tok, least(n_tok, $cap) AS eff_tok,
       |         CAST(row_number() OVER (PARTITION BY shard ORDER BY ord, doc_id) AS BIGINT) AS pos
       |  FROM (SELECT doc_id,
       |          CAST($shardE AS BIGINT) AS shard,
       |          CAST($ordE AS BIGINT) AS ord,
       |          CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
       |        FROM documents)),
       |rec AS (
       |  SELECT doc_id, shard, pos, n_tok, eff_tok,
       |         CAST(0 AS BIGINT) AS seq_id, CAST(0 AS BIGINT) AS seq_offset,
       |         eff_tok AS fill
       |  FROM t WHERE pos = 1
       |  UNION ALL
       |  SELECT t.doc_id, t.shard, t.pos, t.n_tok, t.eff_tok,
       |         CASE WHEN rec.fill + t.eff_tok > $cap THEN rec.seq_id + 1 ELSE rec.seq_id END,
       |         CASE WHEN rec.fill + t.eff_tok > $cap THEN CAST(0 AS BIGINT) ELSE rec.fill END,
       |         CASE WHEN rec.fill + t.eff_tok > $cap THEN t.eff_tok ELSE rec.fill + t.eff_tok END
       |  FROM rec JOIN t ON t.shard = rec.shard AND t.pos = rec.pos + 1)
       |SELECT doc_id, shard, pos, n_tok, eff_tok, seq_id, seq_offset,
       |       n_tok > $cap AS truncated
       |FROM rec""".stripMargin
  }

  /** SFT2 — the SFT training-batch materialization: conv1's assembled
    * conversations packed NO-STRADDLE into capacity-128 bins (an SFT
    * loader cannot mask cross-conversation attention, so a conversation
    * never crosses a bin boundary — pack2's fold with conv1's lengths),
    * then per-bin loss-mask accounting: conversations, packed tokens,
    * TRAINABLE (assistant) tokens, and the trainable/fill fractions a
    * batch planner budgets on. Fixture docs are ≤ 100 tokens, so no
    * conversation can hit the 128 cap (truncation impossible and the
    * assistant-token carry exact by construction). */
  val sft2MaskPack: Q = (s, d) => {
    val conv = Curation.sftAssemble(Tables.documents(s, d))
      .select(col("doc_id"), col("n_tokens_used"), col("assistant_tokens"))
      .localCheckpoint() // the packer and the mask join-back share ONE pass
    val packed = graft.operators.Sampling.packSequencesNoStraddle(
      conv, col("doc_id"), col("n_tokens_used"),
      capacity = 128, shards = 4, salt = "sft2")
    packed
      .join(conv.select(col("doc_id").as("pk"), col("assistant_tokens")), "pk")
      .groupBy(col("shard"), col("seq_id"))
      .agg(count(lit(1)).as("n_convos"),
        sum(col("eff_tok")).as("bin_tokens"),
        sum(col("assistant_tokens")).as("trainable_tokens"))
      .select(col("shard"), col("seq_id"), col("n_convos"), col("bin_tokens"),
        col("trainable_tokens"),
        portableRound(col("trainable_tokens").cast("double") /
          col("bin_tokens"), 6).as("trainable_frac"),
        portableRound(col("bin_tokens").cast("double") / 128.0, 6)
          .as("fill_frac"))
  }

  /** Shared CTE chain of the sft2/release3 oracles: conv1's turn
    * arithmetic over `src` (a CTE/table with doc_id + text) into pack2's
    * recursive no-straddle fold, parameterized by salt. Ends at
    * `rec(doc_id, a_tok, shard, pos, eff_tok, seq_id, fill)`. */
  private def sftPackCtesSql(src: String, salt: String, cap: Int): String = {
    val shardE = md5BucketSql(s"'$salt-sh:' || CAST(doc_id AS VARCHAR)", 4)
    val ordE = md5BucketSql(s"'$salt-ord:' || CAST(doc_id AS VARCHAR)", 100000000)
    s"""pd0 AS (SELECT doc_id, string_split(text, ' ') AS tx,
       |                  4 + doc_id % 5 AS lu, 6 + doc_id % 7 AS la
       |           FROM $src),
       |pcv AS (SELECT doc_id,
       |              CAST((lu + la) * (len(tx) // (lu + la)) AS BIGINT) AS n_tok,
       |              CAST(la * (len(tx) // (lu + la)) AS BIGINT) AS a_tok
       |       FROM pd0 WHERE len(tx) // (lu + la) >= 1),
       |pt AS (SELECT doc_id, a_tok, shard, n_tok, least(n_tok, $cap) AS eff_tok,
       |             CAST(row_number() OVER (PARTITION BY shard ORDER BY ord, doc_id) AS BIGINT) AS pos
       |      FROM (SELECT doc_id, a_tok, n_tok,
       |              CAST($shardE AS BIGINT) AS shard,
       |              CAST($ordE AS BIGINT) AS ord
       |            FROM pcv)),
       |rec AS (
       |  SELECT doc_id, a_tok, shard, pos, eff_tok,
       |         CAST(0 AS BIGINT) AS seq_id, eff_tok AS fill
       |  FROM pt WHERE pos = 1
       |  UNION ALL
       |  SELECT pt.doc_id, pt.a_tok, pt.shard, pt.pos, pt.eff_tok,
       |         CASE WHEN rec.fill + pt.eff_tok > $cap THEN rec.seq_id + 1 ELSE rec.seq_id END,
       |         CASE WHEN rec.fill + pt.eff_tok > $cap THEN pt.eff_tok ELSE rec.fill + pt.eff_tok END
       |  FROM rec JOIN pt ON pt.shard = rec.shard AND pt.pos = rec.pos + 1)""".stripMargin
  }

  val sft2MaskPackSql: String =
    s"""WITH RECURSIVE ${sftPackCtesSql("documents", "sft2", 128)}
       |SELECT shard, seq_id, count(*) AS n_convos,
       |       CAST(sum(eff_tok) AS BIGINT) AS bin_tokens,
       |       CAST(sum(a_tok) AS BIGINT) AS trainable_tokens,
       |       floor(CAST(sum(a_tok) AS DOUBLE) / sum(eff_tok) * 1000000 + 0.5) / 1000000 AS trainable_frac,
       |       floor(CAST(sum(eff_tok) AS DOUBLE) / 128 * 1000000 + 0.5) / 1000000 AS fill_frac
       |FROM rec GROUP BY shard, seq_id""".stripMargin

  /** RELEASE3 — the SFT ship line as ONE oracle-checked plan (release1's
    * discipline applied to the instruct-data leg): quality gate (t10's
    * shared verdict) → conversation assembly (conv1) → no-straddle
    * packing (pack2's fold, rel3 salt) → the per-shard dataset card
    * (bins, conversations, packed/trainable tokens, trainable and mean
    * fill fractions — what an SFT data release publishes). */
  val release3SftRelease: Q = (s, d) => {
    val gated = Tables.documents(s, d).filter(corpusReasonExpr === "ok")
    val conv = Curation.sftAssemble(gated)
      .select(col("doc_id"), col("n_tokens_used"), col("assistant_tokens"))
      .localCheckpoint() // stage boundary: gate+assembly run ONCE
    val packed = graft.operators.Sampling.packSequencesNoStraddle(
      conv, col("doc_id"), col("n_tokens_used"),
      capacity = 128, shards = 4, salt = "rel3")
    val bins = packed
      .join(conv.select(col("doc_id").as("pk"), col("assistant_tokens")), "pk")
      .groupBy(col("shard"), col("seq_id"))
      .agg(count(lit(1)).as("n_convos"),
        sum(col("eff_tok")).as("bin_tokens"),
        sum(col("assistant_tokens")).as("trainable_tokens"))
    bins.groupBy(col("shard"))
      .agg(count(lit(1)).as("n_bins"),
        sum(col("n_convos")).as("n_convos"),
        sum(col("bin_tokens")).as("n_tokens"),
        sum(col("trainable_tokens")).as("n_trainable"))
      .select(col("shard"), col("n_bins"), col("n_convos"), col("n_tokens"),
        col("n_trainable"),
        portableRound(col("n_trainable").cast("double") / col("n_tokens"), 6)
          .as("trainable_frac"),
        portableRound(col("n_tokens").cast("double") /
          (col("n_bins") * 128.0), 6).as("mean_fill"))
  }

  lazy val release3SftReleaseSql: String =
    corpusSignalsCteSql.replaceFirst("^WITH ", "WITH RECURSIVE ") + s""",
       |okd AS (SELECT doc_id, text FROM b WHERE $corpusReasonSql = 'ok'),
       |${sftPackCtesSql("okd", "rel3", 128)},
       |bins AS (SELECT shard, seq_id, count(*) AS n_convos,
       |                sum(eff_tok) AS bin_tokens, sum(a_tok) AS tr
       |         FROM rec GROUP BY shard, seq_id)
       |SELECT shard, count(*) AS n_bins,
       |       CAST(sum(n_convos) AS BIGINT) AS n_convos,
       |       CAST(sum(bin_tokens) AS BIGINT) AS n_tokens,
       |       CAST(sum(tr) AS BIGINT) AS n_trainable,
       |       floor(CAST(sum(tr) AS DOUBLE) / sum(bin_tokens) * 1000000 + 0.5) / 1000000 AS trainable_frac,
       |       floor(CAST(sum(bin_tokens) AS DOUBLE) / (count(*) * 128.0) * 1000000 + 0.5) / 1000000 AS mean_fill
       |FROM bins GROUP BY shard""".stripMargin

  /** ST20 — the streaming SFT packer
    * ([[graft.streaming.SftPackStream]]): release3's gate → assembly →
    * no-straddle pack → per-shard card as a foreachBatch job over an
    * ord-range 3-batch replay, per-shard packer state carried as two
    * longs (open bin + fill). The converged card must equal release3's
    * batch card EXACTLY — it shares release3's DuckDB oracle verbatim
    * (the st18/st19 discipline applied to the SFT leg). */
  val st20StreamSft: Q = (s, d) => {
    val gated = Tables.documents(s, d).filter(corpusReasonExpr === "ok")
    val conv = Curation.sftAssemble(gated)
      .select(col("doc_id"), col("n_tokens_used"), col("assistant_tokens"))
    graft.streaming.SftPackStream.runSftPackOverFixture(s, conv)
  }

  /** PAD1 — the sorted-batching padding audit
    * ([[graft.operators.Sampling.paddingAudit]]): pad tokens burned by
    * hash-order vs length-sorted batching (batch 8, within pack1-style
    * hash shards). The measured number that decides whether a loader
    * adds the per-shard sort. */
  val pad1LengthBucketing: Q = (s, d) =>
    graft.operators.Sampling.paddingAudit(Tables.documents(s, d))

  val pad1LengthBucketingSql: String = {
    val shardE = md5BucketSql("'pad1-sh:' || CAST(doc_id AS VARCHAR)", 8)
    val ordE = md5BucketSql("'pad1-ord:' || CAST(doc_id AS VARCHAR)", 100000000)
    s"""WITH b AS (SELECT doc_id,
       |             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
       |             CAST($shardE AS BIGINT) AS shard,
       |             CAST($ordE AS BIGINT) AS ord
       |           FROM documents),
       |s1 AS (SELECT 'hash_order' AS strategy, shard, n_tok,
       |              row_number() OVER (PARTITION BY shard ORDER BY ord, doc_id) AS rn
       |       FROM b
       |       UNION ALL
       |       SELECT 'length_sorted' AS strategy, shard, n_tok,
       |              row_number() OVER (PARTITION BY shard ORDER BY n_tok, doc_id) AS rn
       |       FROM b),
       |bt AS (SELECT strategy, shard, (rn - 1) // 8 AS batch,
       |              count(*) AS bsz, max(n_tok) AS mx, sum(n_tok) AS real
       |       FROM s1 GROUP BY 1, 2, 3)
       |SELECT strategy, count(*) AS n_batches,
       |       CAST(sum(real) AS BIGINT) AS real_tokens,
       |       CAST(sum(mx * bsz) AS BIGINT) AS padded_tokens,
       |       floor((1.0 - CAST(sum(real) AS DOUBLE) / sum(mx * bsz)) * 1000000 + 0.5) / 1000000 AS pad_frac
       |FROM bt GROUP BY strategy""".stripMargin
  }

  /** UNI1 — unigram-LM tokenizer training (Viterbi-EM over a seeded
    * substring vocabulary, SentencePiece-style): the merge-free sibling
    * of bpe1. Costs are micro-unit −ln p BIGINTs so the per-word DP is
    * pure integer arithmetic; the oracle replays seed → unrolled
    * set-based DP → recursive backtrace → count folds → re-estimation
    * for both EM rounds. See
    * [[graft.operators.TextAnalysis.unigramTrain]]. */
  val uni1UnigramTrain: Q = (s, d) =>
    TextAnalysis.unigramTrain(Tables.documents(s, d))

  /** Shared replay chain for uni1/uni2: seed → per-EM-round set-based DP
    * + recursive backtrace + count folds + re-estimation, optionally one
    * EXTRA segmentation round under the FINAL model (the encode pass).
    * Every non-recursive CTE is materialized — inlined DP stages expand
    * exponentially. Ends at vocab CTE v<emIters> (and, with the extra
    * round, backtrace CTE bt<emIters+1>). */
  private def unigramCtesSql(emIters: Int, extraSegment: Boolean): String = {
    val seedSize = 40; val maxPieceLen = 4; val maxWordLen = 12
    def vocabCte(name: String, src: String) =
      s"""$name AS MATERIALIZED (SELECT piece, cnt,
         |       -CAST(floor(ln(CAST(cnt AS DOUBLE) / CAST(sum(cnt) OVER () AS DOUBLE)) * 1000000 + 0.5) AS BIGINT) AS cost
         |       FROM $src)""".stripMargin
    val sb = new StringBuilder
    sb ++= s"""WITH RECURSIVE ww AS MATERIALIZED (
              |  SELECT tk AS w, CAST(count(*) AS BIGINT) AS freq
              |  FROM (SELECT unnest(string_split(text, ' ')) AS tk FROM documents)
              |  WHERE len(tk) > 0 GROUP BY tk),
              |sub AS (${(1 to maxPieceLen).map(l =>
                s"""SELECT unnest([substr(w, i, $l) FOR i IN RANGE(1, len(w) - $l + 2)]) AS piece, freq
                   |        FROM ww WHERE len(w) >= $l""".stripMargin)
                .mkString("\n        UNION ALL\n        ")}),
              |sc0 AS MATERIALIZED (SELECT piece, CAST(sum(freq) AS BIGINT) AS cnt FROM sub GROUP BY 1),
              |nch AS (SELECT count(*) AS n FROM sc0 WHERE len(piece) = 1),
              |n0 AS (SELECT piece, cnt FROM sc0 WHERE len(piece) = 1
              |       UNION ALL
              |       SELECT piece, cnt
              |       FROM (SELECT piece, cnt, row_number() OVER (ORDER BY cnt DESC, piece ASC) AS rn
              |             FROM sc0 WHERE len(piece) > 1)
              |       WHERE rn <= $seedSize - (SELECT n FROM nch)),
              |${vocabCte("v0", "n0")}""".stripMargin
    val rounds = if (extraSegment) emIters + 1 else emIters
    for (e <- 1 to rounds) {
      val v = s"v${e - 1}"
      // set-based Viterbi DP, unrolled to the maxWordLen bound: stage i
      // holds each live word's best (cost, backlen) at position i
      sb ++= s""",
                |d${e}_0 AS MATERIALIZED (SELECT w, CAST(0 AS BIGINT) AS cost, 0 AS bl FROM ww)""".stripMargin
      for (i <- 1 to maxWordLen) {
        val cands = (1 to math.min(maxPieceLen, i)).map { j =>
          s"""SELECT p.w, p.cost + v.cost AS cost, $j AS bl
             |        FROM d${e}_${i - j} p JOIN $v v ON v.piece = substr(p.w, ${i - j + 1}, $j)
             |        WHERE len(p.w) >= $i""".stripMargin
        }.mkString("\n        UNION ALL\n        ")
        sb ++= s""",
                  |d${e}_$i AS MATERIALIZED (SELECT w, cost, bl FROM (
                  |  SELECT w, cost, bl, row_number() OVER (PARTITION BY w ORDER BY cost ASC, bl DESC) AS rn
                  |  FROM ($cands)) WHERE rn = 1)""".stripMargin
      }
      val dall = (1 to maxWordLen).map(i => s"SELECT w, $i AS i, bl FROM d${e}_$i")
        .mkString("\n        UNION ALL\n        ")
      sb ++= s""",
                |dall$e AS MATERIALIZED ($dall),
                |bt$e AS (
                |  SELECT w, len(w) AS cur, CAST(NULL AS VARCHAR) AS piece FROM ww
                |  UNION ALL
                |  SELECT b.w, b.cur - d.bl, substr(b.w, b.cur - d.bl + 1, d.bl)
                |  FROM bt$e b JOIN dall$e d ON d.w = b.w AND d.i = b.cur
                |  WHERE b.cur > 0)""".stripMargin
      if (e <= emIters) {
        sb ++= s""",
                  |c$e AS MATERIALIZED (SELECT b.piece, CAST(sum(ww.freq) AS BIGINT) AS cnt
                  |        FROM bt$e b JOIN ww ON ww.w = b.w
                  |        WHERE b.piece IS NOT NULL GROUP BY 1),
                  |n$e AS (SELECT piece, cnt FROM c$e
                  |        UNION ALL
                  |        SELECT v.piece, CAST(1 AS BIGINT) AS cnt FROM $v v
                  |        WHERE len(v.piece) = 1
                  |          AND v.piece NOT IN (SELECT piece FROM c$e)),
                  |${vocabCte(s"v$e", s"n$e")}""".stripMargin
      }
    }
    sb.toString
  }

  val uni1UnigramTrainSql: String = {
    val emIters = 2
    s"""${unigramCtesSql(emIters, extraSegment = false)}
       |SELECT piece, CAST(len(piece) AS BIGINT) AS piece_len, cnt,
       |       floor(CAST(cnt AS DOUBLE) / CAST(sum(cnt) OVER () AS DOUBLE) * 1000000 + 0.5) / 1000000 AS p6
       |FROM v$emIters""".stripMargin
  }

  /** UNI2 — the apply half of uni1, mirroring bpe2 for the merge-free
    * tokenizer family: per-document piece statistics under the TRAINED
    * unigram model (one extra replayed Viterbi round with the final
    * costs). See [[graft.operators.TextAnalysis.unigramEncodeStats]]. */
  val uni2EncodeStats: Q = (s, d) =>
    TextAnalysis.unigramEncodeStats(Tables.documents(s, d))

  val uni2EncodeStatsSql: String = {
    val emIters = 2
    s"""${unigramCtesSql(emIters, extraSegment = true)},
       |wp AS MATERIALIZED (SELECT w, CAST(count(*) AS BIGINT) AS np
       |      FROM bt${emIters + 1} WHERE piece IS NOT NULL GROUP BY w)
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
       |       CAST(sum(np) AS BIGINT) AS n_pieces,
       |       floor(CAST(sum(np) AS DOUBLE) / CAST(count(*) AS DOUBLE) * 10000 + 0.5) / 10000 AS pieces_per_word
       |FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tk FROM documents) dd
       |JOIN wp ON wp.w = dd.tk
       |GROUP BY doc_id""".stripMargin
  }

  /** ROUGE1 — corpus ROUGE-N recall + F1 of the SAME candidate set bleu1
    * scores (shared clipped-count kernel; ROUGE divides by reference
    * totals where BLEU divides by candidate totals).
    * See [[graft.operators.TextAnalysis.corpusRouge]]. */
  val rouge1Eval: Q = (s, d) => TextAnalysis.corpusRouge(Tables.documents(s, d))

  val rouge1EvalSql: String = {
    val maxN = 2
    val hit = md5BucketSql(
      "'bleu:' || CAST(doc_id AS VARCHAR) || ':' || CAST(i AS VARCHAR)")
    val perN = (1 to maxN).map { n =>
      val m = n - 1
      s"""gc$n AS (SELECT doc_id, unnest([array_to_string(cl[i:i+$m], chr(1))
         |                               FOR i IN RANGE(1, len(cl) - $m + 1)]) AS g FROM c),
         |gr$n AS (SELECT doc_id, unnest([array_to_string(rl[i:i+$m], chr(1))
         |                               FOR i IN RANGE(1, len(rl) - $m + 1)]) AS g FROM c),
         |nc$n AS (SELECT doc_id, g, count(*) AS k FROM gc$n GROUP BY 1, 2),
         |nr$n AS (SELECT doc_id, g, count(*) AS k FROM gr$n GROUP BY 1, 2),
         |ov$n AS (SELECT COALESCE(CAST(sum(least(nc$n.k, nr$n.k)) AS BIGINT), 0) AS clipped_$n
         |         FROM nc$n JOIN nr$n USING (doc_id, g)),
         |tot$n AS (SELECT CAST(sum(greatest(len(cl) - $m, 0)) AS BIGINT) AS cand_total_$n,
         |                 CAST(sum(greatest(len(rl) - $m, 0)) AS BIGINT) AS ref_total_$n FROM c)""".stripMargin
    }.mkString(",\n")
    val joins = (1 to maxN).map(n => s"CROSS JOIN ov$n CROSS JOIN tot$n").mkString(" ")
    def ratio(num: String, den: String) =
      s"""CASE WHEN $den > 0
         |            THEN floor(CAST($num AS DOUBLE) / CAST($den AS DOUBLE) * 1000000 + 0.5) / 1000000
         |            ELSE 0.0 END""".stripMargin
    val prCols = (1 to maxN).map { n =>
      s"""clipped_$n, cand_total_$n, ref_total_$n,
         |       ${ratio(s"clipped_$n", s"cand_total_$n")} AS precision_$n,
         |       ${ratio(s"clipped_$n", s"ref_total_$n")} AS rouge_$n""".stripMargin
    }.mkString(",\n       ")
    val f1Cols = (1 to maxN).map { n =>
      s"""CASE WHEN precision_$n + rouge_$n > 0
         |            THEN floor(2.0 * precision_$n * rouge_$n / (precision_$n + rouge_$n) * 1000000 + 0.5) / 1000000
         |            ELSE 0.0 END AS f1_$n""".stripMargin
    }.mkString(",\n       ")
    s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS rl FROM documents),
       |c AS (SELECT doc_id, rl,
       |        [rl[i] FOR i IN RANGE(1, len(rl) + 1) IF NOT ($hit < 1000)] AS cl
       |      FROM t),
       |$perN,
       |f AS (SELECT $prCols FROM (SELECT 1) $joins)
       |SELECT *,
       |       $f1Cols
       |FROM f""".stripMargin
  }

  /** MMD1 — linear-kernel MMD² between the even- and odd-id embedding
    * populations: the vector sibling of psi1's scalar drift score, one
    * pass of exact per-dimension moment folds (no pairwise kernel
    * matrix). See [[graft.operators.Curation.mmdShift]]. */
  val mmd1DistShift: Q = (s, d) =>
    graft.operators.Curation.mmdShift(Tables.embeddings(s, d),
      pmod(col("vec_id"), lit(2)))

  val mmd1DistShiftSql: String = {
    val dim = 64
    def microE(d: Int) =
      s"CAST(floor(CAST(embedding[$d] AS DOUBLE) * 1000000 + 0.5) AS BIGINT)"
    val sums = (1 to dim).map(d =>
      s"""CAST(sum(CASE WHEN vec_id % 2 = 0 THEN ${microE(d)} ELSE 0 END) AS BIGINT) AS a$d,
         |  CAST(sum(CASE WHEN vec_id % 2 = 1 THEN ${microE(d)} ELSE 0 END) AS BIGINT) AS b$d""".stripMargin)
      .mkString(",\n  ")
    def diff(d: Int) =
      s"(CAST(a$d AS DOUBLE) / 1000000 / CAST(n_a AS DOUBLE) - CAST(b$d AS DOUBLE) / 1000000 / CAST(n_b AS DOUBLE))"
    val sq = (1 to dim).map(d => s"${diff(d)} * ${diff(d)}").mkString(" + ")
    val ab = (1 to dim).map(d => s"abs(${diff(d)})").mkString(" + ")
    s"""WITH m AS (SELECT
       |  CAST(sum(CASE WHEN vec_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
       |  CAST(sum(CASE WHEN vec_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
       |  $sums
       |FROM embeddings)
       |SELECT n_a, n_b,
       |       floor(($sq) * 1000000000 + 0.5) / 1000000000 AS mmd2,
       |       floor(($ab) / $dim * 1000000000 + 0.5) / 1000000000 AS mean_abs_gap
       |FROM m""".stripMargin
  }

  /** KS1 — two-sample Kolmogorov–Smirnov D over purchase values across
    * the deterministic A/B arms: the distribution-free drift test beside
    * psi1 (binned) and mmd1 (vector). The sup runs as an exact
    * decimal(38,0) integer maximization over the pooled cents grid;
    * only the final D divides. See
    * [[graft.operators.Analytics.ksTwoSample]]. */
  val ks1TwoSample: Q = (s, d) =>
    graft.operators.Analytics.ksTwoSample(Tables.events(s, d))

  val ks1TwoSampleSql: String = {
    val arm = md5BucketSql("CAST(user_id AS VARCHAR)")
    s"""WITH p AS (SELECT CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
       |             CASE WHEN $arm < 5000 THEN 'A' ELSE 'B' END AS arm
       |           FROM events WHERE event_type = 'purchase'),
       |v AS (SELECT cents,
       |        CAST(sum(CASE WHEN arm = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS ka,
       |        CAST(sum(CASE WHEN arm = 'B' THEN 1 ELSE 0 END) AS BIGINT) AS kb
       |      FROM p GROUP BY 1),
       |c AS (SELECT cents,
       |        sum(ka) OVER (ORDER BY cents ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ca,
       |        sum(kb) OVER (ORDER BY cents ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cb
       |      FROM v),
       |t AS (SELECT CAST(sum(ka) AS BIGINT) AS na, CAST(sum(kb) AS BIGINT) AS nb FROM v),
       |g AS (SELECT cents,
       |        abs(CAST(ca AS HUGEINT) * nb - CAST(cb AS HUGEINT) * na) AS gap
       |      FROM c CROSS JOIN t)
       |SELECT na AS n_a, nb AS n_b,
       |       CAST(cents AS DOUBLE) / 100 AS at_value,
       |       CASE WHEN na > 0 AND nb > 0
       |            THEN floor(CAST(gap AS DOUBLE) / (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)) * 1000000 + 0.5) / 1000000
       |            ELSE 0.0 END AS d_stat
       |FROM g CROSS JOIN t
       |ORDER BY gap DESC, cents ASC LIMIT 1""".stripMargin
  }

  /** PASSK1 — unbiased pass@k (Chen et al. 2021) over a deterministic
    * per-problem sample table: per source, mean pass@1 and pass@5 from
    * exact per-problem correct counts via the stable product form.
    * See [[graft.operators.Analytics.passAtK]]. */
  val passk1Eval: Q = (s, d) =>
    graft.operators.Analytics.passAtK(Tables.documents(s, d))

  val passk1EvalSql: String = {
    val n = 10; val ks = Seq(1, 5)
    val verdicts = (1 to n).map(s =>
      s"(CASE WHEN ${md5BucketSql(s"'passk:' || CAST(doc_id AS VARCHAR) || ':$s'")} < (doc_id % 11) * 1000 THEN 1 ELSE 0 END)")
      .mkString(" + ")
    def passExpr(k: Int): String = {
      val prod = (0 until k).map(j =>
        s"(greatest(${(n - j).toDouble} - CAST(c AS DOUBLE), 0.0) / ${(n - j).toDouble})")
        .mkString(" * ")
      s"floor((1.0 - $prod) * 1000000 + 0.5) / 1000000"
    }
    val pCols = ks.map(k => s"${passExpr(k)} AS p$k").mkString(",\n       ")
    val mCols = ks.map(k =>
      s"""floor((CAST(sum(CAST(floor(p$k * 1000000 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000
         |             / CAST(count(*) AS DOUBLE)) * 1000000 + 0.5) / 1000000 AS pass_at_$k""".stripMargin)
      .mkString(",\n       ")
    s"""WITH d AS (SELECT source, $verdicts AS c FROM documents),
       |p AS (SELECT source, c,
       |       $pCols
       |      FROM d)
       |SELECT source, CAST(count(*) AS BIGINT) AS n_problems,
       |       CAST(sum(c) AS BIGINT) AS total_passed,
       |       $mCols
       |FROM p GROUP BY source""".stripMargin
  }

  /** BT1 — Bradley–Terry preference ranking (Zermelo MM, 5 unrolled
    * iterations) over deterministic quality-duel comparisons between
    * langs: the RLHF/arena leaderboard primitive, micro-unit folds end
    * to end. See [[graft.operators.Analytics.bradleyTerry]]. */
  val bt1PairwiseRank: Q = (s, d) =>
    graft.operators.Analytics.bradleyTerry(Tables.documents(s, d))

  val bt1PairwiseRankSql: String = {
    val iters = 5
    val qExpr =
      s"""floor((least(len(string_split(text, ' ')) / 100.0, 1.0) * 0.5
         |  + (CAST(len(list_filter(string_split(text, ' '), x -> list_contains($stopList, x))) AS DOUBLE)
         |     / len(string_split(text, ' '))) * 0.3
         |  + least((CAST(n_chars - len(string_split(text, ' ')) + 1 AS DOUBLE)
         |           / len(string_split(text, ' '))) / 10.0, 1.0) * 0.2) * 10000 + 0.5) / 10000""".stripMargin
    val sb = new StringBuilder
    sb ++= s"""WITH sc AS MATERIALIZED (SELECT doc_id, lang, $qExpr AS q FROM documents),
              |pr AS (SELECT CASE WHEN x.q > y.q THEN x.lang ELSE y.lang END AS winner,
              |              CASE WHEN x.q > y.q THEN y.lang ELSE x.lang END AS loser
              |       FROM sc x JOIN sc y ON x.doc_id + 1 = y.doc_id
              |       WHERE x.lang <> y.lang AND x.q <> y.q),
              |cells AS MATERIALIZED (SELECT winner, loser, CAST(count(*) AS BIGINT) AS w
              |          FROM pr GROUP BY 1, 2),
              |itm AS (SELECT DISTINCT winner AS i FROM cells
              |        UNION SELECT DISTINCT loser FROM cells),
              |nn AS MATERIALIZED (SELECT i, j, CAST(sum(w) AS BIGINT) AS nij FROM (
              |         SELECT winner AS i, loser AS j, w FROM cells
              |         UNION ALL SELECT loser, winner, w FROM cells)
              |       GROUP BY 1, 2),
              |wt AS MATERIALIZED (SELECT itm.i, CAST(COALESCE(sum(cells.w), 0) AS BIGINT) AS wins
              |       FROM itm LEFT JOIN cells ON cells.winner = itm.i GROUP BY itm.i),
              |s0 AS MATERIALIZED (SELECT i, CAST(1.0 AS DOUBLE) AS s FROM itm)""".stripMargin
    for (t <- 1 to iters) {
      sb ++= s""",
                |den$t AS MATERIALIZED (SELECT nn.i,
                |       CAST(sum(CAST(floor(CAST(nn.nij AS DOUBLE) / (si.s + sj.s) * 1000000 + 0.5) AS BIGINT)) AS BIGINT) AS den
                |       FROM nn JOIN s${t - 1} si ON si.i = nn.i JOIN s${t - 1} sj ON sj.i = nn.j
                |       GROUP BY nn.i),
                |raw$t AS MATERIALIZED (SELECT wt.i,
                |       floor((CAST(wt.wins AS DOUBLE) * 1000000 / CAST(den AS DOUBLE)) * 1000000 + 0.5) / 1000000 AS s1
                |       FROM wt JOIN den$t ON den$t.i = wt.i),
                |tot$t AS MATERIALIZED (SELECT CAST(sum(CAST(floor(s1 * 1000000 + 0.5) AS BIGINT)) AS BIGINT) AS tot,
                |                 CAST(count(*) AS DOUBLE) AS ni FROM raw$t),
                |s$t AS MATERIALIZED (SELECT i,
                |       floor((s1 * ni * 1000000 / CAST(tot AS DOUBLE)) * 1000000 + 0.5) / 1000000 AS s
                |       FROM raw$t CROSS JOIN tot$t)""".stripMargin
    }
    sb ++= s"""
              |SELECT wt.i AS lang, wt.wins,
              |       CAST((SELECT sum(nij) FROM nn WHERE nn.i = wt.i) AS BIGINT) AS comparisons,
              |       s$iters.s AS strength,
              |       CAST(row_number() OVER (ORDER BY s$iters.s DESC, wt.i) AS BIGINT) AS rank
              |FROM wt JOIN s$iters ON s$iters.i = wt.i""".stripMargin
    sb.toString
  }

  /** BPE1 — the first 6 BPE tokenizer merges learned from the corpus
    * (Sennrich-style greedy pair merging): ONE corpus-sized word-count
    * pass, then vocab-table-sized merge iterations; every pair count is
    * an exact BIGINT and ties break lexicographically, so the DuckDB
    * oracle replays all 6 iterations digit-exact.
    * See [[graft.operators.TextAnalysis.bpeTrain]]. */
  val bpe1TrainMerges: Q = (s, d) =>
    TextAnalysis.bpeTrain(Tables.documents(s, d), merges = 6)

  /** The shared DuckDB training-replay chain for bpe1/bpe2: word counts,
    * per-word symbol strings, and `k` unrolled merge stages ending at
    * vocab CTE `v<k>` (with the word kept alongside its evolving symbol
    * string so bpe2's encode join can read the final segmentation). */
  private def bpeCtesSql(k: Int): String = {
    val stages = (1 to k).map { t =>
      s"""p$t AS (SELECT pr[1] AS l, pr[2] AS r, CAST(sum(freq) AS BIGINT) AS cnt
         |  FROM (SELECT freq, unnest([[syms[i], syms[i+1]] FOR i IN RANGE(1, len(syms))]) AS pr
         |        FROM (SELECT freq, string_split(trim(seq), '  ') AS syms FROM v${t - 1}))
         |  GROUP BY 1, 2),
         |m$t AS (SELECT l, r, cnt FROM p$t ORDER BY cnt DESC, l, r LIMIT 1),
         |v$t AS (SELECT v${t - 1}.w, replace(v${t - 1}.seq, ' ' || m$t.l || '  ' || m$t.r || ' ',
         |                       ' ' || m$t.l || m$t.r || ' ') AS seq, freq
         |        FROM v${t - 1} CROSS JOIN m$t)""".stripMargin
    }.mkString(",\n")
    s"""wf AS (SELECT w, CAST(count(*) AS BIGINT) AS freq
       |  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
       |  WHERE len(w) > 0 GROUP BY w),
       |v0 AS (SELECT w, regexp_replace(w, '(.)', ' \\1 ', 'g') AS seq, freq FROM wf),
       |$stages""".stripMargin
  }

  val bpe1TrainMergesSql: String = {
    val k = 6
    val out = (1 to k).map(t =>
      s"SELECT CAST($t AS BIGINT) AS rank, l AS \"left\", r AS \"right\", l || r AS merged, cnt AS pair_count FROM m$t")
      .mkString("\nUNION ALL\n")
    s"""WITH ${bpeCtesSql(k)}
       |$out""".stripMargin
  }

  /** BPE2 — the encode half: per-document subword statistics under the 6
    * bpe1 merges. Merges apply to the DISTINCT-WORD table only; the
    * corpus pays one broadcast word→pieces join + a per-doc aggregate.
    * See [[graft.operators.TextAnalysis.bpeEncodeStats]]. */
  val bpe2EncodeStats: Q = (s, d) =>
    TextAnalysis.bpeEncodeStats(Tables.documents(s, d), merges = 6)

  /** FERT1 — tokenizer fertility by language: pieces per whitespace word
    * under the trained 6-merge BPE, rolled up per lang — the table a
    * multilingual tokenizer evaluation publishes (high fertility = more
    * sequence length per word). bpe2's encode with one extra lang-keyed
    * aggregation. See [[graft.operators.TextAnalysis.bpeFertilityByLang]]. */
  val fert1TokenizerFertility: Q = (s, d) =>
    TextAnalysis.bpeFertilityByLang(Tables.documents(s, d), merges = 6)

  val fert1TokenizerFertilitySql: String =
    s"""WITH ${bpeCtesSql(6)},
       |pc AS (SELECT w, CAST(len(string_split(trim(seq), '  ')) AS BIGINT) AS n_pieces_w FROM v6),
       |tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
       |j AS (SELECT t.doc_id, pc.n_pieces_w FROM tok t JOIN pc ON t.w = pc.w WHERE len(t.w) > 0),
       |a AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
       |             CAST(sum(n_pieces_w) AS BIGINT) AS n_pieces
       |      FROM j GROUP BY doc_id)
       |SELECT d.lang, CAST(count(*) AS BIGINT) AS n_docs,
       |       CAST(sum(a.n_words) AS BIGINT) AS n_words,
       |       CAST(sum(a.n_pieces) AS BIGINT) AS n_pieces,
       |       ${portableRoundSql("CAST(sum(a.n_pieces) AS DOUBLE) / CAST(sum(a.n_words) AS DOUBLE)", 4)} AS fertility
       |FROM a JOIN documents d USING (doc_id) GROUP BY d.lang""".stripMargin

  /** TOK2 — vocabulary coverage / OOV rate by source under a top-16
    * frequency vocab (deterministic count-desc/token-asc selection): the
    * tokenizer-eval table that says which ingest sources a fixed vocab
    * serves worst. One vocab rollup + TakeOrdered(16) broadcast back
    * over the stream + one source rollup.
    * See [[graft.operators.TextAnalysis.oovRateBySource]]. */
  val tok2OovRate: Q = (s, d) =>
    TextAnalysis.oovRateBySource(Tables.documents(s, d), vocabK = 16)

  val tok2OovRateSql: String =
    """WITH t AS (SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents),
      |t2 AS (SELECT source, tok FROM t WHERE len(tok) > 0),
      |v AS (SELECT tok FROM (SELECT tok, count(*) AS n FROM t2 GROUP BY tok
      |                       ORDER BY n DESC, tok LIMIT 16) vv)
      |SELECT source, CAST(count(*) AS BIGINT) AS n_tokens,
      |       CAST(sum(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
      |       CAST(count(DISTINCT CASE WHEN v.tok IS NULL THEN t2.tok END) AS BIGINT) AS n_oov_types,
      |       floor((CAST(sum(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
      |              / count(*)) * 10000 + 0.5) / 10000 AS oov_rate
      |FROM t2 LEFT JOIN v ON t2.tok = v.tok
      |GROUP BY source""".stripMargin

  val bpe2EncodeStatsSql: String =
    s"""WITH ${bpeCtesSql(6)},
       |pc AS (SELECT w, CAST(len(string_split(trim(seq), '  ')) AS BIGINT) AS n_pieces_w FROM v6),
       |tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
       |j AS (SELECT t.doc_id, pc.n_pieces_w FROM tok t JOIN pc ON t.w = pc.w WHERE len(t.w) > 0)
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
       |       CAST(sum(n_pieces_w) AS BIGINT) AS n_pieces,
       |       ${portableRoundSql("CAST(sum(n_pieces_w) AS DOUBLE) / CAST(count(*) AS DOUBLE)", 4)} AS pieces_per_word
       |FROM j GROUP BY doc_id""".stripMargin

  /** MIX4 — epoch-level oversampling with row duplication (rates > 1):
    * src0 ships 2.5 epochs, src1 exactly 1, everything else 0.4 — the
    * "repeat the small curated source" recipe. Narrow end to end
    * (projection + explode); each copy carries its index.
    * See [[graft.operators.Sampling.oversampleMix]]. */
  val mix4Oversample: Q = (s, d) =>
    graft.operators.Sampling.oversampleMix(Tables.documents(s, d),
      col("source"), col("doc_id"),
      Map("src0" -> 2.5, "src1" -> 1.0), defaultRate = 0.4)
      .select(col("doc_id"), col("source"), col("copy"))

  val mix4OversampleSql: String =
    s"""WITH r AS (SELECT doc_id, source,
       |             CAST(CASE WHEN source = 'src0' THEN 2.5
       |                       WHEN source = 'src1' THEN 1.0
       |                       ELSE 0.4 END AS DOUBLE) AS rate
       |           FROM documents),
       |c AS (SELECT doc_id, source,
       |        CAST(floor(rate) AS BIGINT)
       |        + CASE WHEN ${md5BucketSql("'ov:' || CAST(doc_id AS VARCHAR)")} <
       |                    CAST(floor((rate - floor(rate)) * 10000 + 0.5) AS BIGINT)
       |               THEN 1 ELSE 0 END AS n
       |      FROM r)
       |SELECT doc_id, source, unnest(range(1, n + 1)) AS copy
       |FROM c WHERE n > 0""".stripMargin

  /** T13 — per-doc unigram Shannon entropy + length-normalized form: the
    * lexical-diversity quality signal. Two compact-key exchanges; exact
    * micro-unit folds. See [[graft.operators.TextAnalysis.tokenEntropy]]. */
  val t13Entropy: Q = (s, d) =>
    TextAnalysis.tokenEntropy(Tables.documents(s, d))

  val t13EntropySql: String = {
    val hRaw = "ln(CAST(n_tokens AS DOUBLE)) - (CAST(ms AS DOUBLE) / 1000000) / CAST(n_tokens AS DOUBLE)"
    s"""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
       |h AS (SELECT doc_id, tok, count(*) AS c FROM tok GROUP BY 1, 2),
       |m AS (SELECT doc_id, c,
       |        CAST(floor(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE)) * 1000000 + 0.5) AS BIGINT) AS mi
       |      FROM h),
       |d AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
       |             CAST(count(*) AS BIGINT) AS distinct_tokens,
       |             CAST(sum(mi) AS BIGINT) AS ms
       |      FROM m GROUP BY doc_id)
       |SELECT doc_id, n_tokens, distinct_tokens,
       |       ${portableRoundSql(hRaw, 4)} AS entropy,
       |       CASE WHEN n_tokens > 1
       |            THEN ${portableRoundSql(s"($hRaw) / ln(CAST(n_tokens AS DOUBLE))", 4)}
       |            ELSE 0.0 END AS norm_entropy
       |FROM d""".stripMargin
  }

  /** RRF1 — hybrid retrieval by reciprocal-rank fusion: t12's BM25 arm
    * (query {spark, join, vector}) fused with a dense cosine arm (query =
    * embedding 0; brute arm here for the exact oracle — the ANN paths
    * sim2/sim3 are the drop-in at scale), top-100 each, k0 = 60, top-20
    * fused. Contributions fold as exact 1e-8 units.
    * See [[graft.operators.Retrieval.rrfFuse]]. */
  /** II1 — inverted-index build stats with the d-gap + varint postings
    * compression model (Lucene VInt byte ladder): per term df/cf,
    * postings extremes, exact compressed vs raw byte cost — the
    * index-construction leg the scoring operators assume.
    * See [[graft.operators.Retrieval.invertedIndexStats]]. */
  val ii1InvertedIndex: Q = (s, d) =>
    graft.operators.Retrieval.invertedIndexStats(Tables.documents(s, d))

  val ii1InvertedIndexSql: String = {
    val vb = (g: String) =>
      s"""CASE WHEN $g < 128 THEN 1 WHEN $g < 16384 THEN 2
         |     WHEN $g < 2097152 THEN 3 WHEN $g < 268435456 THEN 4
         |     ELSE 5 END""".stripMargin
    s"""WITH td AS (SELECT term, doc_id, count(*) AS tf FROM
       |        (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents)
       |      GROUP BY 1, 2),
       |p AS (SELECT term, CAST(count(*) AS BIGINT) AS df,
       |        CAST(sum(tf) AS BIGINT) AS cf,
       |        min(doc_id) AS first_doc, max(doc_id) AS last_doc,
       |        list_sort(list(doc_id)) AS ds
       |      FROM td GROUP BY term),
       |b AS (SELECT term, df, cf, first_doc, last_doc,
       |        CAST(list_sum([${vb("(CASE WHEN i = 1 THEN ds[1] ELSE ds[i] - ds[i-1] END)")}
       |                       FOR i IN RANGE(1, len(ds) + 1)]) AS BIGINT) AS bytes_delta
       |      FROM p WHERE df >= 5)
       |SELECT term, df, cf, first_doc, last_doc, bytes_delta,
       |       df * 8 AS bytes_raw,
       |       floor(CAST(bytes_delta AS DOUBLE) / CAST(df * 8 AS DOUBLE) * 1000000 + 0.5) / 1000000 AS ratio
       |FROM b""".stripMargin
  }

  /** II2 — POSITIONAL inverted-index build: ii1's d-gap/varint byte
    * model extended with within-document position lists (the Lucene prx
    * stream), reporting per term the doc-gap cost, the position cost,
    * and the measured `fatten_ratio` the positions add to the postings
    * exchange. The structure phr1's phrase/proximity leg queries.
    * See [[graft.operators.Retrieval.positionalIndexStats]]. */
  val ii2PositionalIndex: Q = (s, d) =>
    graft.operators.Retrieval.positionalIndexStats(Tables.documents(s, d))

  val ii2PositionalIndexSql: String = {
    val vb = (g: String) =>
      s"""CASE WHEN $g < 128 THEN 1 WHEN $g < 16384 THEN 2
         |     WHEN $g < 2097152 THEN 3 WHEN $g < 268435456 THEN 4
         |     ELSE 5 END""".stripMargin
    val gb = (xs: String) =>
      s"""CAST(list_sum([${vb(s"(CASE WHEN i = 1 THEN $xs[1] ELSE $xs[i] - $xs[i-1] END)")}
         |     FOR i IN RANGE(1, len($xs) + 1)]) AS BIGINT)""".stripMargin
    s"""WITH tk AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
       |pos AS (SELECT doc_id, u.p AS p, u.term AS term FROM (
       |          SELECT doc_id,
       |                 unnest([{'p': i, 'term': t[i]} FOR i IN RANGE(1, len(t) + 1)]) AS u
       |          FROM tk)),
       |td AS (SELECT term, doc_id, CAST(count(*) AS BIGINT) AS tf,
       |         list_sort(list(p)) AS ps
       |       FROM pos GROUP BY 1, 2),
       |tb AS (SELECT term, doc_id, tf, ${gb("ps")} AS pos_bytes FROM td),
       |p AS (SELECT term, CAST(count(*) AS BIGINT) AS df,
       |        CAST(sum(tf) AS BIGINT) AS cf,
       |        list_sort(list(doc_id)) AS ds,
       |        CAST(sum(pos_bytes) AS BIGINT) AS bytes_pos
       |      FROM tb GROUP BY term),
       |b AS (SELECT term, df, cf, ${gb("ds")} AS bytes_docs, bytes_pos
       |      FROM p WHERE df >= 5)
       |SELECT term, df, cf, bytes_docs, bytes_pos,
       |       bytes_docs + bytes_pos AS bytes_total,
       |       floor(CAST(bytes_docs + bytes_pos AS DOUBLE) / CAST(bytes_docs AS DOUBLE) * 1000000 + 0.5) / 1000000 AS fatten_ratio
       |FROM b""".stripMargin
  }

  /** PHR1 — phrase + proximity retrieval over positional postings: the
    * query is the corpus's top trigram (derived in-plan — deterministic
    * and non-empty at every SF); per document containing all three
    * terms, the exact phrase-occurrence count (positions align p, p+1,
    * p+2), the minimal token window containing the first two terms
    * (merge-walk proximity), and the phrase-match verdict. The standard
    * retrieval capability bag-of-words BM25 (t12) cannot express.
    * See [[graft.operators.Retrieval.phraseSearch]]. */
  val phr1PhraseSearch: Q = (s, d) =>
    graft.operators.Retrieval.phraseSearch(Tables.documents(s, d))

  val phr1PhraseSearchSql: String =
    s"""WITH tk AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
       |pos AS (SELECT doc_id, u.p AS p, u.term AS term FROM (
       |          SELECT doc_id,
       |                 unnest([{'p': i, 'term': t[i]} FOR i IN RANGE(1, len(t) + 1)]) AS u
       |          FROM tk)),
       |tg AS (SELECT unnest([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
       |                      FOR i IN RANGE(1, len(t) - 1)]) AS sg
       |       FROM tk WHERE len(t) >= 3),
       |top AS (SELECT string_split(sg, ' ') AS q FROM (
       |          SELECT sg, count(*) AS n FROM tg GROUP BY 1
       |          ORDER BY n DESC, sg LIMIT 1)),
       |ph AS (SELECT q[1] AS t1, q[2] AS t2, q[3] AS t3 FROM top),
       |cand AS (SELECT doc_id,
       |           CAST(count(CASE WHEN term = t1 THEN 1 END) AS BIGINT) AS tf1,
       |           CAST(count(CASE WHEN term = t2 THEN 1 END) AS BIGINT) AS tf2,
       |           CAST(count(CASE WHEN term = t3 THEN 1 END) AS BIGINT) AS tf3
       |         FROM pos CROSS JOIN ph GROUP BY doc_id
       |         HAVING tf1 > 0 AND tf2 > 0 AND tf3 > 0),
       |pc AS (SELECT a.doc_id, CAST(count(*) AS BIGINT) AS phrase_count
       |       FROM pos a CROSS JOIN ph
       |       JOIN pos b ON b.doc_id = a.doc_id AND b.p = a.p + 1 AND b.term = ph.t2
       |       JOIN pos c ON c.doc_id = a.doc_id AND c.p = a.p + 2 AND c.term = ph.t3
       |       WHERE a.term = ph.t1
       |       GROUP BY 1),
       |mw AS (SELECT a.doc_id, CAST(min(abs(a.p - b.p)) + 1 AS BIGINT) AS min_window
       |       FROM pos a CROSS JOIN ph
       |       JOIN pos b ON b.doc_id = a.doc_id AND b.term = ph.t2
       |       WHERE a.term = ph.t1
       |       GROUP BY 1)
       |SELECT c.doc_id, ph.t1, ph.t2, ph.t3, c.tf1, c.tf2, c.tf3,
       |       COALESCE(pc.phrase_count, 0) AS phrase_count,
       |       mw.min_window,
       |       COALESCE(pc.phrase_count, 0) > 0 AS is_phrase_match
       |FROM cand c CROSS JOIN ph
       |LEFT JOIN pc ON pc.doc_id = c.doc_id
       |JOIN mw ON mw.doc_id = c.doc_id
       |ORDER BY phrase_count DESC, min_window, c.doc_id""".stripMargin

  /** PHR2 — conjunctive proximity-boosted BM25 on the phrase query:
    * documents containing ALL three top-trigram terms rank by corpus-
    * stat BM25 (t12's k1/b, df/avgdl derived in-plan) plus a
    * 0.5/min_window proximity boost — terms near each other beat terms
    * far apart. Components snap to 1e-4 and fuse as exact micro-units.
    * See [[graft.operators.Retrieval.proximityRank]]. */
  val phr2ProximityRank: Q = (s, d) =>
    graft.operators.Retrieval.proximityRank(Tables.documents(s, d))

  val phr2ProximityRankSql: String = {
    def ts(tf: String, df: String) =
      s"""(ln(1.0 + (CAST(st.n_docs AS DOUBLE) - $df + 0.5) / ($df + 0.5))
         | * ($tf * 2.2)
         | / ($tf + 1.2 * (0.25 + 0.75 * dl.dl / (CAST(st.tot_tokens AS DOUBLE) / st.n_docs))))"""
        .stripMargin.replaceAll("\n", " ")
    s"""WITH tk AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
       |pos AS (SELECT doc_id, u.p AS p, u.term AS term FROM (
       |          SELECT doc_id,
       |                 unnest([{'p': i, 'term': t[i]} FOR i IN RANGE(1, len(t) + 1)]) AS u
       |          FROM tk)),
       |tg AS (SELECT unnest([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
       |                      FOR i IN RANGE(1, len(t) - 1)]) AS sg
       |       FROM tk WHERE len(t) >= 3),
       |top AS (SELECT string_split(sg, ' ') AS q FROM (
       |          SELECT sg, count(*) AS n FROM tg GROUP BY 1
       |          ORDER BY n DESC, sg LIMIT 1)),
       |ph AS (SELECT q[1] AS t1, q[2] AS t2, q[3] AS t3 FROM top),
       |st AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
       |              CAST(sum(len(t)) AS BIGINT) AS tot_tokens FROM tk),
       |cand AS (SELECT doc_id,
       |           CAST(count(CASE WHEN term = t1 THEN 1 END) AS BIGINT) AS tf1,
       |           CAST(count(CASE WHEN term = t2 THEN 1 END) AS BIGINT) AS tf2,
       |           CAST(count(CASE WHEN term = t3 THEN 1 END) AS BIGINT) AS tf3
       |         FROM pos CROSS JOIN ph GROUP BY doc_id),
       |dfs AS (SELECT CAST(count(CASE WHEN tf1 > 0 THEN 1 END) AS DOUBLE) AS df1,
       |               CAST(count(CASE WHEN tf2 > 0 THEN 1 END) AS DOUBLE) AS df2,
       |               CAST(count(CASE WHEN tf3 > 0 THEN 1 END) AS DOUBLE) AS df3
       |        FROM cand WHERE tf1 > 0 OR tf2 > 0 OR tf3 > 0),
       |dl AS (SELECT doc_id, CAST(len(t) AS DOUBLE) AS dl FROM tk),
       |mw AS (SELECT a.doc_id, CAST(min(abs(a.p - b.p)) + 1 AS BIGINT) AS min_window
       |       FROM pos a CROSS JOIN ph
       |       JOIN pos b ON b.doc_id = a.doc_id AND b.term = ph.t2
       |       WHERE a.term = ph.t1
       |       GROUP BY 1),
       |sc AS (SELECT c.doc_id, ph.t1, ph.t2, ph.t3,
       |         floor((${ts("CAST(c.tf1 AS DOUBLE)", "dfs.df1")}
       |                + ${ts("CAST(c.tf2 AS DOUBLE)", "dfs.df2")}
       |                + ${ts("CAST(c.tf3 AS DOUBLE)", "dfs.df3")}) * 10000 + 0.5) / 10000 AS bm25,
       |         mw.min_window,
       |         floor(0.5 / mw.min_window * 10000 + 0.5) / 10000 AS prox_boost
       |       FROM cand c CROSS JOIN ph CROSS JOIN st CROSS JOIN dfs
       |       JOIN dl ON dl.doc_id = c.doc_id
       |       JOIN mw ON mw.doc_id = c.doc_id
       |       WHERE c.tf1 > 0 AND c.tf2 > 0 AND c.tf3 > 0)
       |SELECT doc_id, t1, t2, t3, bm25, min_window, prox_boost,
       |       CAST(CAST(floor(bm25 * 10000 + 0.5) AS BIGINT)
       |            + CAST(floor(prox_boost * 10000 + 0.5) AS BIGINT) AS DOUBLE) / 10000 AS score
       |FROM sc
       |ORDER BY score DESC, doc_id""".stripMargin
  }

  /** MRR1 — mean reciprocal rank of the TRUNCATED-serving retrieval arm
    * (the eval every index-compression decision reads next to emb4's
    * recall): every planted twin queries the 4-dim-truncated brute
    * ranking (emb4's serving arm, truncated PAST the cliff — 16 dims
    * keeps MRR at 1.0 on this fixture, 4 dims drops it to ~0.5, which
    * is the regime where the eval discriminates) and the
    * relevant document is its known source vector; MRR@10 folds 1/rank
    * as exact 1e-8 micro-units. FULL oracle — both the truncated
    * ranking and the fold replay digit-exact. */
  val mrr1RankEval: Q = (s, d) => {
    val planted = plantNearDups(Tables.embeddings(s, d))
    def trunc(df: DataFrame) = df.select(col("vec_id"),
      slice(col("embedding"), 1, 4).as("embedding"))
    val queries = planted.filter(col("vec_id") >= 10000000L)
    val run = Similarity.bruteForceTopK(trunc(planted), trunc(queries), 10)
    queries.select(col("vec_id").as("q_id"))
      .join(run.filter(col("n_id") === col("q_id") - 10000000L)
        .select(col("q_id"), col("rank")), Seq("q_id"), "left")
      .agg(count(lit(1)).as("n_queries"),
        sum(col("rank").isNotNull.cast("long")).as("n_found"),
        portableRound(
          sum(coalesce(floor(lit(1.0e8) / col("rank").cast("double") + 0.5)
            .cast("long"), lit(0L))).cast("double") / 1.0e8
            / count(lit(1)).cast("double"), 6).as("mrr"))
  }

  val mrr1RankEvalSql: String =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
      |tw AS (SELECT a.vec_id + 10000000 AS vec_id,
      |              CAST(CAST([a.emb[i] + 0.3 * b.emb[i] FOR i IN RANGE(1, 65)] AS FLOAT[]) AS DOUBLE[]) AS emb
      |       FROM e a JOIN e b ON b.vec_id = a.vec_id + 1
      |       WHERE a.vec_id % 20 = 0),
      |al AS (SELECT vec_id, emb FROM e UNION ALL SELECT vec_id, emb FROM tw),
      |run AS (SELECT q_id, n_id, rank FROM (
      |  SELECT q.vec_id AS q_id, b.vec_id AS n_id,
      |         row_number() OVER (PARTITION BY q.vec_id
      |           ORDER BY floor(list_cosine_similarity(list_slice(q.emb, 1, 4), list_slice(b.emb, 1, 4)) * 10000 + 0.5) / 10000 DESC, b.vec_id) AS rank
      |  FROM tw q JOIN al b ON b.vec_id <> q.vec_id) WHERE rank <= 10),
      |hit AS (SELECT q.vec_id AS q_id, r.rank FROM tw q
      |        LEFT JOIN run r ON r.q_id = q.vec_id AND r.n_id = q.vec_id - 10000000)
      |SELECT CAST(count(*) AS BIGINT) AS n_queries,
      |       CAST(count(rank) AS BIGINT) AS n_found,
      |       floor(CAST(sum(coalesce(CAST(floor(100000000.0 / rank + 0.5) AS BIGINT), 0)) AS DOUBLE)
      |             / 100000000.0 / count(*) * 1000000 + 0.5) / 1000000 AS mrr
      |FROM hit""".stripMargin

  /** MRR2 — the retrieval-arm evaluation table (the hybrid-retrieval
    * justification measured, not cited — VERDICT r14 item 6): a
    * known-item eval over PLANTED query modes scores the bag-of-words
    * BM25 arm (t12's formula), the conjunctive proximity arm (phr2's
    * formula) and their RRF fusion (rrf1's k0=60 micro-fold) against
    * each query's known source doc, reporting recall@10 and MRR@10 per
    * (arm, mode).
    *
    * Query plant (every 20th doc with ≥ 12 tokens; the hn1 planted-truth
    * discipline): mode `phrase` = source tokens 4..6 verbatim — a
    * 3-common-token query where bag-of-words BM25 is confusable and the
    * source's CONTIGUITY (proximity boost) should pin it; mode `typo` =
    * 9 source tokens with an out-of-vocabulary '##typo##' token INSIDE
    * the leading trigram — the conjunctive arm's designed failure mode
    * (no doc contains the typo → zero candidates) where BM25 degrades
    * gracefully. Each mode is one arm's failure case; the fused arm's
    * value is exactly what the table shows.
    *
    * Scale shape: the corpus token stream is broadcast-pruned to the
    * query vocabulary BEFORE anything aggregates (phr1's postings-seek
    * analog), per-(query, doc) candidates are bounded by the query
    * terms' postings, ranks are per-query windows on candidates, and
    * the eval output is |arms| × |modes| rows. Verify-tier: every arm's
    * operator is benched (t12, phr1/phr2, rrf1, mrr1). */
  val mrr2HybridEval: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val toksC = split(col("text"), " ")
    val elig = docs.filter(col("doc_id") % 20 === 0 && size(toksC) >= 20)
      .select(col("doc_id").as("q_id"), toksC.as("t"))
    val queries = elig.select(col("q_id"),
        when(col("q_id") % 40 === 0, slice(col("t"), 4, 3))
          .otherwise(concat(
            array(element_at(col("t"), 4), lit("##typo##"),
              element_at(col("t"), 5)),
            slice(col("t"), 6, 15))).as("q"),
        when(col("q_id") % 40 === 0, lit("phrase"))
          .otherwise(lit("typo")).as("mode"))
      .localCheckpoint()
    val qterms = queries
      .select(col("q_id"), explode(array_distinct(col("q"))).as("term"))
    val vocab = qterms.select(col("term")).distinct()
    // postings seek: corpus positions restricted to the query vocabulary
    val pos = docs
      .select(col("doc_id"),
        posexplode(split(col("text"), " ")).as(Seq("p", "term")))
      .join(broadcast(vocab), Seq("term"))
      .select(col("term"), col("doc_id"), col("p").cast("long").as("p"))
      .localCheckpoint()
    val tf = pos.groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf")).localCheckpoint()
    val dfT = tf.groupBy(col("term"))
      .agg(count(lit(1)).cast("double").as("df"))
    val stats = docs.agg(count(lit(1)).cast("double").as("n_docs"),
      sum(size(split(col("text"), " ")).cast("long")).cast("double")
        .as("tot_tokens"))
    val dl = docs.select(col("doc_id"),
      size(split(col("text"), " ")).cast("double").as("dl"))
    def termScore(tfC: org.apache.spark.sql.Column,
                  dfC: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
      val idf = log(lit(1.0) + (col("n_docs") - dfC + 0.5) / (dfC + 0.5))
      idf * (tfC * 2.2) / (tfC + lit(1.2) *
        (lit(0.25) + lit(0.75) * col("dl") / (col("tot_tokens") / col("n_docs"))))
    }
    def top100(scored: DataFrame): DataFrame = {
      val w = Window.partitionBy(col("q_id"))
        .orderBy(col("score").desc, col("doc_id").asc)
      scored.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 100)
        .select(col("q_id"), col("doc_id"), col("rank"))
    }
    // arm 1 — bag-of-words BM25 over all query terms (t12's formula)
    val aRanks = top100(qterms.join(tf, Seq("term"))
        .join(broadcast(dfT), Seq("term"))
        .join(dl, Seq("doc_id"))
        .crossJoin(broadcast(stats))
        .groupBy(col("q_id"), col("doc_id"))
        .agg(portableRound(
          sum(termScore(col("tf").cast("double"), col("df"))), 4).as("score")))
      .localCheckpoint()
    // arm 2 — conjunctive proximity BM25 on the leading trigram (phr2)
    val tri = queries.select(col("q_id"),
      element_at(col("q"), 1).as("t1"), element_at(col("q"), 2).as("t2"),
      element_at(col("q"), 3).as("t3"))
    val posts = pos.join(broadcast(tri),
        col("term") === col("t1") || col("term") === col("t2") ||
          col("term") === col("t3"))
      .groupBy(col("q_id"), col("doc_id"))
      .agg(
        sum(when(col("term") === col("t1"), 1L).otherwise(0L)).as("tf1"),
        sum(when(col("term") === col("t2"), 1L).otherwise(0L)).as("tf2"),
        sum(when(col("term") === col("t3"), 1L).otherwise(0L)).as("tf3"),
        sort_array(collect_list(when(col("term") === col("t1"), col("p"))))
          .as("p1"),
        sort_array(collect_list(when(col("term") === col("t2"), col("p"))))
          .as("p2"))
      .filter(col("tf1") > 0 && col("tf2") > 0 && col("tf3") > 0)
    val triDf = tri
      .join(broadcast(dfT.select(col("term").as("t1"), col("df").as("df1"))),
        Seq("t1"), "left")
      .join(broadcast(dfT.select(col("term").as("t2"), col("df").as("df2"))),
        Seq("t2"), "left")
      .join(broadcast(dfT.select(col("term").as("t3"), col("df").as("df3"))),
        Seq("t3"), "left")
      .select(col("q_id"), col("df1"), col("df2"), col("df3"))
    val bScored = posts
      .join(broadcast(triDf), Seq("q_id"))
      .join(dl, Seq("doc_id"))
      .crossJoin(broadcast(stats))
      .withColumn("bm25", portableRound(
        termScore(col("tf1").cast("double"), col("df1"))
          + termScore(col("tf2").cast("double"), col("df2"))
          + termScore(col("tf3").cast("double"), col("df3")), 4))
      .withColumn("prox", portableRound(lit(0.5) /
        graft.operators.Retrieval.mergeWalkWindow(col("p1"), col("p2"))
          .cast("double"), 4))
      .select(col("q_id"), col("doc_id"),
        ((floor(col("bm25") * 10000 + 0.5).cast("long")
          + floor(col("prox") * 10000 + 0.5).cast("long"))
          .cast("double") / 10000.0).as("score"))
    val bRanks = top100(bScored).localCheckpoint()
    // arm 3 — per-query RRF fusion of the two rank lists (rrf1's fold)
    val cRanks = {
      val ms = aRanks.unionByName(bRanks)
        .select(col("q_id"), col("doc_id"),
          floor(lit(1.0e8) / (lit(60.0) + col("rank").cast("double")) + 0.5)
            .cast("long").as("m"))
        .groupBy(col("q_id"), col("doc_id")).agg(sum(col("m")).as("ms"))
      val w = Window.partitionBy(col("q_id"))
        .orderBy(col("ms").desc, col("doc_id").asc)
      ms.withColumn("rank", row_number().over(w)).filter(col("rank") <= 100)
        .select(col("q_id"), col("doc_id"), col("rank"))
    }
    // known-item eval per (arm, mode)
    def evalArm(ranks: DataFrame, arm: String): DataFrame =
      queries.select(col("q_id"), col("mode"))
        .join(ranks.filter(col("doc_id") === col("q_id") && col("rank") <= 10)
          .select(col("q_id"), col("rank")), Seq("q_id"), "left")
        .groupBy(col("mode"))
        .agg(count(lit(1)).as("n_queries"),
          sum(col("rank").isNotNull.cast("long")).as("n_found"),
          portableRound(sum(col("rank").isNotNull.cast("long")).cast("double")
            / count(lit(1)).cast("double"), 6).as("recall_at_10"),
          portableRound(
            sum(coalesce(floor(lit(1.0e8) / col("rank").cast("double") + 0.5)
              .cast("long"), lit(0L))).cast("double") / 1.0e8
              / count(lit(1)).cast("double"), 6).as("mrr"))
        .select(lit(arm).as("arm"), col("mode"), col("n_queries"),
          col("n_found"), col("recall_at_10"), col("mrr"))
    evalArm(aRanks, "bm25")
      .unionByName(evalArm(bRanks, "phrase_prox"))
      .unionByName(evalArm(cRanks, "rrf_fused"))
      .orderBy(col("arm"), col("mode"))
  }

  val mrr2HybridEvalSql: String = {
    def ts(tf: String, df: String) =
      s"""(ln(1.0 + (st.n_docs - $df + 0.5) / ($df + 0.5))
         | * ($tf * 2.2)
         | / ($tf + 1.2 * (0.25 + 0.75 * dl.dl / (st.tot_tokens / st.n_docs))))"""
        .stripMargin.replaceAll("\n", " ")
    s"""WITH dq AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
       |q AS (SELECT doc_id AS q_id,
       |        CASE WHEN doc_id % 40 = 0 THEN t[4:6]
       |             ELSE [t[4], '##typo##', t[5]] || t[6:20] END AS q,
       |        CASE WHEN doc_id % 40 = 0 THEN 'phrase' ELSE 'typo' END AS mode
       |      FROM dq WHERE doc_id % 20 = 0 AND len(t) >= 20),
       |qt AS (SELECT q_id, term FROM (SELECT q_id, unnest(q) AS term FROM q)
       |       GROUP BY 1, 2),
       |vocab AS (SELECT DISTINCT term FROM qt),
       |pos AS (SELECT p0.doc_id, p0.u.p AS p, p0.u.term AS term FROM (
       |          SELECT doc_id,
       |                 unnest([{'p': i, 'term': t[i]} FOR i IN RANGE(1, len(t) + 1)]) AS u
       |          FROM dq) p0
       |        JOIN vocab v ON v.term = p0.u.term),
       |tf AS (SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf
       |       FROM pos GROUP BY 1, 2),
       |dft AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY 1),
       |st AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs,
       |              CAST(sum(len(t)) AS DOUBLE) AS tot_tokens FROM dq),
       |dl AS (SELECT doc_id, CAST(len(t) AS DOUBLE) AS dl FROM dq),
       |sca AS (SELECT qt.q_id, tf.doc_id,
       |         floor(sum(${ts("tf.tf", "dft.df")}) * 10000 + 0.5) / 10000 AS score
       |       FROM qt JOIN tf USING (term) JOIN dft USING (term)
       |       JOIN dl ON dl.doc_id = tf.doc_id CROSS JOIN st
       |       GROUP BY 1, 2),
       |aR AS (SELECT q_id, doc_id, rank FROM (
       |         SELECT q_id, doc_id,
       |                row_number() OVER (PARTITION BY q_id ORDER BY score DESC, doc_id) AS rank
       |         FROM sca) WHERE rank <= 100),
       |tri AS (SELECT q_id, q[1] AS t1, q[2] AS t2, q[3] AS t3 FROM q),
       |bAgg AS (SELECT tri.q_id, pos.doc_id,
       |           CAST(count(CASE WHEN pos.term = tri.t1 THEN 1 END) AS DOUBLE) AS tf1,
       |           CAST(count(CASE WHEN pos.term = tri.t2 THEN 1 END) AS DOUBLE) AS tf2,
       |           CAST(count(CASE WHEN pos.term = tri.t3 THEN 1 END) AS DOUBLE) AS tf3
       |         FROM pos JOIN tri ON pos.term IN (tri.t1, tri.t2, tri.t3)
       |         GROUP BY 1, 2
       |         HAVING tf1 > 0 AND tf2 > 0 AND tf3 > 0),
       |mw AS (SELECT tri.q_id, a.doc_id,
       |              CAST(min(abs(a.p - b.p)) + 1 AS BIGINT) AS minw
       |       FROM tri JOIN pos a ON a.term = tri.t1
       |       JOIN pos b ON b.doc_id = a.doc_id AND b.term = tri.t2
       |       GROUP BY 1, 2),
       |tdf AS (SELECT tri.q_id, d1.df AS df1, d2.df AS df2, d3.df AS df3
       |        FROM tri LEFT JOIN dft d1 ON d1.term = tri.t1
       |        LEFT JOIN dft d2 ON d2.term = tri.t2
       |        LEFT JOIN dft d3 ON d3.term = tri.t3),
       |scb AS (SELECT g.q_id, g.doc_id,
       |         (CAST(floor((${ts("g.tf1", "tdf.df1")} + ${ts("g.tf2", "tdf.df2")}
       |                      + ${ts("g.tf3", "tdf.df3")}) * 10000 + 0.5) AS BIGINT)
       |          + CAST(floor(0.5 / mw.minw * 10000 + 0.5) AS BIGINT)) / 10000.0 AS score
       |       FROM bAgg g JOIN tdf ON tdf.q_id = g.q_id
       |       JOIN mw ON mw.q_id = g.q_id AND mw.doc_id = g.doc_id
       |       JOIN dl ON dl.doc_id = g.doc_id CROSS JOIN st),
       |bR AS (SELECT q_id, doc_id, rank FROM (
       |         SELECT q_id, doc_id,
       |                row_number() OVER (PARTITION BY q_id ORDER BY score DESC, doc_id) AS rank
       |         FROM scb) WHERE rank <= 100),
       |u AS (SELECT q_id, doc_id,
       |             CAST(floor(100000000.0 / (60 + CAST(rank AS DOUBLE)) + 0.5) AS BIGINT) AS m
       |      FROM aR
       |      UNION ALL
       |      SELECT q_id, doc_id,
       |             CAST(floor(100000000.0 / (60 + CAST(rank AS DOUBLE)) + 0.5) AS BIGINT) AS m
       |      FROM bR),
       |cR AS (SELECT q_id, doc_id, rank FROM (
       |         SELECT q_id, doc_id,
       |                row_number() OVER (PARTITION BY q_id ORDER BY ms DESC, doc_id) AS rank
       |         FROM (SELECT q_id, doc_id, sum(m) AS ms FROM u GROUP BY 1, 2))
       |       WHERE rank <= 100),
       |ev AS (SELECT 'bm25' AS arm, q.mode, q.q_id, r.rank
       |       FROM q LEFT JOIN (SELECT q_id, rank FROM aR
       |                         WHERE doc_id = q_id AND rank <= 10) r USING (q_id)
       |       UNION ALL
       |       SELECT 'phrase_prox' AS arm, q.mode, q.q_id, r.rank
       |       FROM q LEFT JOIN (SELECT q_id, rank FROM bR
       |                         WHERE doc_id = q_id AND rank <= 10) r USING (q_id)
       |       UNION ALL
       |       SELECT 'rrf_fused' AS arm, q.mode, q.q_id, r.rank
       |       FROM q LEFT JOIN (SELECT q_id, rank FROM cR
       |                         WHERE doc_id = q_id AND rank <= 10) r USING (q_id))
       |SELECT arm, mode, CAST(count(*) AS BIGINT) AS n_queries,
       |       CAST(count(rank) AS BIGINT) AS n_found,
       |       floor(CAST(count(rank) AS DOUBLE) / count(*) * 1000000 + 0.5) / 1000000 AS recall_at_10,
       |       floor(CAST(sum(coalesce(CAST(floor(100000000.0 / rank + 0.5) AS BIGINT), 0)) AS DOUBLE)
       |             / 100000000.0 / count(*) * 1000000 + 0.5) / 1000000 AS mrr
       |FROM ev GROUP BY 1, 2 ORDER BY arm, mode""".stripMargin
  }

  val rrf1HybridFusion: Q = (s, d) => {
    val sparse = graft.operators.Retrieval.topKRanks(
      TextAnalysis.bm25(Tables.documents(s, d)),
      col("bm25"), col("doc_id"), 100)
    val e = Tables.embeddings(s, d)
    val dense = Similarity.bruteForceTopK(e, e.filter(col("vec_id") === 0), 100)
      .select(col("n_id").as("doc_id"), col("rank"))
    graft.operators.Retrieval.rrfFuse(Seq(sparse, dense), k0 = 60, topK = 20)
  }

  // lazy: embeds t12Bm25Sql, which is declared later in this file
  lazy val rrf1HybridFusionSql: String =
    s"""WITH bm AS (SELECT doc_id, bm25 FROM ($t12Bm25Sql)),
       |sr AS (SELECT * FROM (SELECT doc_id,
       |                             row_number() OVER (ORDER BY bm25 DESC, doc_id) AS rank
       |                      FROM bm) WHERE rank <= 100),
       |de AS (SELECT * FROM (
       |        SELECT b.vec_id AS doc_id,
       |               row_number() OVER (ORDER BY floor(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) * 10000 + 0.5) / 10000 DESC, b.vec_id) AS rank
       |        FROM embeddings b
       |        CROSS JOIN (SELECT embedding FROM embeddings WHERE vec_id = 0) q
       |        WHERE b.vec_id <> 0) WHERE rank <= 100),
       |u AS (SELECT doc_id, CAST(floor(100000000.0 / (60 + CAST(rank AS DOUBLE)) + 0.5) AS BIGINT) AS m FROM sr
       |      UNION ALL
       |      SELECT doc_id, CAST(floor(100000000.0 / (60 + CAST(rank AS DOUBLE)) + 0.5) AS BIGINT) AS m FROM de),
       |g AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_arms,
       |             CAST(sum(m) AS BIGINT) AS ms
       |      FROM u GROUP BY doc_id)
       |SELECT doc_id, n_arms, CAST(ms AS DOUBLE) / 100000000 AS rrf
       |FROM g ORDER BY rrf DESC, doc_id LIMIT 20""".stripMargin

  /** ML1 — in-engine logistic-regression training (full-batch GD, 3
    * iterations, lr 0.5) on orders: P(status = 'F' | price, urgency).
    * Gradient/loss terms fold as exact micro-unit BIGINTs and the
    * coefficients re-snap to the 1e-6 grid each step, so the whole
    * training trajectory replays bit-for-bit in the unrolled DuckDB
    * oracle. See [[graft.operators.Analytics.logisticGd]]. */
  val ml1LogregGd: Q = (s, d) =>
    graft.operators.Analytics.logisticGd(Tables.orders(s, d), iters = 3, lr = 0.5)

  /** Shared CTE chain for the ml1/ml2/ml3 oracles: features, totals, and
    * the unrolled GD iterations ending at coefficients CTE `b<iters>`. */
  private def logregCtesSql(iters: Int, trainWhere: String = ""): String = {
    def microSum(expr: String, as: String) =
      s"CAST(sum(CAST(floor(($expr) * 1000000 + 0.5) AS BIGINT)) AS BIGINT) AS $as"
    val sb = new StringBuilder
    sb ++= s"""WITH d AS (SELECT CAST(CASE WHEN o_orderstatus = 'F' THEN 1.0 ELSE 0.0 END AS DOUBLE) AS y,
             |              CAST(1.0 AS DOUBLE) AS x0,
             |              CAST(o_totalprice AS DOUBLE) / 100000.0 AS x1,
             |              CAST(CASE WHEN o_orderpriority LIKE '1-%' THEN 1.0 ELSE 0.0 END AS DOUBLE) AS x2,
             |              ${md5BucketSql("CAST(o_orderkey AS VARCHAR)", 3)} AS fold
             |       FROM orders),
             |nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM d $trainWhere),
             |b0 AS (SELECT CAST(0.0 AS DOUBLE) AS c0, CAST(0.0 AS DOUBLE) AS c1, CAST(0.0 AS DOUBLE) AS c2)""".stripMargin
    for (k <- 1 to iters) {
      sb ++= s""",
                |s$k AS (SELECT y, x0, x1, x2,
                |              1.0 / (1.0 + exp(-(c0 * x0 + c1 * x1 + c2 * x2))) AS sg,
                |              least(greatest(1.0 / (1.0 + exp(-(c0 * x0 + c1 * x1 + c2 * x2))), 1e-9), 1.0 - 1e-9) AS sgc
                |       FROM d CROSS JOIN b${k - 1} $trainWhere),
                |g$k AS (SELECT ${microSum("(sg - y) * x0", "g0")},
                |              ${microSum("(sg - y) * x1", "g1")},
                |              ${microSum("(sg - y) * x2", "g2")},
                |              ${microSum("-(y * ln(sgc) + (1.0 - y) * ln(1.0 - sgc))", "ll")}
                |       FROM s$k),
                |b$k AS (SELECT floor((c0 - 0.5 * (CAST(g0 AS DOUBLE) / 1000000 / n)) * 1000000 + 0.5) / 1000000 AS c0,
                |              floor((c1 - 0.5 * (CAST(g1 AS DOUBLE) / 1000000 / n)) * 1000000 + 0.5) / 1000000 AS c1,
                |              floor((c2 - 0.5 * (CAST(g2 AS DOUBLE) / 1000000 / n)) * 1000000 + 0.5) / 1000000 AS c2,
                |              floor(CAST(ll AS DOUBLE) / 1000000 / n * 1000000 + 0.5) / 1000000 AS loss
                |       FROM g$k CROSS JOIN b${k - 1} CROSS JOIN nn)""".stripMargin
    }
    sb.toString
  }

  val ml1LogregGdSql: String = {
    val iters = 3
    logregCtesSql(iters) + "\n" + (1 to iters).map(k =>
      s"SELECT CAST($k AS BIGINT) AS iter, c0 AS b0, c1 AS b1, c2 AS b2, loss AS logloss_prev FROM b$k")
      .mkString("\nUNION ALL\n")
  }

  /** Per-row grid-snapped score CTE `sc`, appended to the training chain —
    * the scoring expression mirrors `Analytics.logregScores` exactly. */
  private def logregScoreCteSql(iters: Int): String =
    logregCtesSql(iters) + s""",
      |sc AS (SELECT y,
      |              floor((1.0 / (1.0 + exp(-(c0 * x0 + c1 * x1 + c2 * x2)))) * 1000000 + 0.5) / 1000000 AS s6
      |       FROM d CROSS JOIN b$iters)""".stripMargin

  /** PLATT1 — Platt scaling of the ml1 model (iso1's parametric
    * sibling): σ(a + b·s) fit by the exact micro-unit GD on the snapped
    * raw scores, reported as ml2-style reliability bins of the
    * CALIBRATED probabilities with (a, b) carried on every row.
    * See [[graft.operators.Analytics.plattCalibration]]. */
  val platt1Calibration: Q = (s, d) =>
    graft.operators.Analytics.plattCalibration(Tables.orders(s, d))

  val platt1CalibrationSql: String = {
    def microSum(expr: String, as: String) =
      s"CAST(sum(CAST(floor(($expr) * 1000000 + 0.5) AS BIGINT)) AS BIGINT) AS $as"
    val iters = 5
    val gd = (1 to iters).map { k =>
      s""",
         |ps$k AS (SELECT y, s6, 1.0 / (1.0 + exp(-(a * 1.0 + b * s6))) AS sg
         |        FROM sc CROSS JOIN p${k - 1}),
         |pg$k AS (SELECT ${microSum("(sg - y) * 1.0", "g0")},
         |               ${microSum("(sg - y) * s6", "g1")}
         |        FROM ps$k),
         |p$k AS (SELECT floor((a - 1.0 * (CAST(g0 AS DOUBLE) / 1000000 / n)) * 1000000 + 0.5) / 1000000 AS a,
         |               floor((b - 1.0 * (CAST(g1 AS DOUBLE) / 1000000 / n)) * 1000000 + 0.5) / 1000000 AS b
         |        FROM pg$k CROSS JOIN p${k - 1} CROSS JOIN pn)""".stripMargin
    }.mkString
    s"""${logregScoreCteSql(3)},
       |pn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM sc),
       |p0 AS (SELECT CAST(0.0 AS DOUBLE) AS a, CAST(0.0 AS DOUBLE) AS b)$gd,
       |qq AS (SELECT y,
       |         floor((1.0 / (1.0 + exp(-(a * 1.0 + b * s6)))) * 1000000 + 0.5) / 1000000 AS q6
       |       FROM sc CROSS JOIN p$iters),
       |bb AS (SELECT y, q6, least(CAST(floor(q6 * 10) AS BIGINT), 9) AS bin FROM qq),
       |gg AS (SELECT bin, CAST(count(*) AS BIGINT) AS n,
       |              CAST(sum(CAST(floor(q6 * 1000000 + 0.5) AS BIGINT)) AS BIGINT) AS ps,
       |              sum(y) AS ys
       |       FROM bb GROUP BY bin)
       |SELECT bin, n, p$iters.a AS platt_a, p$iters.b AS platt_b,
       |       floor((CAST(ps AS DOUBLE) / 1000000 / CAST(n AS DOUBLE)) * 1000000 + 0.5) / 1000000 AS avg_cal,
       |       floor((ys / CAST(n AS DOUBLE)) * 1000000 + 0.5) / 1000000 AS obs_rate
       |FROM gg CROSS JOIN p$iters
       |ORDER BY bin""".stripMargin
  }

  /** ML2 — reliability bins of the ml1-trained model: decile bins of
    * predicted probability vs observed positive rate.
    * See [[graft.operators.Analytics.calibrationBins]]. */
  val ml2Calibration: Q = (s, d) =>
    graft.operators.Analytics.calibrationBins(Tables.orders(s, d),
      iters = 3, lr = 0.5, bins = 10)

  val ml2CalibrationSql: String =
    s"""${logregScoreCteSql(3)},
       |bb AS (SELECT y, s6, least(CAST(floor(s6 * 10) AS BIGINT), 9) AS bin FROM sc),
       |gg AS (SELECT bin, CAST(count(*) AS BIGINT) AS n,
       |              CAST(sum(CAST(floor(s6 * 1000000 + 0.5) AS BIGINT)) AS BIGINT) AS ps,
       |              sum(y) AS ys
       |       FROM bb GROUP BY bin)
       |SELECT bin, n,
       |       floor((CAST(ps AS DOUBLE) / 1000000 / CAST(n AS DOUBLE)) * 1000000 + 0.5) / 1000000 AS avg_pred,
       |       floor((ys / CAST(n AS DOUBLE)) * 1000000 + 0.5) / 1000000 AS obs_rate
       |FROM gg""".stripMargin

  /** ML3 — exact AUC (grouped Mann–Whitney rank-sum, midrank ties) +
    * accuracy at 0.5 for the ml1-trained model: the 1e-6 score snap
    * bounds the group count at any corpus size.
    * See [[graft.operators.Analytics.logisticAuc]]. */
  val ml3Auc: Q = (s, d) =>
    graft.operators.Analytics.logisticAuc(Tables.orders(s, d), iters = 3, lr = 0.5)

  val ml3AucSql: String =
    s"""${logregScoreCteSql(3)},
       |gg AS (SELECT s6, CAST(count(*) AS DOUBLE) AS n_s, sum(y) AS pos_s
       |       FROM sc GROUP BY s6),
       |cc AS (SELECT s6, n_s, pos_s, n_s - pos_s AS neg_s,
       |              sum(n_s - pos_s) OVER (ORDER BY s6 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |                - (n_s - pos_s) AS cum_neg_below
       |       FROM gg)
       |SELECT CAST(sum(n_s) AS BIGINT) AS n,
       |       CAST(sum(pos_s) AS BIGINT) AS n_pos,
       |       CASE WHEN sum(pos_s) > 0 AND sum(n_s) - sum(pos_s) > 0
       |            THEN floor((sum(pos_s * (cum_neg_below + neg_s / 2.0))
       |                        / (sum(pos_s) * (sum(n_s) - sum(pos_s)))) * 1000000 + 0.5) / 1000000
       |            ELSE 0.5 END AS auc,
       |       floor((sum(CASE WHEN s6 >= 0.5 THEN pos_s ELSE neg_s END) / sum(n_s)) * 1000000 + 0.5) / 1000000 AS accuracy
       |FROM cc""".stripMargin

  /** IVM2 — incremental JOIN maintenance by the delta-join identity:
    * orders after 2001-05-01 are the fact delta, customers with
    * custkey % 13 = 5 the dimension delta; the view absorbs them by
    * computing ΔA⋈B ∪ A⋈ΔB ∪ ΔA⋈ΔB only — the base-⋈-base term is
    * never recomputed. Each row is tagged with its producing term.
    * See [[graft.operators.Incremental.deltaJoin]]. */
  val ivm2DeltaJoin: Q = (s, d) => {
    val split = lit("2001-05-01 00:00:00").cast("timestamp")
    val o = Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_custkey").as("custkey"), col("o_orderdate"))
    val c = Tables.customer(s, d)
      .select(col("c_custkey").as("custkey"), col("c_name"))
    graft.operators.Incremental.deltaJoin(
      o.filter(col("o_orderdate") < split).drop("o_orderdate"),
      o.filter(col("o_orderdate") >= split).drop("o_orderdate"),
      c.filter(col("custkey") % 13 =!= 5),
      c.filter(col("custkey") % 13 === 5),
      Seq("custkey"))
      .select(col("custkey"), col("o_orderkey"), col("c_name"), col("delta_term"))
  }

  val ivm2DeltaJoinSql: String =
    """WITH a AS (SELECT o_orderkey, o_custkey AS custkey FROM orders
      |           WHERE o_orderdate < TIMESTAMP '2001-05-01 00:00:00'),
      |da AS (SELECT o_orderkey, o_custkey AS custkey FROM orders
      |       WHERE o_orderdate >= TIMESTAMP '2001-05-01 00:00:00'),
      |b AS (SELECT c_custkey AS custkey, c_name FROM customer WHERE c_custkey % 13 <> 5),
      |db AS (SELECT c_custkey AS custkey, c_name FROM customer WHERE c_custkey % 13 = 5)
      |SELECT custkey, o_orderkey, c_name, 'da_b' AS delta_term FROM da JOIN b USING (custkey)
      |UNION ALL
      |SELECT custkey, o_orderkey, c_name, 'a_db' AS delta_term FROM a JOIN db USING (custkey)
      |UNION ALL
      |SELECT custkey, o_orderkey, c_name, 'da_db' AS delta_term FROM da JOIN db USING (custkey)""".stripMargin

  /** BOOT1 — deterministic Poisson bootstrap of mean order price: 32
    * replicate means from salted-hash Poisson(1) multiplicities — the
    * one-pass large-scale bootstrap (no draw-n-of-n coordination), CI
    * readable off the replicate distribution.
    * See [[graft.operators.Sampling.bootstrapMeans]]. */
  val boot1BootstrapCi: Q = (s, d) =>
    graft.operators.Sampling.bootstrapMeans(Tables.orders(s, d),
      col("o_orderkey"),
      (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long"), b = 32)

  val boot1BootstrapCiSql: String = {
    // NOT the f-interpolator: it formats with the JVM default locale, and
    // a decimal-comma locale would emit syntactically invalid SQL
    val ladder = graft.operators.Sampling.poisson1Cum.zipWithIndex
      .map { case (c, k) =>
        val lit9 = String.format(java.util.Locale.ROOT, "%.9f", Double.box(c))
        s"WHEN u < $lit9 THEN CAST($k AS BIGINT)"
      }
      .mkString("\n      |             ")
    // the digit-trick integer of the md5 hex WINDOW [1 + 8·(rep%4), 8],
    // mirroring Sampling.bootstrapMeans's four-draws-per-digest scheme
    val pow16 = Array(268435456L, 16777216L, 1048576L, 65536L, 4096L, 256L, 16L, 1L)
    val winDigits = (0 until 8)
      .map(i => s"(strpos('0123456789abcdef', substr(m, CAST((rep % 4) * 8 + ${i + 1} AS BIGINT), 1)) - 1) * ${pow16(i)}")
      .mkString(" + ")
    s"""WITH r AS (SELECT o_orderkey,
       |                  CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
       |                  unnest(range(0, 32)) AS rep
       |           FROM orders),
       |h AS (SELECT rep, cents,
       |             md5('bs' || CAST(rep // 4 AS VARCHAR) || ':' || CAST(o_orderkey AS VARCHAR)) AS m
       |      FROM r),
       |u AS (SELECT rep, cents,
       |             CAST(($winDigits) % 1000000 AS DOUBLE) / 1000000.0 AS u
       |      FROM h),
       |w AS (SELECT rep, cents,
       |             CASE $ladder
       |             ELSE CAST(9 AS BIGINT) END AS w
       |      FROM u),
       |g AS (SELECT rep, CAST(sum(w) AS BIGINT) AS n_resampled,
       |             CAST(sum(w * cents) AS BIGINT) AS s
       |      FROM w GROUP BY rep)
       |SELECT rep AS replicate, n_resampled,
       |       ${portableRoundSql("CAST(s AS DOUBLE) / CAST(n_resampled AS DOUBLE) / 100.0", 4)} AS mean_price
       |FROM g""".stripMargin
  }

  /** ZM1 — zone-map data skipping, quantified: orders cut into 512-row
    * files under two layouts (clustered on the predicate column vs
    * natural key order), per-file min/max zone maps, and the scan verdict
    * of `o_totalprice ∈ [200k, 250k]` against each file. The clustered
    * layout's scanned-file fraction ≈ the predicate's selectivity; the
    * natural layout scans nearly everything — the measured argument for
    * z1/z2's write-time sorting. See [[graft.operators.Layout.zoneMapStats]]. */
  val zm1ZoneMap: Q = (s, d) => {
    val o = Tables.orders(s, d)
    graft.operators.Layout.zoneMapStats(o, col("o_totalprice"), col("o_orderkey"),
        col("o_totalprice"), 512, "clustered", 200000.0, 250000.0)
      .unionByName(graft.operators.Layout.zoneMapStats(o, col("o_orderkey"),
        col("o_orderkey"), col("o_totalprice"), 512, "natural", 200000.0, 250000.0))
  }

  val zm1ZoneMapSql: String = {
    def layoutSql(orderBy: String, name: String) =
      s"""SELECT '$name' AS layout, file_id, CAST(count(*) AS BIGINT) AS n_rows,
         |       min(s) AS min_stat, max(s) AS max_stat,
         |       max(s) >= 200000.0 AND min(s) <= 250000.0 AS scanned
         |FROM (SELECT CAST(o_totalprice AS DOUBLE) AS s,
         |             CAST(floor((row_number() OVER (ORDER BY $orderBy) - 1) / 512.0) AS BIGINT) AS file_id
         |      FROM orders)
         |GROUP BY file_id""".stripMargin
    layoutSql("o_totalprice, o_orderkey", "clustered") + "\nUNION ALL\n" +
      layoutSql("o_orderkey, o_orderkey", "natural")
  }

  /** BF1 — per-file Bloom skipping index on an unclustered equality key
    * (o_custkey in an o_orderkey-ordered layout): the point-lookup
    * pruning story zone maps cannot tell. Per simulated file: Bloom
    * verdict vs ground truth for a fixed probe set — zero false
    * negatives, fill-bounded false positives.
    * See [[graft.operators.Layout.bloomSkipStats]]. */
  val bf1FileBloom: Q = (s, d) =>
    graft.operators.Layout.bloomSkipStats(Tables.orders(s, d),
      col("o_custkey"), col("o_orderkey"), rowsPerFile = 512,
      bits = 4096, hashes = 3, probes = bf1Probes)

  private val bf1Probes: Seq[Long] = Seq(7L, 421L, 1399L, 999999L, 123456789L)

  val bf1FileBloomSql: String = {
    val probeList = bf1Probes.mkString(", ")
    def bitExprs(keyExpr: String) = (0 until 3)
      .map(j => md5BucketSql(s"'bf$j:' || CAST($keyExpr AS VARCHAR)", 4096))
      .mkString(", ")
    s"""WITH f AS (SELECT CAST(o_custkey AS BIGINT) AS k,
       |             CAST(floor((row_number() OVER (ORDER BY o_orderkey) - 1) / 512.0) AS BIGINT) AS file_id
       |           FROM orders),
       |fk AS (SELECT file_id, k, count(*) AS cnt FROM f GROUP BY 1, 2),
       |fb AS (SELECT DISTINCT file_id, bit FROM
       |        (SELECT file_id, unnest([${bitExprs("k")}]) AS bit FROM fk)),
       |pr AS (SELECT unnest([$probeList]) AS p),
       |pb AS (SELECT DISTINCT p, bit FROM
       |        (SELECT p, unnest([${bitExprs("p")}]) AS bit FROM pr)),
       |need AS (SELECT p, count(*) AS need FROM pb GROUP BY 1),
       |mt AS (SELECT fb.file_id, pb.p, count(*) AS got
       |       FROM fb JOIN pb USING (bit) GROUP BY 1, 2),
       |pass AS (SELECT file_id, mt.p FROM mt JOIN need USING (p) WHERE got = need),
       |bs AS (SELECT file_id, CAST(count(*) AS BIGINT) AS bits_set FROM fb GROUP BY 1),
       |np AS (SELECT file_id, CAST(count(*) AS BIGINT) AS n_probe_pass FROM pass GROUP BY 1),
       |nt AS (SELECT file_id, CAST(count(*) AS BIGINT) AS n_probe_true FROM
       |        (SELECT DISTINCT file_id, k FROM fk WHERE k IN ($probeList)) GROUP BY 1),
       |st AS (SELECT file_id, CAST(sum(cnt) AS BIGINT) AS n_rows,
       |              CAST(count(*) AS BIGINT) AS n_keys FROM fk GROUP BY 1)
       |SELECT st.file_id, n_rows, n_keys,
       |       COALESCE(bits_set, 0) AS bits_set,
       |       COALESCE(n_probe_pass, 0) AS n_probe_pass,
       |       COALESCE(n_probe_true, 0) AS n_probe_true,
       |       COALESCE(n_probe_pass, 0) > 0 AS scanned_bloom,
       |       COALESCE(n_probe_true, 0) > 0 AS scanned_true
       |FROM st LEFT JOIN bs USING (file_id) LEFT JOIN np USING (file_id)
       |        LEFT JOIN nt USING (file_id)""".stripMargin
  }

  /** D11 — cross-document containment via shared rare 8-token spans
    * (df ≤ 5 blocking bound): directional "A is a subset of B" signal.
    * See [[graft.operators.Dedup.spanContainment]]. */
  val d11Containment: Q = (s, d) =>
    Dedup.spanContainment(scanParallel(Tables.documents(s, d)), k = 8, maxDf = 5,
      threshold = 0.8)

  val d11ContainmentSql: String =
    s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
       |sp AS (SELECT doc_id,
       |         list_distinct([array_to_string(list_slice(tk, i, i + 7), ' ')
       |                        FOR i IN RANGE(1, len(tk) - 6)]) AS s
       |       FROM t WHERE len(tk) >= 8),
       |ex AS (SELECT doc_id, md5(unnest(s)) AS h FROM sp),
       |rare AS (SELECT h FROM (SELECT h, count(*) AS df FROM ex GROUP BY h)
       |         WHERE df BETWEEN 2 AND 5),
       |cand AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
       |         FROM ex a JOIN rare USING (h) JOIN ex b USING (h)
       |         WHERE a.doc_id < b.doc_id),
       |n AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM ex GROUP BY doc_id),
       |sh AS (SELECT c.a_id, c.b_id, CAST(count(*) AS BIGINT) AS n_shared
       |       FROM cand c
       |       JOIN ex ea ON ea.doc_id = c.a_id
       |       JOIN ex eb ON eb.doc_id = c.b_id AND eb.h = ea.h
       |       GROUP BY 1, 2)
       |SELECT a_id, b_id, na.n AS n_a, nb.n AS n_b, n_shared,
       |       ${portableRoundSql("CAST(n_shared AS DOUBLE) / na.n", 4)} AS containment_a,
       |       ${portableRoundSql("CAST(n_shared AS DOUBLE) / nb.n", 4)} AS containment_b,
       |       ${portableRoundSql("CAST(n_shared AS DOUBLE) / na.n", 4)} >= 0.8 OR
       |       ${portableRoundSql("CAST(n_shared AS DOUBLE) / nb.n", 4)} >= 0.8 AS contained
       |FROM sh JOIN n na ON na.doc_id = sh.a_id
       |        JOIN n nb ON nb.doc_id = sh.b_id""".stripMargin

  /** The DuckDB replay of [[graft.operators.Dedup.removeDupSpans]] over
    * a `(doc_id, text)` CTE named `src`: df table from per-doc-distinct
    * span digests, positioned occurrences, hit-start lists, and the
    * token-level cut — ends in `cl12(doc_id, tk, hit_i, kept)`. Shared
    * by d12 and prep2 so the surgery can't diverge between them. */
  private def spanRemovalCtes(src: String, minDocs: Int = 3,
                              keepFirst: Boolean = false,
                              k: Int = 8): String = {
    // mirror removeDupSpans' k parameter: a span is tk[i .. i+k-1], so
    // the window start range is [1, len(tk) - (k-1)] (duckdb RANGE end
    // is exclusive), the slice end offset is k-1, and a position p is
    // covered by a hit at h iff h <= p <= h + k - 1
    require(k >= 2, s"spanRemovalCtes: k out of range: $k")
    val e = k - 1 // slice/coverage end offset
    s"""t12 AS MATERIALIZED (SELECT doc_id, string_split(text, ' ') AS tk FROM $src),
       |sp12 AS (SELECT doc_id,
       |    list_distinct([md5(array_to_string(list_slice(tk, i, i + $e), ' '))
       |                   FOR i IN RANGE(1, len(tk) - ${k - 2})]) AS hs
       |  FROM t12 WHERE len(tk) >= $k),
       |df12 AS (SELECT h, min(doc_id) AS keeper
       |         FROM (SELECT doc_id, unnest(hs) AS h FROM sp12)
       |         GROUP BY h HAVING count(*) >= $minDocs),
       |oc12 AS (SELECT doc_id, u.i AS i, u.h AS h FROM (
       |    SELECT doc_id,
       |           unnest([{'i': i, 'h': md5(array_to_string(list_slice(tk, i, i + $e), ' '))}
       |                   FOR i IN RANGE(1, len(tk) - ${k - 2})]) AS u
       |    FROM t12 WHERE len(tk) >= $k)),
       |ht12 AS (SELECT oc12.doc_id, list(oc12.i) AS hit_i
       |         FROM oc12 JOIN df12 USING (h)
       |         ${if (keepFirst) "WHERE oc12.doc_id <> df12.keeper" else ""}
       |         GROUP BY 1),
       |cl12 AS (SELECT doc_id, tk, hit_i, kept,
       |           -- duckdb array_to_string([]) is NULL where Spark
       |           -- array_join([]) is '' — a fully-excised doc must
       |           -- clean to the empty string on both sides
       |           coalesce(array_to_string(kept, ' '), '') AS clean
       |         FROM (SELECT doc_id, tk, hit_i,
       |                 [tk[p] FOR p IN RANGE(1, len(tk) + 1)
       |                  IF len(list_filter(hit_i, h -> p >= h AND p <= h + $e)) = 0] AS kept
       |               FROM (SELECT t12.doc_id, t12.tk,
       |                       coalesce(ht12.hit_i, CAST([] AS BIGINT[])) AS hit_i
       |                     FROM t12 LEFT JOIN ht12 USING (doc_id))))"""
      .stripMargin
  }

  /** D12 — repeated-span REMOVAL (Lee et al. 2022 ExactSubstr): excise
    * every 8-token span whose digest occurs in ≥3 distinct documents,
    * emit the cleaned text and the cut metrics per doc. d10 flags the
    * boilerplate signal; this is the surgery that shrinks the corpus.
    * See [[graft.operators.Dedup.removeDupSpans]]. */
  val d12SpanRemoval: Q = (s, d) =>
    Dedup.removeDupSpans(scanParallel(Tables.documents(s, d)), k = 8, minDocs = 3)

  val d12SpanRemovalSql: String =
    s"""WITH src AS (SELECT doc_id, text FROM documents),
       |${spanRemovalCtes("src")}
       |SELECT doc_id,
       |  CAST(len(tk) AS BIGINT) AS n_tokens,
       |  CAST(len(hit_i) AS BIGINT) AS n_hit_spans,
       |  CAST(len(tk) - len(kept) AS BIGINT) AS n_removed,
       |  CAST(length(array_to_string(tk, ' ')) - length(clean) AS BIGINT) AS chars_removed,
       |  ${portableRoundSql("CAST(len(tk) - len(kept) AS DOUBLE) / len(tk)", 4)} AS removed_ratio,
       |  clean AS cleaned_text
       |FROM cl12""".stripMargin

  /** EMB6 — "all-but-the-top" embedding post-processing (Mu & Viswanath
    * 2018): center the corpus, power-iterate the dominant direction OF
    * THE CENTERED vectors (pca1's discipline), and report each vector's
    * removed projection + norm before/after — the isotropy audit that
    * says how much of every vector's mass the common direction held.
    * Full oracle: mean, iteration, projection and the closed-form
    * norm-after all replay digit-exact.
    * See [[graft.operators.Similarity.ablateTopComponent]]. */
  val emb6AblateTop: Q = (s, d) =>
    graft.operators.Similarity.ablateTopComponent(Tables.embeddings(s, d))

  val emb6AblateTopSql: String = {
    def r9(x: String) = s"floor(($x) * 1000000000 + 0.5) / 1000000000"
    def iter(i: Int, prev: String): String =
      s"""d$i AS (SELECT vec_id,
         |  floor(CAST(sum(CAST(${r9("x * v")} AS DECIMAL(28,9))) AS DOUBLE) * 1000000 + 0.5) / 1000000 AS dot
         |  FROM cf JOIN $prev USING (j) GROUP BY vec_id),
         |u$i AS (SELECT j, CAST(sum(CAST(${r9("dot * x")} AS DECIMAL(28,9))) AS DOUBLE) AS s
         |  FROM cf JOIN d$i USING (vec_id) GROUP BY j),
         |n$i AS (SELECT sqrt(CAST(sum(CAST(${r9("s * s")} AS DECIMAL(28,9))) AS DOUBLE)) AS nrm FROM u$i),
         |v$i AS (SELECT j, ${r9("s / nrm")} AS v FROM u$i CROSS JOIN n$i)""".stripMargin
    val rounds = (1 to 5).map(i => iter(i, if (i == 1) "v0" else s"v${i - 1}"))
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
       |f AS MATERIALIZED (SELECT vec_id, CAST(j AS BIGINT) AS j, emb[j] AS x
       |     FROM e, LATERAL (SELECT unnest(generate_series(1, 64)) AS j) t),
       |mu AS MATERIALIZED (SELECT j,
       |     ${r9(s"CAST(sum(CAST(${r9("x")} AS DECIMAL(18,9))) AS DOUBLE) / (SELECT count(*) FROM e)")} AS m
       |     FROM f GROUP BY j),
       |cf AS MATERIALIZED (SELECT vec_id, f.j, f.x - mu.m AS x FROM f JOIN mu USING (j)),
       |v0 AS (SELECT CAST(unnest(generate_series(1, 64)) AS BIGINT) AS j, 0.125 AS v),
       |${rounds.mkString(",\n")},
       |vn AS (SELECT CAST(sum(CAST(${r9("v * v")} AS DECIMAL(28,9))) AS DOUBLE) AS vn2 FROM v5),
       |pr AS (SELECT cf.vec_id,
       |         floor(CAST(sum(CAST(${r9("cf.x * v5.v")} AS DECIMAL(28,9))) AS DOUBLE) * 1000000 + 0.5) / 1000000 AS proj,
       |         CAST(sum(CAST(${r9("cf.x * cf.x")} AS DECIMAL(28,9))) AS DOUBLE) AS nb2
       |       FROM cf JOIN v5 ON cf.j = v5.j GROUP BY cf.vec_id)
       |SELECT vec_id, proj,
       |       floor(sqrt(nb2) * 1000000 + 0.5) / 1000000 AS norm_before,
       |       floor(sqrt(greatest(nb2 - proj * proj * (2 - vn2), 0)) * 1000000 + 0.5) / 1000000 AS norm_after
       |FROM pr CROSS JOIN vn""".stripMargin
  }

  /** EMB5 — int8-quantization recall audit (the emb4 matryoshka
    * discipline applied to the OTHER index-compression axis): how much
    * of the exact float cosine top-5 survives when the index serves
    * DEQUANTIZED int8 codes (emb1's per-vector symmetric quantizer,
    * scale = max|x|/127)? Both arms are the sim1 brute ranking on the
    * 1e-4 grid — fully deterministic, so unlike the pq2 gates this is a
    * FULL oracle: DuckDB replays quantize → dequantize → both rankings
    * → the intersection digit for digit. The storage/recall trade every
    * int8-serving deployment measures before shipping. */
  val emb5Int8Recall: Q = (s, d) => {
    val e = Tables.embeddings(s, d)
    val qscale = aggregate(col("embedding").cast("array<double>"), lit(0.0),
      (a, x) => greatest(a, abs(x))) / 127.0
    val deq = e.select(col("vec_id"),
      transform(graft.functions.quantize_int8(col("embedding")),
        c => (c.cast("double") * qscale).cast("float")).as("embedding"))
    val int8Top = Similarity.bruteForceTopK(deq,
        deq.filter(col("vec_id") < 10), 5)
      .select(col("q_id"), col("n_id"))
    val floatTop = Similarity.bruteForceTopK(e,
        e.filter(col("vec_id") < 10), 5)
      .select(col("q_id"), col("n_id"))
    val hits = floatTop.join(int8Top, Seq("q_id", "n_id"), "left_semi")
      .agg(count(lit(1)).as("n_hits"))
    floatTop.agg(countDistinct(col("q_id")).as("n_queries"),
        count(lit(1)).as("n_exact"))
      .crossJoin(hits)
      .select(col("n_queries"), col("n_exact"), col("n_hits"),
        portableRound(col("n_hits").cast("double") / col("n_exact"), 4)
          .as("recall_int8"))
  }

  val emb5Int8RecallSql: String =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
      |n5 AS (SELECT vec_id, emb,
      |              list_max([abs(x) FOR x IN emb]) / 127.0 AS qscale FROM e),
      |dq AS (SELECT vec_id,
      |         CASE WHEN qscale = 0
      |              THEN [CAST(CAST(0 AS REAL) AS DOUBLE) FOR x IN emb]
      |              ELSE [CAST(CAST(CAST(floor(x / qscale + 0.5) AS INT) * qscale AS REAL) AS DOUBLE)
      |                    FOR x IN emb] END AS demb
      |       FROM n5),
      |scf AS (SELECT q.vec_id AS q_id, c.vec_id AS n_id,
      |          floor(list_cosine_similarity(q.emb, c.emb) * 10000 + 0.5) / 10000 AS cosine
      |        FROM e q JOIN e c ON q.vec_id <> c.vec_id
      |        WHERE q.vec_id < 10),
      |rf AS (SELECT q_id, n_id, row_number() OVER (PARTITION BY q_id
      |                 ORDER BY cosine DESC, n_id) AS rank FROM scf),
      |scq AS (SELECT q.vec_id AS q_id, c.vec_id AS n_id,
      |          floor(list_cosine_similarity(q.demb, c.demb) * 10000 + 0.5) / 10000 AS cosine
      |        FROM dq q JOIN dq c ON q.vec_id <> c.vec_id
      |        WHERE q.vec_id < 10),
      |rq AS (SELECT q_id, n_id, row_number() OVER (PARTITION BY q_id
      |                 ORDER BY cosine DESC, n_id) AS rank FROM scq),
      |ft AS (SELECT q_id, n_id FROM rf WHERE rank <= 5),
      |qt AS (SELECT q_id, n_id FROM rq WHERE rank <= 5),
      |h AS (SELECT CAST(count(*) AS BIGINT) AS n_hits
      |      FROM ft JOIN qt USING (q_id, n_id))
      |SELECT (SELECT CAST(count(DISTINCT q_id) AS BIGINT) FROM ft) AS n_queries,
      |       (SELECT CAST(count(*) AS BIGINT) FROM ft) AS n_exact,
      |       h.n_hits,
      |       floor(CAST(h.n_hits AS DOUBLE)
      |             / (SELECT count(*) FROM ft) * 10000 + 0.5) / 10000 AS recall_int8
      |FROM h""".stripMargin

  /** PREP3 — the FULL curation pipeline as ONE oracle-checked plan (the
    * FineWeb/RefinedWeb shape end to end): quality gate (t10's verdict)
    * → exact content dedup (md5 digest, min-id winner) → NEAR-dup
    * clustering (3-gram Jaccard > 0.6, the d7 connected components) with
    * d8's KEEP-BEST election (highest t2 quality, ties id-ascending;
    * losers dropped) → keep-first repeated-span removal (d13, the Lee
    * et al. surgery) → one-row corpus accounting (stage survivor counts
    * + token/char mass before and after). prep1 composed three stages;
    * this is the whole production line — every stage an independently
    * proven operator, the COMPOSITION pinned against one DuckDB
    * re-derivation.
    *
    * Scale shape: each stage keeps the established exchange economics
    * (digest-keyed dedup, id-only pair candidates, star-contraction CC
    * rounds, digest-keyed span df) — text crosses exactly two exchanges
    * (the dedup carry and the span-cut join) — and every stage boundary
    * MATERIALIZES via [[curationStages]], so the accounting branches
    * read stage outputs instead of re-deriving the line (r15: ~13 s →
    * ~3.9 s at sf0.1; bill pinned by ShipLineBillSpec). Verify-tier,
    * not benched: every stage already has its own bench row (prep1,
    * d7/d8, d12/d13) and the wall is at its ~240 s edge. */
  /** The shared curation line (quality gate → exact dedup → near-dup CC
    * keep-best election) with every stage's output MATERIALIZED via
    * `localCheckpoint` before the next stage or any accounting branch
    * consumes it. The materialization is the point, not a cache trick:
    * a pure-plan composition re-derives its upstream once per REFERENCE
    * (Spark does not dedup non-identical subtrees — the pref1 lesson at
    * composition scale), and the committed r14 plan dumps measured the
    * cost: prep3 scanned documents 22×, release1 64× with 121 hash
    * exchanges, against a COST.md bill of "the sum of the stages". At
    * 100 TB a ship line writes each stage's survivors to stage storage
    * and the next stage reads THAT; localCheckpoint is the local-mode
    * analog (materialized blocks, lineage cut). ShipLineBillSpec pins
    * the measured shuffle bill of each composition to the sum of its
    * stages' bills. Returns (gated, exactDeduped, neardupSurvivors). */
  private[graft] def curationStages(docs: DataFrame, carry: Seq[String])
      : (DataFrame, DataFrame, DataFrame) = {
    val ok = docs.filter(corpusReasonExpr === "ok")
      .select(Seq(col("doc_id"), col("text")) ++ carry.map(col) :+
        TextAnalysis.qualityExpr.as("quality"): _*)
      .localCheckpoint()
    val exact = Dedup.exactByDigest(ok, col("text"),
        carry = "text" +: carry :+ "quality")
      .select(Seq(col("doc_id"), col("text")) ++ carry.map(col) :+
        col("quality"): _*)
      .localCheckpoint()
    val clusters = Dedup.duplicateClusters(
      Dedup.ngramJaccardPairsMapCount(exact, 3, 0.6))
    val w = Window.partitionBy(col("cluster_rep"))
      .orderBy(col("quality").desc, col("doc_id").asc)
    val losers = clusters.join(exact.select(col("doc_id"), col("quality")),
        Seq("doc_id"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") > 1)
      .select(col("doc_id"))
    val surv = exact.join(losers, Seq("doc_id"), "left_anti")
      .localCheckpoint()
    (ok, exact, surv)
  }

  val prep3FullCuration: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val (ok, exact, surv) = curationStages(docs, Seq.empty)
    val cleaned = Dedup.removeDupSpans(
      surv.select(col("doc_id"), col("text")), k = 8, minDocs = 2,
      keepFirst = true)
    docs.agg(count(lit(1)).as("n_input"))
      .crossJoin(ok.agg(count(lit(1)).as("n_ok")))
      .crossJoin(exact.agg(count(lit(1)).as("n_after_exact")))
      .crossJoin(surv.agg(count(lit(1)).as("n_after_neardup")))
      .crossJoin(cleaned.agg(
        sum(col("n_tokens")).as("tokens_before_spans"),
        sum(col("n_tokens") - col("n_removed")).as("tokens_final"),
        sum(col("chars_removed")).as("chars_removed")))
  }

  lazy val prep3FullCurationSql: String = {
    val cc = s"""kept3 AS (SELECT doc_id, text, quality FROM b
       |         WHERE $corpusReasonSql = 'ok'),
       |ded3 AS MATERIALIZED (SELECT min(doc_id) AS doc_id, min(text) AS text,
       |               min(quality) AS quality
       |        FROM kept3 GROUP BY md5(text)),
       |tk3 AS (SELECT doc_id, string_split(text, ' ') AS t FROM ded3),
       |sh3 AS (SELECT doc_id,
       |          list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
       |                         FOR i IN RANGE(1, len(t) - 1)]) AS s
       |        FROM tk3 WHERE len(t) >= 3),
       |sz3 AS (SELECT doc_id, len(s) AS n_sh FROM sh3),
       |ex3 AS (SELECT doc_id, unnest(s) AS sg FROM sh3),
       |pr3 AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS inter
       |        FROM ex3 a JOIN ex3 b ON a.sg = b.sg AND a.doc_id < b.doc_id
       |        GROUP BY 1, 2),
       |j3 AS (SELECT a_id, b_id,
       |          floor((CAST(inter AS DOUBLE) / (na.n_sh + nb.n_sh - inter)) * 10000 + 0.5) / 10000 AS jac
       |       FROM pr3
       |       JOIN sz3 na ON na.doc_id = a_id
       |       JOIN sz3 nb ON nb.doc_id = b_id),
       |eg3 AS (SELECT a_id AS s, b_id AS d FROM j3 WHERE jac > 0.6
       |        UNION ALL
       |        SELECT b_id AS s, a_id AS d FROM j3 WHERE jac > 0.6),
       |nd3 AS (SELECT DISTINCT s AS node FROM eg3),
       |reach3(node, lab) AS (
       |  SELECT node, node FROM nd3
       |  UNION
       |  SELECT e.d, r.lab FROM reach3 r JOIN eg3 e ON e.s = r.node),
       |lab3 AS (SELECT node AS doc_id, CAST(min(lab) AS BIGINT) AS cluster_rep
       |         FROM reach3 GROUP BY node),
       |los3 AS (SELECT doc_id FROM (
       |           SELECT l.doc_id,
       |                  row_number() OVER (PARTITION BY l.cluster_rep
       |                    ORDER BY d.quality DESC, l.doc_id) AS rn
       |           FROM lab3 l JOIN ded3 d USING (doc_id)) WHERE rn > 1),
       |src AS (SELECT doc_id, text FROM ded3
       |        WHERE doc_id NOT IN (SELECT doc_id FROM los3))""".stripMargin
    corpusSignalsCteSql.replaceFirst("^WITH ", "WITH RECURSIVE ") + ",\n" +
      cc + ",\n" + spanRemovalCtes("src", minDocs = 2, keepFirst = true) +
      s"""
       |SELECT
       |  (SELECT CAST(count(*) AS BIGINT) FROM documents) AS n_input,
       |  (SELECT CAST(count(*) AS BIGINT) FROM kept3) AS n_ok,
       |  (SELECT CAST(count(*) AS BIGINT) FROM ded3) AS n_after_exact,
       |  (SELECT CAST(count(*) AS BIGINT) FROM src) AS n_after_neardup,
       |  CAST(sum(len(tk)) AS BIGINT) AS tokens_before_spans,
       |  CAST(sum(len(kept)) AS BIGINT) AS tokens_final,
       |  CAST(sum(length(array_to_string(tk, ' ')) - length(clean)) AS BIGINT) AS chars_removed
       |FROM cl12""".stripMargin
  }

  /** D13 — repeated-span removal with the KEEP-FIRST policy (Lee et al.
    * 2022 proper): one canonical copy of each repeated span survives —
    * the minimum-doc_id carrier keeps its occurrences, every other
    * carrier is cut — so the corpus retains the information exactly once
    * instead of losing it everywhere (d12's strip-from-all reading).
    * minDocs = 2: ANY cross-document duplicate span qualifies.
    * See [[graft.operators.Dedup.removeDupSpans]] (keepFirst = true). */
  val d13SpanKeepFirst: Q = (s, d) =>
    Dedup.removeDupSpans(Tables.documents(s, d), k = 8, minDocs = 2,
      keepFirst = true)

  val d13SpanKeepFirstSql: String =
    s"""WITH src AS (SELECT doc_id, text FROM documents),
       |${spanRemovalCtes("src", minDocs = 2, keepFirst = true)}
       |SELECT doc_id,
       |  CAST(len(tk) AS BIGINT) AS n_tokens,
       |  CAST(len(hit_i) AS BIGINT) AS n_hit_spans,
       |  CAST(len(tk) - len(kept) AS BIGINT) AS n_removed,
       |  CAST(length(array_to_string(tk, ' ')) - length(clean) AS BIGINT) AS chars_removed,
       |  ${portableRoundSql("CAST(len(tk) - len(kept) AS DOUBLE) / len(tk)", 4)} AS removed_ratio,
       |  clean AS cleaned_text
       |FROM cl12""".stripMargin

  /** D14 — URL canonicalization + dedup
    * ([[graft.operators.Curation.urlDedup]]): the crawl-frontier dedup a
    * web corpus runs BEFORE fetching bytes. URLs are synthesized
    * deterministically from events with the noise a real crawl sees —
    * case-varied hosts, shuffled parameter order, `utm_*`/`fbclid`
    * tracking junk, fragments, an occasional trailing slash — such that
    * many raw forms collapse onto one canonical URL. Kept page = the
    * smallest event id (ingest order). */
  /** The synthetic fetch log d14/st19 share: (page_id, ts, url) from
    * events, with the noise a real crawl sees. */
  private def d14SyntheticFetches(s: SparkSession, d: String): DataFrame = {
    val host = when(col("event_type") === "view", "WWW.Example.com")
      .when(col("event_type") === "click", "www.example.com")
      .when(col("event_type") === "purchase", "Shop.Example.com")
      .when(col("event_type") === "signup", "shop.example.com")
      .otherwise("cdn.example.com")
    val ref = concat(lit("ref=r"), (col("event_id") % 3).cast("string"))
    val utm1 = concat(lit("utm_source=u"), (col("event_id") % 5).cast("string"))
    val utm2 = concat(lit("utm_campaign=c"), (col("event_id") % 7).cast("string"))
    val fb = when(col("event_id") % 3 === 0,
      concat(lit("&fbclid=f"), col("event_id").cast("string"))).otherwise(lit(""))
    val qs = when(col("event_id") % 2 === 0,
        concat(ref, lit("&"), utm1, lit("&"), utm2))
      .otherwise(concat(utm1, lit("&"), ref, lit("&"), utm2))
    val slash = when(col("event_id") % 11 === 0, lit("/")).otherwise(lit(""))
    val frag = when(col("event_id") % 5 === 0,
      concat(lit("#sec"), (col("event_id") % 4).cast("string"))).otherwise(lit(""))
    val url = concat(lit("https://"), host, lit("/p/"),
      (col("user_id") % 200).cast("string"), slash, lit("?"), qs, fb, frag)
    Tables.events(s, d)
      .select(col("event_id").as("page_id"), col("ts"), url.as("url"))
  }

  val d14UrlDedup: Q = (s, d) =>
    // first_ts crosses the oracle gate as a formatted string (the st6
    // convention: the fixture's physical ns/us encodings must not leak
    // into the compared schema)
    Curation.urlDedup(d14SyntheticFetches(s, d))
      .withColumn("first_ts", date_format(col("first_ts"), "yyyy-MM-dd HH:mm:ss"))

  /** ST19 — the streaming crawl frontier
    * ([[graft.streaming.FrontierStream]]): d14's canonical-URL dedup
    * folded per micro-batch into standing frontier state over a
    * page_id-ordered 3-batch replay. The per-canonical output is an
    * aggregate lattice (sum/min/distinct-union), so the converged
    * frontier must equal the batch form EXACTLY — it shares d14's
    * oracle verbatim (the dc2→dc1 pattern: the scale path gated as
    * hard as the batch one). */
  val st19StreamFrontier: Q = (s, d) =>
    graft.streaming.FrontierStream
      .runFrontierOverFixture(s, d14SyntheticFetches(s, d))
      .withColumn("first_ts", date_format(col("first_ts"), "yyyy-MM-dd HH:mm:ss"))

  val d14UrlDedupSql: String =
    """WITH raw AS (SELECT event_id AS page_id, ts,
      |    'https://' ||
      |    CASE event_type WHEN 'view' THEN 'WWW.Example.com'
      |                    WHEN 'click' THEN 'www.example.com'
      |                    WHEN 'purchase' THEN 'Shop.Example.com'
      |                    WHEN 'signup' THEN 'shop.example.com'
      |                    ELSE 'cdn.example.com' END ||
      |    '/p/' || CAST(user_id % 200 AS VARCHAR) ||
      |    CASE WHEN event_id % 11 = 0 THEN '/' ELSE '' END || '?' ||
      |    CASE WHEN event_id % 2 = 0
      |         THEN 'ref=r' || CAST(event_id % 3 AS VARCHAR) || '&utm_source=u' || CAST(event_id % 5 AS VARCHAR) || '&utm_campaign=c' || CAST(event_id % 7 AS VARCHAR)
      |         ELSE 'utm_source=u' || CAST(event_id % 5 AS VARCHAR) || '&ref=r' || CAST(event_id % 3 AS VARCHAR) || '&utm_campaign=c' || CAST(event_id % 7 AS VARCHAR) END ||
      |    CASE WHEN event_id % 3 = 0 THEN '&fbclid=f' || CAST(event_id AS VARCHAR) ELSE '' END ||
      |    CASE WHEN event_id % 5 = 0 THEN '#sec' || CAST(event_id % 4 AS VARCHAR) ELSE '' END
      |    AS url
      |  FROM events),
      |parts AS (SELECT page_id, ts, url,
      |    string_split(url, '#')[1] AS nofrag
      |  FROM raw),
      |split2 AS (SELECT page_id, ts, url,
      |    string_split(nofrag, '?')[1] AS hostpath,
      |    CASE WHEN strpos(nofrag, '?') > 0 THEN string_split(nofrag, '?')[2] ELSE '' END AS query
      |  FROM parts),
      |canon AS (SELECT page_id, ts, url,
      |    lower(regexp_extract(hostpath, '^(https?://[^/]+)', 1)) ||
      |    regexp_replace(substr(hostpath, len(regexp_extract(hostpath, '^(https?://[^/]+)', 1)) + 1), '/$', '') ||
      |    CASE WHEN len(list_filter(string_split(query, '&'),
      |                   x -> NOT (starts_with(x, 'utm_') OR starts_with(x, 'fbclid=') OR x = ''))) > 0
      |         THEN '?' || array_to_string(list_sort(list_filter(string_split(query, '&'),
      |                   x -> NOT (starts_with(x, 'utm_') OR starts_with(x, 'fbclid=') OR x = ''))), '&')
      |         ELSE '' END AS canonical_url
      |  FROM split2)
      |SELECT canonical_url, count(*) AS n_fetches,
      |       CAST(count(DISTINCT url) AS BIGINT) AS n_raw_forms,
      |       CAST(min(page_id) AS BIGINT) AS kept_page_id,
      |       strftime(CAST(min(ts) AS TIMESTAMP), '%Y-%m-%d %H:%M:%S') AS first_ts
      |FROM canon GROUP BY canonical_url""".stripMargin

  /** PREP2 — the Lee-et-al-shaped corpus-shrink pipeline composed end to
    * end: quality gate (t10's reason = ok) → repeated-span removal (d12)
    * → exact dedup ON THE CLEANED TEXT (the cut creates new exact
    * duplicates — removing shared boilerplate collapses near-identical
    * pages, which is the point) → one-row corpus accounting. prep1's
    * composition discipline applied to span surgery. */
  val prep2SpanClean: Q = (s, d) => {
    val kept = Tables.documents(s, d)
      .filter(corpusReasonExpr === "ok")
      .select(col("doc_id"), col("text"))
    val cleaned = Dedup.removeDupSpans(kept, k = 8, minDocs = 3)
      .select(col("doc_id"), col("cleaned_text"),
        (col("n_tokens") - col("n_removed")).as("n_kept_tokens"),
        col("n_removed"), col("chars_removed"))
    Dedup.exactByDigest(cleaned, col("cleaned_text"),
        carry = Seq("n_kept_tokens", "n_removed", "chars_removed"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_kept_tokens")).as("sum_kept_tokens"),
        sum(col("n_removed")).as("sum_removed_tokens"),
        sum(col("chars_removed")).as("sum_chars_removed"))
  }

  // lazy: corpusSignalsCteSql/corpusReasonSql initialize later in the
  // file — an eager val here would interpolate them as "null"
  lazy val prep2SpanCleanSql: String =
    s"""$corpusSignalsCteSql,
       |src AS (SELECT doc_id, text FROM b WHERE $corpusReasonSql = 'ok'),
       |${spanRemovalCtes("src")},
       |ded AS (SELECT min(doc_id) AS doc_id,
       |               arg_min(len(kept), doc_id) AS n_kept_tokens,
       |               arg_min(len(tk) - len(kept), doc_id) AS n_removed,
       |               arg_min(length(array_to_string(tk, ' '))
       |                       - length(clean), doc_id) AS chars_removed
       |        FROM cl12 GROUP BY md5(clean))
       |SELECT CAST(count(*) AS BIGINT) AS n_docs,
       |       CAST(sum(n_kept_tokens) AS BIGINT) AS sum_kept_tokens,
       |       CAST(sum(n_removed) AS BIGINT) AS sum_removed_tokens,
       |       CAST(sum(chars_removed) AS BIGINT) AS sum_chars_removed
       |FROM ded""".stripMargin

  /** RELEASE1 — the WHOLE training-data release as one oracle-checked
    * plan, the artifact a 100 TB pipeline actually ships: curation
    * (prep3's full line: quality gate → exact dedup → near-dup CC
    * keep-best → keep-first span surgery) → temperature mixing over the
    * curated sources (mix3, τ=0.5 — no source dropped) → GROUP-leakage-
    * safe split on source (smp5: a source's near-duplicates can never
    * straddle the eval boundary) → epoch-salted sequence packing of the
    * train stream (pack1: concat-and-cut at 512, 8 shards) → the
    * per-split dataset card. Every stage is an operator the suite
    * verifies (and mostly benches) individually; this entry pins their
    * COMPOSITION against one DuckDB re-derivation of the whole line.
    *
    * Output: one row per split — docs, cleaned-token mass, distinct
    * sources, exact-decimal mean quality, and for the train split the
    * packed-sequence count (Σ_shards ⌈shard tokens / 512⌉) and the
    * straddling-doc count a loader needs for attention masking.
    *
    * Scale shape: adds NO exchange the stages don't have — the curation
    * exchanges are prep3's verbatim ([[curationStages]], stage
    * boundaries materialized); mix thresholds derive from a
    * vocabulary-sized source rollup broadcast back; the split is a pure
    * projection; packing is pack1's one shard exchange + per-shard
    * window restricted to train; the card is one grouped aggregate.
    * ShipLineBillSpec pins the measured bill (curation + 9) and asserts
    * the final plan never re-touches the raw corpus. Verify-tier by the
    * BASELINE.md wall rule (every stage already has its own bench row). */
  val release1TrainingRelease: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    // stage 1 — curation (prep3's shared line, source carried for the
    // mix), every stage boundary materialized — see [[curationStages]]
    val (_, _, surv) = curationStages(docs, Seq("source"))
    val curated = Dedup.removeDupSpans(
        surv.select(col("doc_id"), col("text")), k = 8, minDocs = 2,
        keepFirst = true)
      .select(col("doc_id"),
        (col("n_tokens") - col("n_removed")).as("n_tok"))
      .join(surv.select(col("doc_id"), col("source"), col("quality")),
        Seq("doc_id"))
      .localCheckpoint() // temperatureMix reads it twice (rollup + stream)
    // stage 2 — temperature mix (τ=0.5) over the CURATED source counts
    val mixed = graft.operators.Sampling.temperatureMix(curated,
      col("source"), col("doc_id"), tau = 0.5)
    // stage 3 — group-leakage-safe split keyed on source; materialized:
    // both the pack arm and the card read it
    val split = graft.operators.Sampling.datasetSplit(mixed, col("source"),
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      .localCheckpoint()
    // stage 4 — pack the train stream (epoch-salted order, concat-and-cut)
    val packed = graft.operators.Sampling.packSequences(
      split.filter(col("split") === "train"), col("doc_id"), col("n_tok"),
      capacity = 512, shards = 8)
    val perShard = packed.groupBy(col("shard"))
      .agg(sum(col("n_tok")).as("t"),
        sum(col("straddles").cast("long")).as("st"))
    // ⌈t/512⌉ via subtract-mod (exact in long space; ANSI-safe)
    val ceilSeqs = (col("t") + lit(511L) - pmod(col("t") + lit(511L),
      lit(512L))) / 512L
    val pk = perShard.agg(
      coalesce(sum(ceilSeqs.cast("long")), lit(0L)).as("n_train_seqs"),
      coalesce(sum(col("st")), lit(0L)).as("n_train_straddling"))
    // stage 5 — the dataset card, one row per split
    split.groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("sum_tokens"),
        count_distinct(col("source")).as("n_sources"),
        portableRound(
          sum(col("quality").cast("decimal(18,4)")).cast("double")
            / count(lit(1)), 4).as("mean_quality"))
      .crossJoin(broadcast(pk))
      .select(col("split"), col("n_docs"), col("sum_tokens"),
        col("n_sources"), col("mean_quality"),
        when(col("split") === "train", col("n_train_seqs"))
          .otherwise(lit(0L)).as("n_seqs"),
        when(col("split") === "train", col("n_train_straddling"))
          .otherwise(lit(0L)).as("n_straddling"))
      .orderBy(col("split"))
  }

  // lazy: interpolates corpusSignalsCteSql/corpusReasonSql (defined later
  // in the file — the prep2 val-order trap)
  lazy val release1TrainingReleaseSql: String = {
    val shardE = md5BucketSql("'pack0-sh:' || CAST(doc_id AS VARCHAR)", 8)
    val ordE = md5BucketSql("'pack0-ord:' || CAST(doc_id AS VARCHAR)", 100000000)
    val splitE = md5BucketSql("CAST(source AS VARCHAR)")
    val mixE = md5BucketSql("CAST(c.doc_id AS VARCHAR)")
    val curation = s"""kept AS (SELECT b.doc_id, b.text, b.quality, dd.source
       |        FROM b JOIN documents dd USING (doc_id)
       |        WHERE $corpusReasonSql = 'ok'),
       |ded AS MATERIALIZED (SELECT min(doc_id) AS doc_id, min(text) AS text,
       |               arg_min(quality, doc_id) AS quality,
       |               arg_min(source, doc_id) AS source
       |        FROM kept GROUP BY md5(text)),
       |tkr AS (SELECT doc_id, string_split(text, ' ') AS t FROM ded),
       |shr AS (SELECT doc_id,
       |          list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
       |                         FOR i IN RANGE(1, len(t) - 1)]) AS s
       |        FROM tkr WHERE len(t) >= 3),
       |szr AS (SELECT doc_id, len(s) AS n_sh FROM shr),
       |exr AS (SELECT doc_id, unnest(s) AS sg FROM shr),
       |prr AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS inter
       |        FROM exr a JOIN exr b ON a.sg = b.sg AND a.doc_id < b.doc_id
       |        GROUP BY 1, 2),
       |jr AS (SELECT a_id, b_id,
       |          floor((CAST(inter AS DOUBLE) / (na.n_sh + nb.n_sh - inter)) * 10000 + 0.5) / 10000 AS jac
       |       FROM prr
       |       JOIN szr na ON na.doc_id = a_id
       |       JOIN szr nb ON nb.doc_id = b_id),
       |egr AS (SELECT a_id AS s, b_id AS d FROM jr WHERE jac > 0.6
       |        UNION ALL
       |        SELECT b_id AS s, a_id AS d FROM jr WHERE jac > 0.6),
       |ndr AS (SELECT DISTINCT s AS node FROM egr),
       |reachr(node, lab) AS (
       |  SELECT node, node FROM ndr
       |  UNION
       |  SELECT e.d, r.lab FROM reachr r JOIN egr e ON e.s = r.node),
       |labr AS (SELECT node AS doc_id, CAST(min(lab) AS BIGINT) AS cluster_rep
       |         FROM reachr GROUP BY node),
       |losr AS (SELECT doc_id FROM (
       |           SELECT l.doc_id,
       |                  row_number() OVER (PARTITION BY l.cluster_rep
       |                    ORDER BY d.quality DESC, l.doc_id) AS rn
       |           FROM labr l JOIN ded d USING (doc_id)) WHERE rn > 1),
       |src AS (SELECT doc_id, text FROM ded
       |        WHERE doc_id NOT IN (SELECT doc_id FROM losr))""".stripMargin
    corpusSignalsCteSql.replaceFirst("^WITH ", "WITH RECURSIVE ") + ",\n" +
      curation + ",\n" +
      spanRemovalCtes("src", minDocs = 2, keepFirst = true) +
      s""",
       |curated AS (SELECT c.doc_id, CAST(len(c.kept) AS BIGINT) AS n_tok,
       |                   d2.source, d2.quality
       |            FROM cl12 c JOIN ded d2 USING (doc_id)),
       |cnt AS (SELECT source AS msrc, CAST(count(*) AS DOUBLE) AS n
       |        FROM curated GROUP BY 1),
       |wts AS (SELECT msrc, n, sqrt(n) AS w FROM cnt),
       |mcap AS (SELECT min(n / w) AS cp FROM wts),
       |mr AS (SELECT msrc, CAST(floor(cp * w / n * 10000 + 0.5) AS BIGINT) AS thresh
       |       FROM wts CROSS JOIN mcap),
       |mixed AS (SELECT c.* FROM curated c JOIN mr ON c.source = mr.msrc
       |          WHERE $mixE < mr.thresh),
       |sp AS (SELECT *, CASE WHEN $splitE < 8000 THEN 'train'
       |                      WHEN $splitE < 9000 THEN 'val'
       |                      ELSE 'test' END AS split
       |       FROM mixed),
       |pt AS (SELECT doc_id, n_tok,
       |         CAST($shardE AS BIGINT) AS shard,
       |         CAST($ordE AS BIGINT) AS ord
       |       FROM sp WHERE split = 'train'),
       |pw AS (SELECT shard, n_tok,
       |         CAST(COALESCE(sum(n_tok) OVER (sh ROWS BETWEEN UNBOUNDED PRECEDING
       |                                        AND 1 PRECEDING), 0) AS BIGINT) AS start_tok
       |       FROM pt WINDOW sh AS (PARTITION BY shard ORDER BY ord, doc_id)),
       |ps AS (SELECT shard, CAST(sum(n_tok) AS BIGINT) AS t,
       |         CAST(sum(CASE WHEN (start_tok + n_tok - 1) // 512 > start_tok // 512
       |                       THEN 1 ELSE 0 END) AS BIGINT) AS st
       |       FROM pw GROUP BY 1),
       |pk AS (SELECT COALESCE(CAST(sum((t + 511) // 512) AS BIGINT), 0) AS n_train_seqs,
       |              COALESCE(CAST(sum(st) AS BIGINT), 0) AS n_train_straddling
       |       FROM ps),
       |card AS (SELECT split, CAST(count(*) AS BIGINT) AS n_docs,
       |           CAST(sum(n_tok) AS BIGINT) AS sum_tokens,
       |           CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
       |           floor((CAST(sum(CAST(quality AS DECIMAL(18,4))) AS DOUBLE) / count(*)) * 10000 + 0.5) / 10000 AS mean_quality
       |         FROM sp GROUP BY 1)
       |SELECT card.split, n_docs, sum_tokens, n_sources, mean_quality,
       |       CASE WHEN card.split = 'train' THEN n_train_seqs ELSE 0 END AS n_seqs,
       |       CASE WHEN card.split = 'train' THEN n_train_straddling ELSE 0 END AS n_straddling
       |FROM card CROSS JOIN pk
       |ORDER BY card.split""".stripMargin
  }

  /** RELEASE2 — the NIGHTLY incremental release (release1's operational
    * sibling, the ivm1/ivf1 "delta ≡ admission" discipline at release
    * level): the standing release is the curated base corpus
    * (doc_id % 10 ≠ 7: quality gate → exact dedup); tonight's batch
    * (doc_id % 10 = 7, inc1/inc2's split) is ADMITTED through the
    * waterfall a production ingest runs — gate → exact-digest admission
    * vs the standing release (plus first-in-batch) → near-dup admission
    * (inc2's 5-gram J ≥ 0.5 vs the release AND earlier batch rows) —
    * and the release card UPDATES per split by pure ADDITION, because
    * split membership (smp5's group-safe source hash) is a pure
    * function of the row: admission is append-only, nothing already
    * released ever reshuffles. Output: one row per split with the base
    * count, the admitted-delta count, the updated totals, and the
    * batch's admission waterfall (constant across rows: batch size →
    * gate survivors → digest-new → admitted).
    *
    * Scale shape: the base bills prep1's stages; admission bills
    * inc1's digest anti-join + inc2's shingle-index join (both keyed on
    * digests/shingle hashes, both delta-probe-sized on the candidate
    * side); the card update is one grouped aggregate per arm. Nothing
    * corpus-sized recomputes — THE point of the delta path.
    * Verify-tier (stages benched: prep1, inc1, inc2, smp5, card1). */
  /** Release quality gate + projection shared by release2 and st18. */
  private[graft] def releaseGateOk(df: DataFrame): DataFrame =
    df.filter(corpusReasonExpr === "ok")
      .select(col("doc_id"), col("text"), col("source"),
        TextAnalysis.nTokensExpr.cast("long").as("n_tok"))

  /** The standing release: the curated base corpus (gate → exact dedup),
    * MATERIALIZED — it feeds three consumers (digest anti-join, near-dup
    * corpus side, its own card). */
  private[graft] def standingRelease(docs: DataFrame): DataFrame =
    Dedup.exactByDigest(releaseGateOk(docs.filter(col("doc_id") % 10 =!= 7)),
        col("text"), carry = Seq("text", "source", "n_tok"))
      .select(col("doc_id"), col("text"), col("source"), col("n_tok"))
      .localCheckpoint()

  /** The per-split release card + admission waterfall shared by release2
    * and its streaming twin st18: one grouped aggregate per arm, the
    * 1-row waterfall broadcast onto every split row. */
  private[graft] def releaseCardOf(baseRel: DataFrame, dFinal: DataFrame,
                                   wf: DataFrame): DataFrame = {
    def card(df: DataFrame, nAs: String, tokAs: String) =
      graft.operators.Sampling.datasetSplit(df, col("source"),
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .groupBy(col("split"))
        .agg(count(lit(1)).as(nAs), sum(col("n_tok")).as(tokAs))
    card(baseRel, "n_base", "tok_base")
      .join(card(dFinal, "n_delta", "tok_delta"), Seq("split"), "full_outer")
      .crossJoin(broadcast(wf))
      .select(col("split"),
        coalesce(col("n_base"), lit(0L)).as("n_base"),
        coalesce(col("n_delta"), lit(0L)).as("n_delta"),
        (coalesce(col("n_base"), lit(0L))
          + coalesce(col("n_delta"), lit(0L))).as("n_total"),
        (coalesce(col("tok_base"), lit(0L))
          + coalesce(col("tok_delta"), lit(0L))).as("sum_tokens"),
        col("n_batch"), col("n_gate_ok"), col("n_digest_new"),
        col("n_admitted"))
      .orderBy(col("split"))
  }

  val release2DeltaRelease: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    // stage boundaries materialize (the curationStages discipline): the
    // standing release feeds three consumers (digest anti-join, near-dup
    // corpus side, its own card) and each delta stage feeds the next plus
    // the waterfall counts — without the cuts every branch re-ran the
    // gate+dedup line (r14 dump: 34 documents scans for this query)
    val baseRel = standingRelease(docs)
    val dGate = releaseGateOk(docs.filter(col("doc_id") % 10 === 7))
      .localCheckpoint()
    val dExact = Dedup.exactByDigest(dGate, col("text"),
        carry = Seq("text", "source", "n_tok"))
      .join(baseRel.select(md5(col("text")).as("digest")),
        Seq("digest"), "left_anti")
      .select(col("doc_id"), col("text"), col("source"), col("n_tok"))
      .localCheckpoint()
    val admitted = Dedup.nearDupAdmission(
        dExact.select(col("doc_id"), col("text")),
        baseRel.select(col("doc_id"), col("text")))
      .filter(col("admitted")).select(col("doc_id"))
    val dFinal = dExact.join(admitted, Seq("doc_id"), "left_semi")
      .localCheckpoint()
    val wf = docs.filter(col("doc_id") % 10 === 7)
      .agg(count(lit(1)).as("n_batch"))
      .crossJoin(dGate.agg(count(lit(1)).as("n_gate_ok")))
      .crossJoin(dExact.agg(count(lit(1)).as("n_digest_new")))
      .crossJoin(dFinal.agg(count(lit(1)).as("n_admitted")))
    releaseCardOf(baseRel, dFinal, wf)
  }

  // lazy: interpolates corpusSignalsCteSql/corpusReasonSql (defined later
  // in the file — the prep2 val-order trap)
  lazy val release2DeltaReleaseSql: String = {
    val splitE = md5BucketSql("CAST(source AS VARCHAR)")
    s"""$corpusSignalsCteSql,
       |g AS (SELECT b.doc_id, b.text, dd.source,
       |             CAST(b.n_tokens AS BIGINT) AS n_tok
       |      FROM b JOIN documents dd USING (doc_id)
       |      WHERE $corpusReasonSql = 'ok'),
       |br AS MATERIALIZED (SELECT min(doc_id) AS doc_id, min(text) AS text,
       |             arg_min(source, doc_id) AS source,
       |             arg_min(n_tok, doc_id) AS n_tok
       |      FROM g WHERE doc_id % 10 <> 7 GROUP BY md5(text)),
       |dgt AS (SELECT * FROM g WHERE doc_id % 10 = 7),
       |de AS (SELECT min(doc_id) AS doc_id, min(text) AS text,
       |              arg_min(source, doc_id) AS source,
       |              arg_min(n_tok, doc_id) AS n_tok
       |       FROM dgt GROUP BY md5(text)),
       |dx AS MATERIALIZED (SELECT * FROM de
       |      WHERE md5(text) NOT IN (SELECT md5(text) FROM br)),
       |tk5 AS (SELECT doc_id, string_split(text, ' ') AS t FROM
       |          (SELECT doc_id, text FROM br
       |           UNION ALL SELECT doc_id, text FROM dx)),
       |sh5 AS (SELECT doc_id,
       |          list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' ' || t[i+4]
       |                         FOR i IN RANGE(1, len(t) - 3)]) AS s
       |        FROM tk5 WHERE len(t) >= 5),
       |sz5 AS (SELECT doc_id, len(s) AS n_sh FROM sh5),
       |ex5 AS (SELECT doc_id, unnest(s) AS sg FROM sh5),
       |cand5 AS (SELECT i.doc_id, o.doc_id AS blocker_id, count(*) AS inter
       |          FROM ex5 i JOIN ex5 o ON o.sg = i.sg
       |          WHERE i.doc_id % 10 = 7
       |            AND ((o.doc_id % 10 <> 7) OR (o.doc_id < i.doc_id))
       |          GROUP BY 1, 2),
       |rej AS (SELECT DISTINCT c.doc_id FROM cand5 c
       |        JOIN sz5 na ON na.doc_id = c.doc_id
       |        JOIN sz5 nb ON nb.doc_id = c.blocker_id
       |        WHERE floor(CAST(inter AS DOUBLE) / (na.n_sh + nb.n_sh - inter) * 10000 + 0.5) / 10000 >= 0.5),
       |df AS (SELECT * FROM dx WHERE doc_id NOT IN (SELECT doc_id FROM rej)),
       |bc AS (SELECT CASE WHEN $splitE < 8000 THEN 'train'
       |                   WHEN $splitE < 9000 THEN 'val' ELSE 'test' END AS split,
       |              CAST(count(*) AS BIGINT) AS n_base,
       |              CAST(sum(n_tok) AS BIGINT) AS tok_base
       |       FROM br GROUP BY 1),
       |dc AS (SELECT CASE WHEN $splitE < 8000 THEN 'train'
       |                   WHEN $splitE < 9000 THEN 'val' ELSE 'test' END AS split,
       |              CAST(count(*) AS BIGINT) AS n_delta,
       |              CAST(sum(n_tok) AS BIGINT) AS tok_delta
       |       FROM df GROUP BY 1),
       |wf AS (SELECT
       |         (SELECT CAST(count(*) AS BIGINT) FROM documents WHERE doc_id % 10 = 7) AS n_batch,
       |         (SELECT CAST(count(*) AS BIGINT) FROM dgt) AS n_gate_ok,
       |         (SELECT CAST(count(*) AS BIGINT) FROM dx) AS n_digest_new,
       |         (SELECT CAST(count(*) AS BIGINT) FROM df) AS n_admitted)
       |SELECT COALESCE(bc.split, dc.split) AS split,
       |       COALESCE(n_base, 0) AS n_base,
       |       COALESCE(n_delta, 0) AS n_delta,
       |       COALESCE(n_base, 0) + COALESCE(n_delta, 0) AS n_total,
       |       COALESCE(tok_base, 0) + COALESCE(tok_delta, 0) AS sum_tokens,
       |       wf.n_batch, wf.n_gate_ok, wf.n_digest_new, wf.n_admitted
       |FROM bc FULL OUTER JOIN dc ON dc.split = bc.split
       |CROSS JOIN wf
       |ORDER BY split""".stripMargin
  }

  /** ST18 — the STREAMING delta release: release2's nightly admission as
    * a foreachBatch streaming job — the delta replays as three
    * doc_id-range micro-batches, each running gate → digest-check →
    * near-dup admission against the standing release plus everything
    * already seen, and the card updates by per-split addition. Exact
    * batch parity with release2 (same oracle — the st6/st14 discipline
    * applied to the ship line); the parity argument lives on
    * [[graft.streaming.ReleaseStream]]. */
  val st18StreamRelease: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val baseRel = standingRelease(docs)
    val delta = docs.filter(col("doc_id") % 10 === 7).localCheckpoint()
    val (seen, admitted, nGateOk) =
      graft.streaming.ReleaseStream.runDeltaAdmissionOverFixture(
        s, delta, baseRel, releaseGateOk)
    val wf = delta.agg(count(lit(1)).as("n_batch"))
      .withColumn("n_gate_ok", lit(nGateOk))
      .crossJoin(seen.agg(count(lit(1)).as("n_digest_new")))
      .crossJoin(admitted.agg(count(lit(1)).as("n_admitted")))
    releaseCardOf(baseRel, admitted, wf)
  }

  /** EMB4 — matryoshka truncation recall: how much of the exact 64-dim
    * cosine top-5 survives when the index stores only the first 16 dims —
    * the storage/recall trade every truncated-embedding deployment
    * measures before shipping. Both arms are the sim1 brute ranking
    * (rounded-cosine total order); the oracle replays both and the
    * overlap. */
  val emb4MatryoshkaRecall: Q = (s, d) => {
    val e = Tables.embeddings(s, d)
    val q = e.filter(col("vec_id") < 10)
    def trunc(df: DataFrame) = df.select(col("vec_id"),
      slice(col("embedding"), 1, 16).as("embedding"))
    val full = Similarity.bruteForceTopK(e, q, 5).select(col("q_id"), col("n_id"))
    val tr = Similarity.bruteForceTopK(trunc(e), trunc(q), 5)
      .select(col("q_id"), col("n_id"), lit(1L).as("_hit"))
    full.join(tr, Seq("q_id", "n_id"), "left")
      .groupBy(col("q_id"))
      .agg(sum(coalesce(col("_hit"), lit(0L))).as("n_overlap"))
      .select(col("q_id"), col("n_overlap"),
        graft.functions.portableRound(col("n_overlap").cast("double") / 5.0, 4)
          .as("recall"))
  }

  val emb4MatryoshkaRecallSql: String = {
    def arm(name: String, vec: String => String) =
      s"""$name AS (SELECT q_id, n_id FROM (
         |  SELECT q.vec_id AS q_id, b.vec_id AS n_id,
         |         row_number() OVER (PARTITION BY q.vec_id
         |           ORDER BY floor(list_cosine_similarity(${vec("q.embedding")}, ${vec("b.embedding")}) * 10000 + 0.5) / 10000 DESC, b.vec_id) AS rnk
         |  FROM (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 10) q
         |  JOIN embeddings b ON b.vec_id <> q.vec_id) WHERE rnk <= 5)""".stripMargin
    s"""WITH ${arm("fl", e => s"CAST($e AS DOUBLE[])")},
       |${arm("tr", e => s"list_slice(CAST($e AS DOUBLE[]), 1, 16)")}
       |SELECT fl.q_id, CAST(count(tr.n_id) AS BIGINT) AS n_overlap,
       |       ${portableRoundSql("CAST(count(tr.n_id) AS DOUBLE) / 5.0", 4)} AS recall
       |FROM fl LEFT JOIN tr ON tr.q_id = fl.q_id AND tr.n_id = fl.n_id
       |GROUP BY fl.q_id""".stripMargin
  }

  /** ML4 — 3-fold cross-validation of the ml1 trainer: per fold, the full
    * GD trajectory runs on the other two md5-bucket folds and is scored
    * on the held-out one (log-loss + accuracy, micro-unit exact). The
    * oracle replays each fold's training AND evaluation digit-exact.
    * See [[graft.operators.Analytics.crossValLogreg]]. */
  val ml4Cv: Q = (s, d) =>
    graft.operators.Analytics.crossValLogreg(Tables.orders(s, d),
      folds = 3, iters = 3, lr = 0.5)

  val ml4CvSql: String = (0 until 3).map { f =>
    val chain = logregCtesSql(3, s"WHERE fold <> $f")
    s"""SELECT * FROM (
       |$chain,
       |ev AS (SELECT CAST(count(*) AS BIGINT) AS n_val,
       |         CAST(sum(CAST(floor(-(y * ln(least(greatest(sg, 1e-9), 1.0 - 1e-9)) + (1.0 - y) * ln(1.0 - least(greatest(sg, 1e-9), 1.0 - 1e-9))) * 1000000 + 0.5) AS BIGINT)) AS BIGINT) AS ll,
       |         CAST(sum(CASE WHEN (floor(sg * 1000000 + 0.5) / 1000000 >= 0.5) = (y = 1.0) THEN 1 ELSE 0 END) AS BIGINT) AS ok
       |       FROM (SELECT y, 1.0 / (1.0 + exp(-(c0 * x0 + c1 * x1 + c2 * x2))) AS sg
       |             FROM d CROSS JOIN b3 WHERE fold = $f))
       |SELECT CAST($f AS BIGINT) AS fold, n_val,
       |       floor(CAST(ll AS DOUBLE) / 1000000 / CAST(n_val AS DOUBLE) * 1000000 + 0.5) / 1000000 AS val_logloss,
       |       floor(CAST(ok AS DOUBLE) / CAST(n_val AS DOUBLE) * 1000000 + 0.5) / 1000000 AS val_acc
       |FROM ev)""".stripMargin
  }.mkString("\nUNION ALL\n")

  /** FD1 — functional-dependency verification over orders: a key FD that
    * holds (orderkey → custkey), two that don't, and their g3 errors —
    * the schema-inference profiling pass. Each candidate is two compact
    * hash aggregations. See [[graft.operators.Analytics.functionalDeps]]. */
  val fd1FunctionalDeps: Q = (s, d) =>
    graft.operators.Analytics.functionalDeps(Tables.orders(s, d), Seq(
      ("o_orderkey", "o_custkey"),
      ("o_custkey", "o_orderpriority"),
      ("o_orderpriority", "o_orderstatus")))

  val fd1FunctionalDepsSql: String = {
    Seq(("o_orderkey", "o_custkey"),
      ("o_custkey", "o_orderpriority"),
      ("o_orderpriority", "o_orderstatus")).map { case (det, dep) =>
      s"""SELECT '$det' AS det, '$dep' AS dep,
         |       CAST(count(*) AS BIGINT) AS n_groups,
         |       CAST(sum(ndep - 1) AS BIGINT) AS violations,
         |       ${portableRoundSql("CAST(sum(n) - sum(maxf) AS DOUBLE) / CAST(sum(n) AS DOUBLE)", 6)} AS g3_error,
         |       CAST(sum(ndep - 1) AS BIGINT) = 0 AS holds
         |FROM (SELECT _det, sum(c) AS n, count(*) AS ndep, max(c) AS maxf
         |      FROM (SELECT $det AS _det, $dep AS _dep, count(*) AS c
         |            FROM orders GROUP BY 1, 2)
         |      GROUP BY _det)""".stripMargin
    }.mkString("\nUNION ALL\n")
  }

  /** Shared DuckDB fragment for the aug1/aug2 per-position hash verdict:
    * md5 bucket of 'salt:doc_id:pos' under `thresh` (1-based positions,
    * matching the Spark lambda's i+1). */
  private def augHitSql(salt: String, thresh: Long): String =
    s"${md5BucketSql(s"'$salt:' || CAST(doc_id AS VARCHAR) || ':' || CAST(i AS VARCHAR)")} < $thresh"

  /** AUG1 — deterministic word-dropout augmentation (10%): per-position
    * salted-hash verdicts, zero exchanges.
    * See [[graft.operators.TextAnalysis.tokenPerturb]]. */
  val aug1TokenDropout: Q = (s, d) =>
    TextAnalysis.tokenPerturb(Tables.documents(s, d), "dropout", 0.1)

  val aug1TokenDropoutSql: String =
    s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents)
       |SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_tokens,
       |       CAST(len([i FOR i IN RANGE(1, len(tk) + 1)
       |                 IF ${augHitSql("aug1", 1000)}]) AS BIGINT) AS n_affected,
       |       array_to_string([tk[i] FOR i IN RANGE(1, len(tk) + 1)
       |                        IF NOT (${augHitSql("aug1", 1000)})], ' ') AS new_text
       |FROM t""".stripMargin

  /** AUG2 — deterministic [MASK] corruption (15%): the masked-LM input
    * prep. Same machinery, replacement instead of removal. */
  val aug2TokenMask: Q = (s, d) =>
    TextAnalysis.tokenPerturb(Tables.documents(s, d), "mask", 0.15, salt = "aug2")

  val aug2TokenMaskSql: String =
    s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents)
       |SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_tokens,
       |       CAST(len([i FOR i IN RANGE(1, len(tk) + 1)
       |                 IF ${augHitSql("aug2", 1500)}]) AS BIGINT) AS n_affected,
       |       array_to_string([CASE WHEN ${augHitSql("aug2", 1500)}
       |                             THEN '[MASK]' ELSE tk[i] END
       |                        FOR i IN RANGE(1, len(tk) + 1)], ' ') AS new_text
       |FROM t""".stripMargin

  /** BLEU1 — corpus BLEU (clipped n-gram precision n=1..4 + brevity
    * penalty) of deterministic dropout twins against the originals: the
    * text-generation leg of the model-eval family. Clipped counts fold as
    * exact BIGINTs through the compiled
    * [[graft.functions.NgramClippedOverlap]] kernel; p_n and BP snap to
    * the 1e-6 grid before the log/exp combination, so the oracle replays
    * the whole readout. See [[graft.operators.TextAnalysis.corpusBleu]]. */
  val bleu1Eval: Q = (s, d) =>
    TextAnalysis.corpusBleu(scanParallel(Tables.documents(s, d)))

  val bleu1EvalSql: String = {
    val maxN = 4
    val hit = md5BucketSql(
      "'bleu:' || CAST(doc_id AS VARCHAR) || ':' || CAST(i AS VARCHAR)")
    val perN = (1 to maxN).map { n =>
      val m = n - 1
      s"""gc$n AS (SELECT doc_id, unnest([array_to_string(cl[i:i+$m], chr(1))
         |                               FOR i IN RANGE(1, len(cl) - $m + 1)]) AS g FROM c),
         |gr$n AS (SELECT doc_id, unnest([array_to_string(rl[i:i+$m], chr(1))
         |                               FOR i IN RANGE(1, len(rl) - $m + 1)]) AS g FROM c),
         |nc$n AS (SELECT doc_id, g, count(*) AS k FROM gc$n GROUP BY 1, 2),
         |nr$n AS (SELECT doc_id, g, count(*) AS k FROM gr$n GROUP BY 1, 2),
         |ov$n AS (SELECT COALESCE(CAST(sum(least(nc$n.k, nr$n.k)) AS BIGINT), 0) AS clipped_$n
         |         FROM nc$n JOIN nr$n USING (doc_id, g)),
         |tot$n AS (SELECT CAST(sum(greatest(len(cl) - $m, 0)) AS BIGINT) AS total_$n FROM c)""".stripMargin
    }.mkString(",\n")
    val pCols = (1 to maxN).map { n =>
      s"""clipped_$n, total_$n,
         |       CASE WHEN total_$n > 0
         |            THEN floor(CAST(clipped_$n AS DOUBLE) / CAST(total_$n AS DOUBLE) * 1000000 + 0.5) / 1000000
         |            ELSE 0.0 END AS p_$n""".stripMargin
    }.mkString(",\n       ")
    val joins = (1 to maxN).map(n => s"CROSS JOIN ov$n CROSS JOIN tot$n").mkString(" ")
    val lnSum = (1 to maxN).map(n => s"ln(greatest(p_$n, 1e-9))").mkString(" + ")
    s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS rl FROM documents),
       |c AS (SELECT doc_id, rl,
       |        [rl[i] FOR i IN RANGE(1, len(rl) + 1) IF NOT ($hit < 1000)] AS cl
       |      FROM t),
       |$perN,
       |base AS (SELECT CAST(sum(len(cl)) AS BIGINT) AS cand_tokens,
       |                CAST(sum(len(rl)) AS BIGINT) AS ref_tokens FROM c),
       |f AS (SELECT cand_tokens, ref_tokens,
       |       $pCols,
       |       CASE WHEN cand_tokens >= ref_tokens THEN 1.0
       |            WHEN cand_tokens > 0
       |            THEN floor(exp(1.0 - CAST(ref_tokens AS DOUBLE) / CAST(cand_tokens AS DOUBLE)) * 1000000 + 0.5) / 1000000
       |            ELSE 0.0 END AS bp
       |      FROM base $joins)
       |SELECT *, floor(bp * exp(($lnSum) * (1.0 / $maxN)) * 1000000 + 0.5) / 1000000 AS bleu
       |FROM f""".stripMargin
  }

  /** CHRF1 — corpus chrF (character n-gram F-β, β=2, n=1..6) of the SAME
    * deterministic dropout candidates bleu1/rouge1 score: the MT-eval
    * family's tokenization-robust leg. Char-gram clipped counts fold as
    * exact BIGINTs through the compiled kernel; every ratio snaps to the
    * 1e-6 grid before the fixed averaging/F-β formula.
    * See [[graft.operators.TextAnalysis.corpusChrF]]. */
  val chrf1Eval: Q = (s, d) =>
    TextAnalysis.corpusChrF(scanParallel(Tables.documents(s, d)))

  val chrf1EvalSql: String = {
    val maxN = 6
    val hit = md5BucketSql(
      "'bleu:' || CAST(doc_id AS VARCHAR) || ':' || CAST(i AS VARCHAR)")
    val perN = (1 to maxN).map { n =>
      val m = n - 1
      s"""gc$n AS (SELECT doc_id, unnest([substr(cs, i, $n)
         |                               FOR i IN RANGE(1, len(cs) - $m + 1)]) AS g FROM s),
         |gr$n AS (SELECT doc_id, unnest([substr(rs, i, $n)
         |                               FOR i IN RANGE(1, len(rs) - $m + 1)]) AS g FROM s),
         |nc$n AS (SELECT doc_id, g, count(*) AS k FROM gc$n GROUP BY 1, 2),
         |nr$n AS (SELECT doc_id, g, count(*) AS k FROM gr$n GROUP BY 1, 2),
         |ov$n AS (SELECT COALESCE(CAST(sum(least(nc$n.k, nr$n.k)) AS BIGINT), 0) AS clipped_$n
         |         FROM nc$n JOIN nr$n USING (doc_id, g)),
         |tot$n AS (SELECT CAST(sum(greatest(len(cs) - $m, 0)) AS BIGINT) AS cand_total_$n,
         |                 CAST(sum(greatest(len(rs) - $m, 0)) AS BIGINT) AS ref_total_$n FROM s)""".stripMargin
    }.mkString(",\n")
    val prCols = (1 to maxN).map { n =>
      s"""clipped_$n, cand_total_$n, ref_total_$n,
         |       CASE WHEN cand_total_$n > 0
         |            THEN floor(CAST(clipped_$n AS DOUBLE) / CAST(cand_total_$n AS DOUBLE) * 1000000 + 0.5) / 1000000
         |            ELSE 0.0 END AS p_$n,
         |       CASE WHEN ref_total_$n > 0
         |            THEN floor(CAST(clipped_$n AS DOUBLE) / CAST(ref_total_$n AS DOUBLE) * 1000000 + 0.5) / 1000000
         |            ELSE 0.0 END AS r_$n""".stripMargin
    }.mkString(",\n       ")
    val joins = (1 to maxN).map(n => s"CROSS JOIN ov$n CROSS JOIN tot$n").mkString(" ")
    val pSum = (1 to maxN).map(n => s"p_$n").mkString(" + ")
    val rSum = (1 to maxN).map(n => s"r_$n").mkString(" + ")
    s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS rl FROM documents),
       |c AS (SELECT doc_id, rl,
       |        [rl[i] FOR i IN RANGE(1, len(rl) + 1) IF NOT ($hit < 1000)] AS cl
       |      FROM t),
       |s AS (SELECT doc_id, array_to_string(rl, '') AS rs,
       |             array_to_string(cl, '') AS cs FROM c),
       |$perN,
       |f AS (SELECT $prCols FROM (SELECT 1) $joins),
       |g AS (SELECT *,
       |        floor(($pSum) / ${maxN.toDouble} * 1000000 + 0.5) / 1000000 AS chr_p,
       |        floor(($rSum) / ${maxN.toDouble} * 1000000 + 0.5) / 1000000 AS chr_r
       |      FROM f)
       |SELECT *,
       |       CASE WHEN 4.0 * chr_p + chr_r > 0
       |            THEN floor(5.0 * chr_p * chr_r / (4.0 * chr_p + chr_r) * 1000000 + 0.5) / 1000000
       |            ELSE 0.0 END AS chrf
       |FROM g""".stripMargin
  }

  /** WER1 — corpus word error rate of a deterministically corrupted
    * candidate set (5% delete + 10% substitute on the per-position hash):
    * token-level Levenshtein summed over the corpus / reference token
    * mass, the alignment-cost leg bleu1/rouge1/chrf1 lack. Both engines
    * run their built-in levenshtein over per-doc single-ASCII-char token
    * encodings (edit distance is invariant under injective relabeling).
    * See [[graft.operators.TextAnalysis.corpusWer]]. */
  val wer1Eval: Q = (s, d) =>
    TextAnalysis.corpusWer(scanParallel(Tables.documents(s, d)))

  val wer1EvalSql: String = {
    val hit = md5BucketSql(
      "'wer:' || CAST(doc_id AS VARCHAR) || ':' || CAST(i AS VARCHAR)")
    s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS rl FROM documents),
       |c AS (SELECT doc_id, rl,
       |        [CASE WHEN ($hit) < 1500 THEN chr(1) ELSE rl[i] END
       |         FOR i IN RANGE(1, len(rl) + 1) IF NOT (($hit) < 500)] AS cl
       |      FROM t),
       |v AS (SELECT doc_id, rl, cl,
       |        list_distinct(list_append(rl, chr(1))) AS vc FROM c),
       |e AS (SELECT len(rl) AS nr, len(cl) AS nc,
       |        levenshtein(
       |          array_to_string([chr(32 + list_position(vc, x)) FOR x IN cl], ''),
       |          array_to_string([chr(32 + list_position(vc, x)) FOR x IN rl], '')) AS dist
       |      FROM v),
       |a AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
       |        CAST(sum(nr) AS BIGINT) AS ref_tokens,
       |        CAST(sum(nc) AS BIGINT) AS cand_tokens,
       |        CAST(sum(dist) AS BIGINT) AS edits FROM e)
       |SELECT *, CASE WHEN ref_tokens > 0
       |  THEN floor(CAST(edits AS DOUBLE) / CAST(ref_tokens AS DOUBLE) * 1000000 + 0.5) / 1000000
       |  ELSE 0.0 END AS wer
       |FROM a""".stripMargin
  }

  /** TR1 — TextRank keywords: PageRank (5 fixed decimal-grid rounds)
    * over the top-100-token co-occurrence graph — the graph family
    * applied to the text family; a word ranks high when its NEIGHBORS
    * rank high, not merely when it repeats (that's t7's tf-idf).
    * See [[graft.operators.TextAnalysis.textRank]]. */
  val tr1Textrank: Q = (s, d) => TextAnalysis.textRank(Tables.documents(s, d))

  val tr1TextrankSql: String =
    """WITH RECURSIVE
      |tk AS (SELECT doc_id, string_split(text, ' ') AS tl FROM documents),
      |vv AS (SELECT t AS word, count(*) AS c
      |       FROM (SELECT unnest(tl) AS t FROM tk) GROUP BY 1
      |       ORDER BY c DESC, word ASC LIMIT 100),
      |bg AS (SELECT q.p.a AS a, q.p.b AS b FROM (
      |         SELECT unnest([{'a': tl[i], 'b': tl[i+1]}
      |                        FOR i IN RANGE(1, len(tl))]) AS p
      |         FROM tk) q
      |       WHERE q.p.a <> q.p.b),
      |pv AS (SELECT DISTINCT a, b FROM bg
      |       JOIN vv wa ON wa.word = bg.a
      |       JOIN vv wb ON wb.word = bg.b),
      |edges AS (SELECT DISTINCT src, dst FROM (
      |            SELECT a AS src, b AS dst FROM pv
      |            UNION ALL SELECT b, a FROM pv)),
      |outdeg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
      |contribs AS (
      |  SELECT e.src, e.dst,
      |         floor((0.85 / od.deg) * 1000000000000 + 0.5) / 1000000000000 AS w
      |  FROM edges e JOIN outdeg od ON e.src = od.src
      |  UNION ALL
      |  SELECT word, word, 0.0 FROM vv),
      |nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM vv),
      |pr AS (
      |  SELECT 0 AS iter, word AS node, 1.0 / (SELECT n FROM nn) AS r FROM vv
      |  UNION ALL
      |  SELECT p.iter + 1, c.dst,
      |         floor((0.15 / (SELECT n FROM nn) +
      |                CAST(sum(CAST(floor(p.r * c.w * 1000000000000 + 0.5) / 1000000000000 AS DECIMAL(28,12))) AS DOUBLE))
      |               * 10000000000 + 0.5) / 10000000000
      |  FROM pr p JOIN contribs c ON p.node = c.src
      |  WHERE p.iter < 5
      |  GROUP BY p.iter + 1, c.dst)
      |SELECT node AS word, r AS rank FROM pr WHERE iter = 5
      |ORDER BY rank DESC, word ASC""".stripMargin

  /** ZIPF1 — Zipf-law fit over the top-500 token frequencies: OLS of
    * ln(count) on ln(rank) with exact-integer moment folds.
    * See [[graft.operators.TextAnalysis.zipfFit]]. */
  val zipf1TokenZipf: Q = (s, d) =>
    TextAnalysis.zipfFit(Tables.documents(s, d), topK = 500)

  val zipf1TokenZipfSql: String =
    """WITH tok AS (SELECT unnest(string_split(text, ' ')) AS t FROM documents),
      |c AS (SELECT t, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY t),
      |r AS (SELECT c, row_number() OVER (ORDER BY c DESC, t) AS rank
      |      FROM c ORDER BY c DESC, t LIMIT 500),
      |m AS (SELECT CAST(floor(ln(CAST(rank AS DOUBLE)) * 1000000 + 0.5) AS BIGINT) AS x,
      |             CAST(floor(ln(CAST(c AS DOUBLE)) * 1000000 + 0.5) AS BIGINT) AS y
      |      FROM r),
      |s AS (SELECT CAST(count(*) AS BIGINT) AS n_terms,
      |             CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
      |             CAST(sum(x * y) AS BIGINT) AS sxy, CAST(sum(x * x) AS BIGINT) AS sxx
      |      FROM m)
      |SELECT n_terms,
      |       CASE WHEN n_terms > 1 THEN floor(((CAST(n_terms AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
      |                                          / (CAST(n_terms AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))) * 10000 + 0.5) / 10000
      |            ELSE 0.0 END AS slope,
      |       CASE WHEN n_terms > 1 THEN floor(((CAST(sy AS DOUBLE) / 1000000 - ((CAST(n_terms AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
      |                                                                           / (CAST(n_terms AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))) * (CAST(sx AS DOUBLE) / 1000000)) / CAST(n_terms AS DOUBLE)) * 10000 + 0.5) / 10000
      |            ELSE 0.0 END AS intercept_ln
      |FROM s""".stripMargin

  /** DP2 — ε-DP median of order totals via the exponential mechanism
    * (Gumbel-max over a 101-cell grid, keyed-PRF noise): the second
    * textbook DP release next to dp1's Laplace counts. The grid spans the
    * PUBLIC domain bound [$0, $600,000] (TPC-H's published o_totalprice
    * range is ~[857, 555,285] at any SF — the bound is schema knowledge,
    * not data), so the candidate set is data-independent as the
    * mechanism's ε-DP proof requires; the exact n never leaves the
    * utility computation. See [[graft.operators.Privacy.privateMedian]]. */
  val dp2PrivateMedian: Q = (s, d) =>
    graft.operators.Privacy.privateMedian(Tables.orders(s, d),
      (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long"),
      loCents = 0L, hiCents = 60000000L,
      eps = 1.0, gridSize = 101, seed = "dp2-release-0")

  val dp2PrivateMedianSql: String = {
    val uExpr = s"(CAST(${md5BucketSql("'dp2-release-0:' || CAST(g.k AS VARCHAR)", 1000000)} AS DOUBLE) + 0.5) / 1000000.0"
    s"""WITH v AS (SELECT greatest(least(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT), 60000000), 0) AS v FROM orders),
       |h AS (SELECT least(CAST(floor(CAST(v - 0 AS DOUBLE) * 101 / 60000001.0) AS BIGINT), 100) AS k,
       |             CAST(count(*) AS BIGINT) AS c
       |      FROM v GROUP BY 1),
       |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM orders),
       |g AS (SELECT n, unnest(range(0, 101)) AS k FROM nn),
       |s AS (SELECT g.k, g.n,
       |             CAST(sum(COALESCE(h.c, 0)) OVER (ORDER BY g.k ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
       |             floor(-ln(-ln($uExpr)) * 1000000 + 0.5) / 1000000 AS gum
       |      FROM g LEFT JOIN h ON h.k = g.k),
       |sc AS (SELECT k,
       |              0.5 * (-abs(CAST(cum AS DOUBLE) - CAST(n AS DOUBLE) / 2.0)) + gum AS score
       |       FROM s)
       |SELECT CAST(1.0 AS DOUBLE) AS epsilon, k AS grid_cell,
       |       CAST(0 + CAST(floor(CAST(k + 1 AS DOUBLE) * 60000001.0 / 101) AS BIGINT) - 1 AS DOUBLE) / 100.0 AS private_median
       |FROM sc ORDER BY score DESC, k LIMIT 1""".stripMargin
  }

  /** KA1 — k-anonymity / l-diversity release audit
    * ([[graft.operators.Privacy.kAnonymityAudit]]): customers grouped by
    * the (nation, market-segment) quasi-identifier, account-balance
    * thousand-bucket as the sensitive attribute; per group the size
    * (k = 5) and distinct-sensitive count (l = 3) with the
    * suppress-or-generalize flags. */
  val ka1KAnonymity: Q = (s, d) =>
    graft.operators.Privacy.kAnonymityAudit(
      Tables.customer(s, d)
        .withColumn("bal_bucket", floor(col("c_acctbal") / 1000.0).cast("long")),
      Seq("c_nationkey", "c_mktsegment"), col("bal_bucket"))

  val ka1KAnonymitySql: String =
    """SELECT c_nationkey, c_mktsegment,
      |       count(*) AS group_size,
      |       CAST(count(DISTINCT CAST(floor(c_acctbal / 1000.0) AS BIGINT)) AS BIGINT) AS l_diversity,
      |       count(*) < 5 AS below_k,
      |       count(DISTINCT CAST(floor(c_acctbal / 1000.0) AS BIGINT)) < 3 AS below_l
      |FROM customer GROUP BY 1, 2""".stripMargin

  /** The corpus keep/drop verdict, from TextAnalysis's shared scoring
    * expressions — the same definitions t1/t2/t9 run, so the composite
    * can never drift from the individual signals. Shared by t10 (which
    * reports it) and prep1 (which filters on it). */
  private def corpusReasonExpr: org.apache.spark.sql.Column = {
    val nTok = TextAnalysis.nTokensExpr
    val quality = TextAnalysis.qualityExpr
    val predLang = TextAnalysis.predLangExpr()
    val dupRatio = TextAnalysis.dupRatioExpr
    when(nTok < 10, "too_short")
      .when(predLang === "und", "lang_und")
      .when(dupRatio > 0.2, "repetitive")
      .when(quality < 0.25, "low_quality")
      .otherwise("ok")
  }

  /** T10: the composite corpus filter — the keep/drop decision a
    * pre-training pipeline actually runs, combining the t1 language
    * heuristic, the t2 quality score and the t9 repetition signal into an
    * ordered rule chain with an auditable reason per document. One
    * projection, no shuffle; every signal and the verdict are
    * oracle-checked. */
  val t10CorpusFilter: Q = (s, d) => {
    val nTok = TextAnalysis.nTokensExpr
    val quality = TextAnalysis.qualityExpr
    val predLang = TextAnalysis.predLangExpr()
    val dupRatio = TextAnalysis.dupRatioExpr
    val reason = corpusReasonExpr
    Tables.documents(s, d).select(col("doc_id"), nTok.cast("long").as("n_tokens"),
      predLang.as("pred_lang"), quality.as("quality"), dupRatio.as("dup_ratio"),
      reason.as("reason"), (reason === "ok").as("keep"))
  }

  /** DuckDB CTE computing the per-document corpus signals (t10's `b`
    * table, plus raw `text` for content-dedup consumers) — shared between
    * t10's report and prep1's pipeline so the SQL twins can't diverge. */
  private def corpusSignalsCteSql: String = {
    val nTok = "len(string_split(text, ' '))"
    val stopHits = s"len(list_filter(string_split(text, ' '), x -> list_contains($stopList, x)))"
    val stopRatio = s"(CAST($stopHits AS DOUBLE) / $nTok)"
    val avgTokLen = s"(CAST(n_chars - $nTok + 1 AS DOUBLE) / $nTok)"
    val quality = s"floor((least($nTok / 100.0, 1.0) * 0.5 + $stopRatio * 0.3 + " +
      s"least($avgTokLen / 10.0, 1.0) * 0.2) * 10000 + 0.5) / 10000"
    val predLang = "CASE WHEN regexp_matches(text, '[\\x{4e00}-\\x{9fff}]') THEN 'zh' " +
      s"WHEN $stopRatio >= 0.08 THEN 'en' ELSE 'und' END"
    val shingles = "[t.tk[i] || ' ' || t.tk[i+1] || ' ' || t.tk[i+2] FOR i IN RANGE(1, len(t.tk) - 1)]"
    s"""WITH t AS (SELECT *, string_split(text, ' ') AS tk FROM documents),
       |b AS (SELECT doc_id, text, CAST($nTok AS BIGINT) AS n_tokens,
       |        $predLang AS pred_lang,
       |        $quality AS quality,
       |        CASE WHEN len(t.tk) >= 3 THEN
       |          floor((1.0 - CAST(len(list_distinct($shingles)) AS DOUBLE)
       |                 / len($shingles)) * 10000 + 0.5) / 10000
       |        END AS dup_ratio
       |      FROM t)""".stripMargin
  }

  private val corpusReasonSql: String =
    """CASE WHEN n_tokens < 10 THEN 'too_short'
      |     WHEN pred_lang = 'und' THEN 'lang_und'
      |     WHEN dup_ratio > 0.2 THEN 'repetitive'
      |     WHEN quality < 0.25 THEN 'low_quality'
      |     ELSE 'ok' END""".stripMargin

  val t10CorpusFilterSql: String =
    s"""$corpusSignalsCteSql
       |SELECT doc_id, n_tokens, pred_lang, quality, dup_ratio,
       |       $corpusReasonSql AS reason,
       |       ($corpusReasonSql = 'ok') AS keep
       |FROM b""".stripMargin

  /** PREP1 — the training-data prep pipeline end to end, as ONE
    * oracle-checked plan: quality/language filter (t10's shared verdict)
    * → exact content dedup (min doc_id per md5 digest — the shuffle key
    * is the 32-char digest, never the document text; at 100 TB that is
    * the difference between shuffling content and shuffling fingerprints)
    * → deterministic train/val/test split (md5-bucket of the surviving
    * doc_id — layout- and growth-stable, smp2's operator) → per-split
    * audit (docs, tokens, exact-decimal quality mass). Every stage is an
    * operator the suite verifies individually; this entry pins their
    * COMPOSITION against a DuckDB re-derivation of the whole pipeline. */
  val prep1CorpusPrep: Q = (s, d) => {
    val kept = Tables.documents(s, d)
      .filter(corpusReasonExpr === "ok")
      .select(col("doc_id"), col("text"),
        TextAnalysis.nTokensExpr.cast("long").as("n_tokens"),
        TextAnalysis.qualityExpr.as("quality"))
    val deduped = graft.operators.Dedup.exactByDigest(kept, col("text"),
      carry = Seq("n_tokens", "quality"))
    graft.operators.Sampling.datasetSplit(deduped, col("doc_id"),
        Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05))
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("sum_tokens"),
        sum(col("quality").cast("decimal(18,4)")).cast("double")
          .as("sum_quality"))
      .orderBy(col("split"))
  }

  val prep1CorpusPrepSql: String =
    s"""$corpusSignalsCteSql,
       |kept AS (SELECT doc_id, text, n_tokens, quality FROM b
       |         WHERE $corpusReasonSql = 'ok'),
       |deduped AS (SELECT min(doc_id) AS doc_id, min(n_tokens) AS n_tokens,
       |                   min(quality) AS quality
       |            FROM kept GROUP BY md5(text))
       |SELECT CASE WHEN ${md5BucketSql("CAST(doc_id AS VARCHAR)")} < 9000 THEN 'train'
       |            WHEN ${md5BucketSql("CAST(doc_id AS VARCHAR)")} < 9500 THEN 'val'
       |            ELSE 'test' END AS split,
       |       count(*) AS n_docs,
       |       CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
       |       CAST(sum(CAST(quality AS DECIMAL(18,4))) AS DOUBLE) AS sum_quality
       |FROM deduped
       |GROUP BY 1 ORDER BY 1""".stripMargin

  /** D7: near-dup clusters — connected components over the exact 3-shingle
    * Jaccard pair graph (j > 0.6), each doc labeled with its component's
    * minimum doc id (the canonical representative a dedup pipeline keeps).
    * Spark side: Pregel-shaped min-label propagation to fixpoint; oracle:
    * DuckDB recursive CTE reachability — two entirely different component
    * algorithms that must agree row-for-row. */
  val d7DupClusters: Q = (s, d) =>
    Dedup.duplicateClusters(
      Dedup.ngramJaccardPairsMapCount(Tables.documents(s, d), 3, 0.6))

  val d7DupClustersSql: String =
    """WITH RECURSIVE
      |toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |sh AS (SELECT doc_id,
      |         list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
      |                        FOR i IN RANGE(1, len(t) - 1)]) AS s
      |       FROM toks WHERE len(t) >= 3),
      |sz AS (SELECT doc_id, len(s) AS n_sh FROM sh),
      |ex AS (SELECT doc_id, unnest(s) AS sg FROM sh),
      |pairs AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS inter
      |          FROM ex a JOIN ex b ON a.sg = b.sg AND a.doc_id < b.doc_id
      |          GROUP BY 1, 2),
      |j AS (SELECT a_id, b_id,
      |             floor((CAST(inter AS DOUBLE) / (na.n_sh + nb.n_sh - inter)) * 10000 + 0.5) / 10000 AS jac
      |      FROM pairs
      |      JOIN sz na ON na.doc_id = a_id
      |      JOIN sz nb ON nb.doc_id = b_id),
      |edges AS (SELECT a_id AS s, b_id AS d FROM j WHERE jac > 0.6
      |          UNION ALL
      |          SELECT b_id AS s, a_id AS d FROM j WHERE jac > 0.6),
      |nodes AS (SELECT DISTINCT s AS node FROM edges),
      |reach(node, lab) AS (
      |  SELECT node, node FROM nodes
      |  UNION
      |  SELECT e.d, r.lab FROM reach r JOIN edges e ON e.s = r.node)
      |SELECT node AS doc_id, CAST(min(lab) AS BIGINT) AS cluster_rep
      |FROM reach GROUP BY node""".stripMargin

  /** CLQ1 — near-dup cluster purity audit
    * ([[graft.operators.Dedup.clusterPurity]]): edge density, weakest
    * edge and minimum member-pair jaccard of every d7 connected
    * component — the chain-merge (transitive over-merge) check that
    * says whether CC-based dedup glued genuinely-dissimilar docs
    * through a chain. Replays d7's recursive-CTE components plus the
    * accounting in DuckDB; `n_scored < n_possible` proves a
    * zero-jaccard member pair without materializing cluster² pairs. */
  val clq1ClusterPurity: Q = (s, d) =>
    Dedup.clusterPurity(Tables.documents(s, d))

  val clq1ClusterPuritySql: String =
    """WITH RECURSIVE
      |toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |sh AS (SELECT doc_id,
      |         list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
      |                        FOR i IN RANGE(1, len(t) - 1)]) AS s
      |       FROM toks WHERE len(t) >= 3),
      |sz AS (SELECT doc_id, len(s) AS n_sh FROM sh),
      |ex AS (SELECT doc_id, unnest(s) AS sg FROM sh),
      |pairs AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS inter
      |          FROM ex a JOIN ex b ON a.sg = b.sg AND a.doc_id < b.doc_id
      |          GROUP BY 1, 2),
      |j AS (SELECT a_id, b_id,
      |             floor((CAST(inter AS DOUBLE) / (na.n_sh + nb.n_sh - inter)) * 10000 + 0.5) / 10000 AS jac
      |      FROM pairs
      |      JOIN sz na ON na.doc_id = a_id
      |      JOIN sz nb ON nb.doc_id = b_id),
      |edges AS (SELECT a_id AS s, b_id AS d FROM j WHERE jac > 0.6
      |          UNION ALL
      |          SELECT b_id AS s, a_id AS d FROM j WHERE jac > 0.6),
      |nodes AS (SELECT DISTINCT s AS node FROM edges),
      |reach(node, lab) AS (
      |  SELECT node, node FROM nodes
      |  UNION
      |  SELECT e.d, r.lab FROM reach r JOIN edges e ON e.s = r.node),
      |lab AS (SELECT node AS doc_id, CAST(min(lab) AS BIGINT) AS rep
      |        FROM reach GROUP BY node),
      |sizes AS (SELECT rep, CAST(count(*) AS BIGINT) AS n_docs
      |          FROM lab GROUP BY rep),
      |wp AS (SELECT la.rep AS crep, j.jac
      |       FROM j JOIN lab la ON la.doc_id = j.a_id
      |              JOIN lab lb ON lb.doc_id = j.b_id
      |       WHERE la.rep = lb.rep),
      |ag AS (SELECT crep,
      |         CAST(count(*) AS BIGINT) AS n_scored,
      |         CAST(sum(CASE WHEN jac > 0.6 THEN 1 ELSE 0 END) AS BIGINT) AS n_edges,
      |         min(jac) AS min_scored,
      |         min(CASE WHEN jac > 0.6 THEN jac END) AS min_edge_jac,
      |         sum(CASE WHEN jac > 0.6 THEN CAST(floor(jac * 10000 + 0.5) AS BIGINT) ELSE 0 END) AS me
      |       FROM wp GROUP BY crep)
      |SELECT s.rep AS cluster_rep, s.n_docs,
      |       CAST((s.n_docs * (s.n_docs - 1)) / 2 AS BIGINT) AS n_possible,
      |       a.n_scored, a.n_edges,
      |       floor(CAST(a.n_edges AS DOUBLE) / ((s.n_docs * (s.n_docs - 1)) / 2) * 10000 + 0.5) / 10000 AS edge_density,
      |       CASE WHEN a.n_scored < (s.n_docs * (s.n_docs - 1)) / 2
      |            THEN 0.0 ELSE a.min_scored END AS min_pair_jac,
      |       a.min_edge_jac,
      |       floor(CAST(a.me AS DOUBLE) / 10000 / a.n_edges * 10000 + 0.5) / 10000 AS mean_edge_jac,
      |       a.n_edges < (s.n_docs * (s.n_docs - 1)) / 2 AS chained
      |FROM sizes s JOIN ag a ON a.crep = s.rep""".stripMargin

  // ─────────────────────────── corpus curation ───────────────────────────

  /** DC1 — benchmark decontamination: corpus docs sharing any 5-gram with
    * the benchmark slice (doc_id % 7 == 0 plays the eval set), with hit
    * shingle/doc counts and contaminated fraction. Real pipelines run
    * 8–13-grams; 5 matches the fixture's d4 shingling so the oracle
    * replays the identical shingle stream. */
  val dc1Decontaminate: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    Curation.decontaminate(
      docs.filter(col("doc_id") % 7 =!= 0),
      docs.filter(col("doc_id") % 7 === 0), n = 5)
  }

  val dc1DecontaminateSql: String =
    """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |sh AS (SELECT doc_id,
      |         list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' ' || t[i+4]
      |                        FOR i IN RANGE(1, len(t) - 3)]) AS s
      |       FROM toks WHERE len(t) >= 5),
      |ex AS (SELECT doc_id, unnest(s) AS sg FROM sh),
      |corp AS (SELECT doc_id, sg FROM ex WHERE doc_id % 7 <> 0),
      |bench AS (SELECT doc_id AS bench_id, sg FROM ex WHERE doc_id % 7 = 0),
      |hits AS (SELECT c.doc_id,
      |                CAST(count(DISTINCT c.sg) AS BIGINT) AS n_hit_shingles,
      |                CAST(count(DISTINCT b.bench_id) AS BIGINT) AS n_bench_docs
      |         FROM corp c JOIN bench b ON c.sg = b.sg GROUP BY 1),
      |sz AS (SELECT doc_id, CAST(len(s) AS BIGINT) AS n_sh FROM sh)
      |SELECT h.doc_id, n_hit_shingles, n_bench_docs,
      |       floor((CAST(n_hit_shingles AS DOUBLE) / n_sh) * 10000 + 0.5) / 10000 AS hit_ratio
      |FROM hits h JOIN sz ON sz.doc_id = h.doc_id""".stripMargin

  /** DC2 — dc1 with a Bloom-filter pre-pass
    * ([[graft.operators.Curation.decontaminateBloom]]): the eval set's
    * shingle membership travels as ONE fixed-size filter blob instead of an
    * exact broadcast, and only the ~hit-rate fraction of corpus shingles
    * reaches the confirm join. No false negatives + exact confirm ⇒
    * bit-identical to dc1, so it shares dc1's FULL oracle — the scale path
    * is gated as hard as the exact one. */
  val dc2DecontaminateBloom: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    graft.operators.Curation.decontaminateBloom(
      docs.filter(col("doc_id") % 7 =!= 0),
      docs.filter(col("doc_id") % 7 === 0), n = 5)
  }

  /** EST1 — the dedup-rate planning estimator
    * ([[graft.operators.Curation.dedupRateEstimate]]): ten disjoint
    * digest-hash replicates estimate the exact-dedup shrink rate (the
    * digest-keyed design keeps duplicate groups intact under sampling);
    * replicate 0 is the estimate a planning pass would run, the
    * replicate spread is the error audit, and the exact corpus rate
    * (affordable at fixture scale) validates both. */
  val est1DedupEstimate: Q = (s, d) =>
    Curation.dedupRateEstimate(Tables.documents(s, d))

  lazy val est1DedupEstimateSql: String = {
    val foldE = md5BucketSql("'est1:' || md5(text)", 10)
    s"""WITH b AS (SELECT md5(text) AS dg, $foldE AS f FROM documents),
       |pf AS (SELECT f, count(*) AS n, count(DISTINCT dg) AS d FROM b GROUP BY f),
       |pr AS (SELECT f, n, floor((1.0 - CAST(d AS DOUBLE) / n) * 1000000 + 0.5) AS rm FROM pf),
       |st AS (SELECT CAST(sum(n) AS BIGINT) AS n_rows,
       |              CAST(max(CASE WHEN f = 0 THEN n END) AS BIGINT) AS n_sampled,
       |              max(CASE WHEN f = 0 THEN rm END) AS est_m,
       |              sum(rm) AS s, sum(rm * rm) AS sq FROM pr),
       |ex AS (SELECT count(*) AS n_all, count(DISTINCT md5(text)) AS d_all FROM documents)
       |SELECT n_rows, n_sampled,
       |       floor((1.0 - CAST(d_all AS DOUBLE) / n_all) * 1000000 + 0.5) / 1000000 AS exact_rate,
       |       est_m / 1000000 AS est_rate,
       |       floor(s / 10.0 + 0.5) / 1000000 AS rep_mean,
       |       sqrt((sq - s * s / 10.0) / 9.0) / 1000000 AS rep_sd,
       |       abs(floor((1.0 - CAST(d_all AS DOUBLE) / n_all) * 1000000 + 0.5) - floor(s / 10.0 + 0.5))
       |         <= 2.0 * sqrt((sq - s * s / 10.0) / 9.0) AS within_2sd
       |FROM st CROSS JOIN ex""".stripMargin
  }

  /** MEM1 — memorization / novelty audit
    * ([[graft.operators.Curation.ngramNovelty]]): treat an 80% hash fold
    * of documents as the TRAINING corpus and the rest as the
    * generated/held-out corpus, and measure what fraction of each
    * held-out doc's 3-gram windows already occur in training — per
    * source: window/copied counts, corpus novelty and the per-doc
    * novelty mean. The fixture's planted exact and near duplicates give
    * the copied mass; fresh docs read novelty ≈ 1. */
  val mem1NgramNovelty: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val fold = graft.operators.Sampling.hashBucket(
      concat(lit("mem-split:"), col("doc_id").cast("string")), 10)
    Curation.ngramNovelty(docs.filter(fold < 8), docs.filter(fold >= 8), n = 3)
  }

  lazy val mem1NgramNoveltySql: String = {
    val foldE = md5BucketSql("'mem-split:' || CAST(doc_id AS VARCHAR)", 10)
    """WITH f AS (SELECT doc_id, source, string_split(text, ' ') AS t,
      |                  FOLD_EXPR AS fold
      |           FROM documents),
      |tr AS (SELECT DISTINCT unnest([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
      |                               FOR i IN RANGE(1, len(t) - 1)]) AS sg
      |       FROM f WHERE fold < 8 AND len(t) >= 3),
      |ge AS (SELECT doc_id, source,
      |              unnest([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
      |                      FOR i IN RANGE(1, len(t) - 1)]) AS sg
      |       FROM f WHERE fold >= 8 AND len(t) >= 3),
      |pd AS (SELECT ge.doc_id, ge.source, count(*) AS n_win,
      |              sum(CASE WHEN tr.sg IS NOT NULL THEN 1 ELSE 0 END) AS n_copied
      |       FROM ge LEFT JOIN tr ON ge.sg = tr.sg
      |       GROUP BY 1, 2)
      |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
      |       CAST(sum(n_win) AS BIGINT) AS n_windows,
      |       CAST(sum(n_copied) AS BIGINT) AS n_copied,
      |       floor((1.0 - CAST(sum(n_copied) AS DOUBLE) / sum(n_win)) * 1000000 + 0.5) / 1000000 AS novelty,
      |       floor(CAST(sum(CAST(floor((1.0 - CAST(n_copied AS DOUBLE) / n_win) * 1000000 + 0.5) AS BIGINT)) AS DOUBLE)
      |             / count(*) + 0.5) / 1000000 AS mean_doc_novelty
      |FROM pd GROUP BY source""".stripMargin.replace("FOLD_EXPR", foldE)
  }

  /** INC1 — incremental (new-batch-vs-corpus) dedup: the nightly-ingest
    * admission list. Incoming = doc_id % 10 == 7; everything else is the
    * standing corpus. Admit digests unseen in the corpus, first-in-batch
    * per digest. */
  val inc1IncrementalDedup: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    Curation.dedupIncremental(
      docs.filter(col("doc_id") % 10 === 7),
      docs.filter(col("doc_id") % 10 =!= 7))
  }

  val inc1IncrementalDedupSql: String =
    """WITH inc AS (SELECT doc_id, md5(text) AS digest FROM documents WHERE doc_id % 10 = 7),
      |corp AS (SELECT DISTINCT md5(text) AS digest FROM documents WHERE doc_id % 10 <> 7)
      |SELECT CAST(min(doc_id) AS BIGINT) AS doc_id, i.digest
      |FROM inc i
      |WHERE NOT EXISTS (SELECT 1 FROM corp c WHERE c.digest = i.digest)
      |GROUP BY i.digest""".stripMargin

  /** INC2 — incremental NEAR-dup admission: inc1's nightly-ingest gate
    * upgraded to 5-gram Jaccard. Incoming = doc_id % 10 == 7 (inc1's
    * split); a doc is rejected iff some standing-corpus doc or
    * smaller-id batch doc reaches J ≥ 0.5 (blocker = highest rounded J,
    * ties to the smallest id). See
    * [[graft.operators.Dedup.nearDupAdmission]]. */
  val inc2NearDupAdmission: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    Dedup.nearDupAdmission(
      docs.filter(col("doc_id") % 10 === 7),
      docs.filter(col("doc_id") % 10 =!= 7))
  }

  val inc2NearDupAdmissionSql: String =
    """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |sh AS (SELECT doc_id,
      |         list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' ' || t[i+4]
      |                        FOR i IN RANGE(1, len(t) - 3)]) AS s
      |       FROM toks WHERE len(t) >= 5),
      |sz AS (SELECT doc_id, len(s) AS n_sh FROM sh),
      |ex AS (SELECT doc_id, unnest(s) AS sg FROM sh),
      |inc AS (SELECT * FROM ex WHERE doc_id % 10 = 7),
      |cand AS (SELECT i.doc_id, o.doc_id AS blocker_id, count(*) AS inter
      |         FROM inc i JOIN ex o ON o.sg = i.sg
      |         WHERE (o.doc_id % 10 <> 7) OR (o.doc_id < i.doc_id)
      |         GROUP BY 1, 2),
      |j AS (SELECT c.doc_id, c.blocker_id,
      |        floor(CAST(inter AS DOUBLE) / (na.n_sh + nb.n_sh - inter) * 10000 + 0.5) / 10000 AS jaccard
      |      FROM cand c JOIN sz na ON na.doc_id = c.doc_id
      |                  JOIN sz nb ON nb.doc_id = c.blocker_id),
      |best AS (SELECT doc_id, blocker_id, jaccard FROM (
      |    SELECT *, row_number() OVER (PARTITION BY doc_id
      |             ORDER BY jaccard DESC, blocker_id) AS rn
      |    FROM j WHERE jaccard >= 0.5) t WHERE rn = 1)
      |SELECT d.doc_id, best.blocker_id IS NULL AS admitted,
      |       best.blocker_id, best.jaccard
      |FROM (SELECT doc_id FROM documents WHERE doc_id % 10 = 7) d
      |LEFT JOIN best ON best.doc_id = d.doc_id
      |ORDER BY d.doc_id""".stripMargin

  /** HH1 — exact heavy hitters: top-20 corpus tokens by frequency.
    * Global top-k executes as TakeOrderedAndProject (each partition ships
    * only its own top 20), never a global sort. */
  val hh1HeavyHitters: Q = (s, d) =>
    Curation.heavyHittersExact(Tables.documents(s, d), 20)

  val hh1HeavyHittersSql: String =
    """SELECT token, CAST(count(*) AS BIGINT) AS cnt
      |FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
      |GROUP BY token ORDER BY cnt DESC, token LIMIT 20""".stripMargin

  /** HH2 — the Misra–Gries sketch at a budget ≥ the fixture vocabulary
    * (31 tokens): the summary provably never decrements, so its estimates
    * EQUAL the exact counts and the row is full-parity oracle-checked —
    * end-to-end proof of the mapPartitions summary + merge plumbing. The
    * lossy regime (budget < vocab: lower bounds, N/(budget+1) error cap,
    * heavy-token survival) is pinned by CurationSpec on crafted skew. */
  val hh2MgSketch: Q = (s, d) =>
    Curation.heavyHittersSketch(Tables.documents(s, d), 64)
      .select(col("token"), col("est").as("cnt"))

  val hh2MgSketchSql: String =
    """SELECT token, CAST(count(*) AS BIGINT) AS cnt
      |FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
      |GROUP BY token""".stripMargin

  /** EMB2 — per-group embedding mean-pool (the feature-store rollup:
    * centroid per shard/topic/source). Elements fixed-point-quantized
    * (1e7) BEFORE the sum, so the per-dimension accumulator is an exact
    * long — partition- and AQE-order invariant, and DuckDB agrees on
    * every bit without decimal-division semantics entering the picture.
    * The mean serializes 1e6-scaled, emb1-style (the harness can't
    * sort/hash bare array cells). */
  val emb2MeanPool: Q = (s, d) => {
    val quant = transform(col("embedding"),
      x => floor(x.cast("double") * 10000000d + lit(0.5)).cast("long"))
    Tables.embeddings(s, d)
      .select((col("vec_id") % 16).as("grp"),
        posexplode(quant).as(Seq("pos", "v")))
      .groupBy(col("grp"), col("pos"))
      .agg(sum(col("v")).as("s"), count(lit(1)).as("n"))
      .select(col("grp"), col("pos"),
        floor(col("s").cast("double") / (col("n") * 10d) + lit(0.5))
          .cast("long").as("m"))
      .groupBy(col("grp"))
      .agg(sort_array(collect_list(struct(col("pos"), col("m")))).as("pm"))
      .select(col("grp"), concat_ws(",", col("pm.m")).as("mean_vec_s"))
  }

  val emb2MeanPoolSql: String =
    """WITH e AS (SELECT vec_id % 16 AS grp, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
      |q AS (SELECT grp, i AS pos, CAST(floor(emb[i] * 10000000 + 0.5) AS BIGINT) AS v
      |      FROM e CROSS JOIN range(1, 65) t(i)),
      |m AS (SELECT grp, pos,
      |             CAST(floor(CAST(CAST(sum(v) AS BIGINT) AS DOUBLE) / (count(*) * 10) + 0.5) AS BIGINT) AS m
      |      FROM q GROUP BY grp, pos)
      |SELECT grp, array_to_string(list(m ORDER BY pos), ',') AS mean_vec_s
      |FROM m GROUP BY grp""".stripMargin

  /** SCD1 — slowly-changing-dimension (type 2) history: each user's
    * event_type regime changes as effective-dated rows. Consecutive
    * repeats collapse; `valid_to` is the next change's timestamp (open
    * interval sentinel for the current row). One window partitioned by
    * the dimension key — no global sort anywhere. */
  val scd1History: Q = (s, d) =>
    Curation.scd2(
      Tables.events(s, d).select(col("user_id"), col("ts"), col("event_id"), col("event_type")),
      key = col("user_id"), attr = col("event_type"),
      ts = col("ts"), tiebreak = col("event_id"))
      .select(col("key").as("user_id"), col("attr").as("event_type"),
        date_format(col("valid_from"), "yyyy-MM-dd HH:mm:ss").as("valid_from"),
        coalesce(date_format(col("valid_to"), "yyyy-MM-dd HH:mm:ss"),
          lit("9999-12-31 00:00:00")).as("valid_to"),
        col("is_current"))

  val scd1HistorySql: String =
    """WITH o AS (
      |  SELECT user_id, ts, event_id, event_type,
      |         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
      |  FROM events),
      |c AS (
      |  SELECT user_id, ts, event_id, event_type,
      |         lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_ts
      |  FROM o WHERE prev_type IS NULL OR prev_type <> event_type)
      |SELECT user_id, event_type,
      |       strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d %H:%M:%S') AS valid_from,
      |       coalesce(strftime(CAST(next_ts AS TIMESTAMP), '%Y-%m-%d %H:%M:%S'),
      |                '9999-12-31 00:00:00') AS valid_to,
      |       next_ts IS NULL AS is_current
      |FROM c""".stripMargin

  /** MIX1 — training-data source mixing: keep a per-source deterministic
    * fraction (here: keep all of src0, 80% of src1, half of src2, a
    * quarter of the rest). Same portable md5-bucket predicate as
    * smp1/smp2, thresholded per source — reproducible across engines,
    * runs, and corpus growth. */
  val mix1SourceMix: Q = (s, d) =>
    graft.operators.Sampling.mixSources(Tables.documents(s, d),
      col("source"), col("doc_id"),
      Map("src0" -> 1.0, "src1" -> 0.8, "src2" -> 0.5), defaultRate = 0.25)
      .select(col("doc_id"), col("source"))

  val mix1SourceMixSql: String =
    s"""SELECT doc_id, source FROM documents
       |WHERE ${md5BucketSql("CAST(doc_id AS VARCHAR)")} <
       |      CASE WHEN source = 'src0' THEN 10000
       |           WHEN source = 'src1' THEN 8000
       |           WHEN source = 'src2' THEN 5000
       |           ELSE 2500 END""".stripMargin

  /** PK1 — sequence packing: documents bin-packed into ~512-token
    * context windows per language, planned by the SAME running-sum
    * packer as z2 ([[graft.operators.Layout.compactionPlan]] — a file
    * and a document are both "bytes that must fill a target bin in
    * deterministic order"). Greedy in-order packing is the streaming-
    * friendly variant real pretraining pipelines use when doc order is
    * fixed by an upstream shuffle; per-language partitions keep contexts
    * monolingual. */
  val pk1SequencePack: Q = (s, d) =>
    graft.operators.Layout.compactionPlan(
      Tables.documents(s, d).select(col("lang").as("part"),
        col("doc_id").as("file_id"),
        size(split(col("text"), " ")).cast("long").as("bytes")),
      targetBytes = 512)
      .select(col("part").as("lang"), col("file_id").as("doc_id"),
        col("bytes").as("n_tokens"), col("bin"))

  val pk1SequencePackSql: String =
    """WITH m AS (SELECT lang, doc_id,
      |                  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      |           FROM documents),
      |c AS (SELECT lang, doc_id, n_tokens,
      |             CAST(sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id) - n_tokens AS BIGINT) AS cb
      |      FROM m)
      |SELECT lang, doc_id, n_tokens,
      |       CAST(floor(CAST(cb AS DOUBLE) / 512) AS BIGINT) AS bin
      |FROM c""".stripMargin

  /** D8 — canonical-document selection ("dedup keep-best"): the d7
    * cluster graph re-resolved to each cluster's HIGHEST-quality member
    * (t2's exact quality expression; ties doc_id-ascending) instead of
    * the minimum id — the policy a curation pipeline actually ships.
    * Election runs through the bounded-heap TopKPerKey operator: one
    * shuffle on the cluster label, no per-partition sort. Oracle: the
    * d7 recursive-CTE components + the t2 quality formula + a window
    * election — three independently-proven pieces recomposed. */
  val d8KeepBest: Q = (s, d) => {
    val docs = scanParallel(Tables.documents(s, d))
    graft.operators.Curation.keepBest(docs,
      Dedup.ngramJaccardPairsMapCount(docs, 3, 0.6))
  }

  val d8KeepBestSql: String =
    s"""WITH RECURSIVE
       |toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
       |sh AS (SELECT doc_id,
       |         list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
       |                        FOR i IN RANGE(1, len(t) - 1)]) AS s
       |       FROM toks WHERE len(t) >= 3),
       |sz AS (SELECT doc_id, len(s) AS n_sh FROM sh),
       |ex AS (SELECT doc_id, unnest(s) AS sg FROM sh),
       |pairs AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS inter
       |          FROM ex a JOIN ex b ON a.sg = b.sg AND a.doc_id < b.doc_id
       |          GROUP BY 1, 2),
       |j AS (SELECT a_id, b_id,
       |             floor((CAST(inter AS DOUBLE) / (na.n_sh + nb.n_sh - inter)) * 10000 + 0.5) / 10000 AS jac
       |      FROM pairs
       |      JOIN sz na ON na.doc_id = a_id
       |      JOIN sz nb ON nb.doc_id = b_id),
       |edges AS (SELECT a_id AS s, b_id AS d FROM j WHERE jac > 0.6
       |          UNION ALL
       |          SELECT b_id AS s, a_id AS d FROM j WHERE jac > 0.6),
       |nodes AS (SELECT DISTINCT s AS node FROM edges),
       |reach(node, lab) AS (
       |  SELECT node, node FROM nodes
       |  UNION
       |  SELECT e.d, r.lab FROM reach r JOIN edges e ON e.s = r.node),
       |lab AS (SELECT node AS doc_id, CAST(min(lab) AS BIGINT) AS cluster_rep
       |        FROM reach GROUP BY node),
       |q AS (SELECT doc_id,
       |  floor((least(len(string_split(text, ' ')) / 100.0, 1.0) * 0.5
       |        + (CAST(len(list_filter(string_split(text, ' '), x -> list_contains($stopList, x))) AS DOUBLE)
       |           / len(string_split(text, ' '))) * 0.3
       |        + least((CAST(n_chars - len(string_split(text, ' ')) + 1 AS DOUBLE)
       |                 / len(string_split(text, ' '))) / 10.0, 1.0) * 0.2) * 10000 + 0.5) / 10000 AS quality
       |  FROM documents),
       |m AS (SELECT l.cluster_rep, l.doc_id, q.quality
       |      FROM lab l JOIN q ON q.doc_id = l.doc_id),
       |r AS (SELECT cluster_rep, doc_id, quality,
       |             row_number() OVER (PARTITION BY cluster_rep
       |                                ORDER BY quality DESC, doc_id) AS rn,
       |             count(*) OVER (PARTITION BY cluster_rep) AS n_members
       |      FROM m)
       |SELECT cluster_rep, doc_id AS kept_id, quality AS kept_quality,
       |       CAST(n_members AS BIGINT) AS n_members
       |FROM r WHERE rn = 1""".stripMargin

  /** DIFF1 — corpus snapshot diff: previous generation (doc_id % 10 ≠ 7)
    * vs current (doc_id % 10 ≠ 3, with % 13 == 0 docs rewritten), every
    * doc classified added/removed/changed/unchanged by content digest.
    * The only exchange shuffles (doc_id, 16-byte digest) — payloads
    * never move, whatever the document size. */
  val diff1SnapshotDiff: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    graft.operators.Curation.snapshotDiff(
      docs.filter(col("doc_id") % 10 =!= 7),
      docs.filter(col("doc_id") % 10 =!= 3)
        .withColumn("text", when(col("doc_id") % 13 === 0,
          concat(col("text"), lit(" v2"))).otherwise(col("text"))))
  }

  val diff1SnapshotDiffSql: String =
    """WITH prev AS (SELECT doc_id, md5(text) AS dg FROM documents WHERE doc_id % 10 <> 7),
      |cur AS (SELECT doc_id,
      |               md5(CASE WHEN doc_id % 13 = 0 THEN text || ' v2' ELSE text END) AS dg
      |        FROM documents WHERE doc_id % 10 <> 3)
      |SELECT coalesce(p.doc_id, c.doc_id) AS doc_id,
      |       CASE WHEN p.doc_id IS NULL THEN 'added'
      |            WHEN c.doc_id IS NULL THEN 'removed'
      |            WHEN p.dg = c.dg THEN 'unchanged'
      |            ELSE 'changed' END AS status
      |FROM prev p FULL OUTER JOIN cur c ON p.doc_id = c.doc_id""".stripMargin

  /** T11 — robust length-outlier flagging (Tukey IQR fence on token
    * counts): exact interpolated quartiles in one aggregation, fences
    * broadcast back as a 1-row join (the t7 scalar pattern). The 100 TB
    * form swaps `percentile` for the `percentile_approx` sketch, as q7's
    * approx twin does. */
  val t11LengthOutliers: Q = (s, d) =>
    TextAnalysis.lengthOutliers(Tables.documents(s, d))

  val t11LengthOutliersSql: String =
    """WITH lens AS (SELECT doc_id,
      |                     CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      |              FROM documents),
      |f AS (SELECT quantile_cont(n_tokens, 0.25) AS q1,
      |             quantile_cont(n_tokens, 0.75) AS q3
      |      FROM lens),
      |fence AS (SELECT floor((q1 - (q3 - q1) * 1.5) * 10000 + 0.5) / 10000 AS lo,
      |                 floor((q3 + (q3 - q1) * 1.5) * 10000 + 0.5) / 10000 AS hi
      |          FROM f)
      |SELECT doc_id, n_tokens, lo, hi,
      |       (n_tokens < lo OR n_tokens > hi) AS is_outlier
      |FROM lens CROSS JOIN fence""".stripMargin

  /** HLL1 — mergeable distinct-count rollup: per-nation DataSketches HLL
    * sketches of ordering customers, UNIONED (sketch bytes, not data) to
    * region grain and compared against the exact region-level distinct.
    * Gate: every region estimate within 5% (HLL lgK=12 ⇒ σ≈1.6%). The
    * mergeability is the 100 TB story: each extra rollup level costs a
    * sketch-merge shuffle of |groups| fixed-size rows, not another scan
    * of the fact table. */
  val hll1SketchRollup: Q = (s, d) => {
    val joined = Tables.orders(s, d)
      .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
      .select(col("n_regionkey"), col("n_nationkey"), col("o_custkey"))
    val approx = graft.operators.Sketches.hllDistinctRollup(joined,
      col("n_nationkey"), col("n_regionkey"), col("o_custkey"))
    val exact = joined.groupBy(col("n_regionkey").as("coarse"))
      .agg(countDistinct(col("o_custkey")).as("exact_d"))
    approx.join(exact, "coarse")
      .agg(count(lit(1)).as("n_regions"),
        bool_and(abs(col("approx_distinct") - col("exact_d")).cast("double")
          / col("exact_d") <= 0.05).as("within_tol"))
  }

  val hll1SketchRollupSql: String =
    """SELECT CAST(count(DISTINCT n_regionkey) AS BIGINT) AS n_regions,
      |       true AS within_tol
      |FROM nation""".stripMargin

  /** KLL1 — mergeable quantile rollup: per-nation KLL sketches of order
    * value, MERGED (sketch bytes, not data) to region grain
    * ([[graft.operators.Sketches.kllQuantileRollup]], on Spark 4's native
    * DataSketches KLL binding). Gate at BOTH grains, in RANK space
    * (the space KLL's guarantee lives in): each estimated p50/p90 is
    * broadcast back into the fact scan and its observed inclusive rank
    * must sit within 3% of the requested rank — k=200's proven bound is
    * ~1.65% at 99% confidence, so 3% also absorbs the ±1/n step of small
    * groups. Value-space tolerances would be distribution-dependent;
    * rank-space is the honest gate. */
  val kll1QuantileRollup: Q = (s, d) => {
    val joined = Tables.orders(s, d)
      .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
      .select(col("n_regionkey"), col("n_nationkey"),
        col("o_totalprice").cast("double").as("price"))
    val (nationQ, regionQ) = graft.operators.Sketches.kllQuantileRollup(
      joined, col("n_nationkey"), col("n_regionkey"), col("price"),
      ranks = Seq(0.5, 0.9))
    def rankGate(est: DataFrame, keys: Seq[String],
                 grainKey: String): DataFrame =
      joined.withColumnRenamed("n_regionkey", "coarse")
        .withColumnRenamed("n_nationkey", "fine")
        .join(broadcast(est), keys)
        .groupBy(keys.map(col): _*)
        .agg(
          avg(when(col("price") <= col("p50"), 1.0).otherwise(0.0)).as("r50"),
          avg(when(col("price") <= col("p90"), 1.0).otherwise(0.0)).as("r90"))
        .agg(count(lit(1)).as(s"n_${grainKey}"),
          bool_and(abs(col("r50") - 0.5) <= 0.03 &&
            abs(col("r90") - 0.9) <= 0.03).as(s"${grainKey}_within_tol"))
    rankGate(nationQ, Seq("coarse", "fine"), "nations")
      .crossJoin(rankGate(regionQ, Seq("coarse"), "regions"))
  }

  val kll1QuantileRollupSql: String =
    """WITH j AS (
      |  SELECT n_regionkey, n_nationkey
      |  FROM orders JOIN customer ON o_custkey = c_custkey
      |  JOIN nation ON c_nationkey = n_nationkey)
      |SELECT CAST(count(DISTINCT n_nationkey) AS BIGINT) AS n_nations,
      |       true AS nations_within_tol,
      |       CAST(count(DISTINCT n_regionkey) AS BIGINT) AS n_regions,
      |       true AS regions_within_tol
      |FROM j""".stripMargin

  /** THETA1 — set-algebra sketches: per-year theta sketches of ordering
    * customers (Spark 4's native DataSketches theta binding); for each
    * consecutive year pair, |A ∩ B| from the SKETCHES
    * (`theta_intersection` + `theta_sketch_estimate`) vs the exact shared
    * count — intersection is the operation HLL cannot do, and the one
    * corpus-overlap / decontamination audits need without a key-level
    * join. A second leg unions all yearly sketches to the all-time
    * distinct (the rollup: bytes merged, data never rescanned). Gates:
    * each pair's intersection error within 5% of the pair's exact UNION
    * size (theta intersection error scales with the union, not the
    * intersection), and the all-time union within 5% of exact.
    * Sub-nominal fixtures sit in theta's exact mode; at 10× the same
    * query crosses into estimation with the ~1.6% lgK=12 bound. */
  val theta1SetOverlap: Q = (s, d) => {
    val o = Tables.orders(s, d)
      .select(year(col("o_orderdate")).as("yr"), col("o_custkey"))
    val sk = o.groupBy(col("yr")).agg(theta_sketch_agg(col("o_custkey")).as("sk"))
    val est = sk.as("a").join(sk.as("b"), col("b.yr") === col("a.yr") + 1)
      .select(col("a.yr").as("yr"),
        theta_sketch_estimate(
          theta_intersection(col("a.sk"), col("b.sk"))).as("est_shared"))
    val du = o.distinct()
    val perYear = du.groupBy(col("yr")).agg(count_distinct(col("o_custkey")).as("n"))
    val shared = du.as("x").join(du.as("y"),
        col("x.o_custkey") === col("y.o_custkey") && col("y.yr") === col("x.yr") + 1)
      .groupBy(col("x.yr").as("yr"))
      .agg(count_distinct(col("x.o_custkey")).as("exact_shared"))
    val pairGate = est.join(shared, "yr")
      .join(perYear.select(col("yr"), col("n").as("n_a")), "yr")
      .join(perYear.select((col("yr") - 1).as("yr"), col("n").as("n_b")), "yr")
      .withColumn("exact_union", col("n_a") + col("n_b") - col("exact_shared"))
      .agg(count(lit(1)).as("n_pairs"),
        bool_and(abs(col("est_shared") - col("exact_shared"))
          <= col("exact_union") * 0.05).as("pairs_within_tol"))
    val allGate = sk.agg(
        theta_sketch_estimate(theta_union_agg(col("sk"))).as("est_all"))
      .crossJoin(o.agg(count_distinct(col("o_custkey")).as("exact_all")))
      .select((abs(col("est_all") - col("exact_all"))
        <= col("exact_all") * 0.05).as("alltime_within_tol"))
    pairGate.crossJoin(allGate)
  }

  val theta1SetOverlapSql: String =
    """WITH y AS (SELECT DISTINCT year(o_orderdate) AS yr FROM orders)
      |SELECT CAST(count(*) AS BIGINT) AS n_pairs,
      |       true AS pairs_within_tol,
      |       true AS alltime_within_tol
      |FROM y a JOIN y b ON b.yr = a.yr + 1""".stripMargin

  /** CMS1 — mergeable Count-Min frequency rollup
    * ([[graft.operators.Sketches.cmsFrequencyRollup]]): per-day sketches of
    * the event user stream, MERGED (counter tables, not data) to one
    * all-time sketch, probed for the exact top-20 users. Gate: every
    * estimate ≥ its exact count (a hard CMS guarantee — collisions only
    * add) and ≤ exact + 5ε·N (per sketch row P[excess > 5εN] ≤ (5e)⁻¹ by
    * Markov, so over depth 5 the failure odds are ~(5e)⁻⁵ ≈ 2·10⁻⁶ per
    * probe; the fixed seed makes the whole gate replay-deterministic).
    * The oracle replays the gate's exact side: probe count + both flags. */
  val cms1FreqRollup: Q = (s, d) => {
    val eps = 1e-4
    val ev = Tables.events(s, d).select(to_date(col("ts")).as("day"), col("user_id"))
    val merged = graft.operators.Sketches.cmsFrequencyRollup(
      ev, col("day"), lit("all"), col("user_id"),
      eps = eps, confidence = 0.99, seed = 17)
    val exactTop = ev.groupBy(col("user_id")).agg(count(lit(1)).as("exact_n"))
      .orderBy(col("exact_n").desc, col("user_id").asc).limit(20)
    exactTop
      .crossJoin(broadcast(merged.select(col("sk"))))
      .crossJoin(broadcast(ev.agg(count(lit(1)).as("total_n"))))
      .select(col("exact_n"), col("total_n"),
        graft.functions.cms_estimate(col("sk"), col("user_id")).as("est_n"))
      .agg(count(lit(1)).as("n_probes"),
        bool_and(col("est_n") >= col("exact_n")).as("never_undercounts"),
        bool_and(col("est_n") <= col("exact_n") +
          ceil(lit(5.0 * eps) * col("total_n"))).as("within_tol"))
  }

  val cms1FreqRollupSql: String =
    """SELECT CAST(least(20, count(DISTINCT user_id)) AS BIGINT) AS n_probes,
      |       true AS never_undercounts, true AS within_tol
      |FROM events""".stripMargin

  // ─────────────────── analytics breadth (round-1 extras) ────────────────

  /** TPC-H Q6-style selective filter+agg (pushdown showcase). */
  val q6Selective: Q = (s, d) =>
    Tables.lineitem(s, d)
      .filter(col("l_shipdate") >= lit("1996-01-01 00:00:00").cast("timestamp") &&
        col("l_shipdate") < lit("1997-01-01 00:00:00").cast("timestamp") &&
        col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
      .agg(sum(price * disc).cast("double").as("revenue"), count(lit(1)).as("n"))

  val q6SelectiveSql: String =
    s"""SELECT CAST(sum($SQL_PRICE * $SQL_DISC) AS DOUBLE) AS revenue, count(*) AS n
       |FROM lineitem
       |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
       |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
       |  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""".stripMargin

  /** Grouping sets: revenue ROLLUP over (nation, year) incl. subtotals. */
  val g1Rollup: Q = (s, d) => {
    val o = Tables.orders(s, d)
    val c = Tables.customer(s, d)
    val n = Tables.nation(s, d)
    o.join(c, o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .rollup(col("n_name"), year(col("o_orderdate")).cast("long").as("order_year"))
      .agg(decSum(col("o_totalprice")).as("revenue"), count(lit(1)).as("n_orders"))
  }

  val g1RollupSql: String =
    """SELECT n_name, year(o_orderdate) AS order_year,
      |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
      |       count(*) AS n_orders
      |FROM orders
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |GROUP BY ROLLUP (n_name, year(o_orderdate))""".stripMargin

  /** Pivot: per-user event-type count matrix. */
  val w4Pivot: Q = (s, d) =>
    Tables.events(s, d)
      .groupBy(col("user_id"))
      .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
      .agg(count(lit(1)))
      .na.fill(0)

  val w4PivotSql: String =
    """SELECT user_id,
      |       count(*) FILTER (WHERE event_type = 'click') AS click,
      |       count(*) FILTER (WHERE event_type = 'error') AS error,
      |       count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
      |       count(*) FILTER (WHERE event_type = 'signup') AS signup,
      |       count(*) FILTER (WHERE event_type = 'view') AS view
      |FROM events GROUP BY user_id""".stripMargin

  /** As-of join: each purchase attributed to the user's most recent click
    * (composed windows in Spark; DuckDB's native ASOF JOIN is the oracle). */
  val asof1Attribution: Q = (s, d) => {
    val ev = Tables.events(s, d)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("event_id").as("purchase_id"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"), col("event_id").as("click_id"))
    graft.operators.AsOf.asOfJoin(purchases, clicks, "user_id", "ts", Seq("click_id"))
      .select(col("user_id"), col("purchase_id"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("purchase_ts"),
        col("asof_click_id").as("click_id"))
  }

  val asof1AttributionSql: String =
    """SELECT p.user_id, p.event_id AS purchase_id,
      |       strftime(CAST(date_trunc('second', p.ts) AS TIMESTAMP), '%Y-%m-%d %H:%M:%S') AS purchase_ts,
      |       c.event_id AS click_id
      |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
      |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      |  ON p.user_id = c.user_id AND p.ts >= c.ts""".stripMargin

  /** Range (band) join: orders bucketed into literal price bands via a
    * non-equi broadcast join. */
  val j5RangeBand: Q = (s, d) => {
    import s.implicits._
    val bands = Seq(
      (0.0, 100000.0, "SMALL"), (100000.0, 250000.0, "MEDIUM"),
      (250000.0, 1e12, "LARGE")).toDF("lo", "hi", "band")
    Tables.orders(s, d)
      .join(broadcast(bands),
        col("o_totalprice") >= col("lo") && col("o_totalprice") < col("hi"))
      .groupBy(col("band"))
      .agg(count(lit(1)).as("n_orders"), decSum(col("o_totalprice")).as("volume"))
  }

  val j5RangeBandSql: String =
    """WITH bands(lo, hi, band) AS (VALUES
      |  (0.0, 100000.0, 'SMALL'), (100000.0, 250000.0, 'MEDIUM'),
      |  (250000.0, 1000000000000.0, 'LARGE'))
      |SELECT band, count(*) AS n_orders,
      |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS volume
      |FROM orders JOIN bands ON o_totalprice >= lo AND o_totalprice < hi
      |GROUP BY band""".stripMargin

  /** Q8 — correlated scalar subquery through the engine's raw SQL surface
    * (Catalyst decorrelates it to an aggregate + join under the hood). */
  val q8Correlated: Q = (s, d) =>
    withScopedViews(s, "customer" -> Tables.customer(s, d)) { v =>
      s.sql(
        s"""SELECT c_custkey, c_name, c_nationkey, c_acctbal
           |FROM ${v("customer")} c
           |WHERE c_acctbal = (SELECT max(c2.c_acctbal) FROM ${v("customer")} c2
           |                   WHERE c2.c_nationkey = c.c_nationkey)
           |""".stripMargin)
    }

  val q8CorrelatedSql: String =
    """SELECT c_custkey, c_name, c_nationkey, c_acctbal
      |FROM customer c
      |WHERE c_acctbal = (SELECT max(c2.c_acctbal) FROM customer c2
      |                   WHERE c2.c_nationkey = c.c_nationkey)""".stripMargin

  /** J8 — skew-salted join: semantically the plain inner join (which IS the
    * oracle), executed with the hot fact key spread over 8 salts. */
  val j8Salted: Q = (s, d) => {
    val li = Tables.lineitem(s, d).select("l_orderkey", "l_suppkey", "l_quantity")
    val sup = Tables.supplier(s, d)
    Transform.saltedJoin(li, sup, "l_suppkey", "s_suppkey", salts = 8)
      .groupBy(col("s_name"))
      .agg(count(lit(1)).as("n_items"), decSum(col("l_quantity")).as("total_qty"))
  }

  val j8SaltedSql: String =
    """SELECT s_name, count(*) AS n_items,
      |       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
      |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
      |GROUP BY s_name""".stripMargin

  /** SRC1 — the DSv2 paged users source through the driver gate. The page
    * rows are a pure function of the row index (UsersApiSource), so the
    * oracle REGENERATES them in SQL from `range(2000)` and must reproduce
    * the metrics row exactly — a full cross-engine check of the source. */
  val src1UsersApi: Q = (s, _) => {
    val users = s.read.format("graft-users")
      .option("rows", 2000).option("pageSize", 250).load()
    Metrics.summary(users,
      col("valid") && col("email") =!= "", col("country"), col("name"), col("id"))
  }

  val src1UsersApiSql: String =
    """WITH u AS (
      |  SELECT 'user-' || i AS id,
      |         'User ' || chr(65 + CAST(i % 26 AS INT)) || '. Number' || i AS name,
      |         CASE WHEN i % 7 = 0 THEN '' ELSE 'user' || i || '@example.com' END AS email,
      |         ['US','DE','FR','JP','BR','IN','CN','AU'][CAST(i % 8 AS INT) + 1] AS country,
      |         (i % 7 <> 0) AS valid
      |  FROM range(0, 2000) t(i))
      |SELECT count(*) AS rows_in,
      |       count(*) FILTER (WHERE valid AND email <> '') AS rows_out,
      |       count(*) - count(*) FILTER (WHERE valid AND email <> '') AS dedup_removed,
      |       count(DISTINCT country) AS countries,
      |       arg_max(name, id) AS last_record
      |FROM u""".stripMargin

  /** N-gram frequency table over the corpus (3-grams with support ≥ 5). */
  val t6NgramFreq: Q = (s, d) =>
    Dedup.shingleStream(Tables.documents(s, d), 3)
      .groupBy(col("sg").as("ngram")).agg(count(lit(1)).as("n"))
      .filter(col("n") >= 5)

  val t6NgramFreqSql: String =
    """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |sh AS (SELECT doc_id,
      |         list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
      |                        FOR i IN RANGE(1, len(t) - 1)]) AS s
      |       FROM toks WHERE len(t) >= 3)
      |SELECT sg AS ngram, count(*) AS n
      |FROM (SELECT doc_id, unnest(s) AS sg FROM sh)
      |GROUP BY sg HAVING count(*) >= 5""".stripMargin

  /** DIV1 — corpus diversity via distinct-n
    * ([[graft.operators.TextAnalysis.distinctNgrams]]): per (source, n)
    * for n = 1..3, instance/distinct n-gram counts and their ratio —
    * the generation-diversity metric a synthetic-data pipeline tracks
    * per batch (low distinct-2/3 = template collapse long before exact
    * dedup fires). */
  val div1DistinctNgrams: Q = (s, d) =>
    TextAnalysis.distinctNgrams(Tables.documents(s, d))

  val div1DistinctNgramsSql: String =
    """WITH t AS (SELECT source, string_split(text, ' ') AS tk FROM documents),
      |g AS (
      |  SELECT source, 1 AS n, unnest(tk) AS g FROM t
      |  UNION ALL
      |  SELECT source, 2 AS n,
      |         unnest([tk[i] || ' ' || tk[i+1] FOR i IN RANGE(1, len(tk))]) AS g
      |  FROM t WHERE len(tk) >= 2
      |  UNION ALL
      |  SELECT source, 3 AS n,
      |         unnest([tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] FOR i IN RANGE(1, len(tk) - 1)]) AS g
      |  FROM t WHERE len(tk) >= 3)
      |SELECT source, CAST(n AS BIGINT) AS n, count(*) AS n_grams,
      |       CAST(count(DISTINCT g) AS BIGINT) AS n_distinct,
      |       floor(CAST(count(DISTINCT g) AS DOUBLE) / count(*) * 1000000 + 0.5) / 1000000 AS distinct_ratio
      |FROM g GROUP BY source, n""".stripMargin

  /** Exact interpolated percentiles per priority class (+ count). Exact —
    * at 100 TB the approx_percentile sketch is the right tool; the exact
    * form is the oracle-checkable semantics both share. */
  val q7Quantiles: Q = (s, d) =>
    Tables.orders(s, d)
      .groupBy(col("o_orderpriority"))
      .agg(percentile(col("o_totalprice"), lit(0.25)).as("p25"),
        percentile(col("o_totalprice"), lit(0.5)).as("p50"),
        percentile(col("o_totalprice"), lit(0.75)).as("p75"),
        count(lit(1)).as("n"))

  val q7QuantilesSql: String =
    """SELECT o_orderpriority,
      |       quantile_cont(o_totalprice, 0.25) AS p25,
      |       quantile_cont(o_totalprice, 0.5) AS p50,
      |       quantile_cont(o_totalprice, 0.75) AS p75,
      |       count(*) AS n
      |FROM orders GROUP BY o_orderpriority""".stripMargin

  /** The 100 TB variant of q7: the KLL/GK sketch (`percentile_approx`) next
    * to the exact percentile, gated on a 2% relative-error contract per
    * quantile. Sketches are deterministic for a fixed input, so the booleans
    * are driver-checkable; the exact columns stay the cross-engine anchor. */
  val q7QuantilesApprox: Q = (s, d) => {
    def ok(p: Double, name: String) =
      (abs(percentile_approx(col("o_totalprice"), lit(p), lit(10000))
        - percentile(col("o_totalprice"), lit(p)))
        <= percentile(col("o_totalprice"), lit(p)) * 0.02).as(name)
    Tables.orders(s, d)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
        ok(0.25, "p25_ok"), ok(0.5, "p50_ok"), ok(0.75, "p75_ok"))
  }

  val q7QuantilesApproxSql: String =
    """SELECT o_orderpriority, count(*) AS n,
      |       true AS p25_ok, true AS p50_ok, true AS p75_ok
      |FROM orders GROUP BY o_orderpriority""".stripMargin

  /** W7 — analytic-window breadth: quartile bucketing (ntile),
    * distribution ranks (percent_rank / cume_dist) and a RANGE-framed
    * moving sum. The range frame orders by exact integer cents
    * (`floor(price*100 + 0.5)`) so the frame boundary arithmetic is
    * engine-portable; tie handling of the rank family is SQL-standard on
    * both engines. */
  val w7Analytic: Q = (s, d) => {
    val cents = floor(col("o_totalprice") * 100 + 0.5).cast("long")
    val o = Tables.orders(s, d).withColumn("cents", cents)
    val base = Window.partitionBy(col("o_orderpriority"))
      .orderBy(col("o_totalprice").asc, col("o_orderkey").asc)
    val range = Window.partitionBy(col("o_orderpriority"))
      .orderBy(col("cents"))
      .rangeBetween(-100000L, 0L) // 1000.00 below current, inclusive
    o.select(col("o_orderkey"), col("o_orderpriority"),
      ntile(4).over(base).cast("long").as("quartile"),
      portableRound(percent_rank().over(base), 6).as("pct_rank"),
      portableRound(cume_dist().over(base), 6).as("cume"),
      sum(col("o_totalprice").cast("decimal(18,2)")).over(range)
        .cast("double").as("range_sum"))
  }

  val w7AnalyticSql: String =
    """SELECT o_orderkey, o_orderpriority,
      |       ntile(4) OVER w AS quartile,
      |       floor(percent_rank() OVER w * 1000000 + 0.5) / 1000000 AS pct_rank,
      |       floor(cume_dist() OVER w * 1000000 + 0.5) / 1000000 AS cume,
      |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
      |            OVER (PARTITION BY o_orderpriority
      |                  ORDER BY CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
      |                  RANGE BETWEEN 100000 PRECEDING AND CURRENT ROW) AS DOUBLE) AS range_sum
      |FROM orders
      |WINDOW w AS (PARTITION BY o_orderpriority
      |             ORDER BY o_totalprice, o_orderkey)""".stripMargin

  /** U3/U4 — intersect / except (not in the reference; Spark-free set ops). */
  val u3Intersect: Q = (s, d) => {
    val o = Tables.orders(s, d)
    o.filter(col("o_orderstatus") === "F").select(col("o_custkey"))
      .intersect(o.filter(col("o_orderstatus") === "O").select(col("o_custkey")))
  }

  val u3IntersectSql: String =
    """SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
      |INTERSECT
      |SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'""".stripMargin

  val u4Except: Q = (s, d) => {
    val c = Tables.customer(s, d)
    val o = Tables.orders(s, d)
    c.select(col("c_custkey")).except(o.select(col("o_custkey").as("c_custkey")))
  }

  val u4ExceptSql: String =
    """SELECT c_custkey FROM customer
      |EXCEPT
      |SELECT o_custkey AS c_custkey FROM orders""".stripMargin

  /** DuckDB fragment for [[graft.operators.Sampling.hashBucket]]: the md5
    * first-8-hex-chars integer, digit-by-digit (the d3 simhash trick), mod
    * 10000 — bit-identical to Spark's conv(substr(md5, 1, 8), 16, 10). */
  private def md5BucketSql(keyExpr: String, buckets: Int = 10000): String = {
    val pow16 = Array(268435456L, 16777216L, 1048576L, 65536L, 4096L, 256L, 16L, 1L)
    val digits = (0 until 8)
      .map(k => s"(strpos('0123456789abcdef', substr(md5($keyExpr), ${k + 1}, 1)) - 1) * ${pow16(k)}")
      .mkString(" + ")
    s"(($digits) % $buckets)"
  }

  /** SMP1 — deterministic 20% sample by key hash: membership is a pure
    * function of the row key (engine-portable md5 bucket), so the sample
    * is identical across engines, runs, partitionings and cluster sizes —
    * what `df.sample()`'s per-task RNG streams cannot promise. */
  val smp1Sample: Q = (s, d) =>
    graft.operators.Sampling.deterministicSample(
      Tables.orders(s, d), col("o_orderkey"), 0.2)
      .select("o_orderkey", "o_orderstatus", "o_totalprice")

  val smp1SampleSql: String =
    s"""SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
       |WHERE ${md5BucketSql("CAST(o_orderkey AS VARCHAR)")} < 2000""".stripMargin

  /** SMP2 — train/val/test split (0.8/0.1/0.1) by the same key-hash
    * mechanism: a document's split never changes when the corpus grows. */
  val smp2Split: Q = (s, d) =>
    graft.operators.Sampling.datasetSplit(Tables.documents(s, d), col("doc_id"),
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      .select(col("doc_id"), col("split"))

  val smp2SplitSql: String =
    s"""SELECT doc_id,
       |       CASE WHEN ${md5BucketSql("CAST(doc_id AS VARCHAR)")} < 8000 THEN 'train'
       |            WHEN ${md5BucketSql("CAST(doc_id AS VARCHAR)")} < 9000 THEN 'val'
       |            ELSE 'test' END AS split
       |FROM documents""".stripMargin

  /** Z1 — Z-order layout rewrite on (custkey, totalprice): row content is
    * IDENTICAL to the source (which is exactly what the oracle checks —
    * layout ops must be invisible to semantics); the physical product is
    * the two-dimensional file clustering that LayoutSpec measures with
    * [[graft.operators.Layout.meanExtent]] and SCALE.md §layout explains. */
  val z1Zorder: Q = (s, d) =>
    graft.operators.Layout.zorderBy(Tables.orders(s, d), "o_custkey", "o_totalprice")
      .select("o_orderkey", "o_custkey", "o_totalprice")

  val z1ZorderSql: String =
    "SELECT o_orderkey, o_custkey, o_totalprice FROM orders"

  /** Z2 — compaction planning as a query: a synthetic file manifest
    * (ship-month partitions × orderkey-mod files, bytes ∝ row count)
    * binned to ~8 KiB targets by [[graft.operators.Layout.compactionPlan]].
    * The oracle replays the identical running-sum packing, which pins the
    * planner's semantics: in-order packing, no cross-partition merges. */
  val z2Compaction: Q = (s, d) => {
    val manifest = Tables.lineitem(s, d)
      .groupBy(date_format(col("l_shipdate"), "yyyy-MM").as("part"),
        (col("l_orderkey") % 50).as("file_id"))
      .agg((count(lit(1)) * 128).as("bytes"))
    graft.operators.Layout.compactionPlan(manifest, 8192)
  }

  val z2CompactionSql: String =
    """WITH m AS (SELECT strftime(l_shipdate, '%Y-%m') AS part,
      |                  CAST(l_orderkey % 50 AS BIGINT) AS file_id,
      |                  CAST(count(*) * 128 AS BIGINT) AS bytes
      |           FROM lineitem GROUP BY 1, 2),
      |c AS (SELECT part, file_id, bytes,
      |             CAST(sum(bytes) OVER (PARTITION BY part ORDER BY file_id) - bytes AS BIGINT) AS cb
      |      FROM m)
      |SELECT part, file_id, bytes,
      |       CAST(floor(CAST(cb AS DOUBLE) / 8192) AS BIGINT) AS bin
      |FROM c""".stripMargin

  /** U5 — upsert/merge-by-key (the lake MERGE): a batch of updated order
    * rows replaces its keys in the base table, executed as union +
    * top-1-per-key through the TopKPerKeyExec heap (one shuffle, no sort). */
  val u5Upsert: Q = (s, d) => {
    val base = Tables.orders(s, d)
    val updates = base.filter(pmod(col("o_orderkey"), lit(10)) === 0)
      .withColumn("o_orderstatus", lit("U"))
    Transform.upsert(base, updates, "o_orderkey")
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
  }

  val u5UpsertSql: String =
    """SELECT o_orderkey,
      |       CASE WHEN o_orderkey % 10 = 0 THEN 'U' ELSE o_orderstatus END AS o_orderstatus,
      |       o_totalprice
      |FROM orders""".stripMargin

  /** J6/J7 — left-semi (EXISTS) and left-anti (NOT EXISTS) joins. */
  val j6Semi: Q = (s, d) => {
    val c = Tables.customer(s, d)
    val o = Tables.orders(s, d).filter(col("o_totalprice") > 300000)
    c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_name"))
  }

  val j6SemiSql: String =
    """SELECT c_custkey, c_name FROM customer
      |WHERE EXISTS (SELECT 1 FROM orders
      |              WHERE o_custkey = c_custkey AND o_totalprice > 300000)""".stripMargin

  val j7Anti: Q = (s, d) => {
    val c = Tables.customer(s, d)
    val o = Tables.orders(s, d)
    c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"))
  }

  val j7AntiSql: String =
    """SELECT c_custkey, c_name FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""".stripMargin

  /** G2 — full cube over (status, priority). */
  val g2Cube: Q = (s, d) =>
    Tables.orders(s, d)
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"), decSum(col("o_totalprice")).as("volume"))

  val g2CubeSql: String =
    """SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders,
      |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS volume
      |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)""".stripMargin

  /** G3 — explicit GROUPING SETS: two non-hierarchical slices (by
    * returnflag, by linestatus) that neither ROLLUP nor CUBE expresses
    * without extra groups, disambiguated by `grouping_id()`. Executes as
    * one scan + Expand (2 rows/input) + one hash agg — grouping breadth
    * costs an Expand factor, never a second scan. */
  val g3GroupingSets: Q = (s, d) =>
    Tables.lineitem(s, d)
      .groupingSets(Seq(Seq(col("l_returnflag")), Seq(col("l_linestatus"))),
        col("l_returnflag"), col("l_linestatus"))
      .agg(decSum(col("l_quantity")).as("sum_qty"), count(lit(1)).as("n"),
        grouping_id().as("gid"))

  val g3GroupingSetsSql: String =
    """SELECT l_returnflag, l_linestatus,
      |       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |       count(*) AS n,
      |       CAST(grouping(l_returnflag, l_linestatus) AS BIGINT) AS gid
      |FROM lineitem
      |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))""".stripMargin

  /** TOK1 — vocabulary build + token-id encoding (top-32 tokens → stable
    * ids, OOV → 0, each doc serialized as its id sequence): the
    * tokenize-to-ids step before sequence packing. Vocabulary is
    * TakeOrdered metadata, the dictionary join is broadcast. */
  val tok1VocabEncode: Q = (s, d) =>
    TextAnalysis.vocabEncode(Tables.documents(s, d), 32)

  val tok1VocabEncodeSql: String =
    """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |flat AS (SELECT doc_id,
      |                unnest([{'pos': i, 'token': t[i]
      |                        } FOR i IN RANGE(1, len(t) + 1)], recursive := true)
      |         FROM toks),
      |cnt AS (SELECT token, count(*) AS cnt FROM flat GROUP BY token),
      |vocab AS (SELECT token, row_number() OVER (ORDER BY cnt DESC, token) AS tid
      |          FROM cnt ORDER BY cnt DESC, token LIMIT 32),
      |enc AS (SELECT f.doc_id, f.pos, coalesce(v.tid, 0) AS tid
      |        FROM flat f LEFT JOIN vocab v ON v.token = f.token)
      |SELECT doc_id, array_to_string(list(tid ORDER BY pos), ' ') AS token_ids
      |FROM enc GROUP BY doc_id""".stripMargin

  /** W5 — analytic windows beyond ranking: lag delta + running total per
    * customer in explicit (date, key) order. */
  val w5Running: Q = (s, d) => {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    Tables.orders(s, d)
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"), col("o_totalprice"))
      .withColumn("prev_price", lag(col("o_totalprice"), 1).over(w))
      .withColumn("running_total",
        sum(col("o_totalprice").cast("decimal(18,2)"))
          .over(w.rowsBetween(Window.unboundedPreceding, 0)).cast("double"))
      .select(col("o_custkey"), col("o_orderkey"), col("prev_price"), col("running_total"))
  }

  val w5RunningSql: String =
    """SELECT o_custkey, o_orderkey,
      |       lag(o_totalprice) OVER w AS prev_price,
      |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
      |            OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      |                  ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS running_total
      |FROM orders
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)""".stripMargin

  // ───────────────────────────── multimodal ──────────────────────────────

  /** MM1 — REAL image-header decode: each doc gets genuine PNG/JPEG header
    * bytes (built in-plan, dimensions encoded from doc_id), and the typed
    * `mapPartitions` decoder parses format/width/height back OUT OF THE
    * BYTES (signature check, IHDR offsets / SOF marker walk). The oracle
    * recomputes the dimensions the fixture encoded — so a parser that
    * misreads a single offset or endianness goes red. */
  val mm1Binary: Q = (s, d) => {
    val media = Tables.documents(s, d).select(col("doc_id"),
      Multimodal.syntheticImagePayload(col("doc_id")).as("payload"))
    Multimodal.decodeImages(s, media).toDF()
      .select(col("doc_id"), col("fmt"),
        col("width").cast("long").as("width"),
        col("height").cast("long").as("height"),
        col("byte_len").cast("long").as("byte_len"))
  }

  val mm1BinarySql: String =
    """SELECT doc_id,
      |       CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'jpeg' END AS fmt,
      |       1 + doc_id % 512 AS width,
      |       1 + (doc_id * 7) % 512 AS height,
      |       CAST(CASE WHEN doc_id % 2 = 0 THEN 33 ELSE 39 END AS BIGINT) AS byte_len
      |FROM documents""".stripMargin

  /** MM2: REAL video demux — one MJPEG-in-RIFF (AVI) container per doc
    * ([[Multimodal.synthesizeAvis]]: avih/strh/strf headers + '00dc' JPEG
    * frames + idx1, every size field little-endian from the actual bytes),
    * frames recovered by walking the RIFF tree
    * ([[Multimodal.aviFrameSample]]), every 2nd kept, and each kept
    * frame's dims parsed back OUT of its JPEG bytes by the header parser —
    * container AND codec verified end to end from the payload alone. */
  val mm2Frames: Q = (s, d) => {
    val media = Multimodal.synthesizeAvis(s,
      Tables.documents(s, d).select(col("doc_id")))
    val frames = Multimodal.aviFrameSample(s, media, everyK = 2).toDF()
      .select(col("doc_id"), col("payload"))
    Multimodal.decodeImages(s, frames).toDF()
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_frames"), min(col("fmt")).as("fmt"),
        max(col("width")).cast("long").as("width"),
        max(col("height")).cast("long").as("height"))
  }

  val mm2FramesSql: String =
    """SELECT doc_id,
      |       CAST(ceil((1 + doc_id % 8) / 2.0) AS BIGINT) AS n_frames,
      |       'jpeg' AS fmt,
      |       CAST(8 AS BIGINT) AS width, CAST(8 AS BIGINT) AS height
      |FROM documents""".stripMargin

  /** MM4: REAL image resize — complete PNGs synthesized per doc (dims law
    * `w = 1 + id % 64`, `h = 1 + 7·id % 64`), `javax.imageio`
    * decode→scale→re-encode to fit 16 px ([[Multimodal.resize]]), and the
    * answer dims are parsed BACK OUT of the resized bytes by the header
    * parser — a full codec round trip. The aspect-preserving integer-floor
    * target is exactly replayable in SQL. */
  val mm4Resize: Q = (s, d) => {
    val media = Multimodal.synthesizeFullPngs(s,
      Tables.documents(s, d).select(col("doc_id")))
    val resized = Multimodal.resize(s, media, maxDim = 16).toDF()
    Multimodal.decodeImages(s, resized).toDF()
      .select(col("doc_id"), col("fmt"),
        col("width").cast("long").as("width"),
        col("height").cast("long").as("height"))
  }

  val mm4ResizeSql: String =
    """WITH dims AS (
      |  SELECT doc_id, 1 + doc_id % 64 AS w, 1 + (doc_id * 7) % 64 AS h
      |  FROM documents)
      |SELECT doc_id, 'png' AS fmt,
      |       CASE WHEN greatest(w, h) <= 16 THEN w
      |            ELSE greatest(1, (w * 16) // greatest(w, h)) END AS width,
      |       CASE WHEN greatest(w, h) <= 16 THEN h
      |            ELSE greatest(1, (h * 16) // greatest(w, h)) END AS height
      |FROM dims""".stripMargin

  /** T7: tf-idf top terms per doc (tf × ln(N/df), rounded before ranking).
    * N is a scalar aggregate INSIDE the DAG (broadcast cross join), not a
    * driver-side `count()` — constructing the query must not run a job. */
  val t7Tfidf: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val nDocs = docs.agg(count(lit(1)).cast("double").as("n_docs"))
    val toks = docs.select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
    val tf = toks.groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("cnt"))
      .withColumn("n_tok", sum(col("cnt")).over(Window.partitionBy(col("doc_id"))))
    val df_ = toks.select(col("doc_id"), col("tok")).distinct()
      .groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val scored = tf.join(df_, "tok") // vocab table scales with corpus: AQE decides
      .crossJoin(broadcast(nDocs))
      .withColumn("tfidf",
        portableRound(col("cnt") / col("n_tok") * log(col("n_docs") / col("df")), 6))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("tfidf").desc, col("tok").asc)
    scored.withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= 3)
      .select(col("doc_id"), col("tok"), col("tfidf"), col("rnk"))
  }

  val t7TfidfSql: String =
    """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
      |tf AS (SELECT doc_id, tok, count(*) AS cnt FROM toks GROUP BY 1, 2),
      |tfn AS (SELECT *, CAST(sum(cnt) OVER (PARTITION BY doc_id) AS BIGINT) AS n_tok FROM tf),
      |df AS (SELECT tok, count(DISTINCT doc_id) AS df FROM toks GROUP BY tok),
      |n AS (SELECT count(*) AS n_docs FROM documents),
      |scored AS (
      |  SELECT doc_id, tfn.tok,
      |         floor((CAST(cnt AS DOUBLE) / n_tok * ln(CAST(n_docs AS DOUBLE) / df)) * 1000000 + 0.5) / 1000000 AS tfidf
      |  FROM tfn JOIN df ON tfn.tok = df.tok CROSS JOIN n)
      |SELECT doc_id, tok, tfidf, rnk FROM (
      |  SELECT *, row_number() OVER (PARTITION BY doc_id
      |                               ORDER BY tfidf DESC, tok) AS rnk
      |  FROM scored) t
      |WHERE rnk <= 3""".stripMargin

  // ─────────────────── product analytics & profiling ─────────────────────

  /** RET1 — weekly retention cohorts over the event stream (operator doc:
    * [[graft.operators.Analytics.retentionCohorts]]). */
  val ret1Retention: Q = (s, d) =>
    graft.operators.Analytics.retentionCohorts(Tables.events(s, d))

  val ret1RetentionSql: String =
    """WITH f AS (SELECT user_id, date_trunc('week', min(ts)) AS cw
      |           FROM events GROUP BY user_id),
      |a AS (SELECT e.user_id, f.cw,
      |             CAST(datediff('day', f.cw, date_trunc('week', e.ts)) / 7 AS BIGINT) AS woff
      |      FROM events e JOIN f USING (user_id))
      |SELECT strftime(CAST(cw AS TIMESTAMP), '%Y-%m-%d') AS cohort_week,
      |       woff AS week_offset,
      |       CAST(count(DISTINCT user_id) AS BIGINT) AS n_active
      |FROM a GROUP BY 1, 2""".stripMargin

  /** TS1 — daily activity on a continuous date spine: gap days filled with
    * zeros, plus LOCF carry of the last real daily total. Runs the
    * SEGMENT-JOIN form ([[graft.operators.Analytics.gapFillDailySegmented]]):
    * the LOCF window covers sparse observations only and gap days
    * materialize by segment explode — no span-sized window partition, so a
    * key alive for ten years costs its active days, not its calendar. */
  val ts1GapFill: Q = (s, d) =>
    graft.operators.Analytics.gapFillDailySegmented(Tables.events(s, d))

  val ts1GapFillSql: String =
    """WITH daily AS (
      |  SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS n_events,
      |         CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS day_value
      |  FROM events GROUP BY 1, 2),
      |b AS (SELECT CAST(min(ts) AS DATE) AS d0, CAST(max(ts) AS DATE) AS d1 FROM events),
      |spine AS (SELECT t.event_type,
      |                 CAST(unnest(generate_series(b.d0, b.d1, INTERVAL 1 DAY)) AS DATE) AS day
      |          FROM (SELECT DISTINCT event_type FROM events) t CROSS JOIN b)
      |SELECT s.event_type, strftime(s.day, '%Y-%m-%d') AS day,
      |       coalesce(d.n_events, 0) AS n_events,
      |       coalesce(d.day_value, 0.0) AS sum_value,
      |       coalesce(last_value(d.day_value IGNORE NULLS) OVER (
      |         PARTITION BY s.event_type ORDER BY s.day
      |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0.0) AS last_seen_value
      |FROM spine s LEFT JOIN daily d ON s.event_type = d.event_type AND s.day = d.day""".stripMargin

  /** ANOM1 — trailing-7-day z-score anomaly flags on daily totals
    * ([[graft.operators.Analytics.dailyAnomalies]]); the z-score is
    * rounded BEFORE the threshold compare so the flag is reproducible. */
  val anom1Zscore: Q = (s, d) =>
    graft.operators.Analytics.dailyAnomalies(Tables.events(s, d))

  val anom1ZscoreSql: String =
    """WITH daily AS (
      |  SELECT event_type, CAST(ts AS DATE) AS day,
      |         CAST(sum(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS cents
      |  FROM events GROUP BY 1, 2),
      |w AS (
      |  SELECT event_type, day, cents,
      |         count(*) OVER win AS n,
      |         sum(CAST(cents AS DECIMAL(19,0))) OVER win AS s1,
      |         sum(CAST(cents AS DECIMAL(19,0)) * CAST(cents AS DECIMAL(19,0))) OVER win AS s2
      |  FROM daily
      |  WINDOW win AS (PARTITION BY event_type
      |                 ORDER BY datediff('day', DATE '1970-01-01', day)
      |                 RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)),
      |z AS (
      |  SELECT event_type, day, cents, n,
      |         CASE WHEN n > 1 AND (CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n) / (n - 1) > 0
      |              THEN floor(((CAST(cents AS DOUBLE) - CAST(s1 AS DOUBLE) / n)
      |                          / sqrt((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n) / (n - 1))) * 10000 + 0.5) / 10000
      |              ELSE 0.0 END AS zr
      |  FROM w)
      |SELECT event_type, strftime(day, '%Y-%m-%d') AS day,
      |       CAST(cents AS DOUBLE) / 100 AS day_value,
      |       zr AS z_score, abs(zr) > 2.0 AS is_anomaly
      |FROM z""".stripMargin

  /** ANOM2 — SEASONAL anomaly flags: each day scores against the trailing
    * 4 same-WEEKDAY observations
    * ([[graft.operators.Analytics.dailyAnomaliesSeasonal]]) — separates
    * "weekends are always low" from a genuinely anomalous weekend. The
    * weekday key is epoch_day mod 7 (engine-portable where locale
    * DAYOFWEEK drifts). */
  val anom2Seasonal: Q = (s, d) =>
    graft.operators.Analytics.dailyAnomaliesSeasonal(Tables.events(s, d))

  val anom2SeasonalSql: String =
    """WITH daily AS (
      |  SELECT event_type, CAST(ts AS DATE) AS day,
      |         CAST(sum(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS cents
      |  FROM events GROUP BY 1, 2),
      |d2 AS (SELECT event_type, day, cents,
      |              datediff('day', DATE '1970-01-01', day) AS eday,
      |              datediff('day', DATE '1970-01-01', day) % 7 AS dow
      |       FROM daily),
      |w AS (
      |  SELECT event_type, day, dow, cents,
      |         count(*) OVER win AS n,
      |         sum(CAST(cents AS DECIMAL(19,0))) OVER win AS s1,
      |         sum(CAST(cents AS DECIMAL(19,0)) * CAST(cents AS DECIMAL(19,0))) OVER win AS s2
      |  FROM d2
      |  WINDOW win AS (PARTITION BY event_type, dow ORDER BY eday
      |                 RANGE BETWEEN 21 PRECEDING AND CURRENT ROW)),
      |z AS (
      |  SELECT event_type, day, dow, cents, n,
      |         CASE WHEN n > 1 AND (CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n) / (n - 1) > 0
      |              THEN floor(((CAST(cents AS DOUBLE) - CAST(s1 AS DOUBLE) / n)
      |                          / sqrt((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n) / (n - 1))) * 10000 + 0.5) / 10000
      |              ELSE 0.0 END AS zr
      |  FROM w)
      |SELECT event_type, strftime(day, '%Y-%m-%d') AS day,
      |       CAST(dow AS BIGINT) AS dow,
      |       CAST(cents AS DOUBLE) / 100 AS day_value,
      |       zr AS z_score, abs(zr) > 2.0 AS is_anomaly
      |FROM z""".stripMargin

  /** LTV1 — cohort LTV curves ([[graft.operators.Analytics.cohortLtv]]):
    * per (first-seen cohort week, week offset), the week's purchase
    * revenue, cumulative revenue-to-date and distinct purchasers —
    * retention's revenue twin, cent-exact end to end. */
  val ltv1CohortLtv: Q = (s, d) =>
    graft.operators.Analytics.cohortLtv(Tables.events(s, d))

  val ltv1CohortLtvSql: String =
    """WITH f AS (SELECT user_id, date_trunc('week', min(ts)) AS cw
      |           FROM events GROUP BY user_id),
      |wk AS (SELECT e.user_id, date_trunc('week', e.ts) AS w,
      |              CAST(CAST(e.value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      |       FROM events e WHERE e.event_type = 'purchase'),
      |g AS (SELECT f.cw,
      |             CAST(datediff('day', f.cw, wk.w) / 7 AS BIGINT) AS week_offset,
      |             sum(cents) AS wc,
      |             CAST(count(DISTINCT wk.user_id) AS BIGINT) AS n_purchasers
      |      FROM wk JOIN f ON wk.user_id = f.user_id GROUP BY 1, 2)
      |SELECT strftime(CAST(cw AS TIMESTAMP), '%Y-%m-%d') AS cohort_week,
      |       week_offset,
      |       CAST(wc AS DOUBLE) / 100 AS week_revenue,
      |       CAST(sum(wc) OVER (PARTITION BY cw ORDER BY week_offset
      |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) / 100 AS cum_revenue,
      |       n_purchasers
      |FROM g""".stripMargin

  /** HIST1 — 20-bin equi-width histogram of order totals
    * ([[graft.operators.Analytics.equiWidthHistogram]]): bounds from a
    * 1-row aggregate broadcast in-DAG, binning as one map-side count. */
  val hist1Histogram: Q = (s, d) =>
    graft.operators.Analytics.equiWidthHistogram(
      Tables.orders(s, d), col("o_totalprice"), 20)

  val hist1HistogramSql: String =
    """WITH b AS (SELECT min(o_totalprice) AS mn, max(o_totalprice) AS mx FROM orders),
      |binned AS (
      |  SELECT CASE WHEN mx = mn THEN 0
      |              ELSE CAST(least(floor((o_totalprice - mn) * 20 / (mx - mn)), 19) AS BIGINT) END AS bin,
      |         mn, mx
      |  FROM orders CROSS JOIN b)
      |SELECT bin,
      |       floor((mn + bin * (mx - mn) / 20) * 100 + 0.5) / 100 AS bin_lo,
      |       floor((mn + (bin + 1) * (mx - mn) / 20) * 100 + 0.5) / 100 AS bin_hi,
      |       count(*) AS n
      |FROM binned GROUP BY bin, mn, mx""".stripMargin

  /** CORR1 — per-returnflag bivariate profile (means, sample variances,
    * covariance, Pearson corr) from one pass of EXACT decimal raw moments
    * ([[graft.operators.Analytics.numericProfile]]) — reproducible where
    * the built-in co-moment mergers are partition-order-sensitive. */
  val corr1Profile: Q = (s, d) =>
    graft.operators.Analytics.numericProfile(Tables.lineitem(s, d),
      col("l_returnflag"), col("l_quantity"), col("l_extendedprice"))

  val corr1ProfileSql: String =
    """WITH m AS (
      |  SELECT l_returnflag AS grp, count(*) AS n,
      |         sum(CAST(l_quantity AS DECIMAL(18,2))) AS sx,
      |         sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS sy,
      |         sum(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS sxx,
      |         sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS syy,
      |         sum(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS sxy
      |  FROM lineitem GROUP BY 1),
      |d AS (SELECT grp, n, CAST(n AS DOUBLE) AS nd,
      |             CAST(sx AS DOUBLE) AS sx, CAST(sy AS DOUBLE) AS sy,
      |             CAST(sxx AS DOUBLE) AS sxx, CAST(syy AS DOUBLE) AS syy,
      |             CAST(sxy AS DOUBLE) AS sxy
      |      FROM m)
      |SELECT grp, n,
      |       floor((sx / nd) * 10000 + 0.5) / 10000 AS mean_x,
      |       floor((sy / nd) * 10000 + 0.5) / 10000 AS mean_y,
      |       floor(((sxx - sx * sx / nd) / (nd - 1)) * 10000 + 0.5) / 10000 AS var_x,
      |       floor(((syy - sy * sy / nd) / (nd - 1)) * 10000 + 0.5) / 10000 AS var_y,
      |       floor(((sxy - sx * sy / nd) / (nd - 1)) * 10000 + 0.5) / 10000 AS covar,
      |       floor(((nd * sxy - sx * sy) / (sqrt(nd * sxx - sx * sx) * sqrt(nd * syy - sy * sy))) * 1000000 + 0.5) / 1000000 AS corr
      |FROM d""".stripMargin

  /** SMP3 — stratified sample with an exact per-language cap of 120 docs,
    * selected by md5-of-key order on the native top-k-per-key operator
    * ([[graft.operators.Sampling.stratifiedCap]]). */
  val smp3StratifiedCap: Q = (s, d) =>
    graft.operators.Sampling.stratifiedCap(Tables.documents(s, d), "lang", "doc_id", 120)

  val smp3StratifiedCapSql: String =
    """SELECT doc_id, text, lang, source, n_chars FROM (
      |  SELECT *, row_number() OVER (PARTITION BY lang
      |              ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
      |  FROM documents) t
      |WHERE rn <= 120""".stripMargin

  /** SMP4 — deterministic WEIGHTED sample without replacement (exactly 200
    * docs, inclusion odds ∝ n_chars+1): the Efraimidis–Spirakis
    * exponential race on md5-derived uniforms
    * ([[graft.operators.Sampling.weightedSample]]). The race key's one
    * libm call is grid-rounded before an IEEE-exact division, so the
    * DuckDB oracle replays the identical draw row-for-row — a weighted
    * sampler whose output is engine-portable, not merely "statistically
    * equivalent". */
  val smp4WeightedSample: Q = (s, d) =>
    graft.operators.Sampling.weightedSample(
      Tables.documents(s, d).select(col("doc_id"), col("n_chars")),
      col("doc_id"), col("n_chars") + lit(1L), 200)

  val smp4WeightedSampleSql: String =
    """WITH r AS (SELECT doc_id, n_chars,
      |  floor(-ln((('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12))::BIGINT)
      |            / 281474976710656.0) * 100000000 + 0.5) / 100000000
      |    / CAST(n_chars + 1 AS DOUBLE) AS race
      |  FROM documents)
      |SELECT doc_id, n_chars FROM r ORDER BY race, doc_id LIMIT 200""".stripMargin

  /** MB1 — market-basket pair mining over order item sets
    * ([[graft.operators.Analytics.marketBasketPairs]]): top co-occurring
    * part pairs by lift with support ≥ 2 orders. Pairs are generated
    * map-side from each order's sorted item array (bounded by basket size,
    * not catalog size — no items×items self-join); support and lift are
    * single IEEE divisions of decimal-exact integer products, so the full
    * DuckDB oracle hash-matches. */
  val mb1MarketBasket: Q = (s, d) =>
    graft.operators.Analytics.marketBasketPairs(
      Tables.lineitem(s, d), col("l_orderkey"), col("l_partkey"))
      .withColumnRenamed("item_a", "part_a")
      .withColumnRenamed("item_b", "part_b")

  val mb1MarketBasketSql: String =
    """WITH items AS (SELECT DISTINCT l_orderkey AS bkey, l_partkey AS item
      |               FROM lineitem),
      |n AS (SELECT count(DISTINCT bkey) AS n_baskets FROM items),
      |pc AS (SELECT item, count(*) AS cnt FROM items GROUP BY 1),
      |pr AS (SELECT a.item AS part_a, b.item AS part_b, count(*) AS n_pair
      |       FROM items a JOIN items b ON a.bkey = b.bkey AND a.item < b.item
      |       GROUP BY 1, 2 HAVING count(*) >= 2)
      |SELECT part_a, part_b, n_pair,
      |       CAST(n_pair AS DOUBLE) / n_baskets AS support,
      |       CAST(CAST(n_pair AS DECIMAL(19,0)) * CAST(n_baskets AS DECIMAL(19,0)) AS DOUBLE)
      |         / CAST(CAST(ca.cnt AS DECIMAL(19,0)) * CAST(cb.cnt AS DECIMAL(19,0)) AS DOUBLE) AS lift
      |FROM pr CROSS JOIN n
      |JOIN pc ca ON pr.part_a = ca.item
      |JOIN pc cb ON pr.part_b = cb.item
      |ORDER BY lift DESC, part_a, part_b
      |LIMIT 100""".stripMargin

  /** UNP1 — unpivot/melt: the wide per-flag aggregate turned into long
    * (flag, measure, value) form via Dataset.unpivot — the inverse of w4's
    * pivot, and like it a zero-shuffle reshape of an aggregated frame. */
  val unp1Unpivot: Q = (s, d) => {
    val wide = Tables.lineitem(s, d).groupBy(col("l_returnflag")).agg(
      decSum(col("l_quantity")).as("sum_qty"),
      decSum(col("l_extendedprice")).as("sum_price"),
      decSum(col("l_discount")).as("sum_disc"))
    wide.unpivot(Array(col("l_returnflag")),
      Array(col("sum_qty"), col("sum_price"), col("sum_disc")),
      "measure", "value")
  }

  val unp1UnpivotSql: String =
    """WITH w AS (SELECT l_returnflag,
      |    CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |    CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
      |    CAST(sum(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS sum_disc
      |  FROM lineitem GROUP BY 1)
      |SELECT l_returnflag, 'sum_qty' AS measure, sum_qty AS value FROM w
      |UNION ALL SELECT l_returnflag, 'sum_price', sum_price FROM w
      |UNION ALL SELECT l_returnflag, 'sum_disc', sum_disc FROM w""".stripMargin

  /** PMI1 — bigram collocation mining by pointwise mutual information
    * ([[graft.operators.TextAnalysis.bigramPmi]]). */
  val pmi1Collocations: Q = (s, d) =>
    graft.operators.TextAnalysis.bigramPmi(Tables.documents(s, d), minCount = 10)

  val pmi1CollocationsSql: String =
    """WITH toks AS (SELECT string_split(text, ' ') AS t FROM documents),
      |pairs AS (SELECT t[i] AS a, t[i+1] AS b
      |          FROM toks, LATERAL (SELECT unnest(generate_series(1, len(t) - 1)) AS i) u
      |          WHERE len(t) >= 2),
      |big AS (SELECT a, b, count(*) AS n_ab FROM pairs GROUP BY 1, 2),
      |uni AS (SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
      |unic AS (SELECT tok, count(*) AS n_tok FROM uni GROUP BY 1),
      |tot AS (SELECT (SELECT CAST(sum(n_tok) AS BIGINT) FROM unic) AS n_total,
      |               (SELECT CAST(sum(n_ab) AS BIGINT) FROM big) AS n_big)
      |SELECT big.a, big.b, n_ab,
      |       floor((ln((CAST(n_ab AS DOUBLE) / n_big) /
      |                 ((CAST(na.n_tok AS DOUBLE) / n_total) * (CAST(nb.n_tok AS DOUBLE) / n_total)))) * 10000 + 0.5) / 10000 AS pmi
      |FROM big
      |JOIN unic na ON big.a = na.tok
      |JOIN unic nb ON big.b = nb.tok
      |CROSS JOIN tot
      |WHERE n_ab >= 10""".stripMargin

  /** KN1 — interpolated Kneser–Ney bigram probabilities (D = 0.75) with
    * exact count plumbing and a continuation-probability backoff: the
    * production n-gram smoothing beside lm1's Laplace unigram.
    * See [[graft.operators.TextAnalysis.kneserNeyBigrams]]. */
  val kn1KneserNey: Q = (s, d) =>
    graft.operators.TextAnalysis.kneserNeyBigrams(Tables.documents(s, d), minCount = 10)

  val kn1KneserNeySql: String =
    """WITH toks AS (SELECT string_split(text, ' ') AS t FROM documents),
      |pairs AS (SELECT t[i] AS a, t[i+1] AS b
      |          FROM toks, LATERAL (SELECT unnest(generate_series(1, len(t) - 1)) AS i) u
      |          WHERE len(t) >= 2),
      |big AS (SELECT a, b, count(*) AS n_ab FROM pairs GROUP BY 1, 2),
      |l AS (SELECT a, CAST(sum(n_ab) AS BIGINT) AS c_a,
      |             CAST(count(*) AS BIGINT) AS n1p_a FROM big GROUP BY 1),
      |r AS (SELECT b, CAST(count(*) AS BIGINT) AS n1p_b FROM big GROUP BY 1),
      |ty AS (SELECT CAST(count(*) AS BIGINT) AS n_types FROM big)
      |SELECT a, b, n_ab, c_a, n1p_a, n1p_b,
      |       floor((greatest(CAST(n_ab AS DOUBLE) - 0.75, 0.0) / CAST(c_a AS DOUBLE)
      |              + 0.75 * CAST(n1p_a AS DOUBLE) / CAST(c_a AS DOUBLE)
      |                * (CAST(n1p_b AS DOUBLE) / CAST(n_types AS DOUBLE))) * 1000000 + 0.5) / 1000000 AS p_kn
      |FROM big JOIN l USING (a) JOIN r USING (b) CROSS JOIN ty
      |WHERE n_ab >= 10""".stripMargin

  /** LM1 — per-document unigram-LM surprisal, the CCNet-style fluency
    * score ([[graft.operators.TextAnalysis.unigramSurprisal]]). */
  val lm1Surprisal: Q = (s, d) =>
    graft.operators.TextAnalysis.unigramSurprisal(Tables.documents(s, d))

  val lm1SurprisalSql: String =
    """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
      |c AS (SELECT tok, count(*) AS n_w FROM toks GROUP BY 1),
      |tot AS (SELECT CAST(sum(n_w) AS BIGINT) AS n_total, count(*) AS v_size FROM c),
      |s AS (SELECT doc_id,
      |        floor((-ln(CAST(n_w + 1 AS DOUBLE) / CAST(n_total + v_size AS DOUBLE))) * 1000000 + 0.5) / 1000000 AS surp
      |      FROM toks JOIN c USING (tok) CROSS JOIN tot)
      |SELECT doc_id, count(*) AS n_tokens,
      |       floor((CAST(sum(CAST(surp AS DECIMAL(18,6))) AS DOUBLE) / count(*)) * 10000 + 0.5) / 10000 AS avg_surprisal
      |FROM s GROUP BY doc_id""".stripMargin

  // canary candidate families, shared by the canary1 query AND its
  // oracle: per insertion level k, 16 candidates of the same format —
  // 4 family-shared prefix tokens + 2 per-candidate secret tokens; the
  // TRUE canary (the one inserted k times) takes the LARGEST id so the
  // k=0 all-tied family ranks it dead last (the honest negative
  // control)
  private val canaryFamilies: Seq[(Int, Int, Boolean, String)] =
    for { k <- Seq(0, 1, 4, 16); j <- 0 until 16 } yield {
      val text = s"cn${k}_p1 cn${k}_p2 cn${k}_p3 cn${k}_p4 s${k}_${j}_1 s${k}_${j}_2"
      (k, j, j == 15, text)
    }

  /** CANARY1 — secret-sharer canary exposure
    * ([[graft.operators.TextAnalysis.canaryExposure]]): the true
    * canary of each k-family inserted k ∈ {0, 1, 4, 16} times into the
    * train corpus, exposure/rank/margin measured against 15 controls.
    * Under the unigram model rank is threshold-shaped (any k ≥ 1 →
    * rank 1, the n-gram-memorization finding; k = 0 → rank 16 by the
    * largest-id tie-break) and the k-dependence lives in the margin,
    * which grows ≈ ln(k+1)/3 — all spec-pinned. */
  val canary1Exposure: Q = (s, d) => {
    import s.implicits._
    val cands = canaryFamilies.toDF("k", "cand_id", "is_true", "text")
    val inserted = canaryFamilies.filter(t => t._3 && t._1 > 0)
      .flatMap { case (k, _, _, text) => Seq.fill(k)(text) }.toDF("text")
    val train = Tables.documents(s, d).select(col("text"))
      .unionByName(inserted)
    TextAnalysis.canaryExposure(train, cands, 16)
  }

  val canary1ExposureSql: String = {
    val candValues = canaryFamilies.map { case (k, j, t, x) =>
      s"($k, $j, $t, '$x')" }.mkString(",\n      |    ")
    val insValues = canaryFamilies.filter(t => t._3 && t._1 > 0)
      .flatMap { case (k, _, _, x) => Seq.fill(k)(s"('$x')") }
      .mkString(", ")
    val microScore =
      "floor(CAST(sum(m) AS DOUBLE) / count(*) / 1000000 * 10000 + 0.5) / 10000"
    s"""WITH cand AS (SELECT * FROM (VALUES
       |    $candValues
       |  ) v(k, cand_id, is_true, text)),
       |train AS (SELECT text FROM documents
       |          UNION ALL SELECT * FROM (VALUES $insValues) i(text)),
       |c AS (SELECT tok, count(*) AS n_w
       |      FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM train) tt
       |      GROUP BY 1),
       |tot AS (SELECT CAST(sum(n_w) AS BIGINT) AS n_total, count(*) AS v_size FROM c),
       |tk AS (SELECT k, cand_id, is_true,
       |              unnest(string_split(text, ' ')) AS tok FROM cand),
       |sr AS (SELECT k, cand_id, is_true,
       |         CAST(floor((-ln(CAST(COALESCE(n_w, 0) + 1 AS DOUBLE)
       |                          / CAST(n_total + v_size AS DOUBLE))) * 1000000 + 0.5) AS BIGINT) AS m
       |       FROM tk LEFT JOIN c USING (tok) CROSS JOIN tot),
       |sc AS (SELECT k, cand_id, is_true, $microScore AS score
       |       FROM sr GROUP BY 1, 2, 3),
       |rk AS (SELECT *, row_number() OVER (PARTITION BY k
       |                   ORDER BY score, cand_id) AS rn FROM sc),
       |tr AS (SELECT k, score AS true_score, CAST(rn AS BIGINT) AS rank
       |       FROM rk WHERE is_true),
       |ct AS (SELECT k, min(score) AS min_control,
       |         ${portableRoundSql("CAST(sum(CAST(floor(score * 10000 + 0.5) AS BIGINT)) AS DOUBLE) / 10000 / count(*)", 4)} AS mean_control
       |       FROM sc WHERE NOT is_true GROUP BY k)
       |SELECT CAST(t.k AS INTEGER) AS k, true_score, mean_control, min_control,
       |       ${portableRoundSql("min_control - true_score", 4)} AS margin,
       |       rank,
       |       ${portableRoundSql("ln(16.0 / rank) / ln(2.0)", 4)} AS exposure,
       |       min_control - true_score > 0.05 AS detected
       |FROM tr t JOIN ct USING (k)""".stripMargin
  }

  /** TYPO1 — SymSpell-style spell-noise audit
    * ([[graft.operators.TextAnalysis.spellNoise]]): rare tokens at edit
    * distance 1 from a ≥10×-more-frequent token, with the best
    * correction. The word-soup fixture is typo-free (31 clean tokens,
    * every count ≥ fixture floor), so four PLANTED typo docs make the
    * audit non-degenerate — deletion/insertion/substitution forms of
    * table/query/window ("tble", "tablee", "tarle", "qery", "winow")
    * plus the "zzz" decoy with no neighbor, all spec-pinned. */
  val typo1SpellNoise: Q = (s, d) => {
    import s.implicits._
    val planted = Seq(
      ("planted_typos", "tble tble tablee tarle zzz"),
      ("planted_typos", "qery winow winow"))
      .toDF("source", "text")
    TextAnalysis.spellNoise(
      Tables.documents(s, d).select(col("source"), col("text"))
        .unionByName(planted))
  }

  val typo1SpellNoiseSql: String =
    """WITH base AS (
      |  SELECT text FROM documents
      |  UNION ALL
      |  SELECT * FROM (VALUES ('tble tble tablee tarle zzz'),
      |                        ('qery winow winow')) v(text)),
      |v AS (SELECT tok, CAST(count(*) AS BIGINT) AS cnt
      |      FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM base) t
      |      GROUP BY 1),
      |r AS (SELECT tok, cnt FROM v WHERE cnt <= 3),
      |f AS (SELECT tok, cnt FROM v WHERE cnt >= 10),
      |p AS (SELECT r.tok, r.cnt, f.tok AS ftok, f.cnt AS fcnt,
      |        row_number() OVER (PARTITION BY r.tok
      |          ORDER BY f.cnt DESC, f.tok) AS rn
      |      FROM r JOIN f ON levenshtein(r.tok, f.tok) = 1
      |                   AND f.cnt >= r.cnt * 10)
      |SELECT tok AS token, cnt AS token_count,
      |       ftok AS correction, fcnt AS correction_count
      |FROM p WHERE rn = 1""".stripMargin

  /** MINK1 — Min-K% Prob membership inference
    * ([[graft.operators.TextAnalysis.minKMembership]]): the %7 held-in
    * docs play the training set (members); the %7 held-out docs play
    * external text, with every 5th token drifted to a novel "_x" form —
    * the unseen-token mass a genuinely external document carries (the
    * mem1/est1 synthesis discipline; without it the shared word-soup
    * vocabulary makes member and non-member indistinguishable, which is
    * itself the honest no-leakage reading). Reported per class: doc
    * count, the Min-20% score, and the full-mean surprisal for
    * contrast — the spec pins member < non-member on both, with the
    * top-k gap the wider one. */
  val mink1Membership: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val train = docs.filter(col("doc_id") % 7 =!= 0)
    val heldOut = docs.filter(col("doc_id") % 7 === 0)
      .select(col("doc_id"),
        array_join(transform(split(col("text"), " "),
          (w, i) => when(i % 5 === 0, concat(w, lit("_x"))).otherwise(w)),
          " ").as("text"))
    val probe = train.select(col("doc_id"), col("text"))
      .withColumn("is_member", lit(true))
      .unionByName(heldOut.withColumn("is_member", lit(false)))
    TextAnalysis.minKMembership(train, probe)
  }

  val mink1MembershipSql: String = {
    val microMean = (c: String) =>
      s"CAST(sum(CAST(floor($c * 10000 + 0.5) AS BIGINT)) AS DOUBLE) / 10000 / count(*)"
    s"""WITH train AS (SELECT text FROM documents WHERE doc_id % 7 <> 0),
       |probe AS (
       |  SELECT doc_id, true AS is_member, text FROM documents WHERE doc_id % 7 <> 0
       |  UNION ALL
       |  SELECT doc_id, false AS is_member,
       |    array_to_string([CASE WHEN (i - 1) % 5 = 0 THEN t[i] || '_x' ELSE t[i] END
       |                     FOR i IN RANGE(1, len(t) + 1)], ' ') AS text
       |  FROM (SELECT doc_id, string_split(text, ' ') AS t
       |        FROM documents WHERE doc_id % 7 = 0) h),
       |c AS (SELECT tok, count(*) AS n_w
       |      FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM train) tt
       |      GROUP BY 1),
       |tot AS (SELECT CAST(sum(n_w) AS BIGINT) AS n_total, count(*) AS v_size FROM c),
       |tk AS (SELECT doc_id, is_member, unnest(string_split(text, ' ')) AS tok FROM probe),
       |sr AS (SELECT doc_id, is_member,
       |         CAST(floor((-ln(CAST(COALESCE(n_w, 0) + 1 AS DOUBLE)
       |                          / CAST(n_total + v_size AS DOUBLE))) * 1000000 + 0.5) AS BIGINT) AS m
       |       FROM tk LEFT JOIN c USING (tok) CROSS JOIN tot),
       |dd AS (SELECT doc_id, is_member,
       |         list_sort(list(m), 'DESC') AS ms, count(*) AS n
       |       FROM sr GROUP BY 1, 2),
       |pd AS (SELECT is_member, CAST(ceil(n * 0.2) AS BIGINT) AS k, ms, n FROM dd),
       |pm AS (SELECT is_member,
       |         ${portableRoundSql("CAST(list_sum(ms[1:k]) AS DOUBLE) / k / 1000000", 4)} AS mink,
       |         ${portableRoundSql("CAST(list_sum(ms) AS DOUBLE) / n / 1000000", 4)} AS fullm
       |       FROM pd)
       |SELECT is_member, CAST(count(*) AS BIGINT) AS n_docs,
       |       ${portableRoundSql(microMean("mink"), 4)} AS mean_mink,
       |       ${portableRoundSql(microMean("fullm"), 4)} AS mean_surprisal
       |FROM pm GROUP BY is_member""".stripMargin
  }

  /** PPL1 — CCNet-style perplexity partition (Wenzek et al. 2020): every
    * document bucketed head/middle/tail WITHIN its language by rank-exact
    * unigram-surprisal tertiles — the canonical crawl-quality partition
    * (keep head, sample middle, drop tail), built on lm1's fluency score.
    * See [[graft.operators.TextAnalysis.perplexityBuckets]]. */
  val ppl1PerplexityBuckets: Q = (s, d) =>
    graft.operators.TextAnalysis.perplexityBuckets(Tables.documents(s, d))

  val ppl1PerplexityBucketsSql: String =
    """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
      |c AS (SELECT tok, count(*) AS n_w FROM toks GROUP BY 1),
      |tot AS (SELECT CAST(sum(n_w) AS BIGINT) AS n_total, count(*) AS v_size FROM c),
      |s AS (SELECT doc_id,
      |        floor((-ln(CAST(n_w + 1 AS DOUBLE) / CAST(n_total + v_size AS DOUBLE))) * 1000000 + 0.5) / 1000000 AS surp
      |      FROM toks JOIN c USING (tok) CROSS JOIN tot),
      |a AS (SELECT doc_id, count(*) AS n_tokens,
      |        floor((CAST(sum(CAST(surp AS DECIMAL(18,6))) AS DOUBLE) / count(*)) * 10000 + 0.5) / 10000 AS avg_surprisal
      |      FROM s GROUP BY doc_id),
      |q AS (SELECT a.doc_id, d.lang, a.n_tokens, a.avg_surprisal,
      |        row_number() OVER (PARTITION BY d.lang ORDER BY a.avg_surprisal, a.doc_id) AS rn,
      |        count(*) OVER (PARTITION BY d.lang) AS n
      |      FROM a JOIN documents d USING (doc_id))
      |SELECT doc_id, lang, n_tokens, avg_surprisal,
      |       CAST((rn - 1) * 3 // n + 1 AS INTEGER) AS bucket_id,
      |       CASE (rn - 1) * 3 // n + 1 WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
      |            ELSE 'tail' END AS bucket
      |FROM q""".stripMargin

  /** CURR1 — curriculum training order: easy→hard annealing over ppl1's
    * quality partition (all head docs first, then middle, then tail),
    * salted shuffle within each band — the macro order is the
    * curriculum, the micro order stays decorrelated. One keyed window on
    * (bucket, shard); shuf1's discipline with the band prepended.
    * See [[graft.operators.Sampling.curriculumOrder]]. */
  val curr1CurriculumOrder: Q = (s, d) =>
    graft.operators.Sampling.curriculumOrder(Tables.documents(s, d))

  val curr1CurriculumOrderSql: String = {
    val shardE = md5BucketSql("'cur-sh:' || CAST(doc_id AS VARCHAR)", 8)
    val ordE = md5BucketSql("'cur-ord:' || CAST(doc_id AS VARCHAR)", 100000000)
    s"""WITH p AS ($ppl1PerplexityBucketsSql)
       |SELECT doc_id, lang, bucket_id, bucket,
       |       CAST($shardE AS BIGINT) AS shard,
       |       CAST(row_number() OVER (PARTITION BY bucket_id, $shardE
       |                               ORDER BY $ordE, doc_id) AS BIGINT) AS pos
       |FROM p""".stripMargin
  }

  /** HEAPS1 — Heaps'-law vocabulary-growth audit (zipf1's companion):
    * cumulative vocab at doc-rank checkpoints 1, 2, 4, … with the
    * fitted growth exponent β. β ≈ 0 flags a closed/saturated
    * vocabulary (template spam, synthetic text) — the fixture's
    * 31-type vocab reads exactly that.
    * See [[graft.operators.TextAnalysis.heapsLaw]]. */
  val heaps1VocabGrowth: Q = (s, d) =>
    graft.operators.TextAnalysis.heapsLaw(Tables.documents(s, d))

  val heaps1VocabGrowthSql: String = {
    def r9(x: String) = s"floor(($x) * 1000000000 + 0.5) / 1000000000"
    def dsum(x: String) = s"CAST(sum(CAST(${r9(x)} AS DECIMAL(28,9))) AS DOUBLE)"
    s"""WITH d AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks,
       |             row_number() OVER (ORDER BY doc_id) AS ord
       |           FROM documents),
       |cks AS (SELECT CAST(pow(2, k) AS BIGINT) AS ck
       |        FROM (SELECT unnest(generate_series(0, 62)) AS k) kk
       |        WHERE CAST(pow(2, k) AS BIGINT) <= (SELECT count(*) FROM documents)),
       |t AS (SELECT ck, CAST(sum(n_toks) AS BIGINT) AS n_tokens
       |      FROM d JOIN cks ON d.ord <= cks.ck GROUP BY ck),
       |ft AS (SELECT tok, min(doc_id) AS fd
       |       FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents) tt
       |       WHERE len(tok) > 0 GROUP BY tok),
       |fo AS (SELECT ft.tok, d.ord FROM ft JOIN d ON ft.fd = d.doc_id),
       |v AS (SELECT ck, CAST(count(*) AS BIGINT) AS vocab
       |      FROM fo JOIN cks ON fo.ord <= cks.ck GROUP BY ck),
       |p AS (SELECT ck, n_tokens, vocab,
       |             ${r9("ln(CAST(n_tokens AS DOUBLE))")} AS x,
       |             ${r9("ln(CAST(vocab AS DOUBLE))")} AS y
       |      FROM t JOIN v USING (ck)),
       |m AS (SELECT CAST(count(*) AS DOUBLE) AS np,
       |             ${dsum("x")} AS sx, ${dsum("y")} AS sy,
       |             ${dsum("x * x")} AS sxx, ${dsum("x * y")} AS sxy
       |      FROM p),
       |fit AS (SELECT CASE WHEN np * sxx - sx * sx > 0
       |               THEN floor((np * sxy - sx * sy) / (np * sxx - sx * sx) * 1000000 + 0.5) / 1000000
       |               ELSE 0.0 END AS beta FROM m)
       |SELECT ck AS ck_docs, n_tokens, vocab, beta
       |FROM p CROSS JOIN fit""".stripMargin
  }

  /** PATH1 — first-order Markov transitions over user event paths
    * ([[graft.operators.Analytics.pathTransitions]]). */
  val path1Transitions: Q = (s, d) =>
    graft.operators.Analytics.pathTransitions(Tables.events(s, d))

  val path1TransitionsSql: String =
    """WITH steps AS (
      |  SELECT event_type AS from_type,
      |         lead(event_type) OVER (PARTITION BY user_id
      |                                ORDER BY ts, event_id) AS to_type
      |  FROM events),
      |c AS (SELECT from_type, to_type, count(*) AS n FROM steps
      |      WHERE to_type IS NOT NULL GROUP BY 1, 2)
      |SELECT from_type, to_type, n,
      |       floor((CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY from_type)) * 1000000 + 0.5) / 1000000 AS p
      |FROM c""".stripMargin

  /** NU1 — daily new users + cumulative acquisition curve
    * ([[graft.operators.Analytics.newUsersCurve]]). */
  val nu1NewUsers: Q = (s, d) =>
    graft.operators.Analytics.newUsersCurve(Tables.events(s, d))

  val nu1NewUsersSql: String =
    """WITH f AS (SELECT user_id, CAST(min(ts) AS DATE) AS day FROM events GROUP BY 1),
      |d AS (SELECT day, count(*) AS n_new FROM f GROUP BY 1)
      |SELECT strftime(day, '%Y-%m-%d') AS day, n_new,
      |       CAST(sum(n_new) OVER (ORDER BY day
      |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_users
      |FROM d""".stripMargin

  /** EXP1 — A/B experiment readout with deterministic arm assignment and
    * a pooled two-proportion z-statistic
    * ([[graft.operators.Analytics.abTest]]). */
  val exp1AbTest: Q = (s, d) =>
    graft.operators.Analytics.abTest(Tables.events(s, d))

  val exp1AbTestSql: String = {
    val bucket = md5BucketSql("CAST(user_id AS VARCHAR)")
    s"""WITH u AS (SELECT user_id,
       |             CAST(coalesce(sum(CASE WHEN event_type = 'purchase'
       |                               THEN CAST(value AS DECIMAL(18,2)) END), 0) > 500 AS BIGINT) AS converted
       |           FROM events GROUP BY 1),
       |a AS (SELECT CASE WHEN $bucket < 5000 THEN 'A' ELSE 'B' END AS variant, converted FROM u),
       |m AS (SELECT
       |        CAST(sum(CASE WHEN variant = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
       |        CAST(sum(CASE WHEN variant = 'A' THEN converted ELSE 0 END) AS BIGINT) AS conv_a,
       |        CAST(sum(CASE WHEN variant = 'B' THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
       |        CAST(sum(CASE WHEN variant = 'B' THEN converted ELSE 0 END) AS BIGINT) AS conv_b
       |      FROM a),
       |dd AS (SELECT n_a, conv_a, n_b, conv_b,
       |              CAST(n_a AS DOUBLE) AS nad, CAST(n_b AS DOUBLE) AS nbd,
       |              CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS pa,
       |              CAST(conv_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS pb,
       |              CAST(conv_a + conv_b AS DOUBLE) / (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE)) AS pp
       |       FROM m)
       |SELECT n_a, conv_a, n_b, conv_b,
       |       CASE WHEN n_a > 0 THEN floor(pa * 1000000 + 0.5) / 1000000 ELSE 0.0 END AS rate_a,
       |       CASE WHEN n_b > 0 THEN floor(pb * 1000000 + 0.5) / 1000000 ELSE 0.0 END AS rate_b,
       |       CASE WHEN n_a > 0 AND n_b > 0 AND pp > 0 AND pp < 1
       |            THEN floor(((pa - pb) / sqrt(pp * (1.0 - pp) * (1.0 / nad + 1.0 / nbd))) * 10000 + 0.5) / 10000
       |            ELSE 0.0 END AS z_score
       |FROM dd""".stripMargin
  }

  /** SMP6 — temporal train/embargo/test split with leakage audit: train
    * on the first 70% of the time range, 10% embargo gap, test on the
    * rest (cuts in exact integer micros); per split: event/user counts,
    * actual span, and how many of its users also appear in train — the
    * residual user-overlap an entity split would remove, reported as a
    * number. The time-series holdout beside smp2 (hash) and smp5
    * (group). See [[graft.operators.Sampling.temporalSplit]]. */
  val smp6TemporalSplit: Q = (s, d) =>
    graft.operators.Sampling.temporalSplit(Tables.events(s, d))

  val smp6TemporalSplitSql: String =
    """WITH b AS (SELECT min(epoch_us(CAST(ts AS TIMESTAMP))) AS t0,
      |                  max(epoch_us(CAST(ts AS TIMESTAMP))) AS t1 FROM events),
      |e AS (SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
      |t AS (SELECT user_id, us,
      |        CASE WHEN us <= t0 + ((t1 - t0) * 70) // 100 THEN 'train'
      |             WHEN us <= t0 + ((t1 - t0) * 80) // 100 THEN 'embargo'
      |             ELSE 'test' END AS split
      |      FROM e CROSS JOIN b),
      |tu AS (SELECT DISTINCT user_id FROM t WHERE split = 'train'),
      |lk AS (SELECT split, CAST(count(DISTINCT t.user_id) AS BIGINT) AS leak_users
      |       FROM t JOIN tu ON t.user_id = tu.user_id GROUP BY split)
      |SELECT t.split, CAST(count(*) AS BIGINT) AS n_events,
      |       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
      |       min(us) AS first_us, max(us) AS last_us,
      |       CAST(coalesce(any_value(lk.leak_users), 0) AS BIGINT) AS leak_users
      |FROM t LEFT JOIN lk ON t.split = lk.split
      |GROUP BY t.split""".stripMargin

  /** EXP2 — CUPED-adjusted A/B readout
    * ([[graft.operators.Analytics.cupedAbTest]]): θ = cov(pre, post)/
    * var(pre) over per-user purchase cents split at the time-range
    * midpoint, each variant's post mean adjusted by −θ·(pre mean −
    * global pre mean). Exact decimal moments, fixed-formula doubles, and
    * an integer-micros midpoint — the full oracle hash-matches. */
  val exp2CupedAbTest: Q = (s, d) =>
    graft.operators.Analytics.cupedAbTest(Tables.events(s, d))

  val exp2CupedAbTestSql: String = {
    val bucket = md5BucketSql("CAST(user_id AS VARCHAR)")
    def d19(x: String) = s"CAST($x AS DECIMAL(19,0))"
    s"""WITH b AS (SELECT min(epoch_us(CAST(ts AS TIMESTAMP))) AS t0,
       |                  max(epoch_us(CAST(ts AS TIMESTAMP))) AS t1 FROM events),
       |e AS (SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us, event_type,
       |             CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
       |      FROM events),
       |u AS (SELECT user_id,
       |             coalesce(sum(CASE WHEN event_type = 'purchase' AND us < t0 + (t1 - t0) // 2 THEN cents END), 0) AS x,
       |             coalesce(sum(CASE WHEN event_type = 'purchase' AND us >= t0 + (t1 - t0) // 2 THEN cents END), 0) AS y
       |      FROM e CROSS JOIN b GROUP BY user_id),
       |v AS (SELECT x, y, CASE WHEN $bucket < 5000 THEN 'A' ELSE 'B' END AS variant
       |      FROM u),
       |m AS (SELECT count(*) AS n,
       |             sum(${d19("x")}) AS sx, sum(${d19("y")}) AS sy,
       |             sum(${d19("x")} * ${d19("x")}) AS sxx,
       |             sum(${d19("x")} * ${d19("y")}) AS sxy,
       |             CAST(sum(CASE WHEN variant = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
       |             sum(CASE WHEN variant = 'A' THEN ${d19("x")} ELSE ${d19("0")} END) AS sxa,
       |             sum(CASE WHEN variant = 'A' THEN ${d19("y")} ELSE ${d19("0")} END) AS sya,
       |             CAST(sum(CASE WHEN variant = 'B' THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
       |             sum(CASE WHEN variant = 'B' THEN ${d19("x")} ELSE ${d19("0")} END) AS sxb,
       |             sum(CASE WHEN variant = 'B' THEN ${d19("y")} ELSE ${d19("0")} END) AS syb
       |      FROM v),
       |d AS (SELECT n, n_a, n_b,
       |             CAST(n AS DOUBLE) AS nd, CAST(sx AS DOUBLE) AS sxd,
       |             CAST(sy AS DOUBLE) AS syd, CAST(sxx AS DOUBLE) AS sxxd,
       |             CAST(sxy AS DOUBLE) AS sxyd,
       |             CAST(sxa AS DOUBLE) AS sxad, CAST(sya AS DOUBLE) AS syad,
       |             CAST(sxb AS DOUBLE) AS sxbd, CAST(syb AS DOUBLE) AS sybd
       |      FROM m),
       |t AS (SELECT *,
       |             sxxd - sxd * sxd / nd AS varx,
       |             (sxyd - sxd * syd / nd) / (sxxd - sxd * sxd / nd) AS th,
       |             sxd / nd AS xbar
       |      FROM d)
       |SELECT n_a, n_b,
       |       CASE WHEN n > 1 AND varx > 0
       |            THEN floor(th * 1000000 + 0.5) / 1000000 ELSE 0.0 END AS theta,
       |       CASE WHEN n_a > 0
       |            THEN floor((syad / CAST(n_a AS DOUBLE) / 100) * 10000 + 0.5) / 10000
       |            ELSE 0.0 END AS raw_a,
       |       CASE WHEN n_b > 0
       |            THEN floor((sybd / CAST(n_b AS DOUBLE) / 100) * 10000 + 0.5) / 10000
       |            ELSE 0.0 END AS raw_b,
       |       CASE WHEN n_a > 0 AND n > 1 AND varx > 0
       |            THEN floor(((syad / CAST(n_a AS DOUBLE) - th * (sxad / CAST(n_a AS DOUBLE) - xbar)) / 100) * 10000 + 0.5) / 10000
       |            ELSE 0.0 END AS adj_a,
       |       CASE WHEN n_b > 0 AND n > 1 AND varx > 0
       |            THEN floor(((sybd / CAST(n_b AS DOUBLE) - th * (sxbd / CAST(n_b AS DOUBLE) - xbar)) / 100) * 10000 + 0.5) / 10000
       |            ELSE 0.0 END AS adj_b
       |FROM t""".stripMargin
  }

  /** TT1 — Welch's unequal-variance t-test
    * ([[graft.operators.Analytics.welchTTest]]) between the deterministic
    * A/B split on per-user purchase revenue: t statistic +
    * Welch–Satterthwaite df from one exact-decimal moment aggregate. */
  /** IPW1 — inverse-propensity-weighted (Hájek) effect of view-dominant
    * behavior (views > clicks — a non-randomized condition) on purchase
    * revenue: logistic propensity on signup/error counts via the
    * exact micro-unit GD, per-user p̂ snapped to the 1e-6 grid and
    * clamped on-grid, weighted terms snapped to integer grids BEFORE
    * the exact decimal folds, Hájek ratios on the 1e-4 dollar grid.
    * See [[graft.operators.Analytics.ipwEffect]]. */
  val ipw1Effect: Q = (s, d) =>
    graft.operators.Analytics.ipwEffect(Tables.events(s, d))

  val ipw1EffectSql: String = {
    def microSum(expr: String, as: String) =
      s"CAST(sum(CAST(floor(($expr) * 1000000 + 0.5) AS BIGINT)) AS BIGINT) AS $as"
    val iters = 3
    val gd = (1 to iters).map { k =>
      s""",
         |s$k AS (SELECT y, x0, x1, x2,
         |              1.0 / (1.0 + exp(-(c0 * x0 + c1 * x1 + c2 * x2))) AS sg
         |       FROM d CROSS JOIN b${k - 1}),
         |g$k AS (SELECT ${microSum("(sg - y) * x0", "g0")},
         |              ${microSum("(sg - y) * x1", "g1")},
         |              ${microSum("(sg - y) * x2", "g2")}
         |       FROM s$k),
         |b$k AS (SELECT floor((c0 - 1.0 * (CAST(g0 AS DOUBLE) / 1000000 / n)) * 1000000 + 0.5) / 1000000 AS c0,
         |              floor((c1 - 1.0 * (CAST(g1 AS DOUBLE) / 1000000 / n)) * 1000000 + 0.5) / 1000000 AS c1,
         |              floor((c2 - 1.0 * (CAST(g2 AS DOUBLE) / 1000000 / n)) * 1000000 + 0.5) / 1000000 AS c2
         |       FROM g$k CROSS JOIN b${k - 1} CROSS JOIN nn)""".stripMargin
    }.mkString
    s"""WITH u AS (
       |  SELECT user_id, signups, errors, y_cents,
       |         CASE WHEN vmc > 0 THEN CAST(1 AS BIGINT) ELSE 0 END AS t
       |  FROM (SELECT user_id,
       |    CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signups,
       |    CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS errors,
       |    CAST(sum(CASE WHEN event_type = 'view' THEN 1
       |             WHEN event_type = 'click' THEN -1 ELSE 0 END) AS BIGINT) AS vmc,
       |    CAST(sum(CASE WHEN event_type = 'purchase'
       |             THEN CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
       |             ELSE 0 END) AS BIGINT) AS y_cents
       |  FROM events GROUP BY 1)),
       |d AS (SELECT CAST(t AS DOUBLE) AS y, CAST(1.0 AS DOUBLE) AS x0,
       |        CAST(signups AS DOUBLE) / 100.0 AS x1,
       |        CAST(errors AS DOUBLE) / 100.0 AS x2 FROM u),
       |nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM d),
       |b0 AS (SELECT CAST(0.0 AS DOUBLE) AS c0, CAST(0.0 AS DOUBLE) AS c1,
       |              CAST(0.0 AS DOUBLE) AS c2)$gd,
       |sc AS (SELECT u.*,
       |         least(greatest(
       |           floor((1.0 / (1.0 + exp(-(c0 * 1.0 +
       |             c1 * (CAST(signups AS DOUBLE) / 100.0) +
       |             c2 * (CAST(errors AS DOUBLE) / 100.0))))) * 1000000 + 0.5) / 1000000,
       |           0.000001), 0.999999) AS p
       |       FROM u CROSS JOIN b$iters),
       |agg AS (SELECT CAST(count(*) AS BIGINT) AS n,
       |          CAST(sum(t) AS BIGINT) AS n_treated,
       |          sum(CAST(CASE WHEN t = 1 THEN CAST(floor(CAST(y_cents AS DOUBLE) / p + 0.5) AS BIGINT) ELSE 0 END AS HUGEINT)) AS num1,
       |          sum(CAST(CASE WHEN t = 1 THEN CAST(floor(1000000.0 / p + 0.5) AS BIGINT) ELSE 0 END AS HUGEINT)) AS den1,
       |          sum(CAST(CASE WHEN t = 0 THEN CAST(floor(CAST(y_cents AS DOUBLE) / (1.0 - p) + 0.5) AS BIGINT) ELSE 0 END AS HUGEINT)) AS num0,
       |          sum(CAST(CASE WHEN t = 0 THEN CAST(floor(1000000.0 / (1.0 - p) + 0.5) AS BIGINT) ELSE 0 END AS HUGEINT)) AS den0
       |        FROM sc)
       |SELECT n, n_treated, b$iters.c0 AS b0, b$iters.c1 AS b1, b$iters.c2 AS b2,
       |  CASE WHEN den1 > 0 THEN floor((CAST(num1 AS DOUBLE) * 1000000.0 / CAST(den1 AS DOUBLE) / 100.0) * 10000 + 0.5) / 10000 ELSE 0.0 END AS mu_treated,
       |  CASE WHEN den0 > 0 THEN floor((CAST(num0 AS DOUBLE) * 1000000.0 / CAST(den0 AS DOUBLE) / 100.0) * 10000 + 0.5) / 10000 ELSE 0.0 END AS mu_control,
       |  CASE WHEN den1 > 0 AND den0 > 0
       |       THEN floor((CAST(num1 AS DOUBLE) * 1000000.0 / CAST(den1 AS DOUBLE) / 100.0
       |                   - CAST(num0 AS DOUBLE) * 1000000.0 / CAST(den0 AS DOUBLE) / 100.0) * 10000 + 0.5) / 10000
       |       ELSE 0.0 END AS ate
       |FROM agg CROSS JOIN b$iters""".stripMargin
  }

  /** DR1 — doubly-robust (AIPW) effect of view-dominant behavior on
    * purchase revenue: per-arm closed-form ridge outcome models on the
    * integer covariates (micro-cent BIGINT coefficients → exact
    * predictions/residuals) + ipw1's snapped clamped propensity, each
    * correction term snapped to whole cents before the exact folds;
    * reported as g_formula + correction = ate on the 1e-4 dollar grid.
    * See [[graft.operators.Analytics.doublyRobustEffect]]. */
  val dr1DoublyRobust: Q = (s, d) =>
    graft.operators.Analytics.doublyRobustEffect(Tables.events(s, d))

  val dr1DoublyRobustSql: String = {
    def microSum(expr: String, as: String) =
      s"CAST(sum(CAST(floor(($expr) * 1000000 + 0.5) AS BIGINT)) AS BIGINT) AS $as"
    val iters = 3
    def armCtes(arm: Int): String = {
      val tag = s"a$arm"
      s"""${tag}m AS (SELECT CAST(count(*) AS BIGINT) AS n,
         |    sum(CAST(signups AS HUGEINT)) AS sx1, sum(CAST(errors AS HUGEINT)) AS sx2,
         |    sum(CAST(y_cents AS HUGEINT)) AS sy,
         |    sum(CAST(signups AS HUGEINT) * signups) AS sx11,
         |    sum(CAST(signups AS HUGEINT) * errors) AS sx12,
         |    sum(CAST(errors AS HUGEINT) * errors) AS sx22,
         |    sum(CAST(signups AS HUGEINT) * y_cents) AS sx1y,
         |    sum(CAST(errors AS HUGEINT) * y_cents) AS sx2y
         |  FROM u WHERE t = $arm),
         |${tag}v AS (SELECT
         |    CASE WHEN n = 0 THEN CAST(error('doublyRobustEffect: arm $arm is empty') AS DOUBLE)
         |         ELSE CAST(n AS DOUBLE) END AS a11,
         |    CAST(sx1 AS DOUBLE) AS a12, CAST(sx2 AS DOUBLE) AS a13,
         |    CAST(sx11 AS DOUBLE) + 1000.0 AS a22, CAST(sx12 AS DOUBLE) AS a23,
         |    CAST(sx22 AS DOUBLE) + 1000.0 AS a33,
         |    CAST(sy AS DOUBLE) AS b1, CAST(sx1y AS DOUBLE) AS b2,
         |    CAST(sx2y AS DOUBLE) AS b3
         |  FROM ${tag}m),
         |${tag}d AS (SELECT
         |    a11 * (a22 * a33 - a23 * a23) - a12 * (a12 * a33 - a23 * a13) + a13 * (a12 * a23 - a22 * a13) AS dA,
         |    b1 * (a22 * a33 - a23 * a23) - a12 * (b2 * a33 - a23 * b3) + a13 * (b2 * a23 - a22 * b3) AS d0,
         |    a11 * (b2 * a33 - a23 * b3) - b1 * (a12 * a33 - a23 * a13) + a13 * (a12 * b3 - b2 * a13) AS d1,
         |    a11 * (a22 * b3 - b2 * a23) - a12 * (a12 * b3 - b2 * a13) + b1 * (a12 * a23 - a22 * a13) AS d2
         |  FROM ${tag}v),
         |${tag}b AS (SELECT
         |    CASE WHEN dA <> 0 THEN CAST(floor(d0 / dA * 1000000 + 0.5) AS BIGINT) ELSE 0 END AS b0m,
         |    CASE WHEN dA <> 0 THEN CAST(floor(d1 / dA * 1000000 + 0.5) AS BIGINT) ELSE 0 END AS b1m,
         |    CASE WHEN dA <> 0 THEN CAST(floor(d2 / dA * 1000000 + 0.5) AS BIGINT) ELSE 0 END AS b2m
         |  FROM ${tag}d)""".stripMargin
    }
    val gd = (1 to iters).map { k =>
      s""",
         |s$k AS (SELECT y, x0, x1, x2,
         |              1.0 / (1.0 + exp(-(c0 * x0 + c1 * x1 + c2 * x2))) AS sg
         |       FROM d CROSS JOIN b${k - 1}),
         |g$k AS (SELECT ${microSum("(sg - y) * x0", "g0")},
         |              ${microSum("(sg - y) * x1", "g1")},
         |              ${microSum("(sg - y) * x2", "g2")}
         |       FROM s$k),
         |b$k AS (SELECT floor((c0 - 1.0 * (CAST(g0 AS DOUBLE) / 1000000 / n)) * 1000000 + 0.5) / 1000000 AS c0,
         |              floor((c1 - 1.0 * (CAST(g1 AS DOUBLE) / 1000000 / n)) * 1000000 + 0.5) / 1000000 AS c1,
         |              floor((c2 - 1.0 * (CAST(g2 AS DOUBLE) / 1000000 / n)) * 1000000 + 0.5) / 1000000 AS c2
         |       FROM g$k CROSS JOIN b${k - 1} CROSS JOIN nn)""".stripMargin
    }.mkString
    s"""WITH u AS (
       |  SELECT user_id, signups, errors, y_cents,
       |         CASE WHEN vmc > 0 THEN CAST(1 AS BIGINT) ELSE 0 END AS t
       |  FROM (SELECT user_id,
       |    CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signups,
       |    CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS errors,
       |    CAST(sum(CASE WHEN event_type = 'view' THEN 1
       |             WHEN event_type = 'click' THEN -1 ELSE 0 END) AS BIGINT) AS vmc,
       |    CAST(sum(CASE WHEN event_type = 'purchase'
       |             THEN CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
       |             ELSE 0 END) AS BIGINT) AS y_cents
       |  FROM events GROUP BY 1)),
       |${armCtes(1)},
       |${armCtes(0)},
       |d AS (SELECT CAST(t AS DOUBLE) AS y, CAST(1.0 AS DOUBLE) AS x0,
       |        CAST(signups AS DOUBLE) / 100.0 AS x1,
       |        CAST(errors AS DOUBLE) / 100.0 AS x2 FROM u),
       |nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM d),
       |b0 AS (SELECT CAST(0.0 AS DOUBLE) AS c0, CAST(0.0 AS DOUBLE) AS c1,
       |              CAST(0.0 AS DOUBLE) AS c2)$gd,
       |sc AS (SELECT u.*,
       |         least(greatest(
       |           floor((1.0 / (1.0 + exp(-(c0 * 1.0 +
       |             c1 * (CAST(signups AS DOUBLE) / 100.0) +
       |             c2 * (CAST(errors AS DOUBLE) / 100.0))))) * 1000000 + 0.5) / 1000000,
       |           0.000001), 0.999999) AS p,
       |         a1b.b0m + a1b.b1m * signups + a1b.b2m * errors AS m1,
       |         a0b.b0m + a0b.b1m * signups + a0b.b2m * errors AS m0
       |       FROM u CROSS JOIN b$iters CROSS JOIN a1b CROSS JOIN a0b),
       |agg AS (SELECT CAST(count(*) AS BIGINT) AS n,
       |          CAST(sum(t) AS BIGINT) AS n_treated,
       |          sum(CAST(m1 - m0 AS HUGEINT)) AS gsum,
       |          sum(CAST(CASE WHEN t = 1
       |            THEN CAST(floor(CAST(y_cents * 1000000 - m1 AS DOUBLE) / p / 1000000.0 + 0.5) AS BIGINT)
       |            ELSE 0 END AS HUGEINT)) AS c1s,
       |          sum(CAST(CASE WHEN t = 0
       |            THEN CAST(floor(CAST(y_cents * 1000000 - m0 AS DOUBLE) / (1.0 - p) / 1000000.0 + 0.5) AS BIGINT)
       |            ELSE 0 END AS HUGEINT)) AS c0s
       |        FROM sc)
       |SELECT n, n_treated,
       |  floor((CAST(gsum AS DOUBLE) / CAST(n AS DOUBLE) / 1000000.0 / 100.0) * 10000 + 0.5) / 10000 AS g_formula,
       |  floor(((CAST(c1s AS DOUBLE) - CAST(c0s AS DOUBLE)) / CAST(n AS DOUBLE) / 100.0) * 10000 + 0.5) / 10000 AS correction,
       |  floor((CAST(gsum AS DOUBLE) / CAST(n AS DOUBLE) / 1000000.0 / 100.0
       |         + (CAST(c1s AS DOUBLE) - CAST(c0s AS DOUBLE)) / CAST(n AS DOUBLE) / 100.0) * 10000 + 0.5) / 10000 AS ate
       |FROM agg""".stripMargin
  }

  /** STL1 — classical seasonal-trend decomposition of per-type daily
    * revenue: centered 7-day RANGE-frame trend (calendar gaps exclude a
    * day rather than averaging non-adjacent ones), weekday seasonal
    * means over the exact integer detrended series, residual — all on
    * the 1e-4 dollar grid, weekday index engine-neutral pmod(epoch, 7).
    * See [[graft.operators.Analytics.seasonalDecompose]]. */
  val stl1Decompose: Q = (s, d) =>
    graft.operators.Analytics.seasonalDecompose(Tables.events(s, d))

  val stl1DecomposeSql: String =
    """WITH daily AS (
      |  SELECT event_type, CAST(ts AS DATE) AS day,
      |         CAST(CAST(sum(CAST(value AS DECIMAL(18,2))) * 100 AS DECIMAL(38,0)) AS BIGINT) AS cents
      |  FROM events GROUP BY 1, 2),
      |d2 AS (SELECT *, CAST(day - DATE '1970-01-01' AS BIGINT) AS ed FROM daily),
      |t AS (SELECT *, count(*) OVER w AS tn, sum(cents) OVER w AS tsum,
      |        ((ed % 7) + 7) % 7 AS wd
      |      FROM d2
      |      WINDOW w AS (PARTITION BY event_type ORDER BY ed
      |                   RANGE BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
      |t2 AS (SELECT *, CASE WHEN tn = 7
      |                      THEN 700 * cents - 100 * tsum END AS d700 FROM t),
      |seas AS (SELECT event_type, wd, sum(CAST(d700 AS HUGEINT)) AS dsum,
      |                CAST(count(*) AS BIGINT) AS dn
      |         FROM t2 WHERE d700 IS NOT NULL GROUP BY 1, 2)
      |SELECT t2.event_type, strftime(day, '%Y-%m-%d') AS day,
      |  CAST(cents AS DOUBLE) / 100 AS revenue,
      |  CASE WHEN tn = 7
      |       THEN floor(CAST(tsum AS DOUBLE) / 7.0 / 100 * 10000 + 0.5) / 10000 END AS trend,
      |  CASE WHEN d700 IS NOT NULL
      |       THEN floor(CAST(dsum AS DOUBLE) / CAST(dn AS DOUBLE) / 70000.0 * 10000 + 0.5) / 10000 END AS seasonal,
      |  CASE WHEN d700 IS NOT NULL
      |       THEN floor((CAST(d700 AS DOUBLE) / 70000.0 - CAST(dsum AS DOUBLE) / CAST(dn AS DOUBLE) / 70000.0) * 10000 + 0.5) / 10000 END AS resid
      |FROM t2 LEFT JOIN seas USING (event_type, wd)
      |ORDER BY t2.event_type, day""".stripMargin

  /** DID1 — difference-in-differences on the tt1 A/B arms across the
    * calendar's integer midpoint: per-user post−pre purchase deltas
    * (exact zeros for silent periods), DiD = mean_A(d) − mean_B(d) with
    * the Welch SE over deltas, all moments exact decimals, 1e-4 grid.
    * See [[graft.operators.Analytics.diffInDiff]]. */
  val did1DiffInDiff: Q = (s, d) =>
    graft.operators.Analytics.diffInDiff(Tables.events(s, d))

  val did1DiffInDiffSql: String = {
    val bucket = md5BucketSql("CAST(user_id AS VARCHAR)")
    s"""WITH p AS (
       |  SELECT user_id, CAST(ts AS DATE) AS day,
       |         CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
       |  FROM events WHERE event_type = 'purchase'),
       |span AS (SELECT min(day - DATE '1970-01-01') AS d0,
       |                max(day - DATE '1970-01-01') AS d1 FROM p),
       |users AS (
       |  SELECT user_id,
       |    sum(CASE WHEN (day - DATE '1970-01-01') < d0 + (d1 - d0 + 1) // 2
       |             THEN cents ELSE 0 END) AS pre_c,
       |    sum(CASE WHEN (day - DATE '1970-01-01') < d0 + (d1 - d0 + 1) // 2
       |             THEN 0 ELSE cents END) AS post_c
       |  FROM p CROSS JOIN span GROUP BY 1),
       |u2 AS (SELECT post_c - pre_c AS dd,
       |              CASE WHEN $bucket < 5000 THEN 1 ELSE 0 END AS a
       |       FROM users),
       |m AS (SELECT
       |    CAST(sum(a) AS BIGINT) AS n_a,
       |    CAST(count(*) - sum(a) AS BIGINT) AS n_b,
       |    sum(CASE WHEN a = 1 THEN CAST(dd AS HUGEINT) ELSE 0 END) AS s_a,
       |    sum(CASE WHEN a = 0 THEN CAST(dd AS HUGEINT) ELSE 0 END) AS s_b,
       |    sum(CASE WHEN a = 1 THEN CAST(dd AS HUGEINT) * dd ELSE 0 END) AS ss_a,
       |    sum(CASE WHEN a = 0 THEN CAST(dd AS HUGEINT) * dd ELSE 0 END) AS ss_b
       |  FROM u2),
       |v AS (SELECT n_a, n_b,
       |        CAST(s_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS ma,
       |        CAST(s_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS mb,
       |        (CAST(ss_a AS DOUBLE) - CAST(s_a AS DOUBLE) * CAST(s_a AS DOUBLE) / CAST(n_a AS DOUBLE)) / (CAST(n_a AS DOUBLE) - 1.0) AS va,
       |        (CAST(ss_b AS DOUBLE) - CAST(s_b AS DOUBLE) * CAST(s_b AS DOUBLE) / CAST(n_b AS DOUBLE)) / (CAST(n_b AS DOUBLE) - 1.0) AS vb
       |      FROM m),
       |w AS (SELECT *, va / CAST(n_a AS DOUBLE) + vb / CAST(n_b AS DOUBLE) AS se2 FROM v)
       |SELECT n_a, n_b,
       |  CASE WHEN n_a > 0 THEN floor(ma / 100 * 10000 + 0.5) / 10000 ELSE 0.0 END AS delta_a,
       |  CASE WHEN n_b > 0 THEN floor(mb / 100 * 10000 + 0.5) / 10000 ELSE 0.0 END AS delta_b,
       |  CASE WHEN n_a > 0 AND n_b > 0 THEN floor((ma - mb) / 100 * 10000 + 0.5) / 10000 ELSE 0.0 END AS did,
       |  CASE WHEN n_a > 1 AND n_b > 1 AND se2 > 0 THEN floor(sqrt(se2) / 100 * 10000 + 0.5) / 10000 ELSE 0.0 END AS se,
       |  CASE WHEN n_a > 1 AND n_b > 1 AND se2 > 0 THEN floor((ma - mb) / sqrt(se2) * 10000 + 0.5) / 10000 ELSE 0.0 END AS t_stat
       |FROM w""".stripMargin
  }

  /** RHO1 — Spearman rank correlation between quantity and extended
    * price: Pearson on exact doubled midranks from the distributed rank,
    * tie-corrected by construction, one fixed double formula on the
    * 1e-6 grid. See [[graft.operators.Analytics.spearmanRho]]. */
  val rho1Spearman: Q = (s, d) =>
    graft.operators.Analytics.spearmanRho(Tables.lineitem(s, d))

  val rho1SpearmanSql: String =
    """WITH base AS (
      |  SELECT CAST(CAST(l_quantity AS DECIMAL(18,0)) AS BIGINT) AS q,
      |         CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS p
      |  FROM lineitem),
      |rq AS (SELECT q, 2 * coalesce(sum(cnt) OVER (ORDER BY q
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |           + cnt + 1 AS m_q
      |       FROM (SELECT q, CAST(count(*) AS BIGINT) AS cnt FROM base GROUP BY 1)),
      |rp AS (SELECT p, 2 * coalesce(sum(cnt) OVER (ORDER BY p
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |           + cnt + 1 AS m_p
      |       FROM (SELECT p, CAST(count(*) AS BIGINT) AS cnt FROM base GROUP BY 1)),
      |r AS (SELECT m_q, m_p FROM base JOIN rq USING (q) JOIN rp USING (p)),
      |m AS (SELECT CAST(count(*) AS BIGINT) AS n,
      |        sum(CAST(m_q AS HUGEINT)) AS sx, sum(CAST(m_p AS HUGEINT)) AS sy,
      |        sum(CAST(m_q AS HUGEINT) * m_q) AS sxx,
      |        sum(CAST(m_p AS HUGEINT) * m_p) AS syy,
      |        sum(CAST(m_q AS HUGEINT) * m_p) AS sxy
      |      FROM r),
      |v AS (SELECT n,
      |        CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) AS cov,
      |        CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS vx,
      |        CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) AS vy
      |      FROM m)
      |SELECT n, CASE WHEN n > 1 AND vx > 0 AND vy > 0
      |               THEN floor(cov / sqrt(vx * vy) * 1000000 + 0.5) / 1000000
      |               ELSE 0.0 END AS rho
      |FROM v""".stripMargin

  /** TRIM1 — 5% trimmed and winsorized means of order totals: exact
    * positional tail cuts over the distributed two-phase rank, boundary
    * values selected (never interpolated), winsorized tails re-added as
    * k·v_low + k·v_high. See
    * [[graft.operators.Analytics.trimmedMeans]]. */
  val trim1RobustMeans: Q = (s, d) =>
    graft.operators.Analytics.trimmedMeans(Tables.orders(s, d))

  val trim1RobustMeansSql: String =
    """WITH vals AS (
      |  SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      |  FROM orders),
      |rle AS (SELECT cents AS value, CAST(count(*) AS BIGINT) AS cnt
      |        FROM vals GROUP BY 1),
      |r AS (SELECT *,
      |        coalesce(sum(cnt) OVER (ORDER BY value
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS c0,
      |        sum(cnt) OVER () AS n
      |      FROM rle),
      |r2 AS (SELECT *, n * 500 // 10000 AS k FROM r),
      |a AS (SELECT CAST(max(n) AS BIGINT) AS n, CAST(max(k) AS BIGINT) AS k,
      |        sum(CAST(value AS HUGEINT) *
      |            greatest(0, least(c0 + cnt, n - k) - greatest(c0, k))) AS kept_sum,
      |        CAST(sum(CASE WHEN c0 < k + 1 AND k + 1 <= c0 + cnt
      |                      THEN value END) AS BIGINT) AS low_cents,
      |        CAST(sum(CASE WHEN c0 < n - k AND n - k <= c0 + cnt
      |                      THEN value END) AS BIGINT) AS high_cents
      |      FROM r2)
      |SELECT n, k, low_cents, high_cents,
      |       CASE WHEN n - 2 * k > 0
      |            THEN floor(CAST(kept_sum AS DOUBLE) / CAST(n - 2 * k AS DOUBLE) / 100 * 1000000 + 0.5) / 1000000
      |            ELSE 0.0 END AS trimmed_mean,
      |       CASE WHEN n > 0 AND n - 2 * k > 0
      |            THEN floor(CAST(kept_sum + CAST(k AS HUGEINT) * (low_cents + high_cents) AS DOUBLE) / CAST(n AS DOUBLE) / 100 * 1000000 + 0.5) / 1000000
      |            ELSE 0.0 END AS winsor_mean
      |FROM a""".stripMargin

  /** MW1 — Mann–Whitney U (Wilcoxon rank-sum) between the tt1 A/B arms
    * on per-user purchase revenue: tt1's distribution-free sibling.
    * Distributed ranks via rankedRle, exact half-integer midranks kept
    * as DOUBLED BIGINT rank sums, exact Σ(t³−t) tie correction, normal
    * z on the 1e-6 grid. See
    * [[graft.operators.Analytics.mannWhitneyU]]. */
  val mw1RankTest: Q = (s, d) =>
    graft.operators.Analytics.mannWhitneyU(Tables.events(s, d))

  val mw1RankTestSql: String = {
    val bucket = md5BucketSql("CAST(user_id AS VARCHAR)")
    s"""WITH users AS (
       |  SELECT user_id,
       |         sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS x
       |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
       |u2 AS (SELECT x, CASE WHEN $bucket < 5000 THEN 1 ELSE 0 END AS a
       |       FROM users),
       |rle AS (SELECT x AS value, CAST(count(*) AS BIGINT) AS cnt,
       |               CAST(sum(a) AS BIGINT) AS cnt_a
       |        FROM u2 GROUP BY 1),
       |r AS (SELECT *,
       |        coalesce(sum(cnt) OVER (ORDER BY value
       |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS c0,
       |        sum(cnt) OVER () AS n
       |      FROM rle),
       |agg AS (SELECT CAST(sum(cnt_a) AS BIGINT) AS n_a,
       |          CAST(max(n) AS BIGINT) AS n,
       |          sum(CAST(cnt_a AS HUGEINT) * (2 * c0 + cnt + 1)) AS r2_a,
       |          sum(CAST(cnt AS HUGEINT) * cnt * cnt - cnt) AS tie_cubes
       |        FROM r),
       |f AS (SELECT n_a, n - n_a AS n_b,
       |        CAST(r2_a - CAST(n_a AS HUGEINT) * (n_a + 1) AS BIGINT) AS u2_a,
       |        CAST(tie_cubes AS BIGINT) AS tie_cubes, n
       |      FROM agg),
       |g AS (SELECT *,
       |        CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / 12.0 *
       |          ((CAST(n AS DOUBLE) + 1.0) - CAST(tie_cubes AS DOUBLE)
       |           / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0))) AS var_u
       |      FROM f)
       |SELECT n_a, n_b, u2_a, tie_cubes,
       |       CASE WHEN n_a > 0 AND n_a < n AND n > 1 AND var_u > 0
       |            THEN floor((CAST(u2_a AS DOUBLE) - CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE))
       |                       / (2.0 * sqrt(var_u)) * 1000000 + 0.5) / 1000000
       |            ELSE 0.0 END AS z_stat
       |FROM g""".stripMargin
  }

  val tt1WelchTTest: Q = (s, d) =>
    graft.operators.Analytics.welchTTest(Tables.events(s, d))

  val tt1WelchTTestSql: String = {
    val bucket = md5BucketSql("CAST(user_id AS VARCHAR)")
    def d19(x: String) = s"CAST($x AS DECIMAL(19,0))"
    s"""WITH u AS (SELECT user_id,
       |                  sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS x
       |           FROM events WHERE event_type = 'purchase' GROUP BY user_id),
       |v AS (SELECT x, CASE WHEN $bucket < 5000 THEN 'A' ELSE 'B' END AS variant
       |      FROM u),
       |m AS (SELECT CAST(sum(CASE WHEN variant = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
       |             sum(CASE WHEN variant = 'A' THEN ${d19("x")} ELSE ${d19("0")} END) AS s_a,
       |             sum(CASE WHEN variant = 'A' THEN ${d19("x")} * ${d19("x")} ELSE ${d19("0")} END) AS ss_a,
       |             CAST(sum(CASE WHEN variant = 'B' THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
       |             sum(CASE WHEN variant = 'B' THEN ${d19("x")} ELSE ${d19("0")} END) AS s_b,
       |             sum(CASE WHEN variant = 'B' THEN ${d19("x")} * ${d19("x")} ELSE ${d19("0")} END) AS ss_b
       |      FROM v),
       |t AS (SELECT n_a, n_b,
       |             CAST(n_a AS DOUBLE) AS nad, CAST(s_a AS DOUBLE) AS sad,
       |             CAST(ss_a AS DOUBLE) AS ssad,
       |             CAST(n_b AS DOUBLE) AS nbd, CAST(s_b AS DOUBLE) AS sbd,
       |             CAST(ss_b AS DOUBLE) AS ssbd
       |      FROM m),
       |f AS (SELECT n_a, n_b, nad, nbd, sad / nad AS ma, sbd / nbd AS mb,
       |             (ssad - sad * sad / nad) / (nad - 1.0) AS va,
       |             (ssbd - sbd * sbd / nbd) / (nbd - 1.0) AS vb
       |      FROM t),
       |g AS (SELECT *, va / nad + vb / nbd AS se2 FROM f)
       |SELECT n_a, n_b,
       |       CASE WHEN n_a > 0 THEN floor((ma / 100) * 10000 + 0.5) / 10000
       |            ELSE 0.0 END AS mean_a,
       |       CASE WHEN n_b > 0 THEN floor((mb / 100) * 10000 + 0.5) / 10000
       |            ELSE 0.0 END AS mean_b,
       |       CASE WHEN n_a > 1 AND n_b > 1 AND se2 > 0
       |            THEN floor(((ma - mb) / sqrt(se2)) * 10000 + 0.5) / 10000
       |            ELSE 0.0 END AS t_stat,
       |       CASE WHEN n_a > 1 AND n_b > 1 AND se2 > 0
       |            THEN floor((se2 * se2 / ((va / nad) * (va / nad) / (nad - 1.0)
       |                                     + (vb / nbd) * (vb / nbd) / (nbd - 1.0))) * 100 + 0.5) / 100
       |            ELSE 0.0 END AS welch_df
       |FROM g""".stripMargin
  }

  /** CUSUM1 — Page's CUSUM control chart per event-type daily revenue:
    * exact-integer one-sided drift statistics via the prefix closed form
    * S_i = P_i − min(0, min_{j≤i} P_j) (no sequential loop), reported in
    * mean-day units on the 1e-6 grid, alarm at ratio > 1. cp1 finds the
    * best retrospective split; cusum1 is the monitoring-time detector.
    * See [[graft.operators.Analytics.cusumDrift]]. */
  val cusum1Drift: Q = (s, d) =>
    graft.operators.Analytics.cusumDrift(Tables.events(s, d))

  val cusum1DriftSql: String =
    """WITH daily AS (
      |  SELECT event_type, CAST(ts AS DATE) AS day,
      |         CAST(CAST(sum(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS HUGEINT) AS cents
      |  FROM events GROUP BY 1, 2),
      |g1 AS (
      |  SELECT event_type, day, cents,
      |         CAST(count(*) OVER (PARTITION BY event_type) AS HUGEINT) AS dd,
      |         sum(cents) OVER (PARTITION BY event_type) AS tt
      |  FROM daily),
      |g2 AS (
      |  SELECT *, sum(dd * cents - tt) OVER pre AS p
      |  FROM g1
      |  WINDOW pre AS (PARTITION BY event_type ORDER BY day
      |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      |g3 AS (
      |  SELECT event_type, day, cents, tt,
      |         p - least(CAST(0 AS HUGEINT), min(p) OVER pre) AS up,
      |         greatest(CAST(0 AS HUGEINT), max(p) OVER pre) - p AS dn
      |  FROM g2
      |  WINDOW pre AS (PARTITION BY event_type ORDER BY day
      |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      |g4 AS (
      |  SELECT event_type, strftime(day, '%Y-%m-%d') AS day,
      |         CAST(cents AS BIGINT) AS cents,
      |         CASE WHEN tt <> 0 THEN floor(CAST(up AS DOUBLE) / CAST(tt AS DOUBLE) * 1000000 + 0.5) / 1000000 ELSE 0.0 END AS cusum_up,
      |         CASE WHEN tt <> 0 THEN floor(CAST(dn AS DOUBLE) / CAST(tt AS DOUBLE) * 1000000 + 0.5) / 1000000 ELSE 0.0 END AS cusum_dn
      |  FROM g3)
      |SELECT *, cusum_up > 1.0 AS alarm_up, cusum_dn > 1.0 AS alarm_dn
      |FROM g4 ORDER BY event_type, day""".stripMargin

  /** LORENZ1 — Lorenz decile table of per-customer order revenue: exact
    * positional deciles over a corpus-GLOBAL total order built by a
    * distributed two-phase rank (order-preserving range buckets +
    * bucket-offset windows — no global-order window anywhere in the
    * plan, unlike gini1's per-nation row_number). Boundary RLE groups
    * split across deciles exactly. See
    * [[graft.operators.Analytics.lorenzCurve]]. */
  val lorenz1Deciles: Q = (s, d) =>
    graft.operators.Analytics.lorenzCurve(Tables.orders(s, d))

  val lorenz1DecilesSql: String =
    """WITH users AS (
      |  SELECT o_custkey,
      |         CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS DECIMAL(38,0)) AS BIGINT) AS cents
      |  FROM orders GROUP BY 1),
      |rle AS (SELECT cents, CAST(count(*) AS BIGINT) AS cnt FROM users GROUP BY 1),
      |mm AS (SELECT min(cents) AS vmin, max(cents) AS vmax,
      |              CAST(sum(cnt) AS BIGINT) AS n,
      |              sum(CAST(cents AS HUGEINT) * cnt) AS tot FROM rle),
      |b AS (SELECT rle.*, mm.*,
      |        ((cents - vmin) * 1024) // (vmax - vmin + 1) AS bkt
      |      FROM rle CROSS JOIN mm),
      |off AS (SELECT bkt,
      |          coalesce(sum(bc) OVER (ORDER BY bkt
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS before_b
      |        FROM (SELECT bkt, sum(cnt) AS bc FROM b GROUP BY 1)),
      |r AS (SELECT b.*, before_b + coalesce(sum(cnt) OVER (PARTITION BY b.bkt
      |          ORDER BY cents ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS c0
      |      FROM b JOIN off USING (bkt)),
      |sp AS (SELECT *, unnest(range(CAST((10 * (c0 + 1) + n - 1) // n AS BIGINT),
      |                    CAST((10 * (c0 + cnt) + n - 1) // n + 1 AS BIGINT))) AS decile
      |       FROM r),
      |sm AS (SELECT *, greatest(0, least(c0 + cnt, decile * n // 10)
      |                          - greatest(c0, (decile - 1) * n // 10)) AS members
      |       FROM sp),
      |g AS (SELECT decile, CAST(sum(members) AS BIGINT) AS customers,
      |             sum(CAST(cents AS HUGEINT) * members) AS rev,
      |             any_value(tot) AS tot
      |      FROM sm GROUP BY 1),
      |c AS (SELECT *, sum(rev) OVER (ORDER BY decile
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_rev
      |      FROM g)
      |SELECT CAST(decile AS BIGINT) AS decile, customers,
      |       CAST(rev AS BIGINT) AS rev_cents,
      |       CASE WHEN tot > 0 THEN floor(CAST(rev AS DOUBLE) / CAST(tot AS DOUBLE) * 1000000 + 0.5) / 1000000 ELSE 0.0 END AS rev_share,
      |       CASE WHEN tot > 0 THEN floor(CAST(cum_rev AS DOUBLE) / CAST(tot AS DOUBLE) * 1000000 + 0.5) / 1000000 ELSE 0.0 END AS cum_share
      |FROM c ORDER BY decile""".stripMargin

  /** SKY1 — Pareto skyline of the part catalog (min price, max size):
    * the undominated offers, via an exclusive prefix max over the
    * price-sorted per-price maxima — bucketed two-phase, no global
    * window, no pair generation. The DuckDB oracle is the INDEPENDENT
    * quadratic dominance anti-join, so the staircase rewrite is checked
    * against the definition itself. See
    * [[graft.operators.Analytics.skyline]]. */
  val sky1Skyline: Q = (s, d) =>
    graft.operators.Analytics.skyline(Tables.part(s, d))

  val sky1SkylineSql: String =
    """WITH b AS (
      |  SELECT p_partkey,
      |         CAST(CAST(p_retailprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS price_cents,
      |         CAST(p_size AS BIGINT) AS size
      |  FROM part)
      |SELECT p_partkey, price_cents, size FROM b p
      |WHERE NOT EXISTS (
      |  SELECT 1 FROM b q
      |  WHERE q.price_cents <= p.price_cents AND q.size >= p.size
      |    AND (q.price_cents < p.price_cents OR q.size > p.size))
      |ORDER BY price_cents, p_partkey""".stripMargin

  /** CONF1 — split-conformal prediction interval around ridge1's price
    * model: 60/20/20 deterministic hash split, exact-integer micro-cent
    * residuals, POSITIONAL calibration quantile via the distributed
    * two-phase rank, guaranteed-coverage audit on the held-out split.
    * See [[graft.operators.Analytics.conformalInterval]]. */
  val conf1Interval: Q = (s, d) =>
    graft.operators.Analytics.conformalInterval(Tables.lineitem(s, d))

  val conf1IntervalSql: String = {
    val hb = md5BucketSql(
      "CAST(l_orderkey AS VARCHAR) || ':' || CAST(l_linenumber AS VARCHAR)")
    s"""WITH base AS (
       |  SELECT CAST(CAST(l_quantity AS DECIMAL(18,0)) AS BIGINT) AS q,
       |         CAST(CAST(l_discount AS DECIMAL(18,2)) * 100 AS BIGINT) AS d,
       |         CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS y,
       |         $hb AS hb
       |  FROM lineitem),
       |m AS (SELECT CAST(count(*) AS BIGINT) AS n_train,
       |        sum(CAST(q AS HUGEINT)) AS sx1, sum(CAST(d AS HUGEINT)) AS sx2,
       |        sum(CAST(y AS HUGEINT)) AS sy,
       |        sum(CAST(q AS HUGEINT) * q) AS sx11,
       |        sum(CAST(q AS HUGEINT) * d) AS sx12,
       |        sum(CAST(d AS HUGEINT) * d) AS sx22,
       |        sum(CAST(q AS HUGEINT) * y) AS sx1y,
       |        sum(CAST(d AS HUGEINT) * y) AS sx2y
       |      FROM base WHERE hb < 6000),
       |v AS (SELECT n_train, CAST(n_train AS DOUBLE) AS a11,
       |        CAST(sx1 AS DOUBLE) AS a12, CAST(sx2 AS DOUBLE) AS a13,
       |        CAST(sx11 AS DOUBLE) + 1000.0 AS a22,
       |        CAST(sx12 AS DOUBLE) AS a23,
       |        CAST(sx22 AS DOUBLE) + 1000.0 AS a33,
       |        CAST(sy AS DOUBLE) AS b1, CAST(sx1y AS DOUBLE) AS b2,
       |        CAST(sx2y AS DOUBLE) AS b3
       |      FROM m),
       |dd AS (SELECT n_train,
       |         a11 * (a22 * a33 - a23 * a23) - a12 * (a12 * a33 - a23 * a13) + a13 * (a12 * a23 - a22 * a13) AS dA,
       |         b1 * (a22 * a33 - a23 * a23) - a12 * (b2 * a33 - a23 * b3) + a13 * (b2 * a23 - a22 * b3) AS d0,
       |         a11 * (b2 * a33 - a23 * b3) - b1 * (a12 * a33 - a23 * a13) + a13 * (a12 * b3 - b2 * a13) AS d1,
       |         a11 * (a22 * b3 - b2 * a23) - a12 * (a12 * b3 - b2 * a13) + b1 * (a12 * a23 - a22 * a13) AS d2
       |       FROM v),
       |betas AS (SELECT n_train,
       |         CASE WHEN dA <> 0 THEN CAST(floor(d0 / dA * 1000000 + 0.5) AS BIGINT) ELSE 0 END AS b0m,
       |         CASE WHEN dA <> 0 THEN CAST(floor(d1 / dA * 1000000 + 0.5) AS BIGINT) ELSE 0 END AS b1m,
       |         CASE WHEN dA <> 0 THEN CAST(floor(d2 / dA * 1000000 + 0.5) AS BIGINT) ELSE 0 END AS b2m
       |       FROM dd),
       |cr AS (SELECT abs(y * 1000000 - (b0m + b1m * q + b2m * d)) AS r
       |       FROM base, betas WHERE hb >= 6000 AND hb < 8000),
       |kk AS (SELECT CAST(count(*) AS BIGINT) AS n_calib,
       |              ((count(*) + 1) * 900 + 999) // 1000 AS k FROM cr),
       |cr2 AS (SELECT r, row_number() OVER (ORDER BY r) AS rn FROM cr),
       |qh AS (SELECT max(r) AS qhat_micro FROM cr2, kk WHERE rn = kk.k),
       |er AS (SELECT abs(y * 1000000 - (b0m + b1m * q + b2m * d)) AS r
       |       FROM base, betas WHERE hb >= 8000),
       |ev AS (SELECT CAST(count(*) AS BIGINT) AS n_eval,
       |         sum(CASE WHEN qhat_micro IS NULL OR r <= qhat_micro THEN 1 ELSE 0 END) AS covered
       |       FROM er, qh)
       |SELECT betas.n_train, kk.n_calib, ev.n_eval,
       |       floor(CAST(qhat_micro AS DOUBLE) / 100000000.0 * 1000000 + 0.5) / 1000000 AS qhat_dollars,
       |       CASE WHEN n_eval > 0
       |            THEN floor(CAST(covered AS DOUBLE) / CAST(n_eval AS DOUBLE) * 1000000 + 0.5) / 1000000
       |            ELSE 1.0 END AS coverage
       |FROM betas, kk, qh, ev""".stripMargin
  }

  /** CP1 — single mean-shift changepoint per event-type daily series
    * ([[graft.operators.Analytics.meanShiftChangepoint]]): argmax over
    * split points of `|meanL − meanR|·sqrt(i(n−i)/n)`, ties to the
    * earliest day; reports the split day and both segment means. */
  val cp1Changepoint: Q = (s, d) =>
    graft.operators.Analytics.meanShiftChangepoint(Tables.events(s, d))

  val cp1ChangepointSql: String =
    """WITH daily AS (
      |  SELECT event_type, CAST(ts AS DATE) AS day,
      |         CAST(sum(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS cents
      |  FROM events GROUP BY 1, 2),
      |w AS (
      |  SELECT event_type, day,
      |         count(*) OVER pre AS i,
      |         sum(CAST(cents AS DECIMAL(19,0))) OVER pre AS sp,
      |         count(*) OVER alln AS n,
      |         sum(CAST(cents AS DECIMAL(19,0))) OVER alln AS st
      |  FROM daily
      |  WINDOW pre AS (PARTITION BY event_type ORDER BY day
      |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
      |         alln AS (PARTITION BY event_type)),
      |s AS (
      |  SELECT event_type, day, i, n,
      |         CAST(sp AS DOUBLE) / CAST(i AS DOUBLE) AS ml,
      |         CAST(st - sp AS DOUBLE) / (CAST(n AS DOUBLE) - CAST(i AS DOUBLE)) AS mr
      |  FROM w WHERE i < n),
      |z AS (
      |  SELECT event_type, day, i, n, ml, mr,
      |         floor((abs(ml - mr) * sqrt(CAST(i AS DOUBLE) * (CAST(n AS DOUBLE) - CAST(i AS DOUBLE)) / CAST(n AS DOUBLE)) / 100) * 10000 + 0.5) / 10000 AS stat
      |  FROM s),
      |r AS (
      |  SELECT *, row_number() OVER (PARTITION BY event_type
      |                               ORDER BY stat DESC, day ASC) AS rn
      |  FROM z)
      |SELECT event_type, strftime(day, '%Y-%m-%d') AS change_after_day,
      |       stat AS shift_stat,
      |       floor((ml / 100) * 10000 + 0.5) / 10000 AS mean_before,
      |       floor((mr / 100) * 10000 + 0.5) / 10000 AS mean_after,
      |       i AS n_before, n - i AS n_after
      |FROM r WHERE rn = 1""".stripMargin

  /** ER1 — blocked fuzzy-match entity resolution
    * ([[graft.operators.Linkage.blockedFuzzyMatch]]): same-brand part
    * pairs within Levenshtein distance 2 of each other's names, via
    * brand blocking + length prefilter + codegen'd edit-distance DP. */
  val er1FuzzyMatch: Q = (s, d) =>
    graft.operators.Linkage.blockedFuzzyMatch(
      Tables.part(s, d), "p_brand", "p_partkey", "p_name", maxDist = 2)

  val er1FuzzyMatchSql: String =
    """SELECT a.p_brand AS block, a.p_partkey AS key_a, b.p_partkey AS key_b,
      |       a.p_name AS name_a, b.p_name AS name_b,
      |       CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS dist
      |FROM part a JOIN part b
      |  ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
      |WHERE abs(length(a.p_name) - length(b.p_name)) <= 2
      |  AND levenshtein(a.p_name, b.p_name) <= 2""".stripMargin

  /** ER2 — entity resolution with BOUNDED hot-group output
    * ([[graft.operators.Linkage.blockedFuzzyMatchStar]]): er1's operator
    * in its production form — exact-duplicate name groups collapse to a
    * min-key representative and emit a distance-0 spanning star (m−1
    * rows, not C(m,2)), fuzzy matches link representatives once. Same
    * connected components as er1's clique output, linear in block
    * population. */
  val er2StarResolve: Q = (s, d) =>
    graft.operators.Linkage.blockedFuzzyMatchStar(
      Tables.part(s, d), "p_brand", "p_partkey", "p_name", maxDist = 2)

  val er2StarResolveSql: String =
    """WITH r AS (SELECT p_brand AS block, p_partkey AS key, p_name AS name FROM part),
      |g AS (SELECT block, name, min(key) AS rep FROM r GROUP BY 1, 2),
      |fz AS (SELECT a.block, a.name AS na, b.name AS nb,
      |              CAST(levenshtein(a.name, b.name) AS BIGINT) AS dist
      |       FROM g a JOIN g b ON a.block = b.block AND a.name < b.name
      |       WHERE abs(length(a.name) - length(b.name)) <= 2
      |         AND levenshtein(a.name, b.name) <= 2),
      |rp AS (SELECT f.block,
      |              least(ga.rep, gb.rep) AS key_a, greatest(ga.rep, gb.rep) AS key_b,
      |              CASE WHEN ga.rep < gb.rep THEN f.na ELSE f.nb END AS name_a,
      |              CASE WHEN ga.rep < gb.rep THEN f.nb ELSE f.na END AS name_b,
      |              dist
      |       FROM fz f
      |       JOIN g ga ON ga.block = f.block AND ga.name = f.na
      |       JOIN g gb ON gb.block = f.block AND gb.name = f.nb),
      |st AS (SELECT r.block, g.rep AS key_a, r.key AS key_b,
      |              r.name AS name_a, r.name AS name_b, CAST(0 AS BIGINT) AS dist
      |       FROM r JOIN g ON g.block = r.block AND g.name = r.name
      |       WHERE r.key <> g.rep)
      |SELECT * FROM rp UNION ALL SELECT * FROM st""".stripMargin

  /** SKEW1 — join-key skew audit on orders.o_custkey
    * ([[graft.operators.Layout.joinKeySkewAudit]]): rows-per-key profile
    * (max/mean/skew ratio/top-10 share) and the salt factor a salted join
    * of this key would need. */
  val skew1KeySkew: Q = (s, d) =>
    graft.operators.Layout.joinKeySkewAudit(Tables.orders(s, d), "o_custkey")

  val skew1KeySkewSql: String =
    """WITH c AS (SELECT o_custkey AS k, count(*) AS cnt FROM orders GROUP BY 1),
      |t AS (SELECT CAST(count(*) AS BIGINT) AS n_keys,
      |             CAST(sum(cnt) AS BIGINT) AS n_rows,
      |             CAST(max(cnt) AS BIGINT) AS max_cnt
      |      FROM c),
      |top AS (SELECT CAST(sum(cnt) AS BIGINT) AS top_cnt
      |        FROM (SELECT cnt FROM c ORDER BY cnt DESC, k ASC LIMIT 10))
      |SELECT n_keys, n_rows, max_cnt,
      |       floor((CAST(n_rows AS DOUBLE) / CAST(n_keys AS DOUBLE)) * 10000 + 0.5) / 10000 AS mean_cnt,
      |       floor((CAST(max_cnt AS DOUBLE) / (CAST(n_rows AS DOUBLE) / CAST(n_keys AS DOUBLE))) * 10000 + 0.5) / 10000 AS skew_ratio,
      |       floor((CAST(top_cnt AS DOUBLE) / CAST(n_rows AS DOUBLE)) * 1000000 + 0.5) / 1000000 AS top10_share,
      |       CAST(ceil(CAST(max_cnt AS DOUBLE) / 1000) AS BIGINT) AS salt_factor
      |FROM t CROSS JOIN top""".stripMargin

  /** QN1 — per-(lang, source) quantile normalization of document length
    * ([[graft.operators.Curation.quantileNormalize]]): each doc's
    * n_chars becomes its empirical CDF position inside its stratum —
    * the scale-free curriculum/mixing signal. */
  val qn1QuantileNormalize: Q = (s, d) =>
    graft.operators.Curation.quantileNormalize(
      Tables.documents(s, d), Seq("lang", "source"), "n_chars")
      .select("doc_id", "lang", "source", "n_chars", "qn")

  val qn1QuantileNormalizeSql: String =
    """SELECT doc_id, lang, source, n_chars,
      |       CASE WHEN count(*) OVER (PARTITION BY lang, source) > 1
      |            THEN floor((CAST(rank() OVER (PARTITION BY lang, source ORDER BY n_chars) - 1 AS DOUBLE)
      |                        / CAST(count(*) OVER (PARTITION BY lang, source) - 1 AS DOUBLE)) * 1000000 + 0.5) / 1000000
      |            ELSE 0.0 END AS qn
      |FROM documents""".stripMargin

  /** DP1 — ε-differentially-private per-type distinct-user counts
    * ([[graft.operators.Privacy.privateGroupCounts]]): Laplace(1/ε)
    * noise from the seeded engine-portable hash (inverse-CDF), so the
    * release is reproducible and oracle-replayable. */
  val dp1PrivateCounts: Q = (s, d) =>
    // the release domain is the event-type ENUM — schema knowledge, not
    // data: the released key set must be data-independent (a group that
    // appears/vanishes with one user would itself leak)
    graft.operators.Privacy.privateGroupCounts(Tables.events(s, d),
      publicDomain = Seq("view", "click", "purchase", "signup", "error"))

  val dp1PrivateCountsSql: String = {
    val bucket = md5BucketSql("'dp-release-0' || ':' || dom.event_type")
    s"""WITH dom AS (SELECT unnest(['view', 'click', 'purchase', 'signup', 'error']) AS event_type),
       |g AS (SELECT event_type,
       |             CAST(count(DISTINCT user_id) AS BIGINT) AS n
       |      FROM events
       |      WHERE event_type IN ('view', 'click', 'purchase', 'signup', 'error')
       |      GROUP BY 1),
       |b AS (SELECT dom.event_type, COALESCE(g.n, CAST(0 AS BIGINT)) AS n,
       |             (CAST($bucket AS DOUBLE) + 0.5) / 10000.0 - 0.5 AS v
       |      FROM dom LEFT JOIN g ON g.event_type = dom.event_type)
       |SELECT event_type,
       |       floor((CAST(n AS DOUBLE) + (-1.0) * sign(v) * ln(1.0 - abs(v) * 2.0)) * 10000 + 0.5) / 10000 AS noisy_users,
       |       1.0 AS epsilon
       |FROM b""".stripMargin
  }

  /** ANOM3 — robust median/MAD anomaly flags
    * ([[graft.operators.Analytics.robustDailyAnomalies]]): modified
    * z-score `0.6745·(x − median)/MAD`, the outlier-resistant baseline
    * that a masking spike cannot inflate. */
  val anom3Robust: Q = (s, d) =>
    graft.operators.Analytics.robustDailyAnomalies(Tables.events(s, d))

  val anom3RobustSql: String =
    """WITH daily AS (
      |  SELECT event_type, CAST(ts AS DATE) AS day,
      |         CAST(sum(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS cents
      |  FROM events GROUP BY 1, 2),
      |med AS (SELECT event_type, quantile_cont(cents, 0.5) AS med
      |        FROM daily GROUP BY 1),
      |dev AS (SELECT d.event_type, d.day, d.cents, m.med,
      |               abs(CAST(d.cents AS DOUBLE) - m.med) AS dev
      |        FROM daily d JOIN med m USING (event_type)),
      |mad AS (SELECT event_type, quantile_cont(dev, 0.5) AS mad
      |        FROM dev GROUP BY 1),
      |z AS (SELECT v.event_type, v.day, v.cents,
      |             CASE WHEN a.mad > 0
      |                  THEN floor(((0.6745 * (CAST(v.cents AS DOUBLE) - v.med)) / a.mad) * 10000 + 0.5) / 10000
      |                  ELSE 0.0 END AS rz
      |      FROM dev v JOIN mad a USING (event_type))
      |SELECT event_type, strftime(day, '%Y-%m-%d') AS day,
      |       CAST(cents AS DOUBLE) / 100 AS day_value,
      |       rz AS robust_z, abs(rz) > 3.5 AS is_anomaly
      |FROM z""".stripMargin

  /** SMP5 — GROUP-leakage-safe dataset split: the split key is the
    * document's SOURCE, not the document, so every doc of a source lands
    * in the same train/val/test split — near-duplicates and templated
    * documents within a source can never straddle the eval boundary
    * ([[graft.operators.Sampling.datasetSplit]] keyed on the group). */
  val smp5GroupSplit: Q = (s, d) =>
    graft.operators.Sampling.datasetSplit(Tables.documents(s, d),
      col("source"), Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      .select("doc_id", "source", "split")

  val smp5GroupSplitSql: String = {
    val bucket = md5BucketSql("CAST(source AS VARCHAR)")
    s"""SELECT doc_id, source,
       |       CASE WHEN $bucket < 8000 THEN 'train'
       |            WHEN $bucket < 9000 THEN 'val'
       |            ELSE 'test' END AS split
       |FROM documents""".stripMargin
  }

  /** FUNNEL2 — time-to-convert by start weekday
    * ([[graft.operators.Analytics.timeToConvert]]): first-view →
    * first-subsequent-purchase delay per user, conversion rate and exact
    * p50/p90 delay hours per weekday of the funnel start. */
  val funnel2TimeToConvert: Q = (s, d) =>
    graft.operators.Analytics.timeToConvert(Tables.events(s, d))

  val funnel2TimeToConvertSql: String =
    """WITH s1 AS (SELECT user_id, min(ts) AS t1 FROM events
      |            WHERE event_type = 'view' GROUP BY 1),
      |c AS (SELECT e.user_id, min(e.ts) AS t2 FROM events e
      |      JOIN s1 ON e.user_id = s1.user_id
      |      WHERE e.event_type = 'purchase' AND e.ts > s1.t1 GROUP BY 1),
      |j AS (SELECT datediff('day', DATE '1970-01-01', CAST(s1.t1 AS DATE)) % 7 AS dow,
      |             CASE WHEN c.t2 IS NOT NULL
      |                  THEN epoch_us(CAST(c.t2 AS TIMESTAMP)) - epoch_us(CAST(s1.t1 AS TIMESTAMP))
      |             END AS delta_us
      |      FROM s1 LEFT JOIN c ON s1.user_id = c.user_id),
      |g AS (SELECT dow, CAST(count(*) AS BIGINT) AS n_started,
      |             CAST(count(delta_us) AS BIGINT) AS n_converted,
      |             quantile_cont(delta_us, 0.5) AS p50,
      |             quantile_cont(delta_us, 0.9) AS p90
      |      FROM j GROUP BY 1)
      |SELECT CAST(dow AS BIGINT) AS dow, n_started, n_converted,
      |       floor((CAST(n_converted AS DOUBLE) / CAST(n_started AS DOUBLE)) * 10000 + 0.5) / 10000 AS cvr,
      |       CASE WHEN n_converted > 0
      |            THEN floor((p50 / 3600000000.0) * 10000 + 0.5) / 10000
      |            ELSE 0.0 END AS p50_hours,
      |       CASE WHEN n_converted > 0
      |            THEN floor((p90 / 3600000000.0) * 10000 + 0.5) / 10000
      |            ELSE 0.0 END AS p90_hours
      |FROM g""".stripMargin

  /** IVM1 — incremental view maintenance
    * ([[graft.operators.Incremental.mergeAggDeltas]]): the per-customer
    * order rollup maintained as base-aggregate ⊎ delta-aggregate (orders
    * split at a date), never rescanned; the oracle is the FULL-SCAN
    * aggregate, so the hash match proves the merge algebra exactly. */
  val ivm1DeltaAgg: Q = (s, d) => {
    val o = Tables.orders(s, d).select(col("o_custkey"), col("o_orderdate"),
      (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long").as("cents"))
    def agg(df: DataFrame) = df.groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n_orders"), sum(col("cents")).as("sum_cents"))
    val split = to_timestamp(lit("1997-01-01 00:00:00"))
    val view = graft.operators.Incremental.mergeAggDeltas(
      agg(o.filter(col("o_orderdate") < split)),
      agg(o.filter(col("o_orderdate") >= split)),
      Seq("o_custkey"), "n_orders", Seq("sum_cents"))
    view.select(col("o_custkey"), col("n_orders"),
      (col("sum_cents").cast("double") / 100).as("total_price"))
  }

  val ivm1DeltaAggSql: String =
    """SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_orders,
      |       CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS DOUBLE) / 100 AS total_price
      |FROM orders GROUP BY 1""".stripMargin

  /** PR1 — PageRank over the nation-level trade graph: edges are each
    * nation's top-5 supplier nations by order volume (sparsified on the
    * native top-k-per-key operator), ranks from 5 bulk-synchronous
    * iterations ([[graft.operators.Graph.pageRank]]); the oracle replays
    * the identical rounds as a DuckDB recursive CTE. */
  /** The sparsified nation-level trade graph shared by pr1/tri1: edge
    * (customer nation → supplier nation) weighted by order-line volume,
    * kept to each nation's top-5 counterparties on the native
    * top-k-per-key operator. */
  private def tradeEdgeWeights(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d); val l = Tables.lineitem(s, d)
    val c = Tables.customer(s, d); val sup = Tables.supplier(s, d)
    val n = Tables.nation(s, d)
    val cn = n.select(col("n_nationkey").as("ck"), col("n_name").as("src"))
    val sn = n.select(col("n_nationkey").as("sk"), col("n_name").as("dst"))
    // customer/supplier scale with SF, so they carry NO broadcast hint —
    // AQE broadcasts them while they fit and shuffles at 100× where a
    // forced hint would OOM. nation is a fixed 25-row dimension, the one
    // case where a hard broadcast hint is right at every scale.
    l
      .join(o, l("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .join(sup, l("l_suppkey") === sup("s_suppkey"))
      .join(broadcast(cn), c("c_nationkey") === cn("ck"))
      .join(broadcast(sn), sup("s_nationkey") === sn("sk"))
      .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("w"))
  }

  private def tradeEdges(s: SparkSession, d: String): DataFrame =
    graft.plans.TopKPerKey(tradeEdgeWeights(s, d), Seq("src"),
      Seq(("w", false), ("dst", true)), 5).select("src", "dst")

  /** The HEAVY trade graph for kcore1: nation pairs whose line volume is
    * ≥ 1.2× the mean edge weight. The threshold compare is
    * cross-multiplied to exact integers (`w·ne·10 ≥ tw·12`) so both
    * engines cut on identical longs, never a float boundary. */
  private def heavyTradeEdges(s: SparkSession, d: String): DataFrame = {
    val ew = tradeEdgeWeights(s, d)
    val tot = ew.agg(sum(col("w")).as("tw"), count(lit(1)).as("ne"))
    ew.crossJoin(broadcast(tot))
      .filter(col("w") * col("ne") * 10 >= col("tw") * 12)
      .select(col("src"), col("dst"))
  }

  /** The matching DuckDB CTE for [[tradeEdgeWeights]]. */
  private val tradeEwCte: String =
    """ew AS (SELECT cn.n_name AS src, sn.n_name AS dst, count(*) AS w
      |       FROM lineitem l
      |       JOIN orders o ON l.l_orderkey = o.o_orderkey
      |       JOIN customer c ON o.o_custkey = c.c_custkey
      |       JOIN supplier s ON l.l_suppkey = s.s_suppkey
      |       JOIN nation cn ON c.c_nationkey = cn.n_nationkey
      |       JOIN nation sn ON s.s_nationkey = sn.n_nationkey
      |       GROUP BY 1, 2)""".stripMargin

  /** The matching DuckDB CTE prefix for [[tradeEdges]]. */
  private val tradeEdgesCte: String =
    s"""$tradeEwCte,
      |edges AS (SELECT src, dst FROM (
      |            SELECT src, dst, row_number() OVER (PARTITION BY src
      |                     ORDER BY w DESC, dst) AS rn
      |            FROM ew) t
      |          WHERE rn <= 5)""".stripMargin

  /** BFS1 — single-source shortest paths + geodesic counts from
    * NATION_0 over the pr1 trade graph: 8 fixed min-plus relaxation
    * rounds, then Brandes-forward path-count DP by layer. The data-sized
    * work is the shared edge build; the rounds run node-table-bounded.
    * See [[graft.operators.Graph.shortestPaths]]. */
  val bfs1ShortestPaths: Q = (s, d) =>
    graft.operators.Graph.shortestPaths(
      Tables.nation(s, d).select(col("n_name").as("node")),
      tradeEdges(s, d), source = "NATION_0", iters = 8)

  val bfs1ShortestPathsSql: String = {
    val iters = 8
    val distStages = (1 to iters).map { k =>
      s"""d$k AS MATERIALIZED (
         |  SELECT node, min(dist) AS dist FROM (
         |    SELECT node, dist FROM d${k - 1}
         |    UNION ALL
         |    SELECT e.dst AS node, d.dist + 1 AS dist
         |    FROM d${k - 1} d JOIN edges e ON d.node = e.src
         |    WHERE d.dist IS NOT NULL)
         |  GROUP BY node)""".stripMargin
    }.mkString(",\n")
    val cntStages = (1 to iters).map { k =>
      s"""c$k AS MATERIALIZED (
         |  SELECT f.node, f.dist,
         |         CASE WHEN f.dist = $k THEN p.p ELSE f.paths END AS paths
         |  FROM c${k - 1} f LEFT JOIN (
         |    SELECT e.dst AS node, CAST(sum(s.paths) AS BIGINT) AS p
         |    FROM c${k - 1} s JOIN edges e ON s.node = e.src
         |    WHERE s.dist = ${k - 1} GROUP BY e.dst) p ON f.node = p.node)"""
        .stripMargin
    }.mkString(",\n")
    s"""WITH $tradeEdgesCte,
       |d0 AS (SELECT n_name AS node,
       |              CASE WHEN n_name = 'NATION_0'
       |                   THEN CAST(0 AS BIGINT) END AS dist
       |       FROM nation),
       |$distStages,
       |c0 AS (SELECT node, dist,
       |              CASE WHEN dist = 0 THEN CAST(1 AS BIGINT) END AS paths
       |       FROM d$iters),
       |$cntStages
       |SELECT node, dist IS NOT NULL AS reached,
       |       coalesce(dist, -1) AS dist, coalesce(paths, 0) AS paths
       |FROM c$iters ORDER BY node""".stripMargin
  }

  /** HITS1 — hubs & authorities over the pr1 trade graph: 4 fixed
    * mutual-reinforcement rounds, L1-normalized on the 1e-10 grid with
    * exact decimal sums between roundings (pr1's discipline; L1 instead
    * of Kleinberg's L2 keeps every intermediate a replayable rational).
    * See [[graft.operators.Graph.hits]]. */
  val hits1HubsAuth: Q = (s, d) =>
    graft.operators.Graph.hits(
      Tables.nation(s, d).select(col("n_name").as("node")),
      tradeEdges(s, d), iters = 4)

  val hits1HubsAuthSql: String = {
    val iters = 4
    // one L1-normalized half-step: raw = Σ over edges of the prior score
    // (exact decimal sum of grid-rounded values), score = raw/Σraw on the
    // 1e-10 grid; LEFT JOIN keeps in-edge-less nodes at 0
    def half(out: String, in: String, from: String, to: String) =
      s"""${out}raw AS (
         |  SELECT e.$to AS node, sum(CAST(s.score AS DECIMAL(28,12))) AS raw
         |  FROM $in s JOIN edges e ON s.node = e.$from GROUP BY 1),
         |$out AS MATERIALIZED (
         |  SELECT n.n_name AS node,
         |    CASE WHEN t.tot IS NULL OR t.tot = 0 THEN 0.0
         |         ELSE floor(CAST(coalesce(r.raw, 0) AS DOUBLE) /
         |                CAST(t.tot AS DOUBLE) * 10000000000 + 0.5)
         |              / 10000000000 END AS score
         |  FROM nation n
         |  LEFT JOIN ${out}raw r ON n.n_name = r.node
         |  CROSS JOIN (SELECT sum(raw) AS tot FROM ${out}raw) t)""".stripMargin
    val steps = (1 to iters).map { k =>
      half(s"a$k", s"h${k - 1}", "src", "dst") + ",\n" +
        half(s"h$k", s"a$k", "dst", "src")
    }.mkString(",\n")
    s"""WITH $tradeEdgesCte,
       |h0 AS (SELECT n_name AS node,
       |         floor(1.0 / (SELECT CAST(count(*) AS DOUBLE) FROM nation)
       |               * 1000000000000 + 0.5) / 1000000000000 AS score
       |       FROM nation),
       |$steps
       |SELECT h$iters.node, h$iters.score AS hub, a$iters.score AS authority
       |FROM h$iters JOIN a$iters ON a$iters.node = h$iters.node
       |ORDER BY h$iters.node""".stripMargin
  }

  /** MOD1 — modularity audit of lp1's community assignment over the pr1
    * trade graph: per community e_c (internal edges), d_c (total degree)
    * and the exact-integer contribution (4·m·e_c − d_c²)/4m² on the 1e-10
    * grid. See [[graft.operators.Graph.modularity]]. */
  val mod1Modularity: Q = (s, d) => {
    val nodes = Tables.nation(s, d).select(col("n_name").as("node"))
    // checkpointed (louv1's discipline): the corpus-sized 4-way trade
    // rollup otherwise executes TWICE — once inside labelPropagation's
    // nbrs checkpoint and again inside modularity's tagged checkpoint
    // (cross-ACTION subtrees; exchange reuse only dedups within one plan)
    val edges = tradeEdges(s, d).localCheckpoint()
    graft.operators.Graph.modularity(
      graft.operators.Graph.lpLabels(nodes, edges, rounds = 4),
      edges)
  }

  val mod1ModularitySql: String = {
    // communities come from lp1's exact CTE chain; modularity itself is
    // two integer aggregations over the community-tagged edge list
    val rounds = 4
    val steps = (1 to rounds).map { i =>
      s"""v$i AS (SELECT nb.node, l.lbl, count(*) AS c
         |  FROM nb JOIN l${i - 1} l ON l.node = nb.nbr GROUP BY 1, 2),
         |p$i AS (SELECT node, lbl FROM (
         |    SELECT node, lbl, row_number() OVER (PARTITION BY node
         |             ORDER BY c DESC, lbl) AS rn FROM v$i) t
         |  WHERE rn = 1),
         |l$i AS MATERIALIZED (SELECT l${i - 1}.node,
         |    COALESCE(p$i.lbl, l${i - 1}.lbl) AS lbl
         |  FROM l${i - 1} LEFT JOIN p$i ON p$i.node = l${i - 1}.node)"""
        .stripMargin
    }.mkString(",\n")
    s"""WITH
       |$tradeEdgesCte,
       |und AS MATERIALIZED (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
       |       FROM edges WHERE src <> dst),
       |nb AS MATERIALIZED (SELECT a AS node, b AS nbr FROM und
       |       UNION ALL SELECT b, a FROM und),
       |l0 AS (SELECT n_name AS node, n_name AS lbl FROM nation),
       |$steps,
       |tagged AS MATERIALIZED (
       |  SELECT und.a, und.b, ca.lbl AS comm_a, cb.lbl AS comm_b
       |  FROM und JOIN l$rounds ca ON ca.node = und.a
       |           JOIN l$rounds cb ON cb.node = und.b),
       |m AS (SELECT CAST(count(*) AS BIGINT) AS m FROM tagged),
       |deg AS (SELECT community, CAST(count(*) AS BIGINT) AS d_c FROM (
       |          SELECT comm_a AS community FROM tagged
       |          UNION ALL SELECT comm_b FROM tagged) GROUP BY 1),
       |intr AS (SELECT comm_a AS community, CAST(count(*) AS BIGINT) AS e_c
       |         FROM tagged WHERE comm_a = comm_b GROUP BY 1)
       |SELECT deg.community, coalesce(intr.e_c, 0) AS e_c, deg.d_c,
       |       floor(CAST(4 * m.m * coalesce(intr.e_c, 0) - deg.d_c * deg.d_c AS DOUBLE)
       |             / CAST(4 * m.m * m.m AS DOUBLE) * 10000000000 + 0.5)
       |       / 10000000000 AS q_contrib
       |FROM deg LEFT JOIN intr ON intr.community = deg.community
       |CROSS JOIN m
       |ORDER BY deg.community""".stripMargin
  }

  /** LOUV1 — one synchronous Louvain local-move round over lp1's
    * communities on the pr1 trade graph, with the before/after mod1
    * tables as output: each node adopts the neighbor community with the
    * best strictly-positive exact-integer modularity gain (ties to the
    * smallest label), all moves apply at once. The optimizer mod1's
    * audit exists for. See [[graft.operators.Graph.louvainMove]]. */
  val louv1LocalMove: Q = (s, d) => {
    val nodes = Tables.nation(s, d).select(col("n_name").as("node"))
    val edges = tradeEdges(s, d).localCheckpoint()
    graft.operators.Graph.louvainMove(
      graft.operators.Graph.lpLabels(nodes, edges, rounds = 4),
      edges)
  }

  val louv1LocalMoveSql: String = {
    // lp1's exact CTE chain → one integer-gain move round → the mod1
    // modularity audit for BOTH label sets, phase-tagged
    val rounds = 4
    val steps = (1 to rounds).map { i =>
      s"""v$i AS (SELECT nb.node, l.lbl, count(*) AS c
         |  FROM nb JOIN l${i - 1} l ON l.node = nb.nbr GROUP BY 1, 2),
         |p$i AS (SELECT node, lbl FROM (
         |    SELECT node, lbl, row_number() OVER (PARTITION BY node
         |             ORDER BY c DESC, lbl) AS rn FROM v$i) t
         |  WHERE rn = 1),
         |l$i AS MATERIALIZED (SELECT l${i - 1}.node,
         |    COALESCE(p$i.lbl, l${i - 1}.lbl) AS lbl
         |  FROM l${i - 1} LEFT JOIN p$i ON p$i.node = l${i - 1}.node)"""
        .stripMargin
    }.mkString(",\n")
    def audit(lbls: String, phase: String, tag: String) =
      s"""tg$tag AS (SELECT und.a, und.b, ca.lbl AS comm_a, cb.lbl AS comm_b
         |  FROM und JOIN $lbls ca ON ca.node = und.a
         |           JOIN $lbls cb ON cb.node = und.b),
         |dg$tag AS (SELECT community, CAST(count(*) AS BIGINT) AS d_c FROM (
         |            SELECT comm_a AS community FROM tg$tag
         |            UNION ALL SELECT comm_b FROM tg$tag) GROUP BY 1),
         |in$tag AS (SELECT comm_a AS community, CAST(count(*) AS BIGINT) AS e_c
         |           FROM tg$tag WHERE comm_a = comm_b GROUP BY 1),
         |ph$tag AS (SELECT '$phase' AS phase, dg$tag.community,
         |         coalesce(in$tag.e_c, 0) AS e_c, dg$tag.d_c,
         |         floor(CAST(4 * m2.m * coalesce(in$tag.e_c, 0) - dg$tag.d_c * dg$tag.d_c AS DOUBLE)
         |               / CAST(4 * m2.m * m2.m AS DOUBLE) * 10000000000 + 0.5)
         |         / 10000000000 AS q_contrib
         |  FROM dg$tag LEFT JOIN in$tag ON in$tag.community = dg$tag.community
         |  CROSS JOIN m2)""".stripMargin
    s"""WITH
       |$tradeEdgesCte,
       |und AS MATERIALIZED (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
       |       FROM edges WHERE src <> dst),
       |nb AS MATERIALIZED (SELECT a AS node, b AS nbr FROM und
       |       UNION ALL SELECT b, a FROM und),
       |l0 AS (SELECT n_name AS node, n_name AS lbl FROM nation),
       |$steps,
       |m2 AS (SELECT CAST(count(*) AS BIGINT) AS m FROM und),
       |kv AS (SELECT node, CAST(count(*) AS BIGINT) AS k_v FROM nb GROUP BY 1),
       |nlab AS (SELECT nb.node, l.lbl AS cand, CAST(count(*) AS BIGINT) AS k_vc
       |         FROM nb JOIN l$rounds l ON l.node = nb.nbr GROUP BY 1, 2),
       |curc AS (SELECT node, lbl AS cur FROM l$rounds),
       |dc AS (SELECT l.lbl AS community, CAST(sum(kv.k_v) AS BIGINT) AS d_c
       |       FROM l$rounds l JOIN kv ON kv.node = l.node GROUP BY 1),
       |kva AS (SELECT n.node, n.k_vc AS k_va FROM nlab n
       |        JOIN curc c ON c.node = n.node AND n.cand = c.cur),
       |gains AS (SELECT n.node, n.cand,
       |            4 * m2.m * (n.k_vc - COALESCE(kva.k_va, 0))
       |            - 2 * kv.k_v * (db.d_c - da.d_c + kv.k_v) AS gain
       |          FROM nlab n
       |          JOIN curc c ON c.node = n.node AND n.cand <> c.cur
       |          LEFT JOIN kva ON kva.node = n.node
       |          JOIN kv ON kv.node = n.node
       |          JOIN dc db ON db.community = n.cand
       |          JOIN dc da ON da.community = c.cur
       |          CROSS JOIN m2),
       |mv AS (SELECT node, cand AS newc FROM (
       |         SELECT node, cand, row_number() OVER (PARTITION BY node
       |                  ORDER BY gain DESC, cand) AS rn
       |         FROM gains WHERE gain > 0) t WHERE rn = 1),
       |lA AS MATERIALIZED (SELECT l.node, COALESCE(mv.newc, l.lbl) AS lbl
       |      FROM l$rounds l LEFT JOIN mv ON mv.node = l.node),
       |${audit(s"l$rounds", "before", "b")},
       |${audit("lA", "after", "a")}
       |SELECT * FROM phb UNION ALL SELECT * FROM pha
       |ORDER BY phase, community""".stripMargin
  }

  /** LOUV2 — FULL Louvain over the pr1 trade graph (both Blondel phases):
    * 4 synchronous local-move rounds from a SINGLETON start, one
    * COARSENING level (communities become weighted super-nodes;
    * inter-community edge counts become weights, internal counts become
    * self-loops), 2 weighted move rounds on the coarse graph, and the
    * final assignment mapped back per node with the mod1 audit of the
    * final labels on the original graph. louv1 is one round of phase 1;
    * this is the operator the family is named for.
    * See [[graft.operators.Graph.louvain]]. */
  val louv2Coarsen: Q = (s, d) =>
    graft.operators.Graph.louvain(
      Tables.nation(s, d).select(col("n_name").as("node")),
      tradeEdges(s, d), moveRounds = 4, coarseRounds = 2)

  val louv2CoarsenSql: String = {
    // one synchronous WEIGHTED move round (labels $lprev over edge CTE
    // $ew carrying (a, b, w) with self-loops allowed) → labels $lnext:
    // the louv1 gain CTEs with count(*) generalized to sum(w), k_v
    // picking up 2·w_self, plus the Lu-Halappanavar-Kalyanaraman
    // singleton-swap guard (both communities singleton → move only
    // toward the smaller label, so synchronous swaps merge instead of
    // livelocking)
    def wround(tag: String, lprev: String, lnext: String, ew: String) =
      s"""nb$tag AS (SELECT a AS node, b AS nbr, w FROM $ew WHERE a <> b
         |  UNION ALL SELECT b, a, w FROM $ew WHERE a <> b),
         |sf$tag AS (SELECT a AS node, CAST(2 * w AS BIGINT) AS sw
         |           FROM $ew WHERE a = b),
         |kv$tag AS (SELECT node, CAST(sum(w) AS BIGINT) AS k_v FROM (
         |    SELECT node, w FROM nb$tag
         |    UNION ALL SELECT node, sw AS w FROM sf$tag)
         |  GROUP BY 1),
         |m$tag AS (SELECT CAST(sum(w) AS BIGINT) AS m FROM $ew),
         |cs$tag AS (SELECT lbl, CAST(count(*) AS BIGINT) AS cs
         |           FROM $lprev GROUP BY 1),
         |dc$tag AS (SELECT l.lbl AS community,
         |    CAST(sum(coalesce(kv$tag.k_v, 0)) AS BIGINT) AS d_c
         |  FROM $lprev l LEFT JOIN kv$tag ON kv$tag.node = l.node GROUP BY 1),
         |nl$tag AS (SELECT nb$tag.node, l.lbl AS cand,
         |    CAST(sum(nb$tag.w) AS BIGINT) AS k_vc
         |  FROM nb$tag JOIN $lprev l ON l.node = nb$tag.nbr GROUP BY 1, 2),
         |ka$tag AS (SELECT n.node, n.k_vc AS k_va FROM nl$tag n
         |  JOIN $lprev c ON c.node = n.node AND n.cand = c.lbl),
         |gn$tag AS (SELECT n.node, n.cand,
         |    4 * m$tag.m * (n.k_vc - COALESCE(ka$tag.k_va, 0))
         |    - 2 * kv$tag.k_v * (db.d_c - da.d_c + kv$tag.k_v) AS gain
         |  FROM nl$tag n
         |  JOIN $lprev c ON c.node = n.node AND n.cand <> c.lbl
         |  LEFT JOIN ka$tag ON ka$tag.node = n.node
         |  JOIN kv$tag ON kv$tag.node = n.node
         |  JOIN dc$tag db ON db.community = n.cand
         |  JOIN dc$tag da ON da.community = c.lbl
         |  JOIN cs$tag sb ON sb.lbl = n.cand
         |  JOIN cs$tag sa ON sa.lbl = c.lbl
         |  CROSS JOIN m$tag
         |  WHERE NOT (sa.cs = 1 AND sb.cs = 1 AND n.cand > c.lbl)),
         |mv$tag AS (SELECT node, cand AS newc FROM (
         |    SELECT node, cand, row_number() OVER (PARTITION BY node
         |             ORDER BY gain DESC, cand) AS rn
         |    FROM gn$tag WHERE gain > 0) t WHERE rn = 1),
         |$lnext AS MATERIALIZED (
         |  SELECT l.node, COALESCE(mv$tag.newc, l.lbl) AS lbl
         |  FROM $lprev l LEFT JOIN mv$tag ON mv$tag.node = l.node)"""
        .stripMargin
    val moveSteps = (1 to 4)
      .map(i => wround(s"m$i", s"l${i - 1}", s"l$i", "e0")).mkString(",\n")
    val coarseSteps = (1 to 2)
      .map(i => wround(s"c$i", s"g${i - 1}", s"g$i", "ce")).mkString(",\n")
    s"""WITH
       |$tradeEdgesCte,
       |und AS MATERIALIZED (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
       |       FROM edges WHERE src <> dst),
       |e0 AS (SELECT a, b, CAST(1 AS BIGINT) AS w FROM und),
       |l0 AS (SELECT n_name AS node, n_name AS lbl FROM nation),
       |$moveSteps,
       |ce AS MATERIALIZED (
       |  SELECT least(ca.lbl, cb.lbl) AS a, greatest(ca.lbl, cb.lbl) AS b,
       |         CAST(count(*) AS BIGINT) AS w
       |  FROM und JOIN l4 ca ON ca.node = und.a
       |           JOIN l4 cb ON cb.node = und.b
       |  GROUP BY 1, 2),
       |g0 AS (SELECT DISTINCT lbl AS node, lbl FROM l4),
       |$coarseSteps,
       |lf AS MATERIALIZED (SELECT l4.node, l4.lbl AS c0, g2.lbl AS community
       |      FROM l4 JOIN g2 ON g2.node = l4.lbl),
       |tg AS MATERIALIZED (
       |  SELECT und.a, und.b, ca.community AS comm_a, cb.community AS comm_b
       |  FROM und JOIN lf ca ON ca.node = und.a
       |           JOIN lf cb ON cb.node = und.b),
       |mm AS (SELECT CAST(count(*) AS BIGINT) AS m FROM und),
       |dg AS (SELECT community, CAST(count(*) AS BIGINT) AS d_c FROM (
       |         SELECT comm_a AS community FROM tg
       |         UNION ALL SELECT comm_b FROM tg) GROUP BY 1),
       |itr AS (SELECT comm_a AS community, CAST(count(*) AS BIGINT) AS e_c
       |        FROM tg WHERE comm_a = comm_b GROUP BY 1),
       |aud AS (SELECT dg.community, coalesce(itr.e_c, 0) AS e_c, dg.d_c,
       |          floor(CAST(4 * mm.m * coalesce(itr.e_c, 0) - dg.d_c * dg.d_c AS DOUBLE)
       |                / CAST(4 * mm.m * mm.m AS DOUBLE) * 10000000000 + 0.5)
       |          / 10000000000 AS q_contrib
       |        FROM dg LEFT JOIN itr ON itr.community = dg.community
       |        CROSS JOIN mm)
       |SELECT lf.node, lf.c0, lf.community,
       |       coalesce(aud.e_c, 0) AS e_c, coalesce(aud.d_c, 0) AS d_c,
       |       coalesce(aud.q_contrib, 0.0) AS q_contrib
       |FROM lf LEFT JOIN aud ON aud.community = lf.community
       |ORDER BY lf.node""".stripMargin
  }

  /** PPR1 — personalized PageRank (random walk with restart) from
    * NATION_0 over the pr1 trade graph: proximity, not global rank —
    * every restart teleports to the source, unreached nodes hold exact
    * 0. 5 fixed decimal-grid rounds, oracle-unrolled.
    * See [[graft.operators.Graph.personalizedPageRank]]. */
  val ppr1Proximity: Q = (s, d) =>
    graft.operators.Graph.personalizedPageRank(
      Tables.nation(s, d).select(col("n_name").as("node")),
      tradeEdges(s, d), source = "NATION_0", iters = 5)

  val ppr1ProximitySql: String =
    s"""WITH RECURSIVE
      |$tradeEdgesCte,
      |outdeg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
      |contribs AS (
      |  SELECT e.src, e.dst,
      |         floor((0.85 / od.deg) * 1000000000000 + 0.5) / 1000000000000 AS w
      |  FROM edges e JOIN outdeg od ON e.src = od.src
      |  UNION ALL
      |  SELECT n_name, n_name, 0.0 FROM nation),
      |pr AS (
      |  SELECT 0 AS iter, n_name AS node,
      |         -- CAST: the recursive CTE's column type is inferred from
      |         -- the ANCHOR; a bare 1.0/0.0 CASE infers DECIMAL(2,1) and
      |         -- silently truncates every later iteration to one decimal
      |         CAST(CASE WHEN n_name = 'NATION_0' THEN 1.0 ELSE 0.0 END AS DOUBLE) AS r
      |  FROM nation
      |  UNION ALL
      |  SELECT p.iter + 1, c.dst,
      |         floor((CASE WHEN c.dst = 'NATION_0' THEN 0.15 ELSE 0.0 END +
      |                CAST(sum(CAST(floor(p.r * c.w * 1000000000000 + 0.5) / 1000000000000 AS DECIMAL(28,12))) AS DOUBLE))
      |               * 10000000000 + 0.5) / 10000000000
      |  FROM pr p JOIN contribs c ON p.node = c.src
      |  WHERE p.iter < 5
      |  GROUP BY p.iter + 1, c.dst)
      |SELECT node, r AS proximity FROM pr WHERE iter = 5""".stripMargin

  val pr1Pagerank: Q = (s, d) =>
    graft.operators.Graph.pageRank(
      Tables.nation(s, d).select(col("n_name").as("node")),
      tradeEdges(s, d), iters = 5)

  val pr1PagerankSql: String =
    s"""WITH RECURSIVE
      |$tradeEdgesCte,
      |outdeg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
      |contribs AS (
      |  SELECT e.src, e.dst,
      |         floor((0.85 / od.deg) * 1000000000000 + 0.5) / 1000000000000 AS w
      |  FROM edges e JOIN outdeg od ON e.src = od.src
      |  UNION ALL
      |  SELECT n_name, n_name, 0.0 FROM nation),
      |nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nation),
      |pr AS (
      |  SELECT 0 AS iter, n_name AS node, 1.0 / (SELECT n FROM nn) AS r FROM nation
      |  UNION ALL
      |  SELECT p.iter + 1, c.dst,
      |         floor((0.15 / (SELECT n FROM nn) +
      |                CAST(sum(CAST(floor(p.r * c.w * 1000000000000 + 0.5) / 1000000000000 AS DECIMAL(28,12))) AS DOUBLE))
      |               * 10000000000 + 0.5) / 10000000000
      |  FROM pr p JOIN contribs c ON p.node = c.src
      |  WHERE p.iter < 5
      |  GROUP BY p.iter + 1, c.dst)
      |SELECT node, r AS rank FROM pr WHERE iter = 5""".stripMargin

  /** ROLL1 — exact rolling 7-day distinct active users (the WAU curve;
    * [[graft.operators.Analytics.rollingActiveUsers]]). */
  val roll1Rolling: Q = (s, d) =>
    graft.operators.Analytics.rollingActiveUsers(Tables.events(s, d))

  val roll1RollingSql: String =
    """WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
      |mx AS (SELECT CAST(max(ts) AS DATE) AS dmax FROM events),
      |e AS (SELECT user_id,
      |             CAST(unnest(generate_series(CAST(day AS TIMESTAMP),
      |                    CAST(day AS TIMESTAMP) + INTERVAL 6 DAY, INTERVAL 1 DAY)) AS DATE) AS w_day
      |      FROM ud)
      |SELECT strftime(w_day, '%Y-%m-%d') AS day,
      |       CAST(count(DISTINCT user_id) AS BIGINT) AS n_active
      |FROM e CROSS JOIN mx WHERE w_day <= dmax GROUP BY 1""".stripMargin

  /** ROLL2 — roll1's 100 TB twin made real: per-day HLL sketches of the
    * active users, and each rolling window is a MERGE of its trailing 7
    * blobs ([[graft.operators.Analytics.rollingActiveUsersApprox]]) — the
    * raw events are scanned once, and every window after that is |days|×KB
    * sketch unions instead of a re-deduplicated (user, day) explosion.
    * Gate: every day's estimate within 5% of roll1's exact count (HLL
    * lgK=12 ⇒ σ≈1.6%), plus day-set equality with the exact form. */
  val roll2RollingApprox: Q = (s, d) => {
    val approx = graft.operators.Analytics.rollingActiveUsersApprox(
      Tables.events(s, d))
    val exact = graft.operators.Analytics.rollingActiveUsers(Tables.events(s, d))
      .withColumnRenamed("n_active", "exact_n")
    approx.join(exact, Seq("day"), "full_outer")
      .agg(count(lit(1)).as("n_days"),
        bool_and(col("approx_active").isNotNull && col("exact_n").isNotNull)
          .as("same_days"),
        bool_and(abs(col("approx_active") - col("exact_n")).cast("double")
          / col("exact_n") <= 0.05).as("within_tol"))
  }

  val roll2RollingApproxSql: String =
    """WITH ud AS (SELECT DISTINCT CAST(ts AS DATE) AS day FROM events),
      |mx AS (SELECT CAST(max(ts) AS DATE) AS dmax FROM events),
      |e AS (SELECT CAST(unnest(generate_series(CAST(day AS TIMESTAMP),
      |             CAST(day AS TIMESTAMP) + INTERVAL 6 DAY, INTERVAL 1 DAY)) AS DATE) AS w_day
      |      FROM ud)
      |SELECT CAST(count(DISTINCT w_day) AS BIGINT) AS n_days,
      |       true AS same_days, true AS within_tol
      |FROM e CROSS JOIN mx WHERE w_day <= dmax""".stripMargin

  /** SEG1 — RFM segmentation with percentile-fence quartile scores
    * ([[graft.operators.Analytics.rfmSegments]]). */
  val seg1Rfm: Q = (s, d) =>
    graft.operators.Analytics.rfmSegments(Tables.events(s, d))

  val seg1RfmSql: String =
    """WITH per AS (
      |  SELECT user_id, CAST(max(ts) AS DATE) AS last_day, count(*) AS frequency,
      |         CAST(coalesce(sum(CASE WHEN event_type = 'purchase'
      |                           THEN CAST(value AS DECIMAL(18,2)) END), 0) AS DOUBLE) AS monetary
      |  FROM events GROUP BY 1),
      |ref AS (SELECT CAST(max(ts) AS DATE) AS ref_day FROM events),
      |s AS (SELECT per.*, CAST(datediff('day', last_day, ref_day) AS BIGINT) AS recency_days
      |      FROM per CROSS JOIN ref),
      |f AS (SELECT
      |  floor(quantile_cont(recency_days, 0.25) * 10000 + 0.5) / 10000 AS r25,
      |  floor(quantile_cont(recency_days, 0.5) * 10000 + 0.5) / 10000 AS r50,
      |  floor(quantile_cont(recency_days, 0.75) * 10000 + 0.5) / 10000 AS r75,
      |  floor(quantile_cont(frequency, 0.25) * 10000 + 0.5) / 10000 AS f25,
      |  floor(quantile_cont(frequency, 0.5) * 10000 + 0.5) / 10000 AS f50,
      |  floor(quantile_cont(frequency, 0.75) * 10000 + 0.5) / 10000 AS f75,
      |  floor(quantile_cont(monetary, 0.25) * 10000 + 0.5) / 10000 AS m25,
      |  floor(quantile_cont(monetary, 0.5) * 10000 + 0.5) / 10000 AS m50,
      |  floor(quantile_cont(monetary, 0.75) * 10000 + 0.5) / 10000 AS m75
      |  FROM s),
      |sc AS (SELECT user_id, recency_days, frequency, monetary,
      |        1 + CAST(recency_days < r75 AS INT) + CAST(recency_days < r50 AS INT)
      |          + CAST(recency_days < r25 AS INT) AS r_score,
      |        1 + CAST(frequency > f25 AS INT) + CAST(frequency > f50 AS INT)
      |          + CAST(frequency > f75 AS INT) AS f_score,
      |        1 + CAST(monetary > m25 AS INT) + CAST(monetary > m50 AS INT)
      |          + CAST(monetary > m75 AS INT) AS m_score
      |       FROM s CROSS JOIN f)
      |SELECT user_id, recency_days, frequency, monetary, r_score, f_score, m_score,
      |       CASE WHEN r_score >= 3 AND f_score >= 3 AND m_score >= 3 THEN 'champion'
      |            WHEN r_score >= 3 AND f_score >= 3 THEN 'loyal'
      |            WHEN r_score >= 3 THEN 'recent'
      |            WHEN f_score >= 3 OR m_score >= 3 THEN 'at_risk'
      |            ELSE 'hibernating' END AS segment
      |FROM sc""".stripMargin

  /** U6 — bag-semantics EXCEPT ALL: order custkeys minus one occurrence
    * per known customer (multiplicity-aware, unlike u4's set EXCEPT). */
  val u6ExceptAll: Q = (s, d) =>
    Tables.orders(s, d).select(col("o_custkey").as("custkey"))
      .exceptAll(Tables.customer(s, d).select(col("c_custkey").as("custkey")))

  val u6ExceptAllSql: String =
    """SELECT o_custkey AS custkey FROM orders
      |EXCEPT ALL
      |SELECT c_custkey AS custkey FROM customer""".stripMargin

  /** U7 — bag-semantics INTERSECT ALL between two overlapping lineitem
    * slices (min-multiplicity per part key). */
  val u7IntersectAll: Q = (s, d) => {
    val l = Tables.lineitem(s, d)
    l.filter(col("l_discount") <= 0.05).select(col("l_partkey"))
      .intersectAll(l.filter(col("l_quantity") >= 25).select(col("l_partkey")))
  }

  val u7IntersectAllSql: String =
    """SELECT l_partkey FROM lineitem WHERE l_discount <= 0.05
      |INTERSECT ALL
      |SELECT l_partkey FROM lineitem WHERE l_quantity >= 25""".stripMargin

  /** MM3 — REAL WAV/RIFF header decode over an in-plan binary audio
    * fixture ([[graft.operators.Multimodal.decodeAudio]]): the audio twin
    * of mm1's PNG/JPEG parse — the oracle recomputes the expected fields
    * from the id arithmetic the fixture embeds into genuine RIFF bytes. */
  val mm3Audio: Q = (s, d) => {
    val media = Tables.documents(s, d).select(col("doc_id"),
      graft.operators.Multimodal.syntheticWavPayload(col("doc_id")).as("payload"))
    graft.operators.Multimodal.decodeAudio(s, media).toDF()
  }

  val mm3AudioSql: String =
    """SELECT doc_id,
      |  CAST((1 + doc_id % 5) * 8000 AS INT) AS sample_rate,
      |  CAST(1 + doc_id % 2 AS INT) AS n_channels,
      |  CAST(16 AS INT) AS bits,
      |  CAST((doc_id % 1000 + 1) * (1 + doc_id % 2) * 2 * 16 AS BIGINT) AS data_bytes,
      |  CAST(floor(((doc_id % 1000 + 1) * (1 + doc_id % 2) * 2 * 16) * 1000.0 /
      |             ((1 + doc_id % 5) * 8000 * (1 + doc_id % 2) * 2)) AS BIGINT) AS duration_ms
      |FROM documents""".stripMargin

  /** MM5 — frame-level PCM audio features from REAL bytes
    * ([[graft.operators.Multimodal.audioFrameFeatures]]): the payload
    * carries an actual sample stream (mono 8 kHz 16-bit sawtooth,
    * id-derived), the engine walks the bytes (mapPartitions — the
    * sanctioned case), and the oracle recomputes per-frame RMS /
    * zero-crossing rate / peak from the SAME id formula (the mm1–mm4
    * pattern: real decode, arithmetic oracle). These are the numbers a
    * speech-data pipeline's silence/clipping screens run on. */
  val mm5AudioFrames: Q = (s, d) => {
    val media = Tables.documents(s, d).select(col("doc_id"),
      graft.operators.Multimodal.syntheticWavWithSamples(col("doc_id"))
        .as("payload"))
    graft.operators.Multimodal.audioFrameFeatures(s, media).toDF()
  }

  lazy val mm5AudioFramesSql: String = {
    def sRaw(k: String) = s"((doc_id * 31 + ($k) * 17) % 201 - 100)"
    def sVal(k: String) = s"CAST(${sRaw(k)} * 64 AS DOUBLE)"
    s"""WITH d AS (SELECT doc_id, CAST(64 * (1 + doc_id % 4) AS INT) AS n,
       |                  CAST(1 + doc_id % 4 AS INT) AS frames
       |           FROM documents),
       |f AS (SELECT doc_id, n, frames,
       |        [CAST(floor(sqrt(list_sum([${sVal("k")} * ${sVal("k")}
       |                                   FOR k IN RANGE(ff * 64, ff * 64 + 64)]) / 64.0)
       |                    * 1000000 + 0.5) AS BIGINT)
       |         FOR ff IN RANGE(0, frames)] AS micro,
       |        list_sum([CASE WHEN ${sRaw("k - 1")} * ${sRaw("k")} < 0 THEN 1 ELSE 0 END
       |                  FOR k IN RANGE(1, n)]) AS zc,
       |        list_max([abs(${sRaw("k")} * 64) FOR k IN RANGE(0, n)]) AS peak
       |      FROM d)
       |SELECT doc_id, n AS n_samples, frames AS n_frames,
       |       floor(CAST(list_sum(micro) AS DOUBLE) / frames + 0.5) / 1000000 AS mean_rms,
       |       floor(CAST(zc AS DOUBLE) / (n - 1) * 1000000 + 0.5) / 1000000 AS zcr,
       |       CAST(peak AS INT) AS peak_abs
       |FROM f""".stripMargin
  }

  /** ASOF2 — as-of attribution with a 1-hour tolerance window: the asof1
    * join, but matches older than the attribution window are nulled
    * ([[graft.operators.AsOf.asOfJoinTolerance]]). */
  val asof2Windowed: Q = (s, d) => {
    val ev = Tables.events(s, d)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("event_id").as("purchase_id"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"), col("event_id").as("click_id"))
    graft.operators.AsOf.asOfJoinTolerance(purchases, clicks, "user_id", "ts",
      Seq("click_id"), 3600L * 1000000L)
      .select(col("user_id"), col("purchase_id"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("purchase_ts"),
        col("asof_click_id").as("click_id"))
  }

  val asof2WindowedSql: String =
    """SELECT p.user_id, p.event_id AS purchase_id,
      |       strftime(CAST(date_trunc('second', p.ts) AS TIMESTAMP), '%Y-%m-%d %H:%M:%S') AS purchase_ts,
      |       CASE WHEN c.ts IS NOT NULL AND p.ts - c.ts <= INTERVAL 1 HOUR
      |            THEN c.event_id END AS click_id
      |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
      |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      |  ON p.user_id = c.user_id AND p.ts >= c.ts""".stripMargin

  /** CDC2 — change-feed apply WITH deletes: latest op per key wins, a
    * winning delete removes the key — full I/U/D MERGE semantics on the
    * native top-1-per-key exec
    * ([[graft.operators.Curation.applyChangeFeed]]). The fixture derives
    * ops from the stream itself ('error' events model tombstones). */
  val cdc2Deletes: Q = (s, d) => {
    val feed = Tables.events(s, d).withColumn("op",
      when(col("event_type") === "error", "D").otherwise("U"))
    graft.operators.Curation.applyChangeFeed(feed,
      Seq("user_id"), Seq("ts" -> false, "event_id" -> false), "op")
      .select(col("user_id"), col("event_type"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("last_ts"))
  }

  val cdc2DeletesSql: String =
    """SELECT user_id, event_type,
      |       strftime(CAST(date_trunc('second', ts) AS TIMESTAMP), '%Y-%m-%d %H:%M:%S') AS last_ts
      |FROM (SELECT user_id, event_type, ts,
      |             CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
      |             row_number() OVER (PARTITION BY user_id
      |                                ORDER BY ts DESC, event_id DESC) AS rn
      |      FROM events)
      |WHERE rn = 1 AND op <> 'D'""".stripMargin

  /** PCA1 — top principal component of the embedding matrix by power
    * iteration ([[graft.operators.Similarity.topComponent]]); the oracle
    * unrolls the same decimal-exact rounds as chained CTEs. */
  val pca1Power: Q = (s, d) =>
    graft.operators.Similarity.topComponent(Tables.embeddings(s, d))

  val pca1PowerSql: String = {
    def round9(e: String) = s"floor(($e) * 1000000000 + 0.5) / 1000000000"
    def iter(i: Int, prev: String): String =
      s"""d$i AS (SELECT vec_id,
         |  floor(CAST(sum(CAST(${round9("x * v")} AS DECIMAL(18,9))) AS DOUBLE) * 1000000 + 0.5) / 1000000 AS dot
         |  FROM f JOIN $prev USING (j) GROUP BY vec_id),
         |u$i AS (SELECT j, CAST(sum(CAST(${round9("dot * x")} AS DECIMAL(28,9))) AS DOUBLE) AS s
         |  FROM f JOIN d$i USING (vec_id) GROUP BY j),
         |n$i AS (SELECT sqrt(CAST(sum(CAST(${round9("s * s")} AS DECIMAL(28,9))) AS DOUBLE)) AS nrm FROM u$i),
         |v$i AS (SELECT j, ${round9("s / nrm")} AS v FROM u$i CROSS JOIN n$i)""".stripMargin
    val rounds = (1 to 5).map(i => iter(i, if (i == 1) "v0" else s"v${i - 1}"))
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
       |f AS (SELECT vec_id, CAST(j AS BIGINT) AS j, emb[j] AS x
       |      FROM e, LATERAL (SELECT unnest(generate_series(1, 64)) AS j) t),
       |v0 AS (SELECT CAST(unnest(generate_series(1, 64)) AS BIGINT) AS j, 0.125 AS v),
       |${rounds.mkString(",\n")}
       |SELECT j, v AS component FROM v5""".stripMargin
  }

  /** KMEANS1 — full Lloyd k-means over the embeddings as a first-class
    * query ([[graft.operators.Similarity.lloydClusters]]): deterministic
    * init (k smallest vec_ids), 3 assign+mean rounds, final (vec_id, cid,
    * dist) assignment. Every per-dimension term is 1e-9-grid-rounded and
    * folded as an exact decimal, so the oracle unrolls the SAME rounds
    * (MATERIALIZED — the round chain would inline exponentially) and the
    * full result hash-matches: clustering with bit-exact cross-engine
    * parity, not a quality gate. */
  val kmeans1Lloyd: Q = (s, d) =>
    graft.operators.Similarity.lloydClusters(Tables.embeddings(s, d))

  /** The lloyd CTE chain (e, f, init, c0, training rounds → c`iters`) —
    * shared by the kmeans1 oracle and the sil1 silhouette oracle. */
  private def lloydCtesSql(iters: Int, k: Int = 4): String = {
    def r9(x: String) = s"floor(($x) * 1000000000 + 0.5) / 1000000000"
    val rounds = (1 to iters).map { r =>
      s"""a$r AS MATERIALIZED (
         |  SELECT vec_id, cid, dist FROM (
         |    SELECT vec_id, cid, dist,
         |           row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
         |    FROM (SELECT f.vec_id, c.cid,
         |                 CAST(sum(CAST(${r9("(f.x - c.c) * (f.x - c.c)")} AS DECIMAL(28,9))) AS DOUBLE) AS dist
         |          FROM f JOIN c${r - 1} c USING (j) GROUP BY f.vec_id, c.cid) dd) rr
         |  WHERE rn = 1),
         |c$r AS MATERIALIZED (
         |  SELECT p.cid, p.j, COALESCE(m.m, p.c) AS c
         |  FROM c${r - 1} p LEFT JOIN (
         |    SELECT a.cid, f.j,
         |           ${r9(s"CAST(sum(CAST(${r9("f.x")} AS DECIMAL(18,9))) AS DOUBLE) / count(*)")} AS m
         |    FROM a$r a JOIN f USING (vec_id) GROUP BY a.cid, f.j) m
         |  ON m.cid = p.cid AND m.j = p.j)""".stripMargin
    }.mkString(",\n")
    s"""e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
       |f AS MATERIALIZED (SELECT vec_id, CAST(j AS BIGINT) AS j, emb[j] AS x
       |     FROM e, LATERAL (SELECT unnest(generate_series(1, 64)) AS j) t),
       |init AS (SELECT vec_id, row_number() OVER (ORDER BY vec_id) - 1 AS cid
       |         FROM (SELECT vec_id FROM e ORDER BY vec_id LIMIT $k) ii),
       |c0 AS MATERIALIZED (SELECT i.cid, f.j, f.x AS c
       |     FROM init i JOIN f ON f.vec_id = i.vec_id),
       |$rounds""".stripMargin
  }

  val kmeans1LloydSql: String = {
    def r9(x: String) = s"floor(($x) * 1000000000 + 0.5) / 1000000000"
    val iters = 3
    s"""WITH ${lloydCtesSql(iters)},
       |afin AS (
       |  SELECT vec_id, cid, dist FROM (
       |    SELECT vec_id, cid, dist,
       |           row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
       |    FROM (SELECT f.vec_id, c.cid,
       |                 CAST(sum(CAST(${r9("(f.x - c.c) * (f.x - c.c)")} AS DECIMAL(28,9))) AS DOUBLE) AS dist
       |          FROM f JOIN c$iters c USING (j) GROUP BY f.vec_id, c.cid) dd) rr
       |  WHERE rn = 1)
       |SELECT vec_id, CAST(cid AS BIGINT) AS cid,
       |       floor(dist * 1000000 + 0.5) / 1000000 AS dist
       |FROM afin""".stripMargin
  }

  /** SIL1 — simplified (centroid-based) silhouette of kmeans1's
    * clustering: per vector, a = distance to its own centroid, b = to
    * the nearest other, s = (b−a)/max(a,b) — the clustering-quality eval
    * in its LINEAR form (n·k centroid distances; the all-pairs classic
    * is Θ(n²) and exists nowhere a corpus can grow). Replays kmeans1's
    * full training chain plus one distance frame in the oracle.
    * See [[graft.operators.Similarity.silhouetteSimplified]]. */
  val sil1Silhouette: Q = (s, d) =>
    graft.operators.Similarity.silhouetteSimplified(Tables.embeddings(s, d))

  val sil1SilhouetteSql: String = {
    def r9(x: String) = s"floor(($x) * 1000000000 + 0.5) / 1000000000"
    val iters = 3
    s"""WITH ${lloydCtesSql(iters)},
       |dd AS (SELECT f.vec_id, c.cid,
       |              CAST(sum(CAST(${r9("(f.x - c.c) * (f.x - c.c)")} AS DECIMAL(28,9))) AS DOUBLE) AS dist
       |       FROM f JOIN c$iters c USING (j) GROUP BY f.vec_id, c.cid),
       |own AS (SELECT vec_id, cid AS own_cid, dist AS a2 FROM (
       |          SELECT vec_id, cid, dist,
       |                 row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
       |          FROM dd) r WHERE rn = 1),
       |bb AS (SELECT dd.vec_id, min(dd.dist) AS b2
       |       FROM dd JOIN own ON dd.vec_id = own.vec_id AND dd.cid <> own.own_cid
       |       GROUP BY dd.vec_id)
       |SELECT own.vec_id, CAST(own_cid AS BIGINT) AS cid,
       |       floor(sqrt(a2) * 1000000 + 0.5) / 1000000 AS a_own,
       |       floor(sqrt(b2) * 1000000 + 0.5) / 1000000 AS b_other,
       |       CASE WHEN greatest(sqrt(a2), sqrt(b2)) > 0
       |            THEN floor((sqrt(b2) - sqrt(a2)) / greatest(sqrt(a2), sqrt(b2)) * 1000000 + 0.5) / 1000000
       |            ELSE 0.0 END AS silhouette
       |FROM own JOIN bb ON own.vec_id = bb.vec_id""".stripMargin
  }

  /** SSP1 — self-supervised-prototype data pruning (Sorscher et al.
    * 2022): kmeans1's lloyd chain, then per cluster KEEP the hardest
    * 50% by prototype distance (the plentiful-data policy) — per-cluster
    * sizes, keep-boundary distance, and micro-exact mean kept/dropped
    * distances. Replays the full training + rank + accounting chain in
    * DuckDB. See [[graft.operators.Similarity.prototypePrune]]. */
  val ssp1PrototypePrune: Q = (s, d) =>
    graft.operators.Similarity.prototypePrune(Tables.embeddings(s, d))

  val ssp1PrototypePruneSql: String = {
    def r9(x: String) = s"floor(($x) * 1000000000 + 0.5) / 1000000000"
    val iters = 3
    val nKept = "sum(CASE WHEN kept THEN 1 ELSE 0 END)"
    s"""WITH ${lloydCtesSql(iters)},
       |afin AS (
       |  SELECT vec_id, cid, dist FROM (
       |    SELECT vec_id, cid, dist,
       |           row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
       |    FROM (SELECT f.vec_id, c.cid,
       |                 CAST(sum(CAST(${r9("(f.x - c.c) * (f.x - c.c)")} AS DECIMAL(28,9))) AS DOUBLE) AS dist
       |          FROM f JOIN c$iters c USING (j) GROUP BY f.vec_id, c.cid) dd) rr
       |  WHERE rn = 1),
       |rd AS (SELECT vec_id, cid,
       |         floor(dist * 1000000 + 0.5) / 1000000 AS dist,
       |         CAST(floor(dist * 1000000 + 0.5) AS BIGINT) AS micro
       |       FROM afin),
       |rk AS (SELECT *,
       |         row_number() OVER (PARTITION BY cid ORDER BY dist DESC, vec_id) AS rk,
       |         count(*) OVER (PARTITION BY cid) AS n_vectors
       |       FROM rd),
       |kp AS (SELECT *,
       |         rk <= CAST(ceil(CAST(n_vectors AS DOUBLE) * 0.5) AS BIGINT) AS kept
       |       FROM rk)
       |SELECT CAST(cid AS BIGINT) AS cid,
       |       CAST(count(*) AS BIGINT) AS n_vectors,
       |       CAST($nKept AS BIGINT) AS n_kept,
       |       min(CASE WHEN kept THEN dist END) AS cut_dist,
       |       ${portableRoundSql(s"CAST(sum(CASE WHEN kept THEN micro ELSE 0 END) AS DOUBLE) / 1000000 / $nKept", 6)} AS mean_kept,
       |       CASE WHEN count(*) > $nKept
       |            THEN ${portableRoundSql(s"CAST(sum(CASE WHEN NOT kept THEN micro ELSE 0 END) AS DOUBLE) / 1000000 / (count(*) - $nKept)", 6)}
       |            END AS mean_dropped
       |FROM kp GROUP BY cid""".stripMargin
  }

  /** CORE1 — greedy k-center coreset (Gonzalez 1985 farthest-point
    * traversal) over the embeddings: the diversity-based data-SELECTION
    * leg of the curation family (kmeans1 averages toward density, d9
    * removes redundancy, core1 KEEPS a maximally-spread exemplar set).
    * Deterministic init (smallest vec_id), k-1 farthest-point rounds on
    * the 1e-9 decimal grid, final nearest-center assignment — the oracle
    * unrolls the SAME rounds and the full result hash-matches.
    * See [[graft.operators.Similarity.kCenterCoreset]]. */
  val core1KCenter: Q = (s, d) =>
    graft.operators.Similarity.kCenterCoreset(Tables.embeddings(s, d))

  val core1KCenterSql: String = {
    def r9(x: String) = s"floor(($x) * 1000000000 + 0.5) / 1000000000"
    val k = 8
    def mind(i: Int, cent: String) =
      s"""m$i AS MATERIALIZED (
         |  SELECT vec_id, cid, rnd, dist,
         |         row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
         |  FROM (SELECT f.vec_id, c.cid, c.rnd,
         |               CAST(sum(CAST(${r9("(f.x - c.c) * (f.x - c.c)")} AS DECIMAL(28,9))) AS DOUBLE) AS dist
         |        FROM f JOIN $cent c USING (j) GROUP BY f.vec_id, c.cid, c.rnd) d)""".stripMargin
    val rounds = (2 to k).map { r =>
      s"""${mind(r, s"cent${r - 1}")},
         |p$r AS (SELECT vec_id FROM m$r WHERE rn = 1 ORDER BY dist DESC, vec_id LIMIT 1),
         |cent$r AS MATERIALIZED (SELECT * FROM cent${r - 1} UNION ALL
         |  SELECT f.vec_id AS cid, $r AS rnd, f.j, f.x AS c FROM f JOIN p$r USING (vec_id))""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
       |f AS MATERIALIZED (SELECT vec_id, CAST(j AS BIGINT) AS j, emb[j] AS x
       |     FROM e, LATERAL (SELECT unnest(generate_series(1, 64)) AS j) t),
       |cent1 AS MATERIALIZED (SELECT f.vec_id AS cid, 1 AS rnd, f.j, f.x AS c
       |     FROM f WHERE f.vec_id = (SELECT min(vec_id) FROM e)),
       |$rounds,
       |${mind(k + 1, s"cent$k")}
       |SELECT vec_id, cid AS center_id, CAST(rnd AS INTEGER) AS sel_round,
       |       floor(dist * 1000000 + 0.5) / 1000000 AS dist
       |FROM m${k + 1} WHERE rn = 1""".stripMargin
  }

  /** BUDGET2 — budget1's allocation MATERIALIZED as the multi-epoch
    * training stream: each source's docs replicated `epochs` times, each
    * (doc, epoch) replica salted into its own shard + dense position
    * (shuf1's discipline, epoch in the salt so epochs interleave
    * independently). budget1 decides the repeats; budget2 lays out the
    * stream a trainer reads — pack1/pack3 compose downstream unchanged.
    * See [[graft.operators.Curation.epochMaterialize]]. */
  val budget2EpochMaterialize: Q = (s, d) =>
    graft.operators.Curation.epochMaterialize(Tables.documents(s, d))

  val budget2EpochMaterializeSql: String = {
    val key = "CAST(epoch AS VARCHAR) || ':' || CAST(doc_id AS VARCHAR)"
    val shardE = md5BucketSql(s"'bud-sh:' || $key", 8)
    val ordE = md5BucketSql(s"'bud-ord:' || $key", 100000000)
    s"""WITH u AS (SELECT source,
       |             CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS unique_tokens
       |           FROM documents GROUP BY source),
       |b AS (SELECT CAST((sum(unique_tokens) * 11) // 5 AS BIGINT) AS budget FROM u),
       |cand AS (SELECT source, unique_tokens, budget, e,
       |                CAST(unique_tokens AS DOUBLE) / pow(2.0, e - 1) AS marginal
       |         FROM u CROSS JOIN b
       |         CROSS JOIN (SELECT unnest(generate_series(1, 6)) AS e) t),
       |r AS (SELECT *, sum(unique_tokens) OVER (ORDER BY marginal DESC, source, e
       |                   ROWS UNBOUNDED PRECEDING) AS spent
       |      FROM cand),
       |alloc AS (SELECT source,
       |            CAST(sum(CASE WHEN spent <= budget THEN 1 ELSE 0 END) AS BIGINT) AS epochs
       |          FROM r GROUP BY source),
       |rep AS (SELECT d.doc_id, d.source, ep.epoch
       |        FROM documents d JOIN alloc USING (source),
       |        LATERAL (SELECT unnest(generate_series(1, alloc.epochs)) AS epoch) ep
       |        WHERE alloc.epochs >= 1)
       |SELECT doc_id, source, epoch,
       |       CAST($shardE AS BIGINT) AS shard,
       |       CAST(row_number() OVER (PARTITION BY $shardE
       |                               ORDER BY $ordE, epoch, doc_id) AS BIGINT) AS pos
       |FROM rep""".stripMargin
  }

  /** PQ1 — product quantization (Jégou et al. 2011): four independent
    * 16-codeword Lloyd codebooks over contiguous 16-dim subspaces, the
    * IVF-PQ compression leg of the vector-infra family. kmeans1's
    * bit-exact discipline with the subspace id joined into every key;
    * output is each vector's per-subspace code + quantization error.
    * See [[graft.operators.Similarity.productQuantize]]. */
  val pq1ProductQuantize: Q = (s, d) =>
    graft.operators.Similarity.productQuantize(Tables.embeddings(s, d))

  val pq1ProductQuantizeSql: String = {
    def r9(x: String) = s"floor(($x) * 1000000000 + 0.5) / 1000000000"
    val (m, k, iters, sub, dim) = (4, 16, 2, 16, 64)
    val rounds = (1 to iters).map { r =>
      s"""a$r AS MATERIALIZED (
         |  SELECT vec_id, sm, cid, dist FROM (
         |    SELECT vec_id, sm, cid, dist,
         |           row_number() OVER (PARTITION BY vec_id, sm ORDER BY dist, cid) AS rn
         |    FROM (SELECT f.vec_id, f.sm, c.cid,
         |                 CAST(sum(CAST(${r9("(f.x - c.c) * (f.x - c.c)")} AS DECIMAL(28,9))) AS DOUBLE) AS dist
         |          FROM f JOIN c${r - 1} c ON c.sm = f.sm AND c.j = f.j2
         |          GROUP BY f.vec_id, f.sm, c.cid) dd) rr
         |  WHERE rn = 1),
         |c$r AS MATERIALIZED (
         |  SELECT p.sm, p.cid, p.j, COALESCE(m.mm, p.c) AS c
         |  FROM c${r - 1} p LEFT JOIN (
         |    SELECT a.sm, a.cid, f.j2 AS j,
         |           ${r9(s"CAST(sum(CAST(${r9("f.x")} AS DECIMAL(18,9))) AS DOUBLE) / count(*)")} AS mm
         |    FROM a$r a JOIN f ON f.vec_id = a.vec_id AND f.sm = a.sm
         |    GROUP BY a.sm, a.cid, f.j2) m
         |  ON m.sm = p.sm AND m.cid = p.cid AND m.j = p.j)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
       |f AS MATERIALIZED (
       |  SELECT vec_id, CAST(floor((j - 1) / $sub.0) AS INT) AS sm,
       |         CAST((j - 1) % $sub + 1 AS BIGINT) AS j2, emb[j] AS x
       |  FROM e, LATERAL (SELECT unnest(generate_series(1, $dim)) AS j) t),
       |init AS (SELECT vec_id, row_number() OVER (ORDER BY vec_id) - 1 AS cid
       |         FROM (SELECT vec_id FROM e ORDER BY vec_id LIMIT $k) ii),
       |c0 AS MATERIALIZED (SELECT f.sm, i.cid, f.j2 AS j, f.x AS c
       |     FROM init i JOIN f ON f.vec_id = i.vec_id),
       |$rounds,
       |afin AS (
       |  SELECT vec_id, sm, cid, dist FROM (
       |    SELECT vec_id, sm, cid, dist,
       |           row_number() OVER (PARTITION BY vec_id, sm ORDER BY dist, cid) AS rn
       |    FROM (SELECT f.vec_id, f.sm, c.cid,
       |                 CAST(sum(CAST(${r9("(f.x - c.c) * (f.x - c.c)")} AS DECIMAL(28,9))) AS DOUBLE) AS dist
       |          FROM f JOIN c$iters c ON c.sm = f.sm AND c.j = f.j2
       |          GROUP BY f.vec_id, f.sm, c.cid) dd) rr
       |  WHERE rn = 1)
       |SELECT vec_id, CAST(sm AS BIGINT) AS sm, CAST(cid AS BIGINT) AS code,
       |       floor(dist * 1000000 + 0.5) / 1000000 AS dist
       |FROM afin""".stripMargin
  }

  /** PQ2 — IVF-PQ ADC search: pq1's codebooks composed into the actual
    * query path a production vector index serves (coarse-probe → ADC
    * scan of the PQ codes → exact re-rank of the top-64 survivors).
    * Approximate by design (no oracle); recall contract driver-checked
    * by [[pq2Gate]]. See [[graft.operators.Similarity.ivfPqTopK]]. */
  val pq2AdcSearch: Q = (s, d) => {
    val e = Tables.embeddings(s, d)
    graft.operators.Similarity.ivfPqTopK(e, e.filter(col("vec_id") < 10), 5)
  }

  /** Gate for pq2_adc_search: recall@5 vs the exact scan ≥ 0.9 — the
    * sim3_ivf_gate contract on the composed IVF-PQ path. */
  val pq2Gate: Q = (s, d) => {
    val e = Tables.embeddings(s, d)
    val q = e.filter(col("vec_id") < 10)
    annRecallGate(pq2AdcSearch(s, d),
      graft.operators.Similarity.bruteForceTopK(e, q, 5))
  }

  val pq2GateSql: String = annGateSql

  /** PQ2 in its PRODUCTION regime: IVF-PQ ADC search where the corpus
    * HAS near neighbors to find — every [[plantNearDups]] twin queries
    * the planted corpus and its true nearest neighbor is its known
    * source (~0.95 cosine), so the compressed index is doing real
    * retrieval work rather than ranking the random tail (the
    * sim2_production discipline applied to the ADC path). Quality
    * pinned by [[pq2ProductionGate]]. */
  val pq2Production: Q = (s, d) => {
    val planted = plantNearDups(Tables.embeddings(s, d))
    graft.operators.Similarity.ivfPqTopK(planted,
      planted.filter(col("vec_id") >= 10000000L), 5, nprobe = 8)
  }

  /** Gate for pq2_production: the planted ground truth at FULL strength
    * — every twin's rank-1 neighbor must be its source vector (the
    * retrieval a compressed index exists for) — plus a recall@5 floor of
    * 0.75 vs brute top-5. The floor is the measured IVF ROUTER ceiling,
    * not an ADC concession: on the structureless fixture a mixture
    * query's random-tail neighbors land outside its top-8-of-16 cells
    * ~18% of the time (full-rerank recall at nprobe=8 measured 0.818 —
    * IDENTICAL to the 5%-refine recall, so candidate scoring loses
    * nothing; sim2_production reaches 0.9+ only because multi-table LSH
    * probes per-neighbor buckets instead of fixed query cells). A real
    * clustered corpus routes far better; the adversarial-corpus honest
    * number is pinned here. */
  val pq2ProductionGate: Q = (s, d) => {
    val planted = plantNearDups(Tables.embeddings(s, d))
    val queries = planted.filter(col("vec_id") >= 10000000L)
    val ann = pq2Production(s, d)
    val exact = graft.operators.Similarity.bruteForceTopK(planted, queries, 5)
      .select(col("q_id"), col("n_id"))
    val hits = exact.join(ann.select(col("q_id"), col("n_id")),
        Seq("q_id", "n_id"), "left_semi")
      .agg(count(lit(1)).as("hits"))
    val top1 = ann.filter(col("rank") === 1)
      .filter(col("n_id") === col("q_id") - 10000000L)
      .agg(count(lit(1)).as("top1_hits"))
    exact.agg(countDistinct(col("q_id")).as("n_queries"),
        count(lit(1)).as("n_exact"))
      .crossJoin(hits).crossJoin(top1)
      .select(col("n_queries"), col("n_exact"),
        (col("hits") >= col("n_exact") * 0.75).as("recall_ok"),
        (col("top1_hits") === col("n_queries")).as("top1_ok"))
  }

  val pq2ProductionGateSql: String = sim2ProductionGateSql

  /** PQ3 — batch retrieval on the PQ index via the LINEAR route: the
    * same corpus-proportional twin sweep as pq2_production, answered
    * through multi-table LSH candidate generation with ADC scoring ONLY
    * on candidates (hn2's candidate shape over pq2's codes) instead of
    * the per-query nprobe/nlist corpus slice — the COST.md routing
    * rule's in-repo embodiment, making the pq2_production quadratic a
    * measured CHOICE between two shipped routes. Approximate by design
    * (no oracle); quality pinned by [[pq3BatchGate]].
    * See [[graft.operators.Similarity.pqBatchJoinTopK]]. */
  val pq3BatchJoin: Q = (s, d) => {
    val planted = plantNearDups(Tables.embeddings(s, d))
    graft.operators.Similarity.pqBatchJoinTopK(planted,
      planted.filter(col("vec_id") >= 10000000L), 5, tables = 16)
  }

  /** Gate for pq3_batch_join: pq2_production's exact pins on the linear
    * route — every twin's rank-1 neighbor must be its source vector
    * (full strength), recall@5 vs brute ≥ 0.75 (the pq2 router-ceiling
    * floor; LSH per-neighbor probing typically clears sim2's 0.9, but
    * the shared floor keeps the two routes comparable). */
  val pq3BatchGate: Q = (s, d) => {
    val planted = plantNearDups(Tables.embeddings(s, d))
    val queries = planted.filter(col("vec_id") >= 10000000L)
    val ann = pq3BatchJoin(s, d)
    val exact = graft.operators.Similarity.bruteForceTopK(planted, queries, 5)
      .select(col("q_id"), col("n_id"))
    val hits = exact.join(ann.select(col("q_id"), col("n_id")),
        Seq("q_id", "n_id"), "left_semi")
      .agg(count(lit(1)).as("hits"))
    val top1 = ann.filter(col("rank") === 1)
      .filter(col("n_id") === col("q_id") - 10000000L)
      .agg(count(lit(1)).as("top1_hits"))
    exact.agg(countDistinct(col("q_id")).as("n_queries"),
        count(lit(1)).as("n_exact"))
      .crossJoin(hits).crossJoin(top1)
      .select(col("n_queries"), col("n_exact"),
        (col("hits") >= col("n_exact") * 0.75).as("recall_ok"),
        (col("top1_hits") === col("n_queries")).as("top1_ok"))
  }

  val pq3BatchGateSql: String = sim2ProductionGateSql

  /** IVF1 — incremental ANN index maintenance, gated (the ivm1
    * "view ∪ delta ≡ recompute" discipline applied to the vector index —
    * what a production 100 TB index does nightly): the planted twins
    * arrive as a LATER batch and are ADMITTED through the base-trained
    * quantizers — one delta-sized assign scan, no retrain
    * ([[graft.operators.Similarity.ivfPqDeltaMerge]]) — while the
    * comparison arm RETRAINS on the full corpus. Three claims pinned:
    * `top1_ok` — every twin finds its source at rank 1 through the
    * delta-admitted index (full strength, all SFs); `recall_ok` — the
    * pq2 router-ceiling floor (0.75) holds for the merged index;
    * `delta_parity_ok` — merged recall is within 1% of n_exact of the
    * full-retrain recall (measured: EQUAL hit counts at sf0.001/0.01,
    * 408 vs 409 at sf0.1 — admitting the batch through yesterday's
    * quantizers costs essentially nothing on this corpus, which is the
    * number that justifies the nightly delta path). */
  val ivf1IndexDelta: Q = (s, d) => {
    val planted = plantNearDups(Tables.embeddings(s, d))
    val queries = planted.filter(col("vec_id") >= 10000000L)
    val base = planted.filter(col("vec_id") < 10000000L)
    val merged = graft.operators.Similarity.ivfPqDeltaMerge(
      base, queries, queries, 5, nprobe = 8)
    val rebuilt = graft.operators.Similarity.ivfPqTopK(
      planted, queries, 5, nprobe = 8)
    val exact = graft.operators.Similarity.bruteForceTopK(planted, queries, 5)
      .select(col("q_id"), col("n_id"))
    def hitsOf(ann: DataFrame, name: String) =
      exact.join(ann.select(col("q_id"), col("n_id")),
        Seq("q_id", "n_id"), "left_semi").agg(count(lit(1)).as(name))
    val top1 = merged.filter(col("rank") === 1)
      .filter(col("n_id") === col("q_id") - 10000000L)
      .agg(count(lit(1)).as("merged_top1"))
    exact.agg(countDistinct(col("q_id")).as("n_queries"),
        count(lit(1)).as("n_exact"))
      .crossJoin(hitsOf(merged, "merged_hits"))
      .crossJoin(hitsOf(rebuilt, "rebuilt_hits"))
      .crossJoin(top1)
      .select(col("n_queries"), col("n_exact"),
        (col("merged_hits") >= col("n_exact") * 0.75).as("recall_ok"),
        (col("merged_top1") === col("n_queries")).as("top1_ok"),
        (col("merged_hits") * 100 >= col("rebuilt_hits") * 100
          - col("n_exact")).as("delta_parity_ok"))
  }

  val ivf1IndexDeltaSql: String =
    """SELECT CAST(count(*) AS BIGINT) AS n_queries,
      |       CAST(5 * count(*) AS BIGINT) AS n_exact,
      |       true AS recall_ok, true AS top1_ok, true AS delta_parity_ok
      |FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + 1
      |WHERE a.vec_id % 20 = 0""".stripMargin

  /** IVF2 — tombstone DELETION from the IVF-PQ index, gated (ivf1's
    * sibling: together they are the nightly index CRUD — admit a batch,
    * retire a batch). Originals with vec_id % 20 = 5 are tombstoned
    * (never a twin source, so the planted ground truth survives); the
    * pruned index (one id anti-join on the postings, no retrain,
    * [[graft.operators.Similarity.ivfPqDeleteServe]]) is compared
    * against a full REBUILD on the remaining corpus. Pinned:
    * `tombstone_ok` — a deleted id NEVER surfaces in a result (the hard
    * contract, exact); `top1_ok` — every twin still finds its source
    * through the pruned index at full strength; `recall_ok` — floored
    * at 0.72 vs brute on the REMAINING corpus (measured band
    * 0.744–0.832 across SFs — a notch under ivf1's 0.75 because the
    * ground truth itself changes: for twins whose exact top-5 contained
    * a tombstoned vector, the replacement 5th-nearest is deeper in the
    * random tail, where the pq2-documented router ceiling bites
    * hardest); `delta_parity_ok` — pruned recall within 2% of n_exact
    * of the rebuilt-quantizer arm (measured: pruned BEAT the rebuild at
    * sf0.01, 93 vs 92; 411 vs 417 at sf0.1). */
  val ivf2IndexDelete: Q = (s, d) => {
    val planted = plantNearDups(Tables.embeddings(s, d))
    val queries = planted.filter(col("vec_id") >= 10000000L)
    val tombstones = planted.filter(
      col("vec_id") < 10000000L && col("vec_id") % 20 === 5)
    val remaining = planted.join(tombstones.select(col("vec_id")),
      Seq("vec_id"), "left_anti")
    val pruned = graft.operators.Similarity.ivfPqDeleteServe(
      planted, tombstones, queries, 5, nprobe = 8)
    val rebuilt = graft.operators.Similarity.ivfPqTopK(
      remaining, queries, 5, nprobe = 8)
    val exact = graft.operators.Similarity.bruteForceTopK(remaining, queries, 5)
      .select(col("q_id"), col("n_id"))
    def hitsOf(ann: DataFrame, name: String) =
      exact.join(ann.select(col("q_id"), col("n_id")),
        Seq("q_id", "n_id"), "left_semi").agg(count(lit(1)).as(name))
    val leaked = pruned.join(tombstones.select(col("vec_id").as("n_id")),
      Seq("n_id")).agg(count(lit(1)).as("leaked"))
    val top1 = pruned.filter(col("rank") === 1)
      .filter(col("n_id") === col("q_id") - 10000000L)
      .agg(count(lit(1)).as("pruned_top1"))
    exact.agg(countDistinct(col("q_id")).as("n_queries"),
        count(lit(1)).as("n_exact"))
      .crossJoin(hitsOf(pruned, "pruned_hits"))
      .crossJoin(hitsOf(rebuilt, "rebuilt_hits"))
      .crossJoin(leaked)
      .crossJoin(top1)
      .select(col("n_queries"), col("n_exact"),
        (col("leaked") === 0).as("tombstone_ok"),
        (col("pruned_hits") * 100 >= col("n_exact") * 72).as("recall_ok"),
        (col("pruned_top1") === col("n_queries")).as("top1_ok"),
        (col("pruned_hits") * 100 >= col("rebuilt_hits") * 100
          - col("n_exact") * 2).as("delta_parity_ok"))
  }

  val ivf2IndexDeleteSql: String =
    """SELECT CAST(count(*) AS BIGINT) AS n_queries,
      |       CAST(5 * count(*) AS BIGINT) AS n_exact,
      |       true AS tombstone_ok, true AS recall_ok, true AS top1_ok,
      |       true AS delta_parity_ok
      |FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + 1
      |WHERE a.vec_id % 20 = 0""".stripMargin

  /** MIX2 — compute-and-apply a TARGET source mixture (water-filling):
    * per-source keep rates derived in-plan from observed counts so the
    * kept corpus matches the requested proportions
    * ([[graft.operators.Sampling.targetMix]]). */
  val mix2TargetMix: Q = (s, d) =>
    graft.operators.Sampling.targetMix(Tables.documents(s, d),
      col("source"), col("doc_id"),
      Map("src0" -> 0.5, "src1" -> 0.3, "src2" -> 0.2))
      .select(col("doc_id"), col("source"), col("lang"))

  val mix2TargetMixSql: String =
    s"""WITH c AS (SELECT source AS src, count(*) AS n FROM documents GROUP BY 1),
       |t AS (SELECT src, n,
       |        CASE src WHEN 'src0' THEN 0.5 WHEN 'src1' THEN 0.3
       |                 WHEN 'src2' THEN 0.2 ELSE 0.0 END AS tt
       |      FROM c),
       |cap AS (SELECT min(CAST(n AS DOUBLE) / tt) AS cp FROM t WHERE tt > 0),
       |r AS (SELECT src,
       |        CASE WHEN tt > 0
       |             THEN CAST(floor(tt * cp / CAST(n AS DOUBLE) * 10000 + 0.5) AS BIGINT)
       |             ELSE 0 END AS thresh
       |      FROM t CROSS JOIN cap)
       |SELECT d.doc_id, d.source, d.lang
       |FROM documents d JOIN r ON d.source = r.src
       |WHERE ${md5BucketSql("CAST(d.doc_id AS VARCHAR)")} < r.thresh""".stripMargin

  /** ST7 — stream-stream LEFT OUTER interval join with watermark-driven
    * null emission ([[graft.streaming.EventStream
    * .runLeftOuterJoinOverFixture]]); exact parity with the batch left
    * range join is the contract — including the unmatched rows, which
    * only exist because the watermark provably passed them. */
  val st7StreamLeftJoin: Q = (s, d) =>
    graft.streaming.EventStream.runLeftOuterJoinOverFixture(s, d)

  val st7StreamLeftJoinSql: String =
    """SELECT p.event_id AS p_id, p.user_id AS p_user,
      |       strftime(CAST(date_trunc('second', p.ts) AS TIMESTAMP), '%Y-%m-%d %H:%M:%S') AS p_ts,
      |       c.event_id AS c_id
      |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
      |LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      |  ON p.user_id = c.user_id
      | AND c.ts >= p.ts - INTERVAL 10 MINUTE AND c.ts <= p.ts""".stripMargin

  /** D9 — SemDeDup-style semantic dedup over embeddings
    * ([[graft.operators.Dedup.semanticDedup]]): O(1)-sized sign-projection
    * buckets (planes = ceil(log2(n / 4)): 7 for the 500-vector fixture
    * at target bucket 4) →
    * hamming-≤2 multiprobe candidates (d6's asymmetric exactly-once mask
    * scheme) → exact cosine scoring → connected components → keep one
    * representative per cluster. Fully oracle-replayed: the Achlioptas
    * signature signs, the XOR probe masks, the cosine pairs AND the
    * component labels all recompute in DuckDB (recursive CTE for the CC). */
  val d9SemanticDedup: Q = (s, d) =>
    graft.operators.Dedup.semanticDedup(Tables.embeddings(s, d), 0.35,
      signPlanes = 7, radius = 2)

  val d9SemanticDedupSql: String = {
    val planes = 7
    val radius = 2
    def signTerm(j: Int): String =
      s"(CASE WHEN list_sum([emb[i+1] * ((((131*i + 419*$j + 73*i*$j) % 1021) % 3) - 1) FOR i IN RANGE(0, 64)]) > 0 " +
        s"THEN ${1 << j} ELSE 0 END)"
    val sig = (0 until planes).map(signTerm).mkString(" + ")
    val maskRows = (0 until (1 << planes))
      .filter(m => Integer.bitCount(m) <= radius)
      .map(m => s"($m)").mkString(",")
    s"""WITH RECURSIVE
       |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
       |b AS (SELECT vec_id, emb, $sig AS sig FROM e),
       |masks AS (SELECT m FROM (VALUES $maskRows) AS t(m)),
       |probes AS (SELECT vec_id, xor(sig, m) AS probe_sig FROM b CROSS JOIN masks),
       |pairs AS (
       |  SELECT i.vec_id AS a_id, p.vec_id AS b_id
       |  FROM b i JOIN probes p ON i.sig = p.probe_sig AND i.vec_id < p.vec_id
       |  JOIN b b2 ON b2.vec_id = p.vec_id
       |  WHERE floor(list_cosine_similarity(i.emb, b2.emb) * 10000 + 0.5) / 10000 >= 0.35),
       |edges AS (SELECT a_id AS s, b_id AS d FROM pairs
       |          UNION ALL SELECT b_id, a_id FROM pairs),
       |nodes AS (SELECT DISTINCT s AS node FROM edges),
       |reach(node, lab) AS (
       |  SELECT node, node FROM nodes
       |  UNION
       |  SELECT e2.d, r.lab FROM reach r JOIN edges e2 ON e2.s = r.node),
       |labs AS (SELECT node, min(lab) AS rep FROM reach GROUP BY node)
       |SELECT v.vec_id,
       |       CAST(coalesce(labs.rep, v.vec_id) AS BIGINT) AS rep_id,
       |       v.vec_id = coalesce(labs.rep, v.vec_id) AS is_kept
       |FROM (SELECT vec_id FROM embeddings) v
       |LEFT JOIN labs ON v.vec_id = labs.node""".stripMargin
  }

  /** PAT1 — consecutive event-pattern match (view→click→purchase, no
    * gaps) per user — the MATCH_RECOGNIZE shape via chained leads
    * ([[graft.operators.Analytics.sequenceMatch]]). */
  val pat1SequenceMatch: Q = (s, d) =>
    graft.operators.Analytics.sequenceMatch(Tables.events(s, d),
      Seq("view", "click", "purchase"))

  val pat1SequenceMatchSql: String =
    """WITH s AS (SELECT user_id, event_id, ts, event_type,
      |                  lead(event_type, 1) OVER w AS n1,
      |                  lead(event_type, 2) OVER w AS n2
      |           FROM events
      |           WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
      |SELECT user_id, event_id AS start_event_id,
      |       strftime(CAST(date_trunc('second', ts) AS TIMESTAMP), '%Y-%m-%d %H:%M:%S') AS start_ts
      |FROM s
      |WHERE event_type = 'view' AND n1 = 'click' AND n2 = 'purchase'""".stripMargin

  /** TRI1 — exact triangle count over the undirected trade graph
    * ([[graft.operators.Graph.triangleCount]]): the canonical ordered
    * three-way self-join, each triangle counted once. */
  val tri1Triangles: Q = (s, d) =>
    graft.operators.Graph.triangleCount(tradeEdges(s, d))

  val tri1TrianglesSql: String =
    s"""WITH
       |$tradeEdgesCte,
       |und AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
       |        FROM edges WHERE src <> dst)
       |SELECT CAST(count(*) AS BIGINT) AS n_triangles
       |FROM und e1
       |JOIN und e2 ON e1.b = e2.a
       |JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b""".stripMargin

  /** KCORE1 — k-core decomposition of the heavy trade graph
    * ([[graft.operators.Graph.kCore]] over [[heavyTradeEdges]]):
    * iteratively peel nodes whose surviving degree is < 5 until fixpoint;
    * emit the core's nodes with their within-core degrees. The oracle
    * replays the peel as 25 unrolled MATERIALIZED rounds (each
    * non-trivial round removes ≥ 1 of the ≤ 25 nation nodes, so the
    * fixpoint is provably inside the unroll and extra rounds are no-ops;
    * MATERIALIZED because inlined CTEs would expand the round chain
    * exponentially). */
  val kcore1DenseCore: Q = (s, d) =>
    graft.operators.Graph.kCore(heavyTradeEdges(s, d), 5)

  val kcore1DenseCoreSql: String = {
    val k = 5
    val rounds = 25
    val steps = (1 to rounds).map { i =>
      s"""k$i AS MATERIALIZED (SELECT node
         |  FROM (SELECT node, count(*) AS deg
         |        FROM (SELECT a AS node FROM e${i - 1} UNION ALL SELECT b AS node FROM e${i - 1})
         |        GROUP BY 1) dd
         |  WHERE deg >= $k),
         |e$i AS MATERIALIZED (SELECT a, b FROM e${i - 1}
         |  WHERE a IN (SELECT node FROM k$i) AND b IN (SELECT node FROM k$i))""".stripMargin
    }.mkString(",\n")
    s"""WITH
       |$tradeEwCte,
       |hv AS (SELECT src, dst FROM ew
       |       CROSS JOIN (SELECT sum(w) AS tw, count(*) AS ne FROM ew) t
       |       WHERE w * ne * 10 >= tw * 12),
       |e0 AS MATERIALIZED (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
       |       FROM hv WHERE src <> dst),
       |$steps
       |SELECT node, count(*) AS core_deg
       |FROM (SELECT a AS node FROM e$rounds UNION ALL SELECT b AS node FROM e$rounds)
       |GROUP BY 1""".stripMargin
  }

  /** HIST2 — equi-depth histogram of order totals (10 buckets bounded by
    * exact decile fences; [[graft.operators.Analytics.equiDepthHistogram]]). */
  val hist2Equidepth: Q = (s, d) =>
    graft.operators.Analytics.equiDepthHistogram(
      Tables.orders(s, d), col("o_totalprice"), 10)

  val hist2EquidepthSql: String = {
    val fences = (1 to 9).map(i =>
      s"floor(quantile_cont(o_totalprice, 0.$i) * 10000 + 0.5) / 10000 AS f$i")
      .mkString(",\n|        ")
    val bin = (1 to 9).map(i => s"CAST(o_totalprice > f$i AS INT)").mkString(" + ")
    s"""WITH f AS (SELECT $fences
       |  FROM orders)
       |SELECT CAST($bin AS BIGINT) AS bin,
       |       count(*) AS n, min(o_totalprice) AS lo, max(o_totalprice) AS hi
       |FROM orders CROSS JOIN f
       |GROUP BY 1""".stripMargin
  }

  /** ST8 — streaming consecutive-pattern detection: the MATCH_RECOGNIZE
    * shape as bounded per-key state (last k−1 events) via
    * flatMapGroupsWithState
    * ([[graft.streaming.StatefulSessions.patternHits]]); oracle = the
    * batch pat1 semantics, exact row parity. */
  val st8StreamPattern: Q = (s, d) =>
    graft.streaming.EventStream.runPatternOverFixture(s, d,
      Seq("view", "click", "purchase"))

  /** ST9 — streaming retention cohorts, the stateful twin of ret1:
    * per-user `flatMapGroupsWithState` emits each (cohort, offset) cell
    * exactly once across time-ordered micro-batches; a far-future
    * sentinel batch advances the watermark so EventTimeTimeout evicts
    * every user's state inside the replay. Exact parity with the batch
    * retention grid (same oracle as ret1). */
  val st9StreamRetention: Q = (s, d) =>
    graft.streaming.EventStream.retentionGrid(
      graft.streaming.EventStream.runRetentionOverFixture(s, d))

  /** ST10 — streaming rolling 7-day active users, the stateful twin of
    * roll1: explode-to-window-days → watermark-bounded streaming dedup →
    * append-mode window count, two chained stateful operators whose
    * watermark delay equals the window span (an event still contributes to
    * the window starting 6 days later, so windows may only finalize once
    * the lookback is provably complete). Time-split multi-batch replay +
    * far-future sentinel flush; exact parity with roll1 (same oracle). */
  val st10StreamRolling: Q = (s, d) =>
    graft.streaming.EventStream.runRollingActiveOverFixture(s, d)

  /** ST11 — streaming SKETCH PRODUCTION: each day's window finalizes into
    * a mergeable HLL blob of its distinct users
    * ([[graft.streaming.EventStream.runDailySketchOverFixture]]) — the
    * stream feeds hll1's merge-don't-rescan economics continuously.
    * Gate at two grains: every streamed daily estimate within 5% of the
    * exact daily distinct, and the all-time estimate from MERGING the
    * streamed blobs (never re-reading events) within 5% of the exact
    * all-time distinct. */
  val st11StreamSketch: Q = (s, d) => {
    val daily = graft.streaming.EventStream.runDailySketchOverFixture(s, d)
    val ev = Tables.events(s, d).select(to_date(col("ts")).as("day"), col("user_id"))
    val exact = ev.groupBy(col("day"))
      .agg(countDistinct(col("user_id")).as("exact_users"))
      .select(date_format(col("day"), "yyyy-MM-dd").as("day"), col("exact_users"))
    val dayGate = daily.join(exact, "day")
      .agg(count(lit(1)).as("n_days"),
        bool_and(abs(col("approx_users") - col("exact_users")).cast("double")
          / col("exact_users") <= 0.05).as("daily_within_tol"))
    val rollup = daily.agg(
      hll_sketch_estimate(hll_union_agg(col("sk"), lit(false))).as("approx_total"))
    val exactTotal = ev.agg(countDistinct(col("user_id")).as("exact_total"))
    dayGate.crossJoin(rollup).crossJoin(exactTotal)
      .select(col("n_days"), col("daily_within_tol"),
        (abs(col("approx_total") - col("exact_total")).cast("double")
          / col("exact_total") <= 0.05).as("rollup_within_tol"))
  }

  val st11StreamSketchSql: String =
    """SELECT CAST(count(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS n_days,
      |       true AS daily_within_tol, true AS rollup_within_tol
      |FROM events""".stripMargin

  /** ST12 — streaming anomaly detection, the stateful twin of anom1:
    * per-event-type trailing-7-day z-scores emitted exactly once as the
    * watermark seals each day
    * ([[graft.streaming.EventStream.runAnomalyOverFixture]],
    * [[graft.streaming.StatefulSessions.anomalyCells]]). Exact parity with
    * the batch plan (same oracle as anom1): cent totals are
    * arrival-order-exact longs and the z formula replays the batch double
    * ops bit for bit. */
  val st12StreamAnomaly: Q = (s, d) =>
    graft.streaming.EventStream.runAnomalyOverFixture(s, d)

  /** ST17 — streaming CUSUM drift chart, the stateful twin of cusum1 in
    * its deployable warmup-calibrated form
    * ([[graft.streaming.EventStream.runCusumOverFixture]],
    * [[graft.streaming.StatefulSessions.cusumCells]]): the first 10
    * sealed days fix the target mean per event type, each later sealed
    * day advances the exact-integer one-sided recurrences once and emits
    * its row exactly once, in day order — digit-for-digit parity with
    * [[graft.operators.Analytics.cusumWarmup]], whose fold the oracle
    * replays. */
  val st17StreamCusum: Q = (s, d) =>
    graft.streaming.EventStream.runCusumOverFixture(s, d)

  val st17StreamCusumSql: String =
    """WITH daily AS (
      |  SELECT event_type, CAST(ts AS DATE) AS day,
      |         CAST(CAST(sum(CAST(value AS DECIMAL(18,2))) * 100 AS DECIMAL(38,0)) AS BIGINT) AS cents
      |  FROM events GROUP BY 1, 2),
      |r AS (SELECT *, row_number() OVER (PARTITION BY event_type
      |                                   ORDER BY day) AS rn FROM daily),
      |warm AS (SELECT event_type, CAST(sum(cents) AS BIGINT) AS ws
      |         FROM r WHERE rn <= 10 GROUP BY 1),
      |mon AS (SELECT r.event_type, r.day, r.cents, warm.ws,
      |          sum(10 * r.cents - warm.ws) OVER pre AS p
      |        FROM r JOIN warm USING (event_type) WHERE rn > 10
      |        WINDOW pre AS (PARTITION BY r.event_type ORDER BY r.day
      |                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      |s AS (SELECT *, p - least(0, min(p) OVER pre) AS up,
      |             greatest(0, max(p) OVER pre) - p AS dn
      |      FROM mon
      |      WINDOW pre AS (PARTITION BY event_type ORDER BY day
      |                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      |m2 AS (SELECT event_type, strftime(day, '%Y-%m-%d') AS day,
      |         CAST(cents AS DOUBLE) / 100 AS revenue,
      |         CASE WHEN ws <> 0 THEN floor(CAST(up AS DOUBLE) / CAST(ws AS DOUBLE) * 1000000 + 0.5) / 1000000 ELSE 0.0 END AS cusum_up,
      |         CASE WHEN ws <> 0 THEN floor(CAST(dn AS DOUBLE) / CAST(ws AS DOUBLE) * 1000000 + 0.5) / 1000000 ELSE 0.0 END AS cusum_dn
      |       FROM s)
      |SELECT event_type, day, revenue, cusum_up, cusum_dn,
      |       cusum_up > 1.0 AS alarm_up, cusum_dn > 1.0 AS alarm_dn,
      |       false AS is_warmup
      |FROM m2
      |UNION ALL
      |SELECT event_type, strftime(day, '%Y-%m-%d'),
      |       CAST(cents AS DOUBLE) / 100, 0.0, 0.0, false, false, true
      |FROM r WHERE rn <= 10
      |ORDER BY event_type, day""".stripMargin

  /** ST16 — streaming Holt forecaster, the stateful twin of hw1
    * ([[graft.streaming.EventStream.runHoltOverFixture]],
    * [[graft.streaming.StatefulSessions.holtCells]]): each sealed day
    * updates the global (level, trend) pair by the SAME snapped
    * recurrence and emits exactly once, in day order — digit-for-digit
    * parity with the batch fold (same oracle as hw1). */
  val st16StreamHolt: Q = (s, d) =>
    graft.streaming.EventStream.runHoltOverFixture(s, d)

  /** ST13 — streaming weekly OHLC bars, the windowed-aggregation twin of
    * ohlc1 ([[graft.streaming.EventStream.runOhlcOverFixture]]):
    * epoch-aligned 7-day windows sealed by the watermark, open/close via
    * order-insensitive `min_by`/`max_by` on (ts, event_id) — exact row
    * parity with the batch bars (same oracle as ohlc1). */
  val st13StreamOhlc: Q = (s, d) =>
    graft.streaming.EventStream.runOhlcOverFixture(s, d)

  /** ST15 — streaming LOCF gap fill
    * ([[graft.streaming.EventStream.runGapFillOverFixture]]): per-type
    * daily totals seal as the watermark passes each day, interior gaps
    * emit zeros + the carried value exactly once, and the global spine
    * (leading zeros, trailing LOCF) aligns deterministically on the
    * spine-sized result — exact hash parity with ts1's oracle. */
  val st15StreamGapFill: Q = (s, d) =>
    graft.streaming.EventStream.runGapFillOverFixture(s, d)

  /** ST14 — streaming time-to-convert
    * ([[graft.streaming.EventStream.runTimeToConvertOverFixture]]):
    * per-user funnel state emits each started user's outcome exactly once
    * (convert → micros delta at the first qualifying purchase; no-convert
    * → at the first-view + horizon event-time timer), and the weekday
    * rollup over the cells is the batch funnel2 plan itself — exact hash
    * parity with the funnel2 oracle. */
  val st14StreamFunnel: Q = (s, d) =>
    graft.streaming.EventStream.runTimeToConvertOverFixture(s, d)

  /** CARD1 — the dataset datasheet in one row: corpus size, token mass,
    * exact dup rate, mean quality, and the Shannon entropy of the
    * language mix — the summary a curation run publishes next to the
    * data. One corpus pass for the scalar aggregates + one
    * vocabulary-sized language aggregation; entropy terms are rounded
    * then decimal-summed so the result is accumulation-order-free. */
  val card1DatasetCard: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val base = docs.agg(
      count(lit(1)).as("n_docs"),
      sum(graft.operators.TextAnalysis.nTokensExpr.cast("long")).as("total_tokens"),
      count_distinct(col("text")).as("n_unique_texts"),
      portableRound(
        sum(graft.operators.TextAnalysis.qualityExpr.cast("decimal(18,4)"))
          .cast("double") / count(lit(1)), 4).as("mean_quality"))
      .withColumn("dup_rate", portableRound(
        lit(1.0) - col("n_unique_texts").cast("double") / col("n_docs"), 6))
    val langTotal = docs.agg(count(lit(1)).cast("double").as("n_all"))
    val entropy = docs.groupBy(col("lang")).agg(count(lit(1)).as("n"))
      .crossJoin(broadcast(langTotal))
      .select(portableRound(
        -(col("n").cast("double") / col("n_all")) * log(col("n").cast("double") / col("n_all")), 9)
        .as("term"))
      .agg(portableRound(sum(col("term").cast("decimal(18,9)")).cast("double"), 6)
        .as("lang_entropy"))
    base.crossJoin(broadcast(entropy))
  }

  val card1DatasetCardSql: String =
    s"""WITH q AS (
       |  SELECT text, lang,
       |    len(string_split(text, ' ')) AS n_tokens,
       |    floor((least(len(string_split(text, ' ')) / 100.0, 1.0) * 0.5
       |          + (CAST(len(list_filter(string_split(text, ' '), x -> list_contains($stopList, x))) AS DOUBLE)
       |             / len(string_split(text, ' '))) * 0.3
       |          + least((CAST(n_chars - len(string_split(text, ' ')) + 1 AS DOUBLE)
       |                   / len(string_split(text, ' '))) / 10.0, 1.0) * 0.2) * 10000 + 0.5) / 10000 AS quality
       |  FROM documents),
       |base AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_docs,
       |         CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       |         CAST(count(DISTINCT text) AS BIGINT) AS n_unique_texts,
       |         floor((CAST(sum(CAST(quality AS DECIMAL(18,4))) AS DOUBLE) / count(*)) * 10000 + 0.5) / 10000 AS mean_quality,
       |         floor((1.0 - CAST(count(DISTINCT text) AS DOUBLE) / count(*)) * 1000000 + 0.5) / 1000000 AS dup_rate
       |  FROM q),
       |lt AS (SELECT CAST(count(*) AS DOUBLE) AS n_all FROM documents),
       |terms AS (
       |  SELECT floor((-(CAST(count(*) AS DOUBLE) / n_all) * ln(CAST(count(*) AS DOUBLE) / n_all)) * 1000000000 + 0.5) / 1000000000 AS term
       |  FROM documents CROSS JOIN lt GROUP BY lang, n_all),
       |ent AS (SELECT floor(CAST(sum(CAST(term AS DECIMAL(18,9))) AS DOUBLE) * 1000000 + 0.5) / 1000000 AS lang_entropy FROM terms)
       |SELECT base.*, ent.lang_entropy FROM base CROSS JOIN ent""".stripMargin

  /** CUR1 — the curation WATERFALL: survivors after each stage of t10's
    * ordered rule chain (length → language → repetition → quality), as
    * conditional sums riding ONE corpus scan — the per-stage ablation
    * report every filtering run publishes, at the cost of a single pass
    * however many stages there are. */
  val cur1Waterfall: Q = (s, d) => {
    val nTok = TextAnalysis.nTokensExpr
    val c1 = nTok >= 10
    val c2 = c1 && TextAnalysis.predLangExpr() =!= "und"
    val c3 = c2 && coalesce(TextAnalysis.dupRatioExpr <= 0.2, lit(true))
    val c4 = c3 && TextAnalysis.qualityExpr >= 0.25
    Tables.documents(s, d).agg(
      count(lit(1)).as("n_total"),
      sum(c1.cast("long")).as("after_length"),
      sum(c2.cast("long")).as("after_lang"),
      sum(c3.cast("long")).as("after_repetition"),
      sum(c4.cast("long")).as("after_quality"))
  }

  val cur1WaterfallSql: String =
    s"""$corpusSignalsCteSql,
       |c AS (SELECT
       |  (n_tokens >= 10) AS c1,
       |  (n_tokens >= 10 AND pred_lang <> 'und') AS c2,
       |  (n_tokens >= 10 AND pred_lang <> 'und'
       |   AND coalesce(dup_ratio <= 0.2, TRUE)) AS c3,
       |  (n_tokens >= 10 AND pred_lang <> 'und'
       |   AND coalesce(dup_ratio <= 0.2, TRUE) AND quality >= 0.25) AS c4
       |  FROM b)
       |SELECT CAST(count(*) AS BIGINT) AS n_total,
       |       CAST(sum(CAST(c1 AS INT)) AS BIGINT) AS after_length,
       |       CAST(sum(CAST(c2 AS INT)) AS BIGINT) AS after_lang,
       |       CAST(sum(CAST(c3 AS INT)) AS BIGINT) AS after_repetition,
       |       CAST(sum(CAST(c4 AS INT)) AS BIGINT) AS after_quality
       |FROM c""".stripMargin

  /** W8 — RANGE-frame window: each order's trailing-7-DAY spend for its
    * customer (value-range frame over epoch days — rows at the same day
    * aggregate together and gap days genuinely age out, which a
    * ROWS-frame window cannot express). Key-partitioned like every
    * window here; the frame bound is a plan-time constant. */
  val w8RangeFrame: Q = (s, d) => {
    val days = datediff(col("o_orderdate"), lit("1970-01-01").cast("date")).cast("long")
    val w = Window.partitionBy(col("o_custkey")).orderBy(days)
      .rangeBetween(-6, Window.currentRow)
    Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"),
      date_format(col("o_orderdate"), "yyyy-MM-dd").as("order_date"),
      sum(col("o_totalprice").cast("decimal(18,2)")).over(w)
        .cast("double").as("trailing_7d"))
  }

  val w8RangeFrameSql: String =
    """SELECT o_orderkey, o_custkey,
      |       strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d') AS order_date,
      |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
      |         PARTITION BY o_custkey
      |         ORDER BY datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
      |         RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS DOUBLE) AS trailing_7d
      |FROM orders""".stripMargin

  /** W9 — top-k WITH TIES per group (RANK semantics): every row whose
    * quantity ranks in the top 3 values of its return flag, ties kept —
    * the keep-ties nuance neither w6's bounded heap nor row_number
    * expresses. Same key-partitioned window class as w1. */
  val w9TopkTies: Q = (s, d) => {
    val w = Window.partitionBy(col("l_returnflag"))
      .orderBy(col("l_quantity").desc)
    Tables.lineitem(s, d)
      .select(col("l_returnflag"), col("l_quantity"),
        col("l_orderkey"), col("l_linenumber"))
      .withColumn("rnk", rank().over(w).cast("long"))
      .filter(col("rnk") <= 3)
  }

  val w9TopkTiesSql: String =
    """SELECT l_returnflag, l_quantity, l_orderkey, l_linenumber,
      |       CAST(rank() OVER (PARTITION BY l_returnflag
      |                         ORDER BY l_quantity DESC) AS BIGINT) AS rnk
      |FROM lineitem
      |QUALIFY rnk <= 3""".stripMargin

  /** CHI1 — chi-square test of independence for event type × ISO weekday:
    * the categorical-association statistic, from ONE contingency-grid
    * aggregation (map-side combinable) — expected counts, the statistic
    * and the degrees of freedom all derive from the 35-row grid, with
    * per-cell terms rounded then decimal-summed so the statistic is
    * accumulation-order-free. */
  val chi1Independence: Q = (s, d) => {
    val grid = Tables.events(s, d)
      .groupBy(col("event_type"), (weekday(col("ts")) + 1).as("dow"))
      .agg(count(lit(1)).as("n"))
    val byRow = Window.partitionBy(col("event_type"))
    val byCol = Window.partitionBy(col("dow"))
    val all = Window.partitionBy()
    val withMargins = grid
      .withColumn("r", sum(col("n")).over(byRow))
      .withColumn("c", sum(col("n")).over(byCol))
      .withColumn("t", sum(col("n")).over(all))
    val e = col("r").cast("double") * col("c").cast("double") / col("t").cast("double")
    val term = portableRound(
      (col("n").cast("double") - e) * (col("n").cast("double") - e) / e, 6)
    withMargins
      .withColumn("term", term)
      .agg(
        portableRound(sum(col("term").cast("decimal(18,6)")).cast("double"), 4).as("chi2"),
        ((count_distinct(col("event_type")) - 1) *
          (count_distinct(col("dow")) - 1)).as("dof"),
        sum(col("n")).as("n_events"))
  }

  val chi1IndependenceSql: String =
    """WITH g AS (SELECT event_type, isodow(ts) AS dow, count(*) AS n
      |           FROM events GROUP BY 1, 2),
      |m AS (SELECT event_type, dow, n,
      |             sum(n) OVER (PARTITION BY event_type) AS r,
      |             sum(n) OVER (PARTITION BY dow) AS c,
      |             sum(n) OVER () AS t
      |      FROM g),
      |terms AS (SELECT event_type, dow, n,
      |            floor(((CAST(n AS DOUBLE) - CAST(r AS DOUBLE) * CAST(c AS DOUBLE) / CAST(t AS DOUBLE))
      |                   * (CAST(n AS DOUBLE) - CAST(r AS DOUBLE) * CAST(c AS DOUBLE) / CAST(t AS DOUBLE))
      |                   / (CAST(r AS DOUBLE) * CAST(c AS DOUBLE) / CAST(t AS DOUBLE))) * 1000000 + 0.5) / 1000000 AS term
      |          FROM m)
      |SELECT floor(CAST(sum(CAST(term AS DECIMAL(18,6))) AS DOUBLE) * 10000 + 0.5) / 10000 AS chi2,
      |       CAST((count(DISTINCT event_type) - 1) * (count(DISTINCT dow) - 1) AS BIGINT) AS dof,
      |       CAST(sum(n) AS BIGINT) AS n_events
      |FROM terms""".stripMargin

  /** GINI1 — Gini coefficient of order-value concentration per customer
    * nation: the rank formula G = (2·Σᵢ i·xᵢ)/(n·Σx) − (n+1)/n over a
    * within-group total order. Both Σ terms are exact decimals (the rank
    * weight multiplies cents), so G is one fixed double formula. The
    * rank window partitions by nation — group-sized, never global; at
    * extreme group sizes the histogram/fence approximation (hist1/hist2
    * machinery) stands in, same as every exact-percentile op here. */
  val gini1Concentration: Q = (s, d) => {
    val o = Tables.orders(s, d)
    val c = Tables.customer(s, d)
    val n = Tables.nation(s, d)
    val base = o
      .join(c, o("o_custkey") === c("c_custkey")) // customer scales with SF: AQE decides
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .select(col("n_name").as("nation"), col("o_orderkey"),
        (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long").as("cents"))
    val w = Window.partitionBy(col("nation"))
      .orderBy(col("cents"), col("o_orderkey")) // total order: exact ties broken
    val ranked = base.withColumn("i", row_number().over(w).cast("long"))
    val g = ranked.groupBy(col("nation")).agg(
      count(lit(1)).as("n"),
      sum(col("cents").cast("decimal(28,0)")).as("sx"),
      sum((col("i").cast("decimal(19,0)") * col("cents").cast("decimal(19,0)"))
        .cast("decimal(38,0)")).as("six"))
    g.select(col("nation"), col("n"),
      portableRound(
        lit(2.0) * col("six").cast("double") /
          (col("n").cast("double") * col("sx").cast("double")) -
          (col("n").cast("double") + 1) / col("n").cast("double"), 6).as("gini"))
  }

  val gini1ConcentrationSql: String =
    """WITH base AS (
      |  SELECT n.n_name AS nation, o.o_orderkey,
      |         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      |  FROM orders o
      |  JOIN customer c ON o.o_custkey = c.c_custkey
      |  JOIN nation n ON c.c_nationkey = n.n_nationkey),
      |r AS (SELECT nation, cents,
      |             CAST(row_number() OVER (PARTITION BY nation
      |                    ORDER BY cents, o_orderkey) AS BIGINT) AS i
      |      FROM base),
      |g AS (SELECT nation, count(*) AS n,
      |             sum(CAST(cents AS DECIMAL(28,0))) AS sx,
      |             sum(CAST(CAST(i AS DECIMAL(19,0)) * CAST(cents AS DECIMAL(19,0)) AS DECIMAL(38,0))) AS six
      |      FROM r GROUP BY nation)
      |SELECT nation, n,
      |       floor((2.0 * CAST(six AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(sx AS DOUBLE))
      |              - (CAST(n AS DOUBLE) + 1) / CAST(n AS DOUBLE)) * 1000000 + 0.5) / 1000000 AS gini
      |FROM g""".stripMargin

  /** STREAK1 — gaps-and-islands: each customer's LONGEST run of
    * consecutive months with at least one order, via the rank-difference
    * trick (month_number − row_number is constant exactly within a
    * consecutive island). Distinct months first (vocabulary-sized per
    * customer), then two key-partitioned windows over that reduced frame
    * — the classic streak/retention-streak shape that neither sessions
    * (time-gap) nor windows (fixed frames) express. */
  val streak1Streaks: Q = (s, d) => {
    val months = Tables.orders(s, d)
      .select(col("o_custkey"),
        (year(col("o_orderdate")) * 12 + month(col("o_orderdate"))).cast("long").as("m"))
      .distinct()
    val w = Window.partitionBy(col("o_custkey")).orderBy(col("m"))
    val islands = months
      .withColumn("island", col("m") - row_number().over(w))
      .groupBy(col("o_custkey"), col("island"))
      .agg(count(lit(1)).as("len"), min(col("m")).as("start_m"))
    // longest streak per customer; earliest start breaks length ties
    graft.plans.TopKPerKey(islands, Seq("o_custkey"),
      Seq(("len", false), ("start_m", true)), 1)
      .select(col("o_custkey"), col("len").as("streak_months"),
        concat((col("start_m") / 12).cast("long") - (col("start_m") % 12 === 0).cast("long"),
          lit("-"),
          lpad(when(col("start_m") % 12 === 0, 12)
            .otherwise(col("start_m") % 12).cast("string"), 2, "0")).as("streak_start"))
  }

  val streak1StreaksSql: String =
    """WITH months AS (
      |  SELECT DISTINCT o_custkey,
      |         CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT) AS m
      |  FROM orders),
      |isl AS (SELECT o_custkey, m,
      |               m - row_number() OVER (PARTITION BY o_custkey ORDER BY m) AS island
      |        FROM months),
      |runs AS (SELECT o_custkey, island, count(*) AS len, min(m) AS start_m
      |         FROM isl GROUP BY 1, 2),
      |best AS (SELECT o_custkey, len, start_m,
      |                row_number() OVER (PARTITION BY o_custkey
      |                                   ORDER BY len DESC, start_m) AS rn
      |         FROM runs)
      |SELECT o_custkey, CAST(len AS BIGINT) AS streak_months,
      |       (CAST(start_m // 12 AS BIGINT) - CAST(start_m % 12 = 0 AS BIGINT)) || '-' ||
      |       lpad(CAST(CASE WHEN start_m % 12 = 0 THEN 12 ELSE start_m % 12 END AS VARCHAR), 2, '0') AS streak_start
      |FROM best WHERE rn = 1""".stripMargin

  /** REG1 — per-type OLS trend of daily revenue on the rebased day index
    * ([[graft.operators.Analytics.olsTrend]]): slope/day, intercept at the
    * type's first day, r², from one exact-decimal moment aggregate. */
  val reg1OlsTrend: Q = (s, d) =>
    graft.operators.Analytics.olsTrend(Tables.events(s, d))

  val reg1OlsTrendSql: String =
    """WITH daily AS (
      |  SELECT event_type, CAST(ts AS DATE) AS day,
      |         CAST(sum(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS cents
      |  FROM events GROUP BY 1, 2),
      |d2 AS (SELECT event_type, cents,
      |              datediff('day', DATE '1970-01-01', day)
      |                - min(datediff('day', DATE '1970-01-01', day))
      |                    OVER (PARTITION BY event_type) AS x
      |       FROM daily),
      |m AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
      |             sum(CAST(x AS DECIMAL(19,0))) AS sx,
      |             sum(CAST(cents AS DECIMAL(19,0))) AS sy,
      |             sum(CAST(CAST(x AS DECIMAL(19,0)) * CAST(cents AS DECIMAL(19,0)) AS DECIMAL(38,0))) AS sxy,
      |             sum(CAST(CAST(x AS DECIMAL(19,0)) * CAST(x AS DECIMAL(19,0)) AS DECIMAL(38,0))) AS sxx,
      |             sum(CAST(CAST(cents AS DECIMAL(19,0)) * CAST(cents AS DECIMAL(19,0)) AS DECIMAL(38,0))) AS syy
      |      FROM d2 GROUP BY 1),
      |f AS (SELECT event_type, n_days, CAST(n_days AS DOUBLE) AS n,
      |             CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd,
      |             CAST(sxy AS DOUBLE) AS sxyd, CAST(sxx AS DOUBLE) AS sxxd,
      |             CAST(syy AS DOUBLE) AS syyd
      |      FROM m),
      |g AS (SELECT event_type, n_days, n, syd,
      |             n * sxyd - sxd * syd AS covn,
      |             n * sxxd - sxd * sxd AS varx,
      |             n * syyd - syd * syd AS vary,
      |             sxd
      |      FROM f)
      |SELECT event_type, n_days,
      |       CASE WHEN n_days > 1 AND varx > 0
      |            THEN floor((covn / varx / 100) * 1000000 + 0.5) / 1000000
      |            ELSE 0.0 END AS slope_per_day,
      |       CASE WHEN n_days > 1 AND varx > 0
      |            THEN floor(((syd - covn / varx * sxd) / n / 100) * 10000 + 0.5) / 10000
      |            ELSE 0.0 END AS intercept,
      |       CASE WHEN n_days > 1 AND varx > 0 AND vary > 0
      |            THEN floor((covn * covn / (varx * vary)) * 1000000 + 0.5) / 1000000
      |            ELSE 0.0 END AS r2
      |FROM g""".stripMargin

  /** RIDGE1 — closed-form ridge regression (price on quantity and
    * discount, λ = 1000) from ONE distributed Gram-matrix fold and a
    * 3×3 Cramer solve on the single result row: the "X^T X fits in a
    * register" pattern. Exact decimal(38,0) moments, one fixed textual
    * double formula. See [[graft.operators.Analytics.ridgeNormalEq]]. */
  val ridge1NormalEq: Q = (s, d) =>
    graft.operators.Analytics.ridgeNormalEq(Tables.lineitem(s, d))

  val ridge1NormalEqSql: String =
    """WITH b AS (SELECT CAST(CAST(l_quantity AS DECIMAL(18,0)) AS BIGINT) AS q,
      |             CAST(CAST(l_discount AS DECIMAL(18,2)) * 100 AS BIGINT) AS d,
      |             CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS y
      |           FROM lineitem),
      |m AS (SELECT CAST(count(*) AS BIGINT) AS n,
      |        sum(CAST(q AS HUGEINT)) AS sx1, sum(CAST(d AS HUGEINT)) AS sx2,
      |        sum(CAST(y AS HUGEINT)) AS sy,
      |        sum(CAST(q AS HUGEINT) * q) AS sx11,
      |        sum(CAST(q AS HUGEINT) * d) AS sx12,
      |        sum(CAST(d AS HUGEINT) * d) AS sx22,
      |        sum(CAST(q AS HUGEINT) * y) AS sx1y,
      |        sum(CAST(d AS HUGEINT) * y) AS sx2y
      |      FROM b),
      |v AS (SELECT CAST(n AS DOUBLE) AS a11,
      |        CAST(sx1 AS DOUBLE) AS a12, CAST(sx2 AS DOUBLE) AS a13,
      |        CAST(sx11 AS DOUBLE) + 1000.0 AS a22,
      |        CAST(sx12 AS DOUBLE) AS a23,
      |        CAST(sx22 AS DOUBLE) + 1000.0 AS a33,
      |        CAST(sy AS DOUBLE) AS b1, CAST(sx1y AS DOUBLE) AS b2,
      |        CAST(sx2y AS DOUBLE) AS b3, n
      |      FROM m),
      |dd AS (SELECT n,
      |         a11 * (a22 * a33 - a23 * a23) - a12 * (a12 * a33 - a23 * a13) + a13 * (a12 * a23 - a22 * a13) AS dA,
      |         b1 * (a22 * a33 - a23 * a23) - a12 * (b2 * a33 - a23 * b3) + a13 * (b2 * a23 - a22 * b3) AS d0,
      |         a11 * (b2 * a33 - a23 * b3) - b1 * (a12 * a33 - a23 * a13) + a13 * (a12 * b3 - b2 * a13) AS d1,
      |         a11 * (a22 * b3 - b2 * a23) - a12 * (a12 * b3 - b2 * a13) + b1 * (a12 * a23 - a22 * a13) AS d2
      |       FROM v)
      |SELECT n,
      |       CASE WHEN dA <> 0 THEN floor(d0 / dA / 100 * 10000 + 0.5) / 10000 ELSE 0.0 END AS intercept,
      |       CASE WHEN dA <> 0 THEN floor(d1 / dA / 100 * 1000000 + 0.5) / 1000000 ELSE 0.0 END AS beta_qty,
      |       CASE WHEN dA <> 0 THEN floor(d2 / dA / 100 * 1000000 + 0.5) / 1000000 ELSE 0.0 END AS beta_disc
      |FROM dd""".stripMargin

  /** GBT1 — gradient-boosted stumps (5 rounds, squared loss, η=1/2) over
    * pre-binned order features: the histogram-boosting family with an
    * all-integer trajectory. The squared-loss + pre-binned combination
    * contracts the corpus to the ≤480-cell bin grid in ONE scan; split
    * gains, leaf weights and SSE replay as exact HUGEINT arithmetic in
    * five materialized oracle stages.
    * See [[graft.operators.Analytics.boostedStumps]]. */
  val gbt1BoostedStumps: Q = (s, d) =>
    graft.operators.Analytics.boostedStumps(Tables.orders(s, d))

  val gbt1BoostedStumpsSql: String = {
    val rounds = 5
    val stages = (1 to rounds).map { t =>
      s"""h$t AS MATERIALIZED (
         |  SELECT f, b, sum(rs) AS g, sum(n) AS c FROM (
         |    SELECT 0 AS f, b0 AS b, sy - n * p AS rs, n FROM cp${t - 1}
         |    UNION ALL SELECT 1, b1, sy - n * p, n FROM cp${t - 1}
         |    UNION ALL SELECT 2, b2, sy - n * p, n FROM cp${t - 1})
         |  GROUP BY 1, 2),
         |k$t AS (
         |  SELECT f, split, gl, nl, gt - gl AS gr, nt - nl AS nr FROM (
         |    SELECT f, b AS split,
         |           sum(g) OVER w AS gl, sum(c) OVER w AS nl,
         |           sum(g) OVER (PARTITION BY f) AS gt,
         |           sum(c) OVER (PARTITION BY f) AS nt,
         |           max(b) OVER (PARTITION BY f) AS bmax
         |    FROM h$t WINDOW w AS (PARTITION BY f ORDER BY b))
         |  WHERE split < bmax),
         |p$t AS MATERIALIZED (
         |  SELECT f, split, gl, nl, gr, nr,
         |    (CAST(gl AS HUGEINT) * gl * nr + CAST(gr AS HUGEINT) * gr * nl)
         |      * 1000000 // (CAST(nl AS HUGEINT) * nr) AS gain_micro,
         |    CAST(CASE WHEN gl >= 0
         |      THEN (2 * CAST(abs(gl) AS HUGEINT) + 2 * nl) // (4 * CAST(nl AS HUGEINT))
         |      ELSE -((2 * CAST(abs(gl) AS HUGEINT) + 2 * nl) // (4 * CAST(nl AS HUGEINT))) END
         |      AS BIGINT) AS wl,
         |    CAST(CASE WHEN gr >= 0
         |      THEN (2 * CAST(abs(gr) AS HUGEINT) + 2 * nr) // (4 * CAST(nr AS HUGEINT))
         |      ELSE -((2 * CAST(abs(gr) AS HUGEINT) + 2 * nr) // (4 * CAST(nr AS HUGEINT))) END
         |      AS BIGINT) AS wr
         |  FROM k$t ORDER BY gain_micro DESC, f, split LIMIT 1),
         |s$t AS (SELECT sum(1000000 * CAST(sy AS HUGEINT)
         |                   - 2 * CAST(p AS HUGEINT) * sy
         |                   + CAST(n AS HUGEINT) * p * p) AS sse FROM cp${t - 1}),
         |cp$t AS MATERIALIZED (
         |  SELECT b0, b1, b2, n, sy,
         |         p + CASE WHEN (p$t.f = 0 AND b0 <= p$t.split)
         |                    OR (p$t.f = 1 AND b1 <= p$t.split)
         |                    OR (p$t.f = 2 AND b2 <= p$t.split)
         |                  THEN p$t.wl ELSE p$t.wr END AS p
         |  FROM cp${t - 1} CROSS JOIN p$t)""".stripMargin
    }.mkString(",\n")
    val rows = (1 to rounds).map { t =>
      s"""SELECT CAST($t AS BIGINT) AS iter,
         |  CASE p$t.f WHEN 0 THEN 'price' WHEN 1 THEN 'priority' ELSE 'month' END AS feature,
         |  CAST(p$t.split AS BIGINT) AS split,
         |  CAST(p$t.nl AS BIGINT) AS n_left, CAST(p$t.nr AS BIGINT) AS n_right,
         |  CAST(p$t.wl AS DOUBLE) / 1000000 AS wl,
         |  CAST(p$t.wr AS DOUBLE) / 1000000 AS wr,
         |  CAST(p$t.gain_micro AS DOUBLE) / 1000000 AS gain,
         |  CAST(s$t.sse AS DOUBLE) / 1000000000000 AS sse_before
         |FROM p$t CROSS JOIN s$t""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH cells AS MATERIALIZED (
       |  SELECT LEAST(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) // 7500000, 7) AS b0,
       |         CAST(substr(o_orderpriority, 1, 1) AS INTEGER) - 1 AS b1,
       |         month(o_orderdate) - 1 AS b2,
       |         CAST(count(*) AS BIGINT) AS n,
       |         CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1000000 ELSE 0 END) AS BIGINT) AS sy
       |  FROM orders GROUP BY 1, 2, 3),
       |cp0 AS MATERIALIZED (SELECT b0, b1, b2, n, sy, CAST(0 AS BIGINT) AS p FROM cells),
       |$stages
       |SELECT * FROM ($rows) ORDER BY iter""".stripMargin
  }

  /** ALS1 — rank-2 alternating least squares on the customer × part
    * purchase matrix: hash-seeded item factors, one alternation of
    * per-key closed-form 2×2 ridge solves (zero driver state), exact
    * milli-grid trajectory with a per-item SSE readout.
    * See [[graft.operators.Analytics.alternatingLs]]. */
  val als1Factorization: Q = (s, d) =>
    graft.operators.Analytics.alternatingLs(
      Tables.lineitem(s, d), Tables.orders(s, d))

  val als1FactorizationSql: String = {
    // the shared 2x2 Cramer + half-up milli snap, once per half-step
    def solveSql(src: String, key: String, f1: String, f2: String,
                 out: String): String =
      s"""${out}a AS (
         |  SELECT $key, count(*) AS n,
         |         sum(CAST($f1 AS HUGEINT) * $f1) + 100000 AS a11,
         |         sum(CAST($f1 AS HUGEINT) * $f2) AS a12,
         |         sum(CAST($f2 AS HUGEINT) * $f2) + 100000 AS a22,
         |         sum(CAST($f1 AS HUGEINT) * r) AS b1,
         |         sum(CAST($f2 AS HUGEINT) * r) AS b2
         |  FROM $src GROUP BY $key),
         |${out}d AS (
         |  SELECT $key, n, a11 * a22 - a12 * a12 AS dd,
         |         b1 * a22 - b2 * a12 AS n1, a11 * b2 - a12 * b1 AS n2
         |  FROM ${out}a),
         |$out AS MATERIALIZED (
         |  SELECT $key, n,
         |    CASE WHEN n1 >= 0 THEN (2 * n1 * 1000000 + dd) // (2 * dd)
         |         ELSE -((2 * (-n1) * 1000000 + dd) // (2 * dd)) END AS f1m,
         |    CASE WHEN n2 >= 0 THEN (2 * n2 * 1000000 + dd) // (2 * dd)
         |         ELSE -((2 * (-n2) * 1000000 + dd) // (2 * dd)) END AS f2m
         |  FROM ${out}d)""".stripMargin
    s"""WITH r AS MATERIALIZED (
       |  SELECT o_custkey AS u, l_partkey AS p,
       |         CAST(sum(CAST(CAST(l_quantity AS DECIMAL(18,0)) AS BIGINT)) AS BIGINT) AS r
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |  GROUP BY 1, 2),
       |rq AS (SELECT u, p, r, (p * 2654435761) % 1000 - 500 AS q1,
       |              (p * 97003) % 1000 - 500 AS q2 FROM r),
       |${solveSql("rq", "u", "q1", "q2", "uf")},
       |ru AS MATERIALIZED (
       |  SELECT r.u, r.p, r.r, uf.f1m AS u1, uf.f2m AS u2
       |  FROM r JOIN uf USING (u)),
       |${solveSql("ru", "p", "u1", "u2", "qf")},
       |fit AS (
       |  SELECT ru.p, qf.n AS n_ratings, qf.f1m AS nq1, qf.f2m AS nq2,
       |         sum(CAST(ru.r * 1000000 - (ru.u1 * qf.f1m + ru.u2 * qf.f2m) AS HUGEINT)
       |             * (ru.r * 1000000 - (ru.u1 * qf.f1m + ru.u2 * qf.f2m))) AS sse2
       |  FROM ru JOIN qf USING (p) GROUP BY 1, 2, 3, 4)
       |SELECT p AS p_partkey, n_ratings,
       |       CAST((p * 2654435761) % 1000 - 500 AS DOUBLE) / 1000 AS q1_init,
       |       CAST((p * 97003) % 1000 - 500 AS DOUBLE) / 1000 AS q2_init,
       |       CAST(nq1 AS DOUBLE) / 1000 AS q1_new,
       |       CAST(nq2 AS DOUBLE) / 1000 AS q2_new,
       |       CAST(sse2 AS DOUBLE) / 1000000000000 AS sse
       |FROM fit ORDER BY p_partkey""".stripMargin
  }

  /** ISO1 — isotonic (PAVA) calibration map of the ml1-trained model
    * over 20 score-ventile bins: exact cross-product violation tests,
    * deterministic first-violation merge order replayed by 19
    * materialized oracle stages (identity once converged).
    * See [[graft.operators.Analytics.isotonicCalibration]]. */
  val iso1IsotonicCalibration: Q = (s, d) =>
    graft.operators.Analytics.isotonicCalibration(Tables.orders(s, d),
      iters = 3, lr = 0.5, bins = 20)

  val iso1IsotonicCalibrationSql: String = {
    val bins = 20
    val stages = (1 until bins).map { k =>
      s"""v$k AS (
         |  SELECT lo AS mlo, nxt FROM (
         |    SELECT lo, sy, n, lead(sy) OVER w AS sy2, lead(n) OVER w AS n2,
         |           lead(lo) OVER w AS nxt
         |    FROM seg${k - 1} WINDOW w AS (ORDER BY lo))
         |  WHERE sy * n2 > sy2 * n ORDER BY lo LIMIT 1),
         |seg$k AS MATERIALIZED (
         |  SELECT CASE WHEN v.nxt IS NOT NULL AND s.lo = v.nxt
         |              THEN v.mlo ELSE s.lo END AS lo,
         |         CAST(sum(s.sy) AS BIGINT) AS sy,
         |         CAST(sum(s.n) AS BIGINT) AS n
         |  FROM seg${k - 1} s LEFT JOIN v$k v ON true GROUP BY 1)""".stripMargin
    }.mkString(",\n")
    s"""${logregScoreCteSql(3)},
       |bb AS MATERIALIZED (
       |  SELECT least(CAST(floor(s6 * $bins) AS BIGINT), ${bins - 1}) AS bin,
       |         CAST(count(*) AS BIGINT) AS n,
       |         CAST(sum(CAST(y AS BIGINT)) AS BIGINT) AS sy
       |  FROM sc GROUP BY 1),
       |seg0 AS MATERIALIZED (SELECT bin AS lo, sy, n FROM bb),
       |$stages
       |SELECT b.bin, b.n, b.sy,
       |       CAST(b.sy AS DOUBLE) / b.n AS raw_rate,
       |       s.sy AS iso_sy, s.n AS iso_n,
       |       CAST(s.sy AS DOUBLE) / s.n AS iso_rate
       |FROM bb b JOIN seg${bins - 1} s
       |  ON s.lo = (SELECT max(lo) FROM seg${bins - 1} WHERE lo <= b.bin)
       |ORDER BY b.bin""".stripMargin
  }

  /** TS3 — Theil–Sen robust daily-revenue trend: positional-median
    * pairwise slope + matching intercept over the calendar-bounded
    * daily rollup (pair work = days², constant in corpus size).
    * See [[graft.operators.Analytics.theilSenDaily]]. */
  val ts3TheilSen: Q = (s, d) =>
    graft.operators.Analytics.theilSenDaily(Tables.events(s, d))

  val ts3TheilSenSql: String =
    """WITH daily AS MATERIALIZED (
      |  SELECT CAST(ts AS DATE) AS day,
      |         CAST(sum(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS cents
      |  FROM events GROUP BY 1),
      |d AS MATERIALIZED (
      |  SELECT datediff('day', (SELECT min(day) FROM daily), day) AS x, cents
      |  FROM daily),
      |p AS MATERIALIZED (
      |  SELECT CASE WHEN b.cents - a.cents >= 0
      |         THEN (2 * (b.cents - a.cents) * 1000000 + (b.x - a.x))
      |                // (2 * (b.x - a.x))
      |         ELSE -((2 * (a.cents - b.cents) * 1000000 + (b.x - a.x))
      |                // (2 * (b.x - a.x))) END AS slope_micro
      |  FROM d a JOIN d b ON a.x < b.x),
      |st AS (SELECT CAST(count(*) AS BIGINT) AS n_pairs,
      |              CAST(sum(CASE WHEN slope_micro > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_rising
      |       FROM p),
      |med AS (SELECT slope_micro FROM
      |          (SELECT slope_micro, row_number() OVER (ORDER BY slope_micro) AS rn FROM p)
      |        CROSS JOIN st WHERE rn = (n_pairs + 1) // 2),
      |ic AS (SELECT CAST(cents AS HUGEINT) * 1000000
      |                - CAST(slope_micro AS HUGEINT) * x AS b_micro
      |       FROM d CROSS JOIN med),
      |nd AS (SELECT CAST(count(*) AS BIGINT) AS n_days FROM d),
      |ib AS (SELECT b_micro FROM
      |          (SELECT b_micro, row_number() OVER (ORDER BY b_micro) AS rn FROM ic)
      |        CROSS JOIN nd WHERE rn = (n_days + 1) // 2)
      |SELECT n_days, n_pairs, n_rising,
      |       CAST(slope_micro AS DOUBLE) / 100000000 AS slope_per_day,
      |       CAST(b_micro AS DOUBLE) / 100000000 AS intercept,
      |       CAST(n_rising AS DOUBLE) / n_pairs AS frac_rising
      |FROM med CROSS JOIN st CROSS JOIN ib CROSS JOIN nd""".stripMargin

  /** LOGRANK1 — two-arm log-rank (Mantel–Haenszel) test of user
    * lifetimes on the shared deterministic A/B split: surv1's
    * hypothesis-test companion, micro-snapped per-time terms so the
    * fold is an exact integer sum. censorDays = 1 here (not surv1's 7):
    * the fixture's activity is dense to the horizon (max last-activity
    * gap 2 days), so 7 censors every user and the test would be vacuous
    * — at 1, churn = "not active on the final day" (156 events at
    * sf0.1). See [[graft.operators.Analytics.logrankTest]]. */
  val logrank1SurvivalTest: Q = (s, d) =>
    graft.operators.Analytics.logrankTest(Tables.events(s, d),
      censorDays = 1)

  val logrank1SurvivalTestSql: String = {
    val arm = md5BucketSql("CAST(user_id AS VARCHAR)")
    s"""WITH u AS (SELECT user_id, min(CAST(ts AS DATE)) AS fd,
       |                  max(CAST(ts AS DATE)) AS ld
       |           FROM events GROUP BY 1),
       |ed AS (SELECT max(CAST(ts AS DATE)) AS end_day FROM events),
       |durs AS MATERIALIZED (
       |  SELECT datediff('day', fd, ld) AS t,
       |         CASE WHEN datediff('day', ld, end_day) < 1 THEN 0 ELSE 1 END AS e,
       |         CASE WHEN $arm < 5000 THEN 1 ELSE 0 END AS a
       |  FROM u CROSS JOIN ed),
       |grid AS (SELECT t,
       |           CAST(sum(a) AS BIGINT) AS ma,
       |           CAST(sum(1 - a) AS BIGINT) AS mb,
       |           CAST(sum(e * a) AS BIGINT) AS da,
       |           CAST(sum(e * (1 - a)) AS BIGINT) AS db
       |         FROM durs GROUP BY t),
       |stg AS (SELECT da, db, da + db AS d, na AS n1, na + nb AS n FROM (
       |    SELECT da, db,
       |           sum(ma) OVER w AS na, sum(mb) OVER w AS nb
       |    FROM grid WINDOW w AS (ORDER BY t DESC
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
       |  WHERE da + db > 0),
       |tm AS (SELECT da, db, d,
       |         (2 * CAST(d AS HUGEINT) * n1 * 1000000 + n)
       |           // (2 * CAST(n AS HUGEINT)) AS e1_micro,
       |         CASE WHEN n > 1 THEN
       |           (2 * CAST(d AS HUGEINT) * n1 * (n - n1) * (n - d) * 1000000
       |              + CAST(n AS HUGEINT) * n * (n - 1))
       |             // (2 * CAST(n AS HUGEINT) * n * (n - 1))
       |         ELSE 0 END AS v_micro
       |       FROM stg),
       |m AS (SELECT CAST(coalesce(sum(da), 0) AS BIGINT) AS o1,
       |             CAST(coalesce(sum(db), 0) AS BIGINT) AS o2,
       |             CAST(coalesce(sum(d), 0) AS BIGINT) AS d_total,
       |             CAST(coalesce(sum(e1_micro), 0) AS BIGINT) AS e1m,
       |             CAST(coalesce(sum(v_micro), 0) AS BIGINT) AS vm
       |      FROM tm),
       |ar AS (SELECT CAST(sum(a) AS BIGINT) AS n_a,
       |              CAST(sum(1 - a) AS BIGINT) AS n_b FROM durs)
       |SELECT n_a, n_b, d_total, o1, o2, e1, e2, v, z, z * z AS chi2 FROM (
       |  SELECT n_a, n_b, d_total, o1, o2,
       |         CAST(e1m AS DOUBLE) / 1000000 AS e1,
       |         CAST(d_total * 1000000 - e1m AS DOUBLE) / 1000000 AS e2,
       |         CAST(vm AS DOUBLE) / 1000000 AS v,
       |         CASE WHEN vm > 0
       |              THEN CAST(o1 * 1000000 - e1m AS DOUBLE) / 1000000
       |                   / sqrt(CAST(vm AS DOUBLE) / 1000000)
       |              ELSE 0.0 END AS z
       |  FROM m CROSS JOIN ar)""".stripMargin
  }

  /** ATT1 — U-shaped multi-touch attribution of purchase revenue across
    * the user's preceding click/view touches (40/20/40, exact rational
    * credit in micro-units), grouped to the (type × props-k) channel —
    * asof1's many-touch complement, computed with two windows and zero
    * joins. See [[graft.operators.Analytics.positionAttribution]]. */
  val att1PositionAttribution: Q = (s, d) =>
    graft.operators.Analytics.positionAttribution(Tables.events(s, d))

  val att1PositionAttributionSql: String =
    """WITH st AS (
      |  SELECT user_id, ts, event_id,
      |         CASE WHEN event_type = 'purchase' THEN event_id END AS pid,
      |         CASE WHEN event_type = 'purchase'
      |              THEN CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) END AS cents,
      |         CASE WHEN event_type IN ('click', 'view')
      |              THEN event_type || '_' ||
      |                   CAST(CAST(json_extract_string(props, '$.k') AS BIGINT) % 4 AS VARCHAR)
      |         END AS channel
      |  FROM events WHERE event_type IN ('click', 'view', 'purchase')),
      |fl AS (SELECT channel,
      |         last_value(pid IGNORE NULLS) OVER w AS cpid,
      |         last_value(cents IGNORE NULLS) OVER w AS ccents,
      |         user_id, ts, event_id
      |       FROM st WINDOW w AS (PARTITION BY user_id
      |         ORDER BY ts DESC, event_id DESC
      |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      |rk AS (SELECT channel, cpid, ccents,
      |         row_number() OVER (PARTITION BY user_id, cpid
      |                            ORDER BY ts, event_id) AS rn,
      |         count(*) OVER (PARTITION BY user_id, cpid) AS n
      |       FROM fl WHERE channel IS NOT NULL AND cpid IS NOT NULL),
      |cr AS (SELECT channel, cpid,
      |         (2 * ccents * 1000000 * num + den) // (2 * den) AS credit_micro
      |       FROM (SELECT channel, cpid, ccents,
      |               CASE WHEN n = 1 THEN 1 WHEN n = 2 THEN 1
      |                    WHEN rn = 1 OR rn = n THEN 2 ELSE 1 END AS num,
      |               CASE WHEN n = 1 THEN 1 WHEN n = 2 THEN 2
      |                    WHEN rn = 1 OR rn = n THEN 5
      |                    ELSE 5 * (n - 2) END AS den
      |             FROM rk))
      |SELECT channel, CAST(count(*) AS BIGINT) AS n_touches,
      |       CAST(count(DISTINCT cpid) AS BIGINT) AS n_conversions,
      |       CAST(sum(credit_micro) AS DOUBLE) / 100000000 AS credit
      |FROM cr GROUP BY channel ORDER BY channel""".stripMargin

  /** DTW1 — banded Sakoe–Chiba dynamic time warping between the
    * trailing-40-day purchase and click revenue series: exact-cents DP
    * unrolled as 78 anti-diagonal materialized stages (uni1's bounded-
    * contract discipline), deterministic diag≻up≻left backtrace as a
    * recursive walk over stored directions.
    * See [[graft.operators.Analytics.dtwDaily]]. */
  val dtw1SeriesAlign: Q = (s, d) =>
    graft.operators.Analytics.dtwDaily(Tables.events(s, d))

  val dtw1SeriesAlignSql: String = {
    val maxDays = 40
    val inf = "4611686018427387903"
    def series(name: String, idx: String, v: String, etype: String) =
      s"""$name AS MATERIALIZED (
         |  SELECT row_number() OVER (ORDER BY day) AS $idx, cents AS $v FROM (
         |    SELECT day, cents, row_number() OVER (ORDER BY day DESC) AS rd FROM (
         |      SELECT CAST(ts AS DATE) AS day,
         |             CAST(sum(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS cents
         |      FROM events WHERE event_type = '$etype' GROUP BY 1))
         |  WHERE rd <= $maxDays)""".stripMargin
    val stages = (3 to 2 * maxDays).map { k =>
      val dgJoin =
        if (k == 3) ""
        else s"\n  LEFT JOIN g${k - 2} dg ON dg.i = cc.i - 1 AND dg.j = cc.j - 1"
      val dgTerm = if (k == 3) inf else "coalesce(dg.d, " + inf + ")"
      s"""g$k AS MATERIALIZED (
         |  SELECT cc.i, cc.j, cc.c + least(coalesce(up.d, $inf),
         |           coalesce(lf.d, $inf), $dgTerm) AS d
         |  FROM cc
         |  LEFT JOIN g${k - 1} up ON up.i = cc.i - 1 AND up.j = cc.j
         |  LEFT JOIN g${k - 1} lf ON lf.i = cc.i AND lf.j = cc.j - 1$dgJoin
         |  WHERE cc.i + cc.j = $k)""".stripMargin
    }.mkString(",\n")
    val union = (2 to 2 * maxDays).map(k => s"SELECT * FROM g$k")
      .mkString("\n  UNION ALL ")
    s"""WITH RECURSIVE
       |${series("pa", "i", "av", "purchase")},
       |${series("pb", "j", "bv", "click")},
       |bw AS (SELECT n, m, greatest(7, abs(n - m) + 1) AS w FROM
       |        (SELECT (SELECT CAST(count(*) AS BIGINT) FROM pa) AS n,
       |                (SELECT CAST(count(*) AS BIGINT) FROM pb) AS m)),
       |cc AS MATERIALIZED (
       |  SELECT i, j, abs(av - bv) AS c
       |  FROM pa CROSS JOIN pb CROSS JOIN bw WHERE abs(i - j) <= w),
       |g2 AS MATERIALIZED (SELECT i, j, c AS d FROM cc WHERE i = 1 AND j = 1),
       |$stages,
       |cells AS MATERIALIZED (
       |  $union),
       |dirs AS MATERIALIZED (
       |  SELECT c.i, c.j,
       |    CASE WHEN c.i = 1 AND c.j = 1 THEN 'S'
       |         WHEN dg.d IS NOT NULL AND dg.d <= coalesce(up.d, $inf)
       |              AND dg.d <= coalesce(lf.d, $inf) THEN 'D'
       |         WHEN up.d IS NOT NULL AND up.d <= coalesce(lf.d, $inf) THEN 'U'
       |         ELSE 'L' END AS dir
       |  FROM cells c
       |  LEFT JOIN cells dg ON dg.i = c.i - 1 AND dg.j = c.j - 1
       |  LEFT JOIN cells up ON up.i = c.i - 1 AND up.j = c.j
       |  LEFT JOIN cells lf ON lf.i = c.i AND lf.j = c.j - 1),
       |bt AS (
       |  SELECT n AS i, m AS j, CAST(1 AS BIGINT) AS ord FROM bw
       |  UNION ALL
       |  SELECT CASE WHEN d.dir = 'L' THEN b.i ELSE b.i - 1 END,
       |         CASE WHEN d.dir = 'U' THEN b.j ELSE b.j - 1 END,
       |         b.ord + 1
       |  FROM bt b JOIN dirs d ON d.i = b.i AND d.j = b.j
       |  WHERE d.dir <> 'S'),
       |ln AS (SELECT max(ord) AS l FROM bt)
       |SELECT l - ord + 1 AS step, i, j,
       |       CAST(c AS DOUBLE) / 100 AS step_cost,
       |       CAST(sum(c) OVER (ORDER BY ord DESC
       |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
       |         / 100 AS cum_cost
       |FROM bt JOIN cc USING (i, j) CROSS JOIN ln
       |ORDER BY step""".stripMargin
  }

  /** ACF1 — lag-1..7 autocorrelation of total daily revenue
    * ([[graft.operators.Analytics.autocorrelation]]): Pearson correlation
    * of (day t, day t−k) over day pairs where both ends exist. */
  val acf1Autocorr: Q = (s, d) =>
    graft.operators.Analytics.autocorrelation(Tables.events(s, d))

  val acf1AutocorrSql: String =
    """WITH daily AS (
      |  SELECT datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS eday,
      |         CAST(sum(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS cents
      |  FROM events GROUP BY 1),
      |lags AS (SELECT CAST(range AS BIGINT) AS lag FROM range(1, 8)),
      |p AS (SELECT l.lag, a.cents AS xa, b.cents AS xb
      |      FROM lags l
      |      CROSS JOIN daily a
      |      JOIN daily b ON b.eday = a.eday - l.lag),
      |m AS (SELECT lag, CAST(count(*) AS BIGINT) AS n_pairs,
      |             sum(CAST(xa AS DECIMAL(19,0))) AS sa,
      |             sum(CAST(xb AS DECIMAL(19,0))) AS sb,
      |             sum(CAST(CAST(xa AS DECIMAL(19,0)) * CAST(xb AS DECIMAL(19,0)) AS DECIMAL(38,0))) AS sab,
      |             sum(CAST(CAST(xa AS DECIMAL(19,0)) * CAST(xa AS DECIMAL(19,0)) AS DECIMAL(38,0))) AS saa,
      |             sum(CAST(CAST(xb AS DECIMAL(19,0)) * CAST(xb AS DECIMAL(19,0)) AS DECIMAL(38,0))) AS sbb
      |      FROM p GROUP BY 1),
      |f AS (SELECT lag, n_pairs, CAST(n_pairs AS DOUBLE) AS n,
      |             CAST(sa AS DOUBLE) AS sad, CAST(sb AS DOUBLE) AS sbd,
      |             CAST(sab AS DOUBLE) AS sabd, CAST(saa AS DOUBLE) AS saad,
      |             CAST(sbb AS DOUBLE) AS sbbd
      |      FROM m),
      |g AS (SELECT lag, n_pairs,
      |             n * sabd - sad * sbd AS cov,
      |             n * saad - sad * sad AS va,
      |             n * sbbd - sbd * sbd AS vb
      |      FROM f)
      |SELECT lag, n_pairs,
      |       CASE WHEN n_pairs > 1 AND va > 0 AND vb > 0
      |            THEN floor((cov / (sqrt(va) * sqrt(vb))) * 10000 + 0.5) / 10000
      |            ELSE 0.0 END AS acf
      |FROM g""".stripMargin

  /** TS2 — day-distance-weighted EWMA of daily revenue per event type
    * ([[graft.operators.Analytics.ewmaDaily]]): trailing-10-calendar-day
    * band join with (1−α)^k weights embedded as identical decimal
    * literals in both engines. */
  val ts2Ewma: Q = (s, d) =>
    graft.operators.Analytics.ewmaDaily(Tables.events(s, d))

  val ts2EwmaSql: String = {
    val cases = graft.operators.Analytics.ewmaWeights(0.3, 10).zipWithIndex
      .map { case (w, k) => s"WHEN $k THEN CAST(${w.toPlainString} AS DECIMAL(10,6))" }
      .mkString(" ")
    s"""WITH daily AS (
       |  SELECT event_type, CAST(ts AS DATE) AS day,
       |         CAST(sum(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS cents
       |  FROM events GROUP BY 1, 2),
       |d2 AS (SELECT event_type, day, cents,
       |              datediff('day', DATE '1970-01-01', day) AS eday
       |       FROM daily),
       |j AS (SELECT a.event_type, a.day,
       |             CASE a.eday - b.eday $cases END AS w,
       |             CAST(b.cents AS DECIMAL(19,0)) AS bcents
       |      FROM d2 a JOIN d2 b ON b.event_type = a.event_type
       |        AND b.eday <= a.eday AND b.eday > a.eday - 10)
       |SELECT event_type, strftime(day, '%Y-%m-%d') AS day,
       |       CAST(count(*) AS BIGINT) AS n_obs,
       |       floor((CAST(sum(w * bcents) AS DOUBLE) / CAST(sum(w) AS DOUBLE) / 100) * 10000 + 0.5) / 10000 AS ewma
       |FROM j GROUP BY event_type, day""".stripMargin
  }

  /** HW1 — Holt linear (level+trend) smoothing of total daily revenue
    * with one-step-ahead forecasts, α=1/2 β=1/4: the trend-aware sibling
    * of ts2's EWMA. Each step snaps to the 1e-6 grid (ml1 trajectory
    * discipline); the oracle replays the fold as a recursive CTE.
    * See [[graft.operators.Analytics.holtLinearDaily]]. */
  val hw1HoltTrend: Q = (s, d) =>
    graft.operators.Analytics.holtLinearDaily(Tables.events(s, d))

  val hw1HoltTrendSql: String = {
    val yd = "(CAST(d.cents AS DOUBLE) / 100)"
    val lNew = s"floor((0.5 * $yd + 0.5 * (h.level + h.trend)) * 1000000 + 0.5) / 1000000"
    s"""WITH RECURSIVE d AS MATERIALIZED (
       |  SELECT day, cents, row_number() OVER (ORDER BY day) AS i FROM (
       |    SELECT CAST(ts AS DATE) AS day,
       |           CAST(sum(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS cents
       |    FROM events GROUP BY 1)),
       |n2 AS (SELECT cents AS c2 FROM d WHERE i = 2),
       |hw(i, level, trend) AS (
       |  SELECT 1,
       |         floor($yd * 1000000 + 0.5) / 1000000,
       |         floor((CAST(n2.c2 AS DOUBLE) / 100 - $yd) * 1000000 + 0.5) / 1000000
       |  FROM d CROSS JOIN n2 WHERE d.i = 1
       |  UNION ALL
       |  SELECT h.i + 1,
       |         $lNew,
       |         floor((0.25 * ($lNew - h.level) + 0.75 * h.trend) * 1000000 + 0.5) / 1000000
       |  FROM hw h JOIN d ON d.i = h.i + 1),
       |f AS (SELECT i, level, trend,
       |        lag(level) OVER (ORDER BY i) AS pl,
       |        lag(trend) OVER (ORDER BY i) AS pt
       |      FROM hw)
       |SELECT strftime(d.day, '%Y-%m-%d') AS day,
       |       CAST(d.cents AS DOUBLE) / 100 AS revenue,
       |       f.level AS level, f.trend AS trend,
       |       CASE WHEN f.i = 1 THEN 0.0
       |            ELSE floor((f.pl + f.pt) * 1000000 + 0.5) / 1000000 END AS forecast
       |FROM f JOIN d ON d.i = f.i""".stripMargin
  }

  /** FA1 — forecast-accuracy audit of hw1's one-step-ahead forecasts:
    * MAE / RMSE / sMAPE / MASE over the scored days (day 2 onward),
    * every per-day term on the 1e-6 grid, MASE scaled by the in-sample
    * naive lag-1 MAE. The eval leg completing the forecasting family.
    * See [[graft.operators.Analytics.forecastAccuracy]]. */
  val fa1ForecastAccuracy: Q = (s, d) =>
    graft.operators.Analytics.forecastAccuracy(Tables.events(s, d))

  val fa1ForecastAccuracySql: String = {
    val yd = "(CAST(d.cents AS DOUBLE) / 100)"
    val lNew = s"floor((0.5 * $yd + 0.5 * (h.level + h.trend)) * 1000000 + 0.5) / 1000000"
    s"""WITH RECURSIVE d AS MATERIALIZED (
       |  SELECT day, cents, row_number() OVER (ORDER BY day) AS i FROM (
       |    SELECT CAST(ts AS DATE) AS day,
       |           CAST(sum(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS cents
       |    FROM events GROUP BY 1)),
       |n2 AS (SELECT cents AS c2 FROM d WHERE i = 2),
       |hw(i, level, trend) AS (
       |  SELECT 1,
       |         floor($yd * 1000000 + 0.5) / 1000000,
       |         floor((CAST(n2.c2 AS DOUBLE) / 100 - $yd) * 1000000 + 0.5) / 1000000
       |  FROM d CROSS JOIN n2 WHERE d.i = 1
       |  UNION ALL
       |  SELECT h.i + 1,
       |         $lNew,
       |         floor((0.25 * ($lNew - h.level) + 0.75 * h.trend) * 1000000 + 0.5) / 1000000
       |  FROM hw h JOIN d ON d.i = h.i + 1),
       |f AS (SELECT hw.i,
       |        CAST(d.cents AS DOUBLE) / 100 AS y,
       |        lag(CAST(d.cents AS DOUBLE) / 100) OVER (ORDER BY hw.i) AS yp,
       |        floor((lag(level) OVER (ORDER BY hw.i)
       |               + lag(trend) OVER (ORDER BY hw.i)) * 1000000 + 0.5) / 1000000 AS fc
       |      FROM hw JOIN d ON d.i = hw.i),
       |terms AS (SELECT
       |    CAST(floor(abs(y - fc) * 1000000 + 0.5) AS BIGINT) AS ae,
       |    CAST(floor((y - fc) * (y - fc) * 1000000 + 0.5) AS BIGINT) AS se,
       |    CASE WHEN abs(y) + abs(fc) > 0
       |         THEN CAST(floor(2.0 * abs(y - fc) / (abs(y) + abs(fc)) * 1000000 + 0.5) AS BIGINT)
       |         ELSE 0 END AS sm,
       |    CAST(floor(abs(y - yp) * 1000000 + 0.5) AS BIGINT) AS nd
       |  FROM f WHERE i >= 2),
       |agg AS (SELECT
       |    (SELECT CAST(count(*) AS BIGINT) FROM d) AS n_days,
       |    CAST(count(*) AS BIGINT) AS n_scored,
       |    sum(CAST(ae AS HUGEINT)) AS sae, sum(CAST(se AS HUGEINT)) AS sse,
       |    sum(CAST(sm AS HUGEINT)) AS ssm, sum(CAST(nd AS HUGEINT)) AS snd
       |  FROM terms)
       |SELECT n_days, n_scored,
       |  floor(CAST(sae AS DOUBLE) / 1000000.0 / CAST(n_scored AS DOUBLE) * 1000000 + 0.5) / 1000000 AS mae,
       |  floor(sqrt(CAST(sse AS DOUBLE) / 1000000.0 / CAST(n_scored AS DOUBLE)) * 1000000 + 0.5) / 1000000 AS rmse,
       |  floor(CAST(ssm AS DOUBLE) / 1000000.0 / CAST(n_scored AS DOUBLE) * 1000000 + 0.5) / 1000000 AS smape,
       |  CASE WHEN n_scored = 0 OR snd = 0
       |       THEN CAST(error('forecastAccuracy: constant series — naive MAE is zero') AS DOUBLE)
       |       ELSE floor(CAST(sae AS DOUBLE) / CAST(snd AS DOUBLE) * 1000000 + 0.5) / 1000000 END AS mase
       |FROM agg""".stripMargin
  }

  /** OHLC1 — weekly open/high/low/close bars per event type
    * ([[graft.operators.Analytics.weeklyOhlc]]): epoch-week buckets,
    * (ts, event_id)-deterministic open/close, exact-cent totals. */
  val ohlc1Weekly: Q = (s, d) =>
    graft.operators.Analytics.weeklyOhlc(Tables.events(s, d))

  val ohlc1WeeklySql: String =
    """WITH e AS (
      |  SELECT event_type, ts, event_id,
      |         CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
      |         CAST(floor(CAST(datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS DOUBLE) / 7) AS BIGINT) AS week
      |  FROM events),
      |r AS (SELECT *,
      |             row_number() OVER (PARTITION BY event_type, week
      |                                ORDER BY ts, event_id) AS rn,
      |             row_number() OVER (PARTITION BY event_type, week
      |                                ORDER BY ts DESC, event_id DESC) AS rd
      |      FROM e)
      |SELECT event_type,
      |       strftime(DATE '1970-01-01' + CAST(week * 7 AS INTEGER), '%Y-%m-%d') AS week_start,
      |       CAST(count(*) AS BIGINT) AS n_events,
      |       CAST(max(CASE WHEN rn = 1 THEN cents END) AS DOUBLE) / 100 AS open,
      |       CAST(max(cents) AS DOUBLE) / 100 AS high,
      |       CAST(min(cents) AS DOUBLE) / 100 AS low,
      |       CAST(max(CASE WHEN rd = 1 THEN cents END) AS DOUBLE) / 100 AS close,
      |       CAST(sum(CAST(cents AS DECIMAL(19,0))) AS DOUBLE) / 100 AS total
      |FROM r GROUP BY event_type, week""".stripMargin

  /** FE1 — leave-one-out target encoding of order priority on order value
    * ([[graft.operators.Analytics.targetEncodeLoo]]): each row's feature
    * is its category's mean target excluding itself; singletons fall back
    * to the global mean. */
  val fe1TargetEncode: Q = (s, d) =>
    graft.operators.Analytics.targetEncodeLoo(Tables.orders(s, d))

  val fe1TargetEncodeSql: String =
    """WITH o AS (
      |  SELECT o_orderkey, o_orderpriority,
      |         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      |  FROM orders),
      |c AS (SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_cat,
      |             sum(CAST(cents AS DECIMAL(19,0))) AS s_cat
      |      FROM o GROUP BY 1),
      |g AS (SELECT CAST(count(*) AS BIGINT) AS n_all,
      |             sum(CAST(cents AS DECIMAL(19,0))) AS s_all
      |      FROM o)
      |SELECT o.o_orderkey, o.o_orderpriority,
      |       floor((CASE WHEN n_cat > 1
      |                   THEN CAST(s_cat - cents AS DOUBLE) / CAST(n_cat - 1 AS DOUBLE)
      |                   ELSE CAST(s_all AS DOUBLE) / CAST(n_all AS DOUBLE) END
      |              / 100) * 10000 + 0.5) / 10000 AS loo_target_mean
      |FROM o JOIN c USING (o_orderpriority) CROSS JOIN g""".stripMargin

  /** T12 — Okapi BM25 of every document against the fixed query
    * {spark, join, vector} ([[graft.operators.TextAnalysis.bm25]]):
    * RSJ idf, k1=1.2, b=0.75, corpus stats from one broadcast 1-row
    * aggregate. */
  val t12Bm25: Q = (s, d) =>
    TextAnalysis.bm25(Tables.documents(s, d))

  val t12Bm25Sql: String = {
    val terms = Seq("spark", "join", "vector")
    val dfCols = terms.zipWithIndex.map { case (t, i) =>
      s"sum(CASE WHEN list_contains(string_split(text, ' '), '$t') THEN 1 ELSE 0 END) AS df_$i"
    }.mkString(",\n      |       ")
    val contribs = terms.zipWithIndex.map { case (t, i) =>
      s"""ln(1.0 + (CAST(n_docs AS DOUBLE) - df_$i + 0.5) / (df_$i + 0.5))
         | * (CAST(len(list_filter(string_split(text, ' '), x -> x = '$t')) AS DOUBLE) * 2.2)
         | / (CAST(len(list_filter(string_split(text, ' '), x -> x = '$t')) AS DOUBLE)
         |    + 1.2 * (1.0 - 0.75 + 0.75 * CAST(len(string_split(text, ' ')) AS DOUBLE)
         |             / (CAST(tot_tokens AS DOUBLE) / CAST(n_docs AS DOUBLE))))"""
        .stripMargin.linesIterator.mkString(" ")
    }.mkString(" + ")
    s"""WITH s AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_docs,
       |       sum(CAST(len(string_split(text, ' ')) AS BIGINT)) AS tot_tokens,
       |       $dfCols
       |  FROM documents)
       |SELECT doc_id,
       |       CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
       |       floor(($contribs) * 10000 + 0.5) / 10000 AS bm25
       |FROM documents CROSS JOIN s""".stripMargin
  }

  /** SURV1 — Kaplan–Meier survival of user lifetime
    * ([[graft.operators.Analytics.survivalCurve]]): right-censored
    * first→last-event durations, Ŝ(t) via the rounded-ln product. */
  val surv1KaplanMeier: Q = (s, d) =>
    graft.operators.Analytics.survivalCurve(Tables.events(s, d))

  val surv1KaplanMeierSql: String =
    """WITH u AS (SELECT user_id, min(CAST(ts AS DATE)) AS fd,
      |                  max(CAST(ts AS DATE)) AS ld
      |           FROM events GROUP BY 1),
      |e AS (SELECT max(CAST(ts AS DATE)) AS end_day FROM events),
      |dd AS (SELECT CAST(datediff('day', fd, ld) AS BIGINT) AS t,
      |              datediff('day', ld, end_day) < 7 AS censored
      |       FROM u CROSS JOIN e),
      |g AS (SELECT t, CAST(count(*) AS BIGINT) AS m,
      |             CAST(sum(CASE WHEN censored THEN 0 ELSE 1 END) AS BIGINT) AS d
      |      FROM dd GROUP BY 1),
      |s AS (SELECT t, m, d,
      |             CAST(sum(m) OVER ()
      |                  - COALESCE(sum(m) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |                  AS BIGINT) AS n_risk
      |      FROM g),
      |l AS (SELECT t, d, n_risk,
      |             CAST(CASE WHEN d > 0 AND d < n_risk
      |                  THEN floor(ln(1.0 - CAST(d AS DOUBLE) / CAST(n_risk AS DOUBLE)) * 100000000 + 0.5) / 100000000
      |                  ELSE 0.0 END AS DECIMAL(18,8)) AS lnterm,
      |             CASE WHEN d = n_risk THEN 1 ELSE 0 END AS deadrow
      |      FROM s),
      |r AS (SELECT t, d, n_risk,
      |             sum(lnterm) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS lnsum,
      |             max(deadrow) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS dead
      |      FROM l)
      |SELECT t, n_risk, d AS d_events,
      |       CASE WHEN dead = 1 THEN 0.0
      |            ELSE floor(exp(CAST(lnsum AS DOUBLE)) * 10000 + 0.5) / 10000 END AS survival
      |FROM r WHERE d > 0""".stripMargin

  /** DQ2 — Benford first-digit audit of order totals
    * ([[graft.operators.Analytics.benfordAudit]]): observed vs
    * log10(1+1/d) shares from the exact cent representation, per-digit
    * chi-square contribution. */
  val dq2BenfordAudit: Q = (s, d) =>
    graft.operators.Analytics.benfordAudit(Tables.orders(s, d))

  val dq2BenfordAuditSql: String = {
    val vals = (1 to 9).map { dd =>
      val p = BigDecimal(math.log10(1.0 + 1.0 / dd))
        .setScale(8, BigDecimal.RoundingMode.HALF_UP)
      s"('$dd', CAST(${p.underlying.toPlainString} AS DECIMAL(10,8)))"
    }.mkString(", ")
    s"""WITH c AS (SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
       |           FROM orders),
       |b AS (SELECT substr(CAST(cents AS VARCHAR), 1, 1) AS digit,
       |             CAST(count(*) AS BIGINT) AS n
       |      FROM c WHERE cents > 0 GROUP BY 1),
       |t AS (SELECT CAST(sum(n) AS BIGINT) AS n_total FROM b),
       |e AS (SELECT * FROM (VALUES $vals) AS v(digit, p_benford))
       |SELECT digit, n,
       |       floor((CAST(n AS DOUBLE) / CAST(n_total AS DOUBLE)) * 1000000 + 0.5) / 1000000 AS p_observed,
       |       CAST(p_benford AS DOUBLE) AS p_benford,
       |       floor(((CAST(n AS DOUBLE) - CAST(p_benford AS DOUBLE) * CAST(n_total AS DOUBLE))
       |              * (CAST(n AS DOUBLE) - CAST(p_benford AS DOUBLE) * CAST(n_total AS DOUBLE))
       |              / (CAST(p_benford AS DOUBLE) * CAST(n_total AS DOUBLE))) * 1000000 + 0.5) / 1000000 AS chi2_term
       |FROM b JOIN e USING (digit) CROSS JOIN t""".stripMargin
  }

  /** WOE1 — weight-of-evidence quartile binning of order value against
    * the urgent-or-high target ([[graft.operators.Analytics.woeBins]]):
    * Laplace-smoothed good/bad shares, per-bin WOE + IV contribution,
    * total IV on every row. */
  val woe1WoeIv: Q = (s, d) =>
    graft.operators.Analytics.woeBins(Tables.orders(s, d))

  val woe1WoeIvSql: String =
    """WITH f AS (SELECT
      |    floor(quantile_cont(o_totalprice, 0.25) * 10000 + 0.5) / 10000 AS f1,
      |    floor(quantile_cont(o_totalprice, 0.5) * 10000 + 0.5) / 10000 AS f2,
      |    floor(quantile_cont(o_totalprice, 0.75) * 10000 + 0.5) / 10000 AS f3
      |  FROM orders),
      |obs AS (SELECT
      |    CAST(CAST(o_totalprice > f1 AS INT) + CAST(o_totalprice > f2 AS INT)
      |         + CAST(o_totalprice > f3 AS INT) AS BIGINT) AS bin,
      |    CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS n_good,
      |    CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 0 ELSE 1 END) AS BIGINT) AS n_bad
      |  FROM orders CROSS JOIN f GROUP BY 1),
      |cells AS (SELECT CAST(g.range AS BIGINT) AS bin,
      |    COALESCE(n_good, CAST(0 AS BIGINT)) AS n_good,
      |    COALESCE(n_bad, CAST(0 AS BIGINT)) AS n_bad
      |  FROM range(4) g LEFT JOIN obs ON obs.bin = g.range),
      |t AS (SELECT CAST(sum(n_good) AS BIGINT) AS g_all,
      |             CAST(sum(n_bad) AS BIGINT) AS b_all FROM cells),
      |s AS (SELECT bin, n_good, n_bad,
      |             CAST(n_good + 1 AS DOUBLE) / CAST(g_all + 4 AS DOUBLE) AS pg,
      |             CAST(n_bad + 1 AS DOUBLE) / CAST(b_all + 4 AS DOUBLE) AS pb
      |      FROM cells CROSS JOIN t),
      |w AS (SELECT bin, n_good, n_bad, pg, pb,
      |             floor(ln(pg / pb) * 1000000 + 0.5) / 1000000 AS woe
      |      FROM s),
      |v AS (SELECT bin, n_good, n_bad, woe,
      |             CAST(floor((pg - pb) * woe * 100000000 + 0.5) / 100000000 AS DECIMAL(18,8)) AS iv_term
      |      FROM w)
      |SELECT bin, n_good, n_bad, woe,
      |       CAST(iv_term AS DOUBLE) AS iv_term,
      |       floor(CAST(sum(iv_term) OVER () AS DOUBLE) * 10000 + 0.5) / 10000 AS iv_total
      |FROM v""".stripMargin

  /** LP1 — label-propagation communities on the top-5 trade graph
    * ([[graft.operators.Graph.labelPropagation]]): 4 synchronous rounds,
    * most-frequent-neighbor-label vote with smallest-label ties; the
    * oracle replays the identical rounds as unrolled CTEs. */
  val lp1Communities: Q = (s, d) =>
    graft.operators.Graph.labelPropagation(
      Tables.nation(s, d).select(col("n_name").as("node")),
      tradeEdges(s, d), rounds = 4)

  val lp1CommunitiesSql: String = {
    val rounds = 4
    val steps = (1 to rounds).map { i =>
      s"""v$i AS (SELECT nb.node, l.lbl, count(*) AS c
         |  FROM nb JOIN l${i - 1} l ON l.node = nb.nbr GROUP BY 1, 2),
         |p$i AS (SELECT node, lbl FROM (
         |    SELECT node, lbl, row_number() OVER (PARTITION BY node
         |             ORDER BY c DESC, lbl) AS rn FROM v$i) t
         |  WHERE rn = 1),
         |l$i AS MATERIALIZED (SELECT l${i - 1}.node,
         |    COALESCE(p$i.lbl, l${i - 1}.lbl) AS lbl
         |  FROM l${i - 1} LEFT JOIN p$i ON p$i.node = l${i - 1}.node)"""
        .stripMargin
    }.mkString(",\n")
    s"""WITH
       |$tradeEdgesCte,
       |und AS MATERIALIZED (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
       |       FROM edges WHERE src <> dst),
       |nb AS MATERIALIZED (SELECT a AS node, b AS nbr FROM und
       |       UNION ALL SELECT b, a FROM und),
       |l0 AS (SELECT n_name AS node, n_name AS lbl FROM nation),
       |$steps
       |SELECT l$rounds.node, l$rounds.lbl AS community, s.community_size
       |FROM l$rounds
       |JOIN (SELECT lbl, CAST(count(*) AS BIGINT) AS community_size
       |      FROM l$rounds GROUP BY 1) s ON s.lbl = l$rounds.lbl""".stripMargin
  }

  /** PSI1 — population-stability drift of each source's length
    * distribution vs src0 ([[graft.operators.Curation.psiDrift]]):
    * reference-decile bins, Laplace-smoothed shares,
    * Σ(q−p)·ln(q/p) with rounded-then-decimal-summed terms. */
  val psi1DistDrift: Q = (s, d) =>
    Curation.psiDrift(Tables.documents(s, d))

  val psi1DistDriftSql: String = {
    val fences = (1 to 9).map(i =>
      s"floor(quantile_cont(n_chars, 0.$i) * 10000 + 0.5) / 10000 AS f$i")
      .mkString(",\n      |    ")
    val bin = (1 to 9).map(i => s"CAST(n_chars > f$i AS INT)").mkString(" + ")
    s"""WITH f AS (SELECT
       |    $fences
       |  FROM documents WHERE source = 'src0'),
       |b AS (SELECT source, CAST($bin AS BIGINT) AS bin
       |      FROM documents CROSS JOIN f),
       |c AS (SELECT source, bin, CAST(count(*) AS BIGINT) AS cnt FROM b GROUP BY 1, 2),
       |srcs AS (SELECT DISTINCT source FROM c),
       |grid AS (SELECT s.source, g.bin, COALESCE(c.cnt, 0) AS cnt
       |         FROM srcs s
       |         CROSS JOIN (SELECT CAST(range AS BIGINT) AS bin FROM range(0, 10)) g
       |         LEFT JOIN c ON c.source = s.source AND c.bin = g.bin),
       |n AS (SELECT source, bin, cnt,
       |             CAST(sum(cnt) OVER (PARTITION BY source) AS BIGINT) AS n_src
       |      FROM grid),
       |r AS (SELECT bin, cnt AS ref_cnt, n_src AS n_ref FROM n WHERE source = 'src0'),
       |term AS (SELECT n.source, n.n_src,
       |    CAST(floor(((CAST(n.cnt + 1 AS DOUBLE) / CAST(n.n_src + 10 AS DOUBLE))
       |                - (CAST(r.ref_cnt + 1 AS DOUBLE) / CAST(r.n_ref + 10 AS DOUBLE)))
       |               * ln((CAST(n.cnt + 1 AS DOUBLE) / CAST(n.n_src + 10 AS DOUBLE))
       |                    / (CAST(r.ref_cnt + 1 AS DOUBLE) / CAST(r.n_ref + 10 AS DOUBLE)))
       |               * 100000000 + 0.5) / 100000000 AS DECIMAL(18,8)) AS term
       |    FROM n JOIN r ON n.bin = r.bin)
       |SELECT source, CAST(max(n_src) AS BIGINT) AS n_docs,
       |       floor(CAST(sum(term) AS DOUBLE) * 10000 + 0.5) / 10000 AS psi
       |FROM term GROUP BY 1""".stripMargin
  }

  /** FH1 — hashing-trick bag-of-words features
    * ([[graft.operators.TextAnalysis.featureHash]]): tokens → 64 dims by
    * the engine-portable md5 bucket, sparse (doc_id, dim, weight)
    * triples, no vocabulary pass. */
  val fh1FeatureHash: Q = (s, d) =>
    TextAnalysis.featureHash(Tables.documents(s, d))

  val fh1FeatureHashSql: String = {
    val bucket = md5BucketSql("token", buckets = 64) // direct-to-dims, same as featureHash
    s"""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token
       |             FROM documents)
       |SELECT doc_id, CAST($bucket AS BIGINT) AS dim,
       |       CAST(count(*) AS BIGINT) AS weight
       |FROM tok GROUP BY 1, 2""".stripMargin
  }

  /** NDCG1 — NDCG@10 of the BM25 ranking against term-coverage gains
    * ([[graft.operators.TextAnalysis.ndcgAtK]]): exact integer gains,
    * rounded log2 discounts summed as decimals, one final division. */
  val ndcg1RankEval: Q = (s, d) =>
    TextAnalysis.ndcgAtK(Tables.documents(s, d))

  val ndcg1RankEvalSql: String = {
    val terms = Seq("spark", "join", "vector")
    val gainExpr = terms.map(t =>
      s"CAST(list_contains(string_split(text, ' '), '$t') AS INT)").mkString(" + ")
    // the bm25 scoring expression, identical to t12's oracle
    val dfCols = terms.zipWithIndex.map { case (t, i) =>
      s"sum(CASE WHEN list_contains(string_split(text, ' '), '$t') THEN 1 ELSE 0 END) AS df_$i"
    }.mkString(",\n      |       ")
    val contribs = terms.zipWithIndex.map { case (t, i) =>
      s"""ln(1.0 + (CAST(n_docs AS DOUBLE) - df_$i + 0.5) / (df_$i + 0.5))
         | * (CAST(len(list_filter(string_split(text, ' '), x -> x = '$t')) AS DOUBLE) * 2.2)
         | / (CAST(len(list_filter(string_split(text, ' '), x -> x = '$t')) AS DOUBLE)
         |    + 1.2 * (1.0 - 0.75 + 0.75 * CAST(len(string_split(text, ' ')) AS DOUBLE)
         |             / (CAST(tot_tokens AS DOUBLE) / CAST(n_docs AS DOUBLE))))"""
        .stripMargin.linesIterator.mkString(" ")
    }.mkString(" + ")
    s"""WITH s AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_docs,
       |       sum(CAST(len(string_split(text, ' ')) AS BIGINT)) AS tot_tokens,
       |       $dfCols
       |  FROM documents),
       |scored AS (
       |  SELECT doc_id,
       |         floor(($contribs) * 10000 + 0.5) / 10000 AS bm25,
       |         CAST($gainExpr AS BIGINT) AS gain
       |  FROM documents CROSS JOIN s),
       |ds AS (SELECT CAST(floor(((CAST((1 << gain) - 1 AS DOUBLE))
       |                / log2(CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id) AS DOUBLE) + 1.0))
       |               * 100000000 + 0.5) / 100000000 AS DECIMAL(18,8)) AS term,
       |              row_number() OVER (ORDER BY bm25 DESC, doc_id) AS pos
       |       FROM scored QUALIFY pos <= 10),
       |di AS (SELECT CAST(floor(((CAST((1 << gain) - 1 AS DOUBLE))
       |                / log2(CAST(row_number() OVER (ORDER BY gain DESC, doc_id) AS DOUBLE) + 1.0))
       |               * 100000000 + 0.5) / 100000000 AS DECIMAL(18,8)) AS term,
       |              row_number() OVER (ORDER BY gain DESC, doc_id) AS pos
       |       FROM scored QUALIFY pos <= 10),
       |a AS (SELECT sum(term) AS dcg FROM ds),
       |b AS (SELECT sum(term) AS idcg FROM di)
       |SELECT floor(CAST(dcg AS DOUBLE) * 10000 + 0.5) / 10000 AS dcg_10,
       |       floor(CAST(idcg AS DOUBLE) * 10000 + 0.5) / 10000 AS idcg_10,
       |       CASE WHEN idcg > 0
       |            THEN floor((CAST(dcg AS DOUBLE) / CAST(idcg AS DOUBLE)) * 10000 + 0.5) / 10000
       |            ELSE 0.0 END AS ndcg_10
       |FROM a CROSS JOIN b""".stripMargin
  }

  // ───────────────────────────── registry ────────────────────────────────

  /** How a query's result is checked: its DuckDB oracle SQL, or — for the
    * raw pair/neighbour lists of approximate operators, rows-only by
    * design — the registered full-oracle gate twin that checks the same
    * operator on a deterministic, hash-matched form. */
  sealed trait Check
  final case class Oracle(sql: String) extends Check
  final case class GateTwin(gate: String) extends Check

  /** Bench tier (BASELINE.md tier policy): `Bench` rows make the recurring
    * wall; `Retired` rows keep their oracle and run only when named
    * (SPARK_GRAFT_ONLY, `graft.Tool`); `Verify` rows are checked, never
    * timed by default. */
  sealed trait Tier
  object Tier {
    case object Bench extends Tier
    case object Retired extends Tier
    case object Verify extends Tier
  }

  /** One registered query. `shipLine` marks the verify-tier ship-line
    * compositions whose plans and measured shuffle bills are pinned
    * artifacts (see [[shipLineNames]]). */
  final case class QueryDef(name: String, q: Q, check: Check, tier: Tier,
                            shipLine: Boolean = false)

  private def bench(name: String, q: Q, check: Check) =
    QueryDef(name, q, check, Tier.Bench)
  private def retired(name: String, q: Q, check: Check, shipLine: Boolean = false) =
    QueryDef(name, q, check, Tier.Retired, shipLine)
  private def verify(name: String, q: Q, check: Check, shipLine: Boolean = false) =
    QueryDef(name, q, check, Tier.Verify, shipLine)

  /** Every query, once. Adding a query is one line here. Bench rows come
    * first, in wall order ([[benchNames]] is this order); the retired and
    * ship-line rows follow in the order [[retiredBenchNames]] and
    * [[shipLineNames]] list them. Placed below every builder and oracle
    * it references: a strict val above them would read null. */
  val registry: Seq[QueryDef] = Seq(
    // headline subset for the per-round bench (sf0.1). d6/sim2 are the
    // 100 TB LSH scale paths — benched alongside their brute twins so the
    // path users actually run at scale has a tracked number
    bench("q1_pricing_summary", q1Pricing, Oracle(q1PricingSql)),
    bench("q3_shipping_priority", q3Priority, Oracle(q3PrioritySql)),
    bench("q3_bucketed", q3Bucketed, Oracle(q3PrioritySql)), // layout changes, semantics don't
    bench("s2_dynamic_prune", s2DynamicPrune, Oracle(s2DynamicPruneSql)),
    bench("q5_revenue_rollup", q5Revenue, Oracle(q5RevenueSql)),
    bench("q6_selective_agg", q6Selective, Oracle(q6SelectiveSql)),
    bench("q7_quantiles", q7Quantiles, Oracle(q7QuantilesSql)),
    bench("q8_correlated_subquery", q8Correlated, Oracle(q8CorrelatedSql)),
    bench("q9_profit_rollup", q9Profit, Oracle(q9ProfitSql)),
    bench("q4_order_priority", q4Priority, Oracle(q4PrioritySql)),
    bench("q12_shipmode_case", q12Modes, Oracle(q12ModesSql)),
    bench("q10_returned_items", q10Returns, Oracle(q10ReturnsSql)),
    bench("q14_promo_revenue", q14Promo, Oracle(q14PromoSql)),
    bench("q13_custdist", q13CustDist, Oracle(q13CustDistSql)),
    bench("q15_top_supplier", q15TopSupplier, Oracle(q15TopSupplierSql)),
    bench("q17_small_qty", q17SmallQty, Oracle(q17SmallQtySql)),
    bench("q18_large_orders", q18LargeOrders, Oracle(q18LargeOrdersSql)),
    bench("q19_disjunct_join", q19Disjunct, Oracle(q19DisjunctSql)),
    bench("q22_idle_rich", q22IdleRich, Oracle(q22IdleRichSql)),
    bench("q16_supplier_cnt", q16SupplierCnt, Oracle(q16SupplierCntSql)),
    bench("q20_promo_suppliers", q20PromoSuppliers, Oracle(q20PromoSuppliersSql)),
    bench("q21_waiting_suppliers", q21WaitingSuppliers, Oracle(q21WaitingSuppliersSql)),
    bench("q11_important_shares", q11ImportantShares, Oracle(q11ImportantSharesSql)),
    bench("asof1_attribution", asof1Attribution, Oracle(asof1AttributionSql)),
    bench("g1_rollup", g1Rollup, Oracle(g1RollupSql)),
    bench("w4_pivot", w4Pivot, Oracle(w4PivotSql)),
    bench("e1_users_pipeline", e1Users, Oracle(e1UsersSql)),
    bench("e3_launches_pipeline", e3Launches, Oracle(e3LaunchesSql)),
    bench("w1_rank_window", w1Rank, Oracle(w1RankSql)),
    bench("w6_topk_native", w6TopkNative, Oracle(w6TopkNativeSql)),
    bench("w2_tumbling_window", w2Tumbling, Oracle(w2TumblingSql)),
    bench("w3_sessionize", w3Sessions, Oracle(w3SessionsSql)),
    bench("d2_dedup_minhash", d2Minhash, GateTwin("d2_minhash_gate")),
    bench("d3_dedup_simhash", d3Simhash, Oracle(d3SimhashSql)),
    bench("d4_ngram_jaccard", d4Ngram, Oracle(d4NgramSql)),
    bench("d5_embedding_neardup", d5Cosine, Oracle(d5CosineSql)),
    bench("d6_neardup_lsh", d6LshNeardup, GateTwin("d6_lsh_gate")),
    bench("sim2_ann_lsh", sim2Ann, GateTwin("sim2_ann_gate")),
    bench("d6_production", d6Production, GateTwin("d6_production_gate")),
    bench("sim2_production", sim2Production, GateTwin("sim2_production_gate")),
    bench("sim1_cosine_topk", sim1TopK, Oracle(sim1TopKSql)),
    bench("t4_fingerprint", t4Fingerprint, Oracle(t4FingerprintSql)),
    bench("t7_tfidf", t7Tfidf, Oracle(t7TfidfSql)),
    bench("mm1_binary_decode", mm1Binary, Oracle(mm1BinarySql)),
    bench("prep1_corpus_prep", prep1CorpusPrep, Oracle(prep1CorpusPrepSql)),
    bench("dc1_decontaminate", dc1Decontaminate, Oracle(dc1DecontaminateSql)),
    bench("inc1_incremental_dedup", inc1IncrementalDedup, Oracle(inc1IncrementalDedupSql)),
    bench("inc2_neardup_admission", inc2NearDupAdmission, Oracle(inc2NearDupAdmissionSql)),
    bench("hh2_mg_sketch", hh2MgSketch, Oracle(hh2MgSketchSql)),
    bench("emb2_mean_pool", emb2MeanPool, Oracle(emb2MeanPoolSql)),
    bench("scd1_history", scd1History, Oracle(scd1HistorySql)),
    bench("z2_compaction_plan", z2Compaction, Oracle(z2CompactionSql)),
    bench("mix1_source_mix", mix1SourceMix, Oracle(mix1SourceMixSql)),
    bench("pk1_sequence_pack", pk1SequencePack, Oracle(pk1SequencePackSql)),
    bench("d8_keep_best", d8KeepBest, Oracle(d8KeepBestSql)),
    bench("diff1_snapshot_diff", diff1SnapshotDiff, Oracle(diff1SnapshotDiffSql)),
    bench("t11_length_outliers", t11LengthOutliers, Oracle(t11LengthOutliersSql)),
    bench("hll1_sketch_rollup", hll1SketchRollup, Oracle(hll1SketchRollupSql)),
    bench("tok1_vocab_encode", tok1VocabEncode, Oracle(tok1VocabEncodeSql)),
    bench("g3_grouping_sets", g3GroupingSets, Oracle(g3GroupingSetsSql)),
    bench("funnel1_conversion", funnel1Conversion, Oracle(funnel1ConversionSql)),
    bench("kll1_quantile_rollup", kll1QuantileRollup, Oracle(kll1QuantileRollupSql)),
    bench("theta1_set_overlap", theta1SetOverlap, Oracle(theta1SetOverlapSql)),
    bench("cms1_freq_rollup", cms1FreqRollup, Oracle(cms1FreqRollupSql)),
    // bloom prefilter is exact: same oracle
    bench("dc2_decontaminate_bloom", dc2DecontaminateBloom, Oracle(dc1DecontaminateSql)),
    bench("emb3_random_projection", emb3RandomProjection, Oracle(emb3RandomProjectionSql)),
    bench("dq1_integrity_audit", dq1IntegrityAudit, Oracle(dq1IntegrityAuditSql)),
    bench("ret1_retention", ret1Retention, Oracle(ret1RetentionSql)),
    bench("ts1_gap_fill", ts1GapFill, Oracle(ts1GapFillSql)),
    bench("anom1_daily_zscore", anom1Zscore, Oracle(anom1ZscoreSql)),
    bench("ltv1_cohort_ltv", ltv1CohortLtv, Oracle(ltv1CohortLtvSql)),
    bench("hist1_equiwidth", hist1Histogram, Oracle(hist1HistogramSql)),
    bench("corr1_profile", corr1Profile, Oracle(corr1ProfileSql)),
    bench("smp3_stratified_cap", smp3StratifiedCap, Oracle(smp3StratifiedCapSql)),
    bench("smp4_weighted_sample", smp4WeightedSample, Oracle(smp4WeightedSampleSql)),
    bench("mb1_market_basket", mb1MarketBasket, Oracle(mb1MarketBasketSql)),
    bench("pmi1_collocations", pmi1Collocations, Oracle(pmi1CollocationsSql)),
    bench("lm1_surprisal", lm1Surprisal, Oracle(lm1SurprisalSql)),
    bench("path1_transitions", path1Transitions, Oracle(path1TransitionsSql)),
    bench("nu1_new_users", nu1NewUsers, Oracle(nu1NewUsersSql)),
    bench("exp1_ab_test", exp1AbTest, Oracle(exp1AbTestSql)),
    bench("exp2_cuped", exp2CupedAbTest, Oracle(exp2CupedAbTestSql)),
    bench("tt1_welch_ttest", tt1WelchTTest, Oracle(tt1WelchTTestSql)),
    bench("cp1_changepoint", cp1Changepoint, Oracle(cp1ChangepointSql)),
    bench("er1_fuzzy_match", er1FuzzyMatch, Oracle(er1FuzzyMatchSql)),
    bench("er2_star_resolve", er2StarResolve, Oracle(er2StarResolveSql)),
    bench("skew1_key_skew", skew1KeySkew, Oracle(skew1KeySkewSql)),
    bench("qn1_quantile_normalize", qn1QuantileNormalize, Oracle(qn1QuantileNormalizeSql)),
    bench("dp1_private_counts", dp1PrivateCounts, Oracle(dp1PrivateCountsSql)),
    bench("ivm1_delta_agg", ivm1DeltaAgg, Oracle(ivm1DeltaAggSql)),
    bench("smp5_group_split", smp5GroupSplit, Oracle(smp5GroupSplitSql)),
    bench("funnel2_time_to_convert", funnel2TimeToConvert, Oracle(funnel2TimeToConvertSql)),
    bench("pr1_pagerank", pr1Pagerank, Oracle(pr1PagerankSql)),
    bench("roll1_rolling_active", roll1Rolling, Oracle(roll1RollingSql)),
    bench("roll2_rolling_approx", roll2RollingApprox, Oracle(roll2RollingApproxSql)),
    bench("seg1_rfm", seg1Rfm, Oracle(seg1RfmSql)),
    bench("mm3_audio_decode", mm3Audio, Oracle(mm3AudioSql)),
    bench("asof2_windowed", asof2Windowed, Oracle(asof2WindowedSql)),
    bench("cdc2_apply_deletes", cdc2Deletes, Oracle(cdc2DeletesSql)),
    bench("pca1_power_iteration", pca1Power, Oracle(pca1PowerSql)),
    bench("kmeans1_lloyd", kmeans1Lloyd, Oracle(kmeans1LloydSql)),
    bench("d9_semantic_dedup", d9SemanticDedup, Oracle(d9SemanticDedupSql)),
    bench("mix2_target_mix", mix2TargetMix, Oracle(mix2TargetMixSql)),
    bench("pat1_sequence_match", pat1SequenceMatch, Oracle(pat1SequenceMatchSql)),
    bench("tri1_triangles", tri1Triangles, Oracle(tri1TrianglesSql)),
    bench("kcore1_dense_core", kcore1DenseCore, Oracle(kcore1DenseCoreSql)),
    bench("ovl1_source_overlap", ovl1SourceOverlap, Oracle(ovl1SourceOverlapSql)),
    bench("card1_dataset_card", card1DatasetCard, Oracle(card1DatasetCardSql)),
    bench("cur1_filter_waterfall", cur1Waterfall, Oracle(cur1WaterfallSql)),
    bench("reg1_ols_trend", reg1OlsTrend, Oracle(reg1OlsTrendSql)),
    bench("acf1_autocorr", acf1Autocorr, Oracle(acf1AutocorrSql)),
    bench("ts2_ewma", ts2Ewma, Oracle(ts2EwmaSql)),
    bench("ohlc1_weekly_bars", ohlc1Weekly, Oracle(ohlc1WeeklySql)),
    bench("fe1_target_encode", fe1TargetEncode, Oracle(fe1TargetEncodeSql)),
    bench("t12_bm25", t12Bm25, Oracle(t12Bm25Sql)),
    bench("surv1_kaplan_meier", surv1KaplanMeier, Oracle(surv1KaplanMeierSql)),
    bench("dq2_benford_audit", dq2BenfordAudit, Oracle(dq2BenfordAuditSql)),
    bench("woe1_woe_iv", woe1WoeIv, Oracle(woe1WoeIvSql)),
    bench("psi1_dist_drift", psi1DistDrift, Oracle(psi1DistDriftSql)),
    bench("lp1_communities", lp1Communities, Oracle(lp1CommunitiesSql)),
    bench("fh1_feature_hash", fh1FeatureHash, Oracle(fh1FeatureHashSql)),
    bench("ndcg1_rank_eval", ndcg1RankEval, Oracle(ndcg1RankEvalSql)),
    bench("chunk1_doc_chunks", chunk1DocChunks, Oracle(chunk1DocChunksSql)),
    bench("d10_dup_spans", d10DupSpans, Oracle(d10DupSpansSql)),
    bench("d12_span_removal", d12SpanRemoval, Oracle(d12SpanRemovalSql)),
    bench("dsir1_importance", dsir1Importance, Oracle(dsir1ImportanceSql)),
    bench("mix3_temperature_mix", mix3TemperatureMix, Oracle(mix3TemperatureMixSql)),
    bench("shuf1_epoch_order", shuf1EpochOrder, Oracle(shuf1EpochOrderSql)),
    bench("pack1_sequence_packing", pack1SequencePacking, Oracle(pack1SequencePackingSql)),
    bench("bpe1_train_merges", bpe1TrainMerges, Oracle(bpe1TrainMergesSql)),
    bench("bpe2_encode_stats", bpe2EncodeStats, Oracle(bpe2EncodeStatsSql)),
    bench("hn1_hard_negatives", hn1HardNegatives, Oracle(hn1HardNegativesSql)),
    bench("hn2_production", hn2Production, GateTwin("hn2_gate")),
    bench("mix4_oversample", mix4Oversample, Oracle(mix4OversampleSql)),
    bench("t13_entropy", t13Entropy, Oracle(t13EntropySql)),
    bench("rrf1_hybrid_fusion", rrf1HybridFusion, Oracle(rrf1HybridFusionSql)),
    bench("ml1_logreg_gd", ml1LogregGd, Oracle(ml1LogregGdSql)),
    bench("ml2_calibration", ml2Calibration, Oracle(ml2CalibrationSql)),
    bench("ml3_auc", ml3Auc, Oracle(ml3AucSql)),
    bench("ivm2_delta_join", ivm2DeltaJoin, Oracle(ivm2DeltaJoinSql)),
    bench("boot1_bootstrap_ci", boot1BootstrapCi, Oracle(boot1BootstrapCiSql)),
    bench("zm1_zone_map", zm1ZoneMap, Oracle(zm1ZoneMapSql)),
    bench("d11_containment", d11Containment, Oracle(d11ContainmentSql)),
    bench("emb4_matryoshka_recall", emb4MatryoshkaRecall, Oracle(emb4MatryoshkaRecallSql)),
    bench("emb5_int8_recall", emb5Int8Recall, Oracle(emb5Int8RecallSql)),
    bench("ml4_cv", ml4Cv, Oracle(ml4CvSql)),
    bench("fd1_functional_deps", fd1FunctionalDeps, Oracle(fd1FunctionalDepsSql)),
    bench("aug1_token_dropout", aug1TokenDropout, Oracle(aug1TokenDropoutSql)),
    bench("aug2_token_mask", aug2TokenMask, Oracle(aug2TokenMaskSql)),
    bench("zipf1_token_zipf", zipf1TokenZipf, Oracle(zipf1TokenZipfSql)),
    bench("lid1_confusion", lid1Confusion, Oracle(lid1ConfusionSql)),
    bench("dp2_private_median", dp2PrivateMedian, Oracle(dp2PrivateMedianSql)),
    bench("bleu1_eval", bleu1Eval, Oracle(bleu1EvalSql)),
    bench("ml5_lang_train", ml5LangTrain, Oracle(ml5LangTrainSql)),
    bench("pack2_nostraddle", pack2NoStraddle, Oracle(pack2NoStraddleSql)),
    bench("uni1_unigram_train", uni1UnigramTrain, Oracle(uni1UnigramTrainSql)),
    bench("passk1_eval", passk1Eval, Oracle(passk1EvalSql)),
    bench("bt1_pairwise_rank", bt1PairwiseRank, Oracle(bt1PairwiseRankSql)),
    bench("rouge1_eval", rouge1Eval, Oracle(rouge1EvalSql)),
    bench("mmd1_dist_shift", mmd1DistShift, Oracle(mmd1DistShiftSql)),
    bench("uni2_encode_stats", uni2EncodeStats, Oracle(uni2EncodeStatsSql)),
    bench("ks1_two_sample", ks1TwoSample, Oracle(ks1TwoSampleSql)),
    bench("chrf1_eval", chrf1Eval, Oracle(chrf1EvalSql)),
    bench("wer1_eval", wer1Eval, Oracle(wer1EvalSql)),
    bench("cusum1_drift", cusum1Drift, Oracle(cusum1DriftSql)),
    bench("lorenz1_deciles", lorenz1Deciles, Oracle(lorenz1DecilesSql)),
    bench("conf1_interval", conf1Interval, Oracle(conf1IntervalSql)),
    bench("sky1_skyline", sky1Skyline, Oracle(sky1SkylineSql)),
    bench("mw1_rank_test", mw1RankTest, Oracle(mw1RankTestSql)),
    bench("trim1_robust_means", trim1RobustMeans, Oracle(trim1RobustMeansSql)),
    bench("did1_diff_in_diff", did1DiffInDiff, Oracle(did1DiffInDiffSql)),
    bench("stl1_decompose", stl1Decompose, Oracle(stl1DecomposeSql)),
    bench("tr1_textrank", tr1Textrank, Oracle(tr1TextrankSql)),
    bench("rho1_spearman", rho1Spearman, Oracle(rho1SpearmanSql)),
    bench("ipw1_effect", ipw1Effect, Oracle(ipw1EffectSql)),
    bench("platt1_calibration", platt1Calibration, Oracle(platt1CalibrationSql)),
    bench("kappa1_agreement", kappa1Agreement, Oracle(kappa1AgreementSql)),
    bench("dr1_doubly_robust", dr1DoublyRobust, Oracle(dr1DoublyRobustSql)),
    bench("kn1_kneser_ney", kn1KneserNey, Oracle(kn1KneserNeySql)),
    bench("ridge1_normal_eq", ridge1NormalEq, Oracle(ridge1NormalEqSql)),
    bench("hw1_holt_trend", hw1HoltTrend, Oracle(hw1HoltTrendSql)),
    bench("fa1_forecast_accuracy", fa1ForecastAccuracy, Oracle(fa1ForecastAccuracySql)),
    bench("bf1_file_bloom", bf1FileBloom, Oracle(bf1FileBloomSql)),
    bench("doremi1_domain_weights", doremi1DomainWeights, Oracle(doremi1DomainWeightsSql)),
    // stream/batch parity: same oracle
    bench("st16_stream_holt", st16StreamHolt, Oracle(hw1HoltTrendSql)),
    bench("st17_stream_cusum", st17StreamCusum, Oracle(st17StreamCusumSql)),
    bench("pq1_product_quantize", pq1ProductQuantize, Oracle(pq1ProductQuantizeSql)),
    bench("pq2_adc_search", pq2AdcSearch, GateTwin("pq2_adc_gate")),
    bench("pq2_production", pq2Production, GateTwin("pq2_production_gate")),
    bench("ii1_inverted_index", ii1InvertedIndex, Oracle(ii1InvertedIndexSql)),
    bench("ii2_positional_index", ii2PositionalIndex, Oracle(ii2PositionalIndexSql)),
    bench("gbt1_boosted_stumps", gbt1BoostedStumps, Oracle(gbt1BoostedStumpsSql)),
    bench("als1_factorization", als1Factorization, Oracle(als1FactorizationSql)),
    bench("iso1_isotonic_calibration", iso1IsotonicCalibration, Oracle(iso1IsotonicCalibrationSql)),
    bench("ts3_theil_sen", ts3TheilSen, Oracle(ts3TheilSenSql)),
    bench("logrank1_survival_test", logrank1SurvivalTest, Oracle(logrank1SurvivalTestSql)),
    bench("bfs1_shortest_paths", bfs1ShortestPaths, Oracle(bfs1ShortestPathsSql)),
    bench("att1_position_attribution", att1PositionAttribution, Oracle(att1PositionAttributionSql)),
    bench("dtw1_series_align", dtw1SeriesAlign, Oracle(dtw1SeriesAlignSql)),
    bench("hits1_hubs_auth", hits1HubsAuth, Oracle(hits1HubsAuthSql)),
    bench("mod1_modularity", mod1Modularity, Oracle(mod1ModularitySql)),
    bench("louv1_local_move", louv1LocalMove, Oracle(louv1LocalMoveSql)),
    bench("louv2_coarsen", louv2Coarsen, Oracle(louv2CoarsenSql)),
    bench("ppr1_proximity", ppr1Proximity, Oracle(ppr1ProximitySql)),
    bench("pref1_dpo_pairs", pref1DpoPairs, Oracle(pref1DpoPairsSql)),
    // stream/batch parity: same oracle
    bench("st1_stream_window", st1Stream, Oracle(w2TumblingSql)),
    bench("st6_stream_cdc", st6StreamCdc, Oracle(st6StreamCdcSql)),
    // Rows RETIRED from the recurring bench wall under the BASELINE.md
    // tier policy (the wall's quiet-run feasibility budget is ~240 s):
    // each keeps its full per-round DuckDB oracle (verify-tier — the
    // capability and its correctness gate are unchanged) and stays
    // reachable by Bench/Tool when EXPLICITLY named via
    // SPARK_GRAFT_ONLY / Tool's name arguments for guard-protocol
    // re-measures; it just no longer pays recurring wall time.
    // d13_span_keep_first: d12's scan + rollup with one extra
    // min(doc_id) carried — d12 is the benched sibling and its 10×
    // guard covers d13's shape verbatim (BASELINE.md §R13).
    retired("d13_span_keep_first", d13SpanKeepFirst, Oracle(d13SpanKeepFirstSql)),
    // prep2_span_clean: a composition whose every stage has its own
    // bench row (t10 gate, d12 surgery, prep1 dedup accounting) — the
    // same wall-budget rule that keeps prep3 verify-tier.
    retired("prep2_span_clean", prep2SpanClean, Oracle(prep2SpanCleanSql)),
    // pq3_batch_join: a GUARD-PROTOCOL row that never joined the wall
    // (~10 s at sf0.1 — the corpus-proportional batch by design); it
    // lives here so the 10× sweep and ad-hoc re-measures can reach it
    // by name.
    retired("pq3_batch_join", pq3BatchJoin, GateTwin("pq3_batch_gate")),
    // core1_kcenter_coreset: a GUARD-PROTOCOL row like pq3 — its ~7 s
    // sf0.1 wall is k=8 sequential argmax rounds' scheduling floor, not
    // data (the data shape is kmeans1's broadcast-centroid join, already
    // benched); the 10x sweep reaches it here by name
    retired("core1_kcenter_coreset", core1KCenter, Oracle(core1KCenterSql)),
    // r15 tier-policy pass (BASELINE.md: apply the policy BEFORE adding
    // rows): anom2/anom3 are scan-sharing siblings of anom1 — the same
    // events daily rollup with different window arithmetic on the
    // calendar-bounded day grid (d13's retire rationale verbatim);
    // anom1 stays as the benched anchor of the shape
    retired("anom2_seasonal_zscore", anom2Seasonal, Oracle(anom2SeasonalSql)),
    retired("anom3_robust_zscore", anom3Robust, Oracle(anom3RobustSql)),
    // The verify-tier SHIP-LINE compositions (never benched — every
    // stage keeps its own bench/guard row under the tier policy)
    verify("prep3_full_curation", prep3FullCuration, Oracle(prep3FullCurationSql), shipLine = true),
    // release1_training_release: a GUARD-PROTOCOL row (never benched —
    // verify-tier composition) retired so the 10x/x100 sweeps can reach
    // the WHOLE ship line by name (SCALE.md R15)
    retired("release1_training_release", release1TrainingRelease, Oracle(release1TrainingReleaseSql),
      shipLine = true),
    // mem1_ngram_novelty: GUARD-PROTOCOL (verify-tier; sub-2 s wall) —
    // retired so the 10x sweep can pin its corpus-vs-corpus shingle-hash
    // join, the one new r15-continuation shape where a scaling failure
    // could hide (d14/conv1 are single projections; cl1 rides qf1's
    // measured featurize+GD shape)
    retired("mem1_ngram_novelty", mem1NgramNovelty, Oracle(mem1NgramNoveltySql)),
    verify("release2_delta_release", release2DeltaRelease, Oracle(release2DeltaReleaseSql),
      shipLine = true),
    verify("budget2_epoch_materialize", budget2EpochMaterialize, Oracle(budget2EpochMaterializeSql),
      shipLine = true),
    verify("curr1_curriculum_order", curr1CurriculumOrder, Oracle(curr1CurriculumOrderSql),
      shipLine = true),
    // release3_sft_release: GUARD-PROTOCOL — the SFT ship line reachable
    // by the sweeps by name, release1's rationale verbatim; its ship-line
    // bill constant is pinned in ContinuationBillSpec
    retired("release3_sft_release", release3SftRelease, Oracle(release3SftReleaseSql),
      shipLine = true),
    // bitext2_production: GUARD-PROTOCOL — the corpus-scale bitext
    // mining route (signature-keyed candidate join + margin fold)
    // reachable by the sweeps by name; bitext1's cross-score eval arm
    // is the documented Θ(|A|·|B|) form and is NOT swept (pq2's
    // precedent: the quadratic stays, measured, with this linear
    // alternative shipped under the same gate pins)
    retired("bitext2_production", bitext2Production, GateTwin("bitext2_gate")),
    // verify-tier rows
    verify("e2_run_metrics", e2Metrics, Oracle(e2MetricsSql)),
    verify("e3_nested", e3Nested, Oracle(e3NestedSql)),
    verify("s1_scan_prune", s1Scan, Oracle(s1ScanSql)),
    verify("f5_point_lookup", f5Point, Oracle(f5PointSql)),
    verify("j1_lookup_default", j1Lookup, Oracle(j1LookupSql)),
    verify("j3_array_membership", j3Payloads, Oracle(j3PayloadsSql)),
    verify("j3_nested", j3Nested, Oracle(j3NestedSql)),
    verify("u1_union_all", u1Union, Oracle(u1UnionSql)),
    verify("u2_distinct", u2Distinct, Oracle(u2DistinctSql)),
    verify("u3_intersect", u3Intersect, Oracle(u3IntersectSql)),
    verify("u4_except", u4Except, Oracle(u4ExceptSql)),
    verify("u5_upsert", u5Upsert, Oracle(u5UpsertSql)),
    verify("z1_zorder_layout", z1Zorder, Oracle(z1ZorderSql)),
    verify("smp1_det_sample", smp1Sample, Oracle(smp1SampleSql)),
    verify("smp2_dataset_split", smp2Split, Oracle(smp2SplitSql)),
    verify("j6_semi_join", j6Semi, Oracle(j6SemiSql)),
    verify("j7_anti_join", j7Anti, Oracle(j7AntiSql)),
    verify("g2_cube", g2Cube, Oracle(g2CubeSql)),
    verify("w5_running_window", w5Running, Oracle(w5RunningSql)),
    verify("w7_analytic_suite", w7Analytic, Oracle(w7AnalyticSql)),
    verify("a4_distinct_hll", a4Hll, Oracle(a4HllSql)),
    verify("l1_tail_n", l1Tail, Oracle(l1TailSql)),
    verify("l2_head_n", l2Head, Oracle(l2HeadSql)),
    verify("c1_scalar_suite", c1Scalars, Oracle(c1ScalarsSql)),
    verify("c5_date_format", c5Dates, Oracle(c5DatesSql)),
    verify("c7_url_parse", c7Url, Oracle(c7UrlSql)),
    verify("c12_json_extract", c12Json, Oracle(c12JsonSql)),
    verify("q7_quantiles_approx", q7QuantilesApprox, Oracle(q7QuantilesApproxSql)),
    verify("j5_range_band", j5RangeBand, Oracle(j5RangeBandSql)),
    verify("j8_salted_join", j8Salted, Oracle(j8SaltedSql)),
    verify("est1_dedup_estimate", est1DedupEstimate, Oracle(est1DedupEstimateSql)),
    verify("dc3_semantic_decontaminate", dc3SemanticDecontaminate, Oracle(dc3SemanticDecontaminateSql)),
    verify("hh1_heavy_hitters", hh1HeavyHitters, Oracle(hh1HeavyHittersSql)),
    verify("q2_top_acctbal_supplier", q2TopSupplier, Oracle(q2TopSupplierSql)),
    verify("src1_users_api", src1UsersApi, Oracle(src1UsersApiSql)),
    verify("t6_ngram_freq", t6NgramFreq, Oracle(t6NgramFreqSql)),
    verify("div1_distinct_ngrams", div1DistinctNgrams, Oracle(div1DistinctNgramsSql)),
    verify("st2_stream_dedup", st2StreamDedup, Oracle(st2StreamDedupSql)),
    // stateful sessionizer = batch w3
    verify("st3_stream_sessions", st3StreamSessions, Oracle(w3SessionsSql)),
    verify("st4_stream_join", st4StreamJoin, Oracle(st4StreamJoinSql)),
    verify("st5_stream_enrich", st5StreamEnrich, Oracle(st5StreamEnrichSql)),
    verify("sim4_knn_graph", sim4Knn, GateTwin("sim4_knn_gate")),
    verify("sim4_knn_gate", sim4Gate, Oracle(sim4GateSql)),
    verify("unp1_unpivot", unp1Unpivot, Oracle(unp1UnpivotSql)),
    verify("ppl1_perplexity_buckets", ppl1PerplexityBuckets, Oracle(ppl1PerplexityBucketsSql)),
    verify("smp6_temporal_split", smp6TemporalSplit, Oracle(smp6TemporalSplitSql)),
    verify("u6_except_all", u6ExceptAll, Oracle(u6ExceptAllSql)),
    verify("u7_intersect_all", u7IntersectAll, Oracle(u7IntersectAllSql)),
    verify("mm5_audio_frames", mm5AudioFrames, Oracle(mm5AudioFramesSql)),
    verify("sil1_silhouette", sil1Silhouette, Oracle(sil1SilhouetteSql)),
    verify("st7_stream_left_join", st7StreamLeftJoin, Oracle(st7StreamLeftJoinSql)),
    verify("hist2_equidepth", hist2Equidepth, Oracle(hist2EquidepthSql)),
    // stream/batch parity: same oracle
    verify("st8_stream_pattern", st8StreamPattern, Oracle(pat1SequenceMatchSql)),
    // stream/batch parity: same oracle
    verify("st9_stream_retention", st9StreamRetention, Oracle(ret1RetentionSql)),
    // stream/batch parity: same oracle
    verify("st10_stream_rolling", st10StreamRolling, Oracle(roll1RollingSql)),
    verify("st11_stream_sketch", st11StreamSketch, Oracle(st11StreamSketchSql)),
    // stream/batch parity: same oracle
    verify("st12_stream_anomaly", st12StreamAnomaly, Oracle(anom1ZscoreSql)),
    // stream/batch parity: same oracle
    verify("st13_stream_ohlc", st13StreamOhlc, Oracle(ohlc1WeeklySql)),
    // stream/batch parity: same oracle
    verify("st14_stream_funnel", st14StreamFunnel, Oracle(funnel2TimeToConvertSql)),
    // stream/batch parity: same oracle
    verify("st18_stream_release", st18StreamRelease, Oracle(release2DeltaReleaseSql)),
    // stream/batch parity: same oracle
    verify("st15_stream_gapfill", st15StreamGapFill, Oracle(ts1GapFillSql)),
    verify("w8_range_frame", w8RangeFrame, Oracle(w8RangeFrameSql)),
    verify("w9_topk_ties", w9TopkTies, Oracle(w9TopkTiesSql)),
    verify("chi1_independence", chi1Independence, Oracle(chi1IndependenceSql)),
    verify("gini1_concentration", gini1Concentration, Oracle(gini1ConcentrationSql)),
    verify("streak1_order_streaks", streak1Streaks, Oracle(streak1StreaksSql)),
    verify("d1_dedup_exact", d1Exact, Oracle(d1ExactSql)),
    verify("d1_dedup_metrics", d1Metrics, Oracle(d1MetricsSql)),
    verify("d2_minhash_gate", d2Gate, Oracle(d2GateSql)),
    verify("d6_lsh_gate", d6Gate, Oracle(d6GateSql)),
    verify("d6_production_gate", d6ProductionGate, Oracle(d6ProductionGateSql)),
    verify("lab1_knn_label_spread", lab1KnnLabelSpread, Oracle(lab1KnnLabelSpreadSql)),
    verify("bitext1_margin_mining", bitext1MarginMining, Oracle(bitext1MarginMiningSql)),
    verify("bitext2_gate", bitext2Gate, Oracle(bitext2GateSql)),
    verify("hub1_hubness", hub1Hubness, Oracle(hub1HubnessSql)),
    verify("sd1_soft_dedup", sd1SoftDedup, Oracle(sd1SoftDedupSql)),
    verify("fk1_readability", fk1Readability, Oracle(fk1ReadabilitySql)),
    verify("cs1_code_switch", cs1CodeSwitch, Oracle(cs1CodeSwitchSql)),
    verify("mink1_membership", mink1Membership, Oracle(mink1MembershipSql)),
    verify("typo1_spell_noise", typo1SpellNoise, Oracle(typo1SpellNoiseSql)),
    verify("canary1_exposure", canary1Exposure, Oracle(canary1ExposureSql)),
    verify("clq1_cluster_purity", clq1ClusterPurity, Oracle(clq1ClusterPuritySql)),
    verify("bq1_binary_hamming", bq1BinaryHamming, Oracle(bq1BinaryHammingSql)),
    verify("ssp1_prototype_prune", ssp1PrototypePrune, Oracle(ssp1PrototypePruneSql)),
    verify("sim2_ann_gate", sim2Gate, Oracle(sim2GateSql)),
    verify("sim2_production_gate", sim2ProductionGate, Oracle(sim2ProductionGateSql)),
    verify("sim3_ann_ivf", sim3Ivf, GateTwin("sim3_ivf_gate")),
    verify("sim3_ivf_gate", sim3Gate, Oracle(sim3GateSql)),
    verify("emb1_normalize_quantize", emb1Normalize, Oracle(emb1NormalizeSql)),
    verify("emb6_ablate_top", emb6AblateTop, Oracle(emb6AblateTopSql)),
    verify("t1_lang_id", t1Lang, Oracle(t1LangSql)),
    verify("t2_quality_score", t2Quality, Oracle(t2QualitySql)),
    verify("t3_token_count", t3Tokens, Oracle(t3TokensSql)),
    verify("t5_rolling_hash", t5Rolling, Oracle(t5RollingSql)),
    verify("t8_pii_scrub", t8Scrub, Oracle(t8ScrubSql)),
    verify("t9_repetition", t9Repetition, Oracle(t9RepetitionSql)),
    verify("nrm1_unicode_normalize", nrm1UnicodeNormalize, Oracle(nrm1UnicodeNormalizeSql)),
    verify("d15_nfc_dedup", d15NfcDedup, Oracle(d15NfcDedupSql)),
    verify("t10_corpus_filter", t10CorpusFilter, Oracle(t10CorpusFilterSql)),
    verify("rag1_context_assembly", rag1ContextAssembly, Oracle(rag1ContextAssemblySql)),
    verify("faith1_rag_grounding", faith1RagGrounding, Oracle(faith1RagGroundingSql)),
    verify("ctx1_length_mix", ctx1LengthMix, Oracle(ctx1LengthMixSql)),
    verify("conv1_sft_assemble", conv1SftAssemble, Oracle(conv1SftAssembleSql)),
    verify("sft2_mask_pack", sft2MaskPack, Oracle(sft2MaskPackSql)),
    verify("pad1_length_bucketing", pad1LengthBucketing, Oracle(pad1LengthBucketingSql)),
    verify("fert1_tokenizer_fertility", fert1TokenizerFertility, Oracle(fert1TokenizerFertilitySql)),
    verify("tok2_oov_rate", tok2OovRate, Oracle(tok2OovRateSql)),
    verify("hn2_gate", hn2Gate, Oracle(hn2GateSql)),
    verify("d14_url_dedup", d14UrlDedup, Oracle(d14UrlDedupSql)),
    // lattice merge is exact: batch oracle verbatim
    verify("st19_stream_frontier", st19StreamFrontier, Oracle(d14UrlDedupSql)),
    // ord-ordered fold is exact: batch oracle verbatim
    verify("st20_stream_sft", st20StreamSft, Oracle(release3SftReleaseSql)),
    verify("qf1_quality_distill", qf1QualityDistill, Oracle(qf1QualityDistillSql)),
    verify("cl1_label_noise", cl1LabelNoise, Oracle(cl1LabelNoiseSql)),
    verify("wm1_watermark_detect", wm1WatermarkDetect, Oracle(wm1WatermarkDetectSql)),
    verify("bon1_best_of_n", bon1BestOfN, Oracle(bon1BestOfNSql)),
    verify("cons1_self_consistency", cons1SelfConsistency, Oracle(cons1SelfConsistencySql)),
    verify("pack3_materialize", pack3Materialize, Oracle(pack3MaterializeSql)),
    verify("budget1_epoch_allocation", budget1EpochAllocation, Oracle(budget1EpochAllocationSql)),
    verify("pq2_adc_gate", pq2Gate, Oracle(pq2GateSql)),
    verify("pq2_production_gate", pq2ProductionGate, Oracle(pq2ProductionGateSql)),
    verify("pq3_batch_gate", pq3BatchGate, Oracle(pq3BatchGateSql)),
    verify("ivf1_index_delta", ivf1IndexDelta, Oracle(ivf1IndexDeltaSql)),
    verify("ivf2_index_delete", ivf2IndexDelete, Oracle(ivf2IndexDeleteSql)),
    verify("phr1_phrase_search", phr1PhraseSearch, Oracle(phr1PhraseSearchSql)),
    verify("phr2_proximity_rank", phr2ProximityRank, Oracle(phr2ProximityRankSql)),
    verify("mrr1_rank_eval", mrr1RankEval, Oracle(mrr1RankEvalSql)),
    verify("mrr2_hybrid_eval", mrr2HybridEval, Oracle(mrr2HybridEvalSql)),
    verify("heaps1_vocab_growth", heaps1VocabGrowth, Oracle(heaps1VocabGrowthSql)),
    verify("ka1_k_anonymity", ka1KAnonymity, Oracle(ka1KAnonymitySql)),
    verify("d7_dup_clusters", d7DupClusters, Oracle(d7DupClustersSql)),
    verify("mm2_frame_counts", mm2Frames, Oracle(mm2FramesSql)),
    verify("mm4_image_resize", mm4Resize, Oracle(mm4ResizeSql)))

  val all: Map[String, Q] = registry.map(d => d.name -> d.q).toMap

  val oracles: Map[String, String] =
    registry.collect { case QueryDef(name, _, Oracle(sql), _, _) => name -> sql }.toMap

  val benchNames: Seq[String] = registry.filter(_.tier == Tier.Bench).map(_.name)

  val retiredBenchNames: Seq[String] =
    registry.filter(_.tier == Tier.Retired).map(_.name)

  /** The ship-line compositions whose physical plans are pinned artifacts:
    * `Tool explain` always includes them, and PlanSpec asserts each one's
    * Exchange count equals the sum of its stages' documented COST.md
    * bills — the "no exchange beyond the stages' own bills" claim as a
    * failing test, not prose. */
  val shipLineNames: Seq[String] = registry.filter(_.shipLine).map(_.name)
}
