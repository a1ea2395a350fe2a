package graft

import graft.functions.{TextFunctions => TF, VectorFunctions => VF}
import graft.operators.Transforms
import graft.plans.StatefulQuery
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** The verifiable query surface: one entry per operator from SURVEY.md §2
  * (sources, transforms, sinks-as-frames, and the SQL-pushdown capability
  * the reference delegates to source databases) plus the large-scale
  * training-data-pipeline operators (dedup, similarity, text analysis,
  * multimodal plumbing).
  *
  * Conventions for DuckDB-oracle hash parity:
  *  - every aggregate/computed column is aliased identically in Spark and SQL;
  *  - double sums go through DECIMAL (exact, order-independent) then cast to
  *    double — float addition is not associative, so raw double sums would
  *    differ across partitionings/engines;
  *  - timestamps are emitted as strings (engine-neutral rendering);
  *  - every result has a total deterministic ORDER BY;
  *  - cosine with a ZERO-NORM vector is defined as 0 (the engine's
  *    [[graft.functions.VectorFunctions.cosineWithNorms]] convention);
  *    DuckDB's list_cosine_similarity yields NaN there, so any oracle
  *    whose DECISION depends on a zero-norm cosine must map NaN → 0
  *    (see dd_semdedup). The ann_* ranking oracles share the convention
  *    but the synthetic embeddings have no zero vectors, so their SQL
  *    leaves the raw call in place.
  */
object Queries {

  /** Scratch dir for queries that stage data on local disk (round-trip
    * sinks, layout rewrites, disk indexes, sentinel staging). Registered
    * for recursive deletion at JVM exit — query results are LAZY frames
    * that may read the dir until the caller's last action, so the earliest
    * universally-safe deletion point is process end. Without this,
    * repeated Verify runs accumulated corpus-sized garbage in /tmp.
    * Deletion walks without following symlinks (sentinel staging links the
    * source parquet — the link dies, the data does not). */
  private val scratchDirs =
    new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]()
  locally {
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      scratchDirs.forEach { d =>
        try {
          import scala.jdk.CollectionConverters._
          java.nio.file.Files.walk(d).sorted(
              java.util.Comparator.reverseOrder[java.nio.file.Path]())
            .iterator().asScala
            .foreach(p => try java.nio.file.Files.deleteIfExists(p)
              catch { case _: java.io.IOException => () })
        } catch { case _: java.io.IOException => () }
      }))
  }
  private[graft] def scratchDir(prefix: String): java.nio.file.Path = {
    val d = java.nio.file.Files.createTempDirectory(prefix)
    scratchDirs.add(d)
    d
  }

  /** A verified query: the Spark side plus its DuckDB oracle. The oracle
    * is a thunk so a query whose oracle depends on DRIVER-COMPUTED values
    * (e.g. cp_mix_temperature's pow-derived thresholds) can render them as
    * literals at dump time — Verify runs every query before it dumps
    * `oracle_sql.json`, so the capture is always populated by then. */
  final class Q(val fn: (SparkSession, String) => DataFrame,
                oracleFn: () => Option[String],
                val captureOracle: Boolean = false) {
    def oracle: Option[String] = oracleFn()
  }
  object Q {
    def apply(fn: (SparkSession, String) => DataFrame,
              oracle: Option[String]): Q = new Q(fn, () => oracle)
    def dynamic(fn: (SparkSession, String) => DataFrame,
                oracle: () => String): Q = new Q(fn, () => Some(oracle()))
    /** For queries whose oracle EXISTS only once the query has run (the
      * capture-and-inject pattern over data-dependent driver state) —
      * before that the entry degrades to the rows-only check.
      * `captureOracle=true` lets `CoverageClaimsSpec` tell "oracle not yet
      * captured" apart from "operator shipped with no oracle at all". */
    def dynamicOpt(fn: (SparkSession, String) => DataFrame,
                   oracle: () => Option[String]): Q =
      new Q(fn, oracle, captureOracle = true)
  }

  private def dec(c: Column, scale: Int = 2): Column = c.cast(DecimalType(18, scale))

  /** sum(decimal) cast back to double: exact and portable. */
  private def dsum(c: Column, scale: Int = 2): Column = sum(dec(c, scale)).cast("double")

  // ---------------------------------------------------------------- SQL core
  // The reference's whole query capability is "push SQL to the source"
  // (SURVEY §2.5-2.9); in-engine, that surface is Catalyst. These queries
  // prove the full relational algebra: scan+filter+agg, sort/limit, inner/
  // semi/anti/outer joins, windows, set ops, rollup, json, asof.

  private val q1 = Q(
    (s, dir) => {
      import s.implicits._
      Tables.lineitem(s, dir)
        .filter($"l_shipdate" <= lit("1998-09-02").cast("timestamp"))
        .groupBy($"l_returnflag", $"l_linestatus")
        .agg(
          dsum($"l_quantity").as("sum_qty"),
          dsum($"l_extendedprice").as("sum_base_price"),
          sum(dec($"l_extendedprice" * (lit(1.0) - $"l_discount"), 6)).cast("double").as("sum_disc_price"),
          sum(dec($"l_extendedprice" * (lit(1.0) - $"l_discount") * (lit(1.0) + $"l_tax"), 6)).cast("double").as("sum_charge"),
          count(lit(1)).as("count_order"))
        .orderBy($"l_returnflag", $"l_linestatus")
    },
    Some("""SELECT l_returnflag, l_linestatus,
      CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
      CAST(sum(CAST(l_extendedprice*(1.0-l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS sum_disc_price,
      CAST(sum(CAST(l_extendedprice*(1.0-l_discount)*(1.0+l_tax) AS DECIMAL(18,6))) AS DOUBLE) AS sum_charge,
      count(*) AS count_order
      FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
      GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus"""))

  private val q2 = Q(
    (s, dir) => {
      import s.implicits._
      Tables.orders(s, dir)
        .select($"o_orderkey", $"o_custkey", $"o_totalprice")
        .orderBy($"o_totalprice".desc, $"o_orderkey").limit(100)
    },
    Some("""SELECT o_orderkey, o_custkey, o_totalprice FROM orders
      ORDER BY o_totalprice DESC, o_orderkey LIMIT 100"""))

  private val q3 = Q(
    (s, dir) => {
      import s.implicits._
      val c = Tables.customer(s, dir).filter($"c_mktsegment" === "BUILDING")
      val o = Tables.orders(s, dir).filter($"o_orderdate" < lit("1998-01-01").cast("timestamp"))
      val l = Tables.lineitem(s, dir).filter($"l_shipdate" > lit("1998-01-01").cast("timestamp"))
      // customer is the small side at any SF ratio — broadcast it; the
      // orders⋈lineitem join shuffles on orderkey (co-partitioned keys).
      l.join(o, $"l_orderkey" === $"o_orderkey")
        .join(broadcast(c), $"o_custkey" === $"c_custkey")
        .groupBy($"l_orderkey")
        .agg(sum(dec($"l_extendedprice" * (lit(1.0) - $"l_discount"), 6)).cast("double").as("revenue"))
        .orderBy($"revenue".desc, $"l_orderkey").limit(20)
    },
    Some("""SELECT l_orderkey,
      CAST(sum(CAST(l_extendedprice*(1.0-l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
      FROM customer JOIN orders ON c_custkey = o_custkey
      JOIN lineitem ON l_orderkey = o_orderkey
      WHERE c_mktsegment = 'BUILDING'
        AND o_orderdate < TIMESTAMP '1998-01-01'
        AND l_shipdate > TIMESTAMP '1998-01-01'
      GROUP BY l_orderkey ORDER BY revenue DESC, l_orderkey LIMIT 20"""))

  private val q4 = Q(
    (s, dir) => {
      import s.implicits._
      val o = Tables.orders(s, dir)
      val l = Tables.lineitem(s, dir).filter($"l_discount" > 0.05)
        .select($"l_orderkey").distinct()
      o.join(l, $"o_orderkey" === $"l_orderkey", "left_semi")
        .groupBy($"o_orderpriority").agg(count(lit(1)).as("order_count"))
        .orderBy($"o_orderpriority")
    },
    Some("""SELECT o_orderpriority, count(*) AS order_count FROM orders
      WHERE EXISTS (SELECT 1 FROM lineitem
        WHERE l_orderkey = o_orderkey AND l_discount > 0.05)
      GROUP BY o_orderpriority ORDER BY o_orderpriority"""))

  private val q5 = Q(
    (s, dir) => {
      import s.implicits._
      val r = Tables.region(s, dir).filter($"r_name" === "ASIA")
      val n = Tables.nation(s, dir)
      val cst = Tables.customer(s, dir)
      val sup = Tables.supplier(s, dir)
      val o = Tables.orders(s, dir)
        .filter($"o_orderdate" >= lit("1996-01-01").cast("timestamp") &&
                $"o_orderdate" < lit("1998-01-01").cast("timestamp"))
      val l = Tables.lineitem(s, dir)
      // dims broadcast; the two big tables shuffle once on orderkey.
      l.join(o, $"l_orderkey" === $"o_orderkey")
        .join(broadcast(cst), $"o_custkey" === $"c_custkey")
        .join(broadcast(sup),
          $"l_suppkey" === $"s_suppkey" && $"c_nationkey" === $"s_nationkey")
        .join(broadcast(n), $"s_nationkey" === $"n_nationkey")
        .join(broadcast(r), $"n_regionkey" === $"r_regionkey")
        .groupBy($"n_name")
        .agg(sum(dec($"l_extendedprice" * (lit(1.0) - $"l_discount"), 6)).cast("double").as("revenue"))
        .orderBy($"revenue".desc, $"n_name")
    },
    Some("""SELECT n_name,
      CAST(sum(CAST(l_extendedprice*(1.0-l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
      FROM customer, orders, lineitem, supplier, nation, region
      WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
        AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
        AND r_name = 'ASIA'
        AND o_orderdate >= TIMESTAMP '1996-01-01'
        AND o_orderdate < TIMESTAMP '1998-01-01'
      GROUP BY n_name ORDER BY revenue DESC, n_name"""))

  private val q6 = Q(
    (s, dir) => {
      import s.implicits._
      Tables.lineitem(s, dir)
        .filter($"l_shipdate" >= lit("1996-01-01").cast("timestamp") &&
                $"l_shipdate" < lit("1997-01-01").cast("timestamp") &&
                $"l_discount".between(0.05, 0.07) && $"l_quantity" < 24)
        .agg(sum(dec($"l_extendedprice" * $"l_discount", 6)).cast("double").as("revenue"),
             count(lit(1)).as("n"))
    },
    Some("""SELECT
      CAST(sum(CAST(l_extendedprice*l_discount AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
      count(*) AS n
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
        AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24"""))

  private val q7 = Q(
    (s, dir) => {
      import s.implicits._
      val l = Tables.lineitem(s, dir)
      val p = Tables.part(s, dir)
      val rev = l.join(broadcast(p), $"l_partkey" === $"p_partkey")
        .groupBy($"p_brand", $"p_partkey")
        .agg(sum(dec($"l_extendedprice" * (lit(1.0) - $"l_discount"), 6)).cast("double").as("revenue"))
      // custom TopKPerKey operator prunes to k rows/key with bounded heaps
      // (partial map-side + final), instead of sorting whole partitions;
      // row_number then ranks only the pruned k·#keys rows.
      val topk = graft.plans.TopKPerKey(rev, Seq("p_brand"),
        Seq(graft.plans.TopKPerKey.desc("revenue"),
            graft.plans.TopKPerKey.asc("p_partkey")), 3)
      val w = Window.partitionBy($"p_brand").orderBy($"revenue".desc, $"p_partkey")
      topk.withColumn("rk", row_number().over(w).cast("long"))
        .select($"p_brand", $"p_partkey", $"revenue", $"rk")
        .orderBy($"p_brand", $"rk")
    },
    Some("""SELECT p_brand, p_partkey, revenue, rk FROM (
      SELECT p_brand, p_partkey, revenue,
        row_number() OVER (PARTITION BY p_brand ORDER BY revenue DESC, p_partkey) AS rk
      FROM (SELECT p_brand, p_partkey,
        CAST(sum(CAST(l_extendedprice*(1.0-l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
        FROM lineitem JOIN part ON l_partkey = p_partkey
        GROUP BY p_brand, p_partkey)) WHERE rk <= 3 ORDER BY p_brand, rk"""))

  private val q8 = Q(
    (s, dir) => {
      import s.implicits._
      Tables.lineitem(s, dir).groupBy($"l_returnflag")
        .agg(countDistinct($"l_orderkey").as("n_orders"),
             countDistinct($"l_partkey").as("n_parts"),
             countDistinct($"l_suppkey").as("n_supps"))
        .orderBy($"l_returnflag")
    },
    Some("""SELECT l_returnflag, count(DISTINCT l_orderkey) AS n_orders,
      count(DISTINCT l_partkey) AS n_parts, count(DISTINCT l_suppkey) AS n_supps
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""))

  private val q9 = Q(
    (s, dir) => {
      import s.implicits._
      val c = Tables.customer(s, dir)
      val a = c.filter($"c_mktsegment" === "BUILDING").select($"c_custkey")
      val b = c.filter($"c_mktsegment" === "AUTOMOBILE").select($"c_custkey")
      val neg = c.filter($"c_acctbal" < 0).select($"c_custkey")
      a.union(b).except(neg).orderBy($"c_custkey")
    },
    Some("""SELECT c_custkey FROM (
      SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
      UNION SELECT c_custkey FROM customer WHERE c_mktsegment = 'AUTOMOBILE')
      EXCEPT SELECT c_custkey FROM customer WHERE c_acctbal < 0
      ORDER BY c_custkey"""))

  private val q10 = Q(
    (s, dir) => {
      import s.implicits._
      Tables.lineitem(s, dir)
        .rollup($"l_returnflag", $"l_linestatus")
        .agg(dsum($"l_quantity").as("sum_qty"), count(lit(1)).as("n"))
        .select(coalesce($"l_returnflag", lit("ALL")).as("l_returnflag"),
                coalesce($"l_linestatus", lit("ALL")).as("l_linestatus"),
                $"sum_qty", $"n")
        .orderBy($"l_returnflag", $"l_linestatus")
    },
    Some("""SELECT coalesce(l_returnflag, 'ALL') AS l_returnflag,
      coalesce(l_linestatus, 'ALL') AS l_linestatus,
      CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty, count(*) AS n
      FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
      ORDER BY l_returnflag, l_linestatus"""))

  private val q11 = Q(
    (s, dir) => {
      import s.implicits._
      val c = Tables.customer(s, dir)
      val o = Tables.orders(s, dir)
        .filter($"o_orderdate" >= lit("2000-01-01").cast("timestamp"))
        .select($"o_custkey").distinct()
      c.join(o, $"c_custkey" === $"o_custkey", "left_anti")
        .select($"c_custkey", $"c_name").orderBy($"c_custkey")
    },
    Some("""SELECT c_custkey, c_name FROM customer
      WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
        AND o_orderdate >= TIMESTAMP '2000-01-01')
      ORDER BY c_custkey"""))

  private val q12 = Q(
    (s, dir) => {
      import s.implicits._
      Tables.events(s, dir)
        .groupBy(date_trunc("DAY", $"ts").cast("string").as("day"))
        .agg(sum(when($"event_type" === "purchase", 1).otherwise(0)).as("purchases"),
             sum(when($"event_type" === "error", 1).otherwise(0)).as("errors"),
             dsum($"value", 6).as("sum_value"))
        .orderBy($"day")
    },
    Some("""SELECT CAST(CAST(date_trunc('day', ts) AS TIMESTAMP) AS VARCHAR) AS day,
      CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchases,
      CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS errors,
      CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
      FROM events GROUP BY 1 ORDER BY day"""))

  private val q13 = Q(
    (s, dir) => {
      import s.implicits._
      val c = Tables.customer(s, dir)
      val o = Tables.orders(s, dir)
      val perCust = c.join(o, $"c_custkey" === $"o_custkey", "left_outer")
        .groupBy($"c_custkey")
        .agg(count($"o_orderkey").as("c_count"))
      perCust.groupBy($"c_count").agg(count(lit(1)).as("custdist"))
        .orderBy($"custdist".desc, $"c_count".desc)
    },
    Some("""SELECT c_count, count(*) AS custdist FROM (
        SELECT c_custkey, count(o_orderkey) AS c_count
        FROM customer LEFT OUTER JOIN orders ON c_custkey = o_custkey
        GROUP BY c_custkey)
      GROUP BY c_count ORDER BY custdist DESC, c_count DESC"""))

  private val q14 = Q(
    (s, dir) => {
      import s.implicits._
      Tables.events(s, dir)
        .groupBy(window($"ts", "5 minutes").getField("start").cast("string").as("window_start"),
                 $"event_type")
        .agg(count(lit(1)).as("n"), dsum($"value", 6).as("sum_value"))
        .orderBy($"window_start", $"event_type")
    },
    Some("""SELECT CAST(time_bucket(INTERVAL '5 minutes', ts) AS VARCHAR) AS window_start,
      event_type, count(*) AS n,
      CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
      FROM events GROUP BY 1, 2 ORDER BY window_start, event_type"""))

  private val q15 = Q(
    (s, dir) => {
      import s.implicits._
      val w = Window.partitionBy($"user_id").orderBy($"ts")
      val ev = Tables.events(s, dir)
        .withColumn("prev_ts", lag($"ts", 1).over(w))
        .withColumn("new_sess",
          when($"prev_ts".isNull ||
               unix_micros($"ts") - unix_micros($"prev_ts") > 1800L * 1000000L, 1).otherwise(0))
      val sess = ev.withColumn("sess_id",
          sum($"new_sess").over(w.rowsBetween(Window.unboundedPreceding, 0)))
      sess.groupBy($"user_id", $"sess_id")
        .agg(count(lit(1)).as("n_events"))
        .groupBy($"user_id")
        .agg(max($"sess_id").as("n_sessions"), max($"n_events").as("max_session_events"))
        .orderBy($"user_id")
    },
    Some("""WITH ev AS (
        SELECT user_id, ts,
          CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
            OR epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts)) > 1800000000
            THEN 1 ELSE 0 END AS new_sess
        FROM events),
      sess AS (
        SELECT user_id,
          sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
            ROWS UNBOUNDED PRECEDING) AS sess_id
        FROM ev),
      per AS (SELECT user_id, sess_id, count(*) AS n_events
              FROM sess GROUP BY user_id, sess_id)
      SELECT user_id, CAST(max(sess_id) AS BIGINT) AS n_sessions,
        max(n_events) AS max_session_events
      FROM per GROUP BY user_id ORDER BY user_id"""))

  private val q16 = Q(
    (s, dir) => {
      import s.implicits._
      Tables.events(s, dir)
        .withColumn("k", get_json_object($"props", "$.k").cast("long"))
        .groupBy($"event_type")
        .agg(sum($"k").as("sum_k"), count(lit(1)).as("n"))
        .orderBy($"event_type")
    },
    Some("""SELECT event_type,
      CAST(sum(json_extract(props, '$.k')::BIGINT) AS BIGINT) AS sum_k,
      count(*) AS n FROM events GROUP BY event_type ORDER BY event_type"""))

  private val q17 = Q(
    (s, dir) => {
      import s.implicits._
      // As-of join, scalable form: union the two event roles, one window
      // pass per user ordered by time — no per-key quadratic join blowup.
      val ev = Tables.events(s, dir).filter($"event_type".isin("purchase", "error"))
      val w = Window.partitionBy($"user_id").orderBy($"ts")
        .rowsBetween(Window.unboundedPreceding, -1)
      ev.withColumn("last_error_ts",
          max(when($"event_type" === "error", $"ts")).over(w))
        .filter($"event_type" === "purchase")
        .select($"event_id", $"user_id", $"ts".cast("string").as("ts"),
                $"last_error_ts".cast("string").as("last_error_ts"))
        .orderBy($"event_id")
    },
    Some("""SELECT p.event_id, p.user_id, CAST(p.ts AS VARCHAR) AS ts,
        CAST(e.ts AS VARCHAR) AS last_error_ts
      FROM (SELECT * FROM events WHERE event_type = 'purchase') p
      ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'error') e
        ON p.user_id = e.user_id AND p.ts > e.ts
      ORDER BY p.event_id"""))

  /** Correlated scalar subquery (decimal-exact threshold so the boundary
    * comparison is deterministic across engines/partitionings). */
  private val q18 = Q(
    (s, dir) => {
      Tables.registerAll(s, dir)
      s.sql("""SELECT o.o_orderkey, o.o_totalprice FROM orders o
        WHERE o.o_totalprice > 1.5 * (
          SELECT CAST(sum(CAST(o2.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / count(*)
          FROM orders o2 WHERE o2.o_custkey = o.o_custkey)
        ORDER BY o.o_orderkey""")
    },
    Some("""SELECT o.o_orderkey, o.o_totalprice FROM orders o
      WHERE o.o_totalprice > 1.5 * (
        SELECT CAST(sum(CAST(o2.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / count(*)
        FROM orders o2 WHERE o2.o_custkey = o.o_custkey)
      ORDER BY o.o_orderkey"""))

  private val q19 = Q(
    (s, dir) => {
      import s.implicits._
      Tables.orders(s, dir).groupBy($"o_orderstatus")
        .agg(round(expr("percentile(o_totalprice, 0.5)"), 4).as("median_price"),
             round(expr("percentile(o_totalprice, 0.95)"), 4).as("p95_price"),
             count(lit(1)).as("n"))
        .orderBy($"o_orderstatus")
    },
    Some("""SELECT o_orderstatus,
      round(quantile_cont(o_totalprice, 0.5), 4) AS median_price,
      round(quantile_cont(o_totalprice, 0.95), 4) AS p95_price,
      count(*) AS n
      FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus"""))

  private val q20 = Q(
    (s, dir) => {
      import s.implicits._
      Tables.part(s, dir).select($"p_partkey",
          upper($"p_name").as("uname"),
          lpad($"p_brand", 12, "_").as("padded"),
          regexp_replace($"p_type", "[aeiou]", "").as("devoweled"),
          levenshtein(substring($"p_name", 1, 8), $"p_brand").cast("long").as("edit_dist"),
          reverse($"p_type").as("rtype"))
        .orderBy($"p_partkey")
    },
    Some("""SELECT p_partkey, upper(p_name) AS uname,
      lpad(p_brand, 12, '_') AS padded,
      regexp_replace(p_type, '[aeiou]', '', 'g') AS devoweled,
      levenshtein(substr(p_name, 1, 8), p_brand) AS edit_dist,
      reverse(p_type) AS rtype
      FROM part ORDER BY p_partkey"""))

  private val q21 = Q(
    (s, dir) => {
      import s.implicits._
      Tables.orders(s, dir)
        .groupBy(year($"o_orderdate").as("y"), month($"o_orderdate").as("m"))
        .agg(count(lit(1)).as("n"), dsum($"o_totalprice").as("revenue"))
        .orderBy($"y", $"m")
    },
    Some("""SELECT CAST(year(o_orderdate) AS INT) AS y, CAST(month(o_orderdate) AS INT) AS m,
      count(*) AS n,
      CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      FROM orders GROUP BY 1, 2 ORDER BY y, m"""))

  private val q22 = Q(
    (s, dir) => {
      Tables.registerAll(s, dir)
      s.sql("""SELECT coalesce(o_orderstatus, 'ALL') AS o_orderstatus,
        coalesce(o_orderpriority, 'ALL') AS o_orderpriority,
        count(*) AS n
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
        ORDER BY o_orderstatus, o_orderpriority""")
    },
    Some("""SELECT coalesce(o_orderstatus, 'ALL') AS o_orderstatus,
      coalesce(o_orderpriority, 'ALL') AS o_orderpriority,
      count(*) AS n
      FROM orders
      GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
      ORDER BY o_orderstatus, o_orderpriority"""))

  /** Native session_window operator (gap-merge), verified against a
    * first-principles lag/cumsum sessionization oracle — proves Spark's
    * built-in session semantics equal the manual construction. */
  private val q23 = Q(
    (s, dir) => {
      import s.implicits._
      Tables.events(s, dir)
        .groupBy($"user_id", session_window($"ts", "30 minutes").as("w"))
        .agg(count(lit(1)).as("n_events"))
        .select($"user_id", $"w.start".cast("string").as("session_start"),
                $"n_events")
        .orderBy($"user_id", $"session_start")
    },
    Some("""WITH ev AS (
        SELECT user_id, ts,
          CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
            OR epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts)) >= 1800000000
            THEN 1 ELSE 0 END AS new_sess
        FROM events),
      sess AS (
        SELECT user_id, ts,
          sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
            ROWS UNBOUNDED PRECEDING) AS sess_id
        FROM ev)
      SELECT user_id, CAST(min(ts) AS VARCHAR) AS session_start,
        count(*) AS n_events
      FROM sess GROUP BY user_id, sess_id
      ORDER BY user_id, session_start"""))

  /** CUSTOM per-key state (`flatMapGroupsWithState`,
    * [[graft.streaming.StatefulSessions]]) producing the same sessions the
    * built-in session_window (q23) produces — verified against the same
    * first-principles lag/cumsum oracle. The custom operator is the escape
    * hatch for session semantics session_window can't express; this entry
    * proves its close rule is exactly right. */
  private val stSessionsCustom = Q(
    (s, dir) => {
      import s.implicits._
      graft.streaming.StatefulSessions.sessionizeBatchComplete(
          Tables.events(s, dir).select($"user_id", $"ts"), "user_id", "ts", 1800L)
        .select($"key".cast("long").as("user_id"),
          $"session_start".cast("string").as("session_start"),
          $"n".as("n_events"))
        .orderBy($"user_id", $"session_start")
    },
    Some("""WITH ev AS (
        SELECT user_id, ts,
          CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
            OR epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts)) >= 1800000000
            THEN 1 ELSE 0 END AS new_sess
        FROM events),
      sess AS (
        SELECT user_id, ts,
          sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
            ROWS UNBOUNDED PRECEDING) AS sess_id
        FROM ev)
      SELECT user_id, CAST(min(ts) AS VARCHAR) AS session_start,
        count(*) AS n_events
      FROM sess GROUP BY user_id, sess_id
      ORDER BY user_id, session_start"""))

  /** The STREAMING chat-assembly operator
    * ([[graft.streaming.StatefulChat]], custom per-key state carrying the
    * turn lists) verified against the first-principles oracle: same
    * interval-merge close rule as `st_sessions_custom` (exact-gap starts
    * a NEW session, `>=`), transcripts string-agg'd in (ts, event_id)
    * order — the streaming path must emit byte-identical strings. */
  private val stChatAssembly = Q(
    (s, dir) => {
      import s.implicits._
      graft.streaming.StatefulChat.assembleBatchComplete(
          Tables.events(s, dir),
          turn = concat(lit("["), $"event_type", lit("]")))
        .select($"key".cast("long").as("user_id"),
          $"session_start".cast("string").as("session_start"),
          $"n_turns", $"transcript")
        .orderBy($"user_id", $"session_start")
    },
    Some("""WITH ev AS (
        SELECT user_id, ts, event_id, event_type,
          CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
            OR epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) >= 1800000000
            THEN 1 ELSE 0 END AS new_sess
        FROM events),
      sess AS (
        SELECT user_id, ts, event_id, event_type,
          sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
            ROWS UNBOUNDED PRECEDING) AS sess_id
        FROM ev)
      SELECT user_id, CAST(min(ts) AS VARCHAR) AS session_start,
        count(*) AS n_turns,
        string_agg('[' || event_type || ']', chr(10) ORDER BY ts, event_id) AS transcript
      FROM sess GROUP BY user_id, sess_id
      ORDER BY user_id, session_start"""))

  private val q24 = Q(
    (s, dir) => {
      import s.implicits._
      val buyers = Tables.orders(s, dir).groupBy($"o_custkey")
        .agg(count(lit(1)).as("n_orders"))
      val c = Tables.customer(s, dir)
        .filter($"c_mktsegment" === "MACHINERY").select($"c_custkey", $"c_name")
      // MERGE hint (r21): with shuffled-hash enablement on
      // ([[Engine.session]]), AQE converts this full-outer
      // join to SHJ whose single-side build + row-marking measured
      // 1.1-1.2x SLOWER than sort-merge here — full outer is the one
      // join type where SMJ's streamed both-sides shape wins, so pin it
      c.hint("MERGE").join(buyers, $"c_custkey" === $"o_custkey", "full_outer")
        .filter($"c_custkey".isNull || $"o_custkey".isNull)
        .select(
          coalesce($"c_custkey", $"o_custkey").as("custkey"),
          $"c_name", coalesce($"n_orders", lit(0L)).as("n_orders"))
        .orderBy($"custkey")
    },
    Some("""SELECT coalesce(c_custkey, o_custkey) AS custkey, c_name,
      coalesce(n_orders, 0) AS n_orders
      FROM (SELECT c_custkey, c_name FROM customer WHERE c_mktsegment = 'MACHINERY') c
      FULL OUTER JOIN (SELECT o_custkey, count(*) AS n_orders FROM orders GROUP BY o_custkey) o
        ON c_custkey = o_custkey
      WHERE c_custkey IS NULL OR o_custkey IS NULL
      ORDER BY custkey"""))

  /** Non-equi (range) join: price-band lookup via BETWEEN predicates. */
  private val q25 = Q(
    (s, dir) => {
      import s.implicits._
      val bands = Seq(
        ("low", 0.0, 50000.0), ("mid", 50000.0, 150000.0),
        ("high", 150000.0, 1.0e18)).toDF("band", "lo", "hi")
      Tables.orders(s, dir)
        .join(broadcast(bands),
          $"o_totalprice" >= $"lo" && $"o_totalprice" < $"hi")
        .groupBy($"band").agg(count(lit(1)).as("n"), dsum($"o_totalprice").as("revenue"))
        .orderBy($"band")
    },
    Some("""SELECT band, count(*) AS n,
      CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      FROM orders JOIN (VALUES ('low', 0.0, 50000.0), ('mid', 50000.0, 150000.0),
        ('high', 150000.0, 1e18)) bands(band, lo, hi)
        ON o_totalprice >= lo AND o_totalprice < hi
      GROUP BY band ORDER BY band"""))

  /** Aggregate FILTER clause. */
  private val q26 = Q(
    (s, dir) => {
      Tables.registerAll(s, dir)
      s.sql("""SELECT l_returnflag,
        count(*) FILTER (WHERE l_discount > 0.05) AS discounted,
        count(*) FILTER (WHERE l_tax = 0) AS untaxed,
        count(*) AS total
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")
    },
    Some("""SELECT l_returnflag,
      count(*) FILTER (WHERE l_discount > 0.05) AS discounted,
      count(*) FILTER (WHERE l_tax = 0) AS untaxed,
      count(*) AS total
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""))

  /** Ordered string aggregation. */
  private val q27 = Q(
    (s, dir) => {
      import s.implicits._
      Tables.nation(s, dir)
        .groupBy($"n_regionkey")
        .agg(array_join(sort_array(collect_list($"n_name")), ",").as("nations"))
        .orderBy($"n_regionkey")
    },
    Some("""SELECT n_regionkey, string_agg(n_name, ',' ORDER BY n_name) AS nations
      FROM nation GROUP BY n_regionkey ORDER BY n_regionkey"""))

  /** Array/list analytics over the embedding column. */
  private val q28 = Q(
    (s, dir) => {
      import s.implicits._
      val v = $"embedding".cast("array<double>")
      // `+ 0.0` after each round: IEEE addition normalizes a -0.0 result
      // (a mean rounding to zero from below renders "-0" in one engine
      // and "0" in the other — seen at the sf1 rehearsal)
      Tables.embeddings(s, dir).select($"vec_id",
          (round(array_min(v), 6) + lit(0.0)).as("vmin"),
          (round(array_max(v), 6) + lit(0.0)).as("vmax"),
          (round(aggregate(v, lit(0.0), (a, x) => a + x) / size(v), 6) +
            lit(0.0)).as("vmean"),
          size(filter(v, x => x > 0.0)).cast("long").as("n_pos"))
        .orderBy($"vec_id")
    },
    Some("""SELECT vec_id,
      round(list_min(embedding::DOUBLE[]), 6) + 0.0 AS vmin,
      round(list_max(embedding::DOUBLE[]), 6) + 0.0 AS vmax,
      round(list_reduce(list_prepend(0.0, embedding::DOUBLE[]), (a, x) -> a + x)
        / len(embedding), 6) + 0.0 AS vmean,
      len(list_filter(embedding::DOUBLE[], x -> x > 0.0)) AS n_pos
      FROM embeddings ORDER BY vec_id"""))

  // ------------------------------------------------------- operator parity

  private val opTypecast = Q(
    (s, dir) => {
      import s.implicits._
      val base = Tables.part(s, dir).select($"p_partkey", $"p_size", $"p_retailprice")
      val step1 = Transforms.typecast("p_size", "int")(base)
      val step2 = Transforms.typecast("p_retailprice", "string")(step1)
      step2.orderBy($"p_partkey")
    },
    Some("""SELECT p_partkey, CAST(p_size AS BIGINT) AS p_size,
      CAST(p_retailprice AS VARCHAR) AS p_retailprice
      FROM part ORDER BY p_partkey"""))

  private val opTagging = Q(
    (s, dir) => {
      import s.implicits._
      Transforms.tagging("tag", "etl")(Tables.nation(s, dir)).orderBy($"n_nationkey")
    },
    Some("""SELECT n_nationkey, n_name, n_regionkey, 'etl' AS tag
      FROM nation ORDER BY n_nationkey"""))

  private val opOriginRegex = Q(
    (s, dir) => {
      import s.implicits._
      val docs = Tables.documents(s, dir)
        .select($"doc_id", $"source".as("origin"))
      Transforms.originRegex("src", "origin_")(docs).orderBy($"doc_id")
    },
    Some("""SELECT doc_id, regexp_replace(source, 'src', 'origin_', 'g') AS origin
      FROM documents ORDER BY doc_id"""))

  private val opToCsv = Q(
    (s, dir) => {
      import s.implicits._
      Transforms.toCsv(Tables.region(s, dir)).orderBy($"value")
    },
    Some("""SELECT 'csv' AS origin,
      concat_ws(',', r_regionkey, r_name) AS value FROM region ORDER BY value"""))

  private val opFromCsv = Q(
    (s, dir) => {
      import s.implicits._
      val csv = Transforms.toCsv(Tables.region(s, dir))
      Transforms.fromCsv(Seq("r_regionkey", "r_name"))(csv)
        .orderBy($"r_regionkey")
    },
    Some("""SELECT 'csv' AS origin, CAST(r_regionkey AS VARCHAR) AS r_regionkey,
      r_name FROM region ORDER BY r_regionkey"""))

  private val opStatefulSlice = Q(
    (s, dir) => {
      Tables.registerAll(s, dir)
      val sq = StatefulQuery(
        """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
           WHERE o_orderkey > $o_orderkey::i64 AND o_orderkey <= 1000
           ORDER BY o_orderkey""")
      s.sql(sq.bind(StatefulQuery.InitialWatermark))
    },
    Some("""SELECT o_orderkey, o_custkey, o_totalprice FROM orders
      WHERE o_orderkey > 0 AND o_orderkey <= 1000 ORDER BY o_orderkey"""))

  /** Per-JVM manifest fixture for `op_dir_source`: a fresh unique temp
    * dir holding the 10 table names as plain files plus one regex-reject
    * entry, deleted on JVM exit. Memoized so the gate's repeated runs of
    * the query within one JVM list identical content. */
  private lazy val dirSrcFixture: String = {
    val fx = java.nio.file.Files.createTempDirectory("graft_dirsrc_fixture")
    Seq("customer", "documents", "embeddings", "events", "lineitem",
        "nation", "orders", "part", "region", "supplier").foreach { t =>
      java.nio.file.Files.write(fx.resolve(s"$t.parquet"),
        "PAR1".getBytes("UTF-8"))
      ()
    }
    java.nio.file.Files.write(fx.resolve("ignore.txt"), "x".getBytes("UTF-8"))
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      try {
        import scala.jdk.CollectionConverters._
        val walk = java.nio.file.Files.walk(fx)
        try walk.sorted(java.util.Comparator.reverseOrder())
          .iterator().asScala.foreach(java.nio.file.Files.delete)
        finally walk.close()
      } catch { case _: Throwable => () }))
    fx.toString
  }

  private val opDirSource = Q(
    (s, _) => {
      import s.implicits._
      // LAYOUT-PORTABLE fixture: the sf dir's table layout varies (bare
      // files in driver testdata, directories of parts in lake-written
      // corpora like the sf1 rehearsal twin — where a file listing of
      // the data dir is legitimately different), so the dir source is
      // exercised against a deterministic manifest dir the query
      // materializes itself: the 10 table names as plain files plus a
      // non-matching entry that proves the regex filter. The dir is
      // PER-JVM UNIQUE and built fresh ([[dirSrcFixture]]) — a fixed
      // append-only /tmp name let any stale file from an older code
      // version or a concurrent JVM silently break the pinned 10-row
      // oracle.
      graft.sources.Sources.dir(s, dirSrcFixture, pattern = ".*\\.parquet$")
        .select(regexp_extract($"path", "([^/]+)$", 1).as("file"))
        .orderBy($"file")
    },
    Some("""SELECT file FROM (VALUES ('customer.parquet'),('documents.parquet'),
      ('embeddings.parquet'),('events.parquet'),('lineitem.parquet'),
      ('nation.parquet'),('orders.parquet'),('part.parquet'),
      ('region.parquet'),('supplier.parquet')) t(file) ORDER BY file"""))

  /** S1 real SQLite file ingestion. DuckDB has no sqlite reader in this
    * offline container, so the oracle is the fixture's KNOWN content as a
    * VALUES literal — the content was dumped with stock SQLite and is
    * byte-stable, so the hand-written B-tree/record parser gets hash-level
    * verification (stringify canonical forms: ints decimal, blobs lowercase
    * hex; note sqlite stores fraction-free REALs as integers on disk, hence
    * `1` not `1.0`). Structural parsing (overflow chains, interior pages)
    * is additionally covered by SqliteFileSpec. */
  private val opSqliteFile = Q(
    (s, dir) => {
      import s.implicits._
      graft.sources.SqliteFile.read(s,
          "/root/repo/src/test/resources/fixture.db", "test", stringify = true)
        .drop("origin").orderBy($"id")
    },
    Some("""SELECT id, text, bin, float, some_null FROM (VALUES
      ('1','foo','foo','1',CAST(NULL AS VARCHAR)),
      ('2','bar',NULL,'0.2',CAST(NULL AS VARCHAR)),
      ('3','is','not','strict',CAST(NULL AS VARCHAR)),
      ('4','bin','incoming','62696e',CAST(NULL AS VARCHAR)))
      t(id, text, bin, float, some_null) ORDER BY id"""))

  /** S10/D9 — SQLite PHYSICAL replication end to end
    * ([[graft.sources.SqliteReplication]]): the full-snapshot page frame
    * of the WAL-mode fixture (main ⊕ committed WAL frame) is produced by
    * the SOURCE and replayed by the DESTINATION into a replica file; the
    * query emits the replica's per-page md5s. The oracle VALUES were
    * computed by an INDEPENDENT Python implementation of SQLite's WAL
    * recovery rules over the same fixture — so the overlay, the page
    * diffing, and the seek/write/truncate apply path all get hash-level
    * cross-implementation verification. */
  private val opSqliteRepl = Q(
    (s, dir) => {
      import s.implicits._
      val frame = graft.sources.SqliteReplication.snapshotFrame(
        s, "/root/repo/src/test/resources/walfix.db", Map.empty)
      val rep = scratchDir("graft_repl").toString
      graft.sources.SqliteReplication.applySnapshots(frame, rep)
      val bytes = java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(rep, "walfix.db"))
      val ps = 4096
      (1 to bytes.length / ps).map { p =>
        val md5 = java.security.MessageDigest.getInstance("MD5")
          .digest(java.util.Arrays.copyOfRange(bytes, (p - 1) * ps, p * ps))
          .map("%02x".format(_)).mkString
        (p, (p - 1).toLong * ps, ps, md5, bytes.length.toLong)
      }.toDF("blob_num", "page_offset", "blob_size", "page_md5", "db_size")
        .orderBy($"blob_num")
    },
    // "offset" is reserved in DuckDB — the exported column is page_offset
    Some("""SELECT CAST(blob_num AS INTEGER) AS blob_num,
      CAST(page_offset AS BIGINT) AS page_offset,
      CAST(blob_size AS INTEGER) AS blob_size, page_md5,
      CAST(db_size AS BIGINT) AS db_size
      FROM (VALUES
        (1, 0, 4096, 'f3b6b184cdb8ab01027ed132f9d7404f', 8192),
        (2, 4096, 4096, 'a202cd509b0d8606433f3ac495aa6c35', 8192))
      t(blob_num, page_offset, blob_size, page_md5, db_size) ORDER BY blob_num"""))

  /** Layout maintenance preserves CONTENT exactly
    * ([[graft.sources.Layout]]): documents are Z-ORDER-rewritten on
    * (doc_id, n_chars), the result COMPACTED, and the final table must
    * aggregate identically to the original — the physical layout
    * (Morton clustering, file count) must never leak into query results.
    * The pruning/file-count effects themselves are pinned in
    * `LayoutSpec`; this query pins content preservation against the SQL
    * oracle. */
  private val opLayout = Q(
    (s, dir) => {
      import s.implicits._
      val docs = Tables.documents(s, dir)
        .select($"doc_id", $"n_chars", $"lang")
      val path = scratchDir("graft_layout")
        .toString + "/t"
      graft.sources.Layout.zorderParquet(docs, path,
        Seq("doc_id", "n_chars"), targetFiles = 8)
      graft.sources.Layout.compactParquet(s, path, targetMB = 512)
      s.read.parquet(path).groupBy($"lang")
        .agg(count(lit(1)).as("n_docs"),
          sum($"n_chars").as("total_chars"),
          sum($"doc_id").as("id_sum"))
        .orderBy($"lang")
    },
    Some("""SELECT lang, count(*) AS n_docs,
      CAST(sum(n_chars) AS BIGINT) AS total_chars,
      CAST(sum(doc_id) AS BIGINT) AS id_sum
      FROM documents GROUP BY lang ORDER BY lang"""))

  /** D7 kafka wire shape without a broker: the encode half of the kafka
    * sink (`sections/kafka_connector/src/destination.rs:21-131`) is pure
    * DataFrame code — key = origin, value = row JSON-encoded in column
    * order — so it gets full hash verification; only the final
    * `.format("kafka")` write needs a broker. The oracle rebuilds the
    * exact JSON text by concatenation (nation columns are non-null and
    * JSON-safe, so quoting/escaping questions don't arise). */
  private val opKafkaEncode = Q(
    (s, dir) => {
      import s.implicits._
      val n = Tables.nation(s, dir).select(lit("nation").as("origin"),
        $"n_nationkey", $"n_name", $"n_regionkey")
      graft.sources.Sinks.kafkaEncode(n).orderBy($"value")
    },
    Some("""SELECT 'nation' AS key,
      '{"n_nationkey":' || n_nationkey || ',"n_name":"' || n_name ||
        '","n_regionkey":' || n_regionkey || '}' AS value
      FROM nation ORDER BY value"""))

  /** S9/D7 kafka DECODE half without a broker — the inverse projection:
    * rows round-trip through the exact wire bytes ([[opKafkaEncode]]'s
    * key/value shape, cast to binary as a kafka read delivers them) back
    * to typed columns, origin recovered from the message key. Oracle = the
    * source table itself: decode(encode(x)) must equal x. Leaves only the
    * broker socket unexercised. */
  private val opKafkaDecode = Q(
    (s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType}
      val n = Tables.nation(s, dir).select(lit("nation").as("origin"),
        $"n_nationkey", $"n_name", $"n_regionkey")
      val wire = graft.sources.Sinks.kafkaEncode(n)
        .select($"key".cast("binary").as("key"), $"value".cast("binary").as("value"))
      val schema = StructType(Seq(
        StructField("n_nationkey", IntegerType),
        StructField("n_name", StringType),
        StructField("n_regionkey", IntegerType)))
      graft.sources.Sources.kafkaDecode(wire, schema).orderBy($"n_nationkey")
    },
    Some("""SELECT 'nation' AS origin, n_nationkey, n_name, n_regionkey
      FROM nation ORDER BY n_nationkey"""))

  /** S5 real xlsx ingestion; oracle = the fixture workbook's known content
    * (shared strings resolved, AnyColumns LUB promotes `pop` to BIGINT). */
  private val opExcel = Q(
    (s, dir) => {
      import s.implicits._
      graft.sources.ExcelSource.read(s,
          "/root/repo/src/test/resources/fixture.xlsx", stringify = false)
        .drop("origin").orderBy($"city")
    },
    Some("""SELECT city, pop FROM (VALUES ('paris', 2100000::BIGINT),
      ('rome', 2800000::BIGINT), ('tokyo', 14000000::BIGINT)) t(city, pop)
      ORDER BY city"""))

  /** S5's LEGACY half: the same Excel read path over a committed BIFF8
    * .xls fixture (CFB container with a mini-stream workbook, SST +
    * NUMBER/RK/MULRK cells — [[graft.sources.BiffXls]]); typing goes
    * through the identical AnyColumns LUB as the xlsx query above, so
    * both container generations are held to the same oracle shape. */
  private val opExcelXls = Q(
    (s, dir) => {
      import s.implicits._
      graft.sources.ExcelSource.read(s,
          "/root/repo/src/test/resources/fixture.xls", stringify = false)
        .drop("origin").orderBy($"city")
    },
    Some("""SELECT city, pop FROM (VALUES ('paris', 2100000::BIGINT),
      ('rome', 2800000::BIGINT), ('tokyo', 14000000::BIGINT)) t(city, pop)
      ORDER BY city"""))

  /** One-pass data profiling over `part` (production form of inspect). */
  private val opProfile = Q(
    (s, dir) => {
      graft.operators.Profile.summarize(
        Tables.part(s, dir), Seq("p_brand", "p_size", "p_retailprice"))
    },
    Some("""SELECT count(*) AS n_rows,
      CAST(sum(CASE WHEN p_brand IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS p_brand_nulls,
      count(DISTINCT p_brand) AS p_brand_distinct,
      max(length(p_brand)) AS p_brand_maxlen,
      CAST(sum(CASE WHEN p_size IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS p_size_nulls,
      count(DISTINCT p_size) AS p_size_distinct,
      min(p_size) AS p_size_min, max(p_size) AS p_size_max,
      CAST(sum(CASE WHEN p_retailprice IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS p_retailprice_nulls,
      count(DISTINCT p_retailprice) AS p_retailprice_distinct,
      min(p_retailprice) AS p_retailprice_min, max(p_retailprice) AS p_retailprice_max
      FROM part"""))

  /** T8 exec df-mode: every row spawns the command with `--col=val` args and
    * the frame passes through unchanged (reference
    * `sections/exec/src/section/df.rs:66-127`) — so the external-process
    * plumbing gets a FULL hash oracle: output ≡ input selection. `true`(1)
    * ignores its args and exits 0; arg-expansion semantics are covered by
    * TransformsSpec against a recording script. */
  private val opExecPipe = Q(
    (s, dir) => {
      import s.implicits._
      Transforms.execDf(Seq("true"))(
        Tables.region(s, dir).select($"r_name".as("value"))).orderBy($"value")
    },
    Some("SELECT r_name AS value FROM region ORDER BY value"))

  // ----------------------------------------------- training-data pipeline

  /** Exact duplicated-substring scrubbing
    * ([[graft.operators.Corpus.exactSubstrDedup]] — Lee et al. ACL 2022's
    * ExactSubstr re-expressed as L-gram coverage + interval merge). The
    * oracle independently rebuilds every stage: tokenization, md5 L-gram
    * hashing, multiplicity-counted duplicates, gaps-and-islands span
    * merging, and the per-position scrub — any drift in window anchoring,
    * interval arithmetic, or the kept-token reassembly is a hash
    * mismatch. */
  private val ddExactSubstr = Q(
    (s, dir) => {
      import s.implicits._
      graft.operators.Corpus.exactSubstrDedup(
          Tables.documents(s, dir), minTokens = 10)
        .orderBy($"doc_id")
    },
    Some(s"""WITH $toksCte,
      pos AS (SELECT doc_id, ts, unnest(range(1, len(ts) - 10 + 2)) AS p
        FROM toks WHERE len(ts) >= 10),
      grams AS (SELECT doc_id, p,
          md5(array_to_string(ts[p : p + 9], ' ')) AS gh
        FROM pos),
      dupg AS (SELECT gh FROM grams GROUP BY gh HAVING count(*) >= 2),
      dp AS (SELECT g.doc_id, g.p FROM grams g JOIN dupg USING (gh)),
      lagged AS (SELECT doc_id, p,
          lag(p) OVER (PARTITION BY doc_id ORDER BY p) AS prev
        FROM dp),
      isl AS (SELECT doc_id, p,
          sum(CASE WHEN prev IS NULL OR p > prev + 10 THEN 1 ELSE 0 END)
            OVER (PARTITION BY doc_id ORDER BY p) AS island
        FROM lagged),
      spans AS (SELECT doc_id, island, min(p) AS s, max(p) + 9 AS e
        FROM isl GROUP BY doc_id, island),
      perdoc AS (SELECT doc_id, count(*) AS n_spans,
          sum(e - s + 1) AS n_dup_tokens,
          list([s, e] ORDER BY s) AS spans
        FROM spans GROUP BY doc_id)
      SELECT t.doc_id,
        coalesce(d.n_spans, 0)::BIGINT AS n_spans,
        coalesce(d.n_dup_tokens, 0)::BIGINT AS n_dup_tokens,
        coalesce(CASE WHEN d.doc_id IS NULL THEN array_to_string(t.ts, ' ')
        ELSE array_to_string(list_filter(
          list_transform(range(1, len(t.ts) + 1),
            i -> CASE WHEN len(list_filter(d.spans,
                sp -> sp[1] <= i AND i <= sp[2])) > 0
              THEN NULL ELSE t.ts[i] END),
          x -> x IS NOT NULL), ' ') END, '') AS clean_text
      FROM toks t LEFT JOIN perdoc d USING (doc_id)
      ORDER BY doc_id"""))

  private val ddExact = Q(
    (s, dir) => {
      import s.implicits._
      Tables.documents(s, dir)
        .groupBy(md5($"text").as("text_hash"))
        .agg(min($"doc_id").as("doc_id"), count(lit(1)).as("n_copies"))
        .select($"doc_id", $"text_hash", $"n_copies")
        .orderBy($"doc_id")
    },
    Some("""SELECT min(doc_id) AS doc_id, md5(text) AS text_hash,
      count(*) AS n_copies FROM documents GROUP BY md5(text) ORDER BY doc_id"""))

  /** MinHash-LSH near-dup pipeline — see [[graft.operators.NearDup]] for
    * the full construction (one md5 per shingle, codegen'd min-agg slots,
    * capped band buckets, exact-Jaccard verify; only (id, band) longs
    * shuffle). */
  private def minhashPairs(s: SparkSession, dir: String): DataFrame =
    graft.operators.NearDup.pairs(Tables.documents(s, dir))

  /** WITH-clause body shared by the minhash oracles: `pairs` = verified
    * near-dup pairs at jaccard >= 0.2, same permutation constants as the
    * Spark side. */
  /** toks→shingles→hv CTE prefix: per-document distinct 3-gram shingle
    * hashes, the same md5-derived values as [[graft.functions.WordNgramHashes]]
    * mod [[TF.MinhashP]]. Shared by the minhash AND n-gram-jaccard oracles.
    * `src` lets the assembly oracle run the same construction over a
    * derived CTE instead of the raw table. */
  private def shingleHvCteFrom(src: String): String = {
    val P = TF.MinhashP
    s"""toks AS (
        SELECT doc_id, CASE WHEN len(trim(text)) = 0 THEN []::VARCHAR[]
          ELSE regexp_split_to_array(trim(text), '\\s+') END AS ts
        FROM $src),
      sh AS (
        SELECT doc_id, list_distinct(CASE WHEN len(ts) < 3 THEN []::VARCHAR[]
          ELSE list_transform(range(0, len(ts) - 2),
            i -> ts[i+1] || ' ' || ts[i+2] || ' ' || ts[i+3]) END) AS shingles
        FROM toks),
      hv AS (
        SELECT doc_id,
          ('0x' || substr(md5(unnest(shingles)), 1, 15))::BIGINT % $P AS h
        FROM sh)"""
  }

  private lazy val shingleHvCte: String = shingleHvCteFrom("documents")

  private def minhashPairsCteFrom(src: String): String = {
    val perms = (0 until 32).map(TF.minhashPerm)
    val P = TF.MinhashP
    val slotDefs = perms.zipWithIndex.map { case ((a, b), i) =>
      s"min(($a * h + $b) % $P) AS s$i"
    }.mkString(",\n          ")
    val slotList = (0 until 32).map(i => s"s$i").mkString("[", ", ", "]")
    s"""${shingleHvCteFrom(src)},
      sig AS (
        SELECT doc_id,
          $slotDefs
        FROM hv GROUP BY doc_id),
      sigarr AS (SELECT doc_id, $slotList AS sig FROM sig),
      bands AS (
        SELECT doc_id, unnest(list_transform(range(0, 8),
          b -> ('0x' || substr(md5(b::VARCHAR || ',' ||
            array_to_string(sig[b*4+1 : b*4+4], '_')), 1, 15))::BIGINT)) AS band
        FROM sigarr),
      cand AS (
        SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
        FROM bands a JOIN bands b ON a.band = b.band AND a.doc_id < b.doc_id),
      sets AS (SELECT doc_id, list(DISTINCT h) AS hs FROM hv GROUP BY doc_id),
      pairs AS (
        SELECT a_id, b_id,
          round(len(list_intersect(sa.hs, sb.hs))::DOUBLE /
            len(list_distinct(list_concat(sa.hs, sb.hs))), 6) AS jaccard
        FROM cand JOIN sets sa ON sa.doc_id = a_id JOIN sets sb ON sb.doc_id = b_id
        WHERE round(len(list_intersect(sa.hs, sb.hs))::DOUBLE /
          len(list_distinct(list_concat(sa.hs, sb.hs))), 6) >= 0.2)"""
  }

  private lazy val minhashPairsCte: String = minhashPairsCteFrom("documents")

  private val ddMinhash = Q(
    (s, dir) => {
      import s.implicits._
      minhashPairs(s, dir).orderBy($"a_id", $"b_id")
    },
    Some(s"WITH $minhashPairsCte\n      SELECT a_id, b_id, jaccard FROM pairs ORDER BY a_id, b_id"))

  /** PER-SOURCE length/token report — the remaining dataset-card table:
    * document and token counts plus char/token percentiles per source
    * (the distribution a curator checks before setting packing budgets
    * and length filters). Percentile parity rides the [[q19]] recipe
    * (linear-interpolation quantiles, round-4 on both engines). */
  private val cpLengthReport = Q(
    (s, dir) => {
      import s.implicits._
      Tables.documents(s, dir)
        .select($"source", $"n_chars",
          size(TF.tokens($"text")).cast("long").as("n_tokens"))
        .groupBy($"source")
        .agg(count(lit(1)).as("n_docs"),
          sum($"n_tokens").as("total_tokens"),
          round(expr("percentile(n_chars, 0.5)"), 4).as("p50_chars"),
          round(expr("percentile(n_chars, 0.9)"), 4).as("p90_chars"),
          round(expr("percentile(n_tokens, 0.5)"), 4).as("p50_tokens"),
          max($"n_tokens").as("max_tokens"))
        .orderBy($"source")
    },
    Some("""WITH tk AS (SELECT source, n_chars,
        len(CASE WHEN len(trim(text)) = 0 THEN []::VARCHAR[]
          ELSE regexp_split_to_array(trim(text), '\s+') END)::BIGINT AS n_tokens
      FROM documents)
      SELECT source, count(*)::BIGINT AS n_docs,
        sum(n_tokens)::BIGINT AS total_tokens,
        round(quantile_cont(n_chars, 0.5), 4) AS p50_chars,
        round(quantile_cont(n_chars, 0.9), 4) AS p90_chars,
        round(quantile_cont(n_tokens, 0.5), 4) AS p50_tokens,
        max(n_tokens)::BIGINT AS max_tokens
      FROM tk GROUP BY source ORDER BY source"""))

  /** CROSS-SOURCE duplication report — the dataset-card table next to
    * [[cpMixReport]]: near-dup pairs grouped by the UNORDERED source
    * pair, with the pair count and how many distinct documents on each
    * side participate. `source_a <= source_b` canonically (pairs carry
    * `a_id < b_id`, which says nothing about sources), so one row per
    * source pair. The diagonal rows are within-source duplication;
    * off-diagonal rows quantify cross-source contamination — the number
    * a curator reads before deciding which source to drop duplicates
    * FROM. Counts only — engine-exact by construction. */
  private val ddCrossReport = Q(
    (s, dir) => {
      import s.implicits._
      val docs = Tables.documents(s, dir).select($"doc_id", $"source")
      val p = minhashPairs(s, dir)
        .join(docs.select($"doc_id".as("a_id"), $"source".as("_sa")), "a_id")
        .join(docs.select($"doc_id".as("b_id"), $"source".as("_sb")), "b_id")
        .select($"a_id", $"b_id",
          least($"_sa", $"_sb").as("source_a"),
          greatest($"_sa", $"_sb").as("source_b"),
          // the doc on the source_a side of the canonical pair
          when($"_sa" <= $"_sb", $"a_id").otherwise($"b_id").as("_da"),
          when($"_sa" <= $"_sb", $"b_id").otherwise($"a_id").as("_db"))
      p.groupBy($"source_a", $"source_b")
        .agg(count(lit(1)).as("n_pairs"),
          countDistinct($"_da").as("n_docs_a"),
          countDistinct($"_db").as("n_docs_b"))
        .orderBy($"source_a", $"source_b")
    },
    Some(s"""WITH $minhashPairsCte,
      src AS (SELECT doc_id, source FROM documents),
      lab AS (SELECT p.a_id, p.b_id, sa.source AS _sa, sb.source AS _sb
        FROM pairs p JOIN src sa ON sa.doc_id = p.a_id
        JOIN src sb ON sb.doc_id = p.b_id),
      canon AS (SELECT
          least(_sa, _sb) AS source_a, greatest(_sa, _sb) AS source_b,
          CASE WHEN _sa <= _sb THEN a_id ELSE b_id END AS _da,
          CASE WHEN _sa <= _sb THEN b_id ELSE a_id END AS _db
        FROM lab)
      SELECT source_a, source_b, count(*)::BIGINT AS n_pairs,
        count(DISTINCT _da)::BIGINT AS n_docs_a,
        count(DISTINCT _db)::BIGINT AS n_docs_b
      FROM canon GROUP BY source_a, source_b
      ORDER BY source_a, source_b"""))

  /** Exact n-gram Jaccard pairs via inverted-index candidates — the
    * no-signature member of the dedup family: candidates share a shingle
    * (necessary for jaccard > 0), stop-shingles past the posting cap are
    * excluded from candidate generation (deterministic rule, mirrored
    * below) but kept in the verify sets. See
    * [[graft.operators.NearDup.ngramJaccardPairs]]. */
  private val ddNgramJaccard = Q(
    (s, dir) => {
      import s.implicits._
      graft.operators.NearDup.ngramJaccardPairs(Tables.documents(s, dir))
        .orderBy($"a_id", $"b_id")
    },
    Some(s"""WITH $shingleHvCte,
      dfreq AS (SELECT h, count(*) AS df FROM hv GROUP BY h),
      posts AS (SELECT hv.doc_id, hv.h FROM hv
        JOIN dfreq USING (h) WHERE df <= 1000),
      cand AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
        FROM posts a JOIN posts b ON a.h = b.h AND a.doc_id < b.doc_id),
      sets AS (SELECT doc_id, list(DISTINCT h) AS hs FROM hv GROUP BY doc_id)
      SELECT a_id, b_id,
        round(len(list_intersect(sa.hs, sb.hs))::DOUBLE /
          len(list_distinct(list_concat(sa.hs, sb.hs))), 6) AS jaccard
      FROM cand JOIN sets sa ON sa.doc_id = a_id
        JOIN sets sb ON sb.doc_id = b_id
      WHERE round(len(list_intersect(sa.hs, sb.hs))::DOUBLE /
        len(list_distinct(list_concat(sa.hs, sb.hs))), 6) >= 0.2
      ORDER BY a_id, b_id"""))

  /** N-gram NOVELTY against a reference corpus
    * ([[graft.operators.NearDup.noveltyScores]]) — each target document
    * scored by the fraction of its distinct 3-gram hashes absent from
    * the reference slice (doc_id % 3 = 0, the [[ddRefDedup]] split).
    * Integer micro-unit ratio (the pageRank discipline), null for
    * gram-less documents; the oracle rebuilds both gram sets from the
    * shared shingle CTE and replays the long arithmetic. */
  private val ddNovelty = Q(
    (s, dir) => {
      import s.implicits._
      val docs = Tables.documents(s, dir)
      graft.operators.NearDup.noveltyScores(
          docs.filter($"doc_id" % 3 =!= 0), docs.filter($"doc_id" % 3 === 0))
        .orderBy($"doc_id")
    },
    Some(s"""WITH ${shingleHvCteFrom("documents")},
      ref AS (SELECT DISTINCT h FROM hv WHERE doc_id % 3 = 0),
      tgt AS (SELECT doc_id, h FROM hv WHERE doc_id % 3 <> 0),
      sc AS (SELECT t.doc_id, count(*) AS n_grams,
          sum(CASE WHEN r.h IS NULL THEN 1 ELSE 0 END) AS n_novel
        FROM tgt t LEFT JOIN ref r ON r.h = t.h GROUP BY t.doc_id)
      SELECT b.doc_id,
        coalesce(sc.n_grams, 0)::BIGINT AS n_grams,
        coalesce(sc.n_novel, 0)::BIGINT AS n_novel,
        (CASE WHEN coalesce(sc.n_grams, 0) = 0 THEN NULL
          ELSE (2000000 * sc.n_novel + sc.n_grams) // (2 * sc.n_grams)
          END)::BIGINT AS novelty_micro
      FROM (SELECT doc_id FROM documents WHERE doc_id % 3 <> 0) b
      LEFT JOIN sc USING (doc_id) ORDER BY doc_id"""))

  /** STREAMING novelty — the daily-crawl scoring flow: incoming documents
    * arrive as a stream, each micro-batch scored inside `foreachBatch` by
    * [[graft.operators.NearDup.noveltyAgainstStored]] against a gram
    * store built once from the reference slice (the
    * `writeReferenceSignatures` lake — only its `hashes` table is read).
    * Per-document scores depend only on the document's own grams plus the
    * static store, so micro-batch boundaries cannot change any value:
    * the streamed result is hash-identical to batch [[ddNovelty]] and
    * shares its oracle (stream/batch parity, the [[stDedup]] discipline). */
  private val stNovelty = Q(
    (s, dir) => {
      val ss = s.newSession()
      ss.conf.set("spark.sql.shuffle.partitions", "8")
      import ss.implicits._
      val docsRaw = ss.read.parquet(s"$dir/documents.parquet")
      val sig = scratchDir("graft_nov_sig").toString
      graft.operators.NearDup.writeReferenceSignatures(
        docsRaw.filter($"doc_id" % 3 === 0), sig)
      val out = scratchDir("graft_nov_out").toString
      val stream = Tables
        .streamTable(ss, dir, "documents.parquet", docsRaw.schema)
        .filter($"doc_id" % 3 =!= 0)
      val q = stream.writeStream
        .option("checkpointLocation", graft.streaming.StreamingPipelines
          .scratchCheckpoint(ss, s"st_novelty_${System.nanoTime()}"))
        .outputMode(org.apache.spark.sql.streaming.OutputMode.Append())
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          graft.operators.NearDup.noveltyAgainstStored(b, sig)
            .write.mode("append").parquet(out)
        }.start()
      q.awaitTermination()
      ss.read.parquet(out).orderBy($"doc_id")
    },
    Some(s"""WITH ${shingleHvCteFrom("documents")},
      ref AS (SELECT DISTINCT h FROM hv WHERE doc_id % 3 = 0),
      tgt AS (SELECT doc_id, h FROM hv WHERE doc_id % 3 <> 0),
      sc AS (SELECT t.doc_id, count(*) AS n_grams,
          sum(CASE WHEN r.h IS NULL THEN 1 ELSE 0 END) AS n_novel
        FROM tgt t LEFT JOIN ref r ON r.h = t.h GROUP BY t.doc_id)
      SELECT b.doc_id,
        coalesce(sc.n_grams, 0)::BIGINT AS n_grams,
        coalesce(sc.n_novel, 0)::BIGINT AS n_novel,
        (CASE WHEN coalesce(sc.n_grams, 0) = 0 THEN NULL
          ELSE (2000000 * sc.n_novel + sc.n_grams) // (2 * sc.n_grams)
          END)::BIGINT AS novelty_micro
      FROM (SELECT doc_id FROM documents WHERE doc_id % 3 <> 0) b
      LEFT JOIN sc USING (doc_id) ORDER BY doc_id"""))

  /** Directed n-gram CONTAINMENT
    * ([[graft.operators.NearDup.ngramContainmentPairs]]) — the asymmetric
    * near-dup signal: `|A∩B|/|A|` per direction, catching excerpts and
    * quotes whose symmetric Jaccard is tiny. Same inverted-index
    * candidates as dd_ngram_jaccard; the oracle re-derives both directed
    * scores from the exact shingle sets. */
  private val ddContainment = Q(
    (s, dir) => {
      import s.implicits._
      graft.operators.NearDup.ngramContainmentPairs(
          Tables.documents(s, dir), threshold = 0.5)
        .orderBy($"src_id", $"dst_id")
    },
    Some(s"""WITH $shingleHvCte,
      dfreq AS (SELECT h, count(*) AS df FROM hv GROUP BY h),
      posts AS (SELECT hv.doc_id, hv.h FROM hv
        JOIN dfreq USING (h) WHERE df <= 1000),
      cand AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
        FROM posts a JOIN posts b ON a.h = b.h AND a.doc_id < b.doc_id),
      sets AS (SELECT doc_id, list(DISTINCT h) AS hs FROM hv GROUP BY doc_id),
      scored AS (
        SELECT a_id, b_id,
          len(list_intersect(sa.hs, sb.hs)) AS inter,
          len(sa.hs) AS na, len(sb.hs) AS nb
        FROM cand JOIN sets sa ON sa.doc_id = a_id
          JOIN sets sb ON sb.doc_id = b_id),
      directed AS (
        SELECT a_id AS src_id, b_id AS dst_id,
          round(inter::DOUBLE / na, 6) AS containment FROM scored
        UNION ALL
        SELECT b_id, a_id, round(inter::DOUBLE / nb, 6) FROM scored)
      SELECT src_id, dst_id, containment FROM directed
      WHERE containment >= 0.5 ORDER BY src_id, dst_id"""))

  /** Corpus-level near-dup DEDUP — the user-facing end of the pipeline:
    * documents in, one survivor per near-dup cluster out. MinHash pairs →
    * connected components ([[graft.operators.Clustering]]) → survivor =
    * min doc_id per cluster, with the merged-count per survivor. Exact
    * duplicates land in the same cluster for free (jaccard 1). */
  private val ddDedupCorpus = Q(
    (s, dir) => {
      import s.implicits._
      graft.operators.NearDup.survivors(Tables.documents(s, dir))
        .orderBy($"doc_id")
    },
    Some(s"""WITH RECURSIVE $minhashPairsCte,
      edges AS (SELECT a_id AS s, b_id AS d FROM pairs
        UNION ALL SELECT b_id, a_id FROM pairs),
      reach(id, r) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT reach.id, edges.d FROM reach JOIN edges ON reach.r = edges.s),
      comp AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id)
      SELECT cluster_id AS doc_id, count(*) AS n_merged FROM comp
      GROUP BY cluster_id ORDER BY doc_id"""))

  /** QUALITY-AWARE cluster representatives
    * ([[graft.operators.Clustering.representatives]]): same MinHash
    * clusters as `dd_dedup_corpus`, but each cluster keeps its
    * HIGHEST-QUALITY member (the `ta_quality` score, round(6) BEFORE the
    * ordering so both engines rank identical values; ties broken by
    * ascending id) — "keep the best copy", not "keep the first crawled".
    * The oracle composes the minhash-pair CTE, the recursive-CTE
    * components, and the quality formula, then replays the same
    * (score desc, id) argmax. */
  private val ddClusterBest = Q(
    (s, dir) => {
      import s.implicits._
      val docs = Tables.documents(s, dir)
      val members = graft.operators.Clustering.connectedComponents(
        docs.select($"doc_id".as("id")),
        minhashPairs(s, dir).select($"a_id", $"b_id"))
      val quality = docs.select($"doc_id".as("id"),
        round(TF.qualityFeatures($"text").getField("quality_score"), 6).as("q"))
      graft.operators.Clustering.representatives(members, quality,
          idCol = "id", scoreCol = "q")
        .orderBy($"cluster_id")
    },
    Some(s"""WITH RECURSIVE $minhashPairsCte,
      edges AS (SELECT a_id AS s, b_id AS d FROM pairs
        UNION ALL SELECT b_id, a_id FROM pairs),
      reach(id, r) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT reach.id, edges.d FROM reach JOIN edges ON reach.r = edges.s),
      comp AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id),
      qt0 AS (
        SELECT doc_id,
          CASE WHEN len(trim(text)) = 0 THEN []::VARCHAR[]
            ELSE regexp_split_to_array(trim(text), '\\s+') END AS ts,
          length(text)::DOUBLE AS nc,
          length(regexp_replace(text, '[^!-/:-@\\[-`{-~]', '', 'g'))::DOUBLE AS punct,
          length(regexp_replace(text, '[^0-9]', '', 'g'))::DOUBLE AS digits,
          length(regexp_replace(text, '[^ \\t\\n]', '', 'g'))::DOUBLE AS spaces
        FROM documents),
      qt1 AS (
        SELECT doc_id,
          (nc - spaces) / greatest(len(ts)::DOUBLE, 1.0) AS mtl,
          punct / greatest(nc, 1.0) AS pr,
          digits / greatest(nc, 1.0) AS dr,
          len(list_filter(ts, x -> list_contains(
            ['the','a','of','and','to','in','is','it','that','for'], lower(x))))::DOUBLE
            / greatest(len(ts)::DOUBLE, 1.0) AS sr
        FROM qt0),
      qt AS (
        SELECT doc_id, round(greatest(0.0, least(1.0,
          0.5 * least(sr * 4, 1.0) +
          0.3 * (CASE WHEN mtl BETWEEN 3.0 AND 10.0 THEN 1.0 ELSE 0.0 END) +
          0.2 * (1.0 - least((pr + dr) * 5, 1.0)))), 6) AS q
        FROM qt1)
      SELECT cluster_id, rep_id, rep_score, n_members FROM (
        SELECT c.cluster_id, c.id AS rep_id, q.q AS rep_score,
          count(*) OVER (PARTITION BY c.cluster_id) AS n_members,
          row_number() OVER (PARTITION BY c.cluster_id
            ORDER BY q.q DESC, c.id) AS rn
        FROM comp c JOIN qt q ON q.doc_id = c.id)
      WHERE rn = 1 ORDER BY cluster_id"""))

  /** Incremental dedup against a REFERENCE corpus — the daily-crawl
    * workflow: reference = doc_id % 3 = 0, incoming = the rest; incoming
    * docs that exact- or near-dup any reference doc are dropped. The
    * oracle reuses the all-pairs minhash CTE restricted to MIXED pairs
    * (one side reference), plus the exact-md5 guard. See
    * [[graft.operators.NearDup.dedupAgainstReference]]. */
  private lazy val refDedupOracleSql = s"""WITH $minhashPairsCte,
      exact AS (
        SELECT DISTINCT i.doc_id FROM documents i JOIN documents r
          ON i.doc_id % 3 <> 0 AND r.doc_id % 3 = 0
          AND md5(i.text) = md5(r.text)),
      near AS (
        SELECT CASE WHEN a_id % 3 = 0 THEN b_id ELSE a_id END AS doc_id
        FROM pairs WHERE (a_id % 3 = 0) <> (b_id % 3 = 0)),
      dropped AS (SELECT doc_id FROM exact UNION SELECT doc_id FROM near)
      SELECT doc_id FROM documents
      WHERE doc_id % 3 <> 0 AND doc_id NOT IN (SELECT doc_id FROM dropped)
      ORDER BY doc_id"""

  private val ddRefDedup = Q(
    (s, dir) => {
      import s.implicits._
      val docs = Tables.documents(s, dir)
      graft.operators.NearDup.dedupAgainstReference(
          docs.filter($"doc_id" % 3 === 0), docs.filter($"doc_id" % 3 =!= 0))
        .orderBy($"doc_id")
    },
    Some(refDedupOracleSql))

  /** [[ddRefDedup]] served from the v2 SIGNATURE INDEX
    * ([[graft.operators.NearDup.writeSignatureIndex]] /
    * [[graft.operators.NearDup.dedupAgainstIndex]]): the store is built
    * once from the reference slice, then the incoming slice probes it —
    * identical survivors to the inline pass (same oracle), but the probe
    * plan reads the three signature tables partition-pruned and pays no
    * corpus-scale aggregate (the `collect_set` the v1 store re-ran per
    * batch is paid at build). */
  /** The base signature-index store (reference = `doc_id % 3 = 0` at
    * default params), built ONCE per (JVM, sf-dir) and shared by the two
    * index queries: `dd_dedup_index` probes it read-only, and
    * `dd_dedup_index_absorb` file-copies it before mutating. Staging the
    * build out of the query bodies makes the bench lines price what
    * their names say — SERVING (probe / absorb+probe), with the build
    * priced once by the split harness's `dd_index_build` — instead of
    * paying a third store rebuild inside every timed sample. Results are
    * build-count-invariant (the store is a pure function of the
    * reference slice and params), so Verify sees identical survivors. */
  private val sigIdxBase =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def sigIdxBaseFor(s: SparkSession, dir: String): String =
    sigIdxBase.computeIfAbsent(dir, _ => {
      import s.implicits._
      val idx = scratchDir("graft_sigidx_base").toString
      graft.operators.NearDup.writeSignatureIndex(
        Tables.documents(s, dir).filter($"doc_id" % 3 === 0), idx)
      idx
    })
  private def copyTree(src: java.nio.file.Path,
                       dst: java.nio.file.Path): Unit = {
    import scala.jdk.CollectionConverters._
    val walk = java.nio.file.Files.walk(src)
    try walk.iterator().asScala.foreach { p =>
      val t = dst.resolve(src.relativize(p))
      if (java.nio.file.Files.isDirectory(p))
        java.nio.file.Files.createDirectories(t)
      else java.nio.file.Files.copy(p, t,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    } finally walk.close()
    ()
  }

  private val ddIndexDedup = Q(
    (s, dir) => {
      import s.implicits._
      val docs = Tables.documents(s, dir)
      val idx = sigIdxBaseFor(s, dir)
      graft.operators.NearDup.dedupAgainstIndex(
          docs.filter($"doc_id" % 3 =!= 0), idx)
        .orderBy($"doc_id")
    },
    Some(refDedupOracleSql))

  /** The signature index's DAILY LOOP end to end: build from the %3=0
    * slice, ABSORB the %3=1 slice ([[graft.operators.NearDup
    * .absorbIntoIndex]] — bloom merged, appends guarded by the pruned
    * exact anti-check), then probe the %3=2 slice against the grown
    * store. The oracle re-renders the reference side as %3 IN (0,1):
    * absorb keeps one representative per distinct new text, and dedup
    * decisions are invariant to which duplicate represents a text. */
  private val ddIndexAbsorb = Q(
    (s, dir) => {
      import s.implicits._
      val docs = Tables.documents(s, dir)
      // absorb MUTATES the store, so each run gets a fresh file-copy of
      // the staged base (a copy is store-sized I/O — cheap next to the
      // rebuild it replaces, and it keeps the base pristine for
      // dd_dedup_index and for repeat bench samples)
      val base = sigIdxBaseFor(s, dir)
      val idx = scratchDir("graft_sigidx_abs")
      copyTree(java.nio.file.Paths.get(base), idx)
      graft.operators.NearDup.absorbIntoIndex(
        docs.filter($"doc_id" % 3 === 1), idx.toString)
      graft.operators.NearDup.dedupAgainstIndex(
          docs.filter($"doc_id" % 3 === 2), idx.toString)
        .orderBy($"doc_id")
    },
    Some(s"""WITH $minhashPairsCte,
      exact AS (
        SELECT DISTINCT i.doc_id FROM documents i JOIN documents r
          ON i.doc_id % 3 = 2 AND r.doc_id % 3 <> 2
          AND md5(i.text) = md5(r.text)),
      near AS (
        SELECT CASE WHEN a_id % 3 = 2 THEN a_id ELSE b_id END AS doc_id
        FROM pairs WHERE (a_id % 3 = 2) <> (b_id % 3 = 2)),
      dropped AS (SELECT doc_id FROM exact UNION SELECT doc_id FROM near)
      SELECT doc_id FROM documents
      WHERE doc_id % 3 = 2 AND doc_id NOT IN (SELECT doc_id FROM dropped)
      ORDER BY doc_id"""))

  /** The daily loop WITH the maintenance pass: build (staged) + absorb
    * the %3=1 slice, then [[graft.operators.NearDup
    * .compactSignatureIndex]] at the tightest threshold (every touched
    * bucket rewritten to one sorted file), then probe the %3=2 slice.
    * Same oracle as [[ddIndexAbsorb]] BY DESIGN: compaction's contract
    * is answer-invariance — any row lost (a swap deleting before its
    * replacement lands) or duplicated into a semantic difference would
    * hash-mismatch here, making the maintenance pass part of the
    * driver-verified surface rather than a spec-only claim. */
  private val ddIndexCompact = Q(
    (s, dir) => {
      import s.implicits._
      val docs = Tables.documents(s, dir)
      val base = sigIdxBaseFor(s, dir)
      val idx = scratchDir("graft_sigidx_cmp")
      copyTree(java.nio.file.Paths.get(base), idx)
      graft.operators.NearDup.absorbIntoIndex(
        docs.filter($"doc_id" % 3 === 1), idx.toString)
      graft.operators.NearDup.compactSignatureIndex(s, idx.toString,
        maxFilesPerBucket = 1)
      graft.operators.NearDup.dedupAgainstIndex(
          docs.filter($"doc_id" % 3 === 2), idx.toString)
        .orderBy($"doc_id")
    },
    Some(s"""WITH $minhashPairsCte,
      exact AS (
        SELECT DISTINCT i.doc_id FROM documents i JOIN documents r
          ON i.doc_id % 3 = 2 AND r.doc_id % 3 <> 2
          AND md5(i.text) = md5(r.text)),
      near AS (
        SELECT CASE WHEN a_id % 3 = 2 THEN a_id ELSE b_id END AS doc_id
        FROM pairs WHERE (a_id % 3 = 2) <> (b_id % 3 = 2)),
      dropped AS (SELECT doc_id FROM exact UNION SELECT doc_id FROM near)
      SELECT doc_id FROM documents
      WHERE doc_id % 3 = 2 AND doc_id NOT IN (SELECT doc_id FROM dropped)
      ORDER BY doc_id"""))

  /** PageRank centrality over the near-dup pair graph
    * ([[graft.operators.Clustering.pageRank]]) — duplication-centrality
    * as a quality signal. 5 power iterations replayed by the oracle as an
    * unrolled CTE chain (the GD-training discipline applied to graph
    * iteration). The whole iteration is integer MICRO-unit arithmetic
    * (rank × 10⁶ as LONG; round-half-up of a/b is `(2a+b) // (2b)`) so
    * both engines evaluate bit-identical longs — no double or decimal
    * rounding path exists on either side. The COMPARED frame is the raw
    * `rank_micro` BIGINT itself — no decimal column crosses the engine
    * boundary at all (r10/r11 driver runs hash-mismatched on a
    * locally-identical DECIMAL(18,6) projection; a BIGINT has exactly
    * one representation in parquet and in every SQL engine, so the
    * comparison is now representation-proof). The decimal convenience
    * projection remains available via
    * [[graft.operators.Clustering.pageRank]]. */
  private val ddPageRank = Q(
    (s, dir) => {
      import s.implicits._
      val docs = Tables.documents(s, dir)
      val pairs = graft.operators.NearDup.pairs(docs)
      graft.operators.Clustering.pageRankMicro(
          docs.select($"doc_id".as("id")), pairs.select($"a_id", $"b_id"),
          iters = 5)
        .select($"id".as("doc_id"), $"rank_micro")
        .orderBy($"doc_id")
    },
    Some {
      val chain = (1 to 5).map { i =>
        s"""pr$i AS (
        SELECT d.doc_id AS id,
          (SELECT b FROM basec) +
            (850000 * coalesce(fl$i.inflow, 0) + 500000) // 1000000
            AS rank_micro
        FROM documents d LEFT JOIN (
          SELECT dir.dst AS id,
            sum((2 * p.rank_micro + deg.deg) // (2 * deg.deg)) AS inflow
          FROM dir JOIN pr${i - 1} p ON p.id = dir.src
          JOIN deg ON deg.src = dir.src
          GROUP BY dir.dst) fl$i ON fl$i.id = d.doc_id)"""
      }.mkString(",\n      ")
      s"""WITH $minhashPairsCte,
      und AS (SELECT DISTINCT least(a_id, b_id) AS lo, greatest(a_id, b_id) AS hi
        FROM pairs WHERE a_id <> b_id),
      dir AS (SELECT lo AS src, hi AS dst FROM und
        UNION ALL SELECT hi, lo FROM und),
      deg AS (SELECT src, count(*) AS deg FROM dir GROUP BY src),
      nn AS (SELECT count(*) AS n FROM documents),
      basec AS (SELECT (2 * 150000 + n) // (2 * n) AS b FROM nn),
      pr0 AS (SELECT doc_id AS id,
        (2 * 1000000 + (SELECT n FROM nn)) // (2 * (SELECT n FROM nn))
          AS rank_micro
        FROM documents),
      $chain
      SELECT id AS doc_id, rank_micro::BIGINT AS rank_micro
      FROM pr5 ORDER BY doc_id"""
    })

  /** CTE producing `sims(doc_id, simhash)` — shared by the signature dump
    * and the banded pair query. */
  private val simhashCte: String = """hs AS (
        SELECT doc_id, list_transform(
          CASE WHEN len(trim(text)) = 0 THEN []::VARCHAR[]
            ELSE regexp_split_to_array(trim(text), '\s+') END,
          t -> ('0x' || substr(md5(t), 1, 15))::BIGINT) AS h
        FROM documents),
      sims AS (
        SELECT doc_id, list_sum(list_transform(range(0, 60),
          j -> CASE WHEN 2 * len(list_filter(h, x -> (x >> j) & 1 = 1)) > len(h)
            THEN (1::BIGINT << j) ELSE 0 END))::BIGINT AS simhash
        FROM hs)"""

  private val ddSimhash = Q(
    (s, dir) => {
      import s.implicits._
      graft.operators.NearDup.simhashSignatures(Tables.documents(s, dir))
        .select($"doc_id", $"sh".as("simhash"))
        .orderBy($"doc_id")
    },
    Some(s"WITH $simhashCte SELECT doc_id, simhash FROM sims ORDER BY doc_id"))

  /** SimHash near-dup pairs — [[graft.operators.NearDup.simhashPairs]]:
    * identical signatures collapse to one representative FIRST, then the
    * 60-bit signature blocks by BAND PAIRS (6 bands × 10 bits, two
    * 3-cliques → 6 keys of 20 value bits — the clique covering leaves
    * some key's both bands untouched at hamming<=3, so the candidate set
    * stays pigeonhole-complete while a degenerate bucket needs a 20-bit
    * key collision of DISTINCT signatures), candidates through the
    * capped generator, members fanned back at the end. The ORACLE
    * enumerates candidates its own way (4 single 15-bit bands — also
    * complete at hamming<=3) and both sides land on the identical
    * verified pair set; the engine's blocking is free to differ because
    * completeness, not the candidate route, is what the result pins.
    * Mass-IDENTICAL signatures hit the pre-banding GROUP cap instead of
    * any bucket: within-group stars plus representative cross edges keep
    * the CLUSTERING answer exact (NearDupSpec pins this boundary) while
    * the pair LIST compresses, observed + logged. */
  private val ddSimhashPairs = Q(
    (s, dir) => {
      import s.implicits._
      graft.operators.NearDup.simhashPairs(Tables.documents(s, dir))
        .orderBy($"a_id", $"b_id")
    },
    Some(s"""WITH $simhashCte,
      bands AS (SELECT doc_id, simhash, unnest([0, 1, 2, 3]) AS b FROM sims),
      bv AS (SELECT doc_id, simhash,
          ((simhash >> (15 * b)) & 32767) + b * 32768 AS band FROM bands),
      cand AS (
        SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id,
          a.simhash AS sha, b.simhash AS shb
        FROM bv a JOIN bv b ON a.band = b.band AND a.doc_id < b.doc_id)
      SELECT a_id, b_id, CAST(bit_count(xor(sha, shb)) AS BIGINT) AS hamming
      FROM cand WHERE bit_count(xor(sha, shb)) <= 3
      ORDER BY a_id, b_id"""))

  private val ddEmbedCosine = Q(
    (s, dir) => {
      import s.implicits._
      // label blocking bounds the pair count; norms are computed once per
      // vector BEFORE the self-join (not once per pair), and the pair dot
      // is a single codegen'd expression. Blocks past the Blocking cap are
      // LSH-sub-bucketed so a hot label can't go quadratic at 100 TB (cap
      // never bites at test SF — results stay exactly the all-pairs ones).
      val e = Tables.embeddings(s, dir).select($"vec_id", $"label", $"embedding")
        .withColumn("nrm", VF.norm2($"embedding"))
      graft.operators.Blocking.boundedCosinePairs(e)
        .filter($"cosine" >= 0.35)
        .orderBy($"a_id", $"b_id")
    },
    Some("""SELECT a.vec_id AS a_id, b.vec_id AS b_id,
        round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) AS cosine
      FROM embeddings a JOIN embeddings b
        ON a.label = b.label AND a.vec_id < b.vec_id
      WHERE round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) >= 0.35
      ORDER BY a_id, b_id"""))

  private val annTopk = Q(
    (s, dir) => {
      import s.implicits._
      // brute-force baseline — see [[graft.operators.Ann.bruteForceTopK]]:
      // broadcast query set, one corpus scan, bounded-heap TopKPerKey
      graft.operators.Ann.bruteForceTopK(
          Tables.embeddings(s, dir).select($"vec_id", $"embedding"),
          $"vec_id" < 10, k = 5)
        .orderBy($"q_id", $"rk")
    },
    Some("""SELECT q_id, n_id, cosine, rk FROM (
        SELECT q.vec_id AS q_id, e.vec_id AS n_id,
          round(list_cosine_similarity(q.embedding::DOUBLE[], e.embedding::DOUBLE[]), 6) AS cosine,
          row_number() OVER (PARTITION BY q.vec_id
            ORDER BY round(list_cosine_similarity(q.embedding::DOUBLE[], e.embedding::DOUBLE[]), 6) DESC,
                     e.vec_id) AS rk
        FROM (SELECT * FROM embeddings WHERE vec_id < 10) q
        JOIN embeddings e ON e.vec_id != q.vec_id)
      WHERE rk <= 5 ORDER BY q_id, rk"""))

  /** LSH-bucketed ANN — the scale path: random-hyperplane bucket per vector,
    * candidates share a bucket. Verified in ScalaTest for recall against
    * [[annTopk]]; no SQL oracle (bucket hash not portably expressible at
    * acceptable oracle cost). */
  private val annLsh = Q(
    (s, dir) => {
      import s.implicits._
      graft.operators.Ann.lshTopK(
          Tables.embeddings(s, dir).select($"vec_id", $"embedding"),
          $"vec_id" < 10, k = 5)
        .orderBy($"q_id", $"rk")
    },
    // The bucket IS oracle-expressible: hyperplane signs derive from the
    // same md5Long60 parity as VectorFunctions.lshBucket, and the projection
    // is written as an explicit left-to-right ± chain, so DuckDB's double
    // accumulation order matches ArrayDotProduct's sequential loop
    // bit-for-bit (each term is ±emb[i], multiplication by ±1 is exact).
    Some {
      def proj(b: Int): String = (0 until 64).map { i =>
        val pos = (TF.md5Long60(s"${b}_$i") & 1L) == 0L
        if (i == 0) { if (pos) "emb[1]" else "(-emb[1])" }
        else s" ${if (pos) "+" else "-"} emb[${i + 1}]"
      }.mkString
      s"""WITH b AS (
        SELECT vec_id, embedding::DOUBLE[] AS emb,
            (CASE WHEN (${proj(0)}) >= 0 THEN 1 ELSE 0 END)
          + (CASE WHEN (${proj(1)}) >= 0 THEN 2 ELSE 0 END)
          + (CASE WHEN (${proj(2)}) >= 0 THEN 4 ELSE 0 END)
          + (CASE WHEN (${proj(3)}) >= 0 THEN 8 ELSE 0 END) AS bucket
        FROM embeddings),
      q AS (SELECT vec_id AS q_id, emb AS q_vec, bucket FROM b WHERE vec_id < 10),
      scored AS (
        SELECT q.q_id, e.vec_id AS n_id,
          round(list_cosine_similarity(q.q_vec, e.emb), 6) AS cosine
        FROM q JOIN b e USING (bucket) WHERE e.vec_id != q.q_id)
      SELECT q_id, n_id, cosine, rk FROM (
        SELECT q_id, n_id, cosine,
          row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, n_id) AS rk
        FROM scored)
      WHERE rk <= 5 ORDER BY q_id, rk"""
    })

  /** Multi-probe LSH ANN — [[annLsh]]'s recall problem fixed without a
    * second table: the query probes its own bucket plus every bucket one
    * sign-bit away, recovering neighbors that fell across a single
    * hyperplane. Oracle: identical bucket derivation, join condition
    * `hamming(bucket_a, bucket_q) <= 1` via bit_count(xor(...)). */
  private val annLshProbe = Q(
    (s, dir) => {
      import s.implicits._
      graft.operators.Ann.lshMultiProbeTopK(
          Tables.embeddings(s, dir).select($"vec_id", $"embedding"),
          $"vec_id" < 10, k = 5)
        .orderBy($"q_id", $"rk")
    },
    Some {
      def proj(b: Int): String = (0 until 64).map { i =>
        val pos = (TF.md5Long60(s"${b}_$i") & 1L) == 0L
        if (i == 0) { if (pos) "emb[1]" else "(-emb[1])" }
        else s" ${if (pos) "+" else "-"} emb[${i + 1}]"
      }.mkString
      s"""WITH b AS (
        SELECT vec_id, embedding::DOUBLE[] AS emb,
            (CASE WHEN (${proj(0)}) >= 0 THEN 1 ELSE 0 END)
          + (CASE WHEN (${proj(1)}) >= 0 THEN 2 ELSE 0 END)
          + (CASE WHEN (${proj(2)}) >= 0 THEN 4 ELSE 0 END)
          + (CASE WHEN (${proj(3)}) >= 0 THEN 8 ELSE 0 END) AS bucket
        FROM embeddings),
      q AS (SELECT vec_id AS q_id, emb AS q_vec, bucket FROM b WHERE vec_id < 10),
      scored AS (
        SELECT q.q_id, e.vec_id AS n_id,
          round(list_cosine_similarity(q.q_vec, e.emb), 6) AS cosine
        FROM q JOIN b e ON bit_count(xor(e.bucket::BIGINT, q.bucket::BIGINT)) <= 1
        WHERE e.vec_id != q.q_id)
      SELECT q_id, n_id, cosine, rk FROM (
        SELECT q_id, n_id, cosine,
          row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, n_id) AS rk
        FROM scored)
      WHERE rk <= 5 ORDER BY q_id, rk"""
    })

  /** Multi-table LSH ANN — the recall upgrade over [[annLsh]]: L
    * independent hyperplane tables; a pair is a candidate if ANY table
    * buckets them together (hit probability 1-(1-p^k)^L vs p^k for one
    * table). Candidates dedup to (q_id, n_id) long pairs BEFORE any vector
    * is touched, then scoring joins the vectors back (query side
    * broadcast) — at 100 TB the expensive arrays never ride the candidate
    * shuffle. Oracle: same md5-parity sign chains per (table, bit),
    * sequential ± sums matching ArrayDotProduct bit-for-bit. */
  private val annLshMulti = {
    val L = 4; val bits = 4; val dims = 64
    Q(
      (s, dir) => {
        import s.implicits._
        graft.operators.Ann.lshMultiTopK(
            Tables.embeddings(s, dir).select($"vec_id", $"embedding"),
            $"vec_id" < 10, k = 5, nBits = bits, dims = dims, tables = L)
          .select($"q_id", $"n_id", $"cosine", $"rk")
          .orderBy($"q_id", $"rk")
      },
      Some {
        def proj(seed: String, b: Int): String = (0 until dims).map { i =>
          val pos = (TF.md5Long60(s"${seed}_${b}_$i") & 1L) == 0L
          if (i == 0) { if (pos) "emb[1]" else "(-emb[1])" }
          else s" ${if (pos) "+" else "-"} emb[${i + 1}]"
        }.mkString
        def bucketExpr(seed: String): String = (0 until bits).map { b =>
          s"(CASE WHEN (${proj(seed, b)}) >= 0 THEN ${1 << b} ELSE 0 END)"
        }.mkString(" + ")
        val tableSelects = (0 until L).map { l =>
          s"SELECT vec_id, $l AS tbl, ${bucketExpr(s"t$l")} AS bucket FROM e"
        }.mkString("\n        UNION ALL ")
        s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
        b AS ($tableSelects),
        q AS (SELECT vec_id AS q_id, tbl, bucket FROM b WHERE vec_id < 10),
        cand AS (
          SELECT DISTINCT q.q_id, n.vec_id AS n_id
          FROM q JOIN b n USING (tbl, bucket) WHERE n.vec_id != q.q_id),
        scored AS (
          SELECT c.q_id, c.n_id,
            round(list_cosine_similarity(qe.emb, ne.emb), 6) AS cosine
          FROM cand c JOIN e qe ON qe.vec_id = c.q_id
                      JOIN e ne ON ne.vec_id = c.n_id)
        SELECT q_id, n_id, cosine, rk FROM (
          SELECT q_id, n_id, cosine,
            row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, n_id) AS rk
          FROM scored)
        WHERE rk <= 5 ORDER BY q_id, rk"""
      })
  }

  /** IVF ANN — the coarse-quantizer scale path (the other one the brief
    * names next to LSH): K centroids partition the corpus into cells once;
    * each query probes only its nProbe nearest cells, so query cost is
    * O(K + corpus/K · nProbe) instead of O(corpus).
    *
    * The quantizer is TRAINED — spherical k-means (Lloyd, seeded
    * hash-sample init, exact-DECIMAL centroid sums; see
    * [[graft.operators.Ann.trainCentroids]]) — and still fully
    * oracle-checkable: every training decision is deterministic and
    * engine-portable, so the oracle REPRODUCES THE TRAINING as an
    * unrolled CTE chain (one assign+update pair per Lloyd iteration)
    * before asking the trained index the same top-k question. Cell
    * assignment shuffles only (vec_id, cell, score) triples — embeddings
    * never ride the assignment shuffle; vectors join back by key
    * afterwards. Argmax decisions use round(6) + cell tiebreak so both
    * engines agree bit-for-bit.
    *
    * The oracle is shared by the in-memory (`ann_ivf_topk`) and on-disk
    * (`ann_ivf_disk`) variants — the disk index answers queries
    * identically, that being the point. K is pinned (=16) here for the
    * oracle; the operator API defaults to ~√n. */
  /** The k-means TRAINING itself as a reusable CTE chain (through the
    * final `rf` ranking and `assigned` cells) — shared by the IVF oracles
    * and the SemDeDup oracle. */
  private def ivfTrainingCtes(K: Int, iters: Int, seed: String): String = {
    val sb = new StringBuilder
    sb ++= s"""e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
      c0 AS (
        SELECT row_number() OVER (ORDER BY md5('${seed}_' || vec_id), vec_id) - 1 AS cell,
          emb AS c_vec
        FROM e ORDER BY md5('${seed}_' || vec_id), vec_id LIMIT $K),"""
    // zero-norm convention (same as the SemDeDup pair stage below): the
    // engine DEFINES cosine with a zero vector as 0; DuckDB yields NaN,
    // which ORDER BY cscore DESC ranks first — unmapped, a zero-norm
    // embedding or collapsed centroid would flip cell assignments
    for (i <- 1 to iters) sb ++= s"""
      s$i AS (SELECT vec_id, cell,
          round(CASE WHEN isnan(cs) THEN 0.0 ELSE cs END, 6) AS cscore
        FROM (SELECT e.vec_id, c.cell,
            list_cosine_similarity(e.emb, c.c_vec) AS cs
          FROM e CROSS JOIN c${i - 1} c)),
      a$i AS (SELECT vec_id, cell FROM (
          SELECT vec_id, cell,
            row_number() OVER (PARTITION BY vec_id ORDER BY cscore DESC, cell) AS rk
          FROM s$i) WHERE rk = 1),
      n$i AS (SELECT cell, list(s ORDER BY dim) AS c_vec FROM (
          SELECT a.cell AS cell, u.dim AS dim,
            CAST(SUM(CAST(u.val AS DECIMAL(38,12))) AS DOUBLE) AS s
          FROM a$i a JOIN e ON e.vec_id = a.vec_id,
            LATERAL (SELECT UNNEST(e.emb) AS val, generate_subscripts(e.emb, 1) AS dim) u
          GROUP BY a.cell, u.dim) GROUP BY cell),
      c$i AS (SELECT p.cell, coalesce(n.c_vec, p.c_vec) AS c_vec
        FROM c${i - 1} p LEFT JOIN n$i n USING (cell)),"""
    sb ++= s"""
      sf AS (SELECT vec_id, cell,
          round(CASE WHEN isnan(cs) THEN 0.0 ELSE cs END, 6) AS cscore
        FROM (SELECT e.vec_id, c.cell,
            list_cosine_similarity(e.emb, c.c_vec) AS cs
          FROM e CROSS JOIN c$iters c)),
      rf AS (SELECT vec_id, cell,
          row_number() OVER (PARTITION BY vec_id ORDER BY cscore DESC, cell) AS crk
        FROM sf),
      assigned AS (SELECT r.vec_id, r.cell, e.emb FROM rf r
        JOIN e ON e.vec_id = r.vec_id WHERE r.crk = 1)"""
    sb.result()
  }

  private lazy val ivfOracleSql: String = {
    val K = 16; val iters = 5; val nProbe = 2; val seed = "ivf"
    s"""WITH ${ivfTrainingCtes(K, iters, seed)},
      qprobe AS (SELECT r.vec_id AS q_id, r.cell, e.emb AS q_vec FROM rf r
        JOIN e ON e.vec_id = r.vec_id WHERE r.vec_id < 10 AND r.crk <= $nProbe),
      cand AS (SELECT q_id, n_id,
          round(CASE WHEN isnan(cs) THEN 0.0 ELSE cs END, 6) AS cosine
        FROM (SELECT q.q_id, a.vec_id AS n_id,
            list_cosine_similarity(q.q_vec, a.emb) AS cs
          FROM qprobe q JOIN assigned a USING (cell)
          WHERE a.vec_id != q.q_id))
      SELECT q_id, n_id, cosine, rk FROM (
        SELECT q_id, n_id, cosine,
          row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, n_id) AS rk
        FROM cand)
      WHERE rk <= 5 ORDER BY q_id, rk"""
  }

  /** SemDeDup — semantic dedup inside TRAINED k-means cells
    * ([[graft.operators.Ann.semanticDedup]]): the oracle replays the
    * training (same CTE chain as the IVF oracles), generates within-cell
    * cosine pairs at the threshold, and resolves survivors through the
    * same recursive-CTE connected components as the text dedup oracles. */
  private val ddSemDedup = Q(
    (s, dir) => {
      import s.implicits._
      graft.operators.Ann.semanticDedup(
          Tables.embeddings(s, dir).select($"vec_id", $"embedding"),
          threshold = 0.35, kCentroids = 16, iters = 5, seed = "ivf")
        .orderBy($"vec_id")
    },
    Some(s"""WITH RECURSIVE ${ivfTrainingCtes(16, 5, "ivf")},
      prs AS (SELECT s, d FROM (
          SELECT a.vec_id AS s, b.vec_id AS d,
            list_cosine_similarity(a.emb, b.emb) AS cs
          FROM assigned a JOIN assigned b
            ON a.cell = b.cell AND a.vec_id < b.vec_id)
        -- zero-norm convention: the engine DEFINES cosine with a zero
        -- vector as 0 (never a merge); DuckDB yields NaN there, which it
        -- orders above every number — so NaN must map to 0 before the
        -- threshold or the engines disagree on zero-norm inputs
        WHERE round(CASE WHEN isnan(cs) THEN 0.0 ELSE cs END, 6) >= 0.35),
      edges AS (SELECT s, d FROM prs UNION ALL SELECT d, s FROM prs),
      reach(id, r) AS (
        SELECT vec_id, vec_id FROM assigned
        UNION
        SELECT reach.id, edges.d FROM reach JOIN edges ON reach.r = edges.s),
      comp AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id)
      SELECT cluster_id AS vec_id, count(*) AS n_merged
      FROM comp GROUP BY cluster_id ORDER BY vec_id"""))

  /** TWO-LEVEL SemDeDup ([[graft.operators.Ann.semanticDedupTwoLevel]] —
    * the O(n^{4/3}) batch posture): a coarse quantizer plus a fine
    * quantizer over the residuals x − c₁(x); dedup pairs block by the
    * (coarse, fine) COMPOSITE cell. The oracle captures BOTH trained
    * models and replays assignment level by level as injected literals —
    * coarse argmax, elementwise residual, fine argmax over residuals,
    * composite cell id — then the same within-cell pair generation and
    * recursive-CTE components as `dd_semdedup`. k₁ = k₂ = 8 pins the
    * cbrt-scale cell count at the gate corpus (cbrt(500) ≈ 8). */
  @volatile private var semDedupTwoCapture
      : Option[(Array[Array[Double]], Array[Array[Double]])] = scala.None
  private val ddSemDedupTwo = Q.dynamicOpt(
    (s, dir) => {
      import s.implicits._
      val e = Tables.embeddings(s, dir).select($"vec_id", $"embedding")
      val (c1, c2) = graft.operators.Ann.semanticDedupTwoLevelTrain(e,
        k1 = 8, k2 = 8, iters = 5, seed = "ivf")
      semDedupTwoCapture = Some((c1, c2))
      graft.operators.Ann.semanticDedupTwoLevelWith(e, c1, c2,
          threshold = 0.35)
        .orderBy($"vec_id")
    },
    () => semDedupTwoCapture.map { case (c1, c2) =>
      semDedupTwoInjectedOracle(c1, c2) })

  private def semDedupTwoInjectedOracle(c1: Array[Array[Double]],
                                        c2: Array[Array[Double]]): String = {
    val dims = c1(0).length
    def rows(cs: Array[Array[Double]]) = cs.zipWithIndex.map { case (v, i) =>
      s"($i, [${v.map(_.toString).mkString(", ")}]::DOUBLE[])"
    }.mkString(", ")
    s"""WITH RECURSIVE e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
      c1(cell, c_vec) AS (SELECT * FROM (VALUES ${rows(c1)}) v(cell, c_vec)),
      c2(cell, c_vec) AS (SELECT * FROM (VALUES ${rows(c2)}) v(cell, c_vec)),
      sf1 AS (SELECT vec_id, cell,
          round(CASE WHEN isnan(cs) THEN 0.0 ELSE cs END, 6) AS cscore
        FROM (SELECT e.vec_id, c.cell,
            list_cosine_similarity(e.emb, c.c_vec) AS cs
          FROM e CROSS JOIN c1 c)),
      a1 AS (SELECT vec_id, cell FROM (SELECT vec_id, cell,
          row_number() OVER (PARTITION BY vec_id
            ORDER BY cscore DESC, cell) AS crk
        FROM sf1) WHERE crk = 1),
      res AS (SELECT a.vec_id, a.cell,
          list_transform(range(1, ${dims + 1}),
            i -> e.emb[i] - c.c_vec[i]) AS rv
        FROM a1 a JOIN e ON e.vec_id = a.vec_id JOIN c1 c ON c.cell = a.cell),
      sf2 AS (SELECT vec_id, cell,
          round(CASE WHEN isnan(cs) THEN 0.0 ELSE cs END, 6) AS cscore
        FROM (SELECT r.vec_id, c.cell,
            list_cosine_similarity(r.rv, c.c_vec) AS cs
          FROM res r CROSS JOIN c2 c)),
      a2 AS (SELECT vec_id, cell FROM (SELECT vec_id, cell,
          row_number() OVER (PARTITION BY vec_id
            ORDER BY cscore DESC, cell) AS crk
        FROM sf2) WHERE crk = 1),
      assigned AS (SELECT a1.vec_id, a1.cell * ${c2.length} + a2.cell AS cell,
          e.emb
        FROM a1 JOIN a2 USING (vec_id) JOIN e USING (vec_id)),
      prs AS (SELECT s, d FROM (
          SELECT a.vec_id AS s, b.vec_id AS d,
            list_cosine_similarity(a.emb, b.emb) AS cs
          FROM assigned a JOIN assigned b
            ON a.cell = b.cell AND a.vec_id < b.vec_id)
        WHERE round(CASE WHEN isnan(cs) THEN 0.0 ELSE cs END, 6) >= 0.35),
      edges AS (SELECT s, d FROM prs UNION ALL SELECT d, s FROM prs),
      reach(id, r) AS (
        SELECT vec_id, vec_id FROM assigned
        UNION
        SELECT reach.id, edges.d FROM reach JOIN edges ON reach.r = edges.s),
      comp AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id)
      SELECT cluster_id AS vec_id, count(*) AS n_merged
      FROM comp GROUP BY cluster_id ORDER BY vec_id"""
  }

  private val annIvf = Q(
    (s, dir) => {
      import s.implicits._
      graft.operators.Ann.ivfTopKTrained(
          Tables.embeddings(s, dir).select($"vec_id", $"embedding"),
          isQuery = $"vec_id" < 10, k = 5, nProbe = 2,
          kCentroids = 16, iters = 5, seed = "ivf")
        .select($"q_id", $"n_id", $"cosine", $"rk")
        .orderBy($"q_id", $"rk")
    },
    Some(ivfOracleSql))

  /** Hybrid retrieval by Reciprocal Rank Fusion
    * ([[graft.operators.Ann.hybridRrfTopK]], Cormack et al. SIGIR 2009):
    * the exact cosine top-10 and the trained-IVF top-10 fuse by summing
    * integer-exact `round(10⁶/(60+rank))` contributions (pure long
    * arithmetic — the pageRank discipline, no double reaches the
    * comparison), re-ranked to a final top-5. The oracle replays BOTH
    * retrievers (the brute ranking inline, the IVF ranking through the
    * shared training CTEs), the full-outer fusion, and the integer RRF. */
  private val annHybridRrf = Q(
    (s, dir) => {
      import s.implicits._
      graft.operators.Ann.hybridRrfTopK(
          Tables.embeddings(s, dir).select($"vec_id", $"embedding"),
          isQuery = $"vec_id" < 10, k = 5)
        .select($"q_id", $"n_id", $"rrf_micro", $"rk")
        .orderBy($"q_id", $"rk")
    },
    Some(s"""WITH ${ivfTrainingCtes(16, 5, "ivf")},
      qprobe AS (SELECT r.vec_id AS q_id, r.cell, e.emb AS q_vec FROM rf r
        JOIN e ON e.vec_id = r.vec_id WHERE r.vec_id < 10 AND r.crk <= 2),
      icand AS (SELECT q_id, n_id,
          round(CASE WHEN isnan(cs) THEN 0.0 ELSE cs END, 6) AS cosine
        FROM (SELECT q.q_id, a.vec_id AS n_id,
            list_cosine_similarity(q.q_vec, a.emb) AS cs
          FROM qprobe q JOIN assigned a USING (cell)
          WHERE a.vec_id != q.q_id)),
      irank AS (SELECT q_id, n_id, rk FROM (
          SELECT q_id, n_id,
            row_number() OVER (PARTITION BY q_id
              ORDER BY cosine DESC, n_id) AS rk
          FROM icand) WHERE rk <= 10),
      erank AS (SELECT q_id, n_id, rk FROM (
          SELECT q.vec_id AS q_id, x.vec_id AS n_id,
            row_number() OVER (PARTITION BY q.vec_id
              ORDER BY round(list_cosine_similarity(
                q.embedding::DOUBLE[], x.embedding::DOUBLE[]), 6) DESC,
              x.vec_id) AS rk
          FROM (SELECT * FROM embeddings WHERE vec_id < 10) q
          JOIN embeddings x ON x.vec_id != q.vec_id) WHERE rk <= 10),
      fused AS (SELECT q_id, n_id,
          CAST(coalesce((2000000 + (60 + a.rk)) // (2 * (60 + a.rk)), 0) +
               coalesce((2000000 + (60 + b.rk)) // (2 * (60 + b.rk)), 0)
            AS BIGINT) AS rrf_micro
        FROM erank a FULL OUTER JOIN irank b USING (q_id, n_id))
      SELECT q_id, n_id, rrf_micro, rk FROM (
        SELECT q_id, n_id, rrf_micro,
          row_number() OVER (PARTITION BY q_id
            ORDER BY rrf_micro DESC, n_id) AS rk
        FROM fused)
      WHERE rk <= 5 ORDER BY q_id, rk"""))

  /** TOPIC-balanced corpus mixing — [[graft.operators.Ann.semanticTopics]]
    * (nearest trained-centroid cell per vector) composed with
    * [[graft.operators.Corpus.mixByThresholds]] temperature reweighting
    * (α = 0.5): over-represented topics down-sample toward balance, the
    * smallest topic anchors at keep-all. The cluster-then-reweight recipe
    * for mixture design when no domain label exists. The oracle replays
    * the ENTIRE k-means training (the shared IVF CTEs), the assignment,
    * and the integer-threshold keep decision; the pow-derived thresholds
    * are CAPTURED from the driver and injected as literals (the
    * [[cpMixTemperature]] discipline — two libraries' pow last-ulp on a
    * .5 boundary must not decide survival). */
  @volatile private var topicThrCapture: Option[Seq[(String, Long)]] = scala.None
  private def topicMixOracle: Option[String] = topicThrCapture.map { thr =>
    val rows = thr.sortBy(_._1.toLong).map { case (t, v) =>
      s"(${t}::BIGINT, ${v}::BIGINT)" }.mkString(", ")
    s"""WITH ${ivfTrainingCtes(16, 5, "ivf")},
      rates(topic, thr) AS (VALUES $rows)
      SELECT a.vec_id, a.cell::BIGINT AS topic FROM assigned a
      JOIN rates r ON r.topic = a.cell::BIGINT
      WHERE ('0x' || substr(md5(a.vec_id::VARCHAR), 1, 8))::BIGINT % 10000
        < r.thr
      ORDER BY a.vec_id"""
  }
  private val cpTopicMix = Q.dynamicOpt(
    (s, dir) => {
      import s.implicits._
      val e = Tables.embeddings(s, dir).select($"vec_id", $"embedding")
      val topics = graft.operators.Ann.semanticTopics(e, kCentroids = 16,
          iters = 5, seed = "ivf")
        .select($"vec_id", $"topic".cast("string").as("topic"))
      val thr = graft.operators.Corpus.temperatureThresholds(
        topics, alpha = 0.5, byCol = "topic")
      topicThrCapture = Some(thr)
      graft.operators.Corpus.mixByThresholds(topics, thr,
          byCol = "topic", idCol = "vec_id")
        .select($"vec_id", $"topic".cast("bigint").as("topic"))
        .orderBy($"vec_id")
    },
    () => topicMixOracle)

  /** IVF with the BALANCED quantizer ([[graft.operators.Ann
    * .trainCentroidsBalanced]]): trained cells, then hot cells (population
    * > factor·mean) split by seeded 2-means. The splits are data-dependent
    * driver state, so the oracle cannot replay them as fixed CTEs — the
    * FINAL centroids are captured when the query runs and injected as
    * DOUBLE[] literals (Verify dumps oracle_sql.json afterwards); the
    * oracle then replays assignment + probe + scoring only, through the
    * same round(6)/tiebreak pipeline as the plain-IVF oracle. factor=1.2
    * deliberately forces splits on the uniform corpus so the balanced path
    * (renumbered cells and all) is what gets verified. */
  @volatile private var balancedCentsCapture: Option[Array[Array[Double]]] = scala.None
  private def ivfBalancedOracle: Option[String] =
    balancedCentsCapture.map(centroidInjectedIvfOracle)

  /** The injected-centroid IVF oracle: FINAL centroids rendered as
    * DOUBLE[] literals (cell = array index), assignment + probe + scoring
    * replayed over the full embeddings table through the same
    * round(6)/tiebreak pipeline as the plain-IVF oracle. Shared by every
    * query whose centroids are data-dependent driver state the oracle
    * cannot re-derive as fixed CTEs (`ann_ivf_balanced`,
    * `ann_ivf_append`). */
  private def centroidInjectedIvfOracle(cents: Array[Array[Double]]): String = {
    val rows = cents.zipWithIndex.map { case (v, i) =>
      s"($i, [${v.map(_.toString).mkString(", ")}]::DOUBLE[])"
    }.mkString(", ")
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
      c(cell, c_vec) AS (SELECT * FROM (VALUES $rows) v(cell, c_vec)),
      sf AS (SELECT vec_id, cell,
          round(CASE WHEN isnan(cs) THEN 0.0 ELSE cs END, 6) AS cscore
        FROM (SELECT e.vec_id, c.cell,
            list_cosine_similarity(e.emb, c.c_vec) AS cs
          FROM e CROSS JOIN c)),
      rf AS (SELECT vec_id, cell,
          row_number() OVER (PARTITION BY vec_id ORDER BY cscore DESC, cell) AS crk
        FROM sf),
      assigned AS (SELECT r.vec_id, r.cell, e.emb FROM rf r
        JOIN e ON e.vec_id = r.vec_id WHERE r.crk = 1),
      qprobe AS (SELECT r.vec_id AS q_id, r.cell, e.emb AS q_vec FROM rf r
        JOIN e ON e.vec_id = r.vec_id WHERE r.vec_id < 10 AND r.crk <= 2),
      cand AS (SELECT q_id, n_id,
          round(CASE WHEN isnan(cs) THEN 0.0 ELSE cs END, 6) AS cosine
        FROM (SELECT q.q_id, a.vec_id AS n_id,
            list_cosine_similarity(q.q_vec, a.emb) AS cs
          FROM qprobe q JOIN assigned a USING (cell)
          WHERE a.vec_id != q.q_id))
      SELECT q_id, n_id, cosine, rk FROM (
        SELECT q_id, n_id, cosine,
          row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, n_id) AS rk
        FROM cand)
      WHERE rk <= 5 ORDER BY q_id, rk"""
  }
  /** kNN label propagation ([[graft.operators.Ann.knnClassify]]): each
    * query vector takes the majority label of its 10 exact nearest
    * neighbors; oracle replays the same round(6)/id-tiebreak top-k and
    * the same (count desc, label asc) vote resolution. */
  private val annKnnLabel = Q(
    (s, dir) => {
      import s.implicits._
      graft.operators.Ann.knnClassify(
          Tables.embeddings(s, dir).select($"vec_id", $"embedding", $"label"),
          isQuery = $"vec_id" < 50, k = 10)
        .orderBy($"q_id")
    },
    Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb, label
        FROM embeddings),
      q AS (SELECT vec_id AS q_id, emb AS q_vec FROM e WHERE vec_id < 50),
      scored AS (SELECT q.q_id, e.vec_id AS n_id, e.label,
          row_number() OVER (PARTITION BY q.q_id
            ORDER BY round(list_cosine_similarity(q.q_vec, e.emb), 6) DESC,
                     e.vec_id) AS rk
        FROM q JOIN e ON e.vec_id != q.q_id),
      votes AS (SELECT q_id, label, count(*) AS n FROM scored
        WHERE rk <= 10 GROUP BY q_id, label),
      best AS (SELECT q_id, label,
          row_number() OVER (PARTITION BY q_id ORDER BY n DESC, label) AS vr
        FROM votes)
      SELECT b.q_id, b.label AS pred_label, e.label AS true_label
      FROM best b JOIN e ON e.vec_id = b.q_id WHERE b.vr = 1
      ORDER BY b.q_id"""))

  private val annIvfBalanced = Q.dynamicOpt(
    (s, dir) => {
      import s.implicits._
      val e = Tables.embeddings(s, dir).select($"vec_id", $"embedding")
      val cents = graft.operators.Ann.trainCentroidsBalanced(e,
        kCentroids = 16, iters = 5, seed = "ivf",
        balanceFactor = 1.2, maxSplitRounds = 4)
      balancedCentsCapture = Some(cents)
      graft.operators.Ann.ivfTopKFromCentroids(e, $"vec_id" < 10, cents,
          k = 5, nProbe = 2)
        .select($"q_id", $"n_id", $"cosine", $"rk")
        .orderBy($"q_id", $"rk")
    },
    () => ivfBalancedOracle)

  /** IVF with the TRAINED index ON DISK — cells written
    * `partitionBy(cell)`, the probe filter becomes a partition prune
    * (only nProbe/K of the files are opened; see
    * [[graft.operators.Ann.ivfIndexWriteTrained]]). Same oracle as
    * `ann_ivf_topk`: the disk index must answer identically. */
  private val annIvfDisk = Q(
    (s, dir) => {
      import s.implicits._
      val e = Tables.embeddings(s, dir).select($"vec_id", $"embedding")
      val path = scratchDir("ivfidx").toString
      graft.operators.Ann.ivfIndexWriteTrained(e, path,
        kCentroids = 16, iters = 5, seed = "ivf")
      graft.operators.Ann.ivfIndexTopK(
          e.filter($"vec_id" < 10)
            .select($"vec_id", $"embedding".cast("array<double>").as("embedding")),
          path, k = 5, nProbe = 2)
        .select($"q_id", $"n_id", $"cosine", $"rk")
        .orderBy($"q_id", $"rk")
    },
    Some(ivfOracleSql))

  /** INCREMENTAL on-disk IVF ([[graft.operators.Ann.ivfIndexAppend]]) —
    * the daily-arrival loop: the index is TRAINED AND BUILT on the day-0
    * slice only (80%), then day-1 vectors (20%) are assigned against the
    * frozen read-back centroids and APPENDED into the cell partitions.
    * Queries over the result must answer exactly as an assignment of the
    * FULL corpus against those centroids — the oracle injects the
    * captured centroids and replays assignment over everything, so any
    * drift between build-time and append-time assignment (type, rounding,
    * tiebreak) is a hash mismatch. */
  // the ORACLE capture is deferred: the timed query body records only
  // (session, index path); the centroid read-back + collect — oracle
  // plumbing, not operator work — runs when the oracle thunk is first
  // rendered (Verify's oracle_sql.json dump), so the bench line prices
  // the build/append/query operator alone
  @volatile private var appendCentsSource: Option[(SparkSession, String)] =
    scala.None
  private val annIvfAppend = Q.dynamicOpt(
    (s, dir) => {
      import s.implicits._
      val e = Tables.embeddings(s, dir).select($"vec_id", $"embedding")
      val path = scratchDir("ivfapp").toString
      graft.operators.Ann.ivfIndexWriteTrained(e.filter($"vec_id" % 5 =!= 0),
        path, kCentroids = 16, iters = 5, seed = "ivf")
      graft.operators.Ann.ivfIndexAppend(e.filter($"vec_id" % 5 === 0), path)
      appendCentsSource = Some((s, path))
      graft.operators.Ann.ivfIndexTopK(
          e.filter($"vec_id" < 10)
            .select($"vec_id", $"embedding".cast("array<double>").as("embedding")),
          path, k = 5, nProbe = 2)
        .select($"q_id", $"n_id", $"cosine", $"rk")
        .orderBy($"q_id", $"rk")
    },
    () => appendCentsSource.map { case (s, path) =>
      centroidInjectedIvfOracle(s.read.parquet(s"$path/centroids")
        .orderBy(col("c_id")).collect()
        .map(_.getAs[scala.collection.Seq[Double]]("c_vec").toArray))
    })

  /** Int8 scalar-quantized ANN — the memory/bandwidth lever at 100 TB:
    * embeddings quantize to 8-bit codes plus one scale per vector (4x
    * smaller at rest and on the wire); search runs over the DEQUANTIZED
    * values so the scorer — and the oracle — is the plain cosine
    * machinery. Floor-based half-up rounding (`floor(x/scale + 0.5)`)
    * keeps the quantization bit-identical across engines (both engines'
    * `round` tie rules differ; floor does not). */
  private val annQuantized = Q(
    (s, dir) => {
      import s.implicits._
      val maxabs = array_max(transform($"embedding", x => abs(x.cast("double"))))
      val scale = maxabs / lit(127.0)
      val deq = when(maxabs === lit(0.0),
          transform($"embedding", _ => lit(0.0)))
        .otherwise(transform($"embedding",
          x => floor(x.cast("double") / scale + lit(0.5)) * scale))
      val e = Tables.embeddings(s, dir).select($"vec_id", deq.as("embedding"))
      graft.operators.Ann.bruteForceTopK(e, $"vec_id" < 10, k = 5)
        .select($"q_id", $"n_id", $"cosine", $"rk")
        .orderBy($"q_id", $"rk")
    },
    Some("""WITH raw AS (
        SELECT vec_id, embedding::DOUBLE[] AS emb,
          list_max(list_transform(embedding::DOUBLE[], x -> abs(x))) AS maxabs
        FROM embeddings),
      dq AS (
        SELECT vec_id, CASE WHEN maxabs = 0 THEN list_transform(emb, x -> 0.0)
          ELSE list_transform(emb,
            x -> floor(x / (maxabs/127.0) + 0.5) * (maxabs/127.0)) END AS emb
        FROM raw),
      q AS (SELECT vec_id AS q_id, emb AS q_vec FROM dq WHERE vec_id < 10)
      SELECT q_id, n_id, cosine, rk FROM (
        SELECT q.q_id, e.vec_id AS n_id,
          round(list_cosine_similarity(q.q_vec, e.emb), 6) AS cosine,
          row_number() OVER (PARTITION BY q.q_id
            ORDER BY round(list_cosine_similarity(q.q_vec, e.emb), 6) DESC,
                     e.vec_id) AS rk
        FROM q JOIN dq e ON e.vec_id != q.q_id)
      WHERE rk <= 5 ORDER BY q_id, rk"""))

  /** Product-quantization ANN ([[graft.operators.Ann.pqTopK]], Jégou et
    * al. TPAMI 2011) — codebooks TRAINED in the engine (joint per-subspace
    * Lloyd, exact-decimal updates), corpus encoded to per-subspace codes,
    * queries answered by asymmetric distance computation. The codebooks
    * are data-dependent driver state (the balanced-IVF situation), so the
    * oracle INJECTS the captured codebooks as literals and independently
    * re-derives the ENTIRE serving pipeline: per-subspace nearest-code
    * encode (round-6 squared L2, code-id tiebreak), the query LUTs, the
    * DECIMAL reconstruction-cosine sums, and the top-k. Any drift in
    * slicing, assignment rounding, tie-breaks, or ADC arithmetic is a
    * hash mismatch. */
  @volatile private var pqCodebooksCapture: Option[Array[Array[Array[Double]]]] =
    scala.None
  private val annPqTopk = Q.dynamicOpt(
    (s, dir) => {
      import s.implicits._
      val e = Tables.embeddings(s, dir).select($"vec_id", $"embedding")
      val cb = graft.operators.Ann.trainPqCodebooks(e, subspaces = 8,
        codes = 16, iters = 4, seed = "pq")
      pqCodebooksCapture = Some(cb)
      graft.operators.Ann.pqTopKFromCodebooks(e, $"vec_id" < 10, cb, k = 5)
        .select($"q_id", $"n_id", $"cosine", $"rk")
        .orderBy($"q_id", $"rk")
    },
    () => pqCodebooksCapture.map(pqInjectedOracle))

  /** Raw-vector PQ + EXACT-RERANK ([[graft.operators.Ann.pqTopKRerank]]
    * — FAISS `RefineFlat` over a flat PQ index): the ADC pass emits the
    * top-`refine` candidates, the exact pass re-scores them with true
    * vectors. The oracle re-derives encode → LUT → ADC → candidate cut →
    * exact rerank → top-k from the injected codebooks. */
  @volatile private var pqRerankCapture
      : Option[Array[Array[Array[Double]]]] = scala.None
  private val annPqRerank = Q.dynamicOpt(
    (s, dir) => {
      import s.implicits._
      val e = Tables.embeddings(s, dir).select($"vec_id", $"embedding")
      val cb = graft.operators.Ann.trainPqCodebooks(e, subspaces = 8,
        codes = 16, iters = 4, seed = "pq")
      pqRerankCapture = Some(cb)
      graft.operators.Ann.pqTopKRerank(e, $"vec_id" < 10, cb, k = 5,
          refine = 20)
        .select($"q_id", $"n_id", $"cosine", $"rk")
        .orderBy($"q_id", $"rk")
    },
    () => pqRerankCapture.map(cb =>
      pqRerankInjectedOracle(cb, refine = 20, k = 5)))

  private def pqRerankInjectedOracle(cb: Array[Array[Array[Double]]],
                                     refine: Int, k: Int): String =
    pqAdcCtes(cb) + s""",
      pqtop AS (SELECT q_id, n_id FROM (
          SELECT q_id, n_id,
            row_number() OVER (PARTITION BY q_id
              ORDER BY cosine DESC, n_id) AS rk
          FROM cand)
        WHERE rk <= $refine),
      rr AS (SELECT p.q_id, p.n_id,
          round(CASE WHEN isnan(list_cosine_similarity(q.q_vec, e.emb))
            THEN 0.0 ELSE list_cosine_similarity(q.q_vec, e.emb) END, 6)
            AS cosine
        FROM pqtop p JOIN q ON q.q_id = p.q_id JOIN e ON e.vec_id = p.n_id)
      SELECT q_id, n_id, cosine, rk FROM (
        SELECT q_id, n_id, cosine,
          row_number() OVER (PARTITION BY q_id
            ORDER BY cosine DESC, n_id) AS rk
        FROM rr)
      WHERE rk <= $k ORDER BY q_id, rk"""

  private def pqInjectedOracle(cb: Array[Array[Array[Double]]]): String =
    pqAdcCtes(cb) + """
      SELECT q_id, n_id, cosine, rk FROM (
        SELECT q_id, n_id, cosine,
          row_number() OVER (PARTITION BY q_id
            ORDER BY cosine DESC, n_id) AS rk
        FROM cand)
      WHERE rk <= 5 ORDER BY q_id, rk"""

  /** The shared raw-PQ ADC replay — `WITH e … cand`; callers append
    * their ranking tail. `prologue` must define the `e(vec_id, emb)`
    * CTE the replay encodes/queries from — the default is the raw
    * embeddings table; OPQ passes a rotated space
    * ([[opqPrologue]]). */
  private def pqAdcCtes(cb: Array[Array[Array[Double]]],
                        prologue: String =
                          "WITH e AS (SELECT vec_id, embedding::DOUBLE[] " +
                            "AS emb FROM embeddings)"): String = {
    val subspaces = cb.length
    val dsub = cb(0)(0).length
    val rows = cb.zipWithIndex.flatMap { case (cbm, m) =>
      cbm.zipWithIndex.map { case (v, j) =>
        s"($m, $j, [${v.map(_.toString).mkString(", ")}]::DOUBLE[])" }
    }.mkString(", ")
    s"""$prologue,
      cb(m, code, cv) AS (SELECT * FROM (VALUES $rows) v(m, code, cv)),
      ms AS (SELECT unnest(range(0, $subspaces)) AS m),
      sub AS (SELECT e.vec_id, ms.m,
          e.emb[ms.m * $dsub + 1 : ms.m * $dsub + $dsub] AS sv
        FROM e CROSS JOIN ms),
      d AS (SELECT s.vec_id, s.m, c.code,
          round(list_sum(list_transform(range(1, ${dsub + 1}),
            i -> (s.sv[i] - c.cv[i]) * (s.sv[i] - c.cv[i]))), 6) AS d2
        FROM sub s JOIN cb c USING (m)),
      enc AS (SELECT vec_id, m, code FROM (
          SELECT vec_id, m, code,
            row_number() OVER (PARTITION BY vec_id, m
              ORDER BY d2, code) AS rn
          FROM d) WHERE rn = 1),
      q AS (SELECT vec_id AS q_id, emb AS q_vec,
          sqrt(list_sum(list_transform(emb, x -> x * x))) AS qn
        FROM e WHERE vec_id < 10),
      lut AS (SELECT q.q_id, q.qn, c.m, c.code,
          round(list_sum(list_transform(range(1, ${dsub + 1}),
            i -> q.q_vec[c.m * $dsub + i] * c.cv[i])), 6)::DECIMAL(18,6)
            AS dotm,
          round(list_sum(list_transform(c.cv, x -> x * x)), 6)::DECIMAL(18,6)
            AS n2m
        FROM q CROSS JOIN cb c),
      sc AS (SELECT l.q_id, n.vec_id AS n_id, max(l.qn) AS qn,
          sum(l.dotm) AS dt, sum(l.n2m) AS rn2
        FROM enc n JOIN lut l USING (m, code)
        WHERE n.vec_id != l.q_id
        GROUP BY l.q_id, n.vec_id),
      cand AS (SELECT q_id, n_id,
          CASE WHEN qn = 0 OR rn2 <= 0 THEN 0.0
          ELSE round(dt::DOUBLE / (qn * sqrt(rn2::DOUBLE)), 6) END AS cosine
        FROM sc)"""
  }

  /** OPQ — optimized (rotated) product quantization
    * ([[graft.operators.Ann.opqTrain]], Ge et al. CVPR 2013; the FAISS
    * `OPQx` pretransform): a learned orthogonal rotation is applied
    * before the PQ split so subspaces cut across correlated directions.
    * Rotation AND codebooks are driver state, so the oracle INJECTS both
    * and re-derives the full serving pipeline: the round-6 rotation
    * (ordered `list_sum` fold — the exact [[graft.functions.ArrayRotate]]
    * arithmetic), per-subspace encode, query LUTs, DECIMAL ADC sums, and
    * the top-k — drift anywhere (rotation fold order, rounding, encode
    * ties, ADC) is a hash mismatch. */
  @volatile private var opqCapture
      : Option[(Array[Array[Double]], Array[Array[Array[Double]]])] = scala.None
  private val annOpqTopk = Q.dynamicOpt(
    (s, dir) => {
      import s.implicits._
      val e = Tables.embeddings(s, dir).select($"vec_id", $"embedding")
      val (rot, cb) = graft.operators.Ann.opqTrain(e, subspaces = 8,
        codes = 16, iters = 4, opqIters = 4, seed = "opq")
      opqCapture = Some((rot, cb))
      graft.operators.Ann.opqTopKFrom(e, $"vec_id" < 10, rot, cb, k = 5)
        .select($"q_id", $"n_id", $"cosine", $"rk")
        .orderBy($"q_id", $"rk")
    },
    () => opqCapture.map { case (rot, cb) =>
      pqAdcCtes(cb, opqPrologue(rot)) + """
      SELECT q_id, n_id, cosine, rk FROM (
        SELECT q_id, n_id, cosine,
          row_number() OVER (PARTITION BY q_id
            ORDER BY cosine DESC, n_id) AS rk
        FROM cand)
      WHERE rk <= 5 ORDER BY q_id, rk""" })

  /** OPQ + EXACT-RERANK ([[graft.operators.Ann.opqTopKRerank]] — the
    * FAISS `OPQx,PQy,RFlat` shape): rotated-space ADC produces the
    * top-`refine` candidates, each re-scored with its TRUE (unrotated)
    * vector. The oracle re-derives rotation → encode → ADC → candidate
    * cut → exact rerank against the ORIGINAL embeddings. */
  @volatile private var opqRerankCapture
      : Option[(Array[Array[Double]], Array[Array[Array[Double]]])] = scala.None
  private val annOpqRerank = Q.dynamicOpt(
    (s, dir) => {
      import s.implicits._
      val e = Tables.embeddings(s, dir).select($"vec_id", $"embedding")
      val (rot, cb) = graft.operators.Ann.opqTrain(e, subspaces = 8,
        codes = 16, iters = 4, opqIters = 4, seed = "opq")
      opqRerankCapture = Some((rot, cb))
      graft.operators.Ann.opqTopKRerank(e, $"vec_id" < 10, rot, cb, k = 5,
          refine = 20)
        .select($"q_id", $"n_id", $"cosine", $"rk")
        .orderBy($"q_id", $"rk")
    },
    () => opqRerankCapture.map { case (rot, cb) =>
      pqAdcCtes(cb, opqPrologue(rot)) + s""",
      pqtop AS (SELECT q_id, n_id FROM (
          SELECT q_id, n_id,
            row_number() OVER (PARTITION BY q_id
              ORDER BY cosine DESC, n_id) AS rk
          FROM cand)
        WHERE rk <= 20),
      q0 AS (SELECT vec_id AS q_id, emb AS q_vec FROM e0 WHERE vec_id < 10),
      rr AS (SELECT p.q_id, p.n_id,
          round(CASE WHEN isnan(list_cosine_similarity(q0.q_vec, e0.emb))
            THEN 0.0 ELSE list_cosine_similarity(q0.q_vec, e0.emb) END, 6)
            AS cosine
        FROM pqtop p JOIN q0 ON q0.q_id = p.q_id
        JOIN e0 ON e0.vec_id = p.n_id)
      SELECT q_id, n_id, cosine, rk FROM (
        SELECT q_id, n_id, cosine,
          row_number() OVER (PARTITION BY q_id
            ORDER BY cosine DESC, n_id) AS rk
        FROM rr)
      WHERE rk <= 5 ORDER BY q_id, rk""" })

  /** The OPQ oracle prologue: `e0` = raw embeddings, `e` = the round-6
    * rotated space — `emb[i] = round(Σ_j R[i][j]·x[j], 6)` with the
    * ordered list fold (DuckDB `list_sum(list_transform)` sums in
    * element order, the same left-to-right double adds as
    * [[graft.functions.ArrayRotate]]'s loop). */
  private def opqPrologue(rot: Array[Array[Double]]): String = {
    val d = rot.length
    val flat = rot.flatten.map(_.toString).mkString(", ")
    s"""WITH e0 AS (SELECT vec_id, embedding::DOUBLE[] AS emb
        FROM embeddings),
      rotm AS (SELECT [$flat]::DOUBLE[] AS rv),
      e AS (SELECT e0.vec_id,
          list_transform(range(0, $d), i ->
            round(list_sum(list_transform(range(1, ${d + 1}),
              j -> r.rv[i * $d + j] * e0.emb[j])), 6)) AS emb
        FROM e0 CROSS JOIN rotm r)"""
  }

  /** Residual IVF-PQ ([[graft.operators.Ann.ivfPqTopK]] — the FAISS
    * `IVFx,PQy` production shape): coarse trained cells prune the
    * candidate set, PQ codes over the RESIDUALS x − c(x) score it, and
    * serving never touches a corpus float after encode. Both trained
    * models are driver state, so the oracle INJECTS centroids AND
    * codebooks and re-derives everything downstream: cell assignment,
    * residuals, per-subspace encode, the probe set, all three ADC lookup
    * families (query·cell dots, query·code dots, cell-cross terms), the
    * DECIMAL reconstruction sums, and the top-k. */
  @volatile private var ivfPqCapture
      : Option[(Array[Array[Double]], Array[Array[Array[Double]]])] = scala.None
  private val annIvfPq = Q.dynamicOpt(
    (s, dir) => {
      import s.implicits._
      val e = Tables.embeddings(s, dir).select($"vec_id", $"embedding")
      val (cents, cb) = graft.operators.Ann.ivfPqTrain(e, kCentroids = 16,
        subspaces = 8, codes = 16)
      ivfPqCapture = Some((cents, cb))
      graft.operators.Ann.ivfPqTopKFrom(e, $"vec_id" < 10, cents, cb,
          k = 5, nProbe = 2)
        .select($"q_id", $"n_id", $"cosine", $"rk")
        .orderBy($"q_id", $"rk")
    },
    () => ivfPqCapture.map { case (cents, cb) => ivfPqInjectedOracle(cents, cb) })

  /** IVF-PQ + EXACT-RERANK ([[graft.operators.Ann.ivfPqTopKRerank]] —
    * the FAISS `IVFx,PQy,RFlat` serving shape): the ADC pass produces a
    * WIDE candidate list (top-`refine` per query), and each candidate is
    * re-scored with its TRUE vector — exact round-6 cosine — before the
    * final top-k. The oracle re-derives the ENTIRE pipeline from the
    * injected models: every ADC CTE, the top-refine candidate cut, the
    * exact rerank join, and the refined ranking — so drift in either the
    * quantized pass or the exact pass is a hash mismatch. */
  @volatile private var ivfPqRerankCapture
      : Option[(Array[Array[Double]], Array[Array[Array[Double]]])] = scala.None
  private val annIvfPqRerank = Q.dynamicOpt(
    (s, dir) => {
      import s.implicits._
      val e = Tables.embeddings(s, dir).select($"vec_id", $"embedding")
      val (cents, cb) = graft.operators.Ann.ivfPqTrain(e, kCentroids = 16,
        subspaces = 8, codes = 16)
      ivfPqRerankCapture = Some((cents, cb))
      graft.operators.Ann.ivfPqTopKRerank(e, $"vec_id" < 10, cents, cb,
          k = 5, nProbe = 2, refine = 20)
        .select($"q_id", $"n_id", $"cosine", $"rk")
        .orderBy($"q_id", $"rk")
    },
    () => ivfPqRerankCapture.map { case (cents, cb) =>
      ivfPqRerankInjectedOracle(cents, cb, refine = 20, k = 5) })

  /** PERSISTED IVF-PQ index ([[graft.operators.Ann.ivfPqIndexWrite]] /
    * [[graft.operators.Ann.ivfPqIndexTopK]] — the FAISS `IVFx,PQy` shape
    * as a lake artifact): codes partitioned by cell so probing is a
    * PARTITION PRUNE, models persisted beside them. The on-disk path
    * must answer bit-identically to the in-memory one, so the oracle is
    * the SAME injected-model ADC replay as `ann_ivf_pq` — models
    * captured by reading them back from the store the query just wrote
    * (round-tripping the persistence INSIDE the verified surface). */
  @volatile private var ivfPqDiskCapture
      : Option[(Array[Array[Double]], Array[Array[Array[Double]]])] = scala.None
  private val annIvfPqDisk = Q.dynamicOpt(
    (s, dir) => {
      import s.implicits._
      val e = Tables.embeddings(s, dir).select($"vec_id", $"embedding")
      // collision-safe store: under the app-id-keyed stage root (unique
      // per SparkContext, cleaned at shutdown) — a fixed shared /tmp name
      // let two concurrent JVMs (gate + bench) read each other's codes
      // mid-overwrite. The oracle is path-blind (capture-and-inject).
      val idx = graft.operators.Staging.defaultStageRoot(s) + "/ivfpq_index"
      graft.operators.Ann.ivfPqIndexWrite(e, idx, kCentroids = 16,
        subspaces = 8, codes = 16)
      ivfPqDiskCapture = Some(graft.operators.Ann.ivfPqIndexModels(s, idx))
      graft.operators.Ann.ivfPqIndexTopK(e.filter($"vec_id" < 10), idx,
          k = 5, nProbe = 2)
        .select($"q_id", $"n_id", $"cosine", $"rk")
        .orderBy($"q_id", $"rk")
    },
    () => ivfPqDiskCapture.map { case (cents, cb) =>
      ivfPqInjectedOracle(cents, cb) })

  private def ivfPqRerankInjectedOracle(cents: Array[Array[Double]],
                                        cb: Array[Array[Array[Double]]],
                                        refine: Int, k: Int): String =
    ivfPqAdcCtes(cents, cb) + s""",
      pqtop AS (SELECT q_id, n_id FROM (
          SELECT q_id, n_id,
            row_number() OVER (PARTITION BY q_id
              ORDER BY cosine DESC, n_id) AS rk
          FROM cand)
        WHERE rk <= $refine),
      rr AS (SELECT p.q_id, p.n_id,
          round(CASE WHEN isnan(list_cosine_similarity(q.q_vec, e.emb))
            THEN 0.0 ELSE list_cosine_similarity(q.q_vec, e.emb) END, 6)
            AS cosine
        FROM pqtop p JOIN q ON q.q_id = p.q_id JOIN e ON e.vec_id = p.n_id)
      SELECT q_id, n_id, cosine, rk FROM (
        SELECT q_id, n_id, cosine,
          row_number() OVER (PARTITION BY q_id
            ORDER BY cosine DESC, n_id) AS rk
        FROM rr)
      WHERE rk <= $k ORDER BY q_id, rk"""

  private def ivfPqInjectedOracle(cents: Array[Array[Double]],
                                  cb: Array[Array[Array[Double]]]): String =
    ivfPqAdcCtes(cents, cb) + """
      SELECT q_id, n_id, cosine, rk FROM (
        SELECT q_id, n_id, cosine,
          row_number() OVER (PARTITION BY q_id
            ORDER BY cosine DESC, n_id) AS rk
        FROM cand)
      WHERE rk <= 5 ORDER BY q_id, rk"""

  /** The shared ADC replay — `WITH e … cand` (per-(query, candidate)
    * reconstruction cosines from the injected models); callers append
    * their own ranking tail. */
  private def ivfPqAdcCtes(cents: Array[Array[Double]],
                           cb: Array[Array[Array[Double]]]): String = {
    val subspaces = cb.length
    val dsub = cb(0)(0).length
    val centRows = cents.zipWithIndex.map { case (v, i) =>
      s"($i, [${v.map(_.toString).mkString(", ")}]::DOUBLE[])"
    }.mkString(", ")
    val cbRows = cb.zipWithIndex.flatMap { case (cbm, m) =>
      cbm.zipWithIndex.map { case (v, j) =>
        s"($m, $j, [${v.map(_.toString).mkString(", ")}]::DOUBLE[])" }
    }.mkString(", ")
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
      c(cell, c_vec) AS (SELECT * FROM (VALUES $centRows) v(cell, c_vec)),
      cb(m, code, cv) AS (SELECT * FROM (VALUES $cbRows) v(m, code, cv)),
      sf AS (SELECT vec_id, cell,
          round(CASE WHEN isnan(cs) THEN 0.0 ELSE cs END, 6) AS cscore
        FROM (SELECT e.vec_id, c.cell,
            list_cosine_similarity(e.emb, c.c_vec) AS cs
          FROM e CROSS JOIN c)),
      rf AS (SELECT vec_id, cell,
          row_number() OVER (PARTITION BY vec_id
            ORDER BY cscore DESC, cell) AS crk
        FROM sf),
      res AS (SELECT r.vec_id, r.cell,
          list_transform(range(1, ${subspaces * dsub + 1}),
            i -> e.emb[i] - c.c_vec[i]) AS rv
        FROM rf r JOIN e ON e.vec_id = r.vec_id
        JOIN c ON c.cell = r.cell WHERE r.crk = 1),
      d AS (SELECT s.vec_id, s.cell, b.m, b.code,
          round(list_sum(list_transform(range(1, ${dsub + 1}),
            i -> (s.rv[b.m * $dsub + i] - b.cv[i])
               * (s.rv[b.m * $dsub + i] - b.cv[i]))), 6) AS d2
        FROM res s CROSS JOIN cb b),
      enc AS (SELECT vec_id, cell, m, code FROM (
          SELECT vec_id, cell, m, code,
            row_number() OVER (PARTITION BY vec_id, m
              ORDER BY d2, code) AS rn
          FROM d) WHERE rn = 1),
      q AS (SELECT vec_id AS q_id, emb AS q_vec,
          sqrt(list_sum(list_transform(emb, x -> x * x))) AS qn
        FROM e WHERE vec_id < 10),
      qs AS (SELECT q.q_id, q.qn, c.cell,
          round(CASE WHEN isnan(list_cosine_similarity(q.q_vec, c.c_vec))
            THEN 0.0 ELSE list_cosine_similarity(q.q_vec, c.c_vec) END, 6)
            AS cscore,
          round(list_sum(list_transform(range(1, ${subspaces * dsub + 1}),
            i -> q.q_vec[i] * c.c_vec[i])), 6)::DECIMAL(18,6) AS qc
        FROM q CROSS JOIN c),
      probes AS (SELECT q_id, qn, cell, qc FROM (
          SELECT q_id, qn, cell, qc,
            row_number() OVER (PARTITION BY q_id
              ORDER BY cscore DESC, cell) AS crk
          FROM qs) WHERE crk <= 2),
      qlut AS (SELECT q.q_id, b.m, b.code,
          round(list_sum(list_transform(range(1, ${dsub + 1}),
            i -> q.q_vec[b.m * $dsub + i] * b.cv[i])), 6)::DECIMAL(18,6)
            AS qr
        FROM q CROSS JOIN cb b),
      cc AS (SELECT c.cell, b.m, b.code,
          round(2.0 * list_sum(list_transform(range(1, ${dsub + 1}),
              i -> c.c_vec[b.m * $dsub + i] * b.cv[i]))
            + list_sum(list_transform(b.cv, x -> x * x)), 6)::DECIMAL(18,6)
            AS cc
        FROM c CROSS JOIN cb b),
      cn AS (SELECT cell,
          round(list_sum(list_transform(c_vec, x -> x * x)), 6)::DECIMAL(18,6)
            AS cn2
        FROM c),
      sc AS (SELECT p.q_id, n.vec_id AS n_id, max(p.qn) AS qn,
          max(p.qc) AS qc, max(n.cell) AS cell,
          sum(l.qr) AS qr, sum(x.cc) AS ccs
        FROM enc n
        JOIN probes p ON p.cell = n.cell AND n.vec_id != p.q_id
        JOIN qlut l ON l.q_id = p.q_id AND l.m = n.m AND l.code = n.code
        JOIN cc x ON x.cell = n.cell AND x.m = n.m AND x.code = n.code
        GROUP BY p.q_id, n.vec_id),
      cand AS (SELECT s.q_id, s.n_id,
          CASE WHEN s.qn = 0 OR (w.cn2 + s.ccs) <= 0 THEN 0.0
          ELSE round((s.qc + s.qr)::DOUBLE
            / (s.qn * sqrt((w.cn2 + s.ccs)::DOUBLE)), 6) END AS cosine
        FROM sc s JOIN cn w ON w.cell = s.cell)"""
  }

  /** Johnson-Lindenstrauss random projection + brute-force ANN over the
    * COMPRESSED vectors — the dimensionality lever: 64 dims → 16 via
    * deterministic ±1 hyperplanes ([[VF.randomProject]]), a 4× cut in
    * everything the ANN layer moves and scans. The oracle rebuilds the
    * same ±1 sign chains from md5 parity (computed at SQL-generation
    * time, like [[annLshMulti]]'s buckets), so the projected vectors —
    * and therefore the search result — are bit-identical across engines.
    * Recall cost of the compression is benched as `ann_rp_brute`. */
  private val annRpTopk = {
    val outDims = 16; val dims = 64 // sqrt(16) = 4.0: exact in SQL below
    Q(
      (s, dir) => {
        import s.implicits._
        val proj = VF.randomProject($"embedding", outDims, dims)
        graft.operators.Ann.bruteForceTopK(
            Tables.embeddings(s, dir).select($"vec_id", proj.as("embedding")),
            $"vec_id" < 10, k = 5)
          .select($"q_id", $"n_id", $"cosine", $"rk")
          .orderBy($"q_id", $"rk")
      },
      Some {
        def comp(j: Int): String = {
          val chain = (0 until dims).map { i =>
            val pos = (TF.md5Long60(s"rp_${j}_$i") & 1L) == 0L
            if (i == 0) { if (pos) "emb[1]" else "(-emb[1])" }
            else s" ${if (pos) "+" else "-"} emb[${i + 1}]"
          }.mkString
          s"round(($chain) / 4.0, 6)"
        }
        val listExpr = (0 until outDims).map(comp).mkString("list_value(", ", ", ")")
        s"""WITH e0 AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
        p AS (SELECT vec_id, $listExpr AS emb FROM e0),
        q AS (SELECT vec_id AS q_id, emb AS q_vec FROM p WHERE vec_id < 10)
        SELECT q_id, n_id, cosine, rk FROM (
          SELECT q.q_id, e.vec_id AS n_id,
            round(list_cosine_similarity(q.q_vec, e.emb), 6) AS cosine,
            row_number() OVER (PARTITION BY q.q_id
              ORDER BY round(list_cosine_similarity(q.q_vec, e.emb), 6) DESC,
                       e.vec_id) AS rk
          FROM q JOIN p e ON e.vec_id != q.q_id)
        WHERE rk <= 5 ORDER BY q_id, rk"""
      })
  }

  /** PCA-projected ANN ([[graft.operators.Ann.pcaTrain]]/`pcaProject`) —
    * the TRAINED counterpart of [[annRpTopk]]'s JL random projection, as
    * IVF is the trained counterpart of LSH: mean + top-16 covariance
    * eigenvectors learned IN the engine (one Gram-accumulation pass,
    * O(#partitions·d²) doubles to the driver, Jacobi on the 64×64), then
    * exact top-k in the projected space. The basis is data-dependent
    * driver state, so the oracle INJECTS μ and the components as literals
    * and re-derives projection, cosine, and ranks independently. */
  @volatile private var pcaCapture
      : Option[(Array[Double], Array[Array[Double]])] = scala.None
  private val annPcaTopk = Q.dynamicOpt(
    (s, dir) => {
      import s.implicits._
      val e = Tables.embeddings(s, dir).select($"vec_id", $"embedding")
      val (mu, comps) = graft.operators.Ann.pcaTrain(e, outDims = 16)
      pcaCapture = Some((mu, comps))
      graft.operators.Ann.bruteForceTopK(
          graft.operators.Ann.pcaProject(e, mu, comps), $"vec_id" < 10, k = 5)
        .select($"q_id", $"n_id", $"cosine", $"rk")
        .orderBy($"q_id", $"rk")
    },
    () => pcaCapture.map { case (mu, comps) =>
      val d = mu.length
      val muLit = s"[${mu.map(_.toString).mkString(", ")}]::DOUBLE[]"
      val compRows = comps.zipWithIndex.map { case (v, j) =>
        s"($j, [${v.map(_.toString).mkString(", ")}]::DOUBLE[])"
      }.mkString(", ")
      s"""WITH e0 AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
        mu(mv) AS (SELECT $muLit),
        cm(j, cv) AS (SELECT * FROM (VALUES $compRows) v(j, cv)),
        pj AS (SELECT e0.vec_id, cm.j,
            round(list_sum(list_transform(range(1, ${d + 1}),
              i -> (e0.emb[i] - mu.mv[i]) * cm.cv[i])), 6) AS pv
          FROM e0 CROSS JOIN mu CROSS JOIN cm),
        p AS (SELECT vec_id, list(pv ORDER BY j) AS emb
          FROM pj GROUP BY vec_id),
        q AS (SELECT vec_id AS q_id, emb AS q_vec FROM p WHERE vec_id < 10)
        SELECT q_id, n_id, cosine, rk FROM (
          SELECT q.q_id, e.vec_id AS n_id,
            round(list_cosine_similarity(q.q_vec, e.emb), 6) AS cosine,
            row_number() OVER (PARTITION BY q.q_id
              ORDER BY round(list_cosine_similarity(q.q_vec, e.emb), 6) DESC,
                       e.vec_id) AS rk
          FROM q JOIN p e ON e.vec_id != q.q_id)
        WHERE rk <= 5 ORDER BY q_id, rk"""
    })

  private val taLangId = Q(
    (s, dir) => {
      import s.implicits._
      Tables.documents(s, dir)
        .select($"doc_id", $"lang", TF.languageId($"text").as("pred_lang"))
        .orderBy($"doc_id")
    },
    Some("""WITH toks AS (
        SELECT doc_id, lang, list_transform(
          CASE WHEN len(trim(text)) = 0 THEN []::VARCHAR[]
            ELSE regexp_split_to_array(trim(text), '\s+') END, t -> lower(t)) AS ts
        FROM documents),
      cnt AS (SELECT doc_id, lang,
        len(list_filter(ts, t -> list_contains(['der','die','das','und','ist','nicht','ein','zu','mit','den'], t))) AS de,
        len(list_filter(ts, t -> list_contains(['the','a','of','and','to','in','is','it','that','for'], t))) AS en,
        len(list_filter(ts, t -> list_contains(['el','la','los','de','y','es','un','una','en','por'], t))) AS es,
        len(list_filter(ts, t -> list_contains(['le','la','les','et','est','un','une','dans','pour','que'], t))) AS fr,
        len(list_filter(ts, t -> list_contains(['的','了','是','我','不','在','有','人','这','他'], t))) AS zh
        FROM toks)
      SELECT doc_id, lang,
        CASE WHEN greatest(de, en, es, fr, zh) = 0 THEN 'und'
          WHEN de >= en AND de >= es AND de >= fr AND de >= zh THEN 'de'
          WHEN en >= es AND en >= fr AND en >= zh THEN 'en'
          WHEN es >= fr AND es >= zh THEN 'es'
          WHEN fr >= zh THEN 'fr'
          ELSE 'zh' END AS pred_lang
      FROM cnt ORDER BY doc_id"""))

  private val taQuality = Q(
    (s, dir) => {
      import s.implicits._
      val f = TF.qualityFeatures($"text")
      Tables.documents(s, dir).select($"doc_id",
          f.getField("n_chars").as("n_chars"),
          f.getField("n_tokens").as("n_tokens"),
          round(f.getField("mean_token_len"), 6).as("mean_token_len"),
          round(f.getField("punct_ratio"), 6).as("punct_ratio"),
          round(f.getField("digit_ratio"), 6).as("digit_ratio"),
          round(f.getField("stopword_ratio"), 6).as("stopword_ratio"),
          round(f.getField("quality_score"), 6).as("quality_score"))
        .orderBy($"doc_id")
    },
    Some("""WITH t AS (
        SELECT doc_id, text,
          CASE WHEN len(trim(text)) = 0 THEN []::VARCHAR[]
            ELSE regexp_split_to_array(trim(text), '\s+') END AS ts,
          length(text)::DOUBLE AS nc,
          length(regexp_replace(text, '[^!-/:-@\[-`{-~]', '', 'g'))::DOUBLE AS punct,
          length(regexp_replace(text, '[^0-9]', '', 'g'))::DOUBLE AS digits,
          length(regexp_replace(text, '[^ \t\n]', '', 'g'))::DOUBLE AS spaces
        FROM documents),
      f AS (
        SELECT doc_id, nc, len(ts)::DOUBLE AS nt,
          (nc - spaces) / greatest(len(ts)::DOUBLE, 1.0) AS mean_token_len,
          punct / greatest(nc, 1.0) AS punct_ratio,
          digits / greatest(nc, 1.0) AS digit_ratio,
          len(list_filter(ts, x -> list_contains(
            ['the','a','of','and','to','in','is','it','that','for'], lower(x))))::DOUBLE
            / greatest(len(ts)::DOUBLE, 1.0) AS stop_ratio
        FROM t)
      SELECT doc_id, nc::BIGINT AS n_chars, nt::BIGINT AS n_tokens,
        round(mean_token_len, 6) AS mean_token_len,
        round(punct_ratio, 6) AS punct_ratio,
        round(digit_ratio, 6) AS digit_ratio,
        round(stop_ratio, 6) AS stopword_ratio,
        round(greatest(0.0, least(1.0,
          0.5 * least(stop_ratio * 4, 1.0) +
          0.3 * (CASE WHEN mean_token_len BETWEEN 3.0 AND 10.0 THEN 1.0 ELSE 0.0 END) +
          0.2 * (1.0 - least((punct_ratio + digit_ratio) * 5, 1.0)))), 6) AS quality_score
      FROM f ORDER BY doc_id"""))

  private val taTokens = Q(
    (s, dir) => {
      import s.implicits._
      Tables.documents(s, dir).select($"doc_id",
          TF.tokenCount($"text").cast("long").as("n_ws_tokens"),
          TF.tokenCountBpeIsh($"text").as("n_bpeish_tokens"))
        .orderBy($"doc_id")
    },
    Some("""SELECT doc_id,
      len(CASE WHEN len(trim(text)) = 0 THEN []::VARCHAR[]
        ELSE regexp_split_to_array(trim(text), '\s+') END)::BIGINT AS n_ws_tokens,
      (len(list_filter(regexp_split_to_array(text, '[^A-Za-z0-9]+'), w -> len(w) > 0))
       + length(regexp_replace(text, '[A-Za-z0-9\s]+', '', 'g'))
       + coalesce(list_sum(list_transform(
           list_filter(regexp_split_to_array(text, '[^A-Za-z0-9]+'), w -> len(w) > 4),
           w -> (len(w) - 1) // 4)), 0))::BIGINT AS n_bpeish_tokens
      FROM documents ORDER BY doc_id"""))

  /** Trained BPE tokenizer ([[graft.operators.Corpus.bpeTrain]] — real
    * Sennrich-style merges learned IN the engine over the word-frequency
    * dictionary) + per-doc token counts under the learned table. The
    * merge list is data-dependent driver state (the balanced-IVF
    * situation), so the oracle INJECTS the captured merges as literals
    * and re-derives every count independently: recursive-CTE greedy
    * encode per distinct word ((rank, leftmost) one merge per step —
    * provably the HF encode loop), then occurrence-weighted sums per
    * document. Any drift in split semantics, merge order, or tie-breaks
    * is a hash mismatch. */
  @volatile private var bpeMergesCapture: Option[Seq[String]] = scala.None
  private val taBpe = Q.dynamicOpt(
    (s, dir) => {
      import s.implicits._
      val docs = Tables.documents(s, dir)
      // training capped at 2000 docs (the cp_qc_train labeled-slice
      // discipline): merge statistics converge on the seeded sample, the
      // oracle capture-injects whatever merges were learned, and encoding
      // still covers every document — so the cap changes the learned
      // literals, never the verification semantics. Binding at sf0.1+
      // (5000 docs), non-binding at the sf0.01 gate corpus.
      val merges = graft.operators.Corpus.bpeTrain(docs, maxMerges = 40,
        maxTrainDocs = 2000)
      bpeMergesCapture = Some(merges)
      graft.operators.Corpus.bpeTokenCounts(docs, merges)
        .orderBy($"doc_id")
    },
    () => bpeMergesCapture.map { merges =>
      def esc(t: String) = t.replace("'", "''")
      val values = merges.zipWithIndex.map { case (pair, i) =>
        val Array(l, r) = pair.split(" ", 2)
        s"($i, '${esc(l)}', '${esc(r)}')"
      }.mkString(", ")
      s"""WITH RECURSIVE $toksCte,
        occ AS (SELECT doc_id, unnest(ts) AS w FROM toks),
        words AS (SELECT DISTINCT w FROM occ),
        merges(rank, l, r) AS (SELECT * FROM (VALUES $values) m),
        enc(w, parts) AS (
          SELECT w, list_transform(range(1, len(w) + 1), i -> w[i:i])
          FROM words
          UNION ALL
          SELECT e.w,
            e.parts[1:b.i-1] || [e.parts[b.i] || e.parts[b.i+1]] || e.parts[b.i+2:]
          FROM enc e, LATERAL (
            SELECT m.rank, u.i
            FROM (SELECT unnest(range(1, len(e.parts))) AS i) u
            JOIN merges m ON m.l = e.parts[u.i] AND m.r = e.parts[u.i+1]
            ORDER BY m.rank, u.i LIMIT 1) b),
        wn AS (SELECT w, min(len(parts)) AS nt FROM enc GROUP BY w)
        SELECT d.doc_id, coalesce(s.n, 0)::BIGINT AS n_bpe_tokens
        FROM documents d LEFT JOIN (
          SELECT occ.doc_id, sum(wn.nt) AS n
          FROM occ JOIN wn USING (w) GROUP BY occ.doc_id) s
          USING (doc_id)
        ORDER BY d.doc_id"""
    })

  @volatile private var bpeIdsCapture
      : Option[(Seq[String], Seq[(String, Int)])] = scala.None

  /** BPE token-ID export — the HF vocab+merges shape: greedy-encoded
    * pieces mapped to contiguous ids (alphabet first, merge outputs in
    * rank order), exploded to (doc_id, pos, token_id). The oracle reuses
    * [[taBpe]]'s recursive greedy-encode CTE, takes each word's FINAL
    * segmentation via arg_min(parts, len(parts)), and maps pieces
    * through the INJECTED (piece, id) table — ids are engine-side
    * literals, never derived in SQL (collation independence). */
  private val taBpeIds = Q.dynamicOpt(
    (s, dir) => {
      import s.implicits._
      val docs = Tables.documents(s, dir)
      // same capped-training posture (and rationale) as ta_bpe_tokens;
      // the alphabet still derives from the FULL corpus so every char
      // has an id
      val merges = graft.operators.Corpus.bpeTrain(docs, maxMerges = 40,
        maxTrainDocs = 2000)
      val vocab = graft.functions.Bpe.vocabFromMerges(merges,
        graft.operators.Corpus.bpeAlphabet(docs))
      bpeIdsCapture = Some((merges, vocab))
      graft.operators.Corpus.bpeTokenIds(docs, merges, vocab)
        .select($"doc_id",
          posexplode($"token_ids").as(Seq("pos", "token_id")))
        .orderBy($"doc_id", $"pos")
    },
    () => bpeIdsCapture.map { case (merges, vocab) =>
      def esc(t: String) = t.replace("'", "''")
      val values = merges.zipWithIndex.map { case (pair, i) =>
        val Array(l, r) = pair.split(" ", 2)
        s"($i, '${esc(l)}', '${esc(r)}')"
      }.mkString(", ")
      val idValues = vocab.map { case (p, id) =>
        s"('${esc(p)}', ${id}::INT)"
      }.mkString(", ")
      s"""WITH RECURSIVE $toksCte,
        occ AS (SELECT doc_id, ts,
          unnest(range(1, len(ts) + 1)) AS wpos FROM toks),
        wocc AS (SELECT doc_id, wpos, ts[wpos] AS w FROM occ),
        words AS (SELECT DISTINCT w FROM wocc),
        merges(rank, l, r) AS (SELECT * FROM (VALUES $values) m),
        idtab(piece, id) AS (SELECT * FROM (VALUES $idValues) t),
        enc(w, parts) AS (
          SELECT w, list_transform(range(1, len(w) + 1), i -> w[i:i])
          FROM words
          UNION ALL
          SELECT e.w,
            e.parts[1:b.i-1] || [e.parts[b.i] || e.parts[b.i+1]] || e.parts[b.i+2:]
          FROM enc e, LATERAL (
            SELECT m.rank, u.i
            FROM (SELECT unnest(range(1, len(e.parts))) AS i) u
            JOIN merges m ON m.l = e.parts[u.i] AND m.r = e.parts[u.i+1]
            ORDER BY m.rank, u.i LIMIT 1) b),
        wfinal AS (SELECT w, arg_min(parts, len(parts)) AS parts
          FROM enc GROUP BY w),
        wpieces AS (SELECT w, unnest(range(1, len(parts) + 1)) - 1 AS pidx,
            parts[unnest(range(1, len(parts) + 1))] AS piece
          FROM wfinal),
        doctok AS (SELECT o.doc_id, o.wpos, p.pidx,
            coalesce(i.id, ${vocab.size}) AS token_id
          FROM wocc o JOIN wpieces p USING (w)
          LEFT JOIN idtab i ON i.piece = p.piece)
        SELECT doc_id,
          (row_number() OVER (PARTITION BY doc_id
             ORDER BY wpos, pidx) - 1)::INT AS pos,
          token_id::INT AS token_id
        FROM doctok
        ORDER BY doc_id, pos"""
    })

  @volatile private var unigramVocabCapture: Option[Seq[(String, Long)]] = scala.None

  /** Unigram-LM (SentencePiece-family) token counts: train the vocab on
    * the corpus ([[graft.operators.Corpus.unigramTrain]] — Viterbi-EM on
    * the word dictionary, driver-local), then count each document's
    * Viterbi pieces. The oracle INJECTS the captured vocab and replays
    * the serving DP itself — integer micro-log-prob scores make the
    * DuckDB recursive-CTE Viterbi bit-identical to the codegen'd
    * expression (max score, then fewer pieces, then longer final piece,
    * single-cp <unk> floor). */
  private val taUnigram = Q.dynamicOpt(
    (s, dir) => {
      import s.implicits._
      val docs = Tables.documents(s, dir)
      val vocab = graft.operators.Corpus.unigramTrain(docs, vocabSize = 80)
      unigramVocabCapture = Some(vocab)
      graft.operators.Corpus.unigramTokenCounts(docs, vocab)
        .orderBy($"doc_id")
    },
    () => unigramVocabCapture.map { vocab =>
      def esc(t: String) = t.replace("'", "''")
      val values = vocab.map { case (p, mlp) =>
        s"('${esc(p)}', ${mlp}::BIGINT)"
      }.mkString(", ")
      val maxLen = vocab.map(p => p._1.codePointCount(0, p._1.length)).max
      val unk = graft.functions.Unigram.UnkMicroLogProb
      s"""WITH RECURSIVE $toksCte,
        occ AS (SELECT doc_id, unnest(ts) AS w FROM toks),
        words AS (SELECT DISTINCT w FROM occ),
        vocab(piece, mlp) AS (SELECT * FROM (VALUES $values) v),
        -- candidate transition costs precomputed OUTSIDE the recursion
        -- (DuckDB rejects a correlated LEFT JOIN inside the lateral; a
        -- plain join here leaves only an inner correlated filter below)
        pos AS (SELECT w, unnest(range(1, len(w) + 1)) AS e FROM words),
        cand0 AS (SELECT w, e,
          unnest(range(greatest(0, e - $maxLen), e)) AS j FROM pos),
        cand AS (SELECT c.w, c.e, c.j,
            coalesce(v.mlp, ${unk}::BIGINT) AS cost
          FROM cand0 c LEFT JOIN vocab v ON v.piece = c.w[c.j + 1 : c.e]
          WHERE v.mlp IS NOT NULL OR c.e - c.j = 1),
        dp(w, i, scores, pieces) AS (
          SELECT w, 0, [0::BIGINT], [0::BIGINT] FROM words
          UNION ALL
          SELECT d.w, d.i + 1,
            list_append(d.scores, b.sc), list_append(d.pieces, b.pc)
          FROM dp d, LATERAL (
            SELECT d.scores[c.j + 1] + c.cost AS sc,
              d.pieces[c.j + 1] + 1 AS pc, c.j AS j
            FROM cand c WHERE c.w = d.w AND c.e = d.i + 1
            ORDER BY sc DESC, pc ASC, j ASC LIMIT 1) b
          WHERE d.i < len(d.w)),
        wn AS (SELECT w, pieces[len(w) + 1] AS nt FROM dp WHERE i = len(w))
        SELECT d.doc_id, coalesce(s.n, 0)::BIGINT AS n_unigram_tokens
        FROM documents d LEFT JOIN (
          SELECT occ.doc_id, sum(wn.nt) AS n
          FROM occ JOIN wn USING (w) GROUP BY occ.doc_id) s
          USING (doc_id)
        ORDER BY d.doc_id"""
    })

  @volatile private var unigramIdsVocabCapture: Option[Seq[(String, Long)]] =
    scala.None

  /** Token-ID stream export — the trainer-consumable output: Viterbi
    * pieces mapped to piece-sorted vocab indices (unk = V), exploded to
    * (doc_id, pos, token_id). The oracle extends the [[taUnigram]] DP
    * with BACKTRACK lists, reconstructs each word's segmentation by a
    * second recursive walk from the end, maps pieces to row_number ids
    * over the injected vocab, and positions tokens by (word order,
    * within-word order). */
  private val taUnigramIds = Q.dynamicOpt(
    (s, dir) => {
      import s.implicits._
      val docs = Tables.documents(s, dir)
      val vocab = graft.operators.Corpus.unigramTrain(docs, vocabSize = 80)
      unigramIdsVocabCapture = Some(vocab)
      graft.operators.Corpus.unigramTokenIds(docs, vocab)
        .select($"doc_id",
          posexplode($"token_ids").as(Seq("pos", "token_id")))
        .orderBy($"doc_id", $"pos")
    },
    () => unigramIdsVocabCapture.map { vocab =>
      def esc(t: String) = t.replace("'", "''")
      val values = vocab.map { case (p, mlp) =>
        s"('${esc(p)}', ${mlp}::BIGINT)"
      }.mkString(", ")
      val maxLen = vocab.map(p => p._1.codePointCount(0, p._1.length)).max
      val unk = graft.functions.Unigram.UnkMicroLogProb
      // ids injected EXPLICITLY (engine-side piece order): deriving them
      // in SQL via row_number(ORDER BY piece) would ride DuckDB's UTF-8
      // byte collation, which diverges from the engine's piece sort for
      // astral-vs-U+E000..FFFF pieces
      val idValues = vocab.map(_._1).zipWithIndex.map { case (p, i) =>
        s"('${esc(p)}', ${i}::INT)"
      }.mkString(", ")
      s"""WITH RECURSIVE $toksCte,
        occ AS (SELECT doc_id, ts,
          unnest(range(1, len(ts) + 1)) AS wpos FROM toks),
        wocc AS (SELECT doc_id, wpos, ts[wpos] AS w FROM occ),
        words AS (SELECT DISTINCT w FROM wocc),
        vocab(piece, mlp) AS (SELECT * FROM (VALUES $values) v),
        idtab(piece, id) AS (SELECT * FROM (VALUES $idValues) t),
        pos AS (SELECT w, unnest(range(1, len(w) + 1)) AS e FROM words),
        cand0 AS (SELECT w, e,
          unnest(range(greatest(0, e - $maxLen), e)) AS j FROM pos),
        cand AS (SELECT c.w, c.e, c.j,
            coalesce(v.mlp, ${unk}::BIGINT) AS cost
          FROM cand0 c LEFT JOIN vocab v ON v.piece = c.w[c.j + 1 : c.e]
          WHERE v.mlp IS NOT NULL OR c.e - c.j = 1),
        dp(w, i, scores, pieces, backs) AS (
          SELECT w, 0, [0::BIGINT], [0::BIGINT], [0::BIGINT] FROM words
          UNION ALL
          SELECT d.w, d.i + 1, list_append(d.scores, b.sc),
            list_append(d.pieces, b.pc), list_append(d.backs, b.j)
          FROM dp d, LATERAL (
            SELECT d.scores[c.j + 1] + c.cost AS sc,
              d.pieces[c.j + 1] + 1 AS pc, c.j AS j
            FROM cand c WHERE c.w = d.w AND c.e = d.i + 1
            ORDER BY sc DESC, pc ASC, j ASC LIMIT 1) b
          WHERE d.i < len(d.w)),
        dpf AS (SELECT w, pieces[len(w) + 1] AS nt, backs
          FROM dp WHERE i = len(w) AND len(w) > 0),
        walk(w, at, rord) AS (
          SELECT w, len(w), 0 FROM dpf
          UNION ALL
          SELECT k.w, f.backs[k.at + 1]::BIGINT, k.rord + 1
          FROM walk k JOIN dpf f USING (w) WHERE k.at > 0),
        wpieces AS (SELECT k.w, f.nt - 1 - k.rord AS pidx,
            k.w[f.backs[k.at + 1] + 1 : k.at] AS piece
          FROM walk k JOIN dpf f USING (w) WHERE k.at > 0),
        doctok AS (SELECT o.doc_id, o.wpos, p.pidx,
            coalesce(i.id, ${vocab.size}) AS token_id
          FROM wocc o JOIN wpieces p ON p.w = o.w
          LEFT JOIN idtab i ON i.piece = p.piece)
        SELECT doc_id,
          (row_number() OVER (PARTITION BY doc_id
             ORDER BY wpos, pidx) - 1)::INT AS pos,
          token_id::INT AS token_id
        FROM doctok
        ORDER BY doc_id, pos"""
    })

  @volatile private var packIdsVocabCapture: Option[Seq[(String, Long)]] =
    scala.None

  /** Terminal training-sequence materialization: token-id streams packed
    * into exact-`budget` `input_ids` rows, docs split at boundaries.
    * Oracle = the [[taUnigramIds]] backtracking replay + pure window
    * arithmetic: per-doc global offset (prefix sum of doc token counts
    * in doc_id order), `gpos = off + pos`, `seq_id = gpos // budget`,
    * `pos = gpos % budget` — packing adds NO new model state, so the
    * oracle only adds arithmetic. */
  private val cpPackIds = Q.dynamicOpt(
    (s, dir) => {
      import s.implicits._
      val docs = Tables.documents(s, dir)
      val vocab = graft.operators.Corpus.unigramTrain(docs, vocabSize = 80)
      packIdsVocabCapture = Some(vocab)
      graft.operators.Corpus.packTokenIds(docs, vocab, budget = 128)
        .select($"seq_id",
          posexplode($"input_ids").as(Seq("pos", "token_id")))
        .orderBy($"seq_id", $"pos")
    },
    () => packIdsVocabCapture.map { vocab =>
      def esc(t: String) = t.replace("'", "''")
      val values = vocab.map { case (p, mlp) =>
        s"('${esc(p)}', ${mlp}::BIGINT)"
      }.mkString(", ")
      val maxLen = vocab.map(p => p._1.codePointCount(0, p._1.length)).max
      val unk = graft.functions.Unigram.UnkMicroLogProb
      // ids injected EXPLICITLY (engine-side piece order): deriving them
      // in SQL via row_number(ORDER BY piece) would ride DuckDB's UTF-8
      // byte collation, which diverges from the engine's piece sort for
      // astral-vs-U+E000..FFFF pieces
      val idValues = vocab.map(_._1).zipWithIndex.map { case (p, i) =>
        s"('${esc(p)}', ${i}::INT)"
      }.mkString(", ")
      s"""WITH RECURSIVE $toksCte,
        occ AS (SELECT doc_id, ts,
          unnest(range(1, len(ts) + 1)) AS wpos FROM toks),
        wocc AS (SELECT doc_id, wpos, ts[wpos] AS w FROM occ),
        words AS (SELECT DISTINCT w FROM wocc),
        vocab(piece, mlp) AS (SELECT * FROM (VALUES $values) v),
        idtab(piece, id) AS (SELECT * FROM (VALUES $idValues) t),
        pos AS (SELECT w, unnest(range(1, len(w) + 1)) AS e FROM words),
        cand0 AS (SELECT w, e,
          unnest(range(greatest(0, e - $maxLen), e)) AS j FROM pos),
        cand AS (SELECT c.w, c.e, c.j,
            coalesce(v.mlp, ${unk}::BIGINT) AS cost
          FROM cand0 c LEFT JOIN vocab v ON v.piece = c.w[c.j + 1 : c.e]
          WHERE v.mlp IS NOT NULL OR c.e - c.j = 1),
        dp(w, i, scores, pieces, backs) AS (
          SELECT w, 0, [0::BIGINT], [0::BIGINT], [0::BIGINT] FROM words
          UNION ALL
          SELECT d.w, d.i + 1, list_append(d.scores, b.sc),
            list_append(d.pieces, b.pc), list_append(d.backs, b.j)
          FROM dp d, LATERAL (
            SELECT d.scores[c.j + 1] + c.cost AS sc,
              d.pieces[c.j + 1] + 1 AS pc, c.j AS j
            FROM cand c WHERE c.w = d.w AND c.e = d.i + 1
            ORDER BY sc DESC, pc ASC, j ASC LIMIT 1) b
          WHERE d.i < len(d.w)),
        dpf AS (SELECT w, pieces[len(w) + 1] AS nt, backs
          FROM dp WHERE i = len(w) AND len(w) > 0),
        walk(w, at, rord) AS (
          SELECT w, len(w), 0 FROM dpf
          UNION ALL
          SELECT k.w, f.backs[k.at + 1]::BIGINT, k.rord + 1
          FROM walk k JOIN dpf f USING (w) WHERE k.at > 0),
        wpieces AS (SELECT k.w, f.nt - 1 - k.rord AS pidx,
            k.w[f.backs[k.at + 1] + 1 : k.at] AS piece
          FROM walk k JOIN dpf f USING (w) WHERE k.at > 0),
        doctok AS (SELECT o.doc_id, o.wpos, p.pidx,
            coalesce(i.id, ${vocab.size}) AS token_id
          FROM wocc o JOIN wpieces p ON p.w = o.w
          LEFT JOIN idtab i ON i.piece = p.piece),
        dpos AS (SELECT doc_id, token_id,
            row_number() OVER (PARTITION BY doc_id
              ORDER BY wpos, pidx) - 1 AS pos,
            count(*) OVER (PARTITION BY doc_id) AS nt
          FROM doctok),
        doff AS (SELECT DISTINCT doc_id, nt FROM dpos),
        offs AS (SELECT doc_id,
            coalesce(sum(nt) OVER (ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
          FROM doff)
        SELECT (gpos // 128)::BIGINT AS seq_id, (gpos % 128)::INT AS pos,
          token_id::INT AS token_id
        FROM (SELECT d.token_id, o.off + d.pos AS gpos
              FROM dpos d JOIN offs o USING (doc_id))
        ORDER BY seq_id, pos"""
    })

  private val taFingerprint = Q(
    (s, dir) => {
      import s.implicits._
      Tables.documents(s, dir)
        .select($"doc_id", TF.fingerprint(TF.tokens($"text")).as("fingerprint"))
        .orderBy($"doc_id")
    },
    Some("""SELECT doc_id, coalesce(list_reduce(list_prepend(0::BIGINT,
        list_transform(CASE WHEN len(trim(text)) = 0 THEN []::VARCHAR[]
          ELSE regexp_split_to_array(trim(text), '\s+') END,
          t -> ('0x' || substr(md5(t), 1, 15))::BIGINT % 2147483647)),
        (acc, h) -> (acc * 31 + h) % 2147483647), 0)::BIGINT AS fingerprint
      FROM documents ORDER BY doc_id"""))

  /** Multimodal plumbing: opaque binary payload + typed metadata. The
    * decode step is a clearly-marked deterministic stand-in (no media codecs
    * in this container); the Spark-side schema/partitioning/batching is the
    * real thing — see graft.operators.Multimodal. */
  private val mmBinaryMeta = Q(
    (s, dir) => {
      import s.implicits._
      Tables.documents(s, dir)
        .select($"doc_id", encode($"text", "UTF-8").as("payload"))
        .select($"doc_id",
          octet_length($"payload").cast("long").as("byte_len"),
          md5($"payload").as("content_md5"))
        .orderBy($"doc_id")
    },
    Some("""SELECT doc_id, octet_length(encode(text))::BIGINT AS byte_len,
      md5(text) AS content_md5 FROM documents ORDER BY doc_id"""))

  /** Deterministic hash-based train/valid/test split — reproducible across
    * engines, runs, and cluster sizes (pure function of the key, no RNG
    * state, no shuffle). */
  private val taSplit = Q(
    (s, dir) => {
      import s.implicits._
      Tables.documents(s, dir).select($"doc_id",
          Transforms.splitColumn($"doc_id").as("split"))
        .orderBy($"doc_id")
    },
    Some("""SELECT doc_id,
      CASE WHEN ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT % 100 < 80 THEN 'train'
           WHEN ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT % 100 < 90 THEN 'valid'
           ELSE 'test' END AS split
      FROM documents ORDER BY doc_id"""))

  /** Corpus vocabulary: token frequencies, top 100. Explode → map-side
    * partial count → final count: the canonical scalable wordcount. */
  private val taVocab = Q(
    (s, dir) => {
      import s.implicits._
      Tables.documents(s, dir)
        .select(explode(TF.tokens($"text")).as("token"))
        .groupBy($"token").agg(count(lit(1)).as("freq"))
        .orderBy($"freq".desc, $"token").limit(100)
    },
    Some("""SELECT token, count(*) AS freq FROM (
        SELECT unnest(CASE WHEN len(trim(text)) = 0 THEN []::VARCHAR[]
          ELSE regexp_split_to_array(trim(text), '\s+') END) AS token
        FROM documents)
      GROUP BY token ORDER BY freq DESC, token LIMIT 100"""))

  /** Near-dup clusters: connected components over the cosine near-dup pair
    * graph, by iterative min-label propagation (bounded driver loop with
    * per-iteration localCheckpoint to cap lineage). The edge set is only
    * the near-dup pairs — tiny relative to the corpus — so each iteration
    * is a small join regardless of corpus size; at extreme component
    * counts the same algorithm runs on GraphX unchanged. */
  private val ddClusters = Q(
    (s, dir) => {
      import s.implicits._
      val e = Tables.embeddings(s, dir).select($"vec_id", $"label", $"embedding")
        .withColumn("nrm", VF.norm2($"embedding"))
      // same bounded pair generator as dd_embed_cosine (hot-label guard)
      val pairs = graft.operators.Blocking.boundedCosinePairs(e)
        .filter($"cosine" >= 0.35)
      // Hybrid connected components over the (bounded) dup-pair graph —
      // see [[graft.operators.Clustering.connectedComponents]]: driver
      // union-find under the edge bound, distributed min-label past it,
      // converge-or-fail (never a silently mislabeled component).
      graft.operators.Clustering.connectedComponents(
          e.select($"vec_id".as("id")), pairs.select($"a_id", $"b_id"))
        .select($"id".as("vec_id"), $"cluster_id")
        .orderBy($"vec_id")
    },
    Some("""WITH RECURSIVE pairs AS (
        SELECT a.vec_id AS a_id, b.vec_id AS b_id
        FROM embeddings a JOIN embeddings b
          ON a.label = b.label AND a.vec_id < b.vec_id
        WHERE round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) >= 0.35),
      edges AS (
        SELECT a_id AS s, b_id AS d FROM pairs
        UNION ALL SELECT b_id, a_id FROM pairs),
      reach(id, r) AS (
        SELECT vec_id, vec_id FROM embeddings
        UNION
        SELECT reach.id, edges.d FROM reach JOIN edges ON reach.r = edges.s)
      SELECT id AS vec_id, min(r) AS cluster_id FROM reach
      GROUP BY id ORDER BY vec_id"""))

  /** Doc-internal repetition ratio (duplicate bigram share) — the C4-style
    * "repetitive document" quality filter. */
  private val taRepetition = Q(
    (s, dir) => {
      import s.implicits._
      val grams = TF.wordNgrams($"text", 2)
      val n = size(grams)
      val nd = size(array_distinct(grams))
      Tables.documents(s, dir).select($"doc_id",
          n.cast("long").as("n_bigrams"),
          nd.cast("long").as("n_distinct"),
          when(n > 0, round(lit(1.0) - nd.cast("double") / n, 6))
            .otherwise(0.0).as("dup_ratio"))
        .orderBy($"doc_id")
    },
    Some("""WITH t AS (
        SELECT doc_id, CASE WHEN len(trim(text)) = 0 THEN []::VARCHAR[]
          ELSE regexp_split_to_array(trim(text), '\s+') END AS ts
        FROM documents),
      g AS (
        SELECT doc_id, CASE WHEN len(ts) < 2 THEN []::VARCHAR[]
          ELSE list_transform(range(0, len(ts) - 1),
            i -> ts[i+1] || ' ' || ts[i+2]) END AS grams
        FROM t)
      SELECT doc_id, len(grams)::BIGINT AS n_bigrams,
        len(list_distinct(grams))::BIGINT AS n_distinct,
        CASE WHEN len(grams) > 0
          THEN round(1.0 - len(list_distinct(grams))::DOUBLE / len(grams), 6)
          ELSE 0.0 END AS dup_ratio
      FROM g ORDER BY doc_id"""))

  /** PII redaction: email scrubbing over a deterministically-constructed
    * contaminated column (the synthetic corpus has no PII, so each doc gets
    * one injected address — exercises detection + replacement for real). */
  private val taRedact = Q(
    (s, dir) => {
      import s.implicits._
      val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
      val contaminated = concat($"text", lit(" contact: user"), $"doc_id",
        lit("@example.com"))
      Tables.documents(s, dir).select($"doc_id",
          regexp_count(contaminated, lit(emailRe)).cast("long").as("n_emails"),
          md5(regexp_replace(contaminated, emailRe, "<EMAIL>")).as("redacted_md5"))
        .orderBy($"doc_id")
    },
    Some("""SELECT doc_id,
      len(regexp_extract_all(text || ' contact: user' || doc_id || '@example.com',
        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))::BIGINT AS n_emails,
      md5(regexp_replace(text || ' contact: user' || doc_id || '@example.com',
        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g')) AS redacted_md5
      FROM documents ORDER BY doc_id"""))

  /** Sliding (overlapping) event-time windows: 10-minute windows every
    * 5 minutes — each event lands in two windows. */
  private val q29 = Q(
    (s, dir) => {
      import s.implicits._
      Tables.events(s, dir)
        .groupBy(window($"ts", "10 minutes", "5 minutes")
          .getField("start").cast("string").as("window_start"))
        .agg(count(lit(1)).as("n"))
        .orderBy($"window_start")
    },
    Some("""SELECT CAST(ws AS VARCHAR) AS window_start, count(*) AS n FROM (
        SELECT time_bucket(INTERVAL '5 minutes', ts) AS ws FROM events
        UNION ALL
        SELECT time_bucket(INTERVAL '5 minutes', ts) - INTERVAL '5 minutes' FROM events)
      GROUP BY ws ORDER BY window_start"""))

  /** Multiset set ops — EXCEPT ALL / INTERSECT ALL preserve duplicate
    * COUNTS (q9 covers the distinct forms): a customer with 3 open orders
    * and 1 urgent order keeps 2 rows in the difference and 1 in the
    * intersection. */
  private val q31 = Q(
    (s, dir) => {
      import s.implicits._
      val o = Tables.orders(s, dir)
      val a = o.filter($"o_orderstatus" === "O").select($"o_custkey")
      val b = o.filter($"o_orderpriority".startsWith("1")).select($"o_custkey")
      a.exceptAll(b).withColumn("op", lit("except_all"))
        .union(a.intersectAll(b).withColumn("op", lit("intersect_all")))
        .orderBy($"op", $"o_custkey")
    },
    Some("""WITH a AS (SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'),
      b AS (SELECT o_custkey FROM orders WHERE o_orderpriority LIKE '1%')
      SELECT o_custkey, 'except_all' AS op FROM
        (SELECT o_custkey FROM a EXCEPT ALL SELECT o_custkey FROM b)
      UNION ALL
      SELECT o_custkey, 'intersect_all' AS op FROM
        (SELECT o_custkey FROM a INTERSECT ALL SELECT o_custkey FROM b)
      ORDER BY op, o_custkey"""))

  /** PIVOT — rows-to-columns reshape (the `groupBy().pivot()` DataFrame
    * operator): per-nation order counts and value sums spread across
    * order-status columns. The pivot VALUES are declared (the three
    * statuses), so the plan is ONE partial+final aggregate with
    * conditional sums — no second pass to discover the column set, which
    * is the version of pivot that scales (Spark's value-discovering
    * overload runs an extra distinct job and caps at
    * `spark.sql.pivotMaxValues`). The oracle states the same reshape as
    * portable conditional aggregation. */
  private val q32 = Q(
    (s, dir) => {
      import s.implicits._
      Tables.orders(s, dir)
        .join(Tables.customer(s, dir), $"o_custkey" === $"c_custkey")
        .join(Tables.nation(s, dir), $"c_nationkey" === $"n_nationkey")
        .groupBy($"n_name")
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(count(lit(1)).as("n"), dsum($"o_totalprice").as("value"))
        .select($"n_name",
          coalesce($"F_n", lit(0L)).as("f_n"),
          round(coalesce($"F_value", lit(0.0)), 2).as("f_value"),
          coalesce($"O_n", lit(0L)).as("o_n"),
          round(coalesce($"O_value", lit(0.0)), 2).as("o_value"),
          coalesce($"P_n", lit(0L)).as("p_n"),
          round(coalesce($"P_value", lit(0.0)), 2).as("p_value"))
        .orderBy($"n_name")
    },
    Some("""SELECT n_name,
        count(*) FILTER (WHERE o_orderstatus = 'F') AS f_n,
        round(coalesce(sum(CAST(o_totalprice AS DECIMAL(18,2)))
          FILTER (WHERE o_orderstatus = 'F'), 0)::DOUBLE, 2) AS f_value,
        count(*) FILTER (WHERE o_orderstatus = 'O') AS o_n,
        round(coalesce(sum(CAST(o_totalprice AS DECIMAL(18,2)))
          FILTER (WHERE o_orderstatus = 'O'), 0)::DOUBLE, 2) AS o_value,
        count(*) FILTER (WHERE o_orderstatus = 'P') AS p_n,
        round(coalesce(sum(CAST(o_totalprice AS DECIMAL(18,2)))
          FILTER (WHERE o_orderstatus = 'P'), 0)::DOUBLE, 2) AS p_value
      FROM orders JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
      GROUP BY n_name ORDER BY n_name"""))

  /** LATERAL array explode — the table-generating-function class
    * (`explode` / LATERAL VIEW / `unnest`): each part fans out to one row
    * per word of its name, with the per-part word index carried
    * (`posexplode`). Narrow fan-out — rows multiply inside the scan
    * stage, no shuffle until the final sort. */
  private val q33 = Q(
    (s, dir) => {
      import s.implicits._
      Tables.part(s, dir)
        .filter($"p_partkey" % 10 === 0)
        .select($"p_partkey", posexplode(split($"p_name", " ")))
        .select($"p_partkey", ($"pos" + 1).cast("long").as("word_idx"),
          $"col".as("word"))
        .filter(length($"word") >= 4)
        .orderBy($"p_partkey", $"word_idx")
    },
    Some("""SELECT p_partkey, i AS word_idx, ws[i] AS word
      FROM (SELECT p_partkey, string_split(p_name, ' ') AS ws
        FROM part WHERE p_partkey % 10 = 0),
        LATERAL unnest(range(1, len(ws) + 1)) t(i)
      WHERE len(ws[i]) >= 4
      ORDER BY p_partkey, word_idx"""))

  /** RECURSIVE CTE — iterative/hierarchical queries (new operator class
    * in Spark 4: `WITH RECURSIVE`, the same construct DuckDB runs): a
    * synthetic-but-deterministic hierarchy over nation (parent =
    * floor(key / 2), root = 0) walked upward per node, accumulating depth
    * and the key-sum along the ancestor path. Each recursion step is one
    * self-join against the previous frontier — Spark plans it as
    * iterated UnionLoop steps until fixpoint, which is the distributed
    * translation of the reference's pushdown engines' recursion. */
  private val q34 = Q(
    (s, dir) => {
      Tables.registerAll(s, dir)
      s.sql("""WITH RECURSIVE walk(n_nationkey, cur, depth, path_sum) AS (
          SELECT n_nationkey, CAST(n_nationkey AS BIGINT), 0, CAST(n_nationkey AS BIGINT)
            FROM nation
          UNION ALL
          SELECT w.n_nationkey, CAST(floor(w.cur / 2) AS BIGINT), w.depth + 1,
            w.path_sum + CAST(floor(w.cur / 2) AS BIGINT)
            FROM walk w WHERE w.cur > 0)
        SELECT n_nationkey, max(depth) AS depth_to_root,
          max(path_sum) AS ancestor_key_sum
        FROM walk GROUP BY n_nationkey ORDER BY n_nationkey""")
    },
    Some("""WITH RECURSIVE walk(n_nationkey, cur, depth, path_sum) AS (
        SELECT n_nationkey, CAST(n_nationkey AS BIGINT), 0, CAST(n_nationkey AS BIGINT)
          FROM nation
        UNION ALL
        SELECT w.n_nationkey, CAST(floor(w.cur / 2) AS BIGINT), w.depth + 1,
          w.path_sum + CAST(floor(w.cur / 2) AS BIGINT)
          FROM walk w WHERE w.cur > 0)
      SELECT n_nationkey, max(depth) AS depth_to_root,
        max(path_sum) AS ancestor_key_sum
      FROM walk GROUP BY n_nationkey ORDER BY n_nationkey"""))

  /** TIME-SERIES RESAMPLE with forward fill — the feature-pipeline shape
    * relational surfaces rarely ship whole: per user, snap events to a
    * 1-hour grid spanning that user's observed range (dense — gap hours
    * materialize as rows), carry the latest observation forward across
    * gaps (`last_value IGNORE NULLS`), count per-bucket observations.
    * Exercises timestamp `sequence()` explode, per-bucket latest-event
    * election with a deterministic (ts, event_id) tiebreak, and
    * ignore-nulls window carry. Values pass through untouched (no float
    * arithmetic), so parity is exact without rounding ceremony. */
  private val q35 = Q(
    (s, dir) => {
      import s.implicits._
      val ev = Tables.events(s, dir).filter($"user_id" < 50)
        .select($"user_id", $"ts", $"value", $"event_id")
        .withColumn("bucket", date_trunc("hour", $"ts"))
      // latest observation per (user, bucket) with a total-order tiebreak
      val wLast = Window.partitionBy($"user_id", $"bucket")
        .orderBy($"ts".desc, $"event_id".desc)
      val perBucket = ev
        .withColumn("_rn", row_number().over(wLast))
        .groupBy($"user_id", $"bucket")
        .agg(count(lit(1)).as("n_obs"),
          max(when($"_rn" === 1, $"value")).as("bucket_value"))
      val grid = ev.groupBy($"user_id")
        .agg(min($"bucket").as("b0"), max($"bucket").as("b1"))
        .select($"user_id", explode(
          sequence($"b0", $"b1", expr("INTERVAL 1 HOUR"))).as("bucket"))
      val wFill = Window.partitionBy($"user_id").orderBy($"bucket")
        .rowsBetween(Window.unboundedPreceding, 0)
      grid.join(perBucket, Seq("user_id", "bucket"), "left")
        .withColumn("filled_value",
          last($"bucket_value", ignoreNulls = true).over(wFill))
        .select($"user_id", $"bucket".cast("string").as("grid_ts"),
          coalesce($"n_obs", lit(0L)).as("n_obs"), $"filled_value")
        .orderBy($"user_id", $"grid_ts")
    },
    Some("""WITH ev AS (
        SELECT user_id, ts, value, event_id,
          time_bucket(INTERVAL '1 hour', ts) AS bucket
        FROM events WHERE user_id < 50),
      per_bucket AS (
        SELECT user_id, bucket, count(*) AS n_obs,
          max(CASE WHEN rn = 1 THEN value END) AS bucket_value
        FROM (SELECT *, row_number() OVER (PARTITION BY user_id, bucket
            ORDER BY ts DESC, event_id DESC) AS rn FROM ev)
        GROUP BY user_id, bucket),
      grid AS (
        SELECT user_id, unnest(generate_series(b0, b1, INTERVAL 1 HOUR)) AS bucket
        FROM (SELECT user_id, min(bucket) AS b0, max(bucket) AS b1
          FROM ev GROUP BY user_id))
      SELECT g.user_id, CAST(g.bucket AS VARCHAR) AS grid_ts,
        coalesce(p.n_obs, 0) AS n_obs,
        last_value(p.bucket_value IGNORE NULLS) OVER (
          PARTITION BY g.user_id ORDER BY g.bucket
          ROWS UNBOUNDED PRECEDING) AS filled_value
      FROM grid g LEFT JOIN per_bucket p USING (user_id, bucket)
      ORDER BY user_id, grid_ts"""))

  /** UNPIVOT / melt — the reshape inverse of q32's PIVOT: the three
    * lineitem charge columns go long as (measure, amount) pairs via one
    * `stack` pass (no union-of-selects re-scanning the table per
    * measure), then aggregate per measure. */
  private val q36 = Q(
    (s, dir) => {
      import s.implicits._
      Tables.lineitem(s, dir)
        .select($"l_orderkey", expr(
          """stack(3,
             'extendedprice', l_extendedprice,
             'discount', l_discount,
             'tax', l_tax) AS (measure, amount)"""))
        .groupBy($"measure")
        .agg(count(lit(1)).as("n"),
          round(sum(dec($"amount", 6)).cast("double"), 2).as("sum_amount"))
        .orderBy($"measure")
    },
    Some("""SELECT measure, count(*) AS n,
        round(CAST(sum(CAST(amount AS DECIMAL(18,6))) AS DOUBLE), 2) AS sum_amount
      FROM (
        SELECT l_orderkey, measure, amount
        FROM lineitem
        UNPIVOT (amount FOR measure IN (
          l_extendedprice AS extendedprice,
          l_discount AS discount,
          l_tax AS tax)))
      GROUP BY measure ORDER BY measure"""))

  /** RANGE-frame window — value-based frames, the window feature ROWS
    * frames can't express: each order's sum of its customer's order value
    * within ±30 DAYS of it (by order-date day number), however many rows
    * that is. Spark `rangeBetween` over a day column ≡ SQL
    * `RANGE BETWEEN 30 PRECEDING AND 30 FOLLOWING`. */
  private val q30 = Q(
    (s, dir) => {
      import s.implicits._
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"o_custkey")
        .orderBy(datediff($"o_orderdate", lit("1992-01-01").cast("date")).cast("long"))
        .rangeBetween(-30, 30)
      Tables.orders(s, dir)
        .withColumn("nearby_value",
          sum(dec($"o_totalprice")).over(w).cast("double"))
        .select($"o_orderkey", $"o_custkey", $"nearby_value")
        .orderBy($"o_orderkey")
    },
    Some("""SELECT o_orderkey, o_custkey,
        CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
          PARTITION BY o_custkey
          ORDER BY date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE))
          RANGE BETWEEN 30 PRECEDING AND 30 FOLLOWING) AS DOUBLE) AS nearby_value
      FROM orders ORDER BY o_orderkey"""))

  /** Stubbed multimodal decode: payload → fixed-length feature vector
    * (see [[graft.operators.Multimodal.stubDecodeFeatures]]); exercises the
    * binary → features flow with a portable deterministic stand-in. */
  private val mmDecode = Q(
    (s, dir) => {
      import s.implicits._
      val withPayload = Tables.documents(s, dir)
        .select($"doc_id", encode($"text", "UTF-8").as("payload"))
      val feats = graft.operators.Multimodal.stubDecodeFeatures($"payload", 4)
      withPayload
        .select($"doc_id",
          round(feats.getItem(0), 6).as("f0"), round(feats.getItem(1), 6).as("f1"),
          round(feats.getItem(2), 6).as("f2"), round(feats.getItem(3), 6).as("f3"))
        .orderBy($"doc_id")
    },
    Some("""SELECT doc_id,
      round(('0x' || substr(md5(md5(text) || '0'), 1, 15))::BIGINT / 1152921504606846976.0, 6) AS f0,
      round(('0x' || substr(md5(md5(text) || '1'), 1, 15))::BIGINT / 1152921504606846976.0, 6) AS f1,
      round(('0x' || substr(md5(md5(text) || '2'), 1, 15))::BIGINT / 1152921504606846976.0, 6) AS f2,
      round(('0x' || substr(md5(md5(text) || '3'), 1, 15))::BIGINT / 1152921504606846976.0, 6) AS f3
      FROM documents ORDER BY doc_id"""))

  /** REAL image decode through `javax.imageio`
    * ([[graft.operators.Multimodal.decodeImageFeatures]]): deterministic
    * RGB test patterns are PNG-ENCODED on the driver, decoded
    * DISTRIBUTED by the actual JDK codec inside mapPartitions, and the
    * per-channel means must land on values derived from the pattern
    * MATH alone (PNG is lossless, so encode→decode must round-trip every
    * pixel). The oracle's VALUES are that pattern math — integer pixel
    * sums, with the mean derivation (`round(sum/(255·w·h), 6)`)
    * replicated in SQL — so the engine only matches if the real decoder
    * reproduced the exact pixels. One deliberately corrupt payload pins
    * the quarantine path (width -1, null sums) through the same oracle. */
  private val mmPatternIds = 0 until 8
  private def mmPattern(k: Int): (Int, Int, (Int, Int) => (Int, Int, Int)) =
    (8 + k, 6 + k, (x, y) => ((x * 7 + y * 11 + k * 13) % 256,
      (x * 3 + y * 5 + k * 17) % 256, (x * 13 + y * 2 + k * 7) % 256))
  private val mmDecodeReal = Q(
    (s, dir) => {
      import s.implicits._
      val rows = mmPatternIds.map { k =>
        val (w, h, f) = mmPattern(k)
        val img = new java.awt.image.BufferedImage(w, h,
          java.awt.image.BufferedImage.TYPE_INT_RGB)
        for (y <- 0 until h; x <- 0 until w) {
          val (r, g, b) = f(x, y)
          img.setRGB(x, y, (r << 16) | (g << 8) | b)
        }
        val bos = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(img, "png", bos)
        (k.toLong, bos.toByteArray)
      } :+ (mmPatternIds.end.toLong, "not a png".getBytes("UTF-8"))
      val fixtures = rows.toDF("img_id", "payload").repartition(4)
      graft.operators.Multimodal.imageChannelMeans(
          graft.operators.Multimodal.decodeImageFeatures(fixtures))
        .orderBy($"img_id")
    },
    Some {
      val vals = mmPatternIds.map { k =>
        val (w, h, f) = mmPattern(k)
        var r = 0L; var g = 0L; var b = 0L
        for (y <- 0 until h; x <- 0 until w) {
          val (pr, pg, pb) = f(x, y); r += pr; g += pg; b += pb
        }
        s"($k, $w, $h, $r, $g, $b)"
      }.mkString(", ") +
        s", (${mmPatternIds.end}, -1, -1, NULL, NULL, NULL)"
      s"""SELECT CAST(img_id AS BIGINT) AS img_id,
        CAST(width AS INTEGER) AS width, CAST(height AS INTEGER) AS height,
        CAST(round(sum_r / (255.0 * width * height), 6) AS DOUBLE) AS mean_r,
        CAST(round(sum_g / (255.0 * width * height), 6) AS DOUBLE) AS mean_g,
        CAST(round(sum_b / (255.0 * width * height), 6) AS DOUBLE) AS mean_b
      FROM (VALUES $vals) t(img_id, width, height, sum_r, sum_g, sum_b)
      ORDER BY img_id"""
    })

  /** REAL image RESIZE ([[graft.operators.Multimodal.resizeImages]]):
    * decode → nearest-neighbor downsample to 5×4 → lossless PNG
    * re-encode, then the query DECODES THE RE-ENCODED PAYLOAD and means
    * its channels — the oracle recomputes the identical nearest-neighbor
    * pixel map `src(x·sw/tw, y·sh/th)` from the pattern function, so any
    * drift in the sampling arithmetic, the raster write, or the PNG
    * round-trip is a hash mismatch. The non-PNG row quarantines as
    * width −1 with null means. */
  private val mmResize = Q(
    (s, dir) => {
      import s.implicits._
      val rows = mmPatternIds.map { k =>
        val (w, h, f) = mmPattern(k)
        val img = new java.awt.image.BufferedImage(w, h,
          java.awt.image.BufferedImage.TYPE_INT_RGB)
        for (y <- 0 until h; x <- 0 until w) {
          val (r, g, b) = f(x, y)
          img.setRGB(x, y, (r << 16) | (g << 8) | b)
        }
        val bos = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(img, "png", bos)
        (k.toLong, bos.toByteArray)
      } :+ (mmPatternIds.end.toLong, "not a png".getBytes("UTF-8"))
      val fixtures = rows.toDF("img_id", "payload").repartition(4)
      val resized = graft.operators.Multimodal.resizeImages(
        fixtures, targetW = 5, targetH = 4)
      val means = graft.operators.Multimodal.imageChannelMeans(
          graft.operators.Multimodal.decodeImageFeatures(
            resized.filter($"width" > 0).select($"img_id", $"payload")))
        .select($"img_id", $"mean_r", $"mean_g", $"mean_b")
      resized.select($"img_id", $"src_w", $"src_h", $"width", $"height")
        .join(means, Seq("img_id"), "left")
        .orderBy($"img_id")
    },
    Some {
      val vals = mmPatternIds.map { k =>
        val (w, h, f) = mmPattern(k)
        var r = 0L; var g = 0L; var b = 0L
        for (y <- 0 until 4; x <- 0 until 5) {
          val (pr, pg, pb) = f(x * w / 5, y * h / 4)
          r += pr; g += pg; b += pb
        }
        s"($k, $w, $h, 5, 4, $r, $g, $b)"
      }.mkString(", ") +
        s", (${mmPatternIds.end}, -1, -1, -1, -1, NULL, NULL, NULL)"
      s"""SELECT CAST(img_id AS BIGINT) AS img_id,
        CAST(src_w AS INTEGER) AS src_w, CAST(src_h AS INTEGER) AS src_h,
        CAST(width AS INTEGER) AS width, CAST(height AS INTEGER) AS height,
        CAST(round(sum_r / (255.0 * 5 * 4), 6) AS DOUBLE) AS mean_r,
        CAST(round(sum_g / (255.0 * 5 * 4), 6) AS DOUBLE) AS mean_g,
        CAST(round(sum_b / (255.0 * 5 * 4), 6) AS DOUBLE) AS mean_b
      FROM (VALUES $vals) t(img_id, src_w, src_h, width, height, sum_r, sum_g, sum_b)
      ORDER BY img_id"""
    })

  /** REAL audio decode through `javax.sound.sampled`
    * ([[graft.operators.Multimodal.decodeAudioFeatures]]): deterministic
    * PCM sample patterns are WAV-ENCODED on the driver, decoded
    * DISTRIBUTED by the actual JDK codec inside mapPartitions, and the
    * per-channel sums/sums-of-squares must land on values derived from
    * the sample MATH alone (WAV PCM is lossless, so encode→decode must
    * round-trip every sample). Covers 16-bit signed mono and stereo plus
    * 8-bit unsigned (recentred), and one deliberately corrupt payload
    * pinning the quarantine path (sample_rate -1, null sums) through the
    * same oracle. */
  // (id, sampleRate, bits, channels, frames, sample(frameIdx, chan)):
  // 16-bit entries return the signed sample, the 8-bit entry the raw
  // unsigned byte (decode recenters it by -128)
  private val mmAudioSpecs: Seq[(Long, Int, Int, Int, Int, (Int, Int) => Int)] = Seq(
    (0L, 8000, 16, 1, 400, (i, _) => ((i * 37 + 11) % 65536) - 32768),
    (1L, 16000, 16, 2, 500, (i, c) =>
      ((i * (if (c == 0) 31 else 17) + (if (c == 0) 7 else 3)) % 65536) - 32768),
    (2L, 11025, 8, 1, 300, (i, _) => (i * 29 + 5) % 256))
  private val mmDecodeAudio = Q(
    (s, dir) => {
      import s.implicits._
      import javax.sound.sampled.{AudioFileFormat, AudioFormat, AudioInputStream, AudioSystem}
      val rows = mmAudioSpecs.map { case (id, rate, bits, ch, frames, sample) =>
        val enc = if (bits == 16) AudioFormat.Encoding.PCM_SIGNED
                  else AudioFormat.Encoding.PCM_UNSIGNED
        val fmt = new AudioFormat(enc, rate.toFloat, bits, ch,
          ch * bits / 8, rate.toFloat, false)
        val raw = new Array[Byte](frames * ch * bits / 8)
        var i = 0
        while (i < frames) {
          var c = 0
          while (c < ch) {
            val v = sample(i, c)
            if (bits == 16) {
              raw((i * ch + c) * 2) = (v & 0xff).toByte
              raw((i * ch + c) * 2 + 1) = ((v >> 8) & 0xff).toByte
            } else raw(i * ch + c) = (v & 0xff).toByte
            c += 1
          }
          i += 1
        }
        val ais = new AudioInputStream(
          new java.io.ByteArrayInputStream(raw), fmt, frames.toLong)
        val bos = new java.io.ByteArrayOutputStream()
        AudioSystem.write(ais, AudioFileFormat.Type.WAVE, bos)
        (id, bos.toByteArray)
      } :+ (mmAudioSpecs.size.toLong, "definitely not a wav".getBytes("UTF-8"))
      val fixtures = rows.toDF("audio_id", "payload").repartition(2)
      graft.operators.Multimodal.decodeAudioFeatures(fixtures)
        .orderBy($"audio_id")
    },
    Some {
      val vals = mmAudioSpecs.map { case (id, rate, bits, ch, frames, sample) =>
        val sums = new Array[Long](2); val sumsq = new Array[Long](2)
        for (i <- 0 until frames; c <- 0 until ch) {
          val v = if (bits == 16) sample(i, c) else sample(i, c) - 128
          sums(c) += v; sumsq(c) += v.toLong * v
        }
        val s1 = if (ch > 1) sums(1).toString else "NULL"
        val q1 = if (ch > 1) sumsq(1).toString else "NULL"
        s"($id, $rate, $ch, $frames, ${sums(0)}, ${sumsq(0)}, $s1, $q1)"
      }.mkString(", ") +
        s", (${mmAudioSpecs.size}, -1, -1, -1, NULL, NULL, NULL, NULL)"
      s"""SELECT CAST(audio_id AS BIGINT) AS audio_id,
        CAST(sample_rate AS INTEGER) AS sample_rate,
        CAST(channels AS INTEGER) AS channels,
        CAST(n_frames AS BIGINT) AS n_frames,
        CAST(sum_0 AS BIGINT) AS sum_0, CAST(sumsq_0 AS BIGINT) AS sumsq_0,
        CAST(sum_1 AS BIGINT) AS sum_1, CAST(sumsq_1 AS BIGINT) AS sumsq_1
      FROM (VALUES $vals)
        t(audio_id, sample_rate, channels, n_frames, sum_0, sumsq_0, sum_1, sumsq_1)
      ORDER BY audio_id"""
    })

  /** Minimal spec-conformant AVI/RIFF writer (raw `BI_RGB` 24-bit DIB
    * frames, bottom-up unless `topDown`): fixture-building for the video
    * decode oracle and specs — the ENGINE never writes AVI, it reads it.
    * Kept here (not test scope) because the oracle query must build its
    * own inputs, like the PNG/WAV fixtures above. */
  private[graft] def aviRgb(w: Int, h: Int, frames: Int,
                            pixel: (Int, Int, Int) => (Int, Int, Int),
                            topDown: Boolean = false): Array[Byte] = {
    def u16(v: Int) = Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte)
    def u32(v: Int) = Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
      ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
    def cc(s: String) = s.getBytes("US-ASCII")
    def chunk(id: String, body: Array[Byte]) =
      cc(id) ++ u32(body.length) ++ body ++
        (if (body.length % 2 == 1) Array(0.toByte) else Array.empty[Byte])
    def list(typ: String, body: Array[Byte]) = chunk("LIST", cc(typ) ++ body)
    val stride = (w * 3 + 3) & ~3 // DIB rows pad to 4 bytes
    val frameChunks = (0 until frames).flatMap { f =>
      val d = new Array[Byte](stride * h)
      for (y <- 0 until h; x <- 0 until w) {
        val (r, g, b) = pixel(f, x, y)
        val row = if (topDown) y else h - 1 - y // bottom-up storage
        d(row * stride + x * 3) = b.toByte
        d(row * stride + x * 3 + 1) = g.toByte
        d(row * stride + x * 3 + 2) = r.toByte
      }
      chunk("00db", d)
    }.toArray
    val avih = u32(33333) ++ u32(0) ++ u32(0) ++ u32(0) ++ u32(frames) ++
      u32(0) ++ u32(1) ++ u32(0) ++ u32(w) ++ u32(h) ++ Array.fill[Byte](16)(0)
    val strh = cc("vids") ++ cc("DIB ") ++ Array.fill[Byte](48)(0)
    val strf = u32(40) ++ u32(w) ++ u32(if (topDown) -h else h) ++ u16(1) ++
      u16(24) ++ u32(0) ++ u32(stride * h) ++ u32(0) ++ u32(0) ++ u32(0) ++ u32(0)
    val hdrl = list("hdrl", chunk("avih", avih) ++
      list("strl", chunk("strh", strh) ++ chunk("strf", strf)))
    val body = cc("AVI ") ++ hdrl ++ list("movi", frameChunks)
    cc("RIFF") ++ u32(body.length) ++ body
  }

  /** REAL video decode over AVI containers
    * ([[graft.operators.Multimodal.decodeVideoFeatures]]): deterministic
    * per-frame BGR patterns are AVI-ENCODED on the driver (raw `BI_RGB`
    * DIB frames — lossless, so the RIFF walk + row-stride + bottom-up
    * math must reproduce every pixel), decoded DISTRIBUTED, with
    * `sampleEvery = 2` frame sampling so the sampled-subset arithmetic is
    * pinned too. Covers even and stride-padded odd widths, bottom-up and
    * top-down frames, and one corrupt payload through the quarantine
    * path. The MJPG coding rides the same JPEG codec as `mm_decode_real`
    * and is spec-tested (`FunctionsSpec`) rather than oracled — JPEG is
    * lossy, so its sums aren't pattern-derivable. */
  // (id, w, h, frames, topDown)
  private val mmVideoSpecs: Seq[(Long, Int, Int, Int, Boolean)] = Seq(
    (0L, 16, 12, 5, false),
    (1L, 9, 7, 4, true), // odd width: 27-byte rows pad to 28
    (2L, 8, 8, 1, false))
  private def mmVideoPixel(f: Int, x: Int, y: Int): (Int, Int, Int) =
    ((x * 5 + y * 3 + f * 11) % 256, (x * 2 + y * 7 + f * 3) % 256,
      (x * 11 + y + f * 5) % 256)
  private val mmDecodeVideo = Q(
    (s, dir) => {
      import s.implicits._
      val rows = mmVideoSpecs.map { case (id, w, h, nf, td) =>
        (id, aviRgb(w, h, nf, mmVideoPixel, topDown = td))
      } :+ (mmVideoSpecs.size.toLong, "RIFFxxxxnot avi".getBytes("UTF-8"))
      val fixtures = rows.toDF("video_id", "payload").repartition(2)
      graft.operators.Multimodal.decodeVideoFeatures(fixtures, sampleEvery = 2)
        .orderBy($"video_id")
    },
    Some {
      val vals = mmVideoSpecs.map { case (id, w, h, nf, _) =>
        var r = 0L; var g = 0L; var b = 0L; var sampled = 0L
        for (f <- 0 until nf if f % 2 == 0) {
          sampled += 1
          for (y <- 0 until h; x <- 0 until w) {
            val (pr, pg, pb) = mmVideoPixel(f, x, y)
            r += pr; g += pg; b += pb
          }
        }
        s"($id, $w, $h, $nf, $sampled, $r, $g, $b)"
      }.mkString(", ") +
        s", (${mmVideoSpecs.size}, -1, -1, -1, -1, NULL, NULL, NULL)"
      s"""SELECT CAST(video_id AS BIGINT) AS video_id,
        CAST(width AS INTEGER) AS width, CAST(height AS INTEGER) AS height,
        CAST(n_frames AS BIGINT) AS n_frames,
        CAST(frames_sampled AS BIGINT) AS frames_sampled,
        CAST(sum_r AS BIGINT) AS sum_r, CAST(sum_g AS BIGINT) AS sum_g,
        CAST(sum_b AS BIGINT) AS sum_b
      FROM (VALUES $vals)
        t(video_id, width, height, n_frames, frames_sampled, sum_r, sum_g, sum_b)
      ORDER BY video_id"""
    })

  /** REAL Structured Streaming query (AvailableNow over the events parquet)
    * verified against the same DuckDB oracle as the batch window agg —
    * stream/batch parity on identical input. */
  private val stTumbling = Q(
    (s, dir) => {
      // Streaming state partitioning: each shuffle partition carries an
      // HDFS-backed state store whose per-batch snapshot cost dwarfs the
      // ~40k window keys here; 8 stores is plenty at this key cardinality.
      // State partitions are fixed per checkpoint, so this is a per-QUERY
      // choice — made on a cloned session (shared SparkContext, isolated
      // SQLConf) so concurrent queries on `s` never see mutated global conf.
      val ss = s.newSession()
      ss.conf.set("spark.sql.shuffle.partitions", "8")
      ss.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      import ss.implicits._
      val raw = ss.read.parquet(s"$dir/events.parquet")
      val stream = Tables.normalizeEventsTs(
        Tables.streamTable(ss, dir, "events.parquet", raw.schema))
      val agg = stream
        .groupBy(window($"ts", "5 minutes").getField("start").cast("string").as("window_start"),
                 $"event_type")
        .agg(count(lit(1)).as("n"))
      graft.streaming.StreamingPipelines
        .collectStream(ss, agg, s"st_tumbling_${System.nanoTime()}")
        .orderBy($"window_start", $"event_type")
    },
    Some("""SELECT CAST(time_bucket(INTERVAL '5 minutes', ts) AS VARCHAR) AS window_start,
      event_type, count(*) AS n
      FROM events GROUP BY 1, 2 ORDER BY window_start, event_type"""))

  /** REAL Structured Streaming exact dedup: `dropDuplicates` over a
    * key pair emits each key once ever (append mode), so the collected
    * output equals DISTINCT over the same input — stream/batch parity on
    * identical data, like [[stTumbling]]. Only the key columns are
    * selected, so the result is deterministic regardless of which
    * physical row arrives first.
    *
    * State note: plain dropDuplicates keeps one state row per distinct
    * key forever — right for a bounded key space (user × event_type
    * here). The unbounded-key variant at 100 TB is
    * `dropDuplicatesWithinWatermark`, which evicts state past the
    * watermark at the cost of re-admitting keys that reappear later;
    * its eviction/re-admit semantics are pinned in `StreamingDedupSpec`
    * (order-dependent output makes it a spec, not an oracle query). */
  private val stDedup = Q(
    (s, dir) => {
      val ss = s.newSession()
      ss.conf.set("spark.sql.shuffle.partitions", "8")
      ss.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      import ss.implicits._
      val raw = ss.read.parquet(s"$dir/events.parquet")
      val stream = Tables.streamTable(ss, dir, "events.parquet", raw.schema)
      val deduped = stream.select($"user_id", $"event_type")
        .dropDuplicates("user_id", "event_type")
      graft.streaming.StreamingPipelines
        .collectStream(ss, deduped, s"st_dedup_${System.nanoTime()}",
          org.apache.spark.sql.streaming.OutputMode.Append())
        .orderBy($"user_id", $"event_type")
    },
    Some("""SELECT DISTINCT user_id, event_type FROM events
      ORDER BY user_id, event_type"""))

  /** REAL stream-stream interval join (the last big streaming operator
    * class): views and clicks are two watermarked streams over the same
    * events source; a click joins every view by the same user within the
    * preceding 10 minutes. Inner joins emit on match, so with one
    * AvailableNow pass the output equals the batch join — stream/batch
    * parity again. The watermark + time-range condition is what BOUNDS
    * the join state at 100 TB: each side buffers only rows younger than
    * watermark + interval, so state is O(rows in the lateness window),
    * not O(stream history). */
  private val stStreamJoin = Q(
    (s, dir) => {
      val ss = s.newSession()
      ss.conf.set("spark.sql.shuffle.partitions", "8")
      ss.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      import ss.implicits._
      val raw = ss.read.parquet(s"$dir/events.parquet")
      def stream = Tables.normalizeEventsTs(
        Tables.streamTable(ss, dir, "events.parquet", raw.schema))
      val views = stream.filter($"event_type" === "view")
        .select($"user_id".as("v_user"), $"ts".as("view_ts"))
        .withWatermark("view_ts", "1 hour")
      val clicks = stream.filter($"event_type" === "click")
        .select($"user_id".as("c_user"), $"ts".as("click_ts"))
        .withWatermark("click_ts", "1 hour")
      val joined = views.join(clicks,
          $"v_user" === $"c_user" &&
          $"click_ts" >= $"view_ts" &&
          $"click_ts" <= $"view_ts" + expr("INTERVAL 10 MINUTES"))
        .select($"v_user".as("user_id"),
          $"view_ts".cast("string").as("view_ts"),
          $"click_ts".cast("string").as("click_ts"))
      graft.streaming.StreamingPipelines
        .collectStream(ss, joined, s"st_stream_join_${System.nanoTime()}",
          org.apache.spark.sql.streaming.OutputMode.Append())
        .orderBy($"user_id", $"view_ts", $"click_ts")
    },
    Some("""SELECT v.user_id, CAST(v.ts AS VARCHAR) AS view_ts,
        CAST(c.ts AS VARCHAR) AS click_ts
      FROM events v JOIN events c ON v.user_id = c.user_id
      WHERE v.event_type = 'view' AND c.event_type = 'click'
        AND c.ts >= v.ts AND c.ts <= v.ts + INTERVAL 10 MINUTE
      ORDER BY 1, 2, 3"""))

  /** LEFT-OUTER stream-stream interval join — the missing quadrant of the
    * streaming-join matrix next to [[stStreamJoin]]: a view emits even
    * with NO click inside its 10-minute window, but only once the
    * watermark proves no match can still arrive. On a bounded file the
    * watermark stalls 1 hour short of max(ts), which would withhold every
    * unmatched view from the final hour forever — so the query stages the
    * events file into a temp dir (symlink, no copy) next to a far-future
    * SENTINEL view/click pair whose only job is to drive both sides'
    * watermarks past all real data in the terminal no-data micro-batch
    * (the per-key sentinel trick of
    * [[graft.streaming.StatefulSessions.sessionizeBatchComplete]], lifted
    * to file granularity). Sentinels (user_id < 0) are filtered from the
    * COLLECTED result, after the stream ends — never inside the streaming
    * plan, where a pushed-down filter could sit below the watermark node.
    */
  /** Stage `events.parquet` (symlink, no copy) into a fresh temp dir next
    * to a far-future SENTINEL file whose rows (negative user ids, one per
    * requested event kind, max(ts)+10h in the FILE's physical type) exist
    * only to drive the watermark past all real data in the terminal
    * no-data micro-batch. Callers filter sentinel keys (user_id < 0) from
    * the COLLECTED output. Returns the dir to stream from. */
  private def stageEventsWithSentinels(ss: SparkSession, dir: String,
                                       kinds: Seq[(Long, String)]): String = {
    import ss.implicits._
    import org.apache.spark.sql.types.LongType
    val raw = ss.read.parquet(s"$dir/events.parquet")
    val tmp = scratchDir("graft_sentinel")
    java.nio.file.Files.createSymbolicLink(tmp.resolve("events.parquet"),
      java.nio.file.Paths.get(s"$dir/events.parquet").toAbsolutePath)
    val far: Column => Column = raw.schema("ts").dataType match {
      case LongType => c => c + lit(36000L * 1000000000L)
      case _ => c => c + expr("INTERVAL 10 HOURS")
    }
    val mts = raw.agg(max($"ts").as("mts"))
    val sent = kinds.map { case (id, kind) => mts.select(
        lit(id).as("event_id"), far($"mts").as("ts"), lit(id).as("user_id"),
        lit(kind).as("event_type"), lit(0.0).as("value"), lit("").as("props"))
      }.reduce(_ unionByName _)
    val sentStage = tmp.resolve("_sent").toString
    sent.coalesce(1).write.parquet(sentStage)
    val part = new java.io.File(sentStage).listFiles()
      .find(_.getName.endsWith(".parquet"))
      .getOrElse(sys.error("sentinel write produced no parquet"))
    java.nio.file.Files.move(part.toPath, tmp.resolve("zz_sentinel.parquet"))
    tmp.toString
  }

  private val stStreamLeftJoin = Q(
    (s, dir) => {
      val ss = s.newSession()
      ss.conf.set("spark.sql.shuffle.partitions", "8")
      ss.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      import ss.implicits._
      val raw = ss.read.parquet(s"$dir/events.parquet")
      val tmp = stageEventsWithSentinels(ss, dir,
        Seq(-1L -> "view", -2L -> "click"))
      def stream = Tables.normalizeEventsTs(ss.readStream.schema(raw.schema)
        .option("pathGlobFilter", "*.parquet").parquet(tmp))
      val views = stream.filter($"event_type" === "view")
        .select($"user_id".as("v_user"), $"ts".as("view_ts"))
        .withWatermark("view_ts", "1 hour")
      val clicks = stream.filter($"event_type" === "click")
        .select($"user_id".as("c_user"), $"ts".as("click_ts"))
        .withWatermark("click_ts", "1 hour")
      val joined = views.join(clicks,
          $"v_user" === $"c_user" &&
          $"click_ts" >= $"view_ts" &&
          $"click_ts" <= $"view_ts" + expr("INTERVAL 10 MINUTES"),
          "left_outer")
        .select($"v_user".as("user_id"),
          $"view_ts".cast("string").as("view_ts"),
          $"click_ts".cast("string").as("click_ts"))
      graft.streaming.StreamingPipelines
        .collectStream(ss, joined, s"st_stream_left_join_${System.nanoTime()}",
          org.apache.spark.sql.streaming.OutputMode.Append())
        .filter($"user_id" >= 0)
        .orderBy($"user_id", $"view_ts", $"click_ts")
    },
    Some("""SELECT v.user_id, CAST(v.ts AS VARCHAR) AS view_ts,
        CAST(c.ts AS VARCHAR) AS click_ts
      FROM events v LEFT JOIN events c ON v.user_id = c.user_id
        AND c.event_type = 'click'
        AND c.ts >= v.ts AND c.ts <= v.ts + INTERVAL 10 MINUTE
      WHERE v.event_type = 'view'
      ORDER BY 1, 2, 3 NULLS FIRST"""))

  /** STREAMING resample with forward fill
    * ([[graft.streaming.StatefulResample]]) — the streaming twin of
    * [[q35]]: per-user dense 1-hour grid rows emit as the watermark
    * finalizes their buckets (custom per-key state: carry + pending
    * buckets + buffered observations, bounded by the watermark horizon);
    * the sentinel file closes the tail. Verified against the SAME batch
    * oracle as q35 — stream/batch parity on identical input. */
  private val stResampleFfill = Q(
    (s, dir) => {
      val ss = s.newSession()
      ss.conf.set("spark.sql.shuffle.partitions", "8")
      ss.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      import ss.implicits._
      val raw = ss.read.parquet(s"$dir/events.parquet")
      val tmp = stageEventsWithSentinels(ss, dir, Seq(-1L -> "view"))
      val stream = Tables.normalizeEventsTs(ss.readStream.schema(raw.schema)
          .option("pathGlobFilter", "*.parquet").parquet(tmp))
        .filter($"user_id" < 50) // sentinel user -1 passes and drives the watermark
      val grid = graft.streaming.StatefulResample.resample(
        stream.select($"user_id", $"ts", $"event_id", $"value"),
        keyCol = "user_id", tsCol = "ts", tieCol = "event_id",
        valCol = "value", bucketSeconds = 3600L, watermark = "1 hour")
      graft.streaming.StreamingPipelines
        .collectStream(ss, grid.toDF(),
          s"st_resample_${System.nanoTime()}",
          org.apache.spark.sql.streaming.OutputMode.Append())
        .filter($"key".cast("long") >= 0)
        .select($"key".cast("long").as("user_id"),
          $"grid_ts".cast("string").as("grid_ts"),
          $"n_obs", $"filled_value")
        .orderBy($"user_id", $"grid_ts")
    },
    Some("""WITH ev AS (
        SELECT user_id, ts, value, event_id,
          time_bucket(INTERVAL '1 hour', ts) AS bucket
        FROM events WHERE user_id < 50),
      per_bucket AS (
        SELECT user_id, bucket, count(*) AS n_obs,
          max(CASE WHEN rn = 1 THEN value END) AS bucket_value
        FROM (SELECT *, row_number() OVER (PARTITION BY user_id, bucket
            ORDER BY ts DESC, event_id DESC) AS rn FROM ev)
        GROUP BY user_id, bucket),
      grid AS (
        SELECT user_id, unnest(generate_series(b0, b1, INTERVAL 1 HOUR)) AS bucket
        FROM (SELECT user_id, min(bucket) AS b0, max(bucket) AS b1
          FROM ev GROUP BY user_id))
      SELECT g.user_id, CAST(g.bucket AS VARCHAR) AS grid_ts,
        coalesce(p.n_obs, 0) AS n_obs,
        last_value(p.bucket_value IGNORE NULLS) OVER (
          PARTITION BY g.user_id ORDER BY g.bucket
          ROWS UNBOUNDED PRECEDING) AS filled_value
      FROM grid g LEFT JOIN per_bucket p USING (user_id, bucket)
      ORDER BY user_id, grid_ts"""))

  /** REAL stream-STATIC join — the dimension-enrichment shape that
    * completes the streaming-join matrix next to [[stStreamJoin]]: facts
    * stream past a static dimension frame (re-read per micro-batch,
    * broadcast by size), no watermark or state needed because the static
    * side is not append-only. With one AvailableNow pass the output
    * equals the batch join — stream/batch parity like the other st_*
    * queries. */
  private val stStaticJoin = Q(
    (s, dir) => {
      val ss = s.newSession()
      ss.conf.set("spark.sql.shuffle.partitions", "8")
      import ss.implicits._
      val raw = ss.read.parquet(s"$dir/documents.parquet")
      val stream = Tables
        .streamTable(ss, dir, "documents.parquet", raw.schema)
        .select($"doc_id", $"lang")
      val dim = Seq(("en", "english"), ("de", "german"), ("es", "spanish"),
        ("fr", "french"), ("zh", "chinese")).toDF("lang", "lang_name")
      val joined = stream.join(dim, "lang")
        .select($"doc_id", $"lang", $"lang_name")
      graft.streaming.StreamingPipelines
        .collectStream(ss, joined, s"st_static_join_${System.nanoTime()}",
          org.apache.spark.sql.streaming.OutputMode.Append())
        .orderBy($"doc_id")
    },
    Some("""WITH dim(lang, lang_name) AS (VALUES
        ('en', 'english'), ('de', 'german'), ('es', 'spanish'),
        ('fr', 'french'), ('zh', 'chinese'))
      SELECT d.doc_id, d.lang, dim.lang_name
      FROM documents d JOIN dim USING (lang)
      ORDER BY d.doc_id"""))

  /** STREAMING online ANN serving — query vectors arrive as a stream and
    * each micro-batch is answered against the ON-DISK IVF index
    * ([[graft.operators.Ann.ivfIndexTopK]]: probe filter = partition
    * prune) through the ack-ordered `foreachBatch` sink with an
    * idempotent keyed append — the production serving loop (nightly
    * index build, queries stream in all day; at-least-once replay
    * upgraded to effectively-once by the (q_id, n_id) dedup key). The
    * query slice is staged as THREE files served one per trigger, so the
    * answer is assembled across genuinely separate micro-batches; each
    * query's top-k is independent of batching, so the union must equal
    * the batch answer — the SAME oracle as `ann_ivf_disk`
    * (`ivfOracleSql` replays training + assignment + probe in SQL). */
  private val stAnnTopk = Q(
    (s, dir) => {
      val ss = s.newSession()
      ss.conf.set("spark.sql.shuffle.partitions", "8")
      import ss.implicits._
      val e = Tables.embeddings(ss, dir).select($"vec_id", $"embedding")
      val idx = scratchDir("st_ann_idx").toString
      graft.operators.Ann.ivfIndexWriteTrained(e, idx,
        kCentroids = 16, iters = 5, seed = "ivf")
      val qDir = scratchDir("st_ann_q").toString
      e.filter($"vec_id" < 10)
        .select($"vec_id", $"embedding".cast("array<double>").as("embedding"))
        .repartition(3, $"vec_id")
        .write.mode("overwrite").parquet(qDir)
      // the sink path must NOT pre-exist as an empty dir (the idempotent
      // append's existence probe would read it for schema) — land in a
      // subdir the first batch creates
      val out = scratchDir("st_ann_out").toString + "/data"
      val ck = scratchDir("st_ann_ck").toString
      val qs = ss.readStream.schema(ss.read.parquet(qDir).schema)
        .option("maxFilesPerTrigger", "1")
        .option("pathGlobFilter", "*.parquet").parquet(qDir)
      // warm serving (r22): the loop holds ONE open index handle — the
      // centroid table pinned, the cells relation listed once — instead
      // of re-opening the store per micro-batch; per-answer rows are
      // identical ([[graft.operators.Ann.ivfServing]])
      val serving = graft.operators.Ann.ivfServing(ss, idx)
      val writer = graft.streaming.StreamingPipelines.ackSink(qs, ck,
        org.apache.spark.sql.streaming.OutputMode.Append()) { (batch, _) =>
        graft.sources.Sinks.idempotentParquetAppend(
          graft.operators.Ann.ivfIndexTopKServe(batch, serving,
            k = 5, nProbe = 2),
          out, Seq("q_id", "n_id"))
      }
      try graft.streaming.StreamingPipelines.runToCompletion(writer)
      finally serving.close()
      ss.read.parquet(out)
        .select($"q_id", $"n_id", $"cosine", $"rk")
        .orderBy($"q_id", $"rk")
    },
    Some(ivfOracleSql))

  /** Unigram-LM quality scoring (CCNet-style bits/token under the
    * corpus's own unigram distribution — see
    * [[graft.operators.Corpus.lmQualityScore]]). vocabSize=16 here so the
    * out-of-vocabulary floor path is exercised at test scale; per-token
    * bits round to 6 and sum through DECIMAL so the mean is
    * order-independent across engines. */
  private val taLmScore = Q(
    (s, dir) => {
      import s.implicits._
      graft.operators.Corpus.lmQualityScore(
          Tables.documents(s, dir), vocabSize = 16)
        .orderBy($"doc_id")
    },
    Some(s"""WITH $toksCte,
      tok AS (SELECT doc_id, unnest(ts) AS w FROM toks),
      total AS (SELECT count(*)::DOUBLE AS n FROM tok),
      vocab AS (SELECT w, count(*)::DOUBLE AS c FROM tok
        GROUP BY w ORDER BY count(*) DESC, w LIMIT 16),
      scored AS (SELECT t.doc_id,
          CAST(round(-log2(coalesce(v.c, 0.5) / total.n), 6) AS DECIMAL(18,6)) AS bits
        FROM tok t LEFT JOIN vocab v USING (w) CROSS JOIN total),
      agg AS (SELECT doc_id, CAST(SUM(bits) * 1000000 AS BIGINT) AS sum_micro,
          count(*) AS n_tokens
        FROM scored GROUP BY doc_id)
      SELECT d.doc_id, coalesce(a.n_tokens, 0) AS n_tokens,
        coalesce((2 * a.sum_micro + a.n_tokens) // (2 * a.n_tokens), 0)::DOUBLE
          / 1000000.0 AS lm_bits_per_token
      FROM documents d LEFT JOIN agg a USING (doc_id) ORDER BY d.doc_id"""))

  /** Bigram LM with stupid backoff ([[graft.operators.Corpus
    * .bigramLmScore]]): order-sensitive quality scoring — the oracle
    * replays training (pruned bigram table + kept-marginal contexts) AND
    * scoring (first token unigram, bigram MLE, alpha-backoff) with the
    * same round-6 DECIMAL bit sums. vocabSize=16 like ta_lm_score so the
    * OOV and backoff paths are genuinely exercised at fixture scale. */
  private val taBigramScore = Q(
    (s, dir) => {
      import s.implicits._
      graft.operators.Corpus.bigramLmScore(
          Tables.documents(s, dir), vocabSize = 16)
        .orderBy($"doc_id")
    },
    Some(s"""WITH $toksCte,
      tok AS (SELECT doc_id, unnest(ts) AS w FROM toks),
      total AS (SELECT count(*)::DOUBLE AS n FROM tok),
      vocab AS (SELECT w, count(*)::DOUBLE AS uc FROM tok
        GROUP BY w ORDER BY count(*) DESC, w LIMIT 16),
      bg AS (SELECT doc_id, ts[i] AS prev, ts[i + 1] AS w
        FROM (SELECT doc_id, ts, unnest(range(1, len(ts))) AS i
          FROM toks WHERE len(ts) >= 2)),
      bc AS (SELECT prev, w, count(*)::DOUBLE AS cb FROM bg
        GROUP BY prev, w HAVING count(*) >= 2),
      ctx AS (SELECT prev, sum(cb) AS cc FROM bc GROUP BY prev),
      firstb AS (SELECT t.doc_id,
          CAST(round(-log2(coalesce(v.uc, 0.5) / total.n), 6)
            AS DECIMAL(18,6)) AS bits
        FROM (SELECT doc_id, ts[1] AS w FROM toks WHERE len(ts) >= 1) t
        LEFT JOIN vocab v USING (w) CROSS JOIN total),
      bgb AS (SELECT g.doc_id,
          CAST(round(CASE WHEN b.cb IS NOT NULL THEN -log2(b.cb / c.cc)
            ELSE -log2(0.4 * coalesce(v.uc, 0.5) / total.n) END, 6)
            AS DECIMAL(18,6)) AS bits
        FROM bg g LEFT JOIN bc b USING (prev, w)
        LEFT JOIN ctx c USING (prev)
        LEFT JOIN vocab v USING (w) CROSS JOIN total),
      ab AS (SELECT doc_id, CAST(SUM(bits) * 1000000 AS BIGINT) AS sum_micro,
          count(*) AS n_tokens
        FROM (SELECT * FROM firstb UNION ALL SELECT * FROM bgb)
        GROUP BY doc_id)
      SELECT d.doc_id, coalesce(a.n_tokens, 0) AS n_tokens,
        coalesce((2 * a.sum_micro + a.n_tokens) // (2 * a.n_tokens), 0)::DOUBLE
          / 1000000.0 AS bigram_bits_per_token
      FROM documents d LEFT JOIN ab a USING (doc_id) ORDER BY d.doc_id"""))

  /** The Gopher rule battery ([[graft.functions.TextFunctions.gopherRules]])
    * — per-rule booleans + the conjunction, all exact integer-count
    * ratios (no float-sum ceremony needed). */
  private val taGopherRules = Q(
    (s, dir) => {
      import s.implicits._
      val g = TF.gopherRules($"text")
      Tables.documents(s, dir).select($"doc_id",
          g.getField("word_count_ok").as("word_count_ok"),
          g.getField("mean_word_len_ok").as("mean_word_len_ok"),
          g.getField("symbol_ratio_ok").as("symbol_ratio_ok"),
          g.getField("alpha_word_ok").as("alpha_word_ok"),
          g.getField("bullet_ok").as("bullet_ok"),
          g.getField("ellipsis_ok").as("ellipsis_ok"),
          g.getField("gopher_pass").as("gopher_pass"))
        .orderBy($"doc_id")
    },
    Some(s"""WITH $toksCte,
      f AS (SELECT d.doc_id,
          len(t.ts)::DOUBLE AS nt,
          greatest(len(t.ts)::DOUBLE, 1.0) AS st,
          length(array_to_string(t.ts, ''))::DOUBLE AS chars_in_toks,
          len(regexp_extract_all(d.text, '[#…]|\\.\\.\\.'))::DOUBLE AS symbols,
          len(list_filter(t.ts, w -> regexp_matches(w, '[A-Za-z]')))::DOUBLE AS alpha_words,
          greatest(len(string_split(d.text, chr(10)))::DOUBLE, 1.0) AS nl,
          len(list_filter(string_split(d.text, chr(10)),
            l -> regexp_matches(trim(l), '^[-*•]')))::DOUBLE AS bullets,
          len(list_filter(string_split(d.text, chr(10)),
            l -> regexp_matches(trim(l), '(\\.\\.\\.|…)$$')))::DOUBLE AS ellipses
        FROM documents d JOIN toks t USING (doc_id))
      SELECT doc_id,
        (nt >= 50 AND nt <= 100000) AS word_count_ok,
        (chars_in_toks/st >= 3 AND chars_in_toks/st <= 10) AS mean_word_len_ok,
        (symbols/st <= 0.1) AS symbol_ratio_ok,
        (alpha_words/st >= 0.8) AS alpha_word_ok,
        (bullets/nl <= 0.9) AS bullet_ok,
        (ellipses/nl <= 0.3) AS ellipsis_ok,
        (nt >= 50 AND nt <= 100000 AND chars_in_toks/st >= 3 AND chars_in_toks/st <= 10
          AND symbols/st <= 0.1 AND alpha_words/st >= 0.8
          AND bullets/nl <= 0.9 AND ellipses/nl <= 0.3) AS gopher_pass
      FROM f ORDER BY doc_id"""))

  // -------------------------------------------------- corpus preparation
  // Training-data assembly beyond dedup: benchmark decontamination,
  // boilerplate removal, sequence packing, weighted mixing, BM25 scoring.
  // See [[graft.operators.Corpus]] for the scale shapes.

  /** toks CTE shared by the corpus-prep oracles (lazy: referenced by
    * query vals declared both before and after this point). */
  private lazy val toksCte: String = """toks AS (
        SELECT doc_id, CASE WHEN len(trim(text)) = 0 THEN []::VARCHAR[]
          ELSE regexp_split_to_array(trim(text), '\s+') END AS ts
        FROM documents)"""

  /** Benchmark decontamination: training docs sharing any word 5-gram
    * with the held-out "benchmark" slice (doc_id % 7 = 0 here). The
    * benchmark n-gram set broadcasts; the corpus never shuffles on text. */
  private val cpDecon = Q(
    (s, dir) => {
      import s.implicits._
      val docs = Tables.documents(s, dir)
      graft.operators.Corpus.deconOverlap(
          docs.filter($"doc_id" % 7 =!= 0), docs.filter($"doc_id" % 7 === 0), n = 5)
        .orderBy($"doc_id")
    },
    Some(s"""WITH $toksCte,
      grams AS (
        SELECT doc_id, unnest(list_distinct(CASE WHEN len(ts) < 5 THEN []::BIGINT[]
          ELSE list_transform(range(0, len(ts) - 4),
            i -> ('0x' || substr(md5(array_to_string(ts[i+1:i+5], ' ')), 1, 15))::BIGINT) END)) AS g
        FROM toks),
      bench AS (SELECT DISTINCT g FROM grams WHERE doc_id % 7 = 0),
      corpus AS (SELECT doc_id, g FROM grams WHERE doc_id % 7 <> 0)
      SELECT c.doc_id, count(*) AS n_hits
      FROM corpus c JOIN bench USING (g)
      GROUP BY c.doc_id ORDER BY doc_id"""))

  /** The same decontamination behind a broadcast BLOOM prefilter
    * ([[graft.operators.Corpus.deconBloom]]): corpus docs probe the
    * benchmark-gram filter per-document (no explode), only might-match
    * docs reach the exact confirm join. Bloom filters have no false
    * negatives, so the oracle is IDENTICAL to `cp_decon_overlap` — the
    * fpp only moves work, never answers. */
  private val cpDeconBloom = Q(
    (s, dir) => {
      import s.implicits._
      val docs = Tables.documents(s, dir)
      graft.operators.Corpus.deconBloom(
          docs.filter($"doc_id" % 7 =!= 0), docs.filter($"doc_id" % 7 === 0),
          n = 5, fpp = 0.01)
        .orderBy($"doc_id")
    },
    Some(s"""WITH $toksCte,
      grams AS (
        SELECT doc_id, unnest(list_distinct(CASE WHEN len(ts) < 5 THEN []::BIGINT[]
          ELSE list_transform(range(0, len(ts) - 4),
            i -> ('0x' || substr(md5(array_to_string(ts[i+1:i+5], ' ')), 1, 15))::BIGINT) END)) AS g
        FROM toks),
      bench AS (SELECT DISTINCT g FROM grams WHERE doc_id % 7 = 0),
      corpus AS (SELECT doc_id, g FROM grams WHERE doc_id % 7 <> 0)
      SELECT c.doc_id, count(*) AS n_hits
      FROM corpus c JOIN bench USING (g)
      GROUP BY c.doc_id ORDER BY doc_id"""))

  /** Falcon-style boilerplate removal at 8-word segment granularity:
    * segments in >2 distinct docs are dropped, docs reassembled in order. */
  private val cpSegDedup = Q(
    (s, dir) => {
      import s.implicits._
      graft.operators.Corpus.segmentDedup(Tables.documents(s, dir),
          segWords = 8, maxDf = 2)
        .orderBy($"doc_id")
    },
    Some(s"""WITH $toksCte,
      seg0 AS (SELECT doc_id, ts, unnest(CASE WHEN len(ts) = 0 THEN []::BIGINT[]
          ELSE range(0, CAST(ceil(len(ts) / 8.0) AS BIGINT)) END) AS i FROM toks),
      segs AS (SELECT doc_id, i AS seg_idx,
          array_to_string(ts[i*8+1:i*8+8], ' ') AS seg FROM seg0),
      boiler AS (SELECT seg FROM segs GROUP BY seg HAVING count(DISTINCT doc_id) > 2),
      kept AS (SELECT * FROM segs WHERE seg NOT IN (SELECT seg FROM boiler)),
      agg AS (SELECT doc_id, string_agg(seg, ' ' ORDER BY seg_idx) AS clean_text,
          count(*) AS nkept FROM kept GROUP BY doc_id)
      SELECT t.doc_id, coalesce(a.clean_text, '') AS clean_text,
        CAST(ceil(len(t.ts) / 8.0) AS BIGINT) - coalesce(a.nkept, 0) AS n_removed
      FROM toks t LEFT JOIN agg a USING (doc_id) ORDER BY doc_id"""))

  /** Token-budget sequence packing: deterministic greedy fill in doc_id
    * order, seq_id = floor(exclusive-prefix-tokens / 256). The oracle is
    * the textbook global window; the Spark side computes the same number
    * with two-pass per-partition prefix sums (no single-task window). */
  private val cpPack = Q(
    (s, dir) => {
      import s.implicits._
      graft.operators.Corpus.packSequences(Tables.documents(s, dir), budget = 256)
        .orderBy($"doc_id")
    },
    Some("""WITH tk AS (SELECT doc_id, CAST(CASE WHEN len(trim(text)) = 0 THEN 0
        ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS BIGINT) AS tok
      FROM documents)
      SELECT doc_id, tok,
        CAST(floor(coalesce(sum(tok) OVER (ORDER BY doc_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 256.0) AS BIGINT) AS seq_id
      FROM tk ORDER BY doc_id"""))

  /** Packing with WITHIN-SEQUENCE offsets
    * ([[graft.operators.Corpus.packSequences]] `withOffsets`): `seq_pos`
    * = prefix-sum mod budget — what a training loader needs to place
    * attention-mask resets / loss-mask boundaries between packed docs.
    * Same two-pass prefix-sum machinery; the offset is pure arithmetic
    * on the cumulative the oracle already replays. */
  private val cpPackOffsets = Q(
    (s, dir) => {
      import s.implicits._
      graft.operators.Corpus.packSequences(Tables.documents(s, dir),
          budget = 256, withOffsets = true)
        .orderBy($"doc_id")
    },
    Some("""WITH tk AS (SELECT doc_id, CAST(CASE WHEN len(trim(text)) = 0 THEN 0
        ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS BIGINT) AS tok
      FROM documents),
      cum AS (SELECT doc_id, tok,
        coalesce(sum(tok) OVER (ORDER BY doc_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS c
        FROM tk)
      SELECT doc_id, tok,
        CAST(floor(c / 256.0) AS BIGINT) AS seq_id,
        CAST(c % 256 AS BIGINT) AS seq_pos
      FROM cum ORDER BY doc_id"""))

  /** Chat-transcript assembly ([[graft.operators.Corpus.chatAssembly]]):
    * events sessionized per user by 30-min gap, each session's turns
    * concatenated IN (ts, event_id) ORDER into one transcript — the
    * SFT-data prep composition, with the ordering tie-broken so both
    * engines emit byte-identical strings. */
  private val cpChatAssembly = Q(
    (s, dir) => {
      import s.implicits._
      graft.operators.Corpus.chatAssembly(Tables.events(s, dir),
          turn = concat(lit("["), $"event_type", lit("]")))
        .orderBy($"user_id", $"sess_id")
    },
    Some("""WITH ev AS (
        SELECT user_id, ts, event_id, event_type,
          CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
            OR epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) > 1800000000
            THEN 1 ELSE 0 END AS new_sess
        FROM events),
      sess AS (
        SELECT user_id, ts, event_id, event_type,
          sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
            ROWS UNBOUNDED PRECEDING) AS sess_id
        FROM ev)
      SELECT user_id, CAST(sess_id AS BIGINT) AS sess_id,
        count(*) AS n_turns,
        string_agg('[' || event_type || ']', chr(10) ORDER BY ts, event_id) AS transcript
      FROM sess GROUP BY user_id, sess_id
      ORDER BY user_id, sess_id"""))

  /** Deterministic weighted corpus mixing: per-language keep rates via
    * md5(doc_id) — reproducible across runs, partitionings, and engines. */
  private val cpMix = Q(
    (s, dir) => {
      import s.implicits._
      graft.operators.Corpus.mixWeighted(Tables.documents(s, dir),
          Seq("en" -> 0.8, "de" -> 0.5, "es" -> 0.25, "fr" -> 0.5, "zh" -> 0.1))
        .orderBy($"doc_id")
    },
    Some("""WITH rates(lang, _rate) AS (VALUES
        ('en', 0.8), ('de', 0.5), ('es', 0.25), ('fr', 0.5), ('zh', 0.1))
      SELECT doc_id, lang FROM documents JOIN rates USING (lang)
      WHERE ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 10000
        < CAST(_rate * 10000 AS BIGINT)
      ORDER BY doc_id"""))

  /** Character entropy ([[graft.operators.Corpus.charEntropy]]) — the
    * gibberish/encoding-noise signal; (doc_id, char) word-count shuffle,
    * DECIMAL-summed rounded terms for cross-engine determinism. */
  private val taCharEntropy = Q(
    (s, dir) => {
      import s.implicits._
      graft.operators.Corpus.charEntropy(Tables.documents(s, dir))
        .orderBy($"doc_id")
    },
    Some("""WITH pos AS (SELECT doc_id, text,
          unnest(range(1, length(text) + 1)) AS i FROM documents),
      ch AS (SELECT doc_id, substr(text, i, 1) AS ch FROM pos),
      hist AS (SELECT doc_id, ch, count(*)::DOUBLE AS c
        FROM ch GROUP BY doc_id, ch),
      tot AS (SELECT doc_id, sum(c) AS n FROM hist GROUP BY doc_id),
      terms AS (SELECT h.doc_id,
          CAST(round(-(h.c / t.n) * log2(h.c / t.n), 9) AS DECIMAL(18,9)) AS bits
        FROM hist h JOIN tot t USING (doc_id)),
      agg AS (SELECT doc_id, CAST(SUM(bits) * 1000000000 AS BIGINT) AS nano
        FROM terms GROUP BY doc_id)
      SELECT d.doc_id, length(d.text)::BIGINT AS n_chars,
        coalesce((a.nano + 500) // 1000, 0)::DOUBLE / 1000000.0
          AS char_entropy_bits
      FROM documents d LEFT JOIN agg a USING (doc_id) ORDER BY d.doc_id"""))

  /** Temperature mixing at α=0.5 ([[graft.operators.Corpus.mixTemperature]])
    * — keep-rates ∝ n_d^(α-1) anchored at the smallest domain. The
    * pow-derived thresholds are computed ONCE on the driver and injected
    * into the oracle as VALUES literals (captured when the query runs;
    * Verify dumps oracle_sql.json afterwards) — recomputing `pow` in
    * DuckDB risks a last-ulp difference on a .5 rounding boundary
    * shifting a threshold by 1. The SQL-side pow derivation remains as
    * the fallback for flows that read the oracle without running the
    * query. */
  @volatile private var mixThrCapture: Option[Seq[(String, Long)]] = None
  private def mixTemperatureOracle: String = {
    val body = """SELECT d.doc_id, d.lang
      FROM documents d JOIN rates r USING (lang)
      WHERE ('0x' || substr(md5(d.doc_id::VARCHAR), 1, 8))::BIGINT % 10000
        < r.thr
      ORDER BY d.doc_id"""
    mixThrCapture match {
      case Some(thr) =>
        val rows = thr.sortBy(_._1).map { case (d, t) =>
          s"('${d.replace("'", "''")}', ${t}::BIGINT)" }.mkString(", ")
        s"WITH rates(lang, thr) AS (VALUES $rows)\n      $body"
      case None =>
        s"""WITH cnt AS (SELECT lang, count(*)::DOUBLE AS n
        FROM documents GROUP BY lang),
      mn AS (SELECT min(n) AS n_min FROM cnt),
      rates AS (SELECT lang,
          CAST(round(pow(n / n_min, 0.5 - 1.0) * 10000, 0) AS BIGINT) AS thr
        FROM cnt CROSS JOIN mn)
      $body"""
    }
  }
  private val cpMixTemperature = Q.dynamic(
    (s, dir) => {
      import s.implicits._
      val docs = Tables.documents(s, dir)
      val thr = graft.operators.Corpus.temperatureThresholds(docs, alpha = 0.5)
      mixThrCapture = Some(thr)
      graft.operators.Corpus.mixByThresholds(docs, thr)
        .orderBy($"doc_id")
    },
    () => mixTemperatureOracle)

  /** Token-budget mixing ([[graft.operators.Corpus.mixTokenBudget]]):
    * per-domain hash-ordered admission until the token budget is crossed
    * (crossing doc included); es/fr carry no budget and are excluded by
    * construction. The oracle replays the same whitespace token count,
    * hash order, and exclusive prefix-sum admission rule. */
  private val cpMixTokenBudget = Q(
    (s, dir) => {
      import s.implicits._
      graft.operators.Corpus.mixTokenBudget(Tables.documents(s, dir),
          Seq("en" -> 5000L, "de" -> 2000L, "zh" -> 1500L))
        .orderBy($"doc_id")
    },
    Some("""WITH b(lang, budget) AS (VALUES ('en', 5000), ('de', 2000), ('zh', 1500)),
      tk AS (SELECT d.doc_id, d.lang, b.budget,
          len(CASE WHEN len(trim(d.text)) = 0 THEN []::VARCHAR[]
            ELSE regexp_split_to_array(trim(d.text), '\s+') END)::BIGINT AS n_tokens,
          md5(d.doc_id::VARCHAR) AS hk
        FROM documents d JOIN b USING (lang)),
      c AS (SELECT doc_id, lang, n_tokens, budget,
          coalesce(sum(n_tokens) OVER (PARTITION BY lang ORDER BY hk, doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pre
        FROM tk)
      SELECT doc_id, lang, n_tokens FROM c WHERE pre < budget
      ORDER BY doc_id"""))

  /** BM25 top-20 for terms (table, query, spark), Lucene idf floor,
    * k1=1.2 b=0.75. Stats reduce to one broadcast row; tie-break by
    * rounded score then doc_id so the cut is deterministic. */
  private val cpBm25 = Q(
    (s, dir) => {
      import s.implicits._
      graft.operators.Corpus.bm25(Tables.documents(s, dir),
        Seq("table", "query", "spark"), k = 20)
    },
    Some(s"""WITH $toksCte,
      stats AS (SELECT CAST(count(*) AS DOUBLE) AS n,
          CAST(avg(len(ts)) AS DOUBLE) AS avgdl,
          CAST(sum(CASE WHEN list_contains(ts, 'table') THEN 1 ELSE 0 END) AS DOUBLE) AS df0,
          CAST(sum(CASE WHEN list_contains(ts, 'query') THEN 1 ELSE 0 END) AS DOUBLE) AS df1,
          CAST(sum(CASE WHEN list_contains(ts, 'spark') THEN 1 ELSE 0 END) AS DOUBLE) AS df2
        FROM toks),
      tf AS (SELECT doc_id, CAST(len(ts) AS DOUBLE) AS dl,
          CAST(len(list_filter(ts, x -> x = 'table')) AS DOUBLE) AS tf0,
          CAST(len(list_filter(ts, x -> x = 'query')) AS DOUBLE) AS tf1,
          CAST(len(list_filter(ts, x -> x = 'spark')) AS DOUBLE) AS tf2
        FROM toks),
      scored AS (SELECT doc_id,
          ((ln(1.0 + (n - df0 + 0.5) / (df0 + 0.5)) * (tf0 * 2.2) / (tf0 + 1.2 * (0.25 + 0.75 * dl / avgdl)))
           + (ln(1.0 + (n - df1 + 0.5) / (df1 + 0.5)) * (tf1 * 2.2) / (tf1 + 1.2 * (0.25 + 0.75 * dl / avgdl))))
           + (ln(1.0 + (n - df2 + 0.5) / (df2 + 0.5)) * (tf2 * 2.2) / (tf2 + 1.2 * (0.25 + 0.75 * dl / avgdl))) AS score
        FROM tf, stats)
      SELECT doc_id, round(score, 6) AS score FROM scored WHERE score > 0
      ORDER BY round(score, 6) DESC, doc_id LIMIT 20"""))

  /** Exact duplicated-span scrubbing at sliding 8-token windows — every
    * occurrence of a corpus-duplicated span is removed from the text
    * (composes with survivor-keeping dedup; see
    * [[graft.operators.Corpus.scrubDuplicateSpans]]). */
  private val cpScrub = Q(
    (s, dir) => {
      import s.implicits._
      graft.operators.Corpus.scrubDuplicateSpans(Tables.documents(s, dir), k = 8)
        .orderBy($"doc_id")
    },
    Some(s"""WITH $toksCte,
      tk AS (SELECT doc_id, unnest(ts) AS tok, generate_subscripts(ts, 1) AS p
        FROM toks),
      w0 AS (SELECT doc_id, ts, unnest(CASE WHEN len(ts) < 8 THEN []::BIGINT[]
          ELSE range(0, len(ts) - 7) END) AS i FROM toks),
      wins AS (SELECT doc_id, i,
          ('0x' || substr(md5(array_to_string(ts[i+1:i+8], ' ')), 1, 15))::BIGINT AS h
        FROM w0),
      dup AS (SELECT h FROM wins GROUP BY h HAVING count(*) > 1),
      cov AS (SELECT DISTINCT w.doc_id, w.i + t.u AS p0
        FROM wins w JOIN dup USING (h), range(0, 8) t(u)),
      kp AS (SELECT tk.doc_id, tk.p, tk.tok FROM tk
        ANTI JOIN cov ON (cov.doc_id = tk.doc_id AND cov.p0 = tk.p - 1)),
      agg AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY p) AS clean_text,
          count(*) AS kept FROM kp GROUP BY doc_id)
      SELECT t.doc_id, coalesce(a.clean_text, '') AS clean_text,
        CAST(len(t.ts) AS BIGINT) - coalesce(a.kept, 0) AS n_removed
      FROM toks t LEFT JOIN agg a USING (doc_id) ORDER BY doc_id"""))

  /** Within-document exact line dedup ([[graft.operators.Corpus
    * .dedupLines]], the C4/Gopher page-cleaning rule). The fixture text is
    * single-line, so the query CONSTRUCTS a multi-line page from it —
    * the full text twice (an exact repeated line, like a nav bar crawled
    * twice) around a 40-char prefix line — with the identical construction
    * in the oracle; dedup must keep [text, prefix] in first-occurrence
    * order. The oracle's first-occurrence filter is the (x, i) lambda +
    * list_position idiom (DuckDB's array_distinct analog with pinned
    * ordering). */
  private val cpDedupLines = Q(
    (s, dir) => {
      import s.implicits._
      val page = concat_ws("\n", $"text", substring($"text", 1, 40), $"text")
      graft.operators.Corpus.dedupLines(
          Tables.documents(s, dir).select($"doc_id", page.as("text")))
        .orderBy($"doc_id")
    },
    Some("""WITH d AS (SELECT doc_id,
        concat_ws(chr(10), text, substring(text, 1, 40), text) AS t
        FROM documents),
      l AS (SELECT doc_id, string_split(t, chr(10)) AS ls FROM d),
      k AS (SELECT doc_id, ls,
        list_filter(ls, (x, i) -> list_position(ls, x) = i) AS kept FROM l)
      SELECT doc_id, array_to_string(kept, chr(10)) AS clean_text,
        CAST(len(ls) AS BIGINT) AS lines_before,
        CAST(len(kept) AS BIGINT) AS lines_after
      FROM k ORDER BY doc_id"""))

  /** Quality-weighted importance sampling: keep probability scales with
    * document length capped at 1 (`least(1, n_chars/400)`) — longer docs
    * kept preferentially, decided by the reproducible md5(doc_id) draw. */
  private val cpSample = Q(
    (s, dir) => {
      import s.implicits._
      graft.operators.Corpus.sampleByRate(
          Tables.documents(s, dir).select($"doc_id", $"n_chars"),
          least(lit(1.0), $"n_chars" / lit(400.0)))
        .orderBy($"doc_id")
    },
    Some("""SELECT doc_id, n_chars FROM documents
      WHERE ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 10000
        < CAST(floor(least(1.0, n_chars / 400.0) * 10000) AS BIGINT)
      ORDER BY doc_id"""))

  /** Shared oracle CTE chain ending in `qdoc(doc_id, source, qraw, q)` —
    * the composite quality score (parity text of ta_quality's oracle),
    * raw and rounded-6, for the quota/curriculum queries below.
    * [[qdocCteFrom]] parameterizes the source relation so compositions
    * can score NORMALIZED text (cp_manifest) with the same chain. */
  private def qdocCteFrom(src: String): String = s"""qt0 AS (
        SELECT doc_id, source,
          CASE WHEN len(trim(text)) = 0 THEN []::VARCHAR[]
            ELSE regexp_split_to_array(trim(text), '\\s+') END AS ts,
          length(text)::DOUBLE AS nc,
          length(regexp_replace(text, '[^!-/:-@\\[-`{-~]', '', 'g'))::DOUBLE AS punct,
          length(regexp_replace(text, '[^0-9]', '', 'g'))::DOUBLE AS digits,
          length(regexp_replace(text, '[^ \\t\\n]', '', 'g'))::DOUBLE AS spaces
        FROM $src),""" + qdocTail
  private lazy val qdocCte: String = qdocCteFrom("documents")
  private lazy val qdocTail: String = """
      qt1 AS (
        SELECT doc_id, source,
          (nc - spaces) / greatest(len(ts)::DOUBLE, 1.0) AS mtl,
          punct / greatest(nc, 1.0) AS pr,
          digits / greatest(nc, 1.0) AS dr,
          len(list_filter(ts, x -> list_contains(
            ['the','a','of','and','to','in','is','it','that','for'], lower(x))))::DOUBLE
            / greatest(len(ts)::DOUBLE, 1.0) AS sr
        FROM qt0),
      qdoc AS (
        SELECT doc_id, source,
          greatest(0.0, least(1.0,
            0.5 * least(sr * 4, 1.0) +
            0.3 * (CASE WHEN mtl BETWEEN 3.0 AND 10.0 THEN 1.0 ELSE 0.0 END) +
            0.2 * (1.0 - least((pr + dr) * 5, 1.0)))) AS qraw,
          round(greatest(0.0, least(1.0,
            0.5 * least(sr * 4, 1.0) +
            0.3 * (CASE WHEN mtl BETWEEN 3.0 AND 10.0 THEN 1.0 ELSE 0.0 END) +
            0.2 * (1.0 - least((pr + dr) * 5, 1.0)))), 6) AS q
        FROM qt1)"""

  /** Deterministic seeded epoch shuffle —
    * [[graft.operators.Corpus.seededShuffle]]: cross-engine md5 shuffle
    * key, scale-safe global position (range-partitioned two-pass rank,
    * never a single-task `row_number() OVER (ORDER BY …)`). The oracle IS
    * that single-task window — exactly the shape the operator refuses to
    * run at scale. */
  private val cpShuffleSeeded = Q(
    (s, dir) => {
      import s.implicits._
      graft.operators.Corpus.seededShuffle(
          Tables.documents(s, dir), seed = "r10")
        .orderBy($"doc_id")
    },
    Some("""WITH k AS (
        SELECT doc_id,
          ('0x' || substr(md5('r10_' || doc_id::VARCHAR), 1, 15))::BIGINT AS shuffle_key
        FROM documents)
      SELECT doc_id, shuffle_key,
        row_number() OVER (ORDER BY shuffle_key, doc_id) AS pos
      FROM k ORDER BY doc_id"""))

  /** Curriculum stages — [[graft.operators.Corpus.curriculumStages]]:
    * easy→hard global rank cut into 4 equal chunks by exact rank
    * arithmetic (no ntile edge-group ambiguity). */
  private val cpCurriculum = Q(
    (s, dir) => {
      import s.implicits._
      graft.operators.Corpus.curriculumStages(
          Tables.documents(s, dir), stages = 4)
        .orderBy($"doc_id")
    },
    Some(s"""WITH $qdocCte,
      r AS (SELECT doc_id, round(1.0 - qraw, 6) AS difficulty FROM qdoc),
      rk AS (
        SELECT doc_id, difficulty,
          row_number() OVER (ORDER BY difficulty, doc_id) AS pos,
          count(*) OVER () AS n
        FROM r)
      SELECT doc_id, difficulty,
        CAST(floor((pos - 1) * 4 / n) + 1 AS BIGINT) AS stage
      FROM rk ORDER BY doc_id"""))

  /** Per-source quota — [[graft.operators.Corpus.sourceQuota]] on the
    * bounded-heap TopKPerKey operator; the oracle is the window form it
    * replaces. */
  private val cpSourceQuota = Q(
    (s, dir) => {
      import s.implicits._
      graft.operators.Corpus.sourceQuota(Tables.documents(s, dir), k = 10)
        .orderBy($"source", $"q".desc, $"doc_id")
    },
    Some(s"""WITH $qdocCte,
      rk AS (
        SELECT doc_id, source, q,
          row_number() OVER (PARTITION BY source ORDER BY q DESC, doc_id) AS rn
        FROM qdoc)
      SELECT doc_id, source, q FROM rk WHERE rn <= 10
      ORDER BY source, q DESC, doc_id"""))

  /** TF-IDF keywords per document —
    * [[graft.operators.Corpus.tfidfKeywords]]; IDF rounded-then-DECIMAL
    * so the tf·idf product is engine-exact (dsir discipline). */
  private val taKeywords = Q(
    (s, dir) => {
      import s.implicits._
      graft.operators.Corpus.tfidfKeywords(Tables.documents(s, dir), k = 3)
        .orderBy($"doc_id", $"score".desc, $"token")
    },
    Some("""WITH toks AS (
        SELECT doc_id, unnest(CASE WHEN len(trim(text)) = 0 THEN []::VARCHAR[]
          ELSE regexp_split_to_array(trim(text), '\s+') END) AS token
        FROM documents),
      tf AS (SELECT doc_id, token, count(*) AS tf FROM toks GROUP BY 1, 2),
      n AS (SELECT count(*) AS n FROM documents),
      idf AS (SELECT token,
          round(ln((any_value(n.n) + 1.0) / (count(*) + 1.0)), 6)::DECIMAL(18,6) AS idf
        FROM tf CROSS JOIN n GROUP BY token),
      scored AS (
        SELECT doc_id, token, round((tf * idf)::DOUBLE, 6) AS score
        FROM tf JOIN idf USING (token)),
      rk AS (SELECT doc_id, token, score,
          row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, token) AS rn
        FROM scored)
      SELECT doc_id, token, score FROM rk WHERE rn <= 3
      ORDER BY doc_id, score DESC, token"""))

  /** JSONL round-trip — the LLM-corpus interchange format: write the
    * documents table as line-delimited JSON (Spark's codegen'd JSON sink,
    * one file per partition — the sharded-corpus layout), read it back
    * with an explicit schema, and prove byte-exact text fidelity via md5
    * against the parquet original. Unicode and embedded newlines ride the
    * JSON string escapes. */
  private val opJsonl = Q(
    (s, dir) => {
      import s.implicits._
      val tmp = scratchDir("graft_jsonl").toString
      val docs = Tables.documents(s, dir)
      docs.write.mode("overwrite").json(tmp)
      s.read.schema(docs.schema).json(tmp)
        .select($"doc_id", $"lang", $"source", $"n_chars",
          md5($"text").as("text_md5"))
        .orderBy($"doc_id")
    },
    Some("""SELECT doc_id, lang, source, n_chars, md5(text) AS text_md5
      FROM documents ORDER BY doc_id"""))

  /** ORC round-trip — the columnar interchange format next to parquet:
    * write the documents table as ORC (Spark's built-in vectorized ORC
    * sink), read it back under the explicit schema, prove text fidelity
    * by md5. Same discipline as [[opJsonl]]. */
  private val opOrc = Q(
    (s, dir) => {
      import s.implicits._
      val tmp = scratchDir("graft_orc").toString
      val docs = Tables.documents(s, dir)
      docs.write.mode("overwrite").orc(tmp)
      s.read.schema(docs.schema).orc(tmp)
        .select($"doc_id", $"lang", $"source", $"n_chars",
          md5($"text").as("text_md5"))
        .orderBy($"doc_id")
    },
    Some("""SELECT doc_id, lang, source, n_chars, md5(text) AS text_md5
      FROM documents ORDER BY doc_id"""))

  /** Arrow IPC round-trip ([[graft.sources.ArrowInterchange]]) — the
    * reference's inter-daemon wire format (`formats/arrow_msg`) as
    * operator-facing shards: documents out as one `.arrow` file per
    * partition and back (md5 text fidelity, the [[opJsonl]] discipline),
    * PLUS the embeddings table through the list&lt;float32&gt; path — every
    * read-back vector must be ELEMENT-EXACT against the parquet original
    * (floats cross the IPC boundary losslessly; `emb_mismatch` counts
    * vectors that differ and the oracle pins it at zero). */
  private val opArrow = Q(
    (s, dir) => {
      import s.implicits._
      val A = graft.sources.ArrowInterchange
      val docs = Tables.documents(s, dir)
      val tmpD = scratchDir("graft_arrow_docs").toString
      A.writeArrow(docs, tmpD)
      val docsBack = A.readArrow(s, tmpD)
      val embRaw = s.read.parquet(s"$dir/embeddings.parquet")
      val tmpE = scratchDir("graft_arrow_emb").toString
      A.writeArrow(embRaw, tmpE)
      val embBack = A.readArrow(s, tmpE)
      val mismatch = embBack.select($"vec_id", $"embedding".as("e2"))
        .join(embRaw.select($"vec_id", $"embedding".as("e1")), Seq("vec_id"),
          "full_outer")
        .filter(not($"e1" <=> $"e2")).count()
      docsBack.select($"doc_id", $"lang", $"source", $"n_chars",
          md5($"text").as("text_md5"), lit(mismatch).as("emb_mismatch"))
        .orderBy($"doc_id")
    },
    Some("""SELECT doc_id, lang, source, n_chars, md5(text) AS text_md5,
        CAST(0 AS BIGINT) AS emb_mismatch
      FROM documents ORDER BY doc_id"""))

  /** Sentence splitting ([[graft.operators.Corpus.splitSentences]]) — the
    * segmentation pass under chunking/embedding pipelines: pieces =
    * maximal runs of non-terminators plus their trailing `[.!?]` run (no
    * lookbehind — RE2 engines lack it, so the SAME pattern runs in both
    * engines), whitespace-only pieces dropped, surviving sentences
    * trimmed and renumbered per document. */
  private val cpSentences = Q(
    (s, dir) => {
      import s.implicits._
      graft.operators.Corpus.splitSentences(Tables.documents(s, dir))
        .orderBy($"doc_id", $"sent_idx")
    },
    Some("""WITH pieces AS (
        SELECT doc_id, regexp_extract_all(text, '[^.!?]+[.!?]*') AS ps
        FROM documents),
      pos AS (
        SELECT doc_id, i AS p, trim(ps[i]) AS sentence
        FROM pieces CROSS JOIN unnest(range(1, len(ps) + 1)) AS r(i)),
      kept AS (
        SELECT doc_id, sentence,
          row_number() OVER (PARTITION BY doc_id ORDER BY p) AS sent_idx
        FROM pos WHERE len(sentence) > 0)
      SELECT doc_id, sent_idx, sentence,
        CAST(length(sentence) AS BIGINT) AS n_chars
      FROM kept ORDER BY doc_id, sent_idx"""))

  /** EXACT-size deterministic uniform sample — "give me exactly 100 eval
    * docs, reproducibly": the k smallest md5(seed, id) hashes. The
    * hash order is uniform and engine-independent, and the plan is a
    * TakeOrdered (bounded heap per partition + merge of k-row partials) —
    * never a global sort. The fixed-size complement of
    * [[cpSample]]'s per-row rate thinning. */
  private val cpSampleExactK = Q(
    (s, dir) => {
      import s.implicits._
      Tables.documents(s, dir)
        .select($"doc_id", $"source",
          TF.hash60(concat(lit("k100_"), $"doc_id".cast("string")))
            .as("draw"))
        .orderBy($"draw", $"doc_id").limit(100)
        .orderBy($"doc_id")
    },
    Some("""SELECT doc_id, source, draw FROM (
        SELECT doc_id, source,
          ('0x' || substr(md5('k100_' || doc_id::VARCHAR), 1, 15))::BIGINT AS draw
        FROM documents ORDER BY draw, doc_id LIMIT 100)
      ORDER BY doc_id"""))

  /** Per-group exact-k sample — "5 eval docs PER LANGUAGE, reproducibly":
    * the same deterministic draw ranked per group on the bounded-heap
    * [[graft.plans.TopKPerKey]] operator (≤k rows per group per input
    * partition shuffle — a stratified sampler that never sorts a group). */
  private val cpSampleGroupK = Q(
    (s, dir) => {
      import s.implicits._
      import graft.plans.TopKPerKey
      val drawn = Tables.documents(s, dir)
        .select($"doc_id", $"lang",
          TF.hash60(concat(lit("g5_"), $"doc_id".cast("string"))).as("draw"))
      TopKPerKey(drawn, Seq("lang"),
          Seq(TopKPerKey.asc("draw"), TopKPerKey.asc("doc_id")), k = 5)
        .orderBy($"lang", $"draw", $"doc_id")
    },
    Some("""SELECT doc_id, lang, draw FROM (
        SELECT doc_id, lang,
          ('0x' || substr(md5('g5_' || doc_id::VARCHAR), 1, 15))::BIGINT AS draw,
          row_number() OVER (PARTITION BY lang ORDER BY
            ('0x' || substr(md5('g5_' || doc_id::VARCHAR), 1, 15))::BIGINT,
            doc_id) AS rn
        FROM documents)
      WHERE rn <= 5 ORDER BY lang, draw, doc_id"""))

  /** Flesch reading-ease — the classic readability quality signal
    * (edu-value filters score on exactly this family): `206.835 −
    * 1.015·(words/sentences) − 84.6·(syllables/word)`, with the standard
    * heuristic syllable counter (vowel-group runs per word, min 1) and
    * the lookbehind-free sentence segmentation of [[cpSentences]]. All
    * counts are exact integers; one double expression at the end, round
    * 6 — identical op order in both engines. */
  private val taReadability = Q(
    (s, dir) => {
      import s.implicits._
      val toksE = "CASE WHEN trim(text) = '' THEN array() " +
        "ELSE split(trim(text), '\\\\s+') END"
      Tables.documents(s, dir).select($"doc_id",
          expr(s"size($toksE)").cast("long").as("n_words"),
          expr("size(filter(regexp_extract_all(text, '[^.!?]+[.!?]*', 0), " +
            "p -> length(trim(p)) > 0))").cast("long").as("_sraw"),
          expr(s"aggregate(transform($toksE, t -> greatest(1, " +
            "size(regexp_extract_all(lower(t), '[aeiouy]+', 0)))), 0, " +
            "(acc, x) -> acc + x)").cast("long").as("n_syllables"))
        .withColumn("n_sentences", greatest($"_sraw", lit(1L)))
        .withColumn("flesch",
          when($"n_words" === 0, lit(null).cast("double"))
            .otherwise(round(lit(206.835)
              - lit(1.015) * ($"n_words".cast("double") /
                  $"n_sentences".cast("double"))
              - lit(84.6) * ($"n_syllables".cast("double") /
                  $"n_words".cast("double")), 6)))
        .select($"doc_id", $"n_words", $"n_sentences", $"n_syllables",
          $"flesch")
        .orderBy($"doc_id")
    },
    Some("""WITH t AS (
        SELECT doc_id,
          CASE WHEN len(trim(text)) = 0 THEN []::VARCHAR[]
            ELSE regexp_split_to_array(trim(text), '\s+') END AS ts,
          len(list_filter(regexp_extract_all(text, '[^.!?]+[.!?]*'),
            p -> len(trim(p)) > 0)) AS sraw
        FROM documents),
      c AS (
        SELECT doc_id, len(ts)::BIGINT AS n_words,
          greatest(sraw, 1)::BIGINT AS n_sentences,
          coalesce(list_sum(list_transform(ts,
            t -> greatest(1, len(regexp_extract_all(lower(t), '[aeiouy]+'))))),
            0)::BIGINT AS n_syllables
        FROM t)
      SELECT doc_id, n_words, n_sentences, n_syllables,
        CASE WHEN n_words = 0 THEN NULL
          ELSE round(206.835 - 1.015 * (n_words::DOUBLE / n_sentences::DOUBLE)
            - 84.6 * (n_syllables::DOUBLE / n_words::DOUBLE), 6) END AS flesch
      FROM c ORDER BY doc_id"""))

  /** Dataset-card mixture report — the per-(source, lang) summary every
    * corpus release ships: doc counts, token sums, char sums, mean
    * quality (DECIMAL mean, engine-exact), with per-source rollup rows
    * (GROUPING SETS). One scan, partial+final aggs. */
  private val cpMixReport = Q(
    (s, dir) => {
      import s.implicits._
      val f = TF.qualityFeatures($"text")
      val t = Tables.documents(s, dir)
        .select($"source", $"lang",
          TF.tokenCount($"text").cast("long").as("toks"),
          $"n_chars", round(f.getField("quality_score"), 6)
            .cast(DecimalType(10, 6)).as("q"))
      def report(df: DataFrame, keys: Column*) = df.groupBy(keys: _*)
        .agg(count(lit(1)).as("n_docs"),
          sum($"toks").as("n_tokens"),
          sum($"n_chars").as("n_chars"),
          // DECIMAL sum (exact, order-independent) ÷ count as one double
          // division — avg(decimal) semantics differ across engines
          round(sum($"q").cast("double") / count(lit(1)), 6)
            .as("mean_quality"))
      report(t, $"source", $"lang")
        .unionByName(report(t, $"source")
          .withColumn("lang", lit(null).cast("string"))
          .select($"source", $"lang", $"n_docs", $"n_tokens", $"n_chars",
            $"mean_quality"))
        .orderBy($"source", $"lang")
    },
    Some(s"""WITH $qdocCte,
      t AS (
        SELECT d.source, d.lang,
          len(CASE WHEN len(trim(d.text)) = 0 THEN []::VARCHAR[]
            ELSE regexp_split_to_array(trim(d.text), '\\s+') END)::BIGINT AS toks,
          d.n_chars, q.q::DECIMAL(10,6) AS q
        FROM documents d JOIN qdoc q ON q.doc_id = d.doc_id)
      SELECT source, lang, count(*) AS n_docs,
        sum(toks)::BIGINT AS n_tokens,
        sum(n_chars)::BIGINT AS n_chars,
        round(sum(q)::DOUBLE / count(*), 6) AS mean_quality
      FROM t GROUP BY GROUPING SETS ((source, lang), (source))
      ORDER BY source, lang"""))

  /** Exact-quantile corpus filter — dynamic thresholding ("drop the
    * bottom decile by quality"): the cut point is the EXACT corpus
    * percentile (one aggregate — the threshold is a scalar, not a
    * shuffle), then a narrow filter pass. Survivors carry the threshold
    * for auditability. */
  private val cpQuantileFilter = Q(
    (s, dir) => {
      import s.implicits._
      val docs = Tables.documents(s, dir)
      // eagerly checkpointed (r21): `scored` feeds BOTH the percentile
      // aggregate and the filter pass — without the checkpoint the regex
      // feature battery ran twice over the whole corpus (the cp_manifest
      // pattern; results identical, one text pass instead of two)
      val scored = docs.select($"doc_id",
        round(TF.qualityFeatures($"text").getField("quality_score"), 6)
          .as("q"))
        .localCheckpoint(true)
      scored
        .crossJoin(broadcast(scored.agg(
          round(expr("percentile(q, 0.1)"), 6).as("q10"))))
        .filter($"q" >= $"q10")
        .select($"doc_id", $"q", $"q10")
        .orderBy($"doc_id")
    },
    Some(s"""WITH $qdocCte,
      thr AS (SELECT round(quantile_cont(q, 0.1), 6) AS q10 FROM qdoc)
      SELECT doc_id, q, q10 FROM qdoc CROSS JOIN thr
      WHERE q >= q10 ORDER BY doc_id"""))

  /** END-TO-END curriculum training MANIFEST — the round-10 operators
    * composed into one declarative plan: normalize (NFC identity on this
    * corpus; lower + whitespace collapse fire) → drop the bottom quality
    * decile (exact percentile threshold, a broadcast scalar) → per-source
    * quota (bounded-heap TopKPerKey) → 4 curriculum stages (scale-safe
    * global rank) → the final training order `pos` by (stage, difficulty,
    * id). One oracle replays the whole composition: the quality chain
    * over NORMALIZED text, quantile cut, quota window, stage arithmetic,
    * manifest window. */
  private val cpManifest = Q(
    (s, dir) => {
      import s.implicits._
      val C = graft.operators.Corpus
      val normalized = Tables.documents(s, dir)
        .withColumn("text", TF.normalizeText($"text"))
      // the regex battery prices ONCE: q and difficulty in one eagerly
      // checkpointed projection (codegen CSE shares the feature struct),
      // and every downstream operator takes the precomputed column. A
      // localCheckpoint, not a persist — the blocks are GC-reclaimed when
      // the result frame dies, where a persist leaked one cache per
      // invocation in a long-lived session
      val qraw = TF.qualityFeatures($"text").getField("quality_score")
      val scored = normalized.select($"doc_id", $"source",
          round(qraw, 6).as("q"),
          round(lit(1.0) - qraw, 6).as("difficulty"))
        .localCheckpoint(true)
      val screened = scored
        .crossJoin(broadcast(scored.agg(
          round(expr("percentile(q, 0.1)"), 6).as("_thr"))))
        .filter($"q" >= $"_thr")
        .select($"doc_id", $"source", $"q", $"difficulty")
      val quota = C.sourceQuota(screened, k = 15, scoreCol = Some("q"))
      val survivors = screened.join(quota.select($"doc_id"), Seq("doc_id"))
      val staged = C.curriculumStages(survivors, stages = 4,
        difficultyCol = Some("difficulty"))
      C.globalRowNumber(
          staged.join(quota.select($"doc_id", $"source", $"q"), Seq("doc_id")),
          Seq(col("stage"), col("difficulty"), col("doc_id")), posCol = "pos")
        .select($"pos", $"doc_id", $"source", $"q", $"difficulty", $"stage")
        .orderBy($"pos")
    },
    Some(s"""WITH nd AS (
        SELECT doc_id, source,
          trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS text
        FROM documents),
      ${qdocCteFrom("nd")},
      thr AS (SELECT round(quantile_cont(q, 0.1), 6) AS t FROM qdoc),
      screened AS (
        SELECT qd.* FROM qdoc qd CROSS JOIN thr WHERE qd.q >= thr.t),
      quota AS (SELECT doc_id, source, q, qraw FROM (
          SELECT *, row_number() OVER (PARTITION BY source
            ORDER BY q DESC, doc_id) AS rn
          FROM screened) WHERE rn <= 15),
      rk AS (
        SELECT doc_id, source, q, round(1.0 - qraw, 6) AS difficulty,
          row_number() OVER (ORDER BY round(1.0 - qraw, 6), doc_id) AS cpos,
          count(*) OVER () AS n
        FROM quota),
      st AS (SELECT doc_id, source, q, difficulty,
          CAST(floor((cpos - 1) * 4 / n) + 1 AS BIGINT) AS stage FROM rk)
      SELECT row_number() OVER (ORDER BY stage, difficulty, doc_id) AS pos,
        doc_id, source, q, difficulty, stage
      FROM st ORDER BY pos"""))

  /** GZIP JSONL round-trip — the wire format LLM corpora actually ship
    * in (`.jsonl.gz` shards): the same fidelity proof as [[opJsonl]]
    * through the gzip codec path (write compressed, read back by
    * extension sniffing). */
  private val opJsonlGz = Q(
    (s, dir) => {
      import s.implicits._
      val tmp = scratchDir("graft_jsonl_gz").toString
      val docs = Tables.documents(s, dir)
      docs.write.mode("overwrite").option("compression", "gzip").json(tmp)
      s.read.schema(docs.schema).json(tmp)
        .select($"doc_id", $"lang", $"source", $"n_chars",
          md5($"text").as("text_md5"))
        .orderBy($"doc_id")
    },
    Some("""SELECT doc_id, lang, source, n_chars, md5(text) AS text_md5
      FROM documents ORDER BY doc_id"""))

  /** Keyword blocklist filter — the refused-content screening pass:
    * case-insensitive whole-token hits against a term list with leading/
    * trailing punctuation STRIPPED before matching (so `merge,` and
    * `(batch)` are flagged — the adjacent-punctuation forms are the most
    * common real occurrences; bare substring matching would instead
    * over-flag `merger`), with the count and the distinct matched terms
    * (sorted — deterministic evidence column). Narrow per-row expressions
    * over the shared whitespace tokenization; the strip regex is POSIX
    * punct on both engines. */
  private val taBlocklist = Q(
    (s, dir) => {
      import s.implicits._
      val terms = Seq("slow", "merge", "batch")
      val toks = transform(TF.tokens($"text"),
        t => lower(regexp_replace(t, "^\\p{Punct}+|\\p{Punct}+$", "")))
      val hits = filter(toks, t => t.isInCollection(terms))
      Tables.documents(s, dir).select($"doc_id",
          size(hits).cast("long").as("n_hits"),
          (size(hits) > 0).as("blocked"),
          array_join(array_sort(array_distinct(hits)), ",").as("matched"))
        .orderBy($"doc_id")
    },
    Some("""WITH toks AS (
        SELECT doc_id, CASE WHEN len(trim(text)) = 0 THEN []::VARCHAR[]
          ELSE list_transform(regexp_split_to_array(trim(text), '\s+'),
            t -> lower(regexp_replace(t,
              '^[[:punct:]]+|[[:punct:]]+$', '', 'g'))) END AS ts
        FROM documents),
      h AS (SELECT doc_id,
          list_filter(ts, t -> list_contains(['slow','merge','batch'], t)) AS hits
        FROM toks)
      SELECT doc_id, len(hits)::BIGINT AS n_hits, len(hits) > 0 AS blocked,
        coalesce(array_to_string(list_sort(list_distinct(hits)), ','), '')
          AS matched
      FROM h ORDER BY doc_id"""))

  /** DSIR importance weighting ([[graft.operators.Corpus.dsirWeights]],
    * Xie et al. 2023): every document scored by the log-likelihood ratio
    * of its counted unigram+bigram hash-bucket bag under the TARGET
    * domain's smoothed distribution (here: the English slice) vs the raw
    * corpus's own. The oracle rebuilds the same bag (trim+`\s+` tokens,
    * space-joined bigrams, md5-60-bit buckets), both histograms, the
    * round-6 per-bucket log-ratios, and the DECIMAL-exact per-doc sums. */
  private val cpDsir = Q(
    (s, dir) => {
      import s.implicits._
      graft.operators.Corpus.dsirWeights(Tables.documents(s, dir),
          isTarget = $"lang" === "en", buckets = 1024)
        .orderBy($"doc_id")
    },
    Some("""WITH toks AS (
        SELECT doc_id, lang = 'en' AS tgt,
          CASE WHEN len(trim(text)) = 0 THEN []::VARCHAR[]
          ELSE regexp_split_to_array(trim(text), '\s+') END AS ts
        FROM documents),
      grams AS (
        SELECT doc_id, tgt, unnest(list_concat(ts,
          CASE WHEN len(ts) < 2 THEN []::VARCHAR[]
          ELSE list_transform(range(0, len(ts) - 1),
            i -> ts[i+1] || ' ' || ts[i+2]) END)) AS g
        FROM toks),
      fv AS (SELECT doc_id, tgt,
          ('0x' || substr(md5(g), 1, 15))::BIGINT % 1024 AS f
        FROM grams),
      dc AS (SELECT doc_id, tgt, f, count(*) AS c FROM fv GROUP BY 1, 2, 3),
      hist AS (SELECT f, sum(c) AS cr,
          sum(CASE WHEN tgt THEN c ELSE 0 END) AS ct
        FROM dc GROUP BY f),
      tot AS (SELECT sum(cr) AS tr, sum(ct) AS tt FROM hist),
      lam AS (SELECT f,
          CAST(round(ln((ct + 1)::DOUBLE / (tt + 1024)) -
                     ln((cr + 1)::DOUBLE / (tr + 1024)), 6)
            AS DECIMAL(18,6)) AS lam
        FROM hist CROSS JOIN tot),
      w AS (SELECT doc_id, sum(c * lam) AS wsum, sum(c) AS nf
        FROM dc JOIN lam USING (f) GROUP BY doc_id)
      SELECT d.doc_id, coalesce(nf, 0)::BIGINT AS n_feats,
        round(coalesce(wsum, 0)::DOUBLE, 6) AS dsir_logratio
      FROM documents d LEFT JOIN w ON w.doc_id = d.doc_id
      ORDER BY d.doc_id"""))

  /** The logistic-regression TRAINING itself as an unrolled CTE chain
    * (the [[ivfTrainingCtes]] discipline applied to gradient descent):
    * shared feats/base prep, then one forward+gradient+update trio per
    * iteration. `w$i`/`b$i` are the model after iteration i; `pScore`
    * closes with the final forward pass. */
  private def lrTrainingCtes(buckets: Int, iters: Int, lr: String): String = {
    val sb = new StringBuilder
    sb ++= s"""ltoks AS (
        SELECT doc_id, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
          CASE WHEN len(trim(text)) = 0 THEN []::VARCHAR[]
          ELSE regexp_split_to_array(trim(text), '\\s+') END AS ts
        FROM documents),
      lgrams AS (
        SELECT doc_id, y, unnest(list_concat(ts,
          CASE WHEN len(ts) < 2 THEN []::VARCHAR[]
          ELSE list_transform(range(0, len(ts) - 1),
            i -> ts[i+1] || ' ' || ts[i+2]) END)) AS g
        FROM ltoks),
      lfeats AS (SELECT doc_id, y,
          ('0x' || substr(md5(g), 1, 15))::BIGINT % $buckets AS f,
          count(*) AS c
        FROM lgrams GROUP BY 1, 2, 3),
      lbase AS (SELECT doc_id, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
        FROM documents),
      lhist AS (SELECT f, sum(c) AS cr,
          sum(CASE WHEN y = 1 THEN c ELSE 0 END) AS ct
        FROM lfeats GROUP BY f),
      ltot AS (SELECT sum(cr) AS tr, sum(ct) AS tt FROM lhist),
      w0 AS (SELECT f,
          CAST(round(ln((ct + 1)::DOUBLE / (tt + $buckets)) -
                     ln((cr + 1)::DOUBLE / (tr + $buckets)), 6)
            AS DECIMAL(18,6)) AS w
        FROM lhist CROSS JOIN ltot),
      b0 AS (SELECT CAST(0 AS DECIMAL(18,6)) AS b),
      nd0 AS (SELECT count(*) AS nd FROM lbase)"""
    for (i <- 1 to iters) sb ++= s""",
      p$i AS (SELECT b.doc_id, b.y,
          CAST(round(1.0 / (1.0 + exp(-((SELECT b FROM b${i - 1}) +
            coalesce(d.dot, 0)::DOUBLE))), 6) AS DECIMAL(10,6)) AS p
        FROM lbase b LEFT JOIN (
          SELECT lfeats.doc_id, sum(w.w * lfeats.c) AS dot
          FROM lfeats JOIN w${i - 1} w USING (f) GROUP BY lfeats.doc_id) d
          USING (doc_id)),
      g$i AS (SELECT f,
          sum(CAST(round((p.p::DOUBLE - lfeats.y) * lfeats.c
            / (SELECT nd FROM nd0), 12) AS DECIMAL(24,12))) AS g
        FROM lfeats JOIN p$i p USING (doc_id) GROUP BY f),
      w$i AS (SELECT w.f,
          CAST(round(w.w - $lr * coalesce(g.g, 0), 6) AS DECIMAL(18,6)) AS w
        FROM w${i - 1} w LEFT JOIN g$i g USING (f)),
      b$i AS (SELECT CAST(round((SELECT b FROM b${i - 1}) -
          $lr * (SELECT sum(CAST(round((p::DOUBLE - y)
            / (SELECT nd FROM nd0), 12) AS DECIMAL(24,12))) FROM p$i), 6)
          AS DECIMAL(18,6)) AS b)"""
    sb ++= s""",
      pScore AS (SELECT b.doc_id,
          CAST(round(1.0 / (1.0 + exp(-((SELECT b FROM b$iters) +
            coalesce(d.dot, 0)::DOUBLE))), 6) AS DECIMAL(10,6)) AS p
        FROM lbase b LEFT JOIN (
          SELECT lfeats.doc_id, sum(w.w * lfeats.c) AS dot
          FROM lfeats JOIN w$iters w USING (f) GROUP BY lfeats.doc_id) d
          USING (doc_id))"""
    sb.result()
  }

  /** Above this document count the classifier oracle switches from the
    * FULL training replay to injected-model scoring: the unrolled GD CTE
    * chain references `lfeats`/`w_i`/`b_i` many times per iteration, and
    * the oracle engine may inline (not materialize) those CTEs — at the
    * sf1 rehearsal twin (50k docs) that re-expansion exhausted DuckDB's
    * temp disk. 5,000 (the sf0.1 gate corpus, where the full replay is
    * proven) keeps every canonical gate on the strongest oracle form and
    * bounds the replay's resource shape at any rehearsal scale. */
  private val QcFullReplayMaxDocs = 5000L

  /** Trained quality/domain classifier ([[graft.operators.Corpus
    * .qualityClassifierScore]], the GPT-3/CCNet selection recipe):
    * logistic regression over counted unigram+bigram hash-bucket tf
    * features, positives = the English slice, trained by 3 full-batch GD
    * iterations IN the engine. At gate scales the oracle replays the
    * training as an unrolled CTE chain — forward pass, round-9 DECIMAL
    * gradient sums, exact round-6 weight updates — then the final
    * scoring pass; past [[QcFullReplayMaxDocs]] it re-renders as
    * injected-model scoring (the ANN capture-and-inject pattern): the
    * captured weights arrive as a VALUES table and the oracle still
    * re-derives features, the micro-exact dot, and the sigmoid. */
  @volatile private var qcModelCapture
      : Option[(Map[Int, BigDecimal], BigDecimal, Long)] = scala.None
  private val cpQualityClassifier = Q.dynamicOpt(
    (s, dir) => {
      import s.implicits._
      val docs = Tables.documents(s, dir)
      val (w, b) = graft.operators.Corpus.qualityClassifierTrain(docs,
        isPositive = $"lang" === "en", buckets = 256, iters = 4,
        lr = BigDecimal("0.02"))
      qcModelCapture = Some((w, b, docs.count()))
      graft.operators.Corpus.qualityClassifierScoreWith(docs, w, b,
          buckets = 256)
        .orderBy($"doc_id")
    },
    () => qcModelCapture.map { case (w, b, nDocs) =>
      if (nDocs <= QcFullReplayMaxDocs)
        s"""WITH ${lrTrainingCtes(256, 4, "0.02")}
          SELECT doc_id, p::DOUBLE AS quality_prob
          FROM pScore ORDER BY doc_id"""
      else qcInjectedScoringSql(w, b)
    })

  /** Injected-model scoring oracle: same feature extraction and scoring
    * CTEs as the full replay (`lfeats`/`lbase` from [[lrTrainingCtes]]'
    * head), with the trained weights/bias as DECIMAL(18,6) literals in
    * place of the unrolled GD chain. */
  private def qcInjectedScoringSql(w: Map[Int, BigDecimal],
                                   b: BigDecimal): String = {
    val values = w.toSeq.sortBy(_._1)
      .map { case (f, v) => s"($f, ${v.underlying.toPlainString})" }
      .mkString(", ")
    val bLit = s"CAST(${b.underlying.toPlainString} AS DECIMAL(18,6))"
    s"""WITH ltoks AS (
        SELECT doc_id, CASE WHEN len(trim(text)) = 0 THEN []::VARCHAR[]
          ELSE regexp_split_to_array(trim(text), '\\s+') END AS ts
        FROM documents),
      lgrams AS (
        SELECT doc_id, unnest(list_concat(ts,
          CASE WHEN len(ts) < 2 THEN []::VARCHAR[]
          ELSE list_transform(range(0, len(ts) - 1),
            i -> ts[i+1] || ' ' || ts[i+2]) END)) AS g
        FROM ltoks),
      lfeats AS (SELECT doc_id,
          ('0x' || substr(md5(g), 1, 15))::BIGINT % 256 AS f,
          count(*) AS c
        FROM lgrams GROUP BY 1, 2),
      wraw(f, w) AS (VALUES $values),
      wts AS (SELECT f, CAST(w AS DECIMAL(18,6)) AS w FROM wraw),
      pScore AS (SELECT d0.doc_id,
          CAST(round(1.0 / (1.0 + exp(-($bLit +
            coalesce(d.dot, 0)::DOUBLE))), 6) AS DECIMAL(10,6)) AS p
        FROM documents d0 LEFT JOIN (
          SELECT lfeats.doc_id, sum(w.w * lfeats.c) AS dot
          FROM lfeats JOIN wts w USING (f) GROUP BY lfeats.doc_id) d
          USING (doc_id))
      SELECT doc_id, p::DOUBLE AS quality_prob
      FROM pScore ORDER BY doc_id"""
  }

  /** Sliding token-window chunking (64-token windows, stride 32) — the
    * embedding/retrieval prep step; narrow explode, no shuffle. */
  private val cpChunk = Q(
    (s, dir) => {
      import s.implicits._
      graft.operators.Corpus.chunkTokens(Tables.documents(s, dir),
          window = 64, stride = 32)
        .orderBy($"doc_id", $"chunk_idx")
    },
    Some(s"""WITH $toksCte,
      ch AS (
        SELECT doc_id, ts, unnest(CASE WHEN len(ts) = 0 THEN []::BIGINT[]
          ELSE range(0, greatest(CAST(ceil((len(ts) - 64) / 32.0) AS BIGINT), 0) + 1)
          END) AS i
        FROM toks)
      SELECT doc_id, i AS chunk_idx,
        array_to_string(ts[i*32+1:i*32+64], ' ') AS chunk_text,
        CAST(len(ts[i*32+1:i*32+64]) AS BIGINT) AS n_tokens
      FROM ch ORDER BY doc_id, chunk_idx"""))

  /** End-to-end training-data ASSEMBLY — the whole corpus-prep pipeline as
    * ONE oracle-verified composition: boilerplate-segment removal → MinHash
    * near-dup survivors over the CLEANED text → deterministic weighted mix
    * by language → token-budget sequence packing of what's left. Each stage
    * is individually verified (cp_segment_dedup, dd_dedup_corpus,
    * cp_mix_weighted, cp_pack_sequences); this query pins the COMPOSITION —
    * one declarative plan end to end, no materialization between stages. */
  private def assemblyPlan(s: SparkSession, dir: String,
                           stageDir: Option[String]): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, dir)
    // three consumers read the cleaned corpus (survivor detection, the
    // mix candidate join, the packing pass) — materialize so the segment
    // dedup runs once. Default: persist (session-managed lifecycle like
    // the operator caches). With a stage dir: the corpus-sized TEXT frame
    // goes to the LAKE instead of executor storage ([[operators.Staging]])
    // — the `cp_assembly_staged` variant proves the same result with zero
    // text-schema frames in the cache manager.
    val cleaned = graft.operators.Staging.stageOrPersist(
      graft.operators.Corpus.segmentDedup(docs, segWords = 8, maxDf = 2)
        .select($"doc_id", $"clean_text".as("text")),
      stageDir, "cleaned")
    val surv = graft.operators.NearDup.survivors(cleaned).select($"doc_id")
    val candidates = cleaned.join(surv, "doc_id")
      .join(docs.select($"doc_id", $"lang"), "doc_id")
    // keepCols: the mix survivors CARRY their text into packing — joining
    // back to `cleaned` for it would shuffle the corpus text a second time
    val mixed = graft.operators.Corpus.mixWeighted(candidates,
        Seq("en" -> 0.8, "de" -> 0.5, "es" -> 0.25, "fr" -> 0.5, "zh" -> 0.1),
        keepCols = true)
    graft.operators.Corpus.packSequences(mixed.select($"doc_id", $"text"),
        budget = 256, stageDir = stageDir)
      .orderBy($"doc_id")
  }

  private lazy val assemblyOracleSql: String = s"""WITH RECURSIVE
      toks0 AS (
        SELECT doc_id, CASE WHEN len(trim(text)) = 0 THEN []::VARCHAR[]
          ELSE regexp_split_to_array(trim(text), '\\s+') END AS ts
        FROM documents),
      sg0 AS (SELECT doc_id, ts, unnest(CASE WHEN len(ts) = 0 THEN []::BIGINT[]
          ELSE range(0, CAST(ceil(len(ts) / 8.0) AS BIGINT)) END) AS i FROM toks0),
      sgs AS (SELECT doc_id, i AS seg_idx,
          array_to_string(ts[i*8+1:i*8+8], ' ') AS seg FROM sg0),
      boiler AS (SELECT seg FROM sgs GROUP BY seg HAVING count(DISTINCT doc_id) > 2),
      kept0 AS (SELECT * FROM sgs WHERE seg NOT IN (SELECT seg FROM boiler)),
      reagg AS (SELECT doc_id, string_agg(seg, ' ' ORDER BY seg_idx) AS clean_text
          FROM kept0 GROUP BY doc_id),
      cleaned AS (SELECT t.doc_id, coalesce(a.clean_text, '') AS text
        FROM toks0 t LEFT JOIN reagg a USING (doc_id)),
      ${minhashPairsCteFrom("cleaned")},
      edges AS (SELECT a_id AS s, b_id AS d FROM pairs
        UNION ALL SELECT b_id, a_id FROM pairs),
      reach(id, r) AS (
        SELECT doc_id, doc_id FROM cleaned
        UNION
        SELECT reach.id, edges.d FROM reach JOIN edges ON reach.r = edges.s),
      comp AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id),
      surv AS (SELECT id AS doc_id FROM comp WHERE id = cluster_id),
      rates(lang, _rate) AS (VALUES
        ('en', 0.8), ('de', 0.5), ('es', 0.25), ('fr', 0.5), ('zh', 0.1)),
      mixed AS (
        SELECT s.doc_id FROM surv s
        JOIN documents d USING (doc_id) JOIN rates r ON d.lang = r.lang
        WHERE ('0x' || substr(md5(s.doc_id::VARCHAR), 1, 8))::BIGINT % 10000
          < CAST(r._rate * 10000 AS BIGINT)),
      tk AS (SELECT c.doc_id, CAST(CASE WHEN len(trim(c.text)) = 0 THEN 0
          ELSE len(regexp_split_to_array(trim(c.text), '\\s+')) END AS BIGINT) AS tok
        FROM cleaned c JOIN mixed USING (doc_id))
      SELECT doc_id, tok,
        CAST(floor(coalesce(sum(tok) OVER (ORDER BY doc_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 256.0) AS BIGINT) AS seq_id
      FROM tk ORDER BY doc_id"""

  private val cpAssembly = Q(
    (s, dir) => assemblyPlan(s, dir, stageDir = scala.None),
    Some(assemblyOracleSql))

  /** The LAKE-STAGED assembly — identical pipeline, identical oracle, but
    * the corpus-sized text intermediates ship to parquet stages instead
    * of executor storage ([[graft.operators.Staging]]): the mode a 100 TB
    * assembly actually runs in. `StagedAssemblySpec` pins that this
    * variant leaves NO text-schema frame in the cache manager. */
  private val cpAssemblyStaged = Q(
    (s, dir) => {
      val stage = scratchDir("graft_stage").toString
      assemblyPlan(s, dir, stageDir = Some(stage))
    },
    Some(assemblyOracleSql))

  // -------------------------------------------------------------- registry

  /** Insertion-ordered so Verify output is stable. */
  val all: Seq[(String, Q)] = Seq(
    "q1_pricing_summary" -> q1,
    "q2_top_orders" -> q2,
    "q3_shipping_priority" -> q3,
    "q4_semi_join" -> q4,
    "q5_local_supplier" -> q5,
    "q6_filtered_agg" -> q6,
    "q7_window_topk" -> q7,
    "q8_distinct_agg" -> q8,
    "q9_set_ops" -> q9,
    "q10_rollup" -> q10,
    "q11_anti_join" -> q11,
    "q12_case_agg" -> q12,
    "q14_tumbling_window" -> q14,
    "q15_sessionize" -> q15,
    "q16_json_extract" -> q16,
    "q17_asof_join" -> q17,
    "q13_cust_dist" -> q13,
    "q18_corr_subquery" -> q18,
    "q19_percentiles" -> q19,
    "q20_string_funcs" -> q20,
    "q21_date_parts" -> q21,
    "q22_grouping_sets" -> q22,
    "q23_session_window" -> q23,
    "q24_full_outer" -> q24,
    "q25_range_join" -> q25,
    "q26_agg_filter" -> q26,
    "q27_string_agg" -> q27,
    "q28_array_stats" -> q28,
    "op_typecast" -> opTypecast,
    "op_tagging" -> opTagging,
    "op_origin_regex" -> opOriginRegex,
    "op_to_csv" -> opToCsv,
    "op_from_csv" -> opFromCsv,
    "op_stateful_slice" -> opStatefulSlice,
    "op_dir_source" -> opDirSource,
    "op_exec_pipe" -> opExecPipe,
    "op_profile" -> opProfile,
    "op_sqlite_file" -> opSqliteFile,
    "op_sqlite_repl" -> opSqliteRepl,
    "op_layout" -> opLayout,
    "op_excel" -> opExcel,
    "op_excel_xls" -> opExcelXls,
    "op_kafka_encode" -> opKafkaEncode,
    "op_kafka_decode" -> opKafkaDecode,
    "dd_exact" -> ddExact,
    "dd_minhash_lsh" -> ddMinhash,
    "dd_cross_report" -> ddCrossReport,
    "dd_ngram_jaccard" -> ddNgramJaccard,
    "dd_containment" -> ddContainment,
    "dd_novelty" -> ddNovelty,
    "st_novelty" -> stNovelty,
    "dd_dedup_corpus" -> ddDedupCorpus,
    "dd_simhash" -> ddSimhash,
    "dd_simhash_pairs" -> ddSimhashPairs,
    "dd_embed_cosine" -> ddEmbedCosine,
    "dd_dup_clusters" -> ddClusters,
    "dd_cluster_best" -> ddClusterBest,
    "dd_ref_dedup" -> ddRefDedup,
    "dd_dedup_index" -> ddIndexDedup,
    "dd_dedup_index_absorb" -> ddIndexAbsorb,
    "dd_dedup_index_compact" -> ddIndexCompact,
    "dd_exact_substr" -> ddExactSubstr,
    "dd_pagerank" -> ddPageRank,
    "ann_topk" -> annTopk,
    "ann_lsh_topk" -> annLsh,
    "ann_lsh_probe" -> annLshProbe,
    "ann_lsh_multi" -> annLshMulti,
    "ann_ivf_topk" -> annIvf,
    "ann_hybrid_rrf" -> annHybridRrf,
    "cp_topic_mix" -> cpTopicMix,
    "ann_ivf_balanced" -> annIvfBalanced,
    "ann_knn_label" -> annKnnLabel,
    "ann_ivf_disk" -> annIvfDisk,
    "ann_ivf_append" -> annIvfAppend,
    "ann_quantized_topk" -> annQuantized,
    "ann_pq_topk" -> annPqTopk,
    "ann_ivf_pq" -> annIvfPq,
    "ann_ivf_pq_rerank" -> annIvfPqRerank,
    "ann_ivf_pq_disk" -> annIvfPqDisk,
    "ann_pq_rerank" -> annPqRerank,
    "ann_opq_topk" -> annOpqTopk,
    "ann_opq_rerank" -> annOpqRerank,
    "ann_rp_topk" -> annRpTopk,
    "ann_pca_topk" -> annPcaTopk,
    "dd_semdedup" -> ddSemDedup,
    "dd_semdedup_two" -> ddSemDedupTwo,
    "ta_langid" -> taLangId,
    "ta_quality" -> taQuality,
    "ta_tokens" -> taTokens,
    "ta_bpe_tokens" -> taBpe,
    "ta_bpe_ids" -> taBpeIds,
    "ta_unigram_tokens" -> taUnigram,
    "ta_unigram_ids" -> taUnigramIds,
    "ta_fingerprint" -> taFingerprint,
    "ta_split" -> taSplit,
    "ta_lm_score" -> taLmScore,
    "ta_bigram_score" -> taBigramScore,
    "ta_gopher_rules" -> taGopherRules,
    "ta_char_entropy" -> taCharEntropy,
    "ta_vocab" -> taVocab,
    "ta_repetition" -> taRepetition,
    "ta_redact" -> taRedact,
    "ta_blocklist" -> taBlocklist,
    "ta_readability" -> taReadability,
    "q29_sliding_window" -> q29,
    "q30_range_frame" -> q30,
    "q31_set_ops_all" -> q31,
    "q32_pivot" -> q32,
    "q33_lateral_explode" -> q33,
    "q34_recursive_cte" -> q34,
    "q35_resample_ffill" -> q35,
    "q36_unpivot" -> q36,
    "mm_binary_meta" -> mmBinaryMeta,
    "mm_decode_features" -> mmDecode,
    "mm_decode_real" -> mmDecodeReal,
    "mm_resize" -> mmResize,
    "mm_decode_audio" -> mmDecodeAudio,
    "mm_decode_video" -> mmDecodeVideo,
    "st_tumbling_window" -> stTumbling,
    "st_sessions_custom" -> stSessionsCustom,
    "st_chat_assembly" -> stChatAssembly,
    "st_dedup" -> stDedup,
    "st_stream_join" -> stStreamJoin,
    "st_stream_left_join" -> stStreamLeftJoin,
    "st_resample_ffill" -> stResampleFfill,
    "st_static_join" -> stStaticJoin,
    "st_ann_topk" -> stAnnTopk,
    "cp_decon_overlap" -> cpDecon,
    "cp_decon_bloom" -> cpDeconBloom,
    "cp_segment_dedup" -> cpSegDedup,
    "cp_pack_sequences" -> cpPack,
    "cp_pack_ids" -> cpPackIds,
    "cp_pack_offsets" -> cpPackOffsets,
    "cp_chat_assembly" -> cpChatAssembly,
    "cp_mix_weighted" -> cpMix,
    "cp_mix_temperature" -> cpMixTemperature,
    "cp_mix_token_budget" -> cpMixTokenBudget,
    "cp_bm25_topk" -> cpBm25,
    "cp_chunk" -> cpChunk,
    "cp_sample_quality" -> cpSample,
    "cp_sample_exact_k" -> cpSampleExactK,
    "cp_sample_group_k" -> cpSampleGroupK,
    "cp_dsir_weights" -> cpDsir,
    "cp_mix_report" -> cpMixReport,
    "cp_length_report" -> cpLengthReport,
    "cp_manifest" -> cpManifest,
    "cp_quantile_filter" -> cpQuantileFilter,
    "cp_quality_classifier" -> cpQualityClassifier,
    "cp_scrub_spans" -> cpScrub,
    "cp_dedup_lines" -> cpDedupLines,
    "cp_shuffle_seeded" -> cpShuffleSeeded,
    "cp_curriculum" -> cpCurriculum,
    "cp_source_quota" -> cpSourceQuota,
    "ta_keywords" -> taKeywords,
    "op_jsonl" -> opJsonl,
    "op_jsonl_gz" -> opJsonlGz,
    "op_orc" -> opOrc,
    "op_arrow" -> opArrow,
    "cp_sentences" -> cpSentences,
    "cp_assembly" -> cpAssembly,
    "cp_assembly_staged" -> cpAssemblyStaged)
}
