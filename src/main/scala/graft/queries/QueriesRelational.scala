package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.compact.Compaction
import graft.envelope.{DmsCdc, MongoCdc, PgCdc}
import graft.ext.{Corpus, DataQuality, Dedup, Multimodal, Similarity, TextOps}

/** TPC-H-style relational core, CDC compaction/merge/envelope parity
  * queries, and the text-analysis battery — the SURVEY §2 surface.
  *
  * One mixin slice of [[Queries]] — split mechanically from the former
  * single Queries.scala (no behavior change); mixin order in `object
  * Queries` preserves the original definition/initialization order.
  */
private[graft] trait QueriesRelational { this: Queries.type =>

  // ---------------------------------------------------------------------
  // TPC-H-style relational core: scans, filters, aggregates, joins,
  // sorts, limits — exercises pushdown/pruning/broadcast machinery.
  // ---------------------------------------------------------------------

  val q1Pricing = Q("q1_pricing",
    (s, dir) => t(s, dir, "lineitem")
      .filter(col("l_shipdate") <= lit("2000-12-01"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        round(sum(col("l_quantity")), 2).as("sum_qty"),
        round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("sum_disc_price"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount")) * (lit(1) + col("l_tax"))), 2).as("sum_charge"),
        round(avg(col("l_quantity")), 4).as("avg_qty"),
        round(avg(col("l_extendedprice")), 4).as("avg_price"),
        round(avg(col("l_discount")), 4).as("avg_disc"),
        count(lit(1)).as("count_order")),
    Some("""SELECT l_returnflag, l_linestatus,
      round(sum(l_quantity),2) AS sum_qty,
      round(sum(l_extendedprice),2) AS sum_base_price,
      round(sum(l_extendedprice*(1-l_discount)),2) AS sum_disc_price,
      round(sum(l_extendedprice*(1-l_discount)*(1+l_tax)),2) AS sum_charge,
      round(avg(l_quantity),4) AS avg_qty,
      round(avg(l_extendedprice),4) AS avg_price,
      round(avg(l_discount),4) AS avg_disc,
      count(*) AS count_order
      FROM lineitem WHERE l_shipdate <= TIMESTAMP '2000-12-01'
      GROUP BY l_returnflag, l_linestatus"""))

  val q3TopRevenue = Q("q3_top_revenue",
    (s, dir) => {
      val c = t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
      val o = t(s, dir, "orders").filter(col("o_orderdate") < lit("1999-01-01"))
      val l = t(s, dir, "lineitem").filter(col("l_shipdate") > lit("1999-01-01"))
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .groupBy(col("l_orderkey"), col("o_orderdate"))
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey").asc)
        .limit(10)
    },
    Some("""SELECT l_orderkey, o_orderdate,
      round(sum(l_extendedprice*(1-l_discount)),2) AS revenue
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      WHERE c_mktsegment = 'BUILDING'
        AND o_orderdate < TIMESTAMP '1999-01-01'
        AND l_shipdate > TIMESTAMP '1999-01-01'
      GROUP BY l_orderkey, o_orderdate
      ORDER BY revenue DESC, l_orderkey LIMIT 10"""))

  val q5RegionRevenue = Q("q5_region_revenue",
    (s, dir) => {
      val r = t(s, dir, "region").filter(col("r_name") === "ASIA")
      val n = t(s, dir, "nation")
      val sup = t(s, dir, "supplier")
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders")
      val l = t(s, dir, "lineitem")
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
        .join(c, col("o_custkey") === col("c_custkey") &&
          col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("n_name"))
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
    },
    Some("""SELECT n_name,
      round(sum(l_extendedprice*(1-l_discount)),2) AS revenue
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
      JOIN nation ON s_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      WHERE r_name = 'ASIA' GROUP BY n_name"""))

  val qTopParts = Q("q_top_parts",
    (s, dir) => {
      val l = t(s, dir, "lineitem")
      val p = t(s, dir, "part")
      l.groupBy(col("l_partkey"))
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"),
          count(lit(1)).as("n_items"))
        .join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .orderBy(col("revenue").desc, col("l_partkey").asc)
        .limit(5)
        .select(col("p_partkey"), col("p_name"), col("revenue"), col("n_items"))
    },
    Some("""SELECT p_partkey, p_name, revenue, n_items FROM (
      SELECT l_partkey, round(sum(l_extendedprice*(1-l_discount)),2) AS revenue,
             count(*) AS n_items
      FROM lineitem GROUP BY l_partkey) agg
      JOIN part ON l_partkey = p_partkey
      ORDER BY revenue DESC, l_partkey LIMIT 5"""))

  val qRollup = Q("q_rollup",
    (s, dir) => t(s, dir, "lineitem")
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
        .as("revenue"), count(lit(1)).as("n")),
    Some("""SELECT l_returnflag, l_linestatus,
      round(sum(l_extendedprice*(1-l_discount)),2) AS revenue, count(*) AS n
      FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)"""))

  val qAggStats = Q("q_agg_stats",
    (s, dir) => t(s, dir, "events")
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        countDistinct(col("user_id")).as("n_users"),
        round(min(col("value")), 4).as("min_v"),
        round(max(col("value")), 4).as("max_v"),
        round(avg(col("value")), 4).as("avg_v"),
        round(sum(col("value")), 2).as("sum_v")),
    Some("""SELECT event_type, count(*) AS n, count(DISTINCT user_id) AS n_users,
      round(min(value),4) AS min_v, round(max(value),4) AS max_v,
      round(avg(value),4) AS avg_v, round(sum(value),2) AS sum_v
      FROM events GROUP BY event_type"""))

  val qSemiAnti = Q("q_anti_join",
    (s, dir) => {
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders")
      c.join(o, col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"))
    },
    Some("""SELECT c_custkey, c_name FROM customer c
      WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)"""))

  val qSemiJoin = Q("q_semi_join",
    (s, dir) => {
      val sup = t(s, dir, "supplier")
      val l = t(s, dir, "lineitem").filter(col("l_shipdate") > lit("2001-06-01"))
      sup.join(l, col("s_suppkey") === col("l_suppkey"), "left_semi")
        .select(col("s_suppkey"), col("s_name"))
    },
    Some("""SELECT s_suppkey, s_name FROM supplier s
      WHERE EXISTS (SELECT 1 FROM lineitem l
        WHERE l.l_suppkey = s.s_suppkey AND l.l_shipdate > TIMESTAMP '2001-06-01')"""))

  val qWindowRunning = Q("q_window_running",
    (s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      t(s, dir, "orders")
        .withColumn("rk", row_number().over(w))
        .withColumn("run_total", round(sum(col("o_totalprice"))
          .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)), 2))
        .select(col("o_custkey"), col("o_orderkey"), col("rk"), col("run_total"))
    },
    Some("""SELECT o_custkey, o_orderkey,
      row_number() OVER w AS rk,
      round(sum(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),2) AS run_total
      FROM orders
      WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)"""))

  // ---------------------------------------------------------------------
  // CDC semantic core over `events` (the stream stand-in table):
  // latest-per-key compaction (W1-W3), distinct fanout (W4), merge (K2-K4),
  // JSON path extraction (P3), envelope parse round-trips (P1-P14).
  // ---------------------------------------------------------------------

  val qCdcLatest = Q("q_cdc_latest",
    (s, dir) => Compaction.latestPerKey(t(s, dir, "events"),
        Seq("user_id"), Seq("ts", "event_id"))
      .select(col("user_id"), col("event_id"), col("event_type"), col("value"), col("ts")),
    Some("""SELECT user_id, event_id, event_type, value, ts FROM (
      SELECT user_id, event_id, event_type, value, ts,
             row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      FROM events) x WHERE rn = 1"""))

  /** The aggregate-form compaction against the SAME oracle as
    * q_cdc_latest: hash-certifies that `max_by(struct(row), struct(ord))`
    * (map-side partials, no sort — the production pipeline's path)
    * computes exactly the windowed latest-per-key. */
  val qCdcLatestAgg = Q("q_cdc_latest_agg",
    (s, dir) => Compaction.latestPerKeyAgg(
        t(s, dir, "events").select("user_id", "event_id", "event_type", "value", "ts"),
        Seq("user_id"), Seq("ts", "event_id"))
      .select(col("user_id"), col("event_id"), col("event_type"), col("value"), col("ts")),
    Some("""SELECT user_id, event_id, event_type, value, ts FROM (
      SELECT user_id, event_id, event_type, value, ts,
             row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      FROM events) x WHERE rn = 1"""))

  val qCdcMerge = Q("q_cdc_merge",
    (s, dir) => Compaction.latestPerKey(t(s, dir, "events"),
        Seq("user_id"), Seq("ts", "event_id"))
      .filter(col("event_type") =!= "error")
      .select(col("user_id"), col("event_id"), col("event_type"), col("value")),
    Some("""SELECT user_id, event_id, event_type, value FROM (
      SELECT user_id, event_id, event_type, value,
             row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      FROM events) x WHERE rn = 1 AND event_type <> 'error'"""))

  val qCdcTargets = Q("q_cdc_targets",
    (s, dir) => Compaction.targets(
      t(s, dir, "events").withColumn("day", to_date(col("ts"))),
      Seq("event_type", "day")),
    Some("SELECT DISTINCT event_type, CAST(ts AS DATE) AS day FROM events"))

  val qJsonExtract = Q("q_json_extract",
    (s, dir) => t(s, dir, "events")
      .filter(col("props").isNotNull)
      .select(col("event_id"),
        get_json_object(col("props"), "$.k").cast("int").as("k")),
    Some("""SELECT event_id, CAST(json_extract_string(props,'$.k') AS INTEGER) AS k
      FROM events WHERE props IS NOT NULL"""))

  /** The reference lands whole documents as Redshift SUPER (semi-
    * structured); Spark 4's VariantType is the modern equivalent
    * (SURVEY.md §1.1). Parse once to variant, extract typed paths.
    */
  val qVariant = Q("q_variant",
    (s, dir) => t(s, dir, "events")
      .filter(col("props").isNotNull)
      .select(col("event_id"), parse_json(col("props")).as("v"))
      .select(col("event_id"),
        try_variant_get(col("v"), "$.k", "int").as("k")),
    Some("""SELECT event_id, CAST(json_extract_string(props,'$.k') AS INTEGER) AS k
      FROM events WHERE props IS NOT NULL"""))

  /** Shared across the bench's cold+warm runs: the warm run hits the
    * driver-side schema cache — the production behavior being measured.
    * Keyed by the data dir so different SFs never share an entry.
    */
  private val schemaCache = new graft.pipeline.SchemaInference()

  val qSchemaInference = Q("q_schema_inference",
    (s, dir) => {
      val ev = t(s, dir, "events")
      // DMS-style runtime payload inference (reference
      // src/glue_dms_redshift_cdc.py:161) through the PRODUCTION path:
      // per-table cached and sample-capped, instead of re-inferring
      // over the full column on every run (the round-2 bench regression).
      val parsed = schemaCache.explodePayload(ev, db = "events", tb = dir,
        payloadCol = "props", keep = Seq.empty)
      parsed.groupBy(col("k")).agg(count(lit(1)).as("n"))
    },
    Some("""SELECT CAST(json_extract_string(props,'$.k') AS BIGINT) AS k, count(*) AS n
      FROM events GROUP BY 1"""))

  val qDateFuncs = Q("q_date_funcs",
    (s, dir) => t(s, dir, "events").select(
      col("event_id"),
      to_date(col("ts")).as("day"),
      hour(col("ts")).as("hr"),
      unix_timestamp(col("ts")).as("epoch_s"),
      date_format(col("ts"), "yyyy-MM-dd").as("day_str"),
      date_trunc("minute", col("ts")).as("minute_ts"),
      dayofweek(col("ts")).as("dow"),
      add_months(to_date(col("ts")), 2).as("plus2m"),
      datediff(to_date(col("ts")), lit("2024-01-01").cast("date")).as("days_in"),
      last_day(to_date(col("ts"))).as("month_end")),
    Some("""SELECT event_id, CAST(ts AS DATE) AS day, hour(ts) AS hr,
      epoch_ms(ts)//1000 AS epoch_s, strftime(ts, '%Y-%m-%d') AS day_str,
      date_trunc('minute', ts) AS minute_ts,
      dayofweek(ts) + 1 AS dow,
      CAST(CAST(ts AS DATE) + INTERVAL 2 MONTH AS DATE) AS plus2m,
      datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS days_in,
      last_day(CAST(ts AS DATE)) AS month_end
      FROM events"""))

  /** String-function breadth over part names. */
  val qStringFuncs = Q("q_string_funcs",
    (s, dir) => t(s, dir, "part").select(
      col("p_partkey"),
      upper(col("p_name")).as("up"),
      substring(col("p_name"), 1, 4).as("pre4"),
      length(col("p_name")).as("len"),
      lpad(col("p_brand"), 10, "#").as("padded"),
      translate(col("p_name"), "aeiou", "AEIOU").as("vowup"),
      reverse(col("p_name")).as("rev"),
      split(col("p_name"), " ").getItem(0).as("first_word"),
      regexp_replace(col("p_name"), "[aeiou]", "_").as("devoweled"),
      concat_ws("|", col("p_brand"), col("p_type")).as("joined")),
    Some("""SELECT p_partkey, upper(p_name) AS up, substr(p_name, 1, 4) AS pre4,
      length(p_name) AS len, lpad(p_brand, 10, '#') AS padded,
      translate(p_name, 'aeiou', 'AEIOU') AS vowup,
      reverse(p_name) AS rev,
      string_split(p_name, ' ')[1] AS first_word,
      regexp_replace(p_name, '[aeiou]', '_', 'g') AS devoweled,
      concat_ws('|', p_brand, p_type) AS joined
      FROM part"""))

  /** Math-function breadth over lineitem prices (all rounded: libm
    * results agree to well past 4dp). */
  val qMathFuncs = Q("q_math_funcs",
    (s, dir) => t(s, dir, "lineitem").select(
      col("l_orderkey"), col("l_linenumber"),
      round(abs(col("l_extendedprice") * -1), 2).as("abs_p"),
      ceil(col("l_extendedprice")).cast("double").as("ceil_p"),
      floor(col("l_discount") * 100).cast("double").as("disc_pct"),
      round(sqrt(col("l_extendedprice")), 4).as("sqrt_p"),
      round(log10(col("l_extendedprice")), 4).as("log10_p"),
      round(pow(col("l_tax") + 1, 2), 4).as("tax_sq"),
      pmod(col("l_orderkey"), lit(7)).as("mod7"),
      sign(col("l_discount") - lit(0.05)).cast("int").as("disc_sign")),
    Some("""SELECT l_orderkey, l_linenumber,
      round(abs(l_extendedprice * -1), 2) AS abs_p,
      CAST(ceil(l_extendedprice) AS DOUBLE) AS ceil_p,
      CAST(floor(l_discount * 100) AS DOUBLE) AS disc_pct,
      round(sqrt(l_extendedprice), 4) AS sqrt_p,
      round(log10(l_extendedprice), 4) AS log10_p,
      round(pow(l_tax + 1, 2), 4) AS tax_sq,
      l_orderkey % 7 AS mod7,
      CAST(CASE WHEN l_discount > 0.05 THEN 1 WHEN l_discount < 0.05 THEN -1 ELSE 0 END AS INT) AS disc_sign
      FROM lineitem"""))

  val qEventsHourly = Q("q_events_hourly",
    (s, dir) => t(s, dir, "events")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_v"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"), col("sum_v")),
    Some("""SELECT date_trunc('hour', ts) AS window_start, event_type,
      count(*) AS n, round(sum(value),2) AS sum_v
      FROM events GROUP BY 1, 2"""))

  /** Debezium-PG envelope round-trip: serialize events into the exact
    * envelope JSON the reference consumes, run the real parse → extract →
    * compact pipeline, and compare against direct SQL over the base table.
    */
  /** Synthetic Debezium-PG envelope built from the events table — shared
    * by the envelope round-trip and DLQ queries. */
  private def pgEnvelope(ev0: DataFrame): DataFrame = {
    // stands in for Kafka-partition parallelism: the envelope build +
    // parse is the CPU-heavy narrow stage, and the single-file events
    // fixture would otherwise run it in one task (ext.Materialize.spread
    // is a no-op on well-partitioned inputs)
    val ev = ext.Materialize.spread(ev0)
    val payload = to_json(struct(
      col("user_id").as("id"),
      get_json_object(col("props"), "$.k").cast("int").as("k"),
      col("value").as("v")))
    ev.select(to_json(struct(
      payload.as("after"),
      struct(
        lit("2.5").as("version"), lit("postgresql").as("connector"),
        lit("pg1").as("name"), unix_millis(col("ts")).as("ts_ms"),
        lit("false").as("snapshot"), lit("appdb").as("db"),
        lit("public").as("schema"), col("event_type").as("table"),
        col("event_id").as("txId")).as("source"),
      when(col("event_type") === "error", lit("d")).otherwise(lit("u")).as("op"),
      unix_millis(col("ts")).as("ts_ms"))).as("value"),
      col("event_id"))
  }

  val qEnvelopePg = Q("q_envelope_pg",
    (s, dir) => {
      val env = pgEnvelope(t(s, dir, "events"))
      val norm = PgCdc.normalize(env, passthrough = Seq("event_id"))
      Compaction.latestPerKey(norm, Seq("db_name", "tb_name", "pk"),
          Seq("ts_ms", "event_id"))
        .select(col("db_name"), col("tb_name"), col("pk"), col("ts_ms"), col("op"))
    },
    Some("""SELECT db_name, tb_name, pk, ts_ms, op FROM (
      SELECT 'appdb' AS db_name, event_type AS tb_name,
             CAST(user_id AS VARCHAR) AS pk, epoch_ms(ts) AS ts_ms,
             CASE WHEN event_type='error' THEN 'd' ELSE 'u' END AS op,
             row_number() OVER (PARTITION BY event_type, user_id
               ORDER BY epoch_ms(ts) DESC, event_id DESC) AS rn
      FROM events) x WHERE rn = 1"""))

  /** Mongo envelope round-trip incl. the merge's delete filter. */
  val qEnvelopeMongo = Q("q_envelope_mongo",
    (s, dir) => {
      val ev = ext.Materialize.spread(t(s, dir, "events"))
      val env = ev.select(to_json(struct(
        concat(lit("rid-"), col("event_id")).as("_id"),
        when(col("event_type") === "error", lit("delete"))
          .otherwise(lit("insert")).as("operationType"),
        col("props").as("fullDocument"),
        unix_millis(col("ts")).as("ts_ms"),
        struct(lit("appdb").as("db"), col("event_type").as("coll")).as("ns"),
        to_json(struct(col("user_id").as("_id"))).as("documentKey"))).as("value"),
        col("event_id"))
      val norm = MongoCdc.normalize(env, passthrough = Seq("event_id"))
      Compaction.latestPerKey(norm, Seq("db_name", "tb_name", "pk"),
          Seq("ts_ms", "event_id"))
        .filter(col("op") =!= MongoCdc.deleteMarker)
        .select(col("db_name"), col("tb_name"), col("pk"), col("ts_ms"),
          col("payload"))
    },
    Some("""SELECT db_name, tb_name, pk, ts_ms, payload FROM (
      SELECT 'appdb' AS db_name, event_type AS tb_name,
             CAST(user_id AS VARCHAR) AS pk, epoch_ms(ts) AS ts_ms,
             props AS payload,
             CASE WHEN event_type='error' THEN 'delete' ELSE 'insert' END AS op,
             row_number() OVER (PARTITION BY event_type, user_id
               ORDER BY epoch_ms(ts) DESC, event_id DESC) AS rn
      FROM events) x WHERE rn = 1 AND op <> 'delete'"""))

  /** Dead-letter split: every 50th envelope is truncated mid-JSON; the
    * pipeline must route exactly those to the DLQ with their raw value,
    * and process the rest normally. The oracle counts from the
    * corruption rule itself. */
  val qEnvelopeDlq = Q("q_envelope_dlq",
    (s, dir) => {
      val env = pgEnvelope(t(s, dir, "events"))
      val corrupted = env.withColumn("value",
        when(col("event_id") % 50 === 0,
          expr("substring(value, 1, length(value) - 10)"))
          .otherwise(col("value")))
      // one-pass flagged form: the parse runs once for both halves
      PgCdc.normalizeFlagged(corrupted, Seq("event_id"))
        .select(when(col("__bad"), lit("dlq")).otherwise(lit("ok")).as("tag"))
        .groupBy(col("tag")).agg(count(lit(1)).as("n"))
    },
    Some("""SELECT CASE WHEN event_id % 50 = 0 THEN 'dlq' ELSE 'ok' END AS tag,
        count(*) AS n
      FROM events GROUP BY 1"""))

  /** DMS envelope round-trip incl. control-record filtering. */
  val qEnvelopeDms = Q("q_envelope_dms",
    (s, dir) => {
      val ev = ext.Materialize.spread(t(s, dir, "events"))
      val env = ev.select(to_json(struct(
        col("props").as("data"),
        struct(
          date_format(col("ts"), "yyyy-MM-dd'T'HH:mm:ss.SSSSSS'Z'").as("timestamp"),
          when(col("event_id") % 97 === 0, lit("control")).otherwise(lit("data"))
            .as("record-type"),
          when(col("event_type") === "error", lit("delete"))
            .when(col("event_type") === "signup", lit("insert"))
            .otherwise(lit("update")).as("operation"),
          lit("schema-table").as("partition-key-type"),
          lit("appdb").as("schema-name"),
          col("event_type").as("table-name")).as("metadata"))).as("value"),
        col("event_id"), col("user_id"))
      val norm = DmsCdc(recordIdKey = "k").normalize(env,
        passthrough = Seq("event_id", "user_id"))
      Compaction.latestPerKey(
          norm.withColumn("pk", col("user_id").cast("string")),
          Seq("db_name", "tb_name", "pk"), Seq("ts_ms", "event_id"))
        .select(col("db_name"), col("tb_name"), col("pk"), col("ts_ms"), col("op"))
    },
    Some("""SELECT db_name, tb_name, pk, ts_ms, op FROM (
      SELECT 'appdb' AS db_name, event_type AS tb_name,
             CAST(user_id AS VARCHAR) AS pk, epoch_ms(ts) AS ts_ms,
             CASE WHEN event_type='error' THEN 'delete'
                  WHEN event_type='signup' THEN 'insert'
                  ELSE 'update' END AS op,
             row_number() OVER (PARTITION BY event_type, user_id
               ORDER BY epoch_ms(ts) DESC, event_id DESC) AS rn
      FROM events WHERE event_id % 97 <> 0) x WHERE rn = 1"""))

  // ---------------------------------------------------------------------
  // Extension: text analysis over `documents`.
  // ---------------------------------------------------------------------

  private[graft] val stopList = TextOps.Stopwords.map(w => s"'$w'").mkString(", ")

  val qTextStats = Q("q_text_stats",
    (s, dir) => t(s, dir, "documents").select(
        col("doc_id"),
        TextOps.nTokens(col("text")).as("n_tokens"),
        TextOps.nBpeTokens(col("text")).as("n_bpe"),
        TextOps.nPunct(col("text")).as("n_punct"),
        TextOps.nStopwords(col("text")).as("n_stop"),
        length(col("text")).as("n_chars"))
      .select(col("doc_id"), col("n_tokens"), col("n_bpe"), col("n_punct"),
        col("n_stop"),
        TextOps.stopwordRatioBpFromCounts(col("n_tokens"), col("n_stop"))
          .as("stop_ratio_bp"),
        TextOps.qualityFromCounts(col("n_tokens"), col("n_stop"),
          col("n_punct"), col("n_chars")).as("quality")),
    Some(s"""WITH b AS (SELECT doc_id,
        len(regexp_extract_all(text, '\\S+')) AS n_tokens,
        len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS n_bpe,
        len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS n_punct,
        len(list_filter(regexp_extract_all(lower(text), '\\S+'),
            x -> x IN ($stopList))) AS n_stop,
        length(text) AS n_chars
      FROM documents)
      SELECT doc_id, n_tokens, n_bpe, n_punct, n_stop,
        CASE WHEN n_tokens > 0 THEN (n_stop * 10000) // n_tokens ELSE 0 END AS stop_ratio_bp,
        (CASE WHEN n_tokens BETWEEN 20 AND 1000 THEN 10
              WHEN n_tokens < 20 THEN n_tokens // 2
              ELSE 10000 // n_tokens END) * 5
        + least((n_stop * 50) // greatest(n_tokens, 1), 10) * 3
        + (10 - least((n_punct * 50) // greatest(n_chars, 1), 10)) * 2 AS quality
      FROM b"""))

  val qTokenCount = Q("q_token_count",
    (s, dir) => t(s, dir, "documents")
      .groupBy(col("lang"))
      .agg(
        sum(TextOps.nTokens(col("text"))).as("total_tokens"),
        sum(TextOps.nBpeTokens(col("text"))).as("total_bpe"),
        count(lit(1)).as("n_docs")),
    Some("""SELECT lang,
      CAST(sum(len(regexp_extract_all(text, '\S+'))) AS BIGINT) AS total_tokens,
      CAST(sum(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))) AS BIGINT) AS total_bpe,
      count(*) AS n_docs
      FROM documents GROUP BY lang"""))

  val qLangId = Q("q_lang_id",
    (s, dir) => t(s, dir, "documents").select(
      col("doc_id"),
      TextOps.langIdHeuristic(col("text")).as("lang_pred")),
    Some(s"""SELECT doc_id,
      CASE WHEN regexp_matches(text, '[\\x{4e00}-\\x{9fff}]') THEN 'zh'
           WHEN regexp_matches(text, '[\\x{0400}-\\x{04ff}]') THEN 'ru'
           WHEN regexp_matches(text, '[\\x{0600}-\\x{06ff}]') THEN 'ar'
           WHEN regexp_matches(text, '[\\x{0900}-\\x{097f}]') THEN 'hi'
           WHEN len(list_filter(regexp_extract_all(lower(text), '\\S+'),
               x -> x IN ($stopList))) * 8 >= len(regexp_extract_all(text, '\\S+'))
             THEN 'en'
           ELSE 'und' END AS lang_pred
      FROM documents"""))

  /** LEARNED language-id ([[Corpus.langIdTrain]]/[[Corpus.langIdPredict]],
    * the hashed char-trigram naive Bayes): trained on the documents
    * table's own labels, argmax-predicted back over it — the FULL
    * feature-hash → per-language fixed-point log-likelihood → logit-sum
    * → argmax pipeline replayed in DuckDB SQL (training CTEs included).
    * Resubstitution means every inference bucket is observed, so the
    * unseen-feature default path contributes nothing here — that branch
    * (and the model-beats-heuristic claim) is spec-pinned on planted
    * fixtures (`CorpusSpec`).
    */
  val qLangIdModel = Q("lang_id_model",
    (s, dir) => {
      val d = t(s, dir, "documents")
      Corpus.langIdPredict(d, "doc_id", "text",
          Corpus.langIdTrain(d, "text", "lang"))
        .withColumnRenamed("id", "doc_id")
    },
    Some("""WITH norm AS (SELECT doc_id, lang,
          trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS t FROM documents),
      grams AS (SELECT doc_id, lang,
          unnest(list_transform(generate_series(1, length(t) - 2),
            i -> substr(t, i, 3))) AS g
        FROM norm WHERE length(t) >= 3),
      feats AS (SELECT doc_id, lang,
          ('0x' || substr(md5(g), 1, 15))::BIGINT % 4096 AS bucket FROM grams),
      counts AS (SELECT bucket, lang, count(*) AS c FROM feats GROUP BY 1, 2),
      ltot AS (SELECT lang, count(*) AS nfeat FROM feats GROUP BY 1),
      obs AS (SELECT DISTINCT bucket FROM counts),
      dense AS (SELECT o.bucket, l.lang,
          CAST(floor(ln((coalesce(c.c, 0) + 1)::DOUBLE /
            (l.nfeat + 4096)::DOUBLE) * 10000 + 0.5) AS BIGINT) AS w
        FROM obs o CROSS JOIN ltot l
        LEFT JOIN counts c ON c.bucket = o.bucket AND c.lang = l.lang),
      pri AS (SELECT d.lang,
          CAST(floor(ln(d.ndoc::DOUBLE / t.ntot::DOUBLE) * 10000 + 0.5) AS BIGINT) AS wp
        FROM (SELECT lang, count(*) AS ndoc FROM documents GROUP BY 1) d
        CROSS JOIN (SELECT count(*) AS ntot FROM documents) t),
      matched AS (SELECT f.doc_id, d.lang, d.w FROM feats f JOIN dense d USING (bucket)),
      sc AS (SELECT doc_id, lang, count(*) AS nf,
          CAST(sum(w) AS BIGINT) AS s
        FROM matched GROUP BY 1, 2),
      logits AS (SELECT sc.doc_id, sc.lang, sc.s + p.wp AS logit, sc.nf
        FROM sc JOIN pri p ON p.lang = sc.lang),
      pick AS (SELECT doc_id, lang, logit, nf,
          row_number() OVER (PARTITION BY doc_id
            ORDER BY logit DESC, lang ASC) AS rn
        FROM logits)
      SELECT doc_id, lang AS pred_lang, logit, nf AS n_features
      FROM pick WHERE rn = 1"""))

  /** Within-document repetition (duplicate 5-gram ratio) — the classic
    * boilerplate/spam signal in pretraining-data quality filtering.
    * Integer basis points for engine-exact parity.
    */
  val qRepetition = Q("q_repetition",
    (s, dir) => t(s, dir, "documents")
      .select(col("doc_id"),
        greatest(size(split(TextOps.normalized(col("text")), " ")) - 4, lit(0))
          .as("total_5grams"),
        size(Dedup.wordShinglesUdf(col("text"), 5)).as("uniq_5grams"))
      .select(col("doc_id"), col("total_5grams"), col("uniq_5grams"),
        when(col("total_5grams") > 0,
          floor(((col("total_5grams") - col("uniq_5grams")) * 10000) / col("total_5grams")))
          .otherwise(lit(0)).cast("long").as("rep_bp")),
    Some("""WITH b AS (
        SELECT doc_id,
               string_split(trim(regexp_replace(lower(text),'\s+',' ','g')), ' ') AS w
        FROM documents),
      c AS (
        SELECT doc_id, greatest(len(w)-4, 0) AS total_5grams,
               len(list_distinct(list_transform(
                 generate_series(1, greatest(len(w)-4, 0)),
                 i -> array_to_string(w[i:i+4], ' ')))) AS uniq_5grams
        FROM b)
      SELECT doc_id, total_5grams, uniq_5grams,
        CASE WHEN total_5grams > 0
          THEN ((total_5grams - uniq_5grams) * 10000) // total_5grams
          ELSE 0 END AS rep_bp
      FROM c"""))

  /** Session windows (30-minute inactivity gap) per user — Structured
    * Streaming's session_window in its batch form; the oracle replicates
    * with gaps-and-islands.
    */
  val qSessionize = Q("q_sessionize",
    (s, dir) => t(s, dir, "events")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 2).as("sum_v"))
      .select(col("session_window.start").as("session_start"), col("user_id"),
        col("n_events"), col("sum_v")),
    Some("""WITH x AS (
        SELECT user_id, ts, value,
               -- strict > matches Spark's verified boundary semantics: an
               -- event at exactly prev+gap still MERGES into the session
               CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                      > INTERVAL 30 MINUTE OR
                    lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                 THEN 1 ELSE 0 END AS brk
        FROM events),
      s AS (
        SELECT user_id, ts, value,
               sum(brk) OVER (PARTITION BY user_id ORDER BY ts
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        FROM x)
      SELECT min(ts) AS session_start, user_id,
             count(*) AS n_events, round(sum(value),2) AS sum_v
      FROM s GROUP BY user_id, sid"""))

  val qFingerprint = Q("q_fingerprint",
    (s, dir) => t(s, dir, "documents").select(
      col("doc_id"),
      TextOps.fingerprint(col("text")).as("fp")),
    Some("""SELECT doc_id,
      md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
      FROM documents"""))

  /** End-to-end corpus curation — the composite flow a training-data
    * pipeline actually runs: language filter → quality floor →
    * repetition ceiling → exact dedup (keep lowest id per fingerprint) →
    * per-source corpus stats. Everything integer/string so the oracle is
    * exact.
    */
  val qCorpusCuration = Q("q_corpus_curation",
    (s, dir) => {
      val base = t(s, dir, "documents").select(
        col("doc_id"), col("source"),
        TextOps.nTokens(col("text")).as("n_tokens"),
        TextOps.nStopwords(col("text")).as("n_stop"),
        TextOps.nPunct(col("text")).as("n_punct"),
        length(col("text")).as("n_chars"),
        TextOps.langIdHeuristic(col("text")).as("lang_pred"),
        greatest(size(split(TextOps.normalized(col("text")), " ")) - 4, lit(0))
          .as("total5"),
        size(Dedup.wordShinglesUdf(col("text"), 5)).as("uniq5"),
        TextOps.fingerprint(col("text")).as("fp"))
      val scored = base.select(col("*"),
        TextOps.qualityFromCounts(col("n_tokens"), col("n_stop"),
          col("n_punct"), col("n_chars")).as("quality"),
        when(col("total5") > 0,
          floor(((col("total5") - col("uniq5")) * 10000) / col("total5")))
          .otherwise(lit(0)).cast("long").as("rep_bp"))
      val kept = scored
        .filter(col("lang_pred") === "en" && col("quality") >= 60 &&
          col("rep_bp") <= 6000)
      val w = Window.partitionBy(col("fp"))
      kept.withColumn("keep_id", min(col("doc_id")).over(w))
        .filter(col("doc_id") === col("keep_id"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("total_tokens"))
    },
    Some(s"""WITH b AS (
        SELECT doc_id, source,
          len(regexp_extract_all(text, '\\S+')) AS n_tokens,
          len(list_filter(regexp_extract_all(lower(text), '\\S+'),
              x -> x IN ($stopList))) AS n_stop,
          len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS n_punct,
          length(text) AS n_chars,
          CASE WHEN regexp_matches(text, '[\\x{4e00}-\\x{9fff}]') THEN 'zh'
               WHEN regexp_matches(text, '[\\x{0400}-\\x{04ff}]') THEN 'ru'
               WHEN regexp_matches(text, '[\\x{0600}-\\x{06ff}]') THEN 'ar'
               WHEN regexp_matches(text, '[\\x{0900}-\\x{097f}]') THEN 'hi'
               WHEN len(list_filter(regexp_extract_all(lower(text), '\\S+'),
                   x -> x IN ($stopList))) * 8 >= len(regexp_extract_all(text, '\\S+'))
                 THEN 'en' ELSE 'und' END AS lang_pred,
          greatest(len(string_split(trim(regexp_replace(lower(text),'\\s+',' ','g')), ' '))-4, 0) AS total5,
          len(list_distinct(list_transform(
            generate_series(1, greatest(len(string_split(trim(regexp_replace(lower(text),'\\s+',' ','g')), ' '))-4, 0)),
            i -> array_to_string(string_split(trim(regexp_replace(lower(text),'\\s+',' ','g')), ' ')[i:i+4], ' ')))) AS uniq5,
          md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
        FROM documents),
      scored AS (
        SELECT *,
          (CASE WHEN n_tokens BETWEEN 20 AND 1000 THEN 10
                WHEN n_tokens < 20 THEN n_tokens // 2
                ELSE 10000 // n_tokens END) * 5
          + least((n_stop * 50) // greatest(n_tokens, 1), 10) * 3
          + (10 - least((n_punct * 50) // greatest(n_chars, 1), 10)) * 2 AS quality,
          CASE WHEN total5 > 0 THEN ((total5 - uniq5) * 10000) // total5
               ELSE 0 END AS rep_bp
        FROM b),
      kept AS (
        SELECT * FROM scored
        WHERE lang_pred = 'en' AND quality >= 60 AND rep_bp <= 6000),
      dedup AS (
        SELECT * FROM (SELECT *, min(doc_id) OVER (PARTITION BY fp) AS keep_id
                       FROM kept) WHERE doc_id = keep_id)
      SELECT source, count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS total_tokens
      FROM dedup GROUP BY source"""))
}
