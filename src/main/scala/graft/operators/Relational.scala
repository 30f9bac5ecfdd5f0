package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.QueryDef
import graft.sources.Tables

/** Reference-parity relational operator set (SURVEY.md §2.2/§2.3), mapped
  * onto the deterministic test tables per FIXTURES.md §B: reference
  * orders/order_items/users ≈ testdata orders/lineitem/customer.
  *
  * Design notes (100 TB posture):
  *  - All queries are declarative DataFrame plans — Catalyst pushes
  *    filters/projections to the parquet scan and plans partial+final hash
  *    aggregation automatically, so the reference's manual two-phase salted
  *    aggregation (flink-ddl.sql:197-211) is intentionally NOT reproduced:
  *    its salt column is absent from the outer SELECT, so results are
  *    identical, and AQE skew-join/partial-agg covers the motive.
  *  - Small dimensions (nation, region) are broadcast explicitly: no
  *    shuffle of the fact side (reference's JDBC lookup-cache join,
  *    flink-ddl.sql:79-94, has the same goal).
  *  - Double aggregates are rounded to cents in BOTH the Spark plan and the
  *    oracle so FP summation order (parallel partial sums vs DuckDB's
  *    sequential sum) cannot flip the hash compare.
  */
object Relational {
  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  val queries: Seq[QueryDef] = Seq(

    /** Q1 (SURVEY §2.2): pass-through projection — the reference's
      * `INSERT INTO user_view SELECT id,name,age,... FROM users`
      * (reference: flink-ddl.sql:192). */
    QueryDef("q01_projection",
      "SELECT c_custkey AS id, c_name AS name, c_acctbal AS acctbal, " +
        "c_mktsegment AS segment FROM customer") { (s, dir) =>
      t(s, dir, "customer").select(
        col("c_custkey").as("id"),
        col("c_name").as("name"),
        col("c_acctbal").as("acctbal"),
        col("c_mktsegment").as("segment"))
    },

    /** Q2 (SURVEY §2.2): backtick-quoted dotted column aliases, as used to
      * build nested ES documents (reference: flink-ddl.sql:180-187
      * `orders.amount AS `order.amount``). */
    QueryDef("q02_dotted_alias",
      "SELECT o_orderkey, o_totalprice AS \"order.amount\", " +
        "o_orderstatus AS \"order.status\", " +
        "o_orderpriority AS \"order.priority\" FROM orders") { (s, dir) =>
      t(s, dir, "orders").select(
        col("o_orderkey"),
        col("o_totalprice").as("order.amount"),
        col("o_orderstatus").as("order.status"),
        col("o_orderpriority").as("order.priority"))
    },

    /** Q3 (SURVEY §2.2): `<>` filter predicate (reference:
      * flink-ddl.sql:208 `WHERE orders.status <> 'closed'`). Pushed to the
      * parquet scan by Catalyst. */
    QueryDef("q03_filter",
      "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice " +
        "FROM orders WHERE o_orderstatus <> 'F'") { (s, dir) =>
      t(s, dir, "orders")
        .filter(col("o_orderstatus") =!= "F")
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
    },

    /** Q4 (SURVEY §2.2): the reference's flagship `order_view` — two-sided
      * inner equi-join + dotted-alias projection (reference:
      * flink-ddl.sql:179-190). On a changelog the reference's INSERT INTO
      * statement itself is maintained per micro-batch
      * (graft.streaming.SqlInsert.viewDef over CdcPipeline, exercised
      * end-to-end in CdcPipelineSpec and SqlInsertSpec); the batch form
      * over compacted tables is the shuffle/sort-merge join below.
      * At 100 TB both sides are large → shuffle join on the key; AQE picks
      * broadcast automatically when one side's runtime size is small. */
    QueryDef("q04_order_view",
      "SELECT o_orderkey AS id, o_totalprice AS \"order.amount\", " +
        "o_orderstatus AS \"order.status\", c_name AS \"user.name\", " +
        "c_mktsegment AS \"user.segment\" " +
        "FROM orders JOIN customer ON o_custkey = c_custkey") { (s, dir) =>
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer")
      o.join(c, o("o_custkey") === c("c_custkey"))
        .select(
          o("o_orderkey").as("id"),
          o("o_totalprice").as("order.amount"),
          o("o_orderstatus").as("order.status"),
          c("c_name").as("user.name"),
          c("c_mktsegment").as("user.segment"))
    },

    /** Q5+Q7 (SURVEY §2.2): fact-to-fact join then filtered aggregation —
      * the reference's `product_stats_view` (reference:
      * flink-ddl.sql:243-259: order_items ⋈ orders WHERE status<>'closed'
      * GROUP BY product_id). */
    QueryDef("q05_fact_join_agg",
      "SELECT l_partkey AS product_id, " +
        "ROUND(SUM(l_quantity), 2) AS quantity, " +
        "ROUND(SUM(l_extendedprice), 2) AS amount, COUNT(*) AS cnt " +
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
        "WHERE o_orderstatus <> 'F' GROUP BY l_partkey") { (s, dir) =>
      val li = t(s, dir, "lineitem")
      val o = t(s, dir, "orders")
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .filter(col("o_orderstatus") =!= "F")
        .groupBy(col("l_partkey").as("product_id"))
        .agg(
          round(sum("l_quantity"), 2).as("quantity"),
          round(sum("l_extendedprice"), 2).as("amount"),
          count(lit(1)).as("cnt"))
    },

    /** Q6 (SURVEY §2.2): lookup/dimension join — the reference's JDBC
      * lookup table with cache (reference: flink-ddl.sql:79-94). Spark-first
      * mapping: explicit broadcast of the small dims; the fact side never
      * shuffles. */
    QueryDef("q06_lookup_join",
      "SELECT c_custkey, c_name, n_name AS nation, r_name AS region " +
        "FROM customer JOIN nation ON c_nationkey = n_nationkey " +
        "JOIN region ON n_regionkey = r_regionkey") { (s, dir) =>
      val c = t(s, dir, "customer")
      val n = t(s, dir, "nation")
      val r = t(s, dir, "region")
      c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .select(c("c_custkey"), c("c_name"),
          n("n_name").as("nation"), r("r_name").as("region"))
    },

    /** Q7 (SURVEY §2.2): grouped aggregation with day bucketing — the
      * reference's `user_order_stats_view` (reference: flink-ddl.sql:197-211;
      * README.md:328-334 `GROUP BY user_id, date_format(ctime,...)`).
      * Retraction semantics for the streaming form live in
      * graft.streaming; this is the batch-equivalent over compacted input. */
    QueryDef("q07_user_day_stats",
      "SELECT o_custkey AS user_id, strftime(o_orderdate, '%Y-%m-%d') AS cday, " +
        "ROUND(SUM(o_totalprice), 2) AS amount, COUNT(*) AS cnt " +
        "FROM orders WHERE o_orderstatus <> 'F' GROUP BY 1, 2") { (s, dir) =>
      t(s, dir, "orders")
        .filter(col("o_orderstatus") =!= "F")
        .groupBy(
          col("o_custkey").as("user_id"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("cday"))
        .agg(
          round(sum("o_totalprice"), 2).as("amount"),
          count(lit(1)).as("cnt"))
    },

    /** Q8 (SURVEY §2.2/§4): the reference's manual two-phase salted
      * aggregation (reference: flink-ddl.sql:214-227 — inner GROUP BY adds
      * `mod(hash_code(FLOOR(RAND(1)*1000)),256)`, outer re-aggregates).
      * Spark plans partial+final HashAggregate automatically and AQE splits
      * skewed partitions, so this is a single declarative groupBy; the salt
      * bucket never appears in the reference's outer SELECT, so results are
      * identical. */
    QueryDef("q08_day_stats",
      "SELECT strftime(o_orderdate, '%Y-%m-%d') AS cday, " +
        "ROUND(SUM(o_totalprice), 2) AS amount, COUNT(*) AS cnt " +
        "FROM orders WHERE o_orderstatus <> 'F' GROUP BY 1") { (s, dir) =>
      t(s, dir, "orders")
        .filter(col("o_orderstatus") =!= "F")
        .groupBy(date_format(col("o_orderdate"), "yyyy-MM-dd").as("cday"))
        .agg(
          round(sum("o_totalprice"), 2).as("amount"),
          count(lit(1)).as("cnt"))
    },

    /** Q9 (SURVEY §2.2): nested subquery in FROM — outer aggregation over an
      * inner aggregation (reference: flink-ddl.sql:201-211). Inner sums stay
      * unrounded in both engines; only the outer emit is rounded. */
    QueryDef("q09_nested_agg",
      "SELECT cday, ROUND(SUM(amount), 2) AS amount, " +
        "CAST(SUM(cnt) AS BIGINT) AS cnt, COUNT(*) AS users FROM (" +
        "SELECT o_custkey, strftime(o_orderdate, '%Y-%m-%d') AS cday, " +
        "SUM(o_totalprice) AS amount, COUNT(*) AS cnt " +
        "FROM orders WHERE o_orderstatus <> 'F' GROUP BY 1, 2" +
        ") GROUP BY cday") { (s, dir) =>
      val inner = t(s, dir, "orders")
        .filter(col("o_orderstatus") =!= "F")
        .groupBy(
          col("o_custkey"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("cday"))
        .agg(sum("o_totalprice").as("amount"), count(lit(1)).as("cnt"))
      inner.groupBy("cday").agg(
        round(sum("amount"), 2).as("amount"),
        sum("cnt").as("cnt"),
        count(lit(1)).as("users"))
    },

    /** Q10 (SURVEY §2.2): LISTAGG string aggregation (reference:
      * flink-ddl.sql:124-127 `LISTAGG(product_id, ',')`). LISTAGG is
      * order-unspecified, so both sides sort the elements to make the CSV
      * deterministic. */
    QueryDef("q10_listagg",
      "SELECT l_orderkey, string_agg(CAST(l_partkey AS VARCHAR), ',' " +
        "ORDER BY CAST(l_partkey AS VARCHAR)) AS product_ids " +
        "FROM lineitem GROUP BY l_orderkey") { (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(array_join(
          array_sort(collect_list(col("l_partkey").cast("string"))),
          ",").as("product_ids"))
    },

    /** Q11 (SURVEY §2.2): COLLECT(ROW(...)) multiset aggregation of structs
      * building the nested order-items document (reference:
      * flink-ddl.sql:129-132 + ARRAY<ROW<...>> sink at :111-122). COLLECT is
      * a multiset → both sides order by linenumber for determinism, and the
      * array<struct> is serialized to a JSON string on BOTH sides so the
      * driver's hash compare operates on strings (nested arrays are not
      * hashable in its pandas compare). */
    QueryDef("q11_collect_items",
      "SELECT l_orderkey, to_json(list(struct_pack(" +
        "linenumber := l_linenumber, product_id := l_partkey, " +
        "quantity := l_quantity) " +
        "ORDER BY l_linenumber, l_partkey, l_quantity)) AS items " +
        "FROM lineitem GROUP BY l_orderkey") { (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(to_json(array_sort(collect_list(struct(
          col("l_linenumber").as("linenumber"),
          col("l_partkey").as("product_id"),
          col("l_quantity").as("quantity"))))).as("items"))
    },

    /** Q12 (SURVEY §2.2): `SELECT *` catalog scan (reference:
      * README.md:260-261). */
    QueryDef("q12_scan_star", "SELECT * FROM nation") { (s, dir) =>
      t(s, dir, "nation").select(col("*"))
    },

    /** Q13/SQL front door (SURVEY §7.2 step 5): the reference's flagship
      * DML ported ~verbatim through `Engine.sql` over catalog-registered
      * tables — DDL mutates only the session catalog, the SELECT plans
      * through stock Catalyst (reference: flink-ddl.sql:179-190 +
      * README.md:342). */
    QueryDef("q15_sql_order_view",
      "SELECT o_orderkey AS id, o_totalprice AS \"order.amount\", " +
        "o_orderstatus AS \"order.status\", c_name AS \"user.name\" " +
        "FROM orders JOIN customer ON o_custkey = c_custkey " +
        "WHERE o_orderstatus <> 'F'") { (s, dir) =>
      val engine = graft.Engine(s)
      engine.registerParquet("orders", dir, primaryKey = Seq("o_orderkey"))
      engine.registerParquet("customer", dir, primaryKey = Seq("c_custkey"))
      engine.sql(
        """SELECT o_orderkey AS id, o_totalprice AS `order.amount`,
          |o_orderstatus AS `order.status`, c_name AS `user.name`
          |FROM orders JOIN customer ON o_custkey = c_custkey
          |WHERE o_orderstatus <> 'F'""".stripMargin)
    },

    /** §7.2 step 3 keystone, batch form: latest-row-per-key changelog
      * materialization (upsert-table compaction), key = user_id, version =
      * ts, tie-break event_id. Expressed as `max_by` aggregation rather than
      * a row_number window: partial-aggregatable (map-side combine before
      * the shuffle), no per-key sort, and no skew serialization — at 100 TB
      * a window over PARTITION BY user_id would full-shuffle the stream and
      * AQE cannot split a skewed window partition, so one hot key would
      * serialize a task. Ordering uses the raw nanos `ts_ns` so ties are
      * broken at full precision exactly like the oracle. */
    QueryDef("q13_materialize_latest",
      "SELECT user_id, event_id, event_type, value, " +
        "strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_sec FROM events " +
        "QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id " +
        "ORDER BY ts DESC, event_id DESC) = 1") { (s, dir) =>
      t(s, dir, "events")
        .groupBy("user_id")
        .agg(max_by(
          struct(col("event_id"), col("event_type"), col("value"),
            col("ts")),
          struct(col("ts_ns"), col("event_id"))).as("latest"))
        .select(col("user_id"),
          col("latest.event_id").as("event_id"),
          col("latest.event_type").as("event_type"),
          col("latest.value").as("value"),
          date_format(col("latest.ts"), "yyyy-MM-dd HH:mm:ss").as("ts_sec"))
    },

    /** Event-time tumbling-window aggregation over the events stream —
      * the capability the reference conspicuously lacks (no WATERMARK, no
      * event-time window anywhere: SURVEY §1.1/§2.4); its day bucketing
      * via date_format (flink-ddl.sql:204) is the degenerate form. Batch
      * shape here (oracle-checked); the watermarked streaming form is
      * graft.streaming.EventWindows (tested in EventWindowSpec). */
    QueryDef("q16_event_window",
      "SELECT date_trunc('hour', ts) AS window_start, event_type, " +
        "COUNT(*) AS cnt, ROUND(SUM(value), 2) AS total " +
        "FROM events GROUP BY 1, 2") { (s, dir) =>
      t(s, dir, "events")
        .groupBy(
          window(col("ts"), "1 hour")("start").as("window_start"),
          col("event_type"))
        .agg(count(lit(1)).as("cnt"),
          round(sum("value"), 2).as("total"))
    },

    /** Sliding event-time windows (1 h length, 30 min slide): each event
      * lands in size/slide = 2 windows. Extension beyond the reference
      * (SURVEY §2.4 — no event-time windows at all); the watermarked
      * streaming form is graft.streaming.EventWindows.sliding. Oracle:
      * every event joined to its 2 aligned window starts via range(2) —
      * the same epoch-aligned starts Spark's window() assigns. */
    QueryDef("q17_sliding_window",
      "SELECT make_timestamp((epoch_us(ts)//1800000000 - i) * 1800000000) " +
        "AS window_start, event_type, COUNT(*) AS cnt, " +
        "ROUND(SUM(value), 2) AS total " +
        "FROM events, range(2) t(i) GROUP BY 1, 2") { (s, dir) =>
      t(s, dir, "events")
        .groupBy(
          window(col("ts"), "1 hour", "30 minutes")("start").as("window_start"),
          col("event_type"))
        .agg(count(lit(1)).as("cnt"),
          round(sum("value"), 2).as("total"))
    },

    /** Session event-time windows: per-user sessions split where the gap
      * to the previous event reaches 8 h (chosen against the corpus's
      * ~7.3 h median per-user gap, so the data exercises both merge and
      * split). Spark merges while next < last + gap, so the oracle's
      * new-session predicate is diff >= gap; session end = last + gap,
      * Spark's session_window.end. Streaming form:
      * graft.streaming.EventWindows.session. */
    QueryDef("q18_session_window",
      "SELECT user_id, min(ts) AS session_start, " +
        "max(ts) + INTERVAL 8 HOUR AS session_end, COUNT(*) AS cnt, " +
        "ROUND(SUM(value), 2) AS total FROM " +
        "(SELECT user_id, ts, value, SUM(is_new) OVER " +
        "(PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid " +
        "FROM (SELECT user_id, ts, value, CASE WHEN " +
        "lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL OR " +
        "epoch_us(ts) - epoch_us(lag(ts) OVER " +
        "(PARTITION BY user_id ORDER BY ts)) >= 28800000000 " +
        "THEN 1 ELSE 0 END AS is_new FROM events)) " +
        "GROUP BY user_id, sid") { (s, dir) =>
      t(s, dir, "events")
        .groupBy(col("user_id"), session_window(col("ts"), "8 hours"))
        .agg(count(lit(1)).as("cnt"), round(sum("value"), 2).as("total"))
        .select(col("user_id"),
          col("session_window.start").as("session_start"),
          col("session_window.end").as("session_end"),
          col("cnt"), col("total"))
    },

    /** §1.2 JSON-as-string handling — the Mongo CDC variant stores the
      * document as a raw JSON string column read with JSON functions
      * (reference: flink-mongodb.sql:1-5; envelope
      * sample/cdc.crawler.change-log-mongodb.json:46). */
    QueryDef("q14_json_extract",
      "SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k " +
        "FROM events") { (s, dir) =>
      t(s, dir, "events").select(
        col("event_id"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
    },

    /** Hierarchical totals via ROLLUP + a DISTINCT aggregate — two §2.4
      * extension targets (grouping sets, DISTINCT aggregates) in one
      * query: per (status, priority), per status, and grand totals, each
      * with the distinct-customer count. grouping_id disambiguates a
      * genuine NULL group value from a rollup subtotal row. Scale shape:
      * rollup is one shuffle with partial aggregation; count(DISTINCT)
      * expands to a two-phase exact aggregation Spark plans natively. */
    QueryDef("q19_rollup_stats",
      "SELECT o_orderstatus, o_orderpriority, COUNT(*) AS cnt, " +
        "ROUND(SUM(o_totalprice), 2) AS amount, " +
        "COUNT(DISTINCT o_custkey) AS n_customers, " +
        "CAST(GROUPING(o_orderstatus) * 2 + GROUPING(o_orderpriority) AS BIGINT) AS gid " +
        "FROM orders GROUP BY ROLLUP(o_orderstatus, o_orderpriority)") { (s, dir) =>
      t(s, dir, "orders")
        .rollup("o_orderstatus", "o_orderpriority")
        .agg(count(lit(1)).as("cnt"),
          round(sum("o_totalprice"), 2).as("amount"),
          countDistinct("o_custkey").as("n_customers"),
          grouping_id().as("gid"))
    },

    /** Anti join — orders that never shipped a line item (a §2.4
      * extension target; the reference has equi joins only). The anti
      * join ships only the distinct right-side keys; no row from the
      * probe side is ever duplicated or carried past the match test. */
    QueryDef("q28_orders_no_items",
      "SELECT o_orderkey, o_totalprice FROM orders " +
        "WHERE o_orderkey NOT IN (SELECT l_orderkey FROM lineitem)") { (s, dir) =>
      t(s, dir, "orders")
        .join(t(s, dir, "lineitem").select(col("l_orderkey")).distinct(),
          col("o_orderkey") === col("l_orderkey"), "left_anti")
        .select("o_orderkey", "o_totalprice")
    },

    /** Left outer join with aggregation-below-join: every order with its
      * line-item count and shipped quantity, zeros (not dropped rows)
      * for the orders q28 isolates. Aggregating the item side BEFORE the
      * join keeps the join input one row per key — at scale that is the
      * difference between joining 4 rows/order and joining the raw
      * line-item table, and Catalyst cannot hoist it automatically. */
    QueryDef("q47_left_outer",
      "SELECT o_orderkey, o_orderstatus, " +
        "COALESCE(cnt, 0) AS item_cnt, " +
        "ROUND(COALESCE(qty, 0), 2) AS quantity " +
        "FROM orders LEFT JOIN (SELECT l_orderkey, COUNT(*) AS cnt, " +
        "SUM(l_quantity) AS qty FROM lineitem GROUP BY 1) li " +
        "ON o_orderkey = l_orderkey") { (s, dir) =>
      val items = t(s, dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(count(lit(1)).as("cnt"), sum("l_quantity").as("qty"))
      t(s, dir, "orders")
        .join(items, col("o_orderkey") === col("l_orderkey"), "left")
        .select(col("o_orderkey"), col("o_orderstatus"),
          coalesce(col("cnt"), lit(0L)).as("item_cnt"),
          round(coalesce(col("qty"), lit(0.0)), 2).as("quantity"))
    },

    /** Semi join (EXISTS): customers who placed at least one open order
      * — the probe side passes through at most once per row, no
      * duplication from multiple matches, and only distinct keys ship
      * from the order side. */
    QueryDef("q48_semi_join",
      "SELECT c_custkey, c_name FROM customer c WHERE EXISTS " +
        "(SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey " +
        "AND o.o_orderstatus = 'O')") { (s, dir) =>
      t(s, dir, "customer")
        .join(t(s, dir, "orders").filter(col("o_orderstatus") === "O"),
          col("c_custkey") === col("o_custkey"), "left_semi")
        .select("c_custkey", "c_name")
    },

    /** Set-operation funnel over events (§2.4 extension targets UNION /
      * INTERSECT / EXCEPT): per (user, day), click-days without a
      * purchase vs click-days with one. Set ops on (user, day) pairs are
      * DISTINCT joins under the hood — the shuffle carries the compact
      * key pairs, never event rows. */
    QueryDef("q29_funnel_setops",
      "WITH cd AS (SELECT DISTINCT user_id, strftime(ts, '%Y-%m-%d') AS day " +
        "FROM events WHERE event_type = 'click'), " +
        "pd AS (SELECT DISTINCT user_id, strftime(ts, '%Y-%m-%d') AS day " +
        "FROM events WHERE event_type = 'purchase') " +
        "SELECT user_id, day, 'click_no_purchase' AS segment " +
        "FROM (SELECT * FROM cd EXCEPT SELECT * FROM pd) " +
        "UNION ALL " +
        "SELECT user_id, day, 'click_and_purchase' AS segment " +
        "FROM (SELECT * FROM cd INTERSECT SELECT * FROM pd)") { (s, dir) =>
      val ev = t(s, dir, "events")
      def days(eventType: String) = ev
        .filter(col("event_type") === eventType)
        .select(col("user_id"),
          date_format(col("ts"), "yyyy-MM-dd").as("day"))
        .distinct()
      val clicks = days("click")
      val purchases = days("purchase")
      clicks.except(purchases)
        .withColumn("segment", lit("click_no_purchase"))
        .unionAll(clicks.intersect(purchases)
          .withColumn("segment", lit("click_and_purchase")))
    },

    /** Fact-to-fact join over BUCKETED storage: both tables persisted once
      * with `bucketBy(16, orderkey).sortBy`, so the join and the follow-on
      * per-order aggregation plan with ZERO Exchange — the buckets align
      * and the sorted files feed SortMergeJoin directly (PlanSpec asserts
      * no Exchange operator survives). This is the at-rest layout a 100 TB
      * deployment gives its hot fact tables: the shuffle that q05-style
      * joins repay on every query is paid once at write time. The merge
      * hint only pins the join strategy (broadcast would also be
      * shuffle-free here but stops being possible at real scale); results
      * are identical to the plain join, which is what the oracle runs. */
    QueryDef("q58_bucketed_join",
      "SELECT o_orderkey, count(*) AS n_items, " +
        "round(sum(l_quantity), 6) AS sum_qty, " +
        "round(sum(l_extendedprice * (1 - l_discount)), 6) AS revenue " +
        "FROM orders JOIN lineitem ON o_orderkey = l_orderkey " +
        "GROUP BY 1") { (s, dir) =>
      val o = graft.sources.Bucketed.table(s, dir, "orders", "o_orderkey")
      val l = graft.sources.Bucketed.table(s, dir, "lineitem", "l_orderkey")
      o.hint("merge")
        .join(l, col("o_orderkey") === col("l_orderkey"))
        .groupBy("o_orderkey")
        .agg(count(lit(1)).as("n_items"),
          round(sum("l_quantity"), 6).as("sum_qty"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 6)
            .as("revenue"))
    },

    /** Skew-salted fact join: the manual fix for a hot join key that a
      * single reducer cannot hold — the probe side (lineitem) adds a
      * deterministic salt in 0..7, the build side (orders) replicates
      * each row across all 8 salts via `explode(sequence)`, and the join
      * key becomes (orderkey, salt) so one hot order's rows spread over
      * 8 reducers instead of melting one. The salt never reaches the
      * output (grouped away), so results are IDENTICAL to the plain
      * join — which is exactly what the oracle runs. At 100 TB this is
      * the insurance for known-hot keys; for skew discovered at runtime,
      * AQE's skew-join split (`spark.sql.adaptive.skewJoin`) does the
      * same split without the 8× build-side replication, so prefer AQE
      * unless the skew is extreme and known in advance (reference motive:
      * the two-level salted agg, flink-ddl.sql:197-211, applied to a
      * join). PlanSpec pins the salted plan (join keys include the salt)
      * and result equality with the unsalted join. */
    QueryDef("q64_salted_join",
      "SELECT o_orderstatus, count(*) AS n_items, " +
        "CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) " +
        "AS DOUBLE) AS revenue " +
        "FROM orders JOIN lineitem ON o_orderkey = l_orderkey " +
        "GROUP BY 1") { (s, dir) => saltedJoinAgg(s, dir) },

    /** PIVOT: per (user, day), event counts spread across one column per
      * event type — the wide activity matrix BI layers ask for (a §2.4
      * extension target; the reference has no PIVOT). The pivot value
      * set is EXPLICIT (Spark's `pivot(col, values)` overload): with
      * inferred values the planner must first scan for distinct event
      * types — an extra pass over the fact table — and the output schema
      * becomes data-dependent, which breaks sinks and the oracle alike.
      * Plans as ONE partial+final aggregation (pivotfirst), shuffling
      * only group keys and 5 counters per row. */
    QueryDef("q65_event_pivot",
      "SELECT user_id, strftime(ts, '%Y-%m-%d') AS day, " +
        Seq("click", "view", "purchase", "signup", "error").map(t =>
          s"CAST(coalesce(sum(CASE WHEN event_type = '$t' THEN 1 END), 0) " +
            s"AS BIGINT) AS $t").mkString(", ") +
        " FROM events GROUP BY 1, 2") { (s, dir) =>
      val types = Seq("click", "view", "purchase", "signup", "error")
      t(s, dir, "events")
        .groupBy(col("user_id"),
          date_format(col("ts"), "yyyy-MM-dd").as("day"))
        .pivot("event_type", types)
        .agg(count(lit(1)))
        .na.fill(0L, types)
    },

    /** UNPIVOT (q65's inverse): the line item's numeric measures melted
      * into long (metric, value) rows — the export shape metric stores
      * and plotting layers ingest. Uses the native `unpivot` operator
      * (Expand under the hood): a pure narrow transform — each input row
      * expands to 4 in the scan stage, NO shuffle, no per-metric rescan
      * (the UNION-ALL-of-4-selects formulation the oracle uses would
      * scan 4× without Spark's Expand). */
    QueryDef("q67_metric_melt",
      Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax").map(m =>
        s"SELECT l_orderkey, l_linenumber, '$m' AS metric, $m AS value " +
          "FROM lineitem").mkString(" UNION ALL ")) { (s, dir) =>
      t(s, dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_quantity",
          "l_extendedprice", "l_discount", "l_tax")
        .unpivot(
          Array(col("l_orderkey"), col("l_linenumber")),
          Array(col("l_quantity"), col("l_extendedprice"),
            col("l_discount"), col("l_tax")),
          "metric", "value")
    },

    /** LAG inter-event gaps: per user, the count / max / mean of the
      * nanosecond intervals between consecutive events — the
      * sessionization primitive behind idle-timeout detection. The
      * window partitions BY USER (users process in parallel; no global
      * order — the q66 scaladoc's anti-pattern), ordered by exact int64
      * MICROSECONDS (DuckDB surfaces the nanos-precision parquet column
      * at micros, so both engines truncate the raw `ts_ns` identically
      * and gap arithmetic is exact integer math). Tie-break on event_id:
      * per-gap values then come from a unique total order, though the
      * aggregates are already order-invariant over ties (sorted multiset
      * is unique). */
    QueryDef("q68_event_gaps",
      "WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS tus FROM events), " +
        "g AS (SELECT user_id, tus - lag(tus) OVER " +
        "(PARTITION BY user_id ORDER BY tus, event_id) AS gap FROM e) " +
        "SELECT user_id, count(*) AS n_gaps, " +
        "CAST(max(gap) AS BIGINT) AS max_gap_us, " +
        "round(avg(gap), 2) AS avg_gap_us " +
        "FROM g WHERE gap IS NOT NULL GROUP BY 1") { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy("tus", "event_id")
      t(s, dir, "events")
        .select(col("user_id"), col("event_id"),
          // integer div, NOT `/`: double division loses exactness past
          // 2^53 and epoch nanoseconds are ~1.7e18
          expr("ts_ns div 1000").as("tus"))
        .withColumn("gap", col("tus") - lag("tus", 1).over(w))
        .filter(col("gap").isNotNull)
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_gaps"),
          max("gap").as("max_gap_us"),
          round(avg("gap"), 2).as("avg_gap_us"))
    },

    /** Gap-based sessionization (q68's gaps turned into session rows): a
      * new session starts at a user's first event or after a ≥12 h idle
      * gap; each session reports its event count, start, and duration.
      * The classic two-window formulation — LAG flags session starts,
      * a running SUM numbers them — runs per-user partitions in
      * parallel (both windows share ONE partitioning, so the plan pays a
      * single shuffle and sorts within partitions; no global order).
      * All arithmetic is exact int64 microseconds (q68's `ts_ns div
      * 1000` ≡ DuckDB's `epoch_us` identity), so the gate hash-matches
      * integer-for-integer. */
    QueryDef("q69_sessionize",
      "WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS tus FROM events), " +
        "f AS (SELECT user_id, tus, event_id, CASE WHEN tus - lag(tus) OVER " +
        "(PARTITION BY user_id ORDER BY tus, event_id) >= 43200000000 " +
        "OR lag(tus) OVER (PARTITION BY user_id ORDER BY tus, event_id) IS NULL " +
        "THEN 1 ELSE 0 END AS new_s FROM e), " +
        "g AS (SELECT user_id, tus, CAST(sum(new_s) OVER " +
        "(PARTITION BY user_id ORDER BY tus, event_id ROWS UNBOUNDED PRECEDING) " +
        "AS BIGINT) AS session_id FROM f) " +
        "SELECT user_id, session_id, count(*) AS n_events, " +
        "min(tus) AS start_us, CAST(max(tus) - min(tus) AS BIGINT) AS duration_us " +
        "FROM g GROUP BY 1, 2") { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val idleUs = 43200000000L // 12 h
      val byUser = Window.partitionBy("user_id").orderBy("tus", "event_id")
      val running = Window.partitionBy("user_id").orderBy("tus", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "events")
        .select(col("user_id"), col("event_id"),
          expr("ts_ns div 1000").as("tus"))
        .withColumn("prev", lag("tus", 1).over(byUser))
        .withColumn("new_s",
          when(col("prev").isNull || col("tus") - col("prev") >= idleUs, 1)
            .otherwise(0))
        .withColumn("session_id", sum("new_s").over(running))
        .groupBy("user_id", "session_id")
        .agg(count(lit(1)).as("n_events"),
          min("tus").as("start_us"),
          (max("tus") - min("tus")).as("duration_us"))
    },

    /** Cumulative (running) daily revenue per order status — the
      * month-to-date series every revenue dashboard plots. Two stages:
      * a map-side-combinable daily rollup (the shuffle carries one row
      * per (status, day), never orders), then a running-sum window over
      * the TINY aggregated series — |status|×|days| rows, partitioned by
      * status so days of different statuses cumulate in parallel. Sums
      * run over exact DECIMAL(18,6) (order-independent — the window's
      * cumulation order and DuckDB's sequential order then agree bit-
      * for-bit) and cast to double only at the output boundary. */
    QueryDef("q70_running_revenue",
      "WITH d AS (SELECT o_orderstatus, strftime(o_orderdate, '%Y-%m-%d') AS day, " +
        "sum(CAST(o_totalprice AS DECIMAL(18,6))) AS rev, count(*) AS n_orders " +
        "FROM orders GROUP BY 1, 2) " +
        "SELECT o_orderstatus, day, n_orders, CAST(rev AS DOUBLE) AS day_revenue, " +
        "CAST(sum(rev) OVER (PARTITION BY o_orderstatus ORDER BY day " +
        "ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS cum_revenue FROM d") { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("o_orderstatus").orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "orders")
        .groupBy(col("o_orderstatus"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("day"))
        .agg(sum(col("o_totalprice").cast("decimal(18,6)")).as("rev"),
          count(lit(1)).as("n_orders"))
        .select(col("o_orderstatus"), col("day"), col("n_orders"),
          col("rev").cast("double").as("day_revenue"),
          sum("rev").over(w).cast("double").as("cum_revenue"))
    },

    /** 7-day trailing moving average of daily event volume — the
      * smoothed traffic series behind anomaly alerts. The corpus-sized
      * work is the map-side-combinable daily count; the ROWS 6 PRECEDING
      * window then runs over the aggregated series (|days| rows — at
      * 100 TB still only one row per day, so the single-partition window
      * is bounded by the calendar, not the data; partition by year if a
      * series ever outgrows one task). Averages of exact int64 counts
      * over ≤7 rows are exact in both engines. */
    QueryDef("q71_moving_avg",
      "WITH d AS (SELECT strftime(ts, '%Y-%m-%d') AS day, count(*) AS n_events " +
        "FROM events GROUP BY 1) " +
        "SELECT day, n_events, " +
        "round(avg(n_events) OVER (ORDER BY day ROWS BETWEEN 6 PRECEDING " +
        "AND CURRENT ROW), 6) AS ma7 FROM d") { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.orderBy("day").rowsBetween(-6, Window.currentRow)
      t(s, dir, "events")
        .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("day"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("day"), col("n_events"),
          round(avg("n_events").over(w), 6).as("ma7"))
    },

    /** FULL OUTER join (the last join type in the set): cohort churn —
      * per customer, order counts in the early (pre-1998) vs late era,
      * keeping customers who appear in only ONE era (exactly what inner/
      * left joins lose; `coalesce` backfills the missing side's key and
      * zero-counts). Both inputs pre-aggregate to one row per customer
      * BEFORE the join, so the full-outer matches key-to-key — at 100 TB
      * the join ships |customers| rows, not |orders|. (When both sides
      * derive from the SAME table, as here, a conditional aggregation —
      * one groupBy with count(when(era…)) — does it in one scan and no
      * join at all; the two-sided form is kept because FULL OUTER is the
      * operator under test, and it is what you need the moment the eras
      * come from different tables.) */
    QueryDef("q77_churn_cohorts",
      "WITH a AS (SELECT o_custkey, count(*) AS n_early FROM orders " +
        "WHERE o_orderdate < TIMESTAMP '1998-01-01' GROUP BY 1), " +
        "b AS (SELECT o_custkey, count(*) AS n_late FROM orders " +
        "WHERE o_orderdate >= TIMESTAMP '1998-01-01' GROUP BY 1) " +
        "SELECT coalesce(a.o_custkey, b.o_custkey) AS o_custkey, " +
        "coalesce(n_early, 0) AS n_early, coalesce(n_late, 0) AS n_late, " +
        "CASE WHEN a.o_custkey IS NULL THEN 'new' " +
        "WHEN b.o_custkey IS NULL THEN 'churned' " +
        "ELSE 'retained' END AS cohort " +
        "FROM a FULL OUTER JOIN b ON a.o_custkey = b.o_custkey") { (s, dir) =>
      val orders = t(s, dir, "orders")
      val cut = "1998-01-01"
      val early = orders.filter(col("o_orderdate") < lit(cut).cast("timestamp"))
        .groupBy(col("o_custkey").as("ck_a"))
        .agg(count(lit(1)).as("n_early"))
      val late = orders.filter(col("o_orderdate") >= lit(cut).cast("timestamp"))
        .groupBy(col("o_custkey").as("ck_b"))
        .agg(count(lit(1)).as("n_late"))
      early.join(late, col("ck_a") === col("ck_b"), "full_outer")
        .select(coalesce(col("ck_a"), col("ck_b")).as("o_custkey"),
          coalesce(col("n_early"), lit(0L)).as("n_early"),
          coalesce(col("n_late"), lit(0L)).as("n_late"),
          when(col("ck_a").isNull, "new")
            .when(col("ck_b").isNull, "churned")
            .otherwise("retained").as("cohort"))
    },

    /** FIRST_VALUE / LAST_VALUE windows: each user's entry and exit
      * event types — the funnel-endpoints report. last_value needs the
      * explicit full frame (the default frame ends at CURRENT ROW, a
      * classic silent-wrong-answer); ordering ties break on event_id so
      * both engines read the same endpoints. Same single-shuffle shape
      * as q69: the window's user_id partitioning satisfies the final
      * grouping, so the dedup-to-one-row-per-user agg adds no Exchange. */
    QueryDef("q78_first_last",
      "WITH e AS (SELECT user_id, event_type, event_id, epoch_us(ts) AS tus FROM events), " +
        "w AS (SELECT user_id, " +
        "first_value(event_type) OVER (PARTITION BY user_id ORDER BY tus, event_id) AS first_type, " +
        "last_value(event_type) OVER (PARTITION BY user_id ORDER BY tus, event_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_type " +
        "FROM e) " +
        "SELECT user_id, first_type, last_type, count(*) AS n_events " +
        "FROM w GROUP BY 1, 2, 3") { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val ord = Window.partitionBy("user_id").orderBy("tus", "event_id")
      val full = ord.rowsBetween(Window.unboundedPreceding,
        Window.unboundedFollowing)
      t(s, dir, "events")
        .select(col("user_id"), col("event_type"), col("event_id"),
          expr("ts_ns div 1000").as("tus"))
        .withColumn("first_type", first("event_type").over(ord))
        .withColumn("last_type", last("event_type").over(full))
        .groupBy("user_id", "first_type", "last_type")
        .agg(count(lit(1)).as("n_events"))
    },

    /** Data-quality audit: every ingest-gate rule evaluated in ONE scan
      * — conditional counters aggregated together, then melted to
      * (rule, n_bad) rows — instead of the naive rule-per-query audit
      * that rescans the fact table once per rule (5 rules here = 5× the
      * IO at 100 TB; this stays 1×). Two hard invariants (non-positive
      * quantity / price — genuinely zero on sane data) plus three
      * anomaly counters with thresholds INSIDE this corpus's range
      * (discount > 8%, tax > 6%, pre-Jun-1995 shipments) so the gate
      * verifies real counting, not six zeros. `n_rows` rides along as
      * the denominator. The melt is the q67 Expand — zero shuffle past
      * the 1-row aggregate. */
    QueryDef("q80_dq_report", {
      val rules = Seq(
        "n_rows" -> "TRUE",
        "nonpos_quantity" -> "l_quantity <= 0",
        "nonpos_price" -> "l_extendedprice <= 0",
        "high_discount" -> "l_discount > 0.08",
        "high_tax" -> "l_tax > 0.06",
        "early_shipdate" -> "l_shipdate < TIMESTAMP '1995-06-01'")
      "WITH a AS (SELECT " + rules.map { case (n, p) =>
        s"CAST(count(*) FILTER (WHERE $p) AS BIGINT) AS $n"
      }.mkString(", ") + " FROM lineitem) " +
        rules.map { case (n, _) =>
          s"SELECT '$n' AS rule, $n AS n_bad FROM a"
        }.mkString(" UNION ALL ")
    }) { (s, dir) =>
      val rules = Seq(
        "n_rows" -> lit(true),
        "nonpos_quantity" -> (col("l_quantity") <= 0),
        "nonpos_price" -> (col("l_extendedprice") <= 0),
        "high_discount" -> (col("l_discount") > 0.08),
        "high_tax" -> (col("l_tax") > 0.06),
        "early_shipdate" ->
          (col("l_shipdate") < lit("1995-06-01").cast("timestamp")))
      val counters = rules.map { case (n, p) => count(when(p, 1)).as(n) }
      t(s, dir, "lineitem")
        .agg(counters.head, counters.tail: _*)
        .unpivot(Array.empty[org.apache.spark.sql.Column],
          rules.map(r => col(r._1)).toArray, "rule", "n_bad")
    },

    /** CUBE: all four grouping-set combinations of (returnflag,
      * linestatus) — subtotals + grand total from one scan (q19's
      * ROLLUP sibling). Deliberately NOT `fact.cube(...)`: Spark plans
      * that as Expand×4 BELOW the aggregation, multiplying the map-side
      * rows (and combiner work) by the grouping-set count — measured
      * 1.5 s vs 0.3 s here and linearly worse at scale. Because every
      * measure is re-aggregatable (SUM of COUNTs/SUMs), the cube runs
      * over the PRE-AGGREGATED group skeleton instead: one ordinary
      * partial+final agg over the fact rows (|groups| output rows),
      * then the Expand touches only those few. (Rule: aggregate-then-
      * cube whenever no measure is distinct-style; q19's DISTINCT
      * aggregates are exactly the case that forbids it.) Quantity sums
      * over exact DECIMAL, cast to double at the boundary. */
    QueryDef("q75_cube_stats",
      "SELECT l_returnflag, l_linestatus, count(*) AS n_items, " +
        "CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty " +
        "FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)") { (s, dir) =>
      val base = t(s, dir, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("cnt"),
          sum(col("l_quantity").cast("decimal(18,6)")).as("qty"))
      base.cube(col("l_returnflag"), col("l_linestatus"))
        .agg(sum("cnt").as("n_items"),
          sum("qty").cast("double").as("sum_qty"))
    },

    /** Bloom-prefiltered semi join — the runtime-filter pattern for the
      * "reduce a huge fact table by a key list that is too big to
      * broadcast as rows but tiny as a sketch" case (at 100 TB:
      * decontaminating a corpus against a blocklist, or joining events
      * to a churned-user list). A Bloom filter of the build-side keys
      * (~1.2 bytes/key at 1% fpp — three orders of magnitude smaller
      * than the rows) is built in one aggregation pass over the pruned
      * build scan and broadcast to every probe task, which drops
      * ~99% of non-matching rows BEFORE the shuffle; the exact semi
      * join then runs on the survivors only, so false positives cannot
      * reach the result — the bloom changes bytes shuffled, never
      * values. The verify join is pinned to the shuffled path
      * (shuffle_hash) because that is the scenario the pattern exists
      * for; with a broadcastable build side Catalyst's plain broadcast
      * semi join is strictly better and this operator is unnecessary.
      * (Spark's own AQE runtime filters — InSubquery/bloom injection —
      * are the automatic form; this is the explicit, engine-level
      * version with a pinned plan shape. PlanSpec asserts the probe
      * filter sits below the exchange and result equality with the
      * plain semi join.) */
    QueryDef("q82_bloom_semi_join",
      "SELECT l_returnflag, count(*) AS n_items, " +
        "CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) " +
        "AS DOUBLE) AS revenue FROM lineitem " +
        "WHERE l_orderkey IN (SELECT o_orderkey FROM orders " +
        "WHERE o_totalprice > 400000) GROUP BY 1") { (s, dir) =>
      bloomSemiJoinAgg(s, dir)
    },

    /** Ordered funnel analysis over the event stream — the product
      * analytics staple: for each user, the earliest `view`, the
      * earliest `click` strictly after that view, and the earliest
      * `purchase` strictly after that click. Computed as three chained
      * conditional-min aggregations, each joined back user-keyed (the
      * user frame is bounded by the user population, not the event
      * count, and every join is an equi-join on user_id — at scale all
      * three land in one shuffle partitioning reused across stages).
      * Conversion windows (click ≤ 12 h after the view, purchase ≤ 24 h
      * after the click) bound the join ranges — at scale they also cap
      * how much state a streaming form would hold. Timestamp
      * determinism: event timestamps are whole microseconds, so Spark's
      * micros and the oracle's nanos compare identically, and interval
      * arithmetic is exact in both. Output: one row per user that
      * reached step 1, nulls marking where the funnel stopped, plus the
      * step count reached. */
    QueryDef("q91_funnel",
      "SELECT user_id, t_view, t_click, t_purchase, " +
        "CASE WHEN t_purchase IS NOT NULL THEN 3 " +
        "WHEN t_click IS NOT NULL THEN 2 ELSE 1 END AS steps " +
        "FROM (SELECT v.user_id, v.t_view, c.t_click, " +
        "  (SELECT min(p.ts) FROM events p WHERE p.user_id = v.user_id " +
        "   AND p.event_type = 'purchase' AND p.ts > c.t_click " +
        "   AND p.ts <= c.t_click + INTERVAL 24 HOUR) AS t_purchase " +
        "FROM (SELECT user_id, min(ts) AS t_view FROM events " +
        "      WHERE event_type = 'view' GROUP BY 1) v " +
        "LEFT JOIN (SELECT e.user_id, min(e.ts) AS t_click FROM events e " +
        "  JOIN (SELECT user_id, min(ts) AS t_view FROM events " +
        "        WHERE event_type = 'view' GROUP BY 1) vv " +
        "  ON e.user_id = vv.user_id AND e.event_type = 'click' " +
        "     AND e.ts > vv.t_view AND e.ts <= vv.t_view + INTERVAL 12 HOUR " +
        "  GROUP BY 1) c " +
        "ON v.user_id = c.user_id)") { (s, dir) =>
      val ev = t(s, dir, "events").select("user_id", "event_type", "ts")
      val v = ev.filter(col("event_type") === "view")
        .groupBy("user_id").agg(min("ts").as("t_view"))
      val c = ev.filter(col("event_type") === "click").as("e")
        .join(v.as("v"), col("e.user_id") === col("v.user_id") &&
          col("e.ts") > col("v.t_view") &&
          col("e.ts") <= col("v.t_view") + expr("INTERVAL 12 HOURS"))
        .groupBy(col("e.user_id").as("user_id"))
        .agg(min(col("e.ts")).as("t_click"))
      val p = ev.filter(col("event_type") === "purchase").as("e")
        .join(c.as("c"), col("e.user_id") === col("c.user_id") &&
          col("e.ts") > col("c.t_click") &&
          col("e.ts") <= col("c.t_click") + expr("INTERVAL 24 HOURS"))
        .groupBy(col("e.user_id").as("user_id"))
        .agg(min(col("e.ts")).as("t_purchase"))
      v.join(c, Seq("user_id"), "left_outer")
        .join(p, Seq("user_id"), "left_outer")
        .select(col("user_id"), col("t_view"), col("t_click"),
          col("t_purchase"),
          when(col("t_purchase").isNotNull, 3)
            .when(col("t_click").isNotNull, 2).otherwise(1).as("steps"))
    },

    /** Retention cohort triangle — users cohorted by their first-ever
      * event day, activity counted as distinct active users per
      * (cohort_day, day_offset). The classic warehouse retention query:
      * one first-touch aggregation, one user-keyed join, one
      * distinct-user rollup — every stage keyed and partial-aggregable;
      * day arithmetic stays in exact integer date-diff space. */
    QueryDef("q92_retention_cohorts",
      "SELECT strftime(cohort_day, '%Y-%m-%d') AS cohort_day, day_offset, " +
        "count(*) AS n_active FROM (" +
        "SELECT DISTINCT e.user_id, f.cohort_day, " +
        "  date_diff('day', f.cohort_day, CAST(date_trunc('day', e.ts) AS DATE)) AS day_offset " +
        "FROM events e JOIN (SELECT user_id, " +
        "    CAST(date_trunc('day', min(ts)) AS DATE) AS cohort_day " +
        "  FROM events GROUP BY 1) f ON e.user_id = f.user_id" +
        ") GROUP BY 1, 2") { (s, dir) =>
      val ev = t(s, dir, "events").select("user_id", "ts")
      val first = ev.groupBy("user_id")
        .agg(to_date(date_trunc("day", min("ts"))).as("cohort_day"))
      ev.join(first, "user_id")
        .select(col("user_id"), col("cohort_day"),
          datediff(to_date(date_trunc("day", col("ts"))), col("cohort_day"))
            .as("day_offset"))
        .distinct()
        .groupBy("cohort_day", "day_offset")
        .agg(count(lit(1)).as("n_active"))
        .select(date_format(col("cohort_day"), "yyyy-MM-dd").as("cohort_day"),
          col("day_offset"), col("n_active"))
    },

    /** Z-order (Morton curve) data layout: interleave the bits of two
      * clustering dimensions into one key, range-bucket the corpus on
      * it, and report each bucket's bounding box over BOTH dimensions —
      * the multi-dimensional clustering primitive behind Delta/Iceberg
      * `OPTIMIZE ZORDER BY` (Morton 1966): sorting on z brings rows
      * close in EVERY interleaved dimension close on disk, so min/max
      * row-group stats prune scans filtered on either column (a plain
      * sort on x gives perfect x-pruning and zero y-pruning; z-order
      * trades a little of each for useful pruning on both — the bounding
      * boxes this query emits ARE the pruning index quality report).
      *
      * The interleave is a 16-term integer shift/or fold per dimension —
      * pure codegen'd row-local arithmetic replayed identically by the
      * oracle. Bucketing here is ntile over the z-total-order (a global
      * sort at gate scale, exact tie-break on doc_id so both engines
      * agree); the 100 TB form of the SAME layout is
      * `repartitionByRange(zkey)` + `sortWithinPartitions` — sampled
      * boundaries, one range shuffle, no global sort, which the writer
      * in [[Curation.exportCorpus]] composes with. */
    QueryDef("q133_zorder_layout",
      """WITH d AS (SELECT doc_id, least(n_chars, 65535) AS x, doc_id % 65536 AS y FROM documents),
        |z AS (SELECT doc_id, x, y,
        |    CAST(list_sum(list_transform(range(16), i ->
        |      (CAST(((x >> CAST(i AS INT)) & 1) AS BIGINT) << CAST(2*i AS INT)) +
        |      (CAST(((y >> CAST(i AS INT)) & 1) AS BIGINT) << CAST(2*i+1 AS INT)))) AS BIGINT) AS zkey
        |  FROM d),
        |nt AS (SELECT x, y, zkey,
        |    CAST(ntile(16) OVER (ORDER BY zkey, doc_id) AS INT) AS bucket FROM z)
        |SELECT bucket, count(*) AS n, min(x) AS min_x, max(x) AS max_x,
        |  min(y) AS min_y, max(y) AS max_y, min(zkey) AS z_lo, max(zkey) AS z_hi
        |FROM nt GROUP BY 1""".stripMargin.replace("\n", " ")) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val d = t(s, dir, "documents").select(col("doc_id"),
        least(col("n_chars"), lit(65535L)).as("x"),
        pmod(col("doc_id"), lit(65536L)).as("y"))
      val zkey = (0 until 16).map { i =>
        (shiftleft(shiftright(col("x"), i).bitwiseAND(1L), 2 * i) +
          shiftleft(shiftright(col("y"), i).bitwiseAND(1L), 2 * i + 1))
      }.reduce(_ + _)
      // r14 opt (r13 VERDICT #3): `ntile(16) OVER (ORDER BY zkey, doc_id)`
      // was a partition-less window — the full corpus sorted in ONE task.
      // Exact same bucket ids, distributed: range-partition on the sort
      // key, count rows per range (the tiny per-partition count table is
      // the only thing collected), then global rank = partition offset +
      // per-partition row_number, converted to its ntile bucket with the
      // ntile size formula (first n%16 buckets hold ⌈n/16⌉ rows). The
      // sort happens per range partition; no single-partition stage
      // remains.
      val p = math.max(s.sparkContext.defaultParallelism, 1)
      val ranged = graft.CacheScope.persist(
        d.withColumn("zkey", zkey)
          .repartitionByRange(p, col("zkey"), col("doc_id"))
          .withColumn("pid", spark_partition_id()))
      val cnts = ranged.groupBy("pid").agg(count(lit(1)).as("cnt"))
        .collect().map(r => r.getInt(0) -> r.getLong(1)).sortBy(_._1)
      var acc = 0L
      val offsets: Map[Int, Long] =
        cnts.map { case (pid, c) => val o = acc; acc += c; pid -> o }.toMap
      val n = acc
      val base = n / 16
      val rem = n % 16
      val baseSafe = math.max(base, 1L) // branch unreachable when base==0
      val rk = element_at(typedlit(offsets), col("pid")) +
        row_number().over(
          Window.partitionBy("pid").orderBy(col("zkey"), col("doc_id")))
      val bucket = when(rk <= lit(rem * (base + 1)),
        (rk - 1) / lit(base + 1) + 1)
        .otherwise(lit(rem) + (rk - 1 - lit(rem * (base + 1))) /
          lit(baseSafe) + 1)
      ranged
        .withColumn("bucket", bucket.cast("int"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n"), min("x").as("min_x"), max("x").as("max_x"),
          min("y").as("min_y"), max("y").as("max_y"),
          min("zkey").as("z_lo"), max("zkey").as("z_hi"))
    },

    /** Rendezvous (highest-random-weight) shard assignment with an
      * elastic-rescale audit — the data-placement primitive for growing
      * a sharded corpus store (Thaler & Ravishankar 1998; what Ceph/
      * cassandra-style placement derives from): doc d lands on
      * argmax_s md5(s|d). Adding shard N+1 can only move a doc TO the
      * new shard (existing pairwise max relations are untouched), so
      * exactly ~1/(N+1) of the corpus moves — against mod-hashing's
      * near-total reshuffle, which the n_mod_moving column measures on
      * the same docs. The report: per-shard occupancy under N=8 plus
      * how much of each shard a 9th would siphon.
      *
      * Shape at 100 TB: assignment is pure row-local arithmetic (N md5s
      * per doc, fused in the scan projection — no shuffle, no
      * coordination state, which is the whole point of rendezvous over
      * a directory service), and the audit is one bounded groupBy on
      * shard id. Exact cross-engine: integer md5-slice weights,
      * struct-max argmax, integer move counts, one rounded division. */
    QueryDef("q142_rendezvous_sharding",
      """WITH w AS (SELECT doc_id, n_chars, CAST(s.s AS INT) AS s,
        |    CAST(('0x' || substr(md5(CAST(s.s AS VARCHAR) || '|' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS w
        |  FROM documents, unnest(range(9)) AS s(s)),
        |a AS (SELECT doc_id, n_chars,
        |    (max(struct_pack(w := w, s := s)) FILTER (WHERE s < 8)).s AS shard,
        |    (max(struct_pack(w := w, s := s))).s AS shard9
        |  FROM w GROUP BY 1, 2)
        |SELECT shard, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS n_chars,
        |  count(*) FILTER (WHERE shard9 = 8) AS n_moving,
        |  round(count(*) FILTER (WHERE shard9 = 8) * 1.0 / count(*), 6) AS move_frac,
        |  count(*) FILTER (WHERE doc_id % 8 <> doc_id % 9) AS n_mod_moving
        |FROM a GROUP BY 1""".stripMargin.replace("\n", " ")) { (s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), col("n_chars"),
          rendezvousShard(col("doc_id"), 8).as("shard"),
          rendezvousShard(col("doc_id"), 9).as("shard9"))
        .groupBy("shard")
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("n_chars"),
          count(when(col("shard9") === 8, lit(1))).as("n_moving"),
          round(count(when(col("shard9") === 8, lit(1))).cast("double") /
            count(lit(1)), 6).as("move_frac"),
          // truncated %, not pmod: the oracle's % and the spec's Java %
          // are truncated, and they must agree if ids are ever negative
          count(when(col("doc_id") % 8 =!= col("doc_id") % 9,
            lit(1))).as("n_mod_moving"))
    }
  )

  /** q82's plan, exposed for PlanSpec. The bloom is built with the
    * public sketch API (`df.stat.bloomFilter` — one partial+final
    * aggregation over a two-column pruned scan) and shipped as a task
    * broadcast; the probe filter is a scala UDF on the key long —
    * deliberately: a codegen'd expression would save ns/row, but the
    * filter's job is to eliminate SHUFFLE bytes, and its own cost is two
    * hash probes per row. `expectedNumItems` comes from a count over the
    * same pruned scan (cheap, exact sizing beats a guessed constant that
    * either overallocates memory or degrades fpp at scale). */
  def bloomSemiJoinAgg(s: SparkSession, dir: String): DataFrame = {
    val buildKeys = t(s, dir, "orders")
      .filter(col("o_totalprice") > 400000)
      .select("o_orderkey")
    val bloom = buildKeys.stat.bloomFilter(
      "o_orderkey", math.max(buildKeys.count(), 1L), 0.01)
    val bc = s.sparkContext.broadcast(bloom)
    val mightContain = udf((k: Long) => bc.value.mightContainLong(k))
    t(s, dir, "lineitem")
      .filter(mightContain(col("l_orderkey"))) // pre-shuffle row cull
      .join(buildKeys.hint("shuffle_hash"),
        col("l_orderkey") === col("o_orderkey"), "left_semi")
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n_items"),
        sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast("decimal(18,6)")).cast("double").as("revenue"))
  }

  /** q64's plan, exposed for PlanSpec's salted-key assertion. Salt is
    * derived from `l_linenumber` (deterministic, uniform over the ≤7
    * line numbers plus price cents) rather than `rand()` so replays and
    * retried tasks salt identically. */
  def saltedJoinAgg(s: SparkSession, dir: String): DataFrame = {
    val nSalt = 8
    val items = t(s, dir, "lineitem").withColumn("salt",
      pmod(col("l_linenumber") + (col("l_extendedprice") * 100).cast("long"),
        lit(nSalt)).cast("int"))
    val orders = t(s, dir, "orders").withColumn("salt",
      explode(sequence(lit(0), lit(nSalt - 1))))
    // shuffle_hash hint: salting only has meaning for a SHUFFLED join
    // (the hot key's rows must spread across reducers); left alone,
    // Catalyst broadcasts the replicated build side — which both defeats
    // the demonstration and was measured 4× slower (a 1.2M-row broadcast
    // build on the driver vs a 32-way partitioned hash join)
    // the revenue sum aggregates ~20k doubles per status group at 1e9
    // magnitude: double summation order (which the salted shuffle
    // changes) moves the result past any fixed rounding, so the sum runs
    // over exact DECIMAL — order-independent, hence identical to the
    // oracle's sequential sum — and casts back to double at the end
    orders.hint("shuffle_hash").join(items,
        col("o_orderkey") === col("l_orderkey") && orders("salt") === items("salt"))
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_items"),
        sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast("decimal(18,6)")).cast("double").as("revenue"))
  }

  /** q142's rendezvous assignment, shared with the streaming shard-
    * occupancy view (one code path): argmax over `n` shards of the
    * integer md5(s|id) weight — pure row-local arithmetic, and
    * deterministic for any id that prints the same string, so a later
    * DELETE retracts from exactly the shard its INSERT entered. The
    * concatenation is null-PROPAGATING (`concat`, not `concat_ws`,
    * which would silently hash a null id as md5("0")… and give it a
    * real shard while the oracle's `||` yields NULL); a null id gets a
    * null shard, which every consumer's group guard then excludes —
    * matching the oracle row-for-row. n = 1 is the single-shard
    * bootstrap: everything lands on shard 0 with no argmax to run. */
  def rendezvousShard(id: Column, n: Int): Column = {
    require(n >= 1, s"rendezvousShard needs at least one shard, got $n")
    def weight(shard: Int) = conv(substring(
      md5(concat(lit(shard.toString + "|"), id.cast("string"))),
      1, 15), 16, 10).cast("long")
    // the null gate is explicit: with a null id every weight is null,
    // but the argmax STRUCTS are not, so greatest would still pick one
    // — gate the whole expression instead of trusting field nulls
    if (n == 1) when(id.isNotNull, lit(0))
    else when(id.isNotNull, greatest((0 until n).map(i =>
      struct(weight(i).as("w"), lit(i).as("s"))): _*).getField("s"))
  }
}
