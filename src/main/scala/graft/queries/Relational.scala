package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Cols._
import graft.sources.Tables

/** Relational operator inventory (SURVEY §2.2-§2.7).
  *
  * Each entry re-expresses a reference capability class Spark-first:
  * element-wise transforms (map/filter/flatMap -> select/where/explode),
  * keyed aggregation (keyBy+reduce/sum/min/max/minBy/maxBy -> groupBy.agg),
  * exchanges (keyBy -> hash shuffle; broadcast -> broadcast join hint), and
  * the capability-class restorations of SURVEY §2.7 (joins, windows,
  * grouping sets, set ops, sort/limit, window functions, scalar library).
  *
  * Scale notes (100 TB design point):
  *  - aggregations are partial-aggregated map-side by Catalyst (HashAggregate
  *    partial -> shuffle on group keys -> final);
  *  - dimension joins (nation/region/customer) use `broadcast()` explicitly;
  *  - fact-fact joins shuffle on the join key only after filters, which are
  *    pushed to the parquet scan (verified via explain: PushedFilters);
  *  - exact decimal accumulation keeps results partition-count-invariant,
  *    which is also what makes the DuckDB differential oracle bit-exact.
  */
object Relational {
  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables(s, dir, name)

  /** revenue = extendedprice * (1 - discount), exact decimal. */
  private def revenue(price: Column, disc: Column): Column =
    m2(price) * (lit(1) - r2(disc)).cast("decimal(4,2)")
  private val revenueSql =
    "CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1 - CAST(l_discount AS DECIMAL(4,2)) AS DECIMAL(4,2))"

  val specs: Seq[QuerySpec] = Seq(

    // ------------------------------------------------------------------
    // TPC-H Q1: the flagship scan+filter+agg (keyed aggregation class).
    QuerySpec.sqlBacked("q01_tpch_q1",
      s"""SELECT l_returnflag, l_linestatus,
         |  sum(l_quantity) AS sum_qty,
         |  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
         |  CAST(sum($revenueSql) AS DOUBLE) AS sum_disc_price,
         |  CAST(sum($revenueSql * CAST(1 + CAST(l_tax AS DECIMAL(4,2)) AS DECIMAL(4,2))) AS DOUBLE) AS sum_charge,
         |  sum(l_quantity) / count(*) AS avg_qty,
         |  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / count(*) AS avg_price,
         |  CAST(sum(CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) / count(*) AS avg_disc,
         |  count(*) AS count_order
         |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
         |GROUP BY l_returnflag, l_linestatus
         |ORDER BY l_returnflag, l_linestatus""".stripMargin) { (s, dir) =>
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity")).as("sum_qty"),
          toD(sum(m2(col("l_extendedprice")))).as("sum_base_price"),
          toD(sum(revenue(col("l_extendedprice"), col("l_discount"))))
            .as("sum_disc_price"),
          toD(sum(revenue(col("l_extendedprice"), col("l_discount")) *
            (lit(1) + r2(col("l_tax"))).cast("decimal(4,2)"))).as("sum_charge"),
          (sum(col("l_quantity")) / count(lit(1))).as("avg_qty"),
          (toD(sum(m2(col("l_extendedprice")))) / count(lit(1))).as("avg_price"),
          (toD(sum(r2(col("l_discount")))) / count(lit(1))).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .transform(Tables.tableOrdered(s, dir, "lineitem")(col("l_returnflag"), col("l_linestatus"))) // bounded sort (§2)
    },

    // ------------------------------------------------------------------
    // map + filter (element-wise transform class): per-row projection.
    QuerySpec.sqlBacked("q02_filter_project",
      s"""SELECT l_orderkey, l_linenumber,
         |  CAST($revenueSql AS DOUBLE) AS net, l_quantity
         |FROM lineitem
         |WHERE l_quantity > 40 AND l_shipdate >= TIMESTAMP '1997-01-01'
         |ORDER BY l_orderkey, l_linenumber""".stripMargin) { (s, dir) =>
      t(s, dir, "lineitem")
        .filter(col("l_quantity") > 40 &&
          col("l_shipdate") >= lit("1997-01-01").cast("timestamp"))
        .select(col("l_orderkey"), col("l_linenumber"),
          toD(revenue(col("l_extendedprice"), col("l_discount"))).as("net"),
          col("l_quantity"))
        .transform(Tables.tableOrdered(s, dir, "lineitem")(col("l_orderkey"), col("l_linenumber"))) // bounded sort (§2)
    },

    // ------------------------------------------------------------------
    // flatMap (1->N) + keyed count: the reference's own WordCount
    // (flink-examples .../wordcount/WordCount.java) at table scale.
    QuerySpec.sqlBacked("q03_wordcount",
      """SELECT word, count(*) AS cnt
        |FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
        |GROUP BY word ORDER BY word""".stripMargin) { (s, dir) =>
      t(s, dir, "documents")
        .select(explode(split(col("text"), " ")).as("word"))
        .groupBy(col("word")).agg(count(lit(1)).as("cnt"))
        .orderBy(col("word"))
    },

    // ------------------------------------------------------------------
    // keyBy + running reduce, FINAL state (StreamGroupedReduce.java:35-55
    // semantics: the last emitted value per key == the keyed fold).
    QuerySpec.sqlBacked("q04_keyby_reduce",
      """SELECT user_id, count(*) AS cnt,
        |  CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, dir) =>
      t(s, dir, "events")
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("cnt"), toD(sum(m2(col("value")))).as("total"))
        .transform(Tables.tableOrdered(s, dir, "events")(col("user_id"))) // bounded sort (§2)
    },

    // ------------------------------------------------------------------
    // keyBy + running reduce, full EMISSION SEQUENCE (update-mode output:
    // one row per input, per-key prefix aggregates in arrival order).
    QuerySpec.sqlBacked("q05_running_reduce",
      """SELECT event_id, user_id,
        |  count(*) OVER w AS run_cnt,
        |  CAST(sum(CAST(value AS DECIMAL(12,2))) OVER w AS DOUBLE) AS run_total
        |FROM (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events)
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |             ROWS UNBOUNDED PRECEDING)
        |ORDER BY user_id, event_id""".stripMargin) { (s, dir) =>
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "events")
        .select(col("event_id"), col("user_id"),
          count(lit(1)).over(w).as("run_cnt"),
          toD(sum(m2(col("value"))).over(w)).as("run_total"))
        .transform(Tables.tableOrdered(s, dir, "events")(col("user_id"), col("event_id"))) // bounded sort (§2)
    },

    // ------------------------------------------------------------------
    // keyed min/max (ComparableAggregator MIN/MAX class).
    QuerySpec.sqlBacked("q06_agg_minmax",
      """SELECT l_returnflag,
        |  min(l_quantity) AS min_qty, max(l_quantity) AS max_qty,
        |  min(l_extendedprice) AS min_price, max(l_extendedprice) AS max_price,
        |  min(l_shipdate) AS min_ship, max(l_shipdate) AS max_ship
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(min(col("l_quantity")).as("min_qty"),
          max(col("l_quantity")).as("max_qty"),
          min(col("l_extendedprice")).as("min_price"),
          max(col("l_extendedprice")).as("max_price"),
          min(col("l_shipdate")).as("min_ship"),
          max(col("l_shipdate")).as("max_ship"))
        .transform(Tables.tableOrdered(s, dir, "lineitem")(col("l_returnflag"))) // bounded sort (§2)
    },

    // ------------------------------------------------------------------
    // maxBy (whole-row argmax, deterministic first-wins tiebreak).
    QuerySpec.sqlBacked("q07_maxby",
      """SELECT l_returnflag, l_orderkey, l_linenumber, l_extendedprice
        |FROM (SELECT l_returnflag, l_orderkey, l_linenumber, l_extendedprice,
        |        row_number() OVER (PARTITION BY l_returnflag
        |          ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber) AS rn
        |      FROM lineitem)
        |WHERE rn = 1 ORDER BY l_returnflag""".stripMargin) { (s, dir) =>
      // argmax as a struct-max aggregation, not a row_number window: the
      // window sorts all rows into one reducer per key (3 keys = maximal
      // skew at 100 TB); struct-max is a partial-aggregable single pass.
      // Negated tiebreak fields make MAX prefer the smallest ids.
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(max(struct(col("l_extendedprice").as("p"),
          (-col("l_orderkey")).as("nk"),
          (-col("l_linenumber")).as("nl"))).as("m"))
        .select(col("l_returnflag"), (-col("m.nk")).as("l_orderkey"),
          (-col("m.nl")).as("l_linenumber"), col("m.p").as("l_extendedprice"))
        .transform(Tables.tableOrdered(s, dir, "lineitem")(col("l_returnflag"))) // bounded sort (§2)
    },

    // minBy (argmin, deterministic tiebreak).
    QuerySpec.sqlBacked("q08_minby",
      """SELECT l_returnflag, l_orderkey, l_linenumber, l_extendedprice
        |FROM (SELECT l_returnflag, l_orderkey, l_linenumber, l_extendedprice,
        |        row_number() OVER (PARTITION BY l_returnflag
        |          ORDER BY l_extendedprice ASC, l_orderkey, l_linenumber) AS rn
        |      FROM lineitem)
        |WHERE rn = 1 ORDER BY l_returnflag""".stripMargin) { (s, dir) =>
      // argmin via struct-min (see q07's note on window-skew avoidance);
      // ascending tiebreaks align with MIN directly.
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(min(struct(col("l_extendedprice").as("p"),
          col("l_orderkey").as("k"),
          col("l_linenumber").as("l"))).as("m"))
        .select(col("l_returnflag"), col("m.k").as("l_orderkey"),
          col("m.l").as("l_linenumber"), col("m.p").as("l_extendedprice"))
        .transform(Tables.tableOrdered(s, dir, "lineitem")(col("l_returnflag"))) // bounded sort (§2)
    },

    // ------------------------------------------------------------------
    // fact-fact equi-join + time-grouped aggregation. At scale: both sides
    // shuffle on orderkey; the status filter prunes the probe side at scan.
    QuerySpec.sqlBacked("q09_join_agg",
      s"""SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS mon,
         |  count(*) AS n_items,
         |  CAST(sum($revenueSql) AS DOUBLE) AS rev
         |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |WHERE o_orderstatus = 'F'
         |GROUP BY mon ORDER BY mon""".stripMargin) { (s, dir) =>
      t(s, dir, "lineitem")
        .join(t(s, dir, "orders").filter(col("o_orderstatus") === "F"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(date_trunc("month", col("o_orderdate")).as("mon"))
        .agg(count(lit(1)).as("n_items"),
          toD(sum(revenue(col("l_extendedprice"), col("l_discount")))).as("rev"))
        .transform(Tables.tableOrdered(s, dir, "orders")(col("mon"))) // bounded sort (§2)
    },

    // ------------------------------------------------------------------
    // snowflake dimension join: customer -> nation -> region, both dims
    // broadcast (no shuffle of the fact side at 100 TB).
    QuerySpec.sqlBacked("q10_join_dims",
      """SELECT r_name, n_name, count(*) AS n_cust,
        |  CAST(sum(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS total_bal
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin) { (s, dir) =>
      t(s, dir, "customer")
        .join(broadcast(t(s, dir, "nation")),
          col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(t(s, dir, "region")),
          col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(count(lit(1)).as("n_cust"),
          toD(sum(m2(col("c_acctbal")))).as("total_bal"))
        .transform(Tables.tableOrdered(s, dir, "nation")(col("r_name"), col("n_name"))) // bounded sort (§2)
    },

    // ------------------------------------------------------------------
    // left-semi join (EXISTS).
    QuerySpec.sqlBacked("q11_semi_join",
      """SELECT c_mktsegment, count(*) AS n
        |FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin) { (s, dir) =>
      t(s, dir, "customer")
        .join(t(s, dir, "orders"),
          col("c_custkey") === col("o_custkey"), "left_semi")
        .groupBy(col("c_mktsegment")).agg(count(lit(1)).as("n"))
        .transform(Tables.tableOrdered(s, dir, "customer")(col("c_mktsegment"))) // bounded sort (§2)
    },

    // left-anti join (NOT EXISTS).
    QuerySpec.sqlBacked("q12_anti_join",
      """SELECT c_mktsegment, count(*) AS n
        |FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin) { (s, dir) =>
      t(s, dir, "customer")
        .join(t(s, dir, "orders"),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy(col("c_mktsegment")).agg(count(lit(1)).as("n"))
        .transform(Tables.tableOrdered(s, dir, "customer")(col("c_mktsegment"))) // bounded sort (§2)
    },

    // ------------------------------------------------------------------
    // left outer join with null-preserving aggregation.
    QuerySpec.sqlBacked("q13_outer_join",
      """SELECT c_custkey, count(o_orderkey) AS n_orders,
        |  coalesce(CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE), 0.0) AS total_spent
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_custkey ORDER BY c_custkey""".stripMargin) { (s, dir) =>
      t(s, dir, "customer")
        .join(t(s, dir, "orders"), col("c_custkey") === col("o_custkey"),
          "left_outer")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("n_orders"),
          coalesce(toD(sum(d6(col("o_totalprice")))), lit(0.0)).as("total_spent"))
        .transform(Tables.tableOrdered(s, dir, "customer")(col("c_custkey"))) // bounded sort (§2)
    },

    // ------------------------------------------------------------------
    // window function: top-3 orders per customer (rank class, SURVEY §2.7).
    QuerySpec.sqlBacked("q14_window_rank",
      """SELECT o_custkey, o_orderkey, rn FROM (
        |  SELECT o_custkey, o_orderkey,
        |    row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders)
        |WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin) { (s, dir) =>
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      t(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderkey"),
          row_number().over(w).as("rn"))
        .filter(col("rn") <= 3)
        .transform(Tables.tableOrdered(s, dir, "orders")(col("o_custkey"), col("rn"))) // bounded sort (§2)
    },

    // ------------------------------------------------------------------
    // global sort + limit (top-k). At scale Spark plans TakeOrderedAndProject
    // (per-partition top-k, no full sort shuffle).
    QuerySpec.sqlBacked("q15_topk",
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin) { (s, dir) =>
      t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_totalprice"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(100)
    },

    // ------------------------------------------------------------------
    // set operations (SURVEY §2.7): UNION / INTERSECT / EXCEPT (distinct).
    QuerySpec.sqlBacked("q16_union",
      """SELECT c_custkey FROM customer WHERE c_mktsegment = 'AUTOMOBILE'
        |UNION
        |SELECT c_custkey FROM customer WHERE c_acctbal > 9000
        |ORDER BY c_custkey""".stripMargin) { (s, dir) =>
      val c = t(s, dir, "customer")
      c.filter(col("c_mktsegment") === "AUTOMOBILE").select(col("c_custkey"))
        .union(c.filter(col("c_acctbal") > 9000).select(col("c_custkey")))
        .distinct()
        .transform(Tables.tableOrdered(s, dir, "customer")(col("c_custkey"))) // bounded sort (§2)
    },

    QuerySpec.sqlBacked("q17_intersect",
      """SELECT c_custkey FROM customer WHERE c_mktsegment = 'AUTOMOBILE'
        |INTERSECT
        |SELECT c_custkey FROM customer WHERE c_acctbal > 5000
        |ORDER BY c_custkey""".stripMargin) { (s, dir) =>
      val c = t(s, dir, "customer")
      c.filter(col("c_mktsegment") === "AUTOMOBILE").select(col("c_custkey"))
        .intersect(c.filter(col("c_acctbal") > 5000).select(col("c_custkey")))
        .transform(Tables.tableOrdered(s, dir, "customer")(col("c_custkey"))) // bounded sort (§2)
    },

    QuerySpec.sqlBacked("q18_except",
      """SELECT c_custkey FROM customer WHERE c_mktsegment = 'AUTOMOBILE'
        |EXCEPT
        |SELECT DISTINCT o_custkey AS c_custkey FROM orders
        |ORDER BY c_custkey""".stripMargin) { (s, dir) =>
      t(s, dir, "customer")
        .filter(col("c_mktsegment") === "AUTOMOBILE").select(col("c_custkey"))
        .except(t(s, dir, "orders")
          .select(col("o_custkey").as("c_custkey")).distinct())
        .transform(Tables.tableOrdered(s, dir, "customer")(col("c_custkey"))) // bounded sort (§2)
    },

    // ------------------------------------------------------------------
    // grouping sets: ROLLUP (SURVEY §2.7).
    QuerySpec.sqlBacked("q19_rollup",
      """SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty,
        |  count(*) AS n
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin) { (s, dir) =>
      t(s, dir, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(col("l_quantity")).as("sum_qty"), count(lit(1)).as("n"))
        .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus"))
    },

    // grouping sets: CUBE.
    QuerySpec.sqlBacked("q20_cube",
      """SELECT event_type, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total
        |FROM (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events)
        |GROUP BY CUBE (event_type, day)
        |ORDER BY event_type NULLS FIRST, day NULLS FIRST""".stripMargin) { (s, dir) =>
      t(s, dir, "events")
        .withColumn("day", date_trunc("day", col("ts")))
        .cube(col("event_type"), col("day"))
        .agg(count(lit(1)).as("n"), toD(sum(m2(col("value")))).as("total"))
        .orderBy(asc_nulls_first("event_type"), asc_nulls_first("day"))
    },

    // ------------------------------------------------------------------
    // manual pivot via conditional aggregation.
    QuerySpec.sqlBacked("q21_pivot",
      """SELECT l_returnflag,
        |  sum(CASE WHEN l_linestatus = 'F' THEN l_quantity ELSE 0 END) AS qty_f,
        |  sum(CASE WHEN l_linestatus = 'O' THEN l_quantity ELSE 0 END) AS qty_o,
        |  count(CASE WHEN l_linestatus = 'F' THEN 1 END) AS n_f,
        |  count(CASE WHEN l_linestatus = 'O' THEN 1 END) AS n_o
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          sum(when(col("l_linestatus") === "F", col("l_quantity")).otherwise(0)).as("qty_f"),
          sum(when(col("l_linestatus") === "O", col("l_quantity")).otherwise(0)).as("qty_o"),
          count(when(col("l_linestatus") === "F", lit(1))).as("n_f"),
          count(when(col("l_linestatus") === "O", lit(1))).as("n_o"))
        .transform(Tables.tableOrdered(s, dir, "lineitem")(col("l_returnflag"))) // bounded sort (§2)
    },

    // ------------------------------------------------------------------
    // scalar string function library (SURVEY §2.7).
    QuerySpec.sqlBacked("q22_string_funcs",
      """SELECT p_partkey, upper(p_brand) AS br, length(p_name) AS len,
        |  substring(p_name, 1, 12) AS pre,
        |  replace(p_type, ' ', '_') AS typ,
        |  concat(p_brand, '#', CAST(p_size AS VARCHAR)) AS tag
        |FROM part ORDER BY p_partkey""".stripMargin) { (s, dir) =>
      t(s, dir, "part")
        .select(col("p_partkey"), upper(col("p_brand")).as("br"),
          length(col("p_name")).as("len"),
          substring(col("p_name"), 1, 12).as("pre"),
          regexp_replace(col("p_type"), " ", "_").as("typ"),
          concat(col("p_brand"), lit("#"), col("p_size").cast("string")).as("tag"))
        .transform(Tables.tableOrdered(s, dir, "part")(col("p_partkey"))) // bounded sort (§2)
    },

    // scalar date/time function library.
    QuerySpec.sqlBacked("q23_date_funcs",
      """SELECT o_orderkey, year(o_orderdate) AS y, month(o_orderdate) AS m,
        |  day(o_orderdate) AS d,
        |  CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS mon,
        |  date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS days_since
        |FROM orders ORDER BY o_orderkey""".stripMargin) { (s, dir) =>
      t(s, dir, "orders")
        .select(col("o_orderkey"), year(col("o_orderdate")).as("y"),
          month(col("o_orderdate")).as("m"),
          dayofmonth(col("o_orderdate")).as("d"),
          date_trunc("month", col("o_orderdate")).as("mon"),
          datediff(col("o_orderdate"), lit("1995-01-01")).as("days_since"))
        .transform(Tables.tableOrdered(s, dir, "orders")(col("o_orderkey"))) // bounded sort (§2)
    },

    // JSON extraction (props is a JSON string).
    QuerySpec.sqlBacked("q24_json",
      """SELECT CAST(json_extract_string(props, '$.k') AS INTEGER) AS k,
        |  count(*) AS n
        |FROM events GROUP BY k ORDER BY k""".stripMargin) { (s, dir) =>
      t(s, dir, "events")
        .select(get_json_object(col("props"), "$.k").cast("int").as("k"))
        .groupBy(col("k")).agg(count(lit(1)).as("n"))
        .transform(Tables.tableOrdered(s, dir, "events")(col("k"))) // bounded sort (§2)
    },

    // CASE WHEN classification.
    QuerySpec.sqlBacked("q25_case_when",
      """SELECT CASE WHEN value < 10 THEN 'low'
        |            WHEN value < 100 THEN 'mid'
        |            ELSE 'high' END AS bucket,
        |  count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total
        |FROM events GROUP BY bucket ORDER BY bucket""".stripMargin) { (s, dir) =>
      t(s, dir, "events")
        .withColumn("bucket",
          when(col("value") < 10, "low")
            .when(col("value") < 100, "mid").otherwise("high"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n"), toD(sum(m2(col("value")))).as("total"))
        .transform(Tables.tableOrdered(s, dir, "events")(col("bucket"))) // bounded sort (§2)
    },

    // ------------------------------------------------------------------
    // event-time tumbling window (SURVEY §2.7 windows class; batch form of
    // groupBy(window($"ts", "6 hours"))).
    QuerySpec.sqlBacked("q26_window_tumbling",
      """SELECT time_bucket(INTERVAL '6 hours', ts) AS w_start, event_type,
        |  count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total
        |FROM (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events)
        |GROUP BY w_start, event_type
        |ORDER BY w_start, event_type""".stripMargin) { (s, dir) =>
      t(s, dir, "events")
        .groupBy(window(col("ts"), "6 hours").getField("start").as("w_start"),
          col("event_type"))
        .agg(count(lit(1)).as("n"), toD(sum(m2(col("value")))).as("total"))
        .transform(Tables.tableOrdered(s, dir, "events")(col("w_start"), col("event_type"))) // bounded sort (§2)
    },

    // sliding window (6h window, 3h slide): each event lands in 2 windows.
    QuerySpec.sqlBacked("q27_window_sliding",
      """SELECT w_start, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total
        |FROM (SELECT value,
        |        unnest([time_bucket(INTERVAL '3 hours', ts),
        |                time_bucket(INTERVAL '3 hours', ts) - INTERVAL '3 hours'])
        |          AS w_start
        |      FROM (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events))
        |GROUP BY w_start ORDER BY w_start""".stripMargin) { (s, dir) =>
      t(s, dir, "events")
        .groupBy(window(col("ts"), "6 hours", "3 hours")
          .getField("start").as("w_start"))
        .agg(count(lit(1)).as("n"), toD(sum(m2(col("value")))).as("total"))
        .transform(Tables.tableOrdered(s, dir, "events")(col("w_start"))) // bounded sort (§2)
    },

    // session window (30 min gap) via gaps-and-islands; deterministic
    // tiebreak (ts, event_id). Mirrors session_window() semantics for
    // session_start = min(ts), including the boundary: the cut is
    // >= gap (half-open [ts, ts+gap) windows merge only on strict
    // overlap), same as q76 — batch and engine sessions agree at an
    // exactly-30-minute gap.
    QuerySpec.sqlBacked("q28_window_session",
      """WITH x AS (
        |  SELECT user_id, ts, event_id, value,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 1800000000
        |         THEN 1 ELSE 0 END AS new_s
        |  FROM (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events)
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |), y AS (
        |  SELECT *, CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sid
        |  FROM x)
        |SELECT user_id, sid, min(ts) AS s_start, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total
        |FROM y GROUP BY user_id, sid ORDER BY user_id, sid""".stripMargin) { (s, dir) =>
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "events")
        .withColumn("prev_us", unix_micros(lag(col("ts"), 1).over(w)))
        .withColumn("new_s",
          when(col("prev_us").isNull ||
            unix_micros(col("ts")) - col("prev_us") >= 1800000000L, 1)
            .otherwise(0))
        .withColumn("sid", sum(col("new_s")).over(wRun))
        .groupBy(col("user_id"), col("sid"))
        .agg(min(col("ts")).as("s_start"), count(lit(1)).as("n"),
          toD(sum(m2(col("value")))).as("total"))
        .transform(Tables.tableOrdered(s, dir, "events")(col("user_id"), col("sid"))) // bounded sort (§2)
    },

    // ------------------------------------------------------------------
    // distinct (exact dedup of a projection).
    QuerySpec.sqlBacked("q29_distinct",
      """SELECT DISTINCT event_type, user_id % 10 AS cohort
        |FROM events ORDER BY event_type, cohort""".stripMargin) { (s, dir) =>
      t(s, dir, "events")
        .select(col("event_type"), (col("user_id") % 10).as("cohort"))
        .distinct()
        .transform(Tables.tableOrdered(s, dir, "events")(col("event_type"), col("cohort"))) // bounded sort (§2)
    },

    // ------------------------------------------------------------------
    // multi-way join: revenue by nation (TPC-H Q5 shape).
    QuerySpec.sqlBacked("q30_tpch_q5ish",
      s"""SELECT n_name, CAST(sum($revenueSql) AS DOUBLE) AS revenue
         |FROM customer
         |JOIN orders ON c_custkey = o_custkey
         |JOIN lineitem ON l_orderkey = o_orderkey
         |JOIN supplier ON l_suppkey = s_suppkey
         |  AND c_nationkey = s_nationkey
         |JOIN nation ON s_nationkey = n_nationkey
         |GROUP BY n_name ORDER BY n_name""".stripMargin) { (s, dir) =>
      t(s, dir, "customer")
        .join(t(s, dir, "orders"), col("c_custkey") === col("o_custkey"))
        .join(t(s, dir, "lineitem"), col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(t(s, dir, "supplier")),
          col("l_suppkey") === col("s_suppkey") &&
            col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(t(s, dir, "nation")),
          col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(toD(sum(revenue(col("l_extendedprice"), col("l_discount"))))
          .as("revenue"))
        .transform(Tables.tableOrdered(s, dir, "nation")(col("n_name"))) // bounded sort (§2)
    },

    // ------------------------------------------------------------------
    // array functions: per-order sorted quantity vectors + element access
    // (collect_list/sort_array/size/element_at/array_contains ≙ DuckDB
    // list()/list_sort/len/[i]/list_contains). Sorting after collection
    // makes the nondeterministic collect order canonical in both engines.
    // The sorted-quantity vector ships as a comma-joined string: the
    // driver's pandas canonicalizer cannot sort rows holding raw arrays
    // (unhashable ndarray), and quantities are integral so the BIGINT
    // rendering is identical in both engines.
    QuerySpec.sqlBacked("q47_array_funcs",
      """SELECT l_orderkey,
        |  array_to_string(list_transform(list_sort(list(l_quantity)),
        |    q -> CAST(q AS BIGINT)), ',') AS qtys,
        |  len(list(l_quantity)) AS n,
        |  list_sort(list(l_quantity))[1] AS q_first,
        |  list_sort(list(l_quantity))[-1] AS q_last,
        |  list_contains(list(l_quantity), 10.0) AS has10
        |FROM lineitem GROUP BY l_orderkey ORDER BY l_orderkey""".stripMargin) {
      (s, dir) =>
        t(s, dir, "lineitem")
          .groupBy(col("l_orderkey"))
          .agg(sort_array(collect_list(col("l_quantity"))).as("qa"))
          .select(col("l_orderkey"),
            expr("array_join(transform(qa, q -> CAST(CAST(q AS BIGINT) AS STRING)), ',')")
              .as("qtys"),
            size(col("qa")).cast("long").as("n"),
            element_at(col("qa"), 1).as("q_first"),
            element_at(col("qa"), -1).as("q_last"),
            array_contains(col("qa"), 10.0).as("has10"))
          .transform(Tables.tableOrdered(s, dir, "lineitem")(col("l_orderkey"))) // bounded sort (§2)
    },

    // ------------------------------------------------------------------
    // Skew-safe two-phase aggregation: l_returnflag has 3 distinct values,
    // so a naive groupBy lands 600k rows on 3 reducers. Salting fans the
    // partial aggregation across 16x more tasks; the final merge combines
    // 48 tiny partials. Decimal sums are order-independent, so the result
    // is bit-identical to the direct groupBy the oracle runs — the point:
    // the PLAN is skew-proof at 100 TB while the VALUES never change.
    QuerySpec.sqlBacked("q48_skew_salted_agg",
      """SELECT l_returnflag, CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
        |  count(*) AS n
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) {
      (s, dir) =>
        val salted = t(s, dir, "lineitem")
          .withColumn("salt", pmod(col("l_orderkey"), lit(16)))
          .groupBy(col("l_returnflag"), col("salt"))
          .agg(sum(m2(col("l_quantity"))).as("psum"),
            count(lit(1)).as("pn"))
        salted
          .groupBy(col("l_returnflag"))
          .agg(toD(sum(col("psum"))).as("sum_qty"), sum(col("pn")).as("n"))
          .transform(Tables.tableOrdered(s, dir, "lineitem")(col("l_returnflag"))) // bounded sort (§2)
    },

    // ------------------------------------------------------------------
    // Scalar subquery: orders above the mean price. The threshold is the
    // cross-multiplied exact-decimal form (price*n > sum) so the boundary
    // is bit-exact in both engines (a double mean would make borderline
    // rows engine-dependent). Catalyst turns the scalar subqueries into
    // broadcast scalar values — one pass over orders plus the tiny agg.
    QuerySpec.sqlBacked("q53_scalar_subquery",
      """SELECT o_orderkey, o_totalprice FROM orders
        |WHERE CAST(o_totalprice AS DECIMAL(12,2)) * (SELECT count(*) FROM orders)
        |      > (SELECT sum(CAST(o_totalprice AS DECIMAL(12,2))) FROM orders)
        |ORDER BY o_orderkey""".stripMargin) { (s, dir) =>
      Tables.registerAll(s, dir)
      s.sql("""SELECT o_orderkey, o_totalprice FROM orders
              |WHERE CAST(o_totalprice AS DECIMAL(12,2)) * (SELECT count(*) FROM orders)
              |      > (SELECT sum(CAST(o_totalprice AS DECIMAL(12,2))) FROM orders)
              |ORDER BY o_orderkey""".stripMargin)
    },

    // ------------------------------------------------------------------
    // Correlated EXISTS / NOT EXISTS: Catalyst decorrelates into semi/anti
    // joins (explain shows LeftSemi/LeftAnti on o_custkey = c_custkey).
    QuerySpec.sqlBacked("q54_exists_correlated",
      """SELECT c_custkey, c_name,
        |  EXISTS (SELECT 1 FROM orders o
        |          WHERE o.o_custkey = c.c_custkey
        |            AND o.o_orderstatus = 'F') AS has_f
        |FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o
        |              WHERE o.o_custkey = c.c_custkey)
        |ORDER BY c_custkey""".stripMargin) { (s, dir) =>
      Tables.registerAll(s, dir)
      s.sql("""SELECT c_custkey, c_name,
              |  EXISTS (SELECT 1 FROM orders o
              |          WHERE o.o_custkey = c.c_custkey
              |            AND o.o_orderstatus = 'F') AS has_f
              |FROM customer c
              |WHERE EXISTS (SELECT 1 FROM orders o
              |              WHERE o.o_custkey = c.c_custkey)
              |ORDER BY c_custkey""".stripMargin)
    },

    // ------------------------------------------------------------------
    // Lateral correlated subquery: top-2 orders per customer — the
    // per-group top-k join shape (decorrelated to a ranked window).
    QuerySpec.sqlBacked("q55_lateral_topn",
      """SELECT c_custkey, o_orderkey, o_totalprice
        |FROM customer c, LATERAL (
        |  SELECT o_orderkey, o_totalprice FROM orders o
        |  WHERE o.o_custkey = c.c_custkey
        |  ORDER BY o_totalprice DESC, o_orderkey LIMIT 2)
        |ORDER BY c_custkey, o_totalprice DESC, o_orderkey""".stripMargin) {
      (s, dir) =>
        Tables.registerAll(s, dir)
        s.sql("""SELECT c_custkey, o_orderkey, o_totalprice
                |FROM customer c, LATERAL (
                |  SELECT o_orderkey, o_totalprice FROM orders o
                |  WHERE o.o_custkey = c.c_custkey
                |  ORDER BY o_totalprice DESC, o_orderkey LIMIT 2)
                |ORDER BY c_custkey, o_totalprice DESC, o_orderkey""".stripMargin)
    },

    // ------------------------------------------------------------------
    // Pearson correlation matrix from EXACT decimal moments: built-in
    // corr() accumulates doubles in partition order — nondeterministic
    // across partitionings/retries and unmatchable against any oracle —
    // so the five moments (Σx, Σy, Σx², Σy², Σxy) aggregate as lossless
    // decimals (inputs are 2-decimal), get recast so every product of
    // sums (a) keeps at least one operand at width >= 19 — DuckDB
    // multiplies two int64-backed (width <= 18) decimals IN int64 and
    // overflows — and (b) keeps the width sum <= 38 for both engines'
    // result rules (widths sized for the corpus up to sf0.1),
    // and only the final scalar division runs in double. One pass,
    // map-side partials, single-row output.
    QuerySpec.sqlBacked("q88_exact_corr",
      """WITH m AS (SELECT
        |    CAST(count(*) AS DECIMAL(15,0)) AS n,
        |    CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DECIMAL(19,2)) AS sq,
        |    CAST(sum(CAST(l_quantity AS DECIMAL(12,2))
        |           * CAST(l_quantity AS DECIMAL(12,2))) AS DECIMAL(22,4)) AS sqq,
        |    CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DECIMAL(19,2)) AS sp,
        |    CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
        |           * CAST(l_extendedprice AS DECIMAL(12,2))) AS DECIMAL(23,4)) AS spp,
        |    CAST(sum(CAST(l_discount AS DECIMAL(4,2))) AS DECIMAL(19,2)) AS sd,
        |    CAST(sum(CAST(l_discount AS DECIMAL(4,2))
        |           * CAST(l_discount AS DECIMAL(4,2))) AS DECIMAL(19,4)) AS sdd,
        |    CAST(sum(CAST(l_quantity AS DECIMAL(12,2))
        |           * CAST(l_extendedprice AS DECIMAL(12,2))) AS DECIMAL(22,4)) AS sqp,
        |    CAST(sum(CAST(l_quantity AS DECIMAL(12,2))
        |           * CAST(l_discount AS DECIMAL(4,2))) AS DECIMAL(19,4)) AS sqd,
        |    CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
        |           * CAST(l_discount AS DECIMAL(4,2))) AS DECIMAL(20,4)) AS spd
        |  FROM lineitem)
        |SELECT
        |  CAST(n AS BIGINT) AS n,
        |  CAST(n*sqp - sq*sp AS DOUBLE)
        |    / (sqrt(CAST(n*sqq - sq*sq AS DOUBLE))
        |     * sqrt(CAST(n*spp - sp*sp AS DOUBLE))) AS corr_qty_price,
        |  CAST(n*sqd - sq*sd AS DOUBLE)
        |    / (sqrt(CAST(n*sqq - sq*sq AS DOUBLE))
        |     * sqrt(CAST(n*sdd - sd*sd AS DOUBLE))) AS corr_qty_disc,
        |  CAST(n*spd - sp*sd AS DOUBLE)
        |    / (sqrt(CAST(n*spp - sp*sp AS DOUBLE))
        |     * sqrt(CAST(n*sdd - sd*sd AS DOUBLE))) AS corr_price_disc
        |FROM m""".stripMargin) { (s, dir) =>
      Tables.registerAll(s, dir)
      s.sql("""WITH m AS (SELECT
        |    CAST(count(*) AS DECIMAL(15,0)) AS n,
        |    CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DECIMAL(19,2)) AS sq,
        |    CAST(sum(CAST(l_quantity AS DECIMAL(12,2))
        |           * CAST(l_quantity AS DECIMAL(12,2))) AS DECIMAL(22,4)) AS sqq,
        |    CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DECIMAL(19,2)) AS sp,
        |    CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
        |           * CAST(l_extendedprice AS DECIMAL(12,2))) AS DECIMAL(23,4)) AS spp,
        |    CAST(sum(CAST(l_discount AS DECIMAL(4,2))) AS DECIMAL(19,2)) AS sd,
        |    CAST(sum(CAST(l_discount AS DECIMAL(4,2))
        |           * CAST(l_discount AS DECIMAL(4,2))) AS DECIMAL(19,4)) AS sdd,
        |    CAST(sum(CAST(l_quantity AS DECIMAL(12,2))
        |           * CAST(l_extendedprice AS DECIMAL(12,2))) AS DECIMAL(22,4)) AS sqp,
        |    CAST(sum(CAST(l_quantity AS DECIMAL(12,2))
        |           * CAST(l_discount AS DECIMAL(4,2))) AS DECIMAL(19,4)) AS sqd,
        |    CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
        |           * CAST(l_discount AS DECIMAL(4,2))) AS DECIMAL(20,4)) AS spd
        |  FROM lineitem)
        |SELECT
        |  CASE WHEN n > 1000000000000 THEN CAST(raise_error(
        |    'q88: row count exceeds the sized decimal headroom (products of
        | sums are bounded by 1e8*n^2 and must stay under DECIMAL(38,4) =
        | 1e34, so n <= 1e13; guarded at 1e12 for 10x margin) - widen the
        | moment widths before running at this scale') AS BIGINT)
        |  ELSE CAST(n AS BIGINT) END AS n,
        |  CAST(n*sqp - sq*sp AS DOUBLE)
        |    / (sqrt(CAST(n*sqq - sq*sq AS DOUBLE))
        |     * sqrt(CAST(n*spp - sp*sp AS DOUBLE))) AS corr_qty_price,
        |  CAST(n*sqd - sq*sd AS DOUBLE)
        |    / (sqrt(CAST(n*sqq - sq*sq AS DOUBLE))
        |     * sqrt(CAST(n*sdd - sd*sd AS DOUBLE))) AS corr_qty_disc,
        |  CAST(n*spd - sp*sd AS DOUBLE)
        |    / (sqrt(CAST(n*spp - sp*sp AS DOUBLE))
        |     * sqrt(CAST(n*sdd - sd*sd AS DOUBLE))) AS corr_price_disc
        |FROM m""".stripMargin)
    },

    // ------------------------------------------------------------------
    // Fixed-width histogram of event values per type (20 buckets of 12.5
    // over [0, 250)): distribution profiling as one scan + one small
    // aggregate. The bucket index is floor of a single double division —
    // identical in both engines — and empty buckets are simply absent
    // (dense output belongs to q84's grid pattern).
    QuerySpec.sqlBacked("q89_histogram",
      """SELECT event_type,
        |  CAST(floor(value / 12.5) AS BIGINT) AS bucket,
        |  count(*) AS n, min(value) AS lo, max(value) AS hi
        |FROM events
        |GROUP BY event_type, bucket
        |ORDER BY event_type, bucket""".stripMargin) { (s, dir) =>
      Tables(s, dir, "events")
        .groupBy(col("event_type"),
          floor(col("value") / 12.5).as("bucket"))
        .agg(count(lit(1)).as("n"), min(col("value")).as("lo"),
          max(col("value")).as("hi"))
        .transform(Tables.tableOrdered(s, dir, "events")(col("event_type"), col("bucket"))) // bounded sort (§2)
    },

    // ------------------------------------------------------------------
    // Skew-salted join (operators.SkewJoin): enrich every document with
    // its source's corpus stats. `source` is the classic hot key — 20
    // values over the whole corpus, so a plain shuffle join puts ~5% of
    // 100 TB on ONE reducer; the salted form fans each source across 16
    // cells and replicates the 20-row dim 16x (320 rows — the explicit,
    // bounded price). Deterministic salt from doc_id keeps runs
    // reproducible; the oracle is the PLAIN join — salting must be
    // invisible in the result. The above-average flag is integer
    // cross-multiplication (n_chars * src_docs > src_sum), never a
    // division, so the boundary is bit-exact in both engines.
    QuerySpec.sqlBacked("q104_skew_salted_join",
      """WITH d AS (SELECT source, count(*) AS src_docs,
        |             CAST(sum(n_chars) AS BIGINT) AS src_chars
        |           FROM documents GROUP BY source)
        |SELECT doc_id, documents.source, src_docs,
        |       (n_chars * src_docs > src_chars) AS above_avg
        |FROM documents JOIN d USING (source)
        |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val docs = Tables(s, dir, "documents")
      val dim = docs.groupBy(col("source"))
        .agg(count(lit(1)).as("src_docs"), sum(col("n_chars")).as("src_chars"))
      graft.operators.SkewJoin.salted(
          docs.select(col("doc_id"), col("source"), col("n_chars")),
          dim, "source", salts = 16, saltBy = col("doc_id"))
        .select(col("doc_id"), col("source"), col("src_docs"),
          (col("n_chars") * col("src_docs") > col("src_chars")).as("above_avg"))
        .transform(Tables.docOrdered(s, dir)) // bounded sort width (§2)
    },

    // ------------------------------------------------------------------
    // Unpivot/melt (q21 pivot's inverse — the wide-to-long reshape a
    // metrics pipeline runs before per-metric aggregation): three value
    // columns melt into (metric, v) rows via the native Dataset.unpivot,
    // then one metric-keyed aggregate. Sums ride exact DECIMAL and cast
    // to DOUBLE once at the end (the q48 accumulation-order dodge; the
    // oracle is the portable UNION ALL form of the same melt). Unpivot
    // is a per-row 3x explode — no shuffle, no payload duplication
    // beyond the melted columns — and partial aggregation collapses the
    // shuffle to 3 keys.
    QuerySpec.sqlBacked("q109_unpivot_metrics",
      """WITH u AS (
        |  SELECT 'l_discount' AS metric,
        |         CAST(l_discount AS DECIMAL(12,2)) AS v FROM lineitem
        |  UNION ALL
        |  SELECT 'l_extendedprice',
        |         CAST(l_extendedprice AS DECIMAL(12,2)) FROM lineitem
        |  UNION ALL
        |  SELECT 'l_quantity',
        |         CAST(l_quantity AS DECIMAL(12,2)) FROM lineitem)
        |SELECT metric, count(*) AS n, CAST(sum(v) AS DOUBLE) AS total,
        |       CAST(min(v) AS DOUBLE) AS lo, CAST(max(v) AS DOUBLE) AS hi
        |FROM u GROUP BY metric ORDER BY metric""".stripMargin) { (s, dir) =>
      t(s, dir, "lineitem")
        .select(m2(col("l_quantity")).as("l_quantity"),
          m2(col("l_extendedprice")).as("l_extendedprice"),
          m2(col("l_discount")).as("l_discount"))
        .unpivot(Array.empty[Column],
          Array(col("l_quantity"), col("l_extendedprice"), col("l_discount")),
          "metric", "v")
        .groupBy(col("metric"))
        .agg(count(lit(1)).as("n"), toD(sum(col("v"))).as("total"),
          toD(min(col("v"))).as("lo"), toD(max(col("v"))).as("hi"))
        .transform(d => Tables.orderedByBound(d, 3)(col("metric"))) // bounded sort (§2)
    },

    // ------------------------------------------------------------------
    // Z-order layout audit — the multi-dimensional clustering lever for
    // file skipping: interleave the low 16 bits of two filter dims
    // (partkey, suppkey) into a 32-bit Morton code, bucket the corpus
    // by the code's high bits (= the files a z-sorted write produces),
    // and report the summed per-bucket [min,max] span of BOTH dims next
    // to the same stats for orderkey-bucketed row order. Z-buckets
    // bound both dims simultaneously, so parquet min/max row-group
    // stats prune predicates on EITHER dim — row order bounds neither.
    // The bit interleave is a closed-form 32-term integer sum (same
    // text both engines, no HOF, no libm) computed inside the scan;
    // lineitem is scanned ONCE — each row explodes into its two
    // (layout, bucket) assignments in the scan stage and the partial
    // aggregate collapses them to <= 512 keys per partition before the
    // single exchange (a per-arm formulation would scan the fact twice;
    // at 100 TB the scan IS the cost). At 100 TB this query is the
    // audit you run BEFORE paying the z-sort (one range-shuffle, the
    // q73 GlobalIndex shape) to know what the layout buys; the spans
    // ARE the pruning bound.
    QuerySpec.sqlBacked("q119_zorder_layout", {
      val z = (0 until 16).map(i =>
        s"((px >> $i) & 1) * ${1L << (2 * i)} + " +
          s"((sx >> $i) & 1) * ${1L << (2 * i + 1)}").mkString(" + ")
      s"""WITH d AS (
         |  SELECT l_orderkey % 256 AS rbucket,
         |         l_partkey % 65536 AS px, l_suppkey % 65536 AS sx
         |  FROM lineitem),
         |z AS (SELECT rbucket, px, sx, ($z) // 16777216 AS zbucket FROM d),
         |spans AS (
         |  SELECT 'roworder' AS layout, rbucket AS bucket,
         |         max(px) - min(px) AS sp, max(sx) - min(sx) AS ss
         |  FROM z GROUP BY bucket
         |  UNION ALL
         |  SELECT 'zorder', zbucket, max(px) - min(px), max(sx) - min(sx)
         |  FROM z GROUP BY zbucket)
         |SELECT layout, CAST(count(*) AS BIGINT) AS n_buckets,
         |       CAST(sum(sp) AS BIGINT) AS sum_part_span,
         |       CAST(sum(ss) AS BIGINT) AS sum_supp_span
         |FROM spans GROUP BY layout ORDER BY layout""".stripMargin
    }) { (s, dir) =>
      val z = (0 until 16).map(i =>
        s"((px >> $i) & 1) * ${1L << (2 * i)} + " +
          s"((sx >> $i) & 1) * ${1L << (2 * i + 1)}").mkString(" + ")
      t(s, dir, "lineitem")
        .select((col("l_orderkey") % 256).as("rbucket"),
          (col("l_partkey") % 65536).as("px"),
          (col("l_suppkey") % 65536).as("sx"))
        .withColumn("zbucket", expr(s"($z) div 16777216"))
        .select(explode(array(
          struct(lit("roworder").as("layout"), col("rbucket").as("bucket")),
          struct(lit("zorder").as("layout"), col("zbucket").as("bucket"))))
          .as("lb"), col("px"), col("sx"))
        .groupBy(col("lb.layout").as("layout"), col("lb.bucket").as("bucket"))
        .agg((max(col("px")) - min(col("px"))).as("sp"),
          (max(col("sx")) - min(col("sx"))).as("ss"))
        .groupBy(col("layout"))
        .agg(count(lit(1)).as("n_buckets"),
          sum(col("sp")).as("sum_part_span"),
          sum(col("ss")).as("sum_supp_span"))
        .orderBy(col("layout"))
    },

    // ------------------------------------------------------------------
    // Referential-integrity audit: for every FK edge of the star schema,
    // report child rows, distinct FK values, orphaned FK values (no
    // matching parent), and the rows those orphans carry — the
    // data-quality gate a pipeline runs before joining fact tables it
    // did not produce. Shape at 100 TB: each child is aggregated to its
    // KEY SPACE first (one map-side-combined exchange per edge, keyed
    // on the FK — never wider than distinct keys), and the
    // orphan-detecting join probes DISTINCT parent keys (EXISTS
    // semantics — a dirty parent with duplicated primary keys must not
    // multiply audit counts; that is precisely the corruption this
    // query exists to survive) — dims broadcast, the one fact-fact
    // edge (lineitem->orders) shuffles distinct orderkeys only. A
    // naive per-edge `fact LEFT ANTI parent` would re-shuffle the full
    // fact width seven times. Both the oracle SQL and the Spark plan
    // derive from the ONE edge list below — the two formulations
    // cannot drift.
    QuerySpec.sqlBacked("q122_ref_integrity", {
      def arm(e: (String, String, String, String)) = {
        val (child, fk, parent, pk) = e
        s"""SELECT '$child.$fk' AS edge,
           |  (SELECT CAST(count($fk) AS BIGINT) FROM $child) AS child_rows,
           |  CAST(count(*) AS BIGINT) AS distinct_keys,
           |  CAST(count(*) FILTER (WHERE orphan) AS BIGINT) AS orphan_keys,
           |  CAST(coalesce(sum(n) FILTER (WHERE orphan), 0) AS BIGINT)
           |    AS orphan_rows
           |FROM (SELECT c.$fk, count(*) AS n,
           |        NOT EXISTS (SELECT 1 FROM $parent p WHERE p.$pk = c.$fk)
           |          AS orphan
           |      FROM $child c WHERE $fk IS NOT NULL GROUP BY c.$fk)""".stripMargin
      }
      fkEdges.map(arm).mkString("", "\nUNION ALL\n", "\nORDER BY edge")
    }) { (s, dir) =>
      def arm(e: (String, String, String, String)) = {
        val (child, fk, parent, pk) = e
        val keys = t(s, dir, child).filter(col(fk).isNotNull)
          .groupBy(col(fk)).agg(count(lit(1)).as("n"))
        // distinct() = the oracle's EXISTS: one match flag per key even
        // if the parent's pk is (wrongly) duplicated
        val orphans = keys.join(
          t(s, dir, parent).select(col(pk)).distinct(),
          col(fk) === col(pk), "left_outer")
          .select(col("n"), col(pk).isNull.as("orphan"))
        orphans.agg(
          sum(col("n")).cast("long").as("child_rows"),
          count(lit(1)).cast("long").as("distinct_keys"),
          count(when(col("orphan"), 1)).cast("long").as("orphan_keys"),
          coalesce(sum(when(col("orphan"), col("n"))), lit(0L)).cast("long")
            .as("orphan_rows"))
          .select(lit(s"$child.$fk").as("edge"), col("child_rows"),
            col("distinct_keys"), col("orphan_keys"), col("orphan_rows"))
      }
      fkEdges.map(arm).reduce(_.unionAll(_))
        .transform(d => Tables.orderedByBound(d,
          fkEdges.size.toLong)(col("edge"))) // |fkEdges|-row report (§2)
    },

    // ------------------------------------------------------------------
    // q140 (TPC-H Q3-ish, shipping priority): the top-10 not-yet-shipped
    // orders by pending revenue at a cutoff — orders placed before it,
    // line items shipping after it. The classic sales-ops triage query,
    // and the third multi-join analytics entry beside q01/q30. Plan
    // contract: orders' date filter is pushed to parquet, the
    // customer→orders join narrows the fact BEFORE the lineitem join,
    // the group-by keys carry (orderkey, date, priority) with map-side
    // partials, and the top-10 is sort+limit = TakeOrderedAndProject,
    // deterministic under (revenue DESC, orderkey ASC) — exact decimal
    // revenue makes the double compare engine-identical.
    QuerySpec.sqlBacked("q140_tpch_q3ish",
      s"""SELECT l_orderkey,
         |  CAST(sum($revenueSql) AS DOUBLE) AS revenue,
         |  CAST(o_orderdate AS TIMESTAMP) AS o_orderdate, o_orderpriority
         |FROM customer
         |JOIN orders ON c_custkey = o_custkey
         |JOIN lineitem ON l_orderkey = o_orderkey
         |WHERE c_mktsegment = 'BUILDING'
         |  AND o_orderdate < TIMESTAMP '1998-01-01'
         |  AND l_shipdate > TIMESTAMP '1998-01-01'
         |GROUP BY l_orderkey, o_orderdate, o_orderpriority
         |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin) {
      (s, dir) =>
      t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
        .join(t(s, dir, "orders")
          .filter(col("o_orderdate") < lit("1998-01-01").cast("timestamp")),
          col("c_custkey") === col("o_custkey"))
        .join(t(s, dir, "lineitem")
          .filter(col("l_shipdate") > lit("1998-01-01").cast("timestamp")),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_orderkey"), col("o_orderdate"),
          col("o_orderpriority"))
        .agg(toD(sum(revenue(col("l_extendedprice"), col("l_discount"))))
          .as("revenue"))
        .select(col("l_orderkey"), col("revenue"), col("o_orderdate"),
          col("o_orderpriority"))
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(10)
    },

    // ------------------------------------------------------------------
    // q141 (TPC-H Q10-ish, returned-item reporting): the top-20
    // customers by revenue lost to returns in one quarter — who to call
    // first. Fourth multi-join analytics entry; the nation dim rides a
    // broadcast, the returnflag + order-date filters are pushed into
    // the scans so the join sees only the quarter's returned sliver,
    // and the top-20 cut is TakeOrderedAndProject under (revenue DESC,
    // custkey ASC).
    QuerySpec.sqlBacked("q141_tpch_q10ish",
      s"""SELECT c_custkey, c_name,
         |  CAST(sum($revenueSql) AS DOUBLE) AS revenue, n_name
         |FROM customer
         |JOIN orders ON c_custkey = o_custkey
         |JOIN lineitem ON l_orderkey = o_orderkey
         |JOIN nation ON c_nationkey = n_nationkey
         |WHERE l_returnflag = 'R'
         |  AND o_orderdate >= TIMESTAMP '1997-01-01'
         |  AND o_orderdate < TIMESTAMP '1997-04-01'
         |GROUP BY c_custkey, c_name, n_name
         |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin) {
      (s, dir) =>
      t(s, dir, "customer")
        .join(t(s, dir, "orders")
          .filter(col("o_orderdate") >= lit("1997-01-01").cast("timestamp") &&
            col("o_orderdate") < lit("1997-04-01").cast("timestamp")),
          col("c_custkey") === col("o_custkey"))
        .join(t(s, dir, "lineitem").filter(col("l_returnflag") === "R"),
          col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(t(s, dir, "nation")),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("c_custkey"), col("c_name"), col("n_name"))
        .agg(toD(sum(revenue(col("l_extendedprice"), col("l_discount"))))
          .as("revenue"))
        .select(col("c_custkey"), col("c_name"), col("revenue"),
          col("n_name"))
        .orderBy(col("revenue").desc, col("c_custkey"))
        .limit(20)
    },

    // ------------------------------------------------------------------
    // q142: the full ranking-window suite in one entry — rank,
    // dense_rank, percent_rank, cume_dist, ntile, lag delta and running
    // first_value over per-type daily spend, closing the window-function
    // SQL surface next to q14 (rank) and q127 (ntile re-expressed
    // scalably). The window PARTITIONs BY event_type (per-partition row
    // counts bounded by the day span — never a global single-task sort),
    // and the ORDER (cents DESC, day) is total, so rank == row_number,
    // percent_rank/cume_dist divide identical integer operands in both
    // engines, and the ntile allocation (first buckets take the
    // remainder) is the engine-shared definition q127 already pinned.
    QuerySpec.sqlBacked("q142_window_suite",
      """WITH e AS (SELECT event_type,
        |    CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) // 86400
        |      AS day,
        |    CAST(floor(value * 100) AS BIGINT) AS cents FROM events),
        |d AS (SELECT event_type, day, CAST(sum(cents) AS BIGINT) AS c
        |      FROM e GROUP BY event_type, day)
        |SELECT event_type, day, c,
        |  CAST(rank() OVER w AS BIGINT) AS rnk,
        |  CAST(dense_rank() OVER w AS BIGINT) AS drnk,
        |  percent_rank() OVER w AS prank,
        |  cume_dist() OVER w AS cdist,
        |  CAST(ntile(4) OVER w AS BIGINT) AS quartile,
        |  c - lag(c) OVER w AS delta,
        |  first_value(c) OVER w AS best
        |FROM d WINDOW w AS (PARTITION BY event_type ORDER BY c DESC, day)
        |ORDER BY event_type, rnk""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val d = Tables(s, dir, "events")
        .select(col("event_type"), epochDay(col("ts")).as("day"),
          cents(col("value")).as("cents"))
        .groupBy(col("event_type"), col("day"))
        .agg(sum(col("cents")).as("c"))
      val w = Window.partitionBy(col("event_type"))
        .orderBy(col("c").desc, col("day"))
      d.select(col("event_type"), col("day"), col("c"),
          rank().over(w).cast("long").as("rnk"),
          dense_rank().over(w).cast("long").as("drnk"),
          percent_rank().over(w).as("prank"),
          cume_dist().over(w).as("cdist"),
          ntile(4).over(w).cast("long").as("quartile"),
          (col("c") - lag(col("c"), 1).over(w)).as("delta"),
          first_value(col("c")).over(w).as("best"))
        .transform(Tables.tableOrdered(s, dir, "events")(col("event_type"), col("rnk"))) // bounded sort (§2)
    },

    // ------------------------------------------------------------------
    // q151: materialized-rollup routing, driver-visible — the
    // plans.SummaryRewrite optimizer rule carrying a real query. The run
    // materializes a (returnflag, linestatus) rollup of lineitem to
    // parquet, registers it, and then issues the FACT aggregate; the
    // rule rewrites it to re-aggregate the 5-row summary (sum-of-sums,
    // sum-of-counts, min-of-mins, max-of-maxes), and a fail-loud require
    // pins that the optimized plan scans the rollup and NOT the fact —
    // so a silently-defeated rewrite fails the sweep rather than passing
    // as a plain aggregate. The oracle aggregates the fact directly:
    // the driver's hash gate is exactly the algebraic-merge equivalence
    // the rule's correctness rests on (quantities are integral doubles,
    // so sum-of-partial-sums is order-exact). At 100 TB this is the
    // warehouse move that makes the fact interactively queryable: the
    // scan drops from the fact's size to the rollup's key cardinality.
    QuerySpec.sqlBacked("q151_rollup_route",
      """SELECT l_returnflag,
        |  sum(l_quantity) AS sum_qty,
        |  avg(l_quantity) AS avg_qty,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  min(l_extendedprice) AS min_price,
        |  max(l_extendedprice) AS max_price
        |FROM lineitem GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin) { (s, dir) =>
      val factPath = s"$dir/lineitem.parquet"
      // tiny (|flags|x|statuses| rows); left for tmp cleanup — it must
      // outlive this call because the caller executes the frame lazily
      val sumPath = java.nio.file.Files
        .createTempDirectory("graft_rollup").resolve("rollup.parquet")
        .toString
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(col("l_quantity")).as("s_qty"), count(lit(1)).as("cnt"),
          min(col("l_extendedprice")).as("mn"),
          max(col("l_extendedprice")).as("mx"))
        .write.mode("overwrite").parquet(sumPath)
      graft.plans.SummaryRewrite.register(factPath, s.read.parquet(sumPath),
        keys = Seq("l_returnflag", "l_linestatus"),
        partials = Map(
          ("sum", "l_quantity") -> "s_qty",
          ("count", "*") -> "cnt",
          // l_quantity is non-null, so its per-column count (the avg
          // denominator) is the row count — the registrar's assertion
          ("count", "l_quantity") -> "cnt",
          ("min", "l_extendedprice") -> "mn",
          ("max", "l_extendedprice") -> "mx"))
      try {
        val df = t(s, dir, "lineitem")
          .groupBy(col("l_returnflag"))
          .agg(sum(col("l_quantity")).as("sum_qty"),
            avg(col("l_quantity")).as("avg_qty"),
            count(lit(1)).as("n_rows"),
            min(col("l_extendedprice")).as("min_price"),
            max(col("l_extendedprice")).as("max_price"))
          .transform(Tables.tableOrdered(s, dir, "lineitem")(col("l_returnflag"))) // bounded sort (§2)
        // forcing optimizedPlan here pins the routed plan in this frame's
        // queryExecution, so the post-clear() execution still routes
        val scans = graft.plans.SummaryRewrite.scannedPaths(df)
        require(scans.exists(_.endsWith("rollup.parquet")) &&
          !scans.exists(_.endsWith("lineitem.parquet")),
          s"q151: aggregate was not routed to the rollup (scans: $scans)")
        df
      } finally graft.plans.SummaryRewrite.clear()
    },

    // ------------------------------------------------------------------
    // q156: co-located fact-fact join via bucketing, driver-visible —
    // the q151 move for the OTHER big warehouse lever. Both join sides
    // are written bucketed (+ sorted) by the join key into an external
    // temp-path table, and the fact-fact join then runs as a
    // SortMergeJoin with NO exchange under it — at 100 TB this is the
    // difference between shuffling two fact tables per join and
    // shuffling them once at layout time, amortized over every
    // subsequent join on that key. A fail-loud require pins the
    // no-shuffle shape (merge hint forces SMJ — the tiny test tables
    // would otherwise auto-broadcast, proving nothing); the oracle runs
    // the plain join, so the driver hash also proves bucketing changed
    // the PLAN and not the ANSWER.
    QuerySpec.sqlBacked("q156_bucketed_join",
      """SELECT o_custkey,
        |  sum(l_quantity) AS sum_qty,
        |  CAST(count(*) AS BIGINT) AS n_rows
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_custkey ORDER BY o_custkey""".stripMargin) { (s, dir) =>
      val base = java.nio.file.Files.createTempDirectory("graft_bucketed")
      for ((tbl, keyed) <- Seq(
          ("graft_q156_li", t(s, dir, "lineitem")
            .select(col("l_orderkey"), col("l_quantity"))),
          ("graft_q156_ord", t(s, dir, "orders")
            .select(col("o_orderkey"), col("o_custkey")))) ) {
        s.sql(s"DROP TABLE IF EXISTS $tbl")
        keyed.write.mode("overwrite")
          .bucketBy(16, keyed.columns.head).sortBy(keyed.columns.head)
          .option("path", s"$base/$tbl").saveAsTable(tbl)
      }
      val df = s.table("graft_q156_li").hint("merge")
        .join(s.table("graft_q156_ord").hint("merge"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_custkey"))
        .agg(sum(col("l_quantity")).as("sum_qty"),
          count(lit(1)).as("n_rows"))
        .transform(Tables.tableOrdered(s, dir, "orders")(col("o_custkey"))) // bounded sort (§2)
      // bucketing is decided at planning, so the initial physical plan
      // already shows it: SMJ present, no join-key exchange beneath it
      val plan = df.queryExecution.executedPlan.toString
      require(plan.contains("SortMergeJoin"),
        s"q156: expected a sort-merge join in:\n$plan")
      val joinSection = plan.split("SortMergeJoin")(1)
      require(!joinSection.contains("Exchange hashpartitioning(l_orderkey")
          && !joinSection.contains("Exchange hashpartitioning(o_orderkey"),
        s"q156: bucketed join still shuffles a side:\n$plan")
      df
    },

    // ------------------------------------------------------------------
    // q159: hive-style partition pruning, driver-visible — the third
    // leg of the layout triad next to q151 (rollup routing) and q156
    // (bucketed co-location). The events fact is rewritten partitioned
    // BY event_type; a one-type query must then prune at the FILE
    // LISTING — the scan's PartitionFilters carries the predicate and
    // the other partitions' files are never opened. At 100 TB this is
    // the first and cheapest I/O lever: a 5-type corpus serves a
    // one-type query at 1/5 the scan, before any row-level pushdown.
    // The fail-loud require pins the PartitionFilters line; the oracle
    // filters the flat table, so the driver hash proves the layout
    // changed the listing, not the answer. (cents sum CAST to BIGINT —
    // the DuckDB HUGEINT render doctrine.)
    QuerySpec.sqlBacked("q159_partition_pruned",
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
        |    AS cents
        |FROM events WHERE event_type = 'click'
        |GROUP BY event_type""".stripMargin) { (s, dir) =>
      val base = java.nio.file.Files
        .createTempDirectory("graft_parted").resolve("events_by_type")
        .toString
      Tables(s, dir, "events")
        .select(col("event_type"), col("value"))
        .write.mode("overwrite").partitionBy("event_type").parquet(base)
      val df = s.read.parquet(base)
        .filter(col("event_type") === "click")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(expr("CAST(floor(value * 100 + 0.5) AS BIGINT)")).as("cents"))
      val plan = df.queryExecution.executedPlan.toString
      val pf = plan.linesIterator.find(_.contains("PartitionFilters"))
      require(pf.exists(l => l.contains("(event_type") &&
          l.contains("click")),
        s"q159: predicate did not reach the partition listing:\n$plan")
      df
    },

    // ------------------------------------------------------------------
    // q166: PK-FK join ELIMINATION — the second driver-gated optimizer
    // rule (plans.JoinElim; q151's SummaryRewrite is the first): the
    // query textually joins `part` but reads nothing from it except the
    // join key, and under the declared integrity edge lineitem.l_partkey
    // → part.p_partkey (row 2 of q122's fkEdges — the audit that
    // LICENSES the declaration: pk unique, fk non-null, zero orphans)
    // the join is the identity on lineitem, so the rule deletes it and
    // the fail-loud require pins that the optimized plan never scans
    // part.parquet. The ORACLE runs the join — the driver's hash gate
    // is therefore exactly the elimination's semantic-identity claim.
    // At 100 TB this is a fact-wide shuffle or broadcast probe deleted
    // outright — the constraint-driven rewrite every warehouse ships as
    // RELY constraints and Spark has no metadata for.
    QuerySpec.sqlBacked("q166_join_elim",
      """SELECT l_partkey % 97 AS band, CAST(count(*) AS BIGINT) AS n_lines,
        |  CAST(sum(CAST(floor(l_quantity) AS BIGINT)) AS BIGINT) AS qty
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY band ORDER BY band""".stripMargin) { (s, dir) =>
      graft.plans.JoinElim.declare(s"$dir/lineitem.parquet", "l_partkey",
        s"$dir/part.parquet", "p_partkey")
      try {
        val li = Tables(s, dir, "lineitem")
          .select(col("l_partkey"), col("l_quantity"))
        val pt = Tables(s, dir, "part").select(col("p_partkey"))
        val df = li.join(pt, col("l_partkey") === col("p_partkey"))
          .groupBy((col("p_partkey") % 97).as("band"))
          .agg(count(lit(1)).as("n_lines"),
            sum(floor(col("l_quantity")).cast("long")).as("qty"))
          .transform(d => Tables.orderedByBound(d, 97)(col("band"))) // bounded sort (§2)
        // forcing optimizedPlan pins the eliminated plan in this frame's
        // queryExecution, so the edge can be cleared before it runs
        val scans = graft.plans.SummaryRewrite.scannedPaths(df)
        require(!scans.exists(_.endsWith("part.parquet")),
          s"q166: the dimension join was not eliminated (scans: $scans)")
        df
      } finally graft.plans.JoinElim.clear()
    },

    // ------------------------------------------------------------------
    // q170: semi-structured processing through Spark 4's native VARIANT
    // type — q24 re-asked the modern way: `parse_json` parses each
    // props document ONCE into the binary variant encoding, every
    // extraction is a typed `variant_get` over that parsed value (no
    // per-path re-parse, the point of the type), and
    // `schema_of_variant` surfaces the per-row inferred shape, which
    // the gate pins as the corpus-wide constant it should be. At
    // 100 TB variant is also the STORAGE answer (shredded parquet
    // columns per field); here the ledger pins the compute surface:
    // Spark's variant path must agree exactly with DuckDB's JSON
    // extraction on the same documents.
    QuerySpec.sqlBacked("q170_variant_json",
      """SELECT CAST(json_extract_string(props, '$.k') AS INTEGER) AS k,
        |  'OBJECT<k: BIGINT>' AS shape, CAST(count(*) AS BIGINT) AS n
        |FROM events GROUP BY k ORDER BY k""".stripMargin) { (s, dir) =>
      t(s, dir, "events")
        .select(parse_json(col("props")).as("v"))
        .select(variant_get(col("v"), "$.k", "int").as("k"),
          schema_of_variant(col("v")).as("shape"))
        .groupBy(col("k"), col("shape"))
        .agg(count(lit(1)).as("n"))
        .transform(Tables.tableOrdered(s, dir, "events")(col("k"))) // bounded sort (§2)
    },

    // ------------------------------------------------------------------
    // q177: DISTINCT elimination under a declared unique key — the
    // third driver-gated optimizer rule (plans.DistinctElim, after
    // q151's SummaryRewrite and q166's JoinElim). The query textually
    // runs `.distinct()` over (o_orderkey, o_custkey, o_orderstatus);
    // o_orderkey is the orders PRIMARY KEY (the q52-profile audit
    // `count(*) = count(DISTINCT o_orderkey)` is what licenses the
    // declaration), so the row set is duplicate-free by construction
    // and the rule deletes the aggregate — the fail-loud require pins
    // that NO Aggregate survives in the optimized plan. The ORACLE runs
    // the real SELECT DISTINCT, so the driver's hash gate is exactly
    // the elimination's semantic-identity claim. At 100 TB a distinct
    // is a full-corpus hash exchange; deleting a provably-no-op one is
    // the single largest shuffle a uniqueness contract can save.
    QuerySpec.sqlBacked("q177_distinct_elim",
      """SELECT DISTINCT o_orderkey, o_custkey, o_orderstatus
        |FROM orders ORDER BY o_orderkey""".stripMargin) { (s, dir) =>
      graft.plans.DistinctElim.declare(s"$dir/orders.parquet", "o_orderkey")
      try {
        val df = Tables(s, dir, "orders")
          .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"))
          .distinct()
          .transform(Tables.tableOrdered(s, dir, "orders")(col("o_orderkey"))) // bounded sort (§2)
        // the require forces optimizedPlan, pinning the eliminated plan
        // in this frame's queryExecution before the key is cleared
        val aggs = df.queryExecution.optimizedPlan.collect {
          case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
        }
        require(aggs.isEmpty,
          s"q177: the distinct was not eliminated (${aggs.size} Aggregate)")
        df
      } finally graft.plans.DistinctElim.clear()
    }
  )

  /** The star schema's FK edges (child, fk, parent, pk) — q122's single
    * source of truth for both the oracle SQL and the Spark plan. (A
    * `def`: `specs` initializes first and builds the oracle eagerly.) */
  private def fkEdges = Seq(
    ("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("orders", "o_custkey", "customer", "c_custkey"),
    ("customer", "c_nationkey", "nation", "n_nationkey"),
    ("supplier", "s_nationkey", "nation", "n_nationkey"),
    ("nation", "n_regionkey", "region", "r_regionkey"))
}
