package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Relational query surface: the reference's aggregate / join / top-k /
  * window shapes (SURVEY.md §2.3-2.5) re-expressed over the TPC-H-ish
  * driver tables.
  *
  * SciPi row → testdata analogue used here:
  *   publication → order; author-set size → lineitems per order;
  *   keyword → part; year → year(o_orderdate).
  *
  * Scale notes (100 TB):
  *  - Every groupBy keys on bounded-or-natural keys (flag, year, unit,
  *    partkey) → hash agg with map-side partial aggregation; the shuffle
  *    carries only the partial aggregates, not the scan.
  *  - Dimension joins (nation/region/customer) are explicit `broadcast`;
  *    the big fact side never shuffles for them.
  *  - The co-occurrence self-join (J5 analogue) shuffles both sides on
  *    the join key once; AQE skew-split handles hot parts.
  *  - Money sums use DECIMAL so results are exact and order-insensitive
  *    (double summation order differs between engines at 1e8+ magnitudes).
  */
object RelationalQueries extends QueryPack {

  /** Exact money arithmetic: decimal, not double (summation-order-proof). */
  private def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(18,4)")

  /** Max neighbors rendered in q_part_adjacency's presentation list —
    * bounds a hot part's output row at 100× (degree stays exact). */
  private[queries] val NeighborCap = 64

  /** Hot-order clique guard for the group-then-expand family: an order
    * with more than `cap` distinct parts contributes k² in-partition
    * pairs — one degenerate key (a misloaded mega-order) turns the
    * bounded expansion quadratic. Orders above the cap are EXCLUDED
    * from pair expansion, the same declared semantics as
    * PubGraph.edges(maxCliqueAuthors) (graph/PubGraph.scala:49): a
    * degenerate group is noise, not co-occurrence signal. TPC-H orders
    * carry ≤ 7 parts, so the default preserves driver-SF output
    * exactly (the uncapped DuckDB oracles stay green); the cap behavior
    * itself is spec-pinned on a planted mega-order.
    * `SPARK_GRAFT_CLIQUE_CAP` overrides (0 disables — Soak A/B). */
  private def cliqueCap: Int =
    sys.env.get("SPARK_GRAFT_CLIQUE_CAP").map(_.toInt).getOrElse(1000)

  /** Per-order distinct part sets, clique-capped. Cap-injectable for
    * specs (env is immutable in a test JVM). */
  private[graft] def orderPartSets(s: org.apache.spark.sql.SparkSession, d: String,
      cap: Int): DataFrame = {
    val sets = Tables.lineitem(s, d)
      .groupBy(col("l_orderkey"))
      .agg(collect_set(col("l_partkey")).as("ps"))
    if (cap <= 0) sets else sets.where(size(col("ps")) <= cap)
  }

  /** Co-occurrence pair counts from capped part sets — the shared
    * group-then-expand kernel, exposed for the cap spec. Pair
    * generation is the suffix form (PairGen.suffixPairs, r17): the
    * second Generate emits k(k-1)/2 rows per order instead of the k²
    * the explode×explode + filter form produced. */
  private[graft] def cooccurPairs(s: org.apache.spark.sql.SparkSession, d: String,
      cap: Int): DataFrame =
    graft.functions.PairGen.suffixPairs(orderPartSets(s, d, cap), col("ps"), "p1", "p2")
      .groupBy("p1", "p2")
      .agg(count(lit(1)).as("cnt"))

  /** Adjacency rows from capped part sets — exposed for the cap spec. */
  private[graft] def adjacencyRows(s: org.apache.spark.sql.SparkSession, d: String,
      cap: Int): DataFrame =
    orderPartSets(s, d, cap)
      .select(explode(col("ps")).as("pkey"), col("ps"))
      .select(col("pkey"), explode(col("ps")).as("other"))
      .where(col("pkey") =!= col("other"))
      .groupBy("pkey")
      .agg(sort_array(collect_set(col("other"))).as("nb"))
      .select(col("pkey"),
        concat_ws("|", slice(col("nb"), 1, NeighborCap)).as("neighbors"),
        size(col("nb")).cast("long").as("degree"))

  /** (order_year, n_items) per order — the publication(year, #authors)
    * analogue; several queries below reuse this shape (A3-A6). */
  private def orderSizes(s: org.apache.spark.sql.SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy("l_orderkey").agg(count(lit(1)).as("n_items"))
      .join(
        Tables.orders(s, d).select(col("o_orderkey"), year(col("o_orderdate")).as("o_year")),
        col("l_orderkey") === col("o_orderkey"))

  override def queries: Map[String, Q] = Map(
    // TPC-H Q1 shape: scan-heavy grouped aggregate (A1-A5 composite).
    "q1_pricing_summary" -> ((s, d) =>
      Tables.lineitem(s, d)
        .where(col("l_shipdate") <= lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          sum(col("l_quantity")).as("sum_qty"),
          // Money totals aggregate in exact DECIMAL (summation-order-proof)
          // but ship as DOUBLE: the driver reads Spark parquet DECIMAL as
          // python Decimal yet DuckDB results as float64, so a DECIMAL
          // output column can never hash-match. Before the double cast the
          // sum is re-scaled to its TRUE scale (4 = 2dp × 2dp) so the
          // unscaled value stays < 2^53 and both engines' decimal→double
          // conversion is the same single correctly-rounded division —
          // at scale 8 the conversion double-rounds differently per engine
          // (caught at sf0.1). Exact until totals reach ~9e11.
          sum(dec(col("l_extendedprice"))).cast("decimal(38,4)").cast("double").as("sum_base_price"),
          sum(dec(col("l_extendedprice")) *
            (lit(1).cast("decimal(1,0)") - dec(col("l_discount"))))
            .cast("decimal(38,4)").cast("double").as("sum_disc_price"),
          round(sum(col("l_quantity").cast("decimal(18,6)")).cast("double") /
            count(lit(1)), 6).as("avg_qty"),
          round(sum(col("l_discount").cast("decimal(9,6)")).cast("double") /
            count(lit(1)), 6).as("avg_disc"),
          count(lit(1)).as("count_order"))),

    // A3 + P7/P8: year-wise single/joint distribution with percentages.
    "q_yearwise_dist" -> ((s, d) =>
      orderSizes(s, d)
        .groupBy("o_year")
        .agg(
          sum(when(col("n_items") === 1, 1L).otherwise(0L)).as("single"),
          sum(when(col("n_items") > 1, 1L).otherwise(0L)).as("joint"))
        .withColumn("total", col("single") + col("joint"))
        .withColumn("single_perc", round(col("single") / col("total"), 6))
        .withColumn("joint_perc", round(col("joint") / col("total"), 6))),

    // A4/P9: authorship-pattern analogue — unit = items per order.
    "q_order_size_pattern" -> ((s, d) =>
      orderSizes(s, d)
        .groupBy(col("n_items").as("unit"))
        .agg(count(lit(1)).as("no_orders"))
        .withColumn("no_items", col("unit") * col("no_orders"))),

    // A5/P10: average items per order per year (AAP analogue).
    "q_avg_items_per_order" -> ((s, d) =>
      orderSizes(s, d)
        .groupBy("o_year")
        .agg(count(lit(1)).as("no_orders"), sum(col("n_items")).as("no_items"))
        .withColumn("avg_items", round(col("no_items") / col("no_orders"), 6))),

    // A6/P11: hyper-authorship analogue — orders with >= 10 items.
    "q_hyper_orders" -> ((s, d) =>
      orderSizes(s, d)
        .where(col("n_items") >= 10)
        .groupBy("o_year").agg(count(lit(1)).as("cnt"))),

    // A13/T1: global top-k (distributed TakeOrdered; deterministic ties).
    "q_top_parts" -> ((s, d) =>
      Tables.lineitem(s, d)
        .groupBy("l_partkey").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("l_partkey").asc)
        .limit(100)),

    // A11: cutoff bucket + percent + running cumulative percent — the
    // reference's only window-function-shaped computation.
    "q_cum_order_dist" -> ((s, d) => {
      val hist = orderSizes(s, d)
        .withColumn("unit", when(col("n_items") > 7, lit(8)).otherwise(col("n_items")))
        .groupBy("unit").agg(count(lit(1)).as("no_orders"))
      val total = Window.partitionBy()
      val cum = Window.orderBy("unit").rowsBetween(Window.unboundedPreceding, Window.currentRow)
      hist
        .withColumn("perc", round(col("no_orders") / sum("no_orders").over(total), 6))
        .withColumn("cum_perc",
          round(sum("no_orders").over(cum) / sum("no_orders").over(total), 6))
    }),

    // A12: latest-N-years slice (filter + sort + limit).
    "q_recent_years" -> ((s, d) =>
      orderSizes(s, d)
        .groupBy("o_year").agg(count(lit(1)).as("no_orders"))
        .where(col("o_year") <= 2000)
        .orderBy(col("o_year").desc)
        .limit(5)),

    // J2: fact ⋈ broadcast dims chain, revenue rollup per region/year.
    "q_region_revenue" -> ((s, d) => {
      // Aggregate lineitem per orderkey BEFORE the orders join (guide
      // §2.3, r17): every grouping key is orders-side, so the join
      // only needs each order's exact decimal revenue sum and item
      // count — the okey exchange the join pays anyway now carries
      // ~1 row per order instead of every lineitem (map-side partial
      // collapses the ~4 items/order first). Output identical: decimal
      // sums are exact and associative, count distributes over the
      // per-order partials, and a duplicated/missing orders row
      // multiplies/drops the per-order partial exactly as it did each
      // raw item row.
      val li = Tables.lineitem(s, d)
        .groupBy(col("l_orderkey"))
        .agg(
          sum(dec(col("l_extendedprice")) *
            (lit(1).cast("decimal(1,0)") - dec(col("l_discount")))).as("orev"),
          count(lit(1)).as("oitems"))
      val ord = Tables.orders(s, d)
      val cust = broadcast(Tables.customer(s, d))
      val nat = broadcast(Tables.nation(s, d))
      val reg = broadcast(Tables.region(s, d))
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .join(nat, col("c_nationkey") === col("n_nationkey"))
        .join(reg, col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"), year(col("o_orderdate")).as("o_year"))
        .agg(
          sum(col("orev")).cast("decimal(38,4)").cast("double").as("revenue"),
          sum(col("oitems")).as("n_items"))
    }),

    // P12/J6: membership filter against a small in-query set (constant-
    // folded; the broadcast-join equivalent of SciPi's keyword HashSets).
    "q_brand_filter" -> ((s, d) =>
      Tables.lineitem(s, d)
        .join(broadcast(Tables.part(s, d)
          .where(col("p_brand").isin("Brand#11", "Brand#22", "Brand#33"))),
          col("l_partkey") === col("p_partkey"))
        .groupBy("p_brand")
        .agg(count(lit(1)).as("cnt"), sum(col("l_quantity")).as("sum_qty"))),

    // P13/S6: count-threshold filter over a (name, count) table.
    "q_part_threshold" -> ((s, d) =>
      Tables.lineitem(s, d)
        .groupBy("l_partkey").agg(count(lit(1)).as("cnt"))
        .where(col("cnt") >= 8)),

    // J5: bipartite top-projection analogue — parts co-occurring in the
    // same order (order↔part is the author↔keyword bipartite graph).
    "q_part_cooccur" -> ((s, d) =>
      // Group-then-expand instead of distinct + self-join: ONE shuffle
      // on okey (collect_set dedups parts per order as a map-side
      // partial), pairs generated by two in-partition generators, then
      // the unavoidable pair-count shuffle. The join formulation pays
      // three shuffles for the same output. The clique cap (see
      // orderPartSets) bounds the k² expansion against a degenerate
      // mega-order.
      cooccurPairs(s, d, cliqueCap)),

    // A15: adjacency table — per part, sorted pipe-joined co-part list +
    // degree (the collaborator table shape). Same group-then-expand
    // kernel as q_part_cooccur above (ONE shuffle on okey, in-partition
    // k² expansion) instead of r3's distinct + self-join + pair-distinct
    // (4 exchanges); pair dedup rides the final collect_set (set
    // semantics + map-side partial), so the whole query is 2 shuffles.
    // Hot-part guard for 100×: the neighbor LIST is presentation — cap
    // it at the NeighborCap smallest keys (slice of the sorted set,
    // deterministic) while `degree` stays the true distinct-neighbor
    // count; at sf0.1 every degree < the cap so the oracle sees
    // identical output, and the cap behavior itself is spec-pinned.
    "q_part_adjacency" -> ((s, d) => adjacencyRows(s, d, cliqueCap)),

    // A14: community-strength analogue over the brand histogram.
    "q_brand_strength" -> ((s, d) =>
      graft.analytics.PubAggregates.communityStrength(
        Tables.part(s, d).groupBy("p_brand").agg(count(lit(1)).as("cnt")))
        .select(round(col("strength"), 6).as("strength"))),

    // J1 + A10: union of two overlapping slices, dedup, rollup.
    "q_union_dedup" -> ((s, d) => {
      val o = Tables.orders(s, d)
      o.where(col("o_orderstatus") === "F")
        .unionByName(o.where(col("o_totalprice") > 100000.0))
        .dropDuplicates("o_orderkey")
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("cnt"))
    }),

    // Events rollup: per type per hour count + mean value (string-typed
    // hour so engine timestamp-zone encodings can't diverge; the mean
    // goes through an exact DECIMAL sum then ONE double division —
    // avg(double) is summation-order-dependent and flipped a 6th-decimal
    // rounding boundary at sf0.1).
    "q_events_hourly" -> ((s, d) =>
      Tables.events(s, d)
        .groupBy(
          col("event_type"),
          date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:mm:ss").as("hour"))
        .agg(count(lit(1)).as("cnt"),
          round(sum(col("value").cast("decimal(18,6)")).cast("double") / count(lit(1)), 6)
            .as("avg_value"))),

    // Interval-overlap count WITHOUT a range join: how many orders are
    // "in flight" (between their first and last lineitem ship) in each
    // month. The naive formulation is months ⋈ orders ON s <= m < e —
    // a theta join Spark would execute as BNLJ. Instead each interval
    // EXPLODES into the integer month keys it covers (bounded fan-out:
    // TPC-H fulfillment windows span ≤ a few months) and one
    // map-combining aggregate counts per month — linear in input, two
    // small shuffles, no join at all. The month key is integer
    // arithmetic (year·12+month), formatted once at the end, so both
    // engines agree bit-for-bit.
    "q_interval_overlap" -> ((s, d) =>
      Tables.lineitem(s, d)
        .groupBy(col("l_orderkey"))
        .agg(min(col("l_shipdate")).as("s"), max(col("l_shipdate")).as("e"))
        .select(explode(sequence(
          year(col("s")) * 12 + month(col("s")) - 1,
          year(col("e")) * 12 + month(col("e")) - 1)).as("mi"))
        .groupBy("mi")
        .agg(count(lit(1)).as("n_open"))
        .select(
          format_string("%04d-%02d", expr("mi div 12"), col("mi") % 12 + 1).as("month"),
          col("n_open"))))

  override def oracles: Map[String, String] = Map(
    "q1_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |  sum(l_quantity) AS sum_qty,
        |  CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DECIMAL(38,4)) AS DOUBLE) AS sum_base_price,
        |  CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4)) *
        |      (CAST(1 AS DECIMAL(1,0)) - CAST(l_discount AS DECIMAL(18,4)))) AS DECIMAL(38,4)) AS DOUBLE) AS sum_disc_price,
        |  round(CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) / count(*), 6) AS avg_qty,
        |  round(CAST(sum(CAST(l_discount AS DECIMAL(9,6))) AS DOUBLE) / count(*), 6) AS avg_disc,
        |  count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= '1998-09-02'
        |GROUP BY l_returnflag, l_linestatus""".stripMargin,

    "q_yearwise_dist" ->
      """WITH os AS (
        |  SELECT l_orderkey, count(*) AS n_items FROM lineitem GROUP BY 1),
        |oy AS (
        |  SELECT year(o_orderdate) AS o_year, n_items
        |  FROM os JOIN orders ON l_orderkey = o_orderkey),
        |agg AS (
        |  SELECT o_year,
        |    CAST(sum(CASE WHEN n_items = 1 THEN 1 ELSE 0 END) AS BIGINT) AS single,
        |    CAST(sum(CASE WHEN n_items > 1 THEN 1 ELSE 0 END) AS BIGINT) AS joint
        |  FROM oy GROUP BY o_year)
        |SELECT o_year, single, joint, single + joint AS total,
        |  round(single * 1.0 / (single + joint), 6) AS single_perc,
        |  round(joint * 1.0 / (single + joint), 6) AS joint_perc
        |FROM agg""".stripMargin,

    "q_order_size_pattern" ->
      """SELECT n_items AS unit, count(*) AS no_orders, n_items * count(*) AS no_items
        |FROM (SELECT l_orderkey, count(*) AS n_items FROM lineitem GROUP BY 1)
        |GROUP BY n_items""".stripMargin,

    "q_avg_items_per_order" ->
      """SELECT year(o_orderdate) AS o_year, count(*) AS no_orders,
        |  CAST(sum(n_items) AS BIGINT) AS no_items,
        |  round(sum(n_items) * 1.0 / count(*), 6) AS avg_items
        |FROM (SELECT l_orderkey, count(*) AS n_items FROM lineitem GROUP BY 1)
        |JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1""".stripMargin,

    "q_hyper_orders" ->
      """SELECT year(o_orderdate) AS o_year, count(*) AS cnt
        |FROM (SELECT l_orderkey, count(*) AS n_items FROM lineitem GROUP BY 1)
        |JOIN orders ON l_orderkey = o_orderkey
        |WHERE n_items >= 10
        |GROUP BY 1""".stripMargin,

    "q_top_parts" ->
      """SELECT l_partkey, count(*) AS cnt FROM lineitem
        |GROUP BY 1 ORDER BY cnt DESC, l_partkey ASC LIMIT 100""".stripMargin,

    "q_cum_order_dist" ->
      """WITH os AS (
        |  SELECT l_orderkey, count(*) AS n_items FROM lineitem GROUP BY 1),
        |hist AS (
        |  SELECT CASE WHEN n_items > 7 THEN 8 ELSE n_items END AS unit,
        |         count(*) AS no_orders
        |  FROM os GROUP BY 1)
        |SELECT unit, no_orders,
        |  round(no_orders * 1.0 / sum(no_orders) OVER (), 6) AS perc,
        |  round(sum(no_orders) OVER (ORDER BY unit
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |        * 1.0 / sum(no_orders) OVER (), 6) AS cum_perc
        |FROM hist""".stripMargin,

    "q_recent_years" ->
      """SELECT year(o_orderdate) AS o_year, count(*) AS no_orders
        |FROM (SELECT l_orderkey FROM lineitem GROUP BY 1)
        |JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1 HAVING o_year <= 2000
        |ORDER BY o_year DESC LIMIT 5""".stripMargin,

    "q_region_revenue" ->
      """SELECT r_name, year(o_orderdate) AS o_year,
        |  CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4)) *
        |      (CAST(1 AS DECIMAL(1,0)) - CAST(l_discount AS DECIMAL(18,4)))) AS DECIMAL(38,4)) AS DOUBLE) AS revenue,
        |  count(*) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY 1, 2""".stripMargin,

    "q_brand_filter" ->
      """SELECT p_brand, count(*) AS cnt, sum(l_quantity) AS sum_qty
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE p_brand IN ('Brand#11', 'Brand#22', 'Brand#33')
        |GROUP BY 1""".stripMargin,

    "q_part_threshold" ->
      """SELECT l_partkey, count(*) AS cnt FROM lineitem
        |GROUP BY 1 HAVING cnt >= 8""".stripMargin,

    "q_part_cooccur" ->
      """WITH op AS (SELECT DISTINCT l_orderkey AS okey, l_partkey AS pkey FROM lineitem)
        |SELECT a.pkey AS p1, b.pkey AS p2, count(*) AS cnt
        |FROM op a JOIN op b ON a.okey = b.okey AND a.pkey < b.pkey
        |GROUP BY 1, 2""".stripMargin,

    "q_part_adjacency" ->
      s"""WITH op AS (SELECT DISTINCT l_orderkey AS okey, l_partkey AS pkey FROM lineitem),
        |nb AS (
        |  SELECT DISTINCT a.pkey AS pkey, b.pkey AS other
        |  FROM op a JOIN op b ON a.okey = b.okey AND a.pkey <> b.pkey)
        |SELECT pkey,
        |  array_to_string(list_sort(list(other))[1:$NeighborCap], '|') AS neighbors,
        |  count(*) AS degree
        |FROM nb GROUP BY pkey""".stripMargin,

    "q_brand_strength" ->
      """SELECT round(sum(cnt * cnt) * 1.0 / sum(cnt) / 100.0, 6) AS strength
        |FROM (SELECT p_brand, count(*) AS cnt FROM part GROUP BY 1)""".stripMargin,

    "q_union_dedup" ->
      """SELECT o_orderstatus, count(*) AS cnt FROM (
        |  SELECT DISTINCT ON (o_orderkey) * FROM (
        |    SELECT * FROM orders WHERE o_orderstatus = 'F'
        |    UNION ALL
        |    SELECT * FROM orders WHERE o_totalprice > 100000.0))
        |GROUP BY 1""".stripMargin,

    "q_events_hourly" ->
      """SELECT event_type,
        |  strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
        |  count(*) AS cnt,
        |  round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / count(*), 6) AS avg_value
        |FROM events GROUP BY 1, 2""".stripMargin,

    "q_interval_overlap" ->
      """WITH iv AS (
        |  SELECT l_orderkey,
        |    year(min(l_shipdate)) * 12 + month(min(l_shipdate)) - 1 AS sm,
        |    year(max(l_shipdate)) * 12 + month(max(l_shipdate)) - 1 AS em
        |  FROM lineitem GROUP BY 1),
        |m AS (SELECT unnest(range(sm, em + 1)) AS mi FROM iv)
        |SELECT printf('%04d-%02d', mi // 12, mi % 12 + 1) AS month,
        |  count(*) AS n_open
        |FROM m GROUP BY 1""".stripMargin)
}
