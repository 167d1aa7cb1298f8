package graft.analytics

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** A1-A6 (+ their shape maps P6-P11) and the presentation aggregates
  * A11-A15: every "materialized view" the reference maintains, as
  * DataFrame→DataFrame functions.
  *
  * Each works unchanged on a batch OR streaming publications DataFrame
  * (plain groupBy/agg — in streaming they run in update/complete mode;
  * the Cassandra upsert-by-PK the reference relies on makes the running
  * aggregate converge to exactly this batch answer, SURVEY.md §1.2).
  *
  * Scale: all keys are bounded (keywords ~1e6, years ~1e2, unit ~1e3) —
  * map-side partial aggregation makes the shuffle O(distinct keys), not
  * O(rows).
  */
object PubAggregates {

  /** A1/P6: keyword running count (ScipiStream.java:146-154,759-779). */
  def keywordCounts(pubs: DataFrame): DataFrame =
    pubs.select(explode(col("keywords")).as("keyword_name"))
      .groupBy("keyword_name")
      .agg(count(lit(1)).as("keyword_count"))

  /** A2: field-of-study count (ScipiStream.java:156-164,782-802). */
  def fosCounts(pubs: DataFrame): DataFrame =
    pubs.select(explode(col("fos")).as("field_study_name"))
      .groupBy("field_study_name")
      .agg(count(lit(1)).as("field_study_count"))

  /** A3/P7/P8: year-wise single/joint authorship distribution with
    * percentages (ScipiStream.java:166-176,805-859). */
  def yearWiseDistribution(pubs: DataFrame): DataFrame =
    pubs.select(col("year"),
        when(size(col("authors")) === 1, 1L).otherwise(0L).as("s"),
        when(size(col("authors")) > 1, 1L).otherwise(0L).as("j"))
      .groupBy("year")
      .agg(sum("s").as("single"), sum("j").as("joint"))
      .transform(withYearShares)

  /** A3's derived columns over (single, joint) counts. */
  def withYearShares(counts: DataFrame): DataFrame =
    counts.withColumn("total", col("single") + col("joint"))
      .withColumn("single_perc", col("single") / col("total"))
      .withColumn("joint_perc", col("joint") / col("total"))

  /** A4/P9: authorship pattern — unit = #authors per publication
    * (ScipiStream.java:178-186,862-892). `no_authors` = unit × articles
    * exactly as the reference's reduce computes it. */
  def authorshipPattern(pubs: DataFrame): DataFrame =
    pubs.select(size(col("authors")).as("author_unit"))
      .groupBy("author_unit")
      .agg(count(lit(1)).as("no_articles"))
      .transform(withUnitAuthors)

  /** A4's derived column over (author_unit, no_articles). */
  def withUnitAuthors(counts: DataFrame): DataFrame =
    counts.withColumn("no_authors", col("author_unit").cast("long") * col("no_articles"))

  /** A5/P10: average authors per paper per year
    * (ScipiStream.java:188-197,895-942). */
  def avgAuthorsPerPaper(pubs: DataFrame): DataFrame =
    pubs.select(col("year"), size(col("authors")).cast("long").as("n_authors"))
      .groupBy("year")
      .agg(count(lit(1)).as("no_articles"), sum("n_authors").as("no_authors"))
      .transform(withAvgAuthors)

  /** A5's derived column over (no_articles, no_authors). */
  def withAvgAuthors(counts: DataFrame): DataFrame =
    counts.withColumn("avg_author_paper", col("no_authors") / col("no_articles"))

  /** A6's author-count threshold (ScipiStream.java:952). */
  val HyperAuthors = 100

  /** A6/P11: hyper-authorship count — >= `threshold` authors
    * (ScipiStream.java:199-207,944-962; threshold 100 per the code at
    * :952 — the comment says 500, the code wins). */
  def hyperAuthorship(pubs: DataFrame, threshold: Int = HyperAuthors): DataFrame =
    pubs.where(size(col("authors")) >= threshold)
      .groupBy(col("year").as("hyper_authorship_year"))
      .agg(count(lit(1)).as("hyper_authorship_count"))

  // ---- presentation layer (visualisations.py re-expressed) ----

  /** A11: cutoff bucket + percent-of-total + cumulative percent over the
    * authorship pattern (visualisations.py:88-108). */
  def cutoffCumulative(pattern: DataFrame, cutoff: Int): DataFrame = {
    val total = Window.partitionBy()
    val cum = Window.orderBy("unit")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    pattern
      .withColumn("unit",
        when(col("author_unit") > cutoff, lit(cutoff + 1)).otherwise(col("author_unit")))
      .groupBy("unit").agg(sum("no_articles").as("no_articles"))
      .withColumn("perc", col("no_articles") / sum("no_articles").over(total))
      .withColumn("cum_perc", sum("no_articles").over(cum) / sum("no_articles").over(total))
  }

  /** A12: latest-N-years slice (visualisations.py:148-174). */
  def latestYears(byYear: DataFrame, maxYear: String, n: Int): DataFrame =
    byYear.where(col("year") <= maxYear).orderBy(col("year").desc).limit(n)

  /** A13: top-N topics by count (visualisations.py:362-366). */
  def topTopics(counts: DataFrame, countCol: String, n: Int): DataFrame =
    counts.orderBy(col(countCol).desc).limit(n)

  /** A14: community strength — Σ(count²)/Σcount/100 over a label
    * histogram (visualisations.py:658-666). count² widens to
    * DECIMAL(38,0) INSIDE the sum (each operand before the multiply —
    * the q_correlation discipline): a raw int64 Σcnt² wraps once any
    * label exceeds ≈ 3.04e9 members, inside the 100 TB envelope, and
    * the decimal sums exit through the same correctly-rounded
    * cast-to-double the raw-long version took implicitly. */
  def communityStrength(histogram: DataFrame, countCol: String = "cnt"): DataFrame = {
    def d38(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
    histogram.agg(
      (sum(d38(col(countCol)) * d38(col(countCol))).cast("double") /
        sum(col(countCol)).cast("double") / 100.0).as("strength"))
  }

  /** A15: collaborator adjacency table — per author the pipe-joined
    * sorted neighbor list + degree (visualisations.py:813-820). */
  def adjacencyTable(pairs: DataFrame, a: String = "a", b: String = "b"): DataFrame =
    pairs.select(col(a).as("author"), col(b).as("other"))
      .unionByName(pairs.select(col(b).as("author"), col(a).as("other")))
      .distinct()
      .groupBy("author")
      .agg(concat_ws(" | ", sort_array(collect_set(col("other")))).as("collaborators"),
        count(lit(1)).as("degree"))
}
