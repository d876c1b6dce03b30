package graft.metrics

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Aggregations / metrics (SURVEY §2.6) with the reference's exact formulas.
  */
object Metrics {

  /** G1 — `summarize_numbers` (`training/quality.py:10-23`, same formula at
    * `scripts/benchmark_pipeline.py:45-52`): min/max/mean, p50 =
    * `statistics.median` (midpoint interpolation for even n), p95 = the
    * LOWER nearest-rank `sorted[int(0.95*(n-1))]` — NOT `percentile_approx`.
    * Exact-by-construction: collect_list + sort; promote to a sketch only
    * for report-grade numbers, never parity-checked ones.
    */
  def summarizeNumbers(
      df: DataFrame,
      valueCol: String,
      groupCols: Seq[String],
      maxExactGroupRows: Long = 50_000_000L): DataFrame = {
    val sorted = sort_array(collect_list(col(valueCol).cast("double")))
    val base = if (groupCols.isEmpty) df.groupBy() else df.groupBy(groupCols.map(col): _*)
    // n=0 (global agg over an empty frame) mirrors summarize_numbers' empty
    // contract: all-zeros dict — and must not index sorted[0] (ANSI throws).
    def z(c: Column): Column = when(col("n") === 0, lit(0.0d)).otherwise(c)
    // collect_list puts a whole group on one task's heap: refuse loudly past
    // the bound instead of OOMing an executor — report-grade numbers at that
    // scale belong to [[summarizeNumbersApprox]] (the sketch promotion path).
    val guard = assert_true(col("n") <= lit(maxExactGroupRows),
      lit(s"summarizeNumbers: group exceeds exact-percentile bound " +
        s"$maxExactGroupRows rows; use summarizeNumbersApprox")).cast("double")
    base
      .agg(sorted.as("sorted"), count(col(valueCol)).as("n"))
      .withColumn("min", coalesce(guard, z(element_at(col("sorted"), 1))))
      .withColumn("max", z(element_at(col("sorted"), -1)))
      .withColumn("mean", z(aggregate(col("sorted"), lit(0.0d), (a, x) => a + x) / col("n")))
      .withColumn("p50",
        z(when(col("n") % 2 === 1, element_at(col("sorted"), (col("n") / 2 + 1).cast("int")))
          .otherwise((element_at(col("sorted"), (col("n") / 2).cast("int"))
            + element_at(col("sorted"), (col("n") / 2 + 1).cast("int"))) / 2.0)))
      .withColumn("p95",
        z(element_at(col("sorted"), floor(lit(0.95) * (col("n") - 1)).cast("int") + 1)))
      .drop("sorted")
  }

  /** G1 at report scale — same output shape as [[summarizeNumbers]] but
    * sketch-based (`percentile_approx`, partial-aggregated map-side): no
    * per-group heap materialization, safe for billion-row groups. NOT
    * parity-exact (p50 is nearest-rank, not midpoint; p95 is the sketch's
    * answer) — never use where the reference's formula is being matched.
    */
  def summarizeNumbersApprox(
      df: DataFrame,
      valueCol: String,
      groupCols: Seq[String],
      accuracy: Int = 10000): DataFrame = {
    val v = col(valueCol).cast("double")
    val base = if (groupCols.isEmpty) df.groupBy() else df.groupBy(groupCols.map(col): _*)
    def z(c: Column): Column = when(col("n") === 0, lit(0.0d)).otherwise(coalesce(c, lit(0.0d)))
    base
      .agg(count(v).as("n"), min(v).as("min_"), max(v).as("max_"), avg(v).as("mean_"),
        percentile_approx(v, lit(0.5), lit(accuracy)).as("p50_"),
        percentile_approx(v, lit(0.95), lit(accuracy)).as("p95_"))
      .withColumn("min", z(col("min_"))).withColumn("max", z(col("max_")))
      .withColumn("mean", z(col("mean_")))
      .withColumn("p50", z(col("p50_"))).withColumn("p95", z(col("p95_")))
      .drop("min_", "max_", "mean_", "p50_", "p95_")
  }

  /** EXACT quantiles at UNBOUNDED scale — the third leg beside
    * [[summarizeNumbers]] (exact, per-group heap, fail-loud row bound) and
    * [[summarizeNumbersApprox]] (sketch, not exact): [[Rank.select]] over
    * an integer column, so a column of at most 2^20 rows is one in-buffer
    * aggregation and a larger one a counting bisection — O(log range)
    * partial-aggregated count passes, no sort, no heap, all requested
    * ranks bisecting in the same passes.
    *
    * Rank convention: lower nearest-rank `k = floor(q·(n−1)) + 1` — the
    * reference's p95 formula (`training/quality.py:10-23`), so answers are
    * actual data values and a DuckDB `row_number()` oracle replays them
    * exactly. Empty input → one row with n=0 and null quantiles.
    */
  def exactQuantiles(
      df: DataFrame,
      valueCol: String,
      qs: Seq[Double] = Seq(0.5, 0.9, 0.95, 0.99)
  ): DataFrame = {
    val ranks = Rank.select(df.withColumn("rank_all", lit(0)), "rank_all",
      Seq(col(valueCol)), nearestRanks(qs))
    // a global aggregate over the at most one group row: exactly one row
    ranks.agg(coalesce(max("n"), lit(0L)).as("n"), quantileCols(qs).map(c => max(c)): _*)
      .toDF("n" +: qs.map(quantileName): _*)
  }

  /** Grouped [[exactQuantiles]]: exact per-group order statistics with
    * UNBOUNDED group sizes — the shape [[summarizeNumbers]]'s fail-loud
    * guard refuses. Only groups above 2^20 rows bisect; the rest are one
    * in-buffer aggregation. Driver state is bounded by `maxGroups`: the
    * group must be a reporting dimension (sources, languages).
    *
    * Output: one row per group — the group, n, and a value column per
    * quantile (lower nearest-rank, as [[exactQuantiles]]).
    */
  def groupedQuantiles(
      df: DataFrame,
      groupCol: String,
      valueCol: String,
      qs: Seq[Double] = Seq(0.5, 0.95),
      maxGroups: Int = 100000
  ): DataFrame =
    Rank.select(df, groupCol, Seq(col(valueCol)), nearestRanks(qs), maxGroups)
      .select(col(groupCol) +: col("n") +: quantileCols(qs): _*)
      .toDF(groupCol +: "n" +: qs.map(quantileName): _*)

  private def nearestRanks(qs: Seq[Double]): Long => Seq[Long] = {
    require(qs.nonEmpty && qs.forall(q => q >= 0.0 && q <= 1.0),
      s"quantiles must be in [0,1], got $qs")
    n => qs.map(q => math.floor(q * (n - 1)).toLong + 1L)
  }

  private def quantileCols(qs: Seq[Double]): Seq[Column] =
    qs.indices.map(i => element_at(col("ranks"), i + 1).getField("k0"))

  // from integer per-mille (q·100 in double is not exact: 0.95·100 =
  // 94.999…): p50, p95, p99, p99_9
  private def quantileName(q: Double): String = {
    val pm = math.round(q * 1000)
    if (pm % 10 == 0) s"p${pm / 10}" else s"p${pm / 10}_${pm % 10}"
  }

  /** G5 — `TYPE_PATTERNS` (`training/deid_eval.py:99-112`), as Spark regex
    * strings (Java syntax; these 13 are portable as-is).
    */
  val typePatterns: Map[String, String] = Map(
    "EMAIL" -> "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}",
    "PHONE" -> "(?:\\+?\\d{1,3}[-\\s]?)?(?:0?9\\d{8}|\\d{2,4}[-\\s]?\\d{3,4}[-\\s]?\\d{3,4})",
    "ID" -> "[A-Z][12]\\d{8}",
    "UNIFIED_BUSINESS_NO" -> "\\b\\d{8}\\b",
    "BANK_ACCOUNT" -> "\\b\\d{10,20}\\b",
    "CREDIT_CARD" -> "\\b(?:\\d[ -]*?){13,19}\\b",
    "LICENSE_PLATE" -> "\\b[A-Z]{2,3}-?\\d{3,4}\\b",
    "PASSPORT" -> "\\b[A-Z]{1,2}\\d{7,8}\\b",
    "MEDICAL_ID" -> "\\bM\\d{7}\\b",
    "URL" -> "https?://[^\\s]+",
    "IP_ADDRESS" -> "\\b(?:\\d{1,3}\\.){3}\\d{1,3}\\b",
    "DATE" -> "\\b\\d{4}[-/]\\d{1,2}[-/]\\d{1,2}\\b"
  )

  /** G5 count of one type's pattern in a text column. */
  def countTypeMatches(textCol: Column, piiType: String): Column =
    typePatterns.get(piiType) match {
      case Some(p) => regexp_count(textCol, lit(p))
      case None => lit(0)
    }

  /** G3 — `compute_pii_removal_recall` (`deid_eval.py:122-137`): counts of
    * values absent (substring) from the prediction. Integers; recall =
    * removed/total is left to the caller.
    */
  def piiRemoved(valuesCol: Column, predictionCol: Column): Column =
    size(filter(valuesCol, v => length(v) > 0 && !contains(predictionCol, v)))

  /** G6 — `check_format_compliance` (`deid_eval.py:180-206`): prompt
    * separators, leftover markup, caller-provided banned phrases; empty text
    * is non-compliant.
    */
  def formatCompliant(predictionCol: Column, bannedPhrases: Seq[String] = Nil): Column = {
    // Python str.strip() strips all Unicode whitespace; SQL trim() strips
    // only ASCII spaces — '\n' / '\t' / NBSP would be judged non-empty here
    // but '<EMPTY>' by the reference (deid_eval.py:182).
    val lowered = lower(regexp_replace(predictionCol, "(?U)^\\s+|\\s+$", ""))
    val separators = Seq("input:", "output:", "analysis:", "explanation:", "step", "reason:")
    val allNeedles = separators ++ bannedPhrases.map(_.trim.toLowerCase).filter(_.nonEmpty)
    val anyNeedle = allNeedles.map(n => contains(lowered, lit(n)))
      .reduce(_ || _)
    val markup = contains(lowered, lit("<pii")) || contains(lowered, lit("[/"))
    (length(lowered) > 0) && !anyNeedle && !markup
  }

  /** G7 — `repetition_3gram_rate` (`deid_eval.py:257-268`): char 3-grams,
    * repeated-gram mass / total grams. Built-ins only: explode-free via
    * transform + grouping inside the row would be awkward; a compact
    * approach uses the custom expression in [[graft.functions.gf.rep3gram]].
    */
  def repetition3gramRate(textCol: Column): Column =
    graft.functions.gf.rep3gram(textCol)

  /** G2 — `validate_span_example` (`training/quality.py:37-108`) issue kinds
    * per row over (text, entities array<struct<typ,start,end,text>>).
    * Returns an array of issue-kind strings (the reference's dict payloads
    * reduced to kinds; `analyze` only aggregates kinds).
    */
  def validateIssues(textCol: Column, entitiesCol: Column): Column = {
    val n = length(textCol)
    val missing = transform(
      filter(entitiesCol, e => e.getField("typ").isNull || e.getField("typ") === ""),
      _ => lit("missing_type"))
    // null/malformed span → invalid_span, and the entity is excluded from
    // every later check (the reference's `continue`, quality.py:50-52)
    val invalid = transform(
      filter(entitiesCol, e =>
        e.getField("start").isNull || e.getField("end").isNull),
      _ => lit("invalid_span"))
    val spanned = filter(entitiesCol, e =>
      e.getField("start").isNotNull && e.getField("end").isNotNull)
    val oob = transform(
      filter(spanned, e =>
        e.getField("start") < 0 || e.getField("end") < 0 ||
          e.getField("start") > n || e.getField("end") > n),
      _ => lit("span_out_of_bounds"))
    val inBounds = filter(spanned, e =>
      e.getField("start") >= 0 && e.getField("end") >= 0 &&
        e.getField("start") <= n && e.getField("end") <= n)
    val empty = transform(
      filter(inBounds, e => e.getField("start") >= e.getField("end")),
      _ => lit("empty_span"))
    val valid = filter(inBounds, e => e.getField("start") < e.getField("end"))
    // substring with dynamic start: substr(col, start+1, end-start)
    val mismatch = transform(
      filter(valid, e => e.getField("text").isNotNull &&
        e.getField("text") =!= textCol.substr(e.getField("start") + 1,
          e.getField("end") - e.getField("start"))),
      _ => lit("text_mismatch"))
    val sortedSpans = array_sort(transform(valid, e =>
      struct(e.getField("start").as("s"), e.getField("end").as("e"))))
    val overlaps = filter(
      zip_with(sortedSpans, slice(sortedSpans, lit(2), greatest(size(sortedSpans) - 1, lit(0))),
        (a, b) => b.isNotNull && b.getField("s") < a.getField("e")),
      x => x)
    concat(missing, invalid, oob, empty, mismatch,
      transform(overlaps, _ => lit("overlap")))
  }

  /** G2 analyze — issue-kind counts ordered by (-count, kind)
    * (`quality.py:168`), plus G9-style entity-type histogram.
    */
  def issueHistogram(df: DataFrame, textCol: String, entitiesCol: String): DataFrame =
    df.select(explode(validateIssues(col(textCol), col(entitiesCol))).as("kind"))
      .groupBy("kind").agg(count(lit(1)).as("cnt"))
      .orderBy(desc("cnt"), asc("kind"))

  /** G8 — `aggregate_reports` (`deid_eval.py:307-337`) over a per-example
    * report table with integer facet columns. Extra aggregates (e.g. the
    * G4 similarity mean) fold into the SAME single-scan `.agg` — two
    * separate aggregations over the same per-turn plan cannot share their
    * partial-agg exchanges, so a crossJoin of two aggs executes the
    * expensive upstream (full redaction + difflib ratio) twice.
    */
  def aggregateReports(reports: DataFrame, extra: Column*): DataFrame = {
    val base = Seq(
      count(lit(1)).as("count"),
      avg(when(col("pii_total") > 0,
        col("pii_removed").cast("double") / col("pii_total")).otherwise(1.0))
        .as("pii_removal_recall"),
      sum("pii_total").as("pii_total"),
      sum(col("pii_total") - col("pii_removed")).as("pii_leak_count"),
      (sum(col("pii_total") - col("pii_removed")).cast("double") /
        greatest(sum("pii_total"), lit(1)).cast("double")).as("pii_leak_rate"),
      avg(col("repetition_3gram_rate")).as("repetition_3gram_rate"),
      avg(col("format_compliant").cast("double")).as("format_compliance_rate")
    )
    reports.agg(base.head, (base.tail ++ extra): _*)
  }
}
