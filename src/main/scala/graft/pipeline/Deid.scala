package graft.pipeline

import graft.functions.gf
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The engine's flagship job: turns → redacted turns, designed for the
  * 10^12-turn case (SURVEY §4):
  *
  *  - the per-turn work is a single narrow projection (one custom expression
  *    per row) — embarrassingly parallel, no shuffle for compute;
  *  - the ONLY shuffles are (a) output clustering (conv_id-salted so a
  *    mega-conversation cannot pin one writer task) and (b) the metrics
  *    aggregation;
  *  - output rows are clustered and sorted `(conv_id, turn_idx)` within
  *    partitions for stable ordering (north rule O7);
  *  - resume-at-scale is handled by bucketed, lineage-tracked writes
  *    ([[graft.plans.CheckpointedRun]]).
  */
object Deid {

  /** CLI mode aliases (`main.py` + `__init__.py:150-157`): `black/blackbox/
    * redact/mask → blackbox`, `detect → detect`, else `replace`.
    */
  def normalizeCliMode(mode: String): String = {
    val m = Option(mode).getOrElse("").trim.toLowerCase
    if (m == "detect") "detect" else graft.redact.Redactor.normalizeMode(m)
  }

  /** Redact a turns table. Pure narrow transform — composable, unshuffled. */
  def redact(
      turns: DataFrame,
      mode: String = "replace",
      lang: String = "zh",
      withStub: Boolean = false,
      extractHtml: Boolean = true
  ): DataFrame =
    turns
      .withColumn("r", gf.deid(col("text"), mode, lang, withStub, extractHtml))
      .select(
        col("conv_id"),
        col("turn_idx"),
        col("r.text").as("text"),
        col("r.entities").as("entities"),
        col("r.events").as("events"),
        col("r.replacement_map").as("replacement_map")
      )

  /** Salted clustering + stable in-partition order for the write path.
    * Salt = turn_idx / saltBucket: a conversation larger than `saltBucket`
    * turns spreads across ceil(n/saltBucket) partitions while each partition
    * stays internally sorted by (conv_id, turn_idx).
    */
  def clusterForWrite(redacted: DataFrame, saltBucket: Int = 4096): DataFrame =
    redacted
      .repartition(col("conv_id"),
        floor(col("turn_idx").cast("long") / saltBucket))
      .sortWithinPartitions(col("conv_id"), col("turn_idx"))

  /** The free-text parquet leaves of a redacted table. Their values rarely
    * repeat within a row group, so dictionary encoding them costs write
    * time and saves little space; the enumerated leaves (`conv_id`, `typ`,
    * `source`, `language`, `entity_type`) keep their dictionaries.
    */
  val freeTextLeaves: Seq[String] = Seq(
    "text",
    "entities.list.element.text",
    "events.list.element.original",
    "events.list.element.replacement",
    "replacement_map.key_value.key",
    "replacement_map.key_value.value")

  /** End-to-end: read → redact → cluster → write, with per-run metrics.
    * Local/parquet layout; production swaps the writer for an Iceberg
    * catalog table (one-line change, see README).
    */
  def run(
      spark: SparkSession,
      turns: DataFrame,
      outPath: String,
      mode: String = "replace"
  ): Unit = {
    val redacted = redact(turns, mode)
    val noDictionary = freeTextLeaves.map(leaf => s"parquet.enable.dictionary#$leaf" -> "false")
    clusterForWrite(redacted).write.mode("overwrite").options(noDictionary.toMap)
      .parquet(outPath)
  }

  /** Per-type entity histogram over a redacted table (G9,
    * `quality.py:147-151,169`): counts per type ordered by (-count, type).
    */
  def entityHistogram(redacted: DataFrame): DataFrame =
    redacted
      .select(explode(col("entities")).as("e"))
      .groupBy(col("e.typ").as("typ"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(desc("cnt"), asc("typ"))

  /** Per-partition metrics rows — the Spark analogue of the reference's
    * `timings_ms`/artifacts (SURVEY §7.5). Cheap single groupBy.
    */
  def metrics(turns: DataFrame, redacted: DataFrame): DataFrame = {
    val in = turns.select(
      spark_partition_id().as("pid"),
      length(col("text")).as("chars_in"))
      .groupBy("pid")
      .agg(count(lit(1)).as("turns"), sum("chars_in").as("chars_in"))
    val out = redacted.select(
      spark_partition_id().as("pid"),
      length(col("text")).as("chars_out"),
      size(col("entities")).as("n_entities"))
      .groupBy("pid")
      .agg(sum("chars_out").as("chars_out"), sum("n_entities").as("entities"))
    in.join(out, Seq("pid"), "fullouter")
  }
}
