package graft

import graft.extract.HtmlExtract
import graft.pipeline.{Deid, DeidCore, TurnsGen}
import graft.plans.DeidBlockExec
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** `Deid.redact` in a session with `GraftExtensions` runs as a
  * [[DeidBlockExec]] over blocks of turns; each row must equal
  * `DeidCore.process` of its (extracted) text, and the row path of a
  * session without the extensions.
  */
class DeidBlockSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {

  private lazy val spark = SparkTestBase.spark
  private val B = DeidBlockExec.BlockTurns

  /** A session on the same context without `GraftExtensions`: the row path. */
  private lazy val plain: SparkSession = {
    val main = spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try SparkSession.builder().getOrCreate()
    finally {
      SparkSession.setDefaultSession(main)
      SparkSession.setActiveSession(main)
    }
  }

  private val special: Seq[String] = Seq(
    null,
    "",
    // three keys and repeated PII
    "ID A123456789, phone 0912345678, mail a.b@example.com; again A123456789 and 0912345678.",
    "王小明 的電話 0912-345-678，身分證 A123456789，住在台北市信義路1號，再說一次 0912-345-678",
    // supplementary-plane code points before and between spans
    "😀 ID A123456789 😀 電話0912345678 𠀋 email x@y.org 😀",
    "<html><body><p>ID A123456789</p><p>Call 0912345678 or 0912345678</p></body></html>",
    "<div>統一編號 12345678 護照 P12345678</div>",
    "SSN 123-45-6789, Mr. John Smith, phone (555) 123-4567, card 4111 1111 1111 1111",
    "nothing sensitive here")

  private val schema = StructType(Seq(
    StructField("conv_id", StringType), StructField("turn_idx", IntegerType),
    StructField("text", StringType)))

  /** Turns whose partitions hold exactly `sizes` rows: the special texts,
    * then fixture turns.
    */
  private def turns(sizes: Seq[Int]): DataFrame = {
    val fixture = TurnsGen.turns(spark, "/root/testdata/sf0.001").select("text")
      .limit(600).collect().map(_.getString(0))
    val texts = Iterator.continually(special ++ fixture).flatten
    val parts = sizes.zipWithIndex.map { case (n, p) =>
      (0 until n).map(i => Row(s"c$p", i, texts.next()))
    }
    val df = spark.createDataFrame(spark.sparkContext.parallelize(parts, parts.length)
      .flatMap(identity), schema)
    assert(df.rdd.glom().map(_.length).collect().toSeq == sizes)
    df
  }

  private def blockNodes(plan: SparkPlan): Seq[DeidBlockExec] =
    collect(plan) { case d: DeidBlockExec => d }

  private def rows(df: DataFrame): Map[(String, Int), Row] =
    df.withColumn("map_keys", map_keys(col("replacement_map"))).collect()
      .map(r => (r.getString(0), r.getInt(1)) -> r).toMap

  test("block path == DeidCore.process row by row, every mode, language and option") {
    val in = turns(Seq(0, 1, B - 1, B, B + 1))
    val byKey = in.collect().map(r => (r.getString(0), r.getInt(1)) -> r.getString(2)).toMap
    for {
      (mode, lang, withStub, extractHtml) <- Seq(
        ("replace", "zh", false, true), ("blackbox", "zh", false, true),
        ("replace", "en", false, true), ("blackbox", "en", true, true),
        ("replace", "zh", true, false), ("replace", "en", false, false))
    } {
      val out = Deid.redact(in, mode, lang, withStub, extractHtml)
      assert(blockNodes(out.queryExecution.executedPlan).length == 1)
      val got = rows(out)
      assert(got.size == byKey.size)
      byKey.foreach { case (k, raw) =>
        val r = got(k)
        val what = s"$mode/$lang/stub=$withStub/html=$extractHtml row $k: $raw"
        if (raw == null) {
          assert((2 to 6).forall(r.isNullAt), what)
        } else {
          val text = if (extractHtml && HtmlExtract.looksLikeHtml(raw)) HtmlExtract.getText(raw)
            else raw
          val want = DeidCore.process(text, mode, lang, withStub)
          assert(r.getString(2) == want.text, what)
          assert(r.getSeq[Row](3).map(e => (e.getString(0), e.getDouble(1), e.getDouble(2),
            e.getString(3), e.getString(4), e.getInt(5), e.getInt(6), e.getString(7))) ==
            want.entities.map(e => (e.typ, e.confidence, e.score, e.source, e.language,
              e.start, e.end, e.text)), what)
          assert(r.getSeq[Row](4).map(e => (e.getString(0), e.getString(1), e.getString(2),
            e.getInt(3), e.getInt(4), e.getString(5))) ==
            want.events.map(e => (e.entity_type, e.original, e.replacement, e.start, e.end,
              e.source)), what)
          assert(r.getSeq[String](6) == want.replacementMap.keys.toSeq, what)
          assert(r.getMap[String, String](5).toMap == want.replacementMap, what)
        }
      }
    }
    // the special texts carry three or more keys, repeats and placeholders
    val three = DeidCore.process(special(2))
    assert(three.replacementMap.size >= 3 && three.events.length > three.replacementMap.size)
  }

  test("a session without GraftExtensions keeps the row path with the same answers") {
    val in = turns(Seq(B + 1, 3))
    val path = s"${java.nio.file.Files.createTempDirectory("graft_deid_block")}/in"
    in.write.parquet(path)
    for (mode <- Seq("replace", "blackbox")) {
      val block = Deid.redact(spark.read.parquet(path), mode)
      val row = Deid.redact(plain.read.parquet(path), mode)
      assert(blockNodes(row.queryExecution.executedPlan).isEmpty)
      assert(blockNodes(block.queryExecution.executedPlan).length == 1)
      assert(rows(block).view.mapValues(_.toSeq).toMap == rows(row).view.mapValues(_.toSeq).toMap)
    }
  }

  test("block plan: no exchange, a pruned scan, the child's partitioning, the row path's schema") {
    val path = s"${java.nio.file.Files.createTempDirectory("graft_deid_plan")}/in"
    turns(Seq(5, 5)).withColumn("role", lit("user")).write.parquet(path)
    val block = Deid.redact(spark.read.parquet(path))
    val plan = block.queryExecution.executedPlan
    assert(blockNodes(plan).length == 1)
    assert(collect(plan) { case e: Exchange => e }.isEmpty, s"exchange in:\n$plan")
    assert(plan.toString.contains("ReadSchema: struct<conv_id:string,turn_idx:int,text:string>"),
      s"$plan")
    val row = Deid.redact(plain.read.parquet(path))
    assert(plan.schema == row.queryExecution.executedPlan.schema)
    assert(block.schema == row.schema)
    // SQL graft_deid takes the block path too
    spark.read.parquet(path).createOrReplaceTempView("deid_block_turns")
    val sql = spark.sql("SELECT graft_deid(text).text AS t, graft_deid(text, 'blackbox') AS b " +
      "FROM deid_block_turns")
    val node = blockNodes(sql.queryExecution.executedPlan)
    assert(node.length == 1 && node.head.deids.length == 2)
    assert(sql.count() == 10)
    // the block keeps its child's partitioning: an aggregate on the key the
    // input is clustered by adds no second exchange
    val agg = Deid.redact(spark.read.parquet(path).repartition(3, col("conv_id")))
      .groupBy("conv_id").count()
    agg.collect()
    assert(collect(agg.queryExecution.executedPlan) { case e: Exchange => e }.length == 1,
      s"${agg.queryExecution.executedPlan}")
  }

  test("a deid inside a lambda stays on the row path with the same answers") {
    turns(Seq(special.length)).createOrReplaceTempView("deid_lambda_turns")
    val df = spark.sql("SELECT conv_id, turn_idx, text, " +
      "graft_deid(text).text AS c, " +
      "transform(array(text, text), x -> graft_deid(x).text) AS a, " +
      "transform(array(1), i -> graft_deid(text).text) AS b, " +
      "transform(array(1), i -> graft_deid(text, 'blackbox').text) AS d " +
      "FROM deid_lambda_turns")
    val node = blockNodes(df.queryExecution.executedPlan)
    assert(node.length == 1 && node.head.deids.length == 1, s"${df.queryExecution.executedPlan}")
    val got = df.collect()
    assert(got.length == special.length)
    got.foreach { r =>
      val raw = r.getString(2)
      def deid(mode: String) =
        if (raw == null) null
        else DeidCore.process(if (HtmlExtract.looksLikeHtml(raw)) HtmlExtract.getText(raw)
          else raw, mode).text
      val what = String.valueOf(raw)
      assert(r.getString(3) == deid("replace"), what)
      assert(r.getSeq[String](4) == Seq(deid("replace"), deid("replace")), what)
      assert(r.getSeq[String](5) == Seq(deid("replace")), what)
      assert(r.getSeq[String](6) == Seq(deid("blackbox")), what)
    }
  }

  test("DeidBlockExec reports output rows, blocks, keys seeded and seeding time") {
    val sizes = Seq(0, B + 1, 7)
    val out = Deid.redact(turns(sizes))
    out.collect()
    val node = blockNodes(out.queryExecution.executedPlan).head
    val m = node.metrics
    assert(m("numOutputRows").value == sizes.sum)
    assert(m("numBlocks").value == sizes.map(n => (n + B - 1) / B).sum)
    assert(m("keysSeeded").value > 0 && m("seedTime").value > 0)
  }
}
