package graft

import graft.extract.HtmlExtract
import graft.functions.gf
import graft.pipeline.{Deid, DeidCore, TurnsGen}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class SparkPipelineSpec extends AnyFunSuite {

  private lazy val spark = SparkTestBase.spark
  private val sfDir = "/root/testdata/sf0.001"

  test("turns table is deterministic and well-shaped") {
    val t = TurnsGen.turns(spark, sfDir)
    assert(t.columns.toSeq ==
      Seq("conv_id", "turn_idx", "role", "text", "tool", "ts"))
    val n = t.count()
    val orders = spark.read.parquet(s"$sfDir/orders.parquet").count()
    assert(n == orders * 3)
    // deterministic across evaluations
    assert(t.selectExpr("sum(hash(conv_id, turn_idx, text))").first().getLong(0) ==
      TurnsGen.turns(spark, sfDir)
        .selectExpr("sum(hash(conv_id, turn_idx, text))").first().getLong(0))
  }

  test("Spark redact matches DeidCore row-by-row (incl. html rows)") {
    val t = TurnsGen.turns(spark, sfDir).limit(400)
    val rows = Deid.redact(t)
      .join(t.select(col("conv_id"), col("turn_idx"), col("text").as("orig")),
        Seq("conv_id", "turn_idx"))
      .collect()
    assert(rows.length == 400)
    rows.foreach { r =>
      val orig = r.getAs[String]("orig")
      val extracted =
        if (HtmlExtract.looksLikeHtml(orig)) HtmlExtract.getText(orig) else orig
      val want = DeidCore.process(extracted, mode = "replace", lang = "zh")
      assert(r.getAs[String]("text") == want.text, s"text mismatch for $orig")
      val ents = r.getAs[scala.collection.Seq[Row]]("entities")
      assert(ents.length == want.entities.length)
      ents.zip(want.entities).foreach { case (g, w) =>
        assert(g.getAs[String]("typ") == w.typ && g.getAs[Int]("start") == w.start
          && g.getAs[Int]("end") == w.end && g.getAs[String]("text") == w.text)
      }
      val evs = r.getAs[scala.collection.Seq[Row]]("events")
      assert(evs.length == want.events.length)
      evs.zip(want.events).foreach { case (g, w) =>
        assert(g.getAs[String]("original") == w.original
          && g.getAs[String]("replacement") == w.replacement)
      }
      assert(r.getAs[scala.collection.Map[String, String]]("replacement_map").toMap ==
        want.replacementMap)
    }
  }

  test("blackbox mode preserves text length (cp) on non-html rows") {
    val t = TurnsGen.turns(spark, sfDir)
      .where(not(col("text").contains("<html")))
    val bad = Deid.redact(t, mode = "blackbox")
      .join(t.select(col("conv_id"), col("turn_idx"),
        length(col("text")).as("len_in")), Seq("conv_id", "turn_idx"))
      .where(length(col("text")) =!= col("len_in"))
      .count()
    assert(bad == 0)
    // blackbox emits no events / empty map (reference event filter semantics)
    val withEvents = Deid.redact(t.limit(50), mode = "blackbox")
      .where(size(col("events")) > 0 || size(map_keys(col("replacement_map"))) > 0)
      .count()
    assert(withEvents == 0)
  }

  test("SQL function registration via GraftExtensions") {
    TurnsGen.turns(spark, sfDir).createOrReplaceTempView("turns_v")
    val df = spark.sql(
      """SELECT conv_id, turn_idx, graft_deid(text).text AS clean,
        |       size(graft_regex_detect(text)) AS n_ents,
        |       graft_html_text('<p>a</p><p>b</p>') AS ht
        |FROM turns_v LIMIT 5""".stripMargin)
    assert(df.count() == 5)
    assert(df.select("ht").first().getString(0) == "a\nb")
    // the general PDF rewriter is SQL-reachable too
    val pdf = spark.sql(
      "SELECT graft_pdf_rewrite(graft_pdf_synth('id A123456789 here')) AS r")
      .select("r.n_rects", "r.text").first()
    assert(pdf.getInt(0) >= 1 && !pdf.getString(1).contains("A123456789"))
    // round-4 promotions: training dataflow + anchors on the SQL surface
    val mk = spark.sql(
      "SELECT graft_pii_markup(\"<PII type='ID'>A123456789</PII>\")[0] AS b")
      .select("b.pii_type", "b.value").first()
    assert(mk.getString(0) == "ID" && mk.getString(1) == "A123456789")
    val mp = spark.sql(
      "SELECT graft_masked_pair('id A123456789 x', graft_placeholderize('id A123456789 x'))[0] AS e")
      .select("e.typ", "e.text").first()
    assert(mp.getString(0) == "ID" && mp.getString(1) == "A123456789")
    val an = spark.sql(
      "SELECT graft_csv_anchored_detect(concat('id,phone', chr(10), 'A123456789,0912-345-678'))[0] AS a")
      .select("a.typ", "a.address").first()
    assert(an.getString(0) == "ID" && an.getString(1).startsWith("R2C"))
    assert(spark.sql("SELECT graft_canonical_type('EMAIL_1') AS c")
      .first().getString(0) == "EMAIL")
    val tw = spark.sql(
      "SELECT graft_token_windows('a b c d', 3) AS w").first().getSeq[Any](0)
    assert(tw.length == 2) // windows [a b c], [b c d]
    val shg = spark.sql(
      "SELECT graft_shingles('The quick Brown fox', 3) AS s")
      .first().getSeq[String](0)
    assert(shg == Seq("the quick brown", "quick brown fox"))
    // PQ codes on the SQL surface: fixed codebook, library parity
    val pq = spark.sql(
      "SELECT graft_pq_encode(array_repeat(CAST(0.5 AS FLOAT), 64), 8, 16, 8) AS c")
      .first().getSeq[Int](0)
    val lib = graft.ops.Pq.encode(
        spark.sql("SELECT 1L AS vec_id, array_repeat(CAST(0.5 AS FLOAT), 64) AS embedding"),
        graft.ops.Pq.fixedCodebook())
      .first().getSeq[Int](1)
    assert(pq == lib && pq.length == 8)
  }

  test("same original + same conv text => identical replacement; different turn text => different") {
    // turn 0 and turn 2 of consecutive orders share PII values but differ in
    // context hash ⇒ replacements differ across turns, constant within turn.
    val sql = spark.sql(
      "SELECT graft_deid('Call 0912345678 or 0912345678 again').replacement_map AS m")
    val m = sql.first().getAs[Map[String, String]]("m")
    assert(m.size == 1) // one key PHONE:0912345678
    val other = spark.sql(
      "SELECT graft_deid('Different context. Call 0912345678.').replacement_map AS m")
      .first().getAs[Map[String, String]]("m")
    assert(other.keySet == m.keySet)
    assert(other.values.head != m.values.head)
  }

  test("oracle scale-domain: prefix detections at wide order keys match the modeled SQL") {
    import graft.pipeline.DeidCore
    // zh: the UBN rule (\d{8}, unanchored) fires on 8-15-digit keys, once,
    // on the FIRST 8 digits, at the key's offset in the prefix
    Seq("12345678", "123456789", "123456789012345").foreach { key =>
      val text = s"turn 1 of order $key: Nothing sensitive in this routine confirmation turn."
      val ents = DeidCore.detect(text, "zh", withStub = false)
      assert(ents.length == 1, s"zh key=$key -> ${ents.toSeq}")
      val e = ents.head
      assert(e.typ == "UNIFIED_BUSINESS_NO")
      assert(e.start == "turn 1 of order ".length && e.end == e.start + 8)
    }
    // zh: 7-digit keys (max at sf1) detect nothing in the prefix
    assert(DeidCore.detect(
      "turn 1 of order 1234567: Nothing sensitive in this routine confirmation turn.",
      "zh", withStub = false).isEmpty)
    // en, per key width (the oracle's exact per-width model):
    //  6-9 and 12 digits, and 11 digits not starting '1' -> MEDICAL_ID;
    //  10 digits and '1'-leading 11 digits -> PHONE (outranks MEDICAL_ID);
    //  13+ -> nothing (no \b-bounded 6-12 window inside a longer run)
    def one(key: String): Seq[(String, Int, Int)] =
      DeidCore.detect(s"turn 1 of order $key: ok.", "en", withStub = false)
        .map(e => (e.typ, e.start, e.end)).toSeq
    val p = "turn 1 of order ".length
    Seq("123456", "123456789", "23456789012", "234567890123").foreach { key =>
      assert(one(key) == Seq(("MEDICAL_ID", p, p + key.length)),
        s"en key=$key -> ${one(key)}")
    }
    Seq("2345678901", "12345678901").foreach { key =>
      assert(one(key) == Seq(("PHONE", p, p + key.length)),
        s"en key=$key -> ${one(key)}")
    }
    assert(one("2345678901234").isEmpty, s"13-digit -> ${one("2345678901234")}")
  }

  test("entity histogram is deterministic and ordered by (-count, type)") {
    val t = TurnsGen.turns(spark, sfDir)
    val h = Deid.entityHistogram(Deid.redact(t)).collect()
    assert(h.nonEmpty)
    val counts = h.map(r => (r.getAs[Long]("cnt"), r.getAs[String]("typ")))
    val sorted = counts.sortBy { case (c, t2) => (-c, t2) }
    assert(counts.toSeq == sorted.toSeq)
  }

  test("redact plan is a narrow projection over the scan (no shuffle exchange)") {
    // the 3-row VALUES explode uses a BroadcastNestedLoopJoin (fine); the
    // per-turn work itself must introduce no shuffle.
    val plan = Deid.redact(TurnsGen.turns(spark, sfDir))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning") &&
      !plan.contains("Exchange rangepartitioning") &&
      !plan.contains("Exchange RoundRobinPartitioning"),
      s"unexpected shuffle in:\n$plan")
  }

  test("Deid.run writes the free-text leaves without dictionaries") {
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import scala.jdk.CollectionConverters._
    val out = s"${java.nio.file.Files.createTempDirectory("graft_deid_run")}/out"
    Deid.run(spark, TurnsGen.turns(spark, sfDir).limit(300), out)
    val conf = spark.sparkContext.hadoopConfiguration
    val files = new java.io.File(out).listFiles().filter(_.getName.endsWith(".parquet"))
    val dictionary = files.toSeq.flatMap { f =>
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(f.getPath), conf))
      try reader.getFooter.getBlocks.asScala.flatMap(_.getColumns.asScala).map { c =>
        c.getPath.toDotString -> c.getEncodings.asScala.exists(_.usesDictionary)
      } finally reader.close()
    }.groupBy(_._1).view.mapValues(_.exists(_._2)).toMap
    Deid.freeTextLeaves.foreach(leaf => assert(dictionary.get(leaf).contains(false), leaf))
    Seq("conv_id", "entities.list.element.typ", "events.list.element.entity_type")
      .foreach(leaf => assert(dictionary.get(leaf).contains(true), leaf))
  }
}
