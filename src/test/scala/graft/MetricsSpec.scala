package graft

import com.fasterxml.jackson.databind.ObjectMapper
import graft.functions.gf
import graft.metrics.Metrics
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

class MetricsSpec extends AnyFunSuite {

  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private val root = {
    val in = getClass.getResourceAsStream("/golden_metrics.json")
    require(in != null)
    try new ObjectMapper().readTree(in) finally in.close()
  }

  test("G1 summarize_numbers parity (min/max/mean/median/p95 lower rank)") {
    root.get("summaries").elements().asScala.foreach { c =>
      val values = c.get("values").elements().asScala.map(_.asDouble()).toSeq
      if (values.nonEmpty) {
        val df = values.toDF("x")
        val r = Metrics.summarizeNumbers(df, "x", Nil).collect().head
        val w = c.get("summary")
        assert(r.getAs[Double]("min") == w.get("min").asDouble())
        assert(r.getAs[Double]("max") == w.get("max").asDouble())
        assert(math.abs(r.getAs[Double]("mean") - w.get("mean").asDouble()) < 1e-12)
        assert(r.getAs[Double]("p50") == w.get("p50").asDouble(), s"p50 for $values")
        assert(r.getAs[Double]("p95") == w.get("p95").asDouble(), s"p95 for $values")
      }
    }
  }

  test("G1 giant-group guard trips past maxExactGroupRows; parity path unchanged") {
    val df = (1 to 100).map(_.toDouble).toDF("x")
    // under the bound: identical result to the unguarded path
    val ok = Metrics.summarizeNumbers(df, "x", Nil, maxExactGroupRows = 100).collect().head
    assert(ok.getAs[Double]("p50") == 50.5 && ok.getAs[Double]("max") == 100.0)
    // over the bound: refuses loudly instead of materializing the group
    val e = intercept[Exception] {
      Metrics.summarizeNumbers(df, "x", Nil, maxExactGroupRows = 99).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(e).exists(_.contains("summarizeNumbersApprox")), e.getMessage)
  }

  test("G1 approx variant: same shape, sketch values within tolerance") {
    val df = (1 to 1000).map(_.toDouble).toDF("x")
    val r = Metrics.summarizeNumbersApprox(df, "x", Nil).collect().head
    assert(r.getAs[Long]("n") == 1000L)
    assert(r.getAs[Double]("min") == 1.0 && r.getAs[Double]("max") == 1000.0)
    assert(math.abs(r.getAs[Double]("mean") - 500.5) < 1e-9)
    assert(math.abs(r.getAs[Double]("p50") - 500.0) <= 1.0)
    assert(math.abs(r.getAs[Double]("p95") - 950.0) <= 2.0)
    // empty input keeps the all-zeros contract
    val z = Metrics.summarizeNumbersApprox(df.where(lit(false)), "x", Nil).collect().head
    assert(z.getAs[Long]("n") == 0L && z.getAs[Double]("p95") == 0.0)
  }

  test("G7 repetition_3gram_rate parity") {
    root.get("rep3gram").elements().asScala.foreach { c =>
      val text = c.get("text").asText()
      val got = Seq(text).toDF("t").select(gf.rep3gram($"t")).first().getDouble(0)
      assert(got == c.get("rate").asDouble(), s"text=$text got=$got")
    }
  }

  test("G6 format compliance parity") {
    root.get("compliance").elements().asScala.foreach { c =>
      val text = c.get("text").asText()
      val got = Seq(text).toDF("t")
        .select(Metrics.formatCompliant($"t", Seq("banned phrase"))).first().getBoolean(0)
      assert(got == c.get("ok").asBoolean(), s"text=$text")
    }
  }

  test("G3 pii removal recall parity (removed/total counts)") {
    root.get("recall").elements().asScala.foreach { c =>
      val values = c.get("values").elements().asScala.map(_.asText()).toSeq
      val pred = c.get("pred").asText()
      val wantRemoved = c.get("result").get(1).asInt()
      val got = Seq((values, pred)).toDF("values", "pred")
        .select(Metrics.piiRemoved($"values", $"pred")).first().getInt(0)
      assert(got == wantRemoved, s"values=$values pred=$pred got=$got")
    }
  }

  test("G5 type consistency counts via TYPE_PATTERNS") {
    // details from the reference: expected vs found per type
    val pred = root.get("type_consistency").get("pred").asText()
    val details = root.get("type_consistency").get("details")
    details.properties().asScala.foreach { e =>
      val typ = e.getKey
      val found = e.getValue.get("found").asInt()
      val got = Seq(pred).toDF("t")
        .select(Metrics.countTypeMatches($"t", typ)).first().getInt(0)
      assert(got == found, s"type=$typ")
    }
  }

  test("G2 validate issue kinds parity") {
    root.get("validate").elements().asScala.foreach { c =>
      val text = c.get("text").asText()
      val ents = c.get("entities").elements().asScala.map { e =>
        val span = Option(e.get("span")).filterNot(_.isNull)
        val t = Option(e.get("type")).filterNot(_.isNull).map(_.asText()).orNull
        val txt = Option(e.get("text")).filterNot(_.isNull).map(_.asText()).orNull
        (t,
          span.map(_.get(0).asInt()).getOrElse(-999),
          span.map(_.get(1).asInt()).getOrElse(-999),
          txt)
      }.toSeq
      // reference: span=None -> invalid_span; we model missing spans as a
      // sentinel that lands out-of-bounds, so compare kind multisets with
      // invalid_span≈span_out_of_bounds merged
      val wantKinds = c.get("kinds").elements().asScala.map(_.asText())
        .map(k => if (k == "invalid_span") "span_out_of_bounds" else k)
        .toSeq.sorted
      val df = Seq((text, ents)).toDF("text", "entities")
      val got = df.select(Metrics.validateIssues($"text",
        $"entities".cast("array<struct<typ:string,start:int,end:int,text:string>>"))
        .as("issues")).first().getAs[scala.collection.Seq[String]]("issues")
      assert(got.sorted.toSeq == wantKinds, s"text=$text got=$got want=$wantKinds")
    }
  }
  /** The quantile wrappers' other side of the size gate: the same
    * lower nearest-rank ranks through [[graft.metrics.Rank.select]] with
    * every group forced onto the counting bisection. Group -> (n, values).
    */
  private def bisected(df: org.apache.spark.sql.DataFrame, groupCol: String,
      valueCol: String, qs: Seq[Double], maxGroups: Int = 100000) =
    graft.plans.Gate.overriding("Rank.select" -> 0L)(
      graft.metrics.Rank.select(df, groupCol, Seq(col(valueCol)),
        n => qs.map(q => math.floor(q * (n - 1)).toLong + 1L), maxGroups).collect())
      .map(r => r.get(0) ->
        ((r.getLong(1), r.getSeq[org.apache.spark.sql.Row](2).map(_.getLong(0)))))
      .toMap

  test("exactQuantiles: matches sort-based order statistics; edges covered") {
    // duplicates, negatives, n not a power of two
    val vals = Seq(5L, -3L, 7L, 7L, 7L, 0L, -3L, 12L, 1L, 5L, 5L)
    val df = vals.toDF("x")
    val qs = Seq(0.0, 0.5, 0.95, 1.0)
    val got = Metrics.exactQuantiles(df, "x", qs).first()
    val sorted = vals.sorted
    def want(q: Double) = sorted(math.floor(q * (vals.size - 1)).toInt)
    assert(got.getLong(0) == vals.size)
    assert(got.getLong(1) == want(0.0) && got.getLong(2) == want(0.5))
    assert(got.getLong(3) == want(0.95) && got.getLong(4) == want(1.0))
    assert(got.schema.fieldNames.toSeq == Seq("n", "p0", "p50", "p95", "p100"))
    assert(bisected(df.withColumn("g", lit(0)), "g", "x", qs) ==
      Map(0 -> ((vals.size.toLong, qs.map(want)))))
    // n = 1: every quantile is the single value
    val one = Metrics.exactQuantiles(Seq(42L).toDF("x"), "x", Seq(0.5, 0.99)).first()
    assert(one.getLong(0) == 1L && one.getLong(1) == 42L && one.getLong(2) == 42L)
    assert(bisected(Seq((0, 42L)).toDF("g", "x"), "g", "x", Seq(0.5, 0.99)) ==
      Map(0 -> ((1L, Seq(42L, 42L)))))
    // empty (and all-null) input: n=0, null quantiles - no crash, no index
    val empty = Metrics.exactQuantiles(
      Seq.empty[Option[Long]].toDF("x"), "x", Seq(0.5)).first()
    assert(empty.getLong(0) == 0L && empty.isNullAt(1))
    val allNull = Metrics.exactQuantiles(
      Seq[Option[Long]](None, None).toDF("x"), "x", Seq(0.5)).first()
    assert(allNull.getLong(0) == 0L && allNull.isNullAt(1))
    assert(bisected(Seq[(Int, Option[Long])]((0, None)).toDF("g", "x"), "g", "x",
      Seq(0.5)).isEmpty)
    // agreement with the bounded exact path's p95 on real data (same
    // lower-nearest-rank convention)
    val chars = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val b = Metrics.exactQuantiles(chars, "n_chars", Seq(0.95)).first()
    val viaSort = Metrics.summarizeNumbers(chars, "n_chars", Seq.empty)
      .first().getAs[Double]("p95")
    assert(b.getLong(1).toDouble == viaSort)
    assert(bisected(chars.withColumn("g", lit(0)), "g", "n_chars", Seq(0.95))(0)._2 ==
      Seq(b.getLong(1)))
    intercept[IllegalArgumentException] {
      Metrics.exactQuantiles(chars, "n_chars", Seq(1.5))
    }
  }

  test("groupedQuantiles: sort-equality on both gate sides, group guard") {
    // groups with wildly different ranges and sizes converge independently
    val rows = Seq(
      ("a", 1L), ("a", 1000000L), ("a", 3L), ("a", 3L), ("a", 7L),
      ("b", -5L), ("b", -5L), ("b", -5L),
      ("c", 42L))
    val df = rows.toDF("g", "x")
    val got = Metrics.groupedQuantiles(df, "g", "x", Seq(0.5, 0.95))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val viaBisection = bisected(df, "g", "x", Seq(0.5, 0.95))
    def want(g: String, q: Double) = {
      val vs = rows.filter(_._1 == g).map(_._2).sorted
      vs(math.floor(q * (vs.size - 1)).toInt)
    }
    rows.map(_._1).distinct.foreach { g =>
      val n = rows.count(_._1 == g).toLong
      assert(got(g) == ((n, want(g, 0.5), want(g, 0.95))), s"group $g")
      assert(viaBisection(g) == ((n, Seq(want(g, 0.5), want(g, 0.95)))), s"group $g")
    }
    assert(viaBisection.size == 3)
    // bounded driver-state contract: refuse loudly past maxGroups
    val e = intercept[IllegalArgumentException] {
      Metrics.groupedQuantiles(df, "g", "x", Seq(0.5), maxGroups = 2)
    }
    assert(e.getMessage.contains("maxGroups"), e.getMessage)
    val e0 = intercept[IllegalArgumentException] {
      bisected(df, "g", "x", Seq(0.5), maxGroups = 2)
    }
    assert(e0.getMessage.contains("maxGroups"), e0.getMessage)
  }

}
