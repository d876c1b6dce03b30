package graft

import graft.metrics.Rank
import graft.ops.Dedup
import graft.plans.Gate
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The exact rank-selection kernel on both sides of its size gate, against
  * a driver-side sort, and the job descriptions of its internal actions.
  */
class RankSpec extends AnyFunSuite {

  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  /** ks probing the clamps and the middle: 0 -> 1, n + 5 -> n */
  private val ks = (n: Long) => Seq(0L, 1L, (n + 1) / 2, n / 3 + 1, n, n + 5)

  private def select(df: DataFrame, threshold: Long) =
    Gate.overriding("Rank.select" -> threshold)(
      Rank.select(df, "g", Seq(col("a"), col("b")), ks).collect())
      .map(r => r.getString(0) -> ((r.getLong(1),
        r.getSeq[Row](2).map(t => (t.getLong(0), t.getLong(1))).toSeq))).toMap

  private def bySort(rows: Seq[(String, Option[Long], Option[Long])]) =
    rows.collect { case (g, Some(a), Some(b)) => (g, (a, b)) }
      .groupBy(_._1).map { case (g, ts) =>
        val sorted = ts.map(_._2).sorted
        val n = sorted.size.toLong
        g -> ((n, ks(n).map(k => sorted((math.max(1L, math.min(k, n)) - 1).toInt))))
      }

  test("Rank.select: in-buffer == bisection == driver sort, seeded groups") {
    for (seed <- 1 to 3) {
      val rnd = new scala.util.Random(seed)
      // first key from a narrow range (many first-key ties, so the second
      // level decides), second key with duplicates, negatives and the
      // 64-bit extremes; a few null keys that must be left out
      val bs = Seq(Long.MinValue, Long.MaxValue, -1L, 0L, 1L)
      val rows = (0 until 6).flatMap { gi =>
        (0 until 1 + rnd.nextInt(40)).map { _ =>
          val a = if (rnd.nextInt(30) == 0) None else Some(rnd.nextInt(5) - 2L)
          val b = Some(if (rnd.nextInt(4) == 0) bs(rnd.nextInt(bs.size))
            else rnd.nextInt(2000) - 1000L)
          (s"g$gi", a, b)
        }
      }
      val df = rows.toDF("g", "a", "b")
      val want = bySort(rows)
      assert(select(df, 1L << 20) == want, s"in-buffer, seed $seed")
      assert(select(df, 0L) == want, s"bisection, seed $seed")
    }
  }

  test("Rank.select: one call with groups on both sides of the gate") {
    val rows = (0 until 50).map(i => ("big", Some(i % 7 - 3L), Some(i * 37 % 11 - 5L))) ++
      (0 until 5).map(i => ("small", Some(1L), Some(4L - i)))
    val want = bySort(rows)
    assert(select(rows.toDF("g", "a", "b"), 20L) == want)
  }

  test("internal actions carry op: step job labels; caller label restored") {
    val sc = spark.sparkContext
    val seen = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
          .foreach(seen.add)
    }
    sc.addSparkListener(listener)
    sc.setJobDescription("caller")
    try {
      val groups = Seq(("x", 3L, 1L), ("x", 3L, 2L), ("y", 5L, 9L)).toDF("g", "a", "b")
      Gate.overriding("Rank.select" -> 0L)(
        Rank.select(groups, "g", Seq(col("a"), col("b")), n => Seq(n)).collect())
      // a range, not a local relation: collecting a local relation runs no job
      val edges = spark.range(1, 3).select($"id".as("a"), ($"id" + 1).as("b"))
      val nodes = (1L to 3L).toDF("doc_id")
      Dedup.connectedComponents(edges, nodes).collect()
      Gate.overriding("connectedComponents" -> 0L)(
        Dedup.connectedComponents(edges, nodes).collect())
      // the collects and counts inside the training and corpus ops
      val sfDir = "/root/testdata/sf0.001"
      val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      graft.ops.Ivf.train(emb, k = 4, iters = 1)
      graft.ops.Ivf.train(emb, k = 4, iters = 0, sampleCap = 16, init = "maximin")
      graft.ops.Pq.trainCodebooks(emb, iters = 1, sampleCap = 64)
      graft.ops.BpeTrain.train(docs, nMerges = 2)
      graft.ops.TextStats.heavyHittersExact(
        docs.select(explode(split($"text", " ")).as("tok")), k = 1, counters = 4096)
      Dedup.duplicatedWindowSpans(docs).unpersist()
      Dedup.contaminatedSpansBloom(docs, docs.where($"doc_id" % 7 === 3)).unpersist()
      assert(sc.getLocalProperty("spark.job.description") == "caller")
      val want = Set("Rank.select: heads", "Rank.select: range",
        "Rank.select: bisect pass 1 (level 1)", "connectedComponents: union-find collect",
        "connectedComponentsAlternating: round 0", "connectedComponentsAlternating: round 1",
        "Ivf.train: hash init", "Ivf.train: Lloyd round 1", "Ivf.train: maximin sample",
        "Pq.trainCodebooks: sample", "BpeTrain.train: vocabulary guard",
        "BpeTrain.train: word counts", "heavyHittersExact: stream length",
        "heavyHittersExact: candidate counts", "duplicatedWindowSpans: result count",
        "contaminatedSpansBloom: bloom filter", "contaminatedSpansBloom: result count")
      // the listener bus is asynchronous
      var waited = 0
      while (!want.forall(seen.contains) && waited < 100) { Thread.sleep(100); waited += 1 }
      assert(want.forall(seen.contains), s"seen: $seen")
      // group x ties on a, so level 0 is settled by the range pass alone
      assert(!seen.contains("Rank.select: bisect pass 1 (level 0)"), s"seen: $seen")
    } finally {
      sc.setJobDescription(null)
      sc.removeSparkListener(listener)
    }
  }
}
