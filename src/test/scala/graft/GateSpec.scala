package graft

import graft.metrics.Metrics
import graft.ops.{Dedup, UrlOps}
import graft.plans.{Gate, GateEvent}
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.Bridge
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** Every gate of [[Gate.table]] run both ways: the op under the table's
  * threshold and under a threshold forced below its measured size gives the
  * same answer, and each run posts the branch its threshold implies. A gate
  * added to the table without a case here fails.
  */
class GateSpec extends AnyFunSuite {

  private lazy val spark = SparkTestBase.spark
  import spark.implicits._
  private val testdata = "/root/testdata" // the fixture scales, TESTDATA.md
  private lazy val docs = spark.read.parquet(s"$testdata/sf0.001/documents.parquet")

  private final case class Run(rows: Seq[String], plan: String, events: Seq[GateEvent])

  /** Builds and collects `op` with the gate's threshold at `t`, recording
    * the gate's events; every RDD the op left persisted is released.
    */
  private def run(gate: String, t: Long)(op: => DataFrame): Run = {
    val sc = spark.sparkContext
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[GateEvent]()
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case g: GateEvent if g.gate == gate => seen.add(g)
        case _ =>
      }
    }
    val cached = sc.getPersistentRDDs.keySet
    sc.addSparkListener(listener)
    try {
      val (rows, plan) = Gate.overriding(gate -> t) {
        val df = op
        // the plan as planned: once run, an adaptive plan prints twice
        val plan = df.queryExecution.executedPlan.toString
        (df.collect().map(_.toString).sorted.toSeq, plan)
      }
      Bridge.waitListeners(sc)
      Run(rows, plan, seen.asScala.toSeq)
    } finally {
      sc.removeSparkListener(listener)
      (sc.getPersistentRDDs -- cached).values.foreach(_.unpersist())
    }
  }

  /** `op` under the table's threshold (its small-input branch on these
    * inputs) and under `low(measured size)`: equal rows, and each run's
    * events name its threshold and branch. Returns (table run, low run).
    */
  private def bothWays(gate: String, low: Long => Long = _ => 0L)(op: => DataFrame): (Run, Run) = {
    val spec = Gate.table(gate)
    val high = run(gate, spec.threshold)(op)
    assert(high.events.nonEmpty, s"$gate posted no event")
    high.events.foreach { e =>
      assert(e.threshold == spec.threshold && e.size <= e.threshold &&
        e.branch == spec.atOrUnder, e)
    }
    val t = low(high.events.map(_.size).max)
    val forced = run(gate, t)(op)
    assert(forced.events.nonEmpty, s"$gate posted no event at threshold $t")
    forced.events.foreach { e =>
      assert(e.threshold == t && e.size > t && e.branch == spec.over, e)
    }
    assert(forced.rows == high.rows, s"$gate: answers differ between branches")
    (high, forced)
  }

  private def exchanges(plan: String, kind: String): Int =
    s"Exchange $kind".r.findAllIn(plan).size

  private val cases: Map[String, () => Unit] = Map(
    "Rank.select" -> { () =>
      bothWays("Rank.select")(
        Metrics.exactQuantiles(docs, "n_chars", Seq(0.0, 0.5, 0.95, 1.0)))
      val byDomain = docs.withColumn("domain", concat(lit("d"), ($"doc_id" % 5).cast("string")))
      bothWays("Rank.select")(
        UrlOps.domainCapExact(byDomain, "domain", cap = 10).select("doc_id", "n_domain", "keep"))
    },
    "connectedComponents" -> { () =>
      // a range, not a local relation, and a chain, a star and a pair
      val edges = spark.range(0, 40).select(
        ($"id" + 1).as("a"), (when($"id" < 20, $"id" + 2).otherwise(lit(30L))).as("b"))
        .union(Seq((60L, 61L)).toDF("a", "b"))
      val nodes = spark.range(1, 70).select($"id".as("doc_id"))
      bothWays("connectedComponents")(Dedup.connectedComponents(edges, nodes))
    },
    "decontamination.broadcast" -> { () =>
      // the static plans: AQE may re-plan a small shuffle at run time
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      try {
        val ref = docs.where($"doc_id" % 7 === 3).select("doc_id", "text")
        for (op <- Seq(() => Dedup.contaminatedSpans(docs, ref),
            () => Dedup.contaminationReport(docs, ref))) {
          // the join on the window digest w (the report also joins back on doc_id)
          def digestJoins(plan: String, join: String) = s"$join \\[w#".r.findAllIn(plan).size
          val (broadcast, shuffled) = bothWays("decontamination.broadcast")(op())
          assert(digestJoins(broadcast.plan, "BroadcastHashJoin") == 1, broadcast.plan)
          assert(digestJoins(shuffled.plan, "BroadcastHashJoin") == 0, shuffled.plan)
          assert(digestJoins(shuffled.plan, "ShuffledHashJoin") == 1, shuffled.plan)
        }
      } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    },
    "DistributeExpensiveProjections" -> { () =>
      val (spread, scan) = bothWays("DistributeExpensiveProjections")(
        docs.where($"doc_id" < 40).select($"doc_id",
          graft.functions.gf.pdfRewrite(graft.functions.gf.pdfSynth(
            substring($"text", 1, 100))).getField("n_rects").as("n")))
      assert(exchanges(spread.plan, "RoundRobinPartitioning") == 1, spread.plan)
      assert(exchanges(scan.plan, "RoundRobinPartitioning") == 0, scan.plan)
    },
    "semanticNearDups.subsplit" -> { () =>
      // the driver query at sf0.01: its largest cluster is under the
      // table's threshold, so half of it forces the sub-split
      val (whole, _) = bothWays("semanticNearDups.subsplit", low = _ / 2)(
        SparkEntry.queries("semantic_dedup_pairs")(spark, s"$testdata/sf0.01"))
      assert(whole.rows.nonEmpty)
    })

  for (gate <- Gate.table.keys) test(s"gate $gate: both branches give one answer, events posted") {
    cases.getOrElse(gate, fail(s"gate $gate has no both-ways case in GateSpec"))()
  }

  test("overriding is scoped to its thread and block, and rejects unknown gates") {
    val t = Gate.table("Rank.select").threshold
    Gate.overriding("Rank.select" -> 5L) {
      assert(Gate.threshold("Rank.select") == 5L)
      var other = -1L
      val th = new Thread(() => other = Gate.threshold("Rank.select"))
      th.start(); th.join()
      assert(other == t)
    }
    assert(Gate.threshold("Rank.select") == t)
    intercept[IllegalArgumentException](Gate.overriding("no.such.gate" -> 1L)(()))
  }
}
