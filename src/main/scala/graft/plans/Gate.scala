package graft.plans

import org.apache.spark.scheduler.SparkListenerEvent
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.graftshim.Bridge

import scala.collection.immutable.ListMap

/** The one place a size-gated plan choice is made. A hybrid operator
  * measures a size, and [[Gate.choose]] compares it with that gate's
  * threshold: at or under it the operator takes its small-input branch,
  * over it the scalable one. Every choice is posted to the listener bus as
  * a [[GateEvent]], so listeners and the event log show which branch ran,
  * on what size and against what threshold.
  */
object Gate {

  /** A gate's threshold and the names of its two branches. */
  final case class Spec(threshold: Long, atOrUnder: String, over: String)

  /** Every gate and its threshold. */
  val table: ListMap[String, Spec] = ListMap(
    // the largest group's row count: a group of n rows sorts in one
    // task's buffer (8 B a key) up to here; larger groups bisect
    "Rank.select" -> Spec(1L << 20, "in-buffer", "bisect"),
    // Long-id edges, probed with limit(threshold + 1): 16 MB of id pairs
    // union-find on the driver; larger graphs alternate large/small stars
    "connectedComponents" -> Spec(1L << 20, "union-find", "alternating"),
    // the reference's Catalyst size estimate (no job): about 4M k-token
    // windows at 4 stored bytes a token, a few hundred MB of broadcast
    // digests; larger references, and ones without statistics, shuffle
    "decontamination.broadcast" -> Spec(16L << 20, "broadcast", "shuffle"),
    // the largest centroid cluster: larger clusters are salt-banded by
    // sign-bit LSH inside the cluster, bits sized from largest / threshold
    "semanticNearDups.subsplit" -> Spec(2000L, "whole", "subsplit"),
    // the input's Catalyst size estimate: a payload corpus above it already
    // has enough scan splits and must not be round-robin shuffled
    "DistributeExpensiveProjections" -> Spec(1L << 30, "round-robin", "scan"))

  private val overrides = new ThreadLocal[Map[String, Long]] {
    override def initialValue(): Map[String, Long] = Map.empty
  }

  /** The gate's threshold on this thread: the table's, unless
    * [[overriding]] replaced it.
    */
  def threshold(name: String): Long =
    overrides.get.getOrElse(name, spec(name).threshold)

  /** True when `size` is at or under the gate's threshold (the
    * small-input branch). Posts one [[GateEvent]].
    */
  def choose(spark: SparkSession, name: String, size: Long): Boolean = {
    val (t, s) = (threshold(name), spec(name))
    val small = size <= t
    Bridge.post(spark.sparkContext,
      GateEvent(name, size, t, if (small) s.atOrUnder else s.over))
    small
  }

  /** Runs `body` with the named gates' thresholds replaced, on this thread
    * only — the hook tests use to reach both branches of an operator.
    */
  def overriding[T](thresholds: (String, Long)*)(body: => T): T = {
    thresholds.foreach { case (name, _) => spec(name) }
    val prev = overrides.get
    overrides.set(prev ++ thresholds)
    try body finally overrides.set(prev)
  }

  /** Catalyst's size estimate of an optimized `plan`, in bytes. It runs
    * no job; a plan without statistics reads `spark.sql.defaultSizeInBytes`
    * (Long.MaxValue unless set).
    */
  def estimatedBytes(plan: LogicalPlan): Long =
    plan.stats.sizeInBytes.min(BigInt(Long.MaxValue)).toLong

  private def spec(name: String): Spec =
    table.getOrElse(name, throw new IllegalArgumentException(s"unknown gate '$name'"))
}

/** One size-gated choice: `gate` measured `size` against `threshold` and
  * took `branch`.
  */
final case class GateEvent(gate: String, size: Long, threshold: Long, branch: String)
    extends SparkListenerEvent
