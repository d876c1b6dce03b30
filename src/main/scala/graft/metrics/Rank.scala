package graft.metrics

import graft.obs.JobLabel
import graft.plans.Gate
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, IntegerType, LongType, StructField, StructType}
import org.apache.spark.storage.StorageLevel

/** Exact rank selection — the one kernel behind the exact quantiles
  * ([[Metrics.exactQuantiles]], [[Metrics.groupedQuantiles]]) and the
  * exact per-domain cap ([[graft.ops.UrlOps.domainCapExact]]).
  */
object Rank {

  /** Per group of `groupCol`: the row count n and, for each k of `ks(n)`
    * (clamped to [1, n]), the k-th smallest tuple of the integral `keys`
    * (cast to long) in lexicographic order — an actual data tuple. Rows
    * with a null group or a null key are left out. Output: one row per
    * group, (groupCol, n, ranks), `ranks` an array of struct(k0, k1, …)
    * aligned with `ks(n)`.
    *
    * One heads pass counts every group, under the `maxGroups`
    * bounded-collect guard (the per-group state is driver-side). The
    * largest group's n goes through the `Rank.select` [[Gate]], and the
    * groups are routed by size:
    *  - n <= the gate's threshold: one lazy aggregation,
    *    `element_at(sort_array(collect_list(tuple)), k)` — a buffer of n
    *    tuples (8 B a key) per group and no further job;
    *  - larger groups (a billion-row group must never sit in one buffer):
    *    counting bisection over their rows only, one key at a time. A pass
    *    counts, per open (group, k), the rows with
    *    `(key_0..key_j) <= (prefix, mid)` and moves the interval of key j
    *    to the nearest data value on mid's side, so a level whose prefix
    *    matches a single row or a single value needs no pass at all. Each
    *    pass at least halves a 64-bit interval: at most 64 passes a level.
    */
  def select(df: DataFrame, groupCol: String, keys: Seq[Column],
      ks: Long => Seq[Long], maxGroups: Int = 100000): DataFrame = {
    require(keys.nonEmpty, "Rank.select: no keys")
    val names = keys.indices.map(i => s"k$i")
    val base = df.select(col(groupCol) +: keys.zip(names).map { case (k, n) =>
        k.cast("long").as(n) }: _*)
      .where((groupCol +: names).map(col(_).isNotNull).reduce(_ && _))
    val heads = JobLabel(df.sparkSession, "Rank.select: heads")(
      base.groupBy(groupCol).agg(count(lit(1)).as("n"))
        .limit(maxGroups + 1).collect())
    require(heads.length <= maxGroups,
      s"more than $maxGroups groups - rank-selection state is driver-side; " +
        "use a reporting dimension or raise maxGroups")
    val ranksOf = (n: Long) => ks(n).map(k => math.max(1L, math.min(k, n)))
    val tuple = struct(names.map(col): _*)
    val largest = heads.map(_.getLong(1)).maxOption.getOrElse(0L)
    if (Gate.choose(df.sparkSession, "Rank.select", largest))
      return inBuffer(base, groupCol, tuple, ranksOf)
    val large = heads.filter(_.getLong(1) > Gate.threshold("Rank.select"))
    val largeKeys = large.map(_.get(0))
    val exact = bisect(base.where(col(groupCol).isInCollection(largeKeys)),
      groupCol, tuple, large.toSeq, ranksOf)
    if (large.length == heads.length) exact
    else inBuffer(base.where(!col(groupCol).isInCollection(largeKeys)),
      groupCol, tuple, ranksOf).unionByName(exact)
  }

  private def inBuffer(base: DataFrame, groupCol: String, tuple: Column,
      ranksOf: Long => Seq[Long]): DataFrame = {
    val ranks = udf(ranksOf)
    base.groupBy(groupCol)
      .agg(count(lit(1)).as("n"), sort_array(collect_list(tuple)).as("sorted"))
      .select(col(groupCol), col("n"),
        transform(ranks(col("n")), k => element_at(col("sorted"), k.cast("int")))
          .as("ranks"))
  }

  /** Per (group, k) the state is two data tuples, `lo` and `hi`: at level
    * j they are the smallest and the largest row whose first j keys equal
    * the answer's, and the answer's key j lies in [lo(j), hi(j)]. The
    * level is done when lo(j) == hi(j); the same two tuples then bound
    * level j + 1.
    */
  private def bisect(rows: DataFrame, groupCol: String, tuple: Column,
      heads: Seq[Row], ranksOf: Long => Seq[Long]): DataFrame = {
    final class Slot(val g: Any, val k: Long, var lo: Array[Long], var hi: Array[Long])
    def longs(r: Row) = Array.tabulate(r.length)(r.getLong)
    val spark = rows.sparkSession
    val groupType = rows.schema(groupCol).dataType
    val tupleType = StructType(rows.schema.fields.tail.map(_.copy(nullable = false)))
    val m = tupleType.length
    val sizes = heads.map(r => r.get(0) -> r.getLong(1)).toMap
    val cached = rows.persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val slots = JobLabel(spark, "Rank.select: range")(
        cached.groupBy(groupCol).agg(min(tuple), max(tuple)).collect()
      ).toSeq.flatMap(r => ranksOf(sizes(r.get(0))).distinct.map(k =>
        new Slot(r.get(0), k, longs(r.getStruct(1)), longs(r.getStruct(2)))))
      val boundsSchema = StructType(Seq(StructField("rank_g", groupType),
        StructField("slot", IntegerType), StructField("le", tupleType)))
      for (j <- 0 until m) {
        def open = slots.indices.filter(i => slots(i).lo(j) < slots(i).hi(j))
        var pass = 0
        while (open.nonEmpty) {
          pass += 1
          require(pass <= 64, s"Rank.select: level $j open after 64 passes")
          // le = (prefix, mid, MAX…): `tuple <= le` compares only keys
          // 0..j. Fewer than k rows lie below the prefix, so the largest
          // tuple <= le (when the count reaches k) and the smallest one
          // above it (when it does not) are both on the prefix.
          val bounds = open.map { i =>
            val s = slots(i)
            val (a, b) = (s.lo(j), s.hi(j))
            val mid = (a >> 1) + (b >> 1) + (a & b & 1L) // floor((a + b) / 2)
            Row(s.g, i, Row.fromSeq(s.lo.take(j).toSeq ++
              (mid +: Seq.fill(m - j - 1)(Long.MaxValue))))
          }
          val counts = JobLabel(spark, s"Rank.select: bisect pass $pass (level $j)")(
            cached.join(broadcast(spark.createDataFrame(
                spark.sparkContext.parallelize(bounds, 1), boundsSchema)),
                col(groupCol) === col("rank_g"))
              .groupBy("slot").agg(count(when(tuple <= col("le"), 1)),
                max(when(tuple <= col("le"), tuple)),
                min(when(tuple > col("le"), tuple)))
              .collect())
          counts.foreach { r =>
            val s = slots(r.getInt(0))
            if (r.getLong(1) >= s.k) s.hi = longs(r.getStruct(2))
            else s.lo = longs(r.getStruct(3))
          }
        }
      }
      val answer = slots.map(s => (s.g, s.k) -> Row.fromSeq(s.lo.toSeq)).toMap
      val out = heads.map { r =>
        val g = r.get(0)
        Row(g, r.getLong(1), ranksOf(r.getLong(1)).map(k => answer((g, k))))
      }
      spark.createDataFrame(spark.sparkContext.parallelize(out, 1),
        StructType(Seq(StructField(groupCol, groupType),
          StructField("n", LongType, nullable = false),
          StructField("ranks", ArrayType(tupleType)))))
    } finally cached.unpersist()
  }
}
