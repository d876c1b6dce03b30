package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import scala.collection.mutable

/** One traced interval of benchmark code around a call into the engine,
  * with the Spark work its jobs did. Spans nest: `parent` is the span that
  * was open when this one started.
  */
final class Span(val id: Int, val name: String, val parent: Option[Int], val startNs: Long) {
  var endNs: Long = 0L
  var jobs = 0
  var stages = 0
  var tasks = 0
  var taskNs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var inputBytes = 0L
  var inputRecords = 0L
  var outputBytes = 0L
  /** job durations, ms */
  val jobMs = mutable.ArrayBuffer.empty[Long]
  /** task durations (ms) of each completed stage, in completion order */
  val stageTaskMs = mutable.LinkedHashMap.empty[Int, mutable.ArrayBuffer[Long]]

  def wallS: Double = (endNs - startNs) / 1e9
  def taskS: Double = taskNs / 1e9

  /** max / median task duration of the last stage that completed */
  def lastStageSkew: Double =
    stageTaskMs.values.lastOption.filter(_.nonEmpty).map { ts =>
      val s = ts.sorted
      s.last.toDouble / math.max(s(s.length / 2).toDouble, 1.0)
    }.getOrElse(1.0)

  def json: String = {
    val p = parent.map(_.toString).getOrElse("null")
    f"""{"id":$id,"name":"$name","parent":$p,"start_ns":$startNs,"end_ns":$endNs,""" +
      f""""jobs":$jobs,"stages":$stages,"tasks":$tasks,"task_s":$taskS%.6f,""" +
      f""""shuffle_write_bytes":$shuffleWriteBytes,"spill_bytes":$spillBytes,""" +
      f""""input_bytes":$inputBytes,"input_records":$inputRecords,""" +
      f""""output_bytes":$outputBytes,""" +
      f""""last_stage_max_over_median":$lastStageSkew%.4f,""" +
      f""""stage_task_ms":$stageTasksJson}"""
  }

  /** task durations of each completed stage, keyed by stage id */
  private def stageTasksJson: String =
    stageTaskMs.map { case (id, ts) => s""""$id":${ts.mkString("[", ",", "]")}""" }
      .mkString("{", ",", "}")
}

/** Span recorder. The benchmark opens a span around each call it times;
  * the span id travels to Spark as a local property of the calling
  * thread, and this listener charges every job, stage and task of that
  * thread to the innermost open span and to each span enclosing it, so a
  * span's counters include its children's. Spans stay in memory until
  * [[writeJson]].
  */
final class Tracer(sc: SparkContext) extends SparkListener {
  private val Key = "perfbench.span"
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val open = mutable.Stack.empty[Span]
  private val stageSpan = mutable.HashMap.empty[Int, Span]
  private val jobSpan = mutable.HashMap.empty[Int, (Span, Long)]

  sc.addSparkListener(this)

  def span[T](name: String)(f: => T): (T, Span) = {
    val s = spans.synchronized {
      val s = new Span(spans.length, name, open.headOption.map(_.id), System.nanoTime())
      spans += s
      s
    }
    open.push(s)
    sc.setLocalProperty(Key, s.id.toString)
    try (f, s)
    finally {
      s.endNs = System.nanoTime()
      open.pop()
      sc.setLocalProperty(Key, open.headOption.map(_.id.toString).orNull)
      // counters of this span's jobs arrive on the listener bus
      org.apache.spark.sql.graftshim.Bridge.waitListeners(sc)
    }
  }

  def all: Seq[Span] = spans.synchronized(spans.toVector)

  def stop(): Unit = sc.removeSparkListener(this)

  def writeJson(path: String): Unit = {
    val body = all.map(_.json).mkString("[\n", ",\n", "\n]\n")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), body)
  }

  /** a span and every span enclosing it */
  private def chainOf(s: Span): List[Span] =
    List.unfold(Option(s))(_.map(x => (x, x.parent.map(spans(_)))))

  private def chain(stageId: Int): List[Span] =
    stageSpan.get(stageId).map(chainOf).getOrElse(Nil)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val id = Option(e.properties).flatMap(p => Option(p.getProperty(Key)))
    id.foreach { i =>
      spans.synchronized {
        val s = spans(i.toInt)
        jobSpan(e.jobId) = (s, e.time)
        e.stageIds.foreach(stageSpan(_) = s)
        chainOf(s).foreach(_.jobs += 1)
      }
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = spans.synchronized {
    jobSpan.remove(e.jobId).foreach { case (s, t0) =>
      chainOf(s).foreach(_.jobMs += e.time - t0)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    spans.synchronized {
      chain(e.stageInfo.stageId).foreach { s =>
        s.stages += 1
        // re-insert so the map keeps completion order
        val ts = s.stageTaskMs.remove(e.stageInfo.stageId)
          .getOrElse(mutable.ArrayBuffer.empty[Long])
        s.stageTaskMs(e.stageInfo.stageId) = ts
      }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = spans.synchronized {
    val m = e.taskMetrics
    chain(e.stageId).foreach { s =>
      s.tasks += 1
      s.stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty[Long]) +=
        e.taskInfo.duration
      if (m != null) {
        s.taskNs += m.executorRunTime * 1000000L
        s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        s.spillBytes += m.diskBytesSpilled
        s.inputBytes += m.inputMetrics.bytesRead
        s.inputRecords += m.inputMetrics.recordsRead
        s.outputBytes += m.outputMetrics.bytesWritten
      }
    }
  }
}
