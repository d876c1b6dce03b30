package perfbench

import graft.detect.{Detectors, Resolver}
import graft.extract.HtmlExtract
import graft.functions.Digests
import graft.model.Entity
import graft.pipeline.DeidCore
import graft.redact.Redactor

import scala.collection.mutable

/** Single-thread cost of each per-row layer of the deid hot path in
  * replace mode, timed as a loop over the workload's own sampled turns
  * after JIT warm-up. Each phase runs on the previous phase's outputs,
  * computed once up front.
  */
object RowLayers {
  private val Warm = 5
  private val Reps = 7

  def measure(texts: Array[String]): mutable.LinkedHashMap[String, (Double, String)] = {
    val n = texts.length
    val text = texts.map(t => if (HtmlExtract.looksLikeHtml(t)) HtmlExtract.getText(t) else t)
    val raw = text.map(Detectors.regexDetect(_, "zh"))
    val resolved = raw.map(Resolver.resolve)
    val ctx = text.map(Digests.sha256Hex)
    val events = text.indices.map(i =>
      Redactor.replaceMode(text(i), resolved(i), Some(ctx(i)), isTw = true)._2)

    // the entity list DeidCore.process builds from the resolved spans
    def normalize(i: Int) = resolved(i).iterator.map(e => Entity(e.typ, e.score,
      e.score, e.source, "zh", e.start, e.end, Redactor.cpSlice(text(i), e.start, e.end))).toList
    val phases: Seq[(String, Int => Any)] = Seq(
      "extract" -> { i =>
        val t = texts(i)
        if (HtmlExtract.looksLikeHtml(t)) HtmlExtract.getText(t) else t
      },
      "detect" -> (i => Detectors.regexDetect(text(i), "zh")),
      "resolve" -> (i => Resolver.resolve(raw(i))),
      "sha" -> (i => Digests.sha256Hex(text(i))),
      "replace" -> (i => Redactor.replaceMode(text(i), resolved(i), Some(ctx(i)), isTw = true)),
      "blackbox" -> (i => Redactor.blackboxMode(text(i), resolved(i))),
      "filter" -> (i => Redactor.filterEvents(events(i))),
      "normalize" -> normalize,
      "core" -> (i => DeidCore.process(text(i))))

    // results are stored so the JIT cannot drop the calls
    val sink = new Array[Any](n)
    def pass(f: Int => Any): Double = {
      val t0 = System.nanoTime()
      var i = 0
      while (i < n) { sink(i) = f(i); i += 1 }
      (System.nanoTime() - t0).toDouble / n
    }
    (1 to Warm).foreach(_ => phases.foreach(p => pass(p._2)))
    // phases take turns within each round, so a slow spell of the host
    // falls on all of them alike
    val rounds = (1 to Reps).map(_ => phases.map(p => pass(p._2)))
    val ns = phases.indices.map(k => phases(k)._1 -> Stats.median(rounds.map(_(k)))).toMap
    val covered = ns("detect") + ns("resolve") + ns("sha") + ns("replace") +
      ns("filter") + ns("normalize")

    val nRaw = raw.map(_.length).sum.toDouble
    mutable.LinkedHashMap(
      "extract.html_ns_per_turn" -> (ns("extract"), "ns"),
      "detect.regex_ns_per_turn" -> (ns("detect"), "ns"),
      "detect.raw_entities_per_turn" -> (nRaw / n, "count"),
      "resolve.ns_per_turn" -> (ns("resolve"), "ns"),
      "resolve.kept_ratio" -> (resolved.map(_.length).sum / math.max(nRaw, 1.0), "ratio"),
      "functions.sha256_ns_per_turn" -> (ns("sha"), "ns"),
      "redact.replace_ns_per_turn" -> (ns("replace"), "ns"),
      "redact.blackbox_ns_per_turn" -> (ns("blackbox"), "ns"),
      "redact.filter_ns_per_turn" -> (ns("filter"), "ns"),
      "pipeline.normalize_ns_per_turn" -> (ns("normalize"), "ns"),
      "pipeline.core_ns_per_turn" -> (ns("core"), "ns"),
      "pipeline.phase_coverage" -> (covered / ns("core"), "ratio"))
  }
}
