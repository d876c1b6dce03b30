package graft.redact

import graft.detect.CpOffsets
import graft.model.{DeidEvent, SpanEnt}
import graft.pipeline.DeidBlock

/** Replacement / masking — exact clone of `Replacer`
  * (`/root/reference/src/deid_pipeline/pii/utils/replacer.py:16-102`).
  *
  * Entities are spliced right-to-left (sorted by start **descending**,
  * stable) against the *running* string, with `original` always sliced from
  * the *original* text — including the reference's behavior on residual
  * overlaps (resolution keeps overlaps with ratio <= 0.5, and the splice then
  * operates on already-modified suffixes; we replicate, not fix).
  *
  * All indices are Unicode code points (Python slicing semantics).
  */
object Redactor {

  /** Raw event as the replacer emits it, before the pipeline's filter. */
  final case class RawEvent(
      typ: String,
      original: Option[String],
      replacement: Option[String],
      start: Int,
      end: Int,
      source: String
  )

  /** `_replace_mode` (`replacer.py:41-81`). `contextHash` defaults to
    * sha256 of the text (`replacer.py:46-48`), computed only when there is
    * an entity to replace. A block of one turn ([[graft.pipeline.DeidBlock]]).
    */
  def replaceMode(
      text: String,
      entities: Array[SpanEnt],
      contextHash: Option[String] = None,
      isTw: Boolean = true
  ): (String, List[RawEvent]) = {
    val b = DeidBlock.local
    b.replaceOne(text, entities, isTw, contextHash.orNull)
    (b.redactedText(0), b.rawEvents(0))
  }

  /** `_blackbox_mode` (`replacer.py:83-102`) — length-preserving masking. */
  def blackboxMode(
      text: String,
      entities: Array[SpanEnt]
  ): (String, List[RawEvent]) = {
    val b = DeidBlock.local
    b.blackboxOne(text, entities)
    (b.redactedText(0), b.rawEvents(0))
  }

  /** Applies the `m` splices `from until from + m` of `starts` / `ends` /
    * `replacements`, sorted by start descending, as Python's sequence of
    * `text[:s] + r + text[e:]` does. Fast path: when spans are pairwise
    * non-overlapping (`end(k) <= start(k-1)` in descending order — the
    * common case after conflict resolution), one left-to-right pass builds
    * the result in O(n). Any residual overlap falls back to the exact
    * Python emulation (each splice re-applied to the evolving string).
    */
  def spliceAll(
      text: String,
      off: CpOffsets,
      starts: Array[Int],
      ends: Array[Int],
      replacements: Array[String],
      from: Int,
      m: Int
  ): String = {
    if (m == 0) return text
    val last = from + m - 1
    var k = from + 1
    while (k <= last) {
      if (ends(k) > starts(k - 1)) return spliceAllSlow(text, starts, ends, replacements, from, m)
      k += 1
    }
    val cpLen = off.cpLen
    val sb = new java.lang.StringBuilder(text.length + 64)
    var prevU16 = 0
    var i = last // ascending order
    while (i >= from) {
      val s2 = math.min(math.max(starts(i), 0), cpLen)
      val e2 = math.min(math.max(ends(i), s2), cpLen)
      val u16s = off.toU16(s2)
      val u16e = off.toU16(e2)
      if (u16s < prevU16) {
        // equal starts (zero-width collisions): keep exact emulation
        return spliceAllSlow(text, starts, ends, replacements, from, m)
      }
      sb.append(text, prevU16, u16s)
      sb.append(replacements(i))
      prevU16 = u16e
      i -= 1
    }
    sb.append(text, prevU16, text.length)
    sb.toString
  }

  private def spliceAllSlow(
      text: String,
      starts: Array[Int],
      ends: Array[Int],
      replacements: Array[String],
      from: Int,
      m: Int
  ): String = {
    var cur = text
    var i = from
    while (i < from + m) {
      cur = splice(cur, starts(i), ends(i), replacements(i))
      i += 1
    }
    cur
  }

  /** `"replacement"/"replace" → replace`, `"blackbox/black/redact/mask" →
    * blackbox`, default replace (`__init__.py:150-157`, `replacer.py:36-39`).
    */
  def normalizeMode(mode: String): String = {
    val m = Option(mode).getOrElse("").trim.toLowerCase
    if (m == "blackbox" || m == "black" || m == "redact" || m == "mask") "blackbox"
    else "replace"
  }

  /** The pipeline's event filter + replacement-map build
    * (`__init__.py:98-117`): only events carrying original+replacement+type
    * survive; map key `"TYPE:original"`, later events overwrite.
    */
  def filterEvents(raw: List[RawEvent]): (List[DeidEvent], Map[String, String]) = {
    val events = List.newBuilder[DeidEvent]
    var map = scala.collection.immutable.ListMap.empty[String, String]
    raw.foreach { ev =>
      (ev.original, ev.replacement) match {
        case (Some(o), Some(r)) =>
          map = map.updated(s"${ev.typ}:$o", r)
          events += DeidEvent(ev.typ, o, r, ev.start, ev.end, ev.source)
        case _ => ()
      }
    }
    (events.result(), map)
  }

  /** Python `text[s:e]` by code points. */
  def cpSlice(s: String, start: Int, end: Int): String =
    new CpOffsets(s).slice(start, end)

  /** Python `text[:s] + r + text[e:]` by code points. */
  def splice(s: String, start: Int, end: Int, replacement: String): String = {
    val off = new CpOffsets(s)
    val cpLen = off.cpLen
    val s2 = math.min(math.max(start, 0), cpLen)
    val e2 = math.min(math.max(end, s2), cpLen)
    val u16s = off.toU16(s2)
    val u16e = off.toU16(e2)
    new java.lang.StringBuilder(s.length + replacement.length)
      .append(s, 0, u16s)
      .append(replacement)
      .append(s, u16e, s.length)
      .toString
  }
}
