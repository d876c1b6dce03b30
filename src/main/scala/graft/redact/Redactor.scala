package graft.redact

import graft.detect.CpOffsets
import graft.functions.{Digests, FakeProvider}
import graft.model.{DeidEvent, SpanEnt}

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
    * an entity to replace.
    */
  def replaceMode(
      text: String,
      entities: Array[SpanEnt],
      contextHash: Option[String] = None,
      isTw: Boolean = true
  ): (String, List[RawEvent]) = {
    if (entities.isEmpty) return (text, Nil)
    val ctx = contextHash.getOrElse(Digests.sha256Hex(text))
    val sortedDesc = entities.sortBy(e => -e.start) // stable on equal starts
    val off = new CpOffsets(text)
    // Per-document memo keyed `type:original` — the reference's LRU cache
    // semantics within one document (`replace/cache.py`, key includes the
    // ctx hash, constant here): dense repeated PII generates once. The
    // distinct keys are collected first so their MT19937 states can be
    // seeded two at a time
    val slots = new java.util.HashMap[String, Integer]()
    val n = sortedDesc.length
    val originals = new Array[String](n)
    val slotOf = new Array[Int](n)
    val types = new Array[String](n)
    val distinct = new Array[String](n)
    var d = 0
    var i = 0
    while (i < n) {
      val ent = sortedDesc(i)
      val original = off.slice(ent.start, ent.end)
      originals(i) = original
      val slot = slots.putIfAbsent(s"${ent.typ}:$original", d)
      if (slot == null) {
        types(d) = ent.typ
        distinct(d) = original
        slotOf(i) = d
        d += 1
      } else slotOf(i) = slot
      i += 1
    }
    val values = FakeProvider.generateAll(types, distinct, d, ctx, isTw)
    val replacements = slotOf.map(values(_))
    val result = spliceAll(text, off, sortedDesc.map(e => (e.start, e.end)), replacements)
    val events = List.newBuilder[RawEvent]
    i = 0
    while (i < n) {
      val ent = sortedDesc(i)
      events += RawEvent(
        ent.typ,
        Some(originals(i)),
        Some(replacements(i)),
        ent.start,
        ent.start + replacements(i).codePointCount(0, replacements(i).length),
        ent.source
      )
      i += 1
    }
    (result, events.result())
  }

  /** `_blackbox_mode` (`replacer.py:83-102`) — length-preserving masking. */
  def blackboxMode(
      text: String,
      entities: Array[SpanEnt]
  ): (String, List[RawEvent]) = {
    val sortedDesc = entities.sortBy(e => -e.start)
    val off = new CpOffsets(text)
    val replacements = sortedDesc.map(e => "█" * (e.end - e.start))
    val result = spliceAll(text, off, sortedDesc.map(e => (e.start, e.end)), replacements)
    val events = List.newBuilder[RawEvent]
    var i = 0
    while (i < sortedDesc.length) {
      val ent = sortedDesc(i)
      events += RawEvent(ent.typ, None, None, ent.start,
        ent.start + replacements(i).length, ent.source)
      i += 1
    }
    (result, events.result())
  }

  /** Apply descending-sorted splices. Fast path: when spans are pairwise
    * non-overlapping (`end(k) <= start(k-1)` in descending order — the
    * common case after conflict resolution), one left-to-right pass builds
    * the result in O(n). Any residual overlap falls back to the exact
    * Python emulation (each splice re-applied to the evolving string).
    */
  private def spliceAll(
      text: String,
      off: CpOffsets,
      spansDesc: Array[(Int, Int)],
      replacementsDesc: Array[String]
  ): String = {
    val n = spansDesc.length
    if (n == 0) return text
    var overlapping = false
    var k = 1
    while (k < n && !overlapping) {
      if (spansDesc(k)._2 > spansDesc(k - 1)._1) overlapping = true
      k += 1
    }
    val cpLen = off.cpLen
    if (!overlapping) {
      val sb = new java.lang.StringBuilder(text.length + 64)
      var prevU16 = 0
      var i = n - 1 // ascending order
      while (i >= 0) {
        val (s, e) = spansDesc(i)
        val s2 = math.min(math.max(s, 0), cpLen)
        val e2 = math.min(math.max(e, s2), cpLen)
        val u16s = off.toU16(s2)
        val u16e = off.toU16(e2)
        if (u16s >= prevU16) {
          sb.append(text, prevU16, u16s)
          sb.append(replacementsDesc(i))
          prevU16 = u16e
        } else {
          // equal starts (zero-width collisions): keep exact emulation
          return spliceAllSlow(text, spansDesc, replacementsDesc)
        }
        i -= 1
      }
      sb.append(text, prevU16, text.length)
      sb.toString
    } else spliceAllSlow(text, spansDesc, replacementsDesc)
  }

  private def spliceAllSlow(
      text: String,
      spansDesc: Array[(Int, Int)],
      replacementsDesc: Array[String]
  ): String = {
    var cur = text
    var i = 0
    while (i < spansDesc.length) {
      cur = splice(cur, spansDesc(i)._1, spansDesc(i)._2, replacementsDesc(i))
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
