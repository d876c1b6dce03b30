package graft.pipeline

import graft.detect.CpOffsets
import graft.extract.HtmlExtract
import graft.functions.{Digests, FakeProvider, GraftSchemas}
import graft.model.{DeidEvent, Entity, SpanEnt}
import graft.redact.Redactor
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

/** The deid pipeline over a block of turns ([[DeidCore.process]] per
  * turn), in four steps:
  *  1. extract (optionally), detect and resolve each turn;
  *  2. collect each turn's distinct `type:original` keys — the reference's
  *     per-document memo (`replace/cache.py`);
  *  3. seed every key of the block in one [[FakeProvider.Batch]] pass and
  *     draw its value;
  *  4. splice each turn and build its events and replacement map.
  *
  * Results stay in flat per-block arrays until read with [[row]] or
  * [[result]]. A turn's spans are the flat slots `spanFrom(t) until
  * spanFrom(t + 1)`, and its keys `keyFrom(t) until keyFrom(t + 1)`.
  * Reusable; not thread-safe.
  */
final class DeidBlock {
  private val batch = new FakeProvider.Batch
  private val memo = new java.util.HashMap[String, Integer]()

  private var replace = true
  private var lang = "zh" // the entities' language

  // per turn
  private var n = 0
  private var text = new Array[String](1) // the redaction input; null for a null turn
  private var ents = new Array[Array[SpanEnt]](1) // resolved spans
  private var offs = new Array[CpOffsets](1)
  private var ctx = new Array[String](1) // context hash, when replacing a turn with spans
  private var out = new Array[String](1) // redacted text
  private var spanFrom = new Array[Int](2)
  private var keyFrom = new Array[Int](2)
  // per span, slot spanFrom(t) + r for the turn's r-th resolved span
  private var original = new Array[String](8) // its code-point slice of the text
  private var spanKey = new Array[Int](8)
  // per span in splice order (start descending, stable), slot spanFrom(t) + p
  private var desc = new Array[Int](8) // resolved index r of the p-th span
  private var start = new Array[Int](8)
  private var end = new Array[Int](8)
  private var repl = new Array[String](8)
  // per key
  private var keyType = new Array[String](8)
  private var keyName = new Array[String](8) // `type:original`
  private var keyCtx = new Array[String](8)
  private var keyValue = new Array[String](8)

  /** Runs the pipeline over `inputs(0 until n)`; a null input gives a null
    * row. With `extractHtml`, HTML inputs are reduced to their text first.
    */
  def processBlock(
      inputs: Array[String],
      n: Int,
      mode: String,
      lang: String,
      withStub: Boolean,
      extractHtml: Boolean
  ): Unit = {
    turns(n)
    this.lang = lang
    var t = 0
    while (t < n) {
      val raw = inputs(t)
      val s = if (raw != null && extractHtml && HtmlExtract.looksLikeHtml(raw)) {
        HtmlExtract.getText(raw)
      } else raw
      text(t) = s
      ents(t) = if (s == null) DeidBlock.NoSpans else DeidCore.detect(s, lang, withStub)
      t += 1
    }
    if (Redactor.normalizeMode(mode) == "replace") {
      t = 0
      while (t < n) {
        // the context hash (`replacer.py:46-48`), needed only to replace
        ctx(t) = if (ents(t).length > 0) Digests.sha256Hex(batch.sha, text(t)) else null
        t += 1
      }
      replaceTurns(isTw = true)
    } else blackboxTurns()
  }

  /** Replaces one turn's given spans: the block of one turn behind
    * [[Redactor.replaceMode]]. A null `ctx` is the sha256 of the text.
    */
  def replaceOne(text: String, spans: Array[SpanEnt], isTw: Boolean, ctx: String): Unit = {
    one(text, spans)
    this.ctx(0) = if (ctx != null || spans.isEmpty) ctx else Digests.sha256Hex(batch.sha, text)
    replaceTurns(isTw)
  }

  /** Masks one turn's given spans: the block of one turn behind
    * [[Redactor.blackboxMode]].
    */
  def blackboxOne(text: String, spans: Array[SpanEnt]): Unit = {
    one(text, spans)
    blackboxTurns()
  }

  private def one(text: String, spans: Array[SpanEnt]): Unit = {
    turns(1)
    this.text(0) = text
    ents(0) = spans
  }

  private def turns(n: Int): Unit = {
    this.n = n
    if (text.length < n) {
      text = new Array[String](n)
      ents = new Array[Array[SpanEnt]](n)
      offs = new Array[CpOffsets](n)
      ctx = new Array[String](n)
      out = new Array[String](n)
      spanFrom = new Array[Int](n + 1)
      keyFrom = new Array[Int](n + 1)
    }
  }

  /** Gives each turn its span slots, and makes room for them. */
  private def slots(): Unit = {
    var q = 0
    var t = 0
    while (t < n) {
      spanFrom(t) = q
      q += ents(t).length
      t += 1
    }
    spanFrom(n) = q
    if (original.length < q) {
      val c = math.max(q, 2 * original.length)
      original = new Array[String](c)
      spanKey = new Array[Int](c)
      desc = new Array[Int](c)
      start = new Array[Int](c)
      end = new Array[Int](c)
      repl = new Array[String](c)
      keyType = new Array[String](c)
      keyName = new Array[String](c)
      keyCtx = new Array[String](c)
      keyValue = new Array[String](c)
    }
  }

  // Replace and blackbox mode run apart, and the context hash comes from
  // the callers: a block job runs one mode with hashed contexts, so the
  // JIT compiles its loops without branches that a one-turn caller's mode
  // or given hash would take

  /** Steps 2-4 in replace mode. */
  private def replaceTurns(isTw: Boolean): Unit = {
    replace = true
    slots()
    var k = 0
    var t = 0
    while (t < n) {
      keyFrom(t) = k
      k = keys(t, k)
      t += 1
    }
    keyFrom(n) = k
    batch.generate(keyType, keyName, keyCtx, k, isTw, keyValue)
    t = 0
    while (t < n) {
      val q = spanFrom(t)
      var p = q
      while (p < spanFrom(t + 1)) {
        repl(p) = keyValue(spanKey(q + desc(p)))
        p += 1
      }
      splice(t)
      t += 1
    }
  }

  /** Steps 2 and 4 in blackbox mode, which has no keys. */
  private def blackboxTurns(): Unit = {
    replace = false
    slots()
    var t = 0
    while (t < n) {
      keyFrom(t) = 0
      order(t)
      val es = ents(t)
      val q = spanFrom(t)
      var p = q
      while (p < spanFrom(t + 1)) {
        val e = es(desc(p))
        repl(p) = "█" * (e.end - e.start)
        p += 1
      }
      splice(t)
      t += 1
    }
    keyFrom(n) = 0
  }

  /** Slices turn `t`'s spans from its text and puts them in splice order. */
  private def order(t: Int): Unit = {
    val es = ents(t)
    val m = es.length
    if (m > 0) {
      val q = spanFrom(t)
      val off = new CpOffsets(text(t))
      offs(t) = off
      var r = 0
      while (r < m) {
        original(q + r) = off.slice(es(r).start, es(r).end)
        // insertion into the descending-start order; equal starts keep
        // their resolved order (a stable sort by -start)
        val st = es(r).start
        var p = r
        while (p > 0 && es(desc(q + p - 1)).start < st) {
          desc(q + p) = desc(q + p - 1)
          p -= 1
        }
        desc(q + p) = r
        r += 1
      }
    }
  }

  /** Orders turn `t`'s spans and gives each its key, the turn's distinct
    * keys taking the slots from `k`; returns the next free slot.
    */
  private def keys(t: Int, k: Int): Int = {
    order(t)
    val es = ents(t)
    val m = es.length
    val q = spanFrom(t)
    if (m > 1) memo.clear()
    var next = k
    var p = 0
    while (p < m) {
      val r = desc(q + p)
      val e = es(r)
      val name = e.typ + ":" + original(q + r)
      val slot = if (m == 1) null else memo.putIfAbsent(name, next)
      if (slot == null) {
        keyType(next) = e.typ
        keyName(next) = name
        keyCtx(next) = ctx(t)
        spanKey(q + r) = next
        next += 1
      } else spanKey(q + r) = slot
      p += 1
    }
    next
  }

  /** Splices turn `t`'s replacements, already in `repl`, into its text. */
  private def splice(t: Int): Unit = {
    val es = ents(t)
    val m = es.length
    if (m == 0) out(t) = text(t)
    else {
      val q = spanFrom(t)
      var p = 0
      while (p < m) {
        val e = es(desc(q + p))
        start(q + p) = e.start
        end(q + p) = e.end
        p += 1
      }
      out(t) = Redactor.spliceAll(text(t), offs(t), start, end, repl, q, m)
      offs(t) = null
    }
  }

  /** MT19937 states seeded by the last block. */
  def seeded: Int = if (replace) batch.seeded else 0

  /** Nanoseconds the last block spent seeding them. */
  def seedNs: Long = if (replace) batch.seedNs else 0L

  /** Turn `t`'s redacted text. */
  def redactedText(t: Int): String = out(t)

  /** Turn `t` as a `struct<text, entities, events, replacement_map>`
    * ([[GraftSchemas.deidResultType]]), or null for a null input.
    */
  def row(t: Int): InternalRow = {
    if (text(t) == null) return null
    val es = ents(t)
    val q = spanFrom(t)
    val m = es.length
    // each span's strings, shared by its entity and its event
    val origU = new Array[UTF8String](m)
    val typU = new Array[UTF8String](m)
    val srcU = new Array[UTF8String](m)
    val langU = GraftSchemas.utf8(lang)
    val entities = new Array[Any](m)
    var r = 0
    while (r < m) {
      val e = es(r)
      origU(r) = UTF8String.fromString(original(q + r))
      typU(r) = GraftSchemas.utf8(e.typ)
      srcU(r) = GraftSchemas.utf8(e.source)
      entities(r) = new GenericInternalRow(Array[Any](typU(r), e.score, e.score, srcU(r), langU,
        e.start, e.end, origU(r)))
      r += 1
    }
    val nEvents = if (replace) m else 0
    val events = new Array[Any](nEvents)
    var p = 0
    while (p < nEvents) {
      val r = desc(q + p)
      val e = es(r)
      val v = repl(q + p)
      events(p) = new GenericInternalRow(Array[Any](typU(r), origU(r), UTF8String.fromString(v),
        e.start, e.start + v.codePointCount(0, v.length), srcU(r)))
      p += 1
    }
    val k0 = keyFrom(t)
    val nKeys = keyFrom(t + 1) - k0 // none in blackbox mode
    val keys = new Array[Any](nKeys)
    val values = new Array[Any](nKeys)
    var k = 0
    while (k < nKeys) {
      keys(k) = UTF8String.fromString(keyName(k0 + k))
      values(k) = UTF8String.fromString(keyValue(k0 + k))
      k += 1
    }
    new GenericInternalRow(Array[Any](
      UTF8String.fromString(out(t)),
      new GenericArrayData(entities),
      new GenericArrayData(events),
      new ArrayBasedMapData(new GenericArrayData(keys), new GenericArrayData(values))))
  }

  /** Turn `t` as a [[DeidCore.Result]]. The replacement map keeps the keys
    * in first-event order, as the reference's ordered dict does.
    */
  def result(t: Int): DeidCore.Result = {
    val es = ents(t)
    val q = spanFrom(t)
    var entities = List.empty[Entity]
    var events = List.empty[DeidEvent]
    var i = es.length - 1
    while (i >= 0) {
      val e = es(i)
      entities = Entity(e.typ, e.score, e.score, e.source, lang, e.start, e.end, original(q + i)) ::
        entities
      if (replace) {
        val r = desc(q + i)
        val d = es(r)
        val v = repl(q + i)
        events = DeidEvent(d.typ, original(q + r), v, d.start,
          d.start + v.codePointCount(0, v.length), d.source) :: events
      }
      i -= 1
    }
    val map = scala.collection.immutable.ListMap.newBuilder[String, String]
    var k = keyFrom(t)
    while (k < keyFrom(t + 1)) {
      map += keyName(k) -> keyValue(k)
      k += 1
    }
    DeidCore.Result(out(t), entities, events, map.result())
  }

  /** Turn `t`'s events as the replacer emits them, in splice order. */
  def rawEvents(t: Int): List[Redactor.RawEvent] = {
    val es = ents(t)
    val q = spanFrom(t)
    var events = List.empty[Redactor.RawEvent]
    var p = es.length - 1
    while (p >= 0) {
      val r = desc(q + p)
      val e = es(r)
      val v = repl(q + p)
      events = (if (replace) {
        Redactor.RawEvent(e.typ, Some(original(q + r)), Some(v), e.start,
          e.start + v.codePointCount(0, v.length), e.source)
      } else Redactor.RawEvent(e.typ, None, None, e.start, e.start + v.length, e.source)) :: events
      p -= 1
    }
    events
  }
}

object DeidBlock {
  private val NoSpans = new Array[SpanEnt](0)

  private val blocks: ThreadLocal[DeidBlock] = ThreadLocal.withInitial(() => new DeidBlock)

  /** The calling thread's block, for blocks of one turn. */
  def local: DeidBlock = blocks.get()
}
