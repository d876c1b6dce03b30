package graft.functions

import graft.detect.{AhoCorasick, Detectors, Resolver}
import graft.extract.HtmlExtract
import graft.model.{DeidEvent, Entity, SpanEnt}
import graft.pipeline.DeidCore
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Custom Catalyst expressions (SURVEY §2.10).
  *
  * Why not built-ins / UDFs: `regexp_extract_all` drops offsets and per-rule
  * type tags; a Scala UDF pays catalyst↔scala converters on nested arrays.
  * These expressions evaluate straight to InternalRow-compatible values
  * (UTF8String / GenericArrayData / ArrayBasedMapData), so the surrounding
  * projection stays in one WholeStageCodegen stage with only this leaf as a
  * CodegenFallback call.
  *
  * All regex Patterns / automatons are built once per JVM in statics
  * (executor-side lazy vals), mirroring the reference's detector memoization
  * (`runtime/registry.py:10-51`).
  */
object GraftSchemas {
  val spanEntType: StructType = StructType(Seq(
    StructField("start", IntegerType, nullable = false),
    StructField("end", IntegerType, nullable = false),
    StructField("typ", StringType, nullable = false),
    StructField("score", DoubleType, nullable = false),
    StructField("source", StringType, nullable = false)
  ))

  val entityType: StructType = StructType(Seq(
    StructField("typ", StringType, nullable = false),
    StructField("confidence", DoubleType, nullable = false),
    StructField("score", DoubleType, nullable = false),
    StructField("source", StringType, nullable = false),
    StructField("language", StringType, nullable = false),
    StructField("start", IntegerType, nullable = false),
    StructField("end", IntegerType, nullable = false),
    StructField("text", StringType, nullable = false)
  ))

  val eventType: StructType = StructType(Seq(
    StructField("entity_type", StringType, nullable = false),
    StructField("original", StringType, nullable = false),
    StructField("replacement", StringType, nullable = false),
    StructField("start", IntegerType, nullable = false),
    StructField("end", IntegerType, nullable = false),
    StructField("source", StringType, nullable = false)
  ))

  val deidResultType: StructType = StructType(Seq(
    StructField("text", StringType, nullable = false),
    StructField("entities", ArrayType(entityType, containsNull = false), nullable = false),
    StructField("events", ArrayType(eventType, containsNull = false), nullable = false),
    StructField("replacement_map", MapType(StringType, StringType, valueContainsNull = false),
      nullable = false)
  ))

  val tokenType: StructType = StructType(Seq(
    StructField("token", StringType, nullable = false),
    StructField("start", IntegerType, nullable = false),
    StructField("end", IntegerType, nullable = false)
  ))

  /** The UTF-8 encodings of the constant strings of detector and deid
    * rows — rule types, sources and languages — made once, not per row.
    */
  private val constantUtf8: java.util.HashMap[String, UTF8String] = {
    import graft.detect.RegexRules
    val constants = (RegexRules.zh ++ RegexRules.en ++ RegexRules.stub).map(_.typ) ++
      RegexRules.entityPriority.keys ++ Seq("regex", "regex_stub", "zh", "en")
    val m = new java.util.HashMap[String, UTF8String]()
    constants.foreach(c => m.put(c, UTF8String.fromString(c)))
    m
  }

  /** `UTF8String.fromString(s)`, shared for the constant strings. */
  def utf8(s: String): UTF8String = {
    val u = constantUtf8.get(s)
    if (u != null) u else UTF8String.fromString(s)
  }

  def spanEntRow(e: SpanEnt): InternalRow =
    new GenericInternalRow(Array[Any](e.start, e.end, utf8(e.typ), e.score, utf8(e.source)))

  def entityRow(e: Entity): InternalRow =
    new GenericInternalRow(Array[Any](utf8(e.typ), e.confidence, e.score,
      utf8(e.source), utf8(e.language), e.start, e.end, UTF8String.fromString(e.text)))

  def eventRow(e: DeidEvent): InternalRow =
    new GenericInternalRow(Array[Any](utf8(e.entity_type), UTF8String.fromString(e.original),
      UTF8String.fromString(e.replacement), e.start, e.end, utf8(e.source)))

  /** `array<row(x)>` over `xs` in order. */
  def rowArray[T](xs: List[T], row: T => InternalRow): GenericArrayData = {
    val a = new Array[Any](xs.length)
    var rest = xs
    var i = 0
    while (rest.nonEmpty) {
      a(i) = row(rest.head)
      rest = rest.tail
      i += 1
    }
    new GenericArrayData(a)
  }

  /** A `map<string,string>` with `m`'s entries in its iteration order. */
  def stringMap(m: Map[String, String]): ArrayBasedMapData = {
    val keys = new Array[Any](m.size)
    val values = new Array[Any](m.size)
    var i = 0
    m.foreach { case (k, v) =>
      keys(i) = UTF8String.fromString(k)
      values(i) = UTF8String.fromString(v)
      i += 1
    }
    new ArrayBasedMapData(new GenericArrayData(keys), new GenericArrayData(values))
  }

  /** Engine whitespace-tokenizer — compiled once per JVM, shared by the
    * tokenizing expressions (a per-row Pattern.compile in a hot eval path
    * is pure waste). Pinned to the EXPLICIT Java `\s` character class
    * `[ \t\n\x0B\f\r]` rather than the `\S+` shorthand: RE2 (the DuckDB
    * oracle dialect) excludes `\x0B` (vertical tab) from `\s`, so the
    * shorthand would silently diverge between engine and oracle on texts
    * containing `\x0B`. The oracle SQL carries the same explicit class
    * ([[graft.SparkEntry.oracleSql]]) and the unicode fuzz alphabet
    * includes `\x0B` (RobustnessSpec), so a drift on this class fails a
    * test instead of a production corpus.
    */
  val wsTokenPattern: java.util.regex.Pattern =
    java.util.regex.Pattern.compile("[^ \\t\\n\\x0B\\f\\r]+")
}

/** `RegexDetectSpans(text)` — D1 (+D2 stub, +D7 resolution when `resolve`).
  * Returns `array<struct<start,end,typ,score,source>>` in detector emission
  * order (or resolved order when `resolve=true`).
  */
case class RegexDetectExpr(
    child: Expression,
    lang: String = "zh",
    withStub: Boolean = false,
    resolve: Boolean = true
) extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(GraftSchemas.spanEntType, containsNull = false)
  override def prettyName: String = "graft_regex_detect"

  override def nullSafeEval(input: Any): Any = {
    val text = input.asInstanceOf[UTF8String].toString
    val ents = DeidCore.detectRaw(text, lang, withStub)
    val out = if (resolve) Resolver.resolve(ents) else ents
    new GenericArrayData(out.map(GraftSchemas.spanEntRow))
  }

  override protected def withNewChildInternal(newChild: Expression): RegexDetectExpr =
    copy(child = newChild)
}

/** `DictDetectSpans(text)` — Aho–Corasick gazetteer scan (north rule). */
case class DictDetectExpr(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(GraftSchemas.spanEntType, containsNull = false)
  override def prettyName: String = "graft_dict_detect"

  override def nullSafeEval(input: Any): Any = {
    val text = input.asInstanceOf[UTF8String].toString
    new GenericArrayData(AhoCorasick.default.detect(text).map(GraftSchemas.spanEntRow))
  }

  override protected def withNewChildInternal(newChild: Expression): DictDetectExpr =
    copy(child = newChild)
}

/** The whole per-turn pipeline as one expression: (extract?) → detect →
  * resolve → redact → normalize. Returns
  * `struct<text, entities, events, replacement_map>`.
  */
case class DeidTurnExpr(
    child: Expression,
    mode: String = "replace",
    lang: String = "zh",
    withStub: Boolean = false,
    extractHtml: Boolean = true
) extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = GraftSchemas.deidResultType
  override def prettyName: String = "graft_deid"

  override def nullSafeEval(input: Any): Any = {
    val raw = input.asInstanceOf[UTF8String].toString
    val text =
      if (extractHtml && HtmlExtract.looksLikeHtml(raw)) HtmlExtract.getText(raw)
      else raw
    val r = DeidCore.process(text, mode, lang, withStub)
    new GenericInternalRow(Array[Any](
      UTF8String.fromString(r.text),
      GraftSchemas.rowArray(r.entities, GraftSchemas.entityRow),
      GraftSchemas.rowArray(r.events, GraftSchemas.eventRow),
      GraftSchemas.stringMap(r.replacementMap)
    ))
  }

  override protected def withNewChildInternal(newChild: Expression): DeidTurnExpr =
    copy(child = newChild)
}

/** bs4 `get_text("\n")`-parity HTML strip (S3). */
case class HtmlTextExpr(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = StringType
  override def prettyName: String = "graft_html_text"
  override def nullSafeEval(input: Any): Any =
    UTF8String.fromString(HtmlExtract.getText(input.asInstanceOf[UTF8String].toString))
  override protected def withNewChildInternal(newChild: Expression): HtmlTextExpr =
    copy(child = newChild)
}

/** Density-scored main-content extraction (north rule, additive mode). */
case class HtmlMainExpr(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = StringType
  override def prettyName: String = "graft_html_main"
  override def nullSafeEval(input: Any): Any =
    UTF8String.fromString(HtmlExtract.mainContent(input.asInstanceOf[UTF8String].toString))
  override protected def withNewChildInternal(newChild: Expression): HtmlMainExpr =
    copy(child = newChild)
}

/** `\S+` whitespace tokenizer with code-point offsets (P9,
  * `training/masked_pairs.py:45-51`).
  */
case class TokensWithOffsetsExpr(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType =
    ArrayType(GraftSchemas.tokenType, containsNull = false)
  override def prettyName: String = "graft_tokens"

  override def nullSafeEval(input: Any): Any = {
    val text = input.asInstanceOf[UTF8String].toString
    val off = new graft.detect.CpCursor(text)
    val m = GraftSchemas.wsTokenPattern.matcher(text)
    val buf = scala.collection.mutable.ArrayBuffer.empty[InternalRow]
    while (m.find()) {
      buf += InternalRow(UTF8String.fromString(m.group()),
        off.toCp(m.start), off.toCp(m.end))
    }
    new GenericArrayData(buf.toArray)
  }

  override protected def withNewChildInternal(newChild: Expression): TokensWithOffsetsExpr =
    copy(child = newChild)
}

/** 64-bit SimHash over lowercased `\S+` tokens: per-token 64-bit hash
  * (FNV-1a + splitmix64 finalizer), per-bit vote weighted by term count,
  * signature bit = sign of vote. Near-dup search pairs this with a
  * pigeonhole band join ([[graft.ops.Dedup.simhashNearDups]]).
  */
case class SimHash64Expr(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_simhash64"

  override def nullSafeEval(input: Any): Any = {
    val text = input.asInstanceOf[UTF8String].toString
    SimHash64Expr.simhash(text)
  }

  override protected def withNewChildInternal(newChild: Expression): SimHash64Expr =
    copy(child = newChild)
}

object SimHash64Expr {
  def hash64(s: String): Long = {
    // FNV-1a 64 over UTF-8 bytes, then splitmix64 finalizer for avalanche
    var h = 0xcbf29ce484222325L
    val bytes = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var i = 0
    while (i < bytes.length) {
      h ^= (bytes(i) & 0xffL)
      h *= 0x100000001b3L
      i += 1
    }
    var z = h + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  def simhash(text: String): Long = {
    val votes = new Array[Int](64)
    // Locale.ROOT: default-locale toLowerCase is machine-dependent (tr_TR
    // dotless-i would change signatures across executors/clusters); features
    // are the engine whitespace-class tokens of the ROOT-lowercased text,
    // so the signature is a pure function of the token MULTISET — the
    // property the dedup_simhash_pairs oracle pins.
    val m = GraftSchemas.wsTokenPattern.matcher(
      text.toLowerCase(java.util.Locale.ROOT))
    while (m.find()) {
      val h = hash64(m.group())
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) != 0L) votes(b) += 1 else votes(b) -= 1
        b += 1
      }
    }
    var sig = 0L
    var b = 0
    while (b < 64) {
      if (votes(b) > 0) sig |= (1L << b)
      b += 1
    }
    sig
  }
}

/** Single-pass MinHash signature over k-word shingles — `array<long>` of
  * `numHashes` minima.
  *
  * Bit-identical to the HOF formulation
  * `transform(sequence(0, H-1), h -> array_min(transform(shingles, s ->
  * xxhash64(s, h))))` (pinned by DedupSpec), but evaluated in ONE pass:
  * each shingle's bytes are xxhash'd once (`XXH64.hashUTF8String`, seed 42 —
  * exactly `xxhash64`'s running-hash over a string child), then the H
  * per-function values derive via `hashInt(h, base)` — H integer mixes
  * instead of H interpreted array traversals re-hashing every string. This
  * was the round-1 bench's dominant cost (64 interpreted HOF passes per doc).
  */
case class MinHashSigExpr(child: Expression, numHashes: Int = 64, k: Int = 3)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_minhash_sig"

  override def nullSafeEval(input: Any): Any = {
    import org.apache.spark.sql.catalyst.expressions.XXH64
    // replicate split(trim(lower(text)), "\s+") on UTF8String exactly
    val s = input.asInstanceOf[UTF8String].toLowerCase.trim()
    val toks = s.split(UTF8String.fromString("\\s+"), -1)
    val sig = Array.fill(numHashes)(Long.MaxValue)
    def mix(sh: UTF8String): Unit = {
      val base = XXH64.hashUTF8String(sh, 42L)
      var h = 0
      while (h < numHashes) {
        val v = XXH64.hashInt(h, base)
        if (v < sig(h)) sig(h) = v
        h += 1
      }
    }
    if (toks.length < k) {
      // short-text fallback: one shingle = all tokens joined (concat_ws " ")
      mix(UTF8String.concatWs(UTF8String.fromString(" "), toks: _*))
    } else {
      var i = 0
      val sep = UTF8String.fromString(" ")
      while (i <= toks.length - k) {
        mix(UTF8String.concatWs(sep, toks.slice(i, i + k).toIndexedSeq: _*))
        i += 1
      }
    }
    new GenericArrayData(sig)
  }

  override protected def withNewChildInternal(newChild: Expression): MinHashSigExpr =
    copy(child = newChild)
}

/** difflib `SequenceMatcher.ratio()` clone (G4, `deid_eval.py:140-143`) —
  * Ratcliff–Obershelp over code points, without difflib's junk/autojunk
  * popularity heuristic for b-elements longer than 200 (autojunk IS applied
  * when len(b) > 200, replicated here).
  */
case class SeqMatcherRatioExpr(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression with CodegenFallback {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_seq_ratio"

  override def nullSafeEval(l: Any, r: Any): Any =
    SeqMatcher.ratio(l.asInstanceOf[UTF8String].toString,
      r.asInstanceOf[UTF8String].toString)

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SeqMatcherRatioExpr =
    copy(left = newLeft, right = newRight)
}

/** `repetition_3gram_rate` (G7, `deid_eval.py:257-268`): sliding char
  * 3-grams (code points); repeated-gram mass / total grams.
  */
case class Rep3GramExpr(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_rep3gram"

  override def nullSafeEval(input: Any): Any = {
    val raw = input.asInstanceOf[UTF8String].toString
    val cps = raw.codePoints().toArray
    if (cps.length < 3) 0.0d
    else {
      val n = cps.length - 2
      val counts = new java.util.HashMap[Long, Int](n * 2)
      var i = 0
      while (i < n) {
        // pack 3 code points (21 bits each) into one long key
        val key = (cps(i).toLong << 42) | (cps(i + 1).toLong << 21) | cps(i + 2).toLong
        counts.merge(key, 1, (a, b) => a + b)
        i += 1
      }
      var repeated = 0L
      val it = counts.values().iterator()
      while (it.hasNext) { val v = it.next(); if (v > 1) repeated += v }
      repeated.toDouble / n.toDouble
    }
  }

  override protected def withNewChildInternal(newChild: Expression): Rep3GramExpr =
    copy(child = newChild)
}

/** Cosine similarity over two `array<double>` columns — a tight primitive
  * loop. The built-in `aggregate`/`zip_with` HOF route is CodegenFallback
  * with per-element boxed lambdas, ~30× slower on 64-dim vectors at
  * millions of candidate pairs.
  */
case class CosineSimExpr(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression with CodegenFallback {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_cosine"

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val b = r.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      val x = a.getDouble(i)
      val y = b.getDouble(i)
      dot += x * y
      na += x * x
      nb += y * y
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSimExpr =
    copy(left = newLeft, right = newRight)
}

/** K2 — whole-document CSV rewrite: extract cells → deid → cell-anchored
  * first-occurrence replacement → `csv.writer`-shaped render. Returns
  * `struct<csv:string, n_entities:int>`.
  */
case class CsvDeidExpr(child: Expression, mode: String = "replace", lang: String = "zh")
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = StructType(Seq(
    StructField("csv", StringType, nullable = false),
    StructField("n_entities", IntegerType, nullable = false)))
  override def prettyName: String = "graft_csv_deid"

  override def nullSafeEval(input: Any): Any = {
    val (csv, n) = graft.sources.FormatJobs.rewriteCsvText(
      input.asInstanceOf[UTF8String].toString, mode, lang)
    InternalRow(UTF8String.fromString(csv), n)
  }

  override protected def withNewChildInternal(newChild: Expression): CsvDeidExpr =
    copy(child = newChild)
}

/** S5 — per-page PDF extraction with the OCR-fallback trigger flag:
  * `array<struct<page:int, text:string, needs_ocr:boolean>>`.
  */
case class PdfPagesExpr(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("page", IntegerType, nullable = false),
    StructField("text", StringType, nullable = false),
    StructField("needs_ocr", BooleanType, nullable = false))), containsNull = false)
  override def prettyName: String = "graft_pdf_pages"

  override def nullSafeEval(input: Any): Any = {
    val pages = graft.extract.PdfExtract.extractPages(input.asInstanceOf[Array[Byte]])
    new GenericArrayData(pages.map(p =>
      InternalRow(p.page, UTF8String.fromString(p.text), p.needsOcr)).toArray)
  }

  override protected def withNewChildInternal(newChild: Expression): PdfPagesExpr =
    copy(child = newChild)
}

/** S9 — XLSX cell extraction over a binary workbook column: concatenated
  * document text ("\n"-joined non-empty cells, `handlers/xlsx.py:21-51`).
  */
case class XlsxTextExpr(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = StringType
  override def prettyName: String = "graft_xlsx_text"
  override def nullSafeEval(input: Any): Any =
    UTF8String.fromString(
      graft.extract.XlsxExtract.extract(input.asInstanceOf[Array[Byte]]).text)
  override protected def withNewChildInternal(newChild: Expression): XlsxTextExpr =
    copy(child = newChild)
}

/** K — XLSX cell-targeted rewrite: extract → deid → first-occurrence cell
  * replacement → re-serialized workbook. `struct<xlsx:binary, n_entities:int>`.
  */
case class XlsxDeidExpr(child: Expression, mode: String = "replace", lang: String = "zh")
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = StructType(Seq(
    StructField("xlsx", BinaryType, nullable = false),
    StructField("n_entities", IntegerType, nullable = false)))
  override def prettyName: String = "graft_xlsx_deid"

  override def nullSafeEval(input: Any): Any = {
    val (bytes, n) = graft.sources.FormatJobs.rewriteXlsx(
      input.asInstanceOf[Array[Byte]], mode, lang)
    InternalRow(bytes, n)
  }

  override protected def withNewChildInternal(newChild: Expression): XlsxDeidExpr =
    copy(child = newChild)
}

/** Deterministic synthetic one-sheet workbook from text (fixtures/bench):
  * row i holds one whitespace token per `\n`-separated line — so
  * extract(synth(text)).text round-trips the tokenized text.
  */
case class XlsxSynthExpr(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = BinaryType
  override def prettyName: String = "graft_xlsx_synth"

  override def nullSafeEval(input: Any): Any = {
    val text = input.asInstanceOf[UTF8String].toString
    val cells = text.split("\n", -1).zipWithIndex.flatMap { case (line, r) =>
      line.split(" ", -1).filter(_.nonEmpty).zipWithIndex.map { case (tok, c) =>
        graft.extract.XlsxExtract.Cell("Sheet1", r + 1, c + 1,
          s"${graft.extract.XlsxExtract.colLetters(c + 1)}${r + 1}", tok)
      }
    }
    graft.extract.XlsxBuilder.build(Seq("Sheet1" -> cells.toSeq))
  }

  override protected def withNewChildInternal(newChild: Expression): XlsxSynthExpr =
    copy(child = newChild)
}

/** S8/S10 — DOCX/PPTX extraction over a binary column: the "\n"-joined
  * document text (`handlers/docx.py:21-31`, `pptx.py:21-36`).
  */
case class OfficeTextExpr(child: Expression, format: String)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = StringType
  override def prettyName: String = s"graft_${format}_text"
  override def nullSafeEval(input: Any): Any = {
    val bytes = input.asInstanceOf[Array[Byte]]
    val doc = format match {
      case "docx" => graft.extract.DocxExtract.extract(bytes)
      case _      => graft.extract.PptxExtract.extract(bytes)
    }
    UTF8String.fromString(doc.text)
  }
  override protected def withNewChildInternal(newChild: Expression): OfficeTextExpr =
    copy(child = newChild)
}

/** K — DOCX/PPTX anchor-free replace-all rebuild:
  * `struct<doc:binary, n_entities:int>`.
  */
case class OfficeDeidExpr(
    child: Expression,
    format: String,
    mode: String = "replace",
    lang: String = "zh"
) extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = StructType(Seq(
    StructField("doc", BinaryType, nullable = false),
    StructField("n_entities", IntegerType, nullable = false)))
  override def prettyName: String = s"graft_${format}_deid"

  override def nullSafeEval(input: Any): Any = {
    val bytes = input.asInstanceOf[Array[Byte]]
    val (out, n) = format match {
      case "docx" => graft.sources.FormatJobs.rewriteDocx(bytes, mode, lang)
      case _      => graft.sources.FormatJobs.rewritePptx(bytes, mode, lang)
    }
    InternalRow(out, n)
  }
  override protected def withNewChildInternal(newChild: Expression): OfficeDeidExpr =
    copy(child = newChild)
}

/** Deterministic synthetic DOCX (paragraph per line) / PPTX (shape per line)
  * from text — fixtures/bench.
  */
case class OfficeSynthExpr(child: Expression, format: String)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = BinaryType
  override def prettyName: String = s"graft_${format}_synth"
  override def nullSafeEval(input: Any): Any = {
    val lines = input.asInstanceOf[UTF8String].toString.split("\n", -1).toSeq
    format match {
      case "docx" => graft.extract.DocxBuilder.build(lines)
      case _ => graft.extract.PptxBuilder.build(lines.zipWithIndex.map(_.swap).map {
        case (i, l) => (i, l)
      })
    }
  }
  override protected def withNewChildInternal(newChild: Expression): OfficeSynthExpr =
    copy(child = newChild)
}

/** All sign-bit LSH table buckets in ONE pass: `array<long>` of `tables`
  * bucket ids for a `array<double>` vector. Bit i of table t = sign of
  * dot(vec, planes[t*bits+i]) — identical to the per-plane
  * `when(dot > 0, 1<<i)` HOF column sum (pinned in OpsSpec) but a primitive
  * loop instead of tables×bits interpreted `aggregate`/`zip_with`
  * evaluations per row.
  */
case class LshBucketsExpr(child: Expression, planes: Seq[Seq[Double]], bits: Int)
    extends UnaryExpression with CodegenFallback {
  require(planes.length % bits == 0)
  private val tables = planes.length / bits
  @transient private lazy val flat: Array[Array[Double]] = planes.map(_.toArray).toArray

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_lsh_buckets"

  override def nullSafeEval(input: Any): Any = {
    val vec = input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val out = new Array[Long](tables)
    var t = 0
    while (t < tables) {
      var bucket = 0L
      var i = 0
      while (i < bits) {
        val p = flat(t * bits + i)
        val n = math.min(vec.numElements(), p.length)
        var dot = 0.0
        var j = 0
        while (j < n) { dot += vec.getDouble(j) * p(j); j += 1 }
        if (dot > 0) bucket |= (1L << i)
        i += 1
      }
      out(t) = bucket
      t += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): LshBucketsExpr =
    copy(child = newChild)
}

/** Top-`nprobe` nearest centroids (by cosine, ties to the lower id) for an
  * `array<double>` vector — the IVF coarse-quantizer leaf. Centroids are
  * baked into the expression (k×dim literals, broadcast with the task
  * closure); one primitive pass computes all k similarities.
  */
case class NearestCentroidsExpr(
    child: Expression,
    centroids: Seq[Seq[Double]],
    nprobe: Int
) extends UnaryExpression with CodegenFallback {
  @transient private lazy val cs: Array[Array[Double]] = centroids.map(_.toArray).toArray
  @transient private lazy val norms: Array[Double] =
    cs.map(c => math.sqrt(c.map(x => x * x).sum))

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "graft_nearest_centroids"

  override def nullSafeEval(input: Any): Any = {
    val vec = input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val n = vec.numElements()
    val sims = new Array[Double](cs.length)
    var c = 0
    while (c < cs.length) {
      val cv = cs(c)
      val m = math.min(n, cv.length)
      var dot = 0.0
      var nv = 0.0
      var i = 0
      while (i < m) {
        val x = vec.getDouble(i)
        dot += x * cv(i)
        nv += x * x
        i += 1
      }
      sims(c) = if (norms(c) == 0 || nv == 0) -2.0 else dot / (math.sqrt(nv) * norms(c))
      c += 1
    }
    val order = sims.indices.sortBy(i => (-sims(i), i)).take(math.min(nprobe, cs.length))
    new GenericArrayData(order.toArray)
  }

  override protected def withNewChildInternal(newChild: Expression): NearestCentroidsExpr =
    copy(child = newChild)
}

/** Layout-ordered PDF text extraction over a `binary` payload column (S4). */
case class PdfTextExpr(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = StringType
  override def prettyName: String = "graft_pdf_text"
  override def nullSafeEval(input: Any): Any =
    UTF8String.fromString(
      graft.extract.PdfExtract.extractText(input.asInstanceOf[Array[Byte]]))
  override protected def withNewChildInternal(newChild: Expression): PdfTextExpr =
    copy(child = newChild)
}

/** A2/K3 — whole-document PDF redaction: detect per block → resolve rects →
  * rebuild with covered glyphs removed + black fills.
  * `struct<pdf:binary, n_rects:int, text:string>` — `text` is the rebuilt
  * document re-extracted (the roundtrip "PII is really gone" evidence),
  * computed HERE so consumers checking it don't re-parse the PDF per
  * predicate (CodegenFallback exprs get no common-subexpression
  * elimination guarantee).
  */
case class PdfRedactExpr(child: Expression, lang: String = "zh")
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = StructType(Seq(
    StructField("pdf", BinaryType, nullable = false),
    StructField("n_rects", IntegerType, nullable = false),
    StructField("text", StringType, nullable = false)))
  override def prettyName: String = "graft_pdf_redact"

  override def nullSafeEval(input: Any): Any = {
    val (out, rects) = graft.extract.PdfRedact.redact(
      input.asInstanceOf[Array[Byte]], lang)
    InternalRow(out, rects.length,
      UTF8String.fromString(graft.extract.PdfExtract.extractText(out)))
  }

  override protected def withNewChildInternal(newChild: Expression): PdfRedactExpr =
    copy(child = newChild)
}

/** K3-general — whole-document redaction via [[graft.extract.PdfRewrite]]
  * (real-world PDF constructs: object streams, filter chains, font-encoded
  * text). `struct<n_rects:int, text:string>`; `text` is the rebuilt file
  * re-extracted — the "PII is really gone" roundtrip, computed here so
  * consumers don't re-parse per predicate.
  */
case class PdfRewriteExpr(child: Expression, lang: String = "zh")
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = StructType(Seq(
    StructField("n_rects", IntegerType, nullable = false),
    StructField("text", StringType, nullable = false)))
  override def prettyName: String = "graft_pdf_rewrite"

  override def nullSafeEval(input: Any): Any = {
    val (out, rects) = graft.extract.PdfRewrite.redact(
      input.asInstanceOf[Array[Byte]], lang)
    InternalRow(rects.length,
      UTF8String.fromString(graft.extract.PdfExtract.extractText(out)))
  }

  override protected def withNewChildInternal(newChild: Expression): PdfRewriteExpr =
    copy(child = newChild)
}

/** Deterministic synthetic PDF payload from text (fixture/bench generator —
  * see [[graft.extract.PdfBuilder]]).
  */
case class PdfSynthExpr(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = BinaryType
  override def prettyName: String = "graft_pdf_synth"
  override def nullSafeEval(input: Any): Any =
    graft.extract.PdfBuilder.singlePage(input.asInstanceOf[UTF8String].toString)
  override protected def withNewChildInternal(newChild: Expression): PdfSynthExpr =
    copy(child = newChild)
}

/** D10 — PII-markup block extraction (`training/pii_markup.py:42-65`):
  * `<PII type='X'>v</PII>` / `[X]v[/X]` blocks with value and block spans
  * (code points). Promoted from a driver `udf` to match the engine's
  * expression convention (no Row↔case-class codec, SQL-surface parity).
  */
case class PiiMarkupExtractExpr(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("pii_type", StringType, nullable = false),
    StructField("value", StringType, nullable = false),
    StructField("value_start", IntegerType, nullable = false),
    StructField("value_end", IntegerType, nullable = false),
    StructField("block_start", IntegerType, nullable = false),
    StructField("block_end", IntegerType, nullable = false)
  )), containsNull = false)
  override def prettyName: String = "graft_pii_markup"

  override def nullSafeEval(input: Any): Any = {
    val blocks = graft.training.PiiMarkup
      .extractPiiBlocks(input.asInstanceOf[UTF8String].toString)
    new GenericArrayData(blocks.map(b => InternalRow(
      UTF8String.fromString(b.piiType), UTF8String.fromString(b.value),
      b.valueStart, b.valueEnd, b.blockStart, b.blockEnd)).toArray)
  }

  override protected def withNewChildInternal(newChild: Expression): PiiMarkupExtractExpr =
    copy(child = newChild)
}

/** D11 — masked-pair gold-span recovery (`training/masked_pairs.py:66-138`):
  * SequenceMatcher opcodes over whitespace tokens of (original, masked);
  * replace-blocks with placeholder tokens become entities.
  */
case class MaskedPairRecoverExpr(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("typ", StringType, nullable = false),
    StructField("start", IntegerType, nullable = false),
    StructField("end", IntegerType, nullable = false),
    StructField("text", StringType, nullable = false)
  )), containsNull = false)
  override def prettyName: String = "graft_masked_pair"

  override def nullSafeEval(orig: Any, masked: Any): Any = {
    val ents = graft.training.MaskedPairs.extractEntitiesFromMaskedPair(
      orig.asInstanceOf[UTF8String].toString,
      masked.asInstanceOf[UTF8String].toString)
    new GenericArrayData(ents.map(e => InternalRow(
      UTF8String.fromString(e.typ), e.start, e.end,
      UTF8String.fromString(e.text))).toArray)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): MaskedPairRecoverExpr =
    copy(left = newLeft, right = newRight)
}

/** R6 — span placeholderization (`training/placeholders.py:34-70`): detect
  * (resolved) spans, replace each right-to-left with `<TYPE>`.
  */
case class PlaceholderizeExpr(child: Expression, lang: String = "zh")
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = StringType
  override def prettyName: String = "graft_placeholderize"

  override def nullSafeEval(input: Any): Any = {
    val text = input.asInstanceOf[UTF8String].toString
    val ents = DeidCore.detect(text, lang, withStub = false)
      .map(e => (e.start, e.end, e.typ)).toSeq
    UTF8String.fromString(
      graft.training.Placeholders.replaceSpansWithPlaceholders(text, ents))
  }

  override protected def withNewChildInternal(newChild: Expression): PlaceholderizeExpr =
    copy(child = newChild)
}

/** A1 end-to-end over a CSV document: cell-per-segment extraction
  * (`handlers/csv.py:14-39`) → detect on the concatenated text → bisect
  * segment-anchor attach (`core/anchors.py:10-48`). Emits one row per
  * resolved entity with its segment id and A1-style cell address (or
  * segment_id -1 / empty address when the span crosses segments).
  */
case class CsvAnchoredDetectExpr(child: Expression, lang: String = "zh")
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("start", IntegerType, nullable = false),
    StructField("end", IntegerType, nullable = false),
    StructField("typ", StringType, nullable = false),
    StructField("segment_id", IntegerType, nullable = false),
    StructField("address", StringType, nullable = false)
  )), containsNull = false)
  override def prettyName: String = "graft_csv_anchored_detect"

  override def nullSafeEval(input: Any): Any = {
    val doc = graft.sources.Sources.csvSegments(input.asInstanceOf[UTF8String].toString)
    val out = DeidCore.detect(doc.text, lang, withStub = false).map { e =>
      val seg = graft.extract.Segments.anchorOf(
        Entity(e.typ, e.score, e.score, e.source, lang, e.start, e.end, ""),
        doc.segments)
      InternalRow(e.start, e.end, UTF8String.fromString(e.typ),
        seg.map(_.segment_id).getOrElse(-1),
        UTF8String.fromString(
          seg.flatMap(_.cell).flatMap(_.get("address")).getOrElse("")))
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): CsvAnchoredDetectExpr =
    copy(child = newChild)
}

/** P6 — canonical entity-type mapping (`training/canonical.py:111-178`):
  * exact 73-entry map + 16 ordered heuristic fallbacks; null when the raw
  * token normalizes to nothing.
  */
case class CanonicalTypeExpr(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_canonical_type"

  override def nullSafeEval(input: Any): Any =
    graft.training.Canonical
      .canonicalizeEntityType(input.asInstanceOf[UTF8String].toString)
      .map(UTF8String.fromString).orNull

  override protected def withNewChildInternal(newChild: Expression): CanonicalTypeExpr =
    copy(child = newChild)
}

/** k-word shingles of the lowercased, space-trimmed, whitespace-split text
  * — one compact expression replacing the HOF formulation
  * (`transform(sequence(...), i -> concat_ws(' ', slice(split(...), i, k)))`)
  * it is pinned bit-equal to in OpsSpec. Two reasons beyond interpreted-HOF
  * cost: the HOF's printed expression tree is enormous, and optimizer rules
  * (InferFiltersFromGenerate, CollapseProject, predicate pushdown through
  * unions) CLONE it — measured multi-second janino compilation per derived
  * query at bench scale. Semantics exactly match
  * `split(trim(lower(text)), '\s+', -1)` + windowing: lower via
  * UTF8String.toLowerCase (Spark's lower), trim strips ASCII spaces only,
  * split keeps leading/interior empty tokens, texts with fewer than k
  * tokens yield ONE shingle of all tokens space-joined.
  */
case class ShinglesExpr(child: Expression, k: Int)
    extends UnaryExpression with CodegenFallback {

  require(k >= 1, s"shingle size k must be >= 1, got $k")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_shingles"

  override def nullSafeEval(input: Any): Any = {
    val lowered = input.asInstanceOf[UTF8String].toLowerCase.toString
    // Spark's trim() strips ASCII space (0x20) only — not the full \s class
    var s = 0; var e = lowered.length
    while (s < e && lowered.charAt(s) == ' ') s += 1
    while (e > s && lowered.charAt(e - 1) == ' ') e -= 1
    val trimmed = lowered.substring(s, e)
    // split keeps leading + trailing empties (Spark split limit -1)
    val toks = trimmed.split("[ \\t\\n\\x0B\\f\\r]+", -1)
    val n = toks.length
    val out: Array[Any] =
      if (n < k) Array(UTF8String.fromString(toks.mkString(" ")))
      else {
        val arr = new Array[Any](n - k + 1)
        var i = 0
        while (i + k <= n) {
          val sb = new java.lang.StringBuilder
          var j = i
          while (j < i + k) {
            if (j > i) sb.append(' ')
            sb.append(toks(j))
            j += 1
          }
          arr(i) = UTF8String.fromString(sb.toString)
          i += 1
        }
        arr
      }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): ShinglesExpr =
    copy(child = newChild)
}

/** The sorted lowercased token MULTISET of a text — EXACTLY the feature
  * multiset [[SimHash64Expr]] signs: `wsTokenPattern` tokens of the
  * `Locale.ROOT`-lowercased text, sorted. This is the verify key for the
  * signature-equality dedup path ([[graft.ops.Dedup.simhashExactDups]]) and
  * the grouping key of its linear keeper form
  * ([[graft.ops.Dedup.multisetKeepers]]): deriving the key with the SAME
  * lowering as the signature makes "equal key ⇒ equal signature" hold for
  * ALL text (Spark's `lower()` falls back to default-locale
  * `String.toLowerCase` for non-ASCII, which can disagree with ROOT on
  * e.g. Turkish dotted-İ — a latent sig/key divergence this expression
  * removes). DuckDB oracles lower with utf8proc simple mappings, so oracle
  * agreement is pinned on ASCII/caseless fixtures only.
  */
case class TokenMultisetKeyExpr(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_token_multiset_key"

  override def nullSafeEval(input: Any): Any = {
    val text = input.asInstanceOf[UTF8String].toString
    val toks = scala.collection.mutable.ArrayBuffer.empty[String]
    val m = GraftSchemas.wsTokenPattern.matcher(
      text.toLowerCase(java.util.Locale.ROOT))
    while (m.find()) toks += m.group()
    val arr = toks.toArray
    java.util.Arrays.sort(arr, java.util.Comparator.naturalOrder[String]())
    new GenericArrayData(arr.map(s => UTF8String.fromString(s): Any))
  }

  override protected def withNewChildInternal(newChild: Expression): TokenMultisetKeyExpr =
    copy(child = newChild)
}

/** All k-token windows of a text in ONE pass: `\S+` tokens with code-point
  * offsets, then per window the token span, char span, and the sha2-256 hex
  * digest of the space-joined window text — the engine form of the
  * window-dedup/decontamination scan ([[graft.ops.Dedup]]). The HOF
  * formulation it replaces (transform over sequence + slice + array_join +
  * sha2 per window) re-walked the token array per window through
  * interpreted lambda evaluation; this builds every window in a single
  * rolling pass and is pinned bit-equal to the HOF in OpsSpec.
  */
case class TokenWindowsExpr(child: Expression, k: Int)
    extends UnaryExpression with CodegenFallback {

  require(k >= 1, s"window size k must be >= 1, got $k")

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("tok_start", IntegerType, nullable = false),
    StructField("tok_end", IntegerType, nullable = false),
    StructField("start", IntegerType, nullable = false),
    StructField("end", IntegerType, nullable = false),
    StructField("w", StringType, nullable = false)
  )), containsNull = false)
  override def prettyName: String = "graft_token_windows"

  override def nullSafeEval(input: Any): Any = {
    val text = input.asInstanceOf[UTF8String].toString
    val off = new graft.detect.CpCursor(text)
    val toks = scala.collection.mutable.ArrayBuffer.empty[(String, Int, Int)]
    val m = GraftSchemas.wsTokenPattern.matcher(text)
    while (m.find()) toks += ((m.group(), off.toCp(m.start), off.toCp(m.end)))
    val n = toks.length
    if (n < k) return new GenericArrayData(Array.empty[Any])
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val hex = "0123456789abcdef".toCharArray
    val out = new Array[Any](n - k + 1)
    var i = 0
    while (i + k <= n) {
      val sb = new java.lang.StringBuilder
      var j = i
      while (j < i + k) {
        if (j > i) sb.append(' ')
        sb.append(toks(j)._1)
        j += 1
      }
      md.reset()
      val digest = md.digest(sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      val hexChars = new Array[Char](64)
      var b = 0
      while (b < 32) {
        hexChars(2 * b) = hex((digest(b) >> 4) & 0xf)
        hexChars(2 * b + 1) = hex(digest(b) & 0xf)
        b += 1
      }
      out(i) = InternalRow(i, i + k, toks(i)._2, toks(i + k - 1)._3,
        UTF8String.fromString(new String(hexChars)))
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): TokenWindowsExpr =
    copy(child = newChild)
}

/** Product-quantization encode under the integer-exact contract
  * ([[graft.ops.Pq]]): each component is scalar-quantized to the 1/1000
  * grid — `iq[d] = floor(x·1000 + 0.5)`, one correctly-rounded IEEE
  * multiply + floor, bit-identical in any IEEE engine — and each of the
  * `nsub` subvectors is assigned its nearest codebook centroid by exact
  * BIGINT squared L2 (ties to the smaller centroid index). Codebook
  * entries live on the same integer grid, so encode is EXACT end-to-end
  * and a DuckDB oracle replays the codes hash-identically.
  *
  * A vector whose length ≠ nsub·subDim encodes to null (three-valued, like
  * [[graft.ops.Similarity.vectorHygiene]]'s flags — that gate is the loud
  * path for malformed shards).
  */
case class PqEncodeExpr(child: Expression, codebook: Seq[Seq[Seq[Int]]])
    extends UnaryExpression with CodegenFallback {
  @transient private lazy val cb: Array[Array[Array[Long]]] =
    codebook.map(_.map(_.map(_.toLong).toArray).toArray).toArray
  private val nsub = codebook.length
  private val ncent = codebook.head.length
  private val subDim = codebook.head.head.length

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "graft_pq_encode"

  override def nullSafeEval(input: Any): Any = {
    val vec = input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    if (vec.numElements() != nsub * subDim) return null
    val iq = new Array[Long](nsub * subDim)
    var i = 0
    while (i < iq.length) {
      iq(i) = math.floor(vec.getDouble(i) * 1000.0 + 0.5).toLong
      i += 1
    }
    val codes = new Array[Int](nsub)
    var s = 0
    while (s < nsub) {
      val cents = cb(s)
      var best = 0
      var bestD = Long.MaxValue
      var j = 0
      while (j < ncent) {
        val w = cents(j)
        var dist = 0L
        var d = 0
        while (d < subDim) {
          val diff = iq(s * subDim + d) - w(d)
          dist += diff * diff
          d += 1
        }
        if (dist < bestD) { bestD = dist; best = j }
        j += 1
      }
      codes(s) = best
      s += 1
    }
    new GenericArrayData(codes)
  }

  override protected def withNewChildInternal(newChild: Expression): PqEncodeExpr =
    copy(child = newChild)
}

/** ADC lookup table for one query vector: `lut[s·ncent + j]` = exact BIGINT
  * squared L2 between the query's s-th quantized subvector and centroid j.
  * Computed once per query (queries are broadcast), so scoring a corpus
  * row is `nsub` array reads ([[PqAdcExpr]]).
  */
case class PqLutExpr(child: Expression, codebook: Seq[Seq[Seq[Int]]])
    extends UnaryExpression with CodegenFallback {
  @transient private lazy val cb: Array[Array[Array[Long]]] =
    codebook.map(_.map(_.map(_.toLong).toArray).toArray).toArray
  private val nsub = codebook.length
  private val ncent = codebook.head.length
  private val subDim = codebook.head.head.length

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "graft_pq_lut"

  override def nullSafeEval(input: Any): Any = {
    val vec = input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    if (vec.numElements() != nsub * subDim) return null
    val iq = new Array[Long](nsub * subDim)
    var i = 0
    while (i < iq.length) {
      iq(i) = math.floor(vec.getDouble(i) * 1000.0 + 0.5).toLong
      i += 1
    }
    val lut = new Array[Long](nsub * ncent)
    var s = 0
    while (s < nsub) {
      val cents = cb(s)
      var j = 0
      while (j < ncent) {
        val w = cents(j)
        var dist = 0L
        var d = 0
        while (d < subDim) {
          val diff = iq(s * subDim + d) - w(d)
          dist += diff * diff
          d += 1
        }
        lut(s * ncent + j) = dist
        j += 1
      }
      s += 1
    }
    new GenericArrayData(lut)
  }

  override protected def withNewChildInternal(newChild: Expression): PqLutExpr =
    copy(child = newChild)
}

/** Asymmetric-distance score: `Σ_s lut[s·ncent + codes[s]]` — the PQ
  * approximation of squared L2 between query and corpus vector, exact
  * BIGINT given the two inputs. The hot-path cost per (query, corpus row)
  * is nsub array reads; no per-row float math at all.
  */
case class PqAdcExpr(left: Expression, right: Expression, ncent: Int)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression with CodegenFallback {
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_pq_adc"

  override def nullSafeEval(l: Any, r: Any): Any = {
    val codes = l.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val lut = r.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val nsub = codes.numElements()
    var sum = 0L
    var s = 0
    while (s < nsub) {
      sum += lut.getLong(s * ncent + codes.getInt(s))
      s += 1
    }
    sum
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): PqAdcExpr =
    copy(left = newLeft, right = newRight)
}
