package graft.plans

import graft.functions._
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.unsafe.types.UTF8String

/** SparkSessionExtensions registering the engine's SQL functions, so plain
  * `spark.sql("SELECT graft_deid(text) ...")` works:
  *
  * {{{
  * SparkSession.builder()
  *   .withExtensions(new GraftExtensions)
  *   // or: .config("spark.sql.extensions", "graft.plans.GraftExtensions")
  * }}}
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def litStr(e: Expression, what: String): String = e match {
    case Literal(s: UTF8String, _) => s.toString
    case Literal(null, _) => null
    case other =>
      throw new IllegalArgumentException(s"$what must be a string literal, got $other")
  }

  private def info(name: String, usage: String): ExpressionInfo =
    new ExpressionInfo("graft", null, name, usage, "", "", "", "", "", "", "scala_udf")

  override def apply(ext: SparkSessionExtensions): Unit = {
    // fan small scans out before per-row-expensive document projections
    // (PDF/Office synth-parse-redact chains) — see DistributeExpensiveProjections
    ext.injectOptimizerRule(DistributeExpensiveProjections)
    // deid over blocks of turns, one MT19937 seeding pass per block
    ext.injectPlannerStrategy(_ => DeidBlockStrategy)

    def inject(name: String, usage: String)(builder: Seq[Expression] => Expression): Unit = {
      val fb: FunctionRegistry.FunctionBuilder = (args: Seq[Expression]) => builder(args)
      ext.injectFunction((FunctionIdentifier(name), info(name, usage), fb))
    }

    inject("graft_regex_detect",
      "graft_regex_detect(text[, lang[, with_stub[, resolve]]]) - PII regex spans") {
      case Seq(t) => RegexDetectExpr(t)
      case Seq(t, l) => RegexDetectExpr(t, litStr(l, "lang"))
      case Seq(t, l, s) =>
        RegexDetectExpr(t, litStr(l, "lang"), litStr(s, "with_stub").toBoolean)
      case Seq(t, l, s, r) =>
        RegexDetectExpr(t, litStr(l, "lang"), litStr(s, "with_stub").toBoolean,
          litStr(r, "resolve").toBoolean)
      case args => throw new IllegalArgumentException(
        s"graft_regex_detect expects 1-4 args, got ${args.length}")
    }

    inject("graft_dict_detect", "graft_dict_detect(text) - Aho-Corasick gazetteer spans") {
      case Seq(t) => DictDetectExpr(t)
      case args => throw new IllegalArgumentException(
        s"graft_dict_detect expects 1 arg, got ${args.length}")
    }

    inject("graft_deid",
      "graft_deid(text[, mode[, lang]]) - struct<text,entities,events,replacement_map>") {
      case Seq(t) => DeidTurnExpr(t)
      case Seq(t, m) => DeidTurnExpr(t, litStr(m, "mode"))
      case Seq(t, m, l) => DeidTurnExpr(t, litStr(m, "mode"), litStr(l, "lang"))
      case args => throw new IllegalArgumentException(
        s"graft_deid expects 1-3 args, got ${args.length}")
    }

    inject("graft_html_text", "graft_html_text(html) - bs4 get_text parity strip") {
      case Seq(t) => HtmlTextExpr(t)
      case args => throw new IllegalArgumentException(
        s"graft_html_text expects 1 arg, got ${args.length}")
    }

    inject("graft_html_main", "graft_html_main(html) - density-scored main content") {
      case Seq(t) => HtmlMainExpr(t)
      case args => throw new IllegalArgumentException(
        s"graft_html_main expects 1 arg, got ${args.length}")
    }

    inject("graft_tokens", "graft_tokens(text) - \\S+ tokens with offsets") {
      case Seq(t) => TokensWithOffsetsExpr(t)
      case args => throw new IllegalArgumentException(
        s"graft_tokens expects 1 arg, got ${args.length}")
    }

    inject("graft_pdf_text", "graft_pdf_text(pdf_binary) - layout-ordered PDF text") {
      case Seq(t) => PdfTextExpr(t)
      case args => throw new IllegalArgumentException(
        s"graft_pdf_text expects 1 arg, got ${args.length}")
    }

    inject("graft_simhash64", "graft_simhash64(text) - 64-bit SimHash signature") {
      case Seq(t) => SimHash64Expr(t)
      case args => throw new IllegalArgumentException(
        s"graft_simhash64 expects 1 arg, got ${args.length}")
    }

    inject("graft_seq_ratio", "graft_seq_ratio(a, b) - difflib SequenceMatcher ratio") {
      case Seq(a, b) => SeqMatcherRatioExpr(a, b)
      case args => throw new IllegalArgumentException(
        s"graft_seq_ratio expects 2 args, got ${args.length}")
    }

    inject("graft_cosine", "graft_cosine(a, b) - cosine similarity of double arrays") {
      case Seq(a, b) => CosineSimExpr(a, b)
      case args => throw new IllegalArgumentException(
        s"graft_cosine expects 2 args, got ${args.length}")
    }

    inject("graft_rep3gram", "graft_rep3gram(text) - char 3-gram repetition rate") {
      case Seq(t) => Rep3GramExpr(t)
      case args => throw new IllegalArgumentException(
        s"graft_rep3gram expects 1 arg, got ${args.length}")
    }

    inject("graft_minhash_sig",
      "graft_minhash_sig(text) - 64-long MinHash signature over 3-word shingles") {
      case Seq(t) => MinHashSigExpr(t)
      case args => throw new IllegalArgumentException(
        s"graft_minhash_sig expects 1 arg, got ${args.length}")
    }

    inject("graft_pdf_pages",
      "graft_pdf_pages(pdf_binary) - per-page text with needs_ocr trigger flag") {
      case Seq(t) => PdfPagesExpr(t)
      case args => throw new IllegalArgumentException(
        s"graft_pdf_pages expects 1 arg, got ${args.length}")
    }

    inject("graft_pdf_redact",
      "graft_pdf_redact(pdf_binary[, lang]) - black-box redacted PDF: struct<pdf,n_rects>") {
      case Seq(t) => PdfRedactExpr(t)
      case Seq(t, l) => PdfRedactExpr(t, litStr(l, "lang"))
      case args => throw new IllegalArgumentException(
        s"graft_pdf_redact expects 1-2 args, got ${args.length}")
    }

    inject("graft_pdf_synth",
      "graft_pdf_synth(text) - deterministic synthetic PDF payload (fixtures/bench)") {
      case Seq(t) => PdfSynthExpr(t)
      case args => throw new IllegalArgumentException(
        s"graft_pdf_synth expects 1 arg, got ${args.length}")
    }

    inject("graft_pdf_rewrite",
      "graft_pdf_rewrite(pdf_binary[, lang]) - general-PDF redaction: struct<n_rects,text>") {
      case Seq(t) => PdfRewriteExpr(t)
      case Seq(t, l) => PdfRewriteExpr(t, litStr(l, "lang"))
      case args => throw new IllegalArgumentException(
        s"graft_pdf_rewrite expects 1-2 args, got ${args.length}")
    }

    inject("graft_csv_deid",
      "graft_csv_deid(csv[, mode]) - rewritten CSV document: struct<csv,n_entities>") {
      case Seq(t) => CsvDeidExpr(t)
      case Seq(t, m) => CsvDeidExpr(t, litStr(m, "mode"))
      case args => throw new IllegalArgumentException(
        s"graft_csv_deid expects 1-2 args, got ${args.length}")
    }

    inject("graft_xlsx_text", "graft_xlsx_text(xlsx_binary) - workbook cell text") {
      case Seq(t) => XlsxTextExpr(t)
      case args => throw new IllegalArgumentException(
        s"graft_xlsx_text expects 1 arg, got ${args.length}")
    }

    inject("graft_xlsx_deid",
      "graft_xlsx_deid(xlsx_binary[, mode]) - rewritten workbook: struct<xlsx,n_entities>") {
      case Seq(t) => XlsxDeidExpr(t)
      case Seq(t, m) => XlsxDeidExpr(t, litStr(m, "mode"))
      case args => throw new IllegalArgumentException(
        s"graft_xlsx_deid expects 1-2 args, got ${args.length}")
    }

    inject("graft_office_text",
      "graft_office_text(doc_binary, format) - docx/pptx document text") {
      case Seq(t, f) => OfficeTextExpr(t, litStr(f, "format"))
      case args => throw new IllegalArgumentException(
        s"graft_office_text expects 2 args, got ${args.length}")
    }

    inject("graft_office_deid",
      "graft_office_deid(doc_binary, format[, mode]) - rewritten docx/pptx: struct<doc,n_entities>") {
      case Seq(t, f) => OfficeDeidExpr(t, litStr(f, "format"))
      case Seq(t, f, m) => OfficeDeidExpr(t, litStr(f, "format"), litStr(m, "mode"))
      case args => throw new IllegalArgumentException(
        s"graft_office_deid expects 2-3 args, got ${args.length}")
    }

    inject("graft_pii_markup",
      "graft_pii_markup(text) - <PII type='X'>v</PII> / [X]v[/X] blocks with spans") {
      case Seq(t) => PiiMarkupExtractExpr(t)
      case args => throw new IllegalArgumentException(
        s"graft_pii_markup expects 1 arg, got ${args.length}")
    }

    inject("graft_masked_pair",
      "graft_masked_pair(original, masked) - gold spans recovered from a masked pair") {
      case Seq(o, m) => MaskedPairRecoverExpr(o, m)
      case args => throw new IllegalArgumentException(
        s"graft_masked_pair expects 2 args, got ${args.length}")
    }

    inject("graft_placeholderize",
      "graft_placeholderize(text[, lang]) - detected spans replaced with <TYPE>") {
      case Seq(t) => PlaceholderizeExpr(t)
      case Seq(t, l) => PlaceholderizeExpr(t, litStr(l, "lang"))
      case args => throw new IllegalArgumentException(
        s"graft_placeholderize expects 1-2 args, got ${args.length}")
    }

    inject("graft_csv_anchored_detect",
      "graft_csv_anchored_detect(csv[, lang]) - cell segments -> detect -> anchor attach") {
      case Seq(t) => CsvAnchoredDetectExpr(t)
      case Seq(t, l) => CsvAnchoredDetectExpr(t, litStr(l, "lang"))
      case args => throw new IllegalArgumentException(
        s"graft_csv_anchored_detect expects 1-2 args, got ${args.length}")
    }

    inject("graft_canonical_type",
      "graft_canonical_type(raw) - canonical entity type (null when unmappable)") {
      case Seq(t) => CanonicalTypeExpr(t)
      case args => throw new IllegalArgumentException(
        s"graft_canonical_type expects 1 arg, got ${args.length}")
    }

    inject("graft_token_windows",
      "graft_token_windows(text, k) - k-token windows with spans + sha2 digest") {
      case Seq(t, kArg) => kArg match {
        case Literal(k: Int, _) => TokenWindowsExpr(t, k)
        case other => throw new IllegalArgumentException(
          s"k must be an integer literal, got $other")
      }
      case args => throw new IllegalArgumentException(
        s"graft_token_windows expects 2 args, got ${args.length}")
    }

    inject("graft_shingles",
      "graft_shingles(text, k) - k-word shingles (lowercased, whitespace-split)") {
      case Seq(t, kArg) => kArg match {
        case Literal(k: Int, _) => ShinglesExpr(t, k)
        case other => throw new IllegalArgumentException(
          s"k must be an integer literal, got $other")
      }
      case args => throw new IllegalArgumentException(
        s"graft_shingles expects 2 args, got ${args.length}")
    }

    def litInt(e: Expression, what: String): Int = e match {
      case Literal(i: Int, _) => i
      case other => throw new IllegalArgumentException(
        s"$what must be an integer literal, got $other")
    }
    inject("graft_pq_encode",
      "graft_pq_encode(vec[, nsub, ncent, subdim]) - integer-grid PQ codes " +
        "over the fixed deterministic codebook (default 8x16x8)") { args =>
      val (v, geo) = args match {
        case Seq(v0) => (v0, (8, 16, 8))
        case Seq(v0, a, b, c) =>
          (v0, (litInt(a, "nsub"), litInt(b, "ncent"), litInt(c, "subdim")))
        case other => throw new IllegalArgumentException(
          s"graft_pq_encode expects 1 or 4 args, got ${other.length}")
      }
      val vd = org.apache.spark.sql.catalyst.expressions.Cast(v,
        org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.DoubleType))
      PqEncodeExpr(vd, graft.ops.Pq.fixedCodebook(geo._1, geo._2, geo._3))
    }
  }
}
