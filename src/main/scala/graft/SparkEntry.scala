package graft

import graft.functions.{Tokens, gf}
import graft.metrics.Metrics
import graft.ops.{BpeTrain, Conversations, Dedup, Drift, Dsir, Multimodal, Pq, Retrieval, Sampling, Similarity, TextStats, UrlOps, WebClean}
import graft.pipeline.{Deid, TurnsGen}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Driver contract — queries over `/root/testdata/<sf>/` parquet with DuckDB
  * oracles where the semantics are ANSI-SQL-expressible.
  *
  * The `deid_replace` family is SPLIT (round 4): the hash-checked queries
  * (`deid_replace`, `deid_replace_en`, `events_audit`) emit the
  * SQL-expressible projection — per-variant entity/event counts, sorted
  * `TYPE:original` replacement keys, event originals and span starts, all
  * template constants — while the MT19937 replacement VALUES live in the
  * golden-gated `deid_replace_text` sibling.
  *
  * Round 5 closed the LSH oracle gap with planted-twin pins: at
  * `dedup_minhash_pairs`' threshold 1.0 / `dedup_simhash_pairs`' maxDist 0
  * the approximate result provably EQUALS an exact set/multiset-equality
  * SQL oracle (equal inputs collide in every band with probability 1), and
  * `knn_lsh_twins` pins the multi-table ANN path to its planted nearest
  * neighbors. The approximate regimes (threshold 0.5, maxDist 3, top-k
  * recall) remain spec-gated in OpsSpec.
  *
  * The 5 rows WITHOUT an oracle are rows-only by design, each for a stated
  * reason, each gated instead by reference-golden ScalaTest batteries:
  *  - `deid_replace_text`: replacement VALUES come from the MT19937 fake
  *    provider seeded by sha256 context — not ANSI-SQL; gate = 1,800-case
  *    WideParitySpec byte parity + the `deid_replace` / `events_audit` /
  *    `deid_blackbox_len` / per-type count oracles covering the same scan.
  *  - `deid_eval_report`: its `mean_similarity` aggregates the difflib
  *    SequenceMatcher ratio (G4) — the one SQL-inexpressible piece; the
  *    per-turn G3/G5/G6/G7 arithmetic is oracled by the round-6
  *    `deid_eval_metrics` sibling, and the G8 aggregation is gate =
  *    DeidEvalSpec/MetricsSpec goldens.
  *  - `overwrite_similarity`: SequenceMatcher ratio itself — gate =
  *    SeqMatcherSpec (autojunk-exact goldens).
  *  - `doc_fingerprint`: xxhash64/simhash bit outputs (no DuckDB
  *    equivalent) — gate = OpsSpec determinism + normalization specs, plus
  *    the oracle-backed `doc_fingerprint_pairs` sibling (fingerprint
  *    EQUALITY == whitespace-normalized-text equality, SQL-expressible).
  *  - `knn_lsh`: general approximate top-k — approximate ≠ any exact SQL;
  *    its exact siblings (`knn_bruteforce`, `knn_ivf` at nprobe=k,
  *    `knn_lsh_twins`) carry hash-exact oracles, and recall-vs-brute-force
  *    is spec-gated (OpsSpec).
  */
object SparkEntry {

  private val schemas =
    new java.util.concurrent.ConcurrentHashMap[(String, Long, Long), StructType]()

  /** `s.read.parquet(path)` without the one-task job that reads the footer
    * to infer the schema on every read: the schema is inferred once per
    * (path, file length, modification time) and given to later reads.
    */
  private def table(s: SparkSession, path: String): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(path)
    val st = p.getFileSystem(s.sparkContext.hadoopConfiguration).getFileStatus(p)
    val schema = schemas.computeIfAbsent(
      (st.getPath.toString, st.getLen, st.getModificationTime),
      _ => s.read.parquet(path).schema)
    s.read.schema(schema).parquet(path)
  }

  private def docs(s: SparkSession, dir: String): DataFrame =
    table(s, s"$dir/documents.parquet")

  /** Fan a row-group-bound scan across the cluster before a CPU-heavy
    * per-row chain (signatures, regex batteries, shingle explodes). The
    * fixture parquet files carry ONE row group, so however many byte-range
    * splits the scan planner makes, every row lands in one task — the
    * whole scan-stage chain of a query then runs on one core of
    * `local[32]` (guide §2.6 idle capacity / §6 input splits). A
    * round-robin repartition of the narrow input rows costs one tiny
    * exchange and parallelizes everything above it; partition count is the
    * session's core count, never a constant. Applied only where the
    * downstream per-row work dominates that exchange.
    */
  private def spread(df: DataFrame): DataFrame =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism)

  private def events(s: SparkSession, dir: String): DataFrame =
    table(s, s"$dir/events.parquet")

  private def embeddings(s: SparkSession, dir: String): DataFrame =
    table(s, s"$dir/embeddings.parquet")

  private def turns(s: SparkSession, dir: String): DataFrame =
    TurnsGen.turns(s, dir)

  /** Raw crawl-URL plant for the URL-curation queries: 50 logical pages
    * (k = doc_id % 50 decides scheme/host/path/query — everything the
    * canonical form keeps) dressed with doc_id-keyed decorations
    * (everything [[UrlOps.canonicalizeUrl]] must remove: scheme case %2,
    * `www.` %3, default port %5, trailing slash %7, fragment %11, host
    * case %13, a `utm_` tracking param %17), a blocklist path family
    * (%29 — `-casino-games` in the path, canonical-significant), a
    * mixed-case param family (%31 — `&C=Z`, pinning BINARY param-sort
    * collation cross-engine: `C` < `a`), plus two invalid families
    * (%19 garbage text, %23 relative path) that must canonicalize to NULL.
    * The DuckDB oracles rebuild the same CASE chain verbatim.
    */
  private def urlPlant: Column = {
    val d = col("doc_id")
    val k = pmod(d, lit(50L))
    val httpK = k % 2 === 0
    val scheme = when(d % 2 === 0,
        when(httpK, lit("HTTP://")).otherwise(lit("HTTPS://")))
      .otherwise(when(httpK, lit("http://")).otherwise(lit("https://")))
    val host = when(k % 4 === 0, lit("example.com"))
      .when(k % 4 === 1, lit("news.example.co.uk"))
      .when(k % 4 === 2, lit("blog.hot-site.org"))
      .otherwise(lit("cdn.example.com"))
    val decorated = concat(
      scheme,
      when(d % 3 === 0, lit("www.")).otherwise(lit("")),
      when(d % 13 === 0, upper(host)).otherwise(host),
      when(d % 5 === 0, when(httpK, lit(":80")).otherwise(lit(":443")))
        .otherwise(lit("")),
      lit("/Articles/item-"), k.cast("string"),
      when(d % 29 === 0, lit("-casino-games")).otherwise(lit("")),
      when(d % 7 === 0, lit("/")).otherwise(lit("")),
      when(k % 3 === 2, lit(""))
        .when(d % 17 === 0, lit("?utm_source=feed&b=2&a=1"))
        .otherwise(lit("?b=2&a=1")),
      when(k % 3 =!= 2 && d % 31 === 0, lit("&C=Z")).otherwise(lit("")),
      when(d % 11 === 0, lit("#section-2")).otherwise(lit("")))
    when(d % 19 === 0, lit("not a url, just text"))
      .when(d % 23 === 0, lit("/relative/path?x=1"))
      .otherwise(decorated)
  }

  /** Plant texts for `token_fertility` — shared verbatim with the DuckDB
    * oracle (ASCII for es/de so `lower()` parity is trivial; the zh page
    * has NO whitespace, the realistic CJK tokenizer-cost case).
    */
  private object FertilityPlants {
    val zh = "这是一个测试句子,包含标点符号。模型的词元成本很高,因为没有空格。"
    val es = "el sol y el mar que brillan en los campos por la manana, y los ninos que juegan!"
    val de = "der hund und die katze ist nicht mit dem zug gefahren; zu hause auf dem land, und das wetter ist gut."
    val enSuffix = " it is, that is; of the top-1.5% (n=3), e.g. a.k.a 'the best'."
  }

  /** The five-gate corpus-build decision frame shared by
    * `corpus_build_decision` (per-doc audit) and `corpus_build_report`
    * (per-source rollup): Gopher quality ∧ repetition ∧ exact-dedup keeper
    * ∧ LM tail-drop ∧ mixture holdout, all signal frames joined on the one
    * doc key, with `source` carried for the rollup.
    */
  private def corpusBuildFrame(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.{Dedup, Sampling, TextStats}
    // r8: eager checkpoint — five signal chains consume this frame with
    // different column prunings, so the spread exchange canonicalizes
    // differently per consumer and exchange reuse never fires; the
    // checkpoint materializes the narrow frame once per invocation
    val d = spread(docs(s, dir).select("doc_id", "source", "text"))
      .localCheckpoint(true)
    val n = parquetRowCount(s, s"$dir/documents.parquet")
    val g = TextStats.gopherSignals(d.select("doc_id", "text"))
      .withColumn("keep_quality",
        TextStats.gopherKeep(minTokens = 20, maxTokens = 80))
      .select("doc_id", "keep_quality")
    val r = TextStats.repetitionSignals(d.select("doc_id", "text"))
      .withColumn("keep_repetition",
        TextStats.repetitionKeep(maxTopBigramFrac = 0.05))
      .select("doc_id", "keep_repetition")
    val dup = Dedup.exact(d.select("doc_id", "text")).select("doc_id", "is_dup")
    val q = TextStats.unigramFreqScore(d.select("doc_id", "text"))
      .withColumn("bucket",
        TextStats.freqBucket(col("mean_cnt") / lit(n.toDouble), 1.815, 1.80))
      .select("doc_id", "bucket")
    val samp = Sampling.stratifiedSample(d.select("doc_id", "source"),
        "source", col("doc_id"), Map.empty, defaultPermille = 800,
        bucketOf = Sampling.mulHashBucket(_)) // oracle-replayable hash
      .select(col("doc_id"), col("kept").as("kept_sample"))
    d.select("doc_id", "source")
      .join(g, "doc_id").join(r, "doc_id").join(dup, "doc_id")
      .join(q, "doc_id").join(samp, "doc_id")
      .withColumn("selected",
        col("keep_quality") && col("keep_repetition") && !col("is_dup") &&
          col("bucket") =!= "tail" && col("kept_sample"))
  }

  /** Row count straight from the parquet footer(s) — the caller-side size
    * hint for LSH bucket sizing. No Spark job, no scan: exactly what a
    * production caller would get from catalog stats.
    */
  private def parquetRowCount(s: SparkSession, path: String): Long = {
    val conf = s.sparkContext.hadoopConfiguration
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(conf)
    val statuses =
      if (fs.getFileStatus(root).isDirectory)
        fs.listStatus(root).filter(_.getPath.getName.endsWith(".parquet")).toSeq
      else Seq(fs.getFileStatus(root))
    statuses.map { st =>
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(st, conf)
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try r.getRecordCount finally r.close()
    }.sum
  }

  /** Flagship: full redaction pipeline on sf0.001. */
  def entry(spark: SparkSession): DataFrame =
    Deid.redact(turns(spark, "/root/testdata/sf0.001"))
      .orderBy("conv_id", "turn_idx")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- turns + deid core -------------------------------------------------
    "turns_gen" -> ((s, dir) =>
      turns(s, dir).select("conv_id", "turn_idx", "role", "text", "tool")
        .orderBy("conv_id", "turn_idx")),

    // the SQL-expressible projection of the replace pipeline: entity/event
    // counts and the sorted "TYPE:original" replacement keys are variant-
    // constants of the turn templates (replacement VALUES are MT19937 —
    // golden-gated via deid_replace_text + WideParitySpec)
    "deid_replace" -> ((s, dir) =>
      Deid.redact(turns(s, dir))
        .select(col("conv_id"), col("turn_idx"),
          size(col("entities")).as("n_entities"), size(col("events")).as("n_events"),
          array_join(array_sort(transform(col("events"),
            e => concat(e.getField("entity_type"), lit(":"), e.getField("original")))),
            "|").as("repl_keys"))
        .orderBy("conv_id", "turn_idx")),

    // full redacted text + MT19937 replacement values — not ANSI-SQL;
    // rows-only driver check, byte parity gated by the golden batteries
    "deid_replace_text" -> ((s, dir) =>
      Deid.redact(turns(s, dir))
        .select(col("conv_id"), col("turn_idx"), col("text"),
          size(col("entities")).as("n_entities"), size(col("events")).as("n_events"))
        .orderBy("conv_id", "turn_idx")),

    "deid_blackbox_len" -> ((s, dir) =>
      turns(s, dir)
        .select(col("conv_id"), col("turn_idx"),
          length(gf.deid(col("text"), "blackbox", extractHtml = false)
            .getField("text")).as("len"))
        .orderBy("conv_id", "turn_idx")),

    "ctx_hash" -> ((s, dir) =>
      turns(s, dir)
        .select(col("conv_id"), col("turn_idx"), sha2(col("text"), 256).as("ctx"))
        .orderBy("conv_id", "turn_idx")),

    "detect_entities" -> ((s, dir) =>
      turns(s, dir)
        .select(col("conv_id"), col("turn_idx"),
          explode(gf.regexDetect(col("text"))).as("e"))
        .select(col("conv_id"), col("turn_idx"), col("e.start"), col("e.end"),
          col("e.typ"), col("e.source"))
        .orderBy("conv_id", "turn_idx", "start", "typ")),

    "detect_email_counts" -> ((s, dir) =>
      turns(s, dir)
        .select(col("conv_id"), col("turn_idx"),
          size(filter(gf.regexDetect(col("text"), resolve = false),
            e => e.getField("typ") === "EMAIL")).as("n_email"))
        .orderBy("conv_id", "turn_idx")),

    "detect_phone_counts" -> ((s, dir) =>
      turns(s, dir)
        .select(col("conv_id"), col("turn_idx"),
          size(filter(gf.regexDetect(col("text"), resolve = false),
            e => e.getField("typ") === "PHONE")).as("n_phone"))
        .orderBy("conv_id", "turn_idx")),

    "detect_id_counts" -> ((s, dir) => typeCounts(s, dir, "ID", "n_id")),
    "detect_passport_counts" -> ((s, dir) => typeCounts(s, dir, "PASSPORT", "n_passport")),
    "detect_ubn_counts" -> ((s, dir) => typeCounts(s, dir, "UNIFIED_BUSINESS_NO", "n_ubn")),
    "detect_medical_counts" -> ((s, dir) => typeCounts(s, dir, "MEDICAL_ID", "n_medical")),

    "detect_ssn_counts" -> ((s, dir) =>
      turns(s, dir)
        .select(col("conv_id"), col("turn_idx"),
          size(filter(gf.regexDetect(col("text"), lang = "en", resolve = false),
            e => e.getField("typ") === "ID")).as("n_ssn"))
        .orderBy("conv_id", "turn_idx")),

    "dict_detect_counts" -> ((s, dir) =>
      turns(s, dir)
        .select(col("conv_id"), col("turn_idx"),
          size(gf.dictDetect(col("text"))).as("n_dict"))
        .orderBy("conv_id", "turn_idx")),

    // D3/D4 scaffold end-to-end: chunk → batch-score (deterministic fake
    // scorer standing in for the ONNX session) → threshold BIO decode →
    // merge; per-turn per-type counts are SQL-expressible for the oracle.
    "model_detect" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val byTyp = (t: String) =>
        (c: org.apache.spark.sql.Column) =>
          size(filter(c, e => e.getField("typ") === t))
      graft.detect.ModelDetector
        .detectTurns(turns(s, dir), graft.detect.ModelDetector.HeuristicScorer)
        .select(col("conv_id"), col("turn_idx"),
          byTyp("EMAIL")(col("model_entities")).as("n_email_model"),
          byTyp("PHONE")(col("model_entities")).as("n_phone_model"),
          byTyp("ID")(col("model_entities")).as("n_id_model"))
        .orderBy("conv_id", "turn_idx")
    }),

    // per-event audit projection: entity_type/original/start are variant-
    // constants (event `end` = start + len(replacement) varies with the
    // MT19937 choice for PASSPORT/ADDRESS, and `replacement` is the MT
    // value itself — both golden-gated by WideParitySpec instead)
    "events_audit" -> ((s, dir) =>
      Deid.redact(turns(s, dir))
        .select(col("conv_id"), col("turn_idx"), explode(col("events")).as("ev"))
        .select(col("conv_id"), col("turn_idx"), col("ev.entity_type"),
          col("ev.original"), col("ev.start"))
        .orderBy("conv_id", "turn_idx", "start", "entity_type")),

    "entity_histogram" -> ((s, dir) =>
      Deid.entityHistogram(Deid.redact(turns(s, dir)))),

    "dict_detect" -> ((s, dir) =>
      turns(s, dir)
        .select(col("conv_id"), col("turn_idx"),
          explode(gf.dictDetect(col("text"))).as("e"))
        .select(col("conv_id"), col("turn_idx"), col("e.start"), col("e.end"),
          col("e.typ"))
        .orderBy("conv_id", "turn_idx", "start")),

    // en-ruleset twin of deid_replace's SQL-expressible projection (the en
    // bank's NAME/MEDICAL_ID rules fire on ordinary prose — faithful to the
    // reference; the keys pin exactly which spans were replaced)
    "deid_replace_en" -> ((s, dir) =>
      Deid.redact(turns(s, dir), lang = "en")
        .select(col("conv_id"), col("turn_idx"),
          size(col("entities")).as("n_entities"), size(col("events")).as("n_events"),
          array_join(array_sort(transform(col("events"),
            e => concat(e.getField("entity_type"), lit(":"), e.getField("original")))),
            "|").as("repl_keys"))
        .orderBy("conv_id", "turn_idx")),

    // ---- training-side dataflow (D10/D11/P6 as queries, UDF-free: each
    // per-row op is a Catalyst expression like the rest of the engine) ------
    "pii_markup_extract" -> ((s, dir) =>
      turns(s, dir)
        .select(col("conv_id"), col("turn_idx"),
          // wrap each turn's text in XML markup, then recover it with the
          // D10 extractor expression
          explode(gf.piiMarkup(
            concat(lit("<PII type='NOTE'>"), col("text"), lit("</PII>")))).as("b"))
        .select(col("conv_id"), col("turn_idx"), col("b.pii_type"),
          col("b.value_start"), col("b.value_end"))
        .orderBy("conv_id", "turn_idx", "value_start")),

    "masked_pair_recovery" -> ((s, dir) =>
      // placeholderized variant (R6 expression) diffed against the original
      // by the D11 recovery expression
      turns(s, dir)
        .select(col("conv_id"), col("turn_idx"),
          explode(gf.maskedPairRecover(col("text"),
            gf.placeholderize(col("text")))).as("e"))
        .select(col("conv_id"), col("turn_idx"), col("e.typ"),
          col("e.start"), col("e.end"))
        .orderBy("conv_id", "turn_idx", "start", "typ")),

    "canonical_types" -> ((s, dir) =>
      turns(s, dir)
        .select(explode(gf.regexDetect(col("text"))).as("e"))
        .select(col("e.typ").as("raw_type"))
        .distinct()
        .withColumn("canonical",
          gf.canonicalType(concat(col("raw_type"), lit("_1"))))
        .orderBy("raw_type")),

    // ---- extraction --------------------------------------------------------
    "html_text_strip" -> ((s, dir) =>
      turns(s, dir).where(col("text").contains("<html"))
        .select(col("conv_id"), col("turn_idx"), gf.htmlText(col("text")).as("stripped"))
        .orderBy("conv_id", "turn_idx")),

    "html_main_content" -> ((s, dir) =>
      turns(s, dir).where(col("text").contains("<html"))
        .select(col("conv_id"), col("turn_idx"), gf.htmlMain(col("text")).as("main"))
        .orderBy("conv_id", "turn_idx")),

    "pdf_extract_roundtrip" -> ((s, dir) =>
      // synthesize a PDF payload per document (ascii projection), extract it
      // back layout-ordered — the embedded-PDF-payload path of the north
      // rule, end to end. roundtrip_ok is true by construction (builder →
      // extractor inverse pair) and needs_ocr is the S5 trigger flag (page
      // text < 50 code points ⇒ the reference would OCR) — BOTH derivable in
      // SQL from the source text, so this row carries a real DuckDB oracle.
      docs(s, dir)
        .select(col("doc_id"),
          trim(substring(regexp_replace(col("text"), "[^\\x20-\\x7e]", ""), 1, 200)).as("src"))
        .withColumn("pdf", gf.pdfSynth(col("src")))
        .withColumn("extracted", gf.pdfText(col("pdf")))
        .select(col("doc_id"), (length(col("pdf")) > 0).as("pdf_ok"),
          (col("extracted") === col("src")).as("roundtrip_ok"),
          element_at(gf.pdfPages(col("pdf")), 1).getField("needs_ocr").as("needs_ocr"))
        .orderBy("doc_id")),

    // A2/K3: synth PDF with PII lines → black-box redaction → re-extract:
    // PII text removed from the document, black fills present
    "pdf_redact" -> ((s, dir) =>
      docs(s, dir)
        .select(col("doc_id"),
          concat(lit("id A123456789 here\ncall 0912-345-678 now\n"),
            substring(regexp_replace(col("text"), "[^\\x20-\\x7e]", ""), 1, 80))
            .as("src"))
        .withColumn("pdf", gf.pdfSynth(col("src")))
        .withColumn("r", gf.pdfRedact(col("pdf")))
        // r.text is the re-extracted redacted document computed inside
        // PdfRedactExpr: ONE parse per row, two cheap string predicates
        .select(col("doc_id"), col("r.n_rects").as("n_rects"),
          (!col("r.text").contains("A123456789") &&
            !col("r.text").contains("0912-345-678")).as("pii_absent"))
        .orderBy("doc_id")),

    // A1 end-to-end: CSV extract (cell-per-segment) -> detect over the
    // concatenated text -> attach segment anchors (bisect; span fully inside
    // one segment). The planted cells are constants, so (start, end, typ,
    // segment_id, address) are variant-constant and DuckDB-derivable.
    "anchored_extract" -> ((s, dir) =>
      docs(s, dir)
        .select(col("doc_id"),
          concat(lit("id,phone,note\r\nA123456789,0912-345-678,\"row "),
            col("doc_id"), lit(" ok\"\r\n")).as("csv"))
        .select(col("doc_id"), explode(gf.csvAnchoredDetect(col("csv"))).as("a"))
        .select(col("doc_id"), col("a.start"), col("a.end"),
          col("a.typ"), col("a.segment_id"), col("a.address"))
        .orderBy("doc_id", "start")),

    // K3-general: the SAME planted document, but through the real-world
    // rewriter (object scan -> trace -> splice -> reserialize) instead of
    // the synthetic-subset path - rect count and pii-absence are the same
    // constants, so the whole general pipeline is oracle-gated too
    "pdf_rewrite_redact" -> ((s, dir) =>
      docs(s, dir)
        .select(col("doc_id"),
          concat(lit("id A123456789 here\ncall 0912-345-678 now\n"),
            substring(regexp_replace(col("text"), "[^\\x20-\\x7e]", ""), 1, 80))
            .as("src"))
        .withColumn("pdf", gf.pdfSynth(col("src")))
        .withColumn("r", gf.pdfRewrite(col("pdf")))
        .select(col("doc_id"), col("r.n_rects").as("n_rects"),
          (!col("r.text").contains("A123456789") &&
            !col("r.text").contains("0912-345-678")).as("pii_absent"))
        .orderBy("doc_id")),

    // K2: per-document CSV rewrite — planted PII cells come back rewritten,
    // non-PII cells byte-identical (reference e2e: tests/test_csv_handler.py)
    "csv_rewrite" -> ((s, dir) =>
      docs(s, dir)
        .select(col("doc_id"),
          concat(lit("id,phone,note\r\nA123456789,0912-345-678,\"row "),
            col("doc_id"), lit(" ok\"\r\n")).as("csv"))
        .withColumn("r", gf.csvDeid(col("csv")))
        .select(col("doc_id"), col("r.n_entities").as("n_entities"),
          (!col("r.csv").contains("A123456789") &&
            !col("r.csv").contains("0912-345-678")).as("pii_absent"),
          // QUOTE_MINIMAL re-render: the note has no comma/quote/newline, so
          // csv.writer emits it UNQUOTED even though the input quoted it
          col("r.csv").contains(concat(lit("row "), col("doc_id"), lit(" ok")))
            .as("note_intact"))
        .orderBy("doc_id")),

    // S8/S10+K: paragraph-per-line DOCX and shape-per-line PPTX round trips
    "docx_roundtrip" -> ((s, dir) => officeRoundtrip(s, dir, "docx")),
    "pptx_roundtrip" -> ((s, dir) => officeRoundtrip(s, dir, "pptx")),

    // S9+K: synthesize a workbook per document, extract, rewrite cells,
    // re-extract — original PII absent, cell structure preserved
    "xlsx_roundtrip" -> ((s, dir) =>
      docs(s, dir)
        .select(col("doc_id"),
          concat(lit("id A123456789\n"),
            substring(regexp_replace(col("text"), "[^\\x20-\\x7e]", ""), 1, 120))
            .as("src"))
        .withColumn("wb", gf.xlsxSynth(col("src")))
        .withColumn("r", gf.xlsxDeid(col("wb")))
        .select(col("doc_id"),
          col("r.n_entities").as("n_entities"),
          (!gf.xlsxText(col("r.xlsx")).contains("A123456789")).as("pii_absent"),
          (length(gf.xlsxText(col("r.xlsx"))) > 0).as("nonempty"))
        .orderBy("doc_id")),

    // ---- dedup suite (documents) ------------------------------------------
    "dedup_exact" -> ((s, dir) =>
      Dedup.exact(docs(s, dir)).orderBy("doc_id")),

    // planted-twin pin (the semantic_dedup_pairs argument applied to text
    // LSH): at threshold 1.0 a qualifying pair has EQUAL distinct-shingle
    // sets, equal sets give equal minhash signatures, and equal signatures
    // collide in every band with probability 1 — so the approximate LSH
    // result EQUALS the exact brute-force set-equality oracle, while the
    // full candidate/verify machinery still runs (the approximate 0.5
    // regime stays spec-gated by OpsSpec's recall tests).
    "dedup_minhash_pairs" -> ((s, dir) =>
      Dedup.minhashNearDups(plantedDocs(s, dir), threshold = 1.0)
        .select(col("a"), col("b")) // drop float for determinism
        .orderBy("a", "b")),

    // same pin for SimHash, via the verified operator: the signature is a
    // pure function of the lowercased token MULTISET, so distance-0
    // candidates verified by exact multiset equality EQUAL the SQL
    // multiset-equality pairs — completeness structural (equal multiset ⇒
    // equal signature ⇒ same bucket), precision enforced by the verify
    // (the base corpus really does contain one-token-apart near twins
    // whose correlated signatures collide at distance 0 — the verify step
    // is load-bearing, not decorative). maxDist = 3 stays spec-gated.
    "dedup_simhash_pairs" -> ((s, dir) =>
      Dedup.simhashExactDups(plantedDocs(s, dir))
        .orderBy("a", "b")),

    // linear KEEPER form of the token-multiset duplicate relation (the
    // scale-safe twin of dedup_simhash_pairs: one digest-keyed window
    // shuffle, output linear in the corpus — no pair materialization, no
    // CC; million-member boilerplate classes cost O(m), not O(m²)). Runs
    // over the FULL planted corpus, not the 50-doc subset.
    "dedup_simhash_keepers" -> ((s, dir) =>
      Dedup.multisetKeepers(plantedDocs(s, dir)).orderBy("doc_id")),

    // linear keeper form of the distinct-shingle-SET relation (the
    // threshold-1.0 regime of dedup_minhash_pairs, without bands or
    // candidate joins)
    "dedup_minhash_keepers" -> ((s, dir) =>
      Dedup.shingleSetKeepers(plantedDocs(s, dir)).orderBy("doc_id")),

    // the production keep/drop decision at FULL corpus scale through the
    // LINEAR path: multiset keeper classes (keeper_id doubles as a
    // dialect-free component label — the class min id, no digest in the
    // output) composed with quality-aware keeper selection. Three shuffles
    // total (digest window, id join, component window) — no pair graph,
    // no CC, output linear.
    "dedup_keepers_linear" -> ((s, dir) => {
      val d = plantedDocs(s, dir)
      Dedup.qualityKeepers(
          Dedup.multisetKeepers(d)
            .select(col("doc_id"), col("keeper_id").as("component")),
          TextStats.qualityScore(d).select("doc_id", "quality_score"))
        .orderBy("doc_id")
    }),

    // near-dup pairs -> CLUSTER ASSIGNMENT (connected components, driver
    // union-find below 2^20 edges): the keep/drop decision of a dedup pipeline. Exact-pair
    // edges so the DuckDB recursive-CTE oracle reproduces the whole graph.
    "dedup_clusters" -> ((s, dir) => {
      val (pairs, nodes) = clusterPairGraph(s, dir)
      Dedup.connectedComponents(pairs, nodes).orderBy("doc_id")
    }),

    // the SAME cluster assignment through the O(log n) large-star/small-star
    // promotion path — both implementations are pinned to one DuckDB
    // transitive-closure oracle
    "dedup_clusters_ls" -> ((s, dir) => {
      val (pairs, nodes) = clusterPairGraph(s, dir)
      Dedup.connectedComponentsAlternating(pairs, nodes).orderBy("doc_id")
    }),

    // cluster assignment -> QUALITY-AWARE keeper per component (highest
    // quality_score wins, min id on ties) — the decision a production
    // dedup pipeline ships; exact arg-max-per-group DuckDB oracle over the
    // same recursive-closure components
    "dedup_keepers" -> ((s, dir) => {
      val (pairs, nodes) = clusterPairGraph(s, dir)
      val subset = plantedDocs(s, dir).where(col("doc_id") % 100000 < 50)
      Dedup.qualityKeepers(
          Dedup.connectedComponents(pairs, nodes),
          TextStats.qualityScore(subset).select("doc_id", "quality_score"))
        // coalesce, not orderBy: the range sampler would re-run the
        // quality-score and keeper join chains a second time
        .coalesce(1).sortWithinPartitions("doc_id")
    }),

    // exact substring dedup (Lee et al. 2022, windowed): token-index spans
    // of 8-token windows shared by >= 2 distinct docs; DuckDB rebuilds the
    // same windows with a list comprehension. The merged variant collapses
    // overlapping windows into the maximal spans a cut pass would remove.
    "dedup_substring_spans" -> ((s, dir) =>
      Dedup.duplicatedWindowSpans(
          plantedDocs(s, dir).where(col("doc_id") % 100000 < 50), k = 8)
        .select("doc_id", "tok_start", "tok_end")
        .orderBy("doc_id", "tok_start")),

    "dedup_substring_merged" -> ((s, dir) =>
      Dedup.mergeTokenSpans(Dedup.duplicatedWindowSpans(
          plantedDocs(s, dir).where(col("doc_id") % 100000 < 50), k = 8))
        .select("doc_id", "tok_start", "tok_end")
        // coalesce, not orderBy: no range-sampling second pass
        .coalesce(1).sortWithinPartitions("doc_id", "tok_start")),

    // benchmark decontamination: corpus spans overlapping a "benchmark" set
    // (every 7th document's raw text) via broadcast digest semi-join —
    // merged to the maximal spans a scrub pass would cut
    "decontaminate_spans" -> ((s, dir) => {
      val corpus = plantedDocs(s, dir).where(col("doc_id") % 100000 < 50)
      val benchmark = docs(s, dir).where(col("doc_id") % 7 === 3)
        .select("doc_id", "text")
      Dedup.mergeTokenSpans(Dedup.contaminatedSpans(corpus, benchmark, k = 8))
        .select("doc_id", "tok_start", "tok_end")
        .orderBy("doc_id", "tok_start")
    }),

    // the 100-TB decontamination shape: bloom prefilter over the reference
    // digests (codegen'd scan-stage might_contain; zero shuffle until the
    // survivors) + exact semi-join verify of the survivors — output
    // IDENTICAL to decontaminate_spans (no false negatives; verify kills
    // the false positives), so the SAME DuckDB oracle hash-gates it
    "decontaminate_spans_bloom" -> ((s, dir) => {
      val corpus = plantedDocs(s, dir).where(col("doc_id") % 100000 < 50)
      val benchmark = docs(s, dir).where(col("doc_id") % 7 === 3)
        .select("doc_id", "text")
      Dedup.mergeTokenSpans(Dedup.contaminatedSpansBloom(corpus, benchmark,
          k = 8, expectedRefWindows = 100000L, fpp = 0.01))
        .select("doc_id", "tok_start", "tok_end")
        .orderBy("doc_id", "tok_start")
    }),

    // the scrub itself: drop every token inside a contaminated span and
    // re-join survivors (token-normalized output — the cut a pipeline
    // actually applies after the span pass). Dirty docs collapse to
    // near-empty strings; clean docs come back token-identical.
    "decontamination_scrub" -> ((s, dir) => {
      val corpus = plantedDocs(s, dir).where(col("doc_id") % 100000 < 50)
      val benchmark = docs(s, dir).where(col("doc_id") % 7 === 3)
        .select("doc_id", "text")
      Dedup.scrubTokens(corpus,
          Dedup.contaminatedSpans(corpus, benchmark, k = 8))
        .orderBy("doc_id")
    }),

    // the audit twin: per-document overlap accounting over the SAME
    // corpus/benchmark split — window counts, hit counts, overlap fraction
    // and the GPT-2/3 any-hit scrub decision
    "decontamination_report" -> ((s, dir) => {
      val corpus = plantedDocs(s, dir).where(col("doc_id") % 100000 < 50)
      val benchmark = docs(s, dir).where(col("doc_id") % 7 === 3)
        .select("doc_id", "text")
      Dedup.contaminationReport(corpus, benchmark, k = 8)
        .orderBy("doc_id")
    }),

    // planted copies (base<50 plus their near/exact twins) so the result is
    // non-empty and exactly reproducible by the DuckDB brute-force oracle
    "dedup_ngram_jaccard" -> ((s, dir) =>
      Dedup.ngramJaccardCountsExact(
        plantedDocs(s, dir).where(col("doc_id") % 100000 < 50), k = 3)
        .where(col("inter") >= 1 && col("inter") * 2 >= col("ua"))
        .orderBy("a", "b")),

    // exact-copy planted vectors: LSH finds identical vectors with
    // probability 1 (they collide in every table), and the max NATURAL
    // cosine in the synthetic embeddings is ~0.51 — so at threshold 0.9 the
    // approximate LSH result equals the oracle's exact brute-force result.
    "dedup_embedding_pairs" -> ((s, dir) => {
      val planted = plantedEmbeddings(s, dir)
      // footer count × 11/10 (planted adds every 10th id) — no scan job
      val n = parquetRowCount(s, s"$dir/embeddings.parquet")
      Similarity.cosineNearDups(planted, threshold = 0.9, nHint = n * 11 / 10)
        .select(col("a"), col("b"))
        .orderBy("a", "b")
    }),

    // SemDeDup shape: same planted corpus + threshold through cluster-
    // partitioned candidates (IVF coarse quantizer) instead of LSH buckets;
    // identical vectors always share a centroid and the max natural cosine
    // is ~0.51, so the approximate result equals the exact oracle — the
    // SAME oracle as dedup_embedding_pairs pins both scale paths
    "semantic_dedup_pairs" -> ((s, dir) => {
      val planted = plantedEmbeddings(s, dir)
      Similarity.semanticNearDups(planted,
          trainedCentroids(s, dir).map(_.toSeq).toSeq, threshold = 0.9)
        .select(col("a"), col("b"))
        .orderBy("a", "b")
    }),

    // SemDeDup END-TO-END decision: cluster-partitioned near-dup pairs →
    // connected components → min-id keeper per semantic class — the linear
    // keep/drop output a production SemDeDup pass ships (the pairs above
    // are the evidence; this is the decision). Same planted corpus and
    // threshold as semantic_dedup_pairs, so the DuckDB oracle replays the
    // whole chain exactly (brute-force cosine pairs + recursive transitive
    // closure), pinning clusters → pairs → CC → keeper in one row set.
    "semantic_dedup_keepers" -> ((s, dir) => {
      val planted = plantedEmbeddings(s, dir)
      val pairs = Similarity.semanticNearDups(planted,
          trainedCentroids(s, dir).map(_.toSeq).toSeq, threshold = 0.9)
      // semanticNearDups' contract hands the caller the eagerly-persisted
      // pairs frame; CC's result is locally checkpointed (independent of
      // the pairs lineage), so release the cache before returning instead
      // of leaking it into the sweep
      val cc = Dedup.connectedComponents(pairs.select("a", "b"),
          planted.select(col("vec_id").as("doc_id")))
      pairs.unpersist()
      cc.select(col("doc_id").as("vec_id"), col("component").as("keeper_id"),
          (col("doc_id") =!= col("component")).as("is_dup"))
        .orderBy("vec_id")
    }),

    // ---- similarity (embeddings) -------------------------------------------
    "knn_bruteforce" -> ((s, dir) =>
      Similarity.bruteForceTopK(embeddings(s, dir),
        embeddings(s, dir).where(col("vec_id") < 20), k = 5)
        .select(col("q_id"), col("rank"), col("n_id"))
        .orderBy("q_id", "rank")),

    // hard-negative mining (DPR): top-5 most-similar DIFFERENT-label
    // neighbors per query — the retrieval-training counterpart of knn;
    // broadcast-query shape, label filter as a join predicate (discarded
    // before the ranking window), ids/ranks only (float sim is not
    // cross-engine bit-stable — the knn_bruteforce precedent)
    "hard_negatives" -> ((s, dir) =>
      Similarity.hardNegatives(embeddings(s, dir),
        embeddings(s, dir).where(col("vec_id") < 20), k = 5)
        .orderBy("q_id", "rank")),

    // sparse lexical retrieval (ops/Retrieval.scala): BM25 top-5 under the
    // integer-exact contract — division idf, per-term contributions as one
    // double division of exact BIGINT products, term-sorted fold — so the
    // SCORE column itself is bit-exact in DuckDB (list_reduce replays the
    // fold), unlike dense cosine which ships ids/ranks only. Queries = the
    // first 6 distinct tokens of docs 0..19 in first-occurrence order.
    "bm25_topk" -> ((s, dir) => {
      val d = docs(s, dir)
      Retrieval.bm25TopK(d,
          Retrieval.queryTerms(d.where(col("doc_id") < 20)), k = 5)
        // coalesce+sortWithinPartitions, NOT orderBy: the range sampler
        // would execute the scoring chain a second time
        .coalesce(1).sortWithinPartitions("q_id", "rank")
    }),

    // hybrid retrieval: reciprocal-rank fusion of the BM25 run with the
    // dense brute-force cosine run over the aligned (doc_id == vec_id)
    // corpus — the standard RAG hybrid-search fusion; rrf = fixed-order sum
    // of 1/(60+rank) terms, bit-exact cross-engine, missing docs contribute
    // exactly 0.0
    "hybrid_rrf" -> ((s, dir) => {
      val d = docs(s, dir)
      val sparse = Retrieval.bm25TopK(d,
          Retrieval.queryTerms(d.where(col("doc_id") < 20)), k = 5)
        .select("q_id", "rank", "doc_id")
      val dense = Similarity.bruteForceTopK(embeddings(s, dir),
          embeddings(s, dir).where(col("vec_id") < 20), k = 5)
        .select(col("q_id"), col("rank"), col("n_id").as("doc_id"))
      Retrieval.rrfFuse(Seq(sparse, dense), k = 8)
        .orderBy("q_id", "rank")
    }),

    // IR run evaluation (trec_eval semantics) of the sparse and dense runs
    // against a deterministic 3-doc qrel set per query ({q, q+20, q+40} —
    // the self doc plus two arbitrary ids, so n_rel > hits for most
    // queries and every code path bites): per-query reciprocal rank,
    // hits@5, recall@5 — each ONE double division of exact integers
    "retrieval_eval" -> ((s, dir) => {
      val d = docs(s, dir)
      val qrels = d.where(col("doc_id") < 20)
        .select(col("doc_id").as("q_id"),
          explode(array(col("doc_id"), col("doc_id") + 20, col("doc_id") + 40))
            .as("doc_id"))
      val sparse = Retrieval.bm25TopK(d,
        Retrieval.queryTerms(d.where(col("doc_id") < 20)), k = 5)
      val dense = Similarity.bruteForceTopK(embeddings(s, dir),
          embeddings(s, dir).where(col("vec_id") < 20), k = 5)
        .select(col("q_id"), col("rank"), col("n_id").as("doc_id"))
      Retrieval.evalRun(sparse, qrels, k = 5).withColumn("run", lit("bm25"))
        .unionByName(
          Retrieval.evalRun(dense, qrels, k = 5).withColumn("run", lit("dense")))
        .select("run", "q_id", "n_rel", "hits_at_k", "first_rel_rank",
          "rr", "recall_at_k")
        .orderBy("run", "q_id")
    }),

    // run-level summary: MRR via the lcm(1..k)-rationalized ORDER-FREE
    // integer sum (no fixed-order float fold, no single-task reduce —
    // scales to unbounded query workloads), hit rate and micro recall as
    // integer-sum ratios; one trailing division each ⇒ bit-exact
    "retrieval_eval_macro" -> ((s, dir) => {
      val perQ = queries("retrieval_eval")(s, dir)
      Retrieval.evalSummary(perQ, k = 5, groupCols = Seq("run"))
        .orderBy("run")
    }),

    // product quantization under the integer-exact contract (ops/Pq.scala):
    // the one ANN path whose ENTIRE approximate pipeline — scalar
    // quantization → per-subspace assignment → ADC scoring → ranks — is
    // hash-exact in DuckDB (every distance an exact BIGINT sum of squares;
    // ties to the smaller centroid index / neighbor id). Fixed
    // Knuth-multiplicative codebook (the hashed_quality scheme) so the
    // oracle rebuilds it arithmetically; trained codebooks are the bench
    // recall path (pq_recall block)
    "knn_pq" -> ((s, dir) =>
      Pq.topK(embeddings(s, dir), embeddings(s, dir).where(col("vec_id") < 20),
          Pq.fixedCodebook(), k = 5)
        .orderBy("q_id", "rank")),

    // residual-free IVF-PQ in its APPROXIMATE regime (nprobe 2 of 16
    // coarse cells): the coarse quantizer is a 1-subspace codebook on the
    // same integer grid, so pruning + ADC + ranks all replay exactly —
    // the composition a 10^12-vector deployment actually runs (coarse
    // partition pruning × 32x code compression), oracle-verified end to
    // end including which lists were probed
    "knn_ivfpq" -> ((s, dir) =>
      Pq.ivfPqTopK(embeddings(s, dir),
          embeddings(s, dir).where(col("vec_id") < 20),
          Pq.fixedCodebook(1, 16, 64).head, Pq.fixedCodebook(),
          k = 5, nprobe = 2)
        .orderBy("q_id", "rank")),

    // embedding-hygiene gate (run before any ANN job): wrong-dim /
    // non-finite / all-zero vectors, planted via four mod-keyed families
    // (truncated, NaN head, zeroed, +Inf tail) so every flag bites; the
    // zero test is sum-of-squares == 0.0 — exact in both engines, no
    // epsilon. Scan-stage projection, zero shuffle.
    "embedding_hygiene" -> ((s, dir) => {
      val e = embeddings(s, dir).select(col("vec_id"), col("embedding"))
      def plant(mod: Int, offset: Long, vec: org.apache.spark.sql.Column) =
        e.where(col("vec_id") % mod === 0)
          .select((col("vec_id") + offset).as("vec_id"), vec.as("embedding"))
      val planted = e
        .unionAll(plant(50, 100000L, slice(col("embedding"), 1, 3)))
        .unionAll(plant(60, 200000L,
          concat(array(lit(Float.NaN)), slice(col("embedding"), 2, 1 << 20))))
        .unionAll(plant(70, 300000L,
          transform(col("embedding"), _ => lit(0.0f))))
        .unionAll(plant(80, 400000L,
          concat(slice(col("embedding"), lit(1), size(col("embedding")) - 1),
            array(lit(Float.PositiveInfinity)))))
      Similarity.vectorHygiene(planted, expectedDim = 64)
        .select("vec_id", "dim", "n_nonfinite", "is_zero", "vec_ok")
        .coalesce(1).sortWithinPartitions("vec_id")
    }),

    // IVF with nprobe = k probes every inverted list, so the result must
    // EQUAL exact brute force — the oracle hash-verifies the whole IVF
    // pipeline (train → assign → probe → candidate union → rank); the
    // approximate regime (nprobe < k) is spec-gated (OpsSpec recall)
    "knn_ivf" -> ((s, dir) => {
      val emb = embeddings(s, dir)
      graft.ops.Ivf.topK(emb, emb.where(col("vec_id") < 20), trainedCentroids(s, dir),
        k = 5, nprobe = 16)
        .select(col("q_id"), col("rank"), col("n_id"))
        .orderBy("q_id", "rank")
    }),

    "knn_lsh" -> ((s, dir) => {
      // explicit size hint from the parquet FOOTER (no scan, no job) — the
      // LIBRARY runs no hidden count; the caller supplies scale knowledge
      val emb = embeddings(s, dir)
      Similarity.lshTopK(emb, k = 5, nHint = parquetRowCount(s, s"$dir/embeddings.parquet"))
        .select(col("q_id"), col("rank"), col("n_id"))
        .orderBy("q_id", "rank")
    }),

    // hard oracle on the multi-table LSH path via planted twins: an
    // identical vector collides with its twin in EVERY table (recall 1
    // regardless of bit width), its cosine is exactly the 1.0 maximum, and
    // the max NATURAL cosine is ~0.51 — so the rank-1 neighbor of every
    // twin-having query is its twin, deterministically. Pins bucketing,
    // candidate dedupe, exact rescoring, and rank ordering end-to-end.
    "knn_lsh_twins" -> ((s, dir) => {
      val n = parquetRowCount(s, s"$dir/embeddings.parquet")
      Similarity.lshTopK(plantedEmbeddings(s, dir), k = 1, nHint = n * 11 / 10)
        .where(col("q_id") % 10 === 0) // exactly the twin-having queries
        .select(col("q_id"), col("n_id"))
        .orderBy("q_id")
    }),

    "label_histogram" -> ((s, dir) =>
      embeddings(s, dir).groupBy("label").agg(count(lit(1)).as("cnt"))
        .orderBy("label")),

    // ---- text analysis (documents) -----------------------------------------
    "doc_token_stats" -> ((s, dir) =>
      TextStats.qualityFacets(docs(s, dir).select("doc_id", "text"))
        .select("doc_id", "n_chars", "n_tokens", "n_stopwords", "n_punct",
          "n_distinct_tokens")
        .orderBy("doc_id")),

    "doc_quality_score" -> ((s, dir) =>
      TextStats.qualityScore(docs(s, dir).select("doc_id", "text"))
        .select("doc_id", "quality_score")
        .orderBy("doc_id")),

    // Gopher hard-filter signals + keep decision (Rae et al. 2021) — the
    // standard pretraining filter; integer numerators + IEEE divisions so
    // DuckDB replays every comparison exactly. Token window 20..80 so the
    // rule visibly bites on this corpus (doc lengths span 10..99)
    "gopher_filter" -> ((s, dir) =>
      TextStats.gopherSignals(docs(s, dir).select("doc_id", "text"))
        .withColumn("keep", TextStats.gopherKeep(minTokens = 20, maxTokens = 80))
        .select("doc_id", "n_tokens", "n_word_chars", "mean_word_len",
          "n_symbols", "n_lines", "n_bullet_lines", "n_ellipsis_lines",
          "n_alpha_tokens", "n_stopwords", "keep")
        .orderBy("doc_id")),

    // C4 line-level cleaning battery (Raffel et al. 2020 §2.2; per-line
    // rules as in the public c4_utils.py): terminal-punct / min-words /
    // javascript / policy-phrase line gates + lorem-ipsum / brace /
    // bad-word / min-sentence page gates. Pages are manufactured from each
    // doc's own tokens with mod-keyed plant families so EVERY clause
    // visibly bites at every scale (the base corpus is punctuation-free
    // word soup); %3/%5 families put docs on BOTH sides of the 3-sentence
    // boundary exactly. Pure scan-stage HOF projection — zero shuffle,
    // the 100-TB cost is the parquet scan itself.
    "c4_filter" -> ((s, dir) => {
      val toks = split(trim(col("text")), "\\s+")
      def sl(start: Int, len: Int) = array_join(slice(toks, start, len), " ")
      val page = concat_ws("\n",
        concat(sl(1, 6), lit(".")),
        concat(sl(7, 3), lit("!")),
        sl(10, 6),
        when(col("doc_id") % 7 === 0,
          lit("please enable javascript to view this page.")),
        when(col("doc_id") % 11 === 0,
          lit("we updated our privacy policy today, please review it.")),
        when(col("doc_id") % 3 =!= 0, concat(sl(16, 6), lit(" now?"))),
        when(col("doc_id") % 5 =!= 0,
          concat(sl(22, 6), lit(" today. it works well!"))),
        when(col("doc_id") % 13 === 0, lit("lorem ipsum dolor sit amet.")),
        when(col("doc_id") % 17 === 0, lit("function() { return 0; }")))
      WebClean.c4Signals(
          docs(s, dir).select(col("doc_id"), page.as("text")),
          badWords = Seq("vector"))
        .withColumn("keep", WebClean.c4Keep(minSentences = 3))
        .select("doc_id", "n_lines", "n_kept_lines", "cleaned_text",
          "n_sentences", "has_lorem", "has_brace", "has_bad_word", "keep")
        // coalesce+sortWithinPartitions, NOT orderBy: the range sampler
        // would execute the scan-stage battery a second time
        .coalesce(1).sortWithinPartitions("doc_id")
    }),

    // fastText-style hashed linear quality classifier (Joulin et al. 2016;
    // hashing trick per Weinberger et al. 2009) — the CCNet/LLaMA-style
    // quality-gate mechanism with deterministic Knuth-multiplicative
    // weights standing in for the trained vector: bucket = first 24 sha256
    // bits mod 2^20, weight ∈ [-1000,1000], exact BIGINT sum + ONE
    // trailing IEEE division. Scan-stage projection, zero shuffle.
    "hashed_quality" -> ((s, dir) =>
      WebClean.hashedLinearScore(docs(s, dir).select("doc_id", "text"))
        .select("doc_id", "n_tokens", "score_sum", "score", "keep")
        // coalesce, not orderBy: the range sampler re-runs the sha fold
        // (measured 1.9 s -> 0.7 s at bench scale)
        .coalesce(1).sortWithinPartitions("doc_id")),

    // per-language tokenizer-cost report (fertility = subword pieces per
    // whitespace token, the XLM-R/mT5 multilingual-corpus diagnostic):
    // integer sums under partial aggregation (ONE shuffle on ~5 language
    // keys, absorbed map-side), divisions last — exact replay. The base
    // corpus is ASCII-word-only (fertility exactly 1.0 everywhere), so
    // mod-keyed plant families make the diagnostic BITE: a no-whitespace
    // CJK page (fertility ≈ 8/token), es/de stopword pages, and a
    // punctuation-heavy en suffix — each language row gets a distinct,
    // meaningful fertility
    "token_fertility" -> ((s, dir) =>
      docs(s, dir).select(col("doc_id"), col("text"))
        .withColumn("text",
          when(col("doc_id") % 11 === 0, lit(FertilityPlants.zh))
            .when(col("doc_id") % 5 === 0, lit(FertilityPlants.es))
            .when(col("doc_id") % 7 === 0, lit(FertilityPlants.de))
            .when(col("doc_id") % 3 === 0,
              concat(col("text"), lit(FertilityPlants.enSuffix)))
            .otherwise(col("text")))
        .select(
          TextStats.langId(col("text")).as("lang_pred"),
          TextStats.tokenCount(col("text")).as("n_tokens"),
          TextStats.bpeishCount(col("text")).as("n_pieces"),
          length(col("text")).as("n_chars"))
        .groupBy("lang_pred").agg(
          count(lit(1)).as("n_docs"),
          sum("n_tokens").as("sum_tokens"),
          sum("n_pieces").as("sum_pieces"),
          sum("n_chars").as("sum_chars"))
        .withColumn("fertility",
          when(col("sum_tokens") === 0, lit(null).cast("double"))
            .otherwise(col("sum_pieces").cast("double") / col("sum_tokens").cast("double")))
        .withColumn("chars_per_piece",
          when(col("sum_pieces") === 0, lit(null).cast("double"))
            .otherwise(col("sum_chars").cast("double") / col("sum_pieces").cast("double")))
        .orderBy("lang_pred")),

    // per-source vocabulary statistics (Zipf/Heaps diagnostics a corpus
    // build tracks per snapshot): token count, distinct types, hapax
    // legomena, type-token ratio, hapax share and the top token's mass.
    // ONE shuffle on (source, token) — partial aggregation absorbs hot
    // tokens ("the") map-side, so no single-key straggler — then a tiny
    // per-source rollup; integer numerators, divisions last ⇒ exact replay
    "vocab_stats" -> ((s, dir) => {
      val tf = docs(s, dir)
        .select(col("source"), explode(Tokens.terms(col("text"))).as("tok"))
        .groupBy("source", "tok").agg(count(lit(1)).as("c"))
      tf.groupBy("source").agg(
          sum("c").as("n_tokens"),
          count(lit(1)).as("n_types"),
          sum(when(col("c") === 1, 1L).otherwise(0L)).as("n_hapax"),
          // deterministic top-1: max count, ties to the smallest token
          min(struct((-col("c")).as("nc"), col("tok"))).as("top"))
        .select(col("source"), col("n_tokens"), col("n_types"), col("n_hapax"),
          (col("n_types").cast("double") / col("n_tokens").cast("double"))
            .as("type_token_ratio"),
          (col("n_hapax").cast("double") / col("n_types").cast("double"))
            .as("hapax_frac"),
          col("top.tok").as("top_token"),
          ((-col("top.nc")).cast("double") / col("n_tokens").cast("double"))
            .as("top_token_share"))
        .orderBy("source")
    }),

    // long-document retrieval: chunk-level BM25 + MaxP doc aggregation
    // (Dai & Callan 2019) — 32-token chunks, top-50 chunks per query, doc
    // score = max retrieved-chunk score. max() of the bit-exact chunk
    // scores is bit-exact, so the whole pipeline keeps the bm25 oracle
    // contract. liftBase 1024 pins the cid arithmetic in the oracle
    "bm25_maxp" -> ((s, dir) => {
      val d = docs(s, dir)
      Retrieval.bm25MaxP(d,
          Retrieval.queryTerms(d.where(col("doc_id") < 20)),
          chunkTokens = 32, stride = 32, kChunks = 50, k = 10,
          liftBase = 1024L)
        .orderBy("q_id", "rank")
    }),

    // pseudo-relevance-feedback expansion (RM3 shape): top-3 feedback docs
    // per query mine 2 expansion terms (w = Σ (tf/dl)·score folded in
    // doc order — bit-exact), expanded queries re-retrieve top-8
    "bm25_prf" -> ((s, dir) => {
      val d = docs(s, dir)
      Retrieval.prfExpandedTopK(d,
          Retrieval.queryTerms(d.where(col("doc_id") < 20)),
          kFeedback = 3, mExpansion = 2, k = 8)
        .orderBy("q_id", "rank")
    }),

    // incremental vocabulary novelty: the delta's words flagged against
    // the history vocabulary (docs < 250) — the Heaps-law new-type-rate
    // health signal; history is never rescanned. A planted suffix token
    // ("neolex<id%40>") guarantees genuinely-new types at every scale
    "vocab_delta" -> ((s, dir) => {
      val base = docs(s, dir).select(col("doc_id"), col("text"))
      val history = BpeTrain.wordCounts(base.where(col("doc_id") < 250))
        .select("word")
      val delta = base.where(col("doc_id") >= 250)
        .select(col("doc_id"),
          concat(col("text"), lit(" neolex"),
            pmod(col("doc_id"), lit(40L)).cast("string")).as("text"))
      TextStats.vocabDelta(history, delta)
        .orderBy("word")
    }),

    // BPE training, step 1 (Sennrich 2016 §3.2): weighted symbol-pair
    // counts over the initial char+</w> symbolization of the word-frequency
    // table — the distributed half of merge learning (the sequential loop
    // is BpeTrain.learnMerges, driver-bounded, spec-gated on the paper's
    // example). Top-50 by (count, pair) — the deterministic merge ranking.
    // ASCII corpus contract for the oracle (char slicing parity); the
    // engine itself is codepoint-based
    "bpe_pair_counts" -> ((s, dir) =>
      BpeTrain.pairCounts(BpeTrain.wordCounts(docs(s, dir).select("text")))
        .orderBy(desc("pair_cnt"), asc("left"), asc("right"))
        .limit(50)),

    // DSIR importance weights (Xie et al. 2023): hashed unigram+bigram
    // profiles, add-1-smoothed target/raw likelihood ratios, exact-rational
    // contributions folded bucket-ascending (the bm25 contract) + ONE
    // trailing division by n_features. Plants: the target corpus is the
    // %10 docs with a marker phrase appended; the scored corpus appends the
    // SAME marker to %6 docs — marker-bearing docs score visibly above the
    // rest, so keep bites both ways at every scale
    "dsir_importance" -> ((s, dir) => {
      val base = spread(docs(s, dir).select(col("doc_id"), col("text")))
      val marker = lit(" premium curated encyclopedia reference article")
      val corpus = base.withColumn("text",
        when(col("doc_id") % 6 === 0, concat(col("text"), marker))
          .otherwise(col("text")))
      val target = base.where(col("doc_id") % 10 === 0)
        .select(col("doc_id"), concat(col("text"), marker).as("text"))
      Dsir.importanceScores(corpus, target, nBuckets = 4096)
        .withColumn("keep", col("score") >= 0.9)
        // coalesce, not orderBy: the range sampler would re-run the
        // histogram joins + fold a second time (benched query); eager
        // checkpoint so the per-doc collect_list aggregation + fold stay
        // parallel instead of collapsing into the coalesced single task
        .localCheckpoint(true)
        .coalesce(1).sortWithinPartitions("doc_id")
    }),

    // corpus drift monitor: Pearson χ² between hashed-bucket histograms of
    // two snapshots (snapshot 2 drops the %7 docs and drifts the %5 docs
    // with a marker topic) — D and den exact BIGINTs, one double square +
    // division per bucket, bucket-ordered fold for the total. Output =
    // top-20 drifting buckets + (chi2, df) totals
    "corpus_drift" -> ((s, dir) => {
      val base = docs(s, dir).select(col("doc_id"), col("text"))
      val snap2 = base.where(col("doc_id") % 7 =!= 0)
        .withColumn("text", when(col("doc_id") % 5 === 0,
          concat(col("text"), lit(" drifted topic tokens emerging here")))
          .otherwise(col("text")))
      // per-bucket frame is <= nBuckets rows but its LINEAGE is two corpus
      // scans — eagerly checkpoint it so the totals + top-20 consumers
      // don't re-run the snapshots (4 scans -> 2)
      val per = Drift.chiSquareDrift(
        Dsir.bucketHistogram(base, nBuckets = 1024),
        Dsir.bucketHistogram(snap2, nBuckets = 1024))
        .localCheckpoint(true)
      per.orderBy(desc("term"), asc("bucket")).limit(20)
        .crossJoin(broadcast(Drift.chiSquareTotal(per)))
        .orderBy(desc("term"), asc("bucket"))
    }),

    // drift ATTRIBUTION: name the features behind the top drifting buckets
    // — per top-5 bucket, the top-3 features by combined count (ties to the
    // lexicographically smallest feature). The per-feature frame is
    // semi-joined to 5 buckets before the rank window, so the window input
    // is bounded by the attribution target, not the corpus
    "corpus_drift_tokens" -> ((s, dir) => {
      val base = docs(s, dir).select(col("doc_id"), col("text"))
      val snap2 = base.where(col("doc_id") % 7 =!= 0)
        .withColumn("text", when(col("doc_id") % 5 === 0,
          concat(col("text"), lit(" drifted topic tokens emerging here")))
          .otherwise(col("text")))
      // per-feature counts are the ONLY corpus scans: the bucket
      // histograms derive from them by rollup (the dsir single-scan
      // lesson), and both frames checkpoint so the drift + attribution
      // consumers never re-run the snapshots
      def featCounts(df: DataFrame, cName: String) = df
        .select(explode(Dsir.featureArray(col("text"))).as("feat"))
        .groupBy("feat").agg(count(lit(1)).as(cName))
        .withColumn("bucket", Dsir.featureBucket(col("feat"), 1024))
        .localCheckpoint(true)
      val fc1 = featCounts(base, "c1")
      val fc2 = featCounts(snap2, "c2")
      def hist(fc: DataFrame, cName: String) =
        fc.groupBy("bucket").agg(sum(cName).as("cnt"))
      val per = Drift.chiSquareDrift(hist(fc1, "c1"), hist(fc2, "c2"))
      val top = per.orderBy(desc("term"), asc("bucket")).limit(5)
        .select(col("bucket"), col("term"))
      val feats = fc1
        .join(fc2.drop("bucket"), Seq("feat"), "full_outer")
        .select(col("feat"),
          coalesce(col("bucket"), Dsir.featureBucket(col("feat"), 1024)).as("bucket"),
          coalesce(col("c1"), lit(0L)).as("c1"),
          coalesce(col("c2"), lit(0L)).as("c2"))
      feats.join(broadcast(top), Seq("bucket"))
        .withColumn("combined", col("c1") + col("c2"))
        .withColumn("rnk", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy("bucket")
            .orderBy(desc("combined"), asc("feat"))))
        .where(col("rnk") <= 3)
        .select(col("bucket"), col("rnk"), col("feat"), col("c1"), col("c2"), col("term"))
        .orderBy(desc("term"), asc("bucket"), asc("rnk"))
    }),

    // DSIR resampling: keep ∝ score via max-normalized permille rate +
    // deterministic hash holdout (the retry-stable twin of the paper's
    // Gumbel resampling). floor(1000·score/max) is two correctly-rounded
    // IEEE ops in fixed order — bit-exact replay with mulHashBucket
    "dsir_resample" -> ((s, dir) => {
      val scored = queries("dsir_importance")(s, dir)
        .select("doc_id", "n_features", "score")
      Dsir.resampleByScore(scored, bucketOf = Sampling.mulHashBucket(_))
        .select("doc_id", "score", "rate_permille", "keep")
        .coalesce(1).sortWithinPartitions("doc_id")
    }),

    // ---- URL curation (RefinedWeb §3.1 / C4-style crawl stage) -----------
    // URL canonicalization: raw crawl URLs carry mod-keyed decoration
    // families (scheme/host case, www., default ports, tracking params,
    // unsorted params, trailing slash, fragments) over 50 logical pages,
    // plus two invalid-URL families (%19 garbage, %23 relative) that must
    // map to NULL. The oracle derives canonical + domain INDEPENDENTLY
    // from the plant semantics (not by replaying the regex chain), so a
    // chain bug cannot hide in a shared replay. Pure scan-stage projection
    // — zero shuffle (plan-pinned in UrlOpsSpec).
    "url_canonicalize" -> ((s, dir) => {
      val raw = urlPlant.as("raw_url")
      docs(s, dir).select(col("doc_id"), raw)
        .withColumn("url", UrlOps.canonicalizeUrl(col("raw_url")))
        .withColumn("domain", UrlOps.registeredDomain(col("url")))
        .coalesce(1).sortWithinPartitions("doc_id")
    }),

    // URL blocklist gate (C4 drops pages whose URL hits the badwords
    // blocklist; RefinedWeb scores blocklist words in the URL): flag over
    // the canonical form; %29 docs carry '-casino-games' in the path.
    // Null canonical -> null flag (three-valued, spec-pinned)
    "url_blocklist" -> ((s, dir) =>
      docs(s, dir).select(col("doc_id"), urlPlant.as("url"))
        .withColumn("curl", UrlOps.canonicalizeUrl(col("url")))
        .withColumn("blocked",
          UrlOps.urlBlockFlag(col("curl"), Seq("casino", "xxx", "free-money")))
        .select("doc_id", "curl", "blocked")
        .coalesce(1).sortWithinPartitions("doc_id")),

    // URL-level dedup in the window-free keeper form: all decoration
    // variants of one logical page collapse to one canonical class
    // (~n_docs/50 members each at every scale); invalid-URL docs stay
    // singletons via the id-keyed sentinel (null class key would pool
    // them into one bogus mega-class)
    "url_dedup" -> ((s, dir) =>
      UrlOps.urlKeepers(
          spread(docs(s, dir).select(col("doc_id"), urlPlant.as("url"))))
        .coalesce(1).sortWithinPartitions("doc_id")),

    // per-domain volume cap: 3 hot domains (~n/4 docs each — always over
    // cap, the hash keep-branch bites), count-scaled tail domains (~5 docs
    // each at EVERY scale — always under cap, kept whole), and a null
    // domain class (%19) exercising the SQL null-grouping semantics. The
    // mulHashSlot keep decision is pure BIGINT arithmetic — bit-exact
    // replay; ONE domain-keyed count + join back
    "domain_cap_sample" -> ((s, dir) => {
      val base = docs(s, dir).select("doc_id")
      val n = base.agg(count(lit(1)).as("n_docs"))
      val k = pmod(col("doc_id"), lit(50L))
      val tailMod = greatest(floor(col("n_docs") / lit(20)), lit(1L))
      val withDomain = base.crossJoin(broadcast(n))
        .withColumn("domain",
          when(col("doc_id") % 19 === 0, lit(null).cast("string"))
            .when(k % 4 === 0, lit("example.com"))
            .when(k % 4 === 1, lit("example.co.uk"))
            .when(k % 4 === 2, lit("hot-site.org"))
            .otherwise(concat(lit("tail-"),
              pmod(col("doc_id"), tailMod).cast("string"), lit(".net"))))
        .select("doc_id", "domain")
      UrlOps.domainCapSample(withDomain, "domain", "doc_id", cap = 25,
          slotOf = UrlOps.mulHashSlot)
        .select("doc_id", "domain", "n_domain", "keep")
        .orderBy("doc_id")
    }),

    // EXACT per-domain cap: keeps EXACTLY min(cap, n_domain) docs per
    // domain — the order-statistic path the hash-threshold sampler
    // cross-references. Engine = two grouped counting bisections (no
    // window, no per-domain sort); oracle = the row_number window it must
    // equal. Same plant as domain_cap_sample (hot/tail/null classes)
    "domain_cap_exact" -> ((s, dir) => {
      val base = docs(s, dir).select("doc_id")
      val n = base.agg(count(lit(1)).as("n_docs"))
      val k = pmod(col("doc_id"), lit(50L))
      val tailMod = greatest(floor(col("n_docs") / lit(20)), lit(1L))
      val withDomain = base.crossJoin(broadcast(n))
        .withColumn("domain",
          when(col("doc_id") % 19 === 0, lit(null).cast("string"))
            .when(k % 4 === 0, lit("example.com"))
            .when(k % 4 === 1, lit("example.co.uk"))
            .when(k % 4 === 2, lit("hot-site.org"))
            .otherwise(concat(lit("tail-"),
              pmod(col("doc_id"), tailMod).cast("string"), lit(".net"))))
        .select("doc_id", "domain")
      UrlOps.domainCapExact(withDomain, "domain", "doc_id", cap = 25)
        .select("doc_id", "domain", "n_domain", "keep")
        // coalesce, not orderBy: no range-sampling second pass
        .coalesce(1).sortWithinPartitions("doc_id")
    }),

    // END-TO-END crawl curation: canonicalize → URL-keeper dedup →
    // per-domain cap over the SURVIVORS → hashed quality gate, composed in
    // the order a real crawl build runs them (dedup before cap: mirror
    // copies must not inflate a domain's budget). 200 logical pages
    // (k2 = doc_id % 200) keep the post-dedup survivor counts — and hence
    // every cap branch — IDENTICAL at every scale: 3 hot domains ~50-100
    // survivors (over cap 25), tiny-site.net 2 survivors (under cap),
    // %19 garbage URLs fail url_ok. Reason flags per doc, one final AND.
    "crawl_curation_pipeline" -> ((s, dir) => {
      val base = spread(docs(s, dir).select(col("doc_id"), col("text")))
      val d = col("doc_id")
      val k2 = pmod(d, lit(200L))
      val host = when(k2 % 100 === 47, lit("tiny-site.net"))
        .when(k2 % 4 === 0, lit("example.com"))
        .when(k2 % 4 === 1, lit("news.example.co.uk"))
        .when(k2 % 4 === 2, lit("blog.hot-site.org"))
        .otherwise(lit("cdn.example.com"))
      val httpK = k2 % 2 === 0
      val scheme = when(d % 2 === 0,
          when(httpK, lit("HTTP://")).otherwise(lit("HTTPS://")))
        .otherwise(when(httpK, lit("http://")).otherwise(lit("https://")))
      val raw = when(d % 19 === 0, lit("not a url"))
        .otherwise(concat(scheme,
          when(d % 3 === 0, lit("www.")).otherwise(lit("")),
          host, lit("/page-"), k2.cast("string"),
          when(d % 7 === 0, lit("/")).otherwise(lit("")),
          when(d % 5 === 0, lit("?utm_source=f&x=1")).otherwise(lit("?x=1")),
          when(d % 11 === 0, lit("#top")).otherwise(lit(""))))
      // r8: canonicalize ONCE and checkpoint the narrow result — the
      // ~10-regex canonicalization chain previously re-ran inside
      // urlKeepers (which canonicalizes its url column itself) and again
      // in each consumer of `canon`; the keeper dedup now keys directly on
      // the precomputed canonical form (identical class key)
      val canon = base.select(col("doc_id"), raw.as("url"))
        .withColumn("curl", UrlOps.canonicalizeUrl(col("url")))
        .withColumn("url_ok", col("curl").isNotNull)
        .localCheckpoint(true)
      val keepers = UrlOps.urlKeepersCanonical(canon)
      val staged = canon.join(keepers, Seq("doc_id"))
        .withColumn("is_url_dup", col("url_ok") && col("is_dup"))
      val surv = staged.where(col("url_ok") && !col("is_dup"))
        .select(col("doc_id"), UrlOps.registeredDomain(col("curl")).as("domain"))
      val capd = UrlOps.domainCapSample(surv, "domain", cap = 25,
          slotOf = UrlOps.mulHashSlot)
        .select(col("doc_id"), col("domain"), col("n_domain"),
          col("keep").as("domain_kept"))
      val hq = WebClean.hashedLinearScore(base)
        .select(col("doc_id"), col("keep").as("hq_keep"))
      staged.join(capd, Seq("doc_id"), "left")
        .join(hq, Seq("doc_id"))
        .select(col("doc_id"), col("url_ok"), col("is_url_dup"),
          col("domain"), col("n_domain"),
          coalesce(col("domain_kept"), lit(false)).as("domain_kept"),
          col("hq_keep"),
          (col("url_ok") && !col("is_url_dup") &&
            coalesce(col("domain_kept"), lit(false)) && col("hq_keep")).as("keep"))
        .coalesce(1).sortWithinPartitions("doc_id")
    }),

    // the rollup a crawl build emits per run: per domain (null = the
    // invalid/dup-dropped pool with no domain), how many docs each gate
    // dropped and how many survived — one GROUP BY over the same pipeline
    // frame; integer counts, oracle replays the WITH + GROUP BY
    "crawl_curation_report" -> ((s, dir) =>
      queries("crawl_curation_pipeline")(s, dir)
        .groupBy("domain").agg(
          count(lit(1)).as("n_docs"),
          sum(when(!col("url_ok"), 1L).otherwise(0L)).as("n_invalid_url"),
          sum(when(col("is_url_dup"), 1L).otherwise(0L)).as("n_url_dup"),
          sum(when(col("url_ok") && !col("is_url_dup") && !col("domain_kept"), 1L)
            .otherwise(0L)).as("n_cap_dropped"),
          sum(when(col("domain_kept") && !col("hq_keep"), 1L).otherwise(0L))
            .as("n_quality_dropped"),
          sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"))
        .orderBy("domain")),

    // INCREMENTAL exact dedup — the daily-ingest shape: the delta joins
    // yesterday's narrow (digest, keeper) key table; the historical corpus
    // is never rescanned. Plants put delta docs on all three paths:
    // dup-of-history (%20 copies of old texts), dup-within-delta (%30
    // copies), and fresh classes (everything else → is_new_key rows the
    // caller appends for the next increment)
    "dedup_incremental" -> ((s, dir) => {
      val base = docs(s, dir).select(col("doc_id"), col("text"))
      val old = base.where(col("doc_id") < 250)
      val delta = base.where(col("doc_id") >= 250)
        .unionAll(old.where(col("doc_id") % 20 === 0)
          .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
        .unionAll(base.where(col("doc_id") >= 250 && col("doc_id") % 30 === 0)
          .select((col("doc_id") + 2000000L).as("doc_id"), col("text")))
      val keys = old.groupBy(sha2(col("text"), 256).as("dup_key"))
        .agg(min("doc_id").as("keeper_id"))
      Dedup.exactIncremental(keys, delta).orderBy("doc_id")
    }),

    // RAG/pretraining chunking: 32-token windows at stride 24 (8-token
    // overlap), token-index offsets carried for traceability — zero-shuffle
    // scan-stage explode, exact list-slice replay
    "chunk_docs" -> ((s, dir) =>
      TextStats.chunkDocs(docs(s, dir), chunkTokens = 32, stride = 24)
        .coalesce(1).sortWithinPartitions("doc_id", "chunk_idx")),

    // EXACT top-k heavy hitters via two bounded-memory passes (Misra–Gries
    // candidates + broadcast-filtered exact verify, fail-loud provability
    // guard) — the token universe is made genuinely long-tailed by planting
    // one unique token per document, so per-partition pruning really
    // happens; the output is provably identical to the full-shuffle top-k,
    // so the oracle is the plain exact GROUP BY
    "heavy_hitters" -> ((s, dir) => {
      val toks = docs(s, dir).select(explode(Tokens.terms(col("text"))).as("tok"))
        .unionAll(docs(s, dir)
          .select(concat(lit("u"), col("doc_id")).as("tok")))
      TextStats.heavyHittersExact(toks, "tok", k = 20, counters = 256)
        .orderBy(desc("cnt"), asc("tok"))
    }),

    // C4 §2.2 corpus-level dedup: drop all but the first occurrence of any
    // three-sentence span. Pages manufactured as 4 five-token sentences
    // from each doc's own tokens; %10 plants exact page copies (every span
    // duplicated → loser cleaned to empty), %25 plants share the first 3
    // sentences only (loses sentences 0-2, keeps its distinct 4th).
    // Scale shape: min-agg on the span digest (mega-class reduces to one
    // row map-side) + unique-key join-back + (id, idx) anti-join — no
    // corpus-wide window.
    "sentence_span_dedup" -> ((s, dir) => {
      val toks = split(trim(col("text")), "\\s+")
      def sl(start: Int) = array_join(slice(toks, start, 5), " ")
      val page = concat(sl(1), lit(". "), sl(6), lit(". "),
        sl(11), lit(". "), sl(16), lit("."))
      val altPage = concat(sl(1), lit(". "), sl(6), lit(". "),
        sl(11), lit(". "), sl(21), lit("."))
      // spread ABOVE the union (r8) — see repetition_filter_full
      val d = docs(s, dir).select(col("doc_id"), col("text"))
      val base = d.select(col("doc_id"), page.as("text"))
      val planted = spread(base
        .unionAll(d.where(col("doc_id") % 10 === 0)
          .select((col("doc_id") + 100000L).as("doc_id"), page.as("text")))
        .unionAll(d.where(col("doc_id") % 25 === 0)
          .select((col("doc_id") + 200000L).as("doc_id"), altPage.as("text"))))
      // coalesce, not orderBy: the range sampler would re-run the
      // span-dedup join chain a second time; eager checkpoint so the
      // rebuild joins stay parallel (see repetition_filter_full)
      WebClean.sentenceSpanDedup(planted).localCheckpoint(true)
        .coalesce(1).sortWithinPartitions("doc_id")
    }),

    // END-TO-END C4 pipeline: manufacture pages → line-clean + page-gate →
    // three-sentence-span dedup over the SURVIVING cleaned text — the full
    // §2.2 recipe in one dataflow, emitting the final corpus. Plants are
    // exact copies of manufactured pages (id+100000, %10 family) so a
    // surviving copy has every span duplicated and gets fully cut; gate
    // decisions depend only on the page text, so base and copy agree.
    // Scale: scan-stage gates feed the digest-keyed dedup — the gate
    // REDUCES what the shuffle sees (filter-before-shuffle, the order a
    // real corpus build uses).
    "c4_pipeline" -> ((s, dir) => {
      val toks = split(trim(col("text")), "\\s+")
      def sl(start: Int, len: Int) = array_join(slice(toks, start, len), " ")
      val page = concat_ws("\n",
        concat(sl(1, 6), lit(".")),
        concat(sl(7, 3), lit("!")),
        sl(10, 6),
        when(col("doc_id") % 7 === 0,
          lit("please enable javascript to view this page.")),
        when(col("doc_id") % 11 === 0,
          lit("we updated our privacy policy today, please review it.")),
        when(col("doc_id") % 3 =!= 0, concat(sl(16, 6), lit(" now?"))),
        when(col("doc_id") % 5 =!= 0,
          concat(sl(22, 6), lit(" today. it works well!"))),
        when(col("doc_id") % 13 === 0, lit("lorem ipsum dolor sit amet.")),
        when(col("doc_id") % 17 === 0, lit("function() { return 0; }")))
      val p0 = docs(s, dir).select(col("doc_id"), page.as("text"))
      // plant family ≡1 (mod 10): never a multiple of 5 or 10, so the
      // planted page keeps its L6/L7 sentences and ~a quarter of the
      // family SURVIVES the gate — a %10==0 family would be a dead plant
      // (%10 ⊆ %5 ⇒ no L7 ⇒ always under the 3-sentence floor)
      val planted = p0.unionAll(p0.where(col("doc_id") % 10 === 1)
        .select((col("doc_id") + 100000L).as("doc_id"), col("text")))
      val gated = WebClean.c4Signals(planted, badWords = Seq("vector"))
        .withColumn("keep", WebClean.c4Keep(minSentences = 3))
        .where(col("keep"))
        .select(col("doc_id"), col("cleaned_text").as("text"))
      WebClean.sentenceSpanDedup(gated)
        .coalesce(1).sortWithinPartitions("doc_id")
    }),

    // per-doc top-3 distinctive terms by tf·idf (division idf N/df — no
    // transcendental, so the oracle is bit-exact; ties rank by term):
    // two partial-agg shuffles + one unique-key term join + one doc window;
    // N from the parquet footer, no extra scan job
    "tfidf_top_terms" -> ((s, dir) =>
      TextStats.tfIdfTopTerms(docs(s, dir).select("doc_id", "text"),
          nDocs = parquetRowCount(s, s"$dir/documents.parquet"), k = 3)
        .orderBy("doc_id", "rank")),

    // Gopher repetition filter (the paper's §A1.1 repetition half):
    // duplicate-line fraction > 0.30 OR top word-bigram share > threshold
    // drops the doc. The fixture corpus is single-line, so multi-line
    // boilerplate twins (text repeated 3×, id+300000) are planted to make
    // the dup-line branch visibly bite; the bigram threshold 0.05 bites on
    // the natural corpus at every scale (share spans ~0.02–0.22).
    "repetition_filter" -> ((s, dir) => {
      val base = docs(s, dir).select("doc_id", "text")
      val planted = base.where(col("doc_id") % 97 === 0)
        .select((col("doc_id") + 300000L).as("doc_id"),
          concat_ws("\n", col("text"), col("text"), col("text")).as("text"))
      TextStats.repetitionSignals(base.unionAll(planted))
        .withColumn("keep", TextStats.repetitionKeep(maxTopBigramFrac = 0.05))
        // coalesce, not orderBy: no range-sampling second pass
        .coalesce(1).sortWithinPartitions("doc_id")
    }),

    // the FULL Gopher §A1.1 repetition battery (VERDICT r6 #3): dup
    // line/para fractions + char fractions, top-{2,3,4}-gram char shares,
    // dup-{5..10}-gram char fractions — 13 signals + the paper's keep
    // decision, every numerator an exact integer so the oracle replays all
    // of them. Four plant families make each clause family visibly bite at
    // every scale: ×3 line repeats (dup-line), a doubled paragraph
    // (dup-para), the whole text repeated inline (every n-gram clause),
    // and a repeated 9-token tail (5..9-gram clauses bite, 10-gram passes)
    "repetition_filter_full" -> ((s, dir) => {
      // spread ABOVE the union (r8): each plant branch's doc_id filter
      // pushes through a below-union repartition to the scan, planning
      // FIVE scan+exchange chains and a 5×parallelism-partition checkpoint
      val base = docs(s, dir).select("doc_id", "text")
      def plant(mod: Int, offset: Long, newText: org.apache.spark.sql.Column) =
        base.where(col("doc_id") % mod === 0)
          .select((col("doc_id") + offset).as("doc_id"), newText.as("text"))
      val planted = spread(base
        .unionAll(plant(97, 400000L,
          concat_ws("\n", col("text"), col("text"), col("text"))))
        .unionAll(plant(89, 500000L,
          concat(col("text"), lit("\n\n"), col("text"))))
        .unionAll(plant(83, 600000L,
          concat(col("text"), lit(" "), col("text"))))
        .unionAll(plant(79, 700000L,
          concat(col("text"), lit(" "),
            array_join(slice(split(trim(col("text")), "\\s+"), 1, 9), " ")))))
        // the battery scans its input ~7× (units ×2, tokens, grams ×3,
        // mark join) and each scan would otherwise codegen + execute the
        // 5-branch plant union again; localCheckpoint truncates the
        // lineage so every consumer reads one cached narrow frame
        .localCheckpoint(true)
      // coalesce+sortWithinPartitions, NOT orderBy: range partitioning
      // SAMPLES its child, executing the whole 13-signal battery twice
      // (measured 2×); the output is one sorted partition either way
      // (Verify writes coalesce(1))
      TextStats.repetitionSignalsFull(planted)
        .withColumn("keep", TextStats.repetitionKeepFull())
        // eager checkpoint before the single-partition sort: the signal
        // joins broadcast their small sides, so a bare coalesce(1) would
        // pull the whole scalar battery + joins into ONE task; the
        // checkpoint job runs them at full parallelism and the coalesced
        // task only merges + sorts the final ~1-row-per-doc frame
        .localCheckpoint(true)
        .coalesce(1).sortWithinPartitions("doc_id")
    }),

    // CCNet-style LM quality bucketing, model-free analogue (Wenzek et al.
    // 2020 rank by KenLM perplexity and split head/middle/tail; no LM
    // runtime in this sandbox, so the score is the corpus-trained UNIGRAM
    // frequency analogue — same selection shape, the LM swapped behind one
    // column). score = (sum_cnt / n_tokens) / N keeps the thresholds
    // scale-stable (mean token count grows ~linearly with corpus size);
    // integer aggregates + two correctly-rounded IEEE divisions, so DuckDB
    // replays the bucket decision bit-for-bit. Thresholds 1.815/1.80
    // populate all three buckets at all three driver scales (probed:
    // 490/6/4 at sf0.001, 153/262/85 at sf0.01, 15/4096/889 at sf0.1).
    "lm_quality_buckets" -> ((s, dir) => {
      val n = parquetRowCount(s, s"$dir/documents.parquet")
      TextStats.unigramFreqScore(docs(s, dir).select("doc_id", "text"))
        .withColumn("score", col("mean_cnt") / lit(n.toDouble))
        .withColumn("bucket",
          TextStats.freqBucket(col("score"), headMin = 1.815, tailMax = 1.80))
        .orderBy("doc_id")
    }),

    // deterministic hash-holdout mixture sampling (pure map-only scan-stage
    // projection — no shuffle, no RNG state; re-runs and incremental loads
    // make identical keep/drop decisions): explicit permille rates for
    // three sources, default 250 for the rest
    "stratified_sample" -> ((s, dir) =>
      Sampling.stratifiedSample(docs(s, dir).select("doc_id", "source"),
          "source", col("doc_id"),
          Map("src0" -> 900, "src1" -> 500, "src2" -> 100),
          defaultPermille = 250, bucketOf = Sampling.mulHashBucket(_))
        .orderBy("doc_id")),

    // data-derived multilingual mixture (mT5/XLM-R-style α=0.5 temperature
    // balancing): per-language counts (driver-bounded collect — #languages
    // rows, the IVF-centroid contract) → ⌊1000·√(n_lang/n_max)⌋ permille —
    // largest language kept whole, the rest downsampled toward balance;
    // one divide + sqrt + multiply + floor, all correctly-rounded IEEE, so
    // the oracle recomputes the rates in SQL and agrees bit-for-bit — then
    // the same map-only hash-holdout decision as stratified_sample.
    "mixture_sqrt_sample" -> ((s, dir) => {
      val d = docs(s, dir)
        .select(col("doc_id"), TextStats.langId(col("text")).as("lang_pred"))
      val counts = d.groupBy("lang_pred").agg(count(lit(1)).as("cnt"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      Sampling.stratifiedSample(d, "lang_pred", col("doc_id"),
          Sampling.sqrtTemperatureRates(counts),
          bucketOf = Sampling.mulHashBucket(_))
        .orderBy("doc_id")
    }),

    // the END-TO-END corpus-build decision — the one query a training-data
    // pipeline runs per document before tokenization: Gopher quality gate
    // AND repetition gate AND exact-dedup keeper rule AND LM-quality tail
    // drop AND the deterministic mixture holdout, every component decision
    // emitted for audit. All five signal frames join on the doc key (ONE
    // shuffle key end-to-end); each component is the same operator its
    // standalone query oracles, and the composed oracle replays all five
    // in one WITH.
    "corpus_build_decision" -> ((s, dir) =>
      // coalesce, not orderBy: the range sampler would re-run the
      // five-gate signal chains a second time; the eager checkpoint keeps
      // the five broadcast-joined signal chains parallel instead of
      // collapsing into the coalesced single task
      corpusBuildFrame(s, dir).drop("source")
        .localCheckpoint(true)
        .coalesce(1).sortWithinPartitions("doc_id")),

    // the rollup every pipeline run emits: per source, how many documents
    // each gate dropped and how many survived — one groupBy over the same
    // five-gate frame (integer counts; the oracle replays the WITH plus
    // one GROUP BY)
    "corpus_build_report" -> ((s, dir) => {
      val f = corpusBuildFrame(s, dir)
      def cnt(c: org.apache.spark.sql.Column) =
        sum(when(c, 1L).otherwise(0L))
      f.groupBy("source").agg(
          count(lit(1)).as("n_docs"),
          cnt(col("selected")).as("n_selected"),
          cnt(!col("keep_quality")).as("n_fail_quality"),
          cnt(!col("keep_repetition")).as("n_fail_repetition"),
          cnt(col("is_dup")).as("n_dup"),
          cnt(col("bucket") === "tail").as("n_tail"),
          cnt(!col("kept_sample")).as("n_sampled_out"))
        .orderBy("source")
    }),

    // the other half of the α=0.5 mix: sqrt-temperature UP-sampling
    // (largest language whole at 1000‰, smaller languages boosted by
    // ⌊1000·√(n_max/n_s)⌋ — mT5's low-resource boost). n_copies =
    // ⌊rate/1000⌋ + (bucket < rate mod 1000), fanned out map-only with a
    // deterministic copy_idx — re-runs and task retries emit the identical
    // multiset, which rand()-based upsampling loses.
    "mixture_upsample" -> ((s, dir) => {
      val d = docs(s, dir)
        .select(col("doc_id"), TextStats.langId(col("text")).as("lang_pred"))
      val counts = d.groupBy("lang_pred").agg(count(lit(1)).as("cnt"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      Sampling.resampleCopies(d, "lang_pred", col("doc_id"),
          Sampling.sqrtUpsampleRates(counts),
          bucketOf = Sampling.mulHashBucket(_))
        .orderBy("doc_id", "copy_idx")
    }),

    // deterministic greedy sequence packing (pretraining batch prep): the
    // (bucket, pack) assignment is a pure fold over id order, so DuckDB
    // replays it exactly with a recursive CTE
    "pack_sequences" -> ((s, dir) =>
      TextStats.packSequences(docs(s, dir).select("doc_id", "text"),
          maxTokens = 256, buckets = 8)
        .orderBy("doc_id")),

    // the SAME greedy fold budgeted in tokenizer-shaped costs (letter runs,
    // digit runs, isolated punctuation — the regex-only BPE proxy, fully
    // SQL-expressible so the recursive-CTE oracle stays exact; the REAL
    // BpeTokenizer cost column is spec-gated in OpsSpec)
    "pack_sequences_bpeish" -> ((s, dir) =>
      TextStats.packSequencesByCost(docs(s, dir).select("doc_id", "text"),
          TextStats.bpeishCount(col("text")), maxTokens = 256, buckets = 8)
        .orderBy("doc_id")),

    "lang_id" -> ((s, dir) =>
      docs(s, dir)
        .select(col("doc_id"), TextStats.langId(col("text")).as("lang_pred"))
        .orderBy("doc_id")),

    // the composed LLM-corpus pipeline: quality gate AND language id AND
    // exact-dedup keep-rule in one pass - the decision query a training-data
    // pipeline actually runs before tokenization
    "corpus_filter" -> ((s, dir) => {
      // planted corpus: the exact-dup twins (+200000) must be dropped by
      // the keeper rule, so the filter predicate visibly bites
      val d = plantedDocs(s, dir)
      val scored = TextStats.qualityScore(d)
        .withColumn("lang_pred", TextStats.langId(col("text")))
      scored.join(Dedup.exact(d).select("doc_id", "is_dup"), "doc_id")
        .where(col("quality_score") >= 0.75 && !col("is_dup"))
        .select("doc_id", "lang_pred", "quality_score")
        .orderBy("doc_id")
    }),

    "doc_fingerprint" -> ((s, dir) =>
      docs(s, dir)
        .select(col("doc_id"), TextStats.fingerprint64(col("text")).as("fp"),
          gf.simhash64(col("text")).as("simhash"))
        .orderBy("doc_id")),

    // the fingerprint's raw xxhash bits have no DuckDB twin, but its
    // EQUALITY relation is SQL-checkable: planted whitespace variants
    // (internal spaces -> tab+space, space padding) normalize to the same
    // text, so equal fingerprints == equal whitespace-normalized texts
    // (collisions between distinct normalized texts are 2^-64 and the
    // fixture corpus is fixed — pinned at all three scales)
    "doc_fingerprint_pairs" -> ((s, dir) => {
      val base = docs(s, dir).select(col("doc_id"), col("text"))
      val ws = base.where(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 300000).as("doc_id"),
          concat(lit("  "), regexp_replace(col("text"), " ", "\t "), lit("  "))
            .as("text"))
      val fp = base.union(ws)
        .select(col("doc_id"), TextStats.fingerprint64(col("text")).as("fp"))
      fp.as("l").join(fp.as("r"),
          col("l.fp") === col("r.fp") && col("l.doc_id") < col("r.doc_id"))
        .select(col("l.doc_id").as("a"), col("r.doc_id").as("b"))
        .orderBy("a", "b")
    }),

    "word_freq_top50" -> ((s, dir) =>
      docs(s, dir)
        .select(explode(split(trim(col("text")), "\\s+")).as("word"))
        .where(col("word") =!= "")
        .groupBy("word").agg(count(lit(1)).as("cnt"))
        .orderBy(desc("cnt"), asc("word"))
        .limit(50)),

    // ---- relational core over the TPC-H-ish tables --------------------------
    // classic OLAP shapes with exact (integer-valued) aggregates so the
    // oracle compare is hash-safe: shuffle agg with partial (map-side)
    // combine, a broadcast dimension-join chain, and window top-k per group
    "q1_pricing_summary" -> ((s, dir) =>
      table(s, s"$dir/lineitem.parquet")
        .where(col("l_shipdate") <= lit("1998-09-01").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(sum("l_quantity").as("sum_qty"), count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")),

    "orders_by_nation" -> ((s, dir) => {
      val orders = table(s, s"$dir/orders.parquet")
      val customer = table(s, s"$dir/customer.parquet")
      val nation = broadcast(table(s, s"$dir/nation.parquet"))
      orders
        .join(customer, col("o_custkey") === col("c_custkey"))
        .join(nation, col("c_nationkey") === col("n_nationkey"))
        .groupBy("n_name").agg(count(lit(1)).as("n_orders"))
        .orderBy("n_name")
    }),

    "top_orders_per_customer" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("o_custkey")
        .orderBy(desc("o_totalprice"), asc("o_orderkey"))
      table(s, s"$dir/orders.parquet")
        .withColumn("rank", row_number().over(w))
        .where(col("rank") <= 3)
        .select("o_custkey", "rank", "o_orderkey")
        .orderBy("o_custkey", "rank")
    }),

    // ---- events: windows, sessions, exact percentiles ----------------------
    "event_windows" -> ((s, dir) =>
      events(s, dir)
        .groupBy(col("event_type"),
          date_trunc("hour", col("ts")).cast("string").as("hour_ts"))
        .agg(count(lit(1)).as("cnt"),
          countDistinct(col("user_id")).as("users"))
        .orderBy("event_type", "hour_ts")),

    // CONVERSATION-level exact dedup — the transcripts-native composition:
    // turns roll up to one ordered document per conversation (array_sort
    // over (turn_idx, text) structs, then join — deterministic, no
    // collect_list-order dependence), planted whole-conversation copies
    // (conv_id || 'D' sorts after the original, so min-id keeps the
    // original), then Dedup.exact keyed on the conversation text.
    // SCALE NOTE: the roll-up holds a conversation's full text per group —
    // fine for bounded conversations, a skew risk for mega-conversations;
    // the aggregation-only fingerprint path below (`conv_dedup_fp`) is the
    // 10^12-turn-safe variant.
    "conv_dedup" -> ((s, dir) => {
      val conv = turns(s, dir)
        .groupBy(col("conv_id"))
        .agg(array_join(
          transform(array_sort(collect_list(struct(col("turn_idx"), col("text")))),
            x => x.getField("text")), "\n").as("text"))
      val planted = conv.union(
        conv.where(col("conv_id").cast("long") % 7 === 0)
          .select(concat(col("conv_id"), lit("D")).as("conv_id"), col("text")))
      Dedup.exact(planted, idCol = "conv_id")
        .orderBy("conv_id")
    }),

    // the SAME dedup decision WITHOUT materializing conversation text:
    // the 128-BIT multiset fingerprint (two independent xor lanes over
    // xxhash64(turn_idx, text)) is a pure aggregation (O(1) group state —
    // mega-conversation-safe); equal (turn_idx, text) multisets ⇔ equal
    // ordered conversations, false key collisions need BOTH lanes (~2⁻¹²⁸
    // — the r6 structured-64-bit-xor caveat, closed), and on the fixture
    // corpus key equality == conversation equality, pinned at all three
    // scales against the SAME rolled-up-text oracle as conv_dedup. Keeper
    // per class via groupBy-agg + join-back (a window on the fp key would
    // sort a web-scale boilerplate class inside one task).
    "conv_dedup_fp" -> ((s, dir) => {
      val t = turns(s, dir).select(col("conv_id"), col("turn_idx"), col("text"))
      val planted = t.union(
        t.where(col("conv_id").cast("long") % 7 === 0)
          .select(concat(col("conv_id"), lit("D")).as("conv_id"),
            col("turn_idx"), col("text")))
      val keyed = planted.groupBy(col("conv_id"))
        .agg(TextStats.multisetFingerprint128(col("turn_idx"), col("text")).as("fp"))
      val classes = keyed.groupBy(col("fp"))
        .agg(min(col("conv_id")).as("keeper_id"))
        .withColumnRenamed("fp", "class_fp")
      keyed.join(classes, col("fp") === col("class_fp"))
        .select(col("conv_id"), col("keeper_id"),
          (col("conv_id") =!= col("keeper_id")).as("is_dup"))
        .orderBy("conv_id")
    }),

    // conversation-level NEAR-dup: MinHash-LSH over each conversation's
    // per-turn fingerprint set, verified by exact multiset-fingerprint
    // equality — ALL aggregation-only (no text roll-up; a mega-conversation
    // costs O(1) group state). Planted: whole-conversation exact copies
    // ('D', %7 — must pair) and near-copies with ONE turn edited ('E',
    // %11 — must NOT pair at the exact regime), so the oracle proves both
    // recall and that the threshold bites.
    "conv_dedup_near" -> ((s, dir) =>
      Dedup.conversationDupPairs(plantedConvTurns(s, dir))
        .orderBy("a", "b")),

    // conversation pairs → connected components → min-conv_id keeper: the
    // transcripts-native END-TO-END dedup decision (which conversations to
    // keep), linear output. The verify relation is exact turn-multiset
    // equality, so the keeper classes are exactly the rolled-text equality
    // groups — the DuckDB oracle is one window over the rolled-up planted
    // corpus (min conv_id per identical conversation), pinning
    // LSH → verify → CC → keeper in one row set. String min/least agree
    // between engines (both binary/byte-wise ordering on these ASCII ids).
    "conv_dedup_near_keepers" -> ((s, dir) => {
      val t = plantedConvTurns(s, dir)
      val pairs = Dedup.conversationDupPairs(t)
      Dedup.connectedComponents(pairs.select("a", "b"),
          t.select(col("conv_id").as("doc_id")).distinct())
        .select(col("doc_id").as("conv_id"), col("component").as("keeper_id"),
          (col("doc_id") =!= col("component")).as("is_dup"))
        .orderBy("conv_id")
    }),

    // SFT context-assembly over the transcripts: for every assistant turn,
    // (context = previous up-to-3 turns as "role: text" lines, target =
    // the turn). Bounded window frame — per-task state is 3 rows whatever
    // the conversation length; one conv_id shuffle.
    "sft_context_pairs" -> ((s, dir) =>
      Conversations.contextPairs(turns(s, dir), nContext = 3)
        .orderBy("conv_id", "turn_idx")),

    // END-TO-END SFT prep (VERDICT r6 #6): context assembly → render the
    // example (context ⧺ target) → tokenizer-shaped cost → deterministic
    // greedy packing into context windows — the full batch-prep chain a
    // fine-tune run executes after transcript cleanup. Each piece already
    // has an exact oracle; this composes all three in one recursive-CTE
    // replay (window list → concat → regex cost → per-bucket greedy fold).
    "sft_prep_packed" -> ((s, dir) => {
      val pairs = Conversations.contextPairs(turns(s, dir), nContext = 3)
        // ×3 (the per-conversation turn count), not a round ×10: assistant
        // turns sit at turn_idx 1, and 10c+1 is always ODD — half the id%8
        // packing buckets would never be used; 3c+1 covers every residue
        .withColumn("example_id",
          col("conv_id").cast("long") * 3 + col("turn_idx"))
        .withColumn("example", concat_ws("\n", col("context"), col("target")))
      TextStats.packSequencesByCost(pairs,
          TextStats.bpeishCount(col("example")),
          idCol = "example_id", maxTokens = 512, buckets = 8)
        .orderBy("example_id")
    }),

    // CCNet-style turn-level dedup (lowercase + digit→0 normalization): the
    // transcripts twin of paragraph dedup — template turns differing only in
    // embedded order ids/counters collapse into one class; first occurrence
    // in (conv_id, turn_idx) string order is kept, and the class size feeds
    // the boilerplate rule (is_boilerplate = normalized text recurs > 100
    // times corpus-wide). groupBy-agg + unique-key join back — no window
    // sort over the (huge) boilerplate classes.
    "turn_dedup_ccnet" -> ((s, dir) =>
      Dedup.ccnetDedup(turns(s, dir),
          Seq("conv_id" -> col("conv_id"), "turn_idx" -> col("turn_idx")))
        .withColumn("is_boilerplate", col("n_copies") > 100)
        .orderBy("conv_id", "turn_idx")),

    // exact quantiles WITHOUT the exact-path row bound (the summarizeNumbers
    // guard's declared gap): Rank.select — one in-buffer aggregation up to
    // 2^20 rows, counting bisection above, all four ranks in the same
    // passes. Lower nearest-rank
    // k = floor(q·(n−1))+1, the reference's p95 convention — answers are
    // data values, so the row_number oracle replays them exactly
    "quantiles_bisect" -> ((s, dir) =>
      Metrics.exactQuantiles(docs(s, dir), "n_chars",
        Seq(0.5, 0.9, 0.95, 0.99))),

    // grouped variant: exact per-source p50/p95 — only sources above 2^20
    // rows bisect, with per-group intervals on the driver (bounded by the
    // group count, a reporting dimension)
    "quantiles_by_source" -> ((s, dir) =>
      Metrics.groupedQuantiles(docs(s, dir), "source", "n_chars",
          Seq(0.5, 0.95))
        .orderBy("source")),

    // per-conversation structure report (the transcript-corpus health
    // table: role mix, tool-call rate, char volume, wall-clock span) — one
    // conv_id-keyed shuffle absorbed by partial aggregation; a mod-keyed
    // turn drop makes n_turns/role mix genuinely vary (the generated
    // conversations are otherwise all 3 turns). All integers + two
    // trailing divisions ⇒ exact replay; span via unix epoch (session TZ
    // is UTC, so DuckDB's epoch() agrees)
    "conv_stats" -> ((s, dir) => {
      val t = turns(s, dir).where(
        (col("conv_id").cast("long") * 7 + col("turn_idx") * 3) % 5 =!= 0)
      t.groupBy("conv_id").agg(
          count(lit(1)).as("n_turns"),
          sum(when(col("role") === "user", 1L).otherwise(0L)).as("n_user"),
          sum(when(col("role") === "assistant", 1L).otherwise(0L)).as("n_assistant"),
          sum(when(col("role") === "tool", 1L).otherwise(0L)).as("n_tool_role"),
          sum(when(col("tool").isNotNull, 1L).otherwise(0L)).as("n_tool_calls"),
          sum(length(col("text")).cast("long")).as("sum_chars"),
          max(length(col("text"))).as("max_chars"),
          (max(unix_timestamp(col("ts"))) - min(unix_timestamp(col("ts"))))
            .as("span_secs"))
        .withColumn("tool_call_rate",
          col("n_tool_calls").cast("double") / col("n_turns").cast("double"))
        .withColumn("chars_per_turn",
          col("sum_chars").cast("double") / col("n_turns").cast("double"))
        .orderBy("conv_id")
    }),

    "sessionize" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      events(s, dir)
        .withColumn("prev_ts", lag(col("ts"), 1).over(w))
        .withColumn("new_session",
          // events.ts is TIMESTAMP_NTZ; session TZ is UTC so NTZ→TS→epoch
          // agrees with DuckDB's epoch()
          when(col("prev_ts").isNull ||
            col("ts").cast("timestamp").cast("long") -
              col("prev_ts").cast("timestamp").cast("long") > 1800, 1)
            .otherwise(0))
        .groupBy("user_id").agg(sum("new_session").as("n_sessions"),
          count(lit(1)).as("n_events"))
        .orderBy("user_id")
    }),

    "props_json" -> ((s, dir) =>
      events(s, dir)
        .groupBy("event_type")
        .agg(sum(get_json_object(col("props"), "$.k").cast("long")).as("sum_k"),
          count(when(get_json_object(col("props"), "$.k").isNotNull, 1)).as("with_k"))
        .orderBy("event_type")),

    "percentile_exact" -> ((s, dir) =>
      Metrics.summarizeNumbers(events(s, dir), "value", Seq("event_type"))
        .select("event_type", "n", "min", "max", "p50", "p95")
        .orderBy("event_type")),

    // ---- multimodal plumbing (stubbed decode; real schema/partitioning) ----
    "media_features" -> ((s, dir) =>
      // the stub decode is deterministic, so the SHAPE invariants (feature
      // dim, frame count, payload + total frame bytes) are SQL-derivable
      // from the source text — oracle-checked; the hash-derived meta fields
      // (kind/width) stay spec-covered in MultimodalSpec.
      Multimodal.featurize(
        Multimodal.withFakeMedia(docs(s, dir).select("doc_id", "text")))
        .select(col("doc_id"), size(col("features")).as("dim"),
          size(col("frames")).as("n_frames"),
          length(col("media.data")).as("data_len"),
          aggregate(col("frames"), lit(0), (a, x) => a + length(x)).as("frames_len"))
        .orderBy("doc_id")),

    // ---- eval metrics over the pipeline's own output -----------------------
    // the SQL-EXPRESSIBLE per-turn core of the deid eval report (G3 leak
    // check, G5 TYPE_PATTERNS counts, G6 format compliance, G7 3-gram
    // repetition), computed over the DETERMINISTIC placeholderized output
    // (R6 — '<TYPE>' splices, no MT19937) so a DuckDB oracle can rebuild
    // the prediction text per variant and replay every metric's arithmetic.
    // The report-level aggregate with the difflib G4 mean stays in
    // deid_eval_report (rows-only — difflib is the one SQL-inexpressible
    // piece).
    "deid_eval_metrics" -> ((s, dir) => {
      val t = turns(s, dir)
      val txt = col("text")
      val ents = gf.regexDetect(txt)
      val origs = transform(ents, e =>
        txt.substr(e.getField("start") + lit(1),
          e.getField("end") - e.getField("start")))
      t.select(col("conv_id"), col("turn_idx"),
          gf.placeholderize(txt).as("ph"),
          size(ents).as("pii_total"), origs.as("origs"))
        .select(col("conv_id"), col("turn_idx"), col("ph"), col("pii_total"),
          Metrics.piiRemoved(col("origs"), col("ph")).as("pii_removed"),
          size(regexp_extract_all(col("ph"), lit("<[A-Z_]+>"), lit(0)))
            .as("n_placeholders"),
          Metrics.countTypeMatches(col("ph"), "EMAIL").as("n_email_pat"),
          Metrics.repetition3gramRate(col("ph")).as("repetition_3gram_rate"),
          Metrics.formatCompliant(col("ph")).as("format_compliant"))
        .orderBy("conv_id", "turn_idx")
    }),

    // report-level aggregate (G8) incl. the G4 difflib mean — rows-only:
    // SequenceMatcher's algorithm is the one SQL-inexpressible piece; the
    // per-turn G3/G5/G6/G7 arithmetic is oracled by deid_eval_metrics
    "deid_eval_report" -> ((s, dir) => {
      val t = turns(s, dir)
      val red = Deid.redact(t)
      val perTurn = red
        .join(t.select(col("conv_id"), col("turn_idx"), col("text").as("orig")),
          Seq("conv_id", "turn_idx"))
        .select(
          col("conv_id"), col("turn_idx"),
          size(col("events")).as("pii_total"),
          Metrics.piiRemoved(
            transform(col("events"), e => e.getField("original")), col("text"))
            .as("pii_removed"),
          Metrics.repetition3gramRate(col("text")).as("repetition_3gram_rate"),
          Metrics.formatCompliant(col("text")).as("format_compliant"),
          gf.seqRatio(col("orig"), col("text")).as("similarity"))
      Metrics.aggregateReports(perTurn, avg(col("similarity")).as("mean_similarity"))
    }),

    "overwrite_similarity" -> ((s, dir) => {
      val t = turns(s, dir).where(not(col("text").contains("<html")))
      Deid.redact(t)
        .join(t.select(col("conv_id"), col("turn_idx"), col("text").as("orig")),
          Seq("conv_id", "turn_idx"))
        .select(col("conv_id"), col("turn_idx"),
          gf.seqRatio(col("orig"), col("text")).as("sim"))
        .orderBy("conv_id", "turn_idx")
    })
  )

  /** Per-turn counts of one regex-rule type with resolve=false (the raw
    * detector emission — SQL-replicable as leftmost non-overlapping regex
    * counts).
    */
  private def typeCounts(s: SparkSession, dir: String, typ: String, as: String): DataFrame =
    turns(s, dir)
      .select(col("conv_id"), col("turn_idx"),
        size(filter(gf.regexDetect(col("text"), resolve = false),
          e => e.getField("typ") === typ)).as(as))
      .orderBy("conv_id", "turn_idx")

  /** synth → extract → deid-rewrite → re-extract round trip for the
    * anchor-free office formats (rows-only; golden gates live in
    * FormatJobsSpec).
    */
  private def officeRoundtrip(s: SparkSession, dir: String, format: String): DataFrame =
    docs(s, dir)
      .select(col("doc_id"),
        concat(lit("id A123456789\n"),
          substring(regexp_replace(col("text"), "[^\\x20-\\x7e]", ""), 1, 120))
          .as("src"))
      .withColumn("doc", gf.officeSynth(col("src"), format))
      .withColumn("r", gf.officeDeid(col("doc"), format))
      .select(col("doc_id"),
        col("r.n_entities").as("n_entities"),
        (!gf.officeText(col("r.doc"), format).contains("A123456789")).as("pii_absent"),
        (length(gf.officeText(col("r.doc"), format)) > 0).as("nonempty"))
      .orderBy("doc_id")

  /** Memoized deterministic IVF coarse quantizer per sf dir — hoisted out
    * of the per-query paths so `knn_ivf` and `semantic_dedup_pairs` don't
    * re-run `iters` corpus scans per invocation, and SAMPLED (cap 4096) so
    * train cost is flat in corpus size. Both consumers stay exact under
    * any centroid set (nprobe = k probes everything; identical vectors
    * always share a centroid), so the cache is purely a cost move.
    */
  private val centroidCache =
    new java.util.concurrent.ConcurrentHashMap[String, Array[Array[Double]]]()
  private def trainedCentroids(s: SparkSession, dir: String): Array[Array[Double]] =
    centroidCache.computeIfAbsent(dir, _ =>
      graft.ops.Ivf.train(embeddings(s, dir), k = 16, iters = 2, sampleCap = 4096))

  /** embeddings ∪ deterministic exact-copy vectors (vec_id % 10 == 0, id +
    * 100000) — the embedding-dedup corpus, same construction in the oracle.
    */
  private def plantedEmbeddings(s: SparkSession, dir: String): DataFrame = {
    val base = embeddings(s, dir).select(col("vec_id"), col("embedding"))
    base.union(
      base.where(col("vec_id") % 10 === 0)
        .select((col("vec_id") + 100000).as("vec_id"), col("embedding")))
  }

  /** turns ∪ planted conversation copies: every conv_id % 7 == 0 gets an
    * exact copy (suffix 'D' — must pair/merge) and every conv_id % 11 == 0
    * a one-turn-edited near copy (suffix 'E' — must NOT pair at the exact
    * verify). Shared by `conv_dedup_near` and `conv_dedup_near_keepers`;
    * same construction in the DuckDB oracles.
    */
  private def plantedConvTurns(s: SparkSession, dir: String): DataFrame = {
    val t = turns(s, dir).select(col("conv_id"), col("turn_idx"), col("text"))
    val exactCopies = t.where(col("conv_id").cast("long") % 7 === 0)
      .select(concat(col("conv_id"), lit("D")).as("conv_id"),
        col("turn_idx"), col("text"))
    val nearCopies = t.where(col("conv_id").cast("long") % 11 === 0)
      .select(concat(col("conv_id"), lit("E")).as("conv_id"), col("turn_idx"),
        when(col("turn_idx") === 1, concat(col("text"), lit(" edited")))
          .otherwise(col("text")).as("text"))
    t.union(exactCopies).union(nearCopies)
  }

  /** documents ∪ deterministic near/exact duplicate copies — the dedup
    * corpus (same construction in tests; derived only from sfDir).
    */
  private def plantedDocs(s: SparkSession, dir: String): DataFrame = {
    // spread ABOVE the plant union (r8): every consumer (minhash/simhash
    // signatures, shingle/window explodes, decontamination digests) runs
    // its per-row CPU above this point. Spreading below the union planned
    // THREE scan+exchange chains — Catalyst pushes each plant branch's
    // doc_id filter through the round-robin exchange down to the parquet
    // scan, so the shared-exchange reuse never fires and every downstream
    // stage ran at 3×parallelism partitions of mostly-empty tasks. One
    // union of narrow scans under ONE round-robin exchange instead.
    val base = docs(s, dir).select(col("doc_id"), col("text"))
    val near = base.where(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 100000).as("doc_id"),
        concat(col("text"), lit(" extra")).as("text"))
    val exact = base.where(col("doc_id") % 25 === 0)
      .select((col("doc_id") + 200000).as("doc_id"), col("text"))
    spread(base.union(near).union(exact))
  }


  /** Shared (edges, nodes) for both cluster-assignment queries — one
    * definition so dedup_clusters and dedup_clusters_ls cannot drift apart
    * while sharing one oracle: the planted 50-doc subset's near-dup pair
    * graph (exact shingle evidence, inter*2 >= |A| keeps the DuckDB oracle
    * trivially reproducible).
    */
  private def clusterPairGraph(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val subset = plantedDocs(s, dir).where(col("doc_id") % 100000 < 50)
    // r8: checkpoint the (tiny) pair set eagerly — the CC consumer probes
    // it several times (size gate + labeling), and each probe would
    // otherwise re-run the whole shingle-explode self-join chain
    val pairs = Dedup.ngramJaccardCountsExact(subset, k = 3)
      .where(col("inter") >= 1 && col("inter") * 2 >= col("ua"))
      .select("a", "b")
      .localCheckpoint(true)
    (pairs, subset.select("doc_id"))
  }

  /** DuckDB oracles. Table names = parquet basenames; `turns` comes from the
    * shared dual-dialect CTE (TurnsGen.duckdbCte).
    */
  def oracleSql: Map[String, String] = {
    val cte = TurnsGen.duckdbCte
    // shared by knn_bruteforce and knn_ivf (nprobe = k ⇒ exact)
    val knnBruteforceOracle =
      """WITH q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id < 20),
        |c AS (SELECT vec_id AS n_id, CAST(embedding AS DOUBLE[]) AS nv FROM embeddings),
        |s AS (SELECT q_id, n_id, list_cosine_similarity(qv, nv) AS sim FROM q JOIN c ON q_id <> n_id),
        |r AS (SELECT q_id, n_id, CAST(row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id) AS INTEGER) AS rank FROM s)
        |SELECT q_id, rank, n_id FROM r WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin.replace("\n", " ")
    // BM25 CTE chain shared by bm25_topk and hybrid_rrf: full replay of the
    // integer-exact contract — tokens → tf/dl/df/corpus stats → BIGINT
    // num/den per matched term → term-ordered list_reduce fold (bit-exact
    // double) → ranks. Final CTE `bm` carries (q_id, doc_id, rank, score).
    val bm25Cte =
      """tk AS (SELECT doc_id, list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> x <> '') AS t FROM documents),
        |tok AS (SELECT doc_id, unnest(t) AS term FROM tk),
        |tfr AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term),
        |dlr AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tfr GROUP BY doc_id),
        |str AS (SELECT CAST(sum(dl) AS BIGINT) AS s, count(*) AS n FROM dlr),
        |qp AS (SELECT doc_id AS q_id, unnest([{'p': i, 'term': t[i]} for i in range(1, len(t)+1)], recursive := true) FROM tk WHERE doc_id < 20),
        |qf AS (SELECT q_id, term, min(p) AS fpos FROM qp GROUP BY q_id, term),
        |qt AS (SELECT q_id, term FROM (SELECT q_id, term, row_number() OVER (PARTITION BY q_id ORDER BY fpos) AS rn FROM qf) WHERE rn <= 6),
        |dfq AS (SELECT term, count(*) AS df FROM tfr WHERE term IN (SELECT term FROM qt) GROUP BY term),
        |mt AS (SELECT qt.q_id, tfr.doc_id, tfr.term, tfr.tf, dlr.dl, dfq.df, str.s, str.n FROM qt JOIN tfr USING (term) JOIN dfq USING (term) JOIN dlr USING (doc_id) CROSS JOIN str),
        |ctr AS (SELECT q_id, doc_id, term, 22*tf*s*(2*(n-df)+1) AS num, (10*tf*s + 3*s + 9*dl*n)*(2*df+1) AS den FROM mt),
        |ga AS (SELECT q_id, doc_id, list({'term': term, 'num': num, 'den': den} ORDER BY term) AS arr FROM ctr GROUP BY q_id, doc_id),
        |scb AS (SELECT q_id, doc_id, list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(arr, x -> CAST(x.num AS DOUBLE)/CAST(x.den AS DOUBLE))), (a,b) -> a+b) AS score FROM ga),
        |bm AS (SELECT q_id, doc_id, CAST(row_number() OVER (PARTITION BY q_id ORDER BY score DESC, doc_id) AS INTEGER) AS rank, score FROM scb)""".stripMargin
    // IR-eval CTE chain shared by retrieval_eval and retrieval_eval_macro
    // (appends to bm25Cte): dense run (knn CTEs k-prefixed), qrels
    // {q, q+20, q+40}, per-run hit stats, per-query eval rows in CTE `ev`
    val retrievalEvalCte =
      """kq AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id < 20),
        |kc AS (SELECT vec_id AS n_id, CAST(embedding AS DOUBLE[]) AS nv FROM embeddings),
        |ks AS (SELECT q_id, n_id, list_cosine_similarity(qv, nv) AS sim FROM kq JOIN kc ON q_id <> n_id),
        |kr AS (SELECT q_id, n_id AS doc_id, row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id) AS rank FROM ks),
        |qr AS (SELECT doc_id AS q_id, unnest([doc_id, doc_id + 20, doc_id + 40]) AS rdoc FROM documents WHERE doc_id < 20),
        |nr AS (SELECT q_id, CAST(count(*) AS BIGINT) AS n_rel FROM qr GROUP BY q_id),
        |hb AS (SELECT qr.q_id, CAST(count(*) AS BIGINT) AS hits, CAST(min(bm.rank) AS INTEGER) AS fr FROM bm JOIN qr ON bm.q_id = qr.q_id AND bm.doc_id = qr.rdoc WHERE bm.rank <= 5 GROUP BY qr.q_id),
        |hd AS (SELECT qr.q_id, CAST(count(*) AS BIGINT) AS hits, CAST(min(kr.rank) AS INTEGER) AS fr FROM kr JOIN qr ON kr.q_id = qr.q_id AND kr.doc_id = qr.rdoc WHERE kr.rank <= 5 GROUP BY qr.q_id),
        |eb AS (SELECT 'bm25' AS run, nr.q_id, nr.n_rel, coalesce(hb.hits, CAST(0 AS BIGINT)) AS hits_at_k, hb.fr AS first_rel_rank, coalesce(CAST(1.0 AS DOUBLE) / CAST(hb.fr AS DOUBLE), CAST(0.0 AS DOUBLE)) AS rr, CAST(coalesce(hb.hits, 0) AS DOUBLE) / CAST(nr.n_rel AS DOUBLE) AS recall_at_k FROM nr LEFT JOIN hb USING (q_id)),
        |ed AS (SELECT 'dense' AS run, nr.q_id, nr.n_rel, coalesce(hd.hits, CAST(0 AS BIGINT)) AS hits_at_k, hd.fr AS first_rel_rank, coalesce(CAST(1.0 AS DOUBLE) / CAST(hd.fr AS DOUBLE), CAST(0.0 AS DOUBLE)) AS rr, CAST(coalesce(hd.hits, 0) AS DOUBLE) / CAST(nr.n_rel AS DOUBLE) AS recall_at_k FROM nr LEFT JOIN hd USING (q_id)),
        |ev AS (SELECT * FROM eb UNION ALL SELECT * FROM ed)""".stripMargin
    // χ² drift CTE chain (snapshots, features, bucket histograms, per-
    // bucket terms in `tm`) shared by corpus_drift and its attribution
    val driftCte =
      """s2 AS (SELECT doc_id, CASE WHEN doc_id % 5 = 0 THEN text || ' drifted topic tokens emerging here' ELSE text END AS text FROM documents WHERE doc_id % 7 <> 0),
          |k1 AS (SELECT list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> x <> '') AS t FROM documents),
          |k2 AS (SELECT list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> x <> '') AS t FROM s2),
          |f1 AS (SELECT unnest(list_concat(t, [t[i] || ' ' || t[i+1] for i in range(1, len(t))])) AS feat FROM k1),
          |f2 AS (SELECT unnest(list_concat(t, [t[i] || ' ' || t[i+1] for i in range(1, len(t))])) AS feat FROM k2),
          |b1 AS (SELECT ('0x' || substr(sha256(feat), 1, 6))::BIGINT % 1024 AS bucket, CAST(count(*) AS BIGINT) AS o1 FROM f1 GROUP BY 1),
          |b2 AS (SELECT ('0x' || substr(sha256(feat), 1, 6))::BIGINT % 1024 AS bucket, CAST(count(*) AS BIGINT) AS o2 FROM f2 GROUP BY 1),
          |nn AS (SELECT (SELECT CAST(sum(o1) AS BIGINT) FROM b1) AS n1, (SELECT CAST(sum(o2) AS BIGINT) FROM b2) AS n2),
          |j AS (SELECT coalesce(b1.bucket, b2.bucket) AS bucket, coalesce(o1, 0) AS o1, coalesce(o2, 0) AS o2 FROM b1 FULL JOIN b2 ON b1.bucket = b2.bucket),
          |tm AS (SELECT bucket, o1, o2,
          |    CAST(o1*n2 - o2*n1 AS DOUBLE) * CAST(o1*n2 - o2*n1 AS DOUBLE) / CAST(n1*n2*(o1+o2) AS DOUBLE) AS term
          |  FROM j, nn)""".stripMargin.replace("\n", " ")
    // DSIR CTE chain shared by dsir_importance and dsir_resample: hashed
    // feature histograms, add-1 ratio contributions as exact BIGINTs,
    // bucket-ordered left fold, one trailing division -> per-doc scores in
    // CTE `sc`
    val dsirCte =
      """cr AS (SELECT doc_id, CASE WHEN doc_id % 6 = 0 THEN text || ' premium curated encyclopedia reference article' ELSE text END AS text FROM documents),
          |tg AS (SELECT doc_id, text || ' premium curated encyclopedia reference article' AS text FROM documents WHERE doc_id % 10 = 0),
          |ct AS (SELECT doc_id, list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> x <> '') AS t FROM cr),
          |tt0 AS (SELECT doc_id, list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> x <> '') AS t FROM tg),
          |cf AS (SELECT doc_id, unnest(list_concat(t, [t[i] || ' ' || t[i+1] for i in range(1, len(t))])) AS feat FROM ct),
          |tf2 AS (SELECT doc_id, unnest(list_concat(t, [t[i] || ' ' || t[i+1] for i in range(1, len(t))])) AS feat FROM tt0),
          |cb AS (SELECT doc_id, ('0x' || substr(sha256(feat), 1, 6))::BIGINT % 4096 AS bucket FROM cf),
          |tb AS (SELECT ('0x' || substr(sha256(feat), 1, 6))::BIGINT % 4096 AS bucket FROM tf2),
          |rh AS (SELECT bucket, CAST(count(*) AS BIGINT) AS raw_cnt FROM cb GROUP BY bucket),
          |th AS (SELECT bucket, CAST(count(*) AS BIGINT) AS tgt_cnt FROM tb GROUP BY bucket),
          |rt AS (SELECT CAST(count(*) AS BIGINT) AS raw_total FROM cb),
          |tt AS (SELECT CAST(count(*) AS BIGINT) AS tgt_total FROM tb),
          |dfb AS (SELECT doc_id, bucket, CAST(count(*) AS BIGINT) AS f FROM cb GROUP BY doc_id, bucket),
          |jc AS (SELECT dfb.doc_id, dfb.bucket, dfb.f,
          |    dfb.f * (coalesce(th.tgt_cnt, 0) + 1) * (rt.raw_total + 4096) AS num,
          |    (coalesce(rh.raw_cnt, 0) + 1) * (tt.tgt_total + 4096) AS den
          |  FROM dfb LEFT JOIN rh USING (bucket) LEFT JOIN th USING (bucket), rt, tt),
          |ga AS (SELECT doc_id, list({'b': bucket, 'num': num, 'den': den} ORDER BY bucket) AS arr, CAST(sum(f) AS BIGINT) AS n_features FROM jc GROUP BY doc_id),
          |sc AS (SELECT doc_id, n_features,
          |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(arr, x -> CAST(x.num AS DOUBLE) / CAST(x.den AS DOUBLE))), (a, b) -> a + b) / CAST(n_features AS DOUBLE) AS score FROM ga)""".stripMargin.replace("\n", " ")
    // crawl-curation CTE chain (plant, canonical, keepers, cap, quality)
    // with the per-doc decision frame in CTE `fin` — shared by the
    // pipeline query and its per-domain report
    val crawlCte =
      """pp AS (SELECT doc_id, text, doc_id % 200 AS k2 FROM documents),
          |ph AS (SELECT *, CASE WHEN (k2 % 100) = 47 THEN 'tiny-site.net'
          |  WHEN k2 % 4 = 0 THEN 'example.com'
          |  WHEN k2 % 4 = 1 THEN 'news.example.co.uk'
          |  WHEN k2 % 4 = 2 THEN 'blog.hot-site.org'
          |  ELSE 'cdn.example.com' END AS hostk FROM pp),
          |pc AS (SELECT doc_id, text, k2, hostk, doc_id % 19 <> 0 AS url_ok,
          |  CASE WHEN doc_id % 19 = 0 THEN NULL ELSE
          |    (CASE WHEN k2 % 2 = 0 THEN 'http://' ELSE 'https://' END) || hostk || '/page-' || CAST(k2 AS VARCHAR) || '?x=1'
          |  END AS curl FROM ph),
          |kp AS (SELECT *, CASE WHEN url_ok THEN min(doc_id) OVER (PARTITION BY curl) ELSE doc_id END AS keeper_id FROM pc),
          |sv AS (SELECT doc_id, CASE WHEN hostk = 'tiny-site.net' THEN 'tiny-site.net'
          |    WHEN hostk = 'news.example.co.uk' THEN 'example.co.uk'
          |    WHEN hostk = 'blog.hot-site.org' THEN 'hot-site.org'
          |    ELSE 'example.com' END AS domain
          |  FROM kp WHERE url_ok AND doc_id = keeper_id),
          |ct AS (SELECT domain, CAST(count(*) AS BIGINT) AS n_domain FROM sv GROUP BY domain),
          |cp AS (SELECT sv.doc_id, sv.domain, ct.n_domain,
          |  (ct.n_domain <= 25 OR ((sv.doc_id % 1048573) * 2654435761) % ct.n_domain < 25) AS domain_kept
          |  FROM sv JOIN ct USING (domain)),
          |tk AS (SELECT doc_id, CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tokens,
          |  regexp_split_to_array(trim(lower(text)), '\s+') AS toks FROM pp),
          |hq AS (SELECT doc_id, CASE WHEN n_tokens = 0 THEN FALSE ELSE
          |    CAST(list_sum(list_transform(toks, t ->
          |      ((('0x' || substr(sha256(t), 1, 6))::BIGINT % 1048576) * 2654435761) % 2001 - 1000)) AS DOUBLE) / CAST(n_tokens AS DOUBLE) > 0.0
          |  END AS hq_keep FROM tk),
        |fin AS (SELECT kp.doc_id, kp.url_ok, (kp.url_ok AND kp.doc_id <> kp.keeper_id) AS is_url_dup,
        |    cp.domain, cp.n_domain, coalesce(cp.domain_kept, FALSE) AS domain_kept, hq.hq_keep,
        |    (kp.url_ok AND kp.doc_id = kp.keeper_id AND coalesce(cp.domain_kept, FALSE) AND hq.hq_keep) AS keep
        |  FROM kp LEFT JOIN cp ON kp.doc_id = cp.doc_id JOIN hq ON kp.doc_id = hq.doc_id
        |  )""".stripMargin.replace("\n", " ")
    // URL-curation plant shared by url_canonicalize and url_dedup: `ur`
    // rebuilds the raw decorated URL exactly as SparkEntry.urlPlant; `uc`
    // derives canonical + registered domain INDEPENDENTLY (functions of
    // k = doc_id % 50 alone — everything else is decoration the engine
    // chain must strip)
    val urlPlantCte =
      """uh AS (SELECT doc_id, doc_id % 50 AS k,
        |  CASE WHEN (doc_id % 50) % 4 = 0 THEN 'example.com'
        |       WHEN (doc_id % 50) % 4 = 1 THEN 'news.example.co.uk'
        |       WHEN (doc_id % 50) % 4 = 2 THEN 'blog.hot-site.org'
        |       ELSE 'cdn.example.com' END AS hostk FROM documents),
        |ur AS (SELECT doc_id, k, CASE
        |  WHEN doc_id % 19 = 0 THEN 'not a url, just text'
        |  WHEN doc_id % 23 = 0 THEN '/relative/path?x=1'
        |  ELSE (CASE WHEN doc_id % 2 = 0 THEN (CASE WHEN k % 2 = 0 THEN 'HTTP://' ELSE 'HTTPS://' END) ELSE (CASE WHEN k % 2 = 0 THEN 'http://' ELSE 'https://' END) END)
        |    || (CASE WHEN doc_id % 3 = 0 THEN 'www.' ELSE '' END)
        |    || (CASE WHEN doc_id % 13 = 0 THEN upper(hostk) ELSE hostk END)
        |    || (CASE WHEN doc_id % 5 = 0 THEN (CASE WHEN k % 2 = 0 THEN ':80' ELSE ':443' END) ELSE '' END)
        |    || '/Articles/item-' || CAST(k AS VARCHAR)
        |    || (CASE WHEN doc_id % 29 = 0 THEN '-casino-games' ELSE '' END)
        |    || (CASE WHEN doc_id % 7 = 0 THEN '/' ELSE '' END)
        |    || (CASE WHEN k % 3 = 2 THEN '' WHEN doc_id % 17 = 0 THEN '?utm_source=feed&b=2&a=1' ELSE '?b=2&a=1' END)
        |    || (CASE WHEN k % 3 <> 2 AND doc_id % 31 = 0 THEN '&C=Z' ELSE '' END)
        |    || (CASE WHEN doc_id % 11 = 0 THEN '#section-2' ELSE '' END)
        |  END AS raw_url FROM uh),
        |uc AS (SELECT doc_id, k, raw_url,
        |  CASE WHEN doc_id % 19 = 0 OR doc_id % 23 = 0 THEN NULL
        |    ELSE (CASE WHEN k % 2 = 0 THEN 'http://' ELSE 'https://' END)
        |      || (CASE WHEN k % 4 = 1 THEN 'news.example.co.uk' WHEN k % 4 = 2 THEN 'blog.hot-site.org' WHEN k % 4 = 3 THEN 'cdn.example.com' ELSE 'example.com' END)
        |      || '/Articles/item-' || CAST(k AS VARCHAR)
        |      || (CASE WHEN doc_id % 29 = 0 THEN '-casino-games' ELSE '' END)
        |      || (CASE WHEN k % 3 = 2 THEN '' WHEN doc_id % 31 = 0 THEN '?C=Z&a=1&b=2' ELSE '?a=1&b=2' END) END AS url,
        |  CASE WHEN doc_id % 19 = 0 OR doc_id % 23 = 0 THEN NULL
        |    WHEN k % 4 = 1 THEN 'example.co.uk'
        |    WHEN k % 4 = 2 THEN 'hot-site.org'
        |    ELSE 'example.com' END AS domain
        |  FROM ur)""".stripMargin.replace("\n", " ")
    // corpus-window prefix shared by all three window-based oracles: the
    // planted subset's 8-token windows (1-based DuckDB list slices) as
    // (doc_id, i1, wt) rows in CTE `w2`
    val corpusWindowsCte =
      """WITH p AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id < 50
        |  UNION ALL SELECT doc_id + 100000, text || ' extra' FROM documents WHERE doc_id % 10 = 0 AND doc_id < 50
        |  UNION ALL SELECT doc_id + 200000, text FROM documents WHERE doc_id % 25 = 0 AND doc_id < 50),
        |tk AS (SELECT doc_id, list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS t FROM p),
        |wl AS (SELECT doc_id, [{'i': i, 'w': array_to_string(t[i:i+7], ' ')} for i in range(1, len(t) - 6)] AS ws FROM tk WHERE len(t) >= 8),
        |w AS (SELECT doc_id, unnest(ws) AS u FROM wl),
        |w2 AS (SELECT doc_id, u.i AS i1, u.w AS wt FROM w)""".stripMargin
    // + the >= 2 distinct-docs filter and 0-based [tok_start, tok_end)
    // spans (dedup_substring_spans / dedup_substring_merged)
    val substringSpansCte = corpusWindowsCte +
      """,
        |dups AS (SELECT wt FROM w2 GROUP BY wt HAVING count(DISTINCT doc_id) >= 2),
        |spans AS (SELECT w2.doc_id, CAST(w2.i1 - 1 AS INTEGER) AS tok_start, CAST(w2.i1 + 7 AS INTEGER) AS tok_end FROM w2 JOIN dups USING (wt))""".stripMargin
    // shared gaps-and-islands tail merging a `spans` CTE to maximal spans
    // the five-gate corpus-build WITH (Gopher quality, repetition, exact
    // dedup, LM bucket, holdout) shared by corpus_build_decision and
    // corpus_build_report — each CTE is the standalone query's oracle body
    val corpusBuildWith =
      """WITH gf AS (
        |  SELECT doc_id,
        |    CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tokens,
        |    length(regexp_replace(text, '\s+', '', 'g')) AS n_word_chars,
        |    len(regexp_extract_all(text, '(\.\.\.|[#…])')) AS n_symbols,
        |    len(regexp_split_to_array(text, '\n')) AS n_lines,
        |    len(list_filter(regexp_split_to_array(text, '\n'), x -> regexp_matches(x, '^[ \t]*[-*•]'))) AS n_bullet_lines,
        |    len(list_filter(regexp_split_to_array(text, '\n'), x -> regexp_matches(x, '(\.\.\.|…)$'))) AS n_ellipsis_lines,
        |    len(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'), x -> regexp_matches(x, '\p{L}'))) AS n_alpha_tokens,
        |    len(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'), x -> x IN ('the','a','of','and','to','in','is','it','that','for'))) AS n_stopwords
        |  FROM documents),
        |g AS (SELECT doc_id,
        |  ((n_tokens BETWEEN 20 AND 80)
        |   AND (CASE WHEN n_tokens = 0 THEN 0.0 ELSE CAST(n_word_chars AS DOUBLE) / CAST(n_tokens AS DOUBLE) END BETWEEN 3.0 AND 10.0)
        |   AND (CAST(n_symbols AS DOUBLE) / CAST(n_tokens AS DOUBLE) <= 0.1)
        |   AND (CAST(n_bullet_lines AS DOUBLE) / CAST(n_lines AS DOUBLE) <= 0.9)
        |   AND (CAST(n_ellipsis_lines AS DOUBLE) / CAST(n_lines AS DOUBLE) <= 0.3)
        |   AND (CAST(n_alpha_tokens AS DOUBLE) / CAST(n_tokens AS DOUBLE) >= 0.8)
        |   AND (n_stopwords >= 2)) AS keep_quality FROM gf),
        |rl AS (SELECT doc_id,
        |    len(regexp_split_to_array(text, '\n')) AS n_lines,
        |    len(regexp_split_to_array(text, '\n')) - len(list_distinct(regexp_split_to_array(text, '\n'))) AS n_dup_lines
        |  FROM documents),
        |rt AS (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS toks FROM documents),
        |rbg AS (SELECT doc_id, unnest([toks[i] || ' ' || toks[i+1] for i in range(1, len(toks)) if toks[i] <> '' and toks[i+1] <> '']) AS bigram FROM rt),
        |rc AS (SELECT doc_id, bigram, count(*) AS cnt FROM rbg GROUP BY doc_id, bigram),
        |rr AS (SELECT doc_id, cnt,
        |    CAST(sum(cnt) OVER (PARTITION BY doc_id) AS BIGINT) AS n_bigrams,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY cnt DESC, bigram) AS rn FROM rc),
        |rtop AS (SELECT doc_id, cnt AS top_cnt, n_bigrams FROM rr WHERE rn = 1),
        |r AS (SELECT rl.doc_id,
        |    ((CAST(n_dup_lines AS DOUBLE) / CAST(n_lines AS DOUBLE)) <= 0.30
        |     AND coalesce(CAST(top_cnt AS DOUBLE) / CAST(n_bigrams AS DOUBLE) <= 0.05, TRUE)) AS keep_repetition
        |  FROM rl LEFT JOIN rtop USING (doc_id)),
        |dup AS (SELECT doc_id, doc_id <> min(doc_id) OVER (PARTITION BY text) AS is_dup FROM documents),
        |ut AS (SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS term FROM documents),
        |ut2 AS (SELECT doc_id, term FROM ut WHERE term <> ''),
        |uc AS (SELECT term, count(*) AS cnt FROM ut2 GROUP BY term),
        |usc AS (SELECT ut2.doc_id, count(*) AS n_tokens, sum(uc.cnt) AS sum_cnt
        |  FROM ut2 JOIN uc USING (term) GROUP BY ut2.doc_id),
        |nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents),
        |q AS (SELECT d.doc_id,
        |    CASE WHEN usc.doc_id IS NULL THEN 'tail'
        |         WHEN CAST(usc.sum_cnt AS DOUBLE) / CAST(usc.n_tokens AS DOUBLE) / nn.n >= 1.815 THEN 'head'
        |         WHEN CAST(usc.sum_cnt AS DOUBLE) / CAST(usc.n_tokens AS DOUBLE) / nn.n <= 1.80 THEN 'tail'
        |         ELSE 'middle' END AS bucket
        |  FROM documents d LEFT JOIN usc USING (doc_id) CROSS JOIN nn),
        |samp AS (SELECT doc_id, ((doc_id % 1048573) * 2654435761) % 1000 < 800 AS kept_sample FROM documents)""".stripMargin

    val mergeIslandsTail =
      """,
        |pm AS (SELECT doc_id, tok_start, tok_end,
        |  max(tok_end) OVER (PARTITION BY doc_id ORDER BY tok_start, tok_end
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max FROM spans),
        |ni AS (SELECT *, CASE WHEN prev_max IS NULL OR tok_start > prev_max THEN 1 ELSE 0 END AS nw FROM pm),
        |isl AS (SELECT *, sum(nw) OVER (PARTITION BY doc_id ORDER BY tok_start, tok_end) AS island FROM ni)
        |SELECT doc_id, CAST(min(tok_start) AS INTEGER) AS tok_start, CAST(max(tok_end) AS INTEGER) AS tok_end
        |FROM isl GROUP BY doc_id, island ORDER BY doc_id, tok_start""".stripMargin
    // shared by dedup_embedding_pairs (LSH) and semantic_dedup_pairs
    // (SemDeDup clusters): exact brute force over the planted vectors
    val embeddingPairsOracle =
      """WITH pe AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 100000, CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id % 10 = 0)
        |SELECT l.vec_id AS a, r.vec_id AS b
        |FROM pe l JOIN pe r ON l.vec_id < r.vec_id
        |WHERE list_cosine_similarity(l.v, r.v) >= 0.9
        |ORDER BY a, b""".stripMargin.replace("\n", " ")
    // shared closure prefix: planted 50-doc subset -> shingle near-dup
    // edges -> transitive reach (dedup_clusters, dedup_clusters_ls,
    // dedup_keepers)
    val clustersReachCte =
      """WITH RECURSIVE p AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id < 50
        |  UNION ALL SELECT doc_id + 100000, text || ' extra' FROM documents WHERE doc_id % 10 = 0 AND doc_id < 50
        |  UNION ALL SELECT doc_id + 200000, text FROM documents WHERE doc_id % 25 = 0 AND doc_id < 50),
        |s AS (
        |  SELECT doc_id AS id,
        |         list_distinct(CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
        |                       ELSE [array_to_string(t[i:i+2], ' ') for i in range(1, len(t) - 1)] END) AS sh
        |  FROM (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t FROM p)),
        |e AS (
        |  SELECT l.id AS a, r.id AS b FROM s l JOIN s r ON l.id < r.id
        |  WHERE len(list_intersect(l.sh, r.sh)) >= 1
        |    AND len(list_intersect(l.sh, r.sh)) * 2 >= len(l.sh)),
        |e2 AS (SELECT a, b FROM e UNION ALL SELECT b, a FROM e),
        |reach(id, r) AS (
        |  SELECT id, id FROM s
        |  UNION
        |  SELECT e2.b, reach.r FROM reach JOIN e2 ON e2.a = reach.id)""".stripMargin
    // component = min transitively-reachable id; one oracle pins BOTH CC
    // implementations (min-label + alternating)
    val dedupClustersOracle =
      (clustersReachCte +
        " SELECT id AS doc_id, min(r) AS component FROM reach GROUP BY id ORDER BY doc_id")
        .replace("\n", " ")
    // + per-doc quality score and the arg-max-per-component keeper
    val dedupKeepersOracle =
      (clustersReachCte +
        """,
          |comp AS (SELECT id AS doc_id, min(r) AS component FROM reach GROUP BY id),
          |f AS (SELECT doc_id, length(text) AS n_chars,
          |  CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tokens,
          |  len(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
          |    x -> x IN ('the','a','of','and','to','in','is','it','that','for'))) AS n_stopwords,
          |  len(regexp_extract_all(text, '[!-/:-@\[-`{-~]')) AS n_punct,
          |  len(list_distinct(regexp_split_to_array(trim(lower(text)), '\s+'))) AS n_distinct_tokens
          |  FROM p),
          |q AS (SELECT doc_id,
          |  (CASE WHEN n_chars BETWEEN 20 AND 100000 THEN 0.25 ELSE 0.0 END +
          |   CASE WHEN n_stopwords > 0 THEN 0.25 ELSE 0.0 END +
          |   CASE WHEN n_tokens > 0 AND CAST(n_distinct_tokens AS DOUBLE) / n_tokens > 0.3 THEN 0.25 ELSE 0.0 END +
          |   CASE WHEN n_chars > 0 AND CAST(n_punct AS DOUBLE) / n_chars < 0.2 THEN 0.25 ELSE 0.0 END) AS qs
          |  FROM f),
          |k AS (SELECT comp.doc_id, comp.component,
          |  first_value(comp.doc_id) OVER (PARTITION BY comp.component ORDER BY q.qs DESC, comp.doc_id) AS keeper_id
          |  FROM comp JOIN q USING (doc_id))
          |SELECT doc_id, component, keeper_id, doc_id <> keeper_id AS is_dup
          |FROM k ORDER BY doc_id""".stripMargin).replace("\n", " ")
    Map(
      "turns_gen" ->
        s"$cte SELECT conv_id, turn_idx, role, text, tool FROM turns ORDER BY conv_id, turn_idx",

      "deid_blackbox_len" ->
        s"$cte SELECT conv_id, turn_idx, length(text) AS len FROM turns ORDER BY conv_id, turn_idx",

      "ctx_hash" ->
        s"$cte SELECT conv_id, turn_idx, sha256(text) AS ctx FROM turns ORDER BY conv_id, turn_idx",

      "detect_email_counts" ->
        (s"$cte SELECT conv_id, turn_idx, " +
          "CAST(len(regexp_extract_all(text, '[\\w\\.-]+@[\\w\\.-]+\\.[A-Za-z]{2,4}')) AS INTEGER) AS n_email " +
          "FROM turns ORDER BY conv_id, turn_idx"),

      "detect_phone_counts" ->
        (s"$cte SELECT conv_id, turn_idx, " +
          "CAST(len(regexp_extract_all(text, '09\\d{2}-?\\d{3}-?\\d{3}')) AS INTEGER) AS n_phone " +
          "FROM turns ORDER BY conv_id, turn_idx"),

      // raw-rule (resolve=false) per-type counts: leftmost non-overlapping
      // greedy matching is identical between java.util.regex and RE2 for
      // these patterns (no alternation-order or backtracking divergence)
      "detect_id_counts" ->
        (s"$cte SELECT conv_id, turn_idx, " +
          "CAST(len(regexp_extract_all(text, '[A-Za-z][0-9]{9}')) AS INTEGER) AS n_id " +
          "FROM turns ORDER BY conv_id, turn_idx"),

      "detect_passport_counts" ->
        (s"$cte SELECT conv_id, turn_idx, " +
          "CAST(len(regexp_extract_all(text, '[A-Z]{1,2}[0-9]{6,8}')) AS INTEGER) AS n_passport " +
          "FROM turns ORDER BY conv_id, turn_idx"),

      "detect_ubn_counts" ->
        (s"$cte SELECT conv_id, turn_idx, " +
          "CAST(len(regexp_extract_all(text, '[0-9]{8}')) AS INTEGER) AS n_ubn " +
          "FROM turns ORDER BY conv_id, turn_idx"),

      "detect_medical_counts" ->
        (s"$cte SELECT conv_id, turn_idx, " +
          "CAST(len(regexp_extract_all(text, '[A-Z][0-9]{7,8}')) AS INTEGER) AS n_medical " +
          "FROM turns ORDER BY conv_id, turn_idx"),

      "detect_ssn_counts" ->
        (s"$cte SELECT conv_id, turn_idx, " +
          "CAST(len(regexp_extract_all(text, '\\b[0-9]{3}-[0-9]{2}-[0-9]{4}\\b')) AS INTEGER) AS n_ssn " +
          "FROM turns ORDER BY conv_id, turn_idx"),

      // gazetteer terms are fixed strings, none self-overlapping → per-term
      // occurrence count = replace()-based count; total = sum over vocab
      "dict_detect_counts" -> {
        val terms = graft.detect.AhoCorasick.referenceVocab.map(_._1)
        val sum = terms.map { t =>
          val len = t.codePointCount(0, t.length)
          s"((length(text) - length(replace(text, '$t', ''))) // $len)"
        }.mkString(" + ")
        s"$cte SELECT conv_id, turn_idx, CAST($sum AS INTEGER) AS n_dict " +
          "FROM turns ORDER BY conv_id, turn_idx"
      },

      "model_detect" ->
        (s"$cte SELECT conv_id, turn_idx, " +
          "CAST(len(list_filter(regexp_split_to_array(text, '\\s+'), x -> contains(x, '@'))) AS INTEGER) AS n_email_model, " +
          "CAST(len(list_filter(regexp_split_to_array(text, '\\s+'), x -> regexp_matches(x, '^09[0-9]{8}[.,!?]?$'))) AS INTEGER) AS n_phone_model, " +
          "CAST(len(list_filter(regexp_split_to_array(text, '\\s+'), x -> regexp_matches(x, '^[A-Z][0-9]{9}[.,!?]?$'))) AS INTEGER) AS n_id_model " +
          "FROM turns ORDER BY conv_id, turn_idx"),

      "dedup_exact" ->
        ("SELECT doc_id, min(doc_id) OVER (PARTITION BY text) AS keeper_id, " +
          "doc_id <> min(doc_id) OVER (PARTITION BY text) AS is_dup " +
          "FROM documents ORDER BY doc_id"),

      "label_histogram" ->
        "SELECT label, count(*) AS cnt FROM embeddings GROUP BY label ORDER BY label",

      // brute-force n-gram Jaccard over the planted 50-doc corpus — DuckDB
      // list comprehension rebuilds the exact k=3 word shingles
      // the same pair graph closed transitively (recursive CTE): component =
      // min reachable doc_id, isolated docs keep their own id. The SAME
      // oracle pins both CC implementations (min-label + alternating).
      "dedup_clusters" -> dedupClustersOracle,
      "dedup_clusters_ls" -> dedupClustersOracle,
      "dedup_keepers" -> dedupKeepersOracle,

      "dedup_substring_spans" ->
        (substringSpansCte +
          " SELECT doc_id, tok_start, tok_end FROM spans ORDER BY doc_id, tok_start")
          .replace("\n", " "),

      "dedup_substring_merged" ->
        (substringSpansCte + mergeIslandsTail).replace("\n", " "),

      // corpus windows ∩ benchmark windows (docs with doc_id % 7 = 3),
      // merged — the decontamination scrub's cut list
      "decontaminate_spans" ->
        (corpusWindowsCte + """,
          |btk AS (SELECT doc_id, list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS t FROM documents WHERE doc_id % 7 = 3),
          |bwl AS (SELECT [array_to_string(t[i:i+7], ' ') for i in range(1, len(t) - 6)] AS ws FROM btk WHERE len(t) >= 8),
          |bw AS (SELECT DISTINCT unnest(ws) AS wt FROM bwl),
          |spans AS (SELECT w2.doc_id, CAST(w2.i1 - 1 AS INTEGER) AS tok_start, CAST(w2.i1 + 7 AS INTEGER) AS tok_end
          |  FROM w2 WHERE wt IN (SELECT wt FROM bw))""".stripMargin
          + mergeIslandsTail).replace("\n", " "),

      // the scrub: cut-position set from the (unmerged) spans, anti-joined
      // against the indexed token list, survivors re-joined in index order
      "decontamination_scrub" ->
        (corpusWindowsCte + """,
          |btk AS (SELECT doc_id, list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS t FROM documents WHERE doc_id % 7 = 3),
          |bwl AS (SELECT [array_to_string(t[i:i+7], ' ') for i in range(1, len(t) - 6)] AS ws FROM btk WHERE len(t) >= 8),
          |bw AS (SELECT DISTINCT unnest(ws) AS wt FROM bwl),
          |spans AS (SELECT w2.doc_id, CAST(w2.i1 - 1 AS INTEGER) AS tok_start, CAST(w2.i1 + 7 AS INTEGER) AS tok_end
          |  FROM w2 WHERE wt IN (SELECT wt FROM bw)),
          |cut AS (SELECT doc_id, unnest(range(tok_start, tok_end)) AS j FROM spans),
          |tk2 AS (SELECT doc_id, list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS t FROM p),
          |tokj AS (SELECT doc_id, unnest([{'j': i-1, 'tok': t[i]} for i in range(1, len(t)+1)], recursive := true) FROM tk2),
          |kept AS (SELECT tokj.doc_id, j, tok FROM tokj
          |  WHERE NOT EXISTS (SELECT 1 FROM cut WHERE cut.doc_id = tokj.doc_id AND cut.j = tokj.j)),
          |sc AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY j) AS s FROM kept GROUP BY doc_id)
          |SELECT p.doc_id, coalesce(sc.s, '') AS text_scrubbed
          |FROM p LEFT JOIN sc USING (doc_id) ORDER BY doc_id""".stripMargin.replace("\n", " ")),

      // per-doc window/hit counts over the same corpus/benchmark CTEs; the
      // fraction is one IEEE division on integer counts
      "decontamination_report" ->
        (corpusWindowsCte + """,
          |btk AS (SELECT doc_id, list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS t FROM documents WHERE doc_id % 7 = 3),
          |bwl AS (SELECT [array_to_string(t[i:i+7], ' ') for i in range(1, len(t) - 6)] AS ws FROM btk WHERE len(t) >= 8),
          |bw AS (SELECT DISTINCT unnest(ws) AS wt FROM bwl),
          |hits AS (SELECT w2.doc_id, count(*) AS n_windows,
          |    CAST(sum(CASE WHEN w2.wt IN (SELECT wt FROM bw) THEN 1 ELSE 0 END) AS BIGINT) AS n_hits
          |  FROM w2 GROUP BY w2.doc_id)
          |SELECT p.doc_id, CAST(coalesce(h.n_windows, 0) AS BIGINT) AS n_windows,
          |  CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
          |  CAST(h.n_hits AS DOUBLE) / CAST(h.n_windows AS DOUBLE) AS contaminated_frac,
          |  coalesce(h.n_hits, 0) >= 1 AS is_contaminated
          |FROM p LEFT JOIN hits h USING (doc_id) ORDER BY doc_id""".stripMargin.replace("\n", " ")),

      "dedup_ngram_jaccard" ->
        ("""WITH p AS (
          |  SELECT doc_id, text FROM documents WHERE doc_id < 50
          |  UNION ALL SELECT doc_id + 100000, text || ' extra' FROM documents WHERE doc_id % 10 = 0 AND doc_id < 50
          |  UNION ALL SELECT doc_id + 200000, text FROM documents WHERE doc_id % 25 = 0 AND doc_id < 50),
          |s AS (
          |  SELECT doc_id AS id,
          |         list_distinct(CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
          |                       ELSE [array_to_string(t[i:i+2], ' ') for i in range(1, len(t) - 1)] END) AS sh
          |  FROM (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t FROM p))
          |SELECT l.id AS a, r.id AS b,
          |       CAST(len(list_intersect(l.sh, r.sh)) AS BIGINT) AS inter,
          |       CAST(len(l.sh) AS INTEGER) AS ua, CAST(len(r.sh) AS INTEGER) AS ub
          |FROM s l JOIN s r ON l.id < r.id
          |WHERE len(list_intersect(l.sh, r.sh)) >= 1
          |  AND len(list_intersect(l.sh, r.sh)) * 2 >= len(l.sh)
          |ORDER BY a, b""".stripMargin.replace("\n", " ")),

      // exact brute force over the planted corpus: only the planted
      // identical-vector pairs clear 0.9 (max natural cosine ~0.51); LSH
      // finds identical vectors with probability 1 and identical vectors
      // always share a k-means centroid — approximate == exact for BOTH
      // the LSH and the SemDeDup cluster-partitioned path
      "dedup_embedding_pairs" -> embeddingPairsOracle,
      "semantic_dedup_pairs" -> embeddingPairsOracle,

      // exact pairs (same construction as embeddingPairsOracle) + the
      // recursive transitive closure → min reachable id per vector: the
      // SemDeDup keeper decision, replayed end-to-end
      "semantic_dedup_keepers" ->
        """WITH RECURSIVE pe AS (
          |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
          |  UNION ALL
          |  SELECT vec_id + 100000, CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id % 10 = 0),
          |e AS (
          |  SELECT l.vec_id AS a, r.vec_id AS b FROM pe l JOIN pe r ON l.vec_id < r.vec_id
          |  WHERE list_cosine_similarity(l.v, r.v) >= 0.9),
          |e2 AS (SELECT a, b FROM e UNION ALL SELECT b, a FROM e),
          |reach(id, r) AS (
          |  SELECT vec_id, vec_id FROM pe
          |  UNION
          |  SELECT e2.b, reach.r FROM reach JOIN e2 ON e2.a = reach.id)
          |SELECT id AS vec_id, min(r) AS keeper_id, id <> min(r) AS is_dup
          |FROM reach GROUP BY id ORDER BY vec_id""".stripMargin.replace("\n", " "),

      // MinHash at threshold 1.0 == exact shingle-SET-equality pairs (equal
      // sets -> equal signatures -> collide in every band; Jaccard >= 1
      // admits nothing else). The join keys on the sorted distinct shingle
      // LIST directly — no string-encoding of the set, no separator
      // assumptions about document content.
      "dedup_minhash_pairs" ->
        ("""WITH p AS (
          |  SELECT doc_id, text FROM documents
          |  UNION ALL SELECT doc_id + 100000, text || ' extra' FROM documents WHERE doc_id % 10 = 0
          |  UNION ALL SELECT doc_id + 200000, text FROM documents WHERE doc_id % 25 = 0),
          |s AS (
          |  SELECT doc_id AS id,
          |         list_sort(list_distinct(
          |           CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
          |                ELSE [array_to_string(t[i:i+2], ' ') for i in range(1, len(t) - 1)] END)) AS key
          |  FROM (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t FROM p))
          |SELECT l.id AS a, r.id AS b FROM s l JOIN s r ON l.key = r.key AND l.id < r.id
          |ORDER BY a, b""".stripMargin.replace("\n", " ")),

      // verified SimHash == equal lowercased-token-MULTISET pairs:
      // list_sort of the token list IS the multiset key (joined as a list —
      // empty token lists compare equal, so token-less duplicates pair too)
      "dedup_simhash_pairs" ->
        ("""WITH p AS (
          |  SELECT doc_id, text FROM documents
          |  UNION ALL SELECT doc_id + 100000, text || ' extra' FROM documents WHERE doc_id % 10 = 0
          |  UNION ALL SELECT doc_id + 200000, text FROM documents WHERE doc_id % 25 = 0),
          |s AS (
          |  SELECT doc_id AS id,
          |         list_sort(list_filter(
          |           regexp_split_to_array(lower(text), '\s+'), x -> x <> '')) AS key
          |  FROM p)
          |SELECT l.id AS a, r.id AS b FROM s l JOIN s r ON l.key = r.key AND l.id < r.id
          |ORDER BY a, b""".stripMargin.replace("\n", " ")),

      // linear keeper form: keeper = min doc_id per sorted-lowercased-token-
      // multiset class. The engine partitions on a sha2 digest of the
      // space-joined sorted list (tokens contain no whitespace ⇒ injective
      // encoding); the oracle partitions on the joined string itself —
      // identical equivalence classes.
      "dedup_simhash_keepers" ->
        ("""WITH p AS (
          |  SELECT doc_id, text FROM documents
          |  UNION ALL SELECT doc_id + 100000, text || ' extra' FROM documents WHERE doc_id % 10 = 0
          |  UNION ALL SELECT doc_id + 200000, text FROM documents WHERE doc_id % 25 = 0),
          |s AS (
          |  SELECT doc_id, array_to_string(list_sort(list_filter(
          |    regexp_split_to_array(lower(text), '\s+'), x -> x <> '')), ' ') AS key
          |  FROM p)
          |SELECT doc_id, min(doc_id) OVER (PARTITION BY key) AS keeper_id,
          |       doc_id <> min(doc_id) OVER (PARTITION BY key) AS is_dup
          |FROM s ORDER BY doc_id""".stripMargin.replace("\n", " ")),

      // keeper per distinct-shingle-SET class (the threshold-1.0 minhash
      // relation): key = newline-joined sorted distinct shingles (shingles
      // contain spaces but no other whitespace ⇒ injective)
      "dedup_minhash_keepers" ->
        ("""WITH p AS (
          |  SELECT doc_id, text FROM documents
          |  UNION ALL SELECT doc_id + 100000, text || ' extra' FROM documents WHERE doc_id % 10 = 0
          |  UNION ALL SELECT doc_id + 200000, text FROM documents WHERE doc_id % 25 = 0),
          |s AS (
          |  SELECT doc_id,
          |         array_to_string(list_sort(list_distinct(
          |           CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
          |                ELSE [array_to_string(t[i:i+2], ' ') for i in range(1, len(t) - 1)] END)), chr(10)) AS key
          |  FROM (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t FROM p))
          |SELECT doc_id, min(doc_id) OVER (PARTITION BY key) AS keeper_id,
          |       doc_id <> min(doc_id) OVER (PARTITION BY key) AS is_dup
          |FROM s ORDER BY doc_id""".stripMargin.replace("\n", " ")),

      // linear quality-aware keepers: component = min doc_id per multiset
      // class (dialect-free label), keeper = arg-max quality (ties min id)
      "dedup_keepers_linear" ->
        ("""WITH p AS (
          |  SELECT doc_id, text FROM documents
          |  UNION ALL SELECT doc_id + 100000, text || ' extra' FROM documents WHERE doc_id % 10 = 0
          |  UNION ALL SELECT doc_id + 200000, text FROM documents WHERE doc_id % 25 = 0),
          |s AS (
          |  SELECT doc_id, array_to_string(list_sort(list_filter(
          |    regexp_split_to_array(lower(text), '\s+'), x -> x <> '')), ' ') AS key
          |  FROM p),
          |comp AS (SELECT doc_id, min(doc_id) OVER (PARTITION BY key) AS component FROM s),
          |f AS (SELECT doc_id, length(text) AS n_chars,
          |  CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tokens,
          |  len(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
          |    x -> x IN ('the','a','of','and','to','in','is','it','that','for'))) AS n_stopwords,
          |  len(regexp_extract_all(text, '[!-/:-@\[-`{-~]')) AS n_punct,
          |  len(list_distinct(regexp_split_to_array(trim(lower(text)), '\s+'))) AS n_distinct_tokens
          |  FROM p),
          |q AS (SELECT doc_id,
          |  (CASE WHEN n_chars BETWEEN 20 AND 100000 THEN 0.25 ELSE 0.0 END +
          |   CASE WHEN n_stopwords > 0 THEN 0.25 ELSE 0.0 END +
          |   CASE WHEN n_tokens > 0 AND CAST(n_distinct_tokens AS DOUBLE) / n_tokens > 0.3 THEN 0.25 ELSE 0.0 END +
          |   CASE WHEN n_chars > 0 AND CAST(n_punct AS DOUBLE) / n_chars < 0.2 THEN 0.25 ELSE 0.0 END) AS qs
          |  FROM f),
          |k AS (SELECT comp.doc_id, comp.component,
          |  first_value(comp.doc_id) OVER (PARTITION BY comp.component ORDER BY q.qs DESC, comp.doc_id) AS keeper_id
          |  FROM comp JOIN q USING (doc_id))
          |SELECT doc_id, component, keeper_id, doc_id <> keeper_id AS is_dup
          |FROM k ORDER BY doc_id""".stripMargin.replace("\n", " ")),

      // conversation near-dup at the exact regime: pairs = equal rolled-up
      // conversation texts. Exact 'D' copies pair; one-turn-edited 'E'
      // near-copies must NOT (their presence proves the verify step bites).
      "conv_dedup_near" ->
        (s"$cte, conv AS (SELECT conv_id, string_agg(text, chr(10) ORDER BY turn_idx) AS text " +
          "FROM turns GROUP BY conv_id), " +
          "convE AS (SELECT conv_id || 'E' AS conv_id, " +
          "string_agg(CASE WHEN turn_idx = 1 THEN text || ' edited' ELSE text END, chr(10) ORDER BY turn_idx) AS text " +
          "FROM turns WHERE CAST(conv_id AS BIGINT) % 11 = 0 GROUP BY conv_id), " +
          "p AS (SELECT conv_id, text FROM conv " +
          "UNION ALL SELECT conv_id || 'D', text FROM conv WHERE CAST(conv_id AS BIGINT) % 7 = 0 " +
          "UNION ALL SELECT conv_id, text FROM convE) " +
          "SELECT l.conv_id AS a, r.conv_id AS b FROM p l JOIN p r " +
          "ON l.text = r.text AND l.conv_id < r.conv_id ORDER BY a, b"),

      // keeper classes == rolled-text equality groups (the verify relation
      // is exact turn-multiset equality), so the end-to-end
      // pairs → CC → keeper decision reduces to one window: min conv_id
      // per identical rolled conversation
      "conv_dedup_near_keepers" ->
        (s"$cte, conv AS (SELECT conv_id, string_agg(text, chr(10) ORDER BY turn_idx) AS text " +
          "FROM turns GROUP BY conv_id), " +
          "convE AS (SELECT conv_id || 'E' AS conv_id, " +
          "string_agg(CASE WHEN turn_idx = 1 THEN text || ' edited' ELSE text END, chr(10) ORDER BY turn_idx) AS text " +
          "FROM turns WHERE CAST(conv_id AS BIGINT) % 11 = 0 GROUP BY conv_id), " +
          "p AS (SELECT conv_id, text FROM conv " +
          "UNION ALL SELECT conv_id || 'D', text FROM conv WHERE CAST(conv_id AS BIGINT) % 7 = 0 " +
          "UNION ALL SELECT conv_id, text FROM convE) " +
          "SELECT conv_id, min(conv_id) OVER (PARTITION BY text) AS keeper_id, " +
          "conv_id <> min(conv_id) OVER (PARTITION BY text) AS is_dup " +
          "FROM p ORDER BY conv_id"),

      // every twin-having query's nearest neighbor is its planted twin
      // (cosine exactly 1.0 vs ~0.51 natural max; twins collide in every
      // LSH table)
      "knn_lsh_twins" ->
        ("""WITH t AS (SELECT vec_id FROM embeddings WHERE vec_id % 10 = 0)
          |SELECT vec_id AS q_id, vec_id + 100000 AS n_id FROM t
          |UNION ALL
          |SELECT vec_id + 100000 AS q_id, vec_id AS n_id FROM t
          |ORDER BY q_id""".stripMargin.replace("\n", " ")),

      // equal fingerprints == equal whitespace-normalized texts (trim
      // strips spaces only; \s+ collapses to one space — 'g' flag: DuckDB
      // regexp_replace replaces only the first match by default)
      "doc_fingerprint_pairs" ->
        ("""WITH p AS (
          |  SELECT doc_id, text FROM documents
          |  UNION ALL SELECT doc_id + 300000, '  ' || replace(text, ' ', chr(9) || ' ') || '  ' FROM documents WHERE doc_id % 10 = 0),
          |n AS (SELECT doc_id, regexp_replace(trim(text), '\s+', ' ', 'g') AS norm FROM p)
          |SELECT l.doc_id AS a, r.doc_id AS b FROM n l JOIN n r ON l.norm = r.norm AND l.doc_id < r.doc_id
          |ORDER BY a, b""".stripMargin.replace("\n", " ")),

      "knn_ivf" -> knnBruteforceOracle,

      "knn_bruteforce" -> knnBruteforceOracle,

      // full PQ replay: codebook rebuilt arithmetically, components
      // quantized with the same floor(x·1000 + 0.5), per-subspace argmin
      // with (dist, j) tie-break, ADC = sum of lut hits — every number a
      // BIGINT, so codes/scores/ranks are hash-exact
      "knn_pq" ->
        ("""WITH sub AS (SELECT unnest(range(0, 8)) AS s),
          |cent AS (SELECT unnest(range(0, 16)) AS j),
          |cb AS (SELECT s, j, [(1 + (s*65536 + j*256 + d) * 2654435761) % 2001 - 1000 for d in range(0, 8)] AS w FROM sub, cent),
          |e AS (SELECT vec_id, [CAST(floor(CAST(x AS DOUBLE) * 1000.0 + 0.5) AS BIGINT) for x in embedding] AS iq FROM embeddings WHERE len(embedding) = 64),
          |sv AS (SELECT vec_id, s, iq[s*8+1 : s*8+8] AS v FROM e, sub),
          |dists AS (SELECT sv.vec_id, sv.s, cb.j,
          |    list_sum([(sv.v[i] - cb.w[i]) * (sv.v[i] - cb.w[i]) for i in range(1, 9)]) AS dist
          |  FROM sv JOIN cb ON sv.s = cb.s),
          |code AS (SELECT vec_id, s, j AS c FROM (SELECT vec_id, s, j,
          |    row_number() OVER (PARTITION BY vec_id, s ORDER BY dist, j) AS rn FROM dists) WHERE rn = 1),
          |qd AS (SELECT vec_id AS q_id, s, j, dist AS ld FROM dists WHERE vec_id < 20),
          |sc AS (SELECT qd.q_id, code.vec_id AS n_id, CAST(sum(qd.ld) AS BIGINT) AS adc_dist
          |  FROM code JOIN qd ON code.s = qd.s AND code.c = qd.j AND code.vec_id <> qd.q_id
          |  GROUP BY qd.q_id, code.vec_id),
          |r AS (SELECT q_id, n_id, adc_dist, CAST(row_number() OVER (PARTITION BY q_id ORDER BY adc_dist, n_id) AS INTEGER) AS rank FROM sc)
          |SELECT q_id, rank, n_id, adc_dist FROM r WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin.replace("\n", " ")),

      // IVF-PQ replay: the knn_pq pipeline plus the coarse quantizer (a
      // 1-subspace codebook, idx = j·256 + d) — corpus cell assignment and
      // per-query top-2 probe cells both by exact BIGINT distance with
      // (dist, cell) tie-break; candidates filtered to probed cells before
      // the ADC ranking
      "knn_ivfpq" ->
        ("""WITH sub AS (SELECT unnest(range(0, 8)) AS s),
          |cent AS (SELECT unnest(range(0, 16)) AS j),
          |cb AS (SELECT s, j, [(1 + (s*65536 + j*256 + d) * 2654435761) % 2001 - 1000 for d in range(0, 8)] AS w FROM sub, cent),
          |co AS (SELECT j, [(1 + (j*256 + d) * 2654435761) % 2001 - 1000 for d in range(0, 64)] AS w FROM cent),
          |e AS (SELECT vec_id, [CAST(floor(CAST(x AS DOUBLE) * 1000.0 + 0.5) AS BIGINT) for x in embedding] AS iq FROM embeddings WHERE len(embedding) = 64),
          |cd AS (SELECT e.vec_id, co.j, list_sum([(e.iq[i] - co.w[i]) * (e.iq[i] - co.w[i]) for i in range(1, 65)]) AS dist FROM e, co),
          |cid AS (SELECT vec_id, j AS cell FROM (SELECT vec_id, j, row_number() OVER (PARTITION BY vec_id ORDER BY dist, j) AS rn FROM cd) WHERE rn = 1),
          |probes AS (SELECT vec_id AS q_id, j AS cell FROM (SELECT vec_id, j, row_number() OVER (PARTITION BY vec_id ORDER BY dist, j) AS rn FROM cd WHERE vec_id < 20) WHERE rn <= 2),
          |sv AS (SELECT vec_id, s, iq[s*8+1 : s*8+8] AS v FROM e, sub),
          |dists AS (SELECT sv.vec_id, sv.s, cb.j,
          |    list_sum([(sv.v[i] - cb.w[i]) * (sv.v[i] - cb.w[i]) for i in range(1, 9)]) AS dist
          |  FROM sv JOIN cb ON sv.s = cb.s),
          |code AS (SELECT vec_id, s, j AS c FROM (SELECT vec_id, s, j,
          |    row_number() OVER (PARTITION BY vec_id, s ORDER BY dist, j) AS rn FROM dists) WHERE rn = 1),
          |qd AS (SELECT vec_id AS q_id, s, j, dist AS ld FROM dists WHERE vec_id < 20),
          |sc AS (SELECT qd.q_id, code.vec_id AS n_id, CAST(sum(qd.ld) AS BIGINT) AS adc_dist
          |  FROM code JOIN qd ON code.s = qd.s AND code.c = qd.j AND code.vec_id <> qd.q_id
          |  JOIN cid ON cid.vec_id = code.vec_id
          |  JOIN probes ON probes.q_id = qd.q_id AND probes.cell = cid.cell
          |  GROUP BY qd.q_id, code.vec_id),
          |r AS (SELECT q_id, n_id, adc_dist, CAST(row_number() OVER (PARTITION BY q_id ORDER BY adc_dist, n_id) AS INTEGER) AS rank FROM sc)
          |SELECT q_id, rank, n_id, adc_dist FROM r WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin.replace("\n", " ")),

      // hard negatives: the knn oracle with the label carried through and
      // the different-label predicate in the candidate join
      "hard_negatives" ->
        ("""WITH q AS (SELECT vec_id AS q_id, label AS q_label, CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id < 20),
          |c AS (SELECT vec_id AS n_id, label AS n_label, CAST(embedding AS DOUBLE[]) AS nv FROM embeddings),
          |s AS (SELECT q_id, q_label, n_id, n_label, list_cosine_similarity(qv, nv) AS sim FROM q JOIN c ON q_id <> n_id AND q_label <> n_label),
          |r AS (SELECT q_id, q_label, n_id, n_label, CAST(row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id) AS INTEGER) AS rank FROM s)
          |SELECT q_id, q_label, rank, n_id, n_label FROM r WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin.replace("\n", " ")),

      // BM25 under the integer-exact contract: the score column itself is
      // hash-compared (one correctly-rounded division per term + a
      // term-ordered fold replays bit-exactly)
      "bm25_topk" ->
        (s"WITH $bm25Cte " +
          "SELECT q_id, rank, doc_id, score FROM bm WHERE rank <= 5 ORDER BY q_id, rank")
          .replace("\n", " "),

      // hybrid RRF: BM25 CTEs + the knn oracle CTEs (k-prefixed to avoid
      // collision), fused with the fixed-order 1/(60+rank) sum
      "hybrid_rrf" ->
        (s"WITH $bm25Cte, " +
          """kq AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id < 20),
            |kc AS (SELECT vec_id AS n_id, CAST(embedding AS DOUBLE[]) AS nv FROM embeddings),
            |ks AS (SELECT q_id, n_id, list_cosine_similarity(qv, nv) AS sim FROM kq JOIN kc ON q_id <> n_id),
            |kr AS (SELECT q_id, n_id AS doc_id, row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id) AS rank FROM ks),
            |kd AS (SELECT q_id, doc_id, rank FROM kr WHERE rank <= 5),
            |bm5 AS (SELECT q_id, doc_id, rank FROM bm WHERE rank <= 5),
            |fu AS (SELECT coalesce(bm5.q_id, kd.q_id) AS q_id, coalesce(bm5.doc_id, kd.doc_id) AS doc_id,
            |  coalesce(CAST(1.0 AS DOUBLE)/(CAST(60.0 AS DOUBLE) + CAST(bm5.rank AS DOUBLE)), CAST(0.0 AS DOUBLE))
            |  + coalesce(CAST(1.0 AS DOUBLE)/(CAST(60.0 AS DOUBLE) + CAST(kd.rank AS DOUBLE)), CAST(0.0 AS DOUBLE)) AS rrf
            |  FROM bm5 FULL OUTER JOIN kd ON bm5.q_id = kd.q_id AND bm5.doc_id = kd.doc_id),
            |fr AS (SELECT q_id, CAST(row_number() OVER (PARTITION BY q_id ORDER BY rrf DESC, doc_id) AS INTEGER) AS rank, doc_id, rrf FROM fu)
            |SELECT q_id, rank, doc_id, rrf FROM fr WHERE rank <= 8 ORDER BY q_id, rank""".stripMargin)
          .replace("\n", " "),

      // IR eval: qrels {q, q+20, q+40}; per-query rr/recall as single
      // divisions of exact integers (coalesce replays the no-hit 0.0)
      "retrieval_eval" ->
        (s"WITH $bm25Cte, $retrievalEvalCte " +
          "SELECT run, q_id, n_rel, hits_at_k, first_rel_rank, rr, recall_at_k " +
          "FROM ev ORDER BY run, q_id").replace("\n", " "),

      // run-level summary: MRR rationalized over lcm(1..5) = 60 (integer
      // // division, order-free sum, one trailing double division)
      "retrieval_eval_macro" ->
        (s"WITH $bm25Cte, $retrievalEvalCte " +
          """SELECT run, CAST(count(*) AS BIGINT) AS n_queries,
            |CAST(CAST(sum(coalesce(60 // first_rel_rank, 0)) AS BIGINT) AS DOUBLE) / CAST(count(*) * 60 AS DOUBLE) AS mrr,
            |CAST(CAST(sum(CASE WHEN hits_at_k > 0 THEN 1 ELSE 0 END) AS BIGINT) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS hit_rate_at_k,
            |CAST(CAST(sum(hits_at_k) AS BIGINT) AS DOUBLE) / CAST(CAST(sum(n_rel) AS BIGINT) AS DOUBLE) AS micro_recall_at_k
            |FROM ev GROUP BY run ORDER BY run""".stripMargin).replace("\n", " "),

      // heuristic language id: zh on CJK share > 0.2, else argmax stopword
      // hits with ties broken by lexicographically LARGEST lang (Spark's
      // array_max over (hits, lang) structs)
      "lang_id" ->
        ("""WITH f AS (
          |  SELECT doc_id,
          |    CASE WHEN length(text) = 0 THEN 0.0
          |         ELSE CAST(len(regexp_extract_all(text, '[一-鿿]')) AS DOUBLE) / length(text) END AS cjk,
          |    regexp_split_to_array(trim(lower(text)), '\s+') AS toks
          |  FROM documents),
          |h AS (
          |  SELECT doc_id, cjk,
          |    len(list_filter(toks, x -> x IN ('the','a','of','and','to','in','is','it','that','for'))) AS hen,
          |    len(list_filter(toks, x -> x IN ('el','la','de','que','y','en','un','una','los','por'))) AS hes,
          |    len(list_filter(toks, x -> x IN ('der','die','das','und','ist','nicht','mit','ein','zu','auf'))) AS hde,
          |    len(list_filter(toks, x -> x IN ('le','la','de','et','est','un','une','les','pour','dans'))) AS hfr
          |  FROM f)
          |SELECT doc_id,
          |  CASE WHEN cjk > 0.2 THEN 'zh'
          |       WHEN greatest(hen, hes, hde, hfr) = 0 THEN 'unknown'
          |       WHEN hfr = greatest(hen, hes, hde, hfr) THEN 'fr'
          |       WHEN hes = greatest(hen, hes, hde, hfr) THEN 'es'
          |       WHEN hen = greatest(hen, hes, hde, hfr) THEN 'en'
          |       ELSE 'de' END AS lang_pred
          |FROM h ORDER BY doc_id""".stripMargin.replace("\n", " ")),

      "doc_token_stats" ->
        ("SELECT doc_id, CAST(length(text) AS INTEGER) AS n_chars, " +
          "CAST(CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS INTEGER) AS n_tokens, " +
          "CAST(len(list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'), " +
          "x -> x IN ('the','a','of','and','to','in','is','it','that','for'))) AS INTEGER) AS n_stopwords, " +
          "CAST(len(regexp_extract_all(text, '[!-/:-@\\[-`{-~]')) AS INTEGER) AS n_punct, " +
          "CAST(len(list_distinct(regexp_split_to_array(trim(lower(text)), '\\s+'))) AS INTEGER) AS n_distinct_tokens " +
          "FROM documents ORDER BY doc_id"),

      "doc_quality_score" ->
        ("WITH f AS (SELECT doc_id, length(text) AS n_chars, " +
          "CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS n_tokens, " +
          "len(list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'), " +
          "x -> x IN ('the','a','of','and','to','in','is','it','that','for'))) AS n_stopwords, " +
          "len(regexp_extract_all(text, '[!-/:-@\\[-`{-~]')) AS n_punct, " +
          "len(list_distinct(regexp_split_to_array(trim(lower(text)), '\\s+'))) AS n_distinct_tokens " +
          "FROM documents) " +
          "SELECT doc_id, " +
          "(CASE WHEN n_chars BETWEEN 20 AND 100000 THEN 0.25 ELSE 0.0 END + " +
          "CASE WHEN n_stopwords > 0 THEN 0.25 ELSE 0.0 END + " +
          "CASE WHEN n_tokens > 0 AND CAST(n_distinct_tokens AS DOUBLE) / n_tokens > 0.3 THEN 0.25 ELSE 0.0 END + " +
          "CASE WHEN n_chars > 0 AND CAST(n_punct AS DOUBLE) / n_chars < 0.2 THEN 0.25 ELSE 0.0 END) AS quality_score " +
          "FROM f ORDER BY doc_id"),

      // Gopher signals: every numerator an integer count, the two ratios
      // one IEEE division each; keep = the conjunction of the published
      // thresholds (line ratios guarded by n_lines >= 1 always; the
      // n_tokens window fails first for empty docs, so the /0 branches of
      // the ratio comparisons are unreachable under AND in both engines)
      // the Knuth multiplicative bucket is pure BIGINT arithmetic (bounded
      // residue keeps the product ~2.8e15, inside int64 for both engines);
      // doc_id >= 0 so % == pmod
      "stratified_sample" ->
        ("WITH b AS (SELECT doc_id, source, " +
          "((doc_id % 1048573) * 2654435761) % 1000 AS bucket, " +
          "CAST((CASE source WHEN 'src0' THEN 900 WHEN 'src1' THEN 500 " +
          "WHEN 'src2' THEN 100 ELSE 250 END) AS BIGINT) AS rate FROM documents) " +
          "SELECT doc_id, source, bucket, rate, bucket < rate AS kept " +
          "FROM b ORDER BY doc_id"),

      // Gopher repetition signals: line multiset arithmetic per row, bigram
      // adjacency replayed with a 1-based list comprehension (pairs with an
      // empty member filtered AFTER pairing, same as the engine's
      // post-lead filter); top bigram = row_number over (cnt DESC, bigram)
      // == the engine's min(struct(-cnt, bigram))
      "repetition_filter" ->
        ("""WITH dd AS (
          |  SELECT doc_id, text FROM documents
          |  UNION ALL
          |  SELECT doc_id + 300000, text || chr(10) || text || chr(10) || text
          |  FROM documents WHERE doc_id % 97 = 0),
          |L AS (SELECT doc_id,
          |    len(regexp_split_to_array(text, '\n')) AS n_lines,
          |    len(regexp_split_to_array(text, '\n')) - len(list_distinct(regexp_split_to_array(text, '\n'))) AS n_dup_lines
          |  FROM dd),
          |t AS (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS toks FROM dd),
          |bg AS (SELECT doc_id, unnest([toks[i] || ' ' || toks[i+1] for i in range(1, len(toks)) if toks[i] <> '' and toks[i+1] <> '']) AS bigram FROM t),
          |c AS (SELECT doc_id, bigram, count(*) AS cnt FROM bg GROUP BY doc_id, bigram),
          |r AS (SELECT doc_id, bigram, cnt,
          |    CAST(sum(cnt) OVER (PARTITION BY doc_id) AS BIGINT) AS n_bigrams,
          |    row_number() OVER (PARTITION BY doc_id ORDER BY cnt DESC, bigram) AS rn FROM c),
          |top AS (SELECT doc_id, bigram AS top_bigram, CAST(cnt AS BIGINT) AS top_bigram_cnt, n_bigrams FROM r WHERE rn = 1)
          |SELECT L.doc_id, CAST(n_lines AS INTEGER) AS n_lines,
          |  CAST(n_dup_lines AS INTEGER) AS n_dup_lines,
          |  CAST(n_dup_lines AS DOUBLE) / CAST(n_lines AS DOUBLE) AS dup_line_frac,
          |  top.top_bigram, top.top_bigram_cnt,
          |  CAST(coalesce(top.n_bigrams, 0) AS BIGINT) AS n_bigrams,
          |  CAST(top.top_bigram_cnt AS DOUBLE) / CAST(top.n_bigrams AS DOUBLE) AS top_bigram_frac,
          |  ((CAST(n_dup_lines AS DOUBLE) / CAST(n_lines AS DOUBLE)) <= 0.30
          |   AND coalesce(CAST(top.top_bigram_cnt AS DOUBLE) / CAST(top.n_bigrams AS DOUBLE) <= 0.05, TRUE)) AS keep
          |FROM L LEFT JOIN top USING (doc_id) ORDER BY doc_id""".stripMargin.replace("\n", " ")),

      // the FULL Gopher repetition battery: 13 signals, each an integer
      // numerator + one trailing division, replayed stage-for-stage (unit
      // explode -> per-class counts; lead-window n-grams as 1-based list
      // slices; dup marks position-deduplicated before the char sum)
      "repetition_filter_full" ->
        ("""WITH dd AS (
          |  SELECT doc_id, text FROM documents
          |  UNION ALL
          |  SELECT doc_id + 400000, text || chr(10) || text || chr(10) || text
          |  FROM documents WHERE doc_id % 97 = 0
          |  UNION ALL
          |  SELECT doc_id + 500000, text || chr(10) || chr(10) || text
          |  FROM documents WHERE doc_id % 89 = 0
          |  UNION ALL
          |  SELECT doc_id + 600000, text || ' ' || text
          |  FROM documents WHERE doc_id % 83 = 0
          |  UNION ALL
          |  SELECT doc_id + 700000, text || ' ' || array_to_string((regexp_split_to_array(trim(text), '\s+'))[1:9], ' ')
          |  FROM documents WHERE doc_id % 79 = 0),
          |lu AS (SELECT doc_id, unit, count(*) AS cnt, length(unit) AS ulen
          |  FROM (SELECT doc_id, unnest(regexp_split_to_array(text, '\n')) AS unit FROM dd)
          |  GROUP BY doc_id, unit),
          |line_stats AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_lines,
          |    CAST(sum(cnt - 1) AS BIGINT) AS n_dup_lines,
          |    CAST(sum((cnt - 1) * ulen) AS BIGINT) AS dup_line_chars,
          |    CAST(sum(cnt * ulen) AS BIGINT) AS line_chars
          |  FROM lu GROUP BY doc_id),
          |pu AS (SELECT doc_id, unit, count(*) AS cnt, length(unit) AS ulen
          |  FROM (SELECT doc_id, unnest(regexp_split_to_array(text, '\n\n')) AS unit FROM dd)
          |  GROUP BY doc_id, unit),
          |para_stats AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_paras,
          |    CAST(sum(cnt - 1) AS BIGINT) AS n_dup_paras,
          |    CAST(sum((cnt - 1) * ulen) AS BIGINT) AS dup_para_chars,
          |    CAST(sum(cnt * ulen) AS BIGINT) AS para_chars
          |  FROM pu GROUP BY doc_id),
          |tk AS (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS t FROM dd),
          |toks AS (SELECT doc_id, unnest([{'pos': i - 1, 'term': t[i]} for i in range(1, len(t) + 1)], recursive := true) FROM tk),
          |tok_stats AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
          |    CAST(sum(length(term)) AS BIGINT) AS tok_chars
          |  FROM toks GROUP BY doc_id),
          |ns AS (SELECT CAST(unnest(range(2, 11)) AS INTEGER) AS n),
          |gram_rows AS (
          |  SELECT tk.doc_id, ns.n,
          |    unnest([{'pos': i - 1, 'gram': array_to_string(t[i:i+ns.n-1], ' ')}
          |            for i in range(1, len(t) - ns.n + 2)
          |            if len(list_filter(t[i:i+ns.n-1], x -> x = '')) = 0],
          |      recursive := true)
          |  FROM tk, ns),
          |gram_cnt AS (SELECT doc_id, n, gram, count(*) AS cnt FROM gram_rows GROUP BY 1, 2, 3),
          |top1 AS (SELECT doc_id, n, gram, cnt FROM (
          |    SELECT *, row_number() OVER (PARTITION BY doc_id, n ORDER BY cnt DESC, gram) AS rn
          |    FROM gram_cnt WHERE n BETWEEN 2 AND 4) WHERE rn = 1),
          |top_shares AS (SELECT doc_id,
          |    CAST(sum(CASE WHEN n = 2 THEN cnt * length(gram) END) AS BIGINT) AS top_2gram_chars,
          |    CAST(sum(CASE WHEN n = 3 THEN cnt * length(gram) END) AS BIGINT) AS top_3gram_chars,
          |    CAST(sum(CASE WHEN n = 4 THEN cnt * length(gram) END) AS BIGINT) AS top_4gram_chars
          |  FROM top1 GROUP BY doc_id),
          |dup_marks AS (SELECT DISTINCT doc_id, n, j FROM (
          |    SELECT g.doc_id, g.n, unnest(range(g.pos, g.pos + g.n)) AS j
          |    FROM gram_rows g JOIN (SELECT doc_id, n, gram FROM gram_cnt WHERE n >= 5 AND cnt > 1) dg
          |      USING (doc_id, n, gram))),
          |dup_mass AS (SELECT m.doc_id,
          |    CAST(sum(CASE WHEN m.n = 5 THEN length(t.term) END) AS BIGINT) AS dup_5gram_chars,
          |    CAST(sum(CASE WHEN m.n = 6 THEN length(t.term) END) AS BIGINT) AS dup_6gram_chars,
          |    CAST(sum(CASE WHEN m.n = 7 THEN length(t.term) END) AS BIGINT) AS dup_7gram_chars,
          |    CAST(sum(CASE WHEN m.n = 8 THEN length(t.term) END) AS BIGINT) AS dup_8gram_chars,
          |    CAST(sum(CASE WHEN m.n = 9 THEN length(t.term) END) AS BIGINT) AS dup_9gram_chars,
          |    CAST(sum(CASE WHEN m.n = 10 THEN length(t.term) END) AS BIGINT) AS dup_10gram_chars
          |  FROM dup_marks m JOIN toks t ON t.doc_id = m.doc_id AND t.pos = m.j
          |  GROUP BY m.doc_id)
          |SELECT d.doc_id, n_lines, n_dup_lines,
          |  CASE WHEN n_lines > 0 THEN CAST(n_dup_lines AS DOUBLE) / CAST(n_lines AS DOUBLE) END AS dup_line_frac,
          |  CASE WHEN line_chars > 0 THEN CAST(dup_line_chars AS DOUBLE) / CAST(line_chars AS DOUBLE) END AS dup_line_char_frac,
          |  n_paras, n_dup_paras,
          |  CASE WHEN n_paras > 0 THEN CAST(n_dup_paras AS DOUBLE) / CAST(n_paras AS DOUBLE) END AS dup_para_frac,
          |  CASE WHEN para_chars > 0 THEN CAST(dup_para_chars AS DOUBLE) / CAST(para_chars AS DOUBLE) END AS dup_para_char_frac,
          |  CASE WHEN tok_chars + n_tokens - 1 > 0 THEN CAST(top_2gram_chars AS DOUBLE) / CAST(tok_chars + n_tokens - 1 AS DOUBLE) END AS top_2gram_char_frac,
          |  CASE WHEN tok_chars + n_tokens - 1 > 0 THEN CAST(top_3gram_chars AS DOUBLE) / CAST(tok_chars + n_tokens - 1 AS DOUBLE) END AS top_3gram_char_frac,
          |  CASE WHEN tok_chars + n_tokens - 1 > 0 THEN CAST(top_4gram_chars AS DOUBLE) / CAST(tok_chars + n_tokens - 1 AS DOUBLE) END AS top_4gram_char_frac,
          |  CASE WHEN tok_chars > 0 THEN CAST(dup_5gram_chars AS DOUBLE) / CAST(tok_chars AS DOUBLE) END AS dup_5gram_char_frac,
          |  CASE WHEN tok_chars > 0 THEN CAST(dup_6gram_chars AS DOUBLE) / CAST(tok_chars AS DOUBLE) END AS dup_6gram_char_frac,
          |  CASE WHEN tok_chars > 0 THEN CAST(dup_7gram_chars AS DOUBLE) / CAST(tok_chars AS DOUBLE) END AS dup_7gram_char_frac,
          |  CASE WHEN tok_chars > 0 THEN CAST(dup_8gram_chars AS DOUBLE) / CAST(tok_chars AS DOUBLE) END AS dup_8gram_char_frac,
          |  CASE WHEN tok_chars > 0 THEN CAST(dup_9gram_chars AS DOUBLE) / CAST(tok_chars AS DOUBLE) END AS dup_9gram_char_frac,
          |  CASE WHEN tok_chars > 0 THEN CAST(dup_10gram_chars AS DOUBLE) / CAST(tok_chars AS DOUBLE) END AS dup_10gram_char_frac,
          |  ((n_lines IS NULL OR n_lines = 0 OR CAST(n_dup_lines AS DOUBLE) / CAST(n_lines AS DOUBLE) <= 0.30)
          |   AND (n_paras IS NULL OR n_paras = 0 OR CAST(n_dup_paras AS DOUBLE) / CAST(n_paras AS DOUBLE) <= 0.30)
          |   AND (line_chars IS NULL OR line_chars = 0 OR CAST(dup_line_chars AS DOUBLE) / CAST(line_chars AS DOUBLE) <= 0.20)
          |   AND (para_chars IS NULL OR para_chars = 0 OR CAST(dup_para_chars AS DOUBLE) / CAST(para_chars AS DOUBLE) <= 0.20)
          |   AND (top_2gram_chars IS NULL OR CAST(top_2gram_chars AS DOUBLE) / CAST(tok_chars + n_tokens - 1 AS DOUBLE) <= 0.20)
          |   AND (top_3gram_chars IS NULL OR CAST(top_3gram_chars AS DOUBLE) / CAST(tok_chars + n_tokens - 1 AS DOUBLE) <= 0.18)
          |   AND (top_4gram_chars IS NULL OR CAST(top_4gram_chars AS DOUBLE) / CAST(tok_chars + n_tokens - 1 AS DOUBLE) <= 0.16)
          |   AND (dup_5gram_chars IS NULL OR CAST(dup_5gram_chars AS DOUBLE) / CAST(tok_chars AS DOUBLE) <= 0.15)
          |   AND (dup_6gram_chars IS NULL OR CAST(dup_6gram_chars AS DOUBLE) / CAST(tok_chars AS DOUBLE) <= 0.14)
          |   AND (dup_7gram_chars IS NULL OR CAST(dup_7gram_chars AS DOUBLE) / CAST(tok_chars AS DOUBLE) <= 0.13)
          |   AND (dup_8gram_chars IS NULL OR CAST(dup_8gram_chars AS DOUBLE) / CAST(tok_chars AS DOUBLE) <= 0.12)
          |   AND (dup_9gram_chars IS NULL OR CAST(dup_9gram_chars AS DOUBLE) / CAST(tok_chars AS DOUBLE) <= 0.11)
          |   AND (dup_10gram_chars IS NULL OR CAST(dup_10gram_chars AS DOUBLE) / CAST(tok_chars AS DOUBLE) <= 0.10)) AS keep
          |FROM (SELECT doc_id FROM dd) d
          |LEFT JOIN line_stats USING (doc_id)
          |LEFT JOIN para_stats USING (doc_id)
          |LEFT JOIN tok_stats USING (doc_id)
          |LEFT JOIN top_shares USING (doc_id)
          |LEFT JOIN dup_mass USING (doc_id)
          |ORDER BY doc_id""".stripMargin.replace("\n", " ")),


      // the composed corpus-build decision: all five component oracles in
      // one WITH, joined on the doc key
      "corpus_build_decision" ->
        (corpusBuildWith + """
          |SELECT d.doc_id, g.keep_quality, r.keep_repetition, dup.is_dup, q.bucket, samp.kept_sample,
          |  (g.keep_quality AND r.keep_repetition AND NOT dup.is_dup AND q.bucket <> 'tail' AND samp.kept_sample) AS selected
          |FROM documents d JOIN g USING (doc_id) JOIN r USING (doc_id) JOIN dup USING (doc_id)
          |  JOIN q USING (doc_id) JOIN samp USING (doc_id)
          |ORDER BY doc_id""".stripMargin.replace("\n", " ")),

      // the per-source rollup: same WITH, one GROUP BY of integer counts
      "corpus_build_report" ->
        (corpusBuildWith + """
          |SELECT d.source, CAST(count(*) AS BIGINT) AS n_docs,
          |  CAST(sum(CASE WHEN (g.keep_quality AND r.keep_repetition AND NOT dup.is_dup AND q.bucket <> 'tail' AND samp.kept_sample) THEN 1 ELSE 0 END) AS BIGINT) AS n_selected,
          |  CAST(sum(CASE WHEN NOT g.keep_quality THEN 1 ELSE 0 END) AS BIGINT) AS n_fail_quality,
          |  CAST(sum(CASE WHEN NOT r.keep_repetition THEN 1 ELSE 0 END) AS BIGINT) AS n_fail_repetition,
          |  CAST(sum(CASE WHEN dup.is_dup THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
          |  CAST(sum(CASE WHEN q.bucket = 'tail' THEN 1 ELSE 0 END) AS BIGINT) AS n_tail,
          |  CAST(sum(CASE WHEN NOT samp.kept_sample THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled_out
          |FROM documents d JOIN g USING (doc_id) JOIN r USING (doc_id) JOIN dup USING (doc_id)
          |  JOIN q USING (doc_id) JOIN samp USING (doc_id)
          |GROUP BY d.source ORDER BY d.source""".stripMargin.replace("\n", " ")),

      // sqrt-temperature upsampling: same lang/rate scaffolding with the
      // inverted ratio, copy fan-out replayed via unnest(range(n_copies))
      "mixture_upsample" ->
        ("""WITH f AS (
          |  SELECT doc_id,
          |    CASE WHEN length(text) = 0 THEN 0.0
          |         ELSE CAST(len(regexp_extract_all(text, '[一-鿿]')) AS DOUBLE) / length(text) END AS cjk,
          |    regexp_split_to_array(trim(lower(text)), '\s+') AS toks
          |  FROM documents),
          |h AS (
          |  SELECT doc_id, cjk,
          |    len(list_filter(toks, x -> x IN ('the','a','of','and','to','in','is','it','that','for'))) AS hen,
          |    len(list_filter(toks, x -> x IN ('el','la','de','que','y','en','un','una','los','por'))) AS hes,
          |    len(list_filter(toks, x -> x IN ('der','die','das','und','ist','nicht','mit','ein','zu','auf'))) AS hde,
          |    len(list_filter(toks, x -> x IN ('le','la','de','et','est','un','une','les','pour','dans'))) AS hfr
          |  FROM f),
          |l AS (SELECT doc_id,
          |  CASE WHEN cjk > 0.2 THEN 'zh'
          |       WHEN greatest(hen, hes, hde, hfr) = 0 THEN 'unknown'
          |       WHEN hfr = greatest(hen, hes, hde, hfr) THEN 'fr'
          |       WHEN hes = greatest(hen, hes, hde, hfr) THEN 'es'
          |       WHEN hen = greatest(hen, hes, hde, hfr) THEN 'en'
          |       ELSE 'de' END AS lang_pred FROM h),
          |c AS (SELECT lang_pred, count(*) AS cnt FROM l GROUP BY lang_pred),
          |m AS (SELECT max(cnt) AS mx FROM c),
          |r AS (SELECT lang_pred,
          |    CAST(floor(1000.0 * sqrt(CAST(mx AS DOUBLE) / CAST(cnt AS DOUBLE))) AS BIGINT) AS rate
          |  FROM c CROSS JOIN m),
          |b AS (SELECT l.doc_id, l.lang_pred,
          |    ((l.doc_id % 1048573) * 2654435761) % 1000 AS bucket, r.rate
          |  FROM l JOIN r USING (lang_pred)),
          |n AS (SELECT *, CAST(floor(CAST(rate AS DOUBLE) / 1000.0) AS BIGINT)
          |    + (CASE WHEN bucket < rate % 1000 THEN 1 ELSE 0 END) AS n_copies FROM b)
          |SELECT doc_id, lang_pred, bucket, rate, n_copies,
          |  CAST(unnest(range(n_copies)) AS INTEGER) AS copy_idx
          |FROM n ORDER BY doc_id, copy_idx""".stripMargin.replace("\n", " ")),

      // unigram-LM quality buckets: token frame → per-term corpus counts →
      // per-doc (n_tokens, sum_cnt) → two IEEE divisions in the engine's
      // operand order; N from count(*) == the engine's footer count
      "lm_quality_buckets" ->
        ("""WITH t AS (
          |  SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS term FROM documents),
          |t2 AS (SELECT doc_id, term FROM t WHERE term <> ''),
          |c AS (SELECT term, count(*) AS cnt FROM t2 GROUP BY term),
          |sc AS (SELECT t2.doc_id, count(*) AS n_tokens, sum(c.cnt) AS sum_cnt
          |  FROM t2 JOIN c USING (term) GROUP BY t2.doc_id),
          |nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents),
          |j AS (SELECT d.doc_id, CAST(coalesce(sc.n_tokens, 0) AS BIGINT) AS n_tokens,
          |    CAST(sc.sum_cnt AS BIGINT) AS sum_cnt,
          |    CAST(sc.sum_cnt AS DOUBLE) / CAST(sc.n_tokens AS DOUBLE) AS mean_cnt
          |  FROM documents d LEFT JOIN sc USING (doc_id)),
          |j2 AS (SELECT j.*, j.mean_cnt / nn.n AS score FROM j CROSS JOIN nn)
          |SELECT doc_id, n_tokens, sum_cnt, mean_cnt, score,
          |  CASE WHEN score IS NULL THEN 'tail'
          |       WHEN score >= 1.815 THEN 'head'
          |       WHEN score <= 1.80 THEN 'tail'
          |       ELSE 'middle' END AS bucket
          |FROM j2 ORDER BY doc_id""".stripMargin.replace("\n", " ")),

      // sqrt-temperature mixture: lang-id CTE (identical to lang_id's), per-
      // language counts, rate = floor(1000·sqrt(cnt/max)) — the same IEEE op
      // order as Sampling.sqrtTemperatureRates — then the multiplicative-
      // hash holdout decision
      "mixture_sqrt_sample" ->
        ("""WITH f AS (
          |  SELECT doc_id,
          |    CASE WHEN length(text) = 0 THEN 0.0
          |         ELSE CAST(len(regexp_extract_all(text, '[一-鿿]')) AS DOUBLE) / length(text) END AS cjk,
          |    regexp_split_to_array(trim(lower(text)), '\s+') AS toks
          |  FROM documents),
          |h AS (
          |  SELECT doc_id, cjk,
          |    len(list_filter(toks, x -> x IN ('the','a','of','and','to','in','is','it','that','for'))) AS hen,
          |    len(list_filter(toks, x -> x IN ('el','la','de','que','y','en','un','una','los','por'))) AS hes,
          |    len(list_filter(toks, x -> x IN ('der','die','das','und','ist','nicht','mit','ein','zu','auf'))) AS hde,
          |    len(list_filter(toks, x -> x IN ('le','la','de','et','est','un','une','les','pour','dans'))) AS hfr
          |  FROM f),
          |l AS (SELECT doc_id,
          |  CASE WHEN cjk > 0.2 THEN 'zh'
          |       WHEN greatest(hen, hes, hde, hfr) = 0 THEN 'unknown'
          |       WHEN hfr = greatest(hen, hes, hde, hfr) THEN 'fr'
          |       WHEN hes = greatest(hen, hes, hde, hfr) THEN 'es'
          |       WHEN hen = greatest(hen, hes, hde, hfr) THEN 'en'
          |       ELSE 'de' END AS lang_pred FROM h),
          |c AS (SELECT lang_pred, count(*) AS cnt FROM l GROUP BY lang_pred),
          |m AS (SELECT min(cnt) AS mn FROM c),
          |r AS (SELECT lang_pred,
          |    CAST(floor(1000.0 * sqrt(CAST(mn AS DOUBLE) / CAST(cnt AS DOUBLE))) AS BIGINT) AS rate
          |  FROM c CROSS JOIN m),
          |b AS (SELECT l.doc_id, l.lang_pred,
          |    ((l.doc_id % 1048573) * 2654435761) % 1000 AS bucket, r.rate
          |  FROM l JOIN r USING (lang_pred))
          |SELECT doc_id, lang_pred, bucket, rate, bucket < rate AS kept
          |FROM b ORDER BY doc_id""".stripMargin.replace("\n", " ")),

      "gopher_filter" ->
        ("""WITH f AS (
          |  SELECT doc_id,
          |    CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tokens,
          |    length(regexp_replace(text, '\s+', '', 'g')) AS n_word_chars,
          |    len(regexp_extract_all(text, '(\.\.\.|[#…])')) AS n_symbols,
          |    len(regexp_split_to_array(text, '\n')) AS n_lines,
          |    len(list_filter(regexp_split_to_array(text, '\n'), x -> regexp_matches(x, '^[ \t]*[-*•]'))) AS n_bullet_lines,
          |    len(list_filter(regexp_split_to_array(text, '\n'), x -> regexp_matches(x, '(\.\.\.|…)$'))) AS n_ellipsis_lines,
          |    len(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'), x -> regexp_matches(x, '\p{L}'))) AS n_alpha_tokens,
          |    len(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'), x -> x IN ('the','a','of','and','to','in','is','it','that','for'))) AS n_stopwords
          |  FROM documents)
          |SELECT doc_id, CAST(n_tokens AS INTEGER) AS n_tokens,
          |  CAST(n_word_chars AS INTEGER) AS n_word_chars,
          |  CASE WHEN n_tokens = 0 THEN 0.0 ELSE CAST(n_word_chars AS DOUBLE) / CAST(n_tokens AS DOUBLE) END AS mean_word_len,
          |  CAST(n_symbols AS INTEGER) AS n_symbols,
          |  CAST(n_lines AS INTEGER) AS n_lines,
          |  CAST(n_bullet_lines AS INTEGER) AS n_bullet_lines,
          |  CAST(n_ellipsis_lines AS INTEGER) AS n_ellipsis_lines,
          |  CAST(n_alpha_tokens AS INTEGER) AS n_alpha_tokens,
          |  CAST(n_stopwords AS INTEGER) AS n_stopwords,
          |  ((n_tokens BETWEEN 20 AND 80)
          |   AND (CASE WHEN n_tokens = 0 THEN 0.0 ELSE CAST(n_word_chars AS DOUBLE) / CAST(n_tokens AS DOUBLE) END BETWEEN 3.0 AND 10.0)
          |   AND (CAST(n_symbols AS DOUBLE) / CAST(n_tokens AS DOUBLE) <= 0.1)
          |   AND (CAST(n_bullet_lines AS DOUBLE) / CAST(n_lines AS DOUBLE) <= 0.9)
          |   AND (CAST(n_ellipsis_lines AS DOUBLE) / CAST(n_lines AS DOUBLE) <= 0.3)
          |   AND (CAST(n_alpha_tokens AS DOUBLE) / CAST(n_tokens AS DOUBLE) >= 0.8)
          |   AND (n_stopwords >= 2)) AS keep
          |FROM f ORDER BY doc_id""".stripMargin.replace("\n", " ")),

      // C4 battery replay: page manufacturing (coalesce() because DuckDB's
      // array_to_string of an empty slice is NULL where Spark's array_join
      // is ''), per-line list_filter twin of the HOF, page gates verbatim.
      // All integer/boolean — no float discipline needed.
      "c4_filter" ->
        ("""WITH tk AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS tx FROM documents),
          |dd AS (SELECT doc_id, concat_ws(chr(10),
          |    coalesce(array_to_string(tx[1:6], ' '), '') || '.',
          |    coalesce(array_to_string(tx[7:9], ' '), '') || '!',
          |    coalesce(array_to_string(tx[10:15], ' '), ''),
          |    CASE WHEN doc_id % 7 = 0 THEN 'please enable javascript to view this page.' END,
          |    CASE WHEN doc_id % 11 = 0 THEN 'we updated our privacy policy today, please review it.' END,
          |    CASE WHEN doc_id % 3 <> 0 THEN coalesce(array_to_string(tx[16:21], ' '), '') || ' now?' END,
          |    CASE WHEN doc_id % 5 <> 0 THEN coalesce(array_to_string(tx[22:27], ' '), '') || ' today. it works well!' END,
          |    CASE WHEN doc_id % 13 = 0 THEN 'lorem ipsum dolor sit amet.' END,
          |    CASE WHEN doc_id % 17 = 0 THEN 'function() { return 0; }' END) AS text FROM tk),
          |lp AS (SELECT doc_id, text, regexp_split_to_array(text, chr(10)) AS rawl FROM dd),
          |kp AS (SELECT doc_id, text, len(rawl) AS n_lines,
          |    list_filter(list_transform(rawl, x -> trim(x)), l ->
          |      regexp_matches(l, '[.!?"]$')
          |      AND len(regexp_split_to_array(l, '\s+')) >= 5
          |      AND NOT contains(lower(l), 'javascript')
          |      AND NOT contains(lower(l), 'terms of use')
          |      AND NOT contains(lower(l), 'privacy policy')
          |      AND NOT contains(lower(l), 'cookie policy')
          |      AND NOT contains(lower(l), 'uses cookies')
          |      AND NOT contains(lower(l), 'use of cookies')
          |      AND NOT contains(lower(l), 'use cookies')) AS kept
          |  FROM lp),
          |sg AS (SELECT doc_id, CAST(n_lines AS INTEGER) AS n_lines,
          |    CAST(len(kept) AS INTEGER) AS n_kept_lines,
          |    coalesce(array_to_string(kept, chr(10)), '') AS cleaned_text,
          |    contains(lower(text), 'lorem ipsum') AS has_lorem,
          |    contains(text, '{') AS has_brace,
          |    regexp_matches(lower(text), '\b(vector)\b') AS has_bad_word
          |  FROM kp),
          |s2 AS (SELECT *, CAST(len(regexp_extract_all(cleaned_text, '[.!?]')) AS INTEGER) AS n_sentences FROM sg)
          |SELECT doc_id, n_lines, n_kept_lines, cleaned_text, n_sentences,
          |  has_lorem, has_brace, has_bad_word,
          |  (n_sentences >= 3 AND NOT has_lorem AND NOT has_brace AND NOT has_bad_word) AS keep
          |FROM s2 ORDER BY doc_id""".stripMargin.replace("\n", " ")),

      // chunk-level BM25 + MaxP: the bm25 rational-score math over the
      // 32-token chunk corpus (cid = doc_id·1024 + idx), chunk rank <= 50,
      // doc score = max, final rank <= 10
      "bm25_maxp" ->
        ("""WITH tk AS (SELECT doc_id, list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> x <> '') AS t FROM documents),
          |cks AS (SELECT doc_id, unnest([{'cid': doc_id*1024 + i - 1, 'ct': t[(i-1)*32+1:(i-1)*32+32]} for i in range(1, CAST((len(t)+31)//32 AS BIGINT) + 1)], recursive := true) FROM tk),
          |ctok AS (SELECT cid, unnest(ct) AS term FROM cks),
          |tfr AS (SELECT cid, term, count(*) AS tf FROM ctok GROUP BY cid, term),
          |dlr AS (SELECT cid, CAST(sum(tf) AS BIGINT) AS dl FROM tfr GROUP BY cid),
          |str AS (SELECT CAST(sum(dl) AS BIGINT) AS s, count(*) AS n FROM dlr),
          |qp AS (SELECT doc_id AS q_id, unnest([{'p': i, 'term': t[i]} for i in range(1, len(t)+1)], recursive := true) FROM tk WHERE doc_id < 20),
          |qf AS (SELECT q_id, term, min(p) AS fpos FROM qp GROUP BY q_id, term),
          |qt AS (SELECT q_id, term FROM (SELECT q_id, term, row_number() OVER (PARTITION BY q_id ORDER BY fpos) AS rn FROM qf) WHERE rn <= 6),
          |dfq AS (SELECT term, count(*) AS df FROM tfr WHERE term IN (SELECT term FROM qt) GROUP BY term),
          |mt AS (SELECT qt.q_id, tfr.cid, tfr.term, tfr.tf, dlr.dl, dfq.df, str.s, str.n FROM qt JOIN tfr USING (term) JOIN dfq USING (term) JOIN dlr USING (cid) CROSS JOIN str),
          |ctr AS (SELECT q_id, cid, term, 22*tf*s*(2*(n-df)+1) AS num, (10*tf*s + 3*s + 9*dl*n)*(2*df+1) AS den FROM mt),
          |ga AS (SELECT q_id, cid, list({'term': term, 'num': num, 'den': den} ORDER BY term) AS arr FROM ctr GROUP BY q_id, cid),
          |scb AS (SELECT q_id, cid, list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(arr, x -> CAST(x.num AS DOUBLE)/CAST(x.den AS DOUBLE))), (a,b) -> a+b) AS score FROM ga),
          |cr AS (SELECT q_id, cid, score, row_number() OVER (PARTITION BY q_id ORDER BY score DESC, cid) AS crank FROM scb),
          |mp AS (SELECT q_id, cid // 1024 AS doc_id, max(score) AS score FROM cr WHERE crank <= 50 GROUP BY 1, 2),
          |fr AS (SELECT q_id, doc_id, score, CAST(row_number() OVER (PARTITION BY q_id ORDER BY score DESC, doc_id) AS INTEGER) AS rank FROM mp)
          |SELECT q_id, rank, doc_id, score FROM fr WHERE rank <= 10 ORDER BY q_id, rank""".stripMargin.replace("\n", " ")),

      // PRF expansion: feedback docs from the first bm25 pass (bm rank<=3),
      // term mining with the doc-ordered fold, anti-join against original
      // terms, top-2 by (w, term), then the FULL second scoring chain
      "bm25_prf" ->
        (s"WITH $bm25Cte, " +
          """fb AS (SELECT q_id, doc_id, score FROM bm WHERE rank <= 3),
            |cd AS (SELECT fb.q_id, tfr.term, fb.doc_id AS d, CAST(tfr.tf AS DOUBLE) / CAST(dlr.dl AS DOUBLE) * fb.score AS contrib FROM fb JOIN tfr ON fb.doc_id = tfr.doc_id JOIN dlr ON fb.doc_id = dlr.doc_id),
            |cw AS (SELECT q_id, term, list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(list({'d': d, 'contrib': contrib} ORDER BY d), x -> x.contrib)), (a, b) -> a + b) AS w FROM cd GROUP BY q_id, term),
            |cwx AS (SELECT cw.q_id, cw.term, cw.w FROM cw ANTI JOIN qt ON cw.q_id = qt.q_id AND cw.term = qt.term),
            |cx AS (SELECT q_id, term FROM (SELECT q_id, term, row_number() OVER (PARTITION BY q_id ORDER BY w DESC, term) AS xr FROM cwx) WHERE xr <= 2),
            |q2 AS (SELECT q_id, term FROM qt UNION ALL SELECT q_id, term FROM cx),
            |dfq2 AS (SELECT term, count(*) AS df FROM tfr WHERE term IN (SELECT term FROM q2) GROUP BY term),
            |mt2 AS (SELECT q2.q_id, tfr.doc_id, tfr.term, tfr.tf, dlr.dl, dfq2.df, str.s, str.n FROM q2 JOIN tfr USING (term) JOIN dfq2 USING (term) JOIN dlr USING (doc_id) CROSS JOIN str),
            |ctr2 AS (SELECT q_id, doc_id, term, 22*tf*s*(2*(n-df)+1) AS num, (10*tf*s + 3*s + 9*dl*n)*(2*df+1) AS den FROM mt2),
            |ga2 AS (SELECT q_id, doc_id, list({'term': term, 'num': num, 'den': den} ORDER BY term) AS arr FROM ctr2 GROUP BY q_id, doc_id),
            |scb2 AS (SELECT q_id, doc_id, list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(arr, x -> CAST(x.num AS DOUBLE)/CAST(x.den AS DOUBLE))), (a,b) -> a+b) AS score FROM ga2),
            |bm2 AS (SELECT q_id, doc_id, CAST(row_number() OVER (PARTITION BY q_id ORDER BY score DESC, doc_id) AS INTEGER) AS rank, score FROM scb2)
            |SELECT q_id, rank, doc_id, score FROM bm2 WHERE rank <= 8 ORDER BY q_id, rank""".stripMargin.replace("\n", " ")),

      // vocab delta: word-level incremental novelty replay
      "vocab_delta" ->
        ("""WITH hw AS (SELECT DISTINCT unnest(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> x <> '')) AS word FROM documents WHERE doc_id < 250),
          |dd AS (SELECT doc_id, text || ' neolex' || CAST(doc_id % 40 AS VARCHAR) AS text FROM documents WHERE doc_id >= 250),
          |dw AS (SELECT unnest(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> x <> '')) AS word FROM dd),
          |dc AS (SELECT word, CAST(count(*) AS BIGINT) AS cnt FROM dw GROUP BY word)
          |SELECT dc.word, dc.cnt, hw.word IS NULL AS is_new
          |FROM dc LEFT JOIN hw ON dc.word = hw.word ORDER BY dc.word""".stripMargin.replace("\n", " ")),

      // BPE pair counts: char+</w> symbolization, adjacency comprehension,
      // weighted pair sum; "left"/"right" quoted (SQL keywords)
      "bpe_pair_counts" ->
        ("""WITH wd AS (SELECT unnest(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> x <> '')) AS word FROM documents),
          |wc AS (SELECT word, CAST(count(*) AS BIGINT) AS cnt FROM wd GROUP BY word),
          |sy AS (SELECT cnt, list_append([word[i] for i in range(1, len(word) + 1)], '</w>') AS s FROM wc),
          |pr AS (SELECT cnt, unnest([{'l': s[i], 'r': s[i+1]} for i in range(1, len(s))]) AS p FROM sy)
          |SELECT p.l AS "left", p.r AS "right", CAST(sum(cnt) AS BIGINT) AS pair_cnt
          |FROM pr GROUP BY 1, 2 ORDER BY pair_cnt DESC, "left", "right" LIMIT 50""".stripMargin.replace("\n", " ")),

      // χ² drift replay: dsir-style feature buckets for both snapshots,
      // full outer join, exact D/den, bucket-ordered total fold
      "corpus_drift" ->
        (s"WITH $driftCte, " +
          """tot AS (SELECT list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(list({'bucket': bucket, 'term': term} ORDER BY bucket), x -> x.term)), (a, b) -> a + b) AS chi2, CAST(count(*) - 1 AS BIGINT) AS df FROM tm),
          |tp AS (SELECT * FROM tm ORDER BY term DESC, bucket LIMIT 20)
          |SELECT tp.bucket, tp.o1, tp.o2, tp.term, tot.chi2, tot.df
          |FROM tp, tot ORDER BY tp.term DESC, tp.bucket""".stripMargin.replace("\n", " ")),

      // attribution: per top-5 bucket, top-3 features by combined count
      "corpus_drift_tokens" ->
        (s"WITH $driftCte, " +
          """tp AS (SELECT bucket, term FROM tm ORDER BY term DESC, bucket LIMIT 5),
            |cc1 AS (SELECT feat, CAST(count(*) AS BIGINT) AS c1 FROM f1 GROUP BY feat),
            |cc2 AS (SELECT feat, CAST(count(*) AS BIGINT) AS c2 FROM f2 GROUP BY feat),
            |fc AS (SELECT coalesce(cc1.feat, cc2.feat) AS feat, coalesce(cc1.c1, 0) AS c1, coalesce(cc2.c2, 0) AS c2 FROM cc1 FULL JOIN cc2 ON cc1.feat = cc2.feat),
            |fb AS (SELECT feat, ('0x' || substr(sha256(feat), 1, 6))::BIGINT % 1024 AS bucket, c1, c2 FROM fc),
            |fj AS (SELECT fb.feat, fb.bucket, fb.c1, fb.c2, tp.term FROM fb JOIN tp USING (bucket)),
            |rk AS (SELECT *, CAST(row_number() OVER (PARTITION BY bucket ORDER BY (c1 + c2) DESC, feat) AS INTEGER) AS rnk FROM fj)
            |SELECT bucket, rnk, feat, c1, c2, term FROM rk WHERE rnk <= 3
            |ORDER BY term DESC, bucket, rnk""".stripMargin.replace("\n", " ")),

      // DSIR replay (CTE factored above): scores then the keep threshold
      "dsir_importance" ->
        (s"WITH $dsirCte " +
          """|SELECT doc_id, n_features, score, score >= 0.9 AS keep FROM sc ORDER BY doc_id""".stripMargin.replace("\n", " ")),

      // DSIR resampling: max-normalized permille rate + mul-hash holdout,
      // every step a correctly-rounded IEEE op in the engine's order
      "dsir_resample" ->
        (s"WITH $dsirCte, mxx AS (SELECT max(score) AS mx FROM sc) " +
          """SELECT doc_id, score,
            |  CAST(floor(1000.0 * score / mx) AS BIGINT) AS rate_permille,
            |  ((doc_id % 1048573) * 2654435761) % 1000 < CAST(floor(1000.0 * score / mx) AS BIGINT) AS keep
            |FROM sc, mxx ORDER BY doc_id""".stripMargin.replace("\n", " ")),

      // URL curation: the oracle rebuilds the raw-URL plant verbatim but
      // derives canonical + domain INDEPENDENTLY from the plant semantics
      // (scheme/host/path/query are functions of k alone) — a bug in the
      // engine's regex chain cannot hide in a shared replay
      "url_canonicalize" ->
        (s"WITH $urlPlantCte " +
          "SELECT doc_id, raw_url, url, domain FROM uc ORDER BY doc_id"),

      // URL blocklist: flag over the independently-derived canonical
      "url_blocklist" ->
        (s"WITH $urlPlantCte " +
          "SELECT doc_id, url AS curl, CASE WHEN url IS NULL THEN NULL ELSE " +
          "regexp_matches(lower(url), '(casino|xxx|free-money)') END AS blocked " +
          "FROM uc ORDER BY doc_id"),

      // URL keeper form: min id per canonical class; invalid-URL docs are
      // singletons via the id-keyed sentinel
      "url_dedup" ->
        (s"WITH $urlPlantCte " +
          """SELECT doc_id,
            |  min(doc_id) OVER (PARTITION BY coalesce(url, 'null#' || CAST(doc_id AS VARCHAR))) AS keeper_id,
            |  doc_id <> min(doc_id) OVER (PARTITION BY coalesce(url, 'null#' || CAST(doc_id AS VARCHAR))) AS is_dup
            |FROM uc ORDER BY doc_id""".stripMargin.replace("\n", " ")),

      // per-domain cap: count + Knuth-multiplicative slot arithmetic, all
      // BIGINT — bit-exact; null domains one SQL-semantics class
      "domain_cap_sample" ->
        ("""WITH nd AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
          |dm AS (SELECT doc_id,
          |  CASE WHEN doc_id % 19 = 0 THEN NULL
          |       WHEN (doc_id % 50) % 4 = 0 THEN 'example.com'
          |       WHEN (doc_id % 50) % 4 = 1 THEN 'example.co.uk'
          |       WHEN (doc_id % 50) % 4 = 2 THEN 'hot-site.org'
          |       ELSE 'tail-' || CAST(doc_id % greatest(n_docs // 20, 1) AS VARCHAR) || '.net' END AS domain
          |  FROM documents, nd),
          |ct AS (SELECT domain AS cdom, CAST(count(*) AS BIGINT) AS n_domain FROM dm GROUP BY domain)
          |SELECT dm.doc_id, dm.domain, ct.n_domain,
          |  (ct.n_domain <= 25 OR ((dm.doc_id % 1048573) * 2654435761) % ct.n_domain < 25) AS keep
          |FROM dm JOIN ct ON dm.domain IS NOT DISTINCT FROM ct.cdom
          |ORDER BY dm.doc_id""".stripMargin.replace("\n", " ")),

      // exact cap: the engine's window-free bisection must equal this
      // row_number window under the total order (v, doc_id); null domains
      // one window partition == the engine's sentinel class
      "domain_cap_exact" ->
        ("""WITH nd AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
          |dm AS (SELECT doc_id,
          |  CASE WHEN doc_id % 19 = 0 THEN NULL
          |       WHEN (doc_id % 50) % 4 = 0 THEN 'example.com'
          |       WHEN (doc_id % 50) % 4 = 1 THEN 'example.co.uk'
          |       WHEN (doc_id % 50) % 4 = 2 THEN 'hot-site.org'
          |       ELSE 'tail-' || CAST(doc_id % greatest(n_docs // 20, 1) AS VARCHAR) || '.net' END AS domain
          |  FROM documents, nd),
          |vv AS (SELECT doc_id, domain, ((doc_id % 1048573) * 2654435761) % 4294967296 AS v FROM dm),
          |rk AS (SELECT doc_id, domain,
          |  row_number() OVER (PARTITION BY domain ORDER BY v, doc_id) AS rn,
          |  CAST(count(*) OVER (PARTITION BY domain) AS BIGINT) AS n_domain FROM vv)
          |SELECT doc_id, domain, n_domain, rn <= 25 AS keep
          |FROM rk ORDER BY doc_id""".stripMargin.replace("\n", " ")),

      // crawl curation: canonical derived independently (functions of k2),
      // keeper window over url_ok docs, cap arithmetic over survivors,
      // hashed-quality keep, one final AND — each stage's branch bites
      "crawl_curation_pipeline" ->
        (s"WITH $crawlCte SELECT * FROM fin ORDER BY doc_id"),

      // per-domain rollup of the same frame; NULLS FIRST matches Spark's
      // ascending null ordering
      "crawl_curation_report" ->
        (s"WITH $crawlCte " +
          """SELECT domain, CAST(count(*) AS BIGINT) AS n_docs,
            |  CAST(sum(CASE WHEN NOT url_ok THEN 1 ELSE 0 END) AS BIGINT) AS n_invalid_url,
            |  CAST(sum(CASE WHEN is_url_dup THEN 1 ELSE 0 END) AS BIGINT) AS n_url_dup,
            |  CAST(sum(CASE WHEN url_ok AND NOT is_url_dup AND NOT domain_kept THEN 1 ELSE 0 END) AS BIGINT) AS n_cap_dropped,
            |  CAST(sum(CASE WHEN domain_kept AND NOT hq_keep THEN 1 ELSE 0 END) AS BIGINT) AS n_quality_dropped,
            |  CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
            |FROM fin GROUP BY domain ORDER BY domain NULLS FIRST""".stripMargin.replace("\n", " ")),

      // incremental-dedup replay: digest equality == text equality (a sha2
      // collision would fail this text-keyed oracle loudly), so keepers
      // replay as min-id by text with history precedence
      "dedup_incremental" ->
        ("""WITH old AS (SELECT doc_id, text FROM documents WHERE doc_id < 250),
          |delta AS (
          |  SELECT doc_id, text FROM documents WHERE doc_id >= 250
          |  UNION ALL SELECT doc_id + 1000000, text FROM old WHERE doc_id % 20 = 0
          |  UNION ALL SELECT doc_id + 2000000, text FROM documents WHERE doc_id >= 250 AND doc_id % 30 = 0),
          |k AS (SELECT text, min(doc_id) AS old_keeper FROM old GROUP BY text),
          |dm AS (SELECT text, min(doc_id) AS delta_min FROM delta GROUP BY text)
          |SELECT d.doc_id,
          |  coalesce(k.old_keeper, dm.delta_min) AS keeper_id,
          |  d.doc_id <> coalesce(k.old_keeper, dm.delta_min) AS is_dup,
          |  (k.old_keeper IS NULL AND d.doc_id = dm.delta_min) AS is_new_key
          |FROM delta d LEFT JOIN k USING (text) JOIN dm USING (text)
          |ORDER BY d.doc_id""".stripMargin.replace("\n", " ")),

      // chunking replay: 1-based list slices over the same token class;
      // chunk count = ceil(n/stride) via the same floor arithmetic
      "chunk_docs" ->
        ("""WITH tk AS (
          |  SELECT doc_id, list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> '') AS t
          |  FROM documents),
          |w AS (SELECT doc_id, t, CAST(floor((len(t) + 23) / 24.0) AS INTEGER) AS nch FROM tk),
          |u AS (SELECT doc_id, t,
          |    unnest([{'ci': i - 1} for i in range(1, nch + 1)], recursive := true) AS x
          |  FROM w WHERE nch > 0)
          |SELECT doc_id, ci AS chunk_idx,
          |  CAST(ci * 24 AS INTEGER) AS tok_start,
          |  CAST(least(ci * 24 + 32, len(t)) AS INTEGER) AS tok_end,
          |  array_to_string(t[ci * 24 + 1 : ci * 24 + 32], ' ') AS chunk_text,
          |  CAST(least(ci * 24 + 32, len(t)) - ci * 24 AS INTEGER) AS n_chunk_tokens
          |FROM u ORDER BY doc_id, chunk_idx""".stripMargin.replace("\n", " ")),

      // heavy-hitters replay: the two-pass MG machinery is output-identical
      // to the exact full-shuffle top-k (that IS its contract), so the
      // oracle is the plain GROUP BY with the same (cnt desc, tok) order
      "heavy_hitters" ->
        ("""WITH tok AS (
          |  SELECT unnest(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> x <> '')) AS tok FROM documents
          |  UNION ALL SELECT 'u' || CAST(doc_id AS VARCHAR) FROM documents),
          |c AS (SELECT tok, count(*) AS cnt FROM tok GROUP BY tok)
          |SELECT tok, CAST(cnt AS BIGINT) AS cnt FROM c
          |ORDER BY cnt DESC, tok LIMIT 20""".stripMargin.replace("\n", " ")),

      // vocab replay: same token class, same two-level aggregation; top-1
      // via the row_number twin of min(struct(-c, tok))
      "vocab_stats" ->
        ("""WITH tok AS (
          |  SELECT source, unnest(list_filter(
          |    regexp_split_to_array(lower(trim(text)), '\s+'), x -> x <> '')) AS tok
          |  FROM documents),
          |tf AS (SELECT source, tok, count(*) AS c FROM tok GROUP BY 1, 2),
          |top AS (SELECT source, tok AS top_token, c AS top_c FROM (
          |  SELECT source, tok, c,
          |    row_number() OVER (PARTITION BY source ORDER BY c DESC, tok) AS rn
          |  FROM tf) WHERE rn = 1),
          |g AS (SELECT source, CAST(sum(c) AS BIGINT) AS n_tokens,
          |    CAST(count(*) AS BIGINT) AS n_types,
          |    CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax
          |  FROM tf GROUP BY source)
          |SELECT g.source, n_tokens, n_types, n_hapax,
          |  CAST(n_types AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS type_token_ratio,
          |  CAST(n_hapax AS DOUBLE) / CAST(n_types AS DOUBLE) AS hapax_frac,
          |  top_token,
          |  CAST(top_c AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS top_token_share
          |FROM g JOIN top ON g.source = top.source
          |ORDER BY g.source""".stripMargin.replace("\n", " ")),

      // fertility replay: the langId CASE (shared with mixture_sqrt_sample)
      // + the pinned bpeish regex, integer sums, divisions last; plant
      // constants shared verbatim with FertilityPlants
      "token_fertility" ->
        ("""WITH p AS (
          |  SELECT doc_id,
          |    CASE WHEN doc_id % 11 = 0 THEN '这是一个测试句子,包含标点符号。模型的词元成本很高,因为没有空格。'
          |         WHEN doc_id % 5 = 0 THEN 'el sol y el mar que brillan en los campos por la manana, y los ninos que juegan!'
          |         WHEN doc_id % 7 = 0 THEN 'der hund und die katze ist nicht mit dem zug gefahren; zu hause auf dem land, und das wetter ist gut.'
          |         WHEN doc_id % 3 = 0 THEN text || ' it is, that is; of the top-1.5% (n=3), e.g. a.k.a ''the best''.'
          |         ELSE text END AS text
          |  FROM documents),
          |f AS (
          |  SELECT doc_id, text,
          |    CASE WHEN length(text) = 0 THEN 0.0
          |         ELSE CAST(len(regexp_extract_all(text, '[一-鿿]')) AS DOUBLE) / length(text) END AS cjk,
          |    regexp_split_to_array(trim(lower(text)), '\s+') AS toks
          |  FROM p),
          |h AS (
          |  SELECT doc_id, text, cjk,
          |    len(list_filter(toks, x -> x IN ('the','a','of','and','to','in','is','it','that','for'))) AS hen,
          |    len(list_filter(toks, x -> x IN ('el','la','de','que','y','en','un','una','los','por'))) AS hes,
          |    len(list_filter(toks, x -> x IN ('der','die','das','und','ist','nicht','mit','ein','zu','auf'))) AS hde,
          |    len(list_filter(toks, x -> x IN ('le','la','de','et','est','un','une','les','pour','dans'))) AS hfr
          |  FROM f),
          |l AS (SELECT doc_id, text,
          |  CASE WHEN cjk > 0.2 THEN 'zh'
          |       WHEN greatest(hen, hes, hde, hfr) = 0 THEN 'unknown'
          |       WHEN hfr = greatest(hen, hes, hde, hfr) THEN 'fr'
          |       WHEN hes = greatest(hen, hes, hde, hfr) THEN 'es'
          |       WHEN hen = greatest(hen, hes, hde, hfr) THEN 'en'
          |       ELSE 'de' END AS lang_pred FROM h),
          |m AS (SELECT lang_pred,
          |    CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tokens,
          |    len(regexp_extract_all(text, '\p{L}+|\p{N}+|[^ \t\n\x0B\f\r\p{L}\p{N}]')) AS n_pieces,
          |    length(text) AS n_chars
          |  FROM l),
          |g AS (SELECT lang_pred, count(*) AS n_docs,
          |    CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
          |    CAST(sum(n_pieces) AS BIGINT) AS sum_pieces,
          |    CAST(sum(n_chars) AS BIGINT) AS sum_chars
          |  FROM m GROUP BY lang_pred)
          |SELECT lang_pred, n_docs, sum_tokens, sum_pieces, sum_chars,
          |  CASE WHEN sum_tokens = 0 THEN NULL ELSE CAST(sum_pieces AS DOUBLE) / CAST(sum_tokens AS DOUBLE) END AS fertility,
          |  CASE WHEN sum_pieces = 0 THEN NULL ELSE CAST(sum_chars AS DOUBLE) / CAST(sum_pieces AS DOUBLE) END AS chars_per_piece
          |FROM g ORDER BY lang_pred""".stripMargin.replace("\n", " ")),

      // hygiene replay: same plant families (list slices, NaN head, zeroed,
      // Inf tail), same flags; the zero test is an exact sum-of-squares
      // comparison in both engines
      "embedding_hygiene" ->
        ("""WITH e AS (SELECT vec_id, embedding FROM embeddings
          |  UNION ALL SELECT vec_id + 100000, embedding[1:3] FROM embeddings WHERE vec_id % 50 = 0
          |  UNION ALL SELECT vec_id + 200000, [CAST('NaN' AS FLOAT)] || embedding[2:] FROM embeddings WHERE vec_id % 60 = 0
          |  UNION ALL SELECT vec_id + 300000, list_transform(embedding, x -> CAST(0 AS FLOAT)) FROM embeddings WHERE vec_id % 70 = 0
          |  UNION ALL SELECT vec_id + 400000, embedding[1:len(embedding)-1] || [CAST('Infinity' AS FLOAT)] FROM embeddings WHERE vec_id % 80 = 0),
          |s AS (SELECT vec_id, CAST(len(embedding) AS INTEGER) AS dim,
          |    CAST(len(list_filter(embedding, x -> isnan(x) OR isinf(x))) AS INTEGER) AS n_nonfinite,
          |    list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) = 0.0 AS is_zero
          |  FROM e)
          |SELECT vec_id, dim, n_nonfinite, is_zero,
          |  (dim = 64 AND n_nonfinite = 0 AND NOT is_zero) AS vec_ok
          |FROM s ORDER BY vec_id""".stripMargin.replace("\n", " ")),

      // hashed linear classifier replay: same 24-bit sha256 bucket, same
      // Knuth-multiplicative weight, exact BIGINT sum, one trailing divide
      "hashed_quality" ->
        ("""WITH tk AS (SELECT doc_id,
          |    CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tokens,
          |    regexp_split_to_array(trim(lower(text)), '\s+') AS toks FROM documents),
          |sc AS (SELECT doc_id, CAST(n_tokens AS INTEGER) AS n_tokens,
          |    CASE WHEN n_tokens = 0 THEN CAST(0 AS BIGINT) ELSE
          |      CAST(list_sum(list_transform(toks, t ->
          |        ((('0x' || substr(sha256(t), 1, 6))::BIGINT % 1048576) * 2654435761) % 2001 - 1000)) AS BIGINT)
          |    END AS score_sum FROM tk),
          |s2 AS (SELECT *, CASE WHEN n_tokens = 0 THEN 0.0
          |    ELSE CAST(score_sum AS DOUBLE) / CAST(n_tokens AS DOUBLE) END AS score FROM sc)
          |SELECT doc_id, n_tokens, score_sum, score, score > 0.0 AS keep
          |FROM s2 ORDER BY doc_id""".stripMargin.replace("\n", " ")),

      // C4 span dedup replay: the oracle partitions on the span TEXT where
      // the engine groups on its sha2 digest (identical classes absent a
      // 256-bit collision — the turn_dedup_ccnet precedent); first
      // occurrence = row_number in (doc_id, idx) order; cuts applied by
      // (doc_id, sentence-idx) anti-join; ordered rebuild via string_agg
      "sentence_span_dedup" ->
        ("""WITH tk AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS tx FROM documents),
          |dd AS (SELECT doc_id,
          |    coalesce(array_to_string(tx[1:5], ' '), '') || '. ' || coalesce(array_to_string(tx[6:10], ' '), '') || '. ' || coalesce(array_to_string(tx[11:15], ' '), '') || '. ' || coalesce(array_to_string(tx[16:20], ' '), '') || '.' AS text FROM tk
          |  UNION ALL SELECT doc_id + 100000,
          |    coalesce(array_to_string(tx[1:5], ' '), '') || '. ' || coalesce(array_to_string(tx[6:10], ' '), '') || '. ' || coalesce(array_to_string(tx[11:15], ' '), '') || '. ' || coalesce(array_to_string(tx[16:20], ' '), '') || '.' FROM tk WHERE doc_id % 10 = 0
          |  UNION ALL SELECT doc_id + 200000,
          |    coalesce(array_to_string(tx[1:5], ' '), '') || '. ' || coalesce(array_to_string(tx[6:10], ' '), '') || '. ' || coalesce(array_to_string(tx[11:15], ' '), '') || '. ' || coalesce(array_to_string(tx[21:25], ' '), '') || '.' FROM tk WHERE doc_id % 25 = 0),
          |sx AS (SELECT doc_id, [trim(x) for x in regexp_extract_all(text, '[^.!?]+[.!?]')] AS sents FROM dd),
          |se AS (SELECT doc_id, unnest([{'idx': i - 1, 'sent': sents[i]} for i in range(1, len(sents) + 1)], recursive := true) FROM sx),
          |sp AS (SELECT doc_id, idx,
          |    sent || ' ' || lead(sent, 1) OVER (PARTITION BY doc_id ORDER BY idx) || ' ' || lead(sent, 2) OVER (PARTITION BY doc_id ORDER BY idx) AS span FROM se),
          |occ AS (SELECT doc_id, idx,
          |    count(*) OVER (PARTITION BY span) AS n_occ,
          |    row_number() OVER (PARTITION BY span ORDER BY doc_id, idx) AS rn
          |  FROM sp WHERE span IS NOT NULL),
          |cuts AS (SELECT DISTINCT doc_id, idx + r.k AS idx
          |  FROM occ, range(3) r(k) WHERE n_occ > 1 AND rn > 1),
          |surv AS (SELECT se.doc_id, se.idx, se.sent FROM se ANTI JOIN cuts USING (doc_id, idx)),
          |reb AS (SELECT doc_id, count(*) AS n_kept,
          |    string_agg(sent, ' ' ORDER BY idx) AS cleaned FROM surv GROUP BY doc_id),
          |base AS (SELECT doc_id, len(sents) AS n_sentences FROM sx)
          |SELECT b.doc_id, CAST(b.n_sentences AS INTEGER) AS n_sentences,
          |  CAST(b.n_sentences - coalesce(reb.n_kept, 0) AS INTEGER) AS n_cut_sentences,
          |  coalesce(reb.cleaned, '') AS cleaned_text
          |FROM base b LEFT JOIN reb USING (doc_id) ORDER BY doc_id""".stripMargin.replace("\n", " ")),

      // end-to-end C4 pipeline: the c4_filter CTE chain (over the planted
      // page corpus) feeding the span-dedup CTE chain on the survivors'
      // cleaned text — one WITH, composed exactly as the engine composes
      // the two operators
      "c4_pipeline" ->
        ("""WITH tk AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS tx FROM documents),
          |p0 AS (SELECT doc_id, concat_ws(chr(10),
          |    coalesce(array_to_string(tx[1:6], ' '), '') || '.',
          |    coalesce(array_to_string(tx[7:9], ' '), '') || '!',
          |    coalesce(array_to_string(tx[10:15], ' '), ''),
          |    CASE WHEN doc_id % 7 = 0 THEN 'please enable javascript to view this page.' END,
          |    CASE WHEN doc_id % 11 = 0 THEN 'we updated our privacy policy today, please review it.' END,
          |    CASE WHEN doc_id % 3 <> 0 THEN coalesce(array_to_string(tx[16:21], ' '), '') || ' now?' END,
          |    CASE WHEN doc_id % 5 <> 0 THEN coalesce(array_to_string(tx[22:27], ' '), '') || ' today. it works well!' END,
          |    CASE WHEN doc_id % 13 = 0 THEN 'lorem ipsum dolor sit amet.' END,
          |    CASE WHEN doc_id % 17 = 0 THEN 'function() { return 0; }' END) AS text FROM tk),
          |dd AS (SELECT doc_id, text FROM p0
          |  UNION ALL SELECT doc_id + 100000, text FROM p0 WHERE doc_id % 10 = 1),
          |kp AS (SELECT doc_id, text,
          |    list_filter(list_transform(regexp_split_to_array(text, chr(10)), x -> trim(x)), l ->
          |      regexp_matches(l, '[.!?"]$')
          |      AND len(regexp_split_to_array(l, '\s+')) >= 5
          |      AND NOT contains(lower(l), 'javascript')
          |      AND NOT contains(lower(l), 'terms of use')
          |      AND NOT contains(lower(l), 'privacy policy')
          |      AND NOT contains(lower(l), 'cookie policy')
          |      AND NOT contains(lower(l), 'uses cookies')
          |      AND NOT contains(lower(l), 'use of cookies')
          |      AND NOT contains(lower(l), 'use cookies')) AS kept
          |  FROM dd),
          |gate AS (SELECT doc_id,
          |    coalesce(array_to_string(kept, chr(10)), '') AS ct,
          |    len(regexp_extract_all(coalesce(array_to_string(kept, chr(10)), ''), '[.!?]')) AS ns,
          |    contains(lower(text), 'lorem ipsum') AS hl,
          |    contains(text, '{') AS hb,
          |    regexp_matches(lower(text), '\b(vector)\b') AS hw
          |  FROM kp),
          |corpus AS (SELECT doc_id, ct AS text FROM gate
          |  WHERE ns >= 3 AND NOT hl AND NOT hb AND NOT hw),
          |sx AS (SELECT doc_id, [trim(x) for x in regexp_extract_all(text, '[^.!?]+[.!?]')] AS sents FROM corpus),
          |se AS (SELECT doc_id, unnest([{'idx': i - 1, 'sent': sents[i]} for i in range(1, len(sents) + 1)], recursive := true) FROM sx),
          |sp AS (SELECT doc_id, idx,
          |    sent || ' ' || lead(sent, 1) OVER (PARTITION BY doc_id ORDER BY idx) || ' ' || lead(sent, 2) OVER (PARTITION BY doc_id ORDER BY idx) AS span FROM se),
          |occ AS (SELECT doc_id, idx,
          |    count(*) OVER (PARTITION BY span) AS n_occ,
          |    row_number() OVER (PARTITION BY span ORDER BY doc_id, idx) AS rn
          |  FROM sp WHERE span IS NOT NULL),
          |cuts AS (SELECT DISTINCT doc_id, idx + r.k AS idx
          |  FROM occ, range(3) r(k) WHERE n_occ > 1 AND rn > 1),
          |surv AS (SELECT se.doc_id, se.idx, se.sent FROM se ANTI JOIN cuts USING (doc_id, idx)),
          |reb AS (SELECT doc_id, count(*) AS n_kept,
          |    string_agg(sent, ' ' ORDER BY idx) AS cleaned FROM surv GROUP BY doc_id),
          |base AS (SELECT doc_id, len(sents) AS n_sentences FROM sx)
          |SELECT b.doc_id, CAST(b.n_sentences AS INTEGER) AS n_sentences,
          |  CAST(b.n_sentences - coalesce(reb.n_kept, 0) AS INTEGER) AS n_cut_sentences,
          |  coalesce(reb.cleaned, '') AS cleaned_text
          |FROM base b LEFT JOIN reb USING (doc_id) ORDER BY doc_id""".stripMargin.replace("\n", " ")),

      // tf·idf with division idf: explode → tf → df → join → window,
      // replayed term-for-term; score arithmetic is one multiply + one
      // divide in the same operand order as the engine
      "tfidf_top_terms" ->
        ("""WITH t AS (
          |  SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term FROM documents),
          |tf AS (SELECT doc_id, term, count(*) AS tf FROM t WHERE term <> '' GROUP BY doc_id, term),
          |dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
          |n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents),
          |sc AS (SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
          |    CAST(tf.tf AS DOUBLE) * n.n / CAST(dfreq.df AS DOUBLE) AS score
          |  FROM tf JOIN dfreq USING (term) CROSS JOIN n),
          |r AS (SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rank FROM sc)
          |SELECT doc_id, CAST(rank AS INTEGER) AS rank, term, tf, df, score
          |FROM r WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin.replace("\n", " ")),

      // the same greedy first-fit fold as a recursive CTE: each iteration
      // advances every bucket by one row, carrying (acc, pack)
      "pack_sequences" ->
        ("""WITH RECURSIVE d AS (
          |  SELECT doc_id,
          |    CAST(CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS INTEGER) AS n_tokens,
          |    CAST(doc_id % 8 AS INTEGER) AS bucket,
          |    CAST(row_number() OVER (PARTITION BY doc_id % 8 ORDER BY doc_id) AS INTEGER) AS rn
          |  FROM documents),
          |st AS (
          |  SELECT bucket, rn, doc_id, n_tokens, CAST(n_tokens AS BIGINT) AS acc, 0 AS pack FROM d WHERE rn = 1
          |  UNION ALL
          |  SELECT d.bucket, d.rn, d.doc_id, d.n_tokens,
          |    CASE WHEN st.acc + d.n_tokens > 256 THEN CAST(d.n_tokens AS BIGINT) ELSE st.acc + d.n_tokens END,
          |    CASE WHEN st.acc + d.n_tokens > 256 THEN st.pack + 1 ELSE st.pack END
          |  FROM st JOIN d ON d.bucket = st.bucket AND d.rn = st.rn + 1)
          |SELECT doc_id, n_tokens, bucket, CAST(pack AS INTEGER) AS pack
          |FROM st ORDER BY doc_id""".stripMargin.replace("\n", " ")),

      // the same fold with the BPE-ish cost (letter runs | digit runs |
      // isolated non-space punctuation; class written out so RE2 == Java)
      "pack_sequences_bpeish" ->
        ("""WITH RECURSIVE d AS (
          |  SELECT doc_id,
          |    CAST(len(regexp_extract_all(text, '\p{L}+|\p{N}+|[^ \t\n\x0B\f\r\p{L}\p{N}]')) AS INTEGER) AS n_tokens,
          |    CAST(doc_id % 8 AS INTEGER) AS bucket,
          |    CAST(row_number() OVER (PARTITION BY doc_id % 8 ORDER BY doc_id) AS INTEGER) AS rn
          |  FROM documents),
          |st AS (
          |  SELECT bucket, rn, doc_id, n_tokens, CAST(n_tokens AS BIGINT) AS acc, 0 AS pack FROM d WHERE rn = 1
          |  UNION ALL
          |  SELECT d.bucket, d.rn, d.doc_id, d.n_tokens,
          |    CASE WHEN st.acc + d.n_tokens > 256 THEN CAST(d.n_tokens AS BIGINT) ELSE st.acc + d.n_tokens END,
          |    CASE WHEN st.acc + d.n_tokens > 256 THEN st.pack + 1 ELSE st.pack END
          |  FROM st JOIN d ON d.bucket = st.bucket AND d.rn = st.rn + 1)
          |SELECT doc_id, n_tokens, bucket, CAST(pack AS INTEGER) AS pack
          |FROM st ORDER BY doc_id""".stripMargin.replace("\n", " ")),

      // quality CTE + lang CTE + first-per-text keeper window, composed
      "corpus_filter" ->
        ("""WITH f AS (
          |  SELECT doc_id, text, length(text) AS n_chars,
          |    CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tokens,
          |    len(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
          |      x -> x IN ('the','a','of','and','to','in','is','it','that','for'))) AS n_stopwords,
          |    len(regexp_extract_all(text, '[!-/:-@\[-`{-~]')) AS n_punct,
          |    len(list_distinct(regexp_split_to_array(trim(lower(text)), '\s+'))) AS n_distinct_tokens,
          |    CASE WHEN length(text) = 0 THEN 0.0
          |         ELSE CAST(len(regexp_extract_all(text, '[一-鿿]')) AS DOUBLE) / length(text) END AS cjk,
          |    min(doc_id) OVER (PARTITION BY text) AS keeper
          |  FROM (SELECT doc_id, text FROM documents
          |        UNION ALL SELECT doc_id + 100000, text || ' extra' FROM documents WHERE doc_id % 10 = 0
          |        UNION ALL SELECT doc_id + 200000, text FROM documents WHERE doc_id % 25 = 0)),
          |q AS (
          |  SELECT *,
          |    (CASE WHEN n_chars BETWEEN 20 AND 100000 THEN 0.25 ELSE 0.0 END +
          |     CASE WHEN n_stopwords > 0 THEN 0.25 ELSE 0.0 END +
          |     CASE WHEN n_tokens > 0 AND CAST(n_distinct_tokens AS DOUBLE) / n_tokens > 0.3 THEN 0.25 ELSE 0.0 END +
          |     CASE WHEN n_chars > 0 AND CAST(n_punct AS DOUBLE) / n_chars < 0.2 THEN 0.25 ELSE 0.0 END) AS quality_score,
          |    list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
          |      x -> x IN ('the','a','of','and','to','in','is','it','that','for')) AS _en,
          |    list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
          |      x -> x IN ('el','la','de','que','y','en','un','una','los','por')) AS _es,
          |    list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
          |      x -> x IN ('der','die','das','und','ist','nicht','mit','ein','zu','auf')) AS _de,
          |    list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
          |      x -> x IN ('le','la','de','et','est','un','une','les','pour','dans')) AS _fr
          |  FROM f)
          |SELECT doc_id,
          |  CASE WHEN cjk > 0.2 THEN 'zh'
          |       WHEN greatest(len(_en), len(_es), len(_de), len(_fr)) = 0 THEN 'unknown'
          |       WHEN len(_fr) = greatest(len(_en), len(_es), len(_de), len(_fr)) THEN 'fr'
          |       WHEN len(_es) = greatest(len(_en), len(_es), len(_de), len(_fr)) THEN 'es'
          |       WHEN len(_en) = greatest(len(_en), len(_es), len(_de), len(_fr)) THEN 'en'
          |       ELSE 'de' END AS lang_pred,
          |  quality_score
          |FROM q WHERE quality_score >= 0.75 AND doc_id = keeper
          |ORDER BY doc_id""".stripMargin.replace("\n", " ")),

      "word_freq_top50" ->
        ("SELECT word, count(*) AS cnt FROM (SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS word " +
          "FROM documents) WHERE word <> '' GROUP BY word ORDER BY cnt DESC, word LIMIT 50"),

      // the 8 turn templates are fixed, so resolved entity spans are
      // constants relative to the 'turn {i} of order {k}: ' prefix length —
      // the oracle reconstructs the absolute spans per row. (Independent
      // SEMANTICS are gated by the reference-golden detector batteries; this
      // makes the flagship distributed query hash-checked by the driver.)
      "detect_entities" ->
        (s"$cte, spans(variant, rs, re, typ, source) AS (VALUES " +
          "(0,13,23,'ID','regex'),(0,34,46,'PHONE','regex')," +
          "(1,12,28,'EMAIL','regex'),(1,37,47,'PHONE','regex')," +
          "(2,11,19,'PASSPORT','regex'),(2,23,31,'ADDRESS','regex')," +
          "(3,133,150,'EMAIL','regex')," +
          "(4,9,18,'PASSPORT','regex'),(4,23,31,'UNIFIED_BUSINESS_NO','regex')) " +
          "SELECT t.conv_id, t.turn_idx, CAST(s.rs + t.plen AS INTEGER) AS start, " +
          "CAST(s.re + t.plen AS INTEGER) AS \"end\", s.typ, s.source " +
          "FROM (SELECT conv_id, turn_idx, " +
          "CAST((CAST(conv_id AS BIGINT) * 7 + turn_idx * 5) % 8 AS INTEGER) AS variant, " +
          "length('turn ' || CAST(turn_idx AS VARCHAR) || ' of order ' || conv_id || ': ') AS plen " +
          "FROM turns) t JOIN spans s USING (variant) " +
          "ORDER BY conv_id, turn_idx, start, typ"),

      // replace-pipeline projections: per-variant entity/event counts and
      // sorted TYPE:original keys are template constants (VariantProbe-
      // derived; values themselves are MT19937 and stay golden-gated). The
      // zh UNIFIED_BUSINESS_NO rule (\d{8}, unanchored) additionally fires
      // on the PREFIX's order key once keys reach 8 digits (orderkey ≥
      // 10^7, far past sf0.1 but modeled so the SQL stays exact) — one
      // extra key UNIFIED_BUSINESS_NO:<first 8 digits>. 16+-digit keys
      // (two non-overlapping matches) are outside the modeled domain.
      "deid_replace" ->
        (s"$cte, v(variant, n, keys) AS (VALUES " +
          "(0,2,['ID:A123456789','PHONE:0912-345-678'])," +
          "(1,2,['EMAIL:test@example.com','PHONE:0912345678'])," +
          "(2,2,['ADDRESS:台北市信義路1號','PASSPORT:M1234567'])," +
          "(3,1,['EMAIL:alice@example.com'])," +
          "(4,2,['PASSPORT:PA1234567','UNIFIED_BUSINESS_NO:12345678'])," +
          "(5,0,[]::VARCHAR[]),(6,0,[]::VARCHAR[]),(7,0,[]::VARCHAR[])) " +
          "SELECT t.conv_id, t.turn_idx, CAST(v.n + t.extra AS INTEGER) AS n_entities, " +
          "CAST(v.n + t.extra AS INTEGER) AS n_events, " +
          // coalesce: DuckDB's array_to_string yields NULL (not '') on an
          // empty list, and Spark's array_join yields ''
          "coalesce(array_to_string(list_sort(CASE WHEN t.extra = 1 " +
          "THEN list_append(v.keys, 'UNIFIED_BUSINESS_NO:' || substr(t.conv_id, 1, 8)) " +
          "ELSE v.keys END), '|'), '') AS repl_keys " +
          "FROM (SELECT conv_id, turn_idx, " +
          "CAST((CAST(conv_id AS BIGINT) * 7 + turn_idx * 5) % 8 AS INTEGER) AS variant, " +
          "CASE WHEN length(conv_id) BETWEEN 8 AND 15 THEN 1 ELSE 0 END AS extra " +
          "FROM turns) t JOIN v USING (variant) ORDER BY conv_id, turn_idx"),

      // en twin. The en MEDICAL_ID rule (\b[A-Za-z0-9]{6,12}\b, faithful to
      // configs/regex_en.yaml) also fires on the PREFIX's order key once
      // keys reach 6 digits (first at sf0.1); the higher-priority en PHONE
      // rule takes the span instead when the whole run matches its
      // \b-delimited 10-digit (or '1'+10-digit) shape. The oracle models
      // the exact per-width outcome — MEDICAL_ID at 6–9 and 12 digits and
      // at 11 digits not starting with '1'; PHONE at 10 digits and
      // '1'-leading 11 digits; nothing at 13+ (no \b-bounded 6–12 window
      // exists inside a longer digit run) — each width pinned against the
      // real detector in SparkPipelineSpec, so the same SQL is exact at
      // every scale.
      "deid_replace_en" ->
        (s"$cte, v(variant, n, keys) AS (VALUES " +
          "(0,1,['PASSPORT:A1234567'])," +
          "(1,2,['EMAIL:test@example.com','PHONE:0912345678'])," +
          "(2,2,['MEDICAL_ID:record','PASSPORT:M1234567'])," +
          "(3,5,['EMAIL:alice@example.com','MEDICAL_ID:Contact','MEDICAL_ID:details','MEDICAL_ID:script','MEDICAL_ID:script'])," +
          "(4,5,['MEDICAL_ID:000123','MEDICAL_ID:12345678','MEDICAL_ID:Passport','MEDICAL_ID:contract','PASSPORT:A1234567'])," +
          "(5,4,['MEDICAL_ID:Nothing','MEDICAL_ID:confirmation','MEDICAL_ID:routine','MEDICAL_ID:sensitive'])," +
          "(6,3,['ADDRESS:123 Main Street','ID:123-45-6789','PHONE:1-555-123-4567'])," +
          "(7,2,['MEDICAL_ID:output','MEDICAL_ID:status'])) " +
          "SELECT t.conv_id, t.turn_idx, " +
          "CAST(v.n + CASE WHEN t.extra_key IS NULL THEN 0 ELSE 1 END AS INTEGER) AS n_entities, " +
          "CAST(v.n + CASE WHEN t.extra_key IS NULL THEN 0 ELSE 1 END AS INTEGER) AS n_events, " +
          "array_to_string(list_sort(CASE WHEN t.extra_key IS NULL " +
          "THEN v.keys ELSE list_append(v.keys, t.extra_key) END), '|') AS repl_keys " +
          "FROM (SELECT conv_id, turn_idx, " +
          "CAST((CAST(conv_id AS BIGINT) * 7 + turn_idx * 5) % 8 AS INTEGER) AS variant, " +
          "CASE WHEN length(conv_id) BETWEEN 6 AND 9 THEN 'MEDICAL_ID:' || conv_id " +
          "WHEN length(conv_id) = 10 OR (length(conv_id) = 11 AND substr(conv_id, 1, 1) = '1') THEN 'PHONE:' || conv_id " +
          "WHEN length(conv_id) IN (11, 12) THEN 'MEDICAL_ID:' || conv_id " +
          "ELSE NULL END AS extra_key " +
          "FROM turns) t JOIN v USING (variant) ORDER BY conv_id, turn_idx"),

      // per-event audit: entity_type/original/event-start per variant are
      // constants relative to the prefix (event start = original span
      // start). Same zh UBN-in-prefix modeling as deid_replace: 8–15-digit
      // order keys add one event at the key's offset in the prefix
      // ('turn {i} of order ' = plen - 2 - key length).
      "events_audit" ->
        (s"$cte, ev(variant, entity_type, original, rs) AS (VALUES " +
          "(0,'ID','A123456789',13),(0,'PHONE','0912-345-678',34)," +
          "(1,'EMAIL','test@example.com',12),(1,'PHONE','0912345678',37)," +
          "(2,'PASSPORT','M1234567',11),(2,'ADDRESS','台北市信義路1號',23)," +
          "(3,'EMAIL','alice@example.com',133)," +
          "(4,'PASSPORT','PA1234567',9),(4,'UNIFIED_BUSINESS_NO','12345678',23)), " +
          "t AS (SELECT conv_id, turn_idx, " +
          "CAST((CAST(conv_id AS BIGINT) * 7 + turn_idx * 5) % 8 AS INTEGER) AS variant, " +
          "length('turn ' || CAST(turn_idx AS VARCHAR) || ' of order ' || conv_id || ': ') AS plen " +
          "FROM turns) " +
          "SELECT * FROM (" +
          "SELECT t.conv_id, t.turn_idx, e.entity_type, e.original, " +
          "CAST(e.rs + t.plen AS INTEGER) AS start " +
          "FROM t JOIN ev e USING (variant) " +
          "UNION ALL " +
          "SELECT conv_id, turn_idx, 'UNIFIED_BUSINESS_NO', substr(conv_id, 1, 8), " +
          "CAST(plen - 2 - length(conv_id) AS INTEGER) " +
          "FROM t WHERE length(conv_id) BETWEEN 8 AND 15) " +
          "ORDER BY conv_id, turn_idx, start, entity_type"),

      "masked_pair_recovery" ->
        (s"$cte, spans(variant, rs, re, typ) AS (VALUES " +
          "(0,13,23,'ID'),(0,34,47,'PHONE'),(1,12,28,'EMAIL'),(1,37,48,'PHONE')," +
          "(2,11,19,'PASSPORT'),(2,23,32,'ADDRESS'),(3,133,150,'EMAIL')," +
          "(4,9,18,'PASSPORT'),(4,23,31,'UNIFIED_BUSINESS_NO')) " +
          "SELECT t.conv_id, t.turn_idx, s.typ, CAST(s.rs + t.plen AS INTEGER) AS start, " +
          "CAST(s.re + t.plen AS INTEGER) AS \"end\" " +
          "FROM (SELECT conv_id, turn_idx, " +
          "CAST((CAST(conv_id AS BIGINT) * 7 + turn_idx * 5) % 8 AS INTEGER) AS variant, " +
          "length('turn ' || CAST(turn_idx AS VARCHAR) || ' of order ' || conv_id || ': ') AS plen " +
          "FROM turns) t JOIN spans s USING (variant) " +
          "ORDER BY conv_id, turn_idx, start, typ"),

      "dict_detect" ->
        (s"$cte SELECT conv_id, turn_idx, CAST(23 + plen AS INTEGER) AS start, " +
          "CAST(31 + plen AS INTEGER) AS \"end\", 'ADDRESS' AS typ " +
          "FROM (SELECT conv_id, turn_idx, " +
          "CAST((CAST(conv_id AS BIGINT) * 7 + turn_idx * 5) % 8 AS INTEGER) AS variant, " +
          "length('turn ' || CAST(turn_idx AS VARCHAR) || ' of order ' || conv_id || ': ') AS plen " +
          "FROM turns) WHERE variant = 2 ORDER BY conv_id, turn_idx, start"),

      "pii_markup_extract" ->
        (s"$cte SELECT conv_id, turn_idx, 'NOTE' AS pii_type, 17 AS value_start, " +
          "CAST(17 + length(text) AS INTEGER) AS value_end " +
          "FROM turns ORDER BY conv_id, turn_idx, value_start"),

      // histogram over the same variant-constant spans; canonical mapping of
      // the six emitted types is the identity on this corpus
      "entity_histogram" ->
        (s"$cte, spans(variant, typ) AS (VALUES " +
          "(0,'ID'),(0,'PHONE'),(1,'EMAIL'),(1,'PHONE'),(2,'PASSPORT'),(2,'ADDRESS')," +
          "(3,'EMAIL'),(4,'PASSPORT'),(4,'UNIFIED_BUSINESS_NO')) " +
          "SELECT s.typ, count(*) AS cnt FROM (SELECT " +
          "CAST((CAST(conv_id AS BIGINT) * 7 + turn_idx * 5) % 8 AS INTEGER) AS variant " +
          "FROM turns) t JOIN spans s USING (variant) " +
          "GROUP BY s.typ ORDER BY cnt DESC, typ"),

      "canonical_types" ->
        ("SELECT * FROM (VALUES ('ADDRESS','ADDRESS'),('EMAIL','EMAIL'),('ID','ID')," +
          "('PASSPORT','PASSPORT'),('PHONE','PHONE')," +
          "('UNIFIED_BUSINESS_NO','UNIFIED_BUSINESS_NO')) AS v(raw_type, canonical) " +
          "ORDER BY raw_type"),

      // eval-metric core over the placeholderized output: the oracle
      // REBUILDS the prediction text per variant ('<TYPE>' splices at the
      // resolved spans; prefix UBN modeled for 8-15-digit keys exactly as
      // deid_replace) and then replays each metric's arithmetic generically
      // in SQL — leak check = contains() over the variant's originals, G5 =
      // regexp counts, G6 = the separator/markup predicate, G7 = char
      // 3-gram repeated-mass via unnest+group (exact integer counts, one
      // double division — bit-identical to the engine's)
      "deid_eval_metrics" -> {
        val htmlPh = "<html><head><title>T</title><style>p{color:red}</style>" +
          "</head><body><nav><a href=\"/\">home</a> <a href=\"/x\">about</a>" +
          "</nav><p>Contact <EMAIL> for order details now.</p>" +
          "<script>var x=1;</script></body></html>"
        (s"$cte, v(variant, vph, origs) AS (VALUES " +
          "(0, 'Hi, my ID is <ID> and phone <PHONE>.', ['A123456789','0912-345-678'])," +
          "(1, 'Email me at <EMAIL> or call <PHONE>.', ['test@example.com','0912345678'])," +
          "(2, 'Med record <PASSPORT> at <ADDRESS>.', ['M1234567','台北市信義路1號'])," +
          s"(3, '$htmlPh', ['alice@example.com'])," +
          "(4, 'Passport <PASSPORT> UBN <UNIFIED_BUSINESS_NO> contract CN-000123.', ['PA1234567','12345678'])," +
          "(5, 'Nothing sensitive in this routine confirmation turn.', []::VARCHAR[])," +
          "(6, 'SSN 123-45-6789 call +1-555-123-4567 at 123 Main Street.', []::VARCHAR[])," +
          "(7, 'Tool output: stats ok, rows=42, status=200.', []::VARCHAR[])), " +
          "b AS (SELECT t.conv_id, t.turn_idx, " +
          "CASE WHEN length(t.conv_id) BETWEEN 8 AND 15 " +
          "THEN 'turn ' || CAST(t.turn_idx AS VARCHAR) || ' of order <UNIFIED_BUSINESS_NO>' || substr(t.conv_id, 9) || ': ' || v.vph " +
          "ELSE 'turn ' || CAST(t.turn_idx AS VARCHAR) || ' of order ' || t.conv_id || ': ' || v.vph END AS ph, " +
          "CASE WHEN length(t.conv_id) BETWEEN 8 AND 15 " +
          "THEN list_append(v.origs, substr(t.conv_id, 1, 8)) ELSE v.origs END AS origs " +
          "FROM (SELECT conv_id, turn_idx, " +
          "CAST((CAST(conv_id AS BIGINT) * 7 + turn_idx * 5) % 8 AS INTEGER) AS variant " +
          "FROM turns) t JOIN v USING (variant)), " +
          "g AS (SELECT conv_id, turn_idx, unnest([substring(ph, i, 3) for i in range(1, length(ph) - 1)]) AS gram " +
          "FROM b WHERE length(ph) >= 3), " +
          "gc AS (SELECT conv_id, turn_idx, gram, count(*) AS c FROM g GROUP BY conv_id, turn_idx, gram), " +
          "rep AS (SELECT conv_id, turn_idx, sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS repeated FROM gc GROUP BY conv_id, turn_idx) " +
          "SELECT b.conv_id, b.turn_idx, b.ph, " +
          "CAST(len(b.origs) AS INTEGER) AS pii_total, " +
          "CAST(len(list_filter(b.origs, o -> NOT contains(b.ph, o))) AS INTEGER) AS pii_removed, " +
          "CAST(len(regexp_extract_all(b.ph, '<[A-Z_]+>')) AS INTEGER) AS n_placeholders, " +
          "CAST(len(regexp_extract_all(b.ph, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS INTEGER) AS n_email_pat, " +
          "CASE WHEN length(b.ph) < 3 THEN 0.0 ELSE CAST(coalesce(rep.repeated, 0) AS DOUBLE) / (length(b.ph) - 2) END AS repetition_3gram_rate, " +
          "(length(lower(b.ph)) > 0 AND NOT (contains(lower(b.ph), 'input:') OR contains(lower(b.ph), 'output:') " +
          "OR contains(lower(b.ph), 'analysis:') OR contains(lower(b.ph), 'explanation:') " +
          "OR contains(lower(b.ph), 'step') OR contains(lower(b.ph), 'reason:')) " +
          "AND NOT (contains(lower(b.ph), '<pii') OR contains(lower(b.ph), '[/'))) AS format_compliant " +
          "FROM b LEFT JOIN rep USING (conv_id, turn_idx) " +
          "ORDER BY conv_id, turn_idx")
      },

      // format round trips: the planted PII is fixed, so the per-doc
      // invariants (entity/rect counts, pii-absent booleans) are constants
      "csv_rewrite" ->
        ("SELECT doc_id, 2 AS n_entities, true AS pii_absent, true AS note_intact " +
          "FROM documents ORDER BY doc_id"),
      "xlsx_roundtrip" ->
        ("SELECT doc_id, 1 AS n_entities, true AS pii_absent, true AS nonempty " +
          "FROM documents ORDER BY doc_id"),
      "docx_roundtrip" ->
        ("SELECT doc_id, 1 AS n_entities, true AS pii_absent, true AS nonempty " +
          "FROM documents ORDER BY doc_id"),
      "pptx_roundtrip" ->
        ("SELECT doc_id, 1 AS n_entities, true AS pii_absent, true AS nonempty " +
          "FROM documents ORDER BY doc_id"),
      // A1 anchors: the planted CSV is one fixed template, so both detected
      // spans and their cell anchors are constants (ID cell R2C1 = segment 3,
      // PHONE cell R2C2 = segment 4 in the flattened cell-per-segment doc)
      "anchored_extract" ->
        ("SELECT doc_id, start, \"end\", typ, segment_id, address FROM documents, " +
          "(VALUES (14, 24, 'ID', 3, 'R2C1'), (25, 37, 'PHONE', 4, 'R2C2')) " +
          "AS a(start, \"end\", typ, segment_id, address) ORDER BY doc_id, start"),

      "pdf_redact" ->
        ("SELECT doc_id, 2 AS n_rects, true AS pii_absent " +
          "FROM documents ORDER BY doc_id"),
      "pdf_rewrite_redact" ->
        ("SELECT doc_id, 2 AS n_rects, true AS pii_absent " +
          "FROM documents ORDER BY doc_id"),

      // builder→extractor are an inverse pair on the ascii projection, so
      // roundtrip_ok is true by construction; needs_ocr is the S5 rule
      // (<50 chars) applied to the same SQL-derivable source slice
      "pdf_extract_roundtrip" ->
        ("SELECT doc_id, true AS pdf_ok, true AS roundtrip_ok, " +
          "(length(trim(substr(regexp_replace(text, '[^\\x20-\\x7e]', '', 'g'), 1, 200))) < 50) AS needs_ocr " +
          "FROM documents ORDER BY doc_id"),

      // stub decode is deterministic: dim/frame-count are constants, byte
      // lengths derive from the utf8 payload (4 slices of len/4, min 1)
      "media_features" ->
        ("SELECT doc_id, 16 AS dim, 4 AS n_frames, " +
          "CAST(octet_length(encode(text)) AS INTEGER) AS data_len, " +
          "CAST(CASE WHEN octet_length(encode(text)) = 0 THEN 0 " +
          "ELSE 4 * greatest(octet_length(encode(text)) // 4, 1) END AS INTEGER) AS frames_len " +
          "FROM documents ORDER BY doc_id"),

      // the turns HTML payload is one fixed template, so the bs4-parity
      // strip and the density-scored main content are SQL-constructible
      // constants per row (the independent-semantics gate is the bs4 golden
      // battery; this pins the distributed query output)
      "html_text_strip" ->
        (s"$cte SELECT conv_id, turn_idx, concat('turn ', CAST(turn_idx AS STRING), " +
          "' of order ', conv_id, ': ', '\nT\np{color:red}\nhome\n \nabout\n" +
          "Contact alice@example.com for order details now.\nvar x=1;') AS stripped " +
          "FROM turns WHERE contains(text, '<html') ORDER BY conv_id, turn_idx"),

      "html_main_content" ->
        (s"$cte SELECT conv_id, turn_idx, concat('turn ', CAST(turn_idx AS STRING), " +
          "' of order ', conv_id, ':', '\nContact alice@example.com for order details now.') AS main " +
          "FROM turns WHERE contains(text, '<html') ORDER BY conv_id, turn_idx"),

      "q1_pricing_summary" ->
        ("SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty, " +
          "count(*) AS count_order FROM lineitem " +
          "WHERE l_shipdate <= TIMESTAMP '1998-09-01 00:00:00' " +
          "GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus"),

      "orders_by_nation" ->
        ("SELECT n_name, count(*) AS n_orders FROM orders " +
          "JOIN customer ON o_custkey = c_custkey " +
          "JOIN nation ON c_nationkey = n_nationkey " +
          "GROUP BY n_name ORDER BY n_name"),

      "top_orders_per_customer" ->
        ("SELECT o_custkey, CAST(rank AS INTEGER) AS rank, o_orderkey FROM (" +
          "SELECT o_custkey, o_orderkey, row_number() OVER (" +
          "PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rank " +
          "FROM orders) WHERE rank <= 3 ORDER BY o_custkey, rank"),

      "event_windows" ->
        ("SELECT event_type, CAST(date_trunc('hour', ts) AS STRING) AS hour_ts, " +
          "count(*) AS cnt, count(DISTINCT user_id) AS users " +
          "FROM events GROUP BY event_type, hour_ts ORDER BY event_type, hour_ts"),

      "conv_dedup" ->
        (s"$cte, conv AS (SELECT conv_id, string_agg(text, chr(10) ORDER BY turn_idx) AS text " +
          "FROM turns GROUP BY conv_id), " +
          "p AS (SELECT conv_id, text FROM conv " +
          "UNION ALL SELECT conv_id || 'D', text FROM conv WHERE CAST(conv_id AS BIGINT) % 7 = 0) " +
          "SELECT conv_id, min(conv_id) OVER (PARTITION BY text) AS keeper_id, " +
          "conv_id <> min(conv_id) OVER (PARTITION BY text) AS is_dup " +
          "FROM p ORDER BY conv_id"),

      // fp equality == rolled-up-text equality on this corpus: the
      // aggregation-only scale path is pinned to the SAME exact oracle
      "conv_dedup_fp" ->
        (s"$cte, conv AS (SELECT conv_id, string_agg(text, chr(10) ORDER BY turn_idx) AS text " +
          "FROM turns GROUP BY conv_id), " +
          "p AS (SELECT conv_id, text FROM conv " +
          "UNION ALL SELECT conv_id || 'D', text FROM conv WHERE CAST(conv_id AS BIGINT) % 7 = 0) " +
          "SELECT conv_id, min(conv_id) OVER (PARTITION BY text) AS keeper_id, " +
          "conv_id <> min(conv_id) OVER (PARTITION BY text) AS is_dup " +
          "FROM p ORDER BY conv_id"),

      // bounded-frame context assembly: DuckDB's windowed list() in frame
      // order == Spark's collect_list over the ordered frame; concat_ws
      // null-skip agrees; empty frame → coalesce('') matches concat_ws("")
      "sft_context_pairs" ->
        (s"$cte, r AS (SELECT conv_id, turn_idx, role, text, " +
          "coalesce(array_to_string(list(concat_ws(': ', role, text)) OVER " +
          "(PARTITION BY conv_id ORDER BY turn_idx ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING), chr(10)), '') AS context " +
          "FROM turns) " +
          "SELECT conv_id, turn_idx, context, text AS target FROM r " +
          "WHERE role = 'assistant' ORDER BY conv_id, turn_idx"),

      // context assembly → example render → bpe-ish cost → greedy pack,
      // composed: the same window-list CTE as sft_context_pairs feeding the
      // same recursive fold as pack_sequences_bpeish (budget 512, 8 buckets)
      "sft_prep_packed" ->
        (s"${cte.replaceFirst("WITH ", "WITH RECURSIVE ")}, " +
          "r AS (SELECT conv_id, turn_idx, role, text, " +
          "coalesce(array_to_string(list(concat_ws(': ', role, text)) OVER " +
          "(PARTITION BY conv_id ORDER BY turn_idx ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING), chr(10)), '') AS context " +
          "FROM turns), " +
          "p AS (SELECT CAST(conv_id AS BIGINT) * 3 + turn_idx AS example_id, " +
          "concat_ws(chr(10), context, text) AS example FROM r WHERE role = 'assistant'), " +
          """d AS (SELECT example_id, CAST(len(regexp_extract_all(example, '\p{L}+|\p{N}+|[^ \t\n\x0B\f\r\p{L}\p{N}]')) AS INTEGER) AS n_tokens, """ +
          "CAST(example_id % 8 AS INTEGER) AS bucket, " +
          "CAST(row_number() OVER (PARTITION BY example_id % 8 ORDER BY example_id) AS INTEGER) AS rn FROM p), " +
          "st AS (SELECT bucket, rn, example_id, n_tokens, CAST(n_tokens AS BIGINT) AS acc, 0 AS pack FROM d WHERE rn = 1 " +
          "UNION ALL SELECT d.bucket, d.rn, d.example_id, d.n_tokens, " +
          "CASE WHEN st.acc + d.n_tokens > 512 THEN CAST(d.n_tokens AS BIGINT) ELSE st.acc + d.n_tokens END, " +
          "CASE WHEN st.acc + d.n_tokens > 512 THEN st.pack + 1 ELSE st.pack END " +
          "FROM st JOIN d ON d.bucket = st.bucket AND d.rn = st.rn + 1) " +
          "SELECT example_id, n_tokens, bucket, CAST(pack AS INTEGER) AS pack " +
          "FROM st ORDER BY example_id"),

      // CCNet normalization replayed verbatim (DuckDB regexp_replace needs
      // the 'g' flag; Spark is global by default); classes partition on the
      // normalized text where the engine groups on its sha2 digest —
      // identical classes absent a 256-bit collision. row_number()==1 in
      // (conv_id, turn_idx) string order == the engine's min-struct keeper
      // (unique key; both engines compare ASCII ids byte-wise).
      "turn_dedup_ccnet" ->
        (s"$cte, n AS (SELECT conv_id, turn_idx, " +
          "regexp_replace(lower(regexp_replace(trim(text), '[0-9]', '0', 'g')), '\\p{P}', '', 'g') AS norm FROM turns), " +
          "r AS (SELECT conv_id, turn_idx, " +
          "count(*) OVER (PARTITION BY norm) AS n_copies, " +
          "row_number() OVER (PARTITION BY norm ORDER BY conv_id, turn_idx) AS rn FROM n) " +
          "SELECT conv_id, turn_idx, CAST(n_copies AS BIGINT) AS n_copies, " +
          "rn > 1 AS is_dup, n_copies > 100 AS is_boilerplate " +
          "FROM r ORDER BY conv_id, turn_idx"),

      // bisection replay: the k-th order statistic by row_number — the
      // bisection's smallest-v-with-count(<=v)>=k IS that value; same
      // floor(q·(n−1))+1 double arithmetic for the ranks
      "quantiles_bisect" ->
        ("""WITH t AS (SELECT CAST(n_chars AS BIGINT) AS v FROM documents WHERE n_chars IS NOT NULL),
          |c AS (SELECT CAST(count(*) AS BIGINT) AS n FROM t),
          |k AS (SELECT n,
          |    CAST(floor(0.5 * (n - 1)) AS BIGINT) + 1 AS k50,
          |    CAST(floor(0.9 * (n - 1)) AS BIGINT) + 1 AS k90,
          |    CAST(floor(0.95 * (n - 1)) AS BIGINT) + 1 AS k95,
          |    CAST(floor(0.99 * (n - 1)) AS BIGINT) + 1 AS k99
          |  FROM c),
          |r AS (SELECT v, row_number() OVER (ORDER BY v) AS rn FROM t)
          |SELECT k.n,
          |  max(CASE WHEN rn = k50 THEN v END) AS p50,
          |  max(CASE WHEN rn = k90 THEN v END) AS p90,
          |  max(CASE WHEN rn = k95 THEN v END) AS p95,
          |  max(CASE WHEN rn = k99 THEN v END) AS p99
          |FROM r, k GROUP BY k.n""".stripMargin.replace("\n", " ")),

      // grouped bisection replay: per-group k-th order statistics by a
      // partitioned row_number
      "quantiles_by_source" ->
        ("""WITH t AS (SELECT source AS g, CAST(n_chars AS BIGINT) AS v FROM documents WHERE n_chars IS NOT NULL AND source IS NOT NULL),
          |c AS (SELECT g, CAST(count(*) AS BIGINT) AS n FROM t GROUP BY g),
          |k AS (SELECT g, n,
          |    CAST(floor(0.5 * (n - 1)) AS BIGINT) + 1 AS k50,
          |    CAST(floor(0.95 * (n - 1)) AS BIGINT) + 1 AS k95
          |  FROM c),
          |r AS (SELECT g, v, row_number() OVER (PARTITION BY g ORDER BY v) AS rn FROM t)
          |SELECT k.g AS source, k.n,
          |  max(CASE WHEN rn = k50 THEN v END) AS p50,
          |  max(CASE WHEN rn = k95 THEN v END) AS p95
          |FROM r JOIN k USING (g) GROUP BY k.g, k.n
          |ORDER BY source""".stripMargin.replace("\n", " ")),

      // conv_stats replay: same mod-keyed turn drop, same role/tool sums,
      // ts rebuilt with the generator's formula and spanned via epoch()
      "conv_stats" ->
        (cte + """, f AS (
          |  SELECT *, epoch(TIMESTAMP '2024-01-01 00:00:00'
          |    + to_seconds(CAST(conv_id AS BIGINT) % 86400 + turn_idx)) AS ep
          |  FROM turns
          |  WHERE (CAST(conv_id AS BIGINT) * 7 + turn_idx * 3) % 5 <> 0),
          |g AS (SELECT conv_id,
          |    CAST(count(*) AS BIGINT) AS n_turns,
          |    CAST(sum(CASE WHEN role = 'user' THEN 1 ELSE 0 END) AS BIGINT) AS n_user,
          |    CAST(sum(CASE WHEN role = 'assistant' THEN 1 ELSE 0 END) AS BIGINT) AS n_assistant,
          |    CAST(sum(CASE WHEN role = 'tool' THEN 1 ELSE 0 END) AS BIGINT) AS n_tool_role,
          |    CAST(sum(CASE WHEN tool IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_tool_calls,
          |    CAST(sum(length(text)) AS BIGINT) AS sum_chars,
          |    CAST(max(length(text)) AS INTEGER) AS max_chars,
          |    CAST(max(ep) - min(ep) AS BIGINT) AS span_secs
          |  FROM f GROUP BY conv_id)
          |SELECT conv_id, n_turns, n_user, n_assistant, n_tool_role, n_tool_calls,
          |  sum_chars, max_chars, span_secs,
          |  CAST(n_tool_calls AS DOUBLE) / CAST(n_turns AS DOUBLE) AS tool_call_rate,
          |  CAST(sum_chars AS DOUBLE) / CAST(n_turns AS DOUBLE) AS chars_per_turn
          |FROM g ORDER BY conv_id""".stripMargin.replace("\n", " ")),

      "sessionize" ->
        ("WITH g AS (SELECT user_id, ts, " +
          "lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts FROM events) " +
          "SELECT user_id, CAST(sum(CASE WHEN prev_ts IS NULL OR " +
          "epoch(ts) - epoch(prev_ts) > 1800 THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions, " +
          "count(*) AS n_events FROM g GROUP BY user_id ORDER BY user_id"),

      "props_json" ->
        // DuckDB sum(BIGINT) yields HUGEINT (int128); the driver's content
        // hash is type-sensitive, so cast back to BIGINT to match Spark's
        // long sum.
        ("SELECT event_type, CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k, " +
          "count(CASE WHEN json_extract_string(props, '$.k') IS NOT NULL THEN 1 END) AS with_k " +
          "FROM events GROUP BY event_type ORDER BY event_type"),

      "percentile_exact" ->
        ("WITH s AS (SELECT event_type, list_sort(list(value)) AS xs, count(*) AS n " +
          "FROM events GROUP BY event_type) " +
          "SELECT event_type, n, xs[1] AS min, xs[n] AS max, " +
          "CASE WHEN n % 2 = 1 THEN xs[CAST(floor(n/2) AS INTEGER) + 1] " +
          "ELSE (xs[CAST(floor(n/2) AS INTEGER)] + xs[CAST(floor(n/2) AS INTEGER) + 1]) / 2.0 END AS p50, " +
          "xs[CAST(floor(0.95 * (n - 1)) AS INTEGER) + 1] AS p95 " +
          "FROM s ORDER BY event_type")
      // Whitespace-class pin: the engine tokenizes with the Java `\s` class
      // [ \t\n\x0B\f\r] (Spark regexes are java.util.regex); DuckDB's RE2
      // excludes \x0B from `\s`, so every oracle's `\s+` is rewritten to the
      // EXPLICIT Java class — engine and oracle now agree on texts
      // containing vertical tabs instead of silently diverging.
    ).map { case (name, sql) =>
      name -> sql.replace("""\s+""", """[ \t\n\x0B\f\r]+""")
    } match {
      // the bloom path's contract is output-identity with the exact path,
      // so it is gated by the SAME oracle text
      case m => m + ("decontaminate_spans_bloom" -> m("decontaminate_spans"))
    }
  }
}
