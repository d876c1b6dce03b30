package graft.ops

import graft.functions.Tokens
import graft.obs.JobLabel
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text analysis for training-data pipelines: language-ID, quality scoring,
  * token counting, document fingerprinting. Counts are integers wherever a
  * DuckDB oracle compares them (float division is done by the consumer).
  */
object TextStats {

  /** Small per-language stopword sets for the n-gram/stopword heuristic. */
  val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "it", "that", "for"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "un", "una", "los", "por"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "mit", "ein", "zu", "auf"),
    "fr" -> Seq("le", "la", "de", "et", "est", "un", "une", "les", "pour", "dans")
  )

  /** CJK codepoint share (U+4E00–9FFF — the reference's CJK test,
    * `training/placeholders.py:13-20`).
    */
  def cjkRatio(textCol: Column): Column = {
    val cjk = size(split(textCol, "[\\x{4e00}-\\x{9fff}]")) - 1
    when(length(textCol) === 0, lit(0.0))
      .otherwise(cjk.cast("double") / length(textCol).cast("double"))
  }

  /** Heuristic language id: zh when CJK-heavy, else argmax stopword hits. */
  def langId(textCol: Column): Column = {
    val toks = Tokens.words(textCol)
    val hits = stopwords.toSeq.sortBy(_._1).map { case (lang, words) =>
      // array(lit…) not typedLit: typedLit resolves its TypeTag through
      // runtime scala-reflect, which degrades to an unsupported plain
      // Literal under REPL/console classloaders (SQL-surface usability)
      val w = array(words.map(lit): _*)
      struct(size(filter(toks, t => array_contains(w, t))).as("hits"),
        lit(lang).as("lang"))
    }
    when(cjkRatio(textCol) > 0.2, lit("zh"))
      .otherwise(
        when(greatest(hits.map(_.getField("hits")): _*) === 0, lit("unknown"))
          .otherwise(array_max(array(hits: _*)).getField("lang")))
  }

  /** Whitespace token count. */
  def tokenCount(textCol: Column): Column =
    when(length(trim(textCol)) === 0, lit(0))
      .otherwise(size(split(trim(textCol), "\\s+")))

  /** BPE-ish subword-piece count: runs of letters, runs of digits, and
    * isolated punctuation — a deterministic proxy for tokenizer cost
    * (whitespace written as the explicit Java `\s` class so the RE2 oracle
    * regex is char-for-char identical; see GraftSchemas.wsTokenPattern).
    */
  def bpeishCount(textCol: Column): Column =
    size(regexp_extract_all(textCol,
      lit("\\p{L}+|\\p{N}+|[^ \\t\\n\\x0B\\f\\r\\p{L}\\p{N}]"), lit(0)))

  /** Quality facets (Gopher-flavored), integer numerators so oracles stay
    * float-free: (n_chars, n_tokens, n_stopwords, n_punct, n_distinct_tokens).
    */
  def qualityFacets(df: DataFrame, textCol: String = "text"): DataFrame = {
    val toks = Tokens.words(col(textCol))
    val sw = array(stopwords("en").map(lit): _*) // reflection-free (see langId)
    df.withColumn("n_chars", length(col(textCol)))
      .withColumn("n_tokens", tokenCount(col(textCol)))
      .withColumn("n_stopwords", size(filter(toks, t => array_contains(sw, t))))
      .withColumn("n_punct",
        size(regexp_extract_all(col(textCol), lit("[\\p{Punct}]"), lit(0))))
      .withColumn("n_distinct_tokens", size(array_distinct(toks)))
  }

  /** Composite quality score in [0,1]: length window, stopword presence,
    * lexical diversity, punctuation sanity.
    */
  def qualityScore(df: DataFrame, textCol: String = "text"): DataFrame =
    qualityFacets(df, textCol)
      .withColumn("quality_score",
        (when(col("n_chars").between(20, 100000), 0.25).otherwise(0.0)
          + when(col("n_stopwords") > 0, 0.25).otherwise(0.0)
          + when(col("n_tokens") > 0 &&
              col("n_distinct_tokens").cast("double") / col("n_tokens") > 0.3, 0.25)
            .otherwise(0.0)
          + when(col("n_chars") > 0 &&
              col("n_punct").cast("double") / col("n_chars") < 0.2, 0.25)
            .otherwise(0.0)))

  /** Gopher-style hard-filter signals (Rae et al. 2021, §A1.1) — the
    * standard pretraining corpus filter, as per-doc integer numerators plus
    * the two derived double ratios both engines compute with one IEEE
    * division (exactly oracle-replayable; no transcendentals):
    *
    *  - `n_tokens`, `n_word_chars` (non-whitespace chars — so
    *    `mean_word_len = n_word_chars / n_tokens` without any per-token
    *    pass), `mean_word_len`
    *  - `n_symbols` (`#`/`…` — Gopher's symbol-to-word signal)
    *  - `n_lines`, `n_bullet_lines` (lines starting `-`/`*`/`•`),
    *    `n_ellipsis_lines` (lines ending `...`/`…`)
    *  - `n_alpha_tokens` (tokens containing at least one letter)
    *  - `n_stopwords` (the en stopword set — Gopher keeps docs with ≥ 2
    *    hits)
    *
    * Pure per-row projection — no shuffle; runs inside the scan stage at
    * any corpus size.
    */
  def gopherSignals(df: DataFrame, textCol: String = "text"): DataFrame = {
    val toks = Tokens.words(col(textCol))
    val sw = array(stopwords("en").map(lit): _*)
    val lines = split(col(textCol), "\n")
    df.withColumn("n_tokens", tokenCount(col(textCol)))
      .withColumn("n_word_chars",
        length(regexp_replace(col(textCol), "\\s+", "")))
      .withColumn("mean_word_len",
        when(col("n_tokens") === 0, lit(0.0))
          .otherwise(col("n_word_chars").cast("double") / col("n_tokens").cast("double")))
      .withColumn("n_symbols",
        // Gopher §A1.1 counts '#', '…' AND the ASCII three-dot ellipsis as
        // symbols; non-overlapping left-to-right matching ("....":1,
        // "......":2) agrees between Spark and the DuckDB oracle
        size(regexp_extract_all(col(textCol), lit("(\\.\\.\\.|[#…])"), lit(0))))
      .withColumn("n_lines", size(lines))
      .withColumn("n_bullet_lines",
        size(filter(lines, l => l.rlike("^[ \\t]*[-*•]"))))
      .withColumn("n_ellipsis_lines",
        size(filter(lines, l => l.rlike("(\\.\\.\\.|…)$"))))
      .withColumn("n_alpha_tokens",
        size(filter(toks, t => t.rlike("\\p{L}"))))
      .withColumn("n_stopwords",
        size(filter(toks, t => array_contains(sw, t))))
  }

  /** The Gopher keep decision over [[gopherSignals]] columns: token-count
    * window, mean-word-length window [3, 10], symbol ratio ≤ 0.1, bullet
    * lines ≤ 90%, ellipsis lines ≤ 30%, ≥ 80% alphabetic tokens, ≥ 2
    * stopword hits. Ratio comparisons are one IEEE division each (exact in
    * the DuckDB oracle).
    */
  def gopherKeep(minTokens: Int = 50, maxTokens: Int = 100000): Column =
    col("n_tokens").between(minTokens, maxTokens) &&
      col("mean_word_len").between(3.0, 10.0) &&
      (col("n_symbols").cast("double") / col("n_tokens").cast("double") <= 0.1) &&
      (col("n_bullet_lines").cast("double") / col("n_lines").cast("double") <= 0.9) &&
      (col("n_ellipsis_lines").cast("double") / col("n_lines").cast("double") <= 0.3) &&
      (col("n_alpha_tokens").cast("double") / col("n_tokens").cast("double") >= 0.8) &&
      col("n_stopwords") >= 2

  /** Per-doc top-k DISTINCTIVE terms by tf·idf with the division idf
    * `N / df` (no logarithm: one IEEE multiply + divide is bit-identical
    * in the DuckDB oracle, where `ln` need not be) — the
    * keyword-extraction / topic-fingerprint pass of a corpus pipeline.
    *
    * Scale shape: the [[Retrieval.postings]] tf rows (one doc-keyed
    * exchange of the narrow (id, text) rows) → partial-agg groupBy term
    * for df (hot stopword terms are absorbed map-side by the partial
    * aggregation) → join tf⋈df on term — the df side has ONE row per term
    * (unique build key), so a hot term means many probe rows but no row
    * explosion; broadcast the df frame when the vocabulary fits, else AQE
    * handles the shuffle join — → the top-k window on the doc id.
    * `nDocs` comes from the caller (parquet footer count — no extra scan
    * job).
    *
    * Ties rank by term ascending, so the output is fully deterministic.
    */
  def tfIdfTopTerms(
      docs: DataFrame,
      nDocs: Long,
      idCol: String = "doc_id",
      textCol: String = "text",
      k: Int = 3
  ): DataFrame = {
    val tf = Retrieval.postings(docs, idCol, textCol)
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val scored = tf.join(dfreq, "term")
      .withColumn("score",
        col("tf").cast("double") * lit(nDocs.toDouble) / col("df").cast("double"))
    scored
      .withColumn("rank", row_number().over(
        Window.partitionBy("doc_id").orderBy(col("score").desc, col("term").asc)))
      .where(col("rank") <= k)
      .select(col("doc_id").as(idCol), col("rank"), col("term"), col("tf"), col("df"), col("score"))
  }

  /** Gopher repetition signals (Rae et al. 2021 §A1.1 — the repetition
    * half of the Gopher filter, complementing [[gopherSignals]]'
    * quality half): per document,
    *
    *  - `n_lines` / `n_dup_lines` (occurrences beyond each line's first —
    *    `size(lines) − size(array_distinct(lines))`) and
    *    `dup_line_frac` (Gopher drops > 0.30),
    *  - `top_bigram` / `top_bigram_cnt` / `n_bigrams` and
    *    `top_bigram_frac`, the most frequent word 2-gram's share (Gopher
    *    drops > 0.18); ties pick the lexicographically smallest bigram so
    *    the output is fully deterministic.
    *
    * Integer numerators + one IEEE division per ratio — a SQL oracle
    * replays every comparison exactly. Token-less and single-token docs
    * survive with `n_bigrams = 0` and null bigram share; NULL text yields
    * null line signals and a null keep decision (three-valued AND — the
    * consumer's `where(keep)` then drops the row, same as SQL).
    *
    * Scale shape: the line signals are a pure per-row projection; the
    * bigram counts explode to (doc, pos, term) rows, form the 2-gram with
    * a `lead` window inside the doc partition (documents bound the
    * partition — no global sort), then two partial-agg shuffles
    * (doc × bigram, then doc). Everything linear in corpus tokens; a hot
    * boilerplate bigram lives inside its doc's partition, so there is no
    * corpus-wide hot key at all.
    */
  def repetitionSignals(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text"
  ): DataFrame = {
    val lines = split(col(textCol), "\n")
    val lineSig = docs.select(
      col(idCol),
      size(lines).as("n_lines"),
      (size(lines) - size(array_distinct(lines))).as("n_dup_lines"))
    // Tokens.words keeps its edge "" tokens (the pinned ShinglesExpr
    // semantics) — both engines see the identical token sequence, so no
    // filter step that would re-index adjacency. Adjacent pairs come from a
    // scan-stage zip_with over the token array (the Dsir.featureArray
    // shape): the trailing (last, null) pair nulls out and is filtered, and
    // no doc-keyed exchange + sort precedes the bigram aggregation
    val arr = Tokens.words(col(textCol))
    val bigArr = filter(
      zip_with(arr, slice(arr, lit(2), greatest(size(arr) - 1, lit(0))),
        (a, b) => when(a =!= "" && b =!= "", concat(a, lit(" "), b))),
      g => g.isNotNull)
    val bigrams = docs
      .select(col(idCol), explode(bigArr).as("bigram"))
      .groupBy(col(idCol), col("bigram")).agg(count(lit(1)).as("cnt"))
      .groupBy(col(idCol))
      // min over (−cnt, bigram): max count, ties → smallest bigram
      .agg(min(struct((-col("cnt")).as("ncnt"), col("bigram"))).as("top"),
        sum("cnt").as("n_bigrams"))
      .select(col(idCol),
        col("top.bigram").as("top_bigram"),
        (-col("top.ncnt")).as("top_bigram_cnt"),
        col("n_bigrams"))
    lineSig.join(bigrams, Seq(idCol), "left")
      .select(col(idCol), col("n_lines"), col("n_dup_lines"),
        (col("n_dup_lines").cast("double") / col("n_lines").cast("double"))
          .as("dup_line_frac"),
        col("top_bigram"), col("top_bigram_cnt"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        (col("top_bigram_cnt").cast("double") / col("n_bigrams").cast("double"))
          .as("top_bigram_frac"))
  }

  /** The Gopher repetition keep decision over [[repetitionSignals]]
    * columns (null bigram share — 0- or 1-token docs — passes the bigram
    * test vacuously, mirroring the quality filter's window-first ordering).
    */
  def repetitionKeep(maxDupLineFrac: Double = 0.30,
      maxTopBigramFrac: Double = 0.18): Column =
    (col("dup_line_frac") <= maxDupLineFrac) &&
      coalesce(col("top_bigram_frac") <= maxTopBigramFrac, lit(true))

  /** The FULL Gopher repetition battery (Rae et al. 2021 §A1.1 — the cited
    * contract [[repetitionSignals]] implements a subset of): per document,
    *
    *  - duplicate line / paragraph FRACTIONS (units beyond the first
    *    occurrence over total units; paragraphs split on `\n\n`) and
    *    duplicate line / paragraph CHARACTER fractions (character mass of
    *    the beyond-first occurrences over total unit character mass —
    *    `Σ_dup (cnt−1)·len(unit) / Σ cnt·len(unit)`, newlines excluded);
    *  - top {2,3,4}-gram character shares: occurrences of the most
    *    frequent n-gram times its character length (tokens plus the n−1
    *    joining single spaces) over the single-space-normalized text
    *    length `tok_chars + n_tokens − 1` (ties break to the
    *    lexicographically smallest n-gram, so the share is deterministic);
    *  - duplicate {5..10}-gram character fractions: the character mass of
    *    token POSITIONS covered by at least one n-gram occurring more than
    *    once in the document — positions are marked and deduplicated
    *    before summing, so overlapping duplicate n-grams never double
    *    count (the paper's "taking care not to count characters twice") —
    *    over total token character mass.
    *
    * Tokenization is [[graft.functions.Tokens.words]]; windows
    * containing an empty token (edge-whitespace artifact) are skipped, the
    * [[repetitionSignals]] bigram discipline. Every numerator and
    * denominator is an exact integer aggregate; each emitted fraction is
    * ONE trailing IEEE division, so a DuckDB oracle replays all 13 signals
    * bit-for-bit. Degenerate docs (no units / no windows at a given n)
    * emit null fractions, which [[repetitionKeepFull]] passes vacuously.
    *
    * Scale shape: everything is keyed by (doc, …) — unit and n-gram
    * classes live inside their document, so there is no corpus-wide hot
    * key anywhere; the n-gram pass explodes tokens ×9 (n = 2..10 windows,
    * built from one lead-window scan inside the doc partition) and the
    * duplicate-mark pass joins counts back on the doc-local window text
    * (groupBy + join-back, not a global window). Linear in corpus tokens
    * with a ×9 constant — the price of the full battery; run it after the
    * cheap hard filters have already dropped the obvious junk.
    */
  def repetitionSignalsFull(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text"
  ): DataFrame = {
    // r8 shape change (guide §2.4 — remove shuffles outright): the
    // line/paragraph/token scalars are computed from the doc's own
    // unit/token ARRAYS in one scan-stage projection — the previous form
    // exploded units and tokens into three separate groupBy chains for
    // per-doc-local arithmetic the arrays express directly. The n-gram
    // half keeps the codegen'd lead-window build (HOF/arrays_zip
    // formulations measured 2–9× slower) but persists it so the
    // exchange+sort+window chain runs once instead of once per consumer.

    // per-unit (line / paragraph) duplication, per doc in one projection:
    //   Σ(cnt−1)         = size − size(distinct)
    //   Σ(cnt−1)·len(u)  = Σ len over all units − Σ len over distinct units
    // (identical integer masses to the old per-(doc, unit) count rollup)
    def charSum(a: Column): Column =
      aggregate(a, lit(0L), (acc, u) => acc + length(u).cast("long"))
    def unitCols(sep: String, prefix: String): Seq[Column] = {
      val units = split(col(textCol), sep)
      Seq(size(units).cast("long").as(s"n_${prefix}s"),
        (size(units) - size(array_distinct(units))).cast("long")
          .as(s"n_dup_${prefix}s"),
        (charSum(units) - charSum(array_distinct(units)))
          .as(s"dup_${prefix}_chars"),
        charSum(units).as(s"${prefix}_chars"))
    }

    // Tokens.words keeps its edge "" tokens; windows containing an empty
    // token are skipped below
    val arr = Tokens.words(col(textCol))
    val scalars = docs.select(
      col(idCol) +: (unitCols("\n", "line") ++ unitCols("\n\n", "para") ++ Seq(
        size(arr).cast("long").as("n_tokens"),
        charSum(arr).as("tok_chars"))): _*)

    // one lead-window scan builds every 2..10-gram start (doc partition
    // bounds the window; no global sort), then ONE explode per consumer
    // emits the window sizes. r8: the lead frame is PERSISTED — it feeds
    // three consumers (text grams, hash grams, and the hash grams' count
    // join-back), and without the cache the exchange + sort + window chain
    // re-executed once per consumer (guide §5 — reuse beats recompute when
    // the subtree is an exchange+sort). Callers release via
    // catalog.clearCache (the sentenceSpanDedup persist contract).
    val toks = docs.select(col(idCol), posexplode(arr))
      .toDF(idCol, "pos", "term")
    val w = Window.partitionBy(col(idCol)).orderBy(col("pos"))
    val leadsWide = toks.select(
      col(idCol) +: col("pos") +: col("term").as("t0") +:
        (1 to 9).map(i => lead(col("term"), i).over(w).as(s"t$i")): _*)
    def gramParts(n: Int) = (0 until n).map(i => col(s"t$i"))
    def gramValid(n: Int) =
      gramParts(n).map(p => p.isNotNull && p =!= "").reduce(_ && _)
    // the persisted frame carries only what the consumers read: the four
    // lead TOKENS the 2..4-gram text build needs, and the 5..10-gram
    // xxhash64 keys PRE-HASHED in the window stage (null ⟺ the window was
    // invalid — same field-wise hash values, but the cache holds 6 longs
    // instead of 6 strings and the hash work rides the one window pass)
    val leads = leadsWide.select(
      Seq(col(idCol), col("pos"), col("t0"), col("t1"), col("t2"), col("t3")) ++
        (5 to 10).map(n =>
          when(gramValid(n), xxhash64(gramParts(n): _*)).as(s"h$n")): _*)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    // n = 2..4 carry the gram TEXT — the top-share needs its length and
    // the deterministic smallest-text tie-break
    val textStructs = (2 to 4).map { n =>
      when(gramValid(n),
        struct(lit(n).as("n"), concat_ws(" ", gramParts(n): _*).as("gram")))
    }
    val grams24 = leads
      .select(col(idCol), explode_outer(array(textStructs: _*)).as("g"))
      .where(col("g").isNotNull)
      .select(col(idCol), col("g.n").as("n"), col("g.gram").as("gram"))

    // n = 5..10 only ever test EQUALITY (count > 1, join back), so the
    // gram key is xxhash64 over the n lead columns — field-wise, so there
    // is no separator ambiguity and no per-row string building. Within-doc
    // same-n collision odds are (grams/doc)²/2⁶⁴ — negligible, and the
    // DuckDB oracle replays by TEXT, so a collision would fail the oracle
    // loudly rather than pass silently.
    val hashStructs = (5 to 10).map { n =>
      when(col(s"h$n").isNotNull,
        struct(lit(n).as("n"), col(s"h$n").as("ghash")))
    }
    val grams510 = leads
      .select(col(idCol), col("pos"),
        explode_outer(array(hashStructs: _*)).as("g"))
      .where(col("g").isNotNull)
      .select(col(idCol), col("pos"), col("g.n").as("n"), col("g.ghash").as("ghash"))

    // top-{2,3,4}-gram: (occurrences × chars) of the deterministic top gram
    val topShares = grams24.groupBy(col(idCol), col("n"), col("gram"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col(idCol), col("n"))
      .agg(min(struct((-col("cnt")).as("ncnt"), col("gram"))).as("top"))
      .select(col(idCol), col("n"),
        ((-col("top.ncnt")) * length(col("top.gram"))).as("top_mass"))
      .groupBy(col(idCol)).agg(
        sum(when(col("n") === 2, col("top_mass"))).as("top_2gram_chars"),
        sum(when(col("n") === 3, col("top_mass"))).as("top_3gram_chars"),
        sum(when(col("n") === 4, col("top_mass"))).as("top_4gram_chars"))

    // duplicate-{5..10}-gram masses: r8 marks duplicated starts with ONE
    // count window over the doc-local (id, n, ghash) key instead of the
    // groupBy + join-back — one shuffle of the gram frame rather than two,
    // and the gram explode runs once. The key is doc-local (occurrences of
    // one n-gram inside one document), so group sizes are bounded by the
    // doc itself — the corpus-hot-key objection to windows does not apply.
    // Covered positions still deduplicate before the char sum.
    val wDup = Window.partitionBy(col(idCol), col("n"), col("ghash"))
    val dupMarks = grams510
      .withColumn("cnt", count(lit(1)).over(wDup))
      .where(col("cnt") > 1)
      .select(col(idCol), col("n"),
        explode(sequence(col("pos"), col("pos") + col("n") - 1)).as("j"))
      .distinct()
    val dupMassCols = (5 to 10).map(n =>
      sum(when(col("n") === n, col("tlen"))).as(s"dup_${n}gram_chars"))
    val dupMass = dupMarks
      .join(toks.select(col(idCol), col("pos").as("j"), length(col("term")).as("tlen")),
        Seq(idCol, "j"))
      .groupBy(col(idCol)).agg(dupMassCols.head, dupMassCols.tail: _*)

    def frac(num: Column, den: Column): Column =
      when(den > 0, num.cast("double") / den.cast("double"))

    val normChars = col("tok_chars") + col("n_tokens") - 1
    // the unit/token scalars ride the scan-stage projection — only the two
    // gram aggregates join back (was a 5-frame join of 5 shuffle chains)
    scalars
      .join(topShares, Seq(idCol), "left")
      .join(dupMass, Seq(idCol), "left")
      .select(
        Seq(col(idCol),
          col("n_lines"), col("n_dup_lines"),
          frac(col("n_dup_lines"), col("n_lines")).as("dup_line_frac"),
          frac(col("dup_line_chars"), col("line_chars")).as("dup_line_char_frac"),
          col("n_paras"), col("n_dup_paras"),
          frac(col("n_dup_paras"), col("n_paras")).as("dup_para_frac"),
          frac(col("dup_para_chars"), col("para_chars")).as("dup_para_char_frac"),
          frac(col("top_2gram_chars"), normChars).as("top_2gram_char_frac"),
          frac(col("top_3gram_chars"), normChars).as("top_3gram_char_frac"),
          frac(col("top_4gram_chars"), normChars).as("top_4gram_char_frac")) ++
        (5 to 10).map(n =>
          frac(col(s"dup_${n}gram_chars"), col("tok_chars"))
            .as(s"dup_${n}gram_char_frac")): _*)
  }

  /** The Gopher §A1.1 repetition keep decision over
    * [[repetitionSignalsFull]] — the paper's thresholds verbatim: dup
    * line/para fraction ≤ 0.30/0.30, dup line/para char fraction
    * ≤ 0.20/0.20, top {2,3,4}-gram char share ≤ {0.20, 0.18, 0.16}, dup
    * {5,6,7,8,9,10}-gram char fraction ≤ {0.15, 0.14, 0.13, 0.12, 0.11,
    * 0.10}. Null signals (degenerate docs) pass their clause vacuously.
    */
  def repetitionKeepFull(): Column = {
    // literal thresholds, not arithmetic: 0.15 − 0.05 is 0.09999…98 in
    // binary doubles and a frac of exactly 0.10 must still pass
    val clauses =
      Seq(("dup_line_frac", 0.30), ("dup_para_frac", 0.30),
        ("dup_line_char_frac", 0.20), ("dup_para_char_frac", 0.20),
        ("top_2gram_char_frac", 0.20), ("top_3gram_char_frac", 0.18),
        ("top_4gram_char_frac", 0.16),
        ("dup_5gram_char_frac", 0.15), ("dup_6gram_char_frac", 0.14),
        ("dup_7gram_char_frac", 0.13), ("dup_8gram_char_frac", 0.12),
        ("dup_9gram_char_frac", 0.11), ("dup_10gram_char_frac", 0.10))
    clauses.map { case (c, t) => coalesce(col(c) <= t, lit(true)) }
      .reduce(_ && _)
  }

  /** CCNet-style language-model quality scoring, model-free analogue
    * (Wenzek et al. 2020 rank documents by a KenLM 5-gram perplexity and
    * split the corpus into head/middle/tail thirds; a real LM is an
    * environment hole here — no KenLM/ONNX runtime in the sandbox — so the
    * score column is the corpus-trained UNIGRAM frequency analogue:
    * documents made of common tokens score high / fluent-ish, documents of
    * rare tokens score low, the same selection SHAPE with the LM swapped
    * behind this one column).
    *
    * Emits, per input document: `n_tokens`, `sum_cnt` (sum over the doc's
    * token occurrences of each token's corpus-wide occurrence count) and
    * `mean_cnt = sum_cnt / n_tokens` — ONE IEEE division on integer
    * operands, so a SQL oracle replays it bit-for-bit (a true mean log
    * probability would need `ln` and an order-sensitive float sum, neither
    * of which is bit-stable across engines). Token-less documents
    * (empty/null text) survive with `n_tokens = 0` and null score.
    *
    * Scale shape: the corpus tokens are exploded TWICE — once under the
    * count build's partial aggregation, once as the join probe (plan-
    * checked: the two exchanges sit on different subtrees, so ReuseExchange
    * cannot dedupe them; at 100 TB recomputing the explode beats persisting
    * a corpus-sized token frame). Both passes are linear; the count frame
    * has one row per distinct term (hot stopword terms absorbed map-side by
    * partial agg; unique build key ⇒ no join explosion — Catalyst
    * broadcasts it when the vocabulary is small, else both sides hash-
    * partition on `term`), then one per-doc shuffle for the final
    * aggregation.
    */
  def unigramFreqScore(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text"
  ): DataFrame = {
    val toks = docs.select(col(idCol), explode(Tokens.terms(col(textCol))).as("term"))
    val cnt = toks.groupBy("term").agg(count(lit(1)).as("cnt"))
    val scored = toks.join(cnt, "term")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"), sum("cnt").as("sum_cnt"))
    docs.select(col(idCol))
      .join(scored, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        col("sum_cnt"),
        (col("sum_cnt").cast("double") / col("n_tokens").cast("double"))
          .as("mean_cnt"))
  }

  /** The CCNet head/middle/tail bucket decision over [[unigramFreqScore]]'s
    * `mean_cnt`: high mean corpus frequency ≈ low perplexity ≈ `head`
    * (fluent, over-represented), low ≈ `tail`. Thresholds are
    * caller-supplied constants — at 100 TB you take them from an exact
    * percentile over a driver-bounded SAMPLE of scores (the sampled-IVF
    * idiom) or a prior corpus study; a global `ntile` window would funnel
    * the whole corpus through one task. Token-less docs (null score) rank
    * `tail`.
    */
  def freqBucket(meanCnt: Column, headMin: Double, tailMax: Double): Column = {
    require(headMin > tailMax, s"headMin $headMin must exceed tailMax $tailMax")
    when(meanCnt.isNull, lit("tail"))
      .when(meanCnt >= headMin, lit("head"))
      .when(meanCnt <= tailMax, lit("tail"))
      .otherwise(lit("middle"))
  }

  /** 64-bit polynomial rolling fingerprint of the whitespace-normalized
    * text — built from xxhash64 over 8-token windows folded together, so it
    * is stable under leading/trailing whitespace but sensitive to content.
    */
  def fingerprint64(textCol: Column): Column =
    xxhash64(regexp_replace(trim(textCol), "\\s+", " "))

  /** AGGREGATE set fingerprint: `bit_xor(xxhash64(parts…))` over a group —
    * equal SETS of part-tuples give equal fingerprints. The part tuples
    * must be DISTINCT within a group (xor cancels duplicate pairs); an
    * ordinal column among the parts (e.g. `(turn_idx, text)`) guarantees
    * that AND makes the set determine the ordered document. This is the
    * mega-conversation-safe dedup key: a pure aggregation with O(1) state
    * per group — no `collect_list`/string roll-up whose per-group memory
    * grows with conversation length, and no ANSI sum-overflow (xor
    * wraps by construction). Xor'd 64-bit hashes can collide adversarially
    * — exact pipelines verify fingerprint-equal groups (cheap: candidates
    * ≪ corpus), the same verify-the-candidates shape as
    * [[graft.ops.Dedup.simhashExactDups]] — or key on
    * [[multisetFingerprint128]], whose second independent lane drops the
    * collision odds to 2⁻¹²⁸ (OpsSpec constructs a real 64-bit xor
    * collision via GF(2) elimination and shows the second lane split it).
    */
  def multisetFingerprint(parts: Column*): Column =
    bit_xor(xxhash64(parts: _*))

  /** Seed tag for [[multisetFingerprint128]]'s second lane (and the
    * streaming twin's incremental fold, which must reproduce
    * `xxhash64(h, MultisetFp128Tag)` bit-for-bit via the XXH64 long-fold).
    */
  val MultisetFp128Tag: Long = 0x9E3779B97F4A7C15L

  /** 128-bit aggregate multiset fingerprint: two INDEPENDENT 64-bit xor
    * lanes — `fp_lo = bit_xor(h)` and `fp_hi = bit_xor(xxhash64(h, tag))`
    * over the same per-tuple hash `h = xxhash64(parts…)`. The remix
    * through a second xxhash64 makes the lanes behave as independent
    * hashes, so a structured xor collision in one lane (four distinct
    * tuples with h1^h2 = h3^h4 — the documented 64-bit caveat) passes the
    * other lane only at 2⁻⁶⁴ odds: the combined key collides at ~2⁻¹²⁸.
    * Same O(1) group state and distinct-tuples contract as
    * [[multisetFingerprint]]; returns a (fp_lo, fp_hi) struct usable
    * directly as a grouping / join key.
    */
  def multisetFingerprint128(parts: Column*): Column = {
    val h = xxhash64(parts: _*)
    struct(bit_xor(h).as("fp_lo"),
      bit_xor(xxhash64(h, lit(MultisetFp128Tag))).as("fp_hi"))
  }

  /** Deterministic greedy sequence packing — the pretraining batch-prep
    * step that concatenates documents into fixed token-budget context
    * windows ("packs"). Documents are bucketed by `id % buckets` (each
    * bucket packs independently; `buckets <= 0` — the default — derives
    * cores×4 from the cluster so the stage is never parallelism-capped by
    * a constant) and packed FIRST-FIT IN id ORDER within the bucket: a
    * document that would overflow `maxTokens` starts the next pack, and an
    * oversize document (> maxTokens alone) gets a pack of its own.
    *
    * Scale shape: one shuffle keyed on the bucket, then the greedy scan
    * streams each sorted partition with O(1) state (no per-group
    * collection). Fully deterministic — (bucket, pack) is reproducible
    * from the input alone, so the assignment is SQL-checkable (the driver
    * oracle replays the same greedy fold as a recursive CTE).
    * Returns (idCol, n_tokens, bucket, pack).
    */
  def packSequences(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      maxTokens: Int = 256,
      buckets: Int = 0
  ): DataFrame =
    packSequencesByCost(docs, tokenCount(col(textCol)), idCol, maxTokens, buckets)

  /** [[packSequences]] with a caller-supplied token-cost column — the hook
    * for REAL tokenizer costs (e.g. [[BpeTokenizer]] counts or the
    * regex-only [[bpeishCount]] proxy) instead of the whitespace count: a
    * pretraining pipeline budgets context windows in model tokens, and a
    * whitespace proxy under-counts CJK/code by multiples.
    *
    * Contract (fail-fast, not null-propagating): `idCol` must be numeric
    * and non-null (it is RETYPED TO LONG in the output — the bucket key is
    * `id % buckets`), and `costCol` must evaluate non-null on every row.
    * Unlike the expression-level ops (which propagate null per row), a
    * null here would silently mis-bucket or NPE inside the typed fold, so
    * the scan raises a descriptive error instead.
    *
    * `buckets <= 0` derives the bucket count as `defaultParallelism × 4`
    * (the standard over-decomposition so the greedy scan keeps every core
    * busy; an explicit value pins the — bucket-count-DEPENDENT — packing
    * layout for reproducibility across differently-sized clusters).
    */
  def packSequencesByCost(
      docs: DataFrame,
      costCol: Column,
      idCol: String = "doc_id",
      maxTokens: Int = 256,
      buckets: Int = 0
  ): DataFrame = {
    require(maxTokens > 0)
    val nb =
      if (buckets > 0) buckets
      else docs.sparkSession.sparkContext.defaultParallelism * 4
    // explicit encoders (no scala-reflect): the implicit product encoder
    // resolves through runtime reflection, which breaks in REPL/console
    // classloaders even though it works in a plain JVM
    import org.apache.spark.sql.Encoders
    val inEnc = Encoders.tuple(Encoders.scalaLong, Encoders.scalaInt, Encoders.scalaInt)
    val outEnc = Encoders.tuple(Encoders.scalaLong, Encoders.scalaInt,
      Encoders.scalaInt, Encoders.scalaInt)
    docs
      .select(col(idCol).cast("long").as("id"),
        costCol.cast("int").as("n_tokens"),
        pmod(col(idCol).cast("long"), lit(nb.toLong)).cast("int").as("bucket"))
      // fail-fast null guard: assert_true raises on violation and returns
      // null otherwise; keeping it inside a Filter (always-true predicate)
      // stops column pruning from dropping the check
      .filter(assert_true(
        col("id").isNotNull && col("n_tokens").isNotNull,
        lit(s"packSequences: null or non-numeric '$idCol' or null token " +
          "cost — the packing fold requires non-null numeric ids and " +
          "costs (see packSequencesByCost contract)")).isNull)
      .repartition(col("bucket"))
      .sortWithinPartitions("bucket", "id")
      .as(inEnc)
      .mapPartitions { it =>
        // several buckets can share a partition (hash placement); rows are
        // sorted (bucket, id), so a bucket change resets the greedy state
        var curBucket = -1
        var acc = 0L
        var pack = 0
        it.map { case (id, n, b) =>
          if (b != curBucket) { curBucket = b; acc = n.toLong; pack = 0 }
          else if (acc + n > maxTokens) { pack += 1; acc = n.toLong }
          else acc += n
          (id, n, b, pack)
        }
      }(outEnc)
      .toDF(idCol, "n_tokens", "bucket", "pack")
  }

  /** Fixed-size token chunking with stride overlap — the RAG/pretraining
    * document-splitting step (chunk i covers tokens
    * `[i·stride, i·stride + chunkTokens)`, truncated at the document end;
    * `stride < chunkTokens` ⇒ overlapping context windows). Pure
    * zero-shuffle scan-stage explode; token-index offsets are emitted so
    * spans can be traced back (the token-scrub contract). A document with
    * no tokens emits no chunks (`posexplode` of an empty repeat — the
    * `sequence()` auto-reverse hazard avoided).
    */
  def chunkDocs(
      df: DataFrame,
      chunkTokens: Int = 128,
      stride: Int = 96,
      idCol: String = "doc_id",
      textCol: String = "text"
  ): DataFrame = {
    require(chunkTokens >= 1 && stride >= 1 && stride <= chunkTokens,
      s"need 1 <= stride <= chunkTokens, got stride=$stride chunk=$chunkTokens")
    val toks = filter(split(trim(col(textCol)), "\\s+"), t => t =!= "")
    val nChunks = floor((size(col("toks")) + lit(stride - 1)) / lit(stride))
      .cast("int")
    df.select(col(idCol), toks.as("toks"))
      .select(col(idCol), col("toks"), size(col("toks")).as("n_tokens"),
        posexplode(array_repeat(lit(true), nChunks)).as(Seq("chunk_idx", "dummy")))
      .select(col(idCol), col("chunk_idx"),
        (col("chunk_idx") * stride).as("tok_start"),
        least(col("chunk_idx") * stride + chunkTokens, col("n_tokens"))
          .as("tok_end"),
        array_join(slice(col("toks"), col("chunk_idx") * stride + 1,
          lit(chunkTokens)), " ").as("chunk_text"))
      .withColumn("n_chunk_tokens", col("tok_end") - col("tok_start"))
  }

  /** EXACT top-k heavy hitters in two bounded-memory passes (Misra–Gries
    * 1982 candidates + exact verify) — the shape for token/URL/n-gram
    * universes too large to `groupBy` whole: a 100-TB corpus has billions
    * of distinct tokens, and shuffling all of them to count the top 20 is
    * the wrong plan.
    *
    *  - '''pass 1''': per-partition Misra–Gries summaries with `counters`
    *    counters (`mapPartitions` — genuinely imperative per-partition
    *    state, the documented last-resort case). Guarantee: an item absent
    *    from EVERY partition summary has global frequency ≤ N/(counters+1).
    *    The union of summaries (≤ counters × partitions narrow rows, never
    *    driver-collected) is the candidate set.
    *  - '''pass 2''': exact counts of candidates only — a broadcast
    *    semi-join at the scan, then a `groupBy` whose key universe is the
    *    bounded candidate set.
    *  - '''exactness guard''' (fail-loud, the hot-key-guard discipline):
    *    the result is PROVABLY the exact global top-k iff the k-th exact
    *    count is strictly > N/(counters+1) — any non-candidate is at most
    *    that. Otherwise this throws and names the fix (more counters)
    *    instead of silently returning a maybe-wrong ranking.
    *
    * Output: k rows (tok, cnt), ties broken (cnt desc, tok asc) — content
    * identical to the full-shuffle `GROUP BY` top-k, so the DuckDB oracle
    * is the plain exact query. The top-k rows come back via one bounded
    * driver collect (k rows) so the guard and the returned frame share a
    * single pass-2 execution.
    */
  def heavyHittersExact(
      tokens: DataFrame,
      tokenCol: String = "tok",
      k: Int = 20,
      counters: Int = 256
  ): DataFrame = {
    require(k >= 1 && counters >= 1, s"k=$k counters=$counters must be >= 1")
    import org.apache.spark.sql.Encoders
    val spark = tokens.sparkSession
    val toks = tokens.select(col(tokenCol).cast("string"))
      .where(col(tokenCol).isNotNull)
      .as(Encoders.STRING)
    // one MG sweep also tallies N per partition (emitted as a null-key
    // sentinel row), so pass 1 is a single scan
    val outEnc = Encoders.tuple(Encoders.STRING, Encoders.scalaLong)
    val summaries = toks.mapPartitions { it =>
      val cnt = new java.util.HashMap[String, Long](counters * 2)
      var n = 0L
      while (it.hasNext) {
        val t = it.next()
        n += 1
        val c = cnt.get(t)
        if (c != 0L) cnt.put(t, c + 1)
        else if (cnt.size < counters) cnt.put(t, 1L)
        else {
          // decrement-all; drop zeros (amortized O(1) per item)
          val e = cnt.entrySet().iterator()
          while (e.hasNext) {
            val kv = e.next()
            if (kv.getValue == 1L) e.remove() else kv.setValue(kv.getValue - 1)
          }
        }
      }
      val out = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
      out += ((null, n))
      val e = cnt.entrySet().iterator()
      while (e.hasNext) { val kv = e.next(); out += ((kv.getKey, kv.getValue)) }
      out.iterator
    }(outEnc).toDF("tok", "lb")
    summaries.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val n = JobLabel(spark, "heavyHittersExact: stream length")(summaries
        .where(col("tok").isNull).agg(coalesce(sum("lb"), lit(0L))).collect())(0).getLong(0)
      val cands = summaries.where(col("tok").isNotNull).select("tok").distinct()
      val topRows = JobLabel(spark, "heavyHittersExact: candidate counts")(
        tokens.select(col(tokenCol).cast("string").as("tok"))
          .join(broadcast(cands), "tok")
          .groupBy("tok").agg(count(lit(1)).as("cnt"))
          .orderBy(desc("cnt"), asc("tok"))
          .limit(k)
          .collect())
      val floor = n / (counters + 1L)
      // fewer than k candidates is only provably complete when floor == 0
      // (N <= counters: no partition could ever have pruned, so candidates
      // = the whole universe); with k candidates, the k-th must strictly
      // beat the pruned-token ceiling
      require(
        if (topRows.length < k) floor == 0L
        else topRows.last.getLong(1) > floor,
        s"top-$k not provable with $counters counters: " +
          (if (topRows.length < k)
            s"only ${topRows.length} candidates but pruning was possible (N=$n)"
          else s"k-th exact count ${topRows.last.getLong(1)} <= " +
            s"N/(counters+1) = $floor (a pruned token could tie or beat it)") +
          " - raise counters and rerun")
      spark.createDataFrame(
        spark.sparkContext.parallelize(topRows.toIndexedSeq, 1),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("tok",
            org.apache.spark.sql.types.StringType, nullable = false),
          org.apache.spark.sql.types.StructField("cnt",
            org.apache.spark.sql.types.LongType, nullable = false))))
    } finally summaries.unpersist()
  }

  /** Incremental vocabulary novelty — the continuous-ingest twin of
    * `vocab_stats` (the [[graft.ops.Dedup.exactIncremental]] shape applied
    * to the type inventory): flag each DELTA word as new-vs-known against
    * the running vocabulary table WITHOUT rescanning history. The
    * new-type rate per snapshot is the Heaps-law health signal a corpus
    * build tracks (a rate spike = a new source/language/garbage regime;
    * collapse to 0 = the crawl has gone stale). Output (word, cnt,
    * is_new); append the `is_new` rows to the vocab table for the next
    * increment — the table stays bounded by Heaps' law while the corpus
    * grows linearly.
    *
    * Scale shape: one partial-agg shuffle over the DELTA's words + one
    * equi-join against the (narrow, Heaps-bounded) vocabulary — broadcast
    * it while it fits; hot words reduce map-side.
    */
  def vocabDelta(vocab: DataFrame, delta: DataFrame,
      textCol: String = "text"): DataFrame = {
    val counts = BpeTrain.wordCounts(delta, textCol)
    val known = vocab.select(col("word").as("known_word")).distinct()
    counts.join(known, col("word") === col("known_word"), "left")
      .select(col("word"), col("cnt"), col("known_word").isNull.as("is_new"))
  }
}
