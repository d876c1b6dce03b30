package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Web-page cleaning for training-corpus builds, the C4 battery (Raffel et
  * al. 2020, "Exploring the Limits of Transfer Learning with a Unified
  * Text-to-Text Transformer", JMLR §2.2; per-line rules as in the public
  * TensorFlow-datasets `c4_utils.py`):
  *
  *  - line level (each line space-trimmed first): keep a line iff it ends
  *    in a terminal punctuation mark (`.` `!` `?` `"`), has at least
  *    `minWordsPerLine` whitespace-separated words, does not mention
  *    "javascript", and carries none of the cookie/ToS boilerplate
  *    [[WebClean.policyPhrases]];
  *  - page level: drop the page when it contains "lorem ipsum" (case
  *    insensitive), a curly brace `{`, any caller-supplied bad word
  *    (word-boundary match), or when the RETAINED lines carry fewer than
  *    `minSentences` sentences (deterministic stand-in for the paper's
  *    nltk sentence splitter: one sentence per `.`/`!`/`?` occurrence).
  *
  * Scale shape: a pure per-row scan-stage projection over higher-order
  * functions — zero shuffle, zero explode, no driver state; at 100 TB this
  * runs entirely inside the parquet scan stage and column-prunes to
  * (id, text). All signals are integers or booleans, so the DuckDB oracle
  * replays the whole battery exactly (no float discipline needed at all).
  *
  * The 3-sentence-span corpus dedup that completes C4 §2.2 is
  * [[WebClean.sentenceSpanDedup]] below.
  */
object WebClean {

  /** Boilerplate substrings from `c4_utils.py`: a line containing any of
    * these (case-insensitive) is dropped. */
  val policyPhrases: Seq[String] = Seq(
    "terms of use", "privacy policy", "cookie policy",
    "uses cookies", "use of cookies", "use cookies")

  /** The per-line keep rule over an already-trimmed line. */
  private def lineKeep(l: Column, minWordsPerLine: Int): Column = {
    val low = lower(l)
    l.rlike("[.!?\"]$") &&
      size(split(l, "\\s+")) >= minWordsPerLine &&
      !low.contains("javascript") &&
      policyPhrases.map(p => !low.contains(p)).reduce(_ && _)
  }

  /** Adds the C4 signal columns: `n_lines`, `n_kept_lines`,
    * `cleaned_text` (retained trimmed lines re-joined with `\n`),
    * `n_sentences` (terminal-mark count over the retained text),
    * `has_lorem`, `has_brace`, `has_bad_word`. Keep decision =
    * [[c4Keep]] over these columns.
    *
    * `badWords` entries must be regex-safe plain words (they are joined
    * into one word-boundary alternation; `Pattern.quote`'s `\Q…\E` is not
    * RE2-portable, so quoting is the caller's contract).
    */
  def c4Signals(df: DataFrame, textCol: String = "text",
                minWordsPerLine: Int = 5,
                badWords: Seq[String] = Nil): DataFrame = {
    val rawLines = split(col(textCol), "\n")
    val kept = filter(transform(rawLines, l => trim(l)),
      l => lineKeep(l, minWordsPerLine))
    val low = lower(col(textCol))
    val bad: Column =
      if (badWords.isEmpty) lit(false)
      else low.rlike("\\b(" + badWords.mkString("|") + ")\\b")
    df.withColumn("n_lines", size(rawLines))
      .withColumn("n_kept_lines", size(kept))
      .withColumn("cleaned_text", array_join(kept, "\n"))
      .withColumn("n_sentences",
        size(regexp_extract_all(col("cleaned_text"), lit("[.!?]"), lit(0))))
      .withColumn("has_lorem", low.contains("lorem ipsum"))
      .withColumn("has_brace", col(textCol).contains("{"))
      .withColumn("has_bad_word", bad)
  }

  /** The C4 page-keep decision over [[c4Signals]] columns. */
  def c4Keep(minSentences: Int = 3): Column =
    col("n_sentences") >= minSentences &&
      !col("has_lorem") && !col("has_brace") && !col("has_bad_word")

  /** fastText-style hashed linear quality score (Joulin et al. 2016 "Bag
    * of Tricks for Efficient Text Classification"; hashing trick per
    * Weinberger et al. 2009) — the mechanism behind CCNet/LLaMA-style
    * "quality classifier" corpus gates. Each lowercased token hashes to a
    * bucket (first 24 bits of sha256, mod `buckets`); the bucket's weight
    * is a deterministic Knuth-multiplicative draw in [-1000, 1000] — the
    * stand-in for trained weights (no model artifacts exist in this
    * sandbox; swapping in a trained vector is a lookup-table change, the
    * dataflow is identical). Score = mean token weight; keep = score > 0.
    *
    * Adds `n_tokens` (int), `score_sum` (exact BIGINT), `score` (ONE
    * trailing IEEE division — bit-exact in the DuckDB oracle) and `keep`.
    *
    * Scale shape: scan-stage projection, zero shuffle (the sha256-per-token
    * fold is a higher-order aggregate; at 100 TB the cost is cpu-bound
    * inside the scan, ~n_tokens hash calls per row, no state).
    */
  def hashedLinearScore(df: DataFrame, textCol: String = "text",
                        buckets: Int = 1 << 20): DataFrame = {
    require(buckets > 0 && buckets <= (1 << 24),
      s"buckets must be in (0, 2^24] (24 hash bits are drawn), got $buckets")
    val toks = graft.functions.Tokens.words(col(textCol))
    def weight(t: Column): Column = {
      val bucket = pmod(
        conv(substring(sha2(t, 256), 1, 6), 16, 10).cast("long"),
        lit(buckets.toLong))
      (bucket * lit(2654435761L)) % lit(2001L) - lit(1000L)
    }
    df.withColumn("n_tokens", TextStats.tokenCount(col(textCol)))
      .withColumn("score_sum",
        when(col("n_tokens") === 0, lit(0L))
          .otherwise(aggregate(toks, lit(0L), (acc, t) => acc + weight(t))))
      .withColumn("score",
        when(col("n_tokens") === 0, lit(0.0))
          .otherwise(col("score_sum").cast("double") / col("n_tokens").cast("double")))
      .withColumn("keep", col("score") > 0.0)
  }

  /** C4 §2.2 corpus-level dedup: "discard all but one of any three-sentence
    * span occurring more than once in the data set." Sentences are the
    * deterministic `[^.!?]*[.!?]` maximal runs (trimmed); a span is three
    * consecutive sentences of one document; the FIRST occurrence corpus-wide
    * (smallest (doc_id, span start)) survives, every other occurrence has
    * its three sentences removed from its document. Returns one row per
    * input row: (idCol, n_sentences, n_cut_sentences, cleaned_text) where
    * `cleaned_text` re-joins surviving sentences with one space
    * (sentence-normalized output — the same token-normalized-output
    * contract as the decontamination scrub).
    *
    * Scale shape: explode to (id, sentence_idx) — narrow, ~sentences rows;
    * one partial-agg groupBy on the span digest to pick the min owner; one
    * join back on the digest to tag losers (the digest side is one row per
    * distinct span — unique build key, no row explosion); one anti-join on
    * (id, sentence_idx) to apply cuts. Three shuffles, all on
    * high-cardinality keys; no window over a corpus-wide key; a
    * boilerplate span repeated millions of times reduces to ONE row
    * map-side in the min-agg and its occurrences are tagged by the
    * unique-key join — the mega-class-safe shape.
    */
  def sentenceSpanDedup(df: DataFrame, idCol: String = "doc_id",
                        textCol: String = "text",
                        spanLen: Int = 3): DataFrame = {
    require(spanLen >= 1, s"spanLen must be >= 1, got $spanLen")
    val sentsArr = transform(
      regexp_extract_all(col(textCol), lit("[^.!?]+[.!?]"), lit(0)),
      s => trim(s))
    // (id, idx, sentence) — idx 0-based. r8: persisted — it feeds the span
    // build AND the survivor anti-join, and without the cache the
    // sentence-regex explode re-ran per consumer (release via
    // catalog.clearCache, the established persist contract)
    val sents = df.select(col(idCol), posexplode_outer(sentsArr).as(Seq("idx", "sent")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // spans: sentence idx i owns the span [i, i+spanLen); lead() builds the
    // span text inside the doc partition (doc-local window — bounded by the
    // doc's own sentence count, never a corpus-wide key)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(idCol).orderBy("idx")
    val withSpan = (1 until spanLen)
      .foldLeft(sents.withColumn("s0", col("sent"))) { (d, k) =>
        d.withColumn(s"s$k", lead("sent", k).over(w))
      }
    val spanText = concat_ws(" ", (0 until spanLen).map(k => col(s"s$k")): _*)
    // the narrow (id, idx, digest) frame feeds BOTH the owner aggregation
    // and the loser probe join — persist it so the sentence explode + lead
    // window run ONCE (the minhash "persisted narrow bands" contract;
    // Verify/Bench release via catalog.clearCache, a long-lived caller can
    // unpersist through the returned plan's InMemoryRelation)
    val spans = withSpan
      .where(col(s"s${spanLen - 1}").isNotNull)
      .select(col(idCol), col("idx"), sha2(spanText, 256).as("span_key"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // first occurrence corpus-wide: min (id, idx) per span; spans seen once
    // produce no loser rows after the join-back filter
    val owners = spans.groupBy("span_key")
      .agg(min(struct(col(idCol), col("idx"))).as("owner"),
        count(lit(1)).as("n_occ"))
      .where(col("n_occ") > 1)
    val losers = spans.join(owners, "span_key")
      .where(!(col(idCol) === col(s"owner.$idCol") && col("idx") === col("owner.idx")))
      .select(col(idCol), col("idx"))
    // cut set: sentence indices covered by any losing span (overlaps need
    // no merge — it is a set); degenerate docs with no sentences keep
    // idx null from posexplode_outer and are never cut
    val cuts = losers
      .select(col(idCol), explode(sequence(col("idx"), col("idx") + (spanLen - 1))).as("idx"))
      .distinct()
    val survivors = sents.where(col("idx").isNotNull)
      .join(cuts, Seq(idCol, "idx"), "left_anti")
    val rebuilt = survivors.groupBy(idCol)
      .agg(count(lit(1)).as("n_kept_sentences"),
        concat_ws(" ", array_sort(collect_list(struct(col("idx"), col("sent"))))
          .getField("sent")).as("cleaned_text"))
    df.select(col(idCol), sentsArr.as("__sents"))
      .select(col(idCol), size(col("__sents")).as("n_sentences"))
      .join(rebuilt, Seq(idCol), "left")
      .select(col(idCol), col("n_sentences"),
        (col("n_sentences") - coalesce(col("n_kept_sentences"), lit(0L)))
          .cast("int").as("n_cut_sentences"),
        coalesce(col("cleaned_text"), lit("")).as("cleaned_text"))
  }
}
