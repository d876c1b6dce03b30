package graft.ops

import graft.obs.JobLabel
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** BPE tokenizer TRAINING at corpus scale (Sennrich, Haddow & Birch 2016,
  * "Neural Machine Translation of Rare Words with Subword Units", §3.2) —
  * the step [[BpeTokenizer]] (GPT-2 ENCODING with shipped merges) left
  * open. The standard industrial shape (subword-nmt / SentencePiece /
  * HF-tokenizers all train this way):
  *
  *  1. DISTRIBUTED: reduce the corpus to a word-frequency table — one
  *     partial-agg shuffle on the word key; Heaps' law bounds the distinct
  *     vocabulary far below the token count, and a hot word ("the", a
  *     billion occurrences) reduces to one row map-side.
  *  2. DRIVER-BOUNDED: learn merges over that table (each merge rewrites
  *     the symbolization of the words CONTAINING the merged pair — an
  *     inherently sequential loop whose state is the word table, not the
  *     corpus). Bounded by `maxWords` under the same driver-bounded-collect
  *     contract as [[Ivf.train]]'s k×dim centroids; exceeding it throws
  *     loudly naming the fix (raise the cap, or pre-prune the tail — rare
  *     words below a count floor cannot win a merge anyway).
  *
  * Symbol convention: a word's initial symbols are its characters plus a
  * terminal `</w>` marker (the paper's convention — merges never cross
  * word boundaries and word-final units stay distinct). Ties in pair
  * frequency break to the lexicographically smallest (left, right) pair so
  * training is DETERMINISTIC — re-runs and re-shards learn identical
  * merges (subword-nmt leaves ties to dict order; a distributed pipeline
  * cannot).
  *
  * The first loop step — weighted symbol-pair counts over the initial
  * symbolization — is also exposed as a DataFrame op ([[pairCounts]]):
  * fully SQL-replayable, it anchors the DuckDB oracle; the sequential loop
  * itself is spec-gated (hand-verified merges on the paper's own example).
  */
object BpeTrain {

  /** Corpus → (word, cnt): lowercased whitespace words, one partial-agg
    * shuffle. Null/empty texts contribute nothing. */
  def wordCounts(df: DataFrame, textCol: String = "text"): DataFrame =
    df.select(explode(graft.functions.Tokens.terms(col(textCol))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("cnt"))

  /** Initial symbolization of a word: characters + `</w>`. */
  private[ops] def symbols(word: String): Vector[String] =
    word.map(_.toString).toVector :+ "</w>"

  /** Weighted adjacent-symbol-pair counts of the INITIAL symbolization —
    * BPE training's first iteration, as a distributed op: explode each
    * word's (char, next-char-or-`</w>`) pairs weighted by the word count.
    * Output (left, right, pair_cnt). Input is the [[wordCounts]] table, so
    * the explode is over the bounded vocabulary, not the corpus.
    */
  def pairCounts(wordCounts: DataFrame): DataFrame = {
    // chars via sequence+substr (split(w, "") has engine-specific empty-edge
    // semantics; this form is position-explicit and SQL-replayable)
    val chars = transform(sequence(lit(1), length(col("word"))),
      i => col("word").substr(i, lit(1)))
    val syms = concat(chars, array(lit("</w>")))
    wordCounts
      .select(col("cnt"), explode(
        zip_with(syms, slice(syms, lit(2), greatest(size(syms) - 1, lit(0))),
          (a, b) => struct(a.as("left"), b.as("right")))).as("p"))
      .where(col("p.right").isNotNull)
      .groupBy(col("p.left").as("left"), col("p.right").as("right"))
      .agg(sum("cnt").as("pair_cnt"))
  }

  /** Sennrich merge loop over a collected word table: returns up to
    * `nMerges` (left, right) merges in learned order (stops early when no
    * pair occurs twice — the paper's stopping criterion keeps singleton
    * pairs out of the merge table).
    */
  def learnMerges(
      wordCounts: Seq[(String, Long)],
      nMerges: Int): Seq[(String, String)] = {
    require(nMerges >= 0, s"nMerges must be >= 0, got $nMerges")
    var words: Vector[(Vector[String], Long)] =
      wordCounts.map { case (w, c) => (symbols(w), c) }.toVector
    val merges = Vector.newBuilder[(String, String)]
    var step = 0
    var done = false
    while (step < nMerges && !done) {
      val pairs = scala.collection.mutable.Map.empty[(String, String), Long]
      words.foreach { case (syms, c) =>
        var i = 0
        while (i < syms.length - 1) {
          val k = (syms(i), syms(i + 1))
          pairs(k) = pairs.getOrElse(k, 0L) + c
          i += 1
        }
      }
      // deterministic argmax: max count, ties to smallest (left, right)
      val best = pairs.toSeq.sortBy { case ((l, r), c) => (-c, l, r) }.headOption
      best match {
        case Some(((l, r), c)) if c >= 2 =>
          merges += ((l, r))
          val merged = l + r
          words = words.map { case (syms, cnt) =>
            if (syms.length < 2) (syms, cnt)
            else {
              val out = Vector.newBuilder[String]
              var i = 0
              while (i < syms.length) {
                if (i < syms.length - 1 && syms(i) == l && syms(i + 1) == r) {
                  out += merged; i += 2
                } else { out += syms(i); i += 1 }
              }
              (out.result(), cnt)
            }
          }
          step += 1
        case _ => done = true
      }
    }
    merges.result()
  }

  /** End-to-end training: distributed word counts → bounded collect →
    * merge loop. `maxWords` is the driver-bounded-collect guard (the IVF
    * sampleCap contract): more distinct words than the cap throws loudly
    * naming both fixes rather than silently OOMing the driver.
    */
  def train(
      df: DataFrame,
      textCol: String = "text",
      nMerges: Int = 100,
      maxWords: Int = 1000000): Seq[(String, String)] = {
    val wc = wordCounts(df, textCol)
    val spark = df.sparkSession
    val n = JobLabel(spark, "BpeTrain.train: vocabulary guard")(wc.limit(maxWords + 1).count())
    require(n <= maxWords,
      s"BpeTrain.train: distinct vocabulary exceeds maxWords=$maxWords; " +
        "raise the cap explicitly or pre-prune rare words (a word below any " +
        "pair's winning count cannot change the learned merges)")
    val rows = JobLabel(spark, "BpeTrain.train: word counts")(wc.collect())
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    // collect() order is partition-dependent; the loop is order-free (counts
    // are summed over the whole table, ties break lexicographically)
    learnMerges(rows, nMerges)
  }

  /** Apply learned merges to one word (greedy by learned ORDER — the
    * paper's application rule; [[BpeTokenizer]] applies the same rule via
    * its rank map for the GPT-2 byte-level scheme). Exposed for specs and
    * for building a segmentation UDF-free lookup table: at corpus scale
    * one APPLIES merges by joining the word-frequency table (bounded) to a
    * driver-built segmentation map, never by re-running this per token.
    */
  def applyMerges(word: String, merges: Seq[(String, String)]): Vector[String] = {
    val rank = merges.zipWithIndex.toMap
    var syms = symbols(word)
    var continue = true
    while (continue && syms.length >= 2) {
      val cand = syms.indices.dropRight(1)
        .flatMap(i => rank.get((syms(i), syms(i + 1))).map(r => (r, i)))
      if (cand.isEmpty) continue = false
      else {
        // lowest-rank merge first; leftmost occurrence of THAT merge
        val (bestRank, _) = cand.minBy(_._1)
        val (l, r) = merges(bestRank)
        val out = Vector.newBuilder[String]
        var i = 0
        while (i < syms.length) {
          if (i < syms.length - 1 && syms(i) == l && syms(i + 1) == r) {
            out += (l + r); i += 2
          } else { out += syms(i); i += 1 }
        }
        syms = out.result()
      }
    }
    syms
  }

  /** Distributed segmentation table: the bounded word table segmented by a
    * driver-learned merge list — (word, cnt, pieces, n_pieces). At corpus
    * scale a tokenization job joins THIS table to the corpus on the word
    * key (bounded build side) instead of re-segmenting every occurrence.
    */
  def segmentTable(wordCounts: DataFrame, merges: Seq[(String, String)]): DataFrame = {
    val mergesB = merges.toVector
    val seg = udf((w: String) => applyMerges(w, mergesB))
    // the one per-row imperative step runs over the BOUNDED vocabulary, not
    // the corpus — the documented mapPartitions/udf-as-last-resort case
    wordCounts.withColumn("pieces", seg(col("word")))
      .withColumn("n_pieces", size(col("pieces")))
  }
}
