package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.TextFns

/** Byte-pair-encoding vocabulary training + encoding — the tokenizer-training
  * step of an LLM data pipeline (Sennrich et al. 2016), replacing the
  * regex-count stand-in (`TextFns.bpeTokenCount`) with a REAL trained
  * subword vocabulary.
  *
  * Architecture (the one production BPE trainers use): the corpus-sized work
  * is ONE distributed word-frequency aggregation; the merge loop then runs
  * driver-side over that (small) word-frequency table — a model fit, like
  * k-means centroids ([[Similarity.trainCentroidsSampled]]'s rationale): the
  * distinct-word table of even a 100 TB corpus truncated to `maxWords` rows
  * is kilobytes-to-megabytes, while a distributed pair-count round trip per
  * merge would cost `numMerges` shuffles. Encoding is then map-only: the
  * trained merge ranks ride the plan as a reference object inside a native
  * expression ([[graft.functions.BpeEncodeExpr]]).
  *
  * Determinism: word table ordered by (freq DESC, word ASC) before
  * truncation; merge ties break lexicographically — same corpus, same
  * merges, on any cluster layout.
  */
object Bpe {

  /** One trained merge: at `rank`, adjacent symbol pair (left, right) fuses. */
  case class Merge(rank: Int, left: String, right: String)

  /** The distributed half: normalized whitespace-word frequencies. */
  def wordFrequencies(docs: DataFrame): DataFrame =
    docs
      .select(TextFns.tokens(col("text")).as("toks"))
      .select(explode(col("toks")).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy("word").agg(count(lit(1)).as("freq"))

  /** Train `numMerges` BPE merges on the corpus. `maxWords` truncates the
    * word-frequency table to the most frequent words (the standard cap —
    * tail words contribute ~nothing to pair counts); `minPairFreq` stops
    * early when the best remaining pair is too rare to matter. */
  def trainMerges(docs: DataFrame, numMerges: Int = 50,
                  maxWords: Int = 65536, minPairFreq: Long = 2L): Seq[Merge] = {
    val table = wordFrequencies(docs)
      .orderBy(col("freq").desc, col("word").asc).limit(maxWords)
      .collect().map(r => (r.getString(0).toCharArray.map(_.toString), r.getLong(1)))
    val words = table.map { case (syms, f) =>
      (scala.collection.mutable.ArrayBuffer.from[String](syms), f)
    }
    val merges = scala.collection.mutable.ArrayBuffer.empty[Merge]
    var rank = 0
    var continue = true
    while (rank < numMerges && continue) {
      val pairCounts = scala.collection.mutable.HashMap.empty[(String, String), Long]
      words.foreach { case (syms, f) =>
        var i = 0
        while (i < syms.length - 1) {
          val p = (syms(i), syms(i + 1))
          pairCounts.update(p, pairCounts.getOrElse(p, 0L) + f)
          i += 1
        }
      }
      if (pairCounts.isEmpty) continue = false
      else {
        // deterministic argmax: highest weighted count, then lexicographic pair
        val (bestPair, bestCount) = pairCounts.toSeq.minBy {
          case ((l, r), c) => (-c, l, r)
        }
        if (bestCount < minPairFreq) continue = false
        else {
          merges += Merge(rank, bestPair._1, bestPair._2)
          val fused = bestPair._1 + bestPair._2
          words.foreach { case (syms, _) =>
            var i = 0
            while (i < syms.length - 1) {
              if (syms(i) == bestPair._1 && syms(i + 1) == bestPair._2) {
                syms.update(i, fused)
                syms.remove(i + 1)
                // stay at i: the fused symbol may pair with the next one on a
                // LATER merge, but this same merge must not chain through the
                // freshly fused token's tail (left-to-right greedy semantics)
              } else i += 1
            }
          }
          rank += 1
        }
      }
    }
    merges.toSeq
  }

  /** Map-only encode: normalized whitespace words → trained subword tokens
    * (array<string> per document). Null text → null tokens (→ null counts),
    * matching the regex stand-in `TextFns.bpeTokenCount` — the encode output
    * is a signal, not a join key, so the non-null-key rule does not apply. */
  def encode(text: Column, merges: Seq[Merge]): Column =
    graft.functions.BpeEncodeExpr.bpeEncode(TextFns.normalize(text), merges)

  /** Per-document trained-BPE token counts — the production form of the
    * `text_token_count` signal. */
  def tokenCounts(docs: DataFrame, merges: Seq[Merge]): DataFrame =
    docs.select(col("doc_id"), encode(col("text"), merges).as("bpe_tokens"))
      .select(col("doc_id"), size(col("bpe_tokens")).cast("long").as("n_bpe_tokens"))
}
