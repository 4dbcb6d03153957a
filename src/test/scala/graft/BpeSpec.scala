package graft

import org.apache.spark.sql.functions._
import graft.operators.Bpe

/** Trained BPE: merge fitting (hand-computed classic example), encoding, and
  * the determinism contract. */
class BpeSpec extends SparkSpec {
  import spark.implicits._

  private def corpus = Seq(
    (1L, "low low low lower")
  ).toDF("doc_id", "text")

  test("trainMerges reproduces the classic low/lower example with deterministic ties") {
    // word freqs: low x3, lower x1
    // round 0 pairs: (l,o)=4, (o,w)=4, (w,e)=1, (e,r)=1 -> tie on 4,
    //   lexicographic tie-break picks (l,o)
    // round 1: (lo,w)=4 wins -> 'low' fuses completely
    // round 2: best remaining pair has count 1 < minPairFreq=2 -> stop
    val merges = Bpe.trainMerges(corpus, numMerges = 10, minPairFreq = 2)
    assert(merges.map(m => (m.rank, m.left, m.right)) ===
      Seq((0, "l", "o"), (1, "lo", "w")))
  }

  test("trainMerges is deterministic across runs") {
    val docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
    val a = Bpe.trainMerges(docs, numMerges = 20)
    val b = Bpe.trainMerges(docs, numMerges = 20)
    assert(a === b)
    assert(a.size === 20, s"fixture corpus must support 20 merges, got ${a.size}")
  }

  test("encode applies merges by rank; unknown characters pass through as singletons") {
    val merges = Bpe.trainMerges(corpus, numMerges = 10)
    val toks = Seq((1L, "low lower lowest zq"))
      .toDF("doc_id", "text")
      .select(Bpe.encode(col("text"), merges).as("t"))
      .head().getSeq[String](0)
    // low -> [low]; lower -> [low,e,r]; lowest -> [low,e,s,t]; zq -> [z,q]
    assert(toks === Seq("low", "low", "e", "r", "low", "e", "s", "t", "z", "q"))
  }

  test("tokenCounts: trained tokenizer compresses corpus-typical words") {
    val merges = Bpe.trainMerges(corpus, numMerges = 10)
    val counts = Bpe.tokenCounts(
      Seq((1L, "low low"), (2L, "zzqq zzqq")).toDF("doc_id", "text"), merges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(counts(1L) === 2L, "in-vocabulary words must be single tokens")
    assert(counts(2L) === 8L, "out-of-vocabulary words stay character-split")
  }

  test("encode is independent of merge Seq order (reloaded-vocabulary path)") {
    // a deployment persists and reloads the vocabulary; a DataFrame read
    // returns rows in arbitrary order — encoding must depend
    // only on ranks, never on Seq position
    val merges = Bpe.trainMerges(corpus, numMerges = 10)
    val shuffled = merges.reverse
    val df = Seq((1L, "low lower lowest")).toDF("doc_id", "text")
    val a = df.select(Bpe.encode(col("text"), merges).as("t")).head().getSeq[String](0)
    val b = df.select(Bpe.encode(col("text"), shuffled).as("t")).head().getSeq[String](0)
    assert(a === b, "shuffled merge rows must encode identically")
  }

  test("encode round-trips content: concatenated tokens rebuild each word") {
    val docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
    val merges = Bpe.trainMerges(docs, numMerges = 30)
    val row = docs.limit(50)
      .select(graft.functions.TextFns.normalize(col("text")).as("norm"),
        Bpe.encode(col("text"), merges).as("toks"))
      .collect()
    row.foreach { r =>
      val rebuilt = r.getSeq[String](1).mkString("")
      assert(rebuilt === r.getString(0).replace(" ", ""),
        "token concatenation must reproduce the normalized text (lossless segmentation)")
    }
  }
}
