package graft

import org.apache.spark.sql.functions._
import graft.functions.TextFns

class TextFnsSpec extends SparkSpec {
  import spark.implicits._

  private def one(text: String) = Seq(Tuple1(text)).toDF("text")

  test("normalize lowercases, trims, collapses whitespace") {
    val r = one("  Hello\t\tWORLD  again\n").select(TextFns.normalize($"text")).head()
    assert(r.getString(0) === "hello world again")
  }

  test("tokens splits the normalized text") {
    val r = one(" A  b\tC ").select(TextFns.tokens($"text")).head()
    assert(r.getSeq[String](0) === Seq("a", "b", "c"))
  }

  test("bpeTokenCount: letter runs, digit runs, single punctuation") {
    val r = one("Hello, world42! x").select(TextFns.bpeTokenCount($"text")).head()
    // Hello , world 42 ! x -> 6
    assert(r.getInt(0) === 6)
  }

  test("wordShingles builds n-grams; short docs give empty array") {
    val r = one("a b c d").select(TextFns.shinglesFromTokens(TextFns.tokens($"text"), 3)).head()
    assert(r.getSeq[String](0) === Seq("a b c", "b c d"))
    val short = one("a b").select(TextFns.shinglesFromTokens(TextFns.tokens($"text"), 3)).head()
    assert(short.getSeq[String](0) === Seq.empty)
  }

  test("fingerprint is the exact polynomial rolling hash") {
    // "ab" -> ((0*31+97)%M)*31+98 % M = 97*31+98 = 3105
    val r = one("ab").select(TextFns.fingerprint($"text")).head()
    assert(r.getLong(0) === 3105L)
    val empty = one("!!!").select(TextFns.fingerprint($"text")).head()
    assert(empty.getLong(0) === 0L)
  }

  test("markerHits counts non-distinct marker tokens") {
    val r = one("the cat and the dog").select(
      TextFns.markerHits($"text", TextFns.langMarkers.head._2)).head()
    assert(r.getInt(0) === 3) // the, and, the
  }

  test("longSetHits: membership counts, Long.MinValue sentinel, empty set, equals array_intersect") {
    import graft.functions.LongSetHitsExpr.longSetHits
    val df = Seq(
      (1L, Array(1L, 2L, 3L, Long.MinValue)),
      (2L, Array(7L, 8L)),
      (3L, Array.empty[Long])
    ).toDF("id", "arr")
    val set = Array(2L, 3L, Long.MinValue, 99L)
    val r = df.select($"id", longSetHits($"arr", set)).collect()
      .map(x => x.getLong(0) -> x.getInt(1)).toMap
    // the EMPTY-slot sentinel (Long.MinValue) must still count as a member
    assert(r === Map(1L -> 3, 2L -> 0, 3L -> 0))
    val empty = df.select(longSetHits($"arr", Array.empty[Long])).collect().map(_.getInt(0))
    assert(empty.toSeq === Seq(0, 0, 0))
    // equivalence with the composable form on hash-like values
    val vals = (0 until 200).map(i => i * 0x9e3779b97f4a7c15L) // hash-spread longs
    val big = Seq((1L, vals.toArray)).toDF("id", "arr")
    val subset = vals.zipWithIndex.collect { case (v, i) if i % 3 == 0 => v }.toArray
    val a = big.select(longSetHits($"arr", subset)).head().getInt(0)
    val b = big.select(size(array_intersect($"arr",
      array(subset.map(lit(_)): _*)))).head().getInt(0)
    assert(a === b && a === subset.length)
  }

  test("longSetContains: scalar membership, sentinel member, empty set, null input") {
    import graft.functions.LongSetContainsExpr.longSetContains
    val set = Array(2L, Long.MinValue, 99L)
    val df = Seq(Some(2L), Some(3L), Some(Long.MinValue), None).toDF("v")
    val r = df.select(longSetContains($"v", set)).collect()
      .map(x => if (x.isNullAt(0)) null else x.getBoolean(0))
    assert(r.toSeq === Seq(true, false, true, null))
    val none = df.select(longSetContains($"v", Array.empty[Long])).collect()
      .map(x => if (x.isNullAt(0)) null else x.getBoolean(0))
    assert(none.toSeq === Seq(false, false, false, null))
    // agrees with the array-kernel sibling on hash-spread values
    val vals = (0 until 500).map(i => i * 0x9e3779b97f4a7c15L)
    val members = vals.filter(_ % 3 == 0).toArray
    val hits = Seq(Tuple1(vals.toArray)).toDF("arr").select(
      size(filter($"arr", v => longSetContains(v, members)))).head().getInt(0)
    val expected = Seq(Tuple1(vals.toArray)).toDF("arr").select(
      graft.functions.LongSetHitsExpr.longSetHits($"arr", members)).head().getInt(0)
    assert(hits === expected)
  }

  test("predictLang argmax with precedence tie-break and und fallback") {
    assert(one("the cat and dog of to in").select(TextFns.predictLang($"text"))
      .head().getString(0) === "en")
    assert(one("der hund ist das und").select(TextFns.predictLang($"text"))
      .head().getString(0) === "de")
    assert(one("xyzzy plugh").select(TextFns.predictLang($"text"))
      .head().getString(0) === "und")
    // "la" hits both es and fr; "que y el" breaks toward es; precedence otherwise
    assert(one("el la que y").select(TextFns.predictLang($"text"))
      .head().getString(0) === "es")
  }
}
