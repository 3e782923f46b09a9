package graft.operators

import graft.SparkSessionSpec
import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

/** Pins of the q241/q242 ExactSubstr rule (Lee et al. 2022): exact
  * maximal extents, the ≥2-occurrences-anywhere count, the all-copy
  * removal, and the k-boundary the 13-gram screen cannot state. */
class ExactSubstrSpec extends AnyFunSuite with SparkSessionSpec {

  private val K = ExactSubstr.ExactSubstrK
  private def words(p: String, n: Int): String =
    (0 until n).map(i => s"$p$i").mkString(" ")
  private val dup20 = words("d", 20) // a 20-token run, > K = 16

  private def spans(rows: Seq[(Long, String)]): Map[Long, Seq[(Long, Long)]] = {
    import spark.implicits._
    ExactSubstr.exactSubstrSpans(rows.toDF("doc_id", "text"))
      .collect()
      .groupBy(_.getAs[Long]("doc_id"))
      .map { case (d, rs) =>
        d -> rs.map(r => (r.getAs[Long]("span_start"),
          r.getAs[Long]("span_end"))).sorted.toSeq
      }
  }

  test("a cross-document 20-token substring (> the 13-gram window, " +
      "> K) is found at its exact MAXIMAL extent in both documents") {
    val a = words("a", 5) + " " + dup20 + " " + words("x", 3)
    val b = words("b", 7) + " " + dup20 + " " + words("y", 4)
    val s = spans(Seq((1L, a), (2L, b)))
    // doc 1: dup starts at token 5; doc 2: at token 7; both 20 long
    assert(s(1L) == Seq((5L, 25L)))
    assert(s(2L) == Seq((7L, 27L)))
  }

  test("WITHIN-document repetition counts (the published rule " +
      "counts occurrences, not documents) — two spans in one doc") {
    val c = words("c", 2) + " " + dup20 + " " + words("e", 2) +
      " " + dup20 + " " + words("f", 2)
    val s = spans(Seq((1L, c)))
    assert(s(1L) == Seq((2L, 22L), (24L, 44L)))
  }

  test("a 15-token shared run (< K) is NOT flagged; unique corpora " +
      "yield no spans") {
    val shared15 = words("s", 15)
    val s = spans(Seq(
      (1L, words("a", 6) + " " + shared15 + " " + words("x", 2)),
      (2L, words("b", 6) + " " + shared15 + " " + words("y", 2))))
    assert(s.isEmpty)
    assert(spans(Seq((1L, words("a", 40)), (2L, words("b", 40)))).isEmpty)
  }

  test("overlapping duplicated windows MERGE: two copies of a " +
      "36-token run yield one span each, never window-per-row") {
    val dup36 = words("m", 36)
    val s = spans(Seq(
      (1L, words("a", 3) + " " + dup36),
      (2L, dup36 + " " + words("z", 5))))
    assert(s(1L) == Seq((3L, 39L)))
    assert(s(2L) == Seq((0L, 36L)))
  }

  test("q242 removal cuts EVERY copy (all documents) and leaves " +
      "non-covered text intact, joined by single spaces") {
    import spark.implicits._
    val a = words("a", 5) + " " + dup20 + " " + words("x", 3)
    val b = words("b", 7) + " " + dup20 + " " + words("y", 4)
    val out = ExactSubstr.exactSubstrRemoval(
      Seq((1L, a), (2L, b)).toDF("doc_id", "text"))
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(out(1L).getAs[String]("clean_text") ==
      words("a", 5) + " " + words("x", 3))
    assert(out(2L).getAs[String]("clean_text") ==
      words("b", 7) + " " + words("y", 4))
    assert(out(1L).getAs[Long]("n_tokens_removed") == 20L)
    assert(out(2L).getAs[Long]("n_spans") == 1L)
  }

  test("documents without spans pass through removal unchanged") {
    import spark.implicits._
    val out = ExactSubstr.exactSubstrRemoval(
      Seq((1L, "p q r"), (2L, "")).toDF("doc_id", "text"))
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(out(1L).getAs[String]("clean_text") == "p q r")
    assert(out(2L).getAs[String]("clean_text") == "")
    assert(out(1L).getAs[Long]("n_spans") == 0L)
  }

  test("a null-text document yields no windows and no spans (the " +
      "posexplode form's behavior), next to a real duplicate") {
    import spark.implicits._
    val docs = Seq[(Long, String)](
      (1L, words("a", 5) + " " + dup20), (2L, dup20 + " " + words("b", 2)),
      (3L, null)).toDF("doc_id", "text")
    assert(ExactSubstr.windowDigests(docs, K)
      .filter($"doc_id" === 3L).count() == 0L)
    val got = ExactSubstr.exactSubstrSpans(docs).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("span_start"),
        r.getAs[Long]("span_end"))).toSet
    assert(got == Set((1L, 5L, 25L), (2L, 0L, 20L)))
  }

  test("digest identity == direct window-string identity on the " +
      "graded fixture slice (the oracle states the rule on TEXT; " +
      "this pins the prefix-doubling digests against it in-engine)") {
    import spark.implicits._
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text").limit(200).cache()
    // direct: group the literal K-token window strings
    val direct = docs.as[(Long, String)].collect().flatMap {
      case (d, t) =>
        val w = t.split(" ", -1)
        (0 to w.length - K).map(i =>
          (d, i.toLong, w.slice(i, i + K).mkString(" ")))
    }
    val dupTexts = direct.groupBy(_._3).filter(_._2.length >= 2).keySet
    val expected = direct.filter(p => dupTexts(p._3))
      .map(p => (p._1, p._2)).toSet
    val got = ExactSubstr.dupStarts(docs, K).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("pos"))).toSet
    docs.unpersist()
    assert(got == expected)
  }
}
