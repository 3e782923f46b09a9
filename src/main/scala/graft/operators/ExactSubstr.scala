package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** EXACT-SUBSTRING dedup (q241/q242) — the Lee et al. 2022
  * ("Deduplicating Training Data Makes Language Models Better",
  * ExactSubstr) rule the shingle families approximate but don't
  * prove: find (q241) and remove (q242) every token span covered by
  * a [[ExactSubstrK]]-token window whose EXACT token sequence occurs
  * at least twice in the corpus. Because every length-≥k substring
  * that repeats contains only repeated k-windows, and every repeated
  * k-window lies inside a repeated substring of length ≥ k, the
  * union of repeated k-windows IS the ≥k-repeated-substring token
  * mask — the published rule, not a sample of it. Contrast with the
  * existing approximations: q58/q102 sample char-level rolling
  * hashes at a stride (detection probability 1/stride for unaligned
  * pairs — their scaladoc quantifies it) and q233's fixed 13-gram
  * screen tests membership against a benchmark set; this operator
  * proves MAXIMAL spans, at any length ≥ k, against the corpus
  * itself.
  *
  * Window identity is built by PREFIX DOUBLING over per-document
  * token positions (the suffix-array construction trick, run for
  * log₂ k rounds instead of log n because only k-window identity is
  * needed): d₁(i) = md5(tokenᵢ), d₂ₕ(i) = md5(d_h(i) ‖ d_h(i+h)) —
  * each round a ROW-LOCAL transform over the per-doc digest array
  * (window identity never crosses documents, so no round needs a
  * join or a sort), never a materialized k-token string (the
  * digest stream stays ~48 bytes/position where raw windows would
  * be k× the corpus). [[ExactSubstrK]] is a power of two so the
  * doubling chain needs no final combine step. md5 is the house
  * exact-identity digest (q130/q200 paragraph hashes) — mirrored
  * verbatim in DuckDB, which states the rule DIRECTLY on the window
  * text instead (the oracle groups the actual k-token strings), so
  * the gate would catch a digest collision the day one occurs.
  *
  * Duplication counts every occurrence corpus-wide (within-document
  * repeats included) — the published ExactSubstr rule; q242's
  * removal likewise cuts EVERY covered token (all copies, the
  * released deduplicate-text-datasets behavior), unlike q102's
  * keep-lowest-doc rule — both behaviors now exist, each citing its
  * rule.
  *
  * Scale design (100 TB): the log₂ k (= 4) doubling rounds are
  * row-local transforms — ZERO exchanges until the window digests
  * exist; the duplicate filter is one map-side-combined digest
  * count plus a semi-join back (the digest partitioning is reused);
  * span merging collapses per document to
  * a sorted start array (bounded by tokens/doc) and folds
  * row-locally (the q102 interval-merge pattern); removal is one
  * row-local filter over the token array. Nothing is quadratic in
  * any frequency and no stage keys on anything corpus-hot — a window
  * repeated a million times is still one digest row after the
  * count. */
object ExactSubstr {

  /** Minimum duplicated-substring length in TOKENS. 16 > the q233
    * 13-gram screen window — the spec pins a repeated 16-token
    * substring whose 16-window identity no 13-gram screen states —
    * and a power of two, so the doubling chain is exactly
    * log₂ 16 = 4 joins. */
  val ExactSubstrK = 16

  /** (doc_id, pos, d): md5 identity of the k-token window starting
    * at each position where one fits, by prefix doubling.
    *
    * The doubling chain is ROW-LOCAL: window identity only ever
    * combines digests of the SAME document, so each round is a
    * higher-order `transform` over the per-doc digest array —
    * d_{2h}(i) = md5(d_h(i) ‖ d_h(i+h)) — instead of the former
    * corpus-sized (doc_id, pos+h) hash self-join per round (guide
    * §2.4: four full-token-stream exchanges removed outright; the
    * md5 work is identical and the digests bit-identical, so the
    * DuckDB window-text mirror grades unchanged). Positions explode
    * once, AFTER the chain, already at k-window identity. */
  private[operators] def windowDigests(docs: DataFrame,
      k: Int): DataFrame = {
    require(k > 0 && (k & (k - 1)) == 0, s"k must be a power of 2: $k")
    // typed row-local kernel (the codec-query shape): a higher-order
    // SQL formulation of the chain would reference each level's
    // array twice and Catalyst substitutes — not binds — the
    // expression, doubling the tree per level (measured: the spec
    // fixture crawled); a per-row loop evaluates each level exactly
    // once. md5-of-UTF-8-hex matches the SQL md5(concat(d, d))
    // digests bit for bit, so the DuckDB mirror grades unchanged.
    import docs.sparkSession.implicits._
    docs.select(col("doc_id"), split(col("text"), " ").as("w"))
      .as[(Long, Seq[String])]
      .flatMap { case (id, words) =>
        val md = java.security.MessageDigest.getInstance("MD5")
        def hex(b: Array[Byte]): String = {
          val sb = new java.lang.StringBuilder(32)
          var i = 0
          while (i < b.length) {
            sb.append(Character.forDigit((b(i) >> 4) & 0xF, 16))
            sb.append(Character.forDigit(b(i) & 0xF, 16))
            i += 1
          }
          sb.toString
        }
        def md5s(s: String): String = {
          md.reset()
          hex(md.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
        }
        // null text splits to a null array: no windows, as the old
        // posexplode form
        var dh =
          if (words == null) Array.empty[String]
          else words.iterator.map(md5s).toArray
        var h = 1
        while (h < k) {
          val n = math.max(dh.length - h, 0)
          val next = new Array[String](n)
          var i = 0
          while (i < n) { next(i) = md5s(dh(i) + dh(i + h)); i += 1 }
          dh = next
          h *= 2
        }
        dh.iterator.zipWithIndex.map { case (d, i) => (id, i.toLong, d) }
      }
      .toDF("doc_id", "pos", "d")
  }

  /** Duplicated window START positions: (doc_id, pos) where the
    * k-window's exact token sequence occurs ≥ 2 times corpus-wide. */
  private[operators] def dupStarts(docs: DataFrame, k: Int): DataFrame = {
    val wins = windowDigests(docs, k)
    val dup = wins.groupBy(col("d"))
      .agg(count(lit(1)).as("n"))
      .filter(col("n") >= 2)
      .select(col("d"))
    wins.join(dup, Seq("d"), "left_semi")
      .select(col("doc_id"), col("pos"))
  }

  /** Per-doc MERGED duplicated spans as a sorted struct array
    * (s, e): overlapping/adjacent k-windows union into maximal
    * spans — the row-local interval fold, seeded with the first
    * start. */
  private def mergedSpans(starts: DataFrame, k: Int): DataFrame =
    starts
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(col("pos"))).as("ps"))
      .withColumn("spans", expr(
        s"""aggregate(slice(ps, 2, size(ps)),
           |  array(named_struct('s', ps[0], 'e', ps[0] + ${k}L)),
           |  (acc, p) -> IF(p <= element_at(acc, -1).e,
           |    concat(slice(acc, 1, size(acc) - 1),
           |      array(named_struct('s', element_at(acc, -1).s,
           |        'e', p + ${k}L))),
           |    concat(acc,
           |      array(named_struct('s', p, 'e', p + ${k}L)))))"""
          .stripMargin))
      .select(col("doc_id"), col("spans"))

  /** q241: maximal duplicated spans — one row per maximal span of
    * tokens covered by ≥2-occurring k-windows:
    * (doc_id, span_start, span_end [exclusive], n_tokens). */
  def exactSubstrSpans(docs: DataFrame,
      k: Int = ExactSubstrK): DataFrame =
    mergedSpans(dupStarts(docs, k), k)
      .select(col("doc_id"), explode(col("spans")).as("sp"))
      .select(col("doc_id"), col("sp.s").as("span_start"),
        col("sp.e").as("span_end"),
        (col("sp.e") - col("sp.s")).as("n_tokens"))

  /** q242: ExactSubstr REMOVAL — every covered token cut (ALL
    * copies, the published tool's behavior), text rebuilt from the
    * survivors: (doc_id, clean_text, n_spans, n_tokens_removed). */
  def exactSubstrRemoval(docs: DataFrame,
      k: Int = ExactSubstrK): DataFrame =
    docs
      .join(mergedSpans(dupStarts(docs, k), k), Seq("doc_id"), "left")
      .withColumn("spans", coalesce(col("spans"),
        expr("CAST(array() AS array<struct<s: bigint, e: bigint>>)")))
      .withColumn("w", split(col("text"), " "))
      .withColumn("kept", expr(
        """filter(transform(w, (t, i) ->
          |  IF(exists(spans, sp -> i >= sp.s AND i < sp.e),
          |     NULL, t)), x -> x IS NOT NULL)""".stripMargin))
      .select(col("doc_id"),
        array_join(col("kept"), " ").as("clean_text"),
        size(col("spans")).cast("long").as("n_spans"),
        (size(col("w")) - size(col("kept"))).cast("long")
          .as("n_tokens_removed"))
}
