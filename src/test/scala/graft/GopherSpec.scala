package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.TextAnalysis

/** Gopher quality-rule bundle (C57) and repetition char-mass signals
  * (C58) on planted fixtures — the synthetic corpus has no newlines or
  * symbols, so the line/symbol rules are pinned here where the DuckDB
  * oracle only proves them trivially zero.
  */
class GopherSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private def rules(rows: (Long, String)*) =
    TextAnalysis.gopherRules(rows.toDF("doc_id", "text"), "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r).toMap

  test("gopher_rules: word-count, mean-length, stopword and alpha rules") {
    val good = (Seq.fill(10)("the quick brown fox jumps over") :+ "with lazy dogs")
      .mkString(" ") // 63 words, all alphabetic, mean len in [3,10], has the+with
    val short = "the cat sat on that mat with food" // 8 words — under 50
    val m = rules(1L -> good, 2L -> short)
    assert(m(1L).getAs[Boolean]("keep"))
    assert(m(1L).getAs[Int]("n_words") == 63)
    assert(m(1L).getAs[Double]("alpha_frac") == 1.0)
    assert(m(1L).getAs[Int]("stop_hits") >= 2)
    assert(!m(2L).getAs[Boolean]("keep")) // word count rule
    assert(m(2L).getAs[Int]("stop_hits") >= 2) // other rules pass
  }

  test("gopher_rules: bullet and ellipsis line fractions") {
    val bullets = (1 to 9).map(i => s"- item $i").mkString("\n") + "\nprose line"
    val ells = "first line...\nsecond line...\nthird stays\nfourth stays"
    val m = rules(1L -> bullets, 2L -> ells)
    assert(m(1L).getAs[Double]("bullet_frac") == 0.9)
    assert(m(2L).getAs[Double]("ellipsis_frac") == 0.5)
    // 0.5 > 0.3 → the ellipsis rule alone must kill doc 2's keep
    assert(!m(2L).getAs[Boolean]("keep"))
  }

  test("gopher_rules: symbol ratio counts #, ... and … per word") {
    val m = rules(1L -> "alpha # beta ... gamma … delta")
    // 3 symbols / 6 words (the symbols tokenize away but still count)
    assert(m(1L).getAs[Double]("symbol_ratio") == 0.5)
  }

  test("gopher_rules is one map-side scan — no exchange in the plan") {
    val df = TextAnalysis.gopherRules(
      Seq((1L, "the fox")).toDF("doc_id", "text"), "doc_id", "text")
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
  }

  test("gopher_repetition: top-gram shares and dup-5-gram char fraction") {
    // "ab cd" ×4: top 2-gram "ab cd" count 4; every 5-gram repeats
    val rep = "ab cd ab cd ab cd ab cd" // 23 chars
    val uniq = "one two three four five six"
    val got = TextAnalysis.gopherRepetition(
        Seq((1L, rep), (2L, uniq)).toDF("doc_id", "text"), "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(got(1L).getAs[String]("top2_gram") == "ab cd")
    assert(got(1L).getAs[Long]("top2_count") == 4L)
    assert(got(1L).getAs[Double]("top2_share") == 4.0 * 5 / 23)
    // 5-grams of the 8-token doc: 4 total, "ab cd ab cd ab" ×2 and
    // "cd ab cd ab cd" ×2 — all duplicated, 14 chars each
    assert(got(1L).getAs[Double]("dup5_char_mass") == 4.0 * 14 / 23)
    // a no-repeat doc: top counts 1, zero dup mass
    assert(got(2L).getAs[Long]("top2_count") == 1L)
    assert(got(2L).getAs[Double]("dup5_char_mass") == 0.0)
    // ties break on the lexicographically smaller gram
    assert(got(2L).getAs[String]("top2_gram") == "five six")
  }

  test("gopher_repetition: docs too short for a gram keep a zero row") {
    val got = TextAnalysis.gopherRepetition(
        Seq((1L, "solo")).toDF("doc_id", "text"), "doc_id", "text")
      .collect()
    assert(got.length == 1)
    assert(got(0).getAs[String]("top2_gram") == "")
    assert(got(0).getAs[Long]("top2_count") == 0L)
    assert(got(0).getAs[Double]("dup5_char_mass") == 0.0)
  }

  test("gopher_repetition kernel is map-side and equals the shuffle formulation") {
    // the kernel form must not shuffle at all...
    val plan = TextAnalysis.gopherRepetition(
        Seq((1L, "a b c a b")).toDF("doc_id", "text"), "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
    // ...and the shuffle reference must cut through TopKPerKey
    val refPlan = ReferenceForms.gopherRepetitionShuffle(
        Seq((1L, "a b c a b")).toDF("doc_id", "text"), "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(refPlan.contains("TopKPerKey") && !refPlan.contains("Window"), refPlan)
    // bit-parity on the real corpus (counts, tie-breaks, shares)
    val docs = graft.sources.Tables.documents(spark, sf)
    val k = TextAnalysis.gopherRepetition(docs, "doc_id", "text")
    val s = ReferenceForms.gopherRepetitionShuffle(docs, "doc_id", "text")
    assert(k.exceptAll(s).isEmpty && s.exceptAll(k).isEmpty,
      "gram-stats kernel diverged from the shuffle formulation")
  }

  test("text_normalize: NFC combine, control strip, whitespace collapse") {
    val rows = Seq(
      (1L, "cafe\u0301  du\tmonde"), // decomposed acute + space run + tab
      (2L, "line1\r\nline2"),  // CRLF → LF
      (3L, "already clean"))
    val got = TextAnalysis.textNormalize(rows.toDF("doc_id", "text"), "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(got(1L).getAs[String]("normalized") == "caf\u00e9 du monde")
    assert(got(1L).getAs[Boolean]("changed"))
    assert(got(1L).getAs[Int]("n_chars_before") == 15)
    assert(got(1L).getAs[Int]("n_chars_after") == 13)
    assert(got(2L).getAs[String]("normalized") == "line1\nline2")
    assert(got(3L).getAs[String]("normalized") == "already clean")
    assert(!got(3L).getAs[Boolean]("changed"))
    // map-side: no exchange anywhere
    val plan = TextAnalysis.textNormalize(
        rows.toDF("doc_id", "text"), "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
  }

  test("streaming gopher admission equals the batch keep-set exactly") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // the synthetic corpus admits nobody (no doc carries ≥ 2 Gopher
    // required words), so plant passing docs among the real ones to
    // prove the gate admits AND rejects on the same stream
    val keeper = (Seq.fill(10)("the quick brown fox jumps over") :+ "with lazy dogs")
      .mkString(" ")
    val planted = (1 to 5).map(i => (100000L + i, keeper)).toDF("doc_id", "text")
    val docs = graft.sources.Tables.documents(spark, sf).select("doc_id", "text")
      .unionAll(planted)
    val batchIds = TextAnalysis.gopherRules(docs, "doc_id", "text")
      .filter(col("keep")).select("doc_id").collect().map(_.getLong(0)).toSet
    assert(batchIds.nonEmpty && batchIds.size < 505,
      "gate must admit the planted docs and reject some of the corpus")
    val ms = MemoryStream[(Long, String)]
    val out = graft.streaming.DocStreams
      .gopherAdmission(ms.toDF().toDF("doc_id", "text"), "doc_id", "text")
    val q = out.writeStream.format("memory").queryName("gopher_adm")
      .outputMode("append").start()
    try {
      // two micro-batches — the decision must not depend on batching
      val rows = docs.collect().map(r => (r.getLong(0), r.getString(1)))
      val (b1, b2) = rows.splitAt(rows.length / 2)
      ms.addData(b1.toSeq: _*)
      q.processAllAvailable()
      ms.addData(b2.toSeq: _*)
      q.processAllAvailable()
      val got = spark.table("gopher_adm").select("doc_id")
        .collect().map(_.getLong(0)).toSet
      assert(got == batchIds)
    } finally q.stop()
  }
}
