package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.TextAnalysis

/** C103 encoding repair: the repair table must invert a REAL UTF-8 →
  * Windows-1252 double-decode (computed with the JDK codecs here, not
  * with the table itself), and its patterns must be mutually safe for
  * sequential full-string replacement.
  */
class EncodingRepairSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  /** What a cp1252 decoder makes of the UTF-8 bytes — the actual
    * corruption, independent of MojibakeRepairs.
    */
  private def mangle(s: String): String =
    new String(s.getBytes("UTF-8"), "windows-1252")

  test("every repair-table key IS the JDK double-decode of its value") {
    for ((bad, good) <- TextAnalysis.MojibakeRepairs)
      assert(mangle(good) == bad,
        s"key for '$good' should be '${mangle(good)}', table has '$bad'")
  }

  test("keys are mutually substring-safe and replacements reintroduce no key") {
    val keys = TextAnalysis.MojibakeRepairs.map(_._1)
    for (a <- keys; b <- keys if a != b)
      assert(!a.contains(b), s"'$a' contains '$b' — replacement order would matter")
    for ((_, good) <- TextAnalysis.MojibakeRepairs; k <- keys)
      assert(!good.contains(k), s"replacement '$good' contains key '$k'")
  }

  test("table order: no earlier replacement re-forms a later key across its boundaries") {
    // On dirty text a replacement R_i lands between arbitrary dangling
    // fragments; if proper-prefix(K_j) + R_i + proper-suffix(K_j) ever
    // contains K_j for an entry j applied AFTER i, the chained form
    // (and the DuckDB oracle) re-replaces where the single-pass kernel
    // does not. This is exactly how the pre-round-12 order broke:
    // left-dquote's replacement U+201C completed the en-dash key.
    val entries = TextAnalysis.MojibakeRepairs
    for (i <- entries.indices; j <- entries.indices if i < j) {
      val r = entries(i)._2
      val kj = entries(j)._1
      for (p <- 0 to kj.length - 1; s <- 1 to kj.length) {
        val window = kj.substring(0, p) + r + kj.substring(s)
        assert(!window.contains(kj),
          s"replacement '${r}' (entry $i) re-forms later key '$kj' (entry $j) in '$window'")
      }
    }
  }

  test("dangling artifact prefix: kernel == chained == oracle semantics (ADVICE regression)") {
    // 'â€' (a truncated artifact) immediately followed by the mangled
    // left-dquote key: the old table order cascaded 'â€œ'→U+201C into
    // the en-dash key and chained/oracle emitted U+2013 where the
    // kernel emitted 'â€'+U+201C.
    val dirty = Seq(
      (1L, "â€" + "â€œ"),          // the ADVICE input
      (2L, "xâ€" + "â€œtail"),
      (3L, "Ã" + "Â·"),                      // dangling Ã before Â·
      (4L, "â€" + "â€™" + "â€")) // dangling both sides
    val df = dirty.toDF("doc_id", "text")
    val kernel = TextAnalysis.encodingRepair(df, "doc_id", "text")
      .orderBy("doc_id").collect()
    val chained = ReferenceForms.encodingRepairChained(df, "doc_id", "text")
      .orderBy("doc_id").collect()
    kernel.zip(chained).foreach { case (k, c) =>
      assert(k.getAs[String]("repaired") == c.getAs[String]("repaired"),
        s"doc ${k.getAs[Long]("doc_id")}")
      assert(k.getAs[Long]("n_artifacts") == c.getAs[Long]("n_artifacts"))
    }
    // and the kernel's own semantics on the ADVICE input: the dangling
    // prefix survives verbatim, the complete key repairs, NO cascade
    assert(kernel(0).getAs[String]("repaired") == "â€“")
    assert(kernel(0).getAs[Long]("n_artifacts") == 1L)
  }

  test("repair(mangle(x)) == x for text over the mapped alphabet") {
    // every non-ASCII char below has its artifact in the 16-entry table
    val originals = Seq(
      "café niño — “gürtel” style ’quote’".replace("”", "\""),
      "résumé · 20° … zürich façade mötley",
      "plain ascii stays plain ascii",
      "")
    val df = originals.zipWithIndex
      .map { case (t, i) => (i.toLong, mangle(t)) }
      .toDF("doc_id", "text")
    val got = TextAnalysis.encodingRepair(df, "doc_id", "text")
      .orderBy("doc_id").collect()
    for ((orig, i) <- originals.zipWithIndex) {
      assert(got(i).getAs[String]("repaired") == orig, s"row $i")
      val expectedArtifacts = orig.count(_ > 127)
      assert(got(i).getAs[Long]("n_artifacts") == expectedArtifacts, s"row $i count")
      assert(got(i).getAs[Boolean]("changed") == (expectedArtifacts > 0), s"row $i changed")
    }
  }

  test("kernel form is bit-identical to the chained-replace reference") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .limit(300)
      .select(col("doc_id"),
        // plant artifacts on a third so the parity check exercises both
        // the repair path and the ASCII fast path
        when(col("doc_id") % 3 === 0,
          concat(lit("caf"), lit(mangle("é")), col("text"),
            lit(" "), lit(mangle("— …"))))
          .otherwise(col("text")).as("text"))
    val kernel = TextAnalysis.encodingRepair(docs, "doc_id", "text")
      .orderBy("doc_id").collect()
    val chained = ReferenceForms.encodingRepairChained(docs, "doc_id", "text")
      .orderBy("doc_id").collect()
    assert(kernel.length == chained.length)
    kernel.zip(chained).foreach { case (k, c) =>
      assert(k.getAs[String]("repaired") == c.getAs[String]("repaired"))
      assert(k.getAs[Long]("n_artifacts") == c.getAs[Long]("n_artifacts"))
      assert(k.getAs[Boolean]("changed") == c.getAs[Boolean]("changed"))
    }
  }

  test("ascii corpus is untouched at zero cost to semantics") {
    val df = Seq((1L, "the quick brown fox 123 !?")).toDF("doc_id", "text")
    val r = TextAnalysis.encodingRepair(df, "doc_id", "text").head()
    assert(r.getAs[String]("repaired") == "the quick brown fox 123 !?")
    assert(r.getAs[Long]("n_artifacts") == 0L)
    assert(!r.getAs[Boolean]("changed"))
  }
}
