package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.TextFunctions
import graft.sources.Tables

/** The native tokenize/shingle expressions must be bit-identical to the
  * composed HOF forms they replaced (the DuckDB oracle SQL mirrors the
  * HOF semantics), and must stay inside whole-stage codegen.
  */
class TextExprSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private val edgeCases = Seq(
    "",
    "   ",
    "The quick-brown FOX!!! jumps... over, the lazy: dog's \"tail\"",
    "... --- !!! ''' \"\"\"",
    "  leading and trailing   spaces  ",
    "one",
    "ÉCOLE Straße ÅNGSTRÖM mixed-CASE",
    "a.b,c!d?e;f:g",
    "tab\tseparated\nnewline  tokens",
    "-- trimmed-to-empty - .-. token stream --")

  test("native tokens equals HOF tokens on edge cases and the corpus") {
    val edge = edgeCases.toDF("text")
    val corpus = Tables.documents(spark, sf).select(col("text"))
    for (df <- Seq(edge, corpus)) {
      val both = df.select(
        TextFunctions.tokens(col("text")).as("native"),
        TextFunctions.tokensHof(col("text")).as("hof"))
      assert(both.filter(not(col("native") <=> col("hof"))).count() == 0)
    }
  }

  test("native shingles equals HOF shingles for n=2,3,5") {
    val df = (edgeCases ++ Seq("exactly three tokens here now")).toDF("text")
      .unionByName(Tables.documents(spark, sf).select(col("text")))
    for (n <- Seq(2, 3, 5)) {
      val both = df.select(
        TextFunctions.shingles(TextFunctions.tokens(col("text")), n).as("native"),
        TextFunctions.shinglesHof(TextFunctions.tokensHof(col("text")), n).as("hof"))
      assert(both.filter(not(col("native") <=> col("hof"))).count() == 0, s"n=$n")
    }
  }

  test("null text yields null tokens/shingles like the HOF form") {
    val df = Seq[Option[String]](None, Some("a b c")).toDF("text")
    val got = df.select(
      TextFunctions.tokens(col("text")).as("t"),
      TextFunctions.shingles(TextFunctions.tokens(col("text")), 2).as("s"))
    val rows = got.collect()
    assert(rows.exists(r => r.isNullAt(0) && r.isNullAt(1)))
  }

  test("tokenize path stays in whole-stage codegen") {
    val plan = Tables.documents(spark, sf)
      .select(explode(TextFunctions.shingles(
        TextFunctions.tokens(col("text")), 3)).as("s"))
      .select(md5(col("s")))
      .queryExecution.executedPlan.toString
    // "*(n)" node prefixes mark whole-stage-codegen membership
    assert(plan.contains("*(1) Generate"), plan)
    assert(plan.contains("*(1) Project"), plan)
    assert(!plan.contains("transform("), plan) // no interpreted HOF lambdas
  }

  test("native quality stats equal the HOF quality pipeline bit-for-bit") {
    import graft.operators.TextAnalysis
    val edge = edgeCases.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val corpus = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
    for (df <- Seq(edge, corpus)) {
      val native = TextAnalysis.quality(df, "doc_id", "text")
      val hof = TextAnalysis.qualityHof(df, "doc_id", "text")
      // <=> on every column, joined on doc_id: bit-level double equality
      val joined = native.alias("n").join(hof.alias("h"), Seq("doc_id"))
      val mismatches = joined.filter(not(
        col("n.n_chars") <=> col("h.n_chars") &&
          col("n.n_tokens") <=> col("h.n_tokens") &&
          col("n.avg_token_len") <=> col("h.avg_token_len") &&
          col("n.punct_ratio") <=> col("h.punct_ratio") &&
          col("n.stopword_ratio") <=> col("h.stopword_ratio") &&
          col("n.quality_score") <=> col("h.quality_score"))).count()
      assert(mismatches == 0)
      assert(native.count() == hof.count())
    }
  }

  test("native token diversity equals the shuffle formulation bit-for-bit") {
    import graft.operators.TextAnalysis
    val edge = edgeCases.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val corpus = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
    for (df <- Seq(edge, corpus)) {
      val native = TextAnalysis.tokenDiversity(df, "doc_id", "text")
      val shuffled = ReferenceForms.tokenDiversityShuffle(df, "doc_id", "text")
      val joined = native.alias("n").join(shuffled.alias("h"), Seq("doc_id"))
      val mismatches = joined.filter(not(
        col("n.n_tokens") <=> col("h.n_tokens") &&
          col("n.distinct_tokens") <=> col("h.distinct_tokens") &&
          col("n.top_share") <=> col("h.top_share") &&
          col("n.simpson_diversity") <=> col("h.simpson_diversity"))).count()
      assert(mismatches == 0)
      assert(native.count() == shuffled.count())
    }
  }

  test("native sigAgree equals the aggregate(zip_with) HOF bit-for-bit") {
    // real minhash signatures off the corpus, self-paired every which
    // way so agreement counts span 0..k
    val sigs = graft.operators.Dedup.minhashSignatures(
      Tables.documents(spark, sf), "doc_id", "text")
    val pairs = sigs.select(col("doc_id").as("ida"), col("sig").as("sig_a"))
      .crossJoin(sigs.select(col("doc_id").as("idb"), col("sig").as("sig_b")))
      .filter(col("ida") % 7 === col("idb") % 5) // thin the product
    val hof = aggregate(zip_with(col("sig_a"), col("sig_b"),
      (x, y) => when(x === y, 1).otherwise(0)), lit(0), (acc, v) => acc + v)
    val mismatch = pairs
      .select(col("ida"), col("idb"),
        TextFunctions.sigAgree(col("sig_a"), col("sig_b")).as("kernel"),
        hof.as("reference"))
      .filter(col("kernel") =!= col("reference"))
    assert(mismatch.count() == 0)
    // and the kernel must actually exercise the full agreement range
    val agrees = pairs
      .select(TextFunctions.sigAgree(col("sig_a"), col("sig_b")).as("a"))
      .agg(min(col("a")), max(col("a"))).collect()(0)
    assert(agrees.getInt(1) == 16, "no identical pair in the sample")
  }

  test("quality scan path stays in whole-stage codegen with no HOF lambdas") {
    import graft.operators.TextAnalysis
    val plan = TextAnalysis.quality(Tables.documents(spark, sf), "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project"), plan)
    assert(!plan.contains("aggregate("), plan) // no interpreted fold lambda
    assert(!plan.contains("lambdafunction"), plan)
  }
}
