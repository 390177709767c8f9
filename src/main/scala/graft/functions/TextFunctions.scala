package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Tokenization and text statistics, mirroring the reference's word
  * handling (cooler-MapReduce `shared/samples/word_count.py:19-25`:
  * lowercase, whitespace split, strip `.,!?;:"'-`, drop empties).
  *
  * Everything here is built from `org.apache.spark.sql.functions` so it
  * stays inside whole-stage codegen — no UDFs on the 100 TB scan path.
  */
object TextFunctions {
  /** Punctuation stripped from token edges (reference word_count.py:23). */
  val PunctChars = ".,!?;:\"'-"
  /** Same set escaped for a DuckDB single-quoted literal. */
  val PunctSql = ".,!?;:\"''-"

  /** Lowercased, punctuation-trimmed, non-empty token array — a native
    * codegen'd expression (graft.plans.TokensExpr); the test tree's
    * `graft.ReferenceForms` keeps the composed SQL-function form it
    * must stay bit-identical to.
    */
  def tokens(c: Column): Column = {
    import org.apache.spark.sql.classic.GraftPlanFactory
    GraftPlanFactory.column(
      graft.plans.TokensExpr(GraftPlanFactory.expression(c)))
  }

  /** DuckDB fragment computing the identical token list. */
  def tokensSql(expr: String): String =
    s"list_filter(list_transform(string_split_regex(lower($expr), '\\s+'), " +
      s"t -> trim(t, '$PunctSql')), t -> t <> '')"

  /** Word n-gram shingles (joined with single spaces) — native
    * codegen'd expression (graft.plans.ShinglesExpr).
    */
  def shingles(tokensCol: Column, n: Int): Column = {
    import org.apache.spark.sql.classic.GraftPlanFactory
    GraftPlanFactory.column(
      graft.plans.ShinglesExpr(GraftPlanFactory.expression(tokensCol), n))
  }

  /** Winnowing fingerprints over a token array — native codegen'd
    * expression (graft.plans.WinnowFpsExpr): array<long> of the
    * distinct per-w-window minimum n-gram hashes (rightmost tiebreak),
    * computed in ONE map-side pass (no explode, no sort, no window
    * exchange).
    */
  def winnowFps(tokensCol: Column, n: Int, w: Int): Column = {
    import org.apache.spark.sql.classic.GraftPlanFactory
    GraftPlanFactory.column(
      graft.plans.WinnowFpsExpr(GraftPlanFactory.expression(tokensCol), n, w))
  }

  /** Content-defined chunks over a token array — native codegen'd
    * expression (graft.plans.CdcChunksExpr): array<struct<fp, n>> of
    * chunk md5 + token count, computed in ONE map-side pass (no
    * explode, no window, no token shuffle).
    */
  def cdcChunks(tokensCol: Column, anchorMod: Int): Column = {
    import org.apache.spark.sql.classic.GraftPlanFactory
    GraftPlanFactory.column(
      graft.plans.CdcChunksExpr(GraftPlanFactory.expression(tokensCol), anchorMod))
  }

  /** Positionwise agreement count of two minhash signatures
    * (array<long>) — native codegen'd expression
    * (graft.plans.SigAgreeExpr), the candidate-pair filter kernel.
    */
  def sigAgree(a: Column, b: Column): Column = {
    import org.apache.spark.sql.classic.GraftPlanFactory
    GraftPlanFactory.column(graft.plans.SigAgreeExpr(
      GraftPlanFactory.expression(a), GraftPlanFactory.expression(b)))
  }

  /** RFC 9309 robots path-pattern match — native codegen'd expression
    * (graft.plans.RobotsMatchExpr): `*` any-run wildcard, trailing-`$`
    * end anchor, prefix semantics otherwise. The per-rule predicate of
    * the broadcast robots evaluator.
    */
  def robotsMatch(path: Column, pattern: Column): Column = {
    import org.apache.spark.sql.classic.GraftPlanFactory
    GraftPlanFactory.column(graft.plans.RobotsMatchExpr(
      GraftPlanFactory.expression(path), GraftPlanFactory.expression(pattern)))
  }

  /** Winning robots rule for a path over a host's (rtype, rpath) rule
    * array — native codegen'd expression (graft.plans.RobotsWinnerExpr):
    * the whole filter/specificity-struct/array_max winner selection as
    * one flat kernel call per frontier URL. Returns the winning
    * (l, pref, rpath, rtype) struct, null when no rule matches.
    */
  def robotsWinner(path: Column, rules: Column): Column = {
    import org.apache.spark.sql.classic.GraftPlanFactory
    GraftPlanFactory.column(graft.plans.RobotsWinnerExpr(
      GraftPlanFactory.expression(path), GraftPlanFactory.expression(rules)))
  }

  /** One-pass quality-stats struct over raw text — native codegen'd
    * expression (graft.plans.QualityStatsExpr): tokenize + token-length
    * sum + stopword count + punct count fused into one kernel call per
    * row, replacing the interpreted `aggregate`/`filter` HOF lambdas on
    * the full-corpus quality scan path.
    */
  def qualityStats(c: Column): Column = {
    import org.apache.spark.sql.classic.GraftPlanFactory
    GraftPlanFactory.column(
      graft.plans.QualityStatsExpr(GraftPlanFactory.expression(c)))
  }

  /** Zero-shuffle token-diversity struct over raw text — native
    * codegen'd expression (graft.plans.TokenDiversityExpr): tokenize +
    * sorted-run walk fused into one kernel call per row, replacing the
    * (doc, token) explode→count→aggregate double shuffle.
    */
  def tokenDiversityStats(c: Column): Column = {
    import org.apache.spark.sql.classic.GraftPlanFactory
    GraftPlanFactory.column(
      graft.plans.TokenDiversityExpr(GraftPlanFactory.expression(c)))
  }

  /** Per-document gram repetition stats over a token array — native
    * codegen'd expression (graft.plans.GramStatsExpr): struct of
    * (top2_gram, top2_count, top3_gram, top3_count, dup5_chars) from
    * one sorted-run walk per row, no explode, no count shuffle.
    */
  def gramStats(tokensCol: Column): Column = {
    import org.apache.spark.sql.classic.GraftPlanFactory
    GraftPlanFactory.column(
      graft.plans.GramStatsExpr(GraftPlanFactory.expression(tokensCol)))
  }

  /** DuckDB fragment for the same shingle list over a token-list expr. */
  def shinglesSql(tokensExpr: String, n: Int): String =
    s"case when len($tokensExpr) < $n then [] else " +
      s"list_transform(range(1, len($tokensExpr) - ${n - 2}), " +
      s"i -> array_to_string(($tokensExpr)[i:i+${n - 1}], ' ')) end"

  /** Small fixed stopword list used by quality scoring / lang-id. */
  val Stopwords: Seq[String] =
    Seq("the", "a", "of", "and", "to", "in", "is", "on", "for")
  def stopwordsSql: String = Stopwords.map(w => s"'$w'").mkString("(", ", ", ")")
}
