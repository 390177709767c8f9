// Prints one tab-separated line per registered query: its name, the
// sha256 of its oracle SQL and the sha256 of its oracle stages ("-" when
// it has none). Fixture paths are replaced by placeholders before hashing,
// so a table taken before the fixtures moved compares with one taken
// after; `--raw` hashes the text as it is. Run through oracle_table.sh.
object OracleTable {
  def main(args: Array[String]): Unit = {
    // a fixture path is whatever precedes its file name inside the quotes
    val subst = if (args.contains("--raw")) Nil else Seq(
      "[^'\\s]*/story(_medium)?\\.txt" -> "<story>",
      "[^'\\s]*/weather\\.csv" -> "<weather>",
      "[^'\\s]*/target/(fixtures/)?(?=(raw_ingest|warc_[a-z]+)/)" -> "<fixtures>/")
    def sha(s: String): String = {
      val plain = subst.foldLeft(s) { case (acc, (k, v)) => acc.replaceAll(k, v) }
      java.security.MessageDigest.getInstance("SHA-256")
        .digest(plain.getBytes("UTF-8")).map(b => f"$b%02x").mkString
    }
    val stages = graft.SparkEntry.oracleStages
    graft.SparkEntry.queries.keys.toSeq.sorted.foreach { n =>
      val st = stages.get(n)
        .map(ss => sha(ss.map(s => s"${s.name}|${s.shards}|${s.sql}").mkString("\n")))
        .getOrElse("-")
      println(s"$n\t${sha(graft.SparkEntry.oracleSql(n))}\t$st")
    }
  }
}
