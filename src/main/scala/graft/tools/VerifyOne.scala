package graft.tools


/** Focused Verify: dump only the named queries (plus the full
  * oracle_sql.json) so a new oracle can be checked with
  * tools/check_oracle.py without re-running the whole suite.
  *
  * Usage: runMain graft.tools.VerifyOne <sfDir> <outDir> q_a q_b …
  */
object VerifyOne {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0); val outDir = args(1); val names = args.drop(2).toSet
    val spark = graft.GraftSession.local(4)
    new java.io.File(outDir).mkdirs()
    graft.SparkEntry.queries.filter(kv => names(kv._1)).foreach { case (name, fn) =>
      fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
    }
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = graft.SparkEntry.oracleSql.filter(kv => names(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
