package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // trailing args: run only these queries. q109/q116's oracles read the
    // fixture q135 dumps, so a filtered run requesting either force-
    // includes q135 — otherwise the oracle points at a missing parquet
    // and fails with an opaque read error
    val requested = args.drop(2).toSet
    val only =
      if (requested.intersect(Set("q109_bpe_encode", "q116_bpe_fertility")).nonEmpty)
        requested + "q135_bpe_vocab"
      else requested
    val spark = GraftSession.harness(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    val failed = scala.collection.mutable.ListBuffer[String]()
    GraftSession.withTaskClassLoader(spark) {
      SparkEntry.queries
        .filter { case (name, _) => only.isEmpty || only.contains(name) }
        .foreach { case (name, fn) =>
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          failed += name
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
        }
      }
    }
    // loud summary: a dropped row in the driver's correctness table must be
    // traceable to an explicit failure line, never a silent omission
    if (failed.nonEmpty)
      System.err.println(s"[verify] ${failed.size} FAILED: ${failed.mkString(", ")}")
    else
      System.err.println("[verify] all queries succeeded")
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // oracles that verify against a fixture ANOTHER query just dumped
    // (q109/q116 read q135's word-token table) address it through this
    // placeholder — substituted here so the dumped SQL is runnable as-is
    val outAbs = new java.io.File(outDir).getAbsolutePath
    val json = SparkEntry.oracleSql
      .map { case (k, v) =>
        s"${q(k)}: ${q(v.replace("__GRAFT_VERIFY_OUT__", outAbs))}"
      }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
