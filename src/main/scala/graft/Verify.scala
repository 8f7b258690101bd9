package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Bench.envSession()
    new java.io.File(outDir).mkdirs()
    // fixture preflight: a regenerated-and-drifted fixture fails HERE as
    // one error naming every violated table.column, instead of as N
    // scattered per-query analysis errors (round 6's failure mode)
    try Preflight.check(spark, sfDir)
    catch { case e: Throwable =>
      System.err.println(s"[verify] PREFLIGHT FAILED: ${e.getMessage}")
      spark.stop()
      sys.exit(2)
    }
    // dev-only subset filter (tools/check.py iterates over the dirs that
    // exist); the driver sets no filter and always dumps everything
    val only = Bench.onlyFromEnv
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      val t0 = System.nanoTime()
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        System.err.println(
          f"[verify-time] $name ${(System.nanoTime() - t0) / 1e9}%.2fs")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
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
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
