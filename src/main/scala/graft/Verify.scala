package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // args: <sfDir> <outDir> [queryName ...] — the driver passes exactly
    // two; extra names (builder iteration) restrict the dump to those.
    val Array(sfDir, outDir) = args.take(2)
    val only = args.drop(2).toSet
    // The fixture harness may run the O(n^2) exact ground-truth twin
    // (q_dedup_embedding); production sessions must not (round-4 #5).
    val spark = GraftSession.local(GraftSession.envCpus,
      "spark.graft.allowQuadratic" -> "true")
    new java.io.File(outDir).mkdirs()
    var failed = 0
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        failed += 1
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        // A query that throws must be VISIBLY broken, not silently absent
        // from the correctness report (round-1 verdict #4).
        val dir = new java.io.File(s"$outDir/$name"); dir.mkdirs()
        Files.writeString(Paths.get(s"$outDir/$name/ERROR.txt"),
          s"$name: ${e.toString}\n")
      } finally
        // Release the per-query persisted sketch frames the builders
        // cannot unpersist themselves (they return lazy frames) — see
        // Bench.run for the full rationale.
        spark.catalog.clearCache()
    }
    if (failed > 0) System.err.println(s"[verify] $failed queries FAILED")
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
