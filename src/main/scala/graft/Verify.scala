package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. Exits non-zero,
  * naming every failed query, after oracle_sql.json is written.
  */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = GraftSession.builder(sfDir).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // Dev-only subset knob: SPARK_GRAFT_ONLY=a,b runs just those queries
    // and writes a matching filtered oracle_sql.json, so
    // tools/oracle_check.py checks only the subset.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val queries = only.fold(SparkEntry.queries)(s => SparkEntry.queries.filter(kv => s(kv._1)))
    val failed = queries.toSeq.flatMap { case (name, fn) =>
      // a failed query must leave no result behind: a stale dir from an
      // earlier run into the same outDir would pass for this run's answer
      Scratch.deleteRecursively(new java.io.File(s"$outDir/$name"))
      val ok =
        try { fn(spark, sfDir).coalesce(1).write.parquet(s"$outDir/$name"); true }
        catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
          false
        }
      // Between-query cache hygiene: several
      // operators persist() an intermediate their returned plan still
      // references (so they cannot unpersist in-function); across 300+
      // queries those blocks would otherwise accumulate into GC pressure.
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
      if (ok) None else Some(name)
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
    val oracles = only.fold(SparkEntry.oracleSql)(s => SparkEntry.oracleSql.filter(kv => s(kv._1)))
    val json = oracles
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[verify] ${failed.size} failed: ${failed.mkString(", ")}")
      sys.exit(1)
    }
  }
}
