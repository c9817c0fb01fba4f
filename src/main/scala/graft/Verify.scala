package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  /** The canonical session (the one the benchmark measures), so the
    * correctness gate runs under the same configuration. */
  def session(): org.apache.spark.sql.SparkSession = GraftSession.forMain("graft-verify")

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = session()
    new java.io.File(outDir).mkdirs()
    // local iteration aid (mirrors Bench): SPARK_GRAFT_ONLY=q1,q2 restricts
    // the dump; tokens trimmed, unknown names warned — a misspelled filter
    // must not look like a clean run
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    only.foreach(_.diff(SparkEntry.queries.keySet).foreach(n =>
      System.err.println(s"[verify] WARNING: unknown query in SPARK_GRAFT_ONLY: $n")))
    var failed = List.empty[String]
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        failed ::= name
        System.err.println(s"[verify] $name FAILED: ${e.getMessage}")
      }
      finally spark.catalog.clearCache() // isolate per-query cached state
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
    // run provenance beside the dump (ADVICE r8): self-authenticating
    // evidence — commit + timestamp + input dir
    Files.writeString(Paths.get(s"$outDir/run_meta.json"),
      s"""{"commit":${q(RunStamp.commit)},"ts":${q(RunStamp.ts)},"sf_dir":${q(sfDir)}}""")
    spark.stop()
    // Exit code must reflect failures (r5 lesson: 11 analysis-broken queries
    // went unnoticed because every harness stayed quiet). The dump above is
    // already written, so a nonzero exit loses nothing.
    if (failed.nonEmpty) {
      System.err.println(s"[verify] ${failed.size} QUERY FAILURE(S): ${failed.reverse.mkString(", ")}")
      sys.exit(1)
    }
  }
}
