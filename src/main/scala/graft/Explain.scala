package graft

/** Plan-inspection utility: prints the formatted physical plan of the named
  * queries (or all, with no args beyond the sf dir) for shuffle/broadcast/
  * pushdown review. Usage: runMain graft.Explain <sfDir> [query...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val names = if (args.length > 1) args.drop(1).toSeq else SparkEntry.queries.keys.toSeq.sorted
    // the canonical session (same rules and confs as Bench and Verify)
    val spark = GraftSession.forMain("graft-explain")
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      println(s"===== $n =====")
      try SparkEntry.queries(n)(spark, sfDir).explain("formatted")
      catch { case e: Throwable => println(s"explain failed: ${e.getMessage}") }
    }
    spark.stop()
  }
}
