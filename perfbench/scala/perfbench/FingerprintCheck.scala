package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Self-check of [[Fingerprint]], run by the benchmark's test suite: the
  * digest ignores row order and changes when any single cell of any
  * non-key column changes. Exits non-zero on the first failed check. */
object FingerprintCheck {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[2]").appName("fingerprint-check")
      .config("spark.ui.enabled", "false").config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    val base = (0 until 50).map(i => (i.toLong, i * 0.5, s"s$i", Seq(i, i + 1), i % 3 == 0))
      .toDF("k", "d", "s", "arr", "b")
      .withColumn("st", struct(col("d").as("x"), col("s").as("y")))
      .withColumn("m", map(col("s"), col("d")))
      .withColumn("ts", timestamp_seconds(col("k")))
    val fp = Fingerprint.of(base)

    def check(ok: Boolean, what: String): Unit =
      if (!ok) { System.err.println(s"FAILED: $what"); spark.stop(); sys.exit(1) }

    check(Fingerprint.of(base.orderBy(col("k").desc).repartition(3)) == fp, "row order")
    check(Fingerprint.of(base.select(base.columns.reverse.map(col): _*)) == fp, "column order")
    val hit = col("k") === 17
    val changed: Seq[(String, DataFrame)] = Seq(
      "d" -> base.withColumn("d", when(hit, col("d") + 1e-9).otherwise(col("d"))),
      "s" -> base.withColumn("s", when(hit, lit("x")).otherwise(col("s"))),
      "arr" -> base.withColumn("arr", when(hit, array(lit(17), lit(17))).otherwise(col("arr"))),
      "b" -> base.withColumn("b", when(hit, !col("b")).otherwise(col("b"))),
      "st" -> base.withColumn("st", when(hit, struct(col("d").as("x"), lit("z").as("y")))
        .otherwise(col("st"))),
      "m" -> base.withColumn("m", when(hit, map(col("s"), lit(0.0))).otherwise(col("m"))),
      "ts" -> base.withColumn("ts", when(hit, timestamp_seconds(lit(1L))).otherwise(col("ts"))),
      "null" -> base.withColumn("s", when(hit, lit(null).cast("string")).otherwise(col("s"))),
      "dropped row" -> base.where(!hit),
      "duplicated row" -> base.union(base.where(hit)),
      "renamed" -> base.withColumnRenamed("d", "d2"))
    changed.foreach { case (what, df) => check(Fingerprint.of(df) != fp, s"change in $what") }
    spark.stop()
    println(s"fingerprint checks passed (${changed.size + 2})")
  }
}
