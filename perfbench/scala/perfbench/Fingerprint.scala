package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, MapType}

/** Order-insensitive digest of a query result that computes every output
  * column of every row in one action.
  *
  * Columns are taken in name order (the oracle compare sorts them too) and
  * each row is hashed once over all of them with xxhash64; the digest is the
  * row count and the exact decimal sum of the row hashes, which does not
  * depend on row order and cannot overflow. The hash is referenced once, so
  * no column expression is evaluated twice. Catalyst cannot prune a column
  * that feeds the hash, unlike `count()`.
  */
object Fingerprint {
  /** Map columns are not hashable in Spark; their sorted entry arrays are. */
  private def hashable(c: Column, t: DataType): Column = t match {
    case MapType(_, _, _) => array_sort(map_entries(c))
    case _ => c
  }

  def of(df: DataFrame): String = {
    val fields = df.schema.fields.zipWithIndex.sortBy { case (f, i) => (f.name, i) }
    // positional renames make duplicate output names unambiguous
    val renamed = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = fields.map { case (f, i) => hashable(col(s"c$i"), f.dataType) }
    val schema = fields.map { case (f, _) => s"${f.name}:${f.dataType.simpleString}" }.mkString(",")
    if (cols.isEmpty) return s"0:empty"
    val row = renamed.agg(count(lit(1)),
      coalesce(sum(xxhash64(cols: _*).cast("decimal(20,0)")), lit(0))).head()
    s"${row.getLong(0)}:${row.getDecimal(1).toPlainString}:${schema.hashCode.toHexString}"
  }
}
