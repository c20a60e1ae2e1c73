package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.MapType
import org.json4s._

/** Order-independent digest of a query result: its row count and the
  * sum of a 64-bit hash of each row. Map columns are hashed as their
  * key-sorted entry arrays, since Spark refuses to hash a map.
  */
object Digest {
  def of(df: DataFrame): (Long, String) = {
    val cols = df.schema.fields.toSeq.map { f =>
      f.dataType match {
        case _: MapType => array_sort(map_entries(col(s"`${f.name}`")))
        case _          => col(s"`${f.name}`")
      }
    }
    val row = df.select(xxhash64(cols: _*).as("h"))
      .agg(count(lit(1)), sum(col("h").cast("decimal(38,0)")))
      .head()
    (row.getLong(0), Option(row.getDecimal(1)).map(_.toPlainString).getOrElse("0"))
  }

  def json(d: (Long, String)): JValue = JArray(List(JInt(d._1), JString(d._2)))
}
