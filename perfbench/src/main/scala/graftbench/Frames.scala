package graftbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

object Frames {
  /** Materialize every column of `df` in one job and return its row
    * count plus the wrap-around sum of a 64-bit hash of each whole row:
    * an order-independent digest that no column can be pruned from. */
  def res(df: DataFrame): Res = {
    val h = xxhash64(df.columns.map(c => col(s"`$c`")).toIndexedSeq: _*)
    val r = df.select(h.as("h"))
      .agg(count(lit(1)), sum(col("h").bitwiseAND(lit(0xffffffffL))),
        sum(shiftrightunsigned(col("h"), 32)))
      .head()
    if (r.getLong(0) == 0) Res(0, "0")
    else Res(r.getLong(0), java.lang.Long.toHexString(r.getLong(1) + (r.getLong(2) << 32)))
  }

  /** Regular files under `dir` with their sizes. */
  def files(dir: Path): Map[String, Long] =
    if (!Files.exists(dir)) Map.empty
    else {
      val s = Files.walk(dir)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .map(p => p.toString -> Files.size(p)).toMap
      finally s.close()
    }
}
