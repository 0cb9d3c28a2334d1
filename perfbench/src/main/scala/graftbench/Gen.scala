package graftbench

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

import java.sql.Timestamp
import scala.util.Random

/** The benchmark's base fixture: a TPC-H-ish star schema with the
  * column names and types of the tables graft's loaders read
  * (`customer`, `orders`, `supplier`, `nation`, `region`), at the row
  * counts of scale factor 0.1. Every value comes from one fixed-seed generator,
  * so the files are identical in every checkout; per-run variation
  * (query constants, ontology, update sequences) is drawn from
  * the run's `--seed` by the workloads, never by this generator.
  */
object Gen {
  val Customers = 15000
  val Orders = 150000
  val Suppliers = 1000
  val Nations = 25

  val Segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  val Priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  val Statuses = Seq("F", "O", "P")
  val Regions = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")

  private def cents(r: Random, lo: Long, hi: Long): Double =
    (lo + (r.nextDouble() * (hi - lo)).toLong) / 100.0

  def write(spark: SparkSession, dir: String): Unit = {
    val r = new Random(42L)
    def save(name: String, schema: StructType, rows: Seq[Row]): Unit =
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), schema)
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")

    save("region", StructType(Seq(StructField("r_regionkey", IntegerType),
        StructField("r_name", StringType))),
      Regions.zipWithIndex.map { case (n, i) => Row(i, n) })
    save("nation", StructType(Seq(StructField("n_nationkey", IntegerType),
        StructField("n_name", StringType), StructField("n_regionkey", IntegerType))),
      (0 until Nations).map(i => Row(i, s"NATION_$i", i % Regions.size)))
    save("customer", StructType(Seq(StructField("c_custkey", LongType),
        StructField("c_name", StringType), StructField("c_nationkey", IntegerType),
        StructField("c_acctbal", DoubleType), StructField("c_mktsegment", StringType))),
      (0 until Customers).map(i => Row(i.toLong, f"Customer#$i%09d",
        r.nextInt(Nations), cents(r, -99999, 999999), Segments(r.nextInt(Segments.size)))))
    save("supplier", StructType(Seq(StructField("s_suppkey", LongType),
        StructField("s_name", StringType), StructField("s_nationkey", IntegerType),
        StructField("s_acctbal", DoubleType))),
      (0 until Suppliers).map(i => Row(i.toLong, f"Supplier#$i%09d",
        r.nextInt(Nations), cents(r, -99999, 999999))))
    val day0 = Timestamp.valueOf("1992-01-01 00:00:00").getTime
    save("orders", StructType(Seq(StructField("o_orderkey", LongType),
        StructField("o_custkey", LongType), StructField("o_orderstatus", StringType),
        StructField("o_totalprice", DoubleType), StructField("o_orderdate", TimestampType),
        StructField("o_orderpriority", StringType))),
      (0 until Orders).map(i => Row(i.toLong, r.nextInt(Customers).toLong,
        Statuses(r.nextInt(Statuses.size)), cents(r, 90000, 50000000),
        new Timestamp(day0 + r.nextInt(2400) * 86400000L),
        Priorities(r.nextInt(Priorities.size)))))
  }
}
