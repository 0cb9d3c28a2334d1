package graft.core

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions.{col, lit, when}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** The file layout of a partitioned durable store ([[TripleDb]],
  * [[QuadDb]], [[DictDb]] triples and quads): the row columns, which
  * are also the tombstone keys, plus a partition column computed by
  * `partValue`. Tombstone sets carry the same columns.
  *
  * Opening a store runs no Spark job: every read declares [[file]], so
  * Spark infers no schema from parquet footers (one job per read, and
  * `pred=2020` would read as an integer), and partition values come
  * from the file index the read built. */
private[graft] final case class StoreLayout(rows: StructType,
                                            part: StructField,
                                            partValue: Column) {
  def keyCols: Seq[String] = rows.fieldNames.toSeq
  def file: StructType = StructType(rows.fields :+ part)

  def withPart(df: DataFrame): DataFrame = df.withColumn(part.name, partValue)

  def write(df: DataFrame, path: String, mode: String): Unit =
    withPart(df).write.mode(mode).partitionBy(part.name).parquet(path)

  /** Tombstone `rows`: one tiny append, nothing in the store is
    * rewritten. The tombstones carry the partition value, so
    * compaction prunes to the affected directories. */
  def delete(rows: DataFrame, path: String): Unit =
    Tombstones.append(withPart(rows.select(keyCols.map(col): _*)), path,
      keyCols)

  /** Tombstone every live row of the given subjects (`subjects` needs
    * the subject column `s`). */
  def deleteSubjects(spark: SparkSession, path: String,
                     subjects: DataFrame): Unit =
    delete(frame(spark, path).join(subjects.select("s"), Seq("s"), "left_semi"),
      path)

  /** [[Tombstones.compact]], scanning only the partitions the
    * tombstones name. */
  def compact(spark: SparkSession, path: String): Unit =
    if (Tombstones.exist(spark, path)) {
      val tomb = spark.read.schema(file).parquet(Tombstones.tombPath(path))
      // bounded by the store's partition count (predicates / pred ids)
      val parts = tomb.select(part.name).distinct().collect().map(_.get(0))
      Tombstones.compact(spark, path,
        read(spark, path).where(col(part.name).isin(parts.toIndexedSeq: _*)),
        tomb.select(keyCols.map(col): _*), keyCols, Some(part.name))
    }

  /** The store's files, tombstoned rows included. */
  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(file).parquet(path)

  /** The masked frame without slices or stats (mutations). */
  def frame(spark: SparkSession, path: String): DataFrame =
    Tombstones.mask(spark, path, read(spark, path), keyCols).drop(part.name)

  /** The masked frame, one slice per partition value that `names`
    * names (values that hold data only), each slice's size from file
    * metadata. */
  def open(spark: SparkSession, path: String,
           names: Seq[Any] => Map[Any, String] = StoreLayout.keywordPreds)
      : (DataFrame, Map[String, DataFrame], Map[String, Long]) = {
    val raw0 = read(spark, path)
    val raw = Tombstones.mask(spark, path, raw0, keyCols)
    val slices = names(partitionValues(raw0)).map { case (v, name) =>
      name -> raw.where(col(part.name) === lit(v)).drop(part.name)
    }
    val stats = slices.map { case (name, slice) =>
      name -> slice.queryExecution.optimizedPlan.stats.sizeInBytes
        .min(BigInt(Long.MaxValue)).toLong
    }
    (raw.drop(part.name), slices, stats)
  }

  private def partitionValues(raw: DataFrame): Seq[Any] = (for {
    index <- raw.queryExecution.analyzed.collectFirst {
      case LogicalRelation(fs: HadoopFsRelation, _, _, _, _) => fs.location
    }.toSeq
    i = index.partitionSchema.fieldNames.indexOf(part.name) if i >= 0
    dir <- index.listFiles(Nil, Nil) if dir.files.nonEmpty
  } yield CatalystTypeConverters.convertToScala(
    dir.values.get(i, part.dataType), part.dataType)).distinct
}

private[graft] object StoreLayout {
  /** Term-struct stores: one `pred` directory per keyword predicate;
    * any other predicate lands in `__other`, which gets no slice. */
  def byPredicate(rows: StructType): StoreLayout =
    StoreLayout(rows, StructField("pred", StringType),
      when(col("p.kind") === Term.KKeyword, col("p.lex"))
        .otherwise(lit("__other")))

  def keywordPreds(values: Seq[Any]): Map[Any, String] =
    values.collect { case n: String if n != "__other" => (n: Any) -> n }.toMap

  /** Dictionary-encoded stores: id columns, partitioned by predicate id. */
  def byPredicateId(cols: String*): StoreLayout =
    StoreLayout(StructType(cols.map(StructField(_, LongType, nullable = false))),
      StructField("pid", LongType), col("p"))
}
