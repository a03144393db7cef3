package graft

import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{Metadata, MetadataBuilder, TimestampNTZType}
import org.scalatest.funsuite.AnyFunSuite

class TablesSpec extends AnyFunSuite {
  import TestSpark._

  def inferred(path: String) = spark.read.parquet(path).schema

  /** The schema of a read given the footer schema (the reader makes
    * every field nullable, as inference does). */
  def footerRead(path: String) =
    spark.read.schema(Tables.footerSchema(spark, path).get).parquet(path).schema

  test("Tables.load runs no Spark job") {
    Tables.all.foreach { t =>
      val (df, counts) = Probe.measure(spark)(Tables.load(spark, sf, t))
      assert(counts.jobs == 0, s"$t: $counts")
      assert(df.columns.nonEmpty)
    }
  }

  test("the footer schema equals Spark's inferred schema for every fixture table") {
    for (dir <- Seq(sf, s"${new java.io.File(sf).getParent}/sf0.01"); t <- Tables.all) {
      val path = s"$dir/$t.parquet"
      assert(Tables.footerSchema(spark, path) == Some(inferred(path)), s"$dir $t")
      assert(footerRead(path) == inferred(path), s"$dir $t")
    }
  }

  test("the footer schema equals Spark's on a multi-file Spark-written directory") {
    val path = tempDir("tables_multi").resolve("orders.parquet").toString
    Tables.load(spark, sf, "orders").repartition(3).write.parquet(path)
    val parts = new java.io.File(path).listFiles().map(_.getName)
    assert(parts.count(_.startsWith("part-")) == 3 && parts.contains("_SUCCESS"))
    assert(footerRead(path) == inferred(path))
    val dir = new java.io.File(path).getParent
    assert(Tables.load(spark, dir, "orders").count() ==
      Tables.load(spark, sf, "orders").count())
  }

  test("a partitioned directory keeps Spark's inference, partition column included") {
    val dir = tempDir("tables_part")
    Tables.load(spark, sf, "orders").write.partitionBy("o_orderstatus")
      .parquet(dir.resolve("orders.parquet").toString)
    val path = dir.resolve("orders.parquet").toString
    assert(Tables.footerSchema(spark, path).isEmpty)
    assert(Tables.load(spark, dir.toString, "orders").schema == inferred(path))
    assert(inferred(path).fieldNames.last == "o_orderstatus")
  }

  test("the footer schema keeps the schema Spark records in a file's row metadata") {
    val path = tempDir("tables_meta").resolve("t.parquet").toString
    val comment: Metadata = new MetadataBuilder().putString("comment", "kept").build()
    spark.range(5).select(col("id").as("id", comment),
        lit(java.time.LocalDateTime.of(2024, 1, 1, 0, 0)).as("ntz"))
      .coalesce(1).write.parquet(path)
    val file = new java.io.File(path).listFiles().filter(_.getName.startsWith("part-")).head
    val conf = spark.sessionState.newHadoopConf()
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(file.toString), conf))
    try assert(reader.getFooter.getFileMetaData.getKeyValueMetaData
      .containsKey("org.apache.spark.sql.parquet.row.metadata"))
    finally reader.close()
    assert(footerRead(path) == inferred(path))
    val got = Tables.footerSchema(spark, path)
    assert(got.get("id").metadata.getString("comment") == "kept")
    // the session infers an unadjusted parquet timestamp as LTZ
    // (Tables.configure); the row metadata keeps Spark's own NTZ type
    assert(got.get("ntz").dataType == TimestampNTZType)
  }

  test("Tables.load of a missing table throws FileNotFoundException") {
    assertThrows[java.io.FileNotFoundException] {
      Tables.load(spark, sf, "no_such_table")
    }
  }
}
