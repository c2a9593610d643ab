package graft.tables

import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._
import graft.SparkSpec

/** Writes to id-bearing tables stamp parquet field ids in a per-write
  * scope: concurrent appends from ONE session into two such tables must
  * both stamp every new file, and the caller's own
  * `fieldId.write.enabled` must be exactly as it was — no shared flag
  * flipped and restored around a write that another writer can race.
  */
class FieldIdWriteSpec extends SparkSpec {

  private val flag = "spark.sql.parquet.fieldId.write.enabled"

  private val idSchema = StructType(Seq("id" -> LongType,
      "name" -> StringType).zipWithIndex.map { case ((n, t), i) =>
    StructField(n, t, metadata =
      new MetadataBuilder().putLong("parquet.field.id", i + 1L).build())
  })

  private def rows(from: Long, n: Int): java.util.List[Row] =
    (from until from + n).map(i => Row(i, s"name-$i")).asJava

  /** Top-level field ids in one file's parquet footer (None = unstamped). */
  private def footerIds(file: String): Seq[Option[Int]] = {
    val in = HadoopInputFile.fromPath(new org.apache.hadoop.fs.Path(file),
      spark.sparkContext.hadoopConfiguration)
    val r = ParquetFileReader.open(in)
    try r.getFooter.getFileMetaData.getSchema.getFields.asScala.toSeq
      .map(f => Option(f.getId).map(_.intValue()))
    finally r.close()
  }

  test("two concurrent appends from one session into two id-bearing " +
       "tables both stamp field ids; the caller's flag is unchanged") {
    val flag0 = spark.conf.getOption(flag)
    val tables = Seq("a", "b").map(t => ManagedTable.create(
      spark.createDataFrame(rows(0L, 10), idSchema), tmpDir(s"fidw-$t")))
    val before = tables.map(_.toDF.inputFiles.toSet)
    (1 to 4).foreach { round =>
      // plain frames (no id metadata): the table schema supplies the ids
      val appends = tables.zipWithIndex.map { case (t, i) =>
        Future(t.append(spark.range(round * 100L + i * 1000L,
            round * 100L + i * 1000L + 50L, 1L, 3)
          .selectExpr("id", "concat('name-', id) AS name")))
      }
      appends.foreach(Await.result(_, Duration.Inf))
    }
    assert(spark.conf.getOption(flag) == flag0,
      "the caller's fieldId.write.enabled must be left as it was")
    tables.zip(before).foreach { case (t, old) =>
      val fresh = t.toDF.inputFiles.toSet -- old
      assert(fresh.size >= 4, s"expected new files, got ${fresh.size}")
      fresh.foreach { f =>
        assert(footerIds(f) == Seq(Some(1), Some(2)),
          s"$f lacks parquet field ids: ${footerIds(f)}")
      }
      assert(t.toDF.count() == 10L + 4 * 50L)
    }
  }
}
