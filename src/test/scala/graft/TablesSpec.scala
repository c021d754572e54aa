package graft

import java.nio.file.{Files, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, expr, to_timestamp_ntz}
import org.scalatest.funsuite.AnyFunSuite

/** `Tables` caches each input's parquet schema per JVM; an input
  * rewritten in place under a new layout must be read under the new
  * schema, not the cached one. */
class TablesSpec extends AnyFunSuite {
  import SparkSuiteBase.{deleteTree, spark}

  test("events.parquet rewritten in place (naive micros -> int64 nanos) reads the new values") {
    import spark.implicits._
    val sfDir = Files.createTempDirectory("graft-tables")
    // one parquet file per table, as the testdata ships it
    def writeEvents(df: DataFrame): Unit = {
      val tmp = sfDir.resolve("tmp")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val s = Files.list(tmp)
      val part = try s.iterator.asScala.find(_.toString.endsWith(".parquet")).get
      finally s.close()
      Files.move(part, sfDir.resolve("events.parquet"),
        StandardCopyOption.REPLACE_EXISTING)
      deleteTree(tmp)
    }
    def tsMicros(): Seq[Long] =
      Tables(spark, sfDir.toString, "events").select(expr("unix_micros(ts)"))
        .as[Long].collect().toSeq
    try {
      writeEvents(Seq("2024-01-01 00:00:00").toDF("s")
        .select(to_timestamp_ntz(col("s")).as("ts")))
      assert(tsMicros() == Seq(1704067200000000L))
      writeEvents(Seq(1704153600123456789L).toDF("ts"))
      assert(tsMicros() == Seq(1704153600123456L))
    } finally deleteTree(sfDir)
  }
}
