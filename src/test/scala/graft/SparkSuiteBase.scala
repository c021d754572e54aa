package graft

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Shared local session for operator specs (one per forked test JVM). */
object SparkSuiteBase {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", "/tmp/graft-test-warehouse")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sfDir = "/root/testdata/sf0.001"

  /** Deletes `p` and everything under it. */
  def deleteTree(p: Path): Unit = {
    val s = Files.walk(p)
    try s.iterator.asScala.toVector.reverse.foreach(Files.delete)
    finally s.close()
  }
}
