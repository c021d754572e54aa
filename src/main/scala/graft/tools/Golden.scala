package graft.tools

import org.apache.spark.sql.SparkSession

/** Rewrites checked-in golden snapshots from their recompute, byte for
  * byte in the checked-in format, after an intended change; `GoldenSpec`
  * is the drift check. A local session starts only for `sketch`.
  * Usage: runMain graft.tools.Golden <name>…|all */
object Golden {
  def main(args: Array[String]): Unit = {
    val all = graft.Golden.all
    def usage = s"usage: Golden <name>…|all; registered: ${all.map(_.name).mkString(" ")}"
    require(args.nonEmpty, usage)
    val picked =
      if (args.contains("all")) all
      else args.toSeq.map(n => all.find(_.name == n)
        .getOrElse(throw new IllegalArgumentException(s"unknown golden $n; $usage")))
    lazy val spark = {
      val s = SparkSession.builder()
        .master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
      s.sparkContext.setLogLevel("ERROR")
      s
    }
    try picked.foreach { g =>
      println(s"wrote ${g.write(spark)} rows to ${g.path}")
    } finally SparkSession.getDefaultSession.foreach(_.stop())
  }
}
