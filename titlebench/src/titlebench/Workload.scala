package titlebench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** What one workload does inside the benchmark JVM. The client is a
  * closed loop: [[op]] returns only when the operation has completed. */
trait Workload {
  /** The op kind the end-to-end latency metrics describe. */
  def mainKind: String

  /** Ops per cycle; a traced run alternates traced and untraced cycles. */
  def cycleLength: Int = 1

  /** The timed phase's op count when it is a fixed schedule; None: ops run
    * until `--seconds` have passed, at least two. */
  def scheduledOps: Option[Int] = None

  /** Every lazy one-time build the first op would otherwise pay, plus the
    * warmup ops. Runs inside the set-up clock. */
  def setup(): Unit

  /** Run timed op number `i`; returns (kind, rows processed). */
  def op(i: Int): (String, Long)

  /** Correctness checks after the timed phase: (checks run, failures). */
  def check(): (Int, Seq[String])

  /** Result fields beyond the op samples (input sizes, index size). */
  def extra(): Map[String, Any] = Map.empty

  /** Per-layer metrics of the traced run. */
  def layerMetrics(ops: Seq[OpSpan], extra: Map[String, Any]): Map[String, Double]
}

object Workload {
  /** Reads a generated TSV directory (`id \t text`): tab-separated, no
    * quoting, so titles pass through byte for byte. */
  def readTsv(spark: SparkSession, schema: String, paths: String*) =
    spark.read.schema(schema).option("sep", "\t").option("quote", "\u0000")
      .option("escape", "\u0000").csv(paths: _*)

  def lines(path: String): Iterator[String] =
    scala.io.Source.fromFile(path, "UTF-8").getLines()

  /** The `(id, text)` records of a generated TSV file or directory. */
  def records(path: String): Iterator[(Long, String)] = {
    val f = new java.io.File(path)
    val files = if (f.isFile) Array(f)
      else f.listFiles().filter(_.getName.endsWith(".tsv")).sortBy(_.getName)
    files.iterator.flatMap(x => lines(x.getPath)).map { l =>
      val t = l.indexOf('\t'); (l.substring(0, t).toLong, l.substring(t + 1))
    }
  }

  /** Sum of regular-file sizes under `dir` and how many there are. */
  def du(dir: java.io.File): (Long, Int) =
    if (!dir.exists()) (0L, 0)
    else if (dir.isFile) (dir.length(), 1)
    else Option(dir.listFiles()).toSeq.flatten.map(du)
      .foldLeft((0L, 0)) { case ((b, n), (b2, n2)) => (b + b2, n + n2) }

  /** ns per item of each kernel: one untimed pass of every kernel, then
    * `passes` rounds that time one pass of each in turn (interleaved, so a
    * slow period of the host hits all kernels alike); the median pass
    * counts. Each timed pass is recorded as a kernel span. */
  def nsPerItem(trace: Trace, passes: Int)(
      kernels: (String, Long, () => Unit)*): Map[String, Double] = {
    kernels.foreach(_._3())
    val times = kernels.map(_ => mutable.ArrayBuffer.empty[Long])
    (1 to passes).foreach { _ =>
      kernels.zip(times).foreach { case ((name, items, body), ts) =>
        val t0 = System.nanoTime()
        trace.kernel(name, "probe", items)(body())
        ts += System.nanoTime() - t0
      }
    }
    kernels.zip(times).map { case ((name, items, _), ts) =>
      name -> ts.sorted.apply(ts.length / 2).toDouble / math.max(1L, items)
    }.toMap
  }
}
