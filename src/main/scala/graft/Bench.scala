package graft
import org.apache.spark.sql.SparkSession
object Bench {
  /** The previous round's per-query steady map, extracted from a
    * BENCH_r*.json in any of its three observed shapes: this main's raw
    * one-line JSON, the driver's pretty-printed wrapper holding an
    * unescaped copy, or (the r15 failure mode, now spec-pinned) ONLY
    * the ESCAPED `\"queries\"` fragment inside the wrapper's "tail"
    * string — the driver's ~2000-char window had cut the raw line's
    * head, so the wrapper's `parsed` field arrived null and the escaped
    * tail was all that survived. `[^}]*` scopes to the queries object
    * so the qNN-keyed noise/regress maps cannot pollute the baseline;
    * the inner regex tolerates the escaping backslashes. */
  private[graft] def parsePrevSteady(txt: String): Option[Map[String, Double]] =
    "\"queries\"\\s*:\\s*\\{([^}]*)\\}".r.findFirstMatchIn(txt)
      .orElse(
        "\\\\\"queries\\\\\"\\s*:\\s*\\{([^}]*)\\}".r.findFirstMatchIn(txt))
      .map { m =>
        "\\\\?\"(q\\d+)\\\\?\"\\s*:\\s*([-0-9.eE]+)".r
          .findAllMatchIn(m.group(1))
          .map(g => g.group(1) -> g.group(2).toDouble).toMap
      }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = session()
    // every run below, warmups included, is recorded; the records are
    // written after spark.stop(), which drains the listener bus
    val profile = graft.tools.Profile.attach(spark)
    // INPUT WRITER FINGERPRINT (r16 verdict directive 5): two rounds of
    // regress-map entries traced to driver testdata REGENERATION — same
    // seed-42 content, different parquet writer encodings, different IO
    // profile. Record created_by + per-column encodings of a reference
    // input so round-over-round per-query deltas compare like-for-like:
    // full detail on stderr, an 8-hex digest in the JSON (a changed
    // digest between rounds says "the inputs' physical layout moved —
    // read the regress map against that, not as plan drift").
    val inputFp: String = try {
      import scala.jdk.CollectionConverters._
      val rd = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(s"$sfDir/lineitem.parquet"),
          spark.sessionState.newHadoopConf()))
      try {
        val fm = rd.getFooter.getFileMetaData
        val created = Option(fm.getCreatedBy).getOrElse("unknown")
        val encodings = rd.getFooter.getBlocks.get(0).getColumns.asScala
          .map(c => c.getPath.toDotString + "=" +
            c.getEncodings.asScala.map(_.name).toSeq.sorted.mkString("+"))
          .toSeq.sorted.mkString(";")
        val detail = s"$created|$encodings"
        val digest = java.security.MessageDigest.getInstance("MD5")
          .digest(detail.getBytes("UTF-8"))
          .take(4).map("%02x".format(_)).mkString
        System.err.println(s"[bench] input_fp=$digest $detail")
        digest
      } finally rd.close()
    } catch {
      case e: Throwable =>
        System.err.println(s"[bench] input fingerprint failed: $e")
        "na"
    }
    // Warm the JVM once (codegen, parquet reader, shuffle machinery) so the
    // per-query numbers measure steady-state throughput, not first-query
    // JIT compilation. Uses the cheapest real query; not counted.
    val byName = SparkEntry.registry.sortBy(_.name)
    byName.headOption.foreach(q =>
      profile.run(q.name, "warmup")(q.build(spark, sfDir)))
    // Failed runs must never masquerade as timings (r14 verdict: the 2 KB
    // driver tail window drops stderr, so a caught error looked like a
    // 17 s regression). Every once() failure lands here and is emitted as
    // an "err" list inside the JSON on every shed rung.
    val errs = scala.collection.mutable.LinkedHashSet.empty[String]
    // De-noising: host-load swings put ±25% on sub-second queries (r5/r6
    // showed 3x blips on 0.4 s queries that a steady-state retime erased),
    // and the expensive queries fold one-time pipeline-build cost (cached
    // tokenization, derived layouts) into their first run. EVERY query
    // therefore gets ONE more run and reports the min — the steady number
    // measures the query, the first-minus-steady delta (stderr + the JSON
    // noise map) measures the blip/build. Set SPARK_GRAFT_RETIME_UNDER to
    // a seconds threshold to bound bench wall-clock by retiming only
    // queries faster than it.
    val retimeUnder = sys.env.getOrElse("SPARK_GRAFT_RETIME_UNDER",
      "Infinity").toDouble
    // construct + exec of one run (Profile.run: the query function,
    // then a noop write of its frame); a failed run lands in errs
    def checked(q: SparkEntry.Query, run: graft.tools.Profile.Run) = {
      run.error.foreach { e =>
        System.err.println(s"[bench] ${q.name} failed: $e")
        errs += q.id
      }
      run
    }
    def once(q: SparkEntry.Query, phase: String): Double =
      checked(q, profile.run(q.name, phase)(q.build(spark, sfDir))).seconds
    // Steady-to-steady round-over-round comparison (VERDICT r7 directive:
    // never again mix single-shot and steady methodologies in the delta).
    // The previous round's steady map is read from the newest BENCH_r*.json
    // in the working directory (override: SPARK_GRAFT_PREV_BENCH=path);
    // every per-query delta goes to stderr, and the JSON carries the top
    // regressions (steady minus prev-steady > 0.3 s) so the driver's tail
    // window can tell a real regression from a host-load blip directly.
    val prevSteady: Map[String, Double] = {
      val path = sys.env.get("SPARK_GRAFT_PREV_BENCH").orElse {
        val cwd = new java.io.File(".")
        Option(cwd.listFiles()).getOrElse(Array.empty)
          .map(_.getName).filter(_.matches("BENCH_r\\d+\\.json"))
          .sortBy(n => n.stripPrefix("BENCH_r").stripSuffix(".json").toInt)
          .lastOption
      }
      path.flatMap { p =>
        try Bench.parsePrevSteady(new String(java.nio.file.Files
          .readAllBytes(java.nio.file.Paths.get(p)), "UTF-8"))
        catch { case e: Throwable =>
          System.err.println(s"[bench] previous bench $p unreadable, " +
            s"running with no baseline: $e")
          None
        }
      }.getOrElse(Map.empty)
    }
    // SELF-ADJUDICATION (r15 verdict directive 2): two rounds in a row a
    // judge had to retime the regress map by hand and found only host
    // noise. Any query whose steady would ENTER the regress map
    // (steady − prev-steady > 0.3 s) gets 3 extra reps here, and the
    // MEDIAN of all its runs is recorded — so a surviving regress entry
    // means 5-rep-confirmed drift, and blips that recover are named in
    // "noise_adjudicated" instead. ~10 s of extra wall per flagged
    // query, zero when the round is clean.
    val adjudicated = scala.collection.mutable.LinkedHashSet.empty[String]
    // Layout-backed queries (derived lakes, persisted index families,
    // streaming replays through Queries.cachedLayout) would fold their
    // one-time layout build into the first run no matter how slow it is
    // (BENCH_r14 recorded q132's 17 s streaming-replay build as its
    // steady number). Profile.firstRun records a first run that touched
    // a layout as `build` and runs the query again, and such a query is
    // always retimed, so both timed runs measure the steady read path.
    val timed = byName.map { q =>
      val first = checked(q,
        profile.firstRun(q.name, "first")(q.build(spark, sfDir)))
      val t1 = first.seconds
      var runs: List[Double] = List(t1)
      if (t1 < retimeUnder || first.touchedLayout) runs ::= once(q, "retime")
      var steady = runs.min
      prevSteady.get(q.id).foreach { p =>
        if (steady - p > 0.3) {
          (1 to 3).foreach(_ => runs ::= once(q, "adjudicate"))
          val sorted = runs.sorted
          val median = sorted(sorted.length / 2)
          System.err.println(f"[bench] retime ${q.name}: steady ${steady}%.3fs " +
            f"vs prev ${p}%.3fs — ${runs.length} reps, median ${median}%.3fs")
          if (median - p <= 0.3) adjudicated += q.id
          steady = median
        }
      }
      (q, t1, steady)
    }
    // keyed by qNN id, the JSON key
    val results = timed.map { case (q, _, s) => q.id -> s }.toMap
    // The driver stores only the final ~2000 chars of output; a 64-query map
    // with full names and 9-digit values overflows that window and the JSON
    // head gets truncated (BENCH_r03 arrived unparseable). Keys are therefore
    // the qNN prefix (unique by construction) and values 3-decimal seconds —
    // ~1.6 kB for 124 queries, leaving ~300 chars of headroom. Both numbers
    // per query (single-shot + steady) go to stderr; the JSON carries the
    // steady map plus the LARGEST single-shot-minus-steady deltas ("noise",
    // top 8 over 0.15 s) so round-over-round diffs can tell a regression
    // from a host-load blip without overflowing the window.
    def f(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    // Trailing zeros are dead weight against the window ("0.30" → "0.3",
    // "1.00" → "1"): ~50 chars across 160 queries — exactly the margin
    // that decides whether the regress map fits next to the full map.
    def fTrim(v: Double, dec: Int): String = {
      val s = String.format(java.util.Locale.ROOT, s"%.${dec}f", Double.box(v))
      if (s.contains('.'))
        s.reverse.dropWhile(_ == '0').reverse.stripSuffix(".")
      else s
    }
    timed.foreach { case (q, t1, s) =>
      val d = prevSteady.get(q.id)
        .map(p => s" prev=${f(p)}s delta=${f(s - p)}s").getOrElse("")
      System.err.println(s"[bench] ${q.name} first=${f(t1)}s steady=${f(s)}s$d") }
    val qs = results.map { case (k, v) => "\"" + k + "\":" + f(v) }
      .mkString("{", ",", "}")
    val noise = timed.map { case (q, t1, s) => (q.id, t1 - s) }
      .filter(_._2 > 0.15).sortBy(-_._2).take(8)
      .map { case (k, d) => "\"" + k + "\":" + f(d) }.mkString("{", ",", "}")
    val regress = timed.map { case (q, _, s) =>
        (q.id, s - prevSteady.getOrElse(q.id, s))
      }.filter(_._2 > 0.3).sortBy(-_._2).take(5)
      .map { case (k, d) => "\"" + k + "\":" + f(d) }.mkString("{", ",", "}")
    val prevTotal = timed.flatMap { case (q, _, _) => prevSteady.get(q.id) }.sum
    val total = if (results.nonEmpty) results.values.sum else 0.0
    // Hard guard on the driver's ~2000-char tail window: shed detail in
    // stages rather than let the JSON head get truncated (the BENCH_r03
    // failure mode). Round 12 re-ordered the ladder after BENCH_r11
    // arrived WITHOUT the regress map (the 153-query 3-decimal map +
    // vsPrev overflowed 1950 and the old ladder dropped vsPrev before
    // precision): the round-over-round regress map is the verdict's
    // self-regression watch, so precision and the noise map shed FIRST
    // — a compact vsPrev (1-decimal prev total, 2-decimal regress, top
    // 4, short sf) survives down to the last rung.
    def qsMap(dec: Int): String = results
      .map { case (k, v) => "\"" + k + "\":" + fTrim(v, dec) }
      .mkString("{", ",", "}")
    // prev_steady_total covers only the shared queries (new queries have no
    // prev number), so value - prev_steady_total is NOT the round delta when
    // the surface grew — the per-query regress map is the honest signal.
    def f1(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.1f", Double.box(v))
    val regressShort = timed.map { case (q, _, s) =>
        (q.id, s - prevSteady.getOrElse(q.id, s))
      }.filter(_._2 > 0.3).sortBy(-_._2).take(4)
      .map { case (k, d) => "\"" + k + "\":" + fTrim(d, 2) }
      .mkString("{", ",", "}")
    val vsPrev =
      if (prevSteady.isEmpty) ""
      else s""","prev_steady_total":${f(prevTotal)},"regress":$regress"""
    val vsPrevShort =
      if (prevSteady.isEmpty) ""
      else s""","prev_steady_total":${f1(prevTotal)},"regress":$regressShort"""
    val sfShort = new java.io.File(sfDir).getName
    // Always emitted, on every shed rung: a failed run can never masquerade
    // as a timing (empty list = every query materialized cleanly).
    val errJson = "\"err\":" + errs.map("\"" + _ + "\"").mkString("[", ",", "]")
    // Adjudicated blips ride the top rungs (they explain a clean regress
    // map); shed with the noise map — the regress entries that REMAIN are
    // the 5-rep-confirmed signal and survive to the last rung via vsPrev.
    val adjJson =
      if (adjudicated.isEmpty) ""
      else ",\"noise_adjudicated\":" +
        adjudicated.map("\"" + _ + "\"").mkString("[", ",", "]")
    // big/small compression at a given steady-seconds cutoff, with the
    // adjudication COUNT only (names ride the stderr retime lines):
    // queries at or above the cutoff keep a 1-decimal entry, the tail
    // compresses to its count + sum so the total still reconciles
    def bigSmallRung(cut: Double): String = {
      val big = results.filter(_._2 >= cut)
      val small = results.filter(_._2 < cut)
      val bigMap = big.map { case (k, v) =>
          "\"" + k + "\":" + fTrim(v, 1) }
        .mkString("{", ",", "}")
      val adjN =
        if (adjudicated.isEmpty) "" else s""","adj_n":${adjudicated.size}"""
      s"""{"metric":"total","value":${f(total)},"unit":"sec","fp":"$inputFp",$errJson,"queries":$bigMap,"small_n":${small.size},"small_sum":${f1(small.values.sum)}$adjN$vsPrevShort,"sf":"$sfShort"}"""
    }
    val candidates = Seq(
      s"""{"metric":"total","value":${f(total)},"unit":"sec","fp":"$inputFp",$errJson,"queries":$qs,"noise":$noise$adjJson$vsPrev,"sf":"$sfDir"}""",
      s"""{"metric":"total","value":${f(total)},"unit":"sec","fp":"$inputFp",$errJson,"queries":$qs$adjJson$vsPrev,"sf":"$sfDir"}""",
      s"""{"metric":"total","value":${f(total)},"unit":"sec","fp":"$inputFp",$errJson,"queries":${qsMap(2)}$adjJson$vsPrevShort,"sf":"$sfShort"}""",
      // regress sheds LAST (the r11 lesson, round-12 re-fix: at 160
      // queries even the trimmed 2-decimal map + vsPrevShort overflows
      // by ~10 chars, so the old ladder silently dropped the regress
      // map again — 1-decimal per-query precision is worth losing
      // before the round-over-round self-regression watch is)
      s"""{"metric":"total","value":${f(total)},"unit":"sec","fp":"$inputFp",$errJson,"queries":${qsMap(1)}$vsPrevShort,"sf":"$sfShort"}""",
      s"""{"metric":"total","value":${f(total)},"unit":"sec","fp":"$inputFp",$errJson,"queries":${qsMap(2)},"sf":"$sfShort"}""",
      // 175-query rung (round 14): even the 1-decimal full map overflows
      // the window, but dropping the whole map loses the per-query
      // visibility every verdict's plan audit reads. Keep every query
      // at ≥ 0.25 s steady (the ones a reader can act on) and compress
      // the sub-0.25 s tail to its count + sum — the total still
      // reconciles, and the regress watch still rides vsPrevShort.
      {
        val big = results.filter(_._2 >= 0.25)
        val small = results.filter(_._2 < 0.25)
        val bigMap = big.map { case (k, v) =>
            "\"" + k + "\":" + fTrim(v, 1) }
          .mkString("{", ",", "}")
        // the adjudication marker in its compact form (one comma string
        // — it explains a clean regress map, so it outranks per-query
        // precision at this rung; the full retime details are in stderr)
        val adjShort =
          if (adjudicated.isEmpty) ""
          else s""","adj":"${adjudicated.mkString(",")}""""
        s"""{"metric":"total","value":${f(total)},"unit":"sec","fp":"$inputFp",$errJson,"queries":$bigMap,"small_n":${small.size},"small_sum":${f1(small.values.sum)}$adjShort$vsPrevShort,"sf":"$sfShort"}"""
      },
      bigSmallRung(0.25),
      // a uniformly SLOW host pushes many steady times over the 0.25 s
      // cutoff and overflows even the big/small rung (the r17 in-round
      // bench did exactly that at 191 queries: the whole map shed and
      // the line arrived bare) — raise the cutoff before giving up the
      // map entirely: the expensive tail is precisely what the
      // verdict's plan audit reads
      bigSmallRung(0.5),
      bigSmallRung(1.0),
      s"""{"metric":"total","value":${f(total)},"unit":"sec","fp":"$inputFp",$errJson$vsPrevShort,"sf":"$sfShort"}""")
    // 1880, not 1950: the driver's ~2000-char tail window also swallows
    // whatever sbt prints AFTER this line ("[success] Total time: …",
    // ~65 chars) — at 1950 the JSON head falls out of the window, which
    // is exactly how BENCH_r15.json arrived with parsed=null and only
    // the escaped tail fragment (the r16 prev-bench reader recovers that
    // shape, but the emitted line should stop producing it).
    println(candidates.find(_.length <= 1880).getOrElse(candidates.last))
    spark.stop()
    try profile.write(java.nio.file.Paths.get("target", "bench_profile.jsonl"))
    catch { case e: Throwable =>
      System.err.println(s"[bench] profile sidecar not written: $e") }
  }

  /** The bench session: `local[SPARK_GRAFT_CPUS]` (default 4) with
    * SPARK_GRAFT_SHUFFLE shuffle partitions (default: the cpu count).
    * graft.tools.Profile builds its session here too, so a profile
    * number and a bench number come from one configuration. */
  private[graft] def session(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val shuffle = sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", cpus)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", shuffle)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
