package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Benchmark driver, one workload per process:
  *
  * {{{
  *   Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *        --work <run dir> --data <bundled input dir> --out <result file>
  * }}}
  *
  * One Spark session at `local[4]`, one driver thread, closed loop: each
  * operation starts when the previous one ends. Set-up (session start,
  * catalog and table bootstrap) is repeated [[SetupReps]] times; its
  * median plus the workload's warm-up is reported as set-up. A full
  * collection follows the warm-up and every cycle ([[liveMb]]).
  * With `--trace 1` traced cycles alternate with untraced reference
  * cycles and the per-layer table is reported per traced cycle. The
  * result goes to `--out` as JSON; spans go next to it. */
object Main {
  val SetupReps = 3
  val Cores = 4

  /** (name, unit) of every per-layer metric, in report order. */
  val perLayer: Seq[(String, String)] = Seq(
    "spark.planning_s" -> "s", "spark.jobs" -> "count", "spark.tasks" -> "count",
    "spark.driver_gap_s" -> "s", "spark.executor_run_s" -> "s",
    "spark.executor_cpu_s" -> "s", "spark.shuffle_write_mb" -> "MB",
    "spark.shuffle_read_mb" -> "MB", "spark.spill_mb" -> "MB", "spark.gc_s" -> "s",
    "spark.task_failures" -> "count",
    "sources.scene_decode.self_s" -> "s", "sources.scene_decode.rows" -> "count",
    "sources.scene_decode.partitions" -> "count",
    "sources.lake_append.self_s" -> "s", "sources.lake_append.files" -> "count",
    "sources.lake_append.mb" -> "MB",
    "sources.lake_scan.self_s" -> "s", "sources.lake_scan.bytes_read" -> "bytes",
    "sources.lake_scan.rows_read_per_row_returned" -> "ratio",
    "sources.lake_log.self_s" -> "s", "sources.lake_log.versions_replayed" -> "count",
    "operators.mask.self_s" -> "s", "operators.mask.masked_frac" -> "ratio",
    "functions.ice_codes.self_s" -> "s",
    "operators.regrid.self_s" -> "s", "operators.regrid.cells_out" -> "count",
    "operators.tiling.self_s" -> "s", "operators.tiling.patches_cut" -> "count",
    "operators.tiling.patches_kept" -> "count", "operators.tiling.keep_ratio" -> "ratio",
    "operators.ledger.self_s" -> "s",
    "operators.mlfeed.self_s" -> "s", "operators.mlfeed.batches" -> "count",
    "operators.reconstruct.self_s" -> "s",
    "plans.lake_merge.self_s" -> "s", "plans.lake_merge.jobs" -> "count",
    "plans.lake_merge.files_rewritten" -> "count", "plans.lake_delete.self_s" -> "s",
    "operators.lake_compact.self_s" -> "s", "operators.lake_compact.mb_rewritten" -> "MB",
    "operators.lake_checkpoint.self_s" -> "s", "operators.lake_vacuum.self_s" -> "s",
    "operators.wet.self_s" -> "s", "operators.wet.docs" -> "count",
    "operators.wet.mb_in" -> "MB", "operators.wet.decode_errors" -> "count",
    "functions.url_robots.self_s" -> "s", "functions.url_robots.dropped" -> "count",
    "operators.dedup.self_s" -> "s", "operators.dedup.candidate_pairs" -> "count",
    "operators.dedup.dup_pairs" -> "count",
    "operators.curation.self_s" -> "s",
    "operators.bpe_train.self_s" -> "s", "operators.bpe_train.rounds" -> "count",
    "operators.bpe_train.jobs" -> "count",
    "operators.suffix_array.self_s" -> "s", "operators.suffix_array.rounds" -> "count",
    "operators.suffix_array.jobs" -> "count",
    "tracing_overhead_s" -> "s")

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val out = new java.io.File(a("out"))
    val ctx = new Ctx(a("seed").toLong, new java.io.File(a("work")), new java.io.File(a("data")),
      new Tracer(traced))
    val wl: Workload = workload match {
      case "scene-incremental" => new SceneIncremental(ctx)
      case "crawl-curate" => new CrawlCurate(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    // set-up = session start + catalog/table bootstrap (repeated, median)
    // + the workload's warm-up (JIT, codegen, class loading)
    val setupS = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    for (rep <- 0 until SetupReps) {
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = session(ctx, s"r$rep")
      val t1 = System.nanoTime()
      if (rep == 0) wl.generate(spark) // inputs from the seed: not set-up
      val t2 = System.nanoTime()
      wl.bootstrap(spark, rep)
      setupS += ((t1 - t0) + (System.nanoTime() - t2)) / 1e9
    }
    ctx.tr.enabled = false
    val w0 = System.nanoTime()
    wl.warmUp(spark)
    val warmS = (System.nanoTime() - w0) / 1e9
    liveMb(): Unit
    ctx.tr.attach(spark)

    val log = new OpLog
    val cycleWall = mutable.ArrayBuffer.empty[Double]
    val untracedWall = mutable.ArrayBuffer.empty[Double]
    val live = mutable.ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    var i = 0
    // run at least until the deadline, for the workload's minimum number
    // of (traced) cycles, and until every operation kind has a sample
    // (bounded, in case an operation keeps failing)
    val hardStop = deadline + 60L * 1000000000L
    def more = i < wl.maxCycles && (System.nanoTime() < deadline ||
      ((!log.covers(Seq("ingest", "read", "apply")) || cycleWall.size < wl.minCycles) &&
        System.nanoTime() < hardStop))
    while (more) {
      // a traced run alternates untraced reference cycles (even) with
      // traced ones (odd), so both see the same warm-up trend
      ctx.tr.enabled = traced && i % 2 == 1
      ctx.tr.op = i
      val c0 = System.nanoTime()
      wl.cycle(spark, i, log)
      val dt = (System.nanoTime() - c0) / 1e9
      if (traced && i % 2 == 0) untracedWall += dt else cycleWall += dt
      live += liveMb()
      i += 1
    }
    ctx.tr.enabled = false
    ctx.tr.drain()

    val measureS = (System.nanoTime() - t0) / 1e9
    val c0 = System.nanoTime()
    wl.check(spark, log)
    val checkS = (System.nanoTime() - c0) / 1e9
    val amp = wl.storeAmp
    val rssMb = peakRssMb()

    val metrics: Seq[(String, Double, String)] =
      if (traced) layerMetrics(ctx.tr, cycleWall.size,
        Stats.median(cycleWall.toSeq) - Stats.median(untracedWall.toSeq))
      else Seq(
        ("setup_s", Stats.median(setupS.toSeq) + warmS, "s"),
        ("live_mb", Stats.median(live.toSeq), "MB"),
        ("ok_rate", 1.0 - log.failed.toDouble / math.max(log.attempted, 1), "ratio"),
        ("ingest_p50_s", log.p("ingest", 0.5), "s"),
        ("ingest_p90_s", log.p("ingest", 0.9), "s"),
        ("read_p50_s", log.p("read", 0.5), "s"),
        ("read_p90_s", log.p("read", 0.9), "s"),
        ("apply_p50_s", log.p("apply", 0.5), "s"),
        ("store_amp", amp, "ratio"))
    val native = if (traced) Nil else wl.native(log) ++ Seq(
      ("error_rate", log.failed.toDouble / math.max(log.attempted, 1), "ratio"),
      ("peak_rss_mb", rssMb, "MB"))
    val samples = log.samples.map { case (k, v) =>
      s"${Json.str(k)}:${v.map(x => Json.num(math.rint(x * 1000) / 1000)).mkString("[", ",", "]")}"
    }.mkString(",")

    if (traced) ctx.tr.writeSpans(new java.io.File(out.getPath + ".spans.jsonl"))
    def obj(ms: Seq[(String, Double, String)]) = ms.map { case (n, v, u) =>
      s"""${Json.str(n)}:{"value":${Json.num(v)},"unit":${Json.str(u)}}"""
    }.mkString("{", ",", "}")
    val json =
      s"""{"attempted":${log.attempted},"failed":${log.failed},""" +
        s""""metrics":${obj(metrics)},"native":${obj(native)},""" +
        s""""samples":{$samples},"cycles":$i,""" +
        s""""setup_samples_s":${setupS.map(Json.num).mkString("[", ",", "]")},""" +
        s""""warm_up_s":${Json.num(warmS)},"measure_s":${Json.num(measureS)},""" +
        s""""check_s":${Json.num(checkS)},""" +
        s""""jvm_s":${Json.num((System.currentTimeMillis() -
          java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3)},""" +
        s""""errors":${log.errors.map(Json.str).mkString("[", ",", "]")}}"""
    java.nio.file.Files.write(out.toPath, json.getBytes("UTF-8"))
    spark.stop()
  }

  def session(ctx: Ctx, tag: String): SparkSession = {
    SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
    SparkSession.builder()
      .withExtensions(new graft.GraftExtensions)
      .master(s"local[$Cores]")
      .appName(s"perfbench-$tag")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", ctx.path("spark-local"))
      .config("spark.sql.warehouse.dir", ctx.path("warehouse"))
      .getOrCreate()
  }

  /** Memory the process holds on to: heap plus non-heap (metaspace,
    * code cache) in use right after a full collection. Called between
    * cycles, outside any timed operation; the collection also gives
    * every cycle the same clean heap to start from. */
  def liveMb(): Double = {
    // the first collection lets Spark's cleaner see dropped RDDs and
    // broadcasts; their blocks are freed by the second
    System.gc(); Thread.sleep(300); System.gc()
    val m = java.lang.management.ManagementFactory.getMemoryMXBean
    (m.getHeapMemoryUsage.getUsed + m.getNonHeapMemoryUsage.getUsed) / 1048576.0
  }

  /** Peak resident set of this process (VmHWM). */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  /** Total length covered by a set of (start, end) intervals. */
  def unionLength(iv: Seq[(Long, Long)]): Long = {
    var sum = 0L; var curS = 0L; var curE = Long.MinValue
    iv.filter(x => x._2 > x._1).sortBy(_._1).foreach { case (a, b) =>
      if (a > curE) { if (curE > curS) sum += curE - curS; curS = a; curE = b }
      else curE = math.max(curE, b)
    }
    if (curE > curS) sum += curE - curS
    sum
  }

  /** Per-layer table from the traced cycles: self time and counts per
    * span name, Spark totals per layer and overall, each per cycle. */
  def layerMetrics(tr: Tracer, cycles: Int, overhead: Double): Seq[(String, Double, String)] = {
    val spans = tr.allSpans
    val totals = tr.totals
    val children = spans.groupBy(_.parent)
    def covered(s: Span): Long = unionLength(children.getOrElse(s.id, Nil)
      .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs))))
    def subtree(s: Span): Seq[Span] = s +: children.getOrElse(s.id, Nil).flatMap(subtree)
    val v = mutable.LinkedHashMap.empty[String, Double]
    val per = math.max(cycles, 1).toDouble
    spans.groupBy(_.name).foreach { case (name, ss) =>
      v(s"$name.self_s") = ss.map(s => s.endNs - s.startNs - covered(s)).sum / 1e9 / per
      ss.flatMap(_.counts.keys).distinct.foreach { k =>
        val xs = ss.flatMap(_.counts.get(k))
        v(s"$name.$k") =
          if (k.endsWith("_frac") || k.endsWith("_ratio")) xs.sum / xs.size else xs.sum / per
      }
      val ts = ss.flatMap(s => totals.get(s.id))
      v(s"$name.jobs") = ts.map(_.jobs).sum / per
      if (name == "sources.lake_scan") {
        v(s"$name.bytes_read") = ts.map(_.bytesRead).sum / per
        val returned = ss.flatMap(_.counts.get("rows")).sum
        v(s"$name.rows_read_per_row_returned") =
          if (returned > 0) ss.flatMap(_.counts.get("rows_read")).sum / returned else 0.0
      }
    }
    val all = totals.values.toSeq
    def tot(f: SparkTotals => Double) = all.map(f).sum / per
    v("spark.planning_s") = all.map(_.planningMs).sum / 1e3 / per
    v("spark.jobs") = tot(_.jobs.toDouble)
    v("spark.tasks") = tot(_.tasks.toDouble)
    // root span wall minus the part of it covered by any running job
    v("spark.driver_gap_s") = spans.filter(_.parent == 0).map { r =>
      val jobs = subtree(r).flatMap(s => totals.get(s.id)).flatMap(_.jobIntervalsMs)
        .map { case (a, b) => (math.max(a, r.startMs), math.min(b, r.endMs)) }
      (r.endNs - r.startNs) / 1e9 - unionLength(jobs) / 1e3
    }.sum / per
    v("spark.executor_run_s") = tot(_.runMs / 1e3)
    v("spark.executor_cpu_s") = tot(_.cpuNs / 1e9)
    v("spark.shuffle_write_mb") = tot(_.shuffleWrite / 1e6)
    v("spark.shuffle_read_mb") = tot(_.shuffleRead / 1e6)
    v("spark.spill_mb") = tot(_.spill / 1e6)
    v("spark.gc_s") = tot(_.gcMs / 1e3)
    v("spark.task_failures") = tot(_.taskFailures.toDouble)
    v("tracing_overhead_s") = overhead
    perLayer.map { case (n, u) => (n, v.getOrElse(n, 0.0), u) }
  }
}
