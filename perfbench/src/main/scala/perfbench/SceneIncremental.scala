package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{MLFeed, Reconstruct, TxLog}
import graft.sources.{LakeCatalog, NcSceneCodec}

/** `scene-incremental`: scenes arrive one at a time into one lake sample
  * table that holds a sliding window of [[Window]] scenes (one day
  * each). Set-up fills the window with one bulk arrival of scenes
  * 0 until [[Window]] and runs [[WarmCycles]] untimed cycles. Every
  * cycle then does the same work on a table of the same size:
  *  - two arrivals, each timed as `ingest`:
  *    - new scene n: the ledger diff, the build chain, a lake append and
  *      a ledger commit; the window slides (a `DELETE` of the oldest
  *      scene); the table is compacted, its log checkpointed and
  *      unreferenced files vacuumed;
  *    - scene n - 1 again, with a revised ice chart (also timed as
  *      `upsert`): the ledger diff (already processed), the build chain
  *      and a `MERGE INTO` upsert;
  *  - `read`: a pruned feed read by date range over the window's days
  *    feeding one training epoch: exact split (computed once), epoch
  *    shuffle key, batch ids and assembled batches, per split;
  *  - `apply`, twice per scene of the window: a pruned read by scene,
  *    reconstructed onto the scene's canvas from its tumbling-aligned
  *    patches.
  * `store_amp` is sampled after each upsert (before the next
  * maintenance) and reported as the median over the measured cycles. */
final class SceneIncremental(ctx: Ctx) extends Workload {
  val spec = SceneSpec(h = 64, w = 64, window = 16, stride = 8, bandLines = 32)
  val Window = 3
  /** Untimed cycles after the initial fill. Cycle times keep falling for
    * minutes as the JIT compiler works through the planner; after one
    * warm cycle the first measured cycle still ran ~20 % slower than the
    * second, after two the measured cycles are closer. */
  val WarmCycles = 2
  val maxCycles = 40
  val minCycles = 2
  /** Scene files: the initial window, the untimed cycles and every
    * measured cycle's new arrival. */
  val MaxScenes = Window + WarmCycles + maxCycles
  val BatchSize = 8
  private val gen = new SceneGen(ctx.seed, spec)
  private lazy val inDir = ctx.dir("in/scenes").getAbsolutePath
  private lazy val reDir = ctx.dir("in/redelivered").getAbsolutePath
  private lazy val kept: Map[Int, Int] =
    (0 until MaxScenes).map(k => k -> gen.keptPatches(k)).toMap
  private val rnd = new java.util.Random(ctx.seed)
  private val table = "graft.db.samples"
  private val name = "db.samples"
  private var root = ""
  private var ledger = ""
  /** The next new scene; the table holds scenes next - Window until next. */
  private var next = 0
  private val upserted = scala.collection.mutable.Set.empty[Int]
  private val amps = scala.collection.mutable.ArrayBuffer.empty[Double]

  private def live: Seq[Int] = (next - Window) until next

  def generate(spark: SparkSession): Unit =
    (0 until MaxScenes).foreach { k =>
      gen.write(new java.io.File(inDir), k, 0)
      gen.write(new java.io.File(reDir), k, 1)
    }

  def bootstrap(spark: SparkSession, rep: Int): Unit = {
    val wh = ctx.dir(s"lake$rep").getAbsolutePath
    ledger = ctx.path(s"ledger$rep")
    spark.conf.set("spark.sql.catalog.graft", classOf[LakeCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.db"): Unit
    spark.sql(s"CREATE TABLE $table ${ScenePipeline.tableDdl} USING `graft-lake` " +
      "TBLPROPERTIES ('statsCol'='day', 'strStatsCol'='scene')"): Unit
    root = s"$wh/db/samples"
  }

  /** Fill the window in one arrival, then [[WarmCycles]] cycles whose
    * samples are dropped. */
  def warmUp(spark: SparkSession): Unit = {
    val log = new OpLog
    log.time("ingest") {
      val ks = 0 until Window
      val todo = ScenePipeline.unprocessed(spark, ctx.tr, ledger, ks)
      val s = ScenePipeline.build(spark, ctx.tr, inDir, ks, MaxScenes, spec)
      ScenePipeline.commit(spark, ctx.tr, s, table, root, ledger, ks)
      todo == ks.map(k => s"sc$k")
    }
    next = Window
    (0 until WarmCycles).foreach(i => cycle(spark, i - WarmCycles, log))
    amps.clear()
    if (log.failed > 0) throw new IllegalStateException(s"warm-up failed: ${log.errors}")
  }

  def cycle(spark: SparkSession, i: Int, log: OpLog): Unit = {
    arrival(spark, next, log)
    next += 1
    upsert(spark, next - 2, log)
    amps += Lake.storeAmp(root)
    feed(spark, live, i + WarmCycles, log)
    // the first reconstruction after the feed read runs slower; two
    // passes over the window put the median among the steady ones
    for (_ <- 0 until 2; k <- live) reconstruct(spark, k, log)
  }

  /** The arrival of new scene k: the chain, the append and the ledger
    * commit, the window slide and the table maintenance. */
  private def arrival(spark: SparkSession, k: Int, log: OpLog): Unit = log.time("ingest") {
    val tr = ctx.tr
    val todo = ScenePipeline.unprocessed(spark, tr, ledger, Seq(k))
    val s = ScenePipeline.build(spark, tr, inDir, Seq(k), MaxScenes, spec)
    ScenePipeline.commit(spark, tr, s, table, root, ledger, Seq(k))
    tr.span("plans.lake_delete") {
      // the delete's key probe joins a path read of the table, whose
      // default stats column is not in the probe's output
      Lake.withoutRuntimeFilter(spark) {
        spark.sql(s"DELETE FROM $table WHERE scene = 'sc${k - Window}'"): Unit
      }
    }
    maintain(spark)
    todo == Seq(s"sc$k")
  }

  /** The re-delivered scene k, an arrival too: already in the ledger, so
    * its rebuilt samples replace its rows through `MERGE INTO`. */
  private def upsert(spark: SparkSession, k: Int, log: OpLog): Unit = log.time("ingest", "upsert") {
    val tr = ctx.tr
    val todo = ScenePipeline.unprocessed(spark, tr, ledger, Seq(k))
    val s = ScenePipeline.build(spark, tr, reDir, Seq(k), MaxScenes, spec)
    tr.span("plans.lake_merge") {
      val before = Lake.dataFiles(root)
      s.select(ScenePipeline.columns.map(col): _*).createOrReplaceTempView("arrival")
      spark.sql(s"""MERGE INTO $table AS t USING arrival AS s
        ON t.sample_id = s.sample_id
        WHEN MATCHED THEN UPDATE SET *
        WHEN NOT MATCHED THEN INSERT *"""): Unit
      if (tr.enabled) tr.count("files_rewritten", (Lake.dataFiles(root) -- before).size.toDouble)
    }
    upserted += k
    todo.isEmpty
  }

  /** Compaction, log checkpoint and a vacuum of the files no live
    * snapshot references, so every cycle starts from the same store. */
  private def maintain(spark: SparkSession): Unit = {
    val tr = ctx.tr
    tr.span("operators.lake_compact") {
      val before = Lake.dataFiles(root)
      spark.sql(s"CALL graft.system.optimize(table => '$name', target_rows => 1000000)")
        .collect(): Unit
      if (tr.enabled) tr.count("mb_rewritten",
        (Lake.dataFiles(root) -- before).toSeq.map(new java.io.File(_).length()).sum / 1e6)
    }
    tr.span("operators.lake_checkpoint") {
      spark.sql(s"CALL graft.system.checkpoint(table => '$name')").collect(): Unit
    }
    tr.span("operators.lake_vacuum") {
      spark.sql(s"CALL graft.system.vacuum(table => '$name', retain_versions => 0, " +
        "grace_ms => 0)").collect(): Unit
    }
  }

  /** A pruned read: the log replay as its own span when tracing, then
    * the filtered scan. */
  private def scan(spark: SparkSession, filter: Column): DataFrame = {
    val tr = ctx.tr
    if (tr.enabled) tr.span("sources.lake_log") {
      TxLog.resolveLiveLocal(s"$root/log", s"$root/ckpt", -1L)
      tr.count("versions_replayed", Lake.versionsPastCheckpoint(root).toDouble)
    }
    tr.span("sources.lake_scan") {
      val df = spark.table(table).filter(filter)
      val out = tr.mat(df)
      if (tr.enabled) {
        tr.count("rows", out.count().toDouble)
        tr.count("rows_read", Lake.scanRowsRead(df).toDouble)
      }
      out
    }
  }

  /** One training epoch over the samples of the days of `scenes`: each
    * split serves floor(n/bs) full batches, n from the generator. */
  private def feed(spark: SparkSession, scenes: Seq[Int], epoch: Int,
                   log: OpLog): Unit = log.time("read") {
    val tr = ctx.tr
    val samples = scan(spark,
      col("day").between(gen.day(scenes.min).toLong, gen.day(scenes.max).toLong))
    tr.span("operators.mlfeed") {
      val n = scenes.map(kept).sum.toLong
      val nTrain = math.floor(n * 0.8).toLong
      // the epoch computes the split once and serves both parts from it
      val split = MLFeed.exactSplit(samples, Seq(MLFeed.permuteKey(col("sample_id"))),
        0.8, keyDomain = Some(MLFeed.PermuteKeyDomain)).localCheckpoint()
      val key = MLFeed.epochShuffleKey(col("sample_id"), epoch)
      Seq("train" -> nTrain, "valid" -> (n - nTrain)).forall { case (part, expect) =>
        val ids = MLFeed.batchIds(split.filter(col("split") === part), Seq(key),
          BatchSize, keyDomain = Some(MLFeed.PermuteKeyDomain))
        val got = MLFeed.assembleBatches(ids, key, Seq("sample_name", "patch", "amsr", "ice"))
          .select(size(col("samples")), hash(col("samples"))).collect()
        tr.count("batches", got.length.toDouble)
        got.length == expect / BatchSize && got.forall(_.getInt(0) == BatchSize)
      } && n > 0
    }
  }

  /** Scene k's canvas from its tumbling-aligned patches. */
  private def reconstruct(spark: SparkSession, k: Int, log: OpLog): Unit = log.time("apply") {
    Lake.withoutRuntimeFilter(spark) {
      import spark.implicits._
      val tr = ctx.tr
      val pats = ScenePipeline.tumblingPatches(scan(spark, col("scene") === s"sc$k"), spec)
      val canvas = tr.span("operators.reconstruct") {
        tr.mat(Reconstruct.onCanvas(Reconstruct.explodePatches(pats, spec.window),
          Seq(s"sc$k").toDF("scene"), lit(spec.h), lit(spec.w)))
      }
      canvas.agg(count(lit(1)), sum(col("value"))).head().getLong(0) == spec.h.toLong * spec.w
    }
  }

  private def digest(df: DataFrame): (Long, Long) = {
    val r = df.agg(count(lit(1)), sum(hash(ScenePipeline.columns.map(col): _*).cast("long")))
      .head()
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  def check(spark: SparkSession, log: OpLog): Unit = {
    val arrived = 0 until next
    log.check("scene files are byte-identical for the seed",
      arrived.forall(k => gen.sameBytes(new java.io.File(inDir), k, 0)) &&
        upserted.forall(k => gen.sameBytes(new java.io.File(reDir), k, 1)))
    val liveDf = spark.table(table).select(ScenePipeline.columns.map(col): _*)
    val perScene = liveDf.groupBy(col("scene")).count().collect()
      .map(x => x.getString(0) -> x.getLong(1)).toMap
    log.check("the table holds exactly the window's scenes",
      perScene.keySet == live.map(k => s"sc$k").toSet)
    log.check("kept patches per scene equal the generator's prediction",
      live.forall(k => perScene.getOrElse(s"sc$k", 0L) == kept(k)))
    log.check("kept patches are fewer than cut patches",
      live.map(kept).sum < live.size * spec.patchesCut)
    // the final table equals a from-scratch build of the final scene set
    val scratch = Seq(
      (inDir, live.filterNot(upserted.contains)), (reDir, live.filter(upserted.contains)))
      .filter(_._2.nonEmpty)
      .map { case (d, ks) => ScenePipeline.build(spark, ctx.tr, d, ks, MaxScenes, spec) }
      .reduce(_ unionByName _).select(ScenePipeline.columns.map(col): _*).localCheckpoint()
    log.check("final table equals a from-scratch build",
      liveDf.count() == scratch.count() && liveDf.exceptAll(scratch).isEmpty)
    val led = spark.read.parquet(ledger).groupBy(col("scene")).count().collect()
    log.check("the ledger lists each scene exactly once",
      led.forall(_.getLong(1) == 1L) &&
        led.map(_.getString(0)).toSet == arrived.map(k => s"sc$k").toSet)
    // pruned reads equal the same filter over an unpruned read
    val full = spark.table(table).localCheckpoint()
    def pick = live(rnd.nextInt(Window))
    val probes = Seq(col("scene") === s"sc$pick",
      col("day").between(gen.day(pick).toLong, gen.day(pick).toLong + 1),
      col("scene") === s"sc$pick")
    log.check("pruned reads equal unpruned reads",
      probes.forall(f => digest(spark.table(table).filter(f)) == digest(full.filter(f))))
    // kept pixels round-trip through Reconstruct to the decoded source
    val px = Reconstruct.explodePatches(ScenePipeline.tumblingPatches(liveDf, spec), spec.window)
    val src = spark.read.format("graft-scene")
      .option("codec", classOf[NcSceneCodec].getName).option("path", inDir)
      .option("scenes", MaxScenes).option("height", spec.h).option("width", spec.w)
      .option("bandLines", spec.bandLines).load()
      .filter(col("scene").isin(live.map(k => s"sc$k"): _*))
      .select(col("scene"), col("line"), col("sample"), col("sar_primary"))
    val j = Lake.withoutRuntimeFilter(spark) {
      px.join(src, Seq("scene", "line", "sample"), "left")
        .agg(count(lit(1)), sum(when(col("sar_primary").isNull ||
          col("value") =!= col("sar_primary"), 1).otherwise(0)))
        .head()
    }
    log.check("reconstructed pixels equal the decoded source",
      j.getLong(0) > 0 && j.getLong(1) == 0L)
  }

  def storeAmp: Double = if (amps.isEmpty) Double.NaN else Stats.median(amps.toSeq)

  def native(log: OpLog): Seq[(String, Double, String)] = {
    val mpx = spec.h * spec.w / 1e6
    Seq(
      ("ingest_p50_s", log.p("ingest", 0.5), "s"), ("ingest_p90_s", log.p("ingest", 0.9), "s"),
      ("read_p50_s", log.p("read", 0.5), "s"), ("read_p90_s", log.p("read", 0.9), "s"),
      ("upsert_p50_s", log.p("upsert", 0.5), "s"), ("store_amp", storeAmp, "ratio"),
      ("build_mpx_per_s", mpx / log.p("ingest", 0.5), "Mpx/s"),
      ("apply_mpx_per_s", mpx / log.p("apply", 0.5), "Mpx/s"))
  }
}
