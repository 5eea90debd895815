package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.IceCodes
import graft.operators.{Ledger, Masking, Regrid, Tiling}
import graft.sources.{NcClassic, NcSceneCodec}

/** The ASID-v2 build chain over generated scene files, composed from the
  * engine's public functions: scene decode → mask → ice-chart decode
  * join → AMSR2 regrid → sliding tiling + NaN reject → dense patches and
  * sample names. Each layer call sits in a [[Tracer]] span. */
object ScenePipeline {

  val tableDdl: String =
    """(sample_id BIGINT NOT NULL, scene STRING, day BIGINT, pi BIGINT,
      | pj BIGINT, sample_name STRING, patch ARRAY<DOUBLE>,
      | amsr ARRAY<DOUBLE>, ice ARRAY<DOUBLE>)""".stripMargin
  val columns: Seq[String] =
    Seq("sample_id", "scene", "day", "pi", "pj", "sample_name", "patch", "amsr", "ice")

  /** Executor-side read of the non-raster variables of each scene file:
    * the AMSR2 grid as long rows keyed `scene/channel` (positions in SAR
    * pixels), the ice-chart text rows and the acquisition day. */
  private def sideVars(spark: SparkSession, dir: String, scenes: Seq[Int],
                       spec: SceneSpec): (DataFrame, DataFrame, DataFrame) = {
    import spark.implicits._
    val half = spec.amsrCell / 2; val cell = spec.amsrCell
    val recs = spark.createDataset(scenes).repartition(math.min(scenes.size, 4))
      .mapPartitions(_.map { k =>
        val raf = new java.io.RandomAccessFile(new java.io.File(dir, s"sc$k.nc"), "r")
        try {
          val prefix = new Array[Byte](math.min(raf.length(), 65536L).toInt)
          raf.readFully(prefix)
          val hd = NcClassic.parseHeader(prefix, raf.length())
            .getOrElse(throw new java.io.IOException(s"sc$k.nc is not NetCDF classic"))
          val v = hd.varNamed("amsr2_tb").get
          val Array(nc, al, as) = v.dimIds.map(hd.dims(_).length)
          val grid = NcClassic.readFixedSlice(raf, hd, v, 0L, nc * al * as)
          val text = hd.gatts.find(_.name == "polygon_codes").get.text
          val day = hd.gatts.find(_.name == "day").get.nums(0).toLong
          (s"sc$k", day, text, nc, al, as, grid)
        } finally raf.close()
      })
    val amsr = recs.flatMap { case (sc, _, _, nc, al, as, g) =>
      for (c <- 0 until nc; i <- 0 until al; j <- 0 until as)
        yield (s"$sc/$c", half + i * cell, half + j * cell, g((c * al + i) * as + j))
    }.toDF("scene", "line", "sample", "value")
    val codes = recs.flatMap { case (sc, _, t, _, _, _, _) => t.split("\n").map(sc -> _) }
      .toDF("scene", "row")
    val meta = recs.map { case (sc, d, _, _, _, _, _) => (sc, d) }.toDF("scene", "day")
    (amsr, codes, meta)
  }

  /** Build the sample rows of `scenes` (files `sc<k>.nc` in `dir`; the
    * directory's files are numbered below `nFiles`). */
  def build(spark: SparkSession, tr: Tracer, dir: String, scenes: Seq[Int],
            nFiles: Int, spec: SceneSpec): DataFrame = {
    import spec._
    val names = scenes.map(k => s"sc$k")
    val (pixels, amsr, codes, meta) = tr.span("sources.scene_decode") {
      val px = spark.read.format("graft-scene")
        .option("codec", classOf[NcSceneCodec].getName).option("path", dir)
        .option("scenes", nFiles).option("height", h).option("width", w)
        .option("bandLines", bandLines).load()
        .filter(col("scene").isin(names: _*))
      val (a, c, m) = sideVars(spark, dir, scenes, spec)
      val out = (tr.mat(px), tr.mat(a), tr.mat(c), tr.mat(m))
      if (tr.enabled) {
        tr.count("rows", out._1.count().toDouble)
        tr.count("partitions", out._1.rdd.getNumPartitions.toDouble)
      }
      out
    }
    val masked = tr.span("operators.mask") {
      val mask = Masking.unionMasks(
        Masking.distanceMask(col("distance_map"), distThr),
        isnan(col("sar_primary")), isnan(col("sar_secondary")))
      val out = tr.mat(Masking.applyMask(pixels, mask, Seq("sar_primary", "sar_secondary")))
      if (tr.enabled) {
        val n = out.count().toDouble
        tr.count("masked_frac", out.filter(col("sar_primary").isNull ||
          col("sar_secondary").isNull).count() / n)
      }
      out
    }
    val iced = tr.span("functions.ice_codes") {
      val parsed = IceCodes.parsePolygonCodes(codes)
      val enc = IceCodes.withOneHotBinary(parsed, col("ct"), col("ca"), col("sa"),
          col("cb"), col("sb"), col("cc"), col("sc"))
        .select(col("scene"), col("poly_id").cast("int").as("polygon_id"),
          col("r0"), col("r1"), col("r2"), col("r3"))
      tr.mat(masked.join(broadcast(enc), Seq("scene", "polygon_id")))
    }
    val amsrPatch = tr.span("operators.regrid") {
      val chans = amsr.select(col("scene")).distinct()
      val tl = Regrid.targetAxis(chans, lit(h), stride)
      val ts = Regrid.targetAxis(chans, lit(w), stride)
      val grid = tr.mat(Regrid.bilinear(amsr, tl, ts))
      if (tr.enabled) tr.count("cells_out", grid.count().toDouble)
      val half = stride / 2
      tr.mat(grid
        .select(substring_index(col("scene"), "/", 1).as("scene"),
          substring_index(col("scene"), "/", -1).cast("int").as("ch"),
          ((col("line") - half) / stride).cast("int").as("pi"),
          ((col("sample") - half) / stride).cast("int").as("pj"), col("value"))
        .groupBy(col("scene"), col("pi"), col("pj"))
        .agg(sort_array(collect_list(struct(col("ch"), col("value")))).as("_v"))
        .select(col("scene"), col("pi"), col("pj"),
          transform(col("_v"), x => x.getField("value")).as("amsr")))
    }
    tr.span("operators.tiling") {
      val keys = Seq("scene", "pi", "pj")
      val tiled = Tiling.sliding(iced, window, stride, lit(h), lit(w))
        .withColumn("lr", col("line") - col("pi") * stride)
        .withColumn("sr", col("sample") - col("pj") * stride)
      val area = (window * window).toDouble
      val keep = Tiling.aggregatePatches(tiled, window, Seq("sar_primary", "sar_secondary"),
        Seq(sum(col("r0")).as("i0"), sum(col("r1")).as("i1"),
          sum(col("r2")).as("i2"), sum(col("r3")).as("i3")))
      val dense = Tiling.patchMatrixDense(tiled.join(keep.select(keys.map(col): _*), keys, "left_semi"),
        window, "sar_primary", line = "lr", sample = "sr")
      val named = Tiling.sampleNames(dense.join(keep, keys).join(amsrPatch, keys, "left"))
      val out = tr.mat(named.join(meta, Seq("scene")).select(
        (substring(col("scene"), 3, 9).cast("long") * 1000000L + col("seq")).as("sample_id"),
        col("scene"), col("day"), col("pi").cast("long").as("pi"),
        col("pj").cast("long").as("pj"), col("sample_name"),
        // x / 1.0 is exact; it makes the elements nullable, as the
        // table's array<double> type (the append requires equal types)
        transform(flatten(col("patch")), x => x / lit(1.0)).as("patch"), col("amsr"),
        array(Seq("i0", "i1", "i2", "i3").map(c => (col(c) / area).cast("double")): _*).as("ice")))
      if (tr.enabled) {
        val kept = out.count().toDouble
        val cut = (scenes.size * patchesCut).toDouble
        tr.count("patches_cut", cut); tr.count("patches_kept", kept)
        tr.count("keep_ratio", kept / cut)
      }
      out
    }
  }

  /** Append samples to a catalog table and record the scenes in the
    * processed-files ledger. */
  def commit(spark: SparkSession, tr: Tracer, samples: DataFrame, table: String,
             root: String, ledgerPath: String, scenes: Seq[Int]): Unit = {
    Lake.append(tr, samples.select(columns.map(col): _*), table, root)
    tr.span("operators.ledger") {
      import spark.implicits._
      Ledger.commit(scenes.map(k => s"sc$k").toDF("scene"), ledgerPath)
    }
  }

  /** Scene keys `scenes` that the ledger has not seen yet. */
  def unprocessed(spark: SparkSession, tr: Tracer, ledgerPath: String,
                  scenes: Seq[Int]): Seq[String] = tr.span("operators.ledger") {
    import spark.implicits._
    val cands = scenes.map(k => s"sc$k").toDF("scene")
    val ledger =
      if (new java.io.File(ledgerPath).exists()) spark.read.parquet(ledgerPath)
      else Seq.empty[String].toDF("scene")
    Ledger.unprocessed(cands, ledger, Seq("scene")).as[String].collect().toSeq
  }

  /** Sliding patch (pi, pj) of a tumbling-aligned subset, re-indexed as
    * a tumbling patch with its 2-D matrix rebuilt from the flat lake
    * column. */
  def tumblingPatches(samples: DataFrame, spec: SceneSpec): DataFrame = {
    val r = spec.window / spec.stride
    val w = spec.window
    samples.filter(col("pi") % r === 0 && col("pj") % r === 0)
      .select(col("scene"), (col("pi") / r).cast("long").as("pi"),
        (col("pj") / r).cast("long").as("pj"),
        transform(sequence(lit(0), lit(w - 1)),
          i => slice(col("patch"), i * w + 1, lit(w))).as("patch"))
  }
}
