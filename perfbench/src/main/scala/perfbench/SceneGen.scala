package perfbench

import graft.sources.NcClassic
import graft.sources.NcClassic._

/** Scene geometry shared by the generator and the pipeline.
  * `window`/`stride`: sliding patch size and step (stride < window);
  * `polyBlock`: ice-chart polygon size in pixels; `amsrCell`: AMSR2 cell
  * size in SAR pixels; `distThr`: land-distance mask threshold. */
final case class SceneSpec(h: Int, w: Int, window: Int, stride: Int,
                           bandLines: Int, polyBlock: Int = 8,
                           amsrCell: Int = 16, distThr: Int = 4) {
  require(stride < window && window % stride == 0)
  val channels: Int = 14
  def windowsL: Int = (h - window) / stride + 1
  def windowsS: Int = (w - window) / stride + 1
  def patchesCut: Int = windowsL * windowsS
  def nPolys: Int = (h / polyBlock) * (w / polyBlock)
}

/** Seeded NetCDF-classic scene generator. Each scene file `sc<k>.nc`
  * holds two SAR bands, `polygon_id`, `distance_map`, a coarse
  * 14-channel AMSR2 grid, the ice chart as `polygon_codes` text and the
  * acquisition day. The seed places a land band (masked through
  * `distance_map`) and NaN swaths in the SAR bands, so fewer patches are
  * kept than cut; [[keptPatches]] predicts the kept count from the same
  * arithmetic. `chart` selects the ice-chart revision: a re-delivered
  * scene differs from its first delivery only in `polygon_codes`. */
final class SceneGen(seed: Long, spec: SceneSpec) {
  import spec._

  val codesHeader = "id;CT;CA;SA;FA;CB;SB;FB;CC;SC;FC"

  private def rng(k: Int, salt: Long) =
    new java.util.Random(seed * 1000003L + k * 7919L + salt)

  /** (land columns, NaN line swath, NaN sample swath) for scene k. The
    * seed places them; the amount of work does not depend on it: the
    * masked land columns stay inside the first stride block and each
    * swath inside one interior stride block (lines: any, samples: the
    * right half), so with window = 2 × stride every scene loses one
    * window column to land and two window rows and columns to the
    * swaths. */
  def layout(k: Int): (Int, (Int, Int), (Int, Int)) = {
    val r = rng(k, 1)
    val land = r.nextInt(stride - distThr + 1)
    def swath(firstBlock: Int, blocks: Int) =
      (stride * (firstBlock + r.nextInt(blocks)) + r.nextInt(stride - 2), 1 + r.nextInt(2))
    val lineSw = swath(1, h / stride - 2)
    val sampSw = swath(w / stride / 2, w / stride / 2 - 1)
    (land, lineSw, sampSw)
  }

  def day(k: Int): Int = 19000 + k

  /** Pixel (l, s) is masked: near land or inside a NaN swath. */
  def masked(k: Int, l: Int, s: Int): Boolean = {
    val (land, (la, ln), (sa, sn)) = layout(k)
    s - land < distThr || (l >= la && l < la + ln) || (s >= sa && s < sa + sn)
  }

  /** Sliding windows of scene k that hold no masked pixel. */
  def keptPatches(k: Int): Int = {
    var n = 0
    for (i <- 0 until windowsL; j <- 0 until windowsS) {
      var ok = true
      var l = i * stride
      while (ok && l < i * stride + window) {
        var s = j * stride
        while (ok && s < j * stride + window) { ok = !masked(k, l, s); s += 1 }
        l += 1
      }
      if (ok) n += 1
    }
    n
  }

  def codes(k: Int, chart: Int): Seq[String] = {
    val r = rng(k, 100 + chart)
    val stages = Array(0, 81, 83, 85, 87, 91, 93, 95, 96)
    codesHeader +: (1 to nPolys).map { id =>
      val ct = 10 * r.nextInt(11)
      val ca = 10 * r.nextInt(6); val cb = 10 * r.nextInt(4)
      val cc = if (r.nextInt(3) == 0) -9 else 10 * r.nextInt(3)
      def st() = stages(r.nextInt(stages.length))
      Seq(id, ct, ca, st(), -9, cb, st(), -9, cc, st(), -9).mkString(";")
    }
  }

  def bytes(k: Int, chart: Int): Array[Byte] = {
    val r = rng(k, 2)
    val (land, (la, ln), (sa, sn)) = layout(k)
    val ph1 = r.nextDouble() * 3; val ph2 = r.nextDouble() * 3
    def grid(f: (Int, Int) => Double): Array[Double] = {
      val a = new Array[Double](h * w)
      var l = 0
      while (l < h) { var s = 0; while (s < w) { a(l * w + s) = f(l, s); s += 1 }; l += 1 }
      a
    }
    val sar1 = grid((l, s) =>
      if (l >= la && l < la + ln) Double.NaN
      else math.sin(l * 0.11 + ph1) * math.cos(s * 0.07) + 2.0 + r.nextGaussian() * 0.05)
    val sar2 = grid((l, s) =>
      if (s >= sa && s < sa + sn) Double.NaN
      else math.cos(l * 0.05) * math.sin(s * 0.13 + ph2) + 2.0 + r.nextGaussian() * 0.05)
    val poly = grid((l, s) => ((l / polyBlock) * (w / polyBlock) + s / polyBlock + 1).toDouble)
    val dist = grid((_, s) => math.max(0, s - land).toDouble)
    val al = h / amsrCell; val as = w / amsrCell
    val amsr = new Array[Double](channels * al * as)
    for (c <- 0 until channels; i <- 0 until al; j <- 0 until as)
      amsr((c * al + i) * as + j) =
        150.0 + 5 * c + 20 * math.sin(i * 0.9 + c * 0.3 + ph1) * math.cos(j * 0.7 + ph2)
    val dims = Seq("line" -> h, "sample" -> w, "channel" -> channels,
      "aline" -> al, "asample" -> as)
    val gatts = Seq(
      NcAttr("scene", NcChar, 0, s"sc$k", Array.empty),
      NcAttr("day", NcInt, 1, "", Array(day(k).toDouble)),
      NcAttr("polygon_codes", NcChar, 0, codes(k, chart).mkString("\n"), Array.empty))
    NcClassic.bytes(2, dims, gatts, Seq(
      (VarSpec("sar_primary", NcDouble, Seq(0, 1)), sar1),
      (VarSpec("sar_secondary", NcDouble, Seq(0, 1)), sar2),
      (VarSpec("polygon_id", NcInt, Seq(0, 1)), poly),
      (VarSpec("distance_map", NcDouble, Seq(0, 1)), dist),
      (VarSpec("amsr2_tb", NcDouble, Seq(2, 3, 4)), amsr)))
  }

  def write(dir: java.io.File, k: Int, chart: Int): Unit = {
    dir.mkdirs()
    java.nio.file.Files.write(new java.io.File(dir, s"sc$k.nc").toPath, bytes(k, chart))
  }

  /** The same seed gives byte-identical files: regenerate and compare. */
  def sameBytes(dir: java.io.File, k: Int, chart: Int): Boolean =
    java.util.Arrays.equals(
      java.nio.file.Files.readAllBytes(new java.io.File(dir, s"sc$k.nc").toPath),
      bytes(k, chart))
}
