package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.core.{Geom, GridIndex, PixelCodec}
import graft.gen.Synth
import graft.operators._

/** Every PolyIndex consumer against a brute-force loop over every pixel
  * with Geom.pointInPolygon: random concave and holed polygons (plus a
  * second part sharing a poly_id) over one image cut into multi-cell
  * tiles, with a large holed rectangle that leaves fully interior tiles
  * so the interior-tile shortcut runs too. Band 0 holds a unique id per
  * pixel, so each consumer's output names exactly the pixels it took. */
class PolyIndexSpec extends AnyFunSuite with SeededProps {
  import PolyIndexSpec._
  implicit lazy val spark: SparkSession = SparkTestSession.spark
  import spark.implicits._

  private val TileSize = 16

  private def scene(rng: Synth.Rng): Scene = {
    val w = 36 + rng.nextInt(17); val h = 36 + rng.nextInt(17)
    // half-integer origins put pixel centers ON cell edges, where only
    // the half-open ownership rule keeps a pixel from counting twice
    def origin = rng.nextInt(41) - 20 + 0.5 * rng.nextInt(2)
    val xMin = origin; val yMax = origin
    val ids = Array.tabulate(w * h)(_.toFloat)
    val bands = Array(ids, Array.tabulate(w * h)(i => (i % w).toFloat),
      Array.tabulate(w * h)(i => (i / w).toFloat))
    val img = ImageRow("img", PixelCodec.encode(PixelCodec.FmtRawLe, w, h, bands),
      w, h, PixelCodec.FmtRawLe, "c", 0L, xMin, yMax, 1.0)
    def margin = 6 * rng.nextDouble() - 3
    val (bx0, bx1) = (xMin + margin, xMin + w - margin)
    val (by0, by1) = (yMax - h + margin, yMax - margin)
    val hx = bx0 + 4 + rng.nextDouble() * (bx1 - bx0 - 12)
    val hy = by0 + 4 + rng.nextDouble() * (by1 - by0 - 12)
    val big = PolyRow(0L, 0, Array(
      Array(Pt(bx0, by0), Pt(bx1, by0), Pt(bx1, by1), Pt(bx0, by1)),
      Array(Pt(hx, hy), Pt(hx + 3.3, hy), Pt(hx + 3.3, hy + 2.7), Pt(hx, hy + 2.7))),
      1, "big", 0.0)
    // concave stars, every other one holed; the last is a second part of
    // poly 1 so (poly_id, part) ordering and per-part classes matter
    val stars = (0 until 3 + rng.nextInt(2)).map { k =>
      val cx = xMin + rng.nextDouble() * w; val cy = yMax - rng.nextDouble() * h
      val n = 5 + rng.nextInt(7)
      val rMin = 2 + 4 * rng.nextDouble()
      val ext = Array.tabulate(n) { v =>
        val a = 2 * math.Pi * (v + 0.4 * rng.nextDouble()) / n
        val r = if (v % 2 == 0) rMin + 14 * rng.nextDouble() else rMin
        Pt(cx + r * math.cos(a), cy + r * math.sin(a))
      }
      val s = 0.5 * rMin
      val rings =
        if (k % 2 == 0) Array(ext)
        else Array(ext, Array(Pt(cx - s, cy - s), Pt(cx + s, cy - s), Pt(cx + s, cy + s), Pt(cx - s, cy + s)))
      val last = k == 2
      PolyRow(if (last) 1L else k + 1L, if (last) 1 else 0, rings, 10 + k, s"star$k", 0.0)
    }
    val cellSize = 1 << (2 + rng.nextInt(4)) // 4..32: cells smaller than, or misaligned with, tiles
    Scene(img, big +: stars, Tiler.resForCellSize(cellSize.toDouble))
  }

  test("every PolyIndex consumer accepts exactly the brute-force PIP pixel set") {
    var interiorPairs = 0
    var multiCellTiles = 0
    forSeeds(8) { rng =>
      val sc = scene(rng)
      val images = Seq(sc.img).toDS
      val polys = sc.polys.toDS
      val cellRes = sc.cellRes
      val covers = sc.rings.map(r => GridIndex.coverPolygon(r, cellRes).toSet)

      val mt = Tiler.multiTiles(images, TileSize, cellRes)
      val mtRows = mt.collect()
      multiCellTiles += mtRows.groupBy(t => (t.tx, t.ty)).count(_._2.length > 1)
      interiorPairs += (for (t <- mtRows; i <- sc.polys.indices if covers(i)(t.cell_id)) yield
        Geom.rectInsidePolygon(Geom.BBox(t.x_min + 0.5, t.y_max - t.th + 0.5,
          t.x_min + t.tw - 0.5, t.y_max - 0.5), sc.rings(i))).count(identity)

      // ownership ∧ PIP: each pixel once per polygon part containing it
      val pip = for ((row, col, id) <- sc.pixels; i <- sc.polys.indices if sc.inside(i, row, col))
        yield (i, id)

      val samples = Training.extractSamples(mt, polys, cellRes).collect()
        .map(s => (s.label, s.features(0).toInt)).toSeq
      assert(samples.sorted == pip.map { case (i, id) => (sc.polys(i).cls, id) }.sorted,
        "extractSamples")

      val tiles = Tiler.tiles(images, TileSize, cellRes).filter(_.band == 0)
      val hist = ZonalStats.histogram(tiles, polys, cellRes)
        .as[(Long, Int, Float, Long)].collect()
        .map { case (pid, _, v, n) => (pid, v.toInt) -> n }.toMap
      val histBrute = pip.groupBy { case (i, id) => (sc.polys(i).poly_id, id) }
        .map { case (k, v) => k -> v.size.toLong }
      assert(hist == histBrute, "ZonalStats.histogram")

      // rasterize: PIP only over the whole tile row, last (poly_id, part) wins
      val order = sc.polys.indices.sortBy(i => (sc.polys(i).poly_id, sc.polys(i).part))
      val burned = RasterOps.rasterize(tiles, polys, cellRes, burnClass = true).collect()
      val tileRows = tiles.collect()
      assert(burned.length == tileRows.length)
      val byKey = burned.map(t => (t.tx, t.ty, t.cell_id) -> t.pixels).toMap
      tileRows.foreach { t =>
        val want = Array.tabulate(t.th * t.tw) { p =>
          val (x, y) = (t.x_min + (p % t.tw + 0.5) * t.px, t.y_max - (p / t.tw + 0.5) * t.px)
          order.foldLeft(0f) { (v, i) =>
            if (covers(i)(t.cell_id) && Geom.pointInPolygon(x, y, sc.rings(i))) sc.polys(i).cls.toFloat
            else v
          }
        }
        assert(byKey((t.tx, t.ty, t.cell_id)).sameElements(want), s"rasterize tile ${(t.tx, t.ty)}")
      }

      // GLCM: origin ownership ∧ PIP, partner PIP only; levels == maxVal
      // makes the quantizer the identity on pixel ids
      val dx = rng.nextInt(5) - 2
      val dy = if (dx == 0) 1 + rng.nextInt(2) else rng.nextInt(5) - 2
      val halo = math.max(math.abs(dx), math.abs(dy))
      val levels = 4096
      val pairs = Glcm.pairHistogram(
        Tiler.tiles(images, TileSize, cellRes, halo = halo).filter(_.band == 0), polys, cellRes,
        dx, dy, levels, levels.toFloat, halo, TileSize)
        .as[(Long, Int, Int, Int, Long)].collect()
        .map { case (pid, _, a, b, n) => (pid, a, b) -> n }.toMap
      val pairsBrute = scala.collection.mutable.Map.empty[(Long, Int, Int), Long].withDefaultValue(0L)
      for ((row, col, id) <- sc.pixels; i <- sc.polys.indices) {
        val (pr, pc) = (row + dy, col + dx)
        if (pr >= 0 && pr < sc.img.h && pc >= 0 && pc < sc.img.w &&
          sc.inside(i, row, col) && sc.inside(i, pr, pc)) {
          val pid = sc.polys(i).poly_id; val b = pr * sc.img.w + pc
          pairsBrute((pid, id, b)) += 1; pairsBrute((pid, b, id)) += 1
        }
      }
      assert(pairs == pairsBrute.toMap, s"pairHistogram offset ($dx, $dy)")

      // zonal RGB: the same aggregate over the brute-force pixel rows
      val bruteRgb = pip.map { case (i, id) =>
        (sc.polys(i).poly_id, id.toDouble, (id % sc.img.w).toDouble, (id / sc.img.w).toDouble)
      }.toDF("poly_id", "r", "g", "b")
      val aggs = RasterOps.rgbIndices(col("r") + 1.0, col("g") + 1.0, col("b") + 1.0)
        .map { case (n, e) => round(avg(e), 4).as(n) }
      val want = bruteRgb.groupBy("poly_id").agg(aggs.head, aggs.tail: _*)
      val got = RasterOps.zonalRgbIndices(mt, polys, cellRes, shift = 1.0)
      def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => r.getLong(0) -> (1 until r.length).map(k => if (r.isNullAt(k)) Double.NaN else r.getDouble(k)))
        .toMap
      val (g, w) = (rows(got), rows(want))
      assert(g.keySet == w.keySet, "zonalRgbIndices polygons")
      g.foreach { case (pid, vs) =>
        vs.zip(w(pid)).foreach { case (a, b) =>
          assert((a.isNaN && b.isNaN) || math.abs(a - b) <= 1e-3 * math.max(1.0, math.abs(b)),
            s"zonalRgbIndices poly $pid: $a vs $b")
        }
      }
    }
    assert(interiorPairs > 0, "no fully interior (tile, polygon) pair: shortcut never ran")
    assert(multiCellTiles > 0, "no tile overlapped more than one cell")
  }
}

object PolyIndexSpec {
  final case class Scene(img: ImageRow, polys: Seq[PolyRow], cellRes: Int) {
    val rings: Seq[Geom.Rings] = polys.map(_.rings.map(_.map(q => (q.x, q.y))))
    def center(row: Int, col: Int): (Double, Double) =
      (img.x_min + (col + 0.5) * img.px, img.y_max - (row + 0.5) * img.px)
    /** (row, col, id) of every image pixel. */
    def pixels: Seq[(Int, Int, Int)] =
      for (row <- 0 until img.h; col <- 0 until img.w) yield (row, col, row * img.w + col)
    def inside(i: Int, row: Int, col: Int): Boolean = {
      val (x, y) = center(row, col)
      Geom.pointInPolygon(x, y, rings(i))
    }
  }
}
