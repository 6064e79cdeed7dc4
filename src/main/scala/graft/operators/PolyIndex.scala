package graft.operators

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Dataset, Encoder, SparkSession}
import graft.{ImageRow, PolyRow}
import graft.core.{Geom, GridIndex, PixelCodec}

/**
 * The polygon side of every tile x polygon join (SURVEY §2.3, §3.1): the
 * cell-prefilter + point-in-polygon pattern, written once.
 *
 * [[PolyIndex.build]] explodes the polygon layer into its covering grid
 * cells, collects the (cell, polygon part) entries to the driver (bounded,
 * fail-fast — see [[PolyIndex.MaxEntries]]), groups them by cell with
 * rings, packed rings and bbox converted ONCE, and ships the table in a
 * sparkContext broadcast variable. Consumers run a broadcast-VARIABLE map
 * join: one typed map over the tiles looks each tile's `cell_id` up in
 * the table and refines per pixel — no plan-level join, so pixel arrays
 * never round-trip through Tungsten rows per joined pair.
 *
 * Per (tile, entry) pair the probe exposes what every consumer needs:
 *  - [[PolyIndex.Entry.interior]]: every pixel center of the tile is
 *    inside the polygon, so large polygons pay zero per-pixel geometry;
 *  - [[PolyIndex.Cell.rows]] / [[PolyIndex.Cell.cols]]: the contiguous
 *    row and column ranges of the pixels whose center the cell OWNS
 *    (half-open cell bounds, so overlapping tile rows never double-count),
 *    optionally clipped to the entry's bbox;
 *  - [[PolyIndex.Entry.contains]]: the exact per-pixel PIP.
 *
 * The returned plans read the broadcast when they run, so a caller that
 * [[PolyIndex.destroy]]s the index must do so only after they have.
 */
final class PolyIndex private (
    private[operators] val table: Broadcast[java.util.HashMap[Long, PolyIndex.Cell]]) {
  def destroy(): Unit = table.destroy()
}

object PolyIndex {

  /** Hard cap on the driver-held (cell, polygon part) entries: a vector
    * layer whose cell cover exceeds it fails fast instead of OOM-ing the
    * driver. 2^22 entries ~ a few hundred MB of rings at typical ring
    * sizes. */
  val MaxEntries: Int = 1 << 22

  /** One polygon part of the index. `rings` feed the once-per-pair
    * interior test; the per-ring packed (xss, yss) arrays feed the
    * per-pixel PIP (flat-array reads, no Tuple2 chase per vertex). */
  final class Entry(val polyId: Long, val part: Int, val cls: Int,
                    val rings: Geom.Rings) extends Serializable {
    val xss: Array[Array[Double]] = rings.map(_.map(_._1))
    val yss: Array[Array[Double]] = rings.map(_.map(_._2))
    val bbox: Geom.BBox = Geom.bbox(rings)

    /** Exact PIP of one point (decision-identical to Geom.pointInPolygon). */
    @inline def contains(x: Double, y: Double): Boolean =
      Geom.pointInPolygonPacked(x, y, xss, yss)

    /** True when the rect spanned by the tile's pixel CENTERS sits
      * entirely inside the polygon — every center then passes PIP. The
      * bbox pre-check keeps boundary/exterior pairs (the common case)
      * from paying the full ring scans of the containment test. */
    def interior(xMin: Double, yMax: Double, px: Double, tw: Int, th: Int): Boolean = {
      val centers = Geom.BBox(
        xMin + 0.5 * px, yMax - (th - 0.5) * px,
        xMin + (tw - 0.5) * px, yMax - 0.5 * px)
      bbox.x0 <= centers.x0 && centers.x1 <= bbox.x1 &&
        bbox.y0 <= centers.y0 && centers.y1 <= bbox.y1 &&
        Geom.rectInsidePolygon(centers, rings)
    }
  }

  /** An inclusive index range; empty when lo > hi. */
  final case class Span(lo: Int, hi: Int) {
    def isEmpty: Boolean = lo > hi
  }

  /** The clip that clips nothing (ownership only). */
  val Unclipped: Geom.BBox = Geom.BBox(Double.NegativeInfinity,
    Double.NegativeInfinity, Double.PositiveInfinity, Double.PositiveInfinity)

  /** One grid cell of the index: its bounds and the entries whose cover
    * includes it, sorted by (polyId, part). */
  final class Cell(val bounds: Geom.BBox, val entries: Array[Entry]) extends Serializable {

    /** Rows of a tile whose pixel-center y this cell owns (cy in
      * [y0, y1)) and that lies in `clip`'s closed y-range. The predicate
      * is monotone in the row, so scanning the EXACT per-pixel expression
      * from both ends finds the bit-identical acceptance set in O(th). */
    def rows(yMax: Double, px: Double, th: Int, clip: Geom.BBox): Span = {
      def ok(r: Int): Boolean = {
        val cy = yMax - (r + 0.5) * px
        cy >= bounds.y0 && cy < bounds.y1 && cy >= clip.y0 && cy <= clip.y1
      }
      var lo = 0
      while (lo < th && !ok(lo)) lo += 1
      var hi = th - 1
      while (hi >= lo && !ok(hi)) hi -= 1
      Span(lo, hi)
    }

    /** Columns of a tile whose pixel-center x this cell owns (cx in
      * [x0, x1)) and that lies in `clip`'s closed x-range. */
    def cols(xMin: Double, px: Double, tw: Int, clip: Geom.BBox): Span = {
      def ok(c: Int): Boolean = {
        val cx = xMin + (c + 0.5) * px
        cx >= bounds.x0 && cx < bounds.x1 && cx >= clip.x0 && cx <= clip.x1
      }
      var lo = 0
      while (lo < tw && !ok(lo)) lo += 1
      var hi = tw - 1
      while (hi >= lo && !ok(hi)) hi -= 1
      Span(lo, hi)
    }

    /** Calls `f(entry, pixelIndex)` for every pixel of the tile this cell
      * owns and the entry's polygon contains (nodata NOT skipped), entry
      * by entry in (polyId, part) order, row-major within an entry. */
    def foreachOwned(xMin: Double, yMax: Double, px: Double, tw: Int, th: Int)
                    (f: (Entry, Int) => Unit): Unit = {
      val rs = rows(yMax, px, th, Unclipped)
      val cs = cols(xMin, px, tw, Unclipped)
      if (!rs.isEmpty && !cs.isEmpty) {
        var ei = 0
        while (ei < entries.length) {
          val e = entries(ei)
          val inside = e.interior(xMin, yMax, px, tw, th)
          var r = rs.lo
          while (r <= rs.hi) {
            val cy = yMax - (r + 0.5) * px
            var c = cs.lo
            while (c <= cs.hi) {
              if (inside || e.contains(xMin + (c + 0.5) * px, cy)) f(e, r * tw + c)
              c += 1
            }
            r += 1
          }
          ei += 1
        }
      }
    }
  }

  private def ringsOf(p: PolyRow): Geom.Rings = p.rings.map(_.map(q => (q.x, q.y)))

  /** Build the index of `polys` at grid resolution `cellRes` (the
    * resolution the probed tiles were cut at). One Spark job. */
  def build(polys: Dataset[PolyRow], cellRes: Int)
           (implicit spark: SparkSession): PolyIndex = {
    import spark.implicits._
    val covered = polys.flatMap { p =>
      GridIndex.coverPolygon(ringsOf(p), cellRes).map(c => (c, p))
    }.limit(MaxEntries + 1).collect()
    require(covered.length <= MaxEntries,
      s"polygon index exceeds $MaxEntries (cell, polygon) entries — " +
        "coarsen cellRes or shard the polygon layer")
    val table = new java.util.HashMap[Long, Cell]()
    covered.groupBy(_._1).foreach { case (cell, hits) =>
      val entries = hits.map { case (_, p) => new Entry(p.poly_id, p.part, p.cls, ringsOf(p)) }
      table.put(cell, new Cell(GridIndex.cellBounds(cell),
        entries.sortBy(e => (e.polyId, e.part))))
    }
    new PolyIndex(spark.sparkContext.broadcast(table))
  }

  /** Driver-safe bounded collect for small-by-contract feature layers:
    * materializes at most max+1 rows, so a layer over the contract fails
    * FAST with a clear message instead of silently OOM-ing the driver. */
  private def boundedCollect[T](ds: Dataset[T], what: String,
                                max: Int = 1 << 20): Array[T] = {
    val rows = ds.limit(max + 1).collect()
    require(rows.length <= max,
      s"$what layer exceeds the driver-broadcast contract ($max features); " +
        "route it through a cell-keyed broadcast join instead")
    rows
  }

  /** One polygon's clamped pixel window on one image: columns
    * cx0 until cx0 + ww, rows cy0 until cy0 + wh. */
  private[operators] final case class Window(polyId: Long, rings: Geom.Rings,
                                             cx0: Int, cy0: Int, ww: Int, wh: Int)

  /** The image-side polygon windows of the whole-image consumers
    * (snakes, thresh_seg): the polygon layer is collected (bounded,
    * failing as `what`), sorted by poly_id and broadcast; each image
    * keeps the polygons whose `buf`-buffered bbox touches it, decodes
    * `band` once, and calls `f` with the buffered bbox's pixel window,
    * clamped to the image (the reference clamps negative offsets the same
    * way). Empty windows are skipped. */
  private[operators] def imageWindows[T: Encoder](
      images: Dataset[ImageRow], polys: Dataset[PolyRow], what: String,
      band: Int, buf: Double)(f: (ImageRow, Array[Float], Window) => Iterator[T])
     (implicit spark: SparkSession): Dataset[T] = {
    val polyList = boundedCollect(polys, what)
      .map { p => val rings = ringsOf(p); (p.poly_id, rings, Geom.bbox(rings)) }
      .sortBy(_._1)
    val polyB = spark.sparkContext.broadcast(polyList)
    images.flatMap { im =>
      val imgBB = Geom.BBox(im.x_min, im.y_max - im.h * im.px,
        im.x_min + im.w * im.px, im.y_max)
      val hits = polyB.value.filter { case (_, _, bb) =>
        Geom.BBox(bb.x0 - buf, bb.y0 - buf, bb.x1 + buf, bb.y1 + buf)
          .intersects(imgBB)
      }
      if (hits.isEmpty) Iterator.empty
      else {
        val pix = PixelCodec.decode(im.bytes, im.fmt, im.w, im.h).bands(band)
        hits.iterator.flatMap { case (polyId, rings, bb) =>
          val cx0 = math.max(0, math.floor((bb.x0 - buf - im.x_min) / im.px).toInt)
          val cx1 = math.min(im.w - 1, math.ceil((bb.x1 + buf - im.x_min) / im.px).toInt - 1)
          val cy0 = math.max(0, math.floor((im.y_max - (bb.y1 + buf)) / im.px).toInt)
          val cy1 = math.min(im.h - 1, math.ceil((im.y_max - (bb.y0 - buf)) / im.px).toInt - 1)
          val ww = cx1 - cx0 + 1; val wh = cy1 - cy0 + 1
          if (ww <= 0 || wh <= 0) Iterator.empty
          else f(im, pix, Window(polyId, rings, cx0, cy0, ww, wh))
        }
      }
    }
  }
}
