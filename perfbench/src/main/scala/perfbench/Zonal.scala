package perfbench

import java.io.File
import scala.collection.mutable
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.{ImageRow, PolyRow}
import graft.core.{Geom, PixelCodec}
import graft.operators.{Tiler, ZonalStats}

/** Image inputs shared by the three image workloads: a full table, a
  * quarter slice for the width-1 leg, and a polygon layer. */
abstract class ImageWorkload(spark: SparkSession, dir: File, tr: Tracer,
                             polyLayer: Seq[PolyRow]) extends Workload {
  implicit val s: SparkSession = spark
  import spark.implicits._
  val TileSize = 64
  val cellRes: Int = Tiler.resForCellSize(TileSize.toDouble)
  def path(name: String): String = new File(dir, name).getAbsolutePath

  var polys: Dataset[PolyRow] = _
  private var px = Map.empty[Boolean, Long]

  def items(slice: Boolean, kind: Int): Long = px(slice)

  /** Parquet locations of the full table or of the slice. */
  def tableFiles(slice: Boolean): Seq[String]

  /** Image table as the engine reads it (the `shard` column of an
    * ingested table is dropped). */
  def images(slice: Boolean, width: Int): Dataset[ImageRow] = {
    val df = spark.read.parquet(tableFiles(slice): _*)
    (if (df.columns.contains("shard")) df.drop("shard") else df).coalesce(width).as[ImageRow]
  }

  def open(): Unit = {
    polys = spark.createDataset(polyLayer)
    val Array(full, slice) = java.nio.file.Files.readString(
      new File(dir, "items.txt").toPath).trim.split(" ").map(_.toLong)
    px = Map(false -> full, true -> slice)
    images(slice = false, 1).schema
  }

  /** Decode -> tile -> histogram -> stats, collected; the job of both
    * zonal workloads. */
  def zonalJob(width: Int, slice: Boolean): Long = {
    Harness.setWidth(spark, width)
    val tiles = Tiler.tiles(images(slice, width), TileSize, cellRes)
    Harness.fingerprint(ZonalStats.stats(ZonalStats.histogram(tiles, polys, cellRes)).collect())
  }

  /** Engine histogram of a few seeded images vs a driver-side brute force:
    * every pixel centre of every band against every polygon part whose
    * bounding box holds it, with `Geom.pointInPolygon`. */
  def bruteHistogramCheck(seed: Long, nImages: Int): (String, Boolean, String) = {
    val ps = polys.collect().map { p =>
      val rings: Geom.Rings = p.rings.map(_.map(q => (q.x, q.y)))
      (p.poly_id, rings, Geom.bbox(rings))
    }
    // seeded sample: images with a pixel centre inside some polygon (an
    // empty histogram checks nothing), plus one drawn at random
    val meta = spark.read.parquet(tableFiles(false): _*)
      .select("image_id", "x_min", "y_max", "w", "h", "px").collect().sortBy(_.getString(0))
    val covering = meta.filter { r =>
      ps.exists { case (_, rings, bb) =>
        insideCentres(r.getDouble(1), r.getDouble(2), r.getInt(3), r.getInt(4), r.getDouble(5),
          rings, bb).hasNext
      }
    }
    val rng = new graft.gen.Synth.Rng(seed * 31 + 7)
    val pick = ((0 until nImages - 1).flatMap(_ =>
      covering.lift(rng.nextInt(math.max(1, covering.length)))) :+
      meta(rng.nextInt(meta.length))).map(_.getString(0)).distinct
    val imgs = images(slice = false, 4).where(col("image_id").isin(pick: _*))
    val engine = ZonalStats.histogram(Tiler.tiles(imgs, TileSize, cellRes), polys, cellRes)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getFloat(2)) -> r.getLong(3)).toMap
    val brute = mutable.HashMap.empty[(Long, Int, Float), Long]
    imgs.collect().foreach { img =>
      val dec = PixelCodec.decode(img.bytes, img.fmt, img.w, img.h)
      ps.foreach { case (pid, rings, bb) =>
        insideCentres(img.x_min, img.y_max, img.w, img.h, img.px, rings, bb).foreach {
          case (c, row) =>
            var b = 0
            while (b < dec.bands.length) {
              val v = dec.bands(b)(row * img.w + c)
              if (!v.isNaN) {
                val k = (pid, b, v)
                brute(k) = brute.getOrElse(k, 0L) + 1
              }
              b += 1
            }
        }
      }
    }
    val diff = (engine.keySet ++ brute.keySet).count(k => engine.get(k) != brute.get(k))
    ("zonal_vs_brute_pip", diff == 0 && brute.nonEmpty,
      s"${pick.size} images, ${brute.size} histogram cells, $diff differ")
  }

  /** (column, row) of every pixel centre of an image (top-left corner
    * (x0, y1), `w` x `h` pixels of side `px`) that lies in a polygon,
    * visiting only the polygon's bounding box. */
  private def insideCentres(x0: Double, y1: Double, w: Int, h: Int, px: Double,
                            rings: Geom.Rings, bb: Geom.BBox): Iterator[(Int, Int)] = {
    val c0 = math.max(0, math.ceil((bb.x0 - x0) / px - 0.5).toInt)
    val c1 = math.min(w - 1, math.floor((bb.x1 - x0) / px - 0.5).toInt)
    val r0 = math.max(0, math.ceil((y1 - bb.y1) / px - 0.5).toInt)
    val r1 = math.min(h - 1, math.floor((y1 - bb.y0) / px - 0.5).toInt)
    for (row <- Iterator.range(r0, r1 + 1); c <- Iterator.range(c0, c1 + 1)
         if Geom.pointInPolygon(x0 + (c + 0.5) * px, y1 - (row + 0.5) * px, rings)) yield (c, row)
  }

  /** Prefix cuts from outside, each consumed through the noop sink; a
    * layer's time is the difference of adjacent prefixes (medians of
    * `reps`). Plus the counts of each layer. */
  def imageLayers(width: Int, reps: Int): Map[String, Double] = {
    Harness.setWidth(spark, width)
    val sc = spark.sparkContext
    def storageFree = sc.getExecutorMemoryStatus.values.map(_._2).sum
    val idxBytes = mutable.ArrayBuffer.empty[Double]
    for (_ <- 1 to reps) tr.span("layers") {
      tr.span("scan")(Harness.noop(images(false, width)))
      tr.span("decode")(Harness.noop(images(false, width).map(i =>
        PixelCodec.decode(i.bytes, i.fmt, i.w, i.h).bands.length)))
      tr.span("tiles")(Harness.noop(
        Tiler.tiles(images(false, width), TileSize, cellRes).map(_.pixels.length)))
      val free0 = storageFree
      val hist = tr.span("index_build")(ZonalStats.histogram(
        Tiler.tiles(images(false, width), TileSize, cellRes), polys, cellRes))
      idxBytes += (free0 - storageFree).toDouble
      tr.span("histogram")(Harness.noop(hist))
      tr.span("stats")(Harness.noop(ZonalStats.stats(hist)))
    }
    def med(n: String) = Harness.median(tr.named(n).map(tr.seconds))
    val tiles = Tiler.tiles(images(false, width), TileSize, cellRes)
    val tileAgg = tiles.toDF().selectExpr("count(1)", "sum(cast(size(pixels) as bigint)) * 4").head()
    val cells = ZonalStats.polyCells(polys, cellRes).select(col("cell_id")).cache()
    val cand = tiles.toDF().select(col("cell_id"), (col("tw") * col("th")).cast("long").as("n"))
      .join(cells, "cell_id").agg(count(lit(1)), sum("n")).head()
    val counted = ZonalStats.histogram(tiles, polys, cellRes).agg(sum("cnt")).head().getLong(0)
    val entries = cells.count().toDouble
    cells.unpersist()
    Map(
      "sources.scan_s" -> med("scan"),
      "sources.scan_bytes" -> Harness.median(tr.named("scan").map(tr.scanBytes("", _))),
      "core.PixelCodec.decode_s" -> (med("decode") - med("scan")),
      "core.PixelCodec.px_decoded" -> px(false).toDouble,
      "operators.Tiler.tile_s" -> (med("tiles") - med("decode")),
      "operators.Tiler.tile_rows" -> tileAgg.getLong(0).toDouble,
      "operators.Tiler.tile_bytes" -> tileAgg.getLong(1).toDouble,
      "operators.ZonalStats.index_build_s" -> med("index_build"),
      "operators.ZonalStats.index_entries" -> entries,
      "operators.ZonalStats.index_bytes" -> Harness.median(idxBytes.toSeq),
      "operators.ZonalStats.histogram_s" -> (med("histogram") - med("tiles")),
      "operators.ZonalStats.stats_s" -> (med("stats") - med("histogram")),
      "operators.ZonalStats.candidate_pairs" -> cand.getLong(0).toDouble,
      "operators.ZonalStats.pip_yield" -> counted.toDouble / math.max(1L, cand.getLong(1)))
  }
}

/** zonal_decode: one job is decode -> tile -> histogram -> stats over the
  * whole image table. */
final class Zonal(spark: SparkSession, dir: File, tr: Tracer, seed: Long, polyLayer: Seq[PolyRow])
    extends ImageWorkload(spark, dir, tr, polyLayer) {
  def tableFiles(slice: Boolean): Seq[String] =
    if (slice) Zonal.sliceFiles(dir) else Seq(path("images"))

  def job(width: Int, slice: Boolean, kind: Int): Long = zonalJob(width, slice)

  def checks(width: Int): Seq[(String, Boolean, String)] = Seq(bruteHistogramCheck(seed, 3))

  def layers(tr: Tracer, width: Int): Map[String, Double] = imageLayers(width, reps = 3)
}

object Zonal {
  /** The first 4 of the table's 16 files: a quarter of the images. */
  def sliceFiles(dir: File): Seq[String] =
    new File(dir, "images").listFiles().map(_.getName).filter(_.endsWith(".parquet"))
      .sorted.take(4).map(n => new File(new File(dir, "images"), n).getAbsolutePath).toSeq
}
