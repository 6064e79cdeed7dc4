package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.core.{Geom, PixelCodec}
import graft.gen.Synth
import graft.operators.{PolyIndex, Tiler, ZonalStats}
import graft.streaming.ImageStream
import java.nio.file.Files

class ZonalPointSpec extends AnyFunSuite {
  implicit lazy val spark: SparkSession = SparkTestSession.spark
  import spark.implicits._

  test("zonalPoint gathers the exact pixel under each point; misses drop") {
    val images = Synth.images(10, seed = 21L, bands = 2)
    val cellRes = Tiler.resForCellSize(64.0)
    val tiles = Tiler.tiles(spark.createDataset(images.toSeq), 64, cellRes)
    // probe points: centers of known pixels + guaranteed misses
    val rng = new Synth.Rng(3L)
    val probes = images.flatMap { img =>
      (0 until 5).map { k =>
        val c = rng.nextInt(img.w); val r = rng.nextInt(img.h)
        (img.image_id.drop(3).toLong * 100 + k,
          img.x_min + (c + 0.5) * img.px, img.y_max - (r + 0.5) * img.px,
          img.image_id, r, c)
      }
    }
    val ptDf = probes.map(p => (p._1, p._2, p._3)).toDF("pt_id", "x", "y")
      .union(Seq((-1L, 99999.0, 99999.0)).toDF("pt_id", "x", "y")) // miss
    val got = ZonalStats.zonalPoint(tiles, ptDf, cellRes)
      .as[(Long, String, Int, Float)].collect()
      .groupBy(r => (r._1, r._2, r._3)).map { case (k, v) => k -> v.head._4 }

    val decoded = images.map(i => i.image_id ->
      PixelCodec.decode(i.bytes, i.fmt, i.w, i.h)).toMap
    var checked = 0
    probes.foreach { case (pid, _, _, imgId, r, c) =>
      val img = images.find(_.image_id == imgId).get
      for (band <- 0 until 2) {
        val want = decoded(imgId).bands(band)(r * img.w + c)
        // point may fall inside ANOTHER overlapping image too; check ours
        assert(got.get((pid, imgId, band)).contains(want), s"$pid $imgId b$band")
        checked += 1
      }
    }
    assert(checked == images.size * 5 * 2)
    assert(!got.keySet.exists(_._1 == -1L)) // far point joined nothing
  }
}

class ImageStreamSpec extends AnyFunSuite {
  implicit lazy val spark: SparkSession = SparkTestSession.spark
  import spark.implicits._

  test("streaming zonal over arriving image files == batch zonal") {
    val images = Synth.images(12, seed = 42L, bands = 2)
    val polys = Synth.polygons(nExtra = 4)
    val cellRes = Tiler.resForCellSize(64.0)

    val dir = Files.createTempDirectory("graft_stream_in_").toString
    val out = Files.createTempDirectory("graft_stream_out_").toString + "/hist"
    val ckpt = Files.createTempDirectory("graft_stream_ck_").toString
    // two "arrivals"
    spark.createDataset(images.take(6).toSeq).write.mode("append").parquet(dir)
    spark.createDataset(images.drop(6).toSeq).write.mode("append").parquet(dir)

    val q = ImageStream.zonalStream(spark, dir, polys, cellRes, 64, out, ckpt)
    q.awaitTermination()

    val streamed = ImageStream.stats(spark, out).collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getAs[Long]("pix_count")).toMap
    val batch = ZonalStats.stats(ZonalStats.histogram(
      Tiler.tiles(spark.createDataset(images.toSeq), 64, cellRes),
      spark.createDataset(polys.toSeq), cellRes)).collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getAs[Long]("pix_count")).toMap
    assert(streamed == batch)
  }

  test("replayed micro-batch (at-least-once retry) does not double-count") {
    val images = Synth.images(8, seed = 43L, bands = 1)
    val polys = Synth.polygons(nExtra = 2)
    val cellRes = Tiler.resForCellSize(64.0)
    val out = Files.createTempDirectory("graft_stream_replay_").toString + "/hist"
    val index = PolyIndex.build(spark.createDataset(polys.toSeq), cellRes)
    val b0 = spark.createDataset(images.take(4).toSeq)
    val b1 = spark.createDataset(images.drop(4).toSeq)

    ImageStream.writeBatchDelta(b0, 0L, index, cellRes, 64, out)
    ImageStream.writeBatchDelta(b1, 1L, index, cellRes, 64, out)
    val once = ImageStream.stats(spark, out).collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getAs[Long]("pix_count")).toMap
    // crash-between-write-and-checkpoint: batch 1 replays verbatim
    ImageStream.writeBatchDelta(b1, 1L, index, cellRes, 64, out)
    val replayed = ImageStream.stats(spark, out).collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getAs[Long]("pix_count")).toMap
    assert(replayed == once)
    index.destroy()
  }
}
