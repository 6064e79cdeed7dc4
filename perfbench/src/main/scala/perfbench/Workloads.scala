package perfbench

import java.io.File
import java.nio.file.Files
import org.apache.spark.sql.{Encoders, SparkSession}
import org.apache.spark.sql.functions._
import graft.{ImageRow, PolyRow}
import graft.core.PixelCodec
import graft.gen.Synth
import graft.plans.Pipeline

/** Workload registry and the seeded generators of the image tables. */
object Workloads {
  val names = Seq("zonal_decode", "sharded_resume", "vector_graph")

  /** Generates (or finds cached) inputs; returns (cold generation seconds,
    * workload). */
  def make(name: String, spark: SparkSession, root: File, seed: Long, smoke: Boolean,
           tr: Tracer): (Double, Workload) = {
    def cached(size: Any*)(gen: File => Unit) =
      Inputs.cached(root, name, size.mkString("_"), seed)(gen)
    name match {
      case "zonal_decode" =>
        val cycles = if (smoke) 1 else 8
        val (dir, t) = cached(cycles)(d => decodeTables(spark, d, seed, cycles))
        (t, new Zonal(spark, dir, tr, seed, Synth.polygons(64, seed)))
      case "sharded_resume" =>
        val (grid, nPoly, shards) = if (smoke) (3, 60, 8) else (6, 300, 8)
        val (dir, t) = cached(grid, shards)(d => shardedTables(spark, d, seed, grid, shards))
        (t, new Sharded(spark, dir, tr, seed, shards, blobs(seed, nPoly, grid * ShardImagePx.toDouble)))
      case "vector_graph" =>
        val n = if (smoke) 2000 else 6000
        val (dir, t) = cached(n)(d => VectorGraph.generate(spark, d, seed, n))
        (t, new VectorGraph(spark, dir, tr, seed))
    }
  }

  private def writeItems(dir: File, full: Long, slice: Long): Unit =
    Files.writeString(new File(dir, "items.txt").toPath, s"$full $slice")

  /** Image sides of zonal_decode image `i`: `Synth.Sizes` on a 16-image
    * cycle. */
  private def decodeSize(i: Long): (Int, Int) =
    (Synth.Sizes((i % 4).toInt), Synth.Sizes((i / 4 % 4).toInt))

  /** zonal_decode: a table shaped like `Synth.imageAt`'s (64-257 px
    * sides, 3 bands, raw-le/rle/qnt8, a fifth of the images in dense
    * clusters) but with sizes and formats on a fixed 48-image cycle, so a
    * job decodes the same pixel count for every seed; pixels and
    * positions come from the seed. 16 files of consecutive images; the
    * slice is the first 4 files, a quarter of the images. */
  def decodeTables(spark: SparkSession, dir: File, seed: Long, cycles: Int): Unit = {
    import spark.implicits._
    val n = 48L * cycles
    val centres = Array((0.0, 0.0), (900.0, 900.0), (-900.0, 600.0))
    spark.range(0, n, 1, 16).map { i =>
      val rng = new Synth.Rng(seed ^ (i * 0x5851f42d4c957f2dL))
      val (ox, oy) =
        if (rng.nextDouble() < 0.2) {
          val c = centres(rng.nextInt(centres.length))
          (c._1 + rng.nextDouble() * 64 - 32, c._2 + rng.nextDouble() * 64 - 32)
        } else (rng.nextDouble() * 8000 - 4000, rng.nextDouble() * 8000 - 4000)
      val (w, h) = decodeSize(i)
      val fmt = Synth.Fmts((i / 16 % 3).toInt)
      val bands = Array.tabulate(3)(b => Synth.pixels(seed ^ i, w, h, b))
      ImageRow(f"img$i%08d", PixelCodec.encode(fmt, w, h, bands), w, h, fmt, s"bench $i",
        PixelCodec.phash64(w, h, bands(0)), math.floor(ox), math.floor(oy) + h, 1.0)
    }(Encoders.product[ImageRow]).write.parquet(new File(dir, "images").getAbsolutePath)
    def px(ids: Long) = (0L until ids).map { i => val (w, h) = decodeSize(i); 3L * w * h }.sum
    writeItems(dir, px(n), px(n / 4))
  }

  /** Side of the sharded_resume mosaic's images. */
  val ShardImagePx = 64

  /** sharded_resume: a `grid` x `grid` mosaic of `ShardImagePx` images
    * (formats cycling, seeded pixels) ingested with `Pipeline.ingest`
    * into `shards` shard partitions; the slice, the mosaic's top-left
    * quarter, is ingested the same way into a quarter of the shards. */
  def shardedTables(spark: SparkSession, dir: File, seed: Long, grid: Int, shards: Int): Unit = {
    import spark.implicits._
    val size = ShardImagePx
    val half = (grid + 1) / 2
    def inSlice(i: Long) = i % grid < half && i / grid < half
    val m = spark.range(grid.toLong * grid).map { i =>
      Inputs.image(f"img$i%05d", seed ^ (i * 0x9e3779b97f4a7c15L), size,
        Synth.Fmts((i % 3).toInt), (i % grid) * size.toDouble, (i / grid + 1) * size.toDouble)
    }(Encoders.product[ImageRow])
    Pipeline.ingest(m, new File(dir, "images").getAbsolutePath, shards)
    Pipeline.ingest(m.where(col("x_min") < half * size && col("y_max") <= half * size),
      new File(dir, "slice").getAbsolutePath, shards / 4)
    val px = 3L * size * size
    writeItems(dir, px * grid * grid, px * (0L until grid.toLong * grid).count(inSlice))
  }

  /** A mid-sized layer of irregular polygons over [0, extent]^2. */
  def blobs(seed: Long, n: Int, extent: Double): Seq[PolyRow] = {
    val rng = new Synth.Rng(seed * 977 + 11)
    (0 until n).map { k =>
      val r = 8 + rng.nextDouble() * 32
      Inputs.blob(k.toLong, rng, r + rng.nextDouble() * (extent - 2 * r),
        r + rng.nextDouble() * (extent - 2 * r), r, 5 + rng.nextInt(10))
    }
  }
}
