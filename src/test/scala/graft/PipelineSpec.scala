package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import graft.gen.Synth
import graft.operators.{Tiler, ZonalStats}
import graft.plans.{Pipeline, SnapshotTable}
import java.nio.file.Files

/** North-rule resume evidence at the PIPELINE level (not just the table):
  * kill the job mid-run, re-run, final stats identical to a single-shot
  * run and only pending shards recomputed. */
class PipelineSpec extends AnyFunSuite {
  implicit lazy val spark: SparkSession = SparkTestSession.spark
  import spark.implicits._

  val images = Synth.images(24, seed = 42L, bands = 2)
  val polys = Synth.polygons(nExtra = 6)
  val cellRes = Tiler.resForCellSize(64.0)
  val nShards = 4

  def singleShot(): Map[(Long, Int), Map[String, Any]] = {
    val tiles = Tiler.tiles(spark.createDataset(images.toSeq), 64, cellRes)
    ZonalStats.stats(ZonalStats.histogram(tiles, spark.createDataset(polys.toSeq), cellRes))
      .collect().map { r =>
        (r.getLong(0), r.getInt(1)) -> Map(
          "count" -> r.getAs[Long]("pix_count"), "mean" -> r.getAs[Double]("mean"),
          "median" -> r.getAs[Double]("median"))
      }.toMap
  }

  test("killed pipeline resumes per-shard; final stats equal single-shot") {
    val root = Files.createTempDirectory("graft_pipe_").toString
    val table = new SnapshotTable(spark, root, "shard")
    val polyDs = spark.createDataset(polys.toSeq)
    // ingest: shard-partitioned image table (the layout resume reads)
    val imagesPath = Files.createTempDirectory("graft_pipe_img_").toString + "/images"
    Pipeline.ingest(spark.createDataset(images.toSeq), imagesPath, nShards)
    // every shard landed as a partition dir; Column shardCol == shardOf
    val shardDirs = new java.io.File(imagesPath).listFiles()
      .filter(_.isDirectory).map(_.getName).toSet
    assert(shardDirs == images.map(i => s"shard=${Pipeline.shardOf(i.image_id, nShards)}").toSet)

    // run 1 crashes after 2 shards (batchShards = 1: shard-granular kill)
    val crashed = intercept[RuntimeException] {
      Pipeline.run(imagesPath, polyDs, table, nShards, 64, cellRes,
        failAfterShards = 2, batchShards = 1)
    }
    assert(crashed.getMessage.contains("injected failure"))
    val committed1 = table.committed().keySet
    assert(committed1.size == 2)

    // run 2 resumes: processes ONLY the pending shards
    val done2 = Pipeline.run(imagesPath, polyDs, table, nShards, 64, cellRes)
    assert(done2.intersect(committed1).isEmpty)
    assert(committed1 ++ done2 == (0 until nShards).map(i => s"s$i").toSet)

    // lineage: run-1 shards kept their original snapshot/writer
    val meta = table.committed()
    committed1.foreach(s => assert(meta(s).writer == s"pipeline-$s"))
    assert(meta.values.map(_.snapshot).toSet.size >= 2)

    // final stats identical to a single-shot computation
    val got = Pipeline.stats(table).collect().map { r =>
      (r.getLong(0), r.getInt(1)) -> Map(
        "count" -> r.getAs[Long]("pix_count"), "mean" -> r.getAs[Double]("mean"),
        "median" -> r.getAs[Double]("median"))
    }.toMap
    assert(got == singleShot())

    // run 3 is a no-op (idempotent)
    assert(Pipeline.run(imagesPath, polyDs, table, nShards, 64, cellRes).isEmpty)

    // maintenance composes with resume: compacting the histogram table
    // (shard-granular commits = fragmented partitions) changes layout
    // only — stats unchanged, and resume still sees every shard done
    table.compact(writer = "compactor")
    assert(Pipeline.run(imagesPath, polyDs, table, nShards, 64, cellRes).isEmpty,
      "compaction must not reopen committed shards")
    val got2 = Pipeline.stats(table).collect().map { r =>
      (r.getLong(0), r.getInt(1)) -> Map(
        "count" -> r.getAs[Long]("pix_count"), "mean" -> r.getAs[Double]("mean"),
        "median" -> r.getAs[Double]("median"))
    }.toMap
    assert(got2 == got)
  }

  test("one polygon index per run, shared by every shard; none when nothing is pending") {
    val root = Files.createTempDirectory("graft_pipe_idx_").toString
    val table = new SnapshotTable(spark, root, "shard")
    val imagesPath = Files.createTempDirectory("graft_pipe_idx_img_").toString + "/images"
    Pipeline.ingest(spark.createDataset(images.toSeq), imagesPath, nShards)
    // every read of the polygon layer passes through this map
    val reads = spark.sparkContext.longAccumulator("polygon_reads")
    val counted = spark.createDataset(polys.toSeq).map { p => reads.add(1L); p }

    val done = Pipeline.run(imagesPath, counted, table, nShards, 64, cellRes,
      batchShards = 1)
    assert(done.size == nShards && nShards >= 3)
    assert(reads.value == polys.length,
      s"${reads.value} polygon reads over $nShards shards: index built more than once")

    // a resume with nothing pending builds no index at all
    assert(Pipeline.run(imagesPath, counted, table, nShards, 64, cellRes,
      batchShards = 1).isEmpty)
    assert(reads.value == polys.length, "a no-op resume read the polygon layer")
  }
}
