package perfbench

import java.io.File
import scala.collection.mutable
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.operators.{Tiler, ZonalStats}
import graft.plans.{Pipeline, SnapshotTable}

/** sharded_resume: the closed loop cycles three requests on a fresh
  * snapshot table. Kind 0 runs `Pipeline.run` with a failure injected
  * after half the shards; kind 1 resumes that table to completion; kind
  * 2 reads its `Pipeline.stats`. The tables were ingested with a `shard`
  * partition column at generation time. */
final class Sharded(spark: SparkSession, dir: File, tr: Tracer, seed: Long,
                    val nShards: Int, polyLayer: Seq[graft.PolyRow])
    extends ImageWorkload(spark, dir, tr, polyLayer) {
  import spark.implicits._
  /** Shards of a leg's table: the weak-scaling slice has a quarter of
    * the images in a quarter of the shards. A run has two batches and
    * fails after the first. */
  def shards(slice: Boolean): Int = if (slice) nShards / 4 else nShards
  def batchShards(slice: Boolean): Int = math.max(1, shards(slice) / 2)
  def failAfter(slice: Boolean): Int = shards(slice) / 2
  val allShards: Seq[String] = (0 until nShards).map(i => s"s$i")
  private var tableSeq = 0
  private val resumeSeconds = mutable.ArrayBuffer.empty[Double]
  /** The table each leg (full, slice) has open between its two requests,
    * and the last resumed full table, kept for the checks. */
  private val inFlight = mutable.Map.empty[Boolean, (SnapshotTable, File)]
  private var kept: Option[(SnapshotTable, File, Long)] = None

  override def kinds: Int = 3

  def tableFiles(slice: Boolean): Seq[String] = Seq(tablePath(slice))

  /** The failing run decodes its shards' share of the pixels, the resume
    * the rest (shares by shard count), and the stats summarise the whole
    * table; a job decodes the table once. */
  override def items(slice: Boolean, kind: Int): Long = {
    val px = super.items(slice, kind)
    val failed = px * failAfter(slice) / shards(slice)
    Seq(failed, px - failed, px)(kind)
  }

  override def jobItems: Long = super.items(slice = false, 0)

  private def freshTable(): (SnapshotTable, File) = {
    tableSeq += 1
    val d = new File(dir.getParentFile.getParentFile, s"tmp/snap-${dir.getName}-$tableSeq")
    Inputs.delete(d)
    (new SnapshotTable(spark, d.getAbsolutePath, "shard"), d)
  }

  private def tablePath(slice: Boolean) = path(if (slice) "slice" else "images")

  private def runPipeline(table: SnapshotTable, slice: Boolean, failAfter: Int): Set[String] =
    Pipeline.run(tablePath(slice), polys, table, shards(slice), TileSize, cellRes,
      failAfterShards = failAfter, batchShards = batchShards(slice))

  /** Fingerprint of the committed manifest's shards and rows. */
  private def manifestFp(table: SnapshotTable): Long =
    table.committed().toSeq.map { case (k, m) => (k, m.rows) }.sorted.hashCode.toLong

  /** Runs until the injected failure; any other outcome is an error. */
  private def failingRun(table: SnapshotTable, slice: Boolean): Long = {
    val thrown = try { runPipeline(table, slice, failAfter(slice)); None }
      catch { case e: RuntimeException if e.getMessage.startsWith("injected failure") => Some(e) }
    require(thrown.isDefined, "Pipeline.run finished although a failure was injected")
    val done = table.committed()
    require(done.size == failAfter(slice),
      s"${done.size} shards committed before the failure, expected ${failAfter(slice)}")
    manifestFp(table)
  }

  def job(width: Int, slice: Boolean, kind: Int): Long = {
    Harness.setWidth(spark, width)
    kind match {
      case 0 =>
        inFlight.remove(slice).foreach(t => Inputs.delete(t._2))
        val (table, d) = freshTable()
        inFlight(slice) = (table, d)
        tr.span("fail_run")(failingRun(table, slice))
      case 1 =>
        val (table, _) = inFlight.getOrElse(slice, sys.error("resume without a failed run"))
        val (t, done) = Harness.time(tr.span("resume")(runPipeline(table, slice, Int.MaxValue)))
        require(done.size == shards(slice) - failAfter(slice), s"resume processed ${done.size} shards")
        if (!slice) resumeSeconds += t
        manifestFp(table)
      case 2 =>
        val (table, d) = inFlight.remove(slice).getOrElse(sys.error("stats without a resumed run"))
        try {
          val fp = Harness.fingerprint(tr.span("pipeline_stats")(Pipeline.stats(table).collect()))
          if (!slice) {
            kept.foreach(k => Inputs.delete(k._2))
            kept = Some((table, d, fp))
          } else Inputs.delete(d)
          fp
        } catch { case e: Throwable => Inputs.delete(d); throw e }
    }
  }

  override def report(): Unit =
    if (resumeSeconds.nonEmpty)
      println(f"resume_s ${Harness.median(resumeSeconds.toSeq)}%.4f s (median resume phase of ${resumeSeconds.size}%d resumes)")

  def checks(width: Int): Seq[(String, Boolean, String)] = {
    Harness.setWidth(spark, width)
    val (table, d, resumedFp) = kept.getOrElse(sys.error("no full resume ran"))
    try {
      val tiles = Tiler.tiles(images(false, width), TileSize, cellRes)
      val onePass = Harness.fingerprint(
        ZonalStats.stats(ZonalStats.histogram(tiles, polys, cellRes)).collect())
      val manifest = table.committed()
      val rows = table.read().count()
      // entries of the raw manifest file: committed() folds a repeated
      // key into one map entry, so duplicates are counted here
      val raw = java.nio.file.Files.readString(
        new File(d, s"manifests/v${table.currentVersion}.json").toPath)
      val entries = """"((?:[^"\\]|\\.)*)":\s*\{"rows"""".r.findAllMatchIn(raw)
        .map(_.group(1)).toSeq.groupBy(identity).map { case (k, v) => k -> v.size }
      Seq(
        ("resumed_stats_eq_one_pass", resumedFp == onePass, s"fingerprints $resumedFp / $onePass"),
        ("manifest_each_shard_once", entries == allShards.map(_ -> 1).toMap &&
          manifest.keySet == allShards.toSet && manifest.values.map(_.rows).sum == rows,
          s"${entries.values.sum} manifest entries for ${entries.size} shards, " +
            s"${manifest.values.map(_.rows).sum} rows vs $rows read"),
        bruteHistogramCheck(seed, 2))
    } finally {
      Inputs.delete(d)
      inFlight.values.foreach(t => Inputs.delete(t._2))
    }
  }

  /** Bytes of the ingested table's files for the given shards. */
  private def shardBytes(shards: Seq[String]): Double = shards.map { sh =>
    def size(f: File): Long = if (f.isDirectory) f.listFiles().map(size).sum
      else if (f.getName.endsWith(".parquet")) f.length() else 0L
    size(new File(path("images"), s"shard=$sh")).toDouble
  }.sum

  def layers(tr: Tracer, width: Int): Map[String, Double] = {
    val image = imageLayers(width, reps = 2)
    Harness.setWidth(spark, width)
    val reps = 2
    val batch = mutable.ArrayBuffer.empty[(Double, Double, Double)]
    val pend = mutable.ArrayBuffer.empty[Double]
    val resume = mutable.ArrayBuffer.empty[(Double, Double)]
    val overhead = mutable.ArrayBuffer.empty[Double]
    for (_ <- 1 to reps) {
      // a complete run: per-batch time and jobs, bytes written
      val (t1, d1) = freshTable()
      val run = tr.span("full_run")(runPipeline(t1, slice = false, Int.MaxValue))
      require(run.size == nShards, s"full run processed ${run.size} shards")
      val sp = tr.named("full_run").last
      val batches = math.ceil(nShards.toDouble / batchShards(false))
      batch += ((tr.seconds(sp) / batches, tr.counters(sp)("spark.jobs") / batches,
        t1.committed().values.map(_.bytes).sum.toDouble))
      Inputs.delete(d1)
      // failure, the pending anti-join, then the resume
      val (t2, d2) = freshTable()
      failingRun(t2, slice = false)
      val pending = tr.span("pending")(t2.pending(allShards))
      pend += tr.seconds(tr.named("pending").last)
      tr.span("resume")(runPipeline(t2, slice = false, Int.MaxValue))
      val rs = tr.named("resume").last
      resume += ((tr.seconds(rs), tr.scanBytes(tablePath(false), rs) / shardBytes(pending)))
      Inputs.delete(d2)
      // commit time minus a noop consume of the same one-shard batch
      val (t3, d3) = freshTable()
      val shard = allShards.head
      val hist = ZonalStats.histogram(Tiler.tiles(
        spark.read.parquet(tablePath(false)).where(col("shard") === shard).drop("shard")
          .coalesce(width).as[graft.ImageRow], TileSize, cellRes), polys, cellRes)
        .withColumn("shard", lit(shard))
      val (tn, _) = Harness.time(tr.span("noop_batch")(Harness.noop(hist)))
      val (tc, _) = Harness.time(tr.span("commit_batch")(t3.commit(hist, "bench", Set(shard))))
      overhead += tc - tn
      Inputs.delete(d3)
    }
    image ++ Map(
      "plans.Pipeline.batch_s" -> Harness.median(batch.map(_._1).toSeq),
      "plans.Pipeline.jobs_per_batch" -> Harness.median(batch.map(_._2).toSeq),
      "plans.Snapshot.bytes_written" -> Harness.median(batch.map(_._3).toSeq),
      "plans.Snapshot.pending_s" -> Harness.median(pend.toSeq),
      "plans.Pipeline.resume_s" -> Harness.median(resume.map(_._1).toSeq),
      "plans.Pipeline.resume_read_ratio" -> Harness.median(resume.map(_._2).toSeq),
      "plans.Snapshot.commit_overhead_s" -> Harness.median(overhead.toSeq))
  }
}
