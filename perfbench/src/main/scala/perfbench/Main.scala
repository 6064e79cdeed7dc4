package perfbench

import java.io.File
import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** Benchmark entry: one workload, one seed, one local[nproc] session, one
  * closed-loop client.
  *
  *   --workload <name> --seed <n> --seconds <s> --trace <0|1> --out <dir>
  *   [--recipe <hash of the benchmark sources>] [--smoke]
  *
  * Prints human-readable lines, then as its last line one JSON object
  * with `correct`, `attempted`, `failed` and `metrics`. Exits non-zero,
  * without that line, when set-up, the layer probe or every job fails. */
object Main {
  val EndToEnd = Seq(
    "setup_s" -> "s", "job_s" -> "s", "items_per_s" -> "1/s",
    "scaling_eff" -> "ratio", "peak_heap_mb" -> "MB")

  val PerLayer = Seq(
    "sources.scan_s" -> "s", "sources.scan_bytes" -> "bytes",
    "core.PixelCodec.decode_s" -> "s", "core.PixelCodec.px_decoded" -> "count",
    "operators.Tiler.tile_s" -> "s", "operators.Tiler.tile_rows" -> "count",
    "operators.Tiler.tile_bytes" -> "bytes",
    "operators.ZonalStats.index_build_s" -> "s", "operators.ZonalStats.index_entries" -> "count",
    "operators.ZonalStats.index_bytes" -> "bytes", "operators.ZonalStats.histogram_s" -> "s",
    "operators.ZonalStats.stats_s" -> "s", "operators.ZonalStats.candidate_pairs" -> "count",
    "operators.ZonalStats.pip_yield" -> "ratio",
    "spark.jobs" -> "count", "spark.tasks" -> "count", "spark.task_s_p50" -> "s",
    "spark.task_s_max" -> "s", "spark.task_skew" -> "ratio", "spark.sched_delay_s" -> "s",
    "spark.gc_s" -> "s", "spark.shuffle_write_bytes" -> "bytes",
    "spark.shuffle_read_bytes" -> "bytes", "spark.spill_bytes" -> "bytes",
    "spark.failed_tasks" -> "count",
    "plans.Pipeline.batch_s" -> "s", "plans.Pipeline.jobs_per_batch" -> "count",
    "plans.Pipeline.resume_s" -> "s", "plans.Pipeline.resume_read_ratio" -> "ratio",
    "plans.Snapshot.pending_s" -> "s", "plans.Snapshot.commit_overhead_s" -> "s",
    "plans.Snapshot.bytes_written" -> "bytes",
    "operators.SpatialJoin.pip_s" -> "s", "operators.Knn.knn_s" -> "s",
    "operators.Knn.knn_hex_s" -> "s", "operators.Components.cc_s" -> "s",
    "operators.Components.jobs" -> "count",
    "gen.generate_s" -> "s", "trace.overhead" -> "ratio", "error_rate" -> "ratio",
    "job_s_hi" -> "s")

  /** Timed full-width requests a run needs: 11 for job_s_hi to exist (10
    * beyond it), and at least 3 of every kind so each kind's median can
    * outvote one outlier. */
  def minJobs(kinds: Int): Int = math.max(11, 3 * kinds)

  /** Median job time and job_s_hi of timed full-width requests (kind,
    * seconds). A job is one cycle of the workload's request kinds: its
    * median time is the sum of the kinds' medians, and job_s_hi is that
    * sum times the pooled percentile of each request's time over its
    * kind's median, taken at the highest percentile with at least 10
    * requests beyond it (a single-kind workload: plain median and
    * percentile). */
  private def jobTimes(full: Seq[(Int, Double)], kinds: Int, width: Int): (Double, Double) = {
    val n = full.size
    require(n >= 11, s"$n timed requests, job_s_hi needs 11")
    val medians = full.groupBy(_._1).map { case (k, ts) => k -> Harness.median(ts.map(_._2)) }
    val jobS = medians.values.sum
    val rel = full.map { case (k, t) => t / medians(k) }.sorted
    val jobHi = jobS * rel(n - 11)
    println(f"job_s $jobS%.4f s ($kinds%d request kinds, $n%d requests at width $width%d: ${full.map(x => f"${x._1}%d:${x._2}%.3f").mkString(" ")})")
    println(f"job_s_hi $jobHi%.4f s (p${100.0 * (n - 10) / n}%.1f of $n%d requests, 10 beyond it)")
    (jobS, jobHi)
  }

  private def session(out: File, cores: Int): SparkSession = {
    val tmp = new File(out, "tmp").getAbsolutePath
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$tmp/spark")
      .config("spark.sql.warehouse.dir", s"$tmp/warehouse")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      // one scan partition per file: the task width is then set by the
      // coalesce each job applies, identically on both scaling legs
      .config("spark.sql.adaptive.coalescePartitions.enabled", "false")
      .config("spark.sql.files.maxPartitionBytes", "256m")
      .config("spark.sql.files.openCostInBytes", "256m")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val opts = args.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") => k -> v }.toMap
    def opt(k: String) = opts.getOrElse(k, sys.error(s"missing $k"))
    val name = opt("--workload")
    val seed = opt("--seed").toLong
    val seconds = opt("--seconds").toDouble
    val traced = opt("--trace") == "1"
    val out = new File(opt("--out"))
    val smoke = args.contains("--smoke")
    Inputs.recipe = opts.getOrElse("--recipe", "")
    require(Workloads.names.contains(name),
      s"unknown workload $name; known: ${Workloads.names.mkString(", ")}")

    Heap.install()
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    def phase(what: String): Unit =
      println(f"phase $what at ${(System.currentTimeMillis() - jvmStart) / 1e3}%.2f s since JVM start")
    val cores = Runtime.getRuntime.availableProcessors()
    val width = math.min(4, cores)
    val (sessionS, spark) = Harness.time(session(out, cores))
    val runId = s"$name-s$seed-t${if (traced) 1 else 0}-${System.currentTimeMillis()}"
    val tr = new Tracer(spark, traced, runId)
    val failures = mutable.ArrayBuffer.empty[String]
    var attempted = 0L
    def fail(msg: String): Unit = { failures += msg; println(s"FAIL $msg") }
    var result = ""

    try {
      val (genS, wl) = Workloads.make(name, spark, new File(out, "data"), seed, smoke, tr)
      phase("inputs ready")
      println(f"gen.generate_s $genS%.3f s (cold generation, cached by seed and fingerprint)")

      // set-up: open the inputs three times (median counts), then the
      // warm-up pass: one job of every kind on the slice at full width,
      // whose outputs are the width-4 side of the width check. A kind's
      // first timed full job and first slice leg give the fingerprints
      // every later job of that kind must match.
      val opens = (1 to 3).map(_ => Harness.time(wl.open())._1)
      val refs = mutable.Map.empty[(Boolean, Int), Long]
      // first slice fingerprint of each (kind, width): the width check
      val sliceSeen = mutable.Map.empty[(Int, Int), Long]
      val (warmS, _) = Harness.time {
        (0 until wl.kinds).foreach(k => sliceSeen((k, width)) = wl.job(width, slice = true, k))
      }
      val setupS = sessionS + Harness.median(opens) + warmS
      phase("set-up done")
      println(f"setup_s $setupS%.4f s (session $sessionS%.3f s + median open ${Harness.median(opens)}%.3f s + warm-up $warmS%.3f s)")

      def leg(w: Int, slice: Boolean, k: Int, traced: Boolean = false): Option[Double] = {
        attempted += 1
        try {
          val (t, fp) = Harness.time(
            if (traced) tr.span("job")(wl.job(w, slice, k)) else wl.job(w, slice, k))
          if (slice) sliceSeen.getOrElseUpdate((k, w), fp)
          val ref = refs.getOrElseUpdate((slice, k), fp)
          if (fp != ref) {
            fail(s"job kind=$k width=$w slice=$slice fingerprint $fp != first $ref"); None
          } else Some(t)
        } catch { case e: Throwable => fail(s"job kind=$k width=$w slice=$slice threw $e"); None }
      }

      val metrics: Seq[(String, Double, String)] =
        if (!traced) {
          Heap.reset()
          val full = mutable.ArrayBuffer.empty[(Int, Double)]
          // width-1 slice legs: (kind, time)
          val slices = mutable.ArrayBuffer.empty[(Int, Double)]
          // closed loop over the workload's job kinds; every third request
          // (every fourth when the kind count is a multiple of three) is
          // followed by a width-1 leg of the same kind on the slice, so the
          // slice legs' kinds take turns, in order when there are two or
          // three
          val pairEvery = if (wl.kinds % 3 == 0) 4 else 3
          val t0 = System.nanoTime()
          var i = 0
          while ((System.nanoTime() - t0) / 1e9 < seconds || full.size < minJobs(wl.kinds) ||
                 slices.map(_._1).distinct.size < wl.kinds) {
            require(attempted < 400, "too few timed requests, or no slice leg of some kind, in 400 attempts")
            val k = i % wl.kinds
            val tf = leg(width, slice = false, k)
            tf.foreach(t => full += ((k, t)))
            if (i % pairEvery == 0)
              leg(1, slice = true, k).foreach(t => slices += ((k, t)))
            i += 1
          }
          val peak = Heap.peakMb
          val (jobS, _) = jobTimes(full.toSeq, wl.kinds, width)
          // weak-scaling efficiency of a whole job: per kind, the median
          // full-width request and the median width-1 slice leg (each run
          // right after a full request of its kind); job throughput is the
          // work of all kinds over the sum of those medians
          def jobRate(slice: Boolean) = {
            val t = (0 until wl.kinds).map { k =>
              Harness.median((if (slice) slices else full).filter(_._1 == k).map(_._2).toSeq)
            }
            (0 until wl.kinds).map(wl.items(slice, _).toDouble).sum / t.sum
          }
          val scaling = jobRate(false) / (width * jobRate(true))
          println(f"scaling_eff $scaling%.4f (${slices.size}%d width-1 legs on a quarter slice over ${wl.kinds}%d kinds vs width $width%d)")
          wl.report()
          Seq(("setup_s", setupS, "s"), ("job_s", jobS, "s"),
            ("items_per_s", wl.jobItems / jobS, "1/s"),
            ("scaling_eff", scaling, "ratio"),
            ("peak_heap_mb", peak, "MB"))
        } else {
          // tracing overhead: untraced vs traced cycles of all job kinds,
          // alternating which runs first; every timed request of both
          // feeds job_s_hi
          val ratios = mutable.ArrayBuffer.empty[Double]
          val full = mutable.ArrayBuffer.empty[(Int, Double)]
          def cycle(traced: Boolean): Option[Double] = {
            val ts = (0 until wl.kinds).map { k =>
              val t = leg(width, slice = false, k, traced)
              t.foreach(x => full += ((k, x)))
              t
            }
            if (ts.forall(_.isDefined)) Some(ts.flatten.sum) else None
          }
          val t0 = System.nanoTime()
          var i = 0
          while ((System.nanoTime() - t0) / 1e9 < seconds || ratios.size < 2 ||
                 full.size < minJobs(wl.kinds)) {
            require(attempted < 200, "fewer than 2 traced cycle pairs succeeded")
            val pair = if (i % 2 == 0) for (u <- cycle(false); t <- cycle(true)) yield t / u
              else for (t <- cycle(true); u <- cycle(false)) yield t / u
            pair.foreach(ratios += _)
            i += 1
          }
          attempted += 1
          val layers = wl.layers(tr, width)
          val lastCycle = tr.named("job").takeRight(wl.kinds)
          val sparkMetrics = tr.counters(lastCycle: _*)
          val all = PerLayer.map(_._1 -> 0.0).toMap ++
            sparkMetrics.filter(kv => PerLayer.exists(_._1 == kv._1)) ++ layers ++
            Map("gen.generate_s" -> genS, "trace.overhead" -> Harness.median(ratios.toSeq),
              "job_s_hi" -> jobTimes(full.toSeq, wl.kinds, width)._2)
          PerLayer.map { case (k, u) => (k, all(k), u) }
        }

      phase("measurement done")
      // a width missing for some kind runs one whole slice cycle, in
      // kind order (a kind may resume state its predecessor left)
      for (w <- Seq(1, width) if (0 until wl.kinds).exists(k => !sliceSeen.contains((k, w))))
        (0 until wl.kinds).foreach(k => sliceSeen((k, w)) = wl.job(w, slice = true, k))
      for (k <- 0 until wl.kinds) {
        attempted += 1
        val (a, b) = (sliceSeen((k, 1)), sliceSeen((k, width)))
        if (a == b) println(s"check width1_eq_width$width kind $k: ok $a")
        else fail(s"check width1_eq_width$width kind $k: $a != $b")
      }
      for ((c, ok, detail) <- wl.checks(width)) {
        attempted += 1
        if (ok) println(s"check $c: ok $detail") else fail(s"check $c: $detail")
      }
      phase("checks done")
      val errorRate = failures.size.toDouble / attempted
      println(f"error_rate $errorRate%.4f (${failures.size}%d failed of $attempted%d attempted)")
      val finalMetrics = metrics.map { case (k, v, u) =>
        if (k == "error_rate") (k, errorRate, u) else (k, v, u) }
      finalMetrics.foreach { case (k, v, u) => println(s"metric $k $v $u") }
      if (traced) {
        val f = new File(new File(out, "traces"), s"$runId.json")
        tr.write(f)
        println(s"trace ${tr.named("job").size} job spans written to $f")
      }
      val body = finalMetrics.map { case (k, v, u) =>
        s""""$k": {"value": ${num(v)}, "unit": "$u"}""" }.mkString(", ")
      result = s"""{"correct": ${failures.isEmpty}, "attempted": $attempted, "failed": ${failures.size}, "metrics": {$body}}"""
    } catch {
      case e: Throwable =>
        System.err.println(s"perfbench: $name seed $seed aborted: $e")
        e.printStackTrace()
        tr.close(); spark.stop()
        System.exit(1)
    }
    tr.close()
    spark.stop()
    phase("session stopped")
    println(result) // the last line of standard output
    // lingering non-daemon pool threads would otherwise hold the JVM open
    System.out.flush()
    System.exit(0)
  }

  private def num(v: Double): String = {
    require(!v.isNaN && !v.isInfinite, s"metric value $v is not a number")
    v.toString
  }
}
