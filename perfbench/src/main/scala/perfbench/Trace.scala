package perfbench

import scala.collection.mutable
import org.apache.spark.{BenchBus, SparkContext}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** One recorded interval. `parent` is the id of the enclosing span (-1 at
  * the root); every span of one benchmark run shares `run`. */
final case class Span(id: Int, name: String, start: Long, end: Long,
                      parent: Int, run: String, stats: GroupStats)

/** Per-job-group Spark counters, filled from listener events. */
final class GroupStats {
  var jobs = 0L
  var failedTasks = 0L
  var schedDelayMs = 0L
  var gcMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  /** (scanned table root, bytes of the files the scan selected). */
  val scans = mutable.ArrayBuffer.empty[(String, Long)]
  val taskMsByStage = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]

  def tasks: Long = taskMsByStage.valuesIterator.map(_.size.toLong).sum

  def merged(o: GroupStats): GroupStats = {
    val m = new GroupStats
    for (x <- Seq(this, o)) {
      m.jobs += x.jobs; m.failedTasks += x.failedTasks; m.schedDelayMs += x.schedDelayMs
      m.gcMs += x.gcMs; m.shuffleWrite += x.shuffleWrite; m.shuffleRead += x.shuffleRead
      m.spill += x.spill; m.scans ++= x.scans
      x.taskMsByStage.foreach { case (k, v) => m.taskMsByStage.getOrElseUpdate(k, mutable.ArrayBuffer.empty) ++= v }
    }
    m
  }

  /** Counters by their `spark.*` metric names. Skew is max / median task
    * time of the stage holding the most task time (the stage that sets
    * the job's critical path). */
  def metrics: Map[String, Double] = {
    val all = taskMsByStage.valuesIterator.flatten.toArray.sorted
    val dominant = if (taskMsByStage.isEmpty) Array.empty[Long]
      else taskMsByStage.valuesIterator.maxBy(_.sum).toArray.sorted
    def p50(a: Array[Long]) = if (a.isEmpty) 0.0 else a(a.length / 2).toDouble
    Map(
      "spark.jobs" -> jobs.toDouble,
      "spark.tasks" -> tasks.toDouble,
      "spark.task_s_p50" -> p50(all) / 1e3,
      "spark.task_s_max" -> (if (all.isEmpty) 0.0 else all.last / 1e3),
      "spark.task_skew" ->
        (if (dominant.isEmpty) 0.0 else dominant.last / math.max(1.0, p50(dominant))),
      "spark.sched_delay_s" -> schedDelayMs / 1e3,
      "spark.gc_s" -> gcMs / 1e3,
      "spark.shuffle_write_bytes" -> shuffleWrite.toDouble,
      "spark.shuffle_read_bytes" -> shuffleRead.toDouble,
      "spark.spill_bytes" -> spill.toDouble,
      "spark.failed_tasks" -> failedTasks.toDouble,
      "spark.scan_file_bytes" -> scans.map(_._2).sum.toDouble)
  }
}

/** Reads task, shuffle, spill, GC and scheduler-delay counters per job
  * group (the group a span sets while its jobs run). */
final class GroupListener extends SparkListener {
  private val groups = mutable.Map.empty[String, GroupStats]
  private val stageGroup = mutable.Map.empty[Int, String]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    g.foreach { id =>
      groups.getOrElseUpdate(id, new GroupStats).jobs += 1
      e.stageIds.foreach(stageGroup(_) = id)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageGroup.get(e.stageId).foreach { id =>
      val s = groups.getOrElseUpdate(id, new GroupStats)
      val info = e.taskInfo
      if (!info.successful) s.failedTasks += 1
      val m = e.taskMetrics
      s.taskMsByStage.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += info.duration
      if (m != null) {
        s.schedDelayMs += math.max(0L, info.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime - info.gettingResultTime)
        s.gcMs += m.jvmGCTime
        s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  def take(group: String): GroupStats = synchronized {
    groups.remove(group).getOrElse(new GroupStats)
  }
}

/** File-scan sizes of every finished query, from the executed plans'
  * `filesSize` metrics (the task-level bytes-read counter misses reads the
  * parquet reader makes off the task thread). Taken by the next span
  * boundary, so each query lands in the innermost span that ran it. */
final class ScanListener extends QueryExecutionListener {
  private val pending = mutable.ArrayBuffer.empty[(String, Long)]

  private def scans(p: SparkPlan): Seq[(String, Long)] = p match {
    case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
    case q: QueryStageExec => scans(q.plan)
    case f: FileSourceScanExec =>
      Seq((f.relation.location.rootPaths.mkString(","), f.metrics.get("filesSize").map(_.value).getOrElse(0L)))
    case other => (other.children ++ other.subqueries).flatMap(scans)
  }

  override def onSuccess(funcName: String, qe: org.apache.spark.sql.execution.QueryExecution,
                         durationNs: Long): Unit = synchronized { pending ++= scans(qe.executedPlan) }
  override def onFailure(funcName: String, qe: org.apache.spark.sql.execution.QueryExecution,
                         exception: Exception): Unit = ()

  def take(): Seq[(String, Long)] = synchronized { val r = pending.toSeq; pending.clear(); r }
}

/** Span recorder. Disabled, `span` only runs its body: no listener, no
  * job group, nothing kept. Enabled, each span sets a fresh Spark job
  * group, and when it closes the listener's counters for that group are
  * attached to it. Spans stay in memory until `write`. */
final class Tracer(spark: SparkSession, val enabled: Boolean, run: String) {
  private val sc = spark.sparkContext
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Int]
  private var nextId = 0
  private val listener = if (enabled) {
    val l = new GroupListener; sc.addSparkListener(l); Some(l)
  } else None
  private val scanListener = if (enabled) {
    val l = new ScanListener; spark.listenerManager.register(l); Some(l)
  } else None
  /** Scans finished while a span was innermost, by span id (-1: none). */
  private val scansBySpan = mutable.Map.empty[Int, mutable.ArrayBuffer[(String, Long)]]

  private def takeScans(): Unit = {
    BenchBus.drain(sc)
    scansBySpan.getOrElseUpdate(stack.headOption.getOrElse(-1), mutable.ArrayBuffer.empty) ++=
      scanListener.get.take()
  }

  def span[A](name: String)(body: => A): A = {
    if (!enabled) return body
    val id = nextId; nextId += 1
    val parent = stack.headOption.getOrElse(-1)
    val group = s"$run/$id"
    takeScans()
    stack.push(id)
    sc.setJobGroup(group, name)
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      takeScans()
      stack.pop()
      stack.headOption match {
        case Some(p) => sc.setJobGroup(s"$run/$p", "")
        case None => sc.clearJobGroup()
      }
      val stats = listener.get.take(group)
      stats.scans ++= scansBySpan.remove(id).getOrElse(Nil)
      spans += Span(id, name, t0, t1, parent, run, stats)
    }
  }

  /** Every recorded span with this name. */
  def named(name: String): Seq[Span] = spans.filter(_.name == name).toSeq

  def seconds(s: Span): Double = (s.end - s.start) / 1e9

  /** Span duration minus the time its direct children cover. */
  def selfSeconds(s: Span): Double = {
    val kids = spans.filter(_.parent == s.id).map(k => (k.start, k.end)).sortBy(_._1)
    var covered = 0L; var upTo = s.start
    kids.foreach { case (a, b) =>
      val lo = math.max(a, upTo)
      if (b > lo) { covered += b - lo; upTo = b }
    }
    (s.end - s.start - covered) / 1e9
  }

  private def merged(roots: Seq[Span]): GroupStats = {
    def desc(id: Int): Seq[Span] = spans.filter(_.parent == id).toSeq.flatMap(k => k +: desc(k.id))
    roots.flatMap(r => r +: desc(r.id)).foldLeft(new GroupStats)((a, k) => a.merged(k.stats))
  }

  /** Spark counters of the given spans' jobs and their descendants'. */
  def counters(roots: Span*): Map[String, Double] = merged(roots).metrics

  /** Bytes of the files scanned under these spans from tables whose root
    * path contains `table`. */
  def scanBytes(table: String, roots: Span*): Double =
    merged(roots).scans.filter(_._1.contains(table)).map(_._2).sum.toDouble

  def write(path: java.io.File): Unit = {
    path.getParentFile.mkdirs()
    val body = spans.map { s =>
      val cs = s.stats.metrics.toSeq.sortBy(_._1).map { case (k, v) => s""""$k":$v""" }.mkString(",")
      s"""{"id":${s.id},"name":"${s.name}","start_ns":${s.start},"end_ns":${s.end},"self_s":${selfSeconds(s)},""" +
        s""""parent":${s.parent},"run":"${s.run}","counters":{$cs}}"""
    }.mkString("[\n", ",\n", "\n]\n")
    java.nio.file.Files.writeString(path.toPath, body)
  }

  def close(): Unit = {
    listener.foreach(sc.removeSparkListener)
    scanListener.foreach(spark.listenerManager.unregister)
  }
}
