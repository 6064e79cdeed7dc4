package perfbench

import java.lang.management.ManagementFactory
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData
import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.sql.{Dataset, Row, SparkSession}

/** What every workload offers the harness. A job is the unit of the closed
  * loop; `width` is the number of task threads it may use and `slice`
  * selects the quarter-sized input of the weak-scaling leg. */
trait Workload {
  /** Job kinds the closed loop cycles through (vector_graph: one per
    * operator); 1 for a workload with a single job. */
  def kinds: Int = 1
  /** Work one request of `kind` does: decoded pixels, or input rows. */
  def items(slice: Boolean, kind: Int): Long
  /** Work one job (a cycle of every kind) does, at full size. */
  def jobItems: Long = (0 until kinds).map(items(false, _)).sum
  /** Opens the generated inputs (the repeatable part of set-up). */
  def open(): Unit
  /** Runs one job to completion; returns its order-independent output
    * fingerprint. `width` is the number of task threads it may use and
    * `slice` selects the quarter-sized input of the weak-scaling leg. */
  def job(width: Int, slice: Boolean, kind: Int): Long
  /** Prints workload-specific readings of the timed loop. */
  def report(): Unit = ()
  /** Output checks against brute-force answers, run after the timed loop:
    * (name, passed, detail). */
  def checks(width: Int): Seq[(String, Boolean, String)]
  /** Per-layer metrics, measured by the traced run. */
  def layers(tr: Tracer, width: Int): Map[String, Double]
}

object Harness {
  def time[A](f: => A): (Double, A) = {
    val t0 = System.nanoTime(); val r = f; ((System.nanoTime() - t0) / 1e9, r)
  }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted; val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Consume every column of every row without collecting it. */
  def noop[T](ds: Dataset[T]): Unit = ds.toDF().write.format("noop").mode("overwrite").save()

  /** Order-independent fingerprint of a result: the sum of per-row 64-bit
    * hashes of the rows' string forms (doubles print exactly). */
  def fingerprint(rows: Iterable[Row]): Long = rows.iterator.map { r =>
    var h = 1125899906842597L
    r.toString.foreach(c => h = 31 * h + c)
    h ^= h >>> 33; h *= 0xff51afd7ed558ccdL; h ^= h >>> 33; h
  }.sum

  /** Sets the task width for the next plans: shuffle partitions; callers
    * coalesce their scans to the same width. */
  def setWidth(spark: SparkSession, width: Int): Unit =
    spark.conf.set("spark.sql.shuffle.partitions", width.toString)
}

/** Post-GC old-generation peak: after every collection, the old-gen pools'
  * used bytes are read from the GC notification; the maximum since the
  * last `reset` is kept. */
object Heap {
  @volatile private var peak = 0L
  private var installed = false

  private val listener = new NotificationListener {
    override def handleNotification(n: Notification, hb: Any): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        var old = 0L
        info.getGcInfo.getMemoryUsageAfterGc.forEach { (pool, u) =>
          if (pool.contains("Old Gen") || pool.contains("Tenured")) old += u.getUsed
        }
        synchronized { if (old > peak) peak = old }
      }
  }

  def install(): Unit = if (!installed) {
    installed = true
    ManagementFactory.getGarbageCollectorMXBeans.forEach {
      case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
      case _ =>
    }
  }

  /** Full collection, then start a new peak from the live set. */
  def reset(): Unit = {
    System.gc()
    var old = 0L
    ManagementFactory.getMemoryPoolMXBeans.forEach { p =>
      if (p.getName.contains("Old Gen") || p.getName.contains("Tenured")) old += p.getUsage.getUsed
    }
    synchronized { peak = old }
  }
  def peakMb: Double = { val p: Long = peak; p / (1024.0 * 1024.0) }
}
