package perfbench

import java.io.File
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.{PolyRow, PointRow}
import graft.core.Geom
import graft.operators.{Components, Knn, SpatialJoin, Tiler}

/** vector_graph: one job runs the point-in-polygon join, both kNN joins
  * and connected components over seeded inputs, collecting each result. */
final class VectorGraph(spark: SparkSession, dir: File, tr: Tracer, seed: Long)
    extends Workload {
  implicit val s: SparkSession = spark
  import spark.implicits._
  val K = 8
  val JoinRes: Int = Tiler.resForCellSize(256)
  val KnnRes: Int = Tiler.resForCellSize(512)
  val HexRes = 6
  private def path(name: String, slice: Boolean) =
    new File(dir, if (slice) s"$name-slice" else name).getAbsolutePath
  private var polys: Dataset[PolyRow] = _
  private var rows = Map.empty[(Boolean, String), Long]
  /** Last full-width output of each job kind, for the checks. */
  private val last = mutable.Map.empty[Int, Array[Row]]
  private val InputOf = Seq("points", "queries", "queries", "edges")
  override def kinds: Int = 4

  private def read(name: String, slice: Boolean, width: Int): DataFrame =
    spark.read.parquet(path(name, slice)).coalesce(width)

  def items(slice: Boolean, kind: Int): Long = rows((slice, InputOf(kind)))

  def open(): Unit = {
    polys = spark.createDataset(graft.gen.Synth.polygons(256, seed))
    val counts = java.nio.file.Files.readString(new File(dir, "items.txt").toPath).trim.split(" ")
    rows = counts.grouped(3).map { case Array(sl, n, c) => (sl.toBoolean, n) -> c.toLong }.toMap
  }

  /** One request of the closed loop: kind 0 point-in-polygon join,
    * 1 grid kNN, 2 hex kNN, 3 connected components. */
  def job(width: Int, slice: Boolean, kind: Int): Long = {
    Harness.setWidth(spark, width)
    def pts = read("points", slice, width)
    def qs = read("queries", slice, width)
    val out = kind match {
      case 0 => tr.span("pip")(SpatialJoin.pointsInPolygons(pts, polys, JoinRes)
        .select("pt_id", "poly_id", "part").collect())
      case 1 => tr.span("knn")(Knn.knnJoin(qs, pts, K, KnnRes, 1).collect())
      case 2 => tr.span("knn_hex")(Knn.knnJoinHex(qs, pts, K, HexRes, 2).collect())
      case 3 => tr.span("cc")(Components.connected(read("edges", slice, width), "src", "dst").collect())
    }
    if (!slice) last(kind) = out
    Harness.fingerprint(out)
  }

  def checks(width: Int): Seq[(String, Boolean, String)] = {
    val Seq(pip, knn, hex, cc) = (0 until kinds).map(last)
    val pts = read("points", false, 1).collect().map(r => PointRow(r.getLong(0), r.getDouble(1), r.getDouble(2), ""))
    val qs = read("queries", false, 1).collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    val rng = new graft.gen.Synth.Rng(seed * 17 + 3)
    // point-in-polygon: sampled points against every polygon part
    val ps = polys.collect()
    val samplePts = (0 until 300).map(_ => pts(rng.nextInt(pts.length))).distinct
    val pipGot = pip.map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val pipBad = samplePts.count { p =>
      val want = ps.filter(q => Geom.pointInPolygon(p.x, p.y, q.rings.map(_.map(v => (v.x, v.y)))))
        .map(q => (p.pt_id, q.poly_id, q.part)).toSet
      want != pipGot.filter(_._1 == p.pt_id)
    }
    // kNN: sampled queries, (dist2, pt_id) order including ties
    val sampleQ = (0 until 60).map(_ => qs(rng.nextInt(qs.length))).distinct
    def knnBad(got: Array[Row]): Int = {
      val byQ = got.groupBy(_.getLong(0))
      sampleQ.count { case (q, x, y) =>
        val want = pts.map(p => ((x - p.x) * (x - p.x) + (y - p.y) * (y - p.y), p.pt_id))
          .sorted.take(K).zipWithIndex.map { case ((d, id), i) => (id, d, i + 1) }.toSeq
        val have = byQ.getOrElse(q, Array.empty[Row])
          .map(r => (r.getLong(1), r.getDouble(2), r.getInt(3))).sortBy(_._3).toSeq
        want != have
      }
    }
    // components: in-memory union-find over every edge. Self-loops carry
    // no connectivity (the Components contract): a node seen only in a
    // self-loop is isolated, which callers map to itself.
    val edges = read("edges", false, 1).collect().map(r => (r.getLong(0), r.getLong(1)))
      .filter { case (a, b) => a != b }
    val parent = mutable.HashMap.empty[Long, Long]
    def find(a: Long): Long = {
      val p = parent.getOrElseUpdate(a, a)
      if (p == a) a else { val r = find(p); parent(a) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    val ccWant = parent.keys.map(n => n -> find(n)).toMap
    val ccGot = cc.map(r => r.getLong(0) -> r.getLong(1)).toMap
    val (knnDiff, hexDiff) = (knnBad(knn), knnBad(hex))
    Seq(
      ("pip_vs_brute", pipBad == 0, s"${samplePts.size} sampled points, $pipBad differ"),
      ("knn_vs_brute", knnDiff == 0, s"${sampleQ.size} sampled queries, $knnDiff differ"),
      ("knn_hex_vs_brute", hexDiff == 0, s"${sampleQ.size} sampled queries, $hexDiff differ"),
      ("cc_vs_union_find", ccGot == ccWant, s"${ccWant.size} nodes, ${ccWant.values.toSet.size} components"))
  }

  def layers(tr: Tracer, width: Int): Map[String, Double] = {
    // the traced cycles of the overhead measurement carry the spans
    if (tr.named("cc").isEmpty) (0 until kinds).foreach(job(width, slice = false, _))
    def med(n: String) = Harness.median(tr.named(n).map(tr.seconds))
    Map(
      "operators.SpatialJoin.pip_s" -> med("pip"),
      "operators.Knn.knn_s" -> med("knn"),
      "operators.Knn.knn_hex_s" -> med("knn_hex"),
      "operators.Components.cc_s" -> med("cc"),
      "operators.Components.jobs" -> Harness.median(tr.named("cc").map(s => tr.counters(s)("spark.jobs"))))
  }
}

final case class Pt3(pt_id: Long, x: Double, y: Double)
final case class Query(q_id: Long, x: Double, y: Double)
final case class Edge(src: Long, dst: Long)

object VectorGraph {
  /** Writes points (with duplicated coordinates for kNN ties), queries
    * and an edge list of chains, hubs and random edges; the
    * slice has a quarter of each. */
  def generate(spark: SparkSession, dir: File, seed: Long, nPoints: Int): Unit = {
    import spark.implicits._
    val counts = mutable.ArrayBuffer.empty[String]
    def write[T: org.apache.spark.sql.Encoder](rows: Seq[T], name: String): Unit = {
      spark.createDataset(rows).write.parquet(new File(dir, name).getAbsolutePath)
      counts += s"${name.endsWith("-slice")} ${name.stripSuffix("-slice")} ${rows.size}"
    }
    for ((sl, n) <- Seq(false -> nPoints, true -> nPoints / 4)) {
      val suffix = if (sl) "-slice" else ""
      val rng = new graft.gen.Synth.Rng(seed * 7919 + (if (sl) 1 else 0))
      val base = graft.gen.Synth.points(n, seed + (if (sl) 1 else 0))
      val dups = base.indices.filter(_ % 40 == 0).map(i =>
        base(i).copy(pt_id = base.size + i.toLong, label = "tie"))
      write((base ++ dups).map(p => Pt3(p.pt_id, p.x, p.y)), s"points$suffix")
      val nq = n / 15
      write((0 until nq).map(i => Query(i.toLong, rng.nextDouble() * 8000 - 4000,
        rng.nextDouble() * 8000 - 4000)), s"queries$suffix")
      // graph: chains (long diameters) and hubs (skewed degree)
      val nodes = n / 2
      val perm = (0 until nodes).map(_.toLong).toArray
      for (i <- perm.indices.reverse) {
        val j = rng.nextInt(i + 1); val t = perm(i); perm(i) = perm(j); perm(j) = t
      }
      val e = mutable.ArrayBuffer.empty[(Long, Long)]
      val chainLen = 8; val chains = nodes / 4 / chainLen
      for (c <- 0 until chains; k <- 0 until chainLen - 1)
        e += ((perm(c * chainLen + k), perm(c * chainLen + k + 1)))
      val hubBase = chains * chainLen
      val hubs = math.max(1, nodes / 400)
      for (h <- 0 until hubs; k <- 1 until 100)
        e += ((perm(hubBase + h * 100), perm(hubBase + h * 100 + k)))
      write(e.toSeq.map { case (a, b) => Edge(a, b) }, s"edges$suffix")
    }
    java.nio.file.Files.writeString(new File(dir, "items.txt").toPath, counts.mkString(" "))
  }
}
