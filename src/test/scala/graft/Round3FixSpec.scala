package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.core.{GeoScale, GridIndex, Hex}

/** Round-3 fix gates: the latitude-aware cell mode. */
class Round3FixSpec extends AnyFunSuite {
  implicit lazy val spark: SparkSession = SparkTestSession.spark
  import spark.implicits._

  test("geo cells: east-west ground distance exact; adjacency holds at every latitude") {
    for (lat <- Seq(-60.0, -30.0, 0.0, 45.0, 66.5)) {
      val lng = 10.0
      val dLng = 1000.0 / (GeoScale.MetersPerDegree * math.cos(math.toRadians(lat)))
      val (x1, y1) = GeoScale.toPlanar(lat, lng)
      val (x2, y2) = GeoScale.toPlanar(lat, lng + dLng)
      // 1000 ground meters stay 1000 planar meters at EVERY latitude —
      // the 111320*cos(lat) property the reference relies on
      assert(math.abs((x2 - x1) * GeoScale.MetersPerUnit - 1000.0) < 1e-6, s"lat $lat")
      assert(y1 == y2)
      // 1 km apart -> same or neighboring hex at res 7 (~4.6 km hexes)
      assert(Hex.gridDistance(Hex.cellId(x1, y1, 7), Hex.cellId(x2, y2, 7)) <= 1)
      // and same or edge-adjacent res-13 grid cell (8.2 km ground cells)
      val g1 = GridIndex.cellId(x1, y1, 13); val g2 = GridIndex.cellId(x2, y2, 13)
      assert(math.abs(GridIndex.ix(g1) - GridIndex.ix(g2)) <= 1 &&
        GridIndex.iy(g1) == GridIndex.iy(g2))
    }
    // whole-Earth containment: every point lands inside its cell's bounds
    // (nothing clamps — the 64 m world unit fits lng ±180, lat ±90)
    val rng = new graft.gen.Synth.Rng(7L)
    for (_ <- 0 until 500) {
      val lat = rng.nextDouble() * 179.98 - 89.99
      val lng = rng.nextDouble() * 359.98 - 179.99
      val (x, y) = GeoScale.toPlanar(lat, lng)
      val c = GridIndex.cellId(x, y, 13)
      val bb = GridIndex.cellBounds(c)
      assert(x >= bb.x0 && x < bb.x1 && y >= bb.y0 && y < bb.y1, s"($lat, $lng)")
    }
  }

  test("native DotExpr / LshSigExpr == the HOF column forms bit for bit") {
    import graft.text.EmbedOps
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").limit(50)
    val hofDot = aggregate(zip_with(col("embedding"), col("embedding"),
      (x, y) => x.cast("double") * y.cast("double")), lit(0.0), (acc, v) => acc + v)
    val hofSig = (0 until 16).map { p =>
      val proj = aggregate(zip_with(col("embedding"),
        sequence(lit(0), size(col("embedding")) - 1),
        (v, i) => v.cast("double") *
          (shiftrightunsigned(lit(1103515245L) * (lit(p.toLong * EmbedOps.PlaneStride) + i) + lit(12345L), 16)
            .bitwiseAND(lit(1L)).cast("double") * 2.0 - 1.0)),
        lit(0.0), (acc, x) => acc + x)
      when(proj > 0, shiftleft(lit(1L), p)).otherwise(lit(0L))
    }.reduce(_ + _)
    val rows = e.select(
      EmbedOps.dot(col("embedding"), col("embedding")).as("d"), hofDot.as("dh"),
      EmbedOps.lshSignature(col("embedding"), 16).as("s"), hofSig.as("sh")).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getDouble(0) == r.getDouble(1))
      assert(r.getLong(2) == r.getLong(3))
    }
  }

  test("geo cell Columns mirror the core math bit for bit") {
    import graft.functions.SpatialFunctions._
    val df = spark.range(300).select(
      ((col("id") % 140) - 70 + lit(0.25)).cast("double").as("lat"),
      (((col("id") * 7) % 360) - 180 + lit(0.5)).cast("double").as("lng"))
    val rows = df.select(col("lat"), col("lng"),
      gridCellIdGeo(col("lat"), col("lng"), 13).as("g"),
      hexCellIdGeo(col("lat"), col("lng"), 7).as("h")).collect()
    rows.foreach { r =>
      val (x, y) = GeoScale.toPlanar(r.getDouble(0), r.getDouble(1))
      assert(r.getLong(2) == GridIndex.cellId(x, y, 13))
      assert(r.getLong(3) == Hex.cellId(x, y, 7))
    }
  }
}
