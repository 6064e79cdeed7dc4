package perfbench

import java.io.File
import java.nio.file.Files
import graft.{ImageRow, PolyRow, Pt}
import graft.core.PixelCodec
import graft.gen.Synth

/** Seeded input generation with an on-disk cache. A cache entry is keyed
  * by workload, size, seed and a fingerprint of what the generators
  * produce right now, so a changed generator never serves a stale table.
  * The cold generation time is stored with the entry and reported as
  * `gen.generate_s` whether or not this run generated. */
object Inputs {
  /** Hash of the benchmark's own sources (set from `--recipe`), so a
    * changed input recipe also misses the cache. */
  @volatile var recipe = ""

  def fingerprint(seed: Long): String = {
    var h = recipe.hashCode.toLong
    def mix(x: Long): Unit = h = h * 1099511628211L ^ x
    val img = Synth.imageAt(0L, seed, 3)
    mix(java.util.Arrays.hashCode(img.bytes)); mix(img.w); mix(img.h)
    Synth.polygons(4, seed).foreach(p => p.rings.foreach(_.foreach(q => mix(q.x.hashCode()))))
    Synth.points(4, seed).foreach(p => mix(p.x.hashCode() ^ p.y.hashCode()))
    mix(java.util.Arrays.hashCode(Synth.pixels(seed, 8, 8, 0)))
    Synth.Sizes.foreach(mix(_))
    // every format the tables hold, on a band with runs and fractions
    val band = Array(1f, 1f, 2f, 3f, 3f, 3f, 0.5f, 255f)
    Synth.Fmts.foreach { f =>
      mix(f.hashCode)
      mix(java.util.Arrays.hashCode(PixelCodec.encode(f, 4, 2, Array(band, band.reverse))))
    }
    mix(PixelCodec.phash64(4, 2, band))
    java.lang.Long.toHexString(h)
  }

  /** Returns the entry directory and the cold generation seconds, running
    * `gen(dir)` first when the entry is missing. Keeps the newest few
    * entries per workload and deletes older ones. */
  def cached(root: File, workload: String, size: String, seed: Long)
            (gen: File => Unit): (File, Double) = {
    val dir = new File(root, s"$workload-$size-s$seed-${fingerprint(seed)}")
    val ready = new File(dir, "_READY")
    if (!ready.exists()) {
      delete(dir)
      val (t, _) = Harness.time(gen(dir))
      Files.writeString(ready.toPath, f"$t%.6f")
    }
    dir.setLastModified(System.currentTimeMillis())
    Option(root.listFiles()).toSeq.flatten
      .filter(f => f.getName.startsWith(s"$workload-") && f != dir)
      .sortBy(-_.lastModified()).drop(3).foreach(delete)
    (dir, Files.readString(ready.toPath).trim.toDouble)
  }

  def delete(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(delete)
    f.delete()
  }

  /** A fixed-size image with Synth's pixel field, placed at (x0, y1). */
  def image(id: String, pixSeed: Long, size: Int, fmt: String,
            x0: Double, y1: Double): ImageRow = {
    val bands = Array.tabulate(3)(b => Synth.pixels(pixSeed, size, size, b))
    val enc = PixelCodec.encode(fmt, size, size, bands)
    ImageRow(id, enc, size, size, fmt, s"bench $id",
      PixelCodec.phash64(size, size, bands(0)), x0, y1, 1.0)
  }

  /** Irregular polygon: `nv` vertices at jittered radius around (cx, cy). */
  def blob(id: Long, rng: Synth.Rng, cx: Double, cy: Double, r: Double, nv: Int): PolyRow = {
    val ring = Array.tabulate(nv) { v =>
      val ang = 2 * math.Pi * v / nv
      val rr = r * (0.55 + 0.45 * rng.nextDouble())
      Pt(cx + rr * math.cos(ang), cy + rr * math.sin(ang))
    }
    PolyRow(id, 0, Array(ring), 1 + rng.nextInt(3), s"blob$id", rng.nextDouble() * 100)
  }
}
