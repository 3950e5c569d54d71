package perfbench

import java.awt.image.BufferedImage
import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import javax.imageio.ImageIO

/** Expected outputs recomputed from the generators' closed forms, never
  * from the program's readers or operators. Each check returns the first
  * discrepancy it finds, or None. */
object CompositeCheck {

  /** Expected median planes of one AOI: `(month)(band)`, AOI-sized,
    * row-major, NaN where the month has no valid acquisition. */
  def expected(scene: Scene, aoi: (Int, Int)): IndexedSeq[IndexedSeq[Array[Double]]] = {
    val w = CompositeFixture.AoiW; val h = CompositeFixture.AoiH
    (0 until 3).map { m =>
      val acqs = scene.acqs.filter(_.date.getMonthValue - 1 == m)
      val planes = scene.bands.indices.map(_ => new Array[Double](w * h))
      val vs = new Array[Int](acqs.length)
      for (i <- 0 until w * h) {
        val gr = aoi._1 + i / w; val gc = aoi._2 + i % w
        val ok = acqs.filter(_.valid(gr, gc))
        for (b <- scene.bands.indices) {
          val n = ok.length
          for (j <- 0 until n) vs(j) = scene.value(ok(j).idx, b, gr, gc)
          java.util.Arrays.sort(vs, 0, n)
          planes(b)(i) =
            if (n == 0) Double.NaN
            else if (n % 2 == 1) vs(n / 2).toDouble
            else (vs(n / 2 - 1) + vs(n / 2)) / 2.0
        }
      }
      planes
    }
  }

  /** Compares every month and band plane with the expected one: first
    * the valid-pixel count the footprints and cloud masks give, then each
    * pixel's exact median. */
  def check(aoi: (Int, Int), want: IndexedSeq[IndexedSeq[Array[Double]]],
            got: IndexedSeq[IndexedSeq[Array[Double]]]): Option[String] = {
    val w = CompositeFixture.AoiW
    if (got.length != want.length || got.zip(want).exists { case (g, e) => g.length != e.length })
      return Some(s"expected ${want.length} months x ${want.head.length} bands, got ${got.map(_.length)}")
    for (m <- want.indices; b <- want(m).indices) {
      val e = want(m)(b); val g = got(m)(b)
      if (g.length != e.length) return Some(s"month $m band $b has ${g.length} pixels, not ${e.length}")
      val (ng, ne) = (g.count(!_.isNaN), e.count(!_.isNaN))
      if (ng != ne) return Some(s"AOI $aoi month $m band $b: $ng valid pixels, footprints give $ne")
      val i = e.indices.indexWhere(i => !(e(i).isNaN && g(i).isNaN) && e(i) != g(i))
      if (i >= 0)
        return Some(s"AOI $aoi month $m band $b pixel (${i / w},${i % w}): median ${g(i)}, expected ${e(i)}")
    }
    None
  }

  def checkPng(png: Array[Byte]): Option[String] = {
    val img = ImageIO.read(new ByteArrayInputStream(png))
    if (img == null) Some("composite PNG does not decode")
    else if (img.getWidth != CompositeFixture.AoiW || img.getHeight != CompositeFixture.AoiH)
      Some(s"composite PNG is ${img.getWidth}x${img.getHeight}, AOI is ${CompositeFixture.AoiW}x${CompositeFixture.AoiH}")
    else None
  }

  def selfTest(seed: Long): Unit = {
    val aoi = CompositeFixture.aois(seed).head
    val want = expected(CompositeFixture.scene(seed), aoi)
    SelfTest.accepts("composite", check(aoi, want, want.map(_.map(_.clone()))))
    val bad = want.map(_.map(_.clone()))
    bad(1)(2)(bad(1)(2).indexWhere(!_.isNaN)) += 1.0
    SelfTest.rejects("composite: one wrong median pixel", check(aoi, want, bad))
  }
}

object TilesCheck {
  private val R = 6378137.0
  private val Eps = 1e-6

  /** First-valid composite scanning newest to oldest: the value of the
    * latest-dated acquisition valid at the pixel, or 0 where none is. */
  def mosaic(scene: Scene, b: Int, gr: Int, gc: Int): Int = {
    var i = scene.acqs.length - 1
    while (i >= 0) {
      if (scene.acqs(i).valid(gr, gc)) return scene.value(i, b, gr, gc)
      i -= 1
    }
    0
  }

  /** Fractional scene (col, row) under the center of pixel (r, c) of XYZ
    * tile (z, x, y), by the spherical Web-Mercator inverse. */
  def sourceOf(z: Int, x: Int, y: Int, r: Int, c: Int): (Double, Double) = {
    val span = 2 * math.Pi * R / (1 << z) / 256
    val mx = -math.Pi * R + (x * 256 + c + 0.5) * span
    val my = math.Pi * R - (y * 256 + r + 0.5) * span
    val lon = math.toDegrees(mx / R)
    val lat = math.toDegrees(2 * math.atan(math.exp(my / R)) - math.Pi / 2)
    ((lon - TilesFixture.Lon0) / TilesFixture.Res, (TilesFixture.Lat0 - lat) / TilesFixture.Res)
  }

  /** 8-px light/dark grey squares drawn under transparent pixels. */
  def checker(r: Int, c: Int): Int = {
    val g = if (((r / 8) + (c / 8)) % 2 == 0) 0xcc else 0x99
    (255 << 24) | (g << 16) | (g << 8) | g
  }

  def level(v: Int, lo: Double, hi: Double): Int =
    if (hi == lo) 0 else math.round(255 * math.max(0.0, math.min(1.0, (v - lo) / (hi - lo)))).toInt

  /** Expected ARGB at tile pixel (r, c), or None within Eps of a source
    * cell edge, where nearest sampling may go either way. */
  def expected(scene: Scene, z: Int, x: Int, y: Int, r: Int, c: Int,
               lo: Double, hi: Double): Option[Int] = {
    val (fc, fr) = sourceOf(z, x, y, r, c)
    def nearEdge(v: Double) = math.abs(v - math.rint(v)) < Eps
    if (nearEdge(fc) || nearEdge(fr)) None
    else {
      val gc = math.floor(fc).toInt; val gr = math.floor(fr).toInt
      val inside = gr >= 0 && gr < scene.height && gc >= 0 && gc < scene.width
      val vs = if (inside) scene.bands.indices.map(mosaic(scene, _, gr, gc)) else Seq(0)
      if (vs.contains(0)) Some(checker(r, c))
      else Some((255 << 24) | (level(vs(0), lo, hi) << 16) | (level(vs(1), lo, hi) << 8) | level(vs(2), lo, hi))
    }
  }

  def checkTile(scene: Scene, z: Int, x: Int, y: Int, png: Array[Byte],
                lo: Double, hi: Double): Option[String] = {
    val img = ImageIO.read(new ByteArrayInputStream(png))
    if (img == null) return Some(s"tile $z/$x/$y does not decode as PNG")
    if (img.getWidth != 256 || img.getHeight != 256)
      return Some(s"tile $z/$x/$y is ${img.getWidth}x${img.getHeight}")
    for (r <- 0 until 256; c <- 0 until 256) expected(scene, z, x, y, r, c, lo, hi).foreach { e =>
      val g = img.getRGB(c, r)
      if (!(0 to 24 by 8).forall(s => math.abs(((g >>> s) & 0xff) - ((e >>> s) & 0xff)) <= 1))
        return Some(f"tile $z/$x/$y pixel ($r,$c): ARGB $g%08x, expected $e%08x")
    }
    None
  }

  /** All valid composite values of the scene, every band flattened into
    * one sorted array (the display range's population). */
  def population(scene: Scene): Array[Int] = {
    val out = Array.newBuilder[Int]
    for (b <- scene.bands.indices; gr <- 0 until scene.height; gc <- 0 until scene.width) {
      val v = mosaic(scene, b, gr, gc)
      if (v != 0) out += v
    }
    val a = out.result(); java.util.Arrays.sort(a); a
  }

  /** `lo`/`hi` lie within the exact 2nd/98th percentiles, widened by
    * percentile_approx's rank error of n/accuracy. */
  def checkRange(sorted: Array[Int], lo: Double, hi: Double, accuracy: Int = 10000): Option[String] = {
    val n = sorted.length
    def within(v: Double, p: Double): Boolean = {
      val slack = n.toDouble / accuracy + 2
      val kLo = math.max(0, math.floor(p * n - slack).toInt)
      val kHi = math.min(n - 1, math.ceil(p * n + slack).toInt)
      v >= sorted(kLo) && v <= sorted(kHi)
    }
    if (!within(lo, 0.02)) Some(s"display range low $lo is outside the exact 2nd percentile band")
    else if (!within(hi, 0.98)) Some(s"display range high $hi is outside the exact 98th percentile band")
    else None
  }

  def selfTest(seed: Long): Unit = {
    val scene = TilesFixture.scene(seed)
    val (z, x, y) = TilesFixture.script(5)
    val (lo, hi) = (400.0, 2600.0)
    val img = new BufferedImage(256, 256, BufferedImage.TYPE_INT_ARGB)
    for (r <- 0 until 256; c <- 0 until 256) {
      val (fc, fr) = sourceOf(z, x, y, r, c)
      val (gr, gc) = (math.floor(fr).toInt, math.floor(fc).toInt)
      val vs = scene.bands.indices.map(mosaic(scene, _, gr, gc))
      img.setRGB(c, r, if (vs.contains(0)) checker(r, c)
        else (255 << 24) | (level(vs(0), lo, hi) << 16) | (level(vs(1), lo, hi) << 8) | level(vs(2), lo, hi))
    }
    def png(i: BufferedImage) = { val o = new ByteArrayOutputStream(); ImageIO.write(i, "png", o); o.toByteArray }
    SelfTest.accepts("tiles", checkTile(scene, z, x, y, png(img), lo, hi))
    // shift one pixel: it takes its right neighbour's colour
    val (r, c) = (for (r <- 100 until 156; c <- 100 until 156
                       if (0 to 16 by 8).exists(s => math.abs(((img.getRGB(c, r) >>> s) & 0xff) -
                         ((img.getRGB(c + 1, r) >>> s) & 0xff)) > 1)) yield (r, c)).head
    img.setRGB(c, r, img.getRGB(c + 1, r))
    SelfTest.rejects("tiles: one tile pixel shifted", checkTile(scene, z, x, y, png(img), lo, hi))
  }
}

object DedupCheck {
  private def tokens(t: String): Set[String] = t.split(' ').toSet

  def jaccard(a: String, b: String): Double = {
    val x = tokens(a); val y = tokens(b)
    (x intersect y).size.toDouble / (x union y).size.toDouble
  }

  /** Every check but the exact-duplicate one (see [[keptDuplicates]]). */
  def check(c: Corpus, kept: Array[Long]): Option[String] = {
    val keptSet = kept.toSet
    if (keptSet.size != kept.length) return Some(s"${kept.length - keptSet.size} kept ids are repeated")
    val foreign = keptSet.diff(c.ids)
    if (foreign.nonEmpty) return Some(s"kept ids not in the input: ${foreign.take(5)}")
    val clusterOf = c.clusters.flatMap(cl => cl.ids.map(_ -> cl)).toMap
    for (cl <- c.clusters if !keptSet(cl.ids.min)) return Some(s"cluster min id ${cl.ids.min} was removed")
    for (id <- c.ids if !keptSet(id)) clusterOf.get(id) match {
      case None => return Some(s"removed document $id lies outside every planted cluster")
      case Some(cl) =>
        if (!cl.ids.exists(m => m != id && jaccard(c.texts(id), c.texts(m)) >= DedupFixture.Threshold))
          return Some(s"removed document $id has Jaccard < ${DedupFixture.Threshold} with all of its cluster")
    }
    None
  }

  /** Exact-duplicate groups that keep more than their min id. This is a
    * known fault of `Dedup.minhashStarEdges`, which every corpus shows
    * through its planted trap pair (`DedupFixture.trap`), so the run
    * counts the op as failed instead of reporting a wrong result. */
  def keptDuplicates(c: Corpus, kept: Array[Long]): Option[String] = {
    val keptSet = kept.toSet
    val bad = c.clusters.filter(_.exact).flatMap { cl =>
      val extra = cl.ids.filter(i => i != cl.ids.min && keptSet(i))
      if (extra.isEmpty) None else Some(s"${cl.ids.min}: ${extra.mkString(",")}")
    }
    if (bad.isEmpty) None
    else Some(s"${bad.length} exact-duplicate groups keep more than their min id (${bad.take(3).mkString("; ")})")
  }

  def selfTest(seed: Long): Unit = {
    val c = DedupFixture.corpus(seed)
    val dropped = c.clusters.filter(_.exact).flatMap(cl => cl.ids.filter(_ != cl.ids.min)).toSet
    val good = c.ids.diff(dropped).toArray.sorted
    SelfTest.accepts("dedup", check(c, good))
    SelfTest.accepts("dedup duplicates", keptDuplicates(c, good))
    val inCluster = c.clusters.flatMap(_.ids).toSet
    val unrelated = good.find(i => !inCluster(i)).get
    SelfTest.rejects("dedup: one unrelated document removed", check(c, good.filter(_ != unrelated)))
    SelfTest.rejects("dedup: one exact-duplicate pair both kept", keptDuplicates(c, (good :+ dropped.head).sorted))
  }
}

object SelfTest {
  def accepts(what: String, r: Option[String]): Unit =
    r.foreach(e => throw new IllegalStateException(s"checker self-test: $what rejects a correct output: $e"))
  def rejects(what: String, r: Option[String]): Unit =
    if (r.isEmpty) throw new IllegalStateException(s"checker self-test: $what was accepted")
}
