package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.time.LocalDate
import java.util.concurrent.{Callable, Executors}
import javax.imageio.{IIOImage, ImageIO, ImageWriteParam}
import java.awt.image.BufferedImage

/** Seeded generation of every benchmark input, plus the closed forms the
  * checkers recompute expected outputs from. Nothing here calls the
  * program: the files are written with the JDK's ImageIO TIFF writer and
  * plain text, and the expected values come from the formulas below. */
object Rng {
  /** SplitMix64 finalizer (Steele, Lea & Flood 2014). */
  def mix(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d4a885291e2cbdL
    z ^ (z >>> 31)
  }
  def px(seed: Long, acq: Int, band: Int, r: Int, c: Int): Long =
    mix(mix(mix(seed ^ (acq.toLong << 40) ^ (band.toLong << 32)) ^ r.toLong) ^ (c.toLong << 21))
}

/** A deterministic stream of structure choices (not per-pixel values). */
final class Draws(seed: Long) {
  private var s = Rng.mix(seed)
  def next(): Long = { s += 0x9e3779b97f4a7c15L; Rng.mix(s) }
  def int(n: Int): Int = ((next() >>> 1) % n).toInt
  def unit(): Double = (next() >>> 11).toDouble / (1L << 53).toDouble
}

final case class Disc(r: Int, c: Int, radius: Int) {
  def covers(gr: Int, gc: Int): Boolean = {
    val dr = gr - r; val dc = gc - c
    dr * dr + dc * dc <= radius * radius
  }
}

/** One acquisition: its date, its file's extent in the scene grid (rows
  * `r0 until r1`, cols `c0 until c1`), an optional swath edge inside the
  * file (pixels with `2*col + row < swath` are nodata) and cloud discs. */
final case class Acq(idx: Int, date: LocalDate, r0: Int, c0: Int, r1: Int, c1: Int,
                     swath: Int, clouds: Seq[Disc]) {
  def valid(gr: Int, gc: Int): Boolean =
    gr >= r0 && gr < r1 && gc >= c0 && gc < c1 &&
      (swath <= 0 || 2 * gc + gr >= swath) && !clouds.exists(_.covers(gr, gc))
}

/** A scene grid (north-up, origin at the top-left corner) and the
  * acquisitions over it. Band values are UInt16 in [1, 2928]; 0 is
  * nodata. */
final case class Scene(seed: Long, epsg: Int, originX: Double, originY: Double,
                       res: Double, height: Int, width: Int, bands: Seq[String],
                       acqs: IndexedSeq[Acq]) {
  def value(acq: Int, band: Int, gr: Int, gc: Int): Int =
    1 + 400 * band + ((gr * 3 + gc * 5 + acq * 97 + band * 331) % 2000) +
      (Rng.px(seed, acq, band, gr, gc) & 127).toInt
}

object CompositeFixture {
  val Epsg = 32633
  val Size = 768
  val Res = 10.0
  val X0 = 300000.0
  val Y0 = 5000000.0
  val Bands = Seq("red", "green", "blue")
  val AoiW = 400 // the reference notebook's AOI is 400 x 400 px
  val AoiH = 400
  val AoisPerRound = 4
  val Chunk = 256

  /** Three months of four acquisitions each. Every third one has a
    * partial file extent, every third a swath edge; all carry clouds.
    * Positions are stratified with a seeded jitter, so the amount of
    * work barely moves with the seed while every value does. */
  def scene(seed: Long): Scene = {
    val d = new Draws(seed ^ 0xC0L)
    val acqs = for (m <- 0 until 3; k <- 0 until 4) yield {
      val i = m * 4 + k
      val date = LocalDate.of(2022, 1 + m, 2 + 7 * k + d.int(3))
      val c0 = if (i % 3 == 1) 128 + 48 * ((i / 3) % 4) + d.int(16) else 0
      val swath = if (i % 3 == 2) 200 + 80 * ((i / 3) % 4) + d.int(32) else 0
      val clouds = (0 until 4).map(_ => Disc(d.int(Size), d.int(Size), 40 + d.int(50)))
      Acq(i, date, 0, c0, Size, Size, swath, clouds)
    }
    Scene(seed, Epsg, X0, Y0, Res, Size, Size, Bands, acqs)
  }

  /** The AOIs of one round, as (rowOff, colOff) in the scene grid: one
    * per quadrant, jittered, so neither their corners nor their 400-px
    * edges align with the 256-px chunks or TIFF tiles. */
  def aois(seed: Long): IndexedSeq[(Int, Int)] = {
    val d = new Draws(seed ^ 0xA0L)
    (0 until AoisPerRound).map(k => (8 + 344 * (k / 2) + d.int(16), 8 + 344 * (k % 2) + d.int(16)))
  }
}

object TilesFixture {
  val Epsg = 4326
  val Res: Double = 1.0 / 8192 // 2^-13 degrees: exact in binary, ~14 m
  val Lon0 = 12.25
  val Lat0 = 45.5
  val Height = 640
  val Width = 704
  val Bands = Seq("red", "green", "blue")
  val Chunk = 256

  def scene(seed: Long): Scene = {
    val d = new Draws(seed ^ 0x71L)
    val extents = Seq((0, 0, 384, 384), (0, 320, 384, 704),
                      (256, 0, 640, 384), (256, 320, 640, 704))
    val acqs = extents.zipWithIndex.map { case ((r0, c0, r1, c1), i) =>
      val clouds = (0 until 2).map(_ => Disc(r0 + d.int(r1 - r0), c0 + d.int(c1 - c0), 30 + d.int(40)))
      Acq(i, LocalDate.of(2022, 6, 3 + 8 * i), r0, c0, r1, c1, 0, clouds)
    }.toIndexedSeq
    Scene(seed, Epsg, Lon0, Lat0, Res, Height, Width, Bands, acqs)
  }

  /** Web-Mercator tile index of a lon/lat (OSM slippy-map formulas). */
  def tileOf(lon: Double, lat: Double, z: Int): (Int, Int) = {
    val n = 1 << z
    val phi = math.toRadians(lat)
    ((((lon + 180.0) / 360.0) * n).toInt,
     ((1.0 - math.log(math.tan(phi) + 1.0 / math.cos(phi)) / math.Pi) / 2.0 * n).toInt)
  }

  /** One round of the pan/zoom script: a 2x2 overview at z13, a 3x3
    * viewport at z14 panned one column east, a 4x3 viewport at z15 panned
    * two rows north, then back to part of the first z14 view. About a
    * quarter of the requests revisit a tile of the same round. */
  def script: IndexedSeq[(Int, Int, Int)] = {
    val lonC = Lon0 + Width * Res / 2
    val latC = Lat0 - Height * Res / 2
    def view(z: Int, dx0: Int, dx1: Int, dy0: Int, dy1: Int) = {
      val (cx, cy) = tileOf(lonC, latC, z)
      for (y <- cy + dy0 to cy + dy1; x <- cx + dx0 to cx + dx1) yield (z, x, y)
    }
    view(13, 0, 1, 0, 1) ++ view(14, -1, 1, -1, 1) ++ view(14, 0, 2, -1, 1) ++
      view(15, -2, 1, -1, 1) ++ view(15, -2, 1, -3, -1) ++ view(14, -1, 0, -1, 0)
  }
}

/** A near-duplicate cluster: the ids of its members and their texts. */
final case class Cluster(ids: IndexedSeq[Long], exact: Boolean)

final case class Corpus(texts: Map[Long, String], clusters: IndexedSeq[Cluster]) {
  def ids: Set[Long] = texts.keySet
}

object DedupFixture {
  val Unrelated = 12000
  val Vocab = 50000
  /** Token frequencies follow Zipf's law with exponent 1, as natural text
    * does, so unrelated documents share their common words and collide in
    * LSH buckets. */
  val ZipfExponent = 1.0
  val Threshold = 0.9
  val NumHashes = 8 // Dedup.dedupCorpus's defaults
  val RowsPerBand = 4

  /** Planted near-duplicate cluster sizes: a power law, so a few LSH
    * buckets are hot (the largest cluster has 240 members). */
  val NearSizes: IndexedSeq[Int] = {
    val s = (1 to 400).map(k => math.max(2, (240.0 / math.pow(k, 1.1)).toInt))
    s.take(s.scanLeft(0)(_ + _).tail.takeWhile(_ <= 3000).length)
  }
  val ExactSizes: IndexedSeq[Int] = (0 until 80).map(k => 2 + k % 5)

  /** MinHash value `i` of a token set, as `Dedup.minhashSignature`
    * defines it: the unsigned-least md5 of `i + "|" + token`. */
  def minhash(tokens: Iterable[String], i: Int): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    tokens.map(t => md.digest(s"$i|$t".getBytes(UTF_8)).map("%02x".format(_)).mkString).min
  }

  /** A seed-independent exact-duplicate pair that `Dedup.minhashStarEdges`
    * keeps both of: a document with the lowest id of the corpus holds the
    * pair's tokens minus 16 of 100, none of them a minimum of any of the
    * minhashes, so it shares the pair's key in every LSH band and roots
    * both buckets, while its Jaccard with the pair (0.84) fails the
    * verify, and the pair itself is never compared. Returns the root's
    * text and the pair's text. */
  val trap: (String, String) = {
    val words = (0 until 100).map(k => "t" + Integer.toString(k, 36))
    val argmins = (0 until NumHashes).map { i =>
      val m = minhash(words, i); words.find(w => minhash(Seq(w), i) == m).get
    }.toSet
    val root = words.filterNot(w => argmins(w)).take(16).toSet
    (words.filterNot(root).mkString(" "), words.mkString(" "))
  }

  def corpus(seed: Long): Corpus = {
    val d = new Draws(seed ^ 0xDDL)
    val cdf = {
      val w = (1 to Vocab).map(k => 1.0 / math.pow(k, ZipfExponent))
      val tot = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / tot).toArray
    }
    def word(): String = {
      val i = java.util.Arrays.binarySearch(cdf, d.unit())
      "w" + Integer.toString(if (i >= 0) i else math.min(Vocab - 1, -i - 1), 36)
    }
    def doc(): Array[String] = Array.fill(80 + d.int(60))(word())
    val total = Unrelated + NearSizes.sum + ExactSizes.sum
    // seeded permutation of 1..total: cluster members get scattered ids
    val perm = (1L to total.toLong).toArray
    for (i <- perm.length - 1 to 1 by -1) {
      val j = d.int(i + 1); val t = perm(i); perm(i) = perm(j); perm(j) = t
    }
    var next = 0
    def take(): Long = { next += 1; perm(next - 1) }
    val texts = scala.collection.mutable.HashMap.empty[Long, String]
    val clusters = scala.collection.mutable.ArrayBuffer.empty[Cluster]
    for (size <- NearSizes) {
      val base = doc()
      val ids = (0 until size).map { m =>
        val toks = base.clone()
        if (m > 0) for (_ <- 0 until 1 + d.int(2)) toks(d.int(toks.length)) = word()
        val id = take(); texts(id) = toks.mkString(" "); id
      }
      clusters += Cluster(ids, exact = false)
    }
    for (size <- ExactSizes) {
      val text = doc().mkString(" ")
      val ids = (0 until size).map { _ => val id = take(); texts(id) = text; id }
      clusters += Cluster(ids, exact = true)
    }
    for (_ <- 0 until Unrelated) texts(take()) = doc().mkString(" ")
    texts(0L) = trap._1
    texts(total + 1L) = trap._2; texts(total + 2L) = trap._2
    clusters += Cluster(IndexedSeq(total + 1L, total + 2L), exact = true)
    Corpus(texts.toMap, clusters.toIndexedSeq)
  }
}

/** Writes a workload's inputs and a manifest of their checksums. The
  * manifest names the workload, the seed and the build that wrote it, so
  * inputs from another seed or another generator fail loudly. */
object Generate {

  def sha256(p: Path): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.digest(Files.readAllBytes(p)).map("%02x".format(_)).mkString
  }

  /** Tiled (256x256), deflate-compressed, single-band UInt16 TIFF. */
  def writeTiff(f: File, scene: Scene, acq: Acq, band: Int): Unit = {
    val h = acq.r1 - acq.r0; val w = acq.c1 - acq.c0
    val img = new BufferedImage(w, h, BufferedImage.TYPE_USHORT_GRAY)
    val raster = img.getRaster
    val row = new Array[Int](w)
    for (lr <- 0 until h) {
      val gr = acq.r0 + lr
      for (lc <- 0 until w) {
        val gc = acq.c0 + lc
        row(lc) = if (acq.valid(gr, gc)) scene.value(acq.idx, band, gr, gc) else 0
      }
      raster.setSamples(0, lr, w, 1, 0, row)
    }
    val writer = ImageIO.getImageWritersByFormatName("tiff").next()
    val param = writer.getDefaultWriteParam
    param.setTilingMode(ImageWriteParam.MODE_EXPLICIT)
    param.setTiling(256, 256, 0, 0)
    param.setCompressionMode(ImageWriteParam.MODE_EXPLICIT)
    param.setCompressionType("Deflate")
    param.setCompressionQuality(0.2f) // a fast deflate level; decode cost barely depends on it
    Files.deleteIfExists(f.toPath)
    val out = ImageIO.createImageOutputStream(f)
    try {
      writer.setOutput(out)
      writer.write(null, new IIOImage(img, null, null), param)
    } finally { out.close(); writer.dispose() }
  }

  private def json(s: String): String =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  /** One newline-delimited STAC item per acquisition, one asset per band,
    * georeferenced by `proj:transform` / `proj:shape`. */
  def stacItem(scene: Scene, acq: Acq, hrefs: Seq[String], prefix: String): String = {
    val x = scene.originX + acq.c0 * scene.res
    val y = scene.originY - acq.r0 * scene.res
    val assets = scene.bands.zip(hrefs).map { case (b, href) =>
      s"""${json(b)}:{"href":${json(href)},"type":"image/tiff; application=geotiff",""" +
        s""""roles":["data"],"proj:shape":[${acq.r1 - acq.r0},${acq.c1 - acq.c0}],""" +
        s""""proj:transform":[${scene.res},0.0,$x,0.0,${-scene.res},$y]}"""
    }.mkString(",")
    s"""{"type":"Feature","stac_version":"1.0.0","id":"${prefix}_${acq.date}",""" +
      s""""properties":{"datetime":"${acq.date}T10:00:00Z","proj:epsg":${scene.epsg},""" +
      s""""platform":"synthetic-2"},"assets":{$assets}}"""
  }

  private def writeScene(dir: File, scene: Scene, prefix: String): Seq[Path] = {
    val pool = Executors.newFixedThreadPool(math.min(4, Runtime.getRuntime.availableProcessors()))
    try {
      val jobs = for (acq <- scene.acqs; b <- scene.bands.indices) yield {
        val f = new File(dir, s"${prefix}_${acq.date}_${scene.bands(b)}.tif")
        pool.submit(new Callable[Path] { def call(): Path = { writeTiff(f, scene, acq, b); f.toPath } })
      }
      val files = jobs.map(_.get())
      val items = scene.acqs.map { acq =>
        stacItem(scene, acq, scene.bands.map(b =>
          new File(dir, s"${prefix}_${acq.date}_$b.tif").getAbsolutePath), prefix)
      }
      val cat = new File(dir, "items.jsonl").toPath
      Files.write(cat, (items.mkString("\n") + "\n").getBytes(UTF_8))
      files :+ cat
    } finally pool.shutdownNow()
  }

  private def writeCorpus(dir: File, c: Corpus): Seq[Path] = {
    val p = new File(dir, "corpus.jsonl").toPath
    val lines = c.texts.toSeq.sortBy(_._1).map { case (id, t) => s"""{"id":$id,"text":${json(t)}}""" }
    Files.write(p, (lines.mkString("\n") + "\n").getBytes(UTF_8))
    Seq(p)
  }

  def manifestFile(dir: File): File = new File(dir, "manifest.json")

  /** Write all inputs of `workload` for `seed` into `dir` and record
    * the manifest last, so a half-written directory has none. */
  def apply(workload: String, seed: Long, build: String, dir: File): Unit = {
    dir.mkdirs()
    Option(dir.listFiles()).foreach(_.foreach(f => Files.delete(f.toPath)))
    val files = workload match {
      case "composite" => writeScene(dir, CompositeFixture.scene(seed), "S2")
      case "tiles" => writeScene(dir, TilesFixture.scene(seed), "G4326")
      case "dedup" => writeCorpus(dir, DedupFixture.corpus(seed))
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val entries = files.sortBy(_.getFileName.toString).map { p =>
      s"""{"path":${json(p.getFileName.toString)},"sha256":"${sha256(p)}"}"""
    }
    Files.write(manifestFile(dir).toPath,
      (s"""{"workload":"$workload","seed":$seed,"build":"$build","files":[${entries.mkString(",")}]}""" + "\n")
        .getBytes(UTF_8))
  }

  /** Fail loudly unless `dir` holds the inputs of exactly this workload,
    * seed and build. */
  def requireFresh(workload: String, seed: Long, build: String, dir: File): Unit = {
    val mf = manifestFile(dir)
    require(mf.isFile, s"no manifest in $dir: inputs were not generated")
    val m = new String(Files.readAllBytes(mf.toPath), UTF_8)
    val want = s"""{"workload":"$workload","seed":$seed,"build":"$build","""
    require(m.startsWith(want), s"stale inputs in $dir: manifest does not start with $want")
  }
}
