package perfbench

import java.io.File
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions.col
import graft.Stack
import graft.core.{Bounds, RasterSpec}
import graft.dedup.Dedup
import graft.ops.{CompositeTile, Mosaic, Reproject, Resampling}
import graft.scan.{AssetRow, GeoTiffReader, Reader, Tile, TileScan}
import graft.stac.{Prepare, PrepareOptions, StacItem, StacJson}
import graft.viz.{Png, TileServer, Xyz}

object Workload {
  val SetupRounds = 3
}

/** A closed loop with one client: rounds of the same ops, run back to
  * back after a few discarded warm-up ops. Every output is checked. */
abstract class Workload(tracer: Option[Tracer]) {
  type Out
  /** Ops of the first round that the discarded warm-up cycles through. */
  def warmupOps: Int
  /** The warm-up runs at least this long: JIT and Spark's caches keep
    * speeding ops up over the first seconds of a fresh JVM. */
  def warmupSeconds: Double
  /** The timed phase holds at least this many ops. */
  def minTimedOps: Int
  /** One set-up of the workload; `last` marks the one the timed ops use. */
  def setup(last: Boolean): Unit
  def roundSize: Int
  /** Work units of op `k`, fixed by the input. */
  def work(k: Int): Double
  protected def startRound(): Unit = ()
  protected def op(k: Int): Out
  /** The first output of op `k` is checked in full against the closed
    * forms; every later one must equal it. */
  protected def check(k: Int, out: Out): Option[String]
  /** A known fault of the program that output `out` shows: the op ran to
    * its end and is timed, but counts as failed. */
  protected def fault(k: Int, out: Out): Option[String] = None
  /** Traced run only: calls made before op `k`, outside its time. */
  protected def beforeTraced(k: Int, id: Int, t: Tracer): Unit = ()
  /** Traced run only: prefix calls after op `k`, outside its time. */
  protected def afterTraced(k: Int, id: Int, opMs: Double, out: Out, t: Tracer): Unit = ()
  /** Traced run only: this workload's layer metrics over the timed phase. */
  protected def layers(t: Tracer): Map[String, Double]
  def finalChecks(): Seq[String] = Nil

  protected val problems = mutable.ArrayBuffer.empty[String]
  /** True during the timed phase: traced layer metrics cover only it. */
  protected var measuring = false
  private var nextId = 0
  private val wall = mutable.HashMap.empty[Int, (Long, Long)]

  /** An op that ran: its index in the round, its id, its milliseconds,
    * whether it returned an output, and whether it failed. */
  private case class Done(k: Int, id: Int, ms: Double, completed: Boolean, failed: Boolean)

  private def run(ks: Seq[Int]): Seq[Done] = {
    startRound()
    ks.map { k =>
      val id = nextId; nextId += 1
      tracer.foreach(beforeTraced(k, id, _))
      val w0 = System.currentTimeMillis(); val t0 = System.nanoTime()
      val res =
        try Right(tracer match {
          case Some(t) => t.span("op", id, s"op$id")(op(k))._1
          case None => op(k)
        }) catch { case e: Exception => Left(e) }
      val ms = (System.nanoTime() - t0) / 1e6
      wall(id) = (w0, System.currentTimeMillis())
      res match {
        case Right(out) =>
          check(k, out).foreach(problems += _)
          val f = fault(k, out)
          f.foreach(e => System.err.println(s"perfbench: op $id failed: $e"))
          tracer.foreach(afterTraced(k, id, ms, out, _))
          Done(k, id, ms, completed = true, failed = f.isDefined)
        case Left(e) =>
          System.err.println(s"perfbench: op $id failed: $e")
          Done(k, id, ms, completed = false, failed = true)
      }
    }
  }

  def warmup(): Unit = {
    var ms = 0.0
    while (ms < warmupSeconds * 1000) ms += run(0 until warmupOps).map(_.ms).sum
  }

  /** Whole rounds until the ops' time reaches `seconds` and at least
    * `minTimedOps` ops ran. Every op that returned an output is timed. */
  def timed(seconds: Double): Outcome = {
    val done = mutable.ArrayBuffer.empty[Done]
    measuring = true
    while (done.map(_.ms).sum < seconds * 1000 || done.length < minTimedOps)
      done ++= run(0 until roundSize)
    measuring = false
    val ran = done.filter(_.completed)
    val ls = tracer.map { t =>
      t.drain()
      layers(t) ++ sparkLayers(t, ran.map(_.id).toSeq)
    }.getOrElse(Map.empty)
    Outcome(done.length, done.count(_.failed), problems.toSeq, ran.map(x => (x.k, x.ms)).toSeq,
      ran.map(x => work(x.k)).sum, ls)
  }

  /** Spark work per timed op, from the jobs tagged with that op. */
  private def sparkLayers(t: Tracer, ids: Seq[Int]): Map[String, Double] = {
    val ss = ids.map(id => id -> t.listener.byTag.getOrElse(s"op$id", new TagStats))
    def per(f: TagStats => Double) = Stats.mean(ss.map(x => f(x._2)))
    val mib = 1048576.0
    Map(
      "spark.jobs" -> per(_.jobs.toDouble),
      "spark.driver_gap_ms" -> Stats.mean(ss.map { case (id, s) => s.gapMs(wall(id)._1, wall(id)._2).toDouble }),
      "spark.tasks" -> per(_.tasks.toDouble),
      "spark.task_run_ms" -> per(_.runMs.toDouble),
      "spark.task_cpu_ms" -> per(_.cpuNs / 1e6),
      "spark.gc_ms" -> per(_.gcMs.toDouble),
      "spark.shuffle_write_mb" -> per(_.shuffleWrite / mib),
      "spark.shuffle_read_mb" -> per(_.shuffleRead / mib),
      "spark.spill_mb" -> per(_.spill / mib),
      "spark.task_peak_mem_mb" -> per(_.peakMem / mib))
  }

  /** Result and milliseconds of `body`, as a span when traced. */
  protected def timedCall[T](name: String, id: Int, tag: String = null)(body: => T): (T, Double) =
    tracer match {
      case Some(t) => t.span(name, id, tag)(body)
      case None => val t0 = System.nanoTime(); val r = body; (r, (System.nanoTime() - t0) / 1e6)
    }
}

object Decode {
  /** Materializes every tile's pixels. A plain `count()` can be answered
    * from the scan's plan (aggregate pushdown in `TileSourceV2`) without
    * decoding a pixel. */
  def all(tiles: Dataset[Tile]): Long = tiles.select(col("pixels")).rdd.count()
}

object Digest {
  def of(plane: Array[Double]): Long =
    plane.foldLeft(17L)((acc, v) => Rng.mix(acc ^ java.lang.Double.doubleToLongBits(v)))
}

object Months {
  /** Start of the UTC calendar month holding `micros`, in micros. */
  val trunc: Long => Long = (micros: Long) => {
    val d = java.time.Instant.ofEpochSecond(Math.floorDiv(micros, 1000000L))
      .atZone(java.time.ZoneOffset.UTC).toLocalDate.withDayOfMonth(1)
    d.atStartOfDay(java.time.ZoneOffset.UTC).toEpochSecond * 1000000L
  }
}

/** The reference notebook's query, scaled down: a monthly RGB median over
  * three months of UInt16 GeoTIFFs for one AOI, collected and encoded. */
final class CompositeWorkload(spark: SparkSession, seed: Long, dir: File, tracer: Option[Tracer])
    extends Workload(tracer) {
  import CompositeFixture._
  type Out = (IndexedSeq[IndexedSeq[Array[Double]]], Seq[Array[Byte]])

  private val catalog = new File(dir, "items.jsonl").getAbsolutePath
  private val aois = CompositeFixture.aois(seed)
  private val scene = CompositeFixture.scene(seed)
  private var items: Seq[StacItem] = _
  private val digests = mutable.HashMap.empty[Int, Seq[Long]]
  def warmupOps: Int = 2
  def warmupSeconds: Double = 6.0
  def minTimedOps: Int = 8
  private var counters: ReadCounters = _
  private val lm = mutable.HashMap.empty[String, Double].withDefaultValue(0.0)
  private var pngMs = 0.0

  def roundSize: Int = aois.length

  /** AOI pixels times the assets whose file overlaps the AOI. */
  def work(k: Int): Double = {
    val (r0, c0) = aois(k)
    val planned = scene.acqs.count(a => a.r0 < r0 + AoiH && a.r1 > r0 && a.c0 < c0 + AoiW && a.c1 > c0)
    AoiW.toDouble * AoiH * planned * Bands.length / 1e6
  }

  private def opts(k: Int): PrepareOptions = {
    val (r0, c0) = aois(k)
    PrepareOptions(bounds = Some(Bounds(X0 + c0 * Res, Y0 - (r0 + AoiH) * Res,
      X0 + (c0 + AoiW) * Res, Y0 - r0 * Res)))
  }

  def setup(last: Boolean): Unit = {
    val (it, ms) = timedCall("stac.parse", -1)(StacJson.read(spark, catalog))
    items = it
    if (last) lm("stac.parse_ms") = ms
    if (last && tracer.isDefined) counters = ReadCounters(spark.sparkContext)
  }

  private var grids: Map[String, (graft.core.AffineTransform, Int)] = _

  /** The traced op reads through the same warped GeoTIFF reader that
    * `Stack.geotiff` builds, wrapped to count and time every read. */
  private def stack(k: Int): Stack =
    if (tracer.isEmpty) Stack.geotiff(spark, items, opts(k), chunk = Chunk, nodata = Some(0.0))
    else Stack(spark, items, opts(k), Chunk, readerFor = (spec: RasterSpec) => {
      val inner = GeoTiffReader.warped(spec, grids, Some(0.0)); val c = counters
      (a: AssetRow) => new TimedReader(inner(a), c): Reader
    })

  protected def op(k: Int): Out = {
    val med = stack(k).temporalMedian(Months.trunc).collect()
    val planes = med.map(_._1).distinct.sorted.toIndexedSeq.map { p =>
      Bands.map { b =>
        val plane = Array.fill(AoiW * AoiH)(Double.NaN)
        med.foreach { case (q, t) => if (q == p && t.band == b) paste(t, plane) }
        plane
      }.toIndexedSeq
    }
    val t0 = System.nanoTime()
    val pngs = planes.map(bs => Png.encode(bs.map(_.map(Png.normalize(_, 0.0, 3000.0))), AoiH, AoiW))
    pngMs = (System.nanoTime() - t0) / 1e6
    (planes, pngs)
  }

  private def paste(t: CompositeTile, plane: Array[Double]): Unit = {
    val c0 = t.xChunk * Chunk
    val n = math.min(t.width, AoiW - c0)
    for (r <- 0 until t.height) {
      val gr = t.yChunk * Chunk + r
      if (gr < AoiH && n > 0) System.arraycopy(t.pixels, r * t.width, plane, gr * AoiW + c0, n)
    }
  }

  protected def check(k: Int, out: Out): Option[String] = {
    val (planes, pngs) = out
    pngs.iterator.map(CompositeCheck.checkPng).collectFirst { case Some(e) => e }.orElse {
      val d = planes.flatten.map(Digest.of)
      digests.get(k) match {
        case None =>
          digests(k) = d
          CompositeCheck.check(aois(k), CompositeCheck.expected(scene, aois(k)), planes)
        case Some(ref) =>
          if (ref == d) None else Some(s"AOI ${aois(k)}: output differs from its first, checked output")
      }
    }
  }

  private var before: Array[Long] = _
  private var planned: Seq[(String, Double)] = Nil
  override protected def beforeTraced(k: Int, id: Int, t: Tracer): Unit = {
    val (plan, planMs) = t.span("stac.plan", id)(Prepare(items, opts(k)))
    grids = plan.nativeGrids
    val (pairs, wlMs) = t.span("scan.worklist", id)(TileScan.workList(plan.assetTable, plan.spec, Chunk))
    planned = Seq("stac.plan_ms" -> planMs, "scan.worklist_ms" -> wlMs,
      "stac.assets_kept" -> plan.assetTable.count(_.url != null).toDouble,
      "scan.worklist_pairs" -> pairs.size.toDouble)
    before = counters.snapshot
  }

  /** Prefix timing: plan only, plan + materialized scan, plan + scan +
    * median + collect; each prefix starts from scratch. */
  override protected def afterTraced(k: Int, id: Int, opMs: Double, out: Out, t: Tracer): Unit = {
    if (!measuring) return
    planned.foreach { case (m, v) => lm(m) += v }
    val after = counters.snapshot
    val d = after.zip(before).map { case (a, b) => a - b }
    lm("scan.reads") += d(0); lm("scan.read_ms") += d(1) / 1e6
    lm("scan.read_mpx") += d(2) / 1e6; lm("valid_px") += d(3); lm("read_px") += d(2)
    lm("viz.png_ms") += pngMs
    val (_, p1) = t.span("prefix.plan", id, "prefix")(stack(k))
    val (_, p2) = t.span("prefix.scan", id, "prefix")(Decode.all(stack(k).tiles))
    val (_, p3) = t.span("prefix.median", id, "prefix")(stack(k).temporalMedian(Months.trunc).collect())
    lm("scan.self_ms") += p2 - p1
    lm("ops.median_self_ms") += p3 - p2
    lm("ops") += 1
  }

  protected def layers(t: Tracer): Map[String, Double] = {
    val n = lm("ops")
    val perOp = Seq("stac.plan_ms", "stac.assets_kept", "scan.worklist_ms", "scan.worklist_pairs",
      "scan.reads", "scan.read_ms", "scan.read_mpx", "scan.self_ms", "ops.median_self_ms", "viz.png_ms")
    perOp.map(m => m -> lm(m) / n).toMap ++ Map(
      "stac.parse_ms" -> lm("stac.parse_ms"),
      "scan.valid_px_ratio" -> lm("valid_px") / lm("read_px"))
  }
}

/** The `show()` path: XYZ tile requests over an RGB mosaic of EPSG:4326
  * GeoTIFFs, served by `TileServer` without HTTP or prefetch. */
final class TilesWorkload(spark: SparkSession, seed: Long, dir: File, tracer: Option[Tracer])
    extends Workload(tracer) {
  import TilesFixture._
  type Out = Array[Byte]

  private val catalog = new File(dir, "items.jsonl").getAbsolutePath
  private val script = TilesFixture.script
  private lazy val scene = TilesFixture.scene(seed)
  private var spec: RasterSpec = _
  private var composite: Dataset[Tile] = _
  private var setupServer: TileServer = _
  private var server: TileServer = _
  private var range: (Double, Double) = _
  private val roundStats = mutable.ArrayBuffer.empty[TileServer#ServerStats]
  private var serverMeasured = false
  private val reference = mutable.HashMap.empty[(Int, Int, Int), Array[Byte]]
  private val lm = mutable.HashMap.empty[String, Double].withDefaultValue(0.0)
  private val reqMs = mutable.ArrayBuffer.empty[(Boolean, Double)]
  private var misses = 0L

  def roundSize: Int = script.length
  def warmupOps: Int = 12
  def warmupSeconds: Double = 4.0
  def minTimedOps: Int = 100
  def work(k: Int): Double = 1.0

  def setup(last: Boolean): Unit = {
    if (setupServer != null) setupServer.stop()
    val (items, parseMs) = timedCall("stac.parse", -1)(StacJson.read(spark, catalog))
    val counters = if (last && tracer.isDefined) ReadCounters(spark.sparkContext) else null
    val readerFor: RasterSpec => AssetRow => Reader = spec => {
      val inner = GeoTiffReader.factory(spec, nodata = Some(0.0))
      if (counters == null) inner else a => new TimedReader(inner(a), counters)
    }
    val stack = Stack.v2(spark, items, PrepareOptions(), chunk = Chunk, readerFor = readerFor)
    spec = stack.spec
    // the composite `Stack.serve` hands its server: one plane per band
    val bandIdx = stack.assetTable.map(_.band).distinct.sorted.zipWithIndex.toMap
    import spark.implicits._
    composite = Mosaic(stack.tiles, Chunk).map(c => Tile(0, bandIdx(c.band), c.band, 0L,
      c.yChunk, c.xChunk, 0, 0, c.height, c.width, c.pixels))
    setupServer = new TileServer(composite, spec, Chunk, bands = Bands)
    if (last) tracer.foreach { t =>
      val (plan, planMs) = t.span("stac.plan", -1)(Prepare(items, PrepareOptions()))
      val (_, p1) = t.span("prefix.scan", -1, "prefix")(Decode.all(
        Stack.v2(spark, items, PrepareOptions(), Chunk, readerFor = GeoTiffReader.factory(_, nodata = Some(0.0)))
          .tiles))
      val (_, p2) = t.span("prefix.mosaic", -1, "prefix")(Mosaic(
        Stack.v2(spark, items, PrepareOptions(), Chunk, readerFor = GeoTiffReader.factory(_, nodata = Some(0.0)))
          .tiles, Chunk).count())
      lm("stac.parse_ms") = parseMs; lm("stac.plan_ms") = planMs
      lm("stac.assets_kept") = plan.assetTable.count(_.url != null)
      lm("scan.self_ms") = p1; lm("ops.mosaic_self_ms") = p2 - p1
    }
    timedCall("cache.fill", -1)(composite.count())
    val (r, rangeMs) = timedCall("viz.display_range", -1)(setupServer.displayRange)
    range = r
    if (last && counters != null) {
      val Array(reads, nanos, px, valid) = counters.snapshot
      lm("scan.reads") = reads.toDouble; lm("scan.read_ms") = nanos / 1e6
      lm("scan.read_mpx") = px / 1e6; lm("scan.valid_px_ratio") = valid.toDouble / px
      lm("viz.display_range_ms") = rangeMs
    }
  }

  /** Each round starts on an empty tile cache over the same cached
    * composite and display range, so every round does the same work. */
  override protected def startRound(): Unit = {
    if (serverMeasured) roundStats += server.stats
    server = new TileServer(composite, spec, Chunk, range = Some(range), bands = Bands)
    serverMeasured = measuring
    misses = 0
  }

  protected def op(k: Int): Out = {
    val (z, x, y) = script(k)
    server.renderTile(z, x, y)
  }

  protected def check(k: Int, out: Out): Option[String] = {
    val key = script(k)
    reference.get(key) match {
      case Some(ref) =>
        if (java.util.Arrays.equals(ref, out)) None
        else Some(s"tile ${key._1}/${key._2}/${key._3}: bytes differ from its first render")
      case None =>
        reference(key) = out
        TilesCheck.checkTile(scene, key._1, key._2, key._3, out, range._1, range._2)
    }
  }

  override def finalChecks(): Seq[String] = {
    val r = TilesCheck.checkRange(TilesCheck.population(scene), range._1, range._2).toSeq
    setupServer.stop()
    r
  }

  override protected def afterTraced(k: Int, id: Int, opMs: Double, out: Out, t: Tracer): Unit = {
    val m = server.stats.misses
    val miss = m > misses
    misses = m
    if (measuring) reqMs += ((miss, opMs))
    if (miss && measuring) {
      val (z, x, y) = script(k)
      val (warped, rMs) = t.span("ops.reproject", id, "prefix")(
        Reproject(composite, spec, Xyz.tileSpec(z, x, y), Chunk, 256, Resampling.Nearest).collect())
      val planes = Bands.map { b =>
        val p = Array.fill(256 * 256)(Double.NaN)
        warped.filter(_.band == b).foreach { tl =>
          for (r <- 0 until tl.height)
            System.arraycopy(tl.pixels, r * tl.width, p, (tl.rowOff + r) * 256 + tl.colOff, tl.width)
        }
        p.map(Png.normalize(_, range._1, range._2))
      }
      val (_, pMs) = t.span("viz.png", id)(Png.encode(planes, 256, 256))
      lm("ops.reproject_ms") += rMs; lm("viz.png_ms") += pMs
    }
  }

  protected def layers(t: Tracer): Map[String, Double] = {
    val timed = reqMs
    val missMs = timed.filter(_._1).map(_._2); val hitMs = timed.filterNot(_._1).map(_._2)
    if (serverMeasured) roundStats += server.stats
    val hits = roundStats.map(_.hits).sum.toDouble; val renders = roundStats.map(_.misses).sum.toDouble
    lm.toMap ++ Map(
      "ops.reproject_ms" -> lm("ops.reproject_ms") / missMs.length,
      "viz.png_ms" -> lm("viz.png_ms") / missMs.length,
      "viz.miss_ms" -> Stats.mean(missMs.toSeq),
      "viz.hit_ms" -> Stats.mean(hitMs.toSeq),
      "viz.renders" -> renders / roundStats.length,
      "viz.hit_ratio" -> hits / (hits + renders),
      "viz.request_p90_ms" -> Stats.quantile(timed.map(_._2).toSeq, 0.9))
  }
}

/** Near-duplicate removal over a generated corpus: one op is one
  * `Dedup.dedupCorpus` pass, collecting the kept ids. */
final class DedupWorkload(spark: SparkSession, seed: Long, dir: File, tracer: Option[Tracer])
    extends Workload(tracer) {
  type Out = Array[Long]

  private val path = new File(dir, "corpus.jsonl").getAbsolutePath
  private var df: DataFrame = _
  private var docs = 0L
  private lazy val corpus = DedupFixture.corpus(seed)
  private var reference: Array[Long] = _
  private val lm = mutable.HashMap.empty[String, Double].withDefaultValue(0.0)

  def roundSize: Int = 1
  def warmupOps: Int = 1
  // dedup passes keep speeding up for about eight passes (Spark's planner
  // code warming up), so the warm-up is longer and the timed phase holds more
  def warmupSeconds: Double = 14.0
  def minTimedOps: Int = 7
  def work(k: Int): Double = docs.toDouble

  def setup(last: Boolean): Unit = {
    if (df != null) df.unpersist()
    df = spark.read.schema("id LONG, text STRING").json(path).cache()
    docs = df.count()
  }

  private def kept(d: DataFrame): Array[Long] = d.select("id").collect().map(_.getLong(0)).sorted

  protected def op(k: Int): Out = kept(Dedup.dedupCorpus(df, "id", "text"))

  protected def check(k: Int, out: Out): Option[String] =
    if (reference == null) { reference = out; DedupCheck.check(corpus, out) }
    else if (java.util.Arrays.equals(reference, out)) None
    else Some("kept ids differ from the first, checked pass")

  override protected def fault(k: Int, out: Out): Option[String] = DedupCheck.keptDuplicates(corpus, out)

  private def edges = Dedup.minhashStarEdges(df, "id", "text").select("id_a", "id_b")

  /** Prefix timing: star edges materialized, then connected components,
    * then the anti-join; the last must keep what `dedupCorpus` kept. */
  override protected def afterTraced(k: Int, id: Int, opMs: Double, out: Out, t: Tracer): Unit = {
    if (!measuring) return
    val (es, p1) = t.span("prefix.star_edges", id, s"p1-$id")(edges.collect())
    val (cc, p2) = t.span("prefix.cc", id, s"p2-$id")(Dedup.connectedComponents(edges).collect())
    val (k3, p3) = t.span("prefix.antijoin", id, "prefix") {
      val losers = Dedup.connectedComponents(edges)
        .filter(col("node") =!= col("component")).select(col("node").as("id"))
      kept(df.join(losers, Seq("id"), "left_anti"))
    }
    if (!java.util.Arrays.equals(k3, out)) problems += "prefix calls keep a different set than dedupCorpus"
    lm("dedup.star_edges_ms") += p1; lm("dedup.cc_ms") += p2 - p1; lm("dedup.antijoin_ms") += p3 - p2
    lm("dedup.edges") += es.length
    lm("dedup.components") += cc.map(_.getLong(1)).distinct.length
    lm("dedup.removed") += docs - out.length
    lm("ids") += 1
    ccTags += id
  }
  private val ccTags = mutable.ArrayBuffer.empty[Int]

  protected def layers(t: Tracer): Map[String, Double] = {
    val n = lm("ids")
    def jobs(tag: String) = t.listener.byTag.get(tag).map(_.jobs).getOrElse(0)
    Seq("dedup.star_edges_ms", "dedup.cc_ms", "dedup.antijoin_ms", "dedup.edges",
      "dedup.components", "dedup.removed").map(m => m -> lm(m) / n).toMap +
      ("dedup.cc_jobs" -> Stats.mean(ccTags.map(i => (jobs(s"p2-$i") - jobs(s"p1-$i")).toDouble).toSeq))
  }
}
