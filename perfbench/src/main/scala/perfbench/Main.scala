package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import org.apache.spark.sql.SparkSession

/** Entry points. `prepare` writes a workload's inputs (unless the
  * manifest shows they exist for this seed) and runs the checkers'
  * self-tests; `run` is the measured process: one workload, one JVM. */
object Main {
  def main(args: Array[String]): Unit = {
    val kv = args.drop(1).grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = kv("workload")
    val seed = kv("seed").toLong
    val fixtures = new File(kv("fixtures"))
    val build = kv("build")
    args.head match {
      case "prepare" => prepare(workload, seed, build, fixtures)
      case "run" =>
        Generate.requireFresh(workload, seed, build, fixtures)
        Run(workload, seed, kv("seconds").toDouble, kv("trace") == "1",
            fixtures, new File(kv("out")), new File(kv("scratch")))
      case other => throw new IllegalArgumentException(s"unknown mode $other")
    }
  }

  def prepare(workload: String, seed: Long, build: String, dir: File): Unit = {
    val fresh = Generate.manifestFile(dir).isFile &&
      scala.util.Try(Generate.requireFresh(workload, seed, build, dir)).isSuccess
    if (!fresh) Generate(workload, seed, build, dir)
    workload match {
      case "composite" => CompositeCheck.selfTest(seed)
      case "tiles" => TilesCheck.selfTest(seed)
      case "dedup" => DedupCheck.selfTest(seed)
    }
  }
}

/** The result of one workload run: every timed op that returned an
  * output, as (index in its round, wall milliseconds), and their work
  * units. */
final case class Outcome(attempted: Int, failed: Int, problems: Seq[String],
                         ops: Seq[(Int, Double)], work: Double, layers: Map[String, Double]) {
  def opMs: Seq[Double] = ops.map(_._2)
}

object Run {
  /** Same session settings as the program's own bench (Bench.scala),
    * with scratch space kept inside the benchmark's working directory. */
  def session(scratch: File): SparkSession = {
    // one core stays free for JIT and GC threads, which steadies op times
    val cpus = math.max(1, math.min(4, Runtime.getRuntime.availableProcessors()) - 1)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.sources.v2.bucketing.enabled", "true")
      .config("spark.sql.requireAllClusterKeysForCoPartition", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(scratch, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(scratch, "warehouse").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.functions.GraftFunctions.register(spark)
    spark
  }

  def apply(workload: String, seed: Long, seconds: Double, trace: Boolean,
            fixtures: File, out: File, scratch: File): Unit = {
    val heap = new HeapPeak
    val spark = session(scratch)
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1000.0
    val tracer = if (trace) Some(new Tracer(spark.sparkContext)) else None
    val w: Workload = workload match {
      case "composite" => new CompositeWorkload(spark, seed, fixtures, tracer)
      case "tiles" => new TilesWorkload(spark, seed, fixtures, tracer)
      case "dedup" => new DedupWorkload(spark, seed, fixtures, tracer)
    }
    try {
      // set-up, repeated so its median is steady; the first includes
      // class loading and JIT, which every user pays once per process
      val setups = (0 until Workload.SetupRounds).map { i =>
        val t0 = System.nanoTime(); w.setup(last = i == Workload.SetupRounds - 1)
        (System.nanoTime() - t0) / 1e9
      }
      val setupS = sessionS + Stats.median(setups)
      val t0 = System.nanoTime()
      w.warmup()
      val t1 = System.nanoTime()
      val h0 = heap.now
      val o = w.timed(seconds)
      val t2 = System.nanoTime()
      val (heapMiB, gcs) = heap.within(h0, heap.now)
      val problems = o.problems ++ w.finalChecks()
      val phases = Seq(t1 - t0, t2 - t1, System.nanoTime() - t2).map(_ / 1e9)
      val metrics: Seq[(String, Double, String)] =
        if (!trace) Seq(
          ("setup_s", setupS, "s"),
          ("op_p50_ms", Stats.median(o.opMs), "ms"),
          ("work_per_s", o.work / (o.opMs.sum / 1000.0), "1/s"),
          ("heap_peak_mb", heapMiB, "MiB"))
        else (Layers.all ++ (if (workload == "tiles") Layers.tiles else Nil)).map { case (name, unit) =>
          (name, o.layers.getOrElse(name, 0.0), unit) }
      val ms = metrics.map { case (n, v, u) => s""""$n":{"value":$v,"unit":"$u"}""" }.mkString(",")
      problems.foreach(p => System.err.println(s"perfbench: check failed: $p"))
      out.mkdirs()
      Files.write(new File(out, "result.json").toPath,
        (s"""{"correct":${problems.isEmpty},"attempted":${o.attempted},"failed":${o.failed},""" +
          s""""metrics":{$ms}}""" + "\n").getBytes(UTF_8))
      tracer.foreach(t => Files.write(new File(out, s"trace-$workload-$seed.json").toPath,
        t.json(o.layers).getBytes(UTF_8)))
      Files.write(new File(out, "run-info.json").toPath,
        (s"""{"session_s":$sessionS,"setup_rounds_s":[${setups.mkString(",")}],"timed_gcs":$gcs,""" +
          s""""persisted_rdds":${spark.sparkContext.getPersistentRDDs.size},""" +
          s""""warmup_timed_final_s":[${phases.mkString(",")}],""" +
          s""""ops_k_ms":[${o.ops.map { case (k, ms) => s"[$k,$ms]" }.mkString(",")}]}""" + "\n")
          .getBytes(UTF_8))
    } finally spark.stop()
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  /** Linear interpolation between order statistics (numpy's default). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else {
      val pos = (s.length - 1) * q
      val lo = math.floor(pos).toInt; val hi = math.ceil(pos).toInt
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.length
}

/** Every per-layer metric the traced run reports, with its unit: those of
  * BENCHMARK.json, which a layer a workload does not call reports as 0,
  * and for the tiles workload, which BENCHMARK.json leaves out, its own. */
object Layers {
  val all: Seq[(String, String)] = Seq(
    "stac.parse_ms" -> "ms", "stac.plan_ms" -> "ms", "stac.assets_kept" -> "count",
    "scan.worklist_ms" -> "ms", "scan.worklist_pairs" -> "count",
    "scan.reads" -> "count", "scan.read_ms" -> "ms", "scan.read_mpx" -> "Mpx",
    "scan.valid_px_ratio" -> "ratio", "scan.self_ms" -> "ms",
    "ops.median_self_ms" -> "ms", "viz.png_ms" -> "ms",
    "dedup.star_edges_ms" -> "ms", "dedup.edges" -> "count", "dedup.cc_ms" -> "ms",
    "dedup.cc_jobs" -> "count", "dedup.components" -> "count", "dedup.antijoin_ms" -> "ms",
    "dedup.removed" -> "count",
    "spark.jobs" -> "count", "spark.driver_gap_ms" -> "ms", "spark.tasks" -> "count",
    "spark.task_run_ms" -> "ms", "spark.task_cpu_ms" -> "ms", "spark.gc_ms" -> "ms",
    "spark.shuffle_write_mb" -> "MiB", "spark.shuffle_read_mb" -> "MiB",
    "spark.spill_mb" -> "MiB", "spark.task_peak_mem_mb" -> "MiB")
  val tiles: Seq[(String, String)] = Seq(
    "ops.mosaic_self_ms" -> "ms", "ops.reproject_ms" -> "ms", "viz.display_range_ms" -> "ms",
    "viz.miss_ms" -> "ms", "viz.hit_ms" -> "ms", "viz.renders" -> "count",
    "viz.hit_ratio" -> "ratio", "viz.request_p90_ms" -> "ms")
}
