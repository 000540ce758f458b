package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One benchmark run of one workload, in one JVM.
  *
  *   perfbench.Main --workload NAME --seed N --seconds S --trace 0|1
  *                  --work DIR --out FILE [--smoke]
  *                  [--data DIR --pins FILE [--pin-out FILE]]
  *
  * Writes one JSON record to FILE: correctness accounting, every
  * metric the workload produces, run labels and, in traced runs, the
  * span rows. `perfbench/run.py` builds the classes, launches this and
  * prints the result line.
  */
object Main {
  def main(argv: Array[String]): Unit = {
    val a = argv.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val ctx = new Ctx(
      workload = a("workload"), seed = a("seed").toLong, seconds = a("seconds").toDouble,
      traced = a.getOrElse("trace", "0") == "1", smoke = argv.contains("--smoke"),
      work = Paths.get(a("work")), data = a.get("data"), pins = a.get("pins"),
      pinOut = a.get("pin-out"))
    val body: Ctx => Unit = ctx.workload match {
      case "dblp-etl" => Etl.run
      case "llm-corpus" => Corpus.run
      case "query-floor" => QueryFloor.run
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    ctx.label("load_avg_start", Ctx.loadAvg())
    try body(ctx)
    catch {
      case e: Throwable =>
        e.printStackTrace()
        ctx.fail("workload", s"aborted: ${e.getClass.getName}: ${e.getMessage}")
    }
    ctx.label("load_avg_end", Ctx.loadAvg())
    ctx.label("vm_hwm_mb", Ctx.vmHwmMb())
    Files.writeString(Paths.get(a("out")), Json.render(ctx.record))
    if (ctx.spark != null) ctx.spark.stop()
    sys.exit(if (ctx.failed == 0) 0 else 1)
  }
}

/** State of one run: the session, operation accounting, metrics and
  * labels.
  */
final class Ctx(val workload: String, val seed: Long, val seconds: Double,
    val traced: Boolean, val smoke: Boolean, val work: Path, val data: Option[String],
    val pins: Option[String], val pinOut: Option[String]) {
  val cpus: Int = Runtime.getRuntime.availableProcessors
  var spark: SparkSession = _

  var attempted = 0L
  var failed = 0L
  private val failures = mutable.ArrayBuffer.empty[String]
  private val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  private val labels = mutable.LinkedHashMap.empty[String, Any]
  private val traceRows = mutable.ArrayBuffer.empty[Trace.Row]
  private val perLayer = mutable.LinkedHashMap.empty[String, (Double, String)]

  def label(k: String, v: Any): Unit = labels(k) = v
  def metric(k: String, v: Double, unit: String): Unit = metrics(k) = (v, unit)
  def layer(k: String, v: Double, unit: String): Unit = perLayer(k) = (v, unit)
  def layerValue(k: String): Double = perLayer(k)._1
  def addTrace(rows: Seq[Trace.Row]): Unit = traceRows ++= rows

  /** Count one operation; a thrown exception counts it as failed. */
  def op[T](what: String)(body: => T): Option[T] = {
    attempted += 1
    val t0 = System.nanoTime()
    try {
      val r = body
      log(f"$what: ${(System.nanoTime() - t0) / 1e9}%.3f s")
      Some(r)
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        fail(what, s"${e.getClass.getName}: ${e.getMessage}")
        None
    }
  }

  /** Mark an attempted operation as wrong when `ok` is false; call
    * once per operation, with every problem found in `detail`.
    */
  def check(what: String, ok: Boolean, detail: => String = ""): Boolean = {
    if (!ok) fail(what, detail)
    ok
  }

  def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  def fail(what: String, detail: String): Unit = {
    failed += 1
    val msg = s"$what: $detail".take(500)
    log(s"FAILED $msg")
    failures += msg
  }

  def dir(name: String): Path = {
    val p = work.resolve(name)
    Ctx.deleteRecursively(p)
    Files.createDirectories(p)
  }

  /** Session start, function registration and a small warm-up job, in
    * a fresh JVM: the cold start a user of the program pays once per
    * process. Returns the seconds it took; the session stays open for
    * the measurement. Warming the workload's own code path is left to
    * its first pass, which is reported on its own.
    */
  def setup(): Double = {
    val t0 = System.nanoTime()
    spark = newSession()
    val t1 = System.nanoTime()
    graft.functions.GraftExtensions.register(spark)
    val t2 = System.nanoTime()
    spark.range(100000).selectExpr("id % 7 AS k").groupBy("k").count().collect()
    val t3 = System.nanoTime()
    label("setup_parts_s", Map("session" -> (t1 - t0) / 1e9, "register" -> (t2 - t1) / 1e9,
      "first_job" -> (t3 - t2) / 1e9))
    (t3 - t0) / 1e9
  }

  private def newSession(): SparkSession = {
    val b = SparkSession.builder().master(s"local[$cpus]").appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
    if (traced) b.config("spark.sql.queryExecutionListeners", classOf[PlanListener].getName)
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Pass count for a run of `seconds`: one cold pass plus as many
    * passes of the workload's nominal duration as fit after it, at
    * least `least` passes in all. The count depends only on the
    * arguments, never on measured speed, so two builds measured with
    * the same settings run the same passes.
    */
  def passCount(least: Int, coldS: Double, warmS: Double): Int =
    math.max(least, 1 + ((seconds - coldS) / warmS).toInt)

  /** Run `pass` (0-based index) `count` times. Pass 0 runs cold. Pass
    * [[Ctx.MemoryPass]] runs under [[Ctx.liveHeap]] and gives
    * `live_heap_mb`, the median sample; the JIT is still compiling
    * the workload's hot paths then, so its wall time is not a timing.
    * Warm timings come from the passes from [[Ctx.FirstWarm]] on. In
    * traced runs the passes `tracedPass` selects run under a fresh
    * [[Trace]], inside a root span; the other warm passes give the
    * untraced wall time the tracing overhead is measured against. By
    * default the warm passes alternate, starting with a traced one, so
    * each traced pass sits next to an untraced one.
    */
  def passes[T](count: Int, tracedPass: Int => Boolean = i => i > 0 && i % 2 == 0)(
      pass: (Int, Option[Trace]) => T): Seq[Pass[T]] = {
    val t0 = System.nanoTime()
    val out = (0 until count).map { i =>
      val tr = if (traced && i != Ctx.MemoryPass && tracedPass(i))
        Some(new Trace(spark, s"$workload-$seed-$i")) else None
      val p0 = System.nanoTime()
      val r = tr match {
        case Some(t) =>
          t.attach()
          try t.span("pass", s"$i")(pass(i, tr))
          finally { t.detach(); addTrace(t.rows) }
        case None if i == Ctx.MemoryPass =>
          val (r, mb) = Ctx.liveHeap(pass(i, None))
          metric("live_heap_mb", Ctx.median(mb), "MB")
          label("live_heap_max_mb", mb.max)
          label("live_heap_samples", mb.size)
          r
        case None => pass(i, None)
      }
      Pass(i, r, tr, (System.nanoTime() - p0) / 1e9)
    }
    label("passes", count)
    label("measured_s", (System.nanoTime() - t0) / 1e9)
    out
  }

  /** Per-layer metrics from the traced warm passes: for each span
    * name, the median over passes of that pass's summed counters (0
    * for a layer the workload never enters), plus the tracing overhead
    * (traced vs untraced warm pass wall time) and the share of traced
    * wall time no layer span covers.
    */
  def traceMetrics(spanNames: Seq[String], all: Seq[Pass[_]]): Unit = {
    val (tracedPasses, plain) = all.filter(_.index >= Ctx.FirstWarm).partition(_.trace.isDefined)
    val byRun = traceRows.groupBy(_.run)
    def rowsOf(p: Pass[_]) = byRun.getOrElse(p.trace.get.runId, Nil).toSeq
    spanNames.foreach { n =>
      Trace.counters.foreach { case (c, unit) =>
        val perPass = tracedPasses.map(p => rowsOf(p).filter(_.name == n)
          .map(Trace.counterValue(_, c)).sum)
        layer(s"$n.$c", if (perPass.isEmpty) 0.0 else Ctx.median(perPass), unit)
      }
    }
    if (tracedPasses.nonEmpty && plain.nonEmpty) {
      layer("trace.overhead_share",
        Ctx.median(tracedPasses.map(_.wallS)) / Ctx.median(plain.map(_.wallS)) - 1.0, "ratio")
      layer("trace.unattributed_share", Ctx.median(tracedPasses.map { p =>
        val root = rowsOf(p).filter(_.parent < 0)
        root.map(_.selfS).sum / root.map(_.wallS).sum
      }), "ratio")
    }
  }

  def record: Map[String, Any] = Map(
    "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> traced,
    "smoke" -> smoke, "correct" -> (failed == 0), "attempted" -> attempted,
    "failed" -> failed,
    "error_rate" -> (if (attempted == 0) 1.0 else failed.toDouble / attempted),
    "failures" -> failures.take(50),
    "metrics" -> metrics.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
    "per_layer" -> perLayer.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
    "labels" -> (labels ++ Map(
      "host_cpus" -> Runtime.getRuntime.availableProcessors, "n" -> cpus,
      "driver_max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576,
      "spark_version" -> org.apache.spark.SPARK_VERSION,
      "jvm_version" -> System.getProperty("java.runtime.version"))),
    "spans" -> traceRows.map(_.toMap))
}

final case class Pass[T](index: Int, result: T, trace: Option[Trace], wallS: Double)

object Ctx {
  /** The pass sampled for live heap, after the cold pass 0. */
  val MemoryPass = 1
  /** The first pass whose wall time counts as a warm timing. */
  val FirstWarm = 2

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Nearest-rank percentile. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    s(math.max(0, math.ceil(p * s.size).toInt - 1))
  }

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def loadAvg(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  /** The JVM's peak resident set. With the heap fixed at its maximum
    * this follows the collector's region use, not the program's live
    * data, so it is a label rather than a gated metric.
    */
  def vmHwmMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  /** Run `body` while a sampler forces a full collection every 250 ms
    * and reads the heap in use after it, i.e. the data the program
    * holds live at that moment. Returns the result and the
    * samples in MB (one taken after `body` if it ended before the
    * first).
    */
  def liveHeap[T](body: => T): (T, Seq[Double]) = {
    val heap = java.lang.management.ManagementFactory.getMemoryMXBean
    val samples = new java.util.concurrent.ConcurrentLinkedQueue[Double]()
    val done = new java.util.concurrent.CountDownLatch(1)
    def sample(): Unit = {
      System.gc()
      samples.add(heap.getHeapMemoryUsage.getUsed / 1048576.0)
    }
    val sampler = new Thread(() =>
      while (!done.await(250, java.util.concurrent.TimeUnit.MILLISECONDS)) sample(),
      "perfbench-live-heap")
    sampler.setDaemon(true)
    sampler.start()
    val r = try body finally { done.countDown(); sampler.join() }
    if (samples.isEmpty) sample()
    (r, samples.asScala.toSeq)
  }

  def deleteRecursively(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(q => Files.delete(q))
    finally s.close()
  }
}
