package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** `query-floor`: the per-query fixed cost of the query registry.
  *
  * The pinned query set (`perfbench/query_floor_pins.tsv`, chosen by
  * `perfbench/tools/select_queries.py`) touches none of the shared
  * caches `SparkEntry.buildCaches` builds. Each query runs once cold in
  * name order, then in seed-permuted warm passes. Every execution
  * consumes the full result as a row count plus an order-independent
  * content hash, and both must equal the pinned values.
  */
object QueryFloor {
  val spanNames: Seq[String] = Seq("entry.query", "streaming.query")
  private def spanOf(q: String) = if (q.contains("stream")) "streaming.query" else "entry.query"

  final case class Pin(name: String, rows: Long, hash: String)

  def readPins(path: String): Seq[Pin] =
    Files.readAllLines(Paths.get(path)).asScala.toSeq
      .filter(l => l.nonEmpty && !l.startsWith("#"))
      .map(_.split("\t")).map(f => Pin(f(0), f(1).toLong, f(2)))

  /** Run one registry query to completion: (rows, content hash). The
    * hash sums the xxhash64 of each row's JSON form in two 32-bit
    * halves, so it ignores row order and cannot overflow.
    */
  def execute(spark: SparkSession, dir: String, q: (SparkSession, String) => org.apache.spark.sql.DataFrame): (Long, String) = {
    val df = q(spark, dir)
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val h = xxhash64(to_json(struct(named.columns.map(col).toSeq: _*)))
    val r = named.select(h.as("h"))
      .agg(count(lit(1)), coalesce(sum(col("h").bitwiseAND(0xFFFFFFFFL)), lit(0L)),
        coalesce(sum(shiftrightunsigned(col("h"), 32)), lit(0L)))
      .head()
    (r.getLong(0), s"${r.getLong(1)}:${r.getLong(2)}")
  }

  def run(ctx: Ctx): Unit = {
    val dir = ctx.data.getOrElse(sys.error("query-floor needs --data"))
    val allPins = readPins(ctx.pins.getOrElse(sys.error("query-floor needs --pins")))
    val pins = if (!ctx.smoke) allPins
      else allPins.filterNot(p => spanOf(p.name) == "streaming.query").take(2) ++
        allPins.filter(p => spanOf(p.name) == "streaming.query").take(1)
    val registry = graft.SparkEntry.queries
    ctx.label("queries", pins.size)
    ctx.label("input_bytes", Files.list(Paths.get(dir)).iterator().asScala
      .map(p => Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum).sum)

    ctx.metric("setup_s", ctx.setup(), "s")

    ctx.pinOut match {
      case Some(out) =>
        val lines = pins.map { p =>
          val (rows, hash) = ctx.op(p.name)(execute(ctx.spark, dir, registry(p.name)))
            .getOrElse((-1L, "failed"))
          s"${p.name}\t$rows\t$hash"
        }
        Files.write(Paths.get(out), (lines.mkString("\n") + "\n").getBytes("UTF-8"))
        return
      case None =>
    }

    // cold pass (traced in traced runs), memory pass, then at least
    // three warm passes, so each query's warm time is a true median
    // (traced runs: passes 2 and 4 traced, 3 and 5 untraced)
    val count = ctx.passCount(least = if (ctx.traced) 6 else 5, coldS = 15, warmS = 7)
    val passes = ctx.passes(count, tracedPass = _ % 2 == 0) { (i, trace) =>
      val order = if (i == 0) pins.sortBy(_.name) else new Random(ctx.seed * 1000 + i).shuffle(pins)
      order.map { p =>
        val (res, s) = trace.fold(Ctx.timed(ctx.op(p.name)(execute(ctx.spark, dir, registry(p.name))))) {
          t => t.span(spanOf(p.name), p.name)(Ctx.timed(ctx.op(p.name)(execute(ctx.spark, dir, registry(p.name)))))
        }
        res.foreach { case (rows, hash) =>
          ctx.check(s"${p.name} pass $i", rows == p.rows && hash == p.hash,
            s"got rows=$rows hash=$hash, pinned rows=${p.rows} hash=${p.hash}")
        }
        p.name -> s
      }.toMap
    }
    val plain = passes.filter(_.trace.isEmpty)
    val cold = passes.head.result
    val warm = plain.filter(_.index >= Ctx.FirstWarm).map(_.result)
    val samples = warm.flatMap(_.values)
    val coldS = cold.values.sum
    val warmS = pins.map(p => Ctx.median(warm.map(_(p.name)))).sum
    ctx.metric("query_cold_s", coldS, "s")
    ctx.metric("query_warm_s", warmS, "s")
    ctx.metric("query_p50_ms", Ctx.median(samples) * 1000, "ms")
    // a percentile is reported only with at least ten samples beyond it
    if (samples.size >= 100) ctx.metric("query_p90_ms", Ctx.percentile(samples, 0.9) * 1000, "ms")
    ctx.metric("query_cold_warm_ratio", coldS / warmS, "ratio")
    ctx.metric("pass_s", warmS, "s")
    ctx.metric("first_pass_s", coldS, "s")
    ctx.label("warm_samples", samples.size)
    if (ctx.traced) ctx.traceMetrics(spanNames, passes)
  }
}
