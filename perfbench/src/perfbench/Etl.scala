package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.parallel.CollectionConverters._
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Encoders, SparkSession}
import org.apache.spark.sql.functions._

import graft.dev.DblpGen
import graft.operators.Relational
import graft.sink.{CsvSink, Neo4jExport}
import graft.xml.{Annotate, Dtd, Flatten, XmlRecord, XmlRecords, XmlToCsv}

/** `dblp-etl`: the paper's job. A seeded DBLP dump goes through
  * `XmlToCsv.run` in directory mode with annotation, neo4j script,
  * validation and the author/cite relations; every pass's output is
  * compared with `DblpGen.expected` on the same records.
  */
object Etl {
  val relations: Seq[(String, String)] = Seq("author" -> "authored_by", "cite" -> "cites")

  val spanNames: Seq[String] = Seq("xml.read", "xml.parse", "xml.infer", "xml.flatten_ids",
    "sink.csv_write", "xml.explode", "xml.annotate", "relational.relations")

  private def config(xml: String, dtd: String, out: Path) = XmlToCsv.Config(
    xmlFile = xml, dtdFile = dtd, outputFile = out.resolve("out.csv").toString,
    annotate = true, neo4j = true, validate = true, relations = relations,
    singleFile = false)

  def run(ctx: Ctx): Unit = {
    val n = if (ctx.smoke) 400 else 12000
    val ((xml, dtd, expected), genS) = Ctx.timed {
      val recs = DblpGen.records(n, ctx.seed).toVector
      val (x, d) = DblpGen.writeCorpus(ctx.dir("input"), recs)
      (x, d, DblpGen.expected(recs, relations))
    }
    ctx.label("input_gen_s", genS)
    ctx.label("records", n)
    ctx.label("input_bytes", Files.size(Paths.get(xml)))
    ctx.label("input_path", xml)

    ctx.metric("setup_s", ctx.setup(), "s")

    // cold pass, memory pass, then at least two warm passes (traced
    // runs: passes 2 and 4 traced, 3 and 5 untraced)
    val count = ctx.passCount(least = if (ctx.traced) 6 else 4, coldS = 15, warmS = 8)
    val passes = ctx.passes(count) { (i, trace) =>
      val out = ctx.dir("out")
      val cfg = config(xml, dtd, out)
      val (res, s) = Ctx.timed(ctx.op(s"etl pass $i") {
        trace match {
          case Some(t) => tracedRun(ctx.spark, cfg, t)
          case None => XmlToCsv.run(ctx.spark, cfg).recordCounts
        }
      })
      res.foreach(counts => verify(ctx, s"etl pass $i", out, counts, expected))
      s
    }
    val plain = passes.filter(_.trace.isEmpty)
    val first = plain.head.result
    val warm = plain.filter(_.index >= Ctx.FirstWarm).map(_.result)
    ctx.metric("etl_s", Ctx.median(warm), "s")
    ctx.metric("pass_s", Ctx.median(warm), "s")
    ctx.metric("first_pass_s", first, "s")
    ctx.label("etl_samples_s", plain.map(_.result))
    if (ctx.traced) {
      ctx.traceMetrics(spanNames, passes)
      ctx.layer("xml.parse_mb_s", Files.size(Paths.get(xml)) / 1e6 /
        (ctx.layerValue("xml.read.wall_s") + ctx.layerValue("xml.parse.wall_s")), "MB/s")
    }
  }

  /** `XmlToCsv.run`'s stage sequence in directory mode, from the same
    * public calls, with one span around each stage.
    */
  private def tracedRun(spark: SparkSession, config: XmlToCsv.Config, t: Trace): Map[String, Long] = {
    val stem = config.outputFile.stripSuffix(".csv")
    val ext = ".csv"
    val (dtd, records) = t.span("xml.read") {
      val dtd = Dtd.parse(config.dtdFile)
      (dtd, XmlRecords.readRows(spark, config.xmlFile, dtd, permissive = config.permissive,
        validate = config.validate, layout = config.layout).persist())
    }
    try {
      t.span("xml.parse")(records.count())
      val typed = records.as[XmlRecord](Encoders.product[XmlRecord])
      val schema = t.span("xml.infer")(Flatten.inferColumns(typed, dtd))
      val (rowsWithId, nRecords) = t.span("xml.flatten_ids") {
        val rows = Relational.withContiguousId(
          Flatten.recordCells(typed).orderBy("pos"), idCol = "id").persist()
        (rows, rows.count())
      }
      val idSide = if (nRecords < 5000000L) broadcast(rowsWithId.select(col("pos"), col("id")))
        else rowsWithId.select(col("pos"), col("id"))
      t.span("sink.csv_write")(schema.toSeq.par.foreach { case (ty, cols) =>
        val df = rowsWithId.where(col("recordType") === ty)
          .select((col("id") +: cols.map(c => try_element_at(col("cells"), lit(c)).as(c))): _*)
        CsvSink.writeDir(df, s"${stem}_$ty$ext", header = false)
      })
      val exploded = t.span("xml.explode") {
        val e = Flatten.explodedValues(records, schema).persist()
        e.count()
        e
      }
      t.span("xml.annotate") {
        val m = Annotate.columnMeta(exploded)
        schema.keys.foreach(ty =>
          write(s"${stem}_${ty}_header$ext", Annotate.headerLine(ty, m, config.neo4j)))
      }
      t.span("relational.relations") {
        val withIds = exploded.join(idSide, "pos").persist()
        withIds.count()
        val counted = config.relations.par.map { case (attr, rel) =>
          val pairs = withIds
            .where(col("col_name") === attr && col("value").isNotNull && col("value") =!= "")
            .select(col("id").as("parent_id"), col("value").as("v"))
            .distinct()
            .persist()
          (attr, rel, pairs, pairs.select(col("v")).distinct().count())
        }.toList
        var offset = nRecords
        val staged = counted.map { case (attr, rel, pairs, nNodes) =>
          val nodes = Relational.relationNodes(pairs, offset).persist()
          offset += nNodes
          (attr, rel, pairs, nodes)
        }
        staged.par.foreach(_._4.count())
        staged.par.foreach { case (attr, rel, pairs, nodes) =>
          CsvSink.writeDir(nodes.select(col("node_id"), col("v")), s"${stem}_$attr$ext", header = false)
          write(s"${stem}_${attr}_header$ext", s":ID;$attr:string")
          CsvSink.writeDir(Relational.relationEdges(pairs, nodes), s"${stem}_${attr}_$rel$ext",
            header = false)
          write(s"${stem}_${attr}_${rel}_header$ext", ":START_ID;:END_ID")
        }
        staged.foreach { case (_, _, pairs, nodes) => pairs.unpersist(); nodes.unpersist() }
        withIds.unpersist()
      }
      val cmd = Neo4jExport.importCommand(stem, ext, schema.keys.toSeq.sorted, config.relations)
      write(Paths.get(stem).toAbsolutePath.getParent.resolve("neo4j_import.sh").toString,
        "#!/bin/bash\n" + cmd)
      exploded.unpersist()
      val counts = rowsWithId.groupBy("recordType").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      rowsWithId.unpersist()
      schema.keys.map(ty => ty -> counts.getOrElse(ty, 0L)).toMap
    } finally records.unpersist()
  }

  private def write(path: String, content: String): Unit =
    Files.write(Paths.get(path), content.getBytes("UTF-8"))

  private def read(p: Path): String = new String(Files.readAllBytes(p), "UTF-8")

  private def partLines(d: Path): Seq[String] =
    if (!Files.isDirectory(d)) Seq("<missing part directory>")
    else {
      val s = Files.list(d)
      try s.iterator().asScala.toSeq.filter(_.getFileName.toString.startsWith("part-"))
        .flatMap(p => read(p).split("\n", -1).filter(_.nonEmpty))
      finally s.close()
    }

  /** The directory-mode parity check: per-table line multisets of the
    * part files, header sidecars, record counts and the neo4j script.
    */
  private def verify(ctx: Ctx, what: String, out: Path, counts: Map[String, Long],
      exp: DblpGen.Expected): Unit = {
    val problems = scala.collection.mutable.ArrayBuffer.empty[String]
    def need(ok: Boolean, msg: => String): Unit = if (!ok) problems += msg
    def lines(csv: String) = csv.split("\n", -1).filter(_.nonEmpty).toSeq
    need(counts == exp.counts, s"record counts $counts != ${exp.counts}")
    exp.schema.keySet.foreach { t =>
      need(partLines(out.resolve(s"out_$t.csv")).sorted == lines(exp.dataCsv(t)).sorted,
        s"out_$t.csv lines differ")
      need(read(out.resolve(s"out_${t}_header.csv")) == exp.headerCsv(t),
        s"out_${t}_header.csv differs")
    }
    relations.foreach { case (attr, rel) =>
      val nodes = lines(exp.relationCsv(attr))
      val edges = lines(exp.relationCsv(s"${attr}_$rel"))
      need(partLines(out.resolve(s"out_$attr.csv")).sorted == nodes.tail.sorted &&
        read(out.resolve(s"out_${attr}_header.csv")) == nodes.head, s"node table $attr differs")
      need(partLines(out.resolve(s"out_${attr}_$rel.csv")).sorted == edges.tail.sorted &&
        read(out.resolve(s"out_${attr}_${rel}_header.csv")) == edges.head,
        s"edge table ${attr}_$rel differs")
    }
    val sh = read(out.resolve("neo4j_import.sh"))
    val o = out.toAbsolutePath.toString
    need(sh.startsWith("#!/bin/bash\nneo4j-admin import") &&
      exp.schema.keySet.forall(t => sh.contains(s""" --nodes:$t "$o/out_${t}_header.csv,$o/out_$t.csv"""")) &&
      relations.forall { case (attr, rel) =>
        sh.contains(s""" --nodes:$attr "$o/out_$attr.csv"""") &&
          sh.contains(s""" --relationships:$rel "$o/out_${attr}_$rel.csv"""")
      }, "neo4j_import.sh incomplete")
    ctx.check(what, problems.isEmpty, problems.mkString("; "))
  }
}
