package pushbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, RowDataSourceScanExec, SparkPlan}

import graft.core.{ScopedConf, Sessions}
import graft.jobs.MetadataJob
import graft.operators.GraphExpansion
import graft.sources.CsvGraphStage

/** One push workload: catalog size, extract path, publish mode and the
  * number of pushes after the first before the measured window. */
final case class Workload(name: String, tables: Int, columns: Int, jdbc: Boolean,
                          chunked: Boolean, warmupPushes: Int)

object Workload {
  /** The reference's cron push of one database: JDBC extract from
    * embedded Derby, one parity-mode envelope. */
  val SmallParity = Workload("push_small_parity", tables = 25, columns = 540,
    jdbc = true, chunked = false, warmupPushes = 18)
  /** A catalog of 1,500 tables as multi-file CSV, published in chunks
    * from the executors. */
  val LargeChunked = Workload("push_large_chunked", tables = 1500, columns = 30000,
    jdbc = false, chunked = true, warmupPushes = 4)
  val all: Seq[Workload] = Seq(SmallParity, LargeChunked)
}

final case class Args(workload: Workload, seed: Long, seconds: Double, trace: Boolean, work: File)

/** Closed-loop benchmark of `MetadataJob.launch()`, one client.
  *
  * Usage: Main --workload W --seed N --seconds S --trace 0|1 --work DIR
  *
  * Prints one JSON object as the last stdout line. Untraced runs report
  * the end-to-end metrics; traced runs report the per-layer metrics and
  * write every span to DIR/trace-W-N.json. */
object Main {

  val SetupReps = 3

  def main(argv: Array[String]): Unit = {
    val a = parse(argv.toList)
    val result = try new Run(a).run() catch {
      case NonFatal(e) => e.printStackTrace(); sys.exit(1)
    }
    println(result)
    sys.exit(0)
  }

  private def parse(argv: List[String]): Args = {
    val m = argv.grouped(2).collect { case List(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val w = Workload.all.find(_.name == m("workload"))
      .getOrElse(throw new IllegalArgumentException(s"unknown workload ${m("workload")}"))
    Args(w, m("seed").toLong, m("seconds").toDouble, m("trace") == "1", new File(m("work")).getAbsoluteFile)
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def time[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
}

private final class Run(a: Args) {
  import Main._

  private val w = a.workload
  private val work = a.work
  private val nodeDir = new File(work, "stage/nodes").getPath
  private val relDir = new File(work, "stage/relations").getPath
  private val edgeStage = new File(work, "edge-stage").getPath
  private val queue = "https://sqs.local/000000000000/metadata.fifo"
  private val group = "metadata"

  private def log(msg: String): Unit = System.err.println(s"[pushbench] $msg")

  private def conf(source: Either[(String, String), String], chunked: Boolean,
                   stage: (String, String) = (nodeDir, relDir)): ScopedConf = {
    val extract = source match {
      case Left((url, query)) => Seq("extractor.jdbc.url" -> url, "extractor.jdbc.query" -> query)
      case Right(dir) => Seq("extractor.csv.path" -> dir)
    }
    ScopedConf.fromMap((extract ++ Seq(
      "loader.csv.node_dir" -> stage._1, "loader.csv.relation_dir" -> stage._2,
      "publisher.awssqs.queue_url" -> queue, "publisher.awssqs.message_group_id" -> group,
      "publisher.awssqs.chunked" -> chunked.toString)).toMap)
  }

  /** Write `rows` to a fresh source of the workload's kind. */
  private def source(rows: Vector[ColumnRow], name: String, jdbc: Boolean): Either[(String, String), String] = {
    val dir = new File(work, s"input/$name")
    if (jdbc) Left(Catalog.writeDerby(rows, dir))
    else { Catalog.writeCsv(rows, dir, files = 16); Right(dir.getPath) }
  }

  private final case class Pass(seconds: Double, ok: Boolean, published: Published)

  /** One push, checked against the expected model. */
  private def push(job: MetadataJob => Unit, c: ScopedConf, expected: Expected, chunked: Boolean,
                   spark: SparkSession): Pass = {
    val t = new Verifying(group)
    try {
      val (err, dt) = time {
        try { job(new MetadataJob(spark, c, t)); None } catch { case NonFatal(e) => Some(e) }
      }
      val p = t.published
      val errs = err.map(e => s"threw ${e.getClass.getSimpleName}: ${e.getMessage.take(300)}").toSeq ++
        (if (err.isEmpty) expected.check(p, parity = !chunked) else Nil)
      errs.foreach(e => log(s"pass failed: $e"))
      Pass(dt, errs.isEmpty, p)
    } finally t.release()
  }

  def run(): String = {
    work.mkdirs()
    Seq("derby.system.home" -> new File(work, "derby").getPath,
      "derby.stream.error.file" -> new File(work, "derby.log").getPath,
      "spark.sql.warehouse.dir" -> new File(work, "warehouse").getPath,
      "spark.local.dir" -> new File(work, "tmp").getPath)
      .foreach { case (k, v) => System.setProperty(k, v) }

    // job call sites keep 20 frames by default, too few to reach the
    // engine frame under a write's AQE stages; the tracer reads the module
    // off that frame
    if (a.trace) System.setProperty("spark.callstack.depth", "400")

    val cores = Runtime.getRuntime.availableProcessors()
    val (spark, sessionS) = time {
      val s = Sessions.local(cores = cores, appName = "pushbench")
      s.sparkContext.setLogLevel("ERROR")
      s
    }

    // set-up: generate the catalog, its expected output and its source,
    // SetupReps times from the same seed; the last copy is used
    val setups = (1 to SetupReps).map { i =>
      time {
        val rows = Catalog.generate(a.seed, w.tables, w.columns)
        (new Expected(rows), source(rows, s"catalog-$i", w.jdbc))
      }
    }
    val setupS = sessionS + median(setups.map(_._2))
    val (expected, src) = setups.last._1
    val c = conf(src, w.chunked)
    log(f"${w.name}: ${expected.columns} columns, ${expected.nodes} nodes, ${expected.relations} relations, " +
      f"${expected.parityBytes} envelope bytes; " +
      f"session ${sessionS}%.2f s, set-up ${setups.map(_._2).map(s => f"$s%.2f").mkString(" ")} s")

    val inputDir = src.fold(_ => "", d => new File(d).toURI.getPath.stripSuffix("/"))
    val isSource: SparkPlan => Boolean = {
      case _: RowDataSourceScanExec => w.jdbc
      case f: FileSourceScanExec => !w.jdbc && f.relation.location.rootPaths.exists(_.toUri.getPath.startsWith(inputDir))
      case _ => false
    }
    val tracer = if (a.trace) {
      val t = new Tracer(spark.sparkContext, isSource)
      spark.sparkContext.addSparkListener(t)
      spark.listenerManager.register(t)
      Some(t)
    } else None

    def pushOnce(): Pass = push(_.launch(), c, expected, w.chunked, spark)
    def traced[T](name: String, pass: Int)(body: => T): T =
      tracer.fold(body)(_.span(name, pass)(body)._1)

    val passes = Seq.newBuilder[Pass]
    val first = traced("first_pass", 0)(pushOnce())
    passes += first

    // warm-up by push count, then the measured window; a traced run
    // repeats an untraced push and a traced push, in alternating order,
    // then one probe of every layer
    (1 to w.warmupPushes).foreach(_ => passes += pushOnce())
    log(s"warm-up: ${w.warmupPushes} passes, ${passes.result().map(p => f"${p.seconds}%.2f").mkString(" ")} s")

    val measured = Seq.newBuilder[Double]
    val tracedPass = Seq.newBuilder[Double]
    val probes = Seq.newBuilder[Map[String, Double]]
    val pubs = Seq.newBuilder[Published]
    var cachedLeft = 0
    val deadline = System.nanoTime() + (a.seconds * 1e9).toLong
    var pass = 0
    while (System.nanoTime() < deadline) {
      pass += 1
      def untraced(): Unit = {
        val p = pushOnce()
        passes += p; measured += p.seconds; pubs += p.published
        cachedLeft = math.max(cachedLeft, spark.sparkContext.getPersistentRDDs.size)
      }
      tracer match {
        case None => untraced()
        case Some(t) =>
          def tracedOnce(): Unit = {
            val (tp, _) = t.span("launch", pass)(pushOnce())
            passes += tp; tracedPass += tp.seconds
          }
          // neither kind of push always follows the probe
          if (pass % 2 == 1) { untraced(); tracedOnce() } else { tracedOnce(); untraced() }
          val (pr, _) = t.span("probe", pass)(probe(t, pass, c, expected, spark))
          passes += pr._1; probes += pr._2
      }
    }

    val edgeFailed = edgeCases(spark)
    val all = passes.result()
    val attempted = all.size
    val failed = all.count(!_.ok)
    val pass50 = median(measured.result())
    val pubList = pubs.result()

    val metrics: Seq[(String, Double, String)] = tracer match {
      case None =>
        val heapMb = heapAfterGc()
        Seq(("setup_s", setupS, "s"), ("first_pass_s", first.seconds, "s"),
          ("pass_s_p50", pass50, "s"),
          ("columns_per_s", expected.columns / pass50, "col/s"),
          ("sqs_billed_requests", median(pubList.map(_.billed.toDouble)), "count"),
          ("heap_after_gc_mb", heapMb, "MB"))
      case Some(t) =>
        t.finish()
        val traced = tracedPass.result()
        val launches = t.spans.filter(_.name == "launch").toSeq
        def med(f: Span => Double): Double = median(launches.map(f))
        def spark(k: String): Double = med(s => s.counters.fields.toMap.apply(k))
        val firstSpan = t.spans.find(_.name == "first_pass").get
        val pr = probes.result()
        def probeMed(k: String): Double = median(pr.map(_(k)))
        val ratio = spark("source_rows") / expected.columns
        // a noop action's fixed cost is taken off each probe action that
        // launch() has no counterpart of: the extract noop, and the noops
        // the stage writes and the read-back are compared against
        val self = Seq(
          "sources.extract_s" -> ratio * median(pr.map(m => m("extract") - m("empty"))),
          "operators.group_s" -> ratio * (probeMed("group") - probeMed("extract")),
          "operators.expand_s" -> median(pr.map(m => m("nodes") + m("relations") - 2 * m("group"))),
          "sources.stage_write_s" -> median(pr.map(m =>
            m("write_nodes") - m("nodes") + m("write_relations") - m("relations") + 2 * m("empty"))),
          "sources.stage_readback_s" -> median(pr.map(m => m("readback") - 2 * m("empty"))),
          "sources.publish_s" -> median(pr.map(m => m("publish") - m("readback") + 2 * m("empty"))))
        val stage = stagedFiles()
        writeTrace(t, self)
        self.map { case (k, v) => (k, v, "s") } ++ Seq(
          ("jobs.unattributed_s", median(traced) - self.map(_._2).sum, "s"),
          ("sources.extract_rows_ratio", ratio, "ratio"),
          ("operators.shuffle_bytes", spark("shuffle_write_bytes"), "bytes"),
          ("sources.stage_files", stage._1.toDouble, "count"),
          ("sources.stage_bytes", stage._2.toDouble, "bytes"),
          ("sources.publish_messages", median(pubList.map(_.messages.toDouble)), "count"),
          ("sources.publish_fill", median(pubList.map(p => p.bytes.toDouble / p.messages / graft.sources.SqsPublisher.MaxMessageBytes)), "ratio"),
          ("bench.transport_s", median(pubList.map(_.transportNanos / 1e9)), "s"),
          ("bench.trace_overhead_s", median(traced) - pass50, "s"),
          ("bench.traced_pass_s_p50", median(traced), "s"),
          ("bench.pass_samples", measured.result().size.toDouble, "count"),
          ("bench.failed_ratio", failed.toDouble / attempted, "ratio"),
          ("bench.edge_cases_failed", edgeFailed.toDouble, "count"),
          ("core.session_start_s", sessionS, "s"),
          ("spark.jobs", spark("jobs"), "count"),
          ("spark.stages", spark("stages"), "count"),
          ("spark.tasks", spark("tasks"), "count"),
          ("spark.run_ms", spark("run_ms"), "ms"),
          ("spark.cpu_ms", spark("cpu_ms"), "ms"),
          ("spark.gc_ms", spark("gc_ms"), "ms"),
          ("spark.shuffle_read_bytes", spark("shuffle_read_bytes"), "bytes"),
          ("spark.shuffle_write_bytes", spark("shuffle_write_bytes"), "bytes"),
          ("spark.spill_bytes", spark("spill_bytes"), "bytes"),
          ("spark.plan_ms", spark("plan_ms"), "ms"),
          ("spark.driver_gap_ms", med(_.driverGapMs.toDouble), "ms"),
          ("spark.codegen_compiles", med(_.codegenCompiles.toDouble), "count"),
          ("spark.first_pass_codegen_compiles", firstSpan.codegenCompiles.toDouble, "count"),
          ("spark.first_pass_plan_ms", firstSpan.counters.planMs.toDouble, "ms"),
          ("spark.cached_left", cachedLeft.toDouble, "count"))
    }
    log(s"measured: ${measured.result().map(s => f"$s%.2f").mkString(" ")} s; " +
      f"pass_s_p50 $pass50%.3f s over ${measured.result().size} pushes")
    log(s"passes attempted $attempted, failed $failed, measured ${measured.result().size}, " +
      s"edge cases failed $edgeFailed of 2")
    spark.stop()
    Json.result(correct = failed == 0, attempted, failed, metrics)
  }

  /** One decomposed pass: the public functions `launch()` calls, each
    * materialized in pipeline order, so that prefix differences give
    * every layer's self time. */
  private def probe(t: Tracer, pass: Int, c: ScopedConf, expected: Expected,
                    spark: SparkSession): (Pass, Map[String, Double]) = {
    val idle = new Verifying(group)
    idle.release()
    val job = new MetadataJob(spark, c, idle) // for extract() only; publishStaged goes through push
    def step(name: String)(body: => Unit): (String, Double) = name -> t.span(name, pass)(body)._2.seconds
    def tables = GraphExpansion.tableMetadata(spark, job.extract())
    def read(dir: String) = spark.read.option("header", "true").option("emptyValue", "").csv(dir)
    val times = Seq(
      step("empty")(noop(spark.range(0, 0, 1, 1).toDF())),
      step("extract")(noop(job.extract())),
      step("group")(noop(tables.toDF())),
      step("nodes")(noop(GraphExpansion.nodes(spark, tables).toDF())),
      step("relations")(noop(GraphExpansion.relations(spark, tables).toDF())),
      step("write_nodes")(CsvGraphStage.writeNodes(GraphExpansion.nodes(spark, tables), nodeDir)),
      step("write_relations")(CsvGraphStage.writeRelations(GraphExpansion.relations(spark, tables), relDir)),
      step("readback") { noop(read(nodeDir)); noop(read(relDir)) })
    // the span holds the output check too; the self time is the push's own
    val p = t.span("publish", pass)(push(_.publishStaged(), c, expected, w.chunked, spark))._1
    (p, (times :+ ("publish" -> p.seconds)).toMap)
  }

  /** Staged CSV data files and their bytes. */
  private def stagedFiles(): (Int, Long) = {
    val files = Seq(nodeDir, relDir).flatMap(d => walk(new File(d))).filter(_.getName.startsWith("part-"))
    (files.size, files.map(_.length).sum)
  }
  private def walk(f: File): Seq[File] =
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(walk) else Seq(f)

  /** The known edge case, untimed: a description with an embedded
    * newline, pushed through the CSV path (chunked) and the JDBC path
    * (parity). Returns how many of the two pushes failed the check. */
  private def edgeCases(spark: SparkSession): Int = {
    val rows = Catalog.newlineEdge
    val expected = new Expected(rows)
    Seq(false, true).count { jdbc =>
      val c = conf(source(rows, s"edge-${if (jdbc) "jdbc" else "csv"}", jdbc), chunked = !jdbc,
        (s"$edgeStage/nodes", s"$edgeStage/relations"))
      val p = push(_.launch(), c, expected, chunked = !jdbc, spark)
      log(s"edge case, embedded newline via ${if (jdbc) "JDBC" else "CSV"}: ${if (p.ok) "ok" else "FAILED"}")
      !p.ok
    }
  }

  private def heapAfterGc(): Double = {
    System.gc(); System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
  }

  private def writeTrace(t: Tracer, self: Seq[(String, Double)]): Unit = {
    val spans = t.spans.map { s =>
      Json.obj(Seq("id" -> s.id.toString, "name" -> Json.str(s.name), "parent" -> s.parent.toString,
        "pass" -> s.pass.toString, "start_ms" -> s.startMs.toString, "end_ms" -> s.endMs.toString,
        "seconds" -> Json.num(s.seconds), "driver_gap_ms" -> s.driverGapMs.toString,
        "codegen_compiles" -> s.codegenCompiles.toString,
        "spark" -> Json.obj(s.counters.fields.map { case (k, v) => k -> Json.num(v) }),
        "modules" -> Json.obj(s.modules.toSeq.map { case (m, c) =>
          m -> Json.obj(c.fields.map { case (k, v) => k -> Json.num(v) }) })))
    }
    val out = new File(work, s"trace-${w.name}-${a.seed}.json")
    val body = Json.obj(Seq("workload" -> Json.str(w.name), "seed" -> a.seed.toString,
      "self_s" -> Json.obj(self.map { case (k, v) => k -> Json.num(v) }),
      "spans" -> spans.mkString("[\n", ",\n", "\n]")))
    java.nio.file.Files.writeString(out.toPath, body)
    log(s"trace written to $out")
  }
}

/** The little JSON the benchmark writes. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  } + "\""
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
  def obj(kv: Seq[(String, String)]): String = kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")

  def result(correct: Boolean, attempted: Int, failed: Int, metrics: Seq[(String, Double, String)]): String =
    obj(Seq("correct" -> correct.toString, "attempted" -> attempted.toString, "failed" -> failed.toString,
      "metrics" -> obj(metrics.map { case (k, v, u) => k -> obj(Seq("value" -> num(v), "unit" -> str(u))) })))
}
