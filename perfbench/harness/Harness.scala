// Lives in Spark's package tree only to reach the listener bus's
// `waitUntilEmpty`, so that per-pass counters are complete when read.
package org.apache.spark.graftbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.time.LocalDate

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, XXH64}
import org.apache.spark.sql.execution.SQLExecution

import graft.{Lifecycle, QueryDef, Sessions}
import graft.tabjolt._

/** Benchmark driver for one run of one workload, in one JVM.
  *
  * A run builds the session, makes one cold pass over the workload and
  * then warm passes until `--seconds` have gone by. Every entry's output
  * is consumed in full (each column of each row is hashed) and checked
  * against the expected values, so a wrong answer counts as a failure.
  * With `--trace 1`, untraced and traced warm passes alternate; the
  * traced ones record spans around each call into the library and read
  * Spark's listener and Catalyst's phase tracker for per-layer numbers.
  *
  * The result is one JSON object written to `--result`. */
object Harness {

  // ---------------------------------------------------------------- args

  final case class Args(workload: String, seed: Long, seconds: Double,
                        trace: Boolean, data: String, expected: String,
                        result: String, spans: String, cores: Int,
                        launchMs: Long, setupOnly: Boolean, record: Boolean)

  private def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def get(k: String, d: String = null): String =
      m.getOrElse(k, Option(d).getOrElse(sys.error(s"missing --$k")))
    Args(get("workload", ""), get("seed", "0").toLong, get("seconds", "10").toDouble,
      get("trace", "0") == "1", get("data", ""), get("expected", ""),
      get("result", ""), get("spans", ""), get("cores", "4").toInt,
      get("launch-ms", System.currentTimeMillis().toString).toLong,
      get("setup-only", "0") == "1", get("record", "0") == "1")
  }

  // --------------------------------------------------------------- spans

  /** One span: a named interval on the driver thread. `parent` is the
    * index of the enclosing span, -1 for a pass. */
  final case class Span(name: String, start: Long, end: Long, parent: Int, entry: String)

  /** In-memory span recorder; off unless the run is traced. */
  final class Tracer {
    var on = false
    val spans = ArrayBuffer.empty[Span]
    private var stack = List.empty[Int]
    private var entry = ""

    def withEntry[T](id: String)(body: => T): T = { entry = id; try body finally entry = "" }

    def span[T](name: String)(body: => T): T =
      if (!on) body
      else {
        val idx = spans.size
        spans += Span(name, System.nanoTime(), 0L, stack.headOption.getOrElse(-1), entry)
        stack = idx :: stack
        try body
        finally {
          stack = stack.tail
          spans(idx) = spans(idx).copy(end = System.nanoTime())
        }
      }

    /** Self time per span name over spans[from, until): each span's
      * duration minus the part its direct children cover. */
    def selfTimes(from: Int, until: Int): Map[String, Double] = {
      val self = Array.tabulate(until - from)(i => (spans(from + i).end - spans(from + i).start).toDouble)
      (from until until).foreach { i =>
        val p = spans(i).parent
        if (p >= from) self(p - from) -= (spans(i).end - spans(i).start)
      }
      (from until until).groupMapReduce(i => spans(i).name)(i => self(i - from) / 1e9)(_ + _)
    }

    def write(path: String): Unit = if (path.nonEmpty) {
      val sb = new StringBuilder
      spans.foreach { s =>
        sb.append(s"""{"name":"${s.name}","start_ns":${s.start},"end_ns":${s.end},""" +
          s""""parent":${s.parent},"entry":"${s.entry}"}""").append('\n')
      }
      Files.createDirectories(Paths.get(path).toAbsolutePath.getParent)
      Files.writeString(Paths.get(path), sb.toString)
    }
  }

  // ------------------------------------------------------ Spark listener

  /** Scheduler counters for the traced passes. Jobs are tagged with the
    * harness phase (`build`, `exec`, ...) through a local property. */
  final class Meter extends SparkListener {
    @volatile var on = false
    var jobs, stages, tasks, buildJobs = 0L
    var runMs, cpuNs, shuffleWrite, shuffleRead, spill, gcMs, input, output = 0L
    var peakExecMem = 0L
    val jobWallMs = ArrayBuffer.empty[Long]
    private val jobStart = scala.collection.mutable.Map.empty[Int, Long]

    def reset(): Unit = synchronized {
      jobs = 0; stages = 0; tasks = 0; buildJobs = 0
      runMs = 0; cpuNs = 0; shuffleWrite = 0; shuffleRead = 0; spill = 0
      gcMs = 0; input = 0; output = 0; peakExecMem = 0
      jobWallMs.clear()
    }

    override def onJobStart(e: SparkListenerJobStart): Unit = if (on) synchronized {
      jobs += 1
      jobStart(e.jobId) = e.time
      if (Option(e.properties).exists(_.getProperty(PhaseKey) == "build")) buildJobs += 1
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobStart.remove(e.jobId).foreach(t => if (on) jobWallMs += e.time - t)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      if (on) synchronized { stages += 1 }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (on) synchronized {
      tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        runMs += m.executorRunTime
        cpuNs += m.executorCpuTime
        shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        shuffleRead += m.shuffleReadMetrics.totalBytesRead
        spill += m.memoryBytesSpilled + m.diskBytesSpilled
        gcMs += m.jvmGCTime
        input += m.inputMetrics.bytesRead
        output += m.outputMetrics.bytesWritten
        peakExecMem = math.max(peakExecMem, m.peakExecutionMemory)
      }
    }
  }

  val PhaseKey = "graftbench.phase"

  // ------------------------------------------------------------- helpers

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  private def dirBytes(f: File): Long =
    if (f.isFile) f.length()
    else Option(f.listFiles()).map(_.map(dirBytes).sum).getOrElse(0L)

  /** Row count and an order-insensitive 64-bit checksum over every column
    * of every row, read from the entry's physical plan as written (its
    * sort and every projected column included). */
  def consume(df: DataFrame): String = {
    val qe = df.queryExecution
    val schema = df.schema
    val (rows, sum) = SQLExecution.withNewExecutionId(qe, Some("graftbench consume")) {
      qe.toRdd.mapPartitions { it =>
        val proj = UnsafeProjection.create(schema)
        var n = 0L; var h = 0L
        while (it.hasNext) {
          val u = proj(it.next())
          h += XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.getSizeInBytes, 42L)
          n += 1
        }
        Iterator.single((n, h))
      }.fold((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }
    }
    s"$rows:${java.lang.Long.toHexString(sum)}"
  }

  private def vmHwmMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  private def readExpected(path: String): Map[String, String] =
    if (path.isEmpty || !new File(path).isFile) Map.empty
    else {
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      val it = mapper.readTree(new File(path)).fields()
      val b = Map.newBuilder[String, String]
      while (it.hasNext) { val e = it.next(); b += e.getKey -> e.getValue.asText }
      b.result()
    }

  private def jsonNum(d: Double): String =
    if (d.isNaN || d.isInfinite) "0" else java.math.BigDecimal.valueOf(d).toPlainString

  // --------------------------------------------------------- workloads

  /** One unit of work in a pass. `run` returns the outcome's checksum;
    * it throws on failure. */
  final case class Entry(id: String, module: String, run: () => String)

  /** Catalog modules in the order [[graft.SparkEntry.catalogs]] lists them. */
  private def modules: Seq[(String, Seq[QueryDef])] = {
    import graft.operators._
    Seq("Relational" -> Relational.catalog, "TextDedup" -> TextDedup.catalog,
      "Similarity" -> Similarity.catalog, "Multimodal" -> Multimodal.catalog,
      "SourcesStreaming" -> SourcesStreaming.catalog, "Advanced" -> Advanced.catalog,
      "Corpus" -> Corpus.catalog, "TabjoltParity" -> TabjoltParity.catalog,
      "Sketches" -> Sketches.catalog)
  }
  val ModuleNames: Seq[String] = Seq("Relational", "TextDedup", "Similarity",
    "Multimodal", "SourcesStreaming", "Advanced", "Corpus", "TabjoltParity", "Sketches")

  /** The `catalog` workload: one entry from each operator module, in
    * the order the cold pass runs them. Together they reach the layers
    * the whole catalog exercises: a join and a window aggregate
    * (Catalyst and the per-job floor), the tabjolt summary query, a
    * streaming drain, IndexStore builds and reuse (pair, IVF and media
    * indexes), the connected-components loop and a sketch. */
  val CatalogIds: Seq[String] = Seq(
    "q09_regression_join",         // Relational
    "q17_percentiles",             // Advanced
    "tj04_reference_daily_metric", // TabjoltParity
    "st01_stream_hourly_agg",      // SourcesStreaming
    "t06_jaccard_pairs",           // TextDedup
    "s04_ann_ivf",                 // Similarity
    "mm08_phash_near_dedup",       // Multimodal
    "t11_dup_clusters",            // Corpus
    "sk01_cms_topk")               // Sketches

  private def catalogEntries(spark: SparkSession, ids: Seq[String], sfDir: String,
                             tr: Tracer, catalyst: Catalyst): Seq[Entry] = {
    val byId = (for ((module, defs) <- modules; q <- defs) yield q.name -> (module, q)).toMap
    ids.map(byId).map { case (module, q) => Entry(q.name, module, () => {
      val sc = spark.sparkContext
      sc.setLocalProperty(PhaseKey, "build")
      val df = tr.span("entry.build")(q.fn(spark, sfDir))
      sc.setLocalProperty(PhaseKey, "exec")
      val sum = tr.span("entry.exec")(consume(df))
      sc.setLocalProperty(PhaseKey, null)
      if (tr.on) catalyst.add(df)
      sum
    })}
  }

  /** Catalyst phase times of the entries' final plans. */
  final class Catalyst {
    var analysis, optimization, planning = 0.0
    def add(df: DataFrame): Unit = {
      val ph = df.queryExecution.tracker.phases
      def s(k: String) = ph.get(k).map(_.durationMs / 1e3).getOrElse(0.0)
      analysis += s("analysis"); optimization += s("optimization"); planning += s("planning")
    }
    def reset(): Unit = { analysis = 0; optimization = 0; planning = 0 }
  }

  // ------------------------------------------------------ daily report

  /** The daily TabJolt report over generated logs in `dir`: each pass
    * runs `runDaily` for the run dates in `truth.json`, into a capture
    * sink. Untraced, it calls `Pipeline.runDaily`; traced, it calls the
    * same stages one by one in `runDaily`'s order so each gets a span,
    * and the HTML must come out byte-identical. */
  final class Daily(spark: SparkSession, dir: String, stateDir: String, tr: Tracer,
                    catalyst: Catalyst) {
    private val truth = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new File(s"$dir/truth.json"))
    val runDates: Seq[LocalDate] =
      (0 until truth.get("run_dates").size).map(i => LocalDate.parse(truth.get("run_dates").get(i).asText))
    val rejectedPath = s"$stateDir/rejected"
    // the four sources are staged from the input dir into the state dir
    // by Fetch, the pipeline's download stage
    private val names = Seq("summary_line.csv", "wincounter.tsv",
      "performance_samples.csv", "thread_details.tsv")
    val cfg = PipelineConfig(
      summaryLinePath = s"$stateDir/staged/summary_line.csv",
      winCounterPath = s"$stateDir/staged/wincounter.tsv",
      performanceSamplesPath = s"$stateDir/staged/performance_samples.csv",
      threadDetailsPath = s"$stateDir/staged/thread_details.tsv",
      rejectedPath = rejectedPath,
      fetch = names.map(n => s"file://$dir/$n" -> s"file://$stateDir/staged/$n"))
    val inputBytes: Long = names.map(n => new File(s"$dir/$n").length()).sum
    var runs = 0L
    var rejectedRows = 0L // per runDaily, read back from the sink
    var htmlBytes = 0L

    def entries: Seq[Entry] = runDates.map { d =>
      Entry(s"daily_${d}", "", () => {
        val sink = new CaptureEmailSink
        val html = if (tr.on) traced(d, sink) else Pipeline.runDaily(spark, cfg, d, sink)
        runs += 1
        require(sink.sent.size == 1 && sink.sent.head.htmlBody == html, "email not captured")
        check(d, html)
        val bytes = html.getBytes(UTF_8)
        htmlBytes = bytes.length
        java.lang.Long.toHexString(XXH64.hashUnsafeBytes(bytes,
          org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET, bytes.length, 42L))
      })
    }

    /** `Pipeline.runDaily`, stage by stage. */
    private def traced(runDate: LocalDate, sink: EmailSink): String = {
      tr.span("tabjolt.fetch")(Fetch.fetchAll(spark, cfg.fetch))
      // ingest fills the parse caches: the rejected-row sink scans them
      val t = tr.span("tabjolt.ingest")(Pipeline.ingest(spark, cfg))
      // every query frame, for its Catalyst phase times once it has run
      val frames = ArrayBuffer.empty[DataFrame]
      def q(df: DataFrame): DataFrame = { frames += df; df }
      try {
        def scalarString(df: DataFrame): String =
          q(df).collect().headOption.map(r => Option(r.get(0)).map(_.toString).getOrElse(""))
            .getOrElse("No results found")
        val metrics = tr.span("tabjolt.queries") {
          Seq(
            "Average time taken for tabjolt run (values are in ms):" ->
              scalarString(Queries.dailyMetric(t.summaryLine, runDate, "Avg")),
            "Maximum time taken for tabjolt run (values are in ms):" ->
              scalarString(Queries.dailyMetric(t.summaryLine, runDate, "Max")),
            "Minimum time taken for tabjolt run (values are in ms):" ->
              scalarString(Queries.dailyMetric(t.summaryLine, runDate, "Min")),
            "Tabjolt test cases executed at " ->
              scalarString(Queries.latestExecution(t.winCounter)),
            "Average Historic time taken for tabjolt run (values are in ms):" ->
              scalarString(Queries.historicAvg(t.summaryLine)))
        }
        val trendPts = tr.span("tabjolt.queries")(Report.trendPoints(q(Queries.trendSeries(t.summaryLine))))
        val chart = tr.span("tabjolt.report")(Report.trendChartPng(trendPts))
        val maxRenderRows = 10000
        val today = tr.span("tabjolt.queries")(
          q(Queries.todaysSamples(t.performanceSamples, runDate).limit(maxRenderRows)).collect().toSeq)
        val (reg, imp) = tr.span("tabjolt.q8")(
          (q(Queries.regressions(t.performanceSamples, runDate).limit(maxRenderRows)).collect().toSeq,
            q(Queries.improvements(t.performanceSamples, runDate).limit(maxRenderRows)).collect().toSeq))
        val html = tr.span("tabjolt.report")(Report.html(metrics, today, reg, imp))
        tr.span("tabjolt.email") {
          val msg = MimeMessage(cfg.emailFrom, cfg.emailTo, cfg.emailSubject,
            html, chart, "graph_cid", "image/png")
          msg.render
          sink.send(msg)
        }
        frames.foreach(catalyst.add)
        html
      } finally t.cleanup()
    }

    /** The planted truth for `d`, asserted against the rendered report. */
    private def check(d: LocalDate, html: String): Unit = {
      val e = truth.get("dates").get(d.toString)
      def section(from: String, to: String): String = {
        val i = html.indexOf(from); val j = html.indexOf(to, i)
        require(i >= 0 && j >= 0, s"report section '$from' missing")
        html.substring(i, j)
      }
      def rows(s: String): Int = "<tr>".r.findAllMatchIn(s).size - 1 // minus the header
      def expect(what: String, got: Int, key: String, per: Int = 1): Unit = {
        val want = per * e.get(key).asInt
        require(got == want, s"$d $what $got, want $want")
      }
      val metrics = "<td>([^<]*)</td><td>([^<]*)</td>".r
        .findAllMatchIn(section("<h3>Tabjolt Daily", "<img")).map(_.group(2)).toSeq
      val want = (0 until e.get("metrics").size).map(e.get("metrics").get(_).asText)
      require(metrics == want, s"$d metrics $metrics, want $want")
      val regs = section("<h3>Views taking more", "<h3>Views taking less")
      expect("red cells", """style="color:red"""".r.findAllMatchIn(regs).size, "red_rows", per = 4)
      expect("regression rows", rows(regs), "regression_rows")
      expect("improvement rows", rows(section("<h3>Views taking less", "</body>")), "improvement_rows")
      expect("today's rows", rows(section("<h3>Today's Samples", "<h3>Views taking more")), "today_rows")
    }

    /** Rejected rows written by every `runDaily` of the run: the sink is
      * appended to once per run, with every malformed row. */
    def checkRejected(): Unit = {
      val lines = Option(new File(rejectedPath).listFiles()).toSeq.flatten
        .filter(f => f.isFile && !f.getName.startsWith(".") && !f.getName.startsWith("_"))
        .map(f => Files.readAllLines(f.toPath).size.toLong).sum
      val want = truth.get("rejected_rows").asLong * runs
      require(lines == want, s"rejected rows $lines, want $want")
      rejectedRows = lines / runs
    }
  }

  // ---------------------------------------------------------------- main

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val spark = Sessions.graftDefaults(SparkSession.builder())
      .master(s"local[${a.cores}]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val setupS = (System.currentTimeMillis() - a.launchMs) / 1e3
    if (a.setupOnly) {
      write(a.result, s"""{"setup_s":${jsonNum(setupS)}}""")
      Runtime.getRuntime.halt(0) // the caller deletes the state dir
    }

    val tmp = new File(System.getProperty("java.io.tmpdir"))
    val tr = new Tracer
    val meter = new Meter
    val catalyst = new Catalyst
    spark.sparkContext.addSparkListener(meter)
    val daily = if (a.workload == "daily_report")
      Some(new Daily(spark, a.data, new File(tmp, "daily").getAbsolutePath, tr, catalyst)) else None
    val entries: Seq[Entry] = a.workload match {
      case "catalog" => catalogEntries(spark, CatalogIds, a.data, tr, catalyst)
      case "daily_report" => daily.get.entries
      case w => sys.error(s"unknown workload '$w'")
    }
    val expected = readExpected(a.expected)
    if (!a.record && daily.isEmpty)
      require(entries.forall(e => expected.contains(e.id)),
        s"no expected checksum for ${entries.map(_.id).filterNot(expected.contains).mkString(",")}")

    var attempted, failed = 0L
    val recorded = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val failures = ArrayBuffer.empty[String]
    // per-entry walls, pass by pass, for the result file
    val wallsById = scala.collection.mutable.LinkedHashMap.empty[String, ArrayBuffer[Double]]

    /** Stats of one pass. */
    final case class Pass(wall: Double, entryWalls: Seq[Double], traced: Boolean,
                          layer: Map[String, Double])

    def graftDirs(): Set[String] =
      Option(tmp.list()).toSeq.flatten
        .filter(n => n.startsWith("graft_") && !n.startsWith("graft_roundtrip_") && !n.contains(".build-"))
        .toSet

    def runPass(i: Int, traced: Boolean): Pass = {
      // the cold pass runs in the workload's own order, so the same entry
      // pays the first JIT and codegen on every seed
      val order = if (i == 0) entries else new scala.util.Random(a.seed * 1000003L + i).shuffle(entries)
      tr.on = traced
      meter.on = traced
      meter.reset(); catalyst.reset()
      val spanFrom = tr.spans.size
      val before = if (traced) graftDirs() else Set.empty[String]
      val moduleWall = scala.collection.mutable.Map.empty[String, Double].withDefaultValue(0.0)
      val walls = ArrayBuffer.empty[Double]
      val t0 = System.nanoTime()
      tr.span("pass") {
        order.foreach { e =>
          val s0 = System.nanoTime()
          val out = tr.withEntry(e.id) {
            try Right(tr.span("entry")(e.run()))
            catch { case NonFatal(x) => Left(x) }
          }
          val w = (System.nanoTime() - s0) / 1e9
          walls += w
          wallsById.getOrElseUpdate(e.id, ArrayBuffer.empty) += w
          moduleWall(e.module) += w
          attempted += 1
          out match {
            case Left(x) =>
              failed += 1
              failures += s"${e.id} (pass $i): ${x.toString.take(300)}"
            case Right(sum) =>
              // catalog entries must match the recorded checksums; a daily
              // report (and a recording run) must match its own first pass
              val want = if (daily.isEmpty && !a.record) expected.get(e.id) else recorded.get(e.id)
              if (want.exists(_ != sum)) {
                failed += 1
                failures += s"${e.id} (pass $i): checksum $sum, want ${want.get}"
              } else recorded(e.id) = sum
          }
          tr.withEntry(e.id)(tr.span("lifecycle.release")(Lifecycle.release(spark)))
        }
      }
      val wall = (System.nanoTime() - t0) / 1e9
      val layer = if (!traced) Map.empty[String, Double] else {
        spark.sparkContext.listenerBus.waitUntilEmpty()
        val self = tr.selfTimes(spanFrom, tr.spans.size)
        val newDirs = graftDirs() -- before
        val mb = 1024.0 * 1024.0
        val m = meter.synchronized {
          Map(
            "spark.jobs" -> meter.jobs.toDouble,
            "spark.stages" -> meter.stages.toDouble,
            "spark.tasks" -> meter.tasks.toDouble,
            "entry.build_jobs" -> meter.buildJobs.toDouble,
            "spark.job_wall_p50_ms" -> median(meter.jobWallMs.map(_.toDouble).toSeq),
            "spark.executor_run_s" -> meter.runMs / 1e3,
            "spark.executor_cpu_s" -> meter.cpuNs / 1e9,
            "spark.core_busy_ratio" -> meter.runMs / 1e3 / (wall * a.cores),
            "spark.shuffle_write_mb" -> meter.shuffleWrite / mb,
            "spark.shuffle_read_mb" -> meter.shuffleRead / mb,
            "spark.spill_mb" -> meter.spill / mb,
            "spark.peak_exec_mem_mb" -> meter.peakExecMem / mb,
            "spark.gc_s" -> meter.gcMs / 1e3,
            "spark.input_mb" -> meter.input / mb,
            "spark.output_mb" -> meter.output / mb)
        }
        val covered = self.collect { case (k, v) if k != "pass" => v }.sum
        m ++ Map(
          "entry.build_s" -> self.getOrElse("entry.build", 0.0),
          "entry.exec_s" -> self.getOrElse("entry.exec", 0.0),
          "lifecycle.release_s" -> self.getOrElse("lifecycle.release", 0.0),
          "catalyst.analysis_s" -> catalyst.analysis,
          "catalyst.optimization_s" -> catalyst.optimization,
          "catalyst.planning_s" -> catalyst.planning,
          "indexstore.builds" -> newDirs.size.toDouble,
          "indexstore.build_mb" -> newDirs.toSeq.map(n => dirBytes(new File(tmp, n))).sum / mb,
          "tabjolt.fetch_s" -> self.getOrElse("tabjolt.fetch", 0.0),
          "tabjolt.ingest_s" -> self.getOrElse("tabjolt.ingest", 0.0),
          "tabjolt.queries_s" -> (self.getOrElse("tabjolt.queries", 0.0) + self.getOrElse("tabjolt.q8", 0.0)),
          "tabjolt.q8_s" -> self.getOrElse("tabjolt.q8", 0.0),
          "tabjolt.report_s" -> self.getOrElse("tabjolt.report", 0.0),
          "tabjolt.email_s" -> self.getOrElse("tabjolt.email", 0.0),
          "trace.coverage" -> covered / wall) ++
          ModuleNames.map(n => s"module.$n.wall_s" -> moduleWall(n))
      }
      tr.on = false; meter.on = false
      Pass(wall, walls.toSeq, traced, layer)
    }

    val start = System.nanoTime()
    val cold = runPass(0, a.trace)
    val warm = ArrayBuffer.empty[Pass]
    // Warm passes until the run's time is up, at least three. A traced
    // run alternates untraced (odd) and traced (even) passes; the
    // tracing overhead compares them after the first warm pass, which
    // still pays JIT compilation.
    val minWarm = if (a.trace) 5 else 3
    while (warm.size < minWarm || (System.nanoTime() - start) / 1e9 < a.seconds)
      warm += runPass(warm.size + 1, a.trace && warm.size % 2 == 1)
    daily.foreach(d => try d.checkRejected() catch { case NonFatal(x) =>
      failed += 1; failures += x.getMessage })

    val untraced = warm.filterNot(_.traced)
    val traced = warm.filter(_.traced)
    // at most a few dozen samples: too few for any tail percentile to
    // have ten samples beyond it, so only the median is reported
    val entryWalls = untraced.flatMap(_.entryWalls).toSeq
    val e2e = Seq(
      "setup_s" -> setupS,
      "cold_pass_s" -> cold.wall,
      "warm_pass_s" -> median(untraced.map(_.wall).toSeq),
      "entry_p50_s" -> median(entryWalls),
      "peak_rss_mb" -> vmHwmMb())
    val layer: Seq[(String, Double)] = if (!a.trace) Nil else {
      val keys = traced.head.layer.keys.toSeq.sorted
      val med = keys.map(k => k -> median(traced.map(_.layer(k)).toSeq)).toMap
      val coldBuilds = cold.layer("indexstore.builds")
      val warmBuilds = median(traced.map(_.layer("indexstore.builds")).toSeq)
      val ingestS = med("tabjolt.ingest_s")
      (med ++ Map(
        "indexstore.builds" -> coldBuilds,
        "indexstore.build_mb" -> cold.layer("indexstore.build_mb"),
        "indexstore.reuse_ratio" -> (if (coldBuilds == 0) 1.0 else 1.0 - warmBuilds / coldBuilds),
        "tabjolt.rejected_rows" -> daily.map(_.rejectedRows.toDouble).getOrElse(0.0),
        "tabjolt.html_bytes" -> daily.map(_.htmlBytes.toDouble).getOrElse(0.0),
        "tabjolt.ingest_mb_per_s" -> daily.filter(_ => ingestS > 0).map(d =>
          d.inputBytes / 1048576.0 * d.runDates.size / ingestS).getOrElse(0.0),
        "trace.overhead_ratio" ->
          (median(traced.map(_.wall).toSeq) / median(untraced.drop(1).map(_.wall).toSeq) - 1.0)
      )).toSeq.sortBy(_._1)
    }
    tr.write(a.spans)
    val metrics = (e2e ++ layer).map { case (k, v) => s""""$k":${jsonNum(v)}""" }.mkString("{", ",", "}")
    val passes = (cold +: warm.toSeq).map(p => jsonNum(p.wall)).mkString("[", ",", "]")
    val fails = failures.map(f => "\"" + f.replace("\\", "\\\\").replace("\"", "'")
      .replace("\n", " ") + "\"").mkString("[", ",", "]")
    def obj(m: Iterable[(String, String)]) = m.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
    val rec = (if (!a.record) "" else ",\"recorded\":" + obj(recorded.map { case (k, v) => k -> s""""$v"""" })) +
      ",\"entry_walls\":" + obj(wallsById.map { case (k, v) => k -> v.map(jsonNum).mkString("[", ",", "]") })
    write(a.result, s"""{"attempted":$attempted,"failed":$failed,"metrics":$metrics,""" +
      s""""passes":$passes,"entries_per_pass":${entries.size},"failures":$fails$rec}""")
    spark.stop()
  }

  private def write(path: String, s: String): Unit =
    if (path.isEmpty) println(s) else Files.writeString(Paths.get(path), s + "\n")
}
