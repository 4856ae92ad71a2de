package perfbench

import graft.enrich.Enrich
import graft.etl.{Extract, Load, MoviePipeline, Transform}
import graft.queries.CanonicalQueries
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import java.io.File
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The benchmark process: one Spark session, one client, a closed loop
  * of passes over one workload. It calls the program only through its
  * public functions and learns about Spark only through its own
  * listeners. Run it through `run.py`, which builds it and starts it
  * in a work directory inside the checkout.
  *
  * Arguments: workload seed seconds trace(0|1) workDir resultFile cores
  */
object Main {

  final case class Shape(
      scale: Double,     // generator scale, 1 = ml-latest-small
      cap: Int,          // enrichment cap
      latencyMs: Long,   // stub latency per call
      quota: Int,        // provider quota, calls/s (0 = none)
      jdbc: Boolean,     // load into Derby (else the parquet curated layer)
      warmScale: Double) // generator scale of the warm pass's input

  val shapes: Map[String, Shape] = Map(
    "movielens_enrich" -> Shape(1.0, 400, 20, 200, jdbc = true, warmScale = 0.05),
    "movielens_bulk" -> Shape(10.0, 400, 0, 0, jdbc = false, warmScale = 1.0))
  /** The warm pass's enrichment cap; its input is the same generator
    * at the shape's warm scale. */
  val WarmCap = 20
  val SetupRepeats = 3

  val Tables = Seq("movies", "genres", "movie_genres", "ratings")
  val Queries = Seq("readme_q1", "readme_q2", "readme_q3", "readme_q4",
    "readme_q5", "readme_q6", "readme_q7")

  /** Operation accounting for `attempted` / `failed`. */
  final class Ops {
    var attempted = 0L
    var failed = 0L
    val failures = mutable.ArrayBuffer.empty[String]
    def fail(what: String): Unit = { failed += 1; if (failures.size < 50) failures += what }
    def check(what: String, ok: Boolean, detail: => String = ""): Unit = {
      attempted += 1
      if (!ok) fail(s"$what $detail".trim)
    }
    def run[T](what: String)(body: => T): Option[T] = {
      attempted += 1
      try Some(body) catch { case e: Throwable =>
        fail(s"$what threw ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
        None
      }
    }
  }

  /** What one pass measured. */
  final case class Pass(
      wallS: Double,
      cpuS: Double,
      queryS: Map[String, Double],
      phaseS: Map[String, Double],
      tableS: Map[String, Double],
      successRatio: Double,
      hits: Map[String, Long],
      recordedAsMiss: Long,
      attemptedRows: Long,
      stub: Map[String, Double],
      spark: Map[String, Double],
      matchesSerialNoRetry: Boolean)

  def main(argv: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, workS, resultS, coresS) = argv
    val shape = shapes.getOrElse(workload, sys.error(s"unknown workload $workload"))
    val seed = seedS.toLong
    val work = new File(workS).getAbsoluteFile
    val cores = coresS.toInt
    val ops = new Ops
    val out = new Json.Obj

    // Inputs, made from the seed; not part of set-up.
    val tGen = System.nanoTime()
    val data = GenMovieLens.generate(new File(work, "data"), shape.scale, seed)
    val warm = GenMovieLens.generate(new File(work, "warm"), shape.warmScale, seed + 1000003L)
    val genS = (System.nanoTime() - tGen) / 1e9

    val bench = new Bench(shape, work, cores, seed, data.truth.inputBytes, ops)
    // Set-up: session start plus the warm pass, several times; the
    // reported figure is their median.
    val sessionStarts = mutable.ArrayBuffer.empty[Double]
    val warmPhases = mutable.Map.empty[String, Double]
    // (a traced run reports no setup_s, so it sets up once)
    val setups = (1 to (if (traceS == "1") 1 else SetupRepeats)).map { i =>
      val t0 = System.nanoTime()
      bench.start(cores)
      sessionStarts += (System.nanoTime() - t0) / 1e9
      bench.pass(warm, WarmCap, s"warm$i", traced = false).foreach(p =>
        warmPhases ++= p.phaseS.map { case (k, v) => s"warm$i.$k" -> v })
      (System.nanoTime() - t0) / 1e9
    }
    val setupS = median(setups)

    val passes = mutable.ArrayBuffer.empty[Pass]
    val metrics = new Json.Obj
    val detail = new Json.Obj
    if (traceS != "1") {
      val deadline = System.nanoTime() + (secondsS.toDouble * 1e9).toLong
      do passes ++= bench.pass(data, shape.cap, "timed", traced = false)
      while (System.nanoTime() < deadline && passes.nonEmpty)
      if (passes.isEmpty) ops.fail("no pass completed")
      def med(f: Pass => Double) = median(passes.map(f).toSeq)
      metrics.put("setup_s", Json.metric(setupS, "s"))
      metrics.put("wall_s", Json.metric(med(_.wallS), "s"))
      detail.put("cpu_s", med(_.cpuS))
      detail.put("query_p50_s", med(p => median(p.queryS.values.toSeq)))
      metrics.put("enrich_success_ratio", Json.metric(med(_.successRatio), "ratio"))
      detail.put("pass_wall_s", Json.arr(passes.map(_.wallS)))
      detail.put("pass_cpu_s", Json.arr(passes.map(_.cpuS)))
      detail.put("pass_jit_cpu_s", Json.arr(passes.map(_.spark("jit_cpu_s"))))
      detail.put("query_wall_s", Json.fromMap(Queries.map(q => q -> med(_.queryS.getOrElse(q, Double.NaN))).toMap))
    } else {
      val base = bench.pass(data, shape.cap, "untraced", traced = false)
      val traced = bench.pass(data, shape.cap, "traced", traced = true)
      // local[1] against local[nproc] on the same input
      bench.start(1)
      val serial = bench.pass(data, shape.cap, "serial", traced = false)
      for (b <- base; t <- traced) {
        layerMetrics(metrics, shape, data, b, t, serial, cores)
        metrics.put("trace.overhead_s", Json.metric(t.wallS - b.wallS, "s"))
        val spans = bench.spans
        detail.put("trace_spans", spans.size)
        Trace.write(new File(work, "trace.json"), spans)
        detail.put("self_s_by_layer", Json.fromMap(Trace.selfByLayer(spans)))
        detail.put("phase_table", PhaseTable.render(workload, shape, data.truth, t, b))
      }
      if (base.isEmpty || traced.isEmpty) ops.fail("traced run incomplete")
    }

    detail.put("fail_ratio", ops.failed.toDouble / ops.attempted.max(1))
    detail.put("peak_rss_mb", peakRssMb())
    detail.put("operators", Json.fromMap(bench.operatorCounters.toMap))
    detail.put("setup_runs_s", Json.arr(setups))
    detail.put("setup_session_start_s", Json.arr(sessionStarts))
    detail.put("setup_phases_s", Json.fromMap(warmPhases.toMap))
    detail.put("data_generation_s", genS)
    detail.put("passes", passes.size)
    passes.headOption.foreach { p =>
      detail.put("matches_serial_no_retry", p.matchesSerialNoRetry)
      detail.put("stub", Json.fromMap(p.stub))
    }
    detail.put("generator", Json.fromMap(Map(
      "movies" -> data.truth.movies.toDouble,
      "ratings_clean" -> data.truth.ratingsClean.toDouble,
      "ratings_raw" -> data.truth.ratingsRaw.toDouble,
      "genres" -> data.truth.genres.toDouble,
      "movie_genres" -> data.truth.movieGenres.toDouble,
      "input_bytes" -> data.truth.inputBytes.toDouble,
      "repeated_title_key_share" -> data.repeatedKeyShare(shape.cap))))
    detail.put("expected_enrichment", Json.fromMap(bench.expectedEnrichment(data, shape.cap)))

    out.put("workload", workload)
    out.put("seed", seed)
    out.put("attempted", ops.attempted)
    out.put("failed", ops.failed)
    out.put("failures", Json.arr(ops.failures.toSeq))
    out.put("metrics", metrics)
    out.put("detail", detail)
    out.put("stamp", bench.stamp(data.truth))
    Json.write(new File(resultS), out)
    // Nothing is left to flush: skip the shutdown hooks, whose clean-up
    // of the run's work directory run.py does anyway.
    Runtime.getRuntime.halt(0)
  }

  /** CPU seconds used so far by the JVM's JIT compiler threads (Linux
    * `/proc`, 100 ticks a second). The run keeps these threads alive
    * (`-XX:-UseDynamicNumberOfCompilerThreads`), so deltas are exact. */
  def jitCpuS(): Double =
    Option(new File("/proc/self/task").listFiles()).getOrElse(Array.empty[File]).iterator.map { t =>
      try {
        val comm = new String(java.nio.file.Files.readAllBytes(new File(t, "comm").toPath)).trim
        if (!comm.startsWith("C1 Compiler") && !comm.startsWith("C2 Compiler")) 0.0
        else {
          val stat = new String(java.nio.file.Files.readAllBytes(new File(t, "stat").toPath))
          val f = stat.substring(stat.lastIndexOf(')') + 2).split(' ')
          (f(11).toLong + f(12).toLong) / 100.0
        }
      } catch { case _: java.io.IOException => 0.0 }
    }.sum

  /** Peak resident memory of this process (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)
    finally src.close()
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** The per-layer metrics of a traced run. */
  private def layerMetrics(m: Json.Obj, shape: Shape, data: GenMovieLens.Dataset,
                           base: Pass, t: Pass, serial: Option[Pass], cores: Int): Unit = {
    def put(n: String, v: Double, unit: String): Unit = m.put(n, Json.metric(v, unit))
    Seq("extract", "transform", "load", "metrics", "readback").foreach(p =>
      put(s"etl.${p}_s", t.phaseS.getOrElse(p, 0.0), "s"))
    val rows = Map("movies" -> data.truth.movies, "genres" -> data.truth.genres,
      "movie_genres" -> data.truth.movieGenres, "ratings" -> data.truth.ratingsClean)
    Tables.foreach(tb => put(s"etl.load_rows_per_s.$tb",
      rows(tb) / t.tableS.getOrElse(tb, Double.NaN).max(1e-6), "1/s"))
    put("etl.scan_amplification", base.spark("input_bytes_pipeline") / data.truth.inputBytes, "ratio")
    put("etl.spark_jobs", base.spark("jobs_pipeline"), "count")
    put("etl.output_bytes_per_input_byte", base.spark("output_bytes") / data.truth.inputBytes, "ratio")
    put("etl.fusion_gap_s", t.phaseS.values.sum - base.wallS, "s")

    val calls = t.stub("calls")
    put("enrich.s", t.phaseS.getOrElse("enrich", 0.0), "s")
    put("enrich.calls", calls, "count")
    put("enrich.calls_per_row", calls / t.attemptedRows.max(1), "ratio")
    put("enrich.distinct_key_ratio", t.stub("distinct_keys") / calls.max(1), "ratio")
    put("enrich.client_busy_s", t.stub("busy_s"), "s")
    put("enrich.overlap", t.stub("busy_s") / t.phaseS.getOrElse("enrich", 0.0).max(1e-6), "ratio")
    put("enrich.max_in_flight", t.stub("max_in_flight"), "count")
    put("enrich.quota_refused", t.stub("refused"), "count")
    put("enrich.transient_errors", t.stub("transient_errors"), "count")
    put("enrich.transient_recorded_as_miss", t.recordedAsMiss.toDouble, "count")
    put("enrich.success_ratio", t.successRatio, "ratio")
    Seq("title_year", "title_only", "imdb_id").foreach(s =>
      put(s"enrich.hits.$s", t.hits.getOrElse(s, 0L).toDouble, "count"))

    put("queries.CanonicalQueries.wall_s", base.queryS.values.sum, "s")
    put("queries.CanonicalQueries.cpu_s", base.spark("readback_cpu_s"), "s")
    Queries.foreach(q => put(s"query.$q.wall_s", base.queryS.getOrElse(q, Double.NaN), "s"))

    val s = base.spark
    put("spark.stages", s("stages"), "count")
    put("spark.tasks", s("tasks"), "count")
    put("spark.executor_run_s", s("executor_run_s"), "s")
    put("spark.executor_cpu_s", s("executor_cpu_s"), "s")
    put("spark.gc_s", s("gc_s"), "s")
    put("spark.shuffle_write_mb", s("shuffle_write_mb"), "MB")
    put("spark.shuffle_read_mb", s("shuffle_read_mb"), "MB")
    put("spark.spill_mb", s("spill_mb"), "MB")
    put("spark.slot_busy_ratio", s("executor_run_s") / (base.wallS * cores), "ratio")
    put("spark.task_skew", s("task_skew"), "ratio")
    put("process.cpu_s", base.cpuS, "s")
    put("process.jit_cpu_s", s("jit_cpu_s"), "s")
    put("spark.parallel_speedup", serial.map(_.wallS / base.wallS).getOrElse(Double.NaN), "ratio")
  }
}

/** One workload's session, inputs and pass logic. */
final class Bench(shape: Main.Shape, work: File, cores: Int, seed: Long,
                  inputBytes: Long, ops: Main.Ops) {
  import Main._

  private var spark: SparkSession = _
  private var derbyDb = 0
  private val observer = new Observer
  private val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val tableWriteS = mutable.LinkedHashMap.empty[String, Double]
  private val spanBuf = mutable.ArrayBuffer.empty[Trace.Span]
  private var confs: Map[String, String] = Map.empty
  def spans: Seq[Trace.Span] = spanBuf.toSeq
  /** Operator counters the program recorded (`Telemetry.drain`), last pass wins. */
  val operatorCounters = mutable.Map.empty[String, Double]

  /** Process CPU without the JIT compiler's threads: compilation in a
    * fresh JVM varies from run to run and would drown the program's own
    * CPU; it is reported on its own as `process.jit_cpu_s`. */
  private def cpuS = osBean.getProcessCpuTime / 1e9 - Main.jitCpuS()
  private val client = new StubEnrichmentClient(seed, shape.latencyMs, shape.quota)
  private def jdbcUrl = new File(work, s"derby/ml$derbyDb").getPath
  private def outDir = new File(work, "out").getPath
  private val props = new java.util.Properties

  /** Stop any session and start one with `n` local cores, with the
    * settings the program's own suite bench uses. */
  def start(n: Int): Unit = {
    stop()
    val initialParts = math.min(1024L, math.max(n.toLong, inputBytes * 8 / (64L << 20)))
    spark = SparkSession.builder()
      .master(s"local[$n]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", n.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum", initialParts.toString)
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64m")
      .config("spark.sql.autoBroadcastJoinThreshold", "-1")
      .config("spark.sql.adaptive.autoBroadcastJoinThreshold", "8m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .config("spark.cleaner.periodicGC.interval", "2min")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.addSparkListener(observer)
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        qe.logical match {
          case c: InsertIntoHadoopFsRelationCommand =>
            tableWriteS.synchronized(tableWriteS(c.outputPath.getName) = durationNs / 1e9)
          case _ =>
        }
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    })
    if (n == cores) confs = spark.sparkContext.getConf.getAll.toMap
    derbyDb += 1
  }

  def stop(): Unit = if (spark != null) {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    spark = null
  }

  /** Named, timed sections of a pass; each runs under its own job group. */
  private final class Phases(label: String) {
    val spans = mutable.LinkedHashMap.empty[String, (Long, Long)] // name -> (start ms, end ms)
    def apply[T](name: String)(body: => T): T = {
      val s = System.currentTimeMillis()
      val r = group(s"$label:$name")(body)
      spans(name) = (s, System.currentTimeMillis())
      r
    }
  }

  private def group[T](name: String)(body: => T): T = {
    spark.sparkContext.setJobGroup(name, name, interruptOnCancel = false)
    try body finally spark.sparkContext.clearJobGroup()
  }

  private def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** One pass: the pipeline through load, then the seven README queries
    * read back from what was loaded. `traced` runs the pipeline's
    * functions one at a time, forcing each, and records spans. */
  def pass(ds: GenMovieLens.Dataset, cap: Int, label: String, traced: Boolean): Option[Pass] = {
    StubState.reset()
    StubState.tracing = traced
    spark.catalog.clearCache()
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    observer.clearRecords()
    tableWriteS.clear()
    val dir = ds.dir.getPath
    val before = observer.snapshot()
    val passT0 = System.nanoTime()
    val wall0 = System.currentTimeMillis()
    val cpu0 = cpuS
    val jit0 = Main.jitCpuS()
    val phase = new Phases(label)

    val piped = ops.run(s"$label pipeline") {
      if (!traced) phase("pipeline") {
        val res = MoviePipeline.run(spark, dir, client, cap,
          outDir = if (shape.jdbc) None else Some(outDir))
        if (shape.jdbc) load(res)
        res
      } else tracedPipeline(dir, cap, phase)
    }
    val inputAfterPipeline = { org.apache.spark.PerfbenchBus.drain(spark.sparkContext); observer.snapshot() }
    val cpuPipe = cpuS
    val queryS = mutable.LinkedHashMap.empty[String, Double]
    val answers = mutable.LinkedHashMap.empty[String, Array[Row]]
    piped.foreach { _ =>
      phase("readback") {
        val (m, g, mg, r) = readBack()
        val qs: Seq[(String, () => DataFrame)] = Seq(
          "readme_q1" -> (() => CanonicalQueries.q1TopRated(m)),
          "readme_q2" -> (() => CanonicalQueries.q2MoviesByGenre(m, mg, g)),
          "readme_q3" -> (() => CanonicalQueries.q3MostRated(m, r)),
          "readme_q4" -> (() => CanonicalQueries.q4ByDirector(m)),
          "readme_q5" -> (() => CanonicalQueries.q5ByUser(r)),
          "readme_q6" -> (() => CanonicalQueries.q6NullAudit(m)),
          "readme_q7" -> (() => CanonicalQueries.q7RatingHistogram(r)))
        qs.foreach { case (name, q) =>
          val qs0 = System.currentTimeMillis()
          ops.run(s"$label $name")(group(s"$label:$name") {
            val (rows, dt) = timed(q().collect())
            answers(name) = rows
            queryS(name) = dt
          })
          if (traced) spanBuf += Trace.Span(s"$label:$name", s"$label:readback", "graft.queries",
            qs0, System.currentTimeMillis())
        }
      }
    }
    val wallS = (System.nanoTime() - passT0) / 1e9
    val cpuUsed = cpuS - cpu0
    val readbackCpu = cpuS - cpuPipe
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    val after = observer.snapshot()
    val d = after - before
    val pipeD = inputAfterPipeline - before
    val sparkM = Map(
      "jobs" -> d.jobs.toDouble, "stages" -> d.stages.toDouble, "tasks" -> d.tasks.toDouble,
      "executor_run_s" -> d.runNanos / 1e9, "executor_cpu_s" -> d.cpuNanos / 1e9,
      "gc_s" -> d.gcMs / 1e3, "shuffle_write_mb" -> d.shuffleWrite / 1048576.0,
      "shuffle_read_mb" -> d.shuffleRead / 1048576.0, "spill_mb" -> d.spill / 1048576.0,
      "jobs_pipeline" -> pipeD.jobs.toDouble,
      "input_bytes_pipeline" -> pipeD.inputBytes.toDouble,
      "output_bytes" -> pipeD.outputBytes.toDouble,
      "task_skew" -> observer.taskSkew(), "readback_cpu_s" -> readbackCpu,
      "jit_cpu_s" -> (Main.jitCpuS() - jit0))

    if (traced) {
      val passId = s"$label:pass"
      spanBuf += Trace.Span(passId, "", "benchmark", wall0, System.currentTimeMillis())
      phase.spans.foreach { case (n, (s, e)) =>
        spanBuf += Trace.Span(s"$label:$n", passId,
          if (n == "enrich") "graft.enrich" else if (n == "readback") "graft.queries" else "graft.etl", s, e)
      }
      spanBuf ++= Trace.sparkSpans(observer, StubState.callSpans)
    }
    StubState.tracing = false
    graft.Telemetry.drain().foreach { case (k, v) => operatorCounters(k) = v.toDouble }

    piped.map { res =>
      try {
        val chk = checkOutputs(ds, cap, res, answers.toMap, label)
        val stub = Map(
          "calls" -> StubState.calls.get.toDouble,
          "distinct_keys" -> StubState.seenKeys.size.toDouble,
          "busy_s" -> StubState.busyNanos.get / 1e9,
          "max_in_flight" -> StubState.maxInFlight.get.toDouble,
          "refused" -> StubState.refused.get.toDouble,
          "transient_errors" -> StubState.transientErrors.get.toDouble)
        val mt = res.metrics
        Pass(wallS, cpuUsed, queryS.toMap,
          phase.spans.map { case (n, (s, e)) => n -> (e - s) / 1e3 }.toMap,
          tableWriteS.toMap,
          mt.nEnrichSucceeded.toDouble / mt.nEnrichAttempted.max(1),
          mt.strategyHits, chk._1, mt.nEnrichAttempted, stub, sparkM, chk._2)
      } finally res.release()
    }
  }

  /** JDBC load into embedded Derby, each table timed; then the misses log. */
  private def load(res: MoviePipeline.Result): Unit = {
    val url = s"jdbc:derby:$jdbcUrl;create=true"
    Seq("movies" -> res.movies, "genres" -> res.genres,
      "movie_genres" -> res.movieGenres, "ratings" -> res.ratings).foreach { case (t, df) =>
      val (_, dt) = timed(Load.writeJdbc(df, url, t, props))
      tableWriteS(t) = dt
    }
    Load.writeMissesLog(outDir, res.misses)
  }

  private def readBack(): (DataFrame, DataFrame, DataFrame, DataFrame) =
    if (shape.jdbc) {
      val url = s"jdbc:derby:$jdbcUrl"
      // Derby cannot compare its CLOB strings, so filters stay in Spark
      val Seq(m, g, mg, r) = Tables.map(t =>
        spark.read.option("pushDownPredicate", "false").jdbc(url, t, props))
      (m, g, mg, r)
    } else {
      val Seq(m, g, mg, r) = Tables.map(t => spark.read.parquet(s"$outDir/$t"))
      (m, g, mg, r)
    }

  /** `MoviePipeline.run`'s composition, one function at a time, each
    * forced and cached so the next phase starts from its output. */
  private def tracedPipeline(dir: String, cap: Int, p: Phases): MoviePipeline.Result = {
    def force(df: DataFrame): DataFrame = { val c = df.persist(); c.count(); c }
    val (moviesRaw, ratingsRaw, links) = p("extract") {
      (force(Extract.movies(spark, s"$dir/movies.csv")),
        force(Extract.ratings(spark, s"$dir/ratings.csv")),
        force(Extract.links(spark, s"$dir/links.csv")))
    }
    val (transformed, genres, movieGenres, ratingsClean) = p("transform") {
      val t = force(Transform.transformMovies(moviesRaw))
      val g = force(Transform.genreDim(t))
      (t, g, force(Transform.movieGenres(t, g)), force(Transform.cleanRatings(ratingsRaw)))
    }
    val enriched = p("enrich")(force(Enrich.enrich(spark, transformed, links, client, cap)))
    val (validMovies, _) = Load.validateMovies(Transform.curatedMovies(enriched))
    val misses = Enrich.missesLog(enriched)
    p("load") {
      if (shape.jdbc) load(MoviePipeline.Result(validMovies, genres, movieGenres, ratingsClean,
        misses, null))
      else {
        Load.writeCurated(outDir, validMovies, genres, movieGenres, ratingsClean)
        Load.writeMissesLog(outDir, misses)
      }
    }
    val metrics = p("metrics") {
      val attempted = enriched.filter(col("strategy").isNotNull || col("error_reason").isNotNull)
      val hits = attempted.filter(col("strategy").isNotNull).groupBy(col("strategy")).count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val raw = ratingsRaw.count()
      val clean = ratingsClean.count()
      MoviePipeline.RunMetrics(validMovies.count(), genres.count(), movieGenres.count(),
        raw, clean, raw - clean, attempted.count(), hits.values.sum, hits)
    }
    MoviePipeline.Result(validMovies, genres, movieGenres, ratingsClean, misses, metrics,
      release = () => spark.catalog.clearCache())
  }

  /** Expected enrichment figures from the generator and the stub rules. */
  def expectedEnrichment(ds: GenMovieLens.Dataset, cap: Int): Map[String, Double] = {
    val a = ds.attempted(cap)
    val o = EnrichTruth.outcomes(a, seed)
    Map(
      "attempted" -> a.size.toDouble,
      "success_ratio_with_retry" -> o.count(_.ideal.isDefined).toDouble / a.size,
      "success_ratio_serial_no_retry" -> EnrichTruth.serialNoRetrySuccesses(a, seed).toDouble / a.size,
      "rows_touching_transient_keys" -> o.count(_.touchesTransient).toDouble) ++
      Seq("title_year", "title_only", "imdb_id").map(s =>
        s"ideal.$s" -> o.count(_.ideal.contains(s)).toDouble)
  }

  /** Compares a pass's outputs with the generator's truth; returns the
    * number of rows whose transient error was recorded as a miss and
    * whether the success count equals the serial no-retry expectation. */
  private def checkOutputs(ds: GenMovieLens.Dataset, cap: Int, res: MoviePipeline.Result,
                           answers: Map[String, Array[Row]], label: String): (Long, Boolean) = {
    val t = ds.truth
    val m = res.metrics
    def eq(what: String, got: Long, want: Long): Unit =
      ops.check(s"$label $what", got == want, s"got $got want $want")
    eq("movies", m.nMovies, t.movies)
    eq("genres", m.nGenres, t.genres)
    eq("movie_genres", m.nMovieGenres, t.movieGenres)
    eq("ratings_raw", m.nRatingsRaw, t.ratingsRaw)
    eq("ratings_clean", m.nRatingsClean, t.ratingsClean)
    val attempted = ds.attempted(cap)
    eq("enrich_attempted", m.nEnrichAttempted, attempted.size)

    // per-row enrichment outcomes
    val ids = attempted.map(_.id)
    val hitRows = res.movies.filter(col("movie_id").isin(ids: _*) && col("imdb_id").isNotNull)
      .select("movie_id", "imdb_id").collect().map(r => r.getInt(0) -> r.getString(1)).toMap
    val missRows = res.misses.select("movie_id", "error_reason").collect()
      .map(r => r.getInt(0) -> r.getString(1)).toMap
    val outcomes = EnrichTruth.outcomes(attempted, seed)
    val byId = attempted.map(mv => mv.id -> mv).toMap
    var recordedAsMiss = 0L
    val bad = outcomes.filterNot { o =>
      val mv = byId(o.movieId)
      val transientReason = (r: String) => r.startsWith("error") || r.startsWith("transient")
      (hitRows.get(o.movieId), missRows.get(o.movieId)) match {
        case (Some(imdb), None) =>
          o.ideal.exists { s =>
            val key = s match {
              case "title_year" => StubRules.keyTitleYear(mv.cleanTitle, mv.year.get)
              case "title_only" => StubRules.keyTitle(mv.cleanTitle)
              case _ => StubRules.keyImdb(mv.imdbLookup.get)
            }
            StubRules.record(key, seed).imdbId.contains(imdb)
          }
        case (None, Some(reason)) =>
          if (o.ideal.isDefined && o.touchesTransient && transientReason(reason)) { recordedAsMiss += 1; true }
          else o.ideal.isEmpty && (reason == "not_found" || (o.touchesTransient && transientReason(reason)))
        case _ => false
      }
    }
    ops.check(s"$label enrichment outcomes", bad.isEmpty,
      s"${bad.size} rows differ, e.g. ${bad.take(3).mkString(", ")}")
    eq("enrich_hits", m.nEnrichSucceeded, hitRows.size)
    val serialOk = m.nEnrichSucceeded == EnrichTruth.serialNoRetrySuccesses(attempted, seed)

    // read-back queries against the truth
    def rows(q: String) = answers.getOrElse(q, Array.empty[Row])
    def num(x: Any): Double = x match {
      case d: java.math.BigDecimal => d.doubleValue
      case n: java.lang.Number => n.doubleValue
    }
    if (answers.size == Queries.size) {
      val hits = hitRows.size.toLong
      val q6 = rows("readme_q6").head
      eq("q6 total_movies", q6.getLong(0), t.movies)
      eq("q6 null_imdb_id", q6.getLong(1), t.movies - hits)
      eq("q6 null_year", q6.getLong(4), t.nullYear)
      val hist = rows("readme_q7").map(r => math.round(num(r.get(0)) * 2).toInt -> r.getLong(1)).toMap
      ops.check(s"$label q7 histogram", hist == t.ratingsByValue, s"got $hist")
      val top = t.ratingsPerMovie.toSeq.sortBy { case (id, n) => (-n, id) }.take(10).map(_._2)
      ops.check(s"$label q3 counts", rows("readme_q3").map(_.getLong(2)).toSeq == top,
        s"got ${rows("readme_q3").map(_.getLong(2)).mkString(",")} want ${top.mkString(",")}")
      eq("q5 rows", rows("readme_q5").length, math.min(10, t.ratingsPerUser.count(_._2 > 100)))
      val action = ds.movies.count(_.genres.contains("Action"))
      eq("q2 rows", rows("readme_q2").length, math.min(20, action))
      ops.check(s"$label q4 having", rows("readme_q4").forall(_.getLong(1) >= 3))
      ops.check(s"$label q1 rows", rows("readme_q1").length <= 10 &&
        rows("readme_q1").length == math.min(10L, t.movies - q6.getLong(3)).toInt)
    }
    (recordedAsMiss, serialOk)
  }

  /** Host and configuration facts stamped on every result. */
  def stamp(truth: GenMovieLens.Truth): Json.Obj = {
    val o = new Json.Obj
    o.put("cores", cores)
    o.put("max_heap_mb", Runtime.getRuntime.maxMemory / 1048576)
    o.put("jdk", System.getProperty("java.version"))
    o.put("spark", org.apache.spark.SPARK_VERSION)
    o.put("scala", scala.util.Properties.versionNumberString)
    o.put("seed", seed)
    o.put("input_bytes", truth.inputBytes)
    o.put("input_rows", Json.fromMap(Map("movies" -> truth.movies.toDouble,
      "ratings" -> truth.ratingsRaw.toDouble)))
    o.put("shape", shape.toString)
    o.put("jvm_args", Json.arr(java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.filterNot(_.startsWith("--add-opens")).toSeq))
    o.put("spark_conf", Json.fromMap(confs))
    o
  }
}
