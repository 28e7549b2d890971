package flowbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.time.Instant
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.BenchAccess
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, StreamingQueryProgress}

import graft.{GraftSession, SparkEntry}
import graft.app.FlowApp
import graft.pipeline.{FlowPipeline, FlowSchema}
import graft.queries.FlowQueries
import graft.sinks.FlowSink
import graft.sources.FileFlowSource

/** One benchmark run of one workload, driven only through the program's
  * public entry points: the calls `FlowApp.main` makes (`FileFlowSource`,
  * `FlowPipeline.decodeNamed` + `project`, `FlowApp.chooseSink(...).start`,
  * `DecodeMetricsListener`) and `SparkEntry.queries` / `FlowQueries`.
  *
  *   --workload ingest_parquet|upsert_jdbc|query_mix
  *   --work     directory holding `in/` (generated by gen.py); outputs go
  *              to `out/`, the raw result to `result.json`, spans to
  *              `spans.json`
  *   --seconds  sets the number of timed rounds (one drain, or one
  *              pass), ceil(seconds / 5), so the work a run does never
  *              depends on how fast the host is
  *   --trace    0: timed run, no listeners of the benchmark's own;
  *              1: traced run, spans + listener counters + layer drains
  *
  * Correctness is judged afterwards by run.py, against DuckDB; this side
  * only records what the program produced.
  */
object FlowBench {

  def main(args: Array[String]): Unit = {
    val o = args.sliding(2, 2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = o("work")
    val trace = o.getOrElse("trace", "0") == "1"
    val seconds = o("seconds").toDouble
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val tracer = new Tracer(trace)
    val spark = tracer.span("setup.session") { GraftSession.local(defaultCpus = 4) }
    spark.sparkContext.setLogLevel("ERROR")
    val ctx = Ctx(spark, work, seconds, tracer, if (trace) Some(Counters.register(spark)) else None)
    val sessionMs = System.currentTimeMillis() - jvmStart
    val result = mutable.LinkedHashMap[String, Any]("session_ms" -> sessionMs)
    o("workload") match {
      case "ingest_parquet" => Streams.run(ctx, Streams.Ingest, result)
      case "upsert_jdbc"    => Streams.run(ctx, Streams.Upsert, result)
      case "query_mix"      => QueryMix.run(ctx, result)
      case w                => sys.error(s"unknown workload $w")
    }
    result("peak_rss_mb") = peakRssMb()
    result("cores") = spark.sparkContext.defaultParallelism
    if (trace) tracer.write(s"$work/spans.json")
    Files.writeString(Paths.get(s"$work/result.json"), Json(result) + "\n")
    spark.stop()
  }

  /** Seconds of `--seconds` per timed round. */
  val RoundSeconds = 5.0

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)

  /** CPU time of the whole process (all threads: tasks, Derby, GC, JIT). */
  def processCpuNs(): Long =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime
}

final case class Ctx(spark: SparkSession, work: String, seconds: Double,
                     tracer: Tracer, counters: Option[Counters]) {
  def in(p: String): String = s"$work/in/$p"
  def out(p: String): String = s"$work/out/$p"
  /** Record count of input `p`, as gen.py wrote it beside the files. */
  def lines(p: String): Long = Files.readString(Paths.get(s"$work/in/$p.lines")).trim.toLong
  def traced: Boolean = counters.isDefined
  /** Timed rounds per run: fixed by `--seconds` alone. */
  def rounds: Int = math.max(1, math.ceil(seconds / FlowBench.RoundSeconds).toInt)
}

final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long)

/** Spans kept in memory and written out once, when the run ends. */
final class Tracer(enabled: Boolean) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var next = 0

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = next
      next += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        stack = stack.tail
        spans += Span(id, parent, name, t0, System.nanoTime())
      }
    }

  def write(path: String): Unit =
    Files.writeString(Paths.get(path), Json(spans.sortBy(_.id).map { s =>
      Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "start_ns" -> s.startNs, "end_ns" -> s.endNs)
    }) + "\n")
}

/** Spark's own counters, from a listener registered by the benchmark. */
final class Counters(sc: org.apache.spark.SparkContext) extends SparkListener {
  private val jobs, tasks, shuffleWrite, gcMs, cpuNs = new AtomicLong
  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      gcMs.addAndGet(m.jvmGCTime)
      cpuNs.addAndGet(m.executorCpuTime)
    }
  }
  /** Counter values once every event posted so far has been delivered. */
  def snapshot(): Map[String, Double] = {
    BenchAccess.awaitListeners(sc)
    Map("spark.jobs" -> jobs.get.toDouble, "spark.tasks" -> tasks.get.toDouble,
      "spark.shuffle_write_bytes" -> shuffleWrite.get.toDouble,
      "spark.gc_ms" -> gcMs.get.toDouble, "spark.executor_cpu_ms" -> cpuNs.get / 1e6)
  }
}

object Counters {
  def register(spark: SparkSession): Counters = {
    val c = new Counters(spark.sparkContext)
    spark.sparkContext.addSparkListener(c)
    c
  }
  def diff(a: Map[String, Double], b: Map[String, Double]): Map[String, Double] =
    b.map { case (k, v) => k -> (v - a(k)) }
  /** Counts from `c0` to `c1`, less the `excluded` spans of work, per round. */
  def perRound(c0: Map[String, Double], c1: Map[String, Double],
               excluded: Seq[Map[String, Double]], rounds: Int): Map[String, Double] =
    diff(c0, c1).map { case (k, v) => k -> (v - excluded.map(_(k)).sum) / rounds }
}

/** Progress of every streaming query, from a listener registered by the
  * benchmark (traced runs only; timed runs read `recentProgress`).
  */
final class ProgressLog extends StreamingQueryListener {
  private val byQuery = new java.util.concurrent.ConcurrentHashMap[java.util.UUID, java.util.Vector[StreamingQueryProgress]]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    byQuery.computeIfAbsent(e.progress.id, _ => new java.util.Vector()).add(e.progress)
  def of(id: java.util.UUID): Seq[StreamingQueryProgress] =
    Option(byQuery.get(id)).map(_.asScala.toSeq).getOrElse(Nil)
}

/** One drain of a fixed backlog: from `start` to the commit of its last
  * non-empty micro-batch.
  */
final case class Drain(wallMs: Double, progress: Seq[StreamingQueryProgress]) {
  val active: Seq[StreamingQueryProgress] = progress.filter(_.numInputRows > 0).sortBy(_.batchId)
  def rowsIn: Long = active.map(_.numInputRows).sum
  def dur(key: String): Long =
    active.map(p => Option(p.durationMs.get(key)).map(_.longValue).getOrElse(0L)).sum
  def batchMs: Seq[Long] = active.map(_.durationMs.get("triggerExecution").longValue)
  def decoded(field: String): Long = active.map { p =>
    Option(p.observedMetrics.get(FlowPipeline.decodeMetricsName)).map(_.getAs[Long](field)).getOrElse(0L)
  }.sum
}

object Drain {
  /** Start a streaming query, wait until it has processed all `lines`
    * input records, stop it. The clock runs from just before `start` to
    * the commit of the last batch (progress timestamp + triggerExecution).
    */
  def apply(log: Option[ProgressLog], lines: Long)(start: => StreamingQuery): Drain = {
    val t0 = System.currentTimeMillis()
    val q = start
    // Stop as soon as the backlog (`lines` records) is committed, rather than
    // waiting for a trigger to find the source empty: that wait would only
    // measure the trigger interval.
    try {
      while (q.isActive && q.recentProgress.map(_.numInputRows).sum < lines) Thread.sleep(10)
    } finally q.stop()
    q.exception.foreach(e => throw e)
    val ps = log.map { l =>
      // the listener bus may still hold the last events
      BenchAccess.awaitListeners(q.sparkSession.sparkContext)
      l.of(q.id)
    }.getOrElse(q.recentProgress.toSeq)
    val active = ps.filter(_.numInputRows > 0)
    require(active.nonEmpty, "drain processed no input")
    require(ps.size < q.sparkSession.conf.get("spark.sql.streaming.numRecentProgressUpdates", "100").toInt,
      "more batches than recentProgress keeps")
    val last = active.maxBy(_.batchId)
    val end = Instant.parse(last.timestamp).toEpochMilli +
      last.durationMs.get("triggerExecution").longValue
    Drain((end - t0).toDouble, ps)
  }
}

/** The two streaming workloads: a backlog drained through the shipped path
  * (`FileFlowSource` → `decodeNamed` → `project` → `chooseSink(...).start`).
  */
object Streams {
  sealed trait Kind {
    def sink(ctx: Ctx, tag: String): FlowSink
    /** After a drain: keep what the sink wrote, for run.py to check. */
    def keep(ctx: Ctx, tag: String): Map[String, Any]
  }

  object Ingest extends Kind {
    def sink(ctx: Ctx, tag: String): FlowSink = FlowApp.chooseSink("", ctx.out(tag))
    def keep(ctx: Ctx, tag: String): Map[String, Any] = {
      val files = Option(new File(ctx.out(tag)).listFiles()).getOrElse(Array.empty[File])
        .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      Map("path" -> ctx.out(tag), "files" -> files.length, "bytes" -> files.map(_.length).sum)
    }
  }

  object Upsert extends Kind {
    val url = "jdbc:derby:memory:flowbench;create=true"
    val keys = Seq("start", "src_ip")
    def sink(ctx: Ctx, tag: String): FlowSink =
      FlowApp.chooseSink(url, "", recreate = true, upsertKeys = keys)
    def keep(ctx: Ctx, tag: String): Map[String, Any] = {
      val t = ctx.spark.read.format("jdbc").option("url", url).option("dbtable", "flows").load()
      t.coalesce(1).write.mode("overwrite").parquet(ctx.out(tag))
      Map("path" -> ctx.out(tag), "table_rows" -> ctx.spark.read.parquet(ctx.out(tag)).count())
    }
  }

  private def shipped(ctx: Ctx, kind: Kind, input: String, tag: String, log: Option[ProgressLog]): Drain =
    Drain(log, ctx.lines(input)) {
      val frame = FlowPipeline.project(FlowPipeline.decodeNamed(
        FileFlowSource(ctx.in(input)).stream(ctx.spark)))
      kind.sink(ctx, tag).start(frame, ctx.out(s"ckpt-$tag"))
    }

  def run(ctx: Ctx, kind: Kind, result: mutable.Map[String, Any]): Unit = {
    val spark = ctx.spark
    spark.streams.addListener(new FlowApp.DecodeMetricsListener)
    val log = if (ctx.traced) {
      val l = new ProgressLog
      spark.streams.addListener(l)
      Some(l)
    } else None
    val w0 = System.nanoTime()
    ctx.tracer.span("setup.warmup") { shipped(ctx, kind, "warm", "warm", None) }
    result("warmup_ms") = (System.nanoTime() - w0) / 1e6

    // Timed: a fixed number of whole drains of the same backlog.
    val c0 = ctx.counters.map(_.snapshot())
    val cpu0 = FlowBench.processCpuNs()
    val rounds = mutable.ArrayBuffer.empty[(Drain, Map[String, Any])]
    val keepSpark = mutable.ArrayBuffer.empty[Map[String, Double]]
    var keepCpuNs = 0L
    for (i <- 0 until ctx.rounds) {
      val tag = s"round-$i"
      val d = ctx.tracer.span("drain.shipped") { shipped(ctx, kind, "flows", tag, log) }
      // keeping the output is outside the clock, the CPU count and the counters
      val cpuPause = FlowBench.processCpuNs()
      val k0 = ctx.counters.map(_.snapshot())
      rounds += d -> kind.keep(ctx, tag)
      k0.foreach(k => keepSpark += Counters.diff(k, ctx.counters.get.snapshot()))
      keepCpuNs += FlowBench.processCpuNs() - cpuPause
    }
    val cpuNs = FlowBench.processCpuNs() - cpu0 - keepCpuNs
    val c1 = ctx.counters.map(_.snapshot())
    result("cpu_s") = cpuNs / 1e9
    result("rounds") = rounds.map { case (d, kept) =>
      Map("wall_ms" -> d.wallMs, "rows_in" -> d.rowsIn, "malformed" -> d.decoded("malformed"),
        "decoded_total" -> d.decoded("total"), "batches" -> d.active.size,
        "batch_ms" -> d.batchMs) ++ kept
    }
    if (ctx.traced) result("trace") = layers(ctx, kind, rounds.head._1, log,
      Counters.perRound(c0.get, c1.get, keepSpark.toSeq, rounds.size))
  }

  /** The traced run's layer breakdown. The timed drain above gives the app
    * loop; three isolated drains of the same input give the layers:
    * source only (into `noop`), source + pipeline (into `noop`), and the
    * sink alone, fed pre-projected rows through its own `start`.
    */
  private def layers(ctx: Ctx, kind: Kind, full: Drain, log: Option[ProgressLog],
                     spark0: Map[String, Double]): Map[String, Double] = {
    val spark = ctx.spark
    val input = ctx.in("flows")
    val lines = ctx.lines("flows")
    def noop(df: DataFrame, tag: String) =
      df.writeStream.format("noop").option("checkpointLocation", ctx.out(s"ckpt-$tag")).start()
    val src = ctx.tracer.span("drain.source_only") {
      Drain(log, lines)(noop(FileFlowSource(input).stream(spark), "source"))
    }
    val pipe = ctx.tracer.span("drain.source_pipeline") {
      Drain(log, lines)(noop(FlowPipeline.project(FlowPipeline.decodeNamed(
        FileFlowSource(input).stream(spark))), "pipeline"))
    }
    // pre-projected rows, one file per input file, so the sink sees the
    // same micro-batches as in the shipped drain
    val nFiles = new File(input).listFiles().count(_.getName.endsWith(".json"))
    val projected = ctx.out("projected")
    FlowPipeline.project(FlowPipeline.decode(spark.read.text(input)))
      .repartition(nFiles).write.mode("overwrite").parquet(projected)
    val projectedRows = spark.read.parquet(projected).count()
    val sinkOnly = ctx.tracer.span("drain.sink_only") {
      Drain(log, projectedRows) {
        kind.sink(ctx, "sink-only").start(
          spark.readStream.schema(FlowSchema.output).option("maxFilesPerTrigger", "16").parquet(projected),
          ctx.out("ckpt-sink-only"))
      }
    }
    def perK(ms: Double, rows: Long) = ms / (rows / 1000.0)
    val rowsIn = full.rowsIn
    val malformed = full.decoded("malformed")
    val rowsOut = kind match {
      case Ingest => spark.read.parquet(ctx.out("round-0")).count()
      case Upsert => full.decoded("total") - malformed
    }
    val batch = full.batchMs.sorted
    def pct(p: Double) = batch(math.min(batch.size - 1, (p * batch.size).toInt)).toDouble
    val sinkMs = perK(sinkOnly.dur("addBatch").toDouble, sinkOnly.rowsIn)
    val shipped = full.rowsIn / (full.wallMs / 1000.0)
    Map(
      "trace.throughput_per_s" -> shipped,
      "sources.scan_ms_per_krow" -> perK(src.dur("addBatch").toDouble, src.rowsIn),
      "sources.list_ms" -> full.dur("latestOffset").toDouble,
      "sources.files" -> nFiles.toDouble,
      "pipeline.decode_ms_per_krow" ->
        perK((pipe.dur("addBatch") - src.dur("addBatch")).toDouble, pipe.rowsIn),
      "pipeline.rows_in" -> rowsIn.toDouble,
      "pipeline.rows_malformed" -> malformed.toDouble,
      "pipeline.rows_out" -> rowsOut.toDouble,
      "pipeline.rows_out_per_in" -> rowsOut.toDouble / rowsIn,
      "app.batches" -> full.active.size.toDouble,
      "app.batch_ms_p50" -> pct(0.5),
      "app.batch_ms_p90" -> pct(0.9),
      "app.planning_ms" -> full.dur("queryPlanning").toDouble,
      "app.commit_ms" -> (full.dur("walCommit") + full.dur("commitOffsets")).toDouble,
      "app.trigger_wait_ms" -> (full.wallMs - full.dur("triggerExecution")),
    ) ++ (kind match {
      case Ingest =>
        val k = Ingest.keep(ctx, "round-0")
        Map("sinks.parquet_ms_per_krow" -> sinkMs,
          "sinks.parquet_bytes_per_row" -> k("bytes").asInstanceOf[Long].toDouble / rowsOut,
          "sinks.parquet_files" -> k("files").asInstanceOf[Int].toDouble)
      case Upsert =>
        Map("sinks.upsert_ms_per_krow" -> sinkMs,
          "sinks.upsert_table_rows" -> Upsert.keep(ctx, "sink-only")("table_rows").asInstanceOf[Long].toDouble)
    }) ++ spark0
  }
}

/** Declared queries plus the flows-table surface, as a fixed number of passes. */
object QueryMix {
  /** One row per query family (two for core), chosen from the rows the
    * ROADMAP names, the paper's own rows and each family's cheapest row,
    * within the run-time budget. README ("Query list") has the measured
    * cold and warm cost of every row considered.
    */
  val names: Seq[String] = Seq(
    "q03_intdiv_ts", "q40_sql_surface", "pipeline_dump",
    "graph_degree", "sim_dim_profile", "search_mmr", "dedup_simhash",
    "mix_sample", "chunk_docs", "mm_dedup", "curate_classifier",
    "text_ttr", "link_parts", "pack_seqs")
  val flowOps: Seq[String] = Seq("flow_setup_table", "flow_probe", "flow_verification")

  def family(op: String): String =
    if (op.startsWith("flow_")) "flow"
    else if (op.matches("q\\d+_.*")) "core"
    else op.takeWhile(_ != '_')

  def run(ctx: Ctx, result: mutable.Map[String, Any]): Unit = {
    val spark = ctx.spark
    val dir = ctx.in("tables")
    val flows = FlowPipeline.project(FlowPipeline.decodeNamed(spark.read.text(ctx.in("flows"))))
    def op(name: String): (DataFrame, Array[Row]) = name match {
      case "flow_setup_table" =>
        FlowQueries.setupTableDurable(spark, flows)
        val t = spark.table("flows")
        (t, Array.empty)
      case "flow_probe" =>
        val df = FlowQueries.probe(spark)
        (df, df.collect())
      case "flow_verification" =>
        val df = FlowQueries.verification(spark)
        (df, df.collect())
      case q =>
        val df = SparkEntry.queries(q)(spark, dir)
        (df, df.collect())
    }
    val ops = names ++ flowOps
    val failures = mutable.Map.empty[String, String]
    val digests = mutable.Map.empty[String, mutable.Set[Int]]
    val last = mutable.Map.empty[String, (DataFrame, Array[Row])]
    val msByOp = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    val jobsByOp = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    def pass(timed: Boolean): Double = {
      var spent = 0.0
      ops.foreach { name =>
        val j0 = ctx.counters.map(_.snapshot()("spark.jobs"))
        val t0 = System.nanoTime()
        val r =
          try Some(ctx.tracer.span(s"query.$name") { op(name) })
          catch {
            case e: Throwable =>
              failures(name) = String.valueOf(e.getMessage).take(300)
              None
          }
        val ms = (System.nanoTime() - t0) / 1e6
        spent += ms
        if (timed) r.foreach { res =>
          last(name) = res
          digests.getOrElseUpdate(name, mutable.Set.empty) += res._2.toSeq.map(_.toString).hashCode
          msByOp(name) += ms
          ctx.counters.foreach(c => jobsByOp(name) += c.snapshot()("spark.jobs") - j0.get)
        }
      }
      spent
    }
    val w0 = System.nanoTime()
    ctx.tracer.span("setup.warmup") { pass(timed = false) }
    result("warmup_ms") = (System.nanoTime() - w0) / 1e6
    failures.clear()

    val c0 = ctx.counters.map(_.snapshot())
    val cpu0 = FlowBench.processCpuNs()
    val passes = ctx.rounds
    var spentMs = 0.0
    for (_ <- 0 until passes) spentMs += ctx.tracer.span("pass") { pass(timed = true) }
    val cpuNs = FlowBench.processCpuNs() - cpu0
    val c1 = ctx.counters.map(_.snapshot())

    // results of the last pass, for run.py to compare with DuckDB
    last.foreach { case (name, (df, rows)) =>
      val out = ctx.out(s"q/$name")
      if (name == "flow_setup_table") df.coalesce(1).write.mode("overwrite").parquet(out)
      else spark.createDataFrame(rows.toSeq.asJava, df.schema).coalesce(1)
        .write.mode("overwrite").parquet(out)
    }
    Files.writeString(Paths.get(ctx.out("oracle_sql.json")),
      Json(SparkEntry.oracleSqlFor(dir).filter { case (k, _) => names.contains(k) }) + "\n")
    result("cpu_s") = cpuNs / 1e9
    result("passes") = passes
    result("spent_ms") = spentMs
    result("ops") = ops
    result("failures") = failures.toMap
    result("unstable") = digests.collect { case (k, s) if s.size > 1 => k }.toSeq.sorted
    result("tables") = spark.catalog.listTables().collect().map(_.name).toSeq
    if (ctx.traced) {
      val perFamily = ops.groupBy(family).map { case (f, os) =>
        Map(s"queries.$f.ms" -> os.map(msByOp).sum / passes,
          s"queries.$f.jobs" -> os.map(jobsByOp).sum / passes)
      }.reduce(_ ++ _)
      // the flows table's decode, measured alone over the same records
      val raw = spark.read.text(ctx.in("flows"))
      val rowsIn = raw.count()
      val t0 = System.nanoTime()
      flows.write.format("noop").mode("overwrite").save()
      val decodeMs = (System.nanoTime() - t0) / 1e6
      val t1 = System.nanoTime()
      raw.write.format("noop").mode("overwrite").save()
      val scanMs = (System.nanoTime() - t1) / 1e6
      val rowsOut = flows.count()
      result("trace") = perFamily ++ Counters.perRound(c0.get, c1.get, Nil, passes) ++ Map(
        "trace.throughput_per_s" -> passes * ops.size / (spentMs / 1000.0),
        "pipeline.decode_ms_per_krow" -> (decodeMs - scanMs) / (rowsIn / 1000.0),
        "pipeline.rows_in" -> rowsIn.toDouble,
        // the decode drops malformed lines and only those
        "pipeline.rows_malformed" -> (rowsIn - rowsOut).toDouble,
        "pipeline.rows_out" -> rowsOut.toDouble,
        "pipeline.rows_out_per_in" -> rowsOut.toDouble / rowsIn)
    }
  }
}

object Json {
  def apply(v: Any): String = v match {
    case null                    => "null"
    case s: String               => quote(s)
    case b: Boolean              => b.toString
    case d: Double               => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int                  => n.toString
    case n: Long                 => n.toString
    case m: collection.Map[_, _] => m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_]         => xs.map(apply).mkString("[", ",", "]")
    case other                   => quote(other.toString)
  }
  def quote(s: String): String = "\"" + s.flatMap {
    case '"'          => "\\\""
    case '\\'         => "\\\\"
    case '\n'         => "\\n"
    case '\r'         => "\\r"
    case '\t'         => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c            => c.toString
  } + "\""
}
