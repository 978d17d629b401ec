package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.{Configurator, Property}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.perfbench.Internals
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.RDDBlockId

/** JVM side of the benchmark.
  *
  * A fresh JVM, one `local[N]` session, one client issuing a workload's
  * registry queries in a closed loop (run.py starts several such JVMs
  * one after another per run, and pools their samples). Each query is timed as
  * `graft.SparkEntry.queries(name)(spark, sfDir)` (build) plus a full
  * materialization through the `noop` sink (exec). Pass 0 is the cold
  * pass; `--warm-passes` warm passes follow (run.py sizes their number
  * to fill the run's `--seconds`; a fixed count per run keeps the warm
  * median from depending on how many passes happened to fit).
  * In `--mode run`, after the timed passes every query's result is
  * written once as parquet for the output check, next to the oracle SQL
  * it is checked against; `--mode passes` only times the passes, and
  * `--mode setup` exits as soon as the session is ready.
  *
  * With `--trace 1` warm passes alternate traced and untraced (the
  * difference is the tracing overhead); a traced pass wraps each query
  * in spans (query → build / exec, plus catalyst phase spans taken from
  * `QueryExecution.tracker`), gives every span its own job group so
  * the listener can attribute stages and tasks to it, and collects
  * codegen, cache and heap counters. The spans stay in memory and are
  * written with the result at the end.
  *
  * Usage (see run.py, which builds the classpath):
  *   Harness --mode setup|passes|run --cores N --local-dir D --sf-dir S
  *           --queries a,b,c --seed K --warm-passes W --trace 0|1 --out O
  */
object Harness {

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val cores = opt("cores").toInt
    val spark = session(cores, opt("local-dir"))
    println("PERFBENCH_READY")
    System.out.flush()
    // a set-up sample ends at ready: exit at once rather than spend the
    // run's time on an orderly stop (the run directory is removed after)
    if (opt("mode") == "setup") Runtime.getRuntime.halt(0)
    // a JVM that only adds pass samples likewise ends with its passes
    if (opt("mode") == "passes") {
      new Run(spark, opt).execute(outputs = false)
      Runtime.getRuntime.halt(0)
    }
    try new Run(spark, opt).execute(outputs = true)
    finally spark.stop()
  }

  def session(cores: Int, localDir: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", localDir)
      .config("spark.sql.warehouse.dir", s"$localDir/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"$localDir/hadoop")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // reclaim unpersists checkpointed RDDs on purpose; each logs a
    // "lineage has been truncated" WARN (same silencing as graft.Bench)
    Configurator.setLevel("org.apache.spark.rdd.MapPartitionsRDD", Level.ERROR)
    spark
  }
}

/** Per-span counters, filled by [[SpanListener]] from job, stage and
  * task events whose job group names the span. */
final class Counters {
  var jobs, stages, tasks = 0L
  var runMs, cpuNs, gcMs, singleTaskStageMs = 0L
  var shuffleWriteBytes, shuffleReadBytes, spillBytes = 0L
  var inputRecords, inputBytes, outputRecords, outputBytes = 0L
  var blocksDropped = 0L

  def toJson: Map[String, Any] = Map(
    "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks, "single_task_stage_ms" -> singleTaskStageMs,
    "run_ms" -> runMs, "cpu_ns" -> cpuNs, "gc_ms" -> gcMs,
    "shuffle_write_bytes" -> shuffleWriteBytes, "shuffle_read_bytes" -> shuffleReadBytes,
    "spill_bytes" -> spillBytes, "input_records" -> inputRecords, "input_bytes" -> inputBytes,
    "output_records" -> outputRecords, "output_bytes" -> outputBytes,
    "blocks_dropped" -> blocksDropped)
}

/** Attributes every job, stage and task to the span whose job group
  * launched it, and follows the RDD blocks held in storage. Events
  * arrive on the listener bus thread; readers call
  * `Internals.drainListeners` first and then read under the lock. */
final class SpanListener extends SparkListener {
  private val stageSpan = mutable.HashMap[Int, String]()
  val counters = mutable.HashMap[String, Counters]()
  private val blockBytes = mutable.HashMap[String, Long]()
  private val seenInMemory = mutable.HashSet[String]()
  private var storedBytes = 0L
  private var baseBytes = 0L
  private var peakStoredBytes = 0L

  private def of(span: String) = counters.getOrElseUpdate(span, new Counters)
  private def spanOfStage(id: Int) = stageSpan.getOrElse(id, "unattributed")

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("unattributed")
    e.stageIds.foreach(stageSpan(_) = group)
    of(group).jobs += 1
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    val c = of(spanOfStage(info.stageId))
    c.stages += 1
    if (info.numTasks == 1)
      for (s <- info.submissionTime; f <- info.completionTime) c.singleTaskStageMs += f - s
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = of(spanOfStage(e.stageId))
    c.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      c.runMs += m.executorRunTime
      c.cpuNs += m.executorCpuTime
      c.gcMs += m.jvmGCTime
      c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      c.spillBytes += m.diskBytesSpilled
      c.inputRecords += m.inputMetrics.recordsRead
      c.inputBytes += m.inputMetrics.bytesRead
      c.outputRecords += m.outputMetrics.recordsWritten
      c.outputBytes += m.outputMetrics.bytesWritten
      // a block once held in memory that a task reports without a
      // memory copy was evicted to make room (unpersist happens outside
      // tasks and never shows here)
      m.updatedBlockStatuses.foreach { case (id, st) =>
        if (seenInMemory.contains(id.name) && st.memSize == 0) c.blocksDropped += 1
      }
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val b = e.blockUpdatedInfo
    b.blockId match {
      case _: RDDBlockId =>
        val key = b.blockId.name
        val bytes = b.memSize + b.diskSize
        storedBytes += bytes - blockBytes.getOrElse(key, 0L)
        if (bytes == 0) blockBytes.remove(key) else blockBytes(key) = bytes
        if (b.memSize > 0) seenInMemory += key
        peakStoredBytes = math.max(peakStoredBytes, storedBytes)
      case _ =>
    }
  }

  /** Start a new peak window at the bytes held now. */
  def resetPeak(): Unit = synchronized { baseBytes = storedBytes; peakStoredBytes = storedBytes }

  /** Highest RDD storage since [[resetPeak]], above what was held then. */
  def peakIncrease: Long = synchronized(peakStoredBytes - baseBytes)
}

/** Counts codegen compile time from CodeGenerator's "Code generated in
  * X ms" record, the same duration it feeds to
  * `CodegenMetrics.METRIC_COMPILATION_TIME` (a sampling histogram,
  * whose sum is not exact). The compile count comes from the histogram
  * itself. */
final class CompileClock extends AbstractAppender(
    "perfbench-codegen", null, null, true, Property.EMPTY_ARRAY) {
  val micros = new AtomicLong()
  private val pattern = """Code generated in ([0-9.]+) ms""".r.unanchored
  override def append(e: LogEvent): Unit = e.getMessage.getFormattedMessage match {
    case pattern(ms) => micros.addAndGet((ms.toDouble * 1000).toLong)
    case _ =>
  }
}

object CompileClock {
  private val logger = "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator"

  def install(): CompileClock = {
    val clock = new CompileClock
    clock.start()
    Configurator.setLevel(logger, Level.INFO)
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val conf = ctx.getConfiguration.getLoggerConfig(logger)
    conf.addAppender(clock, Level.INFO, null)
    conf.setAdditive(false)
    ctx.updateLoggers()
    clock
  }
}

/** One closed query execution, as seen by the query-execution listener. */
final case class QeEvent(phases: Seq[(String, Long, Long)], tables: Set[String])

final case class Span(id: String, parent: String, kind: String, name: String,
                      startNs: Long, endNs: Long)

final class Run(spark: SparkSession, opt: Map[String, String]) {
  private val sc = spark.sparkContext
  private val sfDir = opt("sf-dir")
  private val out = opt("out")
  private val queries = opt("queries").split(",").toSeq
  private val warmPasses = opt("warm-passes").toInt
  private val trace = opt("trace") == "1"
  private val registry = graft.SparkEntry.queries
  private val rng = new scala.util.Random(opt("seed").toLong)

  // tracing state
  private val listener = new SpanListener
  private val qeEvents = new ConcurrentLinkedQueue[QeEvent]()
  private val qeListener = new QueryExecutionListener {
    def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = qeEvents.add(event(qe))
    def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = qeEvents.add(event(qe))
  }
  private lazy val compileClock = CompileClock.install()
  private val spans = mutable.ArrayBuffer[Span]()
  private val spanExtra = mutable.HashMap[String, Map[String, Any]]()
  private val tablesRead = mutable.LinkedHashSet[String]()
  private val nanos0 = System.nanoTime()
  private val epochMs0 = System.currentTimeMillis()
  private def epochToNanos(ms: Long): Long = nanos0 + (ms - epochMs0) * 1000000L

  private def tablesOf(qe: QueryExecution): Set[String] = {
    val root = new java.io.File(sfDir).getCanonicalFile
    qe.analyzed.collect {
      case l: LogicalRelation => l.relation match {
        case h: HadoopFsRelation => h.location.rootPaths.map(p => new java.io.File(p.toUri.getPath))
        case _ => Nil
      }
    }.flatten.collect {
      case f if f.getParentFile != null && f.getParentFile.getCanonicalFile == root &&
                f.getName.endsWith(".parquet") => f.getName.stripSuffix(".parquet")
    }.toSet
  }

  private def event(qe: QueryExecution): QeEvent = {
    val phases = qe.tracker.phases.toSeq.map { case (n, p) => (n, p.startTimeMs, p.endTimeMs) }
    QeEvent(phases, scala.util.Try(tablesOf(qe)).getOrElse(Set.empty))
  }

  /** Times `body` as a span; a traced span is also the job group of
    * every job launched inside it, and is kept. */
  private def span[T](id: String, parent: String, kind: String, name: String, traced: Boolean)
                     (body: => T): T = {
    val outer = Option(sc.getLocalProperty("spark.jobGroup.id"))
    if (traced) sc.setJobGroup(id, name)
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      if (traced) {
        spans += Span(id, parent, kind, name, t0, t1)
        outer.fold(sc.clearJobGroup())(g => sc.setJobGroup(g, g))
      }
    }
  }

  private def reclaim(before: Set[Int]): Unit = {
    // same order as graft.Bench.reclaim: clearCache first, so that a
    // CacheManager entry is dropped rather than left disabled
    try spark.catalog.clearCache() catch { case _: Throwable => }
    sc.getPersistentRDDs.foreach { case (id, rdd) =>
      if (!before.contains(id)) try rdd.unpersist(blocking = false) catch { case _: Throwable => }
    }
  }

  private def message(e: Throwable): String =
    (e.getClass.getSimpleName + ": " + Option(e.getMessage).getOrElse(""))
      .replaceAll("\\s+", " ").take(300)

  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP)

  private def gcMillis = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).sum

  /** Close out a traced query: wait for its events, turn the planning
    * phases of every query execution it ran into catalyst spans, and
    * record its codegen and cache counters. */
  private def closeTraced(qid: String, df: Option[DataFrame], compiles0: Long,
                          compileUs0: Long, persisted: Int): Unit = {
    Internals.drainListeners(sc)
    val events = Iterator.continually(qeEvents.poll()).takeWhile(_ != null).toSeq ++
      df.map(d => event(d.queryExecution))
    val children = spans.filter(_.parent == qid)
    var k = 0
    for (ev <- events; (phase, s, e) <- ev.phases) {
      val (sn, en) = (epochToNanos(s), epochToNanos(e))
      val parent = children.find(c => c.startNs <= sn && sn <= c.endNs).map(_.id).getOrElse(qid)
      spans += Span(s"$qid/catalyst$k", parent, "catalyst", phase, sn, math.max(sn, en))
      k += 1
    }
    events.foreach(tablesRead ++= _.tables)
    spanExtra(qid) = Map(
      "compiles" -> (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0),
      "compile_us" -> (compileClock.micros.get - compileUs0),
      "persisted_rdds" -> persisted,
      "peak_storage_bytes" -> listener.peakIncrease)
  }

  private def runQuery(pass: Int, i: Int, name: String, traced: Boolean): Map[String, Any] = {
    val pid = s"p$pass"
    val qid = s"$pid/q$i"
    val before = sc.getPersistentRDDs.keySet.toSet
    val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val compileUs0 = if (traced) compileClock.micros.get else 0L
    if (traced) listener.resetPeak()
    var built: Option[DataFrame] = None
    var buildNs, execNs = 0L
    val error = try {
      span(qid, pid, "query", name, traced) {
        val t0 = System.nanoTime()
        val df = span(s"$qid/build", qid, "build", name, traced)(registry(name)(spark, sfDir))
        built = Some(df)
        val t1 = System.nanoTime()
        span(s"$qid/exec", qid, "exec", name, traced) {
          df.write.format("noop").mode("overwrite").save()
        }
        buildNs = t1 - t0
        execNs = System.nanoTime() - t1
      }
      None
    } catch { case e: Throwable => Some(message(e)) }
    val persisted = (sc.getPersistentRDDs.keySet -- before).size
    if (traced) closeTraced(qid, built, compiles0, compileUs0, persisted)
    reclaim(before)
    Map("query" -> name, "latency_s" -> (buildNs + execNs) / 1e9, "build_s" -> buildNs / 1e9,
      "exec_s" -> execNs / 1e9, "error" -> error.orNull)
  }

  private def runPass(pass: Int, traced: Boolean): Map[String, Any] = {
    // the cold pass keeps the declared order: whichever query runs first
    // also pays the session's first-job costs, so a shuffled cold pass
    // would make cold_pass_s depend on the seed; warm passes are shuffled
    val order = if (pass == 0) queries else rng.shuffle(queries)
    if (traced) {
      sc.addSparkListener(listener)
      spark.listenerManager.register(qeListener)
      heapPools.foreach(_.resetPeakUsage())
    }
    val gc0 = if (traced) gcMillis else 0L
    val t0 = System.nanoTime()
    val samples = order.zipWithIndex.map { case (q, i) => runQuery(pass, i, q, traced) }
    val t1 = System.nanoTime()
    val traceData = if (!traced) Map.empty else {
      val peakHeap = heapPools.map(_.getPeakUsage.getUsed).sum
      spans += Span(s"p$pass", "", "pass", s"pass$pass", t0, t1)
      Internals.drainListeners(sc)
      spark.listenerManager.unregister(qeListener)
      sc.removeSparkListener(listener)
      qeEvents.clear()
      Map("peak_heap_bytes" -> peakHeap, "gc_ms" -> (gcMillis - gc0))
    }
    Map("index" -> pass, "traced" -> traced, "order" -> order, "samples" -> samples) ++ traceData
  }

  /** Time `Tables.load(..).schema` directly for each table the traced
    * passes read: three opens each, each in its own job group. */
  private def openTables(): Map[String, Any] = {
    sc.addSparkListener(listener)
    val res = tablesRead.toSeq.sorted.map { t =>
      val runs = (0 until 3).map { k =>
        val id = s"open/$t/$k"
        span(id, "", "open", t, traced = true)(graft.core.Tables.load(spark, sfDir, t).schema)
        val s = spans.last
        (s.endNs - s.startNs) / 1e9 -> id
      }
      Internals.drainListeners(sc)
      t -> Map("open_s" -> runs.map(_._1),
        "jobs" -> runs.map(r => listener.synchronized(listener.counters.get(r._2).map(_.jobs).getOrElse(0L))))
    }.toMap
    sc.removeSparkListener(listener)
    res
  }

  /** Write every query's result once for the output check, plus the
    * oracle SQL (static, or data-derived through `Q.sqlGen`) for each. */
  private def writeOutputs(): (Map[String, Any], Map[String, String]) = {
    val sqlGen = graft.Queries.all.flatMap(q => q.sqlGen.map(q.name -> _)).toMap
    val oracle = mutable.HashMap[String, String]()
    val results = queries.sorted.map { name =>
      val before = sc.getPersistentRDDs.keySet.toSet
      val path = s"$out/results/$name"
      val err = try {
        registry(name)(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(path)
        // a data-derived oracle replaces the static one, as in graft.Verify
        sqlGen.get(name).map(_(spark, sfDir)).orElse(graft.SparkEntry.oracleSql.get(name))
          .foreach(oracle(name) = _)
        None
      } catch { case e: Throwable => Some(message(e)) }
      finally reclaim(before)
      name -> Map("path" -> path, "error" -> err.orNull)
    }.toMap
    (results, oracle.toMap)
  }

  /** The timed passes, then (with `outputs`) the table opens of a
    * traced run and every query's result for the output check. */
  def execute(outputs: Boolean): Unit = {
    if (trace) compileClock
    val passes = mutable.ArrayBuffer(runPass(0, trace))
    val warm0 = System.nanoTime()
    // traced runs alternate traced and untraced warm passes
    for (pass <- 1 to warmPasses) passes += runPass(pass, trace && pass % 2 == 1)
    val warmS = (System.nanoTime() - warm0) / 1e9
    val opens = if (trace && outputs) openTables() else Map.empty[String, Any]
    val (written, oracle) = if (outputs) writeOutputs() else (Map.empty[String, Any], Map.empty[String, String])
    val result = Map(
      "java_version" -> System.getProperty("java.version"),
      "spark_version" -> spark.version,
      "warm_phase_s" -> warmS,
      "passes" -> passes.toSeq,
      "spans" -> spans.toSeq.map(s => Map("id" -> s.id, "parent" -> s.parent, "kind" -> s.kind,
        "name" -> s.name, "start_ns" -> (s.startNs - nanos0), "end_ns" -> (s.endNs - nanos0))),
      "counters" -> listener.synchronized(listener.counters.map { case (k, v) => k -> v.toJson }.toMap),
      "span_extra" -> spanExtra.toMap,
      "table_opens" -> opens,
      "outputs" -> written,
      "oracle_sql" -> oracle)
    Files.write(Paths.get(s"$out/result.json"), Json(result).getBytes(StandardCharsets.UTF_8))
  }
}

/** Minimal JSON writer for the result file (maps, sequences, strings,
  * numbers, booleans, null). */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
