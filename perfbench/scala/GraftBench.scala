package graftbench

import java.io.{BufferedReader, File, InputStreamReader}
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._

import graft.GenData
import graft.model.CandleTimeFrame
import graft.operators.{CandleStore, Candles}
import graft.serving.CandleHttpServer
import graft.streaming.{CandleStream, TransactionSimulator}

/** Workload JVM of the benchmark. `perfbench/run.py` starts this class
  * with one workload and reads the JSON lines it prints. It drives
  * graft only through its public entry points; the listeners below are
  * registered only when `trace=1`.
  *
  * Usage: graftbench.Main <serve|ingest> key=value...
  */
object Main {

  def main(args: Array[String]): Unit = {
    val opts = args.drop(1).map { kv =>
      val Array(k, v) = kv.split("=", 2); k -> v
    }.toMap
    val trace = opts.getOrElse("trace", "0") == "1"
    val spark = session(opts("cpus").toInt, opts("work"))
    val tracer = if (trace) Some(Tracer.register(spark)) else None
    try {
      args(0) match {
        case "serve"   => Serve.run(spark, opts, tracer)
        case "ingest"  => Ingest.run(spark, opts, tracer)
        case other     => throw new IllegalArgumentException(s"unknown workload $other")
      }
      emit("done", Map("live_heap_mb" -> liveHeapMb, "peak_rss_mb" -> peakRssMb))
    } finally spark.stop()
  }

  /** Heap still reachable once the workload is done: used heap after a
    * full collection, MiB (a diagnostic, like the peak RSS).
    */
  def liveHeapMb: Double = {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** graft.Bench's session settings, local[cpus]. */
  def session(cpus: Int, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .appName("graft-perfbench")
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes", "128m")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"$work/hadoop")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** One JSON line on stdout: {"event": name, ...fields}. */
  def emit(event: String, fields: Map[String, Any]): Unit = synchronized {
    println(json(fields + ("event" -> event)))
    Console.out.flush()
  }

  def json(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
        case '"' => "\\\""; case '\\' => "\\\\"
        case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
      } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case b: Boolean => b.toString
    case m: Map[_, _] => m.map { case (k, x) => json(k.toString) + ":" + json(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(json).mkString("[", ",", "]")
    case xs: Array[_] => json(xs.toSeq)
    case other => json(other.toString)
  }

  /** Peak resident set of this JVM (VmHWM), MiB. */
  def peakRssMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(0.0)
    finally src.close()
  }

  def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ > 0).sum

  def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6
}

/** Spark-listener counters for traced runs. Stage and task metrics
  * are summed globally and per streaming batch (the
  * `streaming.sql.batchId` job property); codegen compiles come from
  * Spark's CodegenMetrics and compile time from CodeGenerator.
  */
final class Tracer extends SparkListener {
  private val totals = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private val perBatch = mutable.Map.empty[Long, mutable.Map[String, Double]]
  private val stageBatch = mutable.Map.empty[Int, Long]

  private def add(m: mutable.Map[String, Double], k: String, v: Double): Unit =
    m(k) = m.getOrElse(k, 0.0) + v

  private def addAll(batch: Option[Long], kv: (String, Double)*): Unit = synchronized {
    kv.foreach { case (k, v) => add(totals, k, v) }
    batch.foreach { b =>
      val m = perBatch.getOrElseUpdate(b, mutable.Map.empty)
      kv.foreach { case (k, v) => add(m, k, v) }
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val batch = Option(e.properties).flatMap(p =>
      Option(p.getProperty("streaming.sql.batchId"))).map(_.toLong)
    synchronized { batch.foreach(b => e.stageIds.foreach(stageBatch(_) = b)) }
    addAll(batch, "jobs" -> 1.0)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val batch = synchronized(stageBatch.get(e.stageInfo.stageId))
    addAll(batch, "stages" -> 1.0)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m == null) return
    val batch = synchronized(stageBatch.get(e.stageId))
    addAll(batch,
      "tasks" -> 1.0,
      "executor_run_ms" -> m.executorRunTime.toDouble,
      "executor_cpu_ms" -> m.executorCpuTime / 1e6,
      "shuffle_bytes" -> (m.shuffleWriteMetrics.bytesWritten +
        m.shuffleReadMetrics.totalBytesRead).toDouble,
      "spill_bytes" -> (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble,
      "records_written" -> m.outputMetrics.recordsWritten.toDouble)
  }

  /** Totals plus the JVM-wide counters, read now. */
  def snapshot: Map[String, Double] = synchronized(totals.toMap) ++ Tracer.jvmCounters

  def batch(b: Long): Map[String, Double] =
    synchronized(perBatch.get(b).map(_.toMap).getOrElse(Map.empty))
}

object Tracer {
  def register(spark: SparkSession): Tracer = {
    val t = new Tracer
    spark.sparkContext.addSparkListener(t)
    t
  }

  /** Wait until the asynchronous listener bus has delivered every event. */
  def drain(spark: SparkSession): Unit =
    org.apache.spark.graft.BusFlush.drain(spark.sparkContext, 60000L)

  /** Counters no listener sees: codegen compiles and compile time, GC. */
  def jvmCounters: Map[String, Double] = Map(
    "codegen_compiles" ->
      org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount.toDouble,
    "codegen_ms" ->
      org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime / 1e6,
    "gc_ms" -> Main.gcMs.toDouble)
}

/** Walks executed plans, including adaptive query stages. */
object Plans extends AdaptiveSparkPlanHelper {
  /** (files read, rows output) summed over the file scans of a run plan. */
  def scanned(qe: QueryExecution): (Long, Long) = {
    val scans = collectWithSubqueries(qe.executedPlan) { case s: FileSourceScanExec => s }
    (scans.map(s => s.metrics.get("numFiles").map(_.value).getOrElse(0L)).sum,
     scans.map(s => s.metrics.get("numOutputRows").map(_.value).getOrElse(0L)).sum)
  }
}

/** `serve`: generate the sf0.1 events with graft.GenData, build the
  * store once, then let the Python client drive CandleHttpServer.
  * Commands arrive on stdin, one per line:
  *   MARK <name>          — traced runs: snapshot the counters and reply
  *   DIRECT <file> <n>    — traced runs: call the routes' CandleStore
  *                          functions directly for the first n requests
  *   STOP                 — stop the server and exit
  */
object Serve {
  def run(spark: SparkSession, o: Map[String, String], tracer: Option[Tracer]): Unit = {
    val store = o("store")
    val data = o("data")
    val t0 = System.nanoTime()
    GenData.writeSingle(GenData.events(spark, o("events").toLong), data, "events")
    Main.emit("events", Map("path" -> s"$data/events.parquet", "gen_ms" -> Main.ms(t0)))
    val t1 = System.nanoTime()
    CandleStore.write(Candles.multiTimeframe(Candles.transactions(spark, data)), store)
    val server = CandleHttpServer.start(spark, store, 0)
    Main.emit("ready", Map("port" -> server.getAddress.getPort, "store_build_ms" -> Main.ms(t1)))
    val in = new BufferedReader(new InputStreamReader(System.in))
    var line = in.readLine()
    try while (line != null && line != "STOP") {
      line.split(" ").toList match {
        case "MARK" :: name :: Nil =>
          Tracer.drain(spark)
          Main.emit("mark", Map("name" -> name, "counters" -> tracer.get.snapshot))
        case "DIRECT" :: file :: n :: Nil =>
          direct(spark, store, file, n.toInt, tracer.get)
        case other =>
          throw new IllegalArgumentException(s"bad command: $other")
      }
      line = in.readLine()
    } finally server.stop(0)
  }

  /** The frame each route builds, from public CandleStore/Candles calls
    * (mirrors CandleHttpServer's routes without the HTTP layer).
    */
  private def routeFrame(spark: SparkSession, store: String, path: String,
                         params: Map[String, String]): DataFrame =
    path.stripPrefix("/").split("/").toList match {
      case "symbols" :: Nil =>
        CandleStore.keys(spark, store).select("symbol").distinct()
      case "candles" :: sym :: tf :: Nil =>
        val ranged = CandleStore.range(spark, store, sym, tf,
          params.getOrElse("from", "1970-01-01 00:00:00"),
          params.getOrElse("to", "9999-01-01 00:00:00"))
        val rows =
          if (params.get("fill").contains("true"))
            Candles.gapFillTf(ranged, tf)
              .withColumn("timeframe", lit(tf))
              .withColumn("window_end", Candles.windowEnd(tf, col("window_start")))
              .select(col("symbol"), col("timeframe"), col("window_start"), col("window_end"),
                coalesce(col("open"), col("close_filled")).as("open"),
                coalesce(col("high"), col("close_filled")).as("high"),
                coalesce(col("low"), col("close_filled")).as("low"),
                coalesce(col("close"), col("close_filled")).as("close"),
                col("volume"), coalesce(col("n_txn"), lit(0L)).as("n_txn"), col("is_gap"))
              .orderBy(col("window_start"))
          else ranged.select(Candles.candleColumns: _*)
        rows.limit(CandleHttpServer.MaxRangeRows + 1)
      case "candles" :: sym :: tf :: "recent" :: Nil =>
        CandleStore.recent(spark, store, tf, params.getOrElse("n", "25").toInt)
          .filter(col("symbol") === sym).select(Candles.candleColumns: _*)
      case "candles" :: sym :: tf :: "point" :: Nil =>
        CandleStore.point(spark, store, sym, tf, params("key"))
          .select(Candles.candleColumns: _*)
      case "keys" :: rest =>
        val keys = CandleStore.candleKeys(spark, store, rest.headOption, rest.lift(1))
        params.get("after").fold(keys)(a => keys.filter(col("key") > a))
          .limit(params.getOrElse("limit", "10000").toInt + 1)
      case other => throw new IllegalArgumentException(s"no route $other")
    }

  private def direct(spark: SparkSession, store: String, file: String, n: Int,
                     tracer: Tracer): Unit = {
    val src = scala.io.Source.fromFile(file)
    val reqs = try src.getLines().take(n).toList finally src.close()
    def jobs: Double = { Tracer.drain(spark); tracer.snapshot.getOrElse("jobs", 0.0) }
    val rows = reqs.map { req =>
      val (path, query) = req.split("\\?", 2) match {
        case Array(p, q) => (p, q)
        case Array(p) => (p, "")
      }
      val params = query.split("&").filter(_.contains("=")).map { kv =>
        val Array(k, v) = kv.split("=", 2); k -> java.net.URLDecoder.decode(v, "UTF-8")
      }.toMap
      val t0 = System.nanoTime()
      CandleStore.read(spark, store)
      val openMs = Main.ms(t0)
      val j0 = jobs
      val t1 = System.nanoTime()
      val json = routeFrame(spark, store, path, params).toJSON
      val constructMs = Main.ms(t1)
      val readJobs = jobs - j0
      val t2 = System.nanoTime()
      json.queryExecution.executedPlan
      val planMs = Main.ms(t2)
      val t3 = System.nanoTime()
      val out = json.collect()
      val execMs = Main.ms(t3)
      val (files, scanned) = Plans.scanned(json.queryExecution)
      Map("open_ms" -> openMs, "construct_ms" -> constructMs, "plan_ms" -> planMs,
        "exec_ms" -> execMs, "total_ms" -> (constructMs + planMs + execMs),
        "read_jobs" -> readJobs, "files" -> files, "rows_scanned" -> scanned,
        "rows_returned" -> out.length)
    }
    Main.emit("direct", Map("requests" -> rows))
  }
}

/** `ingest`: simulated ticks → minute candles → cascade store, from
  * an empty store. The tick stream ends after `warm` + `kept` triggers
  * (later triggers see no rows), so every run does the same work and
  * the store holds whole triggers only.
  */
object Ingest {
  def run(spark: SparkSession, o: Map[String, String], tracer: Option[Tracer]): Unit = {
    val ticks = o("ticks").toLong
    val warm = o("warm").toInt
    val batches = warm + o("kept").toInt
    val start = o("start").toLong
    val store = o("store")
    val txns = TransactionSimulator.streamMicroBatch(spark, ticks, 1L, start)
      .filter(col("ts") < timestamp_seconds(lit(start + batches * ticks)))
    val minute = CandleStream.candles(txns, CandleTimeFrame.Minute)
    val q = CandleStream.cascadeToStore(minute, store, o("checkpoint"))
    def committed: Long = Option(q.lastProgress).map(_.batchId).getOrElse(-1L)
    def await(batch: Long): Unit =
      while (committed < batch && q.exception.isEmpty) Thread.sleep(2)
    await(warm - 1L)
    val jvm0 = Tracer.jvmCounters
    await(batches - 1L)
    val jvm1 = Tracer.jvmCounters
    q.stop()
    q.exception.foreach(e => throw e)
    val progress = q.recentProgress.filter(_.batchId < batches).sortBy(_.batchId)
    require(progress.length == batches,
      s"expected $batches progress records, got ${progress.length}")
    tracer.foreach(_ => Tracer.drain(spark))
    val perBatch = progress.map { p =>
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue() }.toMap
      Map(
        "batch" -> p.batchId,
        "start_ms" -> java.time.Instant.parse(p.timestamp).toEpochMilli,
        "trigger_ms" -> d.getOrElse("triggerExecution", 0L),
        "add_batch_ms" -> d.getOrElse("addBatch", 0L),
        "plan_ms" -> d.getOrElse("queryPlanning", 0L),
        "commit_log_ms" -> (d.getOrElse("commitOffsets", 0L) + d.getOrElse("walCommit", 0L)),
        "state_rows" -> p.stateOperators.map(_.numRowsTotal).sum,
        "counters" -> tracer.map(_.batch(p.batchId)).getOrElse(Map.empty))
    }
    val files = countFiles(new File(store))
    // the same ticks as a bounded batch: the independent check's input
    TransactionSimulator.batch(spark, ticks * batches, start)
      .write.mode("overwrite").parquet(o("txns"))
    Main.emit("ingest", Map("batches" -> perBatch, "store_files" -> files,
      "ticks" -> ticks * batches,
      "kept_jvm" -> jvm1.map { case (k, v) => k -> (v - jvm0(k)) }))
  }

  private def countFiles(f: File): Int =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(countFiles).sum
    else if (f.getName.endsWith(".parquet")) 1 else 0
}
