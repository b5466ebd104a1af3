package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.perfbench.SparkShim
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.json4s.DefaultFormats
import org.json4s.jackson.Serialization

/** Closed-loop client for one benchmark run: one client thread runs the
  * workload's queries one at a time through the engine's public entry
  * points (`graft.Sessions.build`, `graft.SparkEntry.queries`, the noop
  * sink) and writes raw per-query records as JSON for `run.py`.
  *
  *   perfbench.PerfBench data=<dir> queries=q1,q2 laps=<n> trace=0|1
  *     cpus=<n> dump=<dir> out=<file.json> spans=<file.json>
  *
  * Phases: one cold set-up (session build + warm-up, the first thing the
  * JVM does, so class loading and object initialization count); one
  * untimed check lap that writes each output to `dump/<query>` as parquet
  * (also the JIT warm-up); then `laps` timed laps through the noop sink.
  * With no queries and laps=0 a run measures the set-up alone, which
  * `run.py` uses to take set-up several times, each in a fresh JVM.
  * Every query boundary is isolated outside timing: clearCache, drain
  * the listener bus, GC, and sample the live heap. With trace=1 even laps run with the listeners on
  * and odd laps with them off, so one run gives both the per-layer
  * counters and the tracing overhead (a traced lap against the mean of
  * the untraced laps on either side, which cancels a steady warm-up
  * trend).
  */
object PerfBench {
  private val Phase = "perfbench.phase"

  def main(argv: Array[String]): Unit = {
    val a = argv.map { kv => val i = kv.indexOf('='); kv.take(i) -> kv.drop(i + 1) }.toMap
    val data = a("data")
    val names = a("queries").split(",").toSeq.filter(_.nonEmpty)
    val laps = a("laps").toInt
    val trace = a("trace") == "1"
    val dump = a("dump")

    // --- set-up: session build + warm-up, cold ---------------------------
    val t0 = System.nanoTime()
    val spark = graft.Sessions.build(a("cpus"), "ERROR")
    val t1 = System.nanoTime()
    warmUp(spark, data)
    val t2 = System.nanoTime()
    val setup = Map("build_s" -> (t1 - t0) / 1e9, "total_s" -> (t2 - t0) / 1e9)

    val catalog = graft.SparkEntry.queries
    val oracle = graft.SparkEntry.oracleSql.filter { case (n, _) => names.contains(n) }
    val heap = ManagementFactory.getMemoryMXBean
    val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    def gcMs: Long = gcBeans.map(_.getCollectionTime.max(0L)).sum
    val sc = spark.sparkContext
    val tracer = new Tracer
    val records = mutable.ArrayBuffer.empty[Map[String, Any]]
    val spans = mutable.ArrayBuffer.empty[Map[String, Any]]

    /** Clears what the query left (cached plans, and the blocks of its
      * eager checkpoints, which clearCache does not own), drains events,
      * GCs; returns pinned bytes (read first) and live heap MB (last). */
    def boundary(): (Long, Double) = {
      val pinned = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
      spark.catalog.clearCache()
      sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      SparkShim.drainListenerBus(spark)
      System.gc()
      (pinned, heap.getHeapMemoryUsage.getUsed / 1048576.0)
    }

    /** Runs one query through `sink`; records timings, spans, counters. */
    def runOne(lap: Int, name: String, traced: Boolean, sink: (String, DataFrame) => Unit): Unit = {
      val key = s"$lap/$name"
      if (traced) { tracer.start(key); sc.setJobGroup(name, "build"); sc.setLocalProperty(Phase, "build") }
      val g0 = gcMs
      val (w0, t0) = (System.currentTimeMillis(), System.nanoTime())
      var t1 = t0
      val err = try {
        val df = catalog(name)(spark, data)
        t1 = System.nanoTime()
        if (traced) { sc.setJobGroup(name, "sink"); sc.setLocalProperty(Phase, "sink") }
        sink(name, df)
        None
      } catch { case NonFatal(e) => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
      val t2 = System.nanoTime()
      val gcS = (gcMs - g0) / 1e3
      if (traced) { sc.clearJobGroup(); sc.setLocalProperty(Phase, null) }
      val (pinned, heapMb) = boundary()
      var rec = Map[String, Any](
        "lap" -> lap, "query" -> name, "traced" -> traced, "ok" -> err.isEmpty,
        "wall_s" -> (t2 - t0) / 1e9, "build_s" -> (t1 - t0) / 1e9, "sink_s" -> (t2 - t1) / 1e9,
        "gc_s" -> gcS, "heap_mb" -> heapMb) ++ err.map("error" -> _)
      if (traced) {
        val w1 = w0 + (t1 - t0) / 1000000L
        val w2 = w0 + (t2 - t0) / 1000000L
        val r = tracer.finish(key)
        rec = rec ++ r.counters(w0, w1, w2) + ("pinned_mb" -> pinned / 1048576.0)
        spans ++= r.spans(key, name, w0, w1, w2)
      }
      records += rec
    }

    // --- check lap: untimed, outputs dumped for run.py to verify ---------
    names.foreach(n => runOne(0, n, traced = false, (q, df) =>
      df.write.mode("overwrite").parquet(s"$dump/$q")))

    // --- timed laps ------------------------------------------------------
    val noop: (String, DataFrame) => Unit =
      (_, df) => df.write.format("noop").mode("overwrite").save()
    for (lap <- 1 to laps) {
      val traced = trace && lap % 2 == 0
      if (traced) tracer.attach(spark) else tracer.detach(spark)
      names.foreach(n => runOne(lap, n, traced, noop))
    }
    tracer.detach(spark)
    spark.stop()

    implicit val formats: DefaultFormats.type = DefaultFormats
    if (trace) Files.write(Paths.get(a("spans")), Serialization.write(spans).getBytes(UTF_8))
    Files.write(Paths.get(a("out")), Serialization.write(
      Map("setup" -> setup, "oracle" -> oracle, "records" -> records)).getBytes(UTF_8))
  }

  /** The repo bench's warm-up: one small job, then one table read. */
  private def warmUp(spark: SparkSession, data: String): Unit = {
    spark.range(1000000).selectExpr("sum(id)").collect()
    spark.read.parquet(s"$data/region.parquet").count()
  }

  /** Per-query execution counters gathered from listener events. The
    * client thread sets `current` before a query and drains the bus after it, so
    * every event delivered meanwhile belongs to that query. */
  final class Tracer extends SparkListener with QueryExecutionListener {
    final class Rec {
      val jobs = mutable.ArrayBuffer.empty[(Int, String, Long, Long)]
      val jobStart = mutable.Map.empty[Int, (String, Long)]
      val stageTasks = mutable.Map.empty[(Int, Int), mutable.ArrayBuffer[Long]]
      var stages, tasks, taskFailures = 0L
      var runMs, shuffleWrite, shuffleRead, spill, inputRows, inputBytes = 0L
      var skewMax = 1.0
      var analysisMs, optimizationMs, planningMs = 0L

      /** The query's counters; w0..w1 is its build and w1..w2 its sink. */
      def counters(w0: Long, w1: Long, w2: Long): Map[String, Any] = {
        def busy(lo: Long, hi: Long, phase: Option[String]) = union(
          jobs.filter(j => phase.forall(_ == j._2)).map(j => (j._3.max(lo), j._4.min(hi))).toSeq)
        Map("jobs" -> jobs.size, "build_jobs" -> jobs.count(_._2 == "build"),
          "stages" -> stages, "tasks" -> tasks, "task_failures" -> taskFailures,
          "task_run_s" -> runMs / 1e3, "shuffle_write_mb" -> shuffleWrite / 1048576.0,
          "shuffle_read_mb" -> shuffleRead / 1048576.0, "spill_mb" -> spill / 1048576.0,
          "input_rows" -> inputRows, "input_mb" -> inputBytes / 1048576.0, "skew_max" -> skewMax,
          "analysis_s" -> analysisMs / 1e3, "optimization_s" -> optimizationMs / 1e3,
          "planning_s" -> planningMs / 1e3, "busy_s" -> busy(w0, w2, None) / 1e3,
          "busy_build_s" -> busy(w0, w1, Some("build")) / 1e3,
          "busy_sink_s" -> busy(w1, w2, Some("sink")) / 1e3)
      }

      /** Spans of one query: the query, its build and sink, and each job
        * under the phase that launched it. Times are epoch milliseconds. */
      def spans(key: String, query: String, w0: Long, w1: Long, w2: Long): Seq[Map[String, Any]] = {
        def span(id: String, name: String, parent: String, s: Long, e: Long) =
          Map("trace" -> key, "id" -> id, "name" -> name, "parent" -> parent, "start_ms" -> s, "end_ms" -> e)
        Seq(span(s"$key/q", query, null, w0, w2),
          span(s"$key/b", "queries.build", s"$key/q", w0, w1),
          span(s"$key/s", "sink", s"$key/q", w1, w2)) ++
          jobs.map { case (id, phase, s, e) =>
            span(s"$key/j$id", "job", s"$key/${if (phase == "build") "b" else "s"}", s, e)
          }
      }
    }

    @volatile private var current: Rec = null
    private val recs = mutable.Map.empty[String, Rec]
    private var attached = false

    def attach(spark: SparkSession): Unit = if (!attached) {
      spark.sparkContext.addSparkListener(this); spark.listenerManager.register(this); attached = true
    }
    def detach(spark: SparkSession): Unit = if (attached) {
      SparkShim.drainListenerBus(spark)
      spark.sparkContext.removeSparkListener(this); spark.listenerManager.unregister(this); attached = false
    }
    def start(key: String): Unit = { val r = new Rec; recs(key) = r; current = r }
    def finish(key: String): Rec = { current = null; recs(key) }

    override def onJobStart(e: SparkListenerJobStart): Unit = Option(current).foreach { r =>
      val phase = Option(e.properties).flatMap(p => Option(p.getProperty(Phase))).getOrElse("other")
      r.jobStart(e.jobId) = (phase, e.time)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Option(current).foreach { r =>
      r.jobStart.remove(e.jobId).foreach { case (phase, s) => r.jobs += ((e.jobId, phase, s, e.time)) }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Option(current).foreach { r =>
      r.tasks += 1
      if (!e.taskInfo.successful) r.taskFailures += 1
      r.stageTasks.getOrElseUpdate((e.stageId, e.stageAttemptId), mutable.ArrayBuffer.empty) +=
        e.taskInfo.duration
      Option(e.taskMetrics).foreach { m =>
        r.runMs += m.executorRunTime
        r.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        r.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        r.spill += m.diskBytesSpilled
        r.inputRows += m.inputMetrics.recordsRead
        r.inputBytes += m.inputMetrics.bytesRead
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Option(current).foreach { r =>
      r.stages += 1
      r.stageTasks.remove((e.stageInfo.stageId, e.stageInfo.attemptNumber())).foreach { d =>
        if (d.size >= 2) {
          val s = d.sorted
          val med = (s((s.size - 1) / 2) + s(s.size / 2)) / 2.0
          r.skewMax = r.skewMax.max(s.last / med.max(1.0))
        }
      }
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = phases(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = phases(qe)
    private def phases(qe: QueryExecution): Unit = Option(current).foreach { r =>
      val p = qe.tracker.phases
      r.analysisMs += p.get("analysis").map(_.durationMs).getOrElse(0L)
      r.optimizationMs += p.get("optimization").map(_.durationMs).getOrElse(0L)
      r.planningMs += p.get("planning").map(_.durationMs).getOrElse(0L)
    }
  }

  /** Total length of the union of [start, end) intervals. */
  def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var hi = Long.MinValue
    for ((s, e) <- iv.sortBy(_._1)) {
      val from = s.max(hi)
      if (e > from) { total += e - from; hi = e }
    }
    total
  }
}
