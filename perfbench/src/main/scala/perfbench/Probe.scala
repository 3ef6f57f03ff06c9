package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** The benchmark's own instrumentation: spans around each call it makes
  * into a layer, plus a SparkListener and a QueryExecutionListener it
  * registers itself. Nothing here reaches inside the engine.
  *
  * Off (`tracing = false`) every hook is a plain call and nothing is
  * recorded; that is the mode end-to-end numbers are measured in. On,
  * spans are kept in memory and the Spark APIs' lazy outputs are forced
  * inside the span that produced them ([[stage]]), so time lands on the
  * layer that did the work.
  */
final class Probe(spark: SparkSession) {
  import Probe._

  private var tracing = false
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var op = -1
  private var opStartNs = 0L
  private var opStartMs = 0L
  private val ops = mutable.ArrayBuffer.empty[OpRec]
  private val counts = mutable.Map.empty[String, Double].withDefaultValue(0.0)

  private val jobs = new ConcurrentLinkedQueue[JobRec]()
  private val jobEnds = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()
  private val stages = new ConcurrentLinkedQueue[StageRec]()
  private val taskTimes = new java.util.concurrent.ConcurrentHashMap[Int, ConcurrentLinkedQueue[java.lang.Long]]()
  private val phases = new ConcurrentLinkedQueue[PhaseRec]()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      def prop(k: String) = props.flatMap(p => Option(p.getProperty(k))).map(_.toInt).getOrElse(-1)
      val site = e.stageInfos.sortBy(_.stageId).lastOption.map(_.name).getOrElse("")
      jobs.add(JobRec(e.jobId, e.time, prop(OpKey), prop(SpanKey), site, e.stageIds))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = jobEnds.put(e.jobId, e.time)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (e.taskInfo != null)
        taskTimes.computeIfAbsent(e.stageId, _ => new ConcurrentLinkedQueue[java.lang.Long]())
          .add(e.taskInfo.duration)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      val m = i.taskMetrics
      if (m != null)
        stages.add(StageRec(i.stageId, i.numTasks, m.shuffleWriteMetrics.bytesWritten,
          m.shuffleReadMetrics.totalBytesRead, m.memoryBytesSpilled + m.diskBytesSpilled,
          m.inputMetrics.recordsRead, m.jvmGCTime))
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val ph = qe.tracker.phases
      def ms(k: String) = ph.get(k).map(_.durationMs.toDouble).getOrElse(0.0)
      phases.add(PhaseRec(lastOp, ms("analysis"), ms("optimization"), ms("planning")))
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  // the query listener runs on the listener bus, which [[endOp]] drains
  // before the op closes, so every query lands on the op that ran it
  @volatile private var lastOp = -1

  def isTracing: Boolean = tracing

  /** Starts recording: registers both listeners. */
  def start(): Unit = {
    tracing = true
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
  }

  /** Stops recording and waits until every queued event is delivered. */
  def stop(): Unit = if (tracing) {
    org.apache.spark.perfbench.ListenerDrain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(queryListener)
    tracing = false
  }

  /** Brackets one closed-loop operation. */
  def beginOp(id: Int): Unit = {
    op = id; lastOp = id; opStartNs = System.nanoTime(); opStartMs = System.currentTimeMillis()
    if (tracing) spark.sparkContext.setLocalProperty(OpKey, id.toString)
  }

  def endOp(): Unit = {
    val end = System.nanoTime()
    if (tracing) {
      ops += OpRec(op, opStartNs, end, opStartMs, System.currentTimeMillis())
      org.apache.spark.perfbench.ListenerDrain(spark.sparkContext)
      spark.sparkContext.setLocalProperty(OpKey, null)
    }
    op = -1
  }

  /** A span around one call into `layer`. */
  def span[T](layer: String, name: String)(body: => T): T =
    if (!tracing) body
    else {
      val id = spans.size
      val parent = stack.headOption.getOrElse(-1)
      spans += Span(id, parent, op, layer, name, System.nanoTime(), -1L)
      stack = id :: stack
      spark.sparkContext.setLocalProperty(SpanKey, id.toString)
      try body
      finally {
        spans(id) = spans(id).copy(endNs = System.nanoTime())
        stack = stack.tail
        spark.sparkContext.setLocalProperty(SpanKey, stack.headOption.map(_.toString).orNull)
      }
    }

  /** A lazy stage output; traced, it is computed inside its span. */
  def stage(layer: String, name: String)(df: => DataFrame): DataFrame =
    if (!tracing) df else span(layer, name)(df.localCheckpoint(true))

  /** A commit into the table at `path` landing `rows` source rows:
    * traced, the files it adds are counted from the table directory. */
  def commit[T](path: String, rows: Long)(body: => T): T =
    if (!tracing) body
    else {
      val before = Probe.dataFiles(path)
      val r = span("store", "commit")(body)
      val added = Probe.dataFiles(path) -- before.keySet
      count("store.commits", 1)
      count("store.files_added", added.size)
      count("store.bytes_written", added.values.sum.toDouble)
      count("store.rows_committed", rows)
      r
    }

  def count(name: String, v: Double): Unit = if (tracing) counts(name) += v

  // ------------------------------------------------------------ results

  /** Per-layer metrics over the recorded ops. Stage spans (fetch, ohlc,
    * enrich, checks, render, prepare) report seconds per op; call spans
    * (commits, reads, probes, refreshes, maintenance) report the median
    * seconds per call. */
  def layerMetrics(extra: Map[String, Double]): Seq[(String, Double)] = {
    org.apache.spark.perfbench.ListenerDrain(spark.sparkContext)
    val nOps = math.max(ops.size, 1).toDouble
    val opIds = ops.map(_.id).toSet
    val myJobs = jobs.asScala.toSeq.filter(j => opIds.contains(j.op))
    val stageOwner = myJobs.flatMap(j => j.stageIds.map(_ -> j)).toMap
    val myStages = stages.asScala.toSeq.filter(s => stageOwner.contains(s.stageId))
    val jobEnd = (j: JobRec) => Option(jobEnds.get(j.jobId)).map(_.longValue).getOrElse(j.startMs)

    val gaps = ops.map { o =>
      val ivs = myJobs.filter(_.op == o.id).map(j => (math.max(j.startMs, o.startMs), math.min(jobEnd(j), o.endMs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L; var reach = Long.MinValue
      ivs.foreach { case (a, b) =>
        val s = math.max(a, reach)
        if (b > s) covered += b - s
        reach = math.max(reach, b)
      }
      math.max(0L, (o.endMs - o.startMs) - covered) / 1000.0
    }
    val skews = myStages.flatMap { s =>
      val ts = Option(taskTimes.get(s.stageId)).map(_.asScala.map(_.toDouble).toSeq.sorted).getOrElse(Seq.empty)
      if (ts.size < 2) None else Some(ts.last / math.max(Stats.percentile(ts, 50), 1.0))
    }
    val myPhases = phases.asScala.toSeq.filter(p => opIds.contains(p.op))

    val done = spans.filter(s => s.endNs >= 0 && opIds.contains(s.op))
    def dur(s: Span) = (s.endNs - s.startNs) / 1e9
    def named(n: String) = done.filter(_.name == n)
    def perOp(n: String) = named(n).map(dur).sum / nOps
    def perCall(n: String) = Stats.median(named(n).map(dur).toSeq)
    def recordsIn(names: Set[String]) = {
      val ids = done.filter(s => names.contains(s.name)).map(_.id).toSet
      // a job belongs to the innermost span open when it started; walk
      // up so jobs under a nested span count for the enclosing one too
      val parentOf = spans.map(s => s.id -> s.parent).toMap
      def under(id: Int): Boolean = id >= 0 && (ids.contains(id) || under(parentOf.getOrElse(id, -1)))
      val js = myJobs.filter(j => under(j.span)).flatMap(_.stageIds).toSet
      myStages.filter(s => js.contains(s.stageId)).map(_.inputRecords.toDouble).sum
    }
    val childTime = done.groupBy(_.parent).map { case (p, cs) => p -> cs.map(dur).sum }
    def selfOf(layer: String) =
      done.filter(_.layer == layer).map(s => dur(s) - childTime.getOrElse(s.id, 0.0)).sum / nOps
    val opTime = ops.map(o => (o.endNs - o.startNs) / 1e9).sum
    val topTime = done.filter(_.parent < 0).map(dur).sum
    val commits = named("commit").map(dur).toSeq.sorted
    def jobTime(pred: String => Boolean) =
      myJobs.filter(j => pred(j.site)).map(j => (jobEnd(j) - j.startMs) / 1000.0).sum / nOps
    val corpusSites = Seq("CorpusPipeline", "Dedup", "TotalOrder")

    val m = mutable.LinkedHashMap[String, Double](
      "spark.jobs_per_op" -> myJobs.size / nOps,
      "spark.tasks_per_op" -> myStages.map(_.numTasks.toDouble).sum / nOps,
      "spark.driver_gap_s" -> gaps.sum / nOps,
      "catalyst.analysis_ms" -> myPhases.map(_.analysisMs).sum / nOps,
      "catalyst.optimization_ms" -> myPhases.map(_.optimizationMs).sum / nOps,
      "catalyst.planning_ms" -> myPhases.map(_.planningMs).sum / nOps,
      "spark.shuffle_write_bytes" -> myStages.map(_.shuffleWrite.toDouble).sum / nOps,
      "spark.shuffle_read_bytes" -> myStages.map(_.shuffleRead.toDouble).sum / nOps,
      "spark.spill_bytes" -> myStages.map(_.spill.toDouble).sum / nOps,
      "spark.input_records" -> myStages.map(_.inputRecords.toDouble).sum / nOps,
      "spark.task_skew" -> (if (skews.isEmpty) 1.0 else Stats.median(skews)),
      "spark.gc_s" -> myStages.map(_.gcMs.toDouble).sum / 1000.0 / nOps,
      "store.commit_p50_s" -> Stats.percentile(commits, 50),
      "store.commit_tail_s" -> Stats.percentile(commits, 90),
      "store.files_added_per_commit" -> counts("store.files_added") / math.max(counts("store.commits"), 1),
      "store.bytes_written_per_row" -> counts("store.bytes_written") / math.max(counts("store.rows_committed"), 1),
      "store.maintenance_s" -> perCall("maintenance"),
      "store.maintenance_bytes_rewritten" -> counts("store.maintenance_bytes_rewritten"),
      "store.point_read_s" -> perCall("point_read"),
      "store.point_records_read_per_hit" ->
        recordsIn(Set("point_read")) / math.max(counts("store.point_hits"), 1),
      "store.range_read_s" -> perCall("range_read"),
      "ingest.fetch_normalize_s" -> perOp("fetch_normalize"),
      "ops.ohlc_s" -> perOp("ohlc"),
      "ops.enrich_s" -> perOp("enrich"),
      "ops.extended_s" -> perOp("extended"),
      "quality.checks_s" -> perOp("checks"),
      "report.render_s" -> perOp("render"),
      "corpus.prepare_s" -> perOp("prepare"),
      "corpus.jobs_s.CorpusPipeline" -> jobTime(_.contains("CorpusPipeline.scala")),
      "corpus.jobs_s.Dedup" -> jobTime(_.contains("Dedup.scala")),
      "corpus.jobs_s.TotalOrder" -> jobTime(_.contains("TotalOrder.scala")),
      "corpus.jobs_s.other" -> (if (named("prepare").isEmpty) 0.0
        else jobTime(s => !corpusSites.exists(c => s.contains(c + ".scala")))),
      "index.refresh_s" -> perCall("index_refresh"),
      "index.bm25_probe_s" -> perCall("bm25_probe"),
      "index.ivf_probe_s" -> perCall("ivf_probe"),
      "index.probe_records_per_result" ->
        recordsIn(Set("bm25_probe", "ivf_probe", "fused_probe")) / math.max(counts("index.results"), 1))
    Layers.foreach(l => m(s"self_s.$l") = selfOf(l))
    m("self_s.bench") = math.max(0.0, opTime - topTime) / nOps
    m("trace.spans") = done.size.toDouble
    extra.foreach { case (k, v) => m(k) = v }
    m.toSeq
  }

  /** Spans as JSON lines: name, layer, start, end, parent, op id. */
  def spanLines: Iterator[String] = spans.iterator.map(s =>
    s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"layer":"${s.layer}",""" +
      s""""name":"${s.name}","start_ns":${s.startNs},"end_ns":${s.endNs}}""")
}

object Probe {
  val OpKey = "perfbench.op"
  val SpanKey = "perfbench.span"
  val Layers = Seq("ingest", "store", "ops", "quality", "report", "ext")

  final case class Span(id: Int, parent: Int, op: Int, layer: String, name: String,
                        startNs: Long, endNs: Long)
  final case class OpRec(id: Int, startNs: Long, endNs: Long, startMs: Long, endMs: Long)
  final case class JobRec(jobId: Int, startMs: Long, op: Int, span: Int, site: String, stageIds: Seq[Int])
  final case class StageRec(stageId: Int, numTasks: Int, shuffleWrite: Long, shuffleRead: Long,
                            spill: Long, inputRecords: Long, gcMs: Long)
  final case class PhaseRec(op: Int, analysisMs: Double, optimizationMs: Double, planningMs: Double)

  /** Parquet data files under a table directory, with their sizes. */
  def dataFiles(path: String): Map[String, Long] = {
    val root = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.exists(root)) Map.empty
    else {
      val s = java.nio.file.Files.walk(root)
      try s.iterator().asScala.filter(p => p.toString.endsWith(".parquet") &&
          java.nio.file.Files.isRegularFile(p))
        .map(p => p.toString -> java.nio.file.Files.size(p)).toMap
      finally s.close()
    }
  }

  /** Bytes of every file under `path`. */
  def treeBytes(path: String): Long = {
    val root = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.exists(root)) 0L
    else {
      val s = java.nio.file.Files.walk(root)
      try s.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
        .map(java.nio.file.Files.size).sum
      finally s.close()
    }
  }

  /** Total GC seconds and JIT milliseconds since JVM start. */
  def jvmCounters(): (Double, Double) = {
    val gc = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1000.0
    val jit = Option(ManagementFactory.getCompilationMXBean).map(_.getTotalCompilationTime.toDouble).getOrElse(0.0)
    (gc, jit)
  }

  /** Old-generation bytes in use after the most recent collection. */
  def oldGenAfterGc(): Long =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getType == java.lang.management.MemoryType.HEAP && p.getName.contains("Old"))
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum
}
