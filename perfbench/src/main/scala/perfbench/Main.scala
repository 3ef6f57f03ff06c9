package perfbench

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** What one closed-loop operation did. `kind` groups latencies (the
  * serve mix has several); `items` is the work it completed (days,
  * rows, documents, requests); `timed = false` marks work that runs in
  * the loop but is not a request (serve's write tick). */
final case class OpResult(kind: String, items: Double, timed: Boolean = true)

/** One benchmark workload. `setup` builds every input and table under
  * `dir` from the seed; `op` runs closed-loop operation `i` against
  * them; `check` verifies the outputs after the loop and returns one
  * (name, passed) per check. */
trait Workload {
  /** Ops run before timing starts, so every op kind is past its first,
    * cold execution. */
  def warmupOps: Int = 1
  /** Ops the measured loop runs even past its deadline, so it always
    * sees every op kind the workload's figures are computed from. */
  def measuredOps: Int = 1
  def setup(dir: String): Unit
  def op(i: Int): OpResult
  def check(): Seq[(String, Boolean)]
  /** The gated `op_p50_ms`: median latency of the requests. */
  def opMs(r: Harness.Loop): Double = Stats.median(r.all)
  /** Completed items per second of loop time. */
  def throughput(r: Harness.Loop): Double = r.items / r.busyS
  /** Workload-named end-to-end metrics: (name, value, unit). */
  def named(r: Harness.Loop): Seq[(String, Double, String)]
  /** Per-layer numbers only the workload can compute. */
  def layerExtras(): Map[String, Double] = Map.empty
}

object Harness {

  /** One run's arguments; `scale` shrinks the inputs and `failOp`
    * injects a failure into that op, for the smoke test only. */
  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        work: String, scale: Double = 1.0, failOp: Int = -1)

  /** One completed op: its index, kind and latency in ms. */
  final case class Done(i: Int, kind: String, ms: Double)

  /** The measured part of a run: the completed ops in order, and the
    * kinds that are not requests. */
  final case class Loop(ops: Seq[Done], untimed: Set[String], items: Double) {
    /** Op latencies in ms by kind. */
    val latencies: Map[String, Seq[Double]] = ops.groupBy(_.kind).map { case (k, v) => k -> v.map(_.ms) }
    /** Latencies of every request-like op. */
    def all: Seq[Double] = latencies.filter { case (k, _) => !untimed(k) }.values.flatten.toSeq
    /** Seconds the loop spent inside ops. */
    def busyS: Double = latencies.values.flatten.sum / 1000.0
    def of(kind: String): Seq[Double] = latencies.getOrElse(kind, Nil)
  }

  val SetupReps = 3

  def session(work: String): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "1000000")
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def workload(name: String, spark: SparkSession, probe: Probe, a: Args): Workload = name match {
    case "ingest_daily" => new IngestDaily(spark, probe, a.seed, a.scale)
    case "backfill_history" => new BackfillHistory(spark, probe, a.seed, a.scale)
    case "corpus_prep" => new CorpusPrep(spark, probe, a.seed, a.scale)
    case "serve_mixed" => new ServeMixed(spark, probe, a.seed, a.scale)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  val Workloads = Seq("ingest_daily", "backfill_history", "corpus_prep", "serve_mixed")

  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "op_p50_ms" -> "ms", "throughput_per_s" -> "1/s")

  /** Runs one workload and returns the lines to print, the result
    * object last. */
  def run(a: Args): Seq[String] = {
    val spark = session(a.work)
    try {
      val probe = new Probe(spark)
      val w = workload(a.workload, spark, probe, a)
      val out = mutable.ArrayBuffer.empty[String]
      var attempted = 0
      var failed = 0
      // heap is read after a full collection at the end of set-up and at
      // the end of the loop, so the figure is live data, not GC timing
      var heapPeak = 0L
      def sampleHeap(): Unit = {
        // the second collection frees what Spark's cleaner released
        // after the first one reclaimed the dead checkpoints
        System.gc()
        Thread.sleep(300)
        System.gc()
        heapPeak = math.max(heapPeak, Probe.oldGenAfterGc())
      }

      // set-up runs several times, each into a fresh directory; the
      // loop runs against the last one, and setup_s is the median
      val setups = (1 to SetupReps).map { r =>
        val t0 = System.nanoTime()
        w.setup(s"${a.work}/setup-$r")
        (System.nanoTime() - t0) / 1e9
      }
      sampleHeap()

      var next = 0
      def loop(seconds: Double, minOps: Int = 1): Loop = {
        val done = mutable.ArrayBuffer.empty[Done]
        val untimed = mutable.Set.empty[String]
        var items = 0.0
        var n = 0
        val t0 = System.nanoTime()
        val deadline = t0 + (seconds * 1e9).toLong
        while (n < minOps || System.nanoTime() < deadline) {
          val i = next
          next += 1
          attempted += 1
          n += 1
          val s = System.nanoTime()
          try {
            probe.beginOp(i)
            if (i == a.failOp) throw new IllegalStateException(s"injected failure in op $i")
            val r = w.op(i)
            probe.endOp()
            val ms = (System.nanoTime() - s) / 1e6
            done += Done(i, r.kind, ms)
            if (!r.timed) untimed += r.kind
            items += r.items
            System.err.println(f"[perfbench] op $i ${r.kind} $ms%.1f ms")
          } catch {
            case NonFatal(e) =>
              probe.endOp()
              failed += 1
              System.err.println(s"[perfbench] op $i failed: $e")
          }
        }
        Loop(done.toSeq, untimed.toSet, items)
      }

      loop(0, w.warmupOps) // warm-up ops are checked like the rest
      val (gc0, jit0) = Probe.jvmCounters()
      val (measured, overheadMs) =
        if (!a.trace) (loop(a.seconds, w.measuredOps), 0.0)
        else {
          // the traced run measures its first half untraced and its
          // second half traced; the op_p50_ms difference is the overhead
          val plain = loop(a.seconds / 2, w.measuredOps)
          probe.start()
          val traced = loop(a.seconds / 2, w.measuredOps)
          probe.stop()
          (traced, w.opMs(traced) - w.opMs(plain))
        }
      val (gc1, jit1) = Probe.jvmCounters()

      sampleHeap()
      val checks = w.check()
      attempted += checks.size
      checks.filterNot(_._2).foreach { case (n, _) =>
        failed += 1
        System.err.println(s"[perfbench] check failed: $n")
      }

      val all = measured.all
      val e2e = Seq(
        "setup_s" -> Stats.median(setups),
        "op_p50_ms" -> w.opMs(measured),
        "throughput_per_s" -> w.throughput(measured))
      val units = EndToEnd.toMap
      e2e.foreach { case (k, v) => out += f"# $k%-34s $v%14.4f ${units(k)}" }
      out += f"# ${"failed_frac"}%-34s ${failed.toDouble / attempted}%14.4f frac"
      out += f"# ${"heap_peak_mb"}%-34s ${heapPeak / 1048576.0}%14.4f MB"
      w.named(measured).foreach { case (k, v, u) => out += f"# $k%-34s $v%14.4f $u" }
      out += s"# measured ${all.size} requests; setup runs: ${setups.map(x => f"$x%.3f").mkString(", ")}"
      checks.foreach { case (n, ok) => out += s"# check ${if (ok) "pass" else "FAIL"} $n" }

      val metrics =
        if (!a.trace) e2e.map { case (k, v) => (k, v, units(k)) }
        else {
          val extras = w.layerExtras() ++ Map(
            "jvm.gc_s" -> (gc1 - gc0), "jvm.compile_ms" -> (jit1 - jit0),
            "trace.overhead_ms" -> overheadMs)
          val layer = probe.layerMetrics(extras).toMap
          writeSpans(a, probe)
          // the unlisted workloads' own layers print but stay out of the result
          UnlistedLayer.foreach { case (k, u) => out += f"# $k%-34s ${layer.getOrElse(k, 0.0)}%14.6f $u" }
          PerLayer.map { case (k, u) => (k, layer.getOrElse(k, 0.0), u) }
        }
      if (a.trace) metrics.foreach { case (k, v, u) => out += f"# $k%-34s $v%14.6f $u" }
      val body = metrics.map { case (k, v, u) => s""""$k": {"value": ${num(v)}, "unit": "$u"}""" }
      out += s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, """ +
        s""""metrics": {${body.mkString(", ")}}}"""
      out.toSeq
    } finally spark.stop()
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0.0" else java.lang.Double.toString(v)

  private def writeSpans(a: Args, probe: Probe): Unit = {
    val w = java.nio.file.Files.newBufferedWriter(java.nio.file.Paths.get(a.work, "spans.jsonl"))
    try probe.spanLines.foreach { l => w.write(l); w.newLine() } finally w.close()
  }

  /** Every per-layer metric BENCHMARK.json declares, with its unit; a
    * workload that does not exercise a layer reports 0 for it. */
  val PerLayer: Seq[(String, String)] = Seq(
    "spark.jobs_per_op" -> "count", "spark.tasks_per_op" -> "count",
    "spark.driver_gap_s" -> "s", "catalyst.analysis_ms" -> "ms",
    "catalyst.optimization_ms" -> "ms", "catalyst.planning_ms" -> "ms",
    "spark.shuffle_write_bytes" -> "bytes", "spark.shuffle_read_bytes" -> "bytes",
    "spark.spill_bytes" -> "bytes", "spark.input_records" -> "count",
    "spark.task_skew" -> "ratio", "spark.gc_s" -> "s",
    "store.commit_p50_s" -> "s", "store.commit_tail_s" -> "s",
    "store.files_added_per_commit" -> "count", "store.bytes_written_per_row" -> "bytes",
    "store.maintenance_s" -> "s", "store.maintenance_bytes_rewritten" -> "bytes",
    "store.point_read_s" -> "s", "store.point_records_read_per_hit" -> "ratio",
    "store.range_read_s" -> "s",
    "ingest.fetch_normalize_s" -> "s", "ops.ohlc_s" -> "s", "ops.enrich_s" -> "s",
    "quality.checks_s" -> "s", "report.render_s" -> "s",
    "index.build_s" -> "s", "index.refresh_s" -> "s", "index.bm25_probe_s" -> "s",
    "index.ivf_probe_s" -> "s", "index.probe_records_per_result" -> "ratio",
    "index.ivf_recall_at_10" -> "ratio",
    "jvm.gc_s" -> "s", "jvm.compile_ms" -> "ms",
    "self_s.ingest" -> "s", "self_s.store" -> "s", "self_s.ops" -> "s",
    "self_s.quality" -> "s", "self_s.report" -> "s", "self_s.ext" -> "s",
    "self_s.bench" -> "s", "trace.overhead_ms" -> "ms", "trace.spans" -> "count")

  /** Layers only corpus_prep and backfill_history exercise. Both are out
    * of BENCHMARK.json, so a traced run prints these but leaves them out
    * of the result. */
  val UnlistedLayer: Seq[(String, String)] = Seq(
    "ops.extended_s" -> "s", "corpus.prepare_s" -> "s", "corpus.jobs_s.CorpusPipeline" -> "s",
    "corpus.jobs_s.Dedup" -> "s", "corpus.jobs_s.TotalOrder" -> "s",
    "corpus.jobs_s.other" -> "s", "dedup.planted_recall" -> "ratio")
}

object Main {
  def parse(argv: Array[String]): Harness.Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Harness.Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("work"))
  }

  def main(argv: Array[String]): Unit = {
    val lines = Harness.run(parse(argv))
    lines.foreach(println)
    System.out.flush()
  }
}
