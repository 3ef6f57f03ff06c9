package graft.tools

import graft.{Bench, GraftSession, SparkEntry}
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

import scala.collection.mutable

/** The probe tool: runs declared `SparkEntry.queries` keys through
  * Bench's own per-key run step ([[graft.Bench.runOnce]]) on the bench's
  * session ([[graft.GraftSession]]), so what it measures is what the
  * bench measures. Two modes:
  *
  *  - `profile <sfDir> <q_a,q_b> [runs=3]` — per run: wall time, Spark
  *    job count, job-sum, driver-gap (wall time no job covers: planning,
  *    manifest and footer reads, listing), time per call site and the
  *    slowest jobs with their task counts; then one extra run split into
  *    build+analyze / physical planning / execution.
  *  - `ab <sfDir> <q_a,q_b> <k=v;k2=v2> [pairs=6]` — same-JVM interleaved
  *    A/B of runtime SQL confs: A is the session as built, B sets the
  *    confs. Each pair runs both sides, alternating which goes first, so
  *    JIT/GC warm-up cannot favour one side. Prints each side's median
  *    and quartiles and how many pairs B won. A static conf cannot be
  *    set on a live session, so it fails before any timing.
  *
  * Usage: `sbt "Test/runMain graft.tools.Probe profile <sfDir> q_update_dv"`
  */
object Probe {
  private val usage =
    "usage: Probe profile <sfDir> <keys> [runs] | Probe ab <sfDir> <keys> <k=v;...> [pairs]"

  def main(args: Array[String]): Unit = {
    require(args.length >= 3, usage)
    val Array(mode, sfDir, keyArg) = args.take(3)
    val keys = keyArg.split(",").toSeq
    keys.filterNot(SparkEntry.queries.contains) match {
      case Seq() =>
      case unknown => sys.error(s"unknown keys: ${unknown.mkString(",")}")
    }
    val spark = GraftSession.build()
    try {
      // warm the JVM/codegen/scheduler path and stage the cross-key
      // tables outside the timed region, as Bench does
      spark.range(1000).selectExpr("sum(id)").collect()
      SparkEntry.prestage(spark, sfDir)
      mode match {
        case "profile" => profile(spark, sfDir, keys, args.lift(3).fold(3)(_.toInt))
        case "ab" =>
          require(args.length >= 4, usage)
          val confs = args(3).split(";").toSeq.filter(_.nonEmpty).map { kv =>
            kv.split("=", 2) match {
              case Array(k, v) => k.trim -> v.trim
              case _ => throw new IllegalArgumentException(s"not k=v: '$kv'")
            }
          }
          ab(spark, sfDir, keys, confs, args.lift(4).fold(6)(_.toInt))
        case _ => sys.error(usage)
      }
    } finally spark.stop()
  }

  /** Bench's run step; a key that throws stops the probe. */
  private def run(spark: SparkSession, sfDir: String, key: String): Double =
    Bench.runOnce(spark, sfDir, key)
      .fold(e => throw new RuntimeException(s"$key failed", e), identity)

  private def since(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private final case class Job(id: Int, site: String, start: Long, tasks: Int, var end: Long = -1) {
    def secs: Double = (end - start) / 1e3
  }

  def profile(spark: SparkSession, sfDir: String, keys: Seq[String], runs: Int): Unit = {
    // a job is attributed to the call site ("op at File.scala:line") of
    // the SQL action that ran it — AQE submits query stages from a pool
    // thread, whose own stage names only say CompletableFuture — or,
    // outside SQL, to its last stage's call site
    val jobs = mutable.LinkedHashMap[Int, Job]()
    val actions = mutable.Map[String, String]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart =>
          jobs.synchronized(actions(s.executionId.toString) = s.description)
        case _ =>
      }
      override def onJobStart(js: SparkListenerJobStart): Unit = jobs.synchronized {
        val stages = js.stageInfos.sortBy(_.stageId)
        val site = Option(js.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
          .flatMap(actions.get).getOrElse(stages.lastOption.fold("?")(_.name))
        jobs(js.jobId) = Job(js.jobId, site, js.time, stages.map(_.numTasks).sum)
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = jobs.synchronized {
        jobs.get(je.jobId).foreach(_.end = je.time)
      }
    })
    for (key <- keys) {
      for (r <- 1 to runs) {
        jobs.synchronized { jobs.clear(); actions.clear() }
        val wall = run(spark, sfDir, key)
        Thread.sleep(300) // the listener bus is asynchronous
        val done = jobs.synchronized(jobs.values.filter(_.end > 0).toSeq)
        val jobSum = done.map(_.secs).sum
        // jobs can overlap (concurrent commit chains), so the gap is
        // wall minus the union of job intervals, not minus jobSum
        val covered = done.sortBy(_.start).foldLeft((0L, Long.MinValue)) { case ((acc, edge), j) =>
          (acc + math.max(0L, j.end - math.max(j.start, edge)), math.max(edge, j.end))
        }._1 / 1e3
        println(f"%n=== $key run $r wall=$wall%.2f s, ${done.size} jobs, " +
          f"jobSum=$jobSum%.2f s, driver-gap=${wall - covered}%.2f s ===")
        done.groupBy(_.site).toSeq.map { case (site, js) => (site, js.size, js.map(_.secs).sum) }
          .sortBy(-_._3).filter(_._3 >= 0.01)
          .foreach { case (site, n, s) => println(f"  $s%7.3f s  n=$n%-4d $site") }
        for (j <- done.sortBy(-_.secs).take(8) if j.secs >= 0.05)
          println(f"    job ${j.id}%-4d ${j.secs}%6.3f s tasks=${j.tasks}%-5d ${j.site}")
      }
      // one extra run, split into its phases; the noop write plans the
      // query again, so execute includes a second planning pass
      System.gc()
      var t0 = System.nanoTime()
      val df = SparkEntry.queries(key)(spark, sfDir)
      val build = since(t0)
      t0 = System.nanoTime()
      df.queryExecution.executedPlan
      val plan = since(t0)
      t0 = System.nanoTime()
      df.write.mode("overwrite").format("noop").save()
      val execute = since(t0)
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
      spark.sharedState.cacheManager.clearCache()
      println(f"=== $key split: build+analyze=$build%.3f s, plan=$plan%.3f s, execute=$execute%.3f s ===")
    }
  }

  def ab(spark: SparkSession, sfDir: String, keys: Seq[String],
         confs: Seq[(String, String)], pairs: Int): Unit = {
    val base = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    def side(b: Boolean): Unit =
      if (b) confs.foreach { case (k, v) => spark.conf.set(k, v) }
      else base.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    def time(key: String, b: Boolean): Double = { side(b); run(spark, sfDir, key) }
    side(true) // a static or core conf throws here, before any timing
    side(false)
    def stats(xs: Seq[Double]): String = {
      val s = xs.sorted
      def q(p: Double) = {
        val i = p * (s.size - 1)
        s(i.toInt) + (i - i.toInt) * (s(math.min(i.toInt + 1, s.size - 1)) - s(i.toInt))
      }
      f"median ${q(0.5)}%.3f s [q1 ${q(0.25)}%.3f, q3 ${q(0.75)}%.3f]"
    }
    println(s"B = ${confs.map { case (k, v) => s"$k=$v" }.mkString("; ")}")
    for (key <- keys) {
      time(key, b = false); time(key, b = true) // warm both sides
      val samples = (1 to pairs).map { p =>
        if (p % 2 == 1) { val a = time(key, b = false); (a, time(key, b = true)) }
        else { val b = time(key, b = true); (time(key, b = false), b) }
      }
      side(false)
      val wins = samples.count { case (a, b) => b < a }
      println(f"$key%-28s A ${stats(samples.map(_._1))}  B ${stats(samples.map(_._2))}  B won $wins/$pairs")
    }
  }
}
