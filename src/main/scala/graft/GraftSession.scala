package graft

import org.apache.spark.sql.SparkSession

/** The one place a `SparkSession` is built. `Bench`, `Verify`, the test
  * session and the probes all call [[build]], so a profile or a spec runs
  * on exactly the engine configuration the bench measures.
  */
object GraftSession {

  /** `SPARK_GRAFT_CPUS` if set, otherwise every core the JVM sees. */
  private def defaultCpus: Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)

  def build(cpus: Int = defaultCpus): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      // Raise the object-hash-agg fallback threshold (default 128
      // in-memory keys!) so collect_list/collect_set aggregations — the
      // posting-list build in the dedup family — stay hash-based
      // instead of degenerating to a per-partition sort (measured
      // −0.5 s on q_dedup_ngram at sf0.1). Memory-safe here because
      // posting lists are bounded by dfCap; the sort fallback remains
      // available past 1M groups per task.
      // NOTE (r4): byte-based AQE coalesce tuning (parallelismFirst=
      // false + small advisory size) was measured and REJECTED: it
      // cut 10-20% off tiny 150-row shuffles but cost 2x on the
      // CPU-heavy explode/agg queries whose shuffles are small in
      // bytes but large in work (36.4 s vs 30.9 s full-suite).
      // NOTE (r6): two more floor levers measured and REJECTED for the
      // same reason — they help the 25-query floor subset ~1.1 s but
      // cost the 15 byte-heavy queries the same 1.1 s back:
      // spark.shuffle.compress=false (posting-list/pair shuffles are
      // LZ4-friendly; raw blocks cost more IO than the codec saves)
      // and spark.sql.autoBroadcastJoinThreshold=64m (20 MB build
      // sides broadcast fine for dim joins but serialize the big
      // dedup/cluster join builds into every task).
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "1000000")
      // r16 (codegen): Spark's whole-stage/expression codegen
      // compile cache holds only 100 classes by default — a 237-query
      // suite evicts EVERYTHING between passes, so min-of-passes was
      // measuring Janino RE-compilation on every pass of every query,
      // not the queries. Sized to hold the suite's distinct codegen
      // units, pass 2+ reuses pass 1's compiled classes. Measured
      // (15-key subset, 3 passes, min-of-passes): 37.8 s → 23.5 s
      // (−38%), every key faster (q_graph_pagerank 2.96 → 1.18,
      // q_update_dv 4.40 → 2.51, q_ma7 0.54 → 0.24), floor 0.112 →
      // 0.099. NOT a local-mode trick: cache pressure is per-driver
      // JVM and core-count-independent, and a production service
      // re-planning the same query shapes wants exactly this. Caches
      // compiled BYTECODE keyed on generated source — never data, so
      // every invocation still computes from the parquet inputs.
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
