package perfbench

import java.sql.Date

import scala.collection.mutable

import graft.ext.{Retrieval, Similarity, TextAnalysis, TextIndex, VectorIndex}
import graft.ops.Indicators
import graft.store.Warehouse
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** `serve_mixed`: a read-heavy request loop against tables and indexes
  * built during set-up — bloom-indexed point lookups favouring recent
  * keys, 60-day report range reads, BM25 / IVF / fused top-k searches —
  * with a write tick in every `tickEvery` ops that appends to the tables
  * and refreshes every index.
  *
  * The mix is a fixed cycle (`Cycle`); the seed draws the keys, terms
  * and query vectors. A run measures only eighteen requests, and a fixed
  * cycle gives every run the same composition from seed to seed.
  *
  * Layout: lookups probe `id`, which [[Gen.tickKey]] scatters over the
  * whole key range, and every file of the ticks table — the eight
  * written at set-up and the one each write tick appends — is
  * hash-partitioned on `ts_utc` and holds about `tickBatch` rows. Every
  * file spans the whole id range, so only the bloom index can skip files
  * and `store.point_records_read_per_hit` measures pruning, not
  * clustering or file size. The report table is range-partitioned on
  * `date`. */
final class ServeMixed(spark: SparkSession, probe: Probe, seed: Long, scale: Double) extends Workload {
  import spark.implicits._

  private val nTicks = math.max(2000L, (10000 * scale).round)
  private val assets = 16
  private val days = 90
  private val nDocs = math.max(300, (500 * scale).round.toInt)
  private val dim = 32
  private val clusters = 24
  private val tickBatch = 1250
  private val docBatch = 40
  private val tickEvery = 10
  private val Cycle = Seq("point", "report", "point", "bm25", "point", "ivf", "point", "fused", "report")

  private var ticks, metrics, docs, textIdx, vecIdx = ""
  private var vocab: Array[String] = Array.empty
  private var ticksVersion, docsVersion = 0L
  private var maxTick, maxDoc = 0L
  private var buildS = 0.0
  private val lookups = mutable.ArrayBuffer.empty[(Long, Long, Seq[Row])]
  private val bm25Samples = mutable.ArrayBuffer.empty[(Int, Seq[String], Long, Seq[Row])]
  private val ivfSamples = mutable.ArrayBuffer.empty[(DataFrame, Long, Seq[Long])]

  /** Tick rows `from` until `until`, hash-partitioned on `ts_utc` into
    * `files` files. */
  private def tickRows(from: Long, until: Long, files: Int): DataFrame = {
    val (s, a) = (seed, assets)
    spark.range(from, until, 1, 4).as[Long].map(n => Gen.tick(s, n, a))
      .toDF("id", "asset", "ts_ms", "price")
      .select(col("id"), col("asset"), timestamp_millis(col("ts_ms")).as("ts_utc"), col("price"))
      .repartition(files, col("ts_utc"))
  }

  private def docRows(from: Long, until: Long): DataFrame = {
    val (s, d, c) = (seed, dim, clusters)
    spark.range(from, until, 1, 4).as[Long].mapPartitions { ids =>
      val v = Gen.vocabulary(s, 4000)
      ids.map(id => Gen.searchDoc(s, id, v, d, c))
    }.toDF("doc_id", "text", "embedding")
  }

  def setup(dir: String): Unit = {
    Gen.writeFacts(s"$dir/inputs", Gen.ServeFacts(seed, nTicks, assets, days, nDocs, dim, clusters,
      tickBatch, docBatch))
    val f = Gen.readFacts(s"$dir/inputs", classOf[Gen.ServeFacts])
    val wh = s"$dir/warehouse"
    ticks = s"$wh/ticks"; metrics = s"$wh/daily_metrics"; docs = s"$wh/docs"
    textIdx = s"$wh/text_index"; vecIdx = s"$wh/ivf_index"
    vocab = Gen.vocabulary(seed, 4000)
    lookups.clear(); bm25Samples.clear(); ivfSamples.clear()

    Warehouse.writeSnapshot(tickRows(0, f.ticks, math.max(1, (f.ticks / tickBatch).toInt)), ticks)
    ticksVersion = Warehouse.indexSnapshot(spark, ticks, "id")
    maxTick = f.ticks - 1

    val (s, n, d) = (seed, f.assets, f.days)
    val closes = spark.range(0, n, 1, 4).as[Long].flatMap { a =>
      (0 until d).map(i => (Date.valueOf(Gen.dayOf(i).toString), Gen.assetName(a.toInt),
        Gen.hourlyPrice(s, a.toInt, i, 23)))
    }.toDF("date", "asset", "close")
    Warehouse.writeSnapshot(Indicators.enrich(closes).select("date", "asset", "close", "ma7", "ma30")
      .repartitionByRange(4, col("date")), metrics)

    docsVersion = Warehouse.writeSnapshot(docRows(0, f.docs), docs)
    maxDoc = f.docs - 1L
    val t0 = System.nanoTime()
    val corpus = Warehouse.readSnapshot(spark, docs)
    // the two indexes are disjoint tables: build them side by side
    val ivf = scala.concurrent.Future(VectorIndex.buildIvfIndex(
      corpus.select(col("doc_id").as("vec_id"), col("embedding")), vecIdx, nlist = 16))(
      scala.concurrent.ExecutionContext.global)
    TextIndex.buildTextIndex(corpus.select("doc_id", "text"), textIdx, bucketCount = 16)
    scala.concurrent.Await.result(ivf, scala.concurrent.duration.Duration.Inf)
    buildS = (System.nanoTime() - t0) / 1e9
  }

  private def terms(r: java.util.SplittableRandom): Seq[String] =
    Seq.fill(2 + r.nextInt(2))(vocab(r.nextInt(400)))

  private def queryVec(qid: Long, r: java.util.SplittableRandom): DataFrame =
    Seq((qid, Gen.vector(seed, r.nextInt(clusters), r, dim))).toDF("vec_id", "embedding")

  /** One full cycle of reads and the first write tick. */
  override def warmupOps: Int = tickEvery + 1
  /** The measured loop runs at least the next two cycles and their ticks. */
  override def measuredOps: Int = 2 * tickEvery

  def op(i: Int): OpResult =
    if (i > 0 && i % tickEvery == 0) { writeTick(); OpResult("tick", 0.0, timed = false) }
    else {
      val r = Gen.rng(seed, 31L, i.toLong)
      val kind = Cycle((i % tickEvery + Cycle.size - 1) % Cycle.size)
      if (kind == "point") {
        // recent rows favoured: the cube pulls draws toward maxTick
        val x = r.nextDouble()
        val key = Gen.tickKey(maxTick - (x * x * x * maxTick).toLong)
        val rows = probe.span("store", "point_read") {
          Warehouse.readSnapshotPoint(spark, ticks, "id", key, Some(ticksVersion)).collect().toSeq
        }
        probe.count("store.point_hits", rows.size)
        lookups += ((key, ticksVersion, rows))
        OpResult("point", 1.0)
      } else if (kind == "report") {
        val asset = Gen.assetName(r.nextInt(assets))
        val end = 60 + r.nextInt(days - 60)
        val rows = probe.span("store", "range_read") {
          Warehouse.readSnapshotRange(spark, metrics, "date",
              Some(Date.valueOf(Gen.dayOf(end - 60).toString)), Some(Date.valueOf(Gen.dayOf(end).toString)))
            .filter(col("asset") === asset).select("date", "close", "ma7", "ma30").collect()
        }
        if (rows.length != 61) throw new IllegalStateException(s"report window held ${rows.length} rows, not 61")
        OpResult("report", 1.0)
      } else {
        val q = terms(r)
        val res = if (kind == "bm25") {
          val rows = probe.span("ext", "bm25_probe") {
            TextIndex.bm25TopKIndexed(spark, textIdx, Seq((i, q)), k = 10).collect().toSeq
          }
          bm25Samples += ((i, q, docsVersion, rows))
          rows
        } else if (kind == "ivf") {
          val qv = queryVec(i.toLong, r)
          val rows = probe.span("ext", "ivf_probe") {
            VectorIndex.ivfTopKIndexed(qv, vecIdx, k = 10, nprobe = 4).collect().toSeq
          }
          if (probe.isTracing) ivfSamples += ((qv, docsVersion, rows.map(_.getAs[Long]("neighbor_id"))))
          rows
        } else {
          val qv = queryVec(i.toLong, r)
          probe.span("ext", "fused_probe") {
            Retrieval.retrieveFused(spark, textIdx, vecIdx, Seq((i, q)), qv, k = 10, depth = 20, nprobe = 4)
              .collect().toSeq
          }
        }
        probe.count("index.results", res.size)
        OpResult("search", 1.0)
      }
    }

  /** Appends a tick batch and a document batch, then refreshes the
    * bloom index, the text index and the IVF index. */
  private def writeTick(): Unit = {
    probe.commit(ticks, tickBatch) {
      ticksVersion = Warehouse.appendSnapshot(tickRows(maxTick + 1, maxTick + 1 + tickBatch, 1), ticks,
        ticksVersion)
    }
    maxTick += tickBatch
    probe.span("store", "index_refresh") {
      Warehouse.refreshIndexSnapshot(spark, ticks).foreach(v => ticksVersion = v)
    }
    probe.commit(docs, docBatch) {
      docsVersion = Warehouse.appendSnapshot(docRows(maxDoc + 1, maxDoc + 1 + docBatch), docs, docsVersion)
    }
    maxDoc += docBatch
    val corpus = Warehouse.readSnapshot(spark, docs, Some(docsVersion))
    probe.span("ext", "index_refresh") {
      TextIndex.refreshTextIndex(corpus.select("doc_id", "text"), textIdx)
    }
    probe.span("ext", "index_refresh") {
      VectorIndex.refreshIvfIndex(corpus.select(col("doc_id").as("vec_id"), col("embedding")), vecIdx)
    }
  }

  def check(): Seq[(String, Boolean)] = {
    val pointOk = lookups.groupBy(_._2).toSeq.map { case (v, ls) =>
      val keys = ls.map(_._1).distinct.toSeq
      val plain = Warehouse.readSnapshot(spark, ticks, Some(v)).filter(col("id").isin(keys: _*))
        .collect().toSeq.groupBy(_.getLong(0))
      ls.count { case (k, _, got) => got.map(_.toString).sorted != plain.getOrElse(k, Nil).map(_.toString).sorted }
    }.sum
    val bm25Bad = bm25Samples.count { case (qid, q, v, got) =>
      val inline = TextAnalysis.bm25TopK(Warehouse.readSnapshot(spark, docs, Some(v)).select("doc_id", "text"),
        Seq((qid, q)), k = 10).select("query_id", "rank", "doc_id", "bm25").collect().toSeq
      inline.map(_.toString).sorted != got.map(_.toString).sorted
    }
    Seq(
      s"${lookups.size} point lookups equal the plain filtered readSnapshot ($pointOk differ)" -> (pointOk == 0),
      s"${bm25Samples.size} sampled BM25 probes equal the inline TextAnalysis.bm25TopK ($bm25Bad differ)" ->
        (bm25Bad == 0))
  }

  /** Mean request latency of each complete cycle, median over the
    * cycles: every request kind contributes, so a gain in any of them
    * moves it, which the median of the mixed requests would not. */
  override def opMs(r: Harness.Loop): Double = {
    val cycles = r.ops.filterNot(o => r.untimed(o.kind)).groupBy(_.i / tickEvery).values
    Stats.median(cycles.filter(_.size == Cycle.size).map(c => c.map(_.ms).sum / c.size).toSeq)
  }

  /** Requests per second with the write tick's cost spread over the
    * requests between ticks, so the figure does not depend on whether
    * the loop stopped just before or just after a tick. */
  override def throughput(r: Harness.Loop): Double = {
    val reads = r.all
    val tick = Stats.median(r.of("tick"))
    reads.size / ((reads.sum + reads.size.toDouble / (tickEvery - 1) * tick) / 1000.0)
  }

  def named(r: Harness.Loop): Seq[(String, Double, String)] = {
    def kind(k: String) = r.latencies.getOrElse(k, Nil)
    Seq("point", "search", "report").flatMap { k =>
      val p = Stats.tailPercentile(kind(k).size)
      Seq((s"serve.${k}_p50_ms", Stats.median(kind(k)), "ms"),
        (s"serve.${k}_tail_ms", Stats.percentile(kind(k), p), s"ms (p$p of ${kind(k).size})"))
    } :+ (("serve.req_per_s", throughput(r), "1/s"))
  }

  override def layerExtras(): Map[String, Double] = {
    val recall = ivfSamples.take(8).map { case (qv, v, got) =>
      val exact = Similarity.bruteForceTopK(qv,
          Warehouse.readSnapshot(spark, docs, Some(v)).select(col("doc_id").as("vec_id"), col("embedding")), k = 10)
        .select("neighbor_id").as[Long].collect().toSet
      got.count(exact).toDouble / math.max(exact.size, 1)
    }
    Map("index.build_s" -> buildS, "index.ivf_recall_at_10" -> Stats.median(recall.toSeq))
  }
}
