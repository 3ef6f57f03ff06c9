package perfbench

import java.sql.{Date, Timestamp}

import graft.ingest.BinanceSource
import graft.ingest.BinanceSource.{FetchSpec, Fetcher}
import graft.model.Schemas
import graft.ops.{Indicators, Normalize, Ohlc}
import graft.quality.Checks
import graft.report.PngChart
import graft.store.Warehouse
import graft.store.Warehouse.{InsertWhen, MaintenancePolicy, UpdateWhen}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** `ingest_daily`: the reference DAG as a multi-asset catch-up replay on
  * the snapshot warehouse. Two of every three ops are a day-batch
  * through ingest → store → ops → quality → report; the other is a late
  * correction of an earlier day plus a maintenance tick. Small batches
  * put the cost in driver planning and the commit path. */
final class IngestDaily(spark: SparkSession, probe: Probe, seed: Long, scale: Double) extends Workload {
  import spark.implicits._

  private val assets = math.max(2, (64 * scale).round.toInt)
  private val historyDays = 40
  private val liveDays = 100

  private var facts: Gen.IngestFacts = _
  private var byDay: Map[String, Gen.DayFacts] = Map.empty
  private var root = ""
  private def raw = s"$root/raw_prices"
  private def metrics = s"$root/daily_metrics"
  private var done = 0
  private val corrections = scala.collection.mutable.ArrayBuffer.empty[Gen.Correction]
  private var reportDir = ""

  private val OhlcKey = Seq("date", "asset", "open", "high", "low", "close")
  private val maintenance = MaintenancePolicy(targetFileBytes = 256L << 10)

  private def prices(rows: DataFrame): DataFrame =
    rows.toDF("ts_ms", "asset", "price")
      .select(timestamp_millis(col("ts_ms")).as("ts_utc"), col("asset"), col("price"))

  def setup(dir: String): Unit = {
    val inputs = s"$dir/inputs"
    Gen.writeFacts(inputs, Gen.ingestFacts(seed, assets, historyDays, liveDays))
    facts = Gen.readFacts(inputs, classOf[Gen.IngestFacts])
    byDay = facts.days.map(f => Gen.dayOf(f.day).toString -> f).toMap
    root = s"$dir/warehouse"
    reportDir = s"$dir/reports"
    done = 0
    corrections.clear()
    val (s, h, n) = (seed, historyDays, assets)
    val history = prices(spark.range(0, n, 1, math.min(n, 16)).as[Long]
      .flatMap(a => Gen.historyRows(s, a.toInt, h).toSeq).toDF())
    Warehouse.writeSnapshot(history.repartitionByRange(12, col("ts_utc")), raw)
    val daily = Indicators.enrich(Ohlc.daily(Warehouse.readSnapshot(spark, raw)))
      .select(Schemas.dailyMetricsSchema.fieldNames.map(col).toIndexedSeq: _*)
    Warehouse.writeSnapshot(daily.repartitionByRange(4, col("date")), metrics)
  }

  private def fetcher: Fetcher = new IngestDaily.GenFetcher(seed, byDay)

  private def dayBounds(day: Int): (Timestamp, Timestamp) =
    (new Timestamp(Gen.hourMs(day, 0)), new Timestamp(Gen.hourMs(day, 23)))

  // the warm-up op is a day-batch and the measured loop starts with a
  // correction followed by a day-batch
  override def measuredOps: Int = 2

  def op(i: Int): OpResult =
    if (i % 3 == 1) {
      correct(facts.days(done - 1))
      OpResult("correction", 0.0, timed = false)
    } else {
      day(facts.days(done))
      done += 1
      OpResult("day", 1.0)
    }

  /** Days per second of the steady mix: two day-batches per correction,
    * from the median latency of each, so the figure does not depend on
    * which op the loop stopped after. */
  override def throughput(r: Harness.Loop): Double =
    2000.0 / (2 * Stats.median(r.of("day")) + Stats.median(r.of("correction")))

  private def day(f: Gen.DayFacts): Unit = {
    val dayStr = Gen.dayOf(f.day).toString
    val day = Date.valueOf(dayStr)
    val (lo, hi) = dayBounds(f.day)

    // fetchMany is the multi-asset form of fetchDay: one task per
    // (asset, day) spec, one plan for the whole day
    val batch = probe.span("ingest", "fetch_normalize") {
      val fetched = BinanceSource.fetchMany(spark, fetcher,
          (0 until assets).map(a => FetchSpec(Gen.assetName(a), dayStr)))
        .select(Normalize.epochMsToTs(col("open_time")).as("ts_utc"), col("asset"),
          Normalize.castPrice(col("close")).as("price"))
      Normalize.dedupKeepFirst(fetched, keys = Seq("ts_utc", "asset"), order = Seq("price"))
        .localCheckpoint(true)
    }
    val rows = (0 until assets).map(a => Gen.hoursOf(f, Gen.assetName(a))).sum.toLong
    probe.commit(raw, rows) {
      Warehouse.mergeIntoSnapshot(spark, raw, batch, Seq("ts_utc", "asset"),
        Seq(InsertWhen(lit(true))), scanBound = Some(("ts_utc", Some(lo), Some(hi))))
    }
    val ohlc = probe.stage("ops", "ohlc")(Ohlc.daily(batch))
    val history = Warehouse.readSnapshotRange(spark, metrics, "date",
        Some(Date.valueOf(day.toLocalDate.minusDays(45))), Some(Date.valueOf(day.toLocalDate.minusDays(1))))
      .select(OhlcKey.map(col): _*)
    val enriched = probe.stage("ops", "enrich")(Indicators.enrichIncremental(history, ohlc))
    upsert(enriched, (day, day), insert = true)

    probe.span("quality", "checks") {
      val under = Checks.underfilledDays(batch).select("asset").as[String].collect().toSet
      if (under != f.underfilledAsset.toSet)
        throw Checks.CheckFailure(s"$dayStr: under-filled $under, planted ${f.underfilledAsset}")
      val recent = Warehouse.readSnapshotRange(spark, metrics, "date",
        Some(Date.valueOf(day.toLocalDate.minusDays(39))), Some(day))
      Checks.requireOhlcPresent(recent, dayStr, f.dupAsset)
      Checks.requireIndicatorsWarm(recent)
    }

    val asset = Gen.assetName(f.day % assets)
    val window = probe.span("store", "range_read") {
      Warehouse.readSnapshotRange(spark, metrics, "date",
          Some(Date.valueOf(day.toLocalDate.minusDays(60))), Some(day))
        .filter(col("asset") === asset).select("date", "close", "ma7", "ma30").orderBy("date").collect()
    }
    probe.span("report", "render") {
      def series(c: Int) = window.map(r => if (r.isNullAt(c)) None else Some(r.getDouble(c))).toSeq
      val png = PngChart.lineChart(window.map(_.getDate(0).toString).toSeq,
        Seq("close" -> series(1), "ma7" -> series(2), "ma30" -> series(3)),
        s"$asset $dayStr close/ma7/ma30 (trailing 60d)")
      val out = java.nio.file.Paths.get(reportDir, s"${asset}_$dayStr.png")
      java.nio.file.Files.createDirectories(out.getParent)
      java.nio.file.Files.write(out, png)
    }

  }

  /** Lands `src` rows on daily_metrics by (date, asset); every matched
    * date lies within `dates`. */
  private def upsert(src: DataFrame, dates: (Date, Date), insert: Boolean): Unit = {
    val cols = Schemas.dailyMetricsSchema.fieldNames.toSeq.drop(2)
    val clauses = UpdateWhen(lit(true), cols.map(c => c -> col(s"s.$c")).toMap) +:
      (if (insert) Seq(InsertWhen(lit(true))) else Nil)
    probe.commit(metrics, assets) {
      Warehouse.mergeIntoSnapshot(spark, metrics, src.select(("date" +: "asset" +: cols).map(col): _*),
        Seq("date", "asset"), clauses, scanBound = Some(("date", Some(dates._1), Some(dates._2))))
    }
  }

  /** The late restatement day `f` carries, of one hourly price three
    * days earlier: a deletion-vector update of raw_prices, then that
    * day's OHLC and the indicators of every row whose windows see it
    * re-landed in one commit, then a maintenance tick. */
  private def correct(f: Gen.DayFacts): Unit = {
    val c = f.correction
    val today = Date.valueOf(Gen.dayOf(f.day).toString)
    val ts = new Timestamp(c.tsMs)
    probe.commit(raw, 1) {
      Warehouse.updateWhereDv(spark, raw, col("asset") === c.asset && col("ts_utc") === lit(ts),
        Map("price" -> lit(c.price)), scanBound = Some(("ts_utc", Some(ts), Some(ts))))
    }
    corrections += c
    val d = ((c.tsMs - Gen.hourMs(0, 0)) / 86400000L).toInt
    val (lo, hi) = dayBounds(d)
    val restated = probe.stage("ops", "ohlc") {
      Ohlc.daily(Warehouse.readSnapshotRange(spark, raw, "ts_utc", Some(lo), Some(hi))
        .filter(col("asset") === c.asset))
    }
    val affected = probe.stage("ops", "enrich") {
      val keys = restated.select("date", "asset")
      Indicators.enrichAffected(
        Warehouse.readSnapshot(spark, metrics).select(OhlcKey.map(col): _*)
          .join(keys, Seq("date", "asset"), "left_anti").unionByName(restated),
        keys)
    }
    upsert(affected, (Date.valueOf(Gen.dayOf(d).toString), today), insert = false)
    probe.span("store", "maintenance") {
      val before = if (probe.isTracing) liveFiles(raw) else Map.empty[String, Long]
      Warehouse.maintainSnapshot(spark, raw, maintenance)
      if (probe.isTracing) {
        val after = liveFiles(raw)
        probe.count("store.maintenance_bytes_rewritten", (before -- after.keySet).values.sum.toDouble)
      }
    }
  }

  private def liveFiles(path: String): Map[String, Long] =
    Warehouse.snapshotFiles(spark, path).select("file", "bytes").collect()
      .map(r => r.getString(0) -> (if (r.isNullAt(1)) 0L else r.getLong(1))).toMap

  def check(): Seq[(String, Boolean)] = {
    val (n, f, k, cs) = (assets, facts, done, corrections.toSeq)
    val expected = prices(spark.range(0, n, 1, math.min(n, 16)).as[Long]
      .flatMap(a => Gen.expectedRaw(f, a.toInt, k, cs).toSeq).toDF())
    val actualRaw = Warehouse.readSnapshot(spark, raw).select("ts_utc", "asset", "price")
    val rawOk = sameRows(actualRaw, expected)
    val recomputed = Indicators.enrich(Ohlc.daily(actualRaw))
      .select(Schemas.dailyMetricsSchema.fieldNames.map(col).toIndexedSeq: _*)
    val actualMetrics = Warehouse.readSnapshot(spark, metrics)
      .select(Schemas.dailyMetricsSchema.fieldNames.map(col).toIndexedSeq: _*)
    Seq(
      s"raw_prices holds exactly the unique planted rows after $k days" -> rawOk,
      "daily_metrics equals Indicators.enrich(Ohlc.daily(raw_prices))" -> sameRows(actualMetrics, recomputed))
  }

  def named(r: Harness.Loop): Seq[(String, Double, String)] = {
    val lat = r.of("day").map(_ / 1000.0)
    val p = Stats.tailPercentile(lat.size)
    val liveRows = Seq(raw, metrics).flatMap(Warehouse.snapshotRowCount(spark, _)).sum
    Seq(
      ("ingest.days_per_s", throughput(r), "1/s"),
      ("ingest.batch_p50_s", Stats.median(lat), "s"),
      ("ingest.batch_tail_s", Stats.percentile(lat, p), s"s (p$p of ${lat.size})"),
      ("ingest.disk_bytes_per_row", Probe.treeBytes(root).toDouble / liveRows, "bytes"))
  }

  private def sameRows(a: DataFrame, b: DataFrame): Boolean =
    a.count() == b.count() && a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty
}

object IngestDaily {
  /** The exchange, served from the generator; fetchMany ships it to
    * the tasks, so it carries only the seed and the day facts. */
  final class GenFetcher(seed: Long, byDay: Map[String, Gen.DayFacts]) extends Fetcher {
    def fetch(spec: FetchSpec) = Gen.klines(seed, byDay(spec.day), spec.asset)
  }
}
