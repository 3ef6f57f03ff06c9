package perfbench

import graft.ops.{Indicators, Ohlc}
import graft.store.Warehouse
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** `backfill_history`: a set-based history rebuild over generated hourly
  * prices written to parquet during set-up. Each op is one full rebuild:
  * daily OHLC, the core and extended indicators, and one snapshot
  * commit. Kernels, scans and shuffles dominate; the commit is one. */
final class BackfillHistory(spark: SparkSession, probe: Probe, seed: Long, scale: Double) extends Workload {
  import spark.implicits._

  private val assets = math.max(2, (24 * scale).round.toInt)
  private val days = if (scale >= 1) 365 else 60

  private var input = ""
  private var output = ""
  private var facts: Gen.BackfillFacts = _
  private val versions = scala.collection.mutable.ArrayBuffer.empty[Long]

  def setup(dir: String): Unit = {
    Gen.writeFacts(s"$dir/inputs", Gen.BackfillFacts(seed, assets, days, assets.toLong * days * 24))
    facts = Gen.readFacts(s"$dir/inputs", classOf[Gen.BackfillFacts])
    input = s"$dir/inputs/prices"
    output = s"$dir/warehouse/daily_history"
    versions.clear()
    val (s, n, d) = (seed, assets, days)
    spark.range(0, n, 1, math.min(n, 16)).as[Long]
      .flatMap(a => Gen.historyRows(s, a.toInt, d).toSeq).toDF("ts_ms", "asset", "price")
      .select(timestamp_millis(col("ts_ms")).as("ts_utc"), col("asset"), col("price"))
      .write.parquet(input)
  }

  def op(i: Int): OpResult = {
    val prices = spark.read.parquet(input)
    val daily = probe.stage("ops", "ohlc")(Ohlc.daily(prices))
    val core = probe.stage("ops", "enrich")(Indicators.enrich(daily))
    val median = probe.stage("ops", "extended") {
      Indicators.rollingMedian(daily.select(col("date").cast("timestamp").as("ts_utc"),
          col("asset"), col("close").as("price")))
        .select(to_date(col("ts_utc")).as("date"), col("asset"), col("med30"))
    }
    val macd = probe.stage("ops", "extended")(Indicators.emaMacd(daily).drop("close"))
    val rsi = probe.stage("ops", "extended")(Indicators.rsiAtr(daily))
    val bands = probe.stage("ops", "extended")(Indicators.bollinger(daily).drop("close"))
    val keys = Seq("date", "asset")
    val out = Seq(median, macd, rsi, bands).foldLeft(core)(_.join(_, keys))
    versions += probe.commit(output, facts.assets.toLong * facts.days) {
      Warehouse.writeSnapshot(out, output)
    }
    OpResult("rebuild", facts.rows.toDouble)
  }

  private def checksum(df: DataFrame): (Long, Long) = {
    val r = df.agg(count(lit(1)), sum(xxhash64(df.columns.sorted.map(col).toIndexedSeq: _*).cast("decimal(38,0)")))
      .head()
    (r.getLong(0), r.getDecimal(1).longValue)
  }

  def check(): Seq[(String, Boolean)] = {
    val sums = versions.toSeq.map(v => checksum(Warehouse.readSnapshot(spark, output, Some(v))))
    Seq(
      s"every rebuild holds one row per (date, asset): ${facts.assets * facts.days}" ->
        sums.forall(_._1 == facts.assets.toLong * facts.days),
      s"the output checksum (${sums.headOption.map(_._2).getOrElse(0L)}) is the same for all " +
        s"${sums.size} rebuilds" -> (sums.distinct.size == 1))
  }

  def named(r: Harness.Loop): Seq[(String, Double, String)] =
    Seq(("backfill.rows_per_s", throughput(r), "1/s"))
}
