package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.Row

class IndicatorsSpec extends SparkSpec {
  import spark.implicits._

  /** 40 consecutive days of daily closes for one asset. */
  private lazy val daily = {
    val closes = (1 to 40).map(i => 100.0 + i + math.sin(i) * 5)
    closes.zipWithIndex.map { case (c, i) =>
      (java.sql.Date.valueOf(java.time.LocalDate.of(2024, 1, 1).plusDays(i)), "BTC", c)
    }.toDF("date", "asset", "close")
  }

  private lazy val rows: Array[Row] =
    Indicators.enrich(daily).orderBy("date").collect()

  private def nullUntil(col: String, firstNonNull: Int): Unit = {
    val idx = rows.head.schema.fieldIndex(col)
    rows.zipWithIndex.foreach { case (r, i) =>
      val day = i + 1
      if (day < firstNonNull) assert(r.isNullAt(idx), s"$col should be NULL on day $day")
      else assert(!r.isNullAt(idx), s"$col should be non-NULL on day $day")
    }
  }

  test("ret NULL on day 1 only (pct_change, dag:264)") { nullUntil("ret", 2) }
  test("ma7 first non-null exactly day 7 (min_periods=7, dag:265)") { nullUntil("ma7", 7) }
  test("ma30 first non-null exactly day 30 (min_periods=30, dag:266)") { nullUntil("ma30", 30) }
  test("vol30 lags ma30 by one row — first non-null day 31 (NULL-ret offset, dag:267)") {
    nullUntil("vol30", 31)
  }

  test("ret matches close/lag(close)-1") {
    val idx = rows.head.schema.fieldIndex("ret")
    val closes = rows.map(_.getDouble(rows.head.schema.fieldIndex("close")))
    (1 until rows.length).foreach { i =>
      assert(math.abs(rows(i).getDouble(idx) - (closes(i) / closes(i - 1) - 1)) < 1e-12)
    }
  }

  test("ma7 is the trailing 7-row mean") {
    val idx = rows.head.schema.fieldIndex("ma7")
    val closes = rows.map(_.getDouble(rows.head.schema.fieldIndex("close")))
    (6 until rows.length).foreach { i =>
      val want = closes.slice(i - 6, i + 1).sum / 7
      assert(math.abs(rows(i).getDouble(idx) - want) < 1e-9)
    }
  }

  test("vol30 is SAMPLE stddev (ddof=1) of trailing 30 rets") {
    val schema = rows.head.schema
    val rets = rows.map(r => if (r.isNullAt(schema.fieldIndex("ret"))) Double.NaN
                             else r.getDouble(schema.fieldIndex("ret")))
    val idx = schema.fieldIndex("vol30")
    (30 until rows.length).foreach { i =>
      val wnd = rets.slice(i - 29, i + 1).filterNot(_.isNaN)
      val mean = wnd.sum / wnd.size
      val sampleStd = math.sqrt(wnd.map(x => (x - mean) * (x - mean)).sum / (wnd.size - 1))
      assert(math.abs(rows(i).getDouble(idx) - sampleStd) < 1e-12)
    }
  }

  test("rolling mean of a constant series is the constant") {
    val const = (0 until 10).map(i =>
      (java.sql.Date.valueOf(java.time.LocalDate.of(2024, 2, 1).plusDays(i)), "X", 5.0))
      .toDF("date", "asset", "close")
    val out = Indicators.enrich(const).orderBy("date").collect()
    val idx = out.head.schema.fieldIndex("ma7")
    (6 until 10).foreach(i => assert(out(i).getDouble(idx) === 5.0))
  }

  test("pct_change is ROW-based across date gaps (dag:264 parity)") {
    val gappy = Seq(
      (java.sql.Date.valueOf("2024-01-01"), "X", 100.0),
      (java.sql.Date.valueOf("2024-01-05"), "X", 110.0) // 4-day gap, still one lag
    ).toDF("date", "asset", "close")
    val out = Indicators.enrich(gappy).orderBy("date").collect()
    assert(math.abs(out(1).getDouble(out.head.schema.fieldIndex("ret")) - 0.10) < 1e-12)
  }

  test("windows are per-asset partitioned (no cross-asset leakage)") {
    val two = (0 until 8).flatMap(i => Seq(
      (java.sql.Date.valueOf(java.time.LocalDate.of(2024, 3, 1).plusDays(i)), "A", 10.0),
      (java.sql.Date.valueOf(java.time.LocalDate.of(2024, 3, 1).plusDays(i)), "B", 20.0)))
      .toDF("date", "asset", "close")
    val out = Indicators.enrich(two).collect()
    val s = out.head.schema
    out.filter(!_.isNullAt(s.fieldIndex("ma7"))).foreach { r =>
      val want = if (r.getString(s.fieldIndex("asset")) == "A") 10.0 else 20.0
      assert(r.getDouble(s.fieldIndex("ma7")) === want)
    }
  }

  test("rollingMedian: min_periods guard, odd/even frame selection, per-asset") {
    def t(i: Int) = java.sql.Timestamp.valueOf(s"2024-01-0${i + 1} 00:00:00")
    val prices = Seq(
      (t(0), "X", 4.0), (t(1), "X", 1.0), (t(2), "X", 10.0), (t(3), "X", 2.0),
      (t(0), "Y", 100.0), (t(1), "Y", 200.0), (t(2), "Y", 300.0))
      .toDF("ts_utc", "asset", "price")
    val out = Indicators.rollingMedian(prices, window = 3)
      .orderBy("asset", "ts_utc").collect()
    val med = out.head.schema.fieldIndex("med3")
    assert(out(0).isNullAt(med) && out(1).isNullAt(med)) // min_periods
    assert(out(2).getDouble(med) === 4.0)  // median(4,1,10)
    assert(out(3).getDouble(med) === 2.0)  // median(1,10,2)
    assert(out(4).isNullAt(med) && out(5).isNullAt(med))
    assert(out(6).getDouble(med) === 200.0) // Y's own window
  }

  test("rollingMedian: even frame interpolates the two middles") {
    def t(i: Int) = java.sql.Timestamp.valueOf(s"2024-01-0${i + 1} 00:00:00")
    val prices = Seq((t(0), "X", 1.0), (t(1), "X", 2.0), (t(2), "X", 3.0), (t(3), "X", 10.0))
      .toDF("ts_utc", "asset", "price")
    val out = Indicators.rollingMedian(prices, window = 4).orderBy("ts_utc").collect()
    assert(out(3).getDouble(out.head.schema.fieldIndex("med4")) === 2.5)
  }

  test("rollingMedian: the keyed repartition changes no bit (row-identical to the plain window)") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    // six assets spread over five input partitions, so the keyed
    // repartition in front of the window really moves rows
    val t0 = java.time.LocalDateTime.of(2024, 1, 1, 0, 0)
    val prices = (for (a <- 0 until 6; i <- 0 until 50) yield (
        java.sql.Timestamp.valueOf(t0.plusHours(i)), s"A$a",
        100.0 + a + 3 * math.sin(i * 0.7 + a) + i * 1e-3))
      .toDF("ts_utc", "asset", "price").repartition(5)
    def bits(df: DataFrame) = df.collect().map { r =>
      (r.getTimestamp(0).getTime, r.getString(1),
        if (r.isNullAt(2)) None else Some(java.lang.Double.doubleToRawLongBits(r.getDouble(2))))
    }.sorted.toSeq
    for (window <- Seq(7, 8)) {
      val w = Window.partitionBy("asset").orderBy("ts_utc").rowsBetween(-(window - 1), 0)
      val s = col("__sorted")
      val med =
        if (window % 2 == 1) element_at(s, (window + 1) / 2)
        else (element_at(s, window / 2) + element_at(s, window / 2 + 1)) / 2.0
      val plain = prices
        .select(col("ts_utc"), col("asset"), array_sort(collect_list(col("price")).over(w)).as("__sorted"))
        .select(col("ts_utc"), col("asset"), when(size(s) === window, round(med, 6)))
      val got = bits(Indicators.rollingMedian(prices, window))
      assert(got.size === 300 && got.count(_._3.isDefined) === 6 * (50 - window + 1))
      assert(got === bits(plain), s"window $window")
    }
  }

  // ---- recursive indicator family (SeededEwma window function) ----

  /** Two-asset daily OHLC fixture, 40 rows each, deterministic. */
  private lazy val ohlcFixture = {
    val rows = for {
      (asset, base) <- Seq(("BTC", 100.0), ("ETH", 50.0))
      i <- 0 until 40
    } yield {
      val close = base + i + math.sin(i * 1.7) * 7
      val open = base + i + math.cos(i * 1.3) * 6
      (java.sql.Date.valueOf(java.time.LocalDate.of(2024, 1, 1).plusDays(i)),
        asset, open, math.max(open, close) + 2.5, math.min(open, close) - 1.5, close)
    }
    rows.toDF("date", "asset", "open", "high", "low", "close")
  }

  /** Driver-side reference recursion: pandas ewm(adjust=False). */
  private def refEwma(xs: Seq[Double], alpha: Double): Seq[Double] =
    xs.tail.scanLeft(xs.head)((s, x) => alpha * x + (1.0 - alpha) * s)

  test("emaMacd equals a driver-side scanLeft recursion per asset") {
    val out = Indicators.emaMacd(ohlcFixture).orderBy("asset", "date").collect()
    val s = out.head.schema
    Seq("BTC", "ETH").foreach { asset =>
      val rows = out.filter(_.getString(s.fieldIndex("asset")) == asset)
      val closes = rows.map(_.getDouble(s.fieldIndex("close"))).toSeq
      val e12 = refEwma(closes, 2.0 / 13)
      val e26 = refEwma(closes, 2.0 / 27)
      val macd = e12.zip(e26).map { case (a, b) => a - b }
      val sig = refEwma(macd, 2.0 / 10)
      rows.zipWithIndex.foreach { case (r, i) =>
        def got(c: String) = r.getDouble(s.fieldIndex(c))
        assert(got("ema12") === round6(e12(i)), s"$asset ema12 row $i")
        assert(got("ema26") === round6(e26(i)), s"$asset ema26 row $i")
        assert(got("macd") === round6(macd(i)), s"$asset macd row $i")
        assert(got("signal") === round6(sig(i)), s"$asset signal row $i")
        assert(got("hist") === round6(macd(i) - sig(i)), s"$asset hist row $i")
      }
    }
  }

  test("rsiAtr: Wilder seeding/recursion equals driver-side reference; null discipline") {
    val period = 14
    val out = Indicators.rsiAtr(ohlcFixture, period).orderBy("asset", "date").collect()
    val s = out.head.schema
    val src = ohlcFixture.orderBy("asset", "date").collect()
    val ss = src.head.schema
    Seq("BTC", "ETH").foreach { asset =>
      val rows = out.filter(_.getString(s.fieldIndex("asset")) == asset)
      val raw = src.filter(_.getString(ss.fieldIndex("asset")) == asset)
      def rc(r: Row, c: String) = r.getDouble(ss.fieldIndex(c))
      val closes = raw.map(rc(_, "close"))
      val highs = raw.map(rc(_, "high"))
      val lows = raw.map(rc(_, "low"))
      val diffs = closes.indices.map(i => if (i == 0) Double.NaN else closes(i) - closes(i - 1))
      val gains = diffs.map(d => if (d.isNaN) Double.NaN else if (d > 0) d else 0.0)
      val losses = diffs.map(d => if (d.isNaN) Double.NaN else if (d < 0) -d else 0.0)
      val trs = closes.indices.map { i =>
        if (i == 0) highs(i) - lows(i)
        else math.max(highs(i) - lows(i),
          math.max(math.abs(highs(i) - closes(i - 1)), math.abs(lows(i) - closes(i - 1))))
      }
      // wilder: NaN until `period` non-NaN seen, then mean, then recursion
      def wilder(xs: Seq[Double]): Seq[Double] = {
        val a = 1.0 / period
        var cum = 0.0; var n = 0; var state = Double.NaN
        xs.map { x =>
          if (!x.isNaN) {
            n += 1; cum += x
            state = if (n < period) Double.NaN
            else if (n == period) cum / period
            else a * x + (1.0 - a) * state
          }
          state
        }
      }
      val ag = wilder(gains); val al = wilder(losses); val atr = wilder(trs)
      rows.zipWithIndex.foreach { case (r, i) =>
        val rsiIdx = s.fieldIndex(s"rsi$period"); val atrIdx = s.fieldIndex(s"atr$period")
        if (ag(i).isNaN) assert(r.isNullAt(rsiIdx), s"$asset rsi row $i should be NULL")
        else {
          val want = if (al(i) == 0.0) 100.0 else 100.0 - 100.0 / (1.0 + ag(i) / al(i))
          assert(r.getDouble(rsiIdx) === round6(want), s"$asset rsi row $i")
        }
        if (atr(i).isNaN) assert(r.isNullAt(atrIdx), s"$asset atr row $i should be NULL")
        else assert(r.getDouble(atrIdx) === round6(atr(i)), s"$asset atr row $i")
      }
      // rsi seeds exactly one row after atr (first diff is NULL)
      assert(rows(period - 1).isNullAt(s.fieldIndex(s"rsi$period")))
      assert(!rows(period - 1).isNullAt(s.fieldIndex(s"atr$period")))
      assert(!rows(period).isNullAt(s.fieldIndex(s"rsi$period")))
    }
  }

  test("bollinger: min_periods guard and mid ± 2·stddev") {
    val out = Indicators.bollinger(ohlcFixture, window = 20, k = 2.0)
      .orderBy("asset", "date").collect()
    val s = out.head.schema
    val btc = out.filter(_.getString(s.fieldIndex("asset")) == "BTC")
    (0 until 19).foreach(i => assert(btc(i).isNullAt(s.fieldIndex("bb_mid")), s"row $i"))
    val closes = btc.map(_.getDouble(s.fieldIndex("close")))
    val frame = closes.slice(0, 20)
    val mean = frame.sum / 20
    val sd = math.sqrt(frame.map(x => (x - mean) * (x - mean)).sum / 19)
    assert(math.abs(btc(19).getDouble(s.fieldIndex("bb_mid")) - mean) < 1e-6)
    assert(math.abs(btc(19).getDouble(s.fieldIndex("bb_upper")) - (mean + 2 * sd)) < 1e-6)
    assert(math.abs(btc(19).getDouble(s.fieldIndex("bb_lower")) - (mean - 2 * sd)) < 1e-6)
  }

  test("stochastic: %K bounds, flat-channel NULL, %D is the 3-row mean of %K") {
    val out = Indicators.stochastic(ohlcFixture, window = 14, smooth = 3)
      .orderBy("asset", "date").collect()
    val s = out.head.schema
    val btc = out.filter(_.getString(s.fieldIndex("asset")) == "BTC")
    (0 until 13).foreach(i => assert(btc(i).isNullAt(s.fieldIndex("stoch_k")), s"row $i"))
    btc.drop(13).foreach { r =>
      val k = r.getDouble(s.fieldIndex("stoch_k"))
      assert(k >= 0.0 && k <= 100.0)
    }
    // %D appears once 3 %K values exist
    assert(btc(14).isNullAt(s.fieldIndex("stoch_d")))
    assert(!btc(15).isNullAt(s.fieldIndex("stoch_d")))
    // flat channel → NULL %K (0/0 guarded)
    import spark.implicits._
    val flat = (1 to 20).map(i =>
      (java.sql.Date.valueOf(java.time.LocalDate.of(2024, 1, 1).plusDays(i)),
        "X", 5.0, 5.0, 5.0, 5.0)).toDF("date", "asset", "open", "high", "low", "close")
    val fk = Indicators.stochastic(flat, 14, 3).orderBy("date").collect()
    fk.foreach(r => assert(r.isNullAt(fk.head.schema.fieldIndex("stoch_k"))))
  }

  test("drawdown: zero at new highs, close/cummax-1 otherwise") {
    import spark.implicits._
    def d(i: Int) = java.sql.Date.valueOf(java.time.LocalDate.of(2024, 1, i))
    val daily = Seq((d(1), "X", 10.0), (d(2), "X", 8.0), (d(3), "X", 12.0), (d(4), "X", 6.0))
      .toDF("date", "asset", "close")
    val out = Indicators.drawdown(daily).orderBy("date").collect()
    val idx = out.head.schema.fieldIndex("drawdown")
    assert(out(0).getDouble(idx) === 0.0)
    assert(out(1).getDouble(idx) === -0.2)      // 8/10 - 1
    assert(out(2).getDouble(idx) === 0.0)       // new high
    assert(out(3).getDouble(idx) === -0.5)      // 6/12 - 1
  }

  test("perfStats: total return, sharpe sign, max drawdown on a known path") {
    import spark.implicits._
    def d(i: Int) = java.sql.Date.valueOf(java.time.LocalDate.of(2024, 1, i))
    val daily = Seq((d(1), "X", 10.0), (d(2), "X", 8.0), (d(3), "X", 12.0), (d(4), "X", 6.0))
      .toDF("date", "asset", "close")
    val r = Indicators.perfStats(daily).collect().head
    val s = r.schema
    assert(r.getLong(s.fieldIndex("n_days")) === 4L)
    assert(r.getDouble(s.fieldIndex("total_return")) === -0.4) // 6/10 - 1
    assert(r.getDouble(s.fieldIndex("max_drawdown")) === -0.5)
    // rets: -0.2, +0.5, -0.5 → negative mean → negative sharpe
    assert(r.getDouble(s.fieldIndex("sharpe")) < 0)
    assert(r.getDouble(s.fieldIndex("ann_vol")) > 0)
  }

  private def round6(x: Double): Double =
    new java.math.BigDecimal(x).setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
  test("obv: cumulative signed tick-count volume, zero-seeded") {
    val t0 = java.time.Instant.parse("2024-01-01T00:00:00Z")
    def p(day: Int, hour: Int, price: Double) =
      (java.sql.Timestamp.from(t0.plus(java.time.Duration.ofHours(day * 24L + hour))),
        "X", price)
    // day0: 2 ticks close 10 | day1: 3 ticks close 12 (+3) |
    // day2: 1 tick close 11 (-1) | day3: 2 ticks close 11 (0)
    val prices = Seq(
      p(0, 1, 9), p(0, 2, 10),
      p(1, 1, 11), p(1, 2, 13), p(1, 3, 12),
      p(2, 5, 11),
      p(3, 1, 10), p(3, 2, 11)
    ).toDF("ts_utc", "asset", "price")
    val out = Indicators.obv(prices).orderBy("date").collect()
      .map(r => (r.getLong(3), r.getLong(4)))
    assert(out.toSeq === Seq((2L, 0L), (3L, 3L), (1L, 2L), (2L, 2L)))
  }

  test("maCross: sign flips emit golden/death, warm-up and ties advance silently") {
    def d(i: Int) = java.sql.Date.valueOf(java.time.LocalDate.of(2024, 1, 1).plusDays(i))
    // fast=1, slow=2: maF = close, maS = 2-day mean
    val path = Seq(
      (d(0), "X", 10.0), // warm-up (slow needs 2 rows): filtered
      (d(1), "X", 20.0), // maF 20 vs maS 15: state 1, first warm -> no emit
      (d(2), "X", 20.0), // maF 20 vs maS 20: tie -> emits nothing, advances
      (d(3), "X", 5.0),  // state -1 after tie: death
      (d(4), "X", 30.0)  // maF 30 vs maS 17.5: state 1 -> golden
    ).toDF("date", "asset", "close")
    val out = Indicators.maCross(path, fast = 1, slow = 2).orderBy("date").collect()
      .map(r => (r.getDate(0).toString, r.getString(3)))
    assert(out.toSeq === Seq("2024-01-04" -> "death", "2024-01-05" -> "golden"))
  }

  test("enrichIncremental equals the full recompute, including mid-warm-up history") {
    import spark.implicits._
    import java.sql.Date
    // 40 days of history + 3 new days for asset A (past warm-up);
    // 10 + 3 for asset B (ma30/vol30 still inside min_periods warm-up)
    def days(asset: String, n: Int, from: Int) = (from until from + n).map { i =>
      (Date.valueOf(java.time.LocalDate.of(2024, 1, 1).plusDays(i)), asset,
        100.0 + 3 * math.sin(i * 1.7) + i * 0.1)
    }
    val hist = (days("A", 40, 0) ++ days("B", 10, 30)).toDF("date", "asset", "close")
    val fresh = (days("A", 3, 40) ++ days("B", 3, 40)).toDF("date", "asset", "close")
    val incremental = Indicators.enrichIncremental(hist, fresh)
      .orderBy("asset", "date").collect().toSeq
    val full = Indicators.enrich(hist.unionByName(fresh))
      .join(fresh.select("date", "asset"), Seq("date", "asset"), "left_semi")
      .orderBy("asset", "date").collect().toSeq
    assert(incremental === full) // bit-exact, NULL warm-up included
    assert(incremental.size === 6)
  }

  test("enrichIncremental fails fast on a replayed/overlapping batch, naming the asset") {
    import spark.implicits._
    import java.sql.Date
    def days(asset: String, n: Int, from: Int) = (from until from + n).map { i =>
      (Date.valueOf(java.time.LocalDate.of(2024, 1, 1).plusDays(i)), asset, 100.0 + i)
    }
    val hist = (days("A", 10, 0) ++ days("B", 10, 0)).toDF("date", "asset", "close")
    // replayed batch: B's first "new" day overlaps its history — the
    // union would hold duplicate (date, asset) rows and the windows
    // would silently return wrong indicators (r8 advice)
    val replay = (days("A", 2, 10) ++ days("B", 2, 9)).toDF("date", "asset", "close")
    // the guard is fused into the plan (no eager pre-check job), so it
    // fires on the FIRST action — before any wrong row can be consumed
    val e = intercept[Exception] {
      Indicators.enrichIncremental(hist, replay).collect()
    }
    val msgs = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).take(5).toSeq
    assert(msgs.exists(m => m.contains("strictly after") && m.contains("B")),
      s"error must name the precondition and the asset: $msgs")
    // the clean batch still passes the guard
    val clean = (days("A", 2, 10) ++ days("B", 2, 10)).toDF("date", "asset", "close")
    assert(Indicators.enrichIncremental(hist, clean).count() === 4)
  }

  test("enrichAffected recomputes exactly the restatement's ripple — [mark, mark+30]") {
    import spark.implicits._
    import java.sql.Date
    import org.apache.spark.sql.functions.{col, when, lit}
    // 80 days; day index 40 restated. Affected rows = indices 40..70
    // (ret ripples one row into vol30's frame); 0..39 and 71..79 are
    // provably unchanged and must NOT be emitted
    val base = (0 until 80).map { i =>
      (Date.valueOf(java.time.LocalDate.of(2024, 1, 1).plusDays(i)), "A",
        100.0 + 5 * math.cos(i * 0.9))
    }.toDF("date", "asset", "close")
    val markDate = Date.valueOf("2024-02-10") // index 40
    val restated = base.withColumn("close",
      when(col("date") === lit(markDate), col("close") * 1.5).otherwise(col("close")))
    val out = Indicators.enrichAffected(restated,
      restated.filter(col("date") === lit(markDate)).select("date", "asset"))
    val dates = out.orderBy("date").collect().map(_.getDate(0).toLocalDate.getDayOfYear)
    assert(dates.head === 41 && dates.last === 71 && dates.length === 31) // Feb 10 = day 41
    // bit-exact vs the full recompute over the restated table
    val full = Indicators.enrich(restated)
      .filter(col("date").between(lit(markDate), lit(Date.valueOf("2024-03-11"))))
    assert(out.orderBy("date").collect().toSeq === full.orderBy("date").collect().toSeq)
  }

  test("seasonal decomposition: identity, zero-sum seasonality, null edges (X217)") {
    import spark.implicits._
    // 28 days, one asset: value = 100 + 10*sin-ish weekly pattern + ramp
    val rows = (0 until 28).map { i =>
      val seasonal = Seq(5.0, -3.0, 1.0, 0.0, -2.0, 4.0, -5.0)(i % 7)
      (java.sql.Date.valueOf(java.time.LocalDate.of(2024, 1, 1).plusDays(i.toLong)),
        "btc", 100.0 + i * 0.5 + seasonal)
    }.toDF("date", "asset", "close")
    val out = Indicators.seasonalDecompose(rows, "close", period = 7)
    // edges (first/last 3 rows) have no full window -> null trend/residual
    val edges = out.orderBy("date").collect()
    assert(edges.take(3).forall(_.isNullAt(3)) && edges.takeRight(3).forall(_.isNullAt(3)))
    // identity where trend exists
    val interior = out.filter(org.apache.spark.sql.functions.col("trend").isNotNull).collect()
    assert(interior.nonEmpty)
    assert(interior.forall(r =>
      math.abs(r.getDouble(2) - (r.getDouble(3) + r.getDouble(4) + r.getDouble(5))) < 1e-9),
      "close = trend + seasonal + residual wherever trend exists")
    // the 7 phase effects sum to (numerically) zero
    val sSum = out.select("seasonal").distinct().collect().map(_.getDouble(0)).sum
    assert(math.abs(sSum) < 1e-9, s"seasonal effects must center to zero, got $sSum")
    // on a ramp + pure weekly pattern the interior residual is ~0
    assert(interior.forall(r => math.abs(r.getDouble(5)) < 1.0),
      "a clean weekly signal decomposes with small residual")
  }

  test("autocorr: alternating returns give acf(1) ~ -1 and acf(2) ~ +1 (X225)") {
    import spark.implicits._
    // closes alternate 100, 110, 100, 110 ... -> rets alternate
    // +0.1 / -0.0909..: lag-1 correlation -1, lag-2 correlation +1
    val rows = (0 until 40).map { i =>
      (java.sql.Date.valueOf(java.time.LocalDate.of(2024, 1, 1).plusDays(i.toLong)),
        "btc", if (i % 2 == 0) 100.0 else 110.0)
    }.toDF("date", "asset", "close")
    val out = Indicators.autocorr(rows, maxLag = 3, minPairs = 5)
      .collect().map(r => r.getInt(1) -> (r.getLong(2), Option(r.get(3)).map(_.asInstanceOf[Double]))).toMap
    // 39 rets; lag l leaves 39-l pairs
    assert(out(1)._1 === 38 && out(2)._1 === 37 && out(3)._1 === 36)
    assert(math.abs(out(1)._2.get + 1.0) < 1e-6, s"lag-1 of an alternating series is -1: ${out(1)}")
    assert(math.abs(out(2)._2.get - 1.0) < 1e-6, s"lag-2 of an alternating series is +1: ${out(2)}")
    // below the pair floor the value is NULL, not noise
    val tiny = (0 until 8).map { i =>
      (java.sql.Date.valueOf(java.time.LocalDate.of(2024, 1, 1).plusDays(i.toLong)),
        "btc", 100.0 + i)
    }.toDF("date", "asset", "close")
    val guarded = Indicators.autocorr(tiny, maxLag = 3, minPairs = 10).collect()
    assert(guarded.forall(_.isNullAt(3)), "n_pairs < minPairs must yield NULL acf")
    // a constant-price asset has zero-variance returns: Spark's corr
    // is NaN there while DuckDB's is NULL — the nanvl guard normalizes
    // to NULL so the oracle can't diverge (r13 ADVICE fix)
    val flat = (0 until 30).map { i =>
      (java.sql.Date.valueOf(java.time.LocalDate.of(2024, 1, 1).plusDays(i.toLong)),
        "btc", 100.0)
    }.toDF("date", "asset", "close")
    val degenerate = Indicators.autocorr(flat, maxLag = 2, minPairs = 5).collect()
    assert(degenerate.nonEmpty && degenerate.forall(_.isNullAt(3)),
      s"zero-variance series must report NULL, never NaN: ${degenerate.mkString(",")}")
  }

  test("holt: hand-computed coupled recurrence, flat-start seed, walk-forward error (X226)") {
    import spark.implicits._
    val closes = Seq(100.0, 104.0, 110.0, 112.0)
    val rows = closes.zipWithIndex.map { case (c, i) =>
      (java.sql.Date.valueOf(java.time.LocalDate.of(2024, 1, 1).plusDays(i.toLong)), "btc", c)
    }.toDF("date", "asset", "close")
    val out = Indicators.holt(rows, alpha = 0.5, beta = 0.5)
      .orderBy("date").collect()
    // replay: l1=100 b1=0; l=0.5x+0.5(l+b); b=0.5(l'-l)+0.5b
    var l = 100.0; var b = 0.0
    assert(out(0).getDouble(3) === 100.0 && out(0).getDouble(4) === 0.0)
    assert(out(0).getDouble(5) === 100.0) // forecast = l+b
    assert(out(0).isNullAt(6), "no forecast preceded the seed row")
    for (i <- 1 until closes.length) {
      val x = closes(i)
      val prevF = l + b
      val l2 = 0.5 * x + 0.5 * (l + b)
      b = 0.5 * (l2 - l) + 0.5 * b
      l = l2
      assert(math.abs(out(i).getDouble(3) - l) < 1e-6, s"level row $i")
      assert(math.abs(out(i).getDouble(4) - b) < 1e-6, s"trend row $i")
      assert(math.abs(out(i).getDouble(5) - (l + b)) < 1e-6, s"forecast row $i")
      assert(math.abs(out(i).getDouble(6) - (x - prevF)) < 1e-6, s"fc_err row $i")
    }
    // on a perfect line the forecast converges onto the line: trend -> slope
    val line = (0 until 60).map { i =>
      (java.sql.Date.valueOf(java.time.LocalDate.of(2024, 1, 1).plusDays(i.toLong)), "eth", 50.0 + 2.0 * i)
    }.toDF("date", "asset", "close")
    val last = Indicators.holt(line, alpha = 0.5, beta = 0.5).orderBy("date").collect().last
    assert(math.abs(last.getDouble(4) - 2.0) < 1e-3, "trend locks onto a linear slope")
    assert(math.abs(last.getDouble(6)) < 1e-3, "walk-forward error vanishes on a line")
  }

  test("cusum: accumulates sustained drift beyond the allowance, resets at zero (X227)") {
    import spark.implicits._
    // phase 1: flat (rets 0 -> both sides pinned at 0 by the reset);
    // phase 2: +1% daily (beyond the 0.5% allowance -> pos climbs)
    val closes = Seq.iterate(100.0, 20)(identity) ++
      Seq.iterate(100.0 * 1.01, 20)(_ * 1.01)
    val rows = closes.zipWithIndex.map { case (c, i) =>
      (java.sql.Date.valueOf(java.time.LocalDate.of(2024, 1, 1).plusDays(i.toLong)), "btc", c)
    }.toDF("date", "asset", "close")
    val out = Indicators.cusum(rows, target = 0.0, allowance = 0.005, h = 0.02)
      .orderBy("date").collect()
    val flat = out.slice(1, 20) // rows 1..19: ret = 0
    assert(flat.forall(r => r.getDouble(3) === 0.0 && r.getDouble(4) === 0.0),
      "zero deviation never accumulates (the max(0,·) reset)")
    assert(flat.forall(!_.getBoolean(5)))
    // each +1% day adds ~0.005 to pos: by the 5th drift day it crosses 0.02
    val driftEnd = out.last
    assert(driftEnd.getDouble(3) > 0.05, s"sustained drift accumulates: $driftEnd")
    assert(driftEnd.getDouble(4) === 0.0, "the opposite side stays reset")
    assert(driftEnd.getBoolean(5), "alarm fires past h")
    assert(out.slice(20, 23).forall(!_.getBoolean(5)),
      "allowance absorbs the first drift days — no instant alarm")
    // NULL first ret carries the (0,0) init, not NULL state
    assert(out(0).getDouble(3) === 0.0 && out(0).getDouble(4) === 0.0 && !out(0).getBoolean(5))
  }
}
