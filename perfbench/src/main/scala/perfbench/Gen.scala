package perfbench

import java.time.{LocalDate, ZoneOffset}
import java.util.{Locale, SplittableRandom}

import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** Seeded generators for every workload input. Each value is a pure
  * function of the seed and its coordinates (asset, hour, doc id), so
  * any slice regenerates identically wherever it is asked for — on the
  * driver, inside a Spark task, or in the expected-output model the
  * checks build. The facts a generator plants (duplicate hours, the
  * under-filled day, duplicate and contaminated documents) come back as
  * data and are written beside the inputs as `planted.json`.
  */
object Gen {

  /** The independent stream for one coordinate tuple. */
  def rng(seed: Long, coords: Long*): SplittableRandom = {
    var h = seed ^ 0x5DEECE66DL
    coords.foreach { c => h = new SplittableRandom(h * 31 + c).nextLong() }
    new SplittableRandom(h)
  }

  def round2(x: Double): Double = BigDecimal(x).setScale(2, BigDecimal.RoundingMode.HALF_EVEN).toDouble
  def fmt2(x: Double): String = String.format(Locale.ROOT, "%.2f", Double.box(x))

  def assetName(a: Int): String = f"A$a%03d-USD"
  def assetIndex(name: String): Int = name.substring(1, 4).toInt

  val Epoch: LocalDate = LocalDate.of(2023, 1, 1)
  def dayOf(i: Int): LocalDate = Epoch.plusDays(i.toLong)
  def hourMs(day: Int, hour: Int): Long =
    dayOf(day).atStartOfDay(ZoneOffset.UTC).toInstant.toEpochMilli + hour * 3600000L

  /** Hourly close of `asset` in hour `day*24+hour`: a per-asset level,
    * a slow cycle and hourly noise, rounded to cents as the exchange
    * reports it. */
  def hourlyPrice(seed: Long, asset: Int, day: Int, hour: Int): Double = {
    val a = rng(seed, asset)
    val level = 5.0 + a.nextDouble() * 2000.0
    val phase = a.nextDouble() * 6.283
    val t = day * 24L + hour
    val noise = rng(seed, asset, t).nextDouble() - 0.5
    round2(level * (1.0 + 0.25 * math.sin(t / 300.0 + phase) + 0.02 * noise))
  }

  // ---------------------------------------------------------------- ingest

  final case class Correction(asset: String, tsMs: Long, price: Double)
  /** What one live day's klines carry besides clean rows. */
  final case class DayFacts(day: Int, dupAsset: String, dupHour: Int, dupPrice: Double,
                            underfilledAsset: Option[String], correction: Correction)
  final case class IngestFacts(seed: Long, assets: Int, historyDays: Int, liveDays: Int,
                               days: Seq[DayFacts])

  /** Live day `i` (0-based after the history) plants one duplicate hour
    * (a second kline for an existing open_time at a higher price, so
    * keep-first by price keeps the original), every second day one asset
    * with only 19 hourly rows, and a late correction of one asset's
    * hour 12 three days back. */
  def ingestFacts(seed: Long, assets: Int, historyDays: Int, liveDays: Int): IngestFacts = {
    val days = (0 until liveDays).map { i =>
      val day = historyDays + i
      val r = rng(seed, 1000L + day)
      val dupAsset = assetName(r.nextInt(assets))
      val dupHour = r.nextInt(19)
      val dupPrice = round2(hourlyPrice(seed, assetIndex(dupAsset), day, dupHour) + 1.0)
      val under = if (i % 2 == 1) Some(assetName(r.nextInt(assets))) else None
      val a = r.nextInt(assets)
      val corr = Correction(assetName(a), hourMs(day - 3, 12),
        round2(hourlyPrice(seed, a, day - 3, 12) * 1.01))
      DayFacts(day, dupAsset, dupHour, dupPrice, under, corr)
    }
    IngestFacts(seed, assets, historyDays, liveDays, days)
  }

  def hoursOf(f: DayFacts, asset: String): Int =
    if (f.underfilledAsset.contains(asset)) 19 else 24

  /** The klines an exchange would return for (asset, live day). */
  def klines(seed: Long, f: DayFacts, asset: String)
      : Seq[(Long, String, String, String, String, String, Long, String, Long, String, String, String)] = {
    val a = assetIndex(asset)
    val clean = (0 until hoursOf(f, asset)).map(h => (h, hourlyPrice(seed, a, f.day, h)))
    val rows = if (f.dupAsset == asset) clean :+ ((f.dupHour, f.dupPrice)) else clean
    rows.map { case (h, px) =>
      val t = hourMs(f.day, h)
      val s = fmt2(px)
      (t, s, fmt2(px + 0.5), fmt2(px - 0.5), s, "1.0", t + 3599999L, "0", 10L, "0", "0", "0")
    }
  }

  /** Clean history rows (ts_ms, asset, price) of one asset. */
  def historyRows(seed: Long, asset: Int, days: Int): Iterator[(Long, String, Double)] =
    Iterator.range(0, days).flatMap(d => Iterator.range(0, 24).map(h =>
      (hourMs(d, h), assetName(asset), hourlyPrice(seed, asset, d, h))))

  /** raw_prices as it must read after `done` live days: history plus
    * each live day's unique hours, with `corrections` applied. */
  def expectedRaw(facts: IngestFacts, asset: Int, done: Int,
                  corrections: Seq[Correction]): Iterator[(Long, String, Double)] = {
    val name = assetName(asset)
    val corr = corrections.filter(_.asset == name).map(c => c.tsMs -> c.price).toMap
    val live = facts.days.take(done).iterator.flatMap { f =>
      Iterator.range(0, hoursOf(f, name)).map(h =>
        (hourMs(f.day, h), name, hourlyPrice(facts.seed, asset, f.day, h)))
    }
    (historyRows(facts.seed, asset, facts.historyDays) ++ live)
      .map { case (t, n, p) => (t, n, corr.getOrElse(t, p)) }
  }

  // -------------------------------------------------------------- backfill

  final case class BackfillFacts(seed: Long, assets: Int, days: Int, rows: Long)

  // ---------------------------------------------------------------- corpus

  final case class Pair(a: Long, b: Long)
  final case class CorpusFacts(seed: Long, docs: Int, evalDocs: Int,
                               exactDupShare: Double, nearDupShare: Double,
                               exactDups: Seq[Pair], nearDups: Seq[Pair],
                               /** (corpus doc, eval doc) sharing a 12-word span */
                               overlaps: Seq[Pair])

  private val Syllables = Array("ka", "lo", "mi", "ter", "van", "su", "pre", "dor", "el",
    "ni", "qua", "ros", "ti", "bel", "gan", "fu", "xo", "ra", "wen", "ish")
  private val Stopwords = Array("the", "a", "and", "of", "to", "in", "is", "it")

  /** A fixed vocabulary of `n` pseudo-words for the seed. */
  def vocabulary(seed: Long, n: Int): Array[String] = {
    val r = rng(seed, 7L)
    val seen = scala.collection.mutable.LinkedHashSet.empty[String]
    while (seen.size < n) {
      val k = 2 + r.nextInt(3)
      seen += (0 until k).map(_ => Syllables(r.nextInt(Syllables.length))).mkString
    }
    seen.toArray
  }

  /** `words` tokens: about one in four a stopword, the rest drawn from
    * the vocabulary with a skew toward its head. */
  def sentence(r: SplittableRandom, vocab: Array[String], words: Int): Seq[String] =
    (0 until words).map { _ =>
      if (r.nextInt(4) == 0) Stopwords(r.nextInt(Stopwords.length))
      else {
        val u = r.nextDouble()
        vocab((u * u * vocab.length).toInt)
      }
    }

  /** `n` documents of 1-2 KB, with an exact-duplicate share, a
    * near-duplicate share (three words substituted — 3-gram Jaccard
    * stays well above 0.8) and `evalDocs` eval documents, of which
    * `overlapping` copy a 12-word span of one distinct original corpus
    * document. Duplicates and overlap sources are disjoint, so each
    * planted fact has exactly one cause. */
  def corpus(seed: Long, n: Int, evalDocs: Int, overlapping: Int,
             exactDupShare: Double = 0.04, nearDupShare: Double = 0.04)
      : (Seq[(Long, String)], Seq[(Long, String)], CorpusFacts) = {
    val vocab = vocabulary(seed, 4000)
    val r = rng(seed, 11L)
    val nExact = (n * exactDupShare).toInt
    val nNear = (n * nearDupShare).toInt
    val nOrig = n - nExact - nNear
    val orig = (0 until nOrig).map { i =>
      val dr = rng(seed, 12L, i.toLong)
      sentence(dr, vocab, 180 + dr.nextInt(150))
    }
    // copies take their originals from the first half, overlap sources
    // from the second half, so no source is both copied and overlapped
    val half = nOrig / 2
    val exact = (0 until nExact).map(_ => r.nextInt(half))
    val near = (0 until nNear).map(_ => r.nextInt(half))
    val docs = orig.zipWithIndex.map { case (ws, i) => (i.toLong, ws.mkString(" ")) } ++
      exact.zipWithIndex.map { case (src, j) => ((nOrig + j).toLong, orig(src).mkString(" ")) } ++
      near.zipWithIndex.map { case (src, j) =>
        val ws = orig(src).toArray
        (0 until 3).foreach(_ => ws(r.nextInt(ws.length)) = vocab(vocab.length - 1 - r.nextInt(500)))
        ((nOrig + nExact + j).toLong, ws.mkString(" "))
      }
    val sources = Iterator.continually(half + r.nextInt(nOrig - half)).distinct.take(overlapping).toArray
    val eval = (0 until evalDocs).map { e =>
      val er = rng(seed, 13L, e.toLong)
      val filler = sentence(er, vocab, 120)
      val text =
        if (e < sources.length) {
          val src = orig(sources(e))
          val at = er.nextInt(src.length - 12)
          (filler.take(60) ++ src.slice(at, at + 12) ++ filler.drop(60)).mkString(" ")
        } else filler.mkString(" ")
      (1000000L + e, text)
    }
    val facts = CorpusFacts(seed, n, evalDocs, exactDupShare, nearDupShare,
      exact.zipWithIndex.map { case (s, j) => Pair(s.toLong, (nOrig + j).toLong) },
      near.zipWithIndex.map { case (s, j) => Pair(s.toLong, (nOrig + nExact + j).toLong) },
      sources.toSeq.zipWithIndex.map { case (s, e) => Pair(s.toLong, 1000000L + e) })
    (docs, eval, facts)
  }

  // ----------------------------------------------------------------- serve

  final case class ServeFacts(seed: Long, ticks: Long, assets: Int, days: Int, docs: Int,
                              dim: Int, clusters: Int, tickBatch: Int, docBatch: Int)

  /** Tick row number `n`: (id, asset, ts_ms, price), keyed by [[tickKey]]. */
  def tick(seed: Long, n: Long, assets: Int): (Long, String, Long, Double) = {
    val r = rng(seed, 21L, n)
    val a = r.nextInt(assets)
    (tickKey(n), assetName(a), hourMs(0, 0) + n * 1000L, hourlyPrice(seed, a, (n / 5000).toInt, 0))
  }

  /** The `id` of tick row `n`: a bijection on [0, 2^40) (an odd
    * multiplier, then an xor-shift) that scatters consecutive rows over
    * the whole range, so no batch of ticks is clustered on its keys. */
  def tickKey(n: Long): Long = {
    val x = (n * 0x9E3779B97F4BL) & ((1L << 40) - 1)
    x ^ (x >>> 20)
  }

  /** Search document `id`: ~60 words and a unit-ish embedding near one
    * of `clusters` centers. */
  def searchDoc(seed: Long, id: Long, vocab: Array[String], dim: Int, clusters: Int)
      : (Long, String, Seq[Float]) = {
    val r = rng(seed, 22L, id)
    val text = sentence(r, vocab, 40 + r.nextInt(40)).mkString(" ")
    (id, text, vector(seed, r.nextInt(clusters), r, dim))
  }

  def center(seed: Long, c: Int, dim: Int): Array[Double] = {
    val r = rng(seed, 23L, c.toLong)
    Array.fill(dim)(r.nextDouble() * 2 - 1)
  }

  def vector(seed: Long, cluster: Int, r: SplittableRandom, dim: Int): Seq[Float] =
    center(seed, cluster, dim).toSeq.map(x => (x + (r.nextDouble() - 0.5) * 0.6).toFloat)

  // ------------------------------------------------------------ persistence

  private lazy val mapper = JsonMapper.builder().addModule(DefaultScalaModule).build()

  def toJson(facts: AnyRef): String = mapper.writeValueAsString(facts)

  def writeFacts(dir: String, facts: AnyRef): Unit = {
    val p = java.nio.file.Paths.get(dir, "planted.json")
    java.nio.file.Files.createDirectories(p.getParent)
    java.nio.file.Files.writeString(p, toJson(facts))
  }

  def readFacts[T](dir: String, cls: Class[T]): T =
    mapper.readValue(java.nio.file.Files.readString(java.nio.file.Paths.get(dir, "planted.json")), cls)
}
