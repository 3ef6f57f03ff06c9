package perfbench

import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {

  /** Every generated input of every workload, serialized in one fixed
    * order: equal strings mean byte-identical inputs. */
  private def inputs(seed: Long): String = {
    val facts = Gen.ingestFacts(seed, 6, 40, 12)
    val klines = facts.days.take(4).flatMap(f => (0 until 6).flatMap(a => Gen.klines(seed, f, Gen.assetName(a))))
    val history = (0 until 3).flatMap(a => Gen.historyRows(seed, a, 5))
    val (docs, eval, corpusFacts) = Gen.corpus(seed, 400, 12, 5)
    val vocab = Gen.vocabulary(seed, 500)
    val ticks = (0L until 50L).map(Gen.tick(seed, _, 8))
    val search = (0L until 20L).map(Gen.searchDoc(seed, _, vocab, 8, 4))
    Seq(Gen.toJson(facts), klines.mkString("\n"), history.mkString("\n"), docs.mkString("\n"),
      eval.mkString("\n"), Gen.toJson(corpusFacts), ticks.mkString("\n"), search.mkString("\n"))
      .mkString("\n--\n")
  }

  test("the same seed gives byte-identical inputs") {
    assert(inputs(7).getBytes("UTF-8").sameElements(inputs(7).getBytes("UTF-8")))
  }

  test("a different seed gives different inputs") {
    assert(inputs(7) != inputs(8))
  }

  test("tick keys are distinct and no batch of ticks is clustered on them") {
    val keys = (0L until 20000L).map(Gen.tickKey)
    assert(keys.distinct.size == keys.size)
    assert(keys.forall(k => k >= 0 && k < (1L << 40)))
    keys.grouped(1250).foreach { b => assert(b.max - b.min > (1L << 40) * 9 / 10) }
  }

  test("the ingest klines carry exactly the planted duplicate hour and under-filled day") {
    val seed = 3L
    val facts = Gen.ingestFacts(seed, 6, 40, 12)
    facts.days.foreach { f =>
      (0 until 6).map(Gen.assetName).foreach { a =>
        val ks = Gen.klines(seed, f, a)
        val hours = ks.map(_._1)
        val expectedRows = (if (f.underfilledAsset.contains(a)) 19 else 24) + (if (f.dupAsset == a) 1 else 0)
        assert(ks.size == expectedRows)
        assert(hours.size - hours.distinct.size == (if (f.dupAsset == a) 1 else 0))
      }
    }
    assert(facts.days.count(_.underfilledAsset.isDefined) == 6)
    // a late correction always restates a row that exists
    facts.days.foreach(f => assert(f.correction.tsMs == Gen.hourMs(f.day - 3, 12)))
  }

  test("the corpus plants its exact duplicates, near duplicates and eval overlaps as recorded") {
    val (docs, eval, facts) = Gen.corpus(5L, 500, 10, 4)
    val text = docs.toMap
    val evalText = eval.toMap
    assert(facts.exactDups.size == 20 && facts.nearDups.size == 20 && facts.overlaps.size == 4)
    facts.exactDups.foreach(p => assert(text(p.a) == text(p.b)))
    facts.nearDups.foreach { p =>
      val (a, b) = (text(p.a).split(" "), text(p.b).split(" "))
      assert(a.length == b.length && a.zip(b).count { case (x, y) => x != y } <= 3 && text(p.a) != text(p.b))
    }
    facts.overlaps.foreach { p =>
      val spans = text(p.a).split(" ").sliding(12).map(_.mkString(" "))
      assert(spans.exists(evalText(p.b).contains(_)))
    }
    val copied = (facts.exactDups ++ facts.nearDups).map(_.a).toSet
    assert(facts.overlaps.forall(p => !copied(p.a)))
  }

  test("planted facts are written beside the inputs and read back unchanged") {
    val dir = java.nio.file.Files.createTempDirectory(Scratch.dir, "gen").toString
    val facts = Gen.ingestFacts(9L, 4, 35, 6)
    Gen.writeFacts(dir, facts)
    assert(Gen.readFacts(dir, classOf[Gen.IngestFacts]) == facts)
    val (_, _, corpus) = Gen.corpus(9L, 300, 8, 3)
    Gen.writeFacts(dir, corpus)
    assert(Gen.readFacts(dir, classOf[Gen.CorpusFacts]) == corpus)
  }
}
