package perfbench

import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** Self-tests of the benchmark's own measurement rules. */
class StatsSpec extends AnyFunSuite {
  import Stats._

  test("lag is attributed to the first commit whose logPos covers the event") {
    val commits = Seq(Commit(0, 1000), Commit(5, 2000), Commit(5, 2500), Commit(9, 4000))
    val lags = attributeLag(Array(1L, 5L, 6L, 9L, 10L), Array(900L, 950L, 1900L, 1950L, 3000L), commits)
    // offset 5 is covered by the batch committed at 2000, not the no-op one at 2500
    assert(lags.toSeq == Seq(Some(1100L), Some(1050L), Some(2100L), Some(2050L), None))
  }

  test("lag attribution rejects end offsets that go backwards") {
    intercept[IllegalArgumentException](attributeLag(Array(1L), Array(0L), Seq(Commit(5, 1), Commit(4, 2))))
  }

  test("percentile is nearest-rank and always an observed sample") {
    val xs = (1 to 100).map(_.toDouble)
    assert(percentile(xs, 50) == 50.0)
    assert(percentile(xs, 99) == 99.0)
    assert(percentile(xs, 100) == 100.0)
    assert(percentile(Seq(7.0, 1.0, 3.0), 50) == 3.0)
    assert(percentile(Seq(1.0, 2.0, 3.0, 4.0), 50) == 2.0)
    assert(percentile(Seq(5.0), 99) == 5.0)
    intercept[IllegalArgumentException](percentile(Nil, 50))
    intercept[IllegalArgumentException](percentile(xs, 0))
    assert(median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
  }

  test("self time subtracts the union of child intervals, clipped to the span") {
    assert(unionLength(Seq((0L, 10L), (5L, 15L), (20L, 25L))) == 20L)
    assert(unionLength(Seq((3L, 3L), (8L, 2L))) == 0L)
    // children overlap each other and stick out of the span on both sides
    assert(selfTime((100L, 200L), Seq((90L, 120L), (110L, 130L), (190L, 250L))) == 100L - 30L - 10L)
    assert(selfTime((0L, 50L), Nil) == 50L)
    assert(selfTime((0L, 50L), Seq((60L, 70L))) == 50L)
  }

  test("backlog growth: a sawtooth at a sustainable rate is flat, a climb is not") {
    // sawtooth: 400 events/s arrive, a batch every 2 s drains them all
    val saw = (0 until 200).map(i => (i * 100L, (i % 20) * 40L))
    val (s1, g1) = backlogGrowth(saw, slackPerS = 20)
    assert(!g1, s"sawtooth slope $s1")
    // unsustainable: the stream commits only half of what arrives
    val climb = (0 until 200).map(i => (i * 100L, i * 20L + (i % 20) * 40L))
    val (s2, g2) = backlogGrowth(climb, slackPerS = 20)
    assert(g2 && s2 > 150, s"climb slope $s2")
  }

  test("a corrupted state fails the digest check") {
    val model = new Gen.TableModel(new scala.util.Random(1))
    (0 until 100).foreach(_ => model.create())
    model.update(model.keyAtRank(3)); model.delete(model.keyAtRank(7))
    val rows = model.rows.values.toSeq
    val good = digest(rows.reverseIterator.map(_.canonical))
    assert(good == model.digest, "the digest must not depend on row order")
    val changed = rows.head.copy(qty = rows.head.qty + 1) +: rows.tail
    assert(digest(changed.iterator.map(_.canonical)) != model.digest)
    assert(digest(rows.tail.iterator.map(_.canonical)) != model.digest)
    assert(digest((rows :+ rows.head).iterator.map(_.canonical)) != model.digest)
  }

  test("generators are deterministic in the seed") {
    val a = new Gen.Corpus(500, 7); val b = new Gen.Corpus(500, 7); val c = new Gen.Corpus(500, 8)
    assert(a.docs.toSeq == b.docs.toSeq && a.exactCopyOf == b.exactCopyOf)
    assert(a.docs.toSeq != c.docs.toSeq)
    assert(a.exactCopyOf.forall { case (copy, orig) => orig < copy && a.docs(copy.toInt - 1)._2 == a.docs(orig.toInt - 1)._2 })
    val tmp = Files.createDirectories(java.nio.file.Paths.get("target", "test-tmp"))
    val d1 = Files.createTempDirectory(tmp, "gen")
    val d2 = Files.createTempDirectory(tmp, "gen")
    try {
      val t1 = new Gen.JsonlTable(d1, 200, 100, 3); t1.appendUpdates(50)
      val t2 = new Gen.JsonlTable(d2, 200, 100, 3); t2.appendUpdates(50)
      assert(t1.model.digest == t2.model.digest)
      assert(Files.readString(t1.dir.resolve("log.jsonl")) == Files.readString(t2.dir.resolve("log.jsonl")))
      assert(t1.lastOffset == 150 && t1.model.size == t2.model.size)
    } finally { Workloads.deleteTree(d1); Workloads.deleteTree(d2) }
  }
}
