package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, StandardOpenOption}
import scala.collection.mutable
import scala.util.Random

/** Seeded input generators. Each keeps its own model of the expected
  * result; the program under test only ever sees the files or DataFrames
  * written from them. */
object Gen {

  /** One row of the captured table `bench.orders`. */
  final case class Row(id: Long, cat: Int, qty: Long, note: String) {
    def json: String = s"""{"id":$id,"cat":$cat,"qty":$qty,"note":"$note"}"""
    /** The canonical form both sides of the state check are rendered in. */
    def canonical: String = s"$id|$cat|$qty|$note"
  }

  val TableDir = "bench.orders"
  val Schema = "id BIGINT, cat INT, qty BIGINT, note STRING"
  val PrimaryKey = Seq("id")

  /** Zipf(s) over ranks 0 until n by inverse CDF. */
  final class Zipf(n: Int, s: Double) {
    private val cdf = {
      val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1.0, s))
      val c = w.scanLeft(0.0)(_ + _).tail
      c.map(_ / c.last)
    }
    def sample(r: Random): Int = {
      val u = r.nextDouble()
      var lo = 0; var hi = n - 1
      while (lo < hi) { val m = (lo + hi) >>> 1; if (cdf(m) >= u) hi = m else lo = m + 1 }
      lo
    }
  }

  /** Expected current state: the latest row per key, deletes removed, plus
    * an array of live keys for O(1) uniform and rank-based key picks. */
  final class TableModel(rnd: Random) {
    val rows = mutable.HashMap.empty[Long, Row]
    private val live = mutable.ArrayBuffer.empty[Long]
    private val slot = mutable.HashMap.empty[Long, Int]
    private var nextId = 1L

    def size: Int = live.size
    def keyAtRank(rank: Int): Long = live(rank % live.size)
    def uniformKey(): Long = live(rnd.nextInt(live.size))

    private def note(): String = {
      val n = 12 + rnd.nextInt(20)
      val sb = new StringBuilder(n)
      (0 until n).foreach(_ => sb.append(('a' + rnd.nextInt(26)).toChar))
      sb.toString
    }
    private def fresh(id: Long): Row = Row(id, rnd.nextInt(50), rnd.nextInt(1000000).toLong, note())

    def create(): Row = {
      val r = fresh(nextId); nextId += 1
      rows(r.id) = r; slot(r.id) = live.size; live += r.id
      r
    }
    /** (before, after) of an update on `id`. */
    def update(id: Long): (Row, Row) = {
      val before = rows(id)
      val after = before.copy(qty = rnd.nextInt(1000000).toLong, note = note())
      rows(id) = after
      (before, after)
    }
    /** Before-image of a delete of `id`. */
    def delete(id: Long): Row = {
      val before = rows.remove(id).get
      val i = slot.remove(id).get
      val last = live.remove(live.size - 1)
      if (last != id) { live(i) = last; slot(last) = i }
      before
    }
    def digest: (Long, Long) = Stats.digest(rows.valuesIterator.map(_.canonical))
  }

  private def writeLines(p: Path, lines: Iterator[String], append: Boolean): Unit = {
    val w = Files.newBufferedWriter(p, UTF_8,
      StandardOpenOption.CREATE, if (append) StandardOpenOption.APPEND else StandardOpenOption.TRUNCATE_EXISTING)
    try lines.foreach { l => w.write(l); w.write('\n') } finally w.close()
  }

  private def imgJson(r: Row): String = if (r == null) "null" else r.json

  // ---- bootstrap: the JSONL table layout (FileChangeLogProvider) ---------

  /** A JSONL-layout table under `root`: `n` snapshot rows and a pre-start
    * backlog of `backlog` log events (80% updates, 10% creates, 10%
    * deletes on uniform keys) at offsets 1..backlog. */
  final class JsonlTable(root: Path, n: Int, backlog: Int, seed: Long) {
    private val rnd = new Random(seed)
    val model = new TableModel(rnd)
    val dir: Path = root.resolve(TableDir)
    private var offset = 0L
    /** Changelog rows the source must emit in full mode, decoded once. */
    var expectedChangelogRows = 0L

    Files.createDirectories(dir)
    Files.writeString(dir.resolve("meta.json"),
      s"""{"db":"bench","table":"orders","primaryKey":["id"],"schema":"$Schema","baseOffset":0}""")
    writeLines(dir.resolve("snapshot.jsonl"), Iterator.fill(n)(model.create().json), append = false)
    writeLines(dir.resolve("log.jsonl"), Iterator.fill(backlog) {
      val p = rnd.nextDouble()
      if (p < 0.8) logLine("u", model.update(model.uniformKey()))
      else if (p < 0.9) logLine("c", (null, model.create()))
      else logLine("d", (model.delete(model.uniformKey()), null))
    }, append = false)
    // the initial read emits the state folded at the high watermark: one row per live key
    expectedChangelogRows = model.size.toLong

    private def logLine(op: String, img: (Row, Row)): String = {
      offset += 1
      s"""{"offset":$offset,"op":"$op","tsMs":$offset,"before":${imgJson(img._1)},"after":${imgJson(img._2)}}"""
    }

    def lastOffset: Long = offset

    /** Append `m` updates, half of them on the hottest 1% of keys. */
    def appendUpdates(m: Int): Unit = {
      val hot = Array.fill(math.max(1, model.size / 100))(model.uniformKey()).distinct
      writeLines(dir.resolve("log.jsonl"), Iterator.tabulate(m) { i =>
        val id = if (i % 2 == 0) hot(rnd.nextInt(hot.length)) else model.uniformKey()
        logLine("u", model.update(id))
      }, append = true)
      expectedChangelogRows += 2L * m // full mode: -U and +U per update
    }
  }

  // ---- live tail: the Debezium envelope spool (DebeziumJsonChangeLogProvider)

  /** A Debezium-envelope spool under `root`: an `s`-row snapshot (the
    * leading op='r' block) and a pre-start backlog of `backlog` c/u/d
    * events. Live events are appended one whole line per write, the spool
    * contract of DebeziumEmbeddedChangeLogProvider; bulk writes happen only
    * while no stream reads the spool. */
  final class DebeziumSpool(root: Path, s: Int, backlog: Int, seed: Long) {
    private val rnd = new Random(seed)
    val model = new TableModel(rnd)
    val dir: Path = root.resolve(TableDir)
    private val events = dir.resolve("events.jsonl")
    private val zipf = new Zipf(math.max(1, s), 1.1)
    private var offset = 0L
    /** Changelog rows (full mode) each log offset makes the source emit. */
    private val rowsAt = mutable.ArrayBuffer.empty[Byte]

    Files.createDirectories(dir)
    Files.writeString(dir.resolve("meta.json"),
      s"""{"db":"bench","table":"orders","primaryKey":["id"],"schema":"$Schema"}""")
    writeLines(events, Iterator.fill(s)(envelope("r", null, model.create(), 0L)) ++
      Iterator.fill(backlog)(nextEvent(0L)), append = false)
    /** Rows the initial read emits: the state folded at the high watermark. */
    val snapshotRows: Long = model.size.toLong

    def lastOffset: Long = offset

    /** Changelog rows the source must emit for log offsets in (from, to]. */
    def changelogRows(from: Long, to: Long): Long =
      rowsAt.slice(from.toInt, to.toInt).map(_.toLong).sum

    private def envelope(op: String, before: Row, after: Row, tsMs: Long): String = {
      if (op != "r") { offset += 1; rowsAt += (if (op == "u") 2 else 1) } // full mode: -U and +U
      s"""{"before":${imgJson(before)},"after":${imgJson(after)},"op":"$op","ts_ms":$tsMs}"""
    }

    /** The next c/u/d event (about 70/20/10, Zipf keys). */
    private def nextEvent(nowMs: Long): String = {
      val p = rnd.nextDouble()
      if (p < 0.7 || model.size < 2) envelope("c", null, model.create(), nowMs)
      else if (p < 0.9) { val (b, a) = model.update(model.keyAtRank(zipf.sample(rnd))); envelope("u", b, a, nowMs) }
      else envelope("d", model.delete(model.keyAtRank(zipf.sample(rnd))), null, nowMs)
    }

    /** Append one live event as one write; returns its log offset (1-based
      * among non-snapshot events). */
    def appendOne(nowMs: Long): Long = {
      Files.write(events, (nextEvent(nowMs) + "\n").getBytes(UTF_8), StandardOpenOption.APPEND)
      offset
    }

    /** Bulk-append `m` updates, half of them on the hottest 1% of keys. */
    def appendUpdates(m: Int, nowMs: Long): Unit = {
      val hot = Array.fill(math.max(1, model.size / 100))(model.uniformKey()).distinct
      writeLines(events, Iterator.tabulate(m) { i =>
        val id = if (i % 2 == 0) hot(rnd.nextInt(hot.length)) else model.uniformKey()
        val (b, a) = model.update(id)
        envelope("u", b, a, nowMs)
      }, append = true)
    }
  }

  // ---- curation: an English-like corpus with planted copies -----------

  /** `d` documents (ids 1..d). About 5% are exact copies and 5% one-token
    * edits of an earlier base document; 8% are short (fail the quality
    * gate) and 5% German (fail the language gate). `exactCopyOf` maps each
    * planted exact copy to its original. */
  final class Corpus(d: Int, seed: Long) {
    private val rnd = new Random(seed)
    private val syll = Array("ka", "lo", "mi", "ter", "sun", "vor", "pel", "dra", "in", "ou",
      "bre", "tis", "gan", "mu", "sel", "rho", "fen", "qua", "dex", "nor")
    private val vocab = Array.tabulate(6000) { i =>
      val r = new Random(i * 7919L + 1)
      (0 until 2 + r.nextInt(3)).map(_ => syll(r.nextInt(syll.length))).mkString + i
    }
    private val zipf = new Zipf(vocab.length, 0.8)
    private val en = Array("the", "a", "of", "and", "to", "in", "is", "for")
    private val de = Array("der", "die", "das", "und", "ist", "nicht", "ein", "zu")

    private def text(len: Int, stop: Array[String]): Array[String] =
      Array.fill(len)(if (rnd.nextDouble() < 0.2) stop(rnd.nextInt(stop.length)) else vocab(zipf.sample(rnd)))

    val docs: Array[(Long, String)] = new Array(d)
    val exactCopyOf = mutable.HashMap.empty[Long, Long]
    private val bases = mutable.ArrayBuffer.empty[Int]
    (0 until d).foreach { i =>
      val id = i + 1L
      val p = rnd.nextDouble()
      val t =
        if (p < 0.05 && bases.nonEmpty) {
          val o = bases(rnd.nextInt(bases.size)); exactCopyOf(id) = o + 1L; docs(o)._2
        } else if (p < 0.10 && bases.nonEmpty) {
          val toks = docs(bases(rnd.nextInt(bases.size)))._2.dropRight(1).split(" ")
          toks(rnd.nextInt(toks.length)) = vocab(rnd.nextInt(vocab.length))
          toks.mkString(" ") + "."
        } else {
          bases += i
          if (p < 0.18) text(8 + rnd.nextInt(12), en).mkString(" ") + "."
          else if (p < 0.23) text(40 + rnd.nextInt(50), de).mkString(" ") + "."
          else text(40 + rnd.nextInt(50), en).mkString(" ") + "."
        }
      docs(i) = (id, t)
    }
  }
}
