package perfbench

import graft.cdc.provider.{ChangeLogProvider, DebeziumJsonChangeLogProvider, FileChangeLogProvider, ProviderRegistry}
import graft.operators.Curation
import graft.streaming.UpsertSink
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** What one run measured. `e2e` holds the end-to-end metrics under the
  * names the benchmark doc uses, `layer` the traced per-layer metrics. */
final class Result {
  var attempted = 0L
  var failed = 0L
  var correct = true
  val notes = mutable.ArrayBuffer.empty[String]
  /** Set-up beyond JVM and session start: one-off parts (input generation
    * and warm-up done once) and the input generation repeated per timed pass. */
  var setupOnceS = 0.0
  val setupRepeatS = mutable.ArrayBuffer.empty[Double]
  val e2e = mutable.LinkedHashMap.empty[String, (Double, String)]
  val layer = mutable.LinkedHashMap.empty[String, (Double, String)]
  def fail(why: String): Unit = { failed += 1; correct = false; notes += why }
}

/** Shared run context; `cores` is Spark's task slots. */
final class Ctx(val spark: SparkSession, val work: Path, val seed: Long, val seconds: Int,
    val cores: Int, val tr: Tracer) {
  val sparkCounters = new SparkCounters
  val progress = new ProgressLog
  spark.streams.addListener(progress)
  private val uniq = new AtomicLong()
  def dir(name: String): Path = {
    val d = work.resolve(s"$name-${uniq.incrementAndGet()}"); Files.createDirectories(d); d
  }
  /** Start counting engine work for the measured window. */
  def startWindow(): Unit = { spark.sparkContext.addSparkListener(sparkCounters) }
}

object Workloads {
  val MetaCols = "op_offset,row_kind"
  val Pk: Seq[String] = Gen.PrimaryKey

  /** The cdc-log stream over `root`: the plain `path` option untraced; a
    * TracedProvider selected by `provider.name` when tracing. */
  def changelog(c: Ctx, root: Path, debezium: Boolean, extra: Map[String, String] = Map.empty): DataFrame = {
    val r = c.spark.readStream.format("cdc-log").option("metadata.columns", MetaCols).options(extra)
    if (c.tr.enabled) {
      val inner: ChangeLogProvider =
        if (debezium) new DebeziumJsonChangeLogProvider(root.toString) else new FileChangeLogProvider(root.toString)
      val name = s"perfbench-${c.tr.nextId()}"
      ProviderRegistry.register(name, new TracedProvider(inner, c.tr))
      r.option("provider.name", name).load()
    } else {
      val withFmt = if (debezium) r.option("path.format", "debezium-json") else r
      withFmt.option("path", root.toString).load()
    }
  }

  /** The sink: UpsertSink.upsertParquet untraced; when tracing, the same
    * mergeBatch inside the benchmark's own foreachBatch with a span around
    * it and the bucket directories listed after it. */
  def sink(c: Ctx, df: DataFrame, state: Path, ckpt: Path, bs: BucketStats): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    val w =
      if (!c.tr.enabled) UpsertSink.upsertParquet(df, Pk, state.toString)
      else df.writeStream.foreachBatch { (b: DataFrame, id: Long) =>
        c.tr.span("sink.merge", id)(UpsertSink.mergeBatch(b, Pk, state.toString))
        bs.observe(state)
      }
    w.option("checkpointLocation", ckpt.toString)
  }

  /** Reads the sink's state and compares it with the generator's model. */
  def checkState(c: Ctx, state: Path, model: Gen.TableModel): Option[String] = {
    val rows = UpsertSink.readState(c.spark, state.toString).select("id", "cat", "qty", "note").collect()
    val got = Stats.digest(rows.iterator.map(r => Gen.Row(r.getLong(0), r.getInt(1), r.getLong(2), r.getString(3)).canonical))
    val want = model.digest
    if (got == want) None else Some(s"state digest ${got} != model ${want}")
  }

  private def now(): Long = System.nanoTime()
  private def msSince(t0: Long): Double = (System.nanoTime() - t0) / 1e6

  // ---- bootstrap -----------------------------------------------------------

  /** Rows N in the snapshot, B pre-start backlog events, M outage updates. */
  val BootN = 20000; val BootB = 10000; val BootM = 20000

  def bootstrap(c: Ctx, res: Result): Unit = {
    val bs = new BucketStats
    val leg1 = mutable.ArrayBuffer.empty[Double]
    val leg2 = mutable.ArrayBuffer.empty[Double]
    var changelogRows = 0L
    var events = 0L
    var liveRows = 0L
    var passes = 0

    def pass(timed: Boolean, scale: Int = 1): Unit = {
      val d = c.dir("bootstrap")
      val tg = now()
      val table = new Gen.JsonlTable(d.resolve("src"), BootN / scale, BootB / scale, c.seed * 1000 + passes)
      if (timed) res.setupRepeatS += msSince(tg) / 1000
      val (state, ckpt) = (d.resolve("state"), d.resolve("ckpt"))
      def leg(name: String, opts: Map[String, String], out: mutable.ArrayBuffer[Double]): Boolean = {
        if (timed) res.attempted += 1
        val t0 = now()
        val ok = try {
          c.tr.span(name) {
            sink(c, changelog(c, d.resolve("src"), debezium = false, opts), state, ckpt, bs)
              .trigger(Trigger.AvailableNow()).start().awaitTermination()
          }
          val ms = msSince(t0)
          checkState(c, state, table.model) match {
            case None => if (timed) out += ms; true
            case Some(why) => if (timed) res.fail(s"$name: $why"); false
          }
        } catch { case e: Exception => if (timed) res.fail(s"$name threw $e"); false }
        ok
      }
      val liveAtHw = table.model.size
      if (leg("bootstrap.leg1", Map.empty, leg1)) {
        table.appendUpdates(BootM / scale)
        leg("bootstrap.leg2", Map("scan.log.catchup.shards" -> c.cores.toString), leg2)
      }
      if (timed) {
        changelogRows += table.expectedChangelogRows; events += liveAtHw + BootM
        liveRows = table.model.size; passes += 1
      }
      deleteTree(d)
    }

    val tw = now()
    pass(timed = false, scale = 10) // warm-up: class loading, codegen, JIT
    res.setupOnceS += msSince(tw) / 1000
    c.tr.clear(); bs.clear(); c.progress.clear()
    c.startWindow()
    val t0 = now()
    while (passes < 2 || msSince(t0) < c.seconds * 1000.0) pass(timed = true)
    val windowMs = msSince(t0)

    if (leg1.nonEmpty) res.e2e("snapshot_rows_per_s") = (BootN / (Stats.median(leg1.toSeq) / 1000), "rows/s")
    if (leg2.nonEmpty) {
      res.e2e("catchup_events_per_s") = (BootM / (Stats.median(leg2.toSeq) / 1000), "events/s")
      res.e2e("catchup_ms") = (Stats.median(leg2.toSeq), "ms")
    }
    res.notes += f"bootstrap: $passes timed passes, leg1 ms ${leg1.map(x => f"$x%.0f").mkString(",")}; leg2 ms ${leg2.map(x => f"$x%.0f").mkString(",")}"
    if (c.tr.enabled) {
      Thread.sleep(200) // let the listener buses deliver the last events
      Layers.cdc(c, res, bs, c.progress.all, changelogRows, events, liveRows, passes, windowMs)
    }
  }

  // ---- live tail -----------------------------------------------------------

  /** Snapshot rows and pre-start backlog of the spool; base offered rate
    * (events/s) and generator tick (ms) of the open loop; untimed warm-up
    * (s) before its measured window; updates written during each outage,
    * and the number of outages. */
  val TailS = 10000; val TailBacklog = 5000; val TailRate = 400; val TickMs = 10; val TailWarmS = 4
  val TailOutage = 10000; val TailOutages = 3
  /** Longest wait for a stream to commit everything it was given. */
  val DrainTimeoutMs = 60000L
  /** p99 lag limit (ms) and backlog slack (events/s) of the sustainability test. */
  val LagLimitMs = 10000.0; val BacklogSlackPerS = 0.05 * TailRate

  /** One captured table's life: the initial snapshot, the open-loop live
    * tail, then an outage whose writes a restarted stream catches up. */
  def liveTail(c: Ctx, res: Result): Unit = {
    val bs = new BucketStats
    val d = c.dir("tail")
    val tg = now()
    val spool = new Gen.DebeziumSpool(d.resolve("src"), TailS, TailBacklog, c.seed)
    res.setupOnceS += msSince(tg) / 1000
    val (src, state, ckpt) = (d.resolve("src"), d.resolve("state"), d.resolve("ckpt"))
    /** Wait until stream `q` has committed offset `pos`; false if it died or timed out. */
    def runUntil(q: StreamingQuery, pos: => Long): Boolean = {
      val deadline = System.currentTimeMillis() + DrainTimeoutMs
      while (q.isActive && c.progress.lastLogPos < pos && System.currentTimeMillis() < deadline) Thread.sleep(5)
      q.isActive && c.progress.lastLogPos >= pos
    }

    // leg 1: the initial read, folding the pre-start backlog into each chunk
    res.attempted += 1
    c.startWindow()
    val t1 = now()
    val q = sink(c, changelog(c, src, debezium = true), state, ckpt, bs).start()
    if (!runUntil(q, spool.lastOffset)) {
      res.fail(s"live_tail: snapshot never committed (${q.exception.map(_.toString).getOrElse("timeout")})")
      q.stop(); return
    }
    val snapshotMs = msSince(t1)

    // leg 2: the open-loop tail. The events of tick j are due at
    // start + j * TickMs whatever the stream is doing, and appended one
    // line per write when their tick comes.
    val offsets = mutable.ArrayBuffer.empty[Long]
    val due = mutable.ArrayBuffer.empty[Long]
    val backlog = mutable.ArrayBuffer.empty[(Long, Long)]
    @volatile var lateMax = 0L
    @volatile var generated = spool.lastOffset
    val warmEvents = TailRate * TailWarmS
    val total = warmEvents + TailRate.toLong * c.seconds
    val gen = new Thread(() => {
      val perTick = TailRate * TickMs / 1000.0
      val startMs = System.currentTimeMillis()
      val startNs = System.nanoTime()
      var k = 0L; var tick = 0L
      while (q.isActive && k < total) {
        val sleep = startNs + tick * TickMs * 1000000L - System.nanoTime()
        if (sleep > 0) Thread.sleep(sleep / 1000000L, (sleep % 1000000L).toInt)
        val dueMs = startMs + tick * TickMs
        while (k < math.min(total, math.floor((tick + 1) * perTick).toLong)) {
          val off = spool.appendOne(System.currentTimeMillis())
          lateMax = math.max(lateMax, System.currentTimeMillis() - dueMs)
          offsets.synchronized { offsets += off; due += dueMs }
          k += 1; generated = off
        }
        if (tick % 10 == 0) backlog += ((System.currentTimeMillis(), generated - c.progress.lastLogPos))
        tick += 1
      }
    }, "perfbench-generator")
    gen.start()
    // the window opens once the warm-up events are out
    while (offsets.synchronized(offsets.size) < warmEvents && gen.isAlive) Thread.sleep(5)
    res.setupOnceS += TailWarmS
    val windowStartMs = System.currentTimeMillis()
    gen.join()
    val genEndMs = System.currentTimeMillis()
    runUntil(q, generated)
    val died = q.exception.map(_.toString)
    q.stop()

    // leg 3: outages. Updates land while no stream runs; a restarted stream
    // catches up with one sharded log reader per core. Repeated, so the
    // run reports the median catch-up.
    val catchups = mutable.ArrayBuffer.empty[Double]
    val restarts = mutable.ArrayBuffer.empty[StreamingQuery]
    var up = died.isEmpty && c.progress.lastLogPos >= generated
    while (up && catchups.size < TailOutages) {
      res.attempted += 1
      spool.appendUpdates(TailOutage, System.currentTimeMillis())
      val t3 = now()
      val qr = sink(c, changelog(c, src, debezium = true,
        Map("scan.log.catchup.shards" -> c.cores.toString)), state, ckpt, bs).start()
      restarts += qr
      up = runUntil(qr, spool.lastOffset)
      if (up) catchups += msSince(t3)
      else res.fail(s"live_tail: outage catch-up never committed (${qr.exception.map(_.toString).getOrElse("timeout")})")
      qr.stop()
    }
    val runMs = msSince(t1)

    val progress = c.progress.of(q.runId)
    val commits = progress.filter(ProgressLog.logPos(_) >= 0).map(p => Stats.Commit(ProgressLog.logPos(p), ProgressLog.commitMs(p)))
    val lags = Stats.attributeLag(offsets.toArray, due.toArray, commits)
    res.attempted += lags.length
    val uncommitted = lags.count(_.isEmpty)
    res.failed += uncommitted
    died.foreach(e => res.fail(s"live_tail: stream died: $e"))
    if (uncommitted > 0) { res.correct = false; res.notes += s"live_tail: $uncommitted tail events never committed" }
    if (res.correct && catchups.size < TailOutages) res.fail("live_tail: stream never drained before the outages")
    if (res.correct) checkState(c, state, spool.model).foreach(why => res.fail(s"live_tail: $why"))

    if (res.correct) {
      // whole batch cycles only: events due between the start of the first
      // batch after the window opened and the start of the last batch before
      // the generator stopped, so no cycle is cut by the window edges
      val starts = progress.filter(_.numInputRows > 0)
        .map(p => java.time.Instant.parse(p.timestamp).toEpochMilli).filter(t => t >= windowStartMs && t <= genEndMs)
      val (from, until) = if (starts.size >= 2) (starts.head, starts.last) else (Long.MinValue, Long.MaxValue)
      val measured = (warmEvents until offsets.size).filter(i => due(i) >= from && due(i) < until)
        .flatMap(lags(_)).map(_.toDouble)
      res.e2e("snapshot_rows_per_s") = (spool.snapshotRows / (snapshotMs / 1000), "rows/s")
      res.e2e("tail_lag_p50_ms") = (Stats.percentile(measured, 50), "ms")
      res.e2e("tail_lag_p90_ms") = (Stats.percentile(measured, 90), "ms")
      res.e2e("tail_lag_p99_ms") = (Stats.percentile(measured, 99), "ms")
      res.e2e("catchup_events_per_s") = (TailOutage / (Stats.median(catchups.toSeq) / 1000), "events/s")
      val (slope, grows) = Stats.backlogGrowth(backlog.toSeq.filter(_._1 >= windowStartMs), BacklogSlackPerS)
      val sustained = !grows && Stats.percentile(measured, 99) <= LagLimitMs
      res.notes += f"live_tail: ${spool.snapshotRows} snapshot rows in $snapshotMs%.0f ms; tail at $TailRate/s, " +
        f"${measured.size} events in ${math.max(0, starts.size - 1)} whole batch cycles, backlog slope $slope%.1f events/s, " +
        f"sustainable=$sustained; catch-ups of $TailOutage updates in ${catchups.map(x => f"$x%.0f").mkString(",")} ms " +
        s"over ${restarts.map(r => c.progress.of(r.runId).count(_.numInputRows > 0)).mkString(",")} batches"
    }
    res.layer("generator.events") = (offsets.size.toDouble, "count")
    res.layer("generator.late_ms_max") = (lateMax.toDouble, "ms")
    if (c.tr.enabled) {
      // all three legs: the snapshot, the tail and the catch-up
      Thread.sleep(200) // let the listener buses deliver the last events
      val hw = TailBacklog.toLong // offsets up to the high watermark fold into the snapshot
      val pos1 = c.progress.lastLogPos
      Layers.cdc(c, res, bs, progress ++ restarts.flatMap(r => c.progress.of(r.runId)),
        spool.snapshotRows + spool.changelogRows(hw, pos1), spool.snapshotRows + pos1 - hw,
        spool.model.size, 1, runMs)
    }
    deleteTree(d)
  }

  // ---- curation ------------------------------------------------------------

  val CurD = 10000

  def curation(c: Ctx, res: Result): Unit = {
    import c.spark.implicits._
    val times = mutable.ArrayBuffer.empty[Double]
    var counts0: Map[String, Long] = null
    def pass(timed: Boolean): Unit = {
      val tg = now()
      val corpus = new Gen.Corpus(CurD, c.seed)
      val docs = c.spark.createDataFrame(corpus.docs.toSeq).toDF("doc_id", "text")
      if (timed) { res.setupRepeatS += msSince(tg) / 1000; res.attempted += 1 }
      try {
        val t0 = now()
        val (ledger, counts) = c.tr.span("op.ledger") {
          val l = Curation.curationLedger(docs, "doc_id", "text")
          (l, l.groupBy("verdict").count().as[(String, Long)].collect().toMap)
        }
        val ms = msSince(t0)
        val verdict = ledger.select("doc_id", "verdict").as[(Long, String)].collect()
        ledger.unpersist()
        val byId = verdict.toMap
        val problems = Seq(
          Option.when(verdict.length != CurD || byId.size != CurD)(s"ledger has ${verdict.length} rows for ${byId.size} ids, want $CurD"),
          corpus.exactCopyOf.collectFirst {
            case (copy, orig) if byId.get(copy) != Some(byId(orig) match {
              case v @ ("drop_quality" | "drop_lang") => v
              case _ => "drop_exact_dup"
            }) => s"exact copy $copy of $orig got ${byId.get(copy)} (original ${byId(orig)})"
          },
          Option.when(counts0 != null && counts != counts0)(s"verdict counts $counts differ from $counts0"))
          .flatten
        if (counts0 == null) counts0 = counts
        if (problems.isEmpty) { if (timed) times += ms }
        else if (timed) problems.foreach(p => res.fail(s"curation: $p"))
      } catch { case e: Exception => if (timed) res.fail(s"curation threw $e") }
    }
    val tw = now()
    pass(timed = false)
    res.setupOnceS += msSince(tw) / 1000
    c.tr.clear(); c.startWindow()
    val t0 = now()
    while (times.size + res.failed < 3 || msSince(t0) < c.seconds * 1000.0) pass(timed = true)
    val windowMs = msSince(t0)
    if (times.nonEmpty) {
      res.e2e("curation_docs_per_s") = (CurD / (Stats.median(times.toSeq) / 1000), "docs/s")
      res.e2e("curation_ms") = (Stats.median(times.toSeq), "ms")
    }
    res.notes += s"curation: ${times.size} timed passes over $CurD docs, verdicts ${counts0}"
    if (c.tr.enabled) {
      val passes = times.size.max(1)
      res.layer("op.ledger.ms") = (c.tr.totalMs("op.ledger") / passes, "ms")
      Layers.spark(c, res, windowMs, passes)
      Layers.operators(c, res, new Gen.Corpus(CurD, c.seed),
        Option(counts0).flatMap(_.get("drop_near_dup")).getOrElse(0L))
    }
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)
}
