package perfbench

import graft.functions.TextFunctions
import graft.operators.{ConnectedComponents, Dedup, Packing}
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Path}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Bucket-directory listing of an UpsertSink state, taken after each merge
  * (outside the merge span): which `__gb=*` buckets the merge rewrote and
  * how many bytes it wrote. */
final class BucketStats {
  private val prev = mutable.HashMap.empty[Path, Map[String, Set[String]]]
  var bucketsRewritten = 0L
  var bucketSlots = 0L
  var bytesWritten = 0L
  var stateBytes = 0L

  def observe(state: Path): Unit = {
    val buckets: Map[String, Seq[(String, Long)]] =
      Files.list(state).iterator().asScala.filter(_.getFileName.toString.startsWith("__gb=")).map { b =>
        b.getFileName.toString -> Files.list(b).iterator().asScala.toSeq
          .filter(_.getFileName.toString.endsWith(".parquet"))
          .map(f => f.getFileName.toString -> Files.size(f))
      }.toMap
    val before = prev.getOrElse(state, Map.empty)
    val changed = (buckets.keySet ++ before.keySet).filter(b =>
      buckets.get(b).map(_.map(_._1).toSet) != before.get(b))
    val slots = scala.util.Try(Files.readString(state.resolve("_graft_buckets")).trim.toInt).getOrElse(buckets.size)
    bucketsRewritten += changed.size
    bucketSlots += slots
    bytesWritten += changed.toSeq.flatMap(b => buckets.getOrElse(b, Nil)).map(_._2).sum
    stateBytes = buckets.values.flatten.map(_._2).sum
    prev(state) = buckets.map { case (b, fs) => b -> fs.map(_._1).toSet }
  }

  def clear(): Unit = { prev.clear(); bucketsRewritten = 0; bucketSlots = 0; bytesWritten = 0; stateBytes = 0 }
}

/** The per-layer metrics of the traced run. Every name is reported on every
  * workload; a layer a workload bypasses reads 0. */
object Layers {
  val Names: Seq[(String, String)] = Seq(
    "provider.current_offset.calls" -> "count", "provider.current_offset.ms" -> "ms",
    "provider.plan_probe.ms" -> "ms", "provider.first_touch.ms" -> "ms",
    "provider.snapshot_read.rows" -> "count", "provider.snapshot_read.ms" -> "ms",
    "provider.log_read.records" -> "count", "provider.log_read.ms" -> "ms",
    "source.batches" -> "count", "source.latest_offset.ms" -> "ms", "source.plan.ms" -> "ms",
    "source.offset_log.ms" -> "ms", "source.input_rows" -> "count",
    "source.decodes_per_row" -> "ratio", "source.read_amplification" -> "ratio",
    "sink.merge.calls" -> "count", "sink.merge.ms" -> "ms", "sink.merge.self_ms" -> "ms",
    "sink.buckets_rewritten_frac" -> "ratio", "sink.bytes_written_per_event" -> "bytes/event",
    "sink.state_bytes_per_row" -> "bytes/row",
    "op.ledger.ms" -> "ms", "op.text_gate.ms" -> "ms", "op.exact_dedup.ms" -> "ms",
    "op.jaccard_pairs.ms" -> "ms", "op.jaccard_pairs.rows" -> "count", "op.components.ms" -> "ms",
    "op.packing.ms" -> "ms", "op.pairs_per_drop" -> "ratio",
    "spark.tasks" -> "count", "spark.executor_run.ms" -> "ms", "spark.executor_cpu.ms" -> "ms",
    "spark.gc.ms" -> "ms", "spark.shuffle_write.bytes" -> "bytes", "spark.spill.bytes" -> "bytes",
    "spark.cpu_busy_frac" -> "ratio", "spark.task_skew" -> "ratio",
    "generator.events" -> "count", "generator.late_ms_max" -> "ms",
    "trace.throughput_per_s" -> "1/s", "trace.latency_ms" -> "ms", "jvm.peak_rss_mb" -> "MB")

  def fillMissing(res: Result): Unit =
    Names.foreach { case (n, u) => if (!res.layer.contains(n)) res.layer(n) = (0.0, u) }

  private def put(res: Result, name: String, v: Double): Unit =
    res.layer(name) = (v, Names.find(_._1 == name).map(_._2).getOrElse("count"))

  /** cdc.provider, cdc.source and streaming.UpsertSink over the measured
    * window, divided by `per` (timed passes; 1 for a single stream).
    * `changelogRows`: rows the source must emit, each decoded once;
    * `events`: source events the sink merged; `liveRows`: rows in the
    * final state. */
  def cdc(c: Ctx, res: Result, bs: BucketStats, progress: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress],
      changelogRows: Long, events: Long, liveRows: Long, per: Int, windowMs: Double): Unit = {
    val tr = c.tr
    put(res, "provider.current_offset.calls", tr.named("provider.current_offset").size.toDouble / per)
    put(res, "provider.current_offset.ms", tr.totalMs("provider.current_offset") / per)
    put(res, "provider.plan_probe.ms", tr.totalMs("provider.plan_probe") / per)
    put(res, "provider.first_touch.ms", tr.totalMs("provider.first_touch") / per)
    val snapRows = tr.counter("provider.snapshot_read.records").get
    val logRecs = tr.counter("provider.log_read.records").get
    put(res, "provider.snapshot_read.rows", snapRows.toDouble / per)
    put(res, "provider.snapshot_read.ms", tr.counter("provider.snapshot_read.busy_ns").get / 1e6 / per)
    put(res, "provider.log_read.records", logRecs.toDouble / per)
    put(res, "provider.log_read.ms", tr.counter("provider.log_read.busy_ns").get / 1e6 / per)

    val data = progress.filter(_.numInputRows > 0)
    val inputRows = data.map(_.numInputRows).sum
    put(res, "source.batches", data.size.toDouble / per)
    put(res, "source.latest_offset.ms", progress.map(ProgressLog.dur(_, "latestOffset")).sum.toDouble / per)
    put(res, "source.plan.ms", progress.map(p => ProgressLog.dur(p, "queryPlanning") + ProgressLog.dur(p, "getBatch")).sum.toDouble / per)
    put(res, "source.offset_log.ms", progress.map(p => ProgressLog.dur(p, "walCommit") + ProgressLog.dur(p, "commitOffsets")).sum.toDouble / per)
    put(res, "source.input_rows", inputRows.toDouble / per)
    if (changelogRows > 0) {
      put(res, "source.decodes_per_row", inputRows.toDouble / changelogRows)
      put(res, "source.read_amplification", (snapRows + logRecs).toDouble / changelogRows)
    }

    val merges = tr.named("sink.merge")
    val reads = (tr.named("provider.snapshot_read") ++ tr.named("provider.log_read")).map(s => (s.startNs, s.endNs))
    put(res, "sink.merge.calls", merges.size.toDouble / per)
    put(res, "sink.merge.ms", merges.map(_.ms).sum / per)
    put(res, "sink.merge.self_ms", merges.map(m => Stats.selfTime((m.startNs, m.endNs), reads)).sum / 1e6 / per)
    if (bs.bucketSlots > 0) put(res, "sink.buckets_rewritten_frac", bs.bucketsRewritten.toDouble / bs.bucketSlots)
    if (events > 0) put(res, "sink.bytes_written_per_event", bs.bytesWritten.toDouble / events)
    if (liveRows > 0) put(res, "sink.state_bytes_per_row", bs.stateBytes.toDouble / liveRows)
    spark(c, res, windowMs, per)
  }

  /** Engine counters from the SparkListener over the measured window. */
  def spark(c: Ctx, res: Result, windowMs: Double, per: Int): Unit = {
    val s = c.sparkCounters
    put(res, "spark.tasks", s.tasks.get.toDouble / per)
    put(res, "spark.executor_run.ms", s.runMs.get.toDouble / per)
    put(res, "spark.executor_cpu.ms", s.cpuNs.get / 1e6 / per)
    put(res, "spark.gc.ms", s.gcMs.get.toDouble / per)
    put(res, "spark.shuffle_write.bytes", s.shuffleWrite.get.toDouble / per)
    put(res, "spark.spill.bytes", s.spill.get.toDouble / per)
    put(res, "spark.cpu_busy_frac", s.runMs.get / (windowMs * c.cores))
    put(res, "spark.task_skew", s.taskSkew)
  }

  /** Materialised spans around the public operator calls the curation
    * funnel is built from, on the same corpus. */
  def operators(c: Ctx, res: Result, corpus: Gen.Corpus, nearDupDrops: Long): Unit = {
    val tr = c.tr
    val docs = c.spark.createDataFrame(corpus.docs.toSeq).toDF("doc_id", "text").persist()
    docs.count()
    def force(df: org.apache.spark.sql.DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    tr.span("op.text_gate")(force(docs.select(col("doc_id"),
      TextFunctions.qualityScore(col("text")).as("q"), TextFunctions.langId(col("text")).as("l"))))
    val survivors = Dedup.dropExactDuplicates(docs, "doc_id", "text").persist()
    tr.span("op.exact_dedup")(survivors.count())
    val pairs = Dedup.ngramJaccardPairs(survivors, "doc_id", "text", n = 3, minJaccard = 0.3).persist()
    val nPairs = tr.span("op.jaccard_pairs")(pairs.count())
    tr.span("op.components")(force(ConnectedComponents.dedupClusters(pairs, "id_a", "id_b")))
    tr.span("op.packing")(force(Packing.sequentialPacks(survivors, "doc_id", "text", 256)))
    Seq(docs, survivors, pairs).foreach(_.unpersist())
    Seq("op.text_gate", "op.exact_dedup", "op.jaccard_pairs", "op.components", "op.packing")
      .foreach(n => put(res, s"$n.ms", tr.totalMs(n)))
    put(res, "op.jaccard_pairs.rows", nPairs.toDouble)
    if (nearDupDrops > 0) put(res, "op.pairs_per_drop", nPairs.toDouble / nearDupDrops)
  }
}
