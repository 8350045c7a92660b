package perfbench

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

/** Whole-process Spark work and JVM GC time at one instant. */
final case class Snapshot(counters: Counters, gcMs: Long)

object Snapshot {
  def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
  def take(t: Tracer): Snapshot = Snapshot(t.allCounters, gcMs())
}

/** Derives the end-to-end metrics (from the run's own records) and the
  * per-layer metrics (from spans, listener counters and streaming
  * progress; traced runs only). */
object Metrics {
  final case class Result(endToEnd: String, perLayer: String)

  /** Percentile by linear interpolation between order statistics. */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = p * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  private def mean(xs: Seq[Double]): Double = if (xs.isEmpty) Double.NaN else xs.sum / xs.size

  /** Store calls that write: the incremental merge commit, the fork
    * path's whole-table rewrite, and the blocks log. */
  private val storeWrites = Set("store.applyMerged", "store.compactTo", "store.appendBlocks",
    "store.compactBlocks")

  def build(a: Args, readyMs: Long, t0: Long, tEnd: Long, pubs: Seq[Pub], files: Seq[FileRec],
            readNs: Long, commits: Seq[(Long, Long)], reads: Seq[ReadRec], tracer: Tracer,
            before: Snapshot, after: Snapshot, genLateNs: Long): Result = {
    def commitOf(p: Pub): Option[Long] =
      commits.collectFirst { case (tag, at) if at >= p.publishNs && tag >= p.num => at }

    // ---- end to end ----
    val fresh = pubs.flatMap(p => commitOf(p).map(c => (c - p.dueNs) / 1e9))
    // each file's own due → commit time, so read phases between files
    // do not count against ingest
    val ingestSeconds = files.map(f => f.commitNs - f.dueNs).sum / 1e9
    val ok = reads.filter(_.error.isEmpty)
    def lat(ops: Seq[String]) = ok.filter(r => ops.contains(r.req.op)).map(r => (r.endNs - r.startNs) / 1e6)
    val e2e = Json.obj(
      "setup_s" -> Json.metric((readyMs - a.launchedMs) / 1e3, "s"),
      "ingest_blocks_per_s" -> Json.metric(files.map(_.blocks).sum / ingestSeconds, "blocks/s"),
      "freshness_s_p50" -> Json.metric(pct(fresh, 0.5), "s"),
      "read_point_ms_mean" -> Json.metric(mean(lat(Reads.point)), "ms"),
      "read_point_ms_p90" -> Json.metric(pct(lat(Reads.point), 0.9), "ms"),
      "read_scan_ms_mean" -> Json.metric(mean(lat(Reads.scan)), "ms"),
      "read_scan_ms_p90" -> Json.metric(pct(lat(Reads.scan), 0.9), "ms"),
      "read_ops_per_s" -> Json.metric(ok.size / (readNs / 1e9), "ops/s"))

    val layers = if (!a.trace) "{}" else perLayer(a, readyMs, t0, tEnd, pubs, reads, tracer, before,
      after, genLateNs)
    Result(e2e, layers)
  }

  private def perLayer(a: Args, readyMs: Long, t0: Long, tEnd: Long, pubs: Seq[Pub],
                       reads: Seq[ReadRec], tracer: Tracer, before: Snapshot, after: Snapshot,
                       genLateNs: Long): String = {
    val spans = tracer.spans
    val byRoot = spans.groupBy(_.root)
    def nanosOfEpochMs(ms: Long): Long = t0 + (ms - readyMs) * 1000000L

    // micro-batches that carried data and started inside the window
    val batches = tracer.progress.asScala.toSeq
      .filter(p => p.numInputRows > 0)
      .filter { p =>
        val s = nanosOfEpochMs(java.time.Instant.parse(p.timestamp).toEpochMilli)
        s >= t0 - 1000000000L && s <= tEnd
      }
    val n = math.max(1, batches.size).toDouble
    def dur(p: org.apache.spark.sql.streaming.StreamingQueryProgress, k: String): Double =
      Option(p.durationMs.get(k)).fold(0.0)(_.doubleValue())

    val perBatch = batches.map { p =>
      val root = tracer.streamBatchSpan(p.batchId)
      val children = byRoot.getOrElse(root, Nil).filter(_.name.startsWith("store."))
      val covered = Tracer.unionNanos(children.map(s => (s.start, s.end))) / 1e9
      val counters = tracer.sumCounters(root +: children.map(_.id))
      val writes = tracer.sumCounters(children.filter(s => storeWrites(s.name)).map(_.id))
      (p, children, covered, counters, writes)
    }
    def sumSpans(name: String): Double = perBatch.flatMap(_._2).filter(_.name == name).map(_.seconds).sum
    def coveredBy(name: String): Double = perBatch.map { b =>
      Tracer.unionNanos(b._2.filter(_.name == name).map(s => (s.start, s.end))) / 1e9
    }.sum
    val addBatchMs = batches.map(dur(_, "addBatch"))
    val inBytes = pubs.map(_.bytes).sum.toDouble
    val writeOut = perBatch.map(_._5.outputBytes).sum.toDouble
    val files = batches.map { p =>
      val src = p.sources.head
      def count(o: String): Double = Option(o).flatMap(_.trim.toDoubleOption).getOrElse(0.0)
      count(src.endOffset) - count(src.startOffset)
    }

    val layer = Seq.newBuilder[(String, Double, String)]
    layer ++= Seq(
      ("pipeline.batch_s_p50", pct(addBatchMs, 0.5) / 1e3, "s"),
      ("pipeline.blocks_per_batch", batches.map(_.numInputRows.toDouble).sum / n, "blocks"),
      ("pipeline.self_s", perBatch.zip(addBatchMs).map { case (b, ms) => math.max(0.0, ms / 1e3 - b._3) }.sum / n, "s"),
      ("pipeline.jobs_per_batch", perBatch.map(_._4.jobs).sum / n, "count"),
      ("pipeline.tasks_per_batch", perBatch.map(_._4.tasks).sum / n, "count"),
      ("store.apply_merged_calls_per_batch", perBatch.flatMap(_._2).count(_.name == "store.applyMerged") / n, "count"),
      ("store.apply_merged_s_sum", sumSpans("store.applyMerged") / n, "s"),
      ("store.apply_merged_s_covered", coveredBy("store.applyMerged") / n, "s"),
      ("store.fork_compact_s", coveredBy("store.compactTo") / n, "s"),
      ("store.write_jobs_per_batch", perBatch.map(_._5.jobs).sum / n, "count"),
      ("store.write_tasks_per_batch", perBatch.map(_._5.tasks).sum / n, "count"),
      ("store.shuffle_bytes_per_batch", perBatch.map(_._4.shuffleWrite).sum / n, "bytes"),
      ("store.output_bytes_per_batch", writeOut / n, "bytes"),
      ("store.write_amplification", writeOut / math.max(1.0, inBytes), "ratio"),
      ("store.base_read_s", (sumSpans("store.live") + sumSpans("store.table")) / n, "s"),
      ("store.append_blocks_s", (sumSpans("store.appendBlocks") + sumSpans("store.compactBlocks")) / n, "s"),
      ("stream.batches", batches.size.toDouble, "count"),
      ("stream.trigger_ms_p50", pct(batches.map(dur(_, "triggerExecution")), 0.5), "ms"),
      ("stream.add_batch_ms_p50", pct(addBatchMs, 0.5), "ms"),
      ("stream.engine_ms_p50", pct(batches.map(p => dur(p, "triggerExecution") - dur(p, "addBatch")), 0.5), "ms"),
      ("source.files_per_batch_p50", pct(files, 0.5), "files"),
      ("gen.late_ms_max", genLateNs / 1e6, "ms"))

    val rowsBySpan = reads.map(r => r.spanRoot -> r.rows).toMap
    val readSpans = spans.filter(s => rowsBySpan.contains(s.id))
    Reads.all.foreach { op =>
      val ss = readSpans.filter(_.name == s"read.$op")
      val c = tracer.sumCounters(ss.map(_.id))
      val rows = ss.map(s => math.max(1L, rowsBySpan.getOrElse(s.id, 1L))).sum.toDouble
      layer += ((s"read.${op}_ms_p50", pct(ss.map(_.seconds * 1e3), 0.5), "ms"))
      layer += ((s"read.${op}_jobs", c.jobs / math.max(1.0, ss.size), "count"))
      layer += ((s"read.${op}_records_per_row", c.inputRecords / math.max(1.0, rows), "ratio"))
    }
    layer += (("read.failed_ops", reads.count(_.error.isDefined).toDouble, "count"))

    val wallMs = (tEnd - t0) / 1e6
    layer ++= Seq(
      ("spark.jobs", (after.counters.jobs - before.counters.jobs).toDouble, "count"),
      ("spark.tasks", (after.counters.tasks - before.counters.tasks).toDouble, "count"),
      ("spark.exec_busy_share", (after.counters.runMs - before.counters.runMs) / (wallMs * a.cores), "ratio"),
      ("spark.gc_s", (after.gcMs - before.gcMs) / 1e3, "s"),
      ("spark.spill_bytes", (after.counters.spill - before.counters.spill).toDouble, "bytes"))
    Json.obj(layer.result().map { case (k, v, u) => k -> Json.metric(v, u) }: _*)
  }

  /** Every span with its attributed counters, one JSON object per line. */
  def spansJson(t: Tracer): String = {
    val spans = t.spans.sortBy(_.start)
    val origin = spans.headOption.fold(0L)(_.start)
    spans.map { s =>
      val c = t.countersOf(s.id)
      Json.obj("id" -> Json.num(s.id), "parent" -> Json.num(s.parent), "root" -> Json.num(s.root),
        "name" -> Json.str(s.name), "start_ms" -> Json.num((s.start - origin) / 1e6),
        "dur_ms" -> Json.num((s.end - s.start) / 1e6), "jobs" -> Json.num(c.jobs),
        "tasks" -> Json.num(c.tasks), "run_ms" -> Json.num(c.runMs),
        "input_records" -> Json.num(c.inputRecords), "shuffle_write_bytes" -> Json.num(c.shuffleWrite),
        "output_bytes" -> Json.num(c.outputBytes), "spill_bytes" -> Json.num(c.spill))
    }.mkString("", "\n", "\n")
  }
}
