package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQuery

import graft.sds.{Pipeline, Queries, Scd2Store}
import graft.sources.BlockLogSource

/** Command line of one harness process (see run.py, which starts it). */
final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean, work: Path,
                      out: Path, spans: Option[Path], size: String, cores: Int, launchedMs: Long,
                      injectReadFailure: Boolean, perturbModel: Boolean)

object Args {
  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String): String = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt, need("trace") == "1",
      Paths.get(need("work")), Paths.get(need("out")), m.get("spans").map(Paths.get(_)),
      m.getOrElse("size", "full"), need("cores").toInt, need("launched-ms").toLong,
      m.get("inject-read-failure").contains("1"), m.get("perturb-model").contains("1"))
  }
}

/** Sizes of a workload.
  *
  * @param seedBlocks  blocks of the seeded log bulk-loaded into the store
  *                    during set-up (through the store's `compactTo`)
  * @param batchBlocks closed loop: new blocks per file; the next file is
  *                    published when the previous one is committed
  * @param forkFirst   the first file starts by re-issuing the two newest
  *                    committed blocks under new ids (a 2-block fork)
  */
final case class Shape(gen: GenConfig, seedBlocks: Int, batchBlocks: Int, batchChanges: Int,
                       forkFirst: Boolean)

object Shape {
  def of(workload: String, size: String): Shape = (workload, size) match {
    case ("catchup", "full") =>
      Shape(GenConfig(50000, 36), seedBlocks = 600, batchBlocks = 500,
        batchChanges = 36, forkFirst = false)
    case ("reorg_serve", "full") =>
      Shape(GenConfig(5000, 36), seedBlocks = 200, batchBlocks = 1,
        batchChanges = 5, forkFirst = true)
    case ("catchup", "tiny") =>
      Shape(GenConfig(300, 6), seedBlocks = 20, batchBlocks = 10,
        batchChanges = 6, forkFirst = false)
    case ("reorg_serve", "tiny") =>
      Shape(GenConfig(300, 6), seedBlocks = 20, batchBlocks = 1,
        batchChanges = 3, forkFirst = true)
    case _ => throw new IllegalArgumentException(s"unknown workload/size: $workload/$size")
  }
}

/** One timed read, from when it was issued to its materialized result. */
final case class ReadRec(req: ReadReq, startNs: Long, endNs: Long, rows: Long,
                         error: Option[String], spanRoot: Long)

/** One published block: when it was due and when its file appeared. */
final case class Pub(num: Long, dueNs: Long, publishNs: Long, bytes: Long)

/** One file of the closed loop: its block count, when it was due, and
  * when its newest block was committed. */
final case class FileRec(blocks: Int, dueNs: Long, commitNs: Long)

object Main {
  def main(argv: Array[String]): Unit = {
    val code = try { new Run(Args.parse(argv)).execute(); 0 }
    catch { case e: Throwable => e.printStackTrace(); 2 }
    System.exit(code)
  }
}

final class Run(a: Args) {
  private val shape = Shape.of(a.workload, a.size)
  private val failures = new ConcurrentLinkedQueue[String]()
  private val attempted = new AtomicLong(0)
  private def fail(msg: String): Unit = { failures.add(msg); System.err.println(s"[perfbench] FAIL $msg") }
  private def log(msg: String): Unit =
    System.err.println(f"[perfbench] +${(System.currentTimeMillis() - a.launchedMs) / 1e3}%.1fs $msg")

  private val spark: SparkSession = {
    // shuffle width sized to the cores, as GraftSession's own default is
    // for the host it was tuned on (local[32], 32 partitions)
    val s = graft.core.GraftSession.builder(s"local[${a.cores}]", shufflePartitions = a.cores)
      .config("spark.local.dir", a.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", a.work.resolve("warehouse").toString)
      .config("spark.sql.streaming.checkpointLocation", a.work.resolve("checkpoints").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
  private val sc = spark.sparkContext
  private val tracer = new Tracer(sc, a.trace)
  tracer.install(spark)

  private val store = new Scd2Store(spark, a.work.resolve("store").toString, retainGenerations = 3)
  private val tap = new TapStore(store, tracer)
  private val queries = new Queries(store)
  private val gen = new Gen(a.seed, shape.gen)
  private val model = gen.model

  // ---- block feed: the directory the streaming source watches ----------

  private val feedDir = Files.createDirectories(a.work.resolve("feed"))
  private val stageDir = Files.createDirectories(a.work.resolve("feed-staging"))
  private var fileSeq = 0
  private var nextBlock = 1L
  private val pubs = mutable.ArrayBuffer.empty[Pub]

  /** Write one file of blocks outside the watched directory, then move it
    * in atomically (`BlockLogSource` lists every regular file, partial
    * ones included). Returns its publish time. */
  private def publish(blocks: Seq[Block], dueNs: Long): Long = {
    val name = f"blocks-$fileSeq%08d.json"
    fileSeq += 1
    val body = blocks.map(_.json).mkString("", "\n", "\n").getBytes(UTF_8)
    val staged = stageDir.resolve(name)
    Files.write(staged, body)
    Files.move(staged, feedDir.resolve(name), StandardCopyOption.ATOMIC_MOVE)
    val at = System.nanoTime()
    pubs.synchronized {
      blocks.foreach(b => pubs += Pub(b.num, dueNs, at, b.json.getBytes(UTF_8).length.toLong))
    }
    at
  }

  private def freshBlocks(n: Int, changes: Int): Seq[Block] =
    (0 until n).map { _ =>
      val b = gen.block(nextBlock, BlockIds(nextBlock, 0), changes); nextBlock += 1; b
    }

  /** The two newest blocks again under new ids: a 2-block fork. */
  private def forkBlocks(changes: Int): Seq[Block] =
    Seq(nextBlock - 2, nextBlock - 1).map(n => gen.block(n, BlockIds(n, 1), changes))

  private var query: StreamingQuery = _
  private def streamDead: Boolean = query != null && !query.isActive

  /** Set-up ends when the new query has initialised its source and
    * checkpoint and is polling an empty feed. */
  private def awaitStreamIdle(): Unit = {
    val deadline = System.nanoTime() + 60000000000L
    while (query.isActive && System.nanoTime() < deadline &&
        !(query.status.message == "Waiting for data to arrive" && !query.status.isTriggerActive))
      Thread.sleep(20)
    if (!query.isActive || System.nanoTime() >= deadline)
      fail(s"stream did not become idle: ${query.status.message}")
  }

  private def awaitCommit(block: Long, since: Long, what: String): Option[Long] = {
    attempted.incrementAndGet()
    val hit = tap.await(block, since, 120000, () => streamDead)
    if (hit.isEmpty) fail(s"$what: block $block not committed" +
      Option(query).flatMap(q => Option(q.exception.orNull)).fold("")(e => s" (stream failed: ${e.getMessage})"))
    hit
  }

  // ---- reads -------------------------------------------------------------

  private val reads = new ConcurrentLinkedQueue[ReadRec]()
  private val injectedFailure = new AtomicBoolean(a.injectReadFailure)

  private def doRead(req: ReadReq): ReadRec = {
    attempted.incrementAndGet()
    val start = System.nanoTime()
    var root = 0L
    val (rows, err) =
      try {
        val n = tracer.span(s"read.${req.op}") {
          root = Option(sc.getLocalProperty(Tracer.SpanKey)).fold(0L)(_.toLong)
          if (injectedFailure.getAndSet(false))
            throw new IllegalStateException("injected read failure")
          Reads.run(store, queries, req)
        }
        (n, None)
      } catch { case e: Exception =>
        e.printStackTrace()
        (-1L, Some(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
          .map(c => s"${c.getClass.getSimpleName}: ${c.getMessage}").mkString(" <- ")))
      }
    val rec = ReadRec(req, start, System.nanoTime(), rows, err, root)
    err.foreach(e => fail(s"read $req: $e"))
    reads.add(rec)
    rec
  }

  /** Compare a read with the model (no commit raced it, and the model is
    * at the store's state). */
  private def checkNow(r: ReadRec): Unit = if (r.error.isEmpty) {
    val want = Reads.expect(model, r.req)
    if (r.rows != want) fail(s"read ${r.req} returned ${r.rows} rows, model expects $want")
  }

  // ---- the run -------------------------------------------------------------

  def execute(): Unit = {
    log(s"workload=${a.workload} seed=${a.seed} seconds=${a.seconds} trace=${a.trace} " +
      s"cores=${a.cores} spark=${spark.version} jdk=${System.getProperty("java.version")}")
    log("session up")
    bulkLoad()
    log("bulk load done")
    query = Pipeline.start(
      spark.readStream.format(classOf[BlockLogSource].getName).option("path", feedDir.toString)
        .load().as[String](org.apache.spark.sql.Encoders.STRING),
      tap, a.work.resolve("checkpoint").toString)
    awaitStreamIdle()

    org.apache.spark.PerfbenchBus.drain(sc)
    val before = Snapshot.take(tracer)
    val readyMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    log(f"ready after ${(readyMs - a.launchedMs) / 1e3}%.2f s; committed tag ${tap.lastTag}")

    val (files, readNs) = ingestLoop(t0)
    val tEnd = System.nanoTime()
    org.apache.spark.PerfbenchBus.drain(sc)
    val after = Snapshot.take(tracer)

    query.stop()
    log("stream stopped")
    if (query.exception.isDefined) fail(s"stream failed: ${query.exception.get.getMessage}")
    tracer.progress.asScala.foreach { p =>
      val start = t0 + (java.time.Instant.parse(p.timestamp).toEpochMilli - readyMs) * 1000000L
      val id = tracer.streamBatchSpan(p.batchId)
      val ms = Option(p.durationMs.get("triggerExecution")).fold(0L)(_.longValue())
      tracer.record(Span(id, 0L, id, "stream.batch", start, start + ms * 1000000L))
    }

    // untimed post-run check of the store against the model
    if (a.perturbModel) perturb()
    Checks.store(tap, model, parallel).foreach { o =>
      attempted.incrementAndGet()
      if (!o.ok) fail(s"${o.name}: ${o.detail}")
    }

    log("checks done")
    val result = Metrics.build(a, readyMs, t0, tEnd, pubs.synchronized(pubs.toSeq), files, readNs,
      tap.commitLog, reads.asScala.toSeq, tracer, before, after, genLateNs.get)
    val fails = failures.asScala.toSeq
    val doc = Json.obj(
      "correct" -> Json.bool(fails.isEmpty),
      "attempted" -> Json.num(attempted.get()),
      "failed" -> Json.num(fails.size),
      "end_to_end" -> result.endToEnd,
      "per_layer" -> result.perLayer,
      "info" -> Json.obj(
        "workload" -> Json.str(a.workload), "seed" -> Json.num(a.seed), "size" -> Json.str(a.size),
        "cores" -> Json.num(a.cores), "spark" -> Json.str(spark.version),
        "jdk" -> Json.str(System.getProperty("java.version")),
        "committed_tag" -> Json.num(tap.lastTag), "live_rows" -> Json.num(
          Model.tableNames.map(model.liveRows(_).size).sum),
        "blocks_committed" -> Json.num(pubs.synchronized(pubs.size)),
        "reads" -> Json.num(reads.size)),
      "failures" -> Json.arr(fails.take(50).map(Json.str): _*))
    Files.write(a.out, doc.getBytes(UTF_8))
    a.spans.foreach(p => Files.write(p, Metrics.spansJson(tracer).getBytes(UTF_8)))
    spark.stop()
    log("session stopped")
  }

  /** Set-up: generate the seeded log into the model, then load the model's
    * tables and chain into the store through its whole-table `compactTo`
    * and `compactBlocks`. */
  private def bulkLoad(): Unit = {
    freshBlocks(shape.seedBlocks, shape.gen.changesPerBlock)
    log(s"seeded log of ${shape.seedBlocks} blocks generated")
    val tag = nextBlock - 1
    val chain = model.chain.toSeq.map { case (n, id) => org.apache.spark.sql.Row(n, id) }
    parallel(Model.tableNames.map { t => () =>
      val rows = model.rows(t).map(_.toRow).toSeq
      tap.compactTo(t, spark.createDataFrame(rows.asJava, Model.schema(t)), tag)
    } :+ (() => tap.compactBlocks(spark.createDataFrame(chain.asJava, graft.sds.Schemas.blocksTable), tag)))
  }

  /** Run the independent driver-side tasks of the untimed set-up or checks
    * all at once (their Spark jobs queue for the same cores); rethrows the
    * first failure. */
  private def parallel[T](tasks: Seq[() => T]): Seq[T] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(tasks.size)
    try tasks.map(t => pool.submit(() => t())).map(_.get())
    finally pool.shutdown()
  }

  private val genLateNs = new AtomicLong(0)

  /** Two closed-loop clients, one issuing the point reads of the mix and
    * one the scans, each making `ReadPasses` passes over its ops in a fixed
    * order and sending its next read when the previous one returns.
    * Returns the phase's wall time. */
  private def readPhase(): Long = {
    val start = System.nanoTime()
    val clients = Seq(Reads.pointCycle, Reads.scanCycle).map { ops =>
      new Thread(() => {
        val r = new java.util.Random(a.seed * 1000003L + readerSeq.getAndIncrement())
        (1 to ReadPasses).foreach(_ => ops.foreach(op => doRead(Reads.request(op, gen, r, tap.lastTag))))
      }, "perfbench-reader")
    }
    clients.foreach(_.start())
    clients.foreach(_.join())
    System.nanoTime() - start
  }

  /** Closed loop: publish one file, wait until it is committed, then run a
    * read phase that no ingest races (the model is then at the store's
    * state, so every read is checked exactly); repeat until the window is
    * over. A file is due once its blocks are generated. Returns the
    * committed files and the summed wall time of the read phases. */
  private def ingestLoop(t0: Long): (Seq[FileRec], Long) = {
    val deadline = t0 + a.seconds * 1000000000L
    val files = mutable.ArrayBuffer.empty[FileRec]
    var readNs = 0L
    var file = 0
    while (System.nanoTime() < deadline && failures.isEmpty) {
      val fork = shape.forkFirst && file == 0
      val bs = (if (fork) forkBlocks(shape.batchChanges) else Nil) ++
        freshBlocks(shape.batchBlocks, shape.batchChanges)
      val due = System.nanoTime()
      val at = publish(bs, due)
      genLateNs.accumulateAndGet(at - due, math.max)
      awaitCommit(bs.map(_.num).max, at, s"file $file").foreach { commit =>
        files += FileRec(bs.size, due, commit)
        log("batch committed")
        val seen = reads.size
        readNs += readPhase()
        log("read phase done")
        reads.asScala.drop(seen).foreach(checkNow)
      }
      file += 1
    }
    (files.toSeq, readNs)
  }

  private val readerSeq = new AtomicLong(0)
  /** Passes per read phase: one pass is 6 point and 7 scan reads, too few
    * for a steady mean and p90 at one batch per run. */
  private val ReadPasses = 2

  /** Smoke-test hook: drop one live entity from the model, so the
    * post-run checks must fail. */
  private def perturb(): Unit = {
    val victim = model.tables("agents").collectFirst { case (_, vs) if vs.exists(_.live) => vs }
    victim.foreach(vs => vs.filterInPlace(!_.live))
  }
}
