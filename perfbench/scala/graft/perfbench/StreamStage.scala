package graft.perfbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}
import java.time.Instant

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}

import graft.schema.CrawlSchemas
import graft.streaming.AnalysisStream

/** host-stats-stream: the `AnalysisMain` topology — JSONL file stream →
  * `hostOf` projection → `AnalysisStream.hostStats` → `snapshotQuery` —
  * fed first open-loop (files due on a fixed schedule that does not wait
  * for the query) and then closed-loop (a fixed backlog drained as fast as
  * the query can).
  */
final class StreamStage(ctx: Ctx, openFiles: Int, openPeriodMs: Int, openEvents: Int,
    drainEvents: Int, topN: Int = 500) extends Stage {
  val name = "stream"
  private val gen = new Gen.StreamGen(ctx.seed + 3, ctx.reg)
  private var inDir: File = _
  private var ckpt: File = _
  private var snapshot: File = _
  private var query: StreamingQuery = _
  private var fileSeq = 0
  private val acc = new ctx.exec.Acc
  private val openTriggers = mutable.ArrayBuffer[StreamingQueryProgress]()
  private var backlogEnd = 0L
  private var genLagMax = 0.0

  def generate(): Unit = ()

  /** Write one event file under a hidden name the file source skips. */
  private def stage(body: String): (File, File) = {
    val tmp = new File(inDir, s".tmp-$fileSeq")
    Files.write(tmp.toPath, body.getBytes("UTF-8"))
    val f = new File(inDir, f"ev-$fileSeq%06d.json")
    fileSeq += 1
    (tmp, f)
  }

  /** Make a staged file visible to the file source, atomically. */
  private def commit(staged: (File, File)): File = {
    Files.move(staged._1.toPath, staged._2.toPath, StandardCopyOption.ATOMIC_MOVE)
    staged._2
  }

  private def publish(body: String): File = commit(stage(body))

  private def progress = ctx.progress.of(query.id)
  private def processed: Long = progress.map(_.numInputRows).sum

  private def awaitProcessed(target: Long, timeoutS: Double): Unit = {
    val t0 = System.nanoTime()
    while (processed < target) {
      if (query.exception.isDefined) throw query.exception.get
      if (Stats.secondsSince(t0) > timeoutS)
        throw new IllegalStateException(s"stream stalled at $processed of $target rows")
      Thread.sleep(2)
    }
  }

  /** Set-up: a fresh input directory, checkpoint and state store, the
    * query started and its first trigger (state-store initialisation) done.
    */
  override def init(): Unit = {
    inDir = ctx.dir("stream/in"); inDir.mkdirs()
    ckpt = ctx.dir("stream/ckpt")
    snapshot = ctx.dir("stream/snapshot.json")
    implicit val spark = ctx.spark
    import spark.implicits._
    val events = spark.readStream
      .schema(CrawlSchemas.crawlEventSchema)
      .json(inDir.getPath)
      .withColumn("event_ts", try_to_timestamp(col("timestamp")))
      .select(graft.functions.CrawlCols.hostOf(col("url")).as("host"), col("event_ts"),
        col("status_code"), col("mimetype"), col("content_type"), col("via"))
      .as[AnalysisStream.StatEvent]
    query = AnalysisStream.snapshotQuery(AnalysisStream.hostStats(events),
      snapshot.getPath, topN, 0L, ckpt.getPath).start()
    publish(gen.seedFile(200))
    awaitProcessed(gen.events, 120)
  }

  def warm(): Unit = {
    val base = processed
    (1 to 4).foreach(_ => publish(gen.file(openEvents)))
    awaitProcessed(base + 4L * openEvents, 60)
  }

  /** Trigger-end time (epoch ms) of every batch of the query so far. */
  private def triggerEnds: Map[Long, Long] = progress.map { p =>
    p.batchId -> (Instant.parse(p.timestamp).toEpochMilli + p.durationMs.get("triggerExecution").longValue)
  }.toMap

  /** batch id of every input file, from the file source's own log. */
  private def batchOfFile: Map[String, Long] = {
    val logDir = new File(ckpt, "sources/0")
    val entry = """"path":"([^"]+)".*"batchId":(\d+)""".r
    logDir.listFiles().filterNot(_.getName.startsWith(".")).flatMap { f =>
      Files.readAllLines(f.toPath).asScala.flatMap(l => entry.findFirstMatchIn(l)
        .map(m => new File(new java.net.URI(m.group(1))).getName -> m.group(2).toLong))
    }.toMap
  }

  def run(budgetS: Double): Double = {
    val t0 = System.nanoTime()
    val (fresh, drains) = ctx.exec.window(acc) {
      // ---- open loop: file k is due at start + k * period, whatever the query does
      val bodies = Vector.fill(openFiles)(gen.file(openEvents))
      val base = processed
      val firstBatch = progress.lastOption.map(_.batchId + 1).getOrElse(0L)
      val startMs = System.currentTimeMillis() + 50
      val due = mutable.ArrayBuffer[(String, Long)]()
      var lag = 0.0
      bodies.zipWithIndex.foreach { case (b, k) =>
        val dueMs = startMs + k.toLong * openPeriodMs
        val wait = dueMs - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        val f = publish(b)
        lag = math.max(lag, (System.currentTimeMillis() - dueMs).toDouble)
        due += f.getName -> dueMs
      }
      val offered = openFiles.toLong * openEvents
      backlogEnd = offered - (processed - base)
      genLagMax = lag
      awaitProcessed(base + offered, 60)
      val ends = triggerEnds
      val batchOf = batchOfFile
      val fresh = due.map { case (f, d) => (ends(batchOf(f)) - d).toDouble }
      openTriggers.clear()
      openTriggers ++= progress.filter(p => p.batchId >= firstBatch && p.numInputRows > 0)
      // ---- closed loop: fixed backlogs drained back to back
      val drains = mutable.ArrayBuffer[Double]()
      while (drains.size < 3 || (Stats.secondsSince(t0) < budgetS && drains.size < 8))
        drains += drain()
      (fresh.toSeq, drains.toSeq)
    }
    ctx.record("stream open loop", check())
    ctx.e2e("stream.events_per_s") = (drainEvents / Stats.median(drains), "events/s")
    ctx.e2e("stream.freshness_ms_p50") = (Stats.quantile(fresh, 0.5), "ms")
    ctx.e2e("stream.freshness_ms_p90") = (Stats.quantile(fresh, 0.9), "ms")
    Stats.median(drains)
  }

  /** Publish one backlog of `drainEvents` in 4 files at once (written
    * first, then renamed together, so one trigger sees all of them);
    * returns the seconds from publishing to the end of the trigger that
    * processed the last of them.
    */
  private def drain(): Double = ctx.trace.span("stream.drain") {
    val staged = Vector.fill(4)(stage(gen.file(drainEvents / 4)))
    val before = processed
    val startMs = System.currentTimeMillis()
    val names = staged.map(s => commit(s).getName)
    awaitProcessed(before + drainEvents, 60)
    val batchOf = batchOfFile
    val ends = triggerEnds
    (names.map(n => ends(batchOf(n))).max - startMs) / 1000.0
  }

  def untracedPass(): Double = drain()

  /** The published snapshot must be the top-N hosts of the ground truth,
    * with their exact totals and last event times.
    */
  private def check(): Seq[String] = {
    val want = gen.topN(topN)
    Gen.writeTruth(ctx.dir("stream/truth.json"), "events" -> gen.events,
      "hosts" -> gen.totals.size, "top_hosts" -> want.map { case (h, n, t) => Seq(h, n, t) })
    val rows = Ctx.json.readTree(snapshot).elements.asScala.map(r => (r.get("host").asText,
      r.get("total").asLong, Instant.parse(r.get("last_ts").asText).toEpochMilli)).toSeq
    if (rows == want) Nil
    else Seq(s"snapshot differs from ground truth: ${rows.size} vs ${want.size} rows, first diff " +
      rows.zipAll(want, null, null).find { case (a, b) => a != b })
  }

  def probe(): Unit = {
    def med(f: StreamingQueryProgress => Double) = Stats.median(openTriggers.map(f).toSeq)
    def dur(k: String)(p: StreamingQueryProgress) =
      Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
    ctx.layer("streaming.trigger_ms_p50") = (med(dur("triggerExecution")), "ms")
    ctx.layer("streaming.add_batch_ms_p50") = (med(dur("addBatch")), "ms")
    ctx.layer("streaming.state_update_ms_p50") =
      (med(_.stateOperators.map(_.allUpdatesTimeMs).sum.toDouble), "ms")
    ctx.layer("streaming.state_commit_ms_p50") =
      (med(_.stateOperators.map(_.commitTimeMs).sum.toDouble), "ms")
    ctx.layer("streaming.wal_commit_ms_p50") = (med(dur("walCommit")), "ms")
    ctx.layer("streaming.planning_ms_p50") = (med(dur("queryPlanning")), "ms")
    val all = progress.filter(_.numInputRows > 0)
    val last = all.last
    ctx.layer("streaming.state_rows_end") = (last.stateOperators.map(_.numRowsTotal).sum.toDouble, "rows")
    ctx.layer("streaming.state_bytes_end") = (last.stateOperators.map(_.memoryUsedBytes).sum.toDouble, "bytes")
    ctx.layer("streaming.rows_updated_per_input") =
      (all.map(_.stateOperators.map(_.numRowsUpdated).sum).sum.toDouble / all.map(_.numInputRows).sum, "ratio")
    ctx.layer("streaming.backlog_end") = (backlogEnd.toDouble, "events")
    ctx.layer("streaming.gen_lag_ms_max") = (genLagMax, "ms")
    ctx.layer("streaming.open_loop_triggers") = (openTriggers.size.toDouble, "count")
    acc.metrics("exec.stream", ctx.cores).foreach { case (k, v, u) => ctx.layer(k) = (v, u) }
  }

  override def close(): Unit = if (query != null) query.stop()
}
