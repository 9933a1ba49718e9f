package graft.perfbench

import java.io.File
import java.time.Instant

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.CrawlCols
import graft.jobs.{ReportJob, StreamerMain}
import graft.schema.CrawlSchemas
import graft.sources.SolrSink

/** crawl-report: the read/ETL path of every `fc.crawled` consumer. One pass
  * parses the crawl log and runs the four `ReportJob` formats — raw,
  * crawl-log and summary written as JSON, solr indexed through
  * `SolrSink.write` over real HTTP to the loopback endpoint. Bounded
  * `StreamerMain.timeRange` replays (narrow and wide) are timed apart.
  */
final class ReportStage(ctx: Ctx, events: Int) extends Stage {
  val name = "report"
  private val input = ctx.dir("crawl/log.jsonl")
  private var truth: Gen.CrawlTruth = _
  private var solr: SolrEndpoint = _
  private val acc = new ctx.exec.Acc

  def generate(): Unit = {
    truth = Gen.crawlLog(input, events, ctx.seed, ctx.reg)
    Gen.writeTruth(ctx.dir("crawl/log.truth.json"), "lines" -> truth.lines,
      "malformed" -> truth.malformed, "heritrix" -> truth.heritrix,
      "webrender" -> truth.webrender, "solr_docs" -> truth.records,
      "status_hist" -> truth.statusHist, "last_hop_hist" -> truth.lastHopHist,
      "host_totals" -> truth.hostTotals,
      "replays" -> ranges.map { case (s, e) => Seq(iso(s), iso(e), truth.inRange(s, e)) })
  }

  override def init(): Unit = solr = new SolrEndpoint()

  private def parsed(): DataFrame =
    ctx.spark.read.schema(CrawlSchemas.crawlEventSchema).json(input.getPath)

  /** One full report pass; returns (wall seconds, documents `SolrSink.write`
    * reports as posted).
    */
  private def pass(out: File): (Double, Long) = ctx.trace.span("report.pass") {
    solr.reset()
    val (posted, s) = Stats.timed {
      val ev = parsed()
      ctx.trace.span("jobs.report_raw") {
        ReportJob.rawStream(ev).write.mode("overwrite").json(new File(out, "raw").getPath)
      }
      ctx.trace.span("jobs.report_crawl_log") {
        ReportJob.crawlLogStream(ev).write.mode("overwrite").json(new File(out, "crawl-log").getPath)
      }
      ctx.trace.span("jobs.report_summary") {
        ReportJob.hostSummary(ev).write.mode("overwrite").json(new File(out, "summary").getPath)
      }
      ctx.trace.span("jobs.report_solr") {
        ctx.trace.span("sources.solr_write") {
          SolrSink.write(ReportJob.solrDocs(ev), solr.baseUrl)
        }
      }
    }
    (s, posted)
  }

  private def check(out: File, posted: Long): Seq[String] = {
    val problems = Seq.newBuilder[String]
    def expect(what: String, got: Long, want: Long): Unit =
      if (got != want) problems += s"$what: got $got, want $want"
    expect("raw rows", Ctx.countLines(new File(out, "raw")), truth.lines)
    expect("crawl-log rows", Ctx.countLines(new File(out, "crawl-log")), truth.heritrix)
    val summary = Ctx.lines(new File(out, "summary")).map { l =>
      val row = Ctx.json.readTree(l)
      row.get("host").asText -> row.get("tot").asLong
    }.toMap
    if (summary != truth.hostTotals) {
      val bad = (summary.keySet ++ truth.hostTotals.keySet)
        .filter(h => summary.get(h) != truth.hostTotals.get(h)).take(3)
      problems += s"summary per-host totals differ (${summary.size} vs ${truth.hostTotals.size} hosts, e.g. $bad)"
    }
    expect("solr docs posted", posted, truth.records)
    expect("solr docs received", solr.docs.get, truth.records)
    expect("solr unique ids", solr.uniqueIds, truth.records)
    expect("solr duplicate ids", solr.duplicateIds.get, 0)
    expect("solr commits", solr.commits.get, 1)
    problems.result()
  }

  private lazy val ranges: Seq[(Long, Long)] = {
    val r = new scala.util.Random(ctx.seed + 7)
    val span = truth.spanEnd - Gen.T0
    Seq(10000L, 60000L, span / 3).map { w =>
      val s = Gen.T0 + (r.nextDouble() * (span - w)).toLong
      (s, s + w)
    }
  }

  private def iso(t: Long) = Gen.isoMs.format(Instant.ofEpochMilli(t))

  /** One bounded replay to a text directory; returns wall seconds. */
  private def replay(range: (Long, Long), out: File): Double = ctx.trace.span("report.replay") {
    Stats.timed {
      StreamerMain.timeRange(ctx.spark.read.text(input.getPath), iso(range._1), iso(range._2))
        .write.mode("overwrite").text(out.getPath)
    }._2
  }

  /** One full-size pass and one replay of every range: code generation and
    * JIT compilation finish before the measured passes (a sample-sized
    * warm-up left the optimising compiler still working through them).
    */
  def warm(): Unit = {
    pass(ctx.dir("report-warm"))
    ranges.zipWithIndex.foreach { case (r, i) => replay(r, ctx.dir(s"replay-warm-$i")) }
  }

  def run(budgetS: Double): Double = {
    val t0 = System.nanoTime()
    val passes = Seq.newBuilder[Double]
    var n = 0
    while (n < 3 || (Stats.secondsSince(t0) < budgetS * 0.75 && n < 20)) {
      val out = ctx.dir(s"report-$n")
      val (s, posted) = ctx.exec.window(acc)(pass(out))
      ctx.record(s"report pass $n", check(out, posted))
      passes += s
      n += 1
    }
    val replays = Seq.newBuilder[Double]
    var k = 0
    while (k < 2 * ranges.size) {
      val range = ranges(k % ranges.size)
      val out = ctx.dir(s"replay-$k")
      val s = ctx.exec.window(acc)(replay(range, out))
      val want = truth.inRange(range._1, range._2)
      val got = Ctx.countLines(out)
      ctx.record(s"replay $k", if (got == want) Nil else Seq(s"replay rows: got $got, want $want"))
      replays += s
      k += 1
    }
    val passS = Stats.median(passes.result())
    ctx.e2e("report.events_per_s") = (truth.lines / passS, "events/s")
    ctx.e2e("replay.range_s_p50") = (Stats.median(replays.result()), "s")
    passS
  }

  def untracedPass(): Double = pass(ctx.dir("report-untraced"))._1

  def probe(): Unit = {
    val ev = parsed()
    val parse = ctx.noop3(ev)
    val urlOnly = ctx.noop3(ev.select(col("url")))
    val hostOf = ctx.noop3(ev.select(CrawlCols.hostOf(col("url")).as("host")))
    val solrInputs = ctx.noop3(ev.select(col("timestamp"), col("url"), col("status_code"),
      col("content_digest"), col("content_length"), col("seed"), col("thread"),
      col("start_time_plus_duration"), col("annotations"), col("warc_filename"), col("warc_offset")))
    val solrDocs = ctx.noop3(ReportJob.solrDocs(ev))
    val malformed = ev.filter(col("url").isNull).count()
    ctx.record("schema malformed rows",
      if (malformed == truth.malformed) Nil else Seq(s"malformed rows: got $malformed, want ${truth.malformed}"))
    ctx.layer("schema.parse_s") = (parse, "s")
    ctx.layer("schema.malformed_rows") = (malformed.toDouble, "count")
    ctx.layer("functions.crawlcols_s") = (solrDocs - solrInputs, "s")
    ctx.layer("functions.host_of_s") = (hostOf - urlOnly, "s")
    for ((m, span) <- Seq("raw" -> "jobs.report_raw", "crawl_log" -> "jobs.report_crawl_log",
        "summary" -> "jobs.report_summary", "solr" -> "jobs.report_solr"))
      ctx.layer(s"jobs.report_${m}_s") = (ctx.trace.medianSeconds(span), "s")
    ctx.layer("sources.solr_write_s") = (ctx.trace.medianSeconds("sources.solr_write") - solrDocs, "s")
    ctx.layer("sources.solr_posts") = (solr.posts.get.toDouble, "count")
    ctx.layer("sources.solr_bytes") = (solr.bytes.get.toDouble, "bytes")
    ctx.layer("sources.solr_post_ms_p50") =
      (Stats.median(solr.postNanos.toArray.toSeq.map(_.asInstanceOf[java.lang.Long] / 1e6)), "ms")
    acc.metrics("exec.report", ctx.cores).foreach { case (k, v, u) => ctx.layer(k) = (v, u) }
  }

  override def close(): Unit = if (solr != null) solr.stop()
}
