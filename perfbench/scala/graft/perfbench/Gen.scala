package graft.perfbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets.UTF_8
import java.time.{Instant, LocalDateTime, ZoneOffset}
import java.time.format.DateTimeFormatter

import scala.collection.mutable

/** Input regime of one workload: every generator below reads its mix from
  * here, so the two workloads differ only in these numbers.
  *
  * Only the crawl-log status and last-hop mixes (FIXTURES.md §1, in `Gen`)
  * are measured; the 95/5 Heritrix/WebRender split and `seedHosts` follow
  * the benchmark's specification (the latter the host count a measured
  * host-stats run ended at). Every other number is an unmeasured
  * assumption, to be recalibrated once a real crawl-log fragment is at
  * hand.
  */
final case class Regime(
    name: String,
    hosts: Int,            // active host pool (Zipf ranks)
    seedHosts: Int,        // stream: hosts in the state before measuring
    zipfS: Double,         // host popularity skew
    newHostShare: Double,  // stream: share of events from a never-seen host
    lateShare: Double,     // stream: share of events older than the front
    jitterMs: Int,         // crawl log: +- timestamp jitter (out of order)
    ingestMix: Map[String, Double], // doc kind -> share of the stream
    dueShare: Double,      // launch: share of schedules due at `now`
    emptySeedShare: Double,
    maxSeeds: Int)

object Regime {
  val all: Map[String, Regime] = Map(
    "steady-crawl" -> Regime("steady-crawl", hosts = 2000, seedHosts = 35000, zipfS = 1.1,
      newHostShare = 0.01, lateShare = 0.05, jitterMs = 2000,
      ingestMix = Map("fresh" -> 0.45, "corpus_dup" -> 0.15,
        "stream_dup" -> 0.10, "near_dup" -> 0.10, "low_quality" -> 0.10,
        "gibberish" -> 0.10),
      dueShare = 0.3, emptySeedShare = 0.02, maxSeeds = 3),
    "high-churn" -> Regime("high-churn", hosts = 500, seedHosts = 0, zipfS = 1.4,
      newHostShare = 0.25, lateShare = 0.15, jitterMs = 30000,
      ingestMix = Map("fresh" -> 0.70, "corpus_dup" -> 0.05,
        "stream_dup" -> 0.05, "near_dup" -> 0.10, "low_quality" -> 0.05,
        "gibberish" -> 0.05),
      dueShare = 0.6, emptySeedShare = 0.05, maxSeeds = 5))
}

/** Zipf(s) sampler over ranks 0 until n by inverse CDF. */
final class Zipf(n: Int, s: Double) {
  private val cdf = {
    val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1, s))
    val total = w.sum
    var acc = 0.0
    w.map { x => acc += x / total; acc }
  }
  def sample(r: scala.util.Random): Int = {
    val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
    math.min(if (i >= 0) i else -i - 1, n - 1)
  }
}

object Gen {
  val isoMs: DateTimeFormatter =
    DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSS'Z'").withZone(ZoneOffset.UTC)
  private val heritrixTs =
    DateTimeFormatter.ofPattern("yyyyMMddHHmmssSSS").withZone(ZoneOffset.UTC)
  private val launchTsFmt =
    DateTimeFormatter.ofPattern("yyyyMMddHHmmss").withZone(ZoneOffset.UTC)
  val specTs: DateTimeFormatter = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")

  val T0: Long = Instant.parse("2024-03-01T00:00:00Z").toEpochMilli

  def q(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  /** JSON text of numbers, strings, booleans, maps and sequences. */
  def toJson(v: Any): String = v match {
    case s: String => q(s)
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => q(k.toString) -> toJson(x) }.sortBy(_._1)
        .map { case (k, x) => s"$k:$x" }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(toJson).mkString("[", ",", "]")
    case xs: Array[_] => xs.map(toJson).mkString("[", ",", "]")
    case (a, b) => toJson(Seq(a, b))
    case x => x.toString
  }

  /** Write a ground-truth file next to the inputs it describes. */
  def writeTruth(f: File, fields: (String, Any)*): Unit = {
    val w = writer(f)
    try w.write(toJson(scala.collection.immutable.ListMap(fields: _*))) finally w.close()
  }

  def writer(f: File): BufferedWriter = {
    f.getParentFile.mkdirs()
    new BufferedWriter(new OutputStreamWriter(new FileOutputStream(f), UTF_8), 1 << 16)
  }

  /** Pick a key from a (key -> weight) table. */
  def pick[K](r: scala.util.Random, table: Seq[(K, Double)]): K = {
    var x = r.nextDouble() * table.map(_._2).sum
    table.find { case (_, w) => x -= w; x < 0 }.getOrElse(table.last)._1
  }

  // Golden mixes of the 1,000-record crawl-log fragment (FIXTURES.md §1).
  val statusMix: Seq[(Int, Double)] = Seq(-5003 -> 838.0, 200 -> 128.0,
    301 -> 11.0, 303 -> 9.0, -6 -> 7.0, 204 -> 4.0, -5002 -> 3.0)
  val lastHopMix: Seq[(String, Double)] = Seq("L" -> 821.0, "X" -> 72.0,
    "E" -> 31.0, "R" -> 22.0, "I" -> 1.0, "" -> 3.0)
  private val mimes = Seq("text/html" -> 6.0, "image/jpeg" -> 2.0,
    "text/css" -> 1.0, "application/javascript" -> 1.0, "text/dns" -> 0.5)

  def hostName(i: Int): String = s"h$i.example${i % 7}.org"

  // ------------------------------------------------------------ crawl log

  /** Ground truth of one crawl-log file. */
  final case class CrawlTruth(lines: Int, malformed: Int, heritrix: Int,
      webrender: Int, hostTotals: Map[String, Long], tsMillis: Array[Long],
      statusHist: Map[Int, Long], lastHopHist: Map[String, Long]) {
    def records: Int = lines - malformed
    /** Records whose own timestamp lies in [start, end). */
    def inRange(start: Long, end: Long): Int = tsMillis.count(t => t >= start && t < end)
    def spanEnd: Long = tsMillis.max
  }

  /** Seeded crawl-log JSONL: Zipf-skewed hosts, 95/5 Heritrix/WebRender,
    * `dns:`/`screenshot:` URLs, injected malformed lines and jittered
    * out-of-order timestamps. URLs carry a unique path so every
    * (timestamp, url) Solr id is unique by construction.
    */
  def crawlLog(out: File, n: Int, seed: Long, reg: Regime): CrawlTruth = {
    val r = new scala.util.Random(seed)
    val zipf = new Zipf(reg.hosts, reg.zipfS)
    val totals = mutable.HashMap[String, Long]()
    val status = mutable.HashMap[Int, Long]()
    val hops = mutable.HashMap[String, Long]()
    val ts = new mutable.ArrayBuilder.ofLong
    var malformed, heritrix, webrender = 0
    val w = writer(out)
    try {
      var i = 0
      while (i < n) {
        if (r.nextInt(1000) == 0) {
          w.write(s"not-json ${r.nextLong()} {truncated"); malformed += 1
        } else {
          val hostIx = zipf.sample(r)
          val host = hostName(hostIx)
          val t = T0 + i * 20L + (r.nextInt(2 * reg.jitterMs + 1) - reg.jitterMs)
          ts += t
          val iso = isoMs.format(Instant.ofEpochMilli(t))
          val isWebRender = r.nextInt(100) < 5
          val kind = r.nextInt(100)
          val url =
            if (!isWebRender && kind < 2) s"dns:$host"
            else if (isWebRender && kind < 20) s"screenshot:http://$host/p/$i"
            else if (kind % 10 == 0) s"https://$host/p/$i"
            else s"http://$host/p/$i"
          if (url.startsWith("http")) totals(host) = totals.getOrElse(host, 0L) + 1
          val sc = pick(r, statusMix)
          status(sc) = status.getOrElse(sc, 0L) + 1
          val len = 200 + r.nextInt(40000)
          val digest = "sha1:" + java.lang.Long.toString(r.nextLong() & Long.MaxValue, 32).toUpperCase
          val stpd = heritrixTs.format(Instant.ofEpochMilli(t - 500)) + "+" + r.nextInt(2000)
          val via = hostName(zipf.sample(r))
          val sb = new StringBuilder(512)
          sb ++= "{\"url\":" ++= q(url) ++= ",\"host\":" ++= q(host) ++=
            ",\"status_code\":" ++= sc.toString ++= ",\"content_digest\":" ++= q(digest) ++=
            ",\"content_length\":" ++= len.toString ++= ",\"start_time_plus_duration\":" ++= q(stpd)
          val warc = s"BL-$i-${t / 3600000}.warc.gz"
          if (isWebRender) {
            webrender += 1
            sb ++= ",\"annotations\":\"\",\"warc_filename\":" ++= q(warc) ++=
              ",\"warc_offset\":" ++= (i * 1000L).toString ++= ",\"timestamp\":" ++= q(iso) ++=
              ",\"http_method\":\"GET\",\"wire_bytes\":" ++= (len + 300).toString ++=
              ",\"content_type\":\"text/html\",\"warc_length\":" ++= (len + 600).toString ++=
              ",\"warc_content_type\":\"application/http; msgtype=response\"" ++=
              ",\"warc_type\":\"response\",\"warc_id\":" ++=
              q(s"<urn:uuid:${new java.util.UUID(r.nextLong(), i.toLong)}>") += '}'
          } else {
            heritrix += 1
            val hop = pick(r, lastHopMix)
            hops(if (hop.isEmpty) "_" else hop) = hops.getOrElse(if (hop.isEmpty) "_" else hop, 0L) + 1
            val hopPath = if (hop.isEmpty) "" else "L" * r.nextInt(3) + hop
            val ann = Seq(s"ip:10.${r.nextInt(256)}.${r.nextInt(256)}.${r.nextInt(256)}",
              s"launchTimestamp:${launchTsFmt.format(Instant.ofEpochMilli(T0 - 86400000L))}",
              s"dol:${r.nextInt(9)}") ++ (if (r.nextInt(10) == 0) Seq(s"${1 + r.nextInt(3)}t") else Nil) ++
              (if (r.nextInt(20) == 0) Seq("duplicate:digest") else Nil)
            sb ++= ",\"annotations\":" ++= q(ann.mkString(",")) ++= ",\"warc_filename\":" ++= q(warc) ++=
              ",\"warc_offset\":" ++= (i * 1000L).toString ++= ",\"timestamp\":" ++= q(iso) ++=
              ",\"thread\":" ++= r.nextInt(400).toString ++= ",\"hop_path\":" ++= q(hopPath) ++=
              ",\"seed\":" ++= q(s"tid:${hostIx % 50}:http://${hostName(hostIx % 50)}/") ++=
              ",\"via\":" ++= q(s"http://$via/v/${r.nextInt(1000)}") ++=
              ",\"crawl_name\":\"frequent\",\"size\":" ++= len.toString ++=
              ",\"mimetype\":" ++= q(pick(r, mimes)) ++=
              ",\"extra_info\":{\"scopeDecision\":\"ACCEPT by rule #2\",\"warcPrefix\":\"BL\"}}"
          }
          w.write(sb.toString)
        }
        w.newLine(); i += 1
      }
    } finally w.close()
    CrawlTruth(n, malformed, heritrix, webrender, totals.toMap, ts.result(),
      status.toMap, hops.toMap)
  }

  // --------------------------------------------------------- stream events

  /** Stateful event-file generator for the host-stats stream: a growing
    * host pool (new hosts keep arriving), Zipf-skewed popularity and a
    * share of late events. Tracks per-host totals and last event time.
    */
  final class StreamGen(seed: Long, reg: Regime) {
    private val r = new scala.util.Random(seed)
    private val zipf = new Zipf(reg.hosts, reg.zipfS)
    private var nextHost = math.max(reg.hosts, reg.seedHosts)
    private var front = T0
    private var seq = 0L
    val totals = mutable.HashMap[String, Long]()
    val lastTs = mutable.HashMap[String, Long]()
    var events = 0L

    /** Render `n` events as one JSONL body. */
    def file(n: Int): String = render(n, _ =>
      if (r.nextDouble() < reg.newHostShare) { nextHost += 1; nextHost - 1 }
      else zipf.sample(r))

    /** One event for each of the regime's `seedHosts` hosts, then `n` more. */
    def seedFile(n: Int): String = render(reg.seedHosts, identity) + file(n)

    private def render(n: Int, hostIx: Int => Int): String = {
      val sb = new StringBuilder(n * 200)
      var i = 0
      while (i < n) {
        val hix = hostIx(i)
        val host = hostName(hix)
        front += 5
        val t = if (r.nextDouble() < reg.lateShare) front - 60000 - r.nextInt(1800000) else front
        totals(host) = totals.getOrElse(host, 0L) + 1
        if (t > lastTs.getOrElse(host, Long.MinValue)) lastTs(host) = t
        seq += 1
        sb ++= "{\"url\":" ++= q(s"http://$host/s/$seq") ++= ",\"status_code\":" ++=
          pick(r, statusMix).toString ++= ",\"timestamp\":" ++=
          q(isoMs.format(Instant.ofEpochMilli(t))) ++= ",\"thread\":" ++= r.nextInt(400).toString ++=
          ",\"mimetype\":" ++= q(pick(r, mimes)) ++= ",\"via\":" ++=
          q(s"http://${hostName(zipf.sample(r))}/") ++= "}\n"
        i += 1
      }
      events += n
      sb.toString
    }

    /** Expected snapshot: the top `n` hosts by (last_ts desc, host asc),
      * with their totals and last event times.
      */
    def topN(n: Int): Seq[(String, Long, Long)] =
      lastTs.toSeq.sortBy { case (h, t) => (-t, h) }.take(n)
        .map { case (h, t) => (h, totals(h), t) }

  }



  // ---------------------------------------------------------- ingest docs

  /** A seeded word-chain language: every word has a few likely successors,
    * so corpus and fresh documents share bigram statistics (they pass the
    * perplexity gate) while gibberish drawn uniformly does not.
    */
  final class Language(seed: Long, vocab: Int = 3000, fanout: Int = 6) {
    private val r0 = new scala.util.Random(seed)
    val words: Array[String] = {
      val seen = mutable.LinkedHashSet[String]("the", "and", "of", "to", "with")
      while (seen.size < vocab)
        seen += Iterator.fill(3 + r0.nextInt(7))(('a' + r0.nextInt(26)).toChar).mkString
      seen.toArray
    }
    private val next = Array.fill(vocab)(Array.fill(fanout)(r0.nextInt(vocab)))
    def text(r: scala.util.Random, nWords: Int): String = {
      var w = r.nextInt(vocab)
      val b = new StringBuilder
      var i = 0
      while (i < nWords) {
        if (i > 0) b += ' '
        // the stopwords appear in every document (Gopher's stopword rule)
        b ++= (if (i % 17 == 3) "the" else if (i % 23 == 7) "and" else words(w))
        w = if (r.nextInt(20) == 0) r.nextInt(vocab) else next(w)(r.nextInt(fanout))
        i += 1
      }
      b.toString
    }
    def gibberish(r: scala.util.Random, nWords: Int): String =
      (0 until nWords).map(i => if (i % 17 == 3) "the" else if (i % 23 == 7) "and"
        else words(r.nextInt(vocab))).mkString(" ")
  }

  final case class Doc(id: Long, tsMs: Long, text: String, kind: String, dupOf: Long)

  final case class IngestTruth(corpus: IndexedSeq[(Long, String)], docs: IndexedSeq[Doc]) {
    /** Fresh documents, each with its in-stream copies: the chain keeps
      * exactly one document of every group (which copy is up to the
      * dedup) and nothing else.
      */
    lazy val keepGroups: Map[Long, Seq[Long]] =
      docs.filter(d => d.kind == "fresh" || d.kind == "stream_dup")
        .groupBy(d => if (d.kind == "stream_dup") d.dupOf else d.id)
        .map { case (root, ds) => root -> ds.map(_.id).toSeq }
    def expectedKept: Int = keepGroups.size
  }

  /** Corpus plus a document stream with fixed shares of corpus copies,
    * in-stream copies, re-wrapped corpus copies, short docs and gibberish.
    */
  def ingest(seed: Long, reg: Regime, corpusDocs: Int, streamDocs: Int): IngestTruth = {
    val lang = new Language(seed ^ 0x5eedL)
    val r = new scala.util.Random(seed)
    val corpus = (0 until corpusDocs).map(i => (1000000L + i, lang.text(r, 60 + r.nextInt(60))))
    val mix = reg.ingestMix.toSeq.sortBy(_._1)
    val docs = mutable.ArrayBuffer[Doc]()
    var i = 0
    while (docs.size < streamDocs) {
      val ts = T0 + i * 300L // 5 min of event time per 1000 docs
      val kind = pick(r, mix)
      val d = kind match {
        case "corpus_dup" =>
          val (cid, t) = corpus(r.nextInt(corpus.size)); Doc(i, ts, t, kind, cid)
        case "stream_dup" =>
          docs.filter(_.kind == "fresh").lastOption match {
            case Some(o) => Doc(i, ts, o.text, kind, o.id)
            case None => Doc(i, ts, lang.text(r, 60 + r.nextInt(60)), "fresh", -1)
          }
        case "near_dup" =>
          // the same words re-wrapped: other bytes (exact dedup misses it),
          // the same shingles (the near-dup stage must drop it, whatever
          // the LSH draw)
          val (cid, t) = corpus(r.nextInt(corpus.size))
          val ws = t.split(" ")
          Doc(i, ts, ws.indices.map(j => if (j > 0 && j % 12 == 0) "\n" + ws(j) else ws(j))
            .mkString(" "), kind, cid)
        case "low_quality" => Doc(i, ts, lang.text(r, 5 + r.nextInt(30)), kind, -1)
        case "gibberish" => Doc(i, ts, lang.gibberish(r, 60 + r.nextInt(60)), kind, -1)
        case _ => Doc(i, ts, lang.text(r, 60 + r.nextInt(60)), "fresh", -1)
      }
      docs += d; i += 1
    }
    IngestTruth(corpus, docs.toIndexedSeq)
  }

  def docLine(d: Doc): String =
    s"""{"ts":${q(isoMs.format(Instant.ofEpochMilli(d.tsMs)))},"doc_id":${d.id},"text":${q(d.text)}}"""

  // ----------------------------------------------------------- crawl specs

  final case class LaunchTruth(targets: Int, emptySeed: Int, dueMessages: Long)

  /** `now` of the launch workload: a Friday, 10:00 UTC. */
  val launchNow: LocalDateTime = LocalDateTime.parse("2024-03-15T10:00:00")

  /** Crawl-spec feed whose due set is known by construction: each schedule
    * is drawn as due or not due, and its dates are built to make it so.
    */
  def specs(out: File, n: Int, seed: Long, reg: Regime): LaunchTruth = {
    val r = new scala.util.Random(seed)
    val now = launchNow
    def fmt(t: LocalDateTime) = specTs.format(t)
    def schedule(due: Boolean): (String, String, String) = {
      val freq = Seq("DAILY", "WEEKLY", "MONTHLY", "QUARTERLY", "SIXMONTHLY", "ANNUAL")(r.nextInt(6))
      val monthsBack = freq match {
        case "QUARTERLY" => 3 * (1 + r.nextInt(4))
        case "SIXMONTHLY" => 6 * (1 + r.nextInt(2))
        case "ANNUAL" => 12
        case _ => 1 + r.nextInt(12)
      }
      val start = freq match {
        case "DAILY" => now.minusDays(1 + r.nextInt(300))
        case "WEEKLY" => now.minusWeeks(1 + r.nextInt(40))
        case _ => now.minusMonths(monthsBack)
      }
      if (due) (fmt(start), if (r.nextBoolean()) "" else fmt(now.plusDays(1 + r.nextInt(90))), freq)
      else r.nextInt(6) match {
        case 0 => (fmt(start.plusHours(1)), "", freq)                  // hour gate
        case 1 => (fmt(now.plusDays(1 + r.nextInt(30))), "", freq)     // not started
        case 2 => (fmt(start), fmt(now.minusDays(1 + r.nextInt(30))), freq) // ended
        case 3 => ("", "", freq)                                      // blank start
        case 4 => (fmt(start), "", "DOMAINCRAWL")                     // never due
        case _ if freq == "DAILY" => (fmt(now.minusWeeks(1 + r.nextInt(40)).minusDays(1)), "", "WEEKLY")
        case _ => (fmt(start.minusDays(1)), "", freq)                 // wrong day
      }
    }
    var empty = 0
    var due = 0L
    val w = writer(out)
    try {
      (0 until n).foreach { i =>
        val nSeeds = if (r.nextDouble() < reg.emptySeedShare) 0 else 1 + r.nextInt(reg.maxSeeds)
        if (nSeeds == 0) empty += 1
        val seeds = (0 until nSeeds).map { j =>
          val host = if (r.nextInt(50) == 0) "twitter.com" else s"www.Site${r.nextInt(20000)}.org"
          val port = if (r.nextInt(10) == 0) s":${8000 + r.nextInt(100)}" else ""
          s"${if (r.nextBoolean()) "https" else "http"}://$host$port/t$i/s$j"
        }
        val scheds = (0 until 1 + r.nextInt(2)).map(_ => r.nextDouble() < reg.dueShare)
        if (nSeeds > 0) due += scheds.count(identity).toLong * nSeeds
        val schedJson = scheds.map(schedule).map { case (s, e, f) =>
          s"""{"startDate":${q(s)},"endDate":${q(e)},"frequency":${q(f)}}""" }
        w.write(s"""{"id":$i,"title":${q(s"Target $i")},"seeds":${seeds.map(q).mkString("[", ",", "]")},""" +
          s""""depth":${q(Seq("CAPPED", "CAPPED_LARGE", "DEEP")(r.nextInt(3)))},""" +
          s""""scope":${q(Seq("subdomains", "plus1Scope", "resource")(r.nextInt(3)))},""" +
          s""""ignoreRobotsTxt":${r.nextBoolean()},"schedules":${schedJson.mkString("[", ",", "]")},""" +
          s""""watched":false,"documentUrlScheme":null,"loginPageUrl":"","logoutUrl":"","secretId":""}""")
        w.newLine()
      }
    } finally w.close()
    LaunchTruth(n, empty, due)
  }
}
