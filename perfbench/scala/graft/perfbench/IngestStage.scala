package graft.perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.functions.TextFns
import graft.operators.{DedupOps, RelevanceOps}
import graft.streaming.PipelineStreams

/** ingest-curation: a document stream through `PipelineStreams.ingestChain`
  * (redact → quality → gopher → horizon and history exact dedup → one
  * windowed near-dup + perplexity stage) with an available-now trigger,
  * against corpus artifacts made by the shared `DedupOps` / `RelevanceOps`
  * functions and materialised by an eager local checkpoint.
  */
final class IngestStage(ctx: Ctx, corpusDocs: Int, streamDocs: Int) extends Stage {
  val name = "ingest"
  private val maxXent = 6.0
  private var truth: Gen.IngestTruth = _
  private val docsDir = ctx.dir("ingest/docs")
  private val corpusPath = ctx.dir("ingest/corpus.jsonl")
  private var artifacts: (DataFrame, DataFrame, DataFrame, RelevanceOps.BigramLm) = _
  private val buildS = mutable.Map[String, mutable.ArrayBuffer[Double]]()
  private val acc = new ctx.exec.Acc
  private var keptLast = 0
  private var lastProgress: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress] = Nil
  private var lastPassS = 0.0
  private val Sentinel = 9000000L

  def generate(): Unit = {
    truth = Gen.ingest(ctx.seed + 5, ctx.reg, corpusDocs, streamDocs)
    Gen.writeTruth(ctx.dir("ingest/truth.json"), "corpus_docs" -> truth.corpus.size,
      "stream_docs" -> truth.docs.size,
      "kinds" -> truth.docs.groupBy(_.kind).map { case (k, ds) => k -> ds.size },
      "expected_kept" -> truth.expectedKept,
      "keep_groups" -> truth.keepGroups.toSeq.sortBy(_._1).map(_._2),
      "dropped" -> truth.docs.filterNot(d => d.kind == "fresh" || d.kind == "stream_dup")
        .map(d => (d.id, d.kind)))
    val cw = Gen.writer(corpusPath)
    try truth.corpus.foreach { case (id, t) =>
      cw.write(s"""{"doc_id":$id,"text":${Gen.q(t)}}"""); cw.newLine()
    } finally cw.close()
    writeDocs(truth.docs)
  }

  /** The documents in event-time order, split over one file per core (as
    * files arrive in a crawl), then a sentinel far ahead in event time. The
    * sentinel moves the watermark past every window, and the no-data batch
    * that available-now runs last emits them.
    */
  private def writeDocs(docs: Seq[Gen.Doc]): Unit = {
    val chunks = docs.grouped(math.max(1, (docs.size + ctx.cores - 1) / ctx.cores)).toSeq
    chunks.zipWithIndex.foreach { case (chunk, i) =>
      val w = Gen.writer(new File(docsDir, f"docs-$i%02d.json"))
      try {
        chunk.foreach { d => w.write(Gen.docLine(d)); w.newLine() }
        if (i == chunks.size - 1) {
          val lang = new Gen.Language(ctx.seed)
          w.write(Gen.docLine(Gen.Doc(Sentinel, Gen.T0 + 86400000L,
            lang.text(new scala.util.Random(ctx.seed), 80), "sentinel", -1)))
          w.newLine()
        }
      } finally w.close()
    }
  }

  private def built[T](key: String)(body: => T): T = {
    val (v, s) = Stats.timed(body)
    buildS.getOrElseUpdate(key, mutable.ArrayBuffer()) += s
    v
  }

  /** Set-up: build every corpus artifact the chain reads and materialise
    * it (an eager local checkpoint), as a production ingest cycle builds its
    * artifacts before the stream starts.
    */
  override def setup(): Unit = {
    val corpus = ctx.spark.read.schema("doc_id BIGINT, text STRING").json(corpusPath.getPath)
    val digests = built("digest_index") {
      corpus.select(DedupOps.contentDigest(col("text")).as("digest")).localCheckpoint()
    }
    val bands = built("band_index") {
      DedupOps.bandIndex(corpus, "doc_id", "text", k = 16, bands = 4, shingleWords = 3).localCheckpoint()
    }
    val shingles = built("shingle_index") {
      DedupOps.shingleIndex(corpus, "doc_id", "text", shingleWords = 3).localCheckpoint()
    }
    val lm = built("bigram_lm") {
      val lm = RelevanceOps.bigramLm(corpus, "text")
      RelevanceOps.BigramLm(lm.c12, lm.c1.localCheckpoint(), lm.c2.localCheckpoint(),
        lm.tot.localCheckpoint())
    }
    artifacts = (digests, bands, shingles, lm)
  }

  /** One available-now pass over the whole document directory with a fresh
    * checkpoint; returns (wall seconds, kept (doc_id, text) rows).
    */
  private var passNo = 0
  private def pass(): (Double, Array[Row]) = ctx.trace.span("ingest.pass") {
    passNo += 1
    val (digests, bands, shingles, lm) = artifacts
    val docs = ctx.spark.readStream
      .schema("ts TIMESTAMP, doc_id BIGINT, text STRING")
      .json(docsDir.getPath)
    val kept = PipelineStreams.ingestChain(docs, digests, bands, shingles, lm,
      "ts", "doc_id", "text", nearDupThreshold = 0.9, maxXent = maxXent,
      window_ = "10 minutes", delay = "10 minutes")
    val rows = new java.util.concurrent.ConcurrentLinkedQueue[Row]()
    val (q, s) = Stats.timed {
      val q = kept.select(col("doc_id"), col("text")).writeStream
        .foreachBatch { (b: Dataset[Row], _: Long) => b.collect().foreach(rows.add); () }
        .option("checkpointLocation", ctx.dir(s"ingest/ckpt-$passNo").getPath)
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      q
    }
    lastProgress = ctx.progress.of(q.id)
    lastPassS = s
    import scala.jdk.CollectionConverters._
    // the sentinel only drives the watermark; it is not an offered doc
    (s, rows.asScala.filter(_.getLong(0) < Sentinel).toArray)
  }

  /** Exactly one document of every fresh group is kept (a fresh document
    * or one of its in-stream copies), and no corpus copy, re-wrapped copy,
    * short document or gibberish; kept digests are unique and the kept
    * count is the ground truth's.
    */
  private def check(kept: Array[Row]): Seq[String] = {
    val problems = Seq.newBuilder[String]
    val ids = kept.map(_.getLong(0)).toSet
    val lost = truth.keepGroups.filter { case (_, g) => g.count(ids) != 1 }
    if (lost.nonEmpty) problems += s"${lost.size} fresh groups not kept exactly once, e.g. ${lost.head}"
    val wrong = truth.docs.filter(d => ids(d.id) && d.kind != "fresh" && d.kind != "stream_dup")
    if (wrong.nonEmpty) problems += s"kept ${wrong.groupBy(_.kind).map { case (k, ds) =>
      s"${ds.size} $k" }.mkString(", ")}, e.g. ${wrong.head.id}"
    val digests = kept.map(r => DigestCheck.md5(r.getString(1)))
    if (digests.distinct.length != digests.length) problems += "kept digests are not unique"
    if (kept.length != ids.size) problems += "a document id was emitted twice"
    if (kept.length != truth.expectedKept) problems += s"kept ${kept.length}, want ${truth.expectedKept}"
    keptLast = kept.length
    problems.result()
  }

  /** No separate warm-up: a cold pass costs about as much as a warm one
    * (the chain's fixed per-batch cost dominates), so the first of the
    * three measured passes is the warm-up and the median leaves it out.
    */
  def warm(): Unit = ()

  def run(budgetS: Double): Double = {
    val t0 = System.nanoTime()
    val passes = mutable.ArrayBuffer[Double]()
    // three passes at least, so that the median is one pass, not a mean
    while (passes.size < 3 || (Stats.secondsSince(t0) < budgetS && passes.size < 20)) {
      val (s, kept) = ctx.exec.window(acc)(pass())
      ctx.record(s"ingest pass ${passes.size}", check(kept))
      passes += s
    }
    val passS = Stats.median(passes.toSeq)
    ctx.e2e("ingest.docs_per_s") = (truth.docs.size / passS, "docs/s")
    passS
  }

  def untracedPass(): Double = pass()._1

  def probe(): Unit = {
    val docs = ctx.spark.read.schema("ts TIMESTAMP, doc_id BIGINT, text STRING").json(docsDir.getPath)
    val read = ctx.noop3(docs.select(col("text")))
    val kernels = ctx.noop3(docs.select(TextFns.tokens(col("text")).as("toks"),
      TextFns.wordShingleHashes(col("text"), 3).as("sh"),
      TextFns.shingleMinhash(TextFns.tokens(col("text")), 3, 16).as("sig")))
    ctx.layer("functions.text_kernels_s") = (kernels - read, "s")
    ctx.layer("operators.band_index_s") = (Stats.median(buildS("band_index").toSeq), "s")
    ctx.layer("operators.shingle_index_s") = (Stats.median(buildS("shingle_index").toSeq), "s")
    ctx.layer("operators.bigram_lm_s") = (Stats.median(buildS("bigram_lm").toSeq), "s")
    val offered = truth.docs.size + 1 // the sentinel
    ctx.layer("streaming.source_rows_per_input") =
      (lastProgress.flatMap(_.sources).map(_.numInputRows).sum.toDouble / offered, "ratio")
    // state after the data batch; the final no-data batch has evicted it
    val dedup = lastProgress.filter(_.numInputRows > 0).lastOption.toSeq
      .flatMap(_.stateOperators.filter(_.operatorName.toLowerCase.contains("dedup")))
    ctx.layer("streaming.dedup_state_rows_end") = (dedup.map(_.numRowsTotal).sum.toDouble, "rows")
    // the data micro-batch's execution against the whole pass; the rest is
    // query start, planning, log commits and the closing no-data batch
    val dataMs = lastProgress.filter(_.numInputRows > 0)
      .map(p => Option(p.durationMs.get("addBatch")).map(_.doubleValue).getOrElse(0.0)).sum
    ctx.layer("streaming.ingest_data_share") = (dataMs / (lastPassS * 1000), "ratio")
    ctx.layer("streaming.kept_share") = (keptLast.toDouble / truth.docs.size, "ratio")
    acc.metrics("exec.ingest", ctx.cores).foreach { case (k, v, u) => ctx.layer(k) = (v, u) }
  }
}

object DigestCheck {
  def md5(s: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map(b => f"${b & 0xff}%02x").mkString
}
