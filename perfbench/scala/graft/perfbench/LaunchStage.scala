package graft.perfbench

import java.io.File
import java.nio.ByteBuffer
import java.nio.ByteOrder

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.CrawlCols
import graft.operators.Launcher
import graft.schema.CrawlSchemas

/** launch-emit: the producer side. A crawl-spec feed through
  * `Launcher.dueLaunches` at a fixed `now`, written as keyed JSON messages
  * (`key` = Murmur3 authority key, `value` = `to_json` launch request), the
  * `LauncherMain` write path.
  */
final class LaunchStage(ctx: Ctx, targets: Int) extends Stage {
  val name = "launch"
  private val specs = ctx.dir("launch/specs.jsonl")
  private var truth: Gen.LaunchTruth = _
  private val acc = new ctx.exec.Acc
  private val now = java.sql.Timestamp.valueOf(Gen.launchNow)

  def generate(): Unit = {
    truth = Gen.specs(specs, targets, ctx.seed + 11, ctx.reg)
    Gen.writeTruth(ctx.dir("launch/specs.truth.json"), "targets" -> truth.targets,
      "empty_seed_targets" -> truth.emptySeed, "due_messages" -> truth.dueMessages)
  }

  private def parsed(): DataFrame =
    ctx.spark.read.schema(CrawlSchemas.crawlSpecSchema).json(specs.getPath)

  private def pass(out: File): Double = ctx.trace.span("launch.pass") {
    Stats.timed {
      ctx.trace.span("sources.json_write") {
        Launcher.dueLaunches(parsed(), now).select(col("key"), col("value"))
          .write.mode("overwrite").json(out.getPath)
      }
    }._2
  }

  /** Message count must match; every 50th message's key must equal an
    * independent Murmur3-32 of its seed's netloc.
    */
  private def check(out: File): Seq[String] = {
    val problems = Seq.newBuilder[String]
    var n = 0L
    var sampled = 0
    var badKeys = 0
    Ctx.lines(out).foreach { l =>
      if (n % 50 == 0) {
        val row = Ctx.json.readTree(l)
        val url = Ctx.json.readTree(row.get("value").asText).get("url").asText
        sampled += 1
        if (row.get("key").asText != Murmur32.authorityKey(Murmur32.netloc(url))) badKeys += 1
      }
      n += 1
    }
    if (n != truth.dueMessages) problems += s"messages: got $n, want ${truth.dueMessages}"
    if (badKeys > 0) problems += s"$badKeys of $sampled sampled keys differ from Murmur3(netloc)"
    if (sampled == 0) problems += "no message sampled"
    problems.result()
  }

  /** One full-size pass (so that JIT compilation finishes before the
    * measured passes) and the empty-seed reject count.
    */
  def warm(): Unit = {
    pass(ctx.dir("launch-warm"))
    val rejected = Launcher.malformedTargets(parsed()).count()
    ctx.record("launch empty-seed targets",
      if (rejected == truth.emptySeed) Nil else Seq(s"rejected $rejected, want ${truth.emptySeed}"))
  }

  def run(budgetS: Double): Double = {
    val t0 = System.nanoTime()
    val passes = scala.collection.mutable.ArrayBuffer[Double]()
    // five passes: a pass is short, so single passes swing with the machine
    while (passes.size < 5 || (Stats.secondsSince(t0) < budgetS && passes.size < 30)) {
      val out = ctx.dir(s"launch-${passes.size}")
      val s = ctx.exec.window(acc)(pass(out))
      ctx.record(s"launch pass ${passes.size}", check(out))
      passes += s
    }
    val passS = Stats.median(passes.toSeq)
    ctx.e2e("launch.messages_per_s") = (truth.dueMessages / passS, "messages/s")
    passS
  }

  def untracedPass(): Double = pass(ctx.dir("launch-untraced"))

  def probe(): Unit = {
    val ev = parsed()
    val parse = ctx.noop3(ev)
    val seeds = ev.select(explode(col("seeds")).as("seed"))
    val exploded = ctx.noop3(seeds)
    val keyed = ctx.noop3(seeds.select(CrawlCols.authorityKey(CrawlCols.netlocOf(col("seed"))).as("k")))
    val due = ctx.noop3(Launcher.dueLaunches(ev, now).select(col("key"), col("value")))
    ctx.layer("schema.spec_parse_s") = (parse, "s")
    ctx.layer("functions.authority_key_s") = (keyed - exploded, "s")
    ctx.layer("operators.due_launches_s") = (due - parse, "s")
    ctx.layer("sources.json_write_s") = (ctx.trace.medianSeconds("sources.json_write") - due, "s")
    acc.metrics("exec.launch", ctx.cores).foreach { case (k, v, u) => ctx.layer(k) = (v, u) }
  }
}

/** Murmur3 x86_32, seed 0, written from the published algorithm and kept
  * apart from the production code so the key check is independent.
  */
object Murmur32 {
  def hash(bytes: Array[Byte]): Int = {
    val buf = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    def mixK(k0: Int): Int = Integer.rotateLeft(k0 * 0xcc9e2d51, 15) * 0x1b873593
    var h = 0
    while (buf.remaining >= 4) {
      h = Integer.rotateLeft(h ^ mixK(buf.getInt), 13) * 5 + 0xe6546b64
    }
    var tail = 0
    var shift = 0
    while (buf.hasRemaining) { tail |= (buf.get & 0xff) << shift; shift += 8 }
    if (shift > 0) h ^= mixK(tail)
    h ^= bytes.length
    h = (h ^ (h >>> 16)) * 0x85ebca6b
    h = (h ^ (h >>> 13)) * 0xc2b2ae35
    h ^ (h >>> 16)
  }

  /** Hex of the hash's little-endian bytes. */
  def authorityKey(netloc: String): String = {
    val le = ByteBuffer.allocate(4).order(ByteOrder.LITTLE_ENDIAN)
      .putInt(hash(netloc.getBytes("UTF-8"))).array()
    le.map(b => f"${b & 0xff}%02x").mkString
  }

  /** Authority part of a URL (`urlparse(u).netloc`): case and port kept. */
  def netloc(url: String): String = {
    val i = url.indexOf("://")
    if (i < 0) "" else url.substring(i + 3).takeWhile(c => c != '/' && c != '?' && c != '#')
  }
}
