package graft.perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One stage of a run: a crawl-stream program driven through its public
  * entry points.
  */
trait Stage {
  def name: String
  /** Write the seeded inputs and keep their ground truth (not timed). */
  def generate(): Unit
  /** Set-up done once per run (state-store initialisation). */
  def init(): Unit = ()
  /** Static set-up (artifacts); repeated, and its median counted. */
  def setup(): Unit = ()
  /** One untimed pass so that code generation and JIT are done. */
  def warm(): Unit
  /** Measure for about `budgetS` seconds, set the stage's end-to-end
    * metrics and return its median pass seconds.
    */
  def run(budgetS: Double): Double
  /** One more untraced pass, for the tracing overhead; returns seconds. */
  def untracedPass(): Double
  /** Per-layer probes of the traced run. */
  def probe(): Unit
  /** Stop whatever the stage keeps running; may be called twice. */
  def close(): Unit = ()
}

/** What the stages share: the session, listeners, trace recorder, working
  * directory and the result being assembled.
  */
final class Ctx(val spark: SparkSession, val work: File, val seed: Long, val reg: Regime,
    val trace: Trace, val exec: Exec, val progress: Progress) {
  val cores: Int = spark.sparkContext.defaultParallelism
  val e2e = mutable.LinkedHashMap[String, (Double, String)]()
  val layer = mutable.LinkedHashMap[String, (Double, String)]()
  var attempted = 0L
  var failed = 0L

  def dir(rel: String): File = new File(work, rel)

  /** Count one operation; it failed if any of its checks did. */
  def record(op: String, problems: Seq[String]): Unit = {
    attempted += 1
    if (problems.nonEmpty) {
      failed += 1
      System.err.println(s"[perfbench] FAILED $op: ${problems.mkString("; ")}")
    }
  }

  /** Median wall seconds of three runs of `df` into Spark's no-op sink. */
  def noop3(df: DataFrame): Double =
    Stats.median(Seq.fill(3)(Stats.timed(df.write.format("noop").mode("overwrite").save())._2))
}

object Ctx {
  private def parts(dir: File): Seq[File] =
    Option(dir.listFiles()).toSeq.flatten
      .filter(f => f.isFile && f.getName.startsWith("part-")).sortBy(_.getName)

  /** Lines of every part file of a Spark output directory. */
  def lines(dir: File): Iterator[String] =
    parts(dir).iterator.flatMap { f =>
      scala.io.Source.fromFile(f, "UTF-8").getLines()
    }

  def countLines(dir: File): Long = lines(dir).size.toLong

  val json = new com.fasterxml.jackson.databind.ObjectMapper()
}

/** Entry point:
  * `Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir> --result <file>`.
  * Writes one JSON result object to `--result`; progress goes to stderr.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val reg = Regime.all.getOrElse(opts("workload"),
      throw new IllegalArgumentException(s"unknown workload ${opts("workload")}"))
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts("trace") == "1"
    val work = new File(opts("work"))
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime

    val spark = SparkSession.builder()
      .master("local[4]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1000.0

    val trace = new Trace(s"${reg.name}-$seed")
    val exec = new Exec(spark.sparkContext)
    val progress = new Progress
    spark.streams.addListener(progress)
    val ctx = new Ctx(spark, work, seed, reg, trace, exec, progress)
    trace.counters = () => exec.counters

    val stages = Seq(
      new ReportStage(ctx, events = 15000),
      new StreamStage(ctx, openFiles = 110, openPeriodMs = 32, openEvents = 120, drainEvents = 16000),
      new IngestStage(ctx, corpusDocs = 400, streamDocs = 1000),
      new LaunchStage(ctx, targets = 45000))
    val share = Map("report" -> 0.25, "stream" -> 0.3, "ingest" -> 0.3, "launch" -> 0.15)
    val spent = mutable.LinkedHashMap[String, Double]()
    try {
      /** Run one step of every stage; returns its wall seconds. */
      def step(what: String)(body: Stage => Unit): Double = stages.map { s =>
        val t = Stats.timed(body(s))._2
        spent(s"${s.name} $what") = spent.getOrElse(s"${s.name} $what", 0.0) + t
        t
      }.sum
      val genS = step("gen")(_.generate())
      val initS = step("init")(_.init())
      val rounds = Seq.fill(3)(step("setup")(_.setup()))
      val warmS = step("warm")(_.warm())
      System.err.println(f"[perfbench] session $sessionS%.2fs gen $genS%.2fs init $initS%.2fs " +
        f"setup rounds ${rounds.map(r => f"$r%.2f").mkString(",")} warm-up $warmS%.2fs")
      ctx.e2e("setup_s") = (sessionS + initS + Stats.median(rounds) + warmS, "s")
      for (s <- stages) {
        trace.enabled = traced
        val (passS, runS) = Stats.timed(s.run(seconds * share(s.name)))
        spent(s"${s.name} run") = runS
        trace.enabled = false
        // every traced pass against one more untraced pass: the overhead
        if (traced) ctx.layer(s"trace.${s.name}.overhead_share") = (passS / s.untracedPass() - 1, "ratio")
        // a finished stage leaves nothing running behind the next one
        s.close()
      }
      if (traced) {
        stages.foreach(_.probe())
        ctx.layer("bench.gen_s") = (genS, "s")
        trace.write(new File(work, "trace.jsonl"))
      }
    } finally stages.foreach(s => try s.close() catch { case _: Exception => () })

    System.err.println("[perfbench] " + spent.map { case (k, v) => f"$k $v%.2fs" }.mkString(", "))
    val metrics = if (traced) ctx.layer else ctx.e2e
    System.err.println(f"[perfbench] ${reg.name} seed=$seed attempted=${ctx.attempted} " +
      f"failed=${ctx.failed} failed_share=${ctx.failed.toDouble / math.max(ctx.attempted, 1)}%.4f")
    metrics.foreach { case (k, (v, u)) => System.err.println(f"[perfbench]   $k%-36s $v%14.4f $u") }
    val body = metrics.map { case (k, (v, u)) =>
      s"${Gen.q(k)}:{\"value\":${jsonNum(v)},\"unit\":${Gen.q(u)}}" }.mkString("{", ",", "}")
    val w = Gen.writer(new File(opts("result")))
    try w.write(s"""{"correct":${ctx.failed == 0},"attempted":${ctx.attempted},""" +
      s""""failed":${ctx.failed},"metrics":$body}""")
    finally w.close()
    spark.stop()
  }

  private def jsonNum(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString
}
