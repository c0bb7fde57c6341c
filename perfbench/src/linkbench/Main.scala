package linkbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.linkbench.ListenerDrain
import org.apache.spark.sql.SparkSession
import scala.collection.mutable
import Workloads._

/** Metric names, units and the order they are printed in. */
object Metrics {
  val endToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "job_s" -> "s", "pagerank_edges_per_s" -> "edges/s",
    "pagerank_rounds" -> "count", "scaling_eff" -> "ratio", "storage_peak_mb" -> "MB")

  private def unitOf(field: String) = field match {
    case "jobs" | "tasks" | "rounds" | "shuffle_records" | "jobs_per_round" => "count"
    case f if f.endsWith("_mb") => "MB"
    case "useful_ratio" | "overhead" | "failed_frac" => "ratio"
    case _ => "s"
  }

  val perLayer: Seq[(String, String)] = {
    val spans = SpanStats.full.flatMap(s => SpanStats.fullFields.map(f => s"$s.$f")) ++
      SpanStats.light.flatMap(s => Seq(s"$s.s", s"$s.jobs"))
    val extras = Seq(
      "algos.pagerank_ncore.rounds", "algos.pagerank_ncore.s_per_round",
      "algos.pagerank_ncore.jobs_per_round", "algos.pagerank.output_mb",
      "algos.cc.rounds", "algos.cc.s_per_round",
      "algos.lp.rounds", "algos.lp.s_per_round",
      "core.mxm_masked.shuffle_records", "core.mxm_masked.useful_ratio",
      "algos.triangle_count.shuffle_records",
      "job.self_s", "ref.pagerank_s", "trace.overhead", "failed_frac")
    (spans ++ extras).map(n => n -> unitOf(n.split('.').last))
  }
}

final case class Outcome(attempted: Long, failed: Long, metrics: Seq[(String, Double, String)]) {
  def correct: Boolean = failed == 0 && attempted > 0

  def json: String = {
    def num(v: Double) = if (v.isNaN || v.isInfinite) "0" else v.toString
    val ms = metrics.map { case (k, v, u) => s""""$k": {"value": ${num(v)}, "unit": "$u"}""" }
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, """ +
      s""""metrics": {${ms.mkString(", ")}}}"""
  }
}

object Runner {
  /** Pages each workload synthesizes; perfbench/README.md says why. */
  val Pages = 2000
  /** Set-ups per run, of which the median is reported. */
  val SetUps = 2
  /** Share of `seconds` at which the job phase ends; the PageRank legs
    * have the rest. */
  val JobShare = 0.5

  def session(cores: Int, work: Path): SparkSession = {
    val local = work.resolve("spark-local")
    Files.createDirectories(local)
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("linkbench")
      .config("spark.sql.shuffle.partitions", Parts.toString)
      .config("spark.default.parallelism", Parts.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", local.toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.driver.maxResultSize", "2g")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
    }

  /** Runs `pass` at least `min` times and until `until` (nanoTime) has passed. */
  private def repeat(min: Int, until: Long)(pass: Int => Unit): Unit = {
    var i = 0
    while (i < min || System.nanoTime() < until) { pass(i); i += 1 }
  }

  /** One benchmark run, in a fresh JVM as the production job runs.
    *  - Set-up: session start plus the median of SetUps fixture and
    *    reference builds.
    *  - Job phase: the job at all cores, timed cold (its first pass is
    *    measured). With `trace`, that pass is dropped and the next passes
    *    alternate untraced and traced, so the trace overhead compares warm
    *    passes.
    *  - PageRank legs, warm: the job's PageRank call without checkpoints on
    *    the prebuilt graph, at all cores, at one core, and at all cores
    *    again, with a session restart between legs. The all-core time is
    *    the median of the two legs around the one-core leg, so that a
    *    slowdown of the host during the run cancels in `scaling_eff`.
    * The job phase repeats until JobShare of `seconds` has passed and the
    * legs until all of it has; each makes at least one pass. */
  def run(w: Workload, seed: Long, seconds: Double, trace: Boolean, work: Path,
          pages: Int): Outcome = {
    val cores = Runtime.getRuntime.availableProcessors
    val checks = new Checks
    val fixtureDir = work.resolve("fixture")
    val tmp = work.resolve("tmp")
    val (sessionS, spark0) = timed(session(cores, work))
    var spark = spark0
    val setUps = (1 to SetUps).map(_ => timed(w.prepare(spark, seed, pages, fixtureDir)))
    val fx = setUps.last._2
    val setupS = sessionS + median(setUps.map(_._1))
    Log(f"${w.name}: setup $setupS%.2f s (session $sessionS%.2f; set-ups " +
      setUps.map(u => f"${u._1}%.2f").mkString(", ") + ")")

    val listener = new SpanListener
    val layers = mutable.ArrayBuffer[Map[String, Double]]()
    val untraced, traced, prAll, pr1 = mutable.ArrayBuffer[Double]()
    var rounds = 0
    var storagePeak = 0.0
    def traceInto(rec: Recorder, on: Boolean)(body: => Map[String, Double]): Unit = {
      if (on) {
        ListenerDrain(spark.sparkContext)
        listener.reset()
        spark.sparkContext.addSparkListener(listener)
      }
      val extras = body
      if (on) {
        ListenerDrain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(listener)
        layers += SpanStats.of(rec.spans.toSeq, listener) ++ extras
      }
      storagePeak = math.max(storagePeak, rec.storagePeakMb)
    }
    def leg(span: String, into: mutable.ArrayBuffer[Double]): Unit = {
      val rec = new Recorder(spark)
      traceInto(rec, trace) {
        checks.pass(2)(pagerankLeg(spark, fx, rec, span, checks)).map { case (s, r) =>
          into += s
          rounds = r
          Log(f"$span leg $s%.2f s")
          Map(s"$span.rounds" -> r.toDouble)
        }.getOrElse(Map.empty)
      }
    }

    val t0 = System.nanoTime()
    def at(share: Double) = t0 + (share * seconds * 1e9).toLong
    repeat(if (trace) 3 else 1, at(JobShare)) { i =>
      val rec = new Recorder(spark)
      val on = trace && i % 2 == 0 && i > 0
      traceInto(rec, on) {
        checks.pass(fx.jobChecks)(fx.job(spark, rec, checks, tmp)).map { out =>
          if (!trace || i > 0) (if (on) traced else untraced) += out.seconds
          out.extras +
            ("job.self_s" -> SpanStats.selfSeconds(out.jobMs._1, out.jobMs._2, rec.spans.toSeq))
        }.getOrElse(Map.empty)
      }
      Log(s"job pass $i: " + rec.spans.map(s => f"${s.name} ${s.seconds}%.2f").mkString(", "))
    }
    def restart(cores: Int): Unit = {
      spark.stop()
      spark = session(cores, work)
    }
    repeat(1, at(1.0)) { _ =>
      leg("algos.pagerank_ncore", prAll)
      restart(1)
      leg("algos.pagerank_1core", pr1)
      restart(cores)
      leg("algos.pagerank_ncore", prAll)
    }
    spark.stop()

    val prS = median(prAll.toSeq)
    val metrics =
      if (!trace) Map(
        "setup_s" -> setupS,
        "job_s" -> median(untraced.toSeq),
        "pagerank_edges_per_s" -> fx.graph.size.toDouble * rounds / prS,
        "pagerank_rounds" -> rounds.toDouble,
        "scaling_eff" -> median(pr1.toSeq) / prS / cores,
        "storage_peak_mb" -> storagePeak)
      else {
        val keys = layers.flatMap(_.keys).distinct
        val m = keys.map(k => k -> median(layers.flatMap(_.get(k)).toSeq)).toMap
        def get(k: String) = m.getOrElse(k, 0.0)
        def ratio(a: Double, b: Double) = if (b > 0) a / b else 0.0
        m ++ Map(
          "algos.pagerank_ncore.s_per_round" ->
            ratio(get("algos.pagerank_ncore.s"), get("algos.pagerank_ncore.rounds")),
          "algos.pagerank_ncore.jobs_per_round" ->
            ratio(get("algos.pagerank_ncore.jobs"), get("algos.pagerank_ncore.rounds")),
          "algos.cc.s_per_round" -> ratio(get("algos.cc.s"), get("algos.cc.rounds")),
          "algos.lp.s_per_round" -> ratio(get("algos.lp.s"), get("algos.lp.rounds")),
          "core.mxm_masked.useful_ratio" ->
            ratio(get("core.mxm_masked.rows"), get("core.mxm_masked.shuffle_records")),
          "ref.pagerank_s" -> fx.refPagerankS,
          "trace.overhead" -> ratio(median(traced.toSeq), median(untraced.toSeq)),
          "failed_frac" -> ratio(checks.failed.toDouble, checks.attempted.toDouble))
      }
    val units = if (trace) Metrics.perLayer else Metrics.endToEnd
    Outcome(checks.attempted, checks.failed,
      units.map { case (k, u) => (k, metrics.getOrElse(k, 0.0), u) })
  }
}

/** Usage: linkbench.Main --workload <name> --seed <n> --seconds <s>
  *   --trace <0|1> --work <dir> --out <file> */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    def opt(k: String) = opts.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val workload = Workloads.all.find(_.name == opt("workload")).getOrElse(
      throw new IllegalArgumentException(s"unknown workload ${opt("workload")}"))
    val work = Paths.get(opt("work")).toAbsolutePath
    // Spark's non-daemon threads would keep a failed run's JVM alive
    try {
      val outcome = Runner.run(workload, opt("seed").toLong, opt("seconds").toDouble,
        opt("trace") == "1", work, Runner.Pages)
      Files.writeString(Paths.get(opt("out")), outcome.json + "\n")
    } catch {
      case e: Throwable => e.printStackTrace(); sys.exit(1)
    }
    sys.exit(0)
  }
}
