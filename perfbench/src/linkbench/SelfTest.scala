package linkbench

import java.nio.file.{Path, Paths}
import java.util.Properties
import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.scheduler.{JobSucceeded, SparkListenerJobEnd, SparkListenerJobStart}
import scala.jdk.CollectionConverters._

/** The benchmark's own test: the span arithmetic on synthetic job events,
  * then every workload at toy size, untraced and traced, checked for
  * correct outputs and for exactly the metrics BENCHMARK.json declares.
  *
  * Usage: linkbench.SelfTest --work <dir> --benchmark <BENCHMARK.json> */
object SelfTest {
  private var failures = 0

  private def expect(what: String)(ok: => Boolean): Unit = {
    val good = try ok catch { case e: Exception => Log(s"$what threw $e"); false }
    if (!good) { failures += 1; Log(s"selftest FAILED: $what") }
  }

  private def close(a: Double, b: Double) = math.abs(a - b) < 1e-9

  def spanArithmetic(): Unit = {
    expect("disjoint intervals add")(Intervals.covered(Seq((0L, 10L), (20L, 30L)), 0, 100) == 20)
    expect("overlapping intervals count once")(
      Intervals.covered(Seq((0L, 10L), (5L, 15L), (12L, 14L)), 0, 100) == 15)
    expect("intervals clip to the span")(Intervals.covered(Seq((0L, 10L), (5L, 15L)), 3, 8) == 5)
    expect("touching intervals join")(Intervals.covered(Seq((4L, 8L), (0L, 4L)), 0, 10) == 8)
    expect("intervals outside the span")(Intervals.covered(Seq((20L, 30L)), 0, 10) == 0)
    expect("no intervals")(Intervals.covered(Seq.empty, 0, 10) == 0)

    // span a: 1000..1500 ms, two overlapping jobs 1100..1300 and 1200..1400;
    // span b: 1500..2000 ms, one job 1600..1700
    val l = new SpanListener
    def group(g: String) = { val p = new Properties; p.setProperty("spark.jobGroup.id", g); p }
    l.onJobStart(SparkListenerJobStart(1, 1100L, Seq.empty, group("a")))
    l.onJobStart(SparkListenerJobStart(2, 1200L, Seq.empty, group("a")))
    l.onJobEnd(SparkListenerJobEnd(1, 1300L, JobSucceeded))
    l.onJobEnd(SparkListenerJobEnd(2, 1400L, JobSucceeded))
    l.onJobStart(SparkListenerJobStart(3, 1600L, Seq.empty, group("b")))
    l.onJobEnd(SparkListenerJobEnd(3, 1700L, JobSucceeded))
    val spans = Seq(Span("a", 1000L, 1500L, 0.5), Span("b", 1500L, 2000L, 0.5))
    val st = SpanStats.of(spans, l)
    expect("jobs attributed by job group")(st("a.jobs") == 2 && st("b.jobs") == 1)
    expect("driver gap of a span with overlapping jobs")(close(st("a.driver_gap_s"), 0.2))
    expect("driver gap of a span with one job")(close(st("b.driver_gap_s"), 0.4))
    expect("self time of a parent with touching children")(
      close(SpanStats.selfSeconds(900L, 2100L, spans), 0.2))
    expect("self time of a parent with overlapping children")(close(SpanStats.selfSeconds(
      1000L, 2000L, Seq(Span("x", 1000L, 1500L, 0.5), Span("y", 1400L, 1900L, 0.5))), 0.1))
  }

  def toyRuns(work: Path, declared: Map[String, Seq[String]]): Unit =
    for (w <- Workloads.all; trace <- Seq(false, true)) {
      val what = s"${w.name} trace=$trace"
      val o = Runner.run(w, seed = 7, seconds = 0, trace, work.resolve(w.name), pages = 300)
      val m = o.metrics.map { case (k, v, _) => k -> v }.toMap
      expect(s"$what: outputs correct")(o.correct)
      expect(s"$what: declared metrics")(
        o.metrics.map(_._1) == declared(if (trace) "per_layer" else "end_to_end"))
      expect(s"$what: values finite")(m.values.forall(v => !v.isNaN && !v.isInfinite && v >= 0))
      if (!trace) expect(s"$what: end-to-end values above 0")(m.values.forall(_ > 0))
      else {
        expect(s"$what: job self time")(m("job.self_s") >= 0 && m("job.self_s") < 1)
        SpanStats.full.filter(s => m(s"$s.s") > 0).foreach { s =>
          expect(s"$what: $s driver gap within its span")(
            m(s"$s.driver_gap_s") >= 0 && m(s"$s.driver_gap_s") <= m(s"$s.s") + 1e-3)
          expect(s"$what: $s ran jobs")(m(s"$s.jobs") >= 1)
        }
      }
    }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    try {
      val spec = new ObjectMapper().readTree(Paths.get(opts("benchmark")).toFile)
      val declared = Seq("end_to_end", "per_layer").map { k =>
        k -> spec.get(k).elements.asScala.map(_.get("name").asText).toSeq
      }.toMap
      spanArithmetic()
      toyRuns(Paths.get(opts("work")).toAbsolutePath, declared)
    } catch {
      case e: Throwable => e.printStackTrace(); failures += 1
    }
    Log(if (failures == 0) "selftest passed" else s"selftest: $failures failures")
    sys.exit(if (failures == 0) 0 else 1)
  }
}
