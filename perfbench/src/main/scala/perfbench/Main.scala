package perfbench

import graft.GraftSession
import org.apache.spark.sql.SparkSession

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** One timed call into graft: a pipeline batch, a DML/read op or a query,
  * with what the traced run learned about it in `detail`.
  */
final case class Op(name: String, seconds: Double, ok: Boolean,
                    detail: Map[String, Double] = Map.empty)

/** A workload is a fixed unit of work (a pass) that the harness repeats in
  * a closed loop: one driver thread, each call waiting for the previous.
  */
trait Workload {
  /** Warm-up and in-JVM fixtures, before the first timed call. */
  def prepare(): Unit

  /** Runs pass `i` (unique within a run) and its output checks; only the
    * returned ops are timed.
    */
  def pass(i: Int): Seq[Op]

  /** Output-check mismatches seen so far; any one fails the run. */
  def mismatches: Seq[String]

  /** Observed outputs kept in the raw result, by name (registry: each
    * query's hash, the values to re-record from).
    */
  def outputs: Map[String, String] = Map.empty

  /** Units of work (events, ops or queries) done by one pass. */
  def unitsPerPass: Double

  /** Passes an untraced run makes at least, whatever `--seconds` allow. */
  def minPasses: Int = 1

  /** Per-layer metrics over the passes run with tracing on. */
  def layerMetrics(passes: Seq[Seq[Op]]): Map[String, Double]
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
  def mean(xs: Seq[Double]): Double = xs.sum / xs.size
}

object Dirs {
  def delete(path: String): Unit = {
    val p = Paths.get(path)
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(f => Files.delete(f))
      finally s.close()
    }
  }
}

/** Runs one workload and writes its result for `run.py` to print.
  *
  * Arguments (all `--key value`): workload, seconds, trace (0|1), data
  * (generated inputs), work (scratch for tables graft writes), out
  * (result JSON).
  */
object Main {
  private def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1e3

  private def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)

  private var passesRun = 0
  private def runPass(w: Workload): Seq[Op] = {
    passesRun += 1
    w.pass(passesRun - 1)
  }

  /** Traced runs alternate untraced and traced passes, at least this many
    * of each, so the tracing overhead is a median over paired passes.
    */
  private val TracedPairs = 3

  /** Repeat `round` until `seconds` of wall time are used and at least
    * `min` rounds ran, starting a round only while it is expected to
    * finish inside the budget.
    */
  private def loop(seconds: Double, min: Int)(round: => Unit): Unit = {
    val t0 = System.nanoTime()
    val took = ArrayBuffer.empty[Double]
    def elapsed = (System.nanoTime() - t0) / 1e9
    do {
      val r0 = System.nanoTime()
      round
      took += (System.nanoTime() - r0) / 1e9
    } while (took.size < min || elapsed + Stats.median(took.toSeq) <= seconds)
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val spark = GraftSession.local("perfbench")
    val sessionMs = System.currentTimeMillis()
    val tracer = new Tracer(spark)
    val w: Workload = opt("workload") match {
      case "medallion" =>
        new MedallionWorkload(spark, opt("data"), opt("work"), tracer)
      case "registry" =>
        new RegistryWorkload(spark, opt("data"), tracer)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val fixturesMs = System.currentTimeMillis()
    w.prepare()
    val readyMs = System.currentTimeMillis()

    val plain = ArrayBuffer.empty[Seq[Op]]
    val tracedPasses = ArrayBuffer.empty[Seq[Op]]
    def passSeconds(p: Seq[Op]): Double = p.map(_.seconds).sum
    val metrics: Map[String, Double] =
      if (!traced) {
        loop(seconds, w.minPasses)(plain += runPass(w))
        val ops = plain.flatten.toSeq
        Map(
          "wall_s" -> Stats.median(plain.map(passSeconds).toSeq),
          "latency_p50_s" -> Stats.median(ops.map(_.seconds)),
          "throughput" -> plain.size * w.unitsPerPass / ops.map(_.seconds).sum,
          "peak_rss_mb" -> peakRssMb())
      } else {
        var counts = Map.empty[String, Long].withDefaultValue(0L)
        var gcS = 0.0
        var wall = 0.0
        def tracedPass(): Unit = {
          tracer.enable()
          val c0 = tracer.counts()
          val gc0 = gcSeconds()
          val t0 = System.nanoTime()
          tracedPasses += runPass(w)
          wall += (System.nanoTime() - t0) / 1e9
          gcS += gcSeconds() - gc0
          counts = tracer.counts().foldLeft(counts) { case (m, (k, v)) =>
            m.updated(k, m(k) + v - c0(k))
          }
          tracer.disable()
        }
        // which pass of a pair goes first alternates, so a drift across
        // the run does not read as tracing cost
        loop(seconds, TracedPairs) {
          if (tracedPasses.size % 2 == 0) { plain += runPass(w); tracedPass() }
          else { tracedPass(); plain += runPass(w) }
        }
        val n = tracedPasses.size.toDouble
        def per(k: String) = counts(k) / n
        val overhead = plain.zip(tracedPasses).map { case (u, t) =>
          passSeconds(t) - passSeconds(u)
        }
        w.layerMetrics(tracedPasses.toSeq) ++
          tracer.selfSeconds.map { case (layer, s) => s"$layer.self_s" -> s / n } ++
          Map(
            "trace.overhead_s" -> Stats.median(overhead.toSeq),
            "run.failed_ratio" ->
              tracedPasses.flatten.count(!_.ok).toDouble / tracedPasses.flatten.size,
            "spark.jobs" -> per("jobs"),
            "spark.stages" -> per("stages"),
            "spark.tasks" -> per("tasks"),
            "spark.shuffle_write_bytes" -> per("shuffle_write_bytes"),
            "spark.spill_bytes" -> per("spill_bytes"),
            "spark.gc_s" -> gcS / n,
            "spark.cpu_util" -> counts("cpu_ns") / 1e9 /
              (wall * spark.sparkContext.defaultParallelism))
      }
    val ops = (plain ++ tracedPasses).flatten
    val result = Json.obj(Seq(
      "session_ms" -> sessionMs,
      "fixtures_ms" -> fixturesMs,
      "ready_ms" -> readyMs,
      "attempted" -> ops.size,
      "failed" -> ops.count(!_.ok),
      "pass_s" -> plain.map(passSeconds).toSeq,
      "traced_pass_s" -> tracedPasses.map(passSeconds).toSeq,
      "mismatches" -> w.mismatches.take(20),
      "outputs" -> w.outputs,
      "metrics" -> metrics))
    Files.writeString(Paths.get(opt("out")), result)
    if (traced)
      Files.writeString(Paths.get(opt("out") + ".spans.json"), tracer.toJson)
    spark.stop()
  }
}
