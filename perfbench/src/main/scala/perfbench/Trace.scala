package perfbench

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

import scala.collection.mutable.ArrayBuffer

/** Spark work counted by a listener the benchmark registers itself. All
  * callbacks run on the single listener-bus thread; the driver thread
  * reads the fields only after [[PerfbenchBus.drain]].
  */
final class SparkCounters extends SparkListener {
  @volatile private var c = Map.empty[String, Long].withDefaultValue(0L)
  private def add(kv: (String, Long)*): Unit =
    c = kv.foldLeft(c) { case (m, (k, v)) => m.updated(k, m(k) + v) }

  override def onJobStart(e: SparkListenerJobStart): Unit = add("jobs" -> 1L)
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    add("stages" -> 1L)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m == null) add("tasks" -> 1L)
    else add("tasks" -> 1L,
      "cpu_ns" -> m.executorCpuTime,
      "shuffle_write_bytes" -> m.shuffleWriteMetrics.bytesWritten,
      "spill_bytes" -> (m.memoryBytesSpilled + m.diskBytesSpilled),
      "records_written" -> m.outputMetrics.recordsWritten,
      "bytes_written" -> m.outputMetrics.bytesWritten)
  }
  def snapshot: Map[String, Long] = c
}

/** In-memory spans around each call the benchmark makes into a graft
  * layer (name, layer, start, end, parent), plus the listener counters.
  * Disabled, it records nothing and has no listener registered, so
  * untraced passes measure graft alone.
  */
final class Tracer(spark: SparkSession) {
  final case class Span(id: Int, parent: Int, layer: String, name: String,
                        startNs: Long, endNs: Long)

  private val spans = ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var nextId = 0
  private var counters: Option[SparkCounters] = None

  def enabled: Boolean = counters.isDefined

  def enable(): Unit = if (counters.isEmpty) {
    val c = new SparkCounters
    spark.sparkContext.addSparkListener(c)
    counters = Some(c)
  }

  def disable(): Unit = counters.foreach { c =>
    spark.sparkContext.removeSparkListener(c)
    counters = None
  }

  /** Counters since the last [[enable]], after every event so far has
    * been delivered.
    */
  def counts(): Map[String, Long] = counters match {
    case Some(c) =>
      PerfbenchBus.drain(spark.sparkContext)
      c.snapshot
    case None => Map.empty[String, Long].withDefaultValue(0L)
  }

  def span[A](layer: String, name: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        stack = stack.tail
        spans += Span(id, parent, layer, name, t0, System.nanoTime())
      }
    }

  /** A span known only after the fact (a stage report inside a call),
    * recorded under the innermost open span.
    */
  def record(layer: String, name: String, startNs: Long, endNs: Long): Unit =
    if (enabled) {
      spans += Span(nextId, stack.headOption.getOrElse(-1), layer, name,
        startNs, endNs)
      nextId += 1
    }

  /** Per-layer self time: each span's duration minus the part of it its
    * children cover.
    */
  def selfSeconds: Map[String, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.toSeq.map { s =>
      val covered = kids.getOrElse(s.id, Nil).map(k =>
        math.min(k.endNs, s.endNs) - math.max(k.startNs, s.startNs))
        .filter(_ > 0).sum
      s.layer -> (s.endNs - s.startNs - covered) / 1e9
    }.groupMapReduce(_._1)(_._2)(_ + _)
  }

  def toJson: String = spans.map { s =>
    Json.obj(Seq("id" -> s.id, "parent" -> s.parent, "layer" -> s.layer,
      "name" -> s.name, "start_ns" -> s.startNs, "end_ns" -> s.endNs))
  }.mkString("[", ",\n", "]")
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def value(v: Any): String = v match {
    case s: String => str(s)
    case d: Double if d.isNaN || d.isInfinite => "null"
    case d: Double => d.toString
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case xs: Seq[_] => xs.map(value).mkString("[", ",", "]")
    case null => "null"
    case other => str(other.toString)
  }

  def obj(kv: Seq[(String, Any)]): String =
    kv.map { case (k, v) => s"${str(k)}: ${value(v)}" }.mkString("{", ", ", "}")
}
