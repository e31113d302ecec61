package perfbench

import graft.lake.Upsert
import graft.pipeline.{Medallion, Runner}
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import java.io.File
import scala.collection.mutable.ArrayBuffer

/** `medallion`: replays the generated delivery batches, in order, through
  * `Runner.runManaged` into a fresh lake per pass. One op is one batch
  * (read through `Tables.events`, then bronze, silver and the gated gold).
  */
final class MedallionWorkload(spark: SparkSession, data: String, work: String,
                              tracer: Tracer) extends Workload {
  private val dirs: Seq[String] =
    new File(s"$data/medallion").listFiles().filter(_.isDirectory)
      .map(_.getPath).sorted.toSeq
  private def delivery(dir: String): DataFrame = Tables.events(spark, dir)

  private val landedRows = dirs.map(d => spark.read.parquet(d).count()).sum
  private val landedBytes = dirs.flatMap(d => new File(d).listFiles())
    .filter(_.getName.endsWith(".parquet")).map(_.length()).sum
  private val problems = ArrayBuffer.empty[String]

  def unitsPerPass: Double = landedRows.toDouble
  /** Two passes of ~10 s fit 25 s only just; a run that got one would
    * read slow, since the first timed pass still runs ~10% slower.
    */
  override def minPasses: Int = 2
  def mismatches: Seq[String] = problems.toSeq

  /** One whole untimed replay: the JIT is still warming through the first
    * pass, and graft's long-lived deployment never pays that per batch.
    * The expected outputs are computed here too, so that every pass, the
    * first included, takes as long as the others and the loop's estimate
    * of whether another pass fits is the same in every run.
    */
  def prepare(): Unit = {
    dirs.foreach(d => Runner.runManaged(spark, delivery(d), s"$work/warm"))
    Dirs.delete(s"$work/warm")
    expected
  }

  def pass(i: Int): Seq[Op] = {
    val base = s"$work/pass$i"
    val ops = dirs.map { d =>
      val c0 = tracer.counts()
      val t0 = System.nanoTime()
      val m = tracer.span("pipeline", "Runner.runManaged") {
        val events = tracer.span("sources", "Tables.events")(delivery(d))
        val r0 = System.nanoTime()
        val m = Runner.runManaged(spark, events, base)
        // stage reports carry durations; stages run back to back
        m.stages.foldLeft(r0) { (s, st) =>
          val layer = if (st.stage == "gold") "pipeline" else "lake"
          tracer.record(layer, s"stage.${st.stage}", s, s + st.durationMs * 1000000L)
          s + st.durationMs * 1000000L
        }
        m
      }
      val secs = (System.nanoTime() - t0) / 1e9
      val c1 = tracer.counts()
      val ok = m.abortedAt.isEmpty && m.qualityFailures.isEmpty
      if (!ok) problems += s"medallion pass $i ${new File(d).getName}: " +
        s"aborted at ${m.abortedAt.getOrElse("-")}, gate ${m.qualityFailures.mkString(";")}"
      Op("batch", secs, ok, m.stages.flatMap(st => Seq(
        s"${st.stage}_s" -> st.durationMs / 1e3,
        "retries" -> (st.attempts - 1).toDouble)).groupMapReduce(_._1)(_._2)(_ + _) ++
        Seq("records_written", "bytes_written").map(k => k -> (c1(k) - c0(k)).toDouble))
    }
    check(base, i)
    Dirs.delete(base)
    ops
  }

  // Expected outputs from all deliveries in one batch, computed once.
  private lazy val expected: (Set[Row], Long, Long) = {
    val all = dirs.map(delivery).reduce(_.unionByName(_))
    val gold = Medallion.salesMinute(
      Upsert.latestWins(all, Seq("event_id"), Seq("event_ts_us", "value")))
    (gold.collect().toSet,
      all.select("event_id", "event_ts_us", "value").distinct().count(),
      all.select("event_id").distinct().count())
  }

  private def check(base: String, i: Int): Unit = {
    val (gold, bronzeRows, silverRows) = expected
    val got = spark.read.parquet(s"$base/gold/fct_sales_minute")
      .select("minute_bucket_us", "gmv", "paid_orders").collect().toSet
    if (got != gold)
      problems += s"medallion pass $i: gold differs from the one-batch recompute " +
        s"(${(got -- gold).size} unexpected, ${(gold -- got).size} missing rows)"
    val b = spark.read.parquet(s"$base/bronze/events_raw").count()
    if (b != bronzeRows)
      problems += s"medallion pass $i: bronze has $b rows, expected $bronzeRows"
    val s = spark.read.parquet(s"$base/silver/events_clean").count()
    if (s != silverRows)
      problems += s"medallion pass $i: silver has $s rows, expected $silverRows"
  }

  def layerMetrics(passes: Seq[Seq[Op]]): Map[String, Double] = {
    val ops = passes.flatten
    def stage(n: String) = Stats.median(ops.flatMap(_.detail.get(s"${n}_s")))
    def perPass(k: String) = passes.map(_.flatMap(_.detail.get(k)).sum)
    // The first batch creates the tables and merges into nothing, so the
    // growth ratio starts from the second: last quarter / first quarter
    // of the batches that merge into an existing table.
    val growth = passes.map { ps =>
      val merging = ps.drop(1)
      val q = math.max(1, merging.size / 4)
      Stats.mean(merging.takeRight(q).map(_.seconds)) /
        Stats.mean(merging.take(q).map(_.seconds))
    }
    Map(
      "pipeline.bronze_s" -> stage("bronze"),
      "pipeline.silver_s" -> stage("silver"),
      "pipeline.gold_s" -> stage("gold"),
      "pipeline.retries" -> Stats.mean(perPass("retries")),
      "lake.batch_growth" -> Stats.median(growth),
      "lake.rows_written_per_row_landed" ->
        Stats.median(perPass("records_written").map(_ / landedRows)),
      "lake.bytes_written_per_byte_landed" ->
        Stats.median(perPass("bytes_written").map(_ / landedBytes)))
  }
}
