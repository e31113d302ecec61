package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import graft.SparkEntry
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._

import java.io.File
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** `registry`: a fixed set of `SparkEntry.queries`, in the seeded order
  * `run.py` wrote, each forced the way `graft.Bench` forces its queries
  * (xxhash64 of every column, folded with bit_xor) and its hash checked
  * against the value recorded from an oracle-checked run on the same
  * generated tables.
  */
final class RegistryWorkload(spark: SparkSession, data: String, tracer: Tracer)
    extends Workload {
  private case class Query(name: String, module: String, hash: String)

  private val queries: Seq[Query] =
    new ObjectMapper().readTree(new File(s"$data/registry/order.json"))
      .elements().asScala.map(n => Query(n.get("name").asText,
        n.get("module").asText, n.get("hash").asText)).toSeq
  private val sf = s"$data/registry/sf"
  private val problems = ArrayBuffer.empty[String]
  private val seen = mutable.LinkedHashMap.empty[String, String]

  def mismatches: Seq[String] = problems.toSeq
  override def outputs: Map[String, String] = seen.toMap
  def unitsPerPass: Double = queries.size.toDouble

  private def force(df: DataFrame): (String, QueryExecution) = {
    val hashed = df.select(xxhash64(struct(df.columns.map(col).toSeq: _*)).as("__h"))
      .agg(expr("bit_xor(__h)"))
    val row = hashed.head()
    (if (row.isNullAt(0)) "null" else row.getLong(0).toString, hashed.queryExecution)
  }

  /** One untimed pass over the measured tables: JIT and codegen warm up
    * through it, as they would once in graft's long-lived sessions.
    */
  def prepare(): Unit = queries.foreach { q =>
    force(SparkEntry.queries(q.name)(spark, sf))
    spark.catalog.clearCache()
  }

  def pass(i: Int): Seq[Op] = {
    val ops = queries.map { q =>
      val t0 = System.nanoTime()
      val out = try Some(tracer.span(q.module, q.name)(
        force(SparkEntry.queries(q.name)(spark, sf))))
      catch {
        case e: Exception =>
          problems += s"registry ${q.name} failed: $e"
          None
      }
      val secs = (System.nanoTime() - t0) / 1e9
      spark.catalog.clearCache()
      out match {
        case Some((hash, qe)) =>
          seen(q.name) = hash
          if (hash != q.hash)
            problems += s"registry ${q.name}: hash $hash, recorded ${q.hash}"
          Op(q.name, secs, ok = true,
            Map("planning_s" -> qe.tracker.phases.values.map(_.durationMs).sum / 1e3))
        case None => Op(q.name, secs, ok = false)
      }
    }
    ops
  }

  def layerMetrics(passes: Seq[Seq[Op]]): Map[String, Double] = {
    val ops = passes.flatten
    val module = queries.map(q => q.name -> q.module).toMap
    val perQuery = ops.groupBy(_.name).map { case (n, xs) =>
      s"query.${n}_s" -> Stats.median(xs.map(_.seconds))
    }
    val perModule = ops.groupBy(o => module(o.name)).map { case (m, xs) =>
      s"$m.query_s" -> xs.map(_.seconds).sum / passes.size
    }
    val planS = Stats.median(passes.map(_.flatMap(_.detail.get("planning_s")).sum))
    val wallS = Stats.median(passes.map(_.map(_.seconds).sum))
    perQuery ++ perModule ++ Map(
      "spark.planning_s" -> planS,
      "spark.exec_s" -> (wallS - planS))
  }
}
