package graftbench

import scala.collection.mutable

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** JVM side of the benchmark. `run.py` generates the inputs, writes a
  * spec file naming them, and starts this program directly (no build
  * tool in between, so nothing prefixes its output). The program runs
  * one workload against the engine's public API and writes the raw
  * measurements to the record file; `run.py` turns them into metrics
  * and checks the outputs against its reference computation.
  *
  * Usage: `graftbench.Main <spec.json> <record.json>`
  */
object Main {
  val json: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def main(args: Array[String]): Unit = {
    require(args.length == 2, "usage: graftbench.Main <spec.json> <record.json>")
    val spec = Spec(json.readTree(new java.io.File(args(0))))
    val rec = new Record
    val tracer = if (spec.trace)
      Some(new Tracer(new Spans(spec.runId), spec.int("first_measured_batch")))
    else None
    try {
      spec.workload match {
        case "cdc_upsert_delta" => CdcUpsert.run(spec, rec, tracer)
        case "pg_backfill_sql" => PgBackfill.run(spec, rec, tracer)
        case "fixture" => CdcUpsert.fixture(spec, rec)
        case w => throw new IllegalArgumentException(s"unknown workload '$w'")
      }
      rec("peak_rss_mb") = Proc.peakRssMb()
      tracer.foreach(t => rec("spans") = t.spans.toRows)
      json.writeValue(new java.io.File(args(1)), rec.toMap)
    } finally Session.stop()
  }
}

/** The spec `run.py` writes: workload, seed, run length, cores and the
  * paths of the generated inputs and scratch directories.
  */
final case class Spec(node: JsonNode) {
  def str(k: String): String = node.get(k).asText
  def int(k: String): Int = node.get(k).asInt
  def workload: String = str("workload")
  def runId: String = str("run_id")
  def seconds: Double = node.get("seconds").asDouble
  def trace: Boolean = node.get("trace").asBoolean
  def cores: Int = int("cores")
  def setupReps: Int = int("setup_reps")
  def work: String = str("work_dir")
  def input(k: String): String = node.get("inputs").get(k).asText
}

/** Raw measurements of one run, written as JSON. */
final class Record {
  private val m = mutable.LinkedHashMap.empty[String, Any]
  def update(k: String, v: Any): Unit = m(k) = v
  def toMap: Map[String, Any] = m.toMap
}

/** The session the engine ships: `GraftSession.create` on
  * `local[cores]` with `cores` shuffle partitions. Set-up is repeated
  * a few times per run, each on a fresh session.
  */
object Session {
  @volatile private var current: Option[SparkSession] = None

  def create(cores: Int, tracer: Option[Tracer]): SparkSession = {
    val spark = GraftSession.create(s"local[$cores]", cores)
    tracer.foreach(_.attach(spark))
    current = Some(spark)
    spark
  }

  def stop(): Unit = {
    current.foreach(_.stop())
    current = None
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }
}

/** Measurement window helpers shared by the workloads. */
object Window {
  /** Runs `body` between two `/proc` readings and records the
    * co-tenancy label of the window under `key`.
    */
  def labelled[T](rec: Record, key: String)(body: => T): T = {
    val a = Proc.cpu()
    val load0 = Proc.loadavg1()
    val r = body
    val b = Proc.cpu()
    val (other, steal) = Proc.coTenancy(a, b)
    rec(key) = Map("other_busy" -> other, "steal" -> steal,
      "loadavg1" -> math.max(load0, Proc.loadavg1()))
    r
  }
}
