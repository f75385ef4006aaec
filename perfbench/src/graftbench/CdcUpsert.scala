package graftbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener,
  StreamingQueryProgress}

import graft.{GraftApp, GraftConfigLoader}
import graft.sources.DeltaLite

/** `cdc_upsert_delta`: the streaming `dozer run` path. Landed change
  * files (one per micro-batch, rows carrying `_op`/`_seq`) go through a
  * YAML config, a dialect `SELECT … INTO` and the native Delta upsert
  * sink into a table that starts as the `orders` snapshot. The backlog
  * is drained by `Trigger.AvailableNow`, so a micro-batch's latency is
  * its processing time.
  */
object CdcUpsert {
  val RowDdl: String = "o_orderkey BIGINT, o_custkey BIGINT, " +
    "o_orderstatus STRING, o_totalprice DOUBLE, o_orderdate DATE, " +
    "o_orderpriority STRING, _op STRING, _seq BIGINT"

  def yaml(landing: String, table: String, ckpt: String): String =
    s"""streaming: true
       |sources:
       |  - name: order_changes
       |    path: "$landing"
       |    format: parquet
       |    schema: "$RowDdl"
       |    options:
       |      maxFilesPerTrigger: "1"
       |sql: |
       |  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
       |         o_orderdate, o_orderpriority, _op, _seq
       |  INTO orders_cdc FROM order_changes
       |sinks:
       |  - table: orders_cdc
       |    path: "$table"
       |    mode: upsert
       |    format: delta
       |    keys: [o_orderkey]
       |    checkpoint: "$ckpt"
       |""".stripMargin

  /** Progress events of the streaming queries of one session. */
  final class Progress extends StreamingQueryListener {
    val events = new LinkedBlockingQueue[StreamingQueryProgress]
    /** Highest batch id taken off the queue so far. */
    var lastSeen: Long = -1L
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      events.put(e.progress)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()

    /** Next progress that read input, waiting at most `timeoutS`. */
    def nextData(timeoutS: Double): StreamingQueryProgress = {
      val deadline = Clock.now + (timeoutS * 1e9).toLong
      var p: StreamingQueryProgress = null
      while (p == null) {
        val left = deadline - Clock.now
        require(left > 0, s"no micro-batch completed within $timeoutS s")
        val e = events.poll(left, TimeUnit.NANOSECONDS)
        if (e != null) lastSeen = e.batchId
        if (e != null && e.numInputRows > 0) p = e
      }
      p
    }
  }

  /** A started pipeline: its query and its progress listener. */
  final case class Pipeline(query: StreamingQuery, progress: Progress)

  def start(spark: SparkSession, landing: String, table: String,
      ckpt: String, spans: Option[Spans]): Pipeline = {
    val progress = new Progress
    spark.streams.addListener(progress)
    def build() = GraftApp.runStreaming(spark,
      GraftConfigLoader.fromYaml(yaml(landing, table, ckpt)))
    val qs = spans.fold(build())(_("app.build")(build()))
    require(qs.size == 1, s"expected one streaming query, got ${qs.size}")
    Pipeline(qs.head, progress)
  }

  /** Waits for the query to drain its backlog; returns every progress
    * event that read input, in batch order.
    */
  def drain(p: Pipeline): Seq[StreamingQueryProgress] = {
    p.query.awaitTermination()
    p.query.exception.foreach(e => throw e)
    val last = Option(p.query.lastProgress).map(_.batchId).getOrElse(-1L)
    val out = Vector.newBuilder[StreamingQueryProgress]
    while (p.progress.lastSeen < last) {
      val e = p.progress.events.poll(30, TimeUnit.SECONDS)
      require(e != null, "progress events stopped before the last batch")
      p.progress.lastSeen = e.batchId
      if (e.numInputRows > 0) out += e
    }
    out.result()
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val walk = Files.walk(p)
      try walk.iterator.asScala.toSeq.reverse.foreach(Files.delete)
      finally walk.close()
    }

  def copyTree(from: Path, to: Path): Unit = {
    val walk = Files.walk(from)
    try walk.iterator.asScala.foreach { src =>
      val dst = to.resolve(from.relativize(src).toString)
      if (Files.isDirectory(src)) Files.createDirectories(dst)
      else Files.copy(src, dst, StandardCopyOption.COPY_ATTRIBUTES)
    } finally walk.close()
  }

  /** Writes the starting table — the `orders` snapshot in 16 key-range
    * files — with the engine's Delta writer, once per checkout (it is
    * the same for every seed). Returns the seconds it took.
    */
  def ensureSnapshot(spark: SparkSession, spec: Spec): Double = {
    val table = Paths.get(spec.input("snapshot"))
    if (Files.exists(table)) return 0.0
    val tmp = Paths.get(table.toString + ".tmp")
    deleteTree(tmp)
    val (_, s) = Clock.timed(DeltaLite.write(spark,
      spark.read.parquet(spec.input("orders"))
        .repartitionByRange(16, col("o_orderkey")),
      tmp.toString, "overwrite"))
    Files.move(tmp, table)
    s
  }

  /** The fixture run, once per build: writes the starting table and
    * drains a short backlog into a copy of it, so that the JVM's
    * class-data archive, written as this run exits, holds the classes
    * of the pipeline.
    */
  def fixture(spec: Spec, rec: Record): Unit = {
    val work = Paths.get(spec.work)
    val (_, s) = Clock.timed {
      val spark = Session.create(spec.cores, None)
      ensureSnapshot(spark, spec)
      val table = work.resolve("table")
      copyTree(Paths.get(spec.input("snapshot")), table)
      drain(start(spark, spec.input("landing"), table.toString,
        work.resolve("ckpt").toString, None))
      Session.stop()
    }
    rec("fixture_s") = s
  }

  /** Traced run only: log replay times of the table the run wrote, and
    * the files each seeded point read scans against the files live.
    */
  private def readPath(spark: SparkSession, spec: Spec, rec: Record,
      spans: Spans, table: String): Unit = {
    rec("snapshot_ms") = (0 until spec.int("prefix_reps")).map { _ =>
      spans("sources.snapshot")(Clock.timed(DeltaLite.snapshot(spark, table))._2 * 1e3)
    }
    val live = DeltaLite.snapshot(spark, table).files.size
    rec("point_files") = spec.node.get("point_reads").elements.asScala.toVector.map { r =>
      val read = DeltaLite.read(spark, table, where = Some(
        col("o_orderkey").between(r.get(0).asLong, r.get(1).asLong)))
      Map("read" -> read.inputFiles.length, "live" -> live)
    }
  }

  private def batchRow(p: StreamingQueryProgress): Map[String, Any] = Map(
    "batch" -> p.batchId, "rows" -> p.numInputRows,
    "start_ms" -> java.time.Instant.parse(p.timestamp).toEpochMilli,
    "duration_ms" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap)

  def run(spec: Spec, rec: Record, tracer: Option[Tracer]): Unit = {
    val work = Paths.get(spec.work)
    val spans = tracer.map(_.spans)
    val base = Paths.get(spec.input("snapshot"))
    val setups = Vector.newBuilder[Double]
    var fixtureS = 0.0

    /** One set-up: session, config build, first micro-batch. Returns
      * the pipeline still running when `keep`, else drained and closed.
      * The traced run attaches its listeners to every session.
      */
    def setUp(rep: Int, landing: String, keep: Boolean): Pipeline = {
      val t0 = Clock.now
      val spark = spans.fold(Session.create(spec.cores, tracer))(
        _("session.create")(Session.create(spec.cores, tracer)))
      val fixture = ensureSnapshot(spark, spec)
      fixtureS += fixture
      val table = work.resolve(s"table_$rep")
      val (_, copyS) = Clock.timed(copyTree(base, table))
      val excluded = fixture + copyS
      val p = start(spark, landing, table.toString,
        work.resolve(s"ckpt_$rep").toString, spans)
      spans.fold(p.progress.nextData(600))(_("first_batch")(p.progress.nextData(600)))
      setups += Clock.secs(t0, Clock.now) - excluded
      if (!keep) { drain(p); Session.stop() }
      p
    }

    (0 until spec.setupReps - 1).foreach(r =>
      setUp(r, spec.input("landing_warm"), keep = false))
    val p = setUp(spec.setupReps - 1, spec.input("landing"), keep = true)
    rec("setup_s") = setups.result()
    rec("fixture_s") = fixtureS
    val batches = Window.labelled(rec, "measured.window")(drain(p))
    val table = work.resolve(s"table_${spec.setupReps - 1}").toString
    tracer.foreach { t =>
      // micro-batches from the first measured one on
      rec("measured.exec") = t.exec.measured(p.query.sparkSession)
      readPath(p.query.sparkSession, spec, rec, t.spans, table)
    }
    rec("measured.batches") = batches.map(batchRow)
    rec("measured.table") = table
  }
}
