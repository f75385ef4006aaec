package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.cdc.PgOutput
import graft.sql.GraftSqlRunner

/** `pg_backfill_sql`: a batch backfill from Postgres `pgoutput` frames
  * (encoded by the input generator). Each pass decodes the frames,
  * materializes the `lineitem` state (`PgOutput.materialize`), runs a
  * dialect 4-way join + GROUP BY through `GraftSqlRunner` and writes
  * the result to the `noop` sink. One client, passes back to back (a
  * closed loop).
  */
object PgBackfill {
  val Keys: Seq[String] = Seq("l_orderkey", "l_linenumber")
  val RowSchema: StructType = StructType.fromDDL(
    "l_orderkey BIGINT, l_linenumber INT, l_partkey BIGINT, " +
      "l_suppkey BIGINT, l_quantity DOUBLE, l_extendedprice DOUBLE, " +
      "l_discount DOUBLE, l_tax DOUBLE, l_returnflag STRING, " +
      "l_linestatus STRING")
  val Selection: PgOutput.Selection = PgOutput.Selection("lineitem")
  val Dims: Seq[String] = Seq("orders", "supplier", "nation", "part")

  val Sql: String =
    """SELECT n.n_name AS nation, p.p_brand AS brand,
      |       o.o_orderstatus AS status, COUNT(*) AS lines,
      |       SUM(l.l_quantity) AS qty,
      |       SUM(l.l_extendedprice * (1 - l.l_discount)) AS revenue
      |INTO revenue
      |FROM lineitem l
      |JOIN orders o ON l.l_orderkey = o.o_orderkey
      |JOIN supplier s ON l.l_suppkey = s.s_suppkey
      |JOIN nation n ON s.s_nationkey = n.n_nationkey
      |JOIN part p ON l.l_partkey = p.p_partkey
      |GROUP BY n.n_name, p.p_brand, o.o_orderstatus""".stripMargin

  /** The pipeline of one pass, up to the SQL result (lazy). */
  def pipeline(spark: SparkSession, spec: Spec,
      analyze: Option[Spans] = None): DataFrame = {
    val state = PgOutput.materialize(spark.read.parquet(spec.input("frames")),
      Selection, RowSchema, Keys)
    val runner = new GraftSqlRunner(spark)
    runner.registerSource("lineitem", state)
    Dims.foreach(d => runner.registerSource(d, spark.read.parquet(spec.input(d))))
    analyze.fold(runner.run(Sql))(_("sql.analyze")(runner.run(Sql)))("revenue")
  }

  def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Passes back to back until `seconds` have passed and at least
    * `minOps` passes ran; returns each pass's latency in ms.
    */
  def loop(spark: SparkSession, spec: Spec): Seq[Double] = {
    val t0 = Clock.now
    val out = Vector.newBuilder[Double]
    var n = 0
    while (n < spec.int("min_ops") || Clock.secs(t0, Clock.now) < spec.seconds) {
      val s = Clock.now
      noop(pipeline(spark, spec))
      out += Clock.ms(s, Clock.now)
      n += 1
    }
    out.result()
  }

  def run(spec: Spec, rec: Record, tracer: Option[Tracer]): Unit = {
    val spans = tracer.map(_.spans)
    val setups = Vector.newBuilder[Double]
    var spark: SparkSession = null
    for (rep <- 0 until spec.setupReps) {
      if (rep > 0) Session.stop()
      val t0 = Clock.now
      spark = spans.fold(Session.create(spec.cores, tracer))(
        _("session.create")(Session.create(spec.cores, tracer)))
      val result = pipeline(spark, spec).collect()
      setups += Clock.secs(t0, Clock.now)
      if (rep == 0) rec("result") = result.map(r =>
        Seq(r.getString(0), r.getString(1), r.getString(2), r.getLong(3),
          r.getDouble(4), r.getDouble(5))).toSeq
    }
    rec("setup_s") = setups.result()
    // untimed passes: pass times still fall for several passes after the
    // set-ups, while the JIT compiles the pipeline's hot paths
    (0 until spec.int("warmup_passes")).foreach(_ => noop(pipeline(spark, spec)))
    rec("measured.latency_ms") = Window.labelled(rec, "measured.window")(
      ExecCounters.measuring(spark)(loop(spark, spec)))
    tracer.foreach { t =>
      rec("measured.exec") = t.exec.measured(spark)
      layers(spark, spec, rec, t.spans)
    }
  }

  /** Traced run only: the prefix-cut runs that split a pass into
    * layers, with a plain pass right before each full prefix to set the
    * parts against, then one pass on `local[1]` for the scaling pair.
    * The order of the cuts rotates from rep to rep, so that no cut
    * always runs after the same one.
    */
  private def layers(spark0: SparkSession, spec: Spec, rec: Record,
      spans: Spans): Unit = {
    def frames() = spark0.read.parquet(spec.input("frames"))
    val cuts: Seq[() => Unit] = Seq(
      () => spans("prefix.registry")(PgOutput.changes(frames(), Seq(Selection))),
      () => spans("prefix.decode")(noop(PgOutput.changes(frames(), Seq(Selection)))),
      () => spans("prefix.apply")(noop(PgOutput.materialize(frames(), Selection,
        RowSchema, Keys))),
      () => {
        spans("pass")(noop(pipeline(spark0, spec)))
        spans("prefix.pass")(noop(pipeline(spark0, spec, Some(spans))))
      })
    for (rep <- 0 until spec.int("prefix_reps")) {
      val k = rep % cuts.size
      (cuts.drop(k) ++ cuts.take(k)).foreach(_())
    }
    Session.stop()
    val spark = Session.create(1, None)
    noop(pipeline(spark, spec))
    rec("one_core.latency_ms") = Seq(Clock.timed(noop(pipeline(spark, spec)))._2 * 1e3)
  }
}
