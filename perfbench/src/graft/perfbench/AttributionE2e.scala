package graft.perfbench

import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{DoubleType, StringType, StructField, StructType}

/** The paper's pipeline through its file contract: three per-step
  * `Main.run` calls (journeys CSV → attribution parquet → report CSV) as
  * the primary operation, and the in-memory `--step all` path as the
  * secondary one. Both land the same three artifacts; the checks recompute
  * the report's totals from the generated events. */
object AttributionE2e extends Workload {
  val name = "attribution_e2e"
  val checks: Seq[String] = Seq("ihc_invariant", "report_reconciles")
  private val ReportSchema = StructType(
    Seq("channel_name", "date").map(StructField(_, StringType)) ++
      Seq("cost", "ihc", "ihc_revenue", "CPO", "ROAS").map(StructField(_, DoubleType)))

  def run(h: Harness): Unit = {
    val s = Sizes(h.args.scale)
    val seed = h.args.seed
    // the seed places the events and their window on the calendar; the
    // window is always their last `windowDays` days, so every seed gives
    // each journey the same days of earlier sessions and the same output size
    val first = Inputs.rng(seed, 4).nextInt(366)
    val ev = Inputs.events(seed, s, first)
    val data = h.args.work.resolve("inputs").resolve(s"attr-${h.args.scale}-$seed")
    val (start, end) = (Inputs.date(first + s.days - s.windowDays), Inputs.date(first + s.days - 1))
    val steps = h.dir("attr/steps").toString
    val all = h.dir("attr/all").toString
    def opts(out: String, step: String) = Map("data-dir" -> data.toString, "out-dir" -> out,
      "step" -> step, "start-date" -> start, "end-date" -> end)

    h.generate { spark =>
      Inputs.once(data)(d => Inputs.write(spark, Inputs.eventRows(ev), Inputs.EventSchema,
        d.resolve("events.parquet"), 4))
    }
    // a user's set-up: a fresh session that has found the input and read
    // its schema. It takes about 0.1 s, so take the median of many
    h.setup(reps = 9)(spark => graft.Tables.events(spark, data.toString).schema)
    h.info("inputs") = s"events=${ev.size} rows, ${Inputs.bytes(data.resolve("events.parquet"))} bytes; " +
      s"window $start..$end"

    def stepsPath(cls: String): Unit =
      if (h.op(cls) {
        h.span("journeys")(graft.Main.run(h.spark, opts(steps, "build-journeys")))
        h.span("score")(graft.Main.run(h.spark, opts(steps, "score")))
        h.span("report")(graft.Main.run(h.spark, opts(steps, "report")))
      }) verify(h, steps, ev, start, end)
    def allPath(cls: String): Unit =
      if (h.op(cls)(h.span("run_all")(graft.Main.run(h.spark, opts(all, "all")))))
        verify(h, all, ev, start, end)

    // the JIT is still compiling after two passes: the first measured
    // samples then run slower than the later ones
    (0 until 3).foreach { _ =>
      stepsPath("warmup")
      allPath("warmup")
    }
    h.writeAmp = (Inputs.bytes(java.nio.file.Paths.get(steps)) + Inputs.bytes(java.nio.file.Paths.get(all))) /
      (2.0 * Inputs.bytes(data.resolve("events.parquet")))
    h.loop {
      stepsPath("primary")
      allPath("secondary")
    }
  }

  /** The attribution parquet passes the Σ ihc = 1 invariant, and the
    * report's cost / ihc / ihc-revenue totals equal the same totals
    * recomputed from the attribution rows and the generated events. */
  private def verify(h: Harness, out: String, ev: Events, start: String, end: String): Unit = {
    val spark = h.spark
    val attr = spark.read.parquet(s"$out/attribution_customer_journey")
    h.check("ihc_invariant") {
      val r = graft.ops.IhcScorer.invariantReport(attr).head()
      r.getLong(0) > 0 && r.getLong(0) == r.getLong(1)
    }
    h.check("report_reconciles") {
      var (cost, ihc, rev) = (0.0, 0.0, 0.0)
      attr.select(col("conversion_id"), col("session_id"), col("ihc")).collect().foreach { r =>
        val sid = r.getLong(1).toInt
        val d = ev.date(sid)
        if (d >= start && d <= end) {
          val x = r.getDouble(2)
          ihc += x
          if (sid % 4 != 0) cost += ev.value(sid) // Tables.sessionCosts covers 3 of 4 sessions
          rev += x * ev.value(r.getLong(0).toInt)
        }
      }
      val rep = spark.read.option("header", "true").schema(ReportSchema).csv(s"$out/channel_reporting")
        .collect()
      def close(col: Int, want: Double) = {
        val got = rep.map(_.getDouble(col)).sum
        math.abs(got - want) <= 1e-6 * math.max(1.0, math.abs(want))
      }
      ihc > 0 && close(2, cost) && close(3, ihc) && close(4, rev)
    }
  }
}
