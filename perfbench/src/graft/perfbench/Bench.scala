package graft.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** Command line of the benchmark JVM (run.py passes it through). */
final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
    scale: String, work: Path)

object Args {
  def parse(argv: Array[String]): Args = {
    require(argv.length % 2 == 0, s"arguments must be --flag value pairs: ${argv.mkString(" ")}")
    val m = argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toInt, m.getOrElse("trace", "0") == "1",
      m.getOrElse("scale", "full"), Paths.get(m("work")).toAbsolutePath)
  }
}

/** A benchmark workload: one client in a closed loop. */
trait Workload {
  def name: String
  /** Checks every run must execute at least once for the result to count as correct. */
  def checks: Seq[String]
  def run(h: Harness): Unit
}

object Stats {
  /** NaN for no samples, which the result reports as a metric without a value. */
  def median(xs: Seq[Double]): Double = if (xs.isEmpty) Double.NaN else {
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }
}

/** The measuring harness shared by the workloads: session lifecycle,
  * set-up timing, the closed loop, per-operation timing and failure
  * accounting, output checks and (with `--trace 1`) the span recorder.
  *
  * Operations are timed around the engine call only; the output checks
  * run after the clock stops. In a traced run every other operation of
  * each kind runs under the listeners, so the same run also yields the
  * untraced baseline that the tracing overhead is measured against. */
final class Harness(val args: Args) {
  val tracer: Option[Tracer] = if (args.trace) Some(new Tracer) else None
  private var session: SparkSession = _
  def spark: SparkSession = session

  /** Operation classes: `primary` and `secondary` are the workload's two
    * latency classes; `other` (maintenance) only counts toward ops_per_s. */
  val samples: Map[String, mutable.ArrayBuffer[(Double, Boolean)]] =
    Seq("primary", "secondary", "other").map(_ -> mutable.ArrayBuffer.empty[(Double, Boolean)]).toMap
  val setups: mutable.ArrayBuffer[(Double, Boolean)] = mutable.ArrayBuffer.empty
  val checks: mutable.LinkedHashMap[String, (Int, Int)] = mutable.LinkedHashMap.empty
  /** Table-level and step-level counts a workload reports in the traced run. */
  val counts: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
  val info: mutable.LinkedHashMap[String, String] = mutable.LinkedHashMap.empty
  var writeAmp: Double = Double.NaN

  private val born = System.nanoTime()
  private val phases = mutable.ArrayBuffer.empty[String]
  /** Note the JVM's elapsed seconds at a phase boundary (reported in the run's info). */
  def phase(name: String): Unit = phases += f"$name@${(System.nanoTime() - born) / 1e9}%.1fs"
  def phaseLog: String = phases.mkString(" ")

  private var attempted = 0
  private val failedOps = mutable.Set.empty[Int]
  private val perKind = mutable.Map.empty[String, Int].withDefaultValue(0)
  private var traced = false
  /** True until the closed loop starts: warm-up operations are not checked. */
  private var warming = true
  private var deadline = Long.MaxValue
  // ops_per_s counts whole loop iterations only, so every seed weighs the
  // operation classes alike; an iteration cut by the deadline is left out
  private var skipped = false
  private var iterOps = 0
  private var iterMs = 0.0
  private var loopOps = 0
  private var loopMs = 0.0

  def dir(name: String): Path = {
    val p = args.work.resolve(name)
    Files.createDirectories(p)
    p
  }

  private def buildSession(): Unit =
    session = graft.GraftSession.build(s"perfbench-${args.workload}")

  def stopSession(): Unit = if (session != null) {
    session.stop()
    session = null
  }

  /** Make the run's inputs with a session, before any set-up is timed. */
  def generate(make: SparkSession => Unit): Unit = {
    if (session == null) buildSession()
    phase("session")
    make(spark)
    phase("inputs")
  }

  /** Set up `reps` times from scratch — a fresh session plus the
    * workload's starting state — and keep the last state. Each set-up
    * starts after a full collection, so a pause left over from earlier
    * work does not land in its time. A traced run sets up at least five
    * times, every other one traced, so the cold first set-up is one of
    * at least three untraced ones and does not set their median. */
  def setup[T](reps: Int)(prep: SparkSession => T): T = {
    val n = if (tracer.isDefined) reps max 5 else reps
    var state: Option[T] = None
    (0 until n).foreach { i =>
      val tr = tracer.isDefined && i % 2 == 1
      stopSession()
      System.gc()
      val t0 = System.nanoTime()
      buildSession()
      if (tr) tracer.get.attach(spark)
      state = Some(try if (tr) tracer.get.span("setup")(prep(spark)) else prep(spark)
        finally if (tr) tracer.get.detach(spark))
      setups += (((System.nanoTime() - t0) / 1e9, tr))
    }
    phase("setup")
    state.get
  }

  /** One operation of class `cls`, timed. A thrown exception counts the
    * operation as failed; its time is not a sample. Warm-up operations
    * (`cls = "warmup"`) are counted but yield no sample. Once the loop's
    * time is spent, operations of a class that has a sample are skipped
    * (not attempted): the run ends at most one operation late. Returns
    * whether the operation ran and succeeded.
    *
    * In a traced run the 1st, 3rd, ... operation of each `kind` is
    * traced; a class that mixes operations (maintenance) names each kind,
    * so that every kind that runs is traced at least once. */
  def op(cls: String, kind: String = "")(body: => Unit): Boolean = {
    if (System.nanoTime() > deadline && samples.get(cls).forall(_.nonEmpty)) {
      skipped = true
      return false
    }
    attempted += 1
    val k = if (kind.isEmpty) cls else s"$cls/$kind"
    perKind(k) += 1
    val tr = tracer.isDefined && cls != "warmup" && perKind(k) % 2 == 1
    traced = tr
    if (tr) tracer.get.attach(spark)
    val t0 = System.nanoTime()
    val ok =
      try { body; true }
      catch {
        case NonFatal(e) =>
          System.err.println(s"[perfbench] $cls operation $attempted failed: $e")
          e.printStackTrace()
          false
      }
    val ms = (System.nanoTime() - t0) / 1e6
    iterMs += ms
    if (ok) iterOps += 1
    traced = false
    if (tr) tracer.get.detach(spark)
    if (!ok) failedOps += attempted
    else if (cls != "warmup") samples(cls) += ((ms, tr))
    ok
  }

  /** A named region inside an operation; a span only when the operation is traced. */
  def span[T](name: String)(body: => T): T =
    if (traced) tracer.get.span(name)(body) else body

  /** An output check of the last operation; a false or throwing check
    * marks that operation failed. Measured operations are all checked;
    * warm-up ones are not, to keep the run short. */
  def check(name: String)(cond: => Boolean): Unit = if (!warming) {
    val ok =
      try cond
      catch {
        case NonFatal(e) =>
          System.err.println(s"[perfbench] check $name threw: $e")
          false
      }
    val (ran, bad) = checks.getOrElse(name, (0, 0))
    checks(name) = (ran + 1, bad + (if (ok) 0 else 1))
    if (!ok) {
      System.err.println(s"[perfbench] check $name failed after operation $attempted")
      failedOps += attempted
    }
  }

  /** The closed loop: call `body` until the run's seconds are spent. */
  def loop(body: => Unit): Unit = {
    phase("warmup")
    warming = false
    deadline = System.nanoTime() + args.seconds * 1000000000L
    while (System.nanoTime() < deadline) {
      skipped = false
      iterOps = 0
      iterMs = 0.0
      body
      if (!skipped) { loopOps += iterOps; loopMs += iterMs }
    }
    deadline = Long.MaxValue
    phase("loop")
  }

  def failed: Int = failedOps.size
  def attemptedOps: Int = attempted

  private def untraced(xs: Seq[(Double, Boolean)]): Seq[Double] = xs.filterNot(_._2).map(_._1)

  private def rssPeakMb: Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines().find(_.startsWith("VmHWM:"))
    line.map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
  }

  def endToEnd: Seq[(String, Double, String)] = {
    val all = samples.values.toSeq.flatMap(xs => untraced(xs.toSeq))
    val opsPerS = if (loopOps > 0) loopOps / (loopMs / 1e3) else all.size / (all.sum / 1e3)
    Seq(
      ("setup_s", Stats.median(untraced(setups.toSeq)), "s"),
      ("primary_ms_p50", Stats.median(untraced(samples("primary").toSeq)), "ms"),
      ("secondary_ms_p50", Stats.median(untraced(samples("secondary").toSeq)), "ms"),
      ("ops_per_s", opsPerS, "1/s"),
      ("rss_peak_mb", rssPeakMb, "MB"),
      ("write_amp", writeAmp, "ratio"))
  }

  def perLayer: Seq[(String, Double, String)] = {
    val tr = tracer.get
    def byName(n: String): Seq[Layers] = tr.spans.filter(_.name == n).map(tr.layers).toSeq
    def med(ls: Seq[Layers])(f: Layers => Double): Double =
      if (ls.isEmpty) 0.0 else Stats.median(ls.map(f))
    val pipeline = PerLayer.PipelineSpans.flatMap { n =>
      val ls = byName(n)
      Seq(
        (s"$n.wall_s", med(ls)(_.wallS), "s"),
        (s"$n.plan_s", med(ls)(_.planS), "s"),
        (s"$n.jobs", med(ls)(_.jobs.toDouble), "count"),
        (s"$n.tasks", med(ls)(_.tasks.toDouble), "count"),
        (s"$n.exec_cpu_s", med(ls)(_.execCpuS), "s"),
        (s"$n.gc_s", med(ls)(_.gcS), "s"),
        (s"$n.scan_mb", med(ls)(_.scanMb), "MB"),
        (s"$n.shuffle_write_mb", med(ls)(_.shuffleWriteMb), "MB"),
        (s"$n.spill_mb", med(ls)(_.spillMb), "MB"),
        (s"$n.output_mb", med(ls)(_.outputMb), "MB"),
        (s"$n.driver_gap_s", med(ls)(_.driverGapS), "s"))
    }
    val table = PerLayer.TableSpans.flatMap { n =>
      val ls = byName(n)
      Seq(
        (s"$n.wall_ms", med(ls)(_.wallS) * 1e3, "ms"),
        (s"$n.plan_ms", med(ls)(_.planS) * 1e3, "ms"),
        (s"$n.jobs", med(ls)(_.jobs.toDouble), "count"),
        (s"$n.tasks", med(ls)(_.tasks.toDouble), "count"),
        (s"$n.driver_gap_ms", med(ls)(_.driverGapS) * 1e3, "ms"),
        (s"$n.output_mb", med(ls)(_.outputMb), "MB"))
    }
    val countRows = PerLayer.Counts.map { case (n, u) => (n, counts.getOrElse(n, 0.0), u) }
    // traced minus untraced, from the same run's alternating operations
    def overhead(xs: Seq[(Double, Boolean)]): Double = {
      val (t, u) = xs.partition(_._2)
      if (t.isEmpty || u.isEmpty) 0.0 else Stats.median(t.map(_._1)) - Stats.median(u.map(_._1))
    }
    pipeline ++ table ++ countRows ++ Seq(
      ("samples.primary", samples("primary").size.toDouble, "count"),
      ("samples.secondary", samples("secondary").size.toDouble, "count"),
      ("trace_overhead.setup_s", overhead(setups.toSeq), "s"),
      ("trace_overhead.primary_ms_p50", overhead(samples("primary").toSeq), "ms"),
      ("trace_overhead.secondary_ms_p50", overhead(samples("secondary").toSeq), "ms"))
  }
}

/** Names of the per-layer metrics of BENCHMARK.json. Every workload emits
  * all of them; a span or count it does not produce reads 0. */
object PerLayer {
  val PipelineSpans: Seq[String] = Seq("journeys", "score", "report", "run_all")
  val TableSpans: Seq[String] =
    Seq("append", "merge", "replace", "compact", "checkpoint", "scan_sql", "scan_df", "cdf")
  val Counts: Seq[(String, String)] = Seq(
    "txstore.snapshot_ms" -> "ms", "txstore.log_tail" -> "count",
    "scan.files_kept" -> "count", "scan.files_skipped" -> "count",
    "table.files" -> "count", "table.mb" -> "MB")
}

object Bench {
  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString

  private def jsonStr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  val workloads: Seq[Workload] = Seq(AttributionE2e, TableCommits)

  def main(argv: Array[String]): Unit = {
    val args = Args.parse(argv)
    val wl = workloads.find(_.name == args.workload).getOrElse(
      sys.error(s"unknown workload ${args.workload} (${workloads.map(_.name).mkString(", ")})"))
    val h = new Harness(args)
    try wl.run(h)
    finally h.stopSession()

    val metrics = if (args.trace) h.perLayer else h.endToEnd
    val missing = wl.checks.filterNot(c => h.checks.get(c).exists(_._1 > 0))
    val checksFailed = h.checks.values.map(_._2).sum
    val bad = metrics.filter(m => m._2.isNaN || m._2.isInfinite).map(_._1)
    missing.foreach(c => System.err.println(s"[perfbench] check $c never ran"))
    bad.foreach(m => System.err.println(s"[perfbench] metric $m has no value"))
    val correct = missing.isEmpty && checksFailed == 0 && h.failed == 0 && bad.isEmpty
    val result =
      s"""{"correct": $correct, "attempted": ${h.attemptedOps}, "failed": ${h.failed}, "metrics": {""" +
        metrics.map { case (n, v, u) => s"""${jsonStr(n)}: {"value": ${num(v)}, "unit": ${jsonStr(u)}}""" }
          .mkString(", ") + "}}"
    h.phase("end")
    h.info("phases") = h.phaseLog
    h.info("samples") = h.samples.map { case (k, v) => s"$k=${v.size}" }.mkString(" ")
    h.info("sample_ms") = h.samples.collect { case (k, v) if v.nonEmpty =>
      s"$k=[${v.map(x => f"${x._1}%.0f").mkString(",")}]" }.mkString(" ")
    h.info("checks") = h.checks.map { case (k, (r, b)) => s"$k=$r/${r - b}" }.mkString(" ")
    val info = "{" + h.info.map { case (k, v) => s"${jsonStr(k)}: ${jsonStr(v)}" }.mkString(", ") + "}"
    val out = args.work.resolve("out")
    Files.createDirectories(out)
    Files.write(out.resolve("result.json"), result.getBytes(StandardCharsets.UTF_8))
    Files.write(out.resolve("info.json"), info.getBytes(StandardCharsets.UTF_8))
    h.tracer.foreach { t =>
      Files.write(out.resolve(s"trace-${args.workload}-${args.seed}.json"),
        t.json.getBytes(StandardCharsets.UTF_8))
    }
  }
}
