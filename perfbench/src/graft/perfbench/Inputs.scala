package graft.perfbench

import java.nio.file.{Files, Path}
import java.time.{Instant, LocalDate, ZoneOffset}
import java.util.SplittableRandom

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Input sizes of one scale. `full` is the measured scale; `tiny` is the
  * self-test's smoke scale. */
final case class Sizes(
    users: Int, eventsPerUser: Int, days: Int, windowDays: Int,
    rowsPerDay: Int, initialDays: Int, mergeRows: Int)

object Sizes {
  def apply(scale: String): Sizes = scale match {
    case "full" => Sizes(users = 600, eventsPerUser = 40, days = 30, windowDays = 28,
      rowsPerDay = 200, initialDays = 30, mergeRows = 20)
    case "tiny" => Sizes(users = 40, eventsPerUser = 20, days = 10, windowDays = 7,
      rowsPerDay = 20, initialDays = 6, mergeRows = 4)
    case other => sys.error(s"unknown scale $other (full|tiny)")
  }
}

/** The generated event stream, kept in memory for the output checks:
  * event `i` has id `i`; timestamps are epoch microseconds, ascending. */
final case class Events(tsMicros: Array[Long], user: Array[Long], kind: Array[String],
    value: Array[Double]) {
  def size: Int = tsMicros.length
  def date(i: Int): String =
    Instant.ofEpochSecond(0, tsMicros(i) * 1000L).atZone(ZoneOffset.UTC).toLocalDate.toString
}

/** Seeded input generators. The same seed gives the same rows; the
  * files are written once per (workload, scale, seed) under the run's
  * work directory and reused by later runs with that seed. */
object Inputs {
  val Day0: LocalDate = LocalDate.of(2024, 1, 1)
  private val Kinds = Array("view", "click", "signup", "error", "purchase")

  def rng(seed: Long, stream: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L + stream)

  def date(day: Int): String = Day0.plusDays(day.toLong).toString

  /** `s.days` days of events from day `firstDay` on. */
  def events(seed: Long, s: Sizes, firstDay: Int = 0): Events = {
    val r = rng(seed, 1)
    val n = s.users * s.eventsPerUser
    val t0 = Day0.plusDays(firstDay.toLong).atStartOfDay(ZoneOffset.UTC).toEpochSecond * 1000000L
    val span = s.days * 86400L * 1000000L
    val ts = Array.fill(n)(t0 + r.nextLong(span)).sorted
    Events(ts, Array.fill(n)(r.nextInt(s.users).toLong), Array.fill(n)(Kinds(r.nextInt(Kinds.length))),
      Array.fill(n)(math.round(-50.0 * math.log(1.0 - r.nextDouble()) * 100.0) / 100.0))
  }

  val EventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  def eventRows(e: Events): Seq[Row] = (0 until e.size).map { i =>
    val t = new java.sql.Timestamp(Math.floorDiv(e.tsMicros(i), 1000L))
    t.setNanos((Math.floorMod(e.tsMicros(i), 1000000L) * 1000L).toInt)
    Row(i.toLong, t, e.user(i), e.kind(i), e.value(i), s"""{"k": ${i % 100}}""")
  }

  def write(spark: SparkSession, rows: Seq[Row], schema: StructType, path: Path, files: Int): Unit =
    spark.createDataFrame(rows.asJava, schema).coalesce(files)
      .write.mode("overwrite").parquet(path.toString)

  /** Materialize a data directory once: `write` fills it, a marker file
    * records completion, and later calls with the same directory skip it. */
  def once(dir: Path)(write: Path => Unit): Path = {
    if (!Files.exists(dir.resolve("_READY"))) {
      Files.createDirectories(dir)
      write(dir)
      Files.createFile(dir.resolve("_READY"))
    }
    dir
  }

  /** Recursive byte count of a file tree. */
  def bytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }
}
