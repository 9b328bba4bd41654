package graft.perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{col, count, lit, sum}
import org.apache.spark.sql.types._

import graft.sources.TxStore
import graft.sources.TxStore.MergeClause.{MatchedUpdate, NotMatchedInsert}

/** A date-partitioned `TxStore` table under a seeded mix of writes
  * (append of a new day, upsert merge of late rows, replaceWhere
  * restatement of a day) and reads (pruned SQL through `Main.run --step
  * sql --tx` at `@vN`; a pruned `format("graft")` read; a change-feed
  * follower), with compaction and a checkpoint every
  * second cycle. The three writes of a cycle are its primary
  * operation and the three reads its secondary one, so every sample has
  * the same mix whatever the seed. An in-memory model of the table at
  * every retained version checks every read and every change-feed batch. */
object TableCommits extends Workload {
  val name = "table_commits"
  val checks: Seq[String] = Seq("commit_version", "read_sql", "read_df", "change_feed")
  private val Channels = Array("view", "click", "signup", "error")

  /** date → session_id → cost; immutable, so every version keeps its own. */
  private type Model = Map[String, Map[Long, Double]]

  private val Schema = StructType(Seq(
    StructField("session_id", LongType), StructField("user_id", LongType),
    StructField("channel_name", StringType), StructField("cost", DoubleType),
    StructField("date", StringType)))

  def run(h: Harness): Unit = {
    val s = Sizes(h.args.scale)
    val seed = h.args.seed
    val r = Inputs.rng(seed, 6)
    val stub = h.args.work.resolve("inputs").resolve(s"table-views-${h.args.scale}")
    val sqlOut = h.dir("table/sql").toString
    val written = mutable.ArrayBuffer.empty[Row]
    var nextId = 0L
    def row(id: Long, date: String): Row = Row(id, r.nextInt(10000).toLong,
      Channels(r.nextInt(Channels.length)), math.round(r.nextDouble() * 20000) / 100.0, date)
    def rows(date: String, n: Int): Seq[Row] = Seq.fill(n) { nextId += 1; row(nextId, date) }
    def frame(rs: Seq[Row]): DataFrame = h.spark.createDataFrame(rs.asJava, Schema)
    def add(m: Model, rs: Seq[Row]): Model = rs.foldLeft(m) { (acc, row) =>
      val d = row.getString(4)
      acc.updated(d, acc.getOrElse(d, Map.empty[Long, Double]).updated(row.getLong(0), row.getDouble(3)))
    }

    // the SQL step registers the fixture views of its --data-dir: give it
    // a small one, the same for every seed (the query reads only the table)
    h.generate { spark =>
      Inputs.once(stub) { d =>
        Inputs.write(spark, Inputs.eventRows(Inputs.events(0L, Sizes("tiny"))), Inputs.EventSchema,
          d.resolve("events.parquet"), 1)
        Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "documents", "embeddings").foreach { t =>
          spark.range(1).write.mode("overwrite").parquet(d.resolve(s"$t.parquet").toString)
        }
      }
    }

    val initial = (0 until s.initialDays).flatMap(d => rows(Inputs.date(d), s.rowsPerDay))
    written ++= initial
    var reps = 0
    val path: String = h.setup(reps = 3) { spark =>
      reps += 1
      val p = h.args.work.resolve("table").resolve(s"t$reps") // run.py starts every run without table/
      TxStore.append(spark.createDataFrame(initial.asJava, Schema), p.toString, partitionBy = Seq("date"))
      p.toString
    }
    h.info("inputs") = s"initial table=${initial.size} rows over ${s.initialDays} daily partitions, " +
      s"${Inputs.bytes(java.nio.file.Paths.get(path))} bytes; ${s.rowsPerDay} rows per appended day"

    var model: Model = add(Map.empty, initial)
    var version = TxStore.latestVersion(h.spark, path)
    val versions = mutable.LinkedHashMap(version -> model) // the retained log
    var days = s.initialDays
    var follower = version
    var replica: Map[Long, Double] = model.values.flatten.toMap

    def committed(v: Long, m: Model): Unit = {
      h.check("commit_version")(v == version + 1)
      version = v
      model = m
      versions(v) = m
    }
    /** A seeded 7-day range of existing days. */
    def readRange(): (String, String) = {
      val a = r.nextInt(days - 6)
      (Inputs.date(a), Inputs.date(a + 6))
    }
    def expected(a: String, b: String, v: Long): (Long, Double) = {
      val in = versions(v).collect { case (d, m) if d >= a && d <= b => m.values }.flatten
      (in.size.toLong, in.sum)
    }
    def matches(got: Row, a: String, b: String, v: Long): Boolean = {
      val (n, c) = expected(a, b, v)
      got.getLong(0) == n && math.abs(got.getDouble(1) - c) <= 1e-6 * math.max(1.0, math.abs(c))
    }

    /** The primary operation: append a new day, upsert late rows into an
      * existing day, restate another day — three commits. */
    def writeRound(cls: String): Unit = {
      val fresh = rows(Inputs.date(days), s.rowsPerDay)
      days += 1
      val m1 = add(model, fresh)
      val lateDay = Inputs.date(r.nextInt(days))
      val old = m1(lateDay).keys.toSeq.sorted
      val late = Seq.fill(s.mergeRows)(old(r.nextInt(old.size))).distinct.map(row(_, lateDay)) ++
        rows(lateDay, s.mergeRows)
      val m2 = add(m1, late)
      val restateDay = Inputs.date(r.nextInt(days))
      val restated = rows(restateDay, s.rowsPerDay)
      val m3 = add(m2 - restateDay, restated)
      val (f1, f2, f3) = (frame(fresh), frame(late), frame(restated))
      var vs = Seq.empty[Option[Long]]
      if (h.op(cls) {
        vs = Seq(
          Some(h.span("append")(TxStore.append(f1, path))),
          h.span("merge")(TxStore.mergeClauses(h.spark, path, f2, Seq("session_id"),
            Seq(MatchedUpdate(None, None), NotMatchedInsert(None, None)))),
          Some(h.span("replace")(TxStore.replaceWhere(f3, path, col("date") === restateDay))))
      }) {
        written ++= fresh ++ late ++ restated
        vs.zip(Seq(m1, m2, m3)).foreach { case (v, m) => v.foreach(committed(_, m)) }
      }
    }

    /** The secondary operation: a pruned SQL read through the CLI at a
      * retained older version (time travel), a pruned `format("graft")`
      * read of the current version, and the change-feed follower catching
      * up. Every round has the same mix; the seed picks days and versions. */
    def readRound(cls: String): Unit = {
      val (a1, b1) = readRange()
      val older = versions.keys.filter(_ < version).toSeq
      val v1 = if (older.isEmpty) version else older(r.nextInt(older.size))
      val tx = s"t=$path@v$v1"
      val (a2, b2) = readRange()
      val v2 = version
      var df: Row = null
      var latest = -1L
      var changes: Array[Row] = Array.empty
      if (h.op(cls) {
        h.span("scan_sql")(graft.Main.run(h.spark, Map("step" -> "sql", "data-dir" -> stub.toString,
          "out-dir" -> sqlOut, "tx" -> tx,
          "sql" -> s"SELECT count(*) AS n, sum(cost) AS c FROM t WHERE date BETWEEN '$a1' AND '$b1'")))
        h.span("scan_df") {
          df = h.spark.read.format("graft").load(path)
            .filter(col("date").between(a2, b2)).agg(count(lit(1)), sum("cost")).head()
        }
        h.span("cdf") {
          val (v, changed) = TxStore.readChangesSince(h.spark, path, follower)
          latest = v
          changes = changed.select("session_id", "cost", "_change_type", "_commit_version").collect()
        }
      }) {
        h.check("read_sql")(matches(h.spark.read.parquet(s"$sqlOut/sql_result").head(), a1, b1, v1))
        h.check("read_df")(matches(df, a2, b2, v2))
        // replay per commit, deletes before inserts (an update is a pair)
        changes.groupBy(_.getLong(3)).toSeq.sortBy(_._1).foreach { case (_, rs) =>
          rs.filter(_.getString(2) == "delete").foreach(x => replica -= x.getLong(0))
          rs.filter(_.getString(2) == "insert").foreach(x => replica += (x.getLong(0) -> x.getDouble(1)))
        }
        follower = latest
        h.check("change_feed")(latest == version && replica == model.values.flatten.toMap)
      }
    }

    def compact(cls: String): Unit = {
      var v: Option[Long] = None
      if (h.op(cls, "compact") { v = h.span("compact")(
        TxStore.compactSmallFiles(h.spark, path, targetBytes = 4L << 20, minBytes = 1L << 20)) })
        v.foreach(committed(_, model))
    }
    def checkpoint(cls: String): Unit = {
      var v = -1L
      if (h.op(cls, "checkpoint") { v = h.span("checkpoint")(TxStore.checkpoint(h.spark, path)) }) {
        committed(v, model)
        versions.keys.filter(_ < v).toSeq.foreach(versions.remove) // history before it is gone
      }
    }
    /** One cycle; a maintaining one compacts before its reads and
      * checkpoints after them, so the follower has caught up when the
      * checkpoint truncates the log. */
    def cycle(maintain: Boolean, write: String, read: String, other: String): Unit = {
      writeRound(write)
      if (maintain) compact(other)
      readRound(read)
      if (maintain) checkpoint(other)
    }

    // an iteration is two cycles, the second maintaining: every whole
    // iteration has the same mix, so ops_per_s does not depend on where
    // the deadline falls. Two warm-up cycles: one leaves the JIT cold.
    def iteration(write: String, read: String, other: String): Unit = {
      cycle(maintain = false, write, read, other)
      cycle(maintain = true, write, read, other)
    }
    iteration("warmup", "warmup", "warmup")
    // after the warm-up's fixed sequence of operations, so the ratio does
    // not depend on how many rounds the loop fits in its seconds
    val plain = h.args.work.resolve("table").resolve("plain")
    frame(written.toSeq).coalesce(1).write.mode("overwrite").parquet(plain.toString)
    h.writeAmp = Inputs.bytes(java.nio.file.Paths.get(path)).toDouble / Inputs.bytes(plain)

    h.loop(iteration("primary", "secondary", "other"))

    if (h.tracer.isDefined) {
      h.counts("txstore.snapshot_ms") = Stats.median((0 until 5).map { _ =>
        val t0 = System.nanoTime()
        TxStore.snapshot(h.spark, path)
        (System.nanoTime() - t0) / 1e6
      })
      val hist = TxStore.history(h.spark, path)
      h.counts("txstore.log_tail") =
        hist.count(c => c.version > hist.filter(_.op == "checkpoint").map(_.version).maxOption.getOrElse(0L)).toDouble
      val (snap, kept, skipped) = TxStore.pruneFiles(h.spark, path,
        col("date").between(Inputs.date(days / 2), Inputs.date(days / 2 + 6)))
      h.counts("scan.files_kept") = kept.size.toDouble
      h.counts("scan.files_skipped") = skipped.size.toDouble
      h.counts("table.files") = snap.files.size.toDouble
      h.counts("table.mb") = Inputs.bytes(java.nio.file.Paths.get(path)) / (1024.0 * 1024.0)
    }
  }
}
