package perfbench

import graft.core.Tables
import graft.operators.LogSplit
import graft.streaming.{Jobs, Sinks, StatefulStreaming}
import org.apache.spark.sql.{DataFrame, Dataset, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, Trigger}
import org.apache.spark.sql.types._

import java.io.File
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

/** The stream workload: the paper's DWD -> DWS path with the DIM merge
  * beside it, fed open-loop by one generator process.
  *
  *  - ODS event files -> `LogSplit.splits` -> one directory per batch for
  *    each DWD fact, published by rename so a reader sees whole batches,
  *    on a processing-time trigger whose grid the generator starts on;
  *  - DWD page facts -> 10 s event-time tumbling window, 5 s watermark
  *    (`StatefulStreaming.windowedCounts`), update mode -> `Sinks.upsert`
  *    serving store;
  *  - DIM changelog files -> `Jobs.runCdcUpsertStreaming` (`Sinks.mergeDim`).
  *
  * The JVM records when each trigger committed; `run.py` maps every event
  * to the DWS commit that included it and checks the stores.
  */
object StreamLadder {

  val SetUps = 3
  /** Longest the drain after the ladder may take before the run gives up
    * on the events still in flight (they then count as failed). */
  val DrainTimeoutS = 90.0

  private val odsSchema = StructType(Tables.schemas("events").fields ++ Seq(
    StructField("created_us", LongType), StructField("late", BooleanType)))
  private val pageSchema = StructType(Seq(
    StructField("event_id", LongType), StructField("user_id", LongType),
    StructField("k", LongType), StructField("ts", TimestampType),
    StructField("created_us", LongType), StructField("late", BooleanType)))

  final case class Dirs(work: String) {
    val ods = s"$work/ods"
    val chg = s"$work/changelog"
    val dwd = s"$work/dwd"
    val stage = s"$work/dwd_stage"
    val dws = s"$work/dws_store"
    val dim = s"$work/dim_store"
    val chk = s"$work/chk"
    def all: Seq[String] = Seq(ods, chg, dwd, stage, dws, dim, chk)
  }

  /** Progress of every trigger of the three queries. */
  final class Progress extends StreamingQueryListener {
    val names = new java.util.concurrent.ConcurrentHashMap[String, String]()
    val events = ArrayBuffer.empty[Map[String, Any]]
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val st = p.stateOperators.headOption
      val rec = Map[String, Any](
        "query" -> Option(names.get(p.id.toString)).getOrElse(p.id.toString),
        "batch" -> p.batchId,
        "start" -> java.time.Instant.parse(p.timestamp).toEpochMilli / 1e3,
        "rows" -> p.numInputRows,
        "durations" -> {
          val m = mutable.LinkedHashMap.empty[String, Long]
          p.durationMs.forEach((k, v) => m(k) = v.longValue)
          m
        },
        "state_rows" -> st.map(_.numRowsTotal),
        "state_bytes" -> st.map(_.memoryUsedBytes),
        "state_updated" -> st.map(_.numRowsUpdated),
        "dropped_late" -> st.map(_.numRowsDroppedByWatermark),
        "watermark" -> Option(p.eventTime.get("watermark")))
      synchronized { events += rec }
    }
    def snapshot: Seq[Map[String, Any]] = synchronized(events.toSeq)
    def rows(q: String): Long =
      snapshot.filter(_("query") == q).map(_("rows").asInstanceOf[Long]).sum
    def triggers(q: String): Seq[Map[String, Any]] = snapshot.filter(_("query") == q)
  }

  def run(a: Main.Args, tr: Trace, rec: mutable.Map[String, Any]): Unit = {
    val d = Dirs(a("work"))
    val cores = a("cores").toInt
    val triggerMs = a("trigger-ms").toLong
    val progress = new Progress
    val commits = new java.util.concurrent.ConcurrentLinkedQueue[Map[String, Any]]()
    var queries = Seq.empty[StreamingQuery]
    var spark: SparkSession = null

    def start(): Unit = {
      d.all.foreach(p => new File(p).mkdirs())
      Seq("page", "start", "err", "display", "action")
        .foreach(f => new File(s"${d.dwd}/$f").mkdirs())
      spark.streams.addListener(progress)
      // no DWS batches without input: they only advance the watermark,
      // which every data batch does too, and each one (1.4-2 s) blocked
      // the next data batch by an amount that changed from run to run
      spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
      val dwd = startDwd(spark, d, tr, commits, triggerMs)
      val dws = startDws(spark, d, tr, commits)
      val snapshot = spark.read.parquet(s"${a("fixtures")}/dim_snapshot.parquet")
      val dim = Jobs.runCdcUpsertStreaming(spark, snapshot, d.chg, "d_key",
        "d_seq", "op", d.dim, s"${d.chk}/dim")
      Seq("dwd" -> dwd, "dws" -> dws, "dim" -> dim)
        .foreach { case (n, q) => progress.names.put(q.id.toString, n) }
      queries = Seq(dwd, dws, dim)
    }

    val setups = ArrayBuffer.empty[Map[String, Double]]
    var firstSetupEnd = 0.0
    for (i <- 0 until SetUps) {
      if (i > 0) {
        queries.foreach(_.stop())
        Main.stopSession()
        d.all.foreach(p => deleteRec(new File(p)))
        progress.synchronized(progress.events.clear())
        commits.clear()
      }
      val t0 = if (i == 0) rec("jvm_start").asInstanceOf[Double] else tr.now()
      spark = tr.span(null, "sessions.start", "setup")(Main.session(cores))
      val t1 = tr.now()
      tr.span(spark.sparkContext, "setup.stage", "setup")(start())
      val t2 = tr.now()
      setups += Map("session_s" -> (t1 - t0), "stage_s" -> (t2 - t1),
        "total_s" -> (t2 - t0))
      if (i == 0) firstSetupEnd = t2
    }
    // the repeated set-ups only give setup_s its median; first_op_s
    // leaves them out
    val repeatedSetupsS = tr.now() - firstSetupEnd
    rec("setups") = setups.toSeq
    rec("confs") = Main.confs(spark)
    val sc = spark.sparkContext

    val genLog = s"${a("work")}/gen.jsonl"
    /** Runs the generator to the end of its schedule; returns how long it
      * took to start and to reach the trigger grid, before its first file
      * was due. */
    def generate(schedule: String, id0: Long): Double = {
      val launched = tr.now()
      val p = new ProcessBuilder("python3", a("gen"), "stream", d.ods, d.chg,
        genLog, a("seed"), a("sf"), schedule, id0.toString,
        (triggerMs / 1e3).toString).inheritIO().start()
      val code = p.waitFor()
      require(code == 0, s"generator exited with $code")
      val src = scala.io.Source.fromFile(genLog)
      val t0 = try src.getLines().collectFirst {
        case l if l.contains(s""""kind": "start", "id0": $id0,""") =>
          """"t0": ([0-9.]+)""".r.findFirstMatchIn(l).get.group(1).toDouble
      }.get finally src.close()
      t0 - launched
    }
    /** Files of one kind in the generator's log, and the sum of one of
      * their counts. */
    def published(kind: String, count: String): (Long, Long) = {
      val src = scala.io.Source.fromFile(genLog)
      val n = s""""$count": (\\d+)""".r
      try {
        val ls = src.getLines().filter(_.contains(s""""kind": "$kind"""")).toSeq
        (ls.size.toLong, ls.map(l => n.findFirstMatchIn(l).get.group(1).toLong).sum)
      } finally src.close()
    }
    /** Waits until every published event and changelog file went through
      * all three queries; false on timeout. */
    def drain(timeoutS: Double): Boolean = {
      val t0 = tr.now()
      val (dimFiles, _) = published("dim", "rows")
      val (_, events) = published("ods", "rows")
      val (_, pages) = published("ods", "pages")
      // DWS reads every page event, on time or late, as one input row
      def dwsDone = progress.rows("dwd") >= events && progress.rows("dws") >= pages
      def dimDone = progress.triggers("dim")
        .count(_("rows").asInstanceOf[Long] > 0) >= dimFiles
      while (!(dwsDone && dimDone) && tr.now() - t0 < timeoutS) Thread.sleep(100)
      dwsDone && dimDone
    }

    // untimed warm-up: on-time events only, so the watermark exists
    // before the first late event arrives
    val tw = tr.now()
    tr.on = false
    val gridWaitS = generate(a("warm"), 0L)
    rec("warmup_drained") = drain(DrainTimeoutS)
    rec("warmup_s") = tr.now() - tw - gridWaitS
    // the generator's start and its wait for the trigger grid are the
    // harness's, not the engine's: first_op_s leaves them out too
    rec("first_op_s") = tr.now() - rec("jvm_start").asInstanceOf[Double] -
      repeatedSetupsS - gridWaitS

    tr.on = tr.enabled
    if (tr.enabled) sc.addSparkListener(tr.listener)
    rec("host_before") = Main.host()
    val t0 = tr.now()
    generate(a("rungs"), 1000000000L)
    rec("ladder_s") = tr.now() - t0
    rec("host_after") = Main.host()
    rec("drained") = drain(DrainTimeoutS)
    rec("measure_s") = tr.now() - t0
    tr.on = false
    if (tr.enabled) tr.listener.settle()
    queries.foreach(_.stop())
    rec("progress") = progress.snapshot
    rec("commits") = commits.toArray.toSeq
    rec("dirs") = Map("ods" -> d.ods, "chg" -> d.chg, "dwd" -> d.dwd,
      "dws" -> d.dws, "dim" -> d.dim)
    rec("gen_log") = genLog
  }

  private def startDwd(spark: SparkSession, d: Dirs, tr: Trace,
      commits: java.util.Queue[Map[String, Any]], triggerMs: Long): StreamingQuery =
    spark.readStream.schema(odsSchema).parquet(d.ods)
      .writeStream.queryName("dwd")
      .foreachBatch { (batch: Dataset[Row], id: Long) =>
        val t0 = tr.now()
        tr.span(spark.sparkContext, "dwd.split_write", s"dwd:$id") {
          val b = batch.persist()
          try LogSplit.splits(b.toDF(), extra = Seq("ts", "created_us", "late"))
            .foreach { case (fact, df) =>
              val staged = s"${d.stage}/$fact/batch_$id"
              df.write.mode(SaveMode.Overwrite).parquet(staged)
              val target = new File(s"${d.dwd}/$fact/batch_$id")
              deleteRec(target) // a replayed batch replaces its own output
              java.nio.file.Files.move(new File(staged).toPath, target.toPath,
                java.nio.file.StandardCopyOption.ATOMIC_MOVE)
            }
          finally { b.unpersist(); () }
        }
        commits.add(Map("query" -> "dwd", "batch" -> id, "start" -> t0,
          "end" -> tr.now()))
        ()
      }
      .trigger(Trigger.ProcessingTime(triggerMs))
      .option("checkpointLocation", s"${d.chk}/dwd")
      .start()

  private def startDws(spark: SparkSession, d: Dirs, tr: Trace,
      commits: java.util.Queue[Map[String, Any]]): StreamingQuery = {
    val pages: DataFrame = spark.readStream.schema(pageSchema)
      .parquet(s"${d.dwd}/page/batch_*")
    StatefulStreaming.windowedCounts(pages.withColumn("event_type", lit("view")))
      .writeStream.queryName("dws").outputMode("update")
      .foreachBatch { (batch: Dataset[Row], id: Long) =>
        val t0 = tr.now()
        tr.span(spark.sparkContext, "dws.upsert", s"dws:$id")(
          Sinks.upsert(spark, batch.toDF().withColumn("__seq", lit(id)),
            "stt", "__seq", d.dws))
        commits.add(Map("query" -> "dws", "batch" -> id, "start" -> t0,
          "end" -> tr.now()))
        ()
      }
      .option("checkpointLocation", s"${d.chk}/dws")
      .start()
  }

  private def deleteRec(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRec))
    f.delete(); ()
  }
}
