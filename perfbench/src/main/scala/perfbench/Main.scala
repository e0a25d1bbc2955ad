package perfbench

import com.fasterxml.jackson.core.json.JsonWriteFeature
import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

import scala.collection.mutable

/** JVM side of the benchmark: runs one workload against the compiled
  * engine and writes the raw record (samples, spans, listener counts) as
  * JSON. `run.py` starts it, turns the record into metrics and checks the
  * outputs.
  *
  *   perfbench.Main --workload <name> --fixtures <dir> --work <dir>
  *     --seconds <n> --seed <n> --trace <0|1> --cores <n>
  *     and, for the stream: --sf <x> --gen <gen.py> --warm <json> --rungs <json>
  */
object Main {

  final class Args(m: Map[String, String]) {
    def apply(k: String): String =
      m.getOrElse(k, sys.error(s"missing --$k"))
  }

  def main(argv: Array[String]): Unit = {
    val a = new Args(argv.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap)
    val tr = new Trace(a("trace") == "1")
    val rec = mutable.LinkedHashMap[String, Any](
      "workload" -> a("workload"), "seed" -> a("seed").toLong,
      "trace" -> tr.enabled, "cores" -> a("cores").toInt,
      "jvm_start" -> java.lang.management.ManagementFactory
        .getRuntimeMXBean.getStartTime / 1e3,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
      "nproc" -> Runtime.getRuntime.availableProcessors)
    a("workload") match {
      case w if BatchMix.mixes.contains(w) => BatchMix.run(a, tr, rec)
      case "stream_dwd_dws" => StreamLadder.run(a, tr, rec)
      case w => sys.error(s"unknown workload $w")
    }
    rec("peak_rss_mb") = vmHwmMb()
    if (tr.enabled) {
      rec("spans") = tr.spans.toSeq.map(s => Seq(s.id, s.name, s.req,
        s.parent, s.start, s.end))
      rec("tasks") = tr.listener.tasks.toSeq.map(t => Seq(t.span, t.stage,
        t.launch, t.finish, t.runS, t.cpuS, t.gcS, t.inBytes, t.inRows,
        t.swBytes, t.srBytes, t.fetchWaitS, t.spill, t.outBytes, t.attempt,
        t.ok))
      rec("listener_handler_s") = tr.listener.handlerNanos.get / 1e9
      rec("job_spans") = tr.listener.jobSpan.values().toArray.toSeq
        .map(_.toString)
      rec("stage_spans") = tr.listener.stageSpan.values().toArray.toSeq
        .map(_.toString)
    }
    json.writeValue(new java.io.File(a("work"), "record.json"), rec)
    // the record is written; a local-mode session holds nothing that
    // needs an orderly shutdown, so skip the second or two it would take
    System.out.flush()
    Runtime.getRuntime.halt(0)
  }

  /** Writes the record: Scala maps, sequences and options as JSON, and a
    * NaN as the bare token Python's json module reads back as a float. */
  private val json = JsonMapper.builder().addModule(DefaultScalaModule)
    .disable(JsonWriteFeature.WRITE_NAN_AS_STRINGS).build()

  /** Starts the engine's session the way a graft user does, sized to the
    * benchmark host instead of the default 32 slots. */
  def session(cores: Int): SparkSession = graft.core.Sessions.local(cores.toString)

  def stopSession(): Unit = {
    SparkSession.getActiveSession.foreach(_.stop())
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** Host load around a timed region: load averages, and busy CPU time of
    * the whole host against this JVM's own, so `run.py` can tell how much
    * of the machine other processes took. */
  def host(): Map[String, Double] = {
    def read(p: String) = {
      val src = scala.io.Source.fromFile(p)
      try src.mkString finally src.close()
    }
    val load = read("/proc/loadavg").trim.split("\\s+")
    val cpu = read("/proc/stat").linesIterator.next().trim.split("\\s+")
      .drop(1).map(_.toDouble)
    // user nice system idle iowait irq softirq steal
    val busy = cpu(0) + cpu(1) + cpu(2) + cpu(5) + cpu(6) + cpu(7)
    val self = read("/proc/self/stat")
    val f = self.substring(self.lastIndexOf(')') + 2).split(" ")
    Map("load1" -> load(0).toDouble, "load5" -> load(1).toDouble,
      // own CPU includes waited-for children: the stream's generator
      "host_busy_ticks" -> busy,
      "self_ticks" -> f.slice(11, 15).map(_.toDouble).sum,
      "time" -> System.currentTimeMillis() / 1e3)
  }

  /** Peak resident set of this JVM (`VmHWM`), in MiB. */
  def vmHwmMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") =>
        l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(-1.0)
    finally src.close()
  }

  /** Spark confs that shape the measurement, recorded with each run. */
  def confs(spark: SparkSession): Map[String, String] =
    spark.conf.getAll.filter { case (k, _) =>
      k.startsWith("spark.sql.shuffle") || k.startsWith("spark.sql.adaptive") ||
        k == "spark.master" || k.startsWith("spark.graft") ||
        k == "spark.sql.session.timeZone" || k.startsWith("spark.driver")
    }
}
