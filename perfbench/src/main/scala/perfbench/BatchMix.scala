package perfbench

import graft.SparkEntry
import graft.core.{Barrier, Tables}
import org.apache.spark.sql.SparkSession

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

/** The two batch workloads: a closed loop with one client, cycling
  * through a fixed query mix in a seeded order per cycle. Every execution
  * builds the query (`SparkEntry.queries`), plans it, runs the real plan
  * (`toRdd.count()`) and releases its barriers, as a graft caller does.
  */
object BatchMix {

  /** Scan, join and shuffle bound over lineitem, orders and events. */
  val relational: Seq[String] = Seq(
    "q1_pricing_summary", "j1_order_lineitem_join", "j3_interval_join",
    "j4_lookup_dim_join", "a1_tumble_count", "a2_keyed_window_reduce",
    "a4_uv_per_day", "a5_is_new_repair", "k5_upsert_latest_per_key")

  /** Small inputs behind deep barrier chains: job- and driver-bound. */
  val llm: Seq[String] = Seq(
    "u1_tokenize_explode", "text_quality", "dedup_exact",
    "dedup_minhash_lsh", "dedup_simhash", "dedup_simhash_pairs",
    "dedup_cdc_chunks", "text_kneser_ney", "sim_topk_bruteforce",
    "sim_lsh_ann", "sim_ivf_ann", "sim_knn_graph", "mm_decode_features",
    "p7_map_projection")

  /** Both mixes in one loop: the 23 headline queries. */
  val mixes: Map[String, Seq[String]] = Map("olap_relational" -> relational,
    "llm_operators" -> llm, "batch_headline" -> (relational ++ llm))

  /** Set-ups per run; `setup_s` is their median. */
  val SetUps = 3
  val WarmThreads = 4
  /** One untraced cycle of each mix at sf0.1 on the 4-core reference host
    * (seed engine, steady state), in seconds. */
  val NominalCycleS = Map("olap_relational" -> 5.0, "llm_operators" -> 10.0,
    "batch_headline" -> 15.0)

  def run(a: Main.Args, tr: Trace, rec: mutable.Map[String, Any]): Unit = {
    val names = mixes(a("workload"))
    val dir = a("fixtures")
    val cores = a("cores").toInt
    val seconds = a("seconds").toDouble
    val rng = new scala.util.Random(a("seed").toLong)

    // set-up: session start + fixture staging, repeated; the first one
    // counts from JVM start
    val setups = ArrayBuffer.empty[Map[String, Double]]
    var firstSetupEnd = 0.0
    var spark: SparkSession = null
    for (i <- 0 until SetUps) {
      if (i > 0) Main.stopSession()
      val t0 = if (i == 0) rec("jvm_start").asInstanceOf[Double] else tr.now()
      spark = tr.span(null, "sessions.start", "setup")(Main.session(cores))
      val t1 = tr.now()
      tr.span(spark.sparkContext, "setup.stage", "setup")(
        Tables.names.foreach(n => Tables.load(spark, dir, n).schema))
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

    // untimed warm-up pass, which also writes every output for the check.
    // Its cost is first-use work (class loading, code generation, JIT), so
    // the queries run on WarmThreads concurrent callers to overlap it;
    // barriers are owned per calling thread, as for any concurrent caller
    val out = s"${a("work")}/outputs"
    val tw = tr.now()
    val s0 = spark
    val pool = java.util.concurrent.Executors.newFixedThreadPool(WarmThreads)
    val warm = names.map { n =>
      pool.submit(() => {
        val t = tr.now()
        val err =
          try {
            SparkEntry.queries(n)(s0, dir).write.mode("overwrite")
              .parquet(s"$out/$n")
            None
          } catch { case e: Throwable => Some(s"${e.getClass.getName}: ${e.getMessage}") }
          finally Barrier.releaseAll(s0)
        Map("name" -> n, "wall_s" -> (tr.now() - t), "error" -> err)
      })
    }
    rec("warmup") = warm.map(_.get())
    pool.shutdown()
    rec("warmup_s") = tr.now() - tw
    rec("oracle_sql") = names.flatMap(n => SparkEntry.oracleSql.get(n).map(n -> _)).toMap

    // timed closed loop: a fixed number of whole cycles, as many as fit
    // in --seconds on the reference host; fixed work keeps a slower
    // engine from being measured on fewer samples
    // a traced run alternates untraced and traced cycles, untraced first
    // and last, so drift within the run cancels out of the difference
    val cycles = (if (tr.enabled) 3 else 1) *
      math.max(1, (seconds / NominalCycleS(a("workload"))).toInt)
    val sc = spark.sparkContext
    val samples = ArrayBuffer.empty[Map[String, Any]]
    val cycleWalls = ArrayBuffer.empty[(Boolean, Double)]
    rec("first_op_s") = tr.now() - rec("jvm_start").asInstanceOf[Double] -
      repeatedSetupsS
    rec("host_before") = Main.host()
    val start = tr.now()
    for (cycle <- 0 until cycles) {
      // the traced minus the untraced cycles is the tracing overhead
      val traced = tr.enabled && cycle % 2 == 1
      tr.on = traced
      if (traced) sc.addSparkListener(tr.listener)
      val c0 = tr.now()
      rng.shuffle(names).foreach { n =>
        samples += execute(spark, tr, dir, n, s"c$cycle:$n") ++
          Map("cycle" -> cycle, "traced" -> traced,
            "mix" -> (if (relational.contains(n)) "relational" else "llm"))
      }
      cycleWalls += ((traced, tr.now() - c0))
      if (traced) { tr.listener.settle(); sc.removeSparkListener(tr.listener) }
    }
    tr.on = false
    rec("measure_s") = tr.now() - start
    rec("host_after") = Main.host()
    rec("samples") = samples.toSeq
    rec("cycles") = cycleWalls.map { case (t, w) => Map("traced" -> t, "wall_s" -> w) }.toSeq

    if (tr.enabled) {
      // single-thread baseline: one pass of the mix at local[1]
      Main.stopSession()
      val one = Main.session(1)
      val t = tr.now()
      names.foreach(n => execute(one, tr, dir, n, s"local1:$n"))
      rec("local1_pass_s") = tr.now() - t
    }
  }

  /** One query execution, with a span around each public call. */
  private def execute(spark: SparkSession, tr: Trace, dir: String,
      name: String, req: String): Map[String, Any] = {
    val sc = spark.sparkContext
    val t0 = tr.now()
    var held = 0L
    var scans = Seq.empty[Seq[Seq[String]]]
    try {
      val rows = tr.span(sc, "query", req) {
        val df = tr.span(sc, "operators.build", req)(
          SparkEntry.queries(name)(spark, dir))
        val qe = df.queryExecution
        tr.span(sc, "catalyst.plan", req)(qe.executedPlan)
        val n = tr.span(sc, "exec.run", req)(qe.toRdd.count())
        if (tr.on) {
          phases(tr, qe, req)
          // storage the query's barriers hold before they are released
          held = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
          scans = Scans(qe.executedPlan)
        }
        tr.span(sc, "barrier.release", req)(Barrier.releaseAll(spark))
        n
      }
      Map("name" -> name, "req" -> req, "start" -> t0,
        "wall_s" -> (tr.now() - t0), "rows" -> rows, "barrier_bytes" -> held,
        "scans" -> scans)
    } catch {
      case e: Throwable =>
        Barrier.releaseAll(spark)
        Map("name" -> name, "req" -> req, "start" -> t0,
          "wall_s" -> (tr.now() - t0), "rows" -> -1L,
          "error" -> s"${e.getClass.getName}: ${e.getMessage}")
    }
  }

  /** The parquet scans of a final plan, AQE stages and subqueries
    * included: each as (input files, columns read). A scan inside a
    * barrier ran during the build and is not in the final plan. */
  private object Scans
      extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {
    def apply(plan: org.apache.spark.sql.execution.SparkPlan): Seq[Seq[Seq[String]]] =
      collectWithSubqueries(plan) {
        case s: org.apache.spark.sql.execution.FileSourceScanExec =>
          Seq(s.relation.location.inputFiles.toSeq, s.requiredSchema.fieldNames.toSeq)
      }
  }

  /** Catalyst's own phase timings of the final plan, as spans. The
    * analysis phase ran while the operators built the DataFrame; the
    * other two while the plan was requested. */
  private def phases(tr: Trace, qe: org.apache.spark.sql.execution.QueryExecution,
      req: String): Unit =
    qe.tracker.phases.foreach { case (phase, s) =>
      tr.record(s"catalyst.$phase", req, -2, s.startTimeMs / 1e3, s.endTimeMs / 1e3)
    }
}
