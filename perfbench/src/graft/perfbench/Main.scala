package graft.perfbench

import graft.Sessions

/** Spark side of the benchmark: in a fresh JVM, one timed drain of the
  * gmall backlog and then closed-loop GMV queries (and, traced, the
  * registry gates), written to a raw result file that `perfbench/run.py`
  * turns into metrics and checks. With `--setup-only 1` it stops once its
  * Spark session is up and writes only when that was (`setup.json`).
  *
  * Usage: Main --work DIR --day yyyy-MM-dd --day-int yyyyMMdd --cpus N
  *   --gmv-queries N --gmv-warmup N --log-per-trigger K --db-per-trigger K
  *   --trace 0|1 [--setup-only 0|1]
  */
object Main {

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = opt("work")
    val day = opt("day")
    val dayInt = opt("day-int").toInt
    val cpus = opt("cpus")
    val gmvQueries = opt("gmv-queries").toInt
    val gmvWarmup = opt("gmv-warmup").toInt
    val logK = opt("log-per-trigger").toInt
    val dbK = opt("db-per-trigger").toInt
    val spark = Sessions.tuned(s"local[$cpus]", cpus)
    val trace = new Trace(opt("trace") == "1", spark.sparkContext)
    // the chain gets its own session: small input splits so a few files
    // per trigger still fill every core, and one state partition per core
    val chainSession = spark.newSession()
    chainSession.conf.set("spark.sql.shuffle.partitions", cpus)
    chainSession.conf.set("spark.sql.files.maxPartitionBytes", "2m")
    chainSession.conf.set("spark.sql.session.timeZone", "UTC")
    trace.install(chainSession)
    val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val sessionReady = System.currentTimeMillis()
    val sessionReadyCpu = os.getProcessCpuTime / 1e6
    val json = new com.fasterxml.jackson.databind.ObjectMapper()
      .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
    def write(file: String, v: Map[String, Any]): Unit = java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$work/$file"), json.writeValueAsString(v))
    if (opt.get("setup-only").contains("1")) {
      write("setup.json", Map("session_ready_ms" -> sessionReady,
        "session_ready_cpu_ms" -> sessionReadyCpu))
      spark.stop()
      return
    }

    // ---- set-up: start Spark SQL once on a throwaway query (a warm-up
    // drain through every hop would cost more than the timed drain itself;
    // see perfbench/README.md)
    chainSession.range(1000).selectExpr("id % 7 AS k").groupBy("k").count().collect()
    val ready = System.currentTimeMillis()
    val readyCpu = os.getProcessCpuTime / 1e6

    // ---- the timed phase: drain the backlog, then closed-loop GMV queries
    val firstTimed = System.currentTimeMillis()
    val cpu0 = os.getProcessCpuTime
    val out = s"$work/round"
    val c = new Chain(chainSession, trace, s"$work/ods", out, day, logK, dbK)
    c.run()
    val drainMs = System.currentTimeMillis() - firstTimed
    val drainCpuMs = (os.getProcessCpuTime - cpu0) / 1e6
    // the serving path's first calls compile it (code generation, JIT):
    // untimed, as a serving client that has run a while would see it
    (1 to gmvWarmup).foreach(_ => c.gmvWarmup(dayInt))
    val gmv = (1 to gmvQueries).map { _ =>
      val cpu1 = os.getProcessCpuTime
      val (ms, v, files) = c.gmvQuery(dayInt)
      Seq(ms, v, files, (os.getProcessCpuTime - cpu1) / 1e6)
    }
    // live heap after a full GC, with the pipeline's objects still held.
    // Blocks nothing references any more (the dim upserts' localCheckpoints,
    // enrichment broadcasts) are released by Spark's ContextCleaner once a
    // GC finds their owners dead: GC, give the cleaner a second, GC again,
    // so the reading does not depend on when the cleaner ran
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    System.gc()
    Thread.sleep(1000)
    System.gc(); System.gc()
    val heap = java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
    val timedEnd = System.currentTimeMillis()
    val gates = if (trace.traced) runGates(spark, trace, s"$work/sf", s"$work/gates") else Nil
    trace.drain(spark)
    val result = Map(
      "session_ready_ms" -> sessionReady, "ready_ms" -> ready,
      "session_ready_cpu_ms" -> sessionReadyCpu, "ready_cpu_ms" -> readyCpu,
      "first_timed_ms" -> firstTimed, "timed_end_ms" -> timedEnd, "heap_live_mb" -> heap,
      "out" -> out, "drain_ms" -> drainMs, "drain_cpu_ms" -> drainCpuMs,
      "gmv" -> gmv,
      "rows_out" -> c.rowsOut.toMap, "plan_ms" -> c.planMs.toMap, "gates" -> gates,
      "trace" -> (if (trace.traced) layerTrace(trace) else Map.empty))
    write("result.json", result)
    spark.stop()
  }

  /** One registry gate for each operator module the gmall chain never
    * calls, as (module, gate). The versioned-store and change-feed gates
    * are left out: their stores live outside the run's directory. */
  val Gates: Seq[(String, String)] = Seq("Joins" -> "j1_interval_join",
    "Similarity" -> "sim_topk_brute", "Bpe" -> "text_bpe_merges", "Kmv" -> "a26_kmv_setops")

  /** Each gate runs twice on the seeded star-schema tables in `sfDir`:
    * untimed, writing the rows the runner checks against the gate's own
    * oracle SQL (this also warms the gate's plans up), then timed through
    * `Sessions.force` as the layer `<module>.<gate>`. Returns, per gate,
    * its name, wall ms, process CPU ms and oracle SQL. */
  private def runGates(spark: org.apache.spark.sql.SparkSession, trace: Trace,
      sfDir: String, outDir: String): Seq[Map[String, Any]] = {
    val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    Gates.map { case (module, gate) =>
      val query = graft.SparkEntry.queries(gate)
      query(spark, sfDir).coalesce(1).write.parquet(s"$outDir/$gate")
      val t0 = System.nanoTime()
      val cpu0 = os.getProcessCpuTime
      trace.layer(s"$module.$gate") { Sessions.force(query(spark, sfDir)) }
      Map("gate" -> gate, "module" -> module, "ms" -> (System.nanoTime() - t0) / 1e6,
        "cpu_ms" -> (os.getProcessCpuTime - cpu0) / 1e6,
        "oracle_sql" -> graft.SparkEntry.oracleSql(gate))
    }
  }

  /** Per-layer roll-up: Spark jobs by layer, plus the streaming progress
    * of each hop's query. */
  private def layerTrace(trace: Trace): Map[String, Any] = {
    val agg = trace.rollup()
    val layers = agg.map { case (name, a) =>
      name -> Map("wall_ms" -> a.wallMs, "jobs" -> a.jobs,
        "job_ms" -> a.jobMs, "shuffle_bytes" -> a.shuffleBytes, "gc_ms" -> a.gcMs,
        "records_written" -> a.recordsWritten, "task_cpu_ms" -> a.taskCpuMs,
        "broadcast_job_ms" -> a.broadcastJobMs)
    }
    val queries = Seq("BaseLog", "DbRouter", "StatefulStreams.uvDedup",
      "StatefulStreams.bounces", "OrderWide.join", "OrderWide.paymentWide").map { q =>
      val ps = trace.progressFor(q)
      q -> Map("trigger_ms" -> ps.map(_.triggerMs).sum,
        "add_batch_ms" -> ps.map(_.addBatchMs).sum, "planning_ms" -> ps.map(_.planningMs).sum,
        "state_rows" -> ps.lastOption.map(_.stateRows).getOrElse(0L),
        "state_commit_ms" -> ps.map(_.stateCommitMs).sum)
    }.toMap
    Map("layers" -> layers, "queries" -> queries)
  }
}
