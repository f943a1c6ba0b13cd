package graft.perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Wall-clock spans the harness opens around each call into a layer,
  * plus (traced runs only) the Spark events those calls cause.
  *
  * A span also names its layer in a SparkContext local property, which
  * every job submitted inside it carries (threads a layer starts, such as
  * a streaming query's, inherit it), so jobs are attributed to layers
  * exactly. No code inside the program is touched. Untraced runs keep
  * only the spans.
  */
final class Trace(val traced: Boolean, sc: org.apache.spark.SparkContext) {

  final case class Span(layer: String, start: Long, end: Long)
  final class JobRec(val layer: String, val broadcast: Boolean, val submit: Long,
      val stages: Seq[Int]) {
    var end: Long = -1L
  }
  final class TaskAgg {
    var shuffleWrite = 0L
    var gcMs = 0L
    var recordsWritten = 0L
    var cpuNs = 0L
  }
  final case class Progress(query: String, triggerMs: Long, addBatchMs: Long,
      planningMs: Long, stateRows: Long, stateCommitMs: Long)

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
  private val stageTasks = new java.util.concurrent.ConcurrentHashMap[Int, TaskAgg]()
  private val progress = new java.util.concurrent.ConcurrentLinkedQueue[Progress]()

  /** Time `body` as one call into `layer`. */
  def layer[T](name: String)(body: => T): T = {
    val prev = sc.getLocalProperty(Trace.LayerKey)
    sc.setLocalProperty(Trace.LayerKey, name)
    val t0 = System.currentTimeMillis()
    try body
    finally {
      val t1 = System.currentTimeMillis()
      sc.setLocalProperty(Trace.LayerKey, prev)
      synchronized { spans += Span(name, t0, t1) }
      if (prev == null) System.err.println(s"[perfbench] $name ${t1 - t0} ms")
    }
  }

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
      // broadcast builds carry their runId in the job description (older
      // Spark) or in a job tag (Spark 4)
      val broadcast = Seq("spark.job.description", "spark.job.tags").flatMap(prop)
        .exists(_.toLowerCase.contains("broadcast"))
      jobs.put(e.jobId, new JobRec(prop(Trace.LayerKey).getOrElse("other"), broadcast,
        e.time, e.stageIds))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val j = jobs.get(e.jobId)
      if (j != null) j.end = e.time
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) {
        val a = stageTasks.computeIfAbsent(e.stageId, _ => new TaskAgg)
        a.synchronized {
          a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          a.gcMs += m.jvmGCTime
          a.recordsWritten += m.outputMetrics.recordsWritten
          a.cpuNs += m.executorCpuTime
        }
      }
    }
  }

  val queryListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      def ms(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue()).getOrElse(0L)
      val ops = Option(p.stateOperators).getOrElse(Array.empty)
      progress.add(Progress(p.name, ms("triggerExecution"), ms("addBatch"),
        ms("queryPlanning"), ops.map(_.numRowsTotal).sum, ops.map(_.commitTimeMs).sum))
    }
  }

  /** Streaming progress is per session: pass the session the hops run in. */
  def install(spark: SparkSession): Unit = if (traced) {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.streams.addListener(queryListener)
  }

  def drain(spark: SparkSession): Unit = if (traced)
    org.apache.spark.GraftListenerBridge.drainListenerBus(spark.sparkContext)

  /** Per-layer roll-up of the recorded spans and Spark events. */
  final class LayerAgg {
    var wallMs = 0L
    var jobs = 0L
    var jobMs = 0L
    var shuffleBytes = 0L
    var gcMs = 0L
    var recordsWritten = 0L
    var taskCpuMs = 0L
    var broadcastJobMs = 0L
  }

  /** A layer's job time is the union of its jobs' [submit, end]
    * intervals (concurrent jobs of one layer are not double-counted). */
  def rollup(): Map[String, LayerAgg] = synchronized {
    val out = mutable.Map.empty[String, LayerAgg]
    spans.foreach { s =>
      val a = out.getOrElseUpdate(s.layer, new LayerAgg)
      a.wallMs += s.end - s.start
    }
    val intervals = mutable.Map.empty[String, mutable.ArrayBuffer[(Long, Long)]]
    jobs.values().forEach { j =>
      val a = out.getOrElseUpdate(j.layer, new LayerAgg)
      a.jobs += 1
      j.stages.foreach { st =>
        val t = stageTasks.get(st)
        if (t != null) {
          a.shuffleBytes += t.shuffleWrite; a.gcMs += t.gcMs
          a.recordsWritten += t.recordsWritten
          a.taskCpuMs += t.cpuNs / 1000000L
        }
      }
      val end = math.max(j.submit, if (j.end < 0) j.submit else j.end)
      intervals.getOrElseUpdate(j.layer, mutable.ArrayBuffer.empty) += ((j.submit, end))
      if (j.broadcast) a.broadcastJobMs += end - j.submit
    }
    intervals.foreach { case (layer, ivs) =>
      var covered = 0L
      var curS = -1L
      var curE = -1L
      ivs.sortBy(_._1).foreach { case (s, e) =>
        if (s > curE) { if (curE > curS) covered += curE - curS; curS = s; curE = e }
        else curE = math.max(curE, e)
      }
      if (curE > curS) covered += curE - curS
      out(layer).jobMs = covered
    }
    out.toMap
  }

  def progressFor(query: String): Seq[Progress] = {
    val b = mutable.ArrayBuffer.empty[Progress]
    progress.forEach(p => if (p.query == query) b += p)
    b.toSeq
  }
}

object Trace {
  val LayerKey = "perfbench.layer"
}
