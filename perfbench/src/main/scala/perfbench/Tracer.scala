package perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerDriverAccumUpdates,
  SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}

/** Layer attribution from outside the program.
  *
  * The layers are the repository's modules. A stack frame names a layer
  * when it belongs to one of them; the innermost such frame wins, so a
  * `deleteInsert` called from `Pipeline.run` is `write.incremental`, and
  * `Pipeline.run`'s own frames are `pipeline` only when no deeper layer
  * is on the stack.
  */
object Layers {
  val all: Seq[String] =
    Seq("ingest", "write.incremental", "model", "quality", "write.snapshots", "pipeline")

  def ofFrame(cls: String, method: String): Option[String] =
    if (cls.startsWith("graft.quality.")) Some("quality")
    else if (cls.startsWith("graft.write.SnapshotTable")) Some("write.snapshots")
    else if (cls.startsWith("graft.ingest.")) Some("ingest")
    else if (cls == "graft.write.IncrementalWriter$" &&
      (method == "incrementalCut" || method == "deleteInsert")) Some("write.incremental")
    else if (cls == "graft.write.IncrementalWriter$" && method == "overwriteTable") Some("model")
    else if (cls == "graft.Pipeline$" && (method == "run" || method.startsWith("$anonfun$run$")))
      Some("pipeline")
    else None

  def ofStack(frames: Array[StackTraceElement]): Option[String] =
    frames.iterator.flatMap(f => ofFrame(f.getClassName, f.getMethodName)).nextOption()

  /** A call site's long form: one `class.method(File.scala:N)` per line. */
  def ofCallSite(longForm: String): Option[String] =
    longForm.linesIterator.flatMap { line =>
      val sig = line.trim.takeWhile(_ != '(')
      val dot = sig.lastIndexOf('.')
      if (dot <= 0) None else ofFrame(sig.substring(0, dot), sig.substring(dot + 1))
    }.nextOption()
}

/** Peak bytes of persisted RDD blocks, memory plus disk, while armed. */
final class CacheMeter extends SparkListener {
  private val sizes = mutable.HashMap.empty[String, Long]
  private var total = 0L
  private var peak = 0L
  @volatile var armed = false

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD) {
      val key = info.blockManagerId.executorId + "/" + info.blockId.name
      val now = if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
      total += now - sizes.getOrElse(key, 0L)
      if (now == 0L) sizes.remove(key) else sizes(key) = now
      if (armed) peak = math.max(peak, total)
    }
  }

  def arm(): Unit = synchronized { armed = true; peak = math.max(peak, total) }
  def disarm(): Unit = synchronized { armed = false }
  def peakBytes: Long = synchronized(peak)
}

/** Per-layer counters for one traced phase: job wall, driver gap, tasks,
  * shuffle and output volume. Jobs are attributed through the SQL
  * execution that ran them (`spark.sql.execution.id` → the execution's
  * call site), which also covers the AQE and broadcast jobs that run on
  * pool threads; a job outside any execution falls back to its stages'
  * call site, and a call site naming no layer to the benchmark span the
  * job started in. Driver time between jobs is attributed by sampling the
  * driver thread's stack. */
object Tracer {
  /** `named`: a call site named the layer (otherwise the span did). */
  private final case class Job(layer: String, named: Boolean, start: Long, var end: Long = -1L)
  private final case class Sample(t: Long, layer: Option[String])
  private val sampleMs = 2L
}

final class Tracer(driver: Thread) extends SparkListener with Span {
  import Tracer._

  private val execLayer = mutable.HashMap.empty[Long, (Option[String], Option[String])]
  private val writeAccums = mutable.HashMap.empty[Long, (Long, String)] // accum → (exec, metric)
  private val jobs = mutable.HashMap.empty[Int, Job]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val counters = mutable.HashMap.empty[String, Double].withDefaultValue(0.0)
  private val spans = mutable.ArrayBuffer.empty[(String, Long, Long)]
  @volatile private var open: Option[(String, Long)] = None
  private val samples = mutable.ArrayBuffer.empty[Sample]

  private val writeMetrics = Map(
    "number of written files" -> "files_written",
    "written output" -> "bytes_written",
    "number of output rows" -> "rows_written")

  /** The span open at `t`: only work started inside one is recorded. */
  private def spanAt(t: Long): Option[String] =
    open.filter(_._2 <= t).map(_._1)
      .orElse(spans.collectFirst { case (l, t0, t1) if t0 <= t && t <= t1 => l })

  private def collectWriteAccums(exec: Long, plan: SparkPlanInfo): Unit = {
    // only the write command's metrics: "number of output rows" also
    // names every scan and aggregate node's row count
    if (plan.metrics.exists(_.name == "number of written files"))
      plan.metrics.foreach { m =>
        writeMetrics.get(m.name).foreach(k => writeAccums(m.accumulatorId) = (exec, k))
      }
    plan.children.foreach(collectWriteAccums(exec, _))
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
    e match {
      case s: SparkListenerSQLExecutionStart =>
        execLayer(s.executionId) = (Layers.ofCallSite(s.details), spanAt(s.time))
        collectWriteAccums(s.executionId, s.sparkPlanInfo)
      case u: SparkListenerSQLAdaptiveExecutionUpdate =>
        collectWriteAccums(u.executionId, u.sparkPlanInfo)
      case d: SparkListenerDriverAccumUpdates =>
        for ((id, v) <- d.accumUpdates; (exec, k) <- writeAccums.get(id);
             (named, span) <- execLayer.get(exec); l <- named.orElse(span))
          counters(s"$l.$k") += v
      case _ =>
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val exec = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(id => execLayer.get(id.toLong))
    val named = exec.flatMap(_._1)
      .orElse(e.stageInfos.iterator.flatMap(s => Layers.ofCallSite(s.details)).nextOption())
    for (span <- spanAt(e.time)) {
      jobs(e.jobId) = Job(named.getOrElse(span), named.isDefined, e.time)
      e.stageIds.foreach(stageJob(_) = e.jobId)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    for (j <- stageJob.get(info.stageId); job <- jobs.get(j)) {
      counters(s"${job.layer}.tasks") += info.numTasks
      Option(info.taskMetrics).foreach { m =>
        counters(s"${job.layer}.shuffle_bytes") += m.shuffleWriteMetrics.bytesWritten
      }
    }
  }

  private val sampler = new Thread(() => {
    while (true) {
      if (open.isDefined) {
        val s = Sample(System.currentTimeMillis(), Layers.ofStack(driver.getStackTrace))
        synchronized { samples += s }
      }
      Thread.sleep(sampleMs)
    }
  }, "perfbench-sampler")
  sampler.setDaemon(true)
  sampler.start()

  /** Time `body` as a span of `layer`: the layer its driver time and
    * jobs fall back to when no stack frame names one. */
  def apply[T](layer: String)(body: => T): T = {
    val t0 = System.currentTimeMillis()
    open = Some((layer, t0))
    try body finally {
      val t1 = System.currentTimeMillis()
      synchronized { open = None; spans += ((layer, t0, t1)) }
    }
  }

  /** The per-layer split of the spans recorded so far. Each millisecond
    * of a span goes to the layer of a job running then, or, between jobs,
    * to the layer of the latest driver stack sample (the span's own layer
    * when no sample names one). So per layer `s = job_s + driver_gap_s`. */
  def report(): Map[String, Double] = synchronized {
    val out = mutable.LinkedHashMap.empty[String, Double]
    val wall = mutable.HashMap.empty[String, Long].withDefaultValue(0L)
    val jobWall = mutable.HashMap.empty[String, Long].withDefaultValue(0L)
    val jobCount = mutable.HashMap.empty[String, Int].withDefaultValue(0)
    val done = jobs.values.filter(_.end >= 0).toSeq.sortBy(_.start)
    val sorted = samples.sortBy(_.t)
    for ((spanLayer, t0, t1) <- spans) {
      val inSpan = done.filter(j => j.start >= t0 && j.start <= t1)
      inSpan.foreach(j => jobCount(j.layer) += 1)
      val ss = sorted.filter(s => s.t >= t0 && s.t <= t1)
      var si = 0
      var last: Option[String] = None
      var t = t0
      while (t < t1) {
        while (si < ss.size && ss(si).t <= t) { last = ss(si).layer; si += 1 }
        val running = inSpan.find(j => j.start <= t && t < j.end)
        val layer = running.map(_.layer).getOrElse(last.getOrElse(spanLayer))
        wall(layer) += 1
        if (running.isDefined) jobWall(layer) += 1
        t += 1
      }
    }
    for (l <- Layers.all) {
      out(s"$l.s") = wall(l) / 1000.0
      out(s"$l.jobs") = jobCount(l).toDouble
      out(s"$l.job_s") = jobWall(l) / 1000.0
      out(s"$l.driver_gap_s") = (wall(l) - jobWall(l)) / 1000.0
      for (k <- Seq("tasks", "shuffle_bytes", "files_written", "bytes_written", "rows_written"))
        out(s"$l.$k") = counters(s"$l.$k")
    }
    // jobs no call site placed: the benchmark span they ran in did
    out("trace.unattributed_jobs") = jobs.values.count(!_.named).toDouble
    out.toMap
  }
}
