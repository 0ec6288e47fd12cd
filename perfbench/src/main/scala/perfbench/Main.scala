package perfbench

import scala.collection.mutable

/** The benchmark program: one Spark session at `local[nproc]`, one closed-loop
  * client. Sets the workload up, times iterations of it until the run's
  * budget is spent, checks every iteration's output, and prints the
  * result as the last line of standard output:
  *
  * {{{
  * perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                --work <dir> [--sf <scale>]
  * }}}
  *
  * With `--trace 0` the result holds the end-to-end metrics. With
  * `--trace 1` it holds the per-layer split of one traced iteration and
  * the tracing overhead, traced minus untraced wall of further reruns.
  */
object Main {
  private final case class Opts(workload: String, seed: Long, seconds: Double,
                                trace: Boolean, work: String, sf: Double)

  private def parse(args: Array[String]): Opts = {
    val kv = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, sys.error(s"missing --$k"))
    val o = Opts(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("work"), kv.get("sf").map(_.toDouble).getOrElse(0.01))
    require(Workload.names.contains(o.workload), s"unknown workload ${o.workload}")
    require(o.seconds > 0 && o.sf > 0, "seconds and sf must be positive")
    o
  }

  /** A fixed, data-free CPU probe: one LCG loop on every core at once,
    * the best of three. It slows when other work holds the cores. */
  private def cpuProbe(cores: Int): Double = {
    def loop(): Long = {
      var x = 1L
      var i = 0
      while (i < 50000000) { x = x * 6364136223846793005L + 1442695040888963407L; i += 1 }
      x
    }
    (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      val threads = (1 to cores).map(_ => new Thread(() => { if (loop() == 42L) println() }))
      threads.foreach(_.start())
      threads.foreach(_.join())
      (System.nanoTime() - t0) / 1e9
    }.min
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Median, sample count, and the highest percentile with at least ten
    * samples beyond it (none below 20 samples). */
  private def summary(xs: Seq[Double]): String = {
    val s = xs.sorted
    val n = s.size
    val pmax = if (n < 20) "null" else {
      val p = math.floor(100.0 * (n - 10) / n).toInt
      s"""{"p": $p, "value": ${s(math.min(n - 1, math.ceil(p / 100.0 * n).toInt - 1))}}"""
    }
    s"""{"median": ${median(s)}, "n": $n, "pmax": $pmax}"""
  }

  private def unit(metric: String): String =
    if (metric.endsWith(".s") || metric.endsWith("_s")) "s"
    else if (metric.contains("bytes")) "bytes"
    else if (Workload.extraNames.contains(metric)) "ratio"
    else "count"

  private def json(m: Map[String, (Double, String)]): String =
    m.toSeq.sortBy(_._1).map { case (k, (v, u)) =>
      s""""$k": {"value": $v, "unit": "$u"}""" }.mkString("{", ", ", "}")

  def main(args: Array[String]): Unit = {
    val start = System.nanoTime()
    val o = parse(args)
    val cores = Runtime.getRuntime.availableProcessors()
    val probeBefore = cpuProbe(cores)
    val t0 = System.nanoTime()
    val spark = graft.GraftSession.local(cores)
    spark.sparkContext.setLogLevel("ERROR")
    val meter = new CacheMeter
    spark.sparkContext.addSparkListener(meter)
    val env = Env(spark, o.work + "/data", o.seed)
    env.delete(env.work)
    val w = Workload(o.workload, env)
    def log(what: String): Unit =
      System.err.println(f"[perfbench] ${(System.nanoTime() - start) / 1e9}%7.2f s  $what")
    log("session started")
    Corpus.write(spark, env.corpus, o.sf, o.seed, cores)
    log("corpus written")
    w.setup()
    log("workload set up")

    val restores = mutable.ArrayBuffer.empty[Double]
    val ops = mutable.ArrayBuffer.empty[Op]
    val iterWalls = mutable.ArrayBuffer.empty[Double]
    // an iteration's wall is the sum of its timed operations: the restore
    // before it and the output checks between and after them are untimed
    def restore(): Unit = {
      val r0 = System.nanoTime()
      w.restore()
      restores += (System.nanoTime() - r0) / 1e9
    }
    def iterate(span: Span): Unit = {
      restore()
      meter.arm()
      val os = try w.iterate(span) finally meter.disarm()
      ops ++= os
      iterWalls += os.map(_.seconds).sum
    }
    // the per-iteration restore is set-up too; take it several times
    restore(); restore()
    // warm-up iterations are set-up too; their outputs are checked
    val warm = (1 to w.warmups).flatMap { _ => restore(); w.iterate(Span.untraced) }
    if (warm.nonEmpty) log(s"${w.warmups} warm-up iterations done")
    val oneTime = (System.nanoTime() - t0) / 1e9 - restores.sum

    val metrics = mutable.Map.empty[String, (Double, String)]
    val details = mutable.LinkedHashMap.empty[String, String]
    if (!o.trace) {
      // closed loop: iterate until the timed operations add up to --seconds
      do iterate(Span.untraced)
      while (iterWalls.sum < o.seconds)
      log(s"${iterWalls.size} timed iterations done")
      metrics("setup_s") = (oneTime + median(restores.toSeq), "s")
      metrics("refresh_s") = (median(iterWalls.toSeq), "s")
      metrics("space_amp") = (w.spaceAmp(), "ratio")
      metrics("cache_peak_mb") = (meter.peakBytes / 1048576.0, "MB")
      details("setup_s") = summary(restores.map(_ + oneTime).toSeq)
      details("refresh_s") = summary(iterWalls.toSeq)
      details("iterations_s") = iterWalls.mkString("[", ", ", "]")
    } else {
      // The split is taken from the first timed iteration, the one an
      // untraced run times first. The tracing overhead is read from one
      // untraced and one traced rerun of the workload's rerun unit.
      val tracer = new Tracer(Thread.currentThread())
      spark.sparkContext.addSparkListener(tracer)
      val from = ops.size
      iterate(tracer)
      org.apache.spark.ListenerDrain(spark.sparkContext)
      val layers = tracer.report()
      val extras = Workload.extraNames.map(_ -> 0.0).toMap ++ w.traceExtras(layers)
      for ((k, v) <- layers ++ extras) metrics(k) = (v, unit(k))
      for (k <- SnapshotDml.kinds) {
        val xs = ops.drop(from).filter(_.kind == k).map(_.seconds).toSeq
        metrics(s"write.snapshots.${k}_s") = (if (xs.isEmpty) 0.0 else median(xs), "s")
      }
      val walls = Seq(Span.untraced, tracer)
        .map { span => val os = w.rerun(span); ops ++= os; os.map(_.seconds).sum }
      metrics("trace.overhead_s") = (walls(1) - walls(0), "s")
    }
    for ((k, os) <- ops.groupBy(_.kind)) details(s"${k}_s") = summary(os.map(_.seconds).toSeq)
    val attempted = warm.size + ops.size
    val failed = (warm ++ ops).count(!_.ok)
    if (!o.trace) metrics("ok_rate") = ((attempted - failed).toDouble / attempted, "ratio")
    log("checked")
    val probeAfter = cpuProbe(cores)

    val stamp = Seq(
      "workload" -> s""""${o.workload}"""", "seed" -> o.seed.toString, "sf" -> o.sf.toString,
      "trace" -> o.trace.toString, "nproc" -> cores.toString,
      "master" -> s""""${spark.sparkContext.master}"""",
      "driver_heap_mb" -> (Runtime.getRuntime.maxMemory / 1048576).toString,
      "spark" -> s""""${spark.version}"""",
      "jvm" -> s""""${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}"""",
      "cpu_probe_before_s" -> probeBefore.toString, "cpu_probe_after_s" -> probeAfter.toString,
      "iterations" -> iterWalls.size.toString,
      // a traced run's one timed iteration, whose split the metrics hold
      "traced_iteration_s" -> (if (o.trace) iterWalls.head.toString else "null"),
      "wall_s" -> ((System.nanoTime() - start) / 1e9).toString)
    println(s"""{"stamp": {${stamp.map { case (k, v) => s""""$k": $v""" }.mkString(", ")}}, """ +
      s""""detail": {${details.map { case (k, v) => s""""$k": $v""" }.mkString(", ")}}}""")
    spark.stop()
    println(s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, """ +
      s""""metrics": ${json(metrics.toMap)}}""")
  }
}
