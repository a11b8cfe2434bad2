package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.functions._

/** Closed-loop benchmark driver: one client, each op starts when the
  * previous one has finished.
  *
  * {{{
  * Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir> --out <dir>
  * }}}
  *
  * Prints a `{"meta": ...}` line, then as its last line the result object
  * `{"correct", "attempted", "failed", "metrics"}`: end-to-end metrics with
  * `--trace 0`, per-layer metrics with `--trace 1`. */
object Main {

  /** Untimed ops after set-up, so the JIT and caches are warm. */
  val WarmupOps: Map[String, Int] = Map("incremental_append" -> 4, "stream_upsert" -> 1,
    "store_lifecycle" -> 1)

  final case class OpRec(k: Int, traced: Boolean, startMs: Long, endMs: Long,
                         seconds: Double, rows: Long, liveHeapMb: Double,
                         codegenMs: Double, fs: FsStats.Snap, batchBytes: Long)

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    require(Workloads.Names.contains(workload), s"unknown workload '$workload'")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt.getOrElse("trace", "0") == "1"
    val work = new java.io.File(opt("work"),
      s"$workload-$seed-${ProcessHandle.current().pid()}").getAbsolutePath
    val cores = math.min(4, Runtime.getRuntime.availableProcessors())
    val loadStart = loadAvg()

    val t0 = System.nanoTime()
    val builder = graft.core.GraftSession.builder(s"local[$cores]")
      .appName("perfbench")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
    if (trace) {
      builder.config("spark.hadoop.fs.file.impl", classOf[CountingLocalFileSystem].getName)
    }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = secondsSince(t0)

    val rec = new Recorder
    spark.sparkContext.addSparkListener(rec)
    spark.listenerManager.register(rec.queryListener)
    spark.streams.addListener(rec.streamListener)
    val tracer = new Tracer(spark.sparkContext)
    val ctx = new Ctx(spark, seed, cores, tracer)
    val wl = Workloads(workload, ctx)
    def drain(): Unit = org.apache.spark.PerfbenchBus.drain(spark.sparkContext)

    val failures = mutable.ArrayBuffer.empty[String]
    var failed = 0
    def attempt[T](what: String)(body: => T): Option[T] =
      try Some(body)
      catch {
        case e: Throwable =>
          failed += 1
          failures += s"$what: $e"
          e.printStackTrace()
          None
      }

    val ts = System.nanoTime()
    wl.setup(s"$work/setup")
    val buildS = secondsSince(ts)
    val tw = System.nanoTime()
    val warmup = WarmupOps(workload)
    for (k <- 0 until warmup) {
      wl.prepare(k)
      if (attempt(s"warm-up op $k")(wl.op(k)).isDefined) failures ++= wl.checkOp(k)
    }
    val warmupS = secondsSince(tw)
    val setupS = sessionS + buildS + warmupS

    val probeBefore = Probe.run(spark)
    val ops = mutable.ArrayBuffer.empty[OpRec]
    val loopStart = System.nanoTime()
    var k = warmup
    // a traced run times at least one untraced op too, for the overhead
    while ((secondsSince(loopStart) < seconds || (trace && k - warmup < 2)) &&
        k < wl.capacity) {
      val traced = trace && (k - warmup) % 2 == 0
      wl.prepare(k)
      drain()
      rec.detailed = traced
      tracer.on = traced
      tracer.op = k
      val bytes = if (traced) wl.batchBytes(k) else 0L
      val fs0 = FsStats.snap()
      val cg0 = CodeGenerator.compileTime
      val startMs = System.currentTimeMillis()
      val t = System.nanoTime()
      val rows = attempt(s"op $k")(tracer.span("op")(wl.op(k)))
      val s = secondsSince(t)
      val endMs = System.currentTimeMillis()
      val cgMs = (CodeGenerator.compileTime - cg0) / 1e6
      val fs = FsStats.snap() - fs0
      tracer.on = false
      drain()
      rec.detailed = false
      val liveMb = liveHeapMb()
      rows.foreach { n =>
        ops += OpRec(k, traced, startMs, endMs, s, n, liveMb, cgMs, fs, bytes)
        failures ++= wl.checkOp(k)
      }
      k += 1
    }
    val loopS = secondsSince(loopStart)
    drain()
    val tc = System.nanoTime()
    failures ++= attempt("final checks")(wl.check()).getOrElse(Nil)
    val checkS = secondsSince(tc)
    val probeAfter = Probe.run(spark)
    val loadEnd = loadAvg()

    val attempted = ops.size + failed
    val untraced = ops.filter(!_.traced).map(_.seconds).toSeq
    val metrics: Seq[(String, Double, String)] =
      if (ops.isEmpty) Nil
      else if (!trace) {
        val all = ops.map(_.seconds).toSeq
        Seq(
          ("setup_s", setupS, "s"),
          ("op_p50_s", Stats.median(all), "s"),
          ("op_tail_s", Stats.tail(all)._2, "s"),
          ("rows_per_s", ops.map(_.rows).sum / all.sum, "rows/s"),
          ("jobs_per_op", ops.map(o => jobsIn(rec, o).size).sum.toDouble / ops.size, "count"),
          ("heap_peak_mb", ops.map(_.liveHeapMb).max, "MB"))
      } else LayerMetrics(rec, tracer, ops.filter(_.traced).toSeq, untraced, wl.layerExtras())

    val (tailLabel, _) = if (ops.isEmpty) ("none", 0.0) else Stats.tail(ops.map(_.seconds).toSeq)
    val meta = Json.obj(Seq(
      "workload" -> Json.str(workload), "seed" -> seed.toString,
      "seconds" -> Json.num(seconds), "trace" -> trace.toString,
      "cores" -> cores.toString, "warmup_ops" -> warmup.toString,
      "samples" -> ops.size.toString, "op_tail_percentile" -> Json.str(tailLabel),
      "op_s" -> Json.arr(ops.toSeq.map(o => Json.num(o.seconds))),
      "setup_session_s" -> Json.num(sessionS),
      "setup_build_s" -> Json.num(buildS),
      "warmup_s" -> Json.num(warmupS), "loop_s" -> Json.num(loopS), "check_s" -> Json.num(checkS),
      "probe_before" -> probeJson(probeBefore), "probe_after" -> probeJson(probeAfter),
      "loadavg_start" -> Json.num(loadStart), "loadavg_end" -> Json.num(loadEnd),
      "failures" -> Json.arr(failures.toSeq.map(Json.str))))
    println(s"""{"meta": $meta}""")
    if (trace) TraceFile.write(opt.getOrElse("out", work), workload, seed, tracer, rec, ops.toSeq)

    spark.stop()
    deleteTree(new java.io.File(work))
    val metricsJson = Json.obj(metrics.map { case (n, v, u) =>
      n -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
    })
    val correct = failures.isEmpty && ops.nonEmpty
    println(s"""{"correct": $correct, "attempted": ${math.max(attempted, 1)}, """ +
      s""""failed": $failed, "metrics": $metricsJson}""")
  }

  /** Jobs started inside an op's wall-clock interval. */
  def jobsIn(rec: Recorder, o: OpRec): Seq[Rec.Job] = rec.synchronized {
    rec.jobs.filter(j => j.startMs >= o.startMs && j.startMs <= o.endMs).toSeq
  }

  private def secondsSince(t: Long): Double = (System.nanoTime() - t) / 1e9
  /** Heap still in use after a full GC. Spark's cleaner frees broadcast and
    * shuffle blocks only after a GC has dropped their last reference, so
    * the heap is collected again, each time after the cleaner has had a
    * turn, until it stops shrinking. */
  private def liveHeapMb(): Double = {
    def collect(): Double = {
      System.gc()
      Thread.sleep(100)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
    }
    Iterator.iterate((Double.MaxValue, collect())) { case (_, now) => (now, collect()) }
      .take(10).find { case (prev, now) => now > prev - 1.0 }.fold(collect())(_._2)
  }
  private def loadAvg(): Double =
    ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage
  private def probeJson(p: (Double, Double)): String =
    Json.obj(Seq("cpu_s" -> Json.num(p._1), "shuffle_s" -> Json.num(p._2)))

  private def deleteTree(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }
}

/** Box calibration: a fixed pure-CPU loop and one small shuffle. Its times
  * are run metadata, so a slower or busier machine shows as a number. */
object Probe {
  /** Keeps the loop's result observable, so the JIT cannot drop the loop. */
  @volatile private var sink = 0L

  def run(spark: SparkSession): (Double, Double) = {
    val t0 = System.nanoTime()
    var x = 1L
    var i = 0
    while (i < 200000000) { x = x * 6364136223846793005L + 1442695040888963407L; i += 1 }
    sink = x
    val cpu = (System.nanoTime() - t0) / 1e9
    val t1 = System.nanoTime()
    spark.range(0, 400000, 1, 4).groupBy(col("id") % 97).count().collect()
    (cpu, (System.nanoTime() - t1) / 1e9)
  }
}

/** Minimal JSON rendering; numbers keep every digit. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
  def arr(vs: Seq[String]): String = vs.mkString("[", ", ", "]")
}
