package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlanInfo}
import org.apache.spark.sql.execution.ui.{SparkListenerDriverAccumUpdates,
  SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionEnd,
  SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval at a benchmark call boundary into the library.
  * `parent` is -1 for a top-level span; spans of one op share `op`. */
final case class Span(id: Int, parent: Int, op: Int, name: String,
                      startNs: Long, endNs: Long)

/** Records spans around the benchmark's calls into each module, and tags
  * the Spark jobs they launch with the span as job group. Single client
  * thread; spans are kept in memory until the run ends. */
final class Tracer(sc: SparkContext) {
  @volatile var on = false
  var op: Int = -1
  private val finished = mutable.ArrayBuffer.empty[Span]
  private var open: List[(Int, String)] = Nil
  private var nextId = 0

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = nextId
      nextId += 1
      val parent = open.headOption.fold(-1)(_._1)
      open = (id, name) :: open
      sc.setJobGroup(s"span-$id", name)
      val start = System.nanoTime()
      try body
      finally {
        val end = System.nanoTime()
        open = open.tail
        open.headOption match {
          case Some((p, n)) => sc.setJobGroup(s"span-$p", n)
          case None => sc.clearJobGroup()
        }
        finished += Span(id, parent, op, name, start, end)
      }
    }

  def spans: Seq[Span] = finished.toSeq
}

object Spans {
  /** Length of the union of `[start, end)` intervals. */
  def unionLength(iv: Seq[(Long, Long)]): Long =
    iv.filter { case (s, e) => e > s }.sortBy(_._1)
      .foldLeft((0L, Long.MinValue)) { case ((acc, reach), (s, e)) =>
        if (e <= reach) (acc, reach)
        else (acc + e - math.max(s, reach), e)
      }._1

  /** A span's duration minus the part of it its child spans cover. */
  def selfNs(s: Span, all: Seq[Span]): Long =
    (s.endNs - s.startNs) - unionLength(all.filter(_.parent == s.id)
      .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs))))
}

/** Listener-side records. Times are driver wall-clock milliseconds, the
  * clock Spark stamps its events with. */
object Rec {
  final case class Job(id: Int, startMs: Long, module: String, group: String, site: String) {
    var endMs: Long = -1L
  }
  final case class Stage(id: Int, submitMs: Long, module: String, tasks: Int) {
    var shuffleWriteBytes = 0L
    var spillBytes = 0L
  }
  final case class Sql(id: Long, startMs: Long, module: String) {
    var analysisMs = 0.0
    var optimizationMs = 0.0
    var planningMs = 0.0
    var filesWritten = 0L
    var bytesWritten = 0L
    var partsWritten = 0L
  }
  final case class Progress(startMs: Long, durations: Map[String, Long])
}

/** Spark listener for jobs, stages, tasks and SQL executions. Jobs are
  * always recorded (the end-to-end `jobs_per_op` needs them); everything
  * else only while `detailed` is set. */
final class Recorder extends SparkListener {
  import Rec._
  @volatile var detailed = false

  val jobs = mutable.ArrayBuffer.empty[Job]
  val stages = mutable.ArrayBuffer.empty[Stage]
  val sqls = mutable.LinkedHashMap.empty[Long, Sql]
  private val jobById = mutable.HashMap.empty[Int, Job]
  private val stageById = mutable.HashMap.empty[Int, Stage]
  /** Module of the job each stage was submitted for. */
  private val stageModule = mutable.HashMap.empty[Int, String]
  /** Driver-side write metrics by accumulator id, from the plan infos. */
  private val writeAccums = mutable.HashMap.empty[Long, String]

  /** A job's module: its own call site's, else (a broadcast or other job
    * launched from an engine thread, whose stack holds no library frame)
    * that of the SQL execution it runs for. */
  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val site = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).details
    def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
    val module = Layers.moduleOf(site) match {
      case Layers.Unattributed => prop("spark.sql.execution.id")
        .flatMap(id => sqls.get(id.toLong)).fold(Layers.Unattributed)(_.module)
      case m => m
    }
    val j = Job(e.jobId, e.time, module, prop("spark.jobGroup.id").getOrElse(""),
      site.linesIterator.take(3).mkString(" | "))
    jobs += j
    jobById(e.jobId) = j
    e.stageInfos.foreach(i => stageModule(i.stageId) = module)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobById.remove(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    if (detailed) {
      val i = e.stageInfo
      val module = Layers.moduleOf(i.details) match {
        case Layers.Unattributed => stageModule.getOrElse(i.stageId, Layers.Unattributed)
        case m => m
      }
      val s = Stage(i.stageId, i.submissionTime.getOrElse(System.currentTimeMillis()),
        module, i.numTasks)
      stages += s
      stageById(i.stageId) = s
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageById.remove(e.stageInfo.stageId)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (s <- stageById.get(e.stageId); m <- Option(e.taskMetrics)) {
      s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  private def collectWriteAccums(p: SparkPlanInfo): Unit = {
    p.metrics.foreach { m =>
      Recorder.WriteMetrics.get(m.name).foreach(k => writeAccums(m.accumulatorId) = k)
    }
    p.children.foreach(collectWriteAccums)
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
    if (detailed) e match {
      case s: SparkListenerSQLExecutionStart =>
        sqls(s.executionId) = Sql(s.executionId, s.time, Layers.moduleOf(s.details))
        collectWriteAccums(s.sparkPlanInfo)
      case end: SparkListenerSQLExecutionEnd => phasesWithoutEnd match {
        case Some(qe) => attach(end.executionId, qe); phasesWithoutEnd = None
        case None => endedWithoutPhases = Some(end.executionId)
      }
      case u: SparkListenerSQLAdaptiveExecutionUpdate =>
        collectWriteAccums(u.sparkPlanInfo)
      case d: SparkListenerDriverAccumUpdates =>
        sqls.get(d.executionId).foreach { q =>
          d.accumUpdates.foreach { case (id, v) =>
            writeAccums.get(id).foreach {
              case "files" => q.filesWritten += v
              case "bytes" => q.bytesWritten += v
              case "parts" => q.partsWritten += v
            }
          }
        }
      case _ =>
    }
  }

  // A query's planning phases reach the QueryExecutionListener, which knows
  // no SQL execution id; it is delivered right beside that execution's end
  // event on the same listener queue, in either order. Whichever of the two
  // comes first waits here for the other.
  private var endedWithoutPhases: Option[Long] = None
  private var phasesWithoutEnd: Option[QueryExecution] = None

  private def attach(execId: Long, qe: QueryExecution): Unit =
    sqls.get(execId).foreach { q =>
      val ph = qe.tracker.phases
      def ms(k: String): Double = ph.get(k).fold(0.0)(_.durationMs.toDouble)
      q.analysisMs += ms("analysis")
      q.optimizationMs += ms("optimization")
      q.planningMs += ms("planning")
    }

  def onQuery(qe: QueryExecution): Unit = synchronized {
    if (detailed) endedWithoutPhases match {
      case Some(id) => attach(id, qe); endedWithoutPhases = None
      case None => phasesWithoutEnd = Some(qe)
    }
  }

  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      onQuery(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      onQuery(qe)
  }

  /** Micro-batch progress of streaming queries. */
  val progress = mutable.ArrayBuffer.empty[Progress]
  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Recorder.this.synchronized {
        if (detailed) {
          val p = e.progress
          progress += Progress(java.time.Instant.parse(p.timestamp).toEpochMilli,
            p.durationMs.asScala.map { case (k, v) => (k, v.longValue) }.toMap)
        }
      }
  }
}

object Recorder {
  /** Names of the write-command metrics Spark reports per SQL execution. */
  val WriteMetrics: Map[String, String] = Map(
    "number of written files" -> "files",
    "written output" -> "bytes",
    "number of dynamic part" -> "parts")
}

/** Process-wide filesystem counters (local mode: driver and executors
  * share them). The local filesystem keeps no operation counts in its
  * Hadoop statistics, so traced runs install [[CountingLocalFileSystem]] as
  * the `file:` implementation; bytes written come from the statistics. */
object FsStats {
  final case class Snap(readOps: Long, writeOps: Long, bytesWritten: Long) {
    def -(o: Snap): Snap = Snap(readOps - o.readOps, writeOps - o.writeOps,
      bytesWritten - o.bytesWritten)
  }
  val readOps = new java.util.concurrent.atomic.LongAdder
  val writeOps = new java.util.concurrent.atomic.LongAdder

  @annotation.nowarn("cat=deprecation")
  def snap(): Snap = Snap(readOps.sum(), writeOps.sum(),
    org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala.map(_.getBytesWritten).sum)
}

/** The local filesystem, counting metadata reads (status, listing, open)
  * and metadata writes (create, rename, delete, mkdirs). */
class CountingLocalFileSystem extends org.apache.hadoop.fs.LocalFileSystem {
  import org.apache.hadoop.fs.{FSDataOutputStream, FileStatus, Path}
  import org.apache.hadoop.fs.permission.FsPermission
  import org.apache.hadoop.util.Progressable
  private def read[T](body: => T): T = { FsStats.readOps.increment(); body }
  private def write[T](body: => T): T = { FsStats.writeOps.increment(); body }

  override def getFileStatus(f: Path): FileStatus = read(super.getFileStatus(f))
  override def listStatus(f: Path): Array[FileStatus] = read(super.listStatus(f))
  override def open(f: Path, bufferSize: Int) = read(super.open(f, bufferSize))
  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
                      replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream =
    write(super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress))
  override def rename(src: Path, dst: Path): Boolean = write(super.rename(src, dst))
  override def delete(f: Path, recursive: Boolean): Boolean = write(super.delete(f, recursive))
  override def mkdirs(f: Path, permission: FsPermission): Boolean =
    write(super.mkdirs(f, permission))
}
