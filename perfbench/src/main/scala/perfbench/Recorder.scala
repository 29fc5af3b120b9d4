package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Traced-run recorder: per-query spans timed from outside the engine,
  * plus a SparkListener and a StreamingQueryListener that keep what the
  * scheduler and the stream engine did. Everything stays in memory and
  * is rendered once by [[dump]].
  *
  * Each query gets one id. Its root span (phase `query`) is the parent
  * of its phase spans. The query id and the current phase travel with
  * every job as Spark local properties (stream threads inherit them from
  * the thread that starts the query), so each job is attributed to a
  * query and a phase. Its call site's source file comes from its SQL
  * execution's description, else from its result stage's name (both
  * `<action> at <File>.scala:<line>`).
  */
class Recorder(spark: SparkSession) {
  import Recorder._

  private val sc = spark.sparkContext
  private case class Span(id: Int, qid: Int, key: String, phase: String,
      start: Double, end: Double, parent: Int)
  private val spans = ArrayBuffer.empty[Span]
  @volatile private var currentQid = -1
  private var lastSeconds = 0.0

  final class Phase private[Recorder] (qid: Int, key: String, parent: Int) {
    def apply[T](name: String)(body: => T): T = {
      sc.setLocalProperty(PhaseProp, name)
      val t0 = clock()
      try body
      finally {
        spans += Span(spans.size, qid, key, name, t0, clock(), parent)
        sc.setLocalProperty(PhaseProp, null)
      }
    }
  }

  /** Run one query under a fresh id; returns "" or the error it threw. */
  def query(key: String)(body: Phase => Unit): String = {
    val qid = spans.count(_.phase == "query")
    val root = spans.size
    spans += Span(root, qid, key, "query", clock(), Double.NaN, -1)
    currentQid = qid
    sc.setLocalProperty(QidProp, qid.toString)
    val e = try { body(new Phase(qid, key, root)); "" }
      catch { case e: Throwable => s"${e.getClass.getSimpleName}: ${e.getMessage}".take(200) }
    sc.setLocalProperty(QidProp, null)
    val r = spans(root)
    spans(root) = r.copy(end = clock())
    lastSeconds = spans(root).end - r.start
    e
  }

  def lastQuerySeconds: Double = lastSeconds

  private case class Task(launch: Double, finish: Double, runS: Double, cpuS: Double,
      gcS: Double, input: Long, shRead: Long, shWrite: Long, spill: Long)
  private class Stage(val id: Int, val name: String, val numTasks: Int) {
    var submitted = Double.NaN
    val tasks = ArrayBuffer.empty[Task]
  }
  private case class Job(id: Int, qid: Int, phase: String, stream: Boolean, site: String,
      start: Double, var end: Double, stageIds: Seq[Int], var idle: Double)

  private val stages = scala.collection.mutable.Map.empty[Int, Stage]
  private val execSite = scala.collection.mutable.Map.empty[Long, String]
  private val jobs = scala.collection.mutable.LinkedHashMap.empty[Int, Job]
  private case class Progress(qid: Int, durations: Map[String, Long], stateRows: Long, stateBytes: Long)
  private val progress = ArrayBuffer.empty[Progress]
  @volatile private var lastEvent = clock()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      lastEvent = clock()
      val p = Option(e.properties)
      def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
      e.stageInfos.foreach(s => stages.getOrElseUpdate(s.stageId, new Stage(s.stageId, s.name, s.numTasks)))
      // AQE submits each query stage as its own job from an internal
      // thread, so those jobs take the call site of their SQL execution
      val site = prop("spark.sql.execution.id").flatMap(id => execSite.get(id.toLong)).filter(_.nonEmpty)
        .getOrElse(e.stageInfos.sortBy(_.stageId).lastOption.map(s => siteFile(s.name)).getOrElse(""))
      jobs(e.jobId) = Job(e.jobId, prop(QidProp).map(_.toInt).getOrElse(-1),
        prop(PhaseProp).getOrElse(""), prop("sql.streaming.queryId").isDefined, site,
        e.time / 1000.0, Double.NaN, e.stageIds, 0.0)
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: SparkListenerSQLExecutionStart => lock.synchronized {
        execSite(x.executionId) = siteFile(x.description)
      }
      case _ => ()
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = lock.synchronized {
      lastEvent = clock()
      val s = e.stageInfo
      val st = stages.getOrElseUpdate(s.stageId, new Stage(s.stageId, s.name, s.numTasks))
      st.submitted = s.submissionTime.map(_ / 1000.0).getOrElse(clock())
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      lastEvent = clock()
      val m = Option(e.taskMetrics)
      val st = stages.getOrElseUpdate(e.stageId, new Stage(e.stageId, "", 0))
      st.tasks += Task(e.taskInfo.launchTime / 1000.0, e.taskInfo.finishTime / 1000.0,
        m.map(_.executorRunTime / 1000.0).getOrElse(0.0),
        m.map(_.executorCpuTime / 1e9).getOrElse(0.0),
        m.map(_.jvmGCTime / 1000.0).getOrElse(0.0),
        m.map(_.inputMetrics.bytesRead).getOrElse(0L),
        m.map(x => x.shuffleReadMetrics.remoteBytesRead + x.shuffleReadMetrics.localBytesRead).getOrElse(0L),
        m.map(_.shuffleWriteMetrics.bytesWritten).getOrElse(0L),
        m.map(x => x.memoryBytesSpilled + x.diskBytesSpilled).getOrElse(0L))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
      lastEvent = clock()
      jobs.get(e.jobId).foreach { j =>
        j.end = e.time / 1000.0
        // idle = job wall time not covered by any running task of the job
        val iv = j.stageIds.flatMap(stages.get).flatMap(_.tasks)
          .map(t => (math.max(t.launch, j.start), math.min(t.finish, j.end)))
          .filter { case (a, b) => b > a }.sortBy(_._1)
        var busy = 0.0; var curA = Double.NaN; var curB = Double.NaN
        iv.foreach { case (a, b) =>
          if (curB.isNaN || a > curB) {
            if (!curB.isNaN) busy += curB - curA
            curA = a; curB = b
          } else curB = math.max(curB, b)
        }
        if (!curB.isNaN) busy += curB - curA
        j.idle = math.max(0.0, (j.end - j.start) - busy)
      }
    }
  }
  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = lock.synchronized {
      lastEvent = clock()
      val p = e.progress
      val d = scala.jdk.CollectionConverters.MapHasAsScala(p.durationMs).asScala
        .map { case (k, v) => k -> v.longValue }.toMap
      progress += Progress(currentQid, d, p.stateOperators.map(_.numRowsTotal).sum,
        p.stateOperators.map(_.memoryUsedBytes).sum)
    }
  }
  private object lock
  sc.addSparkListener(listener)
  spark.streams.addListener(streamListener)

  /** Wait for the listener buses to drain, detach, and render. */
  def dump(): String = {
    val deadline = clock() + 15
    def quiet = lock.synchronized(jobs.values.forall(!_.end.isNaN) && clock() - lastEvent > 0.5)
    while (!quiet && clock() < deadline) Thread.sleep(100)
    sc.removeSparkListener(listener)
    spark.streams.removeListener(streamListener)
    val J = Json
    lock.synchronized {
      val stageJob = jobs.values.toSeq.flatMap(j => j.stageIds.map(_ -> j.id)).reverse.toMap
      J.obj(
        "spans" -> J.arr(spans.map(s => J.obj("id" -> J.num(s.id), "qid" -> J.num(s.qid),
          "key" -> J.str(s.key), "phase" -> J.str(s.phase), "start" -> J.num(s.start),
          "end" -> J.num(s.end), "parent" -> J.num(s.parent)))),
        "jobs" -> J.arr(jobs.values.map(j => J.obj("id" -> J.num(j.id), "qid" -> J.num(j.qid),
          "phase" -> J.str(j.phase), "stream" -> (if (j.stream) "true" else "false"),
          "site" -> J.str(j.site), "start" -> J.num(j.start), "end" -> J.num(j.end),
          "idle" -> J.num(j.idle)))),
        "stages" -> J.arr(stages.values.toSeq.sortBy(_.id).filter(_.tasks.nonEmpty).map { s =>
          val d = s.tasks.map(t => t.finish - t.launch).sorted
          J.obj("id" -> J.num(s.id), "job" -> J.num(stageJob.getOrElse(s.id, -1)),
            "name" -> J.str(s.name), "tasks" -> J.num(s.tasks.size),
            "wait" -> J.num(if (s.submitted.isNaN) 0.0 else math.max(0.0, s.tasks.map(_.launch).min - s.submitted)),
            "run" -> J.num(s.tasks.map(_.runS).sum), "cpu" -> J.num(s.tasks.map(_.cpuS).sum),
            "gc" -> J.num(s.tasks.map(_.gcS).sum), "input" -> J.num(s.tasks.map(_.input).sum),
            "shuffle_read" -> J.num(s.tasks.map(_.shRead).sum),
            "shuffle_write" -> J.num(s.tasks.map(_.shWrite).sum),
            "spill" -> J.num(s.tasks.map(_.spill).sum),
            "dur_max" -> J.num(d.last), "dur_median" -> J.num(d(d.size / 2)))
        }),
        "progress" -> J.arr(progress.map(p => J.obj("qid" -> J.num(p.qid),
          "durations" -> J.obj(p.durations.toSeq.map { case (k, v) => k -> J.num(v) }: _*),
          "state_rows" -> J.num(p.stateRows), "state_bytes" -> J.num(p.stateBytes)))))
    }
  }
}

object Recorder {
  val QidProp = "perfbench.qid"
  val PhaseProp = "perfbench.phase"
  private val epoch = System.currentTimeMillis() / 1000.0 - System.nanoTime() / 1e9
  /** Epoch seconds at nanosecond resolution (listener times are epoch ms). */
  def clock(): Double = epoch + System.nanoTime() / 1e9
  private val SiteRe = """ at ([^\s:]+):\d+""".r.unanchored
  def siteFile(stageName: String): String = stageName match {
    case SiteRe(f) => f
    case _ => ""
  }
}
