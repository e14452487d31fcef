package perfbench

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import scala.collection.mutable.ArrayBuffer

/** Span tracing for the traced run, kept entirely in the benchmark: a
  * `SparkListener` records every job, stage and task with its timestamp, a
  * `StreamingQueryListener` records micro-batch progress, and `span` marks
  * the wall-clock interval of each call into the engine. Each workload runs
  * one operation at a time, so an event belongs to the span whose interval
  * holds its timestamp — jobs launched from `Par` pools or from a stream's
  * own thread included. Events are kept in memory and attributed once, at
  * the end of the run.
  */
final class Tracer(spark: SparkSession) {
  import Tracer._

  private val spans = ArrayBuffer.empty[Span]
  private val jobs = ArrayBuffer.empty[Long]
  private val stages = ArrayBuffer.empty[Long]
  private val tasks = ArrayBuffer.empty[TaskRec]
  private val progress = ArrayBuffer.empty[StreamingQueryProgress]
  @volatile private var drained = false
  @volatile private var since = Long.MaxValue

  private val markerJobs = scala.collection.mutable.Set.empty[Int]

  /** Open the measured window: jobs that no span claims are counted from
    * here on (set-up runs no spans). */
  def start(): Unit = since = System.currentTimeMillis()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = jobs.synchronized {
      if (Option(e.properties).exists(_.getProperty(drainProp) != null))
        markerJobs += e.jobId
      else jobs += e.time
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      if (jobs.synchronized(markerJobs.contains(e.jobId))) drained = true
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      stages.synchronized {
        stages += e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = tasks.synchronized {
      val m = Option(e.taskMetrics)
      def mb(f: org.apache.spark.executor.TaskMetrics => Long) =
        m.map(f).getOrElse(0L) / 1e6
      tasks += TaskRec(
        e.taskInfo.launchTime,
        e.taskInfo.duration / 1e3,
        m.map(_.executorCpuTime).getOrElse(0L) / 1e9,
        m.map(_.jvmGCTime).getOrElse(0L) / 1e3,
        mb(_.shuffleWriteMetrics.bytesWritten),
        mb(_.shuffleReadMetrics.totalBytesRead),
        mb(_.diskBytesSpilled),
        mb(_.inputMetrics.bytesRead),
        mb(_.outputMetrics.bytesWritten),
        if (e.reason == Success) 0 else 1)
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.synchronized { progress += e.progress }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  spark.sparkContext.addSparkListener(listener)
  spark.streams.addListener(streamListener)

  /** Time `body` as one occurrence of span `name`. */
  def span[T](name: String)(body: => T): T = {
    val t0 = System.currentTimeMillis()
    try body finally spans.synchronized {
      spans += Span(name, t0, System.currentTimeMillis(), Map.empty)
    }
  }

  private val watched = scala.collection.mutable.Set.empty[java.util.UUID]

  /** Count the micro-batches of stream `queryId` as `stream_batch` spans,
    * once the listener has seen its `n` progress events (they arrive on
    * their own bus, after the query returns). */
  def watch(queryId: java.util.UUID, n: Int): Unit = {
    val deadline = System.currentTimeMillis() + 10000
    while (progress.synchronized(progress.count(_.id == queryId)) < n &&
      System.currentTimeMillis() < deadline) Thread.sleep(10)
    progress.synchronized(watched += queryId)
  }

  /** Wait until the listener bus has delivered every event posted so far:
    * run one marker job and wait for its end event, which the bus delivers
    * after everything queued before it. */
  private def drain(): Unit = {
    val sc = spark.sparkContext
    drained = false
    sc.setLocalProperty(drainProp, "1")
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty(drainProp, null)
    val deadline = System.currentTimeMillis() + 30000
    while (!drained && System.currentTimeMillis() < deadline) Thread.sleep(10)
  }

  /** Per-layer counters: for each span name, the median over its
    * occurrences of each counter (`<span>.<counter>`), plus the number of
    * occurrences and the events no span claimed. */
  def report(cores: Int): (Map[String, Double], Map[String, Any]) = {
    drain()
    val batchSpans = progress.synchronized(progress.filter(p => watched(p.id)).toList)
      .filter(_.numInputRows > 0)
      .map { p =>
        val d = p.durationMs
        def sec(k: String) = Option(d.get(k)).map(_.longValue / 1e3).getOrElse(0.0)
        val t0 = java.time.Instant.parse(p.timestamp).toEpochMilli
        Span("stream_batch", t0, t0 + d.get("triggerExecution").longValue, Map(
          "planning_s" -> sec("queryPlanning"), "add_batch_s" -> sec("addBatch"),
          "wal_commit_s" -> sec("walCommit"), "commit_offsets_s" -> sec("commitOffsets"),
          "latest_offset_s" -> sec("latestOffset"), "get_batch_s" -> sec("getBatch")))
      }
    val all = (spans.synchronized(spans.toList) ++ batchSpans).sortBy(_.start)
    def owner(t: Long): Option[Int] = {
      val i = all.lastIndexWhere(_.start <= t)
      if (i >= 0 && t <= all(i).end) Some(i) else None
    }
    val nJobs = Array.fill(all.size)(0)
    val nStages = Array.fill(all.size)(0)
    val taskSums = Array.fill(all.size)(Array.fill(10)(0.0))
    var unclaimed = 0
    jobs.synchronized(jobs.toList).filter(_ >= since).foreach(t => owner(t) match {
      case Some(i) => nJobs(i) += 1
      case None => unclaimed += 1
    })
    stages.synchronized(stages.toList).foreach(t => owner(t).foreach(nStages(_) += 1))
    tasks.synchronized(tasks.toList).foreach(r => owner(r.launch).foreach { i =>
      val s = taskSums(i)
      s(0) += 1; s(1) += r.sec; s(2) += r.cpu; s(3) += r.gc; s(4) += r.shuffleW
      s(5) += r.shuffleR; s(6) += r.spill; s(7) += r.input; s(8) += r.output
      s(9) += r.failed
    })
    val perOcc = all.indices.map { i =>
      val sp = all(i); val s = taskSums(i)
      val wall = (sp.end - sp.start) / 1e3
      sp.name -> (Map(
        "wall_s" -> wall, "jobs" -> nJobs(i).toDouble, "stages" -> nStages(i).toDouble,
        "tasks" -> s(0), "task_s" -> s(1), "cpu_s" -> s(2), "gc_s" -> s(3),
        "idle_core_s" -> (wall * cores - s(1)),
        "shuffle_write_mb" -> s(4), "shuffle_read_mb" -> s(5), "spill_mb" -> s(6),
        "input_mb" -> s(7), "output_mb" -> s(8),
        "failed_tasks" -> s(9)) ++ sp.extra)
    }
    val metrics = spanNames.flatMap { name =>
      val occ = perOcc.filter(_._1 == name).map(_._2)
      val keys = counters ++ (if (name == "stream_batch") streamCounters else Nil)
      keys.map(k => s"$name.$k" -> Stats.median(occ.map(_(k))))
    }.toMap
    val meta = Map(
      "span_occurrences" -> spanNames.map(n => n -> perOcc.count(_._1 == n)).toMap,
      "jobs_outside_spans_in_window" -> unclaimed)
    (metrics, meta)
  }
}

object Tracer {
  final case class Span(name: String, start: Long, end: Long, extra: Map[String, Double])
  final case class TaskRec(launch: Long, sec: Double, cpu: Double, gc: Double,
      shuffleW: Double, shuffleR: Double, spill: Double, input: Double,
      output: Double, failed: Int)

  private val drainProp = "perfbench.drain"

  val spanNames: Seq[String] = Seq("release5", "stream_seed", "stream_batch",
    "stream_purge", "laser_run", "laser_emit", "trace_run", "trace_emit")
  val counters: Seq[String] = Seq("wall_s", "jobs", "stages", "tasks", "task_s",
    "cpu_s", "gc_s", "idle_core_s", "shuffle_write_mb", "shuffle_read_mb",
    "spill_mb", "input_mb", "output_mb", "failed_tasks")
  val streamCounters: Seq[String] = Seq("planning_s", "add_batch_s",
    "wal_commit_s", "commit_offsets_s", "latest_offset_s", "get_batch_s")
}
