package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable

/** One timed interval. `op` is the operation it belongs to (-1: none);
  * `parent` is the id of the span that was open when it started (-1: root).
  */
final case class Span(id: Int, name: String, op: Int, parent: Int, startNs: Long, endNs: Long)

/** Span recorder for the single client thread. Spans stay in memory and
  * are written once, with the run's result, when the run ends. A disabled
  * recorder only runs the body, so the untraced loop pays nothing.
  */
final class Spans(val enabled: Boolean) {
  private val done = mutable.ArrayBuffer.empty[Span]
  private var open: List[Int] = Nil
  private var nextId = 0

  def apply[T](name: String, op: Int)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = open.headOption.getOrElse(-1)
      open = id :: open
      val t0 = System.nanoTime()
      try body
      finally {
        open = open.tail
        done += Span(id, name, op, parent, t0, System.nanoTime())
      }
    }

  def all: Seq[Span] = done.sortBy(_.id).toSeq
}

/** Executor-side totals for one tag. Mutated only on the listener thread;
  * read by the client after [[Collector.barrier]].
  */
final class TaskTotals {
  var jobs = 0L
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  var inputRows = 0L
  var outputBytes = 0L

  def toMap: Map[String, Long] = Map(
    "jobs" -> jobs, "tasks" -> tasks, "run_ms" -> runMs, "cpu_ns" -> cpuNs,
    "gc_ms" -> gcMs, "shuffle_write" -> shuffleWrite,
    "shuffle_read" -> shuffleRead, "spill" -> spill,
    "input_rows" -> inputRows, "output_bytes" -> outputBytes)
}

/** Spark listener that attributes jobs, stages and tasks to the tag of the
  * operation that launched them.
  *
  * The client tags its thread with [[Collector.tag]]: a job group (what
  * Spark's own status tools show) plus the [[Collector.TagKey]] local
  * property. Local properties are inherited by threads the tagged thread
  * starts, which carries the tag into streaming query threads, where Spark
  * replaces the job group with the stream's run id. Attribution is by tag
  * only, never by time window; a job with neither key is counted under
  * [[Collector.Unattributed]].
  */
final class Collector(spark: SparkSession) extends SparkListener {
  import Collector._
  private val sc: SparkContext = spark.sparkContext

  private val stageTag = new ConcurrentHashMap[Int, String]
  private val jobTag = new ConcurrentHashMap[Int, String]
  private val totals = mutable.HashMap.empty[String, TaskTotals]
  // stage id -> task durations, for the straggler ratio
  private val stageTaskMs = mutable.HashMap.empty[Int, mutable.ArrayBuffer[Long]]
  private val barriersDone = new AtomicLong
  private val allTasks = new AtomicLong
  private val unpersisted = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()

  private def tally(tag: String) = totals.getOrElseUpdate(tag, new TaskTotals)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties)
    val tag = p.flatMap(x => Option(x.getProperty(TagKey)))
      .orElse(p.flatMap(x => Option(x.getProperty("spark.jobGroup.id"))))
      .getOrElse(Unattributed)
    jobTag.put(e.jobId, tag)
    e.stageIds.foreach(s => stageTag.put(s, tag))
    val t = tally(tag)
    t.jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    if (jobTag.get(e.jobId) == BarrierTag) barriersDone.incrementAndGet()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    allTasks.incrementAndGet()
    val tag = stageTag.getOrDefault(e.stageId, Unattributed)
    val t = tally(tag)
    t.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      t.runMs += m.executorRunTime
      t.cpuNs += m.executorCpuTime
      t.gcMs += m.jvmGCTime
      t.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      t.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      t.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      t.inputRows += m.inputMetrics.recordsRead
      t.outputBytes += m.outputMetrics.bytesWritten
    }
    stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty[Long]) +=
      (e.taskInfo.finishTime - e.taskInfo.launchTime)
  }

  override def onUnpersistRDD(e: SparkListenerUnpersistRDD): Unit = unpersisted.add(e.rddId)

  /** Set the tag for every job the calling thread launches next. */
  def tag(t: String): Unit = {
    sc.setJobGroup(t, t, interruptOnCancel = false)
    sc.setLocalProperty(TagKey, t)
  }

  /** Wait until every event posted before this call has reached this
    * listener: a one-task job tagged [[BarrierTag]] is posted after them
    * on the same queue, so seeing its end means the queue has delivered
    * them all.
    */
  def barrier(): Unit = {
    val before = barriersDone.get
    tag(BarrierTag)
    sc.parallelize(Seq(1), 1).count()
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (barriersDone.get <= before && System.nanoTime() < deadline) Thread.sleep(1)
    require(barriersDone.get > before, "listener bus did not drain within 30 s")
  }

  /** Every task end seen, barrier tasks included, counted before any
    * attribution: the total the per-tag task counts must add up to.
    */
  def taskEnds: Long = allTasks.get

  /** Totals per tag, read after [[barrier]]. */
  def byTag: Map[String, TaskTotals] = totals.toMap

  /** Straggler ratio of the stages whose tag passes `keep`: max/median task
    * time of the worst stage with at least `minTasks` tasks.
    */
  def skew(keep: String => Boolean, minTasks: Int): Double = {
    val ratios = stageTaskMs.collect {
      case (s, ms) if ms.size >= minTasks && keep(stageTag.getOrDefault(s, Unattributed)) =>
        val sorted = ms.sorted
        val med = sorted(sorted.size / 2).max(1L)
        sorted.last.toDouble / med
    }
    if (ratios.isEmpty) 1.0 else ratios.max
  }

  def unpersistedIds: Set[Int] = {
    import scala.jdk.CollectionConverters._
    unpersisted.asScala.toSet
  }
}

object Collector {
  val TagKey = "perfbench.tag"
  val BarrierTag = "perfbench-barrier"
  val Unattributed = "unattributed"
}

/** One streaming micro-batch, as its progress event reports it. */
final case class Progress(queryId: String, batchMs: Long, inputRows: Long,
    stateRows: Long, stateBytes: Long)

/** Progress of every streaming query run while installed. */
final class StreamCollector extends StreamingQueryListener {
  private val progress = new java.util.concurrent.ConcurrentLinkedQueue[Progress]
  private val started = new AtomicLong
  private val ended = new AtomicLong

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
    started.incrementAndGet()

  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val dur = Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)
    progress.add(Progress(p.id.toString, dur, p.numInputRows,
      p.stateOperators.map(_.numRowsTotal).sum,
      p.stateOperators.map(_.memoryUsedBytes).sum))
  }

  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()

  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
    ended.incrementAndGet()

  /** Streaming events travel on their own listener queue, which
    * [[Collector.barrier]] does not cover: wait until every started query
    * has reported its end.
    */
  def quiesce(): Unit = {
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (ended.get < started.get && System.nanoTime() < deadline) Thread.sleep(5)
  }

  def all: Seq[Progress] = {
    import scala.jdk.CollectionConverters._
    progress.asScala.toSeq
  }
}
