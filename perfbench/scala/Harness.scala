package perfbench

import org.apache.spark.sql.SparkSession

import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** What one operation needs from the loop that runs it. */
final class OpCtx(val id: Int, val spark: SparkSession, val spans: Spans,
    collector: Option[Collector]) {
  /** Tag the client thread's next Spark jobs (traced runs only). */
  def tag(suffix: String): Unit = collector.foreach(_.tag(s"op$id.$suffix"))
  def span[T](name: String)(body: => T): T = spans(name, id)(body)
}

/** One timed operation: `body` is timed; `check` runs right after it,
  * untimed, and returns the outputs to compare with the manifest. Its
  * flag is true in the loop's last pass, where checks of state that every
  * pass rewrites identically are made.
  */
final case class Op(kind: String, name: String,
    body: OpCtx => Map[String, Any],
    check: (OpCtx, Boolean) => Map[String, Any] = (_, _) => Map.empty)

/** A workload: its set-up warm-up, its passes of ops, and (traced runs)
  * the stage-boundary probes run after the traced loop.
  */
trait Workload {
  def warmup(spark: SparkSession): Map[String, Any]
  /** Enough work to load every class the workload uses, for the class-data
    * sharing archive; it need not reach steady state. */
  def train(spark: SparkSession): Unit = warmup(spark)
  /** Called once, after set-up, with the session the loops use. */
  def start(spark: SparkSession): Unit
  def pass(p: Int): Seq[Op]
  def beforePass(p: Int): Unit = ()
  def probes(spark: SparkSession, spans: Spans, col: Collector): Map[String, Any] = Map.empty
  def summary(): Map[String, Any] = Map.empty
}

object Harness {
  def session(cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.Engine.tune(spark)
  }

  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def processCpuNs: Long = osBean.getProcessCpuTime
  def loadAvg: Double = osBean.getSystemLoadAverage

  private def heapPools =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)

  /** Runs `w` for `passes` passes (or until `deadlineS` has passed) and
    * returns the loop's record.
    */
  def loop(spark: SparkSession, w: Workload, passes: Int, deadlineS: Double,
      firstOpId: Int, spans: Spans, col: Option[Collector]): Map[String, Any] = {
    val ops = mutable.ArrayBuffer.empty[Map[String, Any]]
    val sc = spark.sparkContext
    System.gc()
    heapPools.foreach(_.resetPeakUsage())
    var checkNs = 0L
    var checkCpu = 0L
    val cpu0 = processCpuNs
    val t0 = System.nanoTime()
    var id = firstOpId
    var p = 0
    while (p < passes && (p == 0 || (System.nanoTime() - t0) / 1e9 < deadlineS)) {
      w.beforePass(p)
      w.pass(p).foreach { op =>
        val ctx = new OpCtx(id, spark, spans, col)
        // persisted-RDD bookkeeping (traced): RDD ids grow monotonically,
        // so a fresh id marks where this op's own RDDs begin
        val firstRdd = if (col.isDefined) sc.emptyRDD[Int].id else 0
        col.foreach(_.tag(s"op$id.run"))
        val s0 = System.nanoTime()
        val (out, err) =
          try (spans(s"op.${op.kind}", id)(op.body(ctx)), null)
          catch { case e: Throwable => (Map.empty[String, Any], e) }
        val s1 = System.nanoTime()
        val c0 = processCpuNs
        col.foreach(_.tag("perfbench-check"))
        val checked =
          if (err != null) Map.empty[String, Any]
          else try op.check(ctx, p == passes - 1)
          catch { case e: Throwable => Map("check_error" -> describe(e)) }
        val rec = mutable.LinkedHashMap[String, Any](
          "id" -> id, "pass" -> p, "kind" -> op.kind, "name" -> op.name,
          "start_ns" -> (s0 - t0), "end_ns" -> (s1 - t0),
          "ok" -> (err == null), "error" -> Option(err).map(describe).orNull)
        rec ++= out
        rec ++= checked
        col.foreach { c =>
          c.barrier()
          val persisted = sc.getPersistentRDDs.keySet
          val created = persisted.count(_ >= firstRdd) +
            c.unpersistedIds.count(i => i >= firstRdd && !persisted.contains(i))
          rec("rdds_created") = created
          rec("rdds_persisted") = persisted.size
          rec("cached_bytes") = sc.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum
        }
        // live heap at the op boundary: what the op left reachable
        System.gc()
        rec("live_heap_bytes") = heapPools.map(_.getUsage.getUsed).sum
        checkNs += System.nanoTime() - s1
        checkCpu += processCpuNs - c0
        ops += rec.toMap
        id += 1
      }
      p += 1
    }
    val wallNs = System.nanoTime() - t0 - checkNs
    val cpuNs = processCpuNs - cpu0 - checkCpu
    val peaks = heapPools.map(m => m.getName -> m.getPeakUsage.getUsed).toMap
    Map("passes" -> p, "wall_ns" -> wallNs, "cpu_ns" -> cpuNs,
      "peak_heap_pools" -> peaks,
      "check_ns" -> checkNs, "ops" -> ops.toSeq)
  }

  def describe(e: Throwable): String =
    (e.getClass.getName + ": " + String.valueOf(e.getMessage)).take(300)

  def codegen: (Long, Long) = (
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime)
}
