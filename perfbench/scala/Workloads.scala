package perfbench

import graft.clean.Clean
import graft.load.Warehouse
import graft.model.{PipelineMetric, PipelineRun, PipelineStatus}
import graft.orchestrate.Orchestrator
import graft.sources.Generators
import graft.transform.Transforms

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.util.Random

object Workloads {

  /** Seeded order of `xs` for pass `p`. */
  def shuffled[T](xs: Seq[T], seed: Long, p: Int): Seq[T] =
    new Random(seed * 1000003L + p).shuffle(xs)

  /** Files and bytes under a table directory, ignoring checksum and marker
    * files.
    */
  def dataFiles(dir: String): (Int, Long) = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) (0, 0L)
    else {
      val s = Files.walk(p)
      try {
        val fs = s.filter(f => Files.isRegularFile(f) && {
          val n = f.getFileName.toString
          !n.startsWith(".") && !n.startsWith("_")
        }).toArray.map(_.asInstanceOf[java.nio.file.Path])
        (fs.length, fs.map(f => Files.size(f)).sum)
      } finally s.close()
    }
  }

  /** Materialize a frame without writing it anywhere. */
  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def timed(body: => Unit): Long = { val t0 = System.nanoTime(); body; System.nanoTime() - t0 }

  def median(xs: Seq[Long]): Long = xs.sorted.apply(xs.size / 2)

  /** The six tables the pipeline writes, by source name. */
  def tableOf: Map[String, String] = Generators.registry.map(e => e._1 -> e._3).toMap

  /** Stage-boundary probe of one source: materializes the generator, the
    * cleaned frame, the transformed frame and the load, each from fresh
    * calls, and returns each boundary's time and Spark work as the
    * increment over the previous boundary. Tags are `probe.<source>.<stage>`.
    */
  def probeSource(spark: SparkSession, spans: Spans, col: Collector, wh: Warehouse,
      name: String, table: String, transform: String,
      source: SparkSession => DataFrame): Map[String, Long] = {
    def stage(st: String)(body: => Unit): Long = {
      col.tag(s"probe.$name.$st")
      spans(s"probe.$st", -1)(timed(body))
    }
    val g = stage("gen")(noop(source(spark)))
    val c = stage("clean")(noop(Clean.cleanCommon(source(spark), name).df))
    val t = stage("transform")(
      noop(Transforms(transform, Clean.cleanCommon(source(spark), name).df)))
    val l = stage("load") {
      val tr = Transforms(transform, Clean.cleanCommon(source(spark), name).df)
      wh.load(wh.coerceForLoad(tr), table)
    }
    Map("gen_ns" -> g, "clean_ns" -> (c - g), "transform_ns" -> (t - c), "load_ns" -> (l - t))
  }

  def collectorTotals(col: Collector, name: String): Map[String, Map[String, Long]] =
    Seq("gen", "clean", "transform", "load").map { st =>
      st -> col.byTag.get(s"probe.$name.$st").map(_.toMap).getOrElse(Map.empty)
    }.toMap
}

/** query_mix: one op builds one registered query over the bench corpus and
  * runs its full final plan. Each pass runs the whole query set in a seeded
  * order and starts with empty shared-fact caches, so every pass builds
  * each shared fact inside its first consumer.
  *
  * The warm-up is one pass over the same corpus, so JIT and codegen reach
  * the steady state of its data sizes: after a warm-up on a 1 % slice the
  * first full pass still ran ~25 % slower than the next ones.
  */
final class QueryMix(seed: Long, dataRoot: String, queries: Seq[String]) extends Workload {
  private val benchDir = s"$dataRoot/bench"
  private var spark: SparkSession = _

  def warmup(s: SparkSession): Map[String, Any] = {
    val failed = queries.flatMap { q =>
      try { Digest.of(graft.SparkEntry.queries(q)(s, benchDir)); None }
      catch { case e: Throwable => Some(q -> Harness.describe(e)) }
    }
    Map("warmup_failures" -> failed.toMap)
  }

  def start(s: SparkSession): Unit = spark = s

  override def beforePass(p: Int): Unit = graft.Engine.resetDataCaches()

  def pass(p: Int): Seq[Op] = Workloads.shuffled(queries, seed, p).map { q =>
    Op("query", q, ctx => {
      val c0 = System.nanoTime()
      ctx.tag("construct")
      val df = ctx.span("query.construct")(graft.SparkEntry.queries(q)(ctx.spark, benchDir))
      val c1 = System.nanoTime()
      ctx.tag("exec")
      val d = ctx.span("query.exec")(Digest.of(df))
      val c2 = System.nanoTime()
      val phases =
        if (!ctx.spans.enabled) Map.empty[String, Any]
        else df.queryExecution.tracker.phases.map { case (k, v) => s"phase_$k" -> v.durationMs }
      Map("rows" -> d.rows, "hash" -> d.hex, "construct_ns" -> (c1 - c0),
        "exec_ns" -> (c2 - c1)) ++ phases
    })
  }

  override def summary(): Map[String, Any] = {
    val tables = Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "documents", "embeddings")
    val rows = tables.map(t => spark.read.parquet(s"$benchDir/$t.parquet").count()).sum
    val bytes = tables.map(t => Files.size(Paths.get(s"$benchDir/$t.parquet"))).sum
    Map("stored_bytes" -> bytes, "stored_rows" -> rows)
  }
}

/** etl_refresh: one op is `Orchestrator.runPipeline` with default arguments
  * into one warehouse that persists across the ops of the run.
  */
final class EtlRefresh(seed: Long, work: String) extends Workload {
  private var wh: Warehouse = _
  private var orch: Orchestrator = _
  private var runs = 0

  /** Pipeline runs into a scratch warehouse. The op time keeps falling
    * for a dozen runs after a cold start (3.2 s, 2.5, 2.3, 2.1, 2.0 ... on
    * the reference host), so set-up pays for [[EtlRefresh.WarmupRuns]]. */
  def warmup(s: SparkSession): Map[String, Any] = {
    val dir = Files.createTempDirectory(Paths.get(work), "warm").toString
    val o = new Orchestrator(s, Warehouse(s, dir))
    val runs = (1 to EtlRefresh.WarmupRuns).map(i => o.runPipeline(s"warmup_$i"))
    Prepare.deleteTree(Paths.get(dir))
    Map("warmup_status" -> runs.map(_.status).distinct.mkString(","))
  }

  override def train(s: SparkSession): Unit = {
    val dir = Files.createTempDirectory(Paths.get(work), "train").toString
    new Orchestrator(s, Warehouse(s, dir)).runPipeline("train")
    Prepare.deleteTree(Paths.get(dir))
  }

  def start(s: SparkSession): Unit = {
    wh = Warehouse(s, s"$work/warehouse")
    orch = new Orchestrator(s, wh)
  }

  def pass(p: Int): Seq[Op] = {
    runs += 1
    val runId = f"run_${seed}_$runs%04d_${new Random(seed * 7919L + runs).nextInt(1 << 24)}%06x"
    Seq(Op("run", runId, ctx => {
      val c0 = System.nanoTime()
      val run = ctx.span("orchestrate.runPipeline")(orch.runPipeline(runId = runId))
      val callNs = System.nanoTime() - c0
      Map("run_id" -> run.runId, "status" -> run.status, "call_ns" -> callNs,
        "run_start_ms" -> run.startTimeMs, "run_end_ms" -> run.endTimeMs,
        "sources" -> run.metrics.map(m => Map(
          "name" -> m.sourceName, "status" -> m.status, "records_in" -> m.recordsIn,
          "records_out" -> m.recordsOut, "start_ms" -> m.startTimeMs,
          "end_ms" -> m.endTimeMs, "error" -> m.errorMessage.orNull)))
    }, (ctx, last) => {
      val h = wh.table("pipeline_health").agg(
        count(lit(1)),
        sum(when(col("run_id") === runId, 1).otherwise(0)),
        sum(when(col("run_id") === runId && col("status") === PipelineStatus.Success.name, 1)
          .otherwise(0))).head()
      val health = Map("health_rows" -> h.getLong(0), "health_run_rows" -> h.getLong(1),
        "health_run_success" -> h.getLong(2),
        "health_files" -> Workloads.dataFiles(wh.path("pipeline_health"))._1)
      // every run rewrites the same six tables: their content is checked
      // after the loop's last run
      if (!last) health
      else health + ("tables" -> Workloads.tableOf.map { case (src, t) =>
        val d = Digest.of(wh.table(t))
        val (files, bytes) = Workloads.dataFiles(wh.path(t))
        src -> Map("rows" -> d.rows, "hash" -> d.hex, "files" -> files, "bytes" -> bytes)
      })
    }))
  }

  override def probes(s: SparkSession, spans: Spans, col: Collector): Map[String, Any] = {
    val dir = Files.createTempDirectory(Paths.get(work), "probe").toString
    val pwh = Warehouse(s, dir)
    // small frames: the median of three fresh rounds per boundary
    val rounds = (1 to 3).map { _ =>
      Generators.registry.map { case (name, fn, table, tr) =>
        name -> Workloads.probeSource(s, spans, col, pwh, name, table, tr, fn)
      }.toMap
    }
    val xlsx = (1 to 3).map { _ =>
      col.tag("probe.xlsx")
      val viaXlsx = spans("probe.xlsx", -1)(Workloads.timed(
        Workloads.noop(Generators.inventoryViaXlsx(s))))
      col.tag("probe.inventory_direct")
      val direct = spans("probe.inventory_direct", -1)(Workloads.timed(
        Workloads.noop(Generators.inventory(s))))
      viaXlsx - direct
    }
    // the inventory source's generator boundary includes its Xlsx landing;
    // gen_ns keeps generation only, xlsx_ns the landing
    val xlsxNs = Workloads.median(xlsx)
    val med = rounds.head.keys.map { name =>
      name -> rounds.head(name).keys.map { k =>
        val v = Workloads.median(rounds.map(_(name)(k)))
        k -> (if (name == "inventory_excel" && k == "gen_ns") v - xlsxNs else v)
      }.toMap
    }.toMap
    Prepare.deleteTree(Paths.get(dir))
    Map("stages" -> med, "xlsx_ns" -> xlsxNs, "rounds" -> 3,
      "work" -> Generators.registry.map(e => e._1 -> Workloads.collectorTotals(col, e._1)).toMap)
  }
}

object EtlRefresh {
  val WarmupRuns = 7
}

/** One etl_bulk source: the reference generator at `scale` times its
  * reference count, plus seeded rows that `Clean` must remove.
  */
final case class BulkSource(name: String, table: String, transform: String, key: String,
    refN: Long, gen: (SparkSession, Long) => DataFrame, index: Int) {

  private def offsets(seed: Long): (Long, Long) = {
    val r = new Random(seed * 104729L + index)
    (r.nextInt(1000).toLong, r.nextInt(1000).toLong)
  }

  // a row with key id k is copied when (k * mul + seed offset) mod 1000 <
  // per-mille: exact duplicates for about 10 % of rows, copies with one
  // non-email column nulled for about 2 %
  private val DupMul = 7919L
  private val DupPerMille = 100L
  private val NullMul = 6007L
  private val NullPerMille = 20L

  /** Rows added on top of the generator's `n`, counted on the driver. */
  def injected(n: Long, seed: Long): Long = {
    val (a, b) = offsets(seed)
    var k = 0L
    var i = 0L
    while (i < n) {
      if (Math.floorMod(i * DupMul + a, 1000L) < DupPerMille) k += 1
      if (Math.floorMod(i * NullMul + b, 1000L) < NullPerMille) k += 1
      i += 1
    }
    k
  }

  def frame(spark: SparkSession, n: Long, seed: Long): DataFrame = {
    val (a, b) = offsets(seed)
    val base = gen(spark, n)
    val id = regexp_extract(col(key), "(\\d+)$", 1).cast("long")
    val nullable = base.columns.filterNot(Clean.NullExempt.contains)
    val victim = nullable(Math.floorMod(seed * 31L + index, nullable.length.toLong).toInt)
    val dups = gen(spark, n).filter(pmod(id * DupMul + a, lit(1000L)) < DupPerMille)
    val nulls = gen(spark, n).filter(pmod(id * NullMul + b, lit(1000L)) < NullPerMille)
      .withColumn(victim, lit(null).cast(base.schema(victim).dataType))
    base.unionByName(dups).unionByName(nulls)
  }
}

/** etl_bulk: one op runs one source through `Orchestrator.runSource` at
  * bulk volume; `saveHealthMetrics` closes each pass over the six sources.
  */
final class EtlBulk(seed: Long, work: String, scale: Long) extends Workload {
  private val sources = Seq(
    BulkSource("sales_csv", "fact_sales", "sales", "sale_id", 1000, Generators.sales, 0),
    BulkSource("customer_json", "dim_customers", "customers", "customer_id", 800,
      Generators.customers, 1),
    BulkSource("finance_db", "fact_finance", "finance", "txn_id", 600, Generators.finance, 2),
    BulkSource("inventory_excel", "dim_inventory", "", "sku", 400, Generators.inventory, 3),
    BulkSource("hr_flat_file", "dim_employees", "", "emp_id", 300, Generators.hr, 4),
    BulkSource("web_logs", "fact_web_events", "", "event_id", 2000, Generators.webLogs, 5))
  private lazy val injected = sources.map(s => s.name -> s.injected(s.refN * scale, seed)).toMap
  private var wh: Warehouse = _
  private var orch: Orchestrator = _
  private val passMetrics = mutable.ArrayBuffer.empty[PipelineMetric]
  private var passStart = 0L
  private var healthAppends = 0

  private def runPass(o: Orchestrator, runId: String, n: BulkSource => Long): Unit = {
    val ms = sources.map(s => o.runSource(s.name, sp => s.frame(sp, n(s), seed), s.table,
      s.transform, runId))
    o.saveHealthMetrics(PipelineRun(runId, ms.head.startTimeMs, System.currentTimeMillis(),
      ms.toList, ms.map(_.recordsOut).sum, PipelineStatus.Success.name))
  }

  /** One pass at the reference counts, then two at bulk volume: on the
    * reference host the bulk pass time falls 8.5, 6.2, 5.7, 5.4, 5.4 s
    * after a cold start. */
  def warmup(s: SparkSession): Map[String, Any] = {
    val dir = Files.createTempDirectory(Paths.get(work), "warm").toString
    val o = new Orchestrator(s, Warehouse(s, dir))
    runPass(o, "warmup_0", _.refN)
    (1 to 2).foreach(i => runPass(o, s"warmup_$i", _.refN * scale))
    Prepare.deleteTree(Paths.get(dir))
    Map.empty
  }

  override def train(s: SparkSession): Unit = {
    val dir = Files.createTempDirectory(Paths.get(work), "train").toString
    runPass(new Orchestrator(s, Warehouse(s, dir)), "train", _.refN)
    Prepare.deleteTree(Paths.get(dir))
  }

  def start(s: SparkSession): Unit = {
    wh = Warehouse(s, s"$work/warehouse")
    orch = new Orchestrator(s, wh)
  }

  override def beforePass(p: Int): Unit = {
    passMetrics.clear()
    passStart = System.currentTimeMillis()
  }

  def pass(p: Int): Seq[Op] = {
    val id = s"bulk_${seed}_${healthAppends + 1}"
    Workloads.shuffled(sources, seed, p).map { s =>
      val n = s.refN * scale
      Op("source", s.name, ctx => {
        val m = ctx.span("orchestrate.runSource")(
          orch.runSource(s.name, sp => s.frame(sp, n, seed), s.table, s.transform, id))
        passMetrics += m
        Map("status" -> m.status, "records_in" -> m.recordsIn, "records_out" -> m.recordsOut,
          "expected_in" -> (n + injected(s.name)), "n" -> n,
          "error" -> m.errorMessage.orNull)
      }, (ctx, last) => if (!last) Map.empty else {
        // every pass rewrites the table: its content is checked in the
        // loop's last pass
        val d = Digest.of(wh.table(s.table))
        val (files, bytes) = Workloads.dataFiles(wh.path(s.table))
        Map("table" -> Map("rows" -> d.rows, "hash" -> d.hex, "files" -> files, "bytes" -> bytes))
      })
    } :+ Op("health", id, ctx => {
      val metrics = passMetrics.toList
      val status =
        if (metrics.forall(_.status == PipelineStatus.Success.name)) PipelineStatus.Success.name
        else PipelineStatus.Failed.name
      ctx.span("orchestrate.saveHealthMetrics")(orch.saveHealthMetrics(PipelineRun(
        id, passStart, System.currentTimeMillis(), metrics, metrics.map(_.recordsOut).sum,
        status)))
      healthAppends += 1
      Map("run_id" -> id, "status" -> status, "pass_start_ms" -> passStart,
        "sources" -> metrics.map(m => Map("name" -> m.sourceName, "start_ms" -> m.startTimeMs,
          "end_ms" -> m.endTimeMs, "records_in" -> m.recordsIn, "records_out" -> m.recordsOut)))
    }, (ctx, _) => {
      val health = wh.table("pipeline_health")
      Map("health_rows" -> health.count(),
        "health_run_rows" -> health.filter(col("run_id") === id).count(),
        "health_appends" -> healthAppends,
        "health_files" -> Workloads.dataFiles(wh.path("pipeline_health"))._1)
    })
  }

  override def probes(s: SparkSession, spans: Spans, col: Collector): Map[String, Any] = {
    val dir = Files.createTempDirectory(Paths.get(work), "probe").toString
    val pwh = Warehouse(s, dir)
    val stages = sources.map { src =>
      src.name -> Workloads.probeSource(s, spans, col, pwh, src.name, src.table, src.transform,
        sp => src.frame(sp, src.refN * scale, seed))
    }.toMap
    Prepare.deleteTree(Paths.get(dir))
    Map("stages" -> stages, "xlsx_ns" -> 0L, "rounds" -> 1,
      "work" -> sources.map(x => x.name -> Workloads.collectorTotals(col, x.name)).toMap)
  }
}
