package perfbench

import org.apache.spark.sql.SparkSession

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** JVM side of the benchmark; `perfbench/run.py` is the command users run.
  *
  *   perfbench.Main prepare <dataRoot> <cores>
  *   perfbench.Main train key=value...
  *   perfbench.Main run key=value...
  *
  * `train` runs a little of every workload; run.py records the classes it
  * loads into the JVM's class-data-sharing archive.
  * `run` sets up the workload, runs the untraced loop, then (trace=1) the traced loop and the stage probes, and
  * writes everything it measured as one JSON object to `out`.
  */
object Main {
  def main(args: Array[String]): Unit = args.toList match {
    case "prepare" :: root :: cores :: Nil => Prepare.run(root, cores.toInt)
    case "train" :: kvs => train(keyValues(kvs))
    case "run" :: kvs => run(keyValues(kvs))
    case _ => sys.error("usage: perfbench.Main prepare <dataRoot> <cores> | train|run key=value...")
  }

  private def keyValues(kvs: List[String]): Map[String, String] =
    kvs.map { kv => val i = kv.indexOf('='); kv.take(i) -> kv.drop(i + 1) }.toMap

  private def workloads(a: Map[String, String], seed: Long): Map[String, () => Workload] = Map(
    "query_mix" -> (() => new QueryMix(seed, a("data"), a("queries").split(",").toSeq)),
    "etl_refresh" -> (() => new EtlRefresh(seed, a("work"))),
    "etl_bulk" -> (() => new EtlBulk(seed, a("work"), a("bulk_scale").toLong)))

  private def train(a: Map[String, String]): Unit = {
    val spark = Harness.session(a("cores").toInt)
    workloads(a, 0L).values.foreach(w => w().train(spark))
    spark.stop()
  }

  private def run(a: Map[String, String]): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val loadStart = Harness.loadAvg
    val cores = a("cores").toInt
    val seed = a("seed").toLong
    val traced = a("trace") == "1"
    val passes = a("passes").toInt
    val deadline = a("deadline").toDouble
    val w = workloads(a, seed)(a("workload"))()

    // set-up: session + Engine.tune + warm-up + cache reset, timed from JVM
    // start (one sample per run: each set-up costs 10-30 s of JIT and
    // codegen, so the median is taken over runs, not inside one)
    val spark = Harness.session(cores)
    val sessionMs = System.currentTimeMillis()
    val warm = w.warmup(spark)
    graft.Engine.resetDataCaches()
    val readyMs = System.currentTimeMillis()
    val setup = Map("setup_s" -> (readyMs - jvmStartMs) / 1000.0,
      "session_s" -> (sessionMs - jvmStartMs) / 1000.0,
      "warmup_s" -> (readyMs - sessionMs) / 1000.0) ++ warm
    w.start(spark)

    val untraced = Harness.loop(spark, w, passes, deadline, 0, new Spans(false), None)
    val out = collection.mutable.LinkedHashMap[String, Any](
      "workload" -> a("workload"), "seed" -> seed, "cores" -> cores,
      "heap_max_bytes" -> Runtime.getRuntime.maxMemory, "setup" -> setup,
      "untraced" -> untraced)

    if (traced) {
      val col = new Collector(spark)
      val streams = new StreamCollector
      spark.sparkContext.addSparkListener(col)
      spark.streams.addListener(streams)
      val spans = new Spans(true)
      val firstId = untraced("ops").asInstanceOf[Seq[_]].size
      val (compiles0, compileNs0) = Harness.codegen
      val tracedLoop = Harness.loop(spark, w, passes, deadline, firstId, spans, Some(col))
      val (compiles1, compileNs1) = Harness.codegen
      streams.quiesce()
      val probes = w.probes(spark, spans, col)
      col.barrier()
      out ++= Seq(
        "traced" -> tracedLoop,
        "codegen" -> Map("compiles" -> (compiles1 - compiles0),
          "compile_ns" -> (compileNs1 - compileNs0)),
        "tags" -> col.byTag.map { case (k, v) => k -> v.toMap },
        "task_ends" -> col.taskEnds,
        "skew" -> col.skew(t => t.startsWith("op"), cores),
        "streaming" -> streams.all.map(p => Map("query" -> p.queryId, "batch_ms" -> p.batchMs,
          "input_rows" -> p.inputRows, "state_rows" -> p.stateRows,
          "state_bytes" -> p.stateBytes)),
        "probes" -> probes,
        "spans" -> spans.all.map(s => Map("id" -> s.id, "name" -> s.name, "op" -> s.op,
          "parent" -> s.parent, "start_ns" -> s.startNs, "end_ns" -> s.endNs)))
    }
    out ++= w.summary()
    out("load_start") = loadStart
    out("load_end") = Harness.loadAvg
    spark.stop()
    val json = org.json4s.jackson.Serialization.write(out.toMap)(org.json4s.DefaultFormats)
    Files.write(Paths.get(a("out")), json.getBytes(StandardCharsets.UTF_8))
  }
}
