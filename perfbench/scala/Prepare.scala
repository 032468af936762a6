package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

/** Builds the query_mix corpora once per checkout.
  *
  * `graft.GenSf1` at scale 1 writes an sf0.1-sized corpus (Zipf-skewed
  * keys, the same schemas as the graded testdata). The benchmark reads a
  * key-prefix slice of it, `bench`: [[BenchFraction]] of every fact table,
  * cut on the primary key so every kept order keeps all its line items,
  * and the dimension tables whole. Each table is one
  * parquet FILE named `<table>.parquet`, the layout `graft.Tables` and the
  * streaming drains (`pathGlobFilter`) both expect.
  */
object Prepare {
  val BenchFraction = 0.1

  /** fact table -> (key column, key count at GenSf1 scale 1) */
  private val facts = Seq(
    "orders" -> ("o_orderkey", 150000L),
    "lineitem" -> ("l_orderkey", 150000L),
    "events" -> ("event_id", 100000L),
    "documents" -> ("doc_id", 5000L),
    "embeddings" -> ("vec_id", 5000L))
  private val dims = Seq("region", "nation", "customer", "supplier", "part")

  def run(outRoot: String, cores: Int): Unit = {
    val full = s"$outRoot/full"
    graft.GenSf1.main(Array(full, "1")) // stops its own session
    val spark = Harness.session(cores)
    slice(spark, full, s"$outRoot/bench", BenchFraction)
    spark.stop()
    deleteTree(Paths.get(full))
  }

  private def slice(spark: SparkSession, src: String, dst: String, f: Double): Unit = {
    Files.createDirectories(Paths.get(dst))
    dims.foreach(t => writeOne(spark.read.parquet(s"$src/$t.parquet"), dst, t))
    facts.foreach { case (t, (key, n)) =>
      writeOne(spark.read.parquet(s"$src/$t.parquet")
        .filter(col(key) < math.round(n * f)), dst, t)
    }
  }

  private def writeOne(df: org.apache.spark.sql.DataFrame, dir: String, name: String): Unit = {
    val tmp = s"$dir/_tmp_$name"
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = Files.list(Paths.get(tmp)).filter(_.getFileName.toString.endsWith(".parquet"))
      .findFirst().get()
    Files.move(part, Paths.get(dir, s"$name.parquet"), StandardCopyOption.REPLACE_EXISTING)
    deleteTree(Paths.get(tmp))
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(x => Files.delete(x))
      finally s.close()
    }
}
