package perfbench

import java.nio.file.{Files => JFiles, Path, Paths}
import org.apache.spark.sql.SparkSession

/** What one benchmark process was asked to do. `tmpDir` is the process's
  * `java.io.tmpdir`, inside the run's own temp root. */
final case class RunContext(
    workload: String, seed: Long, seconds: Int, cores: Int,
    dataDir: String, workDir: String, tmpDir: String,
    tracer: Option[Tracer], inject: String)

object Files {
  /** Bytes in regular files under `dir` (0 if it does not exist). */
  def treeBytes(dir: String): Long = {
    val p = Paths.get(dir)
    if (!JFiles.exists(p)) 0L
    else {
      val s = JFiles.walk(p)
      try s.filter(JFiles.isRegularFile(_)).mapToLong(JFiles.size(_)).sum()
      finally s.close()
    }
  }

  /** Regular files under `dir`; with `parquetOnly`, only parquet data files. */
  def treeFiles(dir: String, parquetOnly: Boolean = false): Long = {
    val p = Paths.get(dir)
    if (!JFiles.exists(p)) 0L
    else {
      val s = JFiles.walk(p)
      try s.filter(f => JFiles.isRegularFile(f) &&
        (!parquetOnly || f.getFileName.toString.endsWith(".parquet"))).count()
      finally s.close()
    }
  }

  def deleteTree(dir: String): Unit = {
    val p = Paths.get(dir)
    if (JFiles.exists(p)) {
      val s = JFiles.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => JFiles.delete(f))
      finally s.close()
    }
  }
}

/** Turns the traced run's listeners on and off between passes. */
object Listeners {
  private var registered = false
  def on(spark: SparkSession, tr: Tracer): Unit = if (!registered) {
    spark.sparkContext.addSparkListener(tr.sparkListener)
    spark.listenerManager.register(tr.queryListener)
    registered = true
  }
  def off(spark: SparkSession, tr: Tracer): Unit = if (registered) {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(tr.sparkListener)
    spark.listenerManager.unregister(tr.queryListener)
    registered = false
  }
}

/** Benchmark process: builds the session the way `graft.Bench` does, at
  * `local[cores]` with `cores` shuffle partitions, runs one workload and
  * writes the run record as JSON for `perfbench/run.py`.
  *
  * Usage: Main <workload> <seed> <seconds> <trace 0|1> <cores> <lanes,...>
  *             <dataDir> <workDir> <resultJson> <inject: none|throw|perturb>
  */
object Main {
  def main(args: Array[String]): Unit = {
    val Array(workload, seed, seconds, trace, cores, lanes, dataDir, workDir,
      resultPath, inject) = args
    val tmpDir = System.getProperty("java.io.tmpdir")
    val ctx = RunContext(workload, seed.toLong, seconds.toInt, cores.toInt,
      dataDir, workDir, tmpDir, if (trace == "1") Some(new Tracer) else None, inject)
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/spark-warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val laneList = lanes.split(',').toSeq.filter(_.nonEmpty)
    val record =
      if (workload == "ingest") new IngestWorkload(spark, ctx).run()
      else new QueryWorkload(spark, ctx, laneList).run()
    val layers = ctx.tracer.map { tr => tr.finish(); Layers.summarise(tr, ctx) }
    val status = scala.io.Source.fromFile("/proc/self/status")
    val hwmKb = try status.getLines().find(_.startsWith("VmHWM:"))
        .map(_.split("\\s+")(1).toLong).getOrElse(0L) finally status.close()
    val out = record ++ Map(
      "jvm" -> System.getProperty("java.version"),
      "spark" -> spark.version,
      "cores" -> ctx.cores,
      "vmhwm_mb" -> hwmKb / 1024.0,
      "tmp_left_mb" -> Files.treeBytes(tmpDir) / 1e6,
      "layers" -> layers,
      "spans" -> ctx.tracer.map(_.spans))
    spark.stop()
    JFiles.write(Paths.get(resultPath), new com.fasterxml.jackson.databind.ObjectMapper()
      .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
      .writeValueAsBytes(out))
  }
}
