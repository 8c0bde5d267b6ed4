package perfbench

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.{Barriers, Bench, SparkEntry}

/** A query workload: a fixed set of lanes run back to back by one caller.
  *
  * One untimed reference pass runs every lane once, writes its output as
  * parquet for the DuckDB oracle and records its digest. Timed passes then
  * run every lane, in an order the seed permutes per pass, until `seconds`
  * have elapsed. Each execution is materialised through the `noop` sink
  * inside `Barriers.withBarrierScope`, as `graft.Bench` does, with an
  * order-independent digest observed on the way out; an execution whose
  * digest differs from the reference counts as failed.
  *
  * In a traced run every second pass is traced: its executions run under a
  * job group named after the trace, with both listeners on, and the
  * untraced passes between them give the tracing overhead in the same
  * process. */
final class QueryWorkload(spark: SparkSession, ctx: RunContext, laneNames: Seq[String]) {
  private val sc = spark.sparkContext

  private val lanes: Seq[(String, (SparkSession, String) => DataFrame)] = {
    val named = laneNames.map { n =>
      n -> SparkEntry.all.get(n).map(_.fn).orElse(Bench.productionLanes.get(n))
        .getOrElse(throw new IllegalArgumentException(s"unknown lane $n"))
    }
    if (ctx.inject == "throw")
      named :+ ("zz_injected_failure" -> ((s: SparkSession, _: String) =>
        s.sql("SELECT raise_error('injected lane failure') AS x")))
    else named
  }

  private def hasMap(t: DataType): Boolean = t match {
    case _: MapType => true
    case a: ArrayType => hasMap(a.elementType)
    case s: StructType => s.fields.exists(f => hasMap(f.dataType))
    case _ => false
  }

  /** Row count, XOR and masked sum of per-row xxhash64: equal for equal row
    * multisets, whatever the partitioning. */
  private def observed(df: DataFrame, obs: Observation): DataFrame = {
    val cols = df.schema.fields.toSeq.map { f =>
      val c = col(s"`${f.name}`")
      if (hasMap(f.dataType)) to_json(c) else c
    }
    val h = xxhash64(cols: _*)
    df.observe(obs, count(lit(1)).as("n"), bit_xor(h).as("x"),
      sum(h.bitwiseAND(0xFFFFFFL)).as("s"))
  }

  private def digest(obs: Observation): String = {
    val m = obs.get
    s"${m("n")}:${m("x")}:${m("s")}"
  }

  private def errorText(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"

  private val refs = scala.collection.mutable.LinkedHashMap[String, Map[String, Any]]()
  private val execs = ArrayBuffer[Map[String, Any]]()
  private val passes = ArrayBuffer[Map[String, Any]]()

  private def reference(name: String, fn: (SparkSession, String) => DataFrame): Unit = {
    val tmpBefore = Files.treeBytes(ctx.tmpDir)
    val out = s"${ctx.workDir}/out/$name"
    val obs = Observation(s"ref_$name")
    val c0 = Clock.cpu()
    val t0 = Clock.nowMs
    val err =
      try {
        Barriers.withBarrierScope(spark) {
          val df = fn(spark, ctx.dataDir)
          val shown = if (ctx.inject == "perturb" && name == lanes.head._1) df.limit(1) else df
          observed(shown, obs).write.mode("overwrite").parquet(out)
        }
        None
      } catch { case e: Throwable => Some(errorText(e)) }
    val t1 = Clock.nowMs
    val c1 = Clock.cpu()
    refs(name) = Map(
      "out" -> out, "error" -> err, "first_s" -> (t1 - t0) / 1000, "first_cpu_s" -> Clock.cpuS(c0, c1),
      "digest" -> err.fold(digest(obs))(_ => ""),
      "oracle_sql" -> SparkEntry.all.get(name).flatMap(_.oracle),
      "leak_mb" -> (Files.treeBytes(ctx.tmpDir) - tmpBefore) / 1e6)
  }

  private def timed(name: String, fn: (SparkSession, String) => DataFrame,
      pass: Int, traced: Boolean): (Double, Double) = {
    val trace = s"$name#$pass"
    val obs = Observation(s"p${pass}_$name")
    var pinned = 0
    val c0 = Clock.cpu()
    val t0 = Clock.nowMs
    val err =
      try {
        ctx.tracer.filter(_ => traced) match {
          case Some(tr) =>
            sc.setJobGroup(trace, name)
            try tr.span("lane", trace) {
              Barriers.withBarrierScope(spark) {
                val before = sc.getPersistentRDDs.keySet.toSet
                val df = tr.span("operators.build")(fn(spark, ctx.dataDir))
                tr.span("sink.noop")(observed(df, obs).write.mode("overwrite").format("noop").save())
                pinned = (sc.getPersistentRDDs.keySet.toSet -- before).size
              }
            } finally sc.clearJobGroup()
          case None =>
            Barriers.withBarrierScope(spark) {
              observed(fn(spark, ctx.dataDir), obs).write.mode("overwrite").format("noop").save()
            }
        }
        None
      } catch { case e: Throwable => Some(errorText(e)) }
    val t1 = Clock.nowMs
    val c1 = Clock.cpu()
    val d = err.fold(digest(obs))(_ => "")
    val refErr = refs(name)("error")
    val ok = err.isEmpty && refErr == None && d == refs(name)("digest")
    ctx.tracer.filter(_ => traced).foreach { tr =>
      org.apache.spark.PerfbenchBus.drain(sc)
      tr.count(trace, "Barriers.pinned_rdds", pinned)
    }
    execs += Map("lane" -> name, "pass" -> pass, "traced" -> traced,
      "wall_s" -> (t1 - t0) / 1000, "cpu_s" -> Clock.cpuS(c0, c1), "ok" -> ok,
      "error" -> err.orElse(if (ok) None else Some(s"digest $d differs from reference")))
    (t1 - t0, Clock.cpuS(c0, c1))
  }

  def run(): Map[String, Any] = {
    lanes.foreach { case (n, fn) => reference(n, fn) }
    val firstTimedMs = Clock.nowMs
    val rnd = new scala.util.Random(ctx.seed)
    var pass = 0
    // at least two passes, so that a traced run has an untraced pass to
    // compare with and every run's median covers the same warm-up stage
    while (pass < 2 || Clock.nowMs - firstTimedMs < ctx.seconds * 1000.0) {
      val traced = ctx.tracer.isDefined && pass % 2 == 1
      ctx.tracer.foreach(tr => if (traced) Listeners.on(spark, tr) else Listeners.off(spark, tr))
      val order = rnd.shuffle(lanes)
      val (walls, cpus) = order.map { case (n, fn) => timed(n, fn, pass, traced) }.unzip
      passes += Map("pass" -> pass, "traced" -> traced, "wall_s" -> walls.sum / 1000,
        "cpu_s" -> cpus.sum)
      pass += 1
    }
    ctx.tracer.foreach(tr => Listeners.off(spark, tr))
    Map("first_timed_ms" -> firstTimedMs, "lanes" -> lanes.map(_._1),
      "references" -> refs, "executions" -> execs, "passes" -> passes)
  }
}
