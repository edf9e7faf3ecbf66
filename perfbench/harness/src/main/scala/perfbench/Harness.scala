package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.Random
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** Benchmark harness inside the JVM. `run.py` launches it once per run:
  *
  * {{{
  *   perfbench.Harness --workload W --seed N --seconds S --trace 0|1
  *                     --lake DIR --work DIR [--bronze DIR]
  * }}}
  *
  * It builds the session and runs untimed warm-up passes (the first
  * registry pass writes every query's output for the correctness
  * check), then runs
  * timed passes in a closed loop (one client, one operation at a time)
  * until `--seconds` have elapsed, gathers the pipeline's check facts,
  * and writes `result.json` (plus `trace.json` when traced) under
  * `--work`. All times are wall clock. */
object Harness {
  val WarmupPasses = 2

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = opt("work")
    Files.createDirectories(Paths.get(work))
    val spark = GraftSession.get()
    spark.range(1000).selectExpr("sum(id)").collect()
    val sessionReadyMs = System.currentTimeMillis()
    val traced = opt("trace") == "1"
    val seed = opt("seed").toLong
    val (collector, lost) = Trace.install(spark, detailed = traced)
    val workload: Workload = opt("workload") match {
      case "registry_iterative" => new Registry(spark, collector, Workloads.iterative, opt("lake"), work)
      case "medallion_pipeline" => new Pipeline(spark, opt("bronze"), work)
      case other => sys.error(s"unknown workload $other")
    }
    val rng = new Random(seed)

    // Untimed passes: fill caches and let JIT compilation settle (the
    // third execution of an operation still ran ~13% faster than the
    // second), and make the pipeline's initial load. The first registry
    // pass also writes the outputs that the correctness check reads.
    val warmup = new Runner(spark, collector, traced = false)
    for (i <- 0 until WarmupPasses) workload.pass(warmup, rng, check = i == 0)
    val setupEndMs = System.currentTimeMillis()

    // Timed passes, back to back for `--seconds`. With tracing every
    // timed pass is traced, so the first one runs the same operations,
    // at the same point, as the first timed pass of an untraced run
    // with the same seed; the difference of their walls is the tracing
    // overhead. Per-operation counters cover the timed passes only.
    val seconds = opt("seconds").toDouble
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    val passes = mutable.ArrayBuffer.empty[PassRecord]
    val timed = new Runner(spark, collector, traced)
    Trace.drain(spark)
    collector.reset()
    lost.reset()
    do {
      val t0 = System.nanoTime()
      workload.pass(timed, rng, check = false)
      val wall = (System.nanoTime() - t0) / 1e9
      Trace.drain(spark)
      passes += PassRecord(wall, timed.ops.toSeq, workload.inputRows)
      timed.ops.clear()
      // Another pass starts only if at least half of it would fall
      // inside the window.
    } while (workload.hasNext && System.nanoTime() + (passes.last.wall * 5e8).toLong < deadline)

    val result = Map(
      "session_ready_ms" -> sessionReadyMs,
      "setup_end_ms" -> setupEndMs,
      "warmup_ops" -> warmup.ops.map(_.json).toSeq,
      "check" -> workload.checkFacts,
      "passes" -> passes.map(_.json).toSeq,
      "cores" -> spark.sparkContext.defaultParallelism,
      "spark_version" -> spark.version,
      "jvm_version" -> System.getProperty("java.version"),
      "peak_rss_kb" -> vmHwmKb(),
      "lost_accumulators" -> lost.count.get())
    write(s"$work/result.json", Json(result))
    if (traced) write(s"$work/trace.json", Json(traceJson(timed, collector, lost, workload)))
    spark.stop()
  }

  private def traceJson(r: Runner, c: Collector, lost: LostAccumulators,
                        w: Workload): Map[String, Any] = {
    val counters = c.ops
    val ops = r.allOps.map(_.name).distinct.map { n =>
      val k = counters.getOrElse(n, new OpCounters)
      n -> Map(
        "family" -> Workloads.family(n), "layer" -> Workloads.layer(n),
        "construct_jobs" -> k.jobs("construct"), "exec_jobs" -> k.jobs("exec"),
        "stages" -> k.stages, "tasks" -> k.tasks, "task_failed" -> k.taskFailed,
        "stage_retried" -> k.stageRetried, "run_ms" -> k.runMs, "cpu_ns" -> k.cpuNs,
        "gc_ms" -> k.gcMs, "task_wait_ms" -> k.waitMs, "shuffle_write_b" -> k.shuffleWrite,
        "shuffle_read_b" -> k.shuffleRead, "spill_b" -> k.spill, "input_b" -> k.inputBytes,
        "input_records" -> k.inputRecords, "dup_stages" -> k.dupStages,
        "analysis_ms" -> k.analysisMs, "optimization_ms" -> k.optimizationMs,
        "planning_ms" -> k.planningMs, "lost_accumulators" -> lost.of(n))
    }.toMap
    Map(
      "run_id" -> r.spans.runId,
      "ops" -> ops,
      "pipeline" -> w.traceFacts,
      "spans" -> r.spans.spans.map(s => Map("name" -> s.name, "op" -> s.op,
        "start_ns" -> s.start, "end_ns" -> s.end, "parent" -> s.parent)).toSeq)
  }

  private def vmHwmKb(): Long =
    try scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong).getOrElse(0L)
    catch { case NonFatal(_) => 0L }

  def write(path: String, s: String): Unit =
    Files.write(Paths.get(path), s.getBytes(StandardCharsets.UTF_8))
}

final case class OpRecord(name: String, seconds: Double, ok: Boolean, error: String) {
  def json: Map[String, Any] = Map("name" -> name, "s" -> seconds, "ok" -> ok, "error" -> error)
}

final case class PassRecord(wall: Double, ops: Seq[OpRecord], inputRows: Long) {
  def json: Map[String, Any] = Map("wall_s" -> wall, "ops" -> ops.map(_.json),
    "bronze_rows" -> inputRows)
}

/** Runs operations one at a time and records their walls. A traced
  * runner also tags each operation's jobs with its name (the Spark job
  * group), keeps layer spans, and drains the listener bus after each
  * operation so its counters are complete. */
final class Runner(spark: SparkSession, collector: Collector, val traced: Boolean) {
  val spans = new Spans(java.util.UUID.randomUUID().toString.take(8))
  val ops = mutable.ArrayBuffer.empty[OpRecord]
  val allOps = mutable.ArrayBuffer.empty[OpRecord]
  private val sc = spark.sparkContext
  private var current = ""

  def op(name: String)(body: => Unit): Unit = {
    current = name
    collector.current = name
    if (traced) sc.setJobGroup(name, name, interruptOnCancel = false)
    val t0 = System.nanoTime()
    val err = try { layer("op")(body); "" } catch {
      case NonFatal(e) =>
        System.err.println(s"[perfbench] $name failed: $e")
        Option(e.getMessage).getOrElse(e.toString).take(300)
    }
    val rec = OpRecord(name, (System.nanoTime() - t0) / 1e9, err.isEmpty, err)
    if (traced) {
      Trace.drain(spark)
      sc.clearJobGroup()
      phase("exec")
    }
    ops += rec
    allOps += rec
  }

  /** Span around a call into one layer; a no-op when untraced. */
  def layer[A](name: String)(body: => A): A = if (traced) spans(name, current)(body) else body

  /** Marks the jobs started from here on as construction or execution. */
  def phase(p: String): Unit = if (traced) sc.setLocalProperty("perfbench.phase", p)
}

trait Workload {
  def pass(r: Runner, rng: Random, check: Boolean): Unit
  /** False once the workload has no input left for another pass. */
  def hasNext: Boolean = true
  /** Facts the correctness check needs, gathered after the timed passes. */
  def checkFacts: Map[String, Any] = Map.empty
  /** Bronze rows one pass carries (0 for the registry workloads). */
  def inputRows: Long = 0L
  /** Pipeline-step facts recorded during traced passes. */
  def traceFacts: Map[String, Any] = Map.empty
}

/** Runs registry queries from `graft.SparkEntry`. Construction (the
  * call that makes the query's DataFrame, with whatever eager jobs it
  * starts) and the final action are separate layers. A `check` pass
  * writes each result as parquet, with the queries' DuckDB twins, for
  * the output check. */
final class Registry(spark: SparkSession, collector: Collector, names: Seq[String],
                     lake: String, work: String) extends Workload {
  private val queries = graft.SparkEntry.queries

  def pass(r: Runner, rng: Random, check: Boolean): Unit = {
    for (n <- rng.shuffle(names)) r.op(n) {
      r.phase("construct")
      val df = r.layer("SparkEntry.construct")(queries(n)(spark, lake))
      if (r.traced) collector.addAnalysis(n, df.queryExecution)
      r.phase("exec")
      r.layer("exec.action") {
        if (check) df.coalesce(1).write.mode("overwrite").parquet(s"$work/out/$n")
        else df.write.format("noop").mode("overwrite").save()
      }
    }
    if (check) Harness.write(s"$work/out/oracle_sql.json",
      Json(names.flatMap(n => graft.SparkEntry.oracleSql.get(n).map(n -> _)).toMap))
  }
}

/** JSON rendering of maps, sequences, strings and numbers. */
object Json {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def apply(v: Any): String = mapper.writeValueAsString(v)
}
