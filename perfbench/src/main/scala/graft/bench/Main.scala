package graft.bench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}

/** One benchmark run of one workload in this JVM.
  *
  *   graft.bench.Main --workload W --data DIR --work DIR --out FILE
  *                    --seconds S --seed N --trace 0|1
  *
  * Phases: set-up (session + the workload's prebuild), one cold pass,
  * then steady passes until `seconds` have elapsed (at least one). A full
  * collection runs after every pass, outside the timing, so old garbage
  * of one pass neither slows nor inflates the memory of the next. A traced run
  * alternates untraced and traced steady passes, so one process yields
  * both the per-layer counts and the tracing overhead. Correctness
  * outputs are dumped after the last pass, outside every timed phase.
  * Raw timings go to FILE as JSON; run.py turns them into metrics.
  */
object Main {
  final case class Opts(workload: String, data: String, work: String, out: String,
      seconds: Double, seed: Long, trace: Boolean)

  private def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Opts(m("workload"), m("data"), m("work"), m("out"), m("seconds").toDouble,
      m("seed").toLong, m.getOrElse("trace", "0") == "1")
  }

  def session(work: String): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors
    SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.streaming.checkpointLocation", s"$work/checkpoints")
      .getOrCreate()
  }

  def main(args: Array[String]): Unit = {
    val mainEntryMs = System.currentTimeMillis()
    val o = parse(args)
    require(!graft.ml.ArtifactStore.isPersistent,
      "benchmark JVMs must not share an artifact root (unset GRAFT_ARTIFACT_ROOT)")
    var spark: SparkSession = null
    val tracer = new Tracer(() => spark)
    Jvm.watchHeap()
    val wl: Workload = o.workload match {
      case "curation"     => new CurationWorkload(o, tracer)
      case "claims_etl"   => new EtlWorkload(o, tracer)
      case "event_stream" => new StreamWorkload(o, tracer)
      case w              => throw new IllegalArgumentException(s"unknown workload $w")
    }

    // set-up: session build + the workload's prebuild
    tracer.on = o.trace
    val t0 = System.nanoTime()
    spark = session(o.work)
    spark.sparkContext.setLogLevel("WARN")
    tracer.attach(spark)
    wl.prepare(spark)
    val setupS = (System.nanoTime() - t0) / 1e9
    val setupLayer = tracer.layer.toMap

    // cold pass + steady passes (traced runs alternate untraced/traced)
    tracer.on = false
    val cold = wl.pass(spark, 0)
    System.gc()
    val steady = mutable.ArrayBuffer.empty[PassResult]
    val traced = mutable.ArrayBuffer.empty[PassResult]
    tracer.drain()
    val steadyStart = tracer.counters.snapshot
    val tStart = System.nanoTime()
    def elapsed = (System.nanoTime() - tStart) / 1e9
    var n = 1
    // a traced run has untraced passes on both sides of its first traced
    // one, so warm-up does not read as negative tracing overhead
    while (steady.isEmpty || (o.trace && (traced.isEmpty || steady.size < 2)) ||
        elapsed < o.seconds) {
      val tracedPass = o.trace && n % 2 == 0
      tracer.on = tracedPass
      tracer.layer.clear()
      val r = if (tracedPass) withPassCounters(tracer, wl.pass(spark, n)) else wl.pass(spark, n)
      (if (tracedPass) traced else steady) += r
      System.gc()
      n += 1
    }
    tracer.on = false
    tracer.drain()
    val steadyEnd = tracer.counters.snapshot
    val (peakMem, peakKb) = (Jvm.peakMemBytes, Jvm.peakRssKb)
    val checks = wl.check(spark)

    val attempted = (cold +: (steady ++ traced)).map(_.attempted).sum
    val failed = (cold +: (steady ++ traced)).map(_.failed).sum
    val result = Map(
      "workload" -> o.workload,
      "seed" -> o.seed,
      "cores" -> Runtime.getRuntime.availableProcessors,
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
      "main_entry_ms" -> mainEntryMs,
      "setup_s" -> setupS,
      "setup_layer" -> setupLayer,
      "cold_pass_s" -> cold.wall,
      "steady" -> steady.map(_.json),
      "traced" -> traced.map(_.json),
      "steady_input_rows" -> (steadyEnd("input_rows") - steadyStart("input_rows")),
      "peak_mem_bytes" -> peakMem,
      "peak_rss_kb" -> peakKb,
      "attempted" -> attempted,
      "failed" -> failed,
      "errors" -> (cold +: (steady ++ traced)).flatMap(_.errors).distinct.take(20),
      "hashes" -> wl.hashes,
      "checks" -> checks,
      "spans" -> (if (o.trace) tracer.spansJson else Nil))
    Files.writeString(Paths.get(o.out), Json(result))
    spark.stop()
  }

  /** Pass-level layer metrics from the listener and JVM counters. */
  private def withPassCounters(t: Tracer, body: => PassResult): PassResult = {
    t.drain()
    val before = t.counters.snapshot
    val (c0, g0) = (Jvm.compileMs, Jvm.gcMs)
    val r = body
    t.drain()
    val d = t.counters.snapshot.map { case (k, v) => k -> (v - before(k)).toDouble }
    val cores = Runtime.getRuntime.availableProcessors
    val busy = d("job_busy_ns") / 1e9
    val passLayer = Map(
      "exec.s" -> busy,
      "exec.jobs" -> d("jobs"), "exec.stages" -> d("stages"), "exec.tasks" -> d("tasks"),
      "exec.task_s" -> d("task_ms") / 1e3, "exec.task_cpu_s" -> d("task_cpu_ns") / 1e9,
      "exec.gc_s" -> d("gc_ms") / 1e3,
      "exec.core_util" -> (if (busy > 0) d("task_ms") / 1e3 / (busy * cores) else 0.0),
      "exec.shuffle_write_bytes" -> d("shuffle_write_bytes"),
      "exec.shuffle_read_bytes" -> d("shuffle_read_bytes"),
      "exec.spill_bytes" -> d("spill_bytes"),
      "scan.input_bytes" -> d("input_bytes"), "scan.input_rows" -> d("input_rows"),
      "jvm.compile_s" -> (Jvm.compileMs - c0) / 1e3, "jvm.gc_s" -> (Jvm.gcMs - g0) / 1e3)
    r.copy(layer = t.layer.toMap ++ passLayer)
  }
}

/** One pass of a workload: its wall time, per-operation latencies, and
  * (traced passes only) the per-layer metrics. */
final case class PassResult(wall: Double, opLatencies: Seq[Double],
    attempted: Int, failed: Int, errors: Seq[String] = Nil,
    layer: Map[String, Double] = Map.empty) {
  def json: Map[String, Any] = Map("wall_s" -> wall, "op_s" -> opLatencies, "layer" -> layer)
}

trait Workload {
  /** The set-up step after the session is up (prebuilds). */
  def prepare(spark: SparkSession): Unit
  def pass(spark: SparkSession, n: Int): PassResult
  /** Per-operation result hashes of every pass (must agree across passes). */
  def hashes: Map[String, Seq[String]] = Map.empty
  /** Outputs for run.py's correctness checks, dumped after the last pass. */
  def check(spark: SparkSession): Map[String, Any]
}

object Workload {
  /** Order-independent digest of a result: row count and the sum of the
    * rows' content hashes (byte arrays hashed by content). */
  def digest(rows: Array[Row]): String = {
    val sum = rows.iterator.map { r =>
      r.toSeq.map { case b: Array[Byte] => b.toSeq; case v => v }.hashCode.toLong
    }.sum
    s"${rows.length}:$sum"
  }
}
