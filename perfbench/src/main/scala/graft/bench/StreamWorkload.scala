package graft.bench

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery}

import graft.streaming.EventStream

/** `event_stream`: events replayed in event-time order, one micro-batch
  * file at a time, through three concurrent streaming queries
  * (`EventStream.tumblingAgg`, `dedupEvents`, `sessionize`) into memory
  * sinks. One operation is one file arrival: the file is moved into the
  * source directory and `processAllAvailable` is awaited on every query.
  * A pass replays every file with fresh checkpoints and state.
  */
final class StreamWorkload(o: Main.Opts, tracer: Tracer) extends Workload {
  private val src = Paths.get(o.data, "events")
  private val files: Seq[String] = Files.list(src).iterator().asScala
    .map(_.getFileName.toString).filter(_.startsWith("batch_")).toSeq.sorted
  private val hashLog = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[String]]
  private var lastSinks: Seq[String] = Nil

  def prepare(spark: SparkSession): Unit =
    spark.read.parquet(src.resolve(files.head).toString).schema

  def pass(spark: SparkSession, n: Int): PassResult = {
    import spark.implicits._
    val dir = Paths.get(o.work, s"stream/pass$n")
    val in = dir.resolve("src")
    Files.createDirectories(in)
    // staged copies on the same filesystem, so an arrival is one rename
    val staged = files.map { f =>
      val p = dir.resolve(f); Files.copy(src.resolve(f), p); p
    }
    def arrive(i: Int): Unit =
      Files.move(staged(i), in.resolve(files(i)), StandardCopyOption.ATOMIC_MOVE)

    tracer.streams.reset()
    val b0 = tracer.streams.batches.get
    val p0 = tracer.streams.planMs.get
    val lat = mutable.ArrayBuffer.empty[Double]
    val errors = mutable.ArrayBuffer.empty[String]
    val sinks = Seq("tumble", "dedup", "sessions").map(s => s"${s}_$n")
    val t0 = System.nanoTime()
    arrive(0) // the source needs one file to probe its schema
    val events = EventStream.readEvents(spark, in.toString)
    def start(df: DataFrame, sink: String): StreamingQuery =
      df.writeStream.outputMode(OutputMode.Append).format("memory").queryName(sink)
        .option("checkpointLocation", dir.resolve(s"ckpt_$sink").toString).start()
    val typed = events.select($"event_id", $"ts", $"user_id", $"event_type", $"value")
      .as[EventStream.Event]
    val queries = Seq(
      start(EventStream.tumblingAgg(events), sinks(0)),
      start(EventStream.dedupEvents(events), sinks(1)),
      start(EventStream.sessionize(typed).toDF(), sinks(2)))
    try {
      files.indices.foreach { i =>
        val a0 = System.nanoTime()
        try {
          if (i > 0) arrive(i)
          queries.foreach(_.processAllAvailable())
          lat += (System.nanoTime() - a0) / 1e9
        } catch { case e: Throwable => errors += s"${files(i)}: $e" }
      }
    } finally queries.foreach(_.stop())
    val wall = (System.nanoTime() - t0) / 1e9
    val (stateRows, stateBytes) = tracer.streams.state
    tracer.add("streaming.batches", (tracer.streams.batches.get - b0).toDouble)
    tracer.add("streaming.batch_plan_s", (tracer.streams.planMs.get - p0) / 1e3)
    tracer.add("streaming.state_rows", stateRows.toDouble)
    tracer.add("streaming.state_bytes", stateBytes.toDouble)
    sinks.zip(Seq("tumble", "dedup", "sessions")).foreach { case (sink, name) =>
      val h = try Workload.digest(spark.table(sink).collect())
        catch { case e: Throwable => errors += s"$name: $e"; "error" }
      hashLog.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += h
    }
    lastSinks.foreach(s => spark.sql(s"DROP VIEW IF EXISTS $s"))
    lastSinks = sinks
    EtlWorkload.deleteTree(dir)
    PassResult(wall, lat.toSeq, files.size, errors.size, errors.toSeq)
  }

  override def hashes: Map[String, Seq[String]] = hashLog.map { case (k, v) => k -> v.toSeq }.toMap

  /** The last pass's tumbling and dedup sinks as parquet, for run.py's
    * checks (sessionize is checked by its digests). */
  def check(spark: SparkSession): Map[String, Any] = {
    val out = s"${o.work}/results"
    Seq("tumble", "dedup").zip(lastSinks).foreach { case (name, sink) =>
      spark.table(sink).coalesce(1).write.mode("overwrite").parquet(s"$out/$name")
    }
    Map("results_dir" -> out, "files" -> files)
  }
}
