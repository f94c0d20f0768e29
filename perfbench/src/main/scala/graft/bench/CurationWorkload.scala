package graft.bench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
import org.apache.spark.sql.types.StructType

import graft.SparkEntry

/** `curation`: a closed-loop client over a fixed query mix.
  *
  * Each operation is one `SparkEntry.queries` builder call, forcing the
  * physical plan, and collecting the result; the client folds the rows
  * into an order-independent digest that must repeat on every pass.
  * Spans: builder call (`operators.build`), planning (`plans.plan`,
  * GraftExtensions included), execution and collect (`exec.query`).
  * `clearCache()` runs after every query, outside the timing. The mix is
  * shuffled per pass from the seed.
  */
final class CurationWorkload(o: Main.Opts, tracer: Tracer) extends Workload {
  private val all = SparkEntry.queries
  private val names: Seq[String] = CurationWorkload.Mix.map { p =>
    all.keys.find(_.startsWith(p + "_")).getOrElse(sys.error(s"no query $p in SparkEntry"))
  }
  private val hashLog = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[String]]
  /** Cold-pass results, written out for the oracle compare after the run. */
  private val firstResults = mutable.LinkedHashMap.empty[String, (StructType, Array[Row])]

  def prepare(spark: SparkSession): Unit = {
    // footers of every input table, the part of set-up every query shares
    graft.Tables.names.foreach(t => graft.Tables.load(spark, o.data, t).schema)
    tracer.span("ml.hybrid_build")(graft.ml.HybridIndex.ensure(spark, o.data))
    tracer.span("ml.truth_build")(graft.ml.TruthTables.warm(spark, o.data))
    tracer.span("ml.gram_build")(graft.operators.Round9Ops.spanGrams(spark, o.data).count())
    // the adopt-from-disk half of the artifact lifecycle: a registry
    // miss re-fingerprints the corpus and serves the on-disk artifact
    tracer.span("ml.lifecycle") {
      graft.ml.HybridIndex.dropMemo(o.data)
      graft.ml.HybridIndex.ensure(spark, o.data)
    }
    tracer.add("ml.artifact_bytes", CurationWorkload.artifactBytes(Paths.get(o.work, "tmp")))
    spark.catalog.clearCache()
  }

  def pass(spark: SparkSession, n: Int): PassResult = {
    val order = new scala.util.Random(o.seed * 1000003L + n).shuffle(names)
    val t0 = System.nanoTime()
    val lat = mutable.ArrayBuffer.empty[Double]
    val errors = mutable.ArrayBuffer.empty[String]
    order.foreach { name =>
      val q0 = System.nanoTime()
      try {
        val df = tracer.span("operators.build")(all(name)(spark, o.data))
        tracer.span("plans.plan")(df.queryExecution.executedPlan)
        val rows = tracer.span("exec.query")(df.collect())
        if (tracer.on) {
          val nodes = CurationWorkload.planNodes(df.queryExecution.executedPlan)
          tracer.add("plans.exchanges", nodes.count(_.isInstanceOf[Exchange]).toDouble)
          tracer.add("plans.bnl_joins",
            nodes.count(_.isInstanceOf[BroadcastNestedLoopJoinExec]).toDouble)
        }
        lat += (System.nanoTime() - q0) / 1e9
        hashLog.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += Workload.digest(rows)
        if (n == 0) firstResults(name) = (df.schema, rows)
      } catch {
        case e: Throwable =>
          errors += s"$name: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
          hashLog.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += "error"
      } finally spark.catalog.clearCache()
    }
    PassResult((System.nanoTime() - t0) / 1e9, lat.toSeq, order.size, errors.size, errors.toSeq)
  }

  override def hashes: Map[String, Seq[String]] = hashLog.map { case (k, v) => k -> v.toSeq }.toMap

  /** Write each oracle-backed query's cold-pass result as parquet for
    * the DuckDB compare in run.py (the library's Verify layout). */
  def check(spark: SparkSession): Map[String, Any] = {
    val out = s"${o.work}/results"
    val oracles = SparkEntry.oracleSql
    val dumped = firstResults.toSeq.collect { case (name, (schema, rows)) if oracles.contains(name) =>
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
        .coalesce(1).write.mode("overwrite").parquet(s"$out/$name")
      name -> oracles(name)
    }
    Map("results_dir" -> out, "oracle_sql" -> dumped.toMap)
  }
}

object CurationWorkload {
  /** Dedup, similarity search (IVF and hybrid IVF+LSH) and text analysis.
    * An odd number of queries keeps the median inside one query's cluster
    * of latencies instead of between two. */
  val Mix: Seq[String] = Seq("q34", "q35", "q39", "q274", "q30", "q53", "q185")

  /** Every node of the plan as executed: adaptive plans are read after
    * their final re-planning, query stages are opened up to the exchange
    * they wrap, and subquery plans are included. */
  def planNodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => planNodes(a.executedPlan)
    case q: QueryStageExec        => planNodes(q.plan)
    case r: ReusedExchangeExec    => r +: planNodes(r.child)
    case other                    =>
      other +: (other.children ++ other.subqueries).flatMap(planNodes)
  }

  def artifactBytes(tmp: Path): Double = {
    if (!Files.isDirectory(tmp)) return 0.0
    val s = Files.walk(tmp)
    try {
      s.filter(p => Files.isRegularFile(p) && p.toString.contains("graft-artifacts-"))
        .mapToLong(p => Files.size(p)).sum().toDouble
    } finally s.close()
  }
}
