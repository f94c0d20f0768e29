package graft.bench

import java.nio.file.{Files, Path, Paths}
import java.sql.Timestamp

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.types._

import graft.pipeline.{Connector, Gold, Medallion, TableConfig}

/** `claims_etl`: the reference's Bronze→Silver job over the 8 claims CSVs.
  *
  * A pass is batch 1 (full load: fetch each file to staging, then
  * `Medallion.runTable` → Historic + current silver), batch 2 (refresh:
  * fetch + `runTable` again), then `Medallion.upsert` of each table's
  * refresh into its Historic silver, then `Gold.claimsMart` and
  * `Gold.monthlyStatus` over the upserted tables. One operation is one
  * table's fetch+load, fetch+refresh and upsert (the reference's per-table
  * wall clock), or one gold table; its latency is the sum of its steps.
  * Every pass writes into a fresh directory.
  */
final class EtlWorkload(o: Main.Opts, tracer: Tracer) extends Workload {
  private val claims = Paths.get(o.data, "claims")
  private val files: Seq[String] =
    Files.list(claims.resolve("batch1")).iterator().asScala.map(_.getFileName.toString).toSeq.sorted
  private var lastPass: Path = _
  private val silverCfg = (t: String) => TableConfig(t, Seq("claim_number"), Seq("updated_on"))

  /** Explicit CSV schema: ids long, amounts double, dates date, the rest
    * string (`deliverydate` stays a string; the silver step parses it). */
  private def schemaOf(csv: Path): StructType = {
    val header = Files.newBufferedReader(csv)
    val cols = try header.readLine().split(",").toSeq finally header.close()
    StructType(cols.map { c =>
      val n = c.toLowerCase
      val t =
        if (n == "deliverydate") StringType
        else if (n.startsWith("date") || n.endsWith("date") || n == "dateof") DateType
        else if (n.endsWith("amount") || n.endsWith("pct") || Set("legalliabilityreserves",
            "unitcost", "linetotal", "weight", "quantity")(n)) DoubleType
        else if (Set("claimid", "accountid", "rowid", "statuscodeid", "reasoncodeid")(n)) LongType
        else StringType
      StructField(c, t)
    })
  }

  def prepare(spark: SparkSession): Unit =
    files.foreach(f => schemaOf(claims.resolve("batch1").resolve(f)))

  def pass(spark: SparkSession, n: Int): PassResult = {
    if (lastPass != null) EtlWorkload.deleteTree(lastPass)
    val dir = Paths.get(o.work, s"etl/pass$n")
    lastPass = dir
    val (bronze, silver, merged, gold) =
      (s"$dir/bronze", s"$dir/silver", s"$dir/merged", s"$dir/gold")
    val opS = mutable.LinkedHashMap.empty[String, Double]
    val failedOps = mutable.Set.empty[String]
    val errors = mutable.ArrayBuffer.empty[String]
    var attempted = 0
    def step(op: String, name: String)(f: => Unit): Unit = {
      attempted += 1
      val t0 = System.nanoTime()
      try { f; opS(op) = opS.getOrElse(op, 0.0) + (System.nanoTime() - t0) / 1e9 }
      catch { case e: Throwable => errors += s"$name: $e"; failedOps += op }
    }
    val t0 = System.nanoTime()
    for ((batch, day) <- Seq("batch1" -> 1, "batch2" -> 2)) {
      val src = new Connector.LocalSource(claims.resolve(batch))
      val staging = dir.resolve(s"staging/$batch")
      val today = f"2024-01-$day%02d"
      val updatedOn = Timestamp.valueOf(s"$today 00:00:00")
      files.foreach { f =>
        val table = TableConfig.tableNameForFile(f)
        step(table, s"$batch/$table") {
          val fetched = tracer.span("pipeline.fetch")(Connector.fetchToStaging(src, f, staging))
          tracer.add("pipeline.fetch_bytes", fetched.map(_.bytes).getOrElse(0L).toDouble)
          val staged = staging.resolve(f)
          tracer.span(if (batch == "batch1") "pipeline.load" else "pipeline.refresh") {
            Medallion.runTable(spark, staged.toString, bronze, silver, table, "mercurygate",
              "perfbench", updatedOn, today, Some(schemaOf(staged)))
          }
        }
      }
      Connector.cleanupStaging(staging)
    }
    files.map(TableConfig.tableNameForFile).foreach { table =>
      step(table, s"upsert/$table")(tracer.span("pipeline.upsert") {
        val existing = spark.read.parquet(s"$silver/$table/datePart=Historic")
        val updates = spark.read.parquet(s"$silver/$table/datePart=2024-01-02")
        Medallion.upsert(existing, updates, silverCfg(table))
          .write.mode(SaveMode.Overwrite).parquet(s"$merged/$table")
      })
    }
    step("gold/claims_mart", "gold/claims_mart")(tracer.span("pipeline.gold") {
      def t(name: String) = spark.read.parquet(s"$merged/$name")
      Gold.claimsMart(t("claim"), t("claim_payment"), t("claim_product"))
        .write.mode(SaveMode.Overwrite).parquet(s"$gold/claims_mart")
    })
    step("gold/monthly_status", "gold/monthly_status")(tracer.span("pipeline.gold") {
      Gold.monthlyStatus(spark.read.parquet(s"$merged/claim"))
        .write.mode(SaveMode.Overwrite).parquet(s"$gold/monthly_status")
    })
    val wall = (System.nanoTime() - t0) / 1e9
    val (bb, bf) = EtlWorkload.parquetSize(Paths.get(bronze))
    val (sb, sf) = EtlWorkload.parquetSize(Paths.get(silver))
    val (mb, mf) = EtlWorkload.parquetSize(Paths.get(merged))
    val (gb, gf) = EtlWorkload.parquetSize(Paths.get(gold))
    tracer.add("pipeline.bronze_bytes", bb.toDouble)
    tracer.add("pipeline.silver_bytes", (sb + mb).toDouble)
    tracer.add("pipeline.gold_bytes", gb.toDouble)
    tracer.add("pipeline.files_written", (bf + sf + mf + gf).toDouble)
    val lat = opS.toSeq.collect { case (op, s) if !failedOps(op) => s }
    PassResult(wall, lat, attempted, errors.size, errors.toSeq)
  }

  /** Silver/upsert row counts, gold monthly totals and claims-mart totals
    * of the last pass, checked by run.py against the generator's known
    * values. */
  def check(spark: SparkSession): Map[String, Any] = {
    val silver = s"$lastPass/silver"
    val tables = files.map(TableConfig.tableNameForFile)
    def count(p: String) = try spark.read.parquet(p).count() catch { case _: Throwable => -1L }
    val gold = try {
      spark.read.parquet(s"$lastPass/gold/monthly_status").collect().map { r =>
        s"${r.getAs[java.sql.Date]("month")}|${r.getAs[String]("status_code")}" ->
          math.round(r.getAs[Double]("claim_value") * 100)
      }.toMap
    } catch { case _: Throwable => Map.empty[String, Long] }
    val mart = try {
      val rows = spark.read.parquet(s"$lastPass/gold/claims_mart").collect()
      def cents(c: String) = rows.map(r => math.round(r.getAs[Double](c) * 100)).sum
      def count(c: String) = rows.map(r => r.getAs[Long](c)).sum
      Map("rows" -> rows.length.toLong,
        "claimpayment_rows" -> count("n_payments"), "total_paid_cents" -> cents("total_paid"),
        "claimproduct_rows" -> count("n_products"),
        "total_line_value_cents" -> cents("total_line_value"))
    } catch { case _: Throwable => Map.empty[String, Long] }
    Map(
      "silver_batch1" -> tables.map(t => t -> count(s"$silver/$t/datePart=Historic")).toMap,
      "silver_batch2" -> tables.map(t => t -> count(s"$silver/$t/datePart=2024-01-02")).toMap,
      "upserted" -> tables.map(t => t -> count(s"$lastPass/merged/$t")).toMap,
      "gold_cents" -> gold,
      "claims_mart" -> mart)
  }
}

object EtlWorkload {
  /** (bytes, files) of the parquet part files under `root`. */
  def parquetSize(root: Path): (Long, Long) = {
    if (!Files.isDirectory(root)) return (0L, 0L)
    val s = Files.walk(root)
    try {
      val parts = s.iterator().asScala.filter { p =>
        Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet")
      }.toSeq
      (parts.map(p => Files.size(p)).sum, parts.size.toLong)
    } finally s.close()
  }

  def deleteTree(root: Path): Unit = if (Files.exists(root)) {
    val s = Files.walk(root)
    try s.iterator().asScala.toSeq.reverse.foreach(p => Files.deleteIfExists(p))
    finally s.close()
  }
}
