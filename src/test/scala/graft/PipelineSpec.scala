package graft

import graft.pipeline.{Medallion, RenameMaps, TableConfig}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files
import java.sql.Timestamp

/** Pipeline-port unit tests over synthesized claims-domain data
  * (FIXTURES.md §B): rename no-op semantics, double-rename idempotence,
  * audit columns, PK dedup, empty gate, historic routing, end-to-end run. */
class PipelineSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private def claims() = Seq(
    ("C1", "A1", "2024-01-15 10:00:00", "2024-01-01 09:00:00", 100.0),
    ("C1", "A1", "2024-01-15 10:00:00", "2024-02-01 09:00:00", 150.0), // newer version of C1
    ("C2", "A2", "2024-02-20 12:00:00", "2024-02-01 09:00:00", 200.0))
    .toDF("claimnumber", "accountid", "deliverydate", "datecreated", "totalamount")

  test("tableNameForFile matches the reference's derivation") {
    assert(TableConfig.tableNameForFile("claim.txt") == "claim")
    assert(TableConfig.tableNameForFile("claimactivity.txt") == "claim_activity")
    assert(TableConfig.tableNameForFile("claimpayment.txt") == "claim_payment")
  }

  test("applyRenames renames present columns, no-ops absent ones, and is idempotent") {
    val df = claims()
    val once = Medallion.applyRenames(df, RenameMaps.merged)
    assert(once.columns.toSet ==
      Set("claim_number", "account_id", "delivery_date", "date_created", "total_amount"))
    // the reference applies the rename loop twice in the first-load branch
    // (linehaul_bronze_silver.py:225-227 then :239-241) — second pass no-ops
    val twice = Medallion.applyRenames(once, RenameMaps.merged)
    assert(twice.columns.sameElements(once.columns))
  }

  test("merged rename map is well-defined (shared keys map to identical targets)") {
    val collisions = RenameMaps.all.values.flatten.groupBy(_._1)
      .filter { case (_, vs) => vs.map(_._2).toSet.size > 1 }
    assert(collisions.isEmpty)
  }

  test("enrichAudit adds the 6 audit columns with month-truncated partition key") {
    val out = Medallion.enrichAudit(claims(), "db1", "user1",
      Timestamp.valueOf("2026-01-01 00:00:00"))
    val r = out.filter(col("claimnumber") === "C2").head()
    assert(r.getAs[String]("database") == "db1")
    assert(r.getAs[String]("region") == "NAM")
    assert(r.getAs[String]("country") == "USA")
    assert(r.getAs[java.sql.Date]("year_month").toString == "2024-02-01")
    // driver-evaluated constant: one timestamp for the whole batch
    assert(out.select(countDistinct(col("updated_on"))).head().getLong(0) == 1)
  }

  test("normalizeTimestamps casts deliverydate only when present") {
    val out = Medallion.normalizeTimestamps(claims())
    assert(out.schema("deliverydate").dataType.typeName == "timestamp")
    val without = claims().drop("deliverydate")
    assert(Medallion.normalizeTimestamps(without).columns.sameElements(without.columns))
  }

  test("dedupByPk keeps exactly the newest version per key") {
    val deduped = Medallion.dedupByPk(
      claims().withColumn("updated_on", col("datecreated")),
      TableConfig("claim", Seq("claimnumber"), Seq("updated_on")))
    assert(deduped.count() == 2)
    val c1 = deduped.filter(col("claimnumber") === "C1").head()
    assert(c1.getAs[Double]("totalamount") == 150.0)
  }

  test("empty gate: zero-row input short-circuits") {
    assert(Medallion.nonEmptyOrNone(claims().filter(lit(false))).isEmpty)
    assert(Medallion.nonEmptyOrNone(claims()).isDefined)
  }

  test("historic routing: first load goes to Historic, later loads to today") {
    val base = Files.createTempDirectory("bronze").toString
    val first = Medallion.resolveBronzeTarget(spark, base, "claim", "2026-08-12")
    assert(first.endsWith("datePart=Historic"))
    Medallion.writeBronze(
      Medallion.enrichAudit(claims(), "db", "u", Timestamp.valueOf("2026-01-01 00:00:00")), first)
    val second = Medallion.resolveBronzeTarget(spark, base, "claim", "2026-08-12")
    assert(second.endsWith("datePart=2026-08-12"))
  }

  test("end-to-end runTable: csv → bronze (partitioned) → silver (renamed, deduped)") {
    val tmp = Files.createTempDirectory("medallion")
    val csv = tmp.resolve("claim.csv").toString
    claims().withColumn("updated_on", col("datecreated"))
      .coalesce(1).write.option("header", true).csv(csv)
    val report = Medallion.runTable(spark, csv,
      s"$tmp/bronze", s"$tmp/silver", "claim", "db1", "u1",
      Timestamp.valueOf("2026-01-01 00:00:00"), "2026-08-12")
    assert(report.exists(_.count == 3))
    val silver = spark.read.parquet(s"$tmp/silver/claim/datePart=2026-08-12")
    assert(silver.columns.contains("claim_number") && silver.columns.contains("active"))
    assert(silver.count() == 2) // C1 deduped to its newest version
    val historic = spark.read.parquet(s"$tmp/silver/claim/datePart=Historic")
    assert(historic.count() == 2)
    // bronze is partitioned by year_month
    val bronzeDirs = new java.io.File(s"$tmp/bronze/claim/datePart=Historic").list()
    assert(bronzeDirs.exists(_.startsWith("year_month=")))
    // empty-gate path: header-only csv yields None
    val emptyCsv = tmp.resolve("empty.csv").toString
    claims().filter(lit(false)).coalesce(1).write.option("header", true).csv(emptyCsv)
    val r2 = Medallion.runTable(spark, emptyCsv, s"$tmp/bronze2", s"$tmp/silver2",
      "claim", "db1", "u1", Timestamp.valueOf("2026-01-01 00:00:00"), "2026-08-12")
    assert(r2.isEmpty)
    // the gate fires before any write: no bronze or silver directory
    assert(!Files.exists(tmp.resolve("bronze2/claim")))
    assert(!Files.exists(tmp.resolve("silver2/claim")))
  }

  test("runTable: 4 jobs per first load and per refresh, nothing cached, " +
      "Historic and current silver identical") {
    val tmp = Files.createTempDirectory("medallion_jobs")
    val csv = tmp.resolve("claim.csv").toString
    val staged = claims().withColumn("updated_on", col("datecreated"))
    staged.coalesce(1).write.option("header", true).csv(csv)
    def run(today: String) = {
      val r = Jobs.count(spark)(Medallion.runTable(spark, csv,
        s"$tmp/bronze", s"$tmp/silver", "claim", "db1", "u1",
        Timestamp.valueOf("2026-01-01 00:00:00"), today, Some(staged.schema)))
      // isEmpty probe, bronze write, and the silver write's shuffle map
      // stage and result stage. A schema-inferring bronze read or a second
      // silver encode adds a job; a persist shows as a cached RDD.
      assert(r.value.exists(_.count == 3))
      assert(r.jobs == 4, s"runTable for $today ran ${r.jobs} jobs")
      assert(r.cachedRdds == 0, s"runTable for $today cached ${r.cachedRdds} RDDs")
      assert(spark.sharedState.cacheManager.isEmpty, "runTable left a relation cached")
    }
    spark.catalog.clearCache() // earlier suites' entries are not under test
    run("2026-08-12")
    val historic = spark.read.parquet(s"$tmp/silver/claim/datePart=Historic")
    val current = spark.read.parquet(s"$tmp/silver/claim/datePart=2026-08-12")
    assert(historic.count() == 2)
    assert(historic.exceptAll(current).isEmpty && current.exceptAll(historic).isEmpty)
    run("2026-08-13")
    assert(spark.read.parquet(s"$tmp/silver/claim/datePart=2026-08-13").count() == 2)
    assert(Files.exists(tmp.resolve("bronze/claim/datePart=2026-08-13")))
  }

  test("retry succeeds after transient failures and rethrows after exhaustion") {
    var calls = 0
    val v = Medallion.retry(3, delayMs = 1) { calls += 1; if (calls < 3) sys.error("boom"); 42 }
    assert(v == 42 && calls == 3)
    assertThrows[RuntimeException](Medallion.retry(2, delayMs = 1) { sys.error("always") })
  }
}

/** Upsert (the MERGE the reference lacks) and small-files compaction. */
class UpsertCompactSpec extends org.scalatest.funsuite.AnyFunSuite {
  import TestSpark._
  import spark.implicits._
  import graft.pipeline.{Medallion, TableConfig}
  import org.apache.spark.sql.functions._

  test("upsert: updates win, inserts pass through, untouched rows survive") {
    val existing = Seq(("C1", 1, 100.0), ("C2", 1, 200.0)).toDF("pk", "v", "amt")
    val updates = Seq(("C1", 2, 150.0), ("C3", 1, 300.0)).toDF("pk", "v", "amt")
    val out = Medallion.upsert(existing, updates, TableConfig("t", Seq("pk"), Seq("v")))
      .orderBy("pk").collect()
    assert(out.map(r => (r.getString(0), r.getInt(1), r.getDouble(2))).toSeq ==
      Seq(("C1", 2, 150.0), ("C2", 1, 200.0), ("C3", 1, 300.0)))
  }

  test("upsert tolerates schema evolution in the incoming batch") {
    val existing = Seq(("C1", 1)).toDF("pk", "v")
    val updates = Seq(("C2", 1, "new")).toDF("pk", "v", "extra")
    val out = Medallion.upsert(existing, updates, TableConfig("t", Seq("pk"), Seq("v")))
    assert(out.columns.toSet == Set("pk", "v", "extra"))
    assert(out.count() == 2)
  }

  test("compact: many small files collapse to the target layout, rows intact") {
    val dir = java.nio.file.Files.createTempDirectory("compact").toString + "/t"
    Tables.orders(spark, sf).repartition(24).write.parquet(dir)
    val before = new java.io.File(dir).list().count(_.endsWith(".parquet"))
    assert(before >= 20)
    val n = Medallion.compact(spark, dir, targetRecordsPerFile = 1000L)
    val after = new java.io.File(dir).list().count(_.endsWith(".parquet"))
    assert(n == Tables.orders(spark, sf).count())
    assert(after < before && after <= 3)
    assert(spark.read.parquet(dir).count() == n)
  }
}

/** Source-connector semantics (probe→skip, retry-then-fail, chunked copy,
  * size gate) and the config-profile/secret-scope registry — the
  * reference's SFTP surface modeled over file:// (Connector.scala). */
class ConnectorSpec extends org.scalatest.funsuite.AnyFunSuite {
  import graft.pipeline.{ConfigRegistry, Connector}
  import java.nio.file.{Files, Path}

  private def tempRoot(): Path = Files.createTempDirectory("connector")

  private def writeFile(root: Path, name: String, bytes: Array[Byte]): Unit =
    Files.write(root.resolve(name), bytes)

  test("stat-miss skips the file (None), no staging output") {
    val root = tempRoot(); val staging = tempRoot()
    val src = new Connector.LocalSource(root)
    assert(Connector.fetchToStaging(src, "absent.txt", staging).isEmpty)
    assert(!Files.exists(staging.resolve("absent.txt")))
  }

  test("chunked fetch stages the exact bytes with the right chunk count") {
    val root = tempRoot(); val staging = tempRoot()
    val payload = Array.tabulate[Byte](2500)(i => (i % 251).toByte)
    writeFile(root, "claim.txt", payload)
    val rep = Connector.fetchToStaging(
      new Connector.LocalSource(root), "claim.txt", staging, chunkSize = 1000).get
    assert(rep.bytes == 2500 && rep.chunks == 3 && rep.attempts == 1)
    assert(Files.readAllBytes(staging.resolve("claim.txt")).sameElements(payload))
  }

  test("transient open failures retry then succeed, reporting the attempts") {
    val root = tempRoot(); val staging = tempRoot()
    writeFile(root, "claim.txt", "hello-connector".getBytes)
    val real = new Connector.LocalSource(root)
    var failures = 2
    val flaky = new Connector.RemoteSource {
      def stat(p: String) = real.stat(p)
      def open(p: String) = {
        if (failures > 0) { failures -= 1; sys.error("transient") }
        real.open(p)
      }
    }
    val rep = Connector.fetchToStaging(flaky, "claim.txt", staging, delayMs = 1).get
    assert(rep.attempts == 3 && rep.bytes == 15)
  }

  test("exhausted retries rethrow and leave no staged file") {
    val root = tempRoot(); val staging = tempRoot()
    writeFile(root, "claim.txt", "x".getBytes)
    val real = new Connector.LocalSource(root)
    val broken = new Connector.RemoteSource {
      def stat(p: String) = real.stat(p)
      def open(p: String) = sys.error("down")
    }
    assertThrows[RuntimeException](
      Connector.fetchToStaging(broken, "claim.txt", staging, attempts = 3, delayMs = 1))
    assert(!Files.exists(staging.resolve("claim.txt")))
  }

  test("a short read fails the size gate instead of staging a torn file") {
    val root = tempRoot(); val staging = tempRoot()
    writeFile(root, "claim.txt", "full-content".getBytes)
    val real = new Connector.LocalSource(root)
    val truncating = new Connector.RemoteSource {
      def stat(p: String) = real.stat(p)
      def open(p: String) =
        new java.io.ByteArrayInputStream("full".getBytes) // 4 of 12 bytes
    }
    assertThrows[IllegalArgumentException](
      Connector.fetchToStaging(truncating, "claim.txt", staging, attempts = 1, delayMs = 1))
    assert(!Files.exists(staging.resolve("claim.txt")))
  }

  test("a hung transport read hits the download watchdog, retries, then fails cleanly") {
    val root = tempRoot(); val staging = tempRoot()
    writeFile(root, "claim.txt", "content-that-never-arrives".getBytes)
    val real = new Connector.LocalSource(root)
    var opens = 0
    // a stream whose read blocks until the watchdog closes it — the hung
    // SFTP get the reference guards with its 200 s thread-join timeout
    val stalling = new Connector.RemoteSource {
      def stat(p: String) = real.stat(p)
      def open(p: String) = {
        opens += 1
        new java.io.InputStream {
          private val lock = new Object
          @volatile private var closed = false
          def read(): Int = {
            lock.synchronized { while (!closed) lock.wait() }
            throw new java.io.IOException("stream closed by watchdog")
          }
          override def close(): Unit = lock.synchronized { closed = true; lock.notifyAll() }
        }
      }
    }
    val t0 = System.nanoTime()
    assertThrows[java.util.concurrent.TimeoutException](
      Connector.fetchToStaging(stalling, "claim.txt", staging,
        attempts = 2, delayMs = 1, timeoutMs = 150))
    val elapsedMs = (System.nanoTime() - t0) / 1000000
    assert(opens == 2, s"each retry must reopen the transport (opens=$opens)")
    assert(elapsedMs < 5000, s"watchdog must bound the wait (took $elapsedMs ms)")
    assert(!Files.exists(staging.resolve("claim.txt")))
  }

  test("a slow-but-live fetch inside the watchdog budget still succeeds") {
    val root = tempRoot(); val staging = tempRoot()
    val payload = "slow-but-fine".getBytes
    writeFile(root, "claim.txt", payload)
    val real = new Connector.LocalSource(root)
    val slow = new Connector.RemoteSource {
      def stat(p: String) = real.stat(p)
      def open(p: String) = {
        val inner = real.open(p)
        new java.io.InputStream {
          def read(): Int = { Thread.sleep(5); inner.read() }
          override def read(b: Array[Byte], off: Int, len: Int): Int = {
            Thread.sleep(5); inner.read(b, off, math.min(len, 4))
          }
          override def close(): Unit = inner.close()
        }
      }
    }
    val rep = Connector.fetchToStaging(slow, "claim.txt", staging, timeoutMs = 60000).get
    assert(rep.bytes == payload.length)
    assert(Files.readAllBytes(staging.resolve("claim.txt")).sameElements(payload))
  }

  test("staging cleanup removes staged files and abandoned fetch temps") {
    val root = tempRoot(); val staging = tempRoot()
    writeFile(root, "claim.txt", "abc".getBytes)
    Connector.fetchToStaging(new Connector.LocalSource(root), "claim.txt", staging)
    writeFile(staging, "other.txt.__fetch_tmp", "torn".getBytes) // killed-run leftover
    assert(Connector.cleanupStaging(staging) == 2)
    assert(!Files.exists(staging.resolve("claim.txt")))
    assert(Connector.cleanupStaging(tempRoot().resolve("absent")) == 0) // no-op
  }

  test("connectTransport retries the reference's 3-attempt shape and carries the tuning") {
    // defaults mirror linehaul_source_to_bronze.py:24-27 (timeout=60,
    // banner_timeout=200, keepalive 30 s) and :19-33 (3 retries, 5 s apart)
    val t = Connector.TransportTuning()
    assert(t.connectTimeoutMs == 60000L && t.bannerTimeoutMs == 200000L &&
      t.keepaliveIntervalMs == 30000L && t.connectAttempts == 3 && t.connectRetryDelayMs == 5000L)
    var calls = 0
    val fast = t.copy(connectRetryDelayMs = 1)
    val session = Connector.connectTransport(fast) { tuning =>
      assert(tuning.bannerTimeoutMs == 200000L) // tuning reaches the connect fn
      calls += 1
      if (calls < 3) throw new java.io.IOException("banner timeout")
      "connected"
    }
    assert(session == "connected" && calls == 3)
    calls = 0
    val ex = intercept[java.io.IOException](
      Connector.connectTransport(fast)(_ => { calls += 1; throw new java.io.IOException("down") }))
    assert(ex.getMessage == "down" && calls == 3) // fail after 3, last error surfaced
  }

  test("workspace→scope resolution: non-prod marker, prod, and fallback") {
    assert(ConfigRegistry.scopeFor(Some("adb.6.example.net")) == "cdt-scope")
    assert(ConfigRegistry.scopeFor(Some("adb.prod.example.net")) == "prd-scope")
    assert(ConfigRegistry.scopeFor(None) == "prd-scope") // reference's try/except default
  }

  test("profile resolution unpacks the credential blob; misses carry context") {
    val store: ConfigRegistry.SecretStore = Map(
      ("prd-scope", "claims-sftp") -> Map("url" -> "sftp.example.net", "port" -> "22", "user" -> "svc"))
    val p = ConfigRegistry.resolveProfile(store, "prd-scope", "claims-sftp")
    assert(p.host == "sftp.example.net" && p.port == 22 && p.user == "svc")
    assert(p.secretRef == "prd-scope/claims-sftp")
    val miss = intercept[NoSuchElementException](
      ConfigRegistry.resolveProfile(store, "cdt-scope", "claims-sftp"))
    assert(miss.getMessage.contains("cdt-scope"))
  }
}
