package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The schema memo behind `Tables.parquet`: an unchanged table is read
  * without a footer job, a rewritten one is inferred again, and two reads
  * stay two relations. */
class TablesSpec extends AnyFunSuite {
  import TestSpark._

  private def table(dir: String, extra: Boolean): Unit = {
    val base = spark.range(0, 20).select(col("id"), (col("id") * 2).as("v"))
    (if (extra) base.withColumn("w", col("id") + 1) else base)
      .write.mode("overwrite").parquet(s"$dir/t.parquet")
  }

  test("a second load of an unchanged table runs no job") {
    val dir = Files.createTempDirectory("tables_memo").toString
    table(dir, extra = false)
    Tables.load(spark, dir, "t")
    val second = Jobs.count(spark)(Tables.load(spark, dir, "t"))
    assert(second.jobs == 0, s"second load ran ${second.jobs} jobs")
    val df = second.value
    assert(df.columns.toSeq == Seq("id", "v"))
    assert(df.count() == 20)
  }

  test("a table rewritten in place with a new column is inferred again") {
    val dir = Files.createTempDirectory("tables_memo").toString
    table(dir, extra = false)
    assert(Tables.load(spark, dir, "t").columns.toSeq == Seq("id", "v"))
    table(dir, extra = true)
    val df = Tables.load(spark, dir, "t")
    assert(df.columns.toSeq == Seq("id", "v", "w"))
    assert(df.agg(sum(col("w"))).head().getLong(0) == (1 to 20).sum)
  }

  test("two loads of one table are distinct relations: a self-join resolves") {
    val dir = Files.createTempDirectory("tables_memo").toString
    table(dir, extra = false)
    val a = Tables.load(spark, dir, "t")
    val b = Tables.load(spark, dir, "t")
    val joined = a.join(b, a("v") === b("id") * 2)
    assert(joined.count() == 20)
    assert(joined.filter(a("id") =!= b("id")).count() == 0)
  }
}
