package graft.ml

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Persisted brute-force ground-truth tables for the recall-graded
  * operators (round-9 verdict "what's wrong" #1: q67/q289/q247 each
  * carried a corpus×corpus truth GRID inside their own graded plan —
  * the grading device made the query's own cost quadratic).
  *
  * The grid is computed ONCE per (JVM, corpus dir) by the documented
  * exactness-baseline operators themselves (q38's brute kNN; q247's
  * corpus-slice variant) and persisted; the recall queries then grade
  * against a truth-table SCAN. The quadratic cost still exists — it is
  * the honest price of exact ground truth — but it is paid where a
  * production evaluation pays it: in the one-time truth build, not per
  * serving query. At 100 TB the truth build itself runs on a sampled
  * query stratum (the q92/q302 envelope discipline); the consumers are
  * unchanged either way.
  */
object TruthTables {
  /** Keying, content-fingerprint freshness, and shutdown cleanup live
    * in [[ArtifactStore]] (both truth tables derive from embeddings
    * only, so that is the fingerprint scope). */
  private def ensure(s: SparkSession, d: String, kind: String)
      (make: => DataFrame): DataFrame = {
    val (dir, _) = ArtifactStore.ensure(s, d, kind, Seq("embeddings"))(
      out => make.write.mode("overwrite").parquet(out))
    graft.Tables.parquet(s, dir)
  }

  /** q38's brute-force cosine top-5 as (qid, cid) — the ground truth
    * q67 and q289 grade recall@5 against. Built by the q38 baseline
    * operator itself, so one code path defines the semantics. */
  def knnTop5(s: SparkSession, d: String): DataFrame =
    ensure(s, d, "knn38") {
      import org.apache.spark.sql.functions.col
      graft.operators.VectorOps.q38KnnBrute(s, d).select(col("qid"), col("cid"))
    }

  /** q247's ground truth: brute top-5 over the fixed-quantizer corpus
    * slice (vec_id ≥ 16, queries < 24) as (qid, cid). */
  def ivfRecallTruth(s: SparkSession, d: String): DataFrame =
    ensure(s, d, "knn247")(graft.operators.AnnAudit.bruteTruth(s, d))

  /** Force-build every truth table for a corpus (Bench/ScaleAudit
    * warm-up, so per-query measurements carry only serve-time cost). */
  def warm(s: SparkSession, d: String): Unit = {
    knnTop5(s, d)
    ivfRecallTruth(s, d)
  }
}
