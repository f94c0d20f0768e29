package graft.operators

import graft.Tables
import graft.functions.Portable._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-9 widening: DSIR-style importance weighting against a held-out
  * target corpus, and reproducible weighted sampling without replacement
  * via hash-seeded Gumbel keys — two more training-data-selection
  * primitives, each DuckDB-replayed exactly.
  */
object Round9Ops {
  type Q = (SparkSession, String) => DataFrame

  /** Feature buckets for q285's hashed bag-of-tokens LM (DSIR's hashed
    * n-gram features; 256 keeps the two models broadcast-trivial and
    * collision-rich on the fixture). */
  val DsirBuckets = 256
  /** Reported top docs per source in q285/q286. */
  val DsirTopK = 3

  /** q285 — DSIR-style importance weights (Xie et al., "Data Selection
    * for Language Models via Importance Resampling"): score every RAW
    * document by how much more likely its hashed-feature bag is under a
    * TARGET-corpus model than under the raw-corpus model — the
    * log-likelihood ratio Σ_b n_doc(b)·(ln p_tgt(b) − ln p_raw(b)) over
    * [[DsirBuckets]] hashed token buckets with add-1 smoothing. The
    * target is the q275 benchmark slice (doc_id % LshBenchMod = 0), so
    * the weights rank raw docs by benchmark-likeness — the importance-
    * resampling selection signal, with q286 as the sampler that would
    * consume it.
    *
    * Scale shape: both LMs are [[DsirBuckets]]-row tables (broadcast,
    * domain-anchored so empty buckets exist with their smoothed mass);
    * per-doc scoring is one (doc, bucket) aggregate joined against the
    * broadcast model — work ∝ corpus tokens, nothing quadratic, and the
    * per-source rank window is the q278 top-k shape.
    *
    * Float parity: each bucket's ln is 6-dp micro-rounded BEFORE any
    * sum (`floor(ln·1e6 + 0.5)` — libm ln differs by 1 ulp across
    * engines, the [[graft.operators.Det]] discipline applied to logs,
    * as in q109), so every per-doc weight is an exact BIGINT dot
    * product of integer counts with integer micro-logs. */
  def q285DsirWeights(s: SparkSession, d: String): DataFrame = {
    val tok = Tables.documents(s, d)
      .select(col("doc_id"), col("source"), explode(tokens(col("text"))).as("tok"))
    // dict-encode: the interpreted polynomial hash runs once per
    // DISTINCT token (q35/q86/q277 discipline)
    val dict = tok.select(col("tok")).distinct()
      .withColumn("b", pmod(polyHash(col("tok")), lit(DsirBuckets)))
    val tb = tok.join(dict, "tok")
      .select(col("doc_id"), col("source"), col("b"))
    val isBench = pmod(col("doc_id"), lit(Round8Ops.LshBenchMod)) === 0
    val tgt = tb.filter(isBench).groupBy(col("b")).agg(count(lit(1)).as("ct"))
    val raw = tb.filter(!isBench).groupBy(col("b")).agg(count(lit(1)).as("cr"))
    val tots = tgt.agg(sum(col("ct")).as("tt"))
      .join(raw.agg(sum(col("cr")).as("tr")), lit(true))
    // bucket-domain anchor: every bucket 0..B-1 gets its smoothed mass
    def lnMicro(n: org.apache.spark.sql.Column, tot: org.apache.spark.sql.Column) =
      floor(log((n + 1).cast("double") / (tot + DsirBuckets).cast("double")) *
        lit(1000000.0) + lit(0.5)).cast("long")
    val model = s.range(DsirBuckets).select(col("id").as("b"))
      .join(tgt, Seq("b"), "left").join(raw, Seq("b"), "left")
      .withColumn("ct", coalesce(col("ct"), lit(0L)))
      .withColumn("cr", coalesce(col("cr"), lit(0L)))
      .crossJoin(broadcast(tots))
      .select(col("b"),
        (lnMicro(col("ct"), col("tt")) - lnMicro(col("cr"), col("tr"))).as("llr_micro"))
    val docW = tb.filter(!isBench)
      .groupBy(col("doc_id"), col("source"), col("b")).agg(count(lit(1)).as("n"))
      .join(broadcast(model), "b")
      .groupBy(col("doc_id"), col("source"))
      .agg(sum(col("n") * col("llr_micro")).as("w_micro"))
      .persist()
    val perSource = docW.groupBy(col("source")).agg(
      count(lit(1)).as("n_docs"),
      sum((col("w_micro") > 0).cast("long")).as("n_target_like"))
    val w = Window.partitionBy(col("source")).orderBy(col("w_micro").desc, col("doc_id"))
    docW.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= DsirTopK)
      .join(broadcast(perSource), "source")
      .select(col("source"), col("rnk").cast("long").as("rnk"), col("doc_id"),
        col("w_micro"), col("n_docs"), col("n_target_like"))
      .orderBy(col("source"), col("rnk"))
  }

  val q285Sql: String = {
    def lnMicro(n: String, tot: String) =
      s"CAST(FLOOR(LN(CAST($n + 1 AS DOUBLE) / CAST($tot + $DsirBuckets AS DOUBLE))" +
        s" * 1000000.0 + 0.5) AS BIGINT)"
    s"""WITH tk AS (
       |  SELECT doc_id, source, unnest(${tokensSql("text")}) AS tok FROM documents),
       |dict AS (SELECT tok,
       |    ((${polyHashSql("tok")} % $DsirBuckets) + $DsirBuckets) % $DsirBuckets AS b
       |  FROM (SELECT DISTINCT tok FROM tk)),
       |tb AS (SELECT doc_id, source, b FROM tk JOIN dict USING (tok)),
       |tgt AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS ct FROM tb
       |        WHERE ((doc_id % ${Round8Ops.LshBenchMod}) + ${Round8Ops.LshBenchMod})
       |              % ${Round8Ops.LshBenchMod} = 0 GROUP BY b),
       |rw AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS cr FROM tb
       |       WHERE ((doc_id % ${Round8Ops.LshBenchMod}) + ${Round8Ops.LshBenchMod})
       |             % ${Round8Ops.LshBenchMod} <> 0 GROUP BY b),
       |tots AS (SELECT (SELECT CAST(SUM(ct) AS BIGINT) FROM tgt) AS tt,
       |                (SELECT CAST(SUM(cr) AS BIGINT) FROM rw) AS tr),
       |model AS (
       |  SELECT dom.b,
       |         ${lnMicro("COALESCE(tgt.ct, 0)", "tots.tt")}
       |           - ${lnMicro("COALESCE(rw.cr, 0)", "tots.tr")} AS llr_micro
       |  FROM (SELECT unnest(range(0, $DsirBuckets)) AS b) dom
       |  LEFT JOIN tgt USING (b) LEFT JOIN rw USING (b) CROSS JOIN tots),
       |docw AS (
       |  SELECT doc_id, source, CAST(SUM(n * llr_micro) AS BIGINT) AS w_micro
       |  FROM (SELECT doc_id, source, b, CAST(COUNT(*) AS BIGINT) AS n FROM tb
       |        WHERE ((doc_id % ${Round8Ops.LshBenchMod}) + ${Round8Ops.LshBenchMod})
       |              % ${Round8Ops.LshBenchMod} <> 0 GROUP BY doc_id, source, b)
       |  JOIN model USING (b) GROUP BY doc_id, source),
       |ps AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |              CAST(SUM(CASE WHEN w_micro > 0 THEN 1 ELSE 0 END) AS BIGINT)
       |                AS n_target_like
       |       FROM docw GROUP BY source),
       |ranked AS (
       |  SELECT source, doc_id, w_micro,
       |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY w_micro DESC, doc_id) AS rnk
       |  FROM docw)
       |SELECT source, CAST(rnk AS BIGINT) AS rnk, doc_id, w_micro, n_docs, n_target_like
       |FROM ranked JOIN ps USING (source)
       |WHERE rnk <= $DsirTopK
       |ORDER BY source, rnk""".stripMargin
  }

  /** Knuth mix for q286's uniform hash (distinct from q278/q279/q236's
    * so the sampling families decorrelate). */
  val GumbelMix = 2971215073L
  /** Kept sample size per source in q286. */
  val GumbelK = 10

  /** q286 — reproducible WEIGHTED sampling without replacement via
    * Gumbel-top-k (Efraimidis–Spirakis / Kool et al.): each document
    * draws a deterministic uniform u from a Knuth hash of its id,
    * perturbs its log-weight with the Gumbel quantile
    * g = −ln(−ln(u)), and the top-[[GumbelK]] keys per source ARE a
    * without-replacement sample with inclusion probability ∝ weight
    * (here: token count — sample proportional to length). q278 is the
    * uniform version of this; the Gumbel trick extends the same
    * engine/partitioning-independent determinism to WEIGHTED selection,
    * which true weighted reservoir sampling (traversal-order-dependent)
    * cannot give a reproducible pipeline.
    *
    * One scan → per-doc integer weight → one double expression → one
    * per-source top-k window (the q278/`smallest_k` scale note applies).
    * The Gumbel key is computed in ONE double chain and 6-dp
    * micro-rounded at the end (ties broken by doc_id), so both engines
    * rank identical integers; u is (hash + 0.5)/P — never 0 or 1, so
    * the nested logs are always finite. Zero-token docs carry weight
    * ln(1)=0 (u alone decides), keeping every doc sampleable. */
  def q286GumbelTopK(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
      .select(col("source"), col("doc_id"),
        size(tokens(col("text"))).cast("long").as("n_tok"))
      .withColumn("u",
        (pmod(pmod(col("doc_id"), lit(P)) * GumbelMix, lit(P)).cast("double") +
          lit(0.5)) / lit(P.toDouble))
      .withColumn("key_micro",
        floor((log(greatest(col("n_tok"), lit(1L)).cast("double")) -
          log(-log(col("u")))) * lit(1000000.0) + lit(0.5)).cast("long"))
    val tot = docs.groupBy(col("source")).agg(
      count(lit(1)).as("n_docs"), sum(col("n_tok")).as("tot_tok"))
    val w = Window.partitionBy(col("source")).orderBy(col("key_micro").desc, col("doc_id"))
    docs.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= GumbelK)
      .join(broadcast(tot), "source")
      .select(col("source"), col("rnk").cast("long").as("rnk"), col("doc_id"),
        col("n_tok"), col("key_micro"), col("n_docs"), col("tot_tok"))
      .orderBy(col("source"), col("rnk"))
  }

  val q286Sql: String =
    s"""WITH docs AS (
       |  SELECT source, doc_id,
       |         CAST(len(${tokensSql("text")}) AS BIGINT) AS n_tok,
       |         (CAST((((doc_id % $P) + $P) % $P) * $GumbelMix % $P AS DOUBLE) + 0.5)
       |           / CAST($P AS DOUBLE) AS u
       |  FROM documents),
       |keyed AS (
       |  SELECT source, doc_id, n_tok,
       |         CAST(FLOOR((LN(CAST(GREATEST(n_tok, 1) AS DOUBLE)) - LN(-LN(u)))
       |                * 1000000.0 + 0.5) AS BIGINT) AS key_micro
       |  FROM docs),
       |t AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |             CAST(SUM(n_tok) AS BIGINT) AS tot_tok
       |      FROM docs GROUP BY source),
       |ranked AS (
       |  SELECT source, doc_id, n_tok, key_micro,
       |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY key_micro DESC, doc_id) AS rnk
       |  FROM keyed)
       |SELECT source, CAST(rnk AS BIGINT) AS rnk, doc_id, n_tok, key_micro,
       |       n_docs, tot_tok
       |FROM ranked JOIN t USING (source)
       |WHERE rnk <= $GumbelK
       |ORDER BY source, rnk""".stripMargin

  /** Data-loader shards and shuffled epochs for q287. */
  val OrderShards = 8
  val OrderEpochs = 3
  /** Per-epoch permutation mixes: distinct odd Knuth constants so the
    * three epoch orders decorrelate (graded by the head-overlap stat). */
  val EpochMixes: Seq[Long] = Seq(2654435761L, 2246822519L, 3266489917L)
  /** Reported head positions per (epoch, shard). */
  val OrderHeadK = 3

  /** q287 — reproducible epoch data-order plan (the Pythia/OLMo
    * training-reproducibility contract: anyone with the corpus and the
    * seed can name the exact document at any global step of any epoch):
    * every document is sharded by a doc-id hash and, PER EPOCH, ordered
    * inside its shard by an epoch-seeded Knuth hash — three independent
    * permutations from one scan (epoch explode), no RNG state anywhere,
    * so the order is identical on any engine, partitioning, or restart.
    *
    * Graded output per (epoch, shard): the shard population, the first
    * [[OrderHeadK]] documents of the epoch's order (the rows a resumed
    * job at step 0 must read), and the cross-epoch head-overlap count —
    * how many of THIS epoch's head-[[GumbelK]] docs are also in epoch
    * 0's head — an actual decorrelation measurement (≈ hypergeometric
    * noise when the mixes are independent, |head| when a mix is
    * duplicated; epoch 0 reports its own overlap, = GumbelK, as the
    * built-in sanity anchor).
    *
    * One scan → explode(epochs) → per-(epoch, shard) rank windows
    * (partitions are the epoch×shard grid; the q278 `smallest_k` swap
    * applies at scale). All integer. */
  def q287EpochOrder(s: SparkSession, d: String): DataFrame = {
    val mixes = map(EpochMixes.zipWithIndex.flatMap {
      case (m, i) => Seq(lit(i), lit(m))
    }: _*)
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), pmod(pmod(col("doc_id"), lit(P)) * EpochMixes.head, lit(P))
        .as("shard_h"))
      .withColumn("shard", pmod(col("shard_h"), lit(OrderShards)))
      .withColumn("epoch", explode(array((0 until OrderEpochs).map(lit): _*)))
      .withColumn("ok", pmod(pmod(col("doc_id"), lit(P)) * element_at(mixes, col("epoch")),
        lit(P)))
    val w = Window.partitionBy(col("epoch"), col("shard"))
      .orderBy(col("ok"), col("doc_id"))
    val pos = docs.withColumn("pos", row_number().over(w)).persist()
    val heads = pos.filter(col("pos") <= GumbelK)
      .select(col("epoch"), col("shard"), col("doc_id"), col("pos"))
    val base = heads.filter(col("epoch") === 0)
      .select(col("shard").as("bshard"), col("doc_id").as("bdoc"))
    val overlap = heads.join(broadcast(base),
        col("shard") === col("bshard") && col("doc_id") === col("bdoc"), "left_semi")
      .groupBy(col("epoch"), col("shard"))
      .agg(count(lit(1)).as("n_head_overlap_e0"))
    val counts = pos.filter(col("epoch") === 0)
      .groupBy(col("shard")).agg(count(lit(1)).as("n_in_shard"))
    heads.filter(col("pos") <= OrderHeadK)
      .join(broadcast(counts), "shard")
      .join(broadcast(overlap), Seq("epoch", "shard"), "left")
      .select(col("epoch").cast("long").as("epoch"), col("shard"),
        col("pos").cast("long").as("pos"), col("doc_id"), col("n_in_shard"),
        coalesce(col("n_head_overlap_e0"), lit(0L)).as("n_head_overlap_e0"))
      .orderBy(col("epoch"), col("shard"), col("pos"))
  }

  val q287Sql: String = {
    val mixCase = EpochMixes.zipWithIndex
      .map { case (m, i) => s"WHEN $i THEN $m" }.mkString(" ")
    s"""WITH sharded AS (
       |  SELECT doc_id,
       |         ((((doc_id % $P) + $P) % $P) * ${EpochMixes.head} % $P) % $OrderShards
       |           AS shard
       |  FROM documents),
       |ordered AS (
       |  SELECT doc_id, shard, e.epoch,
       |         (((doc_id % $P) + $P) % $P)
       |           * (CASE e.epoch $mixCase END) % $P AS ok
       |  FROM sharded, (SELECT unnest(range(0, $OrderEpochs)) AS epoch) e),
       |pos AS (
       |  SELECT doc_id, shard, epoch,
       |    ROW_NUMBER() OVER (PARTITION BY epoch, shard ORDER BY ok, doc_id) AS pos
       |  FROM ordered),
       |heads AS (SELECT epoch, shard, doc_id, pos FROM pos WHERE pos <= $GumbelK),
       |ov AS (
       |  SELECT h.epoch, h.shard, CAST(COUNT(*) AS BIGINT) AS n_head_overlap_e0
       |  FROM heads h
       |  WHERE EXISTS (SELECT 1 FROM heads b
       |                WHERE b.epoch = 0 AND b.shard = h.shard AND b.doc_id = h.doc_id)
       |  GROUP BY h.epoch, h.shard),
       |cnt AS (SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_in_shard
       |        FROM pos WHERE epoch = 0 GROUP BY shard)
       |SELECT CAST(h.epoch AS BIGINT) AS epoch, h.shard,
       |       CAST(h.pos AS BIGINT) AS pos, h.doc_id, cnt.n_in_shard,
       |       COALESCE(ov.n_head_overlap_e0, 0) AS n_head_overlap_e0
       |FROM heads h JOIN cnt USING (shard)
       |LEFT JOIN ov ON ov.epoch = h.epoch AND ov.shard = h.shard
       |WHERE h.pos <= $OrderHeadK
       |ORDER BY h.epoch, h.shard, h.pos""".stripMargin
  }

  /** Reported widest-margin pairs in q288. */
  val PrefTopK = 10

  /** q288 — implicit-feedback preference-pair mining (the BPR/DPO data
    * prep: from each user's same-day activity, the highest-valued event
    * is `chosen`, the lowest `rejected`, and the pair trains a pairwise
    * ranker). Pairs exist only where a real preference does: days with
    * ≥ 2 events and a strictly positive value margin. Values
    * micro-quantize (the Det float discipline) so margins are exact
    * BIGINTs.
    *
    * Graded output: the [[PrefTopK]] widest-margin pairs (global
    * top-k — TakeOrderedAndProject-shaped, never a global window) with
    * the per-day global pair/user accounting cross-joined from a 1-row
    * aggregate. One scan → per-(user, day) min/max aggregate → top-k. */
  /** q288's per-(user, day) pair derivation over any events frame —
    * shared with the streaming twin's parity spec
    * ([[graft.streaming.EventStream.preferencePairStream]]), which runs
    * the same aggregate expressions over event-time windows. */
  private[graft] def prefPairsCore(ev0: DataFrame): DataFrame = {
    val ev = ev0
      .select(col("user_id"), to_date(col("ts")).as("day"), col("event_id"),
        floor(col("value") * lit(1000000.0) + lit(0.5)).cast("long").as("v_micro"))
    ev.groupBy(col("user_id"), col("day"))
      .agg(count(lit(1)).as("n_events"),
        max(struct(col("v_micro"), (-col("event_id")).as("nid"))).as("hi"),
        min(struct(col("v_micro"), col("event_id").as("nid"))).as("lo"))
      .filter(col("n_events") >= 2)
      .select(col("user_id"), col("day"), col("n_events"),
        (-col("hi.nid")).as("chosen_id"), col("hi.v_micro").as("chosen_micro"),
        col("lo.nid").as("rejected_id"), col("lo.v_micro").as("rejected_micro"))
      .withColumn("margin_micro", col("chosen_micro") - col("rejected_micro"))
      .filter(col("margin_micro") > 0)
  }

  def q288PreferencePairs(s: SparkSession, d: String): DataFrame = {
    val pairs = prefPairsCore(Tables.events(s, d)).persist()
    val tot = pairs.agg(count(lit(1)).as("n_pairs"),
      countDistinct(col("user_id")).as("n_users"))
    pairs.orderBy(col("margin_micro").desc, col("user_id"), col("day")).limit(PrefTopK)
      .crossJoin(broadcast(tot))
      .withColumn("rnk", row_number().over(Window.partitionBy(lit(1))
        .orderBy(col("margin_micro").desc, col("user_id"), col("day"))))
      .select(col("rnk").cast("long").as("rnk"), col("user_id"), col("day"),
        col("chosen_id"), col("rejected_id"), col("margin_micro"),
        col("n_events"), col("n_pairs"), col("n_users"))
      .orderBy(col("rnk"))
  }

  val q288Sql: String =
    s"""WITH ev AS (
       |  SELECT user_id, CAST(ts AS DATE) AS day, event_id,
       |         CAST(FLOOR(value * 1000000.0 + 0.5) AS BIGINT) AS v_micro
       |  FROM events),
       |hi AS (
       |  SELECT user_id, day, event_id AS chosen_id, v_micro AS chosen_micro,
       |    ROW_NUMBER() OVER (PARTITION BY user_id, day
       |                       ORDER BY v_micro DESC, event_id) AS rn,
       |    CAST(COUNT(*) OVER (PARTITION BY user_id, day) AS BIGINT) AS n_events
       |  FROM ev),
       |lo AS (
       |  SELECT user_id, day, event_id AS rejected_id, v_micro AS rejected_micro,
       |    ROW_NUMBER() OVER (PARTITION BY user_id, day
       |                       ORDER BY v_micro ASC, event_id) AS rn
       |  FROM ev),
       |pairs AS (
       |  SELECT h.user_id, h.day, h.n_events, h.chosen_id, h.chosen_micro,
       |         l.rejected_id, l.rejected_micro,
       |         h.chosen_micro - l.rejected_micro AS margin_micro
       |  FROM (SELECT * FROM hi WHERE rn = 1) h
       |  JOIN (SELECT * FROM lo WHERE rn = 1) l
       |    ON h.user_id = l.user_id AND h.day = l.day
       |  WHERE h.n_events >= 2 AND h.chosen_micro - l.rejected_micro > 0),
       |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
       |               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users FROM pairs),
       |ranked AS (
       |  SELECT user_id, day, n_events, chosen_id, rejected_id, margin_micro,
       |    ROW_NUMBER() OVER (ORDER BY margin_micro DESC, user_id, day) AS rnk
       |  FROM pairs)
       |SELECT CAST(rnk AS BIGINT) AS rnk, user_id, day, chosen_id, rejected_id,
       |       margin_micro, n_events, n_pairs, n_users
       |FROM ranked CROSS JOIN tot
       |WHERE rnk <= $PrefTopK
       |ORDER BY rnk""".stripMargin

  /** Hamming pool size (coarse candidates per query) and final top-k in
    * q289; queries are the q38 set so recall grades against its truth. */
  val HamPool = 32
  val HamK = 5
  val HamQueryCap = 8

  /** q289 — binary-quantization two-stage search (sign quantization +
    * Hamming coarse scan + exact rerank — the FAISS `IndexBinaryFlat` /
    * SQ-then-rescore serving pattern): every embedding's 64 dimension
    * signs pack into two 32-bit words ([[graft.functions.Portable.packSign]];
    * 16 bytes vs 256 bytes of float64 work — a 16× scan-size reduction),
    * the coarse stage ranks candidates per query by Hamming distance
    * (XOR + popcount, all-integer, codegen'd `bit_count`), and only the
    * top-[[HamPool]] survivors pay the exact float cosine, re-ranked to
    * top-[[HamK]]. Recall@5 is graded against q38's brute-force truth —
    * since round 10 the PERSISTED [[graft.ml.TruthTables.knnTop5]] table
    * (the q67 pattern), so the graded plan's only builds are the 8-row
    * query broadcast and the truth-table scan. The query answers the
    * question the operator exists for: how much exactness does 1-bit
    * quantization give up at 16× less scan IO?
    *
    * Scale shape: the query side is a constant [[HamQueryCap]]-row
    * broadcast (BNLJ build bound = 8, SF-invariant — measured in
    * PlanInvariantSpec's domain-bounded allowlist); the coarse scan is
    * O(|Q|·N) integer popcounts — linear in N, embarrassingly parallel,
    * and the per-query top-[[HamPool]] window is WindowGroupLimit-pruned
    * (each map partition forwards ≤ pool rows per query before the
    * shuffle). The exact-cosine stage touches only |Q|·pool rows.
    * All-integer Hamming + the shared 6-dp cosine ⇒ hash-exact. */
  def q289HammingRerank(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
    val sigs = e.select(col("vec_id"), col("embedding"),
      packSign("embedding", 0, 32).as("w0"), packSign("embedding", 32, 32).as("w1"))
    val q = sigs.filter(col("vec_id") < HamQueryCap)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"),
        col("w0").as("qw0"), col("w1").as("qw1"))
    val c = sigs.select(col("vec_id").as("cid"), col("embedding").as("ce"),
      col("w0"), col("w1"))
    val wH = Window.partitionBy(col("qid")).orderBy(col("ham"), col("cid"))
    val pool = c.join(broadcast(q), col("qid") =!= col("cid"))
      .withColumn("ham",
        (bit_count(col("qw0").bitwiseXOR(col("w0"))) +
          bit_count(col("qw1").bitwiseXOR(col("w1")))).cast("long"))
      .withColumn("hrnk", row_number().over(wH))
      .filter(col("hrnk") <= HamPool)
    val wC = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("cid"))
    val reranked = pool
      .withColumn("cos", cosine(col("qe"), col("ce")))
      .withColumn("rnk", row_number().over(wC))
      .filter(col("rnk") <= HamK)
      .persist()
    // the PERSISTED q38 truth (TruthTables) — the recall grid is paid
    // once at truth-build time, not inside this graded plan
    val truth = graft.ml.TruthTables.knnTop5(s, d)
    val hits = reranked.join(truth, Seq("qid", "cid"), "left_semi")
      .groupBy(col("qid")).agg(count(lit(1)).as("n_hits"))
    reranked.join(broadcast(hits), Seq("qid"), "left")
      .select(col("qid"), col("rnk").cast("long").as("rnk"), col("cid"),
        col("ham"), col("cos"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        (coalesce(col("n_hits"), lit(0L)) * lit(200000L)).as("recall_micro"))
      .orderBy(col("qid"), col("rnk"))
  }

  val q289Sql: String =
    s"""WITH sigs AS (
       |  SELECT vec_id, embedding,
       |         ${packSignSql("embedding", 0, 32)} AS w0,
       |         ${packSignSql("embedding", 32, 32)} AS w1
       |  FROM embeddings),
       |q AS (SELECT vec_id AS qid, embedding AS qe, w0 AS qw0, w1 AS qw1
       |      FROM sigs WHERE vec_id < $HamQueryCap),
       |c AS (SELECT vec_id AS cid, embedding AS ce, w0, w1 FROM sigs),
       |hd AS (
       |  SELECT qid, cid, qe, ce,
       |         CAST(bit_count(xor(qw0, w0)) AS BIGINT)
       |           + CAST(bit_count(xor(qw1, w1)) AS BIGINT) AS ham
       |  FROM q JOIN c ON qid <> cid),
       |pool AS (
       |  SELECT qid, cid, qe, ce, ham,
       |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY ham, cid) AS hrnk
       |  FROM hd),
       |rr AS (
       |  SELECT qid, cid, ham, ${cosineSql("qe", "ce")} AS cos,
       |    ROW_NUMBER() OVER (PARTITION BY qid
       |                       ORDER BY ${cosineSql("qe", "ce")} DESC, cid) AS rnk
       |  FROM pool WHERE hrnk <= $HamPool),
       |tq AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings
       |       WHERE vec_id < $HamQueryCap),
       |tc AS (SELECT vec_id AS cid, embedding AS ce FROM embeddings),
       |truth AS (
       |  SELECT qid, cid FROM (
       |    SELECT qid, cid,
       |      ROW_NUMBER() OVER (PARTITION BY qid
       |                         ORDER BY ${cosineSql("qe", "ce")} DESC, cid) AS trnk
       |    FROM tq JOIN tc ON qid <> cid) WHERE trnk <= 5),
       |hits AS (
       |  SELECT r.qid, CAST(COUNT(*) AS BIGINT) AS n_hits
       |  FROM rr r
       |  WHERE r.rnk <= $HamK AND EXISTS (
       |    SELECT 1 FROM truth t WHERE t.qid = r.qid AND t.cid = r.cid)
       |  GROUP BY r.qid)
       |SELECT rr.qid, CAST(rr.rnk AS BIGINT) AS rnk, rr.cid, rr.ham, rr.cos,
       |       COALESCE(h.n_hits, 0) AS n_hits,
       |       COALESCE(h.n_hits, 0) * 200000 AS recall_micro
       |FROM rr LEFT JOIN hits h ON h.qid = rr.qid
       |WHERE rr.rnk <= $HamK
       |ORDER BY rr.qid, rr.rnk""".stripMargin

  /** q290's positional fingerprint width (8 tokens — the q86 long-gram
    * argument: an 8-token verbatim match is deliberate text reuse, not
    * chance), minimum global occurrence count, and reported top spans. */
  val SpanGram = 8
  val SpanMinCount = 2
  val SpanTopK = 10

  /** q290 — duplicated-substring span detection (Lee et al.,
    * "Deduplicating Training Data Makes Language Models Better" — the
    * ExactSubstr deduplicator re-expressed relationally): document-level
    * dedup (q33/q34/q35) misses text that repeats INSIDE otherwise-unique
    * documents (boilerplate, licenses, quoted passages), which is exactly
    * the text LMs memorize. Every token position emits its positional
    * [[SpanGram]]-gram rolling hash; hashes occurring ≥ [[SpanMinCount]]
    * times globally (across OR within documents — any repetition counts,
    * the ExactSubstr semantic) mark their positions duplicated, and per
    * document duplicated positions whose gram EXTENTS overlap or touch
    * (position gap < [[SpanGram]] — not just gap 1; ADVICE r9) merge
    * (lag + running-sum break ids) into MAXIMAL spans — the deletable
    * units. Because merged spans cover the contiguous token range
    * [min pos, max pos + SpanGram − 1] and distinct spans sit ≥
    * SpanGram apart, every duplicated token is counted exactly once:
    * dup_tokens is a true token count and dup_share_micro ≤ 1e6 by
    * construction. Graded output: the [[SpanTopK]] longest spans with
    * per-source accounting (span count, affected docs,
    * duplicated-token share).
    *
    * Scale shape: the positional-hash pass is one dict-encoded projection
    * + a [[SpanGram]]-lead window per doc (work ∝ corpus tokens, the q283
    * shape); the hash-count aggregate is partial-aggregable; the
    * join-back touches only positions whose hash is duplicated (work ∝
    * duplicated positions — at 100 TB a Bloom filter of the dup-hash set
    * pre-filters the probe side, the q183 delta-index discipline); span
    * merging is a per-doc window, bounded by document length. All-integer
    * (hashes, positions, counts; share via integer DIV). */
  /** The positional [[SpanGram]]-gram rolling-hash frame
    * (doc_id, source, pos, kh) — q290's first stage, factored out
    * because q307's cross-source span provenance consumes the same
    * frame. A build-once [[graft.ml.ArtifactStore]] parquet artifact
    * since round 11 (ADVICE r10: the former per-call persist() rebuilt
    * the "shared" frame once per consumer and accumulated cache entries
    * until an external clearCache): the gram pass — the linear,
    * dict-encoded half of ExactSubstr — runs once per (JVM, corpus
    * content) and both consumers scan the artifact, which is exactly
    * where a production ExactSubstr pipeline materializes its suffix
    * table. */
  private[graft] def spanGrams(s: SparkSession, d: String): DataFrame = {
    val (dir, _) = graft.ml.ArtifactStore.ensure(s, d, "grams", Seq("documents")) {
      out => spanGramsCompute(s, d).write.mode("overwrite").parquet(out)
    }
    Tables.parquet(s, dir)
  }

  private def spanGramsCompute(s: SparkSession, d: String): DataFrame = {
    val tok = Tables.documents(s, d)
      .select(col("doc_id"), col("source"), posexplode(tokens(col("text"))).as(Seq("pos", "tok")))
    val dict = tok.select(col("tok")).distinct().withColumn("h", polyHash(col("tok")))
    val wp = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val withLeads = (1 until SpanGram).foldLeft(tok.join(broadcast(dict), "tok")) {
      (df, j) => df.withColumn(s"h$j", lead(col("h"), j).over(wp))
    }
    withLeads.filter(col(s"h${SpanGram - 1}").isNotNull)
      .select(col("doc_id"), col("source"), col("pos"),
        (1 until SpanGram).foldLeft(col("h"))((acc, j) =>
          (acc * 31 + col(s"h$j")) % P).as("kh"))
  }

  /** Hashes occurring ≥ [[SpanMinCount]] times globally — the
    * duplicated-gram set over [[spanGrams]]. */
  private[graft] def dupHashes(kg: DataFrame): DataFrame =
    kg.groupBy(col("kh")).agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= SpanMinCount).select(col("kh"))

  def q290DupSpans(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val kg = spanGrams(s, d)
    val dupH = dupHashes(kg)
    val wd = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val spans = kg.join(dupH, "kh")
      .withColumn("brk",
        when(col("pos") - lag(col("pos"), 1).over(wd) < SpanGram, lit(0L)).otherwise(lit(1L)))
      .withColumn("span_id",
        sum(col("brk")).over(wd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("doc_id"), col("source"), col("span_id"))
      .agg(min(col("pos")).as("start_pos"),
        (max(col("pos")) - min(col("pos")) + SpanGram).cast("long").as("span_tokens"))
      .persist()
    val totTok = docs.groupBy(col("source"))
      .agg(sum(size(tokens(col("text"))).cast("long")).as("tot_tokens"))
    val srcAgg = spans.groupBy(col("source")).agg(
        count(lit(1)).as("n_spans"),
        countDistinct(col("doc_id")).as("n_docs_with_dups"),
        sum(col("span_tokens")).as("dup_tokens"))
      .join(totTok, "source")
      .withColumn("dup_share_micro", expr("dup_tokens * 1000000 DIV tot_tokens"))
    val ord = Window.partitionBy(lit(1))
      .orderBy(col("span_tokens").desc, col("doc_id"), col("start_pos"))
    spans.orderBy(col("span_tokens").desc, col("doc_id"), col("start_pos"))
      .limit(SpanTopK)
      .withColumn("rnk", row_number().over(ord))
      .join(broadcast(srcAgg), "source")
      .select(col("rnk").cast("long").as("rnk"), col("doc_id"), col("source"),
        col("start_pos").cast("long").as("start_pos"), col("span_tokens"),
        col("n_spans"), col("n_docs_with_dups"), col("dup_tokens"),
        col("tot_tokens"), col("dup_share_micro"))
      .orderBy(col("rnk"))
  }

  /** The kg/dup CTE fragment (positional gram hashes + the globally
    * duplicated set) shared by q290's span oracle and q307's provenance
    * oracle. */
  private[operators] val spanGramCtes: String = {
    val khFold = (1 until SpanGram).foldLeft("h[i]")((acc, j) => s"($acc * 31 + h[i+$j]) % $P")
    s"""tk AS (
       |  SELECT doc_id, source, i - 1 AS pos, toks[i] AS tok
       |  FROM (SELECT doc_id, source, ${tokensSql("text")} AS toks FROM documents),
       |       UNNEST(range(1, len(toks) + 1)) AS u(i)),
       |dict AS (SELECT tok, ${polyHashSql("tok")} AS hv
       |         FROM (SELECT DISTINCT tok FROM tk)),
       |harr AS (
       |  SELECT doc_id, source, array_agg(hv ORDER BY pos) AS h
       |  FROM tk JOIN dict USING (tok) GROUP BY doc_id, source),
       |kg AS (
       |  SELECT doc_id, source, i - 1 AS pos, $khFold AS kh
       |  FROM harr, UNNEST(range(1, greatest(len(h) - ${SpanGram - 1}, 0) + 1)) AS u(i)),
       |dup AS (SELECT kh FROM kg GROUP BY kh HAVING COUNT(*) >= $SpanMinCount)""".stripMargin
  }

  val q290Sql: String = {
    s"""WITH $spanGramCtes,
       |dp AS (SELECT doc_id, source, pos FROM kg JOIN dup USING (kh)),
       |sp AS (
       |  SELECT doc_id, source, pos,
       |    CASE WHEN pos - LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos) < $SpanGram
       |         THEN 0 ELSE 1 END AS brk
       |  FROM dp),
       |sid AS (
       |  SELECT doc_id, source, pos,
       |    SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos
       |                   ROWS UNBOUNDED PRECEDING) AS span_id
       |  FROM sp),
       |spans AS (
       |  SELECT doc_id, source, span_id,
       |         CAST(MIN(pos) AS BIGINT) AS start_pos,
       |         CAST(MAX(pos) - MIN(pos) + $SpanGram AS BIGINT) AS span_tokens
       |  FROM sid GROUP BY doc_id, source, span_id),
       |tt AS (SELECT source, CAST(SUM(len(${tokensSql("text")})) AS BIGINT) AS tot_tokens
       |       FROM documents GROUP BY source),
       |sa AS (
       |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_spans,
       |         CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs_with_dups,
       |         CAST(SUM(span_tokens) AS BIGINT) AS dup_tokens
       |  FROM spans GROUP BY source),
       |saj AS (SELECT sa.*, tt.tot_tokens,
       |               (sa.dup_tokens * 1000000) // tt.tot_tokens AS dup_share_micro
       |        FROM sa JOIN tt USING (source)),
       |ranked AS (
       |  SELECT doc_id, source, start_pos, span_tokens,
       |    ROW_NUMBER() OVER (ORDER BY span_tokens DESC, doc_id, start_pos) AS rnk
       |  FROM spans)
       |SELECT CAST(r.rnk AS BIGINT) AS rnk, r.doc_id, r.source, r.start_pos,
       |       r.span_tokens, s.n_spans, s.n_docs_with_dups, s.dup_tokens,
       |       s.tot_tokens, s.dup_share_micro
       |FROM ranked r JOIN saj s USING (source)
       |WHERE r.rnk <= $SpanTopK
       |ORDER BY r.rnk""".stripMargin
  }

  /** q291's per-cell rank mix (a fresh odd constant so the coverage
    * sample decorrelates from q278/q286/q287's hash families) and
    * reported head positions per cell. */
  val CoverMix = 1779033703L
  val CoverHeadK = 3
  /** isqrt(2^63 − 1): the +1 probe in the exact-isqrt correction squares
    * (q0+1), which overflows int64 once q0 reaches this value — Spark
    * would wrap silently, DuckDB would raise (the q278 engine-divergence
    * class) — so the probe is guarded by `q0 < MaxIsqrt`. Sound for any
    * BIGINT input: no isqrt of an int64 can exceed this, so when the
    * guard blocks the probe the answer is already at the ceiling. */
  val MaxIsqrt = 3037000499L

  /** q291 — cluster-coverage-preserving subsample (the D4 / cluster-
    * then-sample selection step, Tirumala et al.: when shrinking a
    * corpus, uniform sampling keeps the embedding-space density profile
    * — dominated modes stay dominant — while sampling ~√|cell| per
    * trained IVF cell flattens density and preserves COVERAGE of the
    * space, which is what diversity-sensitive training wants): every
    * vector is assigned via q148's 6-dp-rounded Lloyd model, each cell
    * keeps its top-isqrt(|cell|) vectors by a Knuth-hash rank, and the
    * graded rows are each cell's head-[[CoverHeadK]] picks with per-cell
    * and global accounting.
    *
    * The integer sqrt is EXACT on both engines despite going through a
    * double `sqrt`: q0 = floor(sqrt(n)) is corrected by ±1 comparisons
    * ((q0+1)² ≤ n, q0² > n — pure integer), so a 1-ulp rounding
    * difference at a perfect-square boundary cannot change the quota.
    *
    * Scale shape: the model is k broadcast rows (q148's loop — the
    * measured-fastest assign form, `KMeansIvf.assign`); quota derivation
    * is a k-row aggregate; the keep decision is one per-cell rank window
    * (WindowGroupLimit-prunable since quota ≤ isqrt(N); the q278
    * `smallest_k` swap applies at extreme skew). All-integer output. */
  def q291CoverageSample(s: SparkSession, d: String): DataFrame = {
    import graft.ml.KMeansIvf
    val e = Tables.embeddings(s, d)
    val (cents, _) = KMeansIvf.fit(e, "vec_id", "embedding", k = 8, iters = 3,
      trackInertia = false, roundCentroids = true)
    val assigned = KMeansIvf.assign(e, cents, "vec_id", "embedding")
      .select(col("vec_id"), col("cluster")).persist()
    val q0 = floor(sqrt(col("n_in_cell").cast("double"))).cast("long")
    val cellQ = assigned.groupBy(col("cluster")).agg(count(lit(1)).as("n_in_cell"))
      .withColumn("quota",
        q0 + when(q0 < MaxIsqrt && (q0 + 1) * (q0 + 1) <= col("n_in_cell"),
            lit(1L)).otherwise(lit(0L))
          - when(q0 * q0 > col("n_in_cell"), lit(1L)).otherwise(lit(0L)))
      .withColumn("share_micro", expr("quota * 1000000 DIV n_in_cell"))
    val wr = Window.partitionBy(col("cluster")).orderBy(col("rk"), col("vec_id"))
    val kept = assigned
      .withColumn("rk", pmod(pmod(col("vec_id"), lit(P)) * CoverMix, lit(P)))
      .withColumn("rnk", row_number().over(wr))
      .join(broadcast(cellQ), "cluster")
      .filter(col("rnk") <= col("quota"))
      .persist()
    val tot = kept.agg(count(lit(1)).as("n_kept_tot"))
      .crossJoin(assigned.agg(count(lit(1)).as("n_tot")))
    kept.filter(col("rnk") <= CoverHeadK)
      .crossJoin(broadcast(tot))
      .select(col("cluster").cast("long").as("cluster"),
        col("rnk").cast("long").as("rnk"), col("vec_id"),
        col("n_in_cell"), col("quota"), col("share_micro"),
        col("n_kept_tot"), col("n_tot"))
      .orderBy(col("cluster"), col("rnk"))
  }

  val q291Sql: String =
    s"""WITH ${VectorOps.trainedModelCtes},
       |asg AS (SELECT vec_id, cluster FROM a4),
       |cnt AS (SELECT cluster, CAST(COUNT(*) AS BIGINT) AS n_in_cell
       |        FROM asg GROUP BY cluster),
       |cq AS (
       |  SELECT cluster, n_in_cell,
       |         q0 + (CASE WHEN q0 < $MaxIsqrt AND (q0+1)*(q0+1) <= n_in_cell
       |               THEN 1 ELSE 0 END)
       |            - (CASE WHEN q0*q0 > n_in_cell THEN 1 ELSE 0 END) AS quota
       |  FROM (SELECT cluster, n_in_cell,
       |          CAST(FLOOR(SQRT(CAST(n_in_cell AS DOUBLE))) AS BIGINT) AS q0
       |        FROM cnt)),
       |cq2 AS (SELECT cluster, n_in_cell, quota,
       |               (quota * 1000000) // n_in_cell AS share_micro FROM cq),
       |rk AS (
       |  SELECT vec_id, cluster,
       |    ROW_NUMBER() OVER (PARTITION BY cluster
       |      ORDER BY (((vec_id % $P) + $P) % $P) * $CoverMix % $P, vec_id) AS rnk
       |  FROM asg),
       |kept AS (
       |  SELECT rk.cluster, rk.rnk, rk.vec_id, c.n_in_cell, c.quota, c.share_micro
       |  FROM rk JOIN cq2 c USING (cluster) WHERE rk.rnk <= c.quota),
       |tot AS (SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM kept) AS n_kept_tot,
       |               (SELECT CAST(COUNT(*) AS BIGINT) FROM asg) AS n_tot)
       |SELECT CAST(cluster AS BIGINT) AS cluster, CAST(rnk AS BIGINT) AS rnk,
       |       vec_id, n_in_cell, quota, share_micro, n_kept_tot, n_tot
       |FROM kept CROSS JOIN tot
       |WHERE rnk <= $CoverHeadK
       |ORDER BY cluster, rnk""".stripMargin

  /** q292's cascade constants: token-count keep band, mode-token
    * multiplier (mode·5 ≤ n ⇔ most-common-token share ≤ 20%, all
    * integer), kept-language set, and the opening-prefix gram width
    * (= [[SpanGram]] — stage 4 dedups on the first 8 tokens, the
    * boilerplate-opening heuristic). */
  val AttrMinTok = 30L
  val AttrMaxTok = 90L
  val AttrRepMult = 5L
  val AttrKeepLangs: Seq[String] = Seq("en", "es", "de", "fr")

  /** q292 — filter-cascade attrition audit (every LLM-data paper's
    * attrition table — C4, Gopher, RefinedWeb, Dolma all publish one):
    * four deterministic stages applied IN ORDER — (1) token-count band
    * [[AttrMinTok]]..[[AttrMaxTok]], (2) repetition
    * (mode-token·[[AttrRepMult]] ≤ n_tok), (3) language keep-set, (4)
    * keep-first dedup on the opening-[[SpanGram]]-gram hash among
    * stage-3 survivors (dedup cost is paid only on what the cheap
    * filters already passed — the production ordering). Graded per
    * source: cumulative survivors after each stage, each filter's
    * STANDALONE kill count (the marginal-vs-joint overlap a cascade
    * table hides), token mass before/after, and integer-DIV keep
    * shares.
    *
    * Scale shape: stages 1–3 are one projection + one token-level
    * aggregate (the per-doc mode is a partial-aggregable (doc, tok)
    * count-max, the q87 shape); stage 4 is one string hash per
    * surviving doc + a keep-first rank over prefix-hash groups
    * (bounded by the duplicate-opening group sizes). Accounting is one
    * per-source aggregate — all integer. */
  def q292FilterAttrition(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("source"), col("lang"), tokens(col("text")).as("tk"))
      .withColumn("n_tok", size(col("tk")).cast("long"))
    val mode = docs.select(col("doc_id"), explode(col("tk")).as("tok"))
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id")).agg(max(col("c")).as("mode_c"))
    val flags = docs.join(mode, Seq("doc_id"), "left")
      .withColumn("mode_c", coalesce(col("mode_c"), lit(0L)))
      .withColumn("len_ok", (col("n_tok") >= AttrMinTok && col("n_tok") <= AttrMaxTok)
        .cast("long"))
      .withColumn("rep_ok", (col("mode_c") * AttrRepMult <= col("n_tok")).cast("long"))
      .withColumn("lang_ok", col("lang").isin(AttrKeepLangs: _*).cast("long"))
      .withColumn("s1", col("len_ok"))
      .withColumn("s2", col("s1") * col("rep_ok"))
      .withColumn("s3", col("s2") * col("lang_ok"))
      .persist()
    // stage 4 only over stage-3 survivors (all have >= SpanGram tokens
    // because AttrMinTok > SpanGram): keep-first per opening-gram hash
    val wd = Window.partitionBy(col("pre")).orderBy(col("doc_id"))
    val s4 = flags.filter(col("s3") === 1)
      .withColumn("pre", polyHash(concat_ws(" ", slice(col("tk"), 1, SpanGram))))
      .withColumn("rn", row_number().over(wd))
      .withColumn("s4", (col("rn") === 1).cast("long"))
    val base = flags.groupBy(col("source")).agg(
      count(lit(1)).as("n0"),
      sum(lit(1L) - col("len_ok")).as("n_fail_len"),
      sum(lit(1L) - col("rep_ok")).as("n_fail_rep"),
      sum(lit(1L) - col("lang_ok")).as("n_fail_lang"),
      sum(col("s1")).as("n_s1"), sum(col("s2")).as("n_s2"),
      sum(col("s3")).as("n_s3"), sum(col("n_tok")).as("tok0"))
    val kept = s4.groupBy(col("source")).agg(
      sum(col("s4")).as("n_s4"),
      sum(col("s4") * col("n_tok")).as("tok4"))
    base.join(kept, Seq("source"), "left")
      .withColumn("n_s4", coalesce(col("n_s4"), lit(0L)))
      .withColumn("tok4", coalesce(col("tok4"), lit(0L)))
      .withColumn("share_kept_micro", expr("n_s4 * 1000000 DIV n0"))
      .withColumn("tok_share_micro", expr("tok4 * 1000000 DIV tok0"))
      .orderBy(col("source"))
  }

  val q292Sql: String = {
    val langList = AttrKeepLangs.map(l => s"'$l'").mkString(", ")
    s"""WITH docs AS (
       |  SELECT doc_id, source, lang, ${tokensSql("text")} AS tk,
       |         CAST(len(${tokensSql("text")}) AS BIGINT) AS n_tok
       |  FROM documents),
       |md AS (
       |  SELECT doc_id, CAST(MAX(c) AS BIGINT) AS mode_c
       |  FROM (SELECT doc_id, tok, COUNT(*) AS c
       |        FROM (SELECT doc_id, unnest(tk) AS tok FROM docs) GROUP BY 1, 2)
       |  GROUP BY doc_id),
       |fl AS (
       |  SELECT d.doc_id, d.source, d.tk, d.n_tok,
       |    CASE WHEN d.n_tok >= $AttrMinTok AND d.n_tok <= $AttrMaxTok
       |         THEN 1 ELSE 0 END AS len_ok,
       |    CASE WHEN COALESCE(md.mode_c, 0) * $AttrRepMult <= d.n_tok
       |         THEN 1 ELSE 0 END AS rep_ok,
       |    CASE WHEN d.lang IN ($langList) THEN 1 ELSE 0 END AS lang_ok
       |  FROM docs d LEFT JOIN md USING (doc_id)),
       |st AS (
       |  SELECT *, s2 * lang_ok AS s3 FROM (
       |    SELECT *, s1 * rep_ok AS s2 FROM (
       |      SELECT *, len_ok AS s1 FROM fl))),
       |s4d AS (
       |  SELECT source, n_tok,
       |    CASE WHEN ROW_NUMBER() OVER (
       |      PARTITION BY ${polyHashSql(s"array_to_string(tk[1:$SpanGram], ' ')")}
       |      ORDER BY doc_id) = 1 THEN 1 ELSE 0 END AS s4
       |  FROM st WHERE s3 = 1),
       |base AS (
       |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n0,
       |    CAST(SUM(1 - len_ok) AS BIGINT) AS n_fail_len,
       |    CAST(SUM(1 - rep_ok) AS BIGINT) AS n_fail_rep,
       |    CAST(SUM(1 - lang_ok) AS BIGINT) AS n_fail_lang,
       |    CAST(SUM(s1) AS BIGINT) AS n_s1, CAST(SUM(s2) AS BIGINT) AS n_s2,
       |    CAST(SUM(s3) AS BIGINT) AS n_s3, CAST(SUM(n_tok) AS BIGINT) AS tok0
       |  FROM st GROUP BY source),
       |kept AS (
       |  SELECT source, CAST(SUM(s4) AS BIGINT) AS n_s4,
       |         CAST(SUM(s4 * n_tok) AS BIGINT) AS tok4
       |  FROM s4d GROUP BY source)
       |SELECT b.source, b.n0, b.n_fail_len, b.n_fail_rep, b.n_fail_lang,
       |       b.n_s1, b.n_s2, b.n_s3,
       |       COALESCE(k.n_s4, 0) AS n_s4, b.tok0, COALESCE(k.tok4, 0) AS tok4,
       |       (COALESCE(k.n_s4, 0) * 1000000) // b.n0 AS share_kept_micro,
       |       (COALESCE(k.tok4, 0) * 1000000) // b.tok0 AS tok_share_micro
       |FROM base b LEFT JOIN kept k USING (source)
       |ORDER BY b.source""".stripMargin
  }

  /** q293's outlier fraction in micro-units (50000 = the worst 5% of
    * each cell by centroid distance, ceil'd so small cells still flag
    * their farthest member). */
  val OutPctMicro = 50000L

  /** q293 — embedding-space outlier audit (corpus QA for the vector
    * tier: vectors far from their own coarse cell's centroid are the
    * mislabeled / corrupt / out-of-distribution candidates a curation
    * pass reviews first — the per-cluster distance heuristic of
    * image-dedup and SemDeDup pipelines run in reverse): every vector
    * is assigned via q148's 6-dp-rounded Lloyd model, each cell flags
    * its ceil([[OutPctMicro]]·|cell|) farthest members by the
    * 6-dp-rounded squared distance (ties by vec_id), and the graded
    * rows are the flagged outliers with per-cell accounting (size,
    * flag count, Det-exact mean distance).
    *
    * Scale shape: assignment is the k-row broadcast loop
    * (`KMeansIvf.assign`); the flag decision is one per-cell rank
    * window (WindowGroupLimit-prunable — only the top ceil(5%) ranks
    * survive); cell stats are a k-row aggregate. The 6-dp rounding on
    * distances before ranking keeps ranks engine-exact (the q148
    * discipline), and the ceil is pure integer. */
  def q293EmbedOutliers(s: SparkSession, d: String): DataFrame = {
    import graft.ml.KMeansIvf
    val e = Tables.embeddings(s, d)
    val (cents, _) = KMeansIvf.fit(e, "vec_id", "embedding", k = 8, iters = 3,
      trackInertia = false, roundCentroids = true)
    val assigned = KMeansIvf.assign(e, cents, "vec_id", "embedding")
      .select(col("vec_id"), col("cluster"), round(col("dist_sq"), 6).as("dist6"))
      .persist()
    val stats = assigned.groupBy(col("cluster")).agg(
        count(lit(1)).as("n_in_cell"),
        Det.davg(col("dist6")).as("mean_dist6"))
      .withColumn("n_out",
        expr(s"(n_in_cell * $OutPctMicro + 999999) DIV 1000000"))
    val wr = Window.partitionBy(col("cluster")).orderBy(col("dist6").desc, col("vec_id"))
    assigned.withColumn("rnk", row_number().over(wr))
      .join(broadcast(stats), "cluster")
      .filter(col("rnk") <= col("n_out"))
      .select(col("cluster").cast("long").as("cluster"),
        col("rnk").cast("long").as("rnk"), col("vec_id"), col("dist6"),
        col("n_in_cell"), col("n_out"), col("mean_dist6"))
      .orderBy(col("cluster"), col("rnk"))
  }

  val q293Sql: String =
    s"""WITH ${VectorOps.trainedModelCtes},
       |asg AS (SELECT vec_id, cluster, ROUND(dist_sq, 6) AS dist6 FROM a4),
       |stats AS (
       |  SELECT cluster, CAST(COUNT(*) AS BIGINT) AS n_in_cell,
       |         ${Det.dsumSql("dist6")} / COUNT(*) AS mean_dist6,
       |         (CAST(COUNT(*) AS BIGINT) * $OutPctMicro + 999999) // 1000000
       |           AS n_out
       |  FROM asg GROUP BY cluster),
       |rk AS (
       |  SELECT vec_id, cluster, dist6,
       |    ROW_NUMBER() OVER (PARTITION BY cluster
       |                       ORDER BY dist6 DESC, vec_id) AS rnk
       |  FROM asg)
       |SELECT CAST(rk.cluster AS BIGINT) AS cluster, CAST(rk.rnk AS BIGINT) AS rnk,
       |       rk.vec_id, rk.dist6, s.n_in_cell, s.n_out, s.mean_dist6
       |FROM rk JOIN stats s USING (cluster)
       |WHERE rk.rnk <= s.n_out
       |ORDER BY rk.cluster, rk.rnk""".stripMargin

  /** q294's version-simulation masks: v1 lacks doc_id ≡ 0 (mod 11)
    * ("added later"), v2 lacks doc_id ≡ 0 (mod 17) ("removed"), and v1
    * carries only the first [[DiffChgTokens]] tokens of doc_id ≡ 0
    * (mod 13) docs ("edited since"). Deterministic slices of ONE table,
    * the q275-benchmark-slice discipline — no synthetic data. */
  val DiffAddMod = 11L
  val DiffRemMod = 17L
  val DiffChgMod = 13L
  val DiffChgTokens = 10

  /** q294 — dataset-version diff audit (the snapshot-release op: every
    * corpus release publishes added/removed/changed counts against the
    * prior version, and incremental consumers — index maintainers
    * (q276), delta dedup (q183) — size their work from exactly this
    * report): two deterministic versions of the corpus are compared by
    * content hash in one full-outer equi-join on doc_id; a doc present
    * only in v2 is `added`, only in v1 `removed`, in both with
    * differing md5 `changed`, else `same`. Graded per source: the four
    * counts, both version populations, and integer-DIV churn share
    * (changed+added+removed relative to v2).
    *
    * Scale shape: two projections (md5 per side), ONE shuffle on
    * doc_id for the full-outer join, one per-source aggregate — all
    * hash-comparable work, no text carried past the md5. At 100 TB the
    * md5s come from the versions' manifests and the join is the whole
    * op. */
  def q294VersionDiff(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("source"), col("text"), tokens(col("text")).as("tk"))
    val v1 = docs.filter(pmod(col("doc_id"), lit(DiffAddMod)) =!= 0)
      .select(col("doc_id"), col("source").as("src1"),
        md5(when(pmod(col("doc_id"), lit(DiffChgMod)) === 0,
          concat_ws(" ", slice(col("tk"), 1, DiffChgTokens)))
          .otherwise(col("text"))).as("h1"))
    val v2 = docs.filter(pmod(col("doc_id"), lit(DiffRemMod)) =!= 0)
      .select(col("doc_id"), col("source").as("src2"), md5(col("text")).as("h2"))
    val status = v1.join(v2, Seq("doc_id"), "full_outer")
      .select(coalesce(col("src1"), col("src2")).as("source"),
        when(col("h1").isNull, lit("added"))
          .when(col("h2").isNull, lit("removed"))
          .when(col("h1") =!= col("h2"), lit("changed"))
          .otherwise(lit("same")).as("st"))
    status.groupBy(col("source")).agg(
        sum((col("st") === "added").cast("long")).as("n_added"),
        sum((col("st") === "removed").cast("long")).as("n_removed"),
        sum((col("st") === "changed").cast("long")).as("n_changed"),
        sum((col("st") === "same").cast("long")).as("n_same"))
      .withColumn("n_v1", col("n_removed") + col("n_changed") + col("n_same"))
      .withColumn("n_v2", col("n_added") + col("n_changed") + col("n_same"))
      // n_v2 = 0 guard: Spark's non-ANSI DIV yields NULL, DuckDB raises
      // (the q276 divergence class) — a source fully absent from v2
      // reports churn 0 on both engines
      .withColumn("churn_micro",
        when(col("n_v2") === 0, lit(0L)).otherwise(
          expr("(n_added + n_removed + n_changed) * 1000000 DIV n_v2")))
      .orderBy(col("source"))
  }

  val q294Sql: String =
    s"""WITH docs AS (
       |  SELECT doc_id, source, text, ${tokensSql("text")} AS tk FROM documents),
       |v1 AS (
       |  SELECT doc_id, source AS src1,
       |         md5(CASE WHEN ((doc_id % $DiffChgMod) + $DiffChgMod) % $DiffChgMod = 0
       |                  THEN array_to_string(tk[1:$DiffChgTokens], ' ')
       |                  ELSE text END) AS h1
       |  FROM docs WHERE ((doc_id % $DiffAddMod) + $DiffAddMod) % $DiffAddMod <> 0),
       |v2 AS (
       |  SELECT doc_id, source AS src2, md5(text) AS h2
       |  FROM docs WHERE ((doc_id % $DiffRemMod) + $DiffRemMod) % $DiffRemMod <> 0),
       |st AS (
       |  SELECT COALESCE(src1, src2) AS source,
       |         CASE WHEN h1 IS NULL THEN 'added'
       |              WHEN h2 IS NULL THEN 'removed'
       |              WHEN h1 <> h2 THEN 'changed'
       |              ELSE 'same' END AS st
       |  FROM v1 FULL OUTER JOIN v2 USING (doc_id)),
       |agg AS (
       |  SELECT source,
       |    CAST(SUM(CASE WHEN st = 'added' THEN 1 ELSE 0 END) AS BIGINT) AS n_added,
       |    CAST(SUM(CASE WHEN st = 'removed' THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
       |    CAST(SUM(CASE WHEN st = 'changed' THEN 1 ELSE 0 END) AS BIGINT) AS n_changed,
       |    CAST(SUM(CASE WHEN st = 'same' THEN 1 ELSE 0 END) AS BIGINT) AS n_same
       |  FROM st GROUP BY source)
       |SELECT source, n_added, n_removed, n_changed, n_same,
       |       n_removed + n_changed + n_same AS n_v1,
       |       n_added + n_changed + n_same AS n_v2,
       |       CASE WHEN n_added + n_changed + n_same = 0 THEN CAST(0 AS BIGINT)
       |            ELSE ((n_added + n_removed + n_changed) * 1000000)
       |                   // (n_added + n_changed + n_same) END AS churn_micro
       |FROM agg ORDER BY source""".stripMargin

  /** q295's rank cap: the log-log regression runs over each language's
    * top [[ZipfRanks]] token frequencies — a constant-size, broadcastable
    * term set whatever the corpus size. */
  val ZipfRanks = 100

  /** q295 — Zipf rank–frequency slope per language (corpus-health
    * fingerprint: natural text shows ln(freq) ≈ −1·ln(rank) + c; a
    * slope collapsing toward 0 means templated/duplicated text, a
    * steep slope a degenerate vocabulary — the complement of q240's
    * Heaps growth curve, reading the DISTRIBUTION rather than the
    * vocabulary size): per language, the top-[[ZipfRanks]] token
    * frequencies by (count desc, token) feed an ordinary
    * least-squares fit of ln(count) on ln(rank), computed entirely
    * from exact integer sums of 6-dp micro-rounded logs (the q285
    * log discipline — each ln is rounded BEFORE any product or sum,
    * so both engines sum identical integers; the final
    * slope = (n·Σxy − Σx·Σy)/(n·Σxx − Σx·Σx) divides one exact int64
    * by another and rounds once).
    *
    * Scale shape: one token-level partial-aggregable count, one
    * per-lang top-[[ZipfRanks]] rank window (WindowGroupLimit-pruned),
    * then a |langs|-row aggregate. Range: |x_micro| ≤ ln(100)·1e6,
    * |y_micro| ≤ ln(c_max)·1e6 — every sum stays far inside int64 even
    * at c_max ~ 1e12 tokens (bounds in the doc of each term). */
  def q295ZipfSlope(s: SparkSession, d: String): DataFrame = {
    val tok = Tables.documents(s, d)
      .select(col("lang"), explode(tokens(col("text"))).as("tok"))
    val counts = tok.groupBy(col("lang"), col("tok")).agg(count(lit(1)).as("c"))
    val wr = Window.partitionBy(col("lang")).orderBy(col("c").desc, col("tok"))
    def lnMicro(c: org.apache.spark.sql.Column) =
      floor(log(c.cast("double")) * lit(1000000.0) + lit(0.5)).cast("long")
    val terms = counts.withColumn("rnk", row_number().over(wr))
      .filter(col("rnk") <= ZipfRanks)
      .withColumn("xm", lnMicro(col("rnk")))
      .withColumn("ym", lnMicro(col("c")))
    val agg = terms.groupBy(col("lang")).agg(
      count(lit(1)).as("n_ranks"),
      max(when(col("rnk") === 1, col("tok"))).as("top_tok"),
      max(when(col("rnk") === 1, col("c"))).as("top_c"),
      sum(col("xm")).as("sx"), sum(col("ym")).as("sy"),
      sum(col("xm") * col("xm")).as("sxx"), sum(col("xm") * col("ym")).as("sxy"))
    agg
      .withColumn("den", col("n_ranks") * col("sxx") - col("sx") * col("sx"))
      .withColumn("num", col("n_ranks") * col("sxy") - col("sx") * col("sy"))
      .withColumn("slope_micro",
        when(col("den") === 0, lit(0L)).otherwise(
          floor(col("num").cast("double") / col("den").cast("double") *
            lit(1000000.0) + lit(0.5)).cast("long")))
      .select(col("lang"), col("n_ranks"), col("top_tok"), col("top_c"),
        col("slope_micro"))
      .orderBy(col("lang"))
  }

  val q295Sql: String = {
    def lnMicro(e: String) =
      s"CAST(FLOOR(LN(CAST($e AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT)"
    s"""WITH tk AS (
       |  SELECT lang, unnest(${tokensSql("text")}) AS tok FROM documents),
       |cnt AS (SELECT lang, tok, CAST(COUNT(*) AS BIGINT) AS c
       |        FROM tk GROUP BY lang, tok),
       |terms AS (
       |  SELECT lang, tok, c, rnk, ${lnMicro("rnk")} AS xm, ${lnMicro("c")} AS ym
       |  FROM (SELECT lang, tok, c,
       |          ROW_NUMBER() OVER (PARTITION BY lang ORDER BY c DESC, tok) AS rnk
       |        FROM cnt)
       |  WHERE rnk <= $ZipfRanks),
       |agg AS (
       |  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_ranks,
       |         MAX(CASE WHEN rnk = 1 THEN tok END) AS top_tok,
       |         MAX(CASE WHEN rnk = 1 THEN c END) AS top_c,
       |         CAST(SUM(xm) AS BIGINT) AS sx, CAST(SUM(ym) AS BIGINT) AS sy,
       |         CAST(SUM(xm * xm) AS BIGINT) AS sxx,
       |         CAST(SUM(xm * ym) AS BIGINT) AS sxy
       |  FROM terms GROUP BY lang)
       |SELECT lang, n_ranks, top_tok, top_c,
       |       CASE WHEN n_ranks * sxx - sx * sx = 0 THEN CAST(0 AS BIGINT)
       |            ELSE CAST(FLOOR(CAST(n_ranks * sxy - sx * sy AS DOUBLE)
       |                   / CAST(n_ranks * sxx - sx * sx AS DOUBLE)
       |                   * 1000000.0 + 0.5) AS BIGINT) END AS slope_micro
       |FROM agg ORDER BY lang""".stripMargin
  }

  val queries: Map[String, Q] = Map(
    "q285_dsir_weights" -> q285DsirWeights _,
    "q286_gumbel_topk" -> q286GumbelTopK _,
    "q287_epoch_order" -> q287EpochOrder _,
    "q288_preference_pairs" -> q288PreferencePairs _,
    "q289_hamming_rerank" -> q289HammingRerank _,
    "q290_dup_spans" -> q290DupSpans _,
    "q291_coverage_sample" -> q291CoverageSample _,
    "q292_filter_attrition" -> q292FilterAttrition _,
    "q293_embed_outliers" -> q293EmbedOutliers _,
    "q294_version_diff" -> q294VersionDiff _,
    "q295_zipf_slope" -> q295ZipfSlope _)

  val oracles: Map[String, String] = Map(
    "q285_dsir_weights" -> q285Sql,
    "q286_gumbel_topk" -> q286Sql,
    "q287_epoch_order" -> q287Sql,
    "q288_preference_pairs" -> q288Sql,
    "q289_hamming_rerank" -> q289Sql,
    "q290_dup_spans" -> q290Sql,
    "q291_coverage_sample" -> q291Sql,
    "q292_filter_attrition" -> q292Sql,
    "q293_embed_outliers" -> q293Sql,
    "q294_version_diff" -> q294Sql,
    "q295_zipf_slope" -> q295Sql)
}
