package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`Array[Float]`).
  *
  * Two paths, matching how a 100 TB corpus is actually served:
  *
  *   - [[bruteForceTopK]]: exact cosine top-k. The query set is small and
  *     broadcast; the corpus side streams through one codegen'd projection
  *     (zip_with dot product) and a per-query top-k — no corpus shuffle at
  *     all beyond the final k·|Q| rows. This is the exact baseline every
  *     ANN variant is recalled against.
  *   - [[ivfTopK]]: IVF (inverted-file) approximate search. A deterministic
  *     centroid subset partitions the corpus into cells (assignment =
  *     nearest centroid, one broadcast join); queries probe only their
  *     `nprobe` closest cells. At scale the cell assignment is the
  *     partition key — each probe touches |corpus|/nlist · nprobe vectors
  *     instead of the whole corpus.
  *
  * Cosines are computed in DOUBLE with deterministic fold order and
  * rounded to 6 dp before ranking; ranking ties break on vec_id — so both
  * engines produce identical row sets (value-checked against DuckDB's
  * `list_dot_product`).
  */
object Similarity {

  import graft.functions.VectorFunctions.dotD

  // intermediate frames persisted on behalf of a lazy result register in
  // the engine-level [[Caches]] registry; the caller owns eviction —
  // Caches.releaseCaches() after consuming the result (the bench's
  // per-query clearCache() subsumes the unpersist)
  private def tracked(df: DataFrame): DataFrame = Caches.tracked(df)

  private def norm(v: Column): Column = sqrt(dotD(v, v))

  private def cosine(a: Column, an: Column, b: Column, bn: Column): Column =
    round(dotD(a, b) / (an * bn), 6)

  private def prepared(emb: DataFrame): DataFrame = {
    graft.functions.VectorFunctions.register(emb.sparkSession)
    emb.select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("nrm", norm(col("v")))
  }

  /** Exact cosine top-k: queries = vec_id < nQueries (a deterministic,
    * oracle-reproducible query set), self-matches excluded.
    */
  def bruteForceTopK(emb: DataFrame, nQueries: Int, k: Int): DataFrame = {
    val e = prepared(emb)
    val q = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("nrm").as("qn"))
    val scored = e.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        cosine(col("qv"), col("qn"), col("v"), col("nrm")).as("cosine"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("vec_id"))
    // rank as long: DuckDB's row_number() is BIGINT and the driver hash
    // is type-sensitive
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .orderBy(col("query_id"), col("rank"))
  }

  def bruteForceTopKSql(nQueries: Int, k: Int): String =
    s"""WITH e AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
       |         sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS nrm
       |  FROM embeddings),
       |q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn FROM e WHERE vec_id < $nQueries),
       |scored AS (
       |  SELECT q.query_id, e.vec_id,
       |         round(list_dot_product(q.qv, e.v) / (q.qn * e.nrm), 6) AS cosine
       |  FROM e, q WHERE e.vec_id <> q.query_id),
       |ranked AS (
       |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rank
       |  FROM scored)
       |SELECT query_id, vec_id, cosine, rank FROM ranked
       |WHERE rank <= $k ORDER BY query_id, rank""".stripMargin

  /** Hard-negative mining for contrastive training — per anchor (the
    * deterministic `vec_id < nAnchors` set), the `k` most similar
    * corpus vectors BELOW the near-duplicate threshold: similar enough
    * to be informative negatives, dissimilar enough to not be latent
    * positives (mining a near-dup as a negative is the classic
    * false-negative poisoning of a contrastive batch). Also reports how
    * many candidates were skipped as too-similar (`n_skipped_positives`)
    * — the audit column that catches a threshold set so low the
    * "negatives" are duplicates.
    *
    * Scale shape: anchors broadcast, the corpus streams through ONE
    * codegen'd cosine projection (the [[bruteForceTopK]] pattern); the
    * positive census and the negative ranking are two windows sharing
    * the anchor partitioning — one shuffle of |corpus|·nAnchors scored
    * rows. At index scale the scored stream would be the IVF-probed
    * candidate set instead; the mining logic is unchanged.
    */
  def hardNegatives(emb: DataFrame, nAnchors: Int, k: Int, dupThreshold: Double): DataFrame = {
    require(nAnchors >= 1 && k >= 1, s"nAnchors and k must be >= 1: $nAnchors, $k")
    val e = prepared(emb)
    val q = e.filter(col("vec_id") < nAnchors)
      .select(col("vec_id").as("anchor_id"), col("v").as("qv"), col("nrm").as("qn"))
    // + 0.0 after the rounding: a tiny negative cosine rounds to -0.0 in
    // DuckDB but +0.0 via Spark's HALF_UP path, and the gate compares
    // reprs (the CLAUDE.md negative-zero rule; IEEE -0.0 + 0.0 = +0.0)
    val scored = e.join(broadcast(q), col("vec_id") =!= col("anchor_id"))
      .select(col("anchor_id"), col("vec_id"),
        (cosine(col("qv"), col("qn"), col("v"), col("nrm")) + lit(0.0)).as("cosine"))
    val wAll = Window.partitionBy(col("anchor_id"))
    val wRank = Window.partitionBy(col("anchor_id"))
      .orderBy(col("cosine").desc, col("vec_id"))
    scored
      .withColumn("n_skipped_positives",
        sum(when(col("cosine") >= dupThreshold, 1L).otherwise(0L)).over(wAll))
      .filter(col("cosine") < dupThreshold)
      .withColumn("rank", row_number().over(wRank).cast("long"))
      .filter(col("rank") <= k)
      .select(col("anchor_id"), col("vec_id").as("negative_id"), col("cosine"),
        col("rank"), col("n_skipped_positives"))
      .orderBy("anchor_id", "rank")
  }

  def hardNegativesSql(nAnchors: Int, k: Int, dupThreshold: Double): String =
    s"""WITH e AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
       |         sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS nrm
       |  FROM embeddings),
       |q AS (SELECT vec_id AS anchor_id, v AS qv, nrm AS qn FROM e WHERE vec_id < $nAnchors),
       |scored AS (
       |  SELECT q.anchor_id, e.vec_id,
       |         round(list_dot_product(q.qv, e.v) / (q.qn * e.nrm), 6) + 0.0 AS cosine
       |  FROM e, q WHERE e.vec_id <> q.anchor_id),
       |tagged AS (
       |  SELECT *,
       |         CAST(sum(CASE WHEN cosine >= $dupThreshold THEN 1 ELSE 0 END)
       |              OVER (PARTITION BY anchor_id) AS BIGINT) AS n_skipped_positives
       |  FROM scored),
       |ranked AS (
       |  SELECT anchor_id, vec_id AS negative_id, cosine, n_skipped_positives,
       |         row_number() OVER (PARTITION BY anchor_id ORDER BY cosine DESC, vec_id) AS rank
       |  FROM tagged WHERE cosine < $dupThreshold)
       |SELECT anchor_id, negative_id, cosine, rank, n_skipped_positives
       |FROM ranked WHERE rank <= $k ORDER BY anchor_id, rank""".stripMargin

  /** IVF approximate top-k. Centroids: a FIXED-COUNT deterministic sample —
    * the `nlist` corpus vectors with the smallest portable hash of their id
    * (hash order ≈ uniform random, but reproducible in the oracle). nlist
    * is independent of corpus size, so the broadcast centroid table and the
    * per-vector assignment cost stay constant as the corpus grows — the
    * 100 TB property a `vec_id % step` rule lacks (its centroid count grows
    * linearly with the corpus). The top-nlist is a TakeOrderedAndProject:
    * k-bounded partials, no global sort materialization.
    *
    * The centroid table is materialized on the driver ONCE and re-embedded
    * as a local relation: left as a lazy subtree it would be recomputed —
    * full corpus scan included — in every plan branch that references it
    * (cell assignment AND query probing; round-2's 11× ann_ivf_topk
    * regression). The collect is bounded at `nlist` rows by construction,
    * the same scalar-probe shape as Watermark.latestPosition; this IS the
    * "index build" step of IVF — at 100 TB the centroid table is exactly
    * the artifact you'd persist and broadcast with the index.
    */
  private def centroids(e: DataFrame, nlist: Int): DataFrame = {
    val spark = e.sparkSession
    // rebuild the local relation from the SOURCE schema (not a fixed tuple
    // encoder) so cent_id mirrors vec_id's type exactly — a fixture with
    // int32 ids must not silently widen to BIGINT and break oracle parity
    val sel = e
      .orderBy(graft.functions.PortableHash.tokenHash(col("vec_id").cast("string")),
        col("vec_id"))
      .limit(nlist)
      .select(col("vec_id").as("cent_id"), col("v").as("cv"), col("nrm").as("cn"))
    spark.createDataFrame(java.util.Arrays.asList(sel.collect(): _*), sel.schema)
  }

  /** IVF cell assignment: one broadcast join + max_by partial agg — no
    * corpus shuffle. Composite BIGINT order key (cosine already rounded
    * to 6 dp, so cos·1e6 is integral; cent_id tiebreak) because DuckDB's
    * arg_max takes scalar keys only; round() before the cast because the
    * double sits ~1e-9 off the integer and Spark's cast truncates where
    * DuckDB's rounds. Tiebreak assumes cent_id < 1e7 — a corpus with
    * more vector ids than that needs a wider multiplier.
    */
  private def cellAssignments(e: DataFrame, cent: DataFrame): DataFrame =
    e.join(broadcast(cent), lit(true))
      .select(col("vec_id"), col("v"), col("nrm"), col("cent_id"),
        cosine(col("cv"), col("cn"), col("v"), col("nrm")).as("ccos"))
      .groupBy(col("vec_id"), col("v"), col("nrm"))
      .agg(max_by(col("cent_id"),
        round(col("ccos") * 1000000).cast("long") * 10000000L - col("cent_id")).as("cell"))

  /** Shared oracle CTEs: `e` → `cent` → `assigned`. */
  private def cellSql(nlist: Int): String =
    s"""e AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
       |         sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS nrm
       |  FROM embeddings),
       |cent AS (SELECT vec_id AS cent_id, v AS cv, nrm AS cn FROM e
       |         ORDER BY ${graft.functions.PortableHash.tokenHashSql("CAST(vec_id AS VARCHAR)")}, vec_id LIMIT $nlist),
       |assigned AS (
       |  SELECT vec_id, v, nrm,
       |         arg_max(cent_id, CAST(round(list_dot_product(cv, v) / (cn * nrm), 6) * 1000000 AS BIGINT) * 10000000 - cent_id) AS cell
       |  FROM e, cent GROUP BY vec_id, v, nrm)""".stripMargin

  /** Per-query probe cells: the `nprobe` centroids nearest each query
    * (query_id, qv, qn, cell). Shared by [[ivfTopK]] and [[ivfPqTopK]] so
    * the probe tie-break (qcos desc, cent_id) has exactly one home.
    */
  private def probeCells(e: DataFrame, cent: DataFrame,
                         nQueries: Int, nprobe: Int): DataFrame = {
    val q = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("nrm").as("qn"))
    val probeW = Window.partitionBy(col("query_id"))
      .orderBy(col("qcos").desc, col("cent_id"))
    q.join(broadcast(cent), lit(true))
      .select(col("query_id"), col("qv"), col("qn"), col("cent_id"),
        cosine(col("cv"), col("cn"), col("qv"), col("qn")).as("qcos"))
      .withColumn("pr", row_number().over(probeW))
      .filter(col("pr") <= nprobe)
      .select(col("query_id"), col("qv"), col("qn"), col("cent_id").as("cell"))
  }

  def ivfTopK(emb: DataFrame, nQueries: Int, k: Int, nlist: Int, nprobe: Int): DataFrame = {
    val e = prepared(emb)
    val cent = centroids(e, nlist)
    val assigned = cellAssignments(e, cent)
    val probes = probeCells(e, cent, nQueries, nprobe)
    val rankW = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("vec_id"))
    probes.join(assigned, Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        cosine(col("qv"), col("qn"), col("v"), col("nrm")).as("cosine"))
      .withColumn("rank", row_number().over(rankW).cast("long"))
      .filter(col("rank") <= k)
      .orderBy(col("query_id"), col("rank"))
  }

  /** Index-quality audit: recall@k of the IVF index against the exact
    * brute-force baseline — the number every production ANN deployment
    * watches when tuning nlist/nprobe. Composes the two top-k operators
    * and joins their result sets per query; both inputs are k·|Q| rows,
    * so the audit itself costs nothing beyond the searches it compares.
    */
  def ivfRecallAudit(emb: DataFrame, nQueries: Int, k: Int,
                     nlist: Int, nprobe: Int): DataFrame = {
    val exact = bruteForceTopK(emb, nQueries, k).select(col("query_id"), col("vec_id"))
    val approx = ivfTopK(emb, nQueries, k, nlist, nprobe)
      .select(col("query_id"), col("vec_id")).withColumn("hit", lit(1))
    exact.join(approx, Seq("query_id", "vec_id"), "left")
      .groupBy(col("query_id"))
      .agg(count(col("hit")).as("n_hits"))
      .select(col("query_id"), col("n_hits"),
        round(col("n_hits").cast("double") / k, 6).as("recall"))
      .orderBy("query_id")
  }

  /** Position-discount table 1/log2(i+1) and the ideal DCG, precomputed
    * as Scala doubles and embedded as IDENTICAL literals in the Spark
    * plan and the oracle SQL — ln() differs between JVM and libm in the
    * last ulp, so neither engine may compute the logs itself. Terms are
    * rounded to 6 dp and summed in DECIMAL (the repo's shuffle-order
    * discipline), so the whole metric is bit-stable.
    */
  private def ndcgDiscounts(k: Int): (Seq[Double], Double) = {
    val d = (1 to k).map(i => 1.0 / (math.log(i + 1.0) / math.log(2.0)))
    val idcg = (1 to k).map(i =>
      BigDecimal((k + 1 - i).toDouble * d(i - 1)).setScale(6, BigDecimal.RoundingMode.HALF_UP))
      .sum.toDouble
    (d, idcg)
  }

  /** nDCG@k of the IVF retrieval against the exact ranking — the GRADED
    * companion of [[ivfRecallAudit]]: recall counts hits, nDCG also
    * charges the index for returning them in the wrong order. Relevance
    * of a retrieved vector is (k+1 − exact_rank) when it is in the exact
    * top-k, else 0; DCG discounts by retrieval position.
    *
    * Scale shape: both rankings are the k·|Q|-row outputs of the existing
    * audits; the metric itself is a broadcast-size join + per-query sum.
    */
  def ivfNdcgAudit(emb: DataFrame, nQueries: Int, k: Int,
                   nlist: Int, nprobe: Int): DataFrame = {
    val (disc, idcg) = ndcgDiscounts(k)
    val exact = bruteForceTopK(emb, nQueries, k)
      .select(col("query_id"), col("vec_id"), col("rank").as("exact_rank"))
    val approx = ivfTopK(emb, nQueries, k, nlist, nprobe)
      .select(col("query_id"), col("vec_id"), col("rank").as("pos"))
    val discount = element_at(array(disc.map(lit): _*), col("pos").cast("int"))
    approx.join(exact, Seq("query_id", "vec_id"), "left")
      .select(col("query_id"),
        round(coalesce(lit(k + 1).cast("long") - col("exact_rank"), lit(0L)).cast("double")
          * discount, 6).cast("decimal(18,6)").as("term"))
      .groupBy(col("query_id"))
      .agg(sum(col("term")).cast("double").as("dcg"))
      .select(col("query_id"), col("dcg"),
        round(col("dcg") / lit(idcg), 6).as("ndcg"))
      .orderBy("query_id")
  }

  def ivfNdcgAuditSql(nQueries: Int, k: Int, nlist: Int, nprobe: Int): String = {
    val (disc, idcg) = ndcgDiscounts(k)
    // explicit per-element DOUBLE casts: a bare numeric literal with a
    // decimal point is DECIMAL in DuckDB, and a mixed-scale decimal list
    // would widen/round differently than the Spark double array
    val discList = disc.map(d => s"CAST($d AS DOUBLE)").mkString("[", ", ", "]")
    s"""WITH ex AS (${bruteForceTopKSql(nQueries, k)}),
       |ap AS (${ivfTopKSql(nQueries, k, nlist, nprobe)}),
       |terms AS (
       |  SELECT ap.query_id,
       |         CAST(round(CAST(coalesce(${k + 1} - ex.rank, 0) AS DOUBLE)
       |               * ($discList)[ap.rank], 6) AS DECIMAL(18,6)) AS term
       |  FROM ap LEFT JOIN ex
       |    ON ap.query_id = ex.query_id AND ap.vec_id = ex.vec_id),
       |agg AS (
       |  SELECT query_id, CAST(sum(term) AS DOUBLE) AS dcg
       |  FROM terms GROUP BY query_id)
       |SELECT query_id, dcg,
       |       round(dcg / CAST($idcg AS DOUBLE), 6) AS ndcg
       |FROM agg ORDER BY query_id""".stripMargin
  }

  def ivfRecallAuditSql(nQueries: Int, k: Int, nlist: Int, nprobe: Int): String =
    s"""SELECT b.query_id, count(i.vec_id) AS n_hits,
       |       round(CAST(count(i.vec_id) AS DOUBLE) / $k, 6) AS recall
       |FROM (${bruteForceTopKSql(nQueries, k)}) b
       |LEFT JOIN (${ivfTopKSql(nQueries, k, nlist, nprobe)}) i
       |  ON b.query_id = i.query_id AND b.vec_id = i.vec_id
       |GROUP BY b.query_id ORDER BY b.query_id""".stripMargin

  /** Recall@k of the COMPRESSED serving index ([[ivfPqTopK]]) against the
    * exact baseline — the number you tune m/ncode/nprobe against (the IVF
    * audit above only measures cell-probe loss; this one adds PQ
    * quantization loss). The exact baseline ranks by squared L2 — the
    * metric ADC approximates — computed as qn² + xn² − 2·q·x from the
    * already-available norms (one codegen'd dot product per pair, no
    * vector subtraction materialized). Both inputs are k·|Q| rows.
    */
  def ivfPqRecallAudit(emb: DataFrame, nQueries: Int, k: Int, nlist: Int,
                       nprobe: Int, m: Int, ncode: Int): DataFrame = {
    val e = prepared(emb)
    val q = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("nrm").as("qn"))
    val scored = e.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        round(col("qn") * col("qn") + col("nrm") * col("nrm") -
          lit(2) * dotD(col("qv"), col("v")), 6).as("d2"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("d2"), col("vec_id"))
    val exact = scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("vec_id"))
    val approx = ivfPqTopK(emb, nQueries, k, nlist, nprobe, m, ncode)
      .select(col("query_id"), col("vec_id")).withColumn("hit", lit(1))
    exact.join(approx, Seq("query_id", "vec_id"), "left")
      .groupBy(col("query_id"))
      .agg(count(col("hit")).as("n_hits"))
      .select(col("query_id"), col("n_hits"),
        round(col("n_hits").cast("double") / k, 6).as("recall"))
      .orderBy("query_id")
  }

  def ivfPqRecallAuditSql(nQueries: Int, k: Int, nlist: Int, nprobe: Int,
                          m: Int, ncode: Int, dim: Int): String =
    s"""WITH e AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
       |         sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS nrm
       |  FROM embeddings),
       |q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn FROM e WHERE vec_id < $nQueries),
       |l2 AS (
       |  SELECT q.query_id, e.vec_id,
       |         round(q.qn * q.qn + e.nrm * e.nrm - 2 * list_dot_product(q.qv, e.v), 6) AS d2
       |  FROM e, q WHERE e.vec_id <> q.query_id),
       |exact AS (
       |  SELECT query_id, vec_id FROM (
       |    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY d2, vec_id) AS r
       |    FROM l2)
       |  WHERE r <= $k)
       |SELECT x.query_id, count(i.vec_id) AS n_hits,
       |       round(CAST(count(i.vec_id) AS DOUBLE) / $k, 6) AS recall
       |FROM exact x
       |LEFT JOIN (${ivfPqTopKSql(nQueries, k, nlist, nprobe, m, ncode, dim)}) i
       |  ON x.query_id = i.query_id AND x.vec_id = i.vec_id
       |GROUP BY x.query_id ORDER BY x.query_id""".stripMargin

  /** Matryoshka-style dimension-truncation audit: recall@k of cosine
    * retrieval using only the FIRST d components, per truncation width,
    * against the full-dim exact top-k — the number that decides whether
    * the serving index can store d < D floats per vector (memory and
    * bandwidth scale linearly with d; at 100 TB of embeddings a 64→16
    * truncation is a 4× index-size cut if recall holds).
    *
    * Scale shape: the query set is broadcast per width and the corpus
    * streams — |dims| passes, each the [[bruteForceTopK]] shape; the
    * per-width sliced norms are computed in the same scan (no second
    * corpus materialization).
    */
  def dimTruncationAudit(emb: DataFrame, nQueries: Int, k: Int, dims: Seq[Int]): DataFrame = {
    val e = tracked(prepared(emb))
    val full = bruteForceTopK(emb, nQueries, k)
      .select(col("query_id"), col("vec_id")).withColumn("hit", lit(1))
    val perDim = dims.map { d =>
      val ed = e.select(col("vec_id"), slice(col("v"), 1, d).as("vd"))
        .withColumn("nd", norm(col("vd")))
      val qd = ed.filter(col("vec_id") < nQueries)
        .select(col("vec_id").as("query_id"), col("vd").as("qv"), col("nd").as("qn"))
      val scored = ed.join(broadcast(qd), col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id"),
          cosine(col("qv"), col("qn"), col("vd"), col("nd")).as("c"))
      val w = Window.partitionBy(col("query_id")).orderBy(col("c").desc, col("vec_id"))
      scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
        .select(lit(d).as("dims"), col("query_id"), col("vec_id"))
    }.reduce(_.unionAll(_))
    perDim.join(full, Seq("query_id", "vec_id"), "left")
      .groupBy(col("dims"), col("query_id"))
      .agg(count(col("hit")).as("n_hits"))
      .select(col("dims"), col("query_id"), col("n_hits"),
        round(col("n_hits").cast("double") / k, 6).as("recall"))
      .orderBy("dims", "query_id")
  }

  def dimTruncationAuditSql(nQueries: Int, k: Int, dims: Seq[Int]): String = {
    val tdRows = dims.map(d =>
      s"""SELECT $d AS dims, vec_id, v[1:$d] AS vd,
         |         sqrt(list_dot_product(v[1:$d], v[1:$d])) AS nd FROM e""".stripMargin)
      .mkString("\n  UNION ALL ")
    s"""WITH e AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |fulltop AS (
       |  SELECT query_id, vec_id FROM (${bruteForceTopKSql(nQueries, k)})),
       |td AS (
       |  $tdRows),
       |q AS (SELECT dims, vec_id AS query_id, vd AS qv, nd AS qn FROM td
       |      WHERE vec_id < $nQueries),
       |scored AS (
       |  SELECT t.dims, q.query_id, t.vec_id,
       |         round(list_dot_product(q.qv, t.vd) / (q.qn * t.nd), 6) AS c
       |  FROM td t JOIN q ON t.dims = q.dims AND t.vec_id <> q.query_id),
       |ranked AS (
       |  SELECT *, row_number() OVER (PARTITION BY dims, query_id ORDER BY c DESC, vec_id) AS r
       |  FROM scored),
       |approx AS (SELECT dims, query_id, vec_id FROM ranked WHERE r <= $k)
       |SELECT a.dims, a.query_id, count(f.vec_id) AS n_hits,
       |       round(CAST(count(f.vec_id) AS DOUBLE) / $k, 6) AS recall
       |FROM approx a
       |LEFT JOIN fulltop f ON f.query_id = a.query_id AND f.vec_id = a.vec_id
       |GROUP BY a.dims, a.query_id ORDER BY a.dims, a.query_id""".stripMargin
  }

  /** IVF-blocked near-duplicate pairs: when no natural blocking column
    * exists, the IVF cell assignment IS the blocking key — pairwise
    * cosine only within a cell. The unblocked-corpus complement of
    * [[graft.ops.Dedup.embeddingNearDup]] (which blocks on a given
    * label); same shuffle shape: one self-join keyed on the cell id.
    */
  def ivfNearDup(emb: DataFrame, nlist: Int, threshold: Double): DataFrame = {
    val e = prepared(emb)
    // persist: the self-join below consumes the assignment twice; without
    // it each side recomputes the corpus×centroid scoring pass. The frame
    // is tracked so long-lived sessions can evict via [[releaseCaches]]
    // (a lazy result can't unpersist its own input eagerly).
    val assigned = tracked(cellAssignments(e, centroids(e, nlist)).persist())
    assigned.as("a")
      .join(assigned.as("b"), col("a.cell") === col("b.cell") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"), col("a.cell").as("cell"),
        cosine(col("a.v"), col("a.nrm"), col("b.v"), col("b.nrm")).as("cosine"))
      .filter(col("cosine") >= threshold)
      .orderBy(col("vec_a"), col("vec_b"))
  }

  def ivfNearDupSql(nlist: Int, threshold: Double): String =
    s"""WITH ${cellSql(nlist)}
       |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.cell AS cell,
       |       round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6) AS cosine
       |FROM assigned a JOIN assigned b ON a.cell = b.cell AND a.vec_id < b.vec_id
       |WHERE round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6) >= $threshold
       |ORDER BY vec_a, vec_b""".stripMargin

  /** SemDeDup/DCLM-style cluster profiling: embedding-space IVF cells
    * joined with the text-side curation signals — per cluster, member
    * count, mean quality, and dominant predicted language. This is the
    * artifact cluster-based curation filters on (drop low-quality
    * clusters wholesale, diversity-sample within clusters).
    *
    * Cross-modal shape: the cell assignment streams (broadcast-centroid
    * join, no corpus shuffle); the text signals come from ONE projection
    * pass ([[TextAnalysis.signals]]); the id equi-join shuffles each side
    * once on the shared key; the profile is a partial-agg groupBy.
    * Dominant language via min(struct(-cnt, lang)) — deterministic
    * tie-break, no window.
    */
  def clusterProfile(emb: DataFrame, docs: DataFrame, nlist: Int): DataFrame = {
    val e = prepared(emb)
    val assigned = cellAssignments(e, centroids(e, nlist))
      .select(col("vec_id"), col("cell"))
    val sig = TextAnalysis.signals(docs)
      .select(col("doc_id").as("vec_id"), col("quality"), col("pred_lang"))
    val joined = assigned.join(sig, "vec_id")
    val langTop = joined
      .groupBy(col("cell"), col("pred_lang")).agg(count(lit(1)).as("cnt"))
      .groupBy(col("cell"))
      .agg(min(struct((-col("cnt")).as("neg"), col("pred_lang").as("lang"))).as("top"))
      .select(col("cell"), col("top.lang").as("top_lang"))
    joined
      .groupBy(col("cell"))
      // mean over DECIMAL (quality is exact 4-dp) — shuffle-order
      // independent, per the repo's decimal-aggregate discipline
      .agg(count(lit(1)).as("n_members"),
        round(avg(col("quality").cast("decimal(9,4)")).cast("double"), 6).as("avg_quality"))
      .join(langTop, "cell")
      .orderBy("cell")
  }

  def clusterProfileSql(nlist: Int): String =
    s"""WITH ${cellSql(nlist)},
       |${graft.ops.TextAnalysis.signalsSql},
       |joined AS (
       |  SELECT a.cell, s.quality, s.pred_lang
       |  FROM assigned a JOIN sig s ON a.vec_id = s.doc_id),
       |lang_counts AS (
       |  SELECT cell, pred_lang, count(*) AS cnt FROM joined GROUP BY cell, pred_lang),
       |top_lang AS (
       |  SELECT cell, pred_lang AS top_lang
       |  FROM (SELECT *, row_number() OVER (PARTITION BY cell ORDER BY cnt DESC, pred_lang) AS rn
       |        FROM lang_counts)
       |  WHERE rn = 1)
       |SELECT j.cell, count(*) AS n_members,
       |       round(CAST(avg(CAST(j.quality AS DECIMAL(9,4))) AS DOUBLE), 6) AS avg_quality,
       |       max(t.top_lang) AS top_lang
       |FROM joined j JOIN top_lang t ON j.cell = t.cell
       |GROUP BY j.cell ORDER BY j.cell""".stripMargin

  /** Int8 scalar quantization — the storage-compression step of a 100 TB
    * embedding store (4 B float32 → 1 B code per dimension). Per-vector
    * affine codes: `q_i = round((x_i - lo) / scale)` with
    * `scale = (hi - lo) / 255`, the codebook being just `(lo, scale)` per
    * vector. Pure projection — no shuffle, no join; at scale this is a
    * map-only rewrite of the embedding column.
    *
    * Output is the quantization AUDIT (code checksum + reconstruction
    * error), the artifact you'd gate a storage migration on. `mse` is
    * rounded at 9 dp, not the usual 6: the whole point of int8 is that the
    * error is ~(scale/2)^2 ≈ 1e-7, which 6 dp would flatten to zero.
    * Both engines fold the same doubles in the same dimension order, so
    * the values are bit-identical before rounding.
    */
  def quantizeInt8(emb: DataFrame): DataFrame = {
    val e = emb.select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    // bind lo/hi/scale through a projection BEFORE the lambdas: a HOF
    // lambda re-evaluates unbound child expressions per element
    val b = e
      .select(col("vec_id"), col("v"),
        array_min(col("v")).as("lo"), array_max(col("v")).as("hi"))
      .withColumn("scale", (col("hi") - col("lo")) / lit(255.0))
    val qd = b.withColumn("q", expr(
      "transform(v, x -> CASE WHEN scale = 0 THEN 0L ELSE CAST(round((x - lo) / scale, 0) AS BIGINT) END)"))
    qd.select(
      col("vec_id"),
      round(col("lo"), 6).as("lo"),
      round(col("hi"), 6).as("hi"),
      expr("aggregate(q, 0L, (a, x) -> a + x)").as("q_sum"),
      round(
        expr("aggregate(zip_with(v, q, (x, qi) -> (x - (lo + qi * scale)) * (x - (lo + qi * scale))), CAST(0.0 AS DOUBLE), (a, s) -> a + s)")
          / size(col("v")).cast("double"), 9).as("mse"))
      .orderBy("vec_id")
  }

  val quantizeInt8Sql: String =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |b AS (SELECT vec_id, v, list_min(v) AS lo, list_max(v) AS hi,
      |        (list_max(v) - list_min(v)) / 255.0 AS scale FROM e),
      |qd AS (SELECT vec_id, v, lo, hi, scale,
      |        [CASE WHEN scale = 0 THEN 0 ELSE CAST(round((x - lo) / scale, 0) AS BIGINT) END FOR x IN v] AS q
      |       FROM b)
      |SELECT vec_id, round(lo, 6) AS lo, round(hi, 6) AS hi,
      |       CAST(list_sum(q) AS BIGINT) AS q_sum,
      |       round(list_sum([(v[i] - (lo + q[i] * scale)) * (v[i] - (lo + q[i] * scale)) FOR i IN range(1, len(v) + 1)]) / len(v), 9) AS mse
      |FROM qd ORDER BY vec_id""".stripMargin

  /** GLOBAL per-dimension int8 codes — the exact-integer feature space
    * the coreset selection below runs in. Unlike [[quantizeInt8]]'s
    * per-VECTOR affine codes (storage compression — fine for
    * reconstructing each vector, but each vector gets its own codebook,
    * so inter-vector code distances are meaningless), the corpus-global
    * per-dimension (lo, scale) preserves geometry up to per-axis
    * rescaling: code distance is a faithful surrogate for L2. The dim
    * stats are a dim-bounded driver probe (one partial-agged pass),
    * re-embedded as literal arrays — the IVF-centroid device.
    */
  private def globalInt8Codes(emb: DataFrame): DataFrame = {
    val e = emb.select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val stats = e.select(posexplode(col("v")).as(Seq("i", "x")))
      .groupBy(col("i")).agg(min(col("x")).as("lo"), max(col("x")).as("hi"))
      .orderBy("i").collect()
    val lo = stats.map(_.getDouble(1)).toSeq
    val sc = stats.map(r => (r.getDouble(2) - r.getDouble(1)) / 255.0).toSeq
    e.select(col("vec_id"),
      zip_with(zip_with(col("v"), typedLit(lo), (x, l) => x - l), typedLit(sc),
        (d, s) => when(s === lit(0.0), lit(0L))
          .otherwise(round(d / s, 0).cast("long"))).as("q"))
  }

  /** Greedy k-center coreset selection (Gonzalez farthest-point
    * traversal) — the data-pruning step that picks a maximally-spread
    * subset of a corpus for training or labeling. Runs in the
    * corpus-global int8 code space ([[globalInt8Codes]]) on purpose:
    * squared L2 between codes is EXACT integer
    * arithmetic (diff ≤ 255, ×dim ≪ 2^53), so the per-round argmax —
    * farthest point from the chosen set, ties to the smallest vec_id —
    * is fully deterministic and the DuckDB oracle unrolls the identical
    * rounds as CTEs. A float-space version would hinge the selection on
    * last-ulp distance ties; the quantized selection is the one you can
    * replay bit-identically across engines and cluster layouts.
    *
    * Per round: one map-only pass over the code frame against the single
    * broadcast-literal new center (least(mind, d²)), then a global top-1
    * (TakeOrdered — partial per-partition top-k, no sort shuffle) and a
    * k-bounded driver probe. Round frames localCheckpoint (fixed k, the
    * Graph rounds' plan-cut rationale). Output: each selected center
    * with its selection gain (its min-dist² to the prior centers — the
    * coverage radius the selection just removed) plus the final
    * coverage radius after all k centers.
    */
  def kCenterCoreset(emb: DataFrame, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    val spark = emb.sparkSession
    import spark.implicits._
    def d2(center: Seq[Long]): Column =
      aggregate(zip_with(col("q"), typedLit(center), (a, b) => (a - b) * (a - b)),
        lit(0L), (s, x) => s + x)
    val q = globalInt8Codes(emb).localCheckpoint()
    val first = q.orderBy("vec_id").limit(1).collect()(0)
    var centers = Vector((1, first.getLong(0), 0L))
    var m = q.withColumn("mind", d2(first.getSeq[Long](1))).localCheckpoint()
    for (r <- 2 to k) {
      val nxt = m.orderBy(col("mind").desc, col("vec_id")).limit(1).collect()(0)
      centers = centers :+ ((r, nxt.getLong(0), nxt.getLong(2)))
      m = m.withColumn("mind", least(col("mind"), d2(nxt.getSeq[Long](1))))
        .localCheckpoint()
    }
    val radius = m.agg(max(col("mind"))).collect()(0).getLong(0)
    centers.toDF("sel_round", "center_id", "gain_dist_sq")
      .withColumn("coverage_radius_sq", lit(radius))
      .orderBy("sel_round")
  }

  def kCenterCoresetSql(k: Int): String = {
    def d2(qa: String, qb: String): String =
      s"CAST(list_sum([($qa[i] - $qb[i]) * ($qa[i] - $qb[i]) FOR i IN range(1, len($qa) + 1)]) AS BIGINT)"
    val rounds = (2 to k).map { r =>
      s"""c$r AS (SELECT vec_id AS cid, q AS cq, mind FROM m${r - 1} ORDER BY mind DESC, vec_id LIMIT 1),
         |m$r AS (SELECT m.vec_id, m.q, least(m.mind, ${d2("m.q", "c.cq")}) AS mind
         |        FROM m${r - 1} m, c$r c)""".stripMargin
    }.mkString(",\n")
    val sel = (2 to k).map(r =>
      s"SELECT $r AS sel_round, cid AS center_id, mind AS gain FROM c$r")
      .mkString("\n  UNION ALL ")
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |dims AS (
       |  SELECT i, min(v[i]) AS lo, max(v[i]) AS hi
       |  FROM e, unnest(range(1, len(v) + 1)) AS t(i) GROUP BY i),
       |la AS (SELECT list(lo ORDER BY i) AS lo,
       |              list((hi - lo) / 255.0 ORDER BY i) AS sc FROM dims),
       |q AS (SELECT vec_id,
       |        [CASE WHEN la.sc[i] = 0 THEN 0
       |              ELSE CAST(round((v[i] - la.lo[i]) / la.sc[i], 0) AS BIGINT) END
       |         FOR i IN range(1, len(v) + 1)] AS q
       |      FROM e, la),
       |c1 AS (SELECT vec_id AS cid, q AS cq FROM q ORDER BY vec_id LIMIT 1),
       |m1 AS (SELECT q.vec_id, q.q, ${d2("q.q", "c1.cq")} AS mind FROM q, c1),
       |$rounds,
       |cov AS (SELECT CAST(max(mind) AS BIGINT) AS radius FROM m$k),
       |sel AS (
       |  SELECT 1 AS sel_round, cid AS center_id, CAST(0 AS BIGINT) AS gain FROM c1
       |  UNION ALL $sel)
       |SELECT CAST(sel_round AS INTEGER) AS sel_round, center_id,
       |       CAST(gain AS BIGINT) AS gain_dist_sq, cov.radius AS coverage_radius_sq
       |FROM sel, cov ORDER BY sel_round""".stripMargin
  }

  /** One Lloyd (k-means) refinement iteration over the IVF cells: new
    * centroid = element-wise mean of each cell's members; output per cell
    * is the member count and the cosine between the seed centroid and the
    * refined one (shift_cosine → 1.0 means the seed was already central).
    * This is the index-quality feedback loop of a real IVF build —
    * iterate until the shift stabilizes, then re-assign.
    *
    * Scale shape: assignment is the broadcast-centroid join (no corpus
    * shuffle); the mean is a posexplode to (cell, dim) rows with map-side
    * partial aggregation, so the shuffle carries O(ncells · dim) combined
    * partials per task, NOT the exploded corpus. Dimension means aggregate
    * in DECIMAL(16,6) (exact, shuffle-order independent — no double is
    * exactly on a 6 dp half-boundary, so both engines' decimal rounding
    * agrees) and the refined centroid is rebuilt in dimension order.
    */
  def kmeansRefine(emb: DataFrame, nlist: Int): DataFrame = {
    val e = prepared(emb)
    val cent = centroids(e, nlist)
    val assigned = cellAssignments(e, cent)
    val dims = assigned.select(col("cell"), posexplode(col("v")).as(Seq("pos", "x")))
    val means = dims
      .groupBy(col("cell"), col("pos"))
      .agg(count(lit(1)).as("cnt"),
        round(avg(col("x").cast("decimal(16,6)")).cast("double"), 6).as("m"))
    val refined = means
      .groupBy(col("cell"))
      .agg(max(col("cnt")).as("n_members"),
        array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
      .select(col("cell"), col("n_members"), expr("transform(pm, s -> s.m)").as("nv"))
    refined
      .join(broadcast(cent), col("cell") === col("cent_id"))
      .select(col("cell"), col("n_members"),
        cosine(col("nv"), norm(col("nv")), col("cv"), col("cn")).as("shift_cosine"))
      .orderBy("cell")
  }

  def kmeansRefineSql(nlist: Int): String =
    s"""WITH ${cellSql(nlist)},
       |dims AS (
       |  SELECT a.cell, t.pos, a.v[t.pos + 1] AS x
       |  FROM assigned a, unnest(range(0, len(a.v))) AS t(pos)),
       |means AS (
       |  SELECT cell, pos, count(*) AS cnt,
       |         round(CAST(avg(CAST(x AS DECIMAL(16,6))) AS DOUBLE), 6) AS m
       |  FROM dims GROUP BY cell, pos),
       |refined AS (
       |  SELECT cell, max(cnt) AS n_members, list(m ORDER BY pos) AS nv
       |  FROM means GROUP BY cell)
       |SELECT r.cell, r.n_members,
       |       round(list_dot_product(r.nv, c.cv) / (sqrt(list_dot_product(r.nv, r.nv)) * c.cn), 6) AS shift_cosine
       |FROM refined r JOIN cent c ON r.cell = c.cent_id
       |ORDER BY r.cell""".stripMargin

  /** Product quantization (PQ) — the memory-compression layer of a
    * billion-vector ANN index: each vector is cut into `m` subvectors and
    * every subvector is replaced by the id of its nearest codeword in a
    * per-subspace codebook (here `ncode` codewords sampled hash-ordered
    * from the corpus, the same deterministic index-build device as
    * [[ivfTopK]]'s centroids). 64 float32 dims (256 B) become m=4 byte
    * codes + one shared codebook — a 64× compression, which is what makes
    * a 100 TB embedding store servable from RAM.
    *
    * Scale shape: the codebook is `ncode` rows, broadcast; assignment is
    * one explode to (vector, subspace) rows joined against the broadcast
    * codebook and reduced by a min_by partial agg — the corpus never
    * shuffles (the groupBy key (vec_id, sub_j) is a refinement of the
    * scan's row identity, and AQE coalesces the tiny agg exchange).
    *
    * Distances are rounded to 6 dp BEFORE the argmin; code choice ties
    * break on cent_id via the composite BIGINT key (same device and
    * 1e7-id bound as [[cellAssignments]]). Output: per-vector codes
    * c0..c3 and the reconstruction MSE, summed over subspaces in a FIXED
    * order (conditional per-subspace aggregates, not a shuffle-ordered
    * sum) so the double arithmetic is engine-identical.
    */
  def pqQuantize(emb: DataFrame, m: Int, ncode: Int): DataFrame = {
    val (_, _, best, dim) = pqPrep(emb, m, ncode)
    val codeCols = (0 until m).map(j =>
      max(when(col("sub_j") === j, col("code"))).as(s"c$j"))
    val dCols = (0 until m).map(j =>
      max(when(col("sub_j") === j, col("d2"))).as(s"d$j"))
    best.groupBy(col("vec_id"))
      .agg((codeCols ++ dCols).head, (codeCols ++ dCols).tail: _*)
      // 12 dp, not the usual 6-9: the summed d2s are 6-dp-granular, so
      // mse steps are multiples of 1e-6/dim — for dim=64 that is
      // 1.5625e-8, which lands EXACTLY on 9-dp half-boundaries (x.5),
      // where the engines' rounding can disagree. 12 dp represents every
      // step exactly, so there is no boundary to disagree on.
      .select(col("vec_id") +: (0 until m).map(j => col(s"c$j")) :+
        round((0 until m).map(j => col(s"d$j")).reduce(_ + _) / lit(dim.toDouble), 12).as("mse"): _*)
      .orderBy("vec_id")
  }

  /** Shared PQ machinery: subvector explode (`sub`), broadcast codebook
    * (`cw`), per-(vector, subspace) nearest-code assignment (`best`), and
    * the embedding dimension.
    */
  private def pqPrep(emb: DataFrame, m: Int, ncode: Int)
      : (DataFrame, DataFrame, DataFrame, Int) = {
    graft.functions.VectorFunctions.register(emb.sparkSession)
    val e = emb.select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val dim = emb.select(size(col("embedding"))).first().getInt(0)
    require(dim % m == 0, s"dim $dim not divisible by m=$m subspaces")
    val sd = dim / m
    val subSlices = (0 until m).map(j => slice(col("v"), j * sd + 1, sd))
    // codebook: ncode hash-sampled corpus vectors, materialized once on
    // the driver (bounded rows; same collect-don't-recompute rationale as
    // centroids()) and exploded to (sub_j, cent_id, cw)
    val sampSel = e
      .orderBy(graft.functions.PortableHash.tokenHash(col("vec_id").cast("string")),
        col("vec_id"))
      .limit(ncode)
      .select(col("vec_id").as("cent_id"), col("v"))
    val samp = emb.sparkSession.createDataFrame(
      java.util.Arrays.asList(sampSel.collect(): _*), sampSel.schema)
    val cw = samp.select(col("cent_id"),
      posexplode(array(subSlices: _*)).as(Seq("sub_j", "cwv")))
    val sub = e.select(col("vec_id"),
      posexplode(array(subSlices: _*)).as(Seq("sub_j", "sv")))
    val best = sub.join(broadcast(cw), "sub_j")
      .withColumn("d2", round(expr(
        "aggregate(zip_with(sv, cwv, (x, y) -> (x - y) * (x - y)), CAST(0.0 AS DOUBLE), (a, s) -> a + s)"), 6))
      .groupBy(col("vec_id"), col("sub_j"))
      .agg(min_by(col("cent_id"),
          round(col("d2") * 1000000).cast("long") * 10000000L + col("cent_id")).as("code"),
        min(col("d2")).as("d2"))
    (sub, cw, best, dim)
  }

  /** PQ asymmetric-distance (ADC) top-k — approximate nearest neighbors
    * scored entirely from the compressed codes: each query precomputes a
    * distance table ||q_sub − codeword||² per (subspace, code), and a
    * corpus vector's distance is the sum of m table lookups on its codes.
    * This is how a PQ index actually serves queries — the full vectors
    * are never touched at query time.
    *
    * Scale shape: mirrors [[bruteForceTopK]] — the distance tables
    * (nq·m·ncode rows) BROADCAST as m per-subspace hash joins against the
    * corpus code frame, which streams with no shuffle; ADC is a row-wise
    * fixed-order sum (engine-identical double arithmetic); the per-query
    * top-k goes through the rank-filter window, which Spark 4 executes as
    * WindowGroupLimit with per-partition partial top-k — only ≤ k rows
    * per query per partition reach the final exchange. Distances round to
    * 6 dp before ranking; ties break on vec_id.
    */
  def pqAdcTopK(emb: DataFrame, nQueries: Int, k: Int, m: Int, ncode: Int): DataFrame = {
    val (sub, cw, best, _) = pqPrep(emb, m, ncode)
    val scored = adcScore(pqCodes(best, m), distanceTables(sub, cw, nQueries), m)
      .filter(col("vec_id") =!= col("query_id"))
    rankByDistance(scored, k)
  }

  /** Per-vector code row (vec_id, c0..c{m-1}) pivoted from the
    * per-subspace assignment.
    */
  private def pqCodes(best: DataFrame, m: Int): DataFrame = {
    val codeCols = (0 until m).map(j =>
      max(when(col("sub_j") === j, col("code"))).as(s"c$j"))
    best.groupBy(col("vec_id")).agg(codeCols.head, codeCols.tail: _*)
  }

  /** Per-query subspace distance tables (query_id, sub_j, cent_id, d2q):
    * nq·m·ncode rows, the broadcast artifact ADC serving looks up.
    */
  private def distanceTables(sub: DataFrame, cw: DataFrame, nQueries: Int): DataFrame =
    sub.filter(col("vec_id") < nQueries)
      .withColumnRenamed("vec_id", "query_id")
      .join(broadcast(cw), "sub_j")
      .select(col("query_id"), col("sub_j"), col("cent_id"),
        round(expr(
          "aggregate(zip_with(sv, cwv, (x, y) -> (x - y) * (x - y)), CAST(0.0 AS DOUBLE), (a, s) -> a + s)"), 6)
          .as("d2q"))

  /** ADC scoring: m broadcast lookups against the distance tables, summed
    * in fixed order and rounded before ranking. `seed` must carry
    * (vec_id, c0..c{m-1}); if it already carries query_id (a cell-
    * restricted candidate frame) the lookups join on it, otherwise the
    * first lookup introduces it (all-pairs brute force over codes).
    */
  private def adcScore(seed: DataFrame, dt: DataFrame, m: Int): DataFrame = {
    val seeded = seed.columns.contains("query_id")
    val scored = (0 until m).foldLeft(seed) { (acc, j) =>
      val dtj = dt.filter(col("sub_j") === j)
        .select(col("query_id").as(s"q$j"), col("cent_id").as(s"k$j"), col("d2q").as(s"d$j"))
      val codeEq = col(s"c$j") === col(s"k$j")
      val cond =
        if (seeded) codeEq && col("query_id") === col(s"q$j")
        else if (j == 0) codeEq
        else codeEq && col("q0") === col(s"q$j")
      acc.join(broadcast(dtj), cond)
    }
    val adc = round((0 until m).map(j => col(s"d$j")).reduce(_ + _), 6)
    val qcol = if (seeded) col("query_id") else col("q0")
    scored.select(qcol.as("query_id"), col("vec_id"), adc.as("adc_dist"))
  }

  /** Per-query ascending-distance top-k (WindowGroupLimit partials). */
  private def rankByDistance(scored: DataFrame, k: Int): DataFrame =
    scored
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col("adc_dist"), col("vec_id"))))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("vec_id"), col("adc_dist"),
        col("rank").cast("long").as("rank"))
      .orderBy("query_id", "rank")

  def pqAdcTopKSql(nQueries: Int, k: Int, m: Int, ncode: Int, dim: Int): String =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |${pqCtesSql(m, ncode, dim)},
       |dt AS (
       |  SELECT vec_id AS query_id, sub_j, cent_id, d2 AS d2q
       |  FROM pq_scored WHERE vec_id < $nQueries),
       |adc AS (
       |  SELECT d.query_id, b.vec_id,
       |         round(sum(d.d2q), 6) AS adc_dist
       |  FROM best b JOIN dt d ON b.sub_j = d.sub_j AND b.code = d.cent_id
       |  WHERE b.vec_id <> d.query_id
       |  GROUP BY 1, 2),
       |ranked AS (
       |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY adc_dist, vec_id) AS rank
       |  FROM adc)
       |SELECT query_id, vec_id, adc_dist, CAST(rank AS BIGINT) AS rank
       |FROM ranked WHERE rank <= $k ORDER BY query_id, rank""".stripMargin

  /** IVF+PQ top-k — the combined serving architecture of a production
    * billion-vector index (FAISS IVFPQ): the query probes its `nprobe`
    * nearest cells, and only vectors ASSIGNED to those cells are scored,
    * by PQ asymmetric distance over their codes. Candidate count drops
    * from |corpus| to |corpus|·nprobe/nlist, and each candidate costs m
    * table lookups instead of a dim-length dot product — the two
    * reductions multiply.
    *
    * Scale shape: centroids and per-query distance tables are fixed-size
    * broadcast artifacts; the cell-restricted candidate join keys on the
    * cell id (the assignment frame would be the stored, cell-bucketed
    * index in production, so the probe prunes to matching buckets); the
    * ADC lookups are m broadcast joins; per-query top-k is the
    * WindowGroupLimit partial. The corpus full vectors are touched only
    * at index build, never at query time.
    */
  def ivfPqTopK(emb: DataFrame, nQueries: Int, k: Int, nlist: Int, nprobe: Int,
                m: Int, ncode: Int): DataFrame = {
    val e = prepared(emb)
    val cent = centroids(e, nlist)
    val assigned = cellAssignments(e, cent).select(col("vec_id"), col("cell"))
    val (sub, cw, best, _) = pqPrep(emb, m, ncode)
    val probes = probeCells(e, cent, nQueries, nprobe).select(col("query_id"), col("cell"))
    val cand = broadcast(probes).join(assigned, Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"))
    val scored = adcScore(cand.join(pqCodes(best, m), "vec_id"),
      distanceTables(sub, cw, nQueries), m)
    rankByDistance(scored, k)
  }

  /** Shared PQ oracle CTE chain (codebook sample → codewords →
    * subvectors → per-code distances → per-subspace assignment) over an
    * existing `e(vec_id, v, ...)` CTE — ONE home for the hash-sample
    * order and the composite arg_min tie-break, mirroring the Scala
    * [[pqPrep]]. Used by all three PQ oracles.
    */
  private def pqCtesSql(m: Int, ncode: Int, dim: Int): String = {
    val sd = dim / m
    val js = (0 until m).mkString(", ")
    s"""samp AS (SELECT vec_id AS cent_id, v FROM e
       |         ORDER BY ${graft.functions.PortableHash.tokenHashSql("CAST(vec_id AS VARCHAR)")}, vec_id LIMIT $ncode),
       |cw AS (SELECT cent_id, j AS sub_j, v[j * $sd + 1 : j * $sd + $sd] AS cwv
       |       FROM samp, unnest([$js]) t(j)),
       |sub AS (SELECT vec_id, j AS sub_j, v[j * $sd + 1 : j * $sd + $sd] AS sv
       |        FROM e, unnest([$js]) t(j)),
       |pq_scored AS (
       |  SELECT s.vec_id, s.sub_j, c.cent_id,
       |         round(list_sum([(s.sv[i] - c.cwv[i]) * (s.sv[i] - c.cwv[i]) FOR i IN range(1, $sd + 1)]), 6) AS d2
       |  FROM sub s JOIN cw c ON s.sub_j = c.sub_j),
       |best AS (
       |  SELECT vec_id, sub_j,
       |         arg_min(cent_id, CAST(round(d2 * 1000000, 0) AS BIGINT) * 10000000 + cent_id) AS code,
       |         min(d2) AS d2
       |  FROM pq_scored GROUP BY vec_id, sub_j)""".stripMargin
  }

  def ivfPqTopKSql(nQueries: Int, k: Int, nlist: Int, nprobe: Int,
                   m: Int, ncode: Int, dim: Int): String =
    s"""WITH ${cellSql(nlist)},
       |q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn FROM e WHERE vec_id < $nQueries),
       |probes AS (
       |  SELECT query_id, cell FROM (
       |    SELECT q.query_id, cent_id AS cell,
       |           row_number() OVER (PARTITION BY q.query_id
       |             ORDER BY round(list_dot_product(cv, qv) / (cn * qn), 6) DESC, cent_id) AS pr
       |    FROM q, cent)
       |  WHERE pr <= $nprobe),
       |${pqCtesSql(m, ncode, dim)},
       |dt AS (SELECT vec_id AS query_id, sub_j, cent_id, d2 AS d2q
       |       FROM pq_scored WHERE vec_id < $nQueries),
       |cand AS (
       |  SELECT p.query_id, a.vec_id
       |  FROM probes p JOIN assigned a ON p.cell = a.cell
       |  WHERE a.vec_id <> p.query_id),
       |adc AS (
       |  SELECT c.query_id, c.vec_id, round(sum(d.d2q), 6) AS adc_dist
       |  FROM cand c
       |    JOIN best b ON c.vec_id = b.vec_id
       |    JOIN dt d ON d.query_id = c.query_id AND d.sub_j = b.sub_j AND d.cent_id = b.code
       |  GROUP BY 1, 2),
       |ranked AS (
       |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY adc_dist, vec_id) AS rank
       |  FROM adc)
       |SELECT query_id, vec_id, adc_dist, CAST(rank AS BIGINT) AS rank
       |FROM ranked WHERE rank <= $k ORDER BY query_id, rank""".stripMargin

  def pqQuantizeSql(m: Int, ncode: Int, dim: Int): String = {
    val codeSel = (0 until m).map(j => s"max(CASE WHEN sub_j = $j THEN code END) AS c$j").mkString(", ")
    val mseNum = (0 until m).map(j => s"max(CASE WHEN sub_j = $j THEN d2 END)").mkString(" + ")
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |${pqCtesSql(m, ncode, dim)}
       |SELECT vec_id, $codeSel,
       |       round(($mseNum) / ${dim.toDouble}, 12) AS mse
       |FROM best GROUP BY vec_id ORDER BY vec_id""".stripMargin
  }

  def ivfTopKSql(nQueries: Int, k: Int, nlist: Int, nprobe: Int): String =
    s"""WITH ${cellSql(nlist)},
       |q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn FROM e WHERE vec_id < $nQueries),
       |probes AS (
       |  SELECT query_id, qv, qn, cent_id AS cell
       |  FROM (
       |    SELECT q.query_id, q.qv, q.qn, cent_id,
       |           row_number() OVER (PARTITION BY q.query_id
       |             ORDER BY round(list_dot_product(cv, qv) / (cn * qn), 6) DESC, cent_id) AS pr
       |    FROM q, cent)
       |  WHERE pr <= $nprobe),
       |scored AS (
       |  SELECT p.query_id, a.vec_id,
       |         round(list_dot_product(p.qv, a.v) / (p.qn * a.nrm), 6) AS cosine
       |  FROM probes p JOIN assigned a ON p.cell = a.cell
       |  WHERE a.vec_id <> p.query_id),
       |ranked AS (
       |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rank
       |  FROM scored)
       |SELECT query_id, vec_id, cosine, rank FROM ranked
       |WHERE rank <= $k ORDER BY query_id, rank""".stripMargin

  /** Per-dimension whitening statistics (mean-center + unit-variance) —
    * the standard preprocessing before PQ/OPQ codebook training: product
    * quantizers allocate the same number of codewords to every subspace,
    * so un-whitened dimensions with 10× the variance eat the quantization
    * budget of the other 63. Emits, per dimension, the corpus mean and
    * population sd plus the min/max of the whitened values — the audit
    * that (a) the transform parameters are right and (b) no dimension
    * hides an outlier that survives standardization.
    *
    * Scale shape: one narrow posexplode (never materialized — it feeds
    * map-side partial aggregation keyed on the 64-value dim key), a
    * broadcast of the 64-row stats frame back onto the second pass, and a
    * final 64-group aggregate. Means/second-moments accumulate as exact
    * DECIMAL sums (shuffle-order independence), sd is derived per row
    * from the two exact sums, and z-values round to 6 dp before min/max
    * so the extremes are engine-identical.
    */
  def whiten(emb: DataFrame): DataFrame = {
    val dims = emb
      .select(posexplode(col("embedding").cast("array<double>")).as(Seq("pos", "x")))
      .select(col("pos").cast("long").as("dim"), col("x"))
    val stats = dims.groupBy(col("dim"))
      .agg(count(lit(1)).as("n"),
        sum(col("x").cast("decimal(20,8)")).as("sx"),
        sum((col("x") * col("x")).cast("decimal(20,8)")).as("sxx"))
      .withColumn("mean_raw", col("sx").cast("double") / col("n"))
      .withColumn("sd_raw",
        sqrt(greatest(col("sxx").cast("double") / col("n") -
          col("mean_raw") * col("mean_raw"), lit(0.0))))
    dims.join(broadcast(stats), Seq("dim"))
      .select(col("dim"), col("n"),
        round(col("mean_raw"), 6).as("mean"),
        round(col("sd_raw"), 6).as("sd"),
        round((col("x") - col("mean_raw")) / nullif(col("sd_raw"), lit(0.0)), 6).as("z"))
      .groupBy(col("dim"))
      .agg(max(col("n")).as("n"), max(col("mean")).as("mean"), max(col("sd")).as("sd"),
        min(col("z")).as("min_z"), max(col("z")).as("max_z"))
      .orderBy(col("dim"))
  }

  val whitenSql: String =
    """WITH e AS (SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |dims AS (
      |  SELECT t.pos AS dim, e.v[t.pos + 1] AS x
      |  FROM e, unnest(range(0, len(e.v))) AS t(pos)),
      |stats AS (
      |  SELECT dim, count(*) AS n,
      |         sum(CAST(x AS DECIMAL(20,8))) AS sx,
      |         sum(CAST(x * x AS DECIMAL(20,8))) AS sxx
      |  FROM dims GROUP BY dim),
      |derived AS (
      |  SELECT dim, n,
      |         CAST(sx AS DOUBLE) / n AS mean_raw,
      |         sqrt(greatest(CAST(sxx AS DOUBLE) / n -
      |              (CAST(sx AS DOUBLE) / n) * (CAST(sx AS DOUBLE) / n), 0.0)) AS sd_raw
      |  FROM stats)
      |SELECT d.dim, max(s.n) AS n,
      |       max(round(s.mean_raw, 6)) AS mean,
      |       max(round(s.sd_raw, 6)) AS sd,
      |       min(round((d.x - s.mean_raw) / nullif(s.sd_raw, 0.0), 6)) AS min_z,
      |       max(round((d.x - s.mean_raw) / nullif(s.sd_raw, 0.0), 6)) AS max_z
      |FROM dims d JOIN derived s ON d.dim = s.dim
      |GROUP BY d.dim ORDER BY d.dim""".stripMargin

  /** Recall-vs-nprobe TUNING CURVE: mean recall@k across the query
    * workload at each probe width — the actual artifact an operator
    * reads to pick nprobe (a single-point audit says where you are; the
    * curve says what another probe buys). Declarative union of the
    * per-nprobe audits; each branch shares the same bounded centroid
    * relation, and all stay k·|Q|-row computations.
    */
  def ivfNprobeSweep(emb: DataFrame, nQueries: Int, k: Int,
                     nlist: Int, nprobes: Seq[Int]): DataFrame =
    nprobes.map { np =>
      ivfRecallAudit(emb, nQueries, k, nlist, np)
        .agg(round(avg(col("recall")), 6).as("mean_recall"),
          min(col("recall")).as("min_recall"))
        .select(lit(np).cast("int").as("nprobe"), col("mean_recall"), col("min_recall"))
    }.reduce(_.unionAll(_)).orderBy("nprobe")

  def ivfNprobeSweepSql(nQueries: Int, k: Int, nlist: Int, nprobes: Seq[Int]): String =
    nprobes.map { np =>
      s"""SELECT CAST($np AS INTEGER) AS nprobe,
         |       round(avg(recall), 6) AS mean_recall,
         |       min(recall) AS min_recall
         |FROM (${ivfRecallAuditSql(nQueries, k, nlist, np)})""".stripMargin
    }.mkString("", "\nUNION ALL\n", "\nORDER BY nprobe")

  /** Inverted-list balance audit: the number IVF serving capacity is
    * actually sized by — a skewed cell bounds worst-case probe latency
    * and single-node list storage regardless of the average. One cell
    * aggregate + a one-row summary: occupied cells, largest/smallest
    * list, and max/mean imbalance (1.0 = perfectly level).
    */
  def ivfBalance(emb: DataFrame, nlist: Int): DataFrame = {
    val e = prepared(emb)
    val sizes = cellAssignments(e, centroids(e, nlist))
      .groupBy(col("cell")).agg(count(lit(1)).as("n"))
    sizes.agg(
      count(lit(1)).as("n_nonempty_cells"),
      sum(col("n")).as("n_vectors"),
      max(col("n")).as("max_cell"),
      min(col("n")).as("min_cell"),
      round(max(col("n")).cast("double") * lit(nlist.toDouble) /
        sum(col("n")).cast("double"), 6).as("imbalance"))
  }

  def ivfBalanceSql(nlist: Int): String =
    s"""WITH ${cellSql(nlist)},
       |sizes AS (SELECT cell, count(*) AS n FROM assigned GROUP BY cell)
       |SELECT count(*) AS n_nonempty_cells,
       |       CAST(sum(n) AS BIGINT) AS n_vectors,
       |       max(n) AS max_cell, min(n) AS min_cell,
       |       round(CAST(max(n) AS DOUBLE) * ${nlist.toDouble}
       |             / CAST(sum(n) AS DOUBLE), 6) AS imbalance
       |FROM sizes""".stripMargin

  // ------------------------------------------------- power-iteration PCA

  /** Top principal direction of the embedding cloud (uncentered second
    * moment XᵀX) by POWER ITERATION — iterative distributed linear
    * algebra with exact cross-engine parity: embeddings quantize to
    * milli-unit integers once, every matvec is an exact integer
    * aggregate (partial-agged in DECIMAL(38)/HUGEINT so corpus size
    * can't overflow), and the per-round renormalization is a power-of-
    * two shift computed from the iterate's bit length — integers end to
    * end, so 4 rounds converge to bit-identical registers in both
    * engines (the pagerank fixed-point device applied to linear
    * algebra). Only the FINAL outputs divide into doubles.
    *
    * Round shape: d = X·w (shuffle on vec_id: one partial-agged
    * groupBy), y = Xᵀ·d (groupBy on the 64 dims), then w' =
    * sign(y)·(|y| >> s) with s = bitlength(max|y|) − 10. The 64-row
    * iterate is collected per round (the bounded-materialization device
    * — the iterate IS the artifact you'd broadcast at scale); the
    * corpus-long frame is persisted once and rescanned 2·rounds times.
    *
    * Output: (dim, direction, rayleigh) — unit-norm direction and the
    * Rayleigh quotient λ = Σd²/Σw² rescaled to data units.
    */
  def powerIterationTop(emb: DataFrame, dim: Int, rounds: Int): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val el = tracked(emb
      .select(col("vec_id"), posexplode(col("embedding").cast("array<double>")))
      .select(col("vec_id"), (col("pos") + 1).cast("long").as("j"),
        round(col("col") * lit(1e3), 0).cast("long").as("xq"))
      .persist())
    var w: Seq[(Long, Long)] = (1 to dim).map(j => (j.toLong, 1L))
    (1 to rounds).foreach { _ =>
      val wDf = broadcast(w.toDF("j", "wq"))
      val d = el.join(wDf, "j")
        .groupBy(col("vec_id"))
        .agg(sum(col("xq") * col("wq")).as("d"))
      val y = el.join(d, "vec_id")
        .groupBy(col("j"))
        .agg(sum((col("xq") * col("d")).cast("decimal(38,0)")).as("y"))
        .collect()
        .map(r => (r.getLong(0), BigInt(r.getDecimal(1).toBigInteger)))
      val maxAbs = y.map(_._2.abs).max
      val s = math.max(maxAbs.bitLength - 10, 0)
      w = y.map { case (j, v) =>
        (j, (v.signum * (v.abs >> s)).toLong)
      }.sortBy(_._1).toSeq
    }
    val wDf = broadcast(w.toDF("j", "wq"))
    val den = w.map(x => x._2 * x._2).sum // Σwq² — exact, ≤ 64·2^20
    val num = el.join(wDf, "j")
      .groupBy(col("vec_id"))
      .agg(sum(col("xq") * col("wq")).as("d"))
      .agg(sum((col("d") * col("d")).cast("decimal(38,0)")).as("num"))
    val norm = math.sqrt(den.toDouble)
    wDf.crossJoin(broadcast(num))
      .select(col("j").as("dim"),
        round(col("wq").cast("double") / lit(norm), 6).as("direction"),
        round(col("num").cast("double") / lit(den.toDouble) / lit(1e6), 4)
          .as("rayleigh"))
      .orderBy("dim")
  }

  /** Oracle mirror of [[powerIterationTop]]: rounds unrolled as chained
    * CTEs, the shift computed per round from bin() bit length, all
    * integer until the two final divisions.
    */
  def powerIterationTopSql(dim: Int, rounds: Int): String = {
    val roundCtes = (1 to rounds).map { r =>
      val prev = if (r == 1) "w0" else s"w${r - 1}"
      s"""d$r AS (
         |  SELECT e.vec_id, CAST(sum(e.xq * w.wq) AS BIGINT) AS d
         |  FROM el e JOIN $prev w USING (j) GROUP BY e.vec_id),
         |y$r AS (
         |  SELECT e.j, sum(e.xq * d.d) AS y
         |  FROM el e JOIN d$r d USING (vec_id) GROUP BY e.j),
         |s$r AS (
         |  SELECT greatest(length(bin(max(abs(y)))) - 10, 0) AS s
         |  FROM y$r),
         |w$r AS (
         |  SELECT y.j,
         |         CAST(CASE WHEN y.y < 0
         |              THEN -((-y.y) // (CAST(1 AS HUGEINT) << s.s))
         |              ELSE y.y // (CAST(1 AS HUGEINT) << s.s) END AS BIGINT) AS wq
         |  FROM y$r y, s$r s)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |el AS (
       |  SELECT vec_id, j, CAST(round(v[CAST(j AS INTEGER)] * 1e3, 0) AS BIGINT) AS xq
       |  FROM e, (SELECT unnest(range(1, ${dim + 1})) AS j) dims),
       |w0 AS (SELECT unnest(range(1, ${dim + 1})) AS j, CAST(1 AS BIGINT) AS wq),
       |$roundCtes,
       |den AS (SELECT CAST(sum(wq * wq) AS BIGINT) AS den FROM w$rounds),
       |fin AS (
       |  SELECT e.vec_id, CAST(sum(e.xq * w.wq) AS BIGINT) AS d
       |  FROM el e JOIN w$rounds w USING (j) GROUP BY e.vec_id),
       |num AS (SELECT sum(d * d) AS num FROM fin)
       |SELECT w.j AS dim,
       |       round(CAST(w.wq AS DOUBLE) / sqrt(CAST(den.den AS DOUBLE)), 6) AS direction,
       |       round(CAST(num.num AS DOUBLE) / CAST(den.den AS DOUBLE) / 1e6, 4) AS rayleigh
       |FROM w$rounds w, den, num
       |ORDER BY dim""".stripMargin
  }

  // ------------------------------------------------------------- MMR rerank

  /** Maximal-marginal-relevance re-ranking of the exact top-`nCand`
    * candidates: greedily select `kSel` results maximizing
    * λ·rel(d) − (1−λ)·max_{s∈S} sim(d, s) — the diversity-aware serving
    * layer on top of [[bruteForceTopK]] (pure relevance top-k returns
    * near-duplicates; MMR spends rank positions on coverage).
    * λ = lambdaNum/lambdaDen.
    *
    * Parity: the 6-dp-rounded cosines are carried as INTEGER micro-units
    * and the score is the exact integer `lambdaNum·rel₆ −
    * (lambdaDen−lambdaNum)·mx₆` — the fixed-point device — so greedy
    * selection involves no float comparison at all; the output score is
    * one exact-integer division, identical in both engines. (A double
    * formulation measurably landed a score on a 6-dp rounding tie at
    * sf0.001 — 0.1943555… — where Spark’s exact-binary HALF_UP and
    * DuckDB’s scaled-double rounding disagree.)
    *
    * Greedy selection runs on the DRIVER over the collected candidate
    * and sim frames — the same bounded-materialization device as the
    * IVF centroid table: both frames are O(queries·nCand²) BY
    * CONSTRUCTION (160 / 3 040 rows here), independent of corpus size.
    * Expressed as chained DataFrames the recursion doubles the logical
    * plan per round (round r reads round r−1 twice) and Catalyst
    * re-analysis alone cost ~8 s at kSel = 5 even with every round
    * persisted. The corpus is touched exactly once, inside
    * bruteForceTopK.
    */
  def mmrRerank(emb: DataFrame, nQueries: Int, nCand: Int, kSel: Int,
                lambdaNum: Int, lambdaDen: Int): DataFrame = {
    val spark = emb.sparkSession
    val oneMinusNum = lambdaDen - lambdaNum
    val cand = tracked(bruteForceTopK(emb, nQueries, nCand)
      .select(col("query_id"), col("vec_id"),
        round(col("cosine") * lit(1e6), 0).cast("long").as("rel6"))
      .persist())
    val e = prepared(emb)
    val cv = cand.join(e, "vec_id")
      .select(col("query_id"), col("vec_id"), col("v"), col("nrm"))
    val sims = cv.as("a")
      .join(cv.as("b"),
        col("a.query_id") === col("b.query_id") && col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.query_id").as("query_id"), col("a.vec_id").as("va"),
        col("b.vec_id").as("vb"),
        round(cosine(col("a.v"), col("a.nrm"), col("b.v"), col("b.nrm")) * lit(1e6), 0)
          .cast("long").as("sim6"))
    val candRows = cand.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val simRows = sims.collect()
      .map(r => ((r.getLong(0), r.getLong(1), r.getLong(2)), r.getLong(3)))
      .toMap
    val scale = lambdaDen * 1e6
    val out = candRows.groupBy(_._1).toSeq.flatMap { case (qid, cs) =>
      val byVec = cs.map(c => c._2 -> c._3).toMap
      var selected = Vector.empty[Long]
      (1 to kSel).map { r =>
        val scored = byVec.filterNot { case (v, _) => selected.contains(v) }
          .map { case (v, rel6) =>
            val scoreI =
              if (r == 1) lambdaDen.toLong * rel6
              else {
                val mx6 = selected.map(s => simRows((qid, v, s))).max
                lambdaNum * rel6 - oneMinusNum * mx6
              }
            (v, scoreI)
          }
        val (v, si) = scored.minBy { case (v, sc) => (-sc, v) }
        selected :+= v
        (qid, v, si / scale, r.toLong)
      }
    }
    import spark.implicits._
    out.toDF("query_id", "vec_id", "score", "round")
      .orderBy("query_id", "round")
  }

  /** Oracle mirror of [[mmrRerank]]: rounds unrolled as chained CTEs
    * (the same device the pagerank oracle uses), candidate/sim CTEs
    * shared by all rounds, all scoring in exact BIGINT micro-units.
    */
  def mmrRerankSql(nQueries: Int, nCand: Int, kSel: Int,
                   lambdaNum: Int, lambdaDen: Int): String = {
    val om = lambdaDen - lambdaNum
    val scale = s"(${lambdaDen} * 1e6)"
    val rounds = (2 to kSel).map { r =>
      s"""sel$r AS (
         |  SELECT * FROM sel${r - 1}
         |  UNION ALL
         |  SELECT query_id, vec_id, score, CAST($r AS BIGINT) AS round FROM (
         |    SELECT c.query_id, c.vec_id,
         |           CAST($lambdaNum * c.rel6 - $om * m.mx6 AS DOUBLE) / $scale AS score,
         |           row_number() OVER (PARTITION BY c.query_id
         |             ORDER BY $lambdaNum * c.rel6 - $om * m.mx6 DESC, c.vec_id) AS rn
         |    FROM cand c
         |    LEFT JOIN sel${r - 1} p ON p.query_id = c.query_id AND p.vec_id = c.vec_id
         |    JOIN (SELECT s.query_id, s.va AS vec_id, max(s.sim6) AS mx6
         |          FROM sims s JOIN sel${r - 1} q ON q.query_id = s.query_id AND q.vec_id = s.vb
         |          GROUP BY s.query_id, s.va) m
         |      ON m.query_id = c.query_id AND m.vec_id = c.vec_id
         |    WHERE p.vec_id IS NULL) x
         |  WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH cand AS (
       |  SELECT query_id, vec_id,
       |         CAST(round(cosine * 1e6, 0) AS BIGINT) AS rel6
       |  FROM (${bruteForceTopKSql(nQueries, nCand)})),
       |e AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
       |         sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS nrm
       |  FROM embeddings),
       |cv AS (
       |  SELECT c.query_id, c.vec_id, e.v, e.nrm
       |  FROM cand c JOIN e ON e.vec_id = c.vec_id),
       |sims AS (
       |  SELECT a.query_id, a.vec_id AS va, b.vec_id AS vb,
       |         CAST(round(round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6) * 1e6, 0) AS BIGINT) AS sim6
       |  FROM cv a JOIN cv b
       |    ON a.query_id = b.query_id AND a.vec_id <> b.vec_id),
       |sel1 AS (
       |  SELECT query_id, vec_id,
       |         CAST($lambdaDen * rel6 AS DOUBLE) / $scale AS score,
       |         CAST(1 AS BIGINT) AS round FROM (
       |    SELECT query_id, vec_id, rel6,
       |           row_number() OVER (PARTITION BY query_id ORDER BY rel6 DESC, vec_id) AS rn
       |    FROM cand) x
       |  WHERE rn = 1),
       |$rounds
       |SELECT query_id, vec_id, score, round
       |FROM sel$kSel ORDER BY query_id, round""".stripMargin
  }

  // --------------------------------------------------- binary quantization

  /** Sign-bit binary quantization: each 64-d vector packs into two
    * BIGINT words (dims 0–31, 32–63; 32 bits per word keeps every
    * 2^j term positive), and similarity is Hamming distance via
    * bit_count(xor) — the 64×-compression serving path modern vector
    * stores call BQ. Top-k per query by (hamming ASC, vec_id).
    *
    * Scale shape: packing is a map-only projection (the packed table is
    * 16 bytes/vector — the artifact you'd persist); queries broadcast;
    * per-query top-k is the WindowGroupLimit shape. The exact float
    * path is only in the recall audit.
    */
  private def packBits(v: org.apache.spark.sql.Column, lo: Int): org.apache.spark.sql.Column =
    (0 until 32).map { j =>
      when(element_at(v, lo + j + 1) >= 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)

  private def packed(emb: DataFrame): DataFrame =
    emb.select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .select(col("vec_id"), packBits(col("v"), 0).as("w1"), packBits(col("v"), 32).as("w2"))

  def binaryHammingTopK(emb: DataFrame, nQueries: Int, k: Int): DataFrame = {
    val p = tracked(packed(emb).persist())
    val q = p.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("w1").as("q1"), col("w2").as("q2"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("hamming"), col("vec_id"))
    p.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        (bit_count(col("w1").bitwiseXOR(col("q1"))) +
          bit_count(col("w2").bitwiseXOR(col("q2")))).cast("long").as("hamming"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .orderBy("query_id", "rank")
  }

  private def packedSql: String = {
    def word(lo: Int) = (0 until 32).map { j =>
      s"CASE WHEN v[${lo + j + 1}] >= 0 THEN ${1L << j} ELSE 0 END"
    }.mkString(" + ")
    s"""packed AS (
       |  SELECT vec_id,
       |         CAST(${word(0)} AS BIGINT) AS w1,
       |         CAST(${word(32)} AS BIGINT) AS w2
       |  FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings))""".stripMargin
  }

  def binaryHammingTopKSql(nQueries: Int, k: Int): String =
    s"""WITH $packedSql,
       |q AS (SELECT vec_id AS query_id, w1 AS q1, w2 AS q2 FROM packed WHERE vec_id < $nQueries),
       |scored AS (
       |  SELECT q.query_id, p.vec_id,
       |         CAST(bit_count(xor(p.w1, q.q1)) + bit_count(xor(p.w2, q.q2)) AS BIGINT) AS hamming
       |  FROM packed p, q WHERE p.vec_id <> q.query_id),
       |ranked AS (
       |  SELECT *, CAST(row_number() OVER
       |    (PARTITION BY query_id ORDER BY hamming, vec_id) AS BIGINT) AS rank
       |  FROM scored)
       |SELECT query_id, vec_id, hamming, rank FROM ranked WHERE rank <= $k
       |ORDER BY query_id, rank""".stripMargin

  /** Recall@k of the binary-Hamming ranking against the exact cosine
    * top-k — the audit that justifies (or rejects) the 64× compression.
    */
  def binaryRecall(emb: DataFrame, nQueries: Int, k: Int): DataFrame = {
    val bq = binaryHammingTopK(emb, nQueries, k)
      .select(col("query_id"), col("vec_id"))
    val exact = bruteForceTopK(emb, nQueries, k)
      .select(col("query_id"), col("vec_id"))
    val hit = exact.join(bq, Seq("query_id", "vec_id"))
      .agg(count(lit(1)).as("n_hits"))
    val nEx = exact.agg(count(lit(1)).as("n_exact"))
    hit.crossJoin(broadcast(nEx))
      .select(col("n_hits"), col("n_exact"),
        round(col("n_hits").cast("double") / col("n_exact").cast("double"), 6)
          .as("recall_at_k"))
  }

  def binaryRecallSql(nQueries: Int, k: Int): String =
    s"""WITH bq AS (
       |  SELECT query_id, vec_id FROM (${binaryHammingTopKSql(nQueries, k)})),
       |ex AS (
       |  SELECT query_id, vec_id FROM (${bruteForceTopKSql(nQueries, k)})),
       |hits AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_hits
       |  FROM ex JOIN bq USING (query_id, vec_id)),
       |nex AS (SELECT count(*) AS n_exact FROM ex)
       |SELECT hits.n_hits, nex.n_exact,
       |       round(CAST(hits.n_hits AS DOUBLE) / CAST(nex.n_exact AS DOUBLE), 6) AS recall_at_k
       |FROM hits, nex""".stripMargin

  // ------------------------------------------------------- centroid drift

  /** Embedding-distribution drift monitor: the centroid of the even-id
    * half vs the odd-id half (stand-ins for "last week" vs "this week"
    * slices), reported as L2 distance and centroid cosine. If the two
    * halves drift apart, the embedding space moved — retrain/reindex.
    *
    * Parity: per-dimension components quantize to micro-units BEFORE
    * summation (exact integer partials, any corpus size via Spark's
    * long sums / DuckDB HUGEINT); the per-dimension squared-difference
    * terms are rounded to 12 dp and summed in DECIMAL (the PSI device)
    * so the final sqrt sees an identical total in both engines.
    *
    * Scale shape: one posexplode partial-agg to 64 dimension rows;
    * everything after is constant-size.
    */
  def centroidDrift(emb: DataFrame): DataFrame = {
    val el = emb
      .select((col("vec_id") % 2 === 0).as("even"),
        posexplode(col("embedding").cast("array<double>")))
      .select(col("even"), col("pos").as("j"),
        round(col("col") * lit(1e6), 0).cast("long").as("xq"))
    val dims = el.groupBy(col("j"))
      .agg(sum(when(col("even"), col("xq"))).as("sa"),
        sum(when(col("even"), 1L).otherwise(0L)).as("na"),
        sum(when(!col("even"), col("xq"))).as("sb"),
        sum(when(!col("even"), 1L).otherwise(0L)).as("nb"))
      .select(col("j"),
        (col("sa").cast("double") / col("na").cast("double")).as("ca"),
        (col("sb").cast("double") / col("nb").cast("double")).as("cb"))
    dims
      .select(col("ca"), col("cb"),
        round((col("ca") - col("cb")) * (col("ca") - col("cb")), 12)
          .cast("decimal(28,12)").as("d2"),
        round(col("ca") * col("cb"), 12).cast("decimal(28,12)").as("ab"),
        round(col("ca") * col("ca"), 12).cast("decimal(28,12)").as("aa"),
        round(col("cb") * col("cb"), 12).cast("decimal(28,12)").as("bb"))
      .agg(count(lit(1)).as("n_dims"),
        sum(col("d2")).as("sd2"), sum(col("ab")).as("sab"),
        sum(col("aa")).as("saa"), sum(col("bb")).as("sbb"))
      .select(col("n_dims"),
        round(sqrt(col("sd2").cast("double")) / lit(1e6), 6).as("l2_distance"),
        round(col("sab").cast("double") /
          nullif(sqrt(col("saa").cast("double")) * sqrt(col("sbb").cast("double")),
            lit(0.0)), 6).as("centroid_cosine"))
  }

  /** Exact k-nearest-neighbor GRAPH over the whole corpus — every vector
    * is an anchor; edges are its `k` most-cosine-similar neighbors
    * (self excluded), rank ties broken on vec_id. The kNN graph is the
    * shared substrate of three curation audits ([[knnHubness]],
    * [[knnLabelAgreement]], [[knnOutliers]]) — like the near-dup cluster
    * table, at 100 TB it is a PERSISTED dataset built once (via IVF/LSH
    * candidate generation, the [[ivfTopK]]/blocked device — each anchor
    * scores |corpus|/nlist · nprobe candidates, not the corpus) and read
    * by every consumer; the exact all-pairs build here is the fixture-
    * scale baseline the approximate build would be recalled against.
    *
    * Plan shape: ANCHORS stream, pre-partitioned on anchor_id, the
    * corpus is broadcast — so the |corpus|² scored rows are born already
    * distributed by anchor and the per-anchor ranking window adds NO
    * exchange (BNLJ preserves the streamed side's partitioning; a
    * single-file corpus would otherwise score every pair in one task).
    * Cosine is the codegen'd [[graft.functions.DotProductD]]; rounded to
    * 6 dp before ranking (+0.0 kills the −0.0 repr hazard).
    */
  def knnGraph(emb: DataFrame, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    val e = prepared(emb)
    val corpus = e.select(col("vec_id").as("neighbor_id"), col("v"), col("nrm"))
    // EXPLICIT width: the anchor frame is tiny in BYTES (AQE would
    // coalesce a bare repartition to one partition) but each anchor row
    // fans out |corpus| scored rows in the BNLJ — partition count must
    // track the downstream work, not the input size
    val width = emb.sparkSession.sparkContext.defaultParallelism
    val anchors = e.select(col("vec_id").as("anchor_id"), col("v").as("qv"), col("nrm").as("qn"))
      .repartition(width, col("anchor_id"))
    val scored = anchors.join(broadcast(corpus), col("neighbor_id") =!= col("anchor_id"))
      .select(col("anchor_id"), col("neighbor_id"),
        (cosine(col("qv"), col("qn"), col("v"), col("nrm")) + lit(0.0)).as("cosine"))
    val w = Window.partitionBy(col("anchor_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .orderBy(col("anchor_id"), col("rank"))
  }

  /** The shared oracle prefix: recomputes the kNN graph from scratch in
    * DuckDB (so gate-checking a rider that READS the persisted graph
    * artifact also proves artifact ≡ from-scratch, the cluster-artifact
    * device).
    */
  private def knnCtes(k: Int): String =
    s"""e AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
       |         sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS nrm
       |  FROM embeddings),
       |scored AS (
       |  SELECT a.vec_id AS anchor_id, b.vec_id AS neighbor_id,
       |         round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6) + 0.0 AS cosine
       |  FROM e a, e b WHERE a.vec_id <> b.vec_id),
       |knn AS (
       |  SELECT anchor_id, neighbor_id, cosine,
       |         CAST(row_number() OVER (PARTITION BY anchor_id
       |                                 ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS rank
       |  FROM scored
       |  QUALIFY rank <= $k)""".stripMargin

  def knnGraphSql(k: Int): String =
    s"""WITH ${knnCtes(k)}
       |SELECT anchor_id, neighbor_id, cosine, rank
       |FROM knn ORDER BY anchor_id, rank""".stripMargin

  // ---------------------------------------- persisted kNN-graph maintenance

  /** Bucket count of the persisted kNN-graph layout — ANCHOR-keyed, so
    * a maintenance merge rewrites only the bucket dirs of anchors whose
    * top-k actually changed. Fixture-sized like the dedup artifacts;
    * thousands at corpus scale. */
  private[graft] val knnBuckets = 16
  private def aBucketCol(c: Column): Column = pmod(c, lit(knnBuckets.toLong)).cast("int")

  /** Materialize a kNN graph as the anchor-bucketed persisted artifact
    * [[maintainKnnGraph]] maintains incrementally. */
  def writeKnnMap(knn: DataFrame, path: String): Unit = {
    knn.select(col("anchor_id"), col("neighbor_id"), col("cosine"), col("rank"))
      .withColumn("abucket", aBucketCol(col("anchor_id")))
      .repartition(knnBuckets, col("abucket"))
      .write.mode("overwrite").partitionBy("abucket").parquet(path)
  }

  /** Merge ONE batch of new vectors into the persisted kNN graph — the
    * incremental-maintenance path for the kNN artifact, the ANN-family
    * twin of [[graft.ops.Dedup.maintainClusterMap]]: instead of
    * re-scoring |corpus|² per refresh, the batch scores against the
    * stored vector table ONCE (broadcast batch, one streamed pass —
    * |B|·|C|, the inherent delta cost), and only anchors whose top-k
    * can change are re-ranked and rewritten.
    *
    * Why merged ≡ from-scratch: for an old anchor, the new top-k over
    * the full corpus is the top-k of (stored top-k ∪ candidates from
    * the batch) — a vector outside the stored top-k can only be
    * displaced further down by additions, and every new vector IS a
    * candidate. Candidates that cannot enter (cosine below the stored
    * k-th, or tied with a larger neighbor id) are filtered before the
    * re-rank, so the rewrite touches only improved anchors' buckets;
    * anchors with fewer than k stored rows admit every candidate (null
    * k-th). New anchors rank their complete candidate set (all stored
    * vectors + the batch itself — the vector table is read AFTER the
    * guarded append, so the one scored pass covers intra-batch pairs
    * too). Re-ranking an untouched anchor in a touched bucket
    * reproduces its rows bit-identically (the ordering is total), so
    * bucket-level rewrite needs no per-anchor bookkeeping.
    *
    * Crash/replay mirrors the cluster map: `_knn_frontier` (advanced
    * LAST) absorbs replayed batch ids; the vector append is the vector
    * table's [[BucketSwap.orderedAppend]] (its own `_ingest_frontier`
    * plus the vec-id ingestion-order contract, failing loudly out of
    * order); a crash between append and graph commit replays cleanly —
    * the scored pass recomputes the same candidates, `distinct` folds
    * rows already merged, and [[BucketSwap.recover]] heals a half-swap.
    * Returns true when merged, false when absorbed. Oracle of
    * `emb_knn_maintenance` = the from-scratch rebuild, so the gate
    * proves incremental ≡ rebuild.
    */
  def maintainKnnGraph(spark: org.apache.spark.sql.SparkSession,
                       vecPath: String, knnPath: String, batch: DataFrame,
                       k: Int, batchId: Long): Boolean = {
    BucketSwap.recover(knnPath, "abucket")
    val (last, _) = BucketSwap.readFrontier(knnPath, "_knn_frontier")
    if (batchId <= last) return false
    Caches.withBatchShuffleWidth(spark) {

    // batch min/max ride the batch materialization as OBSERVED metrics
    // (the separate `.agg().head()` job the append guard used to pay —
    // micro-batch merges are job-count bound)
    val bObs = new Caches.Observed(batch.select(col("vec_id"), col("embedding")),
      min(col("vec_id")).as("mn"), max(col("vec_id")).as("mx"))
    val bNew = prepared(bObs.df).localCheckpoint()

    // guarded vector-table append BEFORE any candidate scan: the scored
    // pass then reads one consistent table covering old + batch
    // (intra-batch pairs included; the candidate relation below is lazy
    // and only executes after this commit)
    BucketSwap.orderedAppend(vecPath, batchId, bObs.row) {
      batch.select(col("vec_id"), col("embedding"))
        .coalesce(1).write.mode("append").parquet(vecPath)
    }

    val stored = prepared(spark.read.parquet(vecPath))
    // ONE streamed pass over the vector table scores every unordered
    // (stored, new) pair exactly once: the ingestion-order contract
    // (batch ids > all stored ids) makes `sid < bid` the unordered-pair
    // enumeration — old×batch pairs always satisfy it, batch×batch pairs
    // satisfy it in exactly one orientation. Both directed candidates
    // then come from the same scored row by projection, so no distinct
    // (a full shuffle of the scored set) is needed; batch replays never
    // reach this point (the frontier guard above returns first).
    val cand = stored.as("s")
      .join(broadcast(bNew.select(col("vec_id").as("bid"),
          col("v").as("bv"), col("nrm").as("bn"))),
        col("s.vec_id") < col("bid"))
      .select(col("s.vec_id").as("sid"), col("bid"),
        (cosine(col("s.v"), col("s.nrm"), col("bv"), col("bn")) + lit(0.0)).as("cosine"))
      // both orientations by explode over ONE scored row — a unionAll of
      // two projections would re-run the scoring pass per branch
      .select(explode(array(
        struct(col("sid").as("anchor_id"), col("bid").as("neighbor_id"), col("cosine")),
        struct(col("bid").as("anchor_id"), col("sid").as("neighbor_id"), col("cosine"))))
        .as("e"))
      .select(col("e.anchor_id"), col("e.neighbor_id"), col("e.cosine"))

    admitAndRewrite(spark, knnPath, cand, k, batchId)
    }
    true
  }

  /** Shared merge tail of the exact and ANN-assisted maintenance paths:
    * admission-filter the scored candidates against the stored k-th,
    * re-rank and rewrite ONLY the touched anchor buckets through the
    * aside-swap, then advance the frontier LAST. */
  private def admitAndRewrite(spark: org.apache.spark.sql.SparkSession,
      knnPath: String, cand: DataFrame, k: Int, batchId: Long): Unit = {
    // ONE graph relation serves both the k-th lookup and the rewrite
    // read (spark.read.parquet re-lists the tree per call)
    val knnRel = spark.read.parquet(knnPath)
    // admit only candidates that can enter their anchor's top-k: above
    // the stored k-th, or tied with a smaller neighbor id; a missing
    // k-th row (new anchor, or an anchor with < k stored rows) admits
    // everything
    val kth = knnRel.filter(col("rank") === lit(k.toLong))
      .select(col("anchor_id"), col("cosine").as("kth_cos"), col("neighbor_id").as("kth_nb"))
    // touched buckets (improved/new anchors' dirs — ≤ knnBuckets ids,
    // never anchor ids) ride the checkpoint job as an OBSERVED
    // collect_set instead of a separate collect job
    val eObs = new Caches.Observed(
      cand.join(kth, Seq("anchor_id"), "left")
        .filter(col("kth_cos").isNull || col("cosine") > col("kth_cos") ||
          (col("cosine") === col("kth_cos") && col("neighbor_id") < col("kth_nb")))
        .select(col("anchor_id"), col("neighbor_id"), col("cosine")),
      collect_set(aBucketCol(col("anchor_id"))).as("touched"))
    val entering = eObs.df.localCheckpoint()

    val touched = eObs.row.getSeq[Int](0).sorted
    if (touched.nonEmpty) {
      val bucketRows = knnRel
        .filter(col("abucket").isin(touched.map(Integer.valueOf): _*))
        .select(col("anchor_id"), col("neighbor_id"), col("cosine"))
      val wA = Window.partitionBy(col("anchor_id"))
        .orderBy(col("cosine").desc, col("neighbor_id"))
      val content = bucketRows.unionByName(entering).distinct()
        .withColumn("rank", row_number().over(wA).cast("long"))
        .filter(col("rank") <= k)
        .withColumn("abucket", aBucketCol(col("anchor_id")))
      content.repartition(math.max(1, touched.size), col("abucket"))
        .write.mode("overwrite").partitionBy("abucket").parquet(s"$knnPath.merge")
      BucketSwap.swap(knnPath, "abucket", touched)
    }
    BucketSwap.writeFrontier(knnPath, "_knn_frontier", batchId, 0L)
  }

  /** End-to-end incremental kNN maintenance exercise: the prefix vector
    * table + kNN artifact (process-cached by the caller, built by
    * [[knnGraph]]) are hardlinked to fresh scratch (safe + near-free:
    * see [[BucketSwap.linkTree]]), then the remaining vectors arrive as
    * two ordered ingest batches merged through [[maintainKnnGraph]].
    * Returns the final persisted graph; the oracle is the from-scratch
    * rebuild over the full table.
    */
  def knnMaintenanceRun(spark: org.apache.spark.sql.SparkSession,
                        emb: DataFrame, k: Int,
                        prefixVec: String, prefixKnn: String): DataFrame = {
    val root = graft.Scratch.dir("graft-knn-maint")
    val vec = s"$root/vectors"
    val map = s"$root/knn"
    BucketSwap.linkTree(prefixVec, vec)
    BucketSwap.linkTree(prefixKnn, map)
    val mx = emb.agg(max(col("vec_id"))).head().getLong(0)
    val cut0 = (mx + 1) * 3 / 5
    val cut1 = (mx + 1) * 4 / 5
    maintainKnnGraph(spark, vec, map,
      emb.filter(col("vec_id") >= cut0 && col("vec_id") < cut1), k, 0L)
    maintainKnnGraph(spark, vec, map,
      emb.filter(col("vec_id") >= cut1), k, 1L)
    spark.read.parquet(map)
      .select(col("anchor_id"), col("neighbor_id"), col("cosine"), col("rank"))
      .orderBy(col("anchor_id"), col("rank"))
  }

  /** Streaming vector ingestion maintaining the persisted kNN graph —
    * the streaming composition of [[maintainKnnGraph]], i.e. the
    * [[graft.ops.Dedup.streamingNovelty]] shape for the ANN family:
    * each micro-batch of new vectors merges into the graph artifact
    * under the same frontier/replay/aside-swap guarantees, so a crashed
    * and restarted stream resumes exactly where the artifacts say
    * (foreachBatch is at-least-once; the replayed batch id is absorbed).
    * AvailableNow + maxFilesPerTrigger=1: one ordered chunk file per
    * micro-batch, mirroring continuous embedding ingest.
    */
  def streamingKnnIngest(spark: org.apache.spark.sql.SparkSession,
                         chunks: String,
                         schema: org.apache.spark.sql.types.StructType,
                         vecPath: String, knnPath: String, k: Int,
                         checkpoint: String): Unit = {
    val stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
      .parquet(chunks).select(col("vec_id"), col("embedding"))
    val q = stream.writeStream.option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        maintainKnnGraph(batch.sparkSession, vecPath, knnPath, batch, k, batchId)
        ()
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** Prefix state for [[knnMaintenanceRun]]: vector table (with its
    * ingest frontier) + from-scratch kNN artifact over vec_id < 3/5 of
    * the id space. */
  def buildKnnMaintPrefix(spark: org.apache.spark.sql.SparkSession,
                          emb: DataFrame, k: Int, root: String): (String, String) = {
    val vec = s"$root/vectors"
    val map = s"$root/knn"
    val mx = emb.agg(max(col("vec_id"))).head().getLong(0)
    val cut0 = (mx + 1) * 3 / 5
    val prefix = emb.filter(col("vec_id") < cut0)
    prefix.select(col("vec_id"), col("embedding"))
      .write.mode("overwrite").parquet(vec)
    BucketSwap.writeFrontier(vec, "_ingest_frontier", -1L, cut0 - 1)
    writeKnnMap(knnGraph(prefix, k), map)
    (vec, map)
  }

  // ------------------------------------------ ANN-assisted kNN maintenance

  /** [[centroids]] with an explicit dense index column `cidx`
    * (0..nlist−1 in the hash order) — the ANN maintenance path
    * partitions its vector layout by this small stable int instead of
    * the centroid's corpus-valued vec_id, so the cell dirs read back
    * with a fixed narrow type. Driver-materialized like [[centroids]]
    * (nlist rows by construction). */
  private def centroidsIdx(e: DataFrame, nlist: Int): DataFrame = {
    val spark = e.sparkSession
    val sel = e
      .orderBy(graft.functions.PortableHash.tokenHash(col("vec_id").cast("string")),
        col("vec_id"))
      .limit(nlist)
      .select(col("vec_id").as("cent_id"), col("v").as("cv"), col("nrm").as("cn"))
    val rows = sel.collect().zipWithIndex.map { case (r, i) =>
      org.apache.spark.sql.Row.fromSeq(r.toSeq :+ i) }
    spark.createDataFrame(java.util.Arrays.asList(rows: _*),
      sel.schema.add("cidx", org.apache.spark.sql.types.IntegerType))
  }

  /** Cell assignment carrying the vector payload: nearest centroid per
    * vector via the [[cellAssignments]] composite-BIGINT argmax key
    * (identical tie-break, `cidx` result) — broadcast of the nlist
    * centroids, map-side partial argmax, no corpus-wide anything else. */
  private def assignCells(e: DataFrame, cent: DataFrame): DataFrame =
    e.join(broadcast(cent), lit(true))
      .select(col("vec_id"), col("v"), col("nrm"), col("cidx"), col("cent_id"),
        cosine(col("cv"), col("cn"), col("v"), col("nrm")).as("ccos"))
      .groupBy(col("vec_id"), col("v"), col("nrm"))
      .agg(max_by(col("cidx"),
        round(col("ccos") * 1000000).cast("long") * 10000000L - col("cent_id")).as("cell"))

  /** Prefix state for the ANN-assisted maintenance exercise: the IVF
    * index artifact a production vector store persists — centroid table
    * (nlist rows), the vector table laid out PARTITIONED BY CELL (so a
    * probe reads only its cells' directories), and the from-scratch kNN
    * graph over vec_id < 4/5 of the id space. */
  def buildIvfKnnMaintPrefix(spark: org.apache.spark.sql.SparkSession,
                             emb: DataFrame, k: Int, nlist: Int,
                             root: String): (String, String, String) = {
    val cents = s"$root/centroids"
    val cells = s"$root/cells"
    val map = s"$root/knn"
    val mx = emb.agg(max(col("vec_id"))).head().getLong(0)
    val cut = (mx + 1) * 4 / 5
    val stored = prepared(emb.filter(col("vec_id") < cut))
    val cent = centroidsIdx(stored, nlist)
    cent.write.mode("overwrite").parquet(cents)
    assignCells(stored, cent)
      .repartition(nlist, col("cell"))
      .write.mode("overwrite").partitionBy("cell").parquet(cells)
    BucketSwap.writeFrontier(cells, "_ingest_frontier", -1L, cut - 1)
    writeKnnMap(knnGraph(emb.filter(col("vec_id") < cut), k), map)
    (cents, cells, map)
  }

  /** The candidate pass of the ANN-assisted merge — the piece directive
    * round-12 #1 is about: the scan of the cell-partitioned vector
    * layout is FILTERED TO THE PROBED CELLS (collected as ≤ nlist ints),
    * so it partition-prunes to those directories instead of streaming
    * the full vector table. `probes` = (bid, bv, bn, cell), one row per
    * (batch vector, probed cell); the ingestion-order contract (batch
    * ids > all stored ids) makes `vec_id < bid` the once-per-unordered-
    * pair enumeration exactly as in the exact path, and both directed
    * candidates come from the one scored row by explode. */
  private[graft] def annCandidates(spark: org.apache.spark.sql.SparkSession,
      cellsPath: String, probes: DataFrame, probedCells: Seq[Int]): DataFrame =
    spark.read.parquet(cellsPath)
      .filter(col("cell").isin(probedCells.map(Integer.valueOf): _*))
      .select(col("vec_id"), col("v"), col("nrm"), col("cell"))
      .join(broadcast(probes), Seq("cell"))
      .filter(col("vec_id") < col("bid"))
      .select(col("vec_id").as("sid"), col("bid"),
        (cosine(col("v"), col("nrm"), col("bv"), col("bn")) + lit(0.0)).as("cosine"))
      .select(explode(array(
        struct(col("sid").as("anchor_id"), col("bid").as("neighbor_id"), col("cosine")),
        struct(col("bid").as("anchor_id"), col("sid").as("neighbor_id"), col("cosine"))))
        .as("e"))
      .select(col("e.anchor_id"), col("e.neighbor_id"), col("e.cosine"))

  /** ANN-assisted incremental kNN maintenance — [[maintainKnnGraph]]
    * with the scored pass BOUNDED BY THE IVF INDEX instead of the full
    * vector table: the batch assigns to cells (|B|·nlist), appends into
    * the cell-partitioned layout, probes its `nprobe` nearest cells,
    * and scores only against vectors IN THOSE CELLS (expected
    * nprobe/nlist of the corpus, partition-pruned I/O) — the shape a
    * 1e9-vector store needs, where the exact path's per-batch |B|·|C|
    * scan is the last brute-force production shape. The merge tail
    * (admission filter, bucket rewrite, frontier) is the shared
    * [[admitAndRewrite]]; crash/replay guarantees are identical. The
    * price is approximation: a true neighbor outside the probed cells
    * is missed — `emb_knn_maintenance_ann` audits exactly that recall
    * against the exact graph, per the ann_*_recall convention.
    */
  def maintainKnnGraphAnn(spark: org.apache.spark.sql.SparkSession,
                          centPath: String, cellsPath: String, knnPath: String,
                          batch: DataFrame, k: Int, nprobe: Int,
                          batchId: Long): Boolean =
    maintainKnnGraphAnn(spark, centLocal(spark, centPath), cellsPath, knnPath,
      batch, k, nprobe, batchId)

  /** The centroid table read once and re-embedded as a LOCAL relation
    * (nlist rows — the centroids() convention; a lazy subtree would
    * re-scan per consumer). The streaming ingest hoists this OUTSIDE
    * its foreachBatch loop: the centroid artifact is immutable for the
    * stream's lifetime, so per-batch re-reads were pure job overhead. */
  private[graft] def centLocal(spark: org.apache.spark.sql.SparkSession,
                               centPath: String): DataFrame = {
    val centRead = spark.read.parquet(centPath)
    spark.createDataFrame(
      java.util.Arrays.asList(centRead.collect(): _*), centRead.schema)
  }

  /** [[maintainKnnGraphAnn]] over a pre-collected centroid relation. */
  private[graft] def maintainKnnGraphAnn(spark: org.apache.spark.sql.SparkSession,
                          cent: DataFrame, cellsPath: String, knnPath: String,
                          batch: DataFrame, k: Int, nprobe: Int,
                          batchId: Long): Boolean = {
    BucketSwap.recover(knnPath, "abucket")
    val (last, _) = BucketSwap.readFrontier(knnPath, "_knn_frontier")
    if (batchId <= last) return false
    Caches.withBatchShuffleWidth(spark) {

    // batch min/max ride the localCheckpoint job as OBSERVED metrics
    val bObs = new Caches.Observed(prepared(batch),
      min(col("vec_id")).as("mn"), max(col("vec_id")).as("mx"))
    val bPrep = bObs.df.localCheckpoint()

    // guarded append of the batch's cell assignments (the vector-table
    // append of the exact path, in the cell-partitioned layout)
    BucketSwap.orderedAppend(cellsPath, batchId, bObs.row) {
      assignCells(bPrep, cent)
        .coalesce(1).write.mode("append").partitionBy("cell").parquet(cellsPath)
    }

    // probe: the nprobe nearest cells per batch vector (probeCells'
    // tie-break — qcos desc, cent_id), |B|·nprobe rows; the probed cell
    // ids (≤ nlist ints by construction — never batch-grained) ride the
    // checkpoint job as an OBSERVED collect_set
    val probeW = Window.partitionBy(col("bid"))
      .orderBy(col("qcos").desc, col("cent_id"))
    val pObs = new Caches.Observed(
      bPrep.join(broadcast(cent), lit(true))
        .select(col("vec_id").as("bid"), col("v").as("bv"), col("nrm").as("bn"),
          col("cidx"), col("cent_id"),
          cosine(col("cv"), col("cn"), col("v"), col("nrm")).as("qcos"))
        .withColumn("pr", row_number().over(probeW))
        .filter(col("pr") <= nprobe)
        .select(col("bid"), col("bv"), col("bn"), col("cidx").as("cell")),
      collect_set(col("cell")).as("probed"))
    val probes = pObs.df.localCheckpoint()
    val probed = pObs.row.getSeq[Int](0).sorted
    admitAndRewrite(spark, knnPath,
      annCandidates(spark, cellsPath, probes, probed), k, batchId)
    }
    true
  }

  /** End-to-end ANN-assisted maintenance exercise + recall audit: stage
    * the IVF prefix artifacts via hardlinks, merge the last 1/5 of the
    * id space through [[maintainKnnGraphAnn]] as one batch, then score
    * the maintained graph's per-anchor recall@k against the exact
    * from-scratch kNN graph (the ann_*_recall audit shape). The oracle
    * replays the same deterministic construction in SQL, so the gate
    * proves the ANN merge END-TO-END — centroid choice, cell argmax,
    * probe set, pruned candidate enumeration, merge — not just the
    * audit arithmetic.
    */
  def annMaintenanceRun(spark: org.apache.spark.sql.SparkSession,
                        emb: DataFrame, k: Int, nprobe: Int,
                        centPath: String, prefixCells: String,
                        prefixKnn: String): DataFrame = {
    val root = graft.Scratch.dir("graft-ann-maint")
    val cells = s"$root/cells"
    val map = s"$root/knn"
    BucketSwap.linkTree(prefixCells, cells)
    BucketSwap.linkTree(prefixKnn, map)
    val mx = emb.agg(max(col("vec_id"))).head().getLong(0)
    val cut = (mx + 1) * 4 / 5
    maintainKnnGraphAnn(spark, centPath, cells, map,
      emb.filter(col("vec_id") >= cut), k, nprobe, 0L)
    val approx = spark.read.parquet(map)
      .select(col("anchor_id"), col("neighbor_id")).withColumn("hit", lit(1))
    knnGraph(emb, k).select(col("anchor_id"), col("neighbor_id"))
      .join(approx, Seq("anchor_id", "neighbor_id"), "left")
      .groupBy(col("anchor_id"))
      .agg(count(col("hit")).as("n_hits"))
      .select(col("anchor_id"), col("n_hits"),
        round(col("n_hits").cast("double") / k, 6).as("recall"))
      .orderBy("anchor_id")
  }

  /** Streaming vector ingestion over the ANN-assisted maintenance path —
    * [[streamingKnnIngest]] with [[maintainKnnGraphAnn]] as the per-batch
    * merge: each micro-batch assigns to the persisted IVF index's cells,
    * probes, scores only the probed partitions, and merges under the
    * same `_knn_frontier` replay/crash guarantees. AvailableNow +
    * maxFilesPerTrigger=1: one ordered chunk file per micro-batch.
    */
  def streamingAnnIngest(spark: org.apache.spark.sql.SparkSession,
                         chunks: String,
                         schema: org.apache.spark.sql.types.StructType,
                         centPath: String, cellsPath: String, knnPath: String,
                         k: Int, nprobe: Int, checkpoint: String): Unit = {
    val stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
      .parquet(chunks).select(col("vec_id"), col("embedding"))
    // the centroid artifact is immutable for the stream's lifetime:
    // read + collect ONCE here, not once per micro-batch (the local
    // relation is re-minted per batch from the collected rows — zero
    // jobs — because the batch body runs in the stream's session clone)
    val centRead = spark.read.parquet(centPath)
    val centRows = java.util.Arrays.asList(centRead.collect(): _*)
    val centSchema = centRead.schema
    val q = stream.writeStream.option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val cent = batch.sparkSession.createDataFrame(centRows, centSchema)
        maintainKnnGraphAnn(batch.sparkSession, cent, cellsPath, knnPath,
          batch, k, nprobe, batchId)
        ()
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** Oracle for `emb_knn_stream_ann`: the TWO sequential ANN merges
    * unrolled — batch 1 = [4/5, 9/10) of the id space, batch 2 the
    * rest. Sequential top-k merges equal ONE top-k over the union of
    * the stored graph and both candidate sets (a row outside an
    * intermediate top-k can never re-enter after more additions — the
    * exact path's argument), and batch 2's candidates read the cell
    * layout AFTER batch 1's append, so its probed cells include batch-1
    * rows. Each unordered pair appears in exactly one batch's candidate
    * set (the one owning the larger id), so no dedup is needed.
    */
  def annStreamSql(k: Int, nlist: Int, nprobe: Int): String =
    s"""WITH e AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
       |         sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS nrm
       |  FROM embeddings),
       |cut AS (SELECT ((max(vec_id) + 1) * 4) // 5 AS c,
       |               ((max(vec_id) + 1) * 9) // 10 AS m FROM e),
       |stored AS (SELECT e.* FROM e, cut WHERE vec_id < c),
       |b1 AS (SELECT e.* FROM e, cut WHERE vec_id >= c AND vec_id < m),
       |b2 AS (SELECT e.* FROM e, cut WHERE vec_id >= m),
       |stored_scored AS (
       |  SELECT a.vec_id AS anchor_id, b.vec_id AS neighbor_id,
       |         round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6) + 0.0 AS cosine
       |  FROM stored a, stored b WHERE a.vec_id <> b.vec_id),
       |knn_stored AS (
       |  SELECT anchor_id, neighbor_id, cosine,
       |         row_number() OVER (PARTITION BY anchor_id
       |                            ORDER BY cosine DESC, neighbor_id) AS rank
       |  FROM stored_scored QUALIFY rank <= $k),
       |cent AS (
       |  SELECT cent_id, cv, cn,
       |         CAST(row_number() OVER (ORDER BY h, cent_id) - 1 AS INT) AS cidx
       |  FROM (SELECT vec_id AS cent_id, v AS cv, nrm AS cn,
       |               ${graft.functions.PortableHash.tokenHashSql("CAST(vec_id AS VARCHAR)")} AS h
       |        FROM stored ORDER BY h, vec_id LIMIT $nlist)),
       |assigned AS (
       |  SELECT vec_id, v, nrm,
       |         arg_max(cidx, CAST(round(list_dot_product(cv, v) / (cn * nrm), 6) * 1000000 AS BIGINT) * 10000000 - cent_id) AS cell
       |  FROM stored, cent GROUP BY vec_id, v, nrm),
       |b1a AS (
       |  SELECT vec_id, v, nrm,
       |         arg_max(cidx, CAST(round(list_dot_product(cv, v) / (cn * nrm), 6) * 1000000 AS BIGINT) * 10000000 - cent_id) AS cell
       |  FROM b1, cent GROUP BY vec_id, v, nrm),
       |b2a AS (
       |  SELECT vec_id, v, nrm,
       |         arg_max(cidx, CAST(round(list_dot_product(cv, v) / (cn * nrm), 6) * 1000000 AS BIGINT) * 10000000 - cent_id) AS cell
       |  FROM b2, cent GROUP BY vec_id, v, nrm),
       |cells1 AS (SELECT * FROM assigned UNION ALL SELECT * FROM b1a),
       |cells2 AS (SELECT * FROM cells1 UNION ALL SELECT * FROM b2a),
       |probes1 AS (
       |  SELECT vec_id AS bid, v AS bv, nrm AS bn, cidx AS cell
       |  FROM (
       |    SELECT b.vec_id, b.v, b.nrm, cent.cidx,
       |           row_number() OVER (PARTITION BY b.vec_id
       |             ORDER BY round(list_dot_product(cv, b.v) / (cn * b.nrm), 6) DESC,
       |                      cent_id) AS pr
       |    FROM b1 b, cent) WHERE pr <= $nprobe),
       |probes2 AS (
       |  SELECT vec_id AS bid, v AS bv, nrm AS bn, cidx AS cell
       |  FROM (
       |    SELECT b.vec_id, b.v, b.nrm, cent.cidx,
       |           row_number() OVER (PARTITION BY b.vec_id
       |             ORDER BY round(list_dot_product(cv, b.v) / (cn * b.nrm), 6) DESC,
       |                      cent_id) AS pr
       |    FROM b2 b, cent) WHERE pr <= $nprobe),
       |cand AS (
       |  SELECT s.vec_id AS sid, p.bid,
       |         round(list_dot_product(s.v, p.bv) / (s.nrm * p.bn), 6) + 0.0 AS cosine
       |  FROM cells1 s JOIN probes1 p ON s.cell = p.cell AND s.vec_id < p.bid
       |  UNION ALL
       |  SELECT s.vec_id AS sid, p.bid,
       |         round(list_dot_product(s.v, p.bv) / (s.nrm * p.bn), 6) + 0.0 AS cosine
       |  FROM cells2 s JOIN probes2 p ON s.cell = p.cell AND s.vec_id < p.bid),
       |oriented AS (
       |  SELECT sid AS anchor_id, bid AS neighbor_id, cosine FROM cand
       |  UNION ALL
       |  SELECT bid AS anchor_id, sid AS neighbor_id, cosine FROM cand),
       |unioned AS (
       |  SELECT anchor_id, neighbor_id, cosine FROM knn_stored
       |  UNION ALL SELECT anchor_id, neighbor_id, cosine FROM oriented)
       |SELECT anchor_id, neighbor_id, cosine,
       |       row_number() OVER (PARTITION BY anchor_id
       |                          ORDER BY cosine DESC, neighbor_id) AS rank
       |FROM unioned QUALIFY rank <= $k
       |ORDER BY anchor_id, rank""".stripMargin

  /** Oracle for `emb_knn_maintenance_ann`: the whole ANN merge unrolled
    * deterministically — stored/batch split at 4/5 of the id space,
    * hash-min centroids over the STORED table (the persisted index is
    * refreshed only on rebuild), composite-key cell argmax, nprobe
    * probe set, candidates only from probed cells (`sid < bid` once per
    * unordered pair, both orientations), merged top-k over stored graph
    * ∪ candidates (the admission filter is a pure optimization: rows
    * below the stored k-th can never crack the merged top-k, so the
    * oracle may skip it), then per-anchor recall@k vs the exact graph.
    */
  def annMaintenanceSql(k: Int, nlist: Int, nprobe: Int): String =
    s"""WITH e AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
       |         sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS nrm
       |  FROM embeddings),
       |cut AS (SELECT ((max(vec_id) + 1) * 4) // 5 AS c FROM e),
       |stored AS (SELECT e.* FROM e, cut WHERE vec_id < c),
       |batch AS (SELECT e.* FROM e, cut WHERE vec_id >= c),
       |stored_scored AS (
       |  SELECT a.vec_id AS anchor_id, b.vec_id AS neighbor_id,
       |         round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6) + 0.0 AS cosine
       |  FROM stored a, stored b WHERE a.vec_id <> b.vec_id),
       |knn_stored AS (
       |  SELECT anchor_id, neighbor_id, cosine,
       |         row_number() OVER (PARTITION BY anchor_id
       |                            ORDER BY cosine DESC, neighbor_id) AS rank
       |  FROM stored_scored QUALIFY rank <= $k),
       |cent AS (
       |  SELECT cent_id, cv, cn,
       |         CAST(row_number() OVER (ORDER BY h, cent_id) - 1 AS INT) AS cidx
       |  FROM (SELECT vec_id AS cent_id, v AS cv, nrm AS cn,
       |               ${graft.functions.PortableHash.tokenHashSql("CAST(vec_id AS VARCHAR)")} AS h
       |        FROM stored ORDER BY h, vec_id LIMIT $nlist)),
       |assigned AS (
       |  SELECT vec_id, v, nrm,
       |         arg_max(cidx, CAST(round(list_dot_product(cv, v) / (cn * nrm), 6) * 1000000 AS BIGINT) * 10000000 - cent_id) AS cell
       |  FROM stored, cent GROUP BY vec_id, v, nrm),
       |bassigned AS (
       |  SELECT vec_id, v, nrm,
       |         arg_max(cidx, CAST(round(list_dot_product(cv, v) / (cn * nrm), 6) * 1000000 AS BIGINT) * 10000000 - cent_id) AS cell
       |  FROM batch, cent GROUP BY vec_id, v, nrm),
       |cellrows AS (
       |  SELECT * FROM assigned UNION ALL SELECT * FROM bassigned),
       |probes AS (
       |  SELECT vec_id AS bid, v AS bv, nrm AS bn, cidx AS cell
       |  FROM (
       |    SELECT b.vec_id, b.v, b.nrm, cent.cidx,
       |           row_number() OVER (PARTITION BY b.vec_id
       |             ORDER BY round(list_dot_product(cv, b.v) / (cn * b.nrm), 6) DESC,
       |                      cent_id) AS pr
       |    FROM batch b, cent) WHERE pr <= $nprobe),
       |cand AS (
       |  SELECT s.vec_id AS sid, p.bid,
       |         round(list_dot_product(s.v, p.bv) / (s.nrm * p.bn), 6) + 0.0 AS cosine
       |  FROM cellrows s JOIN probes p ON s.cell = p.cell AND s.vec_id < p.bid),
       |oriented AS (
       |  SELECT sid AS anchor_id, bid AS neighbor_id, cosine FROM cand
       |  UNION ALL
       |  SELECT bid AS anchor_id, sid AS neighbor_id, cosine FROM cand),
       |unioned AS (
       |  SELECT anchor_id, neighbor_id, cosine FROM knn_stored
       |  UNION ALL SELECT anchor_id, neighbor_id, cosine FROM oriented),
       |merged AS (
       |  SELECT anchor_id, neighbor_id,
       |         row_number() OVER (PARTITION BY anchor_id
       |                            ORDER BY cosine DESC, neighbor_id) AS rank
       |  FROM unioned QUALIFY rank <= $k),
       |exact_scored AS (
       |  SELECT a.vec_id AS anchor_id, b.vec_id AS neighbor_id,
       |         round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6) + 0.0 AS cosine
       |  FROM e a, e b WHERE a.vec_id <> b.vec_id),
       |exact AS (
       |  SELECT anchor_id, neighbor_id,
       |         row_number() OVER (PARTITION BY anchor_id
       |                            ORDER BY cosine DESC, neighbor_id) AS rank
       |  FROM exact_scored QUALIFY rank <= $k)
       |SELECT x.anchor_id, CAST(count(m.anchor_id) AS BIGINT) AS n_hits,
       |       round(CAST(count(m.anchor_id) AS DOUBLE) / $k, 6) AS recall
       |FROM exact x LEFT JOIN merged m
       |  ON m.anchor_id = x.anchor_id AND m.neighbor_id = x.neighbor_id
       |GROUP BY x.anchor_id ORDER BY x.anchor_id""".stripMargin

  /** Hubness census — the k-occurrence distribution of the kNN graph:
    * how many anchors' top-k lists each vector appears in. High-dim
    * embedding spaces concentrate: a few "hub" vectors appear in
    * thousands of lists (they dominate retrieval results and poison
    * contrastive sampling) while "anti-hubs" (occurrence 0) are
    * unreachable. One aggregation over the persisted graph + an
    * anti-hub left join against the corpus ids; `is_hub` uses the
    * standard 2k cut.
    */
  def knnHubness(knn: DataFrame, emb: DataFrame, k: Int): DataFrame = {
    val occ = knn.groupBy(col("neighbor_id")).agg(count(lit(1)).as("o"))
    val perVec = emb.select(col("vec_id"))
      .join(occ, col("vec_id") === col("neighbor_id"), "left")
      .select(coalesce(col("o"), lit(0L)).as("k_occurrence"))
    perVec.groupBy(col("k_occurrence"))
      .agg(count(lit(1)).as("n_vectors"))
      .withColumn("is_hub", col("k_occurrence") >= lit(2L * k))
      .orderBy(col("k_occurrence"))
  }

  def knnHubnessSql(k: Int): String =
    s"""WITH ${knnCtes(k)},
       |occ AS (SELECT neighbor_id, count(*) AS o FROM knn GROUP BY 1),
       |per_vec AS (
       |  SELECT coalesce(occ.o, 0) AS k_occurrence
       |  FROM e LEFT JOIN occ ON e.vec_id = occ.neighbor_id)
       |SELECT k_occurrence, CAST(count(*) AS BIGINT) AS n_vectors,
       |       k_occurrence >= ${2 * k} AS is_hub
       |FROM per_vec GROUP BY 1 ORDER BY k_occurrence""".stripMargin

  /** kNN label-agreement audit — per anchor, how many of its k nearest
    * neighbors share its label; aggregated per label. Low agreement_ppm
    * for one label = that class is diffuse or mislabeled; `n_suspect`
    * (anchors with ZERO same-label neighbors) is the classic
    * confident-learning noisy-label candidate count a curation pipeline
    * reviews before training. Two broadcast label joins + two
    * aggregations over the persisted graph.
    */
  def knnLabelAgreement(knn: DataFrame, emb: DataFrame, k: Int): DataFrame = {
    val lab = emb.select(col("vec_id"), col("label"))
    val perAnchor = knn
      .join(broadcast(lab.select(col("vec_id").as("anchor_id"), col("label").as("a_label"))),
        Seq("anchor_id"))
      .join(broadcast(lab.select(col("vec_id").as("neighbor_id"), col("label").as("n_label"))),
        Seq("neighbor_id"))
      .groupBy(col("anchor_id"), col("a_label").as("label"))
      .agg(sum(when(col("a_label") === col("n_label"), 1L).otherwise(0L)).as("n_agree"))
    perAnchor.groupBy(col("label"))
      .agg(count(lit(1)).as("n_vectors"),
        sum(col("n_agree")).as("sum_agree"),
        sum(when(col("n_agree") === 0L, 1L).otherwise(0L)).as("n_suspect"))
      .withColumn("agree_ppm",
        expr(s"CAST((1000000 * sum_agree) DIV (n_vectors * $k) AS BIGINT)"))
      .select(col("label"), col("n_vectors"), col("sum_agree"),
        col("agree_ppm"), col("n_suspect"))
      .orderBy(col("label"))
  }

  def knnLabelAgreementSql(k: Int): String =
    s"""WITH ${knnCtes(k)},
       |lab AS (SELECT vec_id, label FROM embeddings),
       |per_anchor AS (
       |  SELECT knn.anchor_id, la.label,
       |         CAST(sum(CASE WHEN la.label = lb.label THEN 1 ELSE 0 END) AS BIGINT) AS n_agree
       |  FROM knn
       |  JOIN lab la ON knn.anchor_id = la.vec_id
       |  JOIN lab lb ON knn.neighbor_id = lb.vec_id
       |  GROUP BY 1, 2)
       |SELECT label, CAST(count(*) AS BIGINT) AS n_vectors,
       |       CAST(sum(n_agree) AS BIGINT) AS sum_agree,
       |       CAST((1000000 * CAST(sum(n_agree) AS BIGINT)) // (count(*) * $k) AS BIGINT) AS agree_ppm,
       |       CAST(sum(CASE WHEN n_agree = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_suspect
       |FROM per_anchor GROUP BY label ORDER BY label""".stripMargin

  /** Isolation outliers — the `topN` vectors whose k-th neighbor is
    * FARTHEST (smallest rank-k cosine): the k-distance outlier score a
    * curation pipeline uses to surface corrupt/off-distribution
    * embeddings before training. One filter + one top-N over the
    * persisted graph (the rank=k row per anchor already carries the
    * score); the top-N is sort+limit, which Spark plans as
    * TakeOrderedAndProject (per-partition partial top-N, no global
    * sort) — the rank column is minted on the N survivors.
    */
  def knnOutliers(knn: DataFrame, k: Int, topN: Int): DataFrame = {
    val top = knn.filter(col("rank") === k)
      .select(col("anchor_id"), col("cosine").as("kth_cosine"))
      .orderBy(col("kth_cosine").asc, col("anchor_id"))
      .limit(topN)
    // partitionless window is fine HERE: it ranks the ≤topN survivors
    // of the LIMIT above, never the corpus (PlanShapeSpec pins the
    // device convention for data-grained frames)
    val w = Window.orderBy(col("kth_cosine").asc, col("anchor_id"))
    top.withColumn("isolation_rank", row_number().over(w).cast("long"))
      .orderBy(col("isolation_rank"))
  }

  def knnOutliersSql(k: Int, topN: Int): String =
    s"""WITH ${knnCtes(k)},
       |kth AS (SELECT anchor_id, cosine AS kth_cosine FROM knn WHERE rank = $k)
       |SELECT anchor_id, kth_cosine,
       |       CAST(row_number() OVER (ORDER BY kth_cosine ASC, anchor_id) AS BIGINT) AS isolation_rank
       |FROM kth QUALIFY isolation_rank <= $topN ORDER BY isolation_rank""".stripMargin

  /** Semantic deduplication (the SemDeDup shape): connected components
    * over the kNN graph's above-threshold cosine edges — groups of
    * embeddings similar enough that a curation pipeline keeps one
    * representative per group. Where the MinHash family catches LEXICAL
    * near-dups, this catches paraphrases/re-encodings that share no
    * n-grams. Thresholding the kNN graph instead of all pairs is the
    * standard scale approximation (degree ≤ k by construction, so the
    * edge set is |corpus|·k-bounded and CC components cannot blow up
    * through hub vectors); the CC itself is the star-contraction loop
    * shared with the MinHash clusters ([[graft.ops.Dedup]]'s
    * durable-checkpoint cadence). Only clustered vectors appear
    * (unclustered = implicit singletons), mirroring `dedup_clusters`.
    */
  def semanticClustersFrom(knn: DataFrame, threshold: Double): DataFrame =
    Dedup.connectedComponentsStars(
        knn.filter(col("cosine") >= threshold)
          .select(least(col("anchor_id"), col("neighbor_id")).as("doc_a"),
            greatest(col("anchor_id"), col("neighbor_id")).as("doc_b"))
          .distinct())
      .select(col("doc_id").as("vec_id"), col("cluster"), col("cluster_size"))
      .orderBy(col("vec_id"))

  /** From-scratch overload (the library path when no artifact exists). */
  def semanticClusters(emb: DataFrame, k: Int, threshold: Double): DataFrame =
    semanticClustersFrom(knnGraph(emb, k), threshold)

  def semanticClustersSql(k: Int, threshold: Double): String =
    s"""WITH RECURSIVE ${knnCtes(k)},
       |sp AS (
       |  SELECT DISTINCT least(anchor_id, neighbor_id) AS doc_a,
       |         greatest(anchor_id, neighbor_id) AS doc_b
       |  FROM knn WHERE cosine >= $threshold),
       |edges AS (SELECT doc_a AS src, doc_b AS dst FROM sp
       |          UNION ALL SELECT doc_b, doc_a FROM sp),
       |reach(id, label) AS (
       |  SELECT src, src FROM edges
       |  UNION
       |  SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.id),
       |comp AS (SELECT id, min(label) AS cluster FROM reach GROUP BY id),
       |sizes AS (SELECT cluster, count(*) AS cluster_size FROM comp GROUP BY cluster)
       |SELECT c.id AS vec_id, c.cluster, s.cluster_size
       |FROM comp c JOIN sizes s ON c.cluster = s.cluster
       |ORDER BY vec_id""".stripMargin

  /** Adjusted Rand Index between a clustering assignment and the
    * fixture's generative `label` column, in EXACT integer arithmetic —
    * the external-validity audit a curation pipeline runs before
    * trusting semantic clusters for dedup or stratified splits.
    *
    * Every statistic is a pair count: Sij = Σ C(n_ij,2) over the
    * (cluster, label) contingency cells, Sa/Sb the per-side analogues,
    * and ARI = (C2n·Sij − Sa·Sb) / (C2n·(Sa+Sb)/2 − Sa·Sb) — a ratio of
    * integers once both sides are doubled. The products exceed BIGINT
    * at corpus scale, so Spark carries them in DECIMAL(38,0) and the
    * oracle in HUGEINT (the HITS normalization device); the output is
    * truncating-ppm via the +K·den floor-shift identity (ARI can be
    * negative). den ≥ 0 always (max ≥ expected for Sa,Sb ∈ [0, C2n]).
    *
    * Scale shape: one groupBy over the |corpus|-row assignment frame,
    * then folds over the (clusters × labels)-bounded contingency —
    * no pairwise work anywhere; unclustered vectors complete to
    * singletons via the same LEFT JOIN + coalesce as the dedup riders.
    */
  def clusterAriFrom(clusters: DataFrame, emb: DataFrame): DataFrame = {
    val assign = emb.select(col("vec_id"), col("label").cast("long").as("label"))
      .join(clusters.select(col("vec_id"), col("cluster")), Seq("vec_id"), "left")
      .select(coalesce(col("cluster"), col("vec_id")).as("cl"), col("label"))
    val cont = assign.groupBy(col("cl"), col("label")).agg(count(lit(1)).as("nij"))
    val joint = cont.agg(sum(col("nij")).as("n"),
      sum(expr("nij * (nij - 1) div 2")).as("sij"))
    val rowsS = cont.groupBy(col("cl")).agg(sum(col("nij")).as("na"))
      .agg(count(lit(1)).as("n_clusters"), sum(expr("na * (na - 1) div 2")).as("sa"))
    val colsS = cont.groupBy(col("label")).agg(sum(col("nij")).as("nb"))
      .agg(count(lit(1)).as("n_labels"), sum(expr("nb * (nb - 1) div 2")).as("sb"))
    joint.crossJoin(broadcast(rowsS)).crossJoin(broadcast(colsS))
      .withColumn("c2n", expr("n * (n - 1) div 2"))
      .withColumn("num2", expr(
        "CAST(2 AS DECIMAL(38,0)) * c2n * sij - CAST(2 AS DECIMAL(38,0)) * sa * sb"))
      .withColumn("den2", expr(
        "CAST(c2n AS DECIMAL(38,0)) * (sa + sb) - CAST(2 AS DECIMAL(38,0)) * sa * sb"))
      .select(col("n"), col("n_clusters"), col("n_labels"),
        col("sij").as("pairs_joint"), col("sa").as("pairs_clusters"),
        col("sb").as("pairs_labels"),
        expr("""CASE WHEN den2 = 0 THEN NULL
               |     ELSE CAST((CAST(1000000 AS DECIMAL(38,0)) * num2
               |                + CAST(10000000 AS DECIMAL(38,0)) * den2) DIV den2
               |               AS BIGINT) - 10000000 END""".stripMargin)
          .as("ari_ppm"))
  }

  /** Production path: semantic clusters from the persisted kNN artifact
    * ([[semanticClustersFrom]]) scored against the generative labels. */
  def clusterAriAudit(knn: DataFrame, emb: DataFrame, threshold: Double): DataFrame =
    clusterAriFrom(semanticClustersFrom(knn, threshold), emb)

  /** Cosine→precision calibration curve over the kNN graph — the
    * threshold-selection table behind every SemDeDup / ANN-dedup cut:
    * per 0.05-wide cosine band, what fraction of (unordered, distinct)
    * neighbor pairs share a generative label. The band where precision
    * collapses IS the dedup threshold; picking 0.45 by folklore is what
    * this curve replaces.
    *
    * Exact: bands are ⌊20·cosine⌋ on the 6-dp-rounded gate-proven
    * cosine (floor on doubles is identical both engines), counts and
    * the precision ppm are integers. Pairs dedupe to unordered via
    * least/greatest + DISTINCT, so a mutual kNN edge counts once.
    *
    * Scale shape: kNN-artifact rider (|corpus|·k rows, never all
    * pairs); labels broadcast in; output is band-bounded (≤ 40 rows).
    */
  def cosinePrecisionCurve(knn: DataFrame, emb: DataFrame): DataFrame = {
    val labels = emb.select(col("vec_id"), col("label").cast("long").as("lbl"))
    val pairs = knn.select(
        least(col("anchor_id"), col("neighbor_id")).as("a"),
        greatest(col("anchor_id"), col("neighbor_id")).as("b"),
        col("cosine")).distinct()
    pairs
      .join(broadcast(labels.withColumnRenamed("vec_id", "a")
        .withColumnRenamed("lbl", "la")), "a")
      .join(broadcast(labels.withColumnRenamed("vec_id", "b")
        .withColumnRenamed("lbl", "lb")), "b")
      .withColumn("band", floor(col("cosine") * lit(20.0)).cast("long"))
      .groupBy(col("band"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(when(col("la") === col("lb"), 1L).otherwise(0L)).as("n_same_label"))
      .select(col("band"),
        round(col("band").cast("double") / lit(20.0), 2).as("band_lo"),
        col("n_pairs"), col("n_same_label"),
        expr("CAST((1000000 * n_same_label) DIV n_pairs AS BIGINT)")
          .as("precision_ppm"))
      .orderBy("band")
  }

  /** Oracle mirror of [[cosinePrecisionCurve]]: kNN chain from scratch
    * (rider rule), same unordered-pair dedupe, banding and ppm. */
  def cosinePrecisionCurveSql(k: Int): String =
    s"""WITH ${knnCtes(k)},
       |pairs AS (
       |  SELECT DISTINCT least(anchor_id, neighbor_id) AS a,
       |         greatest(anchor_id, neighbor_id) AS b, cosine
       |  FROM knn),
       |lab AS (SELECT vec_id, CAST(label AS BIGINT) AS lbl FROM embeddings),
       |j AS (
       |  SELECT CAST(floor(p.cosine * 20.0) AS BIGINT) AS band,
       |         CASE WHEN la.lbl = lb.lbl THEN 1 ELSE 0 END AS same_l
       |  FROM pairs p JOIN lab la ON la.vec_id = p.a
       |               JOIN lab lb ON lb.vec_id = p.b)
       |SELECT band, round(CAST(band AS DOUBLE) / 20.0, 2) AS band_lo,
       |       count(*) AS n_pairs,
       |       CAST(sum(same_l) AS BIGINT) AS n_same_label,
       |       CAST((1000000 * sum(same_l)) // count(*) AS BIGINT) AS precision_ppm
       |FROM j GROUP BY band ORDER BY band""".stripMargin

  /** Oracle mirror of [[clusterAriAudit]]: the kNN graph + recursive CC
    * chain recomputed from scratch (artifact ≡ from-scratch, as for all
    * riders), then the same contingency folds with HUGEINT products and
    * the identical floor-shift ppm. */
  def clusterAriAuditSql(k: Int, threshold: Double): String =
    s"""WITH RECURSIVE ${knnCtes(k)},
       |sp AS (
       |  SELECT DISTINCT least(anchor_id, neighbor_id) AS doc_a,
       |         greatest(anchor_id, neighbor_id) AS doc_b
       |  FROM knn WHERE cosine >= $threshold),
       |edges AS (SELECT doc_a AS src, doc_b AS dst FROM sp
       |          UNION ALL SELECT doc_b, doc_a FROM sp),
       |reach(id, label) AS (
       |  SELECT src, src FROM edges
       |  UNION
       |  SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.id),
       |comp AS (SELECT id, min(label) AS cluster FROM reach GROUP BY id),
       |assign AS (
       |  SELECT coalesce(c.cluster, e.vec_id) AS cl, CAST(e.label AS BIGINT) AS label
       |  FROM embeddings e LEFT JOIN comp c ON c.id = e.vec_id),
       |cont AS (SELECT cl, label, count(*) AS nij FROM assign GROUP BY 1, 2),
       |joint AS (SELECT CAST(sum(nij) AS BIGINT) AS n,
       |                 CAST(sum(nij * (nij - 1) // 2) AS BIGINT) AS sij FROM cont),
       |ra AS (SELECT cl, CAST(sum(nij) AS BIGINT) AS na FROM cont GROUP BY cl),
       |rs AS (SELECT count(*) AS n_clusters,
       |              CAST(sum(na * (na - 1) // 2) AS BIGINT) AS sa FROM ra),
       |cb AS (SELECT label, CAST(sum(nij) AS BIGINT) AS nb FROM cont GROUP BY label),
       |cs AS (SELECT count(*) AS n_labels,
       |              CAST(sum(nb * (nb - 1) // 2) AS BIGINT) AS sb FROM cb),
       |x AS (SELECT n, CAST(n AS HUGEINT) * (n - 1) // 2 AS c2n,
       |             sij, n_clusters, sa, n_labels, sb
       |      FROM joint, rs, cs),
       |f AS (SELECT *,
       |             2 * c2n * CAST(sij AS HUGEINT) - 2 * CAST(sa AS HUGEINT) * sb AS num2,
       |             c2n * (CAST(sa AS HUGEINT) + sb) - 2 * CAST(sa AS HUGEINT) * sb AS den2
       |      FROM x)
       |SELECT n, n_clusters, n_labels,
       |       sij AS pairs_joint, sa AS pairs_clusters, sb AS pairs_labels,
       |       CASE WHEN den2 = 0 THEN NULL
       |            ELSE CAST((1000000 * num2 + 10000000 * den2) // den2 AS BIGINT)
       |                 - 10000000 END AS ari_ppm
       |FROM f""".stripMargin

  /** The fixed ±1 JL sign matrix, precomputed in Scala and embedded as
    * the SAME literals in the Spark plan and the oracle SQL (the
    * log-constant device): sign(j,i) from the Knuth multiplicative hash
    * of the flat index. d_out×d_in with d_in = 64.
    */
  private def jlSigns(dOut: Int): IndexedSeq[IndexedSeq[Int]] =
    (0 until dOut).map(j => (0 until 64).map { i =>
      val h = (((j * 64 + i).toLong * graft.functions.PortableHash.Knuth) % (1L << 31)) % 2L
      if (h == 0L) 1 else -1
    })

  /** Johnson–Lindenstrauss distance-preservation audit — project the
    * 64-dim embeddings onto `dOut` ±1 random-sign dimensions (the cheap
    * dimensionality reduction an ANN prefilter or a sketch-join uses)
    * and measure, per pair of the first `nAnchors` vectors, how well
    * squared L2 distances survive: `distortion_ppm` =
    * 10⁶·‖ya−yb‖² DIV (dOut·‖xa−xb‖²) ≈ 10⁶ when the projection is
    * healthy (E‖y‖² = dOut·‖x‖² for ±1 signs). The audit that sizes
    * dOut before trusting projected distances at 100 TB.
    *
    * Parity: coordinates quantized to 1e3 fixed-point BIGINT at the scan
    * edge (the [[centroidDrift]] device, narrower so the 1e6 ppm scaling
    * of the squared-distance ratio stays inside BIGINT), every later
    * step — signed
    * sums, squared diffs, the ppm ratio — is exact integer arithmetic on
    * both engines. Scale shape: the projection is a per-row map (the
    * linear-scale path); the pair audit is bounded to nAnchors² rows.
    */
  def jlDistortion(emb: DataFrame, dOut: Int, nAnchors: Int): DataFrame = {
    require(dOut >= 1 && dOut <= 64 && nAnchors >= 2, s"bad dims: $dOut, $nAnchors")
    val signs = jlSigns(dOut)
    val e = emb.filter(col("vec_id") < nAnchors)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .select(col("vec_id"), expr(
        "transform(v, x -> CAST(round(x * 1000, 0) AS BIGINT))").as("xq"))
    val ys = array((0 until dOut).map { j =>
      (0 until 64).map { i =>
        val el = element_at(col("xq"), i + 1)
        if (signs(j)(i) > 0) el else (el * lit(-1L): Column)
      }.reduce(_ + _)
    }: _*)
    val q = e.select(col("vec_id"), col("xq"), ys.as("yq"))
    val d2 = (a: String, b: String, n: Int) => expr(
      s"aggregate(zip_with($a, $b, (p, q) -> (p - q) * (p - q)), 0L, (acc, x) -> acc + x)")
    q.as("a").join(broadcast(q.as("b")), col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
        d2("a.xq", "b.xq", 64).as("x_d2"), d2("a.yq", "b.yq", dOut).as("y_d2"))
      .select(col("vec_a"), col("vec_b"), col("x_d2"), col("y_d2"),
        when(col("x_d2") > 0L,
          expr(s"CAST((1000000 * y_d2) DIV ($dOut * x_d2) AS BIGINT)"))
          .as("distortion_ppm"))
      .orderBy(col("vec_a"), col("vec_b"))
  }

  def jlDistortionSql(dOut: Int, nAnchors: Int): String = {
    val signs = jlSigns(dOut)
    val yExprs = (0 until dOut).map { j =>
      (0 until 64).map(i =>
        s"${if (signs(j)(i) > 0) "+" else "-"} xq[${i + 1}]").mkString(" ")
    }.mkString(",\n      ")
    s"""WITH e AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
       |  FROM embeddings WHERE vec_id < $nAnchors),
       |q AS (
       |  SELECT vec_id,
       |         [CAST(round(v[i + 1] * 1000, 0) AS BIGINT) FOR i IN range(0, 64)] AS xq
       |  FROM e),
       |p AS (
       |  SELECT vec_id, xq, [
       |      $yExprs] AS yq
       |  FROM q),
       |pairs AS (
       |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       |    CAST(list_sum([(a.xq[i + 1] - b.xq[i + 1]) * (a.xq[i + 1] - b.xq[i + 1])
       |                   FOR i IN range(0, 64)]) AS BIGINT) AS x_d2,
       |    CAST(list_sum([(a.yq[i + 1] - b.yq[i + 1]) * (a.yq[i + 1] - b.yq[i + 1])
       |                   FOR i IN range(0, $dOut)]) AS BIGINT) AS y_d2
       |  FROM p a JOIN p b ON a.vec_id < b.vec_id)
       |SELECT vec_a, vec_b, x_d2, y_d2,
       |       CASE WHEN x_d2 > 0
       |            THEN CAST((1000000 * y_d2) // ($dOut * x_d2) AS BIGINT) END
       |  AS distortion_ppm
       |FROM pairs ORDER BY vec_a, vec_b""".stripMargin
  }

  val centroidDriftSql: String =
    """WITH el AS (
      |  SELECT vec_id % 2 = 0 AS even, j,
      |         CAST(round(v[CAST(j AS INTEGER)] * 1e6, 0) AS BIGINT) AS xq
      |  FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |       (SELECT unnest(range(1, 65)) AS j) dims),
      |d AS (
      |  SELECT j,
      |    CAST(sum(CASE WHEN even THEN xq END) AS DOUBLE)
      |      / CAST(sum(CASE WHEN even THEN 1 ELSE 0 END) AS DOUBLE) AS ca,
      |    CAST(sum(CASE WHEN NOT even THEN xq END) AS DOUBLE)
      |      / CAST(sum(CASE WHEN NOT even THEN 1 ELSE 0 END) AS DOUBLE) AS cb
      |  FROM el GROUP BY j),
      |t AS (
      |  SELECT CAST(round((ca - cb) * (ca - cb), 12) AS DECIMAL(28,12)) AS d2,
      |         CAST(round(ca * cb, 12) AS DECIMAL(28,12)) AS ab,
      |         CAST(round(ca * ca, 12) AS DECIMAL(28,12)) AS aa,
      |         CAST(round(cb * cb, 12) AS DECIMAL(28,12)) AS bb
      |  FROM d)
      |SELECT count(*) AS n_dims,
      |       round(sqrt(CAST(sum(d2) AS DOUBLE)) / 1e6, 6) AS l2_distance,
      |       round(CAST(sum(ab) AS DOUBLE)
      |             / nullif(sqrt(CAST(sum(aa) AS DOUBLE)) * sqrt(CAST(sum(bb) AS DOUBLE)), 0.0), 6)
      |         AS centroid_cosine
      |FROM t""".stripMargin

  /** Simplified-silhouette audit of the label clustering (Hruschka et
    * al.'s centroid variant): per vector, compare the squared distance
    * to its OWN label centroid against the nearest OTHER label centroid
    * — per label, how many members are well-separated, and the summed
    * silhouette mass.
    *
    * Exactness chain (no float distance anywhere):
    *   1. coordinates quantize at 1e3 (the [[jl|emb_jl_distortion]]
    *      headroom lesson: 1e6 would overflow once the ratio multiplies
    *      another 1e6);
    *   2. the centroid mean s/n never materializes — the integer
    *      D(i,ℓ) = Σ_j (n_ℓ·xq_ij − s_ℓj)² carries distance·n_ℓ², and
    *      v = (1000·D) DIV n_ℓ² is the shared fixed-point distance both
    *      engines truncate identically (v ≈ 1000·squared-L2, bounded by
    *      the value DOMAIN — n cancels — so every product below stays
    *      under 2^63 at any corpus size);
    *   3. s_ppm = (v_other − v_own)/max(·) uses the +K·den floor-shift
    *      (numerator may be negative; Spark DIV truncates toward zero
    *      where DuckDB // floors — the propensity-strata device).
    *
    * Scale shape: the per-label-dim stats frame is (labels × dims) rows
    * — schema-bounded — broadcast into one streamed pass over the
    * exploded corpus; no pairwise joins, no |corpus|² term (the classic
    * silhouette's all-pairs a(i) is exactly what this variant deletes).
    */
  def silhouette(emb: DataFrame): DataFrame = {
    val el = emb.select(col("vec_id"), col("label").cast("long").as("own"),
        posexplode(col("embedding").cast("array<double>")))
      .select(col("vec_id"), col("own"), col("pos").as("j"),
        expr("CAST(round(col * 1000) AS BIGINT)").as("xq"))
    val stats = el.groupBy(col("own").as("l2"), col("j"))
      .agg(sum(col("xq")).as("s"), count(lit(1)).as("n2"))
    val d = el.join(broadcast(stats), Seq("j"))
      .groupBy(col("vec_id"), col("own"), col("l2"), col("n2"))
      .agg(sum((col("n2") * col("xq") - col("s")) *
        (col("n2") * col("xq") - col("s"))).as("bigD"))
      .select(col("vec_id"), col("own"), col("l2"),
        expr("CAST((1000 * bigD) DIV (n2 * n2) AS BIGINT)").as("v"))
    val pp = d.groupBy(col("vec_id"), col("own"))
      .agg(min(when(col("l2") === col("own"), col("v"))).as("va"),
        min(when(col("l2") =!= col("own"), col("v"))).as("vb"))
      .withColumn("den", greatest(col("va"), col("vb"), lit(1L)))
      .withColumn("s_ppm",
        expr("CAST((1000000 * (vb - va) + 2000000 * den) DIV den AS BIGINT) - 2000000"))
    pp.groupBy(col("own").as("label"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("vb") > col("va"), 1L).otherwise(0L)).as("n_well"),
        sum(col("s_ppm")).as("sum_s_ppm"))
      .orderBy("label")
  }

  val silhouetteSql: String =
    """WITH ed AS (
      |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |el AS (
      |  SELECT vec_id, CAST(label AS BIGINT) AS own, CAST(j - 1 AS BIGINT) AS j,
      |         CAST(round(v[j] * 1000) AS BIGINT) AS xq
      |  FROM ed, unnest(range(1, len(v) + 1)) AS t(j)),
      |stats AS (
      |  SELECT own AS l2, j, CAST(sum(xq) AS BIGINT) AS s, count(*) AS n2
      |  FROM el GROUP BY own, j),
      |d AS (
      |  SELECT vec_id, own, l2,
      |         CAST((1000 * sum((n2 * xq - s) * (n2 * xq - s))) // (max(n2) * max(n2))
      |              AS BIGINT) AS v
      |  FROM el JOIN stats USING (j) GROUP BY vec_id, own, l2),
      |pp AS (
      |  SELECT vec_id, own,
      |         min(CASE WHEN l2 = own THEN v END) AS va,
      |         min(CASE WHEN l2 <> own THEN v END) AS vb
      |  FROM d GROUP BY vec_id, own),
      |sp AS (
      |  SELECT own, va, vb, greatest(va, vb, 1) AS den FROM pp)
      |SELECT own AS label, count(*) AS n,
      |       CAST(sum(CASE WHEN vb > va THEN 1 ELSE 0 END) AS BIGINT) AS n_well,
      |       CAST(sum(CAST((1000000 * (vb - va) + 2000000 * den) // den AS BIGINT)
      |                - 2000000) AS BIGINT) AS sum_s_ppm
      |FROM sp GROUP BY own ORDER BY label""".stripMargin
}
