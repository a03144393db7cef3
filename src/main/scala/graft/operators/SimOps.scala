package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{Key, Oracle, Tables}
import graft.functions.VectorFunctions._

/** Similarity search over the `embeddings` table (`array<float>`).
  *
  * - sim_cosine_topk: brute-force exact top-k — the baseline. Query
  *   vectors broadcast; the corpus streams through once (map-side
  *   cross join, no corpus shuffle); top-k is two-stage so the
  *   per-query shuffle carries only partition-local winners.
  * - sim_ivf_topk: IVF-bucketed ANN — the scale path. Corpus is
  *   partitioned by nearest centroid; a query probes only its
  *   closest `nProbe` centroid buckets, cutting scanned vectors by
  *   ~nProbe/nCentroids at equal recall for clustered data.
  */
object SimOps {

  val topK = 5
  val nQueries = 10
  val embedDim = 64

  private[graft] def corpus(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding").as("v"),
        sqrt(dotD(col("embedding"), col("embedding"))).as("nrm"))

  /** Rank the ≤ k·queries winners of the TopKPerKey operator. The
    * window runs over a bounded frame (k rows per query), never the
    * full score set. */
  private def ranked(top: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cosine").desc, col("vec_id"))
    // BIGINT rank on both sides (r11 verdict #2 width sweep): DuckDB's
    // ROW_NUMBER is BIGINT; the free output-layer cast beats casting
    // ten oracle strings down to INTEGER
    top.withColumn("rank", row_number().over(w).cast(LongType))
      .select("q_id", "rank", "vec_id", "cosine")
      .orderBy("q_id", "rank")
  }

  /** Exact brute-force top-k per query (queries = vec_id < 10).
    *
    * Scores flow into the custom TopKPerKey physical operator
    * (plans/TopKPerKey.scala): a bounded heap per (query, partition)
    * — O(n log k), no partition sort — shuffles only the ≤
    * k·partitions surviving candidates per query, then merges heaps.
    * At 100 TB the full score set is never sorted OR shuffled. The
    * previous two-stage row_number form got the shuffle right but
    * still fully sorted every partition's score set.
    */
  def simCosineTopk(s: SparkSession, dir: String): DataFrame = {
    val c = corpus(s, dir)
    val q = c.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qnrm"))
    val scored = c.join(broadcast(q), col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        (dotD(col("v"), col("qv")) / (col("nrm") * col("qnrm"))).as("cosine"))
    ranked(graft.plans.TopKPerKey.topK(scored, Seq("q_id"),
      Seq(col("cosine").desc, col("vec_id")), topK))
  }

  val simCosineTopkSql: String =
    s"""WITH c AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
       |    sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS nrm
       |  FROM embeddings),
       |q AS (SELECT vec_id AS q_id, v AS qv, nrm AS qnrm FROM c WHERE vec_id < $nQueries),
       |scored AS (
       |  SELECT q_id, vec_id,
       |    list_dot_product(c.v, q.qv) / (c.nrm * q.qnrm) AS cosine,
       |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY list_dot_product(c.v, q.qv) / (c.nrm * q.qnrm) DESC, vec_id) AS rank
       |  FROM c CROSS JOIN q
       |  WHERE c.vec_id <> q.q_id)
       |SELECT q_id, rank, vec_id, cosine FROM scored
       |WHERE rank <= $topK
       |ORDER BY q_id, rank""".stripMargin

  /** Filtered exact ANN — same-label top-k retrieval (the "filtered
    * vector search" every production retrieval system needs the day
    * after it ships plain ANN: search only products in the query's
    * category, docs in the user's tenant, passages in the query's
    * language). The metadata predicate becomes part of the CANDIDATE
    * GENERATION — here the label equality is the broadcast-hash join
    * KEY, so non-matching vectors are never scored (post-filtering
    * top-k instead would return < k rows whenever the filter bites
    * inside the unfiltered top-k).
    *
    * Scale shape: sim_cosine_topk's plan with the filter fused into
    * the join — the corpus is scored only against same-label queries
    * (candidate volume ÷ label cardinality); winners flow through the
    * bounded-heap TopKPerKey operator, never a corpus sort. The IVF
    * refinement at 100 TB is label-partitioned posting lists — same
    * predicate, pushed one level deeper. */
  def simFilteredTopk(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.load(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding").as("v"),
        sqrt(dotD(col("embedding"), col("embedding"))).as("nrm"),
        col("label"))
    val q = c.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("v").as("qv"),
        col("nrm").as("qnrm"), col("label").as("q_label"))
    val scored = c.join(broadcast(q),
        col("label") === col("q_label") && col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        (dotD(col("v"), col("qv")) / (col("nrm") * col("qnrm")))
          .as("cosine"))
    ranked(graft.plans.TopKPerKey.topK(scored, Seq("q_id"),
      Seq(col("cosine").desc, col("vec_id")), topK))
  }

  val simFilteredTopkSql: String =
    s"""WITH c AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
       |    sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS nrm,
       |    label
       |  FROM embeddings),
       |q AS (SELECT vec_id AS q_id, v AS qv, nrm AS qnrm, label AS ql
       |      FROM c WHERE vec_id < $nQueries),
       |scored AS (
       |  SELECT q_id, vec_id,
       |    list_dot_product(c.v, q.qv) / (c.nrm * q.qnrm) AS cosine,
       |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY list_dot_product(c.v, q.qv) / (c.nrm * q.qnrm) DESC, vec_id) AS rank
       |  FROM c JOIN q ON c.label = q.ql AND c.vec_id <> q.q_id)
       |SELECT q_id, rank, vec_id, cosine FROM scored
       |WHERE rank <= $topK
       |ORDER BY q_id, rank""".stripMargin

  /** IVF parameters: seeds are the first `nCentroids` corpus vectors,
    * refined by `lloydIters` k-means steps. */
  val nCentroids = 16
  val nProbe = 4
  val lloydIters = 2

  /** Driver-resident centroid set. k is small by IVF design (≈√n
    * buckets even at 100 TB), so centroids live on the driver and
    * ship to executors inside expression literals — the same contract
    * Spark MLlib's KMeans uses. Assignment then needs NO join, NO
    * window and NO exchange of corpus rows. Ids are kept sorted so
    * argmax ties resolve to the lowest c_id, matching the previous
    * window tie-break. */
  case class Centroids(ids: Array[Int], vecs: Array[Array[Double]],
      nrms: Array[Double]) {
    def size: Int = ids.length
    /** Small DataFrame form, for the (bounded) probe-selection join. */
    def toDF(s: SparkSession): DataFrame = {
      import s.implicits._
      ids.indices.map(i => (ids(i), vecs(i).toSeq, nrms(i)))
        .toDF("c_id", "cv", "cnrm")
    }
  }

  /** Left-to-right double fold — the driver-side twin of DotProductD,
    * bit-identical to the executor-side expression. */
  private def dotDriver(a: Array[Double], b: Array[Double]): Double = {
    var acc = 0.0; var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) { acc += a(i) * b(i); i += 1 }
    acc
  }

  /** Per-row argmax over the centroid set — ONE constant-size native
    * expression (functions.NearestCentroid) whose generated code loops
    * over k. The r3 form (k typedlit dot products + greatest + a
    * when-chain) duplicated the k-term max into every branch: an
    * O(k²·dim) expression tree that cost 40s of analysis+Janino per
    * invocation at k=16 and is unbuildable at IVF-correct k≈√n. Now
    * planning cost is independent of k and zero corpus rows move for
    * assignment. */
  def nearestCentroid(v: Column, nrm: Column, cents: Centroids,
      l2: Boolean = false): Column =
    org.apache.spark.sql.GraftSqlBridge.column(
      graft.functions.NearestCentroid(
        org.apache.spark.sql.GraftSqlBridge.expression(v),
        org.apache.spark.sql.GraftSqlBridge.expression(nrm),
        new graft.functions.CentroidData(cents.ids, cents.vecs, cents.nrms),
        l2))

  /** Lloyd refinement: expression-argmax assignment (no shuffle), then
    * each centroid recomputed as the elementwise mean of its members
    * (VectorMean Aggregator: one buffer per (centroid, partition)
    * shuffles) and collected — k rows per iteration to the driver,
    * exactly like MLlib KMeans. iters=0 returns the raw seeds. */
  def lloydCentroids(c: DataFrame, k: Int, iters: Int,
      dim: Int = embedDim, l2: Boolean = false): Centroids = {
    def nrmOf(v: Array[Double]): Double =
      if (l2) dotDriver(v, v) else math.sqrt(dotDriver(v, v))
    val seedRows = c.filter(col("vec_id") < k)
      .select(col("vec_id").cast("int").as("c_id"),
        graft.functions.VectorFunctions.toDouble(col("v")).as("cv"))
      .collect().sortBy(_.getInt(0))
    var cents = Centroids(
      seedRows.map(_.getInt(0)),
      seedRows.map(_.getAs[Seq[Double]]("cv").toArray),
      seedRows.map(r => nrmOf(r.getAs[Seq[Double]]("cv").toArray)))
    for (_ <- 0 until iters) {
      val means = assignTo(c, cents, l2)
        .groupBy(col("centroid"))
        .agg(graft.functions.VectorMean.of(dim)(col("v")).as("cv"))
        .collect().sortBy(_.getInt(0))
      val vecs = means.map(_.getAs[Seq[Double]]("cv").toArray)
      cents = Centroids(
        means.map(_.getInt(0)), vecs, vecs.map(nrmOf))
    }
    cents
  }

  /** Nearest-centroid assignment — a single zero-shuffle projection
    * over the corpus (explain shows no Exchange). With l2 = true the
    * metric is Euclidean (Centroids.nrms then holds SQUARED norms —
    * see NearestCentroid). */
  def assignTo(c: DataFrame, cents: Centroids, l2: Boolean = false): DataFrame =
    c.select(col("vec_id"), col("v"), col("nrm"),
      nearestCentroid(col("v"), col("nrm"), cents, l2).as("centroid"))

  /** IVF index construction = the centroid set. Built once per corpus
    * and cached on the driver (any ANN index amortizes build over
    * queries — MLlib persists the KMeansModel the same way). The cache
    * key is the corpus path + parameters; a few KB per entry. */
  private val centroidCache =
    new java.util.concurrent.ConcurrentHashMap[(String, Int, Int), Centroids]()

  def cachedCentroids(s: SparkSession, dir: String): Centroids =
    centroidCache.computeIfAbsent((dir, nCentroids, lloydIters),
      _ => lloydCentroids(corpus(s, dir), nCentroids, lloydIters))

  def ivfAssignments(s: SparkSession, dir: String): DataFrame = {
    val c = corpus(s, dir)
    assignTo(c, cachedCentroids(s, dir))
  }

  /** The refined centroid matrix, published — the IVF
    * "model" written as parquet on every sim_ivf_topk run, exactly
    * like MLlib persists a KMeansModel. The DuckDB oracle reads it
    * back (read_parquet) and rebuilds assignment/probe/rank from the
    * SAME doubles, closing the loop sim_ivf0 closes with raw seeds:
    * Lloyd's refinement itself isn't bit-reproducible across engines
    * (VectorMean merge order), but ranking against published
    * centroids is. The path is PER-CORPUS (a run against another sf
    * dir — a bench, a spec — must not clobber the model the dumped
    * oracle SQL references); the static SQL reads it at
    * `Artifacts.oracleRoot("ivf_centroids")`.
    *
    * The model is build-once-then-load: if the per-corpus
    * parquet already exists, the centroids are READ BACK from it and
    * used for ranking — Lloyd means are not bit-reproducible across
    * JVMs/partition counts, so a later run (a Bench with different
    * SPARK_GRAFT_CPUS, a re-Verify) must rank against the SAME doubles
    * the already-dumped oracle SQL reads, not a fresh refinement that
    * would clobber them. Repeat runs are also write-free, keeping
    * model I/O out of benchmarked queries. Published without a tag
    * (build-once-forever): rebuilding the model is the bug, not the
    * fix. The building run ranks against the read-back doubles too —
    * parquet doubles round-trip exactly, so they equal the refined
    * ones. */
  def publishedCentroids(s: SparkSession, dir: String): Centroids = {
    // frozen, not content-tagged: see above
    val path = graft.Artifacts.publishFrozen("ivf_centroids", dir)(
      cachedCentroids(s, dir).toDF(s).coalesce(1).write.parquet(_))
    val rows = s.read.parquet(path).collect().sortBy(_.getInt(0))
    Centroids(
      rows.map(_.getInt(0)),
      rows.map(_.getAs[Seq[Double]]("cv").toArray),
      rows.map(_.getDouble(2)))
  }

  /** ANN top-k probing only the `nProbe` nearest centroid buckets per
    * query. Output schema matches sim_cosine_topk for recall checks.
    * Centroids are collected once so assignment and probe ranking see
    * identical values. Probe selection ranks nQueries×k rows — a
    * bounded shuffle independent of corpus size; the bucket scan is
    * two-stage top-k so only partition-local winners shuffle. */
  def simIvfTopk(s: SparkSession, dir: String): DataFrame =
    ivfTopkWith(s, dir, publishedCentroids(s, dir))

  /** IVF from raw seeds (lloydIters = 0): the centroid set is exactly
    * corpus vectors 0..k-1, so the ENTIRE pipeline — assignment
    * argmax, probe ranking, bucket-local scan, final top-k — is
    * deterministic and DuckDB-expressible with no model file. The
    * refined variant sim_ivf_topk is oracle-checked too, against its
    * published centroid parquet; this zero-iteration twin pins the
    * pipeline even if that file is absent. Lloyd's refinement itself
    * stays spec-proven (cohesion must improve) — VectorMean's merge
    * order isn't bit-reproducible across engines, so the oracle takes
    * the centroids as given rather than recomputing them. */
  def simIvf0Topk(s: SparkSession, dir: String): DataFrame = {
    val c = corpus(s, dir)
    ivfTopkWith(s, dir, lloydCentroids(c, nCentroids, iters = 0))
  }

  /** The IVF pipeline at arbitrary (k, nProbe) — the shape the sweep
    * runs at IVF-correct k≈√n. The k=16/nProbe=4 oracle keys are this
    * with the fixture-sized defaults; NearestCentroid carries the
    * centroid matrix as a reference object, so the expression TREE is
    * the same size at k=141 as at k=16 and planning cost stays O(1)
    * in k (measured by `graft.Inspect ivf`). */
  def ivfTopkParams(s: SparkSession, dir: String, k: Int, probes: Int,
      iters: Int = lloydIters): DataFrame =
    ivfTopkWith(s, dir, lloydCentroids(corpus(s, dir), k, iters), probes)

  private[graft] def ivfTopkWith(s: SparkSession, dir: String,
      cents: Centroids, probeN: Int = nProbe): DataFrame = {
    val c = corpus(s, dir)
    val assigned = assignTo(c, cents)
    val q = c.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qnrm"))
    // per query: its nProbe closest centroids (nQueries×k rows total)
    val wq = Window.partitionBy(col("q_id")).orderBy(col("cos_c").desc, col("c_id"))
    val probes = q.crossJoin(broadcast(cents.toDF(s)))
      .select(col("q_id"), col("qv"), col("qnrm"), col("c_id"),
        (dotD(col("qv"), col("cv")) / (col("qnrm") * col("cnrm"))).as("cos_c"))
      .withColumn("rn", row_number().over(wq)).filter(col("rn") <= probeN)
      .select(col("q_id"), col("qv"), col("qnrm"), col("c_id").as("centroid"))
    // scan only probed buckets (join keyed on centroid — bucket-local);
    // TopKPerKey keeps a bounded heap per (query, partition), so only
    // ≤ topK candidate rows per partition ever shuffle
    val scored = assigned.join(broadcast(probes), Seq("centroid"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        (dotD(col("v"), col("qv")) / (col("nrm") * col("qnrm"))).as("cosine"))
    ranked(graft.plans.TopKPerKey.topK(scored, Seq("q_id"),
      Seq(col("cosine").desc, col("vec_id")), topK))
  }

  /** Uint8 affine quantization of embeddings: per-vector (zero, scale)
    * so each float column stores in 1/4 the bytes — the standard
    * storage/IO reduction before ANN at 100 TB. Pure Column
    * arithmetic. Rounding is floor(x + 0.5) — plain IEEE ops that are
    * bit-identical in Spark and DuckDB, unlike round() (Spark rounds
    * the shortest decimal repr HALF_UP, DuckDB rounds the binary
    * value). The codes flatten to one comma-joined string so the
    * compare harness gets hashable scalar cells instead of raw
    * arrays. */
  def embedQuantize(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.load(s, dir, "embeddings")
    val v = col("embedding")
    val zero = array_min(v).cast("double")
    val scale = (array_max(v).cast("double") - zero) / 255.0
    val codes = transform(v, x =>
      when(scale === 0, lit(0L))
        .otherwise(floor((x.cast("double") - zero) / scale + 0.5))
        .cast("string"))
    e.select(col("vec_id"), zero.as("zero"), scale.as("scale"),
      array_join(codes, ",").as("q_codes"))
  }

  val embedQuantizeSql: String =
    """WITH t AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
      |    CAST(list_min(embedding) AS DOUBLE) AS zero,
      |    (CAST(list_max(embedding) AS DOUBLE) - CAST(list_min(embedding) AS DOUBLE)) / 255.0 AS scale
      |  FROM embeddings)
      |SELECT vec_id, zero, scale,
      |  array_to_string(list_transform(v, x ->
      |    CASE WHEN scale = 0 THEN 0
      |         ELSE CAST(floor((x - zero) / scale + 0.5) AS BIGINT) END), ',') AS q_codes
      |FROM t""".stripMargin

  // ---------------------------------------------------------------
  // embed_pq: product quantization + asymmetric distance — the
  // compression step that pairs with IVF at 100 TB (IVF-PQ). The
  // 64-dim float vector (256 B) compresses to pqM=4 codebook codes
  // (4 B, 64× smaller); queries stay full-precision and score docs
  // by LOOKUP: per (query, subspace) a 16-entry table of
  // dot(q_m, codebook entry) built driver-side, so scoring a doc is
  // 4 array lookups + 3 adds instead of 64 multiplies — and the scan
  // reads codes, not vectors. Codebooks are subspace k-means via the
  // same Lloyd machinery as IVF, under the L2 metric PQ quantizes
  // with, published as parquet like the IVF model so the DuckDB
  // oracle re-encodes every vector and re-scores from the SAME
  // doubles (all sums explicitly left-associated on both engines).
  // ---------------------------------------------------------------
  val pqM = 4
  val pqSub: Int = embedDim / pqM
  val pqK = 16

  /** Published per-subspace codebooks (m, c_id, cv, cnrm2),
    * build-once-then-load exactly like publishedCentroids: Lloyd
    * means aren't bit-reproducible across runs, so later runs must
    * encode/score against the SAME doubles the dumped oracle reads.
    * nrms holds SQUARED norms (the L2-mode contract). */
  def publishedCodebooks(s: SparkSession, dir: String): Array[Centroids] = {
    // frozen, not content-tagged: a rebuild would not reproduce the
    // codebooks the dumped oracle reads
    val path = graft.Artifacts.publishFrozen("pq_codebooks", dir) { out =>
      val books = buildCodebooks(corpus(s, dir), pqM, pqK)
      import s.implicits._
      books.zipWithIndex.toSeq.flatMap { case (b, m) =>
        b.ids.indices.map(i => (m, b.ids(i), b.vecs(i).toSeq, b.nrms(i)))
      }.toDF("m", "c_id", "cv", "cnrm2")
        .coalesce(1).write.parquet(out)
    }
    val rows = s.read.parquet(path).collect()
    (0 until pqM).toArray.map { m =>
      val r = rows.filter(_.getAs[Int]("m") == m).sortBy(_.getAs[Int]("c_id"))
      Centroids(r.map(_.getAs[Int]("c_id")),
        r.map(_.getAs[Seq[Double]]("cv").toArray),
        r.map(_.getAs[Double]("cnrm2")))
    }
  }

  /** Per-subspace L2 k-means codebooks for any (m, k) — the pqM/pqK
    * defaults feed the published model; `Inspect pq` drives other points
    * of the recall/compression trade-off through the same build. */
  private[graft] def buildCodebooks(c: DataFrame, m: Int, k: Int): Array[Centroids] = {
    val subDim = embedDim / m
    (0 until m).toArray.map { i =>
      val sub = c.select(col("vec_id"),
        slice(col("v"), i * subDim + 1, subDim).as("v"), lit(1.0).as("nrm"))
      lloydCentroids(sub, k, lloydIters, dim = subDim, l2 = true)
    }
  }

  /** The L2-argmin encoding expressions (code0..code{M-1}) — shared
    * by every PQ consumer so the encoding can never diverge between
    * keys. M and the subspace width derive from the codebooks. */
  private def pqCodeCols(books: Array[Centroids]): Seq[Column] = {
    val subDim = embedDim / books.length
    books.indices.map { m =>
      nearestCentroid(slice(col("v"), m * subDim + 1, subDim), lit(1.0),
        books(m), l2 = true).as(s"code$m")
    }
  }

  /** PQ encoding — pqM L2-argmin native expressions over subvector
    * slices: a zero-shuffle projection, exactly like IVF assignment. */
  private[graft] def pqCodes(c: DataFrame, books: Array[Centroids]): DataFrame =
    c.select(col("vec_id") +: pqCodeCols(books): _*)

  /** Lookup-table values indexed BY codebook id: ids may be sparse
    * after refinement (an empty cluster drops out), so unreachable
    * slots zero-fill — codes only ever take surviving ids. */
  private def byId(b: Centroids, value: Int => Double): Seq[Double] = {
    val arr = Array.fill(b.ids.max + 1)(0.0)
    b.ids.indices.foreach(i => arr(b.ids(i)) = value(i))
    arr.toSeq
  }

  def embedPq(s: SparkSession, dir: String): DataFrame =
    adcTopk(s, dir, publishedCodebooks(s, dir))

  /** Full-scan ADC top-k against an arbitrary codebook set — the
    * embed_pq pipeline at any (m, k), also driven by `Inspect pq`. */
  private[graft] def adcTopk(s: SparkSession, dir: String,
      books: Array[Centroids]): DataFrame = {
    val subDim = embedDim / books.length
    val c = corpus(s, dir)
    val codes = pqCodes(c, books)
    val qRows = c.filter(col("vec_id") < nQueries)
      .select(col("vec_id"),
        graft.functions.VectorFunctions.toDouble(col("v")).as("qv"))
      .collect().sortBy(_.getLong(0))
    val perQuery = qRows.map { r =>
      val qv = r.getAs[Seq[Double]]("qv").toArray
      val qnrm = math.sqrt(dotDriver(qv, qv))
      val parts = books.indices.map { m =>
        val qm = qv.slice(m * subDim, (m + 1) * subDim)
        element_at(typedlit(byId(books(m), i => dotDriver(qm, books(m).vecs(i)))),
          col(s"code$m") + 1)
      }
      val n2 = books.indices.map { m =>
        element_at(typedlit(byId(books(m), i => books(m).nrms(i))),
          col(s"code$m") + 1)
      }
      // left-associated sums: bit-identical to the oracle's explicit
      // ((l0 + l1) + l2) + l3 (float addition is order-sensitive)
      struct(lit(r.getLong(0)).as("q_id"),
        (parts.reduceLeft(_ + _) /
          (lit(qnrm) * sqrt(n2.reduceLeft(_ + _)))).as("cosine"))
    }
    val scored = codes
      .select(col("vec_id"), explode(array(perQuery.toIndexedSeq: _*)).as("s"))
      .select(col("s.q_id").as("q_id"), col("vec_id"), col("s.cosine").as("cosine"))
      .filter(col("vec_id") =!= col("q_id"))
    ranked(graft.plans.TopKPerKey.topK(scored, Seq("q_id"),
      Seq(col("cosine").desc, col("vec_id")), topK))
  }

  // ---------------------------------------------------------------
  // sim_ivfpq_topk: THE production ANN composition — IVF probing ×
  // PQ compressed scoring. The scan touches only the nProbe probed
  // buckets (IVF's pruning) and reads 4-byte codes instead of 256-
  // byte vectors (PQ's compression); scoring is 4 LUT lookups per
  // (query, doc). At 100 TB this is the memory-resident index shape:
  // codes live in RAM where raw vectors cannot. Both models come
  // from their published parquet (the IVF centroids and the PQ
  // codebooks), so the full composed pipeline — assignment, probe
  // selection, encoding, ADC ranking — is oracle-checked end to end
  // from the same doubles.
  // ---------------------------------------------------------------
  def simIvfPqTopk(s: SparkSession, dir: String): DataFrame =
    ranked(graft.plans.TopKPerKey.topK(ivfpqScored(s, dir), Seq("q_id"),
      Seq(col("cosine").desc, col("vec_id")), topK))

  /** The ADC-scored candidate frame shared by sim_ivfpq_topk and
    * sim_pq_rerank: every (query, probed-bucket vector) pair with its
    * PQ-approximated cosine. */
  private def ivfpqScored(s: SparkSession, dir: String): DataFrame = {
    val cents = publishedCentroids(s, dir)
    val books = publishedCodebooks(s, dir)
    val c = corpus(s, dir)
    // ONE zero-shuffle projection: IVF bucket + the 4 PQ codes
    val encoded = c.select(
      col("vec_id") +:
        nearestCentroid(col("v"), col("nrm"), cents).as("centroid") +:
        pqCodeCols(books): _*)
    // per query: its nProbe closest centroids (driver math — centroids
    // and queries are both tiny)
    val qRows = c.filter(col("vec_id") < nQueries)
      .select(col("vec_id"),
        graft.functions.VectorFunctions.toDouble(col("v")).as("qv"))
      .collect().sortBy(_.getLong(0))
    val qvs = qRows.map(_.getAs[Seq[Double]]("qv").toArray)
    val qnrms = qvs.map(v => math.sqrt(dotDriver(v, v)))
    import s.implicits._
    val probes = qRows.indices.flatMap { qi =>
      cents.ids.indices
        .map(ci => (cents.ids(ci),
          dotDriver(qvs(qi), cents.vecs(ci)) / (qnrms(qi) * cents.nrms(ci))))
        .sortBy { case (cid, cos) => (-cos, cid) }
        .take(nProbe)
        .map { case (cid, _) => (qRows(qi).getLong(0), cid) }
    }.toDF("q_id", "centroid")
    // q_ids are 0..nQueries-1, so 2-D literal LUTs index by q_id
    // directly: part_m[q][code] = dot(q_m, codebook_m[code])
    val parts = (0 until pqM).map { m =>
      val lut2d = qvs.map { qv =>
        val qm = qv.slice(m * pqSub, (m + 1) * pqSub)
        byId(books(m), i => dotDriver(qm, books(m).vecs(i)))
      }.toSeq
      element_at(element_at(typedlit(lut2d), col("q_id").cast("int") + 1),
        col(s"code$m") + 1)
    }
    val n2 = (0 until pqM).map { m =>
      element_at(typedlit(byId(books(m), i => books(m).nrms(i))),
        col(s"code$m") + 1)
    }
    val qnrmCol = element_at(typedlit(qnrms.toSeq), col("q_id").cast("int") + 1)
    encoded.join(broadcast(probes), Seq("centroid"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        (parts.reduceLeft(_ + _) /
          (qnrmCol * sqrt(n2.reduceLeft(_ + _)))).as("cosine"))
  }

  /** ADC candidates per query carried into the exact rerank — the
    * recall/cost dial of the two-stage pipeline (3×topK). */
  val rerankN = 15

  /** Two-stage ANN: ADC shortlist → EXACT rerank — the production
    * recall-recovery pattern (FAISS's refine step): PQ compression
    * misranks near-ties, so the top-[[rerankN]] ADC candidates are
    * re-scored with TRUE cosine over the raw vectors and only then
    * cut to top-k. Same index, same probes — precision recovered for
    * the price of [[rerankN]] raw-vector reads per query.
    *
    * Scale shape: stage 1 is sim_ivfpq_topk's scan (codes-only, probed
    * buckets); the candidate list (queries × rerankN) broadcasts into
    * ONE keyed semi-join against the raw corpus — the only full-width
    * vector reads in the pipeline are the rerank candidates
    * themselves; exact scoring is the codegen'd DotProductD. */
  def simPqRerank(s: SparkSession, dir: String): DataFrame = {
    val cand = graft.plans.TopKPerKey.topK(ivfpqScored(s, dir),
        Seq("q_id"), Seq(col("cosine").desc, col("vec_id")), rerankN)
      .select("q_id", "vec_id")
    val c = corpus(s, dir)
    val qRows = c.filter(col("vec_id") < nQueries)
      .select(col("vec_id"),
        graft.functions.VectorFunctions.toDouble(col("v")).as("qv"))
      .collect().sortBy(_.getLong(0))
    val qvs = qRows.map(_.getAs[Seq[Double]]("qv").toArray)
    val qnrms = qvs.map(v => math.sqrt(dotDriver(v, v)))
    val qvLit = element_at(typedlit(qvs.map(_.toSeq).toSeq),
      col("q_id").cast("int") + 1)
    val qnrmLit = element_at(typedlit(qnrms.toSeq),
      col("q_id").cast("int") + 1)
    val exact = c.join(broadcast(cand), Seq("vec_id"))
      .select(col("q_id"), col("vec_id"),
        (dotD(col("v"), qvLit) / (col("nrm") * qnrmLit)).as("cosine"))
    ranked(graft.plans.TopKPerKey.topK(exact, Seq("q_id"),
      Seq(col("cosine").desc, col("vec_id")), topK))
  }

  // ---------------------------------------------------------------
  // sim_ivf_ingest: the index ADD operation — the nightly-ingest twin
  // of dedup_incremental for the ANN side. A NEW batch of embeddings
  // is folded into the existing IVF-PQ index by computing each
  // vector's IVF bucket and PQ codes against the PUBLISHED models —
  // no Lloyd re-run, no corpus re-scan, no index rebuild. At 100 TB
  // this is how the index stays current: per-night work is one
  // zero-shuffle projection over O(batch) rows (the same encode
  // expressions sim_ivfpq_topk scans with), and tonight's segment
  // appends to the bucket-partitioned code store. The batch here is
  // every 10th corpus vector re-embedded (deterministically
  // different: the embedding REVERSED — a changed upstream encoder)
  // under a shifted id; the DuckDB oracle recomputes every bucket
  // and code from the same published parquets, so a drifted
  // assignment tie-break or codebook layout breaks parity.
  // ---------------------------------------------------------------
  def simIvfIngest(s: SparkSession, dir: String): DataFrame = {
    val cents = publishedCentroids(s, dir)
    val books = publishedCodebooks(s, dir)
    val batch = Tables.load(s, dir, "embeddings")
      .filter(col("vec_id") % 10 === 0)
      .select((col("vec_id") + 1000000L).as("vec_id"),
        reverse(col("embedding")).as("v"))
      .withColumn("nrm", sqrt(dotD(col("v"), col("v"))))
    batch.select(
      col("vec_id") +:
        nearestCentroid(col("v"), col("nrm"), cents).as("centroid") +:
        pqCodeCols(books): _*)
      .orderBy("vec_id")
  }

  /** Both models from their published parquet; the batch rebuilt by
    * the same id/reverse formulas; assignment argmax and per-subspace
    * L2 argmin recomputed with identical tie-breaks. (Both engines
    * fold the REVERSED array left-to-right, so the order-sensitive
    * float sums agree.) */
  val simIvfIngestSql: String =
    s"""WITH b AS (
       |  SELECT vec_id + 1000000 AS vec_id,
       |    list_reverse(CAST(embedding AS DOUBLE[])) AS v
       |  FROM embeddings WHERE vec_id % 10 = 0),
       |bn AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM b),
       |cents AS (SELECT c_id, cv, cnrm FROM
       |  read_parquet('${graft.Artifacts.oracleRoot("ivf_centroids")}/*.parquet')),
       |cb AS (SELECT m, c_id, cv, cnrm2 FROM
       |  read_parquet('${graft.Artifacts.oracleRoot("pq_codebooks")}/*.parquet')),
       |assigned AS (
       |  SELECT vec_id, c_id AS centroid FROM (
       |    SELECT bn.vec_id, ct.c_id,
       |      ROW_NUMBER() OVER (PARTITION BY bn.vec_id
       |        ORDER BY list_dot_product(bn.v, ct.cv) / (bn.nrm * ct.cnrm) DESC, ct.c_id) AS rn
       |    FROM bn CROSS JOIN cents ct) WHERE rn = 1),
       |ms AS (SELECT unnest(range(0, $pqM)) AS m),
       |sub AS (SELECT bn.vec_id, ms.m,
       |  bn.v[ms.m*$pqSub+1 : ms.m*$pqSub+$pqSub] AS sv FROM bn CROSS JOIN ms),
       |codes AS (
       |  SELECT vec_id, m, c_id FROM (
       |    SELECT s.vec_id, s.m, b.c_id,
       |      ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.m
       |        ORDER BY list_dot_product(s.sv, b.cv) - b.cnrm2 / 2 DESC, b.c_id) AS rn
       |    FROM sub s JOIN cb b USING (m)) WHERE rn = 1),
       |w AS (SELECT vec_id,
       |    MAX(CASE WHEN m = 0 THEN c_id END) AS code0,
       |    MAX(CASE WHEN m = 1 THEN c_id END) AS code1,
       |    MAX(CASE WHEN m = 2 THEN c_id END) AS code2,
       |    MAX(CASE WHEN m = 3 THEN c_id END) AS code3
       |  FROM codes GROUP BY vec_id)
       |SELECT a.vec_id, a.centroid, w.code0, w.code1, w.code2, w.code3
       |FROM assigned a JOIN w USING (vec_id)
       |ORDER BY vec_id""".stripMargin

  /** Oracle: IVF assignment + probe selection from the published
    * centroids, PQ codes + LUT scoring from the published codebooks —
    * the composed pipeline rebuilt end to end. */
  /** The composed IVF-PQ CTE chain through the ADC ranking `r` —
    * shared by the topk and rerank oracles. */
  private val ivfpqCoreSql: String =
    s"""WITH c AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
       |    sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS nrm
       |  FROM embeddings),
       |cents AS (SELECT c_id, cv, cnrm FROM
       |  read_parquet('${graft.Artifacts.oracleRoot("ivf_centroids")}/*.parquet')),
       |cb AS (SELECT m, c_id, cv, cnrm2 FROM
       |  read_parquet('${graft.Artifacts.oracleRoot("pq_codebooks")}/*.parquet')),
       |assigned AS (
       |  SELECT vec_id, c_id AS centroid FROM (
       |    SELECT c.vec_id, ct.c_id,
       |      ROW_NUMBER() OVER (PARTITION BY c.vec_id
       |        ORDER BY list_dot_product(c.v, ct.cv) / (c.nrm * ct.cnrm) DESC, ct.c_id) AS rn
       |    FROM c CROSS JOIN cents ct) WHERE rn = 1),
       |ms AS (SELECT unnest(range(0, $pqM)) AS m),
       |sub AS (SELECT c.vec_id, ms.m,
       |  c.v[ms.m*$pqSub+1 : ms.m*$pqSub+$pqSub] AS sv FROM c CROSS JOIN ms),
       |codes AS (
       |  SELECT vec_id, m, c_id FROM (
       |    SELECT s.vec_id, s.m, b.c_id,
       |      ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.m
       |        ORDER BY list_dot_product(s.sv, b.cv) - b.cnrm2 / 2 DESC, b.c_id) AS rn
       |    FROM sub s JOIN cb b USING (m)) WHERE rn = 1),
       |w AS (SELECT vec_id,
       |    MAX(CASE WHEN m = 0 THEN c_id END) AS k0,
       |    MAX(CASE WHEN m = 1 THEN c_id END) AS k1,
       |    MAX(CASE WHEN m = 2 THEN c_id END) AS k2,
       |    MAX(CASE WHEN m = 3 THEN c_id END) AS k3
       |  FROM codes GROUP BY vec_id),
       |q AS (SELECT vec_id AS q_id, v AS qv,
       |  sqrt(list_dot_product(v, v)) AS qnrm FROM c WHERE vec_id < $nQueries),
       |probes AS (
       |  SELECT q_id, centroid FROM (
       |    SELECT q.q_id, ct.c_id AS centroid,
       |      ROW_NUMBER() OVER (PARTITION BY q.q_id
       |        ORDER BY list_dot_product(q.qv, ct.cv) / (q.qnrm * ct.cnrm) DESC, ct.c_id) AS rn
       |    FROM q CROSS JOIN cents ct) WHERE rn <= $nProbe),
       |lut AS (
       |  SELECT q.q_id, b.m, b.c_id,
       |    list_dot_product(q.qv[b.m*$pqSub+1 : b.m*$pqSub+$pqSub], b.cv) AS d,
       |    b.cnrm2
       |  FROM q CROSS JOIN cb b),
       |scored AS (
       |  SELECT p.q_id, a.vec_id,
       |    (((l0.d + l1.d) + l2.d) + l3.d)
       |      / (q.qnrm * sqrt((((l0.cnrm2 + l1.cnrm2) + l2.cnrm2) + l3.cnrm2))) AS cosine
       |  FROM assigned a
       |  JOIN probes p USING (centroid)
       |  JOIN q ON q.q_id = p.q_id
       |  JOIN w ON w.vec_id = a.vec_id
       |  JOIN lut l0 ON l0.q_id = p.q_id AND l0.m = 0 AND l0.c_id = w.k0
       |  JOIN lut l1 ON l1.q_id = p.q_id AND l1.m = 1 AND l1.c_id = w.k1
       |  JOIN lut l2 ON l2.q_id = p.q_id AND l2.m = 2 AND l2.c_id = w.k2
       |  JOIN lut l3 ON l3.q_id = p.q_id AND l3.m = 3 AND l3.c_id = w.k3
       |  WHERE a.vec_id <> p.q_id),
       |r AS (SELECT q_id, vec_id, cosine,
       |  ROW_NUMBER() OVER (PARTITION BY q_id
       |    ORDER BY cosine DESC, vec_id) AS rank
       |  FROM scored)""".stripMargin

  val simIvfPqTopkSql: String =
    s"""$ivfpqCoreSql
       |SELECT q_id, rank, vec_id, cosine FROM r WHERE rank <= $topK
       |ORDER BY q_id, rank""".stripMargin

  val simPqRerankSql: String =
    s"""$ivfpqCoreSql,
       |cand AS (SELECT q_id, vec_id FROM r WHERE rank <= $rerankN),
       |ex AS (
       |  SELECT cand.q_id, cand.vec_id,
       |    list_dot_product(cv.v, q.qv) / (cv.nrm * q.qnrm) AS cosine
       |  FROM cand JOIN c cv ON cv.vec_id = cand.vec_id
       |  JOIN q ON q.q_id = cand.q_id),
       |rr AS (SELECT q_id, vec_id, cosine,
       |  ROW_NUMBER() OVER (PARTITION BY q_id
       |    ORDER BY cosine DESC, vec_id) AS rank
       |  FROM ex)
       |SELECT q_id, rank, vec_id, cosine FROM rr WHERE rank <= $topK
       |ORDER BY q_id, rank""".stripMargin

  /** The oracle re-encodes every vector (L2 argmin per subspace, same
    * dot-form score and tie-break as the native expression) and
    * re-scores by lookup from the published codebooks. */
  val embedPqSql: String =
    s"""WITH c AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |cb AS (SELECT m, c_id, cv, cnrm2
       |  FROM read_parquet('${graft.Artifacts.oracleRoot("pq_codebooks")}/*.parquet')),
       |ms AS (SELECT unnest(range(0, $pqM)) AS m),
       |sub AS (SELECT c.vec_id, ms.m,
       |  c.v[ms.m*$pqSub+1 : ms.m*$pqSub+$pqSub] AS sv FROM c CROSS JOIN ms),
       |codes AS (
       |  SELECT vec_id, m, c_id FROM (
       |    SELECT s.vec_id, s.m, b.c_id,
       |      ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.m
       |        ORDER BY list_dot_product(s.sv, b.cv) - b.cnrm2 / 2 DESC, b.c_id) AS rn
       |    FROM sub s JOIN cb b USING (m)) WHERE rn = 1),
       |w AS (SELECT vec_id,
       |    MAX(CASE WHEN m = 0 THEN c_id END) AS k0,
       |    MAX(CASE WHEN m = 1 THEN c_id END) AS k1,
       |    MAX(CASE WHEN m = 2 THEN c_id END) AS k2,
       |    MAX(CASE WHEN m = 3 THEN c_id END) AS k3
       |  FROM codes GROUP BY vec_id),
       |q AS (SELECT vec_id AS q_id, v AS qv,
       |  sqrt(list_dot_product(v, v)) AS qnrm FROM c WHERE vec_id < $nQueries),
       |lut AS (
       |  SELECT q.q_id, b.m, b.c_id,
       |    list_dot_product(q.qv[b.m*$pqSub+1 : b.m*$pqSub+$pqSub], b.cv) AS d,
       |    b.cnrm2
       |  FROM q CROSS JOIN cb b),
       |scored AS (
       |  SELECT q.q_id, w.vec_id,
       |    (((l0.d + l1.d) + l2.d) + l3.d)
       |      / (q.qnrm * sqrt((((l0.cnrm2 + l1.cnrm2) + l2.cnrm2) + l3.cnrm2))) AS cosine
       |  FROM w CROSS JOIN q
       |  JOIN lut l0 ON l0.q_id = q.q_id AND l0.m = 0 AND l0.c_id = w.k0
       |  JOIN lut l1 ON l1.q_id = q.q_id AND l1.m = 1 AND l1.c_id = w.k1
       |  JOIN lut l2 ON l2.q_id = q.q_id AND l2.m = 2 AND l2.c_id = w.k2
       |  JOIN lut l3 ON l3.q_id = q.q_id AND l3.m = 3 AND l3.c_id = w.k3
       |  WHERE w.vec_id <> q.q_id),
       |r AS (SELECT q_id, vec_id, cosine,
       |  ROW_NUMBER() OVER (PARTITION BY q_id
       |    ORDER BY cosine DESC, vec_id) AS rank
       |  FROM scored)
       |SELECT q_id, rank, vec_id, cosine FROM r WHERE rank <= $topK
       |ORDER BY q_id, rank""".stripMargin

  /** DuckDB twin of the IVF pipeline, parameterized by where the
    * centroids come from: same argmax tie-break (cosine DESC, c_id —
    * NearestCentroid's strict > keeps the lowest id on ties), same
    * probe and rank rules as the Spark side. */
  /** The corpus + centroids + argmax-assignment CTE prefix shared by
    * every IVF oracle (same tie-break as NearestCentroid's strict >:
    * cosine DESC, c_id) — one definition so the assignment rule can
    * never drift between keys. */
  private def ivfAssignSql(centsCte: String,
      corpusSql: String = "SELECT * FROM embeddings"): String =
    s"""c AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
       |    sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS nrm
       |  FROM ($corpusSql)),
       |cents AS ($centsCte),
       |assigned AS (
       |  SELECT vec_id, v, nrm, c_id AS centroid FROM (
       |    SELECT c.vec_id, c.v, c.nrm, ct.c_id,
       |      ROW_NUMBER() OVER (PARTITION BY c.vec_id
       |        ORDER BY list_dot_product(c.v, ct.cv) / (c.nrm * ct.cnrm) DESC, ct.c_id) AS rn
       |    FROM c CROSS JOIN cents ct) WHERE rn = 1)""".stripMargin

  /** The published-centroid parquet CTE body (resolved per corpus by
    * Verify, see `Artifacts.oracleSqlFor`). */
  private val publishedCentsCte: String =
    "SELECT c_id, cv, cnrm FROM " +
      s"read_parquet('${graft.Artifacts.oracleRoot("ivf_centroids")}/*.parquet')"

  private def ivfOracleSql(centsCte: String): String =
    s"""WITH ${ivfAssignSql(centsCte)},
       |q AS (SELECT vec_id AS q_id, v AS qv, nrm AS qnrm FROM c WHERE vec_id < $nQueries),
       |probes AS (
       |  SELECT q_id, qv, qnrm, centroid FROM (
       |    SELECT q.q_id, q.qv, q.qnrm, ct.c_id AS centroid,
       |      ROW_NUMBER() OVER (PARTITION BY q.q_id
       |        ORDER BY list_dot_product(q.qv, ct.cv) / (q.qnrm * ct.cnrm) DESC, ct.c_id) AS rn
       |    FROM q CROSS JOIN cents ct) WHERE rn <= $nProbe),
       |scored AS (
       |  SELECT p.q_id, a.vec_id,
       |    list_dot_product(a.v, p.qv) / (a.nrm * p.qnrm) AS cosine,
       |    ROW_NUMBER() OVER (PARTITION BY p.q_id
       |      ORDER BY list_dot_product(a.v, p.qv) / (a.nrm * p.qnrm) DESC, a.vec_id) AS rank
       |  FROM assigned a JOIN probes p USING (centroid)
       |  WHERE a.vec_id <> p.q_id)
       |SELECT q_id, rank, vec_id, cosine FROM scored
       |WHERE rank <= $topK
       |ORDER BY q_id, rank""".stripMargin

  /** Seed centroids = corpus vectors 0..k-1, rebuilt inline. */
  val simIvf0TopkSql: String = ivfOracleSql(
    s"SELECT vec_id AS c_id, v AS cv, nrm AS cnrm FROM c WHERE vec_id < $nCentroids")

  /** Lloyd-refined centroids come from the published model parquet —
    * the exact doubles the Spark query ranked against, at the root
    * Verify resolves for the verified corpus. */
  val simIvfTopkSql: String = ivfOracleSql(publishedCentsCte)

  /** Recall@k of the Lloyd-refined IVF index against the exact scan —
    * ANN quality as a first-class QUERY instead of a test-suite
    * number: the eval every vector-store deployment runs after
    * (re)building an index, and the gate a probe/centroid change must
    * pass before rollout. Per query: how many of the exact top-k does
    * the IVF answer recover. `Inspect ivf` measures this across
    * parameter settings; this key makes the deployed setting's
    * recall hash-verifiable data.
    *
    * Scale shape: both inputs are the existing keys' plans (exact scan
    * + probe-pruned IVF); their outputs are O(queries × k) frames, so
    * the intersection join and count are model-sized. The oracle
    * composes both keys' published SQL — any drift in either pipeline
    * OR the published centroid artifact breaks parity here too. */
  /** IVF bucket-balance audit — the index-operations read every
    * vector store exposes (FAISS imbalance_factor, Milvus segment
    * stats): per centroid, how many corpus vectors it owns, its ppm
    * share, and whether it is overfull (> 2× the mean — the signal
    * that the centroid set has drifted from the data distribution
    * and the index should retrain before recall degrades). Empty
    * buckets appear explicitly (wasted probes are the other half of
    * the story).
    *
    * Scale shape: assignment is the zero-shuffle NearestCentroid
    * projection; ONE map-side-combined count per centroid; the
    * centroid id frame and the 1-row corpus total are model-sized
    * broadcasts. Integer ppm, overfull by integer cross-multiply —
    * no doubles. */
  def simIndexStats(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val cents = publishedCentroids(s, dir)
    val c = corpus(s, dir)
    val counts = assignTo(c, cents)
      .groupBy("centroid").agg(count(lit(1)).as("n"))
      // LAZY (r14): k rows post-shuffle; the broadcast total
      // materializes it, the join reads cache — one fewer job
      .localCheckpoint(eager = false)
    // every corpus vector is assigned exactly once, so the corpus
    // total is the sum of the k bucket counts — never a second scan
    val total = counts.agg(sum(col("n")).as("total"))
    val k = cents.ids.length
    cents.ids.toSeq.toDF("centroid")
      .join(counts, Seq("centroid"), "left")
      .crossJoin(broadcast(total))
      .select(col("centroid"),
        coalesce(col("n"), lit(0L)).as("n_vecs"),
        expr("(coalesce(n, 0) * 1000000) div total").as("share_ppm"),
        (coalesce(col("n"), lit(0L)) * k > lit(2L) * col("total"))
          .as("overfull"))
      .orderBy("centroid")
  }

  val simIndexStatsSql: String =
    s"""WITH ${ivfAssignSql(publishedCentsCte)},
       |cnt AS (SELECT centroid, CAST(COUNT(*) AS BIGINT) AS n
       |        FROM assigned GROUP BY 1),
       |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS total,
       |  (SELECT CAST(COUNT(*) AS BIGINT) FROM cents) AS k FROM c)
       |SELECT ct.c_id AS centroid,
       |  COALESCE(cnt.n, 0) AS n_vecs,
       |  CAST((COALESCE(cnt.n, 0) * 1000000) // total AS BIGINT)
       |    AS share_ppm,
       |  COALESCE(cnt.n, 0) * k > 2 * total AS overfull
       |FROM cents ct LEFT JOIN cnt ON cnt.centroid = ct.c_id
       |CROSS JOIN tot ORDER BY 1""".stripMargin

  def simRecall(s: SparkSession, dir: String): DataFrame = {
    val bf = simCosineTopk(s, dir).select(col("q_id"), col("vec_id"))
    val iv = simIvfTopk(s, dir).select(col("q_id"), col("vec_id"))
    val hits = bf.join(iv, Seq("q_id", "vec_id"), "left_semi")
      .groupBy(col("q_id")).agg(count(lit(1)).as("n_hits"))
    bf.select(col("q_id")).distinct()
      .join(hits, Seq("q_id"), "left")
      .select(col("q_id"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        lit(topK.toLong).as("k"))
  }

  lazy val simRecallSql: String =
    s"""WITH bf AS (SELECT q_id, vec_id FROM ($simCosineTopkSql) x),
       |iv AS (SELECT q_id, vec_id FROM ($simIvfTopkSql) y),
       |h AS (
       |  SELECT bf.q_id, COUNT(*) AS n_hits
       |  FROM bf JOIN iv ON bf.q_id = iv.q_id AND bf.vec_id = iv.vec_id
       |  GROUP BY 1)
       |SELECT q.q_id, CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
       |  CAST($topK AS BIGINT) AS k
       |FROM (SELECT DISTINCT q_id FROM bf) q
       |LEFT JOIN h ON q.q_id = h.q_id""".stripMargin

  /** Neighbors per vector in the kNN-graph build. */
  val knnK = 3

  /** Corpus-to-corpus kNN join — every vector's top-k neighbors among
    * ALL vectors: the kNN-GRAPH build behind graph-based dedup,
    * diversity sampling, and HNSW-style index seeding. The existing
    * ANN keys answer "top-k for THESE 10 queries" (a broadcast query
    * side); this one answers it for every corpus row at once, where
    * broadcasting is impossible by definition. Shape: both sides are
    * the same IVF-assigned corpus, self-joined ON THE BUCKET ID —
    * shuffle is Σ bucket² pairs, bucket-local, never the all-pairs
    * n² (the dedup-family discipline applied to the ANN side); both
    * sides pinned to shuffle (at 100 TB neither fits a broadcast;
    * PlanAuditSpec bans the hash-broadcast here). Candidates flow
    * into TopKPerKey bounded heaps, so only ≤ k winners per (vector,
    * partition) shuffle to the final rank. Same-bucket-only probing
    * is the standard kNN-graph approximation (NN-Descent seeds the
    * same way); recall beyond the bucket comes from raising nProbe or
    * graph refinement rounds, both additive scans, not new shapes.
    * Assignment ranks against the PUBLISHED centroid model, so the
    * DuckDB oracle rebuilds assignment + bucket-local ranking from
    * the same doubles end to end. */
  def simKnnJoin(s: SparkSession, dir: String): DataFrame = {
    val assigned = assignTo(corpus(s, dir), publishedCentroids(s, dir))
    val left = assigned.select(col("centroid"), col("vec_id").as("q_id"),
      col("v").as("qv"), col("nrm").as("qnrm"))
    val scored = assigned.join(left.hint("shuffle_hash"), Seq("centroid"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        (dotD(col("v"), col("qv")) / (col("nrm") * col("qnrm"))).as("cosine"))
    ranked(graft.plans.TopKPerKey.topK(scored, Seq("q_id"),
      Seq(col("cosine").desc, col("vec_id")), knnK))
  }

  val simKnnJoinSql: String =
    s"""WITH c AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
       |    sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS nrm
       |  FROM embeddings),
       |cents AS (SELECT c_id, cv, cnrm FROM
       |  read_parquet('${graft.Artifacts.oracleRoot("ivf_centroids")}/*.parquet')),
       |assigned AS (
       |  SELECT vec_id, v, nrm, c_id AS centroid FROM (
       |    SELECT c.vec_id, c.v, c.nrm, ct.c_id,
       |      ROW_NUMBER() OVER (PARTITION BY c.vec_id
       |        ORDER BY list_dot_product(c.v, ct.cv) / (c.nrm * ct.cnrm) DESC, ct.c_id) AS rn
       |    FROM c CROSS JOIN cents ct) WHERE rn = 1),
       |scored AS (
       |  SELECT q.vec_id AS q_id, a.vec_id,
       |    list_dot_product(a.v, q.v) / (a.nrm * q.nrm) AS cosine,
       |    ROW_NUMBER() OVER (PARTITION BY q.vec_id
       |      ORDER BY list_dot_product(a.v, q.v) / (a.nrm * q.nrm) DESC, a.vec_id) AS rank
       |  FROM assigned a JOIN assigned q USING (centroid)
       |  WHERE a.vec_id <> q.vec_id)
       |SELECT q_id, rank, vec_id, cosine FROM scored
       |WHERE rank <= $knnK
       |ORDER BY q_id, rank""".stripMargin

  /** MaxSim geometry: token vectors per document, number of query
    * documents, and the full-document dot count (tokens²) that gates
    * partial trailing docs out of both engines identically. */
  val maxsimTokens = 8
  val maxsimQueryDocs = 2

  /** ColBERT-style late-interaction scoring (MaxSim): documents are
    * BAGS of token vectors (8 consecutive embedding rows here), and a
    * query-document score is Σ over query tokens of the MAX dot
    * product against any document token. This is the multi-vector
    * retrieval model single-vector ANN cannot express — a document
    * matching every query token somewhere beats one whose single
    * pooled vector is mediocre everywhere.
    *
    * Float determinism: per-token maxes are order-independent
    * (max commutes); the 8-term sum is one EXPLICITLY-PARENTHESIZED
    * left fold mirrored textually in the oracle, so both engines run
    * the identical IEEE tree (§4 extended to late interaction).
    *
    * Scale shape: query token vectors broadcast (bounded — the
    * sim_cosine_topk contract); the corpus streams ONCE through the
    * dot + conditional-max aggregate with map-side combine (state =
    * 8 doubles per (query, doc) — never the token-pair matrix);
    * winners flow through TopKPerKey bounded heaps. At 100 TB the
    * production variant gates candidates through an ANN probe first
    * (sim_ivf_topk composes in front), but the scoring kernel is
    * exactly this aggregate. */
  def simMaxsim(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.load(s, dir, "embeddings")
    val toks = emb.select(
      expr(s"vec_id div $maxsimTokens").as("doc"), col("embedding").as("v"))
    val q = emb.filter(col("vec_id") < maxsimTokens * maxsimQueryDocs)
      .select(expr(s"vec_id div $maxsimTokens").as("q_doc"),
        (col("vec_id") % maxsimTokens).as("tok"), col("embedding").as("qv"))
    val dots = toks.join(broadcast(q), col("doc") =!= col("q_doc"))
      .select(col("q_doc"), col("tok"), col("doc").as("c_doc"),
        dotD(col("v"), col("qv")).as("d"))
    val aggs = (0 until maxsimTokens).map(k =>
      max(when(col("tok") === k, col("d"))).as(s"m$k")) :+
      count(lit(1)).as("n_dots")
    val sumExpr = (1 until maxsimTokens)
      .foldLeft("m0")((acc, k) => s"($acc + m$k)")
    val scored = dots.groupBy("q_doc", "c_doc")
      .agg(aggs.head, aggs.tail: _*)
      .filter(col("n_dots") === maxsimTokens * maxsimTokens)
      .select(col("q_doc"), col("c_doc"), expr(sumExpr).as("score"))
    val top = graft.plans.TopKPerKey.topK(scored, Seq("q_doc"),
      Seq(col("score").desc, col("c_doc")), topK)
    val w = Window.partitionBy(col("q_doc"))
      .orderBy(col("score").desc, col("c_doc"))
    top.withColumn("rank", row_number().over(w).cast(LongType))
      .select("q_doc", "rank", "c_doc", "score")
      .orderBy("q_doc", "rank")
  }

  val simMaxsimSql: String = {
    val maxCols = (0 until maxsimTokens)
      .map(k => s"MAX(CASE WHEN tok = $k THEN d END) AS m$k")
      .mkString(",\n       |    ")
    val sumExpr = (1 until maxsimTokens)
      .foldLeft("m0")((acc, k) => s"($acc + m$k)")
    s"""WITH c AS (
       |  SELECT vec_id, vec_id // $maxsimTokens AS doc,
       |    CAST(embedding AS DOUBLE[]) AS v
       |  FROM embeddings),
       |q AS (
       |  SELECT vec_id // $maxsimTokens AS q_doc,
       |    vec_id % $maxsimTokens AS tok, v AS qv
       |  FROM c WHERE vec_id < ${maxsimTokens * maxsimQueryDocs}),
       |dots AS (
       |  SELECT q.q_doc, q.tok, c.doc AS c_doc,
       |    list_dot_product(c.v, q.qv) AS d
       |  FROM c CROSS JOIN q WHERE c.doc <> q.q_doc),
       |m AS (
       |  SELECT q_doc, c_doc,
       |    $maxCols
       |  FROM dots GROUP BY q_doc, c_doc
       |  HAVING COUNT(*) = ${maxsimTokens * maxsimTokens}),
       |s AS (
       |  SELECT q_doc, c_doc, $sumExpr AS score,
       |    ROW_NUMBER() OVER (PARTITION BY q_doc
       |      ORDER BY $sumExpr DESC, c_doc) AS rank
       |  FROM m)
       |SELECT q_doc, rank, c_doc, score FROM s
       |WHERE rank <= $topK ORDER BY q_doc, rank""".stripMargin
  }

  /** Maximum-inner-product search via norm augmentation — the
    * recommender-scoring retrieval (user·item raw dot products,
    * where vector MAGNITUDE is signal) that cosine ANN cannot serve
    * directly. The classic reduction (Bachrach et al. 2014, RecSys):
    * append sqrt(M² − ‖x‖²) to every corpus vector (M = max corpus
    * norm) so all augmented norms equal M, and pad queries with 0 —
    * in the augmented space cosine ORDER equals inner-product order,
    * so the engine's existing IVF bucketing (NearestCentroid argmax,
    * probe ranking) applies unchanged; final candidate scoring is
    * the RAW dot product (the pad contributes qᵢ·0). Centroids are
    * the first-k augmented corpus vectors (the sim_ivf0 convention:
    * fully oracle-recomputable, no model artifact).
    *
    * Scale shape: identical to sim_ivf0_topk — M and the k seed
    * vectors are driver scalars/KBs, assignment is the native
    * expression argmax (zero corpus shuffle), probed buckets feed
    * TopKPerKey's bounded heaps. The augmentation is one extra
    * element per vector: memory ε, plan unchanged. */
  def simMipsTopk(s: SparkSession, dir: String): DataFrame = {
    val c = corpus(s, dir)
      .select(col("vec_id"), expr("cast(v as array<double>)").as("vd"),
        col("nrm"))
    val mVal = c.agg(max(col("nrm"))).head.getDouble(0)
    val caug = c.select(col("vec_id"), col("vd"),
      concat(col("vd"),
        array(sqrt(lit(mVal) * lit(mVal) - col("nrm") * col("nrm"))))
        .as("va"))
    val seeds = caug.filter(col("vec_id") < nCentroids)
      .select(col("vec_id"), col("va")).collect().sortBy(_.getLong(0))
    val cents = Centroids(seeds.map(_.getLong(0).toInt),
      seeds.map(_.getAs[Seq[Double]]("va").toArray),
      seeds.map(_ => mVal))
    val assigned = caug.select(col("vec_id"), col("vd"),
      nearestCentroid(col("va"), lit(mVal), cents).as("centroid"))
    val q = c.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("vd").as("qv"),
        col("nrm").as("qnrm"),
        concat(col("vd"), array(lit(0.0d))).as("qa"))
    val wq = Window.partitionBy(col("q_id"))
      .orderBy(col("cos_c").desc, col("c_id"))
    val probes = q.crossJoin(broadcast(cents.toDF(s)))
      .select(col("q_id"), col("qv"), col("c_id"),
        (dotD(col("qa"), col("cv")) / (col("qnrm") * col("cnrm")))
          .as("cos_c"))
      .withColumn("rn", row_number().over(wq)).filter(col("rn") <= nProbe)
      .select(col("q_id"), col("qv"), col("c_id").as("centroid"))
    val scored = assigned.join(broadcast(probes), Seq("centroid"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"), dotD(col("vd"), col("qv")).as("ip"))
    val top = graft.plans.TopKPerKey.topK(scored, Seq("q_id"),
      Seq(col("ip").desc, col("vec_id")), topK)
    top.withColumn("rank", row_number().over(
        Window.partitionBy(col("q_id"))
          .orderBy(col("ip").desc, col("vec_id"))).cast(LongType))
      .select("q_id", "rank", "vec_id", "ip")
      .orderBy("q_id", "rank")
  }

  val simMipsTopkSql: String =
    s"""WITH c AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
       |    sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
       |      CAST(embedding AS DOUBLE[]))) AS nrm
       |  FROM embeddings),
       |mm AS (SELECT MAX(nrm) AS m FROM c),
       |ca AS (
       |  SELECT vec_id, v,
       |    list_append(v, sqrt(m * m - nrm * nrm)) AS va, m, nrm
       |  FROM c CROSS JOIN mm),
       |cents AS (
       |  SELECT vec_id AS c_id, va AS cv FROM ca
       |  WHERE vec_id < $nCentroids),
       |assigned AS (
       |  SELECT vec_id, v, centroid FROM (
       |    SELECT ca.vec_id, ca.v, ct.c_id AS centroid,
       |      ROW_NUMBER() OVER (PARTITION BY ca.vec_id
       |        ORDER BY list_dot_product(ca.va, ct.cv) / (ca.m * ca.m)
       |          DESC, ct.c_id) AS rn
       |    FROM ca CROSS JOIN cents ct) WHERE rn = 1),
       |q AS (
       |  SELECT vec_id AS q_id, v AS qv, nrm AS qnrm,
       |    list_append(v, 0.0) AS qa, m
       |  FROM ca WHERE vec_id < $nQueries),
       |probes AS (
       |  SELECT q_id, qv, centroid FROM (
       |    SELECT q.q_id, q.qv, ct.c_id AS centroid,
       |      ROW_NUMBER() OVER (PARTITION BY q.q_id
       |        ORDER BY list_dot_product(q.qa, ct.cv) / (q.qnrm * q.m)
       |          DESC, ct.c_id) AS rn
       |    FROM q CROSS JOIN cents ct) WHERE rn <= $nProbe),
       |scored AS (
       |  SELECT p.q_id, a.vec_id,
       |    list_dot_product(a.v, p.qv) AS ip,
       |    ROW_NUMBER() OVER (PARTITION BY p.q_id
       |      ORDER BY list_dot_product(a.v, p.qv) DESC, a.vec_id) AS rank
       |  FROM assigned a JOIN probes p USING (centroid)
       |  WHERE a.vec_id <> p.q_id)
       |SELECT q_id, rank, vec_id, ip FROM scored
       |WHERE rank <= $topK
       |ORDER BY q_id, rank""".stripMargin

  /** Radius floor for sim_range_search (fixture-calibrated: ~43
    * full-corpus matches for the 10 queries, so the probed subset
    * stays non-empty without saturating). */
  val rangeTau = 0.3

  /** IVF RADIUS search — the other retrieval mode every vector store
    * ships beside top-k (find ALL sufficiently-similar items:
    * near-dup candidates for one document, recall sets for
    * evaluation, "more like this" feeds with a quality floor rather
    * than a count): every corpus vector within cosine ≥ τ of each
    * query, scanned through the SAME published-centroid probe
    * machinery as sim_ivf_topk (nProbe cells per query), exact
    * cosine on probed cells only. Unlike top-k, result size is
    * data-dependent — which is exactly why the radius form needs the
    * IVF bound: an unprobed brute-force radius scan is the full
    * cross product at 100 TB.
    *
    * Scale shape: probe selection ranks nQueries×k rows (bounded);
    * the bucket scan joins probes to the assigned corpus by centroid
    * (probes broadcast — O(queries·nProbe) rows); matches stream out
    * with no top-k heap at all (the threshold IS the cut, no sort
    * until the model-sized ordered output). */
  def simRangeSearch(s: SparkSession, dir: String): DataFrame = {
    val cents = publishedCentroids(s, dir)
    val c = corpus(s, dir)
    val assigned = assignTo(c, cents)
    val q = c.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("v").as("qv"),
        col("nrm").as("qnrm"))
    val wq = Window.partitionBy(col("q_id"))
      .orderBy(col("cos_c").desc, col("c_id"))
    val probes = q.crossJoin(broadcast(cents.toDF(s)))
      .select(col("q_id"), col("qv"), col("qnrm"), col("c_id"),
        (dotD(col("qv"), col("cv")) / (col("qnrm") * col("cnrm")))
          .as("cos_c"))
      .withColumn("rn", row_number().over(wq)).filter(col("rn") <= nProbe)
      .select(col("q_id"), col("qv"), col("qnrm"),
        col("c_id").as("centroid"))
    assigned.join(broadcast(probes), Seq("centroid"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        (dotD(col("v"), col("qv")) / (col("nrm") * col("qnrm")))
          .as("cosine"))
      .filter(col("cosine") >= rangeTau)
      .orderBy("q_id", "vec_id")
  }

  val simRangeSearchSql: String =
    s"""WITH ${ivfAssignSql(publishedCentsCte)},
       |q AS (SELECT vec_id AS q_id, v AS qv, nrm AS qnrm FROM c
       |  WHERE vec_id < $nQueries),
       |probes AS (
       |  SELECT q_id, qv, qnrm, centroid FROM (
       |    SELECT q.q_id, q.qv, q.qnrm, ct.c_id AS centroid,
       |      ROW_NUMBER() OVER (PARTITION BY q.q_id
       |        ORDER BY list_dot_product(q.qv, ct.cv) / (q.qnrm * ct.cnrm) DESC, ct.c_id) AS rn
       |    FROM q CROSS JOIN cents ct) WHERE rn <= $nProbe)
       |SELECT p.q_id, a.vec_id,
       |  list_dot_product(a.v, p.qv) / (a.nrm * p.qnrm) AS cosine
       |FROM assigned a JOIN probes p USING (centroid)
       |WHERE a.vec_id <> p.q_id
       |  AND list_dot_product(a.v, p.qv) / (a.nrm * p.qnrm) >= $rangeTau
       |ORDER BY q_id, vec_id""".stripMargin

  /** Matryoshka prefix width: retrieval re-ranked with only the
    * first 16 of 64 dimensions. */
  val matryoshkaDim = 16

  /** Matryoshka-representation retrieval eval (Kusupati et al. 2022,
    * arXiv 2205.13147) — the question every MRL deployment asks
    * before cutting serving cost 4×: how much of exact full-dim
    * top-k does the PREFIX of the embedding recover? Per query: the
    * overlap between the exact 64-dim top-k and the exact top-k
    * ranked by the first 16 dims only, as integer recall ppm. On
    * random fixture vectors the prefix carries ~1/4 of the signal,
    * so recall lands strictly between floor and ceiling — the spec
    * pins both bounds so a slice/indexing bug (off-by-one, wrong
    * axis) that collapses recall to 0 or inflates it to 1 fails
    * loud.
    *
    * Scale shape: two brute-force rankings through the bounded-heap
    * TopKPerKey operator (queries broadcast, corpus streams once per
    * ranking, nothing corpus-sized sorts or shuffles); the overlap
    * join runs on the O(queries·k) winner frames. Output is pure
    * integers — cosines only gate the rankings. */
  def embedMatryoshka(s: SparkSession, dir: String): DataFrame = {
    def topkOf(cc: DataFrame): DataFrame = {
      val q = cc.filter(col("vec_id") < nQueries)
        .select(col("vec_id").as("q_id"), col("v").as("qv"),
          col("nrm").as("qnrm"))
      val scored = cc.join(broadcast(q), col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id"),
          (dotD(col("v"), col("qv")) / (col("nrm") * col("qnrm")))
            .as("cosine"))
      graft.plans.TopKPerKey.topK(scored, Seq("q_id"),
        Seq(col("cosine").desc, col("vec_id")), topK)
    }
    val pre = corpus(s, dir)
      .select(col("vec_id"), expr(s"slice(v, 1, $matryoshkaDim)").as("v"))
      .select(col("vec_id"), col("v"),
        sqrt(dotD(col("v"), col("v"))).as("nrm"))
    val full = topkOf(corpus(s, dir)).select(col("q_id"), col("vec_id"))
    val prefix = topkOf(pre)
      .select(col("q_id").as("pq"), col("vec_id").as("pv"))
    full.join(prefix,
        col("q_id") === col("pq") && col("vec_id") === col("pv"), "left")
      .groupBy("q_id")
      .agg(count(col("pv")).as("n_common"))
      .withColumn("recall_ppm",
        expr(s"cast((n_common * 1000000) div $topK as bigint)"))
      .orderBy("q_id")
  }

  val embedMatryoshkaSql: String =
    s"""WITH c AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
       |    sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS nrm
       |  FROM embeddings),
       |cp AS (
       |  SELECT vec_id, v[1:$matryoshkaDim] AS v,
       |    sqrt(list_dot_product(v[1:$matryoshkaDim], v[1:$matryoshkaDim])) AS nrm
       |  FROM c),
       |qf AS (SELECT vec_id AS q_id, v AS qv, nrm AS qnrm FROM c
       |  WHERE vec_id < $nQueries),
       |qp AS (SELECT vec_id AS q_id, v AS qv, nrm AS qnrm FROM cp
       |  WHERE vec_id < $nQueries),
       |fr AS (
       |  SELECT q_id, vec_id FROM (
       |    SELECT q_id, vec_id,
       |      ROW_NUMBER() OVER (PARTITION BY q_id
       |        ORDER BY list_dot_product(c.v, q.qv) / (c.nrm * q.qnrm) DESC, vec_id) AS rank
       |    FROM c CROSS JOIN qf q WHERE c.vec_id <> q.q_id)
       |  WHERE rank <= $topK),
       |pr AS (
       |  SELECT q_id, vec_id FROM (
       |    SELECT q_id, vec_id,
       |      ROW_NUMBER() OVER (PARTITION BY q_id
       |        ORDER BY list_dot_product(cp.v, q.qv) / (cp.nrm * q.qnrm) DESC, vec_id) AS rank
       |    FROM cp CROSS JOIN qp q WHERE cp.vec_id <> q.q_id)
       |  WHERE rank <= $topK)
       |SELECT f.q_id, COUNT(p.vec_id) AS n_common,
       |  CAST(COUNT(p.vec_id) * 1000000 // $topK AS BIGINT)
       |    AS recall_ppm
       |FROM fr f LEFT JOIN pr p ON f.q_id = p.q_id AND f.vec_id = p.vec_id
       |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Near-dup cosine floor for sim_semdedup — the dedup family's 0.9
    * (planted exact copies sit at 1.0, the perturbed copies ≥0.9,
    * the fixture's natural pair max is ~0.51: clean margin both
    * ways). */
  val semDedupTau = 0.9

  /** SemDeDup-style semantic pruning (Abbas et al. 2023, arXiv
    * 2303.09540) — the missing link between dedup_embed_cosine's
    * global LSH bands and the IVF cluster machinery: assign every
    * vector to its nearest published centroid, then verify exact
    * cosine ONLY within each cell and emit per-vector prune
    * decisions. Pair volume is Σcell² (never n²) by construction —
    * no cross-cell pair is ever materialized (spec-asserted), which
    * is also SemDeDup's documented recall tradeoff: a near-dup split
    * across cells is missed, a cost the paper accepts for corpus-
    * scale tractability (k ≈ √n cells at deploy, the IVF contract).
    *
    * Survivorship is the dedup family's deterministic min-id rule: a
    * vector is pruned iff an EARLIER-id near-dup (cos ≥ 0.9) shares
    * its cell, keeping exactly the lowest id of every cell-local dup
    * chain (the keep-"best" variant is dedup_keep_best's separate
    * key). Corpus is the planted-duplicate twin the whole dedup
    * family audits against. Cosines are the mirrored IEEE tree
    * (DotProductD ↔ list_dot_product), so the ≥ τ cut is
    * bit-deterministic in both engines.
    *
    * Scale shape: assignment is the zero-shuffle NearestCentroid
    * projection; the cell-local self-join shuffles on centroid
    * (shuffle_hash pinned — both sides corpus-sized); the prune
    * aggregate collapses to one row per pruned vector before the
    * id-keyed join back. Output is integer ids + booleans only. */
  def simSemdedup(s: SparkSession, dir: String): DataFrame = {
    val vecs = DedupOps.dupVecs(s, dir)
      .select(col("vec_id"), col("embedding").as("v"),
        sqrt(dotD(col("embedding"), col("embedding"))).as("nrm"))
    val assigned = assignTo(vecs, publishedCentroids(s, dir))
    val a = assigned.select(col("centroid"), col("vec_id").as("a_id"),
      col("v").as("av"), col("nrm").as("anrm"))
    val b = assigned.select(col("centroid"), col("vec_id").as("b_id"),
      col("v").as("bv"), col("nrm").as("bnrm"))
    val dups = a.hint("shuffle_hash").join(b, Seq("centroid"))
      .filter(col("a_id") < col("b_id"))
      .filter(dotD(col("av"), col("bv")) / (col("anrm") * col("bnrm"))
        >= semDedupTau)
      .groupBy(col("b_id"))
      .agg(min(col("a_id")).as("dup_of"), count(lit(1)).as("n_dups"))
    assigned.select(col("vec_id"), col("centroid"))
      .join(dups.hint("shuffle_hash"),
        col("vec_id") === col("b_id"), "left")
      .select(col("vec_id"), col("centroid"),
        col("dup_of").isNotNull.as("is_pruned"), col("dup_of"),
        coalesce(col("n_dups"), lit(0L)).as("n_dups"))
      .orderBy("vec_id")
  }

  val simSemdedupSql: String =
    s"""WITH ${ivfAssignSql(publishedCentsCte, DedupOps.dupVecsSql)},
       |dups AS (
       |  SELECT b.vec_id AS b_id, MIN(a.vec_id) AS dup_of,
       |    COUNT(*) AS n_dups
       |  FROM assigned a JOIN assigned b
       |    ON a.centroid = b.centroid AND a.vec_id < b.vec_id
       |    AND list_dot_product(a.v, b.v) / (a.nrm * b.nrm)
       |      >= $semDedupTau
       |  GROUP BY 1)
       |SELECT s.vec_id, s.centroid, d.b_id IS NOT NULL AS is_pruned,
       |  d.dup_of, CAST(COALESCE(d.n_dups, 0) AS BIGINT) AS n_dups
       |FROM assigned s LEFT JOIN dups d ON s.vec_id = d.b_id
       |ORDER BY s.vec_id""".stripMargin

  /** MMR shortlist size and selection count. λ is fixed at 1/2
    * (relevance and redundancy weighted equally — the published
    * default); the `0.5 *` factors are spelled identically in both
    * engines so the greedy argmax compares bit-identical doubles. */
  val mmrShortlist = 20
  val mmrK = 5

  /** Maximal-Marginal-Relevance reranking (Carbonell & Goldstein
    * 1998) — the diversity pass every retrieval stack runs between
    * ANN and the context window: from each query's top-$mmrShortlist
    * shortlist, greedily pick $mmrK items maximizing
    * λ·cos(q,d) − (1−λ)·max_{s∈picked} cos(d,s), so near-duplicate
    * hits don't crowd out coverage (RAG context assembly, search
    * result diversification, eval-set curation).
    *
    * Scale shape: candidate generation is the expensive half and
    * reuses the bounded-heap TopKPerKey scan (corpus streams once,
    * never sorts); everything after operates on O(queries·m) winner
    * frames and their O(queries·m²) pairwise-cosine table — model-
    * sized at any corpus scale, exactly how production MMR runs
    * (rerank the shortlist, never the corpus). The k−1 greedy rounds
    * are unrolled joins over those bounded frames, each round's
    * picked set pinned by [[Fixpoint.unroll]] so lineage stays flat.
    * Ties break on vec_id; all cosine trees are the
    * mirrored IEEE form, so the argmax is bit-deterministic. */
  def simMmrRerank(s: SparkSession, dir: String): DataFrame = {
    val c = corpus(s, dir)
    val q = c.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("v").as("qv"),
        col("nrm").as("qnrm"))
    val scored = c.join(broadcast(q), col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"), col("v"), col("nrm"),
        (dotD(col("v"), col("qv")) / (col("nrm") * col("qnrm"))).as("rel"))
    val candV = graft.plans.TopKPerKey.topK(scored, Seq("q_id"),
      Seq(col("rel").desc, col("vec_id")), mmrShortlist)
      .localCheckpoint(eager = false)
    val cand = candV.select("q_id", "vec_id", "rel")
    val pairs = candV
      .select(col("q_id"), col("vec_id").as("a_id"), col("v").as("av"),
        col("nrm").as("anrm"))
      .join(candV.select(col("q_id"), col("vec_id").as("b_id"),
        col("v").as("bv"), col("nrm").as("bnrm")), Seq("q_id"))
      .filter(col("a_id") =!= col("b_id"))
      .select(col("q_id"), col("a_id"), col("b_id"),
        (dotD(col("av"), col("bv")) / (col("anrm") * col("bnrm"))).as("pc"))
      .localCheckpoint(eager = false)
    val w1 = Window.partitionBy(col("q_id"))
      .orderBy(col("rel").desc, col("vec_id"))
    val first = cand
      .withColumn("rn", row_number().over(w1)).filter(col("rn") === 1)
      .select(col("q_id"), lit(1).as("rnd"), col("vec_id"), col("rel"),
        lit(null).cast("double").as("red"))
    val picked = Fixpoint.unroll(first, mmrK - 1) { (selected, r) =>
      val t = r + 1
      val selKeys = selected.select(col("q_id"), col("vec_id"))
      val remaining = cand.join(selKeys, Seq("q_id", "vec_id"), "left_anti")
      // redundancy of each candidate vs the picked set: max pairwise
      // cosine (every candidate pairs with every picked item, so the
      // join is total over `remaining`)
      val red = pairs
        .join(selKeys.withColumnRenamed("vec_id", "b_id"), Seq("q_id", "b_id"))
        .groupBy(col("q_id"), col("a_id")).agg(max(col("pc")).as("red"))
        .withColumnRenamed("a_id", "vec_id")
      val wt = Window.partitionBy(col("q_id"))
        .orderBy((lit(0.5) * col("rel") - lit(0.5) * col("red")).desc,
          col("vec_id"))
      val selT = remaining.join(red, Seq("q_id", "vec_id"))
        .withColumn("rn", row_number().over(wt)).filter(col("rn") === 1)
        .select(col("q_id"), lit(t).as("rnd"), col("vec_id"), col("rel"),
          col("red"))
      selected.unionByName(selT)
    }
    picked.orderBy("q_id", "rnd")
  }

  val simMmrRerankSql: String = {
    val base =
      s"""WITH c AS (
         |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
         |    sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS nrm
         |  FROM embeddings),
         |q AS (SELECT vec_id AS q_id, v AS qv, nrm AS qnrm FROM c WHERE vec_id < $nQueries),
         |cand AS (
         |  SELECT q_id, vec_id, rel FROM (
         |    SELECT q.q_id, c.vec_id,
         |      list_dot_product(c.v, q.qv) / (c.nrm * q.qnrm) AS rel,
         |      ROW_NUMBER() OVER (PARTITION BY q.q_id
         |        ORDER BY list_dot_product(c.v, q.qv) / (c.nrm * q.qnrm) DESC, c.vec_id) AS rn
         |    FROM c CROSS JOIN q WHERE c.vec_id <> q.q_id)
         |  WHERE rn <= $mmrShortlist),
         |pairs AS (
         |  SELECT a.q_id, a.vec_id AS a_id, b.vec_id AS b_id,
         |    list_dot_product(av.v, bv.v) / (av.nrm * bv.nrm) AS pc
         |  FROM cand a JOIN cand b ON a.q_id = b.q_id AND a.vec_id <> b.vec_id
         |  JOIN c av ON av.vec_id = a.vec_id
         |  JOIN c bv ON bv.vec_id = b.vec_id),
         |sel1 AS (
         |  SELECT q_id, 1 AS rnd, vec_id, rel, CAST(NULL AS DOUBLE) AS red FROM (
         |    SELECT q_id, vec_id, rel,
         |      ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY rel DESC, vec_id) AS rn
         |    FROM cand) WHERE rn = 1)""".stripMargin
    val rounds = (2 to mmrK).map { t =>
      val prev = (1 until t).map(i => s"SELECT q_id, vec_id FROM sel$i")
        .mkString(" UNION ALL ")
      s"""sel$t AS (
         |  SELECT q_id, $t AS rnd, vec_id, rel, red FROM (
         |    SELECT r.q_id, r.vec_id, r.rel, rd.red,
         |      ROW_NUMBER() OVER (PARTITION BY r.q_id
         |        ORDER BY 0.5 * r.rel - 0.5 * rd.red DESC, r.vec_id) AS rn
         |    FROM cand r
         |    JOIN (SELECT p.q_id, p.a_id, MAX(p.pc) AS red FROM pairs p
         |          JOIN ($prev) s ON p.q_id = s.q_id AND p.b_id = s.vec_id
         |          GROUP BY p.q_id, p.a_id) rd
         |      ON rd.q_id = r.q_id AND rd.a_id = r.vec_id
         |    WHERE NOT EXISTS (SELECT 1 FROM ($prev) s2
         |      WHERE s2.q_id = r.q_id AND s2.vec_id = r.vec_id))
         |  WHERE rn = 1)""".stripMargin
    }
    val union = (1 to mmrK).map(i => s"SELECT * FROM sel$i")
      .mkString(" UNION ALL ")
    (base +: rounds).mkString(",\n") + s"\n$union ORDER BY q_id, rnd"
  }

  /** Hybrid-retrieval shortlist depth, fused cut, and the RRF
    * damping constant (60 — the value from Cormack/Clarke/Buettcher
    * 2009 that every production fusion ships). */
  val hybridM = 20
  val hybridK = 10
  val rrfK0 = 60

  /** Hybrid lexical+vector retrieval with Reciprocal-Rank Fusion
    * (Cormack et al. 2009) — the retrieval shape RAG stacks actually
    * deploy: BM25-family lexical candidates and ANN vector candidates
    * fused by 1/(k₀+rank), so exact-term matches and semantic matches
    * both surface without score-scale calibration. Lexical score is
    * the term-frequency histogram intersection Σ_w min(tf_q, tf_d);
    * vector score is exact cosine; each side ranks its own top-m and
    * fusion is PURE INTEGER arithmetic — rank-contribution
    * 1000000 div (k₀+rank) with both engines' truncating integer
    * division, so the fused order is exact, no float anywhere.
    * documents.doc_id ≡ embeddings.vec_id (the doc's embedding).
    *
    * Scale shape: the lexical side is an inverted-index join — tf
    * tables shuffle on the TOKEN key (the posting-list layout),
    * query tf broadcast (O(queries·doclen)); the vector side is the
    * sim_cosine_topk broadcast scan; BOTH sides cut to m per query
    * through bounded-heap TopKPerKey before anything sorts, and
    * fusion runs on O(queries·m) frames. At 100 TB each side is the
    * already-audited retrieval plan; fusion cost never grows. */
  /** The vector arm shared by BOTH hybrid keys: exact-cosine ranks
    * of the corpus against the first nQ vectors, cut to hybridM
    * through the bounded heap — ONE copy of the §4-mirrored cosine
    * tree so the two fusions can never drift. */
  private def vecRanks(s: SparkSession, dir: String, nQ: Int): DataFrame = {
    val c = corpus(s, dir)
    val qv = c.filter(col("vec_id") < nQ)
      .select(col("vec_id").as("q_id"), col("v").as("qv"),
        col("nrm").as("qnrm"))
    val vecScored = c.join(broadcast(qv), col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("doc_id"),
        (dotD(col("v"), col("qv")) / (col("nrm") * col("qnrm"))).as("cosine"))
    val wv = Window.partitionBy(col("q_id"))
      .orderBy(col("cosine").desc, col("doc_id"))
    graft.plans.TopKPerKey.topK(vecScored, Seq("q_id"),
        Seq(col("cosine").desc, col("doc_id")), hybridM)
      .withColumn("vec_rank", row_number().over(wv))
      .select("q_id", "doc_id", "vec_rank")
  }

  /** Pure-integer RRF fusion of two rank lists, cut to hybridK —
    * ONE copy of the fusion arithmetic for both hybrid keys. */
  private def rrfFuse(lex: DataFrame, vec: DataFrame): DataFrame = {
    val fused = lex.join(vec, Seq("q_id", "doc_id"), "full_outer")
      .withColumn("rrf", expr(
        s"CAST(coalesce(1000000 div ($rrfK0 + lex_rank), 0)" +
          s" + coalesce(1000000 div ($rrfK0 + vec_rank), 0) AS BIGINT)"))
    val wf = Window.partitionBy(col("q_id"))
      .orderBy(col("rrf").desc, col("doc_id"))
    fused.withColumn("rank", row_number().over(wf))
      .filter(col("rank") <= hybridK)
      .select("q_id", "rank", "doc_id", "rrf", "lex_rank", "vec_rank")
      .orderBy("q_id", "rank")
  }

  def simHybridRrf(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(s, dir, "documents")
    val tf = docs.select(col("doc_id"),
        explode(expr("filter(split(lower(text), '[^a-z]+'), x -> x != '')"))
          .as("w"))
      .groupBy("doc_id", "w").agg(count(lit(1)).as("tf"))
    val qtf = tf.filter(col("doc_id") < nQueries)
      .select(col("doc_id").as("q_id"), col("w"), col("tf").as("qtf"))
    val lexScored = tf.join(broadcast(qtf), Seq("w"))
      .filter(col("doc_id") =!= col("q_id"))
      .groupBy("q_id", "doc_id")
      .agg(sum(least(col("tf"), col("qtf"))).as("lscore"))
    val wl = Window.partitionBy(col("q_id"))
      .orderBy(col("lscore").desc, col("doc_id"))
    val lex = graft.plans.TopKPerKey.topK(lexScored, Seq("q_id"),
        Seq(col("lscore").desc, col("doc_id")), hybridM)
      .withColumn("lex_rank", row_number().over(wl))
      .select("q_id", "doc_id", "lex_rank")
    rrfFuse(lex, vecRanks(s, dir, nQueries))
  }

  /** Shared oracle CTE text for the vector arm (c, vq, vec) — ONE
    * copy of the cosine/rank formula for both hybrid keys (§4). */
  private def vecCtesSql(nQ: Int): String =
    s"""c AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
       |    sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS nrm
       |  FROM embeddings),
       |vq AS (SELECT vec_id AS q_id, v AS qv, nrm AS qnrm FROM c
       |  WHERE vec_id < $nQ),
       |vec AS (
       |  SELECT q_id, doc_id, vec_rank FROM (
       |    SELECT vq.q_id, c.vec_id AS doc_id,
       |      CAST(ROW_NUMBER() OVER (PARTITION BY vq.q_id
       |        ORDER BY list_dot_product(c.v, vq.qv) / (c.nrm * vq.qnrm) DESC, c.vec_id) AS INT) AS vec_rank
       |    FROM c CROSS JOIN vq WHERE c.vec_id <> vq.q_id) WHERE vec_rank <= $hybridM)""".stripMargin

  /** Shared oracle fusion tail (fused + final cut) — ONE copy of the
    * integer-RRF arithmetic for both hybrid keys. */
  private val rrfFuseTailSql: String =
    s"""fused AS (
       |  SELECT COALESCE(l.q_id, v.q_id) AS q_id,
       |    COALESCE(l.doc_id, v.doc_id) AS doc_id, l.lex_rank, v.vec_rank,
       |    CAST(COALESCE(1000000 // ($rrfK0 + l.lex_rank), 0)
       |      + COALESCE(1000000 // ($rrfK0 + v.vec_rank), 0) AS BIGINT) AS rrf
       |  FROM lex l FULL OUTER JOIN vec v
       |    ON l.q_id = v.q_id AND l.doc_id = v.doc_id)
       |SELECT q_id, rank, doc_id, rrf, lex_rank, vec_rank FROM (
       |  SELECT q_id, CAST(ROW_NUMBER() OVER (PARTITION BY q_id
       |      ORDER BY rrf DESC, doc_id) AS INT) AS rank,
       |    doc_id, rrf, lex_rank, vec_rank
       |  FROM fused) WHERE rank <= $hybridK
       |ORDER BY q_id, rank""".stripMargin

  val simHybridRrfSql: String =
    s"""WITH tf AS (
       |  SELECT doc_id, w, COUNT(*) AS tf FROM (
       |    SELECT doc_id,
       |      unnest(list_filter(string_split_regex(lower(text), '[^a-z]+'),
       |        x -> x <> '')) AS w
       |    FROM documents) GROUP BY doc_id, w),
       |lexs AS (
       |  SELECT q.doc_id AS q_id, d.doc_id,
       |    CAST(SUM(LEAST(q.tf, d.tf)) AS BIGINT) AS lscore
       |  FROM tf q JOIN tf d ON q.w = d.w AND d.doc_id <> q.doc_id
       |  WHERE q.doc_id < $nQueries GROUP BY 1, 2),
       |lex AS (
       |  SELECT q_id, doc_id, lex_rank FROM (
       |    SELECT q_id, doc_id, CAST(ROW_NUMBER() OVER (PARTITION BY q_id
       |      ORDER BY lscore DESC, doc_id) AS INT) AS lex_rank
       |    FROM lexs) WHERE lex_rank <= $hybridM),
       |${vecCtesSql(nQueries)},
       |$rrfFuseTailSql""".stripMargin

  /** Hybrid retrieval with BM25 as the lexical arm — the fusion
    * production RAG stacks actually deploy (sim_hybrid_rrf's raw
    * histogram intersection is the calibration-free baseline; real
    * rankers run BM25 + vector): TextOps' published-IDF, fold-scored
    * BM25 frame ranks the lexical side, exact cosine ranks the
    * vector side, and the two rank lists fuse by pure-integer
    * Reciprocal-Rank Fusion — 1000000 div (k₀+rank) — so the fused
    * order is exact with no cross-engine float drift (BM25 scores
    * are bit-identical by the text_bm25 disciplines; only their
    * RANKS enter the fusion).
    *
    * Scale shape: the lexical arm is the inverted-index posting join
    * (term-keyed shuffle, query terms broadcast), the vector arm the
    * broadcast cosine scan; both cut to m per query through
    * bounded-heap TopKPerKey before anything sorts, fusion runs on
    * O(queries·m) frames. */
  def simHybridBm25(s: SparkSession, dir: String): DataFrame = {
    val lexScored = TextOps.bm25Scored(s, dir)
    val wl = Window.partitionBy(col("q_id"))
      .orderBy(col("score").desc, col("doc_id"))
    val lex = graft.plans.TopKPerKey.topK(lexScored, Seq("q_id"),
        Seq(col("score").desc, col("doc_id")), hybridM)
      .withColumn("lex_rank", row_number().over(wl))
      .select("q_id", "doc_id", "lex_rank")
    rrfFuse(lex, vecRanks(s, dir, TextOps.bm25Queries))
  }

  val simHybridBm25Sql: String =
    s"""WITH ${TextOps.bm25ScoredCtes},
       |lex AS (
       |  SELECT q_id, doc_id, lex_rank FROM (
       |    SELECT q_id, doc_id, CAST(ROW_NUMBER() OVER (PARTITION BY q_id
       |      ORDER BY score DESC, doc_id) AS INT) AS lex_rank
       |    FROM scored) WHERE lex_rank <= $hybridM),
       |${vecCtesSql(TextOps.bm25Queries)},
       |$rrfFuseTailSql""".stripMargin

  /** Coreset size for sim_kcenter. */
  val kcenterK = 8

  /** Greedy k-center / farthest-point coreset selection (Gonzalez
    * 1985) over the embedding corpus — the diversity-first data
    * SELECTION primitive (pick k maximally-spread exemplars for
    * labeling, eval-set seeding, or diverse fine-tuning mixtures;
    * sim_mmr_rerank diversifies a per-query shortlist, this selects
    * from the WHOLE corpus). The greedy rule is the classic
    * 2-approximation for the k-center objective.
    *
    * Round i picks the vector FARTHEST (cosine distance) from its
    * nearest already-picked center, ties to the smallest vec_id; the
    * seed is the minimum vec_id. Output: (step, center_id, dist)
    * with dist the selected vector's distance-to-nearest-center at
    * pick time — the monotone non-increasing radius sequence (the
    * spec asserts monotonicity; dist at step k bounds the full
    * corpus cover radius within 2×).
    *
    * Scale shape: k scans of the corpus, each a zero-shuffle
    * codegen'd projection (the ≤ k candidate dot products fold into
    * one `least`) topped by TakeOrdered — the corpus never shuffles,
    * never sorts, and only ONE row crosses to the driver per round.
    * dmin is recomputed from the (tiny, broadcast-as-literals) center
    * set each round rather than checkpointing a corpus-sized running
    * minimum: O(k²) dot products per row total, zero lineage state —
    * the right trade until k is large enough that an incremental
    * (vec_id, dmin) sidecar beats 8 extra multiplies per row.
    *
    * Oracle: the same rounds unrolled as CTEs (the q_pagerank
    * discipline) — DuckDB re-derives every center and radius
    * independently, so parity pins the full greedy trajectory, not
    * just the final set. The oracle's dmin chains incrementally
    * (`LEAST(prev, new)`) while Spark folds the candidate list fresh;
    * min over doubles is associative, so the bits agree. */
  def simKcenter(s: SparkSession, dir: String): DataFrame = {
    val c = corpus(s, dir)
    def ctr(r: org.apache.spark.sql.Row): (Long, Seq[Float], Double) =
      (r.getLong(0), r.getSeq[Float](1), r.getDouble(2))
    val seed = ctr(c.orderBy(col("vec_id")).limit(1).collect()(0))
    var centers = Vector(seed)
    val picks = scala.collection.mutable.ArrayBuffer[(Int, Long, Double)](
      (0, seed._1, 0.0))
    (1 until kcenterK).foreach { step =>
      val dists = centers.map { case (_, cv, cnrm) =>
        lit(1.0) - dotD(col("v"), typedlit(cv)) / (col("nrm") * lit(cnrm))
      }
      val dmin = if (dists.size == 1) dists.head else least(dists: _*)
      val pick = c.select(col("vec_id"), col("v"), col("nrm"),
          dmin.as("dmin"))
        .orderBy(col("dmin").desc, col("vec_id")).limit(1).collect()(0)
      picks += ((step, pick.getLong(0), pick.getDouble(3)))
      centers = centers :+ ctr(pick)
    }
    import s.implicits._
    picks.toSeq.toDF("step", "center_id", "dist")
  }

  val simKcenterSql: String = {
    val rounds = (2 until kcenterK).map { i =>
      s"""d$i AS (SELECT x.vec_id,
         |  LEAST(p.dmin, 1.0 - list_dot_product(x.v, c${i - 1}.v) / (x.nrm * c${i - 1}.nrm)) AS dmin
         |  FROM c x JOIN d${i - 1} p USING (vec_id), c${i - 1}),
         |s$i AS (SELECT vec_id, dmin FROM d$i ORDER BY dmin DESC, vec_id LIMIT 1),
         |c$i AS (SELECT c.vec_id, c.v, c.nrm FROM c JOIN s$i USING (vec_id))""".stripMargin
    }.mkString(",\n")
    val tail = (1 until kcenterK).map(i =>
      s"UNION ALL SELECT $i AS step, vec_id AS center_id, dmin AS dist FROM s$i")
      .mkString("\n")
    s"""WITH c AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
       |    sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS nrm
       |  FROM embeddings),
       |c0 AS (SELECT vec_id, v, nrm FROM c
       |       WHERE vec_id = (SELECT MIN(vec_id) FROM c)),
       |d1 AS (SELECT x.vec_id,
       |  1.0 - list_dot_product(x.v, c0.v) / (x.nrm * c0.nrm) AS dmin
       |  FROM c x, c0),
       |s1 AS (SELECT vec_id, dmin FROM d1 ORDER BY dmin DESC, vec_id LIMIT 1),
       |c1 AS (SELECT c.vec_id, c.v, c.nrm FROM c JOIN s1 USING (vec_id)),
       |$rounds
       |SELECT 0 AS step, vec_id AS center_id, CAST(0 AS DOUBLE) AS dist FROM c0
       |$tail""".stripMargin
  }

  val keys: Seq[Key] = Seq(
    Key("sim_kcenter", simKcenter, Oracle(simKcenterSql)),
    Key("sim_hybrid_bm25", simHybridBm25, Oracle(simHybridBm25Sql),
      varianceNote = Some("intrinsic ~1.6x sample spread (r13 diagnosis: " +
        "12 back-to-back runs 1.7-2.9 s with the AQE-final plan " +
        "bit-identical across samples and gc<60 ms/run; the 11-exchange " +
        "two-arm pipeline converges slowly under JIT, so 1-warm+3 samples " +
        "lands anywhere in the tail - not a plan or data regression)")),
    Key("sim_hybrid_rrf", simHybridRrf, Oracle(simHybridRrfSql)),
    Key("sim_mmr_rerank", simMmrRerank, Oracle(simMmrRerankSql)),
    Key("sim_semdedup", simSemdedup, Oracle(simSemdedupSql)),
    Key("embed_matryoshka", embedMatryoshka, Oracle(embedMatryoshkaSql)),
    Key("sim_range_search", simRangeSearch, Oracle(simRangeSearchSql)),
    Key("sim_maxsim", simMaxsim, Oracle(simMaxsimSql)),
    Key("sim_knn_join", simKnnJoin, Oracle(simKnnJoinSql)),
    Key("sim_recall", simRecall, Oracle(simRecallSql)),
    Key("sim_cosine_topk", simCosineTopk, Oracle(simCosineTopkSql)),
    Key("sim_filtered_topk", simFilteredTopk, Oracle(simFilteredTopkSql)),
    Key("sim_ivf_topk", simIvfTopk, Oracle(simIvfTopkSql)),
    Key("sim_ivf0_topk", simIvf0Topk, Oracle(simIvf0TopkSql)),
    Key("embed_quantize", embedQuantize, Oracle(embedQuantizeSql)),
    Key("embed_pq", embedPq, Oracle(embedPqSql)),
    Key("sim_ivfpq_topk", simIvfPqTopk, Oracle(simIvfPqTopkSql)),
    Key("sim_pq_rerank", simPqRerank, Oracle(simPqRerankSql)),
    Key("sim_index_stats", simIndexStats, Oracle(simIndexStatsSql)),
    Key("sim_ivf_ingest", simIvfIngest, Oracle(simIvfIngestSql)),
    Key("sim_mips_topk", simMipsTopk, Oracle(simMipsTopkSql)))

  val queries: Map[String, Key.Run] = Key.queries(keys)
}
