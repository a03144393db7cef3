package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{Key, Oracle, Tables}
import graft.functions.VectorFunctions._

/** Deduplication operators for LLM training-data pipelines: exact
  * (content hash), n-gram Jaccard, MinHash+LSH banding, SimHash, and
  * embedding-cosine near-dup — each designed so candidate generation
  * is bucket-local (never an O(n²) cross join) and verification runs
  * only on candidates.
  *
  * The synthetic corpus has no natural duplicates, so each query
  * derives a dup-injected corpus from `documents`/`embeddings`
  * (every 10th row copied under id+1_000_000): the operator must
  * rediscover exactly the planted pairs, which the DuckDB oracle
  * recomputes independently.
  */
object DedupOps {

  /** documents ∪ copies of every 10th doc (ids shifted by 1e6). */
  private[graft] def dupDocs(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.load(s, dir, "documents")
    d.unionAll(d.filter(col("doc_id") % 10 === 0)
      .withColumn("doc_id", col("doc_id") + 1000000L))
  }

  private[graft] val dupDocsSql =
    """SELECT * FROM documents
      |UNION ALL
      |SELECT doc_id + 1000000 AS doc_id, text, lang, source, n_chars
      |FROM documents WHERE doc_id % 10 = 0""".stripMargin

  /** embeddings ∪ exact copies of every 10th vector ∪ PERTURBED
    * copies of every 7th (first element +0.25f, a float-exact nudge
    * both engines compute bit-identically): the planted near-dups
    * exercise banded LSH recall on non-identical high-cosine pairs,
    * not just the trivial same-bucket-always case. */
  private[graft] def dupVecs(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.load(s, dir, "embeddings")
    e.unionAll(e.filter(col("vec_id") % 10 === 0)
        .withColumn("vec_id", col("vec_id") + 1000000L))
      .unionAll(e.filter(col("vec_id") % 7 === 0)
        .withColumn("vec_id", col("vec_id") + 2000000L)
        .withColumn("embedding",
          transform(col("embedding"),
            (x, i) => when(i === 0, x + lit(0.25f)).otherwise(x))))
  }

  private[graft] val dupVecsSql =
    """SELECT * FROM embeddings
      |UNION ALL
      |SELECT vec_id + 1000000 AS vec_id, embedding, label
      |FROM embeddings WHERE vec_id % 10 = 0
      |UNION ALL
      |SELECT vec_id + 2000000 AS vec_id,
      |  list_concat([embedding[1] + CAST(0.25 AS FLOAT)], embedding[2:]) AS embedding,
      |  label
      |FROM embeddings WHERE vec_id % 7 = 0""".stripMargin

  /** Word 3-gram shingle set (distinct) of a text column. The token
    * array is let-bound (ExprUtils.bind) so the split+filter runs once
    * per row — inlined references would re-tokenize inside every
    * element_at, turning this O(tokens) expression into O(tokens²). */
  private[operators] def shingles(text: Column): Column =
    graft.functions.ExprUtils.bind(
      filter(split(text, " "), x => x =!= "")) { t =>
      when(size(t) >= 3,
        array_distinct(transform(
          sequence(lit(0), size(t) - 3),
          i => concat_ws(" ", element_at(t, i + 1), element_at(t, i + 2),
            element_at(t, i + 3)))))
        .otherwise(array().cast("array<string>"))
    }

  /** Same shingle construction in DuckDB (1-based lists). */
  private[operators] val shinglesSql =
    """list_distinct(list_transform(
      |    range(1, len(toks) - 1),
      |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))""".stripMargin

  // ---------------------------------------------------------------
  // dedup_exact: hash-groupBy. One shuffle on the content hash; at
  // 100 TB the 256-bit hash is the shuffle key, never the text.
  // ---------------------------------------------------------------
  def dedupExact(s: SparkSession, dir: String): DataFrame =
    dupDocs(s, dir)
      .groupBy(sha2(col("text"), 256).as("content_hash"))
      .agg(min(col("doc_id")).as("canonical_id"),
        count(lit(1)).as("n_copies"))
      .select("canonical_id", "n_copies")

  val dedupExactSql: String =
    s"""WITH corpus AS ($dupDocsSql)
       |SELECT min(doc_id) AS canonical_id, COUNT(*) AS n_copies
       |FROM corpus GROUP BY sha256(text)""".stripMargin

  // ---------------------------------------------------------------
  // dedup_ngram_jaccard: candidate pairs share >= 1 shingle (the
  // shingle is the shuffle key -> bucket-local self-join, no cross
  // product), Jaccard = |∩| / |∪| verified exactly from set sizes.
  // ---------------------------------------------------------------
  /** Jaccard threshold for the near-dup pair query. */
  val jaccardTau = 0.5

  def dedupNgramJaccard(s: SparkSession, dir: String): DataFrame =
    jaccardPairs(dupDocs(s, dir), jaccardTau)
      .orderBy(col("jaccard").desc, col("a"), col("b"))
      .limit(20)

  /** df-cap knob for the pair generator (the DEPLOY.md skew guard):
    * 0 (the fixture default — at corpus df ≈ 10-30 plain counting
    * wins outright) disables it; > 0 routes shingles with document
    * frequency above the cap OUT of the pairing join, bounding its
    * volume to Σ_{df ≤ cap} df² + |boilerplate docs|² instead of
    * Σ df² over the whole vocabulary, with EXACTLY the same output
    * (see jaccardPairsCapped for the losslessness argument). At web
    * scale this is the knob that keeps one viral boilerplate shingle
    * from turning candidate generation into a df² explosion. */
  val dfCapKey = "spark.graft.dedup.dfCap"

  /** The (doc_id, n_sh, shingle-hash) postings frame the pair
    * generator joins on. Hashes stay UNSORTED: size(), explode() and
    * the count aggregate are all order-invariant, so the former
    * array_sort here was pure O(k log k) per-row CPU on the hottest
    * dedup path (r14) — removed with bit-identical output. */
  private[graft] def shinglePostings(input: DataFrame): DataFrame =
    input
      .select(col("doc_id"),
        transform(shingles(col("text")), sh => xxhash64(sh)).as("sh"))
      .filter(size(col("sh")) > 0)
      .select(col("doc_id"), size(col("sh")).as("n_sh"),
        explode(col("sh")).as("shingle"))
      // NEVER broadcast an exploded corpus: Catalyst's size estimate
      // survives the explode (it can't see the fan-out), so past
      // fixture scale the optimizer happily builds a multi-million-row
      // broadcast hash relation on the driver — measured at sf1 as
      // 11 s-to-299 s sample swings on this self-join. The hint pins
      // the scale-correct plan: shuffle on the shingle, per-partition
      // hash build of rows/partitions entries, skew bounded by max df.
      .hint("shuffle_hash")

  /** Per-(a, b) shared-shingle count over a postings self-join, with
    * the lossless length filter (J <= min/max, so max <= min/tau)
    * pruning join output BEFORE the aggregate. Candidate volume is
    * Σ df² over the postings' vocabulary. */
  private[graft] def pairCounts(ex: DataFrame, tau: Double): DataFrame =
    ex.as("x").join(ex.as("y"),
        col("x.shingle") === col("y.shingle") &&
          col("x.doc_id") < col("y.doc_id") &&
          greatest(col("x.n_sh"), col("y.n_sh")).cast(DoubleType) <=
            least(col("x.n_sh"), col("y.n_sh")) / tau)
      .groupBy(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
      .agg(count(lit(1)).as("inter"),
        max(col("x.n_sh")).as("na"), max(col("y.n_sh")).as("nb"))

  private def jaccardOf(counts: DataFrame, tau: Double): DataFrame =
    counts.select(col("a"), col("b"),
        (col("inter").cast(DoubleType) /
          (col("na") + col("nb") - col("inter"))).as("jaccard"))
      .filter(col("jaccard") >= tau)

  /** All near-dup pairs (a < b, word-3gram Jaccard >= tau) of a
    * (doc_id, text) frame — the reusable core of dedup_ngram_jaccard,
    * also exercised by the randomized brute-force equivalence spec. */
  def jaccardPairs(input: DataFrame, tau: Double): DataFrame = {
    // |∩| by COUNTING: explode each doc's distinct hashed shingles
    // and count shared shingles per (a, b) in the co-occurrence
    // self-join — |∪| then follows from the set sizes, so the exact
    // Jaccard comes out of ONE thin shuffle (shingle, id, n_sh rows)
    // and one codegen'd map-side-combining HashAggregate. Set ARRAYS
    // never join and never shuffle.
    //
    // This replaced a prefix-filter + array-verify design (AllPairs
    // candidates, then array_intersect/array_union on candidate
    // pairs) that the sf1 sweep caught at 317 s: the corpus's
    // boilerplate shingles (max df 29 even at sf0.1) put ~66
    // candidates on every doc, and verifying 3.6M candidates meant
    // sort-merge-joining them against ~450-byte set payloads twice
    // plus per-row hash-set intersections — 87 µs per candidate, all
    // payload motion and allocation. Counting does the same exact
    // math in the aggregate at ~8 s for the same corpus.
    //
    // Scale bound: candidate rows are Σ df² over the vocabulary; the
    // conf-keyed df cap below (fixture default OFF — engaging it
    // here would only add the df pass that a df ≈ 10-30 corpus never
    // repays) bounds that tail exactly, without changing one output
    // row (spec-proven against this uncapped path on corpora
    // engineered to exercise both arms).
    val cap = input.sparkSession.conf.get(dfCapKey, "0").toLong
    val exploded = shinglePostings(input)
    if (cap <= 0L) jaccardOf(pairCounts(exploded, tau), tau)
    else jaccardOf(jaccardPairsCapped(exploded, tau, cap), tau)
  }

  /** Exact df-capped pair counting (DEPLOY.md's "cap df" guard).
    *
    * Split the postings at df = cap: LOW rows drive candidate
    * generation and shared-LOW counting exactly as the uncapped join;
    * HOT shingles never join — each doc instead carries its (small,
    * per-doc) hot-shingle array, and a candidate pair's hot overlap
    * is re-attached exactly as |hot_a ∩ hot_b|. Docs whose hot count
    * alone could certify J ≥ tau (h ≥ tau·n_sh — "boilerplate docs")
    * additionally pair exhaustively among THEMSELVES through the
    * plain counting join (arm 2), and arm 1 excludes both-boilerplate
    * pairs so nothing double-counts.
    *
    * LOSSLESSNESS: for any pair with J ≥ tau, inter ≥ tau·max(na,nb)
    * (J ≥ tau forces min ≥ tau·max and inter ≥ tau/(1+tau)·(na+nb) ≥
    * tau·max). If either doc x is NOT boilerplate, h_x < tau·n_x ≤
    * tau·max ≤ inter, so shared-hot ≤ h_x < inter — the pair shares
    * at least one LOW shingle and arm 1 finds it with the exact
    * count. If both are boilerplate, arm 2 counts it exactly. Pairs
    * sharing only hot shingles with a non-boilerplate end provably
    * cannot reach tau, so arm 1 never needing to see them is what
    * makes the cap a pure candidate bound, not an approximation. */
  private[graft] def jaccardPairsCapped(exploded: DataFrame, tau: Double,
      cap: Long): DataFrame = {
    val docFreq = exploded.groupBy("shingle").agg(count(lit(1)).as("df"))
    val rows = exploded.join(docFreq.hint("shuffle_hash"), Seq("shingle"))
    val low = rows.filter(col("df") <= cap)
      .select("doc_id", "n_sh", "shingle").hint("shuffle_hash")
    // doc-level hot profile: the hot-shingle ARRAY is per-doc-sized
    // (a doc has few distinct boilerplate shingles even when each has
    // a huge df), so it rides doc-grain frames and never the join
    val docs = exploded.select("doc_id", "n_sh").distinct()
      .join(rows.filter(col("df") > cap)
          .groupBy("doc_id")
          .agg(sort_array(collect_list(col("shingle"))).as("hot"),
            count(lit(1)).as("h")),
        Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("hot"), expr("cast(array() as array<bigint>)"))
          .as("hot"),
        (coalesce(col("h"), lit(0L)).cast(DoubleType) >=
          lit(tau) * col("n_sh")).as("boiler"))
    val arm1 = pairCounts(low, tau)
      .withColumnRenamed("inter", "inter_low")
      .join(docs.select(col("doc_id").as("a"), col("hot").as("hot_a"),
        col("boiler").as("fb_a")).hint("shuffle_hash"), Seq("a"))
      .join(docs.select(col("doc_id").as("b"), col("hot").as("hot_b"),
        col("boiler").as("fb_b")).hint("shuffle_hash"), Seq("b"))
      .filter(!(col("fb_a") && col("fb_b")))
      .select(col("a"), col("b"),
        (col("inter_low") +
          size(array_intersect(col("hot_a"), col("hot_b")))).as("inter"),
        col("na"), col("nb"))
    val fbPostings = exploded.join(
      docs.filter(col("boiler")).select("doc_id").hint("shuffle_hash"),
      Seq("doc_id"), "left_semi")
    arm1.unionByName(pairCounts(fbPostings, tau))
  }

  val dedupNgramJaccardSql: String =
    s"""WITH corpus AS ($dupDocsSql),
       |tok AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks FROM corpus),
       |sh AS (SELECT doc_id, unnest($shinglesSql) AS shingle FROM tok),
       |sz AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
       |pairs AS (
       |  SELECT x.doc_id AS a, y.doc_id AS b, COUNT(*) AS inter
       |  FROM sh x JOIN sh y USING (shingle)
       |  WHERE x.doc_id < y.doc_id
       |  GROUP BY 1, 2)
       |SELECT a, b,
       |  CAST(inter AS DOUBLE) / (sa.n_sh + sb.n_sh - inter) AS jaccard
       |FROM pairs JOIN sz sa ON sa.doc_id = a JOIN sz sb ON sb.doc_id = b
       |WHERE CAST(inter AS DOUBLE) / (sa.n_sh + sb.n_sh - inter) >= 0.5
       |ORDER BY jaccard DESC, a, b
       |LIMIT 20""".stripMargin

  // ---------------------------------------------------------------
  // dedup_minhash [T]: k=16 xxhash64 minima over shingles, banded
  // into 4 bands of 4; docs sharing any band bucket are candidates,
  // then exact-Jaccard verified. Shuffle key = (band, band_hash):
  // bucket-local join, O(candidates) not O(n²).
  // ---------------------------------------------------------------
  val minhashK = 16
  val minhashBands = 4

  /** Signature index published once per corpus fingerprint (the same
    * discipline as dedup_incremental's corpus index); the pair search
    * reads the PUBLISHED buckets/sets back, so the DuckDB oracle
    * consumes the identical bytes — banding, candidate generation and
    * the exact-Jaccard verify are all oracle-checked ([T]→[O] in r8).
    * The stored band buckets ARE the contract: DuckDB never needs
    * xxhash64. In production this index is the durable artifact a
    * nightly ingest (dedup_incremental) joins new batches against.
    * Returns the index's root. */
  private[graft] def minhashPublish(s: SparkSession, dir: String): String =
    graft.Artifacts.publishFor("minhash", dir, Seq("documents")) { out =>
      // LAZY: the two segment writes are sequential full-
      // materializing actions — the first computes and caches every
      // partition, the second reads the cache (r14)
      val sigs = minhashSignatures(dupDocs(s, dir))
        .localCheckpoint(eager = false)
      sigs.select("doc_id", "sh").write.mode("overwrite")
        .parquet(s"$out/sets")
      bandBuckets(sigs).write.mode("overwrite")
        .parquet(s"$out/buckets")
    }

  /** Unverified LSH candidate pairs (a < b) from the published band
    * buckets — the recall-side raw material dedup_minhash verifies
    * and dedup_lsh_eval measures. */
  private[graft] def minhashCandidates(s: SparkSession, dir: String)
      : DataFrame = {
    val idxDir = minhashPublish(s, dir)
    // corpus-sized band frame: never broadcast (see jaccardPairs)
    val banded = s.read.parquet(s"$idxDir/buckets").hint("shuffle_hash")
    banded.as("x").join(banded.as("y"), Seq("band", "bucket"))
      .filter(col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
      .dropDuplicates("a", "b")
  }

  def dedupMinhash(s: SparkSession, dir: String): DataFrame = {
    val idxDir = minhashPublish(s, dir)
    val candidates = minhashCandidates(s, dir)
    val sh = s.read.parquet(s"$idxDir/sets")
    verifyJaccard(candidates, sh, sh, tau = 0.5)
      .orderBy(col("a"), col("b"))
  }

  /** LSH banding quality evaluation — the measurement every LSH
    * deployment owes its users: against the EXACT 3-gram-Jaccard
    * ground truth (the dedup_ngram_jaccard machinery, τ = 0.5), how
    * many true near-dup pairs do the published minhash band buckets
    * propose (recall) and how much verify work do false candidates
    * cost (precision)? One row: truth/candidate/TP/FP/FN counts +
    * precision/recall in exact ppm. `Inspect lsh` explores the banding
    * design space offline; this KEY regression-gates the shipped
    * 16×16 configuration — a signature or banding change that dents
    * recall fails loud in the board, not in a notebook.
    *
    * [O] since r11 (was [T]): the oracle needs neither side
    * recomputed from scratch — the candidate pairs are rebuilt from
    * the PUBLISHED band-bucket index exactly as dedup_minhash's
    * oracle already does (xxhash64 banding lives in the artifact, not
    * the query), and the truth side is the dedup_ngram_jaccard
    * counting-join SQL; the five counts and two ppm ratios then
    * replay as scalar subqueries. The spec additionally cross-checks
    * every count against driver-side set algebra.
    *
    * Scale shape: both pair frames are corpus-sized — the full-outer
    * alignment join is pinned to shuffle on the pair key; counts
    * collapse map-side to one row. */
  def dedupLshEval(s: SparkSession, dir: String): DataFrame = {
    val truth = jaccardPairs(dupDocs(s, dir), jaccardTau)
      .select(col("a"), col("b"), lit(1L).as("in_t"))
    val cand = minhashCandidates(s, dir)
      .select(col("a"), col("b"), lit(1L).as("in_c"))
    truth.join(cand.hint("shuffle_hash"), Seq("a", "b"), "full_outer")
      .agg(
        sum(coalesce(col("in_t"), lit(0L))).as("n_truth"),
        sum(coalesce(col("in_c"), lit(0L))).as("n_candidates"),
        sum(when(col("in_t").isNotNull && col("in_c").isNotNull, 1L)
          .otherwise(0L)).as("tp"))
      .withColumn("fn", col("n_truth") - col("tp"))
      .withColumn("fp", col("n_candidates") - col("tp"))
      .withColumn("precision_ppm", expr("(tp * 1000000) div n_candidates"))
      .withColumn("recall_ppm", expr("(tp * 1000000) div n_truth"))
  }

  /** The recall/precision audit replayed by DuckDB: truth from the
    * ngram-Jaccard counting join, candidates from the published band
    * buckets, counts as scalar subqueries. */
  val dedupLshEvalSql: String =
    s"""WITH corpus AS ($dupDocsSql),
       |tok AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks FROM corpus),
       |sh AS (SELECT doc_id, unnest($shinglesSql) AS shingle FROM tok),
       |sz AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
       |pr AS (
       |  SELECT x.doc_id AS a, y.doc_id AS b, COUNT(*) AS inter
       |  FROM sh x JOIN sh y USING (shingle)
       |  WHERE x.doc_id < y.doc_id GROUP BY 1, 2),
       |truth AS (
       |  SELECT a, b FROM pr
       |  JOIN sz sa ON sa.doc_id = a JOIN sz sb ON sb.doc_id = b
       |  WHERE CAST(inter AS DOUBLE) / (sa.n_sh + sb.n_sh - inter)
       |    >= $jaccardTau),
       |cand AS (
       |  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
       |  FROM read_parquet('${graft.Artifacts.oracleRoot("minhash")}/buckets/*.parquet') x
       |  JOIN read_parquet('${graft.Artifacts.oracleRoot("minhash")}/buckets/*.parquet') y
       |    USING (band, bucket)
       |  WHERE x.doc_id < y.doc_id),
       |c AS (SELECT
       |  (SELECT COUNT(*) FROM truth) AS n_truth,
       |  (SELECT COUNT(*) FROM cand) AS n_candidates,
       |  (SELECT COUNT(*) FROM truth t JOIN cand cd USING (a, b)) AS tp)
       |SELECT n_truth, n_candidates, tp,
       |  n_truth - tp AS fn, n_candidates - tp AS fp,
       |  (tp * 1000000) // n_candidates AS precision_ppm,
       |  (tp * 1000000) // n_truth AS recall_ppm
       |FROM c""".stripMargin

  /** Candidates and Jaccard rebuilt entirely from the published
    * signature index — same contract as dedupIncrementalSql. */
  val dedupMinhashSql: String =
    s"""WITH cand AS (
      |  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
      |  FROM read_parquet('${graft.Artifacts.oracleRoot("minhash")}/buckets/*.parquet') x
      |  JOIN read_parquet('${graft.Artifacts.oracleRoot("minhash")}/buckets/*.parquet') y
      |    USING (band, bucket)
      |  WHERE x.doc_id < y.doc_id)
      |SELECT a, b,
      |  CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
      |    / len(list_distinct(sa.sh || sb.sh)) AS jaccard
      |FROM cand
      |JOIN read_parquet('${graft.Artifacts.oracleRoot("minhash")}/sets/*.parquet') sa
      |  ON sa.doc_id = a
      |JOIN read_parquet('${graft.Artifacts.oracleRoot("minhash")}/sets/*.parquet') sb
      |  ON sb.doc_id = b
      |WHERE CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
      |    / len(list_distinct(sa.sh || sb.sh)) >= 0.5
      |ORDER BY a, b""".stripMargin

  /** All near-dup pairs (a < b, exact hashed-shingle Jaccard >= tau
    * among LSH-banded candidates) of a (doc_id, text) frame — the
    * reusable core of dedup_minhash, also exercised by the randomized
    * property specs (exact-dup recall = 1: identical text gives an
    * identical signature, which collides in EVERY band). */
  /** (doc_id, sh, sig) for a (doc_id, text) frame: the doc's distinct
    * hashed shingle set and its k-element MinHash signature.
    *
    * explode + groupBy instead of per-row array folds: Spark's
    * higher-order functions are interpreted (CodegenFallback), but a
    * HashAggregate of 16 min(xxhash64(seed, shingle)) columns is
    * whole-stage codegen'd and combines map-side.
    * shingles travel as 64-bit hashes from here on: the signature
    * mins hash the hash (cheap, same min distribution) and the
    * verification sets intersect hashed shingles (collision odds
    * ~n²/2⁶⁴ — negligible), cutting shuffle bytes ~3x vs strings. */
  private[graft] def minhashSignatures(input: DataFrame): DataFrame = {
    val shRows = input
      .select(col("doc_id"),
        explode(shingles(col("text"))).as("shingle"))
      .select(col("doc_id"), xxhash64(col("shingle")).as("shingle"))
    shRows.groupBy("doc_id")
      .agg(collect_set(col("shingle")).as("sh"),
        array((0 until minhashK).map { seed =>
          min(xxhash64(lit(seed), col("shingle")))
        }: _*).as("sig"))
  }

  /** (doc_id, band, bucket) LSH rows of a signature frame. Bands
    * travel light — the shuffle that builds buckets never carries
    * document payloads; shingle sets re-join by id AFTER candidate
    * dedup. */
  private[graft] def bandBuckets(sigs: DataFrame): DataFrame = {
    val rowsPerBand = minhashK / minhashBands
    sigs.select(col("doc_id"),
      explode(array((0 until minhashBands).map { b =>
        struct(lit(b).as("band"),
          xxhash64(slice(col("sig"), b * rowsPerBand + 1, rowsPerBand))
            .as("bucket"))
      }: _*)).as("bb"))
      .select(col("doc_id"), col("bb.band"), col("bb.bucket"))
  }

  /** Exact hashed-shingle Jaccard of candidate (a, b) pairs, kept at
    * >= tau. Set payloads join in by id only for candidates. The set
    * sides carry shuffle_hash hints for the same reason jaccardPairs
    * does (see the NEVER-broadcast comment there): both frames are
    * CORPUS-sized, and Catalyst's post-explode/post-aggregate size
    * estimates otherwise pick a driver-built broadcast past fixture
    * scale — observed on every set-verify join at sf1. Per-partition
    * hash build is rows/partitions set entries, bounded by partition
    * sizing at any corpus size. */
  private def verifyJaccard(candidates: DataFrame, setsA: DataFrame,
      setsB: DataFrame, tau: Double): DataFrame =
    candidates
      .join(setsA.select(col("doc_id").as("a"), col("sh").as("sha"))
        .hint("shuffle_hash"), "a")
      .join(setsB.select(col("doc_id").as("b"), col("sh").as("shb"))
        .hint("shuffle_hash"), "b")
      .select(col("a"), col("b"),
        (size(array_intersect(col("sha"), col("shb"))).cast(DoubleType) /
          size(array_union(col("sha"), col("shb")))).as("jaccard"))
      .filter(col("jaccard") >= tau)

  def minhashPairs(input: DataFrame, tau: Double): DataFrame = {
    val sigs = minhashSignatures(input)
    // corpus-sized band frame: never broadcast (see jaccardPairs)
    val banded = bandBuckets(sigs).hint("shuffle_hash")
    val candidates = banded.as("x").join(banded.as("y"), Seq("band", "bucket"))
      .filter(col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
      .dropDuplicates("a", "b")
    val sh = sigs.select(col("doc_id"), col("sh"))
    verifyJaccard(candidates, sh, sh, tau)
  }

  // ---------------------------------------------------------------
  // dedup_simhash [T]: 64-bit SimHash from token hashes (weighted
  // sign-sum per bit), candidates via 4 16-bit bands, verified by
  // hamming distance <= 3 (bit_count of xor).
  // ---------------------------------------------------------------
  /** Published-signature variant (the dedup_minhash discipline): the
    * 64-bit signatures and their 16-bit band buckets publish once per
    * corpus fingerprint; banding, candidate generation and the
    * hamming verify all read the published bytes, so the DuckDB
    * oracle recomputes them with its own bit_count(xor) ([T]→[O] r8). */
  def dedupSimhash(s: SparkSession, dir: String): DataFrame = {
    val idxDir = graft.Artifacts.publishFor("simhash", dir, Seq("documents")) { out =>
      // no checkpoint (r14): sigs has exactly ONE consumer (the
      // bucket-segment write) — the pin bought a whole extra job
      // for lineage nobody re-read
      val sigs = simhashSigs(dupDocs(s, dir))
      // sig rides each band row (8 bytes × 4 bands): the candidate
      // self-join then verifies hamming IN PLACE — no per-side sig
      // re-join, the same one-join shape the in-flight path uses
      sigs.select(col("doc_id"), col("sig"),
          explode(array((0 until 4).map { b =>
            struct(lit(b).as("band"),
              shiftright(col("sig"), b * 16).bitwiseAND(0xFFFFL)
                .as("bucket"))
          }: _*)).as("bb"))
        .select(col("doc_id"), col("sig"), col("bb.band"), col("bb.bucket"))
        .write.mode("overwrite").parquet(s"$out/buckets")
    }
    // corpus-sized band frame: never broadcast (see jaccardPairs)
    val banded = s.read.parquet(s"$idxDir/buckets").hint("shuffle_hash")
    banded.as("x").join(banded.as("y"), Seq("band", "bucket"))
      .filter(col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"),
        bit_count(col("x.sig").bitwiseXOR(col("y.sig"))).as("hamming"))
      .dropDuplicates("a", "b")
      .filter(col("hamming") <= 3)
      .orderBy(col("a"), col("b"))
  }

  val dedupSimhashSql: String =
    s"""WITH cand AS (
      |  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b,
      |    CAST(bit_count(xor(x.sig, y.sig)) AS INT) AS hamming
      |  FROM read_parquet('${graft.Artifacts.oracleRoot("simhash")}/buckets/*.parquet') x
      |  JOIN read_parquet('${graft.Artifacts.oracleRoot("simhash")}/buckets/*.parquet') y
      |    USING (band, bucket)
      |  WHERE x.doc_id < y.doc_id)
      |SELECT a, b, hamming FROM cand WHERE hamming <= 3
      |ORDER BY a, b""".stripMargin

  /** 64-bit SimHash signature per doc of a (doc_id, text) frame:
    * explode token hashes, then ONE codegen'd HashAggregate with 64
    * sign-sum columns (map-side combined); per-row higher-order folds
    * would run interpreted and ~10x slower. The sign bits then pack
    * into a long with shiftleft|or (no ANSI overflow on bit 63,
    * unlike acc*2). */
  def simhashSigs(input: DataFrame): DataFrame = {
    val tokRows = input
      .select(col("doc_id"),
        explode(filter(split(col("text"), " "), x => x =!= "")).as("tok"))
      .select(col("doc_id"), xxhash64(col("tok")).as("h"))
    // 64 per-bit ONES counts packed four to a long (16-bit lanes): a
    // 17-column agg buffer instead of 65. Safe while tokens/doc <
    // 32768 — the tightest bound is the TOP lane's shifted sum
    // reaching the sign bit, before any cross-lane carry. Sign
    // recovers exactly — the ±1 sum is 2·ones − n, so bit b = 1 ⟺
    // 2·ones_b >= n, boundary included.
    val laneCols = (0 until 16).map { c =>
      sum((0 until 4).map { k =>
        shiftleft(shiftright(col("h"), 4 * c + k).bitwiseAND(1L), 16 * k)
      }.reduce(_ bitwiseOR _)).as(s"p$c")
    }
    tokRows.groupBy("doc_id")
      .agg(laneCols.head, laneCols.tail :+ count(lit(1)).as("n"): _*)
      .select(col("doc_id"),
        (0 until 64).map { b =>
          val lane = shiftright(col(s"p${b / 4}"), 16 * (b % 4))
            .bitwiseAND(0xFFFFL)
          (b, lane)
        }.foldLeft(lit(0L)) { case (acc, (_, ones)) =>
          shiftleft(acc, 1).bitwiseOR(
            when(ones * 2 >= col("n"), 1L).otherwise(0L))
        }.as("sig"))
  }

  /** All pairs (a < b) within `maxHamming` SimHash bits — candidates
    * from 4 16-bit bands, verified by bit_count(xor). For maxHamming
    * <= 3 the banding is LOSSLESS by pigeonhole: fewer than 4 bits
    * differ, so at least one of the 4 bands is bit-identical and the
    * pair collides — the property spec asserts this exactly. */
  def simhashPairs(input: DataFrame, maxHamming: Int): DataFrame = {
    val sigs = simhashSigs(input)
    val banded = sigs.select(col("doc_id"), col("sig"),
      explode(array((0 until 4).map { b =>
        struct(lit(b).as("band"),
          shiftright(col("sig"), b * 16).bitwiseAND(0xFFFFL).as("bucket"))
      }: _*)).as("bb"))
      .select(col("doc_id"), col("sig"), col("bb.band"), col("bb.bucket"))
      // corpus-sized band frame: never broadcast (see jaccardPairs)
      .hint("shuffle_hash")
    banded.as("x").join(banded.as("y"), Seq("band", "bucket"))
      .filter(col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"),
        bit_count(col("x.sig").bitwiseXOR(col("y.sig"))).as("hamming"))
      .dropDuplicates("a", "b")
      .filter(col("hamming") <= maxHamming)
  }

  // ---------------------------------------------------------------
  // dedup_embed_cosine: BANDED sign-bit LSH (lshBands independent
  // bucket tables of lshBitsPerBand hyperplanes each) as the blocking
  // key; candidates = pairs sharing ANY band's bucket; exact cosine
  // >= 0.9 verification on candidates only. 16-bit buckets keep the
  // per-bucket population ~n/65536 so the bucket-local self-join is
  // never the r3 n²/64 blowup, while OR-ing 4 bands recovers the
  // recall a single narrow table would lose (identical vectors still
  // collide in EVERY band — planted exact dups are found with zero
  // recall loss; a cos≈0.999 perturbed pair collides in ≥1 of 4
  // bands w.p. ~0.998). Bands travel as (vec_id, band, bucket) only;
  // payloads re-join by id after candidate dedup, like the minhash
  // path.
  // ---------------------------------------------------------------
  val embedDim = 64
  val lshBitsPerBand = 16
  val lshBands = 4

  def dedupEmbedCosine(s: SparkSession, dir: String): DataFrame = {
    val vecs = dupVecs(s, dir).select(col("vec_id"),
      col("embedding").as("v"),
      sqrt(dotD(col("embedding"), col("embedding"))).as("nrm"))
    // all 64 sign bits in ONE native expression (constant-size tree —
    // 64 separate dotD-vs-typedlit nodes re-paid seconds of Catalyst
    // analysis per invocation); band k is a 16-bit slice of the sig
    val banded = vecs
      .select(col("vec_id"),
        lshSignature(col("v"), embedDim, lshBands * lshBitsPerBand).as("sig"))
      .select(col("vec_id"),
        explode(array((0 until lshBands).map { b =>
          struct(lit(b).as("band"),
            shiftright(col("sig"), (lshBands - 1 - b) * lshBitsPerBand)
              .bitwiseAND((1L << lshBitsPerBand) - 1).as("bucket"))
        }: _*)).as("bb"))
      .select(col("vec_id"), col("bb.band"), col("bb.bucket").cast("int").as("bucket"))
      // corpus-sized band frame: never broadcast (see jaccardPairs)
      .hint("shuffle_hash")
    val candidates = banded.as("x").join(banded.as("y"), Seq("band", "bucket"))
      .filter(col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("a"), col("y.vec_id").as("b"))
      .dropDuplicates("a", "b")
    candidates
      .join(vecs.select(col("vec_id").as("a"), col("v").as("va"),
        col("nrm").as("na")).hint("shuffle_hash"), "a")
      .join(vecs.select(col("vec_id").as("b"), col("v").as("vb"),
        col("nrm").as("nb")).hint("shuffle_hash"), "b")
      .select(col("a"), col("b"),
        (dotD(col("va"), col("vb")) / (col("na") * col("nb"))).as("cosine"))
      .filter(col("cosine") >= 0.9)
      .orderBy(col("a"), col("b"))
  }

  val dedupEmbedCosineSql: String = {
    val bandSelects = (0 until lshBands).map { b =>
      val bucket = lshBucketSql("v", embedDim, lshBitsPerBand,
        planeOffset = b * lshBitsPerBand)
      s"SELECT vec_id, $b AS band, $bucket AS bucket FROM vecs"
    }.mkString("\n  UNION ALL ")
    s"""WITH corpus AS ($dupVecsSql),
       |vecs AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
       |    sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS nrm
       |  FROM corpus),
       |banded AS (
       |  $bandSelects),
       |cand AS (
       |  SELECT DISTINCT x.vec_id AS a, y.vec_id AS b
       |  FROM banded x JOIN banded y USING (band, bucket)
       |  WHERE x.vec_id < y.vec_id)
       |SELECT a, b,
       |  list_dot_product(xa.v, xb.v) / (xa.nrm * xb.nrm) AS cosine
       |FROM cand
       |JOIN vecs xa ON xa.vec_id = a
       |JOIN vecs xb ON xb.vec_id = b
       |WHERE list_dot_product(xa.v, xb.v) / (xa.nrm * xb.nrm) >= 0.9
       |ORDER BY a, b""".stripMargin
  }

  // ---------------------------------------------------------------
  // dedup_clusters [O]: connected components over the near-dup pair
  // graph — the ACTIONABLE output of dedup (pairs say "these two are
  // close"; training-set pruning needs "keep exactly one doc per
  // transitive cluster"). Large-star/small-star edge contraction
  // (see clusterLabels): rounds are O(log diameter) and each round's
  // frames are edge-sized, with the full corpus joining in exactly
  // once at the final labeling; Fixpoint.converge pins each round's
  // edge frame, the standard Pregel-lite shape. The DuckDB
  // oracle rebuilds components independently via a recursive CTE over
  // the same lossless pair set.
  // ---------------------------------------------------------------
  def dedupClusters(s: SparkSession, dir: String): DataFrame = {
    val docs = dupDocs(s, dir)
    clusterLabels(docs, jaccardPairs(docs, jaccardTau))._1
      .orderBy("doc_id")
  }

  /** The near-dup cluster labels as a PUBLISHED artifact (once per
    * corpus fingerprint): dedup_clusters stays the computation key —
    * it runs the full jaccard+propagation chain every time and the
    * bench prices that honestly — while downstream CONSUMERS
    * (pipeline_split_safe, pipeline_train_corpus) read the published
    * labels, exactly as a production corpus assembly consumes the
    * nightly dedup service's output instead of re-running connected
    * components per job. Their oracles still recompute components
    * independently (recursive CTE), so the published labels are
    * verified, not trusted. */
  def publishedLabels(s: SparkSession, dir: String): DataFrame = {
    val root = graft.Artifacts.publishFor("labels", dir, Seq("documents")) { out =>
      val docs = dupDocs(s, dir)
      clusterLabels(docs, jaccardPairs(docs, jaccardTau))._1
        .write.mode("overwrite").parquet(out)
    }
    s.read.parquet(root)
  }

  /** Connected components by LARGE-STAR/SMALL-STAR contraction
    * (Kiveris et al., "Connected Components in MapReduce and
    * Beyond") over an undirected (a, b) pair graph — the reusable
    * core of dedup_clusters (the spec drives it with synthetic chain
    * graphs to pin transitivity).
    *
    * Each alternation rewires the edge list toward stars centered at
    * component minima: LARGE-STAR connects every strictly-larger
    * neighbor of u to min({u} ∪ N(u)); SMALL-STAR re-canonicalizes
    * and connects every smaller neighbor (and u itself) to that min.
    * Rounds are O(log diameter) like the r9–r12 pointer-jumped label
    * propagation this replaces, but each round's frames are
    * O(edge-incident nodes), NOT O(all docs): propagation carried a
    * (doc_id, label) row for EVERY document through every join round,
    * while near-dup edges touch only the documents that have a
    * near-dup — the measured r13 comparison (identical labels at
    * every scale) was 2.9→2.2 s at sf0.1, 4.0→2.1 s at sf1 and
    * 9.4→6.9 s warm at a collision-densified sf10, with BOTH
    * algorithms at two materialization rounds, so the win is frame
    * size, not round count. At 100 TB that asymmetry is the whole
    * story: components ride the dup graph, the clean 95% of the
    * corpus joins in exactly once at the final labeling.
    *
    * Convergence is asserted, never assumed: the state tags each
    * edge with `in`, the bit set of rounds holding it (1 = this
    * round, 2 = the previous), set by the round's final (a, b)
    * aggregate, so the change test `in` =!= 3 needs no exchange of
    * its own. Returns the labels and the rounds run. */
  private[graft] def clusterLabels(docs: DataFrame,
      pairFrame: DataFrame): (DataFrame, Int) = {
    val init = pairFrame.select(col("a"), col("b"))
      .filter(col("a") =!= col("b")).distinct().withColumn("in", lit(1))
    val (stars, rounds) = Fixpoint.converge(init, 50, "clusterLabels") { state =>
      val edges = state.filter(col("in") =!= 2).select("a", "b")
      // LARGE-STAR
      val dbl = edges.unionAll(
        edges.select(col("b").as("a"), col("a").as("b")))
      val mins = dbl.groupBy("a")
        .agg(min(least(col("a"), col("b"))).as("m"))
      // NO intermediate distinct between the stars (r14): the
      // small-star's groupBy and the round's final distinct collapse
      // duplicate (b, m) rows anyway, and the pre-distinct frame is
      // by construction ≤ |dbl| — edge-sized — so the extra (a, b)
      // exchange bought nothing. Identical edge set per round
      // (set-semantics at the round boundary), one less exchange.
      val ls = dbl.join(mins, "a").filter(col("b") > col("a"))
        .select(col("b").as("a"), col("m").as("b"))
        .filter(col("a") =!= col("b"))
      // SMALL-STAR on the canonicalized (big, small) orientation
      val canon = ls.select(greatest(col("a"), col("b")).as("a"),
        least(col("a"), col("b")).as("b"))
      val mins2 = canon.groupBy("a").agg(min(col("b")).as("m"))
      canon.join(mins2, "a")
        .select(col("b").as("a"), col("m").as("b"))
        .unionAll(mins2.select(col("a"), col("m").as("b")))
        .filter(col("a") =!= col("b")).withColumn("in", lit(1))
        .unionAll(edges.withColumn("in", lit(2)))
        .groupBy("a", "b").agg(bit_or(col("in")).as("in"))
    }(_.filter(col("in") =!= 3))
    // stars: every edge is (member, component-min); nodes with no
    // near-dup edge label themselves — the one O(docs) join
    val roots = stars // converged: every edge is tagged 3
      .select(greatest(col("a"), col("b")).as("doc_id"),
        least(col("a"), col("b")).as("label"))
      .groupBy("doc_id").agg(min(col("label")).as("label"))
    val labels = docs.select(col("doc_id"))
      .join(roots, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("label"), col("doc_id")).as("canonical_id"))
    (labels, rounds)
  }

  /** The shared near-dup-component CTE chain (expects a CTE named
    * `corpus` with doc_id/text; leaves `reach(u, lbl)` for the
    * consumer to aggregate) — used by the dedup_clusters oracle and
    * the corpus-pipeline oracle so components can never diverge. */
  private[graft] val componentsCtesSql: String =
    s"""tok AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks FROM corpus),
       |sh AS (SELECT doc_id, unnest($shinglesSql) AS shingle FROM tok),
       |sz AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
       |cand AS (
       |  SELECT x.doc_id AS a, y.doc_id AS b, COUNT(*) AS inter
       |  FROM sh x JOIN sh y USING (shingle)
       |  WHERE x.doc_id < y.doc_id
       |  GROUP BY 1, 2),
       |pairs AS (
       |  SELECT a, b FROM cand
       |  JOIN sz sa ON sa.doc_id = a JOIN sz sb ON sb.doc_id = b
       |  WHERE CAST(inter AS DOUBLE) / (sa.n_sh + sb.n_sh - inter) >= $jaccardTau),
       |edges AS (SELECT a AS u, b AS v FROM pairs
       |          UNION ALL SELECT b, a FROM pairs),
       |reach(u, lbl) AS (
       |  SELECT doc_id, doc_id FROM corpus
       |  UNION
       |  SELECT e.u, r.lbl FROM edges e JOIN reach r ON r.u = e.v)""".stripMargin

  /** Components rebuilt independently: a recursive CTE floods every
    * reachable label through the undirected pair graph; the min per
    * vertex is its component's canonical id. */
  val dedupClustersSql: String =
    s"""WITH RECURSIVE
       |corpus AS ($dupDocsSql),
       |$componentsCtesSql
       |SELECT u AS doc_id, MIN(lbl) AS canonical_id
       |FROM reach GROUP BY u ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------
  // dedup_incremental [O]: nightly-ingest dedup — a NEW batch checked
  // against a PERSISTED signature index instead of re-hashing the
  // whole corpus. The single most common production dedup shape (the
  // batch twin of etl_cdc_upsert): the corpus index (minhash band
  // buckets + hashed shingle sets) is built ONCE per corpus
  // fingerprint and published as parquet; each run hashes only the
  // batch, joins its buckets against the stored ones, and verifies
  // exact Jaccard with the stored sets. At 100 TB: per-night work is
  // O(batch) + one bucket-join against an index that never re-reads
  // corpus text. The DuckDB oracle rebuilds batch-vs-corpus
  // candidates FROM THE PUBLISHED INDEX FILES and recomputes the
  // Jaccard from the stored sets — any defect in the persisted
  // layout, the bucket join, or the verify math breaks parity.
  // ---------------------------------------------------------------
  /** The "corpus" is documents; the "batch" replays every 10th doc
    * under a shifted id (dupDocs' planted clones) — a nightly crawl
    * whose re-fetched pages must match their corpus originals. */
  def dedupIncremental(s: SparkSession, dir: String): DataFrame = {
    val idxDir = graft.Artifacts.root("dedup_idx", dir)
    // per-run work: hash ONLY the batch; publish its segment (the
    // oracle reads it, and in production tonight's segment compacts
    // into tomorrow's corpus index)
    val batch = Tables.load(s, dir, "documents")
      .filter(col("doc_id") % 10 === 0)
      .withColumn("doc_id", col("doc_id") + 1000000L)
    // LAZY (r14): every consumer of these two is a sequential action
    // (segment writes, then the candidate join's job) — the first
    // write materializes and caches, later consumers read the cache
    val batchSigs = minhashSignatures(batch).localCheckpoint(eager = false)
    val batchBanded = bandBuckets(batchSigs).localCheckpoint(eager = false)
    // ALL segment writes run under the lock: the batch segment is
    // overwrite-mode on every run, and a concurrent JVM (or the
    // oracle) reading those globs mid-overwrite would hit deleted
    // files — the same overlapping-Bench-and-Verify race the corpus
    // build guards against. One locked section: publish's own lock on
    // the same root would throw OverlappingFileLockException here
    graft.Artifacts.withLock(idxDir) {
      graft.Artifacts.publishHeld(idxDir,
          Some(graft.Artifacts.contentTag(dir, Seq("documents")))) {
        val corpusSigs =
          minhashSignatures(Tables.load(s, dir, "documents"))
            .localCheckpoint(eager = false) // sequential writes, as above
        corpusSigs.select("doc_id", "sh").write.mode("overwrite")
          .parquet(s"$idxDir/corpus_sets")
        bandBuckets(corpusSigs).write.mode("overwrite")
          .parquet(s"$idxDir/corpus_buckets")
      }
      batchSigs.select("doc_id", "sh").write.mode("overwrite")
        .parquet(s"$idxDir/batch_sets")
      batchBanded.write.mode("overwrite")
        .parquet(s"$idxDir/batch_buckets")
    }
    // the batch side is the smaller hash-build side, but it is
    // O(batch) — a nightly crawl, not a dim table — so it must
    // shuffle, never broadcast (see jaccardPairs)
    val candidates = s.read.parquet(s"$idxDir/corpus_buckets")
      .select(col("doc_id").as("corpus_id"), col("band"), col("bucket"))
      .join(batchBanded
          .select(col("doc_id").as("batch_id"), col("band"), col("bucket"))
          .hint("shuffle_hash"),
        Seq("band", "bucket"))
      .select(col("corpus_id").as("a"), col("batch_id").as("b"))
      .dropDuplicates("a", "b")
    verifyJaccard(candidates,
      s.read.parquet(s"$idxDir/corpus_sets"),
      batchSigs.select("doc_id", "sh"), tau = 0.5)
      .orderBy("a", "b")
  }

  /** Candidates and Jaccard rebuilt entirely from the published index
    * segments (no xxhash64 needed DuckDB-side — the stored buckets
    * and hashed sets ARE the contract). */
  val dedupIncrementalSql: String =
    s"""WITH cand AS (
      |  SELECT DISTINCT c.doc_id AS a, b.doc_id AS b
      |  FROM read_parquet('${graft.Artifacts.oracleRoot("dedup_idx")}/corpus_buckets/*.parquet') c
      |  JOIN read_parquet('${graft.Artifacts.oracleRoot("dedup_idx")}/batch_buckets/*.parquet') b
      |    USING (band, bucket))
      |SELECT a, b,
      |  CAST(len(list_intersect(cs.sh, bs.sh)) AS DOUBLE)
      |    / len(list_distinct(cs.sh || bs.sh)) AS jaccard
      |FROM cand
      |JOIN read_parquet('${graft.Artifacts.oracleRoot("dedup_idx")}/corpus_sets/*.parquet') cs
      |  ON cs.doc_id = a
      |JOIN read_parquet('${graft.Artifacts.oracleRoot("dedup_idx")}/batch_sets/*.parquet') bs
      |  ON bs.doc_id = b
      |WHERE CAST(len(list_intersect(cs.sh, bs.sh)) AS DOUBLE)
      |    / len(list_distinct(cs.sh || bs.sh)) >= 0.5
      |ORDER BY a, b""".stripMargin

  /** Dedup impact report — the number the pipeline owner actually
    * reads after a dedup run (how much is duplicated, in what shapes?):
    * the cluster-size histogram over dedup_clusters' connected
    * components plus the corpus dedup rate. A long tail of large
    * clusters means template/boilerplate families; a thin head means
    * the corpus is mostly unique — the histogram decides which dedup
    * investment pays next.
    *
    * Scale shape: two map-side-combined aggregations over the
    * O(docs) assignment frame — consumed from the PUBLISHED label
    * artifact (the nightly dedup service's output, the same contract
    * pipeline_train_corpus reads; the oracle still recomputes
    * components from scratch, so the artifact is verified, not
    * trusted) — the text corpus is never re-read and the histogram
    * is O(distinct sizes) rows. */
  def dedupClusterStats(s: SparkSession, dir: String): DataFrame = {
    val sizes = publishedLabels(s, dir)
      .groupBy(col("canonical_id")).agg(count(lit(1)).as("sz"))
    sizes.groupBy(col("sz").as("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"))
      .withColumn("n_docs", col("cluster_size") * col("n_clusters"))
      .select(col("cluster_size"), col("n_clusters"), col("n_docs"))
      .orderBy("cluster_size")
  }

  val dedupClusterStatsSql: String =
    s"""WITH RECURSIVE
       |corpus AS ($dupDocsSql),
       |$componentsCtesSql
       |, asg AS (
       |  SELECT u AS doc_id, MIN(lbl) AS canonical_id
       |  FROM reach GROUP BY u),
       |cs AS (SELECT canonical_id, COUNT(*) AS sz FROM asg GROUP BY 1)
       |SELECT CAST(sz AS BIGINT) AS cluster_size,
       |  COUNT(*) AS n_clusters,
       |  CAST(sz * COUNT(*) AS BIGINT) AS n_docs
       |FROM cs GROUP BY sz ORDER BY cluster_size""".stripMargin

  /** Policy-ranked canonical selection — the KEEP-WHICH-COPY layer
    * over dedup_clusters (that key only labels components; a real
    * pipeline must then pick ONE survivor per family by POLICY, not
    * by accident): prefer the original corpus over the re-crawl
    * batch (the planted +1M id space), then the longer document,
    * then the smaller id — the C4/RefinedWeb-style quality-ranked
    * survivorship rule for text (etl_survivorship is the
    * field-level sibling for records).
    *
    * Scale shape: one shuffle-pinned join of the assignment frame
    * with the document metadata (both corpus-sized), then ONE
    * struct-max per cluster — the policy is a total order packed
    * into the comparator, so the exchange carries one candidate
    * struct per cluster, never member lists, and the winner is
    * partition-order-independent. */
  def dedupKeepBest(s: SparkSession, dir: String): DataFrame = {
    // published assignment artifact (see dedupClusterStats) — the
    // oracle recomputes components independently
    val asg = publishedLabels(s, dir).hint("shuffle_hash")
    val meta = dupDocs(s, dir).select(col("doc_id"),
      expr("case when doc_id >= 1000000 then 0L else 1L end").as("prio"),
      col("n_chars"))
    asg.join(meta.hint("shuffle_hash"), "doc_id")
      .groupBy("canonical_id")
      .agg(count(lit(1)).as("n_members"),
        max(struct(col("prio"), col("n_chars"),
          (-col("doc_id")).as("nd"), col("doc_id"))).as("b"))
      .select(col("canonical_id"), col("n_members"),
        col("b.doc_id").as("keep_id"), col("b.prio").as("keep_prio"),
        col("b.n_chars").as("keep_chars"))
      .orderBy("canonical_id")
  }

  val dedupKeepBestSql: String =
    s"""WITH RECURSIVE
       |corpus AS ($dupDocsSql),
       |$componentsCtesSql
       |, asg AS (
       |  SELECT u AS doc_id, MIN(lbl) AS canonical_id
       |  FROM reach GROUP BY u),
       |m AS (
       |  SELECT doc_id,
       |    CASE WHEN doc_id >= 1000000 THEN 0 ELSE 1 END AS prio,
       |    n_chars
       |  FROM corpus),
       |j AS (
       |  SELECT asg.canonical_id, m.doc_id, m.prio, m.n_chars,
       |    ROW_NUMBER() OVER (PARTITION BY asg.canonical_id
       |      ORDER BY m.prio DESC, m.n_chars DESC, m.doc_id) AS rk,
       |    COUNT(*) OVER (PARTITION BY asg.canonical_id) AS n_members
       |  FROM asg JOIN m ON asg.doc_id = m.doc_id)
       |SELECT canonical_id, CAST(n_members AS BIGINT) AS n_members,
       |  doc_id AS keep_id, CAST(prio AS BIGINT) AS keep_prio,
       |  n_chars AS keep_chars
       |FROM j WHERE rk = 1 ORDER BY canonical_id""".stripMargin

  /** Per-family survivor cap for dedup_soft_cap: LLM curation keeps
    * a FEW copies of near-duplicated text (natural frequency carries
    * signal; Muennighoff et al. 2023 repeat data up to 4 epochs) —
    * hard keep-one is for exact clones. */
  val softCapN = 3

  /** Soft dedup — the keep-≤N sibling of dedup_keep_best's keep-one:
    * every duplicate family retains its top 3 members under the same
    * total quality order (curated tier first, longer text, stable id
    * tie-break), so near-dup counts are CAPPED rather than
    * collapsed. Families smaller than the cap pass through whole;
    * output is the kept corpus with family ids.
    *
    * Scale shape: reuses the star-contracted family assignment, then
    * the per-family top-3 runs on TopKPerKey's bounded heaps
    * (partial heap per partition → ≤ k·partitions rows per family →
    * final heap) — NOT a window rank over the corpus-sized joined
    * frame; both join sides shuffle-pinned (corpus-sized at 100 TB). */
  def dedupSoftCap(s: SparkSession, dir: String): DataFrame = {
    // published assignment artifact (see dedupClusterStats) — the
    // oracle recomputes components independently
    val asg = publishedLabels(s, dir).hint("shuffle_hash")
    val meta = dupDocs(s, dir).select(col("doc_id"),
      expr("case when doc_id >= 1000000 then 0L else 1L end").as("prio"),
      col("n_chars"))
    val joined = asg.join(meta.hint("shuffle_hash"), "doc_id")
      .select(col("canonical_id"), col("doc_id"), col("prio"),
        col("n_chars"))
    graft.plans.TopKPerKey.topK(joined, Seq("canonical_id"),
        Seq(col("prio").desc, col("n_chars").desc, col("doc_id")),
        softCapN)
      .orderBy(col("canonical_id"), col("prio").desc,
        col("n_chars").desc, col("doc_id"))
  }

  val dedupSoftCapSql: String =
    s"""WITH RECURSIVE
       |corpus AS ($dupDocsSql),
       |$componentsCtesSql
       |, asg AS (
       |  SELECT u AS doc_id, MIN(lbl) AS canonical_id
       |  FROM reach GROUP BY u),
       |m AS (
       |  SELECT doc_id,
       |    CASE WHEN doc_id >= 1000000 THEN 0 ELSE 1 END AS prio,
       |    n_chars
       |  FROM corpus),
       |j AS (
       |  SELECT asg.canonical_id, m.doc_id, m.prio, m.n_chars,
       |    ROW_NUMBER() OVER (PARTITION BY asg.canonical_id
       |      ORDER BY m.prio DESC, m.n_chars DESC, m.doc_id) AS rk
       |  FROM asg JOIN m ON asg.doc_id = m.doc_id)
       |SELECT canonical_id, doc_id, CAST(prio AS BIGINT) AS prio, n_chars
       |FROM j WHERE rk <= $softCapN
       |ORDER BY canonical_id, prio DESC, n_chars DESC, doc_id""".stripMargin

  /** URL-keyed dedup — the FIRST pass of every web-corpus pipeline
    * (CommonCrawl-style curation dedups on canonical URL before any
    * content hashing touches bytes: refreshes, mirrors and tracking
    * variants of one page collapse for free). Fixture docs carry no
    * URLs, so each doc gets one CONSTRUCTED deterministically from
    * doc_id in the same four case/port/slash/tracking raw variants
    * text_url_canon normalizes, but keyed to a shared page id
    * (doc_id mod 97) so distinct raw spellings genuinely collide —
    * the canonicalization chain is TextOps' single-copy fragments,
    * so this key and text_url_canon cannot drift.
    *
    * Survivorship is q_latest_per_key's lexicographic struct max
    * (longest text wins, ties to the smallest doc_id): ONE map-side
    * combining HashAggregate at canonical-URL grain — O(urls) state,
    * never a per-group sort. The oracle states the window form;
    * parity proves the agg equivalent.
    *
    * Scale shape: per-row codegen'd canonicalization fused with the
    * scan, then a single (canonical-url)-keyed exchange; nothing
    * downstream is corpus-sized. */
  def dedupUrl(s: SparkSession, dir: String): DataFrame = {
    val raw = graft.Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("n_chars"))
      .withColumn("url_raw", expr(
        "case cast(doc_id % 4 as int)" +
          " when 0 then concat('https://w', doc_id % 97 % 7," +
          "   '.example.com/p/page-', doc_id % 97," +
          "   '?utm_source=feed&id=', doc_id % 97)" +
          " when 1 then concat('HTTPS://W', doc_id % 97 % 7," +
          "   '.Example.COM/p/page-', doc_id % 97, '?id=', doc_id % 97," +
          "   '&utm_medium=rss')" +
          " when 2 then concat('https://w', doc_id % 97 % 7," +
          "   '.example.com:443/p/page-', doc_id % 97," +
          "   '?ref=home&id=', doc_id % 97)" +
          " else concat('https://w', doc_id % 97 % 7," +
          "   '.example.com/p/page-', doc_id % 97, '/?id=', doc_id % 97," +
          "   '&utm_campaign=x&ref=nav') end"))
    TextOps.withUrlCanonical(raw)
      .groupBy("url_canonical")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("url_raw")).as("n_variants"),
        max(struct(col("n_chars"), (-col("doc_id")).as("nd"),
          col("doc_id"))).as("b"))
      .select(col("url_canonical"), col("n_docs"), col("n_variants"),
        col("b.doc_id").as("keep_id"), col("b.n_chars").as("keep_chars"))
  }

  val dedupUrlSql: String =
    s"""WITH d AS (
       |  SELECT doc_id, n_chars,
       |    CASE CAST(doc_id % 4 AS INT)
       |      WHEN 0 THEN 'https://w' || (doc_id % 97 % 7)
       |        || '.example.com/p/page-' || (doc_id % 97)
       |        || '?utm_source=feed&id=' || (doc_id % 97)
       |      WHEN 1 THEN 'HTTPS://W' || (doc_id % 97 % 7)
       |        || '.Example.COM/p/page-' || (doc_id % 97)
       |        || '?id=' || (doc_id % 97) || '&utm_medium=rss'
       |      WHEN 2 THEN 'https://w' || (doc_id % 97 % 7)
       |        || '.example.com:443/p/page-' || (doc_id % 97)
       |        || '?ref=home&id=' || (doc_id % 97)
       |      ELSE 'https://w' || (doc_id % 97 % 7)
       |        || '.example.com/p/page-' || (doc_id % 97)
       |        || '/?id=' || (doc_id % 97) || '&utm_campaign=x&ref=nav'
       |    END AS url_raw
       |  FROM documents),
       |${TextOps.urlCanonSqlCtes("d")},
       |g AS (
       |  SELECT url_canonical, COUNT(*) AS n_docs,
       |    COUNT(DISTINCT url_raw) AS n_variants
       |  FROM canon GROUP BY 1),
       |k AS (
       |  SELECT url_canonical, doc_id AS keep_id, n_chars AS keep_chars
       |  FROM (SELECT url_canonical, doc_id, n_chars,
       |          ROW_NUMBER() OVER (PARTITION BY url_canonical
       |            ORDER BY n_chars DESC, doc_id) AS rk
       |        FROM canon) WHERE rk = 1)
       |SELECT g.url_canonical, g.n_docs, g.n_variants, k.keep_id, k.keep_chars
       |FROM g JOIN k USING (url_canonical)""".stripMargin

  val keys: Seq[Key] = Seq(
    Key("dedup_url", dedupUrl, Oracle(dedupUrlSql)),
    Key("dedup_keep_best", dedupKeepBest, Oracle(dedupKeepBestSql)),
    Key("dedup_soft_cap", dedupSoftCap, Oracle(dedupSoftCapSql)),
    Key("dedup_cluster_stats", dedupClusterStats, Oracle(dedupClusterStatsSql)),
    Key("dedup_exact", dedupExact, Oracle(dedupExactSql)),
    Key("dedup_clusters", dedupClusters, Oracle(dedupClustersSql)),
    Key("dedup_incremental", dedupIncremental, Oracle(dedupIncrementalSql)),
    Key("dedup_ngram_jaccard", dedupNgramJaccard, Oracle(dedupNgramJaccardSql)),
    Key("dedup_minhash", dedupMinhash, Oracle(dedupMinhashSql)),
    Key("dedup_lsh_eval", dedupLshEval, Oracle(dedupLshEvalSql)),
    Key("dedup_simhash", dedupSimhash, Oracle(dedupSimhashSql)),
    Key("dedup_embed_cosine", dedupEmbedCosine, Oracle(dedupEmbedCosineSql)))

  val queries: Map[String, Key.Run] = Key.queries(keys)
}
