package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{Key, Oracle, Tables}

/** Text-analysis operators for LLM training-data pipelines: token
  * stats, quality scoring, language ID, rolling-hash fingerprints.
  *
  * Every op is a pure Column expression tree (codegen'd, no UDFs) so
  * it fuses with the parquet scan in one WholeStageCodegen stage —
  * at 100 TB these run scan-bound with zero shuffles.
  *
  * Oracle parity: counts are exact ints; every ratio is a single IEEE
  * double op on exact ints, and the fingerprint folds left-to-right in
  * both engines (SURVEY.md §4).
  */
object TextOps {

  /** Non-empty whitespace tokens (consecutive spaces collapse; the
    * filter also drops Spark's regex-split trailing ""). */
  private[graft] def toks(c: Column): Column =
    filter(split(c, " "), t => t =!= "")

  private val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and", "to", "is"),
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "fr" -> Seq("le", "les", "et", "est", "dans"),
    "es" -> Seq("el", "los", "y", "es", "en"),
    "zh" -> Seq("的", "是", "了"))
  private val langOrder = Seq("en", "de", "fr", "es", "zh")

  private def stopHits(c: Column, words: Seq[String]): Column =
    size(filter(toks(c), t => t.isInCollection(words)))

  /** BPE-style pre-tokenizer pieces: letter runs, digit runs, and
    * single punctuation marks — the GPT-2-family pre-split shape,
    * which upper-bounds (and tracks) real BPE token counts far
    * better than whitespace words. */
  private val bpeIshPattern = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"

  /** RAG chunking window/stride in tokens. */
  private[graft] val chunkW = 30
  private[graft] val chunkS = 20

  /** Retrieval chunking — the RAG-prep operator: each document is cut
    * into fixed-size OVERLAPPING token windows (30-token chunks on a
    * 20-token stride, so consecutive chunks share 10 tokens and no
    * sentence straddles a hard boundary unseen). A pure zero-shuffle
    * projection: tokenize → explode one small index array per doc →
    * slice — the chunk text is assembled from the doc's own token
    * array in the same task that read the doc, so nothing but the
    * final chunks ever moves. At 100 TB this is the shape that
    * matters: chunking is embarrassingly parallel and must stay
    * entirely scan-side (an operator that shuffled tokens or joined
    * chunk ids back to text would move the corpus twice). The last
    * chunk of a doc may run short (whatever tokens remain past the
    * final full stride), exactly like every production chunker. */
  def textChunk(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(s, dir, "documents")
    docs.select(col("doc_id"), toks(col("text")).as("tk"))
      .filter(size(col("tk")) > 0)
      .select(col("doc_id"), col("tk"),
        explode(sequence(lit(0),
          floor((size(col("tk")) - 1) / lit(chunkS)).cast(IntegerType)))
          .as("chunk_id"))
      .select(col("doc_id"), col("chunk_id"),
        slice(col("tk"), col("chunk_id") * chunkS + 1, lit(chunkW)).as("ck"))
      .select(col("doc_id"), col("chunk_id"),
        size(col("ck")).as("n_tokens"),
        array_join(col("ck"), " ").as("chunk_text"))
      // no terminal orderBy (mm_decode's rule): the harness sorts
      // canonically, and a range sort's bounds sampling would run the
      // tokenize+slice chain twice
  }

  val textChunkSql: String =
    s"""WITH t AS (
       |  SELECT doc_id,
       |    list_filter(string_split(text, ' '), x -> x <> '') AS tk
       |  FROM documents),
       |c AS (
       |  SELECT doc_id, tk,
       |    UNNEST(range(0, CAST(floor((len(tk) - 1) / $chunkS) AS INT) + 1))
       |      AS chunk_id
       |  FROM t WHERE len(tk) > 0)
       |SELECT doc_id, CAST(chunk_id AS INT) AS chunk_id,
       |  CAST(len(tk[chunk_id*$chunkS+1 : chunk_id*$chunkS+$chunkW]) AS INT)
       |    AS n_tokens,
       |  array_to_string(tk[chunk_id*$chunkS+1 : chunk_id*$chunkS+$chunkW], ' ')
       |    AS chunk_text
       |FROM c ORDER BY doc_id, chunk_id""".stripMargin

  /** Token / char / line counts per document (whitespace words and
    * BPE-ish pieces). */
  def textTokens(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(s, dir, "documents")
    val t = toks(col("text"))
    docs.select(col("doc_id"),
      length(col("text")).as("n_chars"),
      size(t).as("n_tokens"),
      size(array_distinct(t)).as("n_uniq_tokens"),
      (size(split(col("text"), "\n", -1))).as("n_lines"),
      regexp_count(col("text"), lit(bpeIshPattern)).as("n_bpe_pieces"))
  }

  val textTokensSql: String =
    s"""SELECT doc_id, CAST(length(text) AS INTEGER) AS n_chars,
       |  CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS INTEGER) AS n_tokens,
       |  CAST(len(list_distinct(list_filter(string_split(text, ' '), x -> x <> ''))) AS INTEGER) AS n_uniq_tokens,
       |  CAST(len(string_split(text, chr(10))) AS INTEGER) AS n_lines,
       |  CAST(len(regexp_extract_all(text, '$bpeIshPattern')) AS INTEGER) AS n_bpe_pieces
       |FROM documents""".stripMargin

  /** Heuristic quality score: length saturation, stopword density,
    * vocabulary diversity, punctuation density — the standard cheap
    * pre-filters before expensive dedup/training. The combined score
    * expression is shared with the corpus pipeline so the gate can
    * never diverge from the surfaced metric. */
  private[graft] def qualityExpr(text: Column): Column = {
    val t = toks(text)
    val nChars = length(text).cast(DoubleType)
    val nToks = size(t).cast(DoubleType)
    val lenScore = least(nChars / lit(400.0), lit(1.0))
    val stopRatio = stopHits(text, stopwords("en")).cast(DoubleType) / nToks
    val uniqRatio = size(array_distinct(t)).cast(DoubleType) / nToks
    val punctRatio =
      regexp_count(text, lit("[.,!?;:]")).cast(DoubleType) / nChars
    ((lenScore * 0.4 + stopRatio * 0.2) + uniqRatio * 0.3) + punctRatio * 0.1
  }

  def textQuality(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(s, dir, "documents")
    val t = toks(col("text"))
    val nChars = length(col("text")).cast(DoubleType)
    val nToks = size(t).cast(DoubleType)
    val lenScore = least(nChars / lit(400.0), lit(1.0))
    val stopRatio = stopHits(col("text"), stopwords("en")).cast(DoubleType) / nToks
    val uniqRatio = size(array_distinct(t)).cast(DoubleType) / nToks
    val punctRatio = regexp_count(col("text"), lit("[.,!?;:]")).cast(DoubleType) / nChars
    docs.select(col("doc_id"),
      lenScore.as("len_score"), stopRatio.as("stop_ratio"),
      uniqRatio.as("uniq_ratio"), punctRatio.as("punct_ratio"),
      qualityExpr(col("text")).as("quality"))
  }

  /** The per-doc text-stats CTE body and quality formula, shared by
    * the text_quality oracle and the corpus-pipeline oracle. */
  private[graft] def qualityStatsSql(from: String): String =
    s"""SELECT doc_id,
       |    CAST(length(text) AS DOUBLE) AS n_chars,
       |    CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS DOUBLE) AS n_toks,
       |    CAST(len(list_filter(list_filter(string_split(text, ' '), x -> x <> ''), w -> w IN ('the','a','of','and','to','is'))) AS DOUBLE) AS n_stop,
       |    CAST(len(list_distinct(list_filter(string_split(text, ' '), x -> x <> ''))) AS DOUBLE) AS n_uniq,
       |    CAST(len(regexp_extract_all(text, '[.,!?;:]')) AS DOUBLE) AS n_punct
       |  FROM $from""".stripMargin

  private[graft] val qualityFormulaSql: String =
    """((least(n_chars / 400.0, 1.0) * 0.4 + (n_stop / n_toks) * 0.2)
      |    + (n_uniq / n_toks) * 0.3) + (n_punct / n_chars) * 0.1""".stripMargin

  val textQualitySql: String =
    s"""WITH t AS (
       |  ${qualityStatsSql("documents")})
       |SELECT doc_id,
       |  least(n_chars / 400.0, 1.0) AS len_score,
       |  n_stop / n_toks AS stop_ratio,
       |  n_uniq / n_toks AS uniq_ratio,
       |  n_punct / n_chars AS punct_ratio,
       |  $qualityFormulaSql AS quality
       |FROM t""".stripMargin

  /** The language-ID argmax as a reusable Column: the first lang in
    * priority order reaching the max stopword-hit count wins ('und'
    * when nothing matches) — foldRight keeps langOrder priority,
    * exactly like the oracle's CASE chain. */
  private[graft] def langPredExpr(text: Column): Column = {
    val hits = langOrder.map(l => l -> stopHits(text, stopwords(l))).toMap
    val maxHits = greatest(langOrder.map(hits): _*)
    langOrder.foldRight(lit("und"): Column) { (l, acc) =>
      when(hits(l) === maxHits && maxHits > 0, lit(l)).otherwise(acc)
    }
  }

  /** Stopword-profile language ID: per-language hit counts, argmax
    * with a fixed priority order, 'und' when nothing matches. */
  def textLangid(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(s, dir, "documents")
    val hits = langOrder.map(l => l -> stopHits(col("text"), stopwords(l))).toMap
    docs.select(col("doc_id") +: langOrder.map(l => hits(l).as(s"${l}_hits")) :+
      langPredExpr(col("text")).as("lang_pred"): _*)
  }

  /** Classifier evaluation as data: the language-ID confusion matrix
    * against the corpus's labeled lang column — (true, predicted, n)
    * cells from which precision/recall/accuracy derive as exact
    * integer ratios. Model-eval-over-the-corpus is a pipeline stage
    * like any other (every classifier that gates data needs its
    * confusion matrix recomputed per corpus version), and keeping
    * counts integer means the eval re-aggregates across shards.
    *
    * Scale shape: ONE scan — the predictor rides the same projection
    * as the label, no self-join — and one O(langs²) map-side-combined
    * count. */
  def textLangConfusion(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")
      .select(col("lang").as("true_lang"),
        langPredExpr(col("text")).as("lang_pred"))
      .groupBy(col("true_lang"), col("lang_pred"))
      .agg(count(lit(1)).as("n"))

  val textLangConfusionSql: String = {
    def hitsSql(words: Seq[String]): String =
      s"len(list_filter(list_filter(string_split(text, ' '), x -> x <> ''), w -> w IN (${words.map(w => s"'$w'").mkString(",")})))"
    val cols = langOrder.map(l => s"${hitsSql(stopwords(l))} AS ${l}_hits").mkString(",\n  ")
    val maxE = s"greatest(${langOrder.map(l => s"${l}_hits").mkString(",")})"
    val caseChain = langOrder.map(l =>
      s"WHEN ${l}_hits = $maxE AND $maxE > 0 THEN '$l'").mkString("\n    ")
    s"""WITH t AS (SELECT lang AS true_lang,\n  $cols\nFROM documents)
       |SELECT true_lang, CASE $caseChain ELSE 'und' END AS lang_pred,
       |  CAST(COUNT(*) AS BIGINT) AS n
       |FROM t GROUP BY 1, 2""".stripMargin
  }

  val textLangidSql: String = {
    def hitsSql(words: Seq[String]): String =
      s"len(list_filter(list_filter(string_split(text, ' '), x -> x <> ''), w -> w IN (${words.map(w => s"'$w'").mkString(",")})))"
    val cols = langOrder.map(l => s"${hitsSql(stopwords(l))} AS ${l}_hits").mkString(",\n  ")
    val maxE = s"greatest(${langOrder.map(l => s"${l}_hits").mkString(",")})"
    val caseChain = langOrder.map(l =>
      s"WHEN ${l}_hits = $maxE AND $maxE > 0 THEN '$l'").mkString("\n    ")
    s"""WITH t AS (SELECT doc_id,\n  $cols\nFROM documents)
       |SELECT doc_id, CAST(en_hits AS INTEGER) AS en_hits,
       |  CAST(de_hits AS INTEGER) AS de_hits, CAST(fr_hits AS INTEGER) AS fr_hits,
       |  CAST(es_hits AS INTEGER) AS es_hits, CAST(zh_hits AS INTEGER) AS zh_hits,
       |  CASE $caseChain ELSE 'und' END AS lang_pred
       |FROM t""".stripMargin
  }

  /** Polynomial rolling-hash fingerprint over characters,
    * acc = (acc*31 + codepoint) mod 1e9+7 — deterministic 32-bit-ish
    * doc identity both engines compute with exact BIGINT arithmetic. */
  def textFingerprint(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(s, dir, "documents")
    // the native codegen'd PolyHash expression: the same codepoint
    // fold as the declarative split/ascii/aggregate chain, without a
    // lambda frame per character (etl_table_checksum's rationale)
    val fp = org.apache.spark.sql.GraftSqlBridge.column(
      graft.functions.PolyHash(
        org.apache.spark.sql.GraftSqlBridge.expression(col("text"))))
    docs.select(col("doc_id"), fp.as("fingerprint"),
      substring(sha2(col("text"), 256), 1, 16).as("sha_prefix"))
  }

  val textFingerprintSql: String =
    """SELECT doc_id,
      |  list_reduce(list_prepend(0::BIGINT,
      |    list_transform(string_split(text, ''), c -> ascii(c)::BIGINT)),
      |    (acc, x) -> (acc*31 + x) % 1000000007) AS fingerprint,
      |  substr(sha256(text), 1, 16) AS sha_prefix
      |FROM documents""".stripMargin

  /** Text normalization for training-data cleaning: lowercase,
    * control chars → space, whitespace collapsed + trimmed, plus an
    * alphanumeric-only projection (the usual shingling/dedup input).
    * Pure codegen'd regex chain — fuses with the scan. Both engines
    * run the same RE2-compatible patterns so outputs hash-match. */
  def textNormalize(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(s, dir, "documents")
    val collapsed = trim(regexp_replace(
      regexp_replace(lower(col("text")), "[\\x00-\\x1f]", " "),
      " +", " "))
    docs.select(col("doc_id"),
      collapsed.as("norm_text"),
      trim(regexp_replace(regexp_replace(collapsed, "[^a-z0-9 ]", ""),
        " +", " ")).as("alnum_text"),
      length(collapsed).as("n_chars_norm"))
  }

  val textNormalizeSql: String =
    """WITH n AS (
      |  SELECT doc_id,
      |    trim(regexp_replace(
      |      regexp_replace(lower(text), '[\x00-\x1f]', ' ', 'g'),
      |      ' +', ' ', 'g')) AS norm_text
      |  FROM documents)
      |SELECT doc_id, norm_text,
      |  trim(regexp_replace(regexp_replace(norm_text, '[^a-z0-9 ]', '', 'g'),
      |    ' +', ' ', 'g')) AS alnum_text,
      |  CAST(length(norm_text) AS INTEGER) AS n_chars_norm
      |FROM n""".stripMargin

  /** PII scrubbing: mask emails and URLs before training (every
    * 5th doc gets a synthetic contact line injected so the masks have
    * real work; the fixture corpus itself is clean). Counts are
    * reported per doc for audit — a scrub you can't measure is a
    * scrub you can't trust at 100 TB. RE2-compatible patterns only
    * (no backrefs/lookarounds) so both engines mask identically. */
  private val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val urlRe = "https?://[^ ]+"

  def textPiiScrub(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(s, dir, "documents")
    val injected = when(col("doc_id") % 5 === 0,
      concat(col("text"),
        lit(" contact bob@example.com or https://example.com/a?b=1")))
      .otherwise(col("text"))
    docs.select(col("doc_id"),
      regexp_count(injected, lit(emailRe)).as("n_emails"),
      regexp_count(injected, lit(urlRe)).as("n_urls"),
      regexp_replace(regexp_replace(injected, urlRe, "<URL>"),
        emailRe, "<EMAIL>").as("scrubbed"))
  }

  val textPiiScrubSql: String =
    s"""WITH t AS (
       |  SELECT doc_id,
       |    CASE WHEN doc_id % 5 = 0
       |         THEN text || ' contact bob@example.com or https://example.com/a?b=1'
       |         ELSE text END AS text
       |  FROM documents)
       |SELECT doc_id,
       |  CAST(len(regexp_extract_all(text, '$emailRe')) AS INTEGER) AS n_emails,
       |  CAST(len(regexp_extract_all(text, '$urlRe')) AS INTEGER) AS n_urls,
       |  regexp_replace(regexp_replace(text, '$urlRe', '<URL>', 'g'),
       |    '$emailRe', '<EMAIL>', 'g') AS scrubbed
       |FROM t""".stripMargin

  /** Repetition score (Gopher-style quality signal): the share of a
    * doc's word 2-grams occupied by its single most frequent 2-gram.
    * High values flag boilerplate/template spam. explode → one
    * codegen'd HashAggregate per (doc, gram) then a per-doc max —
    * two thin shuffles, no per-row interpreted folds. */
  def textRepetition(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(s, dir, "documents")
    val t = toks(col("text"))
    // Every output statistic is DOC-grain over the doc's own bigrams,
    // so nothing needs to leave the row (r15, guide §2.3/§2.4): the
    // old explode → groupBy(doc,gram) → groupBy(doc) shape shuffled
    // the whole exploded bigram corpus twice to compute per-row math.
    // top_gram_n = the max multiplicity of any bigram = the longest
    // equal-run in the SORTED bigram array, one codegen'd aggregate()
    // fold per row; n_grams = size(grams). Zero exchanges — the key
    // is now scan-bound at any corpus size. Values are identical
    // (count multiset per doc is unchanged; sorting only groups equal
    // strings adjacently, and any total order does that).
    docs.select(col("doc_id"),
        graft.functions.ExprUtils.bind(t) { tt =>
          when(size(tt) >= 2,
            transform(sequence(lit(0), size(tt) - 2),
              i => concat_ws(" ", element_at(tt, i + 1), element_at(tt, i + 2))))
            .otherwise(array().cast("array<string>"))
        }.as("grams"))
      .filter(size(col("grams")) >= 1)
      .select(col("doc_id"),
        aggregate(array_sort(col("grams")),
          struct(lit("").as("prev"), lit(0L).as("run"), lit(0L).as("best")),
          (acc, x) => {
            val run = when(x === acc("prev"), acc("run") + lit(1L))
              .otherwise(lit(1L))
            struct(x.as("prev"), run.as("run"),
              greatest(acc("best"), run).as("best"))
          },
          acc => acc("best")).as("top_gram_n"),
        size(col("grams")).cast(LongType).as("n_grams"))
      .select(col("doc_id"), col("top_gram_n"), col("n_grams"),
        (col("top_gram_n").cast(DoubleType) / col("n_grams")).as("rep_ratio"))
  }

  val textRepetitionSql: String =
    """WITH tok AS (
      |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
      |  FROM documents),
      |g AS (
      |  SELECT doc_id, unnest(list_transform(range(1, len(toks)),
      |    i -> toks[i] || ' ' || toks[i+1])) AS gram
      |  FROM tok WHERE len(toks) >= 2),
      |c AS (SELECT doc_id, gram, COUNT(*) AS c FROM g GROUP BY 1, 2)
      |SELECT doc_id, max(c) AS top_gram_n, CAST(SUM(c) AS BIGINT) AS n_grams,
      |  CAST(max(c) AS DOUBLE) / SUM(c) AS rep_ratio
      |FROM c GROUP BY doc_id""".stripMargin

  // ---------------------------------------------------------------
  // text_train_split: deterministic stratified train/val/test
  // assignment — the reproducibility primitive of every training
  // pipeline. Membership derives from a Lehmer/MINSTD multiplicative
  // hash of the stable doc id (h = (id mod 2³¹−1)·48271 mod 2³¹−1,
  // bucket = h mod 1000), NOT from sample()/rand(): the split is
  // identical across runs, engines, partitionings and cluster sizes,
  // any row's membership is decidable in isolation (a streaming
  // ingest can assign it), and the oracle recomputes it exactly in
  // integer SQL. MINSTD over a 2³²-multiplier Knuth hash because the
  // intermediate ((2³¹−2)·48271 ≈ 1e14) fits a 64-bit integer for
  // EVERY doc id — the Knuth form overflows Long past id ≈ 3.5e9,
  // which a 100 TB corpus reaches. 85/7.5/7.5; the multiplier
  // decorrelates adjacent ids so every source stratum lands near the
  // target fractions.
  // ---------------------------------------------------------------
  private[graft] def hashBucket(id: Column): Column =
    ((id % lit(2147483647L)) * lit(48271L)) % lit(2147483647L) % lit(1000L)

  /** The same hash in DuckDB integer SQL, over any id column. */
  private[graft] def hashBucketSqlOn(idCol: String): String =
    s"($idCol % 2147483647) * 48271 % 2147483647 % 1000"

  private[graft] val hashBucketSql = hashBucketSqlOn("doc_id")

  def textTrainSplit(s: SparkSession, dir: String): DataFrame = {
    val bucket = hashBucket(col("doc_id")).as("bucket")
    Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("source"), bucket)
      .withColumn("split",
        when(col("bucket") < 850, "train")
          .when(col("bucket") < 925, "val")
          .otherwise("test"))
  }

  val textTrainSplitSql: String =
    s"""SELECT doc_id, source,
       |  $hashBucketSql AS bucket,
       |  CASE WHEN $hashBucketSql < 850 THEN 'train'
       |       WHEN $hashBucketSql < 925 THEN 'val'
       |       ELSE 'test' END AS split
       |FROM documents""".stripMargin

  // ---------------------------------------------------------------
  // text_pack_sequences: GPT-style document packing — concatenate
  // docs in stable id order and cut fixed token-budget training
  // sequences; each doc learns which sequence it starts in and at
  // what offset. The global running token count is a DISTRIBUTED
  // prefix scan: repartitionByRange gives contiguous id ranges,
  // each partition cumsums locally under a per-partition window,
  // and the per-partition totals (one row each) prefix-sum on the
  // driver into offsets added back — no single-partition global
  // window anywhere, the classic exclusive-scan decomposition that
  // holds at any corpus size.
  // ---------------------------------------------------------------
  val packBudget = 256

  def textPackSequences(s: SparkSession, dir: String): DataFrame =
    packFrame(Tables.load(s, dir, "documents")
      .select(col("doc_id"), size(toks(col("text"))).as("n_tokens")))

  /** The distributed packing scan over any (doc_id, n_tokens) frame —
    * shared with the corpus pipeline. */
  private[graft] def packFrame(counts: DataFrame): DataFrame = {
    // the shared distributed exclusive scan (GlobalRank): contiguous
    // id ranges, per-partition window, O(partitions) driver offsets
    val (scanned, _) = graft.plans.GlobalRank.withExclusiveSum(
      counts.sparkSession, counts, Seq(col("doc_id")),
      col("n_tokens"), "start")
    scanned
      .select(col("doc_id"), col("n_tokens"),
        // integer `div`, not `/`: IEEE double division is only exact
        // below 2^53 total tokens; a 100 TB corpus (~25T tokens) is
        // close enough that the global scan must stay in long space
        expr(s"start div $packBudget").as("seq_id"),
        (col("start") % packBudget).as("seq_offset"))
      .orderBy("doc_id")
  }

  val textPackSequencesSql: String =
    s"""WITH t AS (
       |  SELECT doc_id,
       |    CAST(len(list_filter(string_split(text, ' '), x -> x <> ''))
       |      AS INT) AS n_tokens
       |  FROM documents),
       |c AS (
       |  SELECT doc_id, n_tokens,
       |    SUM(n_tokens) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
       |      - n_tokens AS start
       |  FROM t)
       |SELECT doc_id, n_tokens,
       |  CAST(start // $packBudget AS BIGINT) AS seq_id,
       |  CAST(start % $packBudget AS BIGINT) AS seq_offset
       |FROM c ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------
  // text_domain_mix: deterministic weighted domain mixing — the
  // data-mixture step of training-set assembly (upsample prized
  // domains, downsample bulk ones, drop blocked ones). Weight w
  // realizes as floor(w) full copies per doc plus one fractional
  // copy kept when the doc's hash bucket falls under frac(w)·1000 —
  // the same MINSTD-hash membership as text_train_split, so the mix
  // is reproducible row-by-row across runs/engines/partitionings
  // (rand()-based sampling is none of those). Weights here derive
  // from the source index (idx%4 → 2.25 / 1.0 / 0.5 / 0.0) purely so
  // the oracle can recompute them; production passes a weight map.
  // ---------------------------------------------------------------
  def textDomainMix(s: SparkSession, dir: String): DataFrame = {
    val g = substring(col("source"), 4, 10).cast("int") % 4
    val bucket = hashBucket(col("doc_id"))
    val wt = when(g === 0, 2.25).when(g === 1, 1.0)
      .when(g === 2, 0.5).otherwise(0.0)
    val nCopies = floor(wt).cast(LongType) +
      when(bucket < (wt - floor(wt)) * 1000, 1L).otherwise(0L)
    Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("source"), nCopies.as("n"))
      .filter(col("n") > 0)
      .select(col("doc_id"), col("source"),
        explode(sequence(lit(0L), col("n") - 1)).as("copy"))
      .orderBy("doc_id", "copy")
  }

  val textDomainMixSql: String =
    s"""WITH d AS (
       |  SELECT doc_id, source,
       |    CAST(SUBSTR(source, 4) AS INT) % 4 AS g,
       |    $hashBucketSql AS bucket
       |  FROM documents),
      |w AS (SELECT *,
      |    CASE g WHEN 0 THEN 2.25 WHEN 1 THEN 1.0
      |           WHEN 2 THEN 0.5 ELSE 0.0 END AS wt
      |  FROM d),
      |n AS (SELECT doc_id, source,
      |    CAST(FLOOR(wt) AS BIGINT)
      |      + CASE WHEN bucket < (wt - FLOOR(wt)) * 1000 THEN 1 ELSE 0 END
      |      AS n_copies
      |  FROM w)
      |SELECT doc_id, source, unnest(range(0, n_copies)) AS copy
      |FROM n WHERE n_copies > 0 ORDER BY doc_id, copy""".stripMargin

  // ---------------------------------------------------------------
  // text_tfidf [O]: corpus-weighted term relevance — the distributed
  // TF-IDF shape every retrieval/quality pipeline needs: explode
  // tokens → (doc, term) tf aggregate → term df aggregate →
  // broadcast the 1-row corpus count → top-3 terms per doc through
  // the bounded-heap TopKPerKey operator (candidate-only shuffle,
  // never a full per-doc sort). idf is the RAW rarity ratio
  // N/df rather than log(N/df): a libm log differs in the last ulp
  // across engines and would flake the hash gate, while tf·N/df is
  // one IEEE division of exact integers — bit-identical everywhere —
  // and the distributed shape (two thin aggregates + a broadcast
  // scalar + top-k) is the same either way. At 100 TB both
  // aggregates combine map-side and nothing wider than
  // (doc_id, term-hash-sized strings, two longs) ever shuffles.
  // ---------------------------------------------------------------
  def textTfidf(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(s, dir, "documents")
    val tf = docs
      .select(col("doc_id"), explode(toks(col("text"))).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    // dfreq is VOCABULARY-sized and sits downstream of an explode, so
    // Catalyst's pre-explode size estimate (and AQE's runtime rewrite)
    // would broadcast it — the same driver-built hash relation the
    // dedup family pins away; measured 19 s at sf1 with the broadcast
    // vs a partition-local build on the term shuffle both sides of
    // this join already need. Broadcast stays reserved for the 1-row
    // corpus count below.
    val scored = tf.join(dfreq.hint("shuffle_hash"), "term")
      .crossJoin(broadcast(nDocs))
      .select(col("doc_id"), col("term"), col("tf"),
        ((col("tf") * col("n_docs")).cast(DoubleType) / col("df"))
          .as("score"))
    graft.plans.TopKPerKey.topK(scored, Seq("doc_id"),
        Seq(col("score").desc, col("term")), k = 3)
      .orderBy(col("doc_id"), col("score").desc, col("term"))
  }

  val textTfidfSql: String =
    """WITH tok AS (
      |  SELECT doc_id,
      |    unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS term
      |  FROM documents),
      |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
      |df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
      |n AS (SELECT COUNT(*) AS n_docs FROM documents)
      |SELECT doc_id, term, tf,
      |  CAST(tf * n_docs AS DOUBLE) / df AS score
      |FROM tf JOIN df USING (term) CROSS JOIN n
      |QUALIFY ROW_NUMBER() OVER (PARTITION BY doc_id
      |  ORDER BY score DESC, term) <= 3
      |ORDER BY doc_id, score DESC, term""".stripMargin

  /** Per-source boilerplate removal — the CCNet/RefinedWeb cleanup
    * step: token windows that recur across many documents of the SAME
    * source (nav bars, footers, licence blurbs) are stripped before
    * training. Documents chunk into consecutive 2-token windows; a
    * chunk is boilerplate when it appears in ≥10% of its source's
    * docs. The frequency aggregate and the anti-join shuffle
    * xxhash64(chunk) — the same hashed-shingle discipline as
    * dedup_minhash/pipeline_decontaminate (collision odds disclosed
    * there; the oracle joins RAW chunk strings, so a 64-bit collision
    * would fail the hash check, not hide). Reassembly is one groupBy
    * doc_id over (idx, chunk) rows — the only shuffle that carries
    * text, and it carries each doc's own ~2-word chunks, the payload
    * being rewritten. Scale: both aggregates are map-side-combinable;
    * nothing holds more than one doc's chunks. */
  def textBoilerplate(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(s, dir, "documents")
    val chunks = docs
      .select(col("doc_id"), col("source"), split(col("text"), " ").as("l"))
      .select(col("doc_id"), col("source"),
        posexplode(expr(
          """transform(sequence(0, cast(ceil(size(l)/2.0) as int) - 1),
            |          i -> array_join(slice(l, i*2+1, 2), ' '))""".stripMargin)))
      .withColumnRenamed("pos", "idx")
      .withColumnRenamed("col", "chunk")
      .withColumn("chash", xxhash64(col("chunk")))
    val srcN = docs.groupBy(col("source"))
      .agg(countDistinct(col("doc_id")).as("n_docs"))
    // every join side here is corpus-derived (the chunk vocabulary,
    // the per-source doc counts — at web scale `source` is a DOMAIN,
    // so even srcN is corpus-sized), hence all pinned to shuffle;
    // PlanAuditSpec bans BroadcastHashJoin in this plan
    val boiler = chunks.groupBy(col("source"), col("chash"))
      .agg(countDistinct(col("doc_id")).as("df"))
      .join(srcN.hint("shuffle_hash"), Seq("source"))
      .filter(col("df") * 10 >= col("n_docs"))
      .select(col("source"), col("chash"))
    val kept = chunks.join(boiler.hint("shuffle_hash"),
      Seq("source", "chash"), "left_anti")
    val cleaned = kept.groupBy(col("doc_id"))
      .agg(array_join(
          transform(array_sort(collect_list(struct(col("idx"), col("chunk")))),
            x => x.getField("chunk")), " ").as("clean_text"),
        count(lit(1)).as("n_kept"))
    val totals = chunks.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_chunks"))
    docs.select(col("doc_id"))
      .join(totals.hint("shuffle_hash"), Seq("doc_id"))
      .join(cleaned.hint("shuffle_hash"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        (col("n_chunks") - coalesce(col("n_kept"), lit(0L))).as("n_removed"))
      .orderBy(col("doc_id"))
  }

  val textBoilerplateSql: String =
    """WITH toks AS (
      |  SELECT doc_id, source, string_split(text, ' ') AS l FROM documents),
      |chunks AS (
      |  SELECT doc_id, source, i AS idx,
      |    array_to_string(l[i*2+1 : i*2+2], ' ') AS chunk
      |  FROM toks,
      |    UNNEST(generate_series(0, CAST(ceil(len(l)/2.0) AS INT) - 1))
      |      AS t(i)),
      |srcn AS (SELECT source, COUNT(DISTINCT doc_id) AS n_docs
      |         FROM documents GROUP BY 1),
      |boiler AS (
      |  SELECT f.source, f.chunk FROM
      |    (SELECT source, chunk, COUNT(DISTINCT doc_id) AS df
      |     FROM chunks GROUP BY 1, 2) f
      |  JOIN srcn USING (source) WHERE df * 10 >= n_docs),
      |kept AS (
      |  SELECT c.* FROM chunks c ANTI JOIN boiler b
      |    ON c.source = b.source AND c.chunk = b.chunk),
      |agg AS (
      |  SELECT doc_id, string_agg(chunk, ' ' ORDER BY idx) AS clean_text,
      |    COUNT(*) AS n_kept
      |  FROM kept GROUP BY doc_id),
      |tot AS (SELECT doc_id, COUNT(*) AS n_chunks FROM chunks GROUP BY 1)
      |SELECT d.doc_id, COALESCE(a.clean_text, '') AS clean_text,
      |  t.n_chunks - COALESCE(a.n_kept, 0) AS n_removed
      |FROM documents d JOIN tot t USING (doc_id)
      |LEFT JOIN agg a USING (doc_id)
      |ORDER BY d.doc_id""".stripMargin

  /** Vocabulary size for the OOV quality filter (fixture corpus has
    * ~31 distinct tokens; 16 leaves a real OOV tail at every sf). */
  private val vocabSize = 16

  /** Corpus-vocabulary OOV scoring — the CCNet/Gopher-style quality
    * signal computed against the corpus's OWN token distribution
    * rather than a fixed stopword list (text_quality's shape): build
    * the top-N vocabulary by corpus frequency, then score every doc
    * by its share of out-of-vocabulary tokens (high OOV ≈ junk,
    * boilerplate code, or another language). The vocabulary build is
    * a global top-k through TopKPerKey bounded heaps — only ≤ N
    * candidates per partition shuffle, never a full sort of the term
    * frequency table. The finished vocabulary is BOUNDED BY
    * CONSTRUCTION (N rows), so broadcasting it into the per-token
    * anti-join is the intended scale plan — the same contract as the
    * IVF centroids, NOT the banned corpus-sized broadcast (a
    * frequency table would be corpus-derived and unbounded; the
    * top-N is not). Per-doc scoring is one (doc, token) aggregate;
    * the ratio is one IEEE division of exact counts. */
  def textVocabOov(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(s, dir, "documents")
    val tokens = docs.select(col("doc_id"), explode(toks(col("text"))).as("tok"))
    val counts = tokens.groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
    val vocab = graft.plans.TopKPerKey.topK(
        counts.withColumn("g", lit(1)), Seq("g"),
        Seq(col("cnt").desc, col("tok")), vocabSize)
      .select("tok")
    val oov = tokens.join(broadcast(vocab), Seq("tok"), "left_anti")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_oov"))
    docs.select(col("doc_id"), size(toks(col("text"))).as("n_tokens"))
      .join(oov.hint("shuffle_hash"), Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_oov"), lit(0L)).as("n_oov"),
        when(col("n_tokens") > 0,
          coalesce(col("n_oov"), lit(0L)).cast(DoubleType) /
            col("n_tokens").cast(DoubleType))
          .as("oov_ratio"))
      .orderBy(col("doc_id"))
  }

  val textVocabOovSql: String =
    s"""WITH t AS (
       |  SELECT doc_id,
       |    unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS tok
       |  FROM documents),
       |vocab AS (
       |  SELECT tok FROM (SELECT tok, COUNT(*) AS cnt FROM t GROUP BY 1)
       |  ORDER BY cnt DESC, tok LIMIT $vocabSize),
       |oov AS (
       |  SELECT doc_id, COUNT(*) AS n_oov FROM t
       |  WHERE tok NOT IN (SELECT tok FROM vocab)
       |  GROUP BY 1)
       |SELECT d.doc_id,
       |  CAST(len(list_filter(string_split(d.text, ' '), x -> x <> ''))
       |    AS INT) AS n_tokens,
       |  COALESCE(o.n_oov, 0) AS n_oov,
       |  CASE WHEN len(list_filter(string_split(d.text, ' '), x -> x <> '')) > 0
       |       THEN CAST(COALESCE(o.n_oov, 0) AS DOUBLE) /
       |            CAST(len(list_filter(string_split(d.text, ' '), x -> x <> ''))
       |              AS DOUBLE)
       |  END AS oov_ratio
       |FROM documents d LEFT JOIN oov o USING (doc_id)
       |ORDER BY d.doc_id""".stripMargin

  /** Paragraph-window width for corpus-wide paragraph dedup. */
  private val paraW = 3

  /** Corpus-wide paragraph-level exact dedup — the Lee et al.
    * ("Deduplicating Training Data Makes Language Models Better")
    * granularity between doc-level dedup (dedup_exact: only fully
    * identical docs die) and boilerplate removal (text_boilerplate:
    * only ≥10%-frequent per-SOURCE chunks die): EVERY repeated
    * paragraph dies everywhere except its first occurrence
    * (min (doc_id, idx) corpus-wide, across sources), so a quote
    * repeated twice anywhere is trained on once. Docs cut into
    * 3-token windows scan-side; the keeper per window is ONE
    * lexicographic min-struct aggregate at the window grain
    * (O(distinct windows) state, the q_latest_per_key shape — never
    * a window rank); survivors reassemble per doc. The window text
    * shuffles once on its hash grain (it must reach its keeper
    * decision) and survivors once more on the doc grain for
    * reassembly — both corpus-sized sides pinned to shuffle
    * (PlanAuditSpec's dedup-family broadcast ban applies). Keeper
    * identity joins on xxhash64(window) while the oracle joins RAW
    * window strings — the disclosed hashed-shingle discipline: a
    * 64-bit collision fails parity loud. */
  def textParagraphDedup(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(s, dir, "documents")
    val chunks = docs
      .select(col("doc_id"), split(col("text"), " ").as("l"))
      .select(col("doc_id"),
        posexplode(expr(
          s"""transform(sequence(0, cast(ceil(size(l)/$paraW.0) as int) - 1),
             |          i -> array_join(slice(l, i*$paraW+1, $paraW), ' '))""".stripMargin)))
      .withColumnRenamed("pos", "idx")
      .withColumnRenamed("col", "chunk")
      .withColumn("chash", xxhash64(col("chunk")))
    val keepers = chunks.groupBy(col("chash"))
      .agg(min(struct(col("doc_id"), col("idx"))).as("keep"))
      .select(col("chash"), col("keep.doc_id").as("k_doc"),
        col("keep.idx").as("k_idx"))
    val kept = chunks.join(keepers.hint("shuffle_hash"), Seq("chash"))
      .filter(col("doc_id") === col("k_doc") && col("idx") === col("k_idx"))
    val cleaned = kept.groupBy(col("doc_id"))
      .agg(array_join(
          transform(array_sort(collect_list(struct(col("idx"), col("chunk")))),
            x => x.getField("chunk")), " ").as("clean_text"),
        count(lit(1)).as("n_kept"))
    val totals = chunks.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_chunks"))
    docs.select(col("doc_id"))
      .join(totals.hint("shuffle_hash"), Seq("doc_id"))
      .join(cleaned.hint("shuffle_hash"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        (col("n_chunks") - coalesce(col("n_kept"), lit(0L))).as("n_removed"))
      // no terminal orderBy (mm_decode's rule): the harness sorts
      // canonically; a range sort would re-execute the chunk chain
  }

  val textParagraphDedupSql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, string_split(text, ' ') AS l FROM documents),
       |chunks AS (
       |  SELECT doc_id, i AS idx,
       |    array_to_string(l[i*$paraW+1 : i*$paraW+$paraW], ' ') AS chunk
       |  FROM toks,
       |    UNNEST(generate_series(0, CAST(ceil(len(l)/$paraW.0) AS INT) - 1))
       |      AS t(i)),
       |kept AS (
       |  SELECT doc_id, idx, chunk FROM (
       |    SELECT doc_id, idx, chunk,
       |      ROW_NUMBER() OVER (PARTITION BY chunk ORDER BY doc_id, idx) AS rn
       |    FROM chunks) WHERE rn = 1),
       |agg AS (
       |  SELECT doc_id, string_agg(chunk, ' ' ORDER BY idx) AS clean_text,
       |    COUNT(*) AS n_kept
       |  FROM kept GROUP BY doc_id),
       |tot AS (SELECT doc_id, COUNT(*) AS n_chunks FROM chunks GROUP BY 1)
       |SELECT d.doc_id, COALESCE(a.clean_text, '') AS clean_text,
       |  CAST(t.n_chunks - COALESCE(a.n_kept, 0) AS BIGINT) AS n_removed
       |FROM documents d JOIN tot t USING (doc_id)
       |LEFT JOIN agg a USING (doc_id)""".stripMargin

  /** Corpus-trained bigram language-model familiarity — the CCNet
    * idea (score each doc against an LM trained on the corpus itself)
    * with an exact-integer statistic: per doc, the number of bigrams
    * and the summed corpus-wide frequency of those bigrams. A
    * boilerplate-heavy or templated doc scores high (its bigrams
    * repeat everywhere), gibberish scores at the floor (every bigram
    * frequency 1) — the two tails a perplexity filter would cut,
    * without a float log in sight (a libm log is not bit-portable
    * across engines; a ratio of exact counts is).
    *
    * Scale shape: bigrams are cut SCAN-SIDE from the token array
    * (transform over indices — no window, no join to build pairs), so
    * the only shuffles are the frequency aggregate and the
    * frequency-lookup join, both on the bigram key with map-side
    * combine. The frequency table is corpus-derived (vocab² grain) —
    * shuffle-pinned, never broadcast. */
  def textNgramLm(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(s, dir, "documents")
    val lists = docs.select(col("doc_id"),
      expr("filter(split(lower(text), '[^a-z]+'), x -> x != '')").as("l"))
      .filter(size(col("l")) >= 2)
    val bigrams = lists.select(col("doc_id"),
      explode(expr(
        "transform(sequence(1, size(l) - 1), i -> concat(l[i-1], ' ', l[i]))"))
        .as("bg"))
    val cnt = bigrams.groupBy("bg").agg(count(lit(1)).as("c"))
    bigrams.join(cnt.hint("shuffle_hash"), "bg")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum(col("c")).as("fam"))
  }

  val textNgramLmSql: String =
    """WITH lists AS (
      |  SELECT doc_id,
      |    list_filter(string_split_regex(lower(text), '[^a-z]+'),
      |      x -> x <> '') AS l
      |  FROM documents),
      |bigrams AS (
      |  SELECT doc_id, l[i] || ' ' || l[i+1] AS bg
      |  FROM lists, unnest(range(1, len(l))) AS t(i)),
      |cnt AS (SELECT bg, COUNT(*) AS c FROM bigrams GROUP BY bg)
      |SELECT doc_id, COUNT(*) AS n_bigrams, CAST(SUM(c) AS BIGINT) AS fam
      |FROM bigrams JOIN cnt USING (bg) GROUP BY doc_id""".stripMargin

  /** Collocation support floor / result size — noise gate + bounded
    * output at any corpus size. */
  val collocMinCount = 5
  val collocTopK = 20

  /** Corpus-level collocation extraction: the top-K bigrams by LIFT
    * (observed co-occurrence over independence-expected), the
    * phrase-mining primitive behind tokenizer-vocabulary seeding and
    * corpus drift dashboards. Lift ORDERS identically to PMI
    * (log is monotone) while staying ONE IEEE division of exact
    * integer counts — bit-identical cross-engine where a libm log is
    * not (text_tfidf's ratio-idf rule applied to pair mining).
    *
    * Scale shape: bigrams cut scan-side (text_ngram_lm's transform);
    * unigram/bigram frequency tables are vocab/vocab²-grain —
    * corpus-derived, shuffle-pinned; the 1-row token total rides a
    * BNLJ broadcast (the tfidf contract); the final top-K is a
    * TakeOrdered bounded heap over the minCount-gated aggregate,
    * never a global sort of the pair table. */
  def textCollocations(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(s, dir, "documents")
    val lists = docs.select(
      expr("filter(split(lower(text), '[^a-z]+'), x -> x != '')").as("l"))
    val toks = lists.select(explode(col("l")).as("w"))
    val uni = toks.groupBy("w").agg(count(lit(1)).as("c"))
    val n = toks.agg(count(lit(1)).as("n"))
    val bg = lists.filter(size(col("l")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, size(l) - 1), i -> struct(l[i-1] AS w1, l[i] AS w2))"))
        .as("p"))
      .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("cxy"))
      .filter(col("cxy") >= collocMinCount)
    bg.join(n)
      .join(uni.select(col("w").as("w1"), col("c").as("c1"))
        .hint("shuffle_hash"), "w1")
      .join(uni.select(col("w").as("w2"), col("c").as("c2"))
        .hint("shuffle_hash"), "w2")
      .select(col("w1"), col("w2"), col("cxy"),
        expr("cast(cxy as double) * cast(n as double) / (cast(c1 as double) * cast(c2 as double))")
          .as("lift"))
      .orderBy(col("lift").desc, col("w1"), col("w2"))
      .limit(collocTopK)
  }

  val textCollocationsSql: String =
    s"""WITH lists AS (
       |  SELECT list_filter(string_split_regex(lower(text), '[^a-z]+'),
       |    x -> x <> '') AS l
       |  FROM documents),
       |toks AS (SELECT unnest(l) AS w FROM lists),
       |uni AS (SELECT w, COUNT(*) AS c FROM toks GROUP BY w),
       |n AS (SELECT COUNT(*) AS n FROM toks),
       |bg AS (
       |  SELECT l[i] AS w1, l[i+1] AS w2, COUNT(*) AS cxy
       |  FROM lists, unnest(range(1, len(l))) AS t(i)
       |  GROUP BY 1, 2 HAVING COUNT(*) >= $collocMinCount)
       |SELECT bg.w1, bg.w2, bg.cxy,
       |  CAST(bg.cxy AS DOUBLE) * CAST(n.n AS DOUBLE) / (CAST(u1.c AS DOUBLE) * CAST(u2.c AS DOUBLE)) AS lift
       |FROM bg, n
       |JOIN uni u1 ON bg.w1 = u1.w
       |JOIN uni u2 ON bg.w2 = u2.w
       |ORDER BY lift DESC, bg.w1, bg.w2 LIMIT $collocTopK""".stripMargin

  /** Shingle width for the span-duplication audit: long enough that
    * a match means copied TEXT, not shared phrasing (the Lee et al.
    * 2022 exact-substring-dedup insight, at the cheap shingle
    * approximation instead of a suffix array). */
  val dupSpanW = 8

  /** Span-level duplication audit: per document, how many of its
    * 8-token windows also appear verbatim in ANOTHER document.
    * text_paragraph_dedup removes whole repeated paragraphs and
    * pipeline_decontaminate checks test-vs-train containment; this
    * key measures INTRA-corpus copying at the finest grain — the
    * boilerplate/quotation rate that decides whether a doc is worth
    * keeping at all (high dup fraction = templated or scraped-twice
    * content a trainer should downweight).
    *
    * Scale shape: shingles explode w-per-token but collapse to
    * DISTINCT (shingle, doc) before the frequency count (map-side
    * combine); the shingle-grain join back is shuffle-pinned — every
    * side is corpus-sized, the dedup-family regime (production hashes
    * the shingle strings first; the fixture keeps raw strings so the
    * oracle shares the identity). Output is O(docs). */
  def textDupSpans(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(s, dir, "documents")
      .select(col("doc_id"), toks(col("text")).as("tk"))
    val spans = docs.filter(size(col("tk")) >= dupSpanW)
      .select(col("doc_id"), explode(expr(
        s"transform(sequence(0, size(tk) - $dupSpanW)," +
          s" i -> array_join(slice(tk, i + 1, $dupSpanW), ' '))")).as("sh"))
    // ONE pass over the exploded shingles (r15, guide §2.3/§2.4): the
    // old shape computed `spans` twice — once distinct→groupBy for the
    // doc-frequency table, then AGAIN (scan+explode) as the join probe
    // — and shuffled every raw span instance through the join. The
    // (sh, doc) multiplicity k is the only payload the join carried,
    // so aggregate to (sh, doc, k) first (map-side combined), read the
    // doc frequency off a window over sh (bounded by max df — the same
    // skew bound the join had), and collapse to doc grain. Identical
    // values: n_spans = Σk, n_dup = Σ k·[docs ≥ 2].
    val perDoc = spans.groupBy("sh", "doc_id").agg(count(lit(1)).as("k"))
    val marked = perDoc
      .withColumn("docs", count(lit(1)).over(
        Window.partitionBy(col("sh"))))
      .groupBy("doc_id")
      .agg(sum(col("k")).as("n_spans"),
        sum(when(col("docs") >= 2, col("k")).otherwise(0L)).as("n_dup"))
    docs.select(col("doc_id"))
      .join(marked.hint("shuffle_hash"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("n_dup"), lit(0L)).as("n_dup"))
  }

  val textDupSpansSql: String =
    s"""WITH t AS (
       |  SELECT doc_id,
       |    list_filter(string_split(text, ' '), x -> x <> '') AS tk
       |  FROM documents),
       |s AS (
       |  SELECT doc_id, array_to_string(tk[u+1:u+$dupSpanW], ' ') AS sh
       |  FROM t, unnest(range(0, CASE WHEN len(tk) >= $dupSpanW
       |    THEN len(tk) - ${dupSpanW - 1} ELSE 0 END)) AS z(u)),
       |f AS (
       |  SELECT sh, COUNT(DISTINCT doc_id) AS docs FROM s GROUP BY 1),
       |m AS (
       |  SELECT s.doc_id, COUNT(*) AS n_spans,
       |    SUM(CASE WHEN f.docs >= 2 THEN 1 ELSE 0 END) AS n_dup
       |  FROM s JOIN f ON s.sh = f.sh GROUP BY 1)
       |SELECT t.doc_id, CAST(COALESCE(m.n_spans, 0) AS BIGINT) AS n_spans,
       |  CAST(COALESCE(m.n_dup, 0) AS BIGINT) AS n_dup
       |FROM t LEFT JOIN m ON t.doc_id = m.doc_id""".stripMargin

  /** BPE tokenizer training, the counting step: adjacent-symbol pair
    * frequencies over the corpus vocabulary — the statistic every
    * merge round of byte-pair encoding (Sennrich et al. 2016) ranks
    * on. The decisive scale trick is BPE's own: collapse the corpus
    * to DISTINCT words first (groupBy word → count), then count char
    * pairs once per distinct word weighted by its frequency — pair
    * work scales with vocabulary size, not corpus size. Training
    * loops this with the learned merges broadcast; round one is the
    * verifiable unit (later rounds re-run the same plan over re-paired
    * symbol arrays).
    *
    * Scale shape: word agg is map-side combined (Zipf means heavy
    * collapse before the exchange); the pair explode runs over the
    * vocabulary only and lands in a ≤|alphabet|² agg. Two shuffles
    * total, both tiny relative to the scan. */
  def textBpePairs(s: SparkSession, dir: String): DataFrame = {
    val words = Tables.load(s, dir, "documents")
      .select(explode(expr(
        "regexp_extract_all(lower(text), '[a-z]+', 0)")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("wc"))
    words.filter(length(col("w")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, length(w) - 1)," +
          " i -> substring(w, i, 2))")).as("pair"), col("wc"))
      .groupBy("pair").agg(sum(col("wc")).as("cnt"))
  }

  val textBpePairsSql: String =
    """WITH w AS (
      |  SELECT t.x AS w, COUNT(*) AS wc
      |  FROM documents,
      |    unnest(regexp_extract_all(lower(text), '[a-z]+')) AS t(x)
      |  GROUP BY 1),
      |p AS (
      |  SELECT substring(w, i, 2) AS pair, wc
      |  FROM w, unnest(range(1, length(w))) AS z(i)
      |  WHERE length(w) >= 2)
      |SELECT pair, CAST(SUM(wc) AS BIGINT) AS cnt
      |FROM p GROUP BY 1""".stripMargin

  /** Merge rounds trained by text_bpe_train — 8 reaches the first
    * merge that CONSUMES a learned symbol even on the smallest
    * fixture (sf0.001: round 8 merges p+ar), which is the iterative
    * signal the spec's non-vacuity gate demands. */
  private[graft] val bpeTrainRounds = 8

  /** BPE tokenizer TRAINING — the full iterative merge loop
    * text_bpe_pairs only counts round one of (Sennrich et al. 2016):
    * K rounds of [count adjacent symbol pairs over the weighted
    * vocabulary → argmax pair → greedy left-to-right merge in every
    * word], emitting each round's learned merge rule — the actual
    * tokenizer artifact a training pipeline ships.
    *
    * Determinism discipline: the argmax tie-breaks (count DESC, left
    * ASC, right ASC) so every round's choice is total-ordered;
    * symbol sequences are rendered as "(a)(b)(c)" strings whose
    * single-pass replace('(a)(b)' → '(ab)') IS BPE's greedy
    * non-overlapping merge in BOTH engines (verified: "(a)(a)(a)"
    * merges to "(aa)(a)"), and a merged symbol can never re-form the
    * same round's pattern, so the rewrite is engine-exact. The
    * oracle replays ALL K rounds as unrolled CTEs from scratch — a
    * diverged argmax in any round cascades into every later row.
    *
    * Scale shape: BPE's own trick — the corpus collapses ONCE to the
    * distinct-word vocabulary (map-side combined; Zipf ⇒ heavy
    * collapse), and every round's pair count + rewrite runs over the
    * vocabulary, never the corpus; the per-round argmax is a 1-row
    * TakeOrdered collect (model-sized, the lloydCentroids rule) and
    * the rewritten vocab is localCheckpoint'd per round — the
    * q_pagerank iterative discipline applied to tokenizer training.
    * Output is the K-row merge table: the trained model. */
  /** The learned merge list, cached per corpus fingerprint (a few
    * dozen strings on the driver — the trained model, exactly like
    * SimOps' centroidCache): text_bpe_apply must encode with the
    * SAME rules text_bpe_train learned without re-paying the
    * per-round argmax loop. */
  private val bpeMergeCache = new java.util.concurrent.ConcurrentHashMap[
    String, Seq[(Int, String, String, Long)]]()

  /** Symbol-char representation of the distinct-word vocabulary:
    * (w, "(a)(b)(c)", wc). */
  private def bpeVocab0(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")
      .select(explode(expr(
        "regexp_extract_all(lower(text), '[a-z]+', 0)")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("wc"))
      .select(col("w"), regexp_replace(col("w"), "(.)", "($1)").as("repr"),
        col("wc"))

  /** Run (or recall) the K-round training loop; returns the merge
    * table. */
  private def bpeMerges(s: SparkSession, dir: String): Seq[(Int, String, String, Long)] =
    bpeMergeCache.computeIfAbsent(
      graft.Artifacts.contentTag(dir, Seq("documents")), _ => {
        var vocab = bpeVocab0(s, dir).localCheckpoint()
        val merges =
          scala.collection.mutable.ArrayBuffer[(Int, String, String, Long)]()
        var r = 1
        var exhausted = false
        while (r <= bpeTrainRounds && !exhausted) {
          val best = vocab
            .select(expr("split(substring(repr, 2, length(repr) - 2)," +
              " '\\\\)\\\\(')").as("ss"), col("wc"))
            .filter(size(col("ss")) >= 2)
            .select(explode(expr(
              "transform(sequence(1, size(ss) - 1), i -> named_struct(" +
                "'a', element_at(ss, i), 'b', element_at(ss, i + 1)))"))
              .as("p"), col("wc"))
            .groupBy(col("p.a").as("a"), col("p.b").as("b"))
            .agg(sum(col("wc")).as("cnt"))
            .orderBy(col("cnt").desc, col("a"), col("b"))
            .limit(1).collect()
          if (best.isEmpty) exhausted = true
          else {
            val (a, b, c) =
              (best(0).getString(0), best(0).getString(1), best(0).getLong(2))
            merges += ((r, a, b, c))
            vocab = vocab
              .withColumn("repr",
                expr(s"replace(repr, '($a)($b)', '($a$b)')"))
              .localCheckpoint()
            r += 1
          }
        }
        merges.toSeq
      })

  def textBpeTrain(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    bpeMerges(s, dir).toDF("step", "lhs", "rhs", "cnt")
      .select(col("step"), col("lhs"), col("rhs"), col("cnt"),
        concat(col("lhs"), col("rhs")).as("merged"))
      .orderBy("step")
  }

  /** BPE tokenizer APPLICATION — the encode step every training
    * pipeline runs after text_bpe_train's loop: the learned merges
    * apply IN ORDER to the vocabulary (one distributed pass of K
    * successive replaces — the merge list is model-sized and rides
    * in the expression, the production broadcast shape), then every
    * document's token count is the sum of its words' symbol counts.
    * Per doc: word count, letter count, BPE token count, and the
    * tokens-per-kilochar compression integer — the fertility metric
    * that decides tokenizer budgets.
    *
    * Scale shape: the K replaces run over the VOCABULARY (BPE's own
    * trick, one pass, no per-round argmax — training already paid
    * that and the cached merge list is the model); the corpus joins
    * its exploded words to the token-count lookup shuffle-pinned
    * (both word frames corpus-sized at 100 TB) and collapses to doc
    * grain in the same aggregate. */
  def textBpeApply(s: SparkSession, dir: String): DataFrame = {
    val merges = bpeMerges(s, dir)
    // fold the K merges into one nested replace expression over repr
    val tokExpr = merges.foldLeft("repr") { case (e, (_, a, b, _)) =>
      s"replace($e, '($a)($b)', '($a$b)')"
    }
    // splitting the full "(a)(ab)" render on ")(" yields exactly one
    // piece per symbol — the merge chain is referenced ONCE
    val tok = bpeVocab0(s, dir)
      .select(col("w"), expr(
        s"size(split($tokExpr, '\\\\)\\\\('))").cast("long").as("n_tok"),
        length(col("w")).cast("long").as("n_chr"))
    val words = Tables.load(s, dir, "documents")
      .select(col("doc_id"), explode(expr(
        "regexp_extract_all(lower(text), '[a-z]+', 0)")).as("w"))
    words.join(tok.hint("shuffle_hash"), Seq("w"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"),
        sum(col("n_tok")).as("n_tokens"),
        sum(col("n_chr")).as("n_letters"))
      .withColumn("tokens_per_kchar",
        expr("cast((n_tokens * 1000) div n_letters as bigint)"))
      .orderBy("doc_id")
  }

  /** The unrolled K-round training replay as a CTE prefix (vocab v0
    * through v<K> with the argmax b1..bK), shared by the train and
    * apply oracles so the learned rules can never drift between
    * them. */
  private val bpeTrainCtePrefix: String = {
    val rounds = (1 to bpeTrainRounds).map { r =>
      s"""p$r AS (
         |  SELECT s.ss[z.i] AS a, s.ss[z.i + 1] AS b, SUM(s.wc) AS cnt
         |  FROM (SELECT string_split(substring(repr, 2,
         |      length(repr) - 2), ')(') AS ss, wc FROM v${r - 1}) s,
         |    unnest(range(1, len(s.ss))) AS z(i)
         |  GROUP BY 1, 2),
         |b$r AS (SELECT a, b, cnt FROM p$r
         |  ORDER BY cnt DESC, a, b LIMIT 1),
         |v$r AS (
         |  SELECT v.w, replace(v.repr, '(' || b.a || ')(' || b.b || ')',
         |      '(' || b.a || b.b || ')') AS repr, v.wc
         |  FROM v${r - 1} v, b$r b)""".stripMargin
    }.mkString(",\n")
    s"""w AS (
       |  SELECT t.x AS w, COUNT(*) AS wc
       |  FROM documents,
       |    unnest(regexp_extract_all(lower(text), '[a-z]+')) AS t(x)
       |  GROUP BY 1),
       |v0 AS (
       |  SELECT w, regexp_replace(w, '(.)', '(\\1)', 'g') AS repr, wc
       |  FROM w),
       |$rounds""".stripMargin
  }

  val textBpeTrainSql: String = {
    val out = (1 to bpeTrainRounds).map(r =>
      s"SELECT $r AS step, a AS lhs, b AS rhs, CAST(cnt AS BIGINT) AS cnt," +
        s" a || b AS merged FROM b$r").mkString("\nUNION ALL ")
    s"""WITH $bpeTrainCtePrefix
       |$out
       |ORDER BY step""".stripMargin
  }

  val textBpeApplySql: String =
    s"""WITH $bpeTrainCtePrefix,
       |tk AS (
       |  SELECT w, len(string_split(repr, ')(')) AS n_tok,
       |    length(w) AS n_chr
       |  FROM v$bpeTrainRounds),
       |d AS (
       |  SELECT doc_id, t.x AS w
       |  FROM documents,
       |    unnest(regexp_extract_all(lower(text), '[a-z]+')) AS t(x))
       |SELECT doc_id, COUNT(*) AS n_words,
       |  CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
       |  CAST(SUM(n_chr) AS BIGINT) AS n_letters,
       |  CAST(SUM(n_tok) * 1000 // SUM(n_chr) AS BIGINT)
       |    AS tokens_per_kchar
       |FROM d JOIN tk USING (w)
       |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Readability scoring — the document-difficulty feature
    * (Gunning-Fog / Flesch family) quality pipelines use to route
    * text to grade bands and to filter degenerate prose. Per doc:
    * word count, syllable count (vowel-run proxy — the standard
    * dictionary-free approximation), syllables-per-word in exact
    * milli, complex-word count (≥3 vowel runs), complex share in
    * ppm, and a Gunning-Fog-style grade in centi-points. Fixture
    * texts carry no sentence marks, so the sentence term
    * degenerates to words-per-doc (documented; real prose plugs in
    * a sentence split unchanged).
    *
    * Scale shape: pure per-row codegen'd projection — regexp_count
    * for the corpus-wide vowel runs and a higher-order
    * filter(transform) over the token array for complex words; no
    * explode (the token array never leaves its row), no shuffle
    * except the ordered output. All ratios are integer `div` at
    * fixed scales — no float ever exists. */
  def textReadability(s: SparkSession, dir: String): DataFrame =
    graft.Tables.load(s, dir, "documents")
      .select(col("doc_id"),
        size(toks(col("text"))).cast(LongType).as("n_words"),
        expr("cast(regexp_count(lower(text), '[aeiou]+') as bigint)")
          .as("n_syll"),
        expr("cast(size(filter(filter(split(text, ' '), t -> t != '')," +
          " w -> regexp_count(lower(w), '[aeiou]+') >= 3)) as bigint)")
          .as("n_complex"))
      .withColumn("syll_per_word_milli",
        expr("cast((n_syll * 1000) div n_words as bigint)"))
      .withColumn("complex_ppm",
        expr("cast((n_complex * 1000000) div n_words as bigint)"))
      .withColumn("fog_centi",
        expr("cast(40 * n_words + (4000 * n_complex) div n_words" +
          " as bigint)"))
      .orderBy("doc_id")

  val textReadabilitySql: String =
    """WITH d AS (
      |  SELECT doc_id,
      |    CAST(len(list_filter(string_split(text, ' '), x -> x <> ''))
      |      AS BIGINT) AS n_words,
      |    CAST(len(regexp_extract_all(lower(text), '[aeiou]+'))
      |      AS BIGINT) AS n_syll,
      |    CAST(len(list_filter(
      |        list_filter(string_split(text, ' '), x -> x <> ''),
      |        w -> len(regexp_extract_all(lower(w), '[aeiou]+')) >= 3))
      |      AS BIGINT) AS n_complex
      |  FROM documents)
      |SELECT doc_id, n_words, n_syll, n_complex,
      |  CAST(n_syll * 1000 // n_words AS BIGINT) AS syll_per_word_milli,
      |  CAST(n_complex * 1000000 // n_words AS BIGINT) AS complex_ppm,
      |  CAST(40 * n_words + 4000 * n_complex // n_words AS BIGINT)
      |    AS fog_centi
      |FROM d ORDER BY doc_id""".stripMargin

  /** N-gram novelty audit — the cross-document memorization signal
    * (what share of a document's 5-gram shingles appear HERE first,
    * in corpus order?): low-novelty documents are recombinations of
    * earlier text — the pretraining-dedup long tail that survives
    * document-level near-dup (text_dup_spans finds verbatim spans
    * against one window vocabulary; this scores every doc against
    * the WHOLE corpus's first-occurrence frontier).
    *
    * Scale shape: distinct (doc, shingle) pairs explode once; the
    * first-occurrence frontier is ONE map-side-combined min per
    * shingle; frontier joins back shuffle-pinned (both sides
    * corpus-sized — broadcast dies at 100 TB) and collapses to doc
    * grain. Shingles join by STRING at fixture scale for oracle
    * parity; the production path swaps in xxhash64 keys (the same
    * swap the dedup family ships) without touching the shape.
    * Novelty is integer ppm. */
  def textNgramNovelty(s: SparkSession, dir: String): DataFrame = {
    val sh = graft.Tables.load(s, dir, "documents")
      .select(col("doc_id"), toks(col("text")).as("w"))
      // docs under 5 tokens have NO 5-gram shingles: without this
      // guard sequence(0, size-5) would run DESCENDING and slice()
      // would fault at runtime, where the oracle's range() correctly
      // yields nothing — the guard makes the key total on any corpus
      .filter(size(col("w")) >= 5)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(0, size(w) - 5)," +
          " i -> array_join(slice(w, i + 1, 5), ' '))")).as("sgl"))
      .distinct()
    // The first-occurrence frontier as a window MIN over the distinct
    // (doc, shingle) pairs (r15, guide §2.3/§2.4): the old
    // groupBy(sgl)+join recomputed the scan+explode+distinct a second
    // time as the probe side and shuffled it through the join; the
    // window reads the frontier off the SAME partitioning in one
    // pass. Window partitions are df-bounded — exactly the join's
    // skew bound. Identical values (every sh row matched exactly one
    // frontier row).
    sh.withColumn("first_doc", min(col("doc_id")).over(
        Window.partitionBy(col("sgl"))))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
          .as("n_novel"))
      .withColumn("novelty_ppm",
        expr("cast((n_novel * 1000000) div n_shingles as bigint)"))
      .orderBy("doc_id")
  }

  val textNgramNoveltySql: String =
    """WITH t AS (
      |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '')
      |    AS w
      |  FROM documents),
      |sh AS (
      |  SELECT DISTINCT doc_id, array_to_string(w[i:i+4], ' ') AS sgl
      |  FROM t, unnest(range(1, len(w) - 3)) AS z(i)),
      |m AS (SELECT sgl, MIN(doc_id) AS first_doc FROM sh GROUP BY 1)
      |SELECT sh.doc_id, COUNT(*) AS n_shingles,
      |  CAST(SUM(CASE WHEN m.first_doc = sh.doc_id THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_novel,
      |  CAST(SUM(CASE WHEN m.first_doc = sh.doc_id THEN 1 ELSE 0 END)
      |    * 1000000 // COUNT(*) AS BIGINT) AS novelty_ppm
      |FROM sh JOIN m ON sh.sgl = m.sgl
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** URL canonicalization — the crawl-pipeline prerequisite for URL
    * dedup and host-level aggregation (CommonCrawl-style corpora key
    * everything on the canonical URL): lowercase scheme+host, strip
    * the default :443 port, drop trailing slashes, remove
    * utm_ and ref tracking params, sort surviving params, and extract
    * the registered domain. Fixture documents carry no URLs, so each
    * doc's URL is CONSTRUCTED deterministically from its columns in
    * four case/port/slash/tracking variants (q_json_table's
    * discipline: the oracle rebuilds the same bytes, so parity
    * covers construction AND every normalization step).
    *
    * Scale shape: pure per-row codegen'd string surgery
    * (split_part / regexp / higher-order filter + sort over the
    * param array — the array never leaves its row); no shuffle
    * beyond the ordered output. */
  /** Single-copy URL canonicalization chain (Spark dialect), applied
    * over a `url_raw` column: shared verbatim by text_url_canon and
    * dedup_url so the two keys cannot drift. Host/path text is also
    * valid DuckDB SQL (shared below); only the array pipeline differs
    * per dialect. */
  private[operators] val urlRestExpr = "split_part(url_raw, '://', 2)"
  private[operators] val urlHostExpr =
    "regexp_replace(lower(split_part(rest, '/', 1)), ':443$', '')"
  private[operators] val urlPathExpr =
    "regexp_replace(split_part(substr(rest," +
      " length(split_part(rest, '/', 1)) + 1), '?', 1), '/+$', '')"
  private[operators] val urlQueryKeptExpr =
    "array_join(array_sort(filter(split(split_part(rest, '?', 2)," +
      " '&'), p -> NOT (p like 'utm_%' OR p like 'ref=%'))), '&')"
  private[operators] val urlCanonicalExpr =
    "concat('https://', host, path, '?', query_kept)"

  /** The same chain in DuckDB's dialect (list_* names; host/path/canon
    * text identical to the Spark strings above). */
  private[operators] val urlQueryKeptSql =
    """array_to_string(list_sort(list_filter(
      |      string_split(split_part(rest, '?', 2), '&'),
      |      q -> NOT (q LIKE 'utm_%' OR q LIKE 'ref=%'))), '&')""".stripMargin

  /** Canonicalize a url_raw column: withUrlCanonical(df) adds rest /
    * host / path / query_kept / url_canonical. */
  private[operators] def withUrlCanonical(df: DataFrame): DataFrame = df
    .withColumn("rest", expr(urlRestExpr))
    .withColumn("host", expr(urlHostExpr))
    .withColumn("path", expr(urlPathExpr))
    .withColumn("query_kept", expr(urlQueryKeptExpr))
    .withColumn("url_canonical", expr(urlCanonicalExpr))

  def textUrlCanon(s: SparkSession, dir: String): DataFrame =
    withUrlCanonical(graft.Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("source"), col("lang"))
      .withColumn("url_raw", expr(
        "case cast(doc_id % 4 as int)" +
          " when 0 then concat('https://', source, '.example.com/', lang," +
          "   '/doc-', doc_id, '?utm_source=feed&id=', doc_id)" +
          " when 1 then concat('HTTPS://', upper(source)," +
          "   '.Example.COM/', lang, '/doc-', doc_id, '?id=', doc_id," +
          "   '&utm_medium=rss')" +
          " when 2 then concat('https://', source, '.example.com:443/'," +
          "   lang, '/doc-', doc_id, '?ref=home&id=', doc_id)" +
          " else concat('https://', source, '.example.com/', lang," +
          "   '/doc-', doc_id, '/?id=', doc_id, '&utm_campaign=x&ref=nav')" +
          " end")))
      .withColumn("registered_domain",
        expr("regexp_extract(host, '[^.]+\\\\.[^.]+$', 0)"))
      .select(col("doc_id"), col("url_raw"), col("host"),
        col("registered_domain"), col("path"), col("query_kept"),
        col("url_canonical"))
      .orderBy("doc_id")

  /** Shared oracle CTE chain: url_raw (from a caller-supplied CTE) →
    * rest/host/path/query_kept — single copy for text_url_canon and
    * dedup_url. Host/path strings are the very Spark expressions
    * (valid in both dialects); query_kept is the DuckDB list form. */
  private[operators] def urlCanonSqlCtes(rawCte: String): String =
    s"""p AS (
       |  SELECT *, $urlRestExpr AS rest
       |  FROM $rawCte),
       |h AS (
       |  SELECT *,
       |    $urlHostExpr AS host,
       |    $urlPathExpr AS path,
       |    $urlQueryKeptSql AS query_kept
       |  FROM p),
       |canon AS (
       |  SELECT *, $urlCanonicalExpr AS url_canonical FROM h)""".stripMargin

  val textUrlCanonSql: String =
    s"""WITH d AS (
       |  SELECT doc_id,
       |    CASE CAST(doc_id % 4 AS INT)
       |      WHEN 0 THEN 'https://' || source || '.example.com/' || lang
       |        || '/doc-' || doc_id || '?utm_source=feed&id=' || doc_id
       |      WHEN 1 THEN 'HTTPS://' || upper(source) || '.Example.COM/'
       |        || lang || '/doc-' || doc_id || '?id=' || doc_id
       |        || '&utm_medium=rss'
       |      WHEN 2 THEN 'https://' || source || '.example.com:443/'
       |        || lang || '/doc-' || doc_id || '?ref=home&id=' || doc_id
       |      ELSE 'https://' || source || '.example.com/' || lang
       |        || '/doc-' || doc_id || '/?id=' || doc_id
       |        || '&utm_campaign=x&ref=nav' END AS url_raw
       |  FROM documents),
       |${urlCanonSqlCtes("d")}
       |SELECT doc_id, url_raw, host,
       |  regexp_extract(host, '[^.]+\\.[^.]+$$', 0) AS registered_domain,
       |  path, query_kept, url_canonical
       |FROM canon ORDER BY doc_id""".stripMargin

  /** HTML→text extraction — the first transform every web-crawl
    * pipeline runs (tags stripped, entities decoded, whitespace
    * collapsed) and the step whose bugs silently poison everything
    * downstream. Fixture docs are plain text, so each is wrapped in
    * deterministic markup first — nested tags, attributes, a script
    * block that must drop WITH its contents (naive tag-stripping
    * leaves javascript in the corpus — the classic C4-era bug), and
    * entities — then extracted; the oracle rebuilds the same bytes
    * and extracts with its own regex engine, so parity covers
    * construction AND extraction.
    *
    * Scale shape: pure per-row codegen'd regexp chain — script block
    * removal, tag removal, entity decode, whitespace collapse — no
    * shuffle beyond the ordered output. */
  def textHtmlStrip(s: SparkSession, dir: String): DataFrame =
    graft.Tables.load(s, dir, "documents")
      .withColumn("html", expr(
        "concat('<html><head><title>doc-', doc_id, '</title>'," +
          " '<script type=\"text/javascript\">var x = ', doc_id," +
          " ' &amp;&amp; 1;</script></head>'," +
          " '<body class=\"doc\"><h1>Doc &amp; ', doc_id, '</h1><p>'," +
          " replace(text, ' ', case when doc_id % 5 = 0" +
          "   then '&nbsp;' else ' ' end)," +
          " '</p><div>&lt;end&gt;</div></body></html>')"))
      .withColumn("stripped", trim(
        regexp_replace(regexp_replace(regexp_replace(regexp_replace(
          regexp_replace(regexp_replace(col("html"),
            "<script[^>]*>.*?</script>", " "), // script WITH contents
            "<[^>]+>", " "),                   // remaining tags
            "&nbsp;", " "), "&amp;", "&"),     // entities
            "&lt;", "<"), "&gt;", ">")))
      .withColumn("extracted",
        expr("trim(regexp_replace(stripped, ' +', ' '))"))
      .select(col("doc_id"),
        length(col("html")).cast("long").as("html_len"),
        length(col("extracted")).cast("long").as("text_len"),
        expr("cast(length(html) - length(regexp_replace(html," +
          " '<[^>]+>', '')) as bigint)").as("markup_chars"),
        col("extracted"))
      .orderBy("doc_id")

  val textHtmlStripSql: String =
    """WITH h AS (
      |  SELECT doc_id,
      |    '<html><head><title>doc-' || doc_id || '</title>'
      |    || '<script type="text/javascript">var x = ' || doc_id
      |    || ' &amp;&amp; 1;</script></head>'
      |    || '<body class="doc"><h1>Doc &amp; ' || doc_id || '</h1><p>'
      |    || replace(text, ' ', CASE WHEN doc_id % 5 = 0
      |         THEN '&nbsp;' ELSE ' ' END)
      |    || '</p><div>&lt;end&gt;</div></body></html>' AS html
      |  FROM documents),
      |st AS (
      |  SELECT doc_id, html,
      |    trim(regexp_replace(regexp_replace(regexp_replace(
      |      regexp_replace(regexp_replace(regexp_replace(html,
      |      '<script[^>]*>.*?</script>', ' ', 'g'),
      |      '<[^>]+>', ' ', 'g'),
      |      '&nbsp;', ' ', 'g'), '&amp;', '&', 'g'),
      |      '&lt;', '<', 'g'), '&gt;', '>', 'g')) AS stripped
      |  FROM h)
      |SELECT doc_id, CAST(length(html) AS BIGINT) AS html_len,
      |  CAST(length(trim(regexp_replace(stripped, ' +', ' ', 'g')))
      |    AS BIGINT) AS text_len,
      |  CAST(length(html) - length(regexp_replace(html, '<[^>]+>', '',
      |    'g')) AS BIGINT) AS markup_chars,
      |  trim(regexp_replace(stripped, ' +', ' ', 'g')) AS extracted
      |FROM st ORDER BY doc_id""".stripMargin

  /** Concordance term. */
  private[graft] val kwicTerm = "spark"

  /** Concordance (KWIC — keyword in context) — the corpus-inspection
    * surface behind search-result snippets, linguistic corpus tools,
    * and "show me how this token is actually used" debugging during
    * data cleaning: every occurrence of the term with up to three
    * tokens of context either side, addressable by (doc, position).
    *
    * Scale shape: the position explode is corpus-sized (this IS the
    * inverted-index build shape — at 100 TB you'd persist it once and
    * serve lookups from it); context slices read the token array
    * still carried on the exploded row (no join back to the
    * document); one ordered output. */
  def textConcordance(s: SparkSession, dir: String): DataFrame =
    graft.Tables.load(s, dir, "documents")
      .select(col("doc_id"), toks(col("text")).as("w"))
      .select(col("doc_id"), col("w"),
        posexplode(col("w")).as(Seq("i", "t")))
      .filter(col("t") === kwicTerm)
      .select(col("doc_id"), (col("i") + 1).as("pos"),
        expr("array_join(slice(w, i + 1 - least(i, 3), least(i, 3)), ' ')")
          .as("left_ctx"),
        col("t").as("term"),
        expr("array_join(slice(w, i + 2, 3), ' ')").as("right_ctx"))
      .orderBy("doc_id", "pos")

  val textConcordanceSql: String =
    s"""WITH t AS (
       |  SELECT doc_id,
       |    list_filter(string_split(text, ' '), x -> x <> '') AS w
       |  FROM documents),
       |u AS (
       |  SELECT doc_id, w, w[CAST(z.p AS INT)] AS tok,
       |    CAST(z.p AS INT) AS p
       |  FROM t, unnest(range(1, len(w) + 1)) AS z(p))
       |SELECT doc_id, p AS pos,
       |  COALESCE(array_to_string(w[GREATEST(p - 3, 1):p - 1], ' '), '')
       |    AS left_ctx,
       |  tok AS term,
       |  COALESCE(array_to_string(w[p + 1:p + 3], ' '), '') AS right_ctx
       |FROM u WHERE tok = '$kwicTerm'
       |ORDER BY doc_id, pos""".stripMargin

  /** Lexical diversity per source — type-token ratio and hapax share
    * (the vocabulary-richness screen corpus curation runs next to
    * text_quality's surface stats: template-generated or looping text
    * shows a collapsed vocabulary long before a human reads it; a
    * healthy hapax share is the classic Zipf-tail signature).
    * Per source: token count, type count, hapax count (types seen
    * once IN THAT SOURCE), TTR and hapax share in exact ppm.
    *
    * Scale shape: the exploded token stream collapses to
    * (source, type) grain at the FIRST aggregate (map-side combine —
    * raw tokens cross the wire once as thin count rows, volume
    * O(per-source vocabulary), never corpus tokens); the source
    * rollup reuses that frame. Integer ppm via `div`, no floats. */
  def textTtr(s: SparkSession, dir: String): DataFrame = {
    Tables.load(s, dir, "documents")
      .select(col("source"), explode(toks(col("text"))).as("tok"))
      .groupBy("source", "tok").agg(count(lit(1)).as("cnt"))
      .groupBy("source")
      .agg(sum(col("cnt")).as("n_tokens"),
        count(lit(1)).as("n_types"),
        sum(when(col("cnt") === 1L, 1L).otherwise(0L)).as("n_hapax"))
      .withColumn("ttr_ppm", expr("(n_types * 1000000) div n_tokens"))
      .withColumn("hapax_ppm", expr("(n_hapax * 1000000) div n_types"))
      .orderBy("source")
  }

  val textTtrSql: String =
    """WITH t AS (
      |  SELECT source,
      |    unnest(list_filter(string_split(text, ' '), x -> x <> ''))
      |      AS tok
      |  FROM documents),
      |c AS (SELECT source, tok, COUNT(*) AS cnt FROM t GROUP BY 1, 2)
      |SELECT source, CAST(SUM(cnt) AS BIGINT) AS n_tokens,
      |  CAST(COUNT(*) AS BIGINT) AS n_types,
      |  CAST(SUM(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_hapax,
      |  CAST(CAST(COUNT(*) AS BIGINT) * 1000000
      |    // CAST(SUM(cnt) AS BIGINT) AS BIGINT) AS ttr_ppm,
      |  CAST(CAST(SUM(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS BIGINT)
      |    * 1000000 // CAST(COUNT(*) AS BIGINT) AS BIGINT) AS hapax_ppm
      |FROM c GROUP BY 1 ORDER BY 1""".stripMargin

  /** Head ranks profiled by the Zipf check. */
  val zipfTopN = 100

  /** Zipf rank-frequency profile of the corpus head vocabulary — the
    * distribution sanity check run before trusting any corpus-level
    * frequency signal (tfidf, vocab OOV, BPE merges): natural text
    * keeps freq·rank roughly constant across the head; template spam
    * or boilerplate floods break the constancy loud. Stays entirely
    * in integers — no log-log regression (library log() is not
    * correctly rounded, so a fitted slope could never be
    * oracle-exact); freq·rank products and ppm shares carry the same
    * diagnostic.
    *
    * Scale shape: term frequencies collapse map-side; the head cut
    * is a global top-k through TopKPerKey bounded heaps (≤ N
    * candidates per partition shuffle — never a full vocab sort);
    * ranking + products then run on the N-row frame, and the corpus
    * total joins in as a broadcast scalar. */
  def textZipf(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tf = Tables.load(s, dir, "documents")
      .select(explode(toks(col("text"))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("freq"))
    val total = tf.agg(sum(col("freq")).as("total"))
    val top = graft.plans.TopKPerKey.topK(
        tf.withColumn("g", lit(1)), Seq("g"),
        Seq(col("freq").desc, col("token")), zipfTopN)
      .select("token", "freq")
    val w = Window.orderBy(col("freq").desc, col("token"))
    top.withColumn("rank", row_number().over(w).cast(LongType))
      .crossJoin(broadcast(total))
      .select(col("rank"), col("token"), col("freq"),
        (col("freq") * col("rank")).as("fr_product"),
        expr("(freq * 1000000) div total").as("share_ppm"))
      .orderBy("rank")
  }

  val textZipfSql: String =
    s"""WITH t AS (
       |  SELECT unnest(list_filter(string_split(text, ' '), x -> x <> ''))
       |    AS token
       |  FROM documents),
       |f AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS freq
       |      FROM t GROUP BY 1),
       |tot AS (SELECT CAST(SUM(freq) AS BIGINT) AS total FROM f),
       |top AS (SELECT token, freq FROM f
       |        ORDER BY freq DESC, token LIMIT $zipfTopN),
       |r AS (SELECT token, freq,
       |  CAST(ROW_NUMBER() OVER (ORDER BY freq DESC, token) AS BIGINT)
       |    AS rank
       |  FROM top)
       |SELECT rank, token, freq,
       |  CAST(freq * rank AS BIGINT) AS fr_product,
       |  CAST((freq * 1000000) // total AS BIGINT) AS share_ppm
       |FROM r CROSS JOIN tot ORDER BY rank""".stripMargin

  /** Cross-source vocabulary overlap matrix — the corpus-curation
    * read behind mixture design and contamination triage: for every
    * source pair, exact vocabulary Jaccard and containment ("is
    * source B lexically a subset of A?"). High containment of a
    * small source in a big one flags near-duplicate provenance
    * BEFORE any per-document dedup runs; near-zero overlap flags a
    * source that will stress the tokenizer/vocab.
    *
    * Scale shape: the (source, token) frame is DISTINCT (vocab-sized
    * per source, sublinear in corpus); the intersection is a keyed
    * shuffle-hash self-join on token producing thin pair rows that
    * collapse map-side into one count per source pair — O(sources²)
    * output; per-source vocab sizes broadcast back in. Integer ppm
    * throughout — no doubles anywhere. */
  def textSourceOverlap(s: SparkSession, dir: String): DataFrame = {
    val st = Tables.load(s, dir, "documents")
      .select(col("source"), explode(toks(col("text"))).as("token"))
      .distinct()
      // one tokenize+distinct pass, reused 3×. EAGER, measured (r15
      // A/B: eager 0.47 s vs lazy 0.49 s best-of-4 interleaved; the
      // self-join's two sides read it concurrently)
      .localCheckpoint()
    val sizes = st.groupBy("source").agg(count(lit(1)).as("n"))
    st.as("x")
      .join(st.as("y").hint("shuffle_hash"),
        col("x.token") === col("y.token") &&
          col("x.source") < col("y.source"))
      .groupBy(col("x.source").as("src_a"), col("y.source").as("src_b"))
      .agg(count(lit(1)).as("inter"))
      .join(broadcast(sizes.withColumnRenamed("source", "src_a")
        .withColumnRenamed("n", "n_a")), Seq("src_a"))
      .join(broadcast(sizes.withColumnRenamed("source", "src_b")
        .withColumnRenamed("n", "n_b")), Seq("src_b"))
      .select(col("src_a"), col("src_b"), col("n_a"), col("n_b"),
        col("inter"),
        expr("(inter * 1000000) div (n_a + n_b - inter)")
          .as("jaccard_ppm"),
        expr("(inter * 1000000) div least(n_a, n_b)")
          .as("containment_ppm"))
      .orderBy("src_a", "src_b")
  }

  val textSourceOverlapSql: String =
    """WITH st AS (
      |  SELECT DISTINCT source, token FROM (
      |    SELECT source,
      |      unnest(list_filter(string_split(text, ' '), x -> x <> ''))
      |        AS token
      |    FROM documents)),
      |sz AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n
      |       FROM st GROUP BY 1),
      |iv AS (
      |  SELECT x.source AS src_a, y.source AS src_b,
      |    CAST(COUNT(*) AS BIGINT) AS inter
      |  FROM st x JOIN st y
      |    ON x.token = y.token AND x.source < y.source
      |  GROUP BY 1, 2)
      |SELECT src_a, src_b, sa.n AS n_a, sb.n AS n_b, inter,
      |  CAST((inter * 1000000) // (sa.n + sb.n - inter) AS BIGINT)
      |    AS jaccard_ppm,
      |  CAST((inter * 1000000) // least(sa.n, sb.n) AS BIGINT)
      |    AS containment_ppm
      |FROM iv
      |JOIN sz sa ON sa.source = iv.src_a
      |JOIN sz sb ON sb.source = iv.src_b
      |ORDER BY 1, 2""".stripMargin

  /** BM25 parameters (Robertson & Zaragoza 2009 defaults). The score
    * formula lives in ONE body string per engine pair below — the §4
    * mirrored-tree discipline; 0.75 and 2.2 are the same decimal
    * literals in both texts, so both engines parse identical binary
    * doubles. */
  private[graft] val bm25Queries = 5
  private val bm25TopK = 3

  /** Publish the per-term IDF table once per corpus: idf =
    * ln(1 + (N − df + ½)/(df + ½)) is computed ONE time in ONE
    * engine and both sides READ the same doubles thereafter —
    * ln is not correctly rounded (§4: log-free statistics), so it
    * must never be evaluated independently per engine (the
    * published-centroids discipline applied to lexical stats).
    *
    * Published under the corpus fingerprint, so it REBUILDS when the
    * fixture at the same path changes: unlike the IVF centroids
    * (frozen, because Lloyd isn't bit-reproducible), the IDF table is
    * a deterministic function of the corpus, so rebuilding is safe. */
  private def ensureBm25Stats(s: SparkSession, dir: String): String =
    graft.Artifacts.publishFor("bm25", dir, Seq("documents")) { out =>
      val docs = graft.Tables.load(s, dir, "documents")
        .select(col("doc_id"), toks(col("text")).as("w"))
      val n = docs.count().toDouble
      docs.select(explode(array_distinct(col("w"))).as("term"))
        .groupBy("term").agg(count(lit(1)).as("df"))
        .select(col("term"), log(lit(1.0) +
          (lit(n) - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
          .as("idf"))
        .write.parquet(out)
    }

  /** BM25 retrieval — THE lexical ranking baseline every search and
    * RAG stack measures against (sim_hybrid_rrf's lexical arm is raw
    * histogram intersection; BM25 adds the two corrections that made
    * it the 30-year default: IDF term weighting and document-LENGTH
    * normalization, so a term-stuffed long doc stops winning on bulk).
    * Queries are the first 5 documents' distinct token sets; output =
    * exact top-3 docs per query with the BM25 score.
    *
    * Exactness: the per-(query, doc) score is a LEFT FOLD over the
    * term-sorted match list — never a SUM(double) aggregate, whose
    * order is nondeterministic (§4); idf doubles come from the
    * published table so ln never evaluates twice; dl/avgdl is spelled
    * dl·N/Σdl with the long products inside the division. Scale
    * shape: the posting join shuffles on the TERM key (the inverted-
    * index layout, query terms broadcast at O(queries·vocab)); the
    * fold runs on O(matches) rows; ranking is the bounded-heap
    * TopKPerKey — the corpus never sorts. */
  /** The (q_id, doc_id, score) BM25 frame — shared verbatim by
    * text_bm25 (exact top-3 ranking) and sim_hybrid_bm25 (the fused
    * retrieval's lexical arm), so both keys rank the SAME doubles:
    * published-IDF weights, fold-not-SUM scoring, dl·N/Σdl length
    * normalization with the long products inside the division. */
  private[operators] def bm25Scored(s: SparkSession, dir: String): DataFrame = {
    val statsPath = ensureBm25Stats(s, dir)
    val docs = graft.Tables.load(s, dir, "documents")
      .select(col("doc_id"), toks(col("text")).as("w"))
    val tf = docs
      .select(col("doc_id"), explode(col("w")).as("term"),
        size(col("w")).cast("long").as("dl"))
      .groupBy("doc_id", "term", "dl").agg(count(lit(1)).as("tf"))
    val tot = docs.agg(
      sum(size(col("w")).cast("long")).as("tot_dl"),
      count(lit(1)).as("n_docs"))
    val idf = s.read.parquet(statsPath)
    val qterms = docs.filter(col("doc_id") < bm25Queries)
      .select(col("doc_id").as("q_id"),
        explode(array_distinct(col("w"))).as("term"))
    val matches = tf
      .join(broadcast(qterms), "term")
      .filter(col("doc_id") =!= col("q_id"))
      .join(idf.hint("shuffle_hash"), "term")
    matches
      .groupBy("q_id", "doc_id", "dl")
      .agg(collect_list(struct(col("term"), col("idf"), col("tf")))
        .as("ts"))
      .crossJoin(broadcast(tot))
      .select(col("q_id"), col("doc_id"), expr(
        "aggregate(sort_array(ts), cast(0.0 as double), (acc, t) -> " +
          "acc + t.idf * (t.tf * 2.2d) / " +
          "(t.tf + 1.2d * (0.25d + 0.75d * dl * n_docs / tot_dl)))")
        .as("score"))
  }

  def textBm25(s: SparkSession, dir: String): DataFrame = {
    val scored = bm25Scored(s, dir)
    val top = graft.plans.TopKPerKey.topK(scored, Seq("q_id"),
      Seq(col("score").desc, col("doc_id")), bm25TopK)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id")).orderBy(col("score").desc, col("doc_id"))
    top.withColumn("rank", row_number().over(w).cast(LongType))
      .select("q_id", "rank", "doc_id", "score")
      .orderBy("q_id", "rank")
  }

  /** Shared DuckDB CTE chain ending in scored(q_id, doc_id, score) —
    * the ONE oracle-side BM25 formula text (§4 mirrored-tree
    * discipline), consumed by text_bm25's ranking and reused verbatim
    * as sim_hybrid_bm25's lexical arm so the two keys' oracles can
    * never drift apart. */
  private[operators] val bm25ScoredCtes: String =
    s"""d AS (
      |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '')
      |    AS w
      |  FROM documents),
      |tf AS (
      |  SELECT doc_id, u.term, CAST(len(w) AS BIGINT) AS dl,
      |    COUNT(*) AS tf
      |  FROM d, unnest(w) AS u(term) GROUP BY 1, 2, 3),
      |tot AS (
      |  SELECT CAST(SUM(len(w)) AS BIGINT) AS tot_dl,
      |    COUNT(*) AS n_docs FROM d),
      |idf AS (
      |  SELECT term, idf
      |  FROM read_parquet('${graft.Artifacts.oracleRoot("bm25")}/*.parquet')),
      |q AS (
      |  SELECT DISTINCT doc_id AS q_id, u.term
      |  FROM d, unnest(w) AS u(term) WHERE doc_id < $bm25Queries),
      |agg AS (
      |  SELECT q.q_id, tf.doc_id, tf.dl,
      |    list_sort(list(struct_pack(term := tf.term, idf := idf.idf,
      |      tf := tf.tf))) AS ts
      |  FROM tf JOIN q USING (term) JOIN idf USING (term)
      |  WHERE tf.doc_id <> q.q_id
      |  GROUP BY 1, 2, 3),
      |scored AS (
      |  SELECT q_id, doc_id,
      |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |      list_transform(ts, t ->
      |        t.idf * (t.tf * 2.2::DOUBLE) /
      |        (t.tf + 1.2::DOUBLE * (0.25::DOUBLE
      |          + 0.75::DOUBLE * dl * n_docs / tot_dl)))),
      |      (acc, x) -> acc + x) AS score
      |  FROM agg CROSS JOIN tot)""".stripMargin

  val textBm25Sql: String =
    s"""WITH $bm25ScoredCtes,
      |ranked AS (
      |  SELECT q_id, doc_id, score,
      |    ROW_NUMBER() OVER (PARTITION BY q_id
      |      ORDER BY score DESC, doc_id) AS rank
      |  FROM scored)
      |SELECT q_id, rank, doc_id, score FROM ranked
      |WHERE rank <= $bm25TopK
      |ORDER BY q_id, rank""".stripMargin

  val keys: Seq[Key] = Seq(
    Key("text_bm25", textBm25, Oracle(textBm25Sql)),
    Key("text_source_overlap", textSourceOverlap, Oracle(textSourceOverlapSql)),
    Key("text_zipf", textZipf, Oracle(textZipfSql)),
    Key("text_ttr", textTtr, Oracle(textTtrSql)),
    Key("text_concordance", textConcordance, Oracle(textConcordanceSql)),
    Key("text_html_strip", textHtmlStrip, Oracle(textHtmlStripSql)),
    Key("text_url_canon", textUrlCanon, Oracle(textUrlCanonSql)),
    Key("text_ngram_novelty", textNgramNovelty, Oracle(textNgramNoveltySql)),
    Key("text_readability", textReadability, Oracle(textReadabilitySql)),
    Key("text_bpe_pairs", textBpePairs, Oracle(textBpePairsSql)),
    Key("text_bpe_train", textBpeTrain, Oracle(textBpeTrainSql)),
    Key("text_bpe_apply", textBpeApply, Oracle(textBpeApplySql)),
    Key("text_dup_spans", textDupSpans, Oracle(textDupSpansSql)),
    Key("text_collocations", textCollocations, Oracle(textCollocationsSql)),
    Key("text_ngram_lm", textNgramLm, Oracle(textNgramLmSql)),
    Key("text_vocab_oov", textVocabOov, Oracle(textVocabOovSql)),
    Key("text_paragraph_dedup", textParagraphDedup, Oracle(textParagraphDedupSql)),
    Key("text_boilerplate", textBoilerplate, Oracle(textBoilerplateSql)),
    Key("text_tfidf", textTfidf, Oracle(textTfidfSql)),
    Key("text_domain_mix", textDomainMix, Oracle(textDomainMixSql)),
    Key("text_train_split", textTrainSplit, Oracle(textTrainSplitSql)),
    Key("text_pack_sequences", textPackSequences, Oracle(textPackSequencesSql)),
    Key("text_chunk", textChunk, Oracle(textChunkSql)),
    Key("text_tokens", textTokens, Oracle(textTokensSql)),
    Key("text_quality", textQuality, Oracle(textQualitySql)),
    Key("text_langid", textLangid, Oracle(textLangidSql)),
    Key("text_lang_confusion", textLangConfusion, Oracle(textLangConfusionSql)),
    Key("text_fingerprint", textFingerprint, Oracle(textFingerprintSql)),
    Key("text_normalize", textNormalize, Oracle(textNormalizeSql)),
    Key("text_pii_scrub", textPiiScrub, Oracle(textPiiScrubSql)),
    Key("text_repetition", textRepetition, Oracle(textRepetitionSql)))

  val queries: Map[String, Key.Run] = Key.queries(keys)
}
