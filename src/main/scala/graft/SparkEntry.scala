package graft
import org.apache.spark.sql.{SparkSession, DataFrame}
import graft.operators._
/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.q5StarJoin(spark, "/root/testdata/sf0.001")
  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Relational.queries ++ Etl.queries ++ TextOps.queries ++
      DedupOps.queries ++ SimOps.queries ++ MultimodalOps.queries ++
      AsOfJoin.queries ++ RangeJoin.queries ++ ScaleJoins.queries ++
      CorpusPipeline.queries ++ graft.streaming.StreamOps.queries ++
      StatsOps.queries ++ AnalyticsOps.queries ++ SeriesOps.queries ++
      SketchOps.queries ++ MatchRecognize.queries
  /** Runs key `fn` on `sfDir` into the noop sink and returns its wall
    * seconds.
    *
    * Stale persisted blocks are dropped BEFORE timing: every run of a
    * localCheckpoint-ing key (clusters, incremental, minhash) leaves
    * its blocks pinned until ContextCleaner's periodic GC, and blocks
    * under storageFraction are UNEVICTABLE by execution memory —
    * measured at sf1: the accumulated garbage squeezed
    * dedup_ngram_jaccard's shuffle into spill collapse (102/343/25 s
    * samples vs 2.8 s in a 1-run-per-key probe of the same build).
    * Each `fn` call rebuilds its frames, so nothing persisted is ever
    * reused across runs and the unpersist is semantically free.
    *
    * The noop sink forces full materialization (a bare count() would
    * let Catalyst prune the projections being measured). */
  def runNoop(spark: SparkSession, fn: (SparkSession, String) => DataFrame,
      sfDir: String): Double = {
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))
    val t0 = System.nanoTime()
    fn(spark, sfDir).write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }
  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    Relational.oracles ++ Etl.oracles ++ TextOps.oracles ++
      DedupOps.oracles ++ SimOps.oracles ++ AsOfJoin.oracles ++
      RangeJoin.oracles ++ ScaleJoins.oracles ++ CorpusPipeline.oracles ++
      graft.streaming.StreamOps.oracles ++ MultimodalOps.oracles ++
      StatsOps.oracles ++ AnalyticsOps.oracles ++ SeriesOps.oracles ++
      SketchOps.oracles ++ MatchRecognize.oracles
}
