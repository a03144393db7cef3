package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.functions._

import graft.operators.{DedupOps, SimOps}

/** Inspection runner: one main whose modes answer what a key costs,
  * how it is planned, and where the ANN and LSH parameters sit on
  * their recall curves. Usage:
  *
  *   runMain graft.Inspect jobs <sfDir> <keys|all>
  *   runMain graft.Inspect plan <sfDir> <keys|all>
  *   runMain graft.Inspect ivf <sfDir> <k,k,...> [probeFrac]
  *   runMain graft.Inspect pq <sfDir> [mList] [kList]
  *   runMain graft.Inspect lsh <sfDir> [tau]
  *
  * `<keys|all>` is a comma-separated list of `SparkEntry.queries`
  * keys, or every key. Each mode is a function returning its rows, so
  * a spec can run it; `main` prints them as they come. */
object Inspect {

  final case class JobsRow(key: String, counts: Probe.Counts, wallS: Double)

  /** Per key: an untimed warm-up run (JIT, codegen, published
    * artifacts), then what one noop run launched and its wall time. */
  def jobs(spark: SparkSession, sfDir: String, keys: Seq[String]): Iterator[JobsRow] = {
    // warm the page cache like Bench does
    Tables.all.foreach(t => Tables.load(spark, sfDir, t).count())
    keys.iterator.map { k =>
      val fn = SparkEntry.queries(k)
      SparkEntry.runNoop(spark, fn, sfDir)
      val (wallS, counts) = Probe.measure(spark)(SparkEntry.runNoop(spark, fn, sfDir))
      JobsRow(k, counts, wallS)
    }
  }

  /** Per key: its formatted physical plan. */
  def plans(spark: SparkSession, sfDir: String, keys: Seq[String]): Iterator[(String, String)] =
    keys.iterator.map { k =>
      k -> SparkEntry.queries(k)(spark, sfDir).queryExecution
        .explainString(ExplainMode.fromString("formatted"))
    }

  final case class IvfRow(k: Int, probes: Int, buildS: Double, planS: Double,
      execS: Double, recall: Double)

  /** IVF sweep at IVF-correct k≈√n; each k probes
    * max(1, round(k * probeFrac)) buckets. Per point:
    *   - build: Lloyd centroid refinement wall time (index
    *     construction, amortized over every later query);
    *   - plan: analysis+planning wall time for the top-k query. The
    *     NearestCentroid expression carries the centroid matrix as a
    *     reference object, so this must stay flat in k (the
    *     O(1)-tree claim the r3 regression taught — an O(k²·dim)
    *     literal tree cost 40 s of Catalyst/Janino at k=16);
    *   - exec: execution wall time;
    *   - recall@topK against the exact brute-force sim_cosine_topk on
    *     the same corpus. */
  def ivf(spark: SparkSession, sfDir: String, ks: Seq[Int],
      probeFrac: Double): Iterator[IvfRow] = {
    val exact = topSets(SimOps.simCosineTopk(spark, sfDir))
    ks.iterator.map { k =>
      val probes = math.max(1, math.round(k * probeFrac).toInt)
      val (cents, buildS) = timed(SimOps.lloydCentroids(
        SimOps.corpus(spark, sfDir), k, SimOps.lloydIters))
      val df = SimOps.ivfTopkWith(spark, sfDir, cents, probes)
      val (_, planS) = timed(df.queryExecution.executedPlan)
      val (approx, execS) = timed(topSets(df))
      IvfRow(k, probes, buildS, planS, execS, recallAt(exact, approx))
    }
  }

  final case class PqRow(m: Int, k: Int, recall: Double, bytesPerVec: Int,
      compression: Double, buildS: Double, queryS: Double)

  /** Product-quantization sweep: recall@k of full-scan ADC against the
    * exact brute force across (m subspaces × k codebook entries),
    * with the compression ratio each point buys — it measures the
    * trade-off the pqM/pqK defaults sit on instead of asserting it. */
  def pq(spark: SparkSession, sfDir: String, ms: Seq[Int], ks: Seq[Int]): Iterator[PqRow] = {
    val exact = topSets(SimOps.simCosineTopk(spark, sfDir))
    val rawBytes = SimOps.embedDim * 4 // float32 corpus vector
    ms.iterator.flatMap(m => ks.iterator.map { k =>
      val (books, buildS) = timed(
        SimOps.buildCodebooks(SimOps.corpus(spark, sfDir), m, k))
      val (approx, queryS) = timed(topSets(SimOps.adcTopk(spark, sfDir, books)))
      // one code per subspace; k <= 256 fits a byte, larger needs two
      val bytes = m * (if (k <= 256) 1 else 2)
      PqRow(m, k, recallAt(exact, approx), bytes, rawBytes.toDouble / bytes,
        buildS, queryS)
    })
  }

  final case class LshRow(bands: Int, rows: Int, candidates: Int, hits: Int,
      truePairs: Int, wallS: Double) {
    def recall: Double = if (truePairs == 0) 1.0 else hits.toDouble / truePairs
    def precision: Double = if (candidates == 0) 1.0 else hits.toDouble / candidates
  }

  /** MinHash LSH band-geometry sweep: for the fixed signature width
    * K = 16, every (bands b × rows r) factorization, measured against
    * exact Jaccard ground truth on the SAME corpus:
    *   - candidates: pairs sharing any band bucket (the work the
    *     verify stage must pay);
    *   - recall: fraction of true ≥ tau pairs among candidates — the
    *     1-(1-s^r)^b S-curve, measured not asserted;
    *   - precision: fraction of candidates that verify ≥ tau.
    * More rows per band sharpens the S-curve (fewer false candidates,
    * risk of missed borderline pairs); more bands raises recall at the
    * cost of candidate volume. The shipped defaults (4×4) sit where
    * the fixture's near-dup pairs (planted at ~0.5-0.9 Jaccard) stay
    * above the knee; this sweep is the evidence by measurement — and
    * the tool to re-run when a real corpus's similarity distribution
    * differs. */
  def lsh(spark: SparkSession, sfDir: String, tau: Double): Iterator[LshRow] = {
    val docs = DedupOps.dupDocs(spark, sfDir)
    val truth = DedupOps.jaccardPairs(docs, tau)
      .select("a", "b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val sigs = DedupOps.minhashSignatures(docs)
      .select("doc_id", "sig", "sh").cache()

    def buckets(b: Int, r: Int): DataFrame =
      sigs.select(col("doc_id"),
        explode(array((0 until b).map { i =>
          struct(lit(i).as("band"),
            xxhash64(slice(col("sig"), i * r + 1, r)).as("bucket"))
        }: _*)).as("bb"))
        .select(col("doc_id"), col("bb.band"), col("bb.bucket"))

    Seq((16, 1), (8, 2), (4, 4), (2, 8), (1, 16)).iterator.map { case (b, r) =>
      val (cand, wallS) = timed {
        val banded = buckets(b, r).hint("shuffle_hash")
        banded.as("x").join(banded.as("y"), Seq("band", "bucket"))
          .filter(col("x.doc_id") < col("y.doc_id"))
          .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
          .dropDuplicates("a", "b")
          .collect().map(row => (row.getLong(0), row.getLong(1))).toSet
      }
      LshRow(b, r, cand.size, cand.intersect(truth).size, truth.size, wallS)
    }
  }

  /** Each query's top-k vector ids, from a frame with `q_id` and
    * `vec_id` columns. */
  private def topSets(df: DataFrame): Map[Long, Set[Long]] =
    df.select("q_id", "vec_id").collect()
      .groupBy(_.getLong(0))
      .map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }

  /** Mean over the exact queries of the share of each exact top-k set
    * that the approximate answer found. */
  private def recallAt(exact: Map[Long, Set[Long]], approx: Map[Long, Set[Long]]): Double =
    exact.map { case (q, s) =>
      approx.getOrElse(q, Set.empty).intersect(s).size.toDouble / s.size
    }.sum / exact.size

  private def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val out = body
    (out, (System.nanoTime() - t0) / 1e9)
  }

  def main(args: Array[String]): Unit = Tables.withSession { spark =>
    def keys(arg: String): Seq[String] =
      if (arg == "all") SparkEntry.queries.keys.toSeq.sorted else arg.split(",").toSeq
    def ints(arg: String): Seq[Int] = arg.split(",").map(_.trim.toInt).toSeq
    args.toSeq match {
      case Seq("jobs", sfDir, ks) =>
        jobs(spark, sfDir, keys(ks)).foreach { r =>
          val c = r.counts
          println(f"[jobstats] ${r.key} jobs=${c.jobs} stages=${c.stages} " +
            f"tasks=${c.tasks} wall=${r.wallS}%.2f s")
          c.perJob.foreach(j => println(f"[jobstats]   ${r.key} job=${j.id} " +
            f"tasks=${j.tasks} ms=${j.ms} site=${j.site}"))
        }
      case Seq("plan", sfDir, ks) =>
        plans(spark, sfDir, keys(ks)).foreach { case (k, plan) =>
          println(s"\n===== $k =====")
          println(plan)
        }
      case Seq("ivf", sfDir, ks, rest @ _*) =>
        val probeFrac = rest.headOption.fold(
          SimOps.nProbe.toDouble / SimOps.nCentroids)(_.toDouble)
        val n = Tables.load(spark, sfDir, "embeddings").count()
        println(s"[ivf-sweep] corpus=$sfDir n=$n probeFrac=$probeFrac")
        ivf(spark, sfDir, ints(ks), probeFrac).foreach { r =>
          println(f"[ivf-sweep] k=${r.k}%4d nProbe=${r.probes}%3d build=${r.buildS}%.2fs " +
            f"plan=${r.planS}%.3fs exec=${r.execS}%.2fs recall@${SimOps.topK}=${r.recall}%.3f")
        }
      case Seq("pq", sfDir, rest @ _*) =>
        val ms = rest.lift(0).fold(Seq(2, 4, 8, 16))(ints)
        val ks = rest.lift(1).fold(Seq(16, 64, 256))(ints)
        pq(spark, sfDir, ms, ks).foreach { r =>
          println(f"""{"m":${r.m},"k":${r.k},"recall":${r.recall}%.3f,""" +
            f""""bytes_per_vec":${r.bytesPerVec},"compression":${r.compression}%.1f,""" +
            f""""build_s":${r.buildS}%.2f,"query_s":${r.queryS}%.2f}""")
        }
      case Seq("lsh", sfDir, rest @ _*) =>
        val tau = rest.headOption.fold(0.5)(_.toDouble)
        println(s"[lsh-sweep] corpus=$sfDir tau=$tau")
        lsh(spark, sfDir, tau).foreach { r =>
          println(f"[lsh-sweep] bands=${r.bands}%2d rows=${r.rows}%2d " +
            f"candidates=${r.candidates}%6d recall=${r.recall}%.3f " +
            f"precision=${r.precision}%.3f wall=${r.wallS}%.2f s")
        }
      case _ =>
        throw new IllegalArgumentException(
          "usage: Inspect jobs|plan <sfDir> <keys|all> | ivf <sfDir> <k,...> " +
            "[probeFrac] | pq <sfDir> [mList] [kList] | lsh <sfDir> [tau]")
    }
  }
}
