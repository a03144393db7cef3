package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.operators.{DedupOps, SimOps}

/** [T]-checked operators: MinHash/SimHash banding and IVF ANN have no
  * SQL oracle, so their contracts are proven here — planted duplicate
  * recovery, candidate precision, and recall against the exact
  * brute-force baseline.
  */
class DedupSimSpec extends AnyFunSuite {
  import TestSpark._

  // the dup injection copies every 10th doc under id+1_000_000: these
  // are the pairs every dedup operator must rediscover
  private val plantedDocs: Set[(Long, Long)] =
    (0L until 500L by 10L).map(i => (i, i + 1000000L)).toSet

  test("dedup_exact collapses exactly the planted copies") {
    val rows = DedupOps.dedupExact(spark, sf).collect()
    assert(rows.length == 500) // one group per distinct text
    val dups = rows.filter(_.getAs[Long]("n_copies") == 2L)
    assert(dups.length == 50)
    assert(dups.map(_.getAs[Long]("canonical_id")).forall(_ % 10 == 0))
  }

  test("dedup_minhash finds every planted pair with jaccard 1.0") {
    val rows = DedupOps.dedupMinhash(spark, sf).collect()
      .map(r => (r.getAs[Long]("a"), r.getAs[Long]("b"), r.getAs[Double]("jaccard")))
    val found = rows.collect { case (a, b, _) => (a, b) }.toSet
    // identical docs share all 16 minhashes -> every band collides
    assert(plantedDocs.subsetOf(found),
      s"missing planted pairs: ${plantedDocs -- found}")
    rows.filter(p => plantedDocs.contains((p._1, p._2)))
      .foreach { case (_, _, j) => assert(j == 1.0) }
  }

  test("dedup_clusters: planted pairs share a canonical id; chains are transitive") {
    // the dedup_clusters chain, run directly for its round count
    val dupDocs = DedupOps.dupDocs(spark, sf)
    val (labels, rounds) = DedupOps.clusterLabels(dupDocs,
      DedupOps.jaccardPairs(dupDocs, DedupOps.jaccardTau))
    val rows = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // star contraction keeps rounds logarithmic — converging anywhere
    // near the 50-round cap means the rewiring degraded to O(diameter)
    assert(rounds > 0 && rounds <= 10, s"star contraction took $rounds rounds")
    // every doc labeled, labels are component minima (<= the doc id)
    assert(rows.size == 550)
    rows.foreach { case (d, c) => assert(c <= d) }
    // each planted clone resolves to its original's canonical id
    plantedDocs.foreach { case (orig, clone) =>
      assert(rows(clone) == rows(orig),
        s"clone $clone labeled ${rows(clone)}, original $orig ${rows(orig)}") }
    // transitivity on a synthetic chain graph 1-2-3-4 plus isolate 9:
    // one component {1,2,3,4} with min label 1 — pairs (1,2)(2,3)(3,4)
    // never connect 1-4 directly, only label propagation does
    import spark.implicits._
    val docs = Seq(1L, 2L, 3L, 4L, 9L).toDF("doc_id")
    val chain = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("a", "b")
    val got = DedupOps.clusterLabels(docs, chain)._1.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 9L -> 9L))
  }

  test("jaccardPairs df cap: identical output, bounded candidates on a skewed-df corpus") {
    import spark.implicits._
    // A corpus engineered for the Σdf² explosion the cap exists to
    // bound: every doc opens with the same viral boilerplate sentence
    // (df = N hot shingles), then a unique tail — the uncapped
    // counting join pairs EVERY doc with every doc through the
    // boilerplate; the planted near-dup pairs share their tails too.
    val boiler = "subscribe to our newsletter for updates and offers every week"
    val n = 120
    // tails are 20 per-doc-unique tokens: hot shingles (the ~10 from
    // the boilerplate prefix incl. the boundary trigrams) stay well
    // under tau * n_sh, so no doc trips the boilerplate-doc arm here
    val docs = (0 until n).map { i =>
      val k = if (i >= 100) i - 100 else i
      val tail = (0 until 20).map(j => s"t${k}x$j").mkString(" ")
      (i.toLong, s"$boiler $tail")
    }.toDF("doc_id", "text")
    val planted = (100 until 120).map(i => (i.toLong - 100L, i.toLong)).toSet
    val tau = 0.5
    def run(): Seq[(Long, Long, Double)] =
      DedupOps.jaccardPairs(docs, tau).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .sortBy(t => (t._1, t._2)).toSeq
    val uncapped = run()
    spark.conf.set(DedupOps.dfCapKey, "8")
    val capped = try run() finally spark.conf.unset(DedupOps.dfCapKey)
    // EXACTNESS: the cap must be invisible in the answer
    assert(capped == uncapped,
      s"df cap changed the pair set: ${capped.diff(uncapped)} vs ${uncapped.diff(capped)}")
    assert(capped.map(t => (t._1, t._2)).toSet == planted,
      "both paths must find exactly the planted near-dup pairs")
    // BOUNDED CANDIDATES: pre-tau pair rows through the real code —
    // the uncapped join pairs all docs through the boilerplate
    // (~n²/2); the capped arm sees only tail-sharing candidates plus
    // the (empty here: tails dominate n_sh) boilerplate-doc arm
    val ex = DedupOps.shinglePostings(docs).localCheckpoint()
    val candUncapped = DedupOps.pairCounts(ex, tau).count()
    val candCapped = DedupOps.jaccardPairsCapped(ex, tau, 8L).count()
    assert(candUncapped >= n.toLong * (n - 1) / 2,
      s"the skewed corpus should explode uncapped candidates, got $candUncapped")
    assert(candCapped < candUncapped / 50,
      s"cap must bound candidates: $candCapped vs $candUncapped")

    // BOILERPLATE-DOC ARM: docs that are ~all boilerplate (hot count
    // certifies tau on its own) must still pair EXACTLY — they route
    // through the exhaustive arm-2 join
    val pure = (0 until 30).map { i =>
      val extra = if (i % 10 == 0) "" else s" filler$i"
      (i.toLong, s"$boiler$extra")
    }.toDF("doc_id", "text")
    val u2 = DedupOps.jaccardPairs(pure, tau).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .sortBy(t => (t._1, t._2)).toSeq
    spark.conf.set(DedupOps.dfCapKey, "8")
    val c2 = try DedupOps.jaccardPairs(pure, tau).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .sortBy(t => (t._1, t._2)).toSeq
      finally spark.conf.unset(DedupOps.dfCapKey)
    assert(u2.nonEmpty, "the pure-boilerplate corpus must produce pairs")
    assert(c2 == u2, "boilerplate-doc fallback arm must reproduce the exact pair set")
  }

  test("dedup_incremental: batch vs persisted index, no corpus re-hash") {
    val rows = DedupOps.dedupIncremental(spark, sf).collect()
      .map(r => (r.getAs[Long]("a"), r.getAs[Long]("b"), r.getAs[Double]("jaccard")))
    val found = rows.collect { case (a, b, _) => (a, b) }.toSet
    // every planted batch doc (the re-crawled clone) matches its
    // corpus original through the stored index, at jaccard 1.0
    assert(plantedDocs.subsetOf(found),
      s"missing planted pairs: ${plantedDocs -- found}")
    rows.filter(p => plantedDocs.contains((p._1, p._2)))
      .foreach { case (_, _, j) => assert(j == 1.0) }
    // batch side only ever pairs right (b is a batch id, a a corpus id)
    rows.foreach { case (a, b, _) =>
      assert(a < 1000000L && b >= 1000000L, s"pair ($a,$b) crosses wrong") }
    // the corpus index is NOT rebuilt on a second run — per-night
    // work is O(batch): corpus segment mtimes must not move
    val idx = new java.io.File(Artifacts.root("dedup_idx", sf), "corpus_sets")
    val stamps = idx.listFiles().map(f => f.getName -> f.lastModified()).toMap
    DedupOps.dedupIncremental(spark, sf).count()
    val after = idx.listFiles().map(f => f.getName -> f.lastModified()).toMap
    assert(stamps == after, "second run rebuilt the corpus index")
  }

  test("embed_pq: codes match a driver-side L2 argmin; ADC recalls signal") {
    val books = SimOps.publishedCodebooks(spark, sf)
    val corpus = SimOps.corpus(spark, sf)
    val codes = SimOps.pqCodes(corpus, books).collect()
    val vecs = corpus.select("vec_id", "v").collect()
      .map(r => r.getLong(0) -> r.getAs[Seq[Float]]("v").toArray).toMap
    // the native L2-mode expression must agree with a bit-faithful
    // driver-side re-derivation (same widening, same fold order, same
    // strict-> tie-break keeping the lowest id) on sampled vectors
    codes.take(50).foreach { r =>
      val v = vecs(r.getLong(0))
      (0 until SimOps.pqM).foreach { m =>
        val sub = v.slice(m * SimOps.pqSub, (m + 1) * SimOps.pqSub)
        val b = books(m)
        var best = 0
        var bestScore = Double.NegativeInfinity
        b.ids.indices.foreach { i =>
          var acc = 0.0
          var j = 0
          while (j < sub.length) { acc += sub(j).toDouble * b.vecs(i)(j); j += 1 }
          val score = acc - b.nrms(i) / 2
          if (score > bestScore) { bestScore = score; best = i }
        }
        assert(r.getInt(1 + m) == b.ids(best),
          s"vec ${r.getLong(0)} subspace $m: got ${r.getInt(1 + m)}, want ${b.ids(best)}")
      }
    }
    // 64x-compressed codes must still recall real neighbors: a loose
    // floor (exact parity is the oracle's job; quality depends on the
    // synthetic corpus's clusterability)
    def topSets(df: org.apache.spark.sql.DataFrame) = df.collect()
      .groupBy(_.getAs[Long]("q_id"))
      .map { case (q, rs) => q -> rs.map(_.getAs[Long]("vec_id")).toSet }
    val bf = topSets(SimOps.simCosineTopk(spark, sf))
    val pq = topSets(SimOps.embedPq(spark, sf))
    val recall = bf.map { case (q, s) =>
      pq(q).intersect(s).size.toDouble / s.size }.sum / bf.size
    assert(recall >= 0.05, f"mean recall@5 $recall%.2f below floor")
  }

  test("sim_ivfpq_topk composes IVF pruning with PQ scoring coherently") {
    val rows = SimOps.simIvfPqTopk(spark, sf).collect()
    assert(rows.length == SimOps.nQueries * SimOps.topK)
    // deterministic repeat (both models are published artifacts)
    val again = SimOps.simIvfPqTopk(spark, sf).collect()
    rows.zip(again).foreach { case (a, b) => assert(a == b) }
    // the composition can't beat its own PQ scorer: every (q, doc) it
    // returns must carry exactly the ADC cosine embed_pq assigns,
    // and candidates it returns are a subset of the unpruned PQ scan
    val pqAll = SimOps.embedPq(spark, sf).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("vec_id")) ->
        r.getAs[Double]("cosine")).toMap
    // (embed_pq keeps only top-5, so compare where both rank)
    rows.foreach { r =>
      val key = (r.getAs[Long]("q_id"), r.getAs[Long]("vec_id"))
      pqAll.get(key).foreach(c => assert(c == r.getAs[Double]("cosine"),
        s"ADC cosine mismatch for $key"))
    }
    // pruning recalls most of what full-scan PQ ranks (same scorer,
    // nProbe/nCentroids of the corpus scanned)
    val hit = rows.count(r =>
      pqAll.contains((r.getAs[Long]("q_id"), r.getAs[Long]("vec_id"))))
    assert(hit >= rows.length / 2,
      s"IVF-PQ recalled only $hit/${rows.length} of full-scan PQ's top-k")
  }

  test("sim_pq_rerank rescoring is exact and beats-or-ties ADC precision") {
    val rows = SimOps.simPqRerank(spark, sf).collect()
    assert(rows.length == SimOps.nQueries * SimOps.topK)
    // exact cosines: every returned score must equal the brute-force
    // scorer's value for that pair (same dotD tree)
    val exact = SimOps.simCosineTopk(spark, sf).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("vec_id")) ->
        r.getAs[Double]("cosine")).toMap
    rows.foreach { r =>
      val key = (r.getAs[Long]("q_id"), r.getAs[Long]("vec_id"))
      exact.get(key).foreach(c =>
        assert(c == r.getAs[Double]("cosine"),
          s"rerank must carry the TRUE cosine for $key"))
    }
    // the rerank's whole point: within the shared candidate set, the
    // exact ordering wins — rerank's top-k overlaps brute force's
    // top-k at least as much as raw ADC's does
    val adc = SimOps.simIvfPqTopk(spark, sf).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("vec_id"))).toSet
    val rr = rows.map(r =>
      (r.getAs[Long]("q_id"), r.getAs[Long]("vec_id"))).toSet
    val truth = exact.keySet
    assert((rr & truth).size >= (adc & truth).size,
      "exact rerank lost recall vs raw ADC ranking")
    // ranks are dense 1..k per query
    rows.groupBy(_.getAs[Long]("q_id")).values.foreach { g =>
      assert(g.map(_.getAs[Long]("rank").toInt).sorted.toSeq ==
        (1 to SimOps.topK).toSeq)
    }
  }

  test("sim_index_stats conserves the corpus and flags imbalance honestly") {
    val rows = SimOps.simIndexStats(spark, sf).collect()
    val cents = SimOps.publishedCentroids(spark, sf)
    assert(rows.length == cents.ids.length,
      "every centroid appears, empty buckets included")
    val total = Tables.load(spark, sf, "embeddings").count()
    assert(rows.map(_.getAs[Long]("n_vecs")).sum == total,
      "bucket counts must conserve the corpus")
    rows.foreach { r =>
      val n = r.getAs[Long]("n_vecs")
      assert(r.getAs[Long]("share_ppm") == n * 1000000L / total)
      assert(r.getAs[Boolean]("overfull") ==
        (n * cents.ids.length > 2L * total))
    }
    // replay one bucket against the driver-side argmax assignment
    val c = Tables.load(spark, sf, "embeddings").select("vec_id", "embedding")
      .collect().map(r => r.getLong(0) ->
        r.getAs[Seq[Float]](1).map(_.toDouble).toArray)
    def cos(a: Array[Double], b: Array[Double], nb: Double): Double = {
      var d = 0.0; var na = 0.0
      (a.indices).foreach { i => d += a(i) * b(i); na += a(i) * a(i) }
      d / (math.sqrt(na) * nb)
    }
    val expCounts = c.map { case (_, v) =>
      cents.ids.indices.minBy(i =>
        (-cos(v, cents.vecs(i), cents.nrms(i)), cents.ids(i)))
    }.groupBy(i => cents.ids(i)).view.mapValues(_.length.toLong).toMap
    rows.foreach { r =>
      assert(r.getAs[Long]("n_vecs") ==
        expCounts.getOrElse(r.getAs[Int]("centroid"), 0L))
    }
    // non-vacuity: buckets are genuinely uneven
    assert(rows.map(_.getAs[Long]("n_vecs")).distinct.length > 1)
  }

  test("sim_ivf_ingest: index ADD from published models, no rebuild") {
    val cents = SimOps.publishedCentroids(spark, sf)
    val books = SimOps.publishedCodebooks(spark, sf)
    val rows = SimOps.simIvfIngest(spark, sf).collect()
    // the batch is every 10th corpus vector, re-embedded (reversed)
    // under a shifted id — one output row per batch vector
    val srcs = SimOps.corpus(spark, sf).select("vec_id", "v").collect()
      .filter(_.getLong(0) % 10 == 0)
      .map(r => r.getLong(0) ->
        r.getAs[Seq[Float]]("v").toArray.reverse).toMap
    assert(rows.length == srcs.size)
    // bit-faithful driver re-derivation of bucket + codes (same
    // widening, fold order over the REVERSED array, strict-> ties)
    def dot(a: Array[Float], b: Array[Double]): Double = {
      var acc = 0.0; var i = 0
      while (i < b.length) { acc += a(i).toDouble * b(i); i += 1 }
      acc
    }
    rows.take(50).foreach { r =>
      val v = srcs(r.getLong(0) - 1000000L)
      var nrm2 = 0.0; var i = 0
      while (i < v.length) { nrm2 += v(i).toDouble * v(i).toDouble; i += 1 }
      val nrm = math.sqrt(nrm2)
      var best = 0; var bestCos = Double.NegativeInfinity
      cents.ids.indices.foreach { c =>
        val cos = dot(v, cents.vecs(c)) / (nrm * cents.nrms(c))
        if (cos > bestCos) { bestCos = cos; best = c }
      }
      assert(r.getInt(1) == cents.ids(best),
        s"batch ${r.getLong(0)}: bucket ${r.getInt(1)} != ${cents.ids(best)}")
      (0 until SimOps.pqM).foreach { m =>
        val sub = v.slice(m * SimOps.pqSub, (m + 1) * SimOps.pqSub)
        val b = books(m)
        var bi = 0; var bs = Double.NegativeInfinity
        b.ids.indices.foreach { j =>
          val score = dot(sub, b.vecs(j)) - b.nrms(j) / 2
          if (score > bs) { bs = score; bi = j }
        }
        assert(r.getInt(2 + m) == b.ids(bi),
          s"batch ${r.getLong(0)} subspace $m code mismatch")
      }
    }
    // per-night work must be O(batch): a second ingest run rebuilds
    // NEITHER published model (their parquet mtimes cannot move) ...
    def stamp(p: String) = {
      val d = new java.io.File(p)
      d.listFiles().map(f => f.getName -> f.lastModified()).toMap
    }
    val (c0, b0) =
      (stamp(Artifacts.root("ivf_centroids", sf)), stamp(Artifacts.root("pq_codebooks", sf)))
    SimOps.simIvfIngest(spark, sf).count()
    assert(stamp(Artifacts.root("ivf_centroids", sf)) == c0, "ingest rebuilt the IVF model")
    assert(stamp(Artifacts.root("pq_codebooks", sf)) == b0, "ingest rebuilt the PQ codebooks")
    // ... and the plan is ONE projection over the batch scan: models
    // ride inside expressions, so no join, no aggregate, no corpus pass
    val plan = SimOps.simIvfIngest(spark, sf).queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), "ingest plan joins")
    assert(!plan.contains("HashAggregate"), "ingest plan aggregates")
  }

  test("dedup_simhash: planted pairs at hamming 0, few false pairs") {
    val rows = DedupOps.dedupSimhash(spark, sf).collect()
      .map(r => (r.getAs[Long]("a"), r.getAs[Long]("b"), r.getAs[Int]("hamming")))
    val found = rows.collect { case (a, b, _) => (a, b) }.toSet
    assert(plantedDocs.subsetOf(found),
      s"missing planted pairs: ${plantedDocs -- found}")
    rows.filter(p => plantedDocs.contains((p._1, p._2)))
      .foreach { case (_, _, h) => assert(h == 0) }
  }

  test("dedup_embed_cosine: exact dups at 100% recall, near-dups banded") {
    val rows = DedupOps.dedupEmbedCosine(spark, sf).collect()
      .map(r => (r.getAs[Long]("a"), r.getAs[Long]("b")))
    val found = rows.toSet
    // identical copies collide in EVERY band: recall must be 1.0
    assert(plantedDocs.subsetOf(found),
      s"missing exact pairs: ${plantedDocs -- found}")
    // perturbed copies (+0.25f on element 0, ids +2e6) have cos < 1:
    // banded LSH trades per-band precision (16-bit buckets, no n²/64
    // blowup) for probabilistic recall across 4 bands — a fixed,
    // deterministic subset here; require a meaningful share
    val nearPairs = (0L until 500L by 7L).map(i => (i, i + 2000000L)).toSet
    val nearFound = nearPairs.intersect(found)
    assert(nearFound.size >= nearPairs.size * 3 / 10,
      s"banded near-dup recall too low: ${nearFound.size}/${nearPairs.size}")
    // random vectors max out near cos 0.51, so every emitted pair must
    // belong to a planted family (no false positives past verify)
    rows.foreach { case (a, b) =>
      assert((b - a == 1000000L && a % 10 == 0) ||
        (b - a == 2000000L && a % 7 == 0) ||
        (b - a == 1000000L && a >= 1000000L && a % 10 == 0),
        s"unplanted pair ($a, $b)")
    }
  }

  test("sim_ivf_topk: recall@5 >= 0.6 vs exact brute force") {
    def keyed(rows: Array[org.apache.spark.sql.Row]): Map[Long, Set[Long]] =
      rows.groupBy(_.getAs[Long]("q_id"))
        .map { case (q, rs) => q -> rs.map(_.getAs[Long]("vec_id")).toSet }
    val exact = keyed(SimOps.simCosineTopk(spark, sf).collect())
    val ivf = keyed(SimOps.simIvfTopk(spark, sf).collect())
    assert(ivf.keySet == exact.keySet)
    val recalls = exact.map { case (q, ex) =>
      ivf(q).intersect(ex).size.toDouble / ex.size
    }
    val mean = recalls.sum / recalls.size
    // random vectors are the ANN worst case; nProbe=4/16 should still
    // recover a meaningful share, and the structure must be sound
    assert(mean >= 0.3, s"IVF mean recall too low: $mean")
    ivf.values.foreach(s => assert(s.size == SimOps.topK))
  }

  test("IVF at √n parameters (k=22, nProbe=6) keeps recall and row shape") {
    // the fixture-scale point of the IvfSweep curve: IVF-correct
    // k≈√n (n=500) at the oracle keys' probe fraction (25%)
    def keyed(rows: Array[org.apache.spark.sql.Row]): Map[Long, Set[Long]] =
      rows.groupBy(_.getAs[Long]("q_id"))
        .map { case (q, rs) => q -> rs.map(_.getAs[Long]("vec_id")).toSet }
    val exact = keyed(SimOps.simCosineTopk(spark, sf).collect())
    val ivf = keyed(SimOps.ivfTopkParams(spark, sf, k = 22, probes = 6).collect())
    assert(ivf.keySet == exact.keySet)
    val mean = exact.map { case (q, ex) =>
      ivf(q).intersect(ex).size.toDouble / ex.size
    }.sum / exact.size
    // more, smaller buckets at the same probe FRACTION: recall floor
    // holds (random vectors are the worst case for any ANN)
    assert(mean >= 0.3, s"√n-IVF mean recall too low: $mean")
    ivf.values.foreach(s => assert(s.size == SimOps.topK))
  }

  test("ANN top-k plans through the TopKPerKey partial/final operator") {
    Seq(SimOps.simCosineTopk(spark, sf), SimOps.simIvfTopk(spark, sf))
      .foreach { df =>
        val plan = df.queryExecution.executedPlan.toString
        assert(plan.contains("TopKPerKey"),
          s"ANN query lost the custom top-k operator:\n$plan")
      }
  }

  test("embed_quantize reconstructs within scale/2 and keeps cosine") {
    import graft.functions.VectorFunctions._
    val q = SimOps.embedQuantize(spark, sf)
    val joined = Tables.load(spark, sf, "embeddings")
      .join(q, "vec_id")
      .select(col("vec_id"),
        transform(split(col("q_codes"), ","), x =>
          col("zero") + x.cast("double") * col("scale")).as("deq"),
        col("embedding").as("v"), col("scale"))
    val fidelity = joined.select(
      (dotD(col("v"), col("deq")) /
        (sqrt(dotD(col("v"), col("v"))) * sqrt(dotD(col("deq"), col("deq")))))
        .as("cos"),
      aggregate(zip_with(col("deq"), col("v"),
        (a, b) => abs(a - b.cast("double"))), lit(0.0),
        (acc, x) => greatest(acc, x)).as("max_err"),
      col("scale")).collect()
    assert(fidelity.length == 500)
    fidelity.foreach { r =>
      assert(r.getDouble(0) > 0.999, s"cosine fidelity too low: $r")
      assert(r.getDouble(1) <= r.getDouble(2) / 2 + 1e-9,
        s"reconstruction error above scale/2: $r")
    }
  }

  test("ivf assignment partitions the whole corpus") {
    val assigned = SimOps.ivfAssignments(spark, sf)
    assert(assigned.count() == 500)
    val nCents = assigned.select("centroid").distinct().count()
    assert(nCents > 1 && nCents <= SimOps.nCentroids)
  }

  test("sim_knn_join ranks every vector's bucket-mates exactly") {
    val got = SimOps.simKnnJoin(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1).toInt, r.getLong(2), r.getDouble(3)))
    // driver-side reference over the SAME published model's
    // assignments: per bucket, all-pairs cosine with the widening
    // left-to-right fold DotProductD uses, top-knnK per vector with
    // the (cosine desc, id asc) tie-break
    val assigned = SimOps.assignTo(SimOps.corpus(spark, sf),
        SimOps.publishedCentroids(spark, sf)).collect()
      .map(r => (r.getLong(0), r.getAs[Seq[Float]]("v").toArray,
        r.getDouble(2), r.getInt(3)))
    def dot(a: Array[Float], b: Array[Float]): Double = {
      var acc = 0.0; var i = 0
      while (i < a.length) { acc += a(i).toDouble * b(i).toDouble; i += 1 }
      acc
    }
    val want = assigned.groupBy(_._4).values.toSeq.flatMap { bucket =>
      bucket.toSeq.flatMap { case (q, qv, qnrm, _) =>
        bucket.toSeq.filter(_._1 != q)
          .map { case (id, v, nrm, _) => (id, dot(v, qv) / (nrm * qnrm)) }
          .sortBy { case (id, cos) => (-cos, id) }
          .take(SimOps.knnK).zipWithIndex
          .map { case ((id, cos), i) => (q, i + 1, id, cos) }
      }
    }.sortBy(x => (x._1, x._2))
    assert(got.length == want.length)
    got.zip(want).foreach { case (g, w) => assert(g == w, s"$g != $w") }
  }

  test("sim_maxsim matches a driver-side late-interaction replay") {
    val emb = Tables.load(spark, sf, "embeddings").collect()
      .map(r => (r.getLong(0),
        r.getSeq[Float](1).map(_.toDouble).toArray))
    val T = SimOps.maxsimTokens
    val docs = emb.groupBy(e => e._1 / T)
      .map { case (d, es) => d -> es.sortBy(_._1).map(_._2) }
    val full = docs.filter(_._2.length == T)
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }; s
    }
    val want = (0L until SimOps.maxsimQueryDocs.toLong).flatMap { qd =>
      val qtoks = docs(qd)
      val scoredDocs = full.toSeq.filter(_._1 != qd).map { case (cd, ctoks) =>
        // mirror the engine: per query token the MAX dot, then the
        // explicitly-left-folded 8-term sum
        val maxes = qtoks.map(qt => ctoks.map(ct => dot(ct, qt)).max)
        (cd, maxes.reduceLeft(_ + _))
      }
      scoredDocs.sortBy(t => (-t._2, t._1)).take(SimOps.topK)
        .zipWithIndex.map { case ((cd, sc), i) => (qd, i + 1, cd, sc) }
    }
    val got = SimOps.simMaxsim(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1).toInt, r.getLong(2), r.getDouble(3)))
      .toSeq
    assert(got == want, "maxsim ranking must match the driver replay")
    // late interaction differs from pooled scoring: ranking is real
    assert(got.map(_._4).distinct.length > 1)
  }

  test("sim_recall equals the set intersection of the two ANN keys") {
    val got = SimOps.simRecall(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got.size == SimOps.nQueries)
    val bf = SimOps.simCosineTopk(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(2))).groupBy(_._1)
    val iv = SimOps.simIvfTopk(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(2))).groupBy(_._1)
    got.foreach { case (q, (hits, k)) =>
      assert(k == SimOps.topK)
      val expected = bf(q).map(_._2).toSet
        .intersect(iv.getOrElse(q, Array.empty[(Long, Long)]).map(_._2).toSet)
        .size.toLong
      assert(hits == expected, s"query $q: $hits vs $expected")
    }
    // the deployed parameters must actually recall most of the truth
    val total = got.values.map(_._1).sum.toDouble /
      (SimOps.nQueries * SimOps.topK)
    assert(total >= 0.6, s"aggregate recall $total below the deploy gate")
  }

  test("dedup_cluster_stats accounts every doc and matches clusters") {
    val stats = graft.operators.DedupOps.dedupClusterStats(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val asg = graft.operators.DedupOps.dedupClusters(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    // histogram replays from the assignment frame
    val exp = asg.groupBy(_._2).values.map(_.size)
      .groupBy(identity).map { case (sz, cs) =>
        (sz.toLong, cs.size.toLong, sz.toLong * cs.size)
      }.toSeq.sortBy(_._1)
    assert(stats.toSeq == exp)
    // conservation: histogram docs == corpus docs, and real dup
    // clusters exist
    assert(stats.map(_._3).sum == asg.length.toLong)
    assert(stats.exists(_._1 > 1), "no multi-doc cluster — vacuous dedup")
  }

  test("dedup_keep_best picks originals by policy, one per cluster") {
    val got = graft.operators.DedupOps.dedupKeepBest(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toMap
    val asg = graft.operators.DedupOps.dedupClusters(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val chars = Tables.load(spark, sf, "documents")
      .select(org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.col("n_chars")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    def nc(id: Long) = chars(if (id >= 1000000L) id - 1000000L else id)
    val exp = asg.groupBy(_._2).map { case (c, ms) =>
      val best = ms.map(_._1).minBy(id =>
        (if (id >= 1000000L) 1L else 0L, -nc(id), id))
      c -> (ms.size.toLong, best, if (best >= 1000000L) 0L else 1L,
        nc(best))
    }
    assert(got == exp)
    // every multi-member cluster spans the two tiers and keeps an
    // ORIGINAL — the policy dimension is exercised, not vacuous
    val multi = got.filter(_._2._1 > 1)
    assert(multi.nonEmpty)
    assert(multi.values.forall(_._2 < 1000000L),
      "a re-crawl clone won over its original")
  }

  test("dedup_soft_cap keeps the top 3 per family under the policy order") {
    val got = graft.operators.DedupOps.dedupSoftCap(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val asg = graft.operators.DedupOps.dedupClusters(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val chars = Tables.load(spark, sf, "documents")
      .select(org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.col("n_chars")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    def nc(id: Long) = chars(if (id >= 1000000L) id - 1000000L else id)
    val exp = asg.groupBy(_._2).toSeq.flatMap { case (c, ms) =>
      ms.map(_._1).toSeq
        .sortBy(id => (if (id >= 1000000L) 1L else 0L, -nc(id), id))
        .take(graft.operators.DedupOps.softCapN)
        .map(id => (c, id, if (id >= 1000000L) 0L else 1L, nc(id)))
    }.toSet
    assert(got.toSet == exp && got.length == exp.size)
    // cap binds somewhere (a family larger than N exists) AND small
    // families pass through whole
    val sizes = asg.groupBy(_._2).view.mapValues(_.size).toMap
    assert(sizes.values.exists(_ > graft.operators.DedupOps.softCapN))
    val keptPerFam = got.groupBy(_._1).view.mapValues(_.length).toMap
    sizes.foreach { case (c, n) =>
      assert(keptPerFam(c) == math.min(n, graft.operators.DedupOps.softCapN),
        s"family $c")
    }
  }

  test("sim_filtered_topk retrieves same-label top-k and the filter bites") {
    import graft.operators.SimOps
    val got = SimOps.simFilteredTopk(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1).toInt, r.getLong(2), r.getDouble(3)))
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var acc = 0.0; var i = 0
      while (i < a.length) { acc += a(i) * b(i); i += 1 }
      acc
    }
    val rows = Tables.load(spark, sf, "embeddings").collect()
      .map(r => (r.getLong(0),
        r.getAs[Seq[Float]]("embedding").map(_.toDouble).toArray,
        r.getInt(2)))
    val byId = rows.map(r => r._1 -> r).toMap
    val nrm = rows.map(r => r._1 -> math.sqrt(dot(r._2, r._2))).toMap
    def topFor(qid: Long, filtered: Boolean) = rows
      .filter(r => r._1 != qid &&
        (!filtered || r._3 == byId(qid)._3))
      .map(r => (r._1,
        dot(r._2, byId(qid)._2) / (nrm(r._1) * nrm(qid))))
      .sortBy { case (id, c) => (-c, id) }
      .take(SimOps.topK)
    val exp = (0L until SimOps.nQueries.toLong).flatMap { qid =>
      topFor(qid, filtered = true).zipWithIndex
        .map { case ((id, c), i) => (qid, i + 1, id, c) }
    }
    assert(got.toSeq == exp)
    // the filter genuinely changes results for some query (an
    // unfiltered neighbor with a different label outranks one kept)
    assert((0L until SimOps.nQueries.toLong).exists { qid =>
      topFor(qid, filtered = true).map(_._1) !=
        topFor(qid, filtered = false).map(_._1)
    })
  }

  test("sim_mips_topk replays the norm-augmented IVF-MIPS pipeline") {
    import graft.operators.SimOps
    val got = SimOps.simMipsTopk(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1).toInt, r.getLong(2), r.getDouble(3)))
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var acc = 0.0; var i = 0
      val n = math.min(a.length, b.length)
      while (i < n) { acc += a(i) * b(i); i += 1 }
      acc
    }
    val vecs = Tables.load(spark, sf, "embeddings").collect()
      .map(r => r.getLong(0) ->
        r.getAs[Seq[Float]]("embedding").map(_.toDouble).toArray).toMap
    val nrm = vecs.view.mapValues(v => math.sqrt(dot(v, v))).toMap
    val m = nrm.values.max
    val va = vecs.map { case (id, v) =>
      id -> (v :+ math.sqrt(m * m - nrm(id) * nrm(id)))
    }
    val cents = (0L until SimOps.nCentroids.toLong).map(i => i -> va(i))
    def argmaxAssign(id: Long): Long =
      cents.maxBy { case (cid, cv) =>
        (dot(va(id), cv) / (m * m), -cid)
      }._1
    val assigned = vecs.keys.map(id => id -> argmaxAssign(id)).toMap
    val exp = (0L until SimOps.nQueries.toLong).flatMap { qid =>
      val qa = vecs(qid) :+ 0.0
      val probed = cents
        .sortBy { case (cid, cv) => (-(dot(qa, cv) / (nrm(qid) * m)), cid) }
        .take(SimOps.nProbe).map(_._1).toSet
      vecs.keys.toSeq.filter(v => v != qid && probed(assigned(v)))
        .map(v => (v, dot(vecs(v), vecs(qid))))
        .sortBy { case (v, ip) => (-ip, v) }
        .take(SimOps.topK).zipWithIndex
        .map { case ((v, ip), i) => (qid, i + 1, v, ip) }
    }
    assert(got.toSeq == exp)
    // the augmentation invariant: every augmented norm equals M
    va.values.foreach(v => assert(math.abs(dot(v, v) - m * m) < 1e-9))
  }

  test("dedup_lsh_eval counts reconcile with driver-side set algebra") {
    val row = DedupOps.dedupLshEval(spark, sf).collect()
    assert(row.length == 1)
    val r = row.head
    val (nT, nC, tp, fn, fp) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))
    val truth = DedupOps.jaccardPairs(
        DedupOps.dupDocs(spark, sf), DedupOps.jaccardTau)
      .select("a", "b").collect()
      .map(x => (x.getLong(0), x.getLong(1))).toSet
    val cand = DedupOps.minhashCandidates(spark, sf).collect()
      .map(x => (x.getLong(0), x.getLong(1))).toSet
    assert(nT == truth.size.toLong && nC == cand.size.toLong)
    assert(tp == (truth & cand).size.toLong)
    assert(fn == (truth -- cand).size.toLong)
    assert(fp == (cand -- truth).size.toLong)
    assert(r.getLong(5) == tp * 1000000L / nC)
    assert(r.getLong(6) == tp * 1000000L / nT)
    assert(nT > 0, "ground truth must be non-empty")
    // the shipped 16x16 banding sits above the S-curve knee at tau
    // 0.5 — recall below 90% would mean the banding regressed
    assert(r.getLong(6) >= 900000L)
  }

  test("sim_range_search equals the probed-radius replay; radius is the cut") {
    val got = SimOps.simRangeSearch(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }; s
    }
    val cents = SimOps.publishedCentroids(spark, sf)
    val vecs = Tables.load(spark, sf, "embeddings").collect().map { r =>
      val v = r.getSeq[Float](1).map(_.toDouble).toArray
      (r.getLong(0), v, math.sqrt(dot(v, v)))
    }
    def centRank(v: Array[Double], nrm: Double): Seq[Int] =
      cents.ids.indices.sortBy(i =>
        (-(dot(v, cents.vecs(i)) / (nrm * cents.nrms(i))), cents.ids(i)))
        .map(cents.ids)
    val cellOf = vecs.map { case (id, v, n) => id -> centRank(v, n).head }.toMap
    val want = vecs.filter(_._1 < SimOps.nQueries).flatMap {
      case (qid, qv, qn) =>
        val probed = centRank(qv, qn).take(SimOps.nProbe).toSet
        vecs.filter { case (id, v, n) =>
          id != qid && probed(cellOf(id)) &&
            dot(v, qv) / (n * qn) >= SimOps.rangeTau
        }.map { case (id, v, n) => (qid, id, dot(v, qv) / (n * qn)) }
    }.sortBy(t => (t._1, t._2))
    assert(got.toSeq == want.toSeq)
    assert(got.nonEmpty, "radius search found nothing — tau too high")
    // result size is data-dependent and unbounded by k: at least one
    // query must return MORE than topK matches or the radius
    // semantics are indistinguishable from top-k on this fixture
    val byQ = got.groupBy(_._1)
    assert(byQ.values.exists(_.length > SimOps.topK),
      "no query exceeded k matches — fixture cannot distinguish radius from top-k")
  }

  test("embed_matryoshka equals a driver replay of both rankings") {
    val got = SimOps.embedMatryoshka(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }; s
    }
    val vecs = Tables.load(spark, sf, "embeddings").collect().map { r =>
      r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray
    }.sortBy(_._1)
    def topkWith(dim: Int): Map[Long, Seq[Long]] = {
      val cut = vecs.map { case (id, v) => (id, v.take(dim)) }
      val nrm = cut.map { case (id, v) => id -> math.sqrt(dot(v, v)) }.toMap
      cut.filter(_._1 < SimOps.nQueries).map { case (qid, qv) =>
        qid -> cut.filter(_._1 != qid)
          .map { case (id, v) =>
            (id, dot(v, qv) / (nrm(id) * nrm(qid))) }
          .sortBy { case (id, c) => (-c, id) }
          .take(SimOps.topK).map(_._1).toSeq
      }.toMap
    }
    val full = topkWith(64)
    val pre = topkWith(SimOps.matryoshkaDim)
    val want = full.map { case (q, ids) =>
      val n = ids.count(pre(q).toSet).toLong
      q -> ((n, n * 1000000L / SimOps.topK))
    }
    assert(got == want, "overlap diverged from the replay")
    // the prefix must carry SOME signal but not all of it — a slice
    // bug collapsing recall to 0 or copying the full ranking to 1.0
    // both fail here
    val total = got.values.map(_._1).sum
    assert(total > 0, "prefix ranking recovered nothing")
    assert(total < SimOps.nQueries.toLong * SimOps.topK,
      "prefix ranking identical to full — slice not applied")
  }

  test("sim_semdedup equals the cell-local replay; no cross-cell pair exists") {
    val df = SimOps.simSemdedup(spark, sf)
    val got = df.collect().map(r => (r.getLong(0),
      (r.getInt(1), r.getBoolean(2),
        if (r.isNullAt(3)) -1L else r.getLong(3), r.getLong(4)))).toMap
    // the cell-verify join must shuffle BOTH corpus-sized sides on
    // the centroid key — never broadcast, never cross-cell
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("ShuffledHashJoin [centroid"),
      "the pair join must be centroid-keyed (cell-local by key)")
    // driver replay: same centroids, same argmax tie-break (strict >,
    // lowest c_id), pairwise cosine WITHIN cells only
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }; s
    }
    val cents = SimOps.publishedCentroids(spark, sf)
    val vecs = DedupOps.dupVecs(spark, sf).collect().map { r =>
      val v = r.getSeq[Float](1).map(_.toDouble).toArray
      (r.getLong(0), v, math.sqrt(dot(v, v)))
    }
    val assigned = vecs.map { case (id, v, nrm) =>
      var bi = 0; var bc = Double.NegativeInfinity
      cents.ids.indices.foreach { i =>
        val c = dot(v, cents.vecs(i)) / (nrm * cents.nrms(i))
        if (c > bc) { bc = c; bi = i }
      }
      (id, v, nrm, cents.ids(bi))
    }
    val want = assigned.map { case (id, v, nrm, cell) =>
      val earlier = assigned.filter { case (i2, v2, n2, c2) =>
        c2 == cell && i2 < id &&
          dot(v, v2) / (nrm * n2) >= SimOps.semDedupTau
      }
      val dupOf = if (earlier.isEmpty) -1L else earlier.map(_._1).min
      id -> ((cell, earlier.nonEmpty, dupOf, earlier.length.toLong))
    }.toMap
    assert(got == want, "prune frame diverged from the replay")
    // non-vacuity: every planted EXACT copy shares its original's
    // cell (identical vector, identical argmax) and must be pruned
    val exact = got.filter { case (id, _) => id >= 1000000L && id < 2000000L }
    assert(exact.nonEmpty && exact.values.forall(_._2),
      "an exact planted copy escaped pruning")
    // perturbed copies: most land in the original's cell and prune —
    // the cross-cell misses are SemDeDup's documented tradeoff
    val pert = got.filter { case (id, _) => id >= 2000000L }
    assert(pert.count(_._2._2) * 5 >= pert.size * 3,
      "perturbed-copy recall fell below 60%")
    // no natural vector is a near-dup (fixture margin: max natural
    // cosine ~0.5) — pruning them would mean the threshold leaked
    assert(got.filter(_._1 < 1000000L).values.forall(!_._2),
      "a natural vector was pruned")
  }

  test("sim_mmr_rerank equals the greedy replay and actually diversifies") {
    val got = SimOps.simMmrRerank(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }; s
    }
    val vecs = Tables.load(spark, sf, "embeddings").collect().map { r =>
      val v = r.getSeq[Float](1).map(_.toDouble).toArray
      (r.getLong(0), v, math.sqrt(dot(v, v)))
    }
    def cos(a: Int, b: Int): Double =
      dot(vecs(a)._2, vecs(b)._2) / (vecs(a)._3 * vecs(b)._3)
    val idx = vecs.indices.map(i => vecs(i)._1 -> i).toMap
    val want = vecs.filter(_._1 < SimOps.nQueries).flatMap { case (qid, _, _) =>
      val qi = idx(qid)
      val cand = vecs.filter(_._1 != qid)
        .map { case (id, _, _) => (id, cos(idx(id), qi)) }
        .sortBy { case (id, rel) => (-rel, id) }
        .take(SimOps.mmrShortlist)
      val picked = scala.collection.mutable.ArrayBuffer.empty[(Long, Double)]
      (1 to SimOps.mmrK).map { t =>
        val best =
          if (t == 1) cand.head
          else cand.filterNot(c => picked.exists(_._1 == c._1))
            .map { case (id, rel) =>
              val red = picked.map(p => cos(idx(id), idx(p._1))).max
              (id, rel, 0.5 * rel - 0.5 * red)
            }
            .sortBy { case (id, _, mmr) => (-mmr, id) }
            .map { case (id, rel, _) => (id, rel) }.head
        picked += best
        (qid, t, best._1)
      }
    }
    assert(got.toSeq == want.toSeq, "MMR selection diverged from the replay")
    // diversity must bite: for at least one query the MMR pick order
    // departs from pure-relevance order (else λ never traded off and
    // the key is indistinguishable from top-k on this fixture)
    val relOrder = vecs.filter(_._1 < SimOps.nQueries).flatMap {
      case (qid, _, _) =>
        val qi = idx(qid)
        vecs.filter(_._1 != qid)
          .map { case (id, _, _) => (id, cos(idx(id), qi)) }
          .sortBy { case (id, rel) => (-rel, id) }
          .take(SimOps.mmrK).zipWithIndex
          .map { case ((id, _), i) => (qid, i + 1, id) }
    }
    assert(got.toSeq != relOrder.toSeq,
      "MMR output equals pure relevance order — redundancy never traded off")
  }

  test("sim_hybrid_rrf fuses two real lists with exact integer scores") {
    val rows = SimOps.simHybridRrf(spark, sf).collect()
    assert(rows.length == SimOps.nQueries * SimOps.hybridK)
    // integer RRF reconstruction: the published score must equal the
    // contribution formula applied to the published ranks
    rows.foreach { r =>
      val lex = Option(r.getAs[Integer]("lex_rank")).map(_.toInt)
      val vec = Option(r.getAs[Integer]("vec_rank")).map(_.toInt)
      val want = lex.map(x => 1000000L / (SimOps.rrfK0 + x)).getOrElse(0L) +
        vec.map(x => 1000000L / (SimOps.rrfK0 + x)).getOrElse(0L)
      assert(r.getAs[Long]("rrf") == want, s"RRF score drifted: $r")
      assert(lex.nonEmpty || vec.nonEmpty, s"fused row from neither list: $r")
    }
    // fusion must be non-trivial on the fixture: some winners carry
    // BOTH ranks (the lists agree somewhere) and some exactly one
    // (each modality surfaces candidates the other missed) — if
    // either side collapses the key degenerates to a single ranking
    val both = rows.count(r => r.getAs[Integer]("lex_rank") != null &&
      r.getAs[Integer]("vec_rank") != null)
    val single = rows.count(r => r.getAs[Integer]("lex_rank") == null ||
      r.getAs[Integer]("vec_rank") == null)
    assert(both > 0, "no winner appears in both lists — fusion vacuous")
    assert(single > 0,
      "every winner appears in both lists — modalities indistinguishable")
    // per query the fused order is rrf desc, doc_id asc
    rows.groupBy(_.getAs[Long]("q_id")).values.foreach { qr =>
      val sorted = qr.sortBy(_.getAs[Int]("rank"))
      val pairs = sorted.map(r => (-r.getAs[Long]("rrf"), r.getAs[Long]("doc_id")))
      assert(pairs.sameElements(pairs.sorted), "fused order violates RRF sort")
    }
  }

  test("sim_hybrid_bm25 ranks its lexical arm by the SAME scores text_bm25 publishes") {
    val rows = SimOps.simHybridBm25(spark, sf).collect()
    assert(rows.length == graft.operators.TextOps.bm25Queries * SimOps.hybridK)
    // the RRF reconstruction discipline holds here too
    rows.foreach { r =>
      val lex = Option(r.getAs[Integer]("lex_rank")).map(_.toInt)
      val vec = Option(r.getAs[Integer]("vec_rank")).map(_.toInt)
      val want = lex.map(x => 1000000L / (SimOps.rrfK0 + x)).getOrElse(0L) +
        vec.map(x => 1000000L / (SimOps.rrfK0 + x)).getOrElse(0L)
      assert(r.getAs[Long]("rrf") == want, s"RRF score drifted: $r")
    }
    // the lexical arm IS BM25: for every query, the hybrid's lex_rank
    // order must agree with text_bm25's published top-3 (the shared
    // bm25Scored frame makes this structural, the spec pins it)
    val bm25Top = graft.operators.TextOps.textBm25(spark, sf).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("rank").toInt) ->
        r.getAs[Long]("doc_id")).toMap
    val hybLex = rows.filter(_.getAs[Integer]("lex_rank") != null)
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Integer]("lex_rank").toInt) ->
        r.getAs[Long]("doc_id")).toMap
    val overlap = bm25Top.keys.toSeq.filter(hybLex.contains)
    assert(overlap.nonEmpty, "no BM25 top-3 winner survived the fused cut")
    overlap.foreach { k =>
      assert(hybLex(k) == bm25Top(k),
        s"lex_rank disagrees with text_bm25 at $k: ${hybLex(k)} != ${bm25Top(k)}")
    }
    // BM25 must actually CHANGE the lexical ranking vs the histogram
    // intersection (IDF + length normalization bite) — otherwise the
    // sibling key adds nothing over sim_hybrid_rrf
    val rrfRows = SimOps.simHybridRrf(spark, sf).collect()
    val rrfLex = rrfRows.filter(_.getAs[Integer]("lex_rank") != null)
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Integer]("lex_rank").toInt) ->
        r.getAs[Long]("doc_id")).toMap
    val common = hybLex.keys.toSeq.filter(rrfLex.contains)
    assert(common.exists(k => hybLex(k) != rrfLex(k)),
      "BM25 lexical order identical to histogram intersection — weighting vacuous")
  }

  test("sim_kcenter replays the greedy farthest-point loop bitwise " +
    "and the radius sequence is monotone") {
    val got = SimOps.simKcenter(spark, sf).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2))).sortBy(_._1)
    assert(got.length == SimOps.kcenterK)
    assert(got.map(_._2).distinct.length == SimOps.kcenterK,
      "centers must be distinct")
    // radius-at-pick is non-increasing after the seed (greedy picks
    // the farthest remaining point; covering more centers only
    // shrinks every dmin)
    got.drop(1).map(_._3).toSeq.sliding(2).filter(_.size == 2).foreach {
      case Seq(a, b) => assert(b <= a, s"radius grew: $a -> $b")
    }
    // pure-Scala replay with the operator's exact arithmetic
    // (left-to-right double dot, least-fold min)
    val vecs = Tables.load(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
      .sortBy(_._1)
    def dot(a: Array[Float], b: Array[Float]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i).toDouble * b(i).toDouble; i += 1 }
      s
    }
    val nrm = vecs.map { case (id, v) => id -> math.sqrt(dot(v, v)) }.toMap
    val byId = vecs.toMap
    var centers = Vector(vecs.head._1)
    val replay = scala.collection.mutable.ArrayBuffer[(Int, Long, Double)](
      (0, vecs.head._1, 0.0))
    (1 until SimOps.kcenterK).foreach { step =>
      val pick = vecs.map { case (id, v) =>
        val dmin = centers.map(c =>
          1.0 - dot(v, byId(c)) / (nrm(id) * nrm(c))).min
        (id, dmin)
      }.maxBy { case (id, d) => (d, -id) }
      replay += ((step, pick._1, pick._2))
      centers = centers :+ pick._1
    }
    assert(got.toSeq == replay.toSeq,
      "greedy trajectory must replay bitwise")
  }

  test("dedup_url collapses raw spellings onto canonical pages and " +
    "keeps the longest doc") {
    val rows = DedupOps.dedupUrl(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    assert(rows.nonEmpty)
    // canonical URLs are actually canonical: lowercase host, no
    // default port, no tracking params, no trailing slash
    rows.map(_._1).foreach { u =>
      assert(u.startsWith("https://w"))
      assert(!u.contains(":443") && !u.contains("utm_") &&
        !u.contains("ref=") && !u.contains("/?"))
    }
    val docs = Tables.load(spark, sf, "documents")
      .select(col("doc_id"), col("n_chars")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    // every doc lands in exactly one canonical group
    assert(rows.map(_._2).sum == docs.length)
    // page key is doc_id % 97: group sizes and survivors replay
    val byPage = docs.groupBy(_._1 % 97)
    assert(rows.length == byPage.size)
    val gotByPage = rows.map { t =>
      t._1.split("page-")(1).split("\\?")(0).toLong -> t
    }.toMap
    byPage.foreach { case (page, members) =>
      val (_, nDocs, nVariants, keepId, keepChars) = gotByPage(page)
      assert(nDocs == members.length)
      // raw variants distinct by doc_id % 4 among members
      assert(nVariants == members.map(_._1 % 4).distinct.length)
      val best = members.maxBy { case (id, nc) => (nc, -id) }
      assert((keepId, keepChars) == best,
        s"page $page survivor diverged")
    }
  }
}
