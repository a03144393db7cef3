package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.operators.TextOps

/** Contracts of the training-set assembly ops beyond oracle parity:
  * split balance/stability and the packing scan's exactness against
  * a driver-side sequential reference.
  */
class TextOpsSpec extends AnyFunSuite {
  import TestSpark._

  test("text_train_split is stable, complete, and near target fractions") {
    val rows = TextOps.textTrainSplit(spark, sf).collect()
    val n = rows.length
    assert(n == 500)
    // membership is a pure function of doc_id: identical across runs
    val again = TextOps.textTrainSplit(spark, sf).collect()
    assert(rows.map(r => r.getLong(0) -> r.getString(3)).toMap ==
      again.map(r => r.getLong(0) -> r.getString(3)).toMap)
    // every doc in exactly one split; fractions near 85/7.5/7.5 (the
    // multiplicative hash decorrelates ids; tolerance covers a 500-doc
    // sample's variance)
    val frac = rows.groupBy(_.getString(3)).view.mapValues(_.length.toDouble / n)
    assert(math.abs(frac("train") - 0.85) < 0.05, s"train ${frac("train")}")
    assert(math.abs(frac.getOrElse("val", 0.0) - 0.075) < 0.04)
    assert(math.abs(frac.getOrElse("test", 0.0) - 0.075) < 0.04)
    // stratification: the dominant source stays near the global rate
    val bySource = rows.groupBy(_.getString(1))
    bySource.foreach { case (src, rs) =>
      if (rs.length >= 100) {
        val t = rs.count(_.getString(3) == "train").toDouble / rs.length
        assert(math.abs(t - 0.85) < 0.08, s"source $src train rate $t")
      }
    }
  }

  test("text_domain_mix realizes each source's target weight") {
    val rows = TextOps.textDomainMix(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val srcCounts = Tables.load(spark, sf, "documents")
      .groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    def grp(src: String) = src.drop(3).toInt % 4
    val bySrc = rows.groupBy(_._2).view.mapValues(_.length.toDouble)
    // dropped group emits nothing; whole-number part is exact; the
    // fractional part tracks frac(w) within hash-sampling tolerance
    srcCounts.foreach { case (src, n) =>
      val out = bySrc.getOrElse(src, 0.0)
      grp(src) match {
        case 0 => assert(out >= 2 * n && out <= 2.6 * n, s"$src: $out/$n")
        case 1 => assert(out == n.toDouble, s"$src: $out/$n")
        case 2 => assert(out >= 0.2 * n && out <= 0.8 * n, s"$src: $out/$n")
        case _ => assert(out == 0.0, s"dropped $src emitted $out rows")
      }
    }
    // sample instances are unique and reproducible
    assert(rows.distinct.length == rows.length)
    assert(TextOps.textDomainMix(spark, sf).collect().length == rows.length)
  }

  test("pipeline_train_corpus composes gate, prune, split, and pack") {
    import graft.operators.CorpusPipeline
    val rows = CorpusPipeline.pipelineTrainCorpus(spark, sf).collect()
    assert(rows.nonEmpty)
    val ids = rows.map(_.getLong(0))
    // pruning kept only canonical docs: no injected clone (+1e6)
    assert(ids.forall(_ < 1000000L), "a near-dup clone survived pruning")
    // split kept only train-bucket docs
    ids.foreach(id =>
      assert((id % 2147483647L) * 48271 % 2147483647L % 1000 < 850))
    // the quality gate genuinely dropped rows
    assert(rows.length < Tables.load(spark, sf, "documents").count())
    // packing invariants survive composition: nondecreasing seq ids,
    // offsets inside the budget
    rows.sliding(2).foreach {
      case Array(a, b) => assert(b.getLong(2) >= a.getLong(2))
      case _ =>
    }
    rows.foreach(r => assert(r.getLong(3) >= 0 &&
      r.getLong(3) < TextOps.packBudget))
  }

  test("text_tfidf equals the window-function reference exactly") {
    val got = TextOps.textTfidf(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    assert(got.nonEmpty)
    // reference: identical scoring, top-3 via a row_number window —
    // the bounded-heap TopKPerKey operator must be output-
    // indistinguishable from the full per-doc sort it replaces
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.load(spark, sf, "documents")
    val tf = docs
      .select(col("doc_id"), explode(filter(split(col("text"), " "),
        t => t =!= "")).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val n = docs.count()
    val w = Window.partitionBy("doc_id")
      .orderBy(col("score").desc, col("term"))
    val want = tf.join(dfreq, "term")
      .select(col("doc_id"), col("term"), col("tf"),
        ((col("tf") * lit(n)).cast("double") / col("df")).as("score"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= 3)
      .orderBy(col("doc_id"), col("score").desc, col("term"))
      .select("doc_id", "term", "tf", "score").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    assert(got.toSeq == want.toSeq)
  }

  test("pipeline_split_safe never splits a near-dup cluster; the naive split would") {
    import graft.operators.CorpusPipeline
    val rows = CorpusPipeline.pipelineSplitSafe(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(3)))
    // one row per doc of the dup-injected corpus (500 + 50 clones)
    assert(rows.length == 550)
    // leakage-safety: every cluster's members carry ONE split
    rows.groupBy(_._2).foreach { case (canon, members) =>
      assert(members.map(_._3).distinct.length == 1,
        s"cluster $canon straddles splits")
    }
    // and the property is not vacuous: under the per-doc hash split
    // (text_train_split's), at least one near-dup pair straddles the
    // train boundary — the eval contamination this key prevents
    def naiveTrain(id: Long) =
      (id % 2147483647L) * 48271 % 2147483647L % 1000 < 850
    val clustered = rows.groupBy(_._2).values.filter(_.length > 1)
    assert(clustered.exists(ms => ms.map(m => naiveTrain(m._1)).toSet.size == 2),
      "fixture has no straddling pair; the property is unobservable")
  }

  test("pipeline_stratified_sample: exact per-stratum census on bounded heaps") {
    import graft.operators.CorpusPipeline
    val df = CorpusPipeline.pipelineStratifiedSample(spark, sf)
    val rows = df.collect()
      .map(r => (r.getString(r.fieldIndex("lang")),
        r.getString(r.fieldIndex("source")), r.getLong(r.fieldIndex("doc_id"))))
    // census: exactly min(k, |stratum|) per (lang, source)
    val strata = Tables.load(spark, sf, "documents")
      .groupBy("lang", "source").count().collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val got = rows.groupBy(t => (t._1, t._2)).view.mapValues(_.length).toMap
    assert(got.keySet == strata.keySet, "a stratum is missing from the sample")
    strata.foreach { case (st, n) =>
      assert(got(st) == math.min(CorpusPipeline.sampleK.toLong, n),
        s"stratum $st drew ${got(st)} of $n")
    }
    // both regimes observable at this sf: capped and under-full strata
    assert(strata.values.exists(_ > CorpusPipeline.sampleK) &&
      strata.values.exists(_ <= CorpusPipeline.sampleK),
      "fixture exercises only one sampling regime")
    // deterministic: the draw is a pure function of the corpus
    val again = CorpusPipeline.pipelineStratifiedSample(spark, sf).collect()
    assert(df.collect().sameElements(again), "sample is not deterministic")
    // the per-stratum top-k runs on the bounded-heap operator, never
    // a window rank (one reducer per stratum sorting it whole)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("TopKPerKey"), s"expected TopKPerKeyExec:\n$plan")
    assert(!plan.contains("Window"), s"window rank leaked into the plan:\n$plan")
  }

  test("pipeline_decontaminate: containment the split-safe key cannot see") {
    import graft.operators.{CorpusPipeline, TextOps}
    val df = CorpusPipeline.pipelineDecontaminate(spark, sf)
    val got = df.collect()
    assert(got.nonEmpty)
    // the output rows are exactly the test split, each scored
    val testIds = TextOps.textTrainSplit(spark, sf)
      .filter(col("split") === "test").select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(got.map(_.getLong(0)).toSet == testIds)
    got.foreach { r =>
      assert(r.getLong(2) >= 0 && r.getLong(2) <= r.getInt(1).toLong,
        s"doc ${r.getLong(0)}: n_shared outside [0, n_shingles]")
      assert(r.getDouble(3) >= 0.0 && r.getDouble(3) <= 1.0)
    }
    // the fixture really is contaminated somewhere, or the key is
    // unobservable
    assert(got.exists(_.getLong(2) > 0), "no contaminated test doc in fixture")
    // the 64-bit hashed-shingle path answers exactly like raw strings
    val brute = CorpusPipeline.decontaminateFrame(spark, sf, hashed = false)
      .collect()
    assert(got.length == brute.length)
    got.zip(brute).foreach { case (g, b) => assert(g == b,
      s"hashed path diverges from string shingles at doc ${g.getLong(0)}") }
  }

  test("text_boilerplate strips exactly the frequent per-source chunks") {
    val docs = Tables.load(spark, sf, "documents").collect()
      .map(r => (r.getLong(0), r.getString(3), r.getString(1)))
    // driver-side reference: chunk, count per-source doc frequency,
    // strip chunks at >=10% of the source's docs, reassemble in order
    def chunksOf(text: String): Seq[String] =
      text.split(" ").grouped(2).map(_.mkString(" ")).toSeq
    val srcDocs = docs.groupBy(_._2).view.mapValues(_.length).toMap
    val df = docs.flatMap { case (id, src, t) =>
      chunksOf(t).distinct.map(c => (src, c, id))
    }.groupBy(x => (x._1, x._2)).view.mapValues(_.length).toMap
    val want = docs.map { case (id, src, t) =>
      val kept = chunksOf(t).filterNot(c => df((src, c)) * 10 >= srcDocs(src))
      (id, kept.mkString(" "), (chunksOf(t).length - kept.length).toLong)
    }.sortBy(_._1)
    val got = TextOps.textBoilerplate(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sortBy(_._1)
    assert(got.length == want.length)
    got.zip(want).foreach { case (g, w) => assert(g == w, s"$g != $w") }
    // the op actually removed something at fixture scale, and never
    // everything
    assert(got.map(_._3).sum > 0, "no boilerplate stripped at fixture sf")
    assert(got.forall(_._2.nonEmpty), "a document was fully stripped")
  }

  test("text_pack_sequences matches a sequential driver-side scan exactly") {
    val got = TextOps.textPackSequences(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))
    // the reference: one sequential pass in doc_id order — the
    // distributed range-partitioned scan must be indistinguishable
    val counts = Tables.load(spark, sf, "documents")
      .select(col("doc_id"),
        size(filter(split(col("text"), " "), x => x =!= "")).as("n"))
      .collect().map(r => (r.getLong(0), r.getInt(1))).sortBy(_._1)
    var cum = 0L
    val want = counts.map { case (id, n) =>
      val start = cum
      cum += n
      (id, n, start / TextOps.packBudget, start % TextOps.packBudget)
    }
    assert(got.length == want.length)
    got.zip(want).foreach { case (g, w) => assert(g == w, s"$g != $w") }
    // sequences fill contiguously: seq ids are nondecreasing and every
    // budget boundary is crossed at most one doc after it's reached
    got.sliding(2).foreach {
      case Array((_, _, s1, _), (_, _, s2, _)) => assert(s2 >= s1)
      case _ =>
    }
  }

  test("pipeline_dataset_card subtotals reconcile across all three grains") {
    import graft.operators.CorpusPipeline
    val rows = CorpusPipeline.pipelineDatasetCard(spark, sf).collect()
      .map(r => (r.getLong(0), Option(r.getString(1)), Option(r.getString(2)),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6)))
    val cells = rows.filter(_._1 == 0L)
    val bySource = rows.filter(_._1 == 1L)
    val total = rows.filter(_._1 == 3L)
    assert(cells.nonEmpty && bySource.nonEmpty && total.length == 1)
    // every per-source row is the exact sum of its (source, lang)
    // cells; the grand total is the exact sum of the source rows
    bySource.foreach { s =>
      val mine = cells.filter(_._2 == s._2)
      assert(mine.map(_._4).sum == s._4 && mine.map(_._5).sum == s._5 &&
        mine.map(_._6).sum == s._6 && mine.map(_._7).sum == s._7,
        s"source ${s._2} cells do not sum to its subtotal")
    }
    assert(bySource.map(_._4).sum == total.head._4 &&
      bySource.map(_._5).sum == total.head._5)
    // the gate is real at fixture scale: some docs pass, some fail
    assert(total.head._7 > 0 && total.head._7 < total.head._4)
  }

  test("text_vocab_oov scores docs against the corpus top-N vocabulary") {
    val docs = Tables.load(spark, sf, "documents").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    def toksOf(t: String): Seq[String] =
      t.split(" ").filter(_.nonEmpty).toSeq
    val counts = docs.flatMap(d => toksOf(d._2)).groupBy(identity)
      .view.mapValues(_.size).toSeq
    val vocab = counts.sortBy { case (t, c) => (-c, t) }.take(16)
      .map(_._1).toSet
    val want = docs.map { case (id, t) =>
      val tk = toksOf(t)
      assert(tk.nonEmpty)
      val oov = tk.count(x => !vocab(x))
      (id, tk.length, oov.toLong, oov.toDouble / tk.length)
    }.sortBy(_._1).toSeq
    val got = TextOps.textVocabOov(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .sortBy(_._1).toSeq
    assert(got.length == want.length)
    got.zip(want).foreach { case (g, w) => assert(g == w, s"$g != $w") }
    // the vocabulary split is real at fixture scale: some tokens OOV,
    // not all
    assert(got.exists(_._3 > 0) && got.forall(r => r._3 < r._2))
  }

  test("text_paragraph_dedup keeps exactly each window's first occurrence") {
    val docs = Tables.load(spark, sf, "documents").collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    // driver-side reference: walk docs in (doc_id, idx) order, keep a
    // window only the first time it is ever seen — anywhere, across
    // sources (the corpus-wide contract that distinguishes this from
    // text_boilerplate's per-source frequency threshold)
    def chunksOf(text: String): Seq[String] =
      text.split(" ").grouped(3).map(_.mkString(" ")).toSeq
    val seen = scala.collection.mutable.HashSet[String]()
    val want = docs.map { case (id, t) =>
      val cs = chunksOf(t)
      val kept = cs.filter(seen.add)
      (id, kept.mkString(" "), (cs.length - kept.length).toLong)
    }
    val got = TextOps.textParagraphDedup(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sortBy(_._1)
    assert(got.length == want.length)
    got.zip(want).foreach { case (g, w) => assert(g == w, s"$g != $w") }
    assert(got.map(_._3).sum > 0, "no duplicate paragraph at fixture sf")
  }

  test("text_ngram_lm matches a driver-side bigram frequency replay") {
    val docs = Tables.load(spark, sf, "documents").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    def bigrams(t: String): Seq[String] = {
      val toks = t.toLowerCase.split("[^a-z]+").filter(_.nonEmpty)
      toks.sliding(2).filter(_.length == 2).map(_.mkString(" ")).toSeq
    }
    val perDoc = docs.map { case (id, t) => (id, bigrams(t)) }
      .filter(_._2.nonEmpty)
    val freq = perDoc.flatMap(_._2).groupBy(identity).map { case (k, v) => (k, v.size.toLong) }
    val want = perDoc.map { case (id, bs) =>
      (id, bs.length.toLong, bs.map(freq).sum)
    }.sortBy(_._1).toSeq
    val got = TextOps.textNgramLm(spark, sf).collect()
      .map(r => (r.getLong(0), r.getAs[Long]("n_bigrams"), r.getAs[Long]("fam")))
      .sortBy(_._1).toSeq
    assert(got == want)
    // the signal separates: some doc's bigrams repeat corpus-wide
    assert(got.exists(r => r._3 > r._2), "no repeated bigram at fixture sf")
  }

  test("text_collocations top-K matches a driver-side lift ranking") {
    val docs = Tables.load(spark, sf, "documents").collect()
      .map(r => r.getString(1))
    val tokens = docs.map(_.toLowerCase.split("[^a-z]+").filter(_.nonEmpty))
    val n = tokens.map(_.length.toLong).sum
    val uni = tokens.flatten.groupBy(identity)
      .map { case (k, v) => (k, v.size.toLong) }
    val bg = tokens.flatMap(t => t.sliding(2).filter(_.length == 2)
        .map(p => (p(0), p(1)))).groupBy(identity)
      .map { case (k, v) => (k, v.size.toLong) }
      .filter(_._2 >= TextOps.collocMinCount)
    val ranked = bg.toSeq.map { case ((w1, w2), cxy) =>
      val lift = cxy.toDouble * n.toDouble / (uni(w1).toDouble * uni(w2).toDouble)
      (w1, w2, cxy, lift)
    }.sortBy(t => (-t._4, t._1, t._2)).take(TextOps.collocTopK)
    val got = TextOps.textCollocations(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      .toSeq
    assert(got == ranked, "top-K collocations must match the driver replay")
    // the bounded-heap shape: a TakeOrdered, not a global Sort node
    val plan = TextOps.textCollocations(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      "top-K must lower to a bounded heap")
  }

  test("pipeline_epoch_shuffle: exact partition, real reshuffle, stable rerun") {
    import graft.operators.CorpusPipeline
    val rows = CorpusPipeline.pipelineEpochShuffle(spark, sf).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getInt(2), r.getLong(3)))
    val nDocs = Tables.load(spark, sf, "documents").count()
    val byEpoch = rows.groupBy(_._1)
    assert(byEpoch.keySet == (0 until CorpusPipeline.epochCount).toSet)
    byEpoch.values.foreach { ep =>
      // every doc appears exactly once per epoch across all shards
      assert(ep.map(_._4).distinct.length == nDocs && ep.length == nDocs)
      // positions within a shard are dense 1..n
      ep.groupBy(_._2).values.foreach { sh =>
        assert(sh.map(_._3).sorted.toSeq == (1 to sh.length))
      }
    }
    // the reshuffle is real: epoch orders differ (same docs, new draw)
    def orderOf(e: Int) = byEpoch(e).sortBy(t => (t._2, t._3)).map(_._4).toSeq
    assert(orderOf(0) != orderOf(1), "epochs must permute differently")
    // deterministic: an independent recompute is bit-identical
    val again = CorpusPipeline.pipelineEpochShuffle(spark, sf).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getInt(2), r.getLong(3)))
    assert(rows.toSet == again.toSet)
  }

  test("text_dup_spans counts verbatim cross-doc windows exactly") {
    val got = TextOps.textDupSpans(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val texts = Tables.load(spark, sf, "documents")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ").filter(_.nonEmpty))
    // all docs present, including short ones as zeros
    assert(got.size == texts.length)
    def shingles(tk: Array[String]) =
      if (tk.length < TextOps.dupSpanW) Seq.empty[String]
      else tk.sliding(TextOps.dupSpanW).map(_.mkString(" ")).toSeq
    val docsPerShingle = texts.flatMap { case (id, tk) =>
      shingles(tk).distinct.map(_ -> id)
    }.groupBy(_._1).view.mapValues(_.map(_._2).distinct.size).toMap
    texts.foreach { case (id, tk) =>
      val sh = shingles(tk)
      val expected = (sh.length.toLong,
        sh.count(s => docsPerShingle(s) >= 2).toLong)
      assert(got(id) == expected, s"doc $id: got ${got(id)}, exp $expected")
    }
    // the corpus must actually contain copied spans
    assert(got.values.exists(_._2 > 0), "no duplicated spans in fixture")
    // and some docs must be clean, or the signal is saturated
    assert(got.values.exists(v => v._1 > 0 && v._2 == 0))
  }

  test("text_bpe_pairs equals the driver-side BPE pair replay") {
    val got = TextOps.textBpePairs(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val wordRe = "[a-z]+".r
    val wc = scala.collection.mutable.Map.empty[String, Long]
    Tables.load(spark, sf, "documents").select("text").collect()
      .foreach { r =>
        wordRe.findAllIn(r.getString(0).toLowerCase)
          .foreach(w => wc(w) = wc.getOrElse(w, 0L) + 1L)
      }
    val pairs = scala.collection.mutable.Map.empty[String, Long]
    wc.foreach { case (w, c) =>
      w.sliding(2).filter(_.length == 2)
        .foreach(p => pairs(p) = pairs.getOrElse(p, 0L) + c)
    }
    assert(got == pairs.toMap)
    // pair counting runs over the vocabulary, which must be far
    // smaller than the corpus for BPE's trick to pay off
    assert(wc.size.toLong < wc.values.sum / 2)
    // every pair is two lowercase letters
    assert(got.keys.forall(p => p.length == 2 &&
      p.forall(ch => ch >= 'a' && ch <= 'z')))
  }

  test("text_bpe_train equals a pure-Scala BPE training replay") {
    val got = TextOps.textBpeTrain(spark, sf).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2),
        r.getLong(3), r.getString(4)))
    // independent replay: symbol sequences as vectors, greedy
    // left-to-right merge, argmax on (count desc, lhs asc, rhs asc)
    val wordRe = "[a-z]+".r
    val wc = scala.collection.mutable.Map.empty[String, Long]
    Tables.load(spark, sf, "documents").select("text").collect()
      .foreach { r =>
        wordRe.findAllIn(r.getString(0).toLowerCase)
          .foreach(w => wc(w) = wc.getOrElse(w, 0L) + 1L)
      }
    var vocab: Seq[(Vector[String], Long)] =
      wc.toSeq.map { case (w, c) => (w.map(_.toString).toVector, c) }
    val want = scala.collection.mutable.ArrayBuffer[
      (Int, String, String, Long, String)]()
    (1 to TextOps.bpeTrainRounds).foreach { r =>
      val pairs = scala.collection.mutable.Map.empty[(String, String), Long]
      vocab.foreach { case (ss, c) =>
        ss.zip(ss.tail).foreach(p => pairs(p) = pairs.getOrElse(p, 0L) + c)
      }
      if (pairs.nonEmpty) {
        val ((a, b), c) = pairs.toSeq
          .minBy { case ((a, b), c) => (-c, a, b) }
        want += ((r, a, b, c, a + b))
        vocab = vocab.map { case (ss, n) =>
          val out = Vector.newBuilder[String]
          var i = 0
          while (i < ss.length) {
            if (i + 1 < ss.length && ss(i) == a && ss(i + 1) == b) {
              out += a + b; i += 2 // greedy: consumed symbols can't re-pair
            } else { out += ss(i); i += 1 }
          }
          (out.result(), n)
        }
      }
    }
    assert(got.toSeq == want.toSeq,
      s"merge tables differ:\n got=${got.toSeq}\n want=${want.toSeq}")
    // non-vacuity: training must run long enough that a LEARNED
    // symbol participates in a later merge (the iterative signal a
    // single pair-count round cannot produce)
    assert(got.exists(m => m._2.length > 1 || m._3.length > 1),
      "no merge consumed a learned multi-char symbol — rounds too few" +
        " or the rewrite is not feeding later rounds")
    // counts are monotone non-increasing ONLY per symbol pool change —
    // but every chosen count must be positive and ranks deterministic
    assert(got.forall(_._4 > 0))
  }

  test("text_bpe_apply equals a pure-Scala encode with the trained merges") {
    val got = TextOps.textBpeApply(spark, sf).collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    val merges = TextOps.textBpeTrain(spark, sf).collect()
      .map(r => (r.getString(1), r.getString(2)))
    def encode(w: String): Int = {
      var ss = w.map(_.toString).toVector
      merges.foreach { case (a, b) =>
        val out = Vector.newBuilder[String]
        var i = 0
        while (i < ss.length) {
          if (i + 1 < ss.length && ss(i) == a && ss(i + 1) == b) {
            out += a + b; i += 2
          } else { out += ss(i); i += 1 }
        }
        ss = out.result()
      }
      ss.length
    }
    val wordRe = "[a-z]+".r
    val want = Tables.load(spark, sf, "documents")
      .select("doc_id", "text").collect().map { r =>
        val ws = wordRe.findAllIn(r.getString(1).toLowerCase).toSeq
        val nTok = ws.map(encode(_).toLong).sum
        val nChr = ws.map(_.length.toLong).sum
        r.getLong(0) -> ((ws.size.toLong, nTok, nChr, nTok * 1000 / nChr))
      }.toMap
    assert(got == want, "encode diverged from the merge-order replay")
    // non-vacuity: the merges must actually compress — every doc in
    // this word-salad fixture contains at least one learned pair
    assert(got.values.forall { case (_, t, c, _) => t < c },
      "no compression anywhere — the merge rules never fired")
  }

  test("text_lang_confusion reconciles with per-doc predictions") {
    val cells = TextOps.textLangConfusion(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val perDoc = TextOps.textLangid(spark, sf)
      .select(col("doc_id"), col("lang_pred")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val truth = Tables.load(spark, sf, "documents")
      .select("doc_id", "lang").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val replay = truth.toSeq.map { case (id, t) => (t, perDoc(id)) }
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    assert(cells == replay)
    assert(cells.values.sum == truth.size)
    // the classifier is better than chance on the fixture: diagonal
    // mass dominates any single off-diagonal cell
    val diag = cells.collect { case ((t, p), n) if t == p => n }.sum
    val offMax = cells.collect { case ((t, p), n) if t != p => n }
      .foldLeft(0L)(math.max)
    assert(diag > offMax, s"diag $diag <= off-diagonal max $offMax")
  }

  test("pipeline_pref_pairs equals the driver-side best/worst replay") {
    import graft.operators.CorpusPipeline
    val got = CorpusPipeline.pipelinePrefPairs(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    val docs = Tables.load(spark, sf, "documents")
      .select("source", "lang", "doc_id", "n_chars").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val replay = docs.groupBy(d => (d._1, d._2)).flatMap {
      case (g, cs) =>
        val best = cs.maxBy(c => (c._4, c._3))
        val worst = cs.minBy(c => (c._4, c._3))
        if (best._4 > worst._4)
          Some(g -> ((cs.length.toLong, best._3, worst._3, best._4 - worst._4)))
        else None
    }.toMap
    assert(got == replay)
    assert(got.nonEmpty)
    // margins are strictly positive by construction
    assert(got.values.forall(_._4 > 0))
    // chosen and rejected never coincide
    assert(got.values.forall(v => v._2 != v._3))
  }

  test("pipeline_curriculum partitions the corpus at exact boundaries") {
    import graft.operators.CorpusPipeline
    val got = CorpusPipeline.pipelineCurriculum(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val n = got.length.toLong
    assert(n == Tables.load(spark, sf, "documents").count())
    // ranks are a permutation of 1..n and rank order follows
    // (difficulty, doc_id)
    assert(got.map(_._3).sorted.toSeq == (1L to n))
    val ordered = got.sortBy(_._3).toSeq
    ordered.sliding(2).foreach {
      case Seq(a, b) =>
        assert(a._2 < b._2 || (a._2 == b._2 && a._1 < b._1))
      case _ => ()
    }
    // phase sizes are exactly the integer-arithmetic quotas
    val sizes = got.groupBy(_._4).view.mapValues(_.length.toLong).toMap
    val b1 = n * 50 / 100; val b2 = n * 80 / 100
    assert(sizes("warmup") == b1)
    assert(sizes("core") == b2 - b1)
    assert(sizes("anneal") == n - b2)
    // phases are rank-contiguous
    assert(ordered.takeWhile(_._4 == "warmup").length == b1)
    assert(ordered.drop(b1.toInt).takeWhile(_._4 == "core").length == b2 - b1)
  }

  test("pipeline_weighted_sample equals the driver-side A-ES replay") {
    import graft.operators.CorpusPipeline
    val got = CorpusPipeline.pipelineWeightedSample(spark, sf).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    assert(got.length == CorpusPipeline.weightedK ||
      got.length == Tables.load(spark, sf, "documents").count().toInt)
    // ranks are dense 1..k
    assert(got.map(_._1).sorted.toSeq == (1 to got.length))
    // exact replay: same key formula with Math.log driver-side
    val replay = Tables.load(spark, sf, "documents")
      .select(col("doc_id"), col("n_chars")).collect()
      .map { r =>
        val id = r.getLong(0); val w = r.getLong(1)
        val u = ((id * 2654435761L + 12345L) % 4294967296L + 1).toDouble /
          4294967297.0
        (math.log(u) / w.toDouble, id, w)
      }
      .sortBy(t => (-t._1, t._2)).take(CorpusPipeline.weightedK)
      .zipWithIndex.map { case ((_, id, w), i) => (i + 1, id, w) }
      .toSeq
    assert(got.map(t => (t._1, t._2, t._3)).toSeq == replay,
      "weighted draw must equal the exact driver-side replay, rank for rank")
    // the draw is genuinely weighted: sampled docs skew long
    val meanAll = Tables.load(spark, sf, "documents")
      .agg(avg(col("n_chars"))).head().getDouble(0)
    val meanSample = got.map(_._3).sum.toDouble / got.length
    assert(meanSample > meanAll,
      s"length-weighted sample should skew long: $meanSample <= $meanAll")
  }

  test("pipeline_length_buckets: pow2 covers, accounts every doc and token") {
    val got = graft.operators.CorpusPipeline
      .pipelineLengthBuckets(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    val lens = Tables.load(spark, sf, "documents")
      .select(org.apache.spark.sql.functions.expr(
        "cast(size(filter(split(text, ' '), t -> t != '')) as bigint)"))
      .collect().map(_.getLong(0))
    // every bucket is a power of two; bucket/2 < n <= bucket
    got.foreach { case (b, _, _, _, _) =>
      assert((b & (b - 1)) == 0 && b > 0, s"bucket $b not a power of two")
    }
    def pow2(n: Long): Long = {
      var b = 1L; while (b < n) b <<= 1; b
    }
    val exp = lens.groupBy(pow2).map { case (b, ns) =>
      val pad = ns.map(b - _).sum
      (b, ns.length.toLong, ns.sum, pad,
        pad * 1000000L / (ns.length * b))
    }.toSeq.sortBy(_._1)
    assert(got.toSeq == exp)
    assert(got.map(_._2).sum == lens.length.toLong)
  }

  test("pipeline_filter_cascade is a strict funnel matching a replay") {
    val got = graft.operators.CorpusPipeline
      .pipelineFilterCascade(spark, sf).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(got.map(_._1).toSeq == Seq(1, 2, 3, 4))
    // funnel chaining: stage k's input is stage k-1's output
    got.sliding(2).foreach { case Array(a, b) =>
      assert(a._4 == b._3, s"funnel break between ${a._1} and ${b._1}")
    }
    val docs = Tables.load(spark, sf, "documents")
      .select(org.apache.spark.sql.functions.col("lang"),
        org.apache.spark.sql.functions.col("text")).collect()
      .map(r => (r.getString(0), r.getString(1)))
    val preds = docs.map { case (lang, text) =>
      val ws = text.split(" ").filter(_.nonEmpty)
      val nt = ws.length.toLong
      val nc = text.replace(" ", "").length.toLong
      (nt >= 20, nc >= 2 * nt && nc <= 12 * nt,
        2L * ws.distinct.length >= nt,
        Set("en", "de", "fr", "es", "zh")(lang))
    }
    val exp = Seq(
      (preds.length.toLong, preds.count(_._1).toLong),
      (preds.count(_._1).toLong, preds.count(p => p._1 && p._2).toLong),
      (preds.count(p => p._1 && p._2).toLong,
        preds.count(p => p._1 && p._2 && p._3).toLong),
      (preds.count(p => p._1 && p._2 && p._3).toLong,
        preds.count(p => p._1 && p._2 && p._3 && p._4).toLong))
    assert(got.map(r => (r._3, r._4)).toSeq == exp)
    got.foreach { r =>
      assert(r._5 == r._3 - r._4)
      assert(r._6 == (if (r._3 == 0) 0L else r._5 * 1000000L / r._3))
    }
    // the fixture must exercise attrition somewhere
    assert(got.map(_._5).sum > 0, "cascade dropped nothing — dead filters")
  }

  test("text_ngram_novelty matches a driver-side frontier replay") {
    val got = graft.operators.TextOps.textNgramNovelty(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    val docs = Tables.load(spark, sf, "documents")
      .select(org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val perDoc = docs.map { case (id, text) =>
      val w = text.split(" ").filter(_.nonEmpty)
      id -> w.sliding(5).filter(_.length == 5).map(_.mkString(" ")).toSet
    }.toMap
    val first = scala.collection.mutable.Map[String, Long]()
    perDoc.toSeq.sortBy(_._1).foreach { case (id, shs) =>
      shs.foreach(sh =>
        if (!first.contains(sh) || first(sh) > id) first(sh) = id)
    }
    assert(got.size == docs.length)
    perDoc.foreach { case (id, shs) =>
      val novel = shs.count(first(_) == id).toLong
      val exp = (shs.size.toLong, novel, novel * 1000000L / shs.size)
      assert(got(id) == exp, s"doc $id")
    }
    // the fixture's word-salad must produce real sharing: some doc
    // must be below full novelty, and doc 0 is all-novel by definition
    assert(got(0L)._3 == 1000000L)
    assert(got.values.exists(_._3 < 1000000L))
  }

  test("text_url_canon normalizes every variant to one canonical form") {
    val got = graft.operators.TextOps.textUrlCanon(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getString(3), r.getString(4), r.getString(5), r.getString(6)))
    assert(got.nonEmpty)
    got.foreach { case (id, raw, host, dom, path, kept, canon) =>
      // canonical invariants, independent of variant
      assert(host == host.toLowerCase && !host.contains(":"), s"doc $id")
      assert(dom == "example.com", s"doc $id domain $dom")
      assert(!path.endsWith("/"), s"doc $id path $path")
      assert(!kept.contains("utm_") && !kept.contains("ref="), s"doc $id")
      assert(kept.contains(s"id=$id"), s"doc $id lost its id param")
      assert(canon == s"https://$host$path?$kept", s"doc $id")
      // raw really varies by doc_id % 4
      (id % 4) match {
        case 1 => assert(raw.startsWith("HTTPS://"))
        case 2 => assert(raw.contains(":443/"))
        case 3 => assert(raw.contains("/?"))
        case _ => assert(raw.startsWith("https://") && !raw.contains(":443"))
      }
      // same doc in any variant canonicalizes identically: rebuild
      // variant-0 form and compare
      val parts = canon.stripPrefix("https://").split("[/?]")
      assert(parts(0) == host)
    }
    // params are sorted
    got.foreach { case (_, _, _, _, _, kept, _) =>
      val ps = kept.split("&").toSeq
      assert(ps == ps.sorted)
    }
  }

  test("text_html_strip recovers the original text, drops scripts") {
    val got = graft.operators.TextOps.textHtmlStrip(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2),
        r.getLong(3), r.getString(4))).toMap
    val docs = Tables.load(spark, sf, "documents")
      .select(org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(got.size == docs.length)
    docs.foreach { case (id, text) =>
      val (hlen, tlen, markup, extracted) = got(id)
      // the extraction must contain the full original text...
      assert(extracted.contains(text.replaceAll(" +", " ").trim),
        s"doc $id lost body text")
      // ...the heading with its decoded entity, and the decoded div
      // title text survives (only script CONTENT drops), then the
      // heading with its decoded entity
      assert(extracted.startsWith(s"doc-$id Doc & $id"), s"doc $id head")
      assert(extracted.endsWith("<end>"), s"doc $id entity tail")
      // script content must be GONE (the classic naive-strip bug)
      assert(!extracted.contains("var x"), s"doc $id leaked script")
      assert(!extracted.contains("<html"), s"doc $id leaked tags")
      assert(markup > 0 && hlen > tlen)
    }
  }

  test("text_concordance finds every occurrence with exact context") {
    val got = graft.operators.TextOps.textConcordance(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1)) ->
        (r.getString(2), r.getString(3), r.getString(4))).toMap
    val docs = Tables.load(spark, sf, "documents")
      .select(org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val exp = docs.flatMap { case (id, text) =>
      val w = text.split(" ").filter(_.nonEmpty)
      w.zipWithIndex.collect { case ("spark", i) =>
        (id, i + 1) -> (w.slice(math.max(0, i - 3), i).mkString(" "),
          "spark", w.slice(i + 1, i + 4).mkString(" "))
      }
    }.toMap
    assert(got == exp)
    assert(got.nonEmpty, "term absent from the corpus — vacuous")
    // the edges must be exercised: an occurrence with short left
    // context and one with a full 3-token window on both sides
    assert(got.values.exists(_._1.split(" ").count(_.nonEmpty) < 3))
    assert(got.values.exists(v =>
      v._1.split(" ").length == 3 && v._3.split(" ").length == 3))
  }

  test("pipeline_temp_sampling flattens the mixture toward the tail") {
    val got = graft.operators.CorpusPipeline
      .pipelineTempSampling(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))).toMap
    val docs = Tables.load(spark, sf, "documents")
      .select(org.apache.spark.sql.functions.col("source"),
        org.apache.spark.sql.functions.expr(
          "cast(size(filter(split(text, ' '), t -> t != '')) as bigint)"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val bySrc = docs.groupBy(_._1).view
      .mapValues(rs => (rs.length.toLong, rs.map(_._2).sum)).toMap
    val totalT = docs.map(_._2).sum
    val totalW = bySrc.values.map(v => math.sqrt(v._2.toDouble).toLong).sum
    bySrc.foreach { case (src, (nd, nt)) =>
      val wgt = math.sqrt(nt.toDouble).toLong
      val alloc = (totalT / 2) * wgt / totalW
      val rate = math.min(1000000L, alloc * 1000000L / nt)
      val expT = nt * rate / 1000000L
      assert(got(src) == ((nd, nt, wgt, alloc, rate, expT)), s"$src")
    }
    // temperature flattening: the LARGEST source is sampled at a
    // strictly lower rate than the smallest (√n compresses the head)
    val largest = bySrc.maxBy(_._2._2)._1
    val smallest = bySrc.minBy(_._2._2)._1
    assert(got(largest)._5 < got(smallest)._5,
      "sqrt reweighting did not flatten the mixture")
    // budget discipline: expected tokens never exceed the allocation
    got.values.foreach(v => assert(v._6 <= v._4 || v._5 == 1000000L))
  }

  test("text_readability equals a driver-side vowel-run replay") {
    val got = graft.operators.TextOps.textReadability(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6))).toMap
    val docs = Tables.load(spark, sf, "documents")
      .select(org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(got.size == docs.length)
    val runs = "[aeiou]+".r
    docs.foreach { case (id, text) =>
      val words = text.split(" ").filter(_.nonEmpty)
      val nw = words.length.toLong
      val ns = runs.findAllIn(text.toLowerCase).size.toLong
      val nc = words.count(w =>
        runs.findAllIn(w.toLowerCase).size >= 3).toLong
      val exp = (nw, ns, nc, ns * 1000 / nw, nc * 1000000L / nw,
        40 * nw + 4000 * nc / nw)
      assert(got(id) == exp, s"doc $id: got ${got(id)}, exp $exp")
    }
  }

  test("pipeline_repetition_budget replays capped water-filling exactly") {
    import graft.operators.CorpusPipeline
    val got = CorpusPipeline.pipelineRepetitionBudget(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toMap
    val docs = Tables.load(spark, sf, "documents")
      .select(col("source"), col("text"), col("n_chars")).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val src = docs.groupBy(_._1).map { case (sn, rows) =>
      val avail = rows.map(_._2.split(" ").count(_.nonEmpty).toLong).sum
      val nm = rows.count(r => r._3 >= 200 && r._3 <= 5000).toLong
      val q = math.max(1L, nm * 1000 / rows.length)
      (sn, avail, q, avail * 4, avail * q)
    }.toSeq.sortBy(t => (-t._3, t._1))
    val b = BigInt(src.map(_._2).sum) * 15 / 4
    val totW = BigInt(src.map(_._5).sum)
    // find the water level: first j where lambda_j fits the interval
    val n = src.length
    var jstar = 0
    var num = b
    var den = totW
    var cumC = BigInt(0)
    var cumW = BigInt(0)
    var found = false
    (1 to n).foreach { j =>
      val (_, _, q, cap, w) = src(j - 1)
      cumC += cap
      cumW += w
      val nj = b - cumC
      val dj = totW - cumW
      val qn = if (j < n) Some(src(j)._3) else None
      if (!found && nj >= 0 && nj * q >= BigInt(4) * dj &&
          qn.forall(nj * _ < BigInt(4) * dj)) {
        found = true; jstar = j; num = nj; den = dj
      }
    }
    src.zipWithIndex.foreach { case ((sn, avail, q, cap, w), i) =>
      val alloc = if (i + 1 <= jstar) BigInt(cap) else num * w / den
      val exp = (avail, q, cap, alloc.toLong, (alloc * 1000 / avail).toLong)
      assert(got(sn) == exp, s"source $sn")
      // the cap is a real ceiling and capped sources sit exactly at it
      assert(alloc <= cap)
      if (i + 1 <= jstar) assert(got(sn)._5 == 4000L, s"$sn at cap")
    }
    // budget exhaustion: unless everything capped, only per-source
    // truncation slack (< 1 token each) goes unallocated
    val spent = got.values.map(v => BigInt(v._4)).sum
    if (jstar < n) assert(b - spent >= 0 && b - spent < n, s"slack ${b - spent}")
    assert(got.size == n && n > 1)
    // the cap genuinely binds AND surplus cascades: some sources sit
    // at exactly 4 epochs, others below — both regimes exercised
    assert(jstar > 0 && jstar < n, s"jstar $jstar of $n")
  }

  test("pipeline_rag_ingest replays chunk counts and bucket assignment") {
    import graft.operators.{CorpusPipeline, SimOps}
    val got = CorpusPipeline.pipelineRagIngest(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    val docs = Tables.load(spark, sf, "documents")
      .select(col("doc_id"), col("source"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var acc = 0.0; var i = 0
      while (i < a.length && i < b.length) { acc += a(i) * b(i); i += 1 }
      acc
    }
    val vecs = Tables.load(spark, sf, "embeddings").collect()
      .map(r => r.getLong(0) ->
        r.getAs[Seq[Float]]("embedding").map(_.toDouble).toArray).toMap
    val nrm = vecs.view.mapValues(v => math.sqrt(dot(v, v))).toMap
    val cents = (0L until SimOps.nCentroids.toLong).map(i => i -> vecs(i))
    def bucket(id: Long): Long = cents.maxBy { case (cid, cv) =>
      (dot(vecs(id), cv) / (nrm(id) * nrm(cid)), -cid)
    }._1
    val exp = docs.flatMap { case (id, src, text) =>
      val nTok = text.split(" ").count(_.nonEmpty)
      if (nTok == 0) Nil
      else {
        val nChunks = (nTok - 1) / TextOps.chunkS + 1
        val toks = (0 until nChunks).map(ci =>
          math.min(nTok - ci * TextOps.chunkS, TextOps.chunkW)).sum.toLong
        Seq((bucket(id), src) -> (nChunks.toLong, 1L, toks))
      }
    }.groupBy(_._1).view.mapValues { vs =>
      (vs.map(_._2._1).sum, vs.map(_._2._2).sum, vs.map(_._2._3).sum)
    }.toMap
    assert(got == exp)
    assert(got.keys.map(_._1).toSet.size > 1, "all chunks in one bucket")
  }

  test("pipeline_safety_filter replays bigram blocklist dispositions") {
    import graft.operators.CorpusPipeline
    val got = CorpusPipeline.pipelineSafetyFilter(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(3)))
      .toMap
    val docs = Tables.load(spark, sf, "documents")
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val deny = CorpusPipeline.safetyBlocklist.toSet
    docs.foreach { case (id, text) =>
      val tk = text.split(" ").filter(_.nonEmpty)
      val bgs = tk.sliding(2).filter(_.length == 2).map(_.mkString(" "))
        .filter(deny).toSeq
      val exp = (bgs.size.toLong, bgs.distinct.size.toLong,
        if (bgs.isEmpty) "kept"
        else if (bgs.size <= CorpusPipeline.safetyMaxHits) "flagged"
        else "dropped")
      assert(got(id) == exp, s"doc $id")
    }
    assert(got.size == docs.length)
    // every disposition occurs on the fixture — the screen is real
    assert(got.values.map(_._3).toSet == Set("kept", "flagged", "dropped"))
  }

  test("text_ttr replays per-source type/token/hapax counts") {
    val got = TextOps.textTtr(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    val docs = Tables.load(spark, sf, "documents")
      .select("source", "text").collect()
      .map(r => (r.getString(0), r.getString(1)))
    val exp = docs.groupBy(_._1).map { case (src, ds) =>
      val toks = ds.flatMap(_._2.split(" ").filter(_.nonEmpty))
      val counts = toks.groupBy(identity).view.mapValues(_.size)
      val nTok = toks.size.toLong
      val nTyp = counts.size.toLong
      val nHap = counts.count(_._2 == 1).toLong
      src -> (nTok, nTyp, nHap,
        nTyp * 1000000L / nTok, nHap * 1000000L / nTyp)
    }
    assert(got == exp)
    // hapaxes exist and vocabulary is genuinely shared across docs
    assert(got.values.exists(_._3 > 0))
    assert(got.values.forall(v => v._2 < v._1))
  }

  test("text_zipf head ranks replay the exact frequency table") {
    val rows = TextOps.textZipf(spark, sf).collect()
    assert(rows.nonEmpty && rows.length <= TextOps.zipfTopN)
    val toks = Tables.load(spark, sf, "documents")
      .select("text").collect()
      .flatMap(_.getString(0).split(" ").filter(_.nonEmpty))
    val freq = toks.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val total = toks.length.toLong
    val expTop = freq.toSeq.sortBy { case (t, f) => (-f, t) }
      .take(TextOps.zipfTopN)
    val exp = expTop.zipWithIndex.map { case ((t, f), i) =>
      (i + 1L, t, f, f * (i + 1L), f * 1000000L / total)
    }
    assert(rows.map(r => (r.getLong(0), r.getString(1), r.getLong(2),
      r.getLong(3), r.getLong(4))).toSeq == exp)
    // non-vacuity: frequencies strictly head-heavy at rank 1, and
    // the head is deeper than a couple of stopwords
    assert(rows.head.getLong(2) == freq.values.max)
    assert(rows.length > 10)
    // ranks dense from 1
    assert(rows.map(_.getLong(0)).toSeq == (1L to rows.length).toSeq)
  }

  test("text_source_overlap replays the exact pairwise vocab matrix") {
    val rows = TextOps.textSourceOverlap(spark, sf).collect()
    assert(rows.nonEmpty)
    val docs = Tables.load(spark, sf, "documents")
      .select("source", "text").collect()
      .map(r => (r.getString(0), r.getString(1)))
    val vocab = docs.groupBy(_._1).view.mapValues(ds =>
      ds.flatMap(_._2.split(" ").filter(_.nonEmpty)).toSet).toMap
    rows.foreach { r =>
      val (a, b) = (r.getAs[String]("src_a"), r.getAs[String]("src_b"))
      assert(a < b, "pair order canonical")
      val (va, vb) = (vocab(a), vocab(b))
      val inter = (va & vb).size.toLong
      assert(r.getAs[Long]("n_a") == va.size.toLong)
      assert(r.getAs[Long]("n_b") == vb.size.toLong)
      assert(r.getAs[Long]("inter") == inter)
      assert(r.getAs[Long]("jaccard_ppm") ==
        inter * 1000000L / (va.size + vb.size - inter))
      assert(r.getAs[Long]("containment_ppm") ==
        inter * 1000000L / math.min(va.size, vb.size))
    }
    // every intersecting pair is present exactly once
    val srcs = vocab.keySet.toSeq.sorted
    val expPairs = (for {
      a <- srcs; b <- srcs if a < b && (vocab(a) & vocab(b)).nonEmpty
    } yield (a, b)).toSet
    assert(rows.map(r => (r.getAs[String]("src_a"),
      r.getAs[String]("src_b"))).toSet == expPairs)
    // non-vacuity: overlap varies across pairs
    assert(rows.map(_.getAs[Long]("jaccard_ppm")).distinct.length > 1)
  }

  test("pipeline_anneal_phase cuts the token budget at the quality rank") {
    import graft.operators.CorpusPipeline
    val rows = CorpusPipeline.pipelineAnnealPhase(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getString(3)))
    assert(rows.nonEmpty)
    // driver replay: quality-desc order, exclusive token scan, cut
    val scored = TextOps.textQuality(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getAs[Double]("quality")).toMap
    val toks = Tables.load(spark, sf, "documents")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) ->
        r.getString(1).split(" ").count(_.nonEmpty)).toMap
    val order = scored.toSeq.sortBy { case (id, q) => (-q, id) }.map(_._1)
    var cum = 0L
    val starts = order.map { id =>
      val s0 = cum; cum += toks(id); id -> s0
    }.toMap
    val cut = cum / 4
    rows.foreach { case (id, n, start, phase) =>
      assert(n == toks(id))
      assert(start == starts(id), s"start_token for doc $id")
      assert(phase == (if (start < cut) "anneal" else "main"))
    }
    // both phases populated; anneal is the high-quality side
    val phases = rows.groupBy(_._4)
    assert(phases.keySet == Set("anneal", "main"))
    val minAnnealQ = phases("anneal").map(t => scored(t._1)).min
    val maxMainQ = phases("main").map(t => scored(t._1)).max
    assert(minAnnealQ >= maxMainQ - 1e-12,
      "anneal must hold the top-quality prefix")
    // token-denominated: anneal token share is ~25%, not doc share
    val annealToks = phases("anneal").map(_._2.toLong).sum
    assert(annealToks >= cut && annealToks <= cut + rows.map(_._2).max,
      "the cut lands inside the last anneal doc's span")
  }

  test("pipeline_attention_spans tile every sequence without overlap") {
    import graft.operators.CorpusPipeline
    val rows = CorpusPipeline.pipelineAttentionSpans(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.nonEmpty)
    // conservation: every doc's spans sum to its token count
    val packed = TextOps.textPackSequences(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getInt(1).toLong).toMap
    rows.groupBy(_._2).foreach { case (doc, sp) =>
      assert(sp.map(_._4).sum == packed(doc),
        s"doc $doc spans must sum to its n_tokens")
    }
    // tiling: within each sequence, spans are contiguous from 0 with
    // no overlap and no gap; full sequences end exactly at the budget
    val b = TextOps.packBudget.toLong
    val bySeq = rows.groupBy(_._1)
    val maxSeq = bySeq.keys.max
    bySeq.foreach { case (seq, sp) =>
      val sorted = sp.sortBy(_._3)
      assert(sorted.head._3 == 0L, s"seq $seq must start at offset 0")
      sorted.sliding(2).foreach {
        case Array(a, c) =>
          assert(a._3 + a._4 == c._3, s"seq $seq has a gap or overlap")
        case _ =>
      }
      val end = sorted.last._3 + sorted.last._4
      if (seq < maxSeq) assert(end == b, s"seq $seq ends at $end, not $b")
      else assert(end <= b)
    }
    // non-vacuity: straddling docs exist (a doc with spans in 2+ seqs)
    assert(rows.groupBy(_._2).values.exists(_.length > 1),
      "no document straddles a sequence boundary")
    assert(rows.forall(t => t._4 > 0 && t._3 >= 0 && t._3 < b))
  }

  test("pipeline_chat_format renders exact templates with correct mask offsets") {
    import graft.operators.CorpusPipeline
    val rows = CorpusPipeline.pipelineChatFormat(spark, sf).collect()
    assert(rows.nonEmpty)
    val docs = Tables.load(spark, sf, "documents")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    // only too-short docs are excluded
    val expIds = docs.filter { case (id, tx) =>
      tx.split(" ").count(_.nonEmpty) > 4 + id % 9
    }.keySet
    assert(rows.map(_.getLong(0)).toSet == expIds)
    rows.foreach { r =>
      val id = r.getLong(0)
      val rendered = r.getAs[String]("rendered")
      val toks = docs(id).split(" ").filter(_.nonEmpty)
      val instrN = (4 + id % 9).toInt
      val exp = ("<|system|> You are a helpful assistant. <|user|> " +
        toks.take(instrN).mkString(" ") + " <|assistant|> " +
        toks.drop(instrN).mkString(" ") + " <|end|>")
      assert(rendered == exp, s"rendered template for doc $id")
      val rt = rendered.split(" ").filter(_.nonEmpty)
      assert(r.getAs[Long]("n_tokens") == rt.length.toLong,
        "n_tokens counts the rendered string's whitespace tokens")
      val maskFrom = r.getAs[Long]("mask_from").toInt
      // everything before mask_from is prompt (loss-masked); the
      // token AT mask_from is the first response token
      assert(rt(maskFrom - 1) == "<|assistant|>",
        "assistant marker sits immediately before the response span")
      assert(rt(maskFrom) == toks(instrN),
        "mask_from points at the first response token")
    }
    // the split point genuinely varies across docs
    assert(rows.map(_.getAs[Long]("mask_from")).distinct.length > 3)
  }

  test("pipeline_span_corruption masks the exact deterministic spans") {
    import graft.operators.CorpusPipeline
    val got = CorpusPipeline.pipelineSpanCorruption(spark, sf).collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    val docs = Tables.load(spark, sf, "documents")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val (stride, len) =
      (CorpusPipeline.spanStride.toLong, CorpusPipeline.spanLen.toLong)
    val exp = docs.map { case (id, text) =>
      val n = text.split(" ").count(_.nonEmpty).toLong
      val starts = (0L until n).filter(p => p % stride == id % stride)
      val masked = starts.map(p => math.min(len, n - p)).sum
      id -> (n, starts.size.toLong, masked,
        if (n > 0) masked * 1000000L / n else 0L)
    }.toMap
    assert(got == exp)
    // the plan is real: spans exist, and clipping fires on some doc
    // whose last span starts within spanLen of its end
    assert(got.values.exists(_._2 > 0))
    assert(exp.exists { case (id, (n, _, _, _)) =>
      (0L until n).exists(p =>
        p % stride == id % stride && n - p < len)
    }, "fixture must exercise end-of-doc span clipping")
  }

  test("pipeline_annotator_agreement replays Cohen's kappa in BigInt") {
    import graft.operators.CorpusPipeline
    val r = CorpusPipeline.pipelineAnnotatorAgreement(spark, sf)
      .collect()
    assert(r.length == 1)
    val row = r.head
    val docs = Tables.load(spark, sf, "documents")
      .select("n_chars", "text").collect()
      .map(x => (x.getLong(0), x.getString(1)))
    val labels = docs.map { case (nc, text) =>
      val la = math.min(nc / 200, 2L)
      val nu = text.split(" ").filter(_.nonEmpty).distinct.length
      val lb = math.min(nu / 11, 2L)
      (la, lb)
    }
    val n = BigInt(labels.length)
    def c(i: Int, j: Int) = labels.count(l => l._1 == i && l._2 == j)
    val cells = for { i <- 0 to 2; j <- 0 to 2 } yield c(i, j)
    assert(row.getLong(0) == labels.length.toLong)
    cells.zipWithIndex.foreach { case (v, k) =>
      assert(row.getLong(1 + k) == v.toLong, s"cell $k")
    }
    val po = BigInt(cells.zipWithIndex.collect {
      case (v, k) if k % 4 == 0 => v }.sum) * 1000000 / n
    val pe = (0 to 2).map(k => BigInt(labels.count(_._1 == k)) *
      BigInt(labels.count(_._2 == k))).sum * 1000000 / (n * n)
    val kappa = (po - pe) * 1000 / (1000000 - pe)
    assert(row.getLong(10) == po.toLong)
    assert(row.getLong(11) == pe.toLong)
    assert(row.getLong(12) == kappa.toLong)
    // the rubrics genuinely disagree somewhere AND agree beyond zero
    assert(po.toLong > 0 && po.toLong < 1000000)
  }

  test("pipeline_pack_stats reconciles the packing audit per sequence") {
    val got = graft.operators.CorpusPipeline.pipelinePackStats(spark, sf)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))).toMap
    assert(got.nonEmpty)
    // replay from the (already spec-verified) pack frame
    val packed = TextOps.textPackSequences(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))
    val exp = packed.groupBy(_._3).map { case (seq, g) =>
      seq -> ((g.length.toLong, g.map(_._1).min, g.map(_._4).min,
        g.map(_._2.toLong).sum,
        math.max(g.map(d => d._4 + d._2).max - TextOps.packBudget, 0L)))
    }
    assert(got == exp, "per-sequence audit must match the driver replay")
    // conservation: every token is started exactly once
    assert(got.values.map(_._4).sum == packed.map(_._2.toLong).sum)
    // the first sequence opens at offset zero
    assert(got(got.keySet.min)._3 == 0L)
    // spanning docs exist on the fixture: some sequence carries out
    assert(got.values.exists(_._5 > 0L), "no boundary-spanning doc seen")
  }

  test("text_bm25: top-3 replay matches a pure-Scala fold bitwise") {
    val got = TextOps.textBm25(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1).toInt, r.getLong(2), r.getDouble(3)))
    assert(got.nonEmpty)
    // shape: ranks are 1..k per query, scores non-increasing
    got.groupBy(_._1).foreach { case (q, rs) =>
      assert(rs.map(_._2).sorted.sameElements(1 to rs.length), s"ranks of $q")
      assert(rs.sortBy(_._2).map(_._4).sliding(2).forall(w =>
        w.length < 2 || w(0) >= w(1)), s"scores of $q not sorted")
    }
    // full driver-side replay with the EXACT double tree: tokens +
    // published idf in, every (query, doc) fold recomputed in Scala,
    // top-3 per query compared bitwise
    val docs = Tables.load(spark, sf, "documents")
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ").filter(_.nonEmpty))
    val idf = spark.read.parquet(
        Artifacts.root("bm25", sf))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val nDocs = docs.length.toLong
    val totDl = docs.map(_._2.length.toLong).sum
    val exp = docs.filter(_._1 < 5).flatMap { case (qid, qw) =>
      val qset = qw.toSet
      docs.filter(_._1 != qid).flatMap { case (did, dw) =>
        val dl = dw.length.toLong
        val tfs = dw.groupBy(identity).map { case (t, g) => t -> g.length.toLong }
        val terms = tfs.keys.filter(qset.contains).toSeq.sorted
        if (terms.isEmpty) None else {
          val score = terms.foldLeft(0.0) { (acc, t) =>
            acc + idf(t) * (tfs(t) * 2.2) /
              (tfs(t) + 1.2 * (0.25 + 0.75 * dl * nDocs / totDl))
          }
          Some((qid, did, score))
        }
      }.sortBy(x => (-x._3, x._2)).take(3).zipWithIndex
        .map { case ((q, d, sc), i) => (q, i + 1, d, sc) }
    }
    assert(got.sortBy(x => (x._1, x._2)).sameElements(
      exp.sortBy(x => (x._1, x._2))),
      "Spark top-3 must equal the Scala replay bit for bit")
  }

  test("pipeline_dp_count: flips replay from the hash coin and the " +
    "debiased estimate tracks the truth") {
    import graft.operators.{CorpusPipeline, SketchOps}
    val got = CorpusPipeline.pipelineDpCount(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getDouble(5))).toMap
    assert(got.nonEmpty)
    val docs = Tables.load(spark, sf, "documents")
      .select("lang", "doc_id", "n_chars").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    docs.groupBy(_._1).foreach { case (lang, rows) =>
      val truth = rows.count(_._3 >= 400).toLong
      val obs = rows.count { case (_, id, nc) =>
        val t = nc >= 400
        val honest = SketchOps.kmvHash(id) % 1000 < CorpusPipeline.dpCoinPerMille
        if (honest) t else !t
      }.toLong
      val (n, gTruth, gObs, est, err) = got(lang)
      assert(n == rows.length && gTruth == truth && gObs == obs,
        s"$lang counts replay")
      val expEst = (4 * obs - n).toDouble / 2.0
      assert(est == expEst && err == expEst - truth.toDouble, s"$lang est")
      // debiasing works: the estimate lands near the truth (hash-coin
      // noise is binomial-scale, sd = 2*sqrt(n*p*(1-p)) ~ 2*sqrt(0.19n))
      assert(math.abs(err) <= 6.0 * math.sqrt(0.1875 * n) + 3.0,
        s"$lang est too far: err=$err n=$n")
      // the mechanism actually flipped reports (privacy is non-vacuous)
      assert(rows.exists { case (_, id, _) =>
        SketchOps.kmvHash(id) % 1000 >= CorpusPipeline.dpCoinPerMille
      }, s"$lang nothing flipped")
    }
    // the truth predicate splits the fixture (both classes exist)
    assert(docs.exists(_._3 >= 400) && docs.exists(_._3 < 400))
  }
}
