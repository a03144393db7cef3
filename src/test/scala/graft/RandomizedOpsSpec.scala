package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.operators.Skew
import graft.plans.TopKPerKey

/** Randomized (seeded) equivalence checks for distributed operators:
  * generated data with heavy duplication, skewed keys, and ties —
  * the shapes that break naive top-k and salting implementations.
  */
class RandomizedOpsSpec extends AnyFunSuite {
  import TestSpark._

  private val rnd = new scala.util.Random(20260812L)

  test("TopKPerKey equals sort-take on skewed random data with ties") {
    import spark.implicits._
    // skewed keys (power-law-ish) and a tiny value domain forcing ties
    val rows = (1 to 20000).map { i =>
      val key = if (rnd.nextInt(10) == 0) 0L else rnd.nextInt(50).toLong
      (key, rnd.nextInt(8).toLong, i.toLong)
    }
    val df = rows.toDF("k", "v", "id").repartition(13)
    val ours = TopKPerKey.topK(df, Seq("k"),
        Seq(col("v").desc, col("id")), 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(identity)
    val expected = rows.groupBy(_._1).toSeq.flatMap { case (_, g) =>
      g.sortBy { case (_, v, id) => (-v, id) }.take(5)
    }.sortBy(identity)
    assert(ours.toSeq == expected)
  }

  test("kmv hash mirror agrees between the SQL string and the JVM twin on SIGNED keys") {
    import spark.implicits._
    // r10 ADVICE regression net: the engine-side expression string
    // (kmvHashSqlOn, the same text the DuckDB oracle runs) and the
    // executor/driver twin (kmvHash) must agree in [0, p) across the
    // FULL signed key range the multiply bound admits — plain % broke
    // this for any negative key before the floorMod fix
    val keys = (1 to 5000).map(_ => rnd.nextLong() % 12000000000L)
    val got = keys.toDF("k")
      .select(col("k"),
        expr(graft.operators.SketchOps.kmvHashSqlOn("k")).as("h"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    keys.foreach { k =>
      val h = graft.operators.SketchOps.kmvHash(k)
      assert(h >= 0 && h < graft.operators.SketchOps.kmvP,
        s"kmvHash($k) = $h out of [0, p)")
      assert(got(k) == h, s"SQL/JVM hash mirror diverged at key $k")
    }
  }

  test("jaccardPairs equals all-pairs brute force on random near-dup docs") {
    import spark.implicits._
    // small vocab + mutated copies so real near-dups occur at tau=0.5
    val vocab = ('a' to 'z').map(_.toString) ++ Seq("foo", "bar", "baz")
    def doc(): Seq[String] =
      Seq.fill(4 + rnd.nextInt(12))(vocab(rnd.nextInt(vocab.size)))
    val bases = (0 until 120).map(i => i.toLong -> doc())
    val mutated = bases.collect { case (i, toks) if i % 3 == 0 =>
      val t = toks.toArray
      if (t.nonEmpty) t(rnd.nextInt(t.length)) = vocab(rnd.nextInt(vocab.size))
      (i + 10000L) -> t.toSeq
    }
    val all = bases ++ mutated
    val df = all.map { case (id, toks) => (id, toks.mkString(" ")) }
      .toDF("doc_id", "text")
    val ours = operators.DedupOps.jaccardPairs(df, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // brute force over string shingle sets
    def sh(toks: Seq[String]): Set[String] =
      if (toks.length < 3) Set.empty
      else toks.sliding(3).map(_.mkString(" ")).toSet
    val sets = all.map { case (id, toks) => id -> sh(toks) }
      .filter(_._2.nonEmpty)
    val expected = (for {
      (ia, sa) <- sets; (ib, sb) <- sets if ia < ib
      j = sa.intersect(sb).size.toDouble / sa.union(sb).size if j >= 0.5
    } yield (ia, ib)).toSet
    assert(ours == expected,
      s"missed: ${expected -- ours}; extra: ${ours -- expected}")
  }

  /** Shared randomized corpus for the signature-dedup properties:
    * random base docs over a small vocab, EXACT copies of every 4th
    * (planted sure-dups), single-token mutations of every 3rd
    * (planted high-similarity near-dups). */
  private def sigCorpus(): Seq[(Long, Seq[String])] = {
    val vocab = ('a' to 'z').map(_.toString) ++ Seq("foo", "bar", "baz", "qux")
    def doc(): Seq[String] =
      Seq.fill(15 + rnd.nextInt(25))(vocab(rnd.nextInt(vocab.size)))
    val bases = (0 until 100).map(i => i.toLong -> doc())
    val exact = bases.collect { case (i, toks) if i % 4 == 0 =>
      (i + 10000L) -> toks
    }
    val mutated = bases.collect { case (i, toks) if i % 3 == 0 =>
      val t = toks.toArray
      t(rnd.nextInt(t.length)) = vocab(rnd.nextInt(vocab.size))
      (i + 20000L) -> t.toSeq
    }
    bases ++ exact ++ mutated
  }

  test("minhashPairs: every pair verified true, exact dups never missed") {
    import spark.implicits._
    val all = sigCorpus()
    val df = all.map { case (id, toks) => (id, toks.mkString(" ")) }
      .toDF("doc_id", "text")
    val ours = operators.DedupOps.minhashPairs(df, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // brute force over string shingle sets
    def sh(toks: Seq[String]): Set[String] =
      if (toks.length < 3) Set.empty
      else toks.sliding(3).map(_.mkString(" ")).toSet
    val sets = all.map { case (id, toks) => id -> sh(toks) }
      .filter(_._2.nonEmpty)
    def jac(a: Set[String], b: Set[String]): Double =
      a.intersect(b).size.toDouble / a.union(b).size
    val truePairs = (for {
      (ia, sa) <- sets; (ib, sb) <- sets if ia < ib && jac(sa, sb) >= 0.5
    } yield (ia, ib)).toSet
    // precision 1: the exact-Jaccard verify admits only true pairs
    assert(ours.subsetOf(truePairs), s"false positives: ${ours -- truePairs}")
    // recall 1 on exact dups: identical text -> identical signature ->
    // collides in EVERY band, deterministically
    val planted = all.collect {
      case (id, _) if id >= 10000L && id < 20000L => (id - 10000L, id)
    }.toSet
    assert(planted.subsetOf(ours), s"missed exact dups: ${planted -- ours}")
    // bounded loss at tau on the rest: banding with 4 bands of 4 rows
    // keeps most high-Jaccard pairs (deterministic under the fixed
    // seed; P(candidate) ≈ 0.88 at J=0.8, 0.99 at J=0.9)
    val highJ = (for {
      (ia, sa) <- sets; (ib, sb) <- sets if ia < ib && jac(sa, sb) >= 0.8
    } yield (ia, ib)).toSet
    val recall = (ours & highJ).size.toDouble / math.max(1, highJ.size)
    assert(recall >= 0.6, s"high-J recall $recall (found ${(ours & highJ).size} of ${highJ.size})")
  }

  test("simhashPairs equals signature brute force (banding lossless <= 3 bits)") {
    import spark.implicits._
    val all = sigCorpus()
    val df = all.map { case (id, toks) => (id, toks.mkString(" ")) }
      .toDF("doc_id", "text")
    // pigeonhole: <= 3 differing bits cannot touch all 4 16-bit bands,
    // so banded candidates ⊇ every within-3 pair — output must EQUAL
    // the all-pairs scan over the signatures, not approximate it
    val sigs = operators.DedupOps.simhashSigs(df)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    val expected = (for {
      (ia, sa) <- sigs; (ib, sb) <- sigs
      if ia < ib && java.lang.Long.bitCount(sa ^ sb) <= 3
    } yield (ia, ib)).toSet
    val ours = operators.DedupOps.simhashPairs(df, maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ours == expected,
      s"missed: ${expected -- ours}; extra: ${ours -- expected}")
    // exact dups are hamming 0 and must all appear
    val planted = all.collect {
      case (id, _) if id >= 10000L && id < 20000L => (id - 10000L, id)
    }.toSet
    assert(planted.subsetOf(ours), s"missed exact dups: ${planted -- ours}")
  }

  test("saltedCount equals groupBy count on skewed random keys") {
    import spark.implicits._
    val rows = (1 to 30000).map { _ =>
      if (rnd.nextInt(3) == 0) 7L else rnd.nextInt(100).toLong
    }
    val df = rows.toDF("k").repartition(9)
    val salted = Skew.saltedCount(df, "k", factor = 8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val plain = rows.groupBy(identity).map { case (k, g) => k -> g.size.toLong }
    assert(salted == plain)
  }

  test("prefix-min clamp identity holds on random signed sequences") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    // q_stock_ledger's identity S_i = P_i - min(0, min_{j<=i} P_j),
    // stressed on random walks (frequent deep negatives) across many
    // keys and partitions — not just the fixture's movement shapes
    val rows = for {
      k <- 0L until 80L
      n = 1 + rnd.nextInt(60)
      i <- 0 until n
    } yield (k, i, (rnd.nextInt(21) - 11).toLong) // bias negative
    val df = rows.toDF("k", "i", "x").repartition(11)
    val w = Window.partitionBy("k").orderBy("i")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val got = df
      .withColumn("p", sum(col("x")).over(w))
      .withColumn("bal", col("p") - least(lit(0L), min(col("p")).over(w)))
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(4))
      .toMap
    rows.groupBy(_._1).foreach { case (k, g) =>
      var bal = 0L
      g.sortBy(_._2).foreach { case (_, i, x) =>
        bal = math.max(0L, bal + x)
        assert(got((k, i)) == bal, s"k=$k i=$i")
      }
    }
  }

  test("cumulative-interval FIFO matching equals a sequential matcher") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    // q_fifo_cogs' construction on random receipt/shipment streams
    // incl. oversold parts (shipments exceeding stock) and parts with
    // one side empty
    val rows = for {
      k <- 0L until 60L
      n = rnd.nextInt(25)
      i <- 0 until n
    } yield (k, i, 1L + rnd.nextInt(9),
      (1 + rnd.nextInt(50)).toLong, rnd.nextInt(3) == 0)
    val df = rows.toDF("k", "i", "qty", "unit", "isRec")
    val w = Window.partitionBy("k").orderBy("i")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val rec = df.filter(col("isRec"))
      .withColumn("rhi", sum(col("qty")).over(w))
      .select(col("k"), (col("rhi") - col("qty")).as("rlo"), col("rhi"),
        col("unit"))
    val shp = df.filter(!col("isRec"))
      .withColumn("shi", sum(col("qty")).over(w))
      .select(col("k").as("sk"), (col("shi") - col("qty")).as("slo"),
        col("shi"))
    val got = rec.join(shp, col("k") === col("sk") &&
        col("slo") < col("rhi") && col("rlo") < col("shi"))
      .groupBy("k")
      .agg(sum(least(col("rhi"), col("shi")) -
          greatest(col("rlo"), col("slo"))).as("mq"),
        sum((least(col("rhi"), col("shi")) -
          greatest(col("rlo"), col("slo"))) * col("unit")).as("cogs"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    rows.groupBy(_._1).foreach { case (k, g) =>
      val o = g.sortBy(_._2)
      val layers = o.filter(_._5).map(r => (r._3, r._4))
      var shipLeft = o.filterNot(_._5).map(_._3).sum
      var matched = 0L
      var cogs = 0L
      layers.foreach { case (q, u) =>
        val take = math.min(q, shipLeft)
        matched += take; cogs += take * u; shipLeft -= take
      }
      if (matched > 0)
        assert(got(k) == ((matched, cogs)), s"k=$k")
      else assert(!got.contains(k), s"k=$k unexpectedly matched")
    }
  }

  test("water-filling breakpoint scan satisfies the optimality conditions") {
    // pipeline_repetition_budget's algebra on random source profiles —
    // the class of defect a fixture spec cannot see (the original
    // cap-constant bug kept Spark, oracle, and replay consistently
    // wrong): verify the scan's output against the DEFINITION of
    // capped water-filling, not against a reimplementation.
    val E = BigInt(4)
    (1 to 200).foreach { trial =>
      val n = 2 + rnd.nextInt(8)
      val src = (0 until n).map { i =>
        (s"s$i", BigInt(1 + rnd.nextInt(100000)),
          BigInt(1 + rnd.nextInt(1000)))                 // (name, avail, q)
      }.sortBy { case (nm, _, q) => (-q, BigInt(nm.drop(1).toInt)) }
      val caps = src.map { case (_, a, _) => a * E }
      val ws = src.map { case (_, a, q) => a * q }
      val tw = ws.sum
      // budget anywhere from starved to beyond all caps
      val b = src.map(_._2).sum * BigInt(1 + rnd.nextInt(6)) / 2
      // the operator's scan (same algebra as CorpusPipeline)
      var jstar = 0
      var num = b
      var den = tw
      var cumC = BigInt(0)
      var cumW = BigInt(0)
      var found = false
      (1 to n).foreach { j =>
        cumC += caps(j - 1); cumW += ws(j - 1)
        val nj = b - cumC
        val dj = tw - cumW
        val q = src(j - 1)._3
        val qn = if (j < n) Some(src(j)._3) else None
        if (!found && nj >= 0 && nj * q >= E * dj &&
            qn.forall(nj * _ < E * dj)) {
          found = true; jstar = j; num = nj; den = dj
        }
      }
      val alloc = src.zipWithIndex.map { case ((_, a, q), i) =>
        if (i + 1 <= jstar) caps(i)
        else if (den == 0) caps(i)
        else num * ws(i) / den
      }
      // optimality conditions of min(cap, lambda*w) water-filling:
      alloc.zip(caps).foreach { case (al, c) =>
        assert(al <= c, s"trial $trial: cap violated")
      }
      if (jstar < n && den > 0) {
        // budget exhausted up to per-source truncation slack
        val spent = alloc.sum
        assert(b - spent >= 0 && b - spent < n, s"trial $trial: slack")
        // capped sources have breakpoints at or below the water
        // level; uncapped strictly above (cross-multiplied, exact)
        (0 until n).foreach { i =>
          val q = src(i)._3
          if (i + 1 <= jstar)
            assert(num * q >= E * den, s"trial $trial: wrongly capped $i")
          else
            assert(num * q < E * den || num * ws(i) / den == caps(i),
              s"trial $trial: should be capped $i")
        }
      } else if (jstar == n) {
        // everything capped: only legal when the budget covers all caps
        assert(b >= caps.sum, s"trial $trial: all-capped without budget")
      }
    }
  }

  test("weekday closed form equals a brute-force walk on random date pairs") {
    import java.time.{DayOfWeek, LocalDate}
    import spark.implicits._
    // random pairs in both orders, including same-day and multi-year;
    // clamped to the formula's contract (post-epoch day indices —
    // negative LAGS are in contract, pre-1970 dates are not: integer
    // div/mod change sign behavior there and no warehouse data
    // predates its own epoch)
    val epoch = LocalDate.of(1970, 1, 5)
    val pairs = (1 to 400).map { _ =>
      val a = rnd.nextInt(20000)
      val b = math.max(0, a + rnd.nextInt(2000) - 1000)
      (a.toLong, b.toLong)
    }
    val got = pairs.toDF("na", "nb")
      .selectExpr(
        "na", "nb",
        """(5 * (nb div 7) + least(nb % 7, 5))
          | - (5 * (na div 7) + least(na % 7, 5))""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    def walkFwd(x: LocalDate, y: LocalDate): Long =
      Iterator.iterate(x)(_.plusDays(1)).takeWhile(_.isBefore(y))
        .count(d => d.getDayOfWeek != DayOfWeek.SATURDAY &&
          d.getDayOfWeek != DayOfWeek.SUNDAY).toLong
    got.foreach { case (na, nb, bd) =>
      val (da, db) = (epoch.plusDays(na), epoch.plusDays(nb))
      val exp = if (!db.isBefore(da)) walkFwd(da, db) else -walkFwd(db, da)
      assert(bd == exp, s"pair $na $nb")
    }
  }

  test("FIFO survivor clip equals a sequential consumer on random streams") {
    import spark.implicits._
    // random receipt/issue streams per part, incl. stockout regimes
    val mv = (0 until 40).flatMap { part =>
      (0 until 1 + rnd.nextInt(15)).map { day =>
        val qr = if (rnd.nextInt(3) == 0) rnd.nextInt(20).toLong + 1 else 0L
        val qi = if (rnd.nextInt(2) == 0) rnd.nextInt(25).toLong else 0L
        (part.toLong, day, qr, qi)
      }
    }
    val got = operators.SeriesOps.agingLayers(
        mv.toDF("part", "day", "qr", "qi").repartition(7))
      .select("part", "day", "remaining").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val exp = mv.groupBy(_._1).toSeq.flatMap { case (part, rows) =>
      val ordered = rows.sortBy(_._2)
      var toConsume = ordered.map(_._4).sum
      ordered.collect { case (_, day, qr, _) if qr > 0 =>
        val eaten = math.min(qr, math.max(0L, toConsume))
        toConsume -= eaten
        (part, day, qr - eaten)
      }.filter(_._3 > 0)
    }.toSet
    assert(got == exp)
    // both regimes occur: some part fully consumed, some with survivors
    assert(exp.nonEmpty)
    assert(mv.map(_._1).distinct.size > exp.map(_._1).size,
      "some random part must be fully consumed")
  }

  test("MV rewrite equivalence on randomized grains, measures and filters") {
    // the MV core's contract, fuzzed: for ANY registered grain G and
    // measure set M over a parquet base, ANY query at a subgrain
    // Q ⊆ G with measures ⊆ M — bare, or filtered on a retained key —
    // must (a) answer from the MV scan and (b) equal the forced base
    // run bit-for-bit; grains/measures OUTSIDE the definition must
    // run untouched. Eight random trials per run, seeded.
    import spark.implicits._
    import org.apache.spark.sql.catalyst.plans.logical.Aggregate
    import org.apache.spark.sql.{Column, DataFrame}
    val dir = tempDir("graft_mv_prop").toString
    val rows = (1 to 5000).map { _ =>
      (rnd.nextInt(7), rnd.nextInt(13), s"s${rnd.nextInt(5)}",
        rnd.nextInt(1000000).toLong)
    }
    rows.toDF("k1", "k2", "k3", "v").write.parquet(s"$dir/base.parquet")
    val base = spark.read.parquet(s"$dir/base.parquet")
    val keys = Seq("k1", "k2", "k3")
    val measureNames = Seq("s", "c", "mn", "mx")
    def aggCols(names: Seq[String]): Seq[Column] = names.map {
      case "s" => sum(col("v")).as("s")
      case "c" => count(lit(1)).as("c")
      case "mn" => min(col("v")).as("mn")
      case "mx" => max(col("v")).as("mx")
    }
    def aggOf(src: DataFrame, grain: Seq[String], ms: Seq[String]): DataFrame = {
      val a = aggCols(ms)
      src.groupBy(grain.map(col): _*).agg(a.head, a.tail: _*)
    }
    def rowsOf(df: DataFrame): Seq[String] =
      df.collect().map(_.toSeq.mkString("|")).sorted.toSeq
    // the file names every scan of the plan reads, through AQE
    def scanned(df: DataFrame): Seq[String] =
      allNodes(df.queryExecution.executedPlan).collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.relation.location.rootPaths.map(_.getName)
      }.flatten
    (1 to 8).foreach { trial =>
      graft.plans.MvCatalog.clear()
      val g = rnd.shuffle(keys).take(1 + rnd.nextInt(3))
      val ms = rnd.shuffle(measureNames).take(1 + rnd.nextInt(4))
      val mvPath = s"$dir/mv_$trial.parquet"
      aggOf(base, g, ms).write.mode("overwrite").parquet(mvPath)
      aggOf(base, g, ms).queryExecution.analyzed match {
        case a: Aggregate => graft.plans.MvCatalog.register(a, mvPath)
        case other => fail(s"definition did not analyze to Aggregate: $other")
      }
      val q = rnd.shuffle(g).take(1 + rnd.nextInt(g.length))
      val qm = rnd.shuffle(ms).take(1 + rnd.nextInt(ms.length))
      // (a) the subgrain answers from the MV and equals the base run
      val qDf = aggOf(base, q, qm)
      val mvFile = s"mv_$trial.parquet"
      val files = scanned(qDf)
      assert(files.contains(mvFile),
        s"trial $trial: grain $q of $g (measures $qm of $ms) must rewrite")
      assert(!files.contains("base.parquet"),
        s"trial $trial: the base must not be scanned")
      val truth = aggOf(base.filter(col("v") > Long.MinValue), q, qm)
      assert(!scanned(truth).contains(mvFile))
      assert(rowsOf(qDf) == rowsOf(truth),
        s"trial $trial: rewritten answer diverged at grain $q measures $qm")
      // (b) selection subsumption on a retained key — still MV-served
      val fk = q(rnd.nextInt(q.length))
      val fv: Column = fk match {
        case "k1" => lit(rnd.nextInt(7))
        case "k2" => lit(rnd.nextInt(13))
        case _ => lit(s"s${rnd.nextInt(5)}")
      }
      val fDf = aggOf(base.filter(col(fk) === fv), q, qm)
      assert(scanned(fDf).contains(mvFile),
        s"trial $trial: key-grain slice on $fk must ride the MV")
      val fTruth = aggOf(
        base.filter(col(fk) === fv && col("v") > Long.MinValue), q, qm)
      assert(rowsOf(fDf) == rowsOf(fTruth),
        s"trial $trial: filtered rewrite diverged on $fk")
      // (c) a grain with a key OUTSIDE the definition runs untouched
      keys.filterNot(g.contains).headOption.foreach { outKey =>
        assert(!scanned(aggOf(base, q :+ outKey, qm)).contains(mvFile),
          s"trial $trial: off-grain key $outKey must veto")
      }
      // (d) a measure the MV does not carry runs untouched
      measureNames.filterNot(ms.contains).headOption.foreach { outM =>
        assert(!scanned(aggOf(base, q, qm :+ outM)).contains(mvFile),
          s"trial $trial: uncarried measure $outM must veto")
      }
    }
    graft.plans.MvCatalog.clear()
  }

  test("rolling-OLS position-sum identity holds on random windows") {
    // 30·(T − (i−29)·S) − 435·S == 30·Σ(x·y) − 435·Σy for x = 0..29
    val w = operators.SeriesOps.trendW
    (1 to 200).foreach { trial =>
      val i = w + rnd.nextInt(1000) // global index of the window end
      val ys = Seq.fill(w)(BigInt(rnd.nextInt(1000000)))
      val s = ys.sum
      val t = ys.zipWithIndex
        .map { case (y, j) => BigInt(i - (w - 1) + j) * y }.sum
      val viaWindowSums =
        BigInt(w) * (t - BigInt(i - (w - 1)) * s) - BigInt(w * (w - 1) / 2) * s
      val direct = BigInt(w) * ys.zipWithIndex
        .map { case (y, x) => BigInt(x) * y }.sum -
        BigInt(w * (w - 1) / 2) * s
      assert(viaWindowSums == direct, s"trial $trial")
    }
  }
}
