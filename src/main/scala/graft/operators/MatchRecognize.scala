package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Key, Oracle, Tables}

/** Row-pattern matching — the SQL:2016 MATCH_RECOGNIZE capability
  * Spark has no native operator for (and DuckDB doesn't either, so
  * the oracle is the same relational compilation executed by an
  * independent engine, with the semantics replayed by a genuine
  * row-level greedy automaton in the spec).
  *
  * r13: ONE compiler over a DECLARED pattern table. A pattern is pure
  * data — `(direction, minRun, maxRun)` steps, per-step DEFINE
  * predicates, a skip mode, and MEASURES as column functions over
  * step accessors — and every key below is a table entry; adding a
  * pattern is a declaration, not code. The shipped patterns:
  *
  *   - q_match_recognize: `PATTERN (DOWN{3,} UP{3,})` — the V-shape
  *     (drawdown and recovery). AFTER MATCH SKIP PAST LAST ROW is
  *     PROVABLY VACUOUS here: a second candidate inside a 2-run span
  *     would need run 1's direction to equal run 0's, which the
  *     alternating declaration forbids — the compiler detects that
  *     from the declared dirs (conflictsPossible) and emits the pure
  *     window plan with no selection pass.
  *   - q_match_w: `PATTERN (D1 U1 D2 U2)`, {2,} each, AFTER MATCH
  *     SKIP TO FIRST D2 — consecutive W's OVERLAP, sharing their
  *     middle V. Under maximal-run classification that skip rule
  *     equals "emit every aligned run quadruple": mid-run starts have
  *     the same following runs and a shorter first step, so they
  *     match only where the aligned start already matched and the
  *     greedy scan emits the aligned one first; and the resume point
  *     (first row of D2) IS the next aligned candidate's start, so
  *     the chain skips nothing. The spec checks this claim against an
  *     INDEPENDENT row-level automaton instead of embedding it
  *     (r12 ADVICE).
  *   - q_match_hs: `PATTERN (DOWN{2,} UP{1,} DOWN{1,} UP{2,})` with
  *     AFTER MATCH SKIP PAST LAST ROW — the skip mode the other two
  *     cannot show doing real work: aligned candidates CAN overlap
  *     (two runs apart), and the greedy left-to-right scan must keep
  *     a candidate only if it starts past the last kept match's end.
  *     That selection is sequential by definition, but sequential
  *     only WITHIN a series, so it is ONE per-group `aggregate()`
  *     fold over the group's sorted candidate positions (greedySelect
  *     below — a single grp-keyed exchange plus a left-semi join
  *     back, no iterative jobs). The DuckDB oracle walks the same
  *     semantics as jump pointers in a recursive CTE — an independent
  *     formulation, which is the point.
  *   - q_match_define (r14): `PATTERN (DOWN{2,} UP{2,})` with
  *     SQL:2016 DEFINE predicates — DOWN AS the fall is ≥5% of its
  *     local peak, UP AS the rebound recovers ≥ half the fall. A
  *     define can be non-monotone under suffix-shrinking (the UP rule
  *     gets EASIER as the match start slides down the falling run),
  *     so run-aligned emission alone would be WRONG: the automaton's
  *     advance-one-row scan can succeed at a MID-RUN start where the
  *     aligned start failed. The compiler stays exact by computing,
  *     per structurally-matching candidate, the MINIMUM start offset
  *     in step 0's run whose suffix satisfies every define (an
  *     array-lambda filter over the run's value prefix — O(run
  *     length) per candidate, no extra exchange), then rewrites step
  *     0's boundary columns to that offset.
  *   - q_match_quant (r14): `PATTERN (DOWN{2,3} UP{1,2})` — BOUNDED
  *     quantifiers {m,n}. An upper bound breaks the maximal-run
  *     trick: the greedy automaton consumes at most n rows of a run,
  *     so a bounded FIRST step aligns to the run SUFFIX of length
  *     min(L, n) (every earlier start leaves same-direction rows that
  *     fail the next step) and a bounded LAST step consumes the run
  *     PREFIX of length min(L, n) (greedy maximum, nothing after it
  *     to satisfy). Both compile as element_at() rewrites over
  *     per-run ordered day/value arrays carried by the rich run
  *     grain; an INTERIOR bounded step must consume its whole run, so
  *     its bound is just m ≤ L ≤ n on the run length.
  *   - q_match_alt (r14): `PATTERN (DEEP_V | CLIFF)` — alternation.
  *     Each alternative compiles over the SAME run grain; the union
  *     keeps, per anchor run, the first alternative in declaration
  *     order (the SQL preference rule: at one start row the automaton
  *     tries alternatives left to right), and the output carries
  *     CLASSIFIER(). Sound for 2-step alternating alternatives with a
  *     common head direction: all candidates anchor at head-dir runs
  *     and span exactly 2 runs, so matches of DIFFERENT alternatives
  *     can never overlap and SKIP PAST LAST ROW stays vacuous across
  *     the union (k≥3 alternatives would need a cross-alternative
  *     greedy pass — a require states the bound honestly).
  *
  * Compilation (the standard run-length encoding):
  *   1. classify each row against its predecessor: dir ∈ {-1, 0, +1},
  *   2. number maximal constant-dir runs with a change-flag cumsum,
  *   3. collapse to run grain (first/last day, length, boundary
  *      values; plus ordered day/value arrays when a declaration
  *      needs sub-run offsets),
  *   4. window-LEAD the run grain k−1 steps and keep rows whose lead
  *      dirs/lengths satisfy every declared step (one grp-keyed
  *      exchange, no self-join), resolve DEFINE offsets and bounded
  *      consumption via array rewrites,
  *   5. if the declared skip mode requires it, greedy-select
  *      non-overlapping candidates (one per-group aggregate() fold).
  *
  * Scale shape: the corpus collapses to the daily grain at the FIRST
  * aggregate; both window passes and the run collapse ride one
  * priority-keyed exchange over the model-sized daily frame; leads
  * replace self-joins; the rich grain's arrays are bounded by run
  * length (calendar-capped at this key family's daily grain). All
  * arithmetic is exact BIGINT cents — no float crosses an engine
  * boundary.
  *
  * Reference tie-in: the reference's closest surface is row-ordered
  * scanning during extraction (mysql2psql MysqlParser.py
  * get_table_raw_data:121-150); pattern detection over ordered rows
  * is what a monitoring pipeline runs on the migrated series.
  */
object MatchRecognize {

  /** Minimum run length for each quantifier (DOWN{3,} UP{3,}). */
  val minRun = 3

  /** Minimum run length for the W-pattern's quantifiers
    * (DOWN{2,} UP{2,} DOWN{2,} UP{2,}) — looser than the V so the
    * 4-run shape still occurs in the fixture series. */
  val wMinRun = 2

  /** One step of a declared row pattern: a maximal run with direction
    * `dir` (+1 strictly rising / −1 strictly falling — a flat day
    * matches neither, as the strict PREV() predicates demand) and
    * quantifier {minRun,} or, with `max` set, {minRun,max}. */
  final case class RunStep(dir: Int, minRun: Int, max: Option[Int] = None)

  /** AFTER MATCH SKIP declaration. SkipToFirst(j) resumes at the
    * first row of step j's consumed segment (overlap-permitting);
    * SkipPastLastRow resumes after the match's last row
    * (non-overlapping, greedy). */
  sealed trait SkipMode
  case object SkipPastLastRow extends SkipMode
  final case class SkipToFirst(step: Int) extends SkipMode

  private[MatchRecognize] object StepCols {
    /** Default resolver: step 0 reads the run-grain base columns,
      * step i>0 the window-lead copies. */
    val ref: ((String, Int)) => Column = {
      case (base, 0) => col(base)
      case (base, i) => col(s"${base}_$i")
    }
  }

  /** Step accessors the MEASURES and DEFINEs are declared against:
    * boundary values of step i's maximal run. Accessing records the
    * (field, step) pairs used, so the compiler builds exactly the
    * lead columns a declaration needs — no speculative leads for
    * Catalyst to prune. The resolver is pluggable so the SAME define
    * declaration can be re-evaluated with step 0's accessors
    * substituted by offset-parameterized array expressions (the
    * mid-run rescue). */
  final class StepCols private[MatchRecognize] (
      resolve: ((String, Int)) => Column = StepCols.ref) {
    private[MatchRecognize] val used =
      scala.collection.mutable.Set[(String, Int)]()
    private def c(base: String, i: Int): Column = {
      used += (base -> i)
      resolve((base, i))
    }
    /** First day of step i's run. */
    def d0(i: Int): Column = c("d0", i)
    /** Last day of step i's run. */
    def d1(i: Int): Column = c("d1", i)
    /** Step i's run length. */
    def n(i: Int): Column = c("n", i)
    /** Series value at step i's last row. */
    def endV(i: Int): Column = c("end_v", i)
    /** Series value just BEFORE step i's first row (PREV of the run
      * start — the peak a falling step falls from). */
    def startPrevV(i: Int): Column = c("start_prev_v", i)
  }

  /** A declared pattern: steps, skip mode, measures (name → column
    * over the step accessors), and DEFINE predicates (boolean columns
    * over the same accessors, conjoined — SQL:2016 DEFINE clauses
    * evaluated at the run grain). The first measure must be the
    * match-start day — it pins the (grp, start) total output order
    * both engines share. */
  final case class PatternSpec(steps: Seq[RunStep], skip: SkipMode,
    measures: Seq[(String, StepCols => Column)],
    defines: Seq[StepCols => Column] = Nil)

  private def dailyFrame(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "orders")
      .groupBy(col("o_orderpriority").as("grp"),
        col("o_orderdate").cast("date").as("day"))
      .agg(sum(expr("cast(cast(o_totalprice as decimal(12,2)) * 100 as bigint)"))
        .as("v"))

  def qMatchRecognize(s: SparkSession, dir: String): DataFrame =
    matchRuns(dailyFrame(s, dir))

  def qMatchW(s: SparkSession, dir: String): DataFrame =
    wRuns(dailyFrame(s, dir), wMinRun, wMinRun)

  def qMatchHs(s: SparkSession, dir: String): DataFrame =
    hsRuns(dailyFrame(s, dir))

  def qMatchDefine(s: SparkSession, dir: String): DataFrame =
    compilePattern(dailyFrame(s, dir), definePattern)

  def qMatchQuant(s: SparkSession, dir: String): DataFrame =
    compilePattern(dailyFrame(s, dir), quantPattern)

  def qMatchAlt(s: SparkSession, dir: String): DataFrame =
    compileAlternation(dailyFrame(s, dir), altPatterns)

  /** Steps 1–3 of the compilation: classify, segment, collapse to the
    * run grain — shared by every pattern over the same series. Segs
    * are CONSECUTIVE integers per grp (a cumsum of change flags), so
    * run adjacency is seg+1 / window-lead positional adjacency. With
    * `rich` set the grain also carries each run's ordered day and
    * value arrays — needed only when a declaration addresses sub-run
    * offsets (bounded first/last steps, step-0 DEFINEs); the plain
    * keys keep the array-free plan they always had. */
  private[graft] def runGrain(daily: DataFrame,
      rich: Boolean = false): DataFrame = {
    val w = Window.partitionBy("grp").orderBy("day")
    val cls = daily
      .withColumn("pv", lag(col("v"), 1).over(w))
      .withColumn("dir", expr(
        "case when v > pv then 1 when v < pv then -1 else 0 end"))
      .filter(col("pv").isNotNull)
    val seg = cls
      .withColumn("chg", expr("case when lag(dir) over " +
        "(partition by grp order by day) is null or dir != lag(dir) over " +
        "(partition by grp order by day) then 1 else 0 end"))
      .withColumn("seg", sum(col("chg")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val aggs = Seq(min(col("dir")).as("dir"), min(col("day")).as("d0"),
      max(col("day")).as("d1"), count(lit(1)).as("n"),
      min_by(col("pv"), col("day")).as("start_prev_v"),
      max_by(col("v"), col("day")).as("end_v")) ++
      (if (rich) Seq(
        sort_array(collect_list(col("day"))).as("days"),
        // value at the run's i-th row, ordered by day (struct sort is
        // lexicographic, so day leads)
        expr("transform(array_sort(collect_list(struct(day, v))), r -> r.v)")
          .as("vals"))
       else Nil)
    seg.groupBy("grp", "seg").agg(aggs.head, aggs.tail: _*)
  }

  /** Can two aligned candidates of this step sequence start within k
    * runs of each other? True iff some offset j ∈ [1, k) keeps every
    * overlapping position's direction consistent — for alternating
    * declarations that is any even j, so k=2 patterns can never
    * conflict (SKIP PAST LAST ROW vacuous) while k≥3 ones can. The
    * compiler consults THIS, not the key author, to decide whether
    * the greedy selection pass is needed. */
  private[graft] def conflictsPossible(steps: Seq[RunStep]): Boolean =
    (1 until steps.size).exists(j =>
      (0 until steps.size - j).forall(i => steps(j + i).dir == steps(i).dir))

  /** Steps 4–5: compile a declared pattern over ANY (grp, day, v)
    * series frame — factored from the query keys so the randomized
    * spec can drive arbitrary synthetic series (flat runs, single
    * points, alternating saw-tooths) against the row-automaton
    * replay. */
  private[graft] def compilePattern(daily: DataFrame,
      spec: PatternSpec): DataFrame =
    compileKept(daily, spec).drop("seg")
      // (grp, start_day) is a match key (one candidate per anchor run,
      // and starts of different runs cannot collide), so this is a
      // TOTAL order — pinned because the driver's correctness hash is
      // row-order-sensitive
      .orderBy("grp", "start_day")

  /** The compilation core, returning kept candidates WITH their anchor
    * seg (compileAlternation dedups on it). Exactness domain, each
    * region enforced by a require and checked against the row NFA:
    *
    *   - SKIP TO FIRST: unbounded define-free steps, and j must be
    *     the FIRST later step that can start a match (r13 ADVICE: for
    *     j past the first one the automaton resuming at step j would
    *     never attempt candidates at offsets 2..j−2 inside a match,
    *     so emit-every-aligned-candidate would over-emit — that
    *     selection pass is not implemented, so the compiler refuses
    *     the declaration instead of silently over-emitting).
    *   - DEFINEs cannot combine with bounded steps yet (the mid-run
    *     rescue assumes later steps consume full runs and step 0's
    *     suffix is uncapped).
    *   - Greedy SKIP PAST LAST ROW (conflictsPossible) requires an
    *     unbounded LAST step: a capped last step ends its match
    *     mid-run, and for odd k the resume point inside that same run
    *     can start a new match the run-aligned candidate set misses.
    *     Bounded FIRST/interior steps compose fine with greedy: the
    *     suffix start is deterministic per anchor run and spans are
    *     unchanged, so the seg-distance fold still equals the scan.
    */
  private def compileKept(daily: DataFrame, spec: PatternSpec): DataFrame = {
    val steps = spec.steps
    val k = steps.size
    require(k >= 2, "a pattern needs at least two steps")
    require(steps.forall(s => s.dir == 1 || s.dir == -1),
      "steps are strict runs: dir must be +1 or -1")
    require(steps.sliding(2).forall(p => p.head.dir != p.last.dir),
      "adjacent steps must alternate direction — equal-dir neighbors " +
        "would be one maximal run and the greedy quantifier would " +
        "starve the second step")
    require(steps.forall(st => st.max.forall(_ >= st.minRun)),
      "an upper bound below the minimum is unsatisfiable")
    require(spec.measures.headOption.exists(_._1 == "start_day"),
      "the first measure must be start_day (pins the output order)")
    require(spec.defines.isEmpty || steps.forall(_.max.isEmpty),
      "DEFINE predicates and bounded quantifiers cannot combine yet: " +
        "the mid-run rescue assumes full-run consumption")
    spec.skip match {
      case SkipToFirst(j) =>
        require(j == steps.indexWhere(_.dir == steps.head.dir, 1),
          "SKIP TO FIRST must name the FIRST later step that can start " +
            "a match (j=2 for alternating patterns): for a later j the " +
            "automaton would skip in-match candidates that aligned " +
            "emission keeps, and that selection pass is not implemented")
        require(steps.forall(_.max.isEmpty) && spec.defines.isEmpty,
          "SKIP TO FIRST supports unbounded define-free steps only " +
            "(the aligned-emission equivalence is proven for those)")
      case SkipPastLastRow =>
        require(!conflictsPossible(steps) || steps.last.max.isEmpty,
          "greedy SKIP PAST LAST ROW with a bounded LAST step would " +
            "resume mid-run, where a new match can start that aligned " +
            "candidates miss")
    }
    // build the measures ONCE against a recording StepCols: the
    // accessor log tells the compiler exactly which lead columns this
    // declaration needs (conditions always need dir_i and n_i)
    val sc = new StepCols
    val measureCols = spec.measures.map { case (nm, f) => f(sc).as(nm) }
    // probe the defines with the default resolver: records their lead
    // needs, and the resulting columns ARE the filter when no define
    // touches step 0 (no rescue needed)
    val defProbe = new StepCols
    val defCols = spec.defines.map(f => f(defProbe))
    val definesTouchStep0 = defProbe.used.exists(_._2 == 0)
    val boundedFirst = steps.head.max.isDefined
    val boundedLast = steps.last.max.isDefined
    val rich = definesTouchStep0 || boundedFirst || boundedLast
    val cond = steps.zipWithIndex.map { case (st, i) =>
      sc.n(i) // record: conditions read n_i
      val dirC = if (i == 0) col("dir") else col(s"dir_$i")
      val nC = if (i == 0) col("n") else col(s"n_$i")
      val base = dirC === st.dir && nC >= st.minRun
      // an INTERIOR bounded step must consume its whole maximal run
      // (the next step's opposite direction begins only at the run
      // boundary), so its upper bound caps the run length itself;
      // first/last bounds are consumption caps handled below
      if (i > 0 && i < k - 1) st.max.fold(base)(m => base && nC <= m)
      else base
    }.reduce(_ && _)
    val usedAll = sc.used.toSeq ++ defProbe.used.toSeq ++
      (if (boundedLast && k - 1 > 0)
         Seq("days" -> (k - 1), "vals" -> (k - 1), "d1" -> (k - 1),
           "end_v" -> (k - 1), "n" -> (k - 1))
       else Nil)
    val needed = (usedAll ++ (1 until k).map("dir" -> _))
      .filter(_._2 > 0).distinct.sortBy(t => (t._2, t._1))
    val w = Window.partitionBy("grp").orderBy("seg")
    val withLeads = needed.foldLeft(runGrain(daily, rich)) {
      case (df, (base, i)) =>
        df.withColumn(s"${base}_$i", lead(col(base), i).over(w))
    }
    var cand = withLeads.filter(cond)
    if (spec.defines.nonEmpty) {
      if (definesTouchStep0) {
        // exact advance-one-row semantics: the automaton, failing a
        // define at the aligned start, advances one row and re-tries
        // the run SUFFIX — its first success is the MINIMUM 1-based
        // start position s in step 0's run whose suffix satisfies
        // every define. Computed as an array-lambda filter over the
        // run's positions with step 0's accessors substituted:
        //   d0(0) → days[s], n(0) → n−s+1,
        //   startPrevV(0) → s=1 ? start_prev_v : vals[s−1]
        // (d1/endV are the run end — unbounded steps consume to it).
        val m0 = steps.head.minRun
        val chosen = array_min(filter(
          sequence(lit(1), (col("n") - (m0 - 1)).cast("int")),
          (s: Column) => {
            val rsc = new StepCols({
              case ("d0", 0) => element_at(col("days"), s.cast("int"))
              case ("n", 0) => col("n") - s + 1
              case ("start_prev_v", 0) =>
                when(s === 1, col("start_prev_v"))
                  .otherwise(element_at(col("vals"), (s - 1).cast("int")))
              case (base, 0) => col(base)
              case (base, i) => col(s"${base}_$i")
            })
            spec.defines.map(f => f(rsc)).reduce(_ && _)
          }))
        cand = cand.withColumn("_s0", chosen)
          .filter(col("_s0").isNotNull)
          .withColumn("d0", element_at(col("days"), col("_s0")))
          .withColumn("start_prev_v",
            when(col("_s0") === 1, col("start_prev_v"))
              .otherwise(element_at(col("vals"),
                (col("_s0") - 1).cast("int"))))
          .withColumn("n", col("n") - col("_s0") + 1)
      } else cand = cand.filter(defCols.reduce(_ && _))
    }
    if (boundedFirst) {
      // bounded FIRST step: the greedy scan fails every start that
      // leaves same-direction rows for the next step, so the match
      // aligns to the run SUFFIX of length min(L, max)
      val mx = steps.head.max.get
      val c = least(col("n"), lit(mx.toLong))
      cand = cand
        .withColumn("d0",
          element_at(col("days"), (col("n") - c + 1).cast("int")))
        .withColumn("start_prev_v",
          when(col("n") <= mx, col("start_prev_v"))
            .otherwise(element_at(col("vals"), (col("n") - c).cast("int"))))
        .withColumn("n", c)
    }
    if (boundedLast) {
      // bounded LAST step: greedy maximum with nothing after it to
      // satisfy — consume the run PREFIX of length min(L, max)
      val last = k - 1
      val c = least(col(s"n_$last"), lit(steps.last.max.get.toLong))
      cand = cand
        .withColumn(s"d1_$last",
          element_at(col(s"days_$last"), c.cast("int")))
        .withColumn(s"end_v_$last",
          element_at(col(s"vals_$last"), c.cast("int")))
        .withColumn(s"n_$last", c)
    }
    val kept = spec.skip match {
      case SkipPastLastRow if conflictsPossible(steps) =>
        greedySelect(cand, k)
      // k=2 alternating: candidates are ≥ k runs apart by declaration,
      // so PAST LAST ROW skips nothing; SkipToFirst: overlap is the
      // declared semantics and aligned emission IS the automaton
      // (spec-checked against the independent row NFA)
      case _ => cand
    }
    kept.select(col("grp") +: col("seg") +: measureCols: _*)
  }

  /** PATTERN (A | B | …): compile each alternative over the SAME run
    * grain (Spark's exchange reuse dedups the shared grain subplan),
    * union, and keep per anchor run the FIRST alternative in
    * declaration order — the SQL:2016 preference rule. The output
    * carries CLASSIFIER() as `classifier`. Sound for 2-step
    * alternating alternatives with one head direction (see the
    * class doc); the requires state that bound. */
  private[graft] def compileAlternation(daily: DataFrame,
      alts: Seq[(String, PatternSpec)]): DataFrame = {
    require(alts.size >= 2, "alternation needs at least two alternatives")
    val names = alts.head._2.measures.map(_._1)
    require(alts.forall(_._2.measures.map(_._1) == names),
      "alternatives must declare the same measure names")
    alts.foreach { case (label, spec) =>
      require(spec.steps.size == 2 && spec.skip == SkipPastLastRow &&
        spec.defines.isEmpty && spec.steps.forall(_.max.isEmpty),
        s"alternative $label: alternation supports 2-step unbounded " +
          "define-free alternatives (anchor runs 2+ apart ⇒ no " +
          "cross-alternative overlap; k≥3 would need a cross-" +
          "alternative greedy pass)")
    }
    require(alts.map(_._2.steps.head.dir).distinct.size == 1,
      "alternatives must share a head direction (one anchor-run family)")
    val branches = alts.zipWithIndex.map { case ((label, spec), i) =>
      compileKept(daily, spec)
        .withColumn("classifier", lit(label)).withColumn("_alt", lit(i))
    }
    val w = Window.partitionBy("grp", "seg").orderBy("_alt")
    branches.reduce(_ unionByName _)
      .withColumn("_rk", row_number().over(w))
      .filter(col("_rk") === 1)
      .select(col("grp") +: names.map(col) :+ col("classifier"): _*)
      .orderBy("grp", "start_day")
  }

  /** AFTER MATCH SKIP PAST LAST ROW where candidates can overlap: the
    * greedy scan keeps a candidate iff it starts ≥ k runs past the
    * last KEPT one — sequential by definition, but sequential only
    * WITHIN a series, and a series' candidates are run-grain-sparse
    * (the corpus collapsed to the daily grain long before). So the
    * selection is ONE aggregate() fold over each group's sorted
    * candidate positions — a single grp-keyed exchange and a
    * left-semi join back, no iterative jobs at all. This replaced an
    * r13 pointer-doubling orbit (jump(c) = min candidate ≥ seg+k,
    * O(log matches) checkpointed join rounds): algorithmically
    * scale-proof but 3.9 s of driver round-trips on a frame the fold
    * handles in one job (sibling W key: 0.5 s). Bound, stated
    * honestly: the fold holds ONE group's candidate seg list in a
    * task — candidates are bounded by the series' run count, which
    * this key's daily grain caps at the calendar; a series family
    * whose per-group candidate list outgrew a task would shard the
    * fold at ≥k-apart cut points (independent sub-folds stitch
    * exactly) or fall back to the doubling orbit. The DuckDB oracle
    * walks the SAME semantics via jump pointers in a recursive CTE —
    * an independent formulation, which is the point. */
  private def greedySelect(cand: DataFrame, k: Int): DataFrame = {
    val kept = cand.groupBy("grp")
      .agg(sort_array(collect_list(col("seg"))).as("segs"))
      .select(col("grp"), explode(expr(
        s"""aggregate(segs,
           |  struct(cast(${Long.MinValue / 2}L as bigint) as last,
           |         cast(array() as array<bigint>) as acc),
           |  (st, s) -> if(s >= st.last + $k,
           |    struct(s as last, array_append(st.acc, s) as acc), st),
           |  st -> st.acc)""".stripMargin)).as("seg"))
    cand.join(kept, Seq("grp", "seg"), "left_semi")
  }

  /** The pattern TABLE — every MATCH_RECOGNIZE key as a declaration.
    * Measures are data too: FIRST/LAST/len/delta projections over the
    * step accessors, compiled with the pattern. */
  private[graft] val vPattern = PatternSpec(
    steps = Seq(RunStep(-1, minRun), RunStep(1, minRun)),
    skip = SkipPastLastRow,
    measures = Seq(
      "start_day" -> (s => s.d0(0)),
      "trough_day" -> (s => s.d1(0)),
      "end_day" -> (s => s.d1(1)),
      "down_len" -> (s => s.n(0)),
      "up_len" -> (s => s.n(1)),
      "depth_cents" -> (s => s.startPrevV(0) - s.endV(0)),
      "recovery_cents" -> (s => s.endV(1) - s.endV(0))))

  private[graft] def wPattern(m: Int, n: Int) = PatternSpec(
    steps = Seq(RunStep(-1, m), RunStep(1, n), RunStep(-1, m),
      RunStep(1, n)),
    skip = SkipToFirst(2),
    measures = Seq(
      "start_day" -> (s => s.d0(0)),
      "trough1_day" -> (s => s.d1(0)),
      "mid_day" -> (s => s.d1(1)),
      "trough2_day" -> (s => s.d1(2)),
      "end_day" -> (s => s.d1(3)),
      "down1_len" -> (s => s.n(0)),
      "up1_len" -> (s => s.n(1)),
      "down2_len" -> (s => s.n(2)),
      "up2_len" -> (s => s.n(3)),
      "depth1_cents" -> (s => s.startPrevV(0) - s.endV(0)),
      "depth2_cents" -> (s => s.endV(1) - s.endV(2)),
      "recovery_cents" -> (s => s.endV(3) - s.endV(2))))

  /** Head-and-shoulders-ish asymmetric double-dip: a hard fall, any
    * rebound, any second dip, then a sustained recovery — with the
    * NON-vacuous SKIP PAST LAST ROW (candidates two runs apart must
    * be greedily thinned). */
  private[graft] val hsPattern = PatternSpec(
    steps = Seq(RunStep(-1, 2), RunStep(1, 1), RunStep(-1, 1),
      RunStep(1, 2)),
    skip = SkipPastLastRow,
    measures = Seq(
      "start_day" -> (s => s.d0(0)),
      "trough1_day" -> (s => s.d1(0)),
      "mid_day" -> (s => s.d1(1)),
      "trough2_day" -> (s => s.d1(2)),
      "end_day" -> (s => s.d1(3)),
      "down1_len" -> (s => s.n(0)),
      "up1_len" -> (s => s.n(1)),
      "down2_len" -> (s => s.n(2)),
      "up2_len" -> (s => s.n(3)),
      "depth1_cents" -> (s => s.startPrevV(0) - s.endV(0)),
      "depth2_cents" -> (s => s.endV(1) - s.endV(2)),
      "recovery_cents" -> (s => s.endV(3) - s.endV(2))))

  /** V-shape with SQL:2016 DEFINE clauses: DOWN AS the fall is ≥5% of
    * its local peak (20·depth ≥ peak, exact integer form), UP AS the
    * rebound recovers at least half the measured fall. The second
    * define gets EASIER as the start slides down the run (smaller
    * measured fall) — the non-suffix-monotone case that forces the
    * compiler's mid-run rescue to be exact, not run-aligned. */
  private[graft] val definePattern = PatternSpec(
    steps = Seq(RunStep(-1, 2), RunStep(1, 2)),
    skip = SkipPastLastRow,
    measures = Seq(
      "start_day" -> (s => s.d0(0)),
      "trough_day" -> (s => s.d1(0)),
      "end_day" -> (s => s.d1(1)),
      "down_len" -> (s => s.n(0)),
      "up_len" -> (s => s.n(1)),
      "depth_cents" -> (s => s.startPrevV(0) - s.endV(0)),
      "recovery_cents" -> (s => s.endV(1) - s.endV(0))),
    defines = Seq(
      s => (s.startPrevV(0) - s.endV(0)) * 20 >= s.startPrevV(0),
      s => (s.endV(1) - s.endV(0)) * 2 >= s.startPrevV(0) - s.endV(0)))

  /** Bounded quantifiers: PATTERN (DOWN{2,3} UP{1,2}) — a short sharp
    * sell-off answered by at most two rebound days. Exercises BOTH
    * consumption caps: the bounded first step aligns to the falling
    * run's suffix, the bounded last step cuts the rebound run's
    * prefix (the match can end mid-run). */
  private[graft] val quantPattern = PatternSpec(
    steps = Seq(RunStep(-1, 2, Some(3)), RunStep(1, 1, Some(2))),
    skip = SkipPastLastRow,
    measures = Seq(
      "start_day" -> (s => s.d0(0)),
      "trough_day" -> (s => s.d1(0)),
      "end_day" -> (s => s.d1(1)),
      "down_len" -> (s => s.n(0)),
      "up_len" -> (s => s.n(1)),
      "depth_cents" -> (s => s.startPrevV(0) - s.endV(0)),
      "recovery_cents" -> (s => s.endV(1) - s.endV(0))))

  /** PATTERN (DEEP_V | CLIFF): a moderate fall with a sustained
    * recovery, OR a long fall with any rebound at all. The regions
    * overlap (DOWN≥5 ∧ UP≥3 matches both) so the declaration-order
    * preference does real work — overlapping starts classify as
    * deep_v. */
  private[graft] val altPatterns: Seq[(String, PatternSpec)] = {
    def v(m: Int, n: Int) = PatternSpec(
      steps = Seq(RunStep(-1, m), RunStep(1, n)),
      skip = SkipPastLastRow,
      measures = vPattern.measures)
    Seq("deep_v" -> v(3, 3), "cliff" -> v(5, 1))
  }

  /** The V/W/HS compilations over ANY (grp, day, v) series frame —
    * thin table lookups kept as named functions for the specs. */
  private[graft] def matchRuns(daily: DataFrame): DataFrame =
    compilePattern(daily, vPattern)

  private[graft] def wRuns(daily: DataFrame, m: Int, n: Int): DataFrame =
    compilePattern(daily, wPattern(m, n))

  private[graft] def hsRuns(daily: DataFrame): DataFrame =
    compilePattern(daily, hsPattern)

  /** The shared CTE chain down to the run grain — ONE copy of the
    * classification text so no two oracles can diverge on what a run
    * is (the §4 mirrored-tree discipline). The rich variant adds the
    * per-run ordered day/value arrays, mirroring runGrain(rich). */
  private def runsCteBase(rich: Boolean): String = {
    val arrays = if (rich)
      ",\n      |    LIST(day ORDER BY day) AS days, LIST(v ORDER BY day) AS vals"
        .stripMargin
    else ""
    s"""WITH daily AS (
      |  SELECT o_orderpriority AS grp, CAST(o_orderdate AS DATE) AS day,
      |         CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)) AS BIGINT) AS v
      |  FROM orders GROUP BY 1, 2),
      |cls AS (
      |  SELECT grp, day, v,
      |    LAG(v) OVER w AS pv,
      |    CASE WHEN v > LAG(v) OVER w THEN 1
      |         WHEN v < LAG(v) OVER w THEN -1 ELSE 0 END AS dir
      |  FROM daily WINDOW w AS (PARTITION BY grp ORDER BY day)),
      |marked AS (
      |  SELECT grp, day, v, pv, dir,
      |    CASE WHEN LAG(dir) OVER w IS NULL OR dir <> LAG(dir) OVER w
      |         THEN 1 ELSE 0 END AS chg
      |  FROM cls WHERE pv IS NOT NULL
      |  WINDOW w AS (PARTITION BY grp ORDER BY day)),
      |seg AS (
      |  SELECT grp, day, v, pv, dir,
      |    SUM(chg) OVER (PARTITION BY grp ORDER BY day
      |                   ROWS UNBOUNDED PRECEDING) AS seg
      |  FROM marked),
      |runs AS (
      |  SELECT grp, seg, MIN(dir) AS dir, MIN(day) AS d0, MAX(day) AS d1,
      |    COUNT(*) AS n, MIN_BY(pv, day) AS start_prev_v,
      |    MAX_BY(v, day) AS end_v$arrays
      |  FROM seg GROUP BY grp, seg)""".stripMargin
  }

  private val runsCte: String = runsCteBase(rich = false)
  private val richRunsCte: String = runsCteBase(rich = true)

  val qMatchRecognizeSql: String =
    s"""$runsCte
       |SELECT a.grp, a.d0 AS start_day, a.d1 AS trough_day, b.d1 AS end_day,
       |  a.n AS down_len, b.n AS up_len,
       |  a.start_prev_v - a.end_v AS depth_cents,
       |  b.end_v - a.end_v AS recovery_cents
       |FROM runs a JOIN runs b ON a.grp = b.grp AND b.seg = a.seg + 1
       |WHERE a.dir = -1 AND b.dir = 1
       |  AND a.n >= $minRun AND b.n >= $minRun
       |ORDER BY a.grp, start_day""".stripMargin

  val qMatchWSql: String =
    s"""$runsCte,
       |sel AS (
       |  SELECT grp, seg, dir, d0, d1, n, start_prev_v, end_v,
       |    LEAD(dir, 1) OVER w AS dir1, LEAD(n, 1) OVER w AS n1,
       |    LEAD(d1, 1) OVER w AS mid_d1, LEAD(end_v, 1) OVER w AS mid_v,
       |    LEAD(dir, 2) OVER w AS dir2, LEAD(n, 2) OVER w AS n2,
       |    LEAD(d1, 2) OVER w AS t2_d1, LEAD(end_v, 2) OVER w AS t2_v,
       |    LEAD(dir, 3) OVER w AS dir3, LEAD(n, 3) OVER w AS n3,
       |    LEAD(d1, 3) OVER w AS e_d1, LEAD(end_v, 3) OVER w AS e_v
       |  FROM runs WINDOW w AS (PARTITION BY grp ORDER BY seg))
       |SELECT grp, d0 AS start_day, d1 AS trough1_day, mid_d1 AS mid_day,
       |  t2_d1 AS trough2_day, e_d1 AS end_day,
       |  n AS down1_len, n1 AS up1_len, n2 AS down2_len, n3 AS up2_len,
       |  start_prev_v - end_v AS depth1_cents,
       |  mid_v - t2_v AS depth2_cents,
       |  e_v - t2_v AS recovery_cents
       |FROM sel
       |WHERE dir = -1 AND dir1 = 1 AND dir2 = -1 AND dir3 = 1
       |  AND n >= $wMinRun AND n1 >= $wMinRun
       |  AND n2 >= $wMinRun AND n3 >= $wMinRun
       |ORDER BY grp, start_day""".stripMargin

  /** HS oracle: same lead chain at the asymmetric quantifiers, then
    * the GREEDY SKIP PAST LAST ROW selection as a recursive CTE —
    * DuckDB walks the identical jump pointers (min candidate ≥ seg+4
    * via the same RANGE window frame) from each group's first
    * candidate; the engine's per-group aggregate() fold must keep
    * exactly the rows this walk visits. The run-grain/lead/jump chain
    * nests inside the `cand` CTE as a derived table: DuckDB's WITH
    * RECURSIVE flattens named-window scopes across the top-level CTE
    * list (runsCte's two `WINDOW w` clauses would collide), and a
    * nested WITH keeps its own scope. */
  val qMatchHsSql: String =
    s"""WITH RECURSIVE cand AS (
       |  SELECT * FROM (
       |$runsCte,
       |sel AS (
       |  SELECT grp, seg, dir, d0, d1, n, start_prev_v, end_v,
       |    LEAD(dir, 1) OVER w AS dir1, LEAD(n, 1) OVER w AS n1,
       |    LEAD(d1, 1) OVER w AS mid_d1, LEAD(end_v, 1) OVER w AS mid_v,
       |    LEAD(dir, 2) OVER w AS dir2, LEAD(n, 2) OVER w AS n2,
       |    LEAD(d1, 2) OVER w AS t2_d1, LEAD(end_v, 2) OVER w AS t2_v,
       |    LEAD(dir, 3) OVER w AS dir3, LEAD(n, 3) OVER w AS n3,
       |    LEAD(d1, 3) OVER w AS e_d1, LEAD(end_v, 3) OVER w AS e_v
       |  FROM runs WINDOW w AS (PARTITION BY grp ORDER BY seg))
       |SELECT *,
       |    MIN(seg) OVER (PARTITION BY grp ORDER BY seg
       |      RANGE BETWEEN 4 FOLLOWING AND UNBOUNDED FOLLOWING) AS jump
       |  FROM sel
       |  WHERE dir = -1 AND dir1 = 1 AND dir2 = -1 AND dir3 = 1
       |    AND n >= 2 AND n1 >= 1 AND n2 >= 1 AND n3 >= 2)),
       |kept AS (
       |  SELECT grp, seg FROM (
       |    SELECT grp, MIN(seg) AS seg FROM cand GROUP BY grp)
       |  UNION ALL
       |  SELECT c.grp, c.jump AS seg
       |  FROM kept k JOIN cand c ON c.grp = k.grp AND c.seg = k.seg
       |  WHERE c.jump IS NOT NULL)
       |SELECT c.grp, d0 AS start_day, d1 AS trough1_day, mid_d1 AS mid_day,
       |  t2_d1 AS trough2_day, e_d1 AS end_day,
       |  n AS down1_len, n1 AS up1_len, n2 AS down2_len, n3 AS up2_len,
       |  start_prev_v - end_v AS depth1_cents,
       |  mid_v - t2_v AS depth2_cents,
       |  e_v - t2_v AS recovery_cents
       |FROM cand c JOIN kept USING (grp, seg)
       |ORDER BY c.grp, start_day""".stripMargin

  /** DEFINE oracle: the rich runs chain, then per structurally-
    * matching run pair the SAME minimum-offset rescue as a DuckDB
    * list lambda — range(1, n) is the 1-based start positions whose
    * suffix keeps ≥2 rows, pv(s) the value just before position s. */
  val qMatchDefineSql: String =
    s"""$richRunsCte,
       |sel AS (
       |  SELECT grp, seg, dir, d0, d1, n, start_prev_v, end_v, days, vals,
       |    LEAD(dir, 1) OVER w AS dir1, LEAD(n, 1) OVER w AS n1,
       |    LEAD(d1, 1) OVER w AS up_d1, LEAD(end_v, 1) OVER w AS up_v
       |  FROM runs WINDOW w AS (PARTITION BY grp ORDER BY seg)),
       |resc AS (
       |  SELECT *,
       |    LIST_MIN(LIST_FILTER(RANGE(1, CAST(n AS INT)), s ->
       |      ((CASE WHEN s = 1 THEN start_prev_v ELSE vals[CAST(s AS INT) - 1] END) - end_v) * 20
       |        >= (CASE WHEN s = 1 THEN start_prev_v ELSE vals[CAST(s AS INT) - 1] END)
       |      AND (up_v - end_v) * 2
       |        >= (CASE WHEN s = 1 THEN start_prev_v ELSE vals[CAST(s AS INT) - 1] END) - end_v)) AS s0
       |  FROM sel
       |  WHERE dir = -1 AND dir1 = 1 AND n >= 2 AND n1 >= 2)
       |SELECT grp, days[CAST(s0 AS INT)] AS start_day, d1 AS trough_day,
       |  up_d1 AS end_day, n - s0 + 1 AS down_len, n1 AS up_len,
       |  (CASE WHEN s0 = 1 THEN start_prev_v ELSE vals[CAST(s0 AS INT) - 1] END) - end_v AS depth_cents,
       |  up_v - end_v AS recovery_cents
       |FROM resc WHERE s0 IS NOT NULL
       |ORDER BY grp, start_day""".stripMargin

  /** Bounded-quantifier oracle: suffix/prefix consumption as list
    * indexing over the rich runs chain — start at position
    * n−min(n,3)+1 of the falling run, end at position min(n1,2) of
    * the rebound run. */
  val qMatchQuantSql: String =
    s"""$richRunsCte,
       |sel AS (
       |  SELECT grp, seg, dir, d0, d1, n, start_prev_v, end_v, days, vals,
       |    LEAD(dir, 1) OVER w AS dir1, LEAD(n, 1) OVER w AS n1,
       |    LEAD(days, 1) OVER w AS days1, LEAD(vals, 1) OVER w AS vals1
       |  FROM runs WINDOW w AS (PARTITION BY grp ORDER BY seg))
       |SELECT grp,
       |  days[CAST(n - LEAST(n, 3) + 1 AS INT)] AS start_day,
       |  d1 AS trough_day,
       |  days1[CAST(LEAST(n1, 2) AS INT)] AS end_day,
       |  LEAST(n, 3) AS down_len, LEAST(n1, 2) AS up_len,
       |  (CASE WHEN n <= 3 THEN start_prev_v ELSE vals[CAST(n - 3 AS INT)] END) - end_v AS depth_cents,
       |  vals1[CAST(LEAST(n1, 2) AS INT)] - end_v AS recovery_cents
       |FROM sel
       |WHERE dir = -1 AND dir1 = 1 AND n >= 2 AND n1 >= 1
       |ORDER BY grp, start_day""".stripMargin

  /** Alternation oracle: both branch filters over one lead chain,
    * UNION ALL, then the declaration-order preference per anchor run
    * as a QUALIFY row_number — the relational mirror of "try
    * alternatives left to right at each start". */
  val qMatchAltSql: String =
    s"""$runsCte,
       |sel AS (
       |  SELECT grp, seg, dir, d0, d1, n, start_prev_v, end_v,
       |    LEAD(dir, 1) OVER w AS dir1, LEAD(n, 1) OVER w AS n1,
       |    LEAD(d1, 1) OVER w AS up_d1, LEAD(end_v, 1) OVER w AS up_v
       |  FROM runs WINDOW w AS (PARTITION BY grp ORDER BY seg)),
       |cand AS (
       |  SELECT grp, seg, d0 AS start_day, d1 AS trough_day,
       |    up_d1 AS end_day, n AS down_len, n1 AS up_len,
       |    start_prev_v - end_v AS depth_cents,
       |    up_v - end_v AS recovery_cents,
       |    'deep_v' AS classifier, 1 AS alt
       |  FROM sel WHERE dir = -1 AND dir1 = 1 AND n >= 3 AND n1 >= 3
       |  UNION ALL
       |  SELECT grp, seg, d0, d1, up_d1, n, n1,
       |    start_prev_v - end_v, up_v - end_v, 'cliff', 2
       |  FROM sel WHERE dir = -1 AND dir1 = 1 AND n >= 5 AND n1 >= 1)
       |SELECT grp, start_day, trough_day, end_day, down_len, up_len,
       |  depth_cents, recovery_cents, classifier
       |FROM cand
       |QUALIFY ROW_NUMBER() OVER (PARTITION BY grp, seg ORDER BY alt) = 1
       |ORDER BY grp, start_day""".stripMargin

  val keys: Seq[Key] = Seq(
    Key("q_match_recognize", qMatchRecognize, Oracle(qMatchRecognizeSql)),
    Key("q_match_w", qMatchW, Oracle(qMatchWSql)),
    Key("q_match_hs", qMatchHs, Oracle(qMatchHsSql)),
    Key("q_match_define", qMatchDefine, Oracle(qMatchDefineSql)),
    Key("q_match_quant", qMatchQuant, Oracle(qMatchQuantSql)),
    Key("q_match_alt", qMatchAlt, Oracle(qMatchAltSql)))

  val queries: Map[String, Key.Run] = Key.queries(keys)
}
