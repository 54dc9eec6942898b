package graft.cube

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Query-log-driven cuboid recommendation (reference: core-cube
  * cuboid/algorithm/CuboidRecommendAlgorithm.java + its greedy
  * GreedyAlgorithm — Kylin picks the materialized cuboid set from
  * query statistics instead of materializing the 2^d lattice).
  *
  * graft's version: candidates are the dim sets the query log actually
  * needs (each query's exact set is its ideal cuboid) plus pairwise
  * unions (one cuboid serving two query shapes); per-candidate row
  * counts are estimated in ONE aggregation pass over the flat table
  * (approx_count_distinct of the dim tuple — Kylin samples HLL
  * counters the same way); then a classic greedy benefit loop picks
  * cuboids until the budget is spent or no candidate improves expected
  * query cost (rows scanned by the smallest covering cuboid, summed
  * over the log).
  */
object CuboidPlanner {

  /** Estimated row count per candidate cuboid, over `flat` (candidates
    * must be non-empty dim sets). Candidates are CHUNKED so one
    * aggregation row never carries hundreds of HLL buffers (each is a
    * KB-scale sketch; an unbounded row would bloat the agg buffer and
    * the driver result) — tens of counters per pass keeps each pass a
    * plain one-row hash aggregate. */
  val EstimateChunk = 32

  def estimateRows(flat: DataFrame,
                   candidates: Seq[Set[String]]): Map[Set[String], Long] = {
    candidates.distinct.grouped(EstimateChunk).flatMap { chunk =>
      val aggs = chunk.zipWithIndex.map { case (c, i) =>
        approx_count_distinct(struct(c.toSeq.sorted.map(col): _*)).as(s"c$i")
      }
      val row = flat.agg(aggs.head, aggs.tail: _*).head()
      chunk.zipWithIndex.map { case (c, i) => c -> row.getLong(i) }
    }.toMap
  }

  /** Per-SEGMENT estimates, summed. Cuboids materialize one dir per
    * segment (`build`/`optimizeCuboids`), so a candidate's planned
    * rows is the per-segment sum — a single estimate over the unioned
    * segments would dedup values shared across segments and undercount
    * by up to the segment count, both blowing the row budget in
    * practice and (on a replan) biasing the greedy toward candidates
    * over the existing layouts priced at their OBSERVED per-segment
    * sums. */
  def estimateRowsBySegment(segs: Seq[DataFrame],
      candidates: Seq[Set[String]]): Map[Set[String], Long] =
    segs.map(estimateRows(_, candidates))
      .foldLeft(Map.empty[Set[String], Long]) { (acc, m) =>
        m.foldLeft(acc) { case (a, (k, v)) =>
          a + (k -> (a.getOrElse(k, 0L) + v))
        }
      }

  /** Shapes + their pairwise unions, kept to proper sub-lattice
    * members (⊆ base, never the base itself) — the one candidate
    * expansion rule shared by the log-driven planners. */
  private def expandCandidates(shapes: Seq[Set[String]],
                               base: Set[String]): Seq[Set[String]] = {
    val distinctShapes = shapes.distinct
    val unions = (for {
      a <- distinctShapes; b <- distinctShapes if a != b
      u = a ++ b
    } yield u).distinct
    (distinctShapes ++ unions)
      .filter(c => c.nonEmpty && c.subsetOf(base) && c != base).distinct
  }

  /** Greedy selection: start from the base cuboid (mandatory — it
    * rebuilds everything else), repeatedly add the candidate with the
    * largest positive benefit = reduction in Σ over the log of
    * rows(smallest materialized cuboid covering the query). */
  def recommend(base: Set[String],
                rows: Map[Set[String], Long],
                queryLog: Seq[Set[String]],
                maxCuboids: Int): Seq[Set[String]] = {
    require(rows.contains(base), "row estimate for the base cuboid required")
    // a query no materialized cuboid covers (not ⊆ base) costs a base
    // scan — it must not crash the planner (ADVICE r5: .min on empty)
    def answerCost(mat: Seq[Set[String]], q: Set[String]): Long = {
      val covering = mat.filter(q.subsetOf(_))
      if (covering.isEmpty) rows(base) else covering.map(rows).min
    }
    def totalCost(mat: Seq[Set[String]]): Long =
      queryLog.map(q => answerCost(mat, q)).sum

    var chosen = Vector(base)
    var candidates = rows.keySet - base
    var improved = true
    while (chosen.size < maxCuboids && improved && candidates.nonEmpty) {
      val cur = totalCost(chosen)
      val scored = candidates.toSeq
        .map(c => c -> (cur - totalCost(chosen :+ c)))
      val (best, benefit) = scored.maxBy { case (c, b) => (b, -rows(c)) }
      if (benefit > 0) {
        chosen :+= best
        candidates -= best
      } else improved = false
    }
    chosen
  }

  /** End-to-end: log → candidates (query sets + pairwise unions that
    * are strictly smaller than the base) → estimates → greedy pick. */
  def recommendFromLog(flat: DataFrame, base: Set[String],
                       queryLog: Seq[Set[String]],
                       maxCuboids: Int): Seq[Set[String]] = {
    val needed = queryLog.filter(_.nonEmpty).distinct
    val cands = expandCandidates(needed, base) :+ base
    val rows = estimateRows(flat, cands)
    recommend(base, rows, queryLog.filter(_.nonEmpty), maxCuboids)
  }

  /** Σ over `workload` of the rows scanned by the smallest
    * materialized cuboid covering each query (base-scan cost when
    * nothing covers) — the planner's objective, exposed so strawman
    * lattices can be compared in specs and ops tooling. */
  def workloadCost(materialized: Seq[Set[String]],
                   rows: Map[Set[String], Long], base: Set[String],
                   workload: Seq[Set[String]]): Long = {
    def one(q: Set[String]): Long = {
      val covering = materialized.filter(q.subsetOf(_))
      if (covering.isEmpty) rows(base) else covering.map(rows).min
    }
    workload.map(one).sum
  }

  /** NO-WORKLOAD initial lattice under a space budget (VERDICT r15
    * item 5; reference: core-cube/cuboid/algorithm/CuboidStats.java +
    * BPUSCalculator.java — the cube planner's phase-1 pick from build
    * STATISTICS alone, before any query history exists). With no log,
    * the candidate space itself stands in for a uniform query
    * distribution (every candidate shape is an equally likely query —
    * the BPUS assumption), and the greedy picks the candidate with the
    * highest BENEFIT PER ROW (cost reduction across the distribution,
    * divided by the cuboid's own estimated rows — benefit per unit
    * space) while total planned rows, base included, stay within
    * `rowBudget`. The base cuboid is mandatory (it rebuilds everything
    * else), even when it alone exceeds the budget. */
  def selectUnderBudget(base: Set[String], rows: Map[Set[String], Long],
                        rowBudget: Long): Seq[Set[String]] =
    selectLattice(base, rows, rowBudget,
      rows.keySet.toSeq.map(_ -> 1.0))

  /** Workload-weighted scan cost of a materialized set — the ONE
    * objective the greedy and genetic selections share. `observed`
    * (the SPBPUS policy — reference SPBPUSCalculator.java:36-39
    * overrides getCuboidCost to CuboidStats.getCuboidQueryCost, the
    * scan count query history actually measured, where BPUS/PBPUS
    * price by estimated row count) FLOORS each shape's current cost
    * at its measured serving cost: a shape the live lattice already
    * answers cheaply — segment/shard/dim-range pruning a whole-cuboid
    * row estimate cannot see — draws no benefit from a new cuboid
    * that cannot beat the measurement, so the budget flows to shapes
    * that are measurably expensive. An empty map is exactly PBPUS. */
  private def workloadScanCost(base: Set[String],
      rows: Map[Set[String], Long],
      workload: Seq[(Set[String], Double)],
      observed: Map[Set[String], Double])(mat: Seq[Set[String]]): Double =
    workload.map { case (q, w) =>
      val covering = mat.filter(q.subsetOf(_))
      val est = if (covering.isEmpty) rows(base).toDouble
                else covering.map(rows).min.toDouble
      w * observed.get(q).fold(est)(math.min(est, _))
    }.sum

  /** The PROBABILITY-WEIGHTED budget greedy (reference:
    * PBPUSCalculator.java — benefit per unit space where each
    * descendant's cost saving is scaled by its observed hit
    * probability, vs BPUSCalculator's uniform assumption). `workload`
    * carries (query shape, weight); `mandatory` seeds the chosen set
    * beyond the base — on a phase-2 REPLAN these are the cuboids
    * already materialized, so their rows count against the budget and
    * shapes they already answer cheaply contribute no benefit (the
    * greedy never re-picks a near-duplicate of an existing layout).
    * Mandatory cuboids are kept even when they alone exceed the
    * budget — they exist; the budget gates additions only.
    * `observed` switches the cost baseline to the SPBPUS policy
    * ([[workloadScanCost]]). */
  def selectUnderBudgetWeighted(base: Set[String],
      rows: Map[Set[String], Long], rowBudget: Long,
      workload: Seq[(Set[String], Double)],
      mandatory: Seq[Set[String]] = Nil,
      observed: Map[Set[String], Double] = Map.empty): Seq[Set[String]] = {
    require(rows.contains(base), "row estimate for the base cuboid required")
    require(mandatory.forall(rows.contains),
      "row estimates for mandatory cuboids required")
    val cost = workloadScanCost(base, rows, workload, observed) _
    var chosen = (base +: mandatory.toVector).distinct
    var spent = chosen.map(rows).sum
    var cands = rows.keySet -- chosen
    var improved = true
    while (improved && cands.nonEmpty) {
      val affordable = cands.toSeq.filter(c => spent + rows(c) <= rowBudget)
      val cur = cost(chosen)
      val scored = affordable.map { c =>
        c -> (cur - cost(chosen :+ c))
      }.filter(_._2 > 0)
      if (scored.isEmpty) improved = false
      else {
        val (best, _) = scored.maxBy { case (c, b) =>
          (b / math.max(1L, rows(c)), -rows(c).toDouble)
        }
        chosen :+= best
        spent += rows(best)
        cands -= best
      }
    }
    chosen
  }

  /** GENETIC lattice selection for LARGE candidate spaces (reference:
    * core-cube/cuboid/algorithm/generic/GeneticAlgorithm.java +
    * BitsChromosome — Kylin's alternative to the greedy when the
    * candidate space is too large for the O(picks × candidates ×
    * workload) greedy loop to search well). Same contract as
    * [[selectUnderBudgetWeighted]]: base + mandatory always chosen,
    * additions within `rowBudget`, fitness = the workload-weighted
    * scan cost the pick leaves behind (lower is better).
    *
    * Shape mirrors the reference: a population of candidate-subset
    * chromosomes, tournament selection, uniform crossover, per-gene
    * mutation, elite carry-over, fixed generations. Two deliberate
    * divergences: (1) infeasible individuals are REPAIRED (drop the
    * worst benefit-per-row genes until within budget) instead of
    * penalty-scored — every individual in every generation is a
    * valid deployment; (2) the initial population SEEDS the greedy's
    * own pick, so the GA's answer can never be worse than the greedy
    * it replaces. Deterministic: the RNG seed derives from the inputs,
    * so a replan re-run picks the same lattice (the same property the
    * rest of the planner machinery leans on for idempotent reruns). */
  def selectUnderBudgetGA(base: Set[String],
      rows: Map[Set[String], Long], rowBudget: Long,
      workload: Seq[(Set[String], Double)],
      mandatory: Seq[Set[String]] = Nil,
      population: Int = 24, generations: Int = 60,
      observed: Map[Set[String], Double] = Map.empty): Seq[Set[String]] = {
    require(rows.contains(base), "row estimate for the base cuboid required")
    require(mandatory.forall(rows.contains),
      "row estimates for mandatory cuboids required")
    val fixed = (base +: mandatory.toVector).distinct
    val genes: Vector[Set[String]] =
      (rows.keySet -- fixed).toVector.sortBy(c => (rows(c), c.toSeq.sorted
        .mkString(","))) // stable gene order → stable seeds
    if (genes.isEmpty) return fixed
    val fixedSpent = fixed.map(rows).sum
    val cost = workloadScanCost(base, rows, workload, observed) _
    // benefit-per-row of a single gene against the FIXED set — the
    // repair order (drop worst first) and the seeding bias
    val fixedCost = cost(fixed)
    val soloBpr: Map[Int, Double] = genes.indices.map { i =>
      i -> (fixedCost - cost(fixed :+ genes(i))) /
        math.max(1L, rows(genes(i))).toDouble
    }.toMap
    type Chrom = Vector[Boolean]
    def spent(c: Chrom): Long =
      fixedSpent + genes.indices.collect { case i if c(i) => rows(genes(i)) }.sum
    def repair(c0: Chrom): Chrom = {
      var c = c0
      while (spent(c) > rowBudget && c.contains(true)) {
        val worst = genes.indices.filter(c)
          .minBy(i => (soloBpr(i), -rows(genes(i)).toDouble))
        c = c.updated(worst, false)
      }
      c
    }
    def picked(c: Chrom): Seq[Set[String]] =
      fixed ++ genes.indices.collect { case i if c(i) => genes(i) }
    def fitness(c: Chrom): Double = -cost(picked(c))
    val rng = new scala.util.Random(
      (genes.map(_.toSeq.sorted.mkString(",")).mkString(";"),
        rowBudget, workload.size).hashCode.toLong)
    // seed: the greedy's own answer + random subsets
    val greedyPick = selectUnderBudgetWeighted(base, rows, rowBudget,
      workload, mandatory, observed).toSet
    val seed: Chrom = genes.map(greedyPick.contains)
    var pop: Vector[Chrom] = seed +: Vector.fill(population - 1) {
      repair(genes.map(_ => rng.nextDouble() < 0.5).toVector)
    }
    def tournament(): Chrom = {
      val a = pop(rng.nextInt(pop.size)); val b = pop(rng.nextInt(pop.size))
      if (fitness(a) >= fitness(b)) a else b
    }
    (1 to generations).foreach { _ =>
      val elite = pop.maxBy(fitness)
      pop = elite +: Vector.fill(population - 1) {
        val (p1, p2) = (tournament(), tournament())
        val crossed = genes.indices
          .map(i => if (rng.nextBoolean()) p1(i) else p2(i)).toVector
        repair(crossed.map(g =>
          if (rng.nextDouble() < 1.0 / genes.size) !g else g))
      }
    }
    picked(pop.maxBy(fitness))
  }

  /** Candidate-count threshold above which [[selectLattice]] dispatches
    * to the genetic search (reference: CuboidRecommendAlgorithm picks
    * the GA for large spaces, the greedy otherwise). Below it the
    * greedy explores the space nearly exhaustively anyway and costs a
    * fraction of a GA run. */
  val GaCandidateThreshold = 64

  /** THE budget-selection seam every planner entry point routes
    * through: the probability-weighted greedy for ordinary candidate
    * spaces, the genetic search (greedy-seeded, so never worse) when
    * the space outgrows what the greedy searches well. A non-empty
    * `observed` (measured per-shape scan costs) selects the SPBPUS
    * cost baseline in either engine ([[workloadScanCost]]). */
  def selectLattice(base: Set[String], rows: Map[Set[String], Long],
      rowBudget: Long, workload: Seq[(Set[String], Double)],
      mandatory: Seq[Set[String]] = Nil,
      observed: Map[Set[String], Double] = Map.empty): Seq[Set[String]] =
    // candidate count = estimated cuboids NOT already fixed (set
    // subtraction, not size arithmetic — a mandatory entry missing
    // from `rows` must not skew the threshold)
    if ((rows.keySet -- (base +: mandatory)).size > GaCandidateThreshold)
      selectUnderBudgetGA(base, rows, rowBudget, workload, mandatory,
        observed = observed)
    else
      selectUnderBudgetWeighted(base, rows, rowBudget, workload,
        mandatory, observed)

  /** End-to-end log-free entry: one estimation pass per SEGMENT over
    * the rule-expanded candidates (planned rows are per-segment sums —
    * the unit the budget and the build both live in), then the
    * budgeted benefit-per-row greedy. The declared-cube path
    * (`initialLattice` in the cube document) calls this at first-build
    * time with the just-built base cuboid's per-segment frames. */
  def recommendFromStats(segs: Seq[DataFrame], base: Set[String],
                         candidates: Seq[Set[String]],
                         rowBudget: Long,
                         baseRows: Option[Long] = None): Seq[Set[String]] = {
    val cands = (candidates.filter(c => c.nonEmpty && c.subsetOf(base))
      :+ base).distinct
    // when the caller knows the base's OBSERVED rows (the build just
    // counted them), seed the map with the exact figure instead of
    // re-estimating: the budget was resolved against the observed
    // count, and a few-percent HLL error on the base would distort
    // the effective expansion rate (and can flip admit/deny at the
    // margin) — it also saves one estimation pass over the base
    val toEstimate = if (baseRows.isDefined) cands.filterNot(_ == base)
                     else cands
    val rows = estimateRowsBySegment(segs, toEstimate) ++
      baseRows.map(base -> _)
    selectUnderBudget(base, rows, rowBudget)
  }

  /** Model-evolution advice from ROUTING MISSES (the other half of the
    * reference Cube Planner's query-history diet: routed shapes tune
    * the cuboid set above, PUSHDOWN shapes are the evidence the model
    * itself is missing a dimension). Input is the served record's
    * miss shapes — `QueryLog.missesOf(QueryLog.recentRows, cube)` in
    * this JVM, `QueryLog.missSets` across restarts; output is each unmatched
    * dim ranked by demand. The remedy is deliberately NOT automated —
    * adding a rowkey dim is a CubeDef change plus rebuild, an operator
    * decision — which is why this surfaces advice instead of feeding
    * `recommend` (an unmatched dim can never be materialized by cuboid
    * choice alone). */
  def adviseModel(misses: Seq[(Set[String], Set[String])])
    : Seq[(String, Int)] =
    misses.flatMap(_._2).groupBy(identity).view.mapValues(_.size)
      .toSeq.sortBy { case (d, n) => (-n, d) }

  /** Close the planner loop ACROSS RESTARTS: the workload sample comes
    * from the parquet QueryLog a previous process persisted
    * (reference: the cube planner "phase 2" feeds on externally
    * reported query metrics, metrics-reporter-* modules) rather than
    * this JVM's in-memory ring (`QueryLog.recent`). */
  def recommendFromStore(spark: org.apache.spark.sql.SparkSession,
                         logDir: String, flat: DataFrame,
                         base: Set[String], cube: String,
                         maxCuboids: Int): Seq[Set[String]] =
    recommendFromLog(flat, base,
      QueryLog.dimSets(spark, logDir, cube), maxCuboids)

  /** Phase-2 REPLAN of a live cube under a row budget (reference:
    * PBPUSCalculator.java + CuboidRecommender.java — the cube
    * planner's steady-state form: hit PROBABILITIES from the query
    * history weight each shape's cost saving, existing layouts are
    * the cost baseline, and the space budget caps the total). `log` is
    * the already-read routed multiset (`QueryLog.dimSets` — each
    * routed query one probability sample; one read serves both this
    * and the caller's reporting); `baseSegs` are the live base
    * cuboid's PER-SEGMENT parquet frames for candidate estimation
    * (per-segment pass, summed — additions materialize one dir per
    * segment), BY-NAME and only evaluated when there are fresh
    * candidates to estimate; `existing` carries the materialized
    * cuboids at their OBSERVED row counts (no estimate can disagree
    * with parquet that already exists — both budget sides share the
    * per-segment-sum unit). Returns the full materialized set
    * (existing ++ additions); the caller diffs against `existing` and
    * feeds `CubeBuilder.optimizeCuboids`. An empty/unusable log
    * returns the existing lattice unchanged — and opens no parquet. */
  def replanFromLog(baseSegs: => Seq[DataFrame], base: Set[String],
                    log: Seq[Set[String]], rowBudget: Long,
                    existing: Map[Set[String], Long],
                    observed: Map[Set[String], Double] = Map.empty)
      : Seq[Set[String]] = {
    require(existing.contains(base),
      "existing must carry the base cuboid's observed rows")
    val usable = log.filter(s => s.nonEmpty && s.subsetOf(base))
    if (usable.isEmpty) return (base +: existing.keys.toSeq).distinct
    val total = usable.size.toDouble
    val weighted = usable.groupBy(identity).toSeq
      .map { case (s, hits) => s -> hits.size / total }
    val fresh = expandCandidates(weighted.map(_._1), base)
      .filterNot(existing.contains)
    val rows = (if (fresh.isEmpty) Map.empty[Set[String], Long]
                else estimateRowsBySegment(baseSegs, fresh)) ++ existing
    selectLattice(base, rows, rowBudget, weighted,
      existing.keys.toSeq,
      // shapes outside the cube's answerable space never reach the
      // objective; dropping them here keeps the map aligned with
      // `weighted`
      observed.filter { case (q, _) => q.nonEmpty && q.subsetOf(base) })
  }
}
