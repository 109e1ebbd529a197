package graft.core

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Temporal join operators Spark's DataFrame API lacks natively — the
  * as-of join and the bounded range join — each re-expressed as
  * shuffle-bounded compositions of builtin operators (no
  * BroadcastNestedLoop, no theta join, no per-row driver logic).
  */
object Temporal {

  /** FLOOR-division bin expression in exact Long arithmetic — shared by
    * [[rangePairs]] and [[intervalOverlapPairs]] so the subtle
    * negative-micros correction lives once. `div` truncates toward
    * zero, so pre-1970 (negative unix_micros) values would bin one
    * slot too high and pairs straddling the epoch could be dropped or
    * duplicated; floordiv(n, g) = (n div g) - (n % g < 0 ? 1 : 0)
    * avoids double rounding at |us| > 2^53 too.
    */
  private def floorBinExpr(c: String, gapUs: Long): String =
    s"($c div ${gapUs}L) - (CASE WHEN $c % ${gapUs}L < 0 THEN 1 ELSE 0 END)"

  /** As-of join: attach to every left row the payload of the LATEST
    * right row with `right.ts <= left.ts` within the same partition
    * keys (the trades-to-quotes join; here: each event to the most
    * recent prior state row). Left rows with no prior right row keep
    * null payloads — ASOF LEFT semantics. The classic face of
    * [[asofJoinDirected]] (backward, no tolerance); mechanism, scale
    * shape and contracts are documented there.
    */
  def asofJoin(left: DataFrame, right: DataFrame,
               partitionCols: Seq[String], tsCol: String,
               payloadCols: Seq[String]): DataFrame =
    asofJoinDirected(left, right, partitionCols, tsCol, payloadCols,
      AsofDirection.Backward, None)

  /** Cohort retention matrix: entities grouped by the week of their
    * FIRST event (the cohort), counted distinct per whole-week offset
    * of later activity — the (cohort week, week offset, active count)
    * triangle behind every retention chart. Week truncation is
    * ISO-Monday on both engines; the offset is an exact integer
    * (day-difference of two week-truncated dates div 7).
    *
    * Shape: one min-aggregate for first events, one distinct over
    * (entity, week) — both partial/final on the entity key — a join on
    * entity, and the final (cohort, offset) count-distinct. At scale
    * the count-distinct shuffle carries (cohort, offset, entity) rows,
    * bounded by active entity-weeks, not raw events.
    */
  def cohortRetention(events: DataFrame, entityCol: String,
                      tsCol: String): DataFrame = {
    val firsts = events.groupBy(col(entityCol))
      .agg(date_trunc("week", min(col(tsCol))).cast("date").as("cohort"))
    val active = events
      .select(col(entityCol),
        date_trunc("week", col(tsCol)).cast("date").as("_wk"))
      .distinct()
    active.join(firsts, Seq(entityCol))
      .withColumn("week_offset",
        expr("datediff(_wk, cohort) div 7").cast("long"))
      .groupBy(col("cohort"), col("week_offset"))
      .agg(count_distinct(col(entityCol)).as("n_active"))
  }

  /** Stepwise funnel analysis: for each entity, the first step-1 event,
    * then the first step-2 event within `windowSeconds` at-or-after it,
    * then the first step-3 after THAT, and so on. One row per entity
    * that reached step 1: the step timestamps (`t1..tn`, null from the
    * first broken step onward — later steps cannot out-run an earlier
    * break by construction) and `reached`, the number of completed
    * steps. The sequence operator (MATCH_RECOGNIZE's common case)
    * Spark has no builtin for.
    *
    * Shape: one filtered min-aggregate per step plus an equi join on
    * the entity key with the time-window residual — never a theta-only
    * join (the range rides on the entity equi join), never a
    * collect_list of the raw event stream (unbounded per entity — the
    * bot-user hazard). Step count is typically 3-5, so the chain is a
    * handful of narrow shuffles on the same key.
    */
  def funnel(events: DataFrame, entityCol: String, tsCol: String,
             stepCol: String, steps: Seq[String],
             windowSeconds: Long): DataFrame = {
    require(steps.size >= 2, "a funnel needs at least 2 steps")
    // the at-or-after (>=) chain lets ONE event satisfy two consecutive
    // identical steps (a single 'view' completes a view->view funnel) —
    // forbid duplicate step names instead of silently over-counting
    require(steps.distinct.size == steps.size,
      s"funnel steps must be distinct (>= chaining would let one event " +
        s"satisfy consecutive equal steps): $steps")
    val windowUs = windowSeconds * 1000000L
    val first = events.filter(col(stepCol) === steps.head)
      .groupBy(col(entityCol)).agg(min(col(tsCol)).as("t1"))
    val chained = steps.tail.zipWithIndex.foldLeft(first) {
      case (acc, (step, i)) =>
        val prev = s"t${i + 1}"
        val cur = s"t${i + 2}"
        val nxt = events.filter(col(stepCol) === step)
          .select(col(entityCol).as("_e"), col(tsCol).as("_ts"))
        val carried = acc.columns.map(col)
        acc.join(nxt,
            col(entityCol) === col("_e") &&
              unix_micros(col("_ts")) >= unix_micros(col(prev)) &&
              unix_micros(col("_ts")) <= unix_micros(col(prev)) + windowUs,
            "left")
          .groupBy(carried: _*)
          .agg(min(col("_ts")).as(cur))
    }
    val reached = (2 to steps.size)
      .map(i => when(col(s"t$i").isNotNull, 1L).otherwise(0L))
      .foldLeft(lit(1L))(_ + _)
    chained.withColumn("reached", reached)
  }

  /** MATCH_RECOGNIZE-style ordered-sequence extraction with NEGATION —
    * the temporal query class [[funnel]] can't express: "A then B then C,
    * WITHOUT X between A and B, all within W of the first A".
    *
    * Semantics (deterministic, greedy-chain):
    *  - `t1` = each entity's FIRST `steps(0)` event;
    *  - `t{i+1}` = the first `steps(i)` event STRICTLY after `t_i` and
    *    within `windowSeconds` of `t1` (overall window, the
    *    MATCH_RECOGNIZE `WITHIN` clause — [[funnel]] keeps the per-gap
    *    window, so the two operators complement each other);
    *  - gap `i` (between `t_i` and `t_{i+1}`) with an entry in
    *    `negations` BREAKS if any banned-type event falls STRICTLY
    *    between the two timestamps; a broken gap nulls `t_{i+1}` and,
    *    by propagation, every later step.
    *
    * These are FIRST-MATCH (greedy) semantics — the deterministic
    * single-pass rule funnel tools use: your current chain is the one
    * that counts, and a banned event interrupting IT breaks the match.
    * For a negation on the FIRST gap greedy is provably exhaustive
    * (the earliest step-2 candidate is clean iff any is, since a banned
    * event before it precedes every later candidate too — PropertySpec
    * asserts greedy ≡ existential there). For negations on LATER gaps
    * greedy is deliberately NOT existential: choosing the earliest t2
    * widens the (t2, t3) negation window, so a pattern like a@0 b@1 x@3
    * b@5 c@10 with "no x between b and c" reports broken even though
    * the (b@5, c@10) chain is clean — TemporalSpec pins this case.
    * Full MATCH_RECOGNIZE backtracking would need per-entity automaton
    * state, which the streaming face ([[graft.streaming.SequenceStream]])
    * shares; both faces and the DuckDB oracle implement the SAME
    * first-match rule, so the three stay in exact agreement.
    *
    * Output: one row per entity that has a step-1 event — `t1..tn`,
    * `reached` (completed step count), `matched` (reached == n).
    *
    * Scale shape: identical to [[funnel]] — one filtered min-aggregate
    * per step plus per-gap negation probes, every join an equi join on
    * the entity key with the range as residual; no collect_list, no
    * theta-only join. `maxEventsPerEntity` is the bot cap (same prefix
    * semantics as Sessionize.capUserEvents, (ts, step) order): a
    * million-event bot contributes a bounded slice to every stage.
    */
  def sequenceMatch(events: DataFrame, entityCol: String, tsCol: String,
                    stepCol: String, steps: Seq[String],
                    windowSeconds: Long,
                    negations: Map[Int, Seq[String]] = Map.empty,
                    maxEventsPerEntity: Option[Int] = None): DataFrame = {
    require(steps.size >= 2, "a sequence needs at least 2 steps")
    require(negations.keySet.forall(g => g >= 1 && g < steps.size),
      s"negation gaps must be in [1, ${steps.size - 1}]")
    val tsType = events.schema(tsCol).dataType
    val relevantTypes = (steps ++ negations.values.flatten).distinct
    val relevant0 = events
      .filter(col(stepCol).isin(relevantTypes: _*))
      .select(col(entityCol), col(tsCol), col(stepCol))
    val relevant = maxEventsPerEntity.fold(relevant0) { cap =>
      val w = Window.partitionBy(col(entityCol))
        .orderBy(col(tsCol).asc, col(stepCol).asc)
      relevant0.withColumn("_rn", row_number().over(w))
        .filter(col("_rn") <= cap).drop("_rn")
    }
    val windowUs = windowSeconds * 1000000L
    val first = relevant.filter(col(stepCol) === steps.head)
      .groupBy(col(entityCol)).agg(min(col(tsCol)).as("t1"))
    val chained = steps.tail.zipWithIndex.foldLeft(first) {
      case (acc, (step, i)) =>
        val prev = s"t${i + 1}"
        val cur = s"t${i + 2}"
        val cand = relevant.filter(col(stepCol) === step)
          .select(col(entityCol).as("_e"), col(tsCol).as("_ts"))
        val carried = acc.columns.map(col)
        val stepped = acc.join(cand,
            col(entityCol) === col("_e") &&
              unix_micros(col("_ts")) > unix_micros(col(prev)) &&
              unix_micros(col("_ts")) <= unix_micros(col("t1")) + windowUs,
            "left")
          .groupBy(carried: _*)
          .agg(min(col("_ts")).as(cur))
        negations.get(i + 1).fold(stepped) { banned =>
          val neg = relevant.filter(col(stepCol).isin(banned: _*))
            .select(col(entityCol).as("_ne"), col(tsCol).as("_nts"))
          val carried2 = stepped.columns.map(col)
          stepped.join(neg,
              col(entityCol) === col("_ne") &&
                unix_micros(col("_nts")) > unix_micros(col(prev)) &&
                unix_micros(col("_nts")) < unix_micros(col(cur)),
              "left")
            .groupBy(carried2: _*)
            .agg(count(col("_nts")).as("_nneg"))
            .withColumn(cur,
              when(col("_nneg") > 0, lit(null).cast(tsType))
                .otherwise(col(cur)))
            .drop("_nneg")
        }
    }
    val reached = (2 to steps.size)
      .map(i => when(col(s"t$i").isNotNull, 1L).otherwise(0L))
      .foldLeft(lit(1L))(_ + _)
    chained.withColumn("reached", reached)
      .withColumn("matched", col("reached") === lit(steps.size.toLong))
  }

  /** Bounded range join as an EQUI join: pairs (left, right) sharing
    * the partition keys with `0 < right.ts - left.ts <= gapSeconds`,
    * returned as narrow id pairs plus the exact gap in microseconds.
    *
    * Mechanism: quantize time into gap-sized bins; a right row within
    * (0, gap] of a left row lands in the left row's bin or the next
    * one, so the left side fans out to exactly two candidate bins
    * (explode), the join keys on (partition, bin) — a plain shuffled
    * equi join Catalyst can plan (sort-merge/shuffled-hash, AQE skew
    * splitting applies) — and the exact range predicate filters the
    * candidates. Bins partition the right side, so each true pair is
    * produced exactly ONCE: no dedup shuffle afterwards.
    *
    * The naive formulation (theta join on the range predicate alone)
    * plans as BroadcastNestedLoopJoin — quadratic work and a broadcast
    * of a corpus-sized side; this shape is linear in candidates with
    * candidate count ≈ pair density × gap. Choose gapSeconds as the
    * SEMANTIC bound; sub-binning only helps when gap ≫ median
    * inter-event spacing (then most candidates fail the filter).
    */
  def rangePairs(left: DataFrame, right: DataFrame,
                 partitionCols: Seq[String], tsCol: String,
                 idColL: String, idColR: String,
                 gapSeconds: Long): DataFrame = {
    require(gapSeconds > 0, "gapSeconds must be positive")
    val gapUs = gapSeconds * 1000000L
    def floorBin(c: String) = floorBinExpr(c, gapUs)
    val lBinned = left.select(
      partitionCols.map(col) :+
        col(idColL) :+ unix_micros(col(tsCol)).as("_lus"): _*)
      .withColumn("_bin",
        explode(array(expr(floorBin("_lus")),
          expr(s"${floorBin("_lus")} + 1L"))))
    val rBinned = right.select(
      partitionCols.map(col) :+
        col(idColR) :+ unix_micros(col(tsCol)).as("_rus"): _*)
      .withColumn("_bin", expr(floorBin("_rus")))
    lBinned.join(rBinned, partitionCols :+ "_bin")
      .filter(col("_rus") > col("_lus") &&
        col("_rus") <= col("_lus") + gapUs)
      .select(partitionCols.map(col) :+ col(idColL) :+ col(idColR) :+
        (col("_rus") - col("_lus")).as("gap_us"): _*)
  }

  /** Interval OVERLAP join: pairs of half-open intervals [s, e) on the
    * same keys that intersect (`s1 < e2 AND s2 < e1`) — the
    * generalization of [[rangePairs]] from points to durations
    * (sessions × incidents, visits × outages). The naive theta form
    * plans BroadcastNestedLoop; here each interval explodes over the
    * time bins it covers, candidates form by EQUI join on (keys, bin),
    * and each true pair is emitted exactly ONCE from its canonical bin
    * — the bin containing the overlap's start (max of the two starts),
    * which both intervals necessarily cover. No dedup shuffle.
    *
    * Inputs: both frames carry (`idCol`, `startCol`, `endCol`) named
    * per side + the key columns; timestamps compare in exact micros.
    * `binSeconds` sizes the explode: an interval covers
    * len/binSeconds + 1 bins, so set it near the typical interval
    * length — the [[rangePairs]] sizing rule.
    */
  def intervalOverlapPairs(left: DataFrame, right: DataFrame,
                           partitionCols: Seq[String],
                           idColL: String, startColL: String, endColL: String,
                           idColR: String, startColR: String, endColR: String,
                           binSeconds: Long): DataFrame = {
    require(binSeconds > 0, "binSeconds must be positive")
    val g = binSeconds * 1000000L
    def floorBin(c: String) = floorBinExpr(c, g)
    def binned(df: DataFrame, id: String, s: String, e: String,
               su: String, eu: String) =
      df.select(partitionCols.map(col) :+ col(id) :+
          unix_micros(col(s)).as(su) :+ unix_micros(col(e)).as(eu): _*)
        .filter(col(eu) > col(su)) // empty/negative intervals drop
        .withColumn("_bin", explode(sequence(
          expr(floorBin(su)), expr(floorBin(eu)))))
    val l = binned(left, idColL, startColL, endColL, "_s1", "_e1")
    val r = binned(right, idColR, startColR, endColR, "_s2", "_e2")
    l.join(r, partitionCols :+ "_bin")
      .filter(col("_s1") < col("_e2") && col("_s2") < col("_e1"))
      .filter(expr(floorBin("greatest(_s1, _s2)")) === col("_bin"))
      .select(partitionCols.map(col) :+ col(idColL) :+ col(idColR) :+
        (least(col("_e1"), col("_e2")) -
          greatest(col("_s1"), col("_s2"))).as("overlap_us"): _*)
  }

  /** Slowly-changing-dimension Type-2 build: collapse an event-time
    * attribute stream into validity intervals — one row per (entity,
    * attribute run) with `eff_from` (first ts of the run), `eff_to`
    * (start of the next run, NULL on the open run) and `is_current`.
    * The standard warehouse dimension shape (Kimball SCD2), derived
    * here from raw events rather than maintained by per-row UPDATEs.
    *
    * Mechanism: lag() over (entity ORDER BY ts, id) marks rows where
    * the attribute IS DISTINCT FROM its predecessor (null-safe, so a
    * null attribute forms its own run); an entity's FIRST row always
    * starts a run explicitly — lag()'s no-predecessor NULL would
    * otherwise compare <=>-equal to a null attribute and silently drop
    * the entity's initial null-validity interval (or the whole entity,
    * when the attribute is null throughout); the surviving change rows get
    * lead(ts) as the interval end and row_number as the version
    * ordinal. Both windows share the entity partition key, so Catalyst
    * plans ONE Exchange — the filter between them keeps the
    * partitioning, only the within-partition sort is re-run on the
    * (much smaller) change set. Per-entity data never has to fit in
    * memory: windows stream.
    */
  def scd2(events: DataFrame, entityCol: String, tsCol: String,
           idCol: String, attrCol: String): DataFrame = {
    val w = Window.partitionBy(col(entityCol)).orderBy(col(tsCol), col(idCol))
    val changes = events
      .select(col(entityCol), col(tsCol), col(idCol), col(attrCol))
      .withColumn("_prev", lag(col(attrCol), 1).over(w))
      .withColumn("_first", row_number().over(w) === 1)
      .filter(col("_first") || !(col("_prev") <=> col(attrCol)))
    val w2 = Window.partitionBy(col(entityCol)).orderBy(col(tsCol), col(idCol))
    changes.select(
      col(entityCol),
      col(attrCol),
      row_number().over(w2).as("version"),
      col(tsCol).as("eff_from"),
      lead(col(tsCol), 1).over(w2).as("eff_to"),
      lead(col(tsCol), 1).over(w2).isNull.as("is_current"))
  }

  /** Per-entity time-weighted average of an irregularly-sampled value:
    * each observation is weighted by how long it was CURRENT
    * (piecewise-constant hold until the next event), i.e.
    * `Σ v_i·(t_{i+1}−t_i) / (t_n−t_1)`. The plain mean over-weights
    * bursts; this is the standard telemetry/financial fix.
    *
    * Cross-engine determinism: double summation is order-dependent, so
    * the accumulation runs over EXACT integers — value in millis
    * (`round(v·1000)`, exact for sensor-style 2-decimal values ≤ ~9e9)
    * times the hold duration in micros — and the single IEEE divide
    * happens once per entity at the end, making results bit-identical
    * across engines regardless of shuffle order. Overflow headroom:
    * span_us · v_millis must stay < 2^63 per entity (≈ 10⁶-unit values
    * held over ~290 years); callers outside that envelope should
    * rescale. Single-event entities (zero span) fall back to the plain
    * value. One window (lead) + one aggregate, both on the entity key —
    * one Exchange.
    */
  def timeWeightedAvg(events: DataFrame, entityCol: String, tsCol: String,
                      idCol: String, valueCol: String): DataFrame = {
    val w = Window.partitionBy(col(entityCol)).orderBy(col("_tus"), col(idCol))
    events
      .select(col(entityCol),
        unix_micros(col(tsCol)).as("_tus"),
        col(idCol),
        round(col(valueCol).cast("double") * 1000).cast("long").as("_vmillis"))
      .withColumn("_dur_us", lead(col("_tus"), 1).over(w) - col("_tus"))
      .groupBy(col(entityCol))
      .agg(
        sum(when(col("_dur_us").isNotNull, col("_vmillis") * col("_dur_us"))
          .otherwise(lit(0L))).as("_num"),
        (max(col("_tus")) - min(col("_tus"))).as("_span_us"),
        count(lit(1)).as("n_events"),
        sum(col("_vmillis")).as("_vsum"))
      .select(col(entityCol),
        col("n_events"),
        when(col("_span_us") > 0,
          col("_num") / lit(1000.0) / col("_span_us"))
          .otherwise(col("_vsum") / (lit(1000.0) * col("n_events"))).as("twa"))
  }

  /** Per-entity inter-arrival statistics: gap (event-to-event delay)
    * count, min, max in exact integer MICROS plus the interpolated
    * median — the heartbeat profile behind bot detection, SLA
    * monitoring, and sessionization-gap tuning. Entities with a single
    * event have no gaps and don't appear. One window (lag over the
    * entity's time order) + one aggregate, both on the entity key —
    * a shared Exchange.
    */
  def interArrival(events: DataFrame, entityCol: String, tsCol: String,
                   idCol: String): DataFrame = {
    val w = Window.partitionBy(col(entityCol))
      .orderBy(col("_tus"), col(idCol))
    events
      .select(col(entityCol), unix_micros(col(tsCol)).as("_tus"), col(idCol))
      .withColumn("gap", col("_tus") - lag(col("_tus"), 1).over(w))
      .filter(col("gap").isNotNull)
      .groupBy(col(entityCol))
      .agg(count(lit(1)).as("n_gaps"),
        min("gap").as("gap_min"), max("gap").as("gap_max"),
        round(percentile(col("gap"), lit(0.5)), 4).as("gap_median"))
  }

  // public: encoder codegen (SpecificSafeProjection) cannot construct
  // private classes
  final case class FixedIn(entity: String, id: Long, tus: Long, vmillis: Long)
  final case class EwmaFixedOut(entity: String, id: Long, tus: Long,
                                vmillis: Long, ewma_millis: Long)
  final case class CusumFixedOut(entity: String, id: Long, tus: Long,
                                 vmillis: Long, cusum_hi: Long, cusum_lo: Long,
                                 alarm: Boolean)

  /** The shared execution of the fixed-point recurrences: values
    * scaled to millis (`round(v·1000)`, exact for 2-decimal telemetry),
    * one groupByKey shuffle on the entity, then an O(n log n) in-memory
    * sort by (time, id) per entity handed to the O(n) `scan`. A
    * recurrence's every output depends on the ENTIRE prefix, so no
    * fixed window frame captures it. Per-entity history must fit one
    * task — the same contract as the sessionize/sequence family; apply
    * `Sessionize.capUserEvents` upstream for bot-tail entities. Entity
    * keys travel as strings — lossless for numeric ids, same contract
    * as SequenceStream.
    */
  private def scanEntities[T: Encoder](events: DataFrame, entityCol: String,
                                       tsCol: String, idCol: String,
                                       valueCol: String)(
      scan: Array[FixedIn] => Iterator[T]): Dataset[T] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.select(
        col(entityCol).cast("string").as("entity"),
        col(idCol).cast("long").as("id"),
        unix_micros(col(tsCol)).as("tus"),
        round(col(valueCol).cast("double") * 1000).cast("long").as("vmillis"))
      .as[FixedIn]
      .groupByKey(_.entity)
      .flatMapGroups((_, it) => scan(it.toArray.sortBy(e => (e.tus, e.id))))
  }

  /** Per-entity exponentially weighted moving average over the
    * event-time-ordered stream, in exact integer fixed-point: the
    * α=num/den recurrence kept in Longs with one truncating division
    * per step, seeded with the first value:
    *
    *   e_i = (num·v_i + (den−num)·e_{i−1}) div den
    *
    * Every step is integer arithmetic, so the result is BIT-IDENTICAL
    * across engines and hash-compares against its oracle (a double
    * recurrence accumulates engine-specific rounding; same trick as
    * [[timeWeightedAvg]]). Envelope: non-negative values (trunc ==
    * floor, matching SQL `//`), and den·v_millis < 2^63. Execution:
    * [[scanEntities]].
    */
  def ewmaFixed(events: DataFrame, entityCol: String, tsCol: String,
                idCol: String, valueCol: String,
                alphaNum: Long = 2L, alphaDen: Long = 10L): DataFrame = {
    require(alphaNum > 0 && alphaNum <= alphaDen, "need 0 < num <= den")
    val spark = events.sparkSession
    import spark.implicits._
    scanEntities(events, entityCol, tsCol, idCol, valueCol) { evs =>
      // explicit seeded flag, NOT an acc<0 sentinel: with negative
      // values the sentinel re-seeds at every step and the "ewma"
      // silently echoes the raw series
      var seeded = false
      var acc = 0L
      evs.iterator.map { e =>
        acc = if (!seeded) { seeded = true; e.vmillis }
              else (alphaNum * e.vmillis + (alphaDen - alphaNum) * acc) / alphaDen
        EwmaFixedOut(e.entity, e.id, e.tus, e.vmillis, acc)
      }
    }.toDF(entityCol, idCol, "tus", "vmillis", "ewma_millis")
  }

  /** Tabular CUSUM changepoint detection (Page 1954), per entity: the
    * classic one-sided cumulative sums
    *
    *   hi ← max(0, hi + (x − target − slack))
    *   lo ← max(0, lo + (target − x − slack))
    *
    * with `alarm` once either side exceeds `threshold` — detects a
    * sustained mean shift of ≳ slack long before any fixed-window
    * average moves. Values/target/slack/threshold are in millis and the
    * recurrences are pure Long add-and-clamp — no division at all, so
    * cross-engine bit-identical. Execution: [[scanEntities]].
    */
  def cusumFixed(events: DataFrame, entityCol: String, tsCol: String,
                 idCol: String, valueCol: String, targetMillis: Long,
                 slackMillis: Long, thresholdMillis: Long): DataFrame = {
    require(slackMillis >= 0 && thresholdMillis > 0, "slack >= 0, threshold > 0")
    val spark = events.sparkSession
    import spark.implicits._
    scanEntities(events, entityCol, tsCol, idCol, valueCol) { evs =>
      var hi = 0L
      var lo = 0L
      evs.iterator.map { e =>
        hi = math.max(0L, hi + (e.vmillis - targetMillis - slackMillis))
        lo = math.max(0L, lo + (targetMillis - e.vmillis - slackMillis))
        CusumFixedOut(e.entity, e.id, e.tus, e.vmillis, hi, lo,
          hi > thresholdMillis || lo > thresholdMillis)
      }
    }.toDF(entityCol, idCol, "tus", "vmillis", "cusum_hi", "cusum_lo", "alarm")
  }

  /** Calendar resample with gap-fill: per entity, daily (count, sum)
    * buckets from the entity's FIRST to LAST active day, with silent
    * days ZERO-filled — the regular-grid precondition for any
    * downstream time-series model (a missing bucket and a zero bucket
    * mean different things; this op makes the difference explicit).
    *
    * The calendar is generated per entity with `sequence(first, last)`
    * — bounded by each entity's own span, never a global calendar
    * cross join — and left-joins the day-level PRE-AGGREGATED frame
    * (the raw stream collapses to one row per (entity, day) before the
    * gap-fill touches it, so a hot entity costs its day count, not its
    * event count). Output: (entityCol, day, n_events, sum_value).
    */
  def resampleDaily(events: DataFrame, entityCol: String, tsCol: String,
                    valueCol: String): DataFrame = {
    val agg = events
      .select(col(entityCol), to_date(col(tsCol)).as("day"),
        col(valueCol).cast("double").as("_v"))
      .groupBy(col(entityCol), col("day"))
      .agg(count(lit(1)).as("n_events"), sum("_v").as("sum_value"))
    val cal = agg.groupBy(col(entityCol))
      .agg(min("day").as("_d0"), max("day").as("_d1"))
      .select(col(entityCol),
        explode(sequence(col("_d0"), col("_d1"))).as("day"))
    cal.join(agg, Seq(entityCol, "day"), "left")
      .select(col(entityCol), col("day"),
        coalesce(col("n_events"), lit(0L)).as("n_events"),
        coalesce(col("sum_value"), lit(0.0)).as("sum_value"))
  }

  /** Last-observation-carried-forward: fill each null in `valueCols`
    * with the latest preceding non-null value inside the entity's
    * `orderCol` order — the step-function read of a sparse metric over
    * a [[resampleDaily]] grid (leading nulls stay null: nothing to
    * carry). Each column fills independently (LOCF semantics — unlike
    * as-of payloads, the columns are separate sparse series, not one
    * row). One window per call; all fills share its sort.
    */
  def locf(df: DataFrame, entityCol: String, orderCol: String,
           valueCols: Seq[String], tieCol: Option[String] = None): DataFrame = {
    // tieCol makes fills deterministic when (entity, orderCol) has
    // duplicate rows — without it, which duplicate "wins" depends on
    // the unstable within-tie sort (every sibling window op here takes
    // an explicit tiebreak; pass one whenever orderCol can repeat)
    val ord = col(orderCol) +: tieCol.map(col).toSeq
    val w = Window.partitionBy(col(entityCol)).orderBy(ord: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    valueCols.foldLeft(df) { (acc, c) =>
      acc.withColumn(c, last(col(c), ignoreNulls = true).over(w))
    }
  }

  /** Trailing-window distinct actives (the DAU/WAU/MAU family): for
    * every calendar day present in the data, the count of distinct
    * entities active in the trailing `windowDays` days (inclusive).
    *
    * Shape: the stream collapses to distinct (day, entity) FIRST; each
    * such row then explodes into the ≤`windowDays` report days it
    * contributes to — a bounded fan-out equi join, not a day-range
    * theta join — and a semi join against observed days drops the
    * phantom tail after the last activity. Exchange carries
    * (day, entity) pairs × windowDays, with the final count_distinct
    * partially aggregated per day.
    */
  def rollingActive(events: DataFrame, entityCol: String, tsCol: String,
                    windowDays: Int = 7): DataFrame = {
    require(windowDays >= 1, s"windowDays must be >= 1: $windowDays")
    val du = events
      .select(to_date(col(tsCol)).as("_aday"), col(entityCol))
      .distinct()
    val days = du.select(col("_aday").as("day")).distinct()
    du.select(
        explode(sequence(col("_aday"), date_add(col("_aday"), windowDays - 1)))
          .as("day"),
        col(entityCol))
      .join(days, Seq("day"), "left_semi")
      .groupBy("day")
      .agg(count_distinct(col(entityCol)).as("n_active"))
  }

  /** OHLC bars: per (entity, calendar bucket) the open / high / low /
    * close of a value stream plus event count — the time-series
    * downsampling behind every monitoring or market chart. Open/close
    * are exact `min_by`/`max_by` over (epoch-micros, orderCol) —
    * deterministic under timestamp ties — so the whole bar is ONE
    * partial/final aggregate on (entity, bucket): no window, no join,
    * map-side combine before the single exchange. (min_by with a
    * struct ordering key plans as SortAggregate — sort-based rather
    * than hashed, but still partial+final; PlanAuditSpec pins the
    * shape.)
    */
  def ohlcBars(events: DataFrame, entityCol: String, tsCol: String,
               valueCol: String, orderCol: String,
               bucket: String = "hour"): DataFrame = {
    val key = struct(unix_micros(col(tsCol)), col(orderCol))
    events
      .withColumn("bucket", date_trunc(bucket, col(tsCol)))
      .groupBy(col(entityCol), col("bucket"))
      .agg(
        min_by(col(valueCol), key).as("open"),
        max(col(valueCol)).as("high"),
        min(col(valueCol)).as("low"),
        max_by(col(valueCol), key).as("close"),
        count(lit(1)).as("n_events"))
  }

  /** Time-window event dedup (debounce): keep an event iff the previous
    * same-key event is more than `gapSeconds` older — the telemetry
    * duplicate-suppression rule, and exactly "first event of each
    * gap-session" (the lag rule and session-start rule coincide: a
    * session breaks precisely where the lag gap exceeds the threshold).
    * Same-timestamp duplicates collapse to the lowest `orderCol` (the
    * deterministic tiebreak). One window on the key partition — the
    * sessionize shuffle; skewed keys are the same hazard.
    */
  def dedupWithin(events: DataFrame, keyCols: Seq[String], tsCol: String,
                  orderCol: String, gapSeconds: Long): DataFrame = {
    require(gapSeconds >= 0, s"gapSeconds must be >= 0: $gapSeconds")
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(unix_micros(col(tsCol)).asc, col(orderCol).asc)
    events
      .withColumn("_prev", lag(unix_micros(col(tsCol)), 1).over(w))
      .filter(col("_prev").isNull ||
        unix_micros(col(tsCol)) - col("_prev") > lit(gapSeconds * 1000000L))
      .drop("_prev")
  }

  /** Match direction for [[asofJoinDirected]]. */
  sealed trait AsofDirection
  object AsofDirection {
    /** Newest right row with r.ts <= l.ts (the [[asofJoin]] default). */
    case object Backward extends AsofDirection
    /** Earliest right row with r.ts >= l.ts. */
    case object Forward extends AsofDirection
    /** Whichever of the two is closer in time; exact ties go BACKWARD
      * (the earlier row — deterministic and SQL-replayable). */
    case object Nearest extends AsofDirection
  }

  /** Directional/toleranced as-of join — the pandas `merge_asof`
    * surface (`direction='backward'|'forward'|'nearest'`, `tolerance`)
    * and the one as-of implementation ([[asofJoin]] is its backward,
    * untoleranced face).
    *
    * Mechanism: tag both sides, union by name, ONE window partitioned
    * by the keys and ordered by ts, and carry right payloads across
    * RANGE frames. Backward = `last(ignoreNulls)` over
    * (unboundedPreceding, currentRow); forward = `first(ignoreNulls)`
    * over (currentRow, unboundedFollowing). RANGE frames (not ROWS)
    * make ts ties inclusive in BOTH directions under one ordering, so
    * the two windows share a single Exchange + Sort — nearest costs the
    * same shuffle as either single direction, and a single direction
    * keeps only its own frame (unused window columns are pruned).
    *
    * The payload travels as ONE struct, not per-column: right rows wrap
    * `payloadCols` in a non-null struct (struct() is non-null even when
    * every field is), so a single `last`/`first(ignoreNulls)` picks one
    * right ROW atomically. Carrying columns independently would let a
    * null payload VALUE back-fill from an older right row — and
    * different columns from different rows — diverging from ASOF
    * semantics.
    *
    * Null timestamps follow SQL ASOF: a right row with a null ts never
    * matches (it is dropped before the union — its null ts sorts first,
    * so every backward frame of its key would reach it), and a left row
    * with a null ts keeps null payloads.
    *
    * `toleranceMicros` (if set) nulls the payload when the matched
    * row's |Δts| exceeds it — left rows are kept (LEFT semantics), the
    * match is just rejected. Deltas are exact integer micros, so the
    * tolerance gate and the nearest tie rule replay bit-for-bit in any
    * engine.
    *
    * Contracts: `tsCol` is a TIMESTAMP on both sides; right rows unique
    * per (partitionCols, tsCol) — pre-dedup with max_by/row_number;
    * payload names must not collide with left columns. An empty
    * `partitionCols` is a global as-of join (one window partition).
    * Scale shape: one shuffle on the partition keys
    * + linear in-partition scans — the same cost as any correct as-of
    * (merge-join engines sort both sides the same way), no join
    * explosion, no range predicate in a nested loop. Skewed keys (one
    * user holding a day's events) are the sessionize hazard; cap or
    * salt upstream the same way.
    */
  def asofJoinDirected(left: DataFrame, right: DataFrame,
                       partitionCols: Seq[String], tsCol: String,
                       payloadCols: Seq[String],
                       direction: AsofDirection,
                       toleranceMicros: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.types.StructType
    require(toleranceMicros.forall(_ >= 0), "tolerance must be non-negative")
    val leftOnly = left.columns.filterNot(payloadCols.contains(_))
    val payT = StructType(payloadCols.map(p => right.schema(p)))
    val l = left.select(
      leftOnly.map(col) :+
        lit(null).cast(payT).as("_asof_pay") :+
        lit(null).cast("long").as("_asof_rts") :+
        lit(1).as("_side"): _*)
    val r = right.filter(col(tsCol).isNotNull).select(
      leftOnly.map(c =>
        if (partitionCols.contains(c) || c == tsCol) col(c)
        else lit(null).cast(left.schema(c).dataType).as(c)) :+
        struct(payloadCols.map(col): _*).as("_asof_pay") :+
        unix_micros(col(tsCol)).as("_asof_rts") :+
        lit(0).as("_side"): _*)
    // both frames order by the ts ATTRIBUTE itself: an inlined
    // expression such as unix_micros(ts) in each frame's orderBy makes
    // two equal-but-distinct sort expressions, and EnsureRequirements
    // re-exchanges and re-sorts for the second Window
    val base = Window.partitionBy(partitionCols.map(col): _*)
      .orderBy(col(tsCol))
    val wb = base.rangeBetween(Window.unboundedPreceding, Window.currentRow)
    val wf = base.rangeBetween(Window.currentRow, Window.unboundedFollowing)
    val carried = l.unionByName(r)
      .select(col("*"),
        last(col("_asof_pay"), ignoreNulls = true).over(wb).as("_pb"),
        last(col("_asof_rts"), ignoreNulls = true).over(wb).as("_tb"),
        first(col("_asof_pay"), ignoreNulls = true).over(wf).as("_pf"),
        first(col("_asof_rts"), ignoreNulls = true).over(wf).as("_tf"))
      .filter(col("_side") === 1)
    val lts = unix_micros(col(tsCol))
    val (dBack, dFwd) = (lts - col("_tb"), col("_tf") - lts)
    val (pay, delta) = direction match {
      case AsofDirection.Backward => (col("_pb"), dBack)
      case AsofDirection.Forward  => (col("_pf"), dFwd)
      case AsofDirection.Nearest  =>
        val backWins = col("_pf").isNull || (col("_pb").isNotNull && dBack <= dFwd)
        (when(backWins, col("_pb")).otherwise(col("_pf")),
          when(backWins, dBack).otherwise(dFwd))
    }
    // a null left ts sorts first: the backward frame holds only null-ts
    // left rows, but the forward frame still reaches every right row
    val matched = toleranceMicros.fold(col(tsCol).isNotNull)(t => delta <= lit(t))
    carried.withColumn("_asof_sel", when(matched, pay))
      .select(leftOnly.map(col) ++
        payloadCols.map(p => col("_asof_sel")(p).as(p)): _*)
  }

  /** Classical additive seasonal decomposition of a per-entity daily
    * series: value = trend + seasonal + residual — the moving-average
    * scheme behind STL's ancestors (trend = centered MA, seasonal =
    * per-phase mean of the detrended series, residual = the rest), the
    * standard pre-step for calendar-aware anomaly detection (alarm on
    * residuals, not on Mondays being Mondays).
    *
    * Integer fixed-point throughout (the timeWeightedAvg contract):
    * per-event values land as ⌊value·scale⌋ longs, every mean is a
    * truncating integral division (`div` ≡ DuckDB `//` — both truncate
    * toward zero, negatives included), so the decomposition is
    * bit-identical on any engine and any partitioning; the exact
    * identity value_u = trend + seasonal + residual holds by
    * construction (residual is defined as the difference).
    *
    * Shape: daily aggregate (map-side combined) → per-entity zero-fill
    * calendar grid (resampleDaily's bounded explode) → ONE per-entity
    * rows-frame window for the centered MA (contiguous grid makes rows
    * ≡ range; edge frames shrink and divide by their true count) → a
    * per-(entity, phase) aggregate joined back on the grid keys. Phase
    * index is `epoch_day % period` — pure integer, no locale/dow-origin
    * pitfalls. Hot entity costs its day span, same as resampleDaily.
    *
    * Output: entity, day, value_u, trend, seasonal, residual (all
    * scaled longs).
    */
  def seasonalDecompose(events: DataFrame, entityCol: String, tsCol: String,
                        valueCol: String, period: Int = 7,
                        halfWindow: Int = 3,
                        scale: Long = 1000000L): DataFrame = {
    require(period >= 2, s"period must be >= 2: $period")
    require(halfWindow >= 1, s"halfWindow must be >= 1: $halfWindow")
    val agg = events
      .select(col(entityCol), to_date(col(tsCol)).as("day"),
        floor(col(valueCol) * scale).cast("long").as("_v"))
      .groupBy(col(entityCol), col("day")).agg(sum("_v").as("_sv"))
    val cal = agg.groupBy(col(entityCol))
      .agg(min("day").as("_d0"), max("day").as("_d1"))
      .select(col(entityCol),
        explode(sequence(col("_d0"), col("_d1"))).as("day"))
    val grid = cal.join(agg, Seq(entityCol, "day"), "left")
      .select(col(entityCol), col("day"),
        coalesce(col("_sv"), lit(0L)).as("value_u"))
    val w = Window.partitionBy(col(entityCol)).orderBy(col("day"))
      .rowsBetween(-halfWindow, halfWindow)
    val detrended = grid
      .withColumn("_wsum", sum("value_u").over(w))
      .withColumn("_wn", count(lit(1)).over(w))
      .withColumn("trend", expr("_wsum div _wn"))
      .withColumn("_det", col("value_u") - col("trend"))
      // pmod, not %: truncating % gives pre-1970 days NEGATIVE phases,
      // splitting each true weekday into two seasonal half-cohorts
      // (the floorBinExpr negative-epoch class)
      .withColumn("_phase",
        pmod(datediff(col("day"), lit("1970-01-01").cast("date"))
          .cast("long"), lit(period)))
    val seasonal = detrended
      .groupBy(col(entityCol), col("_phase"))
      .agg(sum("_det").as("_ssum"), count(lit(1)).as("_sn"))
      .select(col(entityCol), col("_phase"),
        expr("_ssum div _sn").as("seasonal"))
    detrended.join(seasonal, Seq(entityCol, "_phase"))
      .select(col(entityCol), col("day"), col("value_u"), col("trend"),
        col("seasonal"),
        (col("_det") - col("seasonal")).as("residual"))
  }

  /** Gaps-and-islands interval coalescing: merge each entity's
    * overlapping-or-touching [start, end] intervals into disjoint
    * islands — the exact-union interval algebra behind "total covered
    * time", overlapping-hold flattening, and downtime/gap reports
    * (the complement reads off lead(start) − end over the output).
    * The classic running-max formulation: an interval starts a new
    * island iff its start exceeds the running max end of everything
    * before it (ties/touching merge — [1,2] ∪ [2,3] is one island).
    *
    * Shape: both windows (running max, island counter) share one
    * per-entity sort — a single exchange, no self-join; the groupBy
    * collapses to one row per island. All comparisons on the caller's
    * own types (use epoch-micros longs for exactness). Output: entity,
    * island (1-based per entity), start, end, n_intervals.
    */
  def coalesceIntervals(iv: DataFrame, entityCol: String,
                        startCol: String, endCol: String): DataFrame = {
    val order = Seq(col(startCol), col(endCol))
    val wPrev = Window.partitionBy(col(entityCol)).orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, -1)
    val wCum = Window.partitionBy(col(entityCol)).orderBy(order: _*)
    iv.withColumn("_pm", max(col(endCol)).over(wPrev))
      .withColumn("_new",
        when(col("_pm").isNull || col(startCol) > col("_pm"), 1).otherwise(0))
      .withColumn("island", sum("_new").over(wCum).cast("long"))
      .groupBy(col(entityCol), col("island"))
      .agg(min(startCol).as(startCol), max(endCol).as(endCol),
        count(lit(1)).cast("long").as("n_intervals"))
  }

  /** Coverage gaps: the complement of [[coalesceIntervals]] — the
    * downtime/silence spans BETWEEN an entity's coalesced islands,
    * thresholded at `minGap` (same units as the interval columns) —
    * the outage report, SLA-silence detector, and inactivity miner.
    * One lead() over the already-collapsed island frame (one row per
    * island, not per interval), so the extra cost beyond the coalesce
    * is negligible at any scale. Output: entity, island (the island
    * the gap FOLLOWS), gap_start, gap_end, gap length.
    */
  def coverageGaps(iv: DataFrame, entityCol: String, startCol: String,
                   endCol: String, minGap: Long): DataFrame = {
    val islands = coalesceIntervals(iv, entityCol, startCol, endCol)
    val w = Window.partitionBy(col(entityCol)).orderBy(col("island"))
    islands
      .select(col(entityCol), col("island"),
        col(endCol).as("gap_start"),
        lead(col(startCol), 1).over(w).as("gap_end"))
      .filter(col("gap_end").isNotNull &&
        col("gap_end") - col("gap_start") >= minGap)
      .withColumn("gap_us", (col("gap_end") - col("gap_start")).cast("long"))
  }

  /** Event-transition matrix (first-order Markov counts): how often
    * each event type is followed by each other type within an entity's
    * chronological stream — the product-analytics "what do users do
    * next" readout and the input to Markov path models. One lead()
    * window per entity (tie-broken on `tieCol` for determinism), one
    * counted groupBy over the |types|² matrix — never a self-join of
    * the stream. Terminal events (no successor) drop; emit them as a
    * synthetic END type upstream if absorption rates matter.
    */
  def transitionMatrix(events: DataFrame, entityCol: String, tsCol: String,
                       typeCol: String, tieCol: String): DataFrame = {
    val w = Window.partitionBy(col(entityCol))
      .orderBy(col(tsCol), col(tieCol))
    events
      .select(col(entityCol), col(typeCol).as("from_type"),
        lead(col(typeCol), 1).over(w).as("to_type"))
      .filter(col("to_type").isNotNull)
      .groupBy("from_type", "to_type")
      .agg(count(lit(1)).cast("long").as("n"))
  }

  /** Adoption / growth curve: per group, each day's NEW entities (first
    * touch that day) and the running cumulative distinct count — the
    * feature-adoption and user-growth readout. Running COUNT(DISTINCT)
    * is a window no engine does directly; the identity that makes it
    * scale is `distinct-so-far = Σ first-occurrences ≤ day`, so the
    * plan is: first-touch aggregate (map-side combined min over the
    * entity key — the only corpus-sized shuffle) → day-grain aggregate
    * → per-group cumulative window over day-count-sized frames.
    * Output: group, day, new_entities, cum_entities.
    */
  def adoptionCurve(events: DataFrame, entityCol: String, tsCol: String,
                    groupCol: String): DataFrame = {
    val first = events
      .select(col(groupCol), col(entityCol), to_date(col(tsCol)).as("_day"))
      .groupBy(col(groupCol), col(entityCol)).agg(min("_day").as("day"))
    val daily = first.groupBy(col(groupCol), col("day"))
      .agg(count(lit(1)).cast("long").as("new_entities"))
    val w = Window.partitionBy(col(groupCol)).orderBy(col("day"))
    daily.withColumn("cum_entities",
      sum("new_entities").over(w).cast("long"))
  }

  /** Per-entity least-squares trend line over the daily series — "is
    * this metric drifting, and how fast, for every entity at once" —
    * as ONE aggregation pass, exact integer arithmetic end to end.
    *
    * The closed form needs only the monoid sums n, Σx, Σy, Σxy, Σx²:
    *   slope     = (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²)
    *   intercept = (Σy − slope·Σx) / n
    * x = days since the ENTITY'S first observed day (small ints, so
    * Σxy stays far from Long overflow even with µ-scaled y; using raw
    * epoch micros here would overflow — that's why the rebase is part
    * of the contract, not a nicety), y = Σ⌊value·scale⌋ per observed
    * day (no zero-fill: silent days are missing observations, not
    * zeros). Both divisions are truncating integer division (`div` ≡
    * DuckDB `//`), applied AFTER the exact integer numerators, so
    * slope_u/intercept_u are bit-identical on any engine; num/den ride
    * along exact for callers wanting full-precision ratios.
    *
    * Plan: daily aggregate → per-entity min-day (one more aggregate,
    * broadcast-joined back is wrong at 100 TB entity counts — it's an
    * equi join on the entity key, same shuffle as the daily groupBy) →
    * one final per-entity aggregate. Entities with a single point (or
    * all points on one day) have den = 0 → NULL slope/intercept, not a
    * crash. Output: entity, n, num, den, slope_u, intercept_u.
    */
  def trendLine(events: DataFrame, entityCol: String, tsCol: String,
                valueCol: String, scale: Long = 1000000L): DataFrame = {
    val daily = events
      .select(col(entityCol), to_date(col(tsCol)).as("day"),
        floor(col(valueCol) * scale).cast("long").as("_v"))
      .groupBy(col(entityCol), col("day")).agg(sum("_v").as("y"))
    val first = daily.groupBy(col(entityCol)).agg(min("day").as("_d0"))
    val pts = daily.join(first, Seq(entityCol))
      .select(col(entityCol),
        datediff(col("day"), col("_d0")).cast("long").as("x"), col("y"))
    pts.groupBy(col(entityCol))
      .agg(count(lit(1)).cast("long").as("n"),
        sum("x").as("_sx"), sum("y").as("_sy"),
        sum(col("x") * col("y")).as("_sxy"),
        sum(col("x") * col("x")).as("_sxx"))
      .withColumn("num", (col("n") * col("_sxy") - col("_sx") * col("_sy")).cast("long"))
      .withColumn("den", (col("n") * col("_sxx") - col("_sx") * col("_sx")).cast("long"))
      .withColumn("slope_u",
        when(col("den") =!= 0, expr("num div den")).cast("long"))
      .withColumn("intercept_u",
        when(col("den") =!= 0,
          expr("(_sy - slope_u * _sx) div n")).cast("long"))
      .select(col(entityCol), col("n"), col("num"), col("den"),
        col("slope_u"), col("intercept_u"))
  }

  /** Purged temporal split — backtest hygiene: train on everything up
    * to the exact ⌈p·n/1000⌉-th smallest timestamp, DROP an embargo
    * window after it, test on the rest. Splitting time series by a
    * plain quantile leaks: rows just after the boundary share
    * autocorrelated state with train rows just before it, so models
    * grade against near-copies of what they saw (the purged/embargoed
    * CV rule, López de Prado 2018 ch.7). The boundary is the
    * [[graft.llm.RankStats.exactQuantiles]] type-1 order statistic —
    * exact integer rank over epoch micros, no global sort, replayable
    * by an oracle; assignment is then a pure per-row projection
    * against the broadcast 1-row boundary. Growth caveat: unlike
    * hashSplit, the boundary MOVES as the corpus grows — that is the
    * point of a temporal split; pin `asOf` by literal instead when
    * reproducibility across ingests matters.
    */
  def embargoSplit(df: DataFrame, tsMicrosCol: String, trainPermille: Int,
                   embargoMicros: Long): DataFrame = {
    require(trainPermille > 0 && trainPermille < 1000,
      s"trainPermille must be in (0, 1000), got $trainPermille")
    require(embargoMicros >= 0L,
      s"embargo must be non-negative, got $embargoMicros")
    val t1 = graft.llm.RankStats
      .exactQuantiles(df, tsMicrosCol, Seq(trainPermille.toLong))
      .select(col("value").as("_t1"))
    df.crossJoin(broadcast(t1))
      .withColumn("split",
        when(col(tsMicrosCol) <= col("_t1"), "train")
          .when(col(tsMicrosCol) <= col("_t1") + embargoMicros, "embargo")
          .otherwise("test"))
      .drop("_t1")
  }
}
