package graft.llm

import graft.core.Checked
import graft.streaming.Sessionize
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Conversation assembly for instruction-tuning data prep: gap-based
  * sessions become conversations, events become ordered turns with
  * alternating roles, and the context-packing face keeps the longest
  * recent-turn suffix under a length budget — the exact truncation
  * rule a chat template applies before training.
  *
  * Built on [[Sessionize]] (same gap rule, same deterministic
  * (ts, id) ordering), so every face here shares its scale posture:
  * ONE hash shuffle on the user key, then per-user sorted scans;
  * skewed users are the known hazard and
  * [[Sessionize.capUserEvents]] is the upstream mitigation.
  */
object Conversations {

  /** Per-event turn tagging: conversation = (user, session_seq), plus
    * `turn_idx` (1-based within the conversation) and the alternating
    * `role` ("user" for odd turns, "assistant" for even — the parity
    * convention of a user-initiated chat).
    */
  def turns(events: DataFrame, userCol: String, tsCol: String,
            idCol: String, gapMicros: Long = 30L * 60 * 1000000): DataFrame = {
    val wc = Window.partitionBy(col(userCol), col("session_seq"))
      .orderBy(col(tsCol).asc, col(idCol).asc)
    Sessionize.sessionize(events, userCol, tsCol, idCol, gapMicros)
      .withColumn("turn_idx", row_number().over(wc))
      .withColumn("role",
        when(col("turn_idx") % 2 === 1, "user").otherwise("assistant"))
  }

  /** SFT loss-mask layout: one row per turn with its token offsets
    * inside the assembled conversation and whether its tokens TRAIN —
    * the completion-only-loss layout instruction tuning needs (mask
    * the prompt/user turns, train on the listed completion types).
    * Offsets are an exclusive running sum of turn lengths over the
    * SAME (user, session) partition key as the session tagging — no
    * extra shuffle, and conversations are gap-bounded so the window
    * never sees corpus-scale partitions (the contextPack stance).
    */
  def sftMaskLayout(events: DataFrame, userCol: String, tsCol: String,
                    idCol: String, typeCol: String, lenCol: String,
                    trainableTypes: Seq[String],
                    gapMicros: Long = 30L * 60 * 1000000): DataFrame = {
    require(trainableTypes.nonEmpty, "sftMaskLayout: no trainable types")
    val wc = Window.partitionBy(col(userCol), col("session_seq"))
      .orderBy(col(tsCol).asc, col(idCol).asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    // a NULL length must raise, not vanish: coalesce(sum, 0) cannot
    // tell "first turn" from "all preceding lens NULL", so a silent
    // NULL would collapse offsets onto earlier turns and corrupt the
    // loss mask (r12 review finding; the checkedLong stance)
    val checkedLen = Checked.long(col(lenCol), "sftMaskLayout",
      s"length in $lenCol")
    turns(events, userCol, tsCol, idCol, gapMicros)
      .withColumn(lenCol, checkedLen)
      .withColumn("start_off",
        coalesce(sum(col(lenCol)).over(wc), lit(0L)))
      .select(col(userCol), col("session_seq").as("conv_seq"),
        col("turn_idx").cast("long").as("turn_idx"),
        col(typeCol).as("turn_type"), col("start_off"),
        col(lenCol).cast("long").as("len"),
        col(typeCol).isin(trainableTypes: _*).as("trainable"))
  }

  /** Conversation-level rollup: turn counts, role split, distinct
    * event types, total content length, time bounds, and
    * `repeat_violations` — consecutive turns with the SAME type, the
    * alternation check instruction-data QA gates on (a healthy chat
    * log alternates; a scraper loop does not).
    */
  def assemble(events: DataFrame, userCol: String, tsCol: String,
               idCol: String, typeCol: String, lenCol: String,
               gapMicros: Long = 30L * 60 * 1000000): DataFrame = {
    val wc = Window.partitionBy(col(userCol), col("session_seq"))
      .orderBy(col(tsCol).asc, col(idCol).asc)
    turns(events, userCol, tsCol, idCol, gapMicros)
      .withColumn("_prev_type", lag(col(typeCol), 1).over(wc))
      .groupBy(col(userCol), col("session_seq").as("conv_seq"))
      .agg(count(lit(1)).as("n_turns"),
        sum(when(col("turn_idx") % 2 === 1, 1L).otherwise(0L))
          .as("n_user_turns"),
        countDistinct(col(typeCol)).as("n_types"),
        sum(col(lenCol)).as("total_len"),
        min(unix_micros(col(tsCol))).as("start_us"),
        max(unix_micros(col(tsCol))).as("end_us"),
        sum(when(col("_prev_type") === col(typeCol), 1L).otherwise(0L))
          .as("repeat_violations"))
  }

  /** Context-budget packing: per conversation keep the longest SUFFIX
    * of turns whose total length fits `budget` (recent turns survive,
    * old ones truncate — the chat-template rule). A reverse running
    * sum ((ts, id) DESC) marks the suffix; turns where even the
    * running sum overshoots are dropped, so a single over-budget turn
    * yields kept_turns = 0. One more window over the SAME partition
    * key as the session tagging — no extra shuffle (the user-key
    * exchange is reused).
    */
  def contextPack(events: DataFrame, userCol: String, tsCol: String,
                  idCol: String, lenCol: String, budget: Long,
                  gapMicros: Long = 30L * 60 * 1000000): DataFrame = {
    val wr = Window.partitionBy(col(userCol), col("session_seq"))
      .orderBy(col(tsCol).desc, col(idCol).desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    turns(events, userCol, tsCol, idCol, gapMicros)
      .withColumn("_revcum", sum(col(lenCol)).over(wr))
      .groupBy(col(userCol), col("session_seq").as("conv_seq"))
      .agg(count(lit(1)).as("n_turns"),
        sum(when(col("_revcum") <= budget, 1L).otherwise(0L))
          .as("kept_turns"),
        sum(when(col("_revcum") <= budget, col(lenCol)).otherwise(0L))
          .as("kept_len"),
        sum(col(lenCol)).as("total_len"))
      .withColumn("dropped_turns", col("n_turns") - col("kept_turns"))
  }
}
