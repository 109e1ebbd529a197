package graft.core

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.{lit, raise_error, when}

/** The input guards: a NULL in a checked column raises
  * `"<op>: NULL <what>"` at the row that carries it, instead of forming
  * a NULL group downstream or vanishing from a sum.
  */
private[graft] object Checked {

  /** `c` as a string label. */
  def label(c: Column, op: String, what: String): Column =
    nonNull(c, op, what).cast("string")

  /** `c` as a long. */
  def long(c: Column, op: String, what: String): Column =
    nonNull(c, op, what).cast("long")

  private def nonNull(c: Column, op: String, what: String): Column =
    when(c.isNull, raise_error(lit(s"$op: NULL $what"))).otherwise(c)
}
