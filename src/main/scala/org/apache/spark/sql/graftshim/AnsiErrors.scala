package org.apache.spark.sql.graftshim

import org.apache.spark.sql.errors.QueryExecutionErrors
import org.apache.spark.sql.types.{IntegerType, LongType}

/** Public bridge over the `private[sql]` runtime errors the native
  * expressions raise where a built-in formulation would (same error
  * classes, no query context).
  */
object AnsiErrors {
  /** `element_at(arr, index)` past the end under ANSI. */
  def elementAtIndex(index: Int, numElements: Int): RuntimeException =
    QueryExecutionErrors.invalidElementAtIndexError(index, numElements, null)
  /** `element_at(arr, 0)`. */
  def indexOfZero(): RuntimeException = QueryExecutionErrors.invalidIndexOfZeroError(null)
  /** A negative `slice` length. */
  def sliceLength(length: Int): RuntimeException =
    QueryExecutionErrors.unexpectedValueForLengthInFunctionError("slice", length)
  /** A bigint `+` overflow under ANSI. */
  def longAddOverflow(): RuntimeException =
    QueryExecutionErrors.arithmeticOverflowError("long overflow", "try_add", null)
  /** A bigint → int cast overflow under ANSI. */
  def longToIntOverflow(v: Long): RuntimeException =
    QueryExecutionErrors.castingCauseOverflowError(v, LongType, IntegerType)
}
