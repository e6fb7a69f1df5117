// Same namespace rationale as DotProduct.scala: the Column bridge
// (classic.ExpressionUtils) is private[sql].
package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.InSet
import org.apache.spark.sql.classic.ExpressionUtils

/** `c IN (values)` in Catalyst's hash-set form at any list length.
  * `isin` keeps lists of up to ten values as literals inlined into the
  * generated code, so a scan filtered on each new list compiles a new
  * class (about 15 ms per single-query fact lookup). The set form
  * passes the values by reference, so one compiled scan serves every
  * list, and file sources still receive it as a pushed-down IN
  * filter. Values are Catalyst internal values (a Long for a bigint
  * column).
  *
  * The set is always an immutable HashSet, as Catalyst's own rewrite
  * builds it: generated code casts the reference to the class it saw
  * when compiling, and the compiled class is reused for every list,
  * so a Set1..Set4 or map key set would fail a later cast. */
object InSetColumn {
  def apply(c: Column, values: Iterable[Any]): Column =
    ExpressionUtils.column(InSet(ExpressionUtils.expression(c),
      scala.collection.immutable.HashSet.from(values)))
}
