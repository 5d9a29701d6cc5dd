package org.apache.spark.sql.classic

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression

/** Minimal `private[sql]` bridge: build a [[Column]] from a raw
  * Catalyst [[Expression]] (and back). It is the one way a graft kernel
  * becomes a Column: every Column API in `graft.functions` (and the
  * minhash and hash60 call sites in `graft.pipeline`) wraps its
  * expression here, so a kernel needs no function-registry entry and
  * works on any session. Some kernels could not ride the registry at
  * all: the quantizer probes ([[graft.functions.NearestCellsSharded]])
  * carry a `Broadcast` handle, which a SQL-function literal cannot
  * express. The standard Spark extension-library pattern: one object in
  * the sql namespace delegating to [[ExpressionUtils]], nothing else. */
object GraftColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}
