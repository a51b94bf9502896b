package org.apache.spark.sql.graftshim

import org.apache.spark.sql.types.StructType

/** Bridge to the `private[spark]` `StructType.asNullable`: a scan built
  * over known files reads every column as nullable, as Spark's own file
  * sources do.
  */
object SchemaBridge {
  def asNullable(s: StructType): StructType = s.asNullable
}
