package org.apache.spark.sql.graft

import org.apache.spark.sql.types.StructType

/** Spark's nullable form of a schema: every field, array element and map
  * value nullable, the schema a file-source read returns. Lives in the sql
  * package tree because `StructType.asNullable` is private[spark]. */
object NullableSchema {
  def apply(schema: StructType): StructType = schema.asNullable
}
