package org.apache.spark.sql.graft

import org.apache.spark.sql.types.StructType

/** Schema helpers Spark keeps `private[spark]`. */
object Schemas {
  /** Every field, array element and map value made nullable: the schema
    * `spark.read.parquet` infers for files written from a frame of
    * `schema`. */
  def asNullable(schema: StructType): StructType = schema.asNullable
}
