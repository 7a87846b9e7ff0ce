package graft.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** Frames built on the driver, as `LocalRelation`s the optimizer can see. */
object Frames {

  /** Optimizer-VISIBLE empty frame: a LocalRelation, not an emptyRDD-backed
    * LogicalRDD. PropagateEmptyRelation / PruneFilters can fold unions,
    * joins and filters over a LocalRelation-empty scan (an append-only
    * changes() interval loses its EXCEPT-ALL subtree and a merge against an
    * empty slice loses the whole merge join), where a LogicalRDD is opaque
    * and every consumer keeps planning — and running — the full shape. */
  def empty(spark: SparkSession, schema: StructType): DataFrame = local(spark, Nil, schema)

  /** Driver-held rows as a LocalRelation: projections and filters over it
    * fold at planning, so collecting them runs no Spark job. */
  def local(spark: SparkSession, rows: Seq[Row], schema: StructType): DataFrame =
    spark.createDataFrame(rows.asJava, schema)

  /** Driver-held rows as ONE partition. A bare LocalRelation scan splits
    * into min(rows, default parallelism) partitions, so a 6-row frame would
    * write 4 files and need a shuffle for a DISTINCT over it; one partition
    * writes one file and satisfies any clustering without an exchange. */
  def onePartition(spark: SparkSession, rows: Seq[Row], schema: StructType): DataFrame =
    local(spark, rows, schema).coalesce(1)
}
