package graft

import org.apache.spark.sql.SparkSession

/** Leak probe for cached rows: the ids of the RDDs a block leaves
  * persisted that were not persisted before it ran. An id present before
  * may be reclaimed by the ContextCleaner meanwhile, so only additions
  * count.
  */
object Pins {
  def addedBy(spark: SparkSession)(body: => Any): Set[Int] = {
    val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
    body
    spark.sparkContext.getPersistentRDDs.keySet.toSet -- before
  }
}
