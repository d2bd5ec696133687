package graft.util

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType
import org.apache.spark.storage.StorageLevel

/** The one owner of the rows the engine caches itself: every persist,
  * localCheckpoint and unpersist goes through here, under one of three
  * lifetimes. Scoped: [[Pin.scope]] releases every pin still held when
  * its block exits, normally or by a throw (a round loop releases round
  * k itself once round k+1 is materialized). Returned:
  * [[Pin.Scope.handOut]] leaves a pin to Spark's ContextCleaner because
  * the DataFrame handed to the caller reads it. Memoized: [[Pin.memo]]
  * keeps one frame per (session, canonical plan) for the JVM's life.
  * A per-call pin that outlives its call leaks a corpus-sized frame per
  * invocation in a long-lived JVM.
  */
object Pin {

  /** Cached rows behind a plan leaf (`createDataFrame(rdd, schema)`), so
    * a round loop's plan stays one round deep.
    */
  final class Rows private[Pin] (rdd: RDD[Row], schema: StructType) {
    /** The loop's child session inside a graph loop, the parent for
      * what is returned.
      */
    def on(session: SparkSession): DataFrame =
      session.createDataFrame(rdd, schema)

    /** One RDD job: no SQL plan, no aggregate stage. */
    def count(): Long = rdd.count()
  }

  final class Scope private[Pin] {
    private val held = ArrayBuffer.empty[(AnyRef, () => Unit)]

    private def hold[P <: AnyRef](pin: P)(release: => Unit): P = {
      held += ((pin, () => release))
      pin
    }

    private def take(pin: AnyRef): Option[() => Unit] = {
      val i = held.indexWhere(_._1 eq pin)
      if (i < 0) None else Some(held.remove(i)._2)
    }

    /** A DataFrame cache at `level`; a frame this scope already holds is
      * returned as it is, not persisted a second time.
      */
    def frame(plan: DataFrame, level: StorageLevel): DataFrame =
      if (held.exists(_._1 eq plan)) plan
      else hold(plan.persist(level))(plan.unpersist(): Unit)

    /** The plan's rows persisted MEMORY_AND_DISK. */
    def rows(plan: DataFrame, schema: StructType): Rows =
      rooted(plan.rdd.persist(StorageLevel.MEMORY_AND_DISK), schema)

    def rows(plan: DataFrame): Rows = rows(plan, plan.schema)

    /** Cached like [[rows]], and the RDD dependency graph is cut once
      * materialized, so a long loop's task closures stay shallow.
      */
    def checkpoint(plan: DataFrame, schema: StructType): Rows =
      rooted(plan.rdd.localCheckpoint(), schema)

    private def rooted(rdd: RDD[Row], schema: StructType): Rows =
      hold(new Rows(rdd, schema))(rdd.unpersist(): Unit)

    /** Release now; a no-op for a pin already released or handed out. */
    def release(pin: AnyRef): Unit = take(pin).foreach(_())

    def handOut(pins: Rows*): Unit = pins.foreach(take)

    private[Pin] def releaseAll(): Unit =
      held.reverseIterator.map(_._1).toList.foreach(release)
  }

  def scope[T](body: Scope => T): T = {
    val p = new Scope
    try body(p) finally p.releaseAll()
  }

  // keyed on the FULL canonical plan string, not its 32-bit semanticHash:
  // a collision would serve another dataset's cached rows
  private val memoized = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String), DataFrame]

  def memo(plan: DataFrame, level: StorageLevel): DataFrame =
    memoized.getOrElseUpdate(
      (plan.sparkSession, plan.queryExecution.analyzed.canonicalized.toString),
      plan.persist(level))
}
