package graft.util

import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

import graft.{Pins, Registry, TestSpark}

/** The pin owner's three lifetimes, and the callers that must leave no
  * cached rows behind in a long-lived JVM.
  */
class PinSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private def nation = graft.Engine.table(spark, TestSpark.sfDir, "nation")

  test("a scope releases every pin it still holds, also when its block throws") {
    val added = Pins.addedBy(spark) {
      intercept[IllegalStateException](Pin.scope { p =>
        p.rows(nation).on(spark).count()
        p.frame(nation.select(col("n_name")), StorageLevel.MEMORY_AND_DISK)
          .count()
        p.checkpoint(nation, nation.schema).on(spark).count()
        throw new IllegalStateException("boom")
      })
    }
    assert(added.isEmpty, s"pins outlived a failed scope: $added")
  }

  test("a released pin is gone at once; a handed-out pin outlives its scope") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet.toSet
    def added = sc.getPersistentRDDs.keySet.toSet -- before
    val df = Pin.scope { p =>
      val round = p.rows(nation)
      round.on(spark).count()
      assert(added.size === 1)
      p.release(round)
      p.release(round) // releasing twice is a no-op
      assert(added.isEmpty)
      val out = p.rows(nation.select(col("n_nationkey")))
      val res = out.on(spark)
      res.count()
      p.handOut(out)
      res
    }
    assert(added.size === 1, "the handed-out pin must outlive its scope")
    assert(df.count() === nation.count())
  }

  /** The messages CacheManager logs while `body` runs; a second persist
    * of cached data logs "Asked to cache already cached data".
    */
  private def cacheWarnings(body: => Any): Seq[String] = {
    import org.apache.logging.log4j.LogManager
    import org.apache.logging.log4j.core.{LogEvent, Logger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    import scala.jdk.CollectionConverters._
    val logger = LogManager.getLogger("org.apache.spark.sql.execution.CacheManager")
      .asInstanceOf[Logger]
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val capture = new AbstractAppender("graft-cache-warnings", null, null,
        true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        seen.add(e.getMessage.getFormattedMessage)
    }
    capture.start()
    logger.addAppender(capture)
    try body finally {
      logger.removeAppender(capture)
      capture.stop()
    }
    seen.asScala.toSeq
  }

  test("framing one DataFrame twice in a scope persists it once; one release frees it") {
    val plan = nation.select(col("n_regionkey"), col("n_name"))
    Pin.scope { p =>
      val warnings = cacheWarnings {
        val a = p.frame(plan, StorageLevel.MEMORY_AND_DISK)
        val b = p.frame(a, StorageLevel.MEMORY_AND_DISK)
        assert(a eq b)
        assert(b.count() === nation.count())
        assert(b.storageLevel === StorageLevel.MEMORY_AND_DISK)
        p.release(b)
        assert(a.storageLevel === StorageLevel.NONE, "one release must free the frame")
      }
      assert(warnings.isEmpty, s"the frame was persisted twice: $warnings")
    }
  }

  test("memo keeps one cached frame per (session, canonical plan)") {
    val a = Pin.memo(nation.select(col("n_regionkey")).distinct(),
      StorageLevel.DISK_ONLY)
    val b = Pin.memo(nation.select(col("n_regionkey")).distinct(),
      StorageLevel.DISK_ONLY)
    val c = Pin.memo(nation.select(col("n_nationkey")).distinct(),
      StorageLevel.DISK_ONLY)
    assert(a eq b)
    assert(!(a eq c))
    assert(a.storageLevel === StorageLevel.DISK_ONLY)
  }

  test("q_hits, q_bpe_merges and q_bpe_encode leave no rows cached") {
    Seq("q_hits", "q_bpe_merges", "q_bpe_encode").foreach { q =>
      val warnings = cacheWarnings {
        val added = Pins.addedBy(spark) {
          assert(Registry.all(q).fn(spark, TestSpark.sfDir).collect().nonEmpty)
        }
        assert(added.isEmpty, s"$q left rdds persisted: $added")
      }
      assert(warnings.isEmpty, s"$q persisted a frame twice: $warnings")
    }
  }

  test("a staged writeTable append leaves no rows cached") {
    val cs = graft.connector.Connector.connectStaging(spark,
      "/tmp/graft_test_stage", subdirectory = Some("pin"))
    graft.connector.Connector.writeTable(cs, nation, "t_pin_app",
      verbose = false)
    val added = Pins.addedBy(spark) {
      graft.connector.Connector.writeTable(cs, nation, "t_pin_app",
        append = true, verbose = false)
    }
    assert(added.isEmpty, s"writeTable append left rdds persisted: $added")
    assert(spark.table("t_pin_app").count() === 2 * nation.count())
  }

  test("AnnIndex.writeIndex leaves no rows cached") {
    val path = java.nio.file.Files.createTempDirectory("graft_pin_ann").toString
    try {
      val added = Pins.addedBy(spark) {
        graft.llm.AnnIndex.writeIndex(
          graft.Engine.table(spark, TestSpark.sfDir, "embeddings"), path)
      }
      assert(added.isEmpty, s"writeIndex left rdds persisted: $added")
    } finally Fs.deleteRecursively(path)
  }
}
