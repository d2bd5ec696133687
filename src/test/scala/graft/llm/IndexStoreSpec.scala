package graft.llm

import java.io.File
import java.nio.file.{Files, StandardCopyOption}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.util.Fs

/** The index store's key and lifetime rule, over scratch copies of the
  * sf0.001 tables (the shared test data stays read-only).
  */
class IndexStoreSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val scratch = "/tmp/graft_test_stage/index_store"

  /** Copy `table` from sf0.001 into `dir`, stamped with `mtime`. */
  private def copyTable(dir: String, table: String, mtime: Long): Unit = {
    val dst = new File(dir, s"$table.parquet")
    dst.getParentFile.mkdirs()
    Files.copy(new File(TestSpark.sfDir, s"$table.parquet").toPath, dst.toPath,
      StandardCopyOption.REPLACE_EXISTING)
    assert(dst.setLastModified(mtime))
  }

  test("a dataset rewritten twice keeps exactly one index dir per family") {
    val dir = s"$scratch/lifetime"
    Fs.deleteRecursively(dir)
    IndexStore.drop(dir)
    val t0 = System.currentTimeMillis() / 1000 * 1000
    val homes = (0 until 3).map { round =>
      // each round is a regeneration in place: same bytes, new mtime
      Seq("documents", "embeddings").foreach(copyTable(dir, _, t0 - round * 60000L))
      Components.simhashPairs(spark, dir).count()
      Components.minhashSigs(spark, dir).count()
      assert(AnnIndex.servedTopK(spark, dir, 0L, 10).count() === 10L)
      Seq(IndexStore.Ann, IndexStore.Pair).map { f =>
        val live = IndexStore.homes(f, dir).map(_.getPath)
        assert(live === Seq(IndexStore.home(f, dir)),
          s"round $round: ${f.name} homes $live")
        live.head
      }
    }
    assert(homes.distinct.size === 3, s"a rewrite kept its key: $homes")
    IndexStore.drop(dir)
    assert(IndexStore.homes(IndexStore.Ann, dir).isEmpty)
    assert(IndexStore.homes(IndexStore.Pair, dir).isEmpty)
    Fs.deleteRecursively(dir)
  }

  test("drop deletes the index dirs of versions before the store and spares live homes") {
    val live = s"$scratch/live"
    Fs.deleteRecursively(live)
    copyTable(live, "embeddings", System.currentTimeMillis() / 1000 * 1000)
    val home = new File(IndexStore.home(IndexStore.Ann, live))
    assert(home.mkdirs())
    val key = "0123456789abcdef"
    val legacy = (s"graft_ann_index_$key" +:
      Seq("", "_cc", "_mh", "_mhc", "_jpc").map(s => s"graft_pair_index_$key$s"))
      .map(new File("/tmp", _))
    // near misses: a wrong suffix, a short key, an upper-case key
    val kept = Seq(s"graft_pair_index_${key}_ccx", "graft_ann_index_0123456789abcde",
      "graft_ann_index_0123456789ABCDEF").map(new File("/tmp", _))
    (legacy ++ kept).foreach { d =>
      assert(d.mkdirs() || d.isDirectory)
      assert(new File(d, "part-0.parquet").createNewFile() || new File(d, "part-0.parquet").exists())
    }
    IndexStore.drop(s"$scratch/other")
    legacy.foreach(d => assert(!d.exists(), s"$d survived drop"))
    kept.foreach(d => assert(d.isDirectory, s"$d was deleted"))
    assert(home.isDirectory, "drop deleted another dataset's home")
    kept.foreach(d => Fs.deleteRecursively(d.getPath))
    IndexStore.drop(live)
    assert(!home.exists())
    Fs.deleteRecursively(live)
  }

  test("a change to a file nested inside a partitioned table changes the key") {
    val dir = s"$scratch/nested"
    Fs.deleteRecursively(dir)
    spark.read.parquet(s"${TestSpark.sfDir}/documents.parquet")
      .withColumn("part", col("doc_id") % 2)
      .write.partitionBy("part").parquet(s"$dir/documents.parquet")
    val before = IndexStore.home(IndexStore.Pair, dir)
    assert(IndexStore.home(IndexStore.Pair, dir) === before)
    val nested = new File(s"$dir/documents.parquet/part=1").listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    assert(nested.setLastModified(nested.lastModified() - 60000L))
    assert(IndexStore.home(IndexStore.Pair, dir) !== before,
      "a nested file's change did not reach the key")
    Fs.deleteRecursively(dir)
  }
}
