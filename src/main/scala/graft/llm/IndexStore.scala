package graft.llm

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.util.Fs

/** The one on-disk store for the indexes the engine derives from a
  * dataset's tables: the IVF-PQ index ([[AnnIndex]]) and the pair-graph
  * family ([[Components]]: pair graph, cc labels, MinHash signatures and
  * candidates, scored jaccard pairs). It alone decides where an index
  * lives, how it is published, when it is deleted and how it is read.
  *
  * Layout: one home per (family, dataset, content),
  * `/tmp/graft_<family>_index_<dataset>_<content>`, holding one published
  * parquet dir per artifact. `<dataset>` digests the family and the
  * table's absolute path. `<content>` digests the family's version and
  * the table's file metadata: every leaf file's dataset-relative path,
  * length and mtime (the walk is recursive, so a partitioned table's
  * nested files count), plus their count, total length and newest mtime.
  * The key is deterministic across JVMs, so every process over one
  * dataset shares one home; a rewrite in place changes mtimes, and a code
  * change bumps the version, so neither ever reads a stale index.
  *
  * Lifetime: a fresh publish deletes the family's other homes for the
  * same dataset, so a regenerated dataset keeps exactly one home per
  * family, but spares a home that holds a build younger than an hour (a
  * concurrent builder's). [[drop]] deletes every home a dataset has,
  * and the index dirs left by versions before the store.
  */
object IndexStore {

  /** An index family: the table it is derived from and the version its
    * owner bumps when the family's layout or pipeline changes.
    */
  final case class Family(name: String, table: String, version: Int)

  val Ann = Family("ann", "embeddings", AnnIndex.annIndexVersion)
  val Pair = Family("pair", "documents", Components.pairIndexVersion)
  private val families = Seq(Ann, Pair)

  private val root = new File("/tmp")
  private val tmpTag = ".tmp-"
  private val tmpGraceMs = 3600L * 1000

  private def digest(s: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString.take(16)

  private def table(f: Family, sfDir: String): File =
    new File(sfDir, s"${f.table}.parquet").getAbsoluteFile

  private def datasetPrefix(f: Family, sfDir: String): String =
    s"graft_${f.name}_index_${digest(s"${f.name}|${table(f, sfDir).getPath}")}_"

  private def contentKey(f: Family, sfDir: String): String = {
    val t = table(f, sfDir)
    def walk(x: File): Seq[File] =
      if (x.isDirectory)
        Option(x.listFiles()).map(_.toSeq).getOrElse(Seq.empty)
          .sortBy(_.getName).flatMap(walk)
      else Seq(x)
    val files = walk(t)
    val maxMtime = if (files.isEmpty) 0L else files.map(_.lastModified).max
    digest(files
      .map(x => s"${x.getPath.stripPrefix(t.getPath)}:${x.length}:${x.lastModified}")
      .mkString(s"v${f.version}|n=${files.size}|" +
        s"len=${files.map(_.length).sum}|mt=$maxMtime|", "|", ""))
  }

  /** The home of `f`'s index over the dataset at `sfDir`. */
  private[graft] def home(f: Family, sfDir: String): String =
    new File(root, datasetPrefix(f, sfDir) + contentKey(f, sfDir)).getPath

  /** Every home `f` has for the dataset at `sfDir`, whatever its content. */
  private[graft] def homes(f: Family, sfDir: String): Seq[File] = {
    val p = datasetPrefix(f, sfDir)
    Option(root.listFiles()).map(_.toSeq).getOrElse(Seq.empty)
      .filter(_.getName.startsWith(p))
  }

  // per-JVM memo of published artifact paths: saves a filesystem check
  // per consumer call, nothing more (cross-JVM reuse goes through _SUCCESS)
  private val published =
    scala.collection.concurrent.TrieMap.empty[String, Unit]

  /** The path of artifact `name` of `f`'s index over `sfDir`, built by
    * `build` (which writes the artifact at the dir it is given) if no
    * complete copy is published yet.
    *
    * Publish: build aside into `<path>.tmp-<uuid>`, mark it `_SUCCESS`,
    * rename it onto `path`. The losers of a concurrent race fail the
    * rename and delete their copy, so exactly one survives. A rename that
    * fails onto an occupant without `_SUCCESS` (a crashed half-publish)
    * deletes the wreck and retries once. A fresh publish then retires the
    * family's other homes for this dataset.
    */
  def publish(f: Family, sfDir: String, name: String)(
      build: String => Unit): String = {
    val h = home(f, sfDir)
    val p = s"$h/$name"
    published.getOrElseUpdate(p, {
      if (!complete(p)) {
        new File(h).mkdirs()
        // a crashed build leaks its tmp dir: sweep the stale ones
        val (_, stale) = builds(new File(h))
        stale.foreach(b => Fs.deleteRecursively(b.getPath))
        if (!attempt(p, build)) {
          Fs.deleteRecursively(p)
          if (!attempt(p, build))
            throw new IllegalStateException(s"index publish failed twice: " +
              s"$p exists but is incomplete; remove it and retry")
        }
        // a JVM that served an earlier index at this path must not keep
        // serving its model
        AnnIndex.evictServing(p)
        homes(f, sfDir).filter { o =>
          val (live, _) = builds(o)
          o.getPath != h && live.isEmpty
        }.foreach(remove)
      }
    })
    p
  }

  private def complete(p: String): Boolean = new File(p, "_SUCCESS").exists()

  private def attempt(p: String, build: String => Unit): Boolean = {
    val tmp = s"$p$tmpTag${java.util.UUID.randomUUID().toString.take(8)}"
    build(tmp)
    val marker = new File(tmp, "_SUCCESS")
    require(marker.createNewFile() || marker.exists(),
      s"could not mark $tmp complete")
    val ok = new File(tmp).renameTo(new File(p))
    if (!ok) Fs.deleteRecursively(tmp)
    ok || complete(p)
  }

  /** The `.tmp-*` builds in home `h`, split into live ones (younger than
    * an hour: possibly a concurrent builder's) and stale ones.
    */
  private def builds(h: File): (Seq[File], Seq[File]) = {
    val cutoff = System.currentTimeMillis() - tmpGraceMs
    Option(h.listFiles()).map(_.toSeq).getOrElse(Seq.empty)
      .filter(_.getName.contains(tmpTag)).partition(_.lastModified >= cutoff)
  }

  /** Forget a home in this JVM (the publish memo and the serving state of
    * any ANN epoch under it) and delete it.
    */
  private def remove(h: File): Unit = {
    val p = h.getPath
    published.keys.filter(_.startsWith(s"$p/")).foreach(published.remove)
    AnnIndex.evictServing(p)
    Fs.deleteRecursively(p)
  }

  /** The dirs of the versions before the store: `graft_<family>_index_`
    * plus one 16-hex key, and the pair family's `_cc`, `_mh`, `_mhc` and
    * `_jpc` siblings. A home's name carries two 16-hex keys, so no home
    * matches.
    */
  private val preStore =
    "graft_(ann|pair)_index_[0-9a-f]{16}(_cc|_mh|_mhc|_jpc)?".r

  /** Delete every index home of the dataset at `sfDir`, in every family,
    * and every pre-store index dir: their names do not say which dataset
    * they were built from, and nothing reads them.
    */
  def drop(sfDir: String): Unit = {
    families.foreach(f => homes(f, sfDir).foreach(remove))
    Option(root.listFiles()).map(_.toSeq).getOrElse(Seq.empty)
      .filter(d => preStore.matches(d.getName))
      .foreach(d => Fs.deleteRecursively(d.getPath))
  }

  /** Read a parquet artifact with its declared schema: no read of an
    * index runs a Parquet schema-inference job.
    */
  def read(spark: SparkSession, schema: StructType, path: String): DataFrame =
    spark.read.schema(schema).parquet(path)
}
