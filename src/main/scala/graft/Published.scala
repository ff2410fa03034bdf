package graft

import java.io.IOException
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.regex.Pattern

import org.apache.hadoop.fs.{FileContext, Path}
import org.apache.spark.sql.SparkSession

/** The one publish path for derived on-disk artifacts: ANN indexes, the
  * containment index, ORC and schema-evolution mirrors, the watermarked
  * feed and the corpus export. Each is built once per source-table
  * stamp and reused by every later query and session.
  *
  * Layout: an artifact at `path` is readable at `path/final`, which
  * appears only by an atomic rename of a complete attempt dir
  * `path/v_<uuid8>`. A reader therefore never observes a half-built or
  * half-overwritten artifact, and racing builders never interleave:
  * the first rename wins whole, and the loser drops its attempt (the
  * builds are deterministic over the same source, so either winner's
  * artifact is the same artifact). The attempt carries [[Marker]]
  * before it is renamed, so `final/` without it is torn (a crashed
  * pre-protocol build, or an older layout at the same path); it is
  * swapped out by its own rename and the publish is retried once.
  *
  * SCOPE: the protocol leans on a strict no-overwrite rename, i.e. a
  * filesystem with ATOMIC rename (local rename(2), HDFS through
  * FileContext). An object store cannot provide it (rename is
  * copy+delete there, see [[graft.ingest.ObjectStoreFileSystem]]);
  * publishing onto S3 would swap the rename for a conditional PUT of a
  * manifest object (If-None-Match) or an external lock, with readers
  * resolving the manifest. The artifacts here are node-local caches, so
  * the atomic-rename assumption holds by construction.
  */
object Published {

  /** Completion marker written into every attempt before its rename.
    * The leading `_` makes Spark's file and parquet readers skip it, so
    * a published dir reads (or streams) as plain data. */
  private[graft] val Marker = "_PUBLISHED"

  /** `<tmpdir>/graft_<kind>/<dir-key>_<key…>_<stamp>` — the cache path of
    * `kind` for corpus `dir`, keyed by every artifact-shaping parameter
    * and by [[Tables.fileStamp]] of `dir/table`, so a regenerated table
    * or a different knob builds a disjoint artifact, never a stale one.
    *
    * Every call deletes, best-effort, the same (kind, dir, key) under
    * any other stamp: each regeneration of the source would otherwise
    * orphan one corpus-sized copy. A sibling is this dir's only if the
    * text after `<dir-key>_<key…>_` is exactly a stamp; the name of a
    * nested dir (`dir/y`) or of a suffixed one (`dir_10`) extends the
    * prefix by at least one more token and is never matched.
    *
    * The same sweep drops what the layouts before this module left,
    * each by its exact name: a crashed `<dir-key>_<key…>_<stamp>` sibling
    * ending in `_v_`, `_attempt_` or `_trash_<uuid8>`; the wm feed's
    * stamp-first `<dir-key>_<stamp>_<key…>`; the flat index files
    * an index kept beside `final/` in its own dir; and, under every
    * stamp, the artifact of a kind that [[movedKinds]] folded into this
    * one, at this key minus its leading token. */
  def cachePath(spark: SparkSession, kind: String, dir: String,
      table: String, key: Any*): String = {
    val stamp = Tables.fileStamp(spark, s"$dir/$table")
    val path = new Path(pathFor(kind, dir, stamp, key: _*))
    val prefix = path.getName.stripSuffix(stamp)
    val dirKey = dir.replaceAll("[^A-Za-z0-9]", "_") + "_"
    val stampFirst = s"${stampShape}_${Pattern.quote(key.mkString("_"))}".r
    def stale(n: String) = n != path.getName &&
      (n.startsWith(prefix) && orphanShape.matches(n.substring(prefix.length)) ||
        stampFirstKinds(kind) && n.startsWith(dirKey) &&
          stampFirst.matches(n.substring(dirKey.length)))
    try {
      val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
      def sweep(d: Path)(drop: String => Boolean): Unit =
        if (fs.exists(d)) fs.listStatus(d).filter(st => drop(st.getPath.getName))
          .foreach(st => fs.delete(st.getPath, true))
      sweep(path.getParent)(stale)
      sweep(path)(flatIndexFile.matches)
      for (head <- key.headOption; was <- movedKinds.get((kind, head.toString))) {
        val old = new Path(pathFor(was, dir, stamp, key.tail: _*))
        val oldPrefix = old.getName.stripSuffix(stamp)
        sweep(old.getParent)(n => n.startsWith(oldPrefix) &&
          orphanShape.matches(n.substring(oldPrefix.length)))
      }
    } catch { case _: IOException => () } // GC is best-effort
    path.toString
  }

  /** [[cachePath]]'s name for an explicit stamp, with no GC. */
  private[graft] def pathFor(kind: String, dir: String, stamp: String,
      key: Any*): String =
    s"${System.getProperty("java.io.tmpdir")}/graft_$kind/" +
      (dir.replaceAll("[^A-Za-z0-9]", "_") +: key.map(_.toString) :+ stamp)
        .mkString("_")

  // Tables.fileStamp: <length>_<mtime>_<crc32 hex>
  private val stampShape = "\\d+_\\d+_[0-9a-f]+"
  // a stamp, or a pre-publish attempt or trash dir beside one
  private val orphanShape = s"$stampShape(_(v|attempt|trash)_[0-9a-f]{8})?".r
  // kinds whose pre-publish names put the stamp before the key
  private val stampFirstKinds = Set("snd_wm")
  // (kind, leading key token) -> the kind that artifact was published
  // under before, keyed without that token: vanilla PQ's index became
  // the IVF-PQ index of the origin quantizer, and the old layout (codes
  // with no cell column, no centroids.txt) must never be read as one
  private val movedKinds = Map(("ivfpq_index", "origin") -> "pq_index")
  // what the pre-publish IVF, PQ, IVF-PQ and containment indexes wrote
  // into their dir
  private val flatIndexFile =
    "assignment|codes|(meta|centroids|codebooks)\\.txt|buckets|sets|postings|_meta".r

  /** Where the artifact at `path` is read once published. */
  def finalDir(path: String): String = s"$path/final"

  /** Publish the artifact at `path` unless it is already complete, and
    * return [[finalDir]]. `build` writes the artifact into the dir it is
    * given (which does not exist yet). A `build` that throws publishes
    * nothing and its exception reaches the caller; a rename that fails
    * with no complete artifact in place is rethrown. */
  def publish(spark: SparkSession, path: String)(build: String => Unit): String = {
    val conf = spark.sparkContext.hadoopConfiguration
    val fin = new Path(finalDir(path))
    val fs = fin.getFileSystem(conf)
    def complete = fs.exists(new Path(fin, Marker))
    if (!complete) {
      def uuid8 = java.util.UUID.randomUUID().toString.take(8)
      val attempt = new Path(s"$path/v_$uuid8")
      try {
        build(attempt.toString)
        fs.create(new Path(attempt, Marker), false).close()
        // FileContext checks that dst is absent and then renames, which
        // races; on the local filesystem the loser's rename then falls
        // back to COPYING its attempt into the winner's final dir. A
        // local rename(2) onto a non-empty dir fails atomically instead.
        def move(src: Path, dst: Path): Unit =
          if (fs.getScheme == "file")
            Files.move(Paths.get(src.toUri.getPath), Paths.get(dst.toUri.getPath),
              StandardCopyOption.ATOMIC_MOVE)
          else FileContext.getFileContext(fin.toUri, conf).rename(src, dst)
        def rename(): Option[IOException] =
          try { move(attempt, fin); None }
          catch { case e: IOException => Some(e) }
        rename().filterNot(_ => complete).foreach { _ =>
          val trash = new Path(s"$path/trash_$uuid8")
          try move(fin, trash) catch { case _: IOException => () }
          fs.delete(trash, true)
          rename().filterNot(_ => complete).foreach(e => throw e)
        }
      } finally fs.delete(attempt, true) // no-op once renamed
    }
    fin.toString
  }
}
