package graft

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.concurrent.{CyclicBarrier, TimeUnit}

import org.scalatest.funsuite.AnyFunSuite

/** The one publish path for derived artifacts ([[Published]]): racing
  * builders, torn final dirs, failing builds, and the stamp GC. */
class PublishedSpec extends AnyFunSuite with TempDirs {
  import SparkTestSession.{sf, spark}

  private def write(dir: String, name: String, text: String): Unit = {
    Files.createDirectories(Paths.get(dir))
    Files.write(Paths.get(dir, name), text.getBytes(UTF_8))
  }
  private def read(dir: String, name: String): String =
    new String(Files.readAllBytes(Paths.get(dir, name)), UTF_8)
  /** Visible entries (Hadoop's local FS adds `.crc` siblings). */
  private def names(dir: String): Set[String] =
    Option(new File(dir).list()).getOrElse(Array.empty[String])
      .filterNot(_.startsWith(".")).toSet

  test("racing publishers: both return the path, one payload published whole, no attempt left") {
    // the losing rename's window is narrow: race many times
    for (round <- 0 until 100) {
      val base = tempDir("graft-pub-race").toString
      // both builders pass the completeness check before either renames
      val bothBuilding = new CyclicBarrier(2)
      val got = new Array[String](2)
      val threads = (0 until 2).map { i =>
        new Thread(() => {
          got(i) = Published.publish(spark, base) { at =>
            bothBuilding.await(60, TimeUnit.SECONDS)
            write(at, "a.txt", s"payload-$i")
            write(at, "b.txt", s"payload-$i")
          }
        })
      }
      threads.foreach(_.start()); threads.foreach(_.join(120000))
      val fin = Published.finalDir(base)
      assert(got.toSeq == Seq(fin, fin), s"round $round")
      assert(names(fin) == Set("a.txt", "b.txt", Published.Marker), s"round $round")
      assert(read(fin, "a.txt") == read(fin, "b.txt"),
        s"round $round: published dir mixes two builders' payloads")
      assert(Set("payload-0", "payload-1").contains(read(fin, "a.txt")))
      assert(names(base) == Set("final"),
        s"round $round: attempt dirs left: ${names(base)}")
      org.apache.hadoop.fs.FileUtil.fullyDelete(new File(base))
    }
  }

  test("a final dir without the marker is swapped out and rebuilt") {
    val base = tempDir("graft-pub-torn").toString
    val fin = Published.finalDir(base)
    write(fin, "torn.txt", "half")
    assert(Published.publish(spark, base)(write(_, "ok.txt", "whole")) == fin)
    assert(names(fin) == Set("ok.txt", Published.Marker))
    assert(names(base) == Set("final"))
    // complete now: a second publish builds nothing
    Published.publish(spark, base)(_ => fail("complete artifact rebuilt"))
  }

  test("a build that throws publishes nothing, leaves no attempt, and surfaces") {
    val base = tempDir("graft-pub-fail").toString
    val e = intercept[IllegalStateException] {
      Published.publish(spark, base) { at =>
        write(at, "part.txt", "partial")
        throw new IllegalStateException("build failed")
      }
    }
    assert(e.getMessage == "build failed")
    assert(names(base).isEmpty, s"left behind: ${names(base)}")
  }

  test("stamp GC: drops this (kind, dir, key) under a dead stamp, keeps nested, suffixed and other-key artifacts") {
    val kind = "published_spec_gc"
    val stamp = Tables.fileStamp(spark, s"$sf/documents.parquet")
    val dead = "9_9_ab"
    val stale = Published.pathFor(kind, sf, dead, 10)
    // names that extend this dir's `<dir-key>_10_` prefix
    val kept = Seq(
      Published.pathFor(kind, s"$sf/y", dead, 10),
      Published.pathFor(kind, s"$sf/10", dead, 10),
      Published.pathFor(kind, s"${sf}_10", dead, 10),
      Published.pathFor(kind, sf, stamp, 20),
      Published.pathFor(kind, sf, dead, 20))
    (stale +: kept).foreach(p => Files.createDirectories(Paths.get(p)))
    try {
      val live = Published.cachePath(spark, kind, sf, "documents.parquet", 10)
      assert(live == Published.pathFor(kind, sf, stamp, 10))
      assert(!new File(stale).exists(), "GC kept a dead stamp of this key")
      kept.foreach(p => assert(new File(p).exists(), s"GC deleted $p"))
    } finally org.apache.hadoop.fs.FileUtil.fullyDelete(
      new File(stale).getParentFile)
  }

  test("legacy GC: drops pre-publish orphans, stamp-first wm names and flat index files, keeps live artifacts") {
    // the wm feed's kind under keys no query uses: the sweep runs in the
    // shared tmpdir
    val kind = "snd_wm"
    val stamp = Tables.fileStamp(spark, s"$sf/documents.parquet")
    val dead = "9_9_ab"
    val live = Published.pathFor(kind, sf, stamp, 97, "p13")
    val parent = new File(live).getParent
    val dirKey = sf.replaceAll("[^A-Za-z0-9]", "_")
    val legacy = Seq(
      s"${dirKey}_${dead}_97_p13", s"${dirKey}_${stamp}_97_p13",   // stamp-first wm order
      s"${Published.pathFor(kind, sf, dead, 97, "p13")}_v_1a2b3c4d",
      s"${live}_attempt_0f0f0f0f", s"${live}_trash_deadbeef")
      .map(n => if (n.startsWith("/")) n else s"$parent/$n")
    // names that extend this dir's prefixes, or a live artifact's files
    val kept = Seq(
      Published.pathFor(kind, s"$sf/y", dead, 97, "p13"),
      Published.pathFor(kind, s"${sf}_10", dead, 97, "p13"),
      s"$parent/${dirKey}_10_${dead}_97_p13",
      s"$parent/${dirKey}_y_${stamp}_97_p13",
      Published.pathFor(kind, sf, stamp, 97, "p14"),
      Published.finalDir(live))
    (legacy ++ kept).foreach(p => Files.createDirectories(Paths.get(p)))
    Seq("codes", "assignment", "buckets", "sets", "postings")
      .foreach(d => Files.createDirectories(Paths.get(live, d)))
    Seq("meta.txt", "centroids.txt", "codebooks.txt", "_meta").foreach(write(live, _, "old"))
    write(Published.finalDir(live), Published.Marker, "")
    try {
      assert(Published.cachePath(spark, kind, sf, "documents.parquet", 97, "p13") == live)
      legacy.foreach(p => assert(!new File(p).exists(), s"GC kept $p"))
      kept.foreach(p => assert(new File(p).exists(), s"GC deleted $p"))
      assert(names(live) == Set("final"))
      assert(names(Published.finalDir(live)) == Set(Published.Marker))
    } finally (Seq(live) ++ legacy ++ kept).foreach(p =>
      org.apache.hadoop.fs.FileUtil.fullyDelete(new File(p)))
  }
}
