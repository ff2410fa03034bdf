package graft.ingest

import java.nio.charset.StandardCharsets
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row}
import scala.jdk.CollectionConverters._

/** Mechanism-X analog (mechanism_x/mechanism_x.py): slice a transaction
  * table into fixed-size CSV chunk files dropped into a watched directory
  * at a configurable interval (10,000 rows / 1 file per second in the
  * reference — mechanism_x.py:17-18). The watched directory stands in
  * for the S3 chunk bucket; `s3a://` URIs work unchanged since the
  * consumer reads whatever path it's given.
  *
  * Driver-side by design, like the reference (a feeder process, not a
  * distributed job): the source here is a local iterator over the
  * DataFrame, chunked and written with unique, ordered names
  * (mechanism_x.py:48 name scheme).
  */
object ChunkFeeder {

  /** IST (Asia/Kolkata) wall-clock chunk-name timestamp — the zone the
    * reference's feeder runs in (mechanism_x.py:48 `datetime.now()` on
    * an IST host), so names sort identically to the reference's. */
  private[graft] def chunkTimestamp(): String =
    java.time.ZonedDateTime.now(java.time.ZoneId.of("Asia/Kolkata"))
      .format(java.time.format.DateTimeFormatter.ofPattern("yyyyMMdd_HHmmss"))

  private def csvEscape(v: Any): String = v match {
    case null => ""
    case s: String if s.contains(",") || s.contains("\"") ||
        s.contains("\n") || s.contains("\r") =>
      "\"" + s.replace("\"", "\"\"") + "\""
    case other => other.toString
  }

  /** Publish `bytes` as `dir/name` through the hidden `.<name>.tmp` and a
    * rename, so no lister (the file-stream source, a glob) sees a
    * half-written file. Called on the driver and on executors. */
  private[graft] def publish(fs: FileSystem, dir: Path, name: String,
      bytes: Array[Byte]): Unit = {
    val tmp = new Path(dir, s".$name.tmp")
    val out = fs.create(tmp, true)
    try out.write(bytes) finally out.close()
    val dst = new Path(dir, name)
    // rename reports failure by returning false; a swallowed false would
    // leave the file as a hidden .tmp no lister sees
    if (!fs.rename(tmp, dst))
      throw new java.io.IOException(s"publish rename failed: $tmp -> $dst")
  }

  /** Chunk file `part` of a feed, in the reference name scheme
    * (mechanism_x.py:80-82): <prefix>_<YYYYMMDD_HHMMSS>_<uuid8>_part<n>.csv
    * — the ts+uuid make two feeds into one directory unique, so the
    * stream's seen-file checkpoint log never confuses a refeed with an
    * already-consumed chunk. */
  private def publishChunk(fs: FileSystem, dir: Path, namePrefix: String, part: Int,
      header: String, rows: Seq[Row]): Unit = {
    val uuid8 = java.util.UUID.randomUUID().toString.split("-")(0)
    val body = (header +: rows.map(row =>
      (0 until row.length).map(i => csvEscape(row.get(i))).mkString(",")))
      .mkString("", "\n", "\n")
    publish(fs, dir, f"${namePrefix}_${chunkTimestamp()}_${uuid8}_part$part%05d.csv",
      body.getBytes(StandardCharsets.UTF_8))
  }

  /** Write ceil(n/chunkSize) chunk files; returns the number written.
    * intervalMs > 0 paces uploads like the reference's 1/s sleep.
    * The writes go through the Hadoop FileSystem API, so `outDir` may
    * be local, `hdfs:` or an object store (`s3a://`/`s3g://`) — the
    * reference's boto3 upload target (mechanism_x.py:80-82). */
  def feed(df: DataFrame, outDir: String, chunkSize: Int = 10000,
      intervalMs: Long = 0L, namePrefix: String = "transactions_chunk"): Int = {
    val dir = new Path(outDir)
    val fs = dir.getFileSystem(
      df.sparkSession.sparkContext.hadoopConfiguration)
    fs.setWriteChecksum(false) // no .crc sidecars in the watched dir
    fs.mkdirs(dir)
    val header = df.columns.mkString(",")
    var part = 0
    df.toLocalIterator().asScala.grouped(chunkSize).foreach { rows =>
      publishChunk(fs, dir, namePrefix, part, header, rows)
      part += 1
      if (intervalMs > 0) Thread.sleep(intervalMs)
    }
    part
  }

  /** Distributed sibling of [[feed]] (SURVEY.md §2.1 S1's scale
    * mapping): the same ceil(n/chunkSize) chunk files with the same
    * `<prefix>_<ts>_<uuid8>_part<n>.csv` naming contract, but written BY
    * EXECUTORS — no driver iterator anywhere. Shape:
    *
    *   zipWithIndex (no shuffle) → chunk id = rowIdx / chunkSize →
    *   ONE shuffle routing each chunk to its own reducer →
    *   each reducer sorts its ≤chunkSize rows back into table order and
    *   writes its file via the Hadoop FileSystem API (so `file:`,
    *   `hdfs:` and `s3a:` output dirs all work), write-then-rename like
    *   the driver feeder so the file-stream source never lists a
    *   half-written file.
    *
    * Memory per reducer is bounded by chunkSize rows (the reference's
    * 10k), so a 100 TB feed fans out to n/10k fully parallel writers
    * with nothing funnelling through the driver. */
  def feedDistributed(df: DataFrame, outDir: String, chunkSize: Int = 10000,
      namePrefix: String = "transactions_chunk"): Int = {
    val header = df.columns.mkString(",")
    // ONE materialization for the three passes (size job, zipWithIndex's
    // internal size job, write pass): unpersisted, the source would
    // recompute per action, and a non-deterministic source (sample,
    // unsorted limit, a watched directory gaining a file mid-feed) could
    // yield more rows in the write pass than the count that sized the
    // partitioner — getPartition would route past numPartitions and
    // crash the shuffle write
    val rdd = df.rdd.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val n = rdd.count()
      if (n == 0) return 0 // contract is "number WRITTEN" — feed() agrees
      val nChunks = math.ceil(n.toDouble / chunkSize).toInt
      val withIdx = rdd.zipWithIndex()
      val keyed = withIdx.map { case (row, idx) =>
        ((idx / chunkSize).toInt, (idx, row)) }
      val parted = keyed.partitionBy(new org.apache.spark.Partitioner {
        override def numPartitions: Int = nChunks
        override def getPartition(key: Any): Int = key.asInstanceOf[Int]
      })
      parted.foreachPartition { it =>
        // shuffle arrival order is nondeterministic; the in-memory sort
        // (bounded by chunkSize rows) restores table order within the file
        val rows = it.toArray.sortBy(_._2._1)
        if (rows.nonEmpty) {
          val dir = new Path(outDir)
          val fs = dir.getFileSystem(new org.apache.hadoop.conf.Configuration())
          fs.setWriteChecksum(false) // no .crc sidecars in the watched dir
          fs.mkdirs(dir)
          publishChunk(fs, dir, namePrefix, rows.head._1, header,
            rows.toSeq.map { case (_, (_, row)) => row })
        }
      }
      nChunks
    } finally rdd.unpersist(blocking = false)
  }
}
