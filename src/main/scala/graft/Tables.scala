package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Parquet table loaders over the driver-generated testdata star schema
  * (TESTDATA.md) plus the derived "transactions" view that re-expresses the
  * reference's fraud-pipeline data model (transactions with customer /
  * merchant / category / amount / gender — /root/reference/mechanism_y/
  * "Mechanism Y.py":35-41) on top of the TPC-H-ish tables.
  *
  * All loaders are plain parquet scans ([[parquet]]): explicit column
  * pruning + filter pushdown stay available to Catalyst (the plans show
  * PushedFilters / ReadSchema), and at cluster scale these become
  * distributed columnar scans with partition pruning for free.
  */
object Tables {

  def lineitem(spark: SparkSession, dir: String): DataFrame =
    parquet(spark, s"$dir/lineitem.parquet")
  def orders(spark: SparkSession, dir: String): DataFrame =
    parquet(spark, s"$dir/orders.parquet")
  def customer(spark: SparkSession, dir: String): DataFrame =
    parquet(spark, s"$dir/customer.parquet")
  def supplier(spark: SparkSession, dir: String): DataFrame =
    parquet(spark, s"$dir/supplier.parquet")
  def part(spark: SparkSession, dir: String): DataFrame =
    parquet(spark, s"$dir/part.parquet")
  def nation(spark: SparkSession, dir: String): DataFrame =
    parquet(spark, s"$dir/nation.parquet")
  def region(spark: SparkSession, dir: String): DataFrame =
    parquet(spark, s"$dir/region.parquet")
  /** Schema-drift-tolerant events loader. The generator has shipped `ts`
    * both as TIMESTAMP(NANOS) (which Spark's parquet reader surfaces as
    * LongType only under the legacy nanosAsLong flag) and as plain
    * timestamp[us]; branch on what the file actually declares instead of
    * assuming a layout. The reference pins explicit schemas for the same
    * reason ("Mechanism Y.py":35-64). µs truncation of the nanos path is
    * harmless — every consumer buckets by minutes/hours; the session
    * runs UTC, so casting an NTZ timestamp changes no wall-clock value. */
  def events(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    normalizeTs(parquet(spark, s"$dir/events.parquet"))
  }
  /** The events `ts` as TIMESTAMP, whatever the file declared; shared
    * with [[graft.streaming.EventStreams.eventsStream]]. */
  def normalizeTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case LongType => // TIMESTAMP(NANOS) read as raw nanos
        df.withColumn("ts",
          timestamp_micros((col("ts") / lit(1000L)).cast("long")))
      case TimestampType => df
      case _ => // TimestampNTZType or future drift: normalize to TIMESTAMP
        df.withColumn("ts", col("ts").cast(TimestampType))
    }
  def documents(spark: SparkSession, dir: String): DataFrame =
    parquet(spark, s"$dir/documents.parquet")
  def embeddings(spark: SparkSession, dir: String): DataFrame =
    parquet(spark, s"$dir/embeddings.parquet")

  /** The SQL confs Spark's parquet schema converter reads: the same file
    * resolves to a different schema under a different value of any. */
  private val schemaConfs = Seq(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled")

  /** (path, schema confs) → (file stamp, schema); a new stamp replaces
    * the old entry. Left alone by [[Caches.release]]: like [[Published]]
    * artifacts it is metadata keyed by content, not data. */
  private val schemas =
    new java.util.concurrent.ConcurrentHashMap[(String, Seq[String]), (String, StructType)]()

  /** A parquet scan of `path` with its schema resolved once per file
    * stamp: a bare `spark.read.parquet` runs one schema-inference Spark
    * job on every call, a read with the schema declared runs none. */
  def parquet(spark: SparkSession, path: String): DataFrame = {
    val key = (path, schemaConfs.map(k => spark.conf.getOption(k).orNull))
    val stamp = fileStamp(spark, path)
    val schema = Option(schemas.get(key)).collect { case (`stamp`, s) => s }
      .getOrElse {
        val s = spark.read.parquet(path).schema
        schemas.put(key, (stamp, s))
        s
      }
    spark.read.schema(schema).parquet(path)
  }

  /** Content fingerprint of a source file, for keying derived artifacts
    * (ORC mirrors, PQ/dedup indexes) so a REGENERATED source never
    * silently serves a stale derivation — the events-table schema drift
    * showed the generator does rewrite tables between rounds.
    * Length+mtime alone can alias a regenerated file (identical byte
    * length written within the filesystem's mtime granularity), so a
    * CRC of the file TAIL is folded in: for parquet the tail is the
    * footer (row-group offsets, column stats), which changes whenever
    * the content does. One bounded ≤64 KiB read per stamp. */
  def fileStamp(spark: SparkSession, path: String): String = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val st = fs.getFileStatus(p)
    // a Spark-written table is a DIRECTORY of part files: stamp the
    // name-ordered data files (aggregate length + max mtime) and CRC
    // the last part's tail — the same "footer changes when content
    // does" property, still one bounded read
    // the directory branch stamps ONLY data files — _SUCCESS / hidden
    // markers and subdirectories are excluded from length, mtime, AND
    // the CRC target, so all three stamp inputs describe the same set.
    // Nested layouts (partitioned tables) recurse one listing per level;
    // graft tables are flat, but a partitioned dir stamps correctly too.
    def dataFiles(dir: org.apache.hadoop.fs.Path)
        : Array[org.apache.hadoop.fs.FileStatus] =
      fs.listStatus(dir)
        .filter(s => !s.getPath.getName.startsWith("_")
          && !s.getPath.getName.startsWith("."))
        .flatMap(s => if (s.isDirectory) dataFiles(s.getPath) else Array(s))
    val parts =
      if (!st.isDirectory) Array(st)
      else {
        val ps = dataFiles(p).sortBy(_.getPath.toString)
        require(ps.nonEmpty, s"fileStamp: no data files under $path")
        ps
      }
    val target = parts.last
    val totalLen = parts.map(_.getLen).sum
    val mtime = parts.map(_.getModificationTime).max
    val tail = new Array[Byte](math.min(target.getLen, 65536L).toInt)
    val in = fs.open(target.getPath)
    try in.readFully(math.max(0L, target.getLen - tail.length), tail)
    finally in.close()
    val crc = new java.util.zip.CRC32(); crc.update(tail)
    s"${totalLen}_${mtime}_${java.lang.Long.toHexString(crc.getValue)}"
  }

  /** Fan a small-file scan out to every core — but ONLY when the scan
    * actually under-parallelizes. The testdata doc/embedding tables
    * arrive as one parquet file → one scan partition, so per-row compute
    * (shingling, hashing, pair joins) would run single-threaded; there
    * the shuffled bytes are tiny relative to the compute they unlock.
    * A 100 TB corpus arrives as thousands of splits already ≥ the
    * session's parallelism — repartitioning it would be a full-corpus
    * shuffle for nothing, so this is a no-op exactly then. */
  def fanOut(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions >= target) df else df.repartition(target)
  }

  /** The reference's transaction stream schema re-expressed on testdata:
    * customer = o_custkey, merchant = l_suppkey, category = l_returnflag,
    * amount = l_extendedprice, gender derived deterministically from the
    * customer key (the reference carries gender on each transaction row,
    * "Mechanism Y.py":35-41; testdata has no gender column).
    *
    * lineitem ⋈ orders is an equi-join on the orderkey; at cluster scale
    * both sides shuffle on l_orderkey/o_orderkey once (sort-merge join) —
    * or zero times if the tables are bucketed by orderkey. No driver-side
    * materialization.
    */
  def transactions(spark: SparkSession, dir: String): DataFrame =
    // Memoized behind Caches: seven registered queries re-derive this
    // join, so in warm (suite) mode the persisted frame amortizes the
    // lineitem⋈orders shuffle across all of them. Cold/cluster mode
    // keeps the no-cache behavior — Bench's cold pass calls
    // Caches.release before every query, so each rebuild recomputes the
    // co-partitioned join instead of pinning executor memory. fanOut
    // un-pins the AQE-coalesced join layout (often 1-2 partitions at
    // test SFs) BEFORE persist so cached consumers scan in parallel —
    // and is a NO-OP when the join output already carries ≥ the
    // session's parallelism (cluster scale), where an unconditional
    // repartition would be a gratuitous full extra shuffle.
    Caches.memo(spark, s"transactions:$dir") {
      val li = lineitem(spark, dir)
      val o  = orders(spark, dir)
      // discount rides along (not part of the reference's transaction
      // schema or the oracle CTE) so [[importance]] can roll up from
      // THIS frame instead of re-running the fact join — cold queries
      // that need both views pay one lineitem⋈orders pass, not two
      fanOut(li.join(o, li("l_orderkey") === o("o_orderkey"))
        .select(
          o("o_custkey").as("customer"),
          li("l_suppkey").as("merchant"),
          li("l_returnflag").as("category"),
          li("l_extendedprice").as("amount"),
          when(o("o_custkey") % 2 === 0, lit("M")).otherwise(lit("F")).as("gender"),
          li("l_discount").as("discount")))
    }

  /** SQL text of [[transactions]] as a DuckDB CTE body, reused by oracle
    * queries so Spark and the oracle derive from the identical view. */
  val transactionsSql: String =
    """SELECT o_custkey AS customer, l_suppkey AS merchant,
      |       l_returnflag AS category, l_extendedprice AS amount,
      |       CASE WHEN o_custkey % 2 = 0 THEN 'M' ELSE 'F' END AS gender
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey""".stripMargin

  /** The CustomerImportance analog (reference loads a static CSV of
    * (Source customer, Target merchant, typeTrans, Weight) —
    * "Mechanism Y.py":42-46, 68-70). Here the dim is derived from the data:
    * weight = average discount a (customer, merchant, category) triple sees.
    * Sum is computed over DECIMAL so Spark and the oracle agree bit-for-bit
    * (double summation order is engine-specific; decimal addition is exact).
    */
  def importance(spark: SparkSession, dir: String): DataFrame =
    // memoized like [[transactions]]: agg_percentile / enrich_join /
    // low_weight_pairs and the pattern tree all re-derive this aggregate;
    // warm mode builds the grouped dim once. Same guarded fanOut as
    // transactions: AQE coalesces the byte-small agg output to ~1
    // partition at test SFs (which would serialize every cached consumer
    // scan), but an already-parallel aggregate is left untouched.
    Caches.memo(spark, s"importance:$dir") {
      // rolls up from the [[transactions]] memo (which carries discount
      // for exactly this purpose): one shared fact join feeds both
      // derived views, warm AND cold — the rollup arithmetic is the
      // same exact DECIMAL sum as the direct aggregation
      // cached partitioned by (merchant, category): the percentile agg
      // groups on exactly these keys and the low_weight_pairs /
      // pattern-tree joins cluster on them, so every warm consumer
      // rides the cache with NO exchange of its own. Explicit
      // numPartitions (REPARTITION_BY_NUM) — an expression-only
      // repartition is AQE-coalescible and this byte-small frame would
      // collapse to 1 partition, serializing every cached consumer.
      transactions(spark, dir)
        .groupBy(col("customer"), col("merchant"), col("category"))
        .agg(
          round(sum(col("discount").cast(DecimalType(18, 6))).cast("double") /
            count(lit(1)), 6).as("weight"))
        .repartition(spark.sparkContext.defaultParallelism,
          col("merchant"), col("category"))
    }

  /** S2 — static CSV read with an explicit schema and header, the
    * reference's CustomerImportance load shape ("Mechanism Y.py":68):
    * no schema inference job, types declared up front. */
  def importanceFromCsv(spark: SparkSession, path: String): DataFrame =
    spark.read
      .format("csv")
      .option("header", "true")
      .schema(StructType(Seq(
        StructField("customer", LongType),
        StructField("merchant", LongType),
        StructField("category", StringType),
        StructField("weight", DoubleType))))
      .load(path)

  val importanceSql: String =
    """SELECT o_custkey AS customer, l_suppkey AS merchant,
      |       l_returnflag AS category,
      |       round(CAST(sum(CAST(l_discount AS DECIMAL(18,6))) AS DOUBLE)
      |             / count(*), 6) AS weight
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY 1, 2, 3""".stripMargin
}
