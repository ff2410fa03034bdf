package graft.streaming

import graft.llm.TextOps
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** STREAMING TOKEN-QUOTA GATE — the online admission form of the
  * token-budget curation step ([[graft.llm.Sampling.tokenBudgetMix]] is
  * the offline rate-based form): each source's documents are admitted in
  * arrival order until the source's cumulative token count passes its
  * quota, after which the source is closed. This is the gate an ingest
  * pipeline runs when every domain/source may contribute at most N
  * tokens to a training corpus and the corpus is filling LIVE — no
  * second pass exists to compute acceptance rates from totals.
  *
  * Admission contract (prefix gate): a document is admitted iff the
  * running token total of its source — counting EVERY document seen so
  * far, admitted or not — is ≤ quota after adding it. The total is
  * monotone, so once a source overflows it stays closed: the admitted
  * set is exactly the maximal doc-ordered prefix whose cumulative sum
  * fits, which is what makes the semantics expressible as a plain SQL
  * window (`sum(n_toks) OVER (PARTITION BY source ORDER BY doc_id) ≤
  * quota`) — a STATEFUL STREAMING operator with a DuckDB oracle, when
  * arrival order is doc_id order (the feeder contract; within a
  * micro-batch the handler sorts, so any intra-batch shuffle order is
  * irrelevant).
  *
  * Scale: state is ONE long per source (the running total) — the
  * smallest possible streaming state, hash-partitioned by source;
  * per-batch work is O(batch log batch) for the per-group sort; the
  * token count is a per-row projection computed BEFORE the stateful
  * operator, so text never enters state. A hot source concentrates its
  * batch rows on one key — at real ingest rates pre-aggregate per
  * (source, feeder-file) upstream if a single source dominates a batch.
  * `NoTimeout` is deliberate: a quota total must never evict (dropping
  * it would re-open a closed source); O(sources) state needs no bound.
  *
  * Guarantees, by arrival pattern (StreamingQuotaGateSpec pins each):
  *
  *  - doc_id-ordered cross-batch arrival (the feeder contract):
  *    admitted set == the SQL window oracle, exactly.
  *  - ANY intra-batch order: irrelevant — the handler sorts each
  *    batch's rows per source before admitting.
  *  - out-of-doc_id-order CROSS-batch arrival: admission is by
  *    ARRIVAL prefix — a late-arriving earlier doc_id is charged when
  *    it arrives and may be rejected even though the doc_id-ordered
  *    window would have admitted it. This is inherent to ANY online
  *    prefix gate (no oracle claim applies then).
  *  - determinism: the admitted set (and every cum_tokens value) is a
  *    pure function of the arrival sequence — replaying the same
  *    batches in the same order reproduces it bit-for-bit.
  *  - monotone close: once a source's running total passes quota, no
  *    later arrival of that source is ever admitted.
  */
object StreamingQuotaGate extends Serializable {

  final case class DocTok(doc_id: Long, source: String, n_toks: Long)
  final case class Admit(doc_id: Long, source: String, n_toks: Long,
      cum_tokens: Long)

  /** (doc_id, source, text) stream → admitted-document stream. */
  def admissions(docs: DataFrame, quota: Long): Dataset[Admit] = {
    val spark = docs.sparkSession
    import spark.implicits._
    val toked = docs.select(col("doc_id"), col("source"),
      size(TextOps.tokens(col("text"))).cast("long").as("n_toks")).as[DocTok]

    def update(src: String, it: Iterator[DocTok],
        state: GroupState[Long]): Iterator[Admit] = {
      var cum = state.getOption.getOrElse(0L)
      // sort the batch's rows for this source: replayed batches emit
      // identically, and a single-batch run reproduces the SQL window
      val out = Vector.newBuilder[Admit]
      for (d <- it.toArray.sortBy(_.doc_id)) {
        cum += d.n_toks
        if (cum <= quota) out += Admit(d.doc_id, src, d.n_toks, cum)
      }
      state.update(cum)
      out.result().iterator
    }

    toked.groupByKey(_.source)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout)(update)
  }

  /** The registered bounded query: stream the documents table through
    * the gate (memory sink, run to completion). The table arrives as
    * one micro-batch in doc_id-sorted group order, so the admitted set
    * equals the SQL window oracle exactly — an oracle-checked stateful
    * streaming operator. */
  def quotaGateQuery(spark: SparkSession, dir: String,
      quota: Long = 800L): DataFrame =
    graft.Caches.memo(spark, s"streaming_quota_gate:$dir:$quota") {
      val schema = graft.Tables.documents(spark, dir).schema
      val stream = spark.readStream.schema(schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(dir)
        .select(col("doc_id"), col("source"), col("text"))
        // r21: fan the single-file micro-batch out BEFORE the per-row
        // tokenize (the streamingNearDupQuery rationale); admission is
        // batch-shuffle-invariant — the handler sorts each batch's rows
        // per source (same oracle row set). Production multi-file
        // ingest arrives parallel and drops this.
        .repartition(spark.sparkContext.defaultParallelism)
      // state is ONE long per source (20 here): scope the stateful
      // shuffle to the data-sized width instead of 32 near-empty state
      // stores each paying the per-commit floor.
      BoundedRun.collect(spark, "sqg_q_", "append",
          Seq("spark.sql.shuffle.partitions" -> "2"),
          _.select(col("doc_id"), col("source"), col("n_toks"), col("cum_tokens"))) {
        admissions(stream, quota).toDF()
      }
    }

  def quotaGateSql(quota: Long = 800L): String =
    s"""WITH d AS (SELECT doc_id, source,
       |    CAST(len(${TextOps.tokensSql}) AS BIGINT) AS n_toks
       |  FROM documents),
       |c AS (SELECT doc_id, source, n_toks,
       |        CAST(sum(n_toks) OVER (PARTITION BY source
       |          ORDER BY doc_id) AS BIGINT) AS cum_tokens
       |      FROM d)
       |SELECT doc_id, source, n_toks, cum_tokens
       |FROM c WHERE cum_tokens <= $quota""".stripMargin
}
