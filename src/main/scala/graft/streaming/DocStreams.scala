package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Structured Streaming over the `documents` domain: a training-data
  * pipeline ingests text continuously, so the scrub stages (quality
  * filter, token stats, exact dedup, per-source accounting) must run
  * incrementally with the SAME semantics as the batch catalog queries.
  * Every transform here takes a streaming OR batch DataFrame — the batch
  * twin is what the DuckDB oracle checks (d1/d2/d3), and DocStreamSpec
  * proves streaming == batch on the same corpus.
  */
object DocStreams {

  val docSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** streaming twin of the documents table: parquet dir → typed stream */
  def readStream(spark: SparkSession, dir: String): DataFrame =
    spark.readStream
      .schema(docSchema)
      .option("pathGlobFilter", "documents*.parquet")
      .parquet(dir)

  private def toks(c: org.apache.spark.sql.Column) = split(trim(c), " +")

  /** d3's keep/drop verdict as a stateless streaming filter — the SAME
    * `TextDocs.qualityKeep` predicate the oracle-checked batch query uses,
    * so the two surfaces cannot drift */
  def qualityFilter(docs: DataFrame): DataFrame =
    docs.filter(graft.catalog.TextDocs.qualityKeep(col("text")))

  /** d2's per-document token stats, stateless (append-mode safe) */
  def tokenStats(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      size(toks(col("text"))).cast("long").as("n_tokens"),
      col("n_chars"))

  /** exact-dedup on the content hash. In an unbounded deployment this
    * needs `withWatermark` + `dropDuplicatesWithinWatermark` on an
    * event-time column (the corpus has none); plain dropDuplicates keeps
    * all-time state — correct semantics, bounded only by distinct
    * contents, which is the same bound the batch hash-groupBy (d1) has. */
  def dedupeExact(docs: DataFrame): DataFrame =
    docs.withColumn("fp", md5(col("text"))).dropDuplicates("fp")

  /** running per-source document counts (complete-mode aggregation —
    * `source` is a low-cardinality dimension, so state is tiny) */
  def sourceCounts(docs: DataFrame): DataFrame =
    docs.groupBy(col("source")).agg(count(lit(1)).as("n_docs"))

  /** 3-shingles of the whitespace tokens (shared shape with
    * d18/Approx.shinglesOfTokens; docs under 3 tokens shingle to empty) */
  private def shingles(text: org.apache.spark.sql.Column) = {
    val tk = toks(text)
    when(size(tk) >= 3,
      array_distinct(transform(sequence(lit(1), size(tk) - 2), i =>
        concat_ws(" ", element_at(tk, i), element_at(tk, i + 1),
          element_at(tk, i + 2)))))
      .otherwise(array().cast("array<string>"))
  }

  /** the eval-set shingle universe for [[decontaminate]], built once from
    * the BATCH documents table (the benchmark corpus is static reference
    * data, not part of the stream). Sorted for determinism. */
  def evalShingles(spark: SparkSession, dir: String): Seq[String] = {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    docs.filter(col("doc_id") % 50 === 0)
      .select(explode(shingles(col("text"))).as("sh"))
      .distinct().orderBy("sh")
      .collect().map(_.getString(0)).toSeq
  }

  /** d18's decontamination verdict as a STATELESS streaming filter: keep
    * docs sharing no 3-gram window with the eval set. The eval universe
    * is a benchmark — tiny next to any corpus — so it travels as a
    * literal array (a broadcast in cluster terms) and the check is a
    * per-row arrays_overlap: no join state, no watermark, append-safe.
    * Docs too short to shingle are clean by definition. Batch parity with
    * d18's `keep` column is pinned by DocStreamSpec. */
  def decontaminate(docs: DataFrame, evalSh: Seq[String]): DataFrame =
    docs.filter(!arrays_overlap(shingles(col("text")),
      typedlit(evalSh).cast("array<string>")))

  /** The historical corpus reduced to its content-hash table — the only
    * thing the incremental dedup ever needs from history (the text
    * column never loads). */
  def historyHashes(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/documents.parquet")
      .groupBy(md5(col("text")).as("fp"))
      .agg(min(col("doc_id")).as("hist_id"))

  /** d26's incremental ingest dedup as a stream-STATIC join: each
    * micro-batch of incoming docs probes the static historical hash
    * table (Spark re-plans the static side per micro-batch — broadcast
    * when small, shuffle otherwise). No state store is involved: the
    * HISTORY is the state, and it lives in a table, not in the query —
    * exactly how a 100 TB ingest keeps its dedup index durable across
    * job restarts. Stateless per batch, append-safe. Batch parity is
    * pinned by DocStreamSpec (same function works on a batch frame). */
  def incrementalDedup(incoming: DataFrame, history: DataFrame): DataFrame =
    incoming.withColumn("fp", md5(col("text")))
      .join(history, Seq("fp"), "left")
      .select(col("doc_id"),
        coalesce(col("hist_id"), lit(-1L)).as("hist_id"),
        when(col("hist_id").isNull, lit("ingest"))
          .otherwise(lit("skip_dup")).as("verdict"))

  /** the historical 3-shingle universe (durable, table-backed — the
    * same no-state-store discipline as historyHashes) */
  def historyShingles(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/documents.parquet")
      .select(toks(col("text")).as("tok"))
      .filter(size(col("tok")) >= 3)
      .select(explode(graft.catalog.Approx.shinglesOfTokens(col("tok")))
        .as("s"))
      .distinct()

  /** the historical simhash band index — d44's pigeonhole decomposition
    * (4 exact-match 16-bit bands over the compiled md5_simhash_words
    * signature) of every accepted doc, carrying its (hi, lo) words so a
    * probe verifies Hamming in the joined row. 4 rows per historical
    * doc, durable in a table (the historyHashes discipline: restart
    * resumes from source offsets alone; at 100 TB this index is itself
    * a parquet table keyed by (band, key)). */
  def historySimhashBands(spark: SparkSession, dir: String): DataFrame = {
    val bands = graft.catalog.Approx.simhashBands(
      graft.catalog.Approx.simhashSig(
        spark.read.parquet(s"$dir/documents.parquet")
          .select(col("doc_id"), col("text")),
        barrier = true))
    // oversized-bucket guard AT INDEX BUILD (the d7/d44 discipline): a
    // 16-bit band value shared by > MaxLshBucket historical docs is
    // boilerplate that exact dedup owns; without the cap one mega-bucket
    // makes every incoming doc sharing it fan out to N join rows per
    // micro-batch — the uncapped-LSH blowup on the ingest hot path.
    val sizes = bands.groupBy("band", "key")
      .agg(count(lit(1)).as("bsz"))
    bands
      .join(sizes.filter(col("bsz") <= graft.catalog.Approx.MaxLshBucket),
        Seq("band", "key"))
      .select(col("band"), col("key"), col("doc_id").as("hist_id"),
        col("hi").as("hist_hi"), col("lo").as("hist_lo"))
  }

  /** d44's NEAR-dup dedup at INGEST time — the causal streaming twin of
    * the batch pair-mining query: each incoming doc is simhash-signed
    * (compiled kernel), its 4 pigeonhole bands probe the durable
    * historical band index (by the Hamming≤3 guarantee every qualifying
    * historical partner IS found), candidates verify with XOR+popcount,
    * and the doc's verdict is decided by its BEST historical match:
    * skip_near_dup iff min Hamming ≤ 3.
    *
    * TRULY stateless: the static index is pre-grouped to ONE row per
    * (band, key) carrying its candidates as an array (bounded by the
    * index build's MaxLshBucket cap, so ≤ 4·65536 rows of ≤ 256 entries
    * regardless of corpus size), each band probe is a 1:1 stream-static
    * equi-join, and the per-doc min is a row-local array fold — NO
    * streaming aggregation, no state store, append-mode output; a
    * restart genuinely resumes from source offsets alone. `hamming` /
    * `near_hist_id` are -1 when NO band collided at all (distinct from
    * every legal distance 0–64, so audit consumers can tell "no
    * candidate" from "candidate at distance 64"). DocStreamSpec runs the
    * identical code on batch frames for exact parity and cross-checks
    * the verdicts against d44's pair output. */
  def incrementalNearDedup(incoming: DataFrame, history: DataFrame): DataFrame = {
    val grouped = history.groupBy(col("band"), col("key"))
      .agg(collect_list(struct(col("hist_id"), col("hist_hi"),
        col("hist_lo"))).as("cands"))
    val sig = graft.catalog.Approx.simhashSig(
      incoming.select(col("doc_id"), col("text")), barrier = false)
    // the 4 pigeonhole band keys as COLUMNS (same order as
    // Approx.simhashBands' posexplode), so no incoming row ever fans out
    val keyed = sig
      .withColumn("k0", col("lo").bitwiseAND(lit(65535L)))
      .withColumn("k1", shiftright(col("lo"), 16).bitwiseAND(lit(65535L)))
      .withColumn("k2", col("hi").bitwiseAND(lit(65535L)))
      .withColumn("k3", shiftright(col("hi"), 16).bitwiseAND(lit(65535L)))
    val probed = (0 until 4).foldLeft(keyed) { (df, b) =>
      df.join(grouped.filter(col("band") === b)
        .select(col("key").as(s"k$b"), col("cands").as(s"c$b")),
        Seq(s"k$b"), "left")
    }
    probed
      .withColumn("allc", flatten(filter(
        array(col("c0"), col("c1"), col("c2"), col("c3")), _.isNotNull)))
      .withColumn("best", array_min(transform(col("allc"), c =>
        struct((bit_count(col("hi").bitwiseXOR(c.getField("hist_hi")))
            + bit_count(col("lo").bitwiseXOR(c.getField("hist_lo"))))
          .cast("long").as("hamming"),
          c.getField("hist_id").as("hist_id")))))
      .select(col("doc_id"),
        coalesce(col("best.hamming"), lit(-1L)).as("hamming"),
        when(col("best.hamming") <= 3, col("best.hist_id"))
          .otherwise(lit(-1L)).as("near_hist_id"),
        when(col("best.hamming") <= 3, lit("skip_near_dup"))
          .otherwise(lit("ingest")).as("verdict"))
  }

  /** d41's novelty signal over ONE BOUNDED FRAME — score each incoming
    * doc BEFORE paying to store/train on it: novelty = fraction of its
    * distinct 3-shingles absent from the durable historical shingle
    * table. Stream-static left join on the shingle key + one per-doc
    * aggregate. Unlike batch d41 (global first-occurrence attribution),
    * the incremental form is causal: a doc is judged only against what
    * the pipeline had ALREADY accepted.
    *
    * The per-doc groupBy makes this a BATCH transform: called on a
    * streaming frame directly it would plan a stateful streaming
    * aggregation whose state store accumulates one entry per doc_id
    * with no watermark to bound it (the corpus has no event-time
    * column). The streaming deployment is [[noveltyGate]], which runs
    * this inside foreachBatch — each doc's shingle rows live entirely
    * within its micro-batch, so the per-batch aggregate is EXACT and no
    * query-level state exists. DocStreamSpec pins foreachBatch ==
    * batch twin and asserts the running query holds zero state
    * operators. */
  def incrementalNovelty(incoming: DataFrame, history: DataFrame): DataFrame =
    incoming
      .select(col("doc_id"), toks(col("text")).as("tok"))
      .filter(size(col("tok")) >= 3)
      .select(col("doc_id"),
        explode(graft.catalog.Approx.shinglesOfTokens(col("tok"))).as("s"))
      .join(history.select(col("s"), lit(1L).as("known")), Seq("s"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("known").isNull, 1L).otherwise(0L)).as("n_novel"))
      .select(col("doc_id"), col("n_shingles"), col("n_novel"),
        (col("n_novel").cast("double") / col("n_shingles").cast("double"))
          .as("novelty"))

  /** the STREAMING novelty deployment — stateless by construction: the
    * stream carries raw docs (no aggregation in the streaming plan, so
    * no state store; restart resumes from source offsets + the
    * checkpoint's batch ledger), and each micro-batch runs the exact
    * [[incrementalNovelty]] batch aggregate via foreachBatch. Output
    * lands under `outPath/batch=<id>` with per-batch OVERWRITE, making
    * replay after a crash idempotent (the replayed batch rewrites its
    * own directory byte-for-byte; Spark's foreachBatch contract replays
    * at most the last uncommitted id). Readers glob `outPath` — the
    * batch=N partition column rides along as provenance. */
  def noveltyGate(incoming: DataFrame, history: DataFrame, outPath: String,
      checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    incoming.writeStream
      .foreachBatch {
        (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
            id: Long) =>
          incrementalNovelty(batch, history)
            .write.mode("overwrite").parquet(s"$outPath/batch=$id")
      }
      .option("checkpointLocation", checkpoint)
      .start()
}
