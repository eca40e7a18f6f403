package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted full-text retrieval index: token-partitioned postings
  * with term frequencies, a document-length table, and an O(1)
  * `stats.json` sidecar (corpus size + total token count) — the
  * build-once/query-many artifact behind ranked (BM25) and boolean
  * retrieval, following the d26/s09 serving discipline.
  *
  * Layout under `path`:
  *   - `postings/token=<t>/` — (doc_id, tf) parquet, partitioned by
  *     token: a query's tokens map to STATIC partition filters, so a
  *     3-token query reads 3 directories, never the corpus.
  *   - `doclen/` — (doc_id, dl) parquet (dl = token count; rows for
  *     zero-length docs too, so avgdl matches the corpus definition).
  *   - `stats.json` — `n_docs` / `sum_dl`, read driver-side at query
  *     time (avgdl and the idf corpus constant come from here — no
  *     corpus-sized aggregation on the serving path).
  *   - batch markers and the `doc_id` tombstone table, kept by
  *     [[IndexLog]] (namespaces `TextAdds` and `TextDeletes`).
  *
  * Adds, deletes and compaction follow the [[IndexLog]] protocol. The
  * crash window between an add's append and its marker can leave
  * DUPLICATE rows, so every reader aggregates per key ([[postings]]
  * max(tf) per (token, doc), [[doclen]] max(dl) per doc) — the
  * pqRerank discipline: duplicates can never change a score or occupy
  * two ranks, and [[compact]] physically removes them later.
  */
object TextIndex {

  /** Tokenization shared by build and every query path: whitespace
    * split, empty tokens dropped — streamed, never materialized as an
    * array (a 10 MB zipf-giant doc would cost a ~100 MB token array
    * per row eval; the lazy generator and the counting pass cost one
    * text-bytes copy and zero bytes respectively). */
  private def explodeToks(textCol: String) =
    graft.functions.TokensGenerator.explodeTokens(col(textCol), skipEmpty = true)

  private def nTokens(textCol: String) =
    graft.functions.TokenCountExpr.nonEmptyTokenCount(col(textCol))

  /** Build the index from a corpus. One explode + one (doc, token)
    * partial-agg shuffle for the postings; the doclen pass is a
    * map-only projection; stats is one O(1) aggregate. */
  def build(docs: DataFrame, idCol: String, textCol: String,
            path: String): Unit = {
    writeTables(docs, idCol, textCol, path, "errorifexists")
    writeStats(docs.sparkSession, path)
  }

  /** Write `docs`' doclen and postings rows with save mode `mode`. */
  private def writeTables(docs: DataFrame, idCol: String, textCol: String,
                          path: String, mode: String): Unit = {
    docs.select(col(idCol).as("doc_id"),
      nTokens(textCol).cast("long").as("dl"))
      .write.mode(mode).parquet(s"$path/doclen")
    docs.select(col(idCol).as("doc_id"),
        explodeToks(textCol).as("token"))
      .groupBy(col("token"), col("doc_id"))
      .agg(count(lit(1)).as("tf"))
      .write.mode(mode).partitionBy("token").parquet(s"$path/postings")
  }

  /** Append a new document batch with the frozen tokenization —
    * the daily-crawl update path, exactly-once per `batchId`
    * ([[IndexLog]]); re-adding a deleted doc revives it. Stats are
    * recomputed from the (deduplicated) doclen table and swapped in
    * last, so a crash anywhere leaves a queryable index. */
  def addBatch(docs: DataFrame, idCol: String, textCol: String,
               path: String, batchId: String): Unit = {
    val spark = docs.sparkSession
    IndexLog.once(spark, path, IndexLog.TextAdds, Some(batchId)) {
      writeTables(docs, idCol, textCol, path, "append")
      IndexLog.revive(spark, path,
        docs.select(col(idCol).cast("long").as("doc_id")), "doc_id")
      writeStats(spark, path)
    }
  }

  /** Hide tombstoned docs ([[deleteDocs]]) in the SHARED reads, so
    * bm25, bm25Batch and the boolean path all see the same corpus. */
  private def dropDeleted(spark: SparkSession, path: String,
                          df: DataFrame): DataFrame =
    IndexLog.dropTombstoned(spark, path, df, "doc_id")

  /** DELETE documents (first column of `ids`) from the index — the
    * revoke path next to [[addBatch]]: tombstones ([[IndexLog]]) hide
    * them from every query path before any top-K cut, corpus stats
    * (n_docs/avgdl, hence idf) refresh immediately, and [[compact]]
    * removes the rows physically. Returns false iff `batchId`'s
    * marker shows this batch already committed. */
  def deleteDocs(spark: SparkSession, path: String, ids: DataFrame,
                 batchId: Option[String] = None): Boolean = {
    requireTextIndex(spark, path, "deleteDocs")
    IndexLog.once(spark, path, IndexLog.TextDeletes, batchId) {
      IndexLog.tombstone(spark, path, ids, "doc_id")
      writeStats(spark, path) // doclen() filters tombstones → stats follow
    }
  }

  private def requireTextIndex(spark: SparkSession, path: String, op: String): Unit =
    require(IndexLog.layout(spark, path) == "text",
      s"$op: $path is not a text index (postings/ + stats.json)")

  /** Path-level static partition pruning for a token-partitioned
    * parquet table (r19): resolve the query tokens' directories
    * directly — escaped exactly as `partitionBy` wrote them — and
    * list ONLY those, instead of discovering the full vocabulary's
    * directory tree on every serve. The full listing costs a driver
    * walk plus a parallel-listing Spark job once the table has more
    * than `spark.sql.sources.parallelPartitionDiscovery.threshold`
    * (32) token directories — paid per query, for a 3-token read.
    * `basePath` keeps `token` a partition column; the explicit schema
    * (the data schema merged from the footers of every listed token
    * directory, + `token` STRING) keeps a column that only a later
    * token's files carry (NULL for the others), and pins the partition
    * column's type, which inference over a numeric-only token subset
    * would otherwise flip to int. The merge reads one footer per data
    * file in the listed directories — tokens × files per directory,
    * and each uncompacted `addBatch` adds a file to every token it
    * touches — on the driver with no Spark job up to Spark's
    * 32-footer driver cut-off ([[StoreFs.read]]), in Spark's inference
    * job beyond it. Callers keep their
    * `isin` filter: it remains the correctness guard (an over-listed
    * directory can never leak rows) and the declared static pruning
    * in the plan. Absent tokens map to absent directories — the same
    * empty contribution the pruned full listing gave them; when NO
    * query token's directory exists the result is an empty frame
    * with the same schema (or, for a table with no token directory
    * at all, the old full read's behavior). */
  def tokenPrunedRead(spark: SparkSession, tableDir: String,
                      tokens: Seq[String]): DataFrame = {
    import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
    val dirs = tokens.distinct
      .map(t => s"$tableDir/token=" + ExternalCatalogUtils.escapePathName(t))
      .filter(StoreFs.exists(spark, _))
    def reader = StoreFs.reader(spark, mergeSchema = true).option("basePath", tableDir)
    def schemaOf(ds: Seq[String]) = org.apache.spark.sql.types.StructType(
      reader.load(ds: _*).schema.filterNot(_.name == "token"))
      .add("token", org.apache.spark.sql.types.StringType)
    if (dirs.nonEmpty) reader.schema(schemaOf(dirs)).load(dirs: _*)
    else {
      // no query token present: an empty frame with the layout's
      // schema, taken from any existing token directory's footers
      StoreFs.list(spark, tableDir)
        .find(_.getName.startsWith("token=")).map(_.toString) match {
        case Some(sample) => spark.createDataFrame(
          java.util.Collections.emptyList[org.apache.spark.sql.Row](), schemaOf(Seq(sample)))
        case None => StoreFs.read(spark, tableDir) // not token-partitioned
      }
    }
  }

  /** Deduplicated postings read, restricted to `tokens` — the static
    * partition pruning is the whole point of the layout (since r19 at
    * the PATH level, see [[tokenPrunedRead]]). */
  def postings(spark: SparkSession, path: String,
               tokens: Seq[String]): DataFrame =
    dropDeleted(spark, path,
      tokenPrunedRead(spark, s"$path/postings", tokens)
        .filter(col("token").isin(tokens: _*))
        .groupBy(col("token"), col("doc_id"))
        .agg(max(col("tf")).as("tf")))

  /** Deduplicated document-length read. */
  def doclen(spark: SparkSession, path: String): DataFrame =
    dropDeleted(spark, path,
      StoreFs.read(spark, s"$path/doclen")
        .groupBy(col("doc_id")).agg(max(col("dl")).as("dl")))

  /** Index-health report — the text twin of Similarity.indexStats:
    * a posting list's length IS its probe cost (every query touching
    * that token scans it), so the imbalance factor max/mean over
    * terms is the hot-token cost multiplier the serving path never
    * surfaces on its own. One row: document/term/posting counts, the
    * longest and mean posting list, the imbalance factor, and live
    * tombstones (postings stay physically present until the next
    * compaction — the counts here include them, mirroring the ANN
    * report's physical view). Replayed crash-window duplicates ARE
    * collapsed ((token, doc_id) max-tf — the reader's own dedup), so
    * the report reflects what retrieval actually scans.
    *
    * Cost: one partial-agg pass over the postings table keyed by its
    * PARTITION column + an O(terms) fold + an O(docs) doclen count +
    * an O(deletes) tombstone distinct; divisions are IEEE over exact
    * longs — deterministic. */
  def health(spark: SparkSession, path: String): DataFrame = {
    requireTextIndex(spark, path, "health")
    val nDocs = StoreFs.read(spark, s"$path/doclen")
      .select(col("doc_id")).distinct().count()
    val nTomb = IndexLog.tombstoneCount(spark, path, "doc_id")
    StoreFs.read(spark, s"$path/postings")
      .select(col("token"), col("doc_id")).distinct()
      .groupBy(col("token")).agg(count(lit(1)).as("n"))
      .agg(count(lit(1)).as("n_terms"), sum(col("n")).as("n_postings"),
        max(col("n")).as("max_postings"))
      .select(lit("text").as("layout"), lit(nDocs).as("n_docs"),
        col("n_terms"), col("n_postings"), col("max_postings"),
        (col("n_postings") / col("n_terms")).as("mean_postings"),
        (col("max_postings") * col("n_terms") / col("n_postings"))
          .as("imbalance"))
      .withColumn("n_tombstones", lit(nTomb))
  }

  /** Corpus stats from the sidecar: (n_docs, sum_dl). */
  def stats(spark: SparkSession, path: String): (Long, Long) = {
    val txt = StoreFs.readText(spark, s"$path/stats.json")
    def grab(k: String): Long =
      s""""$k"\\s*:\\s*(\\d+)""".r.findFirstMatchIn(txt)
        .getOrElse(sys.error(s"stats.json: missing $k")).group(1).toLong
    (grab("n_docs"), grab("sum_dl"))
  }

  private def writeStats(spark: SparkSession, path: String): Unit = {
    val row = doclen(spark, path)
      .agg(count(lit(1)).as("n"), sum(col("dl")).as("s")).head()
    val json = s"""{"n_docs": ${row.getLong(0)}, "sum_dl": ${row.getLong(1)}}"""
    StoreFs.rewrite(spark, s"$path/stats.json")(StoreFs.writeText(spark, _, json))
  }

  /** Okapi BM25 over the stored index. Per query token: one pruned
    * postings directory read; df is counted over that pruned read
    * (vocabulary-local — never a corpus scan). The doclen join is
    * the only corpus-order-sized shuffle, and its left side is only
    * the matching postings. Determinism for the cross-engine oracle:
    * idf is rounded to 6 decimals (ln is the one non-IEEE-specified
    * op in the formula; every other step is correctly-rounded double
    * arithmetic in a fixed op order), each per-token term is rounded
    * to 6 decimals and summed as DECIMAL — exact and associative, so
    * the distributed sum order cannot change a score — and ranking
    * orders on the exact decimal score with a doc-id tie-break.
    *
    * `allowed` (first column = permitted doc ids — the s13 contract)
    * makes the search metadata-FILTERED: candidates semi-join the
    * allowed set BEFORE the top-K cut, so the result is the true
    * top-K WITHIN the subset (a post-filter would return fewer than
    * K); idf/avgdl stay corpus-wide — relevance is a property of the
    * collection, not of the predicate.
    *
    * Returns (doc_id, n_terms, score) for the `topK` docs by score.
    */
  def bm25(spark: SparkSession, path: String, tokens: Seq[String],
           k1: Double = 1.2, b: Double = 0.75, topK: Int = 100,
           allowed: Option[DataFrame] = None): DataFrame = {
    require(tokens.nonEmpty, "bm25: at least one query token")
    val (nDocs, sumDl) = stats(spark, path)
    val avgdl = sumDl.toDouble / nDocs
    val postAll = postings(spark, path, tokens)
    val post = allowed match {
      case Some(a) =>
        postAll.join(a.select(a.columns.head).toDF("doc_id"),
          Seq("doc_id"), "left_semi")
      case None => postAll
    }
    // df over the UNfiltered pruned read: idf is corpus-wide
    val dfTab = postAll.groupBy(col("token")).agg(count(lit(1)).as("df"))
      .withColumn("idf",
        round(log(lit(1.0) + (lit(nDocs) - col("df") + lit(0.5)) /
          (col("df") + lit(0.5))), 6))
    post.join(broadcast(dfTab), "token")
      .join(doclen(spark, path), "doc_id")
      .withColumn("w", round(col("idf") *
        ((col("tf") * lit(k1 + 1.0)) /
          (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / lit(avgdl)))),
        6).cast("decimal(18,6)"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_terms"), sum(col("w")).as("score_dec"))
      .orderBy(col("score_dec").desc, col("doc_id"))
      .limit(topK)
      .select(col("doc_id"), col("n_terms"),
        col("score_dec").cast("double").as("score"))
  }

  /** BATCHED BM25 — score a whole query table `(q_id,
    * tokens array<string>)` against the index in one plan: the
    * query-log shape (nightly relevance evaluation, RAG batch
    * serving). The batch's distinct tokens are collected once
    * (O(batch vocabulary) driver state — a query log's vocabulary,
    * not the corpus') and applied as the same static partition
    * filters the single-query path gets, so the postings read is
    * pruned to the union of query tokens. Per-query ranking uses the
    * bounded CollectMinK path — k rows of state per (query, map
    * partition), never a per-query window sorting all candidates on
    * one reducer (the d34/e08 discipline). Scoring math ≡ [[bm25]].
    *
    * Returns (q_id, rank, doc_id, score). */
  def bm25Batch(spark: SparkSession, path: String, queries: DataFrame,
                k1: Double = 1.2, b: Double = 0.75, topK: Int = 100): DataFrame = {
    val (nDocs, sumDl) = stats(spark, path)
    val avgdl = sumDl.toDouble / nDocs
    val qTok = queries.select(col(queries.columns.head).as("q_id"),
      explode(col(queries.columns(1))).as("token"))
      .filter(col("token") =!= "").distinct()
    val batchTokens = qTok.select(col("token")).distinct()
      .collect().map(_.getString(0)).toSeq
    require(batchTokens.nonEmpty, "bm25Batch: no non-empty query tokens")
    val post = postings(spark, path, batchTokens)
    val dfTab = post.groupBy(col("token")).agg(count(lit(1)).as("df"))
      .withColumn("idf",
        round(log(lit(1.0) + (lit(nDocs) - col("df") + lit(0.5)) /
          (col("df") + lit(0.5))), 6))
    val scored = post.join(broadcast(qTok), "token")
      .join(broadcast(dfTab), "token")
      .join(doclen(spark, path), "doc_id")
      .withColumn("w", round(col("idf") *
        ((col("tf") * lit(k1 + 1.0)) /
          (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / lit(avgdl)))),
        6).cast("decimal(18,6)"))
      .groupBy(col("q_id"), col("doc_id"))
      .agg(sum(col("w")).as("score_dec"))
    scored.groupBy(col("q_id"))
      .agg(graft.functions.CollectMinK.collectMinK(
        struct((-col("score_dec")).as("neg"), col("doc_id").as("doc_id")),
        topK).as("arr"))
      .select(col("q_id"), posexplode(col("arr")).as(Seq("pos", "e")))
      .select(col("q_id"), (col("pos") + 1).cast("int").as("rank"),
        col("e.doc_id").as("doc_id"),
        (-col("e.neg")).cast("double").as("score"))
  }

  /** Rewrite the index to a bounded file count, physically removing
    * crash-window duplicate rows and tombstoned docs — months of daily
    * [[addBatch]] appends otherwise tax every query with thousands of
    * small-file footer reads. Each table is swapped in by
    * [[StoreFs.rewrite]]; batch markers are untouched; queries are
    * bit-identical before/after. Refuses a path that is not a text
    * index. */
  def compact(spark: SparkSession, path: String): Unit = {
    requireTextIndex(spark, path, "compact")
    val hadTomb = IndexLog.hasTombstones(spark, path)
    StoreFs.rewrite(spark, s"$path/postings")(tmp =>
      dropDeleted(spark, path,
          StoreFs.read(spark, s"$path/postings")
            .groupBy(col("token"), col("doc_id")).agg(max(col("tf")).as("tf")))
        .select(col("doc_id"), col("tf"), col("token"))
        .write.partitionBy("token").parquet(tmp))
    // doclen() is already tombstone-filtered
    StoreFs.rewrite(spark, s"$path/doclen")(doclen(spark, path).write.parquet(_))
    if (hadTomb) {
      IndexLog.purgeTombstones(spark, path)
      writeStats(spark, path)
    }
  }
}
