package graft

import org.apache.spark.sql.functions._

/** d34/d36's stored text index: the postings table is partitioned by
  * token, so boolean retrieval must read only the query tokens'
  * directories (static partition pruning — the same serve-path
  * discipline SimilaritySpec asserts for IVF cell scans). */
class TextIndexSpec extends SparkSpec {

  import graft.SparkSpec.spark.implicits._

  private def scansOf(p: org.apache.spark.sql.execution.SparkPlan):
      Seq[org.apache.spark.sql.execution.FileSourceScanExec] = {
    val here = p match {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => Seq(s)
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        scansOf(a.inputPlan)
      case qs: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        scansOf(qs.plan)
      case _ => Seq.empty
    }
    here ++ p.children.flatMap(scansOf)
  }

  test("boolean retrieval prunes to the query tokens' partitions and ranks by coverage") {
    val docs = Seq(
      (1L, "spark stream vector"), // matches all 3
      (2L, "spark stream noise"),  // matches 2
      (3L, "vector only here"),    // matches 1 → filtered
      (4L, "nothing relevant"),    // matches 0
      (5L, "stream vector stuff")  // matches 2
    ).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_textidx").toString + "/idx"
    docs.select(explode(split(col("text"), " ")).as("token"), col("doc_id"))
      .filter(col("token") =!= "").distinct()
      .write.partitionBy("token").parquet(dir)

    val q = spark.read.parquet(dir)
      .filter(col("token").isin("spark", "vector", "stream"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_matched"))
      .filter(col("n_matched") >= 2)
      .orderBy(col("n_matched").desc, col("doc_id"))

    assert(q.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq ===
      Seq((1L, 3L), (2L, 2L), (5L, 2L)))

    // the planted corpus has 9 distinct tokens → 9 directories; the
    // 3-token query must have touched exactly 3
    val scans = scansOf(q.queryExecution.executedPlan)
    assert(scans.nonEmpty, "no file scan in retrieval plan")
    scans.foreach { s =>
      assert(s.partitionFilters.nonEmpty, "postings scan has no partition filter")
      assert(s.selectedPartitions.partitionCount === 3,
        s"expected 3 pruned partitions, read ${s.selectedPartitions.partitionCount}")
    }
  }

  import graft.operators.TextIndex

  private def tmpIdx(): String =
    java.nio.file.Files.createTempDirectory("graft_ti").toString + "/idx"

  private def bm25Rows(path: String): Seq[(Long, Long, Double)] =
    TextIndex.bm25(spark, path, Seq("spark", "vector", "stream"))
      .orderBy(col("doc_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq

  test("bm25 over the stored index: rarer tokens and shorter docs score higher") {
    val docs = Seq(
      (1L, "spark vector stream"),          // all 3 terms, short
      (2L, "spark spark spark pad pad pad pad pad pad pad"), // common term, long
      (3L, "vector pad"),                   // one rare term, short
      (4L, "spark pad"),
      (5L, "spark pad pad"),
      (6L, "pad pad pad")
    ).toDF("doc_id", "text")
    val dir = tmpIdx()
    TextIndex.build(docs, "doc_id", "text", dir)

    val (n, s) = TextIndex.stats(spark, dir)
    assert(n === 6L && s === 3L + 10L + 2L + 2L + 3L + 3L)

    val res = TextIndex.bm25(spark, dir, Seq("spark", "vector", "stream"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // doc 1 matches all three terms and is short → top score
    assert(res.head._1 === 1L && res.head._2 === 3L)
    // every scored doc contains at least one query term
    assert(res.map(_._1).toSet === Set(1L, 2L, 3L, 4L, 5L))
    // vector (df=2) outscores spark (df=4) at equal tf and dl: doc 3 vs doc 4
    val byDoc = res.map(r => r._1 -> r._3).toMap
    assert(byDoc(3L) > byDoc(4L), "rarer term must out-idf the common one")

    // the serving path prunes the postings scan to the 3 query
    // tokens' directories (the corpus has 5 distinct tokens)
    val q = TextIndex.bm25(spark, dir, Seq("spark", "vector", "stream"))
    val postScans = scansOf(q.queryExecution.executedPlan)
      .filter(_.partitionFilters.nonEmpty)
    assert(postScans.nonEmpty, "bm25 postings scan lost its partition filter")
    postScans.foreach(s => assert(s.selectedPartitions.partitionCount === 3,
      s"bm25 read ${s.selectedPartitions.partitionCount} token dirs, expected 3"))
  }

  test("batched bm25 equals per-query bm25, window-free, pruned to the batch vocabulary") {
    val docs = (1L to 30L).map { i =>
      (i, if (i % 3 == 0) "spark vector pad" else if (i % 3 == 1) "spark pad pad"
          else "stream pad mud")
    }.toDF("doc_id", "text")
    val dir = tmpIdx()
    TextIndex.build(docs, "doc_id", "text", dir)

    val queries = Seq(
      (101L, Seq("spark", "vector")),
      (102L, Seq("stream", "mud"))
    ).toDF("q_id", "tokens")
    val batch = TextIndex.bm25Batch(spark, dir, queries, topK = 5)

    // per-query equivalence: same docs in the same rank order with
    // the same scores as the single-query path
    for ((qid, toks) <- Seq(101L -> Seq("spark", "vector"), 102L -> Seq("stream", "mud"))) {
      val single = TextIndex.bm25(spark, dir, toks, topK = 5)
        .select(col("doc_id"), col("score"))
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val got = batch.filter(col("q_id") === qid).orderBy(col("rank"))
        .select(col("doc_id"), col("score"))
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(got === single, s"batch leg for query $qid diverged")
    }

    // rank path stays bounded: no Window node in the plan
    assert(!batch.queryExecution.executedPlan.toString.contains("Window"),
      "bm25Batch regressed to a window rank")
    // postings read pruned to the 4-token batch vocabulary (5 distinct
    // tokens exist: spark, vector, stream, pad, mud)
    val scans = scansOf(batch.queryExecution.executedPlan)
      .filter(_.partitionFilters.nonEmpty)
    assert(scans.nonEmpty)
    scans.foreach(s => assert(s.selectedPartitions.partitionCount === 4,
      s"batch read ${s.selectedPartitions.partitionCount} token dirs, expected 4"))
  }

  test("metadata-filtered bm25: true top-k WITHIN the allowed subset, corpus-wide idf") {
    val docs = (1L to 40L).map { i =>
      (i, if (i % 3 == 0) "spark vector pad" else "spark pad pad")
    }.toDF("doc_id", "text")
    val dir = tmpIdx()
    TextIndex.build(docs, "doc_id", "text", dir)
    val allowed = (1L to 40L).filter(_ % 2 == 0).toDF("doc_id")

    val filtered = TextIndex.bm25(spark, dir, Seq("spark", "vector"),
      topK = 10, allowed = Some(allowed))
      .collect().map(r => (r.getLong(0), r.getDouble(2))).toSeq
    // only allowed ids, and the full k (a post-filter would under-fill)
    assert(filtered.map(_._1).forall(_ % 2 == 0))
    assert(filtered.size === 10)
    // scores are per-doc (idf corpus-wide), so the filtered top-k is
    // EXACTLY the unfiltered ranking restricted to the subset, re-cut
    val unfiltered = TextIndex.bm25(spark, dir, Seq("spark", "vector"), topK = 100)
      .collect().map(r => (r.getLong(0), r.getDouble(2))).toSeq
    assert(filtered === unfiltered.filter(_._1 % 2 == 0).take(10))
  }

  test("addBatch is exactly-once: committed replay is a no-op, crash-window duplicates never change a score") {
    val b0 = Seq((1L, "spark vector"), (2L, "spark pad")).toDF("doc_id", "text")
    val b1 = Seq((3L, "stream vector pad"), (4L, "pad only")).toDF("doc_id", "text")
    val all = b0.unionByName(b1)

    val oneShot = tmpIdx()
    TextIndex.build(all, "doc_id", "text", oneShot)
    val expected = bm25Rows(oneShot)

    val inc = tmpIdx()
    TextIndex.build(b0, "doc_id", "text", inc)
    TextIndex.addBatch(b1, "doc_id", "text", inc, "b1")
    assert(bm25Rows(inc) === expected, "incremental ≠ one-shot build")

    // committed replay: marker present → no-op, scores identical
    TextIndex.addBatch(b1, "doc_id", "text", inc, "b1")
    assert(bm25Rows(inc) === expected, "committed replay changed the index")

    // crash-window replay: appends landed but the marker did not —
    // simulate by deleting the marker and re-adding. Readers
    // aggregate per key, so the duplicate rows change nothing.
    val (fs, marker) = graft.operators.StoreFs.fs(spark, s"$inc/batches/b1")
    fs.delete(marker, false)
    TextIndex.addBatch(b1, "doc_id", "text", inc, "b1")
    assert(bm25Rows(inc) === expected, "torn-replay duplicates changed a score")

    // stats recomputed from the deduplicated doclen: still the truth
    val (n, s) = TextIndex.stats(spark, inc)
    assert(n === 4L && s === 2L + 2L + 3L + 2L)
  }

  test("compact removes duplicate rows and bounds files; queries bit-identical; non-index refused") {
    val b0 = Seq((1L, "spark vector"), (2L, "spark pad")).toDF("doc_id", "text")
    val b1 = Seq((3L, "stream vector pad")).toDF("doc_id", "text")
    val dir = tmpIdx()
    TextIndex.build(b0, "doc_id", "text", dir)
    TextIndex.addBatch(b1, "doc_id", "text", dir, "b1")
    // plant a crash-window duplicate append
    val (fs, marker) = graft.operators.StoreFs.fs(spark, s"$dir/batches/b1")
    fs.delete(marker, false)
    TextIndex.addBatch(b1, "doc_id", "text", dir, "b1")

    val before = bm25Rows(dir)
    val rawBefore = spark.read.parquet(s"$dir/postings").count()
    TextIndex.compact(spark, dir)
    assert(bm25Rows(dir) === before, "compaction changed a score")
    val rawAfter = spark.read.parquet(s"$dir/postings").count()
    assert(rawAfter < rawBefore, "compaction did not drop duplicate rows")
    // physically deduplicated: raw row count equals the keyed count
    assert(rawAfter === spark.read.parquet(s"$dir/postings")
      .select(col("token"), col("doc_id")).distinct().count())

    val bogus = tmpIdx()
    Seq((1L, 2L)).toDF("a", "b").write.parquet(s"$bogus/postings")
    intercept[IllegalArgumentException] {
      TextIndex.compact(spark, bogus)
    }

    // a stale tmp from a dead compact run neither blocks the next
    // compact nor leaks its junk into the swapped tables
    Seq((99L, 9, "junktoken")).toDF("doc_id", "tf", "token")
      .write.partitionBy("token").parquet(s"$dir/postings.tmp")
    TextIndex.compact(spark, dir)
    assert(bm25Rows(dir) === before, "stale-tmp recompaction changed a score")
    assert(spark.read.parquet(s"$dir/postings")
      .filter(col("token") === "junktoken").isEmpty,
      "dead run's junk partition leaked into the index")
  }

  test("deleteDocs: tombstoned docs vanish from every path, stats follow, re-add revives, compact purges") {
    val docs = Seq(
      (1L, "spark vector stream"),
      (2L, "spark spark spark pad pad pad pad pad pad pad"),
      (3L, "vector pad"),
      (4L, "spark pad"),
      (5L, "spark pad pad"),
      (6L, "pad pad pad")
    ).toDF("doc_id", "text")
    val dir = tmpIdx()
    TextIndex.build(docs, "doc_id", "text", dir)
    val before = bm25Rows(dir)
    assert(before.exists(_._1 == 1L))

    // delete the top doc: gone from bm25, bm25Batch and boolean
    // postings; corpus stats follow (n_docs/sum_dl shrink)
    assert(TextIndex.deleteDocs(spark, dir, Seq(1L).toDF("doc_id"), Some("d1")))
    assert(!TextIndex.deleteDocs(spark, dir, Seq(1L).toDF("doc_id"), Some("d1")),
      "replayed delete batch was not a no-op")
    val after = bm25Rows(dir)
    assert(!after.exists(_._1 == 1L), "deleted doc still scored")
    assert(after.map(_._1).toSet === Set(2L, 3L, 4L, 5L))
    val batch = TextIndex.bm25Batch(spark, dir,
      Seq((7L, Seq("spark", "vector"))).toDF("q_id", "tokens"))
      .collect().map(_.getLong(2))
    assert(!batch.contains(1L), "deleted doc still in batched results")
    assert(TextIndex.postings(spark, dir, Seq("spark"))
      .filter(col("doc_id") === 1L).isEmpty)
    val (n, s) = TextIndex.stats(spark, dir)
    assert(n === 5L && s === 20L, "stats did not follow the deletion")

    // re-add revives (tombstone cleared), scores return to the
    // original values — same corpus, same stats
    TextIndex.addBatch(docs.filter(col("doc_id") === 1L), "doc_id", "text", dir, "re1")
    assert(bm25Rows(dir) === before, "re-added doc did not restore the original scores")

    // delete again, compact: physically purged, tombstones cleared,
    // scores identical to the tombstoned view
    assert(TextIndex.deleteDocs(spark, dir, Seq(1L).toDF("doc_id")))
    val tombstoned = bm25Rows(dir)
    TextIndex.compact(spark, dir)
    assert(!graft.operators.StoreFs.exists(spark, s"$dir/tombstones"))
    assert(spark.read.parquet(s"$dir/postings").filter(col("doc_id") === 1L).isEmpty,
      "compact left purged postings")
    assert(spark.read.parquet(s"$dir/doclen").filter(col("doc_id") === 1L).isEmpty,
      "compact left purged doclen")
    assert(bm25Rows(dir) === tombstoned, "compact changed a score")

    // refusal: not a text index
    intercept[IllegalArgumentException] {
      TextIndex.deleteDocs(spark,
        java.nio.file.Files.createTempDirectory("graft_not_ti").toString,
        Seq(1L).toDF("doc_id"))
    }
  }

  test("health: exact posting-list balance, replay dups collapsed, tombstones counted as a set") {
    import graft.operators.TextIndex
    val dir = java.nio.file.Files.createTempDirectory("graft_ti_health")
      .toString + "/idx"
    // spark: 3 postings, stream: 2, vector: 1, pad: 1 → 4 terms,
    // 7 postings, max 3, imbalance 3·4/7
    TextIndex.build(Seq(
      (1L, "spark stream"), (2L, "spark stream vector"), (3L, "spark pad"))
      .toDF("doc_id", "text"), "doc_id", "text", dir)
    val h = TextIndex.health(spark, dir).head
    assert(h.getAs[String]("layout") === "text")
    assert(h.getAs[Long]("n_docs") === 3L)
    assert(h.getAs[Long]("n_terms") === 4L)
    assert(h.getAs[Long]("n_postings") === 7L)
    assert(h.getAs[Long]("max_postings") === 3L)
    assert(h.getAs[Double]("mean_postings") === 7.0 / 4.0)
    assert(h.getAs[Double]("imbalance") === 12.0 / 7.0)
    assert(h.getAs[Long]("n_tombstones") === 0L)
    // a crash-window replay double-appends a batch: the health report
    // collapses (token, doc_id) duplicates like the reader does
    TextIndex.addBatch(Seq((4L, "spark again")).toDF("doc_id", "text"),
      "doc_id", "text", dir, "b1")
    val (fs, marker) = graft.operators.StoreFs.fs(spark, s"$dir/batches/b1")
    assert(fs.delete(marker, false))
    TextIndex.addBatch(Seq((4L, "spark again")).toDF("doc_id", "text"),
      "doc_id", "text", dir, "b1")
    val h2 = TextIndex.health(spark, dir).head
    assert(h2.getAs[Long]("n_postings") === 9L,
      "replayed postings must collapse to the reader's view")
    assert(h2.getAs[Long]("n_docs") === 4L)
    // duplicate deletes collapse to the live tombstone SET; physical
    // counts stay until the next compaction
    TextIndex.deleteDocs(spark, dir, Seq(1L, 1L, 2L).toDF("doc_id"))
    val h3 = TextIndex.health(spark, dir).head
    assert(h3.getAs[Long]("n_tombstones") === 2L)
    assert(h3.getAs[Long]("n_postings") === 9L)
    intercept[IllegalArgumentException] {
      TextIndex.health(spark,
        java.nio.file.Files.createTempDirectory("graft_not_ti2").toString)
    }
  }

  test("tokenPrunedRead lists only the query tokens' directories, bit-equal to the full-listing read (r19)") {
    import graft.operators.TextIndex
    val docs = Seq(
      (1L, "spark 42 a=b"),
      (2L, "42 q%r spark"),
      (3L, "niche 42")
    ).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_tpr").toString + "/post"
    docs.select(explode(split(col("text"), " ")).as("token"), col("doc_id"))
      .filter(col("token") =!= "").distinct()
      .write.partitionBy("token").parquet(dir)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(col("doc_id"), col("token")).collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
    def full(tokens: Seq[String]) = spark.read.parquet(dir)
      .filter(col("token").isin(tokens: _*))
    def pruned(tokens: Seq[String]) = TextIndex.tokenPrunedRead(spark, dir, tokens)
      .filter(col("token").isin(tokens: _*))
    // escaped specials (= and % are path-escaped by partitionBy) and
    // numeric-only token subsets (type inference over just token=42
    // would flip the partition column to int — the explicit schema
    // must pin STRING, or downstream token joins change type)
    for (ts <- Seq(Seq("spark"), Seq("42"), Seq("a=b", "q%r"),
        Seq("42", "spark"), Seq("absent"), Seq("absent", "42"))) {
      val p = pruned(ts)
      assert(p.schema("token").dataType ===
        org.apache.spark.sql.types.StringType, s"token type drifted for $ts")
      assert(rows(p) === rows(full(ts)), s"pruned read diverged for $ts")
    }
    // the win itself: only the named directories are listed/read
    val files = pruned(Seq("spark", "42")).inputFiles
    assert(files.nonEmpty &&
      files.forall(f => f.contains("token=spark") || f.contains("token=42")),
      s"pruned read listed beyond its token dirs: ${files.mkString(",")}")
  }

  test("tokenPrunedRead merges every listed token directory's footers: a later token's column survives") {
    val dir = java.nio.file.Files.createTempDirectory("graft_text_merge").toString + "/idx"
    TextIndex.build(Seq((1L, "alpha beta"), (2L, "beta")).toDF("doc_id", "text"),
      "doc_id", "text", dir)
    // a later token's directory gains a nullable column the first lacks
    Seq((3L, 1L, "x")).toDF("doc_id", "tf", "extra")
      .write.mode("append").parquet(s"$dir/postings/token=beta")
    val read = TextIndex.tokenPrunedRead(spark, s"$dir/postings", Seq("alpha", "beta"))
    assert(read.columns.toSeq === Seq("doc_id", "tf", "extra", "token"))
    val rows = read.select("token", "doc_id", "extra").as[(String, Long, Option[String])]
      .collect().sortBy(r => (r._1, r._2)).toSeq
    assert(rows === Seq(("alpha", 1L, None), ("beta", 1L, None), ("beta", 2L, None),
      ("beta", 3L, Some("x"))))
  }
}
