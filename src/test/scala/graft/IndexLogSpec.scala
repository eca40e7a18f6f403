package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import graft.operators.{Dedup, IndexLog, StoreFs, TextIndex}
import graft.similarity.Similarity
import graft.sources.TableCatalog
import graft.streaming.NearStreamDedup

/** The shared index mutation protocol (`IndexLog`): layout detection,
  * the batch-id rule at every entry point, and the on-disk marker and
  * tombstone paths, pinned so a refactor cannot move them unnoticed. */
class IndexLogSpec extends SparkSpec {

  import graft.SparkSpec.spark.implicits._

  private lazy val emb = TableCatalog(spark, sf).embeddings.cache()
  private val docs = Seq((1L, "spark vector stream"), (2L, "spark pad pad"),
    (3L, "vector pad")).toDF("doc_id", "text")

  private def tmp(name: String): String = Files.createTempDirectory(name).toString

  private def nearDoc(seed: Int): String = {
    val r = new scala.util.Random(seed)
    (0 until 60).map(_ => s"w${r.nextInt(400)}").mkString(" ")
  }

  test("layout: every index family's real build, a plain parquet dir and a torn near index") {
    val base = tmp("graft_layout")
    val builds: Seq[(String, String => Unit)] = Seq(
      "exact" -> (p => Dedup.dedupIncremental(spark, docs, "doc_id", "text", p, s"$p.out")),
      "near" -> (p => Dedup.nearDedupIncrementalStaged(spark,
        Seq((1L, nearDoc(1)), (2L, nearDoc(2))).toDF("doc_id", "text"), "doc_id", "text", p)
        .commit()),
      "ivf" -> (p => Similarity.ivfBuild(emb, "vec_id", "embedding", p)),
      "pq" -> (p => Similarity.pqBuild(emb, "vec_id", "embedding", p)),
      "ivfpq" -> (p => Similarity.ivfpqBuild(emb, "vec_id", "embedding", p)),
      "text" -> (p => TextIndex.build(docs, "doc_id", "text", p)),
      // a plain parquet table is read as a flat (exact) hash index
      "exact" -> (p => docs.write.parquet(p)),
      // a crash between the bands and sigs appends leaves bands/ only
      "near" -> (p => Seq((1L, 42L)).toDF("doc_id", "band").write.parquet(s"$p/bands")))
    builds.zipWithIndex.foreach { case ((want, build), i) =>
      val p = s"$base/i$i"
      build(p)
      assert(IndexLog.layout(spark, p) === want, s"index $i built as $want")
    }
  }

  test("on-disk protocol: marker paths and tombstone columns of every entry point") {
    val base = tmp("graft_protocol")
    val (text, ann, near) = (s"$base/text", s"$base/ann", s"$base/near")
    TextIndex.build(docs, "doc_id", "text", text)
    TextIndex.addBatch(Seq((4L, "stream pad")).toDF("doc_id", "text"),
      "doc_id", "text", text, "b1")
    assert(TextIndex.deleteDocs(spark, text, Seq(1L).toDF("id"), Some("d1")))
    Similarity.ivfpqBuild(emb.filter(col("vec_id") >= 10), "vec_id", "embedding", ann)
    assert(Similarity.ivfpqAdd(emb.filter(col("vec_id") < 10), "vec_id", "embedding",
      ann, Some("a1")))
    assert(Similarity.annDelete(spark, ann, Seq(3L).toDF("id"), Some("d1")))
    NearStreamDedup.processBatch(Seq((1L, nearDoc(1))).toDF("doc_id", "text"), 7L,
      "doc_id", "text", near, s"$base/out")
    for (m <- Seq(s"$text/batches/b1", s"$text/deletes/d1", s"$ann/_adds/a1",
                  s"$ann/_deletes/d1", s"$near/_batches/done-7"))
      assert(StoreFs.exists(spark, m), s"marker $m missing")
    assert(spark.read.parquet(s"$text/tombstones").columns.toSeq === Seq("doc_id"))
    assert(spark.read.parquet(s"$ann/tombstones").columns.toSeq === Seq("n_id"))
  }

  test("a marker left as a directory is honoured as committed") {
    val base = tmp("graft_dirmarker")
    val (text, ann, near) = (s"$base/text", s"$base/ann", s"$base/near")
    def mkdir(p: String): Unit = { val (f, d) = StoreFs.fs(spark, p); assert(f.mkdirs(d)) }
    TextIndex.build(docs, "doc_id", "text", text)
    Similarity.ivfpqBuild(emb, "vec_id", "embedding", ann)
    Seq(s"$text/batches/b2", s"$text/deletes/d2", s"$ann/_adds/a2",
      s"$ann/_deletes/d2", s"$near/_batches/done-8").foreach(mkdir)
    val stats = TextIndex.stats(spark, text)
    val codes = spark.read.parquet(s"$ann/codes").count()
    TextIndex.addBatch(Seq((9L, "new doc")).toDF("doc_id", "text"), "doc_id", "text",
      text, "b2")
    assert(!TextIndex.deleteDocs(spark, text, Seq(1L).toDF("id"), Some("d2")))
    assert(TextIndex.stats(spark, text) === stats)
    assert(!Similarity.ivfpqAdd(emb.limit(5), "vec_id", "embedding", ann, Some("a2")))
    assert(!Similarity.annDelete(spark, ann, Seq(3L).toDF("id"), Some("d2")))
    assert(spark.read.parquet(s"$ann/codes").count() === codes)
    assert(!StoreFs.exists(spark, s"$ann/tombstones"))
    NearStreamDedup.processBatch(Seq((1L, nearDoc(1))).toDF("doc_id", "text"), 8L,
      "doc_id", "text", near, s"$base/out")
    assert(!StoreFs.exists(spark, s"$base/out/batch=8"))
  }

  // Hadoop Path normalises `batches/..` to the index root and
  // `batches/` (empty id) or `batches/.` to the namespace directory
  // itself, so each of these ids would skip or corrupt its batch.
  private val badIds = Seq("", ".", "..")

  test("batch-id rule: TextIndex.addBatch refuses '', '.' and '..' before any write") {
    val text = tmp("graft_badid_add") + "/text"
    TextIndex.build(docs, "doc_id", "text", text)
    val add = Seq((9L, "new doc")).toDF("doc_id", "text")
    for (b <- badIds) intercept[IllegalArgumentException] {
      TextIndex.addBatch(add, "doc_id", "text", text, b)
    }
    assert(TextIndex.stats(spark, text)._1 === 3L)
    assert(!StoreFs.exists(spark, s"$text/batches"))
    TextIndex.addBatch(add, "doc_id", "text", text, "ok")
    assert(TextIndex.stats(spark, text)._1 === 4L)
  }

  test("batch-id rule: TextIndex.deleteDocs refuses '', '.' and '..' before any write") {
    val text = tmp("graft_badid_del") + "/text"
    TextIndex.build(docs, "doc_id", "text", text)
    for (b <- badIds) intercept[IllegalArgumentException] {
      TextIndex.deleteDocs(spark, text, Seq(1L).toDF("id"), Some(b))
    }
    assert(!StoreFs.exists(spark, s"$text/tombstones"))
    assert(!StoreFs.exists(spark, s"$text/deletes"))
  }

  test("batch-id rule: Similarity.ivfpqAdd refuses '', '.' and '..' before any write") {
    val ann = tmp("graft_badid_ivfpq") + "/ann"
    Similarity.ivfpqBuild(emb.filter(col("vec_id") >= 10), "vec_id", "embedding", ann)
    val codes = spark.read.parquet(s"$ann/codes").count()
    for (b <- badIds) intercept[IllegalArgumentException] {
      Similarity.ivfpqAdd(emb.filter(col("vec_id") < 10), "vec_id", "embedding", ann, Some(b))
    }
    assert(spark.read.parquet(s"$ann/codes").count() === codes)
    assert(!StoreFs.exists(spark, s"$ann/_adds"))
  }

  test("batch-id rule: Similarity.annDelete refuses '', '.' and '..' before any write") {
    val ann = tmp("graft_badid_anndel") + "/ann"
    Similarity.ivfpqBuild(emb, "vec_id", "embedding", ann)
    for (b <- badIds) intercept[IllegalArgumentException] {
      Similarity.annDelete(spark, ann, Seq(3L).toDF("id"), Some(b))
    }
    assert(!StoreFs.exists(spark, s"$ann/tombstones"))
    assert(!StoreFs.exists(spark, s"$ann/_deletes"))
  }

  test("StoreFs.rewrite heals a torn swap before writing and clears a stale tmp") {
    val dest = tmp("graft_rewrite") + "/state"
    Seq(1L, 2L).toDF("v").write.parquet(dest)
    // torn swap: the state sits at .bak only; a stale tmp from a dead
    // run blocks a default-mode write
    val (f, d) = StoreFs.fs(spark, dest)
    assert(f.rename(d, new org.apache.hadoop.fs.Path(dest + ".bak")))
    Seq(99L).toDF("v").write.parquet(dest + ".tmp")
    StoreFs.rewrite(spark, dest)(t =>
      spark.read.parquet(dest).select((col("v") * 10).as("v")).write.parquet(t))
    assert(spark.read.parquet(dest).as[Long].collect().sorted.toSeq === Seq(10L, 20L))
    assert(!StoreFs.exists(spark, dest + ".bak") && !StoreFs.exists(spark, dest + ".tmp"))
  }
}
