package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.functions._
import graft.operators.{Dedup, IndexLog, Materialize, StoreFs, TextIndex, TrendStoreWriter}
import graft.similarity.Similarity
import graft.sources.{HarvestJob, TableCatalog}

/** `StoreFs.read` resolves a table's schema from footers on the
  * driver (up to 32 of them; Spark's inference job beyond); for every
  * kind of table graft writes it must open exactly what
  * `spark.read.option("mergeSchema", m).parquet` opens — same schema
  * (partition column types included), same rows — and fail the same
  * way on an absent or empty table. */
class StoreReadSpec extends SparkSpec {

  import graft.SparkSpec.spark.implicits._

  private def assertSameAsSpark(path: String): Unit = Seq(false, true).foreach { m =>
    val got = StoreFs.read(spark, path, m)
    val want = spark.read.option("mergeSchema", m).parquet(path)
    assert(got.schema === want.schema, s"$path mergeSchema=$m")
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty, s"$path mergeSchema=$m")
  }

  private def ts(s: String) = col(s).cast("timestamp")

  test("trend store with a metric added mid-history by upsert") {
    val store = Files.createTempDirectory("graft_read_trend").toString + "/s"
    TrendStoreWriter.write(Seq((1L, "2024-01-01 10:00:00", 1.0), (2L, "2024-01-02 10:00:00", 2.0))
      .toDF("entity_id", "bucket", "v").withColumn("bucket", ts("bucket")), store)
    TrendStoreWriter.upsert(spark, store, Seq((1L, "2024-01-03 10:00:00", 3.0, 7L))
      .toDF("entity_id", "bucket", "v", "w").withColumn("bucket", ts("bucket")))
    assertSameAsSpark(store)
    val merged = StoreFs.read(spark, store, mergeSchema = true)
    assert(merged.schema("p_date").dataType.typeName === "date")
    assert(merged.filter(col("p_date") < lit("2024-01-03")).select("w")
      .as[Option[Long]].collect().toSeq === Seq(None, None))
    assert(merged.filter(col("p_date") === lit("2024-01-03")).select("w")
      .as[Long].collect().toSeq === Seq(7L))
  }

  test("a store of more data files than the 32-footer driver cut-off") {
    val store = Files.createTempDirectory("graft_read_wide").toString + "/s"
    TrendStoreWriter.write(spark.range(40).select(col("id").as("entity_id"),
      (lit(1704067200L) + col("id") * 86400).cast("timestamp").as("bucket"),
      col("id").cast("double").as("v")), store)
    TrendStoreWriter.upsert(spark, store, Seq((1L, "2024-03-01 10:00:00", 3.0, 7L))
      .toDF("entity_id", "bucket", "v", "w").withColumn("bucket", ts("bucket")))
    assertSameAsSpark(store)
    assert(StoreFs.read(spark, store, mergeSchema = true).filter(col("w").isNotNull).count() === 1)
  }

  test("attribute history, current view and harvest/materialize state") {
    val src = Files.createTempDirectory("graft_read_src").toString
    val base = Files.createTempDirectory("graft_read_attr").toString
    Files.writeString(Path.of(src, "attr_a.csv"), "dn,timestamp,status\n" +
      "Cell=1,2024-01-01 09:00:00,active\nCell=1,2024-01-02 09:00:00,standby\n" +
      "Cell=2,2024-01-02 10:00:00,active\n")
    HarvestJob.run(spark, HarvestJob.Job(sourceDir = src, format = "csv", dnCol = "dn",
      entityComponent = "Cell", tsCol = "timestamp", tsFormat = "yyyy-MM-dd HH:mm:ss",
      granularity = "raw", storePath = s"$base/attr", statePath = s"$base/attr_state",
      target = "attribute", currentPath = Some(s"$base/attr_current")))
    Seq("attr", "attr_current", "attr_state").foreach(t => assertSameAsSpark(s"$base/$t"))

    val raw = Seq((1L, "2024-01-01 10:05:00", 1.0), (2L, "2024-01-02 11:05:00", 2.0))
      .toDF("entity_id", "ts", "value").withColumn("ts", ts("ts"))
    Materialize.run(raw, col("entity_id"), col("ts"), col("value"), "hour",
      s"$base/mat_state", s"$base/hourly")
    assertSameAsSpark(s"$base/mat_state")
    assertSameAsSpark(s"$base/hourly")
  }

  test("IVF-PQ codes and vectors, and tombstones") {
    val emb = TableCatalog(spark, sf).embeddings
    val idx = Files.createTempDirectory("graft_read_ivfpq").toString + "/idx"
    Similarity.ivfpqBuild(emb, "vec_id", "embedding", idx)
    Similarity.annDelete(spark, idx, Seq(3L, 5L).toDF("n_id"))
    Seq("codes", "vectors", "tombstones").foreach(t => assertSameAsSpark(s"$idx/$t"))
    assert(StoreFs.read(spark, s"$idx/codes").schema("cell").dataType.typeName === "integer")
  }

  test("text postings and doclen") {
    val idx = Files.createTempDirectory("graft_read_text").toString + "/idx"
    TextIndex.build(Seq((1L, "spark stream 42"), (2L, "spark noise"))
      .toDF("doc_id", "text"), "doc_id", "text", idx)
    TextIndex.addBatch(Seq((3L, "vector 7 spark")).toDF("doc_id", "text"),
      "doc_id", "text", idx, "b1")
    Seq("postings", "doclen").foreach(t => assertSameAsSpark(s"$idx/$t"))
    assert(StoreFs.read(spark, s"$idx/postings").schema("token").dataType.typeName === "string")
  }

  test("near-dedup bands and sigs") {
    val idx = Files.createTempDirectory("graft_read_near").toString + "/idx"
    val docs = Seq((1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "a completely different document about parquet footers"))
      .toDF("doc_id", "text")
    Dedup.nearDedupIncrementalStaged(spark, docs, "doc_id", "text", idx).commit()
    assert(IndexLog.layout(spark, idx) === "near")
    Seq("bands", "sigs").foreach(t => assertSameAsSpark(s"$idx/$t"))
  }

  test("an absent table and a _SUCCESS-only directory fail as spark.read.parquet does") {
    val base = Files.createTempDirectory("graft_read_empty").toString
    Files.createDirectories(Path.of(base, "empty"))
    Files.writeString(Path.of(base, "empty", "_SUCCESS"), "")
    Seq(s"$base/absent", s"$base/empty").foreach { p =>
      Seq(false, true).foreach { m =>
        val want = intercept[Exception](spark.read.option("mergeSchema", m).parquet(p))
        val got = intercept[Exception](StoreFs.read(spark, p, m))
        assert(got.getClass === want.getClass, p)
        assert(got.getMessage === want.getMessage, p)
      }
    }
  }
}
