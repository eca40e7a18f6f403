package graft

import java.nio.file.{Files, Path}
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import graft.operators.{EntityRegistry, Materialize, StoreFs, TextIndex, TrendStoreWriter}
import graft.similarity.Similarity
import graft.sources.{HarvestJob, TableCatalog}

/** Opening a table graft wrote submits no Spark job while the table
  * stays within Spark's driver cut-off
  * (`spark.sql.sources.parallelPartitionDiscovery.threshold`, 32): at
  * most 32 partition directories for Spark's listing, at most 32
  * footers for the schema. Spark's own parquet schema inference runs
  * a footer-reading job on every open; `StoreFs.read` reads those
  * footers on the driver. Past the cut-off, Spark's listing job and
  * (for more than 32 footers) its inference job run as they do for
  * `spark.read.parquet`. Each drill counts the jobs without a
  * `spark.sql.execution.id` that it submits. */
class JobPinSpec extends SparkSpec {

  import graft.SparkSpec.spark.implicits._

  /** Jobs without a SQL execution id that `body` submits. Suites
    * share the session and run in parallel, so only this thread's
    * job group counts; a sentinel job submitted last marks the end of
    * the listener's backlog (one listener sees its events in order). */
  private def jobsOutsideSql(body: => Any): Int = {
    val sc = spark.sparkContext
    val group = s"graft-job-pin-${java.util.UUID.randomUUID}"
    val sentinel = s"$group-end"
    val outside = new AtomicInteger(0)
    val drained = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        Option(js.properties).filter(_.getProperty("spark.jobGroup.id") == group)
          .foreach { p =>
            if (p.getProperty("spark.job.description") == sentinel) drained.countDown()
            else if (p.getProperty("spark.sql.execution.id") == null) outside.incrementAndGet()
          }
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "job pin")
    try {
      body
      sc.setJobDescription(sentinel)
      sc.parallelize(Seq(1), 1).count()
      assert(drained.await(60, TimeUnit.SECONDS), "listener never saw the sentinel job")
      outside.get
    } finally {
      sc.setJobDescription(null)
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  private def writeCsv(dir: String, name: String, header: String, rows: Seq[String]): Unit =
    Files.writeString(Path.of(dir, name), (header +: rows).mkString("", "\n", "\n"))

  test("StoreFs.read of an evolved day-partitioned store runs no job, merged or not") {
    val store = Files.createTempDirectory("graft_pin_store").toString + "/s"
    TrendStoreWriter.write(Seq((1L, "2024-01-01 10:00:00", 1.0))
      .toDF("entity_id", "bucket", "v").withColumn("bucket", col("bucket").cast("timestamp")),
      store)
    TrendStoreWriter.upsert(spark, store, Seq((1L, "2024-01-02 10:00:00", 2.0, 5L))
      .toDF("entity_id", "bucket", "v", "w").withColumn("bucket", col("bucket").cast("timestamp")))
    Seq(false, true).foreach(merge => assert(jobsOutsideSql(StoreFs.read(spark, store, merge)) === 0))
    assert(StoreFs.read(spark, store, mergeSchema = true).columns.contains("w"))
  }

  test("a store past the 32-path cut-off runs Spark's listing and inference jobs, no more") {
    val store = Files.createTempDirectory("graft_pin_wide").toString + "/s"
    TrendStoreWriter.write(spark.range(40).select(col("id").as("entity_id"),
      (lit(1704067200L) + col("id") * 86400).cast("timestamp").as("bucket"),
      col("id").cast("double").as("v")), store)
    Seq(false, true).foreach { m =>
      assert(jobsOutsideSql(spark.read.option("mergeSchema", m).parquet(store)) === 2, s"merge=$m")
      // listing job always; the inference job only for 40 footers
      assert(jobsOutsideSql(StoreFs.read(spark, store, m)) === (if (m) 2 else 1), s"merge=$m")
    }
  }

  test("a harvest cycle and its materialization chain open every table with no job") {
    val src = Files.createTempDirectory("graft_pin_src").toString
    val base = Files.createTempDirectory("graft_pin").toString
    writeCsv(src, "trend_a.csv", "dn,timestamp,v", Seq(
      "Cell=1,2024-01-01 10:03:00,1.5", "Cell=2,2024-01-01 10:07:00,2.5",
      "Cell=3,2024-01-02 11:00:00,4.0"))
    writeCsv(src, "attr_a.csv", "dn,timestamp,status", Seq(
      "Cell=1,2024-01-01 09:00:00,active", "Cell=1,2024-01-02 09:00:00,standby"))
    writeCsv(src, "notif_a.csv", "dn,timestamp,kind", Seq(
      "Cell=1,2024-01-01 12:00:00,link_down", "Cell=1,2024-01-01 12:00:00,link_up"))
    def job(prefix: String) = HarvestJob.Job(
      sourceDir = src, format = "csv", dnCol = "dn", entityComponent = "Cell",
      tsCol = "timestamp", tsFormat = "yyyy-MM-dd HH:mm:ss",
      granularity = if (prefix == "trend") "15m" else "raw",
      storePath = s"$base/$prefix", statePath = s"$base/${prefix}_state",
      pattern = s"${prefix}_.*\\.csv", target = prefix match {
        case "trend" => "trend"; case "attr" => "attribute"; case "notif" => "notification"
      },
      currentPath = if (prefix == "attr") Some(s"$base/attr_current") else None)
    Seq(("Cell=1", "A"), ("Cell=2", "A"), ("Cell=3", "B")).toDF("dn", "parent_dn")
      .select(EntityRegistry.entityId(col("dn")).as("child_dn"), col("parent_dn"))
      .write.parquet(s"$base/rel")
    val defs = Seq(
      Materialize.MatDef("hourly", s"$base/trend", s"$base/hourly", s"$base/hourly_state",
        "hour", tsCol = "bucket", valueCol = Some("v")),
      Materialize.MatDef("daily", s"$base/hourly", s"$base/daily", s"$base/daily_state", "day"),
      Materialize.MatDef("site_daily", s"$base/hourly", s"$base/site_daily",
        s"$base/site_state", "day", relationPath = Some(s"$base/rel")))
    var results = Map.empty[String, Int]
    val jobs = jobsOutsideSql {
      Seq("trend", "attr", "notif").foreach(p => HarvestJob.run(spark, job(p)))
      results = Materialize.runAll(spark, defs).toMap.map { case (k, v) => k -> v.length }
    }
    assert(results === Map("hourly" -> 2, "daily" -> 2, "site_daily" -> 2))
    assert(StoreFs.read(spark, s"$base/site_daily").select("entity_id").distinct()
      .as[String].collect().toSet === Set("A", "B"))
    assert(jobs === 0)
  }

  test("IVF-PQ and BM25 searches open their index tables with no job") {
    val emb = TableCatalog(spark, sf).embeddings
    val ann = Files.createTempDirectory("graft_pin_ivfpq").toString + "/idx"
    Similarity.ivfpqBuild(emb, "vec_id", "embedding", ann)
    val q = emb.filter(col("vec_id") < 3)
    var hits = 0
    assert(jobsOutsideSql {
      hits = Similarity.ivfpqSearch(q, "vec_id", "embedding", ann, k = 5).collect().length
    } === 0)
    assert(hits > 0)

    val text = Files.createTempDirectory("graft_pin_text").toString + "/idx"
    TextIndex.build(Seq((1L, "spark stream vector"), (2L, "spark noise"), (3L, "vector only"))
      .toDF("doc_id", "text"), "doc_id", "text", text)
    var ranked = Seq.empty[Long]
    assert(jobsOutsideSql {
      ranked = TextIndex.bm25(spark, text, Seq("spark", "vector")).collect().toSeq
        .map(_.getAs[Long]("doc_id"))
    } === 0)
    assert(ranked.headOption === Some(1L))
  }
}
