package graftbench

import scala.collection.mutable
import org.apache.spark.sql.functions._
import graft.operators.Dedup

/** `dedup_ingest`: incremental crawl curation. One op is one crawl
  * batch of [[Batch]] documents: exact dedup against the content-hash
  * index (`Dedup.dedupIncrementalStaged`), near dedup of the survivors
  * against the MinHash-LSH index (`Dedup.nearDedupIncrementalStaged`),
  * the survivors persisted (their ids collected), then both commits.
  * The indexes grow batch by batch from a [[BaseDocs]]-document
  * corpus indexed in set-up.
  *
  * Inputs: Zipf(1.0) text over [[Vocab]] words, [[MinLen]]–[[MaxLen]]
  * tokens; in each batch ~[[ExactPct]]% of documents are exact copies
  * and ~[[NearPct]]% near copies (two tokens replaced) of a document
  * with a smaller id, the rest are unique.
  */
final class DedupIngest(c: Ctx) extends Workload(c) {
  import DedupIngest._

  private var dir = ""
  private var ingested = 0L
  private var batches = 0
  private val dropped = mutable.Map.empty[Long, Boolean] // planted doc id → dropped?
  private val droppedPerBatch = mutable.ArrayBuffer.empty[Long]
  private lazy val zipf = new Gen.Zipf(Vocab, 1.0)

  /** Kind of document `n`: 0 unique, 1 exact copy, 2 near copy. */
  private def kind(n: Long): Int =
    if (n < BaseDocs) 0
    else Gen.below(100, seed, 90, n) match {
      case p if p < ExactPct => 1
      case p if p < ExactPct + NearPct => 2
      case _ => 0
    }
  private def source(n: Long): Long = Gen.below(n.toInt, seed, 91, n).toLong

  private def text(n: Long): Seq[String] = kind(n) match {
    case 0 => (0 until MinLen + Gen.below(MaxLen - MinLen + 1, seed, 92, n)).map(j =>
      Gen.word(zipf.rank(Gen.unit(seed, 93, n, j))))
    case 1 => text(source(n))
    case _ =>
      val t = text(source(n)).toArray
      Seq(94, 95).foreach(s => t(Gen.below(t.length, seed, s, n)) = Gen.word(Vocab + Gen.below(1000, seed, s + 2, n)))
      t.toSeq
  }

  private def write(rel: String, ids: Range, files: Gen.Files): String =
    files.write(rel)(ids.iterator.map(n => s"""{"doc_id": $n, "text": "${text(n).mkString(" ")}"}"""))

  /** Returns the ids of the batch's surviving documents. */
  private def ingest(path: String): Array[Long] = {
    val batch = spark.read.schema(SearchServe.DocSchema).json(path)
    val exact = trace.span("dedup.exact")(
      Dedup.dedupIncrementalStaged(spark, batch, "doc_id", "text", s"$dir/index/exact"))
    val near = trace.span("dedup.near")(
      Dedup.nearDedupIncrementalStaged(spark, exact.survivors, "doc_id", "text", s"$dir/index/near"))
    val kept = trace.span("dedup.persist")(near.survivors.select(col("doc_id")).collect().map(_.getLong(0)))
    trace.span("dedup.commit") { exact.commit(); near.commit() }
    kept
  }

  def setup(d: String): Gen.Files = {
    dir = d
    ingested = 0; batches = 0
    dropped.clear(); droppedPerBatch.clear()
    val files = new Gen.Files(d)
    val base = write("in/base.jsonl", 0 until BaseDocs, files)
    ingest(base)
    ingested = BaseDocs
    files
  }

  def mixLength = 1
  def warmupRotations = 3
  def opKind(i: Int) = "batch"
  def latencyName = "batch"
  def throughputName = "dedup_docs_per_s"
  def throughputUnit = "docs/s"
  def diskName = "index_bytes_per_doc"

  private def batchIds(j: Int) = (BaseDocs + j * Batch) until (BaseDocs + (j + 1) * Batch)
  override def prepare(i: Int): Unit = write(s"in/batch$batches.jsonl", batchIds(batches), new Gen.Files(dir))

  def op(i: Int): Long = {
    val ids = batchIds(batches)
    val kept = ingest(s"$dir/in/batch$batches.jsonl")
    val keptSet = kept.toSet
    if (ctx.recording) {
      ids.foreach(n => if (kind(n) != 2) dropped(n) = !keptSet(n))
      droppedPerBatch += ids.size - kept.length
    }
    batches += 1
    ingested += ids.size
    ids.size.toLong
  }

  def check(): Seq[(String, Boolean)] = {
    val exact = dropped.filter { case (n, _) => kind(n) == 1 }
    val unique = dropped.filter { case (n, _) => kind(n) == 0 }
    val exactMissed = exact.count(!_._2) + ctx.skew
    val uniqueDropped = unique.count(_._2)
    if (exactMissed > 0) println(s"  dedup: $exactMissed of ${exact.size} planted exact duplicates kept")
    if (uniqueDropped > 0) println(s"  dedup: $uniqueDropped of ${unique.size} planted unique documents dropped")
    Seq("dedup.exact_duplicates_dropped" -> (exactMissed == 0),
      "dedup.uniques_kept" -> (uniqueDropped == 0))
  }

  def diskBytes(): Long = Disk.bytes(s"$dir/index")
  def itemsStored(): Long = ingested

  override def extra(byKind: Map[String, Iterable[Double]]): Seq[(String, Double, String)] = Seq(
    ("dedup_dropped_per_batch", Main.median(droppedPerBatch.map(_.toDouble).toSeq), "count"))

  override def layerFigures(): Map[String, Double] =
    Map("dedup.dropped" -> Main.median(droppedPerBatch.map(_.toDouble).toSeq))
}

object DedupIngest {
  val BaseDocs = 1500
  val Batch = 400
  val Vocab = 8000
  val MinLen = 30
  val MaxLen = 80
  val ExactPct = 10
  val NearPct = 5
}
