package graftbench

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.operators.TextIndex
import graft.similarity.Similarity

/** `search_serve`: the serving path with writes beside reads. One op is
  * one request against the indexes built in set-up: an ANN top-10
  * (`Similarity.ivfpqSearch`), a BM25 top-10 (`TextIndex.bm25`) or a
  * BM25 + ANN reciprocal-rank-fusion hybrid. Every [[MixLength]]-th
  * request is an index add of [[AddBatch]] documents and their vectors
  * (`Similarity.ivfpqAdd` + `TextIndex.addBatch`), so later requests
  * run against grown indexes.
  *
  * Inputs: [[Docs]] documents whose ids double as vector ids;
  * whitespace text drawn from a Zipf(1.05) vocabulary of [[Vocab]]
  * words, [[MinLen]]–[[MaxLen]] tokens per document; [[Dims]]-dim
  * vectors around [[Clusters]] seeded cluster centres. Queries are
  * perturbed corpus vectors and pairs of mid-frequency words.
  */
final class SearchServe(c: Ctx) extends Workload(c) {
  import SearchServe._

  private var dir = ""
  private var present = Docs            // documents (and vectors) indexed so far
  private var adds = 0
  private val annResults = mutable.ArrayBuffer.empty[(Int, Int, Seq[Long])]     // (op, corpus size, ids)
  private val bm25Results = mutable.ArrayBuffer.empty[(Int, Int, Seq[(Long, Double)])]
  private lazy val zipf = new Gen.Zipf(Vocab, 1.05)

  private def textPath = s"$dir/index/text"
  private def annPath = s"$dir/index/ann"

  // ---- generator ----------------------------------------------------

  private def tokens(n: Long): Seq[String] =
    (0 until MinLen + Gen.below(MaxLen - MinLen + 1, seed, 81, n)).map(j =>
      Gen.word(zipf.rank(Gen.unit(seed, 80, n, j))))

  /** Vector `n` as written: its cluster centre plus a point of a
    * [[Latent]]-dim subspace (embeddings have low intrinsic dimension)
    * plus small isotropic noise, components rounded to 5 decimals. A
    * query perturbs the latent point of a corpus vector. */
  private def vector(n: Long, querySalt: Long = -1): Array[Double] = {
    val k = Gen.below(Clusters, seed, 70, n)
    val z = Array.tabulate(Latent)(l => Gen.unit(seed, 73, n, l) * 2 - 1 +
      (if (querySalt < 0) 0.0 else 0.1 * (Gen.unit(seed, 74, querySalt, l) * 2 - 1)))
    Array.tabulate(Dims) { d =>
      var v = Gen.unit(seed, 71, k, d) * 2 - 1 + 0.03 * (Gen.unit(seed, 72, n, d, querySalt) * 2 - 1)
      var l = 0
      while (l < Latent) { v += 0.4 * z(l) * (Gen.unit(seed, 75, k, d, l) * 2 - 1); l += 1 }
      math.rint(v * 1e5) / 1e5
    }
  }
  private def vectorJson(n: Long) = vector(n).map(x => java.math.BigDecimal.valueOf(x).toPlainString).mkString(",")

  private def writeDocs(files: Gen.Files, rel: String, ids: Range): Unit = {
    files.write(s"$rel/docs.jsonl")(ids.iterator.map(n => s"""{"doc_id": $n, "text": "${tokens(n).mkString(" ")}"}"""))
    files.write(s"$rel/vectors.jsonl")(ids.iterator.map(n => s"""{"id": $n, "emb": [${vectorJson(n)}]}"""))
  }
  private def docs(rel: String) = spark.read.schema(DocSchema).json(s"$dir/$rel/docs.jsonl")
  private def vectors(rel: String) = spark.read.schema(VecSchema).json(s"$dir/$rel/vectors.jsonl")

  def setup(d: String): Gen.Files = {
    dir = d
    present = Docs; adds = 0
    annResults.clear(); bm25Results.clear()
    val files = new Gen.Files(d)
    writeDocs(files, "in/base", 0 until Docs)
    trace.span("similarity.build")(Similarity.ivfpqBuild(vectors("in/base"), "id", "emb", annPath,
      nCells = 16, m = 8, nCodes = 16))
    trace.span("textindex.build")(TextIndex.build(docs("in/base"), "doc_id", "text", textPath))
    files
  }

  def mixLength: Int = MixLength
  def warmupRotations = 1
  def opKind(i: Int): String = Seq("ann", "bm25", "hybrid", "ann", "bm25", "add")(i % MixLength)
  def latencyName = "search"
  def throughputName = "requests_per_s"
  def throughputUnit = "1/s"
  def diskName = "index_bytes_per_doc"

  private def annQuery(i: Int): DataFrame = {
    val src = Gen.below(present, seed, 110, i).toLong
    spark.createDataFrame(java.util.Collections.singletonList(Row(-1L - i, vector(src, i.toLong).toSeq)),
      VecSchema.copy(fields = Array(StructField("q_id", LongType), VecSchema("emb"))))
  }
  private def queryTokens(i: Int): Seq[String] =
    Seq(111, 112).map(s => Gen.word(MinQueryRank + Gen.below(MaxQueryRank - MinQueryRank, seed, s, i))).distinct

  override def prepare(i: Int): Unit =
    if (opKind(i) == "add") {
      val from = Docs + adds * AddBatch
      writeDocs(new Gen.Files(dir), s"in/add$adds", from until from + AddBatch)
    }

  def op(i: Int): Long = {
    opKind(i) match {
      case "ann" =>
        val ids = trace.span("similarity.search")(
          Similarity.ivfpqSearch(annQuery(i), "q_id", "emb", annPath, k = 10)
            .orderBy(col("rank")).select(col("n_id")).collect().map(_.getLong(0)).toSeq)
        if (ctx.recording) annResults += ((i, present, ids))
      case "bm25" =>
        val top = trace.span("textindex.bm25")(
          TextIndex.bm25(spark, textPath, queryTokens(i), topK = 10).collect()
            .map(r => (r.getLong(0), r.getDouble(2))).toSeq)
        if (ctx.recording) bm25Results += ((i, present, top))
      case "hybrid" =>
        trace.span("search.hybrid") {
          val w = Window.orderBy(col("score").desc, col("doc_id"))
          val t = trace.span("textindex.bm25")(TextIndex.bm25(spark, textPath, queryTokens(i), topK = 100))
            .withColumn("rt", row_number().over(w)).select(col("doc_id"), col("rt"))
          val v = trace.span("similarity.search")(
            Similarity.ivfpqSearch(annQuery(i), "q_id", "emb", annPath, k = 100))
            .select(col("n_id").as("doc_id"), col("rank").as("rv"))
          t.join(v, Seq("doc_id"), "full_outer")
            .withColumn("rrf", round(coalesce(lit(1.0) / (lit(60) + col("rt")), lit(0.0)) +
              coalesce(lit(1.0) / (lit(60) + col("rv")), lit(0.0)), 6))
            .withColumn("rank", row_number().over(Window.orderBy(col("rrf").desc, col("doc_id"))))
            .filter(col("rank") <= 10).collect()
        }
      case "add" =>
        val rel = s"in/add$adds"
        trace.span("search.index_add") {
          trace.span("similarity.add")(Similarity.ivfpqAdd(vectors(rel), "id", "emb", annPath, Some(s"b$adds")))
          trace.span("textindex.add")(TextIndex.addBatch(docs(rel), "doc_id", "text", textPath, s"b$adds"))
        }
        adds += 1
        present += AddBatch
    }
    1L
  }

  // ---- brute-force references -----------------------------------------

  private def cosineTop10(q: Array[Double], n: Int): Seq[Long] = {
    def dot(a: Array[Double], b: Array[Double]) = { var s = 0.0; var j = 0; while (j < a.length) { s += a(j) * b(j); j += 1 }; s }
    val qn = math.sqrt(dot(q, q))
    (0 until n).map { id => val v = vector(id); (dot(q, v) / (qn * math.sqrt(dot(v, v))), id.toLong) }
      .sortBy { case (s, id) => (-s, id) }.take(10).map(_._2)
  }

  private var recall = 0.0

  /** Recall@10 of every timed ANN request plus [[RecallQueries]]
    * requests issued after the window, against the brute-force top-10
    * over the vectors present when each ran. */
  private def measureRecall(): Double = {
    val extra = (0 until RecallQueries).map(k => RecallBase + k)
    val queries = extra.map(annQuery).reduce(_ union _)
    val got = Similarity.ivfpqSearch(queries, "q_id", "emb", annPath, k = 10)
      .select(col("q_id"), col("n_id")).collect().groupBy(_.getLong(0))
      .map { case (q, rows) => q -> rows.map(_.getLong(1)).toSeq }
    val all = annResults ++ extra.map(i => (i, present, got.getOrElse(-1L - i, Nil)))
    all.map { case (i, n, ids) =>
      val src = Gen.below(n, seed, 110, i).toLong
      ids.toSet.intersect(cosineTop10(vector(src, i.toLong), n).toSet).size / 10.0
    }.sum / all.size
  }

  private def round6(x: Double): BigDecimal = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP)

  /** BM25 exactly as `TextIndex.bm25` defines it (k1 = 1.2, b = 0.75,
    * idf and each term rounded to 6 decimals, decimal sums, score
    * desc / doc id asc), over whitespace tokens of the docs present. */
  private def bm25Top10(toks: Seq[String], n: Int): Seq[(Long, Double)] = {
    val (k1, b) = (1.2, 0.75)
    val docs = (0 until n).map(id => id.toLong -> tokens(id))
    val nDocs = n.toLong
    val avgdl = docs.map(_._2.size.toLong).sum.toDouble / nDocs
    val idf = toks.map { t =>
      val df = docs.count(_._2.contains(t)).toLong
      t -> round6(math.log(1.0 + ((nDocs - df) + 0.5) / (df + 0.5))).toDouble
    }.toMap
    docs.flatMap { case (id, ts) =>
      val terms = toks.flatMap { t =>
        val tf = ts.count(_ == t)
        if (tf == 0) None
        else Some(round6(idf(t) * ((tf * (k1 + 1.0)) / (tf + k1 * ((1.0 - b) + b * ts.size / avgdl)))))
      }
      if (terms.isEmpty) None else Some((id, terms.sum))
    }.sortBy { case (id, s) => (-s, id) }.take(10).map { case (id, s) => (id, s.toDouble) }
  }

  def check(): Seq[(String, Boolean)] = {
    recall = measureRecall()
    val bm25 = bm25Results.map { case (i, n, got) =>
      val want = bm25Top10(queryTokens(i), n)
      val w = if (ctx.corruptExpected) want.map { case (id, s) => (id + 1, s) } else want
      if (got != w) println(s"  bm25 op $i: got ${got.take(3)} expected ${w.take(3)}")
      got == w
    }
    Seq("search.ann_recall_at_10_floor" -> (recall >= RecallFloor),
      "search.bm25_topk" -> bm25.forall(identity))
  }

  def diskBytes(): Long = Disk.bytes(s"$dir/index")
  def itemsStored(): Long = present.toLong

  override def extra(byKind: Map[String, Iterable[Double]]): Seq[(String, Double, String)] = Seq(
    ("index_add_p50_s", Main.median(byKind.getOrElse("add", Nil)), "s"),
    ("ann_recall_at_10", recall, "share"),
    ("index_adds", adds.toDouble, "count"),
    ("textindex_files", Disk.files(textPath).toDouble, "count"))

  override def layerFigures(): Map[String, Double] = Map(
    "similarity.recall_at_10" -> recall,
    "textindex.files" -> Disk.files(textPath).toDouble)
}

object SearchServe {
  val Docs = 1000
  val Vocab = 120
  val MinLen = 20
  val MaxLen = 60
  val Dims = 32
  val Clusters = 24
  val Latent = 4
  val AddBatch = 100
  val MixLength = 6
  val MinQueryRank = 3
  val MaxQueryRank = 80
  val RecallFloor = 0.8
  val RecallQueries = 20
  val RecallBase = 700000
  val DocSchema = StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType)))
  val VecSchema = StructType(Seq(StructField("id", LongType), StructField("emb", ArrayType(DoubleType))))
}
