package graft

import org.apache.spark.sql.functions._
import graft.similarity.Similarity
import graft.sources.TableCatalog

class SimilaritySpec extends SparkSpec {

  private lazy val emb = TableCatalog(spark, sf).embeddings.cache()

  test("cosine of a vector with itself is 1") {
    val one = emb.limit(50)
      .select(Similarity.cosine(col("embedding"), col("embedding")).as("c"))
      .filter(abs(col("c") - 1.0) > 1e-9)
    assert(one.isEmpty)
  }

  test("brute-force top-k: k rows per query, ranks contiguous, self excluded") {
    val q = emb.filter(col("vec_id") < 5)
    val top = Similarity.cosineTopK(q, emb, "vec_id", "vec_id", "embedding", 10)
    val counts = top.groupBy("q_id").agg(count(lit(1)).as("n"), max("rank").as("mx"))
    assert(counts.filter(col("n") =!= 10 || col("mx") =!= 10).isEmpty)
    assert(top.filter(col("q_id") === col("n_id")).isEmpty)
  }

  test("LSH ANN returns a subset ranked by true cosine with usable recall") {
    val q = emb.filter(col("vec_id") < 5)
    val exact = Similarity.cosineTopK(q, emb, "vec_id", "vec_id", "embedding", 10)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val ann = Similarity.lshTopK(q, emb, "vec_id", "vec_id", "embedding", 10)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (exact & ann).size.toDouble / exact.size
    // weakly-similar corpus: multi-table LSH holds a modest floor here;
    // the planted-neighbor test below asserts the strong floor on the
    // retrieval case LSH is actually for
    assert(recall >= 0.10, s"recall $recall")
  }

  test("LSH ANN recall >= 0.9 on planted high-similarity neighbors") {
    // queries = perturbed copies of corpus vectors (cosine ≈ 0.999):
    // the ANN must find each query's original in its top-10.
    val q = emb.filter(col("vec_id") < 20)
      .select((col("vec_id") + 100000).as("vec_id"),
        transform(col("embedding"),
          x => x + lit(0.05f) * sin(x * 13.7f)).as("embedding"))
    val ann = Similarity.lshTopK(q, emb, "vec_id", "vec_id", "embedding", 10)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val found = (0 until 20).count(i => ann.contains((i + 100000L, i.toLong)))
    val recall = found / 20.0
    assert(recall >= 0.9, s"planted-neighbor recall $recall")
  }

  test("IVF ANN recall >= 0.9 on planted high-similarity neighbors") {
    val q = emb.filter(col("vec_id") < 20)
      .select((col("vec_id") + 100000).as("vec_id"),
        transform(col("embedding"),
          x => x + lit(0.05f) * sin(x * 13.7f)).as("embedding"))
    val ann = Similarity.ivfTopK(q, emb, "vec_id", "vec_id", "embedding", 10)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val found = (0 until 20).count(i => ann.contains((i + 100000L, i.toLong)))
    val recall = found / 20.0
    assert(recall >= 0.9, s"IVF planted-neighbor recall $recall")
  }

  test("PQ ANN recall >= 0.9 on planted high-similarity neighbors") {
    val q = emb.filter(col("vec_id") < 20)
      .select((col("vec_id") + 100000).as("vec_id"),
        transform(col("embedding"),
          x => x + lit(0.05f) * sin(x * 13.7f)).as("embedding"))
    val ann = Similarity.pqTopK(q, emb, "vec_id", "vec_id", "embedding", 10)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val found = (0 until 20).count(i => ann.contains((i + 100000L, i.toLong)))
    val recall = found / 20.0
    assert(recall >= 0.9, s"PQ planted-neighbor recall $recall")
  }

  test("PQ ANN overlaps the exact top-k meaningfully on the raw corpus") {
    val q = emb.filter(col("vec_id") < 10)
    val exact = Similarity.cosineTopK(q, emb, "vec_id", "vec_id", "embedding", 10)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val pq = Similarity.pqTopK(q, emb, "vec_id", "vec_id", "embedding", 10)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(pq.size === exact.size) // k rows per query either way
    val recall = (exact & pq).size.toDouble / exact.size
    assert(recall >= 0.5, s"PQ overlap recall $recall")
  }

  test("persisted PQ index: build once, search ≡ inline path; codes stay narrow") {
    val idx = java.nio.file.Files.createTempDirectory("graft_pq_idx").toString
    Similarity.pqBuild(emb, "vec_id", "embedding", idx)
    val q = emb.filter(col("vec_id") < 10)
    val fromIndex = Similarity.pqSearch(q, "vec_id", "embedding", idx, k = 10)
    val inline = Similarity.pqTopK(q, emb, "vec_id", "vec_id", "embedding", k = 10)
    assert(fromIndex.exceptAll(inline).isEmpty && inline.exceptAll(fromIndex).isEmpty)
    // the stored code rows carry m small ints, never vectors
    val codes = spark.read.parquet(s"$idx/codes")
    assert(codes.columns.sorted === Array("__codes", "n_id"))
    assert(codes.head.getSeq[Int](codes.head.fieldIndex("__codes")).length === 8)
    // searching twice from the same index is deterministic
    val again = Similarity.pqSearch(q, "vec_id", "embedding", idx, k = 10)
    assert(again.exceptAll(fromIndex).isEmpty && fromIndex.exceptAll(again).isEmpty)
  }

  test("cosinePairs: LSH path is sound and has high recall on planted near-dups") {
    import graft.SparkSpec.spark.implicits._
    // 30 planted near-dup pairs (cosine ≈ 0.99) among 240 random
    // 32-dim vectors.
    val rnd = new scala.util.Random(11)
    def vec(): Array[Float] = Array.fill(32)(rnd.nextGaussian().toFloat)
    val planted = (0 until 30).flatMap { i =>
      val v = vec()
      val w = v.map(x => x + 0.08f * rnd.nextGaussian().toFloat)
      Seq((i * 2L, v), (i * 2L + 1, w))
    }
    val noise = (0 until 240).map(i => (1000L + i, vec()))
    val df = (planted ++ noise).toDF("id", "embedding")
    val exact = Similarity.cosinePairs(df, "id", "embedding", 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val lsh = Similarity.cosinePairs(df, "id", "embedding", 0.9, lsh = true)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // exact mode finds (at least) the planted pairs
    val plantedPairs = (0 until 30).map(i => (i * 2L, i * 2L + 1)).toSet
    assert(plantedPairs.forall(exact.contains), "exact mode missed a planted pair")
    // soundness: every LSH pair is a true pair with the identical sim
    lsh.foreach { case (pair, sim) =>
      assert(exact.contains(pair) && math.abs(exact(pair) - sim) < 1e-12) }
    // recall on the high-similarity regime LSH exists for
    val recall = (plantedPairs count lsh.contains).toDouble / plantedPairs.size
    assert(recall >= 0.9, s"cosinePairs LSH recall $recall")
  }

  test("persisted IVF index: build once, search twice ≡ inline path") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf").toString + "/idx"
    val q = emb.filter(col("vec_id") < 10)
    Similarity.ivfBuild(emb, "vec_id", "embedding", dir)
    def run() = Similarity.ivfSearch(q, "vec_id", "embedding", dir, k = 10)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val first = run()
    val second = run()
    assert(first === second, "persisted-index search is not deterministic")
    val inline = Similarity.ivfTopK(q, emb, "vec_id", "vec_id", "embedding", k = 10)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(first === inline, "persisted-index search diverges from the inline path")
  }

  test("ivfSearchSweep: every sweep point is bit-identical to its per-nprobe ivfSearch") {
    // r18 optimization contract: s17's tuning sweep probes the index
    // ONCE at max nprobe and derives each point by probe-rank
    // filtering; this pins that the derived result sets equal the
    // independent per-nprobe searches EXACTLY (same rows, same ranks),
    // so the sweep may never drift from the serving path it evaluates.
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf").toString + "/idx"
    val q = emb.filter(col("vec_id") < 10)
    Similarity.ivfBuild(emb, "vec_id", "embedding", dir)
    val points = Seq(1, 2, 4, 8)
    val sweep = Similarity.ivfSearchSweep(q, "vec_id", "embedding", dir,
      k = 10, nprobes = points)
    points.foreach { np =>
      val single = Similarity.ivfSearch(q, "vec_id", "embedding", dir,
          k = 10, nprobe = np)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
      val swept = sweep.filter(col("nprobe") === np).select("q_id", "rank", "n_id")
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
      assert(swept === single, s"sweep point nprobe=$np diverges from ivfSearch")
    }
  }

  test("persisted IVF search reads only probed cell partitions") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf").toString + "/idx"
    Similarity.ivfBuild(emb, "vec_id", "embedding", dir)
    val q = emb.filter(col("vec_id") === 0)
    val plan = Similarity.ivfSearch(q, "vec_id", "embedding", dir, k = 5, nprobe = 2)
      .queryExecution.executedPlan
    // Recurse through AQE wrapper nodes (their sub-plans are not
    // `children`, so a plain collect misses the scans).
    def scansOf(p: org.apache.spark.sql.execution.SparkPlan):
        Seq[org.apache.spark.sql.execution.FileSourceScanExec] = {
      val here = p match {
        case s: org.apache.spark.sql.execution.FileSourceScanExec
          if s.relation.location.rootPaths.exists(_.toString.contains("/cells")) => Seq(s)
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          scansOf(a.inputPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          scansOf(q.plan)
        case _ => Seq.empty
      }
      here ++ p.children.flatMap(scansOf)
    }
    val scans = scansOf(plan)
    assert(scans.nonEmpty, s"no cells scan found in plan:\n$plan")
    scans.foreach { s =>
      assert(s.partitionFilters.nonEmpty,
        s"cells scan has no partition filter:\n$plan")
      // 1 query × nprobe=2 → at most 2 of the 16 cell directories read.
      assert(s.selectedPartitions.partitionCount <= 2,
        s"expected ≤2 probed partitions, read ${s.selectedPartitions.partitionCount}")
    }
  }

  test("IVF-PQ composed index: full-probe search ≡ pure-PQ path; recall holds at nprobe=4") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ivfpq").toString + "/idx"
    Similarity.ivfpqBuild(emb, "vec_id", "embedding", dir)
    val q = emb.filter(col("vec_id") < 10)
    // Cells only gate WHICH codes get ADC-scored: probing every cell
    // must reproduce the pure-PQ path exactly (same codebooks — the
    // deterministic pqTrain sample — same ADC scores, same re-rank).
    val full = Similarity.ivfpqSearch(q, "vec_id", "embedding", dir, k = 10, nprobe = 16)
    val purePq = Similarity.pqTopK(q, emb, "vec_id", "vec_id", "embedding", k = 10)
    assert(full.exceptAll(purePq).isEmpty && purePq.exceptAll(full).isEmpty,
      "full-probe IVF-PQ diverges from the pure-PQ path")
    // planted-neighbor recall with real pruning (nprobe=4 of 16 cells)
    val qp = emb.filter(col("vec_id") < 20)
      .select((col("vec_id") + 100000).as("vec_id"),
        transform(col("embedding"),
          x => x + lit(0.05f) * sin(x * 13.7f)).as("embedding"))
    val ann = Similarity.ivfpqSearch(qp, "vec_id", "embedding", dir, k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (0 until 20).count(i => ann.contains((i + 100000L, i.toLong))) / 20.0
    assert(recall >= 0.9, s"IVF-PQ planted-neighbor recall $recall")
    // search twice: deterministic
    val again = Similarity.ivfpqSearch(q, "vec_id", "embedding", dir, k = 10, nprobe = 16)
    assert(again.exceptAll(full).isEmpty && full.exceptAll(again).isEmpty)
  }

  test("IVF-PQ search reads only probed code partitions, and codes stay narrow") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ivfpq").toString + "/idx"
    Similarity.ivfpqBuild(emb, "vec_id", "embedding", dir)
    val codes = spark.read.parquet(s"$dir/codes")
    assert(codes.columns.sorted === Array("__codes", "cell", "n_id"))
    val q = emb.filter(col("vec_id") === 0)
    val plan = Similarity.ivfpqSearch(q, "vec_id", "embedding", dir, k = 5, nprobe = 2)
      .queryExecution.executedPlan
    def scansOf(p: org.apache.spark.sql.execution.SparkPlan):
        Seq[org.apache.spark.sql.execution.FileSourceScanExec] = {
      val here = p match {
        case s: org.apache.spark.sql.execution.FileSourceScanExec
          if s.relation.location.rootPaths.exists(_.toString.contains("/codes")) => Seq(s)
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          scansOf(a.inputPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          scansOf(q.plan)
        case _ => Seq.empty
      }
      here ++ p.children.flatMap(scansOf)
    }
    val scans = scansOf(plan)
    assert(scans.nonEmpty, s"no codes scan found in plan:\n$plan")
    scans.foreach { s =>
      assert(s.partitionFilters.nonEmpty,
        s"codes scan has no partition filter:\n$plan")
      // 1 query × nprobe=2 → at most 2 of the 16 cell directories read.
      assert(s.selectedPartitions.partitionCount <= 2,
        s"expected ≤2 probed partitions, read ${s.selectedPartitions.partitionCount}")
    }
  }

  test("ivfpqAdd: incrementally added vectors become searchable, old results undisturbed") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ivfpq_add").toString + "/idx"
    // build WITHOUT vectors 0..9, then add them incrementally
    val rest = emb.filter(col("vec_id") >= 10)
    Similarity.ivfpqBuild(rest, "vec_id", "embedding", dir, residual = true)
    val q = emb.filter(col("vec_id") >= 10 && col("vec_id") < 20)
    val before = Similarity.ivfpqSearch(q, "vec_id", "embedding", dir, k = 5, nprobe = 16)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    Similarity.ivfpqAdd(emb.filter(col("vec_id") < 10), "vec_id", "embedding", dir)
    // planted perturbed copies of the ADDED vectors are now found
    val qp = emb.filter(col("vec_id") < 10)
      .select((col("vec_id") + 100000).as("vec_id"),
        transform(col("embedding"),
          x => x + lit(0.05f) * sin(x * 13.7f)).as("embedding"))
    val ann = Similarity.ivfpqSearch(qp, "vec_id", "embedding", dir, k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (0 until 10).count(i => ann.contains((i + 100000L, i.toLong))) / 10.0
    assert(recall >= 0.9, s"added-vector recall $recall")
    // an added-set search equals a search over an index built with the
    // SAME quantizers: re-run the old queries and require every result
    // to be either the old hit or a genuinely better new vector
    val after = Similarity.ivfpqSearch(q, "vec_id", "embedding", dir, k = 5, nprobe = 16)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val oldIds = before.map(_._3)
    assert(after.forall { case (_, _, n) => oldIds.contains(n) || n < 10 },
      "post-add results contain ids that exist in neither the old index nor the batch")
  }

  test("filtered search: every hit allowed, top-k selects WITHIN the subset, all three paths") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ann_filt").toString
    Similarity.ivfBuild(emb, "vec_id", "embedding", s"$dir/ivf")
    Similarity.pqBuild(emb, "vec_id", "embedding", s"$dir/pq")
    Similarity.ivfpqBuild(emb, "vec_id", "embedding", s"$dir/ivfpq", residual = true)
    val q = emb.filter(col("vec_id") < 5)
    val allowedDf = emb.filter(col("label") === 0).select("vec_id")
    val allowedIds = allowedDf.collect().map(_.getLong(0)).toSet
    assert(allowedIds.size >= 20, "fixture needs a usable allowed subset")
    // exact filtered baseline: brute-force over the allowed corpus
    val exact = Similarity.cosineTopK(q, emb.filter(col("label") === 0),
        "vec_id", "vec_id", "embedding", 10)
      .collect().map(r => (r.getLong(0), r.getLong(2))).groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    def check(res: org.apache.spark.sql.DataFrame, path: String,
              recallFloor: Double): Unit = {
      val rows = res.collect().map(r => (r.getLong(0), r.getLong(2)))
      assert(rows.nonEmpty, s"$path returned nothing")
      assert(rows.forall { case (_, n) => allowedIds(n) },
        s"$path returned a disallowed neighbor")
      // k rows per query — the subset is large enough that a
      // pre-ranking filter must fill the full k (a post-filter would
      // come up short)
      rows.groupBy(_._1).foreach { case (qid, hs) =>
        assert(hs.length === 10, s"$path query $qid returned ${hs.length} < k rows")
      }
      val hits = rows.count { case (qid, n) => exact.getOrElse(qid, Set.empty)(n) }
      val recall = hits.toDouble / rows.length
      assert(recall >= recallFloor, s"$path filtered recall $recall")
    }
    // full probe + generous re-rank ⇒ near-exact on the subset
    check(Similarity.ivfSearch(q, "vec_id", "embedding", s"$dir/ivf",
      k = 10, nprobe = 16, allowed = Some(allowedDf)), "ivf", 1.0)
    check(Similarity.pqSearch(q, "vec_id", "embedding", s"$dir/pq",
      k = 10, rerank = 16, allowed = Some(allowedDf)), "pq", 0.8)
    check(Similarity.ivfpqSearch(q, "vec_id", "embedding", s"$dir/ivfpq",
      k = 10, nprobe = 16, rerank = 16, allowed = Some(allowedDf)), "ivfpq", 0.8)
    // no filter ⇒ unchanged behavior (default None path still exact
    // on the unfiltered corpus for IVF full probe)
    val unf = Similarity.ivfSearch(q, "vec_id", "embedding", s"$dir/ivf",
      k = 10, nprobe = 16).collect().map(r => (r.getLong(0), r.getLong(2)))
    assert(unf.exists { case (_, n) => !allowedIds(n) },
      "unfiltered search should reach outside the subset")
  }

  test("compactIndex: post-add small files collapse; searches bit-identical; dedup path refuses ANN") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ann_cmp").toString + "/idx"
    Similarity.ivfpqBuild(emb.filter(col("vec_id") >= 40), "vec_id", "embedding", dir,
      residual = true, rotate = true)
    // five daily add batches → five appended file sets per table
    (0 until 5).foreach { d =>
      Similarity.ivfpqAdd(emb.filter(col("vec_id") >= d * 8 && col("vec_id") < (d + 1) * 8),
        "vec_id", "embedding", dir, Some(s"day$d"))
    }
    def parquetFiles(p: String): Int = {
      def walk(f: java.io.File): Int =
        if (f.isDirectory) f.listFiles().map(walk).sum
        else if (f.getName.endsWith(".parquet")) 1 else 0
      walk(new java.io.File(p))
    }
    val q = emb.filter(col("vec_id") < 10)
    val before = Similarity.ivfpqSearch(q, "vec_id", "embedding", dir, k = 10)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    val codesBefore = parquetFiles(s"$dir/codes")
    val n = Similarity.compactIndex(spark, dir, nFiles = 2)
    assert(n === spark.read.parquet(s"$dir/codes").count())
    assert(parquetFiles(s"$dir/codes") < codesBefore,
      s"codes/ still has ${parquetFiles(s"$dir/codes")} files (was $codesBefore)")
    assert(parquetFiles(s"$dir/vectors") <= 2)
    // layout-only: every (q_id, rank, n_id) identical after the swap
    val after = Similarity.ivfpqSearch(q, "vec_id", "embedding", dir, k = 10)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    assert(after === before, "compaction changed a search result")
    // a further add lands in the compacted layout and is found
    Similarity.ivfpqAdd(emb.filter(col("vec_id") >= 490), "vec_id", "embedding", dir, Some("day5"))
    assert(spark.read.parquet(s"$dir/codes").count() > n)
    // the dedup compactor must refuse the ANN layout (the .bak-delete
    // trap) and the ANN compactor must refuse a non-ANN path
    intercept[IllegalArgumentException] {
      graft.operators.Dedup.compactIndex(spark, dir)
    }
    intercept[IllegalArgumentException] {
      Similarity.compactIndex(spark,
        java.nio.file.Files.createTempDirectory("graft_not_ann").toString)
    }
    // TORN-SWAP drill: simulate replace() dying between its two
    // renames (codes/ absent, only codes.bak) — the next search must
    // self-heal and return the same results
    val expected = Similarity.ivfpqSearch(q, "vec_id", "embedding", dir, k = 10)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    val (fsys, codesP) = graft.operators.StoreFs.fs(spark, s"$dir/codes")
    assert(fsys.rename(codesP, new org.apache.hadoop.fs.Path(s"$dir/codes.bak")))
    val healed = Similarity.ivfpqSearch(q, "vec_id", "embedding", dir, k = 10)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    assert(healed === expected, "torn-swap recovery changed search results")
  }

  test("residual IVF-PQ: recall holds, searches are deterministic, overlap ≥ plain codes") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ivfpq_res").toString
    Similarity.ivfpqBuild(emb, "vec_id", "embedding", s"$dir/res", residual = true)
    Similarity.ivfpqBuild(emb, "vec_id", "embedding", s"$dir/plain", residual = false)
    // planted-neighbor recall with pruning (nprobe=4 of 16 cells)
    val qp = emb.filter(col("vec_id") < 20)
      .select((col("vec_id") + 100000).as("vec_id"),
        transform(col("embedding"),
          x => x + lit(0.05f) * sin(x * 13.7f)).as("embedding"))
    val ann = Similarity.ivfpqSearch(qp, "vec_id", "embedding", s"$dir/res", k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (0 until 20).count(i => ann.contains((i + 100000L, i.toLong))) / 20.0
    assert(recall >= 0.9, s"residual IVF-PQ planted-neighbor recall $recall")
    // residual codes spend their resolution on the local neighborhood:
    // exact-top-k overlap must not trail the plain-code index
    // (deterministic: fixed seeds, deterministic samples)
    val q = emb.filter(col("vec_id") < 10)
    val exact = Similarity.cosineTopK(q, emb, "vec_id", "vec_id", "embedding", 10)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    def overlap(idx: String) =
      (Similarity.ivfpqSearch(q, "vec_id", "embedding", idx, k = 10, nprobe = 16)
        .collect().map(r => (r.getLong(0), r.getLong(2))).toSet & exact).size
    val (ovRes, ovPlain) = (overlap(s"$dir/res"), overlap(s"$dir/plain"))
    assert(ovRes >= ovPlain,
      s"residual overlap $ovRes trails plain overlap $ovPlain")
    // deterministic across searches
    val again = Similarity.ivfpqSearch(qp, "vec_id", "embedding", s"$dir/res", k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(again === ann)
  }

  test("IVF accepts array<double> embeddings (sampler + expressions)") {
    val dbl = emb.select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
    val q = dbl.filter(col("vec_id") < 3)
    val top = Similarity.ivfTopK(q, dbl, "vec_id", "vec_id", "embedding", k = 5)
    assert(top.groupBy("q_id").count().filter(col("count") =!= 5).isEmpty)
  }

  test("PCA: orthonormal components, eigen-ordered variance, whitening normalizes") {
    import graft.similarity.Pca
    val model = Pca.train(emb, "embedding", r = 8)
    assert(model.components.length === 8)
    for (i <- 0 until 8; j <- i until 8) {
      val ci = model.components(i); val cj = model.components(j)
      val d = ci.indices.map(k => ci(k) * cj(k)).sum
      if (i == j) assert(math.abs(d - 1.0) < 1e-9, s"component $i not unit")
      else assert(math.abs(d) < 1e-9, s"components $i,$j not orthogonal")
    }
    assert(model.eigenvalues.sliding(2).forall(p => p(0) >= p(1) - 1e-12),
      "eigenvalues not descending")
    // projected variance along each component equals its eigenvalue
    val proj = Pca.project(emb, "embedding", model)
      .select(col("pca")).collect().map(_.getSeq[Double](0).toArray)
    val n = proj.length
    for (i <- 0 until 8) {
      val mean = proj.map(_(i)).sum / n
      val v = proj.map(p => (p(i) - mean) * (p(i) - mean)).sum / n
      assert(math.abs(v - model.eigenvalues(i)) <= 1e-6 * math.max(1.0, model.eigenvalues(i)),
        s"variance $v along component $i != eigenvalue ${model.eigenvalues(i)}")
    }
    // whitening → unit variance per coordinate
    val white = Pca.project(emb, "embedding", model, whiten = true)
      .select(col("pca")).collect().map(_.getSeq[Double](0).toArray)
    for (i <- 0 until 8) {
      val mean = white.map(_(i)).sum / n
      val v = white.map(p => (p(i) - mean) * (p(i) - mean)).sum / n
      assert(math.abs(v - 1.0) < 1e-6, s"whitened variance $v along $i")
    }
    // deterministic: training twice yields the identical model
    val again = Pca.train(emb, "embedding", r = 8)
    assert(again.mean.toSeq === model.mean.toSeq)
    assert(again.components.map(_.toSeq).toSeq === model.components.map(_.toSeq).toSeq)
  }

  // Anisotropic corpus for the OPQ-rotation specs: a rank-4 signal
  // mixed into 16 dims through a dense orthonormal basis + small
  // noise, so the raw coordinate order couples every PQ subspace to
  // every other — the regime the rotation exists for.
  private lazy val anisoCorpus: org.apache.spark.sql.DataFrame = {
    import graft.SparkSpec.spark.implicits._
    val rnd = new scala.util.Random(5)
    val basis = Array.fill(4)(Array.fill(16)(rnd.nextGaussian()))
    // Gram-Schmidt
    for (i <- 0 until 4) {
      for (j <- 0 until i) {
        val d = (0 until 16).map(k => basis(i)(k) * basis(j)(k)).sum
        for (k <- 0 until 16) basis(i)(k) -= d * basis(j)(k)
      }
      val n = math.sqrt(basis(i).map(x => x * x).sum)
      for (k <- 0 until 16) basis(i)(k) /= n
    }
    (0 until 400).map { i =>
      val c = Array.fill(4)(rnd.nextGaussian())
      val v = Array.tabulate(16) { k =>
        ((0 until 4).map(s => c(s) * basis(s)(k)).sum +
          0.05 * rnd.nextGaussian()).toFloat
      }
      (i.toLong, v)
    }.toDF("vec_id", "embedding")
  }

  test("OPQ rotation: rotated PQ exact-top-k overlap >= unrotated on an anisotropic corpus") {
    val dir = java.nio.file.Files.createTempDirectory("graft_opq").toString
    Similarity.pqBuild(anisoCorpus, "vec_id", "embedding", s"$dir/plain",
      m = 4, nCodes = 8)
    Similarity.pqBuild(anisoCorpus, "vec_id", "embedding", s"$dir/rot",
      m = 4, nCodes = 8, rotate = true)
    assert(new java.io.File(s"$dir/rot/rotation").exists(), "rotation not persisted")
    assert(!new java.io.File(s"$dir/plain/rotation").exists())
    val q = anisoCorpus.filter(col("vec_id") < 20)
    val exact = Similarity.cosineTopK(q, anisoCorpus, "vec_id", "vec_id", "embedding", 10)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    // rerank=1 → candidates = k: recall is purely ADC-quality-driven,
    // so the comparison measures the codebooks, not the repair stage.
    def overlap(idx: String) =
      (Similarity.pqSearch(q, "vec_id", "embedding", idx, k = 10, rerank = 1)
        .collect().map(r => (r.getLong(0), r.getLong(2))).toSet & exact).size
    val (ovRot, ovPlain) = (overlap(s"$dir/rot"), overlap(s"$dir/plain"))
    assert(ovRot >= ovPlain,
      s"rotated overlap $ovRot trails unrotated $ovPlain")
    // searching the rotated index twice is deterministic
    val a = Similarity.pqSearch(q, "vec_id", "embedding", s"$dir/rot", k = 10)
    val b = Similarity.pqSearch(q, "vec_id", "embedding", s"$dir/rot", k = 10)
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
  }

  test("rotated IVF-PQ: full-probe ≡ rotated pure-PQ; rotation composes with residual") {
    val dir = java.nio.file.Files.createTempDirectory("graft_opq_ivfpq").toString
    // plain (non-residual) rotated build trains rotation + codebooks
    // on the SAME hash-ordered sample as a rotated pqBuild → with
    // every cell probed the two searches must agree exactly (cells
    // only gate WHICH codes get ADC-scored).
    Similarity.ivfpqBuild(emb, "vec_id", "embedding", s"$dir/ivfpq", rotate = true)
    Similarity.pqBuild(emb, "vec_id", "embedding", s"$dir/pq", rotate = true)
    val q = emb.filter(col("vec_id") < 10)
    val full = Similarity.ivfpqSearch(q, "vec_id", "embedding", s"$dir/ivfpq",
      k = 10, nprobe = 16)
    val pure = Similarity.pqSearch(q, "vec_id", "embedding", s"$dir/pq", k = 10)
    assert(full.exceptAll(pure).isEmpty && pure.exceptAll(full).isEmpty,
      "rotated full-probe IVF-PQ diverges from the rotated pure-PQ path")
    // rotation + residual compose: planted-neighbor recall under real
    // pruning (nprobe=4 of 16 cells) holds on the doubly-encoded index
    Similarity.ivfpqBuild(emb, "vec_id", "embedding", s"$dir/rr",
      residual = true, rotate = true)
    val qp = emb.filter(col("vec_id") < 20)
      .select((col("vec_id") + 100000).as("vec_id"),
        transform(col("embedding"),
          x => x + lit(0.05f) * sin(x * 13.7f)).as("embedding"))
    val ann = Similarity.ivfpqSearch(qp, "vec_id", "embedding", s"$dir/rr", k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (0 until 20).count(i => ann.contains((i + 100000L, i.toLong))) / 20.0
    assert(recall >= 0.9, s"rotated-residual IVF-PQ recall $recall")
  }

  test("persisted quantizer indexes are bit-identical across corpus partitionings") {
    val dir = java.nio.file.Files.createTempDirectory("graft_det").toString
    // the PLAIN ivf path (this round's fix: its centroid sample is now
    // hash-ordered like the residual/PQ paths)
    Similarity.ivfBuild(emb, "vec_id", "embedding", s"$dir/ivf_a")
    Similarity.ivfBuild(emb.repartition(7), "vec_id", "embedding", s"$dir/ivf_b")
    def cents(p: String) = spark.read.parquet(s"$p/centroids")
      .orderBy(col("cell")).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1)))
    assert(cents(s"$dir/ivf_a").toSeq === cents(s"$dir/ivf_b").toSeq,
      "plain IVF centroids differ across corpus partitionings")
    // a rotated (plain-path) IVF-PQ index: rotation, codebooks and the
    // full code set are all layout-independent
    Similarity.ivfpqBuild(emb, "vec_id", "embedding", s"$dir/pq_a", rotate = true)
    Similarity.ivfpqBuild(emb.repartition(5), "vec_id", "embedding", s"$dir/pq_b",
      rotate = true)
    def rotation(p: String) = spark.read.parquet(s"$p/rotation")
      .orderBy(col("i")).collect().map(r => (r.getInt(0), r.getSeq[Double](1)))
    assert(rotation(s"$dir/pq_a").toSeq === rotation(s"$dir/pq_b").toSeq,
      "rotation differs across corpus partitionings")
    def codes(p: String) = spark.read.parquet(s"$p/codes").collect()
      .map(r => (r.getLong(r.fieldIndex("n_id")),
        r.getSeq[Int](r.fieldIndex("__codes")),
        r.get(r.fieldIndex("cell")).toString)).toSet // partition col type is inferred
    assert(codes(s"$dir/pq_a") === codes(s"$dir/pq_b"),
      "code assignments differ across corpus partitionings")
  }

  test("ivfpqAdd: batch-id marker makes replays no-ops; duplicate appends never duplicate ranks") {
    val dir = java.nio.file.Files.createTempDirectory("graft_add_replay").toString + "/idx"
    Similarity.ivfpqBuild(emb.filter(col("vec_id") >= 10), "vec_id", "embedding", dir)
    val batch = emb.filter(col("vec_id") < 10)
    assert(Similarity.ivfpqAdd(batch, "vec_id", "embedding", dir, Some("day1")))
    val n1 = spark.read.parquet(s"$dir/codes").count()
    // a crash-retried add with the same batch id is a no-op
    assert(!Similarity.ivfpqAdd(batch, "vec_id", "embedding", dir, Some("day1")))
    assert(spark.read.parquet(s"$dir/codes").count() === n1)
    // an UNguarded replay (no batch id) does duplicate rows — but the
    // search must still return each neighbor at ONE rank (pqRerank
    // dedupes (q_id, n_id), matching ivfScore)
    Similarity.ivfpqAdd(batch, "vec_id", "embedding", dir)
    assert(spark.read.parquet(s"$dir/codes").count() > n1)
    val res = Similarity.ivfpqSearch(emb.filter(col("vec_id") < 5),
      "vec_id", "embedding", dir, k = 10, nprobe = 16).collect()
    val byQ = res.groupBy(_.getLong(0))
    byQ.foreach { case (q, rows) =>
      val ids = rows.map(_.getLong(2))
      assert(ids.distinct.length === ids.length, s"query $q repeats a neighbor")
      assert(rows.map(_.getInt(1)).sorted.toSeq === (1 to 10), s"query $q ranks not contiguous")
    }
  }

  test("zero-norm vectors are rejected at build and cannot poison top-k") {
    import graft.SparkSpec.spark.implicits._
    val dim = emb.head.getSeq[Float](emb.head.fieldIndex("embedding")).length
    val zero = Seq((99999L, Array.fill(dim)(0.0f))).toDF("vec_id", "embedding")
    val poisoned = emb.select(col("vec_id"), col("embedding")).unionByName(zero)
    val dir = java.nio.file.Files.createTempDirectory("graft_zero").toString + "/idx"
    Similarity.ivfpqBuild(poisoned, "vec_id", "embedding", dir,
      residual = true, rotate = true)
    val q = emb.filter(col("vec_id") < 5)
    val res = Similarity.ivfpqSearch(q, "vec_id", "embedding", dir, k = 10, nprobe = 16)
      .collect()
    // without the guard the zero vector's NaN re-rank sim desc-sorts
    // FIRST and it takes rank 1 for every query it reaches
    assert(!res.exists(_.getLong(2) == 99999L), "zero vector leaked into top-k")
    assert(res.groupBy(_.getLong(0)).forall(_._2.length == 10))
  }

  test("norm stats cover every label once") {
    val st = Similarity.normStats(emb, "label", "embedding")
    assert(st.count() === emb.select("label").distinct().count())
    assert(st.filter(col("min_norm") > col("max_norm")).isEmpty)
  }

  test("recallAtK grades planted overlaps exactly; missed queries grade 0, not absent") {
    import graft.SparkSpec.spark.implicits._
    val exact = Seq((1L, 10L), (1L, 11L), (1L, 12L), (2L, 20L), (2L, 21L), (3L, 30L))
      .toDF("q_id", "n_id")
    // q1: 2/3 hit; q2: missing entirely from approx → 0; q3: 1/1;
    // the duplicated (3,30) approx row must not double-count.
    val approx = Seq((1L, 10L), (1L, 12L), (1L, 99L), (3L, 30L), (3L, 30L))
      .toDF("q_id", "n_id")
    val got = Similarity.recallAtK(exact, approx)
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(got === Set((1L, 3L, 2L, 2.0 / 3.0), (2L, 2L, 0L, 0.0), (3L, 1L, 1L, 1.0)))
    // an index graded against itself is perfect recall
    val self = Similarity.recallAtK(exact, exact)
    assert(self.filter(col("recall") =!= 1.0).isEmpty)
    // end-to-end: the served IVF path grades against brute force
    val qs = emb.filter(col("vec_id") < 10)
    val truth = Similarity.cosineTopK(qs, emb, "vec_id", "vec_id", "embedding", k = 10)
    val root = java.nio.file.Files.createTempDirectory("graft_recall").toString
    Similarity.ivfBuild(emb, "vec_id", "embedding", s"$root/ivf")
    // full probe scores every cell exactly → macro recall can only
    // lose to self-match slotting; a narrow probe must not beat it
    val full = Similarity.ivfSearch(qs, "vec_id", "embedding", s"$root/ivf",
      k = 10, nprobe = Int.MaxValue)
    val fullRecall = Similarity.recallAtK(truth, full)
      .agg(avg(col("recall"))).head.getDouble(0)
    assert(fullRecall >= 0.9, s"full-probe IVF macro recall $fullRecall")
    val narrow = Similarity.ivfSearch(qs, "vec_id", "embedding", s"$root/ivf",
      k = 10, nprobe = 2)
    val narrowRecall = Similarity.recallAtK(truth, narrow)
      .agg(avg(col("recall"))).head.getDouble(0)
    assert(narrowRecall <= fullRecall + 1e-9,
      s"narrow probe $narrowRecall beat full probe $fullRecall")
    // the tuning-sweep key: recall is non-decreasing in nprobe
    // (probing more cells only ADDS candidates)
    val curve = graft.SparkEntry.queries("s17_ann_tuning")(spark, sf)
      .orderBy(col("nprobe"))
      .select("macro_recall").collect().map(_.getDouble(0)).toSeq
    assert(curve.size === 4)
    assert(curve.zip(curve.tail).forall { case (a, b) => b >= a - 1e-9 },
      s"recall curve not monotone: $curve")
  }

  test("annDelete: tombstones hide ids on every path, re-add revives, compact purges") {
    import graft.SparkSpec.spark.implicits._
    import graft.operators.StoreFs
    val dir = java.nio.file.Files.createTempDirectory("graft_ann_del").toString
    Similarity.ivfpqBuild(emb, "vec_id", "embedding", s"$dir/ivfpq")
    val q = emb.filter(col("vec_id") < 3)
    def search(k: Int = 5) = Similarity
      .ivfpqSearch(q, "vec_id", "embedding", s"$dir/ivfpq", k = k, nprobe = 16)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    val pre = search()
    val victim = pre.filter(_._1 == 0L).minBy(_._2)._3
    // delete: the victim vanishes, k rows per query stay filled
    // (candidates pruned BEFORE the cut), replay is a no-op
    assert(Similarity.annDelete(spark, s"$dir/ivfpq",
      Seq(victim).toDF("vec_id"), Some("b1")))
    assert(!Similarity.annDelete(spark, s"$dir/ivfpq",
      Seq(victim).toDF("vec_id"), Some("b1")))
    // a path-shaped batch id would nest/escape the _deletes/ marker
    // namespace — refused, mirroring TextIndex.deleteDocs
    for (bad <- Seq("a/b", "..", "x/../y")) assertThrows[Exception] {
      Similarity.annDelete(spark, s"$dir/ivfpq",
        Seq(victim).toDF("vec_id"), Some(bad))
    }
    val postDel = search()
    assert(!postDel.exists(_._3 == victim), "deleted id still returned")
    assert(postDel.groupBy(_._1).forall(_._2.length == 5), "k not filled after delete")
    // re-add revives: tombstone cleared, single rank (dedup) — the
    // original rows are still in the codes table alongside the re-add
    assert(Similarity.ivfpqAdd(emb.filter(col("vec_id") === victim),
      "vec_id", "embedding", s"$dir/ivfpq"))
    val revived = search()
    assert(revived.exists(_._3 == victim), "re-added id not revived")
    // the duplicate code rows (original + re-add) never duplicate a
    // rank: every query's result list is k DISTINCT neighbors
    assert(revived.groupBy(_._1).forall { case (_, rs) =>
      rs.length == 5 && rs.map(_._3).distinct.length == 5
    }, "duplicate appends duplicated a rank")
    // delete again, compact: rows purged physically, tombstones gone,
    // results identical to the tombstoned view
    assert(Similarity.annDelete(spark, s"$dir/ivfpq", Seq(victim).toDF("vec_id")))
    val tombstoned = search().sortBy(r => (r._1, r._2))
    assert(Similarity.compactIndex(spark, s"$dir/ivfpq") > 0)
    assert(!StoreFs.exists(spark, s"$dir/ivfpq/tombstones"))
    assert(spark.read.parquet(s"$dir/ivfpq/codes")
      .filter(col("n_id") === victim).isEmpty, "compact left purged codes")
    assert(spark.read.parquet(s"$dir/ivfpq/vectors")
      .filter(col("n_id") === victim).isEmpty, "compact left purged vectors")
    assert(search().sortBy(r => (r._1, r._2)).toSeq === tombstoned.toSeq)
    // the other two layouts hide tombstoned ids the same way
    Similarity.ivfBuild(emb, "vec_id", "embedding", s"$dir/ivf")
    Similarity.pqBuild(emb, "vec_id", "embedding", s"$dir/pq")
    Similarity.annDelete(spark, s"$dir/ivf", Seq(victim).toDF("vec_id"))
    Similarity.annDelete(spark, s"$dir/pq", Seq(victim).toDF("vec_id"))
    assert(!Similarity.ivfSearch(q, "vec_id", "embedding", s"$dir/ivf", k = 5, nprobe = 16)
      .filter(col("n_id") === victim).collect().nonEmpty)
    assert(!Similarity.pqSearch(q, "vec_id", "embedding", s"$dir/pq", k = 5)
      .filter(col("n_id") === victim).collect().nonEmpty)
    // refusal: not an index
    intercept[IllegalArgumentException] {
      Similarity.annDelete(spark,
        java.nio.file.Files.createTempDirectory("graft_not_idx").toString,
        Seq(1L).toDF("vec_id"))
    }
  }

  test("indexStats: cell balance exact, tombstone ids counted as a set, pq size-only") {
    import graft.SparkSpec.spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_idx_stats").toString
    Similarity.ivfBuild(emb, "vec_id", "embedding", s"$dir/ivf", nCells = 8)
    val st = Similarity.indexStats(spark, s"$dir/ivf").head
    // ground truth recomputed independently from the index directory
    val cells = spark.read.parquet(s"$dir/ivf/cells")
      .groupBy(col("cell")).count().collect().map(_.getLong(1))
    val (occ, total, mx) = (cells.length.toLong, cells.sum, cells.max)
    assert(st.getAs[String]("layout") === "ivf")
    assert(st.getAs[Long]("n_cells_declared") === 8L)
    assert(st.getAs[Long]("n_cells_occupied") === occ)
    assert(st.getAs[Long]("n_cells_empty") === 8L - occ)
    assert(st.getAs[Long]("n_vectors") === total)
    assert(st.getAs[Long]("max_cell") === mx)
    assert(st.getAs[Double]("mean_cell") === total.toDouble / 8L)
    assert(st.getAs[Double]("imbalance") === (mx * 8L).toDouble / total)
    assert(st.getAs[Long]("n_tombstones") === 0L)
    // tombstones report the live id SET (duplicate deletes collapse);
    // physical rows stay counted until the next compaction
    Similarity.annDelete(spark, s"$dir/ivf", Seq(1L, 2L, 1L).toDF("vec_id"))
    val st2 = Similarity.indexStats(spark, s"$dir/ivf").head
    assert(st2.getAs[Long]("n_tombstones") === 2L)
    assert(st2.getAs[Long]("n_vectors") === total)
    // flat PQ has no cells to balance: size + tombstones only
    Similarity.pqBuild(emb, "vec_id", "embedding", s"$dir/pq")
    val stP = Similarity.indexStats(spark, s"$dir/pq").head
    assert(stP.getAs[String]("layout") === "pq")
    assert(stP.getAs[Long]("n_vectors") > 0L)
    assert(stP.isNullAt(stP.fieldIndex("imbalance")))
    assert(stP.isNullAt(stP.fieldIndex("n_cells_declared")))
    intercept[IllegalArgumentException] {
      Similarity.indexStats(spark,
        java.nio.file.Files.createTempDirectory("graft_not_idx2").toString)
    }
  }

  test("metaCache keeps one entry per metadata path across ivfpq rebuilds at one path") {
    // Rebuilding at a path must REPLACE the path's cached quantizers,
    // not add a fingerprint-suffixed entry beside the stale one. Each
    // round rebuilds with a different corpus and cell count; its search
    // must match a build of the same corpus at a fresh, never-cached
    // path, so no stale centroids, codebooks or rotation are served.
    val root = java.nio.file.Files.createTempDirectory("graft_ivfpq_rebuild").toString
    val idx = s"$root/idx"
    val q = emb.filter(col("vec_id") < 5)
    def search(path: String, nCells: Int) = Similarity
      .ivfpqSearch(q, "vec_id", "embedding", path, k = 5, nprobe = nCells, rerank = 1)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    Seq(4, 8, 16).zipWithIndex.foreach { case (nCells, round) =>
      val corpus = emb.filter(col("vec_id") % 3 =!= round)
      Similarity.ivfpqBuild(corpus, "vec_id", "embedding", idx, nCells = nCells, rotate = true)
      Similarity.ivfpqBuild(corpus, "vec_id", "embedding", s"$root/ref$round",
        nCells = nCells, rotate = true)
      assert(search(idx, nCells) === search(s"$root/ref$round", nCells),
        s"rebuild $round served stale quantizer metadata")
      val entries = Similarity.metaCachePaths.filter(_.startsWith(s"$idx/"))
      assert(entries.size <= 3, s"rebuild $round: cache grew to $entries")
    }
    assert(Similarity.metaCachePaths.filter(_.startsWith(s"$idx/")) ===
      Set("centroids", "codebooks", "rotation").map(t => s"$idx/$t"))
  }

  test("an unrotated rebuild at a rotated index's path drops the old rotation") {
    // search auto-applies any rotation/ it finds, so a stale one would
    // rotate queries against the new, unrotated codebooks
    val root = java.nio.file.Files.createTempDirectory("graft_unrotate").toString
    val q = emb.filter(col("vec_id") < 10)
    def hits(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    Seq("ivfpq", "pq").foreach { kind =>
      def build(path: String, rotate: Boolean): Unit =
        if (kind == "pq") Similarity.pqBuild(emb, "vec_id", "embedding", path, rotate = rotate)
        else Similarity.ivfpqBuild(emb, "vec_id", "embedding", path, rotate = rotate)
      def search(path: String) = hits(
        if (kind == "pq") Similarity.pqSearch(q, "vec_id", "embedding", path, k = 10, rerank = 1)
        else Similarity.ivfpqSearch(q, "vec_id", "embedding", path, k = 10, nprobe = 16, rerank = 1))
      val (idx, ref) = (s"$root/$kind", s"$root/${kind}_ref")
      build(idx, rotate = true)
      search(idx) // caches the rotation
      build(idx, rotate = false)
      build(ref, rotate = false)
      assert(search(idx) === search(ref), s"$kind rebuild still applies the old rotation")
      assert(!graft.operators.StoreFs.exists(spark, s"$idx/rotation"), kind)
    }
  }

  test("s16/s17 on a warm index cache leave no persisted RDD behind") {
    // the 10-row query set and s17's truth pass used to be
    // localCheckpoint'd and never released — one leaked block set per
    // serve in a long-lived session
    val sf001 = new java.io.File(sf).getParent + "/sf0.01"
    val keys = Seq("s16_ann_recall", "s17_ann_tuning")
    keys.foreach(k => graft.SparkEntry.queries(k)(spark, sf001).collect()) // warm the index cache
    val before = spark.sparkContext.getPersistentRDDs.keySet
    keys.foreach(k => graft.SparkEntry.queries(k)(spark, sf001).collect())
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"RDDs still persisted after s16/s17: $leaked")
  }
}
