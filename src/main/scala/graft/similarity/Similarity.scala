package graft.similarity

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.VectorExpressions
import graft.operators.{IndexLog, StoreFs}

/** Similarity search over an embedding column (`array<float>`).
  *
  * Scale shapes:
  *  - `cosineTopK`: brute-force baseline — broadcast the (small) query
  *    set against the corpus; exact, one pass, no shuffle of the
  *    corpus. Norms are precomputed once per side, so the per-pair
  *    work is a single native fused-multiply-add dot product
  *    (functions.VectorExpressions — codegen'd, not interpreted
  *    HOFs; at billions of candidate pairs the scoring loop IS the
  *    workload).
  *  - `lshTopK`: the scale path — sign-sketch (random hyperplane)
  *    buckets; candidates = bucket match or adjacent (hamming ≤ 1)
  *    bucket, exact cosine re-rank of candidates only. At 100 TB the
  *    bucket join replaces the corpus-wide cross product.
  */
object Similarity {

  /** Spread an under-split corpus scan across all cores before the
    * per-row vector work (norms, sketches). Mirrors Dedup.shingled:
    * the exchange only exists when the scan has fewer partitions than
    * cores — a real 100 TB corpus is already split, so nothing
    * shuffles there; a one-file test table stops serializing the
    * vector math onto a single task. */
  private def fanOut(df: DataFrame): DataFrame = {
    val parallelism = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < parallelism) df.repartition(parallelism) else df
  }

  /** Driver-resident quantizer metadata (centroid rows / codebooks /
    * rotation): one (fingerprint, value) entry per metadata table
    * path, where the fingerprint is [[graft.operators.StoreFs.fingerprint]]
    * of that table's directory — the serving posture every ANN
    * deployment runs (FAISS holds its coarse quantizer in process
    * memory; re-reading nCells rows through a scheduled single-task
    * job on EVERY query is pure per-query overhead, r19 event-log
    * evidence in OPTIMIZATION_r19.md). The fingerprint makes this a
    * pure read-through cache of IMMUTABLE index metadata, never of
    * results: quantizers are frozen at build time (adds, deletes and
    * compactions touch only the data and tombstone tables), and any rewrite
    * of the metadata table changes its fingerprint, which re-reads
    * the table and REPLACES the path's entry — a rebuild at the same
    * path never leaves the old O(nCells·dims) value behind. */
  private val metaCache =
    new java.util.concurrent.ConcurrentHashMap[String, (String, AnyRef)]()

  /** Metadata table paths currently cached (spec visibility). */
  private[graft] def metaCachePaths: Set[String] = {
    import scala.jdk.CollectionConverters._
    metaCache.keySet.asScala.toSet
  }

  private def cachedMeta[T <: AnyRef](spark: SparkSession, path: String)
                                     (load: => T): T = {
    val fp = StoreFs.fingerprint(spark, path)
    metaCache.compute(path, (_, cur) =>
      if (cur != null && cur._1 == fp) cur else (fp, load))._2.asInstanceOf[T]
  }

  /** Centroid table rows (cell-ordered), via [[cachedMeta]]. */
  private def loadCentroidRows(spark: SparkSession,
                               indexPath: String): Array[org.apache.spark.sql.Row] =
    cachedMeta(spark, s"$indexPath/centroids") {
      StoreFs.read(spark, s"$indexPath/centroids").orderBy(col("cell")).collect()
    }

  /** PQ codebooks `[m][nCodes][subDim]`, via [[cachedMeta]]. */
  private def loadCodebooks(spark: SparkSession,
                            indexPath: String): Array[Array[Array[Double]]] =
    cachedMeta(spark, s"$indexPath/codebooks") {
      val rows = StoreFs.read(spark, s"$indexPath/codebooks")
        .orderBy(col("sub"), col("code")).collect()
      val m = rows.map(_.getInt(0)).max + 1
      val nCodes = rows.map(_.getInt(1)).max + 1
      Array.tabulate(m, nCodes) { (s, j) =>
        rows(s * nCodes + j).getSeq[Double](2).toArray
      }
    }

  /** Collect a bounded table ONCE and re-create it as a
    * LocalRelation: every later plan over it builds straight from
    * driver memory, with no further job and no checkpoint blocks to
    * release (ADVICE r18). Only for tables bounded by the
    * broadcast-small queries contract (query sets, their top-k truth
    * tables, probe tables). */
  private[graft] def collectLocal(df: DataFrame): DataFrame =
    localRelation(df, df.collect())

  private def localRelation(df: DataFrame, rows: Array[Row]): DataFrame =
    df.sparkSession.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)

  /** Materialize a bounded probe table ONCE: a single collect yields
    * both the probed rows — re-created as a LocalRelation, the
    * broadcast side of the cells join — and the distinct probed cell
    * list for the static partition filter. These exact rows were
    * already collected for the broadcast build; this collect adds no
    * data movement, it removes an eager localCheckpoint job plus a
    * separate distinct/collect job per serve. */
  private def collectProbed(probed: DataFrame): (DataFrame, Array[Long]) = {
    val rows = probed.collect()
    val ci = probed.schema.fieldIndex("cell")
    (localRelation(probed, rows), rows.map(_.getAs[Number](ci).longValue).distinct)
  }

  /** Sequential-fold dot product in double precision (native). */
  def dot(a: Column, b: Column): Column = VectorExpressions.dot(a, b)

  /** L2 norm in double precision (native). */
  def norm(a: Column): Column = VectorExpressions.norm(a)

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Hybrid retrieval with reciprocal-rank fusion: a token-Jaccard
    * text ranking and a cosine vector ranking per query, fused as
    * Σ 1/(rrfK + rank). `corpus` carries (doc_id, toks, embedding),
    * `queries` (q_id, q_toks, q_emb) and must be broadcast-small.
    * Determinism across engines: the text score is an exact integer
    * ratio; the cosine is ROUNDED to 6 decimals before ranking (the
    * d09 lesson — unrounded cross-engine cosines differ by ~1e-15,
    * which a rank boundary would amplify); every ordering tiebreaks
    * on the id; fused scores are sums of reciprocals of exact ints.
    * One corpus scan with per-row HOF scoring, then per-query
    * windows — the corpus never shuffles by anything but q_id. */
  def rrfFusion(corpus: DataFrame, queries: DataFrame,
                k: Int = 10, rrfK: Int = 60): DataFrame = {
    val inter = size(array_intersect(col("toks"), col("q_toks")))
    val scored = corpus.crossJoin(broadcast(queries))
      .filter(col("doc_id") =!= col("q_id"))
      .select(col("q_id"), col("doc_id").as("d_id"),
        (inter / (size(col("toks")) + size(col("q_toks")) - inter)).as("jac"),
        round(cosine(col("embedding"), col("q_emb")), 6).as("cos6"))
    val byQ = org.apache.spark.sql.expressions.Window.partitionBy(col("q_id"))
    scored
      .withColumn("rt", row_number().over(byQ.orderBy(col("jac").desc, col("d_id"))))
      .withColumn("rv", row_number().over(byQ.orderBy(col("cos6").desc, col("d_id"))))
      .withColumn("rrf",
        round(lit(1.0) / (lit(rrfK) + col("rt")) + lit(1.0) / (lit(rrfK) + col("rv")), 6))
      .withColumn("rank", row_number().over(byQ.orderBy(col("rrf").desc, col("d_id"))))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("rank"), col("d_id"), col("rrf"))
  }

  /** Ranks `scored` (q_id, n_id, `simCol`) by similarity desc /
    * n_id asc and keeps the top k per query — via CollectMinK on the
    * (−sim, n_id) struct, whose lexicographic natural ordering equals
    * the window `ORDER BY sim DESC, n_id ASC`. Every similarity path
    * used to rank with a per-query row_number window, which shuffles
    * EVERY scored pair to the query's reducer and sorts the full
    * candidate set there; the bounded aggregate keeps k rows per
    * (query, map partition) before the exchange, so at 100 TB the
    * shuffle is |Q|·k·partitions rows instead of |Q|·|candidates| —
    * and a skew-heavy query (one probe bucket holding half the
    * corpus) no longer serializes on a single reducer sort. */
  private def rankTopK(scored: DataFrame, k: Int,
                       simCol: String = "sim", by: Seq[String] = Nil): DataFrame = {
    val keys = (by :+ "q_id").map(col)
    scored
      .groupBy(keys: _*)
      .agg(graft.functions.CollectMinK.collectMinK(
        struct(negate(col(simCol)).as("ns"), col("n_id").as("n_id")), k).as("__top"))
      .select(keys :+ posexplode(col("__top")): _*)
      .select(keys ++ Seq((col("pos") + 1).as("rank"), col("col.n_id").as("n_id")): _*)
  }

  /** Index-quality evaluation: per-query recall of an approximate
    * top-k result set against the exact one — the acceptance gate an
    * ANN deployment runs before switching serving to an index. Both
    * inputs are top-k tables carrying a query id and a neighbor id
    * ([[cosineTopK]] output as truth; [[ivfSearch]] / [[pqSearch]] /
    * [[ivfpqSearch]] / [[lshTopK]] output as candidate). Per exact-
    * side query: |approx ∩ exact| / |exact| — graded out of what the
    * exact list actually holds, so tiny corpora with < k neighbors
    * still grade correctly, and a query the approx side missed
    * entirely grades 0 instead of vanishing.
    *
    * Shape: one (q_id, n_id)-keyed left join + one q_id groupBy —
    * fixed-width key shuffles over O(queries · k) rows; the vectors
    * are never touched again. `by` columns (present on both sides)
    * grade several approx result sets at once, e.g. the nprobe
    * points of [[ivfSearchSweep]]. */
  def recallAtK(exact: DataFrame, approx: DataFrame,
                qCol: String = "q_id", nCol: String = "n_id",
                by: Seq[String] = Nil): DataFrame = {
    def ids(df: DataFrame) = df.select(by.map(col) ++ Seq(
      col(qCol).cast("long").as("q_id"), col(nCol).cast("long").as("n_id")): _*)
    val keys = by :+ "q_id"
    ids(exact).join(ids(approx).distinct().withColumn("__hit", lit(1L)),
        keys :+ "n_id", "left")
      .groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("n_exact"), count(col("__hit")).as("n_hit"))
      .withColumn("recall", col("n_hit") / col("n_exact"))
  }

  /** Exact top-k neighbors for each query vector. `queries` must be
    * broadcast-small (it is crossJoin-broadcast against the corpus).
    * Norms are computed once per row per side — never per pair. */
  def cosineTopK(queries: DataFrame, corpus: DataFrame, qId: String,
                 cId: String, vecCol: String, k: Int): DataFrame = {
    val q = queries.select(col(qId).as("q_id"), col(vecCol).as("__qv"),
      norm(col(vecCol)).as("__qn"))
    val c = fanOut(corpus.select(col(cId).as("n_id"), col(vecCol).as("__cv")))
      .withColumn("__cn", norm(col("__cv")))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("q_id") =!= col("n_id"))
      .select(col("q_id"), col("n_id"),
        (dot(col("__qv"), col("__cv")) / (col("__qn") * col("__cn"))).as("sim"))
    rankTopK(scored, k)
  }

  /** Deterministic sign-sketch bucket id over `planes` pseudo-random
    * hyperplanes (seeded, reproducible across cluster layouts). All
    * plane tests run in one native pass per row. */
  def signBucket(vec: Column, planes: Int = 8, dims: Int = 64, seed: Long = 7L): Column = {
    val rnd = new java.util.Random(seed)
    val hp = Array.fill(planes, dims)(rnd.nextGaussian())
    VectorExpressions.signBuckets(vec, hp)
  }

  /** LSH-bucketed approximate top-k: `tables` independent sign
    * sketches (OR-amplification), each probed at the query's bucket
    * and every hamming-1 neighbor bucket (multi-probe); exact cosine
    * re-ranks the union of candidates. Probes explode on the query
    * side (queries ≪ corpus); the corpus is scanned ONCE — all
    * `tables` sketches compute in one native pass per row and the
    * (table, bucket) keys explode into the single broadcast hash
    * join (a per-table join would re-scan the corpus `tables`
    * times). At billions of vectors this bounds the scored pairs to
    * tables × (planes+1) × bucket-size per query, versus N for brute
    * force; recall amplifies as 1 − (1 − p_table)^tables. */
  def lshTopK(queries: DataFrame, corpus: DataFrame, qId: String,
              cId: String, vecCol: String, k: Int, planes: Int = 8,
              tables: Int = 4): DataFrame = {
    val tableSeeds = (0 until tables).map(t => 7L + 1000L * t)
    val c = fanOut(corpus.select(col(cId).as("n_id"), col(vecCol).as("__cv")))
      .select((col("n_id") +: col("__cv") +:
        norm(col("__cv")).as("__cn") +:
        tableSeeds.zipWithIndex.map { case (seed, t) =>
          signBucket(col("__cv"), planes, seed = seed).as(s"__b$t") }): _*)
      .select(col("n_id"), col("__cv"), col("__cn"),
        explode(array((0 until tables).map(t =>
          struct(lit(t).as("t"), col(s"__b$t").as("b"))): _*)).as("__tb"))
      .select(col("n_id"), col("__cv"), col("__cn"),
        col("__tb.t").as("__t"), col("__tb.b").as("__bucket"))
    val probed = queries.select((col(qId).as("q_id") +: col(vecCol).as("__qv") +:
        norm(col(vecCol)).as("__qn") +:
        tableSeeds.zipWithIndex.map { case (seed, t) =>
          signBucket(col(vecCol), planes, seed = seed).as(s"__qb$t") }): _*)
      .select(col("q_id"), col("__qv"), col("__qn"), explode(array((for {
        t <- 0 until tables
        probe <- col(s"__qb$t") +: (0 until planes).map(p =>
          col(s"__qb$t").bitwiseXOR(lit(1L << p)))
      } yield struct(lit(t).as("t"), probe.as("b"))): _*)).as("__probe"))
      .select(col("q_id"), col("__qv"), col("__qn"),
        col("__probe.t").as("__t"), col("__probe.b").as("__bucket"))
    val scored = c
      .join(broadcast(probed), Seq("__t", "__bucket"))
      .filter(col("q_id") =!= col("n_id"))
      .select(col("q_id"), col("n_id"),
        (dot(col("__qv"), col("__cv")) / (col("__qn") * col("__cn"))).as("sim"))
      .distinct()
    rankTopK(scored, k)
  }

  /** Embedding-cosine near-duplicate pairs: every (a, b), a < b, with
    * cosine ≥ `threshold` — the embedding-space member of the dedup
    * family (Dedup.* are token-space).
    *
    * Exact mode (`lsh = false`): score all N²/2 pairs via a broadcast
    * cross product — the brute-force baseline, and the test oracle
    * (DuckDB computes the same pair set). Quadratic by definition;
    * correct at any threshold.
    *
    * LSH mode (`lsh = true`): the 100 TB path. Candidates = pairs
    * sharing a sign-sketch bucket in ANY of `tables` independent
    * sketches (OR-amplification), exact cosine verifies candidates
    * only — same topology as Dedup.minhashLsh (banded candidates,
    * bounded buckets, candidate-only verification). Recall for a pair
    * at angle θ is 1 − (1 − (1 − θ/π)^planes)^tables, spec-asserted
    * on planted near-duplicates. */
  def cosinePairs(corpus: DataFrame, idCol: String, vecCol: String,
                  threshold: Double, lsh: Boolean = false,
                  planes: Int = 8, tables: Int = 4): DataFrame = {
    val base = fanOut(corpus.select(col(idCol).as("id"), col(vecCol).as("__v")))
      .withColumn("__n", norm(col("__v")))
    val candidates =
      if (!lsh) {
        base.toDF("a_id", "__va", "__na")
          .crossJoin(broadcast(base.toDF("b_id", "__vb", "__nb")))
          .filter(col("a_id") < col("b_id"))
      } else {
        val tableSeeds = (0 until tables).map(t => 7L + 1000L * t)
        val hashed = base.select((col("id") +: col("__v") +: col("__n") +:
          tableSeeds.zipWithIndex.map { case (seed, t) =>
            signBucket(col("__v"), planes, seed = seed).as(s"__b$t") }): _*)
        val keys = hashed.select(col("id"), col("__v"), col("__n"),
          explode(array((0 until tables).map(t =>
            struct(lit(t).as("t"), col(s"__b$t").as("b"))): _*)).as("__tb"))
          .select(col("id"), col("__v"), col("__n"),
            col("__tb.t").as("__t"), col("__tb.b").as("__bucket"))
        keys.toDF("a_id", "__va", "__na", "__ta", "__bucketa")
          .join(keys.toDF("b_id", "__vb", "__nb", "__tb", "__bucketb"),
            col("__ta") === col("__tb") && col("__bucketa") === col("__bucketb") &&
              col("a_id") < col("b_id"))
          .select(col("a_id"), col("__va"), col("__na"),
            col("b_id"), col("__vb"), col("__nb"))
      }
    val scored = candidates
      .select(col("a_id"), col("b_id"),
        (dot(col("__va"), col("__vb")) / (col("__na") * col("__nb"))).as("sim"))
      .filter(col("sim") >= threshold)
    // A pair can collide in several tables; dedupe AFTER scoring so
    // the distinct shuffles three scalars, not the vectors.
    if (lsh) scored.dropDuplicates("a_id", "b_id") else scored
  }

  /** IVF (inverted-file) approximate top-k — the cluster-pruned ANN
    * topology, complementing `lshTopK`'s hash-bucketed one.
    *
    * Train: k-means coarse quantizer (MLlib, fixed seed) over the
    * corpus — a one-off O(iterations × k × N) batch job whose output
    * is just `k` centroid vectors. Index: each corpus vector joins
    * its nearest centroid's cell (argmax of 2·v·cᵢ − ‖cᵢ‖², k dot
    * products per row against broadcast centroid literals — no
    * shuffle). Search: each query probes its `nprobe` nearest cells;
    * only those cells' vectors are scored exactly. At 10⁹ vectors
    * with k = √N cells, a probe touches nprobe·√N vectors instead of
    * N — and the cell assignment doubles as a physical partitioning
    * key for the stored index. */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, qId: String,
              cId: String, vecCol: String, k: Int,
              nCells: Int = 16, nprobe: Int = 4, seed: Long = 42L): DataFrame = {
    val cents = trainCentroids(corpus, vecCol, nCells, seed)
    val c = fanOut(corpus.select(col(cId).as("n_id"), col(vecCol).as("__cv")))
      .withColumn("__cn", norm(col("__cv")))
    val corpusCells = c.withColumn("__scores", cellScores(cents)(col("__cv")))
      .withColumn("cell", expr("array_position(__scores, array_max(__scores))"))
      .drop("__scores")
    ivfScore(corpusCells, probeQueries(queries, qId, vecCol, cents, nprobe), k)
  }

  /** Train the coarse quantizer on a bounded sample, driver-side:
    * cells only gate which vectors get exact scoring, so centroid
    * quality past "roughly balanced" buys no recall. The collect is
    * O(nCells·256) rows — independent of N, ~2 MB at 64 dims — so at
    * 10⁹ vectors the quantizer still trains in milliseconds, where a
    * distributed k-means would pay tens of scheduler round-trips to
    * cluster a few thousand points.
    * The sample is ordered by a layout-independent hash of the vector
    * bytes (same discipline as [[pqTrain]]): an unordered limit varies
    * with partitioning/read order, so a persisted index built from it
    * would differ across re-runs. Top-k via TakeOrderedAndProject —
    * never a full sort. Elements are read as Number — the vector
    * expressions accept array<float> AND array<double>, and the
    * sampler must too. */
  private def trainCentroids(corpus: DataFrame, vecCol: String,
                             nCells: Int, seed: Long): Array[Array[Double]] = {
    val sample = sampleVectors(corpus, vecCol, nCells * 256)
    lloyd(sample, nCells, iters = 8, seed)
  }

  /** Deterministic bounded driver sample shared by every quantizer
    * trainer: the first `n` rows by a layout-independent hash of the
    * vector bytes (ties broken by the vector itself), so the same
    * corpus yields the same sample under any partitioning. */
  private def sampleVectors(corpus: DataFrame, vecCol: String,
                            n: Int): Array[Array[Double]] =
    corpus.select(col(vecCol))
      .orderBy(xxhash64(col(vecCol)), col(vecCol).cast("string"))
      .limit(n).collect()
      .map(_.getSeq[Number](0).toArray.map(_.doubleValue))

  /** v / ‖v‖ with a zero guard: an all-zero vector stays zero instead
    * of becoming NaN (which would poison codes and ADC scores — the
    * training samplers already guard `n == 0` the same way). */
  private def l2normalize(vec: Column, n: Column): Column =
    transform(vec, x => x.cast("double") / when(n === 0.0, lit(1.0)).otherwise(n))

  /** 2·v·cᵢ − ‖cᵢ‖² ranks cells by distance to v without ‖v‖². */
  private def cellScores(cents: Array[Array[Double]])(vec: Column): Column =
    array(cents.map { cent =>
      dot(vec, typedLit(cent)) * 2.0 - lit(cent.map(x => x * x).sum)
    }: _*)

  /** Queries exploded to their `nprobe` nearest cells. */
  private def probeQueries(queries: DataFrame, qId: String, vecCol: String,
                           cents: Array[Array[Double]], nprobe: Int): DataFrame =
    queries
      .select(col(qId).as("q_id"), col(vecCol).as("__qv"), norm(col(vecCol)).as("__qn"))
      .withColumn("__scores", cellScores(cents)(col("__qv")))
      .withColumn("cell", explode(expr(
        s"slice(array_sort(transform(__scores, (s, i) -> struct(-s AS d, i + 1 AS c))), 1, $nprobe).c")))
      .drop("__scores")

  /** Probed-cells join + exact re-rank shared by the inline and the
    * persisted-index paths. */
  private def ivfScore(corpusCells: DataFrame, probed: DataFrame, k: Int): DataFrame = {
    val scored = corpusCells
      .join(broadcast(probed), "cell")
      .filter(col("q_id") =!= col("n_id"))
      .select(col("q_id"), col("n_id"),
        (dot(col("__qv"), col("__cv")) / (col("__qn") * col("__cn"))).as("sim"))
      .dropDuplicates("q_id", "n_id")
    rankTopK(scored, k)
  }

  /** Persist an IVF index: the index-once/query-many shape a 100 TB
    * deployment actually runs (training the quantizer per query run —
    * what `ivfTopK` does — re-scans the corpus every search).
    *
    * Layout under `indexPath`:
    *  - `centroids/` — nCells rows `(cell, centroid, norm2)`, the
    *    coarse quantizer (driver-readable metadata);
    *  - `cells/` — the corpus as `(n_id, __cv, __cn)` physically
    *    partitioned by `cell`, so a search's probed cells map to
    *    directory partitions and everything else is never read.
    *
    * The corpus is scanned once (assign + write). */
  def ivfBuild(corpus: DataFrame, cId: String, vecCol: String, indexPath: String,
               nCells: Int = 16, seed: Long = 42L): Unit = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val cents = trainCentroids(corpus, vecCol, nCells, seed)
    val c = fanOut(corpus.select(col(cId).as("n_id"), col(vecCol).as("__cv")))
      .withColumn("__cn", norm(col("__cv")))
      .filter(col("__cn") > 0) // zero-norm rejection, see ivfpqBuild
    c.withColumn("__scores", cellScores(cents)(col("__cv")))
      .withColumn("cell", expr("array_position(__scores, array_max(__scores))"))
      .drop("__scores")
      .write.partitionBy("cell").mode("overwrite").parquet(s"$indexPath/cells")
    cents.zipWithIndex
      .map { case (cent, i) => (i.toLong + 1, cent.toSeq, cent.map(x => x * x).sum) }
      .toSeq.toDF("cell", "centroid", "norm2")
      .coalesce(1).write.mode("overwrite").parquet(s"$indexPath/centroids")
  }

  /** Search a persisted IVF index. The centroid read is O(nCells)
    * driver-side metadata; the probed cell set is collected from the
    * query side (bounded by |queries| × nprobe — queries are
    * broadcast-small by the same contract as `cosineTopK`) and applied
    * as a STATIC partition filter, so the cells scan reads only the
    * probed directory partitions — spec-asserted on the plan. */
  def ivfSearch(queries: DataFrame, qId: String, vecCol: String,
                indexPath: String, k: Int, nprobe: Int = 4,
                allowed: Option[DataFrame] = None): DataFrame = {
    val spark = queries.sparkSession
    recoverIndex(spark, indexPath) // heal a torn compaction swap
    val cents = loadCentroidRows(spark, indexPath).map(_.getSeq[Double](1).toArray)
    val (probed, probeCells) = collectProbed(
      probeQueries(queries, qId, vecCol, cents, nprobe))
    val corpusCells = dropTombstones(spark, indexPath,
      allowedFilter(StoreFs.read(spark, s"$indexPath/cells")
        .filter(col("cell").isin(probeCells.toSeq: _*)), allowed))
    ivfScore(corpusCells, probed, k)
  }

  /** One-pass nprobe SWEEP over a persisted IVF index: one table
    * (nprobe, q_id, rank, n_id) whose rows at each sweep point np are
    * BIT-IDENTICAL to `ivfSearch(..., nprobe = np)` (spec-asserted),
    * but the index is probed/scanned ONCE at max(nprobes) instead of
    * once per point.
    *
    * Why identical: [[probeQueries]] at nprobe = np takes the first
    * np elements of the SAME deterministic sort
    * (array_sort of (−score, cell) structs — ties break on the cell
    * index), so "probe rank < np" over the max-nprobe probe list
    * selects exactly ivfSearch(np)'s probed cells; each corpus
    * vector lives in exactly one cell, so tagging each scored
    * candidate with every point np above its probe rank reproduces
    * exactly ivfSearch(np)'s candidate set per point, and the ranking
    * below is [[ivfScore]]'s, grouped per (nprobe, q_id). All points
    * come out of one aggregation over one cells read, so nothing is
    * checkpointed and nothing outlives the query.
    *
    * Tuning sweeps run against a just-built index, between
    * compactions — tombstones are still dropped (parity with
    * [[ivfSearch]]) but `allowed` filtering is not offered here;
    * filtered serving goes through ivfSearch.
    *
    * Precondition (ADVICE r18): bit-identity per point relies on every
    * n_id living in exactly ONE cell, which a just-built or compacted
    * index guarantees (ivfBuild assigns each vector one cell; the only
    * duplicate source is a replayed ivfpqAdd on the OTHER layouts). If
    * an id ever occupied two probed cells with different vectors, the
    * dropDuplicates below would pick an arbitrary sim per path and the
    * per-np results could diverge from per-nprobe [[ivfSearch]]. */
  def ivfSearchSweep(queries: DataFrame, qId: String, vecCol: String,
                     indexPath: String, k: Int,
                     nprobes: Seq[Int]): DataFrame = {
    require(nprobes.nonEmpty, "ivfSearchSweep: at least one nprobe point")
    val spark = queries.sparkSession
    recoverIndex(spark, indexPath)
    val cents = loadCentroidRows(spark, indexPath).map(_.getSeq[Double](1).toArray)
    val maxNp = nprobes.max
    val (probed, probeCells) = collectProbed(queries
      .select(col(qId).as("q_id"), col(vecCol).as("__qv"),
        norm(col(vecCol)).as("__qn"))
      .withColumn("__scores", cellScores(cents)(col("__qv")))
      .select(col("q_id"), col("__qv"), col("__qn"), posexplode(expr(
        s"slice(array_sort(transform(__scores, (s, i) -> struct(-s AS d, i + 1 AS c))), 1, $maxNp).c"))
        .as(Seq("__pp", "cell"))))
    val corpusCells = dropTombstones(spark, indexPath,
      StoreFs.read(spark, s"$indexPath/cells")
        .filter(col("cell").isin(probeCells.toSeq: _*)))
    val points = typedLit(nprobes.distinct)
    val scored = corpusCells
      .join(broadcast(probed), "cell")
      .filter(col("q_id") =!= col("n_id"))
      .select(col("q_id"), col("n_id"),
        (dot(col("__qv"), col("__cv")) / (col("__qn") * col("__cn"))).as("sim"),
        // a candidate from the probe-rank-p cell is probed at every np > p
        explode(filter(points, np => np > col("__pp"))).as("nprobe"))
      .dropDuplicates("nprobe", "q_id", "n_id")
    rankTopK(scored, k, by = Seq("nprobe"))
  }

  /** Metadata-FILTERED search support (the FAISS-IDSelector /
    * filtered-ANN shape every retrieval deployment needs: "top-k
    * among docs with lang = en"): `allowed` carries the permitted
    * neighbor ids in its FIRST column; the candidate table
    * left_semi-joins it BEFORE ranking, so top-k selects within the
    * allowed subset — a post-filter would silently return fewer than
    * k rows and let disallowed vectors crowd the candidate list. The
    * semi join is on fixed-width ids; AQE broadcasts a small allowed
    * set and shuffle-joins a large one — both declarative. */
  private def allowedFilter(candidates: DataFrame,
                            allowed: Option[DataFrame]): DataFrame =
    allowed.fold(candidates) { a =>
      candidates.join(
        a.select(col(a.columns.head).cast("long").as("n_id")).distinct(),
        Seq("n_id"), "left_semi")
    }

  /** Self-heal the data-sized index tables after a torn
    * [[compactIndex]] swap: in the crash window between the swap's
    * two renames a table dir is absent and only its .bak holds the
    * state — an un-healed search would fail (or, for an exists-probe
    * path, silently see an empty table). O(1) metadata per call. The
    * tombstone table heals itself in [[graft.operators.IndexLog]]. */
  private def recoverIndex(spark: org.apache.spark.sql.SparkSession,
                           indexPath: String): Unit =
    Seq("codes", "cells", "vectors").foreach(t =>
      StoreFs.recover(spark, s"$indexPath/$t"))

  /** Hide [[annDelete]]d ids from a candidate table, BEFORE any top-k
    * cut so a deleted vector can neither rank nor crowd the list. */
  private def dropTombstones(spark: org.apache.spark.sql.SparkSession,
                             indexPath: String,
                             candidates: DataFrame): DataFrame =
    IndexLog.dropTombstoned(spark, indexPath, candidates, "n_id")

  /** The persisted ANN layout at `indexPath` (ivf | pq | ivfpq), or an
    * IllegalArgumentException when it is not an ANN index. */
  private def annLayout(spark: org.apache.spark.sql.SparkSession,
                        indexPath: String): String = {
    val layout = IndexLog.layout(spark, indexPath)
    require(IndexLog.AnnLayouts(layout),
      s"$indexPath has no codes/ or cells/ table — not a persisted ANN index")
    layout
  }

  /** Index-health report — the ops number an operator reads BEFORE
    * trusting a served index's latency profile: a collapsed coarse
    * quantizer (one mega-cell) makes every probe scan half the
    * corpus while recall still looks fine, and nothing else in the
    * serving path surfaces that. One row per index:
    * declared/occupied/empty cells, physical vector rows, max cell
    * size, mean cell size over DECLARED cells (the uniform-probe
    * cost expectation) and the imbalance factor max/mean (1.0 =
    * balanced; otherwise the probe-cost multiplier a hot cell
    * carries), plus live tombstones (rows still physically present
    * until the next compaction — n_vectors counts them). Flat-PQ
    * layouts have no cells to balance and report size + tombstones.
    *
    * Cost: one O(cells) centroid count + ONE partial-agg count over
    * the data table keyed by its PARTITION column (column pruning
    * reaches the scan — the reader materializes nothing but the
    * directory key) + an O(deletes) tombstone count. */
  def indexStats(spark: org.apache.spark.sql.SparkSession,
                 indexPath: String): DataFrame = {
    recoverIndex(spark, indexPath)
    val layout = annLayout(spark, indexPath)
    val dataPath = if (layout == "ivf") s"$indexPath/cells" else s"$indexPath/codes"
    val nTomb = IndexLog.tombstoneCount(spark, indexPath, "n_id")
    val base = layout match {
      case "pq" =>
        StoreFs.read(spark, dataPath).agg(count(lit(1)).as("n_vectors"))
          .select(lit(layout).as("layout"),
            lit(null).cast("long").as("n_cells_declared"),
            lit(null).cast("long").as("n_cells_occupied"),
            lit(null).cast("long").as("n_cells_empty"),
            col("n_vectors"),
            lit(null).cast("long").as("max_cell"),
            lit(null).cast("double").as("mean_cell"),
            lit(null).cast("double").as("imbalance"))
      case _ =>
        val declared = StoreFs.read(spark, s"$indexPath/centroids").count()
        StoreFs.read(spark, dataPath)
          .groupBy(col("cell")).agg(count(lit(1)).as("n"))
          .agg(count(lit(1)).as("occ"), sum(col("n")).as("n_vectors"),
            max(col("n")).as("max_cell"))
          .select(lit(layout).as("layout"),
            lit(declared).as("n_cells_declared"),
            col("occ").as("n_cells_occupied"),
            (lit(declared) - col("occ")).as("n_cells_empty"),
            col("n_vectors"), col("max_cell"),
            // both IEEE divisions of exact longs — deterministic
            (col("n_vectors") / lit(declared)).as("mean_cell"),
            (col("max_cell") * lit(declared) / col("n_vectors")).as("imbalance"))
    }
    base.withColumn("n_tombstones", lit(nTomb))
  }

  /** DELETE vectors (first column of `ids`) from a persisted ANN
    * index — the lifecycle op next to add/compact (a crawl loop drops
    * revoked or re-crawled docs as routinely as it adds new ones).
    * Deletion is an `n_id` tombstone ([[graft.operators.IndexLog]]):
    * every search path anti-joins it before ranking, [[ivfpqAdd]]
    * revives a re-added id, and the next [[compactIndex]] removes the
    * rows physically. Works on all three persisted layouts. Returns
    * false iff `batchId`'s marker shows this batch already committed. */
  def annDelete(spark: org.apache.spark.sql.SparkSession, indexPath: String,
                ids: DataFrame, batchId: Option[String] = None): Boolean = {
    annLayout(spark, indexPath)
    IndexLog.once(spark, indexPath, IndexLog.AnnDeletes, batchId) {
      IndexLog.tombstone(spark, indexPath, ids, "n_id")
    }
  }

  /** Seeded Lloyd k-means over an in-memory sample (the IVF coarse
    * quantizer). Deterministic: init = evenly-strided sample points,
    * ties to the lowest cell index. Empty cells keep their previous
    * centroid. */
  private def lloyd(points: Array[Array[Double]], k: Int, iters: Int,
                    seed: Long): Array[Array[Double]] = {
    require(points.nonEmpty, "IVF training sample is empty")
    val dims = points.head.length
    val kEff = math.min(k, points.length)
    // Evenly-strided init is deterministic under a fixed sample order
    // and spreads starts across the sample; the seed keeps the
    // signature stable if a randomized init ever replaces it.
    val cents = Array.tabulate(kEff)(i => points((i.toLong * points.length / kEff).toInt).clone())
    var it = 0
    while (it < iters) {
      val sums = Array.fill(kEff, dims)(0.0)
      val counts = new Array[Long](kEff)
      points.foreach { p =>
        var best = 0; var bestD = Double.MaxValue
        var ci = 0
        while (ci < kEff) {
          var d = 0.0; var j = 0
          while (j < dims) { val t = p(j) - cents(ci)(j); d += t * t; j += 1 }
          if (d < bestD) { bestD = d; best = ci }
          ci += 1
        }
        var j = 0
        while (j < dims) { sums(best)(j) += p(j); j += 1 }
        counts(best) += 1
      }
      var ci = 0
      while (ci < kEff) {
        if (counts(ci) > 0) {
          var j = 0
          while (j < dims) { cents(ci)(j) = sums(ci)(j) / counts(ci); j += 1 }
        }
        ci += 1
      }
      it += 1
    }
    cents
  }

  /** Product-quantization (PQ) approximate top-k — the MEMORY-bound
    * 100 TB serving shape, complementing IVF's scan-pruning one: the
    * stored per-vector footprint drops from 4·D bytes of floats to
    * `m` byte-sized codes (64× at D=64, m=8), so a billion-vector
    * index fits in cluster memory and the per-pair scoring work drops
    * from a D-term dot product to m table lookups.
    *
    * Train: corpus vectors are L2-NORMALIZED (so dot = cosine and
    * quantizing loses no norm information), split into `m` subvectors;
    * a per-subspace Lloyd k-means (bounded driver sample, same
    * argument as the IVF quantizer) learns `nCodes` centroids per
    * subspace. Encode: each corpus vector → its per-subspace nearest
    * centroid indices, an `array<int>` of m codes — broadcast centroid
    * literals, no shuffle, one corpus scan. Search (ADC — asymmetric
    * distance computation): each query precomputes its m × nCodes
    * lookup table of exact subspace dot products ONCE (m arrays on the
    * broadcast query row); a corpus row then scores as m `element_at`
    * adds against its codes — the query side stays exact, only the
    * corpus side is quantized, the standard ADC recall win. The top
    * `rerank · k` ADC candidates are re-ranked with exact cosine
    * (vectors fetched by a broadcast semi-join of the tiny candidate
    * set against the corpus), which repairs quantization error the
    * same way IVF's exact re-rank repairs cell truncation.
    *
    * CONTRACT (whole inline family — cosineTopK/ivfTopK/pqTopK):
    * corpus ids must be UNIQUE. None of the inline paths dedup ids —
    * a corpus that carries the same id twice occupies two final
    * ranks, exactly as it would in the exact brute-force baseline.
    * Only the PERSISTED-index paths dedup (expectReplays=true),
    * because a replayed add batch can legitimately duplicate rows
    * there; dedup ids upstream (d01/d45) if the source is dirty. */
  def pqTopK(queries: DataFrame, corpus: DataFrame, qId: String,
             cId: String, vecCol: String, k: Int,
             m: Int = 8, nCodes: Int = 16, rerank: Int = 4,
             seed: Long = 42L): DataFrame = {
    val books = pqTrain(corpus, vecCol, m, nCodes, seed)
    val codes = pqEncode(
      fanOut(corpus.select(col(cId).as("n_id"), col(vecCol).as("__cv"))), books)
      .select(col("n_id"), col("__codes"))
    val vectors = corpus.select(col(cId).as("n_id"), col(vecCol).as("__cv"),
      norm(col(vecCol)).as("__cn"))
    // the inline path builds codes and vectors fresh from the corpus
    // this call — replayed-add duplicates structurally cannot exist,
    // so the re-rank skips the two replay-dedup passes
    pqScore(codes, vectors, queries, qId, vecCol, books, k, rerank,
      expectReplays = false)
  }

  /** ADC candidate generation + exact re-rank shared by the inline
    * and persisted-index paths. Per-query LUTs (exact subspace dot
    * products against every codebook centroid — m × nCodes doubles)
    * compute once on the broadcast query row; a corpus row scores as
    * m element_at adds; the top rerank·k candidates per query are
    * re-ranked with exact cosine via broadcast joins (candidates are
    * |queries|·rerank·k rows — the corpus never shuffles). */
  private def pqScore(codes: DataFrame, vectors: DataFrame, queries: DataFrame,
                      qId: String, vecCol: String,
                      books: Array[Array[Array[Double]]],
                      k: Int, rerank: Int,
                      rot: Option[Array[Array[Double]]] = None,
                      expectReplays: Boolean = true): DataFrame = {
    // A rotated index compares Rq against R-coded vectors: (Rq)·(Rv̂)
    // = q·v̂ exactly, so ONLY the LUT side rotates — the exact re-rank
    // stays on the raw queries and vectors.
    val qLut = rot.fold(queries)(r =>
      queries.select(col(qId), rotateCol(col(vecCol), r).as(vecCol)))
    val approx = codes.crossJoin(broadcast(pqLuts(qLut, qId, vecCol, books)))
      .filter(col("q_id") =!= col("n_id"))
      .select(col("q_id"), col("n_id"), adcScore(books.length).as("__adc"))
    pqRerank(vectors, queries, qId, vecCol, approx, k, rerank, expectReplays)
  }

  /** Per-query ADC lookup tables: m arrays of nCodes EXACT subspace
    * dot products — one row per query, broadcast to the codes scan. */
  private def pqLuts(queries: DataFrame, qId: String, vecCol: String,
                     books: Array[Array[Array[Double]]]): DataFrame = {
    val m = books.length
    val nCodes = books(0).length
    val subDim = books(0)(0).length
    queries.select((col(qId).as("q_id") +:
      (0 until m).map { s =>
        array((0 until nCodes).map(j =>
          dot(slice(col(vecCol), s * subDim + 1, subDim),
            typedLit(books(s)(j)))): _*).as(s"__lut$s")
      }): _*)
  }

  /** ADC score of one corpus row against the joined query's LUTs:
    * m element_at adds — the per-pair work that replaces a D-term
    * dot product. */
  private def adcScore(m: Int): Column =
    (0 until m).map(s =>
      element_at(col(s"__lut$s"), element_at(col("__codes"), s + 1)))
      .reduce(_ + _)

  /** Top rerank·k ADC candidates per query → exact-cosine re-rank →
    * final top-k. Candidates are |queries|·rerank·k rows, so both
    * re-rank joins broadcast; the corpus never shuffles.
    *
    * `expectReplays` gates the two replay-dedup passes: a replayed
    * ivfpqAdd can leave the same n_id in a PERSISTED index's codes
    * and vectors tables twice, and without the dedupes the same
    * neighbor would occupy multiple final ranks, silently shrinking
    * effective top-k — so every persisted-index caller passes true.
    * The inline paths (pqTopK) build codes and vectors fresh from the
    * corpus each call and pass false, skipping two shuffles of the
    * candidate set that structurally cannot do anything there. */
  private def pqRerank(vectors: DataFrame, queries: DataFrame, qId: String,
                       vecCol: String, approx: DataFrame, k: Int,
                       rerank: Int, expectReplays: Boolean = true): DataFrame = {
    // dropDuplicates mirrors ivfScore: the candidate set is
    // |queries|·rerank·k rows, so the dedupe never touches the corpus
    val cands0 = rankTopK(approx, rerank * k, simCol = "__adc")
      .select(col("q_id"), col("n_id"))
    val cands = if (expectReplays) cands0.dropDuplicates("q_id", "n_id") else cands0
    val q = queries.select(col(qId).as("q_id"), col(vecCol).as("__qv"),
      norm(col(vecCol)).as("__qn"))
    // a replayed add duplicates the VECTORS table too, and the n_id
    // join would fan the deduped candidates back out — two identical
    // (sim, n_id) entries would then occupy two final ranks. Dedupe
    // again AFTER scoring, still on the bounded candidate set (never
    // a corpus-wide shuffle); duplicate rows are bit-identical
    // replays, so which one survives is immaterial.
    val scored0 = vectors.join(broadcast(cands), "n_id").join(broadcast(q), "q_id")
      .select(col("q_id"), col("n_id"),
        (dot(col("__qv"), col("__cv")) / (col("__qn") * col("__cn"))).as("sim"))
    val scored = if (expectReplays) scored0.dropDuplicates("q_id", "n_id") else scored0
    rankTopK(scored, k)
  }

  /** Persist a PQ index — the build-once/search-many twin of
    * `pqTopK`, as `ivfBuild` is to `ivfTopK`. Layout under
    * `indexPath`:
    *  - `codebooks/` — m × nCodes rows `(sub, code, centroid)`
    *    (driver-readable metadata, ~KBs);
    *  - `codes/` — the corpus as `(n_id, __codes)`: m small ints per
    *    vector, the 64×-smaller scan ADC search reads;
    *  - `vectors/` — `(n_id, __cv, __cn)` for the exact re-rank fetch
    *    (in a deployment this is simply the corpus table; it is
    *    stored here so the index is self-contained).
    * One corpus scan builds all three. */
  def pqBuild(corpus: DataFrame, cId: String, vecCol: String, indexPath: String,
              m: Int = 8, nCodes: Int = 16, seed: Long = 42L,
              rotate: Boolean = false): Unit = {
    val spark = corpus.sparkSession
    import spark.implicits._
    // rotate = OPQ-lite (see ivfpqBuild): codebooks train on, and the
    // corpus encodes in, the balanced PCA basis of the same sample;
    // stored under indexPath/rotation, auto-applied at search.
    val ns = normalizePoints(sampleVectors(corpus, vecCol, nCodes * 64))
    val rot = if (rotate) Some(Pca.rotationFor(ns, m)) else None
    val books = pqBooksFromPoints(
      rot.fold(ns)(r => ns.map(matVec(r, _))), m, nCodes, seed)
    val c = fanOut(corpus.select(col(cId).as("n_id"), col(vecCol).as("__cv")))
      .withColumn("__cn", norm(col("__cv")))
      .filter(col("__cn") > 0) // zero-norm rejection, see ivfpqBuild
      .localCheckpoint() // one corpus scan feeds both writes below
    pqEncode(c, books, rot).select(col("n_id"), col("__codes"))
      .write.mode("overwrite").parquet(s"$indexPath/codes")
    c.write.mode("overwrite").parquet(s"$indexPath/vectors")
    books.zipWithIndex.flatMap { case (book, s) =>
      book.zipWithIndex.map { case (cent, j) => (s, j, cent.toSeq) }
    }.toSeq.toDF("sub", "code", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$indexPath/codebooks")
    writeRotation(spark, indexPath, rot)
  }

  /** Search a persisted PQ index: codebooks are O(m·nCodes)
    * driver-side metadata; the ADC pass scans ONLY the codes table
    * (m ints per corpus row — never the vectors); the exact re-rank
    * fetches just the candidate vectors via a broadcast join.
    * Equivalent to the inline `pqTopK` given the same parameters
    * (spec-asserted). */
  def pqSearch(queries: DataFrame, qId: String, vecCol: String,
               indexPath: String, k: Int, rerank: Int = 4,
               allowed: Option[DataFrame] = None): DataFrame = {
    val spark = queries.sparkSession
    recoverIndex(spark, indexPath) // heal a torn compaction swap
    val books = loadCodebooks(spark, indexPath)
    pqScore(dropTombstones(spark, indexPath,
        allowedFilter(StoreFs.read(spark, s"$indexPath/codes"), allowed)),
      StoreFs.read(spark, s"$indexPath/vectors"),
      queries, qId, vecCol, books, k, rerank,
      loadRotation(spark, indexPath))
  }

  /** Persist a composed IVF-PQ index — the production billion-vector
    * serving shape: IVF prunes WHICH codes are scanned (probed-cell
    * partition directories only), PQ shrinks WHAT a scan reads and
    * computes (m small ints + ADC lookups instead of float vectors
    * and dot products). The two existing halves each solve one axis
    * (`ivfBuild` scan pruning, `pqBuild` memory); at 10⁹+ vectors a
    * real ANN serving query needs both in the SAME pass — pure PQ
    * still touches all N codes, pure IVF still reads float vectors.
    *
    * Layout under `indexPath`:
    *  - `centroids/` — the IVF coarse quantizer (cell, centroid,
    *    norm2), driver-readable metadata;
    *  - `codebooks/` — the PQ per-subspace codebooks (sub, code,
    *    centroid), driver-readable metadata;
    *  - `codes/` — `(n_id, __codes)` physically partitioned by
    *    `cell`: the ADC pass reads ONLY probed-cell directories, and
    *    each row is m small ints;
    *  - `vectors/` — `(n_id, __cv, __cn)` for the exact re-rank fetch
    *    (in a deployment this is the corpus table itself).
    *
    * Cells gate only WHICH vectors get ADC-scored, so the composition
    * is exact relative to its parts: with every cell probed, search
    * results equal the pure-PQ path given the same codebooks
    * (spec-asserted). One corpus scan builds everything. */
  def ivfpqBuild(corpus: DataFrame, cId: String, vecCol: String, indexPath: String,
                 nCells: Int = 16, m: Int = 8, nCodes: Int = 16,
                 seed: Long = 42L, residual: Boolean = false,
                 rotate: Boolean = false): Unit = {
    val spark = corpus.sparkSession
    import spark.implicits._
    // Zero-norm vectors are rejected at build (cosine is undefined for
    // them, and a NaN re-rank sim would desc-sort FIRST, poisoning
    // every query's top-k) — the same guard the training samplers and
    // l2normalize apply.
    val c = fanOut(corpus.select(col(cId).as("n_id"), col(vecCol).as("__cv")))
      .withColumn("__cn", norm(col("__cv")))
      .filter(col("__cn") > 0)
      .localCheckpoint() // one corpus scan feeds assignment, codes and vectors
    // rotate = the OPQ-lite option: codebooks train on, and vectors
    // encode in, the Pca.rotationFor basis of the SAME training
    // sample (normalized vectors, or residuals on the residual path).
    // The rotation is orthonormal — (Rq)·(Rv) = q·v exactly — so it
    // changes WHICH codebooks exist, never the ADC semantics; it is
    // stored under indexPath/rotation and auto-applied at search and
    // add, like the residual flag.
    val (cents, books, coded, rot) =
      if (!residual) {
        val cents = trainCentroids(corpus, vecCol, nCells, seed)
        val ns = normalizePoints(sampleVectors(corpus, vecCol, nCodes * 64))
        val rot = if (rotate) Some(Pca.rotationFor(ns, m)) else None
        val books = pqBooksFromPoints(
          rot.fold(ns)(r => ns.map(matVec(r, _))), m, nCodes, seed)
        val assigned = c.withColumn("__scores", cellScores(cents)(col("__cv")))
          .withColumn("cell", expr("array_position(__scores, array_max(__scores))"))
          .drop("__scores")
        (cents, books, pqEncode(assigned, books, rot), rot)
      } else {
        // RESIDUAL encoding (the FAISS-style production default):
        // cells live in L2-normalized space, PQ codebooks quantize
        // v̂ − c_cell instead of v̂. Residual magnitudes shrink with
        // the cell radius, so the same m×nCodes budget spends its
        // resolution on the local neighborhood — tighter ADC scores
        // at identical index size. Search adds the exact q̂·c_cell
        // per probed cell (one scalar per (query, cell) row).
        val cents = trainCentroidsNormalized(corpus, vecCol, nCells, seed)
        val resSample = residualSample(corpus, vecCol, cents, nCodes * 64)
        val rot = if (rotate) Some(Pca.rotationFor(resSample, m)) else None
        val books = pqBooksFromPoints(
          rot.fold(resSample)(r => resSample.map(matVec(r, _))), m, nCodes, seed)
        val centsLit = typedLit(cents.map(_.toSeq).toSeq)
        val assigned = c
          .withColumn("__nv", l2normalize(col("__cv"), col("__cn")))
          .withColumn("__scores", cellScores(cents)(col("__nv")))
          .withColumn("cell", expr("array_position(__scores, array_max(__scores))"))
          .drop("__scores")
          .withColumn("__res", zip_with(col("__nv"),
            element_at(centsLit, col("cell").cast("int")), (a, b) => a - b))
          .withColumn("__res", rot.fold(col("__res"))(r => rotateCol(col("__res"), r)))
        (cents, books, pqEncodeCol(assigned, "__res", books), rot)
      }
    coded.select(col("n_id"), col("__codes"), col("cell"))
      .write.partitionBy("cell").mode("overwrite").parquet(s"$indexPath/codes")
    c.write.mode("overwrite").parquet(s"$indexPath/vectors")
    cents.zipWithIndex
      .map { case (cent, i) => (i.toLong + 1, cent.toSeq, cent.map(x => x * x).sum, residual) }
      .toSeq.toDF("cell", "centroid", "norm2", "residual")
      .coalesce(1).write.mode("overwrite").parquet(s"$indexPath/centroids")
    books.zipWithIndex.flatMap { case (book, s) =>
      book.zipWithIndex.map { case (cent, j) => (s, j, cent.toSeq) }
    }.toSeq.toDF("sub", "code", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$indexPath/codebooks")
    writeRotation(spark, indexPath, rot)
  }

  /** Incrementally ADD vectors to a persisted IVF-PQ index — the
    * daily-crawl loop: new embeddings join the index without
    * retraining (centroids and codebooks are frozen at build time,
    * the standard production posture — quantizer drift is handled by
    * periodic rebuilds, not per-batch retrains). The batch is
    * assigned + encoded with the STORED quantizers and appended to
    * the cell-partitioned codes table and the vectors table; one
    * batch scan, no shuffle, and existing index files are never
    * rewritten. Searches see the union immediately.
    *
    * Replay discipline: pass `batchId` (e.g. the crawl-day name) and
    * a retried or accidentally repeated add becomes a no-op
    * ([[graft.operators.IndexLog]] marker, written after both
    * appends); the only crash window re-appends the same rows, which
    * search tolerates (pqRerank dedupes (q_id, n_id), matching
    * ivfScore). Re-adding a deleted id revives it. Returns true when
    * the batch was appended, false when the marker made it a no-op. */
  def ivfpqAdd(batch: DataFrame, cId: String, vecCol: String,
               indexPath: String, batchId: Option[String] = None): Boolean =
    IndexLog.once(batch.sparkSession, indexPath, IndexLog.AnnAdds, batchId)(
      appendEncoded(batch, cId, vecCol, indexPath))

  /** [[ivfpqAdd]]'s effect: encode with the stored quantizers, append. */
  private def appendEncoded(batch: DataFrame, cId: String, vecCol: String,
                            indexPath: String): Unit = {
    val spark = batch.sparkSession
    recoverIndex(spark, indexPath) // heal a torn compaction swap

    val centRows = loadCentroidRows(spark, indexPath)
    val cents = centRows.map(_.getSeq[Double](1).toArray)
    val residual = centRows.head.schema.fieldNames.contains("residual") &&
      centRows.head.getAs[Boolean]("residual")
    val books = loadCodebooks(spark, indexPath)
    val rot = loadRotation(spark, indexPath) // auto-detected, like residual
    val c = fanOut(batch.select(col(cId).as("n_id"), col(vecCol).as("__cv")))
      .withColumn("__cn", norm(col("__cv")))
      .filter(col("__cn") > 0) // same zero-norm rejection as the build
      .localCheckpoint() // one batch scan feeds both appends
    val coded =
      if (!residual) {
        val assigned = c.withColumn("__scores", cellScores(cents)(col("__cv")))
          .withColumn("cell", expr("array_position(__scores, array_max(__scores))"))
          .drop("__scores")
        pqEncode(assigned, books, rot)
      } else {
        val centsLit = typedLit(cents.map(_.toSeq).toSeq)
        val assigned = c
          .withColumn("__nv", l2normalize(col("__cv"), col("__cn")))
          .withColumn("__scores", cellScores(cents)(col("__nv")))
          .withColumn("cell", expr("array_position(__scores, array_max(__scores))"))
          .drop("__scores")
          .withColumn("__res", zip_with(col("__nv"),
            element_at(centsLit, col("cell").cast("int")), (a, b) => a - b))
          .withColumn("__res", rot.fold(col("__res"))(r => rotateCol(col("__res"), r)))
        pqEncodeCol(assigned, "__res", books)
      }
    coded.select(col("n_id"), col("__codes"), col("cell"))
      .write.partitionBy("cell").mode("append").parquet(s"$indexPath/codes")
    c.write.mode("append").parquet(s"$indexPath/vectors")
    IndexLog.revive(spark, indexPath, c.select(col("n_id")), "n_id")
  }

  /** Compact a persisted ANN index after incremental adds. Every
    * [[ivfpqAdd]] batch appends one file set to `codes/` and
    * `vectors/`, so after months of daily batches a search opens
    * thousands of small parquet files — footer reads and task setup
    * dominate the m-int payload (the same small-file tax
    * `Dedup.compactIndex` fixes for the dedup indexes). Rewrites the
    * DATA-sized tables via the temp-then-swap discipline
    * (StoreFs.rewrite: a crash mid-compact leaves the old or the new
    * table, never neither; readers self-heal a torn swap via
    * `recover`):
    *  - cell-partitioned tables (IVF-PQ `codes/`, IVF `cells/`) are
    *    rewritten hash-partitioned ON the cell, so each cell
    *    directory collapses to ~one file and the partition-pruned
    *    search (s08/s09) reads one file per probed cell;
    *  - flat tables (PQ `codes/`, `vectors/`) repartition to
    *    `nFiles`.
    * Tombstoned ([[annDelete]]) rows are removed physically and the
    * tombstone table cleared ([[graft.operators.IndexLog]]).
    * Quantizers (`centroids/`, `codebooks/`, `rotation/`) and the
    * replay markers are metadata-sized and untouched — a compaction
    * changes file layout only, never a search result (spec-asserted
    * identical before/after). Works on all three persisted layouts
    * (ivf / pq / ivfpq, auto-detected). Returns the indexed row
    * count. */
  def compactIndex(spark: org.apache.spark.sql.SparkSession,
                   indexPath: String, nFiles: Int = 8): Long = {
    require(nFiles > 0, s"nFiles must be positive, got $nFiles")
    annLayout(spark, indexPath)
    val tomb = IndexLog.tombstones(spark, indexPath, "n_id")
      .map(_.distinct().localCheckpoint())
    def rewrite(table: String): Long =
      IndexLog.compactTable(spark, table, nFiles, df =>
        tomb.filter(_ => df.columns.contains("n_id"))
          .fold(df)(t => df.join(t, Seq("n_id"), "left_anti")))
    val nCodes = rewrite(s"$indexPath/codes")   // pq / ivfpq
    val nCells = rewrite(s"$indexPath/cells")   // ivf
    rewrite(s"$indexPath/vectors")              // pq / ivfpq re-rank side
    // all data tables purged → the tombstones have no referent left
    tomb.foreach(_ => IndexLog.purgeTombstones(spark, indexPath))
    math.max(nCodes, nCells)
  }

  /** Search a persisted IVF-PQ index. Centroids and codebooks are
    * O(nCells + m·nCodes) driver metadata. Each query probes its
    * `nprobe` nearest cells; the union of probed cells becomes a
    * STATIC partition filter on the codes table (only those
    * directories are read — spec-asserted on the plan), and the ADC
    * join is an EQUI-join on `cell`, so a query scores exactly its
    * own probed cells' codes, never cells another query probed.
    * Exact-cosine re-rank fetches just the candidate vectors. */
  def ivfpqSearch(queries: DataFrame, qId: String, vecCol: String,
                  indexPath: String, k: Int, nprobe: Int = 4,
                  rerank: Int = 4,
                  allowed: Option[DataFrame] = None): DataFrame = {
    val spark = queries.sparkSession
    recoverIndex(spark, indexPath) // heal a torn compaction swap
    val centRows = loadCentroidRows(spark, indexPath)
    val cents = centRows.map(_.getSeq[Double](1).toArray)
    val residual = centRows.head.schema.fieldNames.contains("residual") &&
      centRows.head.getAs[Boolean]("residual")
    val books = loadCodebooks(spark, indexPath)
    // A residual index lives in L2-normalized space: probe, LUTs and
    // the cell-dot term all use q̂ (re-rank stays on the raw queries —
    // cosine is scale-invariant).
    val qEff =
      if (!residual) queries
      else queries.select(col(qId),
        l2normalize(col(vecCol), norm(col(vecCol))).as(vecCol))
    // per-(query, cell) exact q·c_cell — the first ADC term of the
    // residual decomposition q·v̂ = q·c_cell + q·r; zero when codes
    // quantize v̂ directly.
    val centsLit = typedLit(cents.map(_.toSeq).toSeq)
    val (probed, probeCells) = collectProbed(
      probeQueries(qEff, qId, vecCol, cents, nprobe)
        .withColumn("__celldot",
          if (residual) dot(col("__qv"), element_at(centsLit, col("cell").cast("int")))
          else lit(0.0))
        .select(col("q_id"), col("cell"), col("__celldot")))
    val codes = dropTombstones(spark, indexPath,
      allowedFilter(StoreFs.read(spark, s"$indexPath/codes")
        .filter(col("cell").isin(probeCells.toSeq: _*)), allowed))
    // A rotated (OPQ-lite) index codes Rv̂ (or R·residual): only the
    // LUT side rotates to match — probe, cell-dot and re-rank all
    // stay in the unrotated space ((Rq)·(Rv) = q·v exactly).
    val qLut = loadRotation(spark, indexPath).fold(qEff)(r =>
      qEff.select(col(qId), rotateCol(col(vecCol), r).as(vecCol)))
    // (q_id, cell) pairs carry the query's LUTs into a broadcast
    // cell-equi join: |queries|·nprobe rows, still broadcast-small.
    val probedLuts = probed.join(pqLuts(qLut, qId, vecCol, books), "q_id")
    val approx = codes.join(broadcast(probedLuts), "cell")
      .filter(col("q_id") =!= col("n_id"))
      .select(col("q_id"), col("n_id"),
        (col("__celldot") + adcScore(books.length)).as("__adc"))
    pqRerank(StoreFs.read(spark, s"$indexPath/vectors"),
      queries, qId, vecCol, approx, k, rerank)
  }

  /** The IVF coarse quantizer trained in L2-NORMALIZED space — the
    * residual path's cells must live in the same space PQ encodes
    * (v̂), or residuals would mix scales. Same bounded deterministic
    * sample as [[pqTrain]]. */
  private def trainCentroidsNormalized(corpus: DataFrame, vecCol: String,
                                       nCells: Int, seed: Long): Array[Array[Double]] = {
    val sample = sampleVectors(corpus, vecCol, nCells * 256)
      .map { v =>
        val n = math.sqrt(v.map(x => x * x).sum)
        if (n == 0) v else v.map(_ / n)
      }
    lloyd(sample, nCells, iters = 8, seed)
  }

  /** The residual path's training sample: the deterministic sample is
    * normalized, assigned to its nearest cell (driver-side — the
    * sample is bounded), and v̂ − c_cell is what the per-subspace
    * Lloyd (and the OPQ rotation, when enabled) trains on. */
  private def residualSample(corpus: DataFrame, vecCol: String,
                             cents: Array[Array[Double]],
                             n: Int): Array[Array[Double]] = {
    val sample = sampleVectors(corpus, vecCol, n)
    require(sample.nonEmpty, "PQ training sample is empty")
    val dims = sample.head.length
    sample.map { v =>
      val nn = math.sqrt(v.map(x => x * x).sum)
      val vn = if (nn == 0) v else v.map(_ / nn)
      var best = 0; var bestD = Double.MaxValue
      var ci = 0
      while (ci < cents.length) {
        var d = 0.0; var j = 0
        while (j < dims) { val t = vn(j) - cents(ci)(j); d += t * t; j += 1 }
        if (d < bestD) { bestD = d; best = ci }
        ci += 1
      }
      Array.tabulate(dims)(j => vn(j) - cents(best)(j))
    }
  }

  /** Per-subspace codebooks `[m][nCodes][subDim]`, trained on a
    * bounded driver sample of L2-normalized vectors (same rationale
    * as `trainCentroids` — codebook quality past "balanced" buys no
    * recall that the exact re-rank doesn't already repair). Requires
    * the dimension to split evenly into m subvectors. */
  private def pqTrain(corpus: DataFrame, vecCol: String, m: Int, nCodes: Int,
                      seed: Long): Array[Array[Array[Double]]] =
    pqBooksFromPoints(
      normalizePoints(sampleVectors(corpus, vecCol, nCodes * 64)), m, nCodes, seed)

  /** Per-subspace Lloyd over an in-memory (already normalized /
    * residual / rotated) sample — the codebook trainer every PQ
    * variant bottoms out in. */
  private def pqBooksFromPoints(points: Array[Array[Double]], m: Int,
                                nCodes: Int, seed: Long): Array[Array[Array[Double]]] = {
    require(points.nonEmpty, "PQ training sample is empty")
    val dims = points.head.length
    require(dims % m == 0, s"dims=$dims must split evenly into m=$m subvectors")
    val subDim = dims / m
    Array.tabulate(m) { s =>
      lloyd(points.map(_.slice(s * subDim, (s + 1) * subDim)), nCodes,
        iters = 8, seed)
    }
  }

  private def normalizePoints(sample: Array[Array[Double]]): Array[Array[Double]] =
    sample.map { v =>
      val n = math.sqrt(v.map(x => x * x).sum)
      if (n == 0) v else v.map(_ / n)
    }

  /** R·v for a driver-side rotation matrix (rows of R). */
  private def matVec(rot: Array[Array[Double]], v: Array[Double]): Array[Double] =
    rot.map { r =>
      var s = 0.0; var j = 0
      while (j < v.length) { s += r(j) * v(j); j += 1 }
      s
    }

  /** R·vec as a codegen'd column: d native dot products against
    * broadcast literal rows — the same shape as `cellScores`. */
  private def rotateCol(vec: Column, rot: Array[Array[Double]]): Column =
    array(rot.map(r => dot(vec, typedLit(r))): _*)

  /** The OPQ-lite rotation persisted with a PQ-coded index (absent ↔
    * the index quantizes unrotated vectors — search auto-detects,
    * like the residual flag). An unrotated build deletes any rotation
    * a previous build left at the same path. */
  private def writeRotation(spark: org.apache.spark.sql.SparkSession,
                            indexPath: String, rot: Option[Array[Array[Double]]]): Unit = {
    import spark.implicits._
    val path = s"$indexPath/rotation"
    rot match {
      case None => StoreFs.delete(spark, path)
      case Some(r) => r.zipWithIndex.map { case (row, i) => (i, row.toSeq) }
        .toSeq.toDF("i", "component")
        .coalesce(1).write.mode("overwrite").parquet(path)
    }
  }

  private def loadRotation(spark: org.apache.spark.sql.SparkSession,
                           indexPath: String): Option[Array[Array[Double]]] =
    cachedMeta(spark, s"$indexPath/rotation") {
      if (!StoreFs.exists(spark, s"$indexPath/rotation")) None
      else Some(StoreFs.read(spark, s"$indexPath/rotation")
        .orderBy(col("i")).collect()
        .map(_.getSeq[Double](1).toArray))
    }

  /** Encode corpus rows `(n_id, __cv)` → `(n_id, __codes)`: L2-
    * normalize, then per subspace pick the nearest codebook centroid
    * (argmax of 2·v·c − ‖c‖², as the IVF assignment). Broadcast
    * centroid literals — one scan, no shuffle; this IS the stored
    * index at scale (m bytes + id per vector). */
  private def pqEncode(c: DataFrame, books: Array[Array[Array[Double]]],
                       rot: Option[Array[Array[Double]]] = None): DataFrame = {
    val normed = c.withColumn("__nn", norm(col("__cv")))
      .withColumn("__nv", l2normalize(col("__cv"), col("__nn")))
      .withColumn("__nv", rot.fold(col("__nv"))(r => rotateCol(col("__nv"), r)))
    pqEncodeCol(normed, "__nv", books).drop("__nv", "__nn")
  }

  /** Encode an array<double> column AS-IS (no normalization) to the
    * per-subspace nearest codebook centroids — shared by the plain
    * path (which normalizes first) and the residual path (which
    * passes v̂ − c_cell). */
  private def pqEncodeCol(df: DataFrame, inputCol: String,
                          books: Array[Array[Array[Double]]]): DataFrame = {
    val m = books.length
    val subDim = books(0)(0).length
    // array_position(scores, array_max(scores)) references the scores
    // array twice — alias it per subspace so it computes once.
    val withScores = (0 until m).foldLeft(df) { (acc, s) =>
      val sub = slice(col(inputCol), s * subDim + 1, subDim)
      acc.withColumn(s"__sc$s", array(books(s).map { cent =>
        dot(sub, typedLit(cent)) * 2.0 - lit(cent.map(x => x * x).sum)
      }: _*))
    }
    withScores.withColumn("__codes", array((0 until m).map(s =>
        expr(s"array_position(__sc$s, array_max(__sc$s))").cast("int")): _*))
      .drop((0 until m).map(s => s"__sc$s"): _*)
  }

  /** Per-group vector norm statistics (order-independent agg only:
    * min/max exact, mean via 6-decimal-rounded decimal sum). */
  def normStats(corpus: DataFrame, groupCol: String, vecCol: String): DataFrame =
    fanOut(corpus.select(col(groupCol).as("grp"), col(vecCol).as("__v")))
      .select(col("grp"), norm(col("__v")).as("__n"))
      .groupBy(col("grp"))
      .agg(count(lit(1)).as("n_vecs"),
        min(col("__n")).as("min_norm"),
        max(col("__n")).as("max_norm"),
        (sum(round(col("__n"), 6).cast("decimal(18,6)")).cast("double") / count(lit(1))).as("avg_norm"))
}
